package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Salting

/** Scale-mechanics regression tests: the partitioning/shuffle behaviors the
  * 100 TB design depends on, asserted against real plans on small data.
  */
class ScaleSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"

  test("bucketed tables co-locate the join: no shuffle exchange between scans and join") {
    val orders = Tables.load(spark, dir, "orders")
    val lineitem = Tables.load(spark, dir, "lineitem")
    try {
      orders.write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
        .mode("overwrite").saveAsTable("orders_bucketed")
      lineitem.write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
        .mode("overwrite").saveAsTable("lineitem_bucketed")
      // merge hint: at sf0.001 the planner would broadcast instead (and
      // skip the bucketed scan entirely); at real scale the join IS a
      // sort-merge join, which is what the bucketing must de-shuffle.
      val joined = spark.table("lineitem_bucketed").hint("merge")
        .join(spark.table("orders_bucketed"), col("l_orderkey") === col("o_orderkey"))
        .select("l_orderkey", "o_custkey", "l_quantity")
      val rows = joined.collect()
      assert(rows.length === lineitem.count())
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning"),
        s"bucketed join must not shuffle, plan:\n$plan")
      assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin"),
        s"expected a non-broadcast join over bucketed scans, plan:\n$plan")
      // bucket pruning metadata visible on the scan
      assert(plan.contains("Bucketed: true"), s"scan not bucketed:\n$plan")
    } finally {
      spark.sql("DROP TABLE IF EXISTS orders_bucketed")
      spark.sql("DROP TABLE IF EXISTS lineitem_bucketed")
    }
  }

  test("persisted IVF-PQ index: code-only rows, bucket-served, results match in-memory") {
    import graft.operators.Similarity
    val emb = Tables.load(spark, dir, "embeddings")
    val coarse = Similarity.fitCentroids(emb, nCentroids = 8)
    val books = Similarity.fitPqCodebooks(emb, coarse, nCentroids = 8, iters = 3)
    try {
      Similarity.buildIvfPqIndex(emb, coarse, books, "ivfpq_idx", buckets = 4)
      // the index stores NO vectors — only cell, codes, norm (the memory
      // contract that makes the representation billion-vector-servable)
      val idxCols = spark.table("ivfpq_idx").columns.toSet
      assert(!idxCols.contains("v") && !idxCols.contains("rv"),
        s"index must not store vectors: $idxCols")
      assert(idxCols === (Set("vec_id", "nrm", "cell") ++
        (0 until Similarity.PqM).map(m => s"code$m")))
      // identical results to the in-memory ADC path over the same fits
      val fromIndex = Similarity.ivfPqTopKIndexed(
        spark, "ivfpq_idx", emb.filter(col("vec_id") < 5), coarse, books)
      val inMemory = Similarity.ivfPqTopK(emb, coarse, books)
      assert(fromIndex.collect().toSeq === inMemory.collect().toSeq)
      // served as bucketed: force the non-broadcast join shape and assert
      // the index scan feeds it with no exchange of its own
      val cand = spark.table("ivfpq_idx")
        .select(col("vec_id").as("n_id"), col("cell").as("n_cell"))
      val probes = spark.table("ivfpq_idx").filter(col("vec_id") < 5)
        .select(col("vec_id").as("q_id"), col("cell").as("probe"))
      val joined = probes.hint("merge").join(cand, col("probe") === col("n_cell"))
      joined.collect()
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("Bucketed: true"), s"index scan not bucketed:\n$plan")
      val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
      assert(exchanges <= 1,
        s"index side must not re-shuffle (expected <=1 exchange for the probe side):\n$plan")
    } finally {
      spark.sql("DROP TABLE IF EXISTS ivfpq_idx")
    }
  }

  test("IVF index append: incremental batch equals a from-scratch rebuild and stays bucketed") {
    import graft.operators.Similarity
    import org.apache.spark.sql.functions.col
    val emb = Tables.load(spark, dir, "embeddings")
    val centroids = Similarity.fitCentroids(emb, nCentroids = 8)
    try {
      // day 0: index the first slice; day 1: append the rest
      Similarity.buildIvfIndex(emb.filter(col("vec_id") < 300), centroids,
        "ivf_inc", buckets = 4)
      Similarity.ivfIndexAppend(emb.filter(col("vec_id") >= 300), centroids,
        "ivf_inc", buckets = 4)
      Similarity.buildIvfIndex(emb, centroids, "ivf_full", buckets = 4)
      val inc = Similarity.ivfTopKIndexed(spark, "ivf_inc", centroids)
      val full = Similarity.ivfTopKIndexed(spark, "ivf_full", centroids)
      assert(inc.collect().toSeq === full.collect().toSeq)
      // the appended table still reads as bucketed (no index-side exchange)
      val scanned = spark.table("ivf_inc")
        .select(col("vec_id").as("n_id"), col("cell").as("n_cell"))
      val probes = spark.table("ivf_inc").filter(col("vec_id") < 5)
        .select(col("vec_id").as("q_id"), col("cell").as("probe"))
      val joined = probes.hint("merge").join(scanned, col("probe") === col("n_cell"))
      joined.collect()
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("Bucketed: true"),
        s"appended index scan not bucketed:\n$plan")
    } finally {
      spark.sql("DROP TABLE IF EXISTS ivf_inc")
      spark.sql("DROP TABLE IF EXISTS ivf_full")
    }
  }

  test("persisted IVF index: bucketed layout serves probes without re-shuffling") {
    import graft.operators.Similarity
    val emb = Tables.load(spark, dir, "embeddings")
    val centroids = Similarity.fitCentroids(emb, nCentroids = 8)
    try {
      Similarity.buildIvfIndex(emb, centroids, "ivf_idx", buckets = 4)
      // identical results to the in-memory path over the same centroids
      val fromIndex = Similarity.ivfTopKIndexed(spark, "ivf_idx", centroids)
      val inMemory = Similarity.ivfTopKWith(emb, centroids)
      assert(fromIndex.collect().toSeq === inMemory.collect().toSeq)
      // the margin-adaptive serve off the SAME persisted layout equals
      // the in-memory adaptive answer (kernel path) row-for-row — the
      // probe rule runs on the same centroid-literal scores either way
      val fromIndexAdaptive = Similarity.ivfTopKIndexedAdaptive(
        spark, "ivf_idx", centroids, alpha = 0.6)
      val inMemoryAdaptive = Similarity.ivfTopKAdaptive(emb, centroids, alpha = 0.6)
      assert(fromIndexAdaptive.collect().toSeq === inMemoryAdaptive.collect().toSeq)
      // the r15 kernel spelling of the indexed adaptive serve (whole-cell
      // CellQueryTopK over index-stored cells) is bit-identical to the
      // join spelling — the lowest-latency flat batch serve
      assert(Similarity.ivfTopKIndexedKernelAdaptive(
          spark, "ivf_idx", centroids, alpha = 0.6).collect().toSeq ===
        fromIndexAdaptive.collect().toSeq)
      // and the external-batch adaptive kernel (StreamAnnServe's
      // per-micro-batch shape): at alpha=1 every cell is probed, so the
      // answer must equal the fixed-probe serve with nProbe = all cells
      val qBatch = emb.filter(col("vec_id") < 3)
        .select(col("vec_id").as("q_id"), col("embedding").cast("array<float>").as("qv"))
      val servedAdaptive = Similarity.ivfServeBatchAdaptive(
        qBatch, spark.table("ivf_idx"), centroids, k = 3, alpha = 1.0)
        .collect().toSeq
      val servedAll = Similarity.ivfServeBatch(
        qBatch, spark.table("ivf_idx"), centroids, k = 3, nProbe = centroids.length)
        .collect().toSeq
      assert(servedAdaptive === servedAll)
      assert(servedAdaptive.nonEmpty)
      // the index side is consumed AS BUCKETED: force the non-broadcast
      // join (what a large query batch would get) and assert the index
      // scan feeds the join with no hash exchange of its own — the one
      // exchange in the plan belongs to the exploded probe side
      val idx = spark.table("ivf_idx")
        .select(col("vec_id").as("n_id"), col("v").as("nv"),
          col("nrm").as("nn"), col("cell").as("n_cell"))
      val probes = spark.table("ivf_idx").filter(col("vec_id") < 5)
        .select(col("vec_id").as("q_id"), col("cell").as("probe"))
      val joined = probes.hint("merge")
        .join(idx, col("probe") === col("n_cell"))
      joined.collect()
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("Bucketed: true"), s"index scan not bucketed:\n$plan")
      val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
      assert(exchanges <= 1,
        s"index side must not re-shuffle (expected <=1 exchange for the probe side):\n$plan")
    } finally {
      spark.sql("DROP TABLE IF EXISTS ivf_idx")
    }
  }

  test("index health report: clean build stays green, degraded append flips rebuild_recommended") {
    import graft.operators.Similarity
    val emb = Tables.load(spark, dir, "embeddings")
    val cents = Similarity.fitCentroids(emb)
    try {
      Seq("ivfh_idx", "ivfh_idx_stats").foreach(t => Tables.dropManagedTable(spark, t))
      Similarity.buildIvfIndex(emb, cents, "ivfh_idx")
      Similarity.persistIndexStats(emb, cents, "ivfh_idx_stats")
      // freshly built, nothing appended: every drift column must be
      // exactly zero (current stats ARE the build stats) and the
      // recommendation false — a healthy index must not cry rebuild
      val clean = Similarity.indexHealthReport(
        spark, "ivfh_idx", cents, "ivfh_idx_stats").collect().head
      assert(clean.getAs[Double]("growth_frac") === 0.0)
      assert(clean.getAs[Double]("cohesion_drop") === 0.0)
      assert(clean.getAs[Double]("margin_decay_frac") === 0.0)
      assert(!clean.getAs[Boolean]("rebuild_recommended"))
      // append a deliberately-degraded batch (far-distribution shift):
      // the report must FLIP — that is the lifecycle decision the
      // thresholds exist for (verdict r14 item 5)
      val far = emb.withColumn("vec_id", col("vec_id") + 1000000L)
        .withColumn("embedding",
          expr("transform(cast(embedding as array<double>), x -> x + 2.0D)"))
      Similarity.ivfIndexAppend(far, cents, "ivfh_idx")
      val degraded = Similarity.indexHealthReport(
        spark, "ivfh_idx", cents, "ivfh_idx_stats").collect().head
      assert(degraded.getAs[Long]("n_members") === 2 * clean.getAs[Long]("n_members"))
      assert(degraded.getAs[Double]("cohesion_drop") > 0.0)
      assert(degraded.getAs[Boolean]("rebuild_recommended"),
        s"degraded index must recommend rebuild: $degraded")
    } finally {
      Seq("ivfh_idx", "ivfh_idx_stats").foreach(t =>
        spark.sql(s"DROP TABLE IF EXISTS $t"))
    }
  }

  test("PCA-bucketed IVF index: projected cells, bucket-served, indexed == in-memory") {
    import graft.operators.Similarity
    val emb = Tables.load(spark, dir, "embeddings")
    val (mu, _, comps) = Similarity.pcaModel(emb, k = 8)
    val cents = Similarity.fitCentroidsPca(emb, mu, comps, nCentroids = 8)
    try {
      // projected-space centroids live in k dims, not d
      assert(cents.forall(_.length === comps.length))
      Similarity.buildPcaIvfIndex(emb, mu, comps, cents, "pcaivf_idx", buckets = 4)
      // the index carries the original vector (exact refine), its norm,
      // the k-dim projection (cheap candidate metric), and the cell
      assert(spark.table("pcaivf_idx").columns.toSet ===
        Set("vec_id", "v", "nrm", "p", "cell"))
      // indexed serve == in-memory twin over the same fit/centroids
      val fromIndex = Similarity.pcaIvfTopKIndexed(spark, "pcaivf_idx", cents)
      val inMemory = Similarity.pcaIvfTopK(emb, mu, comps, cents)
      val got = fromIndex.collect().toSeq
      assert(got === inMemory.collect().toSeq)
      assert(got.nonEmpty)
      // the SHIPPED kernel path (per-cell top-m by projected L2² with
      // in-kernel exact refine) is bit-identical to the join spelling,
      // indexed and in-memory — wider overFetch exercises the per-cell
      // superset-of-global-top-m argument too
      assert(Similarity.pcaIvfTopKIndexedKernel(spark, "pcaivf_idx", cents)
        .collect().toSeq === got)
      assert(Similarity.pcaIvfTopKKernel(emb, mu, comps, cents)
        .collect().toSeq === got)
      assert(Similarity.pcaIvfTopKIndexedKernel(spark, "pcaivf_idx", cents,
          nProbe = 3, overFetch = 6).collect().toSeq ===
        Similarity.pcaIvfTopKIndexed(spark, "pcaivf_idx", cents,
          nProbe = 3, overFetch = 6).collect().toSeq)
      // margin-adaptive probing on the PCA index (verdict r14 item 3):
      // kernel == join spelling == in-memory twin at the shipped alpha,
      // and widening alpha can only widen probe sets — at alpha=1 every
      // cell is probed, so the result must equal exhaustive in-cell
      // search with the same over-fetch/refine contract
      val adOnIdx = Similarity.pcaIvfTopKIndexedKernelAdaptive(
        spark, "pcaivf_idx", cents, alpha = 0.6).collect().toSeq
      assert(adOnIdx === Similarity.pcaIvfTopKIndexedAdaptive(
        spark, "pcaivf_idx", cents, alpha = 0.6).collect().toSeq)
      assert(adOnIdx === Similarity.pcaIvfTopKKernelAdaptive(
        emb, mu, comps, cents, alpha = 0.6).collect().toSeq)
      assert(adOnIdx.nonEmpty)
      // every emitted cosine is the EXACT cosine: wherever (q, n) also
      // appears in brute-force top-k, the rounded cosines agree
      val brute = Similarity.bruteForceTopK(emb)
        .collect().map(r => (r.getLong(0), r.getLong(2)) -> r.getDouble(3)).toMap
      for (r <- got; exact <- brute.get((r.getLong(0), r.getLong(2))))
        assert(r.getDouble(3) === exact)
      // the index side is consumed AS BUCKETED: no exchange of its own
      val idx = spark.table("pcaivf_idx")
        .select(col("vec_id").as("n_id"), col("p").as("cp"), col("cell").as("n_cell"))
      val probes = spark.table("pcaivf_idx").filter(col("vec_id") < 5)
        .select(col("vec_id").as("q_id"), col("cell").as("probe"))
      val joined = probes.hint("merge").join(idx, col("probe") === col("n_cell"))
      joined.collect()
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("Bucketed: true"), s"index scan not bucketed:\n$plan")
      val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
      assert(exchanges <= 1,
        s"index side must not re-shuffle (expected <=1 exchange for the probe side):\n$plan")
    } finally {
      spark.sql("DROP TABLE IF EXISTS pcaivf_idx")
    }
  }

  test("persisted set-sim index: bucketed postings/sets serve without index-side exchange") {
    import graft.operators.Dedup
    val docs = Tables.load(spark, dir, "documents")
    try {
      Seq("_postings", "_df", "_sets", "_meta")
        .foreach(x => Tables.dropManagedTable(spark, "sstest" + x))
      Dedup.buildSetSimIndex(docs.filter(col("doc_id") % 2 === 0), "sstest",
        threshold = 0.5, buckets = 4)
      // end-to-end serve stays correct off the persisted layout
      val served = Dedup.setSimilarityLookupIndexed(
        docs.filter(col("doc_id") % 2 === 1), "sstest", threshold = 0.5)
      assert(served.count() >= 0)
      // candidate-join shape: batch prefixes probe the postings on `s`.
      // Force the non-broadcast join (a 100 TB corpus side cannot be
      // broadcast) and assert the postings scan feeds it with no hash
      // exchange of its own — the one exchange belongs to the probe side.
      val post = spark.table("sstest_postings")
      val probes = post.filter(col("doc_id") % 7 === 0)
        .select(col("s").as("qs"), col("doc_id").as("q_id"))
      val cand = probes.hint("merge").join(post, col("qs") === col("s"))
      cand.collect()
      val candPlan = cand.queryExecution.executedPlan.toString
      assert(candPlan.contains("Bucketed: true"), s"postings scan not bucketed:\n$candPlan")
      assert("Exchange hashpartitioning".r.findAllIn(candPlan).size <= 1,
        s"postings side must not re-shuffle:\n$candPlan")
      // verify-join shape: candidates probe the sets on doc_id
      val sets = spark.table("sstest_sets")
      val ids = sets.filter(col("doc_id") % 7 === 0).select(col("doc_id").as("cid"))
      val ver = ids.hint("merge").join(sets, col("cid") === col("doc_id"))
      ver.collect()
      val verPlan = ver.queryExecution.executedPlan.toString
      assert(verPlan.contains("Bucketed: true"), s"sets scan not bucketed:\n$verPlan")
      assert("Exchange hashpartitioning".r.findAllIn(verPlan).size <= 1,
        s"sets side must not re-shuffle:\n$verPlan")
    } finally Seq("_postings", "_df", "_sets", "_meta")
      .foreach(x => Tables.dropManagedTable(spark, "sstest" + x))
  }

  test("persisted minhash band index: bucketed bands serve with no index-side exchange") {
    import graft.operators.Dedup
    val docs = Tables.load(spark, dir, "documents")
    try {
      Tables.dropManagedTable(spark, "mhtest_bands")
      Dedup.buildMinhashIndex(docs.filter(col("doc_id") % 2 === 0), "mhtest",
        buckets = 4)
      val served = Dedup.minhashLookupIndexed(
        docs.filter(col("doc_id") % 2 === 1), "mhtest")
      assert(served.count() >= 0)
      val bands = spark.table("mhtest_bands")
      val probes = bands.filter(col("doc_id") % 7 === 0)
        .select(col("band_hash").as("qh"), col("doc_id").as("q_id"))
      val j = probes.hint("merge").join(bands, col("qh") === col("band_hash"))
      j.collect()
      val plan = j.queryExecution.executedPlan.toString
      assert(plan.contains("Bucketed: true"), s"bands scan not bucketed:\n$plan")
      assert("Exchange hashpartitioning".r.findAllIn(plan).size <= 1,
        s"bands side must not re-shuffle:\n$plan")
    } finally Tables.dropManagedTable(spark, "mhtest_bands")
  }

  test("persisted bm25 index: bucketed postings/lens serve with no index-side exchange") {
    import graft.functions.TextAnalysis
    val docs = Tables.load(spark, dir, "documents")
    val sfx = Seq("_postings", "_df", "_lens", "_stats")
    try {
      sfx.foreach(x => Tables.dropManagedTable(spark, "bmtest" + x))
      TextAnalysis.buildBm25Index(docs, "bmtest", buckets = 4)
      val served = TextAnalysis.searchBm25Indexed(spark, "bmtest",
        Seq("spark", "hash", "merge"))
      served.collect()
      // AQE's plan string carries BOTH the final and the initial plan;
      // assert on the final one only
      val full = served.queryExecution.executedPlan.toString
      val plan = full.split("== Initial Plan ==").head
      // postings and lens both read their bucketed layouts
      // (SelectedBucketsCount shows the query-term posting buckets
      // pruned); the one legal hash exchange is the per-doc score
      // aggregation — the corpus-sized index tables must not re-shuffle
      assert(plan.contains("Bucketed: true"), s"index scans not bucketed:\n$plan")
      assert(plan.contains("SelectedBucketsCount"),
        s"posting buckets not pruned by the term filter:\n$plan")
      assert("Exchange hashpartitioning".r.findAllIn(plan).size <= 1,
        s"index side must not re-shuffle:\n$plan")
    } finally sfx.foreach(x => Tables.dropManagedTable(spark, "bmtest" + x))
  }

  test("AQE splits a skewed join partition at runtime") {
    // The no-code skew path that complements Salting: AQE reads real
    // shuffle sizes and splits an oversized partition into parallel
    // subtasks (skew=true on the join). Thresholds are lowered so the
    // kB-scale test shuffle qualifies; broadcast disabled to force the
    // sort-merge join the optimization targets.
    val conf = spark.conf
    val keys = Seq(
      "spark.sql.adaptive.enabled",
      "spark.sql.adaptive.skewJoin.enabled",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.adaptive.coalescePartitions.enabled",
      "spark.sql.autoBroadcastJoinThreshold")
    val saved = keys.map(k => k -> conf.getOption(k)).toMap
    try {
      conf.set("spark.sql.adaptive.enabled", "true")
      conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "16KB")
      conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8KB")
      conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      // one pathologically hot key + a uniform tail
      val fact = spark.range(60000)
        .select(when(col("id") < 50000, lit(7L)).otherwise(col("id") % 100).as("k"),
          col("id").as("payload"))
      val dim = spark.range(100).select(col("id").as("k2"), (col("id") * 10).as("attr"))
      val joined = fact.join(dim, col("k") === col("k2"))
      val n = joined.count()
      assert(n === 60000L)
      val df2 = fact.join(dim, col("k") === col("k2")).select("payload", "attr")
      df2.collect()
      val finalPlan = df2.queryExecution.executedPlan.toString
      assert(finalPlan.contains("skew=true"),
        s"AQE did not mark the skewed join:\n$finalPlan")
    } finally {
      saved.foreach { case (k, v) =>
        v.fold(conf.unset(k))(conf.set(k, _)) }
    }
  }

  test("broadcasts disabled: TPC-H joins degrade to shuffled equi-joins, results identical") {
    // At 100 TB the "dims" outgrow broadcast. Flipping the
    // spark.graft.broadcastDimHints seam + autoBroadcastJoinThreshold=-1
    // must degrade every gated join through size-based planning to
    // SMJ/SHJ — NEVER a BroadcastNestedLoopJoin (all joins are equi-joins,
    // so a nested loop would mean a dropped join condition) — with
    // fingerprint-identical results.
    val conf = spark.conf
    val keys = Seq("spark.graft.broadcastDimHints",
      "spark.sql.autoBroadcastJoinThreshold")
    val saved = keys.map(k => k -> conf.getOption(k)).toMap
    val queries = Seq("q3_shipping_priority", "q5_region_revenue",
      "q9_product_profit")
    val baseline = queries.map(q =>
      q -> SparkEntry.queries(q)(spark, dir).collect().toSeq).toMap
    try {
      conf.set("spark.graft.broadcastDimHints", "false")
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      for (q <- queries) {
        val df = SparkEntry.queries(q)(spark, dir)
        val rows = df.collect().toSeq
        assert(rows === baseline(q), s"$q result changed without broadcasts")
        val plan = df.queryExecution.executedPlan.toString
        assert(!plan.contains("BroadcastNestedLoopJoin"),
          s"$q degraded to a nested-loop join:\n$plan")
        assert(!plan.contains("BroadcastHashJoin"),
          s"$q still broadcasts with hints off and threshold -1:\n$plan")
        assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin"),
          s"$q lost its shuffled join:\n$plan")
      }
    } finally saved.foreach { case (k, v) => v.fold(conf.unset(k))(conf.set(k, _)) }
  }

  test("pure-SQL surface: temp views + spark.sql reproduce the DataFrame results") {
    Tables.registerAll(spark, dir)
    // relational: TPC-H Q6 spelled as SQL text over the registered views
    val viaSql = spark.sql(
      """SELECT CAST(SUM(CAST(l_extendedprice * l_discount AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
        |  AND l_discount BETWEEN 0.03 AND 0.07 AND l_quantity < 24""".stripMargin)
      .as[Double].head()
    val viaDf = graft.queries.Relational.q6RevenueFilter(spark, dir)
      .as[Double].head()
    assert(viaSql === viaDf)
    // text surface: the native tokenizer through its SQL registration
    val sqlCounts = spark.sql(
      """SELECT word, COUNT(*) AS cnt
        |FROM (SELECT explode(graft_tokens(text)) AS word FROM documents)
        |GROUP BY word ORDER BY word""".stripMargin)
      .as[(String, Long)].collect().toSeq
    val dfCounts = graft.core.WordCount.wordCount(
      Tables.load(spark, dir, "documents"), "text").orderBy("word")
      .as[(String, Long)].collect().toSeq
    assert(sqlCounts === dfCounts)
  }

  test("rank-filter top-k per group runs through WindowGroupLimit pushdown") {
    // Spark 4 rewrites row_number()<=k filters into a partial+final
    // WindowGroupLimit: each map task keeps only its local top-k per key
    // BEFORE the shuffle — the difference between shipping 3 rows per
    // nation and shipping every supplier at 100 TB. Asserting it guards
    // against a query spelling that silently defeats the rewrite.
    val plan = graft.queries.Relational.qTopSuppliersPerNation(spark, dir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"),
      s"rank filter not pushed into WindowGroupLimit:\n$plan")
    assert("WindowGroupLimit".r.findAllIn(plan).size >= 2,
      s"expected partial+final WindowGroupLimit pair:\n$plan")
  }

  test("runtime bloom filter prunes the fact side of a selective dim join") {
    // The 100 TB pattern for selective joins Catalyst can inject with ZERO
    // operator code: a bloom filter built from the filtered (small) join
    // side is pushed into the big side's scan as a might_contain predicate,
    // so fact rows that cannot match die before the shuffle instead of
    // crossing the wire to be dropped by the join. Thresholds are lowered
    // so the kB-scale test tables qualify; broadcast is disabled because
    // the rewrite targets shuffle joins (a broadcast join already skips
    // the fact-side shuffle).
    val conf = spark.conf
    val saved = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.enabled",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
      "spark.sql.optimizer.runtimeFilter.number.threshold",
      "spark.sql.autoBroadcastJoinThreshold")
      .map(k => k -> conf.getOption(k)).toMap
    try {
      conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      conf.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val lineitem = Tables.load(spark, dir, "lineitem")
      val bigOrders = Tables.load(spark, dir, "orders")
        .filter(col("o_totalprice") > 400000.0)
      val joined = lineitem.join(bigOrders, col("l_orderkey") === col("o_orderkey"))
        .select("l_orderkey", "l_quantity", "o_totalprice")
      val optimized = joined.queryExecution.optimizedPlan.toString
      assert(optimized.contains("might_contain"),
        s"runtime bloom filter not injected:\n$optimized")
      val bloomed = joined.collect().toSet
      // the filter is an overapproximation: results must equal the plain join
      conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "false")
      val plain = lineitem.join(bigOrders, col("l_orderkey") === col("o_orderkey"))
        .select("l_orderkey", "l_quantity", "o_totalprice")
        .collect().toSet
      assert(bloomed === plain)
      assert(bloomed.nonEmpty)
    } finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }

  test("incremental-dedup bloom probe is the codegen might_contain expression, not a UDF") {
    // r13: the ingest prefilter's bitset is built by Catalyst's own
    // bloom_filter_agg and probed with might_contain over xxhash64 — the
    // probe must live in codegen (no ScalaUDF/BatchEval anywhere in the
    // physical plan) and the build must be a plan-side scalar subquery,
    // not a driver-side stat.bloomFilter job.
    val docs = Tables.load(spark, dir, "documents")
    val kept = graft.operators.Dedup.dropIncrementalDuplicatesBloom(
      docs.limit(40), docs)
    val plan = kept.queryExecution.executedPlan.toString
    assert(plan.contains("might_contain"),
      s"bloom probe expression missing from plan:\n$plan")
    assert(plan.contains("bloom_filter_agg"),
      s"bloom build aggregate missing from plan:\n$plan")
    assert(!plan.contains("UDF") && !plan.contains("BatchEval"),
      s"bloom probe fell back to a UDF:\n$plan")
  }

  test("partitioned parquet sink prunes partitions on read") {
    val out = java.nio.file.Files.createTempDirectory("graft-part").resolve("docs").toString
    Tables.load(spark, dir, "documents")
      .write.partitionBy("lang").parquet(out)
    val pruned = spark.read.parquet(out).filter(col("lang") === "en")
    val plan = pruned.queryExecution.executedPlan.toString
    // the lang filter must land in PartitionFilters (pruned at file listing),
    // not as a post-scan Filter over all partitions
    assert(plan.contains("PartitionFilters: [isnotnull(lang"),
      s"partition filter not pushed:\n$plan")
    val expected = Tables.load(spark, dir, "documents")
      .filter(col("lang") === "en").count()
    assert(pruned.count() === expected)
  }

  test("q6 predicates reach the parquet scan as pushed filters") {
    val plan = graft.queries.Relational.q6RevenueFilter(spark, dir)
      .queryExecution.executedPlan.toString
    // the FileScan string truncates the list; the leading entries suffice
    assert(plan.contains("PushedFilters: [IsNotNull(l_shipdate), IsNotNull(l_discount)"),
      s"filters not pushed to the scan:\n$plan")
  }

  test("rollup/cube expand only pre-aggregated rows, never the fact scan") {
    // grouping-set lattices lower through Expand, which replicates its
    // input once per grouping set; the base-aggregate-first spelling must
    // keep the fact-table scan BELOW an aggregate that Expand consumes,
    // so the replication factor applies to a dozen rows, not the corpus
    for (q <- Seq(graft.queries.Relational.qRollupReturns _,
                  graft.queries.Relational.qCubeReturns _)) {
      // the tree prints children below their parent, so "a HashAggregate
      // after the Expand line" == "Expand consumes an aggregate, not the
      // scan" (the direct-lattice plan puts Expand lowest, directly on
      // the scan); plan.collect can't see through the AQE wrapper here
      val plan = q(spark, dir).queryExecution.executedPlan.toString
      val at = plan.indexOf("Expand")
      assert(at >= 0, s"expected an Expand in:\n$plan")
      assert(plan.substring(at).contains("HashAggregate"),
        s"Expand consumes the raw scan (lattice over fact rows):\n$plan")
    }
  }

  test("GraftExtensions registers the native functions for pure-SQL sessions") {
    import org.apache.spark.sql.SparkSession
    val base = spark // force TestSpark init first
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      // programmatic route: spark.sql.extensions is a STATIC conf, read
      // from the SparkContext at its creation — on a shared test context
      // only withExtensions applies (prod clusters set the conf at submit)
      val s2 = SparkSession.builder().master("local[2]")
        .withExtensions(new graft.GraftExtensions())
        .getOrCreate()
      val row = s2.sql(
        """SELECT graft_poly_hash('hello world') AS h,
          |       graft_vector_dot(array(1D, 2D), array(3D, 4D)) AS d,
          |       size(graft_tokens('  a b  c ')) AS n""".stripMargin).collect().head
      assert(row.getLong(0) === 1835087470L)
      assert(row.getDouble(1) === 11.0)
      assert(row.getInt(2) === 3)
    } finally {
      SparkSession.setDefaultSession(base)
      SparkSession.setActiveSession(base)
    }
  }

  test("tuning heuristics size shuffles by data volume with a core floor") {
    import graft.Tuning
    // small shuffle: floor at total cores so no slot idles
    assert(Tuning.shufflePartitions(1L << 30, totalCores = 256) === 256)
    // 1 TB shuffle: sized by the 128 MB target, not the core count
    assert(Tuning.shufflePartitions(1L << 40, totalCores = 256) === 8192)
    val before = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      Tuning.configure(spark, expectedShuffleBytes = 1L << 40)
      assert(spark.conf.get("spark.sql.shuffle.partitions").toInt >= 8192)
      assert(spark.conf.get("spark.sql.files.maxPartitionBytes").toLong ===
        Tuning.TargetPartitionBytes)
    } finally spark.conf.set("spark.sql.shuffle.partitions", before)
  }

  test("input-volume tuning reads the dataset dir and floors at core count") {
    import graft.Tuning
    // the sf0.001 dir is small: the width must floor at defaultParallelism,
    // never below it, and the scan split target must be applied
    assert(Tuning.dirBytes(dir) > 0L)
    val before = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      Tuning.configureForInput(spark, dir)
      assert(spark.conf.get("spark.sql.shuffle.partitions").toInt ===
        spark.sparkContext.defaultParallelism)
      // a synthetic 1 TB dir estimate must scale the width up
      Tuning.configure(spark, (1L << 40))
      assert(spark.conf.get("spark.sql.shuffle.partitions").toInt === 8192)
    } finally spark.conf.set("spark.sql.shuffle.partitions", before)
  }

  test("salted join returns exactly the plain join's result") {
    val customer = Tables.load(spark, dir, "customer")
    val nation = Tables.load(spark, dir, "nation")
      .withColumnRenamed("n_nationkey", "c_nationkey")
    val plain = customer.join(nation, Seq("c_nationkey"))
      .groupBy("n_name").count().as[(String, Long)].collect().toMap
    val salted = Salting.saltedEquiJoin(customer, nation, "c_nationkey", factor = 8)
      .groupBy("n_name").count().as[(String, Long)].collect().toMap
    assert(salted === plain)
    assert(salted.values.sum === customer.count())
  }

  test("salted join spreads a pathologically hot key across salt partitions") {
    // one key carries 10k rows; factor 8 must split it into >1 task group
    val hot = spark.range(10000).select(lit(7L).as("k"), col("id"))
    val dim = Seq((7L, "seven")).toDF("k", "v")
    val out = Salting.saltedEquiJoin(hot, dim, "k", factor = 8)
    assert(out.count() === 10000L)
    // the salt column spread rows across all 8 sub-keys before the join
    val saltSpread = hot
      .withColumn("__salt", Salting.saltCol("k", 8))
      .groupBy("__salt").count().collect()
    assert(saltSpread.length === 8)
  }

  test("salt spread is layout-independent: strided row ids still hit all salts") {
    // Keeping every 8th row gives ids with stride 8 — the layout that
    // collapses an id-modulo salt to ONE value per partition. The hashed
    // salt must still reach all 8 values, reasonably balanced.
    val strided = spark.range(80000).filter(col("id") % 8 === 0)
      .select(lit(7L).as("k"), col("id"))
    val counts = strided
      .withColumn("__salt", Salting.saltCol("k", 8))
      .groupBy("__salt").count().as[(Int, Long)].collect().toMap
    assert(counts.keySet === (0 until 8).toSet)
    assert(counts.values.min > 500, s"unbalanced salt spread: $counts")
    // and the join result over that layout still matches the plain join
    val dim = Seq((7L, "seven")).toDF("k", "v")
    assert(Salting.saltedEquiJoin(strided, dim, "k", factor = 8).count() === 10000L)
  }

  test("collected-model LM/TF-IDF scoring passes are shuffle-free scans") {
    // The r11 fast paths' whole claim is that scoring costs ONE corpus
    // scan: after the vocabulary-bounded model is collected, the scoring
    // plan must contain no hash exchange — only the output-edge range
    // partitioning for the orderBy. (The model-building aggregations run
    // at CONSTRUCTION time, before these plans exist.)
    val docs = graft.Tables.load(spark, "/root/testdata/sf0.001", "documents")
    val plans = Seq(
      "lm_kn" -> graft.functions.TextAnalysis.lmScoreKneserNey(docs),
      "lm_bigram" -> graft.functions.TextAnalysis.lmScoreBigram(docs),
      "lm_score" -> graft.functions.TextAnalysis.lmScore(docs),
      "tfidf" -> graft.functions.TextAnalysis.tfIdf(docs))
    for ((name, df) <- plans) {
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning"),
        s"$name scoring pass should be shuffle-free:\n$plan")
      assert(plan.contains("Exchange rangepartitioning"),
        s"$name should still range-partition at the output edge")
    }
  }

  test("DSIR collected-model scoring pass is a shuffle-free scan") {
    // Same claim as the LM fast paths, held from birth: once the
    // construction-bounded bucket model is collected, scoring the corpus
    // through DsirFold must plan as ONE scan — no hash exchange, only
    // the output-edge range partitioning. (Model fitting runs at
    // construction time, before this plan exists.)
    val docs = graft.Tables.load(spark, "/root/testdata/sf0.001", "documents")
    val target = docs.filter(col("lang") === "en")
    val plan = graft.operators.Curation.dsirWeights(target, docs)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning"),
      s"DSIR scoring pass should be shuffle-free:\n$plan")
    assert(plan.contains("Exchange rangepartitioning"),
      "DSIR should still range-partition at the output edge")
    assert(plan.contains("dsirfold") || plan.contains("DsirFold"),
      "scoring must run through the native fold kernel")
  }

  test("PCA projection and ngram-model scoring are shuffle-free scans") {
    // r13 collected-model family: once the fit (moment pass / GD) is
    // done, serving must cost ONE scan — no hash exchange, only the
    // output-edge range partitioning for the orderBy.
    val docs = graft.Tables.load(spark, "/root/testdata/sf0.001", "documents")
    val emb = graft.Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    val (mu, _, comps) = graft.operators.Similarity.pcaModel(emb, k = 4)
    val w = graft.operators.QualityModel.trainHistoryNgram(docs, iters = 1).last._3
    val plans = Seq(
      "emb_pca" -> graft.operators.Similarity.pcaProject(emb, mu, comps),
      "quality_scores_ngram" -> graft.operators.QualityModel.scoreWithNgram(docs, w))
    for ((name, df) <- plans) {
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning"),
        s"$name serving pass should be shuffle-free:\n$plan")
      assert(plan.contains("Exchange rangepartitioning"),
        s"$name should still range-partition at the output edge")
    }
  }

  test("ppl tiers broadcast the threshold table; epoch shuffle windows by shard, never globally") {
    val docs = graft.Tables.load(spark, "/root/testdata/sf0.001", "documents")
    // tier assignment must join the |langs|-row threshold frame as a
    // broadcast (per-row compare on the scoring scan), not shuffle the
    // corpus against it
    val tiersPlan = graft.operators.Curation.pplTiers(docs)
      .queryExecution.executedPlan.toString
    assert(tiersPlan.contains("BroadcastHashJoin") || tiersPlan.contains("BroadcastExchange"),
      s"pplTiers thresholds should broadcast:\n$tiersPlan")
    // the epoch permutation's only hash exchange is BY SHARD — the
    // within-shard row_number parallelizes across shards; a global-sort
    // spelling would funnel the corpus through one ordering
    val shufPlan = graft.operators.Curation.epochShuffle(docs)
      .queryExecution.executedPlan.toString
    assert(shufPlan.contains("hashpartitioning(shard"),
      s"epochShuffle's window must partition by shard:\n$shufPlan")
    assert(shufPlan.contains("Window"), "epochShuffle assigns positions via a window")
  }

  test("whole-cell kernels refuse over-occupied cells loudly; cellsFor keeps real layouts far under the bound") {
    import graft.functions.CellPairs
    import graft.operators.Similarity
    // the guard itself: loud IllegalArgumentException, not an OOM later
    CellPairs.checkOccupancy(5, cap = 10)
    val e = intercept[IllegalArgumentException] {
      CellPairs.checkOccupancy(11, cap = 10)
    }
    assert(e.getMessage.contains("cellsFor"))
    // production bound sanity: the cellsFor sizing rule targets ~sqrt(n)
    // occupancy and switches two-level at its 4096-cell cap (occupancy
    // ~4k at the 16M switch point), so the 262144 gate is ~64x headroom
    assert(CellPairs.MaxCellMembers === 262144)
    // and a REAL fitted layout at this scale stays far under the gate:
    // the kernels' memory story is mechanical, not narrative
    val emb = Tables.load(spark, dir, "embeddings")
    val n = emb.count()
    val cents = Similarity.fitCentroids(emb, Similarity.cellsFor(n))
    val occ = Similarity.cellOccupancy(emb, cents)
      .agg(org.apache.spark.sql.functions.max("n_members")).head().getLong(0)
    assert(occ * 16 <= CellPairs.MaxCellMembers,
      s"max fitted-cell occupancy $occ is within 16x of the kernel bound — " +
        "the cellsFor sizing no longer leaves headroom")
  }
}
