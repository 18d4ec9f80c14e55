package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.DecimalType

import graft.Tables

/** Relational query pack over the driver star schema (SURVEY §7 step 3).
  *
  * Oracle-parity rules used throughout (the driver hash-compares our parquet
  * output against DuckDB running SparkEntry.oracleSql):
  *  - Every floating-point aggregate goes through an exact DECIMAL sum.
  *    Double summation is order-dependent and Spark's partial-aggregate merge
  *    order is not deterministic across runs, so raw double sums can differ
  *    between runs AND between engines. Decimal sums are exact and
  *    order-independent; both engines then agree bit-for-bit.
  *  - Averages are computed as cast(exact_sum AS DOUBLE) / count — a single
  *    deterministic IEEE division, identical in both engines.
  *  - Every query ends in a total ordering (explicit tie-breaks) so row
  *    order cannot differ.
  */
object Relational {

  /** Dimension-side broadcast hint, gated by `spark.graft.broadcastDimHints`
    * (default true). At the tested scales the dims fit comfortably in the
    * driver, and hinting them skips a shuffle per join — but at 100 TB a
    * "dimension" like part or customer outgrows broadcast, so deployments
    * flip the conf and the SAME plans degrade through size-based planning
    * to shuffled joins (SMJ/SHJ — never a nested-loop: every join here is
    * an equi-join). The 1-row scalar broadcasts (avg-balance, threshold
    * cutoffs) are NOT gated: a single row is broadcastable at any scale.
    * ScaleSpec asserts both the degraded plan shape and result equality.
    */
  private def bdim(df: DataFrame): DataFrame =
    if (df.sparkSession.conf.getOption("spark.graft.broadcastDimHints")
        .forall(_.toBoolean)) broadcast(df)
    else df

  private def dec2(c: Column): Column = c.cast(DecimalType(18, 2))
  private def dec4(c: Column): Column = c.cast(DecimalType(18, 4))
  // Exact decimal sum, surfaced as DOUBLE: the decimal accumulation is
  // order-independent (so the value is stable across engines and runs) and
  // the final decimal->double conversion is correctly rounded in both Spark
  // and DuckDB. Plain double output avoids decimal-type comparison hazards.
  private def sum2(c: Column): Column = sum(dec2(c)).cast("double")
  private def sum4(c: Column): Column = sum(dec4(c)).cast("double")
  private def avgOf(sumCol: Column, cnt: Column): Column =
    sumCol.cast("double") / cnt

  /** TPC-H Q1-shaped pricing summary: scan -> filter -> partial/final agg.
    * Exercises S1/P5/A1/A2 at relational scale; the filter + column pruning
    * reach the parquet scan (PushedFilters/ReadSchema).
    */
  def q1PricingSummary(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.load(spark, dir, "lineitem")
    li.filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        sum(dec2(col("l_quantity"))).as("dsum_qty"),
        sum(dec2(col("l_extendedprice"))).as("dsum_base_price"),
        sum4(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("sum_disc_price"),
        count(lit(1)).as("count_order"))
      .withColumn("sum_qty", col("dsum_qty").cast("double"))
      .withColumn("sum_base_price", col("dsum_base_price").cast("double"))
      .withColumn("avg_qty", avgOf(col("sum_qty"), col("count_order")))
      .withColumn("avg_price", avgOf(col("sum_base_price"), col("count_order")))
      .select("l_returnflag", "l_linestatus", "sum_qty", "sum_base_price",
        "sum_disc_price", "avg_qty", "avg_price", "count_order")
      .orderBy("l_returnflag", "l_linestatus")
  }

  /** TPC-H Q6-shaped forecast revenue: pure scan + pushed filters + single
    * global aggregate — no shuffle of any width beyond the 1-row final agg.
    */
  def q6RevenueFilter(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.load(spark, dir, "lineitem")
    li.filter(
        col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") <  lit("1997-01-01").cast("timestamp") &&
        col("l_discount").between(0.03, 0.07) &&
        col("l_quantity") < 24)
      .agg(sum4(col("l_extendedprice") * col("l_discount")).as("revenue"))
  }

  /** TPC-H Q3-shaped shipping priority: 3-way join + grouped agg + top-k.
    * customer and orders filters push to their scans; Catalyst broadcasts
    * the filtered customer side.
    */
  def q3ShippingPriority(spark: SparkSession, dir: String): DataFrame = {
    val cust = Tables.load(spark, dir, "customer")
      .filter(col("c_mktsegment") === "BUILDING")
    val ord = Tables.load(spark, dir, "orders")
      .filter(col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
    val li = Tables.load(spark, dir, "lineitem")
      .filter(col("l_shipdate") > lit("1998-01-01").cast("timestamp"))
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(bdim(cust), col("o_custkey") === col("c_custkey"))
      .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
      .agg(sum4(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"))
      .orderBy(col("revenue").desc, col("l_orderkey"))
      .limit(10)
      .select(col("l_orderkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("o_orderdate"),
        col("o_orderpriority"), col("revenue"))
  }

  /** TPC-H Q5-shaped regional revenue: 4-way star join (lineitem ->
    * supplier -> nation -> region), dims broadcast, grouped by nation.
    */
  def q5RegionRevenue(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.load(spark, dir, "lineitem")
    val sup = Tables.load(spark, dir, "supplier")
    val nat = Tables.load(spark, dir, "nation")
    val reg = Tables.load(spark, dir, "region").filter(col("r_name") === "ASIA")
    li.join(bdim(sup), col("l_suppkey") === col("s_suppkey"))
      .join(bdim(nat), col("s_nationkey") === col("n_nationkey"))
      .join(bdim(reg), col("n_regionkey") === col("r_regionkey"))
      .groupBy("n_name")
      .agg(sum4(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"),
           count(lit(1)).as("n_items"))
      .orderBy(col("revenue").desc, col("n_name"))
  }

  /** Broadcast-join brand rollup: fact x small dim, explicitly broadcast. */
  def qBrandVolume(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.load(spark, dir, "lineitem")
    val part = Tables.load(spark, dir, "part")
    li.join(bdim(part), col("l_partkey") === col("p_partkey"))
      .groupBy("p_brand")
      .agg(sum2(col("l_quantity")).as("sum_qty"),
           sum2(col("l_extendedprice")).as("sum_price"),
           count(lit(1)).as("n_items"))
      .orderBy("p_brand")
  }

  /** Global top-k by sort+limit (Spark plans TakeOrderedAndProject — no full
    * sort materialization at scale).
    */
  def qTopOrders(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "orders")
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(20)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("o_orderdate"))

  /** Ranking window function: top-3 suppliers by balance per nation.
    * row_number over a total order (acctbal desc, suppkey) — ties impossible.
    */
  def qTopSuppliersPerNation(spark: SparkSession, dir: String): DataFrame = {
    val sup = Tables.load(spark, dir, "supplier")
    val w = Window.partitionBy(col("s_nationkey"))
      .orderBy(col("s_acctbal").desc, col("s_suppkey"))
    sup.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 3)
      .select(col("s_nationkey"), col("rnk"), col("s_suppkey"), col("s_name"),
        col("s_acctbal"))
      .orderBy("s_nationkey", "rnk")
  }

  /** Analytic window function: running order total per customer over time.
    * Decimal running sum keeps both engines exact at every prefix.
    */
  def qRunningTotal(spark: SparkSession, dir: String): DataFrame = {
    val ord = Tables.load(spark, dir, "orders")
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ord.withColumn("running_total",
        sum(dec2(col("o_totalprice"))).over(w).cast("double"))
      .select(col("o_custkey"), col("o_orderkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("o_orderdate"),
        col("running_total"))
      .orderBy("o_custkey", "o_orderkey")
  }

  /** Anti join: customers with no recent order (SURVEY §2.4 joins note). */
  def qCustomersNoOrders(spark: SparkSession, dir: String): DataFrame = {
    val cust = Tables.load(spark, dir, "customer")
    val ord = Tables.load(spark, dir, "orders")
      .filter(col("o_orderdate") >= lit("2000-01-01").cast("timestamp"))
    cust.join(ord, col("c_custkey") === col("o_custkey"), "left_anti")
      .select("c_custkey", "c_name", "c_mktsegment")
      .orderBy("c_custkey")
  }

  /** Semi join: customers with at least one high-value order. */
  def qBigSpenders(spark: SparkSession, dir: String): DataFrame = {
    val cust = Tables.load(spark, dir, "customer")
    val big = Tables.load(spark, dir, "orders")
      .filter(col("o_totalprice") > 400000.0)
    cust.join(big, col("c_custkey") === col("o_custkey"), "left_semi")
      .select("c_custkey", "c_name")
      .orderBy("c_custkey")
  }

  /** Distinct aggregation: distinct customers + order count per priority. */
  def qPriorityCustomers(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "orders")
      .groupBy("o_orderpriority")
      .agg(countDistinct(col("o_custkey")).as("n_customers"),
           count(lit(1)).as("n_orders"),
           sum2(col("o_totalprice")).as("sum_price"))
      .select("o_orderpriority", "n_customers", "n_orders", "sum_price")
      .orderBy("o_orderpriority")

  /** ROLLUP grouping sets; subtotal NULLs coalesced to 'ALL' so the output
    * (and its ordering) is null-free and engine-agnostic.
    *
    * Spark lowers grouping-set lattices through Expand, which replicates
    * every INPUT row once per grouping set before the partial aggregate —
    * 3× the fact-table rows for a 2-column rollup. The base group-by is
    * tiny (|flag|×|status|), so aggregate once at full granularity and
    * roll the lattice up from the pre-aggregated rows instead: the scan's
    * rows pass the hash aggregate once, and Expand runs over ≤ a dozen
    * rows. Decimal partials re-aggregate exactly (sum of sums), so the
    * final doubles are bit-identical to the single-pass spelling — the
    * SQL-parity spec runs the direct ROLLUP SQL through Spark and
    * asserts frame equality, and ScaleSpec asserts Expand sits above
    * the base aggregate in the executed plan.
    */
  def qRollupReturns(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "lineitem")
      .groupBy("l_returnflag", "l_linestatus")
      .agg(count(lit(1)).as("n_items_p"),
           sum(dec2(col("l_quantity"))).as("sum_qty_p"))
      .rollup("l_returnflag", "l_linestatus")
      .agg(sum(col("n_items_p")).as("n_items"),
           sum(col("sum_qty_p")).cast("double").as("sum_qty"))
      .select(
        coalesce(col("l_returnflag"), lit("ALL")).as("returnflag"),
        coalesce(col("l_linestatus"), lit("ALL")).as("linestatus"),
        col("n_items"), col("sum_qty"))
      .orderBy("returnflag", "linestatus")

  /** TPC-H Q10 shape: revenue lost to returned items per customer, top 20.
    * The returnflag filter reaches the lineitem scan; customer/nation are
    * the broadcast side; TakeOrderedAndProject caps the result.
    */
  def q10ReturnedItems(spark: SparkSession, dir: String): DataFrame = {
    val lineitem = Tables.load(spark, dir, "lineitem")
      .filter(col("l_returnflag") === "R")
    val orders = Tables.load(spark, dir, "orders")
    val customer = Tables.load(spark, dir, "customer")
    val nation = Tables.load(spark, dir, "nation")
    // Aggregate BEFORE the joins (r16, guide §2.3 "aggregate before you
    // shuffle"): per-order decimal partials collapse the R-lineitem
    // stream ~4:1 before it meets orders (at 100 TB that join is the
    // shuffle; here it is the broadcast probe count), the per-customer
    // regroup happens before customer/nation attach, and the two dim
    // joins then run on the ≤|customers| aggregated frame instead of
    // every returned lineitem. Decimal partial sums re-aggregate
    // exactly and the double cast happens once at the end, so revenue
    // is bit-identical to the flat spelling; c_name/n_name are keyed
    // 1:1 by the join keys, so attaching them after the regroup yields
    // the same groups the original grouped on.
    val perOrder = lineitem.groupBy("l_orderkey")
      .agg(sum(dec4(col("l_extendedprice") * (lit(1) - col("l_discount"))))
        .as("rev"), count(lit(1)).as("n"))
    perOrder
      .join(orders, col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_custkey")
      .agg(sum(col("rev")).as("rev"), sum(col("n")).as("n"))
      .join(bdim(customer), col("o_custkey") === col("c_custkey"))
      .join(bdim(nation), col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"), col("c_name"), col("n_name"),
        col("rev").cast("double").as("revenue"), col("n").as("n_items"))
      .orderBy(col("revenue").desc, col("c_custkey"))
      .limit(20)
  }

  /** TPC-H Q14 shape: share of revenue from promo parts in one month.
    * Two conditional exact-decimal sums over one scan; part is broadcast.
    */
  def q14PromoRevenue(spark: SparkSession, dir: String): DataFrame = {
    val lineitem = Tables.load(spark, dir, "lineitem")
      .filter(col("l_shipdate") >= "1996-01-01" && col("l_shipdate") < "1996-04-01")
    val part = Tables.load(spark, dir, "part")
    lineitem
      .join(bdim(part), col("l_partkey") === col("p_partkey"))
      .agg(
        sum4(when(col("p_type").startsWith("PROMO"),
          col("l_extendedprice") * (lit(1) - col("l_discount"))).otherwise(lit(0.0)))
          .as("promo_revenue"),
        sum4(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("total_revenue"))
      .withColumn("promo_share",
        round(col("promo_revenue") / col("total_revenue"), 6))
  }

  /** Exact percentiles of order value per priority class: p50/p90/p99 via
    * linear interpolation (Spark `percentile` == DuckDB `quantile_cont`
    * semantics; rounded to 4 decimals for cross-engine hash stability).
    *
    * NOT the `percentile` aggregate: Spark's exact Percentile is a
    * TypedImperativeAggregate whose state is a boxed value->count map of
    * every distinct value in the group — over a continuous double column
    * the state is the group itself, and at 100x sf0.1 (15M orders, 5
    * groups) the map build + state serialization + single-threaded
    * per-group final sort ran 81 s (SCALE_CURVE r100=93, on a 5-row
    * answer). This spelling computes the same order statistics by range
    * partitioning: count per group, range-repartition by (group, value)
    * with a within-partition sort, per-partition group counts -> global
    * rank offsets, then a P-way-parallel extraction of ONLY the <=
    * 2*|ps|*|groups| rank-straddling rows. Driver traffic is bounded by
    * the group-key cardinality (o_orderpriority is a 5-value enum) times
    * the partition count, never by data volume; no task ever holds more
    * than its partition slice. 81 s -> ~4 s at 100x.
    *
    * Job-count economy (the sf0.1 cost is fixed overhead, not data): the
    * per-(partition, group) counts are computed in the SAME action that
    * materializes the range-partitioned cache, and the global group counts
    * are their driver-side sums — so the pipeline is exactly (1) the range
    * partitioner's sample pass, (2) one shuffle+sort+cache pass emitting
    * the tiny count table, (3) the extraction, which runs only on the
    * partitions that actually contain a needed rank
    * (PartitionPruningRDD — at high partition counts almost all cached
    * partitions are skipped without scheduling a task).
    *
    * Bit-parity contract (oracle-critical): interpolation reproduces
    * Percentile.getPercentile exactly — position = p * (n-1),
    * value = (hi - pos) * v_lo + (pos - lo) * v_hi in that evaluation
    * order — and the final `round(_, 4)` is the same Spark HALF_UP
    * function applied in the old aggregate spelling, which
    * RelationalSpec's differential pins against the `percentile`
    * built-in.
    */
  def qOrderPercentiles(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.storage.StorageLevel
    val ps = Seq(0.5, 0.9, 0.99)
    val o = Tables.load(spark, dir, "orders")
      .select(col("o_orderpriority").as("g"), col("o_totalprice").as("v"))
    val nPart = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val ranged = o.repartitionByRange(nPart, col("g"), col("v"))
      .sortWithinPartitions("g", "v")
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val rangedRdd = ranged.rdd
      // ONE action both materializes the cache and emits the tiny
      // per-(partition, group) count table (nPart x |enum| rows)
      val partCounts: Map[(Int, String), Long] = rangedRdd
        .mapPartitionsWithIndex { (pid, it) =>
          val m = scala.collection.mutable.LinkedHashMap.empty[String, Long]
          it.foreach { r => val g = r.getString(0); m.update(g, m.getOrElse(g, 0L) + 1L) }
          m.iterator.map { case (g, c) => ((pid, g), c) }
        }.collect().toMap
      // global group counts are driver-side sums of the partition counts
      val counts: Map[String, Long] =
        partCounts.groupMapReduce(_._1._2)(_._2)(_ + _)
      // 0-indexed ranks whose values the interpolation needs, per group
      val needed: Map[String, Set[Long]] = counts.map { case (g, n) =>
        g -> ps.flatMap { p =>
          val pos = p * (n - 1)
          Seq(math.floor(pos).toLong, math.ceil(pos).toLong)
        }.toSet
      }
      // rank offset of each partition's first row of each group
      val offsets: Map[(Int, String), Long] = partCounts.map { case ((pid, g), _) =>
        (pid, g) -> partCounts.collect {
          case ((p2, g2), c) if g2 == g && p2 < pid => c
        }.sum
      }
      // only partitions whose [offset, offset+count) spans a needed rank
      // get a task; the rest of the cache is never touched
      val neededPids: Set[Int] = partCounts.collect {
        case ((pid, g), c) if needed(g).exists { rk =>
          val off = offsets((pid, g)); rk >= off && rk < off + c
        } => pid
      }.toSet
      val sc = spark.sparkContext
      val neededB = sc.broadcast(needed)
      val offsetsB = sc.broadcast(offsets)
      // parallel scan of ONLY the rank-bearing sorted partitions; emits
      // only the rank-straddling rows (<= 2*|ps| per group overall)
      val extract = rangedRdd.mapPartitionsWithIndex { (pid, it) =>
        var curG: String = null
        var local = 0L
        it.flatMap { r =>
          val g = r.getString(0)
          if (g != curG) { curG = g; local = 0L }
          val rank = offsetsB.value.getOrElse((pid, g), 0L) + local
          local += 1
          if (neededB.value.getOrElse(g, Set.empty).contains(rank))
            Iterator.single(((g, rank), r.getDouble(1)))
          else Iterator.empty
        }
      }
      val picked: Map[(String, Long), Double] =
        org.apache.spark.rdd.PartitionPruningRDD.create(extract, neededPids.contains)
          .collect().toMap
      // Percentile.getPercentile's exact arithmetic, per group x p
      val rows = counts.keys.toSeq.sorted.map { g =>
        val n = counts(g)
        val Seq(p50, p90, p99) = ps.map { p =>
          val pos = p * (n - 1)
          val lo = math.floor(pos).toLong
          val hi = math.ceil(pos).toLong
          if (hi == lo) picked((g, lo))
          else (hi - pos) * picked((g, lo)) + (pos - lo) * picked((g, hi))
        }
        (g, p50, p90, p99, n)
      }
      import spark.implicits._
      rows.toDF("o_orderpriority", "p50", "p90", "p99", "n_orders")
        .select(col("o_orderpriority"),
          round(col("p50"), 4).as("p50"),
          round(col("p90"), 4).as("p90"),
          round(col("p99"), 4).as("p99"),
          col("n_orders"))
        .orderBy("o_orderpriority")
    } finally ranged.unpersist(blocking = false)
  }

  /** TPC-H Q7-shaped volume shipping: the same dimension (nation) joined
    * TWICE under different roles — supplier nation and customer nation —
    * the aliased-dimension shape the rest of the pack lacks. Both nation
    * sides broadcast; cross-nation flows only (ordered pairs, so each
    * flow appears once per direction); one grouped aggregate by
    * (supp_nation, cust_nation, year).
    */
  def q7NationVolume(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.load(spark, dir, "lineitem")
    val sup = Tables.load(spark, dir, "supplier")
    val ord = Tables.load(spark, dir, "orders")
    val cust = Tables.load(spark, dir, "customer")
    // Aggregate by the integer NATION KEYS, map keys -> names after (r16,
    // guide §1.2 first-principles / §3): each (s_nationkey, c_nationkey)
    // determines exactly one name pair, so both nation joins and the
    // name-inequality filter move OFF the per-row fact spine (5 broadcast
    // probes per lineitem row -> 3) onto the ≤ |nations|² × years
    // aggregated frame — where the mapping is a literal CASE expression
    // over the driver-collected 25-row nation table rather than two more
    // broadcast builds (each build is a separate job; JobProfile showed
    // q7's sf0.1 cost is job-count-bound). Key-grained groups partition
    // rows exactly as the name-grained groups did — enforced by the loud
    // uniqueness require below, the repo's usual refuse-don't-corrupt
    // discipline — so each group's single-level decimal sum and count,
    // and hence the double surface, are bit-identical to the flat
    // spelling the oracle mirrors. An earlier two-level regroup spelling
    // measured SLOWER than flat at sf0.1 (extra exchange + agg:
    // 1.34 s vs 1.09 s, Q7Ab); this one drops per-row probe work
    // without adding any exchange.
    val natRows = Tables.load(spark, dir, "nation")
      .select(col("n_nationkey"), col("n_name")).collect()
    require(natRows.map(_.getString(1)).distinct.length == natRows.length,
      "q7NationVolume key-grained aggregation requires distinct nation " +
        "names; duplicate n_name would merge groups the flat spelling keeps")
    def nameOf(key: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      natRows.foldLeft(lit(null).cast("string")) { (acc, r) =>
        when(key === lit(r.get(0)), lit(r.getString(1))).otherwise(acc)
      }
    li
      .join(sup, col("l_suppkey") === col("s_suppkey"))
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .groupBy(col("s_nationkey"), col("c_nationkey"),
        year(col("l_shipdate")).as("l_year"))
      .agg(sum4(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
        .as("revenue"), count(lit(1)).as("n_items"))
      .withColumn("supp_nation", nameOf(col("s_nationkey")))
      .withColumn("cust_nation", nameOf(col("c_nationkey")))
      .filter(col("supp_nation") < col("cust_nation"))
      .select("supp_nation", "cust_nation", "l_year", "revenue", "n_items")
      .orderBy("supp_nation", "cust_nation", "l_year")
  }

  /** TPC-H Q18-shaped large-volume orders: the qualifying set is derived
    * from an AGGREGATE over the fact table itself (orders whose total
    * lineitem quantity clears a threshold), then semi-joined back — the
    * agg-derived-filter shape. The aggregate runs once; Catalyst plans
    * the IN as a left-semi join on l_orderkey, reusing the fact scan's
    * partitioning.
    */
  def q18LargeOrders(spark: SparkSession, dir: String,
      minQty: Double = 250.0): DataFrame = {
    val li = Tables.load(spark, dir, "lineitem")
    val ord = Tables.load(spark, dir, "orders")
    val cust = Tables.load(spark, dir, "customer")
    // One lineitem pass (r10): the per-order quantity total computed for
    // the HAVING filter IS the output's sum_qty — the classic spelling's
    // semi-join + re-aggregation re-scanned and re-shuffled the fact
    // table to recompute a value already in hand (grouping keys beyond
    // o_orderkey are functionally dependent on the order, so the regroup
    // was a per-order identity). Halves fact-table work (9.95 -> 6.06 s
    // at 100x); decimal accumulation and the double surface are
    // unchanged (same dec2 sum, same cast), so the result is
    // bit-identical to the oracle.
    val bigOrders = li.groupBy("l_orderkey")
      .agg(sum(dec2(col("l_quantity"))).as("qsum"))
      .filter(col("qsum") > minQty)
    bigOrders
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .select(col("c_name"), col("c_custkey"), col("o_orderkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("o_orderdate"),
        col("o_totalprice"),
        col("qsum").cast("double").as("sum_qty"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(20)
  }

  /** Sketch twin of `qOrderPercentiles`: approx_percentile's mergeable
    * fixed-size summaries are the 100 TB swap for the exact sort-based
    * percentile (same pattern as the HLL twin of daily actives). No SQL
    * oracle — sketch internals differ across engines; the error bound is
    * asserted against the exact twin in RelationalSpec.
    */
  def qOrderPercentilesApprox(spark: SparkSession, dir: String): DataFrame =
    // ONE sketch per group serving all three percentiles (the array form),
    // not three independently-built summaries: every input row then feeds
    // a single GK buffer. The 10x scaling curve caught the three-sketch
    // spelling at 25x growth (worse than the exact sort!) — the sketch's
    // value at scale only materializes if the insert path is shared.
    Tables.load(spark, dir, "orders")
      .groupBy("o_orderpriority")
      .agg(
        expr("approx_percentile(o_totalprice, array(0.5D, 0.9D, 0.99D), 1000)").as("ps"),
        count(lit(1)).as("n_orders"))
      .select(col("o_orderpriority"),
        round(element_at(col("ps"), 1), 4).as("p50_approx"),
        round(element_at(col("ps"), 2), 4).as("p90_approx"),
        round(element_at(col("ps"), 3), 4).as("p99_approx"),
        col("n_orders"))
      .orderBy("o_orderpriority")

  /** Full grouping-sets lattice (CUBE): every (returnflag x linestatus)
    * combination incl. both partial totals. Same base-aggregate-first
    * lowering as `qRollupReturns` — the 4-set Expand would replicate
    * every fact row four times before the partial aggregate; expanding
    * the ≤ dozen pre-aggregated rows costs nothing and the decimal
    * partials re-aggregate exactly.
    */
  def qCubeReturns(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "lineitem")
      .groupBy("l_returnflag", "l_linestatus")
      .agg(count(lit(1)).as("n_items_p"),
           sum(dec2(col("l_quantity"))).as("sum_qty_p"))
      .cube("l_returnflag", "l_linestatus")
      .agg(sum(col("n_items_p")).as("n_items"),
           sum(col("sum_qty_p")).cast("double").as("sum_qty"))
      .select(
        coalesce(col("l_returnflag"), lit("ALL")).as("returnflag"),
        coalesce(col("l_linestatus"), lit("ALL")).as("linestatus"),
        col("n_items"), col("sum_qty"))
      .orderBy("returnflag", "linestatus")

  /** Arbitrary GROUPING SETS — the asymmetric lattice neither ROLLUP nor
    * CUBE yields: the (returnflag x linestatus) cells, the linestatus
    * margins, and the grand total, via Spark 4's native
    * `Dataset.groupingSets`. Same base-aggregate-first lowering as the
    * rollup/cube pair: the 3-set Expand replicates the <= dozen
    * pre-aggregated partial rows, never fact rows, and the decimal
    * partials re-aggregate exactly.
    */
  def qGroupingSetsReturns(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "lineitem")
      .groupBy("l_returnflag", "l_linestatus")
      .agg(count(lit(1)).as("n_items_p"),
           sum(dec2(col("l_quantity"))).as("sum_qty_p"))
      .groupingSets(
        Seq(Seq(col("l_returnflag"), col("l_linestatus")),
            Seq(col("l_linestatus")),
            Seq.empty),
        col("l_returnflag"), col("l_linestatus"))
      .agg(sum(col("n_items_p")).as("n_items"),
           sum(col("sum_qty_p")).cast("double").as("sum_qty"))
      .select(
        coalesce(col("l_returnflag"), lit("ALL")).as("returnflag"),
        coalesce(col("l_linestatus"), lit("ALL")).as("linestatus"),
        col("n_items"), col("sum_qty"))
      .orderBy("returnflag", "linestatus")

  /** PIVOT: per-year order counts spread across the five priority classes
    * as columns — the wide-format report shape. Spark's pivot with an
    * EXPLICIT value list compiles to ONE pass of conditional aggregates
    * (no distinct-values pre-scan, no extra shuffle — the plan is a
    * single partial/final HashAggregate pair on o_year); absent
    * (year, priority) cells surface as null counts and are coalesced to
    * zero so the frame is dense. Row count is bounded by distinct years,
    * so the result never grows with fact volume.
    */
  def qPivotPriority(spark: SparkSession, dir: String): DataFrame = {
    val priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
    val names = Seq("urgent", "high", "medium", "not_specified", "low")
    val pivoted = Tables.load(spark, dir, "orders")
      .select(year(col("o_orderdate")).as("o_year"), col("o_orderpriority"))
      .groupBy("o_year")
      .pivot("o_orderpriority", priorities)
      .agg(count(lit(1)))
    val dense = priorities.zip(names).foldLeft(pivoted) { case (df, (v, n)) =>
      df.withColumn(n, coalesce(df(v), lit(0L)))
    }
    dense
      .select((col("o_year") +: names.map(col)) :+
        names.map(col).reduce(_ + _).as("n_orders"): _*)
      .orderBy("o_year")
  }

  /** Set operation: nations present among BOTH customers and suppliers. */
  def qNationsBothSides(spark: SparkSession, dir: String): DataFrame = {
    val cn = Tables.load(spark, dir, "customer").select(col("c_nationkey").as("nationkey"))
    val sn = Tables.load(spark, dir, "supplier").select(col("s_nationkey").as("nationkey"))
    cn.intersect(sn).orderBy("nationkey")
  }

  /** TPC-H Q4 shape (order priority checking, adapted to this schema's
    * columns): orders from one half-year with at least one lineitem shipped
    * more than 60 days after the order date — a correlated EXISTS whose
    * predicate mixes the equi key with an INEQUALITY on columns from both
    * sides. Catalyst plans it as a left-semi join with the non-equi
    * conjunct evaluated inside the join, so the fact table is never
    * widened; the orders date filter pushes to its scan.
    */
  def q4LateOrders(spark: SparkSession, dir: String): DataFrame = {
    val ord = Tables.load(spark, dir, "orders")
      .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
              col("o_orderdate") <  lit("1996-07-01").cast("timestamp"))
    val li = Tables.load(spark, dir, "lineitem")
    ord.join(li,
        col("o_orderkey") === col("l_orderkey") &&
        col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAYS"),
        "left_semi")
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_orders"))
      .orderBy("o_orderpriority")
  }

  /** TPC-H Q13 shape (customer order-count distribution): LEFT OUTER join
    * so zero-order customers survive with count 0, then a second
    * aggregation over the first's result — the double-aggregation
    * histogram shape. The orders-side predicate lives in the join (it must
    * not drop customers), and count(o_orderkey) counts matches only.
    */
  def q13CustomerDistribution(spark: SparkSession, dir: String): DataFrame = {
    val cust = Tables.load(spark, dir, "customer")
    val ord = Tables.load(spark, dir, "orders")
      .filter(col("o_orderpriority") =!= "1-URGENT")
    cust.join(ord, col("c_custkey") === col("o_custkey"), "left_outer")
      .groupBy("c_custkey")
      .agg(count(col("o_orderkey")).as("c_count"))
      .groupBy("c_count")
      .agg(count(lit(1)).as("custdist"))
      .orderBy(col("custdist").desc, col("c_count").desc)
  }

  /** TPC-H Q15 shape (top supplier): quarterly revenue per supplier, keep
    * the supplier(s) matching the GLOBAL max — a scalar-aggregate-derived
    * filter. The max is a 1-row broadcast joined on exact DECIMAL equality
    * (a double-equality join would be engine-dependent); supplier is the
    * broadcast dim for the name lookup.
    */
  def q15TopSupplier(spark: SparkSession, dir: String): DataFrame = {
    val rev = Tables.load(spark, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
              col("l_shipdate") <  lit("1996-04-01").cast("timestamp"))
      .groupBy("l_suppkey")
      .agg(sum(dec4(col("l_extendedprice") * (lit(1.0) - col("l_discount")))).as("rev"))
    val top = rev.agg(max(col("rev")).as("max_rev"))
    val sup = Tables.load(spark, dir, "supplier")
    rev.join(bdim(top), col("rev") === col("max_rev"))
      .join(bdim(sup), col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"),
        col("rev").cast("double").as("total_revenue"))
      .orderBy("s_suppkey")
  }

  /** TPC-H Q17 shape (small-quantity-order revenue): lineitems of one
    * brand whose quantity is below 20% of that PART's average quantity —
    * the correlated scalar subquery, decorrelated as a window average on
    * the already-joined scan (one shuffle on l_partkey, no second
    * lineitem scan; same window-over-the-scan shape that won in
    * `Curation.curate`). The average is the exact-decimal-sum/count form
    * so the 0.2*avg threshold is bit-identical across engines.
    */
  def q17SmallQuantity(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.load(spark, dir, "lineitem")
    val part = Tables.load(spark, dir, "part").filter(col("p_brand") === "Brand#13")
    val w = Window.partitionBy("l_partkey")
    li.join(bdim(part), col("l_partkey") === col("p_partkey"))
      .withColumn("avg_qty",
        sum(dec2(col("l_quantity"))).over(w).cast("double") /
          count(lit(1)).over(w))
      .filter(col("l_quantity") < lit(0.2) * col("avg_qty"))
      .agg(sum2(col("l_extendedprice")).as("esum"), count(lit(1)).as("n_items"))
      .select(round(col("esum") / 7.0, 4).as("avg_yearly"), col("n_items"))
  }

  /** TPC-H Q19 shape (discounted revenue, disjunctive predicates): an OR
    * of three brand/size/quantity conjunctions spanning BOTH join sides.
    * Catalyst extracts the common l_quantity bounds and the per-side
    * constraints as pushable filters beneath the join, then evaluates the
    * full disjunction as the join's residual condition — the shape that
    * breaks engines which only push conjunctions.
    */
  def q19Disjunctive(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.load(spark, dir, "lineitem")
    val part = Tables.load(spark, dir, "part")
    val cond =
      (col("p_brand") === "Brand#12" && col("p_size").between(1, 5) &&
        col("l_quantity").between(1, 11)) ||
      (col("p_brand") === "Brand#23" && col("p_size").between(1, 10) &&
        col("l_quantity").between(10, 20)) ||
      (col("p_brand") === "Brand#4" && col("p_size").between(1, 15) &&
        col("l_quantity").between(20, 30))
    li.join(bdim(part), col("l_partkey") === col("p_partkey") && cond)
      .agg(sum4(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"),
        count(lit(1)).as("n_items"))
  }

  /** TPC-H Q2 shape (minimum-cost supplier): for each part, keep only the
    * supplier rows achieving the per-part MINIMUM price within a region —
    * the correlated-min scalar subquery. This schema has no partsupp
    * table, so the supply relation is the DISTINCT (part, supplier,
    * price) set observed in lineitem. The min is computed ONCE as a
    * grouped aggregate and joined back on (partkey, price) — price
    * equality is safe because both sides carry the identical stored
    * double, never a recomputed one. The supply relation feeds both the
    * aggregate and the join-back, so Catalyst reuses one exchange; part
    * filters push to the part scan.
    */
  def q2MinCostSupplier(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.load(spark, dir, "lineitem")
    val sup = Tables.load(spark, dir, "supplier")
    val nat = Tables.load(spark, dir, "nation")
    val reg = Tables.load(spark, dir, "region").filter(col("r_name") === "EUROPE")
    val part = Tables.load(spark, dir, "part")
      .filter(col("p_type") === "LARGE" && col("p_size") <= 15)
    val supply = li
      .join(bdim(sup), col("l_suppkey") === col("s_suppkey"))
      .join(bdim(nat), col("s_nationkey") === col("n_nationkey"))
      .join(bdim(reg), col("n_regionkey") === col("r_regionkey"))
      .select("l_partkey", "l_suppkey", "l_extendedprice")
      .distinct()
    // Per-part minimum as a WINDOW over the deduplicated supply rows, not
    // a grouped aggregate self-joined back (r15, guide §2.4): the join
    // spelling re-executed the whole lineitem⋈supplier⋈nation⋈region
    // subtree to build its other side. The window rides one hash exchange
    // on l_partkey and keeps exactly the same rows — every (part,
    // supplier) row whose price equals the part minimum, ties included.
    supply
      .withColumn("mn", min(col("l_extendedprice"))
        .over(Window.partitionBy(col("l_partkey"))))
      .filter(col("l_extendedprice") === col("mn"))
      .join(bdim(part), col("l_partkey") === col("p_partkey"))
      .join(bdim(sup), col("l_suppkey") === col("s_suppkey"))
      .join(bdim(nat), col("s_nationkey") === col("n_nationkey"))
      .select(col("s_acctbal"), col("s_name"), col("n_name"), col("p_partkey"),
        col("p_name"), col("l_extendedprice").as("min_price"))
      .orderBy(col("s_acctbal").desc, col("n_name"), col("s_name"), col("p_partkey"))
  }

  /** TPC-H Q9 shape (product-type profit): the multi-fact measure — an
    * arithmetic combination of columns from TWO tables (lineitem revenue
    * minus a part-based cost; partsupp's supplycost stands in as a
    * retailprice fraction), grouped by supplier nation and year. The
    * part-name filter prunes the broadcast side before the join.
    */
  def q9ProductProfit(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.load(spark, dir, "lineitem")
    val part = Tables.load(spark, dir, "part")
      .filter(col("p_name").contains("widget"))
    val sup = Tables.load(spark, dir, "supplier")
    val nat = Tables.load(spark, dir, "nation")
    li.join(bdim(part), col("l_partkey") === col("p_partkey"))
      .join(bdim(sup), col("l_suppkey") === col("s_suppkey"))
      .join(bdim(nat), col("s_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name").as("nation"),
        year(col("l_shipdate")).cast("int").as("o_year"))
      .agg(sum4(col("l_extendedprice") * (lit(1.0) - col("l_discount")) -
          lit(0.5) * col("p_retailprice") * col("l_quantity")).as("sum_profit"),
        count(lit(1)).as("n_items"))
      .orderBy(col("nation"), col("o_year").desc)
  }

  /** TPC-H Q12 shape (late-shipment priority split): one join + two
    * CONDITIONAL COUNTS in a single pass — sum(CASE WHEN priority is
    * critical)/sum(CASE otherwise) — the conditional-aggregation shape.
    * Lateness (shipped > 90 days after order date, standing in for the
    * schema's missing commit/receipt dates) is a cross-table predicate
    * evaluated in the join; the shipdate year-range pushes to the scan.
    */
  def q12LatePriority(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.load(spark, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
              col("l_shipdate") <  lit("1997-01-01").cast("timestamp"))
    val ord = Tables.load(spark, dir, "orders")
    val critical = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    li.join(ord,
        col("l_orderkey") === col("o_orderkey") &&
        col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 90 DAYS"))
      .groupBy("l_returnflag")
      .agg(
        sum(when(critical, 1).otherwise(0)).as("high_line_count"),
        sum(when(!critical, 1).otherwise(0)).as("low_line_count"))
      .orderBy("l_returnflag")
  }

  /** TPC-H Q16 shape (supplier-part variety minus blacklist): distinct
    * suppliers per part group, EXCLUDING a subquery-defined supplier set —
    * the NOT-IN shape. s_suppkey is non-nullable in this schema, so
    * NOT IN is exactly a left-anti join (the null-aware variant
    * degenerates); spelling it as anti join keeps the bucketed hash path
    * instead of a null-checking nested loop. The part predicate set
    * (brand exclusion + type exclusion + size IN-list) pushes to the
    * broadcast part scan.
    */
  def q16SupplierPartCount(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.load(spark, dir, "lineitem")
    val part = Tables.load(spark, dir, "part")
      .filter(col("p_brand") =!= "Brand#5" && col("p_type") =!= "PROMO" &&
        col("p_size").isin(1, 4, 9, 14, 19, 23))
    val blacklist = Tables.load(spark, dir, "supplier")
      .filter(col("s_acctbal") < 0.0)
      .select("s_suppkey")
    li.join(bdim(part), col("l_partkey") === col("p_partkey"))
      .join(bdim(blacklist), col("l_suppkey") === col("s_suppkey"), "left_anti")
      .groupBy("p_brand", "p_type", "p_size")
      .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
      .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_type"), col("p_size"))
  }

  /** TPC-H Q20 shape (excess-inventory suppliers): a SEMI JOIN nested
    * inside a SEMI JOIN. Inner: the shipped-quantity aggregate is
    * restricted to a name-filtered part set (semi level 1). Middle: keep
    * (supplier, part) rows whose quantity dominates the part's total —
    * partsupp availability standing in as a share-of-part-total window
    * over the SAME aggregate, so no second scan. Outer: suppliers
    * semi-joined against the qualifying set (semi level 2). The window
    * rides the groupBy's hash partitioning on l_partkey — agg and window
    * share one shuffle.
    */
  def q20ExcessSuppliers(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.load(spark, dir, "lineitem")
    val smallParts = Tables.load(spark, dir, "part")
      .filter(col("p_name").startsWith("small"))
      .select("p_partkey")
    val shipped = li
      .join(bdim(smallParts), col("l_partkey") === col("p_partkey"), "left_semi")
      .groupBy("l_partkey", "l_suppkey")
      .agg(sum(dec2(col("l_quantity"))).as("qty"))
    val dominant = shipped
      .withColumn("part_total",
        sum(col("qty")).over(Window.partitionBy("l_partkey")))
      // both operands forced to DOUBLE before the 0.15 multiply: DuckDB
      // would otherwise parse 0.15 as DECIMAL and compare exactly while
      // Spark compares in binary double — a boundary row could differ
      .filter(col("qty").cast("double") >
        lit(0.15) * col("part_total").cast("double"))
      .select("l_suppkey")
    Tables.load(spark, dir, "supplier")
      .filter(col("s_acctbal") > 0.0)
      .join(dominant, col("s_suppkey") === col("l_suppkey"), "left_semi")
      .select("s_suppkey", "s_name", "s_acctbal")
      .orderBy("s_suppkey")
  }

  /** TPC-H Q21 shape (suppliers who kept orders waiting): the multi-level
    * EXISTS — each late lineitem of a finished order must have a sibling
    * from ANOTHER supplier (EXISTS: left-semi with a key-inequality
    * residual) while NO other supplier was also late (NOT EXISTS:
    * left-anti with the same residual). Lateness (> 90 days after order
    * date, standing in for the missing receipt/commit dates) needs the
    * order date, so the late set is computed ONCE and feeds both the base
    * rows and the anti side — one lineitem-orders join, reused. Both
    * semi/anti joins hash on l_orderkey with the supplier inequality as
    * residual — no nested loop.
    */
  def q21WaitingSuppliers(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.load(spark, dir, "lineitem")
    val ordF = Tables.load(spark, dir, "orders")
      .filter(col("o_orderstatus") === "F")
    val sup = Tables.load(spark, dir, "supplier")
    // Single-scan dual-mark aggregation (r16, guide §1.2/§2.3/§2.4): the
    // EXISTS/NOT-EXISTS pair used to run as a semi join against all
    // lineitems plus an anti join against a RECOMPUTED late frame —
    // three lineitem scans and three fact-scale join shuffles. Both
    // marks are per-order set predicates: a late (order, supplier) row
    // qualifies iff the order has ≥2 distinct suppliers (some other
    // supplier exists) and exactly 1 late supplier (itself — no OTHER
    // late one). So: flag lateness per lineitem, ONE exchange by
    // orderkey serves the (order, supplier) rollup, the per-order
    // supplier counts, AND their join (ReuseExchange; the regroups stay
    // partitioned by orderkey, so no further fact-scale exchange).
    // numwait = Σ late-lineitem counts over qualifying (order, supplier)
    // — the same late-row multiset the semi/anti spelling counted, in
    // exact integers; the oracle's EXISTS spelling is untouched.
    val flagged = li
      .join(ordF.select("o_orderkey", "o_orderdate"),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("l_orderkey"), col("l_suppkey"),
        when(col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 90 DAYS"),
          1L).otherwise(0L).as("is_late"))
      .repartition(col("l_orderkey"))
    val perOS = flagged.groupBy("l_orderkey", "l_suppkey")
      .agg(sum(col("is_late")).as("cnt_late"))
    val perO = perOS.groupBy("l_orderkey")
      .agg(count(lit(1)).as("n_supp"),
        count(when(col("cnt_late") > 0, 1)).as("n_late_supp"))
    perOS.filter(col("cnt_late") > 0)
      .join(perO, Seq("l_orderkey"))
      .filter(col("n_supp") >= 2 && col("n_late_supp") === 1)
      .join(bdim(sup), col("l_suppkey") === col("s_suppkey"))
      .groupBy("s_name")
      .agg(sum(col("cnt_late")).as("numwait"))
      .orderBy(col("numwait").desc, col("s_name"))
      .limit(100)
  }

  /** TPC-H Q22 shape (global sales opportunity): customers whose balance
    * beats the global average POSITIVE balance and who never ordered —
    * a 1-row scalar broadcast feeding a filter, then an anti join,
    * then a grouped rollup by nation. The scalar average is the
    * exact-sum/count form shared by both engines.
    */
  def q22GlobalOpportunity(spark: SparkSession, dir: String): DataFrame = {
    val cust = Tables.load(spark, dir, "customer")
    val avgBal = cust.filter(col("c_acctbal") > 0.0)
      .agg((sum(dec2(col("c_acctbal"))).cast("double") / count(lit(1))).as("avg_bal"))
    // "lapsed" = no order in the trailing window (every customer in the
    // generated data has SOME order, so the all-time variant is empty)
    val ord = Tables.load(spark, dir, "orders")
      .filter(col("o_orderdate") >= lit("1999-01-01").cast("timestamp"))
    cust.crossJoin(broadcast(avgBal))
      .filter(col("c_acctbal") > col("avg_bal"))
      .join(ord, col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy("c_nationkey")
      .agg(count(lit(1)).as("numcust"), sum2(col("c_acctbal")).as("totacctbal"))
      .orderBy("c_nationkey")
  }

  /** TPC-H Q8 shape (national market share): one nation's revenue share of
    * a region's market per year — the conditional-share form
    * sum(CASE)/sum(), with the dimension hierarchy joined under TWO roles
    * (customer nation locates the market, supplier nation takes the
    * share). Both sums accumulate exactly in decimal; the share is one
    * IEEE division of their double casts, identical cross-engine. All
    * four dims broadcast; the only shuffles are fact-fact on orderkey
    * and the 7-row year aggregate.
    */
  def q8MarketShare(spark: SparkSession, dir: String,
      shareNation: String = "NATION_9", market: String = "AMERICA"): DataFrame = {
    val li = Tables.load(spark, dir, "lineitem")
    val ord = Tables.load(spark, dir, "orders")
    val cust = Tables.load(spark, dir, "customer")
    val sup = Tables.load(spark, dir, "supplier")
    val cn = Tables.load(spark, dir, "nation")
      .select(col("n_nationkey").as("c_nk"), col("n_regionkey").as("c_rk"))
    val sn = Tables.load(spark, dir, "nation")
      .select(col("n_nationkey").as("s_nk"), col("n_name").as("supp_nation"))
    val reg = Tables.load(spark, dir, "region").filter(col("r_name") === market)
    val volume = col("l_extendedprice") * (lit(1.0) - col("l_discount"))
    // Pre-reduce the dimension chains OFF the fact spine (r16, guide
    // §1.2/§3): the customer→nation→region chain restricts customers to
    // the market and the supplier→nation chain only decides the share
    // flag, so both collapse to keyed dim frames BEFORE touching
    // lineitem — 6 per-row broadcast probes on the spine become 3, and
    // the spine carries a 1-byte boolean instead of the nation-name
    // string (§2.3 narrower types). Inner-join multiset and the decimal
    // aggregation expression are unchanged, so the result is
    // bit-identical to the flat spelling the oracle mirrors.
    val custAm = cust.join(bdim(cn), col("c_nationkey") === col("c_nk"))
      .join(bdim(reg), col("c_rk") === col("r_regionkey"))
      .select(col("c_custkey"))
    val supShare = sup.join(bdim(sn), col("s_nationkey") === col("s_nk"))
      .select(col("s_suppkey"),
        (col("supp_nation") === shareNation).as("is_share"))
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(custAm, col("o_custkey") === col("c_custkey"))
      .join(bdim(supShare), col("l_suppkey") === col("s_suppkey"))
      .groupBy(year(col("o_orderdate")).cast("int").as("o_year"))
      .agg(
        sum4(when(col("is_share"), volume).otherwise(lit(0.0)))
          .as("nation_volume"),
        sum4(volume).as("total_volume"))
      .withColumn("mkt_share", col("nation_volume") / col("total_volume"))
      .select("o_year", "nation_volume", "total_volume", "mkt_share")
      .orderBy("o_year")
  }

  /** TPC-H Q11 shape (important stock): per-part supply value from one
    * nation's suppliers, keeping parts whose value clears a multiple of
    * the MEAN part value — the grouped-aggregate + global-scalar HAVING
    * form. TPC-H's fraction-of-total threshold is deliberately replaced
    * by a mean multiple: the part universe grows with scale factor, so a
    * fixed total fraction selects a vanishing (eventually empty) set,
    * while "k× the average part" keeps a scale-proportional tail. The
    * global scalar is a 1-row broadcast; no second scan of the grouped
    * table.
    */
  def q11ImportantStock(spark: SparkSession, dir: String,
      nation: String = "NATION_9", meanMultiple: Double = 3.0): DataFrame = {
    val li = Tables.load(spark, dir, "lineitem")
    val sup = Tables.load(spark, dir, "supplier")
    val nat = Tables.load(spark, dir, "nation").filter(col("n_name") === nation)
    val supply = li
      .join(bdim(sup), col("l_suppkey") === col("s_suppkey"))
      .join(bdim(nat), col("s_nationkey") === col("n_nationkey"))
    // ONE grouped aggregation feeds both the per-part values and the
    // global threshold (r15, guide §2.4): the old spelling aggregated the
    // raw `supply` rows a second time for the scalar, re-executing the
    // whole lineitem⋈supplier⋈nation subtree; deriving the scalar from
    // the per-part DECIMAL sums shares the grouped exchange (ReuseExchange
    // serves both branches from one scan). Exactness is unchanged: decimal
    // addition is associative, so Σ_parts(Σ_part) ≡ Σ_rows exactly, the
    // distinct-part count is the grouped row count, and the cutoff remains
    // one IEEE division of the same exact operands. The scalar stays a
    // 1-row broadcast — a window here would funnel the corpus-proportional
    // part frame through one task at scale.
    val perPartDec = supply.groupBy("l_partkey")
      .agg(sum(dec2(col("l_extendedprice") * col("l_quantity"))).as("dec_value"))
    val threshold = perPartDec.agg(
      (lit(meanMultiple) * sum(col("dec_value"))
        .cast("double") / count(lit(1))).as("cutoff"))
    perPartDec.withColumn("value", col("dec_value").cast("double"))
      .crossJoin(broadcast(threshold))
      .filter(col("value") > col("cutoff"))
      .select("l_partkey", "value")
      .orderBy(col("value").desc, col("l_partkey"))
  }
}
