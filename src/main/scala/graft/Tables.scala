package graft

import java.io.FileNotFoundException
import java.util.{Collections, WeakHashMap}
import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr}
import org.apache.spark.sql.types.{LongType, StructType, TimestampNTZType}

/** Loaders for the driver-provided test tables (TESTDATA.md / FIXTURES.md §B).
  *
  * All tables are Parquet; Spark's vectorized reader + Catalyst
  * pushdown/pruning apply automatically. At cluster scale the same loaders
  * work against a directory of many files — nothing here assumes a single
  * file.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Load one table as a fresh DataFrame.
    *
    * The Parquet schema is resolved once per session and file version, not
    * once per call: Spark infers a Parquet schema by launching a Spark job
    * (even for a single file), and every query's build would otherwise pay
    * that job for each table it reads. The resolved `StructType` is handed
    * to `spark.read.schema(...)`, which skips inference and its job. File
    * listing and the scan itself still run on every call.
    *
    * The cache (`schemaOf`) holds only the schema, keyed weakly by session
    * (so no session is kept alive) and then by path, one entry per path.
    * Each entry carries a stamp of what the schema was inferred from: the
    * path, length and modification time of every file under the path, plus
    * the session's inference-affecting Parquet confs. A rewritten or added
    * file, or a changed conf, changes the stamp and the next load infers
    * again. The DataFrame itself is not cached: two loads of one table must
    * carry distinct attribute ids, or a self-join of them is ambiguous.
    *
    * `events.ts` has shipped in three parquet encodings across testdata
    * generations, so the loader normalizes by the OBSERVED read type rather
    * than assuming one: (a) TIMESTAMP(NANOS), which Spark's vectorized
    * reader rejects unless `spark.sql.legacy.parquet.nanosAsLong=true` (set
    * in `configure`) surfaces it as raw nano longs — floor-converted here to
    * microsecond TimestampType, identical to DuckDB's ns->us floor; (b)
    * TIMESTAMP(MICROS) without the UTC-adjustment flag, which Spark 4 infers
    * as TIMESTAMP_NTZ — cast to TimestampType under the session's UTC zone,
    * the same instant DuckDB assigns the naive value; (c) already
    * TimestampType, passed through. The session flags live at session
    * build, not here — a loader mutating global session state per call is a
    * correctness hazard under concurrent queries.
    */
  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    val df = spark.read.schema(schemaOf(spark, path)).parquet(path)
    if (name == "events") df.schema("ts").dataType match {
      case LongType         => df.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case TimestampNTZType => df.withColumn("ts", col("ts").cast("timestamp"))
      case _                => df
    } else df
  }

  /** What a cached schema was inferred from: every file under the path as
    * (path, length, modification time), and the session's values of the
    * confs that change what Parquet schema inference returns.
    */
  private final case class Stamp(files: Seq[(String, Long, Long)], confs: Seq[Option[String]])

  private val inferenceConfs = Seq(
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.mergeSchema")

  private val schemas =
    Collections.synchronizedMap(new WeakHashMap[SparkSession, ConcurrentHashMap[String, (Stamp, StructType)]])

  /** `path`'s Parquet schema as `spark.read.parquet(path)` would infer it,
    * inferred at most once per session and stamp (see `load`). A path that
    * does not exist is not cached: inference reports it as Spark does.
    */
  private[graft] def schemaOf(spark: SparkSession, path: String): StructType = {
    val stamp = stampOf(spark, path)
    val bySession = schemas.computeIfAbsent(spark, _ => new ConcurrentHashMap)
    Option(bySession.get(path)).filter(e => stamp.contains(e._1)).map(_._2).getOrElse {
      val schema = spark.read.parquet(path).schema
      stamp.foreach(s => bySession.put(path, (s, schema)))
      schema
    }
  }

  private def stampOf(spark: SparkSession, path: String): Option[Stamp] = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    // listStatus, not listFiles: listFiles builds a LocatedFileStatus per
    // file, which on the local filesystem costs milliseconds per call.
    def leaves(st: FileStatus): Seq[FileStatus] =
      if (st.isDirectory) fs.listStatus(st.getPath).toSeq.flatMap(leaves) else Seq(st)
    try Some(Stamp(
      leaves(fs.getFileStatus(p)).map(f => (f.getPath.toString, f.getLen, f.getModificationTime)),
      inferenceConfs.map(spark.conf.getOption)))
    catch { case _: FileNotFoundException => None }
  }

  /** The session settings every graft entry point builds with. Extensions
    * ride along (injected functions + the TokenCountRewrite optimizer
    * rule): `spark.sql.extensions` is a static conf read at context
    * creation, so attaching at the builder is the route that works for
    * programmatic sessions too.
    */
  def configure(b: SparkSession.Builder): SparkSession.Builder =
    b.config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // Surface parquet TIMESTAMP(MICROS, isAdjustedToUTC=false) as plain
      // TIMESTAMP instead of TIMESTAMP_NTZ (under the UTC session zone the
      // two are the same instant): the NTZ fallback in `load` would wrap
      // ts in a cast, and a cast on the scan column blocks parquet
      // predicate pushdown for every time-range filter over events — at
      // 100 TB that is the difference between pruning row groups by
      // min/max ts and reading them all.
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .withExtensions(new GraftExtensions)

  /** Drop a managed table AND its on-disk location. A previous JVM may
    * have left files under the warehouse dir that this session's
    * in-memory catalog has no entry for — then `DROP TABLE IF EXISTS` is a
    * no-op and a later managed CREATE fails with LOCATION_ALREADY_EXISTS.
    *
    * The location is resolved from CATALOG METADATA while the entry still
    * exists — hard-coding `<warehouse>/<name>` deletes the wrong path for
    * a table in a non-default database or with a custom LOCATION (ADVICE
    * r8). EXTERNAL tables keep their files by Spark's own contract: only
    * the entry is dropped. The warehouse-path convention remains only as
    * the fallback for catalog-less orphans, which nothing else can name.
    * Physical deletion goes through the Hadoop FileSystem API so the same
    * code works against any warehouse filesystem.
    */
  def dropManagedTable(spark: SparkSession, name: String): Unit = {
    val catalog = spark.sessionState.catalog
    val id = spark.sessionState.sqlParser.parseTableIdentifier(name)
    val toDelete: Option[Path] =
      if (catalog.tableExists(id)) {
        val meta = catalog.getTableMetadata(id)
        if (meta.tableType ==
            org.apache.spark.sql.catalyst.catalog.CatalogTableType.MANAGED)
          Some(new Path(meta.location)) // the table's REAL location
        else None // external: never delete user data
      } else
        Some(new Path(new Path(spark.conf.get("spark.sql.warehouse.dir")),
          name.toLowerCase)) // orphaned files from a previous JVM
    spark.sql(s"DROP TABLE IF EXISTS `$name`")
    toDelete.foreach { p => // idempotent: DROP already removed managed files
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    }
  }

  /** Register every table as a temp view (for spark.sql entry points). */
  def registerAll(spark: SparkSession, dir: String): Unit =
    names.foreach(n => load(spark, dir, n).createOrReplaceTempView(n))
}
