package graft

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Readers for the driver-provided synthetic tables (TESTDATA.md).
  *
  * All reads are plain parquet scans so Catalyst predicate pushdown /
  * column pruning reach the file source (verify with
  * `.explain("formatted")` → `PushedFilters`, `ReadSchema`). At 100 TB
  * these become partitioned/bucketed tables; nothing downstream assumes
  * a single file.
  *
  * Schema inference is a Spark job (`read.parquet` without a schema
  * reads a footer on the cluster before the plan exists), so each
  * table's schema is inferred ONCE per (file-listing fingerprint,
  * `spark.sql.*` settings) and every later read passes it as a
  * user-supplied schema: no job at build time. The settings are part
  * of the key because inference depends on them (`nanosAsLong`,
  * `binaryAsString`, `caseSensitive`); the rest of the conf is not,
  * because it carries per-context entries (`spark.app.id`) that would
  * miss on every new SparkContext. A table rewritten at the same path
  * changes its fingerprint and is inferred again.
  *
  * Relations themselves are NOT cached: each read still builds a fresh
  * relation with fresh exprIds, or a self-join of two reads would be
  * ambiguous. With the schema supplied, a fresh relation costs a file
  * listing (~8 ms against ~84 ms for an inferring read), so reusing
  * one would save too little to justify it.
  */
object Tables {
  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    parquet(spark, s"$dir/$name.parquet")

  /** `spark.read.parquet(path)` with the schema from [[schemaOf]]. */
  def parquet(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(schemaOf(spark, path)).parquet(path)

  /** (path, spark.sql.* settings) → (listing fingerprint, schema). One
    * slot per key, so rewriting a path replaces its entry. */
  private val schemas =
    new ConcurrentHashMap[(String, Map[String, String]), (Long, StructType)]()

  /** The inferred parquet schema of `path` under `spark`'s settings,
    * inferred only when the listing or the settings changed. Two
    * concurrent first reads may both infer; they store equal values. */
  private def schemaOf(spark: SparkSession, path: String): StructType = {
    val key = (path, spark.conf.getAll.filter(_._1.startsWith("spark.sql.")))
    // fingerprint BEFORE inferring: a rewrite racing the inference
    // leaves a stale fingerprint, which only forces one more inference
    val fp = listingFingerprint(spark, path)
    Option(schemas.get(key)) match {
      case Some((`fp`, schema)) => schema
      case _ =>
        val schema = spark.read.parquet(path).schema
        schemas.put(key, (fp, schema))
        schema
    }
  }

  /** Order-independent fingerprint of a location's CURRENT data file
    * listing (path, length, mtime — hidden/metadata files excluded,
    * matching what a scan would read). O(|files|) metadata traffic and
    * no Spark job. */
  def listingFingerprint(spark: SparkSession, path: String): Long = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    var h = 0L
    val it = fs.listFiles(p, true)
    while (it.hasNext) {
      val f = it.next()
      val name = f.getPath.getName
      if (!name.startsWith("_") && !name.startsWith(".")) {
        var e = 1125899906842597L
        e = e * 31 + f.getPath.toString.hashCode
        e = e * 31 + f.getLen
        e = e * 31 + f.getModificationTime
        h ^= e // XOR-fold: listing order never matters
      }
    }
    h
  }

  /** Session configs every entry point (Verify/Bench/tests) must set
    * before reading the driver tables. `nanosAsLong` because
    * events.parquet carries TIMESTAMP(NANOS) which Spark 4 otherwise
    * rejects ([PARQUET_TYPE_ILLEGAL]); we then truncate ns→µs, which is
    * exactly DuckDB's `epoch_us(ts)`. */
  val requiredConfs: Map[String, String] = Map(
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.sql.session.timeZone" -> "UTC",
    // The default whole-stage-codegen class cache (100 entries) is
    // smaller than this library's query suite (46 queries × several
    // codegen stages each) — under it, every suite pass recompiles
    // evicted stages with janino DURING execution, adding multi-second
    // sporadic stalls (measured 2-6× wall-clock variance at sf0.1).
    "spark.sql.codegen.cache.maxEntries" -> "10000",
    // native graft expressions (dot_f64) — see graft.functions
    "spark.sql.extensions" -> "graft.functions.GraftExtensions",
    // Honor the per-bucket sort order of bucketed tables (q10 / the
    // Bucketing helper): off by default because it is only sound when
    // every bucket is a single file — which writeBucketed guarantees
    // by pre-repartitioning on the bucket key (same Murmur3-pmod hash
    // as the bucket-file assignment). With it, a key-matched SMJ over
    // bucket-sorted tables carries neither Exchange nor Sort.
    "spark.sql.legacy.bucketedTableScan.outputOrdering" -> "true")

  def region(s: SparkSession, d: String): DataFrame    = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = table(s, d, "lineitem")
  /** events.ts arrives as nanos-since-epoch LONG (see requiredConfs);
    * exposed as a true µs TimestampType so downstream window/ordering
    * logic is plain timestamp algebra. */
  def events(s: SparkSession, d: String): DataFrame = {
    val raw = table(s, d, "events")
    import org.apache.spark.sql.functions.{col, expr}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType}
    raw.schema("ts").dataType match {
      case LongType => raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      // files written by other engines (e.g. DuckDB) often carry NTZ;
      // under the pinned UTC session the wall time is identical
      case TimestampNTZType => raw.withColumn("ts", col("ts").cast("timestamp"))
      case _ => raw
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")
}
