package graft

import java.nio.file.Files
import java.util.UUID
import java.util.concurrent.{CyclicBarrier, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.types.{BinaryType, StringType, StructType}
import org.scalatest.funsuite.AnyFunSuite

import TestSpark._

/** `Tables` infers a table's parquet schema once per (listing
  * fingerprint, spark.sql.* settings) and reads with it afterwards, so
  * building a gate's plan launches no inference job. Every fixture is
  * a fresh dir: the cache is JVM-wide and other suites read the shared
  * test tables. */
class TablesSpec extends AnyFunSuite {

  /** `body`'s result and the number of jobs it launched on this thread. */
  private def jobsOf[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val group = s"tables-spec-${UUID.randomUUID()}"
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "TablesSpec")
    try {
      val out = body
      ListenerBusDrain.drain(sc)
      (out, jobs.get)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  private def twoEvents(): String = fixtureDir("events" -> eventsDf(Seq(
    (1L, 1000000L, 7L, "view", 1.0, 1), (2L, 2000000L, 8L, "like", 2.0, 2))))

  test("the first read infers the schema (1 job), the second reuses it (0 jobs)") {
    val dir = twoEvents()
    val (first, inferJobs) = jobsOf(Tables.events(spark, dir))
    val (second, cachedJobs) = jobsOf(Tables.events(spark, dir))
    assert(inferJobs == 1)
    assert(cachedJobs == 0)
    assert(second.schema == first.schema)
    // each read is a fresh relation: a self-join resolves both sides
    // (shared exprIds would make the condition trivially true: 4 rows)
    assert(first.join(second, first("event_id") === second("event_id")).count() == 2)
  }

  test("a table rewritten at the same path with a new schema is inferred again") {
    val dir = fixtureDir("region" -> spark.range(3).toDF("r_regionkey"))
    assert(Tables.region(spark, dir).columns.toSeq == Seq("r_regionkey"))
    spark.range(3).selectExpr("id AS r_regionkey", "'x' AS r_name")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/region.parquet")
    val (reread, jobs) = jobsOf(Tables.region(spark, dir))
    assert(jobs == 1)
    assert(reread.columns.toSeq == Seq("r_regionkey", "r_name"))
    assert(reread.collect().map(_.getString(1)).toSeq == Seq("x", "x", "x"))
  }

  /** A part table with an unannotated BINARY name column, written the
    * way a non-Spark writer leaves it: Spark's own files carry their
    * Spark schema in the footer, which inference prefers over every
    * setting. */
  private def foreignPart(): String = {
    val dir = Files.createTempDirectory("graft_tables_spec").toFile.getAbsolutePath
    val schema = MessageTypeParser.parseMessageType(
      "message part { required int64 p_partkey; required binary p_name; }")
    val rows = new SimpleGroupFactory(schema)
    val w = ExampleParquetWriter.builder(new Path(s"$dir/part.parquet"))
      .withType(schema).build()
    try Seq(0L, 1L).foreach(i =>
      w.write(rows.newGroup().append("p_partkey", i)
        .append("p_name", Binary.fromString(i.toString))))
    finally w.close()
    dir
  }

  test("sessions whose parquet-inference settings differ each get their own schema") {
    val dir = foreignPart()
    val asString = spark.newSession()
    asString.conf.set("spark.sql.parquet.binaryAsString", "true")
    def nameType(s: org.apache.spark.sql.SparkSession) =
      Tables.part(s, dir).schema("p_name").dataType
    assert(nameType(spark) == BinaryType)
    assert(nameType(asString) == StringType)
    assert(nameType(spark) == BinaryType)
    assert(Tables.part(asString, dir).collect().map(_.getString(1)).sorted.toSeq ==
      Seq("0", "1"))
  }

  test("concurrent first reads from two threads agree") {
    val dir = twoEvents()
    val start = new CyclicBarrier(2)
    val pool = Executors.newFixedThreadPool(2)
    try {
      val reads = (1 to 2).map(_ => pool.submit[StructType] { () =>
        start.await(); Tables.events(spark, dir).schema
      })
      val schemas = reads.map(_.get(120, TimeUnit.SECONDS))
      assert(schemas.distinct.size == 1)
      assert(schemas.head == Tables.events(spark, dir).schema)
    } finally pool.shutdown()
  }
}
