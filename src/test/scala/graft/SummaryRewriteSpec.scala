package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import org.scalatest.funsuite.AnyFunSuite

import graft.plans.{SummaryDef, SummaryRegistry}
import TestSpark._

/** The aggregate-navigation rule (graft.plans.SummaryRewrite): a
  * rollup written against the FACT table is answered from a registered
  * summary — same values, same schema, zero fact I/O — and every
  * unmappable shape is vetoed, leaving the fact plan untouched. */
class SummaryRewriteSpec extends AnyFunSuite {

  private val d = sf0001
  private val factPath = s"$d/lineitem.parquet"
  private def dec(c: org.apache.spark.sql.Column) = c.cast(DecimalType(18, 2))

  private lazy val summaryDir: String = {
    val dir = java.nio.file.Files
      .createTempDirectory("graft_summary_spec").toFile.getAbsolutePath + "/li"
    Tables.lineitem(spark, d)
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("cnt"),
        sum(dec(col("l_quantity"))).as("sum_qty_dec"),
        min(col("l_discount")).as("min_disc_p"),
        max(col("l_discount")).as("max_disc_p"))
      .write.mode("overwrite").parquet(dir)
    dir
  }

  private def sdef = SummaryDef(
    factPath = factPath,
    summaryPath = summaryDir,
    keys = Seq("l_returnflag", "l_linestatus"),
    cntCol = "cnt",
    sums = Map(("l_quantity", Some((18, 2))) -> "sum_qty_dec"),
    mins = Map("l_discount" -> "min_disc_p"),
    maxs = Map("l_discount" -> "max_disc_p"))

  /** Root paths of every file scan in the executed plan. */
  private def scanPaths(df: DataFrame): Seq[String] = {
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    // FileScan lines carry `Location: InMemoryFileIndex(1 paths)[file:/...]`
    "\\[file:([^\\]]+)\\]".r.findAllMatchIn(plan).map(_.group(1)).toSeq
  }

  private def registered[T](body: => T): T = {
    SummaryRegistry.register(sdef)
    try body finally SummaryRegistry.unregister(factPath)
  }

  private def userQuery(): DataFrame =
    Tables.lineitem(spark, d)
      .filter(col("l_linestatus") === "F")
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n_rows"),
        sum(dec(col("l_quantity"))).cast("double").as("sum_qty"),
        min(col("l_discount")).as("min_disc"),
        max(col("l_discount")).as("max_disc"))

  test("rewritten rollup scans ONLY the summary and matches the fact answer") {
    val fact = userQuery().collect().map(_.toString).sorted // registry empty: fact plan
    val (rows, paths, schema) = registered {
      val df = userQuery()
      val p = scanPaths(df)
      (df.collect().map(_.toString).sorted, p, df.schema)
    }
    assert(paths.nonEmpty && paths.forall(_.startsWith(summaryDir)),
      s"expected all scans under $summaryDir, got $paths")
    assert(rows.sameElements(fact),
      s"rewritten answer diverged:\n${rows.mkString("\n")}\nvs\n${fact.mkString("\n")}")
    // same column names and types as the un-rewritten plan
    val factSchema = userQuery().schema
    assert(schema.map(f => (f.name, f.dataType)) ==
      factSchema.map(f => (f.name, f.dataType)))
  }

  test("count(*) and decimal sums re-aggregate exactly across key subsets") {
    // group by the OTHER key, no filter — both keys collapse
    def q(): DataFrame = Tables.lineitem(spark, d)
      .groupBy(col("l_linestatus"))
      .agg(count(lit(1)).as("n"), sum(dec(col("l_quantity"))).as("q"))
    val fact = q().collect().map(_.toString).sorted
    val (rows, paths) = registered { val df = q(); (df.collect().map(_.toString).sorted, scanPaths(df)) }
    assert(paths.forall(_.startsWith(summaryDir)), s"scans: $paths")
    assert(rows.sameElements(fact))
  }

  test("vetoes: non-key filter, non-key grouping, underivable agg, global agg") {
    val li = Tables.lineitem(spark, d)
    val cases: Seq[(String, DataFrame)] = Seq(
      "filter on non-key column" ->
        li.filter(col("l_quantity") > 10).groupBy(col("l_returnflag"))
          .agg(count(lit(1)).as("n")),
      "grouping on non-key column" ->
        li.groupBy(col("l_shipdate")).agg(count(lit(1)).as("n")),
      "sum over an uncaptured expression" ->
        li.groupBy(col("l_returnflag"))
          .agg(sum(dec(col("l_quantity")) * dec(col("l_discount"))).as("x")),
      "avg (not derivable from registered partials)" ->
        li.groupBy(col("l_returnflag")).agg(avg(col("l_quantity")).as("a")),
      "global aggregate (summary can't represent the empty-fact group)" ->
        li.agg(count(lit(1)).as("n")))
    registered {
      cases.foreach { case (what, df) =>
        val paths = scanPaths(df)
        assert(paths.nonEmpty && paths.forall(_.contains("lineitem.parquet")),
          s"$what: expected the fact scan to survive, got $paths")
      }
    }
  }

  test("staleness veto: a fact append invalidates the summary until refresh") {
    // own fact copy under tmp — /root/testdata is read-only and the
    // point IS mutating the fact between registration and read
    val root = java.nio.file.Files
      .createTempDirectory("graft_summary_stale").toFile.getAbsolutePath
    val fact = s"$root/fact"
    Tables.lineitem(spark, d).write.parquet(fact)
    def buildSummary(): String = {
      val dir = s"$root/sum"
      spark.read.parquet(fact)
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("cnt"))
        .write.mode("overwrite").parquet(dir)
      dir
    }
    def register(sumDir: String): Unit = SummaryRegistry.register(SummaryDef(
      factPath = fact, summaryPath = sumDir,
      keys = Seq("l_returnflag", "l_linestatus"), cntCol = "cnt",
      sums = Map.empty,
      factFingerprint = Some(Tables.listingFingerprint(spark, fact))))
    def q(): DataFrame = spark.read.parquet(fact)
      .groupBy(col("l_returnflag")).agg(count(lit(1)).as("n"))
    try {
      register(buildSummary())
      // fresh: served from the summary
      assert(scanPaths(q()).forall(_.startsWith(s"$root/sum")))
      val before = q().collect().map(_.toString).sorted
      // the append lands AFTER registration — the summary is now stale
      Tables.lineitem(spark, d).limit(7)
        .write.mode("append").parquet(fact)
      // the read between append and refresh must see the FACT (veto),
      // and its counts must include the appended rows
      val paths = scanPaths(q())
      assert(paths.nonEmpty && paths.forall(_.startsWith(fact)),
        s"stale summary served a read: $paths")
      val staleRead = q().agg(sum(col("n"))).head.getLong(0)
      val factRows = spark.read.parquet(fact).count()
      assert(staleRead == factRows && !before.sameElements(
        q().collect().map(_.toString).sorted))
      // refresh + re-register with the new fingerprint: serves again
      register(buildSummary())
      assert(scanPaths(q()).forall(_.startsWith(s"$root/sum")))
      assert(q().agg(sum(col("n"))).head.getLong(0) == factRows)
    } finally {
      SummaryRegistry.unregister(fact)
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(new java.io.File(root))
    }
  }

  test("q15 gate: rewrite fires inside the gate's register bracket, then detaches") {
    val df = gate("q15_summary_rewrite", d)
    assert(df.count() > 0)
    // after the gate returns, the registry is empty again — the same
    // user query plans against the fact table
    val paths = scanPaths(userQuery())
    assert(paths.forall(_.contains("lineitem.parquet")),
      s"registry leaked a summary def into post-gate plans: $paths")
  }
}
