package graft

import org.apache.spark.sql.SparkSession

/** Shared session bootstrap for the driver-contract mains (Verify,
  * VerifySubset, GateRun). Defaults to `local[cpus]`; two env knobs
  * exist for the DISTRIBUTION smoke:
  *
  *   - `SPARK_GRAFT_MASTER=local-cluster[2,2,2048]` runs the same
  *     gates against separate executor JVMs, so any same-JVM
  *     assumption (a static map an executor mutates, driver-side
  *     state executors can't see) breaks loudly instead of silently
  *     passing in local mode. Requires SPARK_HOME (the worker
  *     launches executor processes from the distribution).
  *   - `SPARK_GRAFT_JARS=<path.jar>` ships the packaged gate classes
  *     to those executor processes (`sbt package` output).
  *
  * See README "local-cluster distribution smoke" for the receipt.
  */
object GraftSession {
  def build(cpus: String): SparkSession = {
    val master = sys.env.getOrElse("SPARK_GRAFT_MASTER", s"local[$cpus]")
    val b0 = SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config(Tables.requiredConfs)
    val b1 = sys.env.get("SPARK_GRAFT_JARS").filter(_.nonEmpty)
      .fold(b0)(j => b0.config("spark.jars", j))
    val spark = b1.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Session confs from env var `name` as `k=v;k2=v2` (unset or empty:
    * none). The diagnostic A/B knobs (`SPARK_GRAFT_PROF_CONFS`,
    * `SPARK_GRAFT_STREAM_CONFS`) read through this. */
  def envConfs(name: String): Map[String, String] =
    parseConfs(name, sys.env.getOrElse(name, ""))

  /** An entry without `=` or with an empty key fails naming the
    * variable and the entry, not with a bare MatchError. */
  def parseConfs(name: String, raw: String): Map[String, String] =
    raw.split(";").iterator.filter(_.nonEmpty).map { kv =>
      kv.split("=", 2) match {
        case Array(k, v) if k.nonEmpty => k -> v
        case _ => throw new IllegalArgumentException(
          s"$name: malformed entry '$kv', expected key=value (entries separated by ';')")
      }
    }.toMap
}
