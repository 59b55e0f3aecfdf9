package perfbench

import java.io.{File, PrintWriter}
import java.lang.management.{ManagementFactory, MemoryType}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}

import org.apache.spark.BusDrain

import graft.{GateQueries, GateQuery, GraftSession}

/** The benchmark's JVM half: builds the session through the program's
  * own bootstrap, runs the set-up rounds and the closed-loop timed phase
  * over a pool of gates, and writes every span and count as one JSON
  * file. `perfbench/run.py` prepares the inputs and the schedule, starts
  * this program, checks the outputs and turns the file into metrics. */
object Main {
  final case class Args(
      sfDir: String, pool: Seq[String], schedule: Seq[Seq[String]], cpus: String,
      seconds: Double, minPasses: Int, maxSeconds: Double, rounds: Int, trace: Boolean,
      dumpDir: String, out: String, inject: Map[String, String])

  /** Parses `--key value` pairs; every malformed or missing value fails
    * with the name of the argument. */
  def parseArgs(argv: Array[String]): Args = {
    if (argv.length % 2 != 0) bad("arguments", s"expected --key value pairs, got ${argv.mkString(" ")}")
    val kv = argv.grouped(2).map { case Array(k, v) =>
      if (!k.startsWith("--")) bad(k, "expected a --key")
      k.drop(2) -> v
    }.toMap
    def get(k: String): String = kv.getOrElse(k, bad(s"--$k", "missing"))
    def num[T](k: String, f: String => T, ok: T => Boolean): T = {
      val v = try f(get(k)) catch { case _: NumberFormatException => bad(s"--$k", s"not a number: ${get(k)}") }
      if (!ok(v)) bad(s"--$k", s"out of range: ${get(k)}")
      v
    }
    val known = Set("sf-dir", "pool", "schedule", "cpus", "seconds", "min-passes", "max-seconds",
      "rounds", "trace", "dump-dir", "out", "inject")
    kv.keys.find(!known(_)).foreach(k => bad(s"--$k", "unknown argument"))
    val schedFile = new File(get("schedule"))
    if (!schedFile.isFile) bad("--schedule", s"no such file: $schedFile")
    val src = scala.io.Source.fromFile(schedFile)
    val schedule = try src.getLines().map(_.split(" ").toSeq.filter(_.nonEmpty)).filter(_.nonEmpty).toVector
      finally src.close()
    val inject = kv.get("inject").filter(_.nonEmpty).map(_.split(",").map { s =>
      s.split(":", 2) match {
        case Array(mode @ ("fail" | "wrong"), g) if g.nonEmpty => g -> mode
        case _ => bad("--inject", s"expected fail:<gate> or wrong:<gate>, got '$s'")
      }
    }.toMap).getOrElse(Map.empty)
    Args(get("sf-dir"), get("pool").split(",").toSeq.filter(_.nonEmpty), schedule,
      num("cpus", _.toInt, (_: Int) > 0).toString, num("seconds", _.toDouble, (_: Double) > 0),
      num("min-passes", _.toInt, (_: Int) >= 1), num("max-seconds", _.toDouble, (_: Double) > 0),
      num("rounds", _.toInt, (_: Int) >= 2), num("trace", _.toInt, Set(0, 1)) == 1,
      get("dump-dir"), get("out"), inject)
  }

  private def bad(name: String, why: String): Nothing =
    throw new IllegalArgumentException(s"$name: $why")

  final case class Exec(id: Long, client: Int, gate: String, t0: Long, t1: Long, t2: Long, error: String)

  def main(argv: Array[String]): Unit = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    if (argv.sameElements(Array("--list-gates"))) { GateQueries.all.foreach(q => println(q.name)); return }
    val a = try parseArgs(argv) catch {
      case e: IllegalArgumentException => System.err.println(s"perfbench: ${e.getMessage}"); sys.exit(2)
    }
    val registry = GateQueries.all.map(q => q.name -> q).toMap
    val missing = (a.pool ++ a.schedule.flatten).distinct.filterNot(registry.contains)
    if (missing.nonEmpty) { System.err.println(s"perfbench: --pool: unknown gates ${missing.mkString(",")}"); sys.exit(2) }
    if (a.schedule.length == 0) { System.err.println("perfbench: --schedule: no clients"); sys.exit(2) }
    val run = new Runner(registry, a)

    // set-up: build the session and run every pool gate once, on as many
    // threads as there are clients, several times; round 1 starts at JVM
    // start and writes each gate's output for the oracle check, later
    // rounds materialize through the noop sink
    val setupS = Array.fill(a.rounds)(0.0)
    val sessionS = Array.fill(a.rounds)(0.0)
    val census = Array.fill(a.rounds)(Map.empty[String, Double])
    val gateS = Array.fill(a.rounds)(Map.empty[String, Double])
    var setupRows = Map.empty[String, Long]
    var spark: SparkSession = null
    var censusListener: TraceSparkListener = null
    Trace.enabled = a.trace
    for (r <- 0 until a.rounds) {
      val t0 = System.nanoTime()
      val before = if (r == 0) (System.currentTimeMillis() - jvmStartMs) / 1e3 else 0.0
      if (spark != null) spark.stop()
      spark = GraftSession.build(a.cpus)
      sessionS(r) = before + (System.nanoTime() - t0) / 1e9
      if (a.trace) {
        Trace.current = new Tally
        censusListener = new TraceSparkListener
        spark.sparkContext.addSparkListener(censusListener)
      }
      val s = spark
      val rows = run.pass(a.schedule.length) { g =>
        val g0 = System.nanoTime()
        val n = if (r == 0) { run.dump(s, g); -2L } else run.rowsOf(s, run.once(s, g, -1))
        (n, (System.nanoTime() - g0) / 1e9)
      }
      gateS(r) = rows.map { case (g, (_, t)) => g -> t }
      if (r == a.rounds - 1) setupRows = rows.map { case (g, (n, _)) => g -> n }
      setupS(r) = before + (System.nanoTime() - t0) / 1e9
      if (a.trace) { BusDrain.drain(spark.sparkContext); census(r) = summarize(Trace.current) }
    }
    if (a.trace) { spark.sparkContext.removeSparkListener(censusListener); Trace.enabled = false }

    // timed phase: a closed loop per client over its schedule; the traced
    // run splits it into untraced, traced and untraced segments, so that
    // warm-up during the phase does not bias the tracing overhead
    val segments = if (a.trace) Seq(false, true, false) else Seq(false)
    val phases = segments.map { traced =>
      val listener = new TraceSparkListener
      if (traced) { Trace.current = new Tally; Trace.enabled = true; spark.sparkContext.addSparkListener(listener) }
      val (execs, startNs, window) =
        run.closedLoop(spark, a.seconds / segments.length, math.max(1, a.minPasses / segments.length))
      BusDrain.drain(spark.sparkContext)
      if (traced) { Trace.enabled = false; spark.sparkContext.removeSparkListener(listener) }
      (execs, startNs, window, if (traced) summarize(Trace.current) else Map.empty[String, Double])
    }
    val allExecs = phases.flatMap(_._1)
    val rowsById = allExecs.map(e => e.id -> run.rowsOf(spark, e)).toMap
    val spanJobs = Trace.jobWall.asScala.map { case (k, v) => k -> v.sum }.toMap
    val hwmKb = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toLong).getOrElse(-1L)
    // the program's own peak heap use: each heap pool's peak, summed
    val heapPeakB = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP).map(_.getPeakUsage.getUsed).sum

    def nums(m: Map[String, Double]): String = Json.obj(m.toSeq.map { case (k, v) => k -> Json.num(v) })
    val out = Json.obj(Seq(
      "spark_version" -> Json.str(org.apache.spark.SPARK_VERSION),
      "setup_s" -> Json.arr(setupS.toSeq.map(Json.num)),
      "session_s" -> Json.arr(sessionS.toSeq.map(Json.num)),
      "setup_gate_s" -> Json.arr(gateS.toSeq.map(nums)),
      "vmhwm_kb" -> hwmKb.toString,
      "heap_peak_b" -> heapPeakB.toString,
      "setup_rows" -> Json.obj(setupRows.toSeq.map { case (k, v) => k -> v.toString }),
      "oracle" -> Json.obj(a.pool.flatMap(g => registry(g).oracle.map(g -> Json.str(_)))),
      "setup_errors" -> Json.obj(run.setupErrors.asScala.toSeq.map { case (g, e) => g -> Json.str(e) }),
      "census" -> Json.arr(census.toSeq.map(nums)),
      "phases" -> Json.arr(phases.zip(segments).map { case ((execs, startNs, window, tally), traced) =>
        Json.obj(Seq(
          "traced" -> traced.toString,
          "start_s" -> Json.num(startNs / 1e9),
          "window_s" -> Json.num(window),
          "tally" -> nums(tally),
          "execs" -> Json.arr(execs.map { e =>
            val build = spanJobs.getOrElse(s"${e.id}:build", 0.0)
            Json.arr(Seq(e.id.toString, e.client.toString, Json.str(e.gate),
              Json.num(e.t0 / 1e9), Json.num(e.t1 / 1e9), Json.num(e.t2 / 1e9),
              rowsById(e.id).toString, Json.num(build), Json.str(Option(e.error).getOrElse(""))))
          })))
      })))
    val w = new PrintWriter(a.out)
    try w.write(out) finally w.close()
    spark.stop()
  }

  /** Per-interval totals the listeners collected. */
  private def summarize(t: Tally): Map[String, Double] = {
    t.snapshot ++ Map(
      "streaming.batch_p50_ms" -> pct(t.batchMs.asScala.map(_.toDouble).toSeq, 0.5),
      "streaming.batch_p90_ms" -> pct(t.batchMs.asScala.map(_.toDouble).toSeq, 0.9))
  }

  private def pct(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0 else { val s = xs.sorted; s(math.min(s.length - 1, (q * s.length).toInt)) }
}

/** Executes gates and records one span pair per execution. */
final class Runner(registry: Map[String, GateQuery], a: Main.Args) {
  private val ids = new AtomicLong()
  val setupErrors = new java.util.concurrent.ConcurrentHashMap[String, String]()

  private def build(s: SparkSession, gate: String): DataFrame = a.inject.get(gate) match {
    case Some("fail") => throw new IllegalStateException(s"injected failure in $gate")
    case Some("wrong") => val df = registry(gate).run(s, a.sfDir); df.union(df.limit(1))
    case _ => registry(gate).run(s, a.sfDir)
  }

  /** Runs `f` once for every pool gate on `threads` threads. */
  def pass[T](threads: Int)(f: String => T): Map[String, T] = {
    val todo = new ConcurrentLinkedQueue[String](a.pool.asJava)
    val out = new java.util.concurrent.ConcurrentHashMap[String, T]()
    val ts = (0 until threads).map { i =>
      val th = new Thread(() => {
        var g = todo.poll()
        while (g != null) { out.put(g, f(g)); g = todo.poll() }
      }, s"perfbench-setup-$i")
      th.start(); th
    }
    ts.foreach(_.join())
    out.asScala.toMap
  }

  /** Round-1 output dump for the oracle check (the same write as Verify). */
  def dump(s: SparkSession, gate: String): Unit =
    try build(s, gate).coalesce(1).write.mode("overwrite").parquet(s"${a.dumpDir}/$gate")
    catch { case NonFatal(e) => setupErrors.put(gate, e.toString) }

  /** One execution: spans from the call into `run` to its return, and
    * from there to the end of the noop write. */
  def once(s: SparkSession, gate: String, client: Int): Main.Exec = {
    val id = ids.incrementAndGet()
    val sc = s.sparkContext
    sc.setLocalProperty(ExecTag.Property, s"$id:build")
    val t0 = System.nanoTime()
    var t1 = -1L
    val err = try {
      val df = build(s, gate)
      t1 = System.nanoTime()
      sc.setLocalProperty(ExecTag.Property, s"$id:action")
      df.write.format("noop").mode("overwrite").option(ExecTag.Option, id.toString).save()
      null
    } catch { case NonFatal(e) => if (client < 0) setupErrors.put(gate, e.toString); e.toString }
    sc.setLocalProperty(ExecTag.Property, null)
    Main.Exec(id, client, gate, t0, t1, System.nanoTime(), err)
  }

  /** Rows the execution's noop write produced: -1 when it failed or its
    * plan gave no row count. Valid after the listener bus drained. */
  def rowsOf(s: SparkSession, e: Main.Exec): Long = {
    if (e.error != null) return -1L
    BusDrain.drain(s.sparkContext)
    Option(RowsListener.rows.get(e.id)).getOrElse(-1L)
  }

  /** Each client starts its next execution only after the previous one
    * returned, and works in whole passes over the pool, so every client
    * runs every gate equally often. A client stops at the end of a pass
    * once it has run `minPasses` passes and `seconds` have passed, or
    * once `maxSeconds` have passed. Returns the executions, the start,
    * and the window: start until the last execution returned. */
  def closedLoop(s: SparkSession, seconds: Double, minPasses: Int): (Seq[Main.Exec], Long, Double) = {
    val done = new ConcurrentLinkedQueue[Main.Exec]()
    val start = new java.util.concurrent.CountDownLatch(1)
    var t0 = 0L
    val passLen = a.pool.length
    val threads = a.schedule.zipWithIndex.map { case (seq, c) =>
      val th = new Thread(() => {
        start.await()
        val deadline = t0 + (seconds * 1e9).toLong
        val cap = t0 + (a.maxSeconds * 1e9).toLong
        var i = 0
        def more: Boolean = {
          val now = System.nanoTime()
          i % passLen != 0 || (now < cap && (now < deadline || i / passLen < minPasses))
        }
        while (more) {
          done.add(once(s, seq(i % seq.length), c))
          i += 1
        }
      }, s"perfbench-client-$c")
      th.start(); th
    }
    t0 = System.nanoTime()
    start.countDown()
    threads.foreach(_.join())
    val execs = done.asScala.toSeq.sortBy(_.id)
    (execs, t0, (execs.map(_.t2).max - t0) / 1e9)
  }
}

private object Json {
  def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def arr(xs: Seq[String]): String = xs.mkString("[", ", ", "]")
  def obj(kv: Seq[(String, String)]): String = kv.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
}
