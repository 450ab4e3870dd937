package perfbench

import java.lang.management.ManagementFactory

import org.apache.spark.sql.SparkSession

/** One benchmark run: `--workload <name> --seed <n> --seconds <s>
  * --trace <0|1> --work <dir>`.
  *
  * The run builds a production session, sets the workload up (its
  * fixtures staged [[Workload.Stagings]] times, then one untimed warm
  * pass), drives the workload's closed loop for `--seconds`, checks
  * every output, and prints a report line plus, last, the result
  * object `{"correct", "attempted", "failed", "metrics"}`. With
  * `--trace 0` the metrics are the end-to-end set; with `--trace 1`
  * the per-layer set from [[Tracer]]. The exit code is 0 only when the
  * run completed; a failed output check is reported as
  * `"correct": false`.
  */
object Main {
  val Cores = 4

  final case class Args(workload: String, seed: Long, seconds: Int,
                        trace: Boolean, work: String)

  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", need("work"))
  }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val canaryBefore = Canary.run()

    val spark = graft.GraftSession.builder(s"local[$Cores]", shufflePartitions = Cores)
      .config("spark.local.dir", s"${args.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${args.work}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.currentTimeMillis() - jvmStart) / 1000.0
    printConf(spark)

    val tracer = new Tracer(spark, enabled = args.trace)
    val workload: Workload = args.workload match {
      case "graph_analytics" => new Analytics(spark, tracer, args.seed, args.work)
      case "cypher_wire" => new Wire(spark, tracer, args.seed, args.work)
      case w => throw new IllegalArgumentException(s"unknown workload '$w'")
    }
    try run(args, spark, tracer, workload, sessionS, canaryBefore)
    finally {
      workload.close()
      spark.stop()
    }
  }

  private def run(args: Args, spark: SparkSession, tracer: Tracer, w: Workload,
                  sessionS: Double, canaryBefore: Double): Unit = {
    // ---- set-up: stage the fixtures several times, then warm once ----
    // A traced run stages once more and traces only that last staging:
    // against the untraced one before it, it gives the tracing overhead
    // on set-up (the first staging also pays JIT warm-up).
    val stagings = Workload.Stagings + (if (args.trace) 1 else 0)
    val stageS = (1 to stagings).map { i =>
      tracer.phase(s"setup.stage$i", record = i == stagings)(timed(w.stage()))
    }
    val warm = tracer.phase("setup.warm")(w.warm())
    require(warm.ok, s"warm pass failed: ${warm.error.getOrElse("output check")}")
    val setupS = sessionS + median(stageS.take(Workload.Stagings)) + warm.seconds
    w.resetCounters()

    // ---- the closed loop: passes until the window has elapsed ----
    val passes = scala.collection.mutable.ArrayBuffer.empty[Pass]
    val windowStart = System.nanoTime()
    val deadline = windowStart + args.seconds * 1000000000L
    // a traced run needs a traced and an untraced pass at least
    val minPasses = math.max(w.minPasses, if (args.trace) 2 else 1)
    while (System.nanoTime() < deadline || passes.size < minPasses) {
      // in a traced run every other pass runs with tracing off, so the
      // traced − untraced difference is measured inside one process;
      // the seed's parity picks whether the first pass is traced, so
      // across runs the traced pass is not always the one after warm-up
      val traceThis = args.trace && (passes.size + args.seed) % 2 == 0
      val p = tracer.phase(s"pass${passes.size}", record = traceThis)(w.pass())
      passes += p.copy(traced = traceThis)
    }
    val windowS = (System.nanoTime() - windowStart) / 1e9

    val finalOk = try w.finalCheck() catch {
      case e: Exception => System.err.println(s"[perfbench] final check threw: $e"); false
    }
    val canaryAfter = Canary.run()
    val liveHeapMb = liveHeap()

    val okPasses = passes.filter(_.ok)
    val attempted = w.opsAttempted
    val failed = w.opsFailed
    val correct = finalOk && failed == 0 && okPasses.size == passes.size
    passes.filterNot(_.ok).foreach(p =>
      System.err.println(s"[perfbench] failed pass: ${p.error.getOrElse("output check")}"))

    val passS = if (okPasses.isEmpty) Double.NaN else median(okPasses.map(_.seconds).toSeq)
    val opsPerS = w.opsCompleted / windowS
    val endToEnd = Seq(
      Metric("setup_s", setupS, "s"),
      Metric("pass_s", passS, "s"),
      Metric("ops_per_s", opsPerS, "1/s"),
      Metric("live_heap_mb", liveHeapMb, "MB"))

    val report = endToEnd ++ w.report(windowS) ++ Seq(
      Metric("host.canary_before_s", canaryBefore, "s"),
      Metric("host.canary_after_s", canaryAfter, "s"),
      Metric("ops_attempted", attempted.toDouble, "count"),
      Metric("ops_failed", failed.toDouble, "count"))
    println("report " + Json.obj(Seq(
      "workload" -> Json.str(args.workload), "seed" -> args.seed.toString,
      "pass_seconds" -> passes.map(p => Json.num(p.seconds)).mkString("[", ", ", "]"),
      "setup_parts_s" -> (sessionS +: stageS :+ warm.seconds).map(Json.num).mkString("[", ", ", "]"),
      "metrics" -> Json.metrics(report))))

    val metrics =
      if (!args.trace) endToEnd
      else tracer.layerMetrics(w, passes.toSeq, Cores,
        canary = (canaryBefore + canaryAfter) / 2, stageS = stageS)
    tracer.writeSpans(
      s"${new java.io.File(args.work).getParent}/spans-${args.workload}-${args.seed}.jsonl")
    println(Json.obj(Seq(
      "correct" -> correct.toString,
      "attempted" -> attempted.toString,
      "failed" -> failed.toString,
      "metrics" -> Json.metrics(metrics))))
  }

  final case class Metric(name: String, value: Double, unit: String)

  def timed(body: => Unit): Double = {
    val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Heap in use after full collections: what the run left reachable
    * (cached blocks, broadcasts, store state). */
  private def liveHeap(): Double = {
    val mem = ManagementFactory.getMemoryMXBean
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(100) }
    mem.getHeapMemoryUsage.getUsed / 1048576.0
  }

  private def printConf(spark: SparkSession): Unit = {
    val conf = spark.conf.getAll.toSeq.filter(_._1.startsWith("spark.sql.")).sorted
    System.err.println("[perfbench] effective SQL conf:")
    conf.foreach { case (k, v) => System.err.println(s"[perfbench]   $k=$v") }
  }
}

/** Fixed single-thread CPU work with no Spark in it, timed before and
  * after every run: host drift shows here, not in the engine. */
object Canary {
  def run(): Double = {
    val t0 = System.nanoTime()
    var x = 0x9E3779B97F4A7C15L
    var acc = 0L
    var i = 0
    while (i < 60000000) {
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17
      acc += x & 1023L
      i += 1
    }
    if (acc == 42L) System.err.println("") // keeps the loop live
    (System.nanoTime() - t0) / 1e9
  }
}

/** Outcome of one pass of a workload's closed loop. */
final case class Pass(seconds: Double, ok: Boolean, error: Option[String] = None,
                      traced: Boolean = false)

/** A closed-loop workload: staged fixtures, a repeatable pass whose
  * outputs it checks itself, and operation counters. */
abstract class Workload {
  /** Build the workload's inputs from scratch (timed as set-up). */
  def stage(): Unit
  /** One pass; never throws — a throw is a failed pass. */
  def pass(): Pass
  /** The untimed warm pass of the set-up. */
  def warm(): Pass = pass()
  /** End-of-run output check over the state the loop left. */
  def finalCheck(): Boolean
  /** Passes a run holds at least. A pass count that depends on how
    * fast the host was would make a run's median a median of one pass
    * on a slow host and of two on a fast one. */
  def minPasses: Int = 1

  var opsAttempted, opsFailed, opsCompleted = 0L
  def resetCounters(): Unit = { opsAttempted = 0; opsFailed = 0; opsCompleted = 0 }
  /** Bytes the set-up's export wrote (0 when it exports nothing). */
  def exportBytes: Long = 0L
  /** Standing rows of the served store (0 when nothing is served). */
  def storeRows: Long = 0L
  /** Workload-specific end-to-end figures for the report line. */
  def report(windowS: Double): Seq[Main.Metric]
  def close(): Unit
}

object Workload {
  /** Fixture stagings per run; set-up reports their median (with two,
    * their mean). Two keep a cypher_wire run inside its time budget. */
  val Stagings = 2
}

object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
  def metrics(ms: Seq[Main.Metric]): String =
    obj(ms.map(m => m.name -> obj(Seq("value" -> num(m.value), "unit" -> str(m.unit)))))
}
