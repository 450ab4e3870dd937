package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans around the benchmark's calls into graft's layers, plus the
  * Spark jobs and Catalyst phases that ran inside them.
  *
  * A span is (id, parent, name, layer, start, end); spans of one pass
  * share the pass's run id. Spark jobs and query executions are
  * attributed to the innermost span open at their start time — exact
  * here, because one closed-loop client drives the engine. A job's
  * layer is also readable from its call site (the first `graft.*`
  * frame). Everything stays in memory and is written as JSON lines
  * when the run ends. With tracing off the tracer records nothing and
  * registers no listener.
  */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  import Tracer._

  private val spans = ArrayBuffer.empty[Span]
  private var stack = List.empty[Span]
  private var recording = false
  private var runId = "setup"

  private val jobs = ArrayBuffer.empty[Job]
  private val stageJob = scala.collection.mutable.Map.empty[Int, Job]
  private val execs = ArrayBuffer.empty[Exec]
  private val blocksSeen = ArrayBuffer.empty[Long]

  /** SQL execution id → the call site of the action that started it;
    * a job submitted from an adaptive query stage has no user frames
    * of its own, so its execution's call site names its layer. */
  private val execSite = scala.collection.mutable.Map.empty[Long, String]

  private val sparkListener = new SparkListener {
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
        Tracer.this.synchronized { execSite(s.executionId) = s.details }
      case _ => ()
    }
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      val exec = Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      val site = exec.flatMap(id => execSite.get(id.toLong))
        .orElse(e.stageInfos.headOption.map(_.details)).getOrElse("")
      val j = new Job(e.jobId, e.time, -1L, site)
      jobs += j
      e.stageIds.foreach(stageJob(_) = j)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobs.find(_.id == e.jobId).foreach(_.endMs = e.time)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Tracer.this.synchronized {
      val si = e.stageInfo
      stageJob.get(si.stageId).foreach { j =>
        val m = si.taskMetrics
        j.stages += 1
        j.tasks += si.numTasks
        if (m != null) {
          j.taskMs += m.executorRunTime
          j.gcMs += m.jvmGCTime
          j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    }
  }

  private val execListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe)
    private def record(qe: QueryExecution): Unit = Tracer.this.synchronized {
      val ph = qe.tracker.phases
      def span(p: String) = ph.get(p).map(s => (s.startTimeMs, s.endTimeMs))
      val phases = Seq("analysis", "optimization", "planning").flatMap(p => span(p).map(p -> _))
      if (phases.nonEmpty) execs += Exec(phases.toMap)
    }
  }

  private var attached = false
  private def attach(on: Boolean): Unit = if (enabled && on != attached) {
    if (on) {
      spark.sparkContext.addSparkListener(sparkListener)
      spark.listenerManager.register(execListener)
    } else {
      org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(sparkListener)
      spark.listenerManager.unregister(execListener)
    }
    attached = on
  }

  /** A top-level phase of the run (a set-up step or a pass); with
    * `record = false` it runs with tracing off. */
  def phase[A](name: String, record: Boolean = true)(body: => A): A = {
    val on = enabled && record
    attach(on)
    recording = on
    runId = name
    try span(name, "bench")(body)
    finally recording = false
  }

  def span[A](name: String, layer: String)(body: => A): A = {
    if (!recording) return body
    val s = Span(spans.size, stack.headOption.map(_.id).getOrElse(-1), name, layer, runId,
      System.currentTimeMillis(), System.nanoTime())
    spans += s
    stack = s :: stack
    try body
    finally {
      s.endMs = System.currentTimeMillis()
      s.durNs = System.nanoTime() - s.startNs
      stack = stack.tail
      if (layer != "bench") sampleBlocks()
    }
  }

  /** True while spans are being recorded. */
  def active: Boolean = recording

  /** Storage blocks held right now (cached and checkpointed partitions). */
  private def sampleBlocks(): Unit = {
    blocksSeen += spark.sparkContext.getRDDStorageInfo.map(_.numCachedPartitions.toLong).sum
  }

  // ---- per-layer figures ------------------------------------------

  private def within(s: Span, t: Long) = t >= s.startMs && t <= s.endMs
  private def under(root: Span): Seq[Span] = {
    val ids = scala.collection.mutable.Set(root.id)
    spans.filter { s =>
      val in = s.id == root.id || ids.contains(s.parent)
      if (in) ids += s.id
      in
    }.toSeq
  }
  /** Innermost span containing time `t` among `cands`. */
  private def owner(cands: Seq[Span], t: Long): Option[Span] =
    cands.filter(within(_, t)).sortBy(s => (s.endMs - s.startMs, -s.id)).headOption
  private def jobsIn(s: Span): Seq[Job] = jobs.filter(j => within(s, j.startMs)).toSeq
  private def execsIn(s: Span): Seq[Exec] = execs.filter(e => within(s, e.startMs)).toSeq

  /** Wall time inside `s` covered by Spark jobs or Catalyst phases. */
  private def engineMs(s: Span): Double = {
    val iv = jobsIn(s).map(j => (j.startMs, if (j.endMs < 0) s.endMs else j.endMs)) ++
      execsIn(s).flatMap(_.phases.values)
    val clipped = iv.map { case (a, b) => (math.max(a, s.startMs), math.min(b, s.endMs)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var cur: Option[(Long, Long)] = None
    clipped.foreach { case (a, b) =>
      cur match {
        case Some((ca, cb)) if a <= cb => cur = Some((ca, math.max(cb, b)))
        case Some((ca, cb)) => total += cb - ca; cur = Some((a, b))
        case None => cur = Some((a, b))
      }
    }
    cur.foreach { case (a, b) => total += b - a }
    total.toDouble
  }

  def layerMetrics(w: Workload, passes: Seq[Pass], cores: Int,
                   canary: Double, stageS: Seq[Double]): Seq[Main.Metric] = {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    import Main.{Metric, median}
    def med(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else median(xs)
    val top = spans.filter(_.parent < 0).toSeq
    val passSpans = top.filter(s => s.name.startsWith("pass"))
    val nTraced = math.max(1, passSpans.size)
    val inPasses = passSpans.flatMap(under)
    val passJobs = passSpans.flatMap(jobsIn)
    val passExecs = passSpans.flatMap(execsIn)
    val passWallS = passSpans.map(_.durNs / 1e9).sum
    def perPass(x: Double) = x / nTraced
    def named(name: String, in: Seq[Span]) = in.filter(_.name == name)
    def secs(ss: Seq[Span]) = ss.map(_.durNs / 1e9).sum

    // set-up layers: the last staging (traced) carries them
    val lastStage = top.filter(_.name.startsWith("setup.stage")).lastOption.toSeq.flatMap(under)
    val exportSpan = named("export.graph", lastStage)
    val exportJobs = exportSpan.flatMap(jobsIn)
    def jobS(js: Seq[Job]) = js.map(j => (j.endMs - j.startMs) / 1000.0).sum
    val (gateJobs, writeJobs) = exportJobs.partition(_.site.contains("GraphExport$.integrityGate"))

    // wire statements: one span per statement, named by op type
    val stmts = inPasses.filter(_.layer == "wire")
    val foldJobs = stmts.flatMap(s => jobsIn(s).filter(_.site.contains("GraphStore.compact")))
    val foldStmts = stmts.filter(s => jobsIn(s).exists(_.site.contains("GraphStore.compact")))
    def perOp(op: String)(f: Span => Double) = med(stmts.filter(_.name == op).map(f))
    def engine(s: Span) = engineMs(s)
    val ops = Seq("merge_node", "set", "merge_edge", "read", "unwind")

    val traced = passes.filter(_.traced).map(_.seconds)
    val untraced = passes.filterNot(_.traced).map(_.seconds)
    def pct(a: Double, b: Double) = if (b <= 0) 0.0 else (a - b) / b * 100
    val passOverhead = if (traced.isEmpty || untraced.isEmpty) 0.0 else pct(med(traced), med(untraced))
    // the last staging runs traced, the one before it untraced
    val setupOverhead = if (stageS.size < 2) 0.0 else pct(stageS.last, stageS(stageS.size - 2))

    Seq(
      Metric("domain.assemble_s", secs(named("domain.assemble", lastStage)), "s"),
      Metric("export.gate_s", jobS(gateJobs), "s"),
      Metric("export.write_s", jobS(writeJobs), "s"),
      Metric("export.readback_s", secs(named("export.readback", lastStage)), "s"),
      Metric("export.bytes_written_mb", w.exportBytes / 1048576.0, "MB"),
      Metric("graphops.pagerank_s", perPass(secs(named("graphops.pagerank", inPasses))), "s"),
      Metric("graphops.cc_s", perPass(secs(named("graphops.cc", inPasses))), "s"),
      Metric("graphops.kcore_s", perPass(secs(named("graphops.kcore", inPasses))), "s"),
      Metric("graphops.cert_s", perPass(secs(named("graphops.cert", inPasses))), "s"),
      Metric("graphops.jobs", perPass(inPasses.filter(_.layer == "graphops")
        .flatMap(jobsIn).distinct.size.toDouble), "count"),
      Metric("cypher.parse_ms", med(named("cypher.parse", inPasses).map(_.durNs / 1e6)), "ms")) ++
    ops.map(op => Metric(s"cypher.engine_ms.$op", perOp(op)(engine), "ms")) ++
    ops.map(op => Metric(s"cypher.driver_ms.$op",
      perOp(op)(s => s.durNs / 1e6 - engine(s)), "ms")) ++
    Seq(
      Metric("store.fold_ms",
        if (foldStmts.isEmpty) 0.0 else jobS(foldJobs) * 1000 / foldStmts.size, "ms"),
      Metric("store.rows", w.storeRows.toDouble, "count"),
      Metric("unwind.apply_task_s", perOp("unwind")(s =>
        jobsIn(s).filterNot(_.site.contains("GraphStore.compact")).map(_.taskMs).sum / 1000.0), "s"),
      Metric("spark.jobs", perPass(passJobs.size.toDouble), "count"),
      Metric("spark.stages", perPass(passJobs.map(_.stages).sum.toDouble), "count"),
      Metric("spark.tasks", perPass(passJobs.map(_.tasks).sum.toDouble), "count"),
      Metric("spark.task_s", perPass(passJobs.map(_.taskMs).sum / 1000.0), "s"),
      Metric("spark.core_util",
        if (passWallS <= 0) 0.0 else passJobs.map(_.taskMs).sum / 1000.0 / (passWallS * cores), "ratio"),
      Metric("spark.shuffle_write_mb", perPass(passJobs.map(_.shuffleWrite).sum / 1048576.0), "MB"),
      Metric("spark.shuffle_read_mb", perPass(passJobs.map(_.shuffleRead).sum / 1048576.0), "MB"),
      Metric("spark.spill_mb", perPass(passJobs.map(_.spill).sum / 1048576.0), "MB"),
      Metric("spark.gc_s", perPass(passJobs.map(_.gcMs).sum / 1000.0), "s")) ++
    Seq("analysis", "optimization", "planning").map { p =>
      Metric(s"catalyst.${p}_s", perPass(passExecs.flatMap(_.phases.get(p))
        .map { case (a, b) => (b - a) / 1000.0 }.sum), "s")
    } ++
    Seq(
      Metric("cache.blocks_held_max", if (blocksSeen.isEmpty) 0.0 else blocksSeen.max.toDouble, "count"),
      Metric("host.canary_s", canary, "s"),
      Metric("trace.overhead_setup_pct", setupOverhead, "%"),
      Metric("trace.overhead_pass_pct", passOverhead, "%"),
      // ops per pass are fixed, so the throughput lost to tracing is
      // the pass overhead seen from the other side (positive = slower)
      Metric("trace.overhead_ops_per_s_pct",
        if (passOverhead <= -100) 0.0 else (1 - 100 / (100 + passOverhead)) * 100, "%"),
      Metric("trace.overhead_heap_mb", spanHeapMb, "MB"))
  }

  /** Approximate heap the tracer's own records hold. */
  private def spanHeapMb: Double =
    (spans.size * 160L + jobs.size * 200L + execs.size * 400L +
      jobs.map(_.site.length * 2L).sum) / 1048576.0

  def writeSpans(path: String): Unit = if (enabled) {
    val out = new java.io.PrintWriter(path, "UTF-8")
    try {
      spans.foreach { s =>
        out.println(Json.obj(Seq("kind" -> Json.str("span"), "id" -> s.id.toString,
          "parent" -> s.parent.toString, "name" -> Json.str(s.name),
          "layer" -> Json.str(s.layer), "run" -> Json.str(s.run),
          "start_ms" -> s.startMs.toString, "end_ms" -> s.endMs.toString,
          "dur_ms" -> Json.num(s.durNs / 1e6))))
      }
      jobs.foreach { j =>
        val site = j.site.linesIterator.find(_.trim.startsWith("graft.")).getOrElse("").trim
        out.println(Json.obj(Seq("kind" -> Json.str("job"), "id" -> j.id.toString,
          "span" -> owner(spans.toSeq, j.startMs).map(_.id).getOrElse(-1).toString,
          "start_ms" -> j.startMs.toString, "end_ms" -> j.endMs.toString,
          "graft_frame" -> Json.str(site), "stages" -> j.stages.toString,
          "tasks" -> j.tasks.toString, "task_ms" -> j.taskMs.toString)))
      }
    } finally out.close()
  }
}

object Tracer {
  final case class Span(id: Int, parent: Int, name: String, layer: String, run: String,
                        startMs: Long, startNs: Long) {
    var endMs: Long = Long.MaxValue
    var durNs: Long = 0L
  }
  final class Job(val id: Int, val startMs: Long, var endMs: Long, val site: String) {
    var stages = 0
    var tasks = 0
    var taskMs = 0L
    var gcMs = 0L
    var shuffleRead = 0L
    var shuffleWrite = 0L
    var spill = 0L
  }
  final case class Exec(phases: Map[String, (Long, Long)]) {
    def startMs: Long = phases.values.map(_._1).min
  }
}
