package graftbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryProgress
import org.apache.spark.sql.util.QueryExecutionListener

/** In-memory trace of one benchmark run, measured from outside the
  * library: spans around the public calls the benchmark makes, plus
  * Spark's own listener events, attributed to the op that was running.
  *
  * The op id travels to Spark as the `graftbench.op` local property, so
  * every job, stage and task of an op (streaming jobs too: the stream
  * thread inherits local properties) carries it. Catalyst phase times
  * come from the `QueryExecution.tracker` of each finished action,
  * attributed by time, which is exact because ops run one at a time.
  * A SQL execution belongs to the sinks layer when its short call site
  * (its description, e.g. `parquet at Sinks.scala:53`) is in Sinks.scala.
  *
  * Nothing is recorded while `recording` is false, so a traced run can
  * interleave untraced ops and report the cost of tracing.
  */
final class Tracer(cpus: Int) {
  import Tracer._

  @volatile var recording = false
  private var opId = -1
  private var parents = List.empty[Int]
  val spans = ArrayBuffer.empty[Span]
  val ops = ArrayBuffer.empty[Op]

  // job and stage ids restart with each SparkContext: keys carry the
  // session generation in their high bits
  private var generation = 0L
  private val jobs = new ConcurrentHashMap[Long, Job]()
  private val stageOp = new ConcurrentHashMap[Long, Integer]()
  private val stagesPerOp = new ConcurrentHashMap[Int, AtomicLong]()
  private val tasks = new ConcurrentHashMap[Int, TaskSums]()
  private val execs = new ConcurrentHashMap[Long, Exec]()
  private val phases = new java.util.concurrent.ConcurrentLinkedQueue[Phase]()
  private val events = new AtomicLong()

  /** Streaming progress of each traced stream run, per op. */
  val streamRuns = ArrayBuffer.empty[(Int, Seq[StreamingQueryProgress])]
  /** Per-op values the benchmark observes itself (rows, files, bytes). */
  val opValues = ArrayBuffer.empty[(Int, String, Double)]

  private var listener: SparkListener = _

  def install(spark: SparkSession): Unit = {
    generation += 1
    listener = newListener(generation << 32)
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
  }

  def uninstall(spark: SparkSession): Unit = {
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
  }

  /** Run one op; when `traced`, its jobs and spans are recorded. */
  def op[T](spark: SparkSession, kind: String, traced: Boolean)(body: => T): T = {
    val id = ops.size
    recording = traced
    opId = if (traced) id else -1
    spark.sparkContext.setLocalProperty(OpKey, if (traced) id.toString else null)
    val opStart = System.currentTimeMillis()
    val t0 = System.nanoTime()
    try body
    finally {
      val wall = (System.nanoTime() - t0) / 1e9
      ops += Op(id, kind, traced, opStart, System.currentTimeMillis(), wall)
      spark.sparkContext.setLocalProperty(OpKey, null)
      recording = false
      opId = -1
    }
  }

  /** Record a span around `body` (a call into one public function). */
  def span[T](name: String)(body: => T): T =
    if (!recording) body
    else {
      val idx = spans.size
      spans += null
      val parent = parents.headOption.getOrElse(-1)
      parents = idx :: parents
      val s = System.currentTimeMillis()
      val t0 = System.nanoTime()
      try body
      finally {
        parents = parents.tail
        spans(idx) = Span(name, s, System.currentTimeMillis(),
          (System.nanoTime() - t0) / 1e9, parent, opId)
      }
    }

  /** Record a span over an interval measured by the caller, in
    * `System.nanoTime` readings: for a stretch inside one public call
    * that only the call's own callbacks mark.
    */
  def interval(name: String, fromNs: Long, toNs: Long): Unit =
    if (recording) {
      val nowNs = System.nanoTime()
      val nowMs = System.currentTimeMillis()
      def ms(ns: Long): Long = nowMs - (nowNs - ns) / 1000000L
      spans += Span(name, ms(fromNs), ms(toNs), (toNs - fromNs) / 1e9,
        parents.headOption.getOrElse(-1), opId)
    }

  /** Spans outside any op (session start and recycle) are always kept. */
  def always[T](name: String)(body: => T): T = {
    val was = recording
    recording = true
    try span(name)(body) finally recording = was
  }

  def value(name: String, v: Double): Unit =
    if (recording) opValues += ((opId, name, v))

  def streamRun(progress: Seq[StreamingQueryProgress]): Unit =
    if (recording) streamRuns += ((opId, progress))

  /** Wait until the listener bus has delivered every event (no new
    * event for a quiet period, every started job ended).
    */
  def drain(): Unit = {
    val deadline = System.currentTimeMillis() + 10000
    var last = -1L
    while (System.currentTimeMillis() < deadline &&
      (events.get() != last ||
        jobs.values().asScala.exists(_.end == 0L))) {
      last = events.get()
      Thread.sleep(300)
    }
  }

  private def newListener(gen: Long): SparkListener = new SparkListener {
    private def opOf(p: java.util.Properties): Int =
      Option(p).flatMap(x => Option(x.getProperty(OpKey))).map(_.toInt).getOrElse(-1)

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      events.incrementAndGet()
      val op = opOf(e.properties)
      if (op >= 0) {
        jobs.put(gen + e.jobId, Job(op, e.time, 0L))
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      events.incrementAndGet()
      Option(jobs.get(gen + e.jobId)).foreach(j => jobs.put(gen + e.jobId, j.copy(end = e.time)))
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
      events.incrementAndGet()
      val op = opOf(e.properties)
      if (op >= 0) {
        stageOp.put(gen + e.stageInfo.stageId, op)
        stagesPerOp.computeIfAbsent(op, _ => new AtomicLong()).incrementAndGet()
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      events.incrementAndGet()
      val op = stageOp.get(gen + e.stageId)
      if (op != null && e.taskMetrics != null) {
        val m = e.taskMetrics
        tasks.computeIfAbsent(op, _ => new TaskSums()).add(
          m.executorRunTime / 1e3, m.executorCpuTime / 1e9, m.jvmGCTime / 1e3,
          m.inputMetrics.bytesRead, m.inputMetrics.recordsRead,
          m.shuffleWriteMetrics.bytesWritten,
          m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead,
          m.shuffleReadMetrics.fetchWaitTime / 1e3,
          m.memoryBytesSpilled + m.diskBytesSpilled)
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        events.incrementAndGet()
        execs.put(gen + s.executionId, Exec(s.time, 0L, s.description.contains("Sinks.scala")))
      case x: SparkListenerSQLExecutionEnd =>
        events.incrementAndGet()
        Option(execs.get(gen + x.executionId)).foreach(v =>
          execs.put(gen + x.executionId, v.copy(end = x.time)))
      case _ =>
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      events.incrementAndGet()
      val ph = qe.tracker.phases
      def ms(k: String): Double = ph.get(k).map(p => (p.endTimeMs - p.startTimeMs).toDouble).getOrElse(0.0)
      val start = ph.values.map(_.startTimeMs).minOption.getOrElse(0L)
      phases.add(Phase(start, ms("analysis"), ms("optimization"), ms("planning")))
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  /** Per-layer metrics: each one per traced op, as a median over ops. */
  def layerMetrics(): Map[String, Double] = {
    val traced = ops.filter(_.traced)
    val byOp = traced.map(o => o.id -> o).toMap
    val opJobs = jobs.values().asScala.toSeq.groupBy(_.op)
    val opSpans: Map[Int, Seq[Span]] = spans.filter(s => s != null && s.op >= 0).toSeq.groupBy(_.op)
    val opPhases = traced.map { o =>
      o.id -> phases.asScala.filter(p => p.start >= o.startMs && p.start <= o.endMs).toSeq
    }.toMap
    val opExecs = traced.map { o =>
      o.id -> execs.values().asScala.filter(x => x.start >= o.startMs && x.start <= o.endMs).toSeq
    }.toMap
    def spanSum(op: Int, p: String => Boolean): Double =
      opSpans.getOrElse(op, Nil).filter(s => p(s.name)).map(_.seconds).sum
    def values(op: Int, name: String): Seq[Double] =
      opValues.collect { case (`op`, `name`, v) => v }.toSeq
    def valueSum(op: Int, name: String): Double = values(op, name).sum
    val streamsByOp = streamRuns.groupBy(_._1)

    def perOp(f: Op => Double): Double = median(traced.map(f).toSeq)

    val ingestSpans = (o: Op) => opSpans.getOrElse(o.id, Nil)
      .filter(s => s.name == "ingest.station_branch" || s.name == "ingest.weather_branch")
    def jobsWithin(o: Op, ss: Seq[Span]): Seq[Job] =
      opJobs.getOrElse(o.id, Nil).filter(j => ss.exists(s => j.start >= s.startMs && j.start <= s.endMs))
    def progress(o: Op): Seq[StreamingQueryProgress] =
      streamsByOp.getOrElse(o.id, Nil).flatMap(_._2).toSeq
    def dur(o: Op, k: String): Double =
      progress(o).map(p => Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)).sum
    def state(o: Op)(f: org.apache.spark.sql.streaming.StateOperatorProgress => Double): Double =
      streamsByOp.getOrElse(o.id, Nil).map(_._2.lastOption.map(_.stateOperators.map(f).sum).getOrElse(0.0)).sum
    def t(o: Op): TaskSums = Option(tasks.get(o.id)).getOrElse(new TaskSums())

    val harness = Map(
      "harness.new_session_s" -> median(spans.filter(s => s != null && s.name == "harness.new_session").map(_.seconds).toSeq),
      "harness.recycle_s" -> median(spans.filter(s => s != null && s.name == "harness.recycle").map(_.seconds).toSeq))
    harness ++ Map(
      "ingest.station_branch_s" -> perOp(o => spanSum(o.id, _ == "ingest.station_branch")),
      "ingest.weather_branch_s" -> perOp(o => spanSum(o.id, _ == "ingest.weather_branch")),
      "ingest.jobs_per_hour" -> perOp(o => jobsWithin(o, ingestSpans(o)).size.toDouble),
      "ingest.driver_gap_s" -> perOp { o =>
        val ss = ingestSpans(o)
        ss.map(_.seconds).sum - union(jobsWithin(o, ss).map(j => (j.start, j.end))) / 1e3
      },
      "transform.construct_ms" -> perOp(o => 1e3 * spanSum(o.id, _.startsWith("transform."))),
      "transform.dedup_keep_ratio" -> perOp { o =>
        val raw = valueSum(o.id, "raw_rows")
        if (raw > 0) valueSum(o.id, "curated_rows") / raw else 0.0
      },
      "sources.resolve_s" -> perOp(o => spanSum(o.id, _.startsWith("sources."))),
      "sources.input_bytes" -> perOp(o => t(o).inputBytes.toDouble),
      "sources.input_rows" -> perOp(o => t(o).inputRows.toDouble),
      "sinks.curated_write_s" -> perOp(o =>
        opExecs(o.id).filter(x => x.inSinks && x.end > 0).map(x => (x.end - x.start) / 1e3).sum),
      "sinks.files_written" -> perOp(o => valueSum(o.id, "files_written")),
      "sinks.bytes_per_row" -> perOp { o =>
        val rows = valueSum(o.id, "curated_rows")
        if (rows > 0) valueSum(o.id, "bytes_written") / rows else 0.0
      },
      "sinks.jdbc_load_s" -> perOp(o => spanSum(o.id, _ == "sinks.jdbc_load")),
      "sinks.jdbc_rows_per_s" -> perOp { o =>
        val s = spanSum(o.id, _ == "sinks.jdbc_load")
        if (s > 0) valueSum(o.id, "jdbc_rows") / s else 0.0
      },
      "streaming.trigger_ms" -> perOp(o => dur(o, "triggerExecution")),
      "streaming.latest_offset_ms" -> perOp(o => dur(o, "latestOffset")),
      "streaming.query_planning_ms" -> perOp(o => dur(o, "queryPlanning")),
      "streaming.add_batch_ms" -> perOp(o => dur(o, "addBatch")),
      "streaming.wal_commit_ms" -> perOp(o => dur(o, "walCommit")),
      "streaming.commit_offsets_ms" -> perOp(o => dur(o, "commitOffsets")),
      "streaming.batches_per_run" -> perOp(o => progress(o).size.toDouble),
      "streaming.state_rows" -> perOp(o => state(o)(_.numRowsTotal.toDouble)),
      "streaming.state_bytes" -> perOp(o => state(o)(_.memoryUsedBytes.toDouble)),
      "streaming.rows_dropped_by_watermark" -> perOp(o =>
        progress(o).map(_.stateOperators.map(_.numRowsDroppedByWatermark.toDouble).sum).sum),
      "catalyst.analysis_ms" -> perOp(o => opPhases(o.id).map(_.analysisMs).sum),
      "catalyst.optimization_ms" -> perOp(o => opPhases(o.id).map(_.optimizationMs).sum),
      "catalyst.planning_ms" -> perOp(o => opPhases(o.id).map(_.planningMs).sum),
      "scheduler.jobs_per_op" -> perOp(o => opJobs.getOrElse(o.id, Nil).size.toDouble),
      "scheduler.stages_per_op" -> perOp(o =>
        Option(stagesPerOp.get(o.id)).map(_.get.toDouble).getOrElse(0.0)),
      "scheduler.tasks_per_op" -> perOp(o => t(o).tasks.toDouble),
      "executor.run_s" -> perOp(o => t(o).runS),
      "executor.cpu_s" -> perOp(o => t(o).cpuS),
      "executor.gc_s" -> perOp(o => t(o).gcS),
      "executor.busy_share" -> perOp(o => t(o).runS / (byOp(o.id).wallS * cpus)),
      "shuffle.write_bytes" -> perOp(o => t(o).shuffleWrite.toDouble),
      "shuffle.read_bytes" -> perOp(o => t(o).shuffleRead.toDouble),
      "shuffle.fetch_wait_s" -> perOp(o => t(o).fetchWaitS),
      "spill.bytes" -> perOp(o => t(o).spill.toDouble))
  }

  /** Spans as JSON lines, for the trace file of a traced run. */
  def spanLines: Seq[String] = spans.filter(_ != null).map { s =>
    s"""{"name":"${s.name}","start_ms":${s.startMs},"end_ms":${s.endMs},""" +
      s""""seconds":${s.seconds},"parent":${s.parent},"op":${s.op}}"""
  }.toSeq
}

object Tracer {
  val OpKey = "graftbench.op"

  final case class Span(name: String, startMs: Long, endMs: Long,
      seconds: Double, parent: Int, op: Int)
  final case class Op(id: Int, kind: String, traced: Boolean,
      startMs: Long, endMs: Long, wallS: Double)
  final case class Job(op: Int, start: Long, end: Long)
  final case class Exec(start: Long, end: Long, inSinks: Boolean)
  final case class Phase(start: Long, analysisMs: Double,
      optimizationMs: Double, planningMs: Double)

  final class TaskSums {
    var tasks = 0L; var runS = 0.0; var cpuS = 0.0; var gcS = 0.0
    var inputBytes = 0L; var inputRows = 0L
    var shuffleWrite = 0L; var shuffleRead = 0L; var fetchWaitS = 0.0; var spill = 0L
    def add(run: Double, cpu: Double, gc: Double, inB: Long, inR: Long,
        sw: Long, sr: Long, fw: Double, sp: Long): Unit = synchronized {
      tasks += 1; runS += run; cpuS += cpu; gcS += gc
      inputBytes += inB; inputRows += inR
      shuffleWrite += sw; shuffleRead += sr; fetchWaitS += fw; spill += sp
    }
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** Total length of the union of [start, end] intervals, in ms. */
  def union(iv: Seq[(Long, Long)]): Double = {
    var total = 0.0
    var curS = Long.MinValue; var curE = Long.MinValue
    iv.filter(_._2 > 0).sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }
}
