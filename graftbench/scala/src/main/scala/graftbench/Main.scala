package graftbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** The benchmark JVM: runs one workload against graft's public entry
  * points and writes what it measured and observed as one JSON file.
  * `run.py` generates the inputs beforehand and checks the observations
  * against the generator's ledger afterwards.
  *
  * Usage: `graftbench.Main <workload> <seconds> <trace 0|1>
  *   <work dir> <setup clock start, epoch ms> <result file> <cpus>`
  */
object Main {

  /** Everything one workload needs. */
  final class Ctx(val seconds: Double, val trace: Boolean, val work: String,
      val cpus: Int, val tracer: Tracer) {
    /** Timing samples by name, in seconds. */
    val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
    /** Observations the checker compares with the ledger. */
    val observed = mutable.LinkedHashMap.empty[String, String]
    val errors = mutable.ArrayBuffer.empty[String]
    var attempted = 0
    var failed = 0
    var firstTimedMs = 0L
    var runS = 0.0
    var rawRows = 0.0  // raw station rows ingested by timed ops
    var rowsOpS = 0.0  // batch-op seconds those rows took

    def sample(name: String, s: Double): Unit =
      samples.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += s

    def observe(name: String, v: Any): Unit = observed(name) = v.toString

    private var spark: SparkSession = _

    def session: SparkSession = {
      if (spark == null) {
        spark = tracer.always("harness.new_session")(graft.Harness.newSession(cpus.toString))
        if (trace) tracer.install(spark)
      }
      spark
    }

    def recycle(): Unit = if (spark != null) {
      if (trace) {
        tracer.drain()
        tracer.uninstall(spark)
      }
      tracer.always("harness.recycle")(graft.Harness.recycle(spark))
      spark = null
    }

    /** Run one timed op: a throw counts as failed and is never timed. */
    def attempt[T](what: String)(body: => T): Option[T] = {
      attempted += 1
      try Some(body)
      catch {
        case e: Throwable =>
          failed += 1
          val msg = s"$what: ${e.getClass.getName}: ${e.getMessage}"
          errors += msg.take(500)
          System.err.println(s"[graftbench] FAILED $msg")
          e.printStackTrace()
          None
      }
    }
  }

  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def main(args: Array[String]): Unit = {
    val Array(workload, seconds, trace, work, setupStartMs, out, cpus) = args
    val ctx = new Ctx(seconds.toDouble, trace == "1",
      work, cpus.toInt, new Tracer(cpus.toInt))
    // load the collation tables up front, as Bench does: the first
    // collation-aware expression otherwise pays for them mid-op
    try Class.forName("org.apache.spark.sql.catalyst.util.CollationAwareUTF8String")
    catch { case _: ClassNotFoundException => () }
    def mark(what: String): Unit = System.err.println(
      s"[graftbench] $what ${(System.currentTimeMillis() - setupStartMs.toLong) / 1e3} s after set-up start")
    mark("benchmark JVM up")
    workload match {
      case "velib_hourly" => VelibWorkloads.hourly(ctx)
      case "velib_backfill" => VelibWorkloads.backfill(ctx)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    mark("workload and its checks done")
    ctx.recycle()
    // Stopping a session leaves each stream's state-store provider loaded
    // until Spark's maintenance thread unloads it, up to a minute later;
    // the backfill's stream state is ~50 MB a run. Unload them now, so the
    // heap below does not depend on how many runs the maintenance missed.
    org.apache.spark.sql.execution.streaming.state.StateStore.stop()
    val layers = if (ctx.trace) ctx.tracer.layerMetrics() else Map.empty[String, Double]
    System.gc()
    val rt = Runtime.getRuntime
    val heapMb = (rt.totalMemory() - rt.freeMemory()) / 1048576.0

    val j = new StringBuilder("{")
    def field(k: String, v: String): Unit = {
      if (j.length > 1) j ++= ","
      j ++= Json.str(k) ++= ":" ++= v
    }
    field("attempted", ctx.attempted.toString)
    field("failed", ctx.failed.toString)
    field("setup_s", ((ctx.firstTimedMs - setupStartMs.toLong) / 1e3).toString)
    field("run_s", ctx.runS.toString)
    field("driver_heap_mb", heapMb.toString)
    field("raw_rows", ctx.rawRows.toString)
    field("rows_op_s", ctx.rowsOpS.toString)
    field("samples", Json.obj(ctx.samples.map { case (k, v) => k -> Json.arr(v.map(_.toString)) }))
    field("observed", Json.obj(ctx.observed.map { case (k, v) => k -> Json.str(v) }))
    field("errors", Json.arr(ctx.errors.map(Json.str)))
    field("layers", Json.obj(layers.toSeq.sortBy(_._1).map { case (k, v) => k -> v.toString }))
    j ++= "}"
    Files.write(Paths.get(out), j.toString.getBytes(StandardCharsets.UTF_8))
    if (ctx.trace)
      Files.write(Paths.get(work, "spans.jsonl"),
        ctx.tracer.spanLines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
  }
}

object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
  def arr(xs: Iterable[String]): String = xs.mkString("[", ",", "]")
  def obj(kv: Iterable[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
