package graft.tools

import graft.{Harness, SparkEntry}

/** Interleaved A/B timer: alternates a TARGET query with a fixed
  * CONTROL query inside one process, several reps, fresh session per
  * pair (Bench's recycle conditions). The control's rep-to-rep drift
  * measures the host window; the target's floor net of that drift is
  * its true cost. This is how a Bench trend entry is settled as code
  * or host weather: interleaving cancels the host window without any
  * calibration constant.
  *
  * Usage: graft.tools.InterleaveAB <target> [control] [reps] [sfDir]
  */
object InterleaveAB {
  def main(args: Array[String]): Unit = {
    val target = args(0)
    val control = if (args.length > 1) args(1) else "q_join_inner"
    val reps = if (args.length > 2) args(2).toInt else 10
    val sfDir = if (args.length > 3) args(3) else "/root/testdata/sf0.1"
    val cpus = Harness.cpus

    def time(name: String, s: org.apache.spark.sql.SparkSession): Double = {
      val t0 = System.nanoTime()
      SparkEntry.queries(name)(s, sfDir)
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }

    val rows = (1 to reps).map { rep =>
      // Per-pair Scratch reset: the target may read shared derivations;
      // each rep must pay the same derivation the bench's builder does.
      graft.queries.Scratch.reset()
      val s = Harness.newSession(cpus)
      val tc = time(control, s)
      val tt = time(target, s)
      Harness.recycle(s)
      println(f"[ab] rep $rep%2d control=$tc%6.2f s  target=$tt%6.2f s")
      (tc, tt)
    }
    val (cs, ts) = rows.unzip
    def stats(xs: Seq[Double]) =
      f"min=${xs.min}%.2f med=${xs.sorted.apply(xs.size / 2)}%.2f max=${xs.max}%.2f"
    println(s"[ab] control $control: ${stats(cs)}")
    println(s"[ab] target  $target: ${stats(ts)}")
  }
}
