package graft
import org.apache.spark.sql.SparkSession

/** Shared plumbing for the harness mains (Verify / Bench / VerifyTwice /
  * RunQ): ONE session recipe, ONE core-count read ([[cpus]]) and ONE
  * `SPARK_GRAFT_ONLY` parse. The session confs (UTC session zone,
  * scoped shuffle partitions, no UI) are load-bearing for oracle
  * parity — a harness-wide conf change that reaches only two of the
  * three mains gives a main whose results silently differ from the
  * others, which is exactly how the session.timeZone class of
  * divergence starts.
  */
object Harness {

  /** Session-recycle cadence of [[sweep]]: ONE constant, so retuning
    * the ThreadLocal-pollution mitigation reaches every registry-sweeping
    * main at once.
    */
  val RecycleEvery = 8

  /** Core count for the harness mains' sessions: the env var when set,
    * else this host's available processors.
    */
  def cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS",
    Runtime.getRuntime.availableProcessors.toString)

  def newSession(cpus: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      // AQE coalescing floor (guide §2): with parallelismFirst (the
      // default) AQE targets shuffleBytes/defaultParallelism per
      // post-shuffle partition but clamps at minPartitionSize = 1 MB —
      // on this registry's MB-scale shuffles that packs CPU-heavy
      // stages into 1-5 tasks while the other cores idle (r13 stage
      // log: q_dedup_spans ran its whole rewrite in 1-task stages;
      // the verify stage of q_dedup_prefix got 5 tasks on 32 cores).
      // Bytes are a poor proxy for CPU here (small shuffled rows fan
      // out into heavy per-row work). 64k keeps coalescing for truly
      // tiny exchanges but lets a 3 MB shuffle spread across the
      // session's cores. Scale-inert by construction: any exchange
      // past ~32 MB at 32 cores already beats the floor, so a 100 TB
      // deployment sees identical plans.
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Stop + clear a session so the next [[newSession]] builds a fresh
    * SparkContext (the builder reuses a live default session unless
    * both slots are cleared) — the recycle step of the chunked-run
    * pattern every registry-sweeping main uses (see Bench's
    * ThreadLocal-degradation note for why recycling exists).
    */
  def recycle(spark: SparkSession): Unit = {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  /** Run `f` over `names` in order, on a fresh [[newSession]] for every
    * [[RecycleEvery]] names, recycling each session after its chunk: the
    * one registry-sweep loop of Bench, VerifyTwice and PlanAudit.
    */
  def sweep[A](names: Seq[String], cpus: String)(
      f: (SparkSession, String) => A): Seq[(String, A)] =
    names.grouped(RecycleEvery).flatMap { chunk =>
      val spark = newSession(cpus)
      try chunk.map(n => n -> f(spark, n)) finally recycle(spark)
    }.toSeq

  /** Sorted registry names selected by `SPARK_GRAFT_ONLY` (everything
    * when unset), with the matches-nothing warnings EVERY main must
    * print: a typo'd filter that selects zero queries must never read
    * as a green run. `tag` names the main for the stderr lines.
    */
  def selectedNames(tag: String): Seq[String] = {
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    only.foreach { o =>
      val unknown = o.diff(SparkEntry.queries.keySet)
      if (unknown.nonEmpty)
        System.err.println(
          s"[$tag] WARNING: SPARK_GRAFT_ONLY names unknown queries: " +
            unknown.mkString(", "))
      if (o.intersect(SparkEntry.queries.keySet).isEmpty)
        System.err.println(s"[$tag] WARNING: SPARK_GRAFT_ONLY selected 0 queries")
    }
    SparkEntry.queries.keys.toSeq.sorted.filter(n => only.forall(_.contains(n)))
  }

  /** True when `SPARK_GRAFT_ONLY` is set — subset runs are iteration
    * aids: Bench neither compares them with bench_total.json nor
    * overwrites it, the prior artifact the next full run's trend
    * compares against.
    */
  def isSubsetRun: Boolean = sys.env.contains("SPARK_GRAFT_ONLY")
}
