package graft

/** Single-query profiler: runs one registered query with a noop-sink
  * evaluation, printing elapsed time and the formatted physical plan.
  *
  * The timer wraps query CONSTRUCTION plus the noop write — several
  * registry queries (iterative graph ops, the streaming harnesses,
  * anything ending in a driver-side re-wrap) do their real work
  * eagerly while the frame is being built, and timing only the final
  * write under-reports them to near zero (observed: q_graph_pagerank
  * 0.4 s by write-only timer vs 9 s true cost). Two in-JVM passes:
  * pass 1 carries the JIT/classload cold-start a fresh JVM pays
  * (~2x on short queries), pass 2 approximates graft.Bench's warm-JVM
  * conditions — compare pass 2 against bench trend numbers.
  *
  * Usage: graft.RunQ <queryName> [sfDir] */
object RunQ {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val spark = Harness.newSession(Harness.cpus)
    // plan printed from its OWN construction, outside any timer — an
    // explain inside the timed window would bill plan formatting to
    // the reported write component (and eager queries would run their
    // work a third time)
    if (sys.env.contains("SPARK_GRAFT_STAGELOG"))
      spark.sparkContext.addSparkListener(
        new org.apache.spark.scheduler.SparkListener {
          override def onStageCompleted(
              s: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
            val i = s.stageInfo
            val m = i.taskMetrics
            System.err.println(
              f"[stagelog] stage=${i.stageId}%3d tasks=${i.numTasks}%3d " +
                f"wall=${(i.completionTime.getOrElse(0L) - i.submissionTime.getOrElse(0L)) / 1e3}%7.3f s " +
                f"run=${m.executorRunTime / 1e3}%7.3f s " +
                f"cpu=${m.executorCpuTime / 1e9}%7.3f s " +
                f"shRead=${m.shuffleReadMetrics.totalBytesRead}%9d " +
                f"shWrite=${m.shuffleWriteMetrics.bytesWritten}%9d  " +
                i.name.take(100))
          }
        })
    if (sys.env.contains("SPARK_GRAFT_JOBLOG"))
      spark.sparkContext.addSparkListener(
        new org.apache.spark.scheduler.SparkListener {
          private val starts =
            new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
          override def onJobStart(
              j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
            starts.put(j.jobId, (System.nanoTime(),
              Option(j.properties.getProperty("spark.job.description"))
                .getOrElse("?").take(80)))
          override def onJobEnd(
              j: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
            val (t0, d) = starts.getOrDefault(j.jobId, (0L, "?"))
            System.err.println(f"[joblog] job=${j.jobId}%3d ${(System.nanoTime() - t0) / 1e9}%7.3f s  $d")
          }
        })
    SparkEntry.queries(name)(spark, sfDir).explain("formatted")
    (1 to 2).foreach { pass =>
      val t0 = System.nanoTime()
      val df = SparkEntry.queries(name)(spark, sfDir)
      val tBuilt = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      val t1 = System.nanoTime()
      println(f"ELAPSED p$pass ${(t1 - t0) / 1e9}%.3f sec " +
        f"(construct ${(tBuilt - t0) / 1e9}%.3f + write ${(t1 - tBuilt) / 1e9}%.3f)")
    }
    spark.stop()
  }
}
