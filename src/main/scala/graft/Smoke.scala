package graft

/** Local smoke runner: exercises SparkEntry.entry exactly as the driver's
  * rows>0 check does, on the harness session recipe. Run:
  * sbt "runMain graft.Smoke". */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = Harness.newSession(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"))
    val df = SparkEntry.entry(spark)
    val n = df.count()
    println(s"ENTRY_ROWS=$n")
    df.show(5, truncate = false)
    require(n > 0, "entry returned no rows")
    spark.stop()
  }
}
