package graft

import java.util.Properties
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

import graft.ingest.{Ingest, Pipeline}
import graft.model.Schemas.RunContext

/** End-to-end pipeline composition: both reference branches run offline
  * through injected transports, land raw, and load deduped curated
  * parquet partitioned by ingest date.
  */
class PipelineSpec extends SparkTestBase {

  private def firstLine(p: String): String =
    new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(p)))
      .linesIterator.next()

  test("runAll: fetch -> raw land -> transform -> curated load, both branches") {
    val base = java.nio.file.Files.createTempDirectory("pipe").toString
    val ctx = RunContext("2024-02-01 01:00:00", "velib_spark", "load")
    val res = Pipeline.runAll(spark,
      velibTransport = _ => firstLine(s"$FixtureDir/station_status.json"),
      weatherTransport = _ => firstLine(s"$FixtureDir/weather.json"),
      weatherUrl = Ingest.weatherUrl(48.85, 2.35, "key"),
      ctx = ctx, baseDir = base)

    assert(res("station_status").curatedRows === 3)
    assert(res("weather").curatedRows === 1)

    val curated = spark.read.parquet(s"$base/curated/station_status")
    assert(curated.count() === 3)
    // partition layout by ingest date (prunable — SURVEY §4.2)
    assert(new java.io.File(s"$base/curated/station_status/ingest_date=2024-02-01").exists())
    // raw zone is replayable: the landed snapshot re-parses
    assert(spark.read.schema(graft.model.Schemas.velibRaw)
      .json(s"$base/raw/velib").count() === 1)

    // re-running the same execution_date fails on the raw zone
    // (non-replacing K1) instead of double-loading
    intercept[Exception] {
      Pipeline.runStationBranch(spark,
        _ => firstLine(s"$FixtureDir/station_status.json"), ctx,
        s"$base/raw/velib", s"$base/curated/station_status")
    }
  }

  test("runAll retries a flaky fetch per the reference's task-retry policy") {
    val base = java.nio.file.Files.createTempDirectory("piperetry").toString
    val ctx = RunContext("2024-02-02 01:00:00", "velib_spark", "load")
    var velibCalls, weatherCalls = 0
    val sleeps = scala.collection.mutable.ArrayBuffer.empty[Long]
    // vélib fetch fails twice then recovers; weather succeeds at once —
    // the run must complete with NO wall-clock sleeps (injected sleeper)
    val res = Pipeline.runAll(spark,
      velibTransport = { _ =>
        velibCalls += 1
        if (velibCalls < 3) throw new RuntimeException("HTTP 503")
        firstLine(s"$FixtureDir/station_status.json")
      },
      weatherTransport = { _ =>
        weatherCalls += 1; firstLine(s"$FixtureDir/weather.json")
      },
      weatherUrl = Ingest.weatherUrl(48.85, 2.35, "key"),
      ctx = ctx, baseDir = base,
      retryDelayMs = 300000L, sleeper = sleeps.append(_))
    assert(res("station_status").curatedRows === 3)
    assert(velibCalls === 3 && weatherCalls === 1)
    assert(sleeps.toSeq === Seq(300000L, 600000L),
      "reference 5-min base delay, exponential, only the failing branch sleeps")
  }

  private def fixtureRun(base: String, date: String): Map[String, Pipeline.BranchResult] =
    Pipeline.runAll(spark,
      velibTransport = _ => firstLine(s"$FixtureDir/station_status.json"),
      weatherTransport = _ => firstLine(s"$FixtureDir/weather.json"),
      weatherUrl = Ingest.weatherUrl(48.85, 2.35, "key"),
      ctx = RunContext(date, "velib_spark", "load"), baseDir = base)

  /** Local properties of every job started while `body` runs, in start
    * order. Marker jobs before and after fence the window: the listener
    * bus delivers events in order, so once the closing marker's start is
    * seen, every job `body` started has been seen too.
    */
  private def jobsOf(body: => Unit): Seq[Properties] = {
    val marker = "graft.test.marker"
    val seen = new ConcurrentLinkedQueue[Properties]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        seen.add(Option(e.properties).getOrElse(new Properties()))
    }
    val sc = spark.sparkContext
    def fence(tag: String): Unit = {
      sc.setLocalProperty(marker, tag)
      try sc.parallelize(Seq(1), 1).count() finally sc.setLocalProperty(marker, null)
    }
    sc.addSparkListener(listener)
    try {
      fence("open"); body; fence("close")
      val deadline = System.nanoTime() + 30e9.toLong
      while (!seen.asScala.exists(_.getProperty(marker) == "close")) {
        assert(System.nanoTime() < deadline, "listener bus did not deliver the closing marker")
        Thread.sleep(10)
      }
    } finally sc.removeSparkListener(listener)
    seen.asScala.toSeq
      .dropWhile(_.getProperty(marker) != "open").drop(1)
      .takeWhile(_.getProperty(marker) != "close")
  }

  test("runAll starts 5 Spark jobs per hour: one parse per snapshot, no eager count") {
    val base = java.nio.file.Files.createTempDirectory("pipejobs").toString
    fixtureRun(base, "2024-02-03 01:00:00") // warm
    val jobs = jobsOf(fixtureRun(base, "2024-02-03 02:00:00"))
    // station: raw land + dedup shuffle map + curated write; weather:
    // raw land + curated write
    assert(jobs.size === 5, s"jobs: ${jobs.map(_.getProperty("callSite.short"))}")
  }

  test("runAll's jobs on both branches carry the caller's local properties") {
    val base = java.nio.file.Files.createTempDirectory("pipeprops").toString
    val sc = spark.sparkContext
    val jobs = jobsOf {
      sc.setJobGroup("pipeline-spec", "hourly run")
      sc.setLocalProperty("graft.test.caller", "pipeline-spec")
      try fixtureRun(base, "2024-02-04 01:00:00")
      finally { sc.clearJobGroup(); sc.setLocalProperty("graft.test.caller", null) }
    }
    assert(jobs.nonEmpty)
    for (p <- jobs) {
      assert(p.getProperty("graft.test.caller") === "pipeline-spec")
      assert(p.getProperty("spark.jobGroup.id") === "pipeline-spec")
    }
  }

  test("a station branch failing after its retries leaves the weather branch landed") {
    val base = java.nio.file.Files.createTempDirectory("pipestationfail").toString
    var velibCalls = 0
    val e = intercept[RuntimeException] {
      Pipeline.runAll(spark,
        velibTransport = { _ => velibCalls += 1; throw new RuntimeException("velib down") },
        weatherTransport = _ => firstLine(s"$FixtureDir/weather.json"),
        weatherUrl = Ingest.weatherUrl(48.85, 2.35, "key"),
        ctx = RunContext("2024-02-05 01:00:00", "velib_spark", "load"), baseDir = base,
        sleeper = _ => ())
    }
    assert(e.getMessage === "velib down" && e.getSuppressed.isEmpty)
    assert(velibCalls === 4, "the reference's retries=3 ran before the branch failed")
    assert(spark.read.parquet(s"$base/curated/weather").count() === 1)
    assert(!new java.io.File(s"$base/raw/velib").exists())
  }

  test("both branches failing: the station error with the weather error suppressed, no thread left") {
    val base = java.nio.file.Files.createTempDirectory("pipebothfail").toString
    val e = intercept[RuntimeException] {
      Pipeline.runAll(spark,
        velibTransport = _ => throw new RuntimeException("velib down"),
        weatherTransport = { _ =>
          Thread.sleep(300) // still running when the station branch fails
          throw new RuntimeException("weather down")
        },
        weatherUrl = Ingest.weatherUrl(48.85, 2.35, "key"),
        ctx = RunContext("2024-02-06 01:00:00", "velib_spark", "load"), baseDir = base,
        retryAttempts = 1)
    }
    assert(e.getMessage === "velib down")
    assert(e.getSuppressed.map(_.getMessage).toSeq === Seq("weather down"))
    assert(!Thread.getAllStackTraces.keySet.asScala
      .exists(t => t.getName == "graft-weather-branch" && t.isAlive))
  }
}
