package graft.ingest

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions.{col, count, lit}

import graft.model.Schemas.RunContext
import graft.sources.Sinks
import graft.transform.{Velib, Weather}

/** The composed end-to-end pipeline — the engine's equivalent of the
  * reference DAG's two branches (`airflow/dags/etl_dag.py:314-409`):
  * fetch → raw-zone land → transform → DDL → curated load. Each branch is
  * ordinary function composition; the lazy DataFrame chain is the DAG.
  *
  * Differences from the reference, by design (SURVEY.md §7.4):
  *  - loads are DEDUPED before append (`dropDuplicates` on the report
  *    key) — the reference re-inserts unchanged station reports hourly;
  *  - curated storage is parquet partitioned by ingest date instead of
  *    row-at-a-time INSERTs against Postgres;
  *  - both branches share one UTC timestamp semantics (the reference's
  *    weather branch uses container-local time, `etl_dag.py:94-96`).
  *
  * Returns the row counts the reference pushes through XCom
  * (`s3_to_postgres.py:84-86`).
  */
object Pipeline {

  final case class BranchResult(rawRows: Long, curatedRows: Long)

  /** Attach an `observe` metric so the row count is collected DURING the
    * write job (the reference's XCom metric, `s3_to_postgres.py:84-86`) —
    * a `df.count()` after the write would re-run the whole plan, which at
    * 100 TB doubles every branch.
    */
  private def observed(df: DataFrame): (DataFrame, Observation) = {
    val obs = Observation()
    (df.observe(obs, count(lit(1)).as("rows")), obs)
  }

  private def rowsOf(obs: Observation): Long =
    obs.get("rows").asInstanceOf[Long]

  /** Vélib branch (`etl_dag.py:366-405`). */
  def runStationBranch(
      spark: SparkSession,
      transport: Ingest.Transport,
      ctx: RunContext,
      rawZone: String,
      curatedPath: String,
      url: String = Ingest.VelibStatusUrl): BranchResult =
    runBranch(Ingest.fetchVelibSnapshot(spark, transport, url),
      raw => Velib.dedupSnapshots(Velib.curateStations(Velib.flattenStations(raw))),
      ctx, rawZone, curatedPath)

  /** One branch over its fetched snapshot: land it raw, then curate it,
    * stamp the run metadata and write it to the curated zone. The raw
    * land finishes before the curated write starts.
    */
  private def runBranch(
      raw: DataFrame,
      curate: DataFrame => DataFrame,
      ctx: RunContext,
      rawZone: String,
      curatedPath: String): BranchResult = {
    val (rawObs, rawMetric) = observed(raw)
    Ingest.landRaw(rawObs, rawZone, ctx.executionDate.replaceAll("[^0-9]", ""))
    val curated = Velib.withRunMetadata(curate(raw), ctx)
    val (curObs, curMetric) = observed(
      curated.withColumn("ingest_date", col("execution_date").cast("date")))
    Sinks.writeCuratedParquet(curObs, curatedPath, Seq("ingest_date"))
    BranchResult(rowsOf(rawMetric), rowsOf(curMetric))
  }

  /** Both branches, like start >> [weather, stations] >> end
    * (`etl_dag.py:409`), which the reference runs in parallel
    * (`concurrency=2`, `etl_dag.py:320`). The weather branch runs on a
    * thread created for this call while the station branch runs on the
    * caller's thread; both submit their jobs to the one SparkContext. At
    * the reference's volume a branch is mostly driver-side fixed cost, so
    * the overlap hides most of the shorter (weather) branch instead of
    * adding it. The thread is fresh, not pooled, because a new thread
    * inherits the caller's SparkContext local properties (job group,
    * scheduler pool, tags), so every job either branch starts carries
    * them. Within a branch the order is kept: the raw-zone landing
    * finishes before the curated write starts, so a re-run fails on the
    * non-replacing raw zone before it appends curated rows twice.
    *
    * The branches fail independently, like two Airflow tasks: a failing
    * station branch does not stop the weather branch from landing its
    * row. `runAll` joins the weather thread before it returns or throws;
    * it throws the station error if that branch failed (with the weather
    * error, if any, added as suppressed), else the weather error.
    *
    * Each transport is wrapped in [[Ingest.withRetry]] with the
    * reference DAG's own task-retry policy — `retries=3` with a
    * 5-minute delay (`etl_dag.py:331-332`), i.e. 4 attempts total —
    * applied at the fetch edge, the only step here that talks to a
    * flaky remote (withRetry backs off exponentially from the base
    * delay where Airflow's default is fixed; same cap, kinder to a
    * struggling upstream). `retryAttempts = 1` disables wrapping
    * (tests that pin a transport's exact call count pass 1).
    */
  def runAll(
      spark: SparkSession,
      velibTransport: Ingest.Transport,
      weatherTransport: Ingest.Transport,
      weatherUrl: String,
      ctx: RunContext,
      baseDir: String,
      retryAttempts: Int = 4,
      retryDelayMs: Long = 300000L,
      sleeper: Long => Unit = Thread.sleep): Map[String, BranchResult] = {
    def wrapped(t: Ingest.Transport): Ingest.Transport =
      if (retryAttempts <= 1) t
      else Ingest.withRetry(retryAttempts, retryDelayMs, sleeper)(t)
    def attempt(branch: => BranchResult): Either[Throwable, BranchResult] =
      try Right(branch) catch { case e: Throwable => Left(e) }
    // join() orders the thread's write before the read below
    var weather: Either[Throwable, BranchResult] = null
    // the weather branch (`etl_dag.py:325-364`)
    val weatherThread = new Thread(() => weather = attempt(
      runBranch(Ingest.fetchWeatherSnapshot(spark, wrapped(weatherTransport), weatherUrl),
        Weather.projectWeather, ctx, s"$baseDir/raw/weather", s"$baseDir/curated/weather")),
      "graft-weather-branch")
    weatherThread.start()
    val station = attempt(runStationBranch(spark, wrapped(velibTransport),
      ctx, s"$baseDir/raw/velib", s"$baseDir/curated/station_status"))
    weatherThread.join()
    (station, weather) match {
      case (Right(s), Right(w)) => Map("station_status" -> s, "weather" -> w)
      case (Left(e), w) =>
        w.left.foreach(we => if (we ne e) e.addSuppressed(we)); throw e
      case (_, Left(e)) => throw e
    }
  }
}
