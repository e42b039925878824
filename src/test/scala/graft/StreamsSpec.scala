package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import java.sql.Timestamp

import graft.model.Schemas
import graft.streaming.Streams

/** Structured Streaming semantics over MemoryStream batches (SURVEY §5.2):
  * watermarked stateful dedup, windowed aggregation, and the J7
  * stream-stream join.
  */
class StreamsSpec extends SparkTestBase {
  import spark.implicits._

  private def jsonStream(lines: MemoryStream[String], schema: org.apache.spark.sql.types.StructType): DataFrame =
    lines.toDF().select(from_json(col("value"), schema).as("j")).select(col("j.*"))

  private val snap1 =
    """{"lastUpdatedOther": 1706745600, "ttl": 3600, "data": {"stations": [
      |{"station_id": 1, "num_bikes_available": 5, "num_docks_available": 10, "is_installed": 1, "is_returning": 1, "is_renting": 1, "last_reported": 1706745000},
      |{"station_id": 2, "num_bikes_available": 3, "num_docks_available": 7, "is_installed": 1, "is_returning": 1, "is_renting": 1, "last_reported": 1706745060}
      |]}}""".stripMargin.replaceAll("\n", "")

  // snapshot 2: station 1 unchanged (same last_reported) — must be deduped;
  // station 2 has a new report
  private val snap2 =
    """{"lastUpdatedOther": 1706749200, "ttl": 3600, "data": {"stations": [
      |{"station_id": 1, "num_bikes_available": 5, "num_docks_available": 10, "is_installed": 1, "is_returning": 1, "is_renting": 1, "last_reported": 1706745000},
      |{"station_id": 2, "num_bikes_available": 1, "num_docks_available": 9, "is_installed": 1, "is_renting": 1, "is_returning": 1, "last_reported": 1706748660}
      |]}}""".stripMargin.replaceAll("\n", "")

  test("ST2: watermarked stateful dedup drops cross-batch re-reports") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[String]
    val out = Streams.dedupedStationUpdates(jsonStream(mem, Schemas.velibRaw))
    val q = out.writeStream.format("memory").queryName("dedup_t")
      .outputMode("append").start()
    try {
      mem.addData(snap1); q.processAllAvailable()
      mem.addData(snap2); q.processAllAvailable()
      val got = rows(spark.table("dedup_t"))
      assert(got.size === 3, s"expected 3 deduped updates, got: $got")
      val perStation = got.groupBy(_.getAs[Long]("station_id")).view.mapValues(_.size).toMap
      assert(perStation(1L) === 1) // re-report dropped
      assert(perStation(2L) === 2)
    } finally q.stop()
  }

  test("ST3: streaming hourly aggregate emits finalized windows after watermark") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[String]
    val out = Streams.hourlyAvailabilityStream(jsonStream(mem, Schemas.velibRaw))
    val q = out.writeStream.format("memory").queryName("hourly_t")
      .outputMode("append").start()
    try {
      mem.addData(snap1); q.processAllAvailable()
      // push event time far past the watermark so the first hour closes
      mem.addData(
        """{"lastUpdatedOther": 1706760000, "ttl": 3600, "data": {"stations": [{"station_id": 9, "num_bikes_available": 1, "num_docks_available": 1, "is_installed": 1, "is_returning": 1, "is_renting": 1, "last_reported": 1706760000}]}}""")
      q.processAllAvailable()
      mem.addData(
        """{"lastUpdatedOther": 1706770000, "ttl": 3600, "data": {"stations": [{"station_id": 9, "num_bikes_available": 1, "num_docks_available": 1, "is_installed": 1, "is_returning": 1, "is_renting": 1, "last_reported": 1706770000}]}}""")
      q.processAllAvailable()
      val got = rows(spark.table("hourly_t"))
      val m = got.map(r => (r.getAs[Timestamp]("hour_start"), r.getAs[Long]("station_id")) ->
        r.getAs[Long]("n_reports")).toMap
      assert(m.contains((Timestamp.valueOf("2024-01-31 23:00:00"), 1L)))
      assert(m((Timestamp.valueOf("2024-01-31 23:00:00"), 2L)) === 1L)
    } finally q.stop()
  }

  test("session windows merge sub-gap bursts, emit immutably after the watermark") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[String]
    val out = Streams.sessionizedActivity(
      Streams.dedupedStationUpdates(jsonStream(mem, Schemas.velibRaw)))
    val q = out.writeStream.format("memory").queryName("sessions_t")
      .outputMode("append").start()
    try {
      // station 1: reports 25 min apart (same session); station 2: one report
      mem.addData(
        """{"lastUpdatedOther": 1706745600, "ttl": 3600, "data": {"stations": [{"station_id": 1, "num_bikes_available": 5, "num_docks_available": 10, "is_installed": 1, "is_returning": 1, "is_renting": 1, "last_reported": 1706745000}, {"station_id": 1, "num_bikes_available": 2, "num_docks_available": 13, "is_installed": 1, "is_returning": 1, "is_renting": 1, "last_reported": 1706746500}, {"station_id": 2, "num_bikes_available": 3, "num_docks_available": 7, "is_installed": 1, "is_returning": 1, "is_renting": 1, "last_reported": 1706745060}]}}""")
      q.processAllAvailable()
      // sentinel far past the 2 h watermark closes both sessions
      mem.addData(
        """{"lastUpdatedOther": 1706763600, "ttl": 3600, "data": {"stations": [{"station_id": 9, "num_bikes_available": 1, "num_docks_available": 1, "is_installed": 1, "is_returning": 1, "is_renting": 1, "last_reported": 1706763600}]}}""")
      q.processAllAvailable()
      val got = rows(spark.table("sessions_t"))
        .map(r => (r.getAs[Long]("station_id"),
          r.getAs[Timestamp]("session_start"), r.getAs[Timestamp]("session_end"),
          r.getAs[Long]("n_reports"), r.getAs[Int]("max_bikes"))).toSet
      // 23:50 and 00:15 reports merge: end = last report + 30 min; the
      // sentinel's own (still-open) session must not appear
      assert(got === Set(
        (1L, Timestamp.valueOf("2024-01-31 23:50:00"),
          Timestamp.valueOf("2024-02-01 00:45:00"), 2L, 5),
        (2L, Timestamp.valueOf("2024-01-31 23:51:00"),
          Timestamp.valueOf("2024-02-01 00:21:00"), 1L, 3)))
    } finally q.stop()
  }

  test("ST4b: streaming EWMA folds across micro-batches and matches the batch recursion") {
    implicit val sqlCtx = spark.sqlContext
    def ts(sec: Long) = new Timestamp(sec * 1000L)
    val t0 = 1706745000L
    val mem = MemoryStream[(Long, Int, Timestamp)]
    val out = Streams.availabilityEwma(
      mem.toDF().toDF("station_id", "num_bikes_available", "last_reported"),
      alpha = 0.5)
    val q = out.writeStream.format("memory").queryName("ewma_t")
      .outputMode("append").start()
    try {
      def points() = rows(spark.table("ewma_t"))
        .map(r => (r.getAs[Long]("station_id"), r.getAs[Timestamp]("at"),
          r.getAs[Double]("ewma")))

      // seed in batch 1; continue in batch 2 — state must carry over:
      // 8; 0.5*4+0.5*8 = 6; 0.5*2+0.5*6 = 4 (the GapFillSpec sequence).
      mem.addData((1L, 8, ts(t0)))
      q.processAllAvailable()
      mem.addData((1L, 2, ts(t0 + 1200)), (1L, 4, ts(t0 + 600))) // out of order in-batch
      q.processAllAvailable()
      assert(points().toSet === Set(
        (1L, ts(t0), 8.0), (1L, ts(t0 + 600), 6.0), (1L, ts(t0 + 1200), 4.0)))

      // cross-batch straggler older than state: dropped, no point emitted
      mem.addData((1L, 100, ts(t0 + 300)))
      q.processAllAvailable()
      assert(points().size === 3)

      // evict via the 24 h idle timeout, then the returning station
      // RE-SEEDS at its raw value instead of resuming the stale mean
      val far = t0 + 30L * 3600
      mem.addData((9L, 1, ts(far))); q.processAllAvailable()
      mem.addData((9L, 1, ts(far + 60))); q.processAllAvailable()
      mem.addData((1L, 10, ts(far + 120))); q.processAllAvailable()
      val s1 = points().filter(p => p._1 == 1L && p._2 == ts(far + 120))
      assert(s1 === Seq((1L, ts(far + 120), 10.0)),
        s"evicted station must re-seed, got $s1")
    } finally q.stop()
  }

  test("ST4b: a re-delivered ping at the state's exact asOf never re-folds") {
    implicit val sqlCtx = spark.sqlContext
    def ts(sec: Long) = new Timestamp(sec * 1000L)
    val t0 = 1706745000L
    val mem = MemoryStream[(Long, Int, Timestamp)]
    val out = Streams.availabilityEwma(
      mem.toDF().toDF("station_id", "num_bikes_available", "last_reported"),
      alpha = 0.5)
    val q = out.writeStream.format("memory").queryName("ewma_rd_t")
      .outputMode("append").start()
    try {
      mem.addData((1L, 8, ts(t0))); q.processAllAvailable()
      mem.addData((1L, 4, ts(t0 + 600))); q.processAllAvailable()
      // at-least-once re-delivery of the ALREADY-FOLDED ping: with the
      // old strictly-greater stale check this re-folded
      // (0.5*4 + 0.5*6 = 5 != 6), emitting a second conflicting point
      // at t0+600 and biasing every later value
      mem.addData((1L, 4, ts(t0 + 600))); q.processAllAvailable()
      mem.addData((1L, 2, ts(t0 + 1200))); q.processAllAvailable()
      val got = rows(spark.table("ewma_rd_t"))
        .map(r => (r.getAs[Timestamp]("at"), r.getAs[Double]("ewma"))).toSet
      assert(got === Set((ts(t0), 8.0), (ts(t0 + 600), 6.0), (ts(t0 + 1200), 4.0)))
    } finally q.stop()
  }

  test("ST4: stockoutTransitions runs on a plain BATCH frame (the documented test path)") {
    // batch execution strips the watermark node, and the un-guarded
    // getCurrentWatermarkMs/setTimeoutTimestamp pair threw
    // UnsupportedOperationException on the first stateful group
    def ts(sec: Long) = new Timestamp(sec * 1000L)
    val t0 = 1706745000L
    val batch = Seq(
      (1L, 3, ts(t0)), (1L, 0, ts(t0 + 600)), (1L, 2, ts(t0 + 1200)),
      (2L, 5, ts(t0 + 60))
    ).toDF("station_id", "num_bikes_available", "last_reported")
    val got = rows(Streams.stockoutTransitions(batch).toDF()
      .orderBy(col("station_id"), col("at")))
      .map(r => (r.getAs[Long]("station_id"), r.getAs[String]("event"),
        r.getAs[Timestamp]("at")))
    assert(got === Seq(
      (1L, "stockout", ts(t0 + 600)), (1L, "restock", ts(t0 + 1200))))
  }

  test("J7: stream-stream join matches station updates to same-hour weather at-or-before") {
    implicit val sqlCtx = spark.sqlContext
    val stMem = MemoryStream[String]
    val wxMem = MemoryStream[String]
    val joined = Streams.stationWeatherJoin(
      jsonStream(stMem, Schemas.velibRaw), jsonStream(wxMem, Schemas.weatherRaw))
    val q = joined.writeStream.format("memory").queryName("join_t")
      .outputMode("append").start()
    try {
      // weather at 23:00:00 (1706742000); stations report 23:50 / 23:51
      wxMem.addData(
        """{"lat": 48.85, "lon": 2.35, "timezone": "Europe/Paris", "current": {"dt": 1706742000, "temp": 280.0, "feels_like": 278.0, "pressure": 1020, "humidity": 70, "wind_speed": 3.0, "weather": [{"id": 800, "main": "Clear", "description": "clear sky", "icon": "01d"}]}}""")
      stMem.addData(snap1)
      q.processAllAvailable()
      val got = rows(spark.table("join_t"))
      assert(got.size === 2, s"both same-hour station updates join: $got")
      assert(got.forall(_.getAs[Double]("temp") === 280.0))
      // a station reporting in a LATER hour must not match that obs
      stMem.addData(
        """{"lastUpdatedOther": 1706749200, "ttl": 3600, "data": {"stations": [{"station_id": 3, "num_bikes_available": 2, "num_docks_available": 2, "is_installed": 1, "is_returning": 1, "is_renting": 1, "last_reported": 1706746000}]}}""")
      q.processAllAvailable()
      assert(rows(spark.table("join_t")).size === 2)
    } finally q.stop()
  }

  test("ST4: flatMapGroupsWithState emits stockout/restock transitions with bounded state") {
    implicit val sqlCtx = spark.sqlContext
    def ts(sec: Long) = new Timestamp(sec * 1000L)
    val t0 = 1706745000L
    val mem = MemoryStream[(Long, Int, Timestamp)]
    val out = Streams.stockoutTransitions(
      mem.toDF().toDF("station_id", "num_bikes_available", "last_reported"))
    val q = out.writeStream.format("memory").queryName("stockout_t")
      .outputMode("append").start()
    try {
      def events() = rows(spark.table("stockout_t"))
        .map(r => (r.getAs[Long]("station_id"), r.getAs[String]("event"),
          r.getAs[Timestamp]("at")))

      // init: station 1 stocked, station 2 empty — first sight, no events
      mem.addData((1L, 2, ts(t0)), (2L, 0, ts(t0)))
      q.processAllAvailable()
      assert(events().isEmpty)

      // transitions; station 3 arrives with TWO rows out of order in one
      // batch — the function must sort by event time, so 3 inits at t0
      // with 3 bikes and stocks out at t0+600, not the reverse.
      mem.addData((1L, 0, ts(t0 + 600)), (2L, 4, ts(t0 + 600)),
        (3L, 0, ts(t0 + 600)), (3L, 3, ts(t0)))
      q.processAllAvailable()
      assert(events().toSet === Set(
        (1L, "stockout", ts(t0 + 600)),
        (2L, "restock", ts(t0 + 600)),
        (3L, "stockout", ts(t0 + 600))))

      // cross-batch straggler older than station 2's state: ignored, no
      // spurious transition. Station 1 still empty: no event either.
      mem.addData((2L, 0, ts(t0)), (1L, 0, ts(t0 + 1200)))
      q.processAllAvailable()
      assert(events().size === 3)

      // advance the watermark ~30 h with a sentinel station, then once
      // more so station 1's 24 h idle timeout fires and evicts its state
      val far = t0 + 30L * 3600
      mem.addData((9L, 1, ts(far))); q.processAllAvailable()
      mem.addData((9L, 1, ts(far + 60))); q.processAllAvailable()
      // station 1 reports stocked after eviction: fresh init, NO restock
      // (with live state this would emit one — state must be gone)
      mem.addData((1L, 5, ts(far + 120))); q.processAllAvailable()
      assert(events().size === 3,
        s"evicted station must re-init silently, got: ${events()}")
    } finally q.stop()
  }

  test("ST5: foreachBatch loads each batch once, never re-delivers across restarts") {
    import java.nio.file.{Files, Paths}
    val drop = Files.createTempDirectory("fbdrop").toString
    val ckpt = Files.createTempDirectory("fbckpt").toString
    val loaded = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)] // (batchId, station_id)

    def runOnce(): Unit = {
      val stream = Streams.dedupedStationUpdates(Streams.velibStream(spark, drop))
      val q = Streams.foreachBatchLoad(stream, ckpt) { (batch, id) =>
        batch.collect().foreach(r => loaded += ((id, r.getAs[Long]("station_id"))))
      }.start()
      q.awaitTermination(60000)
      assert(!q.isActive)
    }

    Files.writeString(Paths.get(drop, "s1.json"), snap1)
    runOnce()
    assert(loaded.map(_._2).sorted === Seq(1L, 2L))

    // restart with the same checkpoint and no new data: nothing replays
    runOnce()
    assert(loaded.size === 2, s"committed batch was re-delivered: $loaded")

    // new file: only the new data arrives, in a later batch
    Files.writeString(Paths.get(drop, "s2.json"), snap2)
    runOnce()
    val newRows = loaded.drop(2)
    assert(newRows.map(_._2) === Seq(2L), s"expected only station 2's new report: $loaded")
    assert(newRows.head._1 > loaded.head._1) // strictly later batch id
  }

  test("ST1: AvailableNow trigger processes what exists then stops") {
    import java.nio.file.Files
    val drop = Files.createTempDirectory("drop").toString
    val outP = Files.createTempDirectory("out").toString
    val ckpt = Files.createTempDirectory("ckpt").toString
    java.nio.file.Files.writeString(java.nio.file.Paths.get(drop, "s1.json"), snap1)
    val stream = Streams.dedupedStationUpdates(Streams.velibStream(spark, drop))
    val q = Streams.availableNowParquetWriter(stream, outP, ckpt).start()
    q.awaitTermination(60000)
    assert(!q.isActive) // AvailableNow terminates on its own
    assert(spark.read.parquet(outP).count() === 2)
  }

  /** One GBFS station-status line: (station_id, bikes, last_reported s). */
  private def snapshot(reports: (Long, Int, Long)*): String =
    reports.map { case (id, bikes, at) =>
      s"""{"station_id": $id, "num_bikes_available": $bikes, "num_docks_available": 10, "is_installed": 1, "is_returning": 1, "is_renting": 1, "last_reported": $at}"""
    }.mkString("""{"lastUpdatedOther": 1706745600, "ttl": 3600, "data": {"stations": [""", ", ", "]}}")

  private def commitCount(ckpt: String): Int =
    Option(new java.io.File(ckpt, "commits").listFiles()).getOrElse(Array.empty)
      .count(_.getName.forall(_.isDigit))

  /** Runs `dedupedStationUpdates` over `drop` to completion through
    * `writer` and returns the finished query.
    */
  private def runDedup(drop: String)(
      writer: DataFrame => org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row])
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val q = writer(Streams.dedupedStationUpdates(Streams.velibStream(spark, drop))).start()
    q.awaitTermination(60000)
    assert(!q.isActive)
    q
  }

  private def availableNowParquet(out: String, ckpt: String)(df: DataFrame) =
    df.writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())

  private def lateDrops(q: org.apache.spark.sql.streaming.StreamingQuery): Long =
    q.recentProgress.flatMap(_.stateOperators).map(_.numRowsDroppedByWatermark).sum

  /** A fresh drop dir plus output and checkpoint dirs for the one-batch
    * writer and for an AvailableNow writer over the same drops.
    */
  private def onceVsAvailableNowDirs(prefix: String): (String, Seq[String]) = {
    val base = java.nio.file.Files.createTempDirectory(prefix)
    (java.nio.file.Files.createDirectory(base.resolve("drop")).toString,
      Seq("once_out", "once_ckpt", "an_out", "an_ckpt").map(base.resolve(_).toString))
  }

  private def outKeys(path: String): Seq[(Long, Long)] =
    spark.read.parquet(path).select("station_id", "last_reported").collect()
      .map(r => (r.getLong(0), r.getTimestamp(1).getTime / 1000)).sorted.toSeq

  test("availableNowParquetWriter: one micro-batch per run, same rows as AvailableNow") {
    import java.nio.file.{Files, Paths}
    val (drop, Seq(onceOut, onceCkpt, anOut, anCkpt)) = onceVsAvailableNowDirs("onebatch")
    val t0 = 1706745000L
    val drops = Seq(
      snapshot((1L, 5, t0), (2L, 3, t0 + 60)),
      // station 1 re-reported within the watermark: dedup state drops it;
      // station 2 moves the watermark to t0 + 3 h, past station 1's expiry
      snapshot((1L, 5, t0), (2L, 1, t0 + 5 * 3600)),
      // station 1's report again, now older than the watermark;
      // station 2 re-reported within the watermark; station 3 is new
      snapshot((1L, 5, t0), (2L, 1, t0 + 5 * 3600), (3L, 7, t0 + 5 * 3600 + 60)))
    def runOnce() = runDedup(drop)(Streams.availableNowParquetWriter(_, onceOut, onceCkpt))
    def outRows(path: String) =
      spark.read.parquet(path).collect().map(_.toSeq.mkString("|")).sorted.toSeq

    val runs = drops.zipWithIndex.map { case (body, i) =>
      Files.writeString(Paths.get(drop, s"s$i.json"), body)
      val once = runOnce()
      assert(commitCount(onceCkpt) === i + 1, s"run ${i + 1} must commit exactly one batch")
      (once, runDedup(drop)(availableNowParquet(anOut, anCkpt)))
    }
    // the chain moved the watermark, so AvailableNow ran trailing batches
    assert(commitCount(anCkpt) > drops.size)
    // The stale repeat is late for AvailableNow's last data batch. Spark
    // filters late rows by the PREVIOUS batch's watermark, one run older
    // here, so with one batch per run the dedup state, whose eviction was
    // deferred to this batch, drops it instead.
    assert(lateDrops(runs.last._2) === 1)
    assert(lateDrops(runs.last._1) === 0)
    val once = outRows(onceOut)
    assert(once === outRows(anOut))
    assert(outKeys(onceOut) ===
      Seq((1L, t0), (2L, t0 + 60), (2L, t0 + 5 * 3600), (3L, t0 + 5 * 3600 + 60)))

    // a run with no new file commits nothing and adds no row
    runOnce()
    assert(commitCount(onceCkpt) === drops.size)
    assert(outRows(onceOut) === once)
  }

  test("availableNowParquetWriter: a never-seen report older than the watermark passes the one-run-older late filter") {
    import java.nio.file.{Files, Paths}
    val (drop, Seq(onceOut, onceCkpt, anOut, anCkpt)) = onceVsAvailableNowDirs("onebatch_late")
    val t0 = 1706745000L
    // run 2 moves the watermark from t0 - 2 h to t0 + 3 h; run 3 brings
    // station 4's first report, stamped t0 + 2 h
    Seq(snapshot((1L, 5, t0)), snapshot((1L, 4, t0 + 5 * 3600)),
        snapshot((4L, 9, t0 + 2 * 3600))).zipWithIndex.foreach { case (body, i) =>
      Files.writeString(Paths.get(drop, s"s$i.json"), body)
      runDedup(drop)(Streams.availableNowParquetWriter(_, onceOut, onceCkpt))
      runDedup(drop)(availableNowParquet(anOut, anCkpt))
    }
    // AvailableNow's late filter already sits at t0 + 3 h and drops it;
    // one batch per run filters at run 2's batch watermark, t0 - 2 h, and
    // admits it. Spark's watermark contract allows either for a row
    // beyond the 2 h delay.
    assert(outKeys(anOut) === Seq((1L, t0), (1L, t0 + 5 * 3600)))
    assert(outKeys(onceOut) === Seq((1L, t0), (1L, t0 + 5 * 3600), (4L, t0 + 2 * 3600)))
  }

  test("availableNowParquetWriter rejects plans that need the trailing batch") {
    import java.nio.file.Files
    val raw = Streams.velibStream(spark, Files.createTempDirectory("reject").toString)
    val curated = graft.transform.Velib.curateStations(graft.transform.Velib.flattenStations(raw))
    val out = Files.createTempDirectory("reject_out").toString
    val ckpt = Files.createTempDirectory("reject_ckpt").toString
    val windowed = Streams.hourlyAvailabilityStream(raw)
    val keyedOnStation = curated.withWatermark("last_reported", "2 hours")
      .dropDuplicatesWithinWatermark("station_id")
    for (df <- Seq(windowed, keyedOnStation)) {
      val e = intercept[IllegalArgumentException](
        Streams.availableNowParquetWriter(df, out, ckpt))
      assert(e.getMessage.contains("one micro-batch per run"))
      assert(e.getMessage.contains("Run this plan with Trigger.AvailableNow() instead"))
    }
    // no stateful operator: nothing for a trailing batch to do
    Streams.availableNowParquetWriter(curated, out, ckpt)
  }

  test("stream-static enrichment: left join keeps facts missing from the dim") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[String]
    val dim = Seq((1L, "north")).toDF("station_id", "district")
    val out = Streams.enrichWithDim(
      Streams.dedupedStationUpdates(jsonStream(mem, Schemas.velibRaw)),
      dim, "station_id")
    val q = out.writeStream.format("memory").queryName("enrich_t")
      .outputMode("append").start()
    try {
      mem.addData(snap1); q.processAllAvailable()
      val got = rows(spark.table("enrich_t")
        .select(col("station_id"), col("district")))
        .map(r => r.getLong(0) -> Option(r.getString(1))).toMap
      assert(got === Map(1L -> Some("north"), 2L -> None))
    } finally { q.stop(); spark.catalog.dropTempView("enrich_t") }
  }

  test("streamingLatestMerge: cross-batch straggler never regresses the target") {
    import java.nio.file.Files
    implicit val sqlCtx = spark.sqlContext
    val target = Files.createTempDirectory("merge_t").toString + "/t"
    val ckpt = Files.createTempDirectory("merge_c").toString
    val mem = MemoryStream[(Long, Int, Timestamp)]
    val updates = mem.toDF()
      .toDF("station_id", "num_bikes_available", "last_reported")
      .withWatermark("last_reported", "2 hours")
    def runBatch(data: (Long, Int, Timestamp)*): Unit = {
      mem.addData(data: _*)
      val q = Streams.streamingLatestMerge(
        updates, "station_id", "last_reported", target, ckpt).start()
      q.awaitTermination(60000)
    }
    val t0 = new Timestamp(1706745000000L)
    val t1 = new Timestamp(1706748600000L)
    runBatch((1L, 5, t1), (2L, 3, t0))
    // batch 2 carries a STRAGGLER for station 1 (older than the target
    // row) and a genuine update for station 2 — timestamp-keyed merge
    // must keep station 1 at t1 and advance station 2
    runBatch((1L, 9, t0), (2L, 7, t1))
    val got = rows(Streams.readLatestMergeTarget(spark, target)
      .select(col("station_id"), col("num_bikes_available"), col("last_reported")))
      .map(r => (r.getLong(0), r.getInt(1), r.getTimestamp(2))).toSet
    assert(got === Set((1L, 5, t1), (2L, 7, t1)))
    // exactly one committed snapshot remains after GC (plus the pointer)
    val files = new java.io.File(target).listFiles().map(_.getName).toSet
    assert(files.count(_.startsWith("v")) === 1, s"snapshot GC left: $files")
  }

  test("streamingLatestMerge: replaying a committed batch never rewrites the live snapshot") {
    import java.nio.file.Files
    implicit val sqlCtx = spark.sqlContext
    val target = Files.createTempDirectory("merge_rp").toString + "/t"
    val ckpt = Files.createTempDirectory("merge_rp_c").toString
    val mem = MemoryStream[(Long, Int, Timestamp)]
    val updates = mem.toDF()
      .toDF("station_id", "num_bikes_available", "last_reported")
      .withWatermark("last_reported", "2 hours")
    def runBatch(data: (Long, Int, Timestamp)*): Unit = {
      mem.addData(data: _*)
      val q = Streams.streamingLatestMerge(
        updates, "station_id", "last_reported", target, ckpt).start()
      q.awaitTermination(60000)
    }
    val t0 = new Timestamp(1706745000000L)
    runBatch((1L, 5, t0)) // v0 fully committed: snapshot + pointer
    val v0dir = new java.io.File(target, "v0")
    val before = v0dir.listFiles().map(_.getName).toSet
    // crash window: the pointer swung but the STREAM checkpoint's
    // commit marker was lost — delete it so the restart REPLAYS batch
    // 0 against a target whose live snapshot is already v0. The
    // replay must be a no-op: an in-place overwrite of the pointer
    // target would turn a second crash mid-rewrite into committed
    // data loss.
    val commit0 = new java.io.File(ckpt, "commits/0")
    assert(commit0.exists, "expected commit marker for batch 0")
    assert(commit0.delete())
    // the local FS shadows every log file with a .crc — leaving it
    // behind makes the replay's commit rewrite fail as a spurious
    // "concurrent query" rename conflict
    new java.io.File(ckpt, "commits/.0.crc").delete()
    runBatch() // restart; no new data, batch 0 replays
    val after = v0dir.listFiles().map(_.getName).toSet
    assert(after === before,
      "replay rewrote the live committed snapshot in place")
    val got = rows(Streams.readLatestMergeTarget(spark, target)
      .select(col("station_id"), col("num_bikes_available")))
      .map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(got === Set((1L, 5)))
  }

  test("streamingLatestMerge: a fresh checkpoint against an existing target fails fast") {
    import java.nio.file.Files
    implicit val sqlCtx = spark.sqlContext
    val target = Files.createTempDirectory("merge_ln").toString + "/t"
    val ckpt1 = Files.createTempDirectory("merge_ln_c1").toString
    val mem = MemoryStream[(Long, Int, Timestamp)]
    val updates = mem.toDF()
      .toDF("station_id", "num_bikes_available", "last_reported")
      .withWatermark("last_reported", "2 hours")
    val t0 = new Timestamp(1706745000000L)
    mem.addData((1L, 5, t0))
    val q1 = Streams.streamingLatestMerge(
      updates, "station_id", "last_reported", target, ckpt1).start()
    q1.awaitTermination(60000)
    // a NEW checkpoint restarts batch ids at 0; the pointer already
    // reads v0, so without the lineage stamp this batch would be
    // mistaken for a replay and silently dropped while the new
    // checkpoint commits it — permanent data loss
    val ckpt2 = Files.createTempDirectory("merge_ln_c2").toString
    val mem2 = MemoryStream[(Long, Int, Timestamp)]
    val updates2 = mem2.toDF()
      .toDF("station_id", "num_bikes_available", "last_reported")
      .withWatermark("last_reported", "2 hours")
    mem2.addData((2L, 7, t0))
    val q2 = Streams.streamingLatestMerge(
      updates2, "station_id", "last_reported", target, ckpt2).start()
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q2.awaitTermination(60000)
    }
    assert(e.getMessage.contains("lineage") ||
      Option(e.getCause).exists(_.getMessage.contains("lineage")), e.getMessage)
    // the original lineage's target is untouched
    val got = rows(Streams.readLatestMergeTarget(spark, target)
      .select(col("station_id"), col("num_bikes_available")))
      .map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(got === Set((1L, 5)))
  }

  test("streamingLatestMerge time travel: retain keeps immutable older snapshots") {
    import java.nio.file.Files
    implicit val sqlCtx = spark.sqlContext
    val target = Files.createTempDirectory("merge_tt").toString + "/t"
    val ckpt = Files.createTempDirectory("merge_tt_c").toString
    val mem = MemoryStream[(Long, Int, Timestamp)]
    val updates = mem.toDF()
      .toDF("station_id", "num_bikes_available", "last_reported")
      .withWatermark("last_reported", "2 hours")
    def runBatch(data: (Long, Int, Timestamp)*): Unit = {
      mem.addData(data: _*)
      val q = Streams.streamingLatestMerge(
        updates, "station_id", "last_reported", target, ckpt, retain = 3).start()
      q.awaitTermination(60000)
    }
    val t0 = new Timestamp(1706745000000L)
    val t1 = new Timestamp(1706748600000L)
    runBatch((1L, 5, t0))
    runBatch((1L, 7, t1), (2L, 3, t0))
    assert(Streams.mergeTargetVersions(spark, target) === Seq("v1", "v0"))
    // v0 is the state BEFORE batch 1 — still readable, bit-identical
    val v0 = rows(Streams.readMergeTargetVersion(spark, target, "v0")
      .select(col("station_id"), col("num_bikes_available")))
      .map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(v0 === Set((1L, 5)))
    val latest = rows(Streams.readLatestMergeTarget(spark, target)
      .select(col("station_id"), col("num_bikes_available")))
      .map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(latest === Set((1L, 7), (2L, 3)))
    // a GC'd / unknown version fails with the retained list
    val e = intercept[IllegalArgumentException] {
      Streams.readMergeTargetVersion(spark, target, "v9")
    }
    assert(e.getMessage.contains("retained"))
    // a stale HIGHER-numbered dir (crash straggler, or a restart whose
    // fresh checkpoint restarted batch ids) is never listed as
    // committed, never counts against the retain window, and the next
    // commit purges it instead of the live pointer target
    val stale = new java.io.File(target, "v99")
    stale.mkdirs()
    assert(Streams.mergeTargetVersions(spark, target) === Seq("v1", "v0"))
    runBatch((3L, 1, t1))
    assert(!stale.exists, "uncommitted straggler v99 survived GC")
    assert(Streams.mergeTargetVersions(spark, target) === Seq("v2", "v1", "v0"))
    assert(rows(Streams.readLatestMergeTarget(spark, target)).size === 3)
  }

  test("ST11 commit: sidecar table equals re-derived rows of the accepted " +
    "store; empty-survivor batch moves nothing; no staging residue") {
    import java.nio.file.{Files, Paths}
    import java.nio.file.attribute.FileTime
    import org.apache.spark.sql.types._
    val base = Files.createTempDirectory("admit")
    val drop = Files.createDirectories(base.resolve("drop"))
    val accepted = base.resolve("accepted").toString
    // One file per micro-batch (maxFilesPerTrigger=1), mtime-ordered:
    //   b0: doc 1 (shingled) + doc 2 (2 words — NO shingles, exact
    //       channel only; its sidecar row must carry bk NULL)
    //   b1: doc 3 = exact dup of 1 (rejected), doc 4 admitted
    //   b2: doc 5 = exact dup of 4 — ZERO survivors: the commit must
    //       move no files and skip the sidecar append (the read-back
    //       of zero paths would throw)
    val longA = "alpha beta gamma delta epsilon zeta eta theta"
    val longB = "one two three four five six seven eight nine"
    Seq(
      s"""{"doc_id":1,"text":"$longA"}""" + "\n" +
        s"""{"doc_id":2,"text":"hi there"}""",
      s"""{"doc_id":3,"text":"$longA"}""" + "\n" +
        s"""{"doc_id":4,"text":"$longB"}""",
      s"""{"doc_id":5,"text":"$longB"}"""
    ).zipWithIndex.foreach { case (content, i) =>
      val f = drop.resolve(s"b$i.json")
      Files.writeString(f, content)
      Files.setLastModifiedTime(f, FileTime.fromMillis(1700000000000L + i * 2000L))
    }
    val ckpt = Files.createTempDirectory("admitckpt").toString
    val docs = spark.readStream
      .schema(StructType(Seq(
        StructField("doc_id", LongType), StructField("text", StringType))))
      .option("maxFilesPerTrigger", 1)
      .json(drop.toString)
    val q = Streams.streamingDedupAdmission(docs, accepted, ckpt).start()
    q.awaitTermination(120000)
    assert(!q.isActive)

    val acc = spark.read.parquet(accepted)
    assert(rows(acc.select("doc_id")).map(_.getLong(0)).sorted === Seq(1L, 2L, 4L))
    // The invariant the per-batch commit must uphold for every FUTURE
    // batch's two corpus channels: the sidecar equals the rows
    // re-derived from the accepted store (fp for every doc; one bk
    // row per band, bk NULL for shingle-less docs).
    val expected = acc
      .select(col("doc_id"),
        graft.functions.Text.normalizedFingerprint(col("text")).as("fp"))
      .join(graft.operators.Dedup.signatureRows(acc), Seq("doc_id"), "left")
    val got = spark.read.parquet(accepted + "_sigs")
    assert(got.columns.sorted === Array("bk", "doc_id", "fp"))
    val key = (r: org.apache.spark.sql.Row) =>
      (r.getAs[Long]("doc_id"), r.getAs[String]("fp"),
        Option(r.getAs[Any]("bk")).map(_.toString).orNull)
    assert(rows(got).map(key).sorted === rows(expected).map(key).sorted)
    // doc 2 (no shingles) appears exactly once, with a NULL band key
    assert(rows(got.filter(col("doc_id") === 2)).map(key) ===
      Seq((2L, rows(expected.filter(col("doc_id") === 2)).head.getAs[String]("fp"), null)))
    // staging is cleaned up even after the empty-survivor batch
    assert(!Files.exists(Paths.get(accepted + ".staging")),
      "staging dir left behind by the commit step")
  }

  test("ST11 replay: committed batch skips via its marker; a marker-less " +
    "partial land is cleaned and redone — exactly-once either side of the crash") {
    import java.nio.file.{Files, Paths}
    import java.nio.file.attribute.FileTime
    import org.apache.spark.sql.types._
    val base = Files.createTempDirectory("admitreplay")
    val drop = Files.createDirectories(base.resolve("drop"))
    val accepted = base.resolve("accepted").toString
    val longA = "alpha beta gamma delta epsilon zeta eta theta"
    val longB = "one two three four five six seven eight nine"
    val longC = "red orange yellow green blue indigo violet umber"
    Seq(
      s"""{"doc_id":1,"text":"$longA"}""",
      s"""{"doc_id":4,"text":"$longB"}""",
      s"""{"doc_id":6,"text":"$longC"}""" // last batch LANDS files (6 is new)
    ).zipWithIndex.foreach { case (content, i) =>
      val f = drop.resolve(s"b$i.json")
      Files.writeString(f, content)
      Files.setLastModifiedTime(f, FileTime.fromMillis(1700000000000L + i * 2000L))
    }
    val ckpt = Files.createTempDirectory("admitreplayckpt").toString
    def runOnce(): Unit = {
      val docs = spark.readStream
        .schema(StructType(Seq(
          StructField("doc_id", LongType), StructField("text", StringType))))
        .option("maxFilesPerTrigger", 1)
        .json(drop.toString)
      val q = Streams.streamingDedupAdmission(docs, accepted, ckpt).start()
      q.awaitTermination(120000)
      assert(!q.isActive)
    }
    runOnce()
    def docIds = rows(spark.read.parquet(accepted).select("doc_id"))
      .map(_.getLong(0)).sorted
    def landedNames = new java.io.File(accepted).listFiles()
      .filter(_.isFile).map(_.getName).sorted.toSeq
    assert(docIds === Seq(1L, 4L, 6L))
    val names0 = landedNames
    val marker = new java.io.File(accepted, "_commits/batch-2")
    assert(marker.exists, "commit marker for the last batch missing")

    // (a) the checkpoint's OWN commit record for the last batch is
    // lost, but the store marker survived: the replay must recognize
    // the fully-committed batch and skip — doc 6 must not double-land
    assert(new java.io.File(ckpt, "commits/2").delete())
    new java.io.File(ckpt, "commits/.2.crc").delete()
    runOnce()
    assert(docIds === Seq(1L, 4L, 6L), "marker-committed batch re-landed on replay")
    assert(landedNames === names0, "replay of a committed batch changed the store files")

    // (b) crash BEFORE the marker: files landed, marker absent. The
    // replay must delete the b2-* partial land and redo it — the
    // deterministic names make the redo byte-identical, not additive.
    assert(new java.io.File(ckpt, "commits/2").delete())
    new java.io.File(ckpt, "commits/.2.crc").delete()
    assert(marker.delete())
    assert(names0.exists(_.startsWith("b2-")), "fixture should land b2-* files")
    runOnce()
    assert(docIds === Seq(1L, 4L, 6L), "partial-land replay duplicated the batch")
    // the redo's PART COUNT may differ from the original attempt (AQE
    // may split the same 1-row land across a different number of
    // tasks) — the exactly-once guarantee is content, enforced by the
    // cleanup-then-land order, not a byte-identical file layout. What
    // must hold: every data file still belongs to a b<id>- land (no
    // UUID stragglers from a replayed write), and the doc set and
    // sidecar (below) are exactly the originals.
    assert(landedNames.filterNot(_.startsWith("."))
      .forall(n => n.startsWith("b0-") || n.startsWith("b1-") ||
        n.startsWith("b2-")), s"non-deterministic file names landed: $landedNames")
    assert(marker.exists, "redo did not rewrite the commit marker")
    // the sidecar invariant holds through both replays
    val acc = spark.read.parquet(accepted)
    val expected = acc
      .select(col("doc_id"),
        graft.functions.Text.normalizedFingerprint(col("text")).as("fp"))
      .join(graft.operators.Dedup.signatureRows(acc), Seq("doc_id"), "left")
    val got = spark.read.parquet(accepted + "_sigs")
    val key = (r: org.apache.spark.sql.Row) =>
      (r.getAs[Long]("doc_id"), r.getAs[String]("fp"),
        Option(r.getAs[Any]("bk")).map(_.toString).orNull)
    assert(rows(got).map(key).sorted === rows(expected).map(key).sorted)
    assert(!Files.exists(Paths.get(accepted + ".staging")) &&
      !Files.exists(Paths.get(accepted + ".sigstaging")),
      "staging residue after replay")
  }

  test("ST11 lineage: a fresh checkpoint against an existing admission store " +
    "fails fast instead of marker-skipping the new stream's batches") {
    import java.nio.file.{Files, Paths}
    import java.nio.file.attribute.FileTime
    import org.apache.spark.sql.types._
    val base = Files.createTempDirectory("admitlineage")
    val drop = Files.createDirectories(base.resolve("drop"))
    val accepted = base.resolve("accepted").toString
    val f = drop.resolve("b0.json")
    Files.writeString(f,
      """{"doc_id":1,"text":"alpha beta gamma delta epsilon zeta eta theta"}""")
    Files.setLastModifiedTime(f, FileTime.fromMillis(1700000000000L))
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    def start(ckpt: String) = Streams.streamingDedupAdmission(
      spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
        .json(drop.toString),
      accepted, ckpt).start()
    val ckpt1 = Files.createTempDirectory("admitlc1").toString
    val q1 = start(ckpt1)
    q1.awaitTermination(120000)
    assert(!q1.isActive)
    assert(Files.exists(Paths.get(accepted, "_commits", "batch-0")))
    // a NEW checkpoint restarts batch ids at 0: without the lineage
    // stamp, batch-0's marker would silently swallow the new stream's
    // first batch — admission loss. A second fixture makes the new
    // stream actually have a batch 0 to lose.
    val f2 = drop.resolve("b1.json")
    Files.writeString(f2,
      """{"doc_id":2,"text":"one two three four five six seven eight nine"}""")
    Files.setLastModifiedTime(f2, FileTime.fromMillis(1700000002000L))
    val q2 = start(Files.createTempDirectory("admitlc2").toString)
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q2.awaitTermination(120000)
    }
    assert(e.getMessage.contains("lineage") ||
      Option(e.getCause).exists(_.getMessage.contains("lineage")), e.getMessage)
    // the original lineage still resumes fine (doc 2 admitted by it)
    val q3 = start(ckpt1)
    q3.awaitTermination(120000)
    assert(rows(spark.read.parquet(accepted).select("doc_id"))
      .map(_.getLong(0)).sorted === Seq(1L, 2L))
  }

  test("left-outer stream-stream join: unmatched report emits null weather " +
    "after the watermark passes; open sentinel stays buffered") {
    val out = rows(graft.SparkEntry.queries("q_stream_join_outer")(spark, ""))
    val byStation = out.map(r => r.getLong(0) -> r).toMap
    // 101/202 matched their hour's observation; 303's hour has none
    assert(byStation.keySet === Set(101L, 202L, 303L)) // sentinel 1 absent
    assert(!byStation(101L).isNullAt(3) && !byStation(202L).isNullAt(3))
    val unmatched = byStation(303L)
    assert(unmatched.isNullAt(3) && unmatched.isNullAt(4) && unmatched.isNullAt(5),
      s"expected null weather columns, got $unmatched")
  }
}
