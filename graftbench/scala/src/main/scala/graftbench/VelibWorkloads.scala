package graftbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

import graft.ingest.Pipeline
import graft.model.Schemas.RunContext
import graft.sources.{Sinks, Sources}
import graft.streaming.Streams
import graft.transform.Velib

import Main.{Ctx, timed}

/** The two Vélib workloads: the hourly pipeline at the reference's
  * cadence and volume, and a bulk backfill through the same transform
  * and sink code.
  */
object VelibWorkloads {

  /** Untimed warm-up lengths, fixed so that set-up time does not grow
    * with host noise, as a rule that waits for two steady ops in a row
    * would. Three hours: the first takes 8-15 s against about 1 s later.
    * One full replay after the cold one-file replay: the first timed
    * replay still runs about 15% above later ones, a cost taken so that
    * a run fits the benchmark's time budget.
    */
  private val WarmUpHours = 3
  private val WarmUpReplays = 1

  private val CuratedCols = Seq("station_id", "num_bikes_available",
    "num_docks_available", "is_installed", "is_returning", "is_renting")

  /** The generator's row digest (gen.py `row_digest`), per row. */
  private def rowDigest: org.apache.spark.sql.Column =
    conv(substring(md5(concat_ws("|",
      (CuratedCols.map(c => col(c).cast("string")) :+
        unix_timestamp(col("last_reported")).cast("string")): _*)), 1, 15), 16, 10)
      .cast("decimal(38,0)")

  private def keyDigest: org.apache.spark.sql.Column =
    conv(substring(md5(concat_ws("|", col("station_id").cast("string"),
      unix_timestamp(col("last_reported")).cast("string"))), 1, 15), 16, 10)
      .cast("decimal(38,0)")

  private def countAndDigest(df: DataFrame, digest: org.apache.spark.sql.Column): (Long, String) = {
    val r = df.agg(count(lit(1)), sum(digest)).head()
    (r.getLong(0), Option(r.getDecimal(1)).map(_.toBigInteger.toString).getOrElse("0"))
  }

  /** Analyst read over a curated zone: both canonical queries to the
    * noop sink, their row counts observed during the write.
    */
  private def analystRead(c: Ctx, spark: SparkSession, path: String): (Long, Long) = {
    val t = c.tracer
    val cur = t.span("sources.read_curated")(spark.read.parquet(path))
    val hourly = t.span("transform.hourly_availability")(Velib.hourlyAvailability(cur))
    val latest = t.span("transform.latest_per_station")(Velib.latestPerStation(cur))
    def run(df: DataFrame): Long = {
      val obs = Observation()
      t.span("read.action")(
        df.observe(obs, count(lit(1)).as("n")).write.format("noop").mode("overwrite").save())
      obs.get("n").asInstanceOf[Long]
    }
    (run(hourly), run(latest))
  }

  /** The in-memory Derby warehouse: the reference's Postgres table. */
  private object Warehouse {
    val url = "jdbc:derby:memory:graftbench;create=true"
    val props = new java.util.Properties()
    val table = "STATION_STATUS"
    val fields: Seq[String] = CuratedCols ++ Seq("last_reported", "execution_date")

    def create(): Unit = {
      val conn = java.sql.DriverManager.getConnection(url, props)
      try {
        val st = conn.createStatement()
        st.executeUpdate(s"CREATE TABLE $table (station_id BIGINT, " +
          "num_bikes_available INT, num_docks_available INT, is_installed INT, " +
          "is_returning INT, is_renting INT, last_reported TIMESTAMP, " +
          "execution_date TIMESTAMP, load_batch_id VARCHAR(32), load_part_id INT)")
        st.executeUpdate(s"CREATE INDEX station_status_load ON $table (load_batch_id, load_part_id)")
        st.close()
      } finally conn.close()
    }

    /** Rows in the table, per load batch id. */
    def rowsPerBatch(): Map[String, Long] = {
      val conn = java.sql.DriverManager.getConnection(url, props)
      try {
        val rs = conn.createStatement().executeQuery(
          s"SELECT load_batch_id, COUNT(*) FROM $table GROUP BY load_batch_id")
        var out = Map.empty[String, Long]
        while (rs.next()) out += rs.getString(1) -> rs.getLong(2)
        out
      } finally conn.close()
    }

    /** Idempotent load of `df` under `batchId`; returns its seconds. */
    def load(t: Tracer, df: => DataFrame, batchId: String): Double =
      timed(t.span("sinks.jdbc_load")(
        Sinks.jdbcIdempotentLoad(df, url, table, fields, batchId, props)))._2
  }

  /** One `Trigger.AvailableNow` run of the deduped station stream over
    * the files in `drop`; returns its seconds, from `start()` to
    * `awaitTermination()`.
    */
  private def streamRun(t: Tracer, spark: SparkSession, drop: String,
      out: String, ckpt: String): Double = {
    val updates = t.span("transform.deduped_station_updates")(
      Streams.dedupedStationUpdates(Streams.velibStream(spark, drop)))
    val (q, s) = timed {
      val q = t.span("streaming.run")(
        Streams.availableNowParquetWriter(updates, out, ckpt).start())
      q.awaitTermination()
      q
    }
    t.streamRun(q.recentProgress.toSeq)
    s
  }

  private def filesUnder(path: String): Seq[java.nio.file.Path] = {
    val root = Paths.get(path)
    if (!Files.exists(root)) Nil
    else {
      val s = Files.walk(root)
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.filter(p => p.toString.endsWith(".parquet")).toList
      } finally s.close()
    }
  }

  private def readTsv(path: String): Seq[Array[String]] =
    new String(Files.readAllBytes(Paths.get(path)), StandardCharsets.UTF_8)
      .split("\n").filter(_.nonEmpty).map(_.split("\t")).toSeq

  // ------------------------------------------------------------------
  // velib_hourly

  def hourly(c: Ctx): Unit = {
    val spark = c.session
    val t = c.tracer
    val in = s"${c.work}/input"
    val base = s"${c.work}/zone"
    val curated = s"$base/curated/station_status"
    val drop = s"${c.work}/drop"
    val streamOut = s"${c.work}/stream_out"
    val ckpt = s"${c.work}/stream_ckpt"
    Files.createDirectories(Paths.get(drop))
    // hour \t snapshot epoch \t raw station rows, from the generator
    val hours = readTsv(s"$in/hours.tsv").map(a => (a(0).toInt, a(1).toLong, a(2).toLong))

    Warehouse.create()

    val fmt = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")
      .withZone(java.time.ZoneOffset.UTC)
    var stationCurated = Map.empty[Int, Long]
    var processed = Seq.empty[Int]

    /** One hour: the four steps of the op. */
    def hour(h: Int, epoch: Long, rawRows: Long, timedOp: Boolean, traced: Boolean): Unit = {
      val body = new String(Files.readAllBytes(Paths.get(f"$in/velib/hour_$h%04d.json")), StandardCharsets.UTF_8)
      val wbody = new String(Files.readAllBytes(Paths.get(f"$in/weather/hour_$h%04d.json")), StandardCharsets.UTF_8)
      val rc = RunContext(fmt.format(java.time.Instant.ofEpochSecond(epoch)),
        "velib_spark", "transform_station_data")
      t.op(spark, "hour", traced) {
        val before = if (traced) filesUnder(curated).toSet else Set.empty[java.nio.file.Path]
        // (1) curated-table freshness: both branches into the parquet zone.
        // runAll calls each branch's transport first thing, so the weather
        // transport's call marks where the station branch ends.
        var weatherAt = 0L
        val t0 = System.nanoTime()
        val res = Pipeline.runAll(spark, _ => body,
          _ => { weatherAt = System.nanoTime(); wbody }, "weather://paris", rc, base,
          retryAttempts = 1)
        val t1 = System.nanoTime()
        val ingestS = (t1 - t0) / 1e9
        t.interval("ingest.station_branch", t0, weatherAt)
        t.interval("ingest.weather_branch", weatherAt, t1)
        val st = res("station_status")
        stationCurated += h -> st.curatedRows
        c.observe(s"hour.$h.weather_rows", res("weather").curatedRows)
        t.value("raw_rows", rawRows.toDouble)
        t.value("curated_rows", st.curatedRows.toDouble)
        if (traced) {
          val added = filesUnder(curated).filterNot(before)
          t.value("files_written", added.size.toDouble)
          t.value("bytes_written", added.map(p => Files.size(p).toDouble).sum)
        }
        // (2) S3 -> Postgres: this hour's curated rows into the warehouse
        val loadS = Warehouse.load(t,
          t.span("sources.read_curated")(spark.read.parquet(curated))
            .where(col("ingest_date") === lit(rc.executionDate.take(10)).cast("date") &&
              col("execution_date") === lit(rc.executionDate).cast("timestamp")),
          s"h$h")
        t.value("jdbc_rows", st.curatedRows.toDouble)
        // (3) the same snapshot through one AvailableNow stream run
        val tmp = Paths.get(drop, f".hour_$h%04d.json.tmp")
        Files.write(tmp, body.getBytes(StandardCharsets.UTF_8))
        Files.move(tmp, Paths.get(drop, f"hour_$h%04d.json"), StandardCopyOption.ATOMIC_MOVE)
        val streamS = streamRun(t, spark, drop, streamOut, ckpt)
        // (4) the analyst read over the growing zone
        val ((groups, stations), readS) = timed(analystRead(c, spark, curated))
        c.observe(s"hour.$h.read_groups", groups)
        c.observe(s"hour.$h.read_stations", stations)
        processed :+= h
        System.err.println(f"[graftbench] hour $h ingest $ingestS%.3f load $loadS%.3f " +
          f"stream $streamS%.3f read $readS%.3f s")
        if (timedOp) {
          c.sample("op", ingestS)
          c.sample("load", loadS)
          c.sample("stream", streamS)
          c.sample("read", readS)
          c.rawRows += rawRows
          c.rowsOpS += ingestS
        }
      }
    }

    val it = hours.iterator
    (1 to WarmUpHours).foreach { _ =>
      val (h, e, r) = it.next()
      hour(h, e, r, timedOp = false, traced = false)
    }
    c.firstTimedMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    var i = 0
    while ((System.nanoTime() - t0) / 1e9 < c.seconds && it.hasNext) {
      val (h, e, r) = it.next()
      c.attempt(s"hour $h")(hour(h, e, r, timedOp = true, traced = c.trace && i % 2 == 0))
      i += 1
    }
    c.runS = (System.nanoTime() - t0) / 1e9
    System.err.println(f"[graftbench] timed region: ${c.runS}%.1f s")
    if (c.trace) c.sample("trace_overhead", traceOverhead(t))

    // ---- output checks, outside the timed region ----
    c.observe("hours", processed.mkString(","))
    processed.foreach(h => c.observe(s"hour.$h.branch_curated_rows", stationCurated.getOrElse(h, -1L)))
    val zone = spark.read.parquet(curated)
    zone.groupBy(unix_timestamp(col("execution_date")).as("e"))
      .agg(count(lit(1)).as("n"), sum(rowDigest).as("d"))
      .collect().foreach { r =>
        c.observe(s"epoch.${r.getLong(0)}.curated_rows", r.getLong(1))
        c.observe(s"epoch.${r.getLong(0)}.curated_digest", r.getDecimal(2).toBigInteger)
      }
    // raw station rows landed per run, keyed by the snapshot time
    Sources.readVelibRaw(spark, s"$base/raw/velib")
      .groupBy(col("lastUpdatedOther")).agg(sum(size(col("data.stations"))))
      .collect().foreach(r => c.observe(s"epoch.${r.getLong(0)}.raw_rows", r.getLong(1)))
    Warehouse.rowsPerBatch().foreach { case (b, n) => c.observe(s"jdbc.$b.rows", n) }
    val (sn, sd) = countAndDigest(spark.read.parquet(streamOut), keyDigest)
    c.observe("stream.rows", sn)
    c.observe("stream.digest", sd)
  }

  /** Median traced op minus median untraced op, over the timed ops. */
  private def traceOverhead(t: Tracer): Double = {
    val timedOps = t.ops.drop(t.ops.indexWhere(_.traced))
    Tracer.median(timedOps.filter(_.traced).map(_.wallS).toSeq) -
      Tracer.median(timedOps.filterNot(_.traced).map(_.wallS).toSeq)
  }

  // ------------------------------------------------------------------
  // velib_backfill

  def backfill(c: Ctx): Unit = {
    val spark = c.session
    val t = c.tracer
    val rawDir = s"${c.work}/input/raw"
    // the cold first replay reads one raw file: its own directory, as
    // the stream source takes a directory
    val firstDir = s"${c.work}/input/raw_first"
    Files.createDirectories(Paths.get(firstDir))
    Files.copy(Paths.get(rawDir, "part-0000.json"), Paths.get(firstDir, "part-0000.json"))
    // raw station rows \t the day the load step reloads, from the generator
    val Seq(rawRowsField, loadDay) = readTsv(s"${c.work}/input/slice.tsv").head.toSeq
    val rawRows = rawRowsField.toLong
    val rc = RunContext("2024-03-01 00:00:00", "velib_spark", "backfill_station_data")
    Warehouse.create()
    def curatedDir(k: Int) = s"${c.work}/curated_$k"
    def streamDir(k: Int) = s"${c.work}/stream_out_$k"
    var outs = Seq.empty[(Int, Long)]  // full replays: (k, curated rows observed)

    /** One catch-up after downtime: the batch replay of the slice, the
      * reload of one of its days into the warehouse, the stream consumer
      * catching up on the slice in one AvailableNow run, and the analyst
      * read over the replay's output.
      */
    def replay(k: Int, timedOp: Boolean, traced: Boolean, firstFileOnly: Boolean = false): Unit = {
      val out = curatedDir(k)
      val in = if (firstFileOnly) firstDir else rawDir
      t.op(spark, "replay", traced) {
        // (1) the batch replay: raw zone -> curated parquet
        val obs = Observation()
        val (_, opS) = timed {
          val raw = t.span("sources.read_velib_raw")(Sources.readVelibRaw(spark, in))
          val cur = t.span("transform.curate_chain")(
            Velib.withRunMetadata(Velib.dedupSnapshots(
              Velib.curateStations(Velib.flattenStations(raw))), rc)
              .withColumn("ingest_date", to_date(col("last_reported"))))
          t.span("sinks.curated_write")(Sinks.writeCuratedParquet(
            cur.observe(obs, count(lit(1)).as("n")), out, Seq("ingest_date")))
        }
        val n = obs.get("n").asInstanceOf[Long]
        if (!firstFileOnly) outs :+= (k -> n)
        t.value("raw_rows", rawRows.toDouble)
        t.value("curated_rows", n.toDouble)
        if (traced) {
          val files = filesUnder(out)
          t.value("files_written", files.size.toDouble)
          t.value("bytes_written", files.map(p => Files.size(p).toDouble).sum)
        }
        // (2) reload one day of the replay into the warehouse, replacing
        // the previous replay's copy (same batch id)
        val loadS = Warehouse.load(t,
          t.span("sources.read_curated")(spark.read.parquet(out))
            .where(col("ingest_date") === lit(loadDay).cast("date")),
          "day")
        if (traced) t.value("jdbc_rows", Warehouse.rowsPerBatch().getOrElse("day", 0L).toDouble)
        // (3) the stream consumer catches up on the slice, from a fresh checkpoint
        val streamS = streamRun(t, spark, in, streamDir(k), s"${c.work}/stream_ckpt_$k")
        // (4) the analyst read over the replay's output
        val ((groups, stations), readS) = timed(analystRead(c, spark, out))
        System.err.println(f"[graftbench] replay $k op $opS%.3f load $loadS%.3f " +
          f"stream $streamS%.3f read $readS%.3f s")
        if (!firstFileOnly) {
          c.observe(s"replay.${outs.size - 1}.read_groups", groups)
          c.observe(s"replay.${outs.size - 1}.read_stations", stations)
        }
        if (timedOp) {
          c.sample("op", opS)
          c.sample("load", loadS)
          c.sample("stream", streamS)
          c.sample("read", readS)
          c.rawRows += rawRows
          c.rowsOpS += opS
        }
      }
    }

    // the first, cold replay runs on one raw file only: it pays the
    // JIT and code-generation start-up at a fraction of the slice's cost
    replay(0, timedOp = false, traced = false, firstFileOnly = true)
    (1 to WarmUpReplays).foreach(k => replay(k, timedOp = false, traced = false))
    var k = WarmUpReplays + 1
    c.firstTimedMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    var i = 0
    while ((System.nanoTime() - t0) / 1e9 < c.seconds) {
      c.attempt(s"replay $k")(replay(k, timedOp = true, traced = c.trace && i % 2 == 0))
      k += 1; i += 1
    }
    c.runS = (System.nanoTime() - t0) / 1e9
    System.err.println(f"[graftbench] timed region: ${c.runS}%.1f s")
    if (c.trace) c.sample("trace_overhead", traceOverhead(t))

    // ---- output checks, outside the timed region ----
    c.observe("raw_rows", Velib.flattenStations(Sources.readVelibRaw(spark, rawDir)).count())
    // every replay's observed count and stream output count; rows and
    // digests re-read from the last replay (each replay writes the same
    // slice to fresh directories)
    outs.zipWithIndex.foreach { case ((k, n), j) =>
      c.observe(s"replay.$j.observed_rows", n)
      c.observe(s"replay.$j.stream_rows", spark.read.parquet(streamDir(k)).count())
    }
    val last = outs.last._1
    val (rows, digest) = countAndDigest(spark.read.parquet(curatedDir(last)), rowDigest)
    c.observe("last.curated_rows", rows)
    c.observe("last.curated_digest", digest)
    val (sn, sd) = countAndDigest(spark.read.parquet(streamDir(last)), keyDigest)
    c.observe("last.stream_rows", sn)
    c.observe("last.stream_digest", sd)
    c.observe("jdbc.day.rows", Warehouse.rowsPerBatch().getOrElse("day", 0L))
  }
}
