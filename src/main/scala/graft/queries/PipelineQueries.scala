package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ingest.Ingest
import graft.model.Schemas.RunContext
import graft.sources.Sources
import graft.transform.{Velib, Weather}

/** Reference-pipeline queries over the committed raw fixtures
  * (the JSON files under fixtures/ — deterministic payloads reproducing
  * the observed API shapes, FIXTURES.md). The oracle side is a literal
  * VALUES table:
  * the fixture is tiny and fixed, so the expected output is spelled out
  * exactly — no reliance on DuckDB JSON extensions.
  *
  * These exercise S3 (schema'd JSON read), P3-P6, P9, P11, the §2.8
  * dedup fix, and A5/W1 over the reference's own data shapes.
  */
object PipelineQueries {

  private val FixtureDir = QueryUtil.fixtureRoot
  private val Ctx = RunContext("2024-02-01 01:00:00", "velib_spark", "transform_station_data")

  /** (file_name, length, sha256) over a binary-rows frame — ONE
    * projection for q_source_binary and q_source_manifest, which exist
    * to pin the SAME payload truth over two ingest routes: shared
    * code makes the sameness structural, not a copy-paste invariant.
    */
  private def binaryDigest(df: DataFrame): DataFrame =
    df.select(
        element_at(split(col("path"), "/"), -1).as("file_name"),
        col("length"),
        sha2(col("content"), 256).as("sha256"))
      .orderBy(col("file_name"))

  private def velibCurated(s: SparkSession): DataFrame =
    Velib.curateStations(Velib.flattenStations(
      Sources.readVelibRaw(s, s"$FixtureDir/station_status.json")))

  val specs: Seq[QuerySpec] = Seq(
    // P3 explode + P4 project + P5 epoch→ts + P6 metadata (the core
    // hourly transform, `etl_dag.py:225-242` + `s3_to_postgres.py:63-69`).
    QuerySpec("q_velib_flatten",
      """SELECT * FROM (VALUES
        | (CAST(99950133 AS BIGINT), 0, 25, 1, 1, 0, CAST('2024-01-31 23:45:00' AS TIMESTAMP), CAST('2024-02-01 01:00:00' AS TIMESTAMP), 'velib_spark', 'transform_station_data'),
        | (CAST(99950133 AS BIGINT), 0, 25, 1, 1, 0, CAST('2024-01-31 23:45:00' AS TIMESTAMP), CAST('2024-02-01 01:00:00' AS TIMESTAMP), 'velib_spark', 'transform_station_data'),
        | (CAST(213688169 AS BIGINT), 5, 30, 1, 1, 1, CAST('2024-01-31 23:50:00' AS TIMESTAMP), CAST('2024-02-01 01:00:00' AS TIMESTAMP), 'velib_spark', 'transform_station_data'),
        | (CAST(213688169 AS BIGINT), 4, 31, 1, 1, 1, CAST('2024-02-01 00:50:00' AS TIMESTAMP), CAST('2024-02-01 01:00:00' AS TIMESTAMP), 'velib_spark', 'transform_station_data'),
        | (CAST(19179944124 AS BIGINT), 12, 8, 1, 0, 1, CAST('2024-01-31 22:45:00' AS TIMESTAMP), CAST('2024-02-01 01:00:00' AS TIMESTAMP), 'velib_spark', 'transform_station_data'),
        | (CAST(19179944124 AS BIGINT), 11, 9, 1, 0, 1, CAST('2024-02-01 00:55:00' AS TIMESTAMP), CAST('2024-02-01 01:00:00' AS TIMESTAMP), 'velib_spark', 'transform_station_data')
        |) AS t(station_id, num_bikes_available, num_docks_available, is_installed, is_returning, is_renting, last_reported, execution_date, dag_id, task_id)
        |ORDER BY station_id, last_reported""".stripMargin) { (s, _) =>
      Velib.withRunMetadata(velibCurated(s), Ctx)
        .orderBy(col("station_id"), col("last_reported"))
    },

    // §2.8 dedup + W1 latest-per-station (the correctness fix the
    // reference lacks: stale re-reports are dropped, then one row per
    // station survives).
    QuerySpec("q_velib_latest",
      """SELECT * FROM (VALUES
        | (CAST(99950133 AS BIGINT), 0, 25, 1, 1, 0, CAST('2024-01-31 23:45:00' AS TIMESTAMP)),
        | (CAST(213688169 AS BIGINT), 4, 31, 1, 1, 1, CAST('2024-02-01 00:50:00' AS TIMESTAMP)),
        | (CAST(19179944124 AS BIGINT), 11, 9, 1, 0, 1, CAST('2024-02-01 00:55:00' AS TIMESTAMP))
        |) AS t(station_id, num_bikes_available, num_docks_available, is_installed, is_returning, is_renting, last_reported)
        |ORDER BY station_id""".stripMargin) { (s, _) =>
      Velib.latestPerStation(Velib.dedupSnapshots(velibCurated(s)))
        .orderBy(col("station_id"))
    },

    // A5 time-bucketed availability over the deduped curated rows.
    QuerySpec("q_velib_hourly",
      """SELECT * FROM (VALUES
        | (CAST('2024-01-31 22:00:00' AS TIMESTAMP), CAST(19179944124 AS BIGINT), 12, 12, CAST(1 AS BIGINT)),
        | (CAST('2024-01-31 23:00:00' AS TIMESTAMP), CAST(99950133 AS BIGINT), 0, 0, CAST(1 AS BIGINT)),
        | (CAST('2024-01-31 23:00:00' AS TIMESTAMP), CAST(213688169 AS BIGINT), 5, 5, CAST(1 AS BIGINT)),
        | (CAST('2024-02-01 00:00:00' AS TIMESTAMP), CAST(213688169 AS BIGINT), 4, 4, CAST(1 AS BIGINT)),
        | (CAST('2024-02-01 00:00:00' AS TIMESTAMP), CAST(19179944124 AS BIGINT), 11, 11, CAST(1 AS BIGINT))
        |) AS t(hour_start, station_id, max_bikes, min_bikes, n_reports)
        |ORDER BY hour_start, station_id""".stripMargin) { (s, _) =>
      Velib.hourlyAvailability(Velib.dedupSnapshots(velibCurated(s)))
        .orderBy(col("hour_start"), col("station_id"))
    },

    // F5/2.9 array-of-single-key-maps flatten: mechanical/ebike split.
    QuerySpec("q_velib_bike_types",
      """SELECT * FROM (VALUES
        | (CAST(99950133 AS BIGINT), '31104', 0, 0, CAST(1706744700 AS BIGINT)),
        | (CAST(99950133 AS BIGINT), '31104', 0, 0, CAST(1706744700 AS BIGINT)),
        | (CAST(213688169 AS BIGINT), '16107', 3, 2, CAST(1706745000 AS BIGINT)),
        | (CAST(213688169 AS BIGINT), '16107', 2, 2, CAST(1706748600 AS BIGINT)),
        | (CAST(19179944124 AS BIGINT), '9020', 7, 5, CAST(1706741100 AS BIGINT)),
        | (CAST(19179944124 AS BIGINT), '9020', 6, 5, CAST(1706748900 AS BIGINT))
        |) AS t(station_id, stationCode, num_bikes_mechanical, num_bikes_ebike, last_reported)
        |ORDER BY station_id, last_reported""".stripMargin) { (s, _) =>
      Velib.withBikeTypes(
        Velib.flattenStations(Sources.readVelibRaw(s, s"$FixtureDir/station_status.json")))
        .select(col("station_id"), col("stationCode"),
          col("num_bikes_mechanical"), col("num_bikes_ebike"), col("last_reported"))
        .orderBy(col("station_id"), col("last_reported"))
    },

    // P9 surrogate key from the notebook prototype (`research.ipynb` cell 4).
    QuerySpec("q_velib_surrogate",
      """SELECT * FROM (VALUES
        | ('99950133_1706744700', CAST(99950133 AS BIGINT), 0),
        | ('213688169_1706745000', CAST(213688169 AS BIGINT), 5),
        | ('213688169_1706748600', CAST(213688169 AS BIGINT), 4),
        | ('19179944124_1706741100', CAST(19179944124 AS BIGINT), 12),
        | ('19179944124_1706748900', CAST(19179944124 AS BIGINT), 11)
        |) AS t(id, station_id, num_bikes_available)
        |ORDER BY station_id, id""".stripMargin) { (s, _) =>
      Velib.withSurrogateKey(Velib.dedupSnapshots(velibCurated(s)))
        .select(col("id"), col("station_id"), col("num_bikes_available"))
        .orderBy(col("station_id"), col("id"))
    },

    // S2 -> K1 -> S3 end-to-end, driver-visible: the full ingest path
    // (fetch -> non-replacing raw-zone land -> schema'd re-read ->
    // flatten/curate) with the ONE imperative edge — the HTTP GET —
    // replaced by a canned transport serving the committed snapshot
    // body (the offline stand-in; everything after the transport is
    // the production code path, including the URL contract and the
    // FAILFAST parse). The forbidden re-land into the same raw-zone
    // key is attempted and its failure pinned into the oracle hash,
    // mirroring q_sink_rawjson.
    QuerySpec("q_ingest_velib",
      """SELECT * FROM (VALUES
        | (CAST(99950133 AS BIGINT), 0, 25, 1, 1, 0, CAST('2024-01-31 23:45:00' AS TIMESTAMP), TRUE),
        | (CAST(213688169 AS BIGINT), 5, 30, 1, 1, 1, CAST('2024-01-31 23:50:00' AS TIMESTAMP), TRUE),
        | (CAST(19179944124 AS BIGINT), 12, 8, 1, 0, 1, CAST('2024-01-31 22:45:00' AS TIMESTAMP), TRUE)
        |) AS t(station_id, num_bikes_available, num_docks_available, is_installed, is_returning, is_renting, last_reported, reland_failed)
        |ORDER BY station_id""".stripMargin) { (s, _) =>
      val transport: Ingest.Transport = url => {
        require(url == Ingest.VelibStatusUrl, s"unexpected URL $url")
        // one snapshot = one API response body (the fixture's first line)
        java.nio.file.Files.readAllLines(
          java.nio.file.Paths.get(s"$FixtureDir/station_status.json")).get(0)
      }
      val raw = Ingest.fetchVelibSnapshot(s, transport)
      val rawZone = QueryUtil.scratchDir("graft_ingest_v_")
      val relandFailed =
        QueryUtil.relandFails(Ingest.landRaw(raw, rawZone, "20240201-010000"))
      Velib.curateStations(Velib.flattenStations(
          Sources.readVelibRaw(s, s"$rawZone/ingest_ts=20240201-010000")))
        .withColumn("reland_failed", lit(relandFailed))
        .orderBy(col("station_id"))
    },

    // S1 -> K1 -> S3 for the weather branch: same shape, including the
    // reference's parameterized onecall URL (`etl_dag.py:43`, lat/lon
    // fixed to Paris at `:36-37`) asserted inside the transport.
    QuerySpec("q_ingest_weather",
      """SELECT * FROM (VALUES
        | (CAST(277.99 AS DOUBLE), CAST(274.47 AS DOUBLE), 1029, 86, CAST(4.63 AS DOUBLE), 'light rain', CAST('2024-02-01 00:00:00' AS TIMESTAMP), TRUE)
        |) AS t(temp, feels_like, pressure, humidity, wind_speed, weather_description, timestamp, reland_failed)
        |ORDER BY timestamp""".stripMargin) { (s, _) =>
      val url = Ingest.weatherUrl(48.85, 2.35, "offline-test-key")
      val transport: Ingest.Transport = u => {
        require(u == url, s"unexpected URL $u")
        java.nio.file.Files.readAllLines(
          java.nio.file.Paths.get(s"$FixtureDir/weather.json")).get(0)
      }
      val raw = Ingest.fetchWeatherSnapshot(s, transport, url)
      val rawZone = QueryUtil.scratchDir("graft_ingest_w_")
      val relandFailed =
        QueryUtil.relandFails(Ingest.landRaw(raw, rawZone, "20240201-010000"))
      Weather.projectWeather(
          Sources.readWeatherRaw(s, s"$rawZone/ingest_ts=20240201-010000"))
        .withColumn("reland_failed", lit(relandFailed))
        .orderBy(col("timestamp"))
    },

    // P1 nested projection + P2 array index (`etl_dag.py:84-99`).
    QuerySpec("q_weather_project",
      """SELECT * FROM (VALUES
        | (CAST(277.99 AS DOUBLE), CAST(274.47 AS DOUBLE), 1029, 86, CAST(4.63 AS DOUBLE), 'light rain', CAST('2024-02-01 00:00:00' AS TIMESTAMP)),
        | (CAST(278.5 AS DOUBLE), CAST(275.0 AS DOUBLE), 1030, 80, CAST(3.1 AS DOUBLE), 'clear sky', CAST('2024-02-01 01:00:00' AS TIMESTAMP))
        |) AS t(temp, feels_like, pressure, humidity, wind_speed, weather_description, timestamp)
        |ORDER BY timestamp""".stripMargin) { (s, _) =>
      Weather.projectWeather(Sources.readWeatherRaw(s, s"$FixtureDir/weather.json"))
        .orderBy(col("timestamp"))
    },

    // J6 over the reference's own data: each station report enriched
    // with the most recent weather observation at-or-before it — the
    // correlation the reference's README promises ("up-to-date
    // information about weather conditions and bike availability",
    // README.md:10) but its DAG never ships (the two branches land in
    // separate tables, etl_dag.py:409). City-wide weather = constant
    // join key; reports before the first observation drop (ASOF inner).
    QuerySpec("q_velib_weather_asof",
      """SELECT * FROM (VALUES
        | (CAST(213688169 AS BIGINT), CAST('2024-02-01 00:50:00' AS TIMESTAMP), 4, CAST(277.99 AS DOUBLE), 'light rain'),
        | (CAST(19179944124 AS BIGINT), CAST('2024-02-01 00:55:00' AS TIMESTAMP), 11, CAST(277.99 AS DOUBLE), 'light rain')
        |) AS t(station_id, last_reported, num_bikes_available, temp, weather_description)
        |ORDER BY station_id, last_reported""".stripMargin) { (s, _) =>
      val st = Velib.dedupSnapshots(velibCurated(s)).withColumn("city", lit("paris"))
      val wx = Weather.projectWeather(
        Sources.readWeatherRaw(s, s"$FixtureDir/weather.json"))
        .withColumn("city", lit("paris"))
      graft.operators.AsOfJoin.asof(st, wx, "city", "last_reported", "timestamp",
        Map("temp" -> "temp", "weather_description" -> "weather_description"))
        .select(col("station_id"), col("last_reported"),
          col("num_bikes_available"), col("temp"), col("weather_description"))
        .orderBy(col("station_id"), col("last_reported"))
    },

    // F5 map access + F7 null handling over the reference's optional
    // rain/snow maps (`research.ipynb` cell 1: {"rain": {"1h": 0.15}},
    // absent on dry observations) — try_element_at on a MapType column
    // (ANSI-safe: plain element_at raises MAP_KEY_DOES_NOT_EXIST for a
    // PRESENT map lacking the "1h" key, e.g. {"3h": 0.4}, before the
    // coalesce can substitute — the coalesce alone only covers the
    // absent-map NULL case) with coalesce for both missing cases.
    QuerySpec("q_weather_rain",
      """SELECT * FROM (VALUES
        | (CAST('2024-02-01 00:00:00' AS TIMESTAMP), CAST(0.15 AS DOUBLE), TRUE),
        | (CAST('2024-02-01 01:00:00' AS TIMESTAMP), CAST(0.0 AS DOUBLE), FALSE)
        |) AS t(obs_ts, rain_1h, raining)
        |ORDER BY obs_ts""".stripMargin) { (s, _) =>
      Sources.readWeatherRaw(s, s"$FixtureDir/weather.json").select(
        timestamp_seconds(col("current.dt")).as("obs_ts"),
        coalesce(try_element_at(col("current.rain"), lit("1h")), lit(0.0))
          .as("rain_1h"),
        col("current.rain").isNotNull.as("raining"))
        .orderBy(col("obs_ts"))
    },

    // Manifest-driven binary ingest — the extreme-file-count path: the
    // manifest TABLE (not a directory listing) names the objects to
    // read; executors open their partition's files through the Hadoop
    // FS layer. One manifest row points at an absent object, dropped
    // by the explicit skipMissing opt-in (reading mid-compaction) —
    // the 3-row output pins the skip into the hash.
    // Same payload truth as q_source_binary — the manifest route must
    // deliver identical bytes; the absent manifest row contributes no
    // output row (the skipMissing contract).
    QuerySpec("q_source_manifest",
      """SELECT * FROM (VALUES
        | ('clip_000.bin', CAST(64 AS BIGINT), '1a0e0ecf84382961a85aa8629e98aefcfeffdcf0fd74a6dd49d55d9706477ab2'),
        | ('clip_001.bin', CAST(96 AS BIGINT), 'bbf6409054eacfc0c32b350ee4fcde3544b40a28f6a9fe45002b7bc7e9a17b10'),
        | ('frame_007.bin', CAST(128 AS BIGINT), '95de6b6fc2abb95b69ce1c14ea419781725620e83b447b87102c8d23abd893e9')
        |) AS t(file_name, length, sha256)
        |ORDER BY file_name""".stripMargin) { (s, _) =>
      import s.implicits._
      val manifest = Seq(
        s"$FixtureDir/media/clip_000.bin",
        s"$FixtureDir/media/clip_001.bin",
        s"$FixtureDir/media/frame_007.bin",
        s"$FixtureDir/media/absent_999.bin").toDF("path")
      binaryDigest(Sources.readBinaryManifest(s, manifest, "path",
        skipMissing = true))
    },

    // Raw media directory ingestion (binaryFile source): whole files as
    // binary rows — the multimodal front door. Digest + length prove
    // the payload bytes arrived intact; the VALUES oracle carries the
    // fixture files' known sha256/size.
    QuerySpec("q_source_binary",
      """SELECT * FROM (VALUES
        | ('clip_000.bin', CAST(64 AS BIGINT), '1a0e0ecf84382961a85aa8629e98aefcfeffdcf0fd74a6dd49d55d9706477ab2'),
        | ('clip_001.bin', CAST(96 AS BIGINT), 'bbf6409054eacfc0c32b350ee4fcde3544b40a28f6a9fe45002b7bc7e9a17b10'),
        | ('frame_007.bin', CAST(128 AS BIGINT), '95de6b6fc2abb95b69ce1c14ea419781725620e83b447b87102c8d23abd893e9')
        |) AS t(file_name, length, sha256)
        |ORDER BY file_name""".stripMargin) { (s, _) =>
      binaryDigest(Sources.readBinaryFiles(s, s"$FixtureDir/media",
        glob = "*.bin"))
    },

    // S3b PERMISSIVE quarantine tier: a fixture with 2 good and 2
    // malformed lines loads without dying; corrupt lines surface whole
    // in _corrupt with schema fields NULL — the dead-letter split in
    // one pass. FAILFAST stays the default read contract; this mode is
    // the explicit opt-in.
    QuerySpec("q_source_permissive",
      """SELECT * FROM (VALUES
        | (CAST(4 AS BIGINT), CAST(2 AS BIGINT), CAST(2 AS BIGINT),
        |  CAST(10800 AS BIGINT))
        |) AS t(n_rows, n_good, n_corrupt, ttl_sum)""".stripMargin) { (s, _) =>
      Sources.readJsonPermissive(s,
          s"$FixtureDir/station_status_mixed.json",
          graft.model.Schemas.velibRaw)
        .agg(
          count(lit(1)).as("n_rows"),
          count(when(col("_corrupt").isNull, 1)).as("n_good"),
          count(col("_corrupt")).as("n_corrupt"),
          sum(col("ttl")).as("ttl_sum"))
    })
}
