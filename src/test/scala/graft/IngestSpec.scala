package graft

import org.apache.spark.sql.{AnalysisException, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.ingest.Ingest
import graft.model.Schemas
import graft.model.Schemas.RunContext
import graft.transform.{Velib, Weather}

/** S1/S2 ingestion through an injected transport: canned API bodies run
  * the full ingest -> transform path offline (SURVEY §2.1; the reference
  * fetch tasks are `etl_dag.py:27-49` / `:168-188`).
  */
class IngestSpec extends SparkTestBase {

  private val velibBody =
    new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$FixtureDir/station_status.json")))
  private val weatherBody =
    new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$FixtureDir/weather.json")))

  test("fetchVelibSnapshot parses a canned GBFS body through the raw schema") {
    var requested: String = null
    val transport: Ingest.Transport = { url => requested = url; velibBody.linesIterator.next() }
    val raw = Ingest.fetchVelibSnapshot(spark, transport)
    assert(requested === Ingest.VelibStatusUrl)
    val flat = Velib.curateStations(Velib.flattenStations(raw))
    assert(flat.count() === 3)
    assert(rows(flat.filter(col("station_id") === 19179944124L)).size === 1)
  }

  test("ingest -> transform end-to-end: weather branch (etl_dag fetch+transform)") {
    val transport: Ingest.Transport = _ => weatherBody.linesIterator.next()
    val obs = Weather.projectWeather(
      Ingest.fetchWeatherSnapshot(spark, transport, Ingest.weatherUrl(48.85, 2.35, "k")))
    val r = rows(obs).head
    assert(r.getAs[Double]("temp") === 277.99)
    assert(r.getAs[String]("weather_description") === "light rain")
  }

  test("malformed body fails fast (reference crash-and-retry semantics)") {
    val transport: Ingest.Transport = _ => """{"data": {"stations": [{"station_id": "oops"}]}}"""
    intercept[Exception] {
      Ingest.fetchVelibSnapshot(spark, transport).collect()
    }
  }

  test("HTTP transport surfaces non-200 as failure (no network in harness)") {
    // unroutable address: proves the error path without real egress
    val t = Ingest.httpTransport(timeoutMs = 500)
    intercept[Exception] { t("http://127.0.0.1:1/none") }
  }

  test("withRetry: fail-fail-succeed succeeds on attempt 3 with exponential backoff") {
    var calls = 0
    val sleeps = scala.collection.mutable.ArrayBuffer.empty[Long]
    val flaky: Ingest.Transport = { url =>
      calls += 1
      if (calls < 3) throw new RuntimeException(s"GET $url -> HTTP 503")
      "body"
    }
    val t = Ingest.withRetry(4, 100, sleeps.append(_))(flaky)
    assert(t("http://x") === "body")
    assert(calls === 3, "succeeds on the third attempt, no extra call after")
    assert(sleeps.toSeq === Seq(100L, 200L), "backoff doubles per retry, none before attempt 1")
  }

  test("withRetry: exhausted attempts propagate the LAST failure") {
    var calls = 0
    val alwaysDown: Ingest.Transport = { _ =>
      calls += 1; throw new RuntimeException(s"boom $calls")
    }
    val e = intercept[RuntimeException] {
      Ingest.withRetry(3, 10, _ => ())(alwaysDown)("http://x")
    }
    assert(calls === 3, "the attempt cap is respected")
    assert(e.getMessage === "boom 3", "the final attempt's error surfaces")
  }

  test("withRetry: backoff doubling caps instead of overflowing Long") {
    // uncapped, 10 << 62 goes negative around attempt 63 and
    // Thread.sleep(negative) throws IllegalArgumentException, MASKING
    // the transport's real error; the shift is clamped at 2^20
    val sleeps = scala.collection.mutable.ArrayBuffer.empty[Long]
    val e = intercept[RuntimeException] {
      Ingest.withRetry(80, 10, sleeps.append(_))(
        _ => throw new RuntimeException("down"))("http://x")
    }
    assert(e.getMessage === "down", "the transport error survives 80 attempts")
    assert(sleeps.size === 79)
    assert(sleeps.forall(d => d > 0 && d <= (10L << 20)),
      s"delays stay positive and capped: max ${sleeps.max}")
    assert(sleeps.last === (10L << 20), "tail delays sit at the cap")
  }

  test("withRetry: fatal errors are not retried") {
    var calls = 0
    val oom: Ingest.Transport = { _ =>
      calls += 1; throw new OutOfMemoryError("fatal")
    }
    intercept[OutOfMemoryError] {
      Ingest.withRetry(5, 10, _ => ())(oom)("http://x")
    }
    assert(calls === 1, "NonFatal gate: an Error escapes immediately")
  }

  test("raw-zone landing is non-replacing (K1 semantics)") {
    val dir = java.nio.file.Files.createTempDirectory("rawzone").toString
    val Seq(first, second) = velibBody.linesIterator.toSeq.take(2)
    Ingest.landRaw(Ingest.fetchVelibSnapshot(spark, _ => first), dir, "20240201-010000")
    val before = layout(s"$dir/ingest_ts=20240201-010000")
    // re-landing the same run key must fail, like the reference's
    // replace-less upload (etl_dag.py:51-55), and leave the landed files
    // byte-identical, even when the refused snapshot differs
    val e = intercept[AnalysisException] {
      Ingest.landRaw(Ingest.fetchVelibSnapshot(spark, _ => second), dir, "20240201-010000")
    }
    assert(e.getCondition === "PATH_ALREADY_EXISTS")
    assert(layout(s"$dir/ingest_ts=20240201-010000") === before)
    assert(spark.read.schema(graft.model.Schemas.velibRaw)
      .json(s"$dir/ingest_ts=20240201-010000").count() === 1)
  }

  test("a frame over landRaw's row cap fails and creates no directory") {
    val zone = java.nio.file.Files.createTempDirectory("landcap").toString + "/raw"
    val e = intercept[IllegalArgumentException] {
      Ingest.landRaw(spark.range(Ingest.MaxLandRows + 1).toDF(), zone, "over")
    }
    assert(e.getMessage.contains(s"at most ${Ingest.MaxLandRows} rows"))
    assert(!new java.io.File(zone).exists())
    assert(Ingest.landRaw(spark.range(Ingest.MaxLandRows).toDF(), zone, "at") === Ingest.MaxLandRows)
    assert(spark.read.json(s"$zone/ingest_ts=at").count() === Ingest.MaxLandRows)
  }

  private def fixtureLines(name: String): Seq[String] =
    new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$FixtureDir/$name"))).linesIterator.toSeq

  /** Reference parse: the body as a one-element dataset read by the
    * JSON source with the raw schema, FAILFAST.
    */
  private def readerParse(body: String, schema: StructType): DataFrame = {
    import spark.implicits._
    spark.read.schema(schema).option("mode", "FAILFAST").json(Seq(body).toDS())
  }

  /** Every file under `dir` (hidden checksums included) with its bytes,
    * the part file's run-specific uuid masked.
    */
  private def layout(dir: String): Map[String, Seq[Byte]] =
    new java.io.File(dir).listFiles().map { f =>
      f.getName.replaceAll("part-00000-[0-9a-f-]{36}-c000", "part-00000-UUID-c000") ->
        java.nio.file.Files.readAllBytes(f.toPath).toSeq
    }.toMap

  /** The files `landRaw` writes for `raw`. */
  private def landed(raw: DataFrame): Map[String, Seq[Byte]] = {
    val dir = java.nio.file.Files.createTempDirectory("parity").toString
    assert(Ingest.landRaw(raw, dir, "20240201-010000") === 1L)
    layout(s"$dir/ingest_ts=20240201-010000")
  }

  /** The files Spark's JSON writer writes for `raw`. */
  private def written(raw: DataFrame): Map[String, Seq[Byte]] = {
    val dir = java.nio.file.Files.createTempDirectory("parity").toString + "/out"
    raw.write.json(dir)
    layout(dir)
  }

  private def assertSameRows(a: DataFrame, b: DataFrame): Unit = {
    assert(a.count() === b.count())
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
  }

  private val parityCtx = RunContext("2024-02-01 01:00:00", "velib_spark", "load")

  test("driver-side parse lands the fixture bodies byte-identical to the JSON reader path") {
    val velib = fixtureLines("station_status.json") ++
      fixtureLines("station_status_mixed.json").take(2)
    for (body <- velib) {
      val fetched = Ingest.fetchVelibSnapshot(spark, _ => body)
      val reference = readerParse(body, Schemas.velibRaw)
      assert(landed(fetched) === written(reference), body.take(80))
      def curated(raw: DataFrame) = Velib.withRunMetadata(
        Velib.dedupSnapshots(Velib.curateStations(Velib.flattenStations(raw))), parityCtx)
      assertSameRows(curated(fetched), curated(reference))
    }
    for (body <- fixtureLines("weather.json")) {
      val fetched = Ingest.fetchWeatherSnapshot(spark, _ => body, "weather://x")
      val reference = readerParse(body, Schemas.weatherRaw)
      assert(landed(fetched) === written(reference), body.take(80))
      assertSameRows(Weather.projectWeather(fetched), Weather.projectWeather(reference))
    }
  }

  test("malformed, null and wrong-typed bodies still fail at fetch") {
    val bad = fixtureLines("station_status_mixed.json").drop(2) ++ Seq(
      """{"data": """, "null", """{"data": 5}""", """{"data": {"stations": 7}}""")
    for (body <- bad)
      withClue(body) { intercept[Exception] { Ingest.fetchVelibSnapshot(spark, _ => body) } }
    intercept[Exception] {
      Ingest.fetchWeatherSnapshot(spark, _ => """{"current": "sunny"}""", "weather://x")
    }
  }

  test("a missing required field fails with the required-field message") {
    val msg = (f: String) => s"required field '$f' is NULL in 1 row(s) — the feed's " +
      "schema changed (renamed/removed field); refusing to load silently empty payloads"
    val v = intercept[IllegalStateException] {
      Ingest.fetchVelibSnapshot(spark, _ => """{"ttl": 3600, "stations": []}""")
    }
    assert(v.getMessage === msg("data"))
    val w = intercept[IllegalStateException] {
      Ingest.fetchWeatherSnapshot(spark, _ => """{"lat": 48.85, "now": {}}""", "weather://x")
    }
    assert(w.getMessage === msg("current"))
  }

  test("an empty or blank body fails instead of landing an empty payload") {
    for (body <- Seq("", "  \n\t "))
      withClue(s"[$body]") {
        val e = intercept[IllegalStateException] { Ingest.fetchVelibSnapshot(spark, _ => body) }
        assert(e.getMessage.contains("not a JSON object"))
      }
    intercept[IllegalStateException] {
      Ingest.fetchWeatherSnapshot(spark, _ => "", "weather://x")
    }
  }

  test("a top-level JSON array fails instead of expanding to one snapshot per element") {
    for (body <- Seq("[]", fixtureLines("station_status.json").mkString("[", ",", "]")))
      withClue(body.take(80)) { intercept[Exception] { Ingest.fetchVelibSnapshot(spark, _ => body) } }
  }
}
