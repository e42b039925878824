package graft.ingest

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, from_json}
import org.apache.spark.sql.types.StructType

import graft.model.Schemas

/** S1/S2 HTTP snapshot ingestion (SURVEY.md §2.1).
  *
  * The reference fetches with `requests.get` inside an Airflow task
  * (`airflow/dags/etl_dag.py:27-49` weather, `:168-188` vélib) and spools
  * the body to S3. Here the imperative edge is confined to a single
  * `Transport` function — the HTTP GET — and the body is parsed ONCE, on
  * the driver, against the explicit raw schema with `from_json` in
  * FAILFAST mode, so a malformed payload fails the run exactly like the
  * reference's crash-and-retry (`etl_dag.py:331-332`). The parsed
  * snapshot comes back as a one-row local relation: the raw-zone landing
  * and the curated write both read it without parsing the body again.
  *
  * A body that is not one JSON object fails loudly instead of landing
  * an empty payload, as the reference's `.json()` would: an empty or
  * whitespace-only body and a literal `null` parse to no snapshot and
  * throw, and FAILFAST rejects a top-level JSON array (neither feed
  * returns one).
  *
  * The transport is injectable, which keeps ingestion unit-testable in
  * this offline harness (tests feed canned bodies) and cleanly swaps for
  * a real client in deployment. Driver-side fetch and parse of a ~344 KB
  * snapshot (`research.ipynb` cell 3) is the right shape at any scale:
  * the payload is one API response, not a distributed dataset —
  * parallelism begins after explode.
  */
object Ingest {

  /** The one imperative edge: URL -> body. */
  type Transport = String => String

  /** `java.net.http` GET negotiating JSON, as the reference's fetch
    * does (`etl_dag.py:40-42`). Content negotiation on a body-less GET
    * is the `Accept` header, not `Content-Type`. Offline harness never
    * calls this — tests inject canned transports.
    */
  def httpTransport(timeoutMs: Long = 30000): Transport = {
    // One client per transport, not per request: HttpClient owns a
    // selector thread + connection pool and has no close() on Java 17,
    // so a per-call client leaks threads until GC under periodic fetch.
    val client = java.net.http.HttpClient.newBuilder()
      .connectTimeout(java.time.Duration.ofMillis(timeoutMs)).build()
    url =>
    val req = java.net.http.HttpRequest.newBuilder(java.net.URI.create(url))
      .header("Accept", "application/json")
      .timeout(java.time.Duration.ofMillis(timeoutMs)).GET().build()
    val resp = client.send(req, java.net.http.HttpResponse.BodyHandlers.ofString())
    if (resp.statusCode() != 200)
      throw new RuntimeException(s"GET $url -> HTTP ${resp.statusCode()}")
    resp.body()
  }

  /** App-level retry/backoff combinator over any [[Transport]] — the
    * reference retries every task 3× with a 5-minute delay
    * (`etl_dag.py:331-332`, the DAG-wide `retries`/`retry_delay`
    * defaults); SURVEY §2.11 maps that orchestration behavior to an
    * app-level retry wrapper on the one imperative edge. Composable
    * (`withRetry(3, 1000)(httpTransport())`), exponential backoff
    * (delay, 2·delay, 4·delay, …), and the sleeper is injectable so
    * tests count attempts without wall-clock sleeps. Retries on any
    * NonFatal throw — the transport already converts non-200 statuses
    * to throws, so status retry falls out. The LAST failure propagates
    * when attempts are exhausted (the reference marks the task failed
    * after its final retry the same way). The doubling is capped at
    * 2^20 × the base delay: an uncapped shift overflows Long around
    * attempt 46 and Thread.sleep(negative) would then throw an
    * IllegalArgumentException that MASKS the transport's real error.
    */
  def withRetry(
      attempts: Int, backoffMs: Long,
      sleeper: Long => Unit = Thread.sleep)(t: Transport): Transport = {
    require(attempts >= 1, s"attempts must be >= 1, got $attempts")
    require(backoffMs >= 0 && backoffMs <= 86400000L,
      s"backoffMs must be in [0, 1 day], got $backoffMs")
    url => {
      var tryNo = 0
      var result: Option[String] = None
      var last: Throwable = null
      while (result.isEmpty && tryNo < attempts) {
        if (tryNo > 0) sleeper(backoffMs << math.min(tryNo - 1, 20))
        try result = Some(t(url))
        catch { case scala.util.control.NonFatal(e) => last = e }
        tryNo += 1
      }
      result.getOrElse(throw last)
    }
  }

  /** OpenWeatherMap onecall URL (`etl_dag.py:43` — lat/lon fixed to
    * Paris at `:36-37`; key from config, never hardcoded).
    */
  def weatherUrl(lat: Double, lon: Double, apiKey: String): String =
    s"https://api.openweathermap.org/data/2.5/onecall?lat=$lat&lon=$lon&appid=$apiKey"

  /** Vélib GBFS station_status URL (`etl_dag.py:182`). */
  val VelibStatusUrl =
    "https://velib-metropole-opendata.smovengo.cloud/opendata/Velib_Metropole/station_status.json"

  /** Parse `body` against `schema` and return the snapshot as a one-row
    * `LocalRelation`. `from_json` over a one-row local relation is folded
    * by the optimizer (`ConvertToLocalRelation`), so the `collect()`
    * starts no Spark job. FAILFAST only catches malformed JSON — a
    * well-formed body missing `required` (producer schema rename) parses
    * it NULL and would land a silently empty payload; the check on the
    * driver row replays the reference's pandas KeyError crash.
    */
  private def parse(
      spark: SparkSession, body: String, schema: StructType,
      required: String): DataFrame = {
    import spark.implicits._
    val snapshot = Seq(body).toDF("value")
      .select(from_json(col("value"), schema, Map("mode" -> "FAILFAST")))
      .collect().head.getStruct(0)
    if (snapshot == null) throw new IllegalStateException(
      "snapshot body is not a JSON object (empty or null); " +
        "refusing to load an empty payload")
    if (snapshot.isNullAt(schema.fieldIndex(required)))
      throw new IllegalStateException(
        s"required field '$required' is NULL in 1 row(s) — the feed's " +
          "schema changed (renamed/removed field); refusing to load " +
          "silently empty payloads")
    spark.createDataFrame(java.util.List.of(snapshot), schema)
  }

  /** S2: fetch one vélib snapshot -> raw DataFrame (velibRaw schema);
    * the top-level `data` field is required.
    */
  def fetchVelibSnapshot(
      spark: SparkSession, transport: Transport,
      url: String = VelibStatusUrl): DataFrame =
    parse(spark, transport(url), Schemas.velibRaw, "data")

  /** S1: fetch one weather snapshot -> raw DataFrame (weatherRaw
    * schema); `current` is required, like `data` in the vélib branch.
    */
  def fetchWeatherSnapshot(
      spark: SparkSession, transport: Transport, url: String): DataFrame =
    parse(spark, transport(url), Schemas.weatherRaw, "current")

  /** K1 raw-zone landing: non-replacing timestamped JSON write, the
    * replayable raw zone (`etl_dag.py:46-55` — upload without `replace`).
    */
  def landRaw(raw: DataFrame, rawZoneDir: String, runTs: String): Unit =
    raw.write.mode("errorifexists").json(s"$rawZoneDir/ingest_ts=$runTs")
}
