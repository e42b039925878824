package graft

/** Harness-correctness tests for the bench's pass-merging and retry
  * policy: the reported number is what the driver grades against
  * BASELINE, so a wrong merge silently corrupts the round's perf signal.
  */
class BenchSpec extends SparkTestBase {

  test("min over successful passes; a fast failure never masks a slow success") {
    // pass 1 fails in 0.1 s, pass 2 succeeds in 30 s: report 30 s + err
    val (t, err) = Bench.pick(Seq((0.1, Some("boom")), (30.0, None)))
    assert(t === 30.0)
    assert(err === Some("boom"))
  }

  test("all passes succeed: plain min, no error") {
    assert(Bench.pick(Seq((2.0, None), (1.5, None))) === ((1.5, None)))
  }

  test("all passes fail: min of failure times, first error kept") {
    val (t, err) = Bench.pick(Seq((0.3, Some("a")), (0.2, Some("b"))))
    assert(t === 0.2)
    assert(err === Some("a"))
  }

  test("spread is max/min over successful passes only") {
    assert(Bench.spread(Seq((1.0, None), (3.0, None))) === 3.0)
    // the failed fast pass must not count toward spread
    assert(Bench.spread(Seq((0.1, Some("boom")), (2.0, None))) === 1.0)
    assert(Bench.spread(Seq((2.0, None))) === 1.0)
    assert(Bench.spread(Seq((0.2, Some("a")), (0.4, Some("b")))) === 1.0)
  }

  test("retry policy: retrying a kind's builder re-derives it") {
    val builtBy = Seq(Map("pairs" -> "q_a", "bpe" -> "q_x"), Map("pairs" -> "q_a", "bpe" -> "q_x"))
    assert(Bench.kindsToReset(builtBy, Set("q_a")) === Set("pairs"))
    assert(Bench.kindsToReset(builtBy, Set("q_a", "q_x")) === Set("pairs", "bpe"))
  }

  test("retry policy: retrying only a later consumer keeps the kind warm") {
    val builtBy = Seq(Map("pairs" -> "q_a"), Map("pairs" -> "q_a"))
    assert(Bench.kindsToReset(builtBy, Set("q_b", "q_c")) === Set.empty)
  }

  test("retry policy: a builder recorded in only one pass still counts") {
    // pass 1's builder failed before asking for the kind in pass 2, so
    // pass 2 charged the next consumer
    val builtBy = Seq(Map("pairs" -> "q_a"), Map("pairs" -> "q_b"))
    assert(Bench.kindsToReset(builtBy, Set("q_a")) === Set("pairs"))
    assert(Bench.kindsToReset(builtBy, Set("q_b")) === Set("pairs"))
    assert(Bench.kindsToReset(Seq(Map("pairs" -> "q_a"), Map.empty), Set("q_a")) === Set("pairs"))
  }

  test("per-query path observes the builder: first perplexity query builds langmodel, the second hits") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_observe_").toString
    Seq((1L, "the cat sat on the mat"), (2L, "the dog sat on the log"))
      .toDF("doc_id", "text").write.parquet(s"$dir/documents.parquet")
    val ((_, err1), built1) = Bench.timeQuery(spark, "q_text_perplexity", "spec", dir)
    val ((_, err2), built2) = Bench.timeQuery(spark, "q_text_perplexity_bcast", "spec", dir)
    assert(err1.isEmpty && err2.isEmpty)
    assert(built1 === Set("langmodel"))
    assert(built2 === Set.empty)
  }

  /** A prior bench artifact with three query times, a same-named
    * "spread" entry after them, and the given trailing fields.
    */
  private def priorArtifact(fields: String): String = {
    val f = java.nio.file.Files.createTempFile("graft_bench_prior_", ".json")
    java.nio.file.Files.writeString(f,
      s"""{"metric":"total","value":14.000,"unit":"sec","queries":{"q_a":1.000,"q_b":2.000,"q_c":4.000,"q_d":8.000},"errors":{},"spread":{"q_a":9.00},$fields}""")
    f.toString
  }

  private val now = Seq("q_a" -> 1.5, "q_b" -> 2.75, "q_c" -> 2.5, "q_d" -> 9.75, "q_new" -> 5.0)

  test("trend guard: a prior artifact at another sf yields no trend") {
    val prior = Bench.priorTimes(priorArtifact(""""cpus":"4","sf":"/data/sf0.1""""), "/data/sf0.01", "4", subset = false)
    assert(prior === Map.empty)
    assert(Bench.trend(now, prior) === Seq.empty)
  }

  test("trend guard: a prior artifact at another cpus, or with no cpus, yields no trend") {
    assert(Bench.priorTimes(priorArtifact(""""cpus":"32","sf":"/d""""), "/d", "4", subset = false) === Map.empty)
    assert(Bench.priorTimes(priorArtifact(""""sf":"/d""""), "/d", "4", subset = false) === Map.empty)
  }

  test("trend guard: a matching prior yields the raw delta and flags exactly the entries past the bar") {
    val prior = Bench.priorTimes(priorArtifact(""""cpus":"4","sf":"/d""""), "/d", "4", subset = false)
    // times come from "queries" only, never from the later "spread" map
    assert(prior === Map("q_a" -> 1.0, "q_b" -> 2.0, "q_c" -> 4.0, "q_d" -> 8.0))
    val trend = Bench.trend(now, prior)
    assert(trend === Seq("q_a" -> 0.5, "q_b" -> 0.75, "q_c" -> -1.5, "q_d" -> 1.75))
    // bar = max(0.5 s, 25% of prior): q_a sits on it, q_d is under its
    // 2.0 s bar, q_c is flagged as an improvement
    assert(Bench.regressions(trend, prior) === Seq("q_b" -> 0.75, "q_c" -> -1.5))
  }

  test("trend guard: a subset run against a matching prior yields no trend") {
    // a SPARK_GRAFT_ONLY run times its queries JIT-cold, the artifact's
    // times are a full run's warm min-of-passes
    val prior = Bench.priorTimes(priorArtifact(""""cpus":"4","sf":"/d""""), "/d", "4", subset = true)
    assert(prior === Map.empty)
    assert(Bench.trend(now, prior) === Seq.empty)
    assert(Bench.regressions(Bench.trend(now, prior), prior) === Seq.empty)
  }

  test("JSON escaper handles quotes, backslashes, and control chars") {
    assert(Jsons.str("a\"b\\c") === "\"a\\\"b\\\\c\"")
    assert(Jsons.str("x\n\t\ry") === "\"x\\n\\t\\ry\"")
    assert(Jsons.str("z" + 1.toChar) === "\"z\\" + "u0001\"")
  }
}
