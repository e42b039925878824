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

  test("JSON escaper handles quotes, backslashes, and control chars") {
    assert(Jsons.str("a\"b\\c") === "\"a\\\"b\\\\c\"")
    assert(Jsons.str("x\n\t\ry") === "\"x\\n\\t\\ry\"")
    assert(Jsons.str("z" + 1.toChar) === "\"z\\" + "u0001\"")
  }
}
