package graft

import org.scalacheck.{Gen, Properties, Test}
import org.scalacheck.Prop.forAll
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

import graft.operators.Bpe

/** Pins `trainMergesBatched`'s two contracts: (1) same-round picks
  * whose {x, y, merged} sets are pairwise disjoint COMMUTE under
  * greedy left-to-right application — the property that makes the
  * one-pass fused rewrite order-independent; (2) batch=1 is
  * bit-identical to the exact sequential greedy on randomized
  * corpora (the fixture test in BpeSpec checks one corpus; this
  * sweeps). A deterministic counterexample documents why the
  * merged-token exclusion is part of the disjointness test.
  */
object BpePropertiesSpec extends Properties("BpeBatched") {

  // 10 successful runs per property; the pure commutation property
  // packs 30 generated cases into each run (300 cases total), the
  // Spark-backed equality property costs ~2 trainings per run
  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(10)

  private lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[2]")
      .config(Harness.LocalFsConfs)
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  // m1 built over {a, b}, m2 over {c, d}: symbol- and output-disjoint
  // by construction (merged tokens "ab"/"aa"/"abab" vs "cd"/"dd"/
  // "cdcd" can never collide across the two alphabets).
  private val symsGen: Gen[List[String]] =
    Gen.listOfN(24, Gen.oneOf("a", "b", "c", "d", "ab", "cd"))
  private val mergeAB: Gen[(String, String)] =
    Gen.oneOf(("a", "b"), ("b", "a"), ("a", "a"), ("ab", "ab"))
  private val mergeCD: Gen[(String, String)] =
    Gen.oneOf(("c", "d"), ("d", "c"), ("d", "d"), ("cd", "cd"))

  private val caseGen: Gen[(List[String], (String, String), (String, String))] =
    for { s <- symsGen; m1 <- mergeAB; m2 <- mergeCD } yield (s, m1, m2)

  property("output-disjoint merges commute under greedy application") =
    forAll(Gen.listOfN(30, caseGen)) {
      cases: List[(List[String], (String, String), (String, String))] =>
        cases.forall { case (s, m1, m2) =>
          // assert the contract precondition so a generator edit can't
          // silently weaken the property
          val s1 = Set(m1._1, m1._2, m1._1 + m1._2)
          val s2 = Set(m2._1, m2._2, m2._1 + m2._2)
          require(s1.intersect(s2).isEmpty)
          val ab = Bpe.applyMerge(
            Bpe.applyMerge(s, m1._1, m1._2), m2._1, m2._2)
          val ba = Bpe.applyMerge(
            Bpe.applyMerge(s, m2._1, m2._2), m1._1, m1._2)
          ab == ba
        }
    }

  property("counterexample: consuming another pick's OUTPUT breaks it") = {
    // (a,b)->"ab" then (c,"ab") sees the freshly created "ab";
    // reversed, (c,"ab") runs before any "ab" exists. This is exactly
    // the collision trainMergesBatched's merged-token exclusion bans.
    val s = Seq("c", "a", "b")
    val order1 = Bpe.applyMerge(Bpe.applyMerge(s, "a", "b"), "c", "ab")
    val order2 = Bpe.applyMerge(Bpe.applyMerge(s, "c", "ab"), "a", "b")
    order1 == Seq("cab") && order2 == Seq("c", "ab")
  }

  private val wordGen: Gen[String] = Gen.choose(1, 5).flatMap(n =>
    Gen.listOfN(n, Gen.oneOf("a", "b", "c")).map(_.mkString))
  private val corpusGen: Gen[List[String]] =
    Gen.choose(4, 12).flatMap(n => Gen.listOfN(n, wordGen))

  property("batch=1 equals the exact greedy on random corpora") =
    forAll(corpusGen) { words: List[String] =>
      import spark.implicits._
      words.forall(_.length < 2) || {
        val docs = Seq((1L, words.mkString(" "))).toDF("doc_id", "text")
        val exact = docsRows(Bpe.trainMerges(docs, "text", k = 3))
          .map(_.toSeq)
        val batched = docsRows(
          Bpe.trainMergesBatched(docs, "text", k = 3, batch = 1))
          .map(r => r.toSeq.patch(1, Nil, 1))
        batched == exact
      }
    }

  private def docsRows(df: org.apache.spark.sql.DataFrame) =
    df.orderBy(col("rank")).collect().toSeq
}
