package graft

import org.scalacheck.{Gen, Properties, Test}
import org.scalacheck.Prop.forAll
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

import graft.operators.Similarity

/** lshSimilarPairs against the exact all-pairs miner on random corpora.
  *
  * The banded path is probabilistic in RECALL only; three properties
  * hold deterministically for every corpus and are checked here:
  *
  *  1. soundness — every reported pair is a real pair: its cos_sim
  *     equals the exact miner's value for the same ids (threshold and
  *     rounding included), i.e. reported ⊆ exact.
  *  2. no duplicates — the first-common-band filter yields each
  *     surviving pair exactly once, however many bands it shares.
  *  3. planted-duplicate recall — ids with IDENTICAL vectors have
  *     identical signatures, share every band, and are ALWAYS found.
  */
object PairMiningPropertiesSpec extends Properties("LshSimilarPairs") {

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

  private val Dim = 8
  private val Threshold = 0.45

  private val vec: Gen[Array[Float]] =
    Gen.containerOfN[Array, Float](Dim, Gen.chooseNum(-1.0f, 1.0f))

  // A corpus with a planted exact-duplicate pair appended at the end.
  private val corpusGen: Gen[(List[Array[Float]], Int)] = for {
    n <- Gen.chooseNum(2, 30)
    vs <- Gen.listOfN(n, vec)
    dupOf <- Gen.chooseNum(0, n - 1)
  } yield (vs, dupOf)

  property("sound, duplicate-free, and complete on planted duplicates") =
    forAll(corpusGen) { case (vs, dupOf) =>
      import spark.implicits._
      val planted = vs :+ vs(dupOf) // ids: 0..n-1, dup id = n
      val df = planted.zipWithIndex
        .map { case (v, i) => (i.toLong, v.toSeq) }
        .toDF("id", "vec")
        .selectExpr("id", "cast(vec as array<float>) as vec")
      val banded = Similarity
        .lshSimilarPairs(df, Threshold, dim = Dim, nPlanes = 24)
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2))
      val exact = Similarity.cosineSimilarPairs(df, Threshold)
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2))
        .toMap
      val soundness = banded.forall { case (ids, c) => exact.get(ids).contains(c) }
      val noDupes = banded.map(_._1).distinct.length == banded.length
      // the planted identical pair shares every band: always recalled
      // (unless degenerate — an all-zero vector scores the -2 sentinel
      // on both paths and is correctly absent from each)
      val dupPair = (math.min(dupOf.toLong, vs.length.toLong),
        math.max(dupOf.toLong, vs.length.toLong))
      val degenerate = vs(dupOf).forall(_ == 0.0f)
      val plantedFound = degenerate || banded.exists(_._1 == dupPair)
      soundness && noDupes && plantedFound
    }

  // The q_embed_pairs recall argument, randomized: with 24 planes in
  // 12 bands, a pair at cos >= 0.9 misses every band with probability
  // (1 - (1 - acos(0.9)/pi)^2)^12 < 2e-7 — so on random corpora every
  // EXACT pair at or above the 0.9 floor must appear in the banded
  // output (the guarantee previously rested on eight fixed seeds).
  // The property's own false-failure budget is ~1e-6 per run.
  property("recall: every exact pair at cos >= 0.9 surfaces through the bands") =
    forAll(corpusGen) { case (vs, dupOf) =>
      import spark.implicits._
      // plant a NEAR-duplicate: small relative perturbation keeps the
      // pair's cosine >= 0.9 without sharing signatures by construction
      val base = vs(dupOf)
      val near = base.zipWithIndex.map { case (x, i) =>
        x + (if (i % 2 == 0) 0.02f else -0.02f) * (math.abs(x) max 0.05f)
      }
      val planted = vs :+ near
      val df = planted.zipWithIndex
        .map { case (v, i) => (i.toLong, v.toSeq) }
        .toDF("id", "vec")
        .selectExpr("id", "cast(vec as array<float>) as vec")
      val banded = Similarity
        .lshSimilarPairs(df, Threshold, dim = Dim, nPlanes = 24)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val highSim = Similarity.cosineSimilarPairs(df, Threshold)
        .filter(col("cos_sim") >= 0.9)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      highSim.subsetOf(banded)
    }
}
