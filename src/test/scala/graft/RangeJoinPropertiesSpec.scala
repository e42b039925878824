package graft

import org.scalacheck.{Gen, Properties, Test}
import org.scalacheck.Prop.forAll
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

import graft.operators.{Dedup, RangeJoin}

/** Randomized cross-checks for the binned join family and the
  * deletion-neighborhood edit-distance miner — each against the
  * brute-force definition on arbitrary inputs, so the guarantees are
  * exercised beyond the hand-built fixtures:
  *
  *  1. pointInInterval == naive containment join for every bin width
  *     (bins are an execution detail, never a semantics change);
  *  2. intervalOverlap == naive overlap join, each pair exactly once
  *     (canonical-bin emission never duplicates or drops);
  *  3. editDistancePairs == brute-force lev<=1 over random short
  *     strings from a tiny alphabet (maximizing collisions, repeated
  *     characters, and off-by-one lengths).
  */
object RangeJoinPropertiesSpec extends Properties("BinnedJoins") {

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

  private val domain = Gen.chooseNum(-50L, 50L)
  private val interval: Gen[(Long, Long)] =
    for { a <- domain; b <- domain } yield (a, b) // inverted ones included

  property("pointInInterval == naive for any bin width") =
    forAll(
      Gen.listOfN(12, domain), Gen.listOfN(8, interval),
      Gen.oneOf(1L, 3L, 7L, 64L)) { (ps, ivs, w) =>
      import spark.implicits._
      val points = ps.zipWithIndex.map { case (p, i) => (i.toLong, p) }
        .toDF("pid", "p")
      val intervals = ivs.zipWithIndex.map { case ((s, e), i) => (i.toLong, s, e) }
        .toDF("iid", "s", "e")
      val got = RangeJoin.pointInInterval(points, "p", intervals, "s", "e", w)
        .select(col("pid"), col("iid")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
      val want = (for {
        (p, pi) <- ps.zipWithIndex; ((s, e), ii) <- ivs.zipWithIndex
        if p >= s && p <= e
      } yield (pi.toLong, ii.toLong)).sorted
      got == want
    }

  property("intervalOverlap == naive, each pair exactly once") =
    forAll(
      Gen.listOfN(8, interval), Gen.listOfN(8, interval),
      Gen.oneOf(1L, 5L, 16L, 500L)) { (as, bs, w) =>
      import spark.implicits._
      val l = as.zipWithIndex.map { case ((s, e), i) => (i.toLong, s, e) }
        .toDF("ka", "sa", "ea")
      val r = bs.zipWithIndex.map { case ((s, e), i) => (i.toLong, s, e) }
        .toDF("kb", "sb", "eb")
      val got = RangeJoin.intervalOverlap(l, "sa", "ea", r, "sb", "eb", w)
        .select(col("ka"), col("kb")).collect()
        .map(x => (x.getLong(0), x.getLong(1))).toSeq
      val want = (for {
        ((sa, ea), ia) <- as.zipWithIndex; ((sb, eb), ib) <- bs.zipWithIndex
        if sa <= ea && sb <= eb && sa <= eb && sb <= ea
      } yield (ia.toLong, ib.toLong)).sorted
      got.sorted == want && got.distinct.size == got.size
    }

  private val shortStr: Gen[String] =
    Gen.chooseNum(0, 5).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf('a', 'b')).map(_.mkString))

  property("editDistancePairs == brute force lev<=1 on adversarial strings") =
    forAll(Gen.listOfN(10, shortStr)) { keys =>
      import spark.implicits._
      val df = keys.zipWithIndex.map { case (k, i) => (i.toLong, k) }
        .toDF("id", "k")
      val got = Dedup.editDistancePairs(df, "id", "k").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      def lev(a: String, b: String): Int = {
        val d = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
          if (i == 0) j else if (j == 0) i else 0
        }
        for (i <- 1 to a.length; j <- 1 to b.length)
          d(i)(j) = Seq(d(i - 1)(j) + 1, d(i)(j - 1) + 1,
            d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1)).min
        d(a.length)(b.length)
      }
      val want = (for {
        (a, ia) <- keys.zipWithIndex; (b, ib) <- keys.zipWithIndex
        if ia < ib; d = lev(a, b) if d <= 1
      } yield (ia.toLong, ib.toLong, d)).toSet
      got == want
    }
}
