package graft

import org.scalacheck.{Gen, Properties, Test}
import org.scalacheck.Prop.forAll
import org.apache.spark.sql.SparkSession

import graft.operators.AsOfJoin

/** Property coverage for the as-of join against an in-memory brute
  * force, with ScalaCheck shrinking: a failing case minimizes to the
  * smallest diverging (left, right) row sets. The tiny key/timestamp
  * domains force heavy collisions, so equal-timestamp ties (the `>=`
  * contract: a right row AT the left timestamp is matched) occur in
  * most generated cases rather than by luck.
  */
object AsOfJoinPropertiesSpec extends Properties("AsOfJoin") {

  // Each case is a full Spark round-trip; 15 well-shrunk cases beat 100
  // slow ones for the time budget of the suite.
  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(15)

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

  private val row: Gen[(Long, Int, Int)] = for {
    k <- Gen.chooseNum(0L, 3L)
    ts <- Gen.chooseNum(0, 12)
    v <- Gen.chooseNum(0, 9)
  } yield (k, ts, v)

  property("agrees with brute force, including equal-timestamp matches") =
    forAll(Gen.listOf(row), Gen.listOf(row)) { (l, r) =>
      import spark.implicits._
      // unique (key, ts) on the right: simultaneous right duplicates
      // have no defined winner — the operator's documented precondition
      val rightRows = r.groupBy(x => (x._1, x._2)).values.map(_.head).toList
      val got = AsOfJoin.asof(
        l.toDF("k", "lts", "lval"), rightRows.toDF("k", "rts", "rv"),
        "k", "lts", "rts", Map("rv" -> "rv"))
        .collect()
        .map(x => (x.getAs[Long]("k"), x.getAs[Int]("lts"),
          x.getAs[Int]("lval"), x.getAs[Int]("rv")))
        .sorted.toList
      val expected = l.flatMap { case (k, lts, lv) =>
        val cands = rightRows.filter(x => x._1 == k && x._2 <= lts)
        if (cands.isEmpty) None
        else Some((k, lts, lv, cands.maxBy(_._2)._3))
      }.sorted
      got == expected
    }

  property("forward direction agrees with brute force (earliest at-or-after)") =
    forAll(Gen.listOf(row), Gen.listOf(row)) { (l, r) =>
      import spark.implicits._
      val rightRows = r.groupBy(x => (x._1, x._2)).values.map(_.head).toList
      val got = AsOfJoin.asofForward(
        l.toDF("k", "lts", "lval"), rightRows.toDF("k", "rts", "rv"),
        "k", "lts", "rts", Map("rv" -> "rv"))
        .collect()
        .map(x => (x.getAs[Long]("k"), x.getAs[Int]("lts"),
          x.getAs[Int]("lval"), x.getAs[Int]("rv")))
        .sorted.toList
      val expected = l.flatMap { case (k, lts, lv) =>
        val cands = rightRows.filter(x => x._1 == k && x._2 >= lts)
        if (cands.isEmpty) None
        else Some((k, lts, lv, cands.minBy(_._2)._3))
      }.sorted
      got == expected
    }
}
