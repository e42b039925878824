package graft

import org.scalacheck.{Gen, Properties, Test}
import org.scalacheck.Prop.forAll
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

import graft.operators.Upsert

/** `Upsert.applyCdc` against a driver-side sequential reference on
  * random multi-version change feeds: group the feed per key, resolve
  * the winner by (ts, op) descending, apply delete/replace/insert —
  * the distributed anti-join + union must produce the identical final
  * table for every feed shape (repeated keys, same-instant ties,
  * delete-then-reinsert, keys absent from the base, untouched rows).
  */
object CdcPropertiesSpec extends Properties("ApplyCdc") {

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

  private case class Change(id: Long, v: Double, ts: Long, op: String)

  private val changeGen: Gen[Change] = for {
    id <- Gen.chooseNum(0L, 9L)    // small key space forces collisions
    v <- Gen.chooseNum(-100.0, 100.0)
    ts <- Gen.chooseNum(0L, 4L)    // small ts space forces ties
    op <- Gen.oneOf("I", "U", "D")
  } yield Change(id, v, ts, op)

  private val feedGen: Gen[(List[(Long, Double)], List[Change])] = for {
    nBase <- Gen.chooseNum(0, 8)
    base <- Gen.listOfN(nBase, Gen.zip(
      Gen.chooseNum(0L, 9L), Gen.chooseNum(-100.0, 100.0)))
    nCh <- Gen.chooseNum(0, 25)
    feed <- Gen.listOfN(nCh, changeGen)
  } yield (base.distinctBy(_._1), feed)

  private def reference(
      base: List[(Long, Double)],
      feed: List[Change]): Set[(Long, Double)] = {
    val winners = feed.groupBy(_.id).map { case (id, cs) =>
      // ts desc, then op desc ('U' > 'I' > 'D'), then the greatest
      // attribute tuple — the operator's fully TOTAL order, so even a
      // feed with two values at one (id, ts, op) resolves identically
      id -> cs.maxBy(c => (c.ts, c.op, c.v))
    }
    val untouched = base.filterNot { case (id, _) => winners.contains(id) }
    val applied = winners.values.collect {
      case c if c.op != "D" => (c.id, c.v)
    }
    untouched.toSet ++ applied
  }

  property("matches the sequential latest-wins reference on random feeds") =
    forAll(feedGen) { case (base, feed) =>
      import spark.implicits._
      val baseDf = base.toDF("id", "v")
      val feedDf = feed.map(c => (c.id, c.v, c.ts, c.op))
        .toDF("id", "v", "ts", "op")
      val got = Upsert.applyCdc(baseDf, feedDf, Seq("id"), "ts", "op")
        .select(col("id"), col("v")).collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSet
      val want = reference(base, feed)
      if (got != want)
        println(s"base=$base feed=$feed\n got=$got\nwant=$want")
      got == want
    }
}
