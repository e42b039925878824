package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

class BandJoinRewriteSpec extends SparkTestBase {

  /** Dedicated session (extensions apply at construction time), with
    * the suite-wide default restored afterwards — the ExtensionsSpec
    * discipline, so later suites keep their expected session.
    */
  private def withExtSession[A](body: SparkSession => A): A = {
    val base = spark
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val s = SparkSession.builder()
        .master("local[4]")
        .config(Harness.LocalFsConfs)
        .config("spark.sql.shuffle.partitions", "4")
        .withExtensions(new graft.plans.GraftExtensions)
        .getOrCreate()
      body(s)
    } finally {
      SparkSession.setDefaultSession(base)
      SparkSession.setActiveSession(base)
    }
  }

  private def fixtures(sess: SparkSession): Unit = {
    import sess.implicits._
    Seq((1L, 0L), (2L, 5L), (3L, 14L), (4L, 15L), (5L, 27L), (6L, -3L))
      .toDF("pid", "p").createOrReplaceTempView("pts")
    Seq((10L, 0L, 13L), (11L, 14L, 27L), (12L, 5L, 5L), (13L, -10L, -1L),
      (14L, 20L, 10L))
      .toDF("iid", "st", "en").createOrReplaceTempView("iv")
  }

  private val sql =
    """SELECT pid, iid FROM pts JOIN iv ON p >= st AND p <= en
      |ORDER BY pid, iid""".stripMargin

  test("band-only SQL join: BNLJ by default, binned equi-join when enabled, same rows") {
    withExtSession { s =>
    fixtures(s)
    s.conf.unset("spark.graft.bandjoin.width")
    val off = s.sql(sql)
    assert(off.queryExecution.executedPlan.toString
      .contains("BroadcastNestedLoopJoin"))
    val offRows = off.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq

    s.conf.set("spark.graft.bandjoin.width", "7")
    try {
      val on = s.sql(sql)
      val plan = on.queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
      assert(!plan.contains("CartesianProduct"), plan)
      val onRows = on.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(onRows === offRows)
      assert(onRows.nonEmpty && onRows.distinct.size === onRows.size)
    } finally s.conf.unset("spark.graft.bandjoin.width")
    }
  }

  test("rewrite preserves results across widths, strictness variants, reversed operand order") {
    withExtSession { s =>
    fixtures(s)
    val variants = Seq(
      "p >= st AND p <= en",
      "p > st AND p < en",
      "st <= p AND en >= p", // reversed operand order
      "p <= en AND p >= st") // conjunct order swapped
    for (v <- variants) {
      val q = s"SELECT pid, iid FROM pts JOIN iv ON $v ORDER BY pid, iid"
      s.conf.unset("spark.graft.bandjoin.width")
      val expect = s.sql(q).collect().toSeq
      for (w <- Seq("1", "4", "14", "1000")) {
        s.conf.set("spark.graft.bandjoin.width", w)
        try {
          val got = s.sql(q)
          assert(!got.queryExecution.executedPlan.toString
            .contains("BroadcastNestedLoopJoin"), s"cond=$v width=$w")
          assert(got.collect().toSeq === expect, s"cond=$v width=$w")
        } finally s.conf.unset("spark.graft.bandjoin.width")
      }
    }
    }
  }

  test("mirrored orientation (interval side on the left) is rewritten too") {
    withExtSession { s =>
      fixtures(s)
      val q = "SELECT pid, iid FROM iv JOIN pts ON p >= st AND p <= en " +
        "ORDER BY pid, iid"
      s.conf.unset("spark.graft.bandjoin.width")
      val expect = s.sql(q).collect().toSeq
      s.conf.set("spark.graft.bandjoin.width", "7")
      try {
        val on = s.sql(q)
        val plan = on.queryExecution.executedPlan.toString
        assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
        assert(on.collect().toSeq === expect)
      } finally s.conf.unset("spark.graft.bandjoin.width")
    }
  }

  test("equi-joins and non-band conditions are left alone") {
    withExtSession { s =>
    fixtures(s)
    s.conf.set("spark.graft.bandjoin.width", "7")
    try {
      // an equality conjunct -> already an equi-join, must not rewrite
      val equi = s.sql(
        "SELECT pid, iid FROM pts JOIN iv ON pid = iid AND p >= st AND p <= en")
      assert(!equi.queryExecution.executedPlan.toString.contains("__bj_bin"))
      // a one-sided condition is not a band
      val oneSided = s.sql("SELECT pid, iid FROM pts JOIN iv ON p >= st AND p <= 100")
      assert(!oneSided.queryExecution.executedPlan.toString.contains("__bj_bin"))
    } finally s.conf.unset("spark.graft.bandjoin.width")
    }
  }
}
