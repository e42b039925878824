package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one forked test JVM). */
object SparkTestSession {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-tests")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

abstract class SparkTestBase extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark

  val FixtureDir: String = graft.queries.QueryUtil.fixtureRoot

  def rows(df: DataFrame): Seq[Row] = df.collect().toSeq

  /** Physical plan as text, AQE final plan not required — used for
    * shape assertions (exchange counts, join strategies).
    */
  def planString(df: DataFrame): String =
    df.queryExecution.executedPlan.toString
}
