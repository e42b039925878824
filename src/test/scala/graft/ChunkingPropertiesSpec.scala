package graft

import org.scalacheck.{Gen, Properties, Test}
import org.scalacheck.Prop.forAll
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

import graft.operators.Chunking

/** chunkByTokens invariants on random documents and window configs:
  * chunks must reconstruct the document exactly (full coverage, exact
  * `overlap`-token sharing between neighbours), indices must be dense,
  * and the reported n_tokens must match the chunk text. A failing case
  * shrinks to a minimal (tokens, chunk, overlap) triple.
  */
object ChunkingPropertiesSpec extends Properties("Chunking") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(12)

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

  private val cfg: Gen[(Int, Int, Int)] = for {
    nTokens <- Gen.chooseNum(1, 260)
    chunk <- Gen.chooseNum(1, 50)
    overlap <- Gen.chooseNum(0, chunk - 1)
  } yield (nTokens, chunk, overlap)

  property("chunks reconstruct the document with exact overlap") =
    forAll(cfg) { case (nTokens, chunk, overlap) =>
      import spark.implicits._
      val toks = (1 to nTokens).map(i => s"t$i")
      val doc = Seq((1L, toks.mkString(" "))).toDF("doc_id", "text")
      val out = Chunking.chunkByTokens(doc, chunk, overlap)
        .orderBy(col("chunk_idx"))
        .collect()
        .map(r => (r.getInt(1), r.getString(2), r.getInt(3)))

      val denseIdx = out.map(_._1).toSeq == out.indices.toSeq
      val countsMatch = out.forall { case (_, text, n) =>
        text.split(" ", -1).length == n
      }
      // neighbour chunks share exactly `overlap` tokens; dropping them
      // from every chunk after the first rebuilds the document
      val rebuilt = out.zipWithIndex.flatMap { case ((_, text, _), i) =>
        val t = text.split(" ", -1).toSeq
        if (i == 0) t else t.drop(overlap)
      }.toSeq
      denseIdx && countsMatch && rebuilt == toks
    }
}
