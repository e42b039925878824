package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.functions.VectorOps

class ExtensionsSpec extends SparkTestBase {

  test("GraftExtensions exposes fvec_dot/fvec_normsq/fvec_cos to SQL, same values as the DSL") {
    val base = spark
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      // New session on the shared context — extensions apply at session
      // construction, so the suite-wide session can't be reused here.
      val s = SparkSession.builder()
        .master("local[4]")
        .config(Harness.LocalFsConfs)
        .config("spark.sql.shuffle.partitions", "4")
        .withExtensions(new graft.plans.GraftExtensions)
        .getOrCreate()
      s.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        .limit(50).createOrReplaceTempView("e")

      val viaSql = s.sql(
        """SELECT a.vec_id AS ia, b.vec_id AS ib,
          |  fvec_dot(a.embedding, b.embedding) AS d,
          |  fvec_normsq(a.embedding) AS n,
          |  fvec_cos(a.embedding, b.embedding) AS c
          |FROM e a JOIN e b ON a.vec_id < b.vec_id
          |ORDER BY ia, ib""".stripMargin).collect().toSeq

      val viaDsl = {
        val e = s.table("e")
        e.as("a").join(e.as("b"), col("a.vec_id") < col("b.vec_id"))
          .select(col("a.vec_id").as("ia"), col("b.vec_id").as("ib"),
            VectorOps.dot(col("a.embedding"), col("b.embedding")).as("d"),
            VectorOps.normSq(col("a.embedding")).as("n"),
            VectorOps.cosineSimilarity(col("a.embedding"), col("b.embedding")).as("c"))
          .orderBy(col("ia"), col("ib")).collect().toSeq
      }

      assert(viaSql.nonEmpty)
      assert(viaSql === viaDsl) // identical expression trees -> identical bits

      // Sanity: self-cosine is 1 up to the sqrt(x)*sqrt(x) ulp.
      val self = s.sql(
        "SELECT fvec_cos(embedding, embedding) AS c FROM e").collect()
      assert(self.forall(r => math.abs(r.getDouble(0) - 1.0) < 1e-12))

      // Wrong arity surfaces as a readable error, not an index crash
      val err = intercept[Throwable](
        s.sql("SELECT fvec_dot(embedding) FROM e").collect())
      val msgs = Iterator.iterate(err)(_.getCause).takeWhile(_ != null)
        .map(t => Option(t.getMessage).getOrElse("")).mkString(" | ")
      assert(msgs.contains("fvec_dot expects 2"), msgs)

      // md5_long64 via SQL = the DSL kernel = the composed built-in form
      val h = s.sql(
        """SELECT md5_long64('abc') AS k,
          |  md5_long64(CAST(NULL AS STRING)) AS nk""".stripMargin).collect().head
      val viaDslHash = s.range(1)
        .select(graft.functions.Text.md5Long64(lit("abc")).as("k"),
          graft.functions.Text.md5Long64Composed(lit("abc")).as("kc"))
        .collect().head
      assert(h.getLong(0) === viaDslHash.getLong(0))
      assert(h.getLong(0) === viaDslHash.getLong(1))
      assert(h.isNullAt(1)) // null in, null out

      // strip_html via SQL = the DSL chain, bit-for-bit
      val html = "<body><h1>T &amp; t</h1><script>x</script><p>ok</p></body>"
      val viaSqlHtml = s.sql(
        s"""SELECT strip_html('${html.replace("'", "''")}') AS t""")
        .collect().head.getString(0)
      val viaDslHtml = s.range(1)
        .select(graft.functions.Text.stripHtml(lit(html)).as("t"))
        .collect().head.getString(0)
      assert(viaSqlHtml === viaDslHtml)
      assert(viaSqlHtml === "T & t ok")

      // the COMMENT-order divergence: a commented-out <script> opener
      // pairing with a later REAL </script> — the SQL chain used to
      // strip subtrees BEFORE comments, deleting 'keep' and leaking
      // the orphaned '<!--' where the DSL returned 'keep'
      val tricky = "<!-- <script> -->keep<script>x</script>"
      val sqlTricky = s.sql(
        s"""SELECT strip_html('${tricky.replace("'", "''")}') AS t""")
        .collect().head.getString(0)
      val dslTricky = s.range(1)
        .select(graft.functions.Text.stripHtml(lit(tricky)).as("t"))
        .collect().head.getString(0)
      assert(sqlTricky === dslTricky)
      assert(sqlTricky === "keep")
    } finally {
      SparkSession.setDefaultSession(base)
      SparkSession.setActiveSession(base)
    }
  }
}
