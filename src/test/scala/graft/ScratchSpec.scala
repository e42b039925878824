package graft

import org.apache.spark.sql.functions._

import graft.queries.Scratch

/** The shared-scratch cache's INVALIDATION contract (r9 verdict item:
  * the bare (dir, threshold) key only implied that a dir's contents
  * are immutable for a process lifetime): rewriting the source table
  * under the SAME path must change the fingerprint and force the next
  * consumer to re-derive — stale pairs from the previous corpus must
  * never ship.
  */
class ScratchSpec extends SparkTestBase {
  import spark.implicits._

  private def writeDocs(dir: String, texts: Seq[(Long, String)]): Unit =
    texts.toDF("doc_id", "text").repartition(1)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")

  test("tableFingerprint: stable on identical listing, changes on rewrite, absent-safe") {
    val dir = java.nio.file.Files.createTempDirectory("graft_fp_").toString
    assert(Scratch.tableFingerprint(dir, "documents").startsWith("absent:"))
    writeDocs(dir, Seq((1L, "alpha beta gamma delta")))
    val fp1 = Scratch.tableFingerprint(dir, "documents")
    val fp1again = Scratch.tableFingerprint(dir, "documents")
    assert(fp1 === fp1again, "listing unchanged => fingerprint unchanged")
    // a rewrite with different content changes part-file length (and
    // mtime) — the fingerprint must move
    writeDocs(dir, Seq((1L, "alpha beta gamma delta epsilon zeta eta theta")))
    val fp2 = Scratch.tableFingerprint(dir, "documents")
    assert(fp1 !== fp2, "rewritten table => new fingerprint")
  }

  test("cached: same fingerprint reuses; rewrite evicts the superseded scratch dir; nested call throws") {
    val dir = java.nio.file.Files.createTempDirectory("graft_evict_").toString
    writeDocs(dir, Seq((1L, "a b c d")))
    val tmpRoot = java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"))
    def scratchDirs(): Long = {
      val s = java.nio.file.Files.list(tmpRoot)
      try s.filter(_.getFileName.toString.startsWith("graft_testev_")).count()
      finally s.close()
    }
    val docs = () => spark.read.parquet(s"$dir/documents.parquet")
    val before = scratchDirs()
    assert(rows(Scratch.cached(spark, "testev", dir, "p")(docs())).size === 1)
    assert(scratchDirs() === before + 1)
    // unchanged source: served from the stored file — the builder must
    // not run (it would throw)
    assert(rows(Scratch.cached(spark, "testev", dir, "p")(
      sys.error("builder ran on an unchanged fingerprint"))).size === 1)
    assert(scratchDirs() === before + 1)
    // in-place rewrite: re-derives AND deletes the superseded scratch
    // dir (ADVICE r10: entries/dirs used to accumulate per rewrite)
    writeDocs(dir, Seq((1L, "x y z w"), (2L, "q r s t")))
    assert(rows(Scratch.cached(spark, "testev", dir, "p")(docs())).size === 2)
    assert(scratchDirs() === before + 1,
      "superseded scratch dir not deleted on fingerprint change")
    // nested cached call from inside a builder: loud failure, not a
    // computeIfAbsent deadlock (r10 verdict item 4)
    val e = intercept[IllegalStateException] {
      Scratch.cached(spark, "testev_outer", dir, "p") {
        Scratch.cached(spark, "testev_inner", dir, "p")(docs())
      }
    }
    assert(e.getMessage.contains("nested Scratch.cached"))
    // the guard resets: a top-level call after the failure still works
    assert(rows(Scratch.cached(spark, "testev_inner", dir, "p")(docs())).size === 2)
  }

  test("value: same fingerprint reuses; rewrite re-runs the builder and leaves one entry; nested call throws") {
    val dir = java.nio.file.Files.createTempDirectory("graft_val_").toString
    writeDocs(dir, Seq((1L, "a b c d")))
    var builds = 0
    def model(): Long = Scratch.value("testval", dir, "p") {
      builds += 1
      spark.read.parquet(s"$dir/documents.parquet").count()
    }
    assert(model() === 1L && builds === 1)
    assert(model() === 1L && builds === 1, "builder re-ran on an unchanged fingerprint")
    writeDocs(dir, Seq((1L, "x y z w"), (2L, "q r s t")))
    assert(model() === 2L && builds === 2, "rewrite did not re-run the builder")
    assert(Scratch.held.count(_._1 == "testval") === 1,
      "superseded driver value kept beside its replacement")
    val e = intercept[IllegalStateException] {
      Scratch.value("testval_outer", dir, "p") {
        Scratch.value("testval_inner", dir, "p")(0L)
      }
    }
    assert(e.getMessage.contains("nested Scratch.cached/value('testval_inner')"))
    assert(Scratch.value("testval_inner", dir, "p")(7L) === 7L)
  }

  test("pairs: a docs rewrite re-mines, evicts the superseded scratch dir and releases the banded cache") {
    val dir = java.nio.file.Files.createTempDirectory("graft_pairsev_").toString
    val base = "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 w11 w12"
    writeDocs(dir, Seq((1L, base), (2L, base), (7L, "x1 x2 x3 x4 x5 x6 x7 x8")))
    val tmpRoot = java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"))
    def pairDirs(): Long = {
      val s = java.nio.file.Files.list(tmpRoot)
      try s.filter(_.getFileName.toString.startsWith("graft_pairs_")).count()
      finally s.close()
    }
    def pairKeys(): Set[(Long, Long)] =
      rows(SparkEntry.queries("q_dedup_minhash")(spark, dir))
        .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
    val dirsBefore = pairDirs()
    val persistedBefore = spark.sparkContext.getPersistentRDDs.size
    assert(pairKeys() === Set((1L, 2L)))
    assert(spark.sparkContext.getPersistentRDDs.size <= persistedBefore,
      "the banded-signature cache outlived the pairs write")
    assert(pairDirs() === dirsBefore + 1)
    writeDocs(dir, Seq((1L, "y1 y2 y3 y4 y5 y6 y7 y8"), (2L, base), (7L, base)))
    assert(pairKeys() === Set((2L, 7L)))
    assert(pairDirs() === dirsBefore + 1,
      "superseded pairs scratch dir not deleted on fingerprint change")
    assert(Scratch.held.count(e => e._1 == "pairs" && e._2 == dir) === 1)
  }

  test("cached: a FAILED rebuild keeps the previous entry servable (build-then-evict order)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_fail_").toString
    writeDocs(dir, Seq((1L, "a b c d")))
    val df1 = Scratch.cached(spark, "testfail", dir, "p")(
      spark.read.parquet(s"$dir/documents.parquet"))
    assert(rows(df1).size === 1)
    // in-place rewrite moves the fingerprint; the rebuild THROWS —
    // before the ADVICE r11 fix the superseded dir was deleted up
    // front, so df1 (and any retry that hit the stale mapping) read
    // FileNotFoundException instead of the old data / a clean retry
    writeDocs(dir, Seq((1L, "x y z w"), (2L, "q r s t")))
    intercept[RuntimeException] {
      Scratch.cached(spark, "testfail", dir, "p")(sys.error("rebuild boom"))
    }
    assert(rows(df1).size === 1,
      "pre-rewrite frame lost its files after a FAILED rebuild")
    // the retry builds cleanly and only THEN evicts the old dir
    assert(rows(Scratch.cached(spark, "testfail", dir, "p")(
      spark.read.parquet(s"$dir/documents.parquet"))).size === 2)
  }

  test("eviction is confined to the entry's own unique scratch parent (r11 verdict: pin the scratchDir coupling)") {
    // deleteRecursively walks the WRITTEN PATH'S PARENT — correct only
    // because scratchDir mints a fresh temp dir per call. A future
    // refactor sharing one parent across entries must fail here, not
    // silently nuke sibling caches on the first eviction.
    val d1 = graft.queries.QueryUtil.scratchDir("graft_uniq_")
    val d2 = graft.queries.QueryUtil.scratchDir("graft_uniq_")
    assert(d1 !== d2, "scratchDir returned a shared directory")
    val dir = java.nio.file.Files.createTempDirectory("graft_coup_").toString
    writeDocs(dir, Seq((1L, "a b c d")))
    val docs = () => spark.read.parquet(s"$dir/documents.parquet")
    Scratch.cached(spark, "testcoupA", dir, "p")(docs())
    val dfB = Scratch.cached(spark, "testcoupB", dir, "p")(docs())
    assert(rows(dfB).size === 1)
    // rewrite + rebuild kind A only: its eviction must not take kind
    // B's files with it
    writeDocs(dir, Seq((1L, "x y z w"), (2L, "q r s t")))
    assert(rows(Scratch.cached(spark, "testcoupA", dir, "p")(docs())).size === 2)
    assert(rows(dfB).size === 1,
      "evicting kind A's scratch dir deleted kind B's files — shared parent")
  }

  test("registry consumers re-derive after an in-place docs rewrite (pairs + shingles + cross-pairs)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_inval_").toString
    val base = "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 w11 w12"
    // corpus A: docs 1 and 2 identical (jaccard 1.0); doc 401 (the
    // eval side of the 400 split) identical too — so the full-corpus
    // pair set and the cross-boundary pair set both have known answers
    writeDocs(dir, Seq(
      (1L, base), (2L, base), (401L, base),
      (7L, "x1 x2 x3 x4 x5 x6 x7 x8 x9 x10 x11 x12")))

    def pairKeys(name: String): Set[(Long, Long)] =
      rows(SparkEntry.queries(name)(spark, dir))
        .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet

    assert(pairKeys("q_dedup_minhash") === Set((1L, 2L), (1L, 401L), (2L, 401L)))
    assert(pairKeys("q_dedup_ngram") === Set((1L, 2L), (1L, 401L), (2L, 401L)))
    assert(pairKeys("q_dedup_incremental") === Set((1L, 401L), (2L, 401L)))

    // rewrite IN PLACE: now docs 2 and 7 are the identical pair and
    // nothing matches the eval side
    writeDocs(dir, Seq(
      (1L, "y1 y2 y3 y4 y5 y6 y7 y8 y9 y10 y11 y12 extra tail"),
      (2L, base), (7L, base),
      (401L, "z1 z2 z3 z4 z5 z6 z7 z8 z9 z10 z11 z12")))

    // without fingerprinted keys the reads below would return the
    // STALE pair sets from the first corpus
    assert(pairKeys("q_dedup_minhash") === Set((2L, 7L)))
    assert(pairKeys("q_dedup_ngram") === Set((2L, 7L)))
    assert(pairKeys("q_dedup_incremental") === Set.empty)
  }
}
