package graft.queries

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The process-wide cache of SHARED derivations: every derived working
  * set or model that more than one registered query needs is built once
  * per run and read by every consumer — the write-once-feed-many shape a
  * 100 TB deployment uses for mined near-dup pairs, shingle indexes,
  * gram vocabularies and trained models. This object is the ONE such
  * cache; no query keeps its own.
  *
  * Two entry forms share one map and one set of rules:
  *  - [[cached]] (and [[cachedReleasable]]): a DataFrame written to a
  *    scratch parquet dir. The PATH is cached, not the frame — frames
  *    die with their session, files survive
  *    [[graft.Harness.RecycleEvery]] session recycling — and each
  *    consumer gets a plain file read. `cachedReleasable`'s builder
  *    also hands back a release hook (e.g. the banded-signature cache
  *    of [[graft.operators.Dedup.minhashNearDuplicatesReleasable]]),
  *    run as soon as the write succeeds.
  *  - [[value]]: a driver-side object (PQ codebook, BPE merge list,
  *    bigram model) held as-is.
  *
  * Key: (kind, dir, param). The value carries a FINGERPRINT of the
  * source table's file listing ([[tableFingerprint]]), so rewriting the
  * data under the SAME path makes the next consumer re-derive (the r9
  * staleness hole: a harness that regenerates `documents.parquet` in
  * place would otherwise be fed the previous corpus's derivation).
  * Build-then-evict: the replacement is built first, and only after it
  * succeeds is the superseded entry dropped and its scratch dir deleted
  * — a failed rebuild leaves the old entry servable and the next call
  * retries. A builder must never call back into this object (the
  * per-key `compute` is not re-entrant); a per-thread guard THROWS on a
  * nested call instead of deadlocking, so prime any upstream kind first
  * and pass its frame into the builder closure.
  *
  * Bench honesty: Bench, VerifyTwice and the A/B tools call [[reset]]
  * before every pass, so each pass pays each derivation exactly once and
  * min-of-passes can never erase it. The query that pays is OBSERVED,
  * not declared: every build runs eagerly while a query's frame is
  * built, so Bench diffs [[held]] around each query and records that
  * query as the kind's builder; a targeted retry re-derives (via
  * [[resetKind]]) exactly the kinds whose builder it re-times.
  */
object Scratch {

  /** A parquet entry's value: the scratch path its builder wrote. */
  private final case class Files(path: String)

  /** (kind, dir, param) -> (source fingerprint, value). */
  private val cache =
    new java.util.concurrent.ConcurrentHashMap[(String, String, String), (String, Any)]()

  /** True while THIS thread is inside a builder. */
  private val inBuilder = new ThreadLocal[java.lang.Boolean] {
    override def initialValue(): java.lang.Boolean = java.lang.Boolean.FALSE
  }

  private def deleteRecursively(path: String): Unit = {
    def walk(f: java.io.File): Unit = {
      if (f.isDirectory)
        Option(f.listFiles()).getOrElse(Array.empty).foreach(walk)
      f.delete()
    }
    // best-effort: the scratch dir is process-temp space; a failed
    // delete leaks disk, never correctness
    walk(new java.io.File(path).getParentFile)
  }

  /** Drop every entry (the per-pass reset). */
  def reset(): Unit = cache.clear()

  /** Drop one kind (Bench's targeted retry). */
  def resetKind(kind: String): Unit = cache.keySet().removeIf(_._1 == kind)

  /** Every entry held now, as (kind, dir, param, fingerprint): two
    * snapshots differ exactly by the entries built in between.
    */
  def held: Set[(String, String, String, String)] =
    cache.asScala.iterator.map { case ((k, d, p), (fp, _)) => (k, d, p, fp) }.toSet

  /** Listing fingerprint of `dir/<table>.parquet` (file or directory):
    * every part file's path, length, and mtime, digest-folded in
    * sorted order. Local-filesystem listing — the verified mains only
    * ever read local testdata; a DFS deployment would swap in a
    * FileSystem.listStatus walk (same contract). An absent table
    * fingerprints as "absent:<path>" so the downstream read fails with
    * the real missing-path error, not a fingerprint NPE.
    *
    * Caveat: a same-length in-place byte mutation landing within the
    * file system's mtime resolution would not move it. Spark rewrites
    * produce fresh UUID part-file names, which always move the
    * listing; a non-Spark writer mutating bytes in place is outside
    * this contract.
    */
  def tableFingerprint(dir: String, tableName: String): String = {
    val root = new java.io.File(dir, s"$tableName.parquet")
    if (!root.exists()) s"absent:${root.getPath}"
    else {
      val md = java.security.MessageDigest.getInstance("MD5")
      def walk(f: java.io.File): Unit =
        if (f.isDirectory) {
          val kids = Option(f.listFiles()).getOrElse(Array.empty)
          kids.sortBy(_.getName).foreach(walk)
        } else md.update(
          s"${f.getPath}:${f.length()}:${f.lastModified()}\n"
            .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      walk(root)
      md.digest().map("%02x".format(_)).mkString
    }
  }

  /** The driver-value entry: `build` runs on first demand per key at the
    * source table's current fingerprint; every later demand returns the
    * held object.
    */
  def value[T](kind: String, dir: String, param: String,
      sourceTable: String = "documents")(build: => T): T = {
    if (inBuilder.get())
      throw new IllegalStateException(
        s"nested Scratch.cached/value('$kind') call from inside a builder — " +
          "compute would deadlock; prime the upstream kind first and " +
          "pass the primed frame into the builder closure")
    val fp = tableFingerprint(dir, sourceTable)
    cache.compute((kind, dir, param), { (_, prev) =>
      if (prev != null && prev._1 == fp) prev
      else {
        inBuilder.set(java.lang.Boolean.TRUE)
        val v = try build finally inBuilder.set(java.lang.Boolean.FALSE)
        prev match {
          case (_, Files(old)) => deleteRecursively(old)
          case _ => ()
        }
        (fp, v)
      }
    })._2.asInstanceOf[T]
  }

  /** The parquet entry: `build`'s frame is written to a fresh scratch
    * dir once per key and fingerprint; every demand reads the file.
    */
  def cached(s: SparkSession, kind: String, dir: String, param: String,
      sourceTable: String = "documents")(build: => DataFrame): DataFrame =
    cachedReleasable(s, kind, dir, param, sourceTable)((build, () => ()))

  /** [[cached]] for a builder whose frame pins resources until released:
    * `build` returns (frame, release), and release runs once the write
    * has succeeded.
    */
  private[queries] def cachedReleasable(s: SparkSession, kind: String,
      dir: String, param: String, sourceTable: String = "documents")(
      build: => (DataFrame, () => Unit)): DataFrame = {
    val files = value(kind, dir, param, sourceTable) {
      val (df, release) = build
      val out = QueryUtil.scratchDir(s"graft_${kind}_") + s"/$kind"
      df.write.mode("overwrite").parquet(out)
      release()
      Files(out)
    }
    s.read.parquet(files.path)
  }
}
