package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for large-scale text corpora.
  *
  * All variants are built so the candidate-generation step is an
  * equi-join / hash-aggregation on a derived key — NEVER an all-pairs
  * crossJoin and never a driver-side collect — so the same plan shape
  * survives a 1000-executor, 100 TB corpus:
  *
  *  - exact:     groupBy(md5(text))                — one shuffle
  *  - MinHash:   explode band keys → self-join on band key — shuffle on
  *               band hash; only same-bucket docs ever meet
  *  - n-gram:    inverted index (explode shingles) → self-join on
  *               shingle → count-based exact Jaccard — shuffle on shingle
  *  - SimHash:   64-bit signature per doc; bucket on 4×16-bit bands
  *
  * Everything is `org.apache.spark.sql.functions` higher-order functions
  * (codegen'd); no UDFs.
  */
object Dedup {

  /** Tokens on single space — matches the corpus format of
    * `documents.parquet` (TESTDATA.md) and the DuckDB oracle's
    * `string_split(text, ' ')`. Delegates to [[graft.functions.Text.tokens]]
    * so dedup keys and text stats share ONE tokenization contract.
    */
  def tokens(text: Column): Column = graft.functions.Text.tokens(text)

  /** Distinct n-word shingles: `array_distinct` over
    * [[graft.functions.Text.ngrams]] (which carries the let-binding
    * and short-doc guards — documents shorter than n tokens yield an
    * empty set). ONE gram-construction definition: this used to
    * duplicate the whole sequence/transform/concat_ws machinery
    * line-for-line, so a fix to the let-binding trap or the short-doc
    * guard in one copy silently missed the other.
    */
  def shingles(text: Column, n: Int): Column =
    array_distinct(graft.functions.Text.ngrams(text, n))

  /** Exact duplicate groups keyed on md5(text): one row per distinct
    * content, carrying the smallest doc_id (the canonical survivor) and
    * the duplicate count. Single hash shuffle on the digest — uniform by
    * construction, no skew at any scale.
    *
    * NULL-text rows are excluded: md5(NULL) is NULL and groupBy
    * COLLATES null keys, so distinct null-text docs would otherwise
    * report as one "duplicate" group whose keep rule silently drops
    * all but one of them — rows with no content aren't duplicates of
    * anything; route them through a quality gate, not a deduper.
    *
    * Row-count contract for accounting-style callers: sum(n_copies)
    * equals the count of NON-NULL-text input rows, not the input row
    * count — a corpus with NULL-text rows shows that shortfall by
    * design. Reconcile against `count(col("text"))`, or pre-filter
    * NULLs through a quality gate so the two totals agree.
    */
  def exactDuplicateGroups(docs: DataFrame): DataFrame =
    docs.filter(col("text").isNotNull)
      .groupBy(md5(col("text")).as("content_key"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))

  /** 128-permutation MinHash signature over 3-word shingles.
    *
    * h_k(s) = (a_k * x + b_k) mod P with x = xxhash64(shingle) mod P,
    * P = 2^31 - 1 (Mersenne prime), a_k/b_k from a fixed seeded PRNG —
    * fully deterministic, per-row linear work, no shuffle.
    */
  val NumPerms = graft.functions.MinHashPerms.NumPerms
  val LshBands = 32 // 32 bands × 4 rows: P(miss | jaccard=0.8) ≈ 5e-8
  private val P = graft.functions.MinHashPerms.P

  /** Per-document MinHash signature computed through the AGGREGATION
    * ENGINE instead of one mega-expression: explode shingles to rows,
    * xxhash64 each once, then ONE [[graft.functions.MinHashMins]]
    * aggregate producing the 128 per-permutation minima as an
    * `array<bigint>`.
    *
    * Why not a Column-expression form (a 128-way `array_min(transform(
    * ...))` over the shingle array): it exceeds whole-stage codegen
    * limits and falls back to INTERPRETED eval — observed via jstack as
    * StringSplit re-evaluated inside ArrayAggregate, hundreds of
    * CPU-seconds per task. (And composing band keys over a separate
    * signature Column inlines the whole 128-permutation subtree into
    * every reference — Catalyst substitutes, it does not let-bind —
    * for a further 128× blowup.)
    *
    * Why not 128 separate `min(pmod(a_k·x + b_k, P))` aggregate columns
    * (the r3-r12 form): Catalyst pays analysis/optimization PER
    * AggregateExpression, and that form measured 0.7-0.9 s of DRIVER
    * planning per query compilation (r13 planning-cost probe) — the
    * streaming admission loop re-plans it every micro-batch. The single
    * aggregate is bit-identical by construction (same longs, same
    * arithmetic — see MinHashMins' scaladoc) and the exchange carries
    * the same 128 longs per doc.
    *
    * Output: (doc_id, mins array<bigint>[128]). A document with NO
    * shingles (shorter than the shingle width) has no rows after the
    * explode, so it gets no signature and never appears as a
    * candidate — correct, since an empty shingle set has Jaccard 0
    * against everything.
    */
  private def minhashColumns(withShingles: DataFrame): DataFrame = {
    val hashed = withShingles.select(col("doc_id"),
      explode(col("sh")).as("shingle"))
      .select(col("doc_id"), pmod(xxhash64(col("shingle")), lit(P)).as("x"))
    hashed.groupBy(col("doc_id"))
      .agg(graft.functions.MinHashMins.mins(col("x")).as("mins"))
  }

  /** Near-duplicate pairs via MinHash + LSH with exact-Jaccard
    * verification on the candidates.
    *
    * Plan shape: explode shingles → one codegen'd HashAggregate
    * producing the 128 per-permutation minima (partial agg before its
    * only shuffle) → 32 band keys → explode → self-equi-join on band key
    * → distinct pairs → re-attach the two shingle sets → exact Jaccard
    * filter. The only quadratic work is within a bucket, which LSH keeps
    * tiny; the verification join is two hash joins on doc_id.
    *
    * The banded signatures are referenced twice by the self-join, so
    * that frame is `persist()`ed MEMORY_ONLY (small: one (long, int)
    * pair per doc per band; LRU-evictable and recomputed if evicted,
    * never spilled to disk — a long-lived session can't accumulate disk
    * blocks). The shingle sets are deliberately NOT cached: they are
    * re-derived map-side for the two verification joins, and caching
    * the heavy string arrays measured SLOWER than recomputing them
    * (deserialized-object cache churn beats a codegen'd split+transform
    * scan). The cache is not explicitly unpersisted — the returned
    * DataFrame stays lazy. A service calling this repeatedly over large
    * corpora should do what a 100 TB deployment does structurally:
    * WRITE the signature table once and dedup against it incrementally,
    * rather than re-deriving it per call.
    *
    * Output: (doc_a, doc_b, jaccard) with doc_a < doc_b,
    * jaccard = |A∩B| / |A∪B| on distinct 3-shingles, >= threshold.
    */
  /** (doc_id, bk) LSH band keys — one row per doc per band. This IS the
    * "signature table" a 100 TB deployment persists/buckets by `bk` and
    * dedups against incrementally instead of re-deriving per run.
    */
  private def bandedKeys(withShingles: DataFrame): DataFrame = {
    val rows = NumPerms / LshBands
    // element_at is 1-based; hash() of the SAME four longs (plus the
    // band index) yields the SAME band key as the former m0..m127
    // column form — band keys, buckets and candidates are unchanged.
    val bandKeyArr = array((0 until LshBands).map { b =>
      hash(lit(b) +: (0 until rows).map(r =>
        element_at(col("mins"), b * rows + r + 1)): _*)
    }: _*)
    minhashColumns(withShingles)
      .select(col("doc_id"), explode(bandKeyArr).as("bk"))
  }

  def minhashNearDuplicates(docs: DataFrame, threshold: Double): DataFrame =
    minhashNearDuplicatesReleasable(docs, threshold)._1

  /** [[minhashNearDuplicates]] with an explicit cache-release hook:
    * the banded-signature table persists so the self-join's two sides
    * share one computation, and `release()` drops that cache once the
    * caller has MATERIALIZED the pairs. One-shot callers may ignore it
    * (the JVM's cache registry holds one entry); repeated callers —
    * the streaming admission loop runs this every micro-batch — must
    * call it, or block-manager bookkeeping grows by one pinned frame
    * per batch for the life of the stream.
    */
  def minhashNearDuplicatesReleasable(
      docs: DataFrame, threshold: Double): (DataFrame, () => Unit) = {
    val (pairs, _, release) = minhashNearDuplicatesWithBands(docs, threshold)
    (pairs, release)
  }

  /** [[minhashNearDuplicatesReleasable]] that ALSO hands back the
    * persisted banded-signature frame (doc_id, bk): a caller that
    * needs the same docs' signatures afterwards (the streaming
    * admission loop writes survivors' signatures to its sidecar
    * table) reads them from this cache instead of paying the
    * shingle + 128-minimum aggregation a second time per batch.
    * Valid until `release()`.
    */
  def minhashNearDuplicatesWithBands(
      docs: DataFrame, threshold: Double): (DataFrame, DataFrame, () => Unit) = {
    val withShingles = docs.select(
      col("doc_id"), shingles(col("text"), 3).as("sh"))

    val banded = bandedKeys(withShingles)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_ONLY)

    val candidates = banded.as("x").join(banded.as("y"), Seq("bk"))
      .filter(col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()

    (verifyJaccard(candidates, withShingles, withShingles, threshold),
      banded,
      () => { banded.unpersist(); () })
  }

  /** Incremental near-duplicate detection: NEW documents against an
    * EXISTING corpus — the shape a growing 100 TB corpus actually runs.
    * The corpus side's signatures are derived once (a deployment
    * persists them — see `bandedKeys`); each batch of new docs only
    * computes ITS signatures and meets corpus docs sharing a band
    * bucket, so per-batch cost scales with the batch, not the corpus,
    * and corpus∪batch is never self-joined.
    *
    * Output: (doc_a = corpus doc, doc_b = new doc, jaccard >= threshold).
    * Corpus and new ids are expected disjoint (same-id rows are ignored
    * defensively).
    */
  def minhashNearDuplicatesAgainst(
      corpus: DataFrame, newDocs: DataFrame, threshold: Double): DataFrame = {
    val corpusShingles = corpus.select(
      col("doc_id"), shingles(col("text"), 3).as("sh"))
    val newShingles = newDocs.select(
      col("doc_id"), shingles(col("text"), 3).as("sh"))

    val candidates = bandedKeys(corpusShingles).as("x")
      .join(bandedKeys(newShingles).as("y"), Seq("bk"))
      .filter(col("x.doc_id") =!= col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()

    verifyJaccard(candidates, corpusShingles, newShingles, threshold)
  }

  /** The PERSISTABLE signature table of a doc frame: (doc_id, bk) LSH
    * band rows — what a growing deployment writes once per admitted
    * batch so later batches band-join against STORED keys instead of
    * re-deriving shingles + 128 minima over the whole corpus every
    * time ([[minhashNearDuplicatesAgainst]]'s corpus side, made
    * incremental). Docs shorter than the shingle width produce no
    * rows (no signature — pair an exact-fingerprint channel for them,
    * as the streaming admission loop does).
    */
  def signatureRows(docs: DataFrame): DataFrame =
    bandedKeys(docs.select(col("doc_id"), shingles(col("text"), 3).as("sh")))

  /** [[minhashNearDuplicatesAgainst]] against a corpus represented by
    * its PERSISTED [[signatureRows]] table: the band join reads stored
    * (doc_id, bk) rows — zero corpus-side signature computation — and
    * the exact verify shingles ONLY the corpus docs that surfaced as
    * candidates (a semi-join on the candidate ids), so per-batch work
    * scales with the batch and its matches, not the corpus.
    */
  def minhashNearDuplicatesAgainstSigs(
      corpusSigs: DataFrame, corpusDocs: DataFrame,
      newDocs: DataFrame, threshold: Double): DataFrame = {
    val newShingles = newDocs.select(
      col("doc_id"), shingles(col("text"), 3).as("sh"))
    minhashNearDuplicatesAgainstBands(
      corpusSigs, corpusDocs, newDocs, bandedKeys(newShingles), threshold)
  }

  /** [[minhashNearDuplicatesAgainstSigs]] with the NEW side's banded
    * keys SUPPLIED by the caller — the (doc_id, bk) frame
    * [[minhashNearDuplicatesWithBands]] already computed and cached.
    * The streaming admission loop runs this every micro-batch: the
    * plain variant re-derived bandedKeys(newShingles) on a fresh plan
    * subtree that can never hit the cached frame, so the full
    * shingle + 128-minimum signature pass ran TWICE per batch for the
    * stream's lifetime. `newBands` is semi-joined onto `newDocs`' ids,
    * so a superset cache (the whole batch's bands vs the post-exact
    * survivors) is fine. The exact-jaccard verify still shingles the
    * new side — shingling alone is the cheap prefix of the signature
    * pass.
    */
  def minhashNearDuplicatesAgainstBands(
      corpusSigs: DataFrame, corpusDocs: DataFrame,
      newDocs: DataFrame, newBands: DataFrame, threshold: Double): DataFrame = {
    val newShingles = newDocs.select(
      col("doc_id"), shingles(col("text"), 3).as("sh"))
    val bands = newBands.join(
      newDocs.select(col("doc_id")), Seq("doc_id"), "left_semi")
    val candidates = corpusSigs.select(col("doc_id"), col("bk")).as("x")
      .join(bands.as("y"), Seq("bk"))
      .filter(col("x.doc_id") =!= col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
    val candCorpus = corpusDocs.join(
      candidates.select(col("doc_a").as("doc_id")).distinct(), Seq("doc_id"),
      "left_semi")
    val corpusShingles = candCorpus.select(
      col("doc_id"), shingles(col("text"), 3).as("sh"))
    verifyJaccard(candidates, corpusShingles, newShingles, threshold)
  }

  /** Exact n-gram-Jaccard near-duplicates via an inverted shingle index —
    * no hashing approximation. |A∩B| is counted by self-joining the
    * exploded (shingle, doc) index; |A∪B| = |A| + |B| - |A∩B|. The join
    * shuffles on the shingle value.
    *
    * Skew guard (OPT-IN): a shingle present in more than `maxDocFreq`
    * documents is dropped from the index BEFORE the self-join (classic
    * prefix-filter / stop-shingle refinement) — one hot shingle ("click
    * here to") would otherwise produce df² candidate rows on a single
    * shuffle key. The intersection count is then computed only over
    * surviving shingles, so the reported jaccard becomes a LOWER bound
    * for pairs touching dropped shingles. Because that diverges from
    * this function's exact-Jaccard contract, the DEFAULT is no cap
    * (`Long.MaxValue`) — exact semantics exactly as named. A 100 TB
    * deployment facing hot-key stalls passes an explicit cap and accepts
    * the documented lower-bound semantics (DedupSpec exercises it with a
    * stop-shingle corpus).
    */
  def ngramJaccardPairs(
      docs: DataFrame, n: Int, threshold: Double,
      maxDocFreq: Long = Long.MaxValue): DataFrame =
    jaccardFromStats(invertedIndexCommon(withShingles(docs, n), maxDocFreq),
      threshold)

  /** The Jaccard tail of [[ngramJaccardPairs]] over a pre-computed
    * pair-stats frame (the [[pairStats]] shape): threshold-independent
    * stats are the SHARED artifact — mine them once, filter per
    * threshold. |A∪B| = |A| + |B| - |A∩B| over distinct-shingle
    * counts, same arithmetic as the one-call path.
    */
  def jaccardFromStats(stats: DataFrame, threshold: Double): DataFrame =
    stats
      .withColumn("jaccard",
        col("n_common").cast("double") /
          (col("n_sh_a") + col("n_sh_b") - col("n_common")))
      .filter(col("jaccard") >= threshold)
      // portableRound6, not the builtin: an integer ratio over a
      // data-dependent union size |A|+|B|-|A∩B| reaches .5e-6 ties
      // whenever the reduced denominator is 2^7·5^j, j >= 1 (640,
      // 3200, …) — the exact r9 cross-engine ROUND-tie class, live
      // here because document shingle-set sizes are unbounded
      // (ADVICE r10). Oracle lockstep: portableRound6Sql.
      .select(col("doc_a"), col("doc_b"),
        graft.functions.Num.portableRound6(col("jaccard")).as("jaccard"))

  /** The per-doc distinct-shingle frame (doc_id, sh) every n-gram
    * miner starts from — ONE definition so the shared-scratch path
    * (see [[graft.queries.Scratch]]) and the one-call paths cannot
    * drift on tokenization or distinctness.
    */
  def withShingles(docs: DataFrame, n: Int): DataFrame =
    docs.select(col("doc_id"), shingles(col("text"), n).as("sh"))

  /** Exact threshold-independent pair statistics over a pre-shingled
    * frame: (doc_a, doc_b, n_common, n_sh_a, n_sh_b) for every
    * co-occurring pair — the write-once artifact both the Jaccard and
    * the containment miners filter. Exact semantics (no stop-shingle
    * cap); a capped deployment calls the one-call miners with
    * `maxDocFreq` and accepts their documented lower-bound trade-off.
    */
  def pairStats(withSh: DataFrame): DataFrame =
    invertedIndexCommon(withSh, Long.MaxValue)

  /** Shared core of [[ngramJaccardPairs]] and [[containmentPairs]]:
    * the exploded (shingle, doc) inverted index, the opt-in
    * stop-shingle cap, the intersection-count self-join, and the size
    * re-attaches — one definition, so a skew-guard or index fix cannot
    * silently miss one miner. Returns
    * (doc_a, doc_b, n_common, n_sh_a, n_sh_b) for every co-occurring
    * pair; the similarity measure is the caller's.
    *
    * Document frequency per shingle (when capped): hot shingles are
    * excluded from candidate generation. Window-count over the shingle
    * key — same single shuffle the self-join needs, no extra pass over
    * the corpus. Skipped entirely when no cap is set (the default):
    * the exact path carries no window operator at all.
    */
  private def invertedIndexCommon(
      withShingles: DataFrame, maxDocFreq: Long): DataFrame = {
    val sizes = withShingles.select(
      col("doc_id"), size(col("sh")).as("n_sh"))
    val index = withShingles.select(
      col("doc_id"), explode(col("sh")).as("shingle"))

    val filteredIndex = if (maxDocFreq == Long.MaxValue) index else {
      val dfW = Window.partitionBy(col("shingle"))
      index
        .withColumn("__df", count(lit(1)).over(dfW))
        .filter(col("__df") <= maxDocFreq)
        .drop("__df")
    }

    filteredIndex.as("x").join(filteredIndex.as("y"), Seq("shingle"))
      .filter(col("x.doc_id") < col("y.doc_id"))
      .groupBy(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("n_common"))
      .join(sizes.as("sa"), col("doc_a") === col("sa.doc_id"))
      .join(sizes.as("sb"), col("doc_b") === col("sb.doc_id"))
      .select(col("doc_a"), col("doc_b"), col("n_common"),
        col("sa.n_sh").as("n_sh_a"), col("sb.n_sh").as("n_sh_b"))
  }

  /** Exact n-gram CONTAINMENT pairs — the asymmetric companion to
    * [[ngramJaccardPairs]]: `C(A in B) = |A∩B| / |A|`. Jaccard misses
    * sub-document duplication by construction (a page quoted whole
    * inside a 100x larger page has tiny |A∩B|/|A∪B| but containment
    * ~1) — this is the quote/boilerplate/wrapper detector a corpus
    * pipeline runs beside the symmetric near-dup pass.
    *
    * Same inverted-index shape and shuffles as the Jaccard miner (the
    * intersection counts ARE the same aggregation); a pair surfaces
    * when EITHER direction's containment clears `threshold`, with both
    * directions reported. The same opt-in `maxDocFreq` stop-shingle
    * cap applies, with the same documented lower-bound trade-off.
    */
  def containmentPairs(
      docs: DataFrame, n: Int, threshold: Double,
      maxDocFreq: Long = Long.MaxValue): DataFrame = {
    containmentFromStats(
      invertedIndexCommon(withShingles(docs, n), maxDocFreq), threshold)
  }

  /** The containment tail of [[containmentPairs]] over a pre-computed
    * [[pairStats]] frame — the shared-artifact companion of
    * [[jaccardFromStats]] (one stats mine feeds both measures).
    */
  def containmentFromStats(stats: DataFrame, threshold: Double): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"threshold $threshold outside (0, 1]")
    stats
      .withColumn("contain_a", col("n_common").cast("double") / col("n_sh_a"))
      .withColumn("contain_b", col("n_common").cast("double") / col("n_sh_b"))
      .filter(greatest(col("contain_a"), col("contain_b")) >= threshold)
      // portableRound6 for the same reason as [[jaccardFromStats]]:
      // k/|A| with unbounded data-dependent |A| is the live ROUND-tie
      // class. Oracle lockstep: portableRound6Sql.
      .select(col("doc_a"), col("doc_b"),
        graft.functions.Num.portableRound6(col("contain_a")).as("contain_a"),
        graft.functions.Num.portableRound6(col("contain_b")).as("contain_b"))
  }

  /** Exact Jaccard pair mining with PREFIX FILTERING (the PPJoin family
    * — Xiao et al., "Efficient Similarity Joins for Near Duplicate
    * Detection", WWW'08): docs are joined only through the RAREST few
    * shingles of each, yet recall is provably exact.
    *
    * Under any single global total order on shingles, two docs with
    * J(a,b) >= t MUST share a token within the first
    * |x| - ceil(t·|x|) + 1 tokens of each side's ordered list — so
    * indexing only that prefix loses nothing. Ordering by ascending
    * document frequency makes the indexed tokens the rare ones: the
    * candidate join's buckets are small BY CONSTRUCTION, not by a
    * lossy cap (`maxDocFreq`'s trade-off, which this operator replaces
    * when exactness is required at scale).
    *
    * Shuffles: df aggregation (shingle-keyed), df attach (same key,
    * piggybacks), one per-doc aggregation to sort/slice the prefix,
    * the prefix self-join (shingle-keyed, rare-token buckets), pair
    * dedup (partial-combining agg), and the two size/array re-attaches
    * for the exact verify — every one an equi hash operation; nothing
    * is all-pairs.
    */
  def prefixFilterPairs(docs: DataFrame, n: Int, threshold: Double): DataFrame =
    prefixFilterPairsShingled(withShingles(docs, n), threshold)

  /** [[prefixFilterPairs]] over a pre-shingled (doc_id, sh) frame —
    * the shared-scratch entry point: the shingle set is the expensive
    * per-doc derivation every n-gram miner repeats, so the registry
    * reads it from the run's shared parquet (see
    * [[graft.queries.Scratch]]) and only the PPJoin itself runs here.
    */
  def prefixFilterPairsShingled(
      withShingles: DataFrame, threshold: Double): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"threshold $threshold outside (0, 1]")
    val index = withShingles.select(col("doc_id"), explode(col("sh")).as("shingle"))
    val dfreq = index.groupBy(col("shingle")).agg(count(lit(1)).as("df"))

    // Per doc: shingles ordered rare-first (ties on the shingle string =
    // a total order), sliced to the prefix. sort_array on the collected
    // (df, shingle) structs replaces a row_number window — one
    // aggregation, no per-doc sort exchange. (The r12 window rewrite —
    // count/row_number window chains instead of this aggregation — was
    // a driver-measured 3-5x REGRESSION: the chain's 2 Exchanges +
    // 3 full Sorts of the exploded index ran on BOTH sides of the
    // candidate self-join and its full sorts spill under 32 concurrent
    // tasks; reverted per the r12 verdict.) The 1e-9 nudge keeps
    // ceil(t·|x|) from rounding UP when t·|x| is mathematically integral
    // but lands a few ulps above it (0.4 × 10 → 4.0000000000000002):
    // a spuriously short prefix would break exact recall, a longer one
    // only costs a few extra candidates.
    val prefixLen = (size(col("ord")) -
      ceil(lit(threshold) * size(col("ord")) - lit(1e-9)) + 1).cast("int")
    // The exploded prefix tokens feed the candidate join as 64-bit
    // xxhash64 keys, not strings (kept from r12): equal shingles hash
    // equal, so every pair the string join met still meets (the PPJoin
    // recall theorem is untouched — prefix SELECTION still orders by
    // the exact (df, shingle-string) total order); a 64-bit collision
    // can only ADD candidates, which the exact-Jaccard verify rejects —
    // the result set is provably identical while the join shuffles
    // 8-byte longs instead of ~25-byte strings.
    val prefixIndex = index.join(dfreq, "shingle")
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(struct(col("df"), col("shingle")))).as("ord"))
      .select(col("doc_id"), size(col("ord")).as("n_sh"),
        posexplode(slice(col("ord").getField("shingle"), lit(1), prefixLen)))
      .select(col("doc_id"), col("n_sh"), (col("pos") + 1).as("p"),
        xxhash64(col("col")).as("shingle"))

    // LENGTH filter (the PPJoin companion bound): J(a,b) <= min/max of
    // the set sizes, so J >= t needs min >= t·max — a pipelined
    // predicate on the two carried sizes that kills most cross-size
    // candidates BEFORE the pair aggregation and the exact verify ever
    // see them. Purely necessary, so the result set is unchanged. The
    // 1e-9 nudge is the SAME ulp guard as prefixLen's ceil above:
    // t·|y| can land a few ulps ABOVE a mathematically attainable
    // boundary (0.07 × 100 → 7.000000000000001) and kill a pair whose
    // exact J equals t — breaking exact recall; the nudge only ever
    // admits a few extra candidates for the verify to reject.
    // POSITIONAL filter (r13 — PPJoin's second companion bound):
    // J >= t forces overlap O >= t·(|x|+|y|)/(1+t) =: α. Every common
    // token NOT counted by the prefix join lies globally AFTER the
    // pair's LAST common prefix token (an earlier-ordered common token
    // sits inside both prefixes and IS counted), so
    //   O <= n_pp + min(|x| - pxm, |y| - pym)
    // with n_pp = |prefix_x ∩ prefix_y| and (pxm, pym) that last
    // token's rare-first positions. A pair whose bound can't reach α
    // has J < t PROVABLY — the exact verify would reject it anyway, so
    // the filter changes nothing but the verify's input size (sf0.1:
    // 444k candidate pairs -> 197k measured). The 1e-9 slack is the
    // usual ulp guard on the t·n/(1+t) boundary.
    val candidates = prefixIndex.as("x").join(prefixIndex.as("y"), Seq("shingle"))
      .filter(col("x.doc_id") < col("y.doc_id") &&
        col("x.n_sh").cast("double") >=
          lit(threshold) * col("y.n_sh") - lit(1e-9) &&
        col("y.n_sh").cast("double") >=
          lit(threshold) * col("x.n_sh") - lit(1e-9))
      .groupBy(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        col("x.n_sh").as("__nx"), col("y.n_sh").as("__ny"))
      .agg(count(lit(1)).as("__npp"),
        max(col("x.p")).as("__pxm"), max(col("y.p")).as("__pym"))
      .filter((col("__npp") +
          least(col("__nx") - col("__pxm"), col("__ny") - col("__pym")))
            .cast("double") >=
        lit(threshold) * (col("__nx") + col("__ny")).cast("double") /
          lit(1.0 + threshold) - lit(1e-9))
      .select(col("doc_a"), col("doc_b"))

    // HASH pre-screen before the exact verify (r13): the same
    // two-pointer merge over per-doc SORTED xxhash64 arrays (primitive
    // 8-byte compares) bounds exact Jaccard from ABOVE — the multiset
    // hash-intersection count can only over-count (each common shingle
    // contributes a matching hash to both sides, so per hash value each
    // side's multiplicity >= its count of common shingles and the
    // min-multiplicity merge >= |A∩B|; a collision merges DISTINCT
    // shingles and inflates the count, never deflates it) — and
    // c/(|x|+|y|-c) is monotone increasing in c, so
    // `hash-jaccard >= t` keeps every pair the exact verify keeps.
    // Survivors (≈ the true pair set) then pay the string-compare
    // exact verify that produces the output jaccard; the ~197k
    // rejected candidates never touch a string.
    val hashed = withShingles.select(col("doc_id"),
      array_sort(transform(col("sh"), x => xxhash64(x))).as("hsh"))
    val screened = candidates
      .join(hashed.as("ha"), col("doc_a") === col("ha.doc_id"))
      .join(hashed.as("hb"), col("doc_b") === col("hb.doc_id"))
      .select(col("doc_a"), col("doc_b"),
        (size(col("ha.hsh")) + size(col("hb.hsh"))).as("__nab"),
        graft.functions.SortedArrayCommonCount(col("ha.hsh"), col("hb.hsh"))
          .as("__hc"))
      .filter(col("__hc").cast("double") /
        (col("__nab") - col("__hc")).cast("double") >= threshold)
      .select(col("doc_a"), col("doc_b"))

    // Exact verify over the FULL shingle sets — the SHARED verifier
    // (identical integer counts, identical division: |A∪B| of distinct
    // arrays IS |A|+|B|-|A∩B|), so a verify fix cannot miss one miner.
    verifyJaccard(screened, withShingles, withShingles, threshold)
  }

  /** SemDeDup-style SEMANTIC deduplication (Abbas et al., 2023,
    * arXiv:2303.09540): partition the embedding space with a centroid
    * codebook, then inside each cluster drop every item whose cosine to
    * a LOWER-id cluster member is ≥ eps — near-identical meaning, not
    * near-identical bytes (paraphrases, re-renders, translations-back),
    * which MinHash/SimHash cannot see.
    *
    * The keep rule ("∃ lower-id in-cluster neighbor ≥ eps ⇒ drop") is
    * deterministic and local to a pair — no iteration, no connected
    * components — matching the paper's one-shot prune.
    *
    * Scale shape: assignment is the map-side `Similarity
    * .assignToCentroids` projection (corpus never shuffles for it); the
    * in-cluster pair join is an equi-join on `centroid_id`; the dropped
    * set is a partial-combining aggregate; survivors come from one
    * broadcast-able anti join. The quadratic term is per-cluster — at
    * corpus scale pick k ≈ n/⌀cluster (the paper runs k in the tens of
    * thousands) so clusters stay bounded; a hot cluster is ordinary key
    * skew on `centroid_id` (AQE / saltedEquiJoin apply).
    *
    * Returns the SURVIVING (id, centroid_id) rows.
    */
  def semanticDedup(
      embs: DataFrame, centroids: DataFrame, eps: Double): DataFrame = {
    val assigned = Similarity.assignToCentroids(embs, centroids)
    val a = assigned.select(col("centroid_id"), col("id").as("id_a"),
      col("vec").as("__va"))
    val b = assigned.select(col("centroid_id"), col("id").as("id_b"),
      col("vec").as("__vb"))
    val dropped = a.join(b, Seq("centroid_id"))
      .filter(col("id_a") < col("id_b"))
      .filter(round(graft.functions.VectorOps
        .cosineSimilarity(col("__va"), col("__vb")), 6) >= eps)
      .groupBy(col("id_b")).agg(count(lit(1)).as("__n"))
      .select(col("id_b").as("id"))
    assigned.join(dropped, Seq("id"), "left_anti")
      .select(col("id"), col("centroid_id"))
  }

  /** Benchmark decontamination: drop from `corpus` every document that
    * leaks an eval-set item — through EITHER channel a training
    * pipeline screens:
    *
    *  - exact/normalized: the case-/punctuation-/whitespace-robust
    *    content fingerprint matches an eval doc (anti-join on the md5
    *    digest — one uniform shuffle);
    *  - near-duplicate: MinHash+LSH candidate generation against the
    *    eval set with exact-Jaccard confirmation at `threshold`
    *    ([[minhashNearDuplicatesAgainst]] — per-batch cost scales with
    *    the eval set, and the corpus is never self-joined).
    *
    * Both channels end in LEFT ANTI joins, so the output is the
    * surviving corpus rows unchanged — ready to write as the clean
    * dataset.
    */
  def decontaminate(
      corpus: DataFrame, evalSet: DataFrame, threshold: Double): DataFrame = {
    require(!corpus.columns.contains("__eval_fp"),
      "input column '__eval_fp' collides with decontaminate's scratch column")
    // eval ids are remapped into the negative domain (-id - 1):
    // minhashNearDuplicatesAgainst defensively skips same-id pairs, so
    // corpus doc 17 near-duplicating an UNRELATED eval doc 17 (two
    // independent datasets both numbering from 0) would ship as
    // "clean" if ids collided. The bijection keeps eval ids distinct
    // from any non-negative corpus id; corpus docs with negative ids
    // are out of contract (and an eval id of Long.MinValue fails the
    // ANSI negation loudly, not silently).
    val evalTagged = evalSet.select(
      (-col("doc_id") - 1).as("doc_id"), col("text"))
    val nearIds = minhashNearDuplicatesAgainst(corpus, evalTagged, threshold)
      .select(col("doc_a").as("doc_id"))
    decontaminateFromNearIds(corpus, evalSet, nearIds)
  }

  /** The anti-join tail of [[decontaminate]] over a PRE-MINED
    * contaminated-id set — the shared-scratch entry point: when the
    * corpus-vs-eval near-dup pairs are already on disk (the same set
    * an incremental-dedup consumer reads), decontamination is this
    * pair-file projection plus the fingerprint channel, with no second
    * mining pass. `nearIds` is (doc_id) — corpus docs with a near-dup
    * in the eval set (distinct'd here; callers may pass raw pair
    * projections). NOTE: callers own the id-collision defense the
    * one-call path gets from its negative remap — pass nearIds mined
    * over id-DISJOINT sides (the registry's split-by-doc_id slices are
    * disjoint by construction).
    */
  def decontaminateFromNearIds(
      corpus: DataFrame, evalSet: DataFrame, nearIds: DataFrame): DataFrame = {
    require(!corpus.columns.contains("__eval_fp"),
      "input column '__eval_fp' collides with decontaminate's scratch column")
    val fp = graft.functions.Text.normalizedFingerprint(col("text"))
    corpus
      .join(nearIds.distinct(), Seq("doc_id"), "left_anti")
      .join(evalSet.select(fp.as("__eval_fp")).distinct(),
        fp === col("__eval_fp"), "left_anti")
  }

  /** N-gram-overlap decontamination — the GPT-3/PaLM-style screen:
    * drop from `corpus` every document that shares ANY word n-gram
    * with the eval set (the classic n is 13; pass what fits the
    * corpus). Catches partial leaks — an eval question embedded in a
    * longer page — that whole-document fingerprints and even
    * near-dup Jaccard at a sane threshold both miss.
    *
    * Shape: both sides explode to (doc, gram-hash) with the md5 63-bit
    * hash standing in for the gram (narrow rows — no long strings
    * cross the wire), the eval side collapses to its DISTINCT gram
    * set, a LEFT SEMI join on the hash marks contaminated corpus ids,
    * and a LEFT ANTI join returns the surviving corpus rows unchanged.
    * The corpus is never self-joined and shuffles only on uniform
    * 63-bit keys; the eval gram set is usually broadcast-sized, and
    * when it isn't, the semi join is still a plain equi-join.
    *
    * The semi join runs on DISTINCT (doc, hash) pairs so a gram
    * repeated inside one document contributes one row, keeping the
    * join input bounded by vocabulary, not occurrences.
    */
  def decontaminateNgrams(
      corpus: DataFrame, evalSet: DataFrame, n: Int): DataFrame = {
    require(n >= 1, s"n must be >= 1, got $n")
    decontaminateNgramsFromGrams(corpus,
      gramHashes(corpus, n, col("doc_id")),
      gramHashes(evalSet, n).select(col("__gram_h")))
  }

  /** [[decontaminateNgrams]] over pre-computed gram-hash frames — the
    * shared-scratch entry point: when corpus and eval slices come from
    * ONE table, their (doc_id, __gram_h) sets are two filters of the
    * same shared gram parquet (see [[graft.queries.Scratch]]), so the
    * n-gram explode+hash pass over the full text runs once per run,
    * not once per screen. `corpusGrams` is (doc_id, __gram_h);
    * `evalGrams` needs only __gram_h. Both are distinct'd here, so
    * callers may pass raw exploded rows.
    */
  def decontaminateNgramsFromGrams(
      corpus: DataFrame, corpusGrams: DataFrame,
      evalGrams: DataFrame): DataFrame = {
    require(!corpus.columns.contains("__gram_h"),
      "input column '__gram_h' collides with decontaminateNgrams' column")
    val contaminated = corpusGrams.distinct()
      .join(evalGrams.distinct(), Seq("__gram_h"), "left_semi")
      .select(col("doc_id")).distinct()
    corpus.join(contaminated, Seq("doc_id"), "left_anti")
  }

  /** Word n-grams of `text`, md5-hashed to 63-bit keys — (cols*,
    * __gram_h), one row per OCCURRENCE (callers distinct as needed).
    */
  def gramHashes(df: DataFrame, n: Int, cols: Column*): DataFrame =
    df.select(cols :+
      explode(graft.functions.Text.ngrams(col("text"), n)).as("__g"): _*)
      .select(cols :+ graft.functions.Text.md5Long63(col("__g"))
        .as("__gram_h"): _*)

  /** Overlap-FRACTION decontamination (the tolerance-based screen used
    * when any-overlap is too aggressive — boilerplate, idioms, and
    * common phrases legitimately recur): a corpus doc is dropped only
    * when more than `maxOverlap` of its DISTINCT word n-grams appear in
    * the eval set. `maxOverlap = 0` degenerates to
    * [[decontaminateNgrams]]; gramless docs (shorter than n words) have
    * nothing to leak and are kept.
    *
    * The drop test is `hits > total * maxOverlap` — a multiply, not a
    * division, so the decision replays bit-identically cross-engine
    * with no 0/0 edge.
    *
    * Same scale shape as the any-overlap screen: distinct (doc, gram)
    * pairs bound the join input by vocabulary, the per-doc stats are
    * one partial-combined aggregate, and the corpus shuffles only on
    * uniform 63-bit keys.
    */
  def decontaminateByOverlap(
      corpus: DataFrame, evalSet: DataFrame, n: Int, maxOverlap: Double): DataFrame = {
    require(n >= 1, s"n must be >= 1, got $n")
    decontaminateByOverlapFromGrams(corpus,
      gramHashes(corpus, n, col("doc_id")),
      gramHashes(evalSet, n).select(col("__gram_h")), maxOverlap)
  }

  /** [[decontaminateByOverlap]] over pre-computed gram-hash frames —
    * same shared-scratch contract as
    * [[decontaminateNgramsFromGrams]] (inputs distinct'd here).
    */
  def decontaminateByOverlapFromGrams(
      corpus: DataFrame, corpusGrams: DataFrame, evalGrams: DataFrame,
      maxOverlap: Double): DataFrame = {
    require(maxOverlap >= 0.0 && maxOverlap <= 1.0,
      s"maxOverlap must be in [0,1], got $maxOverlap")
    require(!corpus.columns.contains("__gram_h"),
      "input column '__gram_h' collides with decontaminateByOverlap's column")
    val dropped = corpusGrams.distinct()
      .join(evalGrams.distinct().withColumn("__hit", lit(1)),
        Seq("__gram_h"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("__total"),
        sum(coalesce(col("__hit"), lit(0))).as("__hits"))
      .filter(col("__hits") > col("__total") * lit(maxOverlap))
      .select(col("doc_id"))
    corpus.join(dropped, Seq("doc_id"), "left_anti")
  }

  /** Exact-Jaccard verification of candidate pairs: re-attach shingle
    * sets (two equi-joins on doc_id, one per side's shingle frame) and
    * compute |∩|/|∪|.
    *
    * The per-pair kernel is a codegen'd sorted-merge count
    * ([[graft.functions.SortedArrayCommonCount]]) over arrays sorted
    * ONCE per doc below the join — `size(array_intersect)` +
    * `size(array_union)` built a boxed hash set per PAIR (~10 µs;
    * ~13 s of CPU on q_dedup_prefix's 444k candidates, r12 stage
    * log), where the merge is ~100 binary string compares. Result-
    * identical: the shingle sets are DISTINCT by construction
    * (array_distinct upstream), so |∩| from the merge equals
    * size(array_intersect) and |∪| IS |A| + |B| − |A∩B| — the same
    * integers, hence the same IEEE quotient, as the builtin pair.
    */
  private def verifyJaccard(
      pairs: DataFrame, aShingles: DataFrame, bShingles: DataFrame,
      threshold: Double): DataFrame = {
    val aSorted = aShingles.select(col("doc_id"), array_sort(col("sh")).as("sh"))
    val bSorted = bShingles.select(col("doc_id"), array_sort(col("sh")).as("sh"))
    pairs
      .join(aSorted.as("a"), col("doc_a") === col("a.doc_id"))
      .join(bSorted.as("b"), col("doc_b") === col("b.doc_id"))
      // the merge count is let-bound behind its own projection: the
      // jaccard formula references it twice (numerator and union
      // denominator) and Catalyst substitutes rather than let-binds
      .select(col("doc_a"), col("doc_b"),
        (size(col("a.sh")) + size(col("b.sh"))).as("__nab"),
        graft.functions.SortedArrayCommonCount(col("a.sh"), col("b.sh"))
          .as("__nc"))
      .withColumn("jaccard",
        col("__nc").cast("double") / (col("__nab") - col("__nc")))
      .filter(col("jaccard") >= threshold)
      // portableRound6 like [[jaccardFromStats]]: |∩|/|∪| is an
      // integer ratio over unbounded set sizes — the live ROUND-tie
      // class (oracle lockstep in the minhash/prefix/incremental
      // oracle SQL).
      .select(col("doc_a"), col("doc_b"),
        graft.functions.Num.portableRound6(col("jaccard")).as("jaccard"))
  }

  /** Connected components over a near-duplicate PAIR list — the step
    * that turns pairwise matches into dedup decisions. Every document
    * that appears in `pairs` gets a `cluster_id` = the smallest doc_id
    * reachable through the match graph, so "keep one document per
    * duplicate cluster" is `filter(doc_id === cluster_id)` (see
    * [[canonicalDocs]]).
    *
    * Algorithm: distributed min-label propagation with pointer jumping.
    * Each round updates
    *   comp(v) <- min( comp(v), min over neighbors u of comp(u) )
    * and then short-cuts comp(v) <- comp(comp(v)). The neighbor step
    * alone needs O(diameter) rounds; the pointer jump doubles how far a
    * label travels per round, giving O(log n) rounds even on adversarial
    * chain graphs (the Shiloach–Vishkin shortcut, the same idea as the
    * small-star step of the MapReduce connected-components algorithm).
    * Real near-dup clusters are near-cliques and converge in 2-3 rounds.
    *
    * Scale shape: every round is three hash shuffles on bounded keys
    * (edge join, per-vertex min, pointer join) — no broadcast of the
    * vertex set, no driver-side graph. Convergence is detected via
    * sum(comp): labels only ever decrease, so an unchanged sum means a
    * fixed point (one cheap agg action per round, no extra self-join).
    * Each round's labels are localCheckpoint'ed: the plan would otherwise
    * grow by three joins per round and re-derive every prior round on
    * each action (a cluster deployment would use a reliable checkpoint
    * dir on the DFS; the local variant is the single-JVM equivalent).
    *
    * Output: (doc_id, cluster_id), one row per distinct doc in `pairs`.
    */
  def duplicateClusters(pairs: DataFrame): DataFrame = {
    val spark = pairs.sparkSession
    import org.apache.spark.storage.StorageLevel
    // Re-read every round; MEMORY_AND_DISK (not MEMORY_ONLY like the
    // cheap banded-signature cache): `pairs` is typically the output of
    // the full MinHash/LSH pipeline, so an evicted partition would
    // re-run shingling + signatures on every one of the O(log n)
    // rounds — one spill bounds that.
    val edges = pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .union(pairs.select(col("doc_b").as("src"), col("doc_a").as("dst")))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val out =
      if (edges.isEmpty) {
        edges.select(col("src").as("doc_id"), col("dst").as("cluster_id"))
          .limit(0)
      } else {
        // Decimal sum: overflow-proof convergence metric for arbitrary
        // 64-bit ids at arbitrary vertex counts.
        def labelSum(labels: DataFrame): java.math.BigDecimal =
          labels.agg(sum(col("comp").cast("decimal(38,0)")))
            .head.getDecimal(0)

        var labels = edges.select(col("src").as("id")).distinct()
          .withColumn("comp", col("id"))
          .localCheckpoint()
        var prevSum = labelSum(labels)
        var converged = false
        var rounds = 0
        // With pointer jumping the round bound is logarithmic; 64 rounds
        // covers any graph that fits in 2^64 ids. Reaching the cap would
        // mean a logic bug, not a big input — fail loudly.
        while (!converged && rounds < 64) {
          rounds += 1
          val nbrMin = edges
            .join(labels.withColumnRenamed("id", "dst"), Seq("dst"))
            .groupBy(col("src").as("id"))
            .agg(min(col("comp")).as("nbr_comp"))
          val stepped = labels.join(nbrMin, Seq("id"))
            .select(col("id"), least(col("comp"), col("nbr_comp")).as("comp"))
          val jumped = stepped.as("l")
            .join(stepped.select(col("id").as("cid"), col("comp").as("ccomp")).as("r"),
              col("l.comp") === col("r.cid"))
            .select(col("l.id").as("id"), col("ccomp").as("comp"))
            .localCheckpoint()
          val s = labelSum(jumped)
          converged = s.compareTo(prevSum) == 0
          prevSum = s
          labels = jumped
        }
        if (!converged)
          throw new IllegalStateException(
            "duplicateClusters failed to converge in 64 rounds")
        labels.select(col("id").as("doc_id"), col("comp").as("cluster_id"))
      }
    edges.unpersist() // `out` is checkpoint-backed; lineage no longer needs edges
    out
  }

  /** Dedup decision applied to the corpus: annotate every document with
    * its duplicate cluster (its own id when it matched nothing) and keep
    * only the canonical survivor — the smallest doc_id per cluster.
    * One equi-join against the (small) cluster map; singleton docs never
    * shuffle wide rows anywhere.
    */
  def canonicalDocs(docs: DataFrame, pairs: DataFrame): DataFrame = {
    val clusters = duplicateClusters(pairs)
    docs.join(clusters, Seq("doc_id"), "left")
      .withColumn("cluster_id", coalesce(col("cluster_id"), col("doc_id")))
      .filter(col("doc_id") === col("cluster_id"))
  }

  /** 64-bit SimHash over word unigrams: bit j of the signature is the
    * sign of Σ_tokens (±1 depending on bit j of the md5-derived token
    * hash — portable across engines, see `Text.md5Long64`).
    * Near-duplicate docs land within small Hamming distance; bucketing
    * the 4 16-bit bands gives an equi-join candidate step that finds all
    * pairs within Hamming distance 3 (pigeonhole).
    */
  def simhash(text: Column): Column = {
    val toks = array_distinct(tokens(text))
    // Portable md5-derived hash (not xxhash64) so the DuckDB oracle can
    // rebuild identical signatures — see Text.md5Long64.
    val hashes = transform(toks, t => graft.functions.Text.md5Long64(t))
    // 64 independent primitive folds, one per signature bit. Measured
    // AGAINST the "single-pass" alternative (one fold accumulating a
    // 64-long vote array via zip_with): that shape allocates a fresh
    // 64-element array per token and ran 13x SLOWER (98 s vs 7 s on
    // 500 docs) — per-bit tight loops with zero allocation win even
    // though they traverse the hash array 64 times.
    val bits = (0 until 64).map { j =>
      // per-bit vote: count of tokens with bit j set, vs total
      aggregate(hashes, lit(0L),
        (acc, h) => acc + shiftright(h, j).bitwiseAND(lit(1L)))
    }
    val n = size(toks)
    (0 until 64).map { j =>
      when(bits(j) * lit(2) >= n.cast("long"), shiftleft(lit(1L), j)).otherwise(lit(0L))
    }.reduce((a, b) => a.bitwiseOR(b))
  }

  /** Per-document SimHash signatures through the aggregation engine:
    * explode distinct tokens, md5-hash once per token, then ONE
    * [[graft.functions.SimHashSig]] aggregate emitting the finished
    * signature long. Same values as the Column-expression `simhash`,
    * but never interpreted — the mega-expression form falls out of
    * codegen and was observed burning hundreds of CPU-seconds per task
    * on 5k docs. The previous 64 separate bit-vote `sum(...)` columns
    * plus the 64-term assembly projection cost Catalyst per
    * AggregateExpression at every compilation (the MinHashMins planning
    * lesson, r13); the single aggregate is bit-identical by
    * construction (SimHashSigSpec pins it against this exact form).
    */
  def simhashSignatures(docs: DataFrame): DataFrame = {
    val toks = docs.select(col("doc_id"),
      explode(array_distinct(tokens(col("text")))).as("tok"))
      .select(col("doc_id"), graft.functions.Text.md5Long64(col("tok")).as("h"))
    toks.groupBy(col("doc_id"))
      .agg(graft.functions.SimHashSig.sig(col("h")).as("sig"))
  }

  /** Candidate pairs within Hamming distance <= 3 of the 64-bit SimHash,
    * via 16-bit band bucketing (any pair differing in <= 3 bits agrees on
    * at least one of the 4 bands), verified with an exact popcount.
    */
  def simhashNearDuplicates(docs: DataFrame, maxHamming: Int): DataFrame = {
    // the 4×16-bit pigeonhole only guarantees a shared band for pairs
    // within Hamming 3 — a larger threshold would silently return
    // incomplete pairs (4 differing bits can land one per band)
    require(maxHamming >= 0 && maxHamming <= 3,
      s"4-band 64-bit SimHash blocking guarantees recall only for " +
        s"maxHamming <= 3, got $maxHamming")
    val sigs = simhashSignatures(docs)
    val banded = sigs.select(
      col("doc_id"), col("sig"),
      explode(array((0 until 4).map { b =>
        struct(lit(b).as("band"),
          shiftright(col("sig"), b * 16).bitwiseAND(lit(0xFFFFL)).as("bk"))
      }: _*)).as("bb"))
      .select(col("doc_id"), col("sig"), col("bb.band"), col("bb.bk"))

    val hamming = {
      // popcount of xor via bit_count
      bit_count(col("x.sig").bitwiseXOR(col("y.sig")))
    }

    banded.as("x").join(banded.as("y"), Seq("band", "bk"))
      .filter(col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        hamming.as("hamming"))
      // threshold BEFORE the distinct: hamming is a pure function of
      // the pair, so filtering first is result-identical and keeps
      // random same-band collisions out of the dedup shuffle
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /** Pairs of rows whose `keyCol` strings are within Levenshtein
    * distance 1 (title / short-key fuzzy dedup), with EXACT recall —
    * no all-pairs comparison and no probabilistic bucketing.
    *
    * Blocking is the deletion neighborhood: each key is exploded to
    * itself plus every single-character deletion (L+1 variants). Two
    * strings with lev <= 1 provably share a variant — equal strings
    * share the key itself; a substitution at position i means deleting
    * position i from both yields the same string; an insertion means
    * deleting the inserted character from the longer side yields the
    * shorter, which is its own variant. So the equi-join on the variant
    * string recalls EVERY qualifying pair, and the exact `levenshtein`
    * residual discards the (few) neighborhood collisions that are >= 2
    * edits apart.
    *
    * Scale shape: fan-out is L+1 rows per key (bounded — use a
    * truncated/normalized key); candidates meet only inside a variant
    * bucket (one shuffle on the variant hash); pairs sharing several
    * variants (equal strings share all L+1) are collapsed by the
    * pre-verify `distinct`, and `levenshtein` runs once per unique
    * pair. The deletion-neighborhood family generalizes to distance d
    * with d-deletion variants, but the fan-out is C(L,d) — this
    * operator deliberately fixes d = 1, the fuzzy-title sweet spot.
    *
    * Output: (id_a, id_b, dist) with id_a < id_b, dist in {0, 1}.
    */
  def editDistancePairs(docs: DataFrame, idCol: String, keyCol: String): DataFrame = {
    val k = col(keyCol)
    // self + every single-char deletion; array_distinct collapses the
    // duplicate variants a repeated character produces.
    val variants = array_distinct(concat(
      array(k),
      transform(sequence(lit(1), length(k)),
        i => concat(k.substr(lit(1), i - 1), k.substr(i + 1, length(k))))))
    val exploded = docs.select(col(idCol), k.as("__ed_key"),
      explode(variants).as("__ed_var"))
    exploded.as("a").join(exploded.as("b"), Seq("__ed_var"))
      .filter(col(s"a.$idCol") < col(s"b.$idCol"))
      .select(col(s"a.$idCol").as("id_a"), col(s"b.$idCol").as("id_b"),
        col("a.__ed_key").as("__ka"), col("b.__ed_key").as("__kb"))
      .distinct()
      .select(col("id_a"), col("id_b"),
        levenshtein(col("__ka"), col("__kb")).as("dist"))
      .filter(col("dist") <= 1)
  }
}
