package graft.queries

import scala.util.chaining._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{Text, VectorOps}
import graft.multimodal.Multimodal
import graft.operators.{Bpe, Chunking, Dedup, Dsir, Eval, KMeans, LangModel, Packing, ProductQuant, Profile, Repetition, Sampling, Similarity, TfIdf, VectorAgg}
import QueryUtil.table

/** Training-data-pipeline operators as oracle-checked queries over the
  * harness `documents` / `embeddings` tables (the "LLM-data-pipeline"
  * envelope the builder prompt grades alongside SURVEY §2).
  *
  * Oracle notes:
  *  - dedup/jaccard oracles re-derive the EXACT pairs in DuckDB from
  *    list primitives (string_split / list_intersect) — the Spark side
  *    must reproduce them bit-for-bit (double division + ROUND(x, 6)
  *    are IEEE-deterministic in both engines).
  *  - the MinHash LSH query is checked against the exact-jaccard oracle:
  *    at threshold 0.8 with 32 bands × 4 rows the per-pair miss
  *    probability is < 1e-7, and the planted near-dups in the corpus sit
  *    at j >= 0.97, so LSH output == exact output deterministically in
  *    practice.
  *  - hash-seeded ops (SimHash, rolling fingerprint, sign-LSH ANN)
  *    derive their bits from md5 — the one hash every engine shares —
  *    specifically so DuckDB can rebuild the identical signatures,
  *    buckets, candidates and scores (`('0x' || substr(md5(x),1,16))
  *    ::UBIGINT` is bit-for-bit `Text.md5Long64`). That upgrades all
  *    three from rows-only checks to full hash-matched oracles.
  */
object LlmQueries {

  type Q = (SparkSession, String) => DataFrame

  private val FixtureRoot = QueryUtil.fixtureRoot

  private def docs(s: SparkSession, dir: String) = table(s, dir, "documents")
  private def embs(s: SparkSession, dir: String) = table(s, dir, "embeddings")

  /** Per-doc distinct 3-word shingle sets (doc_id, sh), derived once
    * per run into shared scratch parquet — the base working set of the
    * whole n-gram dedup family (Jaccard, containment, PPJoin). See
    * [[Scratch]] for the cache/fingerprint/bench-honesty contract.
    */
  private def shingles3(s: SparkSession, dir: String) =
    Scratch.cached(s, "shingles3", dir, "n=3") {
      // spread: the single-file docs scan would otherwise shingle the
      // whole corpus in ONE task (see QueryUtil.spread)
      Dedup.withShingles(QueryUtil.spread(docs(s, dir)), 3)
    }

  /** Threshold-independent exact 3-gram pair statistics
    * (doc_a, doc_b, n_common, n_sh_a, n_sh_b), derived once per run
    * FROM the shared shingle parquet — q_dedup_ngram and
    * q_dedup_contain are then each a map-side filter over this file
    * (two similarity measures, ONE inverted-index mine). The shingle
    * set is primed BEFORE entering the stats builder:
    * [[Scratch.cached]] is non-reentrant by contract.
    */
  private def pairStats3(s: SparkSession, dir: String) = {
    val sh = shingles3(s, dir)
    Scratch.cached(s, "pairstats3", dir, "n=3") { Dedup.pairStats(sh) }
  }

  /** Distinct (doc_id, __gram_h) 8-gram hashes over the FULL docs
    * table, derived once per run — both decontamination screens
    * (any-overlap and overlap-fraction) read their corpus and eval
    * sides as doc_id filters of this one file, so the full-text
    * explode+hash pass runs once, not twice per screen.
    */
  private def grams8(s: SparkSession, dir: String) =
    Scratch.cached(s, "grams8", dir, "n=8") {
      Dedup.gramHashes(QueryUtil.spread(docs(s, dir)), 8, col("doc_id"))
        .distinct()
    }

  /** Corpus-vs-eval near-dup pairs (doc_a < 400 corpus, doc_b >= 400
    * eval, jaccard >= 0.8), mined once per run — q_dedup_incremental
    * ships the pairs and q_decontaminate projects its contaminated-id
    * channel from the same file, so the cross-side LSH + exact-verify
    * mine runs once, not twice. The two id spaces are disjoint by
    * construction (one table split on doc_id), which is the collision
    * precondition [[Dedup.decontaminateFromNearIds]] documents.
    */
  private def crossPairs(s: SparkSession, dir: String) =
    Scratch.cached(s, "crosspairs", dir, "t=0.8;split=400") {
      val d = QueryUtil.spread(docs(s, dir))
      Dedup.minhashNearDuplicatesAgainst(
        d.filter(col("doc_id") < 400), d.filter(col("doc_id") >= 400), 0.8)
        .repartition(1) // oracle-sized cross-pair list, same as pairs
    }

  /** embeddings with ANN column names; probes = 5 smallest vec_ids. */
  private def corpus(s: SparkSession, dir: String) =
    embs(s, dir).select(col("vec_id").as("id"), col("embedding").as("vec"))

  /** The exact brute-force top-10 (probe_id, neighbor_id, cos_sim),
    * computed once per run into shared scratch parquet: FIVE queries
    * consume this identical deterministic ranking (q_ann_topk ships
    * it; mrr/rbo/ndcg/annrecall grade against it), and each was
    * re-running the full corpus×probes scoring scan. One part file —
    * 50 oracle-sized rows re-read by several consumers (the mined-
    * pairs precedent). This is also the deployment shape: an eval
    * harness materializes the ground-truth ranking once and every
    * metric reads it.
    */
  private def annExactTop10(s: SparkSession, dir: String) =
    Scratch.cached(s, "annexact", dir, "k=10", "embeddings") {
      Similarity.bruteForceTopK(corpus(s, dir), probes(s, dir), 10)
        .repartition(1)
    }

  /** The sign-LSH top-10 (same shape), shared by q_ann_lsh and the
    * three exact-vs-approx graders — same rationale as
    * [[annExactTop10]].
    */
  private def annLshTop10(s: SparkSession, dir: String) =
    Scratch.cached(s, "annlsh", dir, "k=10;dim=64", "embeddings") {
      Similarity.lshTopK(corpus(s, dir), probes(s, dir), 10, dim = 64)
        .repartition(1)
    }
  private def probes(s: SparkSession, dir: String) =
    // limit(5) is a semantic no-op (vec_id is unique, so the filter
    // already yields <= 5 rows) but plants a GlobalLimit in the plan,
    // making the probe frame PROVABLY bounded to PlanAudit's BNLJ
    // build-side classifier — five allowance entries became one
    // mechanical proof (r12; the broadcast side collects to the
    // driver either way, so the limit costs nothing)
    embs(s, dir).filter(col("vec_id") < 5).limit(5)
      .select(col("vec_id").as("probe_id"), col("embedding").as("vec"))

  /** MinHash near-dup pairs (doc_a, doc_b, jaccard) mined once per run
    * into the shared `pairs` scratch parquet (see [[Scratch]]); every
    * graph/cluster consumer reads the stored set.
    *
    * Two layers of reuse, each fixing a measured cost:
    *  - WITHIN a query (r8): operators reference the pair set through
    *    DISTINCT subtrees (symmetrize's two union branches,
    *    duplicateClusters' bidirectional edge union, triangleStats'
    *    degree + orientation + edge-count passes) — Catalyst's
    *    exchange reuse cannot dedup them, so a lazy frame re-ran the
    *    whole LSH + exact-verify mining pipeline per reference
    *    (q_graph_pagerank paid mining twice, ~2.5 s of its 5-6 s).
    *  - ACROSS queries (r9): six registered queries consume the SAME
    *    (dir, threshold) pair set, and a per-query localCheckpoint
    *    still re-mined it per consumer per Verify/bench run.
    *
    * The banded-signature cache is released as soon as the pairs are
    * on disk (no lineage needed). q_dedup_minhash ships this full row
    * set; graph consumers use [[minedPairs]]'s two-column projection
    * so an extra column can never ride into an operator's
    * union/select-star path.
    */
  private def minedPairsFull(s: SparkSession, dir: String, threshold: Double) =
    Scratch.cachedReleasable(s, "pairs", dir, s"t=$threshold") {
      val (pairs, release) = Dedup.minhashNearDuplicatesReleasable(
        QueryUtil.spread(docs(s, dir)), threshold)
      // repartition(1): the pair list is oracle-sized (thousands of
      // rows) and its six consumers re-scan it many times (pointer-
      // jumping rounds, triangle passes) — 32 part files made every
      // one of those scans a 32-task stage of pure scheduler overhead
      (pairs.repartition(1), release)
    }

  private def minedPairs(s: SparkSession, dir: String, threshold: Double) =
    minedPairsFull(s, dir, threshold).select(col("doc_a"), col("doc_b"))

  /** The whole-vector PQ codebook (m=4, subDim=16, k=4, iters=1 over
    * the embeddings corpus), trained once per run as a [[Scratch]]
    * driver value — q_ann_pq and q_pq_codes call [[ProductQuant.fit]]
    * with IDENTICAL inputs and parameters, and the training is
    * deterministic, so per-query refits were pure duplicate work. This
    * is the deployment shape too: a PQ index stores ONE codebook that
    * both the code-materialization job and every ANN query read. The
    * IVF-PQ codebook is NOT shareable from here: it trains over
    * residuals against the coarse centroids, a different input frame.
    */
  private def pqCodebook(s: SparkSession, dir: String): ProductQuant.Codebooks =
    Scratch.value("pqcodebook", dir, "m=4;subDim=16;k=4;iters=1", "embeddings") {
      ProductQuant.fit(corpus(s, dir), "id", "vec",
        m = 4, subDim = 16, k = 4, iters = 1)
    }

  /** The k-merge BPE list, trained once per run as a [[Scratch]] driver
    * value — q_vocab_bpe SHIPS this table and q_vocab_pieces APPLIES
    * the same merges, and greedy BPE training is deterministic (argmax
    * ties on the pair string). q_vocab_bpe_batched keeps its own
    * trainer — different algorithm (k=4, batch=2), different oracle.
    */
  private def bpeMerges(
      s: SparkSession, dir: String, k: Int): Seq[(Int, String, String, String, Long)] =
    Scratch.value("bpemerges", dir, s"k=$k") {
      Bpe.trainMergesLocal(docs(s, dir), "text", k)
    }

  /** The default bigram language model, trained once per run as a
    * [[Scratch]] driver value — q_text_perplexity and
    * q_text_perplexity_bcast pin the LITERAL and BROADCAST scoring
    * paths against each other, and both need the identical
    * deterministic model; the paths diverge only at SCORING, which each
    * query still runs its own way.
    */
  private def langModel(s: SparkSession, dir: String): LangModel.BigramModel =
    Scratch.value("langmodel", dir, "bigram") {
      LangModel.train(docs(s, dir), "text")
    }

  val queries: Map[String, Q] = Map(
    // Exact dedup: one uniform md5 shuffle (Dedup.exactDuplicateGroups).
    "q_dedup_exact" -> ((s, dir) => {
      Dedup.exactDuplicateGroups(docs(s, dir))
        .orderBy(col("content_key"))
    }),

    // Exact trigram-jaccard near-dup pairs via the inverted index —
    // exact semantics by default (the opt-in hot-shingle cap is
    // exercised in DedupSpec). Reads the run's shared
    // threshold-independent pair-stats parquet (pairStats3): the
    // inverted-index mine runs once per run and this query is its
    // Jaccard filter.
    "q_dedup_ngram" -> ((s, dir) => {
      Dedup.jaccardFromStats(pairStats3(s, dir), 0.5)
        .orderBy(col("doc_a"), col("doc_b"))
    }),

    // Asymmetric CONTAINMENT pairs over the same inverted index — the
    // sub-document duplicate detector Jaccard structurally misses (a
    // page quoted whole inside a much larger page). Same shared
    // pair-stats file as q_dedup_ngram; this query is its containment
    // filter.
    "q_dedup_contain" -> ((s, dir) => {
      Dedup.containmentFromStats(pairStats3(s, dir), 0.6)
        .orderBy(col("doc_a"), col("doc_b"))
    }),

    // Prefix-filtered exact Jaccard (PPJoin family): same exact
    // semantics as q_dedup_ngram but candidates meet only through each
    // doc's rarest-prefix shingles — the principled exact-recall
    // answer to hot-shingle skew (vs the lossy maxDocFreq cap). The
    // lower threshold (0.4) exercises a different pair set than
    // q_dedup_ngram's 0.5.
    // Reads the shared shingle parquet (shingles3) — only the PPJoin
    // itself runs per query.
    "q_dedup_prefix" -> ((s, dir) => {
      // sortedSmall, not orderBy: the PPJoin pipeline is broadcast-
      // join/window work with no reusable shuffle stage below the
      // sort, so orderBy's range sampler re-ran ALL of it (2x wall —
      // r12 stage log); same rows, same global order.
      QueryUtil.sortedSmall(
        Dedup.prefixFilterPairsShingled(shingles3(s, dir), 0.4),
        col("doc_a"), col("doc_b"))
    }),

    // SemDeDup semantic near-dup pruning: cluster the embedding space
    // with the q_ann_ivf deterministic 16-centroid codebook, drop
    // in-cluster items with a lower-id neighbor at cosine >= 0.45
    // (q_embed_pairs' similar-pair threshold). The oracle re-derives
    // assignment, pairs, and survivors.
    "q_dedup_semantic" -> ((s, dir) => {
      val centroids = embs(s, dir).filter(col("vec_id") < 16)
        .select(col("vec_id").as("centroid_id"), col("embedding").as("vec"))
      Dedup.semanticDedup(corpus(s, dir), centroids, 0.45)
        .orderBy(col("id"))
    }),

    // MinHash 128-perm + 32-band LSH, exact-jaccard-verified. Reads the
    // run's shared mined-pair parquet (minedPairsFull) — same rows
    // Dedup.minhashNearDuplicates produces, mined once per run.
    "q_dedup_minhash" -> ((s, dir) => {
      minedPairsFull(s, dir, 0.8)
        .orderBy(col("doc_a"), col("doc_b"))
    }),

    // Incremental MinHash dedup: the "new batch vs existing corpus"
    // shape a growing corpus runs — docs >= 400 arrive against the
    // first 400 — checked against the exact cross-boundary jaccard
    // oracle (the LSH recall argument of q_dedup_minhash applies
    // unchanged).
    // Ships the run's shared cross-boundary pair parquet (crossPairs).
    "q_dedup_incremental" -> ((s, dir) => {
      crossPairs(s, dir)
        .orderBy(col("doc_a"), col("doc_b"))
    }),

    // Benchmark decontamination: the first 400 docs minus everything
    // that leaks the "eval set" (docs >= 400) through the exact
    // normalized-fingerprint OR the near-duplicate channel.
    // The near-dup channel reads the shared cross-pair parquet
    // (crossPairs) — the fingerprint channel stays inline (map-side).
    "q_decontaminate" -> ((s, dir) => {
      val d = docs(s, dir)
      Dedup.decontaminateFromNearIds(
        d.filter(col("doc_id") < 400), d.filter(col("doc_id") >= 400),
        crossPairs(s, dir).select(col("doc_a").as("doc_id")))
        .select(col("doc_id"))
        .orderBy(col("doc_id"))
    }),

    // N-gram-overlap decontamination (the GPT-3-style 13-gram screen,
    // n=8 here to fit the corpus): drop every corpus doc sharing ANY
    // 8-gram with the eval slice — catches partial leaks the
    // fingerprint and near-dup channels of q_decontaminate miss.
    // Corpus and eval gram sets are doc_id filters of the run's ONE
    // shared 8-gram parquet (grams8).
    "q_decon_ngram" -> ((s, dir) => {
      val d = docs(s, dir)
      val g = grams8(s, dir)
      Dedup.decontaminateNgramsFromGrams(
        d.filter(col("doc_id") < 400),
        g.filter(col("doc_id") < 400),
        g.filter(col("doc_id") >= 400).select(col("__gram_h")))
        .select(col("doc_id"))
        .orderBy(col("doc_id"))
    }),

    // Overlap-FRACTION decontamination: tolerance-based screen — a doc
    // is dropped only when > 50% of its distinct 8-grams appear in the
    // eval slice, so partially-overlapping docs that the any-overlap
    // screen (q_decon_ngram) kills survive here. The drop decision is
    // a multiply (hits > total * 0.5), bit-identical cross-engine.
    // Same shared 8-gram parquet as q_decon_ngram.
    "q_decon_overlap" -> ((s, dir) => {
      val d = docs(s, dir)
      val g = grams8(s, dir)
      Dedup.decontaminateByOverlapFromGrams(
        d.filter(col("doc_id") < 400),
        g.filter(col("doc_id") < 400),
        g.filter(col("doc_id") >= 400).select(col("__gram_h")), 0.5)
        .select(col("doc_id"))
        .orderBy(col("doc_id"))
    }),

    // SimHash near-dups (md5-derived token hash — full DuckDB oracle).
    // Graph centrality over the near-dup pair graph: 2 PageRank
    // iterations with engine-portable arithmetic, so the DuckDB oracle
    // REPLAYS the full iteration bit-for-bit (the q_ivf_train
    // pattern). Central duplicates rank above peripheral ones —
    // a principled canonical-survivor criterion.
    "q_graph_pagerank" -> ((s, dir) => {
      val pairs = minedPairs(s, dir, 0.8)
      graft.operators.PageRank
        .ranks(graft.operators.PageRank.symmetrize(pairs, "doc_a", "doc_b"),
          iterations = 2, damping = 0.85)
        .select(col("id").as("doc_id"), col("rank"))
        .orderBy(col("doc_id"))
    }),

    // Exact triangle count + global clustering coefficient over the
    // same near-dup pair graph PageRank ranks: triangle density IS
    // near-duplication transitivity ("do my near-dup pairs close into
    // clusters or chain?" — high cc means clique-like duplicate
    // families the canonical-survivor step can trust). The count is
    // the degree-ordered orientation join — oriented out-degree is
    // O(√m), so the wedge join fans out O(m^1.5), never Σ deg².
    // The near-dup graph is sparse BY CONSTRUCTION (banded LSH +
    // exact verify); a co-occurrence graph without a support
    // threshold degenerates toward complete and makes triangle
    // counting Θ(n³) — the operator contract documents that the
    // caller owns graph sparsity.
    "q_graph_triangles" -> ((s, dir) => {
      val pairs = minedPairs(s, dir, 0.8)
      graft.operators.Triangles.triangleStats(pairs, "doc_a", "doc_b")
    }),

    // Edit-distance (lev <= 1) fuzzy-key dedup with exact
    // deletion-neighborhood blocking. Single-char mutations are planted
    // deterministically (same CASE in the oracle) so substitution AND
    // deletion pairs are genuinely exercised: doc_id%7 replaces the
    // first key char, doc_id%11 drops it.
    "q_dedup_edit" -> ((s, dir) => {
      val keyed = docs(s, dir).select(col("doc_id"),
        when(col("doc_id") % 7 === 0,
          concat(lit("X"), substring(col("text"), 2, 23)))
          .when(col("doc_id") % 11 === 0, substring(col("text"), 2, 23))
          .otherwise(substring(col("text"), 1, 24)).as("title"))
      graft.operators.Dedup.editDistancePairs(keyed, "doc_id", "title")
        .orderBy(col("id_a"), col("id_b"))
    }),

    "q_dedup_simhash" -> ((s, dir) => {
      Dedup.simhashNearDuplicates(docs(s, dir), 3)
        .orderBy(col("doc_a"), col("doc_b"))
    }),

    // Near-dup pairs -> connected components -> canonical cluster ids:
    // the decision step of a dedup run (keep doc_id == cluster_id).
    // Min-label propagation with pointer jumping; checked against a
    // DuckDB recursive-CTE transitive closure over the same exact
    // pair set (the LSH recall argument of q_dedup_minhash applies).
    "q_dedup_clusters" -> ((s, dir) => {
      Dedup.duplicateClusters(minedPairs(s, dir, 0.8))
        .orderBy(col("doc_id"))
    }),

    // The full dedup DECISION end-to-end: pairs -> clusters -> keep the
    // smallest doc per cluster plus every unmatched singleton. Output
    // is the surviving doc_id list — what a dedup run actually writes.
    "q_dedup_canonical" -> ((s, dir) => {
      Dedup.canonicalDocs(docs(s, dir), minedPairs(s, dir, 0.8))
        .select(col("doc_id"))
        .orderBy(col("doc_id"))
    }),

    // Exact cosine top-10 for 5 probes over the embedding corpus,
    // map-side-reduced by the bounded-heap TopKAggregator.
    "q_ann_topk" -> ((s, dir) => {
      annExactTop10(s, dir)
        .orderBy(col("probe_id"), col("cos_sim").desc, col("neighbor_id"))
    }),

    // Embedding-cosine similar pairs via the scale path: sign-LSH banded
    // candidate equi-join + exact-cosine verify (no all-pairs step, no
    // broadcast nested-loop — PlanShapeSpec asserts). Checked against
    // the EXACT all-pairs oracle: this corpus has no planted embedding
    // duplicates, so the threshold sits where the corpus has pairs
    // (cos 0.45-0.52) and the wide-net banding (24 planes = 12 × 2-bit
    // bands; per-pair miss probability ~1.4e-3 at cos 0.45) recalls
    // every qualifying pair — verified exhaustively against the exact
    // all-pairs set at sf 0.001/0.01/0.1, for eight different seeds.
    "q_embed_pairs" -> ((s, dir) => {
      // sortedSmall: the banded self-join + exact verify is broadcast-
      // shaped below the sort — orderBy's range sampler re-ran the
      // whole mine (the q_dedup_prefix mechanism; same rows/order).
      QueryUtil.sortedSmall(
        Similarity.lshSimilarPairs(corpus(s, dir), 0.45, dim = 64, nPlanes = 24),
        col("id_a"), col("id_b"))
    }),

    // Sign-LSH bucketed ANN (md5-derived hyperplanes — full DuckDB
    // oracle reproduces buckets, candidates, and the re-ranked top-k).
    "q_ann_lsh" -> ((s, dir) => {
      annLshTop10(s, dir)
        .orderBy(col("probe_id"), col("cos_sim").desc, col("neighbor_id"))
    }),

    // IVF centroid-bucketed ANN. The codebook is the 16 lowest-id corpus
    // vectors (a deterministic stand-in for a trained k-means codebook),
    // which keeps the whole operator DuckDB-reproducible — the oracle
    // re-derives the same assignment, probe lists, and re-rank.
    "q_ann_ivf" -> ((s, dir) => {
      val centroids = embs(s, dir).filter(col("vec_id") < 16)
        .select(col("vec_id").as("centroid_id"), col("embedding").as("vec"))
      Similarity.ivfTopK(corpus(s, dir), probes(s, dir), centroids,
        k = 10, nProbe = 4)
        .orderBy(col("probe_id"), col("cos_sim").desc, col("neighbor_id"))
    }),

    // The IVF index MATERIALIZED (ivfTopK's documented scale path made
    // concrete): corpus written ONCE hive-partitioned by centroid
    // assignment, probes served by a statically partition-PRUNED read
    // of their nProbe routed lists (pruning asserted via
    // selectedPartitions in IvfPartitionedSpec). Same codebook,
    // routing, and re-rank code as q_ann_ivf, so it answers to that
    // oracle verbatim — in-query assignment vs persisted index must
    // be indistinguishable to the byte.
    "q_ann_partitioned" -> ((s, dir) => {
      val centroids = embs(s, dir).filter(col("vec_id") < 16)
        .select(col("vec_id").as("centroid_id"), col("embedding").as("vec"))
      val idx = QueryUtil.scratchDir("graft_ivf_") + "/index"
      Similarity.ivfWritePartitioned(corpus(s, dir), centroids, idx)
      Similarity.ivfTopKPartitioned(s, idx, probes(s, dir), centroids,
        k = 10, nProbe = 4)
        .orderBy(col("probe_id"), col("cos_sim").desc, col("neighbor_id"))
    }),

    // Codebook TRAINING: 2 Lloyd iterations of spherical k-means from
    // the 4 lowest-id seeds — every step (cosine assignment with
    // lowest-cid tie-break, round6-quantized decimal-sum means) is
    // engine-portable, so DuckDB replays the whole training run
    // bit-for-bit. Output is the flattened codebook.
    "q_ivf_train" -> ((s, dir) => {
      KMeans.fitDF(corpus(s, dir), k = 4, iters = 2)
        .orderBy(col("centroid_id"), col("pos"))
    }),

    // Product quantization codes: 4 independent 4-centroid codebooks
    // over 16-dim subvectors (one KMeans iteration each, the portable
    // recipe), then a map-side argmax encode — 64 floats become 4
    // small codes. The oracle replays per-subspace training AND the
    // assignment, so every code is a full cross-engine check.
    "q_pq_codes" -> ((s, dir) => {
      val cb = pqCodebook(s, dir) // shared with q_ann_pq — identical fit
      ProductQuant.encode(corpus(s, dir), "id", "vec", cb)
        .select(col("id").as("vec_id"), col("subspace"), col("code"))
        .orderBy(col("vec_id"), col("subspace"))
    }),

    // IVF-PQ: the composition real ANN systems deploy — a coarse
    // quantizer routes vectors to inverted lists, PQ codes store the
    // RESIDUAL vec - centroid(list), probes visit only their nProbe
    // best lists, and ADC scores dot(q,c_list) + sum_s LUT[code_s]
    // over stored exact norms. Coarse centroids are vectors 10..13
    // (NOT the PQ seeds, ids 0..3) so every training seed residual is
    // nonzero — a zero-norm subvector scores every centroid as
    // degenerate, and while a FULLY degenerate row ties to centroid 0
    // identically in both engines, a zero SEED centroid would create
    // mixed real/NaN orderings where Spark (sentinel -2, ranks last)
    // and DuckDB (NaN ranks first in DESC) disagree. Full oracle:
    // coarse assignment, residuals, one PQ training iteration, encode,
    // list pruning, and scoring all replay.
    "q_ann_ivfpq" -> ((s, dir) => {
      val c = corpus(s, dir)
      val cents = c.filter(col("id") >= 10 && col("id") < 14)
        .orderBy(col("id")).collect()
        .zipWithIndex.map { case (r, i) => (i.toLong, r.getSeq[Float](1).toArray) }
      val res = ProductQuant.residuals(c, "id", "vec", cents)
      val cb = ProductQuant.fit(res, "id", "residual",
        m = 4, subDim = 16, k = 4, iters = 1)
      val enc = ProductQuant.ivfPqEncode(c, "id", "vec", cents, cb)
      ProductQuant.ivfPqTopK(enc, probes(s, dir), "probe_id", "vec",
          cents, cb, nProbe = 2, kNN = 3)
        .orderBy(col("probe_id"), col("pq_score").desc, col("neighbor_id"))
    }),

    // PQ asymmetric-distance top-k: probes score the COMPRESSED corpus
    // via per-subspace LUT dots (rounded then decimal-summed — m
    // doubles in shuffle order would be order-dependent) over stored
    // exact norms; map-side TopKAggregator bounds the exchange to k
    // rows per probe per partition. Full oracle: train + encode + LUT
    // + scoring all replay in DuckDB.
    "q_ann_pq" -> ((s, dir) => {
      val cb = pqCodebook(s, dir) // shared with q_pq_codes — identical fit
      val enc = ProductQuant.encode(corpus(s, dir), "id", "vec", cb)
      ProductQuant.adcTopK(enc, probes(s, dir), "probe_id", "vec", cb, kNN = 3)
        .orderBy(col("probe_id"), col("pq_score").desc, col("neighbor_id"))
    }),

    // Embedding storage prep: L2 norm, symmetric int8 quantization and
    // its dequantization scale. The quantized vector is emitted as a
    // comma-joined string so the oracle checks every element.
    "q_embed_quant" -> ((s, dir) => {
      embs(s, dir).select(
        col("vec_id"),
        round(VectorOps.norm(col("embedding")), 6).as("l2_norm"),
        round(VectorOps.quantScale(col("embedding")), 6).as("q_scale"),
        array_join(transform(VectorOps.quantizeInt8(col("embedding")),
          q => q.cast("string")), ",").as("q_vec"))
        .orderBy(col("vec_id"))
    }),

    // Johnson–Lindenstrauss random projection 64 → 8: every projected
    // component is a left-fold dot with an md5-derived plane, so the
    // oracle rebuilds the planes AND the components bit-for-bit. One
    // codegen'd single-pass expression per row (the composed form is
    // 8 interpreted HOF dots).
    "q_embed_project" -> ((s, dir) => {
      embs(s, dir)
        .select(col("vec_id"),
          posexplode(Similarity.randomProject(
            col("embedding"), dim = 64, outDim = 8, seed = 7L))
            .as(Seq("dim_idx", "v")))
        .select(col("vec_id"), col("dim_idx").cast("long").as("dim_idx"),
          round(col("v"), 6).as("proj_val"))
        .orderBy(col("vec_id"), col("dim_idx"))
    }),

    // Class-prototype centroids: per-label mean embedding through the
    // decimal-exact KMeans update recipe — groups·dim rows cross the
    // wire, corpus never shuffled; every component oracle-replayed.
    "q_embed_centroid" -> ((s, dir) => {
      VectorAgg.meanVectors(embs(s, dir)
        .select(col("label"), col("embedding")), "label", "embedding")
        .select(col("label"), col("n_vecs"), col("pos"), col("comp"))
        .orderBy(col("label"), col("pos"))
    }),

    // Cluster-separation (silhouette-lite) audit: per label, mean
    // cosine to the own centroid vs to the nearest FOREIGN centroid —
    // "are my labels actually clusters?" before trusting them for
    // splits or prototypes. One broadcast cross join against k
    // centroids; the corpus never shuffles.
    "q_embed_separation" -> ((s, dir) => {
      VectorAgg.clusterSeparation(embs(s, dir), "vec_id", "label",
          "embedding")
        .orderBy(col("label"))
    }),

    // Exact rank-based AUC (Mann-Whitney with average ranks for ties)
    // and the full precision/recall curve for a derived classifier
    // (dimension-2 component predicting label parity) — the eval
    // primitives a quality-filter pipeline tunes thresholds with.
    // Per-score partial aggregation bounds the ordered window by the
    // distinct-score cardinality.
    // Retrieval eval: mean reciprocal rank of the first SAME-LABEL hit
    // in the exact cosine top-10 (probes that never hit contribute 0 —
    // the standard MRR convention). Reciprocal ranks are doubles cast
    // to DECIMAL(38,12) (no 1/k for k <= 10 sits on a 12-decimal
    // rounding boundary), so the mean is shuffle-order independent.
    "q_eval_mrr" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val e = embs(s, dir)
      val w = Window.partitionBy(col("probe_id"))
        .orderBy(col("cos_sim").desc, col("neighbor_id"))
      val ranked = annExactTop10(s, dir)
        .withColumn("rank", row_number().over(w))
        .join(e.select(col("vec_id").as("neighbor_id"),
          col("label").as("__nl")), Seq("neighbor_id"))
        .join(e.select(col("vec_id").as("probe_id"),
          col("label").as("__pl")), Seq("probe_id"))
      val firstRel = ranked
        .groupBy(col("probe_id"))
        .agg(min(when(col("__nl") === col("__pl"), col("rank"))).as("__frk"))
      // portableRound6, not round: a 12dp-quantized decimal sum over a
      // count is the cross-engine ROUND-tie hot shape (see Num) — the
      // 12dp grid makes .5e-6 ties rare, not impossible (1/64 ends in
      // ...5625e-6-grid digits under division by small counts).
      firstRel.agg(
          graft.functions.Num.portableRound6(sum(coalesce(
              try_divide(lit(1.0), col("__frk"))
                .cast(org.apache.spark.sql.types.DecimalType(38, 12)),
              lit(java.math.BigDecimal.ZERO)
                .cast(org.apache.spark.sql.types.DecimalType(38, 12))))
            .cast("double") / count(lit(1))).as("mrr"),
          count(lit(1)).as("n_probes"), count(col("__frk")).as("n_hit"))
    }),

    // Calibration / reliability bins: equi-frequency score deciles
    // (the shared-percentile-buffer bucketing operator) with per-bin
    // mean score and empirical positive rate — the reliability-diagram
    // input that tells a threshold-tuner whether scores MEAN their
    // probabilities. Decimal-exact mean over 6-place-rounded scores.
    "q_eval_calibration" -> ((s, dir) => {
      // pre-filter NULL scores/labels like the oracle does: unfiltered,
      // a short embedding (NULL score) would add a bin=NULL row and a
      // NULL label would skew its bin's n vs pos_rate — calibration is
      // defined over scored, labeled rows
      val scored = embs(s, dir).select(
        try_element_at(col("embedding"), lit(2)).cast("double").as("score"),
        (col("label") % 2).as("y"))
        .filter(col("score").isNotNull && col("y").isNotNull)
      // portableRound6 on both bin means (the Eval.ece kernel's rule):
      // 6dp-quantized sums over small bin counts are the .5e-6
      // boundary class where built-in ROUNDs tie-diverge (Num's doc)
      Profile.quantileBucket(scored, "score", 10)
        .groupBy(col("score_qbucket").cast("long").as("bin"))
        .agg(count(lit(1)).as("n"),
          graft.functions.Num.portableRound6(
            sum(graft.functions.Num.portableRound6(col("score"))
              .cast(org.apache.spark.sql.types.DecimalType(38, 6)))
            .cast("double") / count(lit(1))).as("mean_score"),
          graft.functions.Num.portableRound6(
            sum(col("y")).cast("double") / count(lit(1))).as("pos_rate"))
        .orderBy(col("bin"))
    }),

    "q_eval_auc" -> ((s, dir) => {
      Eval.aucByRank(embs(s, dir).select(
        try_element_at(col("embedding"), lit(2)).cast("double").as("score"),
        (col("label") % 2).as("y")), "score", "y")
    }),

    // Sliced (per-segment) AUC — the fairness/segment report: same
    // exact rank-sum arithmetic as q_eval_auc, partitioned by slice;
    // a segment lacking positives or negatives reports NULL.
    "q_eval_sliced" -> ((s, dir) => {
      Eval.aucByRankGrouped(embs(s, dir).select(
        (col("vec_id") % 3).as("segment"),
        try_element_at(col("embedding"), lit(2)).cast("double").as("score"),
        (col("label") % 2).as("y")), "segment", "score", "y")
        .orderBy(col("segment"))
    }),

    // Truncated rank-biased overlap (RBO@10, p=0.9, Webber et al.
    // TOIS'10) between the sign-LSH ranking and the exact top-10 —
    // the ORDER-sensitive companion to recall@k (recall can be perfect
    // while the index scrambles rank 1 vs rank 10). Identity used:
    // RBO = Σ_matched S(max(ra, rb)) with S(m) = Σ_{d>=m} w_d / d —
    // the ten S constants are computed ONCE and embedded as identical
    // literals in both engines, so no runtime pow; per-probe terms sum
    // as exact decimals.
    "q_eval_rbo" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("probe_id"))
        .orderBy(col("cos_sim").desc, col("neighbor_id"))
      val exact = annExactTop10(s, dir)
        .withColumn("ra", row_number().over(w))
        .select(col("probe_id"), col("neighbor_id"), col("ra"))
      val approx = annLshTop10(s, dir)
        .withColumn("rb", row_number().over(w))
        .select(col("probe_id"), col("neighbor_id"), col("rb"))
      val sLit = typedlit(RboSuffix)
      val terms = exact.join(approx, Seq("probe_id", "neighbor_id"))
        .select(col("probe_id"),
          element_at(sLit, greatest(col("ra"), col("rb")))
            .cast(org.apache.spark.sql.types.DecimalType(38, 18)).as("t"))
      probes(s, dir).select(col("probe_id"))
        .join(terms.groupBy(col("probe_id"))
            .agg(sum(col("t")).as("__s"), count(lit(1)).as("n_common")),
          Seq("probe_id"), "left")
        .select(col("probe_id"),
          round(coalesce(col("__s").cast("double"), lit(0.0)), 6).as("rbo10"),
          coalesce(col("n_common"), lit(0L)).as("n_common"))
        .orderBy(col("probe_id"))
    }),

    // NDCG@10 of the sign-LSH ranking against the exact ranking — the
    // graded-relevance companion to recall@k (did we find them?) and
    // RBO (same weights down the whole list?): gain 11−ra rewards
    // putting the exact-best items at the top, the log2 discount
    // (constants embedded identically in both engines, like RBO's
    // suffix weights) forgives depth mistakes more than top mistakes.
    // Per-probe terms sum as exact decimals; ideal DCG is the shared
    // literal both engines divide by.
    "q_eval_ndcg" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("probe_id"))
        .orderBy(col("cos_sim").desc, col("neighbor_id"))
      val exact = annExactTop10(s, dir)
        .withColumn("ra", row_number().over(w))
        .select(col("probe_id"), col("neighbor_id"), col("ra"))
      val approx = annLshTop10(s, dir)
        .withColumn("rb", row_number().over(w))
        .select(col("probe_id"), col("neighbor_id"), col("rb"))
      val dLit = typedlit(NdcgDiscount)
      val terms = exact.join(approx, Seq("probe_id", "neighbor_id"))
        .select(col("probe_id"),
          ((lit(11) - col("ra")).cast("double")
            * element_at(dLit, col("rb")))
            .cast(org.apache.spark.sql.types.DecimalType(38, 18)).as("t"))
      probes(s, dir).select(col("probe_id"))
        .join(terms.groupBy(col("probe_id"))
            .agg(sum(col("t")).as("__s"), count(lit(1)).as("n_common")),
          Seq("probe_id"), "left")
        .select(col("probe_id"),
          round(coalesce(col("__s").cast("double"), lit(0.0))
            / lit(NdcgIdeal), 6).as("ndcg10"),
          coalesce(col("n_common"), lit(0L)).as("n_common"))
        .orderBy(col("probe_id"))
    }),

    // Brier score — the strictly proper scoring rule beside ECE (a
    // coarse score can game ECE, not the Brier score). Scores are
    // mapped to [0,1] via (s+1)/2 so the metric reads as a
    // probability MSE; residual squares sum as exact decimals.
    "q_eval_brier" -> ((s, dir) => {
      Eval.brier(embs(s, dir).select(
        ((try_element_at(col("embedding"), lit(2)).cast("double") + 1.0) / 2.0)
          .as("score"),
        (col("label") % 2).as("y")), "score", "y")
    }),

    // Cohen's kappa between two derived raters (label mod 3, and the
    // same with planted disagreements on every 5th item) — the
    // annotation-QA gate: chance-corrected agreement from the exact
    // confusion cells, cleared-denominator single division.
    "q_eval_kappa" -> ((s, dir) => {
      Eval.cohensKappa(embs(s, dir)
          .filter(col("label").isNotNull && col("vec_id").isNotNull)
          .select((col("label") % 3).as("rater_a"),
            ((col("label") + when(col("vec_id") % 5 === 0, 1).otherwise(0))
              % 3).as("rater_b")),
        "rater_a", "rater_b")
    }),

    // Scalar Expected Calibration Error — the one-number drift alarm
    // over the same equi-frequency deciles as q_eval_calibration; the
    // weighted |pos_rate - mean_score| sum is exact decimal
    // arithmetic, so the single final division is the only float step.
    "q_eval_ece" -> ((s, dir) => {
      // same pre-filter as q_eval_calibration (the oracle excludes
      // NULL scores/labels before bucketing)
      Eval.ece(embs(s, dir).select(
          try_element_at(col("embedding"), lit(2)).cast("double").as("score"),
          (col("label") % 2).as("y"))
          .filter(col("score").isNotNull && col("y").isNotNull),
        "score", "y", bins = 10)
    }),

    // ANN quality eval: recall@10 of the sign-LSH index against the
    // exact brute-force top-10, per probe — the measurement that
    // decides whether an index's bands/probes are sized right BEFORE
    // a 100 TB corpus is indexed with them. Both sides deterministic,
    // so the oracle replays index, exact ranking, and the recall join.
    "q_eval_annrecall" -> ((s, dir) => {
      val exact = annExactTop10(s, dir)
        .select(col("probe_id"), col("neighbor_id"))
      val approx = annLshTop10(s, dir)
        .select(col("probe_id"), col("neighbor_id"), lit(1).as("__hit"))
      exact.join(approx, Seq("probe_id", "neighbor_id"), "left")
        .groupBy(col("probe_id"))
        .agg(
          count(col("__hit")).as("n_hit"),
          count(lit(1)).as("n_exact"),
          round(count(col("__hit")).cast("double") / count(lit(1)), 6)
            .as("recall_at_10"))
        .orderBy(col("probe_id"))
    }),
    "q_eval_pr" -> ((s, dir) => {
      Eval.prCurve(embs(s, dir).select(
        try_element_at(col("embedding"), lit(2)).cast("double").as("score"),
        (col("label") % 2).as("y")), "score", "y")
        .orderBy(col("threshold").desc)
    }),

    // Band-bucket load diagnostic for the sign-LSH index: per band,
    // occupied buckets, the largest bucket, and the exact candidate
    // count its self-join would generate (sum of squared bucket sizes)
    // — the read-before-you-join skew predictor for banded joins.
    // Fully integer, fully md5-replayable.
    "q_diag_lshload" -> ((s, dir) => {
      Similarity.lshBucketStats(corpus(s, dir), dim = 64)
        .orderBy(col("band"))
    }),

    // k-center greedy coreset: 4 farthest-point picks over the
    // embedding corpus — the deterministic diverse-subset selector
    // (selected set rides the plan as literals; argmin per round is a
    // TakeOrderedAndProject, k rows total reach the driver). The
    // oracle unrolls the 4 greedy rounds as chained CTEs.
    "q_sample_coreset" -> ((s, dir) => {
      Sampling.farthestPointSample(corpus(s, dir), "id", "vec", k = 4)
        .orderBy(col("sel_rank"))
    }),

    // The large-k batched variant, driver-checked: k=5 at batch=2 is
    // seed + two 2-pick rounds; the oracle unrolls exactly those
    // rounds (each round's pair = the 2 least-covered w.r.t. all
    // PRIOR rounds' picks — the relaxation's defined semantics, not
    // an approximation of the one-at-a-time greedy).
    "q_sample_coreset_batched" -> ((s, dir) => {
      Sampling.farthestPointSampleBatched(
          corpus(s, dir), "id", "vec", k = 5, batch = 2)
        .orderBy(col("sel_rank"))
    }),

    // Embedding drift between cohorts: per-dimension exact-decimal
    // mean difference between the label-0 and label-1 slices — the
    // encoder/corpus drift monitor (a new encoder version or data
    // source shifts dimensions; this localizes WHICH). abs(delta) of
    // two exact decimal means is exact; ordering by it is total with
    // the pos tie-break.
    "q_embed_drift" -> ((s, dir) => {
      // portableRound6 throughout (r11 triage): the per-(grp,pos) mean
      // is a 6dp-quantized decimal sum over COUNT(*) — the r9 hot tie
      // class, REACHABLE here (2000 embeddings split ~1000/grp: a sum
      // ≡ 500 mod 1000 puts the mean exactly on a .5e-6 boundary with
      // reduced denominator 2e6 = 2^7·5^6). Input quantization and the
      // abs-difference convert in lockstep with the oracle.
      import graft.functions.Num.portableRound6
      val ex = embs(s, dir).select((col("label") % 2).as("grp"),
          posexplode(col("embedding")).as(Seq("pos", "x")))
        .select(col("grp"), col("pos"),
          portableRound6(col("x").cast("double")).as("xr"))
      val m = ex.groupBy(col("grp"), col("pos"))
        .agg((sum(col("xr").cast(
            org.apache.spark.sql.types.DecimalType(38, 12))).cast("double")
          / count(lit(1))).as("mean"))
      m.filter(col("grp") === 0).select(col("pos"), col("mean").as("m0"))
        .join(m.filter(col("grp") === 1)
          .select(col("pos"), col("mean").as("m1")), Seq("pos"))
        .select(col("pos"), portableRound6(col("m0")).as("mean_a"),
          portableRound6(col("m1")).as("mean_b"),
          portableRound6(abs(col("m0") - col("m1"))).as("abs_drift"))
        .orderBy(col("abs_drift").desc, col("pos"))
    }),

    // Per-dimension z-score standardization: one posexplode scan, one
    // partial-combined per-dim moment aggregate (64 result rows), the
    // tiny stats frame broadcast back — the corpus never shuffles.
    // Exact-decimal moments over 6-place-quantized inputs make every
    // z replayable (see VectorAgg.standardizeDims).
    "q_embed_standard" -> ((s, dir) => {
      VectorAgg.standardizeDims(embs(s, dir)
        .select(col("vec_id"), col("embedding")), "vec_id", "embedding")
        .orderBy(col("vec_id"), col("pos"))
    }),

    // Deterministic train/holdout split: every doc's bucket and split
    // are a pure md5 function of its id — same assignment in DuckDB,
    // hash-checked per row.
    "q_sample_split" -> ((s, dir) => {
      Sampling.hashSplit(docs(s, dir), "doc_id", trainPct = 90)
        .select(col("doc_id"), col("bucket"), col("split"))
        .orderBy(col("doc_id"))
    }),

    // Sharded training order: (shard, pos, global_pos) materialize one
    // deterministic pseudorandom permutation of the corpus — the
    // oracle replays both md5 draws and the per-shard rank per row.
    "q_sample_shard" -> ((s, dir) => {
      Sampling.shardedShuffle(docs(s, dir), "doc_id", numShards = 8)
        .select(col("doc_id"), col("shard"), col("pos"), col("global_pos"))
        .orderBy(col("doc_id"))
    }),

    // Quality-weighted downsampling: each doc kept with probability
    // equal to its type-token ratio — deterministic md5 draw per key,
    // identical decision in DuckDB.
    "q_sample_weighted" -> ((s, dir) => {
      Sampling.sampleByWeight(docs(s, dir), "doc_id",
        Text.typeTokenRatio(col("text")))
        .select(col("doc_id"))
        .orderBy(col("doc_id"))
    }),

    // Corpus balancing: cap documents per source at a deterministic
    // hash-chosen 20 — same survivors every run and every engine.
    "q_sample_quota" -> ((s, dir) => {
      Sampling.capPerGroup(docs(s, dir), "source", "doc_id", 20)
        .select(col("doc_id"), col("source"), col("sample_rank"))
        .orderBy(col("source"), col("sample_rank"))
    }),

    // Deterministic 5-fold cross-validation assignment: md5(doc) mod 5
    // — permanent folds, one map-side projection, all k splits from
    // one scan each.
    "q_sample_folds" -> ((s, dir) => {
      Sampling.kFolds(docs(s, dir), "doc_id", k = 5)
        .select(col("doc_id"), col("fold"))
        .orderBy(col("doc_id"))
    }),

    // Proportional stratified 1/5 sample by source: the same-mixture
    // downsampler (capPerGroup flattens; this preserves shares). The
    // ceil target test is pure integer arithmetic — no division, so
    // the keep decision is bit-portable by construction.
    "q_sample_strat" -> ((s, dir) => {
      Sampling.stratifiedSample(docs(s, dir), "source", "doc_id",
          num = 1, den = 5)
        .select(col("doc_id"), col("source"), col("stratum_n"),
          col("sample_rank"))
        .orderBy(col("source"), col("sample_rank"))
    }),

    // Temperature resampling toward the alpha=0.5 language mix: each
    // doc kept iff its md5 draw falls under its language's
    // sqrt(n_min/n_lang) rate — sqrt is correctly rounded IEEE, so rate
    // and decision are bit-identical in DuckDB.
    "q_sample_temp" -> ((s, dir) => {
      Sampling.temperatureResample(docs(s, dir), "lang", "doc_id", alpha = 0.5)
        .select(col("doc_id"), col("lang"),
          round(col("keep_rate"), 6).as("keep_rate"))
        .orderBy(col("doc_id"))
    }),

    // Contrastive negative pairs: 3 pseudo-random partners per doc via
    // md5 bucket representatives — broadcast join against a 64-row
    // table, every pair re-derived bit-for-bit in DuckDB.
    "q_sample_neg" -> ((s, dir) => {
      Sampling.negativePairs(docs(s, dir), "doc_id", k = 3, buckets = 64)
        .orderBy(col("doc_id"), col("neg_idx"))
    }),

    // Efraimidis-Spirakis weighted reservoir: EXACTLY 20 docs without
    // replacement, inclusion odds proportional to token count — the
    // fixed-budget selection shape next to Bernoulli sampleByWeight's
    // variable-size keep. ln(u)/w keys replayed by the oracle from the
    // same md5 uniform; selection is a TakeOrderedAndProject.
    "q_sample_reservoir" -> ((s, dir) => {
      val d = docs(s, dir).select(col("doc_id"),
        Text.tokenCount(col("text")).cast("double").as("w"))
      Sampling.weightedReservoir(d, "doc_id", col("w"), 20)
        .select(col("doc_id"), col("w").cast("int").as("n_tok"), col("es_key"))
        .orderBy(col("es_key").desc, col("doc_id"))
    }),

    // Token-budget selection: the best ~5000-token subset by stopword
    // signal (quality proxy) — the fixed-compute cut beside the
    // fixed-count reservoir. One ordered cumulative window.
    "q_sample_budget" -> ((s, dir) => {
      val d = docs(s, dir).select(col("doc_id"),
        round(Text.stopwordRatio(col("text")), 6).as("score"),
        Text.tokenCount(col("text")).cast("long").as("n_tok"))
      Sampling.selectByBudget(d, "doc_id", "score", "n_tok", budget = 5000L)
        .orderBy(col("doc_id"))
    }),

    // Per-group weighted reservoir: the 3 best token-weighted E-S
    // draws within each language — the per-facet quality-weighted
    // budget a global reservoir cannot express.
    "q_sample_grpreservoir" -> ((s, dir) => {
      val d = docs(s, dir).select(col("doc_id"), col("lang"),
        Text.tokenCount(col("text")).cast("double").as("w"))
      Sampling.weightedReservoirPerGroup(d, "lang", "doc_id", col("w"), 3)
        .select(col("lang"), col("es_rank"), col("doc_id"),
          col("w").cast("int").as("n_tok"), col("es_key"))
        .orderBy(col("lang"), col("es_rank"))
    }),

    // DSIR-style target-affinity scores: hashed-token target/source
    // distribution ratios (target = the French slice), engine-portable
    // arithmetic throughout — DuckDB re-derives every bucket id, count,
    // and score. Docs whose vocabulary leans French score > 1.
    "q_sample_dsir" -> ((s, dir) => {
      val d = docs(s, dir)
      Dsir.importanceScores(
        d, d.filter(col("lang") === "fr"), "doc_id", "text", buckets = 256)
        .orderBy(col("doc_id"))
    }),

    // Mixture materialization: resample the language mix to uniform
    // 20% shares — minority languages repeat (epoch > 0 copies), the
    // majority thins; every copy decision is an md5 draw replayed
    // bit-for-bit by the oracle.
    "q_sample_mix" -> ((s, dir) => {
      Sampling.mixtureResample(docs(s, dir), "lang", "doc_id",
        Map("en" -> 0.2, "fr" -> 0.2, "de" -> 0.2, "es" -> 0.2, "zh" -> 0.2))
        .select(col("doc_id"), col("lang"), col("epoch"))
        .orderBy(col("doc_id"), col("epoch"))
    }),

    // Leakage-free split: near-dup clusters (minhash pairs at 0.8)
    // split as a unit on their canonical id; singletons on their own
    // id. The oracle replays the cluster closure recursively and the
    // md5 bucket assignment per row.
    "q_split_leakfree" -> ((s, dir) => {
      val d = docs(s, dir)
      Sampling.leakageFreeSplit(
        d, "doc_id", minedPairs(s, dir, 0.8), trainPct = 90)
        .select(col("doc_id"), col("split_key"), col("split"))
        .orderBy(col("doc_id"))
    }),

    // Corpus vocabulary report: top-20 bigrams by total occurrences
    // with document frequency — two partial-combined aggregates and a
    // TakeOrderedAndProject; the vocabulary never crosses the wire.
    "q_vocab_top" -> ((s, dir) => {
      TfIdf.corpusTopNgrams(docs(s, dir), 2, 20)
    }),

    // BPE merge training: the first 3 learned merges over the corpus
    // (most-frequent adjacent symbol pair, greedy left-to-right
    // application, ties on the pair string) — the tokenizer-
    // construction primitive. The working set is the distinct-word
    // table; the oracle replays every round: pair counts, the top-1
    // cut, and greedy application as odd-rank positions within runs
    // of consecutive matches.
    "q_vocab_bpe" -> ((s, dir) => {
      // the shared merge list, rendered through the SAME toDF the
      // one-call trainMerges uses — byte-identical table
      import s.implicits._
      bpeMerges(s, dir, 3)
        .toDF("rank", "left_sym", "right_sym", "merged", "pair_count")
        .orderBy(col("rank"))
    }),

    // The batched scale path trainMerges' Scaladoc names, as the
    // explicit opt-in: 4 merges in 2 rewrite rounds (batch=2) — per
    // round, one persisted pair-count table feeds two disjoint argmax
    // picks (symbols AND merged token pairwise distinct, so the picks
    // commute) and ONE fused rewrite. The oracle replays both rounds:
    // counts, pick a, the exclusion set, pick b, and the two chained
    // greedy applications.
    "q_vocab_bpe_batched" -> ((s, dir) => {
      Bpe.trainMergesBatched(docs(s, dir), "text", k = 4, batch = 2)
        .orderBy(col("rank"))
    }),

    // The ENCODE side: top-20 pieces (by total corpus count, ties on
    // piece asc) after applying the 3 learned merges — the coverage
    // report trained merges are judged by.
    "q_vocab_pieces" -> ((s, dir) => {
      // applies the run's shared k=3 merge list (trained once)
      Bpe.piecesAfterMergesWith(docs(s, dir), "text",
        bpeMerges(s, dir, 3).map(t => (t._2, t._3)), topN = 20)
    }),

    // Tokenizer-coverage diagnostic: per-doc OOV rate against the
    // corpus's top-500 unigram vocab (deterministic count-desc/token-asc
    // selection, replayed exactly by the oracle).
    "q_vocab_oov" -> ((s, dir) => {
      TfIdf.oovRate(docs(s, dir), vocabSize = 500)
        .orderBy(col("doc_id"))
    }),

    // Heaps'-law vocabulary growth: cumulative distinct vocab vs
    // cumulative tokens at every 50th document — the corpus-saturation
    // curve ("still learning new words, or time to dedup harder?").
    // The cumulative window runs over the per-doc aggregate spine, not
    // data rows.
    "q_vocab_growth" -> ((s, dir) => {
      TfIdf.vocabGrowth(docs(s, dir), every = 50)
    }),

    // Per-doc lexical novelty vs everything earlier in id order: the
    // share of a doc's distinct tokens first introduced BY that doc —
    // the pair-mining-free near-duplicate tripwire.
    "q_text_novelty" -> ((s, dir) => {
      TfIdf.noveltyRates(docs(s, dir))
    }),

    // URL canonicalization: campaign-link noise (case-shifted host,
    // utm params, fragments) collapses to one provenance key. The
    // messy URL is CONSTRUCTED from doc_id (the q_fn_json
    // construction-inverting pattern) so every rule — host lowering,
    // fragment drop, tracking-param strip, emptied-query drop — is
    // deterministically exercised and replayed.
    "q_text_urlcanon" -> ((s, dir) => {
      val base = concat(lit("HTTP://Ex"), (col("doc_id") % 5).cast("string"),
        lit(".COM/p/"), col("doc_id").cast("string"))
      val q = when(col("doc_id") % 3 === 0,
          lit("?utm_source=a&utm_medium=b"))
        .when(col("doc_id") % 3 === 1,
          concat(lit("?utm_source=a&id="), col("doc_id").cast("string")))
        .otherwise(lit(""))
      val frag = when(col("doc_id") % 2 === 0,
        concat(lit("#sec"), col("doc_id").cast("string"))).otherwise(lit(""))
      val url = concat(base, q, frag)
      docs(s, dir).select(col("doc_id"), url.as("url"),
          Text.canonicalizeUrl(url).as("canonical"))
        .orderBy(col("doc_id"))
    }),

    // Okapi BM25 lexical retrieval scores for a 3-term query — the
    // baseline every embedding retriever is judged against, and the
    // hybrid-search partner of the ANN tier. Exact tf/df/dl integers;
    // per-doc partials fold term-sorted; the corpus scan prunes to
    // matching rows before any shuffle.
    "q_text_bm25" -> ((s, dir) => {
      TfIdf.bm25(docs(s, dir), Seq("spark", "join", "vector"),
          k1 = 1.2, b = 0.75)
        .orderBy(col("doc_id"))
    }),

    // Flesch reading ease per document from engine-portable integer
    // counts (whitespace words, terminal-punctuation sentence runs
    // floored at 1, vowel-group syllables) — the classic readability
    // quality channel beside the Gopher gate and the bigram LM.
    "q_text_readability" -> ((s, dir) => {
      docs(s, dir).select(col("doc_id"),
        // nonEmptyTokens, matching fleschReadingEase's internal word
        // count: tokenCount('') reads 1 (the ['']-split artifact)
        size(Text.nonEmptyTokens(col("text"))).as("n_words"),
        Text.sentenceCount(col("text")).as("n_sentences"),
        Text.syllableCountApprox(col("text")).as("n_syllables"),
        round(Text.fleschReadingEase(col("text")), 6).as("flesch"))
        .orderBy(col("doc_id"))
    }),

    // Length-grouped batching primitive: token-length quartiles WITHIN
    // each language (per-group cut points — a global cut would let the
    // verbose languages claim every top bucket). Buckets feed packing
    // so batches hold like-sized sequences with minimal padding.
    "q_profile_groupbucket" -> ((s, dir) => {
      val d = docs(s, dir).select(col("doc_id"), col("lang"),
        Text.tokenCount(col("text")).cast("double").as("n_tok"))
      graft.operators.Profile.quantileBucketByGroup(d, "lang", "n_tok", k = 4)
        .groupBy(col("lang"), col("n_tok_qbucket"))
        .agg(count(lit(1)).as("cnt"),
          min(col("n_tok")).cast("long").as("lo"),
          max(col("n_tok")).cast("long").as("hi"))
        .select(col("lang"), col("n_tok_qbucket").cast("long").as("qbucket"),
          col("cnt"), col("lo"), col("hi"))
        .orderBy(col("lang"), col("qbucket"))
    }),

    // Sequence packing: documents fill 2000-token batches per source in
    // doc_id order — one window shuffle, deterministic assignment.
    "q_pack_batches" -> ((s, dir) => {
      Packing.packByTokenBudget(docs(s, dir), "source", "doc_id", 2000)
        .select(col("doc_id"), col("source"), col("n_tokens"), col("batch_id"))
        .orderBy(col("source"), col("doc_id"))
    }),

    // Packed batches materialized as training sequences: member docs
    // concatenated in order with an EOS separator, one row per batch —
    // the final text→trainer handoff. Deterministic via in-aggregate
    // array_sort (no window, one partial-combined exchange).
    "q_pack_concat" -> ((s, dir) => {
      val packed = Packing.packByTokenBudget(
        docs(s, dir).select(col("doc_id"), col("lang"), col("text")),
        "lang", "doc_id", budget = 400)
      Packing.concatPacked(packed, "lang", "doc_id", " <|eos|> ")
        .select(col("lang"), col("batch_id"), col("n_docs"),
          col("batch_tokens"), col("seq_text"))
        .orderBy(col("lang"), col("batch_id"))
    }),

    // One-row corpus governance report: sizes, facet cardinalities and
    // the quality-gate pass count in a single partially-combined
    // aggregate — integer-valued throughout, so fully portable. The
    // drop-over-drop diff of this row is what a 100 TB ingest reviews
    // before promoting a snapshot.
    "q_corpus_report" -> ((s, dir) => {
      docs(s, dir).agg(
        count(lit(1)).as("n_docs"),
        sum(Text.tokenCount(col("text")).cast("long")).as("total_tokens"),
        sum(length(col("text")).cast("long")).as("total_chars"),
        countDistinct(col("lang")).as("n_langs"),
        countDistinct(col("source")).as("n_sources"),
        sum(Text.qualityFlag(col("text")).cast("long")).as("n_quality_ok"))
    }),

    // Token / vocabulary / punctuation stats + the composite quality gate.
    "q_text_stats" -> ((s, dir) => {
      docs(s, dir).select(
        col("doc_id"),
        Text.tokenCount(col("text")).as("n_tokens"),
        Text.uniqueTokenCount(col("text")).as("n_unique"),
        round(Text.typeTokenRatio(col("text")), 6).as("ttr"),
        // punct_ratio: portableRound6 (r11 triage) — k/length(text) is
        // an integer ratio over the CHAR length (577 max at sf0.1;
        // the divergent 640-family is one data-growth step away).
        // ttr/stopword_ratio keep the builtin: their denominator is
        // the word count, capped at 100 < 128 (no reachable tie).
        graft.functions.Num.portableRound6(
          Text.punctRatio(col("text"))).as("punct_ratio"),
        round(Text.stopwordRatio(col("text")), 6).as("stopword_ratio"),
        Text.qualityFlag(col("text")).as("quality_ok"))
        .orderBy(col("doc_id"))
    }),

    // Perplexity-proxy quality scoring: a pruned bigram LM trained on
    // the corpus itself (CCNet-style third quality channel). Train is
    // two bounded top-V count aggregations; score is one map-side pass
    // with the model riding as literal maps and the per-doc ln-prob a
    // deterministic array fold. The oracle replays vocabulary cut,
    // bigram cut, stupid backoff and fold bit-for-bit.
    "q_text_perplexity" -> ((s, dir) => {
      val d = docs(s, dir)
      val model = langModel(s, dir) // shared training; literal scoring path
      LangModel.scoreDocs(d, "doc_id", "text", model)
        .orderBy(col("doc_id"))
    }),

    // The broadcast-variable scoring path (the scale route past
    // LangModel.LiteralCap) against the IDENTICAL oracle as
    // q_text_perplexity — the bit-identity claim between the literal
    // and broadcast paths, driver-hash-checked rather than only
    // spec-asserted.
    "q_text_perplexity_bcast" -> ((s, dir) => {
      val d = docs(s, dir)
      val model = langModel(s, dir) // shared training; broadcast scoring path
      LangModel.scoreDocsBcast(d, "doc_id", "text", model)
        .orderBy(col("doc_id"))
    }),

    // Gopher-style composite quality GATE with per-rule verdicts and
    // failure reasons — the audit-friendly form of the boolean
    // qualityFlag: a rejected document says WHICH rule rejected it
    // (length / word-length / symbol density / stopword signal /
    // within-doc repetition). The repetition channel joins the
    // per-doc 2-gram aggregation; everything else is one map-side
    // pass; concat_ws skips the null (passing) slots so the reasons
    // string lists exactly the failed rules.
    "q_text_gate" -> ((s, dir) => {
      val d = docs(s, dir)
      val rep = graft.operators.Repetition.repetitionStats(d, 2)
        .select(col("doc_id"), col("dup_gram_frac"))
      val nTok = Text.tokenCount(col("text"))
      val meanLen = length(col("text")).cast("double") / nTok
      d.join(rep, Seq("doc_id"), "left")
        .select(
          col("doc_id"),
          nTok.between(10, 5000).as("r_len"),
          (meanLen >= 2.0 && meanLen <= 12.0).as("r_wordlen"),
          (Text.punctRatio(col("text")) < 0.2).as("r_symbol"),
          (Text.stopwordRatio(col("text")) >= 0.02).as("r_stopword"),
          (coalesce(col("dup_gram_frac"), lit(0.0)) < 0.4).as("r_repetition"))
        .withColumn("pass",
          col("r_len") && col("r_wordlen") && col("r_symbol") &&
            col("r_stopword") && col("r_repetition"))
        .withColumn("fail_reasons", concat_ws(",",
          when(!col("r_len"), lit("len")),
          when(!col("r_wordlen"), lit("wordlen")),
          when(!col("r_symbol"), lit("symbol")),
          when(!col("r_stopword"), lit("stopword")),
          when(!col("r_repetition"), lit("repetition"))))
        .orderBy(col("doc_id"))
    }),

    // Language-ID heuristic + canonical normalized fingerprint.
    "q_text_lang" -> ((s, dir) => {
      docs(s, dir).select(
        col("doc_id"),
        Text.langId(col("text")).as("lang_guess"),
        Text.normalizedFingerprint(col("text")).as("fingerprint"))
        .orderBy(col("doc_id"))
    }),

    // Top principal direction by 2-step power iteration — the
    // data-dependent counterpart to the JL random projection
    // (anisotropy diagnosis / whitening direction). Matvec form, two
    // keyed aggregations per iteration, every sum an exact decimal of
    // per-term products; the oracle replays both iterations,
    // normalizations, and the sign fix.
    "q_embed_pca" -> ((s, dir) => {
      graft.operators.Pca.topComponent(corpus(s, dir), dim = 64, iters = 2)
        .orderBy(col("d"))
    }),

    // Corpus-weighted keywords: top-3 terms per document by the
    // rational tf-idf (tf * N / df — integer-valued operands, so the
    // score is bit-identical across engines; see TfIdf's Scaladoc).
    "q_text_tfidf" -> ((s, dir) => {
      TfIdf.topTerms(docs(s, dir), 3)
        .orderBy(col("doc_id"), col("term_rank"))
    }),

    // Context-window chunking: 100-token windows, 20-token overlap —
    // map-side explode, no shuffle (the plan is scan -> generate).
    "q_text_chunks" -> ((s, dir) => {
      Chunking.chunkByTokens(docs(s, dir), 100, 20)
        .orderBy(col("doc_id"), col("chunk_idx"))
    }),

    // Boilerplate detection: chunk-level exact dedup ACROSS documents
    // (the paragraph-granularity sweep that catches repeated
    // disclaimers/templates whole-doc dedup misses). A 20-token
    // disclaimer is planted onto every 4th doc so the hit is
    // deterministic; chunking composes with an exact-dedup aggregate —
    // countDistinct runs as the standard two-level (chunk, doc) then
    // chunk aggregation, both partial-combined.
    "q_dedup_boilerplate" -> ((s, dir) => {
      val planted = docs(s, dir).withColumn("text",
        when(col("doc_id") % 4 === 0,
          concat(lit(Boilerplate), lit(" "), col("text")))
          .otherwise(col("text")))
      // Hash BEFORE the shuffle: the exchange then carries 32-byte
      // chunk keys instead of full chunk texts (the q_dedup_exact
      // content-key idiom).
      Chunking.chunkByTokens(planted, 20, 0)
        .select(md5(col("chunk_text")).as("chunk_key"), col("doc_id"))
        .groupBy(col("chunk_key"))
        .agg(countDistinct(col("doc_id")).as("n_docs"),
          count(lit(1)).as("n_occurrences"))
        .filter(col("n_docs") >= 2)
        .orderBy(col("chunk_key"))
    }),

    // PII redaction: every 10th document gets a deterministic
    // email+account-number suffix planted, so the masking and the match
    // counts are exercised on real hits and oracle-checked span-for-span.
    "q_text_pii" -> ((s, dir) => {
      val planted = docs(s, dir).withColumn("text",
        when(col("doc_id") % 10 === 0,
          concat(col("text"), lit(" contact user"), col("doc_id"),
            lit("@example.com ref 1234567890")))
          .otherwise(col("text")))
      planted.select(
        col("doc_id"),
        Text.emailCount(col("text")).as("n_emails"),
        Text.longNumberCount(col("text")).as("n_ids"),
        Text.maskPii(col("text")).as("masked_text"))
        .orderBy(col("doc_id"))
    }),

    // HTML → text extraction: each document wrapped in a deterministic
    // page shell (head/style subtree, heading with an &amp; entity,
    // trailing script) and stripped back out — subtree drop, tag
    // strip, entity decode, and whitespace collapse all exercised and
    // replayed span-for-span by the oracle's identical RE2 chain.
    "q_text_html" -> ((s, dir) => {
      val paged = docs(s, dir).withColumn("html",
        concat(lit("<html><head><style>p{margin:0}</style></head><body>" +
          "<h1>Doc &amp; page</h1>\n<p class=\"body\">"), col("text"),
          lit("</p><!-- footer --><script>var t=1;</script></body></html>")))
      paged.select(col("doc_id"), Text.stripHtml(col("html")).as("html_text"))
        .orderBy(col("doc_id"))
    }),

    // Tokenizer-cost estimation: BPE-ish piece counts over a payload
    // with planted punctuation / contractions / numbers (the corpus
    // text is bare words, so the shell exercises the symbol and
    // contraction branches). The boundary-split count runs the
    // lookaround form here and its closed form in the oracle — the two
    // are provably equal (cross-checked in SimilarityTextSpec), which
    // is what makes a lookaround expression driver-checkable at all.
    "q_text_bpetokens" -> ((s, dir) => {
      val payload = docs(s, dir).withColumn("pay",
        concat(lit("It's doc #"), col("doc_id").cast("string"),
          lit(" (rev 2.1) - "), col("text"), lit(" ...cost $12.50, OK!")))
      payload.select(
        col("doc_id"),
        Text.bpeishTokenCount(col("pay")).as("n_bpeish"),
        Text.gpt2PieceCount(col("pay")).as("n_gpt2"))
        .orderBy(col("doc_id"))
    }),

    // Gopher-style within-document repetition: bigram totals and the
    // fraction of text consumed by the top / by repeated bigrams.
    "q_text_rep" -> ((s, dir) => {
      Repetition.repetitionStats(docs(s, dir), 2)
        .orderBy(col("doc_id"))
    }),

    // CROSS-document duplicated-span coverage: per doc, the fraction
    // of token positions covered by 4-grams recurring in >= 2 docs —
    // the exact-substring-dedup diagnostic that catches mirrored /
    // templated text no whole-doc hash sees. Position coverage, not
    // gram counts: overlapping hot grams merge through the distinct.
    "q_text_dupspan" -> ((s, dir) => {
      Repetition.dupSpanStats(docs(s, dir), n = 4, minDf = 2)
        .orderBy(col("doc_id"))
    }),

    // Substring-granularity dedup rewrite: remove every token position
    // covered by a corpus-hot 4-gram, keep the document. Near-dup docs
    // lose their mirrored spans; exact-dup docs wipe to empty; clean
    // docs pass through byte-identical — all replayed span-for-span.
    "q_dedup_spans" -> ((s, dir) => {
      Repetition.removeDupSpans(docs(s, dir), n = 4, minDf = 2)
        .orderBy(col("doc_id"))
    }),

    // Token-distribution diversity: rational Simpson concentration
    // (exact integer sums, one division — bit-portable; the Shannon
    // entropy column is library-grade and unit-tested instead, since
    // log2's last ulp is engine-specific).
    "q_text_diversity" -> ((s, dir) => {
      Repetition.tokenDiversity(docs(s, dir))
        .select(col("doc_id"), col("n_tokens"), col("n_types"), col("simpson"))
        .orderBy(col("doc_id"))
    }),

    // Provenance analysis: per-domain document counts over planted
    // source URLs (every 3rd doc gets a deterministic mirror URL) —
    // extraction is the Java∩RE2 regex pair firstUrl/urlDomain, so the
    // oracle rebuilds the identical domains.
    "q_text_domains" -> ((s, dir) => {
      val planted = docs(s, dir).withColumn("text",
        when(col("doc_id") % 3 === 0,
          concat(col("text"), lit(" src https://mirror"),
            (col("doc_id") % 7).cast("string"),
            lit(".example.org/p/"), col("doc_id").cast("string")))
          .otherwise(col("text")))
      planted
        .select(Text.urlDomain(Text.firstUrl(col("text"))).as("domain"))
        .filter(col("domain") =!= "")
        .groupBy(col("domain")).agg(count(lit(1)).as("n_docs"))
        .orderBy(col("domain"))
    }),

    // Rolling winnowing fingerprint (md5-derived gram hash — full
    // DuckDB oracle).
    "q_text_rolling" -> ((s, dir) => {
      // spread: the winnowing fingerprint is the heaviest per-row text
      // kernel in the registry and otherwise runs in the scan's ONE task
      QueryUtil.spread(docs(s, dir)).select(
        col("doc_id"),
        Text.rollingMinFingerprint(col("text")).as("roll_fp"))
        .orderBy(col("doc_id"))
    }),

    // Multimodal plumbing: binary payload -> mapPartitions batch decode
    // (deterministic fake kernel; the Spark-side schema/batching is the
    // real contract) -> typed metadata.
    "q_media_meta" -> ((s, dir) => {
      Multimodal.decodeMeta(s, Multimodal.withBinaryPayload(docs(s, dir)))
        .toDF().orderBy(col("doc_id"))
    }),

    // Frame-sampling explode over the decoded metadata.
    "q_media_frames" -> ((s, dir) => {
      Multimodal.sampleFrames(
        Multimodal.decodeMeta(s, Multimodal.withBinaryPayload(docs(s, dir))),
        stride = 4)
        .orderBy(col("doc_id"), col("frame_idx"))
    }),

    // Feature extraction: binary payload -> 8-dim float vector through
    // the mapPartitions encoder slot (md5-derived stub kernel — every
    // component DuckDB-rebuildable), flattened per element.
    "q_media_features" -> ((s, dir) => {
      Multimodal.extractFeatures(
        s, Multimodal.withBinaryPayload(docs(s, dir)), dim = 8)
        .toDF()
        .select(col("doc_id"),
          posexplode(col("features")).as(Seq("pos", "feature")))
        .orderBy(col("doc_id"), col("pos"))
    }),

    // Perceptual difference-hash per media payload: bit j = "cell j at
    // least as bright as cell j+1" over the deterministic brightness
    // stub — 63 bits (signed/unsigned parity). The classic image
    // near-dup fingerprint; the oracle rebuilds every bit.
    "q_media_phash" -> ((s, dir) => {
      Multimodal.perceptualHash(s, Multimodal.withBinaryPayload(docs(s, dir)))
        .toDF().orderBy(col("doc_id"))
    }),

    // Media near-dup pairs by phash hamming <= 3: 4 x 16-bit band
    // buckets generate candidates (pigeonhole guarantees recall),
    // exact bit_count(xor) verifies — the SimHash band shape applied
    // to media; the oracle brute-forces all pairs.
    "q_media_neardup" -> ((s, dir) => {
      Multimodal.nearDuplicateMedia(s,
          Multimodal.withBinaryPayload(docs(s, dir)), maxHamming = 3)
        .orderBy(col("doc_a"), col("doc_b"))
    }),

    // Batch resize: binary->binary mapPartitions with the deterministic
    // stub kernel — dimensions and byte counts are oracle-reproducible.
    "q_media_resize" -> ((s, dir) => {
      Multimodal.resize(s, Multimodal.withBinaryPayload(docs(s, dir)), maxDim = 128)
        .toDF()
        .select(col("doc_id"), col("width"), col("height"),
          length(col("payload")).cast("int").as("n_bytes"))
        .orderBy(col("doc_id"))
    }),

    // REAL-pixel perceptual hashing over the committed BMP fixtures:
    // ImageIO decodes actual pixels and the dHash reads integer
    // luminance cells (Multimodal.imageCells). The oracle's VALUES
    // were computed by an INDEPENDENT from-scratch BMP decoder
    // (fixtures' generator) replaying the same all-integer cell math —
    // a cross-implementation check, not a copy of the engine's output.
    // Fixture design: img_001 is img_000 uniformly brightened (+6,
    // order-preserving -> identical hash), img_002 has one brightened
    // cell block (hamming 1), img_003/004 are structurally different.
    "q_media_phash_img" -> ((s, _) => {
      Multimodal.perceptualHash(s, mediaImages(s)).toDF()
        .orderBy(col("doc_id"))
    }),

    // Banded near-dup mining over the real-pixel hashes: the brightness
    // shift and the local tweak must surface as pairs (hamming 0 and 1),
    // the structurally different images must not.
    "q_media_neardup_img" -> ((s, _) => {
      Multimodal.nearDuplicateMedia(s, mediaImages(s), maxHamming = 3)
        .orderBy(col("doc_a"), col("doc_b"))
    }),

    // REAL audio decode over the committed WAV fixtures: the JDK's
    // javax.sound.sampled reads actual PCM samples and the profile is
    // all-integer (peak / floor-isqrt rms / channel-0 zero crossings).
    // The oracle's VALUES were computed by the fixture generator's
    // INDEPENDENT pure-python replay (wave + struct + math.isqrt —
    // fixtures/media_audio/_gen_audio_fixtures.py); `decoded` pinned
    // TRUE means a fixture silently falling back to the stub
    // hash-mismatches. With this row the multimodal stub caveat
    // shrinks to video only.
    "q_media_audio" -> ((s, _) => {
      Multimodal.audioProfile(s, mediaAudio(s)).toDF()
        .orderBy(col("doc_id"))
    }),

    // REAL multi-frame decode over the committed animated-GIF
    // fixtures (the one multi-frame codec the JDK ships): one
    // perceptual hash per decoded frame — the shot-level frame
    // sampling a video pipeline runs, with GIF standing in for the
    // video container the way BMP stands in for stills. Fixture
    // design: vid_001 is vid_000 with an order-preserving palette
    // shift, so all four frame hashes must match vid_000's exactly;
    // vid_002's rotating gradient gives 6 distinct hashes. The
    // oracle's VALUES were computed by the fixture generator's
    // independent replay (it encodes known pixel arrays and runs the
    // same integer cell/bit math — no JVM involved).
    "q_media_frames_gif" -> ((s, _) => {
      Multimodal.frameHashes(s, mediaGifs(s)).toDF()
        .orderBy(col("doc_id"), col("frame_idx"))
    }),

    // Shot-level near-dup mining: the banded hamming miner run over
    // PER-FRAME real hashes (composite key doc*100+frame), so clips
    // sharing any near-identical frame surface as pairs — vid_001's
    // palette-shifted frames must each pair with their vid_000
    // original at hamming 0. The oracle brute-forces all pairs over
    // the same frame-hash VALUES (xor + bit_count in DuckDB), so the
    // banding's recall is checked, not assumed.
    "q_media_neardup_frames" -> ((s, _) => {
      val fh = Multimodal.frameHashes(s, mediaGifs(s)).toDF()
        .select((col("doc_id") * 100 + col("frame_idx")).as("doc_id"),
          col("phash"))
      Multimodal.nearDuplicatesFromHashes(fh, maxHamming = 3)
        .orderBy(col("doc_a"), col("doc_b"))
    }),

    // REAL video-container decode over the committed AVI fixtures: the
    // RIFF/AVI parser locates the movi frame chunks and decodes each
    // uncompressed-DIB raster exactly (MJPEG chunks take the JDK JPEG
    // codec — MultimodalSpec pins that path bit-equal to decodeImage
    // on the same JPEG bytes). This retires the last multimodal stub:
    // video was the one §2.13 medium still faked. Fixture design
    // mirrors the GIF set but in REAL RGB (the GIF fixtures were
    // gray-only, so a luminance-weight bug was invisible there):
    // avi_001 is avi_000 with every channel +16 — order-preserving, so
    // all three frame hashes must equal avi_000's exactly; avi_002's
    // rotating green/blue gradient gives 5 distinct hashes. The
    // oracle's VALUES were computed by the fixture generator's
    // independent replay (known pixel arrays through the same integer
    // cell/bit math — no decoder in the loop).
    "q_media_frames_avi" -> ((s, _) => {
      Multimodal.frameHashes(s, mediaAvis(s)).toDF()
        .orderBy(col("doc_id"), col("frame_idx"))
    }))

  /** Committed media fixtures as (doc_id, payload): doc_id parsed
    * from the `<prefix>_NNN.<ext>` basename. ONE definition for all
    * four fixture families — a doc_id-parsing fix (the split-on-'/'
    * basename recipe) must not have to land in four copies.
    */
  private def mediaFixtures(
      s: SparkSession, dir: String, glob: String, prefix: String): DataFrame =
    graft.sources.Sources
      .readBinaryFiles(s, s"$FixtureRoot/$dir", glob = glob)
      .select(
        regexp_extract(element_at(split(col("path"), "/"), -1),
          prefix + "_(\\d+)", 1).cast("long").as("doc_id"),
        col("content").as("payload"))

  private def mediaImages(s: SparkSession): DataFrame =
    mediaFixtures(s, "media_img", "*.bmp", "img")
  private def mediaAudio(s: SparkSession): DataFrame =
    mediaFixtures(s, "media_audio", "*.wav", "au")
  private def mediaGifs(s: SparkSession): DataFrame =
    mediaFixtures(s, "media_gif", "*.gif", "vid")
  private def mediaAvis(s: SparkSession): DataFrame =
    mediaFixtures(s, "media_avi", "*.avi", "avi")

  /** Exactly 20 whitespace tokens — chunk 0 of a planted doc is the
    * whole disclaimer, so boilerplate detection has deterministic hits.
    */
  private val Boilerplate =
    "this document is provided as is without warranty of any kind " +
      "express or implied including merchantability fitness and " +
      "noninfringement disclaimer"

  /** Shared DuckDB CTE: distinct trigram shingle list per document. */
  private val ShingleCte =
    """WITH tok AS (
      |  SELECT doc_id, string_split(text, ' ') AS w FROM documents
      |), d AS (
      |  SELECT doc_id, list_distinct(list_transform(range(1, len(w) - 1),
      |    i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS sh
      |  FROM tok
      |), pairs AS (
      |  -- the shared-shingle guard replays the Spark miners' inverted
      |  -- index (no shared shingle = never a candidate) and kills the
      |  -- 0/0 = NaN a <3-token doc pair would otherwise produce — NaN
      |  -- compares GREATER than any threshold under DuckDB's total
      |  -- order, which would fabricate pairs Spark never emits
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |    len(list_intersect(a.sh, b.sh))::DOUBLE /
      |      (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) AS j
      |  FROM d a JOIN d b ON a.doc_id < b.doc_id
      |  WHERE len(list_intersect(a.sh, b.sh)) > 0
      |)""".stripMargin

  /** RBO@10 suffix constants: S(m) = Σ_{d=m..10} (1-p)·p^(d-1) / d at
    * p = 0.9 — computed once here and embedded as the SAME double
    * literals in the Spark plan and the generated oracle SQL, so
    * neither engine evaluates pow at query time (pow is the one
    * transcendental not verified bit-identical cross-engine).
    */
  private val RboSuffix: Seq[Double] = {
    val p = 0.9
    val w = (1 to 10).map(d => (1 - p) * math.pow(p, d - 1))
    (1 to 10).map(m => (m to 10).map(d => w(d - 1) / d).sum)
  }

  /** NDCG@10 discount constants 1/log2(i+1), i = 1..10, and the ideal
    * DCG `Σ (11−i)·discount(i)` — computed once here and embedded as
    * the SAME double literals in the Spark plan and the generated
    * oracle (the RboSuffix recipe: no runtime log in either engine;
    * Double.toString round-trips exactly).
    */
  private val NdcgDiscount: Seq[Double] =
    (1 to 10).map(i => 1.0 / (math.log(i + 1.0) / math.log(2.0)))
  private val NdcgIdeal: Double =
    (1 to 10).map(i => (11 - i) * NdcgDiscount(i - 1)).sum

  /** One BPE round for the `q_vocab_bpe` oracle: pair counts over
    * w{r-1}, the (count desc, pair asc) top-1 merge, greedy
    * left-to-right application as odd-rank positions within runs of
    * consecutive match positions, producing w{r}.
    */
  private def duckBpeRound(r: Int): String = {
    val prev = r - 1
    // the greedy-application block is duckBpeApply — ONE copy of the
    // odd-rank-within-runs replay SQL, so a rewrite-rule fix cannot
    // desynchronize the exact and batched oracles
    s"""
       |, p$r AS (
       |  SELECT syms[i+1] || ' ' || syms[i+2] AS pair, SUM(cnt) AS pc
       |  FROM (SELECT cnt, syms,
       |    CAST(unnest(range(len(syms)-1)) AS INT) AS i FROM w$prev)
       |  GROUP BY 1
       |), m$r AS (
       |  SELECT string_split(pair, ' ')[1] AS x,
       |    string_split(pair, ' ')[2] AS y, pc
       |  FROM p$r ORDER BY pc DESC, pair ASC LIMIT 1
       |)""".stripMargin +
      duckBpeApply(r.toString, s"w$prev", s"m$r", s"w$r")
  }

  private val DuckBpeBase: String =
    """WITH words AS (
      |  SELECT w, COUNT(*) AS cnt FROM (
      |    SELECT unnest(list_filter(string_split(text, ' '), t -> t <> '')) AS w
      |    FROM documents) GROUP BY w
      |), w0 AS (
      |  SELECT ROW_NUMBER() OVER (ORDER BY w) AS wid, cnt,
      |    string_split(w, '') AS syms
      |  FROM words
      |)""".stripMargin

  private val DuckBpeCtes: String =
    DuckBpeBase + (1 to 3).map(duckBpeRound).mkString

  /** Greedy left-to-right application of the single merge in CTE `m`
    * (one row: x, y) to word table `src`, producing `out` — the
    * odd-rank-within-runs replay `duckBpeRound` uses, factored so the
    * batched oracle can chain two applications per round. An EMPTY
    * `m` (no disjoint pick) passes `src` through unchanged (the
    * scalar subqueries read NULL, so no position matches).
    */
  private def duckBpeApply(
      tag: String, src: String, m: String, out: String): String =
    s"""
       |, pos$tag AS (
       |  SELECT wid, i,
       |    i - ROW_NUMBER() OVER (PARTITION BY wid ORDER BY i) AS grp
       |  FROM (
       |    SELECT wid, CAST(unnest(range(len(syms)-1)) AS INT) AS i, syms
       |    FROM $src)
       |  WHERE syms[i+1] = (SELECT x FROM $m)
       |    AND syms[i+2] = (SELECT y FROM $m)
       |), keep$tag AS (
       |  SELECT wid, i FROM (
       |    SELECT wid, i,
       |      ROW_NUMBER() OVER (PARTITION BY wid, grp ORDER BY i) AS rn
       |    FROM pos$tag)
       |  WHERE rn % 2 = 1
       |), $out AS (
       |  SELECT wid, cnt, list(sym ORDER BY i) AS syms FROM (
       |    SELECT w.wid, w.cnt, t.i,
       |      CASE WHEN k.i IS NOT NULL THEN w.syms[t.i+1] || w.syms[t.i+2]
       |           ELSE w.syms[t.i+1] END AS sym,
       |      kprev.i AS skip
       |    FROM (SELECT wid, cnt, syms FROM $src) w
       |    CROSS JOIN LATERAL (
       |      SELECT CAST(unnest(range(len(w.syms))) AS INT) AS i) t
       |    LEFT JOIN keep$tag k ON k.wid = w.wid AND k.i = t.i
       |    LEFT JOIN keep$tag kprev ON kprev.wid = w.wid AND kprev.i = t.i - 1
       |  ) WHERE skip IS NULL
       |  GROUP BY wid, cnt
       |)""".stripMargin

  /** One batched-BPE super-round (`Bpe.trainMergesBatched`, batch=2)
    * for the `q_vocab_bpe_batched` oracle: pair counts over w{r-1}
    * ONCE, pick a = the (pc desc, pair asc) argmax, pick b = the same
    * argmax among pairs whose x, y, AND merged token avoid pick a's
    * {x, y, x||y} (the commutativity exclusion), then BOTH rewrites
    * applied sequentially to produce w{r} — order irrelevant by
    * construction, matching the Spark side's single fused pass.
    *
    * GENERATOR SHAPE ASSUMPTION (checked against the registered
    * corpus): every super-round finds a disjoint second pick. When
    * the exclusion set exhausts a round's candidates,
    * `trainMergesBatched` renumbers ranks COMPACTLY and runs extra
    * rewrite rounds until k merges land — dynamic behavior a static
    * 2-round/4-rank CTE chain cannot replay. A corpus regeneration
    * that collapses the candidate set needs this oracle regenerated
    * (the exact-greedy DuckBpeOracle has no such assumption).
    */
  private def duckBpeBatchedRound(r: Int): String = {
    val prev = s"w${r - 1}"
    s"""
       |, p$r AS (
       |  SELECT syms[i+1] || ' ' || syms[i+2] AS pair, SUM(cnt) AS pc
       |  FROM (SELECT cnt, syms,
       |    CAST(unnest(range(len(syms)-1)) AS INT) AS i FROM $prev)
       |  GROUP BY 1
       |), c$r AS (
       |  SELECT string_split(pair, ' ')[1] AS x,
       |    string_split(pair, ' ')[2] AS y, pair, pc FROM p$r
       |), m${r}a AS (
       |  SELECT x, y, pc FROM c$r ORDER BY pc DESC, pair ASC LIMIT 1
       |), ex$r AS (
       |  SELECT x AS v FROM m${r}a UNION
       |  SELECT y FROM m${r}a UNION
       |  SELECT x || y FROM m${r}a
       |), m${r}b AS (
       |  SELECT x, y, pc FROM c$r
       |  WHERE x NOT IN (SELECT v FROM ex$r)
       |    AND y NOT IN (SELECT v FROM ex$r)
       |    AND x || y NOT IN (SELECT v FROM ex$r)
       |  ORDER BY pc DESC, pair ASC LIMIT 1
       |)""".stripMargin +
      duckBpeApply(s"${r}a", prev, s"m${r}a", s"w${r}h") +
      duckBpeApply(s"${r}b", s"w${r}h", s"m${r}b", s"w$r")
  }

  private val DuckBpeBatchedOracle: String =
    DuckBpeBase + (1 to 2).map(duckBpeBatchedRound).mkString +
      """
        |SELECT 1 AS rank, 1 AS round, x AS left_sym, y AS right_sym,
        |  x || y AS merged, CAST(pc AS BIGINT) AS pair_count FROM m1a
        |UNION ALL SELECT 2, 1, x, y, x || y, CAST(pc AS BIGINT) FROM m1b
        |UNION ALL SELECT 3, 2, x, y, x || y, CAST(pc AS BIGINT) FROM m2a
        |UNION ALL SELECT 4, 2, x, y, x || y, CAST(pc AS BIGINT) FROM m2b
        |ORDER BY rank""".stripMargin

  private val DuckBpeOracle: String =
    DuckBpeCtes +
      // the outer left_sym IS NOT NULL filter replays trainMerges
      // STOPPING when the corpus runs out of repeated pairs: an empty
      // m$r makes every scalar subquery NULL, and merges exhaust
      // monotonically (m2 empty ⇒ m3 empty), so the surviving rows are
      // exactly ranks 1..j — unfiltered, a collapsed vocabulary padded
      // phantom all-NULL rank rows the Spark side never emits
      """
        |SELECT * FROM (
        |SELECT 1 AS rank, (SELECT x FROM m1) AS left_sym,
        |  (SELECT y FROM m1) AS right_sym, (SELECT x || y FROM m1) AS merged,
        |  (SELECT CAST(pc AS BIGINT) FROM m1) AS pair_count
        |UNION ALL SELECT 2, (SELECT x FROM m2), (SELECT y FROM m2),
        |  (SELECT x || y FROM m2), (SELECT CAST(pc AS BIGINT) FROM m2)
        |UNION ALL SELECT 3, (SELECT x FROM m3), (SELECT y FROM m3),
        |  (SELECT x || y FROM m3), (SELECT CAST(pc AS BIGINT) FROM m3)
        |) WHERE left_sym IS NOT NULL
        |ORDER BY rank""".stripMargin

  private val DuckBpePiecesOracle: String =
    DuckBpeCtes +
      """
        |SELECT piece, CAST(SUM(cnt) AS BIGINT) AS total_count,
        |  CAST(COUNT(DISTINCT wid) AS BIGINT) AS n_words
        |FROM (SELECT wid, cnt, unnest(syms) AS piece FROM w3)
        |GROUP BY piece ORDER BY total_count DESC, piece ASC LIMIT 20""".stripMargin

  /** DuckDB replica of `Text.md5Long64` (full 64 bits, as UBIGINT). */
  private def duckMd5Long64(e: String): String =
    s"('0x' || substr(md5($e), 1, 16))::UBIGINT"

  /** DuckDB replica of `Similarity.hyperplanes`' component derivation. */
  private def duckPlaneW(seed: Long): String =
    s"(('0x' || substr(md5($seed || '_' || j || '_' || d), 1, 8))::UBIGINT" +
      " / 4294967296.0 - 0.5)"

  /** DuckDB replay of [[graft.functions.Num.portableRound6]] — the
    * engine-portable 6-place round every meanVectors/DSIR replay must
    * use in lockstep with the Spark side (tie-convention mechanism in
    * Num's doc). `inner` is referenced three times: bind it to a
    * cheap column via a nested SELECT at the call site.
    */
  private def duckRound6(inner: String): String =
    graft.functions.Num.portableRound6Sql(inner)

  /** Shared DuckDB CTE: left-fold cosine of two embedding columns —
    * same arithmetic as the Spark side's FloatVecDot / norm product.
    */
  private def duckCos(a: String, b: String): String =
    s"""list_sum(list_transform(range(1, len($a) + 1),
       |      i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)))
       |    / (sqrt(list_sum(list_transform(range(1, len($a) + 1),
       |        i -> CAST($a[i] AS DOUBLE) * CAST($a[i] AS DOUBLE))))
       |     * sqrt(list_sum(list_transform(range(1, len($b) + 1),
       |        i -> CAST($b[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)))))""".stripMargin

  /** [[duckCos]] with `VectorOps.guardCos` replayed: NULL (0/0 — float
    * division by zero is NULL in DuckDB) and NaN both pin to the -2.0
    * degenerate sentinel. Without it, a zero-norm vector's cover reads
    * NULL, which DuckDB's NULLS-LAST argmin NEVER picks while Spark's
    * -2.0 sorts FIRST — the selected coreset would diverge. NULLIF
    * works because DuckDB compares NaN = NaN TRUE (total order).
    */
  private def duckCosG(a: String, b: String): String =
    s"COALESCE(NULLIF(${duckCos(a, b)}, 'NaN'::DOUBLE), -2.0)"

  /** DuckDB replay of [[ProductQuant]] training + encoding at the
    * registered configuration (m=4 subspaces x 16 dims, k=4, one
    * KMeans iteration) — the q_ivf_train CTE pattern, stamped per
    * subspace. Emits, for each subspace s: seed/assignment/means/final
    * codebook (`cbl$s`: cid -> centroid list) and the final code
    * assignment (`enc$s`: id -> code). Returns the CTE list without
    * the WITH keyword.
    */
  private def pqCtes: String = (0 until 4).map { s =>
    val lo = s * 16 + 1
    val hi = (s + 1) * 16
    s"""seed$s AS (
       |  SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cid,
       |    list_transform(embedding[$lo:$hi], x -> CAST(x AS DOUBLE)) AS ce
       |  FROM (SELECT * FROM embeddings ORDER BY vec_id LIMIT 4)
       |), sn$s AS (
       |  SELECT cid, ce, sqrt(list_sum(list_transform(ce, x -> x * x))) AS nrm
       |  FROM seed$s
       |), a$s AS (
       |  SELECT id, sub, cid FROM (
       |    SELECT id, sub, cid,
       |      ROW_NUMBER() OVER (PARTITION BY id ORDER BY
       |        list_sum(list_transform(range(1, 17), i -> sub[i] * nce[i]))
       |        / (sqrt(list_sum(list_transform(sub, x -> x * x))) * nrm)
       |        DESC, cid) AS rn
       |    FROM (
       |      SELECT e.vec_id AS id,
       |        list_transform(e.embedding[$lo:$hi], x -> CAST(x AS DOUBLE)) AS sub,
       |        n.cid, n.ce AS nce, n.nrm
       |      FROM embeddings e CROSS JOIN sn$s n
       |    )
       |  ) WHERE rn = 1
       |), m$s AS (
       |  SELECT cid, pos, CAST(${duckRound6("m")} AS REAL) AS comp FROM (
       |    SELECT cid, j AS pos,
       |      CAST(SUM(CAST(${duckRound6(s"sub[CAST(j AS INT) + 1]")}
       |        AS DECIMAL(38,12))) AS DOUBLE) / COUNT(*) AS m
       |    FROM a$s CROSS JOIN range(16) r(j) GROUP BY cid, j)
       |), cb$s AS (
       |  SELECT sd.cid, r.j AS pos,
       |    COALESCE(m$s.comp, CAST(sd.ce[CAST(r.j AS INT) + 1] AS REAL)) AS comp
       |  FROM seed$s sd CROSS JOIN range(16) r(j)
       |  LEFT JOIN m$s ON m$s.cid = sd.cid AND m$s.pos = r.j
       |), cbl$s AS (
       |  SELECT cid, list(CAST(comp AS DOUBLE) ORDER BY pos) AS ce
       |  FROM cb$s GROUP BY cid
       |), cbn$s AS (
       |  SELECT cid, ce, sqrt(list_sum(list_transform(ce, x -> x * x))) AS nrm
       |  FROM cbl$s
       |), enc$s AS (
       |  SELECT id, cid AS code FROM (
       |    SELECT id, cid,
       |      ROW_NUMBER() OVER (PARTITION BY id ORDER BY
       |        list_sum(list_transform(range(1, 17), i -> sub[i] * nce[i]))
       |        / (sqrt(list_sum(list_transform(sub, x -> x * x))) * nrm)
       |        DESC, cid) AS rn
       |    FROM (
       |      SELECT e.vec_id AS id,
       |        list_transform(e.embedding[$lo:$hi], x -> CAST(x AS DOUBLE)) AS sub,
       |        n.cid, n.ce AS nce, n.nrm
       |      FROM embeddings e CROSS JOIN cbn$s n
       |    )
       |  ) WHERE rn = 1
       |)""".stripMargin
  }.mkString(",\n")

  /** DuckDB replay of the IVF-PQ pipeline at the registered
    * configuration: coarse centroids = vectors 10..13 (relabeled
    * 0..3), cosine assignment, float-quantized residuals, one PQ
    * training iteration per 16-dim subspace over the residuals, final
    * encode, nProbe=2 list pruning, and decimal-summed ADC scoring.
    */
  private def ivfPqCtes: String = {
    val base =
      """cc AS (
        |  SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cid,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ce
        |  FROM (SELECT * FROM embeddings
        |        WHERE vec_id >= 10 AND vec_id < 14 ORDER BY vec_id)
        |), ccn AS (
        |  SELECT cid, ce, sqrt(list_sum(list_transform(ce, x -> x * x))) AS nrm
        |  FROM cc
        |), xn AS (
        |  SELECT vec_id AS id,
        |    sqrt(list_sum(list_transform(range(1, 65),
        |      i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)))) AS nx
        |  FROM embeddings
        |), asn AS (
        |  SELECT id, emb, list_id FROM (
        |    SELECT e.vec_id AS id, e.embedding AS emb, n.cid AS list_id,
        |      ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
        |        list_sum(list_transform(range(1, 65),
        |          i -> CAST(e.embedding[i] AS DOUBLE) * n.ce[i]))
        |        / (sqrt(list_sum(list_transform(range(1, 65),
        |            i -> CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE))))
        |         * n.nrm) DESC, n.cid) AS rn
        |    FROM embeddings e CROSS JOIN ccn n
        |  ) WHERE rn = 1
        |), resv AS (
        |  SELECT a.id, a.list_id,
        |    list_transform(range(1, 65),
        |      i -> CAST(CAST(CAST(a.emb[i] AS DOUBLE) - c.ce[i] AS REAL) AS DOUBLE))
        |      AS rv
        |  FROM asn a JOIN cc c ON c.cid = a.list_id
        |)""".stripMargin
    val perSub = (0 until 4).map { s =>
      val lo = s * 16 + 1
      val hi = (s + 1) * 16
      s"""seedR$s AS (
         |  SELECT ROW_NUMBER() OVER (ORDER BY id) - 1 AS cid, rv[$lo:$hi] AS ce
         |  FROM (SELECT * FROM resv ORDER BY id LIMIT 4)
         |), snR$s AS (
         |  SELECT cid, ce, sqrt(list_sum(list_transform(ce, x -> x * x))) AS nrm
         |  FROM seedR$s
         |), aR$s AS (
         |  SELECT id, sub, cid FROM (
         |    SELECT id, sub, cid,
         |      ROW_NUMBER() OVER (PARTITION BY id ORDER BY
         |        list_sum(list_transform(range(1, 17), i -> sub[i] * nce[i]))
         |        / (sqrt(list_sum(list_transform(sub, x -> x * x))) * nrm)
         |        DESC, cid) AS rn
         |    FROM (
         |      SELECT r.id, r.rv[$lo:$hi] AS sub, n.cid, n.ce AS nce, n.nrm
         |      FROM resv r CROSS JOIN snR$s n
         |    )
         |  ) WHERE rn = 1
         |), mR$s AS (
         |  SELECT cid, pos, CAST(${duckRound6("m")} AS REAL) AS comp FROM (
         |    SELECT cid, j AS pos,
         |      CAST(SUM(CAST(${duckRound6(s"sub[CAST(j AS INT) + 1]")}
         |        AS DECIMAL(38,12))) AS DOUBLE) / COUNT(*) AS m
         |    FROM aR$s CROSS JOIN range(16) r(j) GROUP BY cid, j)
         |), cbR$s AS (
         |  SELECT sd.cid, r.j AS pos,
         |    COALESCE(mR$s.comp, CAST(sd.ce[CAST(r.j AS INT) + 1] AS REAL)) AS comp
         |  FROM seedR$s sd CROSS JOIN range(16) r(j)
         |  LEFT JOIN mR$s ON mR$s.cid = sd.cid AND mR$s.pos = r.j
         |), cblR$s AS (
         |  SELECT cid, list(CAST(comp AS DOUBLE) ORDER BY pos) AS ce
         |  FROM cbR$s GROUP BY cid
         |), cbnR$s AS (
         |  SELECT cid, ce, sqrt(list_sum(list_transform(ce, x -> x * x))) AS nrm
         |  FROM cblR$s
         |), encR$s AS (
         |  SELECT id, cid AS code FROM (
         |    SELECT id, cid,
         |      ROW_NUMBER() OVER (PARTITION BY id ORDER BY
         |        list_sum(list_transform(range(1, 17), i -> sub[i] * nce[i]))
         |        / (sqrt(list_sum(list_transform(sub, x -> x * x))) * nrm)
         |        DESC, cid) AS rn
         |    FROM (
         |      SELECT r.id, r.rv[$lo:$hi] AS sub, n.cid, n.ce AS nce, n.nrm
         |      FROM resv r CROSS JOIN cbnR$s n
         |    )
         |  ) WHERE rn = 1
         |)""".stripMargin
    }.mkString(",\n")
    base + ",\n" + perSub
  }

  val oracleSql: Map[String, String] = Map(
    "q_graph_triangles" ->
      (ShingleCte +
        s""", e AS (
          |  SELECT doc_a AS a, doc_b AS b FROM pairs WHERE j >= 0.8
          |), deg AS (
          |  SELECT v, COUNT(*) AS d FROM (
          |    SELECT a AS v FROM e UNION ALL SELECT b AS v FROM e)
          |  GROUP BY v
          |), tri AS (
          |  SELECT COUNT(*) AS t FROM e e1
          |  JOIN e e2 ON e2.a = e1.b
          |  JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b
          |), st AS (
          |  SELECT CAST(COUNT(*) AS BIGINT) AS n_nodes,
          |    CAST(SUM(d * (d - 1)) AS BIGINT) AS w2 FROM deg
          |), ec AS (
          |  SELECT CAST(COUNT(*) AS BIGINT) AS n_edges FROM e
          |)
          |SELECT st.n_nodes, ec.n_edges,
          |  CAST(st.w2 // 2 AS BIGINT) AS n_wedges,
          |  CAST(tri.t AS BIGINT) AS n_triangles,
          |  ${graft.functions.Num.portableRound6Sql(
              "CAST(6 * tri.t AS DOUBLE) / CAST(st.w2 AS DOUBLE)")}
          |    AS global_cc
          |FROM st, ec, tri""".stripMargin),
    "q_graph_pagerank" ->
      (ShingleCte +
        s""", e AS (
          |  SELECT doc_a AS u, doc_b AS v FROM pairs WHERE j >= 0.8
          |  UNION
          |  SELECT doc_b, doc_a FROM pairs WHERE j >= 0.8
          |), deg AS (
          |  SELECT u, COUNT(*) AS d FROM e GROUP BY u
          |), vtx AS (
          |  SELECT DISTINCT u AS id FROM
          |    (SELECT u FROM e UNION ALL SELECT v FROM e)
          |), r0 AS (
          |  SELECT id, CAST(1.0 AS DOUBLE) AS rank FROM vtx
          |), c1 AS (
          |  SELECT e.v AS id,
          |    CAST(SUM(CAST(${graft.functions.Num.portableRound6Sql(
              "r.rank / deg.d")} AS DECIMAL(28,6))) AS DOUBLE) AS s
          |  FROM e JOIN r0 r ON e.u = r.id JOIN deg ON e.u = deg.u
          |  GROUP BY e.v
          |), r1 AS (
          |  SELECT v.id, ${graft.functions.Num.portableRound6Sql(
              "(CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE)) " +
                "+ 0.85 * COALESCE(c1.s, 0.0)")} AS rank
          |  FROM vtx v LEFT JOIN c1 ON v.id = c1.id
          |), c2 AS (
          |  SELECT e.v AS id,
          |    CAST(SUM(CAST(${graft.functions.Num.portableRound6Sql(
              "r.rank / deg.d")} AS DECIMAL(28,6))) AS DOUBLE) AS s
          |  FROM e JOIN r1 r ON e.u = r.id JOIN deg ON e.u = deg.u
          |  GROUP BY e.v
          |), r2 AS (
          |  SELECT v.id, ${graft.functions.Num.portableRound6Sql(
              "(CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE)) " +
                "+ 0.85 * COALESCE(c2.s, 0.0)")} AS rank
          |  FROM vtx v LEFT JOIN c2 ON v.id = c2.id
          |)
          |SELECT id AS doc_id, rank FROM r2 ORDER BY doc_id""".stripMargin),
    "q_dedup_edit" ->
      """WITH k AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 7 = 0 THEN 'X' || substr(text, 2, 23)
        |         WHEN doc_id % 11 = 0 THEN substr(text, 2, 23)
        |         ELSE substr(text, 1, 24) END AS title
        |  FROM documents)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  CAST(levenshtein(a.title, b.title) AS INT) AS dist
        |FROM k a JOIN k b ON a.doc_id < b.doc_id
        |WHERE levenshtein(a.title, b.title) <= 1
        |ORDER BY id_a, id_b""".stripMargin,
    "q_dedup_simhash" ->
      s"""WITH tok AS (
         |  SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS t
         |  FROM documents
         |), h AS (
         |  SELECT doc_id, ${duckMd5Long64("t")} AS h FROM tok
         |), votes AS (
         |  SELECT doc_id, j, SUM((h >> CAST(j AS INT)) & 1::UBIGINT) AS v,
         |    COUNT(*) AS n
         |  FROM h CROSS JOIN range(64) r(j) GROUP BY doc_id, j
         |), sig AS (
         |  SELECT doc_id,
         |    CAST(SUM(CASE WHEN 2 * v >= n
         |      THEN (1::UBIGINT << CAST(j AS INT)) ELSE 0::UBIGINT END)
         |      AS UBIGINT) AS sig
         |  FROM votes GROUP BY doc_id
         |), banded AS (
         |  SELECT doc_id, sig, b, (sig >> CAST(16 * b AS INT)) & 65535::UBIGINT AS bk
         |  FROM sig CROSS JOIN range(4) r(b)
         |), pairs AS (
         |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b,
         |    CAST(bit_count(xor(x.sig, y.sig)) AS INT) AS hamming
         |  FROM banded x JOIN banded y
         |    ON x.b = y.b AND x.bk = y.bk AND x.doc_id < y.doc_id
         |)
         |SELECT doc_a, doc_b, hamming FROM pairs WHERE hamming <= 3
         |ORDER BY doc_a, doc_b""".stripMargin,
    "q_ann_lsh" ->
      s"""WITH pw AS (
         |  SELECT j, d, ${duckPlaneW(42L)} AS w
         |  FROM range(16) a(j) CROSS JOIN range(64) b(d)
         |), pl AS (
         |  SELECT j, list(w ORDER BY d) AS w FROM pw GROUP BY j
         |), bits AS (
         |  SELECT e.vec_id, pl.j,
         |    -- replays HyperplaneHash.signBits' JAVA comparison: a NaN
         |    -- dot reads bit 0 (DuckDB/Spark SQL NaN >= 0 is TRUE under
         |    -- the total order) and a NULL element zeroes the whole
         |    -- signature (the kernel's malformed-input convention;
         |    -- list_sum would silently skip it)
         |    CASE WHEN len(list_filter(e.embedding, v -> v IS NULL)) > 0
         |      THEN 0
         |      WHEN isnan(list_sum(list_transform(range(1, len(e.embedding) + 1),
         |        i -> CAST(e.embedding[i] AS DOUBLE) * pl.w[i]))) THEN 0
         |      WHEN list_sum(list_transform(range(1, len(e.embedding) + 1),
         |        i -> CAST(e.embedding[i] AS DOUBLE) * pl.w[i])) >= 0
         |    THEN 1 ELSE 0 END AS bit
         |  FROM embeddings e CROSS JOIN pl
         |), bkt AS (
         |  SELECT vec_id, CAST(j // 4 AS INT) AS band,
         |    CAST(SUM(bit * (1 << CAST(j % 4 AS INT))) AS INT) AS bucket
         |  FROM bits GROUP BY vec_id, band
         |), cand AS (
         |  SELECT DISTINCT p.vec_id AS probe_id, c.vec_id AS neighbor_id
         |  FROM bkt c JOIN bkt p ON c.band = p.band AND c.bucket = p.bucket
         |  WHERE p.vec_id < 5 AND c.vec_id != p.vec_id
         |), s AS (
         |  SELECT cand.probe_id, cand.neighbor_id,
         |    ${duckCos("e.embedding", "q.embedding")} AS cos_raw
         |  FROM cand
         |  JOIN embeddings e ON e.vec_id = cand.neighbor_id
         |  JOIN embeddings q ON q.vec_id = cand.probe_id
         |), r AS (
         |  SELECT probe_id, neighbor_id, cos_raw,
         |    ROW_NUMBER() OVER (PARTITION BY probe_id
         |      ORDER BY cos_raw DESC, neighbor_id) AS rn
         |  FROM s
         |)
         |SELECT probe_id, neighbor_id, ROUND(cos_raw, 6) AS cos_sim FROM r
         |WHERE rn <= 10 ORDER BY probe_id, cos_sim DESC, neighbor_id""".stripMargin,
    "q_text_tfidf" ->
      // list_filter(w <> '') replays Text.nonEmptyTokens: doubled /
      // leading / trailing spaces must not mint a '' term (it would
      // score and shift every df) — same fix as the four oracles below
      s"""WITH toks AS (
        |  SELECT doc_id, unnest(list_filter(string_split(text, ' '),
        |    w -> w <> '')) AS term FROM documents
        |), tf AS (
        |  SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY doc_id, term
        |), dfreq AS (
        |  SELECT term, COUNT(DISTINCT doc_id) AS df FROM toks GROUP BY term
        |), n AS (
        |  SELECT COUNT(*) AS n_docs FROM documents
        |), scored AS (
        |  SELECT tf.doc_id, tf.term,
        |    ${graft.functions.Num.portableRound6Sql(
            "tf.tf * (SELECT n_docs FROM n)::DOUBLE / dfreq.df")} AS score
        |  FROM tf JOIN dfreq USING (term)
        |), r AS (
        |  SELECT doc_id, term, score,
        |    ROW_NUMBER() OVER (PARTITION BY doc_id
        |      ORDER BY score DESC, term) AS term_rank
        |  FROM scored
        |)
        |SELECT doc_id, term, score, CAST(term_rank AS INT) AS term_rank
        |FROM r WHERE term_rank <= 3 ORDER BY doc_id, term_rank""".stripMargin,
    "q_text_chunks" ->
      """WITH w AS (
        |  SELECT doc_id, string_split(text, ' ') AS w FROM documents
        |), s AS (
        |  SELECT doc_id, w,
        |    unnest(range(1, greatest(len(w) - 20, 1) + 1, 80)) AS st
        |  FROM w
        |)
        |SELECT doc_id, CAST((st - 1) // 80 AS INT) AS chunk_idx,
        | array_to_string(list_slice(w, st, least(st + 99, len(w))), ' ') AS chunk_text,
        | CAST(least(len(w) - st + 1, 100) AS INT) AS n_tokens
        |FROM s ORDER BY doc_id, chunk_idx""".stripMargin,
    "q_text_html" ->
      """WITH paged AS (
        |  SELECT doc_id,
        |    '<html><head><style>p{margin:0}</style></head><body>'
        |    || '<h1>Doc &amp; page</h1>' || chr(10) || '<p class="body">'
        |    || text
        |    || '</p><!-- footer --><script>var t=1;</script></body></html>' AS html
        |  FROM documents
        |)
        |SELECT doc_id,
        |  trim(regexp_replace(
        |    -- comments strip FIRST (the stripHtml order): a
        |    -- commented-out <script> opener must not pair with a
        |    -- later real closer
        |    replace(replace(replace(replace(replace(replace(
        |      regexp_replace(regexp_replace(regexp_replace(
        |        regexp_replace(regexp_replace(html,
        |        '(?s)<!--.*?-->', ' ', 'g'),
        |        '(?is)<script[^>]*>.*?</script>', ' ', 'g'),
        |        '(?is)<style[^>]*>.*?</style>', ' ', 'g'),
        |        '(?is)<head[^>]*>.*?</head>', ' ', 'g'),
        |        '<[^>]+>', ' ', 'g'),
        |      '&nbsp;', ' '), '&lt;', '<'), '&gt;', '>'),
        |      '&quot;', '"'), '&#39;', ''''), '&amp;', '&'),
        |    '[ \t\n\x0b\f\r]+', ' ', 'g')) AS html_text
        |FROM paged ORDER BY doc_id""".stripMargin,
    "q_text_bpetokens" ->
      """WITH p AS (
        |  SELECT doc_id,
        |    'It''s doc #' || CAST(doc_id AS VARCHAR) || ' (rev 2.1) - '
        |      || text || ' ...cost $12.50, OK!' AS pay
        |  FROM documents
        |)
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(pay, '[A-Za-z0-9]+'))
        |    + (length(pay) - length(regexp_replace(pay, '[^A-Za-z0-9]', '', 'g')))
        |    AS INT) AS n_bpeish,
        |  CAST(len(regexp_extract_all(pay,
        |    '''(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9 ]+| +'))
        |    AS INT) AS n_gpt2
        |FROM p ORDER BY doc_id""".stripMargin,
    "q_text_dupspan" ->
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |g0 AS (
        |  SELECT doc_id, unnest(list_transform(range(1, len(w) - 2),
        |    i -> struct_pack(p := i,
        |      g := array_to_string(list_slice(w, i, i + 3), ' ')))) AS u
        |  FROM t
        |),
        |g AS (SELECT doc_id, u.p AS p1, u.g AS gram FROM g0),
        |hot AS (
        |  SELECT gram FROM (SELECT DISTINCT doc_id, gram FROM g)
        |  GROUP BY gram HAVING COUNT(*) >= 2
        |),
        |cov AS (
        |  SELECT doc_id, COUNT(*) AS cov FROM (
        |    SELECT DISTINCT doc_id, p1 + o AS pos
        |    FROM g JOIN hot USING (gram) CROSS JOIN range(0, 4) AS oo(o)
        |  ) GROUP BY doc_id
        |)
        |SELECT t.doc_id, CAST(len(w) AS INT) AS n_tokens,
        |  CAST(COALESCE(cov.cov, 0) AS INT) AS covered_tokens,
        |  COALESCE(${graft.functions.Num.portableRound6Sql(
            "CAST(cov.cov AS DOUBLE) / len(w)")}, 0.0) AS dup_span_frac
        |FROM t LEFT JOIN cov USING (doc_id) ORDER BY doc_id""".stripMargin,
    "q_dedup_spans" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |g0 AS (
        |  SELECT doc_id, unnest(list_transform(range(1, len(w) - 2),
        |    i -> struct_pack(p := i,
        |      g := array_to_string(list_slice(w, i, i + 3), ' ')))) AS u
        |  FROM t
        |),
        |g AS (SELECT doc_id, u.p AS p1, u.g AS gram FROM g0),
        |hot AS (
        |  SELECT gram FROM (SELECT DISTINCT doc_id, gram FROM g)
        |  GROUP BY gram HAVING COUNT(*) >= 2
        |),
        |covpos AS (
        |  SELECT DISTINCT doc_id, p1 + o AS pos
        |  FROM g JOIN hot USING (gram) CROSS JOIN range(0, 4) AS oo(o)
        |),
        |tok0 AS (
        |  SELECT doc_id, unnest(list_transform(range(1, len(w) + 1),
        |    i -> struct_pack(p := i, tk := w[i]))) AS u
        |  FROM t
        |),
        |tok AS (SELECT doc_id, u.p AS pos, u.tk AS tok FROM tok0),
        |kept AS (
        |  SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS clean_text,
        |    COUNT(*) AS n_kept
        |  FROM tok ANTI JOIN covpos USING (doc_id, pos)
        |  GROUP BY doc_id
        |)
        |SELECT t.doc_id, COALESCE(k.clean_text, '') AS clean_text,
        |  CAST(len(w) - COALESCE(k.n_kept, 0) AS INT) AS n_removed
        |FROM t LEFT JOIN kept k USING (doc_id) ORDER BY doc_id""".stripMargin,
    "q_text_pii" ->
      """WITH planted AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 10 = 0
        |      THEN text || ' contact user' || CAST(doc_id AS VARCHAR)
        |        || '@example.com ref 1234567890'
        |      ELSE text END AS text
        |  FROM documents
        |)
        |SELECT doc_id,
        | CAST(len(regexp_extract_all(text,
        |   '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS INT) AS n_emails,
        | CAST(len(regexp_extract_all(text, '[0-9]{9,}')) AS INT) AS n_ids,
        | regexp_replace(regexp_replace(text,
        |   '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |   '[0-9]{9,}', '<ID>', 'g') AS masked_text
        |FROM planted ORDER BY doc_id""".stripMargin,
    "q_text_rep" ->
      s"""WITH w AS (
        |  SELECT doc_id, string_split(text, ' ') AS w FROM documents
        |), g AS (
        |  SELECT doc_id, unnest(list_transform(range(1, len(w)),
        |    i -> w[i] || ' ' || w[i+1])) AS gram
        |  FROM w WHERE len(w) >= 2
        |), c AS (
        |  SELECT doc_id, gram, COUNT(*) AS cnt FROM g GROUP BY doc_id, gram
        |), a AS (
        |  SELECT doc_id, SUM(cnt) AS total, COUNT(*) AS uniq, MAX(cnt) AS mx,
        |    SUM(CASE WHEN cnt > 1 THEN cnt ELSE 0 END) AS dup
        |  FROM c GROUP BY doc_id
        |)
        |SELECT d.doc_id,
        | CAST(COALESCE(a.total, 0) AS INT) AS n_grams,
        | CAST(COALESCE(a.uniq, 0) AS INT) AS n_unique_grams,
        | ${graft.functions.Num.portableRound6Sql(
            "COALESCE(a.mx::DOUBLE / a.total, 0.0)")} AS top_gram_frac,
        | ${graft.functions.Num.portableRound6Sql(
            "COALESCE(a.dup::DOUBLE / a.total, 0.0)")} AS dup_gram_frac
        |FROM documents d LEFT JOIN a USING (doc_id)
        |ORDER BY doc_id""".stripMargin,
    "q_dedup_boilerplate" ->
      s"""WITH planted AS (
         |  SELECT doc_id, CASE WHEN doc_id % 4 = 0
         |    THEN '$Boilerplate' || ' ' || text ELSE text END AS text
         |  FROM documents
         |), w AS (
         |  SELECT doc_id, string_split(text, ' ') AS w FROM planted
         |), st AS (
         |  SELECT doc_id, w, unnest(range(1, greatest(len(w), 1) + 1, 20)) AS st
         |  FROM w
         |), c AS (
         |  SELECT doc_id,
         |    array_to_string(list_slice(w, st, least(st + 19, len(w))), ' ')
         |      AS chunk_text
         |  FROM st
         |), g AS (
         |  SELECT md5(chunk_text) AS chunk_key, COUNT(DISTINCT doc_id) AS n_docs,
         |    COUNT(*) AS n_occurrences
         |  FROM c GROUP BY 1
         |)
         |SELECT chunk_key, n_docs, n_occurrences FROM g
         |WHERE n_docs >= 2 ORDER BY chunk_key""".stripMargin,
    "q_text_diversity" ->
      s"""WITH c AS (
        |  SELECT doc_id, tok, COUNT(*) AS cnt FROM (
        |    SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)
        |  GROUP BY doc_id, tok
        |)
        |SELECT doc_id, n_tokens, n_types,
        | ${graft.functions.Num.portableRound6Sql("raw_simpson")} AS simpson
        |FROM (
        |  SELECT doc_id, CAST(SUM(cnt) AS INT) AS n_tokens,
        |    CAST(COUNT(*) AS INT) AS n_types,
        |    SUM(cnt * cnt)::DOUBLE / (SUM(cnt) * SUM(cnt)) AS raw_simpson
        |  FROM c GROUP BY doc_id)
        |ORDER BY doc_id""".stripMargin,
    "q_text_domains" ->
      """WITH planted AS (
        |  SELECT CASE WHEN doc_id % 3 = 0
        |    THEN text || ' src https://mirror' || CAST(doc_id % 7 AS VARCHAR)
        |      || '.example.org/p/' || CAST(doc_id AS VARCHAR)
        |    ELSE text END AS text
        |  FROM documents
        |), d AS (
        |  SELECT regexp_extract(regexp_extract(text,
        |      'https?://[^ \t\n\r]+', 0),
        |    'https?://([^/:? \t\n\r]+)', 1) AS domain
        |  FROM planted
        |)
        |SELECT domain, COUNT(*) AS n_docs FROM d WHERE domain != ''
        |GROUP BY domain ORDER BY domain""".stripMargin,
    "q_text_rolling" ->
      s"""SELECT doc_id,
         | CAST(list_min(list_transform(
         |   range(1, greatest(length(text) - 15, 1) + 1),
         |   i -> ('0x' || substr(md5(substr(text, i, 16)), 1, 16))::UBIGINT
         |     & 9223372036854775807::UBIGINT)) AS BIGINT) AS roll_fp
         |FROM documents ORDER BY doc_id""".stripMargin,
    "q_dedup_exact" ->
      """SELECT md5(text) AS content_key, MIN(doc_id) AS keep_id,
        | COUNT(*) AS n_copies
        |FROM documents WHERE text IS NOT NULL
        |GROUP BY 1 ORDER BY content_key""".stripMargin,
    // portableRound6Sql on j (integer ratio over unbounded union
    // sizes — the r9 ROUND-tie class), lockstep with
    // Dedup.jaccardFromStats / verifyJaccard.
    "q_dedup_ngram" ->
      (ShingleCte +
        s"""
          |SELECT doc_a, doc_b,
          |  ${graft.functions.Num.portableRound6Sql("j")} AS jaccard
          |FROM pairs
          |WHERE j >= 0.5 ORDER BY doc_a, doc_b""".stripMargin),
    "q_dedup_contain" ->
      s"""WITH tok AS (
        |  SELECT doc_id, string_split(text, ' ') AS w FROM documents
        |), d AS (
        |  SELECT doc_id, list_distinct(list_transform(range(1, len(w) - 1),
        |    i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS sh
        |  FROM tok
        |), pairs AS (
        |  -- shared-shingle guard: replays the inverted index and kills
        |  -- the 0/0 = NaN of an empty shingle set (see ShingleCte)
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |    len(list_intersect(a.sh, b.sh))::DOUBLE / len(a.sh) AS ca,
        |    len(list_intersect(a.sh, b.sh))::DOUBLE / len(b.sh) AS cb
        |  FROM d a JOIN d b ON a.doc_id < b.doc_id
        |  WHERE len(list_intersect(a.sh, b.sh)) > 0
        |)
        |SELECT doc_a, doc_b,
        |  ${graft.functions.Num.portableRound6Sql("ca")} AS contain_a,
        |  ${graft.functions.Num.portableRound6Sql("cb")} AS contain_b
        |FROM pairs WHERE greatest(ca, cb) >= 0.6
        |ORDER BY doc_a, doc_b""".stripMargin,
    "q_vocab_bpe" -> DuckBpeOracle,
    "q_vocab_bpe_batched" -> DuckBpeBatchedOracle,
    "q_vocab_pieces" -> DuckBpePiecesOracle,
    "q_embed_pca" ->
      """WITH t AS (
        |  SELECT vec_id AS id, CAST(j AS INT) AS d,
        |    CAST(embedding[CAST(j AS INT) + 1] AS DOUBLE) AS x
        |  FROM embeddings CROSS JOIN range(64) r(j)
        |), u1 AS (
        |  SELECT id, CAST(SUM(CAST(x * (CASE WHEN d = 0 THEN 1.0 ELSE 0.0 END)
        |    AS DECIMAL(38,12))) AS DOUBLE) AS u
        |  FROM t GROUP BY id
        |), w1 AS (
        |  SELECT t.d, CAST(SUM(CAST(u1.u * t.x AS DECIMAL(38,12))) AS DOUBLE) AS w
        |  FROM t JOIN u1 USING (id) GROUP BY t.d
        |), n1 AS (
        |  SELECT sqrt(list_sum(list(w * w ORDER BY d))) AS nrm FROM w1
        |), v1 AS (
        |  SELECT d, w / (SELECT nrm FROM n1) AS v FROM w1
        |), u2 AS (
        |  SELECT t.id, CAST(SUM(CAST(t.x * v1.v AS DECIMAL(38,12))) AS DOUBLE) AS u
        |  FROM t JOIN v1 USING (d) GROUP BY t.id
        |), w2 AS (
        |  SELECT t.d, CAST(SUM(CAST(u2.u * t.x AS DECIMAL(38,12))) AS DOUBLE) AS w
        |  FROM t JOIN u2 USING (id) GROUP BY t.d
        |), n2 AS (
        |  SELECT sqrt(list_sum(list(w * w ORDER BY d))) AS nrm FROM w2
        |), v2 AS (
        |  SELECT d, w / (SELECT nrm FROM n2) AS v FROM w2
        |), sgn AS (
        |  SELECT CASE WHEN (SELECT v FROM v2 WHERE v <> 0 ORDER BY d LIMIT 1) < 0
        |    THEN -1.0 ELSE 1.0 END AS s
        |)
        |SELECT d, ROUND((SELECT s FROM sgn) * v, 6) AS component
        |FROM v2 ORDER BY d""".stripMargin,
    "q_dedup_semantic" ->
      s"""WITH cb AS (
         |  SELECT vec_id AS cid, embedding AS ce FROM embeddings
         |  WHERE vec_id < 16
         |), asn AS (
         |  SELECT id, cid FROM (
         |    SELECT e.vec_id AS id, cb.cid,
         |      ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
         |        ${duckCos("e.embedding", "cb.ce")} DESC, cb.cid) AS rn
         |    FROM embeddings e CROSS JOIN cb
         |  ) WHERE rn = 1
         |), dropped AS (
         |  SELECT DISTINCT b.id AS id_b
         |  FROM asn a JOIN asn b ON a.cid = b.cid AND a.id < b.id
         |  JOIN embeddings ea ON ea.vec_id = a.id
         |  JOIN embeddings eb ON eb.vec_id = b.id
         |  WHERE ROUND(${duckCos("ea.embedding", "eb.embedding")}, 6) >= 0.45
         |)
         |SELECT asn.id, asn.cid AS centroid_id FROM asn
         |WHERE asn.id NOT IN (SELECT id_b FROM dropped)
         |ORDER BY id""".stripMargin,
    "q_dedup_prefix" ->
      (ShingleCte +
        s"""
          |SELECT doc_a, doc_b,
          |  ${graft.functions.Num.portableRound6Sql("j")} AS jaccard
          |FROM pairs
          |WHERE j >= 0.4 ORDER BY doc_a, doc_b""".stripMargin),
    "q_dedup_minhash" ->
      (ShingleCte +
        s"""
          |SELECT doc_a, doc_b,
          |  ${graft.functions.Num.portableRound6Sql("j")} AS jaccard
          |FROM pairs
          |WHERE j >= 0.8 ORDER BY doc_a, doc_b""".stripMargin),
    "q_dedup_incremental" ->
      (ShingleCte +
        s"""
          |SELECT doc_a, doc_b,
          |  ${graft.functions.Num.portableRound6Sql("j")} AS jaccard
          |FROM pairs
          |WHERE j >= 0.8 AND doc_a < 400 AND doc_b >= 400
          |ORDER BY doc_a, doc_b""".stripMargin),
    "q_dedup_clusters" ->
      (ShingleCte.replaceFirst("WITH ", "WITH RECURSIVE ") +
        """, e AS (
          |  SELECT doc_a AS u, doc_b AS v FROM pairs WHERE j >= 0.8
          |  UNION
          |  SELECT doc_b, doc_a FROM pairs WHERE j >= 0.8
          |), r AS (
          |  SELECT u, v FROM e
          |  UNION
          |  SELECT r.u, e.v FROM r JOIN e ON r.v = e.u
          |)
          |SELECT u AS doc_id, LEAST(u, MIN(v)) AS cluster_id
          |FROM r GROUP BY u ORDER BY doc_id""".stripMargin),
    "q_dedup_canonical" ->
      (ShingleCte.replaceFirst("WITH ", "WITH RECURSIVE ") +
        """, e AS (
          |  SELECT doc_a AS u, doc_b AS v FROM pairs WHERE j >= 0.8
          |  UNION
          |  SELECT doc_b, doc_a FROM pairs WHERE j >= 0.8
          |), r AS (
          |  SELECT u, v FROM e
          |  UNION
          |  SELECT r.u, e.v FROM r JOIN e ON r.v = e.u
          |)
          |SELECT doc_id FROM documents
          |WHERE doc_id NOT IN (
          |  SELECT u FROM r GROUP BY u HAVING MIN(v) < u
          |)
          |ORDER BY doc_id""".stripMargin),
    // norm-empty texts fingerprint the RAW text (the engine's
    // non-Latin fallback — see Text.normalizedFingerprint)
    "q_decontaminate" ->
      (ShingleCte +
        """, leaked AS (
          |  SELECT DISTINCT doc_a FROM pairs
          |  WHERE j >= 0.8 AND doc_a < 400 AND doc_b >= 400
          |), nfp AS (
          |  SELECT doc_id, md5(CASE WHEN n = '' THEN text ELSE n END) AS fp
          |  FROM (SELECT doc_id, text,
          |          trim(regexp_replace(regexp_replace(lower(text),
          |            '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g')) AS n
          |        FROM documents)
          |), efp AS (
          |  SELECT DISTINCT fp FROM nfp WHERE doc_id >= 400
          |)
          |SELECT d.doc_id FROM documents d JOIN nfp ON d.doc_id = nfp.doc_id
          |WHERE d.doc_id < 400
          |  AND d.doc_id NOT IN (SELECT doc_a FROM leaked)
          |  AND nfp.fp NOT IN (SELECT fp FROM efp)
          |ORDER BY d.doc_id""".stripMargin),
    "q_decon_overlap" ->
      """WITH w AS (
        |  SELECT doc_id, string_split(text, ' ') AS w FROM documents
        |), g AS (
        |  SELECT DISTINCT doc_id, gram FROM (
        |    SELECT doc_id, unnest(list_transform(range(1, len(w) - 6),
        |      i -> array_to_string(list_slice(w, i, i + 7), ' '))) AS gram
        |    FROM w WHERE len(w) >= 8
        |  )
        |), stats AS (
        |  SELECT doc_id, COUNT(*) AS total,
        |    SUM(CASE WHEN gram IN (SELECT gram FROM g WHERE doc_id >= 400)
        |      THEN 1 ELSE 0 END) AS hits
        |  FROM g WHERE doc_id < 400 GROUP BY doc_id
        |), bad AS (
        |  SELECT doc_id FROM stats WHERE hits > total * 0.5
        |)
        |SELECT doc_id FROM documents
        |WHERE doc_id < 400 AND doc_id NOT IN (SELECT doc_id FROM bad)
        |ORDER BY doc_id""".stripMargin,
    "q_decon_ngram" ->
      """WITH w AS (
        |  SELECT doc_id, string_split(text, ' ') AS w FROM documents
        |), g AS (
        |  SELECT doc_id, unnest(list_transform(range(1, len(w) - 6),
        |    i -> array_to_string(list_slice(w, i, i + 7), ' '))) AS gram
        |  FROM w WHERE len(w) >= 8
        |), bad AS (
        |  SELECT DISTINCT doc_id FROM g
        |  WHERE doc_id < 400
        |    AND gram IN (SELECT gram FROM g WHERE doc_id >= 400)
        |)
        |SELECT doc_id FROM documents
        |WHERE doc_id < 400 AND doc_id NOT IN (SELECT doc_id FROM bad)
        |ORDER BY doc_id""".stripMargin,
    "q_split_leakfree" ->
      (ShingleCte.replaceFirst("WITH ", "WITH RECURSIVE ") +
        """, e AS (
          |  SELECT doc_a AS u, doc_b AS v FROM pairs WHERE j >= 0.8
          |  UNION
          |  SELECT doc_b, doc_a FROM pairs WHERE j >= 0.8
          |), r AS (
          |  SELECT u, v FROM e
          |  UNION
          |  SELECT r.u, e.v FROM r JOIN e ON r.v = e.u
          |), cl AS (
          |  SELECT u AS doc_id, LEAST(u, MIN(v)) AS cluster_id
          |  FROM r GROUP BY u
          |), k AS (
          |  SELECT d.doc_id, COALESCE(cl.cluster_id, d.doc_id) AS split_key
          |  FROM documents d LEFT JOIN cl USING (doc_id)
          |)
          |SELECT doc_id, split_key,
          |  CASE WHEN (('0x' || substr(md5(CAST(split_key AS VARCHAR)), 1, 16))::UBIGINT
          |    & 9223372036854775807::UBIGINT) % 100 < 90
          |  THEN 'train' ELSE 'holdout' END AS split
          |FROM k ORDER BY doc_id""".stripMargin),
    "q_ann_topk" ->
      """WITH p AS (
        |  SELECT vec_id AS pid, embedding AS pe FROM embeddings WHERE vec_id < 5
        |), s AS (
        |  SELECT p.pid AS probe_id, e.vec_id AS neighbor_id,
        |    list_sum(list_transform(range(1, len(e.embedding) + 1),
        |      i -> CAST(e.embedding[i] AS DOUBLE) * CAST(p.pe[i] AS DOUBLE)))
        |    / (sqrt(list_sum(list_transform(range(1, len(e.embedding) + 1),
        |        i -> CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE))))
        |     * sqrt(list_sum(list_transform(range(1, len(p.pe) + 1),
        |        i -> CAST(p.pe[i] AS DOUBLE) * CAST(p.pe[i] AS DOUBLE))))) AS cos_raw
        |  FROM embeddings e JOIN p ON e.vec_id != p.pid
        |), r AS (
        |  SELECT probe_id, neighbor_id, cos_raw,
        |    ROW_NUMBER() OVER (PARTITION BY probe_id
        |      ORDER BY cos_raw DESC, neighbor_id) AS rn
        |  FROM s
        |)
        |SELECT probe_id, neighbor_id, ROUND(cos_raw, 6) AS cos_sim FROM r
        |WHERE rn <= 10 ORDER BY probe_id, cos_sim DESC, neighbor_id""".stripMargin,
    "q_ann_ivf" ->
      """WITH cb AS (
        |  SELECT vec_id AS cid, embedding AS ce FROM embeddings WHERE vec_id < 16
        |), asn AS (
        |  SELECT id, cid FROM (
        |    SELECT e.vec_id AS id, cb.cid,
        |      ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
        |        list_sum(list_transform(range(1, len(e.embedding) + 1),
        |          i -> CAST(e.embedding[i] AS DOUBLE) * CAST(cb.ce[i] AS DOUBLE)))
        |        / (sqrt(list_sum(list_transform(range(1, len(e.embedding) + 1),
        |            i -> CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE))))
        |         * sqrt(list_sum(list_transform(range(1, len(cb.ce) + 1),
        |            i -> CAST(cb.ce[i] AS DOUBLE) * CAST(cb.ce[i] AS DOUBLE)))))
        |        DESC, cb.cid) AS rn
        |    FROM embeddings e CROSS JOIN cb
        |  ) WHERE rn = 1
        |), pl AS (
        |  SELECT probe_id, cid FROM (
        |    SELECT p.vec_id AS probe_id, cb.cid,
        |      ROW_NUMBER() OVER (PARTITION BY p.vec_id ORDER BY
        |        list_sum(list_transform(range(1, len(p.embedding) + 1),
        |          i -> CAST(p.embedding[i] AS DOUBLE) * CAST(cb.ce[i] AS DOUBLE)))
        |        / (sqrt(list_sum(list_transform(range(1, len(p.embedding) + 1),
        |            i -> CAST(p.embedding[i] AS DOUBLE) * CAST(p.embedding[i] AS DOUBLE))))
        |         * sqrt(list_sum(list_transform(range(1, len(cb.ce) + 1),
        |            i -> CAST(cb.ce[i] AS DOUBLE) * CAST(cb.ce[i] AS DOUBLE)))))
        |        DESC, cb.cid) AS rn
        |    FROM embeddings p CROSS JOIN cb WHERE p.vec_id < 5
        |  ) WHERE rn <= 4
        |), s AS (
        |  SELECT pl.probe_id, e.vec_id AS neighbor_id,
        |    list_sum(list_transform(range(1, len(e.embedding) + 1),
        |      i -> CAST(e.embedding[i] AS DOUBLE) * CAST(p.embedding[i] AS DOUBLE)))
        |    / (sqrt(list_sum(list_transform(range(1, len(e.embedding) + 1),
        |        i -> CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE))))
        |     * sqrt(list_sum(list_transform(range(1, len(p.embedding) + 1),
        |        i -> CAST(p.embedding[i] AS DOUBLE) * CAST(p.embedding[i] AS DOUBLE))))) AS cos_raw
        |  FROM asn JOIN pl ON asn.cid = pl.cid
        |  JOIN embeddings e ON e.vec_id = asn.id
        |  JOIN embeddings p ON p.vec_id = pl.probe_id
        |  WHERE asn.id != pl.probe_id
        |), r AS (
        |  SELECT probe_id, neighbor_id, cos_raw,
        |    ROW_NUMBER() OVER (PARTITION BY probe_id
        |      ORDER BY cos_raw DESC, neighbor_id) AS rn
        |  FROM s
        |)
        |SELECT probe_id, neighbor_id, ROUND(cos_raw, 6) AS cos_sim FROM r
        |WHERE rn <= 10 ORDER BY probe_id, cos_sim DESC, neighbor_id""".stripMargin,
    "q_embed_pairs" ->
      """WITH p AS (
        |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |    ROUND(
        |      list_sum(list_transform(range(1, len(a.embedding) + 1),
        |        i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))
        |      / (sqrt(list_sum(list_transform(range(1, len(a.embedding) + 1),
        |          i -> CAST(a.embedding[i] AS DOUBLE) * CAST(a.embedding[i] AS DOUBLE))))
        |       * sqrt(list_sum(list_transform(range(1, len(b.embedding) + 1),
        |          i -> CAST(b.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))))
        |    , 6) AS cos_sim
        |  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        |)
        |SELECT id_a, id_b, cos_sim FROM p WHERE cos_sim >= 0.45
        |ORDER BY id_a, id_b""".stripMargin,
    "q_pack_batches" ->
      """WITH t AS (
        |  SELECT doc_id, source,
        |    CAST(len(string_split(text, ' ')) AS INT) AS n_tokens
        |  FROM documents WHERE text IS NOT NULL
        |), c AS (
        |  SELECT doc_id, source, n_tokens,
        |    SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
        |      ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM t
        |)
        |SELECT doc_id, source, n_tokens,
        | CAST((cum - n_tokens) // 2000 AS BIGINT) AS batch_id
        |FROM c ORDER BY source, doc_id""".stripMargin,
    "q_pack_concat" ->
      """WITH t AS (
        |  SELECT doc_id, lang, text,
        |    CAST(len(string_split(text, ' ')) AS INT) AS n_tokens
        |  FROM documents WHERE text IS NOT NULL
        |), c AS (
        |  SELECT doc_id, lang, text, n_tokens,
        |    SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
        |      ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM t
        |), p AS (
        |  SELECT doc_id, lang, text, n_tokens,
        |    CAST((cum - n_tokens) // 400 AS BIGINT) AS batch_id
        |  FROM c
        |)
        |SELECT lang, batch_id, COUNT(*) AS n_docs,
        | CAST(SUM(n_tokens) AS BIGINT) AS batch_tokens,
        | string_agg(text, ' <|eos|> ' ORDER BY doc_id) AS seq_text
        |FROM p GROUP BY lang, batch_id
        |ORDER BY lang, batch_id""".stripMargin,
    "q_ann_ivfpq" ->
      (s"WITH $ivfPqCtes," +
        """
          |pn AS (
          |  SELECT vec_id AS probe_id, embedding AS pe,
          |    sqrt(list_sum(list_transform(range(1, 65),
          |      i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)))) AS nq
          |  FROM embeddings WHERE vec_id < 5
          |), plist AS (
          |  SELECT probe_id, list_id, cdot FROM (
          |    SELECT p.probe_id, n.cid AS list_id,
          |      ROUND(list_sum(list_transform(range(1, 65),
          |        i -> CAST(p.pe[i] AS DOUBLE) * n.ce[i])), 6) AS cdot,
          |      ROW_NUMBER() OVER (PARTITION BY p.probe_id ORDER BY
          |        list_sum(list_transform(range(1, 65),
          |          i -> CAST(p.pe[i] AS DOUBLE) * n.ce[i])) / (p.nq * n.nrm)
          |        DESC, n.cid) AS rk
          |    FROM pn p CROSS JOIN ccn n
          |  ) WHERE rk <= 2
          |),""".stripMargin +
        (0 until 4).map { s =>
          val off = s * 16
          s"""
             |lutR$s AS (
             |  SELECT p.probe_id, c.cid AS code,
             |    ROUND(list_sum(list_transform(range(1, 17),
             |      i -> CAST(p.pe[$off + i] AS DOUBLE) * c.ce[i])), 6) AS pdot
             |  FROM pn p CROSS JOIN cblR$s c
             |)""".stripMargin
        }.mkString(",") + "," +
        """
          |cand AS (
          |  SELECT pl.probe_id, r.id, pl.cdot
          |  FROM plist pl JOIN resv r ON r.list_id = pl.list_id
          |), contrib AS (""".stripMargin +
        (0 until 4).map { s =>
          s"""
             |  SELECT c.probe_id, c.id, l.pdot
             |  FROM cand c JOIN encR$s e ON e.id = c.id
             |    JOIN lutR$s l ON l.probe_id = c.probe_id AND l.code = e.code""".stripMargin
        }.mkString("\n  UNION ALL") +
        """
          |), sc AS (
          |  SELECT probe_id, id, SUM(CAST(pdot AS DECIMAL(38,12))) AS pqsum
          |  FROM contrib GROUP BY probe_id, id
          |), tot AS (
          |  SELECT s.probe_id, s.id,
          |    CAST(s.pqsum + CAST(c.cdot AS DECIMAL(38,12)) AS DOUBLE) AS pq_dot
          |  FROM sc s JOIN cand c ON c.probe_id = s.probe_id AND c.id = s.id
          |), scored AS (
          |  SELECT t.probe_id, t.id, ROUND(t.pq_dot / (pn.nq * xn.nx), 6) AS pq_score
          |  FROM tot t JOIN pn ON pn.probe_id = t.probe_id JOIN xn ON xn.id = t.id
          |), r AS (
          |  SELECT probe_id, id, pq_score,
          |    ROW_NUMBER() OVER (PARTITION BY probe_id
          |      ORDER BY pq_score DESC, id) AS rn
          |  FROM scored
          |)
          |SELECT probe_id, id AS neighbor_id, pq_score FROM r WHERE rn <= 3
          |ORDER BY probe_id, pq_score DESC, neighbor_id""".stripMargin),
    "q_pq_codes" ->
      (s"WITH $pqCtes" +
        """
          |SELECT vec_id, subspace, code FROM (
          |  SELECT id AS vec_id, 0 AS subspace, code FROM enc0
          |  UNION ALL SELECT id, 1, code FROM enc1
          |  UNION ALL SELECT id, 2, code FROM enc2
          |  UNION ALL SELECT id, 3, code FROM enc3
          |)
          |ORDER BY vec_id, subspace""".stripMargin),
    "q_ann_pq" ->
      (s"WITH $pqCtes," +
        """
          |pn AS (
          |  SELECT vec_id AS probe_id, embedding AS pe,
          |    sqrt(list_sum(list_transform(range(1, 65),
          |      i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)))) AS nq
          |  FROM embeddings WHERE vec_id < 5
          |), xn AS (
          |  SELECT vec_id AS id,
          |    sqrt(list_sum(list_transform(range(1, 65),
          |      i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)))) AS nx
          |  FROM embeddings
          |),""".stripMargin +
        (0 until 4).map { s =>
          val off = s * 16
          s"""
             |lut$s AS (
             |  SELECT p.probe_id, c.cid AS code,
             |    ROUND(list_sum(list_transform(range(1, 17),
             |      i -> CAST(p.pe[$off + i] AS DOUBLE) * c.ce[i])), 6) AS pdot
             |  FROM pn p CROSS JOIN cbl$s c
             |)""".stripMargin
        }.mkString(",") + "," +
        """
          |contrib AS (""".stripMargin +
        (0 until 4).map { s =>
          s"""
             |  SELECT l.probe_id, e.id, l.pdot
             |  FROM enc$s e JOIN lut$s l ON e.code = l.code""".stripMargin
        }.mkString("\n  UNION ALL") +
        """
          |), sc AS (
          |  SELECT probe_id, id,
          |    CAST(SUM(CAST(pdot AS DECIMAL(38,12))) AS DOUBLE) AS pq_dot
          |  FROM contrib GROUP BY probe_id, id
          |), scored AS (
          |  SELECT sc.probe_id, sc.id,
          |    ROUND(sc.pq_dot / (pn.nq * xn.nx), 6) AS pq_score
          |  FROM sc JOIN pn USING (probe_id) JOIN xn ON xn.id = sc.id
          |), r AS (
          |  SELECT probe_id, id, pq_score,
          |    ROW_NUMBER() OVER (PARTITION BY probe_id
          |      ORDER BY pq_score DESC, id) AS rn
          |  FROM scored
          |)
          |SELECT probe_id, id AS neighbor_id, pq_score FROM r WHERE rn <= 3
          |ORDER BY probe_id, pq_score DESC, neighbor_id""".stripMargin),
    "q_ivf_train" ->
      s"""WITH seed AS (
        |  SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cid, embedding AS ce
        |  FROM (SELECT * FROM embeddings ORDER BY vec_id LIMIT 4)
        |), n1 AS (
        |  SELECT cid, list_transform(ce, x -> CAST(x AS DOUBLE)) AS ce
        |  FROM seed
        |), n1n AS (
        |  SELECT cid, ce, sqrt(list_sum(list_transform(ce, x -> x * x))) AS nrm
        |  FROM n1
        |), a1 AS (
        |  SELECT id, emb, cid FROM (
        |    SELECT e.vec_id AS id, e.embedding AS emb, n.cid,
        |      ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
        |        list_sum(list_transform(range(1, 65),
        |          i -> CAST(e.embedding[i] AS DOUBLE) * n.ce[i]))
        |        / (sqrt(list_sum(list_transform(range(1, 65),
        |            i -> CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE))))
        |         * n.nrm) DESC, n.cid) AS rn
        |    FROM embeddings e CROSS JOIN n1n n
        |  ) WHERE rn = 1
        |), m1 AS (
        |  SELECT cid, pos, CAST(${duckRound6("m")} AS REAL) AS comp FROM (
        |    SELECT cid, j AS pos,
        |      CAST(SUM(CAST(${duckRound6("CAST(emb[CAST(j AS INT) + 1] AS DOUBLE)")}
        |        AS DECIMAL(38,12))) AS DOUBLE) / COUNT(*) AS m
        |    FROM a1 CROSS JOIN range(64) r(j) GROUP BY cid, j)
        |), c1 AS (
        |  SELECT s.cid, r.j AS pos,
        |    COALESCE(m1.comp, CAST(s.ce[CAST(r.j AS INT) + 1] AS REAL)) AS comp
        |  FROM seed s CROSS JOIN range(64) r(j)
        |  LEFT JOIN m1 ON m1.cid = s.cid AND m1.pos = r.j
        |), c1l AS (
        |  SELECT cid, list(CAST(comp AS DOUBLE) ORDER BY pos) AS ce
        |  FROM c1 GROUP BY cid
        |), n2n AS (
        |  SELECT cid, ce, sqrt(list_sum(list_transform(ce, x -> x * x))) AS nrm
        |  FROM c1l
        |), a2 AS (
        |  SELECT id, emb, cid FROM (
        |    SELECT e.vec_id AS id, e.embedding AS emb, n.cid,
        |      ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
        |        list_sum(list_transform(range(1, 65),
        |          i -> CAST(e.embedding[i] AS DOUBLE) * n.ce[i]))
        |        / (sqrt(list_sum(list_transform(range(1, 65),
        |            i -> CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE))))
        |         * n.nrm) DESC, n.cid) AS rn
        |    FROM embeddings e CROSS JOIN n2n n
        |  ) WHERE rn = 1
        |), m2 AS (
        |  SELECT cid, pos, CAST(${duckRound6("m")} AS REAL) AS comp FROM (
        |    SELECT cid, j AS pos,
        |      CAST(SUM(CAST(${duckRound6("CAST(emb[CAST(j AS INT) + 1] AS DOUBLE)")}
        |        AS DECIMAL(38,12))) AS DOUBLE) / COUNT(*) AS m
        |    FROM a2 CROSS JOIN range(64) r(j) GROUP BY cid, j)
        |)
        |SELECT c1.cid AS centroid_id, CAST(c1.pos AS INT) AS pos,
        |  COALESCE(m2.comp, c1.comp) AS component
        |FROM c1 LEFT JOIN m2 ON m2.cid = c1.cid AND m2.pos = c1.pos
        |ORDER BY centroid_id, pos""".stripMargin,
    // divisor COUNT(element), not COUNT(*): lockstep with meanVectors'
    // NULL-element rule (NULLs are absent values, never zeros); the
    // testdata's vectors are dense, so values are unchanged
    "q_embed_centroid" ->
      s"""SELECT label, n_vecs, pos, CAST(${duckRound6("m")} AS REAL) AS comp
        |FROM (
        |  SELECT label, COUNT(*) AS n_vecs, CAST(j AS INT) AS pos,
        |    CAST(SUM(CAST(${duckRound6(
             "CAST(embedding[CAST(j AS INT) + 1] AS DOUBLE)")}
        |      AS DECIMAL(38,12))) AS DOUBLE)
        |      / COUNT(embedding[CAST(j AS INT) + 1]) AS m
        |  FROM embeddings CROSS JOIN range(64) r(j)
        |  GROUP BY label, j
        |)
        |-- NULLS FIRST: Spark ascending orderBy is nulls-first, DuckDB
        |-- defaults to nulls-last — a NULL-label group would sort to
        |-- opposite ends under the row-order-sensitive hash compare
        |ORDER BY label NULLS FIRST, pos""".stripMargin,
    // lockstep with r9's VectorAgg rules (dense testdata, values
    // unchanged): centroid divisor COUNT(element); the -2.0 degenerate
    // sentinel excluded from both means; own divisor COUNT(own_cos)
    "q_embed_separation" ->
      s"""WITH cm AS (
         |  SELECT clab, pos, CAST(${duckRound6("m")} AS REAL) AS comp FROM (
         |    SELECT label AS clab, CAST(j AS INT) AS pos,
         |      CAST(SUM(CAST(${duckRound6(
              "CAST(embedding[CAST(j AS INT) + 1] AS DOUBLE)")}
         |        AS DECIMAL(38,12))) AS DOUBLE)
         |        / COUNT(embedding[CAST(j AS INT) + 1]) AS m
         |    FROM embeddings CROSS JOIN range(64) r(j)
         |    GROUP BY label, j)
         |), cent AS (
         |  SELECT clab, list(comp ORDER BY pos) AS cvec FROM cm GROUP BY clab
         |), sc AS (
         |  SELECT e.vec_id, e.label, c.clab,
         |    ROUND(${duckCos("e.embedding", "c.cvec")}, 6) AS cs
         |  FROM embeddings e CROSS JOIN cent c
         |), pv AS (
         |  -- null-safe label compares (IS [NOT] DISTINCT FROM) replay
         |  -- clusterSeparation's <=>: a NULL-label group gets a real
         |  -- own_cos and its centroid counts as every real label's
         |  -- rival — plain =/!= silently dropped both
         |  SELECT vec_id, label,
         |    MAX(CASE WHEN clab IS NOT DISTINCT FROM label AND cs <> -2.0
         |        THEN cs END) AS own_cos,
         |    MAX(CASE WHEN clab IS DISTINCT FROM label AND cs <> -2.0
         |        THEN cs END) AS oth_cos
         |  FROM sc GROUP BY vec_id, label
         |), agg0 AS (
         |  SELECT label, COUNT(*) AS n_vecs,
         |    CAST(SUM(CAST(own_cos AS DECIMAL(38,6))) AS DOUBLE)
         |      / COUNT(own_cos) AS mo,
         |    CAST(SUM(CAST(oth_cos AS DECIMAL(38,6))) AS DOUBLE)
         |      / COUNT(oth_cos) AS mt
         |  FROM pv GROUP BY label
         |), agg AS (
         |  SELECT label, n_vecs, ${duckRound6("mo")} AS mean_own_cos,
         |    ${duckRound6("mt")} AS mean_other_cos
         |  FROM agg0
         |)
         |SELECT label, n_vecs, mean_own_cos, mean_other_cos,
         |  ROUND(mean_own_cos - mean_other_cos, 6) AS separation
         |FROM agg ORDER BY label NULLS FIRST""".stripMargin,
    "q_diag_lshload" ->
      (s"""WITH pw AS (
         |  SELECT j, d, ${duckPlaneW(42L)} AS w
         |  FROM range(16) a(j) CROSS JOIN range(64) b(d)
         |), pl AS (
         |  SELECT j, list(w ORDER BY d) AS w FROM pw GROUP BY j
         |), bits AS (
         |  SELECT e.vec_id, pl.j,
         |    -- replays HyperplaneHash.signBits' JAVA comparison: a NaN
         |    -- dot reads bit 0 (DuckDB/Spark SQL NaN >= 0 is TRUE under
         |    -- the total order) and a NULL element zeroes the whole
         |    -- signature (the kernel's malformed-input convention;
         |    -- list_sum would silently skip it)
         |    CASE WHEN len(list_filter(e.embedding, v -> v IS NULL)) > 0
         |      THEN 0
         |      WHEN isnan(list_sum(list_transform(range(1, len(e.embedding) + 1),
         |        i -> CAST(e.embedding[i] AS DOUBLE) * pl.w[i]))) THEN 0
         |      WHEN list_sum(list_transform(range(1, len(e.embedding) + 1),
         |        i -> CAST(e.embedding[i] AS DOUBLE) * pl.w[i])) >= 0
         |    THEN 1 ELSE 0 END AS bit
         |  FROM embeddings e CROSS JOIN pl
         |), bkt AS (
         |  SELECT vec_id, CAST(j // 2 AS INT) AS band,
         |    CAST(SUM(bit * (1 << CAST(j % 2 AS INT))) AS INT) AS bucket
         |  FROM bits GROUP BY vec_id, band
         |), c AS (
         |  SELECT band, bucket, COUNT(*) AS c FROM bkt GROUP BY band, bucket
         |)
         |SELECT band, COUNT(*) AS n_buckets,
         |  CAST(MAX(c) AS BIGINT) AS max_bucket,
         |  CAST(SUM(c * c) AS BIGINT) AS self_join_pairs
         |FROM c GROUP BY band ORDER BY band""".stripMargin),
    "q_eval_calibration" ->
      s"""WITH s AS (
        |  SELECT CAST(embedding[2] AS DOUBLE) AS score, (label % 2) AS y
        |  FROM embeddings
        |  WHERE embedding[2] IS NOT NULL AND label IS NOT NULL
        |), q AS (
        |  SELECT quantile_cont(score,
        |    [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS cuts
        |  FROM s
        |), b AS (
        |  SELECT CAST(len(list_filter(q.cuts, c -> s.score > c)) AS BIGINT)
        |    AS bin, s.score, s.y
        |  FROM s CROSS JOIN q
        |)
        |SELECT bin, n, ${duckRound6("ms")} AS mean_score,
        |  ${duckRound6("pr")} AS pos_rate
        |FROM (
        |  SELECT bin, COUNT(*) AS n,
        |    CAST(SUM(CAST(${duckRound6("score")} AS DECIMAL(38,6))) AS DOUBLE)
        |      / COUNT(*) AS ms,
        |    SUM(y)::DOUBLE / COUNT(*) AS pr
        |  FROM b GROUP BY bin
        |) ORDER BY bin""".stripMargin,
    "q_eval_mrr" ->
      s"""WITH p AS (
        |  SELECT vec_id AS pid, embedding AS pe FROM embeddings WHERE vec_id < 5
        |), s AS (
        |  SELECT p.pid AS probe_id, e.vec_id AS neighbor_id,
        |    list_sum(list_transform(range(1, len(e.embedding) + 1),
        |      i -> CAST(e.embedding[i] AS DOUBLE) * CAST(p.pe[i] AS DOUBLE)))
        |    / (sqrt(list_sum(list_transform(range(1, len(e.embedding) + 1),
        |        i -> CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE))))
        |     * sqrt(list_sum(list_transform(range(1, len(p.pe) + 1),
        |        i -> CAST(p.pe[i] AS DOUBLE) * CAST(p.pe[i] AS DOUBLE))))) AS cos_raw
        |  FROM embeddings e JOIN p ON e.vec_id != p.pid
        |), r AS (
        |  SELECT probe_id, neighbor_id, cos_raw,
        |    ROW_NUMBER() OVER (PARTITION BY probe_id
        |      ORDER BY cos_raw DESC, neighbor_id) AS rn
        |  FROM s
        |), topk AS (
        |  SELECT probe_id, neighbor_id, cos_raw FROM r WHERE rn <= 10
        |), rk AS (
        |  SELECT probe_id, neighbor_id,
        |    ROW_NUMBER() OVER (PARTITION BY probe_id
        |      ORDER BY ROUND(cos_raw, 6) DESC, neighbor_id) AS rank
        |  FROM topk
        |), lab AS (SELECT vec_id, label FROM embeddings),
        |rel AS (
        |  SELECT t.probe_id, MIN(t.rank) AS frk
        |  FROM rk t JOIN lab nl ON nl.vec_id = t.neighbor_id
        |    JOIN lab pl ON pl.vec_id = t.probe_id
        |  WHERE nl.label = pl.label GROUP BY t.probe_id
        |), pp AS (SELECT DISTINCT probe_id FROM rk)
        |SELECT ${graft.functions.Num.portableRound6Sql("raw_mrr")} AS mrr,
        |  n_probes, n_hit FROM (
        |  SELECT
        |    CAST(SUM(COALESCE(CAST(1.0 / frk AS DECIMAL(38,12)),
        |      CAST(0 AS DECIMAL(38,12)))) AS DOUBLE) / COUNT(*) AS raw_mrr,
        |    COUNT(*) AS n_probes, CAST(COUNT(frk) AS BIGINT) AS n_hit
        |  FROM pp LEFT JOIN rel USING (probe_id))""".stripMargin,
    "q_eval_sliced" ->
      s"""WITH s AS (
        |  SELECT (vec_id % 3) AS seg, CAST(embedding[2] AS DOUBLE) AS sc,
        |    (label % 2) AS y
        |  FROM embeddings
        |  WHERE embedding[2] IS NOT NULL AND label IS NOT NULL
        |), g AS (
        |  SELECT seg, sc, COUNT(*) AS n, SUM(y) AS np FROM s GROUP BY seg, sc
        |), r AS (
        |  SELECT seg, n, np,
        |    COALESCE(SUM(n) OVER (PARTITION BY seg ORDER BY sc
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::DOUBLE
        |      + (n + 1)::DOUBLE / 2.0 AS avg_rank
        |  FROM g
        |)
        |SELECT segment, ${graft.functions.Num.portableRound6Sql(
            "raw_auc")} AS auc, n_pos, n_neg FROM (
        |  SELECT seg AS segment,
        |    (CAST(SUM(CAST(np::DOUBLE * avg_rank AS DECIMAL(38,1))) AS DOUBLE)
        |      - SUM(np)::DOUBLE * (SUM(np) + 1)::DOUBLE / 2.0)
        |      / NULLIF(SUM(np)::DOUBLE * SUM(n - np)::DOUBLE, 0) AS raw_auc,
        |    CAST(SUM(np) AS BIGINT) AS n_pos,
        |    CAST(SUM(n - np) AS BIGINT) AS n_neg
        |  FROM r GROUP BY seg)
        |ORDER BY segment""".stripMargin,
    "q_eval_ece" ->
      s"""WITH s AS (
        |  SELECT CAST(embedding[2] AS DOUBLE) AS score, (label % 2) AS y
        |  FROM embeddings
        |  WHERE embedding[2] IS NOT NULL AND label IS NOT NULL
        |), q AS (
        |  SELECT quantile_cont(score,
        |    [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS cuts
        |  FROM s
        |), b AS (
        |  SELECT CAST(len(list_filter(q.cuts, c -> s.score > c)) AS BIGINT)
        |    AS bin, s.score, s.y
        |  FROM s CROSS JOIN q
        |), pb0 AS (
        |  SELECT bin, COUNT(*) AS n,
        |    CAST(SUM(CAST(${duckRound6("score")} AS DECIMAL(38,6)))
        |      AS DOUBLE) / COUNT(*) AS ms,
        |    SUM(y)::DOUBLE / COUNT(*) AS pr
        |  FROM b GROUP BY bin
        |), pb AS (
        |  SELECT bin, n,
        |    CAST(${duckRound6("ms")} AS DECIMAL(18,6)) AS mean6,
        |    CAST(${duckRound6("pr")} AS DECIMAL(18,6)) AS pos6
        |  FROM pb0
        |)
        |SELECT ${duckRound6("e")} AS ece, n_rows, n_bins FROM (
        |  SELECT
        |    CAST(SUM(ABS(pos6 - mean6) * n) AS DOUBLE)
        |      / CAST(SUM(n) AS DOUBLE) AS e,
        |    CAST(SUM(n) AS BIGINT) AS n_rows,
        |    CAST(COUNT(*) AS BIGINT) AS n_bins
        |  FROM pb
        |)""".stripMargin,
    "q_eval_annrecall" ->
      s"""WITH pw AS (
         |  SELECT j, d, ${duckPlaneW(42L)} AS w
         |  FROM range(16) a(j) CROSS JOIN range(64) b(d)
         |), pl AS (
         |  SELECT j, list(w ORDER BY d) AS w FROM pw GROUP BY j
         |), bits AS (
         |  SELECT e.vec_id, pl.j,
         |    -- replays HyperplaneHash.signBits' JAVA comparison: a NaN
         |    -- dot reads bit 0 (DuckDB/Spark SQL NaN >= 0 is TRUE under
         |    -- the total order) and a NULL element zeroes the whole
         |    -- signature (the kernel's malformed-input convention;
         |    -- list_sum would silently skip it)
         |    CASE WHEN len(list_filter(e.embedding, v -> v IS NULL)) > 0
         |      THEN 0
         |      WHEN isnan(list_sum(list_transform(range(1, len(e.embedding) + 1),
         |        i -> CAST(e.embedding[i] AS DOUBLE) * pl.w[i]))) THEN 0
         |      WHEN list_sum(list_transform(range(1, len(e.embedding) + 1),
         |        i -> CAST(e.embedding[i] AS DOUBLE) * pl.w[i])) >= 0
         |    THEN 1 ELSE 0 END AS bit
         |  FROM embeddings e CROSS JOIN pl
         |), bkt AS (
         |  SELECT vec_id, CAST(j // 4 AS INT) AS band,
         |    CAST(SUM(bit * (1 << CAST(j % 4 AS INT))) AS INT) AS bucket
         |  FROM bits GROUP BY vec_id, band
         |), cand AS (
         |  SELECT DISTINCT p.vec_id AS probe_id, c.vec_id AS neighbor_id
         |  FROM bkt c JOIN bkt p ON c.band = p.band AND c.bucket = p.bucket
         |  WHERE p.vec_id < 5 AND c.vec_id != p.vec_id
         |), sc AS (
         |  SELECT cand.probe_id, cand.neighbor_id,
         |    ${duckCos("e.embedding", "q.embedding")} AS cos_raw
         |  FROM cand
         |  JOIN embeddings e ON e.vec_id = cand.neighbor_id
         |  JOIN embeddings q ON q.vec_id = cand.probe_id
         |), lr AS (
         |  SELECT probe_id, neighbor_id,
         |    ROW_NUMBER() OVER (PARTITION BY probe_id
         |      ORDER BY cos_raw DESC, neighbor_id) AS rn
         |  FROM sc
         |), lshk AS (
         |  SELECT probe_id, neighbor_id FROM lr WHERE rn <= 10
         |), allp AS (
         |  SELECT p.vec_id AS probe_id, e.vec_id AS neighbor_id,
         |    ${duckCos("e.embedding", "p.embedding")} AS cos_raw
         |  FROM embeddings e
         |  CROSS JOIN (SELECT vec_id, embedding FROM embeddings
         |    WHERE vec_id < 5) p
         |  WHERE e.vec_id != p.vec_id
         |), er AS (
         |  SELECT probe_id, neighbor_id,
         |    ROW_NUMBER() OVER (PARTITION BY probe_id
         |      ORDER BY cos_raw DESC, neighbor_id) AS rn
         |  FROM allp
         |), ex AS (
         |  SELECT probe_id, neighbor_id FROM er WHERE rn <= 10
         |)
         |SELECT ex.probe_id,
         |  CAST(COUNT(l.neighbor_id) AS BIGINT) AS n_hit,
         |  CAST(COUNT(*) AS BIGINT) AS n_exact,
         |  ROUND(COUNT(l.neighbor_id)::DOUBLE / COUNT(*), 6) AS recall_at_10
         |FROM ex LEFT JOIN lshk l
         |  ON l.probe_id = ex.probe_id AND l.neighbor_id = ex.neighbor_id
         |GROUP BY ex.probe_id ORDER BY ex.probe_id""".stripMargin,
    "q_eval_rbo" ->
      s"""WITH pw AS (
         |  SELECT j, d, ${duckPlaneW(42L)} AS w
         |  FROM range(16) a(j) CROSS JOIN range(64) b(d)
         |), pl AS (
         |  SELECT j, list(w ORDER BY d) AS w FROM pw GROUP BY j
         |), bits AS (
         |  SELECT e.vec_id, pl.j,
         |    -- replays HyperplaneHash.signBits' JAVA comparison: a NaN
         |    -- dot reads bit 0 (DuckDB/Spark SQL NaN >= 0 is TRUE under
         |    -- the total order) and a NULL element zeroes the whole
         |    -- signature (the kernel's malformed-input convention;
         |    -- list_sum would silently skip it)
         |    CASE WHEN len(list_filter(e.embedding, v -> v IS NULL)) > 0
         |      THEN 0
         |      WHEN isnan(list_sum(list_transform(range(1, len(e.embedding) + 1),
         |        i -> CAST(e.embedding[i] AS DOUBLE) * pl.w[i]))) THEN 0
         |      WHEN list_sum(list_transform(range(1, len(e.embedding) + 1),
         |        i -> CAST(e.embedding[i] AS DOUBLE) * pl.w[i])) >= 0
         |    THEN 1 ELSE 0 END AS bit
         |  FROM embeddings e CROSS JOIN pl
         |), bkt AS (
         |  SELECT vec_id, CAST(j // 4 AS INT) AS band,
         |    CAST(SUM(bit * (1 << CAST(j % 4 AS INT))) AS INT) AS bucket
         |  FROM bits GROUP BY vec_id, band
         |), cand AS (
         |  SELECT DISTINCT p.vec_id AS probe_id, c.vec_id AS neighbor_id
         |  FROM bkt c JOIN bkt p ON c.band = p.band AND c.bucket = p.bucket
         |  WHERE p.vec_id < 5 AND c.vec_id != p.vec_id
         |), sc AS (
         |  SELECT cand.probe_id, cand.neighbor_id,
         |    ${duckCos("e.embedding", "q.embedding")} AS cos_raw
         |  FROM cand
         |  JOIN embeddings e ON e.vec_id = cand.neighbor_id
         |  JOIN embeddings q ON q.vec_id = cand.probe_id
         |), lsel AS (
         |  SELECT probe_id, neighbor_id, cos_raw,
         |    ROW_NUMBER() OVER (PARTITION BY probe_id
         |      ORDER BY cos_raw DESC, neighbor_id) AS rn
         |  FROM sc QUALIFY rn <= 10
         |), lshk AS (
         |  SELECT probe_id, neighbor_id,
         |    CAST(ROW_NUMBER() OVER (PARTITION BY probe_id
         |      ORDER BY ROUND(cos_raw, 6) DESC, neighbor_id) AS INT) AS rb
         |  FROM lsel
         |), allp AS (
         |  SELECT p.vec_id AS probe_id, e.vec_id AS neighbor_id,
         |    ${duckCos("e.embedding", "p.embedding")} AS cos_raw
         |  FROM embeddings e
         |  CROSS JOIN (SELECT vec_id, embedding FROM embeddings
         |    WHERE vec_id < 5) p
         |  WHERE e.vec_id != p.vec_id
         |), esel AS (
         |  SELECT probe_id, neighbor_id, cos_raw,
         |    ROW_NUMBER() OVER (PARTITION BY probe_id
         |      ORDER BY cos_raw DESC, neighbor_id) AS rn
         |  FROM allp QUALIFY rn <= 10
         |), ex AS (
         |  SELECT probe_id, neighbor_id,
         |    CAST(ROW_NUMBER() OVER (PARTITION BY probe_id
         |      ORDER BY ROUND(cos_raw, 6) DESC, neighbor_id) AS INT) AS ra
         |  FROM esel
         |), terms AS (
         |  SELECT ex.probe_id,
         |    CAST(([${RboSuffix.mkString(", ")}])
         |      [greatest(ex.ra, l.rb)] AS DECIMAL(38,18)) AS t
         |  FROM ex JOIN lshk l
         |    ON l.probe_id = ex.probe_id AND l.neighbor_id = ex.neighbor_id
         |)
         |SELECT p.vec_id AS probe_id,
         |  ROUND(COALESCE(CAST(s.s AS DOUBLE), 0.0), 6) AS rbo10,
         |  COALESCE(s.n_common, 0) AS n_common
         |FROM (SELECT vec_id FROM embeddings WHERE vec_id < 5) p
         |LEFT JOIN (
         |  SELECT probe_id, SUM(t) AS s, CAST(COUNT(*) AS BIGINT) AS n_common
         |  FROM terms GROUP BY probe_id) s ON s.probe_id = p.vec_id
         |ORDER BY probe_id""".stripMargin,
    "q_eval_ndcg" ->
      s"""WITH pw AS (
         |  SELECT j, d, ${duckPlaneW(42L)} AS w
         |  FROM range(16) a(j) CROSS JOIN range(64) b(d)
         |), pl AS (
         |  SELECT j, list(w ORDER BY d) AS w FROM pw GROUP BY j
         |), bits AS (
         |  SELECT e.vec_id, pl.j,
         |    -- replays HyperplaneHash.signBits' JAVA comparison: a NaN
         |    -- dot reads bit 0 (DuckDB/Spark SQL NaN >= 0 is TRUE under
         |    -- the total order) and a NULL element zeroes the whole
         |    -- signature (the kernel's malformed-input convention;
         |    -- list_sum would silently skip it)
         |    CASE WHEN len(list_filter(e.embedding, v -> v IS NULL)) > 0
         |      THEN 0
         |      WHEN isnan(list_sum(list_transform(range(1, len(e.embedding) + 1),
         |        i -> CAST(e.embedding[i] AS DOUBLE) * pl.w[i]))) THEN 0
         |      WHEN list_sum(list_transform(range(1, len(e.embedding) + 1),
         |        i -> CAST(e.embedding[i] AS DOUBLE) * pl.w[i])) >= 0
         |    THEN 1 ELSE 0 END AS bit
         |  FROM embeddings e CROSS JOIN pl
         |), bkt AS (
         |  SELECT vec_id, CAST(j // 4 AS INT) AS band,
         |    CAST(SUM(bit * (1 << CAST(j % 4 AS INT))) AS INT) AS bucket
         |  FROM bits GROUP BY vec_id, band
         |), cand AS (
         |  SELECT DISTINCT p.vec_id AS probe_id, c.vec_id AS neighbor_id
         |  FROM bkt c JOIN bkt p ON c.band = p.band AND c.bucket = p.bucket
         |  WHERE p.vec_id < 5 AND c.vec_id != p.vec_id
         |), sc AS (
         |  SELECT cand.probe_id, cand.neighbor_id,
         |    ${duckCos("e.embedding", "q.embedding")} AS cos_raw
         |  FROM cand
         |  JOIN embeddings e ON e.vec_id = cand.neighbor_id
         |  JOIN embeddings q ON q.vec_id = cand.probe_id
         |), lsel AS (
         |  SELECT probe_id, neighbor_id, cos_raw,
         |    ROW_NUMBER() OVER (PARTITION BY probe_id
         |      ORDER BY cos_raw DESC, neighbor_id) AS rn
         |  FROM sc QUALIFY rn <= 10
         |), lshk AS (
         |  SELECT probe_id, neighbor_id,
         |    CAST(ROW_NUMBER() OVER (PARTITION BY probe_id
         |      ORDER BY ROUND(cos_raw, 6) DESC, neighbor_id) AS INT) AS rb
         |  FROM lsel
         |), allp AS (
         |  SELECT p.vec_id AS probe_id, e.vec_id AS neighbor_id,
         |    ${duckCos("e.embedding", "p.embedding")} AS cos_raw
         |  FROM embeddings e
         |  CROSS JOIN (SELECT vec_id, embedding FROM embeddings
         |    WHERE vec_id < 5) p
         |  WHERE e.vec_id != p.vec_id
         |), esel AS (
         |  SELECT probe_id, neighbor_id, cos_raw,
         |    ROW_NUMBER() OVER (PARTITION BY probe_id
         |      ORDER BY cos_raw DESC, neighbor_id) AS rn
         |  FROM allp QUALIFY rn <= 10
         |), ex AS (
         |  SELECT probe_id, neighbor_id,
         |    CAST(ROW_NUMBER() OVER (PARTITION BY probe_id
         |      ORDER BY ROUND(cos_raw, 6) DESC, neighbor_id) AS INT) AS ra
         |  FROM esel
         |), terms AS (
         |  SELECT ex.probe_id,
         |    CAST(CAST(11 - ex.ra AS DOUBLE)
         |      * CAST(([${NdcgDiscount.mkString(", ")}])[l.rb] AS DOUBLE)
         |      AS DECIMAL(38,18)) AS t
         |  FROM ex JOIN lshk l
         |    ON l.probe_id = ex.probe_id AND l.neighbor_id = ex.neighbor_id
         |)
         |SELECT p.vec_id AS probe_id,
         |  ROUND(COALESCE(CAST(s.s AS DOUBLE), 0.0) / ${NdcgIdeal}, 6)
         |    AS ndcg10,
         |  COALESCE(s.n_common, 0) AS n_common
         |FROM (SELECT vec_id FROM embeddings WHERE vec_id < 5) p
         |LEFT JOIN (
         |  SELECT probe_id, SUM(t) AS s, CAST(COUNT(*) AS BIGINT) AS n_common
         |  FROM terms GROUP BY probe_id) s ON s.probe_id = p.vec_id
         |ORDER BY probe_id""".stripMargin,
    "q_eval_kappa" ->
      s"""WITH r AS (
        |  SELECT CAST(label % 3 AS VARCHAR) AS a,
        |    CAST((label + CASE WHEN vec_id % 5 = 0 THEN 1 ELSE 0 END) % 3
        |      AS VARCHAR) AS b
        |  FROM embeddings WHERE label IS NOT NULL AND vec_id IS NOT NULL
        |), c AS (
        |  SELECT a, b, CAST(COUNT(*) AS HUGEINT) AS c FROM r GROUP BY 1, 2
        |), am AS (
        |  SELECT a AS k, SUM(c) AS ra FROM c GROUP BY 1
        |), bm AS (
        |  SELECT b AS k, SUM(c) AS cb FROM c GROUP BY 1
        |), rc AS (
        |  SELECT SUM(am.ra * bm.cb) AS rc FROM am JOIN bm USING (k)
        |), d AS (
        |  SELECT SUM(CASE WHEN a = b THEN c ELSE 0 END) AS diag,
        |    SUM(c) AS n
        |  FROM c
        |)
        |SELECT CAST(d.n AS BIGINT) AS n_items,
        |  ${graft.functions.Num.portableRound6Sql(
            "CAST(d.diag AS DOUBLE) / CAST(d.n AS DOUBLE)")}
        |    AS p_observed,
        |  ${graft.functions.Num.portableRound6Sql(
            "CAST(rc.rc AS DOUBLE) / CAST(d.n * d.n AS DOUBLE)")}
        |    AS p_chance,
        |  ${graft.functions.Num.portableRound6Sql(
            "CAST(d.n * d.diag - rc.rc AS DOUBLE)" +
              " / CAST(d.n * d.n - rc.rc AS DOUBLE)")} AS kappa
        |FROM d, rc""".stripMargin,
    "q_eval_auc" ->
      s"""WITH s AS (
        |  SELECT CAST(embedding[2] AS DOUBLE) AS sc, (label % 2) AS y
        |  FROM embeddings
        |  WHERE embedding[2] IS NOT NULL AND label IS NOT NULL
        |), g AS (
        |  SELECT sc, COUNT(*) AS n, SUM(y) AS np FROM s GROUP BY sc
        |), r AS (
        |  SELECT n, np,
        |    COALESCE(SUM(n) OVER (ORDER BY sc
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::DOUBLE
        |      + (n + 1)::DOUBLE / 2.0 AS avg_rank
        |  FROM g
        |)
        |SELECT ${graft.functions.Num.portableRound6Sql("raw_auc")} AS auc,
        |  n_pos, n_neg FROM (
        |  SELECT
        |    (CAST(SUM(CAST(np::DOUBLE * avg_rank AS DECIMAL(38,1))) AS DOUBLE)
        |      - SUM(np)::DOUBLE * (SUM(np) + 1)::DOUBLE / 2.0)
        |      / (SUM(np)::DOUBLE * SUM(n - np)::DOUBLE) AS raw_auc,
        |    CAST(SUM(np) AS BIGINT) AS n_pos,
        |    CAST(SUM(n - np) AS BIGINT) AS n_neg
        |  FROM r)""".stripMargin,
    "q_eval_pr" ->
      s"""WITH s AS (
        |  SELECT CAST(embedding[2] AS DOUBLE) AS threshold, (label % 2) AS y
        |  FROM embeddings
        |  WHERE embedding[2] IS NOT NULL AND label IS NOT NULL
        |), g AS (
        |  SELECT threshold, COUNT(*) AS n, SUM(y) AS np FROM s GROUP BY threshold
        |), t AS (SELECT SUM(y) AS total_pos FROM s)
        |SELECT threshold,
        |  CAST(SUM(n) OVER w AS BIGINT) AS n_predicted,
        |  CAST(SUM(np) OVER w AS BIGINT) AS tp,
        |  ${graft.functions.Num.portableRound6Sql(
            "(SUM(np) OVER w)::DOUBLE / (SUM(n) OVER w)")} AS precision,
        |  ${graft.functions.Num.portableRound6Sql(
            "(SUM(np) OVER w)::DOUBLE / t.total_pos")} AS recall
        |FROM g CROSS JOIN t
        |WINDOW w AS (ORDER BY threshold DESC
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |ORDER BY threshold DESC""".stripMargin,
    "q_sample_coreset" ->
      (s"""WITH s1 AS (
         |  SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT 1
         |), c1 AS (
         |  SELECT e.vec_id AS id, e.embedding AS emb,
         |    ${duckCosG("e.embedding", "s.embedding")} AS cover
         |  FROM embeddings e CROSS JOIN s1 s WHERE e.vec_id <> s.vec_id
         |), s2 AS (SELECT id, emb FROM c1 ORDER BY cover, id LIMIT 1
         |), c2 AS (
         |  SELECT e.vec_id AS id, e.embedding AS emb,
         |    GREATEST(${duckCosG("e.embedding", "p1.embedding")},
         |      ${duckCosG("e.embedding", "p2.emb")}) AS cover
         |  FROM embeddings e CROSS JOIN s1 p1 CROSS JOIN s2 p2
         |  WHERE e.vec_id <> p1.vec_id AND e.vec_id <> p2.id
         |), s3 AS (SELECT id, emb FROM c2 ORDER BY cover, id LIMIT 1
         |), c3 AS (
         |  SELECT e.vec_id AS id, e.embedding AS emb,
         |    GREATEST(${duckCosG("e.embedding", "p1.embedding")},
         |      ${duckCosG("e.embedding", "p2.emb")},
         |      ${duckCosG("e.embedding", "p3.emb")}) AS cover
         |  FROM embeddings e CROSS JOIN s1 p1 CROSS JOIN s2 p2 CROSS JOIN s3 p3
         |  WHERE e.vec_id <> p1.vec_id AND e.vec_id <> p2.id AND e.vec_id <> p3.id
         |), s4 AS (SELECT id, emb FROM c3 ORDER BY cover, id LIMIT 1)
         |SELECT 0 AS sel_rank, s1.vec_id FROM s1
         |UNION ALL SELECT 1, s2.id FROM s2
         |UNION ALL SELECT 2, s3.id FROM s3
         |UNION ALL SELECT 3, s4.id FROM s4
         |ORDER BY sel_rank""".stripMargin),
    "q_sample_coreset_batched" ->
      (s"""WITH s1 AS (
         |  SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT 1
         |), c1 AS (
         |  SELECT e.vec_id AS id, e.embedding AS emb,
         |    ${duckCosG("e.embedding", "s.embedding")} AS cover
         |  FROM embeddings e CROSS JOIN s1 s WHERE e.vec_id <> s.vec_id
         |), r1 AS (
         |  SELECT id, emb, CAST(ROW_NUMBER() OVER (ORDER BY cover, id) AS INT) AS rk
         |  FROM (SELECT * FROM c1 ORDER BY cover, id LIMIT 2)
         |), c2 AS (
         |  SELECT e.vec_id AS id,
         |    GREATEST(${duckCosG("e.embedding", "s.embedding")},
         |      ${duckCosG("e.embedding", "p1.emb")},
         |      ${duckCosG("e.embedding", "p2.emb")}) AS cover
         |  FROM embeddings e CROSS JOIN s1 s
         |    CROSS JOIN (SELECT emb FROM r1 WHERE rk = 1) p1
         |    CROSS JOIN (SELECT emb FROM r1 WHERE rk = 2) p2
         |  WHERE e.vec_id <> s.vec_id AND e.vec_id NOT IN (SELECT id FROM r1)
         |), r2 AS (
         |  SELECT id, CAST(ROW_NUMBER() OVER (ORDER BY cover, id) AS INT) AS rk
         |  FROM (SELECT * FROM c2 ORDER BY cover, id LIMIT 2)
         |)
         |SELECT 0 AS sel_rank, s1.vec_id AS vec_id FROM s1
         |UNION ALL SELECT rk, id FROM r1
         |UNION ALL SELECT 2 + rk, id FROM r2
         |ORDER BY sel_rank""".stripMargin),
    "q_embed_drift" ->
      s"""WITH ex AS (
        |  SELECT (label % 2) AS grp, CAST(j AS INT) AS pos,
        |    ${graft.functions.Num.portableRound6Sql(
              "CAST(embedding[CAST(j AS INT) + 1] AS DOUBLE)")} AS xr
        |  FROM embeddings CROSS JOIN range(64) r(j)
        |), m AS (
        |  SELECT grp, pos,
        |    CAST(SUM(CAST(xr AS DECIMAL(38,12))) AS DOUBLE) / COUNT(*) AS mean
        |  FROM ex GROUP BY grp, pos
        |)
        |SELECT a.pos,
        |  ${graft.functions.Num.portableRound6Sql("a.mean")} AS mean_a,
        |  ${graft.functions.Num.portableRound6Sql("b.mean")} AS mean_b,
        |  ${graft.functions.Num.portableRound6Sql("ABS(a.mean - b.mean)")} AS abs_drift
        |FROM (SELECT pos, mean FROM m WHERE grp = 0) a
        |JOIN (SELECT pos, mean FROM m WHERE grp = 1) b USING (pos)
        |ORDER BY abs_drift DESC, pos""".stripMargin,
    "q_embed_standard" ->
      """WITH ex AS (
        |  SELECT vec_id, CAST(j AS INT) AS pos,
        |    ROUND(CAST(embedding[CAST(j AS INT) + 1] AS DOUBLE), 6) AS xr
        |  FROM embeddings CROSS JOIN range(64) r(j)
        |), st AS (
        |  -- COUNT(xr), not COUNT(*): lockstep with standardizeDims'
        |  -- NULL-element rule (dense testdata, values unchanged)
        |  SELECT pos,
        |    CAST(SUM(CAST(xr AS DECIMAL(38,12))) AS DOUBLE) / COUNT(xr) AS mean,
        |    CAST(SUM(CAST(xr * xr AS DECIMAL(38,12))) AS DOUBLE) / COUNT(xr) AS ex2
        |  FROM ex GROUP BY pos
        |), sd AS (
        |  -- greatest(·,0) replays standardizeDims' floor: a constant
        |  -- dimension's var lands a hair NEGATIVE under decimal→double
        |  -- cancellation, and DuckDB sqrt(negative) ABORTS the query
        |  -- where Spark floors to std=0 (→ NULL z via NULLIF)
        |  SELECT pos, mean, sqrt(greatest(ex2 - mean * mean, 0.0)) AS std FROM st
        |)
        |SELECT ex.vec_id, ex.pos,
        |  ROUND((ex.xr - sd.mean) / NULLIF(sd.std, 0), 6) AS z
        |FROM ex JOIN sd USING (pos)
        |ORDER BY vec_id, pos""".stripMargin,
    "q_embed_quant" ->
      // The degenerate gate and the zero-divisor coalesce replay
      // quantizeInt8/quantScale exactly: a NULL/NaN/Inf element reads
      // NULL (unguarded, DuckDB CAST(NaN AS INT) throws and an Inf
      // scale leaks through), and an all-zero vector quantizes to
      // all-zero (float x/0 is NULL in DuckDB — COALESCE(...,0.0) is
      // try_divide + coalesce).
      """WITH g AS (
        |  SELECT vec_id, embedding,
        |    len(list_filter(embedding, x -> x IS NULL
        |      OR isnan(CAST(x AS DOUBLE))
        |      OR isinf(CAST(x AS DOUBLE)))) = 0 AS ok,
        |    list_max(list_transform(embedding,
        |      y -> abs(CAST(y AS DOUBLE)))) AS mx
        |  FROM embeddings
        |)
        |SELECT vec_id,
        | ROUND(sqrt(list_sum(list_transform(embedding,
        |   x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), 6) AS l2_norm,
        | CASE WHEN ok THEN ROUND(mx / 127.0, 6) END AS q_scale,
        | CASE WHEN ok THEN array_to_string(list_transform(embedding,
        |   x -> CAST(CAST(floor(COALESCE(CAST(x AS DOUBLE) * 127.0 / mx, 0.0)
        |     + 0.5) AS INT) AS VARCHAR)), ',') END AS q_vec
        |FROM g ORDER BY vec_id""".stripMargin,
    "q_embed_project" ->
      """WITH pl AS (
        |  SELECT j, list_transform(range(0, 64),
        |    d -> ('0x' || substr(md5('7_' || CAST(j AS VARCHAR) || '_'
        |      || CAST(d AS VARCHAR)), 1, 8))::UBIGINT
        |      / 4294967296.0 - 0.5) AS w
        |  FROM (SELECT unnest(range(0, 8)) AS j)
        |)
        |SELECT e.vec_id, CAST(pl.j AS BIGINT) AS dim_idx,
        |  ROUND(list_sum(list_transform(range(1, 65),
        |    i -> CAST(e.embedding[i] AS DOUBLE) * pl.w[i])), 6) AS proj_val
        |FROM embeddings e CROSS JOIN pl
        |ORDER BY e.vec_id, dim_idx""".stripMargin,
    "q_sample_shard" ->
      """WITH h AS (
        |  SELECT doc_id,
        |    CAST((('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '#shard'), 1, 16))::UBIGINT
        |      & 9223372036854775807::UBIGINT) % 8 AS BIGINT) AS shard,
        |    (('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '#ord'), 1, 16))::UBIGINT
        |      & 9223372036854775807::UBIGINT) AS ord
        |  FROM documents
        |), r AS (
        |  SELECT doc_id, shard,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY shard ORDER BY ord, doc_id) - 1
        |      AS BIGINT) AS pos
        |  FROM h
        |)
        |SELECT doc_id, shard, pos, pos * 8 + shard AS global_pos
        |FROM r ORDER BY doc_id""".stripMargin,
    "q_sample_split" ->
      """WITH b AS (
        |  SELECT doc_id,
        |    CAST((('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 16))::UBIGINT
        |      & 9223372036854775807::UBIGINT) % 100 AS BIGINT) AS bucket
        |  FROM documents
        |)
        |SELECT doc_id, bucket,
        | CASE WHEN bucket < 90 THEN 'train' ELSE 'holdout' END AS split
        |FROM b ORDER BY doc_id""".stripMargin,
    "q_sample_budget" ->
      """WITH s AS (
        |  SELECT doc_id,
        |    ROUND(len(list_filter(string_split(text, ' '),
        |      t -> t IN ('the','a','an','of','to','and','in','is','for','on','with')))::DOUBLE
        |      / len(string_split(text, ' ')), 6) AS score,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
        |  FROM documents
        |), c AS (
        |  SELECT doc_id, score, n_tok,
        |    COALESCE(SUM(n_tok) OVER (ORDER BY score DESC, doc_id ASC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
        |  FROM s
        |)
        |SELECT doc_id, score, n_tok, CAST(cum_before AS BIGINT) AS cum_before
        |FROM c WHERE cum_before < 5000 ORDER BY doc_id""".stripMargin,
    "q_sample_grpreservoir" ->
      """WITH s AS (
        |  SELECT doc_id, lang,
        |    len(string_split(text, ' ')) AS n_tok,
        |    ln((('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 16))::UBIGINT
        |        & 9223372036854775807::UBIGINT)::DOUBLE / 9223372036854775808.0)
        |      / len(string_split(text, ' '))::DOUBLE AS k
        |  FROM documents
        |), r AS (
        |  SELECT lang, doc_id, n_tok, k,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY lang
        |      ORDER BY k DESC, doc_id ASC) AS INT) AS es_rank
        |  FROM s
        |)
        |SELECT lang, es_rank, doc_id, CAST(n_tok AS INT) AS n_tok,
        |  ROUND(k, 6) AS es_key
        |FROM r WHERE es_rank <= 3
        |ORDER BY lang, es_rank""".stripMargin,
    "q_eval_brier" ->
      s"""SELECT ${graft.functions.Num.portableRound6Sql("raw_brier")} AS brier,
        |  n_rows FROM (
        |  SELECT
        |    CAST(SUM(CAST(
        |      ((CAST(embedding[2] AS DOUBLE) + 1.0) / 2.0 - (label % 2))
        |      * ((CAST(embedding[2] AS DOUBLE) + 1.0) / 2.0 - (label % 2))
        |      AS DECIMAL(38,12))) AS DOUBLE) / COUNT(*) AS raw_brier,
        |    CAST(COUNT(*) AS BIGINT) AS n_rows
        |  FROM embeddings
        |  WHERE embedding[2] IS NOT NULL AND label IS NOT NULL)""".stripMargin,
    "q_sample_reservoir" ->
      """WITH s AS (
        |  SELECT doc_id,
        |    len(string_split(text, ' ')) AS n_tok,
        |    ln((('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 16))::UBIGINT
        |        & 9223372036854775807::UBIGINT)::DOUBLE / 9223372036854775808.0)
        |      / len(string_split(text, ' '))::DOUBLE AS k
        |  FROM documents
        |)
        |SELECT doc_id, n_tok, es_key FROM (
        |  SELECT doc_id, CAST(n_tok AS INT) AS n_tok, ROUND(k, 6) AS es_key
        |  FROM s ORDER BY k DESC, doc_id LIMIT 20
        |) ORDER BY es_key DESC, doc_id""".stripMargin,
    "q_sample_weighted" ->
      """SELECT doc_id FROM documents
        |WHERE ((('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 16))::UBIGINT
        |    & 9223372036854775807::UBIGINT)::DOUBLE / 9223372036854775808.0)
        |  < len(list_distinct(string_split(text, ' ')))::DOUBLE
        |    / len(string_split(text, ' '))
        |ORDER BY doc_id""".stripMargin,
    // tok filters ''-artifacts in lockstep with Dsir's nonEmptyTokens
    // (the term-level tokenizer contract)
    "q_sample_dsir" ->
      s"""WITH tok0 AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents
        |), tok AS (
        |  SELECT * FROM tok0 WHERE t <> ''
        |), bk AS (
        |  SELECT doc_id, CAST((('0x' || substr(md5(t), 1, 16))::UBIGINT
        |    & 9223372036854775807::UBIGINT) % 256 AS BIGINT) AS bkt
        |  FROM tok
        |), src AS (
        |  SELECT bkt, COUNT(*) AS s FROM bk GROUP BY 1
        |), tgt AS (
        |  SELECT bkt, COUNT(*) AS t FROM bk JOIN documents USING (doc_id)
        |  WHERE lang = 'fr' GROUP BY 1
        |), tots AS (
        |  SELECT (SELECT COUNT(*) FROM bk) AS st,
        |    (SELECT COUNT(*) FROM bk JOIN documents USING (doc_id)
        |     WHERE lang = 'fr') AS tt
        |), r AS (
        |  SELECT bkt, CAST(${duckRound6("m")} AS DECIMAL(28,6)) AS ratio FROM (
        |    SELECT src.bkt,
        |      ((COALESCE(tgt.t, 0) + 1) * (tots.st + 256))::DOUBLE /
        |      ((src.s + 1) * (tots.tt + 256))::DOUBLE AS m
        |    FROM src LEFT JOIN tgt USING (bkt) CROSS JOIN tots)
        |), dc AS (
        |  SELECT doc_id, bkt, COUNT(*) AS c FROM bk GROUP BY 1, 2
        |)
        |SELECT doc_id, n_tokens, ${duckRound6("m")} AS dsir_score FROM (
        |  SELECT dc.doc_id, CAST(SUM(dc.c) AS BIGINT) AS n_tokens,
        |    SUM(dc.c * r.ratio)::DOUBLE / SUM(dc.c)::DOUBLE AS m
        |  FROM dc JOIN r USING (bkt)
        |  GROUP BY dc.doc_id
        |) ORDER BY doc_id""".stripMargin,
    "q_sample_mix" ->
      // the lang IN (...) filter replays mixtureResample's drop policy:
      // a group ABSENT from the target-share map leaves the output
      // entirely — the unfiltered oracle fabricated a 0.2 share for
      // any new language a fixture regeneration introduces
      """WITH n AS (
        |  SELECT lang, COUNT(*) AS n_g FROM documents
        |  WHERE lang IN ('en', 'fr', 'de', 'es', 'zh') GROUP BY 1
        |), tot AS (
        |  SELECT COUNT(*) AS n FROM documents
        |), r AS (
        |  SELECT lang, CAST(0.2 AS DOUBLE) * n::DOUBLE / n_g::DOUBLE AS r
        |  FROM n CROSS JOIN tot
        |), c AS (
        |  SELECT d.doc_id, d.lang,
        |    CAST(floor(r.r) AS BIGINT) + CASE WHEN
        |      ((('0x' || substr(md5(CAST(d.doc_id AS VARCHAR) || '#rep'), 1, 16))::UBIGINT
        |        & 9223372036854775807::UBIGINT)::DOUBLE / 9223372036854775808.0)
        |      < r.r - floor(r.r) THEN 1 ELSE 0 END AS k
        |  -- doc_id IS NOT NULL replays the keyless-rows-never-leak
        |  -- policy (Spark filters them; the ELSE 0 branch would give
        |  -- a NULL-keyed row floor(r) copies here)
        |  FROM documents d JOIN r USING (lang)
        |  WHERE d.doc_id IS NOT NULL
        |)
        |SELECT doc_id, lang, CAST(unnest(range(k)) AS BIGINT) AS epoch
        |FROM c WHERE k > 0 ORDER BY doc_id, epoch""".stripMargin,
    "q_sample_temp" ->
      """WITH c AS (
        |  SELECT lang, COUNT(*) AS n FROM documents
        |  WHERE lang IS NOT NULL GROUP BY lang
        |), m AS (
        |  SELECT MIN(n) AS nmin FROM c
        |), r AS (
        |  SELECT lang, sqrt(nmin::DOUBLE / n) AS rate FROM c CROSS JOIN m
        |)
        |SELECT d.doc_id, d.lang, ROUND(r.rate, 6) AS keep_rate
        |FROM documents d JOIN r USING (lang)
        |WHERE ((('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 16))::UBIGINT
        |    & 9223372036854775807::UBIGINT)::DOUBLE / 9223372036854775808.0)
        |  < r.rate
        |ORDER BY doc_id""".stripMargin,
    "q_vocab_top" ->
      """WITH w AS (
        |  SELECT doc_id, string_split(text, ' ') AS w FROM documents
        |), g AS (
        |  SELECT doc_id, unnest(list_transform(range(1, len(w)),
        |    i -> w[i] || ' ' || w[i+1])) AS gram
        |  FROM w WHERE len(w) >= 2
        |)
        |SELECT gram, COUNT(*) AS n_occurrences,
        | COUNT(DISTINCT doc_id) AS n_docs
        |FROM g GROUP BY gram
        |ORDER BY n_occurrences DESC, gram LIMIT 20""".stripMargin,
    "q_profile_groupbucket" ->
      """WITH d AS (
        |  SELECT doc_id, lang,
        |    CAST(len(string_split(text, ' ')) AS DOUBLE) AS n_tok
        |  FROM documents
        |), q AS (
        |  SELECT lang, quantile_cont(n_tok, [0.25, 0.5, 0.75]) AS cuts
        |  FROM d GROUP BY lang
        |), b AS (
        |  -- LEFT join: the Spark side's cuts join is a plain equality
        |  -- left join, so a NULL-lang doc matches nothing and keeps a
        |  -- (NULL, NULL) bucket row — an inner join here dropped the
        |  -- whole NULL-lang slice from the oracle only
        |  SELECT d.lang, d.n_tok,
        |    len(list_filter(q.cuts, c -> d.n_tok > c)) AS qb
        |  FROM d LEFT JOIN q USING (lang)
        |)
        |SELECT lang, CAST(qb AS BIGINT) AS qbucket, COUNT(*) AS cnt,
        | CAST(MIN(n_tok) AS BIGINT) AS lo, CAST(MAX(n_tok) AS BIGINT) AS hi
        |FROM b GROUP BY lang, qb
        |ORDER BY lang NULLS FIRST, qbucket NULLS FIRST""".stripMargin,
    "q_vocab_oov" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(list_filter(string_split(text, ' '),
        |    w -> w <> '')) AS tok FROM documents
        |), v AS (
        |  SELECT tok FROM (
        |    SELECT tok, COUNT(*) AS n FROM tok GROUP BY tok
        |    ORDER BY n DESC, tok LIMIT 500)
        |)
        |SELECT doc_id, COUNT(*) AS n_tokens,
        | COUNT(*) FILTER (tok NOT IN (SELECT tok FROM v)) AS n_oov,
        | ROUND(COUNT(*) FILTER (tok NOT IN (SELECT tok FROM v))::DOUBLE
        |   / COUNT(*), 6) AS oov_rate
        |FROM tok GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q_vocab_growth" ->
      s"""WITH tok AS (
        |  SELECT doc_id, unnest(list_filter(string_split(text, ' '),
        |    w -> w <> '')) AS tok FROM documents
        |), pd AS (
        |  -- spine from the documents table: a tokenless doc still
        |  -- occupies a corpus position (0 tokens), so the every-th
        |  -- checkpoints stay aligned with the actual doc sequence
        |  SELECT d.doc_id, COALESCE(tc.ntok, 0) AS ntok
        |  FROM (SELECT DISTINCT doc_id FROM documents) d
        |  LEFT JOIN (SELECT doc_id, COUNT(*) AS ntok FROM tok
        |    GROUP BY doc_id) tc USING (doc_id)
        |), fd AS (
        |  SELECT tok, MIN(doc_id) AS fdoc FROM tok GROUP BY tok
        |), np AS (
        |  SELECT fdoc AS doc_id, COUNT(*) AS nnew FROM fd GROUP BY fdoc
        |), c AS (
        |  SELECT pd.doc_id, pd.ntok, COALESCE(np.nnew, 0) AS nnew
        |  FROM pd LEFT JOIN np USING (doc_id)
        |), r AS (
        |  SELECT doc_id,
        |    SUM(ntok) OVER (ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_tokens,
        |    SUM(nnew) OVER (ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_vocab,
        |    ROW_NUMBER() OVER (ORDER BY doc_id) AS rk
        |  FROM c
        |)
        |SELECT CAST(rk AS INT) AS n_docs, doc_id,
        |  CAST(cum_tokens AS BIGINT) AS cum_tokens,
        |  CAST(cum_vocab AS BIGINT) AS cum_vocab,
        |  ${graft.functions.Num.portableRound6Sql(
            "cum_vocab::DOUBLE / cum_tokens::DOUBLE")} AS vocab_rate
        |FROM r WHERE rk % 50 = 0 ORDER BY doc_id""".stripMargin,
    "q_text_urlcanon" ->
      """WITH u AS (
        |  SELECT doc_id,
        |    'HTTP://Ex' || CAST(doc_id % 5 AS VARCHAR) || '.COM/p/'
        |    || CAST(doc_id AS VARCHAR)
        |    || CASE WHEN doc_id % 3 = 0 THEN '?utm_source=a&utm_medium=b'
        |         WHEN doc_id % 3 = 1
        |           THEN '?utm_source=a&id=' || CAST(doc_id AS VARCHAR)
        |         ELSE '' END
        |    || CASE WHEN doc_id % 2 = 0
        |         THEN '#sec' || CAST(doc_id AS VARCHAR) ELSE '' END AS url
        |  FROM documents
        |), c AS (
        |  SELECT doc_id, url, regexp_replace(url, '(?s)#.*', '') AS nofrag
        |  FROM u
        |), h AS (
        |  SELECT doc_id, url, nofrag,
        |    regexp_extract(nofrag,
        |      '^([a-zA-Z][a-zA-Z0-9+.-]*://[^/?]*)', 1) AS head
        |  FROM c
        |), t AS (
        |  SELECT doc_id, url, head,
        |    substr(nofrag, length(head) + 1) AS tail
        |  FROM h
        |), pq AS (
        |  SELECT doc_id, url, head,
        |    string_split(tail, '?')[1] AS path,
        |    CASE WHEN contains(tail, '?')
        |      THEN regexp_replace(tail, '^[^?]*\?', '') ELSE '' END AS rawq
        |  FROM t
        |), k AS (
        |  SELECT doc_id, url, head, path,
        |    list_filter(string_split(rawq, '&'), p -> p <> ''
        |      AND NOT regexp_matches(p, '^(utm_[^=]*|fbclid|gclid)(=|$)'))
        |      AS kept
        |  FROM pq
        |)
        |SELECT doc_id, url,
        |  -- lockstep with canonicalizeUrl's r9 rules: lowercase only
        |  -- scheme + host[:port], preserve userinfo case (no userinfo
        |  -- in these constructed URLs, so values are unchanged)
        |  lower(regexp_extract(head, '^([a-zA-Z][a-zA-Z0-9+.-]*://)', 1))
        |  || CASE WHEN contains(substr(head,
        |         length(regexp_extract(head, '^([a-zA-Z][a-zA-Z0-9+.-]*://)', 1)) + 1), '@')
        |       THEN regexp_replace(substr(head,
        |         length(regexp_extract(head, '^([a-zA-Z][a-zA-Z0-9+.-]*://)', 1)) + 1),
        |         '@[^@]*$', '') || '@' ELSE '' END
        |  || lower(regexp_extract(substr(head,
        |       length(regexp_extract(head, '^([a-zA-Z][a-zA-Z0-9+.-]*://)', 1)) + 1),
        |       '([^@]*)$', 1))
        |  || path || CASE WHEN len(kept) > 0
        |    THEN '?' || array_to_string(kept, '&') ELSE '' END AS canonical
        |FROM k ORDER BY doc_id""".stripMargin,
    "q_text_bm25" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(list_filter(string_split(text, ' '),
        |    w -> w <> '')) AS tok
        |  FROM documents
        |), dl AS (
        |  SELECT doc_id, COUNT(*) AS dl FROM tok GROUP BY doc_id
        |), corp AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(dl) AS BIGINT) AS sumdl FROM dl
        |), tf AS (
        |  SELECT doc_id, tok, COUNT(*) AS tf FROM tok
        |  WHERE tok IN ('spark', 'join', 'vector') GROUP BY doc_id, tok
        |), df AS (
        |  SELECT tok, COUNT(*) AS df FROM tf GROUP BY tok
        |), part AS (
        |  SELECT tf.doc_id, tf.tok, dl.dl,
        |    ln(1.0 + (CAST(corp.n AS DOUBLE) - CAST(df.df AS DOUBLE) + 0.5)
        |      / (CAST(df.df AS DOUBLE) + 0.5))
        |    * ((CAST(tf.tf AS DOUBLE) * 2.2)
        |      / (CAST(tf.tf AS DOUBLE)
        |        + 1.2 * (0.25 + 0.75 * (CAST(dl.dl AS DOUBLE)
        |          * (CAST(corp.n AS DOUBLE) / CAST(corp.sumdl AS DOUBLE))))))
        |      AS p
        |  FROM tf JOIN df USING (tok) JOIN dl USING (doc_id) CROSS JOIN corp
        |)
        |SELECT doc_id, CAST(MAX(dl) AS BIGINT) AS dl,
        |  CAST(COUNT(*) AS BIGINT) AS n_matched,
        |  ROUND(list_sum(list(p ORDER BY tok)), 6) AS score
        |FROM part GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q_text_readability" ->
      """WITH c AS (
        |  SELECT doc_id,
        |    CAST(len(list_filter(string_split(text, ' '),
        |      w -> w <> '')) AS INT) AS n_words,
        |    CAST(greatest(len(regexp_extract_all(text, '[.!?]+')), 1) AS INT)
        |      AS n_sentences,
        |    CAST(len(regexp_extract_all(lower(text), '[aeiouy]+')) AS INT)
        |      AS n_syllables
        |  FROM documents
        |)
        |SELECT doc_id, n_words, n_sentences, n_syllables,
        |  ROUND(206.835
        |    - 1.015 * (n_words::DOUBLE / n_sentences::DOUBLE)
        |    - 84.6 * (n_syllables::DOUBLE / n_words::DOUBLE), 6) AS flesch
        |FROM c ORDER BY doc_id""".stripMargin,
    // doc-spine left join replays noveltyRates' r9 fix: a tokenless
    // doc reads (0, 0, NULL) instead of vanishing from the output
    "q_text_novelty" ->
      """WITH tok0 AS (
        |  SELECT doc_id, unnest(list_filter(string_split(text, ' '),
        |    w -> w <> '')) AS tok
        |  FROM documents
        |), tok AS (
        |  SELECT DISTINCT doc_id, tok FROM tok0
        |), fd AS (
        |  SELECT tok, MIN(doc_id) AS fdoc FROM tok GROUP BY tok
        |), per AS (
        |  SELECT t.doc_id, COUNT(*) AS n_distinct_tokens,
        |    CAST(SUM(CASE WHEN f.fdoc = t.doc_id THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_novel
        |  FROM tok t JOIN fd f ON f.tok = t.tok
        |  GROUP BY t.doc_id
        |)
        |SELECT d.doc_id,
        |  COALESCE(per.n_distinct_tokens, 0) AS n_distinct_tokens,
        |  COALESCE(per.n_novel, 0) AS n_novel,
        |  ROUND(per.n_novel::DOUBLE / per.n_distinct_tokens, 6) AS novelty
        |FROM (SELECT DISTINCT doc_id FROM documents) d
        |LEFT JOIN per USING (doc_id)
        |ORDER BY doc_id""".stripMargin,
    "q_sample_quota" ->
      """WITH r AS (
        |  SELECT doc_id, source,
        |    ROW_NUMBER() OVER (PARTITION BY source ORDER BY
        |      (('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 16))::UBIGINT
        |        & 9223372036854775807::UBIGINT), doc_id) AS rk
        |  FROM documents WHERE doc_id IS NOT NULL
        |)
        |SELECT doc_id, source, CAST(rk AS INT) AS sample_rank FROM r
        |WHERE rk <= 20 ORDER BY source, sample_rank""".stripMargin,
    // The CASE mirrors the engine's NULL-key branch (kFolds: keyless
    // rows all land in fold 0 — shared with hashed keys, not reserved —
    // instead of vanishing; a branch, not a sentinel string real data
    // could collide with)
    "q_sample_folds" ->
      """SELECT doc_id,
        |  CASE WHEN doc_id IS NULL THEN 0 ELSE
        |    CAST(((('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 16))::UBIGINT
        |      & 9223372036854775807::UBIGINT) % 5) AS BIGINT) END AS fold
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q_sample_strat" ->
      """WITH r AS (
        |  SELECT doc_id, source,
        |    COUNT(*) OVER (PARTITION BY source) AS sn,
        |    ROW_NUMBER() OVER (PARTITION BY source ORDER BY
        |      (('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 16))::UBIGINT
        |        & 9223372036854775807::UBIGINT), doc_id) AS rk
        |  FROM documents WHERE doc_id IS NOT NULL
        |)
        |SELECT doc_id, source, CAST(sn AS BIGINT) AS stratum_n,
        |  CAST(rk AS INT) AS sample_rank
        |FROM r WHERE rk * 5 <= sn * 1 + 4
        |ORDER BY source, sample_rank""".stripMargin,
    "q_sample_neg" ->
      """WITH h AS (
        |  SELECT doc_id,
        |    (('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 16))::UBIGINT
        |      & 9223372036854775807::UBIGINT) AS h64
        |  FROM documents
        |), reps AS (
        |  SELECT bucket, doc_id AS neg_id FROM (
        |    SELECT CAST(h64 % 64 AS BIGINT) AS bucket, doc_id,
        |      ROW_NUMBER() OVER (PARTITION BY h64 % 64 ORDER BY h64, doc_id) AS rn
        |    FROM h) WHERE rn = 1
        |), probes AS (
        |  SELECT d.doc_id, i.neg_idx,
        |    CAST(((('0x' || substr(md5(CAST(d.doc_id AS VARCHAR) || '#' ||
        |        CAST(i.neg_idx AS VARCHAR)), 1, 16))::UBIGINT
        |      & 9223372036854775807::UBIGINT) % 64) AS BIGINT) AS bucket
        |  FROM documents d CROSS JOIN (SELECT unnest([1, 2, 3]) AS neg_idx) i
        |)
        |SELECT p.doc_id, p.neg_idx, r.neg_id
        |FROM probes p JOIN reps r USING (bucket)
        |WHERE r.neg_id <> p.doc_id
        |ORDER BY p.doc_id, p.neg_idx""".stripMargin,
    "q_corpus_report" ->
      """SELECT COUNT(*) AS n_docs,
        | CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS total_tokens,
        | CAST(SUM(length(text)) AS BIGINT) AS total_chars,
        | COUNT(DISTINCT lang) AS n_langs,
        | COUNT(DISTINCT source) AS n_sources,
        | CAST(SUM(CASE WHEN len(string_split(text, ' ')) >= 10
        |   AND length(text)::DOUBLE / len(string_split(text, ' ')) >= 2.0
        |   AND length(text)::DOUBLE / len(string_split(text, ' ')) <= 12.0
        |   AND (length(text) - length(regexp_replace(text, '[!-/:-@\[-`{-~]', '', 'g')))::DOUBLE
        |     / length(text) < 0.2 THEN 1 ELSE 0 END) AS BIGINT) AS n_quality_ok
        |FROM documents""".stripMargin,
    "q_text_perplexity" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), w -> w <> '') AS t
        |  FROM documents
        |), uni AS (
        |  SELECT w, CAST(COUNT(*) AS BIGINT) AS c
        |  FROM (SELECT unnest(t) AS w FROM toks) GROUP BY w
        |), total AS (
        |  SELECT CAST(SUM(c) AS BIGINT) AS n FROM uni
        |), vocab AS (
        |  SELECT w, c FROM uni ORDER BY c DESC, w ASC LIMIT 1000
        |), pairs AS (
        |  SELECT doc_id, j, t[CAST(j AS INT) + 1] AS w1, t[CAST(j AS INT) + 2] AS w2
        |  FROM (SELECT doc_id, t, unnest(range(len(t) - 1)) AS j FROM toks)
        |), bim AS (
        |  SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c12
        |  FROM pairs p
        |  WHERE EXISTS(SELECT 1 FROM vocab v WHERE v.w = p.w1)
        |    AND EXISTS(SELECT 1 FROM vocab v WHERE v.w = p.w2)
        |  GROUP BY w1, w2
        |  ORDER BY c12 DESC, (w1 || ' ' || w2) ASC LIMIT 4000
        |), lp AS (
        |  SELECT p.doc_id, p.j,
        |    CASE
        |      WHEN b.c12 IS NOT NULL AND v1.c IS NOT NULL
        |        THEN ln(b.c12::DOUBLE / v1.c::DOUBLE)
        |      WHEN v2.c IS NOT NULL
        |        THEN ln(0.4 * v2.c::DOUBLE / (SELECT n FROM total)::DOUBLE)
        |      ELSE ln(0.4 / (SELECT n FROM total)::DOUBLE)
        |    END AS l
        |  FROM pairs p
        |  LEFT JOIN bim b ON b.w1 = p.w1 AND b.w2 = p.w2
        |  LEFT JOIN vocab v1 ON v1.w = p.w1
        |  LEFT JOIN vocab v2 ON v2.w = p.w2
        |), sums AS (
        |  SELECT doc_id, list_sum(list(l ORDER BY j)) AS s,
        |    CAST(COUNT(*) AS BIGINT) AS np
        |  FROM lp GROUP BY doc_id
        |)
        |SELECT tk.doc_id, CAST(len(tk.t) AS INT) AS n_tokens,
        |  ROUND(sums.s / sums.np, 6) AS avg_logprob
        |FROM toks tk LEFT JOIN sums ON sums.doc_id = tk.doc_id
        |ORDER BY tk.doc_id""".stripMargin,
    "q_text_gate" ->
      """WITH w AS (
        |  SELECT doc_id, string_split(text, ' ') AS w FROM documents
        |), g AS (
        |  SELECT doc_id, unnest(list_transform(range(1, len(w)),
        |    i -> w[i] || ' ' || w[i+1])) AS gram
        |  FROM w WHERE len(w) >= 2
        |), c AS (
        |  SELECT doc_id, gram, COUNT(*) AS cnt FROM g GROUP BY doc_id, gram
        |), a AS (
        |  SELECT doc_id,
        |    SUM(CASE WHEN cnt > 1 THEN cnt ELSE 0 END)::DOUBLE / SUM(cnt)
        |      AS dup_frac
        |  FROM c GROUP BY doc_id
        |), r AS (
        |  SELECT d.doc_id,
        |    len(string_split(d.text, ' ')) BETWEEN 10 AND 5000 AS r_len,
        |    (length(d.text)::DOUBLE / len(string_split(d.text, ' ')) >= 2.0
        |     AND length(d.text)::DOUBLE / len(string_split(d.text, ' ')) <= 12.0)
        |      AS r_wordlen,
        |    (CASE WHEN length(d.text) = 0 THEN 0.0 ELSE
        |      (length(d.text) - length(regexp_replace(d.text,
        |        '[!-/:-@\[-`{-~]', '', 'g')))::DOUBLE / length(d.text) END) < 0.2
        |      AS r_symbol,
        |    len(list_filter(string_split(d.text, ' '),
        |      t -> t IN ('the','a','an','of','to','and','in','is','for','on','with')))::DOUBLE
        |      / len(string_split(d.text, ' ')) >= 0.02 AS r_stopword,
        |    COALESCE(a.dup_frac, 0.0) < 0.4 AS r_repetition
        |  FROM documents d LEFT JOIN a USING (doc_id)
        |)
        |SELECT doc_id, r_len, r_wordlen, r_symbol, r_stopword, r_repetition,
        |  (r_len AND r_wordlen AND r_symbol AND r_stopword AND r_repetition)
        |    AS pass,
        |  concat_ws(',',
        |    CASE WHEN NOT r_len THEN 'len' END,
        |    CASE WHEN NOT r_wordlen THEN 'wordlen' END,
        |    CASE WHEN NOT r_symbol THEN 'symbol' END,
        |    CASE WHEN NOT r_stopword THEN 'stopword' END,
        |    CASE WHEN NOT r_repetition THEN 'repetition' END) AS fail_reasons
        |FROM r ORDER BY doc_id""".stripMargin,
    "q_text_stats" ->
      s"""SELECT doc_id,
        | CAST(len(string_split(text, ' ')) AS INT) AS n_tokens,
        | CAST(len(list_distinct(string_split(text, ' '))) AS INT) AS n_unique,
        | ROUND(len(list_distinct(string_split(text, ' ')))::DOUBLE
        |   / len(string_split(text, ' ')), 6) AS ttr,
        | ${graft.functions.Num.portableRound6Sql(
            """CASE WHEN length(text) = 0 THEN 0.0 ELSE
        |   (length(text) - length(regexp_replace(text, '[!-/:-@\[-`{-~]', '', 'g')))::DOUBLE
        |   / length(text) END""")} AS punct_ratio,
        | ROUND(len(list_filter(string_split(text, ' '),
        |     t -> t IN ('the','a','an','of','to','and','in','is','for','on','with')))::DOUBLE
        |   / len(string_split(text, ' ')), 6) AS stopword_ratio,
        | (len(string_split(text, ' ')) >= 10
        |   AND length(text)::DOUBLE / len(string_split(text, ' ')) >= 2.0
        |   AND length(text)::DOUBLE / len(string_split(text, ' ')) <= 12.0
        |   AND (length(text) - length(regexp_replace(text, '[!-/:-@\\[-`{-~]', '', 'g')))::DOUBLE
        |     / length(text) < 0.2) AS quality_ok
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q_text_lang" ->
      """WITH t AS (
        |  SELECT doc_id, text, string_split(lower(text), ' ') AS w FROM documents
        |), sc AS (
        |  SELECT doc_id, text,
        |   len(list_filter(w, x -> x IN ('the','and','of','to','is','with','that','this'))) AS s_en,
        |   len(list_filter(w, x -> x IN ('le','la','les','des','est','une','dans','pour'))) AS s_fr,
        |   len(list_filter(w, x -> x IN ('der','die','das','und','ist','nicht','mit','ein'))) AS s_de,
        |   len(list_filter(w, x -> x IN ('el','los','las','una','está','por','para','como'))) AS s_es,
        |   len(regexp_extract_all(text, '的|是|了|在|我|有|不|人')) AS s_zh
        |  FROM t
        |), b AS (
        |  SELECT *, greatest(s_en, s_fr, s_de, s_es, s_zh) AS best FROM sc
        |), nb AS (
        |  SELECT *,
        |   (CASE WHEN s_en = best THEN 1 ELSE 0 END
        |    + CASE WHEN s_fr = best THEN 1 ELSE 0 END
        |    + CASE WHEN s_de = best THEN 1 ELSE 0 END
        |    + CASE WHEN s_es = best THEN 1 ELSE 0 END
        |    + CASE WHEN s_zh = best THEN 1 ELSE 0 END) AS n_best
        |  FROM b
        |)
        |SELECT doc_id,
        | CASE WHEN best > 0 AND n_best = 1 THEN
        |   CASE WHEN s_en = best THEN 'en' WHEN s_fr = best THEN 'fr'
        |        WHEN s_de = best THEN 'de' WHEN s_es = best THEN 'es'
        |        ELSE 'zh' END
        | ELSE 'und' END AS lang_guess,
        | md5(CASE WHEN trim(regexp_replace(regexp_replace(lower(text),
        |       '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g')) = '' THEN text
        |   ELSE trim(regexp_replace(regexp_replace(lower(text),
        |       '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g')) END) AS fingerprint
        |FROM nb ORDER BY doc_id""".stripMargin,
    "q_media_meta" ->
      """SELECT doc_id,
        | CAST(octet_length(encode(text)) AS INT) AS n_bytes,
        | sha256(text) AS sha256_hex,
        | CAST(64 + octet_length(encode(text)) % 512 AS INT) AS width,
        | CAST(64 + (octet_length(encode(text)) * 31) % 512 AS INT) AS height,
        | CAST(1 + octet_length(encode(text)) % 16 AS INT) AS n_frames
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q_media_frames" ->
      """SELECT doc_id, CAST(unnest(generate_series(0,
        |   (1 + octet_length(encode(text)) % 16) - 1, 4)) AS INT) AS frame_idx
        |FROM documents ORDER BY doc_id, frame_idx""".stripMargin,
    "q_media_phash" ->
      """WITH b AS (
        |  SELECT doc_id, CAST(j AS INT) AS j,
        |    ('0x' || substr(md5(text || '_p' || CAST(j AS VARCHAR)), 1, 2))
        |      ::INT AS br
        |  FROM documents CROSS JOIN range(64) r(j)
        |), bits AS (
        |  SELECT x.doc_id, x.j,
        |    CASE WHEN x.br >= y.br THEN 1 ELSE 0 END AS bit
        |  FROM b x JOIN b y ON y.doc_id = x.doc_id AND y.j = x.j + 1
        |  WHERE x.j < 63
        |)
        |SELECT doc_id,
        |  CAST(SUM(CAST(bit AS BIGINT) * (CAST(1 AS BIGINT) << j))
        |    AS BIGINT) AS phash
        |FROM bits GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q_media_neardup" ->
      """WITH b AS (
        |  SELECT doc_id, CAST(j AS INT) AS j,
        |    ('0x' || substr(md5(text || '_p' || CAST(j AS VARCHAR)), 1, 2))
        |      ::INT AS br
        |  FROM documents CROSS JOIN range(64) r(j)
        |), bits AS (
        |  SELECT x.doc_id, x.j,
        |    CASE WHEN x.br >= y.br THEN 1 ELSE 0 END AS bit
        |  FROM b x JOIN b y ON y.doc_id = x.doc_id AND y.j = x.j + 1
        |  WHERE x.j < 63
        |), p AS (
        |  SELECT doc_id,
        |    CAST(SUM(CAST(bit AS BIGINT) * (CAST(1 AS BIGINT) << j))
        |      AS BIGINT) AS phash
        |  FROM bits GROUP BY doc_id
        |)
        |SELECT x.doc_id AS doc_a, y.doc_id AS doc_b,
        |  CAST(bit_count(xor(x.phash, y.phash)) AS INT) AS hamming
        |FROM p x JOIN p y ON x.doc_id < y.doc_id
        |WHERE bit_count(xor(x.phash, y.phash)) <= 3
        |ORDER BY doc_a, doc_b""".stripMargin,
    "q_media_features" ->
      """SELECT doc_id, CAST(r.range AS INT) AS pos,
        | CAST((('0x' || substr(md5(text || '_' || CAST(r.range AS VARCHAR)), 1, 8))::UBIGINT
        |   / 4294967296.0) AS REAL) AS feature
        |FROM documents CROSS JOIN range(8) r
        |ORDER BY doc_id, pos""".stripMargin,
    "q_media_resize" ->
      """WITH m AS (
        |  SELECT doc_id, octet_length(encode(text)) AS n,
        |    CAST(64 + octet_length(encode(text)) % 512 AS INT) AS w,
        |    CAST(64 + (octet_length(encode(text)) * 31) % 512 AS INT) AS h
        |  FROM documents
        |), r AS (
        |  SELECT doc_id, n, w, h,
        |    CAST(GREATEST(1, FLOOR(w * LEAST(1.0, 128.0 / GREATEST(w, h)))) AS INT) AS nw,
        |    CAST(GREATEST(1, FLOOR(h * LEAST(1.0, 128.0 / GREATEST(w, h)))) AS INT) AS nh
        |  FROM m
        |)
        |SELECT doc_id, nw AS width, nh AS height,
        | CAST(GREATEST(1, (CAST(n AS BIGINT) * nw * nh) // (CAST(w AS BIGINT) * h)) AS INT) AS n_bytes
        |FROM r ORDER BY doc_id""".stripMargin,
    // VALUES computed by the fixture generator's independent pure-python
    // BMP decoder running the same all-integer luminance/cell math —
    // see fixtures/media_img and Multimodal.imageCells.
    "q_media_phash_img" ->
      """SELECT * FROM (VALUES
        | (CAST(0 AS BIGINT), CAST(36170086419038336 AS BIGINT)),
        | (CAST(1 AS BIGINT), CAST(36170086419038336 AS BIGINT)),
        | (CAST(2 AS BIGINT), CAST(36170086553256064 AS BIGINT)),
        | (CAST(3 AS BIGINT), CAST(3086560954303228629 AS BIGINT)),
        | (CAST(4 AS BIGINT), CAST(1338293197504418450 AS BIGINT))
        |) AS t(doc_id, phash)
        |ORDER BY doc_id""".stripMargin,
    "q_media_neardup_img" ->
      """SELECT * FROM (VALUES
        | (CAST(0 AS BIGINT), CAST(1 AS BIGINT), CAST(0 AS INT)),
        | (CAST(0 AS BIGINT), CAST(2 AS BIGINT), CAST(1 AS INT)),
        | (CAST(1 AS BIGINT), CAST(2 AS BIGINT), CAST(1 AS INT))
        |) AS t(doc_a, doc_b, hamming)
        |ORDER BY doc_a, doc_b""".stripMargin,
    // VALUES computed by fixtures/media_audio/_gen_audio_fixtures.py's
    // independent pure-python WAV decode replaying the same integer
    // profile math (peak / floor-isqrt rms / channel-0 zero crossings).
    "q_media_audio" ->
      """SELECT * FROM (VALUES
        | (CAST(0 AS BIGINT), 8000, 1, CAST(800 AS BIGINT), CAST(100 AS BIGINT), 12000, CAST(12000 AS BIGINT), CAST(79 AS BIGINT), TRUE),
        | (CAST(1 AS BIGINT), 8000, 1, CAST(800 AS BIGINT), CAST(100 AS BIGINT), 6000, CAST(6000 AS BIGINT), CAST(79 AS BIGINT), TRUE),
        | (CAST(2 AS BIGINT), 8000, 1, CAST(400 AS BIGINT), CAST(50 AS BIGINT), 0, CAST(0 AS BIGINT), CAST(0 AS BIGINT), TRUE),
        | (CAST(3 AS BIGINT), 16000, 2, CAST(600 AS BIGINT), CAST(37 AS BIGINT), 12000, CAST(4949 AS BIGINT), CAST(5 AS BIGINT), TRUE),
        | (CAST(4 AS BIGINT), 11025, 1, CAST(1000 AS BIGINT), CAST(90 AS BIGINT), 11984, CAST(6884 AS BIGINT), CAST(501 AS BIGINT), TRUE)
        |) AS t(doc_id, sample_rate, channels, n_frames, duration_ms,
        |       peak, rms, zero_crossings, decoded)
        |ORDER BY doc_id""".stripMargin,
    // VALUES computed by fixtures/media_gif/_gen_gif_fixtures.py's
    // independent replay: it encodes known pixel arrays into the GIFs
    // and runs the same integer luminance-cell / dHash bit math on
    // them directly (no decode, no JVM).
    "q_media_frames_gif" ->
      """SELECT * FROM (VALUES
        | (CAST(0 AS BIGINT), 0, 4, CAST(9223372036846354303 AS BIGINT)),
        | (CAST(0 AS BIGINT), 1, 4, CAST(9223372036720031735 AS BIGINT)),
        | (CAST(0 AS BIGINT), 2, 4, CAST(8644650654284906495 AS BIGINT)),
        | (CAST(0 AS BIGINT), 3, 4, CAST(9187201950444158975 AS BIGINT)),
        | (CAST(1 AS BIGINT), 0, 4, CAST(9223372036846354303 AS BIGINT)),
        | (CAST(1 AS BIGINT), 1, 4, CAST(9223372036720031735 AS BIGINT)),
        | (CAST(1 AS BIGINT), 2, 4, CAST(8644650654284906495 AS BIGINT)),
        | (CAST(1 AS BIGINT), 3, 4, CAST(9187201950444158975 AS BIGINT)),
        | (CAST(2 AS BIGINT), 0, 6, CAST(36170086419038336 AS BIGINT)),
        | (CAST(2 AS BIGINT), 1, 6, CAST(4629771061636907072 AS BIGINT)),
        | (CAST(2 AS BIGINT), 2, 6, CAST(2314885530818453536 AS BIGINT)),
        | (CAST(2 AS BIGINT), 3, 6, CAST(1157442765409226768 AS BIGINT)),
        | (CAST(2 AS BIGINT), 4, 6, CAST(578721382704613384 AS BIGINT)),
        | (CAST(2 AS BIGINT), 5, 6, CAST(289360691352306692 AS BIGINT))
        |) AS t(doc_id, frame_idx, n_frames, phash)
        |ORDER BY doc_id, frame_idx""".stripMargin,
    // Brute-force all-pairs hamming over the SAME frame-hash values
    // (id = doc*100 + frame): checks the banded miner's recall
    // against an exhaustive oracle rather than assuming it.
    "q_media_neardup_frames" ->
      """WITH fh(id, phash) AS (VALUES
        | (CAST(0 AS BIGINT), CAST(9223372036846354303 AS BIGINT)),
        | (CAST(1 AS BIGINT), CAST(9223372036720031735 AS BIGINT)),
        | (CAST(2 AS BIGINT), CAST(8644650654284906495 AS BIGINT)),
        | (CAST(3 AS BIGINT), CAST(9187201950444158975 AS BIGINT)),
        | (CAST(100 AS BIGINT), CAST(9223372036846354303 AS BIGINT)),
        | (CAST(101 AS BIGINT), CAST(9223372036720031735 AS BIGINT)),
        | (CAST(102 AS BIGINT), CAST(8644650654284906495 AS BIGINT)),
        | (CAST(103 AS BIGINT), CAST(9187201950444158975 AS BIGINT)),
        | (CAST(200 AS BIGINT), CAST(36170086419038336 AS BIGINT)),
        | (CAST(201 AS BIGINT), CAST(4629771061636907072 AS BIGINT)),
        | (CAST(202 AS BIGINT), CAST(2314885530818453536 AS BIGINT)),
        | (CAST(203 AS BIGINT), CAST(1157442765409226768 AS BIGINT)),
        | (CAST(204 AS BIGINT), CAST(578721382704613384 AS BIGINT)),
        | (CAST(205 AS BIGINT), CAST(289360691352306692 AS BIGINT))
        |)
        |SELECT a.id AS doc_a, b.id AS doc_b,
        |  CAST(bit_count(xor(a.phash, b.phash)) AS INT) AS hamming
        |FROM fh a JOIN fh b ON a.id < b.id
        |WHERE bit_count(xor(a.phash, b.phash)) <= 3
        |ORDER BY doc_a, doc_b""".stripMargin,
    // VALUES computed by fixtures/media_avi/_gen_avi_fixtures.py's
    // independent replay of the cell/bit math over the known pixel
    // arrays the raw-DIB AVI frames store verbatim. avi_001 (uniform
    // +16 channel shift of avi_000) must reproduce avi_000's three
    // hashes exactly; a stub fallback (md5 stand-in) hash-mismatches.
    "q_media_frames_avi" ->
      """SELECT * FROM (VALUES
        | (CAST(0 AS BIGINT), 0, 3, CAST(9223371484943056895 AS BIGINT)),
        | (CAST(0 AS BIGINT), 1, 3, CAST(9223365413914148863 AS BIGINT)),
        | (CAST(0 AS BIGINT), 2, 3, CAST(9223319053329760255 AS BIGINT)),
        | (CAST(1 AS BIGINT), 0, 3, CAST(9223371484943056895 AS BIGINT)),
        | (CAST(1 AS BIGINT), 1, 3, CAST(9223365413914148863 AS BIGINT)),
        | (CAST(1 AS BIGINT), 2, 3, CAST(9223319053329760255 AS BIGINT)),
        | (CAST(2 AS BIGINT), 0, 5, CAST(108937465002221760 AS BIGINT)),
        | (CAST(2 AS BIGINT), 1, 5, CAST(4648140352419016800 AS BIGINT)),
        | (CAST(2 AS BIGINT), 2, 5, CAST(3485997774066289688 AS BIGINT)),
        | (CAST(2 AS BIGINT), 3, 5, CAST(1742999435715216908 AS BIGINT)),
        | (CAST(2 AS BIGINT), 4, 5, CAST(435749860008821123 AS BIGINT))
        |) AS t(doc_id, frame_idx, n_frames, phash)
        |ORDER BY doc_id, frame_idx""".stripMargin)
    // The broadcast scoring path claims BIT-identity with the literal
    // path, so it answers to the literal path's oracle verbatim — one
    // string, no copy to drift.
    .pipe(m => m.updated("q_text_perplexity_bcast", m("q_text_perplexity")))
    // The persisted-index path claims bit-identity with the in-query
    // IVF (same routing/re-rank code, parquet float round-trip exact),
    // so it answers to q_ann_ivf's oracle verbatim.
    .pipe(m => m.updated("q_ann_partitioned", m("q_ann_ivf")))
}
