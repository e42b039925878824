package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.VectorOps

/** Similarity search over an `array<float>` embedding column.
  *
  * Two tiers (SURVEY.md build plan step 7 / north-star extras):
  *
  *  - `bruteForceTopK`: exact cosine top-k for a bounded probe set. The
  *    probe set is broadcast (it is small by contract); the corpus side
  *    streams through a single scan — at 100 TB this is one pass, no
  *    shuffle of the corpus, and the per-probe top-k is a
  *    `TakeOrderedAndProject`-shaped window, not a global sort.
  *
  *  - `lshTopK`: random-hyperplane (sign) LSH — corpus is bucketed by
  *    16-bit signatures split into 4 bands; probes only meet corpus rows
  *    sharing a band bucket (equi-join on (band, bucket)), then exact
  *    cosine re-ranks the candidates. The scale path: candidate
  *    generation is a hash join on bucket ids, never a crossJoin.
  */
object Similarity {

  /** Exact top-k neighbors for each probe row.
    *
    * The scored |corpus| × |probes| stream is reduced map-side by the
    * bounded-heap `TopKAggregator` (partial aggregation inside each scan
    * task), so the exchange after the broadcast-join carries at most
    * k rows per probe per partition — never the full scored set. At
    * 100 TB this is one corpus pass + a k-row-per-probe shuffle.
    *
    * ID-SPACE CONTRACT (here and in every IVF/LSH top-k below): probes
    * are drawn FROM the corpus id space, and a corpus row whose id
    * equals the probe's id is its self-match and is excluded. Probes
    * numbered in their own space must be re-keyed first (e.g. negated
    * ids), or the corpus row sharing the number is silently dropped
    * from that probe's neighbor list.
    *
    * @param corpus (id, vec) rows
    * @param probes (probe_id, vec) rows — must be small (broadcast side)
    */
  def bruteForceTopK(
      corpus: DataFrame, probes: DataFrame, k: Int): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    // norms are per-vector: compute them BELOW the pair join (the
    // cosineSimilarPairs pattern), once per row per side, instead of
    // letting cosineSimilarity recompute each probe norm |corpus|
    // times inside the scored stream — same expression shape and
    // multiply order, so scores are bit-identical
    val scored = corpus
      .select(col("id"), col("vec"), VectorOps.norm(col("vec")).as("__cn"))
      .as("c")
      .join(broadcast(probes
          .select(col("probe_id"), col("vec"),
            VectorOps.norm(col("vec")).as("__pn")).as("p")),
        col("c.id") =!= col("p.probe_id"))
      .select(col("p.probe_id"), col("c.id").as("neighbor_id"),
        VectorOps.guardCos(try_divide(
          VectorOps.dot(col("c.vec"), col("p.vec")),
          col("c.__cn") * col("p.__pn"))).as("cos_raw"))
    scored
      .groupBy(col("probe_id"))
      .agg(TopK.topK(k)(col("neighbor_id"), col("cos_raw")).as("nn"))
      .select(col("probe_id"), explode(col("nn")).as("n"))
      .select(col("probe_id"), col("n.id").as("neighbor_id"),
        round(col("n.score"), 6).as("cos_sim"))
  }

  /** Exact embedding-cosine similar/near-duplicate pairs: broadcast
    * upper-triangle self-join + codegen'd cosine, thresholded AFTER the
    * 6-place rounding so the cut is reproducible against the oracle.
    *
    * This exact O(n²) form is for corpora whose id side fits a broadcast
    * (≲ 1e5 rows); beyond that, the scale path is the sign-LSH bucketed
    * candidate join (`lshTopK`'s machinery) which replaces the n² pair
    * stream with per-bucket equi-join candidates.
    */
  def cosineSimilarPairs(embs: DataFrame, threshold: Double): DataFrame = {
    // norms are per-vector: compute them once per side BEFORE the pair
    // join (the same doubles as computing them per pair, so the rounded
    // cosine is bit-identical to the oracle's formula).
    val a = embs.select(col("id").as("id_a"), col("vec").as("va"),
      VectorOps.norm(col("vec")).as("na"))
    val b = embs.select(col("id").as("id_b"), col("vec").as("vb"),
      VectorOps.norm(col("vec")).as("nb"))
    a.join(broadcast(b), col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        round(VectorOps.guardCos(
          try_divide(VectorOps.dot(col("va"), col("vb")), col("na") * col("nb"))), 6)
          .as("cos_sim"))
      .filter(col("cos_sim") >= threshold)
  }

  /** Scale path for similar-pair mining: sign-LSH banded candidate
    * generation + exact-cosine verify — the pair-mining analog of
    * `Dedup.minhashNearDuplicates`. No all-pairs step anywhere: the
    * candidate join is an equi-join on (band, bucket), so the plan is a
    * single shuffle regardless of corpus size, and the quadratic term is
    * confined to within-bucket collisions.
    *
    * A pair sharing several bands must still surface exactly ONCE. That
    * is done with zero extra shuffle: each side carries its packed
    * signature long, and a joined row survives only if the band it met
    * on is the FIRST band both signatures agree on — an unrolled
    * shift/mask when-chain over `sigA XOR sigB` (`firstCommonBand`),
    * fully inside whole-stage codegen. Cheaper than the `groupBy(pair)`
    * dedup `lshTopK` needs — pure filter, fully pipelined, and the
    * exact cosine is computed once per unique pair.
    *
    * Recall tuning: P(pair at cosine c shares a band) =
    * 1 - (1 - p^b)^(nPlanes/b) with p = 1 - acos(c)/π and b =
    * `bitsPerBand`. Near-dup mining (threshold >= 0.8) wants b = 4+,
    * which prunes hard. The default (16 planes × 2-bit bands) is the
    * wide-net configuration for LOW thresholds: at c = 0.45 the per-pair
    * miss probability is ~1.3% and random pairs are pruned only
    * modestly — at such thresholds "similar" covers most of the sphere
    * and NO metric index prunes well; the value here is the plan shape,
    * which stays one equi-join at any corpus size. Planes are seeded and
    * deterministic, so a given corpus either recalls a pair or misses it
    * reproducibly — never flakily.
    */
  def lshSimilarPairs(
      embs: DataFrame, threshold: Double, dim: Int,
      nPlanes: Int = 16, bitsPerBand: Int = 2, seed: Long = 42L): DataFrame = {
    require(nPlanes % bitsPerBand == 0,
      s"nPlanes ($nPlanes) must be a multiple of bitsPerBand ($bitsPerBand)")
    require(nPlanes <= 60, s"nPlanes ($nPlanes) must fit a packed long")
    val planes = hyperplanes(dim, nPlanes, seed)
    val nBands = nPlanes / bitsPerBand
    val mask = (1L << bitsPerBand) - 1

    // The whole signature is ONE long from the native single-pass
    // expression (bit j = plane j, so band buckets are shift/mask), so
    // the band self-join carries only (band, bucket, id, sig) — never
    // the vectors — and the dedup filter below is pure codegen'd bit
    // arithmetic.
    val sigd = embs.select(col("id"), col("vec"),
      VectorOps.norm(col("vec")).as("nrm"),
      packedSignBits(col("vec"), planes).as("sig"))

    val banded = sigd.select(col("id"), col("sig"),
      explode(array((0 until nBands).map(b =>
        struct(lit(b).as("band"),
          bucketOfBits(col("sig"), b, bitsPerBand).as("bucket"))): _*))
        .as("bb"))
      .select(col("id"), col("sig"),
        col("bb.band").as("band"), col("bb.bucket").as("bucket"))

    // First band both signatures agree on: lowest b whose bitsPerBand
    // slice of (sigA XOR sigB) is zero — an unrolled when-chain of
    // shift/mask ops, fully inside whole-stage codegen. The join key
    // guarantees SOME band agrees, so the chain always resolves.
    def firstCommonBand(diff: Column): Column =
      (0 until nBands).foldRight(lit(-1): Column) { (b, acc) =>
        when(shiftright(diff, b * bitsPerBand).bitwiseAND(lit(mask)) === 0L,
          lit(b)).otherwise(acc)
      }

    val pairs = banded.as("x").join(banded.as("y"), Seq("band", "bucket"))
      .filter(col("x.id") < col("y.id") &&
        firstCommonBand(col("x.sig").bitwiseXOR(col("y.sig"))) === col("band"))
      .select(col("x.id").as("id_a"), col("y.id").as("id_b"))

    // Exact-cosine verify: re-attach vectors to the surviving candidate
    // pairs (two equi-joins on id — broadcastable for dimension-sized
    // corpora, plain hash joins at scale), same shape as
    // Dedup.verifyJaccard.
    pairs
      .join(sigd.select(col("id").as("id_a"), col("vec").as("va"),
        col("nrm").as("na")), Seq("id_a"))
      .join(sigd.select(col("id").as("id_b"), col("vec").as("vb"),
        col("nrm").as("nb")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        round(VectorOps.guardCos(
          try_divide(VectorOps.dot(col("va"), col("vb")), col("na") * col("nb"))), 6)
          .as("cos_sim"))
      .filter(col("cos_sim") >= threshold)
  }

  /** Band-bucket LOAD diagnostic for the sign-LSH index: per band, the
    * occupied-bucket count, the largest bucket, and the sum of squared
    * bucket sizes — the last being EXACTLY the candidate-pair count
    * that band's self-join would generate (the shuffle-explosion
    * predictor, the per-band analogue of [[Sketch.cmsJoinSize]]'s
    * self-join bound). Read this BEFORE running a banded join: a band
    * whose max bucket holds half the corpus means the hash family or
    * band width is wrong for the data, and salting won't save a
    * candidate set that is quadratic by construction.
    *
    * Scale shape: signatures are the same single-pass codegen'd
    * expression the joins use; two partial-combined aggregations
    * ((band, bucket) then band) — output is nBands rows. Exact
    * integer arithmetic end to end, so the md5-derived replay is a
    * full cross-engine oracle.
    */
  def lshBucketStats(embs: DataFrame, dim: Int, nPlanes: Int = 16,
      bitsPerBand: Int = 2, seed: Long = 42L): DataFrame = {
    require(nPlanes % bitsPerBand == 0,
      s"nPlanes ($nPlanes) must be a multiple of bitsPerBand ($bitsPerBand)")
    require(nPlanes <= 60, s"nPlanes ($nPlanes) must fit a packed long")
    val planes = hyperplanes(dim, nPlanes, seed)
    val nBands = nPlanes / bitsPerBand
    embs
      .select(packedSignBits(col("vec"), planes).as("sig"))
      // NULL signatures (NULL-vec rows) are excluded: kept, they form
      // a phantom NULL bucket that inflates n_buckets and adds c² to
      // self_join_pairs — but the banded self-joins this diagnostic
      // predicts generate ZERO candidates from NULL keys, so the
      // "exactly the pair count the self-join would generate" contract
      // broke and the stats falsely predicted a shuffle explosion
      .filter(col("sig").isNotNull)
      .select(explode(array((0 until nBands).map(b =>
        struct(lit(b).as("band"),
          bucketOfBits(col("sig"), b, bitsPerBand).as("bucket"))): _*)).as("bb"))
      .groupBy(col("bb.band").as("band"), col("bb.bucket").as("bucket"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("band"))
      .agg(count(lit(1)).as("n_buckets"), max(col("c")).as("max_bucket"),
        sum(col("c") * col("c")).as("self_join_pairs"))
  }

  /** Johnson–Lindenstrauss random projection: `vec` (array<float>,
    * `dim` elements) → array<double> of `outDim` components, component
    * j being the left-fold double dot with the j-th md5-derived
    * hyperplane (the [[hyperplanes]] recipe — so DuckDB re-derives
    * every plane weight AND every projected component bit-for-bit).
    *
    * The scale role: JL says outDim = O(log n / eps²) random
    * projections preserve pairwise distances within (1 ± eps), so a
    * 64→8 projection is the cheap pre-filter for clustering /
    * coarse-bucketing passes where full-dimension cosine is the
    * re-rank, not the scan. Evaluation is one pass over the vector via
    * the native codegen'd expression; the composed HOF form would be
    * outDim interpreted `aggregate(zip_with(...))`s per row on a
    * full-corpus scan. Sign-LSH buckets ([[lshTopK]]) are exactly the
    * SIGNS of these components under the same seed/plane recipe.
    *
    * Malformed input (wrong dimension, null element) projects to the
    * all-zero vector — the [[Dedup.simhash]]/sign-bits convention —
    * rather than poisoning the scan under ANSI.
    */
  def randomProject(
      vec: Column, dim: Int, outDim: Int, seed: Long = 42L): Column = {
    require(dim >= 1, s"dim must be >= 1, got $dim")
    require(outDim >= 1 && outDim <= 1024,
      s"outDim ($outDim) outside [1, 1024]")
    org.apache.spark.sql.graft.Bridge.column(
      graft.functions.HyperplaneProjections(
        org.apache.spark.sql.graft.Bridge.expression(vec),
        hyperplanes(dim, outDim, seed)))
  }

  /** Built-ins-only reference for [[randomProject]] (one
    * `aggregate(zip_with(...))` HOF per component) — kept for the
    * bit-for-bit cross-check test, not for hot paths.
    */
  private[graft] def randomProjectHof(
      vec: Column, dim: Int, outDim: Int, seed: Long = 42L): Column = {
    val planes = hyperplanes(dim, outDim, seed)
    array(planes.toIndexedSeq.map { w =>
      aggregate(
        zip_with(vec, typedlit(w), (x, y) => x.cast("double") * y),
        lit(0.0), (acc, x) => acc + x)
    }: _*)
  }

  /** Deterministic hyperplanes, dim × nBits: component (j, d) is
    * uniform in [-0.5, 0.5) derived from `md5("seed_j_d")` — the same
    * bytes-to-double recipe an external oracle can replay
    * (`('0x' || substr(md5(s||'_'||j||'_'||d), 1, 8))::UBIGINT /
    * 4294967296.0 - 0.5` in DuckDB), making every sign-LSH operator's
    * bucketing — and therefore its full output — reproducible outside
    * Spark. Uniform components instead of gaussians cost a little
    * spherical symmetry at dim 64 (immaterial for bucketing; candidates
    * are always exact-cosine verified) and buy engine portability.
    */
  private[graft] def hyperplanes(
      dim: Int, nBits: Int, seed: Long): Array[Array[Double]] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    Array.tabulate(nBits) { j =>
      Array.tabulate(dim) { d =>
        val hex = md.digest(s"${seed}_${j}_${d}".getBytes("UTF-8"))
          .take(4).map("%02x".format(_)).mkString
        java.lang.Long.parseLong(hex, 16) / 4294967296.0 - 0.5
      }
    }
  }

  /** All hyperplane sign bits packed into one long, via the native
    * single-pass expression (`functions/HashExpressions.scala`) — the
    * composed alternative is nPlanes interpreted HOF dots per row on
    * the full corpus scan. Bit j is plane j, so the bucket of band b
    * at `bitsPerBand` bits is simply `(bits >> b*bitsPerBand) & mask`.
    *
    * Callers MUST bind this through its own projection (`.select(...
    * .as("sig"))`) before deriving per-band buckets: Catalyst
    * substitutes rather than let-binds, and referencing the expression
    * once per band would inline (and re-evaluate) the whole signature
    * per band — the MinHash 128× trap (Dedup.minhashColumns Scaladoc).
    */
  private def packedSignBits(vec: Column, planes: Array[Array[Double]]): Column =
    org.apache.spark.sql.graft.Bridge.column(
      graft.functions.HyperplaneSignBits(
        org.apache.spark.sql.graft.Bridge.expression(vec), planes))

  private def bucketOfBits(bits: Column, b: Int, bitsPerBand: Int): Column =
    shiftright(bits, b * bitsPerBand)
      .bitwiseAND(lit((1L << bitsPerBand) - 1))

  /** Collects and validates a literal codebook: (centroid_id, vec) rows
    * → an id-sorted array of (id, vector, precomputed norm). Bounded
    * ≤ 256 — a broadcast MODEL (the IVF/k-means idiom), not a data
    * collect.
    */
  private[graft] def loadCodebook(
      centroids: DataFrame): Array[(Long, Array[Float], Double)] = {
    val code = centroids
      .select(col("centroid_id").cast("long"), col("vec"))
      .collect()
      .map { r =>
        val v = r.getSeq[Float](1).toArray
        // Same left-to-right double fold as FloatVecNormSq / the oracle.
        var s = 0.0
        v.foreach(x => s += x.toDouble * x.toDouble)
        (r.getLong(0), v, math.sqrt(s))
      }
      .sortBy(_._1)
    require(code.nonEmpty && code.length <= 256,
      s"codebook size ${code.length} outside [1, 256]")
    // a duplicate centroid_id would duplicate routing rows, and the
    // re-rank join would then feed the SAME (id, score) twice into the
    // bounded heap — a repeated neighbor crowding out a real one
    require(code.map(_._1).distinct.length == code.length,
      "duplicate centroid_id in codebook: " +
        code.map(_._1).groupBy(identity).collect {
          case (id, g) if g.length > 1 => id
        }.mkString(", "))
    code
  }

  /** score = cos(vec, c) with the row norm let-bound behind a
    * projection boundary (computed once, not once per centroid).
    * A degenerate score — a zero-norm row or centroid (divide-by-zero:
    * a runtime error under ANSI, NULL otherwise), or NaN from NaN
    * vector elements — is pinned to -2, below any real cosine, so
    * degenerate vectors rank WORST consistently in both assignment
    * (array_max) and probe routing (array_sort) instead of crashing
    * the scan or silently emptying neighbor lists.
    */
  private def scoreTo(cv: Array[Float], cn: Double, norm: Column): Column =
    VectorOps.guardCos(
      try_divide(VectorOps.dot(col("vec"), typedlit(cv)), norm * lit(cn)))

  private def assignWithCodebook(
      embs: DataFrame,
      code: Array[(Long, Array[Float], Double)]): DataFrame =
    embs
      .select(col("id"), col("vec"), VectorOps.norm(col("vec")).as("_n"))
      .select(col("id"), col("vec"),
        array_max(array(code.toIndexedSeq.map { case (cid, cv, cn) =>
          struct(scoreTo(cv, cn, col("_n")).as("s"), lit(-cid).as("negc"))
        }: _*)).as("best"))
      .select(col("id"), col("vec"), (-col("best.negc")).as("centroid_id"))

  /** Map-side nearest-centroid assignment against a literal codebook:
    * (id, vec) → (id, vec, centroid_id), lowest centroid_id winning
    * cosine ties. No exchange — the codebook rides inside the projection
    * (the `ivfTopK` assignment step, exposed for cluster-then-X
    * compositions like `Dedup.semanticDedup`).
    */
  def assignToCentroids(embs: DataFrame, centroids: DataFrame): DataFrame =
    assignWithCodebook(embs, loadCodebook(centroids))

  /** IVF (inverted-file) approximate top-k — the centroid-bucketed scale
    * path alongside `lshTopK`.
    *
    * The codebook is collected to the driver once and baked into the
    * plan as literals — a codebook is by definition the small learned
    * compression of the corpus (k-means centroids), and shipping it with
    * the plan is exactly how a trained model broadcasts. That makes
    * BOTH index build and probe routing pure codegen'd projections:
    *
    *  - Assignment: each corpus row computes its cosine to every literal
    *    centroid and takes `array_max(struct(score, -cid))` — highest
    *    score, ties to the lowest centroid id. Map-side only; the corpus
    *    is scanned once and NEVER shuffled. At scale the assignment
    *    column is what you'd persist/bucket the corpus BY, turning every
    *    later probe into a partition-pruned read of `nProbe` lists —
    *    implemented as [[ivfWritePartitioned]] + [[ivfTopKPartitioned]].
    *  - Probe routing: each probe sorts the same literal codebook by
    *    `struct(-score, cid)` and keeps its `nProbe` nearest lists —
    *    again a projection, no shuffle of the probe side.
    *
    * The probe→list table (|probes| × nProbe rows) broadcasts into an
    * equi-join on `centroid_id`, and exact cosine re-ranks candidates
    * through the bounded-heap `TopKAggregator`. The ONLY exchange in the
    * whole operator is that final aggregation, carrying at most k rows
    * per probe per partition (asserted by the plan-shape test).
    *
    * Unlike LSH banding, assignment is a partition of the corpus — each
    * candidate appears exactly once, so no dedup pass is needed. The
    * operator is deterministic given a deterministic codebook (callers
    * derive one, e.g. lowest-id corpus vectors standing in for a trained
    * k-means codebook), which keeps it DuckDB-oracle-checkable: scores
    * use the same left-fold double arithmetic as the oracle's list math.
    *
    * @param corpus    (id, vec) rows
    * @param probes    (probe_id, vec) rows
    * @param centroids (centroid_id, vec) codebook — collected; must be
    *                  small (≤ 256 — beyond that, unrolled per-centroid
    *                  expressions stop fitting codegen method limits and
    *                  the assignment should be persisted/bucketed instead)
    */
  def ivfTopK(
      corpus: DataFrame, probes: DataFrame, centroids: DataFrame,
      k: Int, nProbe: Int): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    require(nProbe > 0, s"nProbe must be positive, got $nProbe")
    val code = loadCodebook(centroids)
    val assigned = assignWithCodebook(corpus, code)
    rerankRoutedLists(assigned, routeProbes(probes, code, nProbe), k)
  }

  /** Each probe's nProbe nearest lists: sort the literal codebook by
    * (score desc, cid asc) via ascending struct(-s, cid), slice,
    * explode — (probe_id, pvec, centroid_id) routing rows. Shared by
    * [[ivfTopK]] and [[ivfTopKPartitioned]] so the two physical paths
    * route identically by construction.
    */
  private def routeProbes(
      probes: DataFrame,
      code: Array[(Long, Array[Float], Double)], nProbe: Int): DataFrame =
    probes
      .select(col("probe_id"), col("vec"), VectorOps.norm(col("vec")).as("_n"))
      .select(col("probe_id"), col("vec").as("pvec"),
        explode(slice(array_sort(array(code.toIndexedSeq.map { case (cid, cv, cn) =>
          struct((-scoreTo(cv, cn, col("_n"))).as("negs"), lit(cid).as("cid"))
        }: _*)), 1, nProbe)).as("c"))
      .select(col("probe_id"), col("pvec"), col("c.cid").as("centroid_id"))

  /** Probe meets only its probed inverted lists; exact cosine re-rank
    * through the bounded heap. Shared tail of both IVF paths.
    */
  private def rerankRoutedLists(
      lists: DataFrame, probed: DataFrame, k: Int): DataFrame =
    // norms below the join (the bruteForceTopK/cosineSimilarPairs
    // pattern): once per list row / per routed probe, not per scored
    // pair — bit-identical scores, same multiply order
    lists
      .select(col("centroid_id"), col("id"), col("vec"),
        VectorOps.norm(col("vec")).as("__ln"))
      .join(broadcast(probed
          .withColumn("__pn", VectorOps.norm(col("pvec")))),
        Seq("centroid_id"))
      .filter(col("id") =!= col("probe_id"))
      .select(col("probe_id"), col("id").as("neighbor_id"),
        VectorOps.guardCos(try_divide(
          VectorOps.dot(col("vec"), col("pvec")),
          col("__ln") * col("__pn"))).as("cos_raw"))
      .groupBy(col("probe_id"))
      .agg(TopK.topK(k)(col("neighbor_id"), col("cos_raw")).as("nn"))
      .select(col("probe_id"), explode(col("nn")).as("n"))
      .select(col("probe_id"), col("n.id").as("neighbor_id"),
        round(col("n.score"), 6).as("cos_sim"))

  /** The IVF index MATERIALIZED: corpus written once, hive-partitioned
    * by its centroid assignment — the "persist/bucket the corpus BY
    * the assignment column" step [[ivfTopK]]'s doc promises. Pay the
    * assignment scan once at build; every later probe batch reads
    * nProbe directories instead of the corpus.
    */
  def ivfWritePartitioned(
      corpus: DataFrame, centroids: DataFrame, path: String): Unit =
    assignWithCodebook(corpus, loadCodebook(centroids))
      .write.partitionBy("centroid_id").parquet(path)

  /** Probe a materialized IVF index ([[ivfWritePartitioned]]) with
    * STATIC partition pruning: the routed list ids are known before
    * the scan (they come from the literal codebook, not from data —
    * at most k of them, the bounded-model idiom), so the reader
    * filters `centroid_id IN (lists)` and the file index lists ONLY
    * those directories. At 100 TB with thousands of lists and
    * nProbe≈4 per probe set, the scan touches a few thousandths of
    * the corpus — this, not the in-query assignment, is the serving
    * path. Partition pruning is asserted via `selectedPartitions` in
    * IvfPartitionedSpec; results are bit-identical to [[ivfTopK]]
    * with the same codebook (same routing and re-rank code, vec
    * round-trips parquet floats exactly), so both answer to one
    * oracle.
    *
    * The partition column reads back as INT (hive partition-value
    * inference); both sides of the route join are cast to int so the
    * pruning predicate sits directly on the partition column with no
    * cast above it.
    */
  def ivfTopKPartitioned(
      spark: SparkSession, indexPath: String, probes: DataFrame,
      centroids: DataFrame, k: Int, nProbe: Int): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    require(nProbe > 0, s"nProbe must be positive, got $nProbe")
    val code = loadCodebook(centroids)
    // the partition values round-trip hive inference as INT — a wider
    // centroid id would silently wrap under the cast below and prune
    // every real directory, so refuse it up front
    require(code.forall(c => c._1 >= 0 && c._1 <= Int.MaxValue),
      "centroid ids must fit a non-negative Int (hive partition-value " +
        "inference reads them back as int)")
    val probed = routeProbes(probes, code, nProbe)
      .withColumn("centroid_id", col("centroid_id").cast("int"))
    // distinct routed list ids — bounded by the codebook size (≤ 256),
    // never data-sized
    val lists = probed.select(col("centroid_id")).distinct()
      .collect().map(_.getInt(0)).sorted
    val pruned = spark.read.parquet(indexPath)
      .filter(col("centroid_id").isin(lists.toIndexedSeq: _*))
    rerankRoutedLists(pruned, probed, k)
  }

  /** Approximate top-k: candidates share >= 1 of 4 sign-LSH bands with
    * the probe, re-ranked by exact cosine.
    *
    * A candidate pair can surface from up to 4 bands, and the bounded
    * heap must not count it more than once, so pairs are deduped first —
    * as an aggregation on (probe_id, neighbor_id) whose map-side partial
    * combine collapses same-partition repeats (cheaper than the old
    * dropDuplicates + row_number() window, which shuffled and sorted the
    * FULL candidate set by probe alone). The final exchange then carries
    * at most k rows per probe per partition through `TopKAggregator`.
    */
  def lshTopK(
      corpus: DataFrame, probes: DataFrame, k: Int,
      dim: Int, seed: Long = 42L): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val planes = hyperplanes(dim, 16, seed)
    val bandsOf = 4 // 16 bits as 4 × 4-bit bands

    // The vector norm rides the banded rows (computed ONCE per input
    // row, before the 4× band explode), so the per-pair score below is
    // one dot + one divide — cosineSimilarity here would recompute
    // both norms per banded candidate pair.
    def banded(df: DataFrame, idCol: String) = df
      .select(col(idCol), col("vec"),
        VectorOps.norm(col("vec")).as("__nrm"),
        packedSignBits(col("vec"), planes).as("bits"))
      .select(col(idCol), col("vec"), col("__nrm"),
        explode(array((0 until planes.length / bandsOf).map { b =>
          struct(lit(b).as("band"),
            bucketOfBits(col("bits"), b, bandsOf).as("bucket"))
        }: _*)).as("bb"))
      .select(col(idCol), col("vec"), col("__nrm"),
        col("bb.band").as("band"), col("bb.bucket").as("bucket"))

    // The probe side is broadcast EXPLICITLY (bruteForceTopK's
    // contract: probes are the bounded side): a size-estimate miss
    // would otherwise fall back to a sort-merge join that shuffles 4
    // banded copies of every corpus VECTOR — with the broadcast, the
    // corpus never crosses the wire; only (probe_id, neighbor_id,
    // cos_raw) reaches the dedup exchange.
    banded(corpus, "id").as("c")
      .join(broadcast(banded(probes, "probe_id").as("p")), Seq("band", "bucket"))
      .filter(col("c.id") =!= col("p.probe_id"))
      .select(col("p.probe_id"), col("c.id").as("neighbor_id"),
        VectorOps.guardCos(try_divide(
          VectorOps.dot(col("c.vec"), col("p.vec")),
          col("c.__nrm") * col("p.__nrm"))).as("cos_raw"))
      .groupBy(col("probe_id"), col("neighbor_id"))
      .agg(first(col("cos_raw")).as("cos_raw"))
      .groupBy(col("probe_id"))
      .agg(TopK.topK(k)(col("neighbor_id"), col("cos_raw")).as("nn"))
      .select(col("probe_id"), explode(col("nn")).as("n"))
      .select(col("probe_id"), col("n.id").as("neighbor_id"),
        round(col("n.score"), 6).as("cos_sim"))
  }
}
