package graft

import org.apache.spark.sql.functions._

/** Plan-shape regression net (SURVEY §5.2): the registered queries must
  * keep the physical plans that make them scale — no accidental
  * cartesian products, broadcasts where intended, top-k without a full
  * sort. Runs against sf0.001 so planning (not data) is what's tested.
  */
class PlanShapeSpec extends SparkTestBase {

  private val Sf = "/root/testdata/sf0.001"

  private def plan(name: String): String =
    planString(SparkEntry.queries(name)(spark, Sf))

  test("registry sweep: no cartesian product, no DecimalType in a final schema") {
    // One pass builds every registered query (side effects and all), so
    // both invariants ride the same sweep. The decimal rule exists
    // because the driver canonicalizes the DuckDB oracle through
    // pandas, which floats DECIMAL: a Spark-side Decimal serializes
    // "73.00" against the oracle's "73.0" and hash-mismatches on every
    // trailing-zero value — the entire r6-r8 q_sink_jdbc red, and a
    // latent data-dependent trap in any query that ships one. Keep
    // aggregation decimal-exact internally; final-cast to DOUBLE.
    SparkEntry.queries.keys.foreach { name =>
      val df = SparkEntry.queries(name)(spark, Sf)
      val p = planString(df)
      assert(!p.contains("CartesianProduct"),
        s"$name degenerated to a cartesian product:\n$p")
      val decimals = df.schema.fields.collect {
        case f if f.dataType.isInstanceOf[org.apache.spark.sql.types.DecimalType] =>
          f.name
      }
      assert(decimals.isEmpty,
        s"$name ships DecimalType column(s) ${decimals.mkString(", ")} in its " +
          "FINAL projection — cast to double (driver's pandas canonicalization " +
          "floats the oracle side; trailing zeros hash-mismatch)")
    }
  }

  test("q_join_broadcast: dimension chain is broadcast, fact side not shuffled for the join") {
    val p = plan("q_join_broadcast")
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("q_topk plans as TakeOrderedAndProject (no global sort)") {
    val p = plan("q_topk")
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("q_agg_pricing: partial aggregation before the exchange") {
    val p = plan("q_agg_pricing")
    // HashAggregate appears twice (partial + final) around the exchange
    assert("HashAggregate".r.findAllIn(p).size >= 2, p)
  }

  test("q_pivot: explicit value list keeps pivot to ONE scan + one partial-combined agg") {
    val p = plan("q_pivot")
    // without the explicit values, pivot runs a distinct discovery job
    // and the plan (or a prior job) carries a second scan
    assert("Scan parquet".r.findAllIn(p).size === 1, p)
    assert("HashAggregate".r.findAllIn(p).size >= 2, p) // partial + final
  }

  test("q_unpivot: melt expands AFTER the aggregate (Expand above HashAggregate)") {
    val p = plan("q_unpivot")
    assert(p.contains("Expand"), p)
    assert("Scan parquet".r.findAllIn(p).size === 1, p)
  }

  test("parquet scans prune columns (ReadSchema is narrow)") {
    val p = plan("q_agg_pricing")
    val read = "ReadSchema: struct<([^>]*)>".r.findFirstMatchIn(p).map(_.group(1)).getOrElse("")
    // only the 5 referenced lineitem columns are read
    assert(read.split(",").length <= 6, s"scan reads too much: $read")
    assert(!read.contains("l_comment") && !read.contains("l_shipdate"), read)
  }

  test("filter is pushed down to the parquet scan") {
    val df = SparkEntry.queries("q_join_anti")(spark, Sf)
    val p = planString(df)
    assert(p.contains("PushedFilters: [IsNotNull(o_totalprice), GreaterThan(o_totalprice,400.0)")
      || p.contains("GreaterThan(o_totalprice,400.0)"), p)
  }

  test("q_join_salted: shuffled-hash join keyed on (suppkey, salt), not broadcast") {
    val p = plan("q_join_salted")
    assert(p.contains("ShuffledHashJoin"), p)
    assert(p.contains("__salt"), s"salt column missing from the join plan:\n$p")
    assert(!p.contains("BroadcastHashJoin"), s"broadcast defeats the salt demo:\n$p")
  }

  test("saltedEquiJoin returns exactly the plain join result") {
    val li = spark.read.parquet(s"$Sf/lineitem.parquet")
    val supp = spark.read.parquet(s"$Sf/supplier.parquet")
    val salted = rows(graft.operators.SkewJoin.saltedEquiJoin(
        li, supp, "l_suppkey", "s_suppkey", salts = 8,
        entropy = col("l_orderkey") * lit(8191) + col("l_linenumber"))
      .groupBy(col("s_suppkey")).agg(count(lit(1)).as("n"))
      .orderBy(col("s_suppkey")))
    val plain = rows(li.join(supp, col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("s_suppkey")).agg(count(lit(1)).as("n"))
      .orderBy(col("s_suppkey")))
    assert(salted === plain)
  }

  test("saltedEquiJoin works when both sides name the key identically") {
    // The common equi-join case: same column name on both sides. Keys
    // must resolve per-side or the join condition is AMBIGUOUS_REFERENCE.
    val li = spark.read.parquet(s"$Sf/lineitem.parquet")
      .select(col("l_suppkey").as("suppkey"), col("l_orderkey"), col("l_linenumber"))
    val supp = spark.read.parquet(s"$Sf/supplier.parquet")
      .select(col("s_suppkey").as("suppkey"), col("s_name"))
    val out = graft.operators.SkewJoin.saltedEquiJoin(
        li, supp, "suppkey", "suppkey", salts = 4,
        entropy = col("l_orderkey") * lit(8191) + col("l_linenumber"))
    // The colliding key collapses to ONE column, so by-name references
    // on the result work (no AMBIGUOUS_REFERENCE, no positional-only use)
    assert(out.columns.count(_ == "suppkey") === 1)
    val n = out.groupBy(col("suppkey")).agg(count(lit(1))).count()
    val plain = li.join(supp, li("suppkey") === supp("suppkey"))
      .groupBy(li("suppkey")).agg(count(lit(1))).count()
    assert(n === plain)
  }

  test("bucketed tables join with zero exchanges — the shuffle was paid at write time") {
    val thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      graft.sources.Sinks.writeBucketedTable(
        spark.read.parquet(s"$Sf/lineitem.parquet"), "li_bkt", 8, "l_orderkey",
        sortCol = Some("l_orderkey"))
      graft.sources.Sinks.writeBucketedTable(
        spark.read.parquet(s"$Sf/orders.parquet"), "ord_bkt", 8, "o_orderkey",
        sortCol = Some("o_orderkey"))
      val joined = spark.table("li_bkt")
        .join(spark.table("ord_bkt"), col("l_orderkey") === col("o_orderkey"))
      // grouping on the bucket key keeps even the aggregation
      // exchange-free — the clustering survives the join
      val agged = joined.groupBy(col("o_orderkey")).agg(count(lit(1)).as("n"))
      Seq(planString(joined), planString(agged)).foreach { p =>
        assert(!p.contains("Exchange"),
          s"bucketed join must not shuffle either side:\n$p")
        // same bucket count on both sides -> sort-merge join, co-located
        assert(p.contains("SortMergeJoin"), p)
      }
      assert(joined.count() === spark.read.parquet(s"$Sf/lineitem.parquet")
        .join(spark.read.parquet(s"$Sf/orders.parquet"),
          col("l_orderkey") === col("o_orderkey")).count())
    } finally {
      spark.sql("DROP TABLE IF EXISTS li_bkt")
      spark.sql("DROP TABLE IF EXISTS ord_bkt")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thresh)
    }
  }

  test("sortWithinPartitions plans a partition-local sort, no exchange") {
    // write-layout control (SURVEY §2.7): order rows inside each
    // partition (e.g. for parquet run-length/delta encoding) WITHOUT
    // the global range shuffle a full orderBy pays
    val df = spark.read.parquet(s"$Sf/lineitem.parquet")
      .sortWithinPartitions(col("l_suppkey"), col("l_shipdate"))
    val p = planString(df)
    assert(p.contains("Sort") && p.contains("false"), p) // global=false sort
    assert(!p.contains("Exchange"),
      s"partition-local sort must not shuffle:\n$p")
  }

  test("q_agg_approx: HLL++ estimate within 5% of exact distinct count") {
    import org.apache.spark.sql.functions._
    // tight ±rsd assertion on the raw sketch (the registered query
    // exposes only the 3x-rsd boolean the driver checks)
    val both = rows(spark.read.parquet(s"$Sf/lineitem.parquet")
      .groupBy(col("l_returnflag"))
      .agg(approx_count_distinct(col("l_partkey")).as("a"),
        countDistinct(col("l_partkey")).as("n")))
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2)))
    both.foreach { case (k, (a, n)) =>
      assert(math.abs(a - n).toDouble / n < 0.05,
        s"flag $k: approx $a vs exact $n")
    }
    // and the registered partial-oracle row must report in-bound
    rows(SparkEntry.queries("q_agg_approx")(spark, Sf)).foreach { r =>
      assert(r.getBoolean(2), s"approx_ok false for ${r.getString(0)}")
    }
  }

  test("q_topk_groups: aggregator-based per-group top-k plans no Window") {
    val plan = SparkEntry.queries("q_topk_groups")(spark, Sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), plan)
    assert(plan.contains("ObjectHashAggregate") || plan.contains("SortAggregate"),
      plan)
  }

  test("q_agg_hll_merge: union of partial sketches == single-pass sketch, within 5% of exact") {
    import org.apache.spark.sql.functions._
    val li = spark.read.parquet(s"$Sf/lineitem.parquet")
    val merged = rows(li
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(hll_sketch_agg(col("l_partkey")).as("sk"))
      .groupBy(col("l_returnflag"))
      .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("n")))
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // single-pass sketch per returnflag (no intermediate cells)
    val direct = rows(li.groupBy(col("l_returnflag"))
      .agg(hll_sketch_estimate(hll_sketch_agg(col("l_partkey"))).as("n")))
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val exact = rows(li.groupBy(col("l_returnflag"))
      .agg(countDistinct(col("l_partkey")).as("n")))
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    exact.foreach { case (k, n) =>
      // union is order-independent but NOT bit-identical to single-pass
      // once sketches go dense (HLL_4 re-estimated through the HLL_8
      // union gadget; measured 1991 vs 1999 on 2000 distincts at
      // sf0.01) — assert tight agreement instead
      assert(math.abs(merged(k) - direct(k)).toDouble / direct(k) <= 0.01,
        s"flag $k: merged ${merged(k)} vs direct ${direct(k)}")
      assert(math.abs(merged(k) - n).toDouble / n < 0.05,
        s"flag $k: sketch ${merged(k)} vs exact $n")
    }
    // registered partial-oracle row: both driver-checked booleans true
    rows(SparkEntry.queries("q_agg_hll_merge")(spark, Sf)).foreach { r =>
      assert(r.getBoolean(2) && r.getBoolean(3),
        s"merge_consistent/approx_ok false for ${r.getString(0)}")
    }
  }

  test("q_agg_approxpct: quantile sketch within 2% of the exact percentile") {
    import org.apache.spark.sql.functions._
    val both = rows(spark.read.parquet(s"$Sf/lineitem.parquet")
      .groupBy(col("l_returnflag"))
      .agg(
        approx_percentile(col("l_extendedprice"), lit(0.5), lit(10000)).as("a50"),
        approx_percentile(col("l_extendedprice"), lit(0.95), lit(10000)).as("a95"),
        percentile(col("l_extendedprice"), lit(0.5)).as("p50"),
        percentile(col("l_extendedprice"), lit(0.95)).as("p95")))
    both.foreach { r =>
      val k = r.getString(0)
      assert(math.abs(r.getDouble(1) - r.getDouble(3)) / r.getDouble(3) < 0.02, s"$k p50")
      assert(math.abs(r.getDouble(2) - r.getDouble(4)) / r.getDouble(4) < 0.02, s"$k p95")
    }
    // registered partial-oracle row: bracket booleans the driver checks
    rows(SparkEntry.queries("q_agg_approxpct")(spark, Sf)).foreach { r =>
      assert(r.getBoolean(3) && r.getBoolean(4),
        s"p50_ok/p95_ok false for ${r.getString(0)}")
    }
  }

  test("q_embed_pairs: banded equi-join candidates, never a broadcast nested loop") {
    val p = plan("q_embed_pairs")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"pair mining degenerated to all-pairs:\n$p")
  }

  test("saltedEquiJoin fails fast when an input column collides with a salt column") {
    val li = spark.read.parquet(s"$Sf/lineitem.parquet")
      .withColumn("__salt_s", lit(1))
    val supp = spark.read.parquet(s"$Sf/supplier.parquet")
    val e = intercept[IllegalArgumentException] {
      graft.operators.SkewJoin.saltedEquiJoin(
        li, supp, "l_suppkey", "s_suppkey", salts = 4, entropy = col("l_orderkey"))
    }
    assert(e.getMessage.contains("__salt_s"))
    // the guard is SYMMETRIC: the final drop removes both salt names
    // across the whole joined frame, so the skewed side carrying the
    // OTHER side's salt name would silently lose that column
    val li2 = spark.read.parquet(s"$Sf/lineitem.parquet")
      .withColumn("__salt_o", lit(1))
    val e2 = intercept[IllegalArgumentException] {
      graft.operators.SkewJoin.saltedEquiJoin(
        li2, supp, "l_suppkey", "s_suppkey", salts = 4, entropy = col("l_orderkey"))
    }
    assert(e2.getMessage.contains("__salt_o"))
  }

  test("q_join_asof plans exactly one exchange (union + single window shuffle)") {
    val p = plan("q_join_asof")
    val n = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(n === 1, s"as-of should shuffle once, found $n:\n$p")
  }

  test("chunkByTokens is map-side only: scan -> generate, zero exchanges") {
    val df = graft.operators.Chunking.chunkByTokens(
      spark.read.parquet(s"$Sf/documents.parquet"), 100, 20)
    val p = planString(df)
    assert(!p.contains("Exchange"),
      s"chunking must not shuffle:\n$p")
    assert(p.contains("Generate"), p)
  }

  test("q_upsert: the anti join broadcasts the small update-key side") {
    val p = plan("q_upsert")
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"),
      s"upsert anti join should broadcast the update keys:\n$p")
  }

  test("capPerGroup plans one exchange on the group key (single ranking window)") {
    val df = graft.operators.Sampling.capPerGroup(
      spark.read.parquet(s"$Sf/documents.parquet"), "source", "doc_id", 5)
    val p = planString(df)
    val n = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(n === 1, s"quota sampling should shuffle once, found $n:\n$p")
  }

  test("temperatureResample: rates broadcast back — no shuffle of the corpus rows") {
    val p = planString(graft.operators.Sampling.temperatureResample(
      spark.read.parquet(s"$Sf/documents.parquet"), "lang", "doc_id", 0.5))
    assert(p.contains("BroadcastHashJoin"),
      s"per-group rates should broadcast onto the corpus:\n$p")
  }

  test("histogram: the bucket spine joins by broadcast, counts aggregate partially") {
    val p = planString(graft.operators.Profile.histogram(
      spark.read.parquet(s"$Sf/lineitem.parquet"),
      "l_extendedprice", 900.0, 105000.0, 20))
    assert(p.contains("BroadcastHashJoin"), p)
    assert("HashAggregate".r.findAllIn(p).size >= 2, p)
  }

  test("AQE splits a skewed shuffle join at runtime (the dynamic half of the skew playbook)") {
    // SkewJoin.saltedEquiJoin is the static fallback; the primary skew
    // remedy at 100 TB is AQE's runtime split, which needs no code
    // change. Prove it fires: one key holding ~90% of the rows, with
    // the skew thresholds scoped down to test-data sizes (defaults are
    // 256 MiB-scale, unreachable locally — clusters keep them).
    val conf = spark.conf
    val overrides = Seq(
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "1.0",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "20KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "20KB",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val prev = overrides.map { case (k, _) => k -> conf.get(k, null) }
    overrides.foreach { case (k, v) => conf.set(k, v) }
    try {
      import spark.implicits._
      val skewed = spark.range(0, 60000)
        .select((when(col("id") % 10 === 0, col("id") % 40).otherwise(lit(7L)))
          .as("k"), col("id").as("payload"))
      val dim = (0L until 40L).map(k => (k, s"dim_$k")).toDF("k", "name")
      val joined = skewed.join(dim, Seq("k"))
      // materialize THIS DataFrame's own query execution (count() would
      // plan a separate aggregate query and leave this plan unexecuted)
      assert(joined.collect().length === 60000)
      val p = planString(joined) // final adaptive plan after execution
      assert(p.contains("skew=true"),
        s"AQE did not mark the hot partition for skew split:\n$p")
    } finally prev.foreach { case (k, v) =>
      if (v == null) conf.unset(k) else conf.set(k, v)
    }
  }

  test("a selective dim filter injects a runtime bloom filter on the fact scan") {
    // The 100 TB scan-reduction feature the engine leans on for
    // fact⋈filtered-dim joins: Catalyst's InjectRuntimeFilter builds a
    // bloom filter from the filtered creation side and applies it as a
    // semi-join predicate on the fact side BEFORE the shuffle, so most
    // fact rows die at the scan. Locally the 10 GiB application-side
    // threshold can never trip, so it is lowered for the assertion —
    // the cluster default applies unchanged at real scale.
    val conf = spark.conf
    // Injection requires the join to be a probable SHUFFLE join and the
    // fact scan to clear the (10 GiB default) size threshold — neither
    // is reachable with kilobyte test data, so both knobs are scoped to
    // the planner's scale regime for the assertion; cluster defaults
    // apply unchanged at real scale.
    val overrides = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val prev = overrides.map { case (k, _) => k -> conf.get(k) }
    overrides.foreach { case (k, v) => conf.set(k, v) }
    try {
      val fact = spark.read.parquet(s"$Sf/lineitem.parquet")
      val dim = spark.read.parquet(s"$Sf/orders.parquet")
        .filter(col("o_totalprice") > 400.0)
      // no broadcast: the runtime filter targets shuffle joins
      val joined = fact.hint("merge")
        .join(dim, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderpriority")).agg(count(lit(1)).as("n"))
      val p = joined.queryExecution.optimizedPlan.toString
      assert(p.contains("might_contain"),
        s"no runtime bloom filter was injected:\n$p")
    } finally prev.foreach { case (k, v) => conf.set(k, v) }
  }

  test("q_ann_pq: the ADC LUT joins by broadcast; no sort-merge join of the corpus") {
    val p = plan("q_ann_pq")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"),
      s"ADC scoring must never shuffle-sort the corpus against the tiny LUT:\n$p")
  }

  test("q_embed_standard: per-dim stats broadcast back onto the exploded corpus") {
    val p = plan("q_embed_standard")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("q_sketch_heavy: candidate membership is a literal map-side filter, no join") {
    // the Misra-Gries candidates (<= k of them) ride the plan as an IN
    // list — the verify pass is scan + filter + one aggregate, with no
    // join operator of any kind (the totals also ride the same scan
    // now, so no second exchange either)
    val p = plan("q_sketch_heavy")
    assert(!p.contains("Join"), p)
    assert(p.contains(" IN ") || p.contains("key#"), p)
  }

  test("star schema: every dimension broadcasts, the fact table is never shuffled for joins") {
    // The canonical warehouse plan: fact joins N small dims -> N
    // BroadcastHashJoins stacked over ONE fact scan; a SortMergeJoin
    // would mean a dim crossed the broadcast threshold or stats lied.
    val fact = spark.read.parquet(s"$Sf/lineitem.parquet")
    val orders = spark.read.parquet(s"$Sf/orders.parquet")
    val part = spark.read.parquet(s"$Sf/part.parquet")
    val supplier = spark.read.parquet(s"$Sf/supplier.parquet")
    val p = planString(fact
      .join(orders, col("l_orderkey") === col("o_orderkey"))
      .join(part, col("l_partkey") === col("p_partkey"))
      .join(supplier, col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n")))
    assert("BroadcastHashJoin".r.findAllIn(p).size === 3, p)
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"), p)
  }

  test("q_ts_islands: both windows and the island aggregate share ONE exchange") {
    val p = plan("q_ts_islands")
    // one exchange for the per-key windows; the final orderBy adds a
    // range exchange. Anything more means the (key, island) aggregate
    // re-shuffled data the key partitioning already co-located.
    val exchanges = "Exchange".r.findAllIn(p).size
    assert(exchanges <= 2, s"expected <= 2 exchanges (window + output sort):\n$p")
  }

  test("q_join_notin plans a broadcast NULL-AWARE anti join, not a per-row subquery") {
    val p = plan("q_join_notin")
    // the trailing `true` on the BHJ line is isNullAwareAntiJoin —
    // single-column NOT IN compiled to one hashed broadcast pass
    assert("""BroadcastHashJoin .*LeftAnti, BuildRight, true""".r
      .findFirstIn(p).isDefined, p)
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
  }

  test("kFolds is a pure map-side projection: zero exchanges") {
    val docs = spark.read.parquet(s"$Sf/documents.parquet")
    val p = planString(graft.operators.Sampling.kFolds(docs, "doc_id", 5))
    assert(!p.contains("Exchange"), p)
  }

  test("trailingZscores: one hash partitioning serves both window frames") {
    import spark.implicits._
    val series = (1 to 40).map(i => ("k", i, i.toLong)).toDF("k", "b", "v")
    val p = planString(graft.operators.Anomaly.trailingZscores(
      series, "k", "b", "v", window = 5, minPrior = 3, threshold = 3.0))
    assert(p.split("Exchange").length - 1 === 1, p)
  }

  test("hashedFeatures: two aggregation exchanges, no join machinery") {
    val cust = spark.read.parquet(s"$Sf/customer.parquet")
    val p = planString(graft.operators.Features.hashedFeatures(
      cust, "c_custkey", Seq("c_mktsegment", "c_nationkey"), 32))
    assert(p.split("Exchange").length - 1 <= 2, p)
    assert(!p.contains("Join"), p)
  }

  test("stratifiedSample: one shuffle serves both the rank and size windows") {
    val docs = spark.read.parquet(s"$Sf/documents.parquet")
    val p = planString(graft.operators.Sampling.stratifiedSample(
      docs, "source", "doc_id", 1, 5))
    assert(p.split("Exchange").length - 1 === 1, p)
  }
}
