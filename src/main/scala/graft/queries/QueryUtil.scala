package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Shared helpers for the oracle-checked query registry.
  *
  * Determinism rules (SURVEY.md §7.4.5 — DuckDB parity traps):
  *  - Every aggregate over doubles goes through an exact DECIMAL(18,2/4)
  *    cast so the sum is order-independent (shuffle order differs between
  *    engines; double addition does not commute). The testdata money/qty
  *    columns carry <= 2 decimals (verified), so the cast is lossless.
  *  - Every query ends in a total-order ORDER BY.
  *  - Column names are aliased identically in Spark and oracle SQL.
  */
object QueryUtil {

  /** Root of the checkout holding the committed fixtures. The harness
    * pins the repo at /root/repo; any other checkout sets
    * -Dgraft.repo.root=... (or GRAFT_REPO_ROOT) so the fixture-driven
    * queries don't silently read an empty directory and hash-mismatch
    * their pinned VALUES oracles.
    */
  lazy val repoRoot: String =
    sys.props.get("graft.repo.root")
      .orElse(sys.env.get("GRAFT_REPO_ROOT"))
      .getOrElse("/root/repo")

  /** Committed-fixture directory under [[repoRoot]]. */
  lazy val fixtureRoot: String = s"$repoRoot/fixtures"

  /** Tables whose parquet carries TIMESTAMP(NANOS) columns (here: the
    * harness's `events.ts`). Scoped by table name so the generic loader
    * never reinterprets an ordinary bigint that happens to be named
    * `ts` (epoch-seconds logs etc.) as nanoseconds.
    */
  private val NanosTimestampCols: Map[String, Seq[String]] =
    Map("events" -> Seq("ts"))

  /** Top-level TIMESTAMP(NANOS) columns of a parquet file/directory, read
    * from footers on the driver (footers, a few ms each — not a scan).
    * Memoized per path: `table()` is called per query per pass and the
    * footer never changes under the harness. The part-file search is
    * RECURSIVE so a partitioned layout (part files under key=value
    * subdirs) still gets the fail-fast check — a non-recursive listing
    * would silently find no footer and vacuously pass. EVERY part
    * file's footer is inspected, not just the first found: writers can
    * disagree across part files (schema evolution mid-table), and a
    * first-file-only probe read a mixed table vacuously clean — the
    * undeclared-nanos fail-fast then never fired while the scan later
    * died on the opaque PARQUET_TYPE_ILLEGAL this check exists to
    * preempt (harness tables hold a handful of part files; the cache
    * makes the cost once-per-path either way).
    */
  private val nanosFooterCache =
    scala.collection.concurrent.TrieMap.empty[String, Seq[String]]

  private def nanosColumnsInFooter(
      spark: SparkSession, path: String): Seq[String] =
    nanosFooterCache.getOrElseUpdate(path, {
      import scala.jdk.CollectionConverters._
      import org.apache.hadoop.fs.Path
      import org.apache.parquet.hadoop.ParquetFileReader
      import org.apache.parquet.hadoop.util.HadoopInputFile
      import org.apache.parquet.schema.LogicalTypeAnnotation
      val conf = spark.sessionState.newHadoopConf()
      val p = new Path(path)
      val fs = p.getFileSystem(conf)
      val files = scala.collection.mutable.ListBuffer.empty[Path]
      val it = fs.listFiles(p, true) // recursive; yields p itself if a file
      while (it.hasNext) {
        val f = it.next().getPath
        if (f.getName.endsWith(".parquet")) files += f
      }
      files.toList.flatMap { f =>
        val reader = ParquetFileReader.open(HadoopInputFile.fromPath(f, conf))
        try {
          reader.getFileMetaData.getSchema.getFields.asScala.collect {
            case fld => (fld.getName, fld.getLogicalTypeAnnotation)
          }.collect {
            case (n, t: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation)
                if t.getUnit == LogicalTypeAnnotation.TimeUnit.NANOS => n
          }.toSeq
        } finally reader.close()
      }.distinct
    })

  /** Per-session memo of the resolved base-table frames, keyed by
    * (path, file-listing fingerprint). `spark.read.parquet` costs
    * ~50-110 ms PER CALL on the driver (fresh InMemoryFileIndex listing
    * + footer schema inference + relation resolution), and the registry
    * resolves each table once per query per pass — several hundred
    * redundant resolutions per bench run of metadata that cannot change
    * under the harness. Reusing the analyzed relation is the catalog /
    * metastore shape (a production engine registers a table ONCE and
    * every query resolves it from the catalog; at 100 TB re-listing a
    * manifest per query is the §6 anti-pattern this memo removes).
    * NOT result caching: the value is a lazy plan over the parquet
    * files — every action still scans the files — and the memo holds
    * ONE session's frames (swapped out when the harness recycles
    * sessions, so frames never outlive their SparkContext and a bench
    * pass re-resolves once per session chunk). The fingerprint key
    * (name+length+mtime walk, microseconds on these tables) makes an
    * in-place table rewrite re-resolve instead of serving a stale
    * FileIndex — same contract as [[Scratch.tableFingerprint]].
    */
  private val tableFrameCache =
    new java.util.concurrent.atomic.AtomicReference[
      (SparkSession, scala.collection.concurrent.TrieMap[(String, String), DataFrame])](null)

  def table(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val entry = tableFrameCache.updateAndGet { cur =>
      if (cur != null && (cur._1 eq spark)) cur
      else (spark, scala.collection.concurrent.TrieMap.empty[(String, String), DataFrame])
    }
    val fp = Scratch.tableFingerprint(sfDir, name)
    entry._2.getOrElseUpdate((s"$sfDir/$name.parquet", fp),
      resolveTable(spark, sfDir, name))
  }

  private def resolveTable(
      spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val path = s"$sfDir/$name.parquet"
    val declared = NanosTimestampCols.getOrElse(name, Nil)
    // TIMESTAMP(NANOS) parquet: Spark has no nanosecond timestamp type
    // and rejects the file outright (PARQUET_TYPE_ILLEGAL) unless the
    // legacy conf surfaces it as an epoch-nanos long. Cast it back to
    // microsecond TimestampType (integral `div` — no double round-trip),
    // which is exactly DuckDB's ns->us truncation, so the oracle compare
    // sees identical values.
    //
    // The conf is necessarily session-wide AND must stay set once a
    // nanos table is in play: the parquet scan re-reads session conf at
    // EVERY execution (buildReaderWithPartitionValues snapshots it per
    // action), so a save/restore around the read would crash the frame's
    // next action. Fail-fast for everything else is preserved
    // differently: the loader peeks at each table's parquet footer and
    // refuses any TIMESTAMP(NANOS) column that is not declared in
    // `NanosTimestampCols` — an undeclared nanos table errors loudly at
    // load with an actionable message instead of silently surfacing
    // bigints once the latch is on. Residual scope, stated honestly:
    // the footer check covers only reads routed through THIS loader;
    // a direct s.read.parquet of some other nanos-bearing file after
    // the latch is on would surface bigint silently — acceptable for
    // the harness (every registry table loads through here; scratch
    // round-trips write micros), wrong for a general library, where
    // the latch would need to be per-read.
    val actualNanos = nanosColumnsInFooter(spark, path)
    val undeclared = actualNanos.filterNot(declared.contains)
    require(undeclared.isEmpty,
      s"table '$name' has undeclared TIMESTAMP(NANOS) column(s) " +
        s"${undeclared.mkString(", ")}; declare them in " +
        "QueryUtil.NanosTimestampCols (with the micros cast) to load this table")
    if (actualNanos.nonEmpty) {
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    }
    val df = spark.read.parquet(path)
    // The cast keys off the ACTUAL read type, not the declaration: the
    // harness has shipped events.ts as both TIMESTAMP(NANOS) (surfaced
    // as epoch-nanos long under the legacy conf) and plain
    // timestamp[us] (surfaced as TIMESTAMP_NTZ) across regenerations.
    // Either way the column lands as session-zone TimestampType with
    // identical microsecond instants (session TZ is UTC everywhere), so
    // every downstream query and oracle sees one stable type.
    declared.foldLeft(df) { (d, c) =>
      d.schema.find(_.name == c).map(_.dataType) match {
        case Some(org.apache.spark.sql.types.LongType) =>
          d.withColumn(c, expr(s"timestamp_micros($c div 1000)"))
        case Some(org.apache.spark.sql.types.TimestampNTZType) =>
          d.withColumn(c, col(c).cast("timestamp"))
        case _ => d
      }
    }
  }

  /** Order-independent sum of a <=2-decimal double column, as double. */
  def dsum(c: Column): Column =
    sum(c.cast(DecimalType(18, 2))).cast("double")

  /** Order-independent sum for derived 4-decimal expressions. */
  def dsum4(c: Column): Column =
    sum(c.cast(DecimalType(18, 4))).cast("double")

  /** Deterministic average: exact decimal sum (as double) over the
    * NON-NULL count — SQL AVG semantics, so a NULL-bearing column
    * cannot silently diverge from a DuckDB oracle's AVG (count(1)
    * would divide the null-skipping sum by ALL rows).
    */
  def davg(c: Column): Column =
    dsum(c) / count(c)

  private val scratchRoots =
    new java.util.concurrent.ConcurrentLinkedQueue[java.nio.file.Path]
  private lazy val scratchCleanupHook: Unit =
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      scratchRoots.forEach { p =>
        // NonFatal, not IOException: the lazy walk stream throws
        // UncheckedIOException/DirectoryIteratorException if a dir
        // vanishes mid-traversal (e.g. Spark's own shutdown hooks run
        // concurrently) — one bad root must not strand the rest
        try {
          val walk = java.nio.file.Files.walk(p)
          try walk
            .sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
            .forEach(f =>
              try { java.nio.file.Files.deleteIfExists(f); () }
              catch { case scala.util.control.NonFatal(_) => () })
          finally walk.close()
        } catch { case scala.util.control.NonFatal(_) => () }
      }))

  /** Deterministic-order output tail for queries whose pipeline sits
    * ABOVE no shuffle: `orderBy`'s RangePartitioning runs a SAMPLING
    * job over its child before the real pass, and when the child is a
    * broadcast-join/map-only cascade (the pair miners), there is no
    * materialized shuffle stage for AQE to reuse — the entire mining
    * pipeline executes TWICE (r12 stage log: two ~equal heavy stages,
    * the first with zero shuffle write = the sampler). Queries with an
    * aggregation exchange directly below their orderBy don't pay this
    * (the sampler re-reads the materialized stage), so this helper is
    * for the miner shape only.
    *
    * `repartitionByRange(1, cols)` + `sortWithinPartitions(cols)`
    * produces the IDENTICAL rows in the IDENTICAL global order (one
    * range partition = one total sort), but a 1-partition
    * RangePartitioner needs no bounds, so NO sampling job runs and
    * the child executes once. The single-task final sort is the
    * deliberate trade: these outputs are oracle-sized (pair lists,
    * survivor ids — thousands of rows), and the upstream pipeline
    * keeps its full parallelism on the map side of the exchange.
    * NOT for large outputs (full-table projections keep `orderBy`).
    */
  def sortedSmall(df: DataFrame, cols: org.apache.spark.sql.Column*): DataFrame =
    df.repartitionByRange(1, cols: _*).sortWithinPartitions(cols: _*)

  /** Spread a NARROW-SOURCE frame across the session's cores before a
    * CPU-heavy derivation. The local test tables are single-file,
    * single-row-group parquet, so every scan is ONE task and a heavy
    * per-row pipeline above it (shingling, 128-permutation MinHash)
    * runs serially while 31 cores idle (r13 stage log: the mining
    * prelude of q_dedup_canonical spent 4.1 s wall in a 1-task stage).
    * A round-robin repartition to `defaultParallelism` fixes that for
    * a few MB of shuffle.
    *
    * Scale-adaptive, not a local constant: when the source already
    * scans as >= cores partitions — the 100 TB shape, where an extra
    * full-corpus shuffle would be exactly the §2.3 mistake — this is
    * a NO-OP (no repartition node is added at all). Row order changes
    * are invisible to every caller: the consumers are aggregations,
    * equi-joins and min/verify pipelines, never order-sensitive.
    */
  def spread(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions >= target) df else df.repartition(target)
  }

  /** Per-invocation scratch directory for the sink/ingest round-trip
    * queries, registered for recursive deletion at JVM exit — the
    * bench runs every query 2-3 times per round, and without cleanup
    * each round strands a dozen directories (including full CSV table
    * copies) on a long-lived host.
    */
  def scratchDir(prefix: String): String = {
    scratchCleanupHook
    val p = java.nio.file.Files.createTempDirectory(prefix)
    scratchRoots.add(p)
    p.toString
  }

  /** Probe the non-replacing raw-zone contract shared by
    * q_sink_rawjson and the two ingest queries: run `write` once (must
    * succeed), then AGAIN — the re-land against the same key must fail
    * with AnalysisException (path exists). Returns whether it failed,
    * for pinning into an oracle column; one definition so a change in
    * Spark's thrown type cannot silently flip one query's flag and not
    * another's.
    */
  def relandFails(write: => Unit): Boolean = {
    write
    try { write; false }
    catch {
      // the PATH-EXISTS refusal specifically, not any AnalysisException:
      // an unrelated analysis failure on the second write (a Spark
      // upgrade reclassifying the check, an invalidated parent) must
      // not be certified into the oracle as the non-replacing contract
      // holding. Error class when present, message fallback for forms
      // that carry only text.
      case e: org.apache.spark.sql.AnalysisException
          if Option(e.getCondition).exists(_.contains("ALREADY_EXISTS")) ||
            Option(e.getMessage).exists(_.toLowerCase.contains("already exists")) =>
        true
    }
  }
}
