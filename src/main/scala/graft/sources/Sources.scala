package graft.sources

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, count, lit, max, min}
import org.apache.spark.sql.types.StructType

import graft.model.Schemas

/** Source readers. Every raw read declares its schema explicitly and
  * fails fast on MALFORMED input (FAILFAST aborts on any
  * non-parseable line), mirroring the reference's crash-and-retry
  * (`airflow/dags/etl_dag.py:81`, retries at `:331-332`).
  *
  * FAILFAST does NOT cover an ABSENT field: a well-formed record
  * missing a schema field parses with that field NULL in every mode —
  * a producer renaming `data.stations` would load rows whose payload
  * is silently empty. The crash-on-missing-field half of the
  * reference's behavior (pandas KeyError) therefore lives in
  * [[graft.ingest.Ingest]], which checks the required top-level field
  * of the one-row API snapshot after parse.
  *
  * S3 note: the reference downloads objects to /tmp first
  * (`etl_dag.py:74-78`); Spark reads `s3a://` paths natively through the
  * Hadoop filesystem layer, so the same helpers serve local, HDFS, and
  * object-store paths unchanged.
  */
object Sources {

  /** Raw vélib GBFS snapshots (JSON lines, one snapshot per line).
    * Mirrors `etl_dag.py:221-222`.
    */
  def readVelibRaw(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(Schemas.velibRaw)
      .option("mode", "FAILFAST").json(path)

  /** Raw OpenWeatherMap snapshots. Mirrors `etl_dag.py:80-81`. */
  def readWeatherRaw(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(Schemas.weatherRaw)
      .option("mode", "FAILFAST").json(path)

  /** PERMISSIVE-tier JSON read: the quarantine mode for feeds where
    * one bad producer line must not kill the load (FAILFAST remains
    * the default contract above — permissive is an explicit opt-in,
    * never a silent downgrade). Malformed lines surface whole in the
    * `_corrupt` column with every schema field NULL, so the caller
    * can split good rows from quarantine rows in one pass and land
    * the quarantine for replay — the standard dead-letter pattern.
    */
  /** The dead-letter schema shared by the batch and streaming
    * permissive readers — ONE definition so the quarantine column's
    * name/type cannot drift between the two tiers, with the
    * caller-schema collision caught here (a schema already carrying
    * `_corrupt` would otherwise produce a duplicate-column frame).
    */
  private def corruptSchema(schema: StructType): StructType = {
    require(!schema.fieldNames.contains("_corrupt"),
      "caller schema already has a '_corrupt' column — the permissive " +
        "readers reserve that name for the quarantine channel")
    schema.add("_corrupt", org.apache.spark.sql.types.StringType)
  }

  def readJsonPermissive(
      spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read
      .schema(corruptSchema(schema))
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt")
      .json(path)

  /** Headered CSV with explicit schema — the staging-zone re-read
    * (`airflow/plugins/s3_to_postgres.py:60`), minus the reference's
    * dtype re-inference (SURVEY.md §1.3: inference only as compat
    * fallback).
    */
  def readCsv(spark: SparkSession, path: String, schema: StructType): DataFrame =
    // FAILFAST: the object contract (and both JSON readers) promise a
    // malformed cell fails the load — the CSV default (PERMISSIVE)
    // would silently null it into the warehouse
    spark.read.option("header", "true").option("mode", "FAILFAST")
      .schema(schema).csv(path)

  /** Streaming twin of [[readJsonPermissive]]: the same dead-letter
    * contract over a file-drop stream — one malformed producer line
    * must not kill a continuous load, and the quarantine channel
    * (`_corrupt`) flows through the SAME micro-batches as the good
    * rows so replay keeps ordering context. FAILFAST remains the
    * batch default; streaming has no failfast worth wanting (a poison
    * line would wedge the query on every restart), which is exactly
    * why the permissive tier exists.
    */
  def readJsonPermissiveStream(
      spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.readStream
      .schema(corruptSchema(schema))
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt")
      .json(path)

  /** Compat fallback: schema-inferring CSV read, byte-for-byte the
    * reference loader's behavior.
    */
  def readCsvInferred(spark: SparkSession, path: String): DataFrame =
    spark.read.option("header", "true").option("inferSchema", "true").csv(path)

  /** Harness table loader (TESTDATA.md layout). Delegates to
    * `QueryUtil.table`, which also normalizes TIMESTAMP(NANOS) parquet
    * columns Spark cannot otherwise read (events.ts).
    */
  def table(spark: SparkSession, sfDir: String, name: String): DataFrame =
    graft.queries.QueryUtil.table(spark, sfDir, name)

  /** Columnar ORC read — the second columnar lake format Spark ships
    * natively. Schema travels in the files (like parquet), so no
    * explicit schema argument; predicate pushdown and column pruning
    * reach the ORC reader exactly as they do the parquet one.
    */
  def readOrc(spark: SparkSession, path: String): DataFrame =
    spark.read.orc(path)

  /** Raw media directory ingestion: every file under `path` becomes one
    * row of (path, modificationTime, length, content<binary>) — the
    * front door of the multimodal pipeline
    * ([[graft.multimodal.Multimodal]] consumes the binary column).
    *
    * Scale shape: `binaryFile` rows are never split, and Spark packs
    * whole files into tasks by `spark.sql.files.maxPartitionBytes` —
    * right for media blobs (a codec needs the whole payload anyway).
    * Pruning happens at LISTING time: `pathGlobFilter` and partition
    * directories cut files before a byte is read, so a 100 TB media
    * lake partitioned by date/source only lists and reads the slice a
    * job asks for. Driver-side file-status memory is the practical
    * bound — at extreme file counts, ingest from a manifest table
    * instead (the same downstream contract).
    */
  def readBinaryFiles(
      spark: SparkSession, path: String, glob: String = "*"): DataFrame =
    spark.read.format("binaryFile")
      .option("pathGlobFilter", glob).load(path)

  /** Manifest-driven binary ingest — the extreme-file-count path
    * [[readBinaryFiles]]'s Scaladoc names: at hundreds of millions of
    * media files, directory LISTING itself becomes the bottleneck
    * (driver-side file-status memory, object-store LIST throttling),
    * so production corpora carry a manifest TABLE of object paths
    * (WebDataset-style). This reads the payloads FROM that manifest:
    * the manifest is an ordinary DataFrame (filterable, joinable,
    * partitionable — selection pushdown happens in the manifest query,
    * not the filesystem), and each executor opens its partition's
    * files through the Hadoop FS layer — so local, HDFS, and `s3a://`
    * paths all work, and parallelism is `manifest.repartition(n)`,
    * not listing fan-out.
    *
    * Missing files fail the task by default (a manifest pointing at
    * absent objects is corrupt — fail fast, like FAILFAST JSON); with
    * `skipMissing=true` they are dropped, for reading a lake mid-
    * compaction (the caller audits counts — the same explicit-opt-in
    * contract as the PERMISSIVE tier). The Hadoop `FileSystem` handle
    * comes from the per-JVM cache, so `mapPartitions` pays no
    * per-partition client setup.
    *
    * Output: (path, length, content) — the [[readBinaryFiles]]
    * downstream contract minus modificationTime (a manifest row, not
    * the filesystem, is the source of truth at this scale).
    */
  def readBinaryManifest(
      spark: SparkSession, manifest: DataFrame, pathCol: String,
      skipMissing: Boolean = false): DataFrame = {
    import spark.implicits._
    // serializable snapshot of the Hadoop conf for executor-side use
    val confBc = spark.sparkContext.broadcast(
      new org.apache.spark.util.SerializableConfiguration(
        spark.sparkContext.hadoopConfiguration))
    val skip = skipMissing
    manifest.select(
        org.apache.spark.sql.functions.col(pathCol).cast("string")).as[String]
      .mapPartitions { paths =>
        val conf = confBc.value.value
        paths.flatMap { p =>
          val hp = new org.apache.hadoop.fs.Path(p)
          val fs = hp.getFileSystem(conf) // per-JVM cached handle
          // ONE metadata call (existence + length together): an
          // exists()-then-open() probe would pay extra object-store
          // HEADs per file. Under skipMissing the FNF catch covers the
          // WHOLE status+open+read sequence, not just the status call:
          // the compactor this flag exists for can delete the object
          // between getFileStatus and open (or mid-read on a lazy-open
          // store) — a guard on the status call alone still failed the
          // task in exactly the mid-compaction window it documents.
          def readOne(): Option[(String, Long, Array[Byte])] = {
            val st = fs.getFileStatus(hp)
            val len = st.getLen
            // whole-payload rows stop at the JVM array limit — a
            // silent toInt wrap would truncate content while
            // reporting the full length (corruption, not an error)
            // Int.MaxValue - 8: HotSpot's real array ceiling sits a
            // few elements under Int.MaxValue — admitting the edge
            // would trade this message for an opaque
            // "Requested array size exceeds VM limit" OOM
            require(len <= Int.MaxValue - 8,
              s"$p is $len bytes; single-row payloads are capped at " +
                "2 GiB — chunk oversized media at write time")
            val in = fs.open(hp)
            try {
              val buf = new Array[Byte](len.toInt)
              in.readFully(0, buf)
              Some((p, len, buf))
            } finally in.close()
          }
          val row =
            try readOne()
            catch {
              // EOF covers truncate-during-read on stores that shrink
              // in place rather than delete-then-replace
              case _: java.io.FileNotFoundException if skip => None
              case _: java.io.EOFException if skip => None
            }
          row.iterator
        }
      }.toDF("path", "length", "content")
  }

  /** JDBC scan (S7): reads a table back from an RDBMS with partitioned
    * parallelism — numPartitions stride ranges on partitionColumn, each
    * fetched by its own task, with filter pushdown into the source
    * (plan-asserted in JdbcSpec). Exercised offline against an embedded
    * Derby warehouse (`q_sink_jdbc`); the url decides the backend.
    */
  def readJdbc(
      spark: SparkSession, url: String, table: String,
      partitionColumn: String, lowerBound: Long, upperBound: Long,
      numPartitions: Int, props: java.util.Properties): DataFrame =
    spark.read
      .option("partitionColumn", partitionColumn)
      .option("lowerBound", lowerBound)
      .option("upperBound", upperBound)
      .option("numPartitions", numPartitions)
      .jdbc(url, table, props)

  /** Metadata-only table stats: COUNT(*) plus per-column MIN/MAX served
    * from parquet FOOTERS via DSv2 aggregate pushdown — a petabyte
    * table answers without touching a single data page (the scan's
    * read schema IS the aggregate, `PushedAggregation` in the plan).
    * This is the audit primitive behind "how big is this corpus /
    * what's its key range" at 100 TB, where the naive agg is a full
    * scan.
    *
    * Pushdown only exists on the v2 parquet path and only for
    * nullable-free-safe aggregates (no filters, no DISTINCT, no
    * nested/timestamp-with-rebase columns), so the method REQUIRES the
    * pushed plan rather than silently degrading: if Spark declines to
    * push (e.g. a column type without footer stats), this throws
    * instead of running a 100 TB scan that looks like a metadata read.
    * Execution happens eagerly inside the conf bracket (a lazy frame
    * would plan under restored confs), returning the single stats row.
    *
    * CONTRACT: the bracket mutates SESSION confs (aggregate pushdown
    * has no per-read option), so concurrent planning on the same
    * SparkSession during the bracket may route through the DSv2 path
    * — call from the session's single driving thread, as the harness
    * does; two overlapping calls could restore each other's
    * intermediate values.
    */
  def footerStats(
      spark: SparkSession, path: String, cols: Seq[String]): Row = {
    val prevPush = spark.conf.get("spark.sql.parquet.aggregatePushdown")
    val prevV1 = spark.conf.get("spark.sql.sources.useV1SourceList")
    spark.conf.set("spark.sql.parquet.aggregatePushdown", "true")
    spark.conf.set("spark.sql.sources.useV1SourceList", "")
    try {
      val aggs = count(lit(1)).as("n_rows") +: cols.flatMap(c =>
        Seq(min(col(c)).as(s"min_$c"), max(col(c)).as(s"max_$c")))
      val frame = spark.read.parquet(path).agg(aggs.head, aggs.tail: _*)
      val plan = frame.queryExecution.executedPlan.toString
      require(plan.contains("PushedAggregation: [COUNT(*)"),
        s"aggregate did not push to parquet footers — refusing the " +
          s"silent full scan:\n$plan")
      frame.collect().head
    } finally {
      spark.conf.set("spark.sql.parquet.aggregatePushdown", prevPush)
      spark.conf.set("spark.sql.sources.useV1SourceList", prevV1)
    }
  }
}
