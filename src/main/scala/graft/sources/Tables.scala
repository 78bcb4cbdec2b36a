package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Source layer (SURVEY.md §2.1 S1-S6).
  *
  * The reference ingests CSV (pac_data_processor.py:19), SQL cursor results
  * (pac_snowflake_pipeline.py:38-65), and `pd.read_sql` frames
  * (index_align_to_firebase.py:118-141). Here every source is a lazy
  * DataFrame over the driver-generated parquet testdata; CSV/JDBC entry
  * points are provided for parity with the reference's surface.
  *
  * Scale note: parquet scans are the 100 TB path — columnar, predicate
  * pushdown, partition pruning all come from the DataSource V2 reader.
  */
final case class Tables(spark: SparkSession, dir: String) {
  private def t(name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  def region: DataFrame = t("region")
  def nation: DataFrame = t("nation")
  def customer: DataFrame = t("customer")
  def supplier: DataFrame = t("supplier")
  def part: DataFrame = t("part")
  def orders: DataFrame = t("orders")
  def lineitem: DataFrame = t("lineitem")

  /** events.ts has shipped in two physical encodings across testdata
    * generations, so the accessor sniffs the read schema instead of
    * hard-coding one:
    *
    *  - TIMESTAMP(NANOS) parquet — Spark's vectorized reader rejects it, so
    *    [[Tables.configure]]'s legacy nanosAsLong conf surfaces it as a raw
    *    LongType which we truncate to microsecond TimestampType;
    *  - plain timestamp[us] (no UTC adjustment) — arrives as TIMESTAMP_NTZ;
    *    cast to TimestampType, which under the UTC session timezone used by
    *    Verify/Bench/tests is value-preserving and keeps window/date_format
    *    semantics aligned with the DuckDB oracle.
    *
    * Either way consumers see one stable contract: `ts` is a microsecond
    * TimestampType column. */
  def events: DataFrame = {
    Tables.configure(spark)
    Tables.normalizeEventTs(t("events"))
  }
  def documents: DataFrame = t("documents")
  def embeddings: DataFrame = t("embeddings")
}

object Tables {
  /** Entries of Spark's generated-class cache (`CodeGenerator`), which is
    * built once per JVM at `spark.sql.codegen.cache.maxEntries` (default
    * 100). The cache is keyed by (thread context class loader, code), and
    * in local mode the driver thread and the task threads have different
    * loaders, so every generated body takes two entries: one pass of the
    * four pipelines plus the BPE loop uses 99 distinct bodies, about 200
    * keys. Guava splits the capacity into 4 LRU segments (25 entries each
    * at the default), so the passes' cyclic access evicted every class
    * before its reuse (147 recompiles a pass, 1–2.5 s of Janino). At 1000
    * a segment holds 250 entries, five times its ~50-key share of that
    * working set. */
  val CodegenCacheEntries = 1000

  private val log = org.slf4j.LoggerFactory.getLogger(classOf[Tables])
  private val codegenCacheTouched = new java.util.concurrent.atomic.AtomicBoolean(false)

  /** Session-level configuration — call once at SparkSession construction,
    * before the first query (Verify/Bench/tests/perfbench do). Idempotent
    * and cheap; `events` calls it defensively so ad-hoc sessions still work.
    *
    *  - `nanosAsLong`: surfaces events.ts's TIMESTAMP(NANOS) parquet, which
    *    the vectorized reader rejects (see [[Tables.events]]);
    *  - the generated-class cache is sized to [[CodegenCacheEntries]]: the
    *    session's static conf is raised (never lowered), then
    *    `CodeGenerator` is touched so its JVM-wide cache is built at that
    *    size. Code compiled before the first call already built the cache
    *    at the old size; that is logged once, as it cannot be undone. */
  def configure(spark: SparkSession): Unit = {
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    if (!spark.conf.getOption(key).contains("true")) spark.conf.set(key, "true")
    import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
    import org.apache.spark.sql.internal.{SQLConf, StaticSQLConf}
    val conf = spark.sessionState.conf
    val belowTarget = conf.getConf(StaticSQLConf.CODEGEN_CACHE_MAX_ENTRIES) < CodegenCacheEntries
    if (belowTarget) conf.setConf(StaticSQLConf.CODEGEN_CACHE_MAX_ENTRIES, CodegenCacheEntries)
    if (codegenCacheTouched.compareAndSet(false, true)) {
      // The first touch builds the cache, sized from this session's conf.
      val compiledBefore = SQLConf.withExistingConf(conf)(CodeGenerator.compileTime) > 0
      if (belowTarget && compiledBefore) log.warn("generated code was compiled before the " +
        s"first Tables.configure: Spark's codegen cache keeps the size it was built with, not $CodegenCacheEntries")
    }
  }

  /** The ts-encoding sniff behind [[Tables.events]] — shared with the
    * streaming reader ([[graft.streaming.EventStreams.readEvents]]), which
    * must resolve the same drift: a streaming source needs an explicit
    * schema, and pinning the wrong physical type silently misreads (a
    * LongType schema over timestamp[us] parquet "succeeds" — both are
    * INT64 on disk — and yields values off by 1000). Dispatch on whatever
    * type the reader actually produced; anything unrecognized is a loud
    * failure, never a silent misread. */
  def normalizeEventTs(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    df.schema("ts").dataType match {
      case LongType         => df.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case TimestampNTZType => df.withColumn("ts", col("ts").cast(TimestampType))
      case TimestampType    => df
      case other => throw new IllegalStateException(
        s"events.ts: unsupported physical type $other (expected int64 nanos, timestamp[us], or timestamp[us, UTC])")
    }
  }

  /** S1: CSV scan with header + schema inference
    * (pac_data_processor.py:19 `pd.read_csv`). */
  def csv(spark: SparkSession, path: String): DataFrame =
    spark.read.option("header", "true").option("inferSchema", "true").csv(path)

  /** S2/S3/S4: external SQL relation via JDBC (Snowflake cursor at
    * pac_snowflake_pipeline.py:38-65, read_sql at
    * pac_snowflake_realtime.py:64-72, MySQL at
    * index_align_to_firebase.py:118-141). The query text is pushed to the
    * remote engine exactly as the reference pushes its SELECTs; Spark adds
    * automatic projection/filter pushdown on top.
    *
    * Note: Spark's JDBCOptions rejects `query` and `dbtable` together, so the
    * query is passed solely via the `query` option. */
  def jdbc(spark: SparkSession, url: String, query: String,
           props: Map[String, String] = Map.empty): DataFrame =
    spark.read.format("jdbc")
      .option("url", url)
      .option("query", query)
      .options(props)
      .load()

  /** Partition-parallel JDBC scan — the one JDBC behavior a 100 TB user
    * needs that the single-cursor [[jdbc]] form doesn't exercise: Spark
    * splits `[lowerBound, upperBound)` on `partitionColumn` into
    * `numPartitions` range predicates and opens one remote cursor PER
    * partition, so extraction parallelism scales with executors instead of
    * serializing through one connection. Bounds only shape the split
    * ranges — rows outside them still arrive (the first/last partitions
    * are unbounded on the outside), so a stale bounds estimate skews
    * balance, never correctness. Takes a table (or `(subquery) alias`):
    * Spark's JDBCOptions forbids partitioning options with `query`. */
  def jdbcPartitioned(spark: SparkSession, url: String, table: String,
                      partitionColumn: String, lowerBound: Long,
                      upperBound: Long, numPartitions: Int,
                      props: Map[String, String] = Map.empty): DataFrame = {
    require(numPartitions > 0 && upperBound > lowerBound)
    spark.read.format("jdbc")
      .option("url", url)
      .option("dbtable", table)
      .option("partitionColumn", partitionColumn)
      .option("lowerBound", lowerBound)
      .option("upperBound", upperBound)
      .option("numPartitions", numPartitions)
      .options(props)
      .load()
  }

  /** S4, tunneled connect shape: the reference dials the database at
    * `127.0.0.1:tunnel.local_bind_port` once the forwarder is up
    * (index_align_to_firebase.py:84-92). Same here — rewrite the JDBC
    * endpoint to the tunnel's local end; everything downstream
    * ([[jdbc]] single-cursor or [[jdbcPartitioned]] range cursors) is
    * unchanged, which is the point of tunneling at the transport layer.
    * Driver-side placement caveats on [[TunnelForwarder]]'s scaladoc. */
  def jdbcUrlViaTunnel(tunnel: TunnelForwarder, scheme: String,
                       database: String): String = {
    require(tunnel.isActive, "tunnel must be started before building the URL")
    s"jdbc:$scheme://127.0.0.1:${tunnel.localBindPort}/$database"
  }

  /** ORC scan — the second columnar format large warehouses standardize on
    * (schema evolution + predicate pushdown via the built-in DSv2 reader,
    * same scan contract as parquet). */
  def orc(spark: SparkSession, path: String): DataFrame =
    spark.read.orc(path)

  /** JSON-lines scan with schema inference — the generic landing-zone
    * format (API exports, event dumps). Inference costs one extra pass;
    * pass an explicit schema at scale via `spark.read.schema(...).json`. */
  def json(spark: SparkSession, path: String): DataFrame =
    spark.read.json(path)

  /** S5: schema discovery (`SHOW COLUMNS`, index_align_to_firebase.py:103-116)
    * is just `df.schema` in Spark — exposed for API parity. */
  def discoverColumns(df: DataFrame): Seq[String] = df.schema.fieldNames.toSeq

  /** S6: scan back a document sink's own JSON output (the Firestore
    * collection re-read in pac_data_processor.py:169-186). */
  def documentSinkScan(spark: SparkSession, sinkDir: String): DataFrame =
    spark.read.json(sinkDir)

  /** Register a bucketed copy of a table: co-locates rows by `keys` into
    * `numBuckets` buckets so subsequent joins/aggregations on those keys
    * need NO shuffle on the bucketed side — the 100 TB path for repeated
    * big-big joins on a stable key (SURVEY.md §4 physical-execution notes).
    * Requires a warehouse dir (any local/remote path Spark can write). */
  def bucketize(df: DataFrame, tableName: String,
                keys: Seq[String], numBuckets: Int): Unit =
    df.write
      .mode(org.apache.spark.sql.SaveMode.Overwrite)
      .bucketBy(numBuckets, keys.head, keys.tail: _*)
      .sortBy(keys.head, keys.tail: _*)
      .format("parquet")
      .saveAsTable(tableName)
}
