package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Canonical table access for the graft engine.
  *
  * Physical layout contract (designed for ~100 TB):
  *  - fact tables (`candles_1m`-shaped) are date-partitioned parquet, sorted
  *    within partitions by (symbol, bucket_ts) so min/max stats give
  *    symbol+time skipping (mirrors the reference's Timescale chunking and
  *    compression `segmentby='exchange,symbol' orderby='bucket_ts'`,
  *    reference libs/database/db/schema/001_timescaledb.sql:37-47).
  *  - dimension tables are small and always broadcast.
  *
  * Time representation: epoch **seconds** as LongType everywhere. The driver
  * testdata's `events.ts` physical encoding is NOT stable across fixture
  * regenerations (round 5 flipped it from TIMESTAMP(NANOS) to
  * TIMESTAMP(MICROS, isAdjustedToUTC=false) mid-round, silently breaking
  * every raw-Long arithmetic site), so [[events]] normalizes the column ONCE
  * at the read boundary to an epoch-NANOSECOND Long, whatever the file
  * carries — every downstream `ts DIV <nanos>` bucketing is exact,
  * timezone-free, and reproduces DuckDB's `date_trunc`/`epoch` on the same
  * file bit-for-bit (DuckDB's side is encoding-agnostic already).
  *
  * For the driver testdata the candle/metrics facts are derived
  * deterministically from `events` (FIXTURES.md §1-2): one pseudo-symbol per
  * user_id, `value` doubles as price. The derivation is plain relational
  * algebra, so the DuckDB oracle replays it verbatim ([[Oracle.CANDLES]]).
  */
object Tables {
  val All: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  /** Materialize-once registry for derived fact tables.
    *
    * Round-1 bench postmortem: every candle query re-ran the events→candles
    * aggregation because the "table" was a live groupBy — the filter could
    * never reach a parquet scan, so `r01_scan_filter` cost 4.1 s where a
    * stored layout costs milliseconds.
    *
    * Round 3: the scratch table is now a BUCKETED+SORTED catalog table
    * (`bucketBy(8, symbol) sortBy(symbol, time)`, one file per bucket), so
    * the scan itself reports hash-partitioning on symbol and per-bucket
    * sort order — every per-symbol window/groupBy (the whole indicator
    * family) runs with NO exchange and NO sort, not just pushdown. This is
    * the single-node stand-in for the 100 TB layout ([[writeCandles]]
    * dt-partitioned + bucketed by symbol), where the write happens once at
    * ingest: co-locating the dominant key at write time is the prompt's
    * "bucketing for co-located joins" made real, not a comment.
    */
  /** `buckets` is part of the key AND the staging table name (r13 ADVICE:
    * a bucket count changing mid-session silently served the previously
    * materialized layout with the old count).
    */
  private final case class MatKey(appId: String, dir: String, name: String,
    stamp: Long, buckets: Int)
  private val matCache =
    new java.util.concurrent.ConcurrentHashMap[MatKey, DataFrame]()

  /** App roots swept at JVM exit; the hook itself registers once (r11
    * ADVICE: the old `if (matCache.isEmpty)` guard re-registered a
    * duplicate hook whenever eviction emptied the map mid-session).
    */
  private val matRoots =
    java.util.concurrent.ConcurrentHashMap.newKeySet[java.io.File]()
  private val matHookInstalled =
    new java.util.concurrent.atomic.AtomicBoolean(false)

  /** Content stamp of a corpus dir's parquet entries (names, sizes,
    * mtimes). The SHARED staleness key: every [[SharedStage]] key and
    * [[materialized]] embed it, so an in-session rewrite of a served dir
    * changes every cache key at once — no layer can serve data derived
    * from the old files. The walk is fully recursive (a rewrite inside a
    * nested `dt=`-partition subdirectory changes the stamp) and reads
    * mtimes at the filesystem's native resolution
    * (`Files.getLastModifiedTime`), so a same-length same-millisecond
    * rewrite still changes it.
    */
  def dirStamp(dir: String): Long = {
    def mtime(f: java.io.File): Long =
      try java.nio.file.Files.getLastModifiedTime(f.toPath)
        .to(java.util.concurrent.TimeUnit.NANOSECONDS)
      catch { case _: java.io.IOException => f.lastModified() * 1000000L }
    def walk(f: java.io.File): Long = {
      val own = (f.getName.hashCode.toLong * 31 + mtime(f)) * 31 + f.length()
      if (f.isDirectory)
        Option(f.listFiles()).getOrElse(Array.empty[java.io.File])
          .sortBy(_.getName).foldLeft(own)((a, c) => a * 31 + walk(c))
      else own
    }
    val entries = Option(new java.io.File(dir).listFiles())
      .getOrElse(Array.empty[java.io.File])
      .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
    entries.foldLeft(17L)((acc, e) => acc * 31 + walk(e))
  }

  /** True when this session runs with `spark.graft.sharedMemo=off`: every
    * [[SharedStage]] builds without consulting its cache. [[graft.Bench]]
    * times its per-entry numbers this way so each entry pays for its own
    * shared builds, and reports the memo-on fan-out separately. Results
    * are identical in both positions (MemoSpec).
    */
  private[graft] def sharedMemoOff(s: SparkSession): Boolean =
    s.conf.getOption("spark.graft.sharedMemo").exists(_.equalsIgnoreCase("off"))

  /** A [[SharedStage]] entry's key: session, corpus dir, the dir's
    * [[dirStamp]] and a per-stage variant axis `sub` (e.g. the roll-up
    * cadence; 0 where unused). Structural fields, so no dir path can
    * collide with another dir's key.
    */
  private[graft] final case class StampKey(s: SparkSession, dir: String,
    stamp: Long, sub: Long)

  private def materialized(spark: SparkSession, dir: String, name: String,
      sortCols: Seq[String], buckets: Int = 8)(derive: => DataFrame): DataFrame = {
    val stamp = dirStamp(dir)
    val appId = spark.sparkContext.applicationId
    val key = MatKey(appId, dir, name, stamp, buckets)
    // evict superseded stamps for the same (dir, name) — without this a
    // rewritten corpus leaves the old entry in matCache forever (r11
    // ADVICE: unbounded growth across rewrites). The match is a STRUCTURAL
    // field comparison, not the old prefix/suffix string test, which could
    // cross-evict a live sibling corpus whose path itself contained
    // '@' + the dir prefix (r11 ADVICE #3).
    matCache.keySet.removeIf(k => k != key &&
      k.appId == appId && k.dir == dir && k.name == name &&
      k.stamp != stamp)
    matCache.computeIfAbsent(key, { _ =>
      val appRoot = new java.io.File(
        System.getProperty("java.io.tmpdir") + "/graft-mat/" + appId)
      matRoots.add(appRoot)
      if (matHookInstalled.compareAndSet(false, true)) {
        def rm(f: java.io.File): Unit = {
          Option(f.listFiles()).foreach(_.foreach(rm))
          f.delete(); ()
        }
        Runtime.getRuntime.addShutdownHook(new Thread(() => {
          matRoots.forEach(r => rm(r))
        }))
      }
      // the STAMP is part of the table name and path (r11 ADVICE): a
      // corpus rewrite materializes to a FRESH location instead of
      // overwriting the files a reader of the superseded plan may still
      // hold open — old generations die with appRoot at shutdown
      val gen = name + "_b" + buckets + "_" + java.lang.Long.toHexString(stamp)
      val path = appRoot.getPath + "/" +
        dir.replaceAll("[^A-Za-z0-9.]", "_") + "/" + gen
      val table = ("graft_" + gen + "_" +
        dir.replaceAll("[^A-Za-z0-9]", "_")).toLowerCase
      // repartition on the bucket key first => exactly one file per bucket,
      // which is what lets the scan report the per-bucket sort order
      derive
        .repartition(buckets, col(sortCols.head))
        .write.mode("overwrite")
        .option("path", path)
        .bucketBy(buckets, sortCols.head)
        .sortBy(sortCols.head, sortCols.tail: _*)
        .saveAsTable(table)
      spark.table(table)
    })
  }

  def read(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** `events` with `ts` normalized to an epoch-nanosecond Long regardless of
    * the file's physical encoding (the round-5 lesson — see the class doc):
    *  - LongType: already nanos (a NANOS file under `nanosAsLong`, or
    *    [[ScaleGen]] output) — pass through;
    *  - TIMESTAMP / TIMESTAMP_NTZ (MICROS or MILLIS logical type): via
    *    `unix_micros * 1000`. Session TZ is pinned UTC
    *    ([[SparkEntry.configure]]), so the NTZ wall-clock IS the epoch.
    * Anything else fails loudly here — one clear error instead of 86
    * downstream analysis exceptions. RegistrySpec pins the normalized
    * schema so the next fixture regeneration trips one named test.
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    val raw = read(spark, dir, "events")
    raw.schema("ts").dataType match {
      case LongType => raw
      case TimestampType | TimestampNTZType =>
        raw.withColumn("ts",
          unix_micros(col("ts").cast(TimestampType)) * lit(1000L))
      case other => throw new IllegalStateException(
        s"events.ts has unsupported type $other (expected LongType nanos " +
          "or TIMESTAMP/TIMESTAMP_NTZ); was the fixture regenerated with " +
          "a new encoding? Extend Tables.events normalization.")
    }
  }
  def lineitem(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "lineitem")
  def orders(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "orders")
  def customer(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "supplier")
  def nation(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "nation")
  def region(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "region")
  def part(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "part")
  /** Deterministic `partsupp` derivation (FIXTURES.md pattern — the driver
    * testdata ships no partsupp): 4 offers per part, supplier assignment by
    * TPC-H's round-robin offset scheme over the live supplier count, and
    * availqty/supplycost as pure integer arithmetic on (partkey, offer#).
    * Both engines reproduce the relation bit-for-bit — the oracle SQL
    * carries the same derivation as a WITH clause — which is what unlocks
    * the partsupp-only TPC-H shapes (Q11 scalar-subquery share filter,
    * Q20 nested semi over supply).
    *
    * Plan shape: part-scan × 4-element inline array explode, with the
    * 1-row supplier count broadcast (the Q22 scalar idiom) — row-local,
    * no shuffle, linear in |part| at any scale.
    */
  def partsupp(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val nSup = supplier(spark, dir).agg(count(lit(1)).as("n_sup"))
    part(spark, dir)
      .crossJoin(broadcast(nSup))
      .select(col("p_partkey"),
        explode(array((0 until 4).map(lit(_)): _*)).as("i"), col("n_sup"))
      .select(col("p_partkey").as("ps_partkey"),
        ((col("p_partkey") + col("i") * (expr("n_sup DIV 4") + 1)) % col("n_sup"))
          .as("ps_suppkey"),
        ((col("p_partkey") * 7 + col("i") * 13) % 9999 + 1).as("ps_availqty"),
        (((col("p_partkey") * 31 + col("i") * 47) % 90000)
          .cast("double") / 100.0 + 100.0).as("ps_supplycost"))
  }

  /** The same derivation as DuckDB SQL, prepended to partsupp-shape
    * oracles ([[graft.operators.Tpch]] h25/h26).
    */
  val PartsuppSql: String =
    """partsupp AS (
      |  SELECT p_partkey AS ps_partkey,
      |    (p_partkey + i * ((SELECT count(*) FROM supplier) // 4 + 1))
      |      % (SELECT count(*) FROM supplier) AS ps_suppkey,
      |    (p_partkey * 7 + i * 13) % 9999 + 1 AS ps_availqty,
      |    CAST((p_partkey * 31 + i * 47) % 90000 AS DOUBLE) / 100.0 + 100.0
      |      AS ps_supplycost
      |  FROM part, (SELECT unnest(generate_series(0, 3)) AS i))""".stripMargin

  /** Scan-parallelism floor for the text/embedding corpora (optimization
    * r13, guide §2.5 "input skew" / §6). The driver fixtures are
    * SINGLE-ROW-GROUP parquet files, and parquet cannot split below a row
    * group — so every corpus scan was ONE task, and the row-local heavy
    * projections the pipeline families run over it (shingle/minhash
    * kernels, PQ/SQ encode folds, per-doc regex counts) serialized on one
    * core while the rest idled: profiled at sf0.1/local[32], the
    * exec-bound d/s/t entries each spent 1.0–1.9 s in a single scan task.
    * Serving both corpora through the SAME [[materialized]] bucketed
    * layout the candle fact already uses (one session-scoped staging
    * write, id-bucketed and id-sorted) gives every downstream scan
    * `corpusBuckets` tasks with NO per-query exchange, keeping the
    * zero-shuffle plan contracts intact. Bucket count derives from the
    * session's core count (scale-adaptive, never a local constant) — at
    * 100 TB the staging write is the standard "materialize the
    * index/layout once, scan it many times" pipeline stage the scaladocs
    * already argue for the signature tables.
    */
  private def corpusBuckets(spark: SparkSession): Int =
    // cores/4, floor 8 — measured at local[32]: 8 buckets beat 16 on a
    // mixed heavy+cheap entry set (9.2 vs 10.9 s; per-scan file overhead
    // taxes every sub-second doc entry while 8× parallelism already
    // captures most of the heavy projections' win)
    math.max(8, spark.sparkContext.defaultParallelism / 4)

  def documents(spark: SparkSession, dir: String): DataFrame =
    materialized(spark, dir, "documents", Seq("doc_id"),
      corpusBuckets(spark))(read(spark, dir, "documents"))
  def embeddings(spark: SparkSession, dir: String): DataFrame =
    materialized(spark, dir, "embeddings", Seq("vec_id"),
      corpusBuckets(spark))(read(spark, dir, "embeddings"))

  /** 1-minute candle fact derived from `events`.
    *
    * Reference schema: candles_1m (001_timescaledb.sql:9-28). Columns kept
    * double — the reference's compute layer downcasts NUMERIC(38,12) to
    * float64 at the operator boundary (trading-service/src/db/reader.py:203).
    *
    * Scale note: one hash-aggregate whose shuffle key (symbol, minute) is the
    * table's natural clustering; partial aggregation runs map-side, and the
    * result can be persisted bucketed by symbol for reuse by every
    * downstream per-symbol window operator without further shuffles.
    */
  /** Interval-frame override for the full-cycle job
    * ([[graft.operators.Cycle]]): the reference evaluates the SAME
    * indicator code against each interval's candle frame
    * (simple_scheduler.py:47, core/engine.py:164-191); here every
    * indicator's single entry point is [[candles]], so the cycle swaps the
    * frame under it while the plans are CONSTRUCTED (DataFrames are lazy —
    * the thread-local only needs to live for plan building).
    */
  /** Optimizer barrier + reuse point for a derived frame referenced
    * several times downstream (the staged-table pattern: dedup signature
    * tables, doc-shingle projections). Same effect as `persist()` — the
    * frame is computed once, and Catalyst cannot hoist its projections
    * across the boundary (the d02/c01 Generate-hoist lesson, measured
    * 300× re-evaluation without it) — but implemented as a lazy
    * localCheckpoint, so the materialized blocks belong to the RDD rather
    * than the session's CacheManager: the ContextCleaner frees them as
    * soon as the query's frames are garbage collected. Repeated
    * invocations (spec batteries, a long-lived serving session) no longer
    * accumulate executor memory until someone calls clearCache()
    * (round-4 ADVICE).
    */
  def barrier(df: DataFrame): DataFrame = df.localCheckpoint(eager = false)

  /** Eagerly checkpoint `df` with AQE disabled for the materialization
    * (hoisted from RuleCorpus for the r14 cycle work — ONE definition, ONE
    * bracket lock): under AQE the final stage becomes a coalesced shuffle
    * read whose partitioning the checkpoint's LogicalRDD cannot carry
    * (probed on this Spark: the checkpointed frame reports unknown
    * partitioning and every consumer re-shuffles — the window plan grows
    * an Exchange + Sort). With AQE off for just this one eager
    * materialization the LogicalRDD keeps BOTH the hash partitioning and
    * the per-partition sort, so downstream symbol-window passes plan
    * exchange-free and sort-free. The conf flip is session-scoped but
    * brackets a single eager job built and awaited on the calling thread;
    * branch pools ([[graft.operators.Cycle.runBranches]]) and parallel
    * test suites can plan on OTHER threads, so the bracket is JVM-globally
    * synchronized: two interleaved brackets would otherwise restore each
    * other's mid-bracket value and leave AQE off for the whole session
    * (read-prev / set / restore is not atomic). A concurrent non-bracket
    * thread that plans during the window merely loses AQE for that one
    * plan — a perf nit, never a wrong answer or a lost layout.
    */
  private val aqeBracketLock = new Object
  private[graft] def checkpointKeepLayout(s: SparkSession,
      df: DataFrame): DataFrame =
    aqeBracketLock.synchronized {
      val prev = s.conf.get("spark.sql.adaptive.enabled", "true")
      s.conf.set("spark.sql.adaptive.enabled", "false")
      try df.localCheckpoint()
      finally s.conf.set("spark.sql.adaptive.enabled", prev)
    }

  private val candleOverride = new ThreadLocal[DataFrame]()
  def withCandleFrame[T](frame: DataFrame)(build: => T): T = {
    candleOverride.set(frame)
    try build finally candleOverride.remove()
  }

  /** True while a [[withCandleFrame]]/[[withMetricsFrame]] override is
    * active on this thread. [[SharedStage]] then builds without its cache:
    * a priority-cut frame cached under the uncut key, or vice versa, would
    * serve the wrong fact to the next caller.
    */
  private[graft] def factOverrideActive: Boolean =
    candleOverride.get != null || metricsOverride.get != null

  /** [[withCandleFrame]]'s twin for the metrics fact — the priority cycle
    * ([[graft.operators.Cycle]] f01b) cuts BOTH facts to the priority
    * symbol set before any indicator plan is built.
    */
  private val metricsOverride = new ThreadLocal[DataFrame]()
  def withMetricsFrame[T](frame: DataFrame)(build: => T): T = {
    metricsOverride.set(frame)
    try build finally metricsOverride.remove()
  }

  def candles(spark: SparkSession, dir: String): DataFrame =
    Option(candleOverride.get).getOrElse(
      materialized(spark, dir, "candles", Seq("symbol", "bucket_ts"), 8)(
        candlesDerived(spark, dir)))

  /** The raw events→candles derivation (see [[candles]] for the stored
    * layout every query actually reads).
    */
  def candlesDerived(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .groupBy(
        format_string("S%04d", col("user_id")).as("symbol"),
        (expr("ts DIV 60000000000") * 60).as("bucket_ts"))
      .agg(
        min_by(col("value"), col("event_id")).as("open"),
        max(col("value")).as("high"),
        min(col("value")).as("low"),
        max_by(col("value"), col("event_id")).as("close"),
        sum(col("value")).as("volume"),
        sum(col("value") * col("value")).as("quote_volume"),
        count(lit(1)).as("trade_count"),
        sum(when(col("event_id") % 2 === 0, col("value")).otherwise(lit(0.0)))
          .as("taker_buy_volume"))

  /** NUMERIC(38,12), the reference's storage type for every price/volume
    * column (001_timescaledb.sql:13-21). SURVEY §1.2: keep Decimal in
    * STORAGE — an ingest pipeline accumulating volume sums over 100 TB in
    * float64 drifts; decimal arithmetic does not — and cast to Double at
    * the operator boundary (the reference's own compute layer does the
    * same downcast, trading-service/src/db/reader.py:203-204).
    */
  val StorageDecimal: DecimalType = DecimalType(38, 12)

  /** The columns stored as NUMERIC(38,12). */
  val DecimalCols: Seq[String] = Seq("open", "high", "low", "close",
    "volume", "quote_volume", "taker_buy_volume")

  /** Cast price/volume columns (those present) to the storage decimal. */
  private def toStorage(df: DataFrame): DataFrame =
    DecimalCols.filter(df.columns.contains).foldLeft(df)(
      (d, c) => d.withColumn(c, col(c).cast(StorageDecimal)))

  /** Operator-boundary cast: decimal columns back to float64. */
  private def toCompute(df: DataFrame): DataFrame =
    df.columns.foldLeft(df) { (d, c) =>
      d.schema(c).dataType match {
        case _: DecimalType => d.withColumn(c, col(c).cast(DoubleType))
        case _ => d
      }
    }

  /** Physical-layout writer for candle-shaped facts: date-partitioned
    * parquet, sorted within partitions by (symbol, bucket_ts) so parquet
    * row-group min/max stats give symbol+time skipping on top of partition
    * pruning — the Spark restatement of the reference's Timescale chunking
    * + compression ordering (001_timescaledb.sql:30-47). At 100 TB this is
    * the table every operator reads: `filter(date)` prunes directories,
    * `filter(symbol)` skips row groups, and a per-symbol window's shuffle
    * is the only exchange any indicator pays. Prices/volumes persist as
    * [[StorageDecimal]] per the reference DDL.
    */
  def writeCandles(candles: DataFrame, path: String): Unit =
    toStorage(candles)
      .withColumn("dt", to_date(timestamp_seconds(col("bucket_ts"))))
      .repartition(col("dt"))
      .sortWithinPartitions(col("dt"), col("symbol"), col("bucket_ts"))
      .write.mode("overwrite")
      .partitionBy("dt")
      .parquet(path)

  /** The stored table at the operator boundary: decimals cast to Double.
    * Use [[readCandlesStored]] for the exact decimal view (audits, exact
    * re-aggregation).
    */
  def readCandles(spark: SparkSession, path: String): DataFrame =
    toCompute(readCandlesStored(spark, path))

  /** The stored table verbatim — Decimal(38,12) prices/volumes. */
  def readCandlesStored(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /** Partition-scoped writer used by the MERGE/refresh paths: same decimal
    * + sorted layout as [[writeCandles]] but only replacing the partitions
    * present in `df` (dynamic partition overwrite set by the caller).
    * `timeCol` is the within-partition sort key after symbol — `bucket_ts`
    * for candle-shaped facts, `create_time` for the metrics facts.
    */
  private[graft] def writeCandlePartitions(df: DataFrame, path: String,
      timeCol: String = "bucket_ts"): Unit =
    toStorage(df)
      .repartition(col("dt"))
      .sortWithinPartitions(col("dt"), col("symbol"), col(timeCol))
      .write.mode("overwrite").partitionBy("dt").parquet(path)

  /** Retention = partition drop (reference 001_timescaledb.sql:49-54 chunk
    * drop policy): deleting `dt=...` directories is an O(partitions)
    * metadata operation, no data rewrite — unlike the row-level DELETE a
    * non-partitioned layout would force.
    */
  def dropPartitionsBefore(spark: SparkSession, path: String,
      cutoff: java.time.LocalDate): Seq[String] = {
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dropped = fs.listStatus(new org.apache.hadoop.fs.Path(path)).toSeq
      .filter(_.isDirectory)
      .map(_.getPath)
      .filter { p =>
        p.getName.startsWith("dt=") &&
          java.time.LocalDate.parse(p.getName.stripPrefix("dt="))
            .isBefore(cutoff)
      }
    dropped.foreach(fs.delete(_, true))
    dropped.map(_.getName)
  }

  /** u04 — small-file compaction (the OPTIMIZE/bin-packing maintenance
    * pass): streaming ingest writes one file per micro-batch per
    * partition, so a 3 s-trigger store accumulates ~28 800 files per
    * partition-day — and at 100 TB scan throughput dies on file-open
    * overhead long before data volume. This pass lists each `dt=`
    * partition, flags those holding MORE part-files than
    * ⌈bytes/targetBytes⌉ would need, and rewrites ONLY the flagged
    * partitions down to that file count (dynamic partition overwrite —
    * the [[graft.operators.Maintenance.mergeCandlesPartitioned]]
    * machinery with a coalesce instead of a merge). Healthy partitions
    * are untouched byte-for-byte.
    *
    * The rewrite reads the STORED representation (Decimal(38,12) —
    * [[readCandlesStored]]) so compaction is a pure re-layout: no
    * decimal→double→decimal round-trip, row content bit-identical. Rows
    * are pinned via localCheckpoint before the overwrite because the
    * rewrite replaces the very files being read. Partitions compact one
    * at a time — each rewrite is an independent job a production
    * scheduler fans out; the flagging scan is pure metadata.
    *
    * Returns (dt, files_before, files_after) per compacted partition.
    */
  def compactCandlePartitions(spark: SparkSession, path: String,
      targetBytes: Long = 128L * 1024 * 1024,
      timeCol: String = "bucket_ts"): Seq[(String, Int, Int)] = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) return Seq.empty
    val flagged = fs.listStatus(root).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("dt="))
      .flatMap { p =>
        val files = fs.listStatus(p.getPath).toSeq
          .filter(f => f.isFile && f.getPath.getName.startsWith("part-"))
        val want = math.max(1L,
          (files.map(_.getLen).sum + targetBytes - 1) / targetBytes).toInt
        if (files.size > want)
          Some((p.getPath.getName.stripPrefix("dt="), files.size, want))
        else None
      }
    flagged.foreach { case (dt, _, want) =>
      val rows = readCandlesStored(spark, path)
        .filter(col("dt").cast("string") === dt).localCheckpoint()
      val prev = spark.conf.getOption("spark.sql.sources.partitionOverwriteMode")
      spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
      try rows.coalesce(want)
        .sortWithinPartitions(col("symbol"), col(timeCol))
        .write.mode("overwrite").partitionBy("dt").parquet(path)
      finally prev match {
        case Some(v) =>
          spark.conf.set("spark.sql.sources.partitionOverwriteMode", v)
        case None =>
          spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
      }
    }
    flagged
  }

  /** Candle schema for external ingest (the `candles_1m` contract,
    * reference 001_timescaledb.sql:9-28, with epoch-second Long time).
    */
  val CandleSchema: StructType = StructType(Seq(
    StructField("symbol", StringType, nullable = false),
    StructField("bucket_ts", LongType, nullable = false),
    StructField("open", DoubleType), StructField("high", DoubleType),
    StructField("low", DoubleType), StructField("close", DoubleType),
    StructField("volume", DoubleType), StructField("quote_volume", DoubleType),
    StructField("trade_count", LongType),
    StructField("taker_buy_volume", DoubleType),
    StructField("is_closed", BooleanType)))

  /** S5 — ZIP/CSV historical backfill (reference
    * data-service/src/collectors/backfill.py:300-520: Binance Vision daily
    * CSVs → parse → upsert). Schema is pinned, never inferred — at backfill
    * scale (thousands of daily files) schema inference would read every
    * file twice; malformed rows route to `_corrupt_record`-free drop via
    * DROPMALFORMED, matching the reference's skip-and-log behavior. The
    * result feeds the same MERGE path as streaming ingest
    * ([[graft.streaming.StreamRollup.upsertBatch]]).
    */
  def candlesFromCsv(spark: SparkSession, path: String): DataFrame =
    spark.read
      .schema(CandleSchema)
      .option("header", "true")
      .option("mode", "DROPMALFORMED")
      .csv(path)

  /** 5-minute futures-sentiment fact derived from `events`
    * (reference: binance_futures_metrics_5m, 005_metrics_5m.sql:5-23).
    * Ratio sums walk around 1.0 so deviation/flip/streak operators see both
    * signs (FIXTURES.md §2).
    */
  def metrics5m(spark: SparkSession, dir: String): DataFrame =
    Option(metricsOverride.get).getOrElse(
      materialized(spark, dir, "metrics5m", Seq("symbol", "create_time"))(
        metrics5mDerived(spark, dir)))

  /** The raw events→metrics derivation (see [[metrics5m]]). */
  def metrics5mDerived(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .groupBy(
        format_string("S%04d", col("user_id")).as("symbol"),
        (expr("ts DIV 300000000000") * 300).as("create_time"))
      .agg(
        sum(col("value")).as("sum_open_interest"),
        sum(col("value") * col("value")).as("sum_open_interest_value"),
        count(lit(1)).cast("double").as("count_toptrader_long_short_ratio"),
        sum(lit(1.0) + ((col("value") % 7) - lit(3.0)) / 10)
          .as("sum_toptrader_long_short_ratio"),
        count(lit(1)).cast("double").as("count_long_short_ratio"),
        sum(lit(1.0) + ((col("value") % 5) - lit(2.0)) / 10)
          .as("sum_taker_long_short_vol_ratio"))
}
