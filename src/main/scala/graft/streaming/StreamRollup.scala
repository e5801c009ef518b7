package graft.streaming

import graft.Tables
import graft.operators.Maintenance
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Structured Streaming path (SURVEY.md §2.7): the reference's continuous
  * 1m→5m aggregate and batched upsert, re-expressed as streaming queries.
  *
  * The reference repairs lateness by re-materializing a trailing window
  * (cagg `start_offset`, 004_continuous_aggregates.sql:66-81), so the
  * watermark here is generous (1 h) and batch recompute stays the semantic
  * ground truth; the streaming path covers the freshness SLO (<10 s
  * roll-ups, README.md:637).
  *
  * Scale notes: the aggregation state is keyed by (symbol, 5m window) —
  * ~615 symbols × a handful of open windows, trivially small; the shuffle
  * key matches the batch roll-up so a 1000-executor cluster partitions
  * identically. The upsert sink runs [[Maintenance.mergeCandles]] per
  * micro-batch — the same expressions a Delta `MERGE INTO` would carry,
  * with the 3 s trigger playing the reference's flush window
  * (ws.py:37-38).
  */
object StreamRollup {

  /** S1/S5 hardening — replayed file ingest. The reference's ZIP backfill
    * drops daily CSVs into a directory (backfill.py:300-520); here that
    * directory IS the stream source: each new file becomes (part of) a
    * micro-batch, with the same pinned-schema + DROPMALFORMED contract as
    * the batch CSV path ([[Tables.candlesFromCsv]]) — schema inference on
    * a stream would re-read files and drift. `maxFilesPerTrigger` bounds
    * per-batch work when a large backfill lands at once, keeping state
    * and shuffle sizes flat at scale.
    */
  def csvFileSource(spark: SparkSession, dir: String,
      maxFilesPerTrigger: Int = 16): DataFrame =
    spark.readStream
      .schema(Tables.CandleSchema)
      .option("header", "true")
      .option("mode", "DROPMALFORMED")
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .csv(dir)

  /** S1 — exchange ws payload adapter: kline-event JSON (the public
    * Binance ws shape: `{"e":"kline","s":…,"k":{"t":…,"o":…,…}}`) → candle
    * rows. The reference's cryptofeed adapter does this dict→row mapping
    * in Python per message (adapters/cryptofeed.py); here it is one
    * codegen'd `from_json` + casts, applicable to a batch frame or a
    * stream of raw strings (socket/Kafka value column) identically.
    * Malformed payloads → null struct → dropped, the DROPMALFORMED twin.
    */
  val WsKlineSchema: org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType.fromDDL(
      "e STRING, s STRING, " +
        "k STRUCT<t: LONG, i: STRING, o: STRING, h: STRING, " +
        "l: STRING, c: STRING, v: STRING, q: STRING, n: LONG, x: BOOLEAN>")

  def parseWsKline(raw: DataFrame, valueCol: String = "value"): DataFrame =
    raw.select(col(valueCol).as("_raw"),
        from_json(col(valueCol), WsKlineSchema).as("j"))
      .filter(col("j.e") === "kline" && col("j.k.t").isNotNull)
      .select(
        col("j.s").as("symbol"),
        (col("j.k.t") / 1000).cast("long").as("bucket_ts"),
        col("j.k.o").cast("double").as("open"),
        col("j.k.h").cast("double").as("high"),
        col("j.k.l").cast("double").as("low"),
        col("j.k.c").cast("double").as("close"),
        col("j.k.v").cast("double").as("volume"),
        col("j.k.q").cast("double").as("quote_volume"),
        col("j.k.n").as("trade_count"),
        // "V" collides case-insensitively with "v" in a struct schema, so
        // the analyzer can't address it; JSONPath is case-exact
        get_json_object(col("_raw"), "$.k.V").cast("double")
          .as("taker_buy_volume"),
        col("j.k.x").as("is_closed"))

  /** Streaming 1m→5m OHLCV roll-up (R4 on a stream). Input: a streaming
    * DataFrame with the candle schema (bucket_ts epoch seconds). Event time
    * is the bucket itself; `min_by`/`max_by` give ordered first/last like
    * the batch roll-up, and `min(is_closed)` is `bool_and`.
    */
  def rollup5m(candles1m: DataFrame): DataFrame =
    candles1m
      .withColumn("event_time", timestamp_seconds(col("bucket_ts")))
      .withWatermark("event_time", "1 hour")
      .groupBy(col("symbol"), window(col("event_time"), "5 minutes"))
      .agg(
        min_by(col("open"), col("bucket_ts")).as("open"),
        max(col("high")).as("high"),
        min(col("low")).as("low"),
        max_by(col("close"), col("bucket_ts")).as("close"),
        sum(col("volume")).as("volume"),
        sum(col("quote_volume")).as("quote_volume"),
        sum(col("trade_count")).as("trade_count"),
        sum(col("taker_buy_volume")).as("taker_buy_volume"))
      .select(col("symbol"),
        unix_timestamp(col("window.start")).as("bucket_ts"),
        col("open"), col("high"), col("low"), col("close"), col("volume"),
        col("quote_volume"), col("trade_count"), col("taker_buy_volume"))

  /** The S2/S3 sink: merge each micro-batch into the stored table with the
    * reference's field-level upsert semantics. `store`/`load` abstract the
    * table (parquet dir, Delta table, or a test harness).
    */
  def upsertBatch(stored: DataFrame, batch: DataFrame): DataFrame =
    Maintenance.mergeCandles(stored, batch)

  /** e01 on a stream: per-user gap sessions via Spark's native
    * `session_window` — the state store merges/extends open sessions as
    * events arrive and the watermark closes them `gap` after the last
    * event. Works on a batch frame identically (the spec cross-checks it
    * against the batch [[graft.operators.Events.sessionize]]). State is one
    * open window per active user — bounded by the watermark at any scale.
    * Input: raw events rows (`ts` nanosecond Long, as read by
    * [[Tables.events]]).
    */
  def sessionizeStream(events: DataFrame,
      gapSec: Long = graft.operators.Events.SessionGapS): DataFrame =
    events
      .withColumn("event_time", timestamp_seconds(expr("ts DIV 1000000000")))
      .withWatermark("event_time", "2 hours")
      .groupBy(col("user_id"),
        session_window(col("event_time"), s"$gapSec seconds"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("total_value"))
      .select(col("user_id"),
        unix_timestamp(col("session_window.start")).as("session_start"),
        col("n_events"), col("total_value"))

  /** e07's counting stage on a stream: watermarked 1-minute tumbling
    * counts per event_type — the stream maintains the (event_type,
    * minute) counted relation incrementally and the z-score monitor
    * ([[graft.operators.Events]] e07) runs over the counted STORE,
    * batch-side, exactly like the roll-up path's stream-freshness /
    * batch-truth split. State is one open window per type (bounded by
    * the watermark); the raw event stream is never retained.
    */
  def rateCountStream(events: DataFrame,
      lateness: String = "10 minutes"): DataFrame =
    events
      .withColumn("event_time", timestamp_seconds(expr("ts DIV 1000000000")))
      .withWatermark("event_time", lateness)
      .groupBy(col("event_type"), window(col("event_time"), "1 minute"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("event_type"),
        (unix_timestamp(col("window.start")) / 60).cast("long").as("minute"),
        col("cnt"))

  /** d01 on a stream: exact content dedup with BOUNDED state via
    * `dropDuplicatesWithinWatermark` keyed on the content digest. The
    * state store holds one digest per document seen inside the lateness
    * horizon and the watermark evicts older entries, so state is
    * O(arrival rate × horizon) — never O(corpus) — at any scale; the
    * batch d01 pass stays the ground truth over full history, the same
    * stream-freshness / batch-truth split as the roll-up path. First
    * arrival wins, matching d01's min-doc_id canonical when the stream
    * replays in doc order. Input needs an `ingest_ts` (epoch seconds)
    * event-time column.
    */
  def dedupStream(docs: DataFrame, horizon: String = "1 hour"): DataFrame =
    docs
      .withColumn("event_time", timestamp_seconds(col("ingest_ts")))
      .withWatermark("event_time", horizon)
      .withColumn("digest", md5(col("text")))
      .dropDuplicatesWithinWatermark("digest")
}
