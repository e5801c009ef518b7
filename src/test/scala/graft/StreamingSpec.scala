package graft

import graft.signals.Cooldown
import graft.streaming.StreamRollup
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

case class C1m(symbol: String, bucket_ts: Long, open: Double, high: Double,
  low: Double, close: Double, volume: Double, quote_volume: Double,
  trade_count: Long, taker_buy_volume: Double)

case class Ev(event_id: Long, ts: Long, user_id: Long, value: Double)

case class Doc(doc_id: Long, text: String, ingest_ts: Long)

/** A fired signal of the pg-style rule set (g01's columns). */
case class Fired(symbol: String, bucket_ts: Long, rule: String,
  direction: String, strength: Int)

/** §2.7 — the streaming 1m→5m roll-up must agree with the batch roll-up on
  * the same rows, and the foreachBatch upsert must reproduce the reference's
  * field-level merge across micro-batches.
  */
class StreamingSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = SparkEntry.configure(
    SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false"))
    .getOrCreate()

  private def bar(sym: String, m: Long, px: Double): C1m =
    C1m(sym, m * 60, px, px + 1, px - 1, px + 0.5, 10.0, 10.0 * px, 3L, 4.0)

  test("streaming 5m rollup matches the batch rollup") {
    val s = spark
    import s.implicits._
    val input = MemoryStream[C1m](implicitly[org.apache.spark.sql.Encoder[C1m]], s)
    val bars = (0L until 12L).flatMap(m => Seq(bar("A", m, 100 + m), bar("B", m, 50 + m)))
    input.addData(bars)

    val q = StreamRollup.rollup5m(input.toDF())
      .writeStream.format("memory").queryName("agg5m").outputMode("complete").start()
    try {
      q.processAllAvailable()
      val got = s.table("agg5m")
        .select("symbol", "bucket_ts", "open", "high", "low", "close", "volume")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
          r.getDouble(3), r.getDouble(4), r.getDouble(5), r.getDouble(6))).toSet

      val batch = bars.toDF()
        .withColumn("b5", col("bucket_ts") - col("bucket_ts") % 300)
        .groupBy("symbol", "b5")
        .agg(min_by(col("open"), col("bucket_ts")).as("open"), max("high").as("high"),
          min("low").as("low"), max_by(col("close"), col("bucket_ts")).as("close"),
          sum("volume").as("volume"))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
          r.getDouble(3), r.getDouble(4), r.getDouble(5), r.getDouble(6))).toSet

      assert(got.nonEmpty)
      assert(got == batch)
    } finally q.stop()
  }

  test("foreachBatch upsert merges micro-batches with field-level semantics") {
    val s = spark
    import s.implicits._
    val input = MemoryStream[C1m](implicitly[org.apache.spark.sql.Encoder[C1m]], s)

    var stored = Seq.empty[C1m].toDF().withColumn("is_closed", lit(true))
    val q = input.toDF().writeStream.foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
      val withFlag = batch.withColumn("is_closed", lit(id > 0))
      stored = StreamRollup.upsertBatch(stored, withFlag).cache()
      stored.count() // materialize before the next batch mutates inputs
      ()
    }.start()
    try {
      // batch 0: open bar (is_closed=false per flag id>0 → false)
      input.addData(bar("A", 1L, 100.0))
      q.processAllAvailable()
      // batch 1: same bucket, higher high, lower low, new close (closed)
      input.addData(bar("A", 1L, 104.0).copy(low = 90.0, close = 101.0))
      q.processAllAvailable()

      val row = stored.where(col("symbol") === "A").collect().head
      val m = row.getValuesMap[Any](Seq("high", "low", "close", "is_closed"))
      assert(m("high") == 105.0) // greatest(101, 105)
      assert(m("low") == 90.0)   // least(99, 90)
      assert(m("close") == 101.0) // EXCLUDED.close
      assert(m("is_closed") == true) // OR
    } finally q.stop()
  }

  test("file-source replay: staged CSV batches stream through rollup + merge on a 3s trigger") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_replay")
    def writeCsv(name: String, rows: Seq[C1m]): Unit = {
      val hdr = "symbol,bucket_ts,open,high,low,close,volume," +
        "quote_volume,trade_count,taker_buy_volume,is_closed"
      val body = rows.map(r => s"${r.symbol},${r.bucket_ts},${r.open}," +
        s"${r.high},${r.low},${r.close},${r.volume},${r.quote_volume}," +
        s"${r.trade_count},${r.taker_buy_volume},true")
      java.nio.file.Files.write(dir.resolve(name),
        (hdr +: body).mkString("\n").getBytes("UTF-8"))
      ()
    }
    // two replayed "daily" files: second one extends the first's last 5m
    // bucket (late bars) AND opens a new bucket — the merge must update
    // the open bucket in place and insert the new one
    val batch1 = (0L until 4L).map(m => bar("A", m, 100 + m))
    val batch2 = Seq(bar("A", 4L, 120.0)) ++ (5L until 8L).map(m => bar("A", m, 105 + m))
    writeCsv("day-000.csv", batch1)

    var stored = Seq.empty[C1m].toDF().withColumn("is_closed", lit(true))
    val src = StreamRollup.csvFileSource(s, dir.toString, maxFilesPerTrigger = 1)
    val q = StreamRollup.rollup5m(src)
      .withColumn("is_closed", lit(true))
      .writeStream
      .outputMode("update")
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime("3 seconds"))
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        stored = StreamRollup.upsertBatch(stored, b).cache()
        stored.count() // materialize before the next batch mutates inputs
        ()
      }.start()
    try {
      q.processAllAvailable()
      // Latency pin (BASELINE.md rows 15-16: ingest <5 s end-to-end,
      // roll-up visible <10 s): wall-clock from the replay file landing to
      // its rows being merged and queryable in the store, across a live
      // 3 s-trigger micro-batch boundary.
      val t0 = System.nanoTime()
      writeCsv("day-001.csv", batch2)
      q.processAllAvailable()
      val latencySec = (System.nanoTime() - t0) / 1e9
      info(f"file-to-store latency: $latencySec%.2f s (SLOs: ingest <5 s, roll-up <10 s; 3 s trigger)")
      assert(latencySec < 10.0,
        f"file-to-store latency $latencySec%.2f s breaches the <10 s roll-up SLO")

      val got = stored
        .select("symbol", "bucket_ts", "open", "high", "low", "close", "volume")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
          r.getDouble(3), r.getDouble(4), r.getDouble(5), r.getDouble(6))).toSet
      val expected = (batch1 ++ batch2).toDF()
        .withColumn("b5", col("bucket_ts") - col("bucket_ts") % 300)
        .groupBy("symbol", "b5")
        .agg(min_by(col("open"), col("bucket_ts")).as("open"), max("high").as("high"),
          min("low").as("low"), max_by(col("close"), col("bucket_ts")).as("close"),
          sum("volume").as("volume"))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
          r.getDouble(3), r.getDouble(4), r.getDouble(5), r.getDouble(6))).toSet
      assert(got.nonEmpty)
      assert(got == expected, s"stored=$got expected=$expected")
    } finally q.stop()
  }

  test("end-to-end ingest: file replay -> 5m rollup -> partition-scoped merge into the dt store") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_replay2")
    val store = java.nio.file.Files.createTempDirectory("graft_store2").toString + "/candles"
    def writeCsv(name: String, rows: Seq[C1m]): Unit = {
      val hdr = "symbol,bucket_ts,open,high,low,close,volume," +
        "quote_volume,trade_count,taker_buy_volume,is_closed"
      val body = rows.map(r => s"${r.symbol},${r.bucket_ts},${r.open}," +
        s"${r.high},${r.low},${r.close},${r.volume},${r.quote_volume}," +
        s"${r.trade_count},${r.taker_buy_volume},true")
      java.nio.file.Files.write(dir.resolve(name),
        (hdr +: body).mkString("\n").getBytes("UTF-8"))
      ()
    }
    // day 1 then day 2 + a late day-1 bar: the second merge must touch
    // BOTH days' partitions, and only ever the days present in the batch
    val day2 = 1440L
    val batch1 = (0L until 5L).map(m => bar("A", m, 100 + m))
    val batch2 = Seq(bar("A", 4L, 150.0)) ++
      (day2 until day2 + 5L).map(m => bar("A", m, 200 + m - day2))
    writeCsv("day-000.csv", batch1)

    val src = StreamRollup.csvFileSource(s, dir.toString, maxFilesPerTrigger = 1)
    val q = StreamRollup.rollup5m(src)
      .withColumn("is_closed", lit(true))
      .writeStream
      .outputMode("update")
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        if (!b.isEmpty)
          graft.operators.Maintenance.mergeCandlesPartitioned(s, store, b)
        ()
      }.start()
    try {
      q.processAllAvailable()
      writeCsv("day-001.csv", batch2)
      q.processAllAvailable()

      val got = Tables.readCandles(s, store)
        .select("symbol", "bucket_ts", "high", "close", "volume")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
          r.getDouble(3), r.getDouble(4))).toSet
      val expected = (batch1 ++ batch2).toDF()
        .withColumn("b5", col("bucket_ts") - col("bucket_ts") % 300)
        .groupBy("symbol", "b5")
        .agg(max("high").as("high"),
          max_by(col("close"), col("bucket_ts")).as("close"),
          sum("volume").as("volume"))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
          r.getDouble(3), r.getDouble(4))).toSet
      assert(got == expected, s"store=$got expected=$expected")
      // the store is genuinely dt-partitioned (both days present)
      val parts = new java.io.File(store).listFiles()
        .filter(_.getName.startsWith("dt=")).map(_.getName).sorted
      assert(parts.toSeq == Seq("dt=1970-01-01", "dt=1970-01-02"))
    } finally q.stop()
  }

  test("ws kline JSON adapter parses exchange payloads into candle rows on a stream") {
    val s = spark
    import s.implicits._
    val input = MemoryStream[String](
      implicitly[org.apache.spark.sql.Encoder[String]], s)
    def kline(sym: String, tMs: Long, o: Double, c: Double, closed: Boolean) =
      s"""{"e":"kline","E":${tMs + 500},"s":"$sym","k":{"t":$tMs,"s":"$sym",""" +
        s""""i":"1m","o":"$o","h":"${o + 1}","l":"${o - 1}","c":"$c",""" +
        s""""v":"10.5","q":"1050.0","n":42,"x":$closed,"V":"4.2","Q":"420.0"}}"""
    input.addData(
      kline("BTCUSDT", 60000L, 100.0, 101.0, closed = true),
      kline("ETHUSDT", 60000L, 50.0, 49.5, closed = false),
      """{"e":"trade","s":"BTCUSDT"}""", // non-kline event: dropped
      "not json at all")                 // malformed: dropped

    val q = StreamRollup.parseWsKline(input.toDF())
      .writeStream.format("memory").queryName("ws_parsed")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val rows = s.table("ws_parsed").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
          r.getDouble(5), r.getLong(8), r.getBoolean(10))).toSet
      assert(rows == Set(
        ("BTCUSDT", 60L, 100.0, 101.0, 42L, true),
        ("ETHUSDT", 60L, 50.0, 49.5, 42L, false)))
      // schema matches the candle contract, so it feeds rollup5m/merge as-is
      assert(s.table("ws_parsed").schema.fieldNames.toSeq ==
        Tables.CandleSchema.fieldNames.toSeq)
    } finally q.stop()
  }

  test("streaming session_window sessions agree with the batch sessionize") {
    val s = spark
    import s.implicits._
    // (user_id, ts_ns, value): two users, gaps straddling the 6h threshold
    val gap = graft.operators.Events.SessionGapS
    val base = 1700000000L
    val rows = Seq(
      Ev(1, (base) * 1000000000L, 1L, 1.0),
      Ev(2, (base + gap) * 1000000000L, 1L, 2.0),       // exactly gap: same session in e01
      Ev(3, (base + 3 * gap + 10) * 1000000000L, 1L, 3.0), // > gap later: new session
      Ev(4, (base) * 1000000000L, 2L, 5.0),
      Ev(5, (base + 4 * gap) * 1000000000L, 2L, 6.0))
    val enc = org.apache.spark.sql.Encoders.product[Ev]
    val input = MemoryStream[Ev](enc, s)
    input.addData(rows)

    val q = StreamRollup.sessionizeStream(input.toDF())
      .writeStream.format("memory").queryName("sessions")
      .outputMode("complete").start()
    try {
      q.processAllAvailable()
      val got = s.table("sessions")
        .select("user_id", "session_start", "n_events")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      // session_window merges events whose windows touch ([t, t+gap) then
      // [t+gap, ...) overlap at the boundary), matching e01's `delta > gap
      // starts new` rule: user 1 → {e1,e2} then {e3}; user 2 → two singletons
      assert(got == Set(
        (1L, base, 2L), (1L, base + 3 * gap + 10, 1L),
        (2L, base, 1L), (2L, base + 4 * gap, 1L)), s"got $got")
    } finally q.stop()
  }

  test("streaming rate counts equal e07's batch counting stage") {
    val s = spark
    import s.implicits._
    val base = 1700000000L
    // three minutes of "view" plus one of "click", delivered across two
    // micro-batches (the second re-touches minute 1: incremental update)
    def ev(id: Long, m: Long, t: String) =
      (id, base * 1000000000L + m * 60000000000L, 1L, 1.0, t)
    val b1 = Seq(ev(1, 0, "view"), ev(2, 0, "view"), ev(3, 1, "view"),
      ev(4, 2, "click"))
    val b2 = Seq(ev(5, 1, "view"), ev(6, 1, "view"))
    val enc = org.apache.spark.sql.Encoders.product[(Long, Long, Long, Double, String)]
    val input = MemoryStream[(Long, Long, Long, Double, String)](enc, s)
    val named = input.toDF()
      .toDF("event_id", "ts", "user_id", "value", "event_type")
    val q = StreamRollup.rateCountStream(named)
      .writeStream.format("memory").queryName("rates")
      .outputMode("complete").start()
    try {
      input.addData(b1)
      q.processAllAvailable()
      input.addData(b2)
      q.processAllAvailable()
      val got = s.table("rates").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
      val minuteBase = base / 60
      assert(got == Set(
        ("view", minuteBase, 2L), ("view", minuteBase + 1, 3L),
        ("click", minuteBase + 2, 1L)), s"got $got")
    } finally q.stop()
  }

  test("streaming cooldown carries last-emit state across micro-batches") {
    val s = spark
    val enc = org.apache.spark.sql.Encoders.product[Fired]
    val input = MemoryStream[Fired](enc, s)
    // realistic epochs: ts=0 would sit ON the initial watermark boundary
    // and be dropped as late by the stateful operator's event-time filter
    val b = 1700000000L
    def f(ts: Long) = Fired("S1", b + ts, "price_surge", "up", 2)

    val q = Cooldown.stream(input.toDF(), _ => 600L, strict = false)
      .writeStream.format("memory").queryName("cooled").outputMode("append").start()
    try {
      // batch 1: +0 emits, +300 inside cooldown
      input.addData(f(0), f(300))
      q.processAllAvailable()
      // batch 2: +600 emits ONLY because last-emit=+0 survived in the state
      // store; +900 suppressed; +1200 emits
      input.addData(f(600), f(900), f(1200))
      q.processAllAvailable()
      val got = s.table("cooled").collect().map(_.getAs[Long]("bucket_ts")).toSet
      assert(got == Set(b, b + 600L, b + 1200L), s"got $got")
    } finally q.stop()
  }

  test("streaming exact dedup drops cross-batch duplicates, first arrival wins") {
    val s = spark
    import s.implicits._
    implicit val enc: org.apache.spark.sql.Encoder[Doc] =
      org.apache.spark.sql.Encoders.product[Doc]
    val t0 = 1700000000L
    val input = MemoryStream[Doc](enc, s)
    val q = StreamRollup.dedupStream(input.toDF())
      .writeStream.format("memory").queryName("dedup_stream")
      .outputMode("append").start()
    try {
      input.addData(Seq(
        Doc(1L, "alpha beta gamma", t0),
        Doc(2L, "delta epsilon zeta", t0 + 10)))
      q.processAllAvailable()
      input.addData(Seq(
        Doc(3L, "alpha beta gamma", t0 + 60),   // dup of doc 1, later batch
        Doc(4L, "eta theta iota", t0 + 70),
        Doc(4L, "eta theta iota", t0 + 70)))    // dup within the batch
      q.processAllAvailable()
      val kept = s.table("dedup_stream").select("doc_id").collect()
        .map(_.getLong(0)).toSet
      assert(kept == Set(1L, 2L, 4L),
        s"first arrival must win across and within micro-batches, got $kept")
    } finally q.stop()
  }
}
