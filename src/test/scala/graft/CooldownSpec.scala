package graft

import graft.signals.{Cooldown, RuleCorpus}
import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.scalatest.funsuite.AnyFunSuite

/** One cooldown policy, two executions: [[Cooldown.stream]] carrying state
  * across micro-batches must emit exactly what [[Cooldown.scan]] emits in
  * one batch, and both must match a brute-force greedy walk, for every
  * policy shape the registry runs.
  */
class CooldownSpec extends AnyFunSuite {
  lazy val spark = TestSession.spark
  import spark.implicits._

  /** A policy shape: its fired input, how many time-ordered micro-batches
    * the stream receives, the cooldown lookup and comparison, and any
    * registered entry that must produce the same rows.
    */
  private final case class Shape(name: String, fired: () => DataFrame,
      batches: Int, cdOf: String => Long, strict: Boolean,
      registered: Option[() => DataFrame] = None)

  private val shapes = Seq(
    // g13-style: the corpus MACD mart's fired rows, per-rule cooldowns
    Shape("(symbol, rule) strict, g13-style", () =>
      RuleCorpus.corpusFired(spark, TestSession.sf)
        .filter(col("mart") === "MACD柱状扫描器"),
      batches = 2, Cooldown.corpusCd, strict = true),
    // g19-style: an interleaved 1h/4h always-firing series; a key without
    // the timeframe would let one cadence's clock suppress the other's
    Shape("(symbol, rule, timeframe) strict, g19-style", () =>
      (1 to 3000).flatMap { i =>
        Seq("1h", "4h").map(tf => TfFired("A", i * 60L, "MACD金叉", "MACD柱状扫描器", tf))
      }.toDF(),
      batches = 2, Cooldown.corpusCd, strict = true),
    // g02-style: the pg rule set's fired rows, `>= last + 600`
    Shape("(symbol, rule) non-strict 600 s, g02-style", () =>
      SparkEntry.queries("g01_signal_rules")(spark, TestSession.sf),
      batches = 3, _ => 600L, strict = false,
      registered = Some(() =>
        SparkEntry.queries("g02_signal_cooldown")(spark, TestSession.sf))))

  /** The greedy walk spelled out: per key, rows in (bucket_ts, mart)
    * order, emit when the key has not emitted or the gap clears `cd`.
    */
  private def greedy(rows: Seq[Row], schema: StructType,
      cdOf: String => Long, strict: Boolean): Seq[Row] = {
    val has = schema.fieldNames.toSet
    def str(r: Row, f: String) = if (has(f)) r.getAs[String](f) else ""
    rows.groupBy(r => (str(r, "symbol"), str(r, "rule"), str(r, "timeframe")))
      .values.toSeq.flatMap { rs =>
        var last = Long.MinValue
        rs.sortBy(r => (r.getAs[Long]("bucket_ts"), str(r, "mart"))).filter { r =>
          val ts = r.getAs[Long]("bucket_ts")
          val cd = cdOf(r.getAs[String]("rule"))
          val emit = last == Long.MinValue ||
            (if (strict) ts > last + cd else ts >= last + cd)
          if (emit) last = ts
          emit
        }
      }
  }

  private def sorted(rows: Seq[Row]): Seq[String] = rows.map(_.mkString("|")).sorted

  shapes.foreach { sh =>
    test(s"stream == scan: ${sh.name}") {
      val fired = sh.fired()
      val rows = fired.collect().toSeq.sortBy(_.getAs[Long]("bucket_ts"))
      val input = MemoryStream[Row](Encoders.row(fired.schema), spark)
      val sink = "cooldown_" + sh.name.filter(_.isLetterOrDigit)
      val q = Cooldown.stream(input.toDF(), sh.cdOf, sh.strict)
        .writeStream.format("memory").queryName(sink).outputMode("append").start()
      try {
        // time-ordered micro-batches: the cut may fall inside one bar, so
        // the state store, not one sort, must carry each key's last emit
        rows.grouped(rows.length / sh.batches + 1).foreach { b =>
          input.addData(b)
          q.processAllAvailable()
        }
        val streamed = sorted(spark.table(sink).collect().toSeq)
        val scanned = sorted(Cooldown.scan(fired, sh.cdOf, sh.strict).collect().toSeq)
        val want = sorted(greedy(rows, fired.schema, sh.cdOf, sh.strict))
        assert(want.nonEmpty)
        assert(streamed === want,
          s"stream-only: ${streamed.diff(want).take(3)}; greedy-only: ${want.diff(streamed).take(3)}")
        assert(scanned === want,
          s"scan-only: ${scanned.diff(want).take(3)}; greedy-only: ${want.diff(scanned).take(3)}")
        sh.registered.foreach { reg =>
          assert(sorted(reg().collect().toSeq) === want)
        }
      } finally q.stop()
    }
  }

  test("stream fails naming a rule outside the corpus") {
    val input = MemoryStream[TfFired](Encoders.product[TfFired], spark)
    val q = Cooldown.stream(input.toDF())
      .writeStream.format("memory").queryName("cooldown_unknown")
      .outputMode("append").start()
    try {
      input.addData(TfFired("A", 1700000000L, "no-such-rule", "m", "1h"))
      val e = intercept[Exception](q.processAllAvailable())
      val msgs = Iterator.iterate[Throwable](e)(_.getCause)
        .takeWhile(_ != null).map(t => String.valueOf(t.getMessage)).toSeq
      assert(msgs.exists(_.contains("rule 'no-such-rule' has no registered cooldown")),
        msgs.mkString("\n"))
    } finally q.stop()
  }
}
