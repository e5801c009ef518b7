package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.signals.{MartSeries, RuleCorpus}
import graft.signals.RuleCorpus._

/** Top-level row type for the streaming-parity MemoryStream (a nested
  * class cannot be encoded).
  */
final case class CRow(symbol: String, bucket_ts: Long, open: Double,
  high: Double, low: Double, close: Double, volume: Double,
  quote_volume: Double, trade_count: Long, taker_buy_volume: Double)

/** Pins for the full signal-rule corpus (rules/__init__.py `ALL_RULES`
  * ported verbatim — see RuleCorpus.scala's fidelity model).
  */
class RuleCorpusSpec extends AnyFunSuite {
  lazy val spark = TestSession.spark
  import spark.implicits._

  // ------------------------------------------------------ inventory pins

  test("corpus carries the reference's 129 rules in 8 categories") {
    assert(AllRules.size === 129)  // grep -c 'SignalRule(' over rules/** == 129
    val byCat = AllRules.groupBy(_.category).view.mapValues(_.size).toMap
    // rules/core 20, momentum 8+4+15, trend 19, volatility 15, volume 13,
    // futures 11, pattern 16, misc 2+2+4
    assert(byCat === Map(
      "core" -> 20, "momentum" -> 27, "trend" -> 19, "volatility" -> 15,
      "volume" -> 13, "futures" -> 11, "pattern" -> 16, "misc" -> 8))
  }

  test("every rule references a registered mart table and sane metadata") {
    AllRules.foreach { r =>
      assert(MartSeries.all.contains(r.tableKey), s"${r.name}: ${r.tableKey}")
      assert(Set("BUY", "SELL", "ALERT")(r.direction), r.name)
      assert(r.strength >= 0 && r.strength <= 100, r.name)
      assert(Set("high", "medium", "low")(r.priority), r.name)
      assert(r.cooldown > 0 && r.minVolume >= 0, r.name)
    }
  }

  test("duplicated rule names carry identical cooldowns (shared state key)") {
    AllRules.groupBy(_.name).foreach { case (n, rs) =>
      assert(rs.map(_.cooldown).distinct.size === 1,
        s"same-named rules with different cooldowns would corrupt the shared cooldown key: $n")
    }
  }

  test("every condition's shared SQL parses in Spark") {
    AllRules.foreach { r => expr(fullCond(r)) } // throws on parse failure
  }

  test("rule-by-rule fidelity against the extracted reference metadata") {
    // src/main/resources/reference_rules.json is the mechanical dump of
    // signal-service/src/rules/** (SignalRule fields incl. condition
    // configs, lambdas elided). It ships in MAIN resources because it is
    // a runtime input too — RuleCorpus.msgData reads the message
    // templates from it for g16 — and this spec audits every ported rule
    // against it on every metadata axis.
    val raw = scala.io.Source.fromInputStream(
      getClass.getResourceAsStream("/reference_rules.json"), "UTF-8").mkString
    // minimal JSON read via Spark (no extra deps)
    val refRows = spark.read.option("multiLine", true)
      .json(spark.createDataset(Seq(raw))).collect()
    assert(refRows.length === 129)
    val mine = AllRules.map(r => ((r.name, r.category), r)).toMap
    refRows.foreach { row =>
      val key = (row.getAs[String]("name"), row.getAs[String]("category"))
      val m = mine.get(key)
      assert(m.isDefined, s"reference rule not ported: $key")
      val r = m.get
      assert(MartSeries.all(r.tableKey).table ===
        row.getAs[String]("table").stripSuffix(".py"), key)
      assert(r.subcategory === row.getAs[String]("subcategory"), key)
      assert(r.direction === row.getAs[String]("direction"), key)
      assert(r.strength === row.getAs[Long]("strength").toInt, key)
      assert(r.priority === row.getAs[String]("priority"), key)
      assert(r.cooldown === row.getAs[Long]("cooldown"), key)
      def num(a: Any): Double = a match {
        case l: java.lang.Long => l.toDouble
        case d: java.lang.Double => d
        case x => x.toString.toDouble
      }
      assert(r.minVolume === num(row.get(row.fieldIndex("min_volume"))), key)
      assert(r.timeframes === row.getSeq[String](row.fieldIndex("timeframes")).toSeq, key)
      val refCt = row.getAs[String]("ctype")
      val myCt = r.cond match {
        case _: StateChange => "state_change"
        case _: ThresholdCrossUp => "cross_up"
        case _: ThresholdCrossDown => "cross_down"
        case _: LineCrossUp => "line_cross_up"
        case _: LineCrossDown => "line_cross_down"
        case _: ContainsAny => "contains"
        case _: RangeEnter => "range_enter"
        case _: RangeExit => "range_exit"
        case _: Custom => "custom"
      }
      assert(myCt === refCt, key)
      (r.cond, Option(row.getAs[org.apache.spark.sql.Row]("config"))) match {
        case (StateChange(_, from, to), Some(cfg)) =>
          assert(from === cfg.getSeq[String](cfg.fieldIndex("from_values")).toSeq, key)
          assert(to === cfg.getSeq[String](cfg.fieldIndex("to_values")).toSeq, key)
        case (ThresholdCrossUp(_, t), Some(cfg)) =>
          assert(t === num(cfg.get(cfg.fieldIndex("threshold"))), key)
        case (ThresholdCrossDown(_, t), Some(cfg)) =>
          assert(t === num(cfg.get(cfg.fieldIndex("threshold"))), key)
        case (ContainsAny(_, ps), Some(cfg)) =>
          assert(ps === cfg.getSeq[String](cfg.fieldIndex("patterns")).toSeq, key)
        case _ => ()
      }
    }
  }

  // ----------------------------------------- unit semantics (synthetic)

  /** A tiny controlled mart: one field `v`, turnover column. */
  private def syntheticFired(rows: Seq[(String, Long, java.lang.Double, java.lang.Double)],
      cond: Cond, minVolume: Double = 0.0) = {
    val mart = rows.toDF("symbol", "bucket_ts", "turnover", "v")
    val rule = CorpusRule("t", "x", "c", "s", "BUY", 50, "low", cond,
      minVolume = minVolume)
    fired(evalFrame(mart, Seq("v")), "m", Seq(rule))
      .select("bucket_ts").as[Long].collect().sorted.toSeq
  }

  test("threshold cross-up fires on prev<=t<cur only, null coerces to 0") {
    val d = (x: Double) => java.lang.Double.valueOf(x)
    val rows = Seq(
      ("A", 1L, d(1.0), d(0.5)),      // no prev → no fire
      ("A", 2L, d(1.0), d(2.0)),      // 0.5 <= 1 < 2 → fire
      ("A", 3L, d(1.0), d(3.0)),      // prev 2 > 1 → no
      ("A", 4L, d(1.0), null),        // null → 0 → no
      ("A", 5L, d(1.0), d(2.0)))      // prev null→0 <= 1 < 2 → fire
    assert(syntheticFired(rows, ThresholdCrossUp("v", 1.0)) === Seq(2L, 5L))
  }

  test("min-volume gate binds on the scaled threshold") {
    val d = (x: Double) => java.lang.Double.valueOf(x)
    val rows = Seq(
      ("A", 1L, d(500.0), d(0.0)),
      ("A", 2L, d(99.0), d(2.0)),     // cross but turnover 99 < 100k*1e-3
      ("A", 3L, d(0.5), d(0.0)),
      ("A", 4L, d(100.0), d(2.0)))    // prev 0 ≤ 1 < 2, turnover == gate → fire
    assert(syntheticFired(rows, ThresholdCrossUp("v", 1.0),
      minVolume = 100000.0) === Seq(4L))
  }

  test("python-or coercion: zero hits the default like null") {
    val d = (x: Double) => java.lang.Double.valueOf(x)
    // orv(v, 5.0) > 4 — v=0 coerces to 5 like Python `v or 5`
    val rows = Seq(("A", 1L, d(1.0), d(0.0)), ("A", 2L, d(1.0), null),
      ("A", 3L, d(1.0), d(3.0)))
    val got = syntheticFired(rows,
      Custom("coalesce(nullif(v, 0.0), 5.0) > 4"))
    assert(got === Seq(1L, 2L)) // 0→5 fires, null→5 fires, 3 doesn't
  }

  // --------------------------------------------- fixture behavior pins

  private lazy val allFired =
    RuleCorpus.corpusFired(spark, TestSession.sf).cache()

  test("state-change rules fire exactly on from→to transitions (KDJ)") {
    val md = MartSeries.all("kdj")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("symbol").orderBy("bucket_ts")
    val sigs = md.build(spark, TestSession.sf)
      .withColumn("prev_sig", lag("kdj_sig", 1).over(w))
      .select(col("symbol"), col("bucket_ts"), col("kdj_sig"), col("prev_sig"))
    val firedKdj = allFired.filter(col("rule") === "KDJ金叉")
      .select("symbol", "bucket_ts")
    val joined = firedKdj.join(sigs, Seq("symbol", "bucket_ts")).collect()
    assert(joined.nonEmpty)
    joined.foreach { r =>
      assert(r.getAs[String]("kdj_sig") === "金叉")
      assert(Set("延续", "死叉", "J<0 极值", "J>100 极值")(
        r.getAs[String]("prev_sig")))
    }
  }

  test("cooldown output thins the corpus with strictly-greater gaps") {
    val cooled = RuleCorpus.queries("g13_rules_cooldown")(spark, TestSession.sf)
      .select("symbol", "rule", "bucket_ts")
      .as[(String, String, Long)].collect()
      .groupBy(t => (t._1, t._2))
    val cds = AllRules.map(r => r.name -> r.cooldown).toMap
    cooled.foreach { case ((_, rule), rows) =>
      val ts = rows.map(_._3).sorted
      ts.sliding(2).foreach {
        case Array(a, b) => assert(b - a > cds(rule),
          s"$rule emitted within cooldown: $a → $b (cd ${cds(rule)})")
        case _ =>
      }
    }
    assert(cooled.nonEmpty)
  }

  test("documented dead-vocabulary rules stay dead; their marts stay live") {
    // ATR 波动分类: scanner vocabulary 升温/降温/稳定 (atr.py:38) vs the
    // rules' 低/高波动 from-values — if someone "fixes" either side this
    // pin fails loudly and the corpus-header doc must be updated with it
    val atr = MartSeries.all("atr").build(spark, TestSession.sf)
    val vocab = atr.select("cls").distinct().as[String].collect().toSet
    assert(vocab.nonEmpty && vocab.subsetOf(Set("升温", "降温", "稳定")))
    val deadFires = allFired
      .filter(col("rule").isin("波动率突增", "波动率骤降", "流动性改善",
        "流动性恶化", "主动买盘极端"))
      .filter(col("mart").isin("ATR波幅扫描器", "流动性扫描器", "主动买卖比扫描器"))
      .count()
    assert(deadFires === 0)
  }

  test("mart republication carries the verbatim reference contract") {
    val t = RuleCorpus.martTable(spark, TestSession.sf, "rsi")
    assert(t.columns.take(3).toSeq === Seq("交易对", "周期", "数据时间"))
    assert(Seq("RSI7", "RSI14", "RSI21", "RSI均值", "位置", "背离", "成交额")
      .forall(t.columns.contains))
    assert(t.count() > 0)
  }

  test("plan shape: a category evaluation joins nothing and never goes cartesian") {
    // one symbol-partitioned window pass per mart table, unioned — rule
    // count must scale expression work, not add joins or cartesians
    val p = RuleCorpus.queries("g06_rules_momentum")(spark, TestSession.sf)
      .queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"), p.take(1500))
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin"),
      s"unexpected join in the category plan:\n${p.take(1500)}")
  }

  test("category projection ≡ direct subset evaluation (r13 opt)") {
    // categoryQuery now projects the shared whole-corpus materialization;
    // it must stay row-identical to evaluating the category's rule subset
    // directly (the pre-r13 path, kept as categoryEvaluated)
    for (cat <- Seq("momentum", "core", "futures")) {
      val got = RuleCorpus.categoryQuery(cat)(spark, TestSession.sf)
        .collect().map(_.toSeq).toSet
      val want = RuleCorpus.categoryEvaluated(cat)(spark, TestSession.sf)
        .collect().map(_.toSeq).toSet
      assert(got == want, s"$cat: ${got.diff(want).take(2)} / " +
        s"${want.diff(got).take(2)}")
    }
  }

  test("an unknown category fires nothing in both sharedMemo positions") {
    // memo-on projects the shared corpus (no rows for the category);
    // memo-off evaluates the category's rule subset, which is empty —
    // both must return the same empty 9-column frame, not an error
    val want = RuleCorpus.categoryQuery("core")(spark, TestSession.sf).columns
    for (memo <- Seq("on", "off")) {
      spark.conf.set("spark.graft.sharedMemo", memo)
      try for (q <- Seq(RuleCorpus.categoryQuery("no_such_category"),
          RuleCorpus.categoryQueryAt("no_such_category", 3600L))) {
        val df = q(spark, TestSession.sf)
        assert(df.columns.toSeq === want.toSeq, s"memo=$memo")
        assert(df.isEmpty, s"memo=$memo")
      } finally spark.conf.unset("spark.graft.sharedMemo")
    }
  }

  test("native-timeframe dispatch: the 1h slice IS the 1h corpus") {
    // g18 evaluates each rule at each timeframe it declares
    // (sqlite_engine.py:224-231). Every rule declares 1h (base.py:38
    // default; the two volume rules are 1h-only), so g18's 1h slice must
    // equal g17's whole-corpus 1h evaluation row-for-row — the dispatch
    // adds cadences, never alters a cadence's evaluation.
    val s = spark
    import s.implicits._
    val cols = Seq("symbol", "bucket_ts", "rule", "mart")
    val slice = RuleCorpus.queries("g18_rules_native_tf")(s, TestSession.sf)
      .filter(col("timeframe") === "1h")
      .select(cols.map(col): _*).as[(String, Long, String, String)]
      .collect().toSet
    val whole = RuleCorpus.queries("g17_rules_corpus_1h")(s, TestSession.sf)
      .select(cols.map(col): _*).as[(String, Long, String, String)]
      .collect().toSet
    assert(slice.nonEmpty)
    assert(slice === whole,
      s"slice-only: ${(slice -- whole).take(3)}; corpus-only: ${(whole -- slice).take(3)}")
  }

  // ------------------------------------------------- streaming parity

  test("streaming MACD rule battery == batch corpus across micro-batches") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val rows = Tables.candles(s, TestSession.sf)
      .select("symbol", "bucket_ts", "open", "high", "low", "close",
        "volume", "quote_volume", "trade_count", "taker_buy_volume")
      .as[CRow].collect().sortBy(_.bucket_ts)
    val third = rows.length / 3
    val chunks = Seq(rows.take(third), rows.slice(third, 2 * third),
      rows.drop(2 * third))
    val input = MemoryStream[CRow](implicitly[org.apache.spark.sql.Encoder[CRow]], s)
    val q = graft.streaming.RuleStream.macdRuleStream(input.toDF())
      .writeStream.format("memory").queryName("mrs").outputMode("append").start()
    try {
      chunks.foreach { ch => input.addData(ch); q.processAllAvailable() }
      val got = s.table("mrs").select("symbol", "bucket_ts", "rule")
        .as[(String, Long, String)].collect().toSet
      val want = allFired.filter(col("mart") === "MACD柱状扫描器")
        .select("symbol", "bucket_ts", "rule")
        .as[(String, Long, String)].collect().toSet
      assert(got.nonEmpty)
      assert(got === want,
        s"stream-only: ${(got -- want).take(3)}; batch-only: ${(want -- got).take(3)}")
    } finally q.stop()
  }

  test("streaming per-rule cooldown == the batch greedy scan") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val firedRows = allFired.filter(col("mart") === "MACD柱状扫描器")
      .as[RuleCorpus.Fired9].collect().sortBy(f => (f.bucket_ts, f.mart))
    val half = firedRows.length / 2
    val input = MemoryStream[RuleCorpus.Fired9](
      implicitly[org.apache.spark.sql.Encoder[RuleCorpus.Fired9]], s)
    val q = graft.streaming.RuleStream.corpusCooldownStream(input.toDF())
      .writeStream.format("memory").queryName("mcs").outputMode("append").start()
    try {
      input.addData(firedRows.take(half).toSeq); q.processAllAvailable()
      input.addData(firedRows.drop(half).toSeq); q.processAllAvailable()
      val got = s.table("mcs").select("symbol", "bucket_ts", "rule")
        .as[(String, Long, String)].collect().toSet
      val cds = AllRules.map(r => r.name -> r.cooldown).toMap
      val want = firedRows.groupBy(f => (f.symbol, f.rule)).toSeq.flatMap {
        case ((_, rule), fs) =>
          val cd = cds(rule)
          var last = Long.MinValue
          fs.sortBy(f => (f.bucket_ts, f.mart)).flatMap { f =>
            if (last == Long.MinValue || f.bucket_ts > last + cd) {
              last = f.bucket_ts; Some((f.symbol, f.bucket_ts, f.rule))
            } else None
          }
      }.toSet
      assert(got.nonEmpty && got === want)
    } finally q.stop()
  }

  test("streaming tf-keyed cooldown == the batch cooldownScanTf scan") {
    // the engine's full state key, streamed: an interleaved 1h/4h
    // always-firing series split across micro-batches must reproduce the
    // batch greedy emission with independent per-timeframe clocks
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val rows = (1 to 3000).flatMap { i =>
      Seq("1h", "4h").map(tf => RuleCorpus.FiredTf(
        "A", i * 60L, "MACD金叉", "MACD柱状扫描器", "volume", "macd",
        "BUY", 65, "medium", tf))
    }.sortBy(_.bucket_ts)
    val half = rows.length / 2
    val input = MemoryStream[RuleCorpus.FiredTf](
      implicitly[org.apache.spark.sql.Encoder[RuleCorpus.FiredTf]], s)
    val q = graft.streaming.RuleStream.corpusCooldownStreamTf(input.toDF())
      .writeStream.format("memory").queryName("tcs").outputMode("append").start()
    try {
      input.addData(rows.take(half)); q.processAllAvailable()
      input.addData(rows.drop(half)); q.processAllAvailable()
      val got = s.table("tcs").select("timeframe", "bucket_ts")
        .as[(String, Long)].collect().toSet
      val want = RuleCorpus.cooldownScanTf(rows.toDF())
        .select("timeframe", "bucket_ts").as[(String, Long)].collect().toSet
      assert(got.nonEmpty)
      assert(got === want,
        s"stream-only: ${(got -- want).take(3)}; batch-only: ${(want -- got).take(3)}")
    } finally q.stop()
  }

  test("cooldown scan streams at O(1) state: dense always-firing series") {
    // the r7 verdict's named heap exposure: a per-(symbol, rule) toArray
    // buffers millions of rows for an always-firing rule. The scan must
    // (a) not materialize groups (no FlatMapGroups/object hash in the
    // plan) and (b) produce the exact greedy emission over a dense
    // multi-year series
    val s = spark
    import s.implicits._
    val n = 200000 // ~139 days of 1m bars, every bar fired
    val rows = (1 to n).map(i => RuleCorpus.Fired10(
      "A", i * 60L, "MACD金叉", "MACD柱状扫描器", "volume", "macd",
      "BUY", 65, "medium", "m"))
    val out = RuleCorpus.cooldownScan(rows.toDF())
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("FlatMapGroups"),
      s"cooldown scan still buffers per group:\n${plan.take(800)}")
    val got = out.select("bucket_ts").as[Long].collect().sorted.toSeq
    val want = Seq.newBuilder[Long]
    var last = Long.MinValue
    rows.foreach { f =>
      if (last == Long.MinValue || f.bucket_ts > last + 3600L) {
        want += f.bucket_ts; last = f.bucket_ts
      }
    }
    assert(got === want.result())
  }

  test("per-timeframe cooldown carries independent clocks per timeframe") {
    // the engine keys cooldown state by f"{rule}_{symbol}_{timeframe}"
    // (sqlite_engine.py:203-212): the SAME rule firing at 1h and 4h must
    // not suppress each other. Interleave two cadences of an always-firing
    // rule; a scan that collapsed the key to (symbol, rule) would emit
    // roughly half the rows. Also pin the O(1)-state plan shape.
    val s = spark
    import s.implicits._
    val n = 5000
    val rows = (1 to n).flatMap { i =>
      Seq("1h", "4h").map(tf => RuleCorpus.FiredTf(
        "A", i * 60L, "MACD金叉", "MACD柱状扫描器", "volume", "macd",
        "BUY", 65, "medium", tf))
    }
    val out = RuleCorpus.cooldownScanTf(rows.toDF())
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("FlatMapGroups"),
      s"tf cooldown scan still buffers per group:\n${plan.take(800)}")
    val got = out.select("timeframe", "bucket_ts").as[(String, Long)]
      .collect().groupBy(_._1).view.mapValues(_.map(_._2).sorted.toSeq).toMap
    val want = Seq.newBuilder[Long]
    var last = Long.MinValue
    (1 to n).foreach { i =>
      val ts = i * 60L
      if (last == Long.MinValue || ts > last + 3600L) { want += ts; last = ts }
    }
    val perTf = want.result()
    assert(got("1h") === perTf && got("4h") === perTf,
      s"clocks interfered: 1h=${got("1h").length}, 4h=${got("4h").length}, want=${perTf.length} each")
  }

  test("f02 tick == whole-corpus cooldown feed restricted to the priority cut") {
    // every mart series is per-symbol window math, so cutting the facts
    // to the priority set BEFORE evaluation (the tick's 100 TB shape)
    // must commute with evaluating everything and filtering after —
    // including cooldown state (per-symbol) and rendered messages
    val prio = operators.Relational.queries("r07_topk_union")(spark, TestSession.sf)
      .as[String].collect().toSet
    assert(prio.nonEmpty)
    val tick = RuleCorpus.queries("f02_production_tick")(spark, TestSession.sf)
      .collect().map(_.toSeq).toSet
    val full = RuleCorpus.cooldownScan(
        RuleCorpus.corpusFiredShared(spark, TestSession.sf))
      .filter(col("symbol").isin(prio.toSeq: _*))
      .collect().map(_.toSeq).toSet
    assert(tick.nonEmpty)
    assert(tick === full,
      s"tick-only: ${(tick -- full).take(2)}; full-only: ${(full -- tick).take(2)}")
  }

  test("g20 feed == g19 cooldown rows + price/message riding along") {
    // the published-Signal feed must not let the extra columns perturb
    // the cooldown emission: dropping price/message from g20 yields
    // exactly g19's row set (same dispatch, same greedy scan key)
    val s = spark
    import s.implicits._
    val cols = Seq("symbol", "bucket_ts", "rule", "mart", "timeframe")
    val feed = RuleCorpus.queries("g20_native_feed")(s, TestSession.sf)
    assert(feed.columns.contains("price") && feed.columns.contains("message"))
    val got = feed.select(cols.map(col): _*)
      .as[(String, Long, String, String, String)].collect().toSet
    val want = RuleCorpus.queries("g19_rules_native_cooldown")(s, TestSession.sf)
      .select(cols.map(col): _*)
      .as[(String, Long, String, String, String)].collect().toSet
    assert(got.nonEmpty)
    assert(got === want,
      s"feed-only: ${(got -- want).take(3)}; g19-only: ${(want -- got).take(3)}")
  }

  test("g20b retained feed == g20 on every key the retention window covers whole") {
    // the retention cut (newest retentionFor(timeframe) fired rows per
    // cooldown key, BEFORE the scan — the reference's per-interval
    // RETENTION map) is a no-op wherever a key's full fired history fits
    // inside its timeframe's window — there the bounded steady-state
    // feed must be row-identical to the full-history one; keys deeper
    // than the window may legitimately differ (the reference's cold
    // start when older rows age out of retention). Per-key output is
    // also bounded by the window by construction.
    val s = spark
    import s.implicits._
    val retLim = coalesce(
      element_at(typedLit(RuleCorpus.RetentionByTf), col("timeframe")),
      lit(RuleCorpus.RetentionDefault))
    val fired = RuleCorpus.queries("g18_rules_native_tf")(s, TestSession.sf)
      .groupBy("symbol", "rule", "timeframe").count()
      .filter(col("count") <= retLim)
      .select($"symbol", $"rule", $"timeframe")
      .as[(String, String, String)].collect().toSet
    assert(fired.nonEmpty)
    def keyed(name: String) =
      RuleCorpus.queries(name)(s, TestSession.sf).collect()
        .map(r => ((r.getAs[String]("symbol"), r.getAs[String]("rule"),
          r.getAs[String]("timeframe")), r.toSeq))
        .filter(t => fired.contains(t._1)).toSet
    val got = keyed("g20b_native_feed_retained")
    val want = keyed("g20_native_feed")
    assert(got.nonEmpty)
    assert(got === want,
      s"g20b-only: ${(got -- want).take(2)}; g20-only: ${(want -- got).take(2)}")
  }

  test("f03 native tick == native cooldown feed restricted to the priority cut") {
    // the per-timeframe dispatch and its cooldown key are per-symbol, so
    // the priority cut commutes with the whole native loop; this also
    // guards the rolledShared cache against fact-override poisoning (g19
    // populates the uncut cache, f03 builds cut roll-ups — a leak either
    // way breaks the equality or the g18/g19 oracles)
    val s = spark
    import s.implicits._
    val prio = operators.Relational.queries("r07_topk_union")(s, TestSession.sf)
      .as[String].collect().toSet
    assert(prio.nonEmpty)
    val tick = RuleCorpus.queries("f03_native_tick")(s, TestSession.sf)
      .collect().map(_.toSeq).toSet
    val full = RuleCorpus.queries("g19_rules_native_cooldown")(s, TestSession.sf)
      .filter(col("symbol").isin(prio.toSeq: _*))
      .collect().map(_.toSeq).toSet
    assert(tick.nonEmpty)
    assert(tick === full,
      s"tick-only: ${(tick -- full).take(2)}; full-only: ${(full -- tick).take(2)}")
  }

  test("native family's shared materialization == the standalone dispatch") {
    // g18/g19/g20 project from ONE checkpointed fired stream
    // (nativeFiredShared — the engine's evaluate-once-fan-out shape,
    // sqlite_engine.py:218-276). The projection must be row-identical to
    // building the dispatch from scratch: any drift between firedMsg's
    // when-structs and fired's means the shared stream is not the g18
    // the oracle checks.
    val shared = RuleCorpus.queries("g18_rules_native_tf")(spark, TestSession.sf)
    assert(!shared.columns.contains("message"))
    val got = shared.collect().map(_.toSeq).toSet
    val standalone = RuleCorpus.nativeTfQuery(spark, TestSession.sf)
      .collect().map(_.toSeq).toSet
    assert(got.nonEmpty)
    assert(got === standalone,
      s"shared-only: ${(got -- standalone).take(3)}; standalone-only: ${(standalone -- got).take(3)}")
  }

  test("g02's cooldown runs the O(1)-state scan and keeps pg semantics") {
    // the last per-group `it.toArray` buffer (operators/Signals.scala,
    // r8 verdict item 4) is retired: g02 must plan as the streaming scan
    // (no FlatMapGroups) and keep the pg engine's NON-strict emission
    // (`>= last + cd`, pg_engine.py:612-636) vs the sqlite engine's
    // strict one — the brute-force twin here uses >= on purpose.
    val out = operators.Signals.queries("g02_signal_cooldown")(spark, TestSession.sf)
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("FlatMapGroups"),
      s"g02 still buffers per group:\n${plan.take(800)}")
    val fired = operators.Signals.queries("g01_signal_rules")(spark, TestSession.sf)
      .select("symbol", "bucket_ts", "rule")
      .as[(String, Long, String)].collect()
    val want = fired.groupBy(f => (f._1, f._3)).toSeq.flatMap { case (_, fs) =>
      var last = Long.MinValue
      fs.sortBy(_._2).flatMap { f =>
        if (last == Long.MinValue || f._2 >= last + 600L) {
          last = f._2; Some(f)
        } else None
      }
    }.toSet
    val got = out.select("symbol", "bucket_ts", "rule")
      .as[(String, Long, String)].collect().toSet
    assert(got.nonEmpty)
    assert(got === want,
      s"scan-only: ${(got -- want).take(3)}; brute-only: ${(want -- got).take(3)}")
  }

  test("clustered roll-up checkpoints make mart window passes exchange-free") {
    // the round-9 scale claim: rolledShared repartitions by symbol and
    // pre-sorts (symbol, bucket_ts) BEFORE the checkpoint, and
    // Dataset.localCheckpoint preserves both — so a mart series built
    // from the rolled frame must plan its symbol windows with NO shuffle
    // exchange and NO extra sort below them (3 shuffles per native
    // evaluation instead of ~105). Pin one representative mart at the 1h
    // cadence: its physical plan over the checkpointed roll-up contains
    // zero ShuffleExchange nodes.
    val md = MartSeries.all("macd")
    val rolled = RuleCorpus.rolledShared(spark, TestSession.sf, 3600L)
    val plan = md.buildFrom(spark, TestSession.sf, rolled)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning"),
      s"mart pass over the clustered checkpoint still shuffles:\n${plan.take(1200)}")
  }

  test("fused roll-up checkpoint keeps mart passes exchange-free") {
    // the f03 fusion (r10): every cadence's rolled bars under the
    // composite symbol+U+0001+tf key, clustered + checkpointed ONCE —
    // a mart series built from the fused frame must plan its symbol
    // windows with no shuffle exchange, so the fused dispatch costs one
    // shuffle for the whole 35-mart build instead of one per mart.
    val md = MartSeries.all("macd")
    val fused = RuleCorpus.fusedRolledFrame(spark, TestSession.sf)
    try {
      val plan = md.buildFrom(spark, TestSession.sf, fused)
        .queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning"),
        s"mart pass over the fused checkpoint still shuffles:\n${plan.take(1200)}")
      // and the frame really carries all three cadences under the tag
      val sep = operators.Mart.IvTagSep
      val tfs = fused.select(substring_index(col("symbol"), sep, -1))
        .distinct().as[String](org.apache.spark.sql.Encoders.STRING)
        .collect().toSet
      assert(tfs === Set("1h", "4h", "1d"), s"fused frame cadences: $tfs")
    } finally RuleCorpus.dropCheckpoint(fused)
  }

  test("live coverage: most categories fire on the fixture") {
    val liveCats = allFired.select("category").distinct().as[String]
      .collect().toSet
    assert(Set("core", "momentum", "trend", "volatility", "volume",
      "futures", "pattern", "misc").subsetOf(liveCats),
      s"categories with zero fired rules: ${liveCats}")
  }
}
