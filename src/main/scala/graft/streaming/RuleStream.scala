package graft.streaming

import graft.signals.RuleCorpus
import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}

/** The rule corpus's STREAMING path (SURVEY §2.5 × §2.7): the reference's
  * incremental scanners (indicators/incremental — per-symbol EWMA
  * state updated per closed bar) + the rule engine's baseline compare +
  * cooldown, as one Structured Streaming pipeline:
  *
  *   candle stream → per-symbol INDICATOR STATE (`flatMapGroupsWithState`
  *   carrying the EWMA registers — exactly what incremental/macd.py keeps
  *   in its pandas cache) → the SAME shared-dialect rule battery the batch
  *   corpus evaluates ([[RuleCorpus.fired]] is stateless column logic, so
  *   it applies to a streaming frame unchanged — single-source rule
  *   semantics across batch, oracle and stream) → per-rule cooldown state
  *   ([[graft.signals.Cooldown.stream]]).
  *
  * The MACD table is the demonstrator (8 corpus rules: the volume pack's
  * five + core's zero-axis three); every other EWMA-chain mart series
  * streams with the same state shape. Parity with the batch corpus is
  * pinned in RuleCorpusSpec (a file-replayed candle stream fires exactly
  * the batch `corpusFired` rows for the MACD mart) and CooldownSpec (the
  * streamed cooldown emits exactly the batch scan's rows).
  *
  * Scale shape: state is O(symbols) fixed-width registers (7 doubles +
  * 2 longs per symbol — KBs per thousand symbols); the shuffle key is the
  * symbol, same as every batch indicator; rules stay row-local; cooldown
  * state is one timestamp per ACTIVE (symbol, rule), watermark-evicted.
  * Within a micro-batch rows sort by bucket_ts; rows at-or-behind the
  * per-symbol high-water mark are dropped (the batch path is the lateness
  * ground truth, the repo-wide streaming stance).
  */
object RuleStream {

  private[graft] final case class CandleIn(symbol: String, bucket_ts: Long,
    close: Double, quote_volume: Double)

  /** Per-symbol incremental MACD registers (incremental/macd.py:6-14 via
    * the m_macd per-bar series semantics: EMA12/EMA26 seeded at the first
    * bar, DEA = EMA(DIF, 9), quantized to the 6-dp grid at emission).
    */
  private[graft] final case class MacdSt(n: Long, lastTs: Long,
    e12: Double, e26: Double, dea: Double,
    pDif: Double, pDea: Double, pHist: Double, pTurn: Double,
    emitted: Boolean)

  /** One emitted eval row per warm bar — the [[RuleCorpus.evalFrame]]
    * column contract for the macd table.
    */
  private[graft] final case class MacdEval(symbol: String, bucket_ts: Long,
    turnover: Double, dif: Double, dea: Double, hist: Double,
    prev_dif: java.lang.Double, prev_dea: java.lang.Double,
    prev_hist: java.lang.Double, prev_turnover: java.lang.Double,
    has_prev: Boolean)

  private def q6(x: Double): Double = math.floor(x * 1e6 + 0.5) / 1e6

  /** Candle stream → per-bar MACD eval rows (warm-up 35 bars, matching
    * the batch mart series).
    */
  def macdEvalStream(candles1m: DataFrame): Dataset[MacdEval] = {
    val spark = candles1m.sparkSession
    import spark.implicits._
    implicit val encSt: Encoder[MacdSt] = Encoders.product[MacdSt]
    implicit val encOut: Encoder[MacdEval] = Encoders.product[MacdEval]
    val a12 = 2.0 / 13.0; val a26 = 2.0 / 27.0; val a9 = 2.0 / 10.0
    candles1m
      .select(col("symbol"), col("bucket_ts"), col("close"), col("quote_volume"))
      .as[CandleIn]
      .groupByKey(_.symbol)
      .flatMapGroupsWithState[MacdSt, MacdEval](
        OutputMode.Append, GroupStateTimeout.NoTimeout) { (sym, it, state) =>
        var st = state.getOption.getOrElse(
          MacdSt(0L, Long.MinValue, 0, 0, 0, 0, 0, 0, 0, emitted = false))
        val out = Seq.newBuilder[MacdEval]
        it.toArray.sortBy(_.bucket_ts).foreach { c =>
          if (c.bucket_ts > st.lastTs) {
            val e12 = if (st.n == 0) c.close else a12 * c.close + (1 - a12) * st.e12
            val e26 = if (st.n == 0) c.close else a26 * c.close + (1 - a26) * st.e26
            val dif = e12 - e26
            val dea = if (st.n == 0) dif else a9 * dif + (1 - a9) * st.dea
            val n = st.n + 1
            val (qd, qa) = (q6(dif), q6(dea))
            val qh = q6(2.0 * (dif - dea))
            val qt = q6(c.quote_volume)
            if (n >= 35) {
              out += MacdEval(sym, c.bucket_ts, qt, qd, qa, qh,
                if (st.emitted) st.pDif else null,
                if (st.emitted) st.pDea else null,
                if (st.emitted) st.pHist else null,
                if (st.emitted) st.pTurn else null,
                st.emitted)
              st = MacdSt(n, c.bucket_ts, e12, e26, dea, qd, qa, qh, qt,
                emitted = true)
            } else
              st = st.copy(n = n, lastTs = c.bucket_ts, e12 = e12, e26 = e26,
                dea = dea)
          }
        }
        state.update(st)
        out.result().iterator
      }
  }

  /** The streamed MACD-table rule battery: the batch corpus's rules for
    * the macd mart, evaluated by the SAME generated predicates.
    */
  def macdRuleStream(candles1m: DataFrame): DataFrame =
    RuleCorpus.fired(macdEvalStream(candles1m).toDF(),
      "MACD柱状扫描器", RuleCorpus.AllRules.filter(_.tableKey == "macd"))
}
