package graft.operators

import graft.{Oracle, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Signal-rule DSL (SURVEY.md §2.5) — the reference's `SignalRule`
  * change-detection engine (signal-service/src/rules/base.py:13-148)
  * re-expressed as a rule→`Column` compiler.
  *
  * The reference polls a mart and compares (prev_row, curr_row) dicts per
  * key; in Spark the whole corpus evaluates in ONE window pass —
  * `lag().over(partitionBy(symbol).orderBy(ts))` materializes the prev row,
  * each rule compiles to a boolean Column, and an explode over
  * `when(cond, struct)` emits fired signals. One shuffle for any number of
  * rules; at 100 TB the rule count doesn't change the plan shape.
  *
  * Null semantics follow the reference: a missing prev ROW fails every
  * prev-dependent rule (`if not prev: return False`); a NULL field inside
  * an existing row coerces to 0 (`prev.get(fld, 0) or 0`).
  */
object Signals {
  private type Q = (SparkSession, String) => DataFrame

  sealed trait Condition
  /** base.py:56-64 */
  final case class StateChange(field: String, from: Seq[String], to: Seq[String]) extends Condition
  /** base.py:66-73 — prev ≤ t < curr */
  final case class ThresholdCrossUp(field: String, threshold: Double) extends Condition
  /** base.py:75-82 — prev ≥ t > curr */
  final case class ThresholdCrossDown(field: String, threshold: Double) extends Condition
  /** base.py:84-93 — a crosses above b */
  final case class CrossUp(fieldA: String, fieldB: String) extends Condition
  /** base.py:95-104 */
  final case class CrossDown(fieldA: String, fieldB: String) extends Condition
  /** base.py:106-112 — substring match on the current row only */
  final case class Contains(field: String, patterns: Seq[String], matchAny: Boolean = true) extends Condition
  /** base.py:114-122 */
  final case class RangeEnter(field: String, min: Double, max: Double) extends Condition
  /** base.py:124-132 */
  final case class RangeExit(field: String, min: Double, max: Double) extends Condition
  /** base.py:134-148 CUSTOM — the escape hatch: the reference accepts an
    * arbitrary Python predicate over (prev, curr); the Spark-DSL
    * equivalent is an arbitrary boolean [[Column]] over the base frame
    * (current fields by name, lagged as `prev_<field>`, `has_prev` gate).
    * `sql` is the DuckDB twin the oracle splices — library users who don't
    * run the oracle harness can leave it empty.
    */
  final case class Custom(cond: Column, sql: String = "") extends Condition

  final case class SignalRule(name: String, direction: String, strength: Int,
    condition: Condition, cooldownSec: Long = 600L)

  /** Compile a condition to a boolean Column. `cur`/`prev` resolve a field
    * name to its current/lagged Column; `hasPrev` is the prev-row-exists
    * gate.
    */
  def compile(c: Condition, cur: String => Column, prev: String => Column,
    hasPrev: Column): Column = {
    def z(col: Column): Column = coalesce(col, lit(0.0))
    c match {
      case StateChange(f, from, to) =>
        hasPrev && prev(f).isin(from: _*) && cur(f).isin(to: _*)
      case ThresholdCrossUp(f, t) =>
        hasPrev && z(prev(f)) <= t && z(cur(f)) > t
      case ThresholdCrossDown(f, t) =>
        hasPrev && z(prev(f)) >= t && z(cur(f)) < t
      case CrossUp(a, b) =>
        hasPrev && z(prev(a)) <= z(prev(b)) && z(cur(a)) > z(cur(b))
      case CrossDown(a, b) =>
        hasPrev && z(prev(a)) >= z(prev(b)) && z(cur(a)) < z(cur(b))
      case Contains(f, ps, any) =>
        val hits = ps.map(p => cur(f).contains(p))
        if (any) hits.reduce(_ || _) else hits.reduce(_ && _)
      case RangeEnter(f, lo, hi) =>
        hasPrev && !(z(prev(f)) >= lo && z(prev(f)) <= hi) &&
          (z(cur(f)) >= lo && z(cur(f)) <= hi)
      case RangeExit(f, lo, hi) =>
        hasPrev && (z(prev(f)) >= lo && z(prev(f)) <= hi) &&
          !(z(cur(f)) >= lo && z(cur(f)) <= hi)
      case Custom(cond, _) => cond
    }
  }

  /** Rule corpus modeled on the PG engine's 11 hard-coded checks
    * (pg_engine.py:148-404,561-636): price surge/dump, volume spike, taker
    * dominance, MA crosses, balance-band transitions, activity jumps.
    */
  val Rules: Seq[SignalRule] = Seq(
    SignalRule("price_surge", "BUY", 80, ThresholdCrossUp("change_pct", 2.0)),
    SignalRule("price_dump", "SELL", 80, ThresholdCrossDown("change_pct", -2.0)),
    SignalRule("volume_spike", "ALERT", 60, ThresholdCrossUp("vol_ratio", 1.5)),
    SignalRule("taker_buy_dominance", "BUY", 70, ThresholdCrossUp("taker_ratio", 0.7)),
    SignalRule("taker_sell_dominance", "SELL", 70, ThresholdCrossDown("taker_ratio", 0.3)),
    SignalRule("price_above_ma", "BUY", 65, CrossUp("close", "ma20")),
    SignalRule("price_below_ma", "SELL", 65, CrossDown("close", "ma20")),
    SignalRule("balance_enter", "ALERT", 30, RangeEnter("taker_ratio", 0.45, 0.55)),
    SignalRule("balance_exit", "ALERT", 40, RangeExit("taker_ratio", 0.45, 0.55)),
    SignalRule("activity_jump", "ALERT", 55,
      StateChange("activity", Seq("normal", "low"), Seq("high"))),
    SignalRule("activity_high", "ALERT", 10, Contains("activity", Seq("igh"))),
    // the CUSTOM escape hatch exercised in the registered corpus: price up
    // while participation thins — not expressible as any single built-in
    // condition type (the point of base.py's lambda)
    SignalRule("thin_rally", "ALERT", 50, Custom(
      col("has_prev") &&
        coalesce(col("close"), lit(0.0)) > coalesce(col("prev_close"), lit(0.0)) &&
        coalesce(col("vol_ratio"), lit(0.0)) <
          coalesce(col("prev_vol_ratio"), lit(0.0)) - lit(0.5),
      "has_prev AND coalesce(close, 0.0) > coalesce(prev_close, 0.0)" +
        " AND coalesce(vol_ratio, 0.0) < coalesce(prev_vol_ratio, 0.0) - 0.5")))

  /** Candle frame + derived fields + one lag pass; the input every rule
    * evaluates against.
    */
  private def baseFrame(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("symbol").orderBy("bucket_ts")
    val w20 = w.rowsBetween(-19, 0)
    // nullif guards: a zero-volume bar (one zero-value event in a minute)
    // or a zero prior close exists in any large corpus — unguarded ANSI
    // division aborts the whole job there. NULL ratios make every rule
    // condition false in BOTH engines (NULL comparisons), so the guarded
    // form is the semantic the rules want.
    val withDerived = Tables.candles(s, dir)
      .withColumn("taker_ratio",
        col("taker_buy_volume") / nullif(col("volume"), lit(0.0)))
      .withColumn("ma20", avg("close").over(w20))
      .withColumn("vol_ratio",
        col("volume") / nullif(avg("volume").over(w20), lit(0.0)))
      .withColumn("change_pct",
        (col("close") - lag("close", 1).over(w)) /
          nullif(lag("close", 1).over(w), lit(0.0)) * 100)
      .withColumn("activity",
        when(col("vol_ratio") >= 1.5, "high")
          .when(col("vol_ratio") <= 0.5, "low").otherwise("normal"))
    val fields = Seq("close", "ma20", "vol_ratio", "change_pct", "taker_ratio", "activity")
    fields.foldLeft(withDerived.withColumn("has_prev", lag(lit(1), 1).over(w).isNotNull)) {
      (df, f) => df.withColumn(s"prev_$f", lag(f, 1).over(w))
    }
  }

  /** Fired signals: one row per (symbol, bar, rule) whose condition holds. */
  private val fired: Q = (s, dir) => {
    val base = baseFrame(s, dir)
    val sigs = array(Rules.map { r =>
      val cond = compile(r.condition, col, f => col(s"prev_$f"), col("has_prev"))
      when(cond, struct(lit(r.name).as("rule"), lit(r.direction).as("direction"),
        lit(r.strength).as("strength")))
    }: _*)
    base.select(col("symbol"), col("bucket_ts"), explode(sigs).as("sig"))
      .where(col("sig").isNotNull)
      .select(col("symbol"), col("bucket_ts"), col("sig.rule").as("rule"),
        col("sig.direction").as("direction"), col("sig.strength").as("strength"))
  }

  /** Fired signals after per-(symbol, rule) cooldown (pg_engine.py:612-636):
    * a signal emits only if ≥ `cooldownSec` after the previously EMITTED
    * one — a per-key greedy scan (stateful, not window-expressible), run
    * as [[graft.signals.Cooldown.scan]] with the pg engine's non-strict
    * `>= last + cd` emission.
    */
  private def cooldown(signals: DataFrame, cd: Long): DataFrame =
    graft.signals.Cooldown.scan(signals, _ => cd, strict = false)

  private val cooled: Q = (s, dir) => cooldown(fired(s, dir), 600L)

  /** G3 — freshness gate (pg_engine.py:510-519 `_is_fresh`): a series is
    * evaluated only when its latest row is younger than
    * max(DATA_MAX_AGE_SECONDS=600, 1.5×timeframe) — the per-timeframe
    * dynamic threshold. Batch restatement: "now" is the corpus max
    * timestamp (kept in-plan as a broadcast scalar, no driver collect);
    * one gate row per (symbol, timeframe) so downstream signal evaluation
    * can semi-join `is_fresh = 1`.
    */
  private val freshness: Q = (s, dir) => {
    val c = Tables.candles(s, dir)
    val nowTs = c.agg(max(col("bucket_ts")).as("now_ts"))
    val perTf = Seq(("1m", 60L), ("1h", 3600L)).map { case (name, secs) =>
      val allowed = math.max(600L, secs * 3 / 2)
      c.groupBy(col("symbol"))
        .agg(max(expr(s"bucket_ts DIV $secs") * secs).as("latest_ts"))
        .join(broadcast(nowTs))
        .select(col("symbol"), lit(name).as("timeframe"), col("latest_ts"),
          (col("now_ts") - col("latest_ts")).as("age_sec"),
          lit(allowed).as("allowed_sec"),
          ((col("now_ts") - col("latest_ts")) <= allowed).cast("int").as("is_fresh"))
    }
    perTf.reduce(_.unionAll(_))
  }

  /** G4 — the reference's full evaluation loop as ONE pipeline
    * (pg_engine.py: freshness check → rule evaluation → cooldown dedup):
    * signals fire only for symbols passing the 1h freshness gate, then
    * the per-(symbol, rule) cooldown thins them. The gate side is ~150
    * symbol ids — a broadcast semi-join, no shuffle of the signal stream.
    */
  private val gatedSignals: Q = (s, dir) => {
    val freshSyms = freshness(s, dir)
      .filter(col("timeframe") === "1h" && col("is_fresh") === 1)
      .select("symbol")
    cooldown(fired(s, dir).join(broadcast(freshSyms), Seq("symbol"),
      "left_semi"), 600L)
  }

  val queries: Map[String, Q] = Map(
    "g01_signal_rules" -> fired,
    "g02_signal_cooldown" -> cooled,
    "g03_freshness_gate" -> freshness,
    "g04_gated_signals" -> gatedSignals)

  // ---------------------------------------------------------------- oracle

  /** SQL twin of a compiled condition — generated from the same rule
    * objects so Spark and DuckDB always agree on the corpus.
    */
  private def sqlCond(c: Condition): String = {
    def z(f: String) = s"coalesce($f, 0.0)"
    def pz(f: String) = s"coalesce(prev_$f, 0.0)"
    c match {
      case StateChange(f, from, to) =>
        val fs = from.map(v => s"'$v'").mkString(", ")
        val ts = to.map(v => s"'$v'").mkString(", ")
        s"has_prev AND prev_$f IN ($fs) AND $f IN ($ts)"
      case ThresholdCrossUp(f, t) => s"has_prev AND ${pz(f)} <= $t AND ${z(f)} > $t"
      case ThresholdCrossDown(f, t) => s"has_prev AND ${pz(f)} >= $t AND ${z(f)} < $t"
      case CrossUp(a, b) =>
        s"has_prev AND ${pz(a)} <= ${pz(b)} AND ${z(a)} > ${z(b)}"
      case CrossDown(a, b) =>
        s"has_prev AND ${pz(a)} >= ${pz(b)} AND ${z(a)} < ${z(b)}"
      case Contains(f, ps, any) =>
        ps.map(p => s"contains($f, '$p')").mkString(if (any) " OR " else " AND ")
      case RangeEnter(f, lo, hi) =>
        s"has_prev AND NOT (${pz(f)} >= $lo AND ${pz(f)} <= $hi) AND (${z(f)} >= $lo AND ${z(f)} <= $hi)"
      case RangeExit(f, lo, hi) =>
        s"has_prev AND (${pz(f)} >= $lo AND ${pz(f)} <= $hi) AND NOT (${z(f)} >= $lo AND ${z(f)} <= $hi)"
      case Custom(_, sql) =>
        require(sql.nonEmpty, "Custom condition in the oracle corpus needs its SQL twin")
        sql
    }
  }

  private val BASE =
    """base AS (
      |  SELECT symbol, bucket_ts, close, ma20, vol_ratio, change_pct,
      |         taker_ratio, activity,
      |         lag(1) OVER w IS NOT NULL AS has_prev,
      |         lag(close) OVER w AS prev_close,
      |         lag(ma20) OVER w AS prev_ma20,
      |         lag(vol_ratio) OVER w AS prev_vol_ratio,
      |         lag(change_pct) OVER w AS prev_change_pct,
      |         lag(taker_ratio) OVER w AS prev_taker_ratio,
      |         lag(activity) OVER w AS prev_activity
      |  FROM (
      |    SELECT *,
      |      CASE WHEN vol_ratio >= 1.5 THEN 'high'
      |           WHEN vol_ratio <= 0.5 THEN 'low' ELSE 'normal' END AS activity,
      |      (close - lag(close) OVER w) / nullif(lag(close) OVER w, 0.0) * 100 AS change_pct
      |    FROM (
      |      SELECT symbol, bucket_ts, close,
      |             taker_buy_volume / nullif(volume, 0.0) AS taker_ratio,
      |             avg(close) OVER w20 AS ma20,
      |             volume / nullif(avg(volume) OVER w20, 0.0) AS vol_ratio
      |      FROM candles
      |      WINDOW w20 AS (PARTITION BY symbol ORDER BY bucket_ts
      |                     ROWS BETWEEN 19 PRECEDING AND CURRENT ROW))
      |    WINDOW w AS (PARTITION BY symbol ORDER BY bucket_ts))
      |  WINDOW w AS (PARTITION BY symbol ORDER BY bucket_ts))""".stripMargin

  private val BRANCHES: String = Rules.map { r =>
    s"""SELECT symbol, bucket_ts, '${r.name}' AS rule, '${r.direction}' AS direction,
       |  ${r.strength} AS strength FROM base WHERE ${sqlCond(r.condition)}""".stripMargin
  }.mkString("\n UNION ALL\n")

  val oracle: Map[String, String] = Map(
    "g03_freshness_gate" -> Oracle.withCandles(
      """, nowt AS (SELECT max(bucket_ts) AS now_ts FROM candles)
        |SELECT symbol, '1m' AS timeframe, latest_ts,
        |  now_ts - latest_ts AS age_sec, CAST(600 AS BIGINT) AS allowed_sec,
        |  CAST(now_ts - latest_ts <= 600 AS INT) AS is_fresh
        |FROM (SELECT symbol, max(bucket_ts // 60 * 60) AS latest_ts
        |      FROM candles GROUP BY symbol), nowt
        |UNION ALL
        |SELECT symbol, '1h' AS timeframe, latest_ts,
        |  now_ts - latest_ts AS age_sec, CAST(5400 AS BIGINT) AS allowed_sec,
        |  CAST(now_ts - latest_ts <= 5400 AS INT) AS is_fresh
        |FROM (SELECT symbol, max(bucket_ts // 3600 * 3600) AS latest_ts
        |      FROM candles GROUP BY symbol), nowt""".stripMargin),
    "g01_signal_rules" -> Oracle.withCandles(
      s""", $BASE,
         |fired AS (
         |$BRANCHES
         |)
         |SELECT symbol, bucket_ts, rule, direction, CAST(strength AS INT) AS strength
         |FROM fired""".stripMargin),
    "g02_signal_cooldown" ->
      s"""WITH RECURSIVE ${Oracle.CANDLES},
         |$BASE,
         |fired AS (
         |$BRANCHES
         |),
         |${cooldownSql("fired")}""".stripMargin,
    "g04_gated_signals" ->
      s"""WITH RECURSIVE ${Oracle.CANDLES},
         |$BASE,
         |fresh AS (
         |  SELECT symbol FROM (
         |    SELECT symbol, max(bucket_ts // 3600 * 3600) AS lt
         |    FROM candles GROUP BY symbol)
         |  WHERE (SELECT max(bucket_ts) FROM candles) - lt <= 5400),
         |fired AS (
         |$BRANCHES
         |),
         |gated AS (SELECT f.* FROM fired f JOIN fresh USING (symbol)),
         |${cooldownSql("gated")}""".stripMargin)

  /** [[cooldown]]'s recursive DuckDB twin over the fired relation `src`. */
  private def cooldownSql(src: String): String =
    graft.signals.Cooldown.sql(src, Seq("symbol", "rule"),
      Seq("direction", "strength"), "600", strict = false)
}
