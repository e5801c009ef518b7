package graft.signals

import graft.Oracle
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The reference's FULL signal-rule corpus
  * (signal-service/src/rules/__init__.py:7-44 `ALL_RULES`: 8 category
  * packs aggregated over the indicator marts), re-expressed as data over
  * the per-bar mart series of [[MartSeries]].
  *
  * Fidelity model:
  *  - Every rule carries the reference's verbatim name, category,
  *    subcategory, direction, strength, priority, timeframes, cooldown
  *    and min_volume (rules/base.py:28-45).
  *  - Conditions are typed ([[Cond]], mirroring rules/base.py:13-24's
  *    ConditionType enum incl. the CUSTOM lambda escape hatch) and render
  *    ONCE to a shared-dialect SQL boolean that BOTH engines evaluate —
  *    Spark via `expr()` inside a when/explode pass, DuckDB verbatim in
  *    the oracle — so rule-level parity is by construction, not by twin
  *    maintenance. Python's `x or default` null/zero coercion maps to
  *    `coalesce(nullif(x, 0.0), default)`.
  *  - The engine's evaluation loop (sqlite_engine.py:218-276: latest
  *    snapshot vs previous baseline per symbol) becomes one
  *    symbol-partitioned lag pass per mart table; all of a table's rules
  *    evaluate in that single window pass (explode over when-structs —
  *    the [[graft.operators.Signals]] shape, which at 100 TB means rule
  *    count scales expression work, never shuffles).
  *  - The min-volume gate applies per rule against the bar's quote
  *    turnover scaled by [[VolumeUnit]]: the reference thresholds
  *    (100k/500k/1M USDT) are absolute real-market turnovers; the
  *    synthetic fixture's per-bar turnover unit differs by ~1e3, so the
  *    registry gates at `min_volume × 1e-3` to keep the gate LIVE (it
  *    binds on real rows) while the corpus data keeps verbatim values.
  *    See [[MartSeries]] for the missing-成交额 engine quirk.
  *
  * Known faithfully-dead rules (from_values vocabularies that the
  * scanners never emit — dead in the reference too, ported verbatim):
  * ATR 波动分类 rules expect 低/中/高/极高波动 but atr.py:38 emits
  * 升温/降温/稳定; liquidity rules expect 差/较差 but liquidity.py:41
  * emits 优秀/良好/一般/紧张/危险; taker/base 主动买卖比 cross-up 1.5
  * can never fire on a 0..1 buy-share. They evaluate (and stay empty) in
  * both engines.
  */
object RuleCorpus {
  private type Q = (SparkSession, String) => DataFrame

  /** Fixture turnover calibration for the min-volume gate (see above). */
  val VolumeUnit: Double = 1e-3

  // ------------------------------------------------------------- model

  /** Condition ADT — rules/base.py:13-24. Field names are the ascii eval
    * names of [[MartSeries.MartDef.fields]]; `prev_<f>` and `has_prev`
    * are provided by the lag pass.
    */
  sealed trait Cond
  /** base.py:56-64 */
  final case class StateChange(f: String, from: Seq[String], to: Seq[String]) extends Cond
  /** base.py:66-73 — prev ≤ t < curr */
  final case class ThresholdCrossUp(f: String, t: Double) extends Cond
  /** base.py:75-82 */
  final case class ThresholdCrossDown(f: String, t: Double) extends Cond
  /** base.py:84-93 */
  final case class LineCrossUp(a: String, b: String) extends Cond
  /** base.py:95-104 */
  final case class LineCrossDown(a: String, b: String) extends Cond
  /** base.py:106-112 — substring match on the current row */
  final case class ContainsAny(f: String, ps: Seq[String]) extends Cond
  /** base.py:114-122 */
  final case class RangeEnter(f: String, lo: Double, hi: Double) extends Cond
  /** base.py:124-132 */
  final case class RangeExit(f: String, lo: Double, hi: Double) extends Cond
  /** base.py:134-148 — the CUSTOM lambda, written once in the shared
    * dialect both engines parse.
    */
  final case class Custom(sql: String) extends Cond

  final case class CorpusRule(
    name: String, tableKey: String, category: String, subcategory: String,
    direction: String, strength: Int, priority: String,
    cond: Cond,
    timeframes: Seq[String] = Seq("1h", "4h", "1d"),
    cooldown: Long = 3600L,
    minVolume: Double = 100000.0)

  private def num(d: Double): String = {
    val bd = BigDecimal(d)
    if (bd.isWhole) bd.toBigInt.toString + ".0" else bd.bigDecimal.toPlainString
  }
  private def strs(vs: Seq[String]): String =
    vs.map(v => "'" + v.replace("'", "''") + "'").mkString(", ")

  /** Render a condition to the shared dialect (valid for Spark `expr`
    * AND DuckDB). Numeric null coercion is the reference's
    * `prev.get(f, 0) or 0` (base.py:70-71 etc.) — coalesce to 0.
    */
  def condSql(c: Cond): String = {
    def z(f: String) = s"coalesce($f, 0.0)"
    def pz(f: String) = s"coalesce(prev_$f, 0.0)"
    c match {
      case StateChange(f, from, to) =>
        // coalesce to '' mirrors the reference's `str(prev.get(fld, ""))`
        // missing-key coercion (base.py:58-61): several from-vocabularies
        // (scalp_sig, bias_d, fdir) explicitly include "", which a bare
        // NULL IN (...) would leave unreachable (r7 ADVICE). Scope note
        // (r8 ADVICE): a present-but-None value would render "None", not
        // "" — but in THESE mart series a NULL state column only ever
        // models the scanner not having emitted the field at all
        // (warm-up bars before the indicator's history fills, rows the
        // reference scanner never writes), never a stored None: every
        // state field is a CASE/classification expression that yields a
        // vocabulary string on any row the scanner would emit. So the
        // missing-key '' coercion is the faithful one for all current
        // fields; a future mart that stores explicit NULL states must
        // coerce those fields to 'None' instead.
        s"has_prev AND coalesce(prev_$f, '') IN (${strs(from)})" +
          s" AND coalesce($f, '') IN (${strs(to)})"
      case ThresholdCrossUp(f, t) =>
        s"has_prev AND ${pz(f)} <= ${num(t)} AND ${z(f)} > ${num(t)}"
      case ThresholdCrossDown(f, t) =>
        s"has_prev AND ${pz(f)} >= ${num(t)} AND ${z(f)} < ${num(t)}"
      case LineCrossUp(a, b) =>
        s"has_prev AND ${pz(a)} <= ${pz(b)} AND ${z(a)} > ${z(b)}"
      case LineCrossDown(a, b) =>
        s"has_prev AND ${pz(a)} >= ${pz(b)} AND ${z(a)} < ${z(b)}"
      case ContainsAny(f, ps) =>
        ps.map(p => s"contains(coalesce($f, ''), '${p.replace("'", "''")}')")
          .mkString("(", " OR ", ")")
      case RangeEnter(f, lo, hi) =>
        s"has_prev AND NOT (${pz(f)} >= ${num(lo)} AND ${pz(f)} <= ${num(hi)})" +
          s" AND (${z(f)} >= ${num(lo)} AND ${z(f)} <= ${num(hi)})"
      case RangeExit(f, lo, hi) =>
        s"has_prev AND (${pz(f)} >= ${num(lo)} AND ${pz(f)} <= ${num(hi)})" +
          s" AND NOT (${z(f)} >= ${num(lo)} AND ${z(f)} <= ${num(hi)})"
      case Custom(sql) => sql
    }
  }

  /** Full per-rule predicate: condition AND the engine's min-volume gate
    * (sqlite_engine.py:232-245), thresholds scaled by [[VolumeUnit]].
    */
  def fullCond(r: CorpusRule): String =
    s"(${condSql(r.cond)}) AND coalesce(turnover, 0.0) >= ${num(r.minVolume * VolumeUnit)}"

  // -------------------------------------------------------- evaluation

  import MartSeries.bySym

  /** One lag pass over a mart series: `prev_<field>` for every eval field
    * (+ turnover) and the prev-row-exists gate — the engine's baseline
    * dict (sqlite_engine.py:237-239) as columns.
    */
  def evalFrame(mart: DataFrame, fields: Seq[String]): DataFrame =
    // ONE projection for all prev_* columns (optimization r14, guide §7.3
    // driver time): the foldLeft-withColumn spelling ran the analyzer once
    // per field per mart (~9 × 35 marts per tick); a single select is one
    // pass and the identical plan.
    mart.select(col("*") +:
      (lag(lit(1), 1).over(bySym).isNotNull.as("has_prev") +:
        (fields :+ "turnover").distinct
          .map(f => lag(f, 1).over(bySym).as(s"prev_$f"))): _*)

  /** Evaluate a table's rules in ONE pass: array of when-structs, explode,
    * drop non-fires. Output: one row per (symbol, bar, fired rule) —
    * symbol, bucket_ts, then the struct's fields: rule, mart, category,
    * subcategory, direction, strength, priority and `extra(rule)` (the
    * rendered message, the declared timeframes), per-row expression work
    * inside the same pass.
    */
  def fired(ev: DataFrame, table: String, rules: Seq[CorpusRule],
      extra: CorpusRule => Seq[Column] = _ => Nil): DataFrame = {
    val sigs = array(rules.map { r =>
      when(expr(fullCond(r)), struct((Seq(
        lit(r.name).as("rule"), lit(table).as("mart"),
        lit(r.category).as("category"), lit(r.subcategory).as("subcategory"),
        lit(r.direction).as("direction"), lit(r.strength).as("strength"),
        lit(r.priority).as("priority")) ++ extra(r)): _*))
    }: _*)
    ev.select(col("symbol"), col("bucket_ts"), explode(sigs).as("g"))
      .where(col("g").isNotNull)
      .select(col("symbol"), col("bucket_ts"), col("g.*"))
  }

  /** Union a fired-branch list, materializing WIDE unions in parallel:
    * past ~10 mart branches the cost is the DRIVER — each branch is its
    * own analyze/optimize/codegen pass over a large when-expression tree
    * (the corpus data is window math over metadata-sized frames; at
    * sf0.1 a 35-branch serial union spends ~9 s almost entirely
    * single-threaded on the driver). [[graft.operators.Cycle
    * .runBranches]] checkpoints every branch eagerly on a pool, so
    * optimization + codegen + execution overlap across branches — the
    * same medicine that took f01's 287-branch fan-out from 227 s to
    * ~30 s (r3). Small unions (the per-category g05–g12 entries) stay
    * lazy: a handful of branches doesn't amortize the eager jobs, and a
    * lazy plan composes better downstream.
    */
  private def firedUnion(branches: Seq[DataFrame]): DataFrame = {
    require(branches.nonEmpty,
      "firedUnion needs at least one fired branch (empty rule subset?)")
    if (branches.sizeIs < 5) branches.reduce(_.unionByName(_))
    else graft.operators.Cycle.runBranches(branches)
  }

  /** Fired union for an arbitrary rule subset: per mart table one window
    * pass, union across the subset's tables.
    */
  private def rulesQuery(rules: Seq[CorpusRule]): Q = (s, dir) =>
    firedUnion(rules.groupBy(_.tableKey).toSeq.sortBy(_._1).map { case (tk, rs) =>
      val md = MartSeries.all(tk)
      fired(evalFrame(md.build(s, dir), md.fields.map(_._1)), md.table, rs)
    })

  /** Category evaluation — served as a projection of the ONE shared
    * whole-corpus materialization (optimization r13, guide §1.2 step 1:
    * the engine evaluates the corpus once per tick and fans the result,
    * sqlite_engine.py:218-276 — g13/g14/g16 already project from it;
    * the eight per-category entries each re-ran their mart subset's
    * window passes instead). `fired` rows carry the category literal of
    * the rule that produced them and nothing else produces rows, so
    * filter(category) over [[corpusFiredShared]] is ROW-IDENTICAL to
    * evaluating the category's rule subset (RuleCorpusSpec pins it;
    * every category oracle replays the standalone evaluation and stays
    * green). The per-subset evaluation remains available as
    * [[rulesQuery]] ∘ [[rulesFor]] — the fired columns are the same 9
    * [[Fired9]] fields in the same order.
    */
  def categoryQuery(cat: String): Q = (s, dir) =>
    // memo-off: the honest cost of one category's fired rows is
    // evaluating THAT category's rule subset, not building the whole
    // 35-mart corpus to keep one category (row-identity per the argument
    // above, RuleCorpusSpec-pinned)
    if (graft.Tables.sharedMemoOff(s))
      subsetFired(s, rulesFor(cat))(rulesQuery(_)(s, dir))
    else corpusFiredShared(s, dir).filter(col("category") === cat)
      .drop("message")

  /** `eval(rules)` over a non-empty subset; a category without rules
    * fires nothing, exactly like the memo-on projection of the corpus.
    */
  private def subsetFired(s: SparkSession, rules: Seq[CorpusRule])(
      eval: Seq[CorpusRule] => DataFrame): DataFrame =
    if (rules.isEmpty) s.emptyDataset[Fired9].toDF() else eval(rules)

  /** The pre-r13 direct evaluation of one category's rule subset — kept
    * as the semantic reference [[categoryQuery]] is pinned row-identical
    * to (RuleCorpusSpec).
    */
  private[graft] def categoryEvaluated(cat: String): Q =
    rulesQuery(rulesFor(cat))

  /** [[rulesQuery]] at a ROLLED-UP cadence — the engine's per-timeframe
    * polls (rules carry timeframes 1h/4h/1d; sqlite_engine.py:224-231
    * evaluates each): the mart series replay the scanners over
    * `Rollup.rollup(candles, seconds)` bars instead of the native 1m
    * fact. Warm-ups count BARS, so a 1h evaluation needs the same 35
    * bars of (now hourly) history — exactly how the reference's scanners
    * treat interval-rolled frames.
    */
  /** The interval roll-up materialized ONCE per (session, corpus dir,
    * interval) and shared by every mart plan at that cadence. Each mart
    * is its own plan, so an inline `Rollup.rollup` re-rolls the full 1m
    * fact once PER MART (35 redundant scan+shuffle passes for a
    * whole-corpus evaluation). The reference keeps interval bars as
    * materialized kline tables the scanners read
    * (data-service roll-up jobs; see SURVEY §2.2 r04) — the checkpoint
    * is that shape, sized at fact/interval rows.
    *
    * The roll-up aggregates on (symbol, bucket), so its natural
    * partitioning does NOT satisfy the marts' symbol-clustered window
    * distribution — left as-is, every one of the ~35 downstream mart
    * plans re-shuffles AND re-sorts the checkpointed frame. One
    * repartition(symbol) + in-partition (symbol, bucket_ts) sort BEFORE
    * a layout-keeping checkpoint makes the LogicalRDD carry exactly the
    * partitioning/ordering the window passes require, so the whole
    * cadence's dispatch runs exchange-free — one shuffle per cadence
    * instead of one per (mart, cadence). Under a fact-frame override (the
    * f03 priority cut) or memo-off the stage builds uncached but still
    * checkpoints, so the cadence's mart plans share one materialization
    * within the build.
    */
  private val rolledStage = graft.SharedStage[DataFrame]("RuleCorpus.rolled")
  private[graft] def rolledShared(s: SparkSession, dir: String, seconds: Long): DataFrame =
    rolledStage(s, dir, seconds)(graft.Tables.checkpointKeepLayout(s,
      graft.operators.Rollup.rollup(graft.Tables.candles(s, dir), seconds)
        .repartition(col("symbol"))
        .sortWithinPartitions(col("symbol"), col("bucket_ts"))))

  private def rulesQueryAt(rules: Seq[CorpusRule], seconds: Long): Q =
    (s, dir) => {
      val rolled = rolledShared(s, dir, seconds)
      firedUnion(rules.groupBy(_.tableKey).toSeq.sortBy(_._1).map { case (tk, rs) =>
        val md = MartSeries.all(tk)
        fired(evalFrame(md.buildFrom(s, dir, rolled), md.fields.map(_._1)),
          md.table, rs)
      })
    }

  /** The WHOLE-corpus rolled-cadence evaluation materialized once per
    * (session, dir, cadence) — the [[corpusFiredShared]] discipline at a
    * rolled cadence: the engine evaluates a cadence once per poll and
    * fans the fired set (sqlite_engine.py:218-276). Fired rows carry the
    * producing rule's category, so the per-category rolled entries are
    * row-identical projections (the [[categoryQuery]] argument;
    * RuleCorpusSpec pins the native-cadence twin).
    */
  private val rolledFiredStage =
    graft.SharedStage[DataFrame]("RuleCorpus.rolledFired")
  private[graft] def rolledFiredShared(s: SparkSession, dir: String,
      seconds: Long): DataFrame =
    rolledFiredStage(s, dir, seconds)(
      compacted(rulesQueryAt(AllRules, seconds)(s, dir)).localCheckpoint())

  def categoryQueryAt(cat: String, seconds: Long): Q = (s, dir) =>
    // memo-off: the honest cost of "one category's fired rows at a
    // cadence" is evaluating THAT category's rule subset — not building
    // the whole 35-mart corpus to keep one category's rows. Row-identical
    // by the categoryQuery argument; MemoSpec pins memo-off ≡ memo-on.
    if (graft.Tables.sharedMemoOff(s))
      subsetFired(s, rulesFor(cat))(rulesQueryAt(_, seconds)(s, dir))
    else rolledFiredShared(s, dir, seconds).filter(col("category") === cat)

  /** The engine's NATIVE timeframe dispatch (sqlite_engine.py:224-231):
    * per table it unions the active rules' declared timeframes, polls the
    * table's data at each, and evaluates exactly the rules declaring that
    * timeframe. The batch twin: for each timeframe in the corpus's
    * declared set (1h/4h/1d — base.py:38's default, two volume rules 1h
    * only), evaluate that timeframe's rule subset over the interval's
    * rolled bars and tag the fired rows. Each cadence shares its
    * [[rolledShared]] roll-up; the whole dispatch stays one window pass
    * per (mart, timeframe) with zero joins. This per-cadence spelling is
    * the SEMANTIC REFERENCE the fused production path
    * ([[nativeFiredFused]], one plan per mart) is pinned row-identical
    * to by RuleCorpusSpec.
    */
  private[graft] val TfSeconds =
    Seq("1h" -> 3600L, "4h" -> 14400L, "1d" -> 86400L)
  def nativeTfQuery: Q = (s, dir) =>
    firedUnion(TfSeconds.flatMap { case (tf, secs) =>
      val rolled = rolledShared(s, dir, secs)
      AllRules.filter(_.timeframes.contains(tf))
        .groupBy(_.tableKey).toSeq.sortBy(_._1).map { case (tk, rs) =>
          val md = MartSeries.all(tk)
          fired(evalFrame(md.buildFrom(s, dir, rolled), md.fields.map(_._1)),
            md.table, rs).withColumn("timeframe", lit(tf))
        }
    })

  // ----------------------------------------------------------- oracle

  private def evalCte(md: MartSeries.MartDef): String = {
    val fs = md.fields.map(_._1)
    // window names are per-table unique: under WITH RECURSIVE DuckDB
    // scopes named WINDOW clauses across sibling CTEs in ONE namespace
    val w = s"w_${md.key}"
    val prevs = (fs :+ "turnover")
      .map(f => s"lag($f) OVER $w AS prev_$f").mkString(",\n         ")
    s"""e_${md.key} AS (
       |  SELECT symbol, bucket_ts, turnover, ${fs.mkString(", ")},
       |         $prevs,
       |         lag(1) OVER $w IS NOT NULL AS has_prev
       |  FROM m_${md.key}
       |  WINDOW $w AS (PARTITION BY symbol ORDER BY bucket_ts))""".stripMargin
  }

  /** One rule's fired branch over its eval CTE; `extras` are appended
    * to the projection.
    */
  private def branch(md: MartSeries.MartDef, r: CorpusRule,
      extras: Seq[String] = Nil): String =
    s"""SELECT symbol, bucket_ts, '${r.name}' AS rule, '${md.table}' AS mart,
       |  '${r.category}' AS category, '${r.subcategory}' AS subcategory,
       |  '${r.direction}' AS direction, CAST(${r.strength} AS INT) AS strength,
       |  '${r.priority}' AS priority""".stripMargin +
      extras.map(",\n  " + _).mkString +
      s"\nFROM e_${md.key} WHERE ${fullCond(r)}"

  /** Assemble a category's oracle: candles (+metrics/series preludes as
    * needed) + the category's mart CTEs + eval CTEs + one branch per rule.
    */
  /** Force MATERIALIZED on every generated CTE header (recursive CTEs
    * excepted — they cannot be): DuckDB inlines plain CTEs per REFERENCE
    * (the t16 lesson), and the corpus oracle references the shared
    * `series` lists from ~17 mart CTEs — inlined, the per-symbol O(n²)
    * fold work multiplies by the reference count and the sf0.1 oracle
    * never finishes.
    */
  private def materialize(ctes: String): String =
    ctes.replaceAll("(?m)^(\\s*)(\\w+) AS \\(", "$1$2 AS MATERIALIZED (")
      .replaceAll("(\\w*_rec) AS MATERIALIZED \\(", "$1 AS (")

  /** The corpus-oracle prelude for a rule subset — `WITH [RECURSIVE]`,
    * the candle CTE, the metrics/series preludes the subset's marts need,
    * every mart and eval CTE (MATERIALIZED) — and one branch per rule,
    * `UNION ALL`ed. `branchOf` spells a rule's branch over its mart.
    */
  private def corpusOracle(rules: Seq[CorpusRule])(
      branchOf: (MartSeries.MartDef, CorpusRule) => String): (String, String) = {
    val byTable = rules.groupBy(_.tableKey).toSeq.sortBy(_._1)
      .map { case (tk, rs) => MartSeries.all(tk) -> rs }
    val defs = byTable.map(_._1)
    val preludes =
      (if (defs.exists(_.needsMetrics)) Seq(Oracle.METRICS) else Nil) ++
      (if (defs.exists(_.needsSeries)) Seq(MartSeries.SeriesCte) else Nil)
    val ctes = materialize((preludes ++ defs.map(_.sqlCte) ++ defs.map(evalCte))
      .mkString(",\n"))
    val recur = if (defs.exists(_.needsRecursive)) "RECURSIVE " else ""
    val branches = byTable.flatMap { case (md, rs) => rs.map(branchOf(md, _)) }
      .mkString("\nUNION ALL\n")
    (s"WITH $recur${Oracle.CANDLES},\n$ctes", branches)
  }

  private def rulesOracle(rules: Seq[CorpusRule]): String = {
    val (head, branches) = corpusOracle(rules)(branch(_, _))
    s"$head\n$branches"
  }

  def categoryOracle(cat: String): String = rulesOracle(rulesFor(cat))

  /** Rewrite a generated oracle onto the rolled cadence: the 1m candle
    * CTE is renamed and a MATERIALIZED `candles` roll-up at `seconds`
    * replaces it, so every mart CTE reads the rolled bars unchanged.
    */
  private def rolledPrelude(base: String, seconds: Long): String = {
    val prelude = Oracle.CANDLES
    val rolled =
      s"""${prelude.replace("candles AS (", "candles_1m AS (")},
         |candles AS MATERIALIZED (
         |  SELECT symbol, bucket_ts // $seconds * $seconds AS bucket_ts,
         |         min_by(open, bucket_ts) AS open, max(high) AS high,
         |         min(low) AS low, max_by(close, bucket_ts) AS close,
         |         sum(volume) AS volume, sum(quote_volume) AS quote_volume,
         |         CAST(sum(trade_count) AS BIGINT) AS trade_count,
         |         sum(taker_buy_volume) AS taker_buy_volume
         |  FROM candles_1m GROUP BY 1, 2)""".stripMargin
    base.replace(prelude, rolled)
  }

  def categoryOracleAt(cat: String, seconds: Long): String =
    rolledPrelude(rulesOracle(rulesFor(cat)), seconds)

  /** [[nativeTfQuery]]'s oracle: one full cadence-rewritten corpus oracle
    * per timeframe, each inside its own derived table (DuckDB scopes a
    * subquery's WITH locally, so the three cadences' identical CTE names
    * cannot collide), tagged and UNION ALL'd.
    */
  def nativeTfOracle: String =
    TfSeconds.map { case (tf, secs) =>
      val o = rolledPrelude(
        rulesOracle(AllRules.filter(_.timeframes.contains(tf))), secs)
      s"SELECT b.*, '$tf' AS timeframe FROM (\n$o\n) b"
    }.mkString("\nUNION ALL\n")

  // -------------------------------------------------------- rule data

  def rulesFor(cat: String): Seq[CorpusRule] = AllRules.filter(_.category == cat)

  private def R(name: String, tk: String, cat: String, sub: String,
      dir: String, strength: Int, prio: String, cond: Cond,
      cooldown: Long = 3600L, minVolume: Double = 100000.0,
      timeframes: Seq[String] = Seq("1h", "4h", "1d")): CorpusRule =
    CorpusRule(name, tk, cat, sub, dir, strength, prio, cond,
      timeframes, cooldown, minVolume)

  /** Python `x or default` (falsy 0/None → default). */
  private def orv(f: String, d: String) = s"coalesce(nullif($f, 0.0), $d)"

  /** rules/volume/__init__.py — MACD/OBV/CVD/量比/主动买卖比 (13 rules). */
  val VolumeRules: Seq[CorpusRule] = Seq(
    R("MACD金叉", "macd", "volume", "macd", "BUY", 65, "medium",
      LineCrossUp("dif", "dea")),
    R("MACD死叉", "macd", "volume", "macd", "SELL", 65, "medium",
      LineCrossDown("dif", "dea")),
    R("MACD柱状转正", "macd", "volume", "macd", "BUY", 55, "low",
      Custom("has_prev AND coalesce(prev_hist, 0.0) < 0 AND coalesce(hist, 0.0) > 0")),
    R("MACD柱状转负", "macd", "volume", "macd", "SELL", 55, "low",
      Custom("has_prev AND coalesce(prev_hist, 0.0) > 0 AND coalesce(hist, 0.0) < 0")),
    R("MACD零轴上穿", "macd", "volume", "macd", "BUY", 60, "medium",
      ThresholdCrossUp("dif", 0.0)),
    R("OBV大幅上升", "obv", "volume", "obv", "BUY", 60, "medium",
      Custom("coalesce(rate, 0.0) > 20")),
    R("OBV大幅下降", "obv", "volume", "obv", "SELL", 60, "medium",
      Custom("coalesce(rate, 0.0) < -20")),
    R("CVD大幅上升", "cvd", "volume", "cvd", "BUY", 60, "medium",
      Custom("coalesce(rate, 0.0) > 30")),
    R("CVD大幅下降", "cvd", "volume", "cvd", "SELL", 60, "medium",
      Custom("coalesce(rate, 0.0) < -30")),
    R("量比放大", "volratio", "volume", "ratio", "ALERT", 65, "medium",
      ThresholdCrossUp("vr", 2.0)),
    R("量比极度放大", "volratio", "volume", "ratio", "ALERT", 80, "high",
      ThresholdCrossUp("vr", 5.0)),
    // buy-share is 0..1 (buy_sell_ratio.py:25) — the 1.5 cross-up is a
    // faithfully-dead reference rule
    R("主动买盘极端", "taker", "volume", "taker", "BUY", 70, "high",
      ThresholdCrossUp("bsr", 1.5)),
    R("主动卖盘极端", "taker", "volume", "taker", "SELL", 70, "high",
      Custom(s"has_prev AND ${orv("prev_bsr", "1.0")} > 0.67 AND ${orv("bsr", "1.0")} < 0.67")))

  /** rules/volatility/__init__.py — bollinger/ATR/donchian/keltner/SR/
    * VWAP (15 rules). The `or float("inf")` lambda defaults render as
    * 1e308 (both dialects).
    */
  val VolatilityRules: Seq[CorpusRule] = Seq(
    R("突破布林上轨", "boll", "volatility", "bollinger", "SELL", 60, "medium",
      Custom(s"has_prev AND ${orv("prev_price", "0.0")} < ${orv("prev_bup", "1e308")}" +
        s" AND ${orv("price", "0.0")} > ${orv("bup", "0.0")}")),
    R("跌破布林下轨", "boll", "volatility", "bollinger", "BUY", 60, "medium",
      Custom(s"has_prev AND ${orv("prev_price", "1e308")} > ${orv("prev_blo", "0.0")}" +
        s" AND ${orv("price", "1e308")} < ${orv("blo", "1e308")}")),
    R("布林带收窄", "boll", "volatility", "bollinger", "ALERT", 55, "low",
      Custom(s"has_prev AND ${orv("prev_bw", "10.0")} > 5 AND ${orv("bw", "5.0")} < 3")),
    R("布林带扩张", "boll", "volatility", "bollinger", "ALERT", 55, "low",
      Custom(s"has_prev AND ${orv("prev_bw", "0.0")} < 5 AND ${orv("bw", "0.0")} > 8")),
    R("布林%b超买", "boll", "volatility", "bollinger", "SELL", 55, "low",
      ThresholdCrossUp("pctb", 1.0)),
    // 波动分类 rules expect 低/中/高/极高波动; atr.py:38 emits
    // 升温/降温/稳定 — faithfully dead (see RuleCorpus header)
    R("波动率突增", "atr", "volatility", "atr", "ALERT", 70, "high",
      StateChange("cls", Seq("低波动", "中波动"), Seq("高波动", "极高波动"))),
    R("波动率骤降", "atr", "volatility", "atr", "ALERT", 60, "medium",
      StateChange("cls", Seq("高波动", "极高波动"), Seq("低波动"))),
    R("突破Donchian上轨", "donch", "volatility", "donchian", "BUY", 65, "medium",
      Custom(s"has_prev AND ${orv("prev_price", "0.0")} < ${orv("prev_dup", "1e308")}" +
        s" AND ${orv("price", "0.0")} >= ${orv("dup", "1e308")}")),
    R("跌破Donchian下轨", "donch", "volatility", "donchian", "SELL", 65, "medium",
      Custom(s"has_prev AND ${orv("prev_price", "1e308")} > ${orv("prev_dlo", "0.0")}" +
        s" AND ${orv("price", "1e308")} <= ${orv("dlo", "0.0")}")),
    R("突破Keltner上轨", "kelt", "volatility", "keltner", "BUY", 60, "medium",
      Custom(s"has_prev AND ${orv("prev_price", "0.0")} < ${orv("prev_kup", "1e308")}" +
        s" AND ${orv("price", "0.0")} >= ${orv("kup", "1e308")}")),
    R("跌破Keltner下轨", "kelt", "volatility", "keltner", "SELL", 60, "medium",
      Custom(s"has_prev AND ${orv("prev_price", "1e308")} > ${orv("prev_klo", "0.0")}" +
        s" AND ${orv("price", "1e308")} <= ${orv("klo", "0.0")}")),
    R("接近支撑位", "sr", "volatility", "sr", "BUY", 60, "medium",
      Custom(s"${orv("ds", "100.0")} < 1.5")),
    R("接近阻力位", "sr", "volatility", "sr", "SELL", 60, "medium",
      Custom(s"${orv("dr", "100.0")} < 1.5")),
    R("突破VWAP上方", "vwap", "volatility", "vwap", "BUY", 55, "low",
      Custom("has_prev AND coalesce(prev_devp, 0.0) < 0 AND coalesce(devp, 0.0) > 0")),
    R("跌破VWAP下方", "vwap", "volatility", "vwap", "SELL", 55, "low",
      Custom("has_prev AND coalesce(prev_devp, 0.0) > 0 AND coalesce(devp, 0.0) < 0")))

  /** rules/misc/__init__.py — liquidity/scalping/base data (10 rules).
    * The liquidity pair expects 差/较差 levels liquidity.py never emits —
    * faithfully dead.
    */
  val MiscRules: Seq[CorpusRule] = Seq(
    R("流动性改善", "liq", "misc", "liquidity", "ALERT", 55, "low",
      StateChange("liq_level", Seq("差", "较差"), Seq("良好", "优秀"))),
    R("流动性恶化", "liq", "misc", "liquidity", "ALERT", 65, "medium",
      StateChange("liq_level", Seq("良好", "优秀"), Seq("差", "较差"))),
    R("剥头皮多头信号", "scalp", "misc", "scalping", "BUY", 60, "medium",
      StateChange("scalp_sig", Seq("空头", "中性", ""), Seq("多头")),
      timeframes = Seq("1h")),
    R("剥头皮空头信号", "scalp", "misc", "scalping", "SELL", 60, "medium",
      StateChange("scalp_sig", Seq("多头", "中性", ""), Seq("空头")),
      timeframes = Seq("1h")),
    R("成交额暴增", "base", "misc", "basic", "ALERT", 70, "high",
      Custom(s"has_prev AND ${orv("turnover", "0.0")} > ${orv("prev_turnover", "1.0")} * 3")),
    R("振幅异常", "base", "misc", "basic", "ALERT", 65, "medium",
      ThresholdCrossUp("amp", 10.0)),
    R("买卖比极端看多", "base", "misc", "basic", "BUY", 65, "medium",
      ThresholdCrossUp("bsr", 1.5)),
    R("买卖比极端看空", "base", "misc", "basic", "SELL", 65, "medium",
      Custom(s"has_prev AND ${orv("prev_bsr", "1.0")} > 0.67 AND ${orv("bsr", "1.0")} < 0.67")))

  /** rules/momentum — RSI (rsi.py, 8) + KDJ (kdj.py, 4) + CCI/WR/MFI/ADX/
    * harmonic (others.py, 15) = 27 rules.
    */
  val MomentumRules: Seq[CorpusRule] = Seq(
    R("RSI进入超买区", "rsi", "momentum", "rsi", "SELL", 60, "medium",
      StateChange("pos", Seq("中性区", "中性", "超卖区"), Seq("超买区"))),
    R("RSI进入超卖区", "rsi", "momentum", "rsi", "BUY", 60, "medium",
      StateChange("pos", Seq("中性区", "中性", "超买区"), Seq("超卖区"))),
    R("RSI离开超买区", "rsi", "momentum", "rsi", "BUY", 70, "high",
      StateChange("pos", Seq("超买区"), Seq("中性区", "中性", "超卖区"))),
    R("RSI离开超卖区", "rsi", "momentum", "rsi", "SELL", 70, "high",
      StateChange("pos", Seq("超卖区"), Seq("中性区", "中性", "超买区"))),
    R("RSI顶背离", "rsi", "momentum", "rsi", "SELL", 80, "high",
      StateChange("dvg", Seq("无背离", "none", "", "底背离"), Seq("顶背离")),
      cooldown = 7200L),
    R("RSI底背离", "rsi", "momentum", "rsi", "BUY", 80, "high",
      StateChange("dvg", Seq("无背离", "none", "", "顶背离"), Seq("底背离")),
      cooldown = 7200L),
    R("RSI7金叉RSI21", "rsi", "momentum", "rsi", "BUY", 55, "low",
      LineCrossUp("rsi7", "rsi21")),
    R("RSI7死叉RSI21", "rsi", "momentum", "rsi", "SELL", 55, "low",
      LineCrossDown("rsi7", "rsi21")),
    R("KDJ金叉", "kdj", "momentum", "kdj", "BUY", 65, "medium",
      StateChange("kdj_sig", Seq("延续", "死叉", "J<0 极值", "J>100 极值"), Seq("金叉"))),
    R("KDJ死叉", "kdj", "momentum", "kdj", "SELL", 65, "medium",
      StateChange("kdj_sig", Seq("延续", "金叉", "J<0 极值", "J>100 极值"), Seq("死叉"))),
    R("J值超卖极值", "kdj", "momentum", "kdj", "BUY", 75, "high",
      StateChange("kdj_sig", Seq("延续", "金叉", "死叉", "J>100 极值"), Seq("J<0 极值"))),
    R("J值超买极值", "kdj", "momentum", "kdj", "SELL", 75, "high",
      StateChange("kdj_sig", Seq("延续", "金叉", "死叉", "J<0 极值"), Seq("J>100 极值"))),
    R("CCI进入超买", "cci", "momentum", "cci", "SELL", 55, "low",
      ThresholdCrossUp("cci", 100.0)),
    R("CCI进入超卖", "cci", "momentum", "cci", "BUY", 55, "low",
      ThresholdCrossDown("cci", -100.0)),
    R("CCI离开超买", "cci", "momentum", "cci", "BUY", 65, "medium",
      Custom(s"has_prev AND ${orv("prev_cci", "0.0")} > 100 AND ${orv("cci", "100.0")} < 100")),
    R("CCI离开超卖", "cci", "momentum", "cci", "SELL", 65, "medium",
      Custom(s"has_prev AND ${orv("prev_cci", "0.0")} < -100 AND ${orv("cci", "-100.0")} > -100")),
    R("WR进入超买", "wr", "momentum", "williams", "SELL", 55, "low",
      ThresholdCrossUp("wr", -20.0)),
    R("WR进入超卖", "wr", "momentum", "williams", "BUY", 55, "low",
      ThresholdCrossDown("wr", -80.0)),
    R("WR离开超买", "wr", "momentum", "williams", "BUY", 65, "medium",
      Custom(s"has_prev AND ${orv("prev_wr", "-50.0")} > -20 AND ${orv("wr", "-20.0")} < -20")),
    R("WR离开超卖", "wr", "momentum", "williams", "SELL", 65, "medium",
      Custom(s"has_prev AND ${orv("prev_wr", "-50.0")} < -80 AND ${orv("wr", "-80.0")} > -80")),
    R("MFI超买", "mfi", "momentum", "mfi", "SELL", 60, "medium",
      ThresholdCrossUp("mfi", 80.0)),
    R("MFI超卖", "mfi", "momentum", "mfi", "BUY", 60, "medium",
      ThresholdCrossDown("mfi", 20.0)),
    R("MFI离开超买", "mfi", "momentum", "mfi", "BUY", 65, "medium",
      Custom(s"has_prev AND ${orv("prev_mfi", "50.0")} > 80 AND ${orv("mfi", "80.0")} < 80")),
    R("MFI离开超卖", "mfi", "momentum", "mfi", "SELL", 65, "medium",
      Custom(s"has_prev AND ${orv("prev_mfi", "50.0")} < 20 AND ${orv("mfi", "20.0")} > 20")),
    R("ADX趋势增强", "adx", "momentum", "adx", "ALERT", 60, "medium",
      ThresholdCrossUp("adx", 25.0)),
    R("ADX趋势减弱", "adx", "momentum", "adx", "ALERT", 55, "low",
      Custom(s"has_prev AND ${orv("prev_adx", "0.0")} > 25 AND ${orv("adx", "25.0")} < 25")),
    // `c.get("谐波值") and abs(...) > 0.5` — falsy null/0 fails, else the
    // abs test (a mean-RSI is ~50, so this fires on nearly every bar;
    // the reference thins it by cooldown)
    R("谐波信号出现", "harm", "momentum", "harmonic", "ALERT", 70, "medium",
      Custom("coalesce(abs(harm), 0.0) > 0.5")))

  /** rules/trend/__init__.py — 19 rules over 9 scanner tables. Most
    * from/to vocabularies (多/空/up/down/-1/1) never match the scanners'
    * actual 多头/空头/多头排列/BUY... values — dead in the reference too
    * (see the corpus header); live: SuperTrend 方向, 超级精准趋势
    * 趋势方向/强度, 趋势线榜单 趋势方向.
    */
  val TrendRules: Seq[CorpusRule] = Seq(
    R("SuperTrend翻多", "strend", "trend", "supertrend", "BUY", 70, "high",
      StateChange("sdir", Seq("空", "-1", "down"), Seq("多", "1", "up"))),
    R("SuperTrend翻空", "strend", "trend", "supertrend", "SELL", 70, "high",
      StateChange("sdir", Seq("多", "1", "up"), Seq("空", "-1", "down"))),
    R("精准趋势翻多", "precise", "trend", "precise", "BUY", 75, "high",
      StateChange("tdir", Seq("空", "down", "-1"), Seq("多", "up", "1"))),
    R("精准趋势翻空", "precise", "trend", "precise", "SELL", 75, "high",
      StateChange("tdir", Seq("多", "up", "1"), Seq("空", "down", "-1"))),
    R("精准趋势强度突破", "precise", "trend", "precise", "ALERT", 65, "medium",
      ThresholdCrossUp("tstr", 80.0)),
    R("Ichimoku买入信号", "ichi", "trend", "ichimoku", "BUY", 70, "high",
      StateChange("isig", Seq("卖出", "中性", "观望"), Seq("买入"))),
    R("Ichimoku卖出信号", "ichi", "trend", "ichimoku", "SELL", 70, "high",
      StateChange("isig", Seq("买入", "中性", "观望"), Seq("卖出"))),
    R("零延迟趋势翻多", "zl", "trend", "zerolag", "BUY", 70, "high",
      StateChange("zdir", Seq("空", "down", "-1"), Seq("多", "up", "1"))),
    R("零延迟趋势翻空", "zl", "trend", "zerolag", "SELL", 70, "high",
      StateChange("zdir", Seq("多", "up", "1"), Seq("空", "down", "-1"))),
    R("趋势云翻多", "cloud", "trend", "cloud", "BUY", 70, "high",
      StateChange("cdir", Seq("空", "down", "-1"), Seq("多", "up", "1"))),
    R("趋势云翻空", "cloud", "trend", "cloud", "SELL", 70, "high",
      StateChange("cdir", Seq("多", "up", "1"), Seq("空", "down", "-1"))),
    R("趋势线翻多", "tline", "trend", "trendline", "BUY", 65, "medium",
      StateChange("tldir", Seq("空", "down", "-1"), Seq("多", "up", "1"))),
    R("趋势线翻空", "tline", "trend", "trendline", "SELL", 65, "medium",
      StateChange("tldir", Seq("多", "up", "1"), Seq("空", "down", "-1"))),
    R("多空信号翻多", "ha", "trend", "ha", "BUY", 65, "medium",
      StateChange("hdir", Seq("空", "down", "-1"), Seq("多", "up", "1"))),
    R("多空信号翻空", "ha", "trend", "ha", "SELL", 65, "medium",
      StateChange("hdir", Seq("多", "up", "1"), Seq("空", "down", "-1"))),
    R("量能偏向翻多", "volsig", "trend", "volume_trend", "BUY", 60, "medium",
      StateChange("vdir", Seq("空", "down", "-1"), Seq("多", "up", "1"))),
    R("量能偏向翻空", "volsig", "trend", "volume_trend", "SELL", 60, "medium",
      StateChange("vdir", Seq("多", "up", "1"), Seq("空", "down", "-1"))),
    R("GC点趋势翻多", "gc", "trend", "gc", "BUY", 65, "medium",
      StateChange("gdir", Seq("空", "down", "-1"), Seq("多", "up", "1"))),
    R("GC点趋势翻空", "gc", "trend", "gc", "SELL", 65, "medium",
      StateChange("gdir", Seq("多", "up", "1"), Seq("空", "down", "-1"))))

  /** rules/futures/__init__.py — 11 sentiment rules over 期货情绪聚合表.
    * The flip-signal pair expects 多翻/空翻 strings the mart never emits
    * (it stores str(±1/0) — futures_aggregate.py:216-223) — dead in the
    * reference too.
    */
  val FuturesRules: Seq[CorpusRule] = Seq(
    R("大户极度看多", "fut", "futures", "sentiment", "ALERT", 75, "high",
      ThresholdCrossUp("tlsr", 2.0)),
    R("大户极度看空", "fut", "futures", "sentiment", "ALERT", 75, "high",
      Custom(s"has_prev AND ${orv("prev_tlsr", "1.0")} > 0.5 AND ${orv("tlsr", "1.0")} < 0.5")),
    R("主动买盘极端", "fut", "futures", "sentiment", "BUY", 70, "high",
      ThresholdCrossUp("tlsvr", 1.5)),
    R("主动卖盘极端", "fut", "futures", "sentiment", "SELL", 70, "high",
      Custom(s"has_prev AND ${orv("prev_tlsvr", "1.0")} > 0.67 AND ${orv("tlsvr", "1.0")} < 0.67")),
    R("情绪翻转看多", "fut", "futures", "sentiment", "BUY", 80, "high",
      StateChange("flip", Seq("无", "", "空翻"), Seq("多翻"))),
    R("情绪翻转看空", "fut", "futures", "sentiment", "SELL", 80, "high",
      StateChange("flip", Seq("无", "", "多翻"), Seq("空翻"))),
    R("风险分高位", "fut", "futures", "sentiment", "ALERT", 70, "high",
      ThresholdCrossUp("risk", 80.0)),
    R("OI连续增仓", "fut", "futures", "sentiment", "ALERT", 65, "medium",
      ThresholdCrossUp("streak", 5.0)),
    R("OI连续减仓", "fut", "futures", "sentiment", "ALERT", 65, "medium",
      Custom("has_prev AND coalesce(prev_streak, 0.0) > -5 AND coalesce(streak, 0.0) < -5")),
    R("持仓Z分数异常高", "fut", "futures", "sentiment", "ALERT", 70, "high",
      ThresholdCrossUp("oi_z", 2.0)),
    R("持仓Z分数异常低", "fut", "futures", "sentiment", "ALERT", 70, "high",
      Custom("has_prev AND coalesce(prev_oi_z, 0.0) > -2 AND coalesce(oi_z, 0.0) < -2")))

  /** rules/pattern/__init__.py — 16 rules. The candlestick CONTAINS
    * rules substring-match the K线形态扫描器 name lists and are LIVE
    * (except 三角/楔形 — no detector in the engine's shape set); the
    * SMC/fib/VPVR rules expect 看涨/BOS/多/上方 vocabularies their
    * scanners never emit — dead in the reference too.
    */
  val PatternRules: Seq[CorpusRule] = Seq(
    R("头肩顶形态", "kpat", "pattern", "candlestick", "SELL", 85, "high",
      ContainsAny("ptype", Seq("头肩顶")), cooldown = 43200L),
    R("头肩底形态", "kpat", "pattern", "candlestick", "BUY", 85, "high",
      ContainsAny("ptype", Seq("头肩底")), cooldown = 43200L),
    R("双顶形态", "kpat", "pattern", "candlestick", "SELL", 80, "high",
      ContainsAny("ptype", Seq("双顶", "M顶")), cooldown = 43200L),
    R("双底形态", "kpat", "pattern", "candlestick", "BUY", 80, "high",
      ContainsAny("ptype", Seq("双底", "W底")), cooldown = 43200L),
    R("三角形突破", "kpat", "pattern", "candlestick", "ALERT", 70, "medium",
      ContainsAny("ptype", Seq("三角", "楔形")), cooldown = 86400L),
    R("锤子线", "kpat", "pattern", "candlestick", "BUY", 65, "medium",
      ContainsAny("ptype", Seq("锤子", "hammer"))),
    R("吞没形态", "kpat", "pattern", "candlestick", "ALERT", 70, "medium",
      ContainsAny("ptype", Seq("吞没", "engulf"))),
    R("十字星", "kpat", "pattern", "candlestick", "ALERT", 60, "low",
      ContainsAny("ptype", Seq("十字", "doji")), cooldown = 21600L),
    R("SMC看涨", "smc", "pattern", "smc", "BUY", 75, "high",
      StateChange("bias_d", Seq("看跌", "中性", ""), Seq("看涨"))),
    R("SMC看跌", "smc", "pattern", "smc", "SELL", 75, "high",
      StateChange("bias_d", Seq("看涨", "中性", ""), Seq("看跌"))),
    R("BOS突破", "smc", "pattern", "smc", "ALERT", 70, "high",
      ContainsAny("event", Seq("BOS"))),
    R("CHoCH变化", "smc", "pattern", "smc", "ALERT", 75, "high",
      ContainsAny("event", Seq("CHoCH", "CHOCH"))),
    R("斐波那契多头信号", "fib", "pattern", "fibonacci", "BUY", 70, "high",
      StateChange("fdir", Seq("空", "down", "-1", ""), Seq("多", "up", "1"))),
    R("斐波那契空头信号", "fib", "pattern", "fibonacci", "SELL", 70, "high",
      StateChange("fdir", Seq("多", "up", "1", ""), Seq("空", "down", "-1"))),
    R("进入VPVR价值区", "vpvr", "pattern", "vpvr", "ALERT", 55, "low",
      StateChange("vpos", Seq("上方", "下方"), Seq("价值区内"))),
    R("离开VPVR价值区", "vpvr", "pattern", "vpvr", "ALERT", 60, "medium",
      StateChange("vpos", Seq("价值区内"), Seq("上方", "下方"))))

  /** rules/core/__init__.py — 20 high-value confluence/extreme/anomaly
    * rules over the RSI/futures/base/SMC/MACD/SR marts (the SMC four are
    * dead-by-vocabulary like their pattern-category siblings).
    */
  val CoreRules: Seq[CorpusRule] = {
    def z(f: String) = s"coalesce($f, 0.0)"
    Seq(
    R("动量趋势共振做多", "rsi", "core", "confluence", "BUY", 85, "high",
      Custom("has_prev AND prev_pos IN ('超卖区') AND pos IN ('中性区', '中性')" +
        s" AND ${orv("prev_rsi7", "50.0")} <= ${orv("prev_rsi21", "50.0")}" +
        s" AND ${orv("rsi7", "50.0")} > ${orv("rsi21", "50.0")}" +
        s" AND ${orv("rsi_avg", "50.0")} > ${orv("prev_rsi_avg", "50.0")}"),
      cooldown = 7200L, minVolume = 500000.0),
    R("动量趋势共振做空", "rsi", "core", "confluence", "SELL", 85, "high",
      Custom("has_prev AND prev_pos IN ('超买区') AND pos IN ('中性区', '中性')" +
        s" AND ${orv("prev_rsi7", "50.0")} >= ${orv("prev_rsi21", "50.0")}" +
        s" AND ${orv("rsi7", "50.0")} < ${orv("rsi21", "50.0")}" +
        s" AND ${orv("rsi_avg", "50.0")} < ${orv("prev_rsi_avg", "50.0")}"),
      cooldown = 7200L, minVolume = 500000.0),
    R("大户极度看多警告", "fut", "core", "futures_extreme", "ALERT", 80, "high",
      Custom(s"${orv("tlsr", "1.0")} > 2.5 AND ${z("risk")} > 70"),
      cooldown = 14400L, minVolume = 1000000.0),
    R("大户极度看空警告", "fut", "core", "futures_extreme", "ALERT", 80, "high",
      Custom(s"${orv("tlsr", "1.0")} < 0.4 AND ${z("risk")} > 70"),
      cooldown = 14400L, minVolume = 1000000.0),
    R("持仓量异常高", "fut", "core", "futures_extreme", "ALERT", 75, "high",
      Custom(s"has_prev AND ${z("prev_oi_z")} < 2.5 AND ${z("oi_z")} >= 2.5"),
      cooldown = 7200L),
    R("情绪差值极端看多", "fut", "core", "futures_extreme", "BUY", 70, "medium",
      Custom(s"has_prev AND ${z("prev_bias")} < 0.5 AND ${z("bias")} >= 0.5" +
        s" AND ${z("streak")} >= 3"),
      cooldown = 7200L),
    R("情绪差值极端看空", "fut", "core", "futures_extreme", "SELL", 70, "medium",
      Custom(s"has_prev AND ${z("prev_bias")} > -0.5 AND ${z("bias")} <= -0.5" +
        s" AND ${z("streak")} <= -3"),
      cooldown = 7200L),
    R("放量上涨", "base", "core", "volume_anomaly", "BUY", 70, "medium",
      Custom(s"has_prev AND ${orv("turnover", "0.0")} > ${orv("prev_turnover", "1.0")} * 2" +
        s" AND ${z("chg")} > 1 AND ${orv("bsr", "1.0")} > 1.2"),
      minVolume = 500000.0),
    R("放量下跌", "base", "core", "volume_anomaly", "SELL", 70, "medium",
      Custom(s"has_prev AND ${orv("turnover", "0.0")} > ${orv("prev_turnover", "1.0")} * 2" +
        s" AND ${z("chg")} < -1 AND ${orv("bsr", "1.0")} < 0.8"),
      minVolume = 500000.0),
    R("大额资金净流入", "base", "core", "volume_anomaly", "BUY", 75, "high",
      Custom(s"has_prev AND ${z("flow")} > ${orv("turnover", "1.0")} * 0.3" +
        s" AND ${z("flow")} > ${z("prev_flow")} * 2"),
      cooldown = 7200L, minVolume = 1000000.0),
    R("大额资金净流出", "base", "core", "volume_anomaly", "SELL", 75, "high",
      Custom(s"has_prev AND ${z("flow")} < -(${orv("turnover", "1.0")}) * 0.3" +
        s" AND ${z("flow")} < ${z("prev_flow")} * 2"),
      cooldown = 7200L, minVolume = 1000000.0),
    R("BOS多头结构突破", "smc", "core", "smc", "BUY", 80, "high",
      Custom("contains(coalesce(event, ''), 'BOS') AND bias_d = '看涨'" +
        s" AND ${z("score")} >= 60"),
      cooldown = 7200L, minVolume = 500000.0),
    R("BOS空头结构突破", "smc", "core", "smc", "SELL", 80, "high",
      Custom("contains(coalesce(event, ''), 'BOS') AND bias_d = '看跌'" +
        s" AND ${z("score")} >= 60"),
      cooldown = 7200L, minVolume = 500000.0),
    R("CHoCH趋势变化看涨", "smc", "core", "smc", "BUY", 85, "high",
      Custom("(contains(coalesce(event, ''), 'CHoCH')" +
        " OR contains(coalesce(event, ''), 'CHOCH')) AND bias_d = '看涨'"),
      cooldown = 14400L, minVolume = 500000.0),
    R("CHoCH趋势变化看跌", "smc", "core", "smc", "SELL", 85, "high",
      Custom("(contains(coalesce(event, ''), 'CHoCH')" +
        " OR contains(coalesce(event, ''), 'CHOCH')) AND bias_d = '看跌'"),
      cooldown = 14400L, minVolume = 500000.0),
    R("MACD强势金叉", "macd", "core", "macd", "BUY", 75, "high",
      Custom(s"has_prev AND ${z("prev_dif")} <= ${z("prev_dea")}" +
        s" AND ${z("dif")} > ${z("dea")} AND ${z("dif")} > 0 AND ${z("dea")} > 0"),
      cooldown = 7200L),
    R("MACD强势死叉", "macd", "core", "macd", "SELL", 75, "high",
      Custom(s"has_prev AND ${z("prev_dif")} >= ${z("prev_dea")}" +
        s" AND ${z("dif")} < ${z("dea")} AND ${z("dif")} < 0 AND ${z("dea")} < 0"),
      cooldown = 7200L),
    R("MACD柱状放大转多", "macd", "core", "macd", "BUY", 65, "medium",
      Custom(s"has_prev AND ${z("prev_hist")} < 0 AND ${z("hist")} > 0" +
        s" AND abs(${z("hist")}) > abs(${z("prev_hist")}) * 1.5")),
    R("接近强支撑位", "sr", "core", "sr", "BUY", 65, "medium",
      Custom(s"has_prev AND ${orv("ds", "100.0")} < 1.0" +
        s" AND ${orv("prev_ds", "0.0")} > ${orv("ds", "100.0")}")),
    R("接近强阻力位", "sr", "core", "sr", "SELL", 65, "medium",
      Custom(s"has_prev AND ${orv("dr", "100.0")} < 1.0" +
        s" AND ${orv("prev_dr", "0.0")} > ${orv("dr", "100.0")}")))
  }

  /** The full corpus — categories land as their mart series do. */
  val AllRules: Seq[CorpusRule] =
    VolumeRules ++ VolatilityRules ++ MiscRules ++ MomentumRules ++ TrendRules ++ FuturesRules ++ PatternRules ++ CoreRules

  /** Republish a mart series under the VERBATIM reference table contract:
    * the scanner's Chinese column names over the fixed
    * `交易对, 周期, 数据时间` leading columns
    * (indicators/base.py:64-75 via [[graft.operators.Mart.asMartRow]]) —
    * what a reference user reads when they query the mart by name.
    */
  def martTable(s: SparkSession, dir: String, key: String,
      interval: String = "1m"): DataFrame = {
    val md = MartSeries.all(key)
    val renamed = md.fields.foldLeft(
      md.build(s, dir).withColumnRenamed("turnover", "成交额")) {
      case (df, (ascii, zh)) => df.withColumnRenamed(ascii, zh)
    }
    graft.operators.Mart.asMartRow(renamed, interval)
  }

  // --------------------------------------------------- signal messages

  /** Message templates + field maps, read from the extracted reference
    * metadata (src/main/resources/reference_rules.json — the mechanical
    * dump RuleCorpusSpec audits the corpus against). Keyed (name,
    * category); values (message_template, argName → Chinese mart field).
    */
  private lazy val msgData: Map[(String, String), (String, Map[String, String])] = {
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = om.readTree(getClass.getResourceAsStream("/reference_rules.json"))
    (0 until root.size).map { i =>
      val n = root.get(i)
      val fields = {
        val it = n.get("fields").properties().iterator()
        val b = Map.newBuilder[String, String]
        while (it.hasNext) { val e = it.next(); b += e.getKey -> e.getValue.asText() }
        b.result()
      }
      ((n.get("name").asText(), n.get("category").asText()),
        (n.get("template").asText(), fields))
    }.toMap
  }

  private val IntFields = Set("streak")

  /** Shared-dialect SQL for a rule's formatted message
    * (rules/base.py:150-161 `format_message`): template placeholders
    * `{arg:spec}` resolve through the rule's fields map to the mart's
    * eval columns; numeric args coerce null/0 like Python's
    * `curr.get(f, 0) or 0` and PRE-ROUND to the spec's precision before
    * printf so half-boundary formatting can't diverge across engines.
    * Policies (documented deviations): spec-less doubles render %.2f
    * (Python renders str(float)); a template whose args don't all
    * resolve renders as the RAW template — exactly the reference's
    * KeyError fallback (base.py:159-161; e.g. 放量上涨's {ratio} is
    * missing from its own fields map), and also our fallback for
    * message-only mart columns the engine doesn't carry (dead-rule
    * tables only).
    */
  def messageSql(r: CorpusRule): String = {
    val md = MartSeries.all(r.tableKey)
    val ascii = md.fields.map { case (a, zh) => zh -> a }.toMap + ("成交额" -> "turnover")
    val (template, fmap) = msgData((r.name, r.category))
    def lit(t: String) = "'" + t.replace("'", "''") + "'"
    if (template.isEmpty) return lit("")
    val ph = java.util.regex.Pattern.compile("\\{(\\w+)(?::([^}]*))?\\}")
    val m = ph.matcher(template)
    val parts = Seq.newBuilder[String]
    var last = 0
    var ok = true
    while (m.find()) {
      if (m.start() > last) parts += lit(template.substring(last, m.start()))
      val arg = m.group(1); val spec = Option(m.group(2)).getOrElse("")
      (fmap.get(arg).flatMap(ascii.get) match {
        case None => ok = false; None
        case Some(f) => Some(f)
      }).foreach { f =>
        val dec = "\\.([0-9])f".r
        parts += (spec match {
          case dec(d0) =>
            // 1eN literals: both engines type them DOUBLE (Spark parses
            // 10.0 as DECIMAL, and printf %f rejects Decimal)
            val d = d0.toInt
            s"printf('%.${d}f', floor(coalesce($f, 0.0) * 1e$d + 0.5) / 1e$d)"
          case "" if IntFields(f) =>
            s"printf('%d', CAST(coalesce($f, 0) AS BIGINT))"
          case "" if md.fields.exists(x => x._1 == f) &&
              Set("pos", "dvg", "kdj_sig", "cls", "liq_level", "scalp_sig",
                "event", "bias_d", "shape", "fzone", "vpos", "sdir", "tdir",
                "tldir", "zdir", "cdir", "hdir", "vdir", "gdir", "isig",
                "flip", "ptype")(f) =>
            s"(CASE WHEN $f IS NULL OR $f = '' THEN '0' ELSE $f END)"
          case "" =>
            s"printf('%.2f', floor(coalesce($f, 0.0) * 1e2 + 0.5) / 1e2)"
          case other =>
            ok = false; lit("")
        })
      }
      last = m.end()
    }
    if (last < template.length) parts += lit(template.substring(last))
    if (!ok) lit(template)
    else parts.result().toList match {
      case single :: Nil => single
      case many => many.mkString("concat(", ", ", ")")
    }
  }

  // ------------------------------------------------- corpus-wide views

  /** Whole-corpus evaluation, ONE window pass per mart TABLE (a table's
    * rules from every category evaluate together — e.g. the MACD series
    * serves both the volume pack and the core zero-axis rules in the
    * same pass).
    */
  def corpusFired(s: SparkSession, dir: String): DataFrame =
    rulesQuery(AllRules)(s, dir)

  /** [[corpusFired]] plus each rule's rendered message — the 10-column
    * superset every whole-corpus view projects from. Message rendering
    * is per-row expression work inside the same per-table window pass,
    * so the superset costs the same shuffle budget as the fired set.
    */
  def corpusFiredMsg(s: SparkSession, dir: String): DataFrame =
    firedUnion(AllRules.groupBy(_.tableKey).toSeq.sortBy(_._1).map { case (tk, rs) =>
      val md = MartSeries.all(tk)
      fired(evalFrame(md.build(s, dir), md.fields.map(_._1)), md.table, rs,
        r => Seq(message(r)))
    })

  /** A rule's rendered message as a fired-row column. */
  private def message(r: CorpusRule): Column = expr(messageSql(r)).as("message")

  /** The 35-mart evaluation materialized ONCE per (session, corpus dir)
    * and shared by every whole-corpus entry (g13 cooldown, g14 summary,
    * g16 feed) — the engine evaluates the corpus once per tick and fans
    * the result to cooldown/statistics/publication
    * (sqlite_engine.py:218-276), it does not re-run the scanners per
    * consumer. The fired superset is sparse (O(fired signals), not
    * O(bars)), so the eager localCheckpoint pins only metadata-sized
    * blocks. The trailing checkpoint also hands a memo-off consumer a
    * size-known LogicalRDD (a broadcast-eligible join side with a
    * truncated plan).
    */
  private val corpusFiredStage =
    graft.SharedStage[DataFrame]("RuleCorpus.corpusFired")
  /** Compact a branch-union to the session's parallelism before its
    * shared checkpoint (optimization r13, guide §2.2 "fewer, larger
    * partitions"): the fired union is 35 branches × shuffle-partition
    * blocks ≈ 1100 tiny partitions, and EVERY consumer of the memo was
    * re-paying ~1100 scan tasks per query (profiled: most of g13/g14's
    * ~1.9 s each). coalesce is narrow — no shuffle, it just groups the
    * checkpointed branch blocks — and the count tracks defaultParallelism
    * rather than a local constant.
    */
  private def compacted(df: DataFrame): DataFrame =
    df.coalesce(math.max(1,
      df.sparkSession.sparkContext.defaultParallelism))

  def corpusFiredShared(s: SparkSession, dir: String): DataFrame =
    corpusFiredStage(s, dir)(
      compacted(corpusFiredMsg(s, dir)).localCheckpoint())

  final case class Fired9(symbol: String, bucket_ts: Long, rule: String,
    mart: String, category: String, subcategory: String, direction: String,
    strength: Int, priority: String)
  private implicit val encFired9: org.apache.spark.sql.Encoder[Fired9] =
    org.apache.spark.sql.Encoders.product[Fired9]

  /** g13 — the cooldown view over the shared corpus materialization. */
  private val corpusCooldown: Q = (s, dir) =>
    Cooldown.scan(corpusFiredShared(s, dir)).drop("message")

  /** g19 — the native dispatch's cooldown: the shared COOLED stream
    * (see [[nativeCooledShared]]) minus the message column.
    */
  private val nativeTfCooldown: Q = (s, dir) =>
    nativeCooledShared(s, dir).drop("message")

  /** The corpus cooldowns as a `cds(rule, cd)` VALUES CTE (duplicate rule
    * names share identical cooldowns — the engine's shared-name state
    * collapse).
    */
  private def cdsCte: String = {
    val cds = Cooldown.CdByRule.toSeq.sortBy(_._1)
      .map { case (n, cd) => s"('$n', CAST($cd AS BIGINT))" }
      .mkString(",\n    ")
    s"cds(rule, cd) AS (\n  VALUES $cds)"
  }

  /** The fired columns every corpus cooldown oracle carries past its key. */
  private val FiredCarried =
    Seq("mart", "category", "subcategory", "direction", "strength", "priority")

  /** [[nativeTfCooldown]]'s oracle: the g18 fired union as a CTE, the
    * per-rule cooldowns as [[cdsCte]], and the recursive greedy twin with
    * `timeframe` in the state key.
    */
  private def nativeTfCooldownOracle: String =
    // fired MUST be MATERIALIZED (r13): it is referenced from inside the
    // recursive member, and DuckDB re-inlines a plain CTE at every
    // recursion step — the whole 3-cadence × 35-mart corpus was
    // re-evaluated once per cooldown-chain step (~15× the query: 82 s
    // materialized vs ~20 min, identical relation)
    s"""WITH RECURSIVE fired AS MATERIALIZED (
       |${nativeTfOracle}
       |),
       |$cdsCte,
       |${Cooldown.sql("fired JOIN cds USING (rule)",
            Seq("symbol", "rule", "timeframe"), FiredCarried, "n.cd",
            strict = true)}""".stripMargin

  /** Reference tables whose scanner writes a price column the published
    * Signal's falsy-coalesce can read (sqlite_engine.py:250:
    * `curr.get("当前价格") or curr.get("价格") or curr.get("收盘价") or 0`)
    * — in every scanner the value is the bar's CLOSE: 当前价格
    * (macd.py:49, kdj.py:49, atr.py:48, base_data.py:76,
    * k_pattern.py:240, liquidity.py:153, scalping.py:43,
    * support_resistance.py:28, trend_line.py:174, volume_ratio.py:36,
    * vwap.py:47, lean_indicators.py:270 Ichimoku), 价格 (bollinger.py:45,
    * ema_gc.py:56, buy_sell_ratio.py:24), 收盘价 (base_data.py:75).
    * Donchian/Keltner are included because THIS engine's marts carry
    * 当前价格 (the documented evident-intent fix — the reference scanner
    * omits the column its own rules compare against; MartSeries donch/
    * kelt note), and the price coalesce reads the maintained row.
    * Tables not listed lack all three keys, so the engine publishes
    * price 0 for them. kpat is special-grid: the mart is a DAILY series
    * at any evaluation cadence, so its price is the bar's DAILY close.
    */
  private[graft] val PriceTables: Set[String] =
    Set("macd", "kdj", "atr", "base", "kpat", "liq", "scalp", "sr",
      "tline", "volratio", "vwap", "ichi", "boll", "gc", "taker",
      "donch", "kelt")
      .map(k => MartSeries.all(k).table)
  private val KpatTable = MartSeries.all("kpat").table

  /** Every cadence's rolled bars as ONE composite-keyed clustered
    * checkpoint: symbol becomes `symbol + U+0001 + tf` (the
    * [[graft.operators.Cycle.fusedFrame]] key), so each per-symbol mart
    * series treats every (symbol, timeframe) slice independently and ONE
    * plan per mart replaces one per (mart, cadence). Outside a fact
    * override the union reads the per-cadence [[rolledShared]]
    * checkpoints (cached, also serving g15/g17 and the g20 price join);
    * under the f03 priority cut it rolls the cut fact directly — the
    * per-cadence checkpoints would be redundant work when the fused
    * union is checkpointed anyway. One repartition on the composite key
    * + in-partition sort before the checkpoint keeps every downstream
    * mart window pass exchange-free and sort-free (the [[rolledShared]]
    * layout argument, one dispatch level up).
    *
    * Deliberately NOT memoized (r11 ADVICE adjudication): the union
    * checkpoint is a build-time scaffold whose blocks
    * [[nativeFiredFused]] releases via [[dropCheckpoint]] once the fired
    * branches materialize — a (session, dir) memo would hand later
    * callers a lineage-truncated frame with no live blocks. Repeat cost
    * is already bounded one level up: the non-override path runs this at
    * most once per (session, dir) because [[nativeFiredShared]] caches
    * the RESULT, and overridden (f03 priority-cut) evaluations must
    * rebuild by design — each override is a different cut fact, so no
    * key short of the frame identity is sound.
    */
  /** The requested cadences' roll-ups, keyed by seconds. Shared memos ON:
    * the per-cadence [[rolledShared]] clustered checkpoints (built once,
    * served to every consumer — the serving path). Single-build path (a
    * fact override, or the bench's memo-off accounting): those
    * checkpoints would be redundant materializations inside one query,
    * so serve the RAW per-cadence roll-ups (optimization r14, guide
    * §2.4 remove-materializations): the identical aggregation tree
    * (bit-identical results — same partial-agg order over the bucketed
    * fact, whose symbol clustering makes each roll-up exchange-free)
    * minus the repartition+sort+checkpoint that only pays off when the
    * frame is SHARED. A hierarchical 1h→4h/1d re-aggregation was
    * measured and rejected: it re-associates the double sums
    * (60.44 vs 60.440000000000005 on the sf0.001 fixture), which is
    * absorbed by the 6-dp output grid but breaks the bit-parity
    * discipline the oracle hash compare rests on.
    */
  private def rolledCadences(s: SparkSession, dir: String,
      cadences: Seq[Long]): Map[Long, DataFrame] =
    if (graft.Tables.factOverrideActive || graft.Tables.sharedMemoOff(s))
      cadences.map(secs => secs ->
        graft.operators.Rollup.rollup(graft.Tables.candles(s, dir), secs)).toMap
    else cadences.map(secs => secs -> rolledShared(s, dir, secs)).toMap

  private[graft] def fusedRolledFrame(s: SparkSession, dir: String): DataFrame = {
    val sep = graft.operators.Mart.IvTagSep
    val rolledBy = rolledCadences(s, dir, TfSeconds.map(_._2))
    val union = TfSeconds.map { case (tf, secs) =>
      rolledBy(secs)
        .withColumn("symbol", concat(col("symbol"), lit(sep + tf)))
    }.reduce(_.unionByName(_))
    graft.Tables.checkpointKeepLayout(s, union
      .repartition(col("symbol"))
      .sortWithinPartitions(col("symbol"), col("bucket_ts")))
  }

  /** Release one eager checkpoint's pinned blocks (the fused frame is a
    * build-time scaffold: once the fired branches are materialized its
    * blocks are dead weight).
    */
  private[graft] def dropCheckpoint(df: DataFrame): Unit =
    graft.SharedStage.release(df)

  /** The FUSED native dispatch — row-identical to the per-cadence
    * [[nativeTfQuery]] (RuleCorpusSpec pins the equality through the
    * shared stream), at one plan per MART instead of one per (mart,
    * cadence) (~35 vs ~105 driver analyze/optimize passes — the f01
    * fusion lever one level up; plan cost was the f03 floor, r10 plan
    * audit). Soundness: every candle mart series is per-symbol pure, so
    * evaluating it over the composite-keyed [[fusedRolledFrame]] yields
    * exactly the per-cadence series side by side; rules are row-local
    * predicates, so evaluating a mart's FULL rule set at every cadence
    * and keeping each fired row only where `timeframe ∈ rule.timeframes`
    * commutes with the reference's evaluate-only-declared dispatch
    * (sqlite_engine.py:224-231). The metrics-clocked `fut` mart ignores
    * the candle frame entirely (its cadence is the metrics fact's own) —
    * it evaluates ONCE and fans each fired row across the rule's
    * declared timeframes, which is literally what the per-cadence
    * dispatch computed three times.
    */
  private[graft] def nativeFiredFused(s: SparkSession, dir: String,
      withMsg: Boolean): DataFrame = {
    val sep = graft.operators.Mart.IvTagSep
    val fused = fusedRolledFrame(s, dir)
    // each rule's DECLARED timeframes ride in the when-struct (`tfs`), so
    // candle marts filter and the metrics mart fans post-evaluation
    val extra = (r: CorpusRule) =>
      (if (withMsg) Seq(message(r)) else Nil) :+
        array(r.timeframes.map(lit): _*).as("tfs")
    val branches = AllRules.groupBy(_.tableKey).toSeq.sortBy(_._1)
      .map { case (tk, rs) =>
        val md = MartSeries.all(tk)
        if (md.needsMetrics)
          fired(evalFrame(md.build(s, dir), md.fields.map(_._1)),
              md.table, rs, extra)
            .withColumn("timeframe", explode(col("tfs")))
            // constrain the fan to the dispatch's cadence set — the
            // candle branch is structurally limited to TfSeconds tags,
            // and the per-cadence semantic reference only iterates
            // TfSeconds, so a future rule declaring an off-set timeframe
            // must not silently widen the fused output
            .where(col("timeframe").isin(TfSeconds.map(_._1): _*))
            .drop("tfs")
        else
          fired(evalFrame(md.buildFrom(s, dir, fused),
              md.fields.map(_._1)), md.table, rs, extra)
            .withColumn("timeframe", substring_index(col("symbol"), sep, -1))
            .withColumn("symbol", substring_index(col("symbol"), sep, 1))
            .where(array_contains(col("tfs"), col("timeframe")))
            .drop("tfs")
      }
    // ALWAYS the eager path (never firedUnion's lazy small-list union):
    // every branch must be materialized before the fused checkpoint's
    // blocks are released below — a lazy union would execute after the
    // lineage-truncated localCheckpoint lost its blocks
    val out = graft.operators.Cycle.runBranches(branches)
    dropCheckpoint(fused)
    out
  }

  /** The native dispatch's fired-with-message stream (the 11-column
    * superset every native-family view projects from): each rule
    * evaluated at each timeframe it declares, with the rendered message
    * riding in the same when-struct. Row-identical to [[nativeTfQuery]]
    * plus `message` — the fired predicate is [[fullCond]] in both — but
    * built through the fused dispatch (one plan per mart).
    */
  private def nativeFiredMsg(s: SparkSession, dir: String): DataFrame =
    nativeFiredFused(s, dir, withMsg = true)

  /** [[nativeFiredMsg]] materialized ONCE per (session, corpus dir) and
    * shared by the whole native-dispatch family — the engine evaluates
    * each (table, timeframe) once per tick and fans the fired set to
    * dispatch/cooldown/publication (sqlite_engine.py:218-276); it never
    * re-runs the scanners per consumer. g18 projects the tagged fired
    * set (drop message), g19 is the tf-keyed cooldown scan over it, g20
    * the cooldown + price join — exactly the [[corpusFiredShared]]
    * pattern one dispatch level up. The fired superset is sparse
    * (O(fired signals)), so the checkpoint pins metadata-sized blocks.
    */
  private val nativeFiredStage =
    graft.SharedStage[DataFrame]("RuleCorpus.nativeFired")
  def nativeFiredShared(s: SparkSession, dir: String): DataFrame =
    nativeFiredStage(s, dir)(
      compacted(nativeFiredMsg(s, dir)).localCheckpoint())

  /** The native dispatch's COOLED stream — [[Cooldown.scan]] over
    * [[nativeFiredShared]] (full (symbol, rule, timeframe) state key,
    * message riding along) — materialized once per (session, dir): the
    * engine's single dispatch loop cools down once per tick
    * (sqlite_engine.py:203-276), then fans the emitted set to
    * publication; g19 and g20 are projections of this (drop message /
    * join price). Sparse (≤ the fired superset), so the checkpoint is
    * metadata-sized.
    */
  private val nativeCooledStage =
    graft.SharedStage[DataFrame]("RuleCorpus.nativeCooled")
  def nativeCooledShared(s: SparkSession, dir: String): DataFrame =
    nativeCooledStage(s, dir)(
      Cooldown.scan(nativeFiredShared(s, dir)).localCheckpoint())

  /** Drop every shared-stage materialization, releasing its pinned
    * blocks ([[graft.SharedStage.invalidateAll]]).
    */
  def invalidateShared(): Unit = graft.SharedStage.invalidateAll()

  /** g20 — the complete published SIGNAL object feed under the native
    * dispatch (sqlite_engine.py:246-266): each rule at each timeframe it
    * declares, with the rendered message AND the reference Signal's
    * price (the bar's close where the table carries a price column,
    * else 0), thinned by the per-(symbol, rule, timeframe) cooldown.
    * Price joins the ROLLED candle frame on (symbol, bucket_ts) AFTER
    * the cooldown scan — the join side is the O(signals) feed, price is
    * deterministic per (symbol, bar), so post-cooldown joining commutes
    * with the oracle's pre-cooldown join and never shuffles more than
    * the published feed.
    */
  private def feedPriceJoin(s: SparkSession, dir: String,
      cooled: DataFrame): DataFrame = {
    // one rolledCadences call covers the per-timeframe close AND kpat's
    // daily close: memo-off it serves direct raw roll-ups per cadence
    // (hierarchical staging was rejected, see rolledCadences) instead of
    // four clustered checkpoints serving a 3-column projection
    val rolledBy =
      rolledCadences(s, dir, (TfSeconds.map(_._2) :+ 86400L).distinct)
    val px = TfSeconds.map { case (tf, secs) =>
      rolledBy(secs)
        .select(col("symbol"), col("bucket_ts"),
          lit(tf).as("timeframe"), MartSeries.q6(col("close")).as("px"))
    }.reduce(_.unionByName(_))
    // kpat's mart is a DAILY series at any evaluation cadence, so its
    // rows sit on day-aligned bucket_ts and its price is the daily close
    val pxDay = rolledBy(86400L)
      .select(col("symbol"), col("bucket_ts"),
        MartSeries.q6(col("close")).as("px_day"))
    cooled.join(px, Seq("symbol", "bucket_ts", "timeframe"), "left")
      .join(pxDay, Seq("symbol", "bucket_ts"), "left")
      .withColumn("price",
        when(col("mart") === KpatTable, coalesce(col("px_day"), lit(0.0)))
          .when(col("mart").isin((PriceTables - KpatTable).toSeq: _*),
            coalesce(col("px"), lit(0.0)))
          .otherwise(lit(0.0)))
      .drop("px", "px_day")
  }

  private val nativeFeed: Q = (s, dir) =>
    feedPriceJoin(s, dir, nativeCooledShared(s, dir))

  /** Retention depth of the published-feed read, PER TIMEFRAME: the
    * reference's mart reader keeps the newest N rows per (symbol,
    * interval) with N from its RETENTION map — 1m/5m:120, 15m:96, 1h:144,
    * 4h:120, 1d:180, 1w:104, anything else 60 (db/reader.py:300-317,
    * `_cleanup_old_data`) — so the production dispatch never scans a
    * key's full history. r11 ADVICE #2: the first cut used a flat 96 for
    * every interval, which dropped fired rows the reference still serves
    * on 1h/1d keys and over-kept on short ones; this mirrors the map
    * verbatim, default included.
    */
  private[graft] val RetentionByTf: Map[String, Int] = Map(
    "1m" -> 120, "5m" -> 120, "15m" -> 96, "1h" -> 144,
    "4h" -> 120, "1d" -> 180, "1w" -> 104)
  private[graft] val RetentionDefault = 60
  private[graft] def retentionFor(tf: String): Int =
    RetentionByTf.getOrElse(tf, RetentionDefault)

  /** g20b — [[nativeFeed]] under the reference's RETENTION contract (r10
    * VERDICT #9): keep only the newest [[RetentionByTf]](timeframe) fired
    * rows per cooldown key (symbol, rule, timeframe) BEFORE the cooldown
    * scan, exactly as the reference's dispatch only ever sees the
    * retention-bounded mart read. g20 proper (full-history feed, the
    * backfill/audit shape) grows with bar count — sf1 slope 7.9 — while
    * this is the bounded steady-state shape: per-key state is ≤
    * max-retention (180) rows whatever the corpus depth, so the cooled
    * stream is O(keys · retention), not O(bars). Cooldown semantics
    * inside the retained window are IDENTICAL (the scan seeds at the
    * window's first row — the same cold-start the reference pays when a
    * key's older rows age out of retention).
    */
  private def retainedCooled(s: SparkSession, dir: String): DataFrame = {
    val fired = nativeFiredShared(s, dir)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("symbol", "rule", "timeframe")
      .orderBy(col("bucket_ts").desc, col("mart"))
    val retLim = coalesce(
      element_at(typedLit(RetentionByTf), col("timeframe")),
      lit(RetentionDefault))
    val retained = fired.withColumn("ret_rn", row_number().over(w))
      .filter(col("ret_rn") <= retLim).drop("ret_rn")
    Cooldown.scan(retained)
  }

  // once per (session, dir) like [[nativeCooledShared]]: the production
  // dispatch cools once per tick and fans the emitted set out
  private val retainedCooledStage =
    graft.SharedStage[DataFrame]("RuleCorpus.retainedCooled")
  private val nativeFeedRetained: Q = (s, dir) =>
    feedPriceJoin(s, dir, retainedCooledStage(s, dir)(
      retainedCooled(s, dir).localCheckpoint()))

  /** One timeframe's feed oracle body: the cadence-rewritten corpus
    * oracle with messages in the branches, the fired set joined to the
    * rolled candles for the Signal price.
    */
  private def feedOracleAt(rules: Seq[CorpusRule], seconds: Long): String = {
    val (head, branches) = corpusOracle(rules)((md, r) =>
      branch(md, r, Seq(s"${messageSql(r)} AS message")))
    val pset = (PriceTables - KpatTable).toSeq.sorted
      .map(t => s"'$t'").mkString(", ")
    val body =
      s"""$head,
         |fired_l AS MATERIALIZED (
         |$branches
         |),
         |candles_day AS MATERIALIZED (
         |  SELECT symbol, bucket_ts // 86400 * 86400 AS bucket_ts,
         |         max_by(close, bucket_ts) AS close
         |  FROM candles GROUP BY 1, 2)
         |SELECT f.*, CASE
         |    WHEN f.mart = '$KpatTable'
         |      THEN ${MartSeries.q6s("coalesce(d.close, 0.0)")}
         |    WHEN f.mart IN ($pset)
         |      THEN ${MartSeries.q6s("coalesce(c.close, 0.0)")}
         |    ELSE 0.0 END AS price
         |FROM fired_l f
         |LEFT JOIN candles c
         |  ON f.symbol = c.symbol AND f.bucket_ts = c.bucket_ts
         |LEFT JOIN candles_day d
         |  ON f.symbol = d.symbol AND f.bucket_ts = d.bucket_ts""".stripMargin
    rolledPrelude(body, seconds)
  }

  /** [[nativeFeed]]'s oracle: per-timeframe feed bodies (each in its own
    * derived table — local WITH scope) tagged and unioned, then the
    * recursive greedy cooldown with the full (symbol, rule, timeframe)
    * key and message/price threaded through the recursion. `retention`
    * (g20b) inserts the newest-N-per-key cut — N per timeframe from the
    * reference's RETENTION map ([[RetentionByTf]]) — between the fired
    * union and the cooldown numbering, the same position the Spark side
    * applies it.
    */
  private def nativeFeedOracle(retention: Boolean = false): String = {
    val union = TfSeconds.map { case (tf, secs) =>
      val body = feedOracleAt(AllRules.filter(_.timeframes.contains(tf)), secs)
      s"SELECT b.*, '$tf' AS timeframe FROM (\n$body\n) b"
    }.mkString("\nUNION ALL\n")
    val firedSrc = if (!retention) "fired" else {
      val whens = RetentionByTf.toSeq.sortBy(_._1)
        .map { case (tf, n) => s"WHEN '$tf' THEN $n" }
        .mkString(" ")
      s"""(SELECT * EXCLUDE (ret_rn, ret_lim) FROM (
         |    SELECT f0.*, row_number() OVER (
         |      PARTITION BY f0.symbol, f0.rule, f0.timeframe
         |      ORDER BY f0.bucket_ts DESC, f0.mart) AS ret_rn,
         |      CASE f0.timeframe $whens ELSE $RetentionDefault END AS ret_lim
         |    FROM fired f0)
         |  WHERE ret_rn <= ret_lim)""".stripMargin
    }
    // MATERIALIZED for the same reason as [[nativeTfCooldownOracle]]
    // (r13): the recursive member re-inlines plain CTEs per step
    s"""WITH RECURSIVE fired AS MATERIALIZED (
       |$union
       |),
       |$cdsCte,
       |${Cooldown.sql(s"$firedSrc JOIN cds USING (rule)",
            Seq("symbol", "rule", "timeframe"),
            FiredCarried ++ Seq("message", "price"), "n.cd", strict = true)}""".stripMargin
  }

  /** g14 — corpus summary: fire counts and distinct symbols per rule —
    * the signal-feed statistics a corpus operator reports.
    */
  private val corpusSummary: Q = (s, dir) =>
    corpusFiredShared(s, dir)
      .groupBy(col("category"), col("subcategory"), col("rule"), col("mart"),
        col("direction"), col("strength"), col("priority"))
      .agg(count(lit(1)).as("fires"),
        countDistinct(col("symbol")).as("symbols"))

  /** g16 — the formatted signal FEED (what the reference publishes per
    * fired signal): the whole corpus with each rule's rendered message,
    * projected from the shared materialization.
    */
  private val corpusMessages: Q = (s, dir) =>
    corpusFiredShared(s, dir)
      .select(col("symbol"), col("bucket_ts"), col("rule"), col("mart"),
        col("direction"), col("strength"), col("message"))

  private def messagesOracle: String = {
    val (head, branches) = corpusOracle(AllRules)((md, r) =>
      s"""SELECT symbol, bucket_ts, '${r.name}' AS rule, '${md.table}' AS mart,
         |  '${r.direction}' AS direction, CAST(${r.strength} AS INT) AS strength,
         |  ${messageSql(r)} AS message
         |FROM e_${md.key} WHERE ${fullCond(r)}""".stripMargin)
    s"$head\n$branches"
  }

  /** Oracle prelude + fired CTE for the WHOLE corpus (`withMsg` appends
    * the rendered message to every branch).
    */
  private def corpusFiredSql(withMsg: Boolean): String = {
    val (head, branches) = corpusOracle(AllRules)((md, r) => branch(md, r,
      if (withMsg) Seq(s"${messageSql(r)} AS message") else Nil))
    // MATERIALIZED: the cooldown's recursive member re-references the
    // fired relation per step (see nativeTfCooldownOracle, r13);
    // single-reference consumers materialize once — no cost either way
    s"$head,\nfired AS MATERIALIZED (\n$branches\n)"
  }

  /** The recursive greedy-scan cooldown twin over the whole-corpus fired
    * CTE; `withMsg` threads the rendered message through the recursion
    * (the f02 feed shape).
    */
  private def cooldownSql(withMsg: Boolean): String =
    s"""${corpusFiredSql(withMsg)},
       |$cdsCte,
       |${Cooldown.sql("fired JOIN cds USING (rule)", Seq("symbol", "rule"),
            FiredCarried ++ (if (withMsg) Seq("message") else Nil), "n.cd",
            strict = true)}""".stripMargin

  private def cooldownOracle: String = cooldownSql(withMsg = false)

  private def summaryOracle: String =
    s"""${corpusFiredSql(withMsg = false)}
       |SELECT category, subcategory, rule, mart, direction, strength,
       |       priority, CAST(count(*) AS BIGINT) AS fires,
       |       CAST(count(DISTINCT symbol) AS BIGINT) AS symbols
       |FROM fired
       |GROUP BY ALL""".stripMargin

  // --------------------------------------- f02: the composed production tick

  /** f02 — the reference's steady-state loop as ONE DAG
    * (core/engine.py:121-255 feeding sqlite_engine.py:218-276): hourly
    * priority cut → the 35 mart series replayed over ONLY the priority
    * symbols → the full 129-rule corpus → per-(symbol, rule) cooldown →
    * the rendered signal feed. Both facts are semi-joined to the
    * (broadcast, ~tens-of-rows) priority set BEFORE any mart plan is
    * built — at 100 TB non-priority symbols never reach a window pass —
    * and the corpus evaluates in the same one-pass-per-table shape as
    * g05-g16, so the tick's cost is O(priority symbols × bars), exactly
    * the reference's working set. Because every mart series is
    * per-symbol window math, cutting the input to the priority set
    * commutes with evaluation: the tick's feed equals the whole-corpus
    * cooldown feed (g13 ⋈ g16) restricted to priority symbols —
    * RuleCorpusSpec pins that equality.
    */
  /** Cut a bucketed fact to the priority set and checkpoint the result
    * ONCE: the broadcast semi-join never shuffles and the checkpoint
    * keeps the scan's bucketed-by-symbol partitioning and (symbol, time)
    * sort, so every downstream mart window pass reads the cut fact
    * exchange-free AND scan-free — without it each of the ~35 mart plans
    * re-scans the full fact and re-probes the semi-join (35 store scans
    * per tick; the r8 f02 `weak` mark's root cost).
    */
  private def cutChecked(fact: DataFrame, prio: DataFrame): DataFrame =
    graft.Tables.checkpointKeepLayout(fact.sparkSession,
      fact.join(broadcast(prio), Seq("symbol"), "left_semi"))

  private val productionTick: Q = (s, dir) => {
    val prio = graft.Tables.barrier(
      graft.operators.Relational.queries("r07_topk_union")(s, dir))
    val cutCandles = cutChecked(graft.Tables.candles(s, dir), prio)
    val cutMetrics = cutChecked(graft.Tables.metrics5m(s, dir), prio)
    val firedRows = graft.Tables.withCandleFrame(cutCandles) {
      graft.Tables.withMetricsFrame(cutMetrics) {
        corpusFiredMsg(s, dir)
      }
    }
    Cooldown.scan(firedRows)
  }

  /** [[productionTick]]'s DuckDB twin: the whole-corpus cooldown+message
    * oracle with its fact preludes rewritten to the priority cut — the
    * r07 ranking SQL (reused verbatim from the Relational registry, so
    * the cut is the SAME shared-dialect predicate both engines run)
    * becomes a `prio` CTE and both facts filter to it before any mart
    * CTE reads them.
    */
  private def tickOracle: String = {
    val base = cooldownSql(withMsg = true)
    val r07 = graft.operators.Relational.oracle("r07_topk_union")
    val prefix = "WITH " + Oracle.CANDLES + "\n"
    require(r07.startsWith(prefix), "r07 oracle no longer candle-prefixed")
    val frag = r07.stripPrefix(prefix).replace("FROM candles", "FROM candles_raw")
    val selIdx = frag.indexOf("\nSELECT symbol FROM")
    require(frag.startsWith(", win AS (") && selIdx > 0,
      "r07 oracle shape changed; update tickOracle's splice")
    val winCte = frag.substring(2, selIdx)
    val prioSel = frag.substring(selIdx + 1)
    val candlesRaw = Oracle.CANDLES.replace("candles AS (", "candles_raw AS (")
    val metricsMat = Oracle.METRICS.replace("metrics AS (", "metrics AS MATERIALIZED (")
    require(base.contains(Oracle.CANDLES) && base.contains(metricsMat),
      "corpus oracle preludes changed; update tickOracle's splice")
    base
      .replace(Oracle.CANDLES,
        s"""$candlesRaw,
           |$winCte,
           |prio AS MATERIALIZED (
           |$prioSel),
           |candles AS MATERIALIZED (
           |  SELECT * FROM candles_raw
           |  WHERE symbol IN (SELECT symbol FROM prio))""".stripMargin)
      .replace(metricsMat,
        s"""${Oracle.METRICS.replace("metrics AS (", "metrics_raw AS MATERIALIZED (")},
           |metrics AS MATERIALIZED (
           |  SELECT * FROM metrics_raw
           |  WHERE symbol IN (SELECT symbol FROM prio))""".stripMargin)
  }

  /** f03 — the COMPLETE native tick: f02's composition upgraded to the
    * engine's real dispatch. Hourly priority cut (r07, broadcast) →
    * both facts semi-joined to the cut → the per-timeframe rule dispatch
    * (g18: each rule at each cadence it declares, over that cadence's
    * roll-up of ONLY the priority symbols) → the per-(symbol, rule,
    * timeframe) cooldown scan (g19, the engine's full state key). This
    * is the whole steady-state loop of core/engine.py:121-255 +
    * sqlite_engine.py:203-276 as one DAG: at 100 TB non-priority symbols
    * never reach a roll-up or window pass, each cadence's roll-up is
    * materialized once and fanned to its 35 mart plans, and the cooldown
    * streams at O(1) state. Cut-commutes-with-evaluation holds per
    * symbol (every mart series and the cooldown key are per-symbol), so
    * f03 == g19 restricted to priority symbols — RuleCorpusSpec pins it.
    */
  private val nativeTick: Q = (s, dir) => {
    val prio = graft.Tables.barrier(
      graft.operators.Relational.queries("r07_topk_union")(s, dir))
    val cutCandles = cutChecked(graft.Tables.candles(s, dir), prio)
    val cutMetrics = cutChecked(graft.Tables.metrics5m(s, dir), prio)
    val firedRows = graft.Tables.withCandleFrame(cutCandles) {
      graft.Tables.withMetricsFrame(cutMetrics) {
        // the fused dispatch: one plan per mart (~35), not one per
        // (mart, cadence) (~105) — under the override the plan floor was
        // paid PER EVALUATION, which made it f03's dominant cost
        nativeFiredFused(s, dir, withMsg = false)
      }
    }
    Cooldown.scan(firedRows)
  }

  /** [[nativeTick]]'s DuckDB twin: the g19 oracle with the r07 ranking
    * spliced in as top-level CTEs (visible inside each cadence
    * subquery's local WITH) and every cadence's fact preludes replaced
    * by prio-filtered reads of the shared base derivations.
    */
  private def nativeTickOracle: String = {
    val base = nativeTfCooldownOracle
    val r07 = graft.operators.Relational.oracle("r07_topk_union")
    val prefix = "WITH " + Oracle.CANDLES + "\n"
    require(r07.startsWith(prefix), "r07 oracle no longer candle-prefixed")
    val frag = r07.stripPrefix(prefix).replace("FROM candles", "FROM candles_base")
    val selIdx = frag.indexOf("\nSELECT symbol FROM")
    require(frag.startsWith(", win AS (") && selIdx > 0,
      "r07 oracle shape changed; update nativeTickOracle's splice")
    val winCte = frag.substring(2, selIdx)
    val prioSel = frag.substring(selIdx + 1)
    val candlesBase = Oracle.CANDLES
      .replace("candles AS (", "candles_base AS MATERIALIZED (")
    val metricsBase = Oracle.METRICS
      .replace("metrics AS (", "metrics_base AS MATERIALIZED (")
    val prelude =
      s"""$candlesBase,
         |$metricsBase,
         |$winCte,
         |prio AS MATERIALIZED (
         |$prioSel),
         |candles_cut AS MATERIALIZED (
         |  SELECT * FROM candles_base
         |  WHERE symbol IN (SELECT symbol FROM prio)),
         |metrics_cut AS MATERIALIZED (
         |  SELECT * FROM metrics_base
         |  WHERE symbol IN (SELECT symbol FROM prio)),
         |""".stripMargin
    val candles1m = Oracle.CANDLES.replace("candles AS (", "candles_1m AS (")
    val metricsMat = Oracle.METRICS
      .replace("metrics AS (", "metrics AS MATERIALIZED (")
    require(base.startsWith("WITH RECURSIVE ") && base.contains(candles1m)
      && base.contains(metricsMat),
      "g19 oracle preludes changed; update nativeTickOracle's splice")
    "WITH RECURSIVE " + prelude +
      base.stripPrefix("WITH RECURSIVE ")
        .replace(candles1m, "candles_1m AS (SELECT * FROM candles_cut)")
        .replace(metricsMat,
          "metrics AS MATERIALIZED (SELECT * FROM metrics_cut)")
  }

  // --------------------------------------------------------- registry

  val queries: Map[String, Q] = Map(
    "g09_rules_volume" -> categoryQuery("volume"),
    "g08_rules_volatility" -> categoryQuery("volatility"),
    "g12_rules_misc" -> categoryQuery("misc"),
    "g06_rules_momentum" -> categoryQuery("momentum"),
    "g07_rules_trend" -> categoryQuery("trend"),
    "g10_rules_futures" -> categoryQuery("futures"),
    "g11_rules_pattern" -> categoryQuery("pattern"),
    "g05_rules_core" -> categoryQuery("core"),
    "g15_rules_volume_1h" -> categoryQueryAt("volume", 3600L),
    "g16_rules_messages" -> corpusMessages,
    "g13_rules_cooldown" -> corpusCooldown,
    "g14_rules_summary" -> corpusSummary,
    "g17_rules_corpus_1h" -> ((s, dir) => rolledFiredShared(s, dir, 3600L)),
    "g18_rules_native_tf" -> ((s, dir) =>
      // memo-off: build without the message column it would drop anyway —
      // same fused dispatch, same rows, ~35 marts' message-rendering
      // expressions never enter the plans
      if (graft.Tables.sharedMemoOff(s))
        nativeFiredFused(s, dir, withMsg = false)
      else nativeFiredShared(s, dir).drop("message")),
    "g19_rules_native_cooldown" -> nativeTfCooldown,
    "g20_native_feed" -> nativeFeed,
    "g20b_native_feed_retained" -> nativeFeedRetained,
    "f02_production_tick" -> productionTick,
    "f03_native_tick" -> nativeTick)

  val oracle: Map[String, String] = Map(
    "g09_rules_volume" -> categoryOracle("volume"),
    "g08_rules_volatility" -> categoryOracle("volatility"),
    "g12_rules_misc" -> categoryOracle("misc"),
    "g06_rules_momentum" -> categoryOracle("momentum"),
    "g07_rules_trend" -> categoryOracle("trend"),
    "g10_rules_futures" -> categoryOracle("futures"),
    "g11_rules_pattern" -> categoryOracle("pattern"),
    "g05_rules_core" -> categoryOracle("core"),
    "g15_rules_volume_1h" -> categoryOracleAt("volume", 3600L),
    "g16_rules_messages" -> messagesOracle,
    "g13_rules_cooldown" -> cooldownOracle,
    "g14_rules_summary" -> summaryOracle,
    "g17_rules_corpus_1h" -> rolledPrelude(rulesOracle(AllRules), 3600L),
    "g18_rules_native_tf" -> nativeTfOracle,
    "g19_rules_native_cooldown" -> nativeTfCooldownOracle,
    "g20_native_feed" -> nativeFeedOracle(),
    "g20b_native_feed_retained" -> nativeFeedOracle(retention = true),
    "f02_production_tick" -> tickOracle,
    "f03_native_tick" -> nativeTickOracle)
}
