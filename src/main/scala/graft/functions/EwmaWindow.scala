package graft.functions

import graft.{Oracle, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.GraftBridge
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.trees.BinaryLike
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, DoubleType}

/** EWMA as a first-class Catalyst window function — SURVEY.md §7's "hard
  * part (a)": pandas `ewm(alpha, adjust=False).mean()` has no Spark
  * built-in, and the per-group fold ([[graft.indicators.Series.ewma]])
  * can't be combined with other window expressions in one SELECT.
  *
  * [[Ewma]] is a [[AggregateWindowFunction]] (the `NthValue` pattern —
  * windowExpressions.scala in the Spark source): a DeclarativeAggregate
  * whose running frame is UNBOUNDED PRECEDING..CURRENT ROW, carrying one
  * double of state through pure expressions, so it stays inside
  * whole-stage-codegen'd window evaluation — no UDF, no object state, and
  * it composes with `lag`/`avg`/... over the same window spec (single sort,
  * single shuffle).
  *
  * y₀ = x₀; yᵢ = α·xᵢ + (1−α)·yᵢ₋₁; NULL inputs carry the previous state
  * (pandas skip-NaN semantics).
  */
case class Ewma(input: Expression, alpha: Expression)
  extends AggregateWindowFunction with BinaryLike[Expression] {

  override def left: Expression = input
  override def right: Expression = alpha
  override def dataType: DataType = DoubleType
  override def prettyName: String = "ewma"

  private lazy val state = AttributeReference("ewma_state", DoubleType)()
  override def aggBufferAttributes: Seq[AttributeReference] = state :: Nil
  override val initialValues: Seq[Expression] = Literal(null, DoubleType) :: Nil

  override lazy val updateExpressions: Seq[Expression] = {
    val step = Add(Multiply(alpha, input),
      Multiply(Subtract(Literal(1.0), alpha), state))
    If(IsNull(input), state, If(IsNull(state), input, step)) :: Nil
  }

  override lazy val evaluateExpression: Expression = state

  override protected def withNewChildrenInternal(
    newLeft: Expression, newRight: Expression): Ewma =
    copy(input = newLeft, alpha = newRight)
}

object EwmaWindow {
  private type Q = (SparkSession, String) => DataFrame

  /** `ewma(spark, $"close", 0.1).over(w)` — the DataFrame-side entry point.
    * Goes through the function registry (the same resolution path as SQL
    * text) so the analyzer applies its window-aggregate wrapping; a bare
    * [[Ewma]] node inside a WindowExpression fails CheckAnalysis.
    */
  def ewma(spark: SparkSession, col: Column, alpha: Double): Column = {
    register(spark)
    call_function("ewma", col, lit(alpha))
  }

  /** Register `ewma(x, alpha)` for SQL texts on this session (once: a
    * session that already has it keeps its registration).
    */
  def register(spark: SparkSession): Unit =
    GraftBridge.registerFunction(spark, "ewma",
      exprs => Ewma(exprs.head, exprs(1)))

  /** w01 — per-bar EWMA(12) of close alongside built-ins over the SAME
    * window spec: the plan has ONE Window node (one shuffle + sort) for the
    * custom expression and `lag`, demonstrating composability the
    * flatMapGroups form can't offer.
    */
  private val ewmaWindow: Q = (s, dir) => {
    val w = Window.partitionBy("symbol").orderBy("bucket_ts")
    // running ROW frame spelled out: the analyzer's default for an
    // aggregate is a RANGE frame, which this function's state walk rejects
    val wRun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.candles(s, dir)
      .select(col("symbol"), col("bucket_ts"),
        round(ewma(s, col("close"), 2.0 / 13.0).over(wRun), 6).as("ema12"),
        round(ewma(s, col("close"), 2.0 / 13.0).over(wRun) -
          coalesce(lag("close", 1).over(w), col("close")), 6).as("ema_vs_prev"))
  }

  val queries: Map[String, Q] = Map("w01_ewma_window" -> ewmaWindow)

  val oracle: Map[String, String] = Map(
    "w01_ewma_window" -> Oracle.withCandles(
      """, series AS (
        |  SELECT symbol, list(bucket_ts ORDER BY bucket_ts) AS ts,
        |         list(close ORDER BY bucket_ts) AS cl, count(*) AS n
        |  FROM candles GROUP BY symbol)
        |SELECT symbol, ts[i] AS bucket_ts,
        |  round(e, 6) AS ema12,
        |  round(e - CASE WHEN i = 1 THEN cl[1] ELSE cl[i-1] END, 6) AS ema_vs_prev
        |FROM (
        |  SELECT symbol, i, ts, cl,
        |    list_reduce(cl[1:i], (acc, x) -> (2.0/13.0) * x + (1.0 - (2.0/13.0)) * acc) AS e
        |  FROM series,
        |    LATERAL (SELECT unnest(generate_series(1, CAST(n AS INT))) AS i) t)""".stripMargin))
}
