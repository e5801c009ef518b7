package graft.signals

import org.apache.spark.sql.{DataFrame, Encoder, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types.StructType

/** The signal cooldown (SURVEY §2.5): a fired signal emits only if enough
  * time has passed since the last signal EMITTED for the same key. This
  * is the one module that knows the policy:
  *  - the state key is (symbol, rule), plus `timeframe` when the frame has
  *    one — the engine keys state by `f"{rule}_{symbol}_{timeframe}"`
  *    (sqlite_engine.py:203-212), so same-named rules across marts share
  *    a clock while one rule's 1h and 4h streams do not;
  *  - `mart` breaks ties between one key's rows at the same bar when the
  *    frame has it (the order both engines walk);
  *  - `cdOf` maps a rule name to its cooldown seconds ([[corpusCd]] by
  *    default, which fails fast naming any rule outside the corpus);
  *  - `strict` picks the comparison: the sqlite engine re-emits strictly
  *    MORE than `cd` after the last emission (sqlite_engine.py:205-212
  *    `_is_cooled_down`), the pg engine at `cd` or more
  *    (pg_engine.py:612-636, the g02 path);
  *  - [[emits]] decides each row.
  *
  * One semantics, three executions that differ only in where the
  * last-emit state lives: [[scan]] (batch, within one sorted partition),
  * [[stream]] (the Structured Streaming state store, across
  * micro-batches) and [[sql]] (the recursive DuckDB twin the oracle
  * runs, spelled independently as the correctness check).
  */
object Cooldown {

  /** Per-rule cooldown seconds of the corpus. Same-named rules across
    * tables share state, and the corpus gives them identical cooldowns
    * (RuleCorpusSpec pins it), so keying by name is lossless.
    */
  private[signals] lazy val CdByRule: Map[String, Long] =
    RuleCorpus.AllRules.map(r => r.name -> r.cooldown).toMap

  /** The corpus registry's cooldown for `rule`. A rule outside the corpus
    * fails naming it (a bare `Map.apply` would surface as an unnamed
    * NoSuchElementException deep inside a task); callers cooling
    * non-corpus feeds pass their own `cdOf`.
    */
  def corpusCd(rule: String): Long =
    CdByRule.getOrElse(rule, throw new IllegalArgumentException(
      s"rule '$rule' has no registered cooldown: pass an explicit cdOf " +
        "for non-corpus feeds"))

  /** Does a row at `ts` emit, given its key's last emission `last`
    * (`Long.MinValue` when the key has not emitted yet)?
    */
  def emits(last: Long, cd: Long, ts: Long, strict: Boolean): Boolean =
    last == Long.MinValue || (if (strict) ts > last + cd else ts >= last + cd)

  private def keyCols(schema: StructType): Seq[String] =
    Seq("symbol", "rule") ++ Seq("timeframe").filter(schema.fieldNames.contains)

  /** The batch cooldown as an O(1)-state streaming greedy scan:
    * hash-partition on the state key, sort within partitions so each key's
    * rows are contiguous in (bucket_ts, mart) order, then one pass per
    * partition holding only the current key's last emission. No key's
    * rows are ever buffered on a task's heap, so an always-firing rule
    * over years of bars streams through at constant memory. Extra columns
    * (message, price) ride along untouched.
    */
  def scan(fired: DataFrame, cdOf: String => Long = corpusCd,
      strict: Boolean = true): DataFrame = {
    val schema = fired.schema
    val keys = keyCols(schema)
    val ik = keys.map(schema.fieldIndex).toArray
    val iRule = schema.fieldIndex("rule")
    val iTs = schema.fieldIndex("bucket_ts")
    val tieBreak = Seq("mart").filter(schema.fieldNames.contains)
    implicit val enc: Encoder[Row] = Encoders.row(schema)
    fired
      .repartition(keys.map(col): _*)
      .sortWithinPartitions((keys ++ ("bucket_ts" +: tieBreak)).map(col): _*)
      .mapPartitions { it =>
        val key = new Array[Any](ik.length)
        var started = false
        var cd = 0L
        var last = Long.MinValue
        it.filter { r =>
          if (!started || ik.indices.exists(j => r.get(ik(j)) != key(j))) {
            ik.indices.foreach(j => key(j) = r.get(ik(j)))
            started = true
            cd = cdOf(r.getString(iRule)); last = Long.MinValue
          }
          val ts = r.getLong(iTs)
          val e = emits(last, cd, ts, strict)
          if (e) last = ts
          e
        }
      }
  }

  /** The streaming cooldown: `flatMapGroupsWithState` on the state key,
    * the key's last emission in the state store so it survives across
    * micro-batches (the reference keeps it in `signal_cooldowns`). Each
    * micro-batch's rows walk in (bucket_ts, mart) order. State hygiene
    * (pg_engine.py:655-665 `_cleanup_cooldowns`): once the event-time
    * watermark passes last + 2·cd, any later row is past the suppression
    * window anyway, so evicting the key cannot change emissions — state
    * stays #ACTIVE keys, not ever-seen keys. Output has the input's
    * columns.
    */
  def stream(fired: DataFrame, cdOf: String => Long = corpusCd,
      strict: Boolean = true): DataFrame = {
    val schema = fired.schema
    val keys = keyCols(schema)
    val ik = keys.map(schema.fieldIndex)
    val iTs = schema.fieldIndex("bucket_ts")
    val iMart =
      if (schema.fieldNames.contains("mart")) schema.fieldIndex("mart") else -1
    val width = schema.length
    implicit val encKey: Encoder[Row] =
      Encoders.row(StructType(keys.map(schema(_))))
    implicit val encState: Encoder[Long] = Encoders.scalaLong
    val encOut: Encoder[Row] = Encoders.row(schema)
    // the watermark paces eviction in EVENT time: a processing-time
    // timeout would run continuous empty batches, while event-time
    // timeouts fire only when data advances the watermark — in the
    // signal clock the cooldown itself uses
    fired
      .withColumn("event_time", timestamp_seconds(col("bucket_ts")))
      .withWatermark("event_time", "1 second")
      .groupByKey(r => Row.fromSeq(ik.map(r.get)))
      .flatMapGroupsWithState[Long, Row](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) { (key, it, state) =>
        if (state.hasTimedOut) { state.remove(); Iterator.empty }
        else {
          val cd = cdOf(key.getString(1))
          var last = state.getOption.getOrElse(Long.MinValue)
          val out = it.toArray
            .sortBy(r =>
              (r.getLong(iTs), if (iMart < 0) "" else r.getString(iMart)))
            .filter { r =>
              val ts = r.getLong(iTs)
              val e = emits(last, cd, ts, strict)
              if (e) last = ts
              e
            }
          if (last != Long.MinValue) {
            state.update(last)
            // clamp above the current watermark: Spark rejects a timeout
            // behind it
            state.setTimeoutTimestamp(math.max((last + 2 * cd) * 1000L,
              state.getCurrentWatermarkMs() + 1000L))
          }
          out.iterator.map(r => Row.fromSeq(r.toSeq.take(width)))
        }
      }(encState, encOut)
  }

  /** The recursive DuckDB twin: CTEs `numbered` and `rec` over the
    * relation `src`, then the SELECT of the emitted rows — spliced after
    * the caller's `WITH RECURSIVE` CTE list. `keys` is the state key,
    * `carried` the other output columns (`mart` among them makes it the
    * tie-break), `cd` the cooldown seconds as an expression over the
    * numbered row `n`, `strict` the comparison. Callers keep `src`'s CTEs
    * MATERIALIZED: DuckDB re-inlines a plain CTE at every recursion step.
    */
  def sql(src: String, keys: Seq[String], carried: Seq[String], cd: String,
      strict: Boolean): String = {
    val order = "bucket_ts" +: carried.filter(_ == "mart")
    val cols = keys ++ carried :+ "bucket_ts"
    val cooled = s"n.bucket_ts ${if (strict) ">" else ">="} r.last_emit + $cd"
    s"""numbered AS MATERIALIZED (
       |  SELECT *, row_number() OVER (PARTITION BY ${keys.mkString(", ")}
       |    ORDER BY ${order.mkString(", ")}) AS rn
       |  FROM $src),
       |rec AS (
       |  SELECT ${cols.mkString(", ")}, rn,
       |         bucket_ts AS last_emit, TRUE AS emitted
       |  FROM numbered WHERE rn = 1
       |  UNION ALL
       |  SELECT ${cols.map("n." + _).mkString(", ")}, n.rn,
       |         CASE WHEN $cooled THEN n.bucket_ts ELSE r.last_emit END,
       |         $cooled
       |  FROM rec r JOIN numbered n
       |    ON ${keys.map(k => s"n.$k = r.$k").mkString(" AND ")}
       |    AND n.rn = r.rn + 1)
       |SELECT ${cols.mkString(", ")}
       |FROM rec WHERE emitted""".stripMargin
  }
}
