package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scaling-fixture generator (SURVEY §7 stage 8 / round-4 VERDICT item 2):
  * writes an N× statistically-matched copy of the driver testdata's
  * pipeline-relevant tables so the bench can produce a second
  * scale-factor datapoint ABOVE sf0.1 — turning the "linear at 100 TB"
  * plan-shape claims into measured slopes.
  *
  * `ScaleGen <baseDir> <outDir> <factor> [skew]`
  *
  * With the optional `skew` mode (round-7 VERDICT ask: the uniform
  * corpora left the skew story unmeasured), the clones are Zipf-shaped
  * instead of statistically matched:
  *  - events: copy k remaps its symbols onto a head of `symbols >> k`
  *    survivors (hash-assigned), so per-symbol volume follows a
  *    geometric/zipf tail — the head symbol accumulates ~factor× history
  *    depth AND the merged per-bar trade flow of its donors, while the
  *    tail keeps only the base year. This is the hot-symbol axis that
  *    stresses per-symbol windows, the corpus's (symbol, rule) cooldown
  *    groups, and AQE's skew handling.
  *  - documents: clone token counts multiply by a capped power-law boost
  *    (P(boost ≥ b) ~ 1/b, cap 32×) — the long-document axis that
  *    stresses shingle explode fan-out and d11's window-hash index.
  *  - embeddings: unchanged from uniform mode (cluster structure is the
  *    ANN-relevant property; vector-count skew has no meaning there).
  *
  * Copy 0 is the original data verbatim (the generated set is a strict
  * superset); copies 1..N-1 are deterministic (xxhash64-seeded, no RNG
  * state) and, in the default mode, statistically matched:
  *  - documents: same vocabulary, same per-doc token-count distribution
  *    (template = base doc id mod |base|), fresh pseudo-random token
  *    streams — so shingle/minhash statistics match the base corpus while
  *    cross-copy docs are genuinely distinct (a naive N× text replication
  *    would make every doc a 10-way near-duplicate and turn the dedup
  *    pair space quadratic, which is a DIFFERENT problem than scale-up).
  *  - embeddings: base vector of (id mod |base|) plus ±1% deterministic
  *    per-component noise — cluster structure preserved for the
  *    IVF/LSH-bucketed ANN paths.
  *  - events: time-shifted full copies (k × 366 days), ids offset — same
  *    symbol set with N× history depth, which is exactly how the candle
  *    fact grows in production (f01's trailing-window cut should make the
  *    indicator stage ~flat while the roll-ups scale with history).
  */
object ScaleGen {
  def main(args: Array[String]): Unit = {
    val base = args(0)
    val out = args(1)
    val factor = args(2).toInt
    val skew = args.length > 3 && args(3) == "skew"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = SparkEntry.configure(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // ---- documents -----------------------------------------------------
    val docs = spark.read.parquet(s"$base/documents.parquet")
    val vocab = docs.select(explode(split(col("text"), " ")).as("t"))
      .filter(col("t") =!= "").distinct()
      .collect().map(_.getString(0)).sorted
    val vlit = array(vocab.map(lit(_)): _*)
    val nDocs = docs.count()
    val templates = docs.select(col("doc_id").as("bid"),
      size(split(col("text"), " ")).as("nt"), col("lang"), col("source"))
    val IdStride = 10000000L // clone offsets (+1e6) stay inside a copy's band
    val synth = (1 until factor).map { k =>
      spark.range(nDocs).toDF("seq")
        .withColumn("bid", col("seq"))
        .withColumn("doc_id", col("seq") + lit(k * IdStride))
        .join(templates, "bid")
        .withColumn("nt",
          if (!skew) col("nt")
          else (col("nt") * least(lit(32L), greatest(lit(1L),
            floor(lit(300.0) /
              (pmod(xxhash64(col("doc_id")), lit(1000)).cast("double") + 1.0))
              .cast("long")))).cast("int"))
        .withColumn("text", array_join(
          transform(sequence(lit(1), col("nt")),
            j => element_at(vlit,
              pmod(xxhash64(col("doc_id"), j), lit(vocab.length))
                .cast("int") + 1)), " "))
        .withColumn("n_chars", length(col("text")))
        .select(col("doc_id"), col("text"), col("lang"), col("source"),
          col("n_chars"))
    }.foldLeft(docs.select("doc_id", "text", "lang", "source", "n_chars"))(
      _.unionByName(_))
    synth.repartition(8).write.mode("overwrite")
      .parquet(s"$out/documents.parquet")

    // ---- embeddings ----------------------------------------------------
    val emb = spark.read.parquet(s"$base/embeddings.parquet")
    val nVec = emb.count()
    val scaledEmb = (1 until factor).map { k =>
      spark.range(nVec).toDF("seq")
        .withColumn("vec_id", col("seq") + lit(k * IdStride))
        .join(emb.select(col("vec_id").as("seq"), col("embedding"),
          col("label")), "seq")
        .withColumn("embedding", transform(col("embedding"),
          (x, d) => (x + (pmod(xxhash64(col("vec_id"), d), lit(1000))
            .cast("double") / 1000.0 - 0.5) * 0.02).cast("float")))
        .select(col("vec_id"), col("embedding"), col("label"))
    }.foldLeft(emb.select("vec_id", "embedding", "label"))(_.unionByName(_))
    scaledEmb.repartition(8).write.mode("overwrite")
      .parquet(s"$out/embeddings.parquet")

    // ---- events --------------------------------------------------------
    // Tables.events normalizes ts to epoch-nanos Long whatever the file's
    // physical encoding; the 366-day shift is minute-aligned so candle
    // bucketing stays exact. Output ts is therefore Long nanos, which the
    // normalizer passes through on re-read.
    val events = Tables.events(spark, base)
    val ShiftNanos = 366L * 86400L * 1000000000L
    val userType = events.schema("user_id").dataType
    val nSyms = events.agg(max(col("user_id"))).head().get(0)
      .toString.toLong + 1L
    val scaledEvents = (1 until factor).map { k =>
      val shifted = events
        .withColumn("event_id", col("event_id") + lit(k * 1000000000L))
        .withColumn("ts", col("ts") + lit(k * ShiftNanos))
      if (!skew) shifted
      else {
        // copy k survives on symbols >> k head slots: donors merge into
        // the head symbols' bars (hot-symbol flow) while the head keeps
        // accumulating history copies — a geometric (zipf-tail) profile
        val head = math.max(1L, nSyms >> k)
        shifted.withColumn("user_id",
          pmod(xxhash64(col("user_id"), lit(k)), lit(head)).cast(userType))
      }
    }.foldLeft(events)(_.unionByName(_))
    scaledEvents.repartition(16).write.mode("overwrite")
      .parquet(s"$out/events.parquet")

    println(s"[scalegen] wrote ${factor}x of $base to $out: " +
      s"docs=${nDocs * factor} vecs=${nVec * factor} " +
      s"events=${events.count() * factor}")
    // release the shared stages' checkpoint blocks of the dirs this
    // session served before regenerating them
    SharedStage.invalidateAll()
    spark.stop()
  }
}
