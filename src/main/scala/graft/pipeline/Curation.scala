package graft.pipeline

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-curation operators for LLM training-data pipelines, beyond the
  * dedup/similarity families: sequence packing (the concat-and-chunk
  * layout pretraining loaders use), deterministic stratified sampling
  * (language-balanced subcorpora), and benchmark decontamination (n-gram
  * overlap against a held-out eval slice).
  *
  * Scale design: packing and sampling are one window pass over each
  * shard/stratum — the partition key (source / lang) is the shuffle key a
  * 100 TB corpus is already laid out by. Decontamination broadcasts the
  * benchmark shingle set (eval suites are MBs, corpora are TBs), so the
  * corpus is scanned exactly once with no self-join.
  */
object Curation {
  private type Q = (SparkSession, String) => DataFrame

  /** Tokens per packed training sequence (the "context length" of the
    * packing layout; a power of two keeps chunk ids integral).
    */
  private val PackBudget = 512L

  /** p01 — sequence packing, concat-and-chunk: within each source shard,
    * documents are laid end-to-end in doc_id order and cut into
    * fixed-`PackBudget` chunks. Emits each doc's global token offset and
    * the first/last chunk it lands in — the index a training loader needs
    * to materialize sequence i without scanning the corpus. Exact integer
    * arithmetic end-to-end (window cumsum + integer division), so the
    * oracle matches bit-for-bit.
    */
  private val packChunks: Q = (s, dir) => {
    val before = Window.partitionBy(col("source")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    Tables.documents(s, dir)
      .withColumn("n_tokens", size(split(col("text"), " ")).cast("bigint"))
      .withColumn("tok_offset",
        coalesce(sum(col("n_tokens")).over(before), lit(0L)))
      .select(col("doc_id"), col("source"), col("n_tokens"), col("tok_offset"),
        expr(s"tok_offset DIV $PackBudget").as("chunk_first"),
        expr(s"(tok_offset + n_tokens - 1) DIV $PackBudget").as("chunk_last"))
      .withColumn("chunks_spanned", col("chunk_last") - col("chunk_first") + 1)
  }

  /** p12 — packing-efficiency report (the loader-side QA table for p01's
    * concat-and-chunk index): per source, the chunk count, the fraction
    * of documents CUT by a chunk boundary (each cut doc costs the model
    * a truncated context — the metric packing papers trade against
    * padding waste), the tail chunk's fill rate (concat-and-chunk's ONLY
    * waste), and mean docs per chunk. Derived entirely from [[packChunks]]'
    * own relation (ingredient reuse), aggregated per source as exact
    * integer sums with the divisions at the end — |sources| output rows
    * from one pass over the index.
    */
  private val packEfficiency: Q = (s, dir) => {
    def f6(c: Column) = floor(c * 1e6 + 0.5) / 1e6
    packChunks(s, dir)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("total_tokens"),
        (max(col("chunk_last")) + 1L).as("n_chunks"),
        sum(when(col("chunk_last") > col("chunk_first"), lit(1L))
          .otherwise(lit(0L))).as("docs_cut"))
      .select(col("source"), col("n_docs"), col("total_tokens"),
        col("n_chunks"), col("docs_cut"),
        f6(col("docs_cut").cast("double") /
          nullif(col("n_docs").cast("double"), lit(0.0))).as("cut_frac"),
        f6((col("total_tokens") - (col("n_chunks") - 1L) * PackBudget)
          .cast("double") / lit(PackBudget.toDouble)).as("tail_fill"),
        f6(col("n_docs").cast("double") /
          nullif(col("n_chunks").cast("double"), lit(0.0)))
          .as("docs_per_chunk"))
  }

  /** p02 — deterministic stratified sample: per language stratum, rank
    * docs by a Knuth multiplicative hash of doc_id and keep the top
    * ceil(20%) — a reproducible, seedless reservoir that any engine (or a
    * re-run on different hardware) selects identically. One window pass
    * per stratum; the stratum key is the shuffle key.
    */
  private val stratifiedSample: Q = (s, dir) => {
    val h = pmod(col("doc_id") * lit(2654435761L), lit(4294967296L))
    val byLang = Window.partitionBy(col("lang"))
    val rk = Window.partitionBy(col("lang")).orderBy(col("h"), col("doc_id"))
    Tables.documents(s, dir)
      .withColumn("h", h)
      .withColumn("stratum_docs", count(lit(1)).over(byLang))
      .withColumn("sample_rank", row_number().over(rk))
      .withColumn("quota",
        ceil(col("stratum_docs").cast("double") * lit(0.2)).cast("bigint"))
      .filter(col("sample_rank") <= col("quota"))
      .select(col("doc_id"), col("lang"), col("h"),
        col("sample_rank"), col("quota"), col("stratum_docs"))
  }

  /** p03 — source-mix rebalancing: subsample the corpus so the per-source
    * share matches a target weight vector, keeping as many documents as the
    * LIMITING source allows (the standard pretraining "data mixing" step).
    * With target weight w_s (out of W = Σw), the achievable corpus size is
    * N = min_s floor(avail_s·W / w_s) and each source keeps
    * quota_s = floor(N·w_s / W), chosen by the same deterministic
    * multiplicative-hash ranking as p02. All-integer arithmetic → exact
    * cross-engine parity. Scale shape: per-source stats are |sources| rows
    * (metadata), broadcast back; the corpus pays one window pass per
    * stratum on its existing source layout.
    */
  private val mixRebalance: Q = (s, dir) => {
    val weight = (regexp_extract(col("source"), "(\\d+)", 1).cast("bigint") % 5
      + lit(1L)).as("target_w")
    val d = Tables.documents(s, dir).withColumn("target_w", weight)
    val all = Window.partitionBy(lit(1))
    val stats = d.groupBy(col("source"), col("target_w"))
      .agg(count(lit(1)).as("avail"))
      .withColumn("total_w", sum(col("target_w")).over(all))
      .withColumn("cap", expr("avail * total_w DIV target_w"))
      .withColumn("n_total", min(col("cap")).over(all))
      .withColumn("quota", expr("n_total * target_w DIV total_w"))
      .select(col("source").as("src"), col("quota"), col("avail"))
    val byHash = Window.partitionBy(col("source"))
      .orderBy(col("h"), col("doc_id"))
    d.withColumn("h", pmod(col("doc_id") * lit(2654435761L), lit(4294967296L)))
      .withColumn("sample_rank", row_number().over(byHash))
      .join(broadcast(stats), col("source") === col("src"))
      .filter(col("sample_rank") <= col("quota"))
      .select(col("doc_id"), col("source"), col("target_w"),
        col("sample_rank").cast("bigint").as("sample_rank"),
        col("quota"), col("avail"))
  }

  /** p06 — temperature-scaled source mixing: the α = 0.5 "temperature
    * sampling" recipe multilingual pretraining mixes use (sampling weight
    * ∝ sizeᵅ — Arivazhagan et al. 2019 §5, XLM-R Conneau et al. 2020):
    * flattening the source-size distribution so head sources stop
    * drowning the tail, without p03's externally supplied target vector.
    * α = 0.5 is computed as the INTEGER weight w_s = floor(√avail_s) —
    * IEEE-754 requires sqrt be correctly rounded, so the weight (and
    * every downstream quota) is bit-identical across engines, unlike a
    * general powᵅ whose libm rounding differs. Budget = total/2 docs;
    * quota_s = min(avail_s, ⌈budget·w_s/W⌉) in pure integer arithmetic —
    * CEIL division (r13): the floor spelling hands quota 0 to every
    * source whenever budget·w < W, which silently empties small strata
    * (and, composed over a heavily-gated keep set as in p09, the whole
    * selection); ceil guarantees each weighted source a seat at the cost
    * of overshooting the budget by at most |sources| docs — immaterial
    * at corpus scale, decisive at the tail. Docs kept by the p02/p03
    * deterministic multiplicative-hash rank.
    * Scale shape: |sources| rows of stats broadcast back, one window
    * pass per source stratum on the corpus's existing source layout.
    */
  /** p06's temperature-quota selection over an ARBITRARY (doc_id,
    * source) frame — the one body the standalone entry and p09's
    * composed run share, so the composition cannot drift from the gate
    * that proves it (the f01d ingredient-reuse discipline).
    */
  private def temperatureSelect(d: DataFrame): DataFrame = {
    val all = Window.partitionBy(lit(1))
    val stats = d.groupBy(col("source"))
      .agg(count(lit(1)).as("avail"))
      .withColumn("w", floor(sqrt(col("avail").cast("double"))).cast("bigint"))
      .withColumn("sum_w", sum(col("w")).over(all))
      .withColumn("total", sum(col("avail")).over(all))
      .withColumn("quota",
        least(col("avail"),
          expr("(total DIV 2 * w + sum_w - 1) DIV sum_w")))
      .select(col("source").as("src"), col("avail"), col("w"), col("quota"))
    val byHash = Window.partitionBy(col("source"))
      .orderBy(col("h"), col("doc_id"))
    d.withColumn("h", pmod(col("doc_id") * lit(2654435761L), lit(4294967296L)))
      .withColumn("sample_rank", row_number().over(byHash).cast("bigint"))
      .join(broadcast(stats), col("source") === col("src"))
      .filter(col("sample_rank") <= col("quota"))
      .select(col("doc_id"), col("source"), col("avail"),
        col("w").as("target_w"), col("quota"), col("sample_rank"))
  }

  private val temperatureMix: Q = (s, dir) =>
    temperatureSelect(Tables.documents(s, dir).select(
      col("doc_id"), col("source")))

  /** Epoch cap for p10 — the Muennighoff et al. 2023 knee: up to ~4
    * epochs, repeated tokens are nearly as good as new ones; beyond it
    * returns decay rapidly, so a data-constrained mix never schedules a
    * 5th pass.
    */
  val MaxEpochs = 4L

  /** p10 — data-constrained repeat upweighting (Muennighoff et al. 2023,
    * "Scaling Data-Constrained Language Models"): when the training token
    * budget EXCEEDS the unique corpus, sources are repeated for multiple
    * epochs instead of the mix silently starving — the operator emits the
    * per-doc epoch manifest a data loader consumes.
    *
    * Budget B = 2× the unique corpus (the paper's data-constrained
    * regime), allocated across sources by p06's α = 0.5 temperature
    * weights — all in TOKEN units (tok = ⌈n_chars/4⌉, the chars-per-token
    * rule of thumb; doc counts are uniform across fixture sources, token
    * sums are not). Each source then serves target/avail FULL epochs plus
    * one partial epoch: the docs whose cumulative token offset (in the
    * p02/p03 multiplicative-hash order — deterministic, uniform) starts
    * inside the remainder get one extra pass. Epochs are capped at
    * [[MaxEpochs]], and the whole chain — ⌈·⌉ divisions, cumulative
    * offsets, the boundary test — is exact integer arithmetic (sqrt is
    * IEEE-correctly-rounded, p06's weight trick), so both engines select
    * identical epoch counts doc-for-doc.
    *
    * Scale shape: |sources| rows of stats broadcast back, one per-source
    * window pass for the cumulative offset on the corpus's existing
    * source layout — the same single-shuffle shape as p06.
    */
  /** p10's epoch selection over an ARBITRARY (doc_id, source, n_chars)
    * frame — the one body the standalone entry and p11's composed run
    * share (the temperatureSelect discipline).
    */
  private def repeatSelect(src: DataFrame): DataFrame = {
    val d = src.select(col("doc_id"), col("source"),
      expr("(n_chars + 3) DIV 4").as("tok"))
    val all = Window.partitionBy(lit(1))
    val stats = d.groupBy(col("source"))
      .agg(sum(col("tok")).as("avail_tok"))
      .withColumn("w",
        floor(sqrt(col("avail_tok").cast("double"))).cast("bigint"))
      .withColumn("sum_w", sum(col("w")).over(all))
      .withColumn("total", sum(col("avail_tok")).over(all))
      .withColumn("target_tok",
        least(col("avail_tok") * MaxEpochs,
          expr("(total * 2 * w + sum_w - 1) DIV sum_w")))
      .select(col("source").as("src"), col("avail_tok"), col("target_tok"))
    val byHash = Window.partitionBy(col("source"))
      .orderBy(col("h"), col("doc_id"))
    d.withColumn("h", pmod(col("doc_id") * lit(2654435761L), lit(4294967296L)))
      .withColumn("off", coalesce(sum(col("tok"))
        .over(byHash.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .join(broadcast(stats), col("source") === col("src"))
      .select(col("doc_id"), col("source"), col("tok"),
        col("avail_tok"), col("target_tok"),
        (expr("target_tok DIV avail_tok") +
          when(col("off") < col("target_tok") % col("avail_tok"), lit(1L))
            .otherwise(lit(0L))).as("epochs"))
  }

  private val repeatUpweight: Q = (s, dir) =>
    repeatSelect(Tables.documents(s, dir)
      .select(col("doc_id"), col("source"), col("n_chars")))

  /** p11 — the DATA-CONSTRAINED curation run: p09's DAG with p10's epoch
    * manifest as the selection stage — p05's keep set feeds the repeat-
    * upweighting allocator, so the output is the per-doc epoch schedule a
    * loader runs when the CLEANED corpus is smaller than the token budget
    * (the regime Muennighoff et al. 2023 studies: aggressive filtering +
    * repeats beats keeping junk). Both stages are the registered
    * operators' own bodies ([[curationManifest]] / [[repeatSelect]]) and
    * the oracle re-roots the standalone CTE chains at the kept set — the
    * p09/f01d discipline. Scale shape: the manifest materializes once
    * behind a barrier; the epoch pass is |sources| broadcast rows + one
    * source-keyed cumsum window.
    */
  private val repeatRun: Q = (s, dir) => {
    val kept = Tables.barrier(curationManifest(s, dir)
      .filter(col("keep")).select(col("doc_id")))
    repeatSelect(Tables.documents(s, dir)
      .join(kept, Seq("doc_id"), "left_semi")
      .select(col("doc_id"), col("source"), col("n_chars")))
  }

  /** c01 — benchmark decontamination: flag corpus docs sharing ≥2 distinct
    * 3-token shingles with the held-out benchmark slice (doc_id ≡ 0 mod
    * 97 stands in for the eval suite). The benchmark side explodes to its
    * shingle set and BROADCASTS — the corpus is scanned once, shingled
    * row-locally, and hash-joined; no corpus self-join, no shuffle of the
    * corpus beyond the final per-pair count.
    */
  private val contamination: Q = (s, dir) => {
    import graft.functions.TextHashCols.hashedWordShingles
    // 3-token shingles carried as 8-byte xxhash64 keys from the codegen'd
    // one-pass kernel (functions/TextHash.hashedWordShingles) — no string
    // is ever rebuilt and the explode + broadcast join move Longs. Join
    // semantics are identical modulo 64-bit collisions (~1e-7 at corpus
    // scale, the d02 inverted-index argument).
    // Doc-level projection computed ONCE per doc, Tables.barrier as the
    // optimizer barrier (the d02 lesson, Dedup.scala:77-88): without it
    // Catalyst hoists any column that must survive the explode
    // (n_shingles) into the Project ABOVE the Generate and re-evaluates
    // the whole shingle kernel once per exploded row — measured 135 s vs
    // 1 s at sf0.1.
    val docSh = Tables.barrier(Tables.documents(s, dir)
      .select(col("doc_id"), hashedWordShingles(col("text"), 3).as("ss"))
      .filter(col("ss").isNotNull)
      .withColumn("n_shingles", size(col("ss"))))
    val ex = docSh.select(col("doc_id"), explode(col("ss")).as("s"),
      col("n_shingles"))
    val bench = ex.filter(col("doc_id") % 97 === 0)
      .select(col("doc_id").as("bench_doc"), col("s"))
    val corpus = ex.filter(col("doc_id") % 97 =!= 0)
      .select(col("doc_id").as("corpus_doc"), col("s"), col("n_shingles"))
    corpus.join(broadcast(bench), "s")
      .groupBy(col("corpus_doc"), col("bench_doc"))
      .agg(count(lit(1)).as("n_shared"),
        max(col("n_shingles")).as("n_shingles"))
      .filter(col("n_shared") >= 2)
      .select(col("corpus_doc"), col("bench_doc"), col("n_shared"),
        round(col("n_shared").cast("double") /
          col("n_shingles").cast("double"), 6).as("contamination"))
  }

  /** c02 — bloom-filter decontamination: same answer as c01, produced the
    * way a 100 TB run does it. The benchmark shingle set folds into ONE
    * Bloom sketch (native Catalyst `BloomFilterAggregate` — a few MB for
    * an eval suite, vs broadcasting the full shingle table); the corpus
    * explosion then drops non-matching shingles ROW-LOCALLY
    * (`BloomFilterMightContain` on xxhash64, codegen'd, no join) before
    * the exact verify join — whose build side is bench-sized and whose
    * probe side is now only the shingles that might hit. Bloom false
    * positives die in the verify join, so the output is exactly c01's and
    * shares its oracle. This is Spark's own runtime-filter machinery
    * (InjectRuntimeFilter) applied as an explicit operator.
    */
  private val bloomDecontam: Q = (s, dir) => {
    import org.apache.spark.sql.GraftBridge
    import org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    import graft.functions.TextHashCols.hashedWordShingles
    val docSh = Tables.barrier(Tables.documents(s, dir)
      .select(col("doc_id"), hashedWordShingles(col("text"), 3).as("ss"))
      .filter(col("ss").isNotNull)
      .withColumn("n_shingles", size(col("ss"))))
    val ex = docSh.select(col("doc_id"), explode(col("ss")).as("s"),
      col("n_shingles"))
    val bench = ex.filter(col("doc_id") % 97 === 0)
      .select(col("doc_id").as("bench_doc"), col("s"))
    val sketch = bench.select(GraftBridge.column(
        new BloomFilterAggregate(
          GraftBridge.expression(col("s")), 1000000L)
          .toAggregateExpression()).as("bf"))
      .head.getAs[Array[Byte]](0)
    val corpus = ex.filter(col("doc_id") % 97 =!= 0)
      .filter(GraftBridge.column(BloomFilterMightContain(
        GraftBridge.expression(lit(sketch)),
        GraftBridge.expression(col("s")))))
      .select(col("doc_id").as("corpus_doc"), col("s"), col("n_shingles"))
    corpus.join(broadcast(bench), "s")
      .groupBy(col("corpus_doc"), col("bench_doc"))
      .agg(count(lit(1)).as("n_shared"),
        max(col("n_shingles")).as("n_shingles"))
      .filter(col("n_shared") >= 2)
      .select(col("corpus_doc"), col("bench_doc"), col("n_shared"),
        round(col("n_shared").cast("double") /
          col("n_shingles").cast("double"), 6).as("contamination"))
  }

  /** c03 n-gram length. GPT-3's decontamination (Brown et al. 2020,
    * appendix C) uses 13-gram collisions; the fixture's docs average 54
    * tokens with only short cross-doc repeats, so the fixture runs at 4 —
    * the operator is the same scan at any n.
    */
  private val DirtyN = 4

  /** c03 — per-document n-gram-overlap decontamination (the GPT-3 recipe):
    * a corpus doc is flagged when ANY of its n-grams appears anywhere in
    * the benchmark slice, and reports the dirty fraction — unlike c01/c02,
    * which score pairwise doc↔bench overlap, this scores each doc against
    * the UNION of benchmark n-grams (the set a training run actually
    * filters with). Every corpus doc is emitted, hit or not, so the
    * operator doubles as the keep/drop manifest.
    *
    * Scale shape: the benchmark n-gram set is distinct-ed and BROADCAST
    * (eval suites are MBs); the corpus is shingled row-locally by the
    * codegen'd kernel (8-byte xxhash64 keys, no strings move), hit-counted
    * in one map-side-combined aggregate on doc_id, and flag-joined back to
    * the doc projection — one corpus scan, no self-join.
    */
  private val ngramDecontam: Q = (s, dir) => {
    import graft.functions.TextHashCols.hashedWordShingles
    val docSh = Tables.barrier(Tables.documents(s, dir)
      .select(col("doc_id"), hashedWordShingles(col("text"), DirtyN).as("ss"))
      .filter(col("ss").isNotNull)
      .withColumn("n_grams", size(col("ss")).cast("bigint")))
    val bench = docSh.filter(col("doc_id") % 97 === 0)
      .select(explode(col("ss")).as("s")).distinct()
    val corpus = docSh.filter(col("doc_id") % 97 =!= 0)
    val hits = corpus.select(col("doc_id"), explode(col("ss")).as("s"))
      .join(broadcast(bench), Seq("s"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_dirty"))
    corpus.select(col("doc_id"), col("n_grams"))
      .join(hits, Seq("doc_id"), "left")
      .withColumn("n_dirty", coalesce(col("n_dirty"), lit(0L)))
      .select(col("doc_id"), col("n_grams"), col("n_dirty"),
        round(col("n_dirty").cast("double") /
          col("n_grams").cast("double"), 6).as("dirty_frac"),
        (col("n_dirty") > 0).as("flagged"))
  }

  /** Output shard count for the p04 manifest. 16 suits the ≤5k-doc driver
    * fixtures; a 100 TB run raises this to O(100k) shards — the operator
    * shape is unchanged because the only shuffle key IS the shard id, so
    * parallelism grows with the shard count.
    */
  private val NumShards = 16L

  /** p04 — training-shard manifest: the deterministic "global shuffle" a
    * pretraining run performs between curation and tokenization. Every doc
    * gets a pseudo-random rank (the same Knuth multiplicative hash as
    * p02/p03 — seedless, engine-independent), a shard assignment
    * `h mod S`, a position within its shard, and the shard-local token
    * offset a loader needs for random access. The pair (shard, position)
    * defines a global shuffled order WITHOUT any global sort: shard
    * assignment is row-local, and position/offset are one window pass
    * keyed by shard — S-way parallel, linear at any corpus size. All
    * integer arithmetic → bit-exact cross-engine parity.
    */
  /** p04's shard layout over an ARBITRARY (doc_id, text [, source])
    * frame — shared verbatim by the standalone entry and p09's composed
    * run. `keepSource` threads the source column through for consumers
    * that report it.
    */
  private def shardize(d: DataFrame, keepSource: Boolean = false): DataFrame = {
    val w = Window.partitionBy(col("shard")).orderBy(col("h"), col("doc_id"))
    val before = w.rowsBetween(Window.unboundedPreceding, -1)
    val src = if (keepSource) Seq(col("source")) else Nil
    d.withColumn("h", pmod(col("doc_id") * lit(2654435761L), lit(4294967296L)))
      .withColumn("shard", pmod(col("h"), lit(NumShards)))
      .withColumn("n_tokens", size(split(col("text"), " ")).cast("bigint"))
      .withColumn("position", row_number().over(w).cast("bigint"))
      .withColumn("tok_offset",
        coalesce(sum(col("n_tokens")).over(before), lit(0L)))
      .select(col("doc_id") +: src ++: Seq(col("shard"), col("h"),
        col("position"), col("n_tokens"), col("tok_offset")): _*)
  }

  private val shardManifest: Q = (s, dir) => shardize(Tables.documents(s, dir))

  /** p05 — the curation manifest: the composed keep/drop decision a
    * training-data run actually emits, one row per corpus doc with the
    * reason flags — exact duplicate (not the first occurrence of its md5),
    * near-duplicate non-survivor (d06's cluster-survivor rule: the doc
    * lost its near-dup cluster to a longer member — the fuzzy-dup drop
    * every published recipe performs beside the exact one, GPT-3 App. A /
    * RefinedWeb §3.3; r12 VERDICT #4), Gopher-gate failure (t06's rules),
    * LM-quality tail (t10's bottom tercile), bigram-LM tail (t20's bottom
    * tercile — the word-order-aware gate the unigram score cannot see:
    * shuffled or template-stitched text passes t10 but lands in t20's
    * tail; r11 VERDICT #6), benchmark contamination (c03's n-gram flag) —
    * and `keep` = none of the above.
    * Each ingredient REUSES the registered operator (same code, same
    * oracle CTEs), so the manifest cannot drift from the gates it
    * composes. Docs with fewer than two tokens carry no bigram evidence
    * and get `bigram_tail` = false (no score, no gate — t20's own
    * contract). The near-dup ingredient evaluates over d06's fixture
    * corpus (the clone union), so a corpus doc whose synthetic clone
    * out-lengths it is flagged — on this fixture that is the dominant
    * near_dup source (~1/3 of docs carry a longer clone), which is
    * exactly what exercises the flag at driver scale; keep-rate impact
    * is recorded in PLANS_r13.
    *
    * Scale shape: the dup pass is one window on the md5 key; the
    * near-dup pass is d06's (banded candidates → CC → one cluster
    * window); gopher is row-local; both LM terciles are broadcast
    * thresholds; contamination is the broadcast bench set — the
    * composition adds only doc_id-keyed joins, which co-partition after
    * the first shuffle.
    */
  /** The manifest frame as a [[graft.SharedStage]] behind a lazy
    * barrier: THREE registry entries consume the identical manifest (p05
    * itself, p09's kept set, p11's kept set), built from the full
    * six-flag composition (near-dup CC, two LM terciles,
    * decontamination). A real run emits the manifest once and every
    * downstream stage reads it.
    */
  private val manifestStage = graft.SharedStage[DataFrame]("Curation.manifest")
  private val curationManifest: Q = (s, dir) =>
    manifestStage(s, dir)(Tables.barrier(manifestBuild(s, dir)))

  private def manifestBuild(s: SparkSession, dir: String): DataFrame = {
    val corpus = Tables.documents(s, dir).filter(col("doc_id") % 97 =!= 0)
    val dupW = Window.partitionBy(col("m")).orderBy(col("doc_id"))
    val dup = corpus.select(col("doc_id"), md5(col("text")).as("m"))
      .withColumn("exact_dup", row_number().over(dupW) > 1)
      .select(col("doc_id"), col("exact_dup"))
    val nd = Dedup.queries("d06_dedup_survivors")(s, dir)
      .filter(col("survivor") === 0)
      .select(col("doc_id"), lit(true).as("near_dup"))
    val gop = Text.queries("t06_gopher_rules")(s, dir)
      .select(col("doc_id"), (col("gopher_pass") === 0).as("gopher_fail"))
    val lm = Text.queries("t10_quality_buckets")(s, dir)
      .select(col("doc_id"), (col("bucket") === "tail").as("lm_tail"))
    val bi = Text.queries("t20_bigram_lm")(s, dir)
    val biThr = bi.agg(
      (floor(expr("percentile(bi_logprob, 0.3333333333333333)") * 1e6 + 0.5)
        / 1e6).as("b_lo"))
    val bt = bi.crossJoin(broadcast(biThr))
      .select(col("doc_id"), (col("bi_logprob") < col("b_lo")).as("bigram_tail"))
    val con = ngramDecontam(s, dir)
      .select(col("doc_id"), col("flagged").as("contaminated"))
    corpus.select(col("doc_id"))
      .join(dup, Seq("doc_id"))
      .join(nd, Seq("doc_id"), "left")
      .join(gop, Seq("doc_id"))
      .join(lm, Seq("doc_id"))
      .join(bt, Seq("doc_id"), "left")
      .join(con, Seq("doc_id"), "left")
      .withColumn("near_dup", coalesce(col("near_dup"), lit(false)))
      .withColumn("bigram_tail", coalesce(col("bigram_tail"), lit(false)))
      .withColumn("contaminated", coalesce(col("contaminated"), lit(false)))
      .select(col("doc_id"), col("exact_dup"), col("near_dup"),
        col("gopher_fail"), col("lm_tail"), col("bigram_tail"),
        col("contaminated"),
        (!col("exact_dup") && !col("near_dup") && !col("gopher_fail") &&
          !col("lm_tail") && !col("bigram_tail") && !col("contaminated"))
          .as("keep"))
  }

  /** p07 — deterministic train/val/test split, the partition every
    * training run needs before anything else touches the corpus: doc →
    * one of train/val/test by a content-stable hash bucket
    * (md5-60(doc_id) mod 1000: buckets 0–49 test, 50–99 val, rest
    * train — 5/5/90). Hash-threshold rather than exact per-source
    * quotas is the 100 TB shape: the assignment is ROW-LOCAL (zero
    * shuffle, zero sort, no window), reproducible across reruns and
    * engine versions, and stable under corpus growth — a doc keeps its
    * split forever, so yesterday's val doc can never leak into
    * tomorrow's train set. Per-source proportions converge to 5/5/90 by
    * the hash's uniformity (p02 holds the exact-quota variant when a
    * fixed sample SIZE is the contract). Keying the hash on doc_id
    * splits by DOCUMENT; a pipeline that must keep near-duplicates
    * together keys the same hash on a canopy id (d03/d05's component
    * key) instead — same plan shape.
    */
  private val hashSplit: Q = (s, dir) => {
    val h = pmod(Dedup.md5Hash60(col("doc_id").cast("string")), lit(1000L))
    Tables.documents(s, dir)
      .select(col("doc_id"), col("source"), h.as("bucket"),
        when(h < 50, "test").when(h < 100, "val").otherwise("train")
          .as("split"))
  }

  /** p09 — the composed curation RUN (the pipeline family's f02
    * analogue; r12 VERDICT #3): the end-to-end DAG an actual
    * training-data run executes between raw corpus and tokenizer —
    * p05's keep set → p06's temperature quotas over the KEPT docs →
    * p04's shard manifest over the selected docs — as ONE relation.
    * Every stage is the registered operator's own body
    * ([[curationManifest]] / [[temperatureSelect]] / [[shardize]] —
    * the same functions the standalone entries call), and the oracle
    * re-roots the standalone CTE chains at the kept set, so the
    * composition cannot drift from its proven ingredients (the
    * f01d/f02 discipline).
    *
    * Scale shape: the manifest (the expensive half — near-dup CC, LM
    * terciles, decontamination) materializes ONCE behind a barrier
    * (PlanSpec pins that none of its machinery reappears in this
    * plan); the quota pass is |sources| broadcast rows + one window on
    * the source layout; the shard pass is one window on the shard key.
    * Nothing downstream of the keep set is more than doc_id-keyed
    * joins and two stratified windows — at 100 TB the run costs the
    * manifest plus two linear passes.
    */
  private val curationRun: Q = (s, dir) => {
    val kept = Tables.barrier(curationManifest(s, dir)
      .filter(col("keep")).select(col("doc_id")))
    val docs = Tables.documents(s, dir)
      .join(kept, Seq("doc_id"), "left_semi")
    val selected = temperatureSelect(docs.select(col("doc_id"), col("source")))
      .select(col("doc_id"))
    shardize(docs.select(col("doc_id"), col("source"), col("text"))
      .join(selected, Seq("doc_id"), "left_semi"), keepSource = true)
  }

  val queries: Map[String, Q] = Map(
    "p01_pack_chunks" -> packChunks,
    "p12_pack_efficiency" -> packEfficiency,
    "p02_stratified_sample" -> stratifiedSample,
    "p03_mix_rebalance" -> mixRebalance,
    "p04_shard_manifest" -> shardManifest,
    "p06_temperature_mix" -> temperatureMix,
    "p10_repeat_upweight" -> repeatUpweight,
    "p07_hash_split" -> hashSplit,
    "c01_contamination" -> contamination,
    "c02_bloom_decontam" -> bloomDecontam,
    "c03_ngram_decontam" -> ngramDecontam,
    "p05_curation_manifest" -> curationManifest,
    "p09_curation_run" -> curationRun,
    "p11_repeat_run" -> repeatRun)

  val oracle: Map[String, String] = Map(
    "p07_hash_split" ->
      // the md5-60 parse twin (Dedup.md5Hash60): both engines hash the
      // decimal string image of doc_id, so the bucket is byte-defined
      """SELECT doc_id, source, bucket,
        |  CASE WHEN bucket < 50 THEN 'test'
        |       WHEN bucket < 100 THEN 'val'
        |       ELSE 'train' END AS split
        |FROM (
        |  SELECT doc_id, source,
        |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
        |      % 1000 AS bucket
        |  FROM documents)""".stripMargin,
    "p01_pack_chunks" ->
      s"""WITH sized AS (
         |  SELECT doc_id, source,
         |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
         |  FROM documents),
         |offs AS (
         |  SELECT doc_id, source, n_tokens,
         |    CAST(coalesce(sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS tok_offset
         |  FROM sized)
         |SELECT doc_id, source, n_tokens, tok_offset,
         |  tok_offset // $PackBudget AS chunk_first,
         |  (tok_offset + n_tokens - 1) // $PackBudget AS chunk_last,
         |  (tok_offset + n_tokens - 1) // $PackBudget - tok_offset // $PackBudget + 1
         |    AS chunks_spanned
         |FROM offs""".stripMargin,
    "p12_pack_efficiency" ->
      // p01's chain re-rooted, integer sums, divisions at the end
      s"""WITH sized AS (
         |  SELECT doc_id, source,
         |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
         |  FROM documents),
         |offs AS (
         |  SELECT doc_id, source, n_tokens,
         |    CAST(coalesce(sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS tok_offset
         |  FROM sized),
         |idx AS (
         |  SELECT source, n_tokens,
         |    tok_offset // $PackBudget AS chunk_first,
         |    (tok_offset + n_tokens - 1) // $PackBudget AS chunk_last
         |  FROM offs),
         |agg AS (
         |  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         |    CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
         |    CAST(max(chunk_last) + 1 AS BIGINT) AS n_chunks,
         |    CAST(sum(CASE WHEN chunk_last > chunk_first THEN 1 ELSE 0 END)
         |      AS BIGINT) AS docs_cut
         |  FROM idx GROUP BY 1)
         |SELECT source, n_docs, total_tokens, n_chunks, docs_cut,
         |  floor(CAST(docs_cut AS DOUBLE) /
         |    nullif(CAST(n_docs AS DOUBLE), 0.0) * 1e6 + 0.5) / 1e6
         |    AS cut_frac,
         |  floor(CAST(total_tokens - (n_chunks - 1) * $PackBudget AS DOUBLE)
         |    / ${PackBudget}e0 * 1e6 + 0.5) / 1e6 AS tail_fill,
         |  floor(CAST(n_docs AS DOUBLE) /
         |    nullif(CAST(n_chunks AS DOUBLE), 0.0) * 1e6 + 0.5) / 1e6
         |    AS docs_per_chunk
         |FROM agg""".stripMargin,
    "p02_stratified_sample" ->
      """WITH hashed AS (
        |  SELECT doc_id, lang, (doc_id * 2654435761) % 4294967296 AS h,
        |    CAST(count(*) OVER (PARTITION BY lang) AS BIGINT) AS stratum_docs,
        |    CAST(row_number() OVER (PARTITION BY lang
        |      ORDER BY (doc_id * 2654435761) % 4294967296, doc_id) AS BIGINT)
        |      AS sample_rank
        |  FROM documents)
        |SELECT doc_id, lang, h, sample_rank,
        |  CAST(ceil(CAST(stratum_docs AS DOUBLE) * 0.2) AS BIGINT) AS quota,
        |  stratum_docs
        |FROM hashed
        |WHERE sample_rank <= CAST(ceil(CAST(stratum_docs AS DOUBLE) * 0.2) AS BIGINT)""".stripMargin,
    "p03_mix_rebalance" ->
      """WITH weighted AS (
        |  SELECT doc_id, source,
        |    CAST(regexp_extract(source, '(\d+)', 1) AS BIGINT) % 5 + 1
        |      AS target_w,
        |    (doc_id * 2654435761) % 4294967296 AS h
        |  FROM documents),
        |stats AS (
        |  SELECT source, target_w, CAST(count(*) AS BIGINT) AS avail
        |  FROM weighted GROUP BY 1, 2),
        |quotas AS (
        |  SELECT source, avail,
        |    min(avail * sum_w // target_w) OVER () * target_w // sum_w AS quota
        |  FROM (SELECT *, CAST(sum(target_w) OVER () AS BIGINT) AS sum_w
        |        FROM stats)),
        |ranked AS (
        |  SELECT doc_id, source, target_w,
        |    CAST(row_number() OVER (PARTITION BY source ORDER BY h, doc_id)
        |      AS BIGINT) AS sample_rank
        |  FROM weighted)
        |SELECT doc_id, ranked.source, target_w, sample_rank, quota, avail
        |FROM ranked JOIN quotas ON ranked.source = quotas.source
        |WHERE sample_rank <= quota""".stripMargin,
    "p04_shard_manifest" ->
      s"""WITH ${shardSqlCtes("documents", "", withSource = false)}
         |SELECT doc_id, shard, h, position, n_tokens, tok_offset
         |FROM shardt""".stripMargin,
    "p06_temperature_mix" ->
      s"""WITH ${tempMixSqlCtes("documents", "")}
         |SELECT doc_id, source, avail, target_w, quota, sample_rank
         |FROM sel""".stripMargin,
    "p10_repeat_upweight" ->
      s"""WITH ${repeatSqlCtes("documents", "")}
         |SELECT doc_id, source, tok, avail_tok, target_tok, epochs
         |FROM rep""".stripMargin,
    "p11_repeat_run" ->
      // the data-constrained run: the p05 manifest chain VERBATIM,
      // re-rooted — kept docs feed p10's epoch chain (repeatSqlCtes over
      // `kept`), the p09/f01d ingredient-reuse discipline
      s"""WITH RECURSIVE $ManifestCtes,
         |kept AS (
         |  SELECT d.doc_id, d.source, d.n_chars
         |  FROM manifest m JOIN documents d ON m.doc_id = d.doc_id
         |  WHERE m.keep),
         |${repeatSqlCtes("kept", "k")}
         |SELECT doc_id, source, tok, avail_tok, target_tok, epochs
         |FROM krep""".stripMargin,
    "p05_curation_manifest" ->
      s"""WITH RECURSIVE $ManifestCtes
         |SELECT doc_id, exact_dup, near_dup, gopher_fail, lm_tail,
         |  bigram_tail, contaminated, keep
         |FROM manifest""".stripMargin,
    "p09_curation_run" ->
      // the composed run: the p05 manifest chain VERBATIM, re-rooted —
      // kept docs feed p06's quota chain (tempMixSqlCtes over `kept`),
      // whose selection feeds p04's shard chain (shardSqlCtes over the
      // chosen docs) — the same re-use-the-ingredient-CTEs discipline as
      // f01d, so the three stages cannot drift from their standalone
      // oracles
      s"""WITH RECURSIVE $ManifestCtes,
         |kept AS (
         |  SELECT d.doc_id, d.source, d.text
         |  FROM manifest m JOIN documents d ON m.doc_id = d.doc_id
         |  WHERE m.keep),
         |${tempMixSqlCtes("kept", "k")},
         |chosen AS (
         |  SELECT s.doc_id, s.source, k.text
         |  FROM ksel s JOIN kept k ON s.doc_id = k.doc_id),
         |${shardSqlCtes("chosen", "k", withSource = true)}
         |SELECT doc_id, source, shard, h, position, n_tokens, tok_offset
         |FROM kshardt""".stripMargin,
    "c03_ngram_decontam" ->
      s"""WITH toks AS (
         |  SELECT doc_id, string_split(text, ' ') AS t FROM documents),
         |sh AS (
         |  SELECT doc_id,
         |    list_distinct(list_transform(range(1, len(t) - ${DirtyN - 2}),
         |      i -> array_to_string(t[i:i+${DirtyN - 1}], ' '))) AS ss
         |  FROM toks WHERE len(t) >= $DirtyN),
         |bench AS (
         |  SELECT DISTINCT unnest(ss) AS s FROM sh WHERE doc_id % 97 = 0),
         |corpus AS (
         |  SELECT doc_id, CAST(len(ss) AS BIGINT) AS n_grams, ss
         |  FROM sh WHERE doc_id % 97 <> 0),
         |hits AS (
         |  SELECT c.doc_id, CAST(count(*) AS BIGINT) AS n_dirty
         |  FROM (SELECT doc_id, unnest(ss) AS s FROM corpus) c
         |  JOIN bench USING (s)
         |  GROUP BY 1)
         |SELECT c.doc_id, c.n_grams,
         |  coalesce(h.n_dirty, 0) AS n_dirty,
         |  round(CAST(coalesce(h.n_dirty, 0) AS DOUBLE) /
         |    CAST(c.n_grams AS DOUBLE), 6) AS dirty_frac,
         |  coalesce(h.n_dirty, 0) > 0 AS flagged
         |FROM corpus c LEFT JOIN hits h USING (doc_id)""".stripMargin,
    "c01_contamination" -> DECONTAM_SQL,
    // c02 is the same relation computed through a Bloom prefilter; false
    // positives are removed by the exact verify join, so one oracle fits both
    "c02_bloom_decontam" -> DECONTAM_SQL)

  /** p06's oracle chain over an arbitrary (doc_id, source) relation
    * `src`, CTE names prefixed with `p` so it composes (ends in
    * `<p>sel` = the selected docs with their quota columns). ONE
    * spelling for the standalone entry and p09.
    */
  private def tempMixSqlCtes(src: String, p: String): String =
    s"""${p}stats AS (
       |  SELECT source, CAST(count(*) AS BIGINT) AS avail
       |  FROM $src GROUP BY 1),
       |${p}wts AS (
       |  SELECT source, avail, CAST(floor(sqrt(avail)) AS BIGINT) AS w
       |  FROM ${p}stats),
       |${p}quotas AS (
       |  SELECT source, avail, w,
       |    least(avail, (tot // 2 * w + sw - 1) // sw) AS quota
       |  FROM (SELECT *, CAST(sum(avail) OVER () AS BIGINT) AS tot,
       |               CAST(sum(w) OVER () AS BIGINT) AS sw
       |        FROM ${p}wts)),
       |${p}ranked AS (
       |  SELECT doc_id, source,
       |    CAST(row_number() OVER (PARTITION BY source
       |      ORDER BY (doc_id * 2654435761) % 4294967296, doc_id) AS BIGINT)
       |      AS sample_rank
       |  FROM $src),
       |${p}sel AS (
       |  SELECT doc_id, ${p}ranked.source, avail, w AS target_w, quota,
       |    sample_rank
       |  FROM ${p}ranked JOIN ${p}quotas
       |    ON ${p}ranked.source = ${p}quotas.source
       |  WHERE sample_rank <= quota)""".stripMargin

  /** p10's oracle chain over an arbitrary (doc_id, source, n_chars)
    * relation `src`, prefixed like [[tempMixSqlCtes]] (ends in `<p>rep` =
    * the per-doc epoch manifest). ONE spelling for the standalone entry
    * and p11.
    */
  private def repeatSqlCtes(src: String, p: String): String =
    s"""${p}rd AS MATERIALIZED (
       |  SELECT doc_id, source, (n_chars + 3) // 4 AS tok,
       |         (doc_id * 2654435761) % 4294967296 AS h
       |  FROM $src),
       |${p}rstats AS MATERIALIZED (
       |  SELECT source, avail_tok,
       |    least(avail_tok * $MaxEpochs,
       |      (tot * 2 * w + sw - 1) // sw) AS target_tok
       |  FROM (SELECT *, CAST(sum(avail_tok) OVER () AS BIGINT) AS tot,
       |               CAST(sum(w) OVER () AS BIGINT) AS sw
       |        FROM (
       |    SELECT source, CAST(sum(tok) AS BIGINT) AS avail_tok,
       |           CAST(floor(sqrt(CAST(sum(tok) AS BIGINT))) AS BIGINT) AS w
       |    FROM ${p}rd GROUP BY 1))),
       |${p}roffs AS (
       |  SELECT doc_id, source, tok,
       |    CAST(coalesce(sum(tok) OVER (PARTITION BY source
       |      ORDER BY h, doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |      AS BIGINT) AS off
       |  FROM ${p}rd),
       |${p}rep AS (
       |  SELECT o.doc_id, o.source, o.tok, s.avail_tok, s.target_tok,
       |    s.target_tok // s.avail_tok +
       |      CASE WHEN o.off < s.target_tok % s.avail_tok THEN 1 ELSE 0 END
       |      AS epochs
       |  FROM ${p}roffs o JOIN ${p}rstats s USING (source))""".stripMargin

  /** p04's oracle chain over an arbitrary (doc_id, text [, source])
    * relation `src`, prefixed like [[tempMixSqlCtes]] (ends in
    * `<p>shardt` = the shard manifest).
    */
  private def shardSqlCtes(src: String, p: String,
      withSource: Boolean): String = {
    val sc = if (withSource) " source," else ""
    s"""${p}hashedt AS (
       |  SELECT doc_id,$sc (doc_id * 2654435761) % 4294967296 AS h,
       |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
       |  FROM $src),
       |${p}shardt AS (
       |  SELECT doc_id,$sc h % $NumShards AS shard, h,
       |    CAST(row_number() OVER (PARTITION BY h % $NumShards
       |      ORDER BY h, doc_id) AS BIGINT) AS position,
       |    n_tokens,
       |    CAST(coalesce(sum(n_tokens) OVER (PARTITION BY h % $NumShards
       |      ORDER BY h, doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
       |      AS tok_offset
       |  FROM ${p}hashedt)""".stripMargin
  }

  /** The p05 manifest as a reusable CTE chain ending in `manifest`
    * (doc_id + every reason flag + keep). Opens with d06's RECURSIVE
    * component chain, so the enclosing query must say WITH RECURSIVE.
    * Shared verbatim by the p05 entry and p09's composed run.
    */
  private lazy val ManifestCtes: String =
    s"""${Dedup.D06Ctes},
       |corp AS (
       |  SELECT doc_id, text FROM documents WHERE doc_id % 97 <> 0),
       |dup AS (
       |  SELECT doc_id, row_number() OVER (PARTITION BY md5(text)
       |    ORDER BY doc_id) > 1 AS exact_dup
       |  FROM corp),
       |ndup AS (SELECT doc_id FROM d06s WHERE survivor = 0),
       |${Text.GopherFeatCte},
       |gop AS (
       |  SELECT doc_id, NOT (${Text.GopherPassSql}) AS gopher_fail
       |  FROM feat),
       |${Text.LmScoredCtes},
       |${Text.LmThrCte},
       |${Text.BiScoredCtes},
       |${Text.BiThrCte},
       |toks4 AS (
       |  SELECT doc_id, string_split(text, ' ') AS t FROM documents),
       |sh4 AS (
       |  SELECT doc_id,
       |    list_distinct(list_transform(range(1, len(t) - ${DirtyN - 2}),
       |      i -> array_to_string(t[i:i+${DirtyN - 1}], ' '))) AS ss
       |  FROM toks4 WHERE len(t) >= $DirtyN),
       |bench4 AS (
       |  SELECT DISTINCT unnest(ss) AS s FROM sh4 WHERE doc_id % 97 = 0),
       |hits4 AS (
       |  SELECT c.doc_id, CAST(count(*) AS BIGINT) AS n_dirty
       |  FROM (SELECT doc_id, unnest(ss) AS s FROM sh4
       |        WHERE doc_id % 97 <> 0) c
       |  JOIN bench4 USING (s)
       |  GROUP BY 1),
       |manifest AS (
       |  SELECT c.doc_id, d.exact_dup,
       |    (nd.doc_id IS NOT NULL) AS near_dup,
       |    g.gopher_fail,
       |    (s.lm_logprob < thr.t_lo) AS lm_tail,
       |    coalesce(b.bi_logprob < bithr.b_lo, FALSE) AS bigram_tail,
       |    coalesce(h.n_dirty > 0, FALSE) AS contaminated,
       |    (NOT d.exact_dup AND nd.doc_id IS NULL AND NOT g.gopher_fail
       |      AND NOT (s.lm_logprob < thr.t_lo)
       |      AND NOT coalesce(b.bi_logprob < bithr.b_lo, FALSE)
       |      AND NOT coalesce(h.n_dirty > 0, FALSE)) AS keep
       |  FROM corp c
       |  JOIN dup d ON c.doc_id = d.doc_id
       |  LEFT JOIN ndup nd ON c.doc_id = nd.doc_id
       |  JOIN gop g ON c.doc_id = g.doc_id
       |  JOIN scored s ON c.doc_id = s.doc_id
       |  CROSS JOIN thr
       |  LEFT JOIN biscored b ON c.doc_id = b.doc_id
       |  CROSS JOIN bithr
       |  LEFT JOIN hits4 h ON c.doc_id = h.doc_id)""".stripMargin

  private lazy val DECONTAM_SQL: String =
    """WITH toks AS (
      |  SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      |sh AS (
      |  SELECT doc_id,
      |    list_distinct(list_transform(range(1, len(t) - 1),
      |      i -> array_to_string(t[i:i+2], ' '))) AS ss
      |  FROM toks WHERE len(t) >= 3),
      |ex AS (
      |  SELECT doc_id, CAST(len(ss) AS BIGINT) AS n_shingles, unnest(ss) AS s
      |  FROM sh)
      |SELECT c.doc_id AS corpus_doc, b.doc_id AS bench_doc,
      |  CAST(count(*) AS BIGINT) AS n_shared,
      |  round(CAST(count(*) AS DOUBLE) / CAST(max(c.n_shingles) AS DOUBLE), 6)
      |    AS contamination
      |FROM (SELECT * FROM ex WHERE doc_id % 97 <> 0) c
      |JOIN (SELECT * FROM ex WHERE doc_id % 97 = 0) b ON c.s = b.s
      |GROUP BY 1, 2
      |HAVING count(*) >= 2""".stripMargin
}
