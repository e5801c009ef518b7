package graft.pipeline

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis operators for training-data pipelines: language ID
  * (stopword-hit heuristic), quality scoring, token statistics, and
  * document fingerprinting. All pure column expressions — one scan, no
  * shuffle except the grouped stats — with DuckDB oracles.
  */
object Text {
  private type Q = (SparkSession, String) => DataFrame

  private val stop: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "of", "and", "to"),
    "de" -> Seq("der", "die", "das", "und", "ist"),
    "fr" -> Seq("le", "la", "les", "et", "est"),
    "es" -> Seq("el", "los", "una", "y", "es"),
    "zh" -> Seq("的", "了", "是", "在", "和"))

  private def toks(c: Column): Column = split(c, " ")

  private def hitRate(tokens: Column, words: Seq[String]): Column =
    size(filter(tokens, t => words.map(t === _).reduce(_ || _))).cast("double") /
      nullif(size(tokens).cast("double"), lit(0.0))

  /** T1 — language ID: stopword hit-rate per language, argmax with a fixed
    * priority ladder (en→de→fr→es→zh on ties).
    */
  private val langid: Q = (s, dir) => {
    val langs = Seq("en", "de", "fr", "es", "zh")
    val base = Tables.documents(s, dir)
      .withColumn("tk", toks(col("text")))
    val rated = langs.foldLeft(base) { (df, l) =>
      df.withColumn(s"r_$l", hitRate(col("tk"), stop(l)))
    }
    val best = langs.tail.foldLeft((col("r_en"), lit("en"))) {
      case ((bestRate, bestLang), l) =>
        (when(col(s"r_$l") > bestRate, col(s"r_$l")).otherwise(bestRate),
          when(col(s"r_$l") > bestRate, lit(l)).otherwise(bestLang))
    }
    rated.select(col("doc_id"), col("lang").as("actual"),
      best._2.as("predicted"),
      round(col("r_en"), 6).as("rate_en"),
      (best._2 === col("lang")).cast("int").as("hit"))
  }

  /** T2 — quality scoring: length, token, stopword and diversity features
    * folded into a 0–100 score.
    */
  private val quality: Q = (s, dir) =>
    Tables.documents(s, dir)
      .withColumn("tk", toks(col("text")))
      .withColumn("n_tokens", size(col("tk")))
      .withColumn("mean_tok_len",
        aggregate(transform(col("tk"), t => length(t)), lit(0),
          (a, x) => a + x).cast("double") /
          nullif(col("n_tokens").cast("double"), lit(0.0)))
      .withColumn("stop_ratio", hitRate(col("tk"), stop("en")))
      .withColumn("distinct_ratio",
        size(array_distinct(col("tk"))).cast("double") /
          nullif(col("n_tokens").cast("double"), lit(0.0)))
      .withColumn("score",
        lit(100.0) * (lit(0.25) * least(col("n_tokens").cast("double") / 50.0, lit(1.0)) +
          lit(0.25) * least(col("mean_tok_len") / 6.0, lit(1.0)) +
          lit(0.25) * (lit(1.0) - col("stop_ratio")) +
          lit(0.25) * col("distinct_ratio")))
      .select(col("doc_id"), col("n_tokens"),
        round(col("mean_tok_len"), 6).as("mean_tok_len"),
        round(col("stop_ratio"), 6).as("stop_ratio"),
        round(col("distinct_ratio"), 6).as("distinct_ratio"),
        round(col("score"), 6).as("quality_score"))

  /** T3 — corpus token statistics per source (grouped aggregation over the
    * token explosion; partial aggregation keeps the shuffle at
    * one-row-per-(source,stat)).
    */
  private val tokenStats: Q = (s, dir) => {
    val d = Tables.documents(s, dir)
      .withColumn("tk", toks(col("text")))
    d.groupBy(col("source"))
      .agg(
        count(lit(1)).as("docs"),
        sum(size(col("tk"))).cast("bigint").as("total_tokens"),
        round(avg(size(col("tk")).cast("double")), 6).as("avg_tokens_per_doc"),
        sum(col("n_chars")).as("total_chars"),
        round(avg(size(array_distinct(col("tk"))).cast("double") /
          nullif(size(col("tk")).cast("double"), lit(0.0))), 6)
          .as("avg_distinct_ratio"))
  }

  /** T4 — document fingerprint: md5 over the sorted distinct token set
    * (canonical bag-of-words identity) + collision groups.
    */
  private val fingerprint: Q = (s, dir) => {
    val d = Tables.documents(s, dir)
      .withColumn("fp",
        md5(array_join(array_sort(array_distinct(toks(col("text")))), " ")))
    val w = Window.partitionBy(col("fp"))
    d.select(col("doc_id"), col("fp"),
      substring(col("fp"), 1, 16).as("fp_short"),
      count(lit(1)).over(w).as("fp_group"))
  }

  /** T5 — repetition signals (the Gopher-class quality rules adapted to
    * newline-free word streams): most-frequent-token share and duplicate
    * bi/tri-gram fractions. Pure row-local array expressions — n-grams are
    * built by zipping shifted slices of the token array, never exploded, so
    * the operator is one scan with zero shuffle at any corpus size.
    */
  private val repetition: Q = (s, dir) => {
    val d = Tables.documents(s, dir).withColumn("tk", toks(col("text")))
    val n = size(col("tk"))
    // slice lengths clamp to 0: a 0/1/2-token doc would otherwise feed a
    // negative length into slice, which aborts the whole job at scale
    // (DuckDB's tk[3:] slices degrade gracefully — parity requires the clamp).
    val bigrams = zip_with(
      slice(col("tk"), lit(1), greatest(n - 1, lit(0))),
      slice(col("tk"), lit(2), greatest(n - 1, lit(0))),
      (a, b) => concat(a, lit(" "), b))
    val withB = d.withColumn("bg", bigrams)
    val trigrams = zip_with(
      slice(col("bg"), lit(1), greatest(size(col("bg")) - 1, lit(0))),
      slice(col("tk"), lit(3), greatest(n - 2, lit(0))),
      (a, b) => concat(a, lit(" "), b))
    def dupFrac(c: Column): Column =
      when(size(c) > 0, floor((lit(1.0) -
        size(array_distinct(c)).cast("double") / size(c).cast("double")) * 1e6
        + 0.5) / 1e6).otherwise(lit(0.0))
    // top-token count = longest equal run of the SORTED token array, via
    // one linear fold (state: previous token, current run, best run). The
    // obvious transform(array_distinct(tk), w -> count of w) is
    // O(distinct × tokens) — quadratic for a pathological single long
    // document (round-4 ADVICE); sort + run-length is O(n log n) and
    // stays inside codegen.
    val topCount = aggregate(
      array_sort(col("tk")),
      struct(lit(null).cast("string").as("prev"), lit(0L).as("run"),
        lit(0L).as("best")),
      (acc, x) => {
        val run = when(x <=> acc.getField("prev"), acc.getField("run") + 1L)
          .otherwise(lit(1L))
        struct(x.as("prev"), run.as("run"),
          greatest(acc.getField("best"), run).as("best"))
      },
      acc => acc.getField("best"))
    withB.withColumn("tg", trigrams)
      .select(col("doc_id"), n.as("n_tokens"),
        (floor(topCount.cast("double") /
          nullif(n.cast("double"), lit(0.0)) * 1e6 + 0.5) / 1e6)
          .as("top_token_frac"),
        dupFrac(col("bg")).as("dup_bigram_frac"),
        dupFrac(col("tg")).as("dup_trigram_frac"))
  }

  /** T6 — Gopher-style quality gate (the rule family from the Gopher /
    * MassiveText filtering recipe, restated on word streams): word-count
    * bounds, mean word length band, alphabetic-word fraction, symbol
    * ratio, and required-stopword presence, folded into one pass/fail
    * flag. Every feature is an exact integer ratio, so the cross-engine
    * boolean agrees bit-for-bit (no rounding-boundary flips). Row-local —
    * one scan, zero shuffle at any corpus size.
    */
  private val gopher: Q = (s, dir) => {
    val d = Tables.documents(s, dir)
      .withColumn("tk", toks(col("text")))
      .withColumn("n_words", size(col("tk")).cast("long"))
    val nD = nullif(col("n_words").cast("double"), lit(0.0))
    val sumLen = aggregate(transform(col("tk"), t => length(t)), lit(0),
      (a, x) => a + x)
    d.withColumn("mean_word_len", sumLen.cast("double") / nD)
      .withColumn("alpha_word_frac",
        size(filter(col("tk"), t => t.rlike("[A-Za-z]"))).cast("double") / nD)
      .withColumn("symbol_ratio",
        (length(col("text")) -
          length(translate(col("text"), "#…", ""))).cast("double") / nD)
      .withColumn("stop_hits",
        size(array_intersect(array_distinct(col("tk")),
          array(stop("en").map(lit): _*))).cast("long"))
      .withColumn("gopher_pass",
        (col("n_words").between(50, 100000) &&
          col("mean_word_len").between(3.0, 10.0) &&
          col("alpha_word_frac") > 0.8 &&
          col("symbol_ratio") < 0.1 &&
          col("stop_hits") >= 2).cast("int"))
      .select(col("doc_id"), col("n_words"),
        round(col("mean_word_len"), 6).as("mean_word_len"),
        round(col("alpha_word_frac"), 6).as("alpha_word_frac"),
        round(col("symbol_ratio"), 6).as("symbol_ratio"),
        col("stop_hits"), col("gopher_pass"))
  }

  /** t21 readable-prose floor on the ROUNDED Flesch reading-ease score
    * (~"plain English" at 60 on the published scale) — thresholding the
    * rounded value so both engines flip together (the e07 discipline).
    */
  val FleschFloor = 60.0

  /** T21 — readability scoring (Flesch 1948 reading ease + Kincaid et al.
    * 1975 grade level): the classic quality signals a curation pipeline
    * runs beside the Gopher gate (t06) and LM perplexity (t09/t20) —
    * formulaic readability catches keyword-stuffed and run-on text that
    * passes length/stopword gates.
    *
    * Deterministic sub-counts, all row-local (zero shuffle at any corpus
    * size):
    *  - words: non-empty space-split tokens (the t18/t16 spelling);
    *  - sentences: runs of `[.!?]+`, floored at 1;
    *  - syllables: the standard vowel-RUN approximation — runs of
    *    `[aeiouy]+` over the lowercased text (no per-word floor; a real
    *    pipeline swaps in a hyphenation dictionary, the plan shape is
    *    identical).
    * The two scores are one fixed IEEE chain over the three counts —
    * identical association order in both engines — emitted at 6dp via the
    * floor idiom; the `readable` flag thresholds the ROUNDED score.
    */
  private val readability: Q = (s, dir) => {
    val d = Tables.documents(s, dir).filter(length(col("text")) > 0)
    val words = size(filter(split(col("text"), " "), t => t =!= lit("")))
      .cast("long")
    val sents = greatest(regexp_count(col("text"), lit("[.!?]+")), lit(1))
      .cast("long")
    val syls = regexp_count(lower(col("text")), lit("[aeiouy]+")).cast("long")
    val out = d.select(col("doc_id"), words.as("n_words"),
      sents.as("n_sentences"), syls.as("n_syllables"))
      .withColumn("wps", col("n_words").cast("double") /
        nullif(col("n_sentences").cast("double"), lit(0.0)))
      .withColumn("spw", col("n_syllables").cast("double") /
        nullif(col("n_words").cast("double"), lit(0.0)))
      .withColumn("flesch6", floor(
        (lit(206.835) - lit(1.015) * col("wps") - lit(84.6) * col("spw"))
          * 1e6 + 0.5) / 1e6)
      .withColumn("grade6", floor(
        (lit(0.39) * col("wps") + lit(11.8) * col("spw") - lit(15.59))
          * 1e6 + 0.5) / 1e6)
    out.select(col("doc_id"), col("n_words"), col("n_sentences"),
      col("n_syllables"), col("flesch6").as("flesch"),
      col("grade6").as("fk_grade"),
      (col("flesch6") >= FleschFloor).as("readable"))
  }

  /** t22's line-classification dials: a recovered 12-token line is
    * CONTENT iff it has at least [[BoilerMinWords]] words and at least
    * one stopword hit (jusText's core signal — boilerplate text is short
    * and function-word-free).
    */
  val BoilerMinWords = 4L

  /** T22 — boilerplate line removal (jusText-lite, Pomikálek 2011: the
    * block-level content/boilerplate classifier every web-corpus pipeline
    * runs before dedup — navigation, button, and footer fragments are
    * short and carry no function words, prose does and is kept): each doc
    * is cut into d07's deterministic 12-token lines, each line classifies
    * on exact integer features (word count, distinct-stopword hits — the
    * t06 spelling), and the document reassembles from its content lines
    * with the removed fraction reported.
    *
    * Scale shape: the explode and classification are row-local; the only
    * shuffle is the per-doc regroup, which co-partitions with the
    * corpus's own doc layout (no cross-doc key at all — unlike d07 there
    * is no corpus-wide line window, so this pass is embarrassingly
    * doc-parallel at any scale). A real jusText adds block-context
    * smoothing; the per-line core is the load-bearing classifier.
    */
  private val boilerplate: Q = (s, dir) => {
    val lines = graft.functions.TextHashCols.tokenLines(col("text"), 12)
    val chunked = Tables.barrier(Tables.documents(s, dir)
      .filter(length(col("text")) >= 8)
      .select(col("doc_id"), lines.as("lines"))
      .withColumn("n_lines", size(col("lines")).cast("long")))
    val ln = chunked.select(col("doc_id"), col("n_lines"),
      posexplode(col("lines")).as(Seq("line_no", "line")))
    val tk = filter(split(col("line"), " "), t => t =!= lit(""))
    val classified = ln
      .withColumn("n_words", size(tk).cast("long"))
      .withColumn("stop_hits",
        size(array_intersect(array_distinct(split(col("line"), " ")),
          array(stop("en").map(lit): _*))).cast("long"))
      .withColumn("content",
        col("n_words") >= BoilerMinWords && col("stop_hits") >= 1)
    classified.groupBy(col("doc_id"), col("n_lines"))
      .agg(sum(when(col("content"), lit(1L)).otherwise(lit(0L)))
          .as("n_content"),
        array_join(transform(array_sort(collect_list(
            when(col("content"), struct(col("line_no"), col("line"))))),
          x => x.getField("line")), "\n").as("clean_text"))
      .select(col("doc_id"), col("n_lines"), col("n_content"),
        col("clean_text"),
        (floor((col("n_lines") - col("n_content")).cast("double") /
          col("n_lines") * 1e6 + 0.5) / 1e6).as("removed_frac"))
  }

  /** T7 — corpus vocabulary: global token frequencies, top 100 by count
    * (ties by token), with corpus share and rank — the vocabulary /
    * tokenizer-prep step of a training pipeline. One explode + one hash
    * aggregate whose map-side partial combine keeps the shuffle at
    * |vocab| rows (not |tokens|); the grand total is a 1-row broadcast
    * (the Q22 scalar idiom), and the top-k sort runs on |vocab| rows.
    */
  private val vocabTopk: Q = (s, dir) => {
    val counted = Tables.documents(s, dir)
      .select(explode(toks(col("text"))).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("n"))
    val total = counted.agg(sum(col("n")).as("total"))
    // boundedness contract: this global window runs AFTER .limit(100) —
    // it ranks exactly the 100 surviving rows (the top-k itself is a
    // TakeOrderedAndProject), never the |vocab| relation
    val w = Window.orderBy(col("n").desc, col("token"))
    counted.crossJoin(broadcast(total))
      .orderBy(col("n").desc, col("token")).limit(100)
      .select(col("token"), col("n"),
        round(col("n").cast("double") / col("total").cast("double"), 6)
          .as("share"),
        row_number().over(w).cast("bigint").as("vocab_rank"))
  }

  /** T8 — PII scrubbing (the privacy pass of a training pipeline): email
    * and IPv4 detection + redaction with match counts. The synthetic
    * corpus is PII-free, so every 5th doc gets a deterministic injected
    * contact block (the clone-injection fixture pattern) — the operator
    * must find and redact exactly those, and the full redacted text is
    * oracle-compared byte-for-byte. Row-local regex over one scan, zero
    * shuffle; patterns stay inside the RE2 ∩ Java-regex dialect so the
    * DuckDB oracle replays them identically.
    */
  private val piiScrub: Q = (s, dir) => {
    val EmailPat = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
    val IpPat = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
    val injected = Tables.documents(s, dir).withColumn("txt",
      when(col("doc_id") % 5 === 0,
        concat(col("text"), lit(" contact user"), col("doc_id"),
          lit("@ex"), col("doc_id") % 7, lit(".com from 10."),
          col("doc_id") % 250, lit("."), (col("doc_id") * 3) % 250,
          lit(".77")))
        .otherwise(col("text")))
    injected.select(col("doc_id"),
      regexp_count(col("txt"), lit(EmailPat)).cast("long").as("n_emails"),
      regexp_count(col("txt"), lit(IpPat)).cast("long").as("n_ips"),
      regexp_replace(regexp_replace(col("txt"), lit(EmailPat), lit("<EMAIL>")),
        lit(IpPat), lit("<IP>")).as("redacted"))
  }

  /** T9 — unigram-LM quality score (the perplexity-filter pass of a
    * CCNet-style pipeline, with the corpus itself as the LM): per-doc
    * mean token log-probability under the corpus unigram distribution.
    * Low scores = rare-token-heavy documents, the quality-bucket signal.
    *
    * Scale shape: the frequency table is |vocab| rows — broadcast to the
    * token stream (no token shuffle for the join); the grand total is the
    * 1-row Q22 scalar idiom; the per-doc aggregate is the one shuffle,
    * map-side-combined to |docs| rows.
    */
  private def lmScored(s: SparkSession, dir: String): DataFrame = {
    val tok = Tables.documents(s, dir)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
    val freq = tok.groupBy(col("token")).agg(count(lit(1)).as("cnt"))
    val total = freq.agg(sum(col("cnt")).as("total"))
    tok.join(broadcast(freq), "token")
      .crossJoin(broadcast(total))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).cast("long").as("n_tokens"),
        round(avg(log(col("cnt").cast("double") /
          col("total").cast("double"))), 6).as("lm_logprob"))
  }

  private val lmScore: Q = (s, dir) => lmScored(s, dir)

  /** T20 — bigram-LM quality score with add-k smoothing (the stronger
    * form of t09's CCNet-style perplexity pass: a unigram LM cannot see
    * word-order junk — shuffled or template-stitched text scores exactly
    * like prose — while a bigram LM penalizes improbable transitions):
    * per-doc mean ln P(w2|w1) with P = (c(w1,w2) + k) / (c(w1·) + k·V),
    * k = 0.5, V = unigram vocabulary size (Laplace-class smoothing keeps
    * every bigram finite; P ≤ 1 by construction so scores are ≤ 0).
    * Docs with fewer than two tokens have no bigram evidence and are
    * excluded (the contract a perplexity FILTER wants — no score, no
    * gate).
    *
    * Scale shape: the adjacent-pair stream is a row-local zip_with (no
    * self-join); counts are one map-side-combined aggregate whose shuffle
    * carries the BIGRAM VOCABULARY, not the corpus; scoring joins the
    * pair stream back to the count tables — the context table (|vocab|
    * rows) broadcasts like t09's freq, the bigram table joins on its own
    * key (broadcast at fixture scale via AQE; a 100 TB run shuffle-joins
    * on (w1, w2) with identical semantics — the KenLM-lookup shape); the
    * vocab size is the 1-row Q22 scalar; the per-doc aggregate is the one
    * corpus-sized shuffle, combined to |docs| rows.
    */
  /** t20's scored frame as a [[graft.SharedStage]] — consumed by the t20
    * entry AND the curation manifest's bigram-tail flag (a run scores the
    * corpus once and every gate reads the scores).
    */
  private val bigramStage = graft.SharedStage[DataFrame]("Text.bigram")
  private val bigramLm: Q = (s, dir) =>
    bigramStage(s, dir)(graft.Tables.barrier(bigramLmBuild(s, dir)))

  private def bigramLmBuild(s: SparkSession, dir: String): DataFrame = {
    val words = Tables.documents(s, dir)
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .filter(size(col("w")) >= 2)
    val big = Tables.barrier(words.select(col("doc_id"),
        explode(zip_with(slice(col("w"), lit(1), size(col("w")) - 1),
          slice(col("w"), lit(2), size(col("w")) - 1),
          (a, b) => struct(a.as("w1"), b.as("w2")))).as("bg"))
      .select(col("doc_id"), col("bg.w1").as("w1"), col("bg.w2").as("w2")))
    val c12 = big.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c12"))
    val c1 = c12.groupBy(col("w1")).agg(sum(col("c12")).as("c1"))
    val vocab = Tables.documents(s, dir)
      .select(explode(split(col("text"), " ")).as("t"))
      .agg(countDistinct(col("t")).cast("double").as("v"))
    big.join(c12, Seq("w1", "w2"))
      .join(broadcast(c1), Seq("w1"))
      .crossJoin(broadcast(vocab))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).cast("long").as("n_bigrams"),
        round(avg(log((col("c12").cast("double") + lit(0.5)) /
          (col("c1").cast("double") + lit(0.5) * col("v")))), 6)
          .as("bi_logprob"))
  }

  /** T10 — CCNet quality buckets (Wenzek et al. 2020 §4.3): split the
    * corpus into head/middle/tail terciles of the LM score — the partition
    * CCNet publishes and trainers sample from. Thresholds are the exact
    * tercile boundaries of [[lmScored]]'s 6-dp-rounded score (quantile
    * interpolation, rounded to 6 dp in BOTH engines so the >= comparisons
    * agree); assignment is a row-local CASE against the 1-row broadcast
    * threshold frame — the Q22 scalar idiom, no global sort, no
    * single-partition window. A 100 TB run swaps the exact threshold
    * aggregate for `percentile_approx` (the h24/h24b twin argument);
    * everything downstream is unchanged.
    */
  private val qualityBuckets: Q = (s, dir) => {
    val scored = lmScored(s, dir)
    val thr = scored.agg(
      (floor(expr("percentile(lm_logprob, 0.6666666666666666)") * 1e6 + 0.5)
        / 1e6).as("t_hi"),
      (floor(expr("percentile(lm_logprob, 0.3333333333333333)") * 1e6 + 0.5)
        / 1e6).as("t_lo"))
    scored.crossJoin(broadcast(thr))
      .select(col("doc_id"), col("n_tokens"), col("lm_logprob"),
        when(col("lm_logprob") >= col("t_hi"), lit("head"))
          .when(col("lm_logprob") >= col("t_lo"), lit("middle"))
          .otherwise(lit("tail")).as("bucket"))
  }

  /** The GPT-2-style pretokenizer regex, restricted to the RE2 ∩ Java
    * dialect so DuckDB can run the identical pattern: contraction suffixes
    * first, then space-prefixed letter / digit / punctuation runs, then
    * whitespace runs. The upstream pattern's `\p{L}`/`\p{N}` classes and
    * the `\s+(?!\S)` lookahead are dropped (RE2 has no lookahead; the
    * fixture corpus is ASCII) — both engines see leftmost-first
    * alternation, so the token streams agree byte-for-byte.
    */
  private[pipeline] val BpePattern =
    "'(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\\s]+|\\s+"

  /** T11 — BPE-ish subword token counting (the tokenizer-budget estimate a
    * pretraining run uses before the real BPE pass): per doc, the
    * whitespace word count, the pretokenizer token count, chars-per-token,
    * and fertility (pretokens per word). Row-local regex extraction — one
    * scan, zero shuffle at any corpus size; the regex engine cost is
    * per-byte linear (RE2-compatible pattern, no backtracking blowup).
    */
  private val bpeTokens: Q = (s, dir) => {
    val d = Tables.documents(s, dir)
      .withColumn("bpe", regexp_extract_all(col("text"), lit(BpePattern), lit(0)))
      // whitespace runs are segment boundaries, not tokens — drop them the
      // way the real pretokenizer folds them into the following word
      .withColumn("bpe", filter(col("bpe"), t => !t.rlike("^\\s+$")))
    val nWs = size(toks(col("text"))).cast("bigint")
    val nBpe = size(col("bpe")).cast("bigint")
    d.select(col("doc_id"), nWs.as("n_words"), nBpe.as("n_bpe_tokens"),
      round(length(col("text")).cast("double") /
        nullif(nBpe.cast("double"), lit(0.0)), 6).as("chars_per_token"),
      round(nBpe.cast("double") /
        nullif(nWs.cast("double"), lit(0.0)), 6).as("fertility"))
  }

  /** T23 — per-language tokenizer fertility report (THE multilingual
    * tokenizer-evaluation table — fertility per language is the headline
    * metric of multilingual tokenizer comparisons, and a language whose
    * fertility balloons is under-served by the vocabulary and will train
    * badly): t11's row-local pretokenizer counts aggregated per `lang`
    * as RATIOS OF SUMS (corpus fertility, not mean-of-per-doc ratios —
    * exact integer sums, one division at the end, the t13 staging
    * lesson). One scan, one |langs|-sized map-side-combined aggregate.
    */
  private val langFertility: Q = (s, dir) => {
    val d = Tables.documents(s, dir)
      .withColumn("bpe",
        regexp_extract_all(col("text"), lit(BpePattern), lit(0)))
      .withColumn("bpe", filter(col("bpe"), t => !t.rlike("^\\s+$")))
    def f6(c: Column) = floor(c * 1e6 + 0.5) / 1e6
    d.groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(size(toks(col("text"))).cast("bigint")).as("n_words"),
        sum(size(col("bpe")).cast("bigint")).as("n_bpe_tokens"),
        sum(length(col("text")).cast("bigint")).as("n_chars"))
      .select(col("lang"), col("n_docs"), col("n_words"),
        col("n_bpe_tokens"),
        f6(col("n_chars").cast("double") /
          nullif(col("n_bpe_tokens").cast("double"), lit(0.0)))
          .as("chars_per_token"),
        f6(col("n_bpe_tokens").cast("double") /
          nullif(col("n_words").cast("double"), lit(0.0)))
          .as("fertility"))
  }

  /** The fixed histogram alphabet for t12: a–z, space, and an implicit
    * "other" bucket (anything else, counted as length − Σ known). A fixed
    * alphabet keeps the histogram ROW-LOCAL — 27 codegen'd
    * `length(replace(...))` counts per doc instead of a char-explode +
    * per-doc shuffle, which is the difference between a scan-bound pass
    * and a token-cardinality shuffle at 100 TB.
    */
  private val EntropyAlphabet: Seq[String] = ('a' to 'z').map(_.toString) :+ " "

  /** T12 — character-entropy quality signal: Shannon entropy (bits) of the
    * per-doc character distribution over [[EntropyAlphabet]] + other.
    * Low-entropy documents are repetitive junk (aaaa…, template spam);
    * `other_frac` (non-alphabet fraction) is a second cheap quality dial.
    * Both engines fold the 28 buckets in the same fixed order, so the
    * entropy sum is bit-identical before rounding.
    */
  private val charEntropy: Q = (s, dir) => {
    // buckets from the one-pass codegen'd kernel (KernelSpec pins it
    // value-equal to the 27-replace twin this operator first shipped; the
    // fold below is unchanged, so the oracle arithmetic is untouched)
    val n = length(col("text")).cast("double")
    val buckets = graft.functions.TextHashCols.charHist28(col("text"))
    val other = element_at(col("bk"), 28).cast("double")
    Tables.documents(s, dir)
      .withColumn("bk", buckets)
      .select(
        col("doc_id"),
        when(n > 0, aggregate(col("bk"), lit(0.0), (acc, c0) => {
          val c = c0.cast("double")
          acc + when(c > 0, -(c / n) * log2(c / n)).otherwise(lit(0.0))
        })).as("h"),
        when(n > 0, other / n).as("of"))
      .select(col("doc_id"), round(col("h"), 6).as("entropy"),
        (floor(col("of") * 1e6 + 0.5) / 1e6).as("other_frac"),
        coalesce(col("h") < 2.5, lit(true)).as("low_entropy"))
  }

  /** Winnowing window: the minimum hash of every [[WinnowW]] consecutive
    * grams is selected. Density ≈ 2/(W+1); guarantee threshold t = W+k-1
    * tokens (k = 3-gram).
    */
  private val WinnowW = 4

  /** T13 — winnowing document fingerprints (Schleimer, Wilkerson & Aiken,
    * SIGMOD 2003 — the MOSS local fingerprinting algorithm): hash every
    * word 3-gram, slide a [[WinnowW]]-gram window, keep each window's
    * minimum hash; the distinct minima are the document's fingerprint set.
    * The winnowing guarantee: any token run of ≥ W+2 words shared by two
    * documents yields at least one SHARED fingerprint, at ~2/(W+1) the
    * storage of the full shingle set — the index a plagiarism / near-dup
    * retrieval system stores instead of every shingle (t04 is the global
    * fingerprint; this is the local one).
    *
    * Scale shape: grams are built by shifted-slice zips (no explode), the
    * hash and the window-min selection are row-local higher-order
    * functions — one corpus scan, ZERO shuffle at any size. The 60-bit
    * md5 hash is the d03b/d04b cross-engine family, so every stage has an
    * exact DuckDB twin.
    */
  /** The t13 gram-hash array (one 60-bit hash per word 3-gram). Trigrams
    * via two shifted zips (the t05 shape); slice lengths clamp to 0 so
    * 0-2-token docs don't feed negative lengths into slice.
    */
  private[graft] def winnowHashes(text: Column): Column = {
    val tk = filter(split(text, " "), t => t =!= lit(""))
    val n = size(tk)
    val bg = zip_with(
      slice(tk, lit(1), greatest(n - 1, lit(0))),
      slice(tk, lit(2), greatest(n - 1, lit(0))),
      (a, b) => concat(a, lit(" "), b))
    val g = zip_with(
      slice(bg, lit(1), greatest(size(bg) - 1, lit(0))),
      slice(tk, lit(3), greatest(n - 2, lit(0))),
      (a, b) => concat(a, lit(" "), b))
    transform(g, x => Dedup.md5Hash60(x))
  }

  /** The winnow selection over a MATERIALIZED hash-array column: distinct
    * sorted minima of every [[WinnowW]]-gram window.
    */
  private[graft] def winnowSelect(h: Column): Column =
    array_sort(array_distinct(transform(
      sequence(lit(1), greatest(size(h) - (WinnowW - 1), lit(1))),
      j => array_min(slice(h, j, lit(WinnowW))))))

  /** Hash + select in one expression — for spec micro-corpora only; the
    * operator MUST materialize the hash array first (see [[winnow]]).
    */
  private[graft] def winnowFp(text: Column): Column =
    winnowSelect(winnowHashes(text))

  private val winnow: Q = (s, dir) => {
    // the hash array is materialized behind Tables.barrier BEFORE the
    // window-min selection: the selection lambda references the array per
    // window position, and Catalyst's projection collapse would otherwise
    // inline the whole md5 chain into the lambda — O(grams²) hash calls
    // per doc (the d02/c01 hoist lesson in higher-order-function form;
    // measured 50.2 s vs 1.9 s at sf0.1)
    val hashed = Tables.barrier(Tables.documents(s, dir)
      .select(col("doc_id"), winnowHashes(col("text")).as("h"))
      .withColumn("n_grams", size(col("h")).cast("bigint"))
      .filter(col("n_grams") >= 1))
    hashed.withColumn("fp", winnowSelect(col("h")))
      .select(col("doc_id"), col("n_grams"),
        greatest(col("n_grams") - (WinnowW - 1), lit(1)).cast("bigint")
          .as("n_windows"),
        size(col("fp")).cast("bigint").as("n_fp"),
        element_at(col("fp"), 1).as("fp_min"),
        element_at(col("fp"), -1).as("fp_max"))
  }

  /** Hashed-feature dimension for t14: constant — the weight table is KBs
    * at any corpus size (a real model broadcasts it).
    */
  private val ClsDim = 256L

  /** T14 — hashed linear quality classifier: the fasttext-style gate
    * production pipelines apply (GPT-3 scores every doc with a logistic
    * classifier trained against WebText and filters on it — Brown et al.
    * 2020 appendix A; LLaMA/CCNet ship the same shape). The model here is
    * a DETERMINISTIC stand-in with the true plan shape: feature bucket =
    * 60-bit md5 token hash mod [[ClsDim]]; weight(b) = the Knuth-hash
    * dyadic rational ((b·2654435761) mod 2³²)/2³² − 0.5 — dyadic, so the
    * left-fold sum is bit-exact across engines, where a trained float
    * table would broadcast identically. score = mean token weight (the
    * linear logit; the sigmoid is monotone, so the gate thresholds the
    * logit directly — no libm exp parity risk), pass = logit > 0.
    * Row-local end to end: one scan, zero shuffle, the weight "table" is
    * pure arithmetic.
    */
  private val qualityClassifier: Q = (s, dir) => {
    val tk = filter(toks(col("text")), t => t =!= lit(""))
    def w(t: Column): Column =
      (pmod(pmod(Dedup.md5Hash60(t), lit(ClsDim)) * lit(2654435761L),
        lit(4294967296L)).cast("double") / lit(4294967296.0)) - lit(0.5)
    Tables.documents(s, dir)
      .withColumn("n_tokens", size(tk).cast("bigint"))
      .filter(col("n_tokens") >= 1)
      .withColumn("raw",
        aggregate(tk, lit(0.0), (acc, t) => acc + w(t)) /
          col("n_tokens").cast("double"))
      .select(col("doc_id"), col("n_tokens"),
        (floor(col("raw") * lit(1e6) + lit(0.5)) / 1e6).as("cls_score"),
        (col("raw") > 0.0).as("quality_pass"))
  }

  /** Pairs reported by t15 (one BPE merge round consults the argmax; the
    * top-K view is the trainer's working set).
    */
  private val PairTopK = 20

  /** T15 — BPE merge-pair statistics, the first step of BPE tokenizer
    * TRAINING (Sennrich et al. 2016: count adjacent-symbol pair
    * frequencies over the corpus, merge the argmax; GPT-2's tokenizer is
    * this loop over pretokens): adjacent-pretoken pair counts (t11's
    * pretokenizer defines the symbol stream) with the top-[[PairTopK]]
    * by count, ties broken lexically.
    *
    * Scale shape: pairs are built row-locally by shifted-slice zips and
    * only then exploded into the (pair → count) aggregate, which
    * map-side combines — the shuffle moves the pair VOCABULARY, not the
    * corpus. The top-K is `orderBy(...).limit(K)` — Spark plans a
    * TakeOrderedAndProject, a PARALLEL map-side bounded-heap top-k —
    * never a rank over the full pair vocabulary through one partition
    * (the pair vocabulary is a superset-order of the unigram one; an
    * unpartitioned Window here single-tasks billions of rows at 100 TB).
    * The ≤K survivors are then ranked by position in one sorted array
    * (no Window node at all; PlanSpec-pinned).
    */
  private val bpePairs: Q = (s, dir) => {
    val d = Tables.documents(s, dir)
      .withColumn("bpe",
        regexp_extract_all(col("text"), lit(BpePattern), lit(0)))
      .withColumn("bpe", filter(col("bpe"), t => !t.rlike("^\\s+$")))
    val n = size(col("bpe"))
    d.withColumn("pr", zip_with(
        slice(col("bpe"), lit(1), greatest(n - 1, lit(0))),
        slice(col("bpe"), lit(2), greatest(n - 1, lit(0))),
        (a, b) => struct(a.as("l"), b.as("r"))))
      .select(explode(col("pr")).as("p"))
      .select(col("p.l").as("l"), col("p.r").as("r"))
      .groupBy(col("l"), col("r")).agg(count(lit(1)).as("pair_count"))
      .orderBy(col("pair_count").desc, col("l"), col("r")).limit(PairTopK)
      .agg(sort_array(collect_list(struct(
        (-col("pair_count")).as("nc"), col("l").as("l"), col("r").as("r"))))
        .as("a"))
      .select(posexplode(col("a")).as(Seq("pos", "v")))
      .select(col("v.l").as("l"), col("v.r").as("r"),
        (-col("v.nc")).as("pair_count"),
        (col("pos") + 1).cast("int").as("rank"))
  }

  /** Merge rounds for t16 (real tokenizer training runs ~50k; the loop is
    * round-count-parametric).
    */
  private val MergeRounds = 5

  /** T16 — the BPE merge TRAINING loop (Sennrich et al. 2016 §3.2):
    * [[MergeRounds]] rounds of count-adjacent-pairs → argmax → merge that
    * pair corpus-wide, emitting the learned merge table (round, pair,
    * count) — t15 is one round's counting stage; this is the actual
    * trainer. Tokens start as whitespace words; merged tokens join with a
    * U+0001 marker so later rounds can merge merged tokens (true BPE
    * growth).
    *
    * The merge step is TWO `replace(" l r ", " l␁r ")` passes on the
    * space-padded token stream — leftmost non-overlapping scans with
    * identical semantics in BOTH engines (java.lang.String.replace ≡
    * DuckDB replace), so the oracle replays every round bit-identically.
    * Pass 1's scan consumes the shared boundary space, leaving
    * back-to-back occurrences alternately blocked; blocked occurrences
    * are then always isolated, so pass 2 catches exactly them — EXACT
    * greedy merging for l ≠ r (where pair occurrences can never
    * overlap); self-pair runs ≥ 3 remain near-greedy, deterministic,
    * mirrored.
    *
    * Scale shape per round: pair counting is t15's (row-local zips,
    * map-side-combined count — the shuffle moves the pair vocabulary);
    * the argmax is ONE driver-side row (exactly what a real BPE trainer
    * holds on the driver); the merge is a row-local string pass. The
    * stream is barrier-materialized between rounds so round k doesn't
    * replay rounds 1..k-1.
    *
    * Timing note for plan-only tooling: the training loop (and t17's
    * model fit) executes Spark jobs EAGERLY at query-construction time —
    * building this DataFrame runs the full count→argmax→merge rounds, so
    * `explain`/plan-build phases pay corpus scans and per-query timers
    * must bracket construction+execution together (Bench does).
    */
  private val bpeMerges: Q = (s, dir) => {
    val session = s
    import session.implicits._
    trainBpe(s, dir)._1.toDF("round", "lhs", "rhs", "pair_count")
  }

  /** The shared trainer behind t16 (the merge table) and t18 (the encoded
    * stream): returns the learned merges AND the final merged token
    * stream (doc_id, s) — the space-padded text after all rounds, merged
    * tokens joined with the U+0001 marker.
    */
  /** Trained BPE state as a [[graft.SharedStage]]: t16 and t18 share one
    * [[MergeRounds]]-round train loop (one count+argmax job pair and a
    * barrier materialization per round) — "real pipelines train once,
    * then tokenize" is literally this operator's contract.
    */
  private val bpeStage = graft.SharedStage[
    (Seq[(Int, String, String, Long)], DataFrame)]("Text.bpe")
  private def trainBpe(s: SparkSession, dir: String)
      : (Seq[(Int, String, String, Long)], DataFrame) =
    bpeStage(s, dir)(trainBpeBuild(s, dir))

  private def trainBpeBuild(s: SparkSession, dir: String)
      : (Seq[(Int, String, String, Long)], DataFrame) = {
    var cur = Tables.barrier(Tables.documents(s, dir)
      .select(col("doc_id"), concat(lit(" "),
        concat_ws(" ", filter(toks(col("text")), t => t =!= lit(""))),
        lit(" ")).as("s")))
    val learned =
      scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    var exhausted = false
    for (round <- 1 to MergeRounds if !exhausted) {
      val tk = filter(split(col("s"), " "), t => t =!= lit(""))
      val top = cur
        .withColumn("pr", zip_with(
          slice(tk, lit(1), greatest(size(tk) - 1, lit(0))),
          slice(tk, lit(2), greatest(size(tk) - 1, lit(0))),
          (a, b) => struct(a.as("l"), b.as("r"))))
        .select(explode(col("pr")).as("p"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("l"), col("r"))
        .limit(1).collect()
      if (top.isEmpty) exhausted = true // every doc is one token: vocab done
      else {
        val (l, r, cnt) =
          (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
        // TWO replace passes: the scan consumes the shared boundary
        // space, so back-to-back occurrences ("x y x y") alternate
        // caught/blocked in pass 1 — blocked occurrences are then always
        // isolated, so pass 2 catches exactly them. For l != r (pairs
        // never overlap) this is EXACT greedy merging; identical scan
        // semantics in both engines keep the oracle bit-for-bit.
        def merge(c: Column): Column =
          replace(c, lit(s" $l $r "), lit(" " + l + "\u0001" + r + " "))
        cur = Tables.barrier(cur.withColumn("s", merge(merge(col("s")))))
        learned += ((round, l, r, cnt))
      }
    }
    (learned.toSeq, cur)
  }

  /** T18 — BPE ENCODING with the learned merge table (the apply half of
    * Sennrich et al. 2016: real pipelines train once, then tokenize the
    * whole corpus with the shipped merges — this is the per-document
    * token accounting that sizes a training run): per doc, the token
    * count after all [[MergeRounds]] merges and how many emitted tokens
    * are merge products (contain the U+0001 join marker).
    *
    * Scale shape: training is t16's (the merge table is driver-sized by
    * construction); encoding is a row-local string pass over the already
    * barrier-materialized stream — one corpus scan, zero shuffle, and
    * each merge application is the same two-pass `replace` the trainer
    * used, so the oracle's round replay reproduces the stream
    * bit-identically.
    */
  private val bpeEncode: Q = (s, dir) => {
    val stream = trainBpe(s, dir)._2
    val tk = filter(split(col("s"), " "), t => t =!= lit(""))
    stream.select(col("doc_id"),
      size(tk).cast("bigint").as("n_tokens"),
      size(filter(tk, t => t.contains("\u0001"))).cast("bigint")
        .as("n_merged"))
  }

  /** T17 — DSIR importance weighting (Xie et al., "Data Selection for
    * Language Models via Importance Resampling", NeurIPS 2023): score
    * every raw doc by the hashed-n-gram log-likelihood ratio between a
    * TARGET distribution (the doc_id ≡ 0 mod 97 slice — the c01/c03
    * held-out convention, standing in for Wikipedia/quality data) and the
    * RAW corpus distribution. Features are t14's 60-bit-md5 buckets mod
    * [[ClsDim]]; both distributions are Laplace-smoothed bucket
    * frequencies; score = mean over tokens of ln p_target(b) − ln
    * p_raw(b); keep = score > 0 (resampling keeps high scores).
    *
    * Scale shape: the model FIT is one map-side-combined count to 2×256
    * rows collected to the driver (exactly the hashed feature model DSIR
    * fits — KBs at any corpus size), re-broadcast as a literal weight
    * array; SCORING is a row-local sequential fold — one corpus scan,
    * zero shuffle. The oracle rebuilds the same dense weight table in SQL
    * and replays the fold in token order.
    */
  private val dsirWeights: Q = (s, dir) => {
    val tk = filter(toks(col("text")), t => t =!= lit(""))
    val counts = Tables.documents(s, dir)
      .select(col("doc_id"), explode(tk).as("t"))
      .select(col("doc_id"),
        pmod(Dedup.md5Hash60(col("t")), lit(ClsDim)).as("b"))
      .groupBy((col("doc_id") % 97 === 0).as("is_t"), col("b"))
      .agg(count(lit(1)).as("c")).collect()
    val dim = ClsDim.toInt
    val tCounts = Array.fill(dim)(0L)
    val rCounts = Array.fill(dim)(0L)
    counts.foreach { r =>
      (if (r.getBoolean(0)) tCounts else rCounts)(r.getLong(1).toInt) =
        r.getLong(2)
    }
    val tt = tCounts.sum.toDouble
    val tr = rCounts.sum.toDouble
    // Weights snap to the 2^-12 dyadic grid: both engines compute ln()
    // through their platform libm (neither guaranteed correctly rounded —
    // the t14 transcendental-parity concern), so the raw logs could differ
    // by 1 ulp and flip round(raw, 6) at a boundary. Flooring onto a
    // coarse dyadic grid makes the shipped weights — and therefore the
    // per-doc sums, which are exact binary arithmetic on 2^-12 multiples —
    // bit-identical unless a weight's true value sits within an ulp of a
    // grid edge (≤ ClsDim sites instead of every document boundary).
    val w = (0 until dim).map(b =>
      math.floor((math.log((tCounts(b) + 1.0) / (tt + dim)) -
        math.log((rCounts(b) + 1.0) / (tr + dim))) * 4096.0) / 4096.0)
    val wLit = array(w.map(lit): _*)
    Tables.documents(s, dir).filter(col("doc_id") % 97 =!= 0)
      .withColumn("n_tokens", size(tk).cast("bigint"))
      .filter(col("n_tokens") >= 1)
      .withColumn("raw", aggregate(tk, lit(0.0), (acc, t) =>
        acc + element_at(wLit,
          pmod(Dedup.md5Hash60(t), lit(ClsDim)).cast("int") + 1)) /
        col("n_tokens").cast("double"))
      .select(col("doc_id"), col("n_tokens"),
        round(col("raw"), 6).as("dsir_logratio"),
        (round(col("raw"), 6) > 0.0).as("keep"))
  }

  /** t19 — Zipf rank-frequency corpus diagnostics: the corpus-QA summary
    * a curation run reports before training — vocabulary size, total
    * tokens, hapax legomena count/fraction (singleton terms: high hapax
    * = noisy/OCR-damaged text), type-token ratio, and the Zipf slope (a
    * healthy natural-language corpus fits ln(freq) ≈ a + s·ln(rank)
    * with s ≈ −1; |s| far from 1 flags templated or deduplicated-to-
    * death text). One output row.
    *
    * Scale shape: explode → map-side-combined token counts (the shuffle
    * moves the VOCABULARY, not the corpus — the t15 argument); the
    * top-1000 cut is `orderBy(...).limit(1000)` (TakeOrderedAndProject,
    * a parallel map-side bounded-heap top-k — a 100 TB corpus's
    * hapax-heavy vocabulary is billions of rows, so ranking it through
    * an unpartitioned Window would single-task the whole relation), the
    * survivors ranked by position in one sorted array (no Window node;
    * PlanSpec-pinned), and the regression runs over those ≤1000 rows.
    * Cross-engine exactness: JVM `Math.log` and DuckDB `ln` may
    * differ in the last ulp, so both engines quantize ln(rank)/ln(freq)
    * onto the 1e-6 integer grid FIRST; the fit sums are then exact
    * BIGINT arithmetic, and the final slope is one identical double op
    * chain over identical integers (the s09 k-means discipline).
    */
  private val zipfStats: Q = (s, dir) => {
    val freq = Tables.documents(s, dir)
      .select(explode(toks(col("text"))).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("freq"))
    val top = freq
      .orderBy(col("freq").desc, col("tok")).limit(1000)
      .agg(sort_array(collect_list(struct(
        (-col("freq")).as("nf"), col("tok").as("tok")))).as("a"))
      .select(posexplode(col("a")).as(Seq("pos", "v")))
      .select(
        floor(log((col("pos") + 1).cast("double")) * lit(1e6) + lit(0.5))
          .as("xi"),
        floor(log((-col("v.nf")).cast("double")) * lit(1e6) + lit(0.5))
          .as("yi"))
    val fit = top.agg(count(lit(1)).as("n"),
      sum(col("xi")).as("sx"), sum(col("yi")).as("sy"),
      sum(col("xi") * col("yi")).as("sxy"),
      sum(col("xi") * col("xi")).as("sxx"))
    val corpus = freq.agg(count(lit(1)).as("vocab_size"),
      sum(col("freq")).as("total_tokens"),
      sum(when(col("freq") === 1, 1L).otherwise(0L)).as("hapax"))
    def q6(c: org.apache.spark.sql.Column) =
      floor(c * lit(1e6) + lit(0.5)) / lit(1e6)
    def d(c: org.apache.spark.sql.Column) = c.cast("double")
    corpus.crossJoin(broadcast(fit))
      .select(col("vocab_size"), col("total_tokens"), col("hapax"),
        q6(d(col("hapax")) / d(col("vocab_size"))).as("hapax_frac"),
        q6(d(col("vocab_size")) / d(col("total_tokens"))).as("ttr"),
        q6((d(col("n")) * d(col("sxy")) - d(col("sx")) * d(col("sy"))) /
           (d(col("n")) * d(col("sxx")) - d(col("sx")) * d(col("sx"))))
          .as("zipf_slope"))
  }

  val queries: Map[String, Q] = Map(
    "t19_zipf_stats" -> zipfStats,
    "t18_bpe_encode" -> bpeEncode,
    "t17_dsir_weights" -> dsirWeights,
    "t16_bpe_merges" -> bpeMerges,
    "t15_bpe_pairs" -> bpePairs,
    "t14_quality_classifier" -> qualityClassifier,
    "t13_winnow_fp" -> winnow,
    "t12_char_entropy" -> charEntropy,
    "t01_langid" -> langid,
    "t02_quality_score" -> quality,
    "t03_token_stats" -> tokenStats,
    "t04_fingerprint" -> fingerprint,
    "t21_readability" -> readability,
    "t22_boilerplate" -> boilerplate,
    "t23_lang_fertility" -> langFertility,
    "t05_repetition" -> repetition,
    "t06_gopher_rules" -> gopher,
    "t07_vocab_topk" -> vocabTopk,
    "t08_pii_scrub" -> piiScrub,
    "t09_lm_score" -> lmScore,
    "t20_bigram_lm" -> bigramLm,
    "t10_quality_buckets" -> qualityBuckets,
    "t11_bpe_tokens" -> bpeTokens)

  private def inList(words: Seq[String]): String =
    words.map(w => s"'$w'").mkString(", ")

  /** The t06 feature CTE, shared with Curation's p05 manifest oracle so the
    * gopher rules cannot drift between the gate and the composed decision.
    */
  private[pipeline] lazy val GopherFeatCte: String =
    s"""feat AS (
       |  SELECT doc_id,
       |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
       |    CAST(list_reduce(list_prepend(0,
       |        list_transform(string_split(text, ' '), t -> len(t))),
       |        (a, x) -> a + x) AS DOUBLE) /
       |      nullif(CAST(len(string_split(text, ' ')) AS DOUBLE), 0.0)
       |      AS mean_word_len,
       |    CAST(len(list_filter(string_split(text, ' '),
       |        t -> regexp_matches(t, '[A-Za-z]'))) AS DOUBLE) /
       |      nullif(CAST(len(string_split(text, ' ')) AS DOUBLE), 0.0)
       |      AS alpha_word_frac,
       |    CAST(len(text) - len(replace(replace(text, '#', ''), '…', ''))
       |        AS DOUBLE) /
       |      nullif(CAST(len(string_split(text, ' ')) AS DOUBLE), 0.0)
       |      AS symbol_ratio,
       |    CAST(len(list_intersect(list_distinct(string_split(text, ' ')),
       |        [${inList(stop("en"))}])) AS BIGINT) AS stop_hits
       |  FROM documents)""".stripMargin

  /** The gopher pass predicate over [[GopherFeatCte]]'s columns — one
    * definition for t06's flag and p05's fail reason.
    */
  private[pipeline] val GopherPassSql: String =
    """n_words BETWEEN 50 AND 100000
      |    AND mean_word_len BETWEEN 3.0 AND 10.0
      |    AND alpha_word_frac > 0.8
      |    AND symbol_ratio < 0.1
      |    AND stop_hits >= 2""".stripMargin

  /** The t09 LM-score CTE chain (ends in `scored(doc_id, n_tokens,
    * lm_logprob)`), shared by t09, t10 and p05.
    */
  private[pipeline] val LmScoredCtes: String =
    """tok AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS token
      |  FROM documents),
      |freq AS (
      |  SELECT token, CAST(count(*) AS DOUBLE) AS cnt FROM tok GROUP BY token),
      |tot AS (SELECT CAST(sum(cnt) AS DOUBLE) AS total FROM freq),
      |scored AS (
      |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
      |    round(avg(ln(cnt / total)), 6) AS lm_logprob
      |  FROM tok JOIN freq USING (token), tot
      |  GROUP BY doc_id)""".stripMargin

  /** t20's CTE chain ending in `biscored` (doc_id, n_bigrams,
    * bi_logprob) — the bigram-LM replay, shared between the standalone
    * t20 oracle and p05's bigram-tail reason flag (r11 VERDICT #6: the
    * manifest reuses these CTEs verbatim so the composed gate cannot
    * drift from the standalone score). CTE names are prefixed (`bw`,
    * `bv`) where a bare name could collide with the unigram chain p05
    * also inlines.
    */
  private[pipeline] val BiScoredCtes: String =
    """bw AS (
      |  SELECT doc_id, string_split(text, ' ') AS w FROM documents
      |  WHERE len(string_split(text, ' ')) >= 2),
      |big AS MATERIALIZED (
      |  SELECT doc_id, unnest(w[1:len(w)-1]) AS w1,
      |         unnest(w[2:len(w)]) AS w2
      |  FROM bw),
      |c12 AS MATERIALIZED (
      |  SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12
      |  FROM big GROUP BY 1, 2),
      |c1 AS MATERIALIZED (
      |  SELECT w1, CAST(sum(c12) AS BIGINT) AS c1 FROM c12 GROUP BY 1),
      |bv AS (
      |  SELECT CAST(count(DISTINCT token) AS DOUBLE) AS v
      |  FROM (SELECT unnest(string_split(text, ' ')) AS token
      |        FROM documents)),
      |biscored AS MATERIALIZED (
      |  SELECT big.doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
      |    round(avg(ln((CAST(c12.c12 AS DOUBLE) + 0.5) /
      |                  (CAST(c1.c1 AS DOUBLE) + 0.5 * bv.v))), 6)
      |      AS bi_logprob
      |  FROM big JOIN c12 USING (w1, w2) JOIN c1 USING (w1), bv
      |  GROUP BY big.doc_id)""".stripMargin

  /** The t20 lower-tercile threshold CTE over `biscored`, shared with
    * p05 (the bigram analogue of [[LmThrCte]]'s `t_lo`).
    */
  private[pipeline] val BiThrCte: String =
    """bithr AS (
      |  SELECT
      |    floor(quantile_cont(bi_logprob, 0.3333333333333333) * 1e6 + 0.5)
      |      / 1e6 AS b_lo
      |  FROM biscored)""".stripMargin

  /** The t10 tercile-threshold CTE over `scored`, shared with p05. */
  private[pipeline] val LmThrCte: String =
    """thr AS (
      |  SELECT
      |    floor(quantile_cont(lm_logprob, 0.6666666666666666) * 1e6 + 0.5)
      |      / 1e6 AS t_hi,
      |    floor(quantile_cont(lm_logprob, 0.3333333333333333) * 1e6 + 0.5)
      |      / 1e6 AS t_lo
      |  FROM scored)""".stripMargin

  private def rateSql(l: String): String =
    s"""CAST(len(list_filter(string_split(text, ' '), t -> t IN (${inList(stop(l))}))) AS DOUBLE) /
       |    nullif(CAST(len(string_split(text, ' ')) AS DOUBLE), 0.0)""".stripMargin

  /** t12 oracle: the 27 per-char counts as a list literal, same order as
    * the Spark `buckets` array, same left-fold entropy sum.
    */
  private val EntropyCountsSql = EntropyAlphabet
    .map(ch => s"CAST(length(text) - length(replace(text, '$ch', '')) AS DOUBLE)")
    .mkString("[", ",\n         ", "]")

  /** The t16 oracle: [[MergeRounds]] unrolled rounds, each replaying the
    * identical count → argmax → replace sequence over the evolving stream.
    */
  // CTEs are MATERIALIZED: DuckDB inlines plain CTEs per reference, and
  // s$k references m$k (8 subqueries) + s$(k-1) — inlined, the chain
  // re-evaluates ~9^rounds times and the oracle never finishes
  private def t16RoundCtes(k: Int): String =
    s"""p$k AS MATERIALIZED (
       |  SELECT l, r, cnt, row_number() OVER (ORDER BY cnt DESC, l, r) AS rn
       |  FROM (
       |    SELECT p.l AS l, p.r AS r, CAST(count(*) AS BIGINT) AS cnt
       |    FROM (
       |      SELECT unnest(list_transform(range(1, len(tk)),
       |        i -> struct_pack(l := tk[i], r := tk[i + 1]))) AS p
       |      FROM (SELECT list_filter(string_split(s, ' '), t -> t != '') AS tk
       |            FROM s${k - 1}))
       |    GROUP BY 1, 2)),
       |m$k AS MATERIALIZED (SELECT l, r, cnt FROM p$k WHERE rn = 1),
       |s$k AS MATERIALIZED (
       |  SELECT doc_id, replace(replace(s,
       |    ' ' || (SELECT l FROM m$k) || ' ' || (SELECT r FROM m$k) || ' ',
       |    ' ' || (SELECT l FROM m$k) || chr(1) || (SELECT r FROM m$k) || ' '),
       |    ' ' || (SELECT l FROM m$k) || ' ' || (SELECT r FROM m$k) || ' ',
       |    ' ' || (SELECT l FROM m$k) || chr(1) || (SELECT r FROM m$k) || ' ')
       |    AS s
       |  FROM s${k - 1})""".stripMargin

  val oracle: Map[String, String] = Map(
    "t17_dsir_weights" ->
      s"""WITH bt AS MATERIALIZED (
         |  SELECT doc_id,
         |    ('0x' || substr(md5(t), 1, 15))::BIGINT % $ClsDim AS b
         |  FROM (SELECT doc_id,
         |          unnest(list_filter(string_split(text, ' '), t -> t != ''))
         |            AS t
         |        FROM documents)),
         |tc AS MATERIALIZED (
         |  SELECT b, CAST(count(*) AS BIGINT) AS c FROM bt
         |  WHERE doc_id % 97 = 0 GROUP BY b),
         |rc AS MATERIALIZED (
         |  SELECT b, CAST(count(*) AS BIGINT) AS c FROM bt
         |  WHERE doc_id % 97 != 0 GROUP BY b),
         |tot AS MATERIALIZED (
         |  SELECT (SELECT CAST(coalesce(sum(c), 0) AS BIGINT) FROM tc) AS tt,
         |         (SELECT CAST(coalesce(sum(c), 0) AS BIGINT) FROM rc) AS tr),
         |wtab AS MATERIALIZED (
         |  SELECT list(wv ORDER BY b) AS ws FROM (
         |    SELECT s.b,
         |      floor((ln((coalesce(tc.c, 0) + 1.0) / ((SELECT tt FROM tot) + $ClsDim.0))
         |        - ln((coalesce(rc.c, 0) + 1.0) / ((SELECT tr FROM tot) + $ClsDim.0)))
         |        * 4096.0) / 4096.0
         |        AS wv
         |    FROM (SELECT unnest(range(0, $ClsDim)) AS b) s
         |    LEFT JOIN tc ON tc.b = s.b
         |    LEFT JOIN rc ON rc.b = s.b)),
         |sc AS (
         |  SELECT doc_id, CAST(len(tk) AS BIGINT) AS n_tokens,
         |    list_reduce(list_prepend(0.0, list_transform(tk,
         |      t -> ws[CAST(('0x' || substr(md5(t), 1, 15))::BIGINT % $ClsDim
         |               AS INT) + 1])),
         |      (a, x) -> a + x) / len(tk) AS raw
         |  FROM (SELECT doc_id,
         |          list_filter(string_split(text, ' '), t -> t != '') AS tk
         |        FROM documents WHERE doc_id % 97 != 0), wtab
         |  WHERE len(tk) >= 1)
         |SELECT doc_id, n_tokens, round(raw, 6) AS dsir_logratio,
         |  round(raw, 6) > 0.0 AS keep
         |FROM sc""".stripMargin,
    // t18 replays t16's full training chain (bit-identical replace
    // semantics), then counts the FINAL stream's tokens per doc.
    "t18_bpe_encode" ->
      s"""WITH s0 AS MATERIALIZED (
         |  SELECT doc_id,
         |    ' ' || array_to_string(list_filter(string_split(text, ' '),
         |      t -> t != ''), ' ') || ' ' AS s
         |  FROM documents),
         |${(1 to MergeRounds).map(t16RoundCtes).mkString(",\n")},
         |fin AS (
         |  SELECT doc_id,
         |    list_filter(string_split(s, ' '), t -> t != '') AS tk
         |  FROM s$MergeRounds)
         |SELECT doc_id, CAST(len(tk) AS BIGINT) AS n_tokens,
         |  CAST(len(list_filter(tk, t -> contains(t, chr(1)))) AS BIGINT)
         |    AS n_merged
         |FROM fin""".stripMargin,
    "t16_bpe_merges" ->
      s"""WITH s0 AS MATERIALIZED (
         |  SELECT doc_id,
         |    ' ' || array_to_string(list_filter(string_split(text, ' '),
         |      t -> t != ''), ' ') || ' ' AS s
         |  FROM documents),
         |${(1 to MergeRounds).map(t16RoundCtes).mkString(",\n")}
         |${(1 to MergeRounds).map(k =>
             s"SELECT CAST($k AS INT) AS round, l AS lhs, r AS rhs, " +
               s"cnt AS pair_count FROM m$k").mkString("\nUNION ALL\n")}""".stripMargin,
    "t15_bpe_pairs" ->
      s"""WITH ext AS (
         |  SELECT doc_id,
         |    list_filter(
         |      regexp_extract_all(text, '${BpePattern.replace("'", "''")}'),
         |      t -> NOT regexp_matches(t, '^\\s+$$')) AS bpe
         |  FROM documents),
         |pairs AS (
         |  SELECT unnest(list_transform(range(1, len(bpe)),
         |    i -> struct_pack(l := bpe[i], r := bpe[i + 1]))) AS p
         |  FROM ext),
         |cnt AS (
         |  SELECT p.l AS l, p.r AS r, CAST(count(*) AS BIGINT) AS pair_count
         |  FROM pairs GROUP BY 1, 2)
         |SELECT l, r, pair_count, rank FROM (
         |  SELECT l, r, pair_count,
         |    CAST(row_number() OVER (ORDER BY pair_count DESC, l, r) AS INT)
         |      AS rank
         |  FROM cnt)
         |WHERE rank <= $PairTopK""".stripMargin,
    "t14_quality_classifier" ->
      s"""WITH toks AS (
         |  SELECT doc_id, list_filter(string_split(text, ' '), t -> t != '')
         |    AS tk
         |  FROM documents),
         |sc AS (
         |  SELECT doc_id, CAST(len(tk) AS BIGINT) AS n_tokens,
         |    list_reduce(list_prepend(0.0, list_transform(tk,
         |      t -> CAST((('0x' || substr(md5(t), 1, 15))::BIGINT % $ClsDim)
         |             * 2654435761 % 4294967296 AS DOUBLE) / 4294967296.0
         |             - 0.5)),
         |      (acc, x) -> acc + x) / CAST(len(tk) AS DOUBLE) AS raw
         |  FROM toks WHERE len(tk) >= 1)
         |SELECT doc_id, n_tokens, floor(raw * 1e6 + 0.5) / 1e6 AS cls_score,
         |  raw > 0.0 AS quality_pass
         |FROM sc""".stripMargin,
    "t13_winnow_fp" ->
      s"""WITH toks AS (
         |  SELECT doc_id, list_filter(string_split(text, ' '), t -> t != '')
         |    AS tk
         |  FROM documents),
         |g AS (
         |  SELECT doc_id, list_transform(range(1, len(tk) - 1),
         |    i -> array_to_string(tk[i:i+2], ' ')) AS gs
         |  FROM toks WHERE len(tk) >= 3),
         |h AS (
         |  SELECT doc_id, list_transform(gs,
         |    x -> ('0x' || substr(md5(x), 1, 15))::BIGINT) AS hs
         |  FROM g),
         |sel AS (
         |  SELECT doc_id, CAST(len(hs) AS BIGINT) AS n_grams,
         |    list_transform(range(1, greatest(len(hs) - ${WinnowW - 1}, 1) + 1),
         |      j -> list_min(hs[j:j+${WinnowW - 1}])) AS s
         |  FROM h),
         |fp AS (
         |  SELECT doc_id, n_grams, CAST(len(s) AS BIGINT) AS n_windows,
         |    list_sort(list_distinct(s)) AS f
         |  FROM sel)
         |SELECT doc_id, n_grams, n_windows, CAST(len(f) AS BIGINT) AS n_fp,
         |  f[1] AS fp_min, f[-1] AS fp_max
         |FROM fp""".stripMargin,
    "t12_char_entropy" ->
      s"""WITH c AS (
         |  SELECT doc_id, CAST(length(text) AS DOUBLE) AS n,
         |         $EntropyCountsSql AS ks
         |  FROM documents),
         |b AS (
         |  SELECT doc_id, n,
         |    list_append(ks,
         |      n - list_reduce(list_prepend(0.0, ks), (acc, x) -> acc + x)) AS bk
         |  FROM c),
         |e AS (
         |  SELECT doc_id, n, bk,
         |    CASE WHEN n > 0 THEN list_reduce(list_prepend(0.0,
         |      list_transform(bk, c ->
         |        CASE WHEN c > 0 THEN -(c / n) * log2(c / n) ELSE 0.0 END)),
         |      (acc, x) -> acc + x) END AS h
         |  FROM b)
         |SELECT doc_id, round(h, 6) AS entropy,
         |  CASE WHEN n > 0 THEN floor(bk[28] / n * 1e6 + 0.5) / 1e6 END
         |    AS other_frac,
         |  coalesce(h < 2.5, true) AS low_entropy
         |FROM e""".stripMargin,
    "t01_langid" -> {
      // fixed argmax ladder: strictly-greater wins, ties keep earlier lang
      s"""WITH rated AS (
         |  SELECT doc_id, lang,
         |         ${rateSql("en")} AS r_en, ${rateSql("de")} AS r_de,
         |         ${rateSql("fr")} AS r_fr, ${rateSql("es")} AS r_es,
         |         ${rateSql("zh")} AS r_zh
         |  FROM documents),
         |picked AS (
         |  SELECT doc_id, lang, r_en,
         |    CASE
         |      WHEN r_zh > greatest(r_en, r_de, r_fr, r_es) THEN 'zh'
         |      WHEN r_es > greatest(r_en, r_de, r_fr) THEN 'es'
         |      WHEN r_fr > greatest(r_en, r_de) THEN 'fr'
         |      WHEN r_de > r_en THEN 'de'
         |      ELSE 'en' END AS predicted
         |  FROM rated)
         |SELECT doc_id, lang AS actual, predicted, round(r_en, 6) AS rate_en,
         |  CAST(predicted = lang AS INT) AS hit
         |FROM picked""".stripMargin
    },
    "t02_quality_score" ->
      s"""WITH feat AS (
         |  SELECT doc_id,
         |    len(string_split(text, ' ')) AS n_tokens,
         |    CAST(list_reduce(list_prepend(0, list_transform(string_split(text, ' '), t -> len(t))),
         |         (a, x) -> a + x) AS DOUBLE) /
         |      nullif(CAST(len(string_split(text, ' ')) AS DOUBLE), 0.0) AS mean_tok_len,
         |    ${rateSql("en")} AS stop_ratio,
         |    CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE) /
         |      nullif(CAST(len(string_split(text, ' ')) AS DOUBLE), 0.0) AS distinct_ratio
         |  FROM documents)
         |SELECT doc_id, n_tokens,
         |  round(mean_tok_len, 6) AS mean_tok_len,
         |  round(stop_ratio, 6) AS stop_ratio,
         |  round(distinct_ratio, 6) AS distinct_ratio,
         |  round(100.0 * (0.25 * least(CAST(n_tokens AS DOUBLE) / 50.0, 1.0) +
         |        0.25 * least(mean_tok_len / 6.0, 1.0) +
         |        0.25 * (1.0 - stop_ratio) +
         |        0.25 * distinct_ratio), 6) AS quality_score
         |FROM feat""".stripMargin,
    "t03_token_stats" ->
      """SELECT source, count(*) AS docs,
        |  CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS total_tokens,
        |  round(avg(CAST(len(string_split(text, ' ')) AS DOUBLE)), 6) AS avg_tokens_per_doc,
        |  CAST(sum(n_chars) AS BIGINT) AS total_chars,
        |  round(avg(CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE) /
        |        nullif(CAST(len(string_split(text, ' ')) AS DOUBLE), 0.0)), 6) AS avg_distinct_ratio
        |FROM documents GROUP BY source""".stripMargin,
    "t05_repetition" ->
      """WITH base AS (
        |  SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
        |grams AS (
        |  SELECT doc_id, tk,
        |    list_transform(list_zip(tk[:len(tk)-1], tk[2:]),
        |                   s -> s[1] || ' ' || s[2]) AS bg
        |  FROM base),
        |tri AS (
        |  SELECT doc_id, tk, bg,
        |    list_transform(list_zip(bg[:len(bg)-1], tk[3:]),
        |                   s -> s[1] || ' ' || s[2]) AS tg
        |  FROM grams)
        |SELECT doc_id, len(tk) AS n_tokens,
        |  floor(CAST(list_max(list_transform(list_distinct(tk),
        |        w -> len(list_filter(tk, t -> t = w)))) AS DOUBLE) /
        |      nullif(CAST(len(tk) AS DOUBLE), 0.0) * 1e6 + 0.5) / 1e6
        |    AS top_token_frac,
        |  CASE WHEN len(bg) > 0 THEN floor((1.0 -
        |      CAST(len(list_distinct(bg)) AS DOUBLE) / CAST(len(bg) AS DOUBLE))
        |      * 1e6 + 0.5) / 1e6 ELSE 0.0 END AS dup_bigram_frac,
        |  CASE WHEN len(tg) > 0 THEN floor((1.0 -
        |      CAST(len(list_distinct(tg)) AS DOUBLE) / CAST(len(tg) AS DOUBLE))
        |      * 1e6 + 0.5) / 1e6 ELSE 0.0 END AS dup_trigram_frac
        |FROM tri""".stripMargin,
    "t06_gopher_rules" ->
      s"""WITH $GopherFeatCte
         |SELECT doc_id, n_words,
         |  round(mean_word_len, 6) AS mean_word_len,
         |  round(alpha_word_frac, 6) AS alpha_word_frac,
         |  round(symbol_ratio, 6) AS symbol_ratio,
         |  stop_hits,
         |  CAST($GopherPassSql AS INT) AS gopher_pass
         |FROM feat""".stripMargin,
    "t19_zipf_stats" ->
      // lns quantized onto the 1e-6 integer grid BEFORE the fit sums
      // (JVM Math.log vs DuckDB ln last-ulp); the sums are then exact
      // BIGINT and the slope one identical double op chain
      """WITH tok AS (
        |  SELECT unnest(string_split(text, ' ')) AS tok FROM documents),
        |freq AS (
        |  SELECT tok, CAST(count(*) AS BIGINT) AS freq FROM tok GROUP BY tok),
        |top AS (
        |  SELECT CAST(floor(ln(CAST(r AS DOUBLE)) * 1e6 + 0.5) AS BIGINT) AS xi,
        |         CAST(floor(ln(CAST(freq AS DOUBLE)) * 1e6 + 0.5) AS BIGINT) AS yi
        |  FROM (SELECT freq,
        |          row_number() OVER (ORDER BY freq DESC, tok) AS r
        |        FROM freq)
        |  WHERE r <= 1000),
        |fit AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n,
        |         CAST(sum(xi) AS BIGINT) AS sx, CAST(sum(yi) AS BIGINT) AS sy,
        |         CAST(sum(xi * yi) AS BIGINT) AS sxy,
        |         CAST(sum(xi * xi) AS BIGINT) AS sxx
        |  FROM top),
        |corpus AS (
        |  SELECT CAST(count(*) AS BIGINT) AS vocab_size,
        |         CAST(sum(freq) AS BIGINT) AS total_tokens,
        |         CAST(sum(CASE WHEN freq = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |           AS hapax
        |  FROM freq)
        |SELECT vocab_size, total_tokens, hapax,
        |  floor(CAST(hapax AS DOUBLE) / CAST(vocab_size AS DOUBLE) * 1e6 + 0.5)
        |    / 1e6 AS hapax_frac,
        |  floor(CAST(vocab_size AS DOUBLE) / CAST(total_tokens AS DOUBLE) * 1e6
        |    + 0.5) / 1e6 AS ttr,
        |  floor((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
        |         - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        |        / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
        |           - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) * 1e6 + 0.5)
        |    / 1e6 AS zipf_slope
        |FROM corpus, fit""".stripMargin,
    "t07_vocab_topk" ->
      """WITH tok AS (
        |  SELECT unnest(string_split(text, ' ')) AS token FROM documents),
        |counted AS (
        |  SELECT token, CAST(count(*) AS BIGINT) AS n FROM tok GROUP BY token),
        |tot AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM counted)
        |SELECT token, n,
        |  round(CAST(n AS DOUBLE) / CAST(total AS DOUBLE), 6) AS share,
        |  CAST(row_number() OVER (ORDER BY n DESC, token) AS BIGINT)
        |    AS vocab_rank
        |FROM counted, tot
        |ORDER BY n DESC, token LIMIT 100""".stripMargin,
    "t04_fingerprint" ->
      """WITH fps AS (
        |  SELECT doc_id,
        |         md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ')) AS fp
        |  FROM documents)
        |SELECT doc_id, fp, substr(fp, 1, 16) AS fp_short,
        |  count(*) OVER (PARTITION BY fp) AS fp_group
        |FROM fps""".stripMargin,
    "t10_quality_buckets" ->
      s"""WITH $LmScoredCtes,
         |$LmThrCte
         |SELECT doc_id, n_tokens, lm_logprob,
         |  CASE WHEN lm_logprob >= t_hi THEN 'head'
         |       WHEN lm_logprob >= t_lo THEN 'middle'
         |       ELSE 'tail' END AS bucket
         |FROM scored, thr""".stripMargin,
    "t09_lm_score" ->
      s"""WITH $LmScoredCtes
         |SELECT doc_id, n_tokens, lm_logprob FROM scored""".stripMargin,
    "t20_bigram_lm" ->
      s"""WITH $BiScoredCtes
         |SELECT doc_id, n_bigrams, bi_logprob FROM biscored""".stripMargin,
    "t23_lang_fertility" ->
      // t11's extraction, ratios of EXACT integer sums per language
      s"""WITH ext AS (
         |  SELECT lang, text,
         |    list_filter(
         |      regexp_extract_all(text, '${BpePattern.replace("'", "''")}'),
         |      t -> NOT regexp_matches(t, '^\\s+$$')) AS bpe
         |  FROM documents)
         |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_words,
         |  CAST(sum(len(bpe)) AS BIGINT) AS n_bpe_tokens,
         |  floor(CAST(sum(len(text)) AS DOUBLE) /
         |    nullif(CAST(sum(len(bpe)) AS DOUBLE), 0.0) * 1e6 + 0.5) / 1e6
         |    AS chars_per_token,
         |  floor(CAST(sum(len(bpe)) AS DOUBLE) /
         |    nullif(CAST(sum(len(string_split(text, ' '))) AS DOUBLE), 0.0)
         |    * 1e6 + 0.5) / 1e6 AS fertility
         |FROM ext GROUP BY lang""".stripMargin,
    "t22_boilerplate" ->
      // d07's line-recovery spelling, t06's stopword-hit spelling, exact
      // integer classification, FILTER'd reassembly (coalesce: a doc with
      // zero content lines must yield '' in both engines)
      s"""WITH docs AS (
         |  SELECT doc_id, string_split(text, ' ') AS t
         |  FROM documents WHERE len(text) >= 8),
         |chunked AS (
         |  SELECT doc_id,
         |    list_transform(range(0, (len(t) + 11) // 12),
         |      i -> array_to_string(t[i*12+1 : i*12+12], ' ')) AS lines
         |  FROM docs),
         |ln AS (
         |  SELECT doc_id, CAST(len(lines) AS BIGINT) AS n_lines,
         |    unnest(lines) AS line,
         |    generate_subscripts(lines, 1) AS line_no
         |  FROM chunked),
         |cls AS (
         |  SELECT doc_id, n_lines, line, line_no,
         |    (len(list_filter(string_split(line, ' '), t -> t != ''))
         |       >= $BoilerMinWords
         |     AND len(list_intersect(list_distinct(string_split(line, ' ')),
         |       [${inList(stop("en"))}])) >= 1) AS content
         |  FROM ln)
         |SELECT doc_id, n_lines,
         |  CAST(sum(CASE WHEN content THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_content,
         |  coalesce(string_agg(line, chr(10) ORDER BY line_no)
         |    FILTER (WHERE content), '') AS clean_text,
         |  floor(CAST(n_lines - sum(CASE WHEN content THEN 1 ELSE 0 END)
         |      AS DOUBLE) / n_lines * 1e6 + 0.5) / 1e6 AS removed_frac
         |FROM cls GROUP BY doc_id, n_lines""".stripMargin,
    "t21_readability" ->
      // same three row-local counts, same IEEE chain (e-notation literals
      // so DuckDB parses doubles, not DECIMALs), same floor-rounding and
      // rounded-threshold flag
      """WITH base AS MATERIALIZED (
        |  SELECT doc_id,
        |    CAST(len(list_filter(string_split(text, ' '), t -> t != ''))
        |      AS BIGINT) AS n_words,
        |    CAST(greatest(len(regexp_extract_all(text, '[.!?]+')), 1)
        |      AS BIGINT) AS n_sentences,
        |    CAST(len(regexp_extract_all(lower(text), '[aeiouy]+'))
        |      AS BIGINT) AS n_syllables
        |  FROM documents WHERE len(text) > 0),
        |sc AS (
        |  SELECT doc_id, n_words, n_sentences, n_syllables,
        |    CAST(n_words AS DOUBLE) /
        |      nullif(CAST(n_sentences AS DOUBLE), 0.0) AS wps,
        |    CAST(n_syllables AS DOUBLE) /
        |      nullif(CAST(n_words AS DOUBLE), 0.0) AS spw
        |  FROM base)
        |SELECT doc_id, n_words, n_sentences, n_syllables,
        |  floor((206835e-3 - 1015e-3 * wps - 846e-1 * spw) * 1e6 + 0.5)
        |    / 1e6 AS flesch,
        |  floor((39e-2 * wps + 118e-1 * spw - 1559e-2) * 1e6 + 0.5)
        |    / 1e6 AS fk_grade,
        |  floor((206835e-3 - 1015e-3 * wps - 846e-1 * spw) * 1e6 + 0.5)
        |    / 1e6 >= 60e0 AS readable
        |FROM sc""".stripMargin,
    "t08_pii_scrub" ->
      """WITH injected AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 5 = 0 THEN
        |      text || ' contact user' || doc_id || '@ex' || (doc_id % 7)
        |           || '.com from 10.' || (doc_id % 250) || '.'
        |           || ((doc_id * 3) % 250) || '.77'
        |    ELSE text END AS txt
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(txt,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT)
        |    AS n_emails,
        |  CAST(len(regexp_extract_all(txt,
        |    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS BIGINT) AS n_ips,
        |  regexp_replace(regexp_replace(txt,
        |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g') AS redacted
        |FROM injected""".stripMargin,
    "t11_bpe_tokens" ->
      // the identical pattern string ([[BpePattern]]); DuckDB's RE2 and
      // Spark's java.util.regex agree on it by construction (see scaladoc)
      s"""WITH ext AS (
         |  SELECT doc_id, text,
         |    list_filter(
         |      regexp_extract_all(text, '${BpePattern.replace("'", "''")}'),
         |      t -> NOT regexp_matches(t, '^\\s+$$')) AS bpe
         |  FROM documents)
         |SELECT doc_id,
         |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
         |  CAST(len(bpe) AS BIGINT) AS n_bpe_tokens,
         |  round(CAST(len(text) AS DOUBLE) /
         |    nullif(CAST(len(bpe) AS DOUBLE), 0.0), 6) AS chars_per_token,
         |  round(CAST(len(bpe) AS DOUBLE) /
         |    nullif(CAST(len(string_split(text, ' ')) AS DOUBLE), 0.0), 6)
         |    AS fertility
         |FROM ext""".stripMargin)
}
