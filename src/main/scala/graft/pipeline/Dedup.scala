package graft.pipeline

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines (beyond the
  * reference's surface; prompt-mandated first-class components).
  *
  * The synthetic corpus has no natural duplicates, so the dup-producing
  * queries union the corpus with deterministic perturbed clones (every
  * third doc) — the operators then have real work to do and the DuckDB
  * oracle replays the same construction.
  *
  * Scale design: everything is shuffle-on-key relational algebra — exact
  * dedup is one hash aggregate on the content hash; n-gram/MinHash paths
  * build an inverted index (explode → groupBy) whose candidate join touches
  * only co-bucketed pairs, never the full N² cross join. At 100 TB the
  * shingle df-cap bounds the inverted-index fanout (drops stop-shingles),
  * exactly like production LSH dedup pipelines.
  */
object Dedup {
  private type Q = (SparkSession, String) => DataFrame

  /** Corpus ∪ perturbed clones: every 3rd doc reappears with a new id and
    * the last 20 chars replaced — near-dup but not exact-dup.
    */
  private[graft] def withClones(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), col("text"))
      .unionAll(docs.filter(col("doc_id") % 3 === 0)
        .select((col("doc_id") + 1000000).as("doc_id"),
          concat(substring_fn(col("text")),
            lit(" perturbed tail marker")).as("text")))

  private def substring_fn(c: Column): Column =
    substr(c, lit(1), greatest(length(c) - 20, lit(0)))

  private val CLONES_SQL =
    """uni AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 1000000 AS doc_id,
      |         substr(text, 1, greatest(len(text) - 20, 0)) || ' perturbed tail marker' AS text
      |  FROM documents WHERE doc_id % 3 = 0)""".stripMargin

  /** Character n-gram set of a text column (1-based positions, identical in
    * DuckDB as `list_transform(generate_series(1, len(t)-n+1), i -> substr(t, i, n))`).
    */
  def charShingles(c: Column, n: Int): Column =
    array_distinct(transform(
      sequence(lit(1), length(c) - (n - 1)),
      i => substr(c, i, lit(n))))

  /** D1 — exact dedup by content hash: canonical id + group size per doc.
    * One window over md5(text); at scale this is the plain
    * hash-partition-by-digest pass.
    */
  private val exact: Q = (s, dir) => {
    val uni = withClones(Tables.documents(s, dir)).filter(length(col("text")) >= 8)
    val w = Window.partitionBy(md5(col("text")))
    uni.select(col("doc_id"),
        min(col("doc_id")).over(w).as("canonical"),
        count(lit(1)).over(w).as("group_size"))
      .withColumn("is_dup", (col("doc_id") =!= col("canonical")).cast("int"))
  }

  /** D2 — n-gram Jaccard near-dup: inverted index on rare 8-gram shingles
    * proposes candidate pairs; exact 3-gram Jaccard confirms. The df ≤ 4
    * cap bounds index fanout (a stop-shingle shared by everything would
    * otherwise quadratically explode the candidate join).
    */
  private val ngramJaccard: Q = (s, dir) => {
    import graft.functions.TextHashCols.{hashedShingles, sortedIntersectCount}
    val uni = withClones(Tables.documents(s, dir))
      .filter(length(col("text")) >= 8)
    // Doc-level projection, computed ONCE per doc and cached: the hashed
    // shingle sets come from the codegen'd [[graft.functions
    // .HashedShingles]] kernel (one pass over the string, vs the
    // interpreted sequence→transform→array_distinct lambda chain), and the
    // 3-gram set size n3 rides along so the length-ratio prefilter needs
    // no later size-lookup joins. The persist is ALSO an optimizer
    // barrier: without it Catalyst plans a computed column that must
    // survive an explode (here n3) into the Project ABOVE the Generate,
    // re-evaluating the 3-gram kernel once per exploded shingle row —
    // measured 300x the work (17.8 s vs 60 ms at sf0.1). Hashed 8-byte
    // join keys keep the index narrow; df counts and the candidate set
    // are identical modulo 64-bit collisions (~1e-7 at corpus scale).
    // r14 (guide §1.2): BOTH shingle kernels run in ONE document pass and
    // land in the checkpoint — before, the barrier ran the 3-gram kernel
    // only for n3, the index ran the 8-gram kernel over the checkpointed
    // text, and the verify stage's `tri` was an unbarriered select joined
    // on both pair sides (two more full doc scans × the 3-gram kernel).
    // The checkpoint now IS the materialized shingle index of a staged
    // dedup pipeline — hashed arrays instead of raw text.
    val docsIdx = graft.Tables.barrier(uni
      .select(col("doc_id"), hashedShingles(col("text"), 3).as("g3"),
        hashedShingles(col("text"), 8).as("g8"))
      .withColumn("n3", size(col("g3"))))
    // the inverted index feeds the df counts and both sides of the
    // candidate self-join (the materialized index table of a staged dedup
    // pipeline — at scale THIS is what you keep, not the raw text)
    val sh8 = docsIdx.select(col("doc_id"), col("n3"),
      explode(col("g8")).as("sh"))
    val rare = sh8.groupBy(col("sh")).agg(count(lit(1)).as("df"))
      .filter(col("df") >= 2 && col("df") <= 4)
    // identical-plan self-join sides share one shuffle via ReusedExchange
    val indexed = sh8.join(rare, "sh")
    // length-ratio prefilter: J = I/(na+nb−I) and I ≤ min(na,nb) give
    // J ≤ min/max, so J ≥ 0.6 requires min/max ≥ 0.6 — candidates that
    // fail on set sizes alone never fetch their shingle arrays. Lossless.
    val cands = indexed
      .select(col("doc_id").as("a"), col("n3").as("na"), col("sh"))
      .join(indexed.select(col("doc_id").as("b"), col("n3").as("nb"),
        col("sh")), "sh")
      .filter(col("a") < col("b") &&
        least(col("na"), col("nb")).cast("double") /
          greatest(col("na"), col("nb")) >= 0.6)
      .select("a", "b", "na", "nb").distinct()
    val tri = docsIdx.select(col("doc_id"), col("g3"))
    // exact verify: intersect hashed 3-gram arrays row-locally per pair —
    // no pair×gram explode, no 3-gram shuffle (same shape as D3's verify);
    // g3 reads the checkpoint (the kernel ran once, in the docsIdx pass)
    cands
      .join(tri.select(col("doc_id").as("a"), col("g3").as("ga")), "a")
      .join(tri.select(col("doc_id").as("b"), col("g3").as("gb")), "b")
      .withColumn("inter", sortedIntersectCount(col("ga"), col("gb")))
      .withColumn("jaccard", col("inter").cast("double") /
        (col("na") + col("nb") - col("inter")))
      .filter(col("jaccard") >= 0.6)
      .select(col("a"), col("b"), round(col("jaccard"), 6).as("jaccard"))
  }

  /** D3 — MinHash + LSH banding: 32 permutations, 16 bands × 2 rows
    * (2-row bands keep candidate recall high down to the corpus's
    * worst-case clone jaccard ~0.31, the 44-char docs); band-equality join
    * proposes pairs, a signature-agreement prefilter prunes random
    * collisions, exact 8-gram Jaccard ≥ 0.3 verifies. xxhash64 has no
    * DuckDB twin, so the correctness gate is the ScalaTest spec (all
    * injected clone pairs recovered, every output pair at/above threshold)
    * rather than a SQL oracle.
    */
  /** d03's signature + banded-candidate stage, factored out so the
    * scaling spec can pin candidates-per-doc across scale factors (the
    * linearity the band-bucket cap buys). Returns the barrier'd signature
    * table and the capped candidate pairs.
    */
  def lshStage(uni: DataFrame): (DataFrame, DataFrame) = {
    import graft.functions.TextHashCols.{hashedShingles, minhashSig}
    // minhash signature: the codegen'd [[graft.functions.MinHashSig]]
    // kernel hashes each shingle once and derives the 32 "permutations" by
    // re-hashing that single long with the perm index (the MinHashLSH
    // independent-permutation trick, ANSI-safe unlike affine h*a+b) — all
    // row-local, so the signature stage is a pure projection over the
    // document scan: no explode, no shuffle. (Round 1 shaped this as
    // explode + 32 min aggregates: scale-safe, but it paid a 2M-row
    // shingle shuffle for a per-row function, and wide aggregates fall
    // out of whole-stage codegen.) Values are bit-equal to the SQL form.
    // One signature row per doc, referenced 4x downstream — persist
    // (the materialized signature table of a staged dedup pipeline).
    //
    // Optimization r14 (guide §1.2 "don't compute things twice" / §2.3):
    // the hashed 8-gram set `g8` is computed HERE, in the same single
    // document pass as the signature, and checkpointed alongside it.
    // Before, the exact-verify stage's `tri` frame was an unbarriered
    // select joined on BOTH pair sides — two additional full document
    // scans each re-running the shingle kernel. Its size `n8` rides
    // through the (still narrow: doc_id, band, key, n8) band rows to
    // drive the size-ratio prefilter below the band self-join.
    val sig = graft.Tables.barrier(uni
      .select(col("doc_id"), minhashSig(col("text")).as("sig"),
        hashedShingles(col("text"), 8).as("g8")))
      // no isNotNull filter: the len>=8 guard already guarantees a
      // shingle, and a filter on the computed column would be pushed into
      // the parquet scan as isnotnull(minhash_sig(text)) — re-running the
      // whole kernel once more per row inside the scan filter
    // 16 bands x 2 rows: band key = hash of the 2 row minima. One explode,
    // not a 16-way unionAll — a union would re-execute the signature scan
    // per band. The band rows stay NARROW (doc_id, band, key): carrying
    // the 256-byte signature through the self-join was measured 1.5x
    // slower — the join materializes ~1M pre-filter output rows, and
    // copying two signature arrays into each costs more than re-attaching
    // signatures to the 430k deduped pairs afterwards.
    val bands = sig.select(col("doc_id"), size(col("g8")).as("n8"),
        explode(array((0 until 16).map { b =>
          struct(lit(b).as("band"),
            xxhash64(element_at(col("sig"), b * 2 + 1),
              element_at(col("sig"), b * 2 + 2)).as("key"))
        }: _*)).as("bk"))
      .select(col("doc_id"), col("n8"),
        col("bk.band").as("band"), col("bk.key").as("key"))
    // Band-bucket cap (the LSH twin of d02's df≤4 shingle cap): a band key
    // shared by k docs contributes k²/2 candidate pairs, and on a
    // same-language corpus the handful of popular band keys carry most of
    // the quadratic noise — measured at sf0.1: buckets >16 docs were 68%
    // of all candidates while every injected clone pair collides in a
    // bucket of ≤8 docs (popular keys = common shingle structure, not
    // near-duplication). Dropping buckets over the cap makes the self-join
    // output ≤ cap·|bands| — LINEAR in the corpus, the property that lets
    // this run at 100 TB. Cap 16 = 2× the observed worst clone bucket;
    // PipelineSpec's full-recall pin guards the margin.
    val BandBucketCap = 16
    val capped = bands
      .withColumn("df", count(lit(1)).over(
        Window.partitionBy(col("band"), col("key"))))
      .filter(col("df") <= BandBucketCap)
      .select(col("doc_id"), col("n8"), col("band"), col("key"))
    // Size-ratio prefilter BELOW the band self-join (optimization r14,
    // r13 verdict #4; the d02 length-ratio idiom): J = I/(n8a+n8b−I) with
    // I ≤ min gives J ≤ min/max, so J ≥ 0.3 — the verify threshold —
    // requires min(n8a,n8b)/max ≥ 0.3. Pairs failing on set sizes alone
    // are dropped before the distinct and before any signature or shingle
    // array is fetched. Lossless for d03's output by construction; the
    // injected clone pairs all sit at/above the threshold, so candidate
    // recall is untouched (PipelineSpec pins it).
    val cands = capped.alias("x").join(capped.alias("y"), Seq("band", "key"))
      .filter(col("x.doc_id") < col("y.doc_id") &&
        least(col("x.n8"), col("y.n8")).cast("double") /
          greatest(col("x.n8"), col("y.n8")) >= 0.3)
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b")).distinct()
    (sig, cands)
  }

  private val minhashLsh: Q = (s, dir) => {
    import graft.functions.TextHashCols.sortedIntersectCount
    val uni = withClones(Tables.documents(s, dir))
      .filter(length(col("text")) >= 8)
    val perms = 32
    val (sig, cands) = lshStage(uni)
    // 2-row bands keep recall high down to j~0.3 (shortest docs) but admit
    // ~16j² of random pairs — same-language corpora sit at j≈0.1, so ~6%
    // quadratic noise. The signature-agreement prefilter (>=6 of 32
    // components equal; a random pair that collided in one band matches
    // ~2+Binom(30,j) components) kills it before the exact verify ever
    // sees a shingle. The cached 6.7k-row signature table broadcasts, so
    // attaching both sides' signatures moves no pair data.
    val sigA = sig.select(col("doc_id").as("a"), col("sig").as("siga"))
    val sigB = sig.select(col("doc_id").as("b"), col("sig").as("sigb"))
    val matches = (0 until perms)
      .map(i => (element_at(col("siga"), i + 1) ===
        element_at(col("sigb"), i + 1)).cast("int"))
      .reduce(_ + _)
    val likely = cands.join(sigA, "a").join(sigB, "b")
      .filter(matches >= 6).select("a", "b")
    // exact verify on the survivors with the SAME 8-gram measure the index
    // uses (3-gram sets saturate across any two same-language texts), over
    // hashed shingles — long arrays intersect ~10x cheaper than 8-char
    // string arrays and ship ~6x smaller through the join. r14: g8 comes
    // from the signature checkpoint — the kernel ran ONCE in the sig pass;
    // this used to be an unbarriered doc re-scan per join side.
    val tri = sig.select(col("doc_id"), col("g8"))
    likely
      .join(tri.select(col("doc_id").as("a"), col("g8").as("ga")), "a")
      .join(tri.select(col("doc_id").as("b"), col("g8").as("gb")), "b")
      .withColumn("inter", sortedIntersectCount(col("ga"), col("gb")))
      .withColumn("jaccard", col("inter").cast("double") /
        (size(col("ga")) + size(col("gb")) - col("inter")))
      .filter(col("jaccard") >= 0.3)
      .select(col("a"), col("b"), round(col("jaccard"), 6).as("jaccard"))
  }

  /** Shared 60-bit hash both engines compute bit-identically: the first 15
    * hex chars of md5 parsed as an integer. Spark `conv(substring(md5(x),
    * 1, 15), 16, 10)` ≡ DuckDB `('0x' || substr(md5(x), 1, 15))::BIGINT` —
    * md5 is byte-defined, so cross-engine agreement is by construction
    * (round-5 VERDICT #8: the xxhash64-based d03/d04 have no DuckDB twin;
    * this hash gives their md5 variants a real SQL oracle).
    */
  private[pipeline] def md5Hash60(c: Column): Column =
    conv(substring(md5(c.cast("binary")), 1, 15), 16, 10).cast("long")

  /** Universal-hash mixing for the md5-family minhash components: ONE
    * md5 per token (the strong base hash) + 16 integer mixes
    * component_i(h) = ((h mod P)·A_i + B_i) mod P over the Mersenne
    * prime P = 2³¹−1 — the standard "one strong hash, pairwise-
    * independent permutation family" minhash construction (Broder 1997).
    * First version hashed H(i‖token) — 16 md5 calls per token; the mix
    * family is bit-identical across engines like the base hash, and cut
    * d03b 4.3 → ~1 s at sf0.1.
    */
  private val MinhashP = 2147483647L
  private def mixComponent(h: Column, i: Column): Column =
    pmod(pmod(h, lit(MinhashP)) *
        pmod(lit(1099511628211L) * (i + 1), lit(MinhashP)) +
        pmod(lit(40503L) * (i + 7), lit(MinhashP)),
      lit(MinhashP))

  /** The DuckDB twin of [[mixComponent]] (h, i as SQL fragments). */
  private def mixSql(h: String, i: String): String =
    s"(($h % $MinhashP) * ((1099511628211 * ($i + 1)) % $MinhashP)" +
      s" + (40503 * ($i + 7)) % $MinhashP) % $MinhashP"

  /** D3b — MinHash+LSH over the [[md5Hash60]] family: the d03 pipeline
    * shape (signature → banded candidates → bucket cap → exact verify)
    * re-expressed so EVERY stage has a DuckDB twin and the whole operator
    * is oracle-gated, not spec-gated. 16 "permutations" over distinct
    * word tokens (component i = min over tokens of [[mixComponent]] of
    * the per-token base hash), 8 bands × 2
    * rows joined on both components, the same linearity-preserving
    * band-bucket cap, exact token-set Jaccard ≥ 0.5 verify (row-local
    * array_intersect; the oracle replays it as a token equi-join).
    *
    * Both engines compute the SAME banding, so candidate-set parity —
    * LSH's approximation included — is by construction. The signature
    * stage is a row-local projection (no shuffle); candidates shuffle on
    * the band key; per-bucket pairs are capped ⇒ linear, d03's scale
    * story unchanged.
    */
  private val BandBucketCapB = 16

  /** d04b band-bucket cap (see the band stage comment). */
  private val SimBucketCap = 64

  private val minhashMd5: Q = (s, dir) => {
    val uni = withClones(Tables.documents(s, dir))
      .filter(length(col("text")) >= 8)
    val toked = uni.select(col("doc_id"),
      array_distinct(filter(split(col("text"), " "), t => t =!= lit("")))
        .as("toks"))
    // base hashes materialized BEFORE the 16-component fold — the t13
    // lesson: a lambda referencing the md5 chain would inline it per
    // component (16× the hash calls)
    val hashed = Tables.barrier(toked.select(col("doc_id"), col("toks"),
      transform(col("toks"), t => md5Hash60(t)).as("hs")))
    val sig = Tables.barrier(hashed.select(col("doc_id"), col("toks"),
      transform(sequence(lit(0), lit(15)),
        i => array_min(transform(col("hs"),
          h => mixComponent(h, i)))).as("sig")))
    val bands = sig.select(col("doc_id"), size(col("toks")).as("nt"),
        explode(array((0 until 8).map { b =>
          struct(lit(b).as("band"),
            element_at(col("sig"), b * 2 + 1).as("k1"),
            element_at(col("sig"), b * 2 + 2).as("k2"))
        }: _*)).as("bk"))
      .select(col("doc_id"), col("nt"), col("bk.band").as("band"),
        col("bk.k1").as("k1"), col("bk.k2").as("k2"))
    val capped = bands
      .withColumn("df", count(lit(1)).over(
        Window.partitionBy(col("band"), col("k1"), col("k2"))))
      .filter(col("df") <= BandBucketCapB)
      .select(col("doc_id"), col("nt"), col("band"), col("k1"), col("k2"))
    // size-ratio prefilter below the self-join (the d03/d02 idiom, r14):
    // J ≥ 0.5 ⇒ min(|toks|)/max(|toks|) ≥ 0.5 — drops pairs the verify
    // would reject anyway, BEFORE the distinct and the token-array joins.
    // Output-lossless, so the DuckDB oracle (which replays band+verify
    // without the prefilter) still matches row-for-row.
    val cands = capped.alias("x").join(capped.alias("y"),
        Seq("band", "k1", "k2"))
      .filter(col("x.doc_id") < col("y.doc_id") &&
        least(col("x.nt"), col("y.nt")).cast("double") /
          greatest(col("x.nt"), col("y.nt")) >= 0.5)
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b")).distinct()
    val tk = sig.select(col("doc_id"), col("toks"))
    cands
      .join(tk.select(col("doc_id").as("a"), col("toks").as("ta")), "a")
      .join(tk.select(col("doc_id").as("b"), col("toks").as("tb")), "b")
      .withColumn("inter", size(array_intersect(col("ta"), col("tb"))))
      .withColumn("jaccard", col("inter").cast("double") /
        (size(col("ta")) + size(col("tb")) - col("inter")))
      .filter(col("jaccard") >= 0.5)
      .select(col("a"), col("b"), round(col("jaccard"), 6).as("jaccard"))
  }

  /** D4b — SimHash over the [[md5Hash60]] family, fully SQL-oracled like
    * [[minhashMd5]]: 24-bit signature (bit k = sign of the ±1 vote sum of
    * the distinct tokens' hash bit k), candidates by equality of either
    * 12-bit half, confirmed at Hamming ≤ 3. The d04 operator (64-bit,
    * adaptive bands, spec-gated recall) remains the scale path; this twin
    * exists so the simhash FAMILY has a cross-engine oracle row — both
    * engines compute the identical signature, banding, and popcount, so
    * the hash-compare pins every stage.
    */
  private val simhashMd5: Q = (s, dir) => {
    val uni = withClones(Tables.documents(s, dir))
      .filter(length(col("text")) >= 8)
    val toked = uni.select(col("doc_id"),
      array_distinct(filter(split(col("text"), " "), t => t =!= lit("")))
        .as("toks"))
    val hashed = toked.select(col("doc_id"),
      transform(col("toks"), t => md5Hash60(t)).as("hs"))
    val sim = (0 until 24).map { k =>
      when(aggregate(col("hs"), lit(0L),
          (acc, h) => acc + (shiftright(h, k).bitwiseAND(lit(1L)) * 2 - 1)) > 0,
        lit(1L << k)).otherwise(lit(0L))
    }.reduce(_ + _)
    val sig = Tables.barrier(
      hashed.select(col("doc_id"), sim.as("sim")))
    val bands = sig.select(col("doc_id"), col("sim"),
        explode(array(
          struct(lit(0).as("band"),
            col("sim").bitwiseAND(lit(4095L)).as("key")),
          struct(lit(1).as("band"),
            shiftright(col("sim"), 12).as("key")))).as("bk"))
      .select(col("doc_id"), col("sim"),
        col("bk.band").as("band"), col("bk.key").as("key"))
      // the d04 round-5 lesson, applied to the twin the first 10x run it
      // ever got: this corpus's 31-token vocabulary makes many docs share
      // a token SET, hence an identical signature — equal-sim buckets grow
      // with the corpus and the band join goes quadratic (measured 56 s at
      // 10x). The cap bounds candidates to cap·bands per doc — LINEAR —
      // and both engines drop the SAME over-cap buckets, so parity holds.
      .withColumn("df", count(lit(1)).over(
        Window.partitionBy(col("band"), col("key"))))
      .filter(col("df") <= SimBucketCap)
      .select(col("doc_id"), col("sim"), col("band"), col("key"))
    val cands = bands.alias("x").join(bands.alias("y"), Seq("band", "key"))
      .filter(col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a"), col("x.sim").as("sa"),
        col("y.doc_id").as("b"), col("y.sim").as("sb"))
      .distinct()
    cands
      .withColumn("hamming",
        bit_count(col("sa").bitwiseXOR(col("sb"))).cast("long"))
      .filter(col("hamming") <= 3)
      .select(col("a"), col("b"), col("hamming"))
  }

  /** D4 — SimHash: 64-bit signature from token xxhash64s, candidate pairs
    * by band equality over 8 rotated windows, confirmed at Hamming ≤ 12.
    * ScalaTest-gated like D3 (LSH recall is approximate by design; the
    * spec pins a deterministic floor on this fixed corpus).
    *
    * Scale design (round-5 sf1 measurement): band WIDTH adapts to the
    * corpus — `bits = clamp(8, log2(n/16), 24)` — so expected bucket
    * occupancy stays ~16 and the band self-join stays LINEAR in the
    * corpus (the s02 plane-count rule applied to simhash). With the
    * original fixed 8-bit keys the 256-entry band space made buckets grow
    * with n and the join quadratic: measured 3.3 s → 88.6 s (26×) on a
    * 10× corpus, where the h≤12 relation itself is semantically dense
    * (121 M qualifying pairs — the driver corpus draws from a 31-word
    * vocabulary, so token-frequency-similar docs really are simhash-near).
    * Widening the keys trades away only the loose tail (h→12 recall
    * decays ~(1−((64−bits)/64)^h)^8-style), while tight pairs — the
    * injected clones the spec floors, h ≲ 4 — keep ≳99 % recall at any
    * realistic corpus size. A d03-style bucket cap (4× expected
    * occupancy) guards the skew from low-entropy signatures.
    */
  private val simhash: Q = (s, dir) => {
    import graft.functions.TextHashCols.simhash64
    val uni = withClones(Tables.documents(s, dir))
      .filter(length(col("text")) >= 8)
    // bit b of the signature is set when more than half the token hashes
    // have bit b set (sum of +1/-1 > 0) — computed row-locally by the
    // codegen'd [[graft.functions.SimHash64]] kernel in one pass over the
    // string. (Round 1 shaped this as explode + 64 sum aggregates: the 64
    // aggregate columns fell out of whole-stage codegen and the token
    // shuffle cost 28 s at sf0.1 for what is a per-row function; values
    // are bit-equal.) trim filter = "has at least one token", matching
    // the exploded form where token-less docs produced no signature row.
    // One signature row per doc, referenced 4x downstream (both sides of
    // the band self-join and of the hamming verify) — persist it; at scale
    // this is the materialized signature table between pipeline stages.
    val sim = graft.Tables.barrier(uni
      .filter(trim(col("text")) =!= "")
      .select(col("doc_id"), simhash64(col("text")).as("simhash")))
    // adaptive band width: one count job picks bits so that expected
    // bucket occupancy n / 2^bits ≈ 16 (at 100 TB this comes from table
    // metadata, not a scan)
    val n = sim.count()
    val bits = math.max(8, math.min(24,
      64 - java.lang.Long.numberOfLeadingZeros(math.max(1L, n / 16) - 1)))
    val mask = (1L << bits) - 1
    val cap = 64 // 4x expected occupancy; d03's skew guard
    // one explode, not an 8-way unionAll (which would recompute the
    // signature scan per band); the 8-byte signature rides along, so the
    // hamming verify runs inline on the band join output — no signature
    // re-joins (round 1 paid two extra shuffles for them), and the
    // identical-plan self-join sides share one shuffle via ReusedExchange.
    // Band k = low `bits` of the signature rotated by k*8 — windows
    // overlap when bits > 8, which only correlates adjacent bands
    // (accounted in the recall estimate above).
    def rot(c: Column, r: Int): Column =
      if (r == 0) c
      else shiftleft(c, r).bitwiseOR(shiftrightunsigned(c, 64 - r))
    val banded = sim.select(col("doc_id"), col("simhash"),
        explode(array((0 until 8).map { k =>
          struct(lit(k).as("band"),
            rot(col("simhash"), k * 8).bitwiseAND(lit(mask)).as("key"))
        }: _*)).as("bk"))
      .select(col("doc_id"), col("simhash"), col("bk.band").as("band"),
        col("bk.key").as("key"))
      .withColumn("bucket_n", count(lit(1)).over(
        Window.partitionBy(col("band"), col("key"))))
      .filter(col("bucket_n") <= cap)
      .select(col("doc_id"), col("simhash"), col("band"), col("key"))
    banded.alias("x").join(banded.alias("y"), Seq("band", "key"))
      .filter(col("x.doc_id") < col("y.doc_id"))
      .withColumn("hamming",
        bit_count(col("x.simhash").bitwiseXOR(col("y.simhash"))))
      .filter(col("hamming") <= 12)
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"), col("hamming"))
      .distinct()
  }

  /** D5 — duplicate-cluster resolution: connected components over the D2
    * near-dup pair graph, each doc labeled with its cluster's minimum
    * doc_id (the canonical survivor a dedup pipeline keeps). Iterative
    * min-label propagation: each round every node adopts the smallest
    * label among itself and its neighbors — converges in O(component
    * diameter) rounds (near-dup clusters are shallow; capped at 20). The
    * per-round work is one equi-join + one min-aggregate, both
    * shuffle-on-key — the standard large-graph CC shape (no driver-side
    * graph, only a scalar convergence count per round). Oracle: DuckDB
    * recursive CTE computing min reachable id.
    */
  /** [[componentsBuild]] as a [[graft.SharedStage]]: the CC label table
    * is consumed by FOUR registry paths in one session (d05 itself, d06's
    * survivor rank, and p05/p09's near-dup manifest flag), and the
    * iterative propagation is the dedup family's most expensive stage.
    * Evaluate it once, checkpoint the label table (component-scale, not
    * corpus-scale), fan it out.
    */
  private val componentsStage = graft.SharedStage[DataFrame]("Dedup.components")
  private val components: Q = (s, dir) =>
    componentsStage(s, dir)(componentsBuild(s, dir).localCheckpoint())

  private def componentsBuild(s: SparkSession, dir: String): DataFrame =
    minLabelPropagation(ngramJaccard(s, dir).select(col("a"), col("b")))
      .select(col("id").as("doc_id"), col("label").as("canonical"),
        col("cluster_size"))

  /** The generic iterative min-label propagation over an (a, b) pair
    * list — (id, label, cluster_size) out. Shared by d05 (near-dup text
    * clusters) and s13 (mutual-kNN embedding clusters); the scale story
    * in the d05 scaladoc above is the same for any edge source.
    *
    * Each round does neighbor propagation PLUS pointer jumping (label ←
    * label's label — the path-compression half of the Kiveris et al.
    * 2014 / hash-to-min family): reach doubles per round, so convergence
    * is O(log diameter) rounds, not O(diameter). The text near-dup graph
    * is shallow either way, but s13's mutual-kNN graph carries a
    * ~450-node giant component whose diameter blows any constant
    * neighbor-only round cap — the jump makes 30 rounds enough for any
    * component a real corpus can produce (2³⁰ diameter). The fixpoint is
    * identical (component min), so d05's oracle is untouched.
    */
  private[pipeline] def minLabelPropagation(pairs: DataFrame): DataFrame = {
    // localCheckpoint (not persist): an iterative join must TRUNCATE the
    // lineage each round — caching alone leaves the logical plan growing
    // by one join+aggregate per round until analysis/codegen blows the
    // driver heap. Checkpointed partitions live on executors; only the
    // convergence COUNT ever reaches the driver.
    val edges = pairs
      .unionAll(pairs.select(col("b").as("a"), col("a").as("b")))
      .localCheckpoint(true)
    // Scale-adaptive algorithm dial (optimization r13, guide §1.2 step 1:
    // fix the distributed algorithm before the constants). The iterative
    // propagation pays ~20 tiny shuffle stages to convergence on the
    // mutual-kNN giant component — measured 6.5 s of s13's 7.1 s at sf0.1
    // for a 2 000-node / ~30 k-edge graph, pure per-stage scheduling
    // latency, and fusing two steps per materialization did NOT help (the
    // cost is stage-count-bound, not job-count-bound). The edge list is
    // edge-list-scale BY CONSTRUCTION for every caller (d05: banded
    // candidate pairs; s13: ≤ V·KnnK mutual edges), so below the dial the
    // components come from ONE executor-side union-find task over the
    // checkpointed edge blocks — same fixpoint (union-by-min root ≡
    // component min), zero shuffles, node-scale output. Above the dial
    // (`spark.graft.cc.localEdgeMax`, default 4M edges ≈ tens of MB of
    // task input) the O(log d)-round propagation below runs unchanged —
    // that is the 100 TB path; the dial trades a bounded single task
    // against ~20 distributed rounds exactly while the whole graph fits
    // one task comfortably. The count() probing the dial is an action on
    // the already-checkpointed edge RDD, not a second scan.
    val idsAreLong =
      pairs.schema.fields.take(2).forall(_.dataType ==
        org.apache.spark.sql.types.LongType)
    val localEdgeMax = pairs.sparkSession.conf
      .getOption("spark.graft.cc.localEdgeMax").flatMap(_.toLongOption)
      .getOrElse(4000000L)
    if (idsAreLong && edges.count() <= localEdgeMax) {
      val spark = pairs.sparkSession
      import spark.implicits._
      return edges.select(col("a"), col("b")).as[(Long, Long)]
        .coalesce(1)
        .mapPartitions(unionFindMinLabel)
        .toDF("id", "label", "cluster_size")
    }
    var labels = edges.select(col("a").as("id")).distinct()
      .withColumn("label", col("id"))
      .localCheckpoint(true)
    // Convergence probe: labels only ever DECREASE under min-propagation,
    // so the label sum is strictly monotone until fixpoint — comparing
    // sums is an exact changed-row test that costs one scalar aggregate
    // per round instead of a join against the previous labels.
    // coalesce: a clean corpus (zero near-dup edges) makes sum(label) NULL
    // over the empty frame — the probe must read 0, not NPE.
    def labelSum(df: org.apache.spark.sql.DataFrame): Long =
      df.agg(coalesce(sum(col("label")), lit(0L))).head.getLong(0)
    var prevSum = labelSum(labels)
    var converged = false
    var rounds = 0
    // One propagate-then-jump step as a LAZY plan transform, so two steps
    // can be fused into a single materialization below (optimization r13,
    // guide §1.2/§2.4): each materialized round previously paid one eager
    // localCheckpoint job + one convergence-sum job for ONE hop+jump;
    // fusing two steps per checkpoint halves both fixed costs while the
    // fixpoint (component min) and the sum-monotone convergence probe are
    // untouched. The duplicated `prop` subtree inside the jump self-join
    // is a shared Exchange (ReusedExchange; exchangeReuseEnabled default),
    // so the fused plan computes each step's aggregate once.
    def step(l: DataFrame): DataFrame = {
      val viaNeighbors = edges
        .join(l.withColumnRenamed("id", "a"), "a")
        .select(col("b").as("id"), col("label"))
      val prop = l.unionAll(viaNeighbors)
        .groupBy(col("id")).agg(min(col("label")).as("label"))
      // pointer jump: adopt the label OF the label (left join — a label
      // is itself a node id, but guard the frame-empty edge anyway)
      prop
        .join(prop.select(col("id").as("label"), col("label").as("l2")),
          Seq("label"), "left")
        .select(col("id"), coalesce(col("l2"), col("label")).as("label"))
    }
    // 15 fused rounds = the previous 30 single steps' reach guarantee
    while (!converged && rounds < 15) {
      val next = step(step(labels)).localCheckpoint(true)
      val nextSum = labelSum(next)
      labels = next
      converged = nextSum == prevSum
      prevSum = nextSum
      rounds += 1
    }
    finishLabels(labels)
  }

  /** Path-compressed union-find with union-by-min-root over one task's
    * edge iterator: the root of every set is always its minimum id, so the
    * final `find` of each node IS the component min — bit-identical to the
    * iterative propagation's fixpoint. Emits (id, component-min, size).
    */
  private def unionFindMinLabel(
      it: Iterator[(Long, Long)]): Iterator[(Long, Long, Long)] = {
    val parent = scala.collection.mutable.LongMap.empty[Long]
    def find(x: Long): Long = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (c != r) { val n = parent(c); parent.update(c, r); c = n }
      r
    }
    it.foreach { case (a, b) =>
      if (!parent.contains(a)) parent.update(a, a)
      if (!parent.contains(b)) parent.update(b, b)
      val ra = find(a); val rb = find(b)
      if (ra != rb) {
        if (ra < rb) parent.update(rb, ra) else parent.update(ra, rb)
      }
    }
    val nodes = parent.keysIterator.toArray
    val sizes = scala.collection.mutable.LongMap.empty[Long]
    val labeled = nodes.map { k =>
      val r = find(k)
      sizes.update(r, sizes.getOrElse(r, 0L) + 1L)
      (k, r)
    }
    labeled.iterator.map { case (k, r) => (k, r, sizes(r)) }
  }

  private def finishLabels(labels: DataFrame): DataFrame = {
    val sizes = labels.groupBy(col("label")).agg(count(lit(1)).as("cluster_size"))
    labels.join(sizes, "label")
      .select(col("id"), col("label"), col("cluster_size"))
  }

  /** D6 — survivor selection: within each near-dup cluster (d05's labels)
    * keep the best document — longest text, ties to the smallest doc_id —
    * and flag the rest for deletion. This is the decision step an actual
    * dedup pipeline runs after clustering; emitting every clustered doc
    * with a survivor flag makes the keep/drop sets explicit. One broadcast
    * join (labels are cluster-membership scale, ≪ corpus) + one
    * cluster-partitioned window.
    */
  private val survivors: Q = (s, dir) => {
    val uni = withClones(Tables.documents(s, dir))
      .filter(length(col("text")) >= 8)
    val w = Window.partitionBy(col("canonical"))
      .orderBy(col("n_len").desc, col("doc_id"))
    components(s, dir)
      .join(uni.select(col("doc_id"), length(col("text")).as("n_len")),
        "doc_id")
      .withColumn("survivor",
        (row_number().over(w) === 1).cast("int"))
      .select(col("doc_id"), col("canonical"), col("cluster_size"),
        col("n_len"), col("survivor"))
  }

  /** D7 — line-level exact dedup (the CCNet/RefinedWeb pass: drop every
    * line already seen earlier in the corpus, first occurrence wins, then
    * reassemble documents from their surviving lines). The synthetic corpus
    * is newline-free, so the line structure is recovered deterministically
    * first — each doc is cut into 12-token lines — and the clone union
    * guarantees heavy cross-document line sharing for the pass to remove.
    *
    * Scale shape: one explode → one window keyed on the line (THE dedup
    * shuffle; a 100 TB run keys it on xxhash64(line) — same cardinality,
    * 8-byte keys) → one per-doc regroup, which co-partitions with the
    * corpus's own doc layout. No joins, no candidate generation; linear in
    * total line count at any corpus size.
    */
  private val lineDedup: Q = (s, dir) => {
    // line recovery via the one-pass codegen'd kernel (zero-copy byte
    // windows; exact concat_ws-of-slice parity incl. empty tokens) — the
    // interpreted sequence→transform→slice chain cost 3× the whole query
    val lines = graft.functions.TextHashCols.tokenLines(col("text"), 12)
    // doc-level projection behind Tables.barrier: keeps n_lines from being
    // recomputed per exploded row (the d02/c01 Generate-hoist lesson)
    val chunked = Tables.barrier(withClones(Tables.documents(s, dir))
      .filter(length(col("text")) >= 8)
      .select(col("doc_id"), lines.as("lines"))
      .withColumn("n_lines", size(col("lines")).cast("long")))
    val ln = chunked.select(col("doc_id"), col("n_lines"),
      posexplode(col("lines")).as(Seq("line_no", "line")))
    val w = Window.partitionBy(col("line"))
      .orderBy(col("doc_id"), col("line_no"))
    ln.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .groupBy(col("doc_id"), col("n_lines"))
      .agg(count(lit(1)).as("n_kept"),
        array_join(transform(
          array_sort(collect_list(struct(col("line_no"), col("line")))),
          x => x.getField("line")), "\n").as("kept_text"))
      .withColumn("is_trimmed", (col("n_kept") < col("n_lines")).cast("int"))
  }

  /** D8 — duplicated-span detection (the exact-substring half of a
    * training-data dedup stack — the "dedupe long common substrings" pass
    * of Lee et al.'s deduplication recipe, restated on token windows):
    * every 20-token window at stride 10 (tail window included, so every
    * token is covered), keyed by md5, first occurrence wins corpus-wide;
    * each doc reports how many of its spans were seen earlier and the
    * duplicated fraction. Same linear shape as d07: one explode → one
    * window on the span key (THE shuffle; 8-byte xxhash64 keys at 100 TB)
    * → one per-doc regroup. No joins, no candidate generation.
    */
  private val spanDedup: Q = (s, dir) => {
    val SpanTokens = 20
    val Stride = 10
    val chunked = Tables.barrier(withClones(Tables.documents(s, dir))
      .filter(length(col("text")) >= 8)
      .select(col("doc_id"), split(col("text"), " ").as("tk"))
      .withColumn("nt", size(col("tk")))
      .withColumn("n_spans",
        when(col("nt") <= SpanTokens, lit(1L))
          .otherwise(ceil((col("nt") - SpanTokens).cast("double") / Stride)
            .cast("long") + 1L))
      .withColumn("spans", transform(
        sequence(lit(0L), col("n_spans") - 1),
        i => md5(array_join(
          slice(col("tk"), (i * Stride + 1).cast("int"), lit(SpanTokens)),
          " "))))
      .select(col("doc_id"), col("n_spans"), col("spans")))
    val sp = chunked.select(col("doc_id"), col("n_spans"),
      posexplode(col("spans")).as(Seq("span_no", "h")))
    val w = Window.partitionBy(col("h"))
      .orderBy(col("doc_id"), col("span_no"))
    sp.withColumn("rn", row_number().over(w))
      .groupBy(col("doc_id"), col("n_spans"))
      .agg(sum((col("rn") > 1).cast("long")).as("n_dup_spans"))
      .withColumn("dup_span_frac",
        round(col("n_dup_spans").cast("double") /
          col("n_spans").cast("double"), 6))
  }

  /** D10 — incremental near-dup detection, the PRODUCTION shape of d03b:
    * a 100 TB corpus is not re-deduped per crawl — the daily DELTA is
    * banded and joined against the maintained band index of the existing
    * corpus, so the per-crawl work is O(|delta|·bands + candidates), not
    * O(|corpus|²) or even a corpus re-scan (at cluster scale the `capped`
    * index below is a stored table the delta appends to). Delta = doc_id
    * ≡ 0 (mod 10); the bucket cap applies to the UNION (the index is
    * maintained capped); a candidate must involve a delta doc — new×old
    * at any id, new×new first-occurrence-wins (m < n) — and survivors
    * verify at token-Jaccard ≥ 0.5. Every stage is d03b's md5-60
    * machinery, so every stage keeps its DuckDB twin and the whole
    * incremental path is oracle-gated.
    */
  private val incrementalDedup: Q = (s, dir) => {
    val toked = Tables.documents(s, dir).filter(length(col("text")) >= 8)
      .select(col("doc_id"),
        array_distinct(filter(split(col("text"), " "), t => t =!= lit("")))
          .as("toks"))
    val hashed = Tables.barrier(toked.select(col("doc_id"), col("toks"),
      transform(col("toks"), t => md5Hash60(t)).as("hs")))
    val sig = Tables.barrier(hashed.select(col("doc_id"), col("toks"),
      transform(sequence(lit(0), lit(15)),
        i => array_min(transform(col("hs"),
          h => mixComponent(h, i)))).as("sig")))
    val bands = sig.select(col("doc_id"),
        explode(array((0 until 8).map { b =>
          struct(lit(b).as("band"),
            element_at(col("sig"), b * 2 + 1).as("k1"),
            element_at(col("sig"), b * 2 + 2).as("k2"))
        }: _*)).as("bk"))
      .select(col("doc_id"), col("bk.band").as("band"),
        col("bk.k1").as("k1"), col("bk.k2").as("k2"))
    val capped = bands
      .withColumn("df", count(lit(1)).over(
        Window.partitionBy(col("band"), col("k1"), col("k2"))))
      .filter(col("df") <= BandBucketCapB)
      .select(col("doc_id"), col("band"), col("k1"), col("k2"))
    val newSide = capped.filter(col("doc_id") % 10 === 0)
      .select(col("doc_id").as("n"), col("band"), col("k1"), col("k2"))
    val cands = newSide
      .join(capped.withColumnRenamed("doc_id", "m"), Seq("band", "k1", "k2"))
      .filter(col("m") =!= col("n"))
      .filter((col("m") % 10 =!= 0) || (col("m") < col("n")))
      .select(col("n"), col("m")).distinct()
    val tk = sig.select(col("doc_id"), col("toks"))
    cands
      .join(tk.select(col("doc_id").as("n"), col("toks").as("ta")), "n")
      .join(tk.select(col("doc_id").as("m"), col("toks").as("tb")), "m")
      .withColumn("inter", size(array_intersect(col("ta"), col("tb"))))
      .withColumn("jaccard", col("inter").cast("double") /
        (size(col("ta")) + size(col("tb")) - col("inter")))
      .filter(col("jaccard") >= 0.5)
      .select(col("n").as("new_id"), col("m").as("match_id"),
        (col("m") % 10 === 0).as("match_is_new"),
        round(col("jaccard"), 6).as("jaccard"))
  }

  /** D11 — exact-substring dedup REWRITE (the removal half of Lee et
    * al. 2022's ExactSubstr recipe, whose detection half is d08): every
    * 15-token window at stride 1 keys an inverted index on the shared
    * md5-60 hash; for each window value the FIRST corpus occurrence
    * (min (doc_id, position)) is the canonical copy and every later
    * occurrence's span is excised from its document. Output: the
    * REWRITTEN corpus (kept text, token counts removed) — what actually
    * ships to training.
    *
    * Scale shape: one explode → ONE shuffle on the 8-byte window hash
    * (count + first-occurrence rank in the same window pass) → removal
    * spans regroup per doc (bounded by doc length) → a row-local HOF
    * rebuild. No joins, no candidate pairs; a stop-phrase hash with
    * massive df skews its rank partition — AQE skew splitting handles
    * the count, and the rank only needs the ONE global minimum, which
    * min-combines map-side. Window width 15 is the fixture scaling of
    * the reference recipe's 50-token spans (docs here are ~10² tokens).
    */
  private val substringRewrite: Q = (s, dir) => {
    val W = 15
    val docs = withClones(Tables.documents(s, dir))
      .withColumn("toks", filter(split(col("text"), " "), t => t =!= lit("")))
      .withColumn("n", size(col("toks")))
    val wins = docs
      .filter(col("n") >= W)
      .select(col("doc_id"), explode(transform(
        sequence(lit(1), col("n") - (W - 1)),
        j => struct(j.as("j"),
          md5Hash60(concat_ws(" ", slice(col("toks"), j, lit(W)))).as("h"))))
        .as("w"))
      .select(col("doc_id"), col("w.j").as("j"), col("w.h").as("h"))
    val byHash = Window.partitionBy("h")
    val ranked = wins
      .withColumn("occ", count(lit(1)).over(byHash))
      .withColumn("rk", row_number().over(
        byHash.orderBy(col("doc_id"), col("j"))))
    val removals = ranked.filter(col("occ") >= 2 && col("rk") >= 2)
      .groupBy("doc_id")
      .agg(sort_array(collect_list(col("j"))).as("spans"))
    docs.join(removals, Seq("doc_id"), "left")
      .withColumn("spans", coalesce(col("spans"), array().cast("array<int>")))
      // sequence(1, 0) descends in Spark — guard the empty-doc case
      .withColumn("kept", filter(
        when(col("n") >= 1, sequence(lit(1), col("n")))
          .otherwise(array().cast("array<int>")), p =>
        !exists(col("spans"), j => p >= j && p < j + W)))
      .select(col("doc_id"), col("n").as("n_tokens"),
        size(col("spans")).as("removed_spans"),
        (col("n") - size(col("kept"))).as("removed_tokens"),
        concat_ws(" ", transform(col("kept"),
          p => element_at(col("toks"), p))).as("text_clean"))
  }

  val queries: Map[String, Q] = Map(
    "d10_incremental_dedup" -> incrementalDedup,
    "d11_substring_rewrite" -> substringRewrite,
    "d01_dedup_exact" -> exact,
    "d02_dedup_ngram_jaccard" -> ngramJaccard,
    "d03_dedup_minhash_lsh" -> minhashLsh,
    "d03b_minhash_md5" -> minhashMd5,
    "d04b_simhash_md5" -> simhashMd5,
    "d04_dedup_simhash" -> simhash,
    "d05_dedup_components" -> components,
    "d06_dedup_survivors" -> survivors,
    "d07_line_dedup" -> lineDedup,
    "d08_span_dedup" -> spanDedup)

  val oracle: Map[String, String] = Map(
    "d11_substring_rewrite" ->
      s"""WITH $CLONES_SQL,
         |toked AS MATERIALIZED (
         |  SELECT doc_id, list_filter(string_split(text, ' '), t -> t != '') AS toks
         |  FROM uni),
         |sized AS MATERIALIZED (SELECT doc_id, toks, len(toks) AS n FROM toked),
         |wins AS MATERIALIZED (
         |  SELECT doc_id, j,
         |    ('0x' || substr(md5(array_to_string(toks[j:j+14], ' ')), 1, 15))::BIGINT AS h
         |  FROM sized, LATERAL (SELECT unnest(generate_series(1, CAST(n AS INT) - 14)) AS j) u
         |  WHERE n >= 15),
         |rankedw AS (
         |  SELECT doc_id, j,
         |    count(*) OVER (PARTITION BY h) AS occ,
         |    row_number() OVER (PARTITION BY h ORDER BY doc_id, j) AS rk
         |  FROM wins),
         |rem AS (
         |  SELECT doc_id, list_sort(list(j)) AS spans
         |  FROM rankedw WHERE occ >= 2 AND rk >= 2 GROUP BY doc_id)
         |SELECT s.doc_id, CAST(s.n AS INT) AS n_tokens,
         |  CAST(coalesce(len(r.spans), 0) AS INT) AS removed_spans,
         |  CAST(s.n - len(k.kept) AS INT) AS removed_tokens,
         |  coalesce(array_to_string(list_transform(k.kept, p -> s.toks[p]), ' '), '') AS text_clean
         |FROM sized s LEFT JOIN rem r USING (doc_id),
         |  LATERAL (SELECT list_filter(generate_series(1, CAST(s.n AS INT)), p ->
         |    len(list_filter(coalesce(r.spans, []), j -> p >= j AND p < j + 15)) = 0)
         |    AS kept) k""".stripMargin,
    "d10_incremental_dedup" ->
      s"""WITH toked AS (
         |  SELECT doc_id,
         |    list_distinct(list_filter(string_split(text, ' '), t -> t != '')) AS toks
         |  FROM documents WHERE len(text) >= 8),
         |hashed AS (
         |  SELECT doc_id, toks,
         |    list_transform(toks,
         |      t -> ('0x' || substr(md5(t), 1, 15))::BIGINT) AS hs
         |  FROM toked),
         |sig AS (
         |  SELECT doc_id, toks,
         |    list_transform(range(0, 16), i ->
         |      list_aggregate(list_transform(hs,
         |        h -> ${mixSql("h", "i")}),
         |        'min')) AS sig
         |  FROM hashed),
         |bnd AS (
         |  SELECT doc_id, i AS band, sig[2*i + 1] AS k1, sig[2*i + 2] AS k2
         |  FROM sig, (SELECT unnest(range(0, 8)) AS i)),
         |big AS (SELECT band, k1, k2 FROM bnd
         |        GROUP BY 1, 2, 3 HAVING count(*) > $BandBucketCapB),
         |kept AS (SELECT bnd.* FROM bnd ANTI JOIN big USING (band, k1, k2)),
         |cand AS (
         |  SELECT DISTINCT x.doc_id AS n, y.doc_id AS m
         |  FROM kept x JOIN kept y USING (band, k1, k2)
         |  WHERE x.doc_id % 10 = 0 AND y.doc_id != x.doc_id
         |    AND (y.doc_id % 10 != 0 OR y.doc_id < x.doc_id)),
         |tk AS (SELECT doc_id, unnest(toks) AS t FROM toked),
         |tn AS (SELECT doc_id, len(toks) AS nn FROM toked),
         |inter AS (
         |  SELECT c.n, c.m, count(*) AS i
         |  FROM cand c
         |  JOIN tk ta ON ta.doc_id = c.n
         |  JOIN tk tb ON tb.doc_id = c.m AND tb.t = ta.t
         |  GROUP BY 1, 2)
         |SELECT i.n AS new_id, i.m AS match_id, (i.m % 10 = 0) AS match_is_new,
         |  round(CAST(i.i AS DOUBLE) / (na.nn + nb.nn - i.i), 6) AS jaccard
         |FROM inter i JOIN tn na ON na.doc_id = i.n JOIN tn nb ON nb.doc_id = i.m
         |WHERE CAST(i.i AS DOUBLE) / (na.nn + nb.nn - i.i) >= 0.5""".stripMargin,
    "d01_dedup_exact" ->
      s"""WITH $CLONES_SQL
         |SELECT doc_id,
         |  min(doc_id) OVER (PARTITION BY md5(text)) AS canonical,
         |  count(*) OVER (PARTITION BY md5(text)) AS group_size,
         |  CAST(doc_id != min(doc_id) OVER (PARTITION BY md5(text)) AS INT) AS is_dup
         |FROM uni WHERE len(text) >= 8""".stripMargin,
    "d02_dedup_ngram_jaccard" ->
      s"""WITH $CLONES_SQL,
         |$D02_CTES
         |$D02_SELECT""".stripMargin,
    "d03b_minhash_md5" ->
      // every stage mirrors the Spark side: same 60-bit md5 hash, same
      // 16-component signature, same 8x2 banding + bucket cap, same
      // token-Jaccard verify — candidate-set parity by construction
      s"""WITH $CLONES_SQL,
         |toked AS (
         |  SELECT doc_id,
         |    list_distinct(list_filter(string_split(text, ' '), t -> t != '')) AS toks
         |  FROM uni WHERE len(text) >= 8),
         |hashed AS (
         |  SELECT doc_id, toks,
         |    list_transform(toks,
         |      t -> ('0x' || substr(md5(t), 1, 15))::BIGINT) AS hs
         |  FROM toked),
         |sig AS (
         |  SELECT doc_id, toks,
         |    list_transform(range(0, 16), i ->
         |      list_aggregate(list_transform(hs,
         |        h -> ${mixSql("h", "i")}),
         |        'min')) AS sig
         |  FROM hashed),
         |bnd AS (
         |  SELECT doc_id, i AS band, sig[2*i + 1] AS k1, sig[2*i + 2] AS k2
         |  FROM sig, (SELECT unnest(range(0, 8)) AS i)),
         |big AS (SELECT band, k1, k2 FROM bnd
         |        GROUP BY 1, 2, 3 HAVING count(*) > $BandBucketCapB),
         |kept AS (SELECT bnd.* FROM bnd ANTI JOIN big USING (band, k1, k2)),
         |cand AS (
         |  SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
         |  FROM kept x JOIN kept y USING (band, k1, k2)
         |  WHERE x.doc_id < y.doc_id),
         |tk AS (SELECT doc_id, unnest(toks) AS t FROM toked),
         |tn AS (SELECT doc_id, len(toks) AS n FROM toked),
         |inter AS (
         |  SELECT c.a, c.b, count(*) AS i
         |  FROM cand c
         |  JOIN tk ta ON ta.doc_id = c.a
         |  JOIN tk tb ON tb.doc_id = c.b AND tb.t = ta.t
         |  GROUP BY 1, 2)
         |SELECT i.a, i.b,
         |  round(CAST(i.i AS DOUBLE) / (na.n + nb.n - i.i), 6) AS jaccard
         |FROM inter i JOIN tn na ON na.doc_id = i.a JOIN tn nb ON nb.doc_id = i.b
         |WHERE CAST(i.i AS DOUBLE) / (na.n + nb.n - i.i) >= 0.5""".stripMargin,
    "d04b_simhash_md5" ->
      s"""WITH $CLONES_SQL,
         |toked AS (
         |  SELECT doc_id,
         |    list_distinct(list_filter(string_split(text, ' '), t -> t != '')) AS toks
         |  FROM uni WHERE len(text) >= 8),
         |hashed AS (
         |  SELECT doc_id, list_transform(toks,
         |    t -> ('0x' || substr(md5(t), 1, 15))::BIGINT) AS hs
         |  FROM toked),
         |sig AS (SELECT doc_id, $SIM24 AS sim FROM hashed),
         |bnd0 AS (
         |  SELECT doc_id, sim, 0 AS band, sim & 4095 AS key FROM sig
         |  UNION ALL
         |  SELECT doc_id, sim, 1 AS band, sim >> 12 AS key FROM sig),
         |big AS (SELECT band, key FROM bnd0 GROUP BY 1, 2 HAVING count(*) > 64),
         |bnd AS (SELECT bnd0.* FROM bnd0 ANTI JOIN big USING (band, key)),
         |cand AS (
         |  SELECT DISTINCT x.doc_id AS a, x.sim AS sa, y.doc_id AS b, y.sim AS sb
         |  FROM bnd x JOIN bnd y USING (band, key)
         |  WHERE x.doc_id < y.doc_id)
         |SELECT a, b, CAST(bit_count(xor(sa, sb)) AS BIGINT) AS hamming
         |FROM cand WHERE bit_count(xor(sa, sb)) <= 3""".stripMargin,
    "d05_dedup_components" ->
      s"""WITH RECURSIVE $CLONES_SQL,
         |$D02_CTES,
         |d2 AS MATERIALIZED ($D02_SELECT),
         |edges AS MATERIALIZED (SELECT a, b FROM d2 UNION ALL SELECT b AS a, a AS b FROM d2),
         |nodes AS (SELECT DISTINCT a AS id FROM edges),
         |reach AS (
         |  SELECT id, id AS r FROM nodes
         |  UNION
         |  SELECT e.b AS id, reach.r FROM reach JOIN edges e ON e.a = reach.id),
         |lab AS (SELECT id, min(r) AS canonical FROM reach GROUP BY id)
         |SELECT l.id AS doc_id, l.canonical, s.cluster_size
         |FROM lab l
         |JOIN (SELECT canonical, CAST(count(*) AS BIGINT) AS cluster_size
         |      FROM lab GROUP BY canonical) s USING (canonical)""".stripMargin,
    "d08_span_dedup" ->
      s"""WITH $CLONES_SQL,
         |docs AS (
         |  SELECT doc_id, string_split(text, ' ') AS t
         |  FROM uni WHERE len(text) >= 8),
         |chunked AS (
         |  SELECT doc_id,
         |    CASE WHEN len(t) <= 20 THEN 1
         |         ELSE CAST(ceil(CAST(len(t) - 20 AS DOUBLE) / 10) AS BIGINT) + 1
         |    END AS n_spans, t
         |  FROM docs),
         |spans AS (
         |  SELECT doc_id, n_spans,
         |    list_transform(range(0, CAST(n_spans AS INT)),
         |      i -> md5(array_to_string(t[i*10+1 : i*10+20], ' '))) AS hs
         |  FROM chunked),
         |sp AS (
         |  SELECT doc_id, n_spans, unnest(hs) AS h,
         |    generate_subscripts(hs, 1) AS span_no
         |  FROM spans),
         |ranked AS (
         |  SELECT doc_id, n_spans,
         |    row_number() OVER (PARTITION BY h ORDER BY doc_id, span_no) AS rn
         |  FROM sp)
         |SELECT doc_id, n_spans,
         |  CAST(sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_spans,
         |  round(CAST(sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS DOUBLE)
         |    / CAST(n_spans AS DOUBLE), 6) AS dup_span_frac
         |FROM ranked GROUP BY doc_id, n_spans""".stripMargin,
    "d07_line_dedup" ->
      s"""WITH $CLONES_SQL,
         |docs AS (
         |  SELECT doc_id, string_split(text, ' ') AS t
         |  FROM uni WHERE len(text) >= 8),
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
         |kept AS (
         |  SELECT doc_id, n_lines, line, line_no,
         |    row_number() OVER (PARTITION BY line ORDER BY doc_id, line_no) AS rn
         |  FROM ln)
         |SELECT doc_id, n_lines, CAST(count(*) AS BIGINT) AS n_kept,
         |  string_agg(line, chr(10) ORDER BY line_no) AS kept_text,
         |  CAST(count(*) < n_lines AS INT) AS is_trimmed
         |FROM kept WHERE rn = 1
         |GROUP BY doc_id, n_lines""".stripMargin,
    "d06_dedup_survivors" ->
      s"""WITH RECURSIVE $D06Ctes
         |SELECT doc_id, canonical, cluster_size, n_len, survivor
         |FROM d06s""".stripMargin)

  /** d06's full oracle chain — clones → d02 pairs → recursive components
    * → survivor rank — exposed for composition (p05's `near_dup` flag
    * reuses it VERBATIM, r12 VERDICT #4), ending in `d06s` = the d06
    * relation. The enclosing query must open with `WITH RECURSIVE`.
    */
  private[pipeline] lazy val D06Ctes: String =
    s"""$CLONES_SQL,
       |$D02_CTES,
       |d2 AS MATERIALIZED ($D02_SELECT),
       |edges AS MATERIALIZED (SELECT a, b FROM d2 UNION ALL SELECT b AS a, a AS b FROM d2),
       |nodes AS (SELECT DISTINCT a AS id FROM edges),
       |reach AS (
       |  SELECT id, id AS r FROM nodes
       |  UNION
       |  SELECT e.b AS id, reach.r FROM reach JOIN edges e ON e.a = reach.id),
       |lab AS (SELECT id, min(r) AS canonical FROM reach GROUP BY id),
       |cs AS (SELECT canonical, CAST(count(*) AS BIGINT) AS cluster_size
       |       FROM lab GROUP BY canonical),
       |sized AS (
       |  SELECT lab.id, lab.canonical, CAST(len(uni.text) AS INT) AS n_len
       |  FROM lab JOIN uni ON lab.id = uni.doc_id),
       |d06s AS (
       |  SELECT id AS doc_id, canonical, cluster_size, n_len,
       |    CAST(row_number() OVER (PARTITION BY canonical
       |      ORDER BY n_len DESC, id) = 1 AS INT) AS survivor
       |  FROM sized JOIN cs USING (canonical))""".stripMargin

  /** The 24-bit simhash vote-sum as DuckDB SQL (d04b oracle), generated
    * bit-by-bit like s02's plane literals.
    */
  private lazy val SIM24: String = (0 until 24).map { k =>
    s"CASE WHEN list_sum(list_transform(hs, h -> ((h >> $k) & 1) * 2 - 1)) > 0 THEN ${1L << k} ELSE 0 END"
  }.mkString(" + ")

  private lazy val D02_CTES: String =
    """docs AS (SELECT doc_id, text FROM uni WHERE len(text) >= 8),
      |sh8 AS (
      |  SELECT doc_id, unnest(list_distinct(list_transform(
      |    generate_series(1, len(text) - 7), i -> substr(text, i, 8)))) AS sh
      |  FROM docs),
      |rare AS (SELECT sh FROM sh8 GROUP BY sh HAVING count(*) BETWEEN 2 AND 4),
      |cands AS (
      |  SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
      |  FROM sh8 x JOIN rare USING (sh) JOIN sh8 y USING (sh)
      |  WHERE x.doc_id < y.doc_id),
      |tri AS (
      |  SELECT doc_id, unnest(list_distinct(list_transform(
      |    generate_series(1, len(text) - 2), i -> substr(text, i, 3)))) AS g
      |  FROM docs),
      |trin AS (SELECT doc_id, count(*) AS n3 FROM tri GROUP BY doc_id),
      |inter AS (
      |  SELECT c.a, c.b, count(*) AS inter
      |  FROM cands c
      |  JOIN tri ta ON ta.doc_id = c.a
      |  JOIN tri tb ON tb.doc_id = c.b AND tb.g = ta.g
      |  GROUP BY c.a, c.b)""".stripMargin

  private lazy val D02_SELECT: String =
    """SELECT i.a, i.b,
      |  round(CAST(i.inter AS DOUBLE) / (na.n3 + nb.n3 - i.inter), 6) AS jaccard
      |FROM inter i
      |JOIN trin na ON na.doc_id = i.a
      |JOIN trin nb ON nb.doc_id = i.b
      |WHERE CAST(i.inter AS DOUBLE) / (na.n3 + nb.n3 - i.inter) >= 0.6""".stripMargin
}
