package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins the accounting dial: `spark.graft.sharedMemo=off` must change
  * ONLY whether the [[SharedStage]] memos are consulted — never a single
  * result row. One representative consumer per stage (and per memo-off
  * subset path), both dial positions, row multisets compared exactly. The
  * bench runs memo-off for per-query numbers; this is the proof the dial
  * is pure accounting, not a second semantics.
  */
class MemoSpec extends AnyFunSuite {
  lazy val spark = TestSession.spark
  val sf = TestSession.sf

  /** One consumer per shared stage and per memo-off subset path. */
  private val consumers = Seq(
    "s09_kmeans",            // Similarity.trained
    "t16_bpe_merges",        // Text.bpe
    "p05_curation_manifest", // Curation.manifest (+ components, bigram inside)
    "g17_rules_corpus_1h",   // RuleCorpus.rolledFired + rolled
    "g15_rules_volume_1h",   // categoryQueryAt memo-off subset evaluation
    "g05_rules_core",        // categoryQuery memo-off subset evaluation
    "g16_rules_messages",    // RuleCorpus.corpusFired (whole-corpus consumer)
    "g18_rules_native_tf",   // g18's memo-off fused build without messages
    "g19_rules_native_cooldown", // RuleCorpus.nativeFired + nativeCooled
    "g20b_native_feed_retained", // RuleCorpus.retainedCooled
    "s07_knn_graph",         // Similarity.knnGraph
    "t20_bigram_lm",         // Text.bigram
    "d05_dedup_components")  // Dedup.components

  private def rowsWith(memo: String, q: String): Seq[String] = {
    spark.conf.set("spark.graft.sharedMemo", memo)
    try SparkEntry.queries(q)(spark, sf).collect()
      .map(_.toString).sorted.toSeq
    finally spark.conf.unset("spark.graft.sharedMemo")
  }

  for (q <- consumers)
    test(s"sharedMemo=off is row-identical to memo-on for $q") {
      // memo-on FIRST (populates the cache), memo-off second (must build
      // fresh and match bit-for-bit)
      val on = rowsWith("on", q)
      val off = rowsWith("off", q)
      assert(on == off,
        s"$q diverged under sharedMemo=off (${on.size} vs ${off.size} rows)")
    }

  test("every registered shared stage is filled by a pinned consumer") {
    // a stage no consumer above reaches would have no memo-off ≡ memo-on
    // pin; it fails here by name
    spark.conf.set("spark.graft.sharedMemo", "on")
    try consumers.foreach(q => SparkEntry.queries(q)(spark, sf).collect())
    finally spark.conf.unset("spark.graft.sharedMemo")
    val stages = SharedStage.registered
    assert(stages.nonEmpty)
    val empty = stages.filter(_.size == 0).map(_.name)
    assert(empty.isEmpty, s"stages no pinned consumer fills: $empty")
    signals.RuleCorpus.invalidateShared()
    val left = stages.filter(_.size > 0).map(_.name)
    assert(left.isEmpty, s"stages invalidateShared left non-empty: $left")
  }
}
