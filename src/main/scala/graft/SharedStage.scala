package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One evaluate-once-fan-out memo: an expensive shared build (a fired
  * corpus, a roll-up, a trainer's state) computed once per (session,
  * corpus content, `sub`) and served to every consumer — the reference
  * engine evaluates the corpus once per tick and fans the fired set out
  * to cooldown, statistics and publication (sqlite_engine.py:218-276).
  *
  * `stage(s, dir, sub)(build)`:
  *  - builds without touching the cache while a fact-frame override is
  *    active on this thread ([[Tables.factOverrideActive]]: a cut fact
  *    must neither read nor poison the uncut key) or when the session
  *    runs with `spark.graft.sharedMemo=off` ([[Tables.sharedMemoOff]]);
  *  - otherwise keys on [[Tables.StampKey]] — the dir's content stamp, so
  *    an in-session rewrite rebuilds instead of serving stale data —
  *    evicts entries of the same (session, dir) whose stamp is superseded,
  *    and builds at most once per key.
  *
  * The `build` closure owns its materialization (eager or lazy
  * checkpoint, layout-keeping checkpoint, compaction); the stage only
  * decides whether it runs. Every stage has its OWN map: stage builds
  * nest (cooled → fired, manifest → components), and a nested
  * `computeIfAbsent` on one `ConcurrentHashMap` fails with "Recursive
  * update".
  */
final class SharedStage[V] private (val name: String) {
  private val cache =
    new java.util.concurrent.ConcurrentHashMap[Tables.StampKey, V]()

  def apply(s: SparkSession, dir: String, sub: Long = 0L)(build: => V): V =
    if (Tables.factOverrideActive || Tables.sharedMemoOff(s)) build
    else {
      val key = Tables.StampKey(s, dir, Tables.dirStamp(dir), sub)
      cache.keySet.removeIf(k => (k.s eq s) && k.dir == dir &&
        k.stamp != key.stamp)
      cache.computeIfAbsent(key, _ => build)
    }

  /** Number of memoized entries (MemoSpec checks every stage fills). */
  private[graft] def size: Int = cache.size

  private def clear(): Unit = {
    cache.values.forEach(v => SharedStage.release(v))
    cache.clear()
  }
}

object SharedStage {
  private val stages =
    new java.util.concurrent.CopyOnWriteArrayList[SharedStage[_]]()

  /** Declare a stage; it registers itself for [[invalidateAll]]. */
  def apply[V](name: String): SharedStage[V] = {
    val st = new SharedStage[V](name)
    stages.add(st)
    st
  }

  private[graft] def registered: Seq[SharedStage[_]] = {
    import scala.jdk.CollectionConverters._
    stages.asScala.toSeq
  }

  /** Release the checkpoint blocks (`LogicalRDD`s) a memoized value pins:
    * a Dataset, or either side of a pair value.
    */
  private[graft] def release(v: Any): Unit = v match {
    case df: org.apache.spark.sql.Dataset[_] => df.queryExecution.analyzed.foreach {
      case l: org.apache.spark.sql.execution.LogicalRDD =>
        l.rdd.unpersist(blocking = false)
      case _ =>
    }
    case (a, b) => release(a); release(b)
    case _ =>
  }

  /** Drop every stage's entries, releasing their pinned blocks, so the
    * next consumer rebuilds from the store. Keys already embed the dir's
    * content stamp, so this is not needed for freshness; it bounds a long
    * session's checkpoint footprint (call it at a quiescent point, e.g.
    * between ticks or after regenerating dirs). Not safe concurrently with
    * a running query over a memoized frame: the unpersist pulls blocks out
    * from under in-flight tasks.
    */
  def invalidateAll(): Unit = stages.forEach(_.clear())
}
