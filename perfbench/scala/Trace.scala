package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.DoubleAdder

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, AdaptiveSparkPlanHelper}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval: `parent` is the id of the span that caused it
  * (0 for a root). Times are System.nanoTime readings.
  */
final case class Span(id: Long, parent: Long, name: String,
    t0: Long, t1: Long)

/** The traced run's recorder: spans recorded by the harness around its
  * calls into each module, counters fed by a SparkListener and a
  * QueryExecutionListener registered from outside the program, and a
  * stack sampler that splits one call into the public functions it
  * reaches. Everything stays in memory until the run ends.
  *
  * With tracing off no recorder exists: [[Recorder.span]] on `None`
  * runs the body and records nothing.
  */
final class Recorder(spark: SparkSession) {
  private val sc = spark.sparkContext
  private val cores = sc.defaultParallelism
  private val counters = new ConcurrentHashMap[String, DoubleAdder]()
  private val spans = new java.util.concurrent.ConcurrentLinkedQueue[Span]()
  private val nextId = new java.util.concurrent.atomic.AtomicLong(0)
  private val stack = new ThreadLocal[List[Long]] {
    override def initialValue(): List[Long] = Nil
  }
  // job id -> (start ms, end ms); read after a drain at op boundaries
  private val jobs = new ConcurrentHashMap[Int, (Long, Long)]()

  def add(name: String, v: Double): Unit =
    counters.computeIfAbsent(name, _ => new DoubleAdder).add(v)

  def snapshot(): Map[String, Double] =
    counters.asScala.map { case (k, v) => k -> v.sum() }.toMap

  def allSpans: Seq[Span] = spans.asScala.toSeq.sortBy(_.t0)

  def span[A](name: String)(body: => A): A = {
    val id = nextId.incrementAndGet()
    val parent = stack.get.headOption.getOrElse(0L)
    stack.set(id :: stack.get)
    val t0 = System.nanoTime()
    try body
    finally {
      spans.add(Span(id, parent, name, t0, System.nanoTime()))
      stack.set(stack.get.tail)
    }
  }

  /** Block until every posted listener event has been delivered, so the
    * counters read at an op boundary include all of that op's events.
    */
  def drain(): Unit = org.apache.spark.PerfBenchBridge.drain(sc)

  /** Jobs that ended at or before `beforeMs` and started at or after
    * `sinceMs` (epoch millis): the eager jobs of an op whose final action
    * began at `beforeMs`. Consumed: each job is counted once.
    */
  def takeJobs(sinceMs: Long, beforeMs: Long): Seq[(Long, Long)] = {
    val hit = jobs.asScala.toSeq.filter { case (_, (s, e)) =>
      s >= sinceMs && e <= beforeMs }
    hit.foreach { case (id, _) => jobs.remove(id) }
    hit.map(_._2)
  }
  def clearJobs(): Unit = jobs.clear()

  private val jobStart = new ConcurrentHashMap[Int, Long]()
  // stage id -> the Recorder.LayerKey job property of its job, if set
  private val stageLayer = new ConcurrentHashMap[Int, String]()

  val listener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      jobStart.put(e.jobId, e.time)
      add("spark.jobs", 1)
      Option(e.properties).flatMap(p => Option(p.getProperty(
        Recorder.LayerKey))).foreach(l =>
        e.stageIds.foreach(stageLayer.put(_, l)))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobStart.remove(e.jobId)).foreach(s =>
        jobs.put(e.jobId, (s, e.time)))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(e.taskMetrics).foreach { m =>
        add("spark.tasks", 1)
        add("spark.task_s", m.executorRunTime / 1e3)
        add("spark.shuffle_mb", (m.shuffleReadMetrics.totalBytesRead +
          m.shuffleWriteMetrics.bytesWritten) / 1e6)
        add("spark.spill_mb",
          (m.memoryBytesSpilled + m.diskBytesSpilled) / 1e6)
        Option(stageLayer.get(e.stageId)).foreach(l =>
          add(s"output.bytes.$l", m.outputMetrics.bytesWritten.toDouble))
      }
  }

  val queryListener: QueryExecutionListener =
    new QueryExecutionListener with AdaptiveSparkPlanHelper {
      private def record(qe: QueryExecution): Unit = {
        val ph = qe.tracker.phases
        def ms(p: String) = ph.get(p).map(_.durationMs).getOrElse(0L) / 1e3
        add("driver.analysis_s", ms("analysis"))
        add("driver.optimization_s", ms("optimization"))
        add("driver.planning_s", ms("planning"))
        add("queries", 1)
        val plan: SparkPlan = qe.executedPlan
        val exchanges = collectWithSubqueries(plan) {
          case x: ShuffleExchangeLike => x }.size
        add("plan.exchanges", exchanges)
        add("plan.unpartitioned_windows", collectWithSubqueries(plan) {
          case w: WindowExec if w.partitionSpec.isEmpty => w }.size)
        // a plan that shuffles but has no adaptive root ran with AQE off
        if (exchanges > 0 && !plan.isInstanceOf[AdaptiveSparkPlanExec])
          add("plan.non_adaptive", 1)
      }
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        record(qe)
      override def onFailure(f: String, qe: QueryExecution,
          e: Exception): Unit = {
        add("queries.failed", 1)
        record(qe)
      }
    }

  def install(): Unit = {
    sc.addSparkListener(listener)
    spark.listenerManager.register(queryListener)
  }

  def uninstall(): Unit = {
    drain()
    spark.listenerManager.unregister(queryListener)
    sc.removeSparkListener(listener)
  }

  /** Codegen compilations so far (Janino, every thread of this JVM). */
  def codegenCompiles: Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
      .getCount

  /** Storage memory in use on the block managers, MB (pinned blocks). */
  def storageUsedMb: Double =
    sc.getExecutorMemoryStatus.values.map { case (max, free) =>
      (max - free).toDouble }.sum / 1e6

  val coresTotal: Int = cores
}

object Recorder {
  /** Job property naming the layer a job's output bytes are charged to. */
  val LayerKey = "perfbench.layer"
}

/** Samples one thread's stack every `periodMs` and counts, per bucket,
  * the samples whose innermost frame in `cls` has a method named by that
  * bucket. It splits a call into the public functions it reaches without
  * touching the program; a sample in none of them lands in "other".
  */
final class StackSampler(target: Thread, cls: String,
    buckets: Seq[(String, Set[String])], periodMs: Long = 20L) {
  private val counts = new ConcurrentHashMap[String, Long]()
  @volatile private var running = true

  private def bucketOf(st: Array[StackTraceElement]): String =
    st.iterator.filter(_.getClassName == cls).map { f =>
      val m = f.getMethodName
      buckets.collectFirst {
        case (b, names) if names.exists(n => m == n ||
          m.contains("$" + n + "$")) => b
      }
    }.collectFirst { case Some(b) => b }.getOrElse("other")

  private val thread = new Thread(() => {
    while (running) {
      counts.merge(bucketOf(target.getStackTrace), 1L,
        (a: Long, c: Long) => a + c)
      Thread.sleep(periodMs)
    }
  }, "perfbench-sampler")
  thread.setDaemon(true)
  thread.start()

  /** Stop sampling; returns the sample count per bucket. */
  def stop(): Map[String, Long] = {
    running = false
    thread.join()
    counts.asScala.toMap
  }
}
