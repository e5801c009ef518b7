package perfbench

import java.io.File
import java.net.{HttpURLConnection, URI}
import java.nio.charset.StandardCharsets.UTF_8

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Api, SparkEntry, Tables}
import graft.operators.{Maintenance, Rollup}
import graft.signals.RuleCorpus

/** Benchmark harness: runs one workload against the program on inputs
  * generated by gen.py and writes every measured repetition, the set-up
  * phases and (traced) the span/counter map to one JSON artifact.
  *
  *   Main <plan.json> <artifact.json> <seconds> <trace 0|1>
  *   Main --selftest
  *
  * The harness calls only the program's public functions. With trace 1
  * it also installs a SparkListener and a QueryExecutionListener and
  * samples the calling thread during the indicator cycle; with trace 0
  * nothing is installed. Outputs are fingerprinted outside the timed
  * sections.
  */
object Main {
  private val mapper = new ObjectMapper()
  private def now(): Long = System.nanoTime()
  private def secs(t0: Long, t1: Long): Double = (t1 - t0) / 1e9

  /** Recursively convert Scala collections for Jackson. */
  private def j(v: Any): Any = v match {
    case m: Map[_, _] =>
      val out = new java.util.LinkedHashMap[String, Any]()
      m.foreach { case (k, x) => out.put(k.toString, j(x)) }
      out
    case s: Iterable[_] => s.map(j).toSeq.asJava
    case o: Option[_] => o.map(j).orNull
    case d: Double if d.isNaN || d.isInfinite => null
    case x => x
  }

  /** Order-independent fingerprint of a frame's rows: row count, xor and
    * masked sum of a 64-bit hash of each row over its name-sorted columns.
    * Equal multisets of rows give equal fingerprints whatever the order or
    * partitioning; it repeats across reps, runs and traced/untraced modes.
    */
  def fingerprint(df: DataFrame): String = {
    val h = xxhash64(df.columns.sorted.map(c => col("`" + c + "`")).toSeq: _*)
    val r = df.agg(count(lit(1)), coalesce(bit_xor(h), lit(0L)),
      coalesce(sum(h.bitwiseAND(lit(0xFFFFFFL))), lit(0L))).head()
    s"${r.getLong(0)}:${java.lang.Long.toHexString(r.getLong(1))}:${r.getLong(2)}"
  }

  private def session(cores: Int, work: String): SparkSession = {
    val s = SparkEntry.configure(SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse"))
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Used heap after full collections, once it has settled: freed
    * checkpoint blocks are released by Spark's ContextCleaner only after a
    * collection has found their frames unreachable.
    */
  private def heapLiveMb(): Double = {
    val m = java.lang.management.ManagementFactory.getMemoryMXBean
    def collect(): Double = {
      System.gc(); Thread.sleep(300); m.getHeapMemoryUsage.getUsed / 1e6
    }
    var (prev, cur, n) = (Double.MaxValue, collect(), 0)
    while (math.abs(prev - cur) >= 2.0 && n < 6) {
      prev = cur; cur = collect(); n += 1
    }
    cur
  }

  private def span[A](rec: Option[Recorder], name: String)(body: => A): A =
    rec.fold(body)(_.span(name)(body))

  private def err(e: Throwable): String =
    (e.getClass.getSimpleName + ": " + String.valueOf(e.getMessage))
      .linesIterator.nextOption().getOrElse("").take(300)

  /** A read that lost files to a concurrent overwrite of a store or
    * roll-up directory: the cause chain holds a FileNotFoundException,
    * FAILED_READ_FILE, or UNABLE_TO_INFER_SCHEMA (the directory was listed
    * while the overwrite had emptied it). */
  private def racedMerge(e: Throwable): Boolean =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(32).exists(c =>
      c.isInstanceOf[java.io.FileNotFoundException] ||
        Seq("FAILED_READ_FILE", "UNABLE_TO_INFER_SCHEMA")
          .exists(String.valueOf(c.getMessage).contains))

  private def oracleNames(plan: JsonNode): Seq[String] =
    Option(plan.get("oracle")).toSeq.flatMap(_.elements().asScala)
      .map(_.asText())

  def main(args: Array[String]): Unit = {
    if (args.headOption.contains("--selftest")) { SelfTest.run(); return }
    val plan = mapper.readTree(new File(args(0)))
    val artifact = args(1)
    val seconds = args(2).toDouble
    val trace = args(3) == "1"
    val cores = plan.get("cores").asInt()
    val work = plan.get("work").asText()
    val tSession = now()
    val spark = session(cores, work)
    val rec = if (trace) { val r = new Recorder(spark); r.install(); Some(r) }
      else None
    val out = plan.get("workload").asText() match {
      case "tick" => Tick.run(spark, plan, seconds, rec, tSession)
      case "ingest_serve" => IngestServe.run(spark, plan, seconds, rec,
        tSession)
    }
    rec.foreach(_.uninstall())
    // the oracle SQL, for the DuckDB check after the JVM has exited
    oracleNames(plan).foreach { name =>
      val f = new File(s"${plan.get("work").asText()}/oracle/$name.sql")
      f.getParentFile.mkdirs()
      java.nio.file.Files.writeString(f.toPath, SparkEntry.oracleSql(name))
    }
    val tHeap = now()
    val heap = heapLiveMb()
    val doc = out ++ Map("workload" -> plan.get("workload").asText(),
      "trace" -> trace, "seconds" -> seconds, "cores" -> cores,
      "heap_live_mb" -> heap, "heap_s" -> secs(tHeap, now()),
      "spans" -> rec.map(_.allSpans.map(s => Map("id" -> s.id,
        "parent" -> s.parent, "name" -> s.name,
        "start_s" -> secs(tSession, s.t0), "end_s" -> secs(tSession, s.t1))))
        .getOrElse(Nil))
    mapper.writerWithDefaultPrettyPrinter()
      .writeValue(new File(artifact), j(doc))
    spark.stop()
    // the HTTP server's handler pool is not daemon
    System.exit(0)
  }

  // ---------------------------------------------------------------- tick

  private[perfbench] object Tick {
    val Consumers = Seq("g18_rules_native_tf", "g19_rules_native_cooldown",
      "g20_native_feed", "g20b_native_feed_retained")
    // pass 1 may still build (g20b's retained cooldown is memoized on
    // first use); passes 2.. only read the shared state
    val ConsumerPasses = 4

    private val CycleBuckets = Seq(
      "frames" -> Set("workingFrames", "fusedFrame"),
      "plans" -> Set("fusedBranchPlans", "futuresBranchPlans"),
      "branches" -> Set("runBranches"))

    def run(spark: SparkSession, plan: JsonNode, seconds: Double,
        rec: Option[Recorder], tSession: Long): Map[String, Any] = {
      val q = SparkEntry.queries
      val dir = plan.get("dir").asText()
      val sessionS = secs(tSession, now())
      // staging: the bucketed candle and metrics facts
      val t0 = now()
      Tables.candles(spark, dir).count()
      Tables.metrics5m(spark, dir).count()
      val stagingS = secs(t0, now())
      val ticks = ArrayBuffer.empty[Map[String, Any]]

      def tick(n: Int): Double = {
        val rep = ArrayBuffer.empty[(String, Any)]
        val before = rec.map { r => r.drain(); r.clearJobs(); r.snapshot() }
        val compiles0 = rec.map(_.codegenCompiles)
        val tk = now()
        val cycleMs = System.currentTimeMillis()
        val signalsMs = new java.util.concurrent.atomic.AtomicLong()
        val (cycle, signals) = span(rec, "tick") {
          // one f01 indicator cycle; traced, the calling thread is sampled
          // while the cycle builds (eager checkpoints included)
          val cycle = span(rec, "cycle") {
            val sampler = rec.map(_ => new StackSampler(
              Thread.currentThread(), "graft.operators.Cycle$", CycleBuckets))
            val c0 = now()
            try {
              val df = span(rec, "f01.build")(
                q("f01_indicator_cycle")(spark, dir))
              val cb = now()
              val finalMs = System.currentTimeMillis()
              val samples = sampler.map(_.stop())
              span(rec, "f01.exec")(noop(df))
              val c1 = now()
              samples.foreach { counts =>
                val total = counts.values.sum.toDouble.max(1)
                (CycleBuckets.map(_._1) :+ "other").foreach { b =>
                  rep += s"Cycle.${b}_s" ->
                    secs(c0, cb) * counts.getOrElse(b, 0L) / total
                }
                rep += "Cycle.exec_s" -> secs(cb, c1)
              }
              Some((df, secs(c0, c1), finalMs))
            } catch { case e: Throwable =>
              sampler.foreach(_.stop())
              rep += "cycle_error" -> err(e)
              None
            }
          }
          // the signal fan-out: one fired/cooled build, four consumers
          val signals = span(rec, "signals") {
            val s0 = now()
            signalsMs.set(System.currentTimeMillis())
            try {
              val fired = span(rec, "RuleCorpus.fired")(
                RuleCorpus.nativeFiredShared(spark, dir))
              val sf = now()
              val cooled = span(rec, "RuleCorpus.cooled")(
                RuleCorpus.nativeCooledShared(spark, dir))
              val sc = now()
              val consumersMs = System.currentTimeMillis()
              // the build is paid once, the consumers read it N times; the
              // last pass's frames are kept for the fingerprints
              val views = scala.collection.mutable.Map.empty[String, DataFrame]
              val reads = span(rec, "RuleCorpus.consumers") {
                (1 to ConsumerPasses).flatMap(pass => Consumers.map { name =>
                  val r0 = now()
                  val df = q(name)(spark, dir)
                  span(rec, name)(noop(df))
                  views(name) = df
                  Map("pass" -> pass, "name" -> name, "s" -> secs(r0, now()))
                })
              }
              val s3 = now()
              rep += "RuleCorpus.fired_s" -> secs(s0, sf)
              rep += "RuleCorpus.cooled_s" -> secs(sf, sc)
              rep += "RuleCorpus.consumers_s" -> secs(sc, s3)
              Some((fired, cooled, reads, secs(s0, s3), consumersMs,
                views.toMap))
            } catch { case e: Throwable =>
              rep += "signals_error" -> err(e)
              None
            }
          }
          (cycle, signals)
        }
        val s1 = now()
        val tickS = secs(tk, s1)
        // traced counters, read before anything below adds jobs
        rec.foreach { r =>
          rep += "blocks.pinned_mb" -> r.storageUsedMb
          r.drain()
          val eager = cycle.toSeq.flatMap { case (_, _, to) =>
            r.takeJobs(cycleMs, to) } ++
            signals.toSeq.flatMap { case (_, _, _, _, to, _) =>
              r.takeJobs(signalsMs.get, to) }
          rep += "eager.jobs" -> eager.size
          rep += "eager.job_s" -> eager.map { case (a, b) => b - a }.sum / 1e3
          val after = r.snapshot()
          (before.get.keySet ++ after.keySet).foreach { k =>
            rep += k -> (after.getOrElse(k, 0.0) - before.get.getOrElse(k, 0.0))
          }
          rep += "codegen.compiles" -> (r.codegenCompiles - compiles0.get)
          rep += "spark.busy_frac" -> (after.getOrElse("spark.task_s", 0.0) -
            before.get.getOrElse("spark.task_s", 0.0)) / (tickS * r.coresTotal)
        }
        // outside the timed sections: fingerprints of every output
        val tCheck = now()
        val fp = scala.collection.mutable.LinkedHashMap.empty[String, String]
        cycle.foreach { case (df, _, _) =>
          fp("f01_indicator_cycle") = fingerprint(df)
          if (rec.nonEmpty)
            rep += "Cycle.branch_count" -> df.select("indicator").distinct().count()
        }
        signals.foreach { case (fired, cooled, _, _, _, views) =>
          fp("nativeFiredShared") = fingerprint(fired)
          fp("nativeCooledShared") = fingerprint(cooled)
          Consumers.foreach(c => fp(c) = fingerprint(views(c)))
          if (rec.nonEmpty) {
            val nf = fired.count().toDouble
            rep += "RuleCorpus.fired_rows" -> nf
            rep += "RuleCorpus.cooled_frac" ->
              (if (nf > 0) cooled.count() / nf else 0.0)
          }
          if (ticks.isEmpty)
            oracleNames(plan).foreach { name =>
              views(name).coalesce(1).write.mode("overwrite")
                .parquet(s"${plan.get("work").asText()}/oracle/$name.parquet")
            }
        }
        RuleCorpus.invalidateShared()
        ticks += (Map[String, Any]("tick" -> n,
          "tick_s" -> tickS,
          "cycle_s" -> cycle.map(_._2),
          "signals_s" -> signals.map(_._4),
          "reads" -> signals.map(_._3).getOrElse(Nil),
          "fingerprints" -> fp.toMap, "check_s" -> secs(tCheck, now())) ++
          rep)
        tickS
      }

      val setupS = secs(tSession, now())
      // the measured window: whole ticks, back to back, from the session's
      // first; a tick is started only while the window can still hold it
      // (the first always runs)
      val w0 = now()
      var n = 1
      var last = tick(n)
      while (secs(w0, now()) + last <= seconds) {
        n += 1
        last = tick(n)
      }
      Map("setup" -> Map(
          "session_s" -> sessionS,
          "staging_s" -> stagingS,
          "setup_s" -> setupS),
        "window_s" -> secs(w0, now()),
        "ticks" -> ticks.toSeq)
    }
  }

  // --------------------------------------------------------- ingest_serve

  private[perfbench] object IngestServe {
    val Readers = 2
    // each client pauses between reads, as a user does: two clients that
    // never pause kept all four cores busy with the merges, and every
    // timing then swung with the machine's own speed
    val ThinkMs = 500L
    // seven kinds: three HTTP routes, two store scans, two real-time
    // roll-up reads
    val Kinds = Seq("realtime_5m", "api_ohlc_1m", "latest", "api_ohlc_1h",
      "topk", "api_metrics", "realtime_1h")

    def run(spark: SparkSession, plan: JsonNode, seconds: Double,
        rec: Option[Recorder], tSession: Long): Map[String, Any] = {
      val work = plan.get("work").asText()
      // one batch due every `period_s` (open loop), after `warmup_batches`
      val periodS = plan.get("period_s").asDouble()
      val warmupBatches = plan.get("warmup_batches").asInt()
      // the roll-up cadence, in batches
      val refreshEvery = plan.get("refresh_every").asInt()
      val batchFiles = plan.get("batches").elements().asScala
        .map(_.asText()).toIndexedSeq
      val firstTs = plan.get("first_batch_ts").asLong()
      val readSyms = plan.get("read_symbols").elements().asScala
        .map(_.asText()).toIndexedSeq
      val apiSyms = plan.get("api_symbols").elements().asScala
        .map(_.asText()).toIndexedSeq
      val sessionS = secs(tSession, now())
      // store set-up: write the history into the dt-partitioned store and
      // build both roll-up stores
      val historyEnd = firstTs - 60
      val root = s"$work/store"
      val t0store = now()
      Tables.writeCandles(spark.read.parquet(plan.get("history").asText()),
        s"$root/candles_1m")
      Rollup.refreshRollup(spark, s"$root/candles_1m", s"$root/candles_5m",
        300, 4 * 86400L, historyEnd + 59)
      Rollup.refreshRollup(spark, s"$root/candles_1m", s"$root/candles_1h",
        3600, 4 * 86400L, historyEnd + 59)
      val storeS = secs(t0store, now())
      val store = s"$root/candles_1m"
      val apiDir = plan.get("api_dir").asText()
      val t0api = now()
      Tables.candles(spark, apiDir).count()
      Tables.metrics5m(spark, apiDir).count()
      val server = Api.start(spark, apiDir)
      val port = server.getAddress.getPort
      val apiS = secs(t0api, now())
      @volatile var wm = ((historyEnd + 59) / 300) * 300
      @volatile var stop = false
      @volatile var windowStart = Long.MaxValue
      @volatile var windowEnd = Long.MaxValue
      val reads = new java.util.concurrent.ConcurrentLinkedQueue[Map[String, Any]]()

      def get(path: String): Boolean = {
        val c = URI.create(s"http://127.0.0.1:$port$path").toURL
          .openConnection().asInstanceOf[HttpURLConnection]
        c.setConnectTimeout(10000); c.setReadTimeout(60000)
        try {
          val body = new String(c.getInputStream.readAllBytes(), UTF_8)
          val doc = mapper.readTree(body)
          doc.get("code").asText() == "0" && doc.get("data").size() > 0
        } finally c.disconnect()
      }

      def read(kind: String, i: Int): Boolean = {
        val sym = readSyms(i % readSyms.size)
        val api = apiSyms(i % apiSyms.size)
        kind match {
          case "realtime_5m" =>
            Rollup.realtimeRead(spark, s"$root/candles_5m", store, 300, wm)
              .filter(col("symbol") === sym).collect().nonEmpty
          case "realtime_1h" =>
            Rollup.realtimeRead(spark, s"$root/candles_1h", store, 3600,
              (wm / 3600) * 3600)
              .filter(col("symbol") === sym).collect().nonEmpty
          case "latest" =>
            val day = java.time.Instant.ofEpochSecond(wm)
              .atZone(java.time.ZoneOffset.UTC).toLocalDate.toString
            Tables.readCandles(spark, store).filter(col("dt") >= lit(day))
              .groupBy("symbol")
              .agg(max_by(struct(col("bucket_ts"), col("close")),
                col("bucket_ts")).as("last"))
              .collect().length > 0
          case "topk" =>
            val day = java.time.Instant.ofEpochSecond(wm)
              .atZone(java.time.ZoneOffset.UTC).toLocalDate.toString
            Tables.readCandles(spark, store)
              .filter(col("dt") >= lit(day) && col("bucket_ts") >= wm - 3600)
              .groupBy("symbol").agg(sum("volume").as("v"))
              .orderBy(col("v").desc, col("symbol")).limit(10)
              .collect().nonEmpty
          case "api_ohlc_1m" =>
            get(s"/api/futures/ohlc/history?symbol=$api&interval=1m&limit=100")
          case "api_ohlc_1h" =>
            get(s"/api/futures/ohlc/history?symbol=$api&interval=1h&limit=100")
          case "api_metrics" =>
            get(s"/api/futures/metrics?symbol=$api&limit=50")
        }
      }

      val readers = (0 until Readers).map { c =>
        val t = new Thread(() => {
          var i = c * 7
          while (!stop) {
            val kind = Kinds(i % Kinds.size)
            val r0 = now()
            // a store read that lists a dt partition while a merge or a
            // roll-up refresh overwrites it fails (see racedMerge), since
            // the stores have no snapshot isolation; the client re-plans
            // and retries, as the
            // error advises, at most twice. The first attempt's outcome is
            // kept: a read that needed a retry gives no latency sample.
            def attempt(): Either[Throwable, Boolean] =
              try Right(read(kind, i)) catch { case e: Throwable => Left(e) }
            val first = attempt()
            var res = first
            var retries = 0
            while (retries < 2 && res.left.exists(racedMerge)) {
              retries += 1
              res = attempt()
            }
            val r1 = now()
            if (r0 >= windowStart && r0 < windowEnd)
              reads.add(Map("client" -> c, "kind" -> kind,
                "start_s" -> secs(windowStart, r0), "ms" -> (r1 - r0) / 1e6,
                "first_ok" -> first.getOrElse(false),
                "ok" -> res.getOrElse(false), "retried" -> retries,
                "error" -> first.left.toOption.map(err)))
            i += 1
            Thread.sleep(ThinkMs)
          }
        }, s"perfbench-reader-$c")
        t.setDaemon(true)
        t
      }

      val batches = ArrayBuffer.empty[Map[String, Any]]
      val refreshes = ArrayBuffer.empty[Map[String, Any]]
      var next = 0
      def ingest(due: Long, measured: Boolean): Unit = {
        val i = next
        next += 1
        val b0 = now()
        val nowTs = firstTs + i * 60L + 59
        val res = try {
          spark.sparkContext.setLocalProperty(Recorder.LayerKey, "merge")
          val touched = span(rec, "Maintenance.merge")(
            Maintenance.mergeCandlesPartitioned(spark, store,
              spark.read.parquet(batchFiles(i))))
          Right(touched.size)
        } catch { case e: Throwable => Left(err(e)) }
        val b1 = now()
        batches += Map("batch" -> i, "measured" -> measured,
          "due_s" -> secs(tSession, due), "wait_s" -> secs(due, b0),
          "merge_s" -> secs(b0, b1), "latency_s" -> secs(due, b1),
          "partitions_touched" -> res.toOption, "ok" -> res.isRight,
          "error" -> res.left.toOption)
        // one roll-up refresh brings the 5m and the 1h roll-up up to date
        if ((i + 1) % refreshEvery == 0) {
          val r0 = now()
          val res = try {
            spark.sparkContext.setLocalProperty(Recorder.LayerKey, "refresh")
            val parts = Seq("5m" -> 300L, "1h" -> 3600L).map { case (iv, s) =>
              val p0 = now()
              span(rec, "Rollup.refresh")(Rollup.refreshRollup(spark, store,
                s"$root/candles_$iv", s, if (s == 300L) 1800L else 3 * 3600L,
                nowTs))
              s"${iv}_s" -> secs(p0, now())
            }
            Right(parts.toMap)
          } catch { case e: Throwable => Left(err(e)) }
          refreshes += Map("batch" -> i, "measured" -> measured,
            "s" -> secs(r0, now()), "ok" -> res.isRight,
            "parts" -> res.toOption, "error" -> res.left.toOption)
          wm = (nowTs / 300) * 300
        }
      }

      readers.foreach(_.start())
      // warm-up: batches back to back with the readers running
      (0 until warmupBatches).foreach(_ => ingest(now(), measured = false))
      val before = rec.map { r => r.drain(); r.snapshot() }
      val compiles0 = rec.map(_.codegenCompiles)
      val setupS = secs(tSession, now())
      // the measured window: batch j is due at w0 + j * period (open loop)
      val w0 = now()
      windowStart = w0
      windowEnd = w0 + (seconds * 1e9).toLong
      var j = 0
      while (w0 + (j * periodS * 1e9).toLong < windowEnd &&
          next < batchFiles.size) {
        val due = w0 + (j * periodS * 1e9).toLong
        val wait = due - now()
        if (wait > 0) Thread.sleep(wait / 1000000, (wait % 1000000).toInt)
        ingest(due, measured = true)
        j += 1
      }
      val wEnd = math.max(now(), windowEnd)
      stop = true
      readers.foreach(_.join())
      val windowS = secs(w0, wEnd)
      val layer = rec.map { r =>
        r.drain()
        val after = r.snapshot()
        after.map { case (k, v) => k -> (v - before.get.getOrElse(k, 0.0)) } +
          ("codegen.compiles" -> (r.codegenCompiles - compiles0.get).toDouble) +
          ("blocks.pinned_mb" -> r.storageUsedMb)
      }.getOrElse(Map.empty)
      server.stop(0)
      // store layout after the run
      val parts = new File(store).listFiles().filter(_.getName
        .startsWith("dt=")).toSeq
      val files = parts.map(_.listFiles().count(f =>
        f.getName.startsWith("part-")))
      Map("setup" -> Map(
          "session_s" -> sessionS,
          "store_s" -> storeS,
          "api_staging_s" -> apiS,
          "setup_s" -> setupS),
        "window_s" -> windowS,
        "batches" -> batches.toSeq,
        "refreshes" -> refreshes.toSeq,
        "reads" -> reads.asScala.toSeq.sortBy(_("start_s").asInstanceOf[Double]),
        "applied_batches" -> batches.filter(_("ok") == true).map(_("batch")),
        "store" -> store,
        "files_per_partition" -> (files.sum.toDouble / files.size.max(1)),
        "layer" -> layer)
    }
  }
}
