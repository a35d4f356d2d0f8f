package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import java.time.Instant

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Encoders, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.{count, countDistinct, lit}
import org.apache.spark.sql.types.{BinaryType, StructType}

import graft.{GraftSession, Pipeline, Scheduler, SparkEntry}
import graft.operators.SessionCaches
import graft.reference.MinuteReport
import graft.streaming.Ingest

/** One benchmark run inside one JVM: set up, measure one workload for a
  * given number of seconds, and write the raw samples as JSON. The Python
  * runner (`perfbench/run.py`) turns them into metrics and checks outputs.
  *
  *   Harness --workload minute_live|catchup|query_mix --seed N --seconds S
  *           --trace 0|1 --work DIR --out FILE [--data DIR]
  *   Harness --selftest-wire --out FILE
  *
  * Every call into the program goes through a public entry point:
  * `Pipeline`, `Ingest`, `Scheduler`, `SparkEntry.queries`. */
object Harness {

  /** Staging is repeated this many times; setup reports the median. */
  val StagingReps = 3

  /** The query_mix pass, in order. */
  val MixQueries: Seq[String] = Seq(
    "ref_minute_report", "q1_pricing_summary", "q3_top_revenue", "q7_nation_volume",
    "sql_market_share", "ev_pivot_day_type", "ev_top_user_per_hour",
    "asof_click_attribution", "agg_cube", "agg_kll_report_grain", "text_quality_score",
    "quality_lr_score", "win_moving_avg", "dedup_ngram_jaccard", "sim_knn_brute",
    "mm_decode_batched", "wh_compact_roundtrip")

  def now: Long = System.nanoTime()
  def secs(fromNs: Long, toNs: Long = System.nanoTime()): Double = (toNs - fromNs) / 1e9

  def main(args: Array[String]): Unit = {
    val opts = args.sliding(2, 2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    if (args.headOption.contains("--selftest-wire")) {
      Files.writeString(Paths.get(args(2)), Json(selftestWire()))
      return
    }
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val work = new File(opts("work")).getAbsolutePath
    val cores = Runtime.getRuntime.availableProcessors

    val spark = GraftSession.local(cores)
    val sessionStart = ManagementFactory.getRuntimeMXBean.getUptime / 1e3
    val tracer = new Tracer(spark, opts("trace") == "1")
    val run = new Run(spark, tracer, seed, seconds, work)
    val body: Map[String, Any] = workload match {
      case "minute_live" => run.minuteLive()
      case "catchup" => run.catchup()
      case "query_mix" => run.queryMix(opts("data"))
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val out = body ++ Map(
      "session_start_s" -> sessionStart,
      "rss_peak_mb" -> vmHwmMb(),
      "cores" -> cores,
      "spark_version" -> spark.version,
      "java_version" -> System.getProperty("java.version"),
      "trace" -> tracer.dump())
    Files.writeString(Paths.get(opts("out")), Json(out))
    spark.stop()
  }

  /** Peak resident set of this process (VmHWM), in MB. */
  def vmHwmMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(-1.0)

  /** Wire generator determinism: digests of two same-seed encodings and one
    * other-seed encoding, with their tallies. */
  def selftestWire(): Map[String, Any] = {
    def digest(seed: Long, n: Int, chunk: Int): (String, Any) = {
      val w = new Wire(seed, Wire.origin(seed), 10L)
      val t = new Wire.Tally
      val md = java.security.MessageDigest.getInstance("SHA-256")
      (0 until n by chunk).foreach { from =>
        w.records(from, math.min(n, from + chunk), t).foreach { case (k, v) => md.update(k); md.update(v) }
      }
      (md.digest().map("%02x".format(_)).mkString, (0 to (n - 1) / w.eventsPerMinute).map(t.json))
    }
    val n = 13000
    val (a, ta) = digest(7L, n, 1000)
    val (b, tb) = digest(7L, n, 333) // another chunking of the same stream
    val (c, tc) = digest(8L, n, 1000)
    Map("same_seed" -> Seq(a, b), "same_seed_tally" -> Seq(ta, tb),
      "other_seed" -> c, "other_seed_tally" -> tc)
  }

  /** Process CPU and JVM counters over a measured window. */
  final class Window(excludeThread: () => Long) {
    private val os = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    private val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala
    private val heap = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
    private var cpu0, gc0, ex0 = 0L
    def start(): Unit = {
      heap.foreach(_.resetPeakUsage())
      cpu0 = os.getProcessCpuTime; gc0 = gcs.map(_.getCollectionTime).sum; ex0 = excludeThread()
    }
    def stop(): Map[String, Any] = Map(
      "cpu_s" -> (os.getProcessCpuTime - cpu0 - (excludeThread() - ex0)) / 1e9,
      "gc_s" -> (gcs.map(_.getCollectionTime).sum - gc0) / 1e3,
      "heap_peak_mb" -> heap.map(_.getPeakUsage.getUsed).sum / 1048576.0)
  }
}

/** The three workloads. Each returns raw samples: setup timings, one
  * record per operation, and the measured window's counters. */
final class Run(spark: SparkSession, tr: Tracer, seed: Long, seconds: Double, work: String) {
  import Harness._

  /** Closed loops measure whole units (rounds, passes): another unit runs
    * only if, at the mean unit time so far, it ends within `seconds`. */
  private def fits(elapsed: Double, done: Int): Boolean =
    elapsed + elapsed / done <= seconds

  private def dir(parts: String*): String = {
    val f = new File((work +: parts).mkString("/"))
    f.mkdirs()
    f.getAbsolutePath
  }

  private def reportName(minuteStartMs: Long): String =
    MinuteReport.tehranMinuteFileName(Instant.ofEpochMilli(minuteStartMs + 60000L))
      .stripSuffix(".parquet")

  // ------------------------------------------------------------------
  // minute_live: open loop. A generator thread offers `Rate` events per
  // wall second into a 6-partition memory-stream topic; event time moves
  // 10 ms per event (6,000 events per event-minute), so a minute closes
  // every 2 wall seconds, well above the freshness that decides whether a
  // report is late. Once the ingest has committed the offset that holds a
  // minute's last event, that minute's report is written.
  // ------------------------------------------------------------------
  val Rate = 3000
  val PrewarmMinutes = 12
  val WarmMinutes = 3

  def minuteLive(): Map[String, Any] = {
    val wire = new Wire(seed, Wire.origin(seed), 10L)
    val perMin = wire.eventsPerMinute
    val periodS = perMin.toDouble / Rate
    val measured = math.max(3, math.ceil(seconds / periodS).toInt)
    val minutes = WarmMinutes + measured
    // one offer every 500 ms, as a producer batching its sends: the ingest
    // is idle when a minute's last offer lands, so settle is one trigger
    // rather than one to two depending on where a running trigger stands
    val chunk = Rate / 2
    require(perMin % chunk == 0, "a minute's last event must end an offer")

    // staging: encode every event the run will offer, in offer-sized chunks
    var chunks: Array[(Long, Array[(Array[Byte], Array[Byte])])] = null
    var tally: Wire.Tally = null
    val staging = (1 to StagingReps).map { _ =>
      val t0 = now
      tally = new Wire.Tally
      chunks = (0L until minutes.toLong * perMin by chunk.toLong).map { from =>
        val until = math.min(from + chunk, minutes.toLong * perMin)
        (until - 1, wire.records(from, until, tally))
      }.toArray
      secs(t0)
    }

    val wh = dir("live", "warehouse"); val ck = dir("live", "checkpoint"); val rp = dir("live", "reports")
    val tWarm = now
    // JIT warm-up in one burst: the same decode → warehouse → report path
    // over `PrewarmMinutes` staged minutes, into a warehouse of its own
    val pre = stageWire(wire, PrewarmMinutes.toLong * perMin, new Wire.Tally, dir("live", "prewarm-stage"))
    val preWh = dir("live", "prewarm-warehouse")
    Ingest.startWireIngest(spark.readStream.schema(wireSchema).parquet(pre), preWh,
      dir("live", "prewarm-checkpoint")).awaitTermination()
    (0 until PrewarmMinutes).foreach { m =>
      Pipeline.minutelyReport(spark, preWh, dir("live", "prewarm-reports"),
        Instant.ofEpochMilli(wire.startMs + (m + 1) * 60000L))
    }
    tr.discardIngest()
    val topic = MemoryStream[(Array[Byte], Array[Byte])](6)(
      Encoders.tuple(Encoders.BINARY, Encoders.BINARY), spark.sqlContext)
    val q = Pipeline.ingest(
      Ingest.decodeWire(topic.toDF().toDF("key", "value")), wh, ck, availableNow = false)

    // generator: offer each chunk when its last event is due
    val lastOffset = Array.fill(minutes)(-1L)
    @volatile var lagMax = 0.0
    @volatile var genError: Throwable = null
    @volatile var genCpuNs = 0L
    val threads = ManagementFactory.getThreadMXBean
    val t0 = now + 300000000L
    def dueNs(event: Long): Long = t0 + (event * 1e9 / Rate).toLong
    val gen = new Thread(() => try {
      chunks.foreach { case (last, rows) =>
        val due = dueNs(last)
        while (now < due) Thread.sleep(math.max(0L, (due - now) / 1000000L).min(5L))
        lagMax = math.max(lagMax, secs(due))
        val off = topic.addData(rows.toSeq).toString.toLong
        val m = (last / perMin).toInt
        if ((last + 1) % perMin == 0) lastOffset.synchronized { lastOffset(m) = off }
      }
    } catch { case e: Throwable => genError = e }
    finally genCpuNs = threads.getCurrentThreadCpuTime, "perfbench-generator")
    gen.setDaemon(true)
    // the generator's own CPU is not the program's: a dead thread reads -1
    val window = new Window(() => {
      val v = threads.getThreadCpuTime(gen.getId)
      if (v < 0) genCpuNs else v
    })
    gen.start()

    // the highest topic offset the ingest has committed (-1 before any)
    def committed(): Long =
      Option(q.lastProgress).flatMap(p => Option(p.sources.head.endOffset))
        .map(_.trim.toLong).getOrElse(-1L)

    val recs = mutable.ArrayBuffer.empty[Map[String, Any]]
    var warmupS = 0.0
    try {
      (0 until minutes).foreach { m =>
        if (m == WarmMinutes) { warmupS = secs(tWarm); window.start() }
        def target = lastOffset.synchronized(lastOffset(m))
        while (target < 0 || committed() < target) {
          if (genError != null) throw genError
          q.exception.foreach(e => throw e)
          Thread.sleep(2)
        }
        val tSeen = now
        val minuteStart = wire.startMs + m * 60000L
        tr.span("Pipeline.minutelyReport", s"minute-$m") {
          Pipeline.minutelyReport(spark, wh, rp, Instant.ofEpochMilli(minuteStart + 60000L))
        }
        val tDone = now
        val due = dueNs((m + 1).toLong * perMin - 1)
        recs += Map("minute" -> m, "warmup" -> (m < WarmMinutes),
          "freshness_s" -> secs(due, tDone), "settle_s" -> secs(due, tSeen),
          "report_s" -> secs(tSeen, tDone),
          "late" -> (tDone > dueNs((m + 2).toLong * perMin - 1)),
          "report_dir" -> s"$rp/${reportName(minuteStart)}",
          "files" -> Option(new File(s"$wh/${partitionDir(minuteStart)}").listFiles())
            .map(_.count(_.getName.endsWith(".parquet"))).getOrElse(0),
          "tally" -> tally.json(m))
      }
    } finally {
      gen.join(60000L)
      q.stop()
    }
    val counters = window.stop()
    Map("workload" -> "minute_live", "staging_s" -> staging, "warmup_s" -> warmupS,
      "warmup_units" -> WarmMinutes, "ops" -> recs.toSeq, "gen_lag_max_s" -> lagMax,
      "events_per_minute" -> perMin) ++ counters
  }

  /** The warehouse's partition directory of a minute (UTC session time,
    * ':' escaped as Spark escapes partition values). */
  private def partitionDir(minuteStartMs: Long): String =
    "event_minute=" + java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")
      .withZone(java.time.ZoneOffset.UTC).format(Instant.ofEpochMilli(minuteStartMs))
      .replace(":", "%3A")

  // ------------------------------------------------------------------
  // catchup: closed work. A backlog of `BacklogMinutes` event-minutes of
  // `BacklogPerMinute` events is staged as 6 wire files; each round
  // restarts into an empty warehouse, drains the backlog with
  // `Ingest.startWireIngest` (AvailableNow) and then lets the Scheduler
  // write every owed report, two runs in flight.
  // ------------------------------------------------------------------
  val BacklogMinutes = 6
  val WarmRounds = 2
  val BacklogPerMinute = 30000

  def catchup(): Map[String, Any] = {
    val wire = new Wire(seed, Wire.origin(seed), 60000L / BacklogPerMinute)
    val n = BacklogMinutes.toLong * BacklogPerMinute
    var tally: Wire.Tally = null
    var stageDir: String = null
    val staging = (1 to StagingReps).map { r =>
      val t0 = now
      tally = new Wire.Tally
      stageDir = stageWire(wire, n, tally, dir("catchup", s"stage-$r"))
      secs(t0)
    }
    val origin = Instant.ofEpochMilli(wire.startMs)
    val intervals = Scheduler.dueIntervals(Some(origin),
      origin.plusSeconds(60L * (BacklogMinutes + 1)), catchup = true)
    require(intervals.size == BacklogMinutes, s"owed ${intervals.size} intervals")

    def round(r: Int): Map[String, Any] = {
      val wh = dir("catchup", s"round-$r", "warehouse"); val ck = dir("catchup", s"round-$r", "checkpoint")
      val landing = dir("catchup", s"round-$r", "landing"); val rp = dir("catchup", s"round-$r", "reports")
      val extractStart = mutable.Map.empty[Instant, Long]
      val reportDone = mutable.Map.empty[Instant, Long]
      val t0 = now
      tr.span("Ingest.startWireIngest", s"round-$r") {
        Ingest.startWireIngest(spark.readStream.schema(wireSchema).parquet(stageDir), wh, ck)
          .awaitTermination()
      }
      val tDrain = now
      val runs = tr.span("Scheduler.runDue", s"round-$r") {
        Scheduler.runDue(intervals, iv => Scheduler.minutelySteps(spark, wh, landing, rp, iv).map { st =>
          st.copy(body = up => {
            if (st.name == "extract") extractStart.synchronized(extractStart.getOrElseUpdate(iv, now))
            val out = tr.span(s"Scheduler.${st.name}", s"round-$r/${iv.toEpochMilli}")(st.body(up))
            if (st.name == "report") reportDone.synchronized(reportDone(iv) = now)
            out
          })
        }, Scheduler.Config(catchup = true))
      }
      val tEnd = now
      // exactly-once: every staged event landed once (outside the timed region)
      val row = spark.read.parquet(wh).agg(count(lit(1)), countDistinct("event_id")).head()
      Map("round" -> r, "catchup_s" -> secs(t0, tEnd), "drain_s" -> secs(t0, tDrain),
        "events" -> n, "warehouse_rows" -> row.getLong(0), "distinct_event_ids" -> row.getLong(1),
        "warehouse_files" -> dirFiles(new File(wh)),
        "ops" -> runs.map { rr =>
          val iv = rr.interval
          val minute = ((iv.toEpochMilli - wire.startMs) / 60000L - 1).toInt
          Map("minute" -> minute, "succeeded" -> rr.succeeded,
            "retries" -> rr.steps.map(s => math.max(0, s.attempts - 1)).sum,
            "errors" -> rr.steps.flatMap(_.error),
            "ready_s" -> reportDone.get(iv).map(secs(t0, _)).getOrElse(-1.0),
            "slot_wait_s" -> extractStart.get(iv).map(secs(tDrain, _)).getOrElse(-1.0),
            "report_dir" -> s"$rp/${reportName(wire.startMs + minute * 60000L)}",
            "tally" -> tally.json(minute))
        })
    }

    val tWarm = now
    (1 to WarmRounds).foreach(r => round(-r))
    val warmupS = secs(tWarm)
    tr.discardIngest()
    val window = new Window(() => 0L)
    window.start()
    val tMeasure = now
    val rounds = mutable.ArrayBuffer(round(1))
    while (fits(secs(tMeasure), rounds.size)) rounds += round(rounds.size + 1)
    Map("workload" -> "catchup", "staging_s" -> staging, "warmup_s" -> warmupS,
      "warmup_units" -> WarmRounds, "rounds" -> rounds.toSeq, "backlog_minutes" -> BacklogMinutes,
      "events_per_minute" -> BacklogPerMinute) ++ window.stop()
  }

  private val wireSchema = new StructType().add("key", BinaryType).add("value", BinaryType)

  /** Encode events `[0, n)` and write them as 6 wire files of (key, value). */
  private def stageWire(wire: Wire, n: Long, tally: Wire.Tally, to: String): String = {
    spark.createDataset(spark.sparkContext.parallelize(wire.records(0L, n, tally).toSeq, 6))(
      Encoders.tuple(Encoders.BINARY, Encoders.BINARY)).toDF("key", "value")
      .write.mode("overwrite").parquet(to)
    to
  }

  private def dirFiles(f: File): Int =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(dirFiles).sum
    else if (f.getName.endsWith(".parquet")) 1 else 0

  // ------------------------------------------------------------------
  // query_mix: closed loop, one client. One untimed pass writes every
  // query's full result for the output check and warms the session; then
  // passes repeat, each query fully materialized through the noop sink
  // after its per-query state is cleared (trained models are kept).
  // ------------------------------------------------------------------
  def queryMix(data: String): Map[String, Any] = {
    val fns = SparkEntry.queries
    val results = dir("mix", "results")
    val tWarm = now
    val warm = MixQueries.map { name =>
      SessionCaches.clearQueryState(spark, SessionCaches.modelKeys(spark))
      val t0 = now
      val err = scala.util.Try(fns(name)(spark, data).coalesce(1).write.mode("overwrite")
        .parquet(s"$results/$name")).failed.toOption.map(_.toString)
      (name, secs(t0), err)
    }
    val warmupS = secs(tWarm)
    val window = new Window(() => 0L)
    window.start()
    val tMeasure = now
    val execs = mutable.ArrayBuffer.empty[Map[String, Any]]
    val passes = mutable.ArrayBuffer.empty[Double]
    while (passes.isEmpty || fits(secs(tMeasure), passes.size)) {
      val p = passes.size
      val tp = now
      MixQueries.foreach { name =>
        SessionCaches.clearQueryState(spark, SessionCaches.modelKeys(spark))
        val t0 = now
        val err = scala.util.Try(tr.span("SparkEntry.queries", s"pass-$p/$name") {
          fns(name)(spark, data).write.format("noop").mode("overwrite").save()
        }).failed.toOption.map(_.toString)
        execs += Map("pass" -> p, "query" -> name, "s" -> secs(t0), "error" -> err)
      }
      passes += secs(tp)
    }
    val oracle = SparkEntry.oracleSql
    Map("workload" -> "query_mix", "staging_s" -> Seq.empty[Double], "warmup_s" -> warmupS,
      "warmup_units" -> 1, "passes_s" -> passes.toSeq, "ops" -> execs.toSeq,
      "warmup_query_s" -> warm.map(w => w._1 -> w._2).toMap,
      "warmup_errors" -> warm.flatMap(w => w._3.map(w._1 -> _)).toMap, "results_dir" -> results,
      "oracle_sql" -> MixQueries.flatMap(n => oracle.get(n).map(n -> _)).toMap) ++ window.stop()
  }
}
