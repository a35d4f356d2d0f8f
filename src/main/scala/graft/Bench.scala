package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}

/** Benchmark entry point. Prints exactly ONE compact JSON line to stdout —
  * short enough that log interleaving/truncation cannot break the driver's
  * parse (BENCH_r01/r02 were `parsed: null` because the old single line
  * embedded all ~90 per-query timings and got truncated). The `queries` map
  * in the printed line carries only the HEADLINE queries; the full sweep is
  * written to `bench_detail.json` next to the working directory.
  */
object Bench {

  /** One representative per subsystem: the reference flagship, the TPC-H
    * joins/aggs, SQL surface, windows, streaming-twin, dedup/ANN/text, and
    * the multimodal plumbing. */
  val Headline: Seq[String] = Seq(
    "ref_minute_report",      // the reference's 22.16 s flagship
    "q1_pricing_summary",     // scan + hash agg
    "q3_top_revenue",         // broadcast dims + SMJ + top-k
    "q7_nation_volume",       // 6-way join
    "sql_market_share",       // decorrelated SQL surface
    "ev_pivot_day_type",      // pivot report
    "ev_top_user_per_hour",   // window over events
    "asof_click_attribution", // as-of/range join
    "agg_cube",               // grouping sets / Expand
    "dedup_exact_by_hash",    // fingerprint shuffle dedup
    "dedup_ngram_jaccard",    // full MinHash-LSH pipeline
    "sim_knn_brute",          // embedding scan + codegen dot
    "text_quality_score",     // text HOF suite
    "mm_decode_batched")      // typed mapPartitions plumbing
  // the iterative trainers (quality_lr_train, sim_kmeans_assign) are
  // deliberately NOT headline entries: the headline total is the
  // round-over-round comparable, and the trainers' multi-job loops would
  // shift it by construction; the sweep + bench_detail.json time them.

  /** One-line JSON-safe rendering of a leg failure: exception class +
    * message, control/quote characters flattened, truncated to ~200
    * chars. Round-11's freshness leg failed in the driver's artifact as a
    * bare `"freshness_failed": -1.0` and the cause was unattributable
    * because the catch-all threw the exception away — every catch site
    * now routes through this so a red leg carries its own diagnosis. */
  def errTxt(e: Throwable): String = {
    val raw = e.getClass.getName + ": " + Option(e.getMessage).getOrElse("")
    // flatten to printable ASCII, not just control/quote chars: a
    // take(200) that split a surrogate pair would make the whole
    // envelope's Files.writeString throw — and that IOException is
    // swallowed, silently dropping the very artifact this exists for
    val flat = raw.map(c => if (c < ' ' || c > '~' || c == '"' || c == '\\') ' ' else c)
    if (flat.length > 200) flat.take(200) else flat
  }

  /** Contention self-label (round-11 verdict "Next round" #4): the r11
    * driver run started at loadavg 3.26, ended at 14.82, and took two
    * headline medians at 2.8× their quiet-host class — attributable only
    * by diffing against the builder's committed envelope. This derives
    * the label IN the artifact: contended when the bench started on a
    * busy host (loadavg > cpus/4 — a quarter of the cores already running
    * something else), or when the headline cold-rep dispersion itself
    * shows it (≥2 headline queries with max/min > 2× and an absolute
    * spread > 0.1 s — one jittery sub-100 ms query is normal variance,
    * broad multi-query scatter is the host). Pure function of the
    * envelope fields so BenchEnvelopeSpec can pin both rules. `cpus`
    * must be the MACHINE's core count (loadavg is host-wide), not the
    * session's SPARK_GRAFT_CPUS thread count — main passes
    * availableProcessors. */
  def hostContended(loadStart: Double, cpus: Int,
      spread: Seq[(String, Double, Double)]): Boolean = {
    val loaded = loadStart > cpus / 4.0
    val scattered = spread.count { case (_, lo, hi) =>
      lo > 0 && hi / lo > 2.0 && hi - lo > 0.1
    } >= 2
    loaded || scattered
  }

  /** Per-LEG contention label (round-12 verdict "Next round" #1): the
    * bench-start-load and headline-scatter rules are blind to a
    * scale/freshness leg whose OWN reps scattered — r12's official
    * artifact carried a 55.07 s scale_100m median [11.62, 122.53] with
    * `host_contended: false` because the flag never looked at the leg's
    * rep dispersion. A leg self-labels contended when any of its timed
    * metrics scatters beyond 2× across same-class reps with > 0.5 s
    * absolute spread (sub-half-second jitter on a seconds-class leg is
    * not host evidence).
    *
    * Per-rep loadavg is deliberately NOT part of this rule: back-to-back
    * 32-thread legs contaminate it with our own work (rep 2's 1-minute
    * loadavg includes rep 1's burn — the QUIET r12 run shows rep-start
    * loads of 20-28 inside scale_100m), so rep scatter is the only
    * self-clean signal a leg has.
    *
    * `skipFirst` exempts a leg whose first rep is cold BY CONSTRUCTION
    * (scale_10m keeps rep 1 as the honest cold-JVM shot — its 13.1 s
    * write vs the 6.2 s warm reps is the leg's point, not contention);
    * the scatter is then judged across the same-class reps 2..n. */
  def legContended(reps: Seq[Map[String, Double]], keys: Seq[String],
      skipFirst: Boolean): Boolean = {
    val sameClass = if (skipFirst) reps.drop(1) else reps
    keys.exists { k =>
      val vs = sameClass.flatMap(_.get(k))
      vs.nonEmpty && vs.min > 0 && vs.max / vs.min > 2.0 && vs.max - vs.min > 0.5
    }
  }

  /** Leg metric → leg label for the cross-ROUND regression check. Only
    * leg medians (plain keys, not _min/_max/_first) participate. */
  val RegressionKeys: Seq[(String, String)] = Seq(
    "scale_100m_join_sec" -> "scale_100m",
    "wh_write_10m" -> "scale_10m",
    "wh_pruned_minute_report" -> "scale_10m",
    "wh_full_agg_10m" -> "scale_10m",
    "wh_write_10m_warm" -> "scale_10m_warm",
    "wh_pruned_minute_report_warm" -> "scale_10m_warm",
    "wh_full_agg_10m_warm" -> "scale_10m_warm",
    "freshness_sec" -> "freshness")

  /** Cross-round uniform-slowdown label (round-13 verdict "Next round"
    * #2): [[legContended]] is a WITHIN-run rule — a leg degraded
    * ~uniformly across its reps (r13 driver scale_100m: 25.3 s median,
    * rep spread only 1.8×) is invisible to it by construction. This
    * compares each leg median against the COMMITTED prior-round gating
    * envelope (the exact comparison tools/bench_trend.py does after the
    * fact) and labels a leg `regressed` when its median exceeds 1.5× the
    * prior committed quiet value with > 0.5 s absolute growth. The prior
    * is trusted only if it self-labels quiet (host_contended=false AND
    * leg_contended=[]) and swept the SAME sf dir — comparing against a
    * contended or different-scale prior would manufacture labels. Pure
    * function of (prior JSON text, current medians) so
    * BenchEnvelopeSpec pins it on the r13 incident's real numbers.
    * Informational: leg_regressed does NOT gate the artifact write
    * (quiet = host_contended=false AND leg_contended empty) — a genuine
    * code regression must land in the committed artifact, labeled, not
    * be suppressed by its own label. */
  def legRegressedFromPrior(priorJson: String, cur: Map[String, Double],
      sfDir: String): Seq[String] = {
    // PARSING STANCE (round-14 ADVICE): the prior envelope is matched
    // with substring/regex, not a JSON parser — deliberately minimal,
    // since the label is informational and the envelope is machine-
    // written by this same file. The known fragilities are bounded:
    // every RegressionKeys metric name is unique across the envelope
    // (leg maps only — no headline query shares a leg-metric name, and
    // the free-text "timing" field never contains `"<key>":` with the
    // exact quote-colon frame), so findFirstMatchIn cannot land on a
    // wrong object today. If a future query were named like a leg
    // metric, THIS is the comment to revisit.
    val priorQuiet = priorJson.contains("\"host_contended\":false") &&
      priorJson.contains("\"leg_contended\":[]") &&
      // sf compared by BASENAME, not raw string: a trailing slash or a
      // differently-spelled path to the same sf dir must not silently
      // disable the cross-round compare (round-14 ADVICE)
      "\"sf\":\"([^\"]*)\"".r.findFirstMatchIn(priorJson)
        .exists(m => sfBasename(m.group(1)) == sfBasename(sfDir))
    if (!priorQuiet) Nil
    else RegressionKeys.flatMap { case (k, leg) =>
      val re = ("\"" + java.util.regex.Pattern.quote(k) + "\":(-?[0-9.Ee+-]+)").r
      for {
        m <- re.findFirstMatchIn(priorJson)
        p <- scala.util.Try(m.group(1).toDouble).toOption
        c <- cur.get(k)
        if p > 0 && c > p * 1.5 && c - p > 0.5
      } yield leg
    }.distinct
  }

  /** Best-ever-floor regression label (round-14 verdict "Next round" #3):
    * [[legRegressedFromPrior]] compares one round back, so a 1.4×/round
    * creep NEVER labels — each round is within 1.5× of its predecessor
    * while the leg quietly doubles every two rounds. The committed
    * BENCH_FLOOR.json carries the best-ever quiet gating median per leg
    * metric (updated only when a gating run improves it, so a contended
    * sweep can never poison the floor), and a leg labels `regressed`
    * when its median exceeds 1.5× the floor with > 0.5 s absolute
    * growth — the same thresholds as the prior-round rule, anchored to
    * the leg's proven-attainable class instead of last round's number. */
  def legRegressedFromFloor(floorJson: String, cur: Map[String, Double]): Seq[String] =
    RegressionKeys.flatMap { case (k, leg) =>
      val re = ("\"" + java.util.regex.Pattern.quote(k) + "\":(-?[0-9.Ee+-]+)").r
      for {
        m <- re.findFirstMatchIn(floorJson)
        f <- scala.util.Try(m.group(1).toDouble).toOption
        c <- cur.get(k)
        if f > 0 && c > f * 1.5 && c - f > 0.5
      } yield leg
    }.distinct

  /** The updated floor file content: every RegressionKeys metric present
    * in `cur` keeps the smaller of (existing floor, current median).
    * Pure function of (floor JSON, medians) so BenchEnvelopeSpec pins
    * improve-only semantics. */
  def updatedFloorJson(floorJson: String, cur: Map[String, Double]): String = {
    val entries = RegressionKeys.map(_._1).distinct.flatMap { k =>
      val re = ("\"" + java.util.regex.Pattern.quote(k) + "\":(-?[0-9.Ee+-]+)").r
      val old = re.findFirstMatchIn(floorJson)
        .flatMap(m => scala.util.Try(m.group(1).toDouble).toOption)
        .filter(_ > 0)
      (old, cur.get(k).filter(_ > 0)) match {
        case (Some(o), Some(c)) => Some(k -> math.min(o, c))
        case (Some(o), None)    => Some(k -> o)
        case (None, Some(c))    => Some(k -> c)
        case (None, None)       => None
      }
    }
    entries.map { case (k, v) =>
      "\"" + k + "\":" + String.format(java.util.Locale.ROOT, "%.4f", Double.box(v))
    }.mkString("{", ",", "}")
  }

  /** Gating-SF check by basename: `.../sf0.1` and `.../sf0.1/` gate,
    * `.../mysf0.1` does not (round-14 ADVICE — `endsWith("sf0.1")`
    * misclassified both). java.io.File strips trailing separators. */
  def sfBasename(sfDir: String): String = new java.io.File(sfDir).getName

  /** 1-minute loadavg from /proc/loadavg (−1 if unreadable). Captured at
    * bench start/end so a noisy host indicts itself in the envelope
    * (round-9 verdict: 6.7×/15× scale-leg blowups on untouched code could
    * not be attributed without host-load evidence). */
  private def loadavg(): Double = scala.util.Try(
    Files.readString(Paths.get("/proc/loadavg")).split(" ")(0).toDouble
  ).getOrElse(-1.0)

  /** (iowait, steal, total) jiffies from /proc/stat's aggregate cpu
    * line. Steal (col 8) is the hypervisor-ran-someone-else share — on
    * this virtualized driver host it was measured at 34% of all jiffies
    * during a full 32-thread burn (round 16), i.e. a third of the vCPUs
    * intermittently vanish. Loadavg is BLIND to it (stolen time still
    * counts threads as running), which is how r9/r12/r15 scale-leg
    * blowups kept self-labeling `host_contended: false`. */
  private def cpuTicks(): (Long, Long, Long) = scala.util.Try(
    cpuTicksOf(Files.readAllLines(Paths.get("/proc/stat")).get(0))
  ).getOrElse((-1L, -1L, -1L))

  /** (iowait, steal, total) of one /proc/stat cpu line. A line without
    * the steal column (≤ 7 counters, pre-2.6.11 kernels) yields steal −1,
    * so `host_steal_pct` reads the −1.0 "not measured" sentinel that
    * iowait and loadavg use, never a quiet-looking 0.0. */
  def cpuTicksOf(line: String): (Long, Long, Long) = {
    val f = line.trim.split("\\s+").drop(1).map(_.toLong)
    (f(4), if (f.length > 7) f(7) else -1L, f.sum)
  }

  /** Run one leg rep and append the host's 1-min loadavg at rep START plus
    * the iowait and STEAL shares of cpu jiffies ACROSS the rep. These flow
    * through the median/min/max machinery like any metric, so a slow rep
    * carries its own contention evidence (round-10 verdict #2: the capture
    * existed but was dead code, and the freshness leg's 61× spread stayed
    * unattributable). Purely additive fields — the contended/regressed
    * LABEL rules are unchanged. */
  private def withHostLoad(body: => Seq[(String, Double)]): Seq[(String, Double)] = {
    val l0 = loadavg()
    val (io0, st0, tk0) = cpuTicks()
    val out = body
    val (io1, st1, tk1) = cpuTicks()
    def pct(a: Long, b: Long): Double =
      if (tk1 > tk0 && a >= 0) (b - a).toDouble / (tk1 - tk0) * 100 else -1.0
    out ++ Seq("host_load_1min" -> l0, "host_iowait_pct" -> pct(io0, io1),
      "host_steal_pct" -> pct(st0, st1))
  }

  /** Second scale: the SCALE_NOTES Leg-1 warehouse at 10M events (100× the
    * sf0.1 event volume), reproducible per round so regressions show at
    * BOTH scales, not just the sweep SF (round-2 verdict item 10). Opt out
    * with SPARK_GRAFT_BENCH_SCALE=0. Returns (label, seconds) steps. */
  private def scaleLeg(spark: SparkSession): Seq[(String, Double)] = {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val wh = Files.createTempDirectory("bench-wh").toString
    def timed(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }
    try {
      val events = graft.reference.Events.generate(
        spark, 10_000_000L, 1704067200000L, intervalMs = 10)
      val tWrite = timed(graft.sources.Warehouse.writeEvents(events, wh))
      val tPruned = timed {
        // epoch arithmetic, NOT Timestamp.valueOf: valueOf parses in the
        // JVM default timezone, which silently shifts the probed minute on
        // non-UTC hosts (the session is pinned UTC, the host need not be)
        val m = new java.sql.Timestamp(1704067200000L + 2 * 3600 * 1000)
        val r = graft.reference.MinuteReport.analyze(
          graft.sources.Warehouse.readMinute(spark, wh, m), "bench.parquet")
        require(r.totalEvents == 6000, s"scale-leg report drifted: ${r.totalEvents}")
      }
      val tAgg = timed {
        graft.sources.Warehouse.readEvents(spark, wh)
          .groupBy($"event_minute", $"event_type").count().count()
      }
      Seq("wh_write_10m" -> tWrite, "wh_pruned_minute_report" -> tPruned,
        "wh_full_agg_10m" -> tAgg)
    } finally {
      // the 10M-event warehouse is a few hundred MB of temp parquet
      import scala.util.Try
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(rm)
        Try(f.delete())
      }
      rm(new java.io.File(wh))
    }
  }

  /** 100M-row join probe (round-8 verdict "Next round" #6): the 100×
    * claim for the JOIN surface previously rested on the 10M aggregate
    * leg plus AQE reasoning — this measures it. A q3/q7-shaped pipeline
    * at 100M fact rows: the seeded event generator (narrow map over
    * `spark.range`, no disk staging — the probe times the join, the
    * write path has its own leg) joined to a 1.1M-row user dimension
    * (too big to broadcast at the default 10 MB threshold, so the plan
    * is the genuine shuffle-join shape), then the aggregate/top-k tail.
    *
    * Returns the wall time plus a TASK-SKEW readout from a listener:
    * per stage (≥8 tasks), median and max task duration — the judge's
    * "no task >2× median" evidence, written per-stage into
    * BENCH_HEADLINE.json. */
  private[graft] def scale100mLeg(spark: SparkSession): (Seq[(String, Double)], String) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
    import org.apache.spark.sql.functions._
    val taskDurs =
      scala.collection.mutable.HashMap.empty[Int, scala.collection.mutable.ArrayBuffer[Long]]
    val listener = new SparkListener {
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
        // listener-bus events arrive on one dispatch thread, but guard
        // anyway: the map is also read after removeSparkListener
        taskDurs.synchronized {
          taskDurs.getOrElseUpdate(t.stageId,
            scala.collection.mutable.ArrayBuffer.empty[Long]) += t.taskInfo.duration
        }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val t0 = System.nanoTime()
      val events = graft.reference.Events.generate(
        spark, 100_000_000L, 1704067200000L, intervalMs = 1)
      // the generator's user_id is uuid-shaped md5(bucket, "usr") with
      // bucket ≈ id/100 (+1 rotation) — the dimension enumerates every
      // reachable bucket with the same derivation, as a real user table
      // keyed by the same id would
      def uuidLike(src: org.apache.spark.sql.Column, salt: String) = {
        val h = md5(concat(src.cast("string"), lit(salt)))
        concat_ws("-",
          substring(h, 1, 8), substring(h, 9, 4), substring(h, 13, 4),
          substring(h, 17, 4), substring(h, 21, 12))
      }
      val users = spark.range(0, 1_100_002).select(
        uuidLike(col("id"), "usr").as("user_id"),
        (col("id") % 25).as("segment"))
      val top = events.join(users, "user_id")
        .groupBy(col("segment"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          avg(col("request_latency_ms")).as("avg_latency"),
          sum(when(col("status") === "ERROR", 1L).otherwise(0L)).as("errors"))
        .orderBy(col("n").desc, col("segment"), col("event_type"))
        .collect() // 125 groups (25 segments × 5 types) — driver-bounded
      require(top.map(_.getLong(2)).sum == 100_000_000L,
        "scale_100m probe lost rows — the join dropped fact rows")
      val total = (System.nanoTime() - t0) / 1e9
      val stages = taskDurs.synchronized {
        taskDurs.toSeq.sortBy(_._1).flatMap { case (sid, ds0) =>
          val ds = ds0.sorted
          // single-digit-task stages (driver-ish collects) carry no skew
          // signal; the join/agg stages at 32 shuffle partitions do
          if (ds.length >= 8 && ds(ds.length / 2) > 0)
            Some((sid, ds.length, ds(ds.length / 2), ds.last))
          else None
        }
      }
      // skew over stages whose median task does ≥500 ms of real work: a
      // 250 ms-median narrow map's max/median is task-START jitter
      // (measured 2.0 on the generator stage while the join and agg
      // stages sat at 1.2/1.1) — per-stage raw numbers stay in the
      // emitted array either way
      val worstSkew = stages.collect {
        case (_, _, med, mx) if med >= 500 => mx.toDouble / med
      }.foldLeft(0.0)(math.max)
      val stageJson = stages.map { case (sid, n, med, mx) =>
        s"""{"stage":$sid,"tasks":$n,"task_med_ms":$med,"task_max_ms":$mx}"""
      }.mkString("[", ",", "]")
      (Seq("scale_100m_join_sec" -> total,
        "scale_100m_task_skew_max" -> worstSkew), stageJson)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  /** End-to-end streaming freshness (round-7 verdict "Next round" #6): the
    * reference's implied SLA is ~2-3 min of staleness (1-min report cadence
    * + the dashboard's 45 s poll, BASELINE.md); nothing measured OUR
    * ingest→report latency until now. The leg drives the real pipeline —
    * [[graft.Pipeline.ingest]] (continuous, exactly-once, minute-
    * partitioned) fed by the rate-source generator stamped with WALL-CLOCK
    * event times (startEpochMillis = now; 100 ev/s at 10 ms spacing keeps
    * event time 1:1 with the clock, the reference producer's rate) — waits
    * for the first minute boundary to close, drains in-flight micro-
    * batches, and runs [[graft.Pipeline.minutelyReport]] for that minute.
    *
    *   freshness_sec        = minute close → report JSON on disk (the SLA)
    *   fresh_settle_sec     = of that, draining the ingest's in-flight data
    *   fresh_report_sec     = of that, the pruned-read + pivot + write
    *
    * Wall-clock cost: up to ~60 s of waiting for the boundary — paid once,
    * after the sweep (the wait is idle, not load). */
  private def freshnessLeg(spark: SparkSession): Seq[(String, Double)] = {
    val wh = Files.createTempDirectory("bench-fresh-wh").toString
    val ck = Files.createTempDirectory("bench-fresh-ck").toString
    val rp = Files.createTempDirectory("bench-fresh-rp").toString
    var q: Option[org.apache.spark.sql.streaming.StreamingQuery] = None
    try {
      val t0 = System.currentTimeMillis()
      val events = graft.streaming.Ingest.eventStream(
        spark, rowsPerSecond = 100, startEpochMillis = t0)
      q = Some(graft.Pipeline.ingest(events, wh, ck, availableNow = false))
      val minuteEnd = (t0 / 60000 + 1) * 60000
      while (System.currentTimeMillis() < minuteEnd) Thread.sleep(100)
      q.foreach(_.processAllAvailable()) // drain the closed minute's tail
      val tSettled = System.currentTimeMillis()
      val json = graft.Pipeline.minutelyReport(spark, wh, rp,
        java.time.Instant.ofEpochMilli(minuteEnd))
      val tDone = System.currentTimeMillis()
      require(!json.contains("No data"),
        "freshness leg produced an empty minute — ingest never landed")
      Seq("freshness_sec" -> (tDone - minuteEnd) / 1e3,
        "fresh_settle_sec" -> (tSettled - minuteEnd) / 1e3,
        "fresh_report_sec" -> (tDone - tSettled) / 1e3)
    } finally {
      import scala.util.Try
      q.foreach(x => Try(x.stop()))
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(rm)
        Try(f.delete())
      }
      Seq(wh, ck, rp).foreach(d => rm(new java.io.File(d)))
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    // the committed prior-round gating envelope, read BEFORE this run can
    // overwrite it — the baseline for the cross-round leg_regressed label
    val priorEnvelope = scala.util.Try(
      Files.readString(Paths.get("BENCH_HEADLINE.json"))).getOrElse("")
    // best-ever quiet gating medians per leg metric — the creep-proof
    // baseline for leg_regressed (round-14 verdict "Next round" #3)
    val floorJson = scala.util.Try(
      Files.readString(Paths.get("BENCH_FLOOR.json"))).getOrElse("")
    val spark = GraftSession.local(cpus)
    // The 10M-event scale leg runs FIRST, before the sweep: round 5 ran it
    // after 158 queries and shipped a 5× "regression" that was really the
    // sweep session's accumulated state (memo artifacts, FileStatusCache,
    // pending unpersists, GC pressure) charged to the leg. First-run
    // numbers measure the warehouse, not the session's history.
    val loadStart = loadavg()
    val (iowait0, steal0, ticks0) = cpuTicks()
    val scaleOn = sys.env.getOrElse("SPARK_GRAFT_BENCH_SCALE", "1") != "0"
    // leg/query name -> sanitized exception text; lands in BENCH_HEADLINE
    // .json and bench_detail.json as "leg_errors" so no -1.0 is ever
    // silent again (round-11 verdict "Next round" #1)
    val legErrors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    // legs whose own rep scatter labels them contended (verdict r12 #1);
    // rendered as "leg_contended":[…] beside host_contended
    val legsContended = scala.collection.mutable.LinkedHashSet.empty[String]
    // Median-of-3 with spread (round-9 verdict "Next round" #4): rep 1 is
    // the true cold-JVM shot (kept as *_first — coldness is its point, an
    // untimed discard would destroy it); reps 2-3 rerun the identical leg
    // immediately after. A cold shot far above its own reps 2-3 indicts
    // host I/O contention; three tight reps that are ALL slow indict the
    // code. r9's unattributable 87 s write came from a single-shot leg.
    val scale =
      if (!scaleOn) Seq.empty
      else try {
        val runs = (1 to 3).map(_ => withHostLoad(scaleLeg(spark)).toMap)
        // rep 1 is the by-design cold shot — scatter judged on reps 2-3
        if (legContended(runs, Seq("wh_write_10m", "wh_pruned_minute_report",
            "wh_full_agg_10m"), skipFirst = true))
          legsContended += "scale_10m"
        runs.head.keys.toSeq.sorted.flatMap { k =>
          val vs = runs.map(_(k)).sorted
          Seq(k -> vs(vs.size / 2), s"${k}_first" -> runs.head(k),
            s"${k}_min" -> vs.head, s"${k}_max" -> vs.last)
        }
      }
      catch { case e: Throwable =>
        legErrors("scale_10m") = errTxt(e)
        Seq("scale_leg_failed" -> -1.0)
      }

    // The 100M join probe, MOVED pre-sweep (round-10 verdict #3): two
    // rounds running it post-sweep produced 106-164 s vs the 13.7 s class
    // it was built at (SCALE_NOTES Leg 16), with `TaskMemoryManager:
    // Failed to allocate a page` in the tail — post-sweep heap pressure,
    // not the join. Controlled protocol: run before the 235-query sweep
    // accumulates state (the 3 cold scale_10m legs above already warmed
    // JIT/codegen), one untimed discard rep, then median-of-3 with spread,
    // per-rep host-load, and a heap snapshot as the memory-pressure
    // evidence the verdict asked for.
    val (scale100m, scale100mStages) =
      if (!scaleOn) (Seq.empty[(String, Double)], "[]")
      else try {
        // flush the scale_10m legs' dirty-page backlog OUTSIDE the timed
        // region (SCALE_NOTES Leg 31: the isolated probe runs 14.5-15.1 s
        // while the in-bench leg paid 15.4-19.3 s — the delta is the three
        // cold 10M-event warehouse writes immediately before this probe,
        // the same backlog class the warm 10M leg already syncs away)
        scala.util.Try(new ProcessBuilder("sync").start().waitFor())
        graft.operators.SessionCaches.clear(spark)
        spark.catalog.clearCache()
        System.gc()
        val rt = Runtime.getRuntime
        val heapUsedMb = (rt.totalMemory - rt.freeMemory) / (1024.0 * 1024)
        val heapMaxMb = rt.maxMemory / (1024.0 * 1024)
        scala.util.Try(scale100mLeg(spark)) // untimed discard: JIT + residue
        val reps = (1 to 3).map { _ =>
          var stages = "[]"
          val m = withHostLoad {
            val (metrics, st) = scale100mLeg(spark)
            stages = st
            metrics
          }.toMap
          (m, stages)
        }
        // all 3 timed reps follow an untimed discard — same-class by
        // construction, so scatter is host evidence (this rule would have
        // labeled r12's official 55 s [11.6, 122.5] artifact contended)
        if (legContended(reps.map(_._1), Seq("scale_100m_join_sec"),
            skipFirst = false))
          legsContended += "scale_100m"
        val byTime = reps.sortBy(_._1("scale_100m_join_sec"))
        val medianRep = byTime(reps.size / 2)
        val metrics = reps.head._1.keys.toSeq.sorted.flatMap { k =>
          val vs = reps.map(_._1(k)).sorted
          Seq(k -> vs(vs.size / 2), s"${k}_min" -> vs.head, s"${k}_max" -> vs.last)
        } ++ Seq("heap_used_mb_at_start" -> heapUsedMb, "heap_max_mb" -> heapMaxMb)
        (metrics, medianRep._2)
      } catch { case e: Throwable =>
        legErrors("scale_100m") = errTxt(e)
        (Seq("scale_100m_failed" -> -1.0), "[]")
      }

    // Per query: (1) a warm-up run pays one-off codegen/JIT/scan-listing
    // costs that a warm service never sees (the reference's 22.16 s
    // baseline is dominated by exactly such fixed overhead — BASELINE.md);
    // (2) graft's session memo/artifact caches are CLEARED so the timed
    // run measures the query's pipeline, not a cache read (round 5's
    // headline was inflated 2.57 s by one query reading its own memo);
    // (3) the timed run — for artifact-building queries this times the
    // full build+serve; (4) queries that registered session artifacts get
    // a second timed run measuring the warm SERVE path (reported
    // separately — for index-backed queries like sim_knn_ivf_indexed the
    // amortized serve time is the operationally honest number, for
    // one-shot pipelines the build time is). Sorted name order for stable
    // output.
    // HEADLINE queries additionally repeat the clear-then-time cycle to 3
    // cold samples and report the MEDIAN with min/max dispersion: round 7's
    // gating run diverged ~50% from the committed run on single-shot
    // numbers (mm_decode_batched ×2.7 driver-vs-builder) and nobody could
    // say whether that was load or code. A median with spread makes
    // cross-round deltas attributable (round-7 verdict, "Next round" #1).
    // Model-registry sharing across the sweep (round-13 verdict "Next
    // round" #4): bounded trained models (SessionCaches.modelMemo — LR
    // weights, k-means centroids, PQ codebooks, SQ8 bounds, PCA bases,
    // BPE merges, the capped bigram LM) built by EARLIER sweep queries
    // survive each query's cold reset — a real session trains once and
    // every family member serves. The no-phantom-win rule (round 5)
    // holds: `preModels` is snapshotted BEFORE this query's warmup, so a
    // model the warmup itself trained is dropped and the timed run pays
    // it — the FIRST family member in sweep order still carries the full
    // cold training cost. Dir artifacts and plain memos are dropped
    // every rep exactly as before.
    val headlineSet = Headline.toSet
    // per-query model-training attribution (round-14 verdict "Next
    // round" #6): with the model registry, the first family member in
    // sweep order pays training — when sweep membership shifts, that
    // cost MOVES between queries and a cross-round compare misreads it
    // as a regression. Record which model keys each query's timed run
    // trained so bench_trend can separate "paid training" from "got
    // slower".
    val trainedBy = scala.collection.mutable.LinkedHashMap.empty[String, Seq[String]]
    val timings = SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      try {
        val preModels = graft.operators.SessionCaches.modelKeys(spark)
        fn(spark, sfDir).count()
        val reps = if (headlineSet(name)) 3 else 1
        val samples = (1 to reps).map { _ =>
          graft.operators.SessionCaches.clearQueryState(spark, preModels)
          val t0 = System.nanoTime()
          fn(spark, sfDir).count()
          (System.nanoTime() - t0) / 1e9
        }
        // model keys that exist now but not before this query: the timed
        // run trained them (warmup-trained models were dropped by the
        // reset, so they re-trained inside the timed region)
        val trained = (graft.operators.SessionCaches.modelKeys(spark) -- preModels)
          .toSeq.sorted.map(_.stripPrefix("model:"))
        if (trained.nonEmpty) trainedBy(name) = trained
        val cold = samples.sorted.apply(samples.size / 2) // median (reps odd)
        // the warm run gets its own Try: a warm-serve failure must degrade
        // to warm=None, not discard the already-measured cold timing.
        // Warm-serve reruns only queries whose timed run REGISTERED state
        // (artifact dirs, memos, or a newly trained model) — with the
        // model registry now persisting across queries, the old
        // `size != 0` trigger would warm-rerun every query after the
        // first trainer and double the sweep.
        val warm =
          if (graft.operators.SessionCaches.allKeys(spark) == preModels) None
          else scala.util.Try {
            val t1 = System.nanoTime()
            fn(spark, sfDir).count()
            (System.nanoTime() - t1) / 1e9
          }.toOption
        (name, cold, samples.min, samples.max, warm)
      } catch { case e: Throwable =>
        legErrors(name) = errTxt(e)
        (name, -1.0, -1.0, -1.0, None)
      }
    }
    val results = timings.map { case (n, cold, _, _, _) => n -> cold }.toMap
    val warmServe = timings.collect { case (n, _, _, _, Some(w)) => n -> w }
    val spread = timings
      .collect { case (n, _, lo, hi, _) if headlineSet(n) && lo >= 0 => (n, lo, hi) }

    // The same leg AGAIN, now in the sweep-warmed JVM — the committed A/B
    // that round 6 asked for (verdict "What's wrong" #1): rounds ≤4 ran
    // the leg warm and r5/r6 ran it cold, so the two placements were never
    // measured in ONE run and the 21.3→25.7 s write "drift" could not be
    // attributed. scale_10m stays the honest cold headline (a SINGLE shot
    // by construction — repeating it would time a warmed JVM); the warm
    // twin is where repetition is meaningful, so it runs 3× and reports
    // the per-step MEDIAN with min/max dispersion (round-7 verdict #1).
    val scaleWarm =
      if (!scaleOn) Seq.empty
      else try {
        // one UNTIMED discard rep first: round 8's committed run showed
        // the first post-sweep rep still paying residue the pre-rep
        // `sync` doesn't cover (wh_write_10m_warm max 12.2 s vs median
        // 5.28 s — page-cache eviction + allocator/JIT state after the
        // 191-query sweep, not flushable backlog). The standard warmup-
        // discard discipline: absorb the sweep residue once, then time 3.
        scala.util.Try {
          new ProcessBuilder("sync").start().waitFor()
          scaleLeg(spark)
        }
        val runs = (1 to 3).map { _ =>
          // pay the accumulated dirty-page flush backlog OUTSIDE the timed
          // region: the 168-query sweep (and each previous warm rep's
          // ~300 MB warehouse) leaves unflushed writes that would
          // otherwise be charged to whichever warm write runs next —
          // measured as a 23-47 s scatter on a leg that times at a steady
          // ~7 s in isolation (WriteDegrade experiment, round 8)
          scala.util.Try(new ProcessBuilder("sync").start().waitFor())
          withHostLoad(scaleLeg(spark)).toMap
        }
        // discard rep already absorbed the sweep residue — all 3 timed
        // reps are same-class
        if (legContended(runs, Seq("wh_write_10m", "wh_pruned_minute_report",
            "wh_full_agg_10m"), skipFirst = false))
          legsContended += "scale_10m_warm"
        runs.head.keys.toSeq.sorted.flatMap { k =>
          val vs = runs.map(_(k)).sorted
          Seq(s"${k}_warm" -> vs(vs.size / 2),
            s"${k}_warm_min" -> vs.head, s"${k}_warm_max" -> vs.last)
        }
      } catch { case e: Throwable =>
        legErrors("scale_10m_warm") = errTxt(e)
        Seq("scale_leg_warm_failed" -> -1.0)
      }

    // Streaming freshness, last (its cost is idle boundary-waiting, and
    // running it after the sweep keeps the sweep's timings stream-free).
    // Opt out with SPARK_GRAFT_BENCH_FRESH=0 for quick local iteration.
    // Median-of-3 with spread here too (round-9 verdict #4: freshness was
    // single-shot and its 19.2 s-vs-1.3 s round delta unattributable).
    // Each rep waits for its own minute boundary (~30 s expected idle), so
    // 3 reps cost ~1.5 min of idle wall — attribution is worth the wait.
    // Reps run one-by-one so a rep-2 failure still lands rep-1's numbers:
    // round 11's official artifact carried ONLY `freshness_failed: -1.0`
    // with the exception discarded, and the leg went unattributable for a
    // round despite the builder's runs being green — now a failure emits
    // the error text plus any completed reps' partial medians.
    val fresh =
      if (sys.env.getOrElse("SPARK_GRAFT_BENCH_FRESH", "1") == "0") Seq.empty
      else {
        // one UNTIMED discard rep first (the scaleWarm discipline): the
        // first streaming query of the session pays streaming-path
        // codegen/JIT plus the sweep's FS-cache residue — r13's first
        // post-sweep freshness rep ran 3.32 s vs the 1.48-1.65 s steady
        // state, tripping the leg's own contention label on protocol
        // cost, not host evidence. The discard makes all 3 timed reps
        // same-class, which is exactly what legContended assumes.
        scala.util.Try(freshnessLeg(spark))
        val done = scala.collection.mutable.ArrayBuffer.empty[Map[String, Double]]
        var failed = false
        var rep = 0
        while (rep < 3 && !failed) {
          try done += withHostLoad(freshnessLeg(spark)).toMap
          catch { case e: Throwable =>
            legErrors("freshness") = errTxt(e)
            failed = true
          }
          rep += 1
        }
        if (legContended(done.toSeq, Seq("freshness_sec"), skipFirst = false))
          legsContended += "freshness"
        val medians =
          if (done.isEmpty) Seq("freshness_failed" -> -1.0)
          else done.head.keys.toSeq.sorted.flatMap { k =>
            val vs = done.map(_(k)).sorted
            // lower median: on a 2-rep partial, size/2 would report the
            // MAX under the median key, biasing a failure round high
            // exactly when it gets compared against true 3-rep medians
            Seq(k -> vs((vs.size - 1) / 2),
              s"${k}_min" -> vs.head, s"${k}_max" -> vs.last)
          }
        if (failed) medians :+ ("freshness_reps_completed" -> done.size.toDouble)
        else medians
      }

    // Bench-wide host evidence: loadavg at start/end plus the iowait share
    // of cpu jiffies across the WHOLE bench (per-leg deltas live inside
    // each leg's host_load_1min/host_iowait_pct metrics).
    val loadEnd = loadavg()
    val (iowait1, steal1, ticks1) = cpuTicks()
    val iowaitPct =
      if (ticks1 > ticks0 && iowait0 >= 0)
        (iowait1 - iowait0).toDouble / (ticks1 - ticks0) * 100
      else -1.0
    // steal share across the whole bench: the hypervisor-contention
    // signal loadavg cannot see (round 16 — 34% measured under burn on
    // this host while loadavg stayed "quiet")
    val stealPct =
      if (ticks1 > ticks0 && steal0 >= 0)
        (steal1 - steal0).toDouble / (ticks1 - ticks0) * 100
      else -1.0

    // Locale.ROOT: f"$v%.4f" uses the JVM default locale — a comma-decimal
    // host (de_DE, fr_FR) would print 12,3456 and break the JSON parse.
    def jmap(m: Seq[(String, Double)]): String =
      m.map { case (k, v) =>
        "\"" + k + "\":" + String.format(java.util.Locale.ROOT, "%.4f", Double.box(v))
      }.mkString("{", ",", "}")

    // failed queries keep their -1 marker in the detail file but must not
    // deflate the totals; n_failed in the headline line keeps a
    // failure-shrunk total from masquerading as a speedup
    val total = results.values.filter(_ >= 0).sum
    val nFailed = results.values.count(_ < 0)
    val headline = Headline.flatMap(h => results.get(h).map(h -> _))
    val headlineTotal = headline.map(_._2).filter(_ >= 0).sum
    val artifactBacked = warmServe.map(_._1).sorted
      .map("\"" + _ + "\"").mkString("[", ",", "]")
    // headline dispersion: {"name":[min,max], …} beside the median map
    val spreadJson = spread.sortBy(_._1).map { case (n, lo, hi) =>
      "\"" + n + "\":[" +
        String.format(java.util.Locale.ROOT, "%.4f", Double.box(lo)) + "," +
        String.format(java.util.Locale.ROOT, "%.4f", Double.box(hi)) + "]"
    }.mkString("{", ",", "}")
    val hostLoadJson = jmap(Seq(
      "load_start" -> loadStart, "load_end" -> loadEnd,
      "iowait_pct" -> iowaitPct, "steal_pct" -> stealPct))
    // physical cores, NOT the SPARK_GRAFT_CPUS session thread count:
    // loadavg is a host-wide signal, and an env var of 4 on a 32-core
    // box would stamp host_contended=true at a healthy loadavg of 1.2
    val contended = hostContended(
      loadStart, Runtime.getRuntime.availableProcessors, spread)
    val legContendedJson =
      legsContended.map("\"" + _ + "\"").mkString("[", ",", "]")
    // cross-round uniform-slowdown labels, judged against the committed
    // prior gating envelope AND the best-ever committed floor (the
    // prior-round rule alone never sees a 1.4×/round creep — round-14
    // verdict #3); a leg already self-labeled contended is excluded
    // (its contention explains the slowdown)
    val legMedians = (scale ++ scaleWarm ++ scale100m ++ fresh).toMap
    val legsRegressed =
      (legRegressedFromPrior(priorEnvelope, legMedians, sfDir) ++
        legRegressedFromFloor(floorJson, legMedians))
        .distinct.filterNot(legsContended.contains)
    val legRegressedJson =
      legsRegressed.map("\"" + _ + "\"").mkString("[", ",", "]")
    // errTxt already flattened to printable ASCII sans quote/backslash,
    // so the values embed into JSON with no further escaping; a systemic
    // failure burst keeps the first 10 diagnoses and COUNTS the rest —
    // truncation must never be silent either
    val legErrorsJson = (legErrors.take(10) ++
      (if (legErrors.size > 10)
        Seq("_truncated" -> s"${legErrors.size - 10} more failures not shown")
      else Nil)).map { case (k, v) =>
      "\"" + k + "\":\"" + v + "\""
    }.mkString("{", ",", "}")
    val headlineJson =
      s"""{"metric":"headline_total","value":$headlineTotal,"unit":"sec","sf":"$sfDir","queries":${jmap(headline)},"headline_spread":$spreadJson,"host_load":$hostLoadJson,"host_contended":$contended,"leg_contended":$legContendedJson,"leg_regressed":$legRegressedJson,"leg_errors":$legErrorsJson,"freshness":${jmap(fresh)},"scale_10m":${jmap(scale)},"scale_10m_warm":${jmap(scaleWarm)},"scale_100m":${jmap(scale100m)},"scale_100m_stages":$scale100mStages,"n_queries_all":${results.size},"n_failed":$nFailed,"total_all_queries_sec":$total,"baseline_ref_minute_report_sec":22.16,"timing":"headline queries: median of 3 cold runs (per-query state cleared before every timed run), spread in headline_spread; sweep queries: 1 cold run; queries whose timed run registered state also report a warm-serve time in bench_detail.json; MODEL REGISTRY: bounded trained models (LR weights, k-means centroids, PQ codebooks, SQ8 bounds, PCA bases, BPE merges, bigram LM) built by EARLIER sweep queries survive a query's cold reset — the first family member in sweep order pays training cold, the rest serve, as a real session would; a query never serves a model its OWN warmup built; dir artifacts and plain memos are dropped every rep; scale_10m runs FIRST in a cold JVM (single shot by construction), scale_10m_warm is the median of 3 post-sweep repeats after one untimed discard rep; freshness is the median of 3 reps after one untimed discard rep (streaming-path JIT + sweep residue are absorbed once); scale_100m is a PRE-sweep 100M-row shuffle-join probe (one untimed discard, then median of 3 with spread, per-stage task medians/max from the median rep, heap snapshot at probe start); every leg rep carries host_load_1min (at rep start) and host_iowait_pct/host_steal_pct (across the rep; steal is the hypervisor-contention share loadavg cannot see); host_load is the bench-wide envelope; host_contended=true labels a run that started at loadavg > cpus/4 or whose headline cold reps scatter >2x on 2+ queries; any failed leg or query lands its exception text in leg_errors — a -1.0 is never silent; leg_contended lists legs whose OWN same-class rep scatter exceeds 2x with >0.5s absolute spread (scale_10m judged on reps 2-3, its first rep is cold by design; per-rep loadavg is not used — back-to-back legs contaminate it with our own work); leg_regressed lists legs whose median exceeds 1.5x (and +0.5s) EITHER the committed prior quiet envelope's median OR the committed best-ever quiet gating median in BENCH_FLOOR.json (the floor catches a slow multi-round creep the one-round-back compare never sees; only gating runs may improve the floor) — the uniform-slowdown signal leg_contended cannot see; informational, not a gate; GATING-ARTIFACT POLICY, ENFORCED IN CODE: Bench overwrites BENCH_HEADLINE.json only when this run self-labels quiet (host_contended=false AND leg_contended empty) AND swept sf0.1; any other run writes BENCH_HEADLINE_nongating.json instead, so the committed gating artifact is always the LAST GATING sweep — never best-of-N, and never sweepable-in by git add -A","artifact_backed":$artifactBacked,"detail":"bench_detail.json"}"""
    // Full sweep → file (not stdout: ~100 entries overflow log capture).
    // trained_models: query -> the model-registry keys its TIMED run
    // trained (model keys are builder-authored, alphanumeric/:/.- only —
    // safe to embed unescaped)
    val trainedJson = trainedBy.map { case (q, ks) =>
      "\"" + q + "\":" + ks.map("\"" + _ + "\"").mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    scala.util.Try(Files.writeString(Paths.get("bench_detail.json"),
      s"""{"sf":"$sfDir","total_all_queries_sec":$total,"n_failed":$nFailed,"headline_spread":$spreadJson,"host_load":$hostLoadJson,"host_contended":$contended,"leg_contended":$legContendedJson,"leg_regressed":$legRegressedJson,"leg_errors":$legErrorsJson,"freshness":${jmap(fresh)},"scale_10m":${jmap(scale)},"scale_10m_warm":${jmap(scaleWarm)},"scale_100m":${jmap(scale100m)},"scale_100m_stages":$scale100mStages,"queries":${jmap(results.toSeq.sortBy(_._1))},"warm_serve":${jmap(warmServe.sortBy(_._1))},"trained_models":$trainedJson}"""))
    // The driver-parseable headline, BOTH ways (BENCH_r01-r03 were all
    // `parsed: null` because sbt's log prefix + warning spam mangled the
    // stdout tail): (1) the exact object as a bare one-line FILE the driver
    // or a human can read without any log scraping; (2) the same line as
    // the FINAL stdout statement, printed after spark.stop() so no
    // shutdown logging can land after it (sbt's `[info] ` prefix is
    // disabled via `run / outputStrategy := StdoutOutput` in build.sbt).
    // GATING-ARTIFACT POLICY, enforced here (round-13 verdict "Next
    // round" #1): round 13's end-of-round `git add -A` snapshot swept a
    // self-labeled-contended envelope over the committed quiet gating
    // artifact, because EVERY run used to write BENCH_HEADLINE.json. Now
    // only a run that self-labels quiet (host_contended=false AND
    // leg_contended empty) AND swept the gating SF (sf0.1 — an sf0.01
    // iteration overwrite was the other known sweep-in hazard) may touch
    // the gating name; anything else lands in BENCH_HEADLINE_nongating
    // .json, still with its full self-labeling envelope. A bulk add can
    // then never commit a policy-violating gating artifact, and
    // GatingArtifactSpec asserts the committed file's self-labels as the
    // backstop.
    // basename compare, not endsWith: ".../sf0.1/" must still gate and
    // ".../mysf0.1" must not (round-14 ADVICE)
    val gating = !contended && legsContended.isEmpty && sfBasename(sfDir) == "sf0.1"
    val headlinePath =
      if (gating) "BENCH_HEADLINE.json" else "BENCH_HEADLINE_nongating.json"
    scala.util.Try(Files.writeString(Paths.get(headlinePath), headlineJson + "\n"))
    // floor maintenance: ONLY a gating (quiet, sf0.1) run may improve the
    // committed best-ever medians — and improve is the only move (a
    // slower gating run leaves the floor untouched)
    if (gating) scala.util.Try(Files.writeString(Paths.get("BENCH_FLOOR.json"),
      updatedFloorJson(floorJson, legMedians) + "\n"))
    // The PRINTED line is the minimal envelope ONLY (~650 bytes): round 8
    // grew the full envelope (spread + freshness + scale min/max + the
    // 26-entry artifact_backed list) past the driver's fixed-size tail
    // capture and the parse gate went blind (BENCH_r08 parsed:null).
    // Everything beyond metric/value/unit/sf/queries/n_queries_all/
    // n_failed lives in BENCH_HEADLINE.json and bench_detail.json.
    val minimalJson =
      s"""{"metric":"headline_total","value":$headlineTotal,"unit":"sec","sf":"$sfDir","queries":${jmap(headline)},"n_queries_all":${results.size},"n_failed":$nFailed,"host_contended":$contended,"leg_contended":$legContendedJson,"leg_regressed":$legRegressedJson,"n_leg_errors":${legErrors.size},"detail":"$headlinePath"}"""
    spark.stop()
    println(minimalJson)
  }
}
