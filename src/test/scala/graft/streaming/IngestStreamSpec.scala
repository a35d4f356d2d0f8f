package graft.streaming

import org.apache.spark.sql.functions._

import graft.SparkSuite
import graft.reference.Events

/** Streaming ingest leg on local[*] with Trigger.AvailableNow + temp
  * checkpoints (SURVEY.md §7.4 risk 6: no docker in the build loop). */
class IngestStreamSpec extends SparkSuite {

  test("checkpointed ingest partitions the warehouse by event_minute") {
    val stage = tmpDir("graft-stage")
    val warehouse = tmpDir("graft-wh")
    val ckpt = tmpDir("graft-ckpt")
    // 3 minutes of events staged as the "topic"
    Events.generate(spark, 18000, 1704067200000L, intervalMs = 10)
      .write.mode("overwrite").parquet(stage)

    val src = spark.readStream.schema(Events.schema).parquet(stage)
    val q = Ingest.startIngest(Events.withEventMinute(src), warehouse, ckpt)
    q.awaitTermination(120000)

    val wh = spark.read.parquet(warehouse)
    assert(wh.count() == 18000)
    // partition layout: one dir per minute
    val parts = new java.io.File(warehouse).listFiles()
      .filter(_.getName.startsWith("event_minute=")).map(_.getName).sorted
    assert(parts.length == 3, parts.mkString(","))
    // partition pruning: minute filter must read one partition only
    val oneMinute = wh.filter(col("event_minute") ===
      lit(java.sql.Timestamp.valueOf("2024-01-01 00:01:00")))
    assert(oneMinute.count() == 6000)
    val plan = oneMinute.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(event_minute"),
      s"minute filter should prune partitions:\n$plan")
  }

  test("checkpoint resume is exactly-once: rerun adds only new data, no duplicates") {
    val stage = tmpDir("graft-eo-stage")
    val wh = tmpDir("graft-eo-wh")
    val ckpt = tmpDir("graft-eo-ckpt")
    def run(): Unit = {
      val src = spark.readStream.schema(Events.schema).parquet(stage)
      Ingest.startIngest(Events.withEventMinute(src), wh, ckpt)
        .awaitTermination(120000)
    }
    // reads go through Warehouse.readEvents: a plain spark.read.parquet
    // here can serve a STALE file listing from the session FileStatusCache
    // after the sink appends (that's the regression this test guards).
    def whCount() = graft.sources.Warehouse.readEvents(spark, wh).count()
    Events.generate(spark, 3000, 1704067200000L).write.mode("append").parquet(stage)
    run()
    assert(whCount() == 3000)
    // rerun with the SAME checkpoint and no new data: nothing re-ingested
    run()
    assert(whCount() == 3000, "re-run duplicated data")
    // new file arrives; rerun picks up exactly the delta
    Events.generate(spark, 2000, 1704067800000L, seed = 99L)
      .write.mode("append").parquet(stage)
    run()
    val all = graft.sources.Warehouse.readEvents(spark, wh)
    assert(all.count() == 5000)
    // distinct holds because event ids are salted per (seed, start) batch
    assert(all.select("event_id").distinct().count() == 5000)
  }

  test("a replayed batch republishes its own files: every row once, one file per (batch, minute)") {
    val stage = tmpDir("graft-replay-stage")
    val wh = tmpDir("graft-replay-wh")
    val ckpt = tmpDir("graft-replay-ckpt")
    // 3 minutes in one staged file: one batch
    Events.generate(spark, 18000, 1704067200000L, intervalMs = 10)
      .write.mode("overwrite").parquet(stage)
    def run(): Long = {
      val q = Ingest.startIngest(
        Events.withEventMinute(spark.readStream.schema(Events.schema).parquet(stage)), wh, ckpt)
      q.awaitTermination(120000)
      q.recentProgress.map(_.numInputRows).sum
    }
    /** Each minute directory's visible file names. */
    def layout: Map[String, Seq[String]] =
      new java.io.File(wh).listFiles().filter(_.getName.startsWith("event_minute=")).map { d =>
        d.getName -> d.list().filterNot(n => n.startsWith(".") || n.startsWith("_")).sorted.toSeq
      }.toMap
    assert(run() == 18000)
    val first = layout
    assert(first.size == 3 && first.values.forall(_.size == 1), first)
    // named by batch 0 and the query id the checkpoint keeps
    assert(first.values.flatten.forall(_.matches("part-0-[0-9a-f-]{36}-0\\.parquet")), first)
    // a crash after the publish but before the batch's commit was logged:
    // the restart re-runs batch 0 over the same rows
    Seq("0", ".0.crc").foreach(n => new java.io.File(ckpt, s"commits/$n").delete())
    assert(run() == 18000, "batch 0 was not replayed")
    assert(layout == first, layout)
    val all = graft.sources.Warehouse.readEvents(spark, wh)
    assert(all.count() == 18000)
    assert(all.select("event_id").distinct().count() == 18000)
    // no commit log and no staging leftovers beside the minutes
    assert(new java.io.File(wh).list().toSeq.filterNot(_.startsWith("event_minute=")).sorted
      == Seq("_staging"), new java.io.File(wh).list().toSeq)
    assert(new java.io.File(wh, "_staging").list().isEmpty)
  }

  test("ingest into a warehouse holding the old file sink's log fails loudly") {
    val stage = tmpDir("graft-oldsink-stage")
    val old = tmpDir("graft-oldsink-wh")
    Events.generate(spark, 2000, 1704067200000L).write.mode("overwrite").parquet(stage)
    def src = Events.withEventMinute(spark.readStream.schema(Events.schema).parquet(stage))
    src.writeStream.format("parquet").option("path", old)
      .option("checkpointLocation", tmpDir("graft-oldsink-ckpt"))
      .partitionBy("event_minute")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start().awaitTermination(120000)
    val e = intercept[IllegalStateException](Ingest.startIngest(src, old, tmpDir("graft-oldsink-ckpt2")))
    assert(e.getMessage.contains("_spark_metadata") && e.getMessage.contains("fresh directory") &&
      e.getMessage.contains("compact"), e.getMessage)
    // the remedy: compact into a fresh directory, then ingest there
    val fresh = s"${tmpDir("graft-oldsink-fresh")}/wh"
    graft.sources.Warehouse.compact(spark, old, fresh)
    assert(graft.sources.Warehouse.readEvents(spark, fresh).count() == 2000)
    Ingest.startIngest(src, fresh, tmpDir("graft-oldsink-ckpt3")).awaitTermination(120000)
    assert(graft.sources.Warehouse.readEvents(spark, fresh).count() == 4000)
  }

  test("rate-source event stream produces valid events in real time") {
    val out = tmpDir("graft-rate-out")
    val ckpt = tmpDir("graft-rate-ckpt")
    val stream = Ingest.eventStream(spark, rowsPerSecond = 200)
    val q = Ingest.startIngest(stream, out, ckpt, availableNow = false)
    try {
      // let a few micro-batches run
      val deadline = System.currentTimeMillis() + 30000
      var n = 0L
      while (n == 0 && System.currentTimeMillis() < deadline) {
        Thread.sleep(1000)
        n = try spark.read.parquet(out).count() catch { case _: Exception => 0L }
      }
      assert(n > 0, "rate stream produced no rows within 30s")
      val df = spark.read.parquet(out)
      assert(df.filter(col("status") === "ERROR" && col("error_code").isNull).count() == 0)
      assert(df.columns.contains("event_minute"))
    } finally q.stop()
  }

  test("streaming dedup drops duplicate event ids within the watermark") {
    val stage = tmpDir("graft-dup-stage")
    val out = tmpDir("graft-dup-out")
    val ckpt = tmpDir("graft-dup-ckpt")
    val base = Events.generate(spark, 1000, 1704067200000L, intervalMs = 10)
    base.union(base.limit(200)).write.mode("overwrite").parquet(stage) // 200 dups

    val src = spark.readStream.schema(Events.schema).parquet(stage)
    val q = Ingest.startIngest(
      Events.withEventMinute(Ingest.dedupedStream(src)), out, ckpt)
    q.awaitTermination(120000)

    val got = spark.read.parquet(out)
    assert(got.count() == 1000, s"expected dups dropped, got ${got.count()}")
    assert(got.select("event_id").distinct().count() == 1000)
  }

  test("stream-static enrichment joins a broadcast dim without losing events") {
    import spark.implicits._
    val stage = tmpDir("graft-enrich-stage")
    val out = tmpDir("graft-enrich-out")
    val ckpt = tmpDir("graft-enrich-ckpt")
    Events.generate(spark, 2000, 1704067200000L, intervalMs = 10)
      .write.mode("overwrite").parquet(stage)
    // dimension covers only part of the product space -> left-join nulls
    val dim = (1 to 500).map(p => (p, s"cat-${p % 7}")).toDF("product_id", "category")
    val src = spark.readStream.schema(Events.schema).parquet(stage)
    val q = Ingest.startIngest(
      Events.withEventMinute(Ingest.enrichedStream(src, dim, Seq("product_id"))),
      out, ckpt)
    q.awaitTermination(120000)
    val got = spark.read.parquet(out)
    assert(got.count() == 2000, "enrichment must never drop events")
    // enriched rows carry the right category; uncovered/null products -> null
    val bad = got.filter(col("product_id").isNotNull && col("product_id") <= 500 &&
      col("category") =!= concat(lit("cat-"), (col("product_id") % 7).cast("string")))
    assert(bad.count() == 0)
    assert(got.filter(col("product_id").isNull && col("category").isNotNull).count() == 0)
  }

  test("streaming windowed CMS sketch bounds per-window user counts") {
    import spark.implicits._
    import graft.functions.CountMinAggregator
    val stage = tmpDir("graft-cms-stage")
    // ~50 min of events -> 1 full hour window at 2024-01-01 00:00
    val events = Events.generate(spark, 3000, 1704067200000L, intervalMs = 1000)
    events.write.mode("overwrite").parquet(stage)
    val src = spark.readStream.schema(Events.schema).parquet(stage)
    val q = Ingest.startWindowedUserSketch(src, "cms_by_hour")
    q.awaitTermination(120000)
    val rows = spark.table("cms_by_hour")
      .as[(java.sql.Timestamp, Array[Byte])].collect()
    assert(rows.nonEmpty, "expected at least one window sketch")
    val eps = 0.005
    rows.foreach { case (hourStart, sketch) =>
      val est = CountMinAggregator.estimator(sketch)
      val windowed = events.filter(
        col("event_timestamp") >= lit(hourStart) &&
        col("event_timestamp") < lit(new java.sql.Timestamp(hourStart.getTime + 3600 * 1000)))
      val exact = windowed.groupBy($"user_id").count().as[(String, Long)].collect()
      val n = exact.map(_._2).sum
      exact.foreach { case (u, c) =>
        assert(est(u) >= c, s"window $hourStart user $u under-counted")
        assert(est(u) <= c + math.ceil(eps * n).toLong,
          s"window $hourStart user $u est ${est(u)} exceeds $c + eps*N")
      }
    }
  }

  test("streaming windowed t-digest tracks per-window latency quantiles") {
    import spark.implicits._
    val stage = tmpDir("graft-td-stage")
    val events = Events.generate(spark, 3000, 1704067200000L, intervalMs = 1000)
    events.write.mode("overwrite").parquet(stage)
    val src = spark.readStream.schema(Events.schema).parquet(stage)
    val q = Ingest.startWindowedLatencyQuantiles(src, "latency_quantiles")
    q.awaitTermination(120000)
    val rows = spark.table("latency_quantiles")
      .as[(java.sql.Timestamp, Double, Double, Double)].collect()
    assert(rows.nonEmpty, "expected at least one window")
    rows.foreach { case (hourStart, p50, p90, p99) =>
      assert(p50 <= p90 && p90 <= p99)
      val windowed = events.filter(
        col("event_timestamp") >= lit(hourStart) &&
        col("event_timestamp") < lit(new java.sql.Timestamp(hourStart.getTime + 3600 * 1000)))
        .select($"request_latency_ms".cast("double")).as[Double].collect().sorted
      // estimate must land within 2% rank error of the exact quantile
      for ((q0, est) <- Seq(0.5 -> p50, 0.9 -> p90, 0.99 -> p99)) {
        val i = java.util.Arrays.binarySearch(windowed, est)
        val rank = (if (i >= 0) i else -i - 1).toDouble / windowed.length
        assert(math.abs(rank - q0) <= 0.02,
          s"window $hourStart q=$q0 est=$est rank=$rank over n=${windowed.length}")
      }
    }
  }

  test("stream-stream interval join bounds matches and respects the window") {
    val stage = tmpDir("graft-ssj-stage")
    Events.generate(spark, 20000, 1704067200000L, intervalMs = 100) // ~33 min span
      .write.mode("overwrite").parquet(stage)
    val src = spark.readStream.schema(Events.schema).parquet(stage)

    val joined = Ingest.viewToPaymentJoin(src)
    val q = joined.writeStream.format("memory").queryName("ssj_out")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)

    val got = spark.table("ssj_out").collect()
    assert(got.nonEmpty, "expected some view→payment pairs")
    got.foreach { r =>
      val vts = r.getTimestamp(3).getTime
      val pts = r.getTimestamp(4).getTime
      assert(pts > vts && pts <= vts + 10 * 60 * 1000, s"window violated: $r")
    }
    // cross-check one pair against the batch equivalent
    val batch = Ingest.viewToPaymentJoin(spark.read.parquet(stage)).count()
    assert(got.length == batch, s"stream ${got.length} vs batch $batch")
  }

  test("streaming minute counts match the batch aggregation") {
    val warehouse = tmpDir("graft-wh2")
    val events = Events.withEventMinute(
      Events.generate(spark, 12000, 1704067200000L, intervalMs = 10))
    events.write.mode("overwrite").partitionBy("event_minute").parquet(warehouse)

    val agg = Ingest.minuteStatusCounts(spark, warehouse)
    val q = Ingest.startLatestToMemory(agg, "minute_counts")
    q.awaitTermination(120000)

    val streamed = spark.table("minute_counts")
      .groupBy("event_type", "status").agg(sum("cnt").as("cnt"))
    val batch = spark.read.parquet(warehouse)
      .groupBy("event_type", "status").agg(count(lit(1)).as("cnt"))
    // watermark in AvailableNow mode may hold back the final (open) minute;
    // compare the closed minutes only
    val streamedMap = streamed.collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val batchMap = batch.collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(streamedMap.nonEmpty)
    streamedMap.foreach { case (k, v) =>
      assert(batchMap(k) >= v && v > 0, s"$k streamed=$v batch=${batchMap(k)}")
    }
  }
}
