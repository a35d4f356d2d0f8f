package graft.streaming

import org.apache.spark.sql.streaming.StreamingQuery

import graft.SparkSuite
import graft.reference.Events

/** Failure injection for the checkpointed ingest (round-12 verdict "Next
  * round" #7b): the T5 exactly-once claim so far rested on GRACEFUL
  * stop/resume (IngestStreamSpec's AvailableNow reruns). This spec kills
  * a CONTINUOUS ingest mid-stream — `stop()` cancels the micro-batch
  * execution thread's job group, abandoning whatever batch is in flight
  * before its commit — restarts from the same checkpoint, and proves the
  * warehouse converges to exactly-once (no loss, no duplicates) while
  * measuring the recovery time. An interrupted batch's files stay under
  * the warehouse's hidden `_staging/` until the publish step moves them
  * into their minute directories, and a re-run batch republishes under
  * the same names, so Warehouse.readEvents never sees an orphan part-file
  * or a duplicate — the mechanism that makes the kill survivable.
  */
class ChaosRecoverySpec extends SparkSuite {
  import spark.implicits._

  test("mid-stream kill + checkpoint restart converges to exactly-once") {
    val stage = tmpDir("graft-chaos-stage")
    val wh = tmpDir("graft-chaos-wh")
    val ckpt = tmpDir("graft-chaos-ckpt")
    // 10 staged files -> 10 micro-batches under maxFilesPerTrigger=1, so
    // the kill lands with most of the work still uncommitted
    val total = 10 * 1000
    (0 until 10).foreach { i =>
      Events.generate(spark, 1000, 1704067200000L + i * 60000L, seed = i + 1L)
        .write.mode("append").parquet(stage)
    }
    def whCount() = graft.sources.Warehouse.readEvents(spark, wh).count()

    // phase 1: continuous ingest, killed as soon as the first batch lands.
    // The kill trigger is a StreamingQueryListener on batch completion,
    // not a whCount() poll: each poll re-lists the warehouse
    // (~100 ms), so a 50 ms "poll" really gave fast hosts several batch
    // lengths of slack and the kill could land after ALL batches
    // committed — failing the test for host speed, not a product bug
    // (round-13 ADVICE).
    val firstCommit = new java.util.concurrent.CountDownLatch(1)
    // the listener is session-global — filter on OUR query's id so other
    // streaming progress in the shared session can't trip the latch early
    // (round-14 ADVICE). The id is assigned after start(); an event that
    // races the assignment is ignored, and a later batch (there are 10)
    // trips the latch instead.
    @volatile var watchId: java.util.UUID = null
    val listener = new org.apache.spark.sql.streaming.StreamingQueryListener {
      override def onQueryStarted(
          e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(
          e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryProgressEvent): Unit =
        if (e.progress.id == watchId && e.progress.numInputRows > 0)
          firstCommit.countDown()
      override def onQueryTerminated(
          e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    }
    spark.streams.addListener(listener)
    val (afterKill, latchLanded) =
      try {
        val src1 = spark.readStream.schema(Events.schema)
          .option("maxFilesPerTrigger", "1").parquet(stage)
        val q1: StreamingQuery =
          Ingest.startIngest(Events.withEventMinute(src1), wh, ckpt,
            availableNow = false)
        watchId = q1.id
        val landed = firstCommit.await(60, java.util.concurrent.TimeUnit.SECONDS)
        q1.stop() // cancels the in-flight batch's jobs — a mid-stream kill
        (whCount(), landed)
      } finally spark.streams.removeListener(listener)
    // a latch timeout is its own failure mode — report it as such, not as
    // the misleading "kill landed before any batch committed" (round-14
    // ADVICE); a timeout with everything committed means the listener
    // missed a too-fast drain, which the assume below already cancels on
    assert(latchLanded || afterKill == total,
      s"no batch committed within 60 s (warehouse has $afterKill/$total rows) — ingest stalled")
    assert(afterKill > 0, "kill landed before any batch committed")
    // a kill that still lands after everything committed is a host-speed
    // artifact, not a product failure: cancel (skip) instead of failing,
    // so the suite never reports "no failure injected" as a red
    assume(afterKill < total,
      s"host drained all $total rows before the kill landed ($afterKill) " +
        "— no failure injected this run; canceling, not failing")
    // committed state is a prefix of whole batches: no partial batch leaks
    assert(afterKill % 1000 == 0,
      s"warehouse read surfaced a PARTIAL batch: $afterKill rows")

    // phase 2: restart from the same checkpoint; measure recovery
    val t0 = System.nanoTime()
    val src2 = spark.readStream.schema(Events.schema)
      .option("maxFilesPerTrigger", "1").parquet(stage)
    Ingest.startIngest(Events.withEventMinute(src2), wh, ckpt)
      .awaitTermination(120000)
    val recoverySec = (System.nanoTime() - t0) / 1e9
    val all = graft.sources.Warehouse.readEvents(spark, wh)
    assert(all.count() == total, s"loss or duplication after restart: ${all.count()}")
    assert(all.select($"event_id").distinct().count() == total,
      "restart re-ingested an already-committed batch — duplicates")
    info(f"killed at $afterKill/$total rows; recovery (restart -> all " +
      f"$total rows committed and visible): $recoverySec%.2f s")
  }
}
