package graft.sources

import org.apache.spark.sql.functions._

import graft.SparkSuite
import graft.reference.Events

/** Targeted user deletion (Warehouse.deleteUsers): rows gone, everything
  * else byte-identical, and — the scale property — partitions that do not
  * contain the users are never rewritten. */
class DeleteSpec extends SparkSuite {

  test("deleteUsers rewrites only the touched minute-partitions") {
    val wh = tmpDir("graft-delete")
    // 18000 events at 10ms = 3 one-minute partitions; user ids are
    // time-local by construction (bucket = id/100), so users drawn from
    // the middle of minute 0 never appear in minutes 1-2
    val events = Events.generate(spark, 18000, 1704067200000L, intervalMs = 10)
    Warehouse.writeEvents(events, wh)

    val before = Warehouse.readEvents(spark, wh)
    val victims = before
      .filter(col("event_timestamp")
        .between("2024-01-01 00:00:10", "2024-01-01 00:00:20"))
      .select(col("user_id")).distinct().localCheckpoint()
    val victimIds = victims.collect().map(_.getString(0)).toSeq
    assert(victimIds.nonEmpty)
    val doomed = before.filter(col("user_id").isin(victimIds: _*)).count()
    assert(doomed > 0)
    val totalBefore = before.count()
    val expectKey = before.filter(!col("user_id").isin(victimIds: _*))
      .agg(expr("bit_xor(xxhash64(event_id))")).head.getLong(0)

    def partMtimes: Map[String, Long] =
      new java.io.File(wh).listFiles()
        .filter(_.getName.startsWith("event_minute=")).flatMap { d =>
          d.listFiles().filter(_.getName.endsWith(".parquet"))
            .map(f => s"${d.getName}/${f.getName}" -> f.lastModified())
        }.toMap
    val mtimesBefore = partMtimes

    Warehouse.deleteUsers(spark, wh, victims)

    spark.catalog.refreshByPath(wh)
    val after = Warehouse.readEvents(spark, wh)
    assert(after.filter(col("user_id").isin(victimIds: _*)).count() == 0,
      "victim rows survived")
    assert(after.count() == totalBefore - doomed)
    assert(after.agg(expr("bit_xor(xxhash64(event_id))")).head.getLong(0)
      == expectKey, "surviving rows changed")

    val mtimesAfter = partMtimes
    // victims live in minute 0 only; the later two partitions sort after it
    val partDirs = new java.io.File(wh).listFiles()
      .filter(_.getName.startsWith("event_minute=")).map(_.getName).sorted
    assert(partDirs.length == 3)
    for (p <- partDirs.tail; (f, t) <- mtimesBefore if f.startsWith(p + "/"))
      assert(mtimesAfter.get(f).contains(t), s"untouched partition rewritten: $f")
    // and the touched minute really was rewritten (old file replaced)
    val touchedOld = mtimesBefore.keys.filter(_.startsWith(partDirs.head + "/"))
    assert(touchedOld.nonEmpty)
    assert(touchedOld.forall(f => !mtimesAfter.get(f).exists(_ == mtimesBefore(f))),
      "touched partition not rewritten")
  }

  test("deleteUsers with no matching users is a no-op") {
    val wh = tmpDir("graft-delete-noop")
    Warehouse.writeEvents(Events.generate(spark, 6000, 1704067200000L), wh)
    import spark.implicits._
    val mtime = new java.io.File(wh).listFiles()
      .filter(_.getName.startsWith("event_minute=")).head
      .listFiles().filter(_.getName.endsWith(".parquet")).head.lastModified()
    Warehouse.deleteUsers(spark, wh, Seq("no-such-user").toDF("user_id"))
    val same = new java.io.File(wh).listFiles()
      .filter(_.getName.startsWith("event_minute=")).head
      .listFiles().filter(_.getName.endsWith(".parquet")).head.lastModified()
    assert(same == mtime)
    assert(Warehouse.readEvents(spark, wh).count() == 6000)
  }

  test("deleteUsers removes a minute whose rows all belong to the deleted users") {
    val wh = tmpDir("graft-delete-emptied")
    Warehouse.writeEvents(Events.generate(spark, 18000, 1704067200000L, intervalMs = 10), wh)
    val before = Warehouse.readEvents(spark, wh)
    // every user of minute 0, so all its rows go, plus users of minute 1's
    // first ten seconds, so minute 1 is touched but keeps its other rows
    val victims = before
      .filter(col("event_timestamp") < "2024-01-01 00:01:10")
      .select(col("user_id")).distinct().localCheckpoint()
    val victimIds = victims.collect().map(_.getString(0)).toSeq
    val doomed = before.filter(col("user_id").isin(victimIds: _*)).count()
    assert(doomed > 6000)
    val totalBefore = before.count()

    Warehouse.deleteUsers(spark, wh, victims)

    val after = Warehouse.readEvents(spark, wh)
    assert(after.filter(col("user_id").isin(victimIds: _*)).count() == 0,
      "victim rows survived")
    assert(after.count() == totalBefore - doomed)
    val partDirs = new java.io.File(wh).listFiles()
      .filter(_.getName.startsWith("event_minute=")).map(_.getName).sorted.toSeq
    assert(partDirs == Seq("event_minute=2024-01-01 00%3A01%3A00",
      "event_minute=2024-01-01 00%3A02%3A00"), partDirs)
  }

  test("deleteUsers on a streamed warehouse: reads, minuteFiles and the report see the survivors") {
    val wh = ingestMinute("graft-delete-streamed")
    val before = Warehouse.readEvents(spark, wh)
    val totalBefore = before.count()
    val victims = before.select(col("user_id")).distinct().orderBy(col("user_id")).limit(11)
      .localCheckpoint()
    val victimIds = victims.collect().map(_.getString(0)).toSeq
    assert(victimIds.size == 11)
    val doomed = before.filter(col("user_id").isin(victimIds: _*)).count()
    assert(doomed > 0)

    Warehouse.deleteUsers(spark, wh, victims)

    assert(Warehouse.readEvents(spark, wh).count() == totalBefore - doomed)
    val minute = java.sql.Timestamp.from(java.time.Instant.parse("2024-01-01T00:00:00Z"))
    val files = Warehouse.minuteFiles(spark, wh, minute)
    assert(files.nonEmpty && files.forall(f => new java.io.File(f.toUri).isFile), files)
    val json = graft.Pipeline.minutelyReport(spark, wh, tmpDir("graft-delete-streamed-rp"),
      java.time.Instant.parse("2024-01-01T00:01:00Z"))
    assert(json.contains(s""""total_events": ${totalBefore - doomed}"""), json)
  }
}
