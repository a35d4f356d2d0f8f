package graft.sources

import org.apache.spark.sql.functions._

import graft.SparkSuite
import graft.reference.{Events, MinuteReport}

/** M2 storage layer: partition pruning, within-partition sort (the
  * MergeTree ORDER BY analog), JSON report sink round-trip. */
class WarehouseSpec extends SparkSuite {

  test("warehouse write partitions by minute and prunes on read") {
    val wh = tmpDir("graft-warehouse")
    val events = Events.generate(spark, 18000, 1704067200000L, intervalMs = 10)
    Warehouse.writeEvents(events, wh)

    val dirs = new java.io.File(wh).listFiles()
      .filter(_.getName.startsWith("event_minute=")).map(_.getName).sorted
    assert(dirs.length == 3)

    val m = java.sql.Timestamp.valueOf("2024-01-01 00:01:00")
    val one = Warehouse.readMinute(spark, wh, m)
    assert(one.count() == 6000)
    val plan = one.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(event_minute"), plan)

    // one file per minute partition (repartition before partitionBy)
    val files = new java.io.File(s"$wh/${dirs.head}").listFiles()
      .filter(_.getName.endsWith(".parquet"))
    assert(files.length == 1, files.mkString(","))
  }

  test("rows inside a partition are sorted by (event_type, event_timestamp)") {
    val wh = tmpDir("graft-warehouse-sort")
    Warehouse.writeEvents(Events.generate(spark, 6000, 1704067200000L), wh)
    val part = new java.io.File(wh).listFiles()
      .filter(_.getName.startsWith("event_minute=")).head
    val rows = spark.read.parquet(part.toString)
      .select("event_type", "event_timestamp").collect()
    val seq = rows.map(r => (r.getString(0), r.getTimestamp(1).getTime))
    assert(seq.zip(seq.tail).forall { case (a, b) =>
      a._1 < b._1 || (a._1 == b._1 && a._2 <= b._2)
    }, "partition not sorted")
  }

  test("events round-trip through csv, json, and orc sources/sinks") {
    import org.apache.spark.sql.functions.col
    val base = tmpDir("graft-formats")
    val events = Events.generate(spark, 500, 1704067200000L)
    val key = events.select(
      org.apache.spark.sql.functions.expr("bit_xor(xxhash64(event_id, status, event_type))"))
      .head.getLong(0)
    for (fmt <- Seq("csv", "json", "orc")) {
      val path = s"$base/$fmt"
      val w = events.write.mode("overwrite").format(fmt)
      (if (fmt == "csv") w.option("header", "true") else w).save(path)
      val r = spark.read.format(fmt).schema(Events.schema)
      val back = (if (fmt == "csv") r.option("header", "true") else r).load(path)
      assert(back.count() == 500, s"$fmt count")
      val backKey = back.select(
        org.apache.spark.sql.functions.expr("bit_xor(xxhash64(event_id, status, event_type))"))
        .head.getLong(0)
      assert(backKey == key, s"$fmt content hash mismatch")
      assert(back.filter(col("status") === "ERROR" && col("error_code").isNull).count() == 0,
        s"$fmt lost nullable semantics")
    }
  }

  test("compaction merges small files per partition, preserving rows and sort") {
    val wh = tmpDir("graft-compact-in")
    val out = tmpDir("graft-compact-out")
    // two appends -> 2 files per minute partition
    Warehouse.writeEvents(Events.generate(spark, 6000, 1704067200000L), wh)
    Events.withEventMinute(Events.generate(spark, 6000, 1704067200000L, seed = 7L))
      .write.mode("append").partitionBy("event_minute").parquet(wh)
    val before = new java.io.File(wh).listFiles()
      .filter(_.getName.startsWith("event_minute=")).head
      .listFiles().count(_.getName.endsWith(".parquet"))
    assert(before >= 2, s"expected fragmented input, got $before files")

    Warehouse.compact(spark, wh, out)
    val partDirs = new java.io.File(out).listFiles()
      .filter(_.getName.startsWith("event_minute="))
    assert(partDirs.forall(_.listFiles().count(_.getName.endsWith(".parquet")) == 1))
    assert(spark.read.parquet(out).count() == 12000)
    val rows = spark.read.parquet(partDirs.head.toString)
      .select("event_type", "event_timestamp").collect()
      .map(r => (r.getString(0), r.getTimestamp(1).getTime))
    assert(rows.zip(rows.tail).forall { case (a, b) =>
      a._1 < b._1 || (a._1 == b._1 && a._2 <= b._2) }, "compacted partition not clustered")
  }

  test("JSON report sink round-trip") {
    val dir = tmpDir("graft-report")
    val events = Events.generate(spark, 1000, 1704067200000L)
    val report = MinuteReport.analyze(events, "2024-01-01_03-29.parquet")
    val json = MinuteReport.toJson(report)
    Warehouse.writeReportJson(spark, json, s"$dir/report")
    assert(Warehouse.readReportJson(spark, s"$dir/report") == json)
  }

  test("JSON report commit: one part and _SUCCESS, Spark-readable, replaced in place") {
    import java.nio.charset.StandardCharsets.UTF_8
    val parent = tmpDir("graft-report-commit")
    val dir = s"$parent/report"
    // entries other than the local filesystem's hidden .crc checksums
    def listing = new java.io.File(dir).list().filterNot(_.startsWith(".")).sorted.toSeq
    val long = """{"report": {"total_events": 123456789, "file_name": "2024-01-01_03-29.parquet"}}"""
    Warehouse.writeReportJson(spark, long, dir)
    assert(listing == Seq("_SUCCESS", "part-00000.txt"))
    // outside readers: Spark's own text source sees the same document
    assert(spark.read.text(dir).collect().map(_.getString(0)).toSeq == Seq(long))

    // a re-write of a shorter document replaces the first, no stale bytes
    val short = """{"report": "No data for x."}"""
    Warehouse.writeReportJson(spark, short, dir)
    assert(listing == Seq("_SUCCESS", "part-00000.txt"))
    val part = java.nio.file.Paths.get(dir, "part-00000.txt")
    assert(new String(java.nio.file.Files.readAllBytes(part), UTF_8) == short + "\n")
    assert(Warehouse.readReportJson(spark, dir) == short)
    assert(Warehouse.readReportJson(spark, part.toString) == short)
    // nothing staged beside the report
    assert(new java.io.File(parent).list().toSeq == Seq("report"))

    // the driver-side read joins lines exactly as spark.read.text does
    val twoLines = "first line\nsecond line"
    Warehouse.writeReportJson(spark, twoLines, dir)
    spark.catalog.refreshByPath(dir)
    assert(Warehouse.readReportJson(spark, dir) ==
      spark.read.text(dir).collect().map(_.getString(0)).mkString("\n"))
    assert(Warehouse.readReportJson(spark, dir) == twoLines)
    intercept[java.io.FileNotFoundException](Warehouse.readReportJson(spark, s"$parent/missing"))
  }

  test("minuteFiles finds a minute partition written under a non-UTC session time zone") {
    val tzKey = "spark.sql.session.timeZone"
    val tz = spark.conf.get(tzKey)
    spark.conf.set(tzKey, "Asia/Tehran")
    try {
      val wh = tmpDir("graft-warehouse-tz")
      Warehouse.writeEvents(Events.generate(spark, 12000, 1704067200000L, intervalMs = 10), wh)
      // minute 00:01Z: the writer names it in Tehran time (+03:30), with
      // ':' escaped as Spark escapes partition values
      val dir = new java.io.File(wh, "event_minute=2024-01-01 03%3A31%3A00")
      val expected = dir.listFiles().filter(_.getName.endsWith(".parquet")).map(_.getName).toSet
      assert(expected.nonEmpty)
      val files = Warehouse.minuteFiles(spark, wh,
        java.sql.Timestamp.from(java.time.Instant.parse("2024-01-01T00:01:00Z")))
      assert(files.map(_.getParent.getName).distinct == Seq(dir.getName), files)
      assert(files.map(_.getName).toSet == expected, files)
    } finally spark.conf.set(tzKey, tz)
  }

  test("readMinute lists only its minute's directory") {
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    val wh = tmpDir("graft-warehouse-roots")
    Warehouse.writeEvents(Events.generate(spark, 18000, 1704067200000L, intervalMs = 10), wh)
    val minute = java.sql.Timestamp.from(java.time.Instant.parse("2024-01-01T00:01:00Z"))
    val one = Warehouse.readMinute(spark, wh, minute)
    val roots = one.queryExecution.analyzed.collectFirst {
      case l: LogicalRelation if l.relation.isInstanceOf[HadoopFsRelation] =>
        l.relation.asInstanceOf[HadoopFsRelation].location.rootPaths
    }.get
    assert(roots.map(p => new java.io.File(p.toUri).getCanonicalFile) ==
      Seq(new java.io.File(wh, "event_minute=2024-01-01 00%3A01%3A00").getCanonicalFile), roots)
    assert(one.count() == 6000)
    assert(one.select("event_minute").distinct().collect().map(_.getTimestamp(0)).toSeq ==
      Seq(minute))
  }
}
