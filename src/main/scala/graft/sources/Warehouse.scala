package graft.sources

import java.io.{BufferedReader, InputStreamReader}
import java.nio.charset.StandardCharsets
import java.time.ZoneId
import java.time.format.DateTimeFormatter

import org.apache.hadoop.fs.{FileSystem, FileUtil, Path}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StructType, TimestampType}

import graft.reference.Events

/** The engine's warehouse layer (SURVEY.md §7.2 M2) — the Spark-native
  * replacement for the reference's ClickHouse MergeTree table
  * (reference db/clickhouse_table_schema.sql:15-20):
  *
  *  - `partitionBy("event_minute")` ≙ MergeTree PARTITION BY toStartOfMinute
  *    → minute queries become metadata-only partition prunes
  *    (ARCHITECTURE.md:30 calls this out as the reference's key optimization);
  *  - `sortWithinPartitions(event_type, event_timestamp)` ≙ MergeTree
  *    ORDER BY (event_minute, event_type) — gives parquet row-group min/max
  *    statistics the same skip power as the MergeTree primary index;
  *  - JSON report sink ≙ the reference's MinIO report object
  *    (reference airflow/dags/spark.py:92-97); committed on the driver
  *    through the Hadoop FileSystem API, `_SUCCESS` last, so the same code
  *    targets s3a:// and hdfs:// without running a Spark job;
  *  - minute landing ≙ the reference's extract to MinIO (reference
  *    airflow/dags/pipeline.py:110-140): [[minuteFiles]] names a minute's
  *    files, the same ones [[readMinute]] reads, and [[landFiles]] copies
  *    those bytes as they are, on the driver, with the report sink's
  *    commit order.
  *
  * One commit, one visibility rule (≙ MergeTree's immutable parts): every
  * writer lays its rows out with [[writeSorted]], so each minute holds
  * files sorted by (event_type, event_timestamp). The streaming ingest
  * and [[deleteUsers]] commit through [[publish]]: it stages that layout
  * under the hidden `_staging/`, then moves each minute's files into
  * `event_minute=M/` under names fixed by the writer's tag, one rename
  * per file; [[compact]] writes a new warehouse whole. A minute's visible
  * set is the files of its directory whose names do not start with `_`
  * or `.`: no commit log is read, and a minute read lists that one
  * directory.
  */
object Warehouse {

  /** Write events into the minute-partitioned warehouse: [[byMinute]],
    * then [[writeSorted]] — one file per minute. */
  def writeEvents(events: DataFrame, path: String, mode: String = "overwrite"): Unit =
    writeSorted(byMinute(events), path, mode)

  /** `events` with their minute, hashed on it: one shuffle, so each minute
    * lands in exactly one task (at 100 TB adjust the explicit count
    * upward for multiple writers per hot minute).
    *
    * The count is EXPLICIT (the session's configured shuffle parallelism,
    * driven by SPARK_GRAFT_CPUS locally and by the operator's
    * data-proportional setting on a cluster): a bare `repartition(col)`
    * participates in AQE partition coalescing, which merged the 10M-event
    * scale leg's write into ~8 tasks that each opened ~200 minute
    * directories sequentially — writer parallelism, not data size, bounds
    * this write. */
  private[graft] def byMinute(events: DataFrame): DataFrame =
    Events.withEventMinute(events)
      .repartition(events.sparkSession.sessionState.conf.numShufflePartitions, col("event_minute"))

  /** The warehouse layout of `events` as its tasks hold them: each task
    * writes one file per minute it holds, rows sorted by (event_type,
    * event_timestamp). The sort must LEAD with the partition column: the
    * dynamic-partition writer requires ordering by partition columns and
    * would otherwise insert its own (non-stable) sort on event_minute,
    * destroying the secondary (event_type, event_timestamp) clustering. */
  private def writeSorted(events: DataFrame, path: String, mode: String = "overwrite"): Unit =
    events.sortWithinPartitions(col("event_minute"), col("event_type"), col("event_timestamp"))
      .write.mode(mode).partitionBy("event_minute").parquet(path)

  /** Schema of the warehouse layout (event columns + partition key). */
  val warehouseSchema: StructType = Events.schema.add("event_minute", TimestampType)

  /** Read every published file of the warehouse. A missing or
    * not-yet-written warehouse is "no data", not an error ([[readDir]]). */
  def readEvents(spark: SparkSession, path: String): DataFrame =
    readEventsAs(spark, path, warehouseSchema)

  /** Evolved-schema read — the warehouse's schema-evolution contract:
    * pass the CURRENT (widest) schema and files written before a column
    * existed serve null for it, files written after serve their values —
    * additive evolution with zero rewrites, exactly the Delta/Iceberg
    * `ADD COLUMN` semantics. The explicit schema is also what makes this
    * safe at 100 TB: no `mergeSchema` footer-sampling pass over a million
    * files, and no silent type widening — the reader's schema is the
    * contract, old files either conform (missing ⇒ null) or fail loudly.
    * WarehouseEvolutionSpec pins null-fill, pruning across eras, and the
    * dropped-column direction (old extra columns are simply not read). */
  def readEventsAs(spark: SparkSession, path: String, schema: StructType): DataFrame =
    readDir(spark, new Path(path), path, schema)

  /** One minute's rows: reads the one directory [[minuteDir]] names, with
    * `event_minute` parsed from its name, so no other minute is listed. */
  def readMinute(spark: SparkSession, path: String, minute: java.sql.Timestamp): DataFrame =
    readDir(spark, minuteDir(spark, path, minute), path, warehouseSchema)
      .filter(col("event_minute") === lit(minute))

  /** `dir` (the warehouse at `path` or one of its minute directories) read
    * with `schema`. A missing or empty `dir` is "no data", not an error —
    * the minutely report's sentinel path depends on this (reference P6).
    * The existence probe goes through the Hadoop FileSystem API: a
    * java.io.File check would report s3a://, hdfs:// etc. warehouses as
    * empty. */
  private def readDir(spark: SparkSession, dir: Path, path: String, schema: StructType): DataFrame = {
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(dir) || fs.listStatus(dir).isEmpty)
      spark.createDataFrame(java.util.Collections.emptyList[Row](), schema)
    else {
      // a cached plan over this directory would otherwise keep its old
      // file listing after a publish
      spark.catalog.refreshByPath(dir.toString)
      spark.read.schema(schema).option("basePath", path).parquet(dir.toString)
    }
  }

  /** The directory of `minute` under the warehouse at `path`, named as
    * Spark's writer names it: the value formatted in the session time
    * zone, with Spark's partition-path escaping. */
  private def minuteDir(spark: SparkSession, path: String, minute: java.sql.Timestamp): Path =
    new Path(path, ExternalCatalogUtils.getPartitionPathString("event_minute",
      DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")
        .withZone(ZoneId.of(spark.sessionState.conf.sessionLocalTimeZone)).format(minute.toInstant)))

  /** The visible files of `dir` in name order: no leading `_` or `.`;
    * empty when `dir` does not exist. */
  private def visibleFiles(fs: FileSystem, dir: Path): Seq[Path] =
    if (!fs.exists(dir)) Nil
    else fs.listStatus(dir).toSeq
      .filter(f => f.isFile && !f.getPath.getName.startsWith("_") && !f.getPath.getName.startsWith("."))
      .map(_.getPath).sortBy(_.getName)

  /** The files of one minute, the same ones [[readMinute]] reads: the
    * visible files of its directory. Empty when the minute has no files or
    * the warehouse does not exist yet. Runs no Spark job. */
  def minuteFiles(spark: SparkSession, path: String, minute: java.sql.Timestamp): Seq[Path] = {
    val dir = minuteDir(spark, path, minute)
    visibleFiles(dir.getFileSystem(spark.sparkContext.hadoopConfiguration), dir)
  }

  /** The warehouse commit: lay `rows` out with [[writeSorted]] under the
    * hidden `<path>/_staging/<tag>`, then move each staged minute's files
    * into that minute's directory as `part-<tag>-<i>.parquet`, replacing
    * the files of the same tag there, so publishing one tag twice leaves
    * one copy. Each minute in `replaced` first loses its whole directory,
    * so one that stages no rows ends without files. The staging directory
    * is deleted last.
    *
    * The moves run on the driver, one rename per file: a reader of a
    * minute sees all of a tag's rows for it or none. Between a replaced
    * minute's delete and its rename the minute reads as empty, as under
    * Spark's dynamic partition overwrite. */
  private[graft] def publish(rows: DataFrame, path: String, tag: String,
      replaced: Seq[java.sql.Timestamp] = Nil): Unit = {
    val spark = rows.sparkSession
    val stage = new Path(path, s"_staging/$tag")
    writeSorted(rows, stage.toString)
    val fs = stage.getFileSystem(spark.sparkContext.hadoopConfiguration)
    replaced.foreach(m => fs.delete(minuteDir(spark, path, m), true))
    fs.listStatus(stage).filter(_.isDirectory).foreach { m =>
      val dir = new Path(path, m.getPath.getName)
      visibleFiles(fs, dir).filter(_.getName.startsWith(s"part-$tag-")).foreach(fs.delete(_, false))
      fs.mkdirs(dir)
      visibleFiles(fs, m.getPath).zipWithIndex.foreach { case (f, i) =>
        val to = new Path(dir, s"part-$tag-$i.parquet")
        if (!fs.rename(f, to)) throw new java.io.IOException(s"could not publish $f as $to")
      }
    }
    fs.delete(stage, true)
  }

  /** Land `files` as the parquet directory `dir`, byte for byte: replace
    * `dir`, copy each file into it under its own name, then create
    * `dir/_SUCCESS` last — the commit order of [[writeReportJson]], so a
    * reader that checks the marker never sees a partial landing. Runs on
    * the driver through the Hadoop FileSystem API: no row is decoded or
    * encoded and no Spark job runs.
    *
    * Bounded: each file streams through one fixed-size copy buffer, so
    * driver memory stays constant and I/O is O(bytes landed) — for one
    * warehouse minute about 0.4 MB at the reference's event rate. The
    * reference's own extract also moves the minute through one process,
    * its Airflow worker (pipeline.py:110-140). */
  def landFiles(spark: SparkSession, files: Seq[Path], dir: String): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    commitDir(spark, dir) { (fs, to) =>
      files.foreach { f =>
        FileUtil.copy(f.getFileSystem(conf), f, fs, new Path(to, f.getName), false, conf)
      }
    }
  }

  /** Replace `dir`: delete it, run `write` against its FileSystem and
    * path, then create `dir/_SUCCESS` last (Spark's own commit order). No
    * staging directory and rename: on S3A a directory rename copies in
    * listing order, and `_SUCCESS` sorts before `part-`. */
  private def commitDir(spark: SparkSession, dir: String)(write: (FileSystem, Path) => Unit): Unit = {
    val path = new Path(dir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(path, true)
    write(fs, path)
    fs.create(new Path(path, "_SUCCESS"), false).close()
  }

  /** Compact the warehouse's small files (the streaming ingest publishes
    * files per minute per micro-batch — after a day of 1-minute triggers
    * a hot minute holds hundreds of tiny files): [[writeEvents]]
    * lays every minute out again at `outPath`, one file per minute,
    * restoring the clustering sort. The copy is a warehouse like any
    * other, so an ingest may resume into it under a fresh checkpoint. */
  def compact(spark: SparkSession, path: String, outPath: String): Unit =
    writeEvents(readEvents(spark, path), outPath)

  /** Targeted delete (the right-to-be-forgotten path every event
    * warehouse eventually needs): remove every event of the given users,
    * rewriting ONLY the minutes that contain them. Plain parquet has no
    * row-level delete, so the unit of rewrite is the minute — the design
    * job is keeping the rewrite set small and the discovery pass cheap:
    *
    *  - the user set arrives as a DataFrame (at scale it is a table of
    *    erasure requests, not a literal list) and is broadcast into both
    *    the discovery scan and the anti-join — the big side never
    *    shuffles;
    *  - discovery reads only (user_id, event_minute) (column-pruned) and
    *    the driver receives just the touched minutes — bounded by
    *    partitions touched, never by events;
    *  - the surviving rows of the touched minutes are staged one file per
    *    minute ([[byMinute]]) and published as those minutes'
    *    replacements; a minute left with no rows publishes nothing and so
    *    loses its files. Untouched minutes' files are not opened, let
    *    alone rewritten (DeleteSpec asserts via mtime).
    *
    * The staged write finishes before any warehouse file moves, so the
    * plan never overwrites a path it is still reading. The rewrite is
    * O(touched partitions), the honest floor for a format without delete
    * vectors; a table format with row-level deletes shrinks the rewrite,
    * not the discovery shape. */
  def deleteUsers(spark: SparkSession, path: String, users: DataFrame): Unit = {
    val events = readEvents(spark, path)
    val ids = broadcast(users.select(col("user_id")).distinct())
    val touched = events.join(ids, Seq("user_id"), "left_semi")
      .select("event_minute").distinct().collect().map(_.getTimestamp(0)).toSeq
    if (touched.nonEmpty)
      publish(byMinute(events.filter(col("event_minute").isin(touched: _*))
        .join(ids, Seq("user_id"), "left_anti").select(events.columns.map(col): _*)),
        path, java.util.UUID.randomUUID().toString, replaced = touched)
  }

  /** Single-object JSON report sink (S4), committed on the driver: a
    * one-line document needs no Spark job or commit protocol. Replaces
    * `dir` (a re-run overwrites), writes `dir/part-00000.txt` holding
    * `json` plus a newline, then creates `dir/_SUCCESS` last — Spark's own
    * commit order, so a reader that checks the marker never sees a
    * half-written part. The Hadoop FileSystem API resolves `dir`'s scheme,
    * so s3a:// and hdfs:// work unchanged. The layout is the one
    * `spark.read.text(dir)` reads. */
  def writeReportJson(spark: SparkSession, json: String, dir: String): Unit =
    commitDir(spark, dir) { (fs, path) =>
      val out = fs.create(new Path(path, "part-00000.txt"), false)
      try out.write((json + "\n").getBytes(StandardCharsets.UTF_8)) finally out.close()
    }

  /** Read back a JSON report written by [[writeReportJson]], on the driver:
    * a directory's visible files (no leading `_` or `.`) in name order, or
    * a plain file itself, split into lines and joined with `\n` — the
    * string `spark.read.text(dir)` collects to. A missing path throws
    * `FileNotFoundException`. */
  def readReportJson(spark: SparkSession, dir: String): String = {
    val path = new Path(dir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val status = fs.getFileStatus(path)
    val files = if (status.isDirectory) visibleFiles(fs, path) else Seq(status.getPath)
    files.flatMap { f =>
      val in = new BufferedReader(new InputStreamReader(fs.open(f), StandardCharsets.UTF_8))
      try Iterator.continually(in.readLine()).takeWhile(_ != null).toList
      finally in.close()
    }.mkString("\n")
  }
}
