package graft.sources

import java.io.{BufferedReader, InputStreamReader}
import java.nio.charset.StandardCharsets

import org.apache.hadoop.fs.{FileSystem, FileUtil, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.Filter
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._

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
  *    committed files from the same exactly-once view [[readMinute]]
  *    reads, and [[landFiles]] copies those bytes as they are, on the
  *    driver, with the report sink's commit order.
  */
object Warehouse {

  /** Write events into the minute-partitioned warehouse. One shuffle on the
    * partition key (repartition before partitionBy keeps it to one file per
    * minute instead of files × tasks — at 100 TB adjust the explicit count
    * upward for multiple writers per hot minute).
    *
    * The count is EXPLICIT (the session's configured shuffle parallelism,
    * driven by SPARK_GRAFT_CPUS locally and by the operator's
    * data-proportional setting on a cluster): a bare `repartition(col)`
    * participates in AQE partition coalescing, which merged the 10M-event
    * scale leg's write into ~8 tasks that each opened ~200 minute
    * directories sequentially — writer parallelism, not data size, bounds
    * this write. Hashing on the minute still lands each minute in exactly
    * one task, so the one-file-per-minute layout is unchanged. */
  def writeEvents(events: DataFrame, path: String, mode: String = "overwrite"): Unit =
    Events.withEventMinute(events)
      .repartition(events.sparkSession.sessionState.conf.numShufflePartitions,
        col("event_minute"))
      // The sort must LEAD with the partition column: the dynamic-partition
      // writer requires ordering by partition columns and would otherwise
      // insert its own (non-stable) sort on event_minute, destroying the
      // secondary (event_type, event_timestamp) clustering.
      .sortWithinPartitions(col("event_minute"), col("event_type"), col("event_timestamp"))
      .write.mode(mode).partitionBy("event_minute").parquet(path)

  /** Schema of the warehouse layout (event columns + partition key). */
  val warehouseSchema: org.apache.spark.sql.types.StructType =
    Events.schema.add("event_minute", org.apache.spark.sql.types.TimestampType)

  /** Read the warehouse with an exactly-once view and a tolerant empty
    * case. A missing or not-yet-written warehouse is "no data", not an
    * error — the minutely report's sentinel path depends on this
    * (reference P6). */
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
  def readEventsAs(spark: SparkSession, path: String,
                   schema: org.apache.spark.sql.types.StructType): DataFrame = {
    // existence probe through the Hadoop FileSystem API — a java.io.File
    // check would silently report s3a://, hdfs:// etc. warehouses as empty
    val hPath = new Path(path)
    val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(hPath) || fs.listStatus(hPath).isEmpty) {
      spark.createDataFrame(
        java.util.Collections.emptyList[org.apache.spark.sql.Row](), schema)
    } else {
      // Refresh first: a batch read after a streaming sink appended to the
      // same path in this session can otherwise serve a stale listing from
      // the shared FileStatusCache (no TTL by default). Reading the ROOT
      // (not a partition glob) keeps the read going through the sink's
      // _spark_metadata commit log, so files from failed, uncommitted
      // batches are never visible — the exactly-once view.
      spark.catalog.refreshByPath(path)
      spark.read.schema(schema).parquet(path)
    }
  }

  /** Minute-pruned read: the filter binds to the partition column, so the
    * scan touches exactly one partition directory. */
  def readMinute(spark: SparkSession, path: String, minute: java.sql.Timestamp): DataFrame =
    readEvents(spark, path).filter(col("event_minute") === lit(minute))

  /** The committed files of one `event_minute` partition, from the same
    * exactly-once view [[readMinute]] reads: the plan's file index is the
    * sink's `_spark_metadata` log when the warehouse has one (so files of
    * failed, uncommitted batches are never named) and the directory
    * listing for a batch or compacted layout. [[readMinute]]'s own
    * partition filter prunes the index, so the directory matches the way
    * Spark's writer named it: the value parsed in the session time zone,
    * with Spark's path escaping. Empty when the minute has no files or the
    * warehouse does not exist yet.
    *
    * Runs no Spark job: the log is read and the partitions are pruned on
    * the driver, as when [[readMinute]] is planned. (A batch layout with
    * more than `spark.sql.sources.parallelPartitionDiscovery.threshold`
    * minute directories is listed by a Spark job, for the read as well.) */
  def minuteFiles(spark: SparkSession, path: String, minute: java.sql.Timestamp): Seq[Path] =
    readMinute(spark, path, minute).queryExecution.analyzed.collectFirst {
      case Filter(cond, l: LogicalRelation) if l.relation.isInstanceOf[HadoopFsRelation] =>
        l.relation.asInstanceOf[HadoopFsRelation].location
          .listFiles(Seq(cond), Nil).flatMap(_.files.map(_.getPath))
    }.getOrElse(Nil)

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

  /** Compact the warehouse's small files (a streaming sink appends one
    * file per minute per trigger — after a day of 1-minute triggers a hot
    * minute holds hundreds of tiny files): rewrite every partition with one
    * shuffle on the partition key, restoring the clustering sort.
    *
    * The compacted copy is a BATCH layout with no `_spark_metadata` log, so
    * readers list the filesystem directly. Two invariants when adopting it:
    * (1) never resume the old checkpointed streaming query into the swapped
    * directory — the sink would recreate `_spark_metadata` holding only
    * post-swap batches and the commit-log-honoring readers would drop the
    * compacted history; point the resumed query (fresh checkpoint) at the
    * compacted dir or a new one. (2) the same rule applies to any batch
    * append into a directory that already has a sink metadata log. */
  def compact(spark: SparkSession, path: String, outPath: String): Unit =
    readEvents(spark, path)
      .repartition(col("event_minute"))
      .sortWithinPartitions(col("event_minute"), col("event_type"), col("event_timestamp"))
      .write.mode("overwrite").partitionBy("event_minute").parquet(outPath)

  /** Targeted delete (the right-to-be-forgotten path every event
    * warehouse eventually needs): remove every event of the given users,
    * rewriting ONLY the minute-partitions that contain them. Plain
    * parquet has no row-level delete, so the unit of rewrite is the
    * partition — the design job is keeping the rewrite set small and the
    * discovery pass cheap:
    *
    *  - the user set arrives as a DataFrame (at scale it is a table of
    *    erasure requests, not a literal list) and is broadcast into both
    *    the discovery scan and the anti-join — the big side never
    *    shuffles;
    *  - discovery reads only (user_id, event_minute) (column-pruned) and
    *    the driver receives just the touched minutes, each flagged when
    *    every one of its rows belongs to the users — bounded by
    *    partitions touched, never by events;
    *  - the rewrite is a dynamic-partition overwrite of the touched
    *    minutes that keep rows (same mechanism as Ingest.upsertRollup),
    *    restoring the clustering sort; untouched partitions' files are not
    *    opened, let alone rewritten (DeleteSpec asserts via mtime);
    *  - a dynamic overwrite replaces only the partitions its output
    *    holds, so a minute emptied by the delete would keep every row:
    *    its directory is removed instead, after the rewrite.
    *
    * The localCheckpoint materializes the touched slice before the write
    * because Spark (rightly) refuses a plan that overwrites a path it is
    * still reading. The slice is O(touched partitions), the honest floor
    * for a format without delete vectors; a table format with row-level
    * deletes shrinks the rewrite, not the discovery shape. */
  def deleteUsers(spark: SparkSession, path: String, users: DataFrame): Unit = {
    val events = readEvents(spark, path)
    val ids = broadcast(users.select(col("user_id")).distinct())
    val hit = col("hit").isNotNull
    // one row per touched minute: (event_minute, emptied)
    val touched = events.join(ids.withColumn("hit", lit(true)), Seq("user_id"), "left")
      .groupBy("event_minute").agg(bool_or(hit).as("touched"), bool_and(hit).as("emptied"))
      .filter(col("touched")).select("event_minute", "emptied").collect()
    val (emptied, kept) = touched.partition(_.getBoolean(1))
    if (kept.nonEmpty) {
      val cols = events.columns.map(col)
      events.filter(col("event_minute").isin(kept.map(_.get(0)).toIndexedSeq: _*))
        .join(ids, Seq("user_id"), "left_anti")
        .select(cols: _*)
        .localCheckpoint()
        .repartition(col("event_minute"))
        .sortWithinPartitions(col("event_minute"), col("event_type"), col("event_timestamp"))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("event_minute")
        .parquet(path)
    }
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    emptied.foreach { r =>
      minuteFiles(spark, path, r.getTimestamp(0)).map(_.getParent).distinct
        .foreach(fs.delete(_, true))
    }
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
    val files =
      if (!status.isDirectory) Seq(status.getPath)
      else fs.listStatus(path).toSeq
        .filter(f => f.isFile && !f.getPath.getName.startsWith("_") &&
          !f.getPath.getName.startsWith("."))
        .map(_.getPath).sortBy(_.getName)
    files.flatMap { f =>
      val in = new BufferedReader(new InputStreamReader(fs.open(f), StandardCharsets.UTF_8))
      try Iterator.continually(in.readLine()).takeWhile(_ != null).toList
      finally in.close()
    }.mkString("\n")
  }
}
