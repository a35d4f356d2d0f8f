package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.{PerfbenchSqlEnd, SparkSession}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Minimal JSON rendering for the harness's result file. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => apply(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case xs: Array[_] => apply(xs.toSeq)
    case other => apply(other.toString)
  }
}

/** Spans around the harness's calls into the program, plus the counts
  * Spark's own listeners report at the same boundaries.
  *
  * With tracing off, [[span]] only runs its body and no listener is
  * registered. With tracing on, a `SparkListener` and a
  * `StreamingQueryListener` are registered and each span records name,
  * start, end, parent and request id, and tags the jobs its thread starts
  * (a Spark local property), so task metrics, SQL executions and planning
  * phases can be charged to the span that caused them. Jobs of a streaming query
  * are charged to `ingest`. Everything stays in memory until [[dump]]. */
final class Tracer(spark: SparkSession, val on: Boolean) {
  private val SpanProp = "perfbench.span"
  private val StreamProp = "sql.streaming.queryId"
  private val epochNs = System.currentTimeMillis() * 1000000L - System.nanoTime()
  private def nowNs: Long = System.nanoTime() + epochNs

  private final case class Span(id: Int, name: String, req: String, parent: Int,
      start: Long, var end: Long = 0L)
  private val spans = mutable.ArrayBuffer.empty[Span]
  // inheritable: a pool thread started inside a span is that span's child
  private val stack = new InheritableThreadLocal[Integer]

  /** Per charge key (span id, or -1 for streaming jobs): summed counters. */
  private val counts = mutable.Map.empty[Int, mutable.Map[String, Double]]
  private val stageOwner = mutable.Map.empty[Int, Int]
  private val execOwner = mutable.Map.empty[Long, Int]
  private val execs = mutable.Map.empty[Long, mutable.Map[String, Any]]
  private val progress = mutable.ArrayBuffer.empty[Map[String, Any]]

  private def bump(owner: Int, k: String, v: Double): Unit = {
    val m = counts.getOrElseUpdate(owner, mutable.Map.empty)
    m(k) = m.getOrElse(k, 0.0) + v
  }

  def span[T](name: String, req: String)(body: => T): T =
    if (!on) body
    else {
      val sc = spark.sparkContext
      val parent = Option(stack.get).map(_.intValue).getOrElse(0)
      val s = synchronized {
        val s = Span(spans.size + 1, name, req, parent, nowNs)
        spans += s
        s
      }
      val prevProp = sc.getLocalProperty(SpanProp)
      sc.setLocalProperty(SpanProp, s.id.toString)
      stack.set(s.id)
      try body
      finally {
        synchronized { s.end = nowNs }
        stack.set(if (parent == 0) null else parent)
        sc.setLocalProperty(SpanProp, prevProp)
      }
    }

  private object Listener extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      val p = Option(e.properties)
      val owner =
        if (p.exists(_.getProperty(StreamProp) != null)) -1
        else p.flatMap(x => Option(x.getProperty(SpanProp))).map(_.toInt).getOrElse(0)
      e.stageIds.foreach(stageOwner(_) = owner)
      p.flatMap(x => Option(x.getProperty("spark.sql.execution.id")))
        .foreach(id => execOwner.getOrElseUpdate(id.toLong, owner))
      bump(owner, "jobs", 1)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      val owner = stageOwner.getOrElse(e.stageId, 0)
      bump(owner, "tasks", 1)
      Option(e.taskMetrics).foreach { m =>
        bump(owner, "task_cpu_ns", m.executorCpuTime.toDouble)
        bump(owner, "input_bytes", m.inputMetrics.bytesRead.toDouble)
        bump(owner, "output_bytes", m.outputMetrics.bytesWritten.toDouble)
        bump(owner, "shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
        bump(owner, "spill_bytes", (m.diskBytesSpilled + m.memoryBytesSpilled).toDouble)
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => Tracer.this.synchronized {
        execs.getOrElseUpdate(s.executionId, mutable.Map.empty)("start_ms") = s.time
      }
      case s: SparkListenerSQLExecutionEnd =>
        // planning phases and file-scan metrics of the finished execution
        val plan = PerfbenchSqlEnd.qe(s).map { qe =>
          val scans = Plans.collectWithSubqueries(qe.executedPlan) { case f: FileSourceScanExec => f }
          def metric(k: String) = scans.flatMap(_.metrics.get(k)).map(_.value).sum.toDouble
          Seq("planning_ms" -> qe.tracker.phases.values.map(_.durationMs).sum.toDouble,
            "files" -> metric("numFiles"), "file_bytes" -> metric("filesSize"))
        }.getOrElse(Nil)
        Tracer.this.synchronized {
          execs.getOrElseUpdate(s.executionId, mutable.Map.empty) ++=
            Seq("end_ms" -> s.time, "action" -> PerfbenchSqlEnd.action(s).getOrElse("")) ++ plan
        }
      case _ =>
    }
  }

  private object Plans extends AdaptiveSparkPlanHelper

  private object StreamListener extends StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      import scala.jdk.CollectionConverters._
      val rec = Map[String, Any]("batch" -> p.batchId, "rows" -> p.numInputRows,
        "ms" -> p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap)
      Tracer.this.synchronized(progress += rec)
    }
  }

  if (on) {
    spark.sparkContext.addSparkListener(Listener)
    spark.streams.addListener(StreamListener)
  }

  /** Forget the streaming counters and progress records gathered so far, so
    * the ingest metrics cover only the streaming queries that run after
    * this call (not a warm-up's). */
  def discardIngest(): Unit = if (on) {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    synchronized { counts.remove(-1); progress.clear() }
  }

  /** Every span with the counters charged to it, every SQL execution with
    * its owning span, and every streaming progress record. Waits for the
    * listener bus to deliver outstanding events first. */
  def dump(): Map[String, Any] = {
    if (!on) return Map.empty
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    synchronized {
      val spanRecs = spans.toSeq.map { s =>
        Map[String, Any]("id" -> s.id, "name" -> s.name, "req" -> s.req, "parent" -> s.parent,
          "start_ns" -> s.start, "end_ns" -> s.end,
          "counts" -> counts.getOrElse(s.id, mutable.Map.empty).toMap)
      }
      val execRecs = execs.toSeq.sortBy(_._1).map { case (id, m) =>
        m.toMap ++ Map("id" -> id, "span" -> execOwner.getOrElse(id, 0))
      }
      Map("spans" -> spanRecs, "executions" -> execRecs, "progress" -> progress.toSeq,
        "ingest_counts" -> counts.getOrElse(-1, mutable.Map.empty).toMap)
    }
  }
}
