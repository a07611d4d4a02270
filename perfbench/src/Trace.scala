package org.apache.spark.perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call into a layer: wall time plus the counters Spark's
  * listener buses attributed to it. Counters are added from listener
  * threads, hence the lock. */
final class Span(val id: Int, val parent: Int, val name: String, val startNs: Long) {
  @volatile var endNs: Long = 0L
  private val counters = mutable.Map.empty[String, Double]
  /** Final state-store size per streaming query run inside this span. */
  private val stateRows = mutable.Map.empty[java.util.UUID, Long]
  def add(key: String, v: Double): Unit = synchronized {
    counters(key) = counters.getOrElse(key, 0.0) + v
  }
  def setStateRows(query: java.util.UUID, rows: Long): Unit = synchronized {
    stateRows(query) = rows
  }
  def snapshot: Map[String, Double] = synchronized {
    if (stateRows.isEmpty) counters.toMap
    else counters.toMap.updated("stream_state_rows", stateRows.values.sum.toDouble)
  }
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spans around calls into the program, with Spark, query-execution and
  * streaming listeners registered from outside the program.
  *
  * Jobs are attributed to a span by the job group set around the call.
  * Jobs without one of our groups (streaming micro-batches set their
  * own), planning-tracker and streaming-progress events go to the
  * innermost open span: calls are serial and every span drains the
  * listener bus before it closes, so that span is the one that caused
  * them. Spans stay in memory and are written out once, at the end.
  */
final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext
  private val t0 = System.nanoTime()
  private val spans = mutable.ArrayBuffer.empty[Span]
  @volatile private var open: List[Span] = Nil
  private val stageSpan = new java.util.concurrent.ConcurrentHashMap[Int, Span]()
  private val shuffleStages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
  // SQL execution id -> (span, end time of its last job)
  private val executions = new java.util.concurrent.ConcurrentHashMap[Long, (Span, Long)]()
  private val jobExecution = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
  private val GroupPrefix = "perfbench-"

  private def current: Option[Span] = open.headOption

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      val span = group.filter(_.startsWith(GroupPrefix))
        .flatMap(g => spans.synchronized(spans.lift(g.stripPrefix(GroupPrefix).toInt)))
        .orElse(current)
      span.foreach { s =>
        e.stageIds.foreach(id => stageSpan.put(id, s))
        s.add("jobs", 1)
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
          .foreach { id =>
            jobExecution.put(e.jobId, id.toLong)
            executions.putIfAbsent(id.toLong, (s, 0L))
          }
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobExecution.remove(e.jobId)).foreach { id =>
        executions.computeIfPresent(id, (_, v) => (v._1, math.max(v._2, e.time)))
      }
    /** Driver time after an execution's last job: where a write commits. */
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case end: SparkListenerSQLExecutionEnd =>
        Option(executions.remove(end.executionId)).filter(_._2 > 0).foreach {
          case (s, lastJobEnd) => s.add("post_job_s", (end.time - lastJobEnd) / 1e3)
        }
      case _ =>
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      if (e.stageInfo.parentIds.nonEmpty) shuffleStages.add(e.stageInfo.stageId)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val si = e.stageInfo
      Option(stageSpan.get(si.stageId)).foreach { s =>
        val wallMs = (for (a <- si.completionTime; b <- si.submissionTime) yield a - b)
          .getOrElse(0L)
        s.add("stages", 1)
        if (si.numTasks == 1) s.add("single_task_stage_s", wallMs / 1e3)
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      Option(stageSpan.get(e.stageId)).filter(_ => m != null).foreach { s =>
        s.add("tasks", 1)
        s.add("run_s", m.executorRunTime / 1e3)
        s.add("cpu_s", m.executorCpuTime / 1e9)
        s.add("gc_s", m.jvmGCTime / 1e3)
        s.add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
        s.add("shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
        s.add("spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
        s.add("input_bytes", m.inputMetrics.bytesRead.toDouble)
        s.add("output_bytes", m.outputMetrics.bytesWritten.toDouble)
        if (shuffleStages.contains(e.stageId)) {
          s.add("shuffle_tasks", 1)
          if (m.shuffleReadMetrics.recordsRead > 0) s.add("shuffle_tasks_nonempty", 1)
        }
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      current.foreach { s =>
        val phases = qe.tracker.phases
        Seq(QueryPlanningTracker.ANALYSIS, QueryPlanningTracker.OPTIMIZATION,
          QueryPlanningTracker.PLANNING).foreach { p =>
          phases.get(p).foreach(ph => s.add("plan_s", ph.durationMs / 1e3))
        }
        s.add("executions", 1)
      }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      current.foreach { s =>
        val d = e.progress.durationMs.asScala.map { case (k, v) => k -> v.longValue / 1e3 }
        if (d.contains("addBatch")) s.add("stream_batches", 1)
        s.add("stream_add_batch_s", d.getOrElse("addBatch", 0.0))
        s.add("stream_planning_s", d.getOrElse("queryPlanning", 0.0))
        s.add("stream_commit_s", d.getOrElse("walCommit", 0.0) + d.getOrElse("commitOffsets", 0.0))
        s.add("stream_trigger_s", d.getOrElse("triggerExecution", 0.0))
        // the last progress of a query carries its final state size
        s.setStateRows(e.progress.id, e.progress.stateOperators.map(_.numRowsTotal).sum)
      }
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
  }

  def attach(): Unit = {
    sc.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  def detach(): Unit = {
    sc.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
  }

  /** Time `body` as a span named `name`, nested in the innermost open one. */
  def span[T](name: String)(body: => T): (T, Span) = {
    val s = spans.synchronized {
      val s = new Span(spans.size, current.map(_.id).getOrElse(-1), name, System.nanoTime())
      spans += s
      s
    }
    val outerGroup = Option(sc.getLocalProperty("spark.jobGroup.id"))
    open = s :: open
    sc.setJobGroup(GroupPrefix + s.id, name, interruptOnCancel = false)
    try {
      val r = body
      (r, s)
    } finally {
      s.endNs = System.nanoTime()
      sc.listenerBus.waitUntilEmpty()
      open = open.tail
      outerGroup match {
        case Some(g) => sc.setJobGroup(g, "", interruptOnCancel = false)
        case None => sc.clearJobGroup()
      }
    }
  }

  /** Top-level spans whose name starts with `prefix`. */
  def roots(prefix: String): Seq[Span] =
    spans.synchronized(spans.toList).filter(s => s.parent < 0 && s.name.startsWith(prefix))

  /** Spans opened directly inside `s`. */
  def children(s: Span): Seq[Span] = spans.synchronized(spans.toList).filter(_.parent == s.id)

  /** Counters of `s` and every span nested in it. */
  def total(s: Span): Map[String, Double] = {
    val all = spans.synchronized(spans.toList)
    def under(x: Span): Boolean = x.id == s.id ||
      (x.parent >= 0 && under(all(x.parent)))
    all.filter(under).map(_.snapshot).foldLeft(Map.empty[String, Double]) { (acc, m) =>
      m.foldLeft(acc) { case (a, (k, v)) => a.updated(k, a.getOrElse(k, 0.0) + v) }
    }
  }

  /** One JSON object per span: name, parent, start/end relative to the
    * tracer's creation, and its own (not nested) counters. */
  def dump(path: Path): Unit = {
    val lines = spans.synchronized(spans.toList).map { s =>
      val c = s.snapshot.map { case (k, v) => s""""$k":${Json.num(v)}""" }.mkString(",")
      s"""{"id":${s.id},"parent":${s.parent},"name":${Json.str(s.name)},""" +
        s""""start_s":${Json.num((s.startNs - t0) / 1e9)},"end_s":${Json.num((s.endNs - t0) / 1e9)}""" +
        (if (c.isEmpty) "}" else s",$c}")
    }
    Files.write(path, lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString
}
