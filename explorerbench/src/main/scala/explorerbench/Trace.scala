package explorerbench

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** One finished Spark action as the query-execution listener saw it. */
final case class QueryRec(end: Long, planMs: Double, execMs: Double,
  outputPath: Option[String], bytesWritten: Long, filesWritten: Long,
  filesRead: Long, rowsScanned: Long)

/** One completed stage: task count, task-time skew, shuffle and spill. */
final case class StageRec(submitted: Long, completed: Long, tasks: Int,
  maxTaskMs: Long, medianTaskMs: Double, runMs: Long,
  shuffleReadBytes: Long, shuffleWriteBytes: Long, spillBytes: Long)

final case class Span(id: Int, name: String, start: Long, end: Long,
  parent: Option[Int], counts: Map[String, Double])

/** The benchmark's trace: spans it records around calls into each module,
  * and the events of the listeners it registers with Spark from outside
  * the program. Everything stays in memory until [[write]].
  *
  * When `enabled` is false no listener is registered and [[span]] only runs
  * its body, so the end-to-end figures of an untraced run carry none of the
  * tracing cost. A traced run switches recording on and off with `active`,
  * to time the same work with and without tracing.
  */
final class Trace(spark: SparkSession, val enabled: Boolean) {
  val spans = new ConcurrentLinkedQueue[Span]()
  val queries = new ConcurrentLinkedQueue[QueryRec]()
  val stages = new ConcurrentLinkedQueue[StageRec]()
  val jobStarts = new ConcurrentLinkedQueue[java.lang.Long]()
  val errorLines = new AtomicLong()
  @volatile var active: Boolean = false
  private val nextId = new AtomicInteger()
  private val current = new ThreadLocal[Option[Int]] { override def initialValue() = None }
  private val taskMs = new java.util.concurrent.ConcurrentHashMap[Int, ConcurrentLinkedQueue[java.lang.Long]]()

  /** Time `f` as a span named `name`, nested under the calling thread's
    * open span.
    */
  def span[A](name: String)(f: => A): A =
    if (!active) f
    else {
      val id = nextId.incrementAndGet()
      val parent = current.get
      current.set(Some(id))
      val t0 = System.currentTimeMillis()
      try {
        val r = f
        spans.add(Span(id, name, t0, System.currentTimeMillis(), parent, Map.empty))
        r
      } finally current.set(parent)
    }

  /** Record an already-measured interval (listener events, batch timings). */
  def record(name: String, start: Long, end: Long, counts: Map[String, Double] = Map.empty): Unit =
    if (enabled) spans.add(Span(nextId.incrementAndGet(), name, start, end, None, counts))

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      if (active) queries.add(Trace.queryRec(qe, durationNs))
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = if (active) jobStarts.add(e.time)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (active && e.taskInfo != null)
        taskMs.computeIfAbsent(e.stageId, _ => new ConcurrentLinkedQueue[java.lang.Long]())
          .add(e.taskInfo.duration)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = if (active) {
      val si = e.stageInfo
      val ts = Option(taskMs.remove(si.stageId)).map(_.asScala.map(_.longValue).toSeq)
        .getOrElse(Nil)
      val m = si.taskMetrics
      stages.add(StageRec(si.submissionTime.getOrElse(0L), si.completionTime.getOrElse(0L),
        si.numTasks, if (ts.isEmpty) 0L else ts.max,
        if (ts.isEmpty) 0.0 else Stats.median(ts.map(_.toDouble)),
        if (m == null) 0L else m.executorRunTime,
        if (m == null) 0L else m.shuffleReadMetrics.totalBytesRead,
        if (m == null) 0L else m.shuffleWriteMetrics.bytesWritten,
        if (m == null) 0L else m.memoryBytesSpilled + m.diskBytesSpilled))
    }
  }

  private val errorAppender = new AbstractAppender("explorerbench-errors", null, null, true,
    Property.EMPTY_ARRAY) {
    override def append(e: LogEvent): Unit =
      if (e.getLevel.isMoreSpecificThan(Level.ERROR)) errorLines.incrementAndGet()
  }

  def install(): Unit = if (enabled) {
    spark.listenerManager.register(queryListener)
    spark.sparkContext.addSparkListener(sparkListener)
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    errorAppender.start()
    ctx.getConfiguration.getRootLogger.addAppender(errorAppender, Level.ERROR, null)
    ctx.updateLoggers()
  }

  /** Listener events arrive on Spark's listener bus after the action that
    * caused them returns; wait until the bus has delivered the tail.
    */
  def drain(): Unit = if (enabled) Thread.sleep(600)

  def queriesIn(t0: Long, t1: Long): Seq[QueryRec] =
    queries.asScala.filter(q => q.end >= t0 && q.end <= t1 + 50).toSeq
  def stagesIn(t0: Long, t1: Long): Seq[StageRec] =
    stages.asScala.filter(s => s.submitted >= t0 && s.submitted <= t1).toSeq
  def jobsIn(t0: Long, t1: Long): Int =
    jobStarts.asScala.count(t => t >= t0 && t <= t1)

  /** Write every span, query and stage record as one JSON document. */
  def write(path: String, extra: Map[String, Any]): Unit = if (enabled) {
    val doc = extra ++ Map(
      "spans" -> spans.asScala.toSeq.sortBy(_.start).map(s => Map(
        "id" -> s.id, "name" -> s.name, "start_ms" -> s.start, "end_ms" -> s.end,
        "parent" -> s.parent, "counts" -> s.counts)),
      "queries" -> queries.asScala.toSeq.map(q => Map(
        "end_ms" -> q.end, "plan_ms" -> q.planMs, "exec_ms" -> q.execMs,
        "output" -> q.outputPath, "bytes_written" -> q.bytesWritten,
        "files_written" -> q.filesWritten, "files_read" -> q.filesRead,
        "rows_scanned" -> q.rowsScanned)),
      "stages" -> stages.asScala.toSeq.map(s => Map(
        "submitted_ms" -> s.submitted, "completed_ms" -> s.completed, "tasks" -> s.tasks,
        "max_task_ms" -> s.maxTaskMs, "median_task_ms" -> s.medianTaskMs,
        "shuffle_read_bytes" -> s.shuffleReadBytes,
        "shuffle_write_bytes" -> s.shuffleWriteBytes, "spill_bytes" -> s.spillBytes)),
      "error_lines" -> errorLines.get)
    Files.createDirectories(Paths.get(path).getParent)
    Files.writeString(Paths.get(path), Json.render(doc))
  }
}

object Trace {
  /** Every physical node of a plan, looking through adaptive wrappers. */
  def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => q +: nodes(q.plan)
    case other => other +: other.children.flatMap(nodes)
  }

  private def metric(p: SparkPlan, name: String): Long =
    p.metrics.get(name).map(_.value).getOrElse(0L)

  def queryRec(qe: QueryExecution, durationNs: Long): QueryRec = {
    val phases = qe.tracker.phases.values.map(ph => ph.endTimeMs - ph.startTimeMs).sum
    val plan = scala.util.Try(nodes(qe.executedPlan)).getOrElse(Nil)
    val write = plan.collectFirst { case w: DataWritingCommandExec => w }
    val outPath = write.map(_.cmd).collect {
      case i: InsertIntoHadoopFsRelationCommand => i.outputPath.toString
    }
    val scans = plan.collect { case s: FileSourceScanExec => s }
    QueryRec(System.currentTimeMillis(), phases.toDouble, durationNs / 1e6, outPath,
      write.map(metric(_, "numOutputBytes")).getOrElse(0L),
      write.map(metric(_, "numFiles")).getOrElse(0L),
      scans.map(metric(_, "numFiles")).sum,
      scans.map(metric(_, "numOutputRows")).sum)
  }

  /** Progress durations of every streaming micro-batch, and when it ended. */
  final class Progress extends StreamingQueryListener {
    val events = new ConcurrentLinkedQueue[org.apache.spark.sql.streaming.StreamingQueryProgress]()
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      events.add(e.progress)
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()

    /** batchId → (trigger start, trigger end, durations) of batches that ran. */
    def batches: Map[Long, (Long, Long, Map[String, Long])] =
      events.asScala.filter(_.numInputRows > 0).map { p =>
        val start = java.time.Instant.parse(p.timestamp).toEpochMilli
        val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
        p.batchId -> (start, start + d.getOrElse("triggerExecution", 0L), d)
      }.toMap
  }

  /** Block files of each micro-batch, read from the file source's
    * checkpointed file log (`sources/0/<batchId>` and its `.compact`
    * files, one JSON entry per file with the batch that took it).
    */
  def fileBatches(checkpoint: String): Map[String, Long] = {
    val dir = Paths.get(checkpoint, "sources", "0")
    if (!Files.isDirectory(dir)) return Map.empty
    val entry = """"path":"([^"]+)".*"batchId":(\d+)""".r.unanchored
    val out = mutable.Map.empty[String, Long]
    val files = Files.list(dir)
    try files.iterator.asScala.filterNot(_.getFileName.toString.startsWith(".")).foreach { f =>
      Files.readAllLines(f).asScala.foreach {
        case entry(path, batch) => out(Paths.get(new java.net.URI(path)).getFileName.toString) = batch.toLong
        case _ =>
      }
    } finally files.close()
    out.toMap
  }
}
