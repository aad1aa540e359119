package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-layer recorder for the traced run, measured from outside the
  * engine: spans around the benchmark's calls into module entry points,
  * plus a SparkListener, a QueryExecutionListener and a
  * StreamingQueryListener registered on the session.
  *
  * Everything is kept in memory and summarised once, at the end of the
  * run. Jobs, query executions and micro-batches are attributed to an
  * iteration by their start time; jobs are attributed to a span by the
  * `perfbench.span` local property set around each call, and to a sink
  * by the call site Spark records on each stage.
  */
final class Trace(spark: SparkSession) {
  private val SpanKey = "perfbench.span"

  final case class Span(name: String, parent: String, startMs: Long, endMs: Long)
  final class Job(val id: Int, val startMs: Long, val span: String, val callSite: String,
      val execution: Long) {
    var endMs: Long = startMs
    var stages = 0
    var tasks = 0L
    var runMs, cpuNs, gcMs, shRead, shWrite, spill, inBytes, inRows, outBytes = 0L
  }
  final case class Phases(startMs: Long, funcName: String, analysis: Long,
      optimization: Long, planning: Long)
  final case class Batch(startMs: Long, total: Long, addBatch: Long,
      planning: Long, walCommit: Long, rows: Long)

  private val spans = mutable.ArrayBuffer.empty[Span]
  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  // SQL execution id -> the call site of the action that started it
  private val executions = mutable.HashMap.empty[Long, String]
  private val phases = mutable.ArrayBuffer.empty[Phases]
  private val batches = mutable.ArrayBuffer.empty[Batch]

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Trace.this.synchronized {
      val props = Option(e.properties)
      val site = e.stageInfos.map(_.details).mkString("\n")
      def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
      val j = new Job(e.jobId, e.time, prop(SpanKey).getOrElse(""), site,
        prop("spark.sql.execution.id").map(_.toLong).getOrElse(-1L))
      jobs(e.jobId) = j
      e.stageIds.foreach(s => stageJob(s) = e.jobId)
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case x: SparkListenerSQLExecutionStart =>
        Trace.this.synchronized { executions(x.executionId) = x.details }
      case _ => ()
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Trace.this.synchronized {
      jobs.get(e.jobId).foreach(_.endMs = e.time)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Trace.this.synchronized {
      stageJob.get(e.stageInfo.stageId).flatMap(jobs.get).foreach(_.stages += 1)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Trace.this.synchronized {
      val m = e.taskMetrics
      for (jid <- stageJob.get(e.stageId); j <- jobs.get(jid) if m != null) {
        j.tasks += 1
        j.runMs += m.executorRunTime
        j.cpuNs += m.executorCpuTime
        j.gcMs += m.jvmGCTime
        j.shRead += m.shuffleReadMetrics.totalBytesRead
        j.shWrite += m.shuffleWriteMetrics.bytesWritten
        j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        j.inBytes += m.inputMetrics.bytesRead
        j.inRows += m.inputMetrics.recordsRead
        j.outBytes += m.outputMetrics.bytesWritten
      }
    }
  }

  private val queryListener = new QueryExecutionListener {
    private def record(funcName: String, qe: QueryExecution): Unit = {
      val ph = qe.tracker.phases
      def ms(k: String) = ph.get(k).map(_.durationMs).getOrElse(0L)
      val start = if (ph.isEmpty) System.currentTimeMillis()
        else ph.values.map(_.startTimeMs).min
      Trace.this.synchronized {
        phases += Phases(start, funcName, ms("analysis"), ms("optimization"), ms("planning"))
      }
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(funcName, qe)
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
      record(funcName, qe)
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli
      Trace.this.synchronized {
        batches += Batch(start, d.getOrElse("triggerExecution", 0L), d.getOrElse("addBatch", 0L),
          d.getOrElse("queryPlanning", 0L), d.getOrElse("walCommit", 0L), p.numInputRows)
      }
    }
  }

  spark.sparkContext.addSparkListener(jobListener)
  spark.listenerManager.register(queryListener)
  spark.streams.addListener(streamListener)

  /** Time `body` as span `name`, attributing the Spark jobs it launches. */
  def span[T](name: String)(body: => T): T = {
    val sc = spark.sparkContext
    val parent = Option(sc.getLocalProperty(SpanKey)).getOrElse("")
    sc.setLocalProperty(SpanKey, name)
    val t0 = System.currentTimeMillis()
    try body
    finally {
      val t1 = System.currentTimeMillis()
      synchronized { spans += Span(name, parent, t0, t1) }
      sc.setLocalProperty(SpanKey, if (parent.isEmpty) null else parent)
    }
  }

  /** Let the asynchronous listener buses deliver what is still queued. */
  def settle(): Unit = Thread.sleep(1500)

  /** Everything recorded inside [startMs, endMs]: the per-iteration
    * layer numbers. Span times are summed per span name.
    */
  def window(startMs: Long, endMs: Long, cores: Int): Map[String, Double] = synchronized {
    def in(t: Long) = t >= startMs && t <= endMs
    val js = jobs.values.filter(j => in(j.startMs)).toSeq
    val ps = phases.filter(p => in(p.startMs))
    val bs = batches.filter(b => in(b.startMs))
    val wall = math.max(1L, endMs - startMs).toDouble
    val runMs = js.map(_.runMs).sum.toDouble
    val base = Map(
      "driver.analysis_ms" -> ps.map(_.analysis).sum.toDouble,
      "driver.optimization_ms" -> ps.map(_.optimization).sum.toDouble,
      "driver.planning_ms" -> ps.map(_.planning).sum.toDouble,
      "driver.jobs" -> js.size.toDouble,
      "driver.stages" -> js.map(_.stages).sum.toDouble,
      "driver.tasks" -> js.map(_.tasks).sum.toDouble,
      "exec.run_ms" -> runMs,
      "exec.cpu_ms" -> js.map(_.cpuNs).sum / 1e6,
      "exec.gc_ms" -> js.map(_.gcMs).sum.toDouble,
      "exec.busy_share" -> runMs / (wall * cores),
      "shuffle.read_bytes" -> js.map(_.shRead).sum.toDouble,
      "shuffle.write_bytes" -> js.map(_.shWrite).sum.toDouble,
      "spill.bytes" -> js.map(_.spill).sum.toDouble,
      "scan.input_bytes" -> js.map(_.inBytes).sum.toDouble,
      "scan.input_rows" -> js.map(_.inRows).sum.toDouble,
      "streaming.batches" -> bs.size.toDouble,
      "streaming.batch_ms" -> bs.map(_.total).sum.toDouble,
      "streaming.add_batch_ms" -> bs.map(_.addBatch).sum.toDouble,
      "streaming.planning_ms" -> bs.map(_.planning).sum.toDouble,
      "streaming.wal_commit_ms" -> bs.map(_.walCommit).sum.toDouble,
      "streaming.input_rows" -> bs.map(_.rows).sum.toDouble)
    val spanMs = spans.filter(s => in(s.startMs)).groupBy(_.name)
      .map { case (n, ss) => s"span:$n" -> ss.map(s => s.endMs - s.startMs).sum.toDouble }
    val spanJobs = js.groupBy(_.span)
      .map { case (n, jj) => s"jobs:$n" -> jj.size.toDouble }
    base ++ spanMs ++ spanJobs
  }

  /** Jobs started inside the window whose call sites (their stages', or
    * the SQL action's that launched them) name `frame`:
    * (summed job wall ms, bytes written).
    */
  def jobsAt(startMs: Long, endMs: Long, frame: String): (Double, Double) = synchronized {
    val js = jobs.values.filter(j => j.startMs >= startMs && j.startMs <= endMs &&
      (j.callSite.contains(frame) || executions.get(j.execution).exists(_.contains(frame))))
    (js.map(j => j.endMs - j.startMs).sum.toDouble, js.map(_.outBytes).sum.toDouble)
  }

  /** One span's share of the executors and of the optimizer, inside the
    * window: (executor run ms / (span ms x cores), optimization ms).
    */
  def spanSplit(span: String, startMs: Long, endMs: Long, cores: Int): (Double, Double) =
    synchronized {
      val ws = spans.filter(s => s.name == span && s.startMs >= startMs && s.startMs <= endMs)
      val ms = ws.map(s => s.endMs - s.startMs).sum.toDouble
      val run = jobs.values.filter(j => j.span == span && j.startMs >= startMs &&
        j.startMs <= endMs).map(_.runMs).sum.toDouble
      val opt = phases.filter(p => ws.exists(s => p.startMs >= s.startMs &&
        p.startMs <= s.endMs)).map(_.optimization).sum.toDouble
      (if (ms > 0) run / (ms * cores) else 0.0, opt)
    }

  /** Query executions named `funcName` (e.g. `head`) inside a span. */
  def actionsIn(span: String, funcName: String, startMs: Long, endMs: Long): Int =
    synchronized {
      val ws = spans.filter(s => s.name == span && s.startMs >= startMs && s.startMs <= endMs)
      phases.count(p => p.funcName == funcName &&
        ws.exists(s => p.startMs >= s.startMs && p.startMs <= s.endMs))
    }

  def spanRecords: Seq[Map[String, Any]] = synchronized {
    spans.map(s => Map("name" -> s.name, "parent" -> s.parent,
      "start" -> s.startMs, "end" -> s.endMs)).toSeq
  }
}
