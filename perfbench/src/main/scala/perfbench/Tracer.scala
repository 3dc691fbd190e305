package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{SparkPlan, QueryExecution}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** One traced interval. Times are epoch nanoseconds; `parent` 0 is the root. */
final class Span(val id: Long, val parent: Long, val kind: String,
                 val name: String, val start: Long) {
  @volatile var end: Long = start
  val attrs: mutable.Map[String, Double] = mutable.Map.empty

  def add(k: String, v: Double): Unit = attrs.synchronized {
    attrs(k) = attrs.getOrElse(k, 0.0) + v
  }
  def max(k: String, v: Double): Unit = attrs.synchronized {
    attrs(k) = math.max(attrs.getOrElse(k, 0.0), v)
  }
}

/** Span recorder for the traced run, kept in memory until [[spans]] is read.
  *
  * The benchmark opens pass, query, construct and action spans itself.
  * Spark jobs, stages (with their task metrics), micro-batches and SQL
  * executions arrive through public listeners and are attributed without
  * relying on event timing: every job submitted while a benchmark span is
  * open carries the job tag `pb-<spanId>` (tags are inherited by the
  * streaming and broadcast threads), and a streaming query's micro-batches
  * belong to the innermost span that was open when it started. Jobs without such a tag
  * (the untraced passes of a traced run) are ignored. */
final class Tracer(spark: SparkSession) {
  private val baseNano = System.nanoTime()
  private val baseEpochNs = System.currentTimeMillis() * 1000000L
  def now(): Long = baseEpochNs + (System.nanoTime() - baseNano)

  private val nextId = new AtomicLong(0)
  private val all = new ConcurrentHashMap[Long, Span]()
  @volatile private var current = 0L

  def open(kind: String, name: String, parent: Long, start: Long = now()): Span = {
    val s = new Span(nextId.incrementAndGet(), parent, kind, name, start)
    all.put(s.id, s)
    s
  }

  /** Run `body` inside a new span whose Spark jobs carry its tag. */
  def within[T](kind: String, name: String, parent: Long)(body: Span => T): T = {
    val s = open(kind, name, parent)
    val tag = s"pb-${s.id}"
    val sc = spark.sparkContext
    val outer = current
    current = s.id
    sc.addJobTag(tag)
    try body(s) finally {
      sc.removeJobTag(tag)
      current = outer
      s.end = now()
    }
  }

  def spans: Seq[Span] = all.values.asScala.toSeq.sortBy(_.id)

  private val jobSpans = new ConcurrentHashMap[Int, Span]()
  private val stageJob = new ConcurrentHashMap[Int, Span]()
  private val stageSpans = new ConcurrentHashMap[Int, Span]()
  private val streamQuery = new ConcurrentHashMap[java.util.UUID, Long]()
  private val execSpan = new ConcurrentHashMap[Long, Long]()
  private val execStats = new ConcurrentHashMap[Long, Map[String, Double]]()
  // QueryExecution.id is not the SQL execution id. This listener and the
  // session's execution-listener bus sit on Spark's shared event queue, this
  // one registered first, so each SQLExecutionEnd reaches onOtherEvent just
  // before onSuccess runs for the same execution on the same thread.
  @volatile private var lastEnded = -1L

  // nested spans add nested tags; the innermost (newest) span owns the job
  private def innermost(tags: Iterable[String]): Option[Long] =
    tags.filter(_.startsWith("pb-")).map(_.stripPrefix("pb-").toLong).maxOption

  private def spanOfTags(props: java.util.Properties): Option[Long] =
    Option(props).flatMap(p => Option(p.getProperty("spark.job.tags")))
      .flatMap(t => innermost(t.split(",")))

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      spanOfTags(e.properties).foreach { parent =>
        val s = open("job", s"job ${e.jobId}", parent, e.time * 1000000L)
        if (e.properties.getProperty("sql.streaming.queryId") != null)
          s.add("streaming", 1)
        jobSpans.put(e.jobId, s)
        e.stageIds.foreach(id => stageJob.put(id, s))
      }

    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobSpans.get(e.jobId)).foreach(_.end = e.time * 1000000L)

    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      Option(stageJob.get(e.stageInfo.stageId)).foreach { job =>
        val info = e.stageInfo
        val start = info.submissionTime.getOrElse(System.currentTimeMillis())
        val s = open("stage", s"stage ${info.stageId}", job.id, start * 1000000L)
        if (info.parentIds.nonEmpty) s.add("reads_shuffle", 1)
        stageSpans.put(info.stageId, s)
      }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Option(stageSpans.get(e.stageInfo.stageId)).foreach { s =>
        s.end = e.stageInfo.completionTime.getOrElse(System.currentTimeMillis()) * 1000000L
        s.add("tasks", e.stageInfo.numTasks)
      }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageSpans.get(e.stageId)).foreach { s =>
        val m = e.taskMetrics
        if (m != null) {
          s.add("task_run_ms", m.executorRunTime)
          s.add("task_cpu_ns", m.executorCpuTime)
          s.add("scan_bytes", m.inputMetrics.bytesRead)
          s.add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten)
          s.add("shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead)
          s.add("fetch_wait_ms", m.shuffleReadMetrics.fetchWaitTime)
          s.add("spill_bytes", m.memoryBytesSpilled + m.diskBytesSpilled)
          s.max("peak_exec_mem_bytes", m.peakExecutionMemory)
        }
      }

    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case x: SparkListenerSQLExecutionStart =>
        innermost(x.jobTags).foreach(execSpan.put(x.executionId, _))
      case x: SparkListenerSQLExecutionEnd => lastEnded = x.executionId
      case _ =>
    }
  }

  private val executionListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val phases = qe.tracker.phases
      def ms(p: String) = phases.get(p).map(_.durationMs.toDouble).getOrElse(0.0)
      val nodes = Tracer.planNodes(qe.executedPlan)
      execStats.put(lastEnded, Map(
        "analysis_ms" -> ms("analysis"),
        "optimization_ms" -> ms("optimization"),
        "planning_ms" -> ms("planning"),
        "exchanges" -> nodes.count(_.isInstanceOf[ShuffleExchangeLike]).toDouble,
        "broadcasts" -> nodes.count(_.isInstanceOf[BroadcastExchangeLike]).toDouble))
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  private val streamingListener = new StreamingQueryListener {
    // delivered synchronously on the thread that starts the query (while the
    // starting span is still current) and again later through the bus
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = {
      val q = current
      if (q != 0 && streamQuery.putIfAbsent(e.runId, q) == 0L)
        Option(all.get(q)).foreach(_.add("streaming_queries", 1))
    }

    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      Option(streamQuery.get(p.runId)).foreach { parent =>
        val d = p.durationMs.asScala.map { case (k, v) => k -> v.doubleValue }
        val start = java.time.Instant.parse(p.timestamp)
        val startNs = start.getEpochSecond * 1000000000L + start.getNano
        val s = open("microbatch", s"${p.runId} ${p.batchId}", parent, startNs)
        s.end = startNs + (d.getOrElse("triggerExecution", 0.0) * 1e6).toLong
        d.foreach { case (k, v) => s.add(s"$k.ms", v) }
        s.add("input_rows", p.numInputRows)
        p.stateOperators.foreach { op =>
          s.add("state_instances", op.numStateStoreInstances)
          s.add("state_commit_ms", op.commitTimeMs)
          s.add("state_rows", op.numRowsTotal)
          s.add("state_bytes", op.memoryUsedBytes)
          s.add("late_dropped", op.numRowsDroppedByWatermark)
        }
      }
    }

    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  spark.sparkContext.addSparkListener(sparkListener)
  spark.listenerManager.register(executionListener)
  spark.streams.addListener(streamingListener)

  /** Attach each SQL execution's planning phases and exchange counts to the
    * span that submitted it. Call after the listener buses have drained. */
  def attributeExecutions(): Unit =
    execStats.asScala.foreach { case (exec, stats) =>
      Option(execSpan.get(exec)).flatMap(id => Option(all.get(id)))
        .foreach(s => stats.foreach { case (k, v) => s.add(k, v) })
    }
}

object Tracer {
  /** Every node of an executed plan, looking through adaptive wrappers and
    * query stages; a reused exchange is not counted a second time. */
  def planNodes(p: SparkPlan): Seq[SparkPlan] = {
    val kids = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case s: QueryStageExec => Seq(s.plan)
      case _: ReusedExchangeExec => Nil
      case o => o.children ++ o.subqueries
    }
    p +: kids.flatMap(planNodes)
  }
}
