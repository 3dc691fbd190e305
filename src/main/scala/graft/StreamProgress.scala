package graft

import java.util.UUID
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StateOperatorProgress, StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.streaming.StreamingQueryListener._

/** The micro-batch progress Spark already reports, kept per streaming query
  * run: every [[StreamingQueryProgress]] (its `durationMs` split —
  * addBatch, triggerExecution, walCommit, commitOffsets, latestOffset… —
  * `numInputRows`, and per state operator `commitTimeMs`, `numRowsTotal`,
  * `memoryUsedBytes`, `numShufflePartitions`, `numRowsDroppedByWatermark`).
  *
  * Attribution is by time window, not by operator: [[mark]] before a row,
  * [[since]] after it returns the runs started in between, once each has
  * delivered its `QueryTerminatedEvent` (the bus delivers a query's events
  * in order, so termination means its progress is complete). Nothing in the
  * operators knows about it; only [[Probe]], [[Bench]] and specs attach one.
  */
final class StreamProgress private (spark: SparkSession)
    extends StreamingQueryListener {
  import StreamProgress.Run

  private val started = new AtomicLong()
  private val runs = new ConcurrentHashMap[UUID, Run]()

  // delivered synchronously before `start()` returns, so a query started
  // after `mark()` always gets a later sequence number
  override def onQueryStarted(e: QueryStartedEvent): Unit =
    runs.putIfAbsent(e.runId, new Run(started.incrementAndGet(), e.runId, e.name))

  override def onQueryProgress(e: QueryProgressEvent): Unit =
    Option(runs.get(e.progress.runId)).foreach(_.events.add(e.progress))

  override def onQueryTerminated(e: QueryTerminatedEvent): Unit =
    Option(runs.get(e.runId)).foreach(_.done = true)

  def mark(): Long = started.get()

  /** The runs started after `mark`, in start order, once all have
    * terminated or 60 s passed (a run still active then is returned as it
    * stands, with a warning). Records at or before `mark` are dropped: a
    * later call can no longer ask for them. */
  def since(mark: Long): Seq[Run] = {
    def after = runs.values.asScala.filter(_.seq > mark).toSeq.sortBy(_.seq)
    val deadline = System.nanoTime() + 60000000000L
    while (after.exists(!_.terminated) && System.nanoTime() < deadline)
      Thread.sleep(5)
    val out = after
    out.filterNot(_.terminated).foreach(r =>
      System.err.println(s"[stream-progress] ${r.name} still active after 60 s"))
    runs.values.removeIf(_.seq <= mark)
    out
  }

  def detach(): Unit = spark.streams.removeListener(this)
}

object StreamProgress {
  def attach(spark: SparkSession): StreamProgress = {
    val l = new StreamProgress(spark)
    spark.streams.addListener(l)
    l
  }

  final class Run(val seq: Long, val runId: UUID, val name: String) {
    private[StreamProgress] val events =
      new ConcurrentLinkedQueue[StreamingQueryProgress]()
    @volatile private[StreamProgress] var done = false
    /** Its `QueryTerminatedEvent` arrived: [[progress]] is complete. */
    def terminated: Boolean = done
    def progress: Seq[StreamingQueryProgress] = events.asScala.toSeq
  }

  /** Sums over the micro-batches of a row's runs. `stateInstances` counts
    * state-store commits (operators × partitions × batches); those run in
    * parallel, so `stateCommitMs` is CPU-like and can exceed the wall. */
  final case class Totals(batches: Long, addBatchMs: Long, overheadMs: Long,
                          stateCommitMs: Long, stateInstances: Long,
                          lateDropped: Long)

  def durationMs(p: StreamingQueryProgress, key: String): Long =
    Option(p.durationMs.get(key)).fold(0L)(_.longValue)

  def totals(runs: Seq[Run]): Totals = {
    val ps = runs.flatMap(_.progress)
    def ops(f: StateOperatorProgress => Long) =
      ps.map(_.stateOperators.map(f).sum).sum
    val addBatch = ps.map(durationMs(_, "addBatch")).sum
    Totals(ps.size, addBatch,
      math.max(0L, ps.map(durationMs(_, "triggerExecution")).sum - addBatch),
      ops(_.commitTimeMs), ops(_.numStateStoreInstances.toLong),
      ops(_.numRowsDroppedByWatermark))
  }
}
