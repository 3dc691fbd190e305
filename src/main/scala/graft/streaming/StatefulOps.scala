package graft.streaming

import scala.collection.mutable
import scala.reflect.runtime.universe.TypeTag

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import EventStream.EventRow

/** Custom stateful operators over `flatMapGroupsWithState` — the pieces
  * Structured Streaming lacks natively (SURVEY §7.4 "custom" rows). The
  * reference's custom windowing surface runs on three per-key runtimes:
  *
  *  - [[triggeredGlobalWindows]]: GlobalWindows + [[WindowTrigger]] +
  *    [[Evictor]]. Count windows (reference `KeyedStream.countWindow`,
  *    `KeyedStream.java:403`/`:425`) are its count trigger/evictor
  *    compositions;
  *  - [[over]]: streaming OVER aggregation (reference
  *    `DataStreamOverAggregate`, `DataStreamOverAggregate.scala:45`), the
  *    {Rows,Range} × {Bounded,Unbounded} × {row-time,proc-time} matrix as
  *    an [[Order]] and a [[Frame]];
  *  - [[punctuatedLateTag]]: punctuated watermarks.
  *
  * Determinism contract: under [[Order.EventTime]] a key's new events are
  * sorted by (ts, event_id) within each micro-batch before entering the
  * state machine; results equal the batch computation when input batches
  * arrive in event-time order (or in a single batch). Per-key state is
  * O(1) for unbounded OVER frames (counters + accumulator), O(frame) for
  * bounded ones and O(window) for the triggered windows.
  */
object StatefulOps {

  /** User-defined aggregate with RETRACTION (reference
    * `flink-table/.../functions/AggregateFunction.java` —
    * createAccumulator/accumulate/retract/getValue; `retract` is what the
    * bounded-OVER and retract-stream runtimes demand of a UDAGG). The
    * contract: retraction must be exact under add-then-subtract, so
    * accumulator state should be integer/decimal, never floats. [[over]]
    * keeps the accumulator in its per-key state, so `Acc` and `Out` must
    * be Spark-encodable (a primitive, tuple or case class). */
  trait RetractableAggregateFunction[In, Acc, Out] extends Serializable {
    def createAccumulator(): Acc
    def accumulate(acc: Acc, in: In): Acc
    def retract(acc: Acc, in: In): Acc
    def getValue(acc: Acc): Out
  }

  /** (count, sum) over integer cents — the built-in OVER aggregate
    * (reference CountAggFunction + SumAggFunction pairing in
    * `RowTimeBoundedRangeOver`). */
  object CountSumCents
    extends RetractableAggregateFunction[Long, (Long, Long), (Long, Long)] {
    override def createAccumulator(): (Long, Long) = (0L, 0L)
    override def accumulate(acc: (Long, Long), c: Long): (Long, Long) =
      (acc._1 + 1, acc._2 + c)
    override def retract(acc: (Long, Long), c: Long): (Long, Long) =
      (acc._1 - 1, acc._2 - c)
    override def getValue(acc: (Long, Long)): (Long, Long) = acc
  }

  /** Per-key processing order within a micro-batch. */
  sealed trait Order
  object Order {
    /** Sorted by (ts, event_id): results are a pure function of the data. */
    case object EventTime extends Order
    /** As the rows arrive: processing-time semantics, spec-verified under
      * controlled MemoryStream batches rather than by the value oracle. */
    case object Arrival extends Order
  }

  private def inOrder(order: Order, it: Iterator[EventRow]): Vector[EventRow] =
    order match {
      case Order.EventTime => it.toVector.sortBy(e => (e.ts.getTime, e.event_id))
      case Order.Arrival   => it.toVector
    }

  private def cents(e: EventRow): Long = math.round(e.value * 100)

  // ---- GlobalWindows + Trigger + Evictor ----------------------------------

  /** Per-key window contents (event-time ms, cents), windows fired so far
    * and arrivals since the last fire. */
  case class WindowState(ts: List[Long], cents: List[Long], fired: Long,
                         sinceFire: Long)
  case class WindowOut(user_id: Long, win_idx: Long, n_events: Int,
                       sum_cents: Long)

  /** Pre-aggregation window evictors (reference `windowing/evictors/` —
    * `Evictor.java`, `TimeEvictor.java`, `CountEvictor.java`,
    * `DeltaEvictor.java`): run before the window function and shrink what
    * it sees; window ASSIGNMENT is unchanged — exactly the reference
    * contract. Elements are the window's (event-time ms, integer cents). */
  sealed trait Evictor extends Serializable {
    def evict(win: Seq[(Long, Long)]): Seq[(Long, Long)]
  }

  /** Drop elements older than (window max timestamp − maxAge). */
  final case class TimeEvictor(maxAgeMs: Long) extends Evictor {
    override def evict(win: Seq[(Long, Long)]): Seq[(Long, Long)] = {
      val cutoff = win.map(_._1).max - maxAgeMs
      win.filter(_._1 >= cutoff)
    }
  }

  /** Keep only the LAST maxCount elements (reference CountEvictor keeps
    * from the end of the buffer). */
  final case class CountEvictor(maxCount: Int) extends Evictor {
    require(maxCount >= 1, s"CountEvictor maxCount must be >= 1, got $maxCount")
    override def evict(win: Seq[(Long, Long)]): Seq[(Long, Long)] =
      win.takeRight(maxCount)
  }

  /** Evict elements whose |value delta| from the window's last element
    * reaches the threshold (reference DeltaEvictor: evicts where
    * deltaFunction(element, last) >= threshold). */
  final case class DeltaEvictor(thresholdCents: Long) extends Evictor {
    override def evict(win: Seq[(Long, Long)]): Seq[(Long, Long)] = {
      val last = win.last._2
      win.filter(e => (e._2 - last).abs < thresholdCents)
    }
  }

  /** Per-element trigger decisions (reference `windowing/triggers/
    * Trigger.java` → `TriggerResult.java`: CONTINUE / FIRE /
    * FIRE_AND_PURGE / PURGE). */
  sealed trait TriggerResult
  case object Continue extends TriggerResult
  case object Fire extends TriggerResult
  case object FireAndPurge extends TriggerResult
  case object Purge extends TriggerResult

  /** `onElement` sees the window contents with the new element already
    * appended — the reference's element-then-decide order — and the
    * number of arrivals since the last fire, the new one included. */
  trait WindowTrigger extends Serializable {
    def onElement(win: Seq[(Long, Long)], sinceFire: Long): TriggerResult
  }

  /** reference `CountTrigger.java` — fire every n-th element: the count is
    * the reference's arrival counter, which clears on fire while a
    * non-purged window keeps its contents (GlobalWindows + CountTrigger
    * grows unboundedly unless an evictor trims it). */
  final case class CountFireTrigger(n: Int, purge: Boolean = true)
    extends WindowTrigger {
    require(n >= 1, s"CountFireTrigger n must be >= 1, got $n")
    override def onElement(win: Seq[(Long, Long)], sinceFire: Long): TriggerResult =
      if (sinceFire < n) Continue else if (purge) FireAndPurge else Fire
  }

  /** reference `DeltaTrigger.java` — fire when the arriving element's
    * value deviates from the window's first element by at least the
    * threshold (pinned anchor: the window head — deterministic and
    * state-free, where the reference anchors on its stored last-fired
    * element). */
  final case class DeltaFireTrigger(thresholdCents: Long)
    extends WindowTrigger {
    override def onElement(win: Seq[(Long, Long)], sinceFire: Long): TriggerResult =
      if ((win.last._2 - win.head._2).abs >= thresholdCents) FireAndPurge
      else Continue
  }

  /** GlobalWindows + custom [[WindowTrigger]] (+ optional [[Evictor]]) —
    * the reference's fully-custom windowing triple
    * (`GlobalWindows.java` assigner, `Trigger.java`, `Evictor.java`):
    * elements accumulate per key in (ts, event_id) order until the trigger
    * fires; FIRE emits the (evicted) window aggregate and keeps the
    * contents, FIRE_AND_PURGE emits and clears, PURGE clears silently.
    * Evicted elements leave the window state too, as in the reference's
    * evicting window operator (FLINK-4369).
    *
    * Count windows are compositions: tumbling `countWindow(size)` is
    * `CountFireTrigger(size)`; sliding `countWindow(size, slide)` is
    * `CountFireTrigger(slide, purge = false)` + `CountEvictor(size)`, whose
    * state stays at most size + slide − 1 elements per key. */
  def triggeredGlobalWindows(events: Dataset[EventRow],
                             trigger: WindowTrigger,
                             evictor: Option[Evictor] = None)
      : Dataset[WindowOut] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (key: Long, it: Iterator[EventRow], state: GroupState[WindowState]) =>
          val prev = state.getOption.getOrElse(WindowState(Nil, Nil, 0L, 0L))
          var win = prev.ts.zip(prev.cents).toVector
          var fired = prev.fired
          var since = prev.sinceFire
          val out = Vector.newBuilder[WindowOut]
          def fire(): Unit = {
            evictor.foreach(ev => win = ev.evict(win).toVector)
            out += WindowOut(key, fired, win.length, win.map(_._2).sum)
            fired += 1
            since = 0
          }
          inOrder(Order.EventTime, it).foreach { e =>
            win :+= (e.ts.getTime -> cents(e))
            since += 1
            trigger.onElement(win, since) match {
              case Continue     =>
              case Purge        => win = Vector.empty
              case Fire         => fire()
              case FireAndPurge => fire(); win = Vector.empty
            }
          }
          state.update(WindowState(win.map(_._1).toList, win.map(_._2).toList,
            fired, since))
          out.result().iterator
      }
  }

  // ---- streaming OVER -----------------------------------------------------

  /** What shares one aggregate in an OVER frame. */
  sealed trait Peer
  object Peer {
    /** ROWS frames: every row is its own peer group. */
    case object Row extends Peer
    /** RANGE over event time: rows sharing a timestamp are peers
      * (standard SQL RANGE CURRENT ROW; the reference emits per timestamp
      * too). Needs [[Order.EventTime]]. */
    case object Timestamp extends Peer
    /** RANGE over processing time: a key's processing time is its
      * micro-batch number (counted over the batches that carry the key),
      * so all its rows of one batch are peers — the reference registers
      * one timer per proctime value and emits that timestamp's rows
      * together. Aging quiet keys would need a processing-time timeout. */
    case object MicroBatch extends Peer
  }

  /** OVER frame ending at the current peer group. `extent` is how far back
    * it reaches; None is UNBOUNDED PRECEDING. For [[Peer.Row]] it is the
    * number of rows in the frame, the current one included (≥ 1); for
    * [[Peer.Timestamp]] the milliseconds before the current timestamp
    * (≥ 0); for [[Peer.MicroBatch]] the micro-batches before the current
    * one (≥ 0). */
  final case class Frame(peer: Peer, extent: Option[Long]) {
    private def least = if (peer == Peer.Row) 1L else 0L
    extent.foreach(n =>
      require(n >= least, s"Frame($peer) extent must be >= $least, got $n"))
    /** How far a frame row's peer key may trail the current peer's. */
    private[StatefulOps] def reach: Option[Long] = extent.map(_ - least)
  }

  /** Per-key OVER state: rows and micro-batches seen, the accumulator and,
    * for bounded frames only, the frame's rows as (peer key, cents). */
  case class OverState[A](rows: Long, batches: Long, acc: A,
                          frameKeys: List[Long], frameCents: List[Long])
  /** `row_no` numbers the key's rows in processing order from 1; `agg` is
    * the aggregate over the row's frame. */
  case class OverOut[V](event_id: Long, user_id: Long, row_no: Long, agg: V)

  /** Per-row aggregate over a per-key [[Frame]] in the given [[Order]] —
    * the reference's OVER runtimes (`flink-table/.../runtime/aggregate/`
    * RowTime{Unbounded,BoundedRows,BoundedRange}Over and
    * ProcTime{Unbounded,BoundedRows,BoundedRange}Over) as one state
    * machine. Each peer group's rows `accumulate` into the running
    * accumulator, rows that fall out of a bounded frame `retract` (integer
    * arithmetic, so add-then-subtract is exact), and every row of the
    * group gets the same value. Per-row cost is O(1 + evicted). State is
    * the accumulator and two counters for unbounded frames, plus the frame
    * rows — O(frame) — for bounded ones. */
  def over[Acc: TypeTag, Out: TypeTag](
      events: Dataset[EventRow], order: Order, frame: Frame,
      agg: RetractableAggregateFunction[Long, Acc, Out]): Dataset[OverOut[Out]] = {
    require(frame.peer != Peer.Timestamp || order == Order.EventTime,
      "over: Timestamp peers need Order.EventTime")
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (key: Long, it: Iterator[EventRow], state: GroupState[OverState[Acc]]) =>
          val prev = state.getOption
            .getOrElse(OverState(0L, 0L, agg.createAccumulator(), Nil, Nil))
          var rows = prev.rows
          var acc = prev.acc
          val batch = prev.batches + 1
          val buf = mutable.Queue.from(prev.frameKeys.zip(prev.frameCents))
          val sorted = inOrder(order, it)
          // peer groups in processing order, each with its peer key
          val groups = frame.peer match {
            case Peer.Row        =>
              sorted.zipWithIndex.map { case (e, i) => (rows + 1 + i, Vector(e)) }
            case Peer.Timestamp  => sorted.groupBy(_.ts.getTime).toVector.sortBy(_._1)
            case Peer.MicroBatch => Vector(batch -> sorted)
          }
          val out = Vector.newBuilder[OverOut[Out]]
          groups.foreach { case (cur, peers) =>
            peers.foreach { e =>
              acc = agg.accumulate(acc, cents(e))
              if (frame.extent.isDefined) buf += (cur -> cents(e))
            }
            frame.reach.foreach { r =>
              while (buf.nonEmpty && cur - buf.head._1 > r)
                acc = agg.retract(acc, buf.dequeue()._2)
            }
            val v = agg.getValue(acc)
            peers.foreach { e => rows += 1; out += OverOut(e.event_id, key, rows, v) }
          }
          state.update(OverState(rows, batch, acc, buf.map(_._1).toList,
            buf.map(_._2).toList))
          out.result().iterator
      }
  }

  // ---- punctuated watermarks ----------------------------------------------

  /** `wm_ms` is the watermark the row was judged against, None before the
    * key's first marker (the reference starts at Long.MIN_VALUE: nothing
    * is late). */
  case class PunctOut(event_id: Long, user_id: Long, wm_ms: Option[Long],
                      is_late: Boolean)

  /** Punctuated watermarks (reference `AssignerWithPunctuatedWatermarks` /
    * `TimestampsAndPunctuatedWatermarksOperator.java`): `punct` inspects
    * every record and may emit a watermark; the watermark only advances
    * (max), and — as in the reference, where the watermark is emitted
    * AFTER the element — a record is judged against the watermark
    * established by the records BEFORE it. Spark's own watermark stays
    * the derived global bound; what it cannot express is exactly this
    * per-record decision, reproduced here as a per-key state machine
    * (O(1) state: the current watermark). Under [[Order.EventTime]] the
    * watermark each record is judged against is a pure function of the
    * data, stateable as a SQL window with an exclusive upper frame bound;
    * under [[Order.Arrival]] it is arrival-order-defined. */
  def punctuatedLateTag(events: Dataset[EventRow], order: Order)
                       (punct: EventRow => Option[Long]): Dataset[PunctOut] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (key: Long, it: Iterator[EventRow], state: GroupState[Long]) =>
          var wm = state.getOption.getOrElse(Long.MinValue)
          val out = inOrder(order, it).map { e =>
            val row = PunctOut(e.event_id, key,
              Some(wm).filter(_ != Long.MinValue), e.ts.getTime < wm)
            punct(e).foreach(w => wm = math.max(wm, w))
            row
          }
          state.update(wm)
          out.iterator
      }
  }

  // ---- queryable state ----------------------------------------------------

  /** Point-in-time external view of a stateful query's keyed state — the
    * reference's `asQueryableState` (`KeyedStream.java:294`: expose keyed
    * state to out-of-band readers). Spark's analog is the state-store
    * DATA SOURCE: any stateful query that ran with a checkpoint location
    * exposes its per-key state as a batch DataFrame, readable while the
    * query runs or after it stops — reads go to the checkpoint files, so
    * they never contend with the hot path (the reference's queryable-state
    * server proxies live state instead; same contract, different
    * freshness: here the view is as-of the last committed batch). */
  def queryableState(spark: org.apache.spark.sql.SparkSession,
                     checkpointDir: String,
                     batchId: Option[Long] = None): DataFrame = {
    val r = spark.read.format("statestore")
    batchId.foreach(b => r.option("batchId", b))
    r.load(checkpointDir)
  }

  // ---- connected streams / CoProcessFunction ------------------------------

  /** Tagged element of a two-typed connected stream. */
  case class CoEvent[A, B](key: Long, ts: Long, seq: Long,
                           left: Option[A], right: Option[B])

  /** Connect two keyed streams and run a CoProcessFunction-style handler
    * with shared per-key state (reference `ConnectedStreams.java:58`,
    * `CoProcessFunction.java:48`). Implementation: tag-union the streams,
    * key by the shared key, and fold both element kinds through one
    * `flatMapGroupsWithState` machine in (ts, seq) order. */
  def coProcess[A, B, S, O](left: Dataset[CoEvent[A, B]],
                            right: Dataset[CoEvent[A, B]],
                            zero: S)
                           (onLeft: (S, A) => (S, Iterator[O]),
                            onRight: (S, B) => (S, Iterator[O]))
                           (implicit se: org.apache.spark.sql.Encoder[S],
                            oe: org.apache.spark.sql.Encoder[O],
                            ce: org.apache.spark.sql.Encoder[CoEvent[A, B]],
                            ke: org.apache.spark.sql.Encoder[Long]): Dataset[O] = {
    left.union(right)
      .groupByKey(_.key)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_: Long, it: Iterator[CoEvent[A, B]], state: GroupState[S]) =>
          var s = state.getOption.getOrElse(zero)
          val out = scala.collection.mutable.ArrayBuffer[O]()
          it.toSeq.sortBy(e => (e.ts, e.seq)).foreach { e =>
            val (s2, os) = (e.left, e.right) match {
              case (Some(a), _) => onLeft(s, a)
              case (_, Some(b)) => onRight(s, b)
              case _ => (s, Iterator.empty)
            }
            s = s2
            out ++= os
          }
          state.update(s)
          out.iterator
      }
  }

  // ---- event-time sorted emit (DataStreamSort subset) ---------------------

  case class SortedOut(user_id: Long, seq_no: Long, event_id: Long)
  case class SortBufState(ts: List[Long], ids: List[Long], emitted: Long)

  /** Ordered emission per key with WATERMARK hold-back (reference
    * DataStreamSort / `RowTimeSortProcessFunction`): rows buffer in state
    * and emit — with contiguous per-key sequence numbers — only once the
    * watermark passes their event time, so cross-batch out-of-order input
    * (within the watermark delay) is sequenced correctly.
    *
    * Mechanics: the batch-N watermark is computed from batch N−1, so rows
    * always buffer at least one micro-batch; an event-time timeout at
    * watermark+1 forces a callback when the watermark advances (including
    * the no-data batch AvailableNow runs before terminating, which with
    * `delay = 0 seconds` flushes everything — making the end-of-stream
    * result oracle-comparable). Requires `withWatermark` upstream. */
  def sortedEmit(events: Dataset[EventRow], delay: String = "0 seconds"): Dataset[SortedOut] =
    sortedEmitBy(events, delay)(_.user_id)

  /** GLOBAL time-ordered emit — the full DataStreamSort shape (`ORDER BY
    * rowtime, tiebreak` over the whole stream): the same hold-back
    * machinery with one synthetic key. A global total order has no
    * parallel form — the reference's sort runtime is parallelism-1 for
    * the same reason — so this is throughput-bounded by one state
    * partition BY THE SEMANTICS; prefer the keyed [[sortedEmit]] whenever
    * a key exists. Output key column is the constant 0. */
  def sortedEmitGlobal(events: Dataset[EventRow],
                       delay: String = "0 seconds"): Dataset[SortedOut] =
    sortedEmitBy(events, delay)(_ => 0L)

  private def sortedEmitBy(events: Dataset[EventRow], delay: String)
                          (keyFn: EventRow => Long): Dataset[SortedOut] = {
    import events.sparkSession.implicits._
    events.withWatermark("ts", delay)
      .groupByKey(keyFn)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (key: Long, it: Iterator[EventRow], state: GroupState[SortBufState]) =>
          val prev = state.getOption.getOrElse(SortBufState(Nil, Nil, 0L))
          val wm = state.getCurrentWatermarkMs()
          val all = (prev.ts.zip(prev.ids) ++
            it.map(e => (e.ts.getTime, e.event_id))).sorted
          val (ready, hold) = all.partition { case (t, _) => t <= wm }
          val out = ready.zipWithIndex.map { case ((_, id), i) =>
            SortedOut(key, prev.emitted + i + 1, id)
          }
          state.update(SortBufState(hold.map(_._1), hold.map(_._2),
            prev.emitted + ready.length))
          if (hold.nonEmpty) state.setTimeoutTimestamp(wm + 1)
          out.iterator
      }
  }

  case class TaggedEvent(event_id: Long, user_id: Long, is_late: Boolean)

  /** Late-data side output (reference `WindowedStream.sideOutputLateData`,
    * `flink-streaming-java/.../datastream/WindowedStream.java:184`): rows
    * whose event time is already behind the watermark when they arrive are
    * TAGGED instead of silently dropped — Flink's side output becomes a
    * boolean route column, demuxed by `filter` (exactly how split/select
    * maps too). Spark exposes the running watermark to stateful operators
    * (`GroupState.getCurrentWatermarkMs`), which is all the mechanism the
    * semantics needs; downstream windowed aggs see only the on-time rows.
    * State: none (the decision is per-row against the global watermark). */
  def withLateTag(events: Dataset[EventRow]): Dataset[TaggedEvent] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (key: Long, it: Iterator[EventRow], state: GroupState[Long]) =>
          val wm = state.getCurrentWatermarkMs()
          it.map(e => TaggedEvent(e.event_id, key, e.ts.getTime < wm)).toVector
            .iterator
      }
  }
}
