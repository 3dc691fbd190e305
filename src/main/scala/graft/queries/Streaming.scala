package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.streaming.{BroadcastedSideInput, EventStream, ForwardedSideInput, KeyedSideInput, SideInput, StatefulOps}
import graft.streaming.StatefulOps.{CountEvictor, CountFireTrigger, CountSumCents, DeltaEvictor, Frame, Order, Peer, TimeEvictor}
import Exact.dec2

/** Structured Streaming inventory (SURVEY §2.2 / M3-M4) — every query runs a
  * REAL streaming query (file source → state → memory sink,
  * Trigger.AvailableNow) whose end-of-stream result equals the batch
  * semantics, so the DuckDB oracle pins streaming correctness exactly.
  *
  * Incremental multi-batch behavior (watermarks dropping late data,
  * cross-batch state) is covered by StreamingSpec with MemoryStream.
  */
object Streaming extends QuerySet {

  import EventStream.EventRow

  private def events(s: SparkSession, dir: String): DataFrame =
    EventStream.read(s, dir)

  private def cents(c: String) = expr(s"CAST(round($c * 100) AS BIGINT)")

  /** Event-time streaming OVER with the built-in (count, sum) aggregate,
    * renamed to the row's oracle columns: `cnt` maps `row_no` (the running
    * row number) or `agg._1` (the frame count) to its name, `sumAs` names
    * the frame sum. */
  private def overCountSum(s: SparkSession, dir: String, frame: Frame,
                           cnt: (String, String), sumAs: String): DataFrame = {
    import s.implicits._
    StatefulOps.over(events(s, dir).as[EventRow], Order.EventTime, frame,
      CountSumCents)
      .select(col("event_id"), col("user_id"), col(cnt._1).as(cnt._2),
        col("agg._2").as(sumAs))
  }

  override def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // tumbling event-time window aggregate (DataStreamGroupWindowAggregate)
    "stream_tumble_agg" -> ((s, dir) => {
      val agg = events(s, dir)
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n"), sum(cents("value")).as("sum_cents"))
        .select(col("window.start").as("w_start"), col("window.end").as("w_end"),
          col("event_type"), col("n"), col("sum_cents"))
      EventStream.runToTable(s, agg, "complete")
    }),

    // APPEND-mode tumbling aggregate over the REAL 4-batch replay: a
    // window emits exactly once, when the advancing watermark finalizes
    // it — the reference's event-time window firing, end-to-end through
    // watermark propagation instead of complete-mode re-emission. At
    // end-of-stream the final watermark is max(ts) − 10 min, so windows
    // ending after it (the stream's last hour) are NOT emitted — the
    // oracle states that cutoff explicitly.
    "stream_tumble_append" -> ((s, dir) => {
      val agg = EventStream.readMultiBatch(s, dir)
        .withWatermark("ts", "10 minutes")
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n"), sum(cents("value")).as("sum_cents"))
        .select(col("window.start").as("w_start"), col("window.end").as("w_end"),
          col("event_type"), col("n"), col("sum_cents"))
      EventStream.runToTable(s, agg, "append")
    }),

    // sliding event-time windows on the stream (window assigner family's
    // third member — tumble and session have rows above/below): 1 h
    // windows every 15 min, each purchase lands in 4 overlapping windows
    "stream_slide_agg" -> ((s, dir) => {
      val agg = events(s, dir).filter(col("event_type") === "purchase")
        .groupBy(window(col("ts"), "1 hour", "15 minutes"))
        .agg(count(lit(1)).as("n"), sum(cents("value")).as("sum_cents"))
        .select(col("window.start").as("w_start"), col("window.end").as("w_end"),
          col("n"), col("sum_cents"))
      EventStream.runToTable(s, agg, "complete")
    }),

    // unbounded keyed running aggregate (DataStreamGroupAggregate) — the
    // end-of-stream value of the update stream
    "stream_running_agg" -> ((s, dir) => {
      val agg = events(s, dir)
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n"), sum(cents("value")).as("sum_cents"))
      EventStream.runToTable(s, agg, "complete")
    }),

    // connected streams / CoProcessFunction (reference
    // `ConnectedStreams.java:58`, `CoProcessFunction.java:48`) with a
    // value oracle: clicks and purchases connect on user_id; the shared
    // per-key state is the running (count, cents) of purchases, and
    // each click emits the purchases seen strictly before it in
    // (ts, event_id) order. The single-batch AvailableNow replay makes
    // the per-key processing order globally (ts, seq)-sorted, so a SQL
    // window states the result exactly.
    "stream_coprocess_enrich" -> ((s, dir) => {
      import s.implicits._
      import graft.streaming.StatefulOps.CoEvent
      val ev = events(s, dir).as[EventRow]
      def micros(t: java.sql.Timestamp): Long =
        t.getTime * 1000L + (t.getNanos / 1000L) % 1000L
      val clicks = ev.filter(_.event_type == "click").map(e =>
        CoEvent[(Long, Long), Long](e.user_id, micros(e.ts), e.event_id,
          Some((e.event_id, e.user_id)), None))
      // HALF_UP (away-from-zero on ties) matches SQL round() on BOTH
      // engines for negative values too — Math.round (floor(x+0.5))
      // would diverge on a negative .5 tie if the fixture ever gains
      // refund-style values
      val purchases = ev.filter(_.event_type == "purchase").map(e =>
        CoEvent[(Long, Long), Long](e.user_id, micros(e.ts), e.event_id,
          None, Some(BigDecimal(e.value * 100)
            .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong)))
      val out = StatefulOps.coProcess[
          (Long, Long), Long, (Long, Long), (Long, Long, Long, Long)](
        clicks, purchases, zero = (0L, 0L))(
        onLeft = (st, a) => (st, Iterator.single((a._1, a._2, st._1, st._2))),
        onRight = (st, cents) => ((st._1 + 1, st._2 + cents), Iterator.empty))
      EventStream.runToTable(s,
        out.toDF("click_id", "user_id", "purchases_before", "p_sum_cents"),
        "append")
    }),

    // queryable state (reference `KeyedStream.asQueryableState`,
    // KeyedStream.java:745-812): a keyed aggregation's state read back
    // OUT-OF-BAND through the state-store source, not through the query's
    // own sink. The sink here is noop — every emitted row is discarded —
    // so the only way these values can be correct is if the per-key STATE
    // in the checkpoint matches the batch aggregate, which is exactly the
    // queryable-state contract. Reads hit checkpoint files, never the hot
    // path (the reference proxies live state; same contract, the view here
    // is as-of the last committed batch).
    "stream_queryable_state" -> ((s, dir) => {
      val ckpt = graft.sources.StagingFs.newStageDir(s, "graft-qstate")
      val agg = events(s, dir)
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n"), sum(cents("value")).as("sum_cents"))
      EventStream.start(s, agg.writeStream.format("noop").outputMode("update")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()),
        statePartitions = 8, checkpoint = Some(ckpt))(_.awaitTermination())
      // state buffer fields for count/sum are named `count`/`sum`
      StatefulOps.queryableState(s, ckpt)
        .select(col("key.user_id").as("user_id"),
          col("value.count").as("n"), col("value.sum").as("sum_cents"))
    }),

    // session windows with 30-minute gap (merging session state)
    "stream_session" -> ((s, dir) => {
      val agg = events(s, dir)
        .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
        .agg(count(lit(1)).as("n"), sum(cents("value")).as("sum_cents"))
        .select(col("session_window.start").as("w_start"),
          col("session_window.end").as("w_end"),
          col("user_id"), col("n"), col("sum_cents"))
      EventStream.runToTable(s, agg, "complete")
    }),

    // APPEND-mode merging session windows over the REAL 4-batch replay:
    // sessions merge in the state store across micro-batches and emit
    // exactly once, when the advancing watermark passes their end
    // (last event + gap). The hardest streaming state path — cross-batch
    // session MERGE + watermark finalization — under a value oracle; the
    // end-of-stream cutoff (sessions ending after max(ts) − 10 min stay
    // unemitted) is stated by the oracle explicitly.
    "stream_session_append" -> ((s, dir) => {
      val agg = EventStream.readMultiBatch(s, dir)
        .withWatermark("ts", "10 minutes")
        .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
        .agg(count(lit(1)).as("n"), sum(cents("value")).as("sum_cents"))
        .select(col("session_window.start").as("w_start"),
          col("session_window.end").as("w_end"),
          col("user_id"), col("n"), col("sum_cents"))
      // session family sizes itself from replay volume (the r11 ladder
      // rule as code: rows/62.5k clamped to [4, 2·cores]); at fixture
      // scale this derives the same 4 the row was tuned to, at 1M/10M it
      // derives the ladder optimum (16/32) instead of throttling at 4.
      // Every stream start merges sessions inside each input partition
      // BEFORE the keyed exchange (r14; guide §2.3 "aggregate before you
      // shuffle" for merging windows) — fewer rows shuffled and fewer
      // session-store merge rows per batch; count/sum are associative so
      // the merged result is identical (oracle-pinned).
      EventStream.runToTable(s, agg, "append",
        statePartitions = EventStream.derivedStatePartitions("session",
          graft.operators.PartitionOps.fixtureRows(s, dir, "events")))
    }),

    // keyed side input (PROTEUS): stream–static equi join enrichment
    "stream_static_join" -> ((s, dir) => {
      val side = KeyedSideInput(
        Tables.load(s, dir, "customer")
          .select(col("c_custkey").as("user_id"), col("c_mktsegment")),
        Seq("user_id"))
      val joined = SideInput.withSideInput(events(s, dir), side)
        .select(col("event_id"), col("user_id"), col("c_mktsegment"))
      EventStream.runToTable(s, joined, "append")
    }),

    // forwarded side input (PROTEUS): the side arrives pre-distributed
    // (caller's repartition stands in for the upstream keyBy the
    // reference forwards from) and must not be moved again — no
    // broadcast, no fresh keyBy; values identical to the keyed variant
    "stream_forwarded_side" -> ((s, dir) => {
      val side = ForwardedSideInput(
        Tables.load(s, dir, "customer")
          .select(col("c_custkey").as("user_id"), col("c_nationkey"))
          .repartition(col("user_id")),
        Seq("user_id"))
      val joined = SideInput.withSideInput(events(s, dir), side)
        .select(col("event_id"), col("user_id"), col("c_nationkey"))
      EventStream.runToTable(s, joined, "append")
    }),

    // broadcast side input (PROTEUS): replicated small table + left join
    "stream_broadcast_side" -> ((s, dir) => {
      val building = Tables.load(s, dir, "customer")
        .filter(col("c_mktsegment") === "BUILDING")
        .select(col("c_custkey"))
      val joined = SideInput.withSideInput(events(s, dir),
          BroadcastedSideInput(building),
          Some(col("user_id") === col("c_custkey")), "left_outer")
        .select(col("event_id"), col("user_id"),
          col("c_custkey").isNotNull.as("is_building"))
      EventStream.runToTable(s, joined, "append")
    }),

    // interval (time-bounded) stream-stream join: click → purchase within
    // 10 minutes, same user (DataStreamWindowJoin)
    "stream_interval_join" -> ((s, dir) => {
      val clicks = events(s, dir).filter(col("event_type") === "click")
        .withWatermark("ts", "10 minutes")
        .select(col("event_id").as("click_id"), col("user_id"),
          col("ts").as("click_ts"))
      val purchases = events(s, dir).filter(col("event_type") === "purchase")
        .withWatermark("ts", "10 minutes")
        .select(col("event_id").as("purchase_id"),
          col("user_id").as("p_user_id"), col("ts").as("purchase_ts"))
      val joined = clicks.join(purchases,
        col("user_id") === col("p_user_id") &&
          col("purchase_ts") >= col("click_ts") &&
          col("purchase_ts") <= col("click_ts") + expr("INTERVAL 10 MINUTES"))
        .select(col("click_id"), col("purchase_id"), col("user_id"))
      // INNER interval join, single-batch replay: every match emits in the
      // data batch; the trailing no-data micro-batch only advances the
      // watermark for state EVICTION (no outer side to emit) and the query
      // terminates right after — skipping it drops a full state-commit
      // round with identical output (the multibatch row's argument, r13/r14)
      EventStream.runToTable(s, joined, "append",
        noDataMicroBatches = false)
    }),

    // stream-stream LEFT OUTER interval join (Flink CoGroupedStreams outer
    // window join): matched pairs emit immediately; unmatched clicks emit
    // their null row when the global watermark passes click_ts + upper
    // bound — i.e. once the state store can prove no purchase can arrive.
    // The oracle mirrors that: wm = min(max click ts, max purchase ts) −
    // 10 min delay, outer rows appear iff click_ts + 10 min < wm
    "stream_interval_join_left" -> ((s, dir) => {
      val clicks = events(s, dir).filter(col("event_type") === "click")
        .withWatermark("ts", "10 minutes")
        .select(col("event_id").as("click_id"), col("user_id"),
          col("ts").as("click_ts"))
      val purchases = events(s, dir).filter(col("event_type") === "purchase")
        .withWatermark("ts", "10 minutes")
        .select(col("event_id").as("purchase_id"),
          col("user_id").as("p_user_id"), col("ts").as("purchase_ts"))
      val joined = clicks.join(purchases,
        col("user_id") === col("p_user_id") &&
          col("purchase_ts") >= col("click_ts") &&
          col("purchase_ts") <= col("click_ts") + expr("INTERVAL 10 MINUTES"),
        "leftOuter")
        .select(col("click_id"),
          coalesce(col("purchase_id"), lit(-1L)).as("purchase_id"),
          col("user_id"))
      EventStream.runToTable(s, joined, "append")
    }),

    // RIGHT OUTER interval join: unmatched purchases emit once the
    // watermark passes their own timestamp (no later click can precede
    // them within the interval)
    "stream_interval_join_right" -> ((s, dir) => {
      val clicks = events(s, dir).filter(col("event_type") === "click")
        .withWatermark("ts", "10 minutes")
        .select(col("event_id").as("click_id"), col("user_id"),
          col("ts").as("click_ts"))
      val purchases = events(s, dir).filter(col("event_type") === "purchase")
        .withWatermark("ts", "10 minutes")
        .select(col("event_id").as("purchase_id"),
          col("user_id").as("p_user_id"), col("ts").as("purchase_ts"))
      val joined = clicks.join(purchases,
        col("user_id") === col("p_user_id") &&
          col("purchase_ts") >= col("click_ts") &&
          col("purchase_ts") <= col("click_ts") + expr("INTERVAL 10 MINUTES"),
        "rightOuter")
        .select(coalesce(col("click_id"), lit(-1L)).as("click_id"),
          col("purchase_id"), col("p_user_id").as("user_id"))
      EventStream.runToTable(s, joined, "append")
    }),

    // FULL OUTER interval join: adds unmatched purchases, evicted (and
    // emitted) once the watermark passes their own timestamp — any later
    // click would start after them and cannot satisfy the interval
    "stream_interval_join_full" -> ((s, dir) => {
      val clicks = events(s, dir).filter(col("event_type") === "click")
        .withWatermark("ts", "10 minutes")
        .select(col("event_id").as("click_id"), col("user_id"),
          col("ts").as("click_ts"))
      val purchases = events(s, dir).filter(col("event_type") === "purchase")
        .withWatermark("ts", "10 minutes")
        .select(col("event_id").as("purchase_id"),
          col("user_id").as("p_user_id"), col("ts").as("purchase_ts"))
      val joined = clicks.join(purchases,
        col("user_id") === col("p_user_id") &&
          col("purchase_ts") >= col("click_ts") &&
          col("purchase_ts") <= col("click_ts") + expr("INTERVAL 10 MINUTES"),
        "fullOuter")
        .select(coalesce(col("click_id"), lit(-1L)).as("click_id"),
          coalesce(col("purchase_id"), lit(-1L)).as("purchase_id"),
          coalesce(col("user_id"), col("p_user_id")).as("user_id"))
      EventStream.runToTable(s, joined, "append")
    }),

    // streaming AS-OF join: each click's LATEST purchase within the
    // 10-minute look-back — a stream-stream interval join feeding a
    // watermarked per-click argmax (chained stateful operators; the
    // batch AsofJoin's tolerance semantics, continuously). Inner form:
    // clicks with no purchase in window don't emit (see join_asof_* for
    // the outer batch surface).
    "stream_asof_join" -> ((s, dir) => {
      val clicks = events(s, dir).filter(col("event_type") === "click")
        .withWatermark("ts", "10 minutes")
        .select(col("event_id").as("click_id"), col("user_id"),
          col("ts").as("click_ts"))
      val purchases = events(s, dir).filter(col("event_type") === "purchase")
        .withWatermark("ts", "10 minutes")
        .select(col("event_id").as("purchase_id"),
          col("user_id").as("p_user_id"), col("ts").as("purchase_ts"))
      val joined = clicks.join(purchases,
        col("user_id") === col("p_user_id") &&
          col("purchase_ts") <= col("click_ts") &&
          col("purchase_ts") >= col("click_ts") - expr("INTERVAL 10 MINUTES"))
      val agg = joined
        .groupBy(window(col("click_ts"), "10 minutes"), col("click_id"),
          col("user_id"))
        .agg(max(struct(col("purchase_ts"), col("purchase_id"))).as("m"))
        .select(col("click_id"), col("user_id"),
          col("m.purchase_ts").as("asof_ts"),
          col("m.purchase_id").as("asof_id"))
      EventStream.runToTable(s, agg, "append")
    }),

    // toRetractStream end-to-end with a VALUE oracle: the events fixture
    // replays as 4 deterministic time-quarter micro-batches
    // (EventStream.readMultiBatch), an update-mode per-user aggregation
    // runs through the distributed retract adapter, and the full tagged
    // changelog — retraction of each superseded row version + addition of
    // its successor, per batch — is the query result. The oracle re-derives
    // it from quarter-cumulative window sums.
    "stream_retract_changelog" -> ((s, dir) => {
      val agg = EventStream.readMultiBatch(s, dir)
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n"),
          sum(dec2(col("value"))).cast("double").as("sum_value"))
      // hot-path snapshot storage (persisted-RDD generations, the knob
      // documented on RetractStream): skips the per-batch snapshot
      // parquet write+read round-trip. The default parquet-generation
      // posture (executor storage holds nothing between batches) stays
      // the documented scale path and is spec-covered
      // (StreamingSpec "reclaims superseded snapshot generations").
      graft.streaming.RetractStream.run(agg, Seq("user_id"),
        snapshotLevel =
          Some(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
        .changesDf
    }),

    // non-file streaming source end-to-end: the fixture replayed through a
    // localhost TCP socket into Spark's socket source (the reference's
    // addSource/socketTextStream family), aggregated in complete mode so
    // the end-of-stream table is batch-deterministic — the batch oracle
    // pins the whole ingest→aggregate path
    "stream_socket_counts" -> ((s, dir) =>
      EventStream.socketCounts(s, dir)),

    // volume-slope companion to the full replay above: the same builtin
    // socket path fed a deterministic quarter of the fixture (event_id
    // stride 4). Comparing the two rows (plus their micro-batch splits)
    // separates per-row drain cost from fixed micro-batch and harness
    // overhead — the independently checkable attribution the round-8
    // verdict asked for.
    "stream_socket_counts_25k" -> ((s, dir) =>
      EventStream.socketCounts(s, dir, sampleMod = 4L)),

    // checkpoint RECOVERY across a real restart (the reference's
    // savepoint → resume contract): a keyed aggregation runs over the
    // first two replay quarters, terminates, and a NEW query restores
    // from the checkpoint once the remaining quarters appear — the final
    // complete-mode table must aggregate ALL the data, which only holds
    // if the state store actually came back (post-restart-only counts
    // would hash-mismatch the batch oracle)
    "stream_checkpoint_recovery" -> ((s, dir) =>
      EventStream.checkpointRecoveryCounts(s, dir)),

    // USER-DEFINED streaming source (the reference's addSource /
    // SourceFunction, StreamExecutionEnvironment.java:1186): the same TCP
    // replay ingested through a custom DataSourceV2 MicroBatchStream
    // (GraftSocketSource) that buffers off the query path, tracks
    // line-count offsets, and SPLITS every micro-batch across 4 input
    // partitions — the scale path next to the built-in single-partition
    // socket source's labeled baseline above; identical oracle.
    "stream_custom_source_counts" -> ((s, dir) =>
      EventStream.socketCounts(s, dir,
        format = classOf[graft.streaming.GraftSocketSourceProvider].getName,
        statePartitions = 4, sourcePartitions = 4)),

    // stateful streaming dedup (dropDuplicates state store)
    "stream_dedup" -> ((s, dir) => {
      val dd = events(s, dir)
        .dropDuplicates("user_id", "event_type")
        .select(col("user_id"), col("event_type"))
      EventStream.runToTable(s, dd, "append")
    }),

    // cross-micro-batch join state: the SAME interval join over the
    // 4-quarter deterministic replay — matches spanning batch boundaries
    // must come out of the state store; result (and oracle) identical to
    // the single-batch run
    "stream_interval_join_multibatch" -> ((s, dir) => {
      val ev = EventStream.readMultiBatch(s, dir)
      val clicks = ev.filter(col("event_type") === "click")
        .withWatermark("ts", "10 minutes")
        .select(col("event_id").as("click_id"), col("user_id"),
          col("ts").as("click_ts"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .withWatermark("ts", "10 minutes")
        .select(col("event_id").as("purchase_id"),
          col("user_id").as("p_user_id"), col("ts").as("purchase_ts"))
      val joined = clicks.join(purchases,
        col("user_id") === col("p_user_id") &&
          col("purchase_ts") >= col("click_ts") &&
          col("purchase_ts") <= col("click_ts") + expr("INTERVAL 10 MINUTES"))
        .select(col("click_id"), col("purchase_id"), col("user_id"))
      // INNER interval join: matches emit in the micro-batch where both
      // sides have arrived; the trailing no-data batch exists only to
      // advance the watermark for state EVICTION (and for outer-side
      // emission, which this query has none of), so skipping it drops one
      // of the 5 micro-batches' full state-commit round without touching
      // values. statePartitions = 4 = derivedStatePartitions("join", _):
      // a stream-stream join commits FOUR state stores per partition per
      // batch (left/right × keyToNumValues/keyWithIndexToValue), so
      // partitions enter the fixed-cost product at 4× weight — the r11
      // ladder holds p=4 optimal through 10M events/replay, hence the
      // join family's CONSTANT derived default (no count scan needed).
      EventStream.runToTable(s, joined, "append", statePartitions = 4,
        noDataMicroBatches = false)
    }),

    // cross-micro-batch dedup state, same oracle as the single-batch form
    "stream_dedup_multibatch" -> ((s, dir) => {
      val dd = EventStream.readMultiBatch(s, dir)
        .dropDuplicates("user_id", "event_type")
        .select(col("user_id"), col("event_type"))
      EventStream.runToTable(s, dd, "append")
    }),

    // custom count windows over flatMapGroupsWithState (KeyedStream
    // .countWindow(size) = GlobalWindows + purging CountTrigger(size) — no
    // Spark equivalent)
    "stream_count_window" -> ((s, dir) => {
      import s.implicits._
      val out = StatefulOps.triggeredGlobalWindows(
        events(s, dir).as[EventRow], CountFireTrigger(10)).toDF()
      EventStream.runToTable(s, out, "append")
    }),

    // late-data side output (reference `WindowedStream
    // .sideOutputLateData`, WindowedStream.java:131-184): the fixture
    // replays in 4 ROUND-ROBIN batches (event_id % 4) so batches 1-3
    // carry rows far behind the watermark the earlier batches
    // established; each row is tagged late iff its event time is behind
    // the watermark AT ITS ARRIVAL BATCH (cumulative prior-batch
    // max(ts) − 10 min) — a pure function of the data, stated exactly by
    // the oracle's per-batch watermark trajectory.
    "stream_late_side_output" -> ((s, dir) => {
      import s.implicits._
      val out = StatefulOps.withLateTag(
        EventStream.readLateBatches(s, dir)
          .withWatermark("ts", "10 minutes").as[EventRow]).toDF()
      EventStream.runToTable(s, out, "append")
    }),

    // allowedLateness end-to-end (reference `WindowedStream
    // .allowedLateness`, WindowedStream.java:131): over the round-robin
    // replay, a late row still MERGES into its window while the window
    // is open (w_end > watermark at its arrival batch) and is DROPPED
    // once the window closed — both outcomes deterministic because the
    // per-batch watermark trajectory is a pure function of the data.
    // The oracle states row inclusion (open-window test per batch) and
    // emission (w_end <= end-of-stream watermark) exactly.
    "stream_allowed_lateness" -> ((s, dir) => {
      val agg = EventStream.readLateBatches(s, dir)
        .withWatermark("ts", "30 minutes")
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n"), sum(cents("value")).as("sum_cents"))
        .select(col("window.start").as("w_start"),
          col("window.end").as("w_end"),
          col("event_type"), col("n"), col("sum_cents"))
      EventStream.runToTable(s, agg, "append")
    }),

    // GlobalWindows + non-purging CountTrigger (reference
    // `GlobalWindows.java` + `CountTrigger.java`): the window grows
    // unboundedly per key and the trigger fires at every 5th arrival —
    // each emission aggregates ALL elements seen so far. The per-key
    // arrival order is (ts, event_id) under the AvailableNow replay, so
    // every fire point and its prefix aggregate are a SQL window over
    // row_number — the trigger API's first value-oracle row.
    "stream_count_trigger_fire" -> ((s, dir) => {
      import s.implicits._
      val out = StatefulOps.triggeredGlobalWindows(
        events(s, dir).as[EventRow], CountFireTrigger(5, purge = false)).toDF()
      EventStream.runToTable(s, out, "append")
    }),

    // tumbling count windows of 10 with a TimeEvictor (reference
    // `TimeEvictor.java`): before each window aggregates, elements older
    // than the window's max event-time − 48 h are evicted — window
    // ASSIGNMENT is unchanged (still every 10 arrivals), only what the
    // aggregate sees shrinks. On the fixture ~96 % of complete windows
    // span more than 48 h, so the eviction path is exercised with both
    // partial and no-op outcomes.
    "stream_time_evictor" -> ((s, dir) => {
      import s.implicits._
      val out = StatefulOps.triggeredGlobalWindows(
        events(s, dir).as[EventRow], CountFireTrigger(10),
        Some(TimeEvictor(48L * 3600 * 1000))).toDF()
      EventStream.runToTable(s, out, "append")
    }),

    // CountEvictor (reference `CountEvictor.java` — keep from the END of
    // the buffer): each complete 10-arrival window aggregates only its
    // last 4 elements
    "stream_count_evictor" -> ((s, dir) => {
      import s.implicits._
      val out = StatefulOps.triggeredGlobalWindows(
        events(s, dir).as[EventRow], CountFireTrigger(10),
        Some(CountEvictor(4))).toDF()
      EventStream.runToTable(s, out, "append")
    }),

    // DeltaEvictor (reference `DeltaEvictor.java` — evict where
    // deltaFunction(element, last) >= threshold): elements whose value
    // deviates >= 100.00 from the window's LAST element are evicted
    // before the aggregate (avg 8.8 of 10 kept on the fixture)
    "stream_delta_evictor" -> ((s, dir) => {
      import s.implicits._
      val out = StatefulOps.triggeredGlobalWindows(
        events(s, dir).as[EventRow], CountFireTrigger(10),
        Some(DeltaEvictor(10000L))).toDF()
      EventStream.runToTable(s, out, "append")
    }),

    // sliding count windows: every 4th arrival aggregates the last ≤10
    // (KeyedStream.countWindow(size, slide) = GlobalWindows +
    // CountTrigger(slide) + CountEvictor(size))
    "stream_count_window_slide" -> ((s, dir) => {
      import s.implicits._
      val out = StatefulOps.triggeredGlobalWindows(
        events(s, dir).as[EventRow], CountFireTrigger(4, purge = false),
        Some(CountEvictor(10))).toDF()
      EventStream.runToTable(s, out, "append")
    }),

    // custom streaming OVER: per-row running aggregates in event-time order
    // (DataStreamOverAggregate / RowTimeUnboundedOver)
    "stream_over_rows" -> ((s, dir) => {
      val out = overCountSum(s, dir, Frame(Peer.Row, None),
        "row_no" -> "run_cnt", "run_cents")
      EventStream.runToTable(s, out, "append")
    }),

    // bounded ROWS frame streaming OVER (RowTimeBoundedRowsOver): sum over
    // the last 5 rows per key
    "stream_over_rows_bounded" -> ((s, dir) => {
      val out = overCountSum(s, dir, Frame(Peer.Row, Some(5)),
        "row_no" -> "run_cnt", "win_cents")
      EventStream.runToTable(s, out, "append")
    }),

    // unbounded RANGE: running aggregate with peer semantics (rows at the
    // same ts share one result) — RowTimeUnboundedOver RANGE variant
    "stream_over_range_unbounded" -> ((s, dir) => {
      val out = overCountSum(s, dir, Frame(Peer.Timestamp, None),
        "agg._1" -> "win_cnt", "win_cents")
      EventStream.runToTable(s, out, "append")
    }),

    // time-bounded RANGE frame streaming OVER (RowTimeBoundedRangeOver):
    // count+sum over the trailing 10 minutes per key, peer rows equal
    "stream_over_range" -> ((s, dir) => {
      val out = overCountSum(s, dir, Frame(Peer.Timestamp, Some(10 * 60 * 1000L)),
        "agg._1" -> "win_cnt", "win_cents")
      EventStream.runToTable(s, out, "append")
    }),

    // punctuated watermarks end-to-end (reference
    // `AssignerWithPunctuatedWatermarks` /
    // `TimestampsAndPunctuatedWatermarksOperator.java`): marker records
    // (event_id % 7 == 0) emit watermark ts − 2 min AFTER the element.
    // Over the ROUND-ROBIN replay the processing order is
    // (batch = event_id % 4, ts, event_id) — batches 1-3 carry rows far
    // behind markers batch 0 established, so the late tag is exercised
    // for real, and the whole trajectory is a SQL window with an
    // exclusive upper frame bound over that order.
    "stream_punctuated_watermark" -> ((s, dir) => {
      import s.implicits._
      val out = StatefulOps.punctuatedLateTag(
        EventStream.readLateBatches(s, dir).as[EventRow], Order.EventTime) { e =>
          if (e.event_id % 7 == 0) Some(e.ts.getTime - 120000L) else None
        }.toDF()
      EventStream.runToTable(s, out, "append")
    }),

    // custom event-time ordered emission (DataStreamSort)
    "stream_sorted_emit" -> ((s, dir) => {
      import s.implicits._
      val out = StatefulOps.sortedEmit(events(s, dir).as[EventRow]).toDF()
      EventStream.runToTable(s, out, "append")
    }),

    // streaming iterate() — the feedback loop closed at the source
    // boundary (foreachBatch writes continuing rows back into its own
    // file source; head/tail at micro-batch granularity): integer halving
    // until zero, every visited row emitted. Value-oracled against a
    // recursive CTE, so the loop's complete trajectory hash-matches
    "stream_iterate_halving" -> ((s, dir) => {
      val seed = Tables.load(s, dir, "documents")
        .select(col("doc_id").as("id"), lit(0L).as("iter"),
          col("doc_id").as("value"))
      // unroll = 8 (r14; was 4 in r13): the halving chain is ~14 one-step
      // supersteps of tiny cohorts — per-round fixed micro-batch cost
      // dominates, and the unrolled form emits the identical row set
      // (oracle-pinned; StreamingSpec set-equality) in ~2 micro-batches
      graft.streaming.IterateStream.run(s, seed,
        stepValue = _ => expr("CAST(value div 2 AS BIGINT)"),
        continues = v => v > 0, unroll = 8)
    }),

    // GLOBAL streaming sort (full DataStreamSort shape: total order over
    // the whole stream, watermark hold-back; parallelism-1 by semantics,
    // as in the reference)
    "stream_sorted_emit_global" -> ((s, dir) => {
      import s.implicits._
      val out = StatefulOps.sortedEmitGlobal(events(s, dir).as[EventRow]).toDF()
      EventStream.runToTable(s, out, "append", statePartitions = 1)
    }),

    // windowed stream coGroup (CoGroupedStreams): the two per-type streams
    // are unioned (stream-stream complete-mode joins are unsupported) and
    // co-aggregated per (key, window) — the per-window pairing of both
    // groups, zeros for the absent side, exactly the coGroup contract
    "stream_window_cogroup" -> ((s, dir) => {
      val clicks = events(s, dir).filter(col("event_type") === "click")
      val purchases = events(s, dir).filter(col("event_type") === "purchase")
      val cog = clicks.union(purchases)
        .groupBy(window(col("ts"), "1 hour").as("w"), col("user_id"))
        .agg(
          sum(when(col("event_type") === "click", 1L).otherwise(0L))
            .as("n_clicks"),
          sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
            .as("n_purchases"))
        .select(col("w.start").as("w_start"), col("user_id"),
          col("n_clicks"), col("n_purchases"))
      EventStream.runToTable(s, cog, "complete")
    }),

    // non-keyed windowAll (AllWindowedStream): global per-window totals
    "stream_tumble_all" -> ((s, dir) => {
      val agg = events(s, dir)
        .groupBy(window(col("ts"), "1 hour"))
        .agg(count(lit(1)).as("n"), sum(cents("value")).as("sum_cents"))
        .select(col("window.start").as("w_start"), col("n"), col("sum_cents"))
      EventStream.runToTable(s, agg, "complete")
    }),

    // session windows with per-event dynamic gap (purchases hold the
    // session open for 60 min, everything else 30 min)
    "stream_session_dynamic" -> ((s, dir) => {
      val gap = when(col("event_type") === "purchase", "60 minutes")
        .otherwise("30 minutes")
      val agg = events(s, dir)
        .groupBy(session_window(col("ts"), gap), col("user_id"))
        .agg(count(lit(1)).as("n"))
        .select(col("session_window.start").as("w_start"),
          col("session_window.end").as("w_end"), col("user_id"), col("n"))
      EventStream.runToTable(s, agg, "complete")
    })
  )

  // DuckDB mirrors: events.ts nanos truncate to µs like the Spark readers
  private val tumble1h =
    "to_timestamp(CAST(floor(epoch(ts) / 3600) * 3600 AS BIGINT))::TIMESTAMP"
  private val C = "CAST(round(value * 100) AS BIGINT)"

  override def oracle: Map[String, String] = Map(
    "stream_tumble_agg" ->
      s"""SELECT $tumble1h AS w_start, $tumble1h + INTERVAL 1 HOUR AS w_end,
         |  event_type, COUNT(*) AS n, CAST(SUM($C) AS BIGINT) AS sum_cents
         |FROM events GROUP BY 1, 2, 3""".stripMargin,

    "stream_running_agg" ->
      s"""SELECT user_id, COUNT(*) AS n, CAST(SUM($C) AS BIGINT) AS sum_cents
         |FROM events GROUP BY user_id""".stripMargin,

    "stream_slide_agg" ->
      s"""WITH slid AS (
         |  SELECT to_timestamp(CAST(floor(epoch(ts) / 900) * 900
         |           - g.i * 900 AS BIGINT))::TIMESTAMP AS w_start, value, ts
         |  FROM events, generate_series(0, 3) g(i)
         |  WHERE event_type = 'purchase')
         |SELECT w_start, w_start + INTERVAL 1 HOUR AS w_end,
         |  COUNT(*) AS n, CAST(SUM($C) AS BIGINT) AS sum_cents
         |FROM slid
         |WHERE ts < w_start + INTERVAL 1 HOUR AND ts >= w_start
         |GROUP BY 1, 2""".stripMargin,

    // append mode emits only watermark-finalized windows: w_end <= final
    // watermark (global max ts − the 10-minute delay). Spark truncates the
    // event-time watermark to millisecond precision (max µs / 1000), so the
    // oracle cutoff is ms-floored too — a window ending in the sub-ms sliver
    // below a full-precision max(ts) must NOT be counted as emitted
    "stream_tumble_append" ->
      s"""WITH wm AS (SELECT date_trunc('milliseconds', max(ts))
         |              - INTERVAL 10 MINUTE AS w FROM events)
         |SELECT $tumble1h AS w_start, $tumble1h + INTERVAL 1 HOUR AS w_end,
         |  event_type, COUNT(*) AS n, CAST(SUM($C) AS BIGINT) AS sum_cents
         |FROM events GROUP BY 1, 2, 3
         |HAVING $tumble1h + INTERVAL 1 HOUR <= (SELECT w FROM wm)""".stripMargin,

    // purchases strictly before each click in (ts, event_id) order: the
    // running window includes the current row, but the current row is a
    // click (indicator 0), so "preceding purchases" is exact
    "stream_coprocess_enrich" ->
      s"""SELECT event_id AS click_id, user_id,
         |  p_cnt AS purchases_before, p_sum AS p_sum_cents
         |FROM (
         |  SELECT event_id, user_id, event_type,
         |    CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
         |      OVER w AS BIGINT) AS p_cnt,
         |    CAST(SUM(CASE WHEN event_type = 'purchase' THEN $C ELSE 0 END)
         |      OVER w AS BIGINT) AS p_sum
         |  FROM events
         |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
         |WHERE event_type = 'click'""".stripMargin,

    // the checkpointed state must equal the batch aggregate per key
    "stream_queryable_state" ->
      s"""SELECT user_id, COUNT(*) AS n, CAST(SUM($C) AS BIGINT) AS sum_cents
         |FROM events GROUP BY user_id""".stripMargin,

    "stream_session" ->
      s"""WITH marked AS (
         |  SELECT user_id, ts, value,
         |    CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
         |              >= INTERVAL 30 MINUTE
         |         OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
         |         THEN 1 ELSE 0 END AS new_session
         |  FROM events),
         |sessions AS (
         |  SELECT user_id, ts, value,
         |    SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
         |  FROM marked)
         |SELECT MIN(ts) AS w_start, MAX(ts) + INTERVAL 30 MINUTE AS w_end,
         |  user_id, COUNT(*) AS n, CAST(SUM($C) AS BIGINT) AS sum_cents
         |FROM sessions GROUP BY user_id, sid""".stripMargin,

    // append emits only sessions finalized by the end-of-stream watermark
    "stream_session_append" ->
      s"""WITH marked AS (
         |  SELECT user_id, ts, value,
         |    CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
         |              >= INTERVAL 30 MINUTE
         |         OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
         |         THEN 1 ELSE 0 END AS new_session
         |  FROM events),
         |sessions AS (
         |  SELECT user_id, ts, value,
         |    SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
         |  FROM marked),
         |wm AS (SELECT date_trunc('milliseconds', max(ts))
         |         - INTERVAL 10 MINUTE AS w FROM events)
         |SELECT MIN(ts) AS w_start, MAX(ts) + INTERVAL 30 MINUTE AS w_end,
         |  user_id, COUNT(*) AS n, CAST(SUM($C) AS BIGINT) AS sum_cents
         |FROM sessions GROUP BY user_id, sid
         |HAVING MAX(ts) + INTERVAL 30 MINUTE <= (SELECT w FROM wm)""".stripMargin,

    "stream_static_join" ->
      """SELECT e.event_id, e.user_id, c.c_mktsegment
        |FROM events e JOIN customer c ON e.user_id = c.c_custkey""".stripMargin,

    "stream_forwarded_side" ->
      """SELECT e.event_id, e.user_id, c.c_nationkey
        |FROM events e JOIN customer c ON e.user_id = c.c_custkey""".stripMargin,

    "stream_broadcast_side" ->
      """SELECT e.event_id, e.user_id, b.c_custkey IS NOT NULL AS is_building
        |FROM events e LEFT JOIN (
        |  SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING') b
        |ON e.user_id = b.c_custkey""".stripMargin,

    "stream_interval_join" ->
      """SELECT c.event_id AS click_id, p.event_id AS purchase_id, c.user_id
        |FROM events c JOIN events p
        |  ON c.user_id = p.user_id
        | AND c.event_type = 'click' AND p.event_type = 'purchase'
        | AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 10 MINUTE""".stripMargin,

    // changelog = per-quarter cumulative agg: an addition per (quarter,
    // user) with activity, plus a retraction of the previous cumulative
    // row where one exists
    "stream_retract_changelog" ->
      """WITH e AS (
        |  SELECT user_id, CAST(value AS DECIMAL(12,2)) AS v,
        |    CAST((EXTRACT(day FROM ts) - 1) // 8 AS INT) AS q
        |  FROM events),
        |pq AS (
        |  SELECT q, user_id, COUNT(*) AS n_q, SUM(v) AS s_q
        |  FROM e GROUP BY 1, 2),
        |cum AS (
        |  SELECT q, user_id,
        |    CAST(SUM(n_q) OVER w AS BIGINT) AS n,
        |    CAST(SUM(s_q) OVER w AS DOUBLE) AS sum_value,
        |    row_number() OVER (PARTITION BY user_id ORDER BY q) AS rn
        |  FROM pq
        |  WINDOW w AS (PARTITION BY user_id ORDER BY q
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
        |SELECT q AS batch_id, TRUE AS is_add, user_id, n, sum_value FROM cum
        |UNION ALL
        |SELECT c.q AS batch_id, FALSE AS is_add, c.user_id, p.n, p.sum_value
        |FROM cum c JOIN cum p
        |  ON p.user_id = c.user_id AND p.rn = c.rn - 1""".stripMargin,

    // as-of: inner interval join then per-click argmax; a window(click_ts)
    // group emits once the propagated watermark passes its end. The join
    // leaves the click-side watermark UNSHIFTED (a future purchase only
    // binds clicks at-or-after its own ts, so no new output can carry an
    // event time below the global watermark) — the cutoff is the plain
    // tumble end vs wm.
    "stream_asof_join" ->
      """WITH wm AS (
        |  SELECT least(
        |    (SELECT max(ts) FROM events WHERE event_type = 'click'),
        |    (SELECT max(ts) FROM events WHERE event_type = 'purchase'))
        |    - INTERVAL 10 MINUTE AS w)
        |SELECT c.event_id AS click_id, c.user_id,
        |  p.ts AS asof_ts, p.event_id AS asof_id
        |FROM events c JOIN events p
        |  ON c.user_id = p.user_id
        | AND c.event_type = 'click' AND p.event_type = 'purchase'
        | AND p.ts <= c.ts AND p.ts >= c.ts - INTERVAL 10 MINUTE, wm
        |WHERE to_timestamp(CAST(floor(epoch(c.ts) / 600) * 600 + 600
        |    AS BIGINT))::TIMESTAMP <= wm.w
        |QUALIFY row_number() OVER (PARTITION BY c.event_id
        |  ORDER BY p.ts DESC, p.event_id DESC) = 1""".stripMargin,

    "stream_interval_join_left" ->
      """WITH wm AS (
        |  SELECT least(
        |    (SELECT max(ts) FROM events WHERE event_type = 'click'),
        |    (SELECT max(ts) FROM events WHERE event_type = 'purchase'))
        |    - INTERVAL 10 MINUTE AS w)
        |SELECT c.event_id AS click_id, p.event_id AS purchase_id, c.user_id
        |FROM events c JOIN events p
        |  ON c.user_id = p.user_id
        | AND c.event_type = 'click' AND p.event_type = 'purchase'
        | AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 10 MINUTE
        |UNION ALL
        |SELECT c.event_id, CAST(-1 AS BIGINT), c.user_id
        |FROM events c, wm
        |WHERE c.event_type = 'click'
        |  AND c.ts + INTERVAL 10 MINUTE < wm.w
        |  AND NOT EXISTS (
        |    SELECT 1 FROM events p
        |    WHERE p.user_id = c.user_id AND p.event_type = 'purchase'
        |      AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 10 MINUTE)""".stripMargin,

    "stream_interval_join_right" ->
      """WITH wm AS (
        |  SELECT least(
        |    (SELECT max(ts) FROM events WHERE event_type = 'click'),
        |    (SELECT max(ts) FROM events WHERE event_type = 'purchase'))
        |    - INTERVAL 10 MINUTE AS w)
        |SELECT c.event_id AS click_id, p.event_id AS purchase_id, p.user_id
        |FROM events c JOIN events p
        |  ON c.user_id = p.user_id
        | AND c.event_type = 'click' AND p.event_type = 'purchase'
        | AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 10 MINUTE
        |UNION ALL
        |SELECT CAST(-1 AS BIGINT), p.event_id, p.user_id
        |FROM events p, wm
        |WHERE p.event_type = 'purchase'
        |  AND p.ts < wm.w
        |  AND NOT EXISTS (
        |    SELECT 1 FROM events c
        |    WHERE c.user_id = p.user_id AND c.event_type = 'click'
        |      AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 10 MINUTE)""".stripMargin,

    "stream_interval_join_full" ->
      """WITH wm AS (
        |  SELECT least(
        |    (SELECT max(ts) FROM events WHERE event_type = 'click'),
        |    (SELECT max(ts) FROM events WHERE event_type = 'purchase'))
        |    - INTERVAL 10 MINUTE AS w)
        |SELECT c.event_id AS click_id, p.event_id AS purchase_id, c.user_id
        |FROM events c JOIN events p
        |  ON c.user_id = p.user_id
        | AND c.event_type = 'click' AND p.event_type = 'purchase'
        | AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 10 MINUTE
        |UNION ALL
        |SELECT c.event_id, CAST(-1 AS BIGINT), c.user_id
        |FROM events c, wm
        |WHERE c.event_type = 'click'
        |  AND c.ts + INTERVAL 10 MINUTE < wm.w
        |  AND NOT EXISTS (
        |    SELECT 1 FROM events p
        |    WHERE p.user_id = c.user_id AND p.event_type = 'purchase'
        |      AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 10 MINUTE)
        |UNION ALL
        |SELECT CAST(-1 AS BIGINT), p.event_id, p.user_id
        |FROM events p, wm
        |WHERE p.event_type = 'purchase'
        |  AND p.ts < wm.w
        |  AND NOT EXISTS (
        |    SELECT 1 FROM events c
        |    WHERE c.user_id = p.user_id AND c.event_type = 'click'
        |      AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 10 MINUTE)""".stripMargin,

    // end-of-stream complete-mode aggregate over the socket replay equals
    // the batch aggregate
    "stream_socket_counts" ->
      "SELECT user_id, count(*) AS n FROM events GROUP BY user_id",

    // the quarter-volume feed: same end-of-stream contract over the
    // deterministic event_id stride the feeder applies
    "stream_socket_counts_25k" ->
      """SELECT user_id, count(*) AS n FROM events
        |WHERE event_id % 4 = 0 GROUP BY user_id""".stripMargin,

    // same end-of-stream contract through the custom DSv2 source
    "stream_custom_source_counts" ->
      "SELECT user_id, count(*) AS n FROM events GROUP BY user_id",

    // recovery must resume, not restart: the full-corpus aggregate
    "stream_checkpoint_recovery" ->
      "SELECT user_id, count(*) AS n FROM events GROUP BY user_id",

    "stream_dedup" ->
      "SELECT DISTINCT user_id, event_type FROM events",

    "stream_dedup_multibatch" ->
      "SELECT DISTINCT user_id, event_type FROM events",

    // batching must not change join results — same SQL as the
    // single-batch interval join
    "stream_interval_join_multibatch" ->
      """SELECT c.event_id AS click_id, p.event_id AS purchase_id, c.user_id
        |FROM events c JOIN events p
        |  ON c.user_id = p.user_id
        | AND c.event_type = 'click' AND p.event_type = 'purchase'
        | AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 10 MINUTE""".stripMargin,

    "stream_count_window" ->
      s"""WITH seq AS (
         |  SELECT user_id, $C AS cents,
         |    row_number() OVER (PARTITION BY user_id
         |      ORDER BY ts, event_id) - 1 AS rn
         |  FROM events)
         |SELECT user_id, CAST(rn // 10 AS BIGINT) AS win_idx,
         |  CAST(COUNT(*) AS INT) AS n_events,
         |  CAST(SUM(cents) AS BIGINT) AS sum_cents
         |FROM seq GROUP BY user_id, rn // 10
         |HAVING COUNT(*) = 10""".stripMargin,

    // Spark's TWO-watermark contract (SPARK-24634 multi-stateful-operator
    // work: watermarkForLateEvents vs watermarkForEviction): the LATE
    // filter in batch k uses the PREVIOUS watermark — stats through batch
    // k-2 — while eviction/emission uses the current one. So a row is
    // included iff its window end > (max ts over batches 0..k-2) − 30 min
    // (the 2-PRECEDING frame), and a window is emitted iff the
    // end-of-stream watermark passed its end. Verified empirically: the
    // 1-PRECEDING (single-watermark) model emits 1912 groups, Spark and
    // this oracle both emit 2775.
    "stream_allowed_lateness" ->
      s"""WITH e AS (
         |  SELECT event_type, epoch_ms(ts) AS tms, $C AS cents,
         |    $tumble1h AS w_start, event_id % 4 AS bq
         |  FROM events),
         |bmax AS (SELECT bq, max(tms) AS mx FROM e GROUP BY bq),
         |cum AS (
         |  SELECT bq, max(mx) OVER (ORDER BY bq
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 2 PRECEDING) AS pmax
         |  FROM bmax),
         |inc AS (
         |  SELECT e.* FROM e JOIN cum USING (bq)
         |  WHERE pmax IS NULL
         |     OR epoch_ms(w_start + INTERVAL 1 HOUR) > pmax - 1800000),
         |wm AS (SELECT max(tms) - 1800000 AS w FROM e)
         |SELECT w_start, w_start + INTERVAL 1 HOUR AS w_end, event_type,
         |  COUNT(*) AS n, CAST(SUM(cents) AS BIGINT) AS sum_cents
         |FROM inc GROUP BY 1, 2, 3
         |HAVING epoch_ms(w_start + INTERVAL 1 HOUR) <= (SELECT w FROM wm)"""
        .stripMargin,

    // per-batch watermark trajectory of the round-robin replay: batch k's
    // watermark is max event-time (ms, truncated like Timestamp.getTime)
    // over batches 0..k-1 minus the 10-minute delay; batch 0 runs at the
    // initial watermark (no row late)
    "stream_late_side_output" ->
      """WITH e AS (
        |  SELECT event_id, user_id, epoch_ms(ts) AS tms,
        |    event_id % 4 AS bq
        |  FROM events),
        |bmax AS (SELECT bq, max(tms) AS mx FROM e GROUP BY bq),
        |cum AS (
        |  SELECT bq, max(mx) OVER (ORDER BY bq
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax
        |  FROM bmax)
        |SELECT e.event_id, e.user_id,
        |  (pmax IS NOT NULL AND e.tms < pmax - 600000) AS is_late
        |FROM e JOIN cum USING (bq)""".stripMargin,

    // non-purging CountTrigger fires at every 5th arrival per key; the
    // un-purged global window means each fire aggregates the full prefix
    "stream_count_trigger_fire" ->
      s"""WITH seq AS (
         |  SELECT user_id,
         |    row_number() OVER w AS rn,
         |    SUM($C) OVER (PARTITION BY user_id ORDER BY ts, event_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run
         |  FROM events
         |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
         |SELECT user_id, CAST(rn // 5 - 1 AS BIGINT) AS win_idx,
         |  CAST(rn AS INT) AS n_events, CAST(run AS BIGINT) AS sum_cents
         |FROM seq WHERE rn % 5 = 0""".stripMargin,

    // complete 10-arrival windows; elements older than the window's max
    // event-time (ms precision — Timestamp.getTime) − 48 h are evicted
    // before the aggregate
    "stream_time_evictor" ->
      s"""WITH seq AS (
         |  SELECT user_id, $C AS cents, epoch_ms(ts) AS tms,
         |    row_number() OVER (PARTITION BY user_id
         |      ORDER BY ts, event_id) - 1 AS rn
         |  FROM events),
         |win AS (
         |  SELECT user_id, rn // 10 AS wi, cents, tms,
         |    COUNT(*) OVER (PARTITION BY user_id, rn // 10) AS wn,
         |    MAX(tms) OVER (PARTITION BY user_id, rn // 10) AS wmax
         |  FROM seq)
         |SELECT user_id, CAST(wi AS BIGINT) AS win_idx,
         |  CAST(COUNT(*) AS INT) AS n_events,
         |  CAST(SUM(cents) AS BIGINT) AS sum_cents
         |FROM win WHERE wn = 10 AND tms >= wmax - ${48L * 3600 * 1000}
         |GROUP BY user_id, wi""".stripMargin,

    // complete 10-arrival windows aggregating only their last 4 elements
    "stream_count_evictor" ->
      s"""WITH seq AS (
         |  SELECT user_id, $C AS cents,
         |    row_number() OVER (PARTITION BY user_id
         |      ORDER BY ts, event_id) - 1 AS rn
         |  FROM events),
         |win AS (
         |  SELECT user_id, rn // 10 AS wi, cents, rn % 10 AS pos,
         |    COUNT(*) OVER (PARTITION BY user_id, rn // 10) AS wn
         |  FROM seq)
         |SELECT user_id, CAST(wi AS BIGINT) AS win_idx,
         |  CAST(COUNT(*) AS INT) AS n_events,
         |  CAST(SUM(cents) AS BIGINT) AS sum_cents
         |FROM win WHERE wn = 10 AND pos >= 6
         |GROUP BY user_id, wi""".stripMargin,

    // elements deviating >= 10000 cents from the window's last element
    // are evicted before the aggregate
    "stream_delta_evictor" ->
      s"""WITH seq AS (
         |  SELECT user_id, $C AS cents,
         |    row_number() OVER (PARTITION BY user_id
         |      ORDER BY ts, event_id) - 1 AS rn
         |  FROM events),
         |win AS (
         |  SELECT user_id, rn // 10 AS wi, cents, rn % 10 AS pos,
         |    COUNT(*) OVER (PARTITION BY user_id, rn // 10) AS wn
         |  FROM seq),
         |lastc AS (
         |  SELECT user_id, wi, MAX(CASE WHEN pos = 9 THEN cents END) AS lc
         |  FROM win GROUP BY user_id, wi)
         |SELECT w.user_id, CAST(w.wi AS BIGINT) AS win_idx,
         |  CAST(COUNT(*) AS INT) AS n_events,
         |  CAST(SUM(w.cents) AS BIGINT) AS sum_cents
         |FROM win w JOIN lastc l ON w.user_id = l.user_id AND w.wi = l.wi
         |WHERE w.wn = 10 AND abs(w.cents - l.lc) < 10000
         |GROUP BY w.user_id, w.wi""".stripMargin,

    // emission at every 4th arrival, window = last ≤10 elements
    "stream_count_window_slide" ->
      s"""WITH seq AS (
         |  SELECT user_id, $C AS cents,
         |    row_number() OVER (PARTITION BY user_id
         |      ORDER BY ts, event_id) AS rn
         |  FROM events),
         |em AS (SELECT user_id, rn AS p FROM seq WHERE rn % 4 = 0)
         |SELECT s.user_id, CAST(e.p // 4 - 1 AS BIGINT) AS win_idx,
         |  CAST(COUNT(*) AS INT) AS n_events,
         |  CAST(SUM(s.cents) AS BIGINT) AS sum_cents
         |FROM em e JOIN seq s ON s.user_id = e.user_id
         |  AND s.rn <= e.p AND s.rn > e.p - 10
         |GROUP BY s.user_id, e.p""".stripMargin,

    // the watermark judging each record is the max over marker rows
    // (event_id % 7 = 0, each carrying ts − 2 min) strictly BEFORE it in
    // (batch = event_id % 4, ts, event_id) processing order —
    // marker-after-element, as the reference emits punctuated watermarks
    "stream_punctuated_watermark" ->
      """WITH seq AS (
        |  SELECT event_id, user_id, epoch_ms(ts) AS tms,
        |    MAX(CASE WHEN event_id % 7 = 0 THEN epoch_ms(ts) - 120000 END)
        |      OVER (PARTITION BY user_id ORDER BY event_id % 4, ts, event_id
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS wm
        |  FROM events)
        |SELECT event_id, user_id, wm AS wm_ms,
        |  (wm IS NOT NULL AND tms < wm) AS is_late
        |FROM seq""".stripMargin,

    "stream_over_rows" ->
      s"""SELECT event_id, user_id,
         |  CAST(row_number() OVER w AS BIGINT) AS run_cnt,
         |  CAST(SUM($C) OVER w AS BIGINT) AS run_cents
         |FROM events
         |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
         |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)""".stripMargin,

    "stream_over_rows_bounded" ->
      s"""SELECT event_id, user_id,
         |  CAST(row_number() OVER w AS BIGINT) AS run_cnt,
         |  CAST(SUM($C) OVER (PARTITION BY user_id ORDER BY ts, event_id
         |    ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS BIGINT) AS win_cents
         |FROM events
         |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)""".stripMargin,

    "stream_over_range" ->
      s"""SELECT event_id, user_id,
         |  CAST(COUNT(*) OVER w AS BIGINT) AS win_cnt,
         |  CAST(SUM($C) OVER w AS BIGINT) AS win_cents
         |FROM events
         |WINDOW w AS (PARTITION BY user_id ORDER BY ts
         |  RANGE BETWEEN INTERVAL 10 MINUTE PRECEDING AND CURRENT ROW)""".stripMargin,

    // RANGE UNBOUNDED PRECEDING is SQL's default peers-inclusive frame
    "stream_over_range_unbounded" ->
      s"""SELECT event_id, user_id,
         |  CAST(COUNT(*) OVER w AS BIGINT) AS win_cnt,
         |  CAST(SUM($C) OVER w AS BIGINT) AS win_cents
         |FROM events
         |WINDOW w AS (PARTITION BY user_id ORDER BY ts
         |  RANGE UNBOUNDED PRECEDING)""".stripMargin,

    "stream_sorted_emit" ->
      """SELECT user_id,
        |  CAST(row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |    AS BIGINT) AS seq_no,
        |  event_id
        |FROM events""".stripMargin,

    // one synthetic key → a single global total order
    "stream_sorted_emit_global" ->
      """SELECT CAST(0 AS BIGINT) AS user_id,
        |  CAST(row_number() OVER (ORDER BY ts, event_id) AS BIGINT) AS seq_no,
        |  event_id
        |FROM events""".stripMargin,

    // the loop's full trajectory: the recursive CTE is the sequential
    // mirror of the feedback rounds
    "stream_iterate_halving" ->
      """WITH RECURSIVE it(id, iter, value) AS (
        |  SELECT doc_id, CAST(0 AS BIGINT), doc_id FROM documents
        |  UNION ALL
        |  SELECT id, iter + 1, value // 2 FROM it WHERE value > 0)
        |SELECT id, iter, value FROM it""".stripMargin,

    "stream_window_cogroup" ->
      s"""WITH c AS (
         |  SELECT $tumble1h AS w_start, user_id, COUNT(*) AS n_clicks
         |  FROM events WHERE event_type = 'click' GROUP BY 1, 2),
         |p AS (
         |  SELECT $tumble1h AS w_start, user_id, COUNT(*) AS n_purchases
         |  FROM events WHERE event_type = 'purchase' GROUP BY 1, 2)
         |SELECT coalesce(c.w_start, p.w_start) AS w_start,
         |  coalesce(c.user_id, p.user_id) AS user_id,
         |  coalesce(c.n_clicks, 0) AS n_clicks,
         |  coalesce(p.n_purchases, 0) AS n_purchases
         |FROM c FULL OUTER JOIN p
         |  ON c.user_id = p.user_id AND c.w_start = p.w_start""".stripMargin,

    "stream_tumble_all" ->
      s"""SELECT $tumble1h AS w_start, COUNT(*) AS n,
         |  CAST(SUM($C) AS BIGINT) AS sum_cents
         |FROM events GROUP BY 1""".stripMargin,

    // dynamic-gap sessions merge on window overlap: an event opens
    // [ts, ts+gap); a session breaks when ts >= running max of previous
    // window ends; merged session end = max end
    "stream_session_dynamic" ->
      """WITH g AS (
        |  SELECT user_id, ts,
        |    ts + CASE WHEN event_type = 'purchase' THEN INTERVAL 60 MINUTE
        |              ELSE INTERVAL 30 MINUTE END AS w_end
        |  FROM events),
        |marked AS (
        |  SELECT user_id, ts, w_end,
        |    CASE WHEN MAX(w_end) OVER (PARTITION BY user_id ORDER BY ts
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) > ts
        |         THEN 0 ELSE 1 END AS new_session
        |  FROM g),
        |sess AS (
        |  SELECT user_id, ts, w_end,
        |    SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |  FROM marked)
        |SELECT MIN(ts) AS w_start, MAX(w_end) AS w_end, user_id,
        |  COUNT(*) AS n
        |FROM sess GROUP BY user_id, sid""".stripMargin
  )
}
