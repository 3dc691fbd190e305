package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.streaming.{EventStream, RetractStream, StatefulOps}
import graft.streaming.StatefulOps.{CountEvictor, CountFireTrigger, CountSumCents, DeltaEvictor, DeltaFireTrigger, Frame, Order, Peer, TimeEvictor}
import EventStream.EventRow

/** Incremental (multi-micro-batch) Structured Streaming behavior: watermarks
  * dropping late data, cross-batch state in the custom operators, update-mode
  * emission, retract reconstruction. End-of-stream value correctness is
  * pinned by the DuckDB oracle (queries/Streaming.scala); these specs cover
  * what the oracle cannot see — behavior BETWEEN batches.
  */
class StreamingSpec extends SparkSpecBase {

  private def ev(id: Long, minute: Int, user: Long, typ: String = "click",
                 value: Double = 1.0): EventRow =
    EventRow(id, new Timestamp(3600000L + minute * 60000L), user, typ, value, "{}")

  /** [[StatefulOps.over]]'s rows under the built-in (count, sum) aggregate. */
  private type CountSumOut = StatefulOps.OverOut[(Long, Long)]

  private def mem(): MemoryStream[EventRow] = {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    MemoryStream[EventRow]
  }

  test("runToTable sizes the state operator to statePartitions and restores the session") {
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "4")
    val streams = StreamProgress.attach(spark)
    try {
      val mark = streams.mark()
      val out = EventStream.runToTable(spark,
        EventStream.read(spark, sfDir).groupBy(col("event_type")).count(),
        "complete", statePartitions = 2)
      val runs = streams.since(mark)
      // the terminated event follows every progress event of the query
      assert(runs.size == 1 && runs.forall(_.terminated), s"runs: ${runs.map(r => (r.name, r.terminated))}")
      val parts = runs.flatMap(_.progress)
        .flatMap(_.stateOperators.map(_.numShufflePartitions)).toSet
      assert(parts == Set(2L), s"state partitions: $parts")
      assert(spark.conf.get("spark.sql.shuffle.partitions") == "4")
      assert(out.count() > 0)
    } finally streams.detach()
  }

  // process starts of Hadoop's `Shell` readlink, which Spark's default
  // checkpoint manager forks four times per rename on the local filesystem
  private def readlinks(commands: Seq[String]): Int =
    commands.count(_.split(' ').head.endsWith("readlink"))

  test("checkpointFileManager: local checkpoints get the FileSystem manager, hdfs and s3a keep the default") {
    val fsManager = Some("org.apache.spark.sql.execution.streaming." +
      "checkpointing.FileSystemBasedCheckpointFileManager")
    for (local <- Seq("file:/tmp/graft-ckpt", "file:///tmp/graft-ckpt",
                      "/tmp/graft-ckpt", "graft-ckpt"))
      assert(EventStream.checkpointFileManager(local) == fsManager, local)
    for (remote <- Seq("hdfs://nn:8020/ckpt", "hdfs:///ckpt", "s3a://bucket/ckpt"))
      assert(EventStream.checkpointFileManager(remote).isEmpty, remote)
    // a temp checkpoint (no location set) and a staging dir resolve to file:
    val tmp = sys.props("java.io.tmpdir")
    assert(EventStream.resolvedCheckpoint(spark, None) == "file:" + tmp)
    assert(EventStream.resolvedCheckpoint(spark, Some(tmp + "/c")) == s"file:$tmp/c")
    val staged = graft.sources.StagingFs.newStageDir(spark, "graft-ckpt-spec")
    assert(EventStream.resolvedCheckpoint(spark, Some(staged)) == staged)
  }

  test("runToTable: a 5-batch watermarked replay starts no readlink process") {
    val key = "spark.sql.streaming.checkpointFileManagerClass"
    val before = spark.conf.getOption(key)
    val agg = EventStream.readLateBatches(spark, sfDir)
      .withWatermark("ts", "30 minutes")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"))
    val streams = StreamProgress.attach(spark)
    val forks = new ProcessStarts()
    try {
      val (mark, forkMark) = (streams.mark(), forks.mark())
      EventStream.runToTable(spark, agg, "append").count()
      val progress = streams.since(mark).flatMap(_.progress)
      val commands = forks.since(forkMark)
      // four replay files, then the batch the advanced watermark runs
      assert(progress.size == 5, s"batches: ${progress.map(_.batchId)}")
      assert(progress.forall(_.stateOperators.map(_.numShufflePartitions).sum == 4))
      assert(readlinks(commands) == 0, s"readlink of ${commands.size} process starts")
      assert(spark.conf.getOption(key) == before)
    } finally { forks.close(); streams.detach() }
  }

  test("checkpoint recovery and queryable state restore state through EventStream.start") {
    val ev = Tables.load(spark, sfDir, "events")
    val forks = new ProcessStarts()
    try {
      val forkMark = forks.mark()
      val recovered = SparkEntry.queries("stream_checkpoint_recovery")(spark, sfDir)
      val state = SparkEntry.queries("stream_queryable_state")(spark, sfDir)
      def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toSeq).toSet
      assert(rows(recovered.select("user_id", "n")) ==
        rows(ev.groupBy("user_id").agg(count(lit(1)).as("n"))))
      assert(rows(state.select("user_id", "n", "sum_cents")) ==
        rows(ev.groupBy("user_id").agg(count(lit(1)).as("n"),
          sum(expr("CAST(round(value * 100) AS BIGINT)")).as("sum_cents"))))
      assert(readlinks(forks.since(forkMark)) == 0, "readlink process starts")
    } finally forks.close()
  }

  test("StreamProgress keeps one record per run, equal to that query's own progress") {
    import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener}
    import StreamingQueryListener._
    import scala.jdk.CollectionConverters._
    // five one-file micro-batches of (epoch seconds, user). A batch judges
    // lateness by the watermark its predecessor ran with, so minute 2 in
    // the fourth file is late: the third batch ran at 30 − 5 minutes
    val dir = java.nio.file.Files.createTempDirectory("graft-late")
    for ((minutes, i) <- Seq(Seq(1, 3), Seq(30), Seq(31), Seq(2), Seq(60))
           .zipWithIndex) {
      val f = dir.resolve(s"b$i.json")
      java.nio.file.Files.write(f, minutes
        .map(m => s"""{"t":${m * 60},"user_id":7}""").mkString("\n").getBytes)
      // the file source orders a backlog by modification time
      f.toFile.setLastModified(1700000000000L + i * 60000L)
    }
    val agg = spark.readStream.schema("t LONG, user_id LONG")
      .option("maxFilesPerTrigger", 1).json(dir.toString)
      .select(timestamp_seconds(col("t")).as("ts"), col("user_id"))
      .withWatermark("ts", "5 minutes")
      .groupBy(window(col("ts"), "10 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n"))
    // each query's own handle, taken while it starts
    val handles = new java.util.concurrent.ConcurrentLinkedQueue[StreamingQuery]()
    val grab = new StreamingQueryListener {
      override def onQueryStarted(e: QueryStartedEvent): Unit =
        handles.add(spark.streams.get(e.id))
      override def onQueryProgress(e: QueryProgressEvent): Unit = ()
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    }
    val streams = StreamProgress.attach(spark)
    spark.streams.addListener(grab)
    val (counts, runs) = try {
      val mark = streams.mark()
      val counts = Seq.fill(2)(
        EventStream.runToTable(spark, agg, "append").collect()
          .map(_.getAs[Long]("n")).sorted.toSeq)
      (counts, streams.since(mark))
    } finally {
      spark.streams.removeListener(grab)
      streams.detach()
    }
    // the late row never reaches its closed window
    assert(counts == Seq.fill(2)(Seq(2L, 2L)), s"window counts: $counts")
    assert(runs.size == 2 && runs.map(_.runId).distinct.size == 2 &&
      runs.forall(_.terminated), s"runs: ${runs.map(r => (r.name, r.terminated))}")
    val byRun = handles.asScala.map(q => q.runId -> q).toMap
    for (run <- runs) {
      val own = byRun(run.runId).recentProgress.toSeq
      val ops = own.flatMap(_.stateOperators)
      val t = StreamProgress.totals(Seq(run))
      assert(t.batches == own.size && t.batches >= 5, s"batches: $t")
      assert(t.addBatchMs == own.map(StreamProgress.durationMs(_, "addBatch")).sum)
      assert(t.stateCommitMs == ops.map(_.commitTimeMs).sum)
      assert(t.lateDropped == ops.map(_.numRowsDroppedByWatermark).sum)
      assert(t.lateDropped == 1L, s"late rows dropped: $t")
    }
  }

  test("derived statePartitions reproduces the r11 ladder optima for all three families") {
    // the ladder box: 16 cores, optima measured over {2,4,8,16,32} at
    // 100k / 1M / 10M events per replay (DESIGN.md r11 table) — the
    // derived rule must hit every hand-tuned cell exactly
    for ((rows, want) <- Seq(100000L -> 4, 1000000L -> 4, 10000000L -> 4))
      assert(EventStream.derivedStatePartitions("join", rows, cores = 16)
        == want, s"join @ $rows")
    for ((rows, want) <- Seq(100000L -> 4, 1000000L -> 16, 10000000L -> 32))
      assert(EventStream.derivedStatePartitions("session", rows, cores = 16)
        == want, s"session @ $rows")
    for ((rows, want) <- Seq(100000L -> 4, 1000000L -> 8, 10000000L -> 16))
      assert(EventStream.derivedStatePartitions("cep", rows, cores = 16)
        == want, s"cep @ $rows")
    // fixture scale derives the bench-tuned 4 everywhere (behavior-neutral)
    for (f <- Seq("join", "session", "cep"))
      assert(EventStream.derivedStatePartitions(f, 20000L, cores = 16) == 4)
    intercept[IllegalArgumentException] {
      EventStream.derivedStatePartitions("bogus", 1L)
    }
  }

  test("vector ingest: 4 micro-batch replay, cells-sized state, batch parity") {
    val embs = Tables.load(spark, sfDir, "embeddings")
    val seeds = graft.operators.SimilarityOps.seedCells(embs, 8)
    val streams = StreamProgress.attach(spark)
    val (out, runs) = try {
      val mark = streams.mark()
      val out = graft.streaming.VecIngest
        .ingestCellCounts(spark, sfDir, seeds).localCheckpoint()
      (out, streams.since(mark))
    } finally streams.detach()
    assert(out.count() <= 8, "state is cells-sized")
    val batches = StreamProgress.totals(runs).batches
    assert(runs.size == 1 && batches >= 4,
      s"expected >= 4 micro-batches (one per staged quarter), got $batches")
    // end-of-replay snapshot equals the batch seeded assignment's counts
    val batch = graft.operators.SimilarityOps.ivfAssign(embs, seeds)
      .groupBy(col("cell")).agg(count(lit(1)).as("n"))
    assert(out.exceptAll(batch).isEmpty && batch.exceptAll(out).isEmpty)
  }

  test("watermark drops late rows from tumbling append aggregation") {
    val input = mem()
    val agg = input.toDF()
      .withWatermark("ts", "5 minutes")
      .groupBy(window(col("ts"), "10 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("w_start"), col("user_id"), col("n"))
    val q = agg.writeStream.format("memory").queryName("wm_test")
      .outputMode("append").start()
    try {
      // batch 1: two events in window [60,70); advances watermark to max-5m
      input.addData(ev(1, 1, 7), ev(2, 3, 7))
      q.processAllAvailable()
      // batch 2: jump to minute 30 — watermark 25 > window end 10 → emit w0
      input.addData(ev(3, 30, 7))
      q.processAllAvailable()
      // batch 3: a LATE event for the closed window — must be dropped
      input.addData(ev(4, 2, 7))
      q.processAllAvailable()
      // batch 4: advance far so the minute-30 window also closes
      input.addData(ev(5, 60, 7))
      q.processAllAvailable()
      val rows = spark.table("wm_test").collect()
        .map(r => (r.getAs[Timestamp]("w_start").getTime / 60000, r.getAs[Long]("n")))
        .toMap
      assert(rows(60) == 2, s"closed window must NOT include the late row: $rows")
      assert(rows(90) == 1)
    } finally q.stop()
  }

  test("count windows maintain state across micro-batches") {
    import spark.implicits._
    val input = mem()
    val out = StatefulOps.triggeredGlobalWindows(input.toDS(), CountFireTrigger(3))
    val q = out.toDF().writeStream.format("memory").queryName("cw_test")
      .outputMode("append").start()
    try {
      input.addData(ev(1, 1, 5), ev(2, 2, 5))     // pending 2 — no emission
      q.processAllAvailable()
      assert(spark.table("cw_test").count() == 0)
      input.addData(ev(3, 3, 5), ev(4, 4, 5))     // completes window 0
      q.processAllAvailable()
      val w0 = spark.table("cw_test").as[StatefulOps.WindowOut].collect()
      assert(w0.length == 1 && w0.head.win_idx == 0 && w0.head.n_events == 3)
      input.addData(ev(5, 5, 5), ev(6, 6, 5))     // completes window 1
      q.processAllAvailable()
      val all = spark.table("cw_test").as[StatefulOps.WindowOut].collect()
      assert(all.map(_.win_idx).sorted.toSeq == Seq(0L, 1L))
    } finally q.stop()
  }

  test("count window time-evictor drops stale elements before aggregation") {
    import spark.implicits._
    val input = mem()
    // windows of 3; evict elements older than 5 min behind the window max
    val out = StatefulOps.triggeredGlobalWindows(input.toDS(),
      CountFireTrigger(3), Some(TimeEvictor(5 * 60000L)))
    val q = out.toDF().writeStream.format("memory").queryName("cwe_test")
      .outputMode("append").start()
    try {
      // minute 1 is > 5 min older than minute 20 → evicted; window still
      // consumes 3 elements (assignment unchanged), aggregate sees 2
      input.addData(ev(1, 1, 8, value = 1.0), ev(2, 19, 8, value = 2.0),
        ev(3, 20, 8, value = 4.0))
      q.processAllAvailable()
      val w = spark.table("cwe_test").as[StatefulOps.WindowOut].collect()
      assert(w.length == 1)
      assert(w.head.n_events == 2, s"evictor must drop the stale row: ${w.toSeq}")
      assert(w.head.sum_cents == 600L)
    } finally q.stop()
  }

  test("dropDuplicatesWithinWatermark: dedup state expires with the watermark") {
    // Flink's dedup-with-TTL (StreamQueryConfig idle-state retention on the
    // dedup operator): duplicates are dropped only while the key's state is
    // within the watermark bound; once the watermark passes, the same key
    // is emitted again — unbounded-state dedup is stream_dedup's job
    import spark.implicits._
    val input = mem()
    val out = input.toDS().toDF()
      .withWatermark("ts", "5 minutes")
      .dropDuplicatesWithinWatermark("user_id", "event_type")
      .select(col("event_id"))
    val q = out.writeStream.format("memory").queryName("ddww_test")
      .outputMode("append").start()
    try {
      input.addData(ev(91, 1, 11), ev(92, 2, 11)) // same key: 92 dropped
      q.processAllAvailable()
      input.addData(ev(93, 3, 11))                // still within bound
      q.processAllAvailable()
      // the watermark derives from the PREVIOUS batch's max event time, so
      // minute-30 data first ADVANCES the watermark (to 25 min) while being
      // deduped itself; the next batch then sees the expired state
      input.addData(ev(94, 30, 11))
      q.processAllAvailable()
      input.addData(ev(95, 31, 11))
      q.processAllAvailable()
      val ids = spark.table("ddww_test").collect().map(_.getLong(0)).toSet
      assert(ids.contains(91L) && !ids.contains(92L) && !ids.contains(93L),
        s"$ids")
      assert(ids.contains(95L), s"state must expire with the watermark: $ids")
    } finally q.stop()
  }

  test("sliding count windows emit every slide arrivals across batches") {
    import spark.implicits._
    val input = mem()
    // countWindow(size = 3, slide = 2)
    val out = StatefulOps.triggeredGlobalWindows(input.toDS(),
      CountFireTrigger(2, purge = false), Some(CountEvictor(3)))
    val q = out.toDF().writeStream.format("memory").queryName("scw_test")
      .outputMode("append").start()
    try {
      input.addData(ev(81, 1, 9, value = 1.0), ev(82, 2, 9, value = 2.0),
        ev(83, 3, 9, value = 4.0))
      q.processAllAvailable()
      input.addData(ev(84, 4, 9, value = 8.0)) // 4th arrival: window = last 3
      q.processAllAvailable()
      val r = spark.table("scw_test").as[StatefulOps.WindowOut]
        .collect().map(w => w.win_idx -> ((w.n_events, w.sum_cents))).toMap
      assert(r(0L) == ((2, 300L)), s"$r")   // arrivals 1,2
      assert(r(1L) == ((3, 1400L)), s"$r")  // arrivals 2,3,4 (last 3)
    } finally q.stop()
  }

  test("count- and delta-evictors shrink the window, not the assignment") {
    import spark.implicits._
    // CountEvictor(2): windows of 3 keep only their last 2 elements
    val in1 = mem()
    val q1 = StatefulOps.triggeredGlobalWindows(in1.toDS(),
        CountFireTrigger(3), Some(CountEvictor(2)))
      .toDF().writeStream.format("memory").queryName("cwe_count")
      .outputMode("append").start()
    try {
      in1.addData(ev(61, 1, 7, value = 1.0), ev(62, 2, 7, value = 2.0),
        ev(63, 3, 7, value = 4.0), ev(64, 4, 7, value = 8.0))
      q1.processAllAvailable()
      val r = spark.table("cwe_count").as[StatefulOps.WindowOut]
        .collect().map(w => w.win_idx -> ((w.n_events, w.sum_cents))).toMap
      assert(r(0L) == ((2, 600L)), s"$r") // 2.00+4.00, 1.00 evicted
    } finally q1.stop()
    // DeltaEvictor(300 cents): elements ≥3.00 away from the last are evicted
    val in2 = mem()
    val q2 = StatefulOps.triggeredGlobalWindows(in2.toDS(),
        CountFireTrigger(3), Some(DeltaEvictor(300L)))
      .toDF().writeStream.format("memory").queryName("cwe_delta")
      .outputMode("append").start()
    try {
      in2.addData(ev(71, 1, 8, value = 9.0), ev(72, 2, 8, value = 1.5),
        ev(73, 3, 8, value = 2.0))
      q2.processAllAvailable()
      val r = spark.table("cwe_delta").as[StatefulOps.WindowOut]
        .collect().map(w => w.win_idx -> ((w.n_events, w.sum_cents))).toMap
      assert(r(0L) == ((2, 350L)), s"$r") // 9.00 is 7.00 from last → evicted
    } finally q2.stop()
  }

  test("streaming OVER continues running totals across batches") {
    import spark.implicits._
    val input = mem()
    val out = StatefulOps.over(input.toDS(), Order.EventTime,
      Frame(Peer.Row, None), CountSumCents)
    val q = out.toDF().writeStream.format("memory").queryName("over_test")
      .outputMode("append").start()
    try {
      input.addData(ev(1, 1, 9, value = 2.0), ev(2, 2, 9, value = 3.0))
      q.processAllAvailable()
      input.addData(ev(3, 3, 9, value = 5.0))
      q.processAllAvailable()
      val rows = spark.table("over_test").as[CountSumOut].collect()
        .sortBy(_.row_no)
      assert(rows.map(_.agg._2).toSeq == Seq(200L, 500L, 1000L))
    } finally q.stop()
  }

  test("sortedEmit buffers until the watermark and sequences out-of-order batches") {
    import spark.implicits._
    val input = mem()
    // 10-minute watermark slack: batch-2 rows older than batch-1 rows are
    // still sequenced correctly because nothing emits until the watermark
    // passes it
    val out = StatefulOps.sortedEmit(input.toDS(), delay = "10 minutes")
    val q = out.toDF().writeStream.format("memory").queryName("sorted_test")
      .outputMode("append").start()
    try {
      input.addData(ev(10, 5, 3), ev(11, 8, 3))   // minutes 5, 8
      q.processAllAvailable()
      input.addData(ev(12, 3, 3))                 // OUT OF ORDER: minute 3
      q.processAllAvailable()
      // advance the watermark far past minute 8 so all three flush
      input.addData(ev(13, 60, 3))
      q.processAllAvailable()
      val rows = spark.table("sorted_test").as[StatefulOps.SortedOut]
        .collect().sortBy(_.seq_no)
      // event-time order: id12 (min 3) < id10 (min 5) < id11 (min 8)
      assert(rows.take(3).map(_.event_id).toSeq == Seq(12L, 10L, 11L),
        s"got ${rows.toSeq}")
      assert(rows.take(3).map(_.seq_no).toSeq == Seq(1L, 2L, 3L))
    } finally q.stop()
  }

  test("late rows are tagged to the side output instead of silently dropped") {
    import spark.implicits._
    val input = mem()
    val out = StatefulOps.withLateTag(
      input.toDS().withWatermark("ts", "2 minutes"))
    val q = out.toDF().writeStream.format("memory").queryName("late_tag_test")
      .outputMode("append").start()
    try {
      // batch 1 advances the watermark to minute 30 - 2
      input.addData(ev(60, 30, 6))
      q.processAllAvailable()
      // batch 2: minute 5 is far behind the watermark (late); minute 29 is not
      input.addData(ev(61, 5, 6), ev(62, 29, 6))
      q.processAllAvailable()
      val rows = spark.table("late_tag_test").as[StatefulOps.TaggedEvent]
        .collect().map(t => t.event_id -> t.is_late).toMap
      assert(rows == Map(60L -> false, 61L -> true, 62L -> false), s"got $rows")
    } finally q.stop()
  }

  test("file sink + checkpoint restarts exactly-once: no loss, no duplicates") {
    import spark.implicits._
    val input = mem()
    val dir = java.nio.file.Files.createTempDirectory("graft-eo").toString
    val out = s"$dir/out"; val ckpt = s"$dir/ckpt"
    def start() = input.toDS().toDF()
      .select(col("event_id"), col("user_id"), col("value"))
      .writeStream.format("parquet").option("path", out)
      .option("checkpointLocation", ckpt).outputMode("append").start()
    val q1 = start()
    try {
      input.addData(ev(50, 1, 9), ev(51, 2, 9))
      q1.processAllAvailable()
    } finally q1.stop()
    // restart from the SAME checkpoint — the committed batch must not replay
    val q2 = start()
    try {
      input.addData(ev(52, 3, 9))
      q2.processAllAvailable()
    } finally q2.stop()
    val ids = spark.read.parquet(out).select("event_id")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(ids == Seq(50L, 51L, 52L), s"expected exactly-once ids, got $ids")
  }

  test("proc-time bounded ROWS OVER keeps the last-N arrival window across batches") {
    import spark.implicits._
    val input = mem()
    val out = StatefulOps.over(input.toDS(), Order.Arrival,
      Frame(Peer.Row, Some(2)), CountSumCents)
    val q = out.toDF().writeStream.format("memory")
      .queryName("proc_over_bounded_test").outputMode("append").start()
    try {
      input.addData(ev(31, 9, 5, value = 1.0), ev(32, 2, 5, value = 2.0))
      q.processAllAvailable()
      // third arrival evicts the first: window is (2.0, 4.0) cents = 600
      input.addData(ev(33, 5, 5, value = 4.0))
      q.processAllAvailable()
      val rows = spark.table("proc_over_bounded_test")
        .as[CountSumOut].collect().sortBy(_.row_no)
      assert(rows.map(r => (r.event_id, r.row_no, r.agg._2)).toSeq ==
        Seq((31L, 1L, 100L), (32L, 2L, 300L), (33L, 3L, 600L)),
        s"got ${rows.toSeq}")
    } finally q.stop()
  }

  test("proc-time bounded RANGE OVER ages out whole arrival batches; peers share the aggregate") {
    import spark.implicits._
    val input = mem()
    // range = last 2 per-key micro-batches (the current one and 1 before)
    val out = StatefulOps.over(input.toDS(), Order.Arrival,
      Frame(Peer.MicroBatch, Some(1)), CountSumCents)
    val q = out.toDF().writeStream.format("memory")
      .queryName("proc_range_over_test").outputMode("append").start()
    try {
      // batch 0: two rows — peers, both see (cnt 2, 300)
      input.addData(ev(41, 9, 7, value = 1.0), ev(42, 1, 7, value = 2.0))
      q.processAllAvailable()
      // batch 1: frame covers batches {0,1} → (cnt 3, 350)
      input.addData(ev(43, 5, 7, value = 0.5))
      q.processAllAvailable()
      // batch 2: frame covers {1,2} — batch 0 retracts → (cnt 2, 75)
      input.addData(ev(44, 2, 7, value = 0.25))
      q.processAllAvailable()
      val rows = spark.table("proc_range_over_test")
        .as[CountSumOut].collect().sortBy(_.event_id)
      assert(rows.map(r => (r.event_id, r.agg._1, r.agg._2)).toSeq ==
        Seq((41L, 2L, 300L), (42L, 2L, 300L), (43L, 3L, 350L), (44L, 2L, 75L)),
        s"got ${rows.toSeq}")
    } finally q.stop()
  }

  test("proc-time OVER accumulates in arrival order across batches") {
    import spark.implicits._
    val input = mem()
    val out = StatefulOps.over(input.toDS(), Order.Arrival,
      Frame(Peer.Row, None), CountSumCents)
    val q = out.toDF().writeStream.format("memory").queryName("proc_over_test")
      .outputMode("append").start()
    try {
      // arrival order deliberately DISAGREES with event time: the minute-9
      // row arrives first and must get row_no 1
      input.addData(ev(21, 9, 4, value = 1.0))
      q.processAllAvailable()
      input.addData(ev(22, 2, 4, value = 2.0))
      q.processAllAvailable()
      val rows = spark.table("proc_over_test").as[CountSumOut]
        .collect().sortBy(_.row_no)
      assert(rows.map(r => (r.event_id, r.row_no, r.agg._2)).toSeq ==
        Seq((21L, 1L, 100L), (22L, 2L, 300L)))
    } finally q.stop()
  }

  test("range-frame OVER gives peer rows the same aggregate across batches") {
    import spark.implicits._
    val input = mem()
    val out = StatefulOps.over(input.toDS(), Order.EventTime,
      Frame(Peer.Timestamp, Some(5 * 60000L)), CountSumCents)
    val q = out.toDF().writeStream.format("memory").queryName("range_over_test")
      .outputMode("append").start()
    try {
      // batch 1: two peers at minute 1 + one row at minute 3
      input.addData(ev(31, 1, 6, value = 1.0), ev(32, 1, 6, value = 2.0),
        ev(33, 3, 6, value = 4.0))
      q.processAllAvailable()
      // batch 2: minute 8 — rows at minute 1 (older than 8−5) fall out
      input.addData(ev(34, 8, 6, value = 8.0))
      q.processAllAvailable()
      val rows = spark.table("range_over_test").as[CountSumOut]
        .collect().map(r => r.event_id -> r.agg).toMap
      assert(rows(31L) == (2L, 300L) && rows(32L) == (2L, 300L),
        s"peers must share the aggregate: $rows")
      assert(rows(33L) == (3L, 700L))
      assert(rows(34L) == (2L, 1200L), s"minute-1 rows must leave the frame: $rows")
    } finally q.stop()
  }

  test("custom retractable UDAGG drives the RANGE frame (sum of squares)") {
    import spark.implicits._
    // exact under add-then-subtract: integer cents squared
    object SumSquares
      extends StatefulOps.RetractableAggregateFunction[Long, Long, Long] {
      override def createAccumulator(): Long = 0L
      override def accumulate(acc: Long, c: Long): Long = acc + c * c
      override def retract(acc: Long, c: Long): Long = acc - c * c
      override def getValue(acc: Long): Long = acc
    }
    val input = mem()
    val out = StatefulOps.over(input.toDS(), Order.EventTime,
      Frame(Peer.Timestamp, Some(5 * 60000L)), SumSquares)
    val q = out.select(col("event_id"), col("user_id"), col("agg").as("ssq"))
      .writeStream
      .format("memory").queryName("range_udagg_test")
      .outputMode("append").start()
    try {
      input.addData(ev(41, 1, 6, value = 1.0), ev(42, 3, 6, value = 2.0))
      q.processAllAvailable()
      input.addData(ev(43, 8, 6, value = 3.0)) // minute-1 row retracts
      q.processAllAvailable()
      val rows = spark.table("range_udagg_test")
        .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
      assert(rows(41L) == 100L * 100)                  // 1.00²
      assert(rows(42L) == 100L * 100 + 200L * 200)
      assert(rows(43L) == 200L * 200 + 300L * 300,
        s"retract must remove the evicted square: $rows")
    } finally q.stop()
  }

  test("retract adapter emits (retract, add) pairs for updated keys") {
    import spark.implicits._
    val input = mem()
    val agg = input.toDF().groupBy(col("user_id")).agg(count(lit(1)).as("n"))
    // run in two explicit batches via the adapter's update-mode foreachBatch
    val rs = new RetractStream(Seq("user_id"))
    val q = agg.writeStream.outputMode("update")
      .foreachBatch((b: org.apache.spark.sql.DataFrame, id: Long) =>
        rs.onBatch(b, id))
      .start()
    try {
      input.addData(ev(1, 1, 3), ev(2, 2, 3))
      q.processAllAvailable()
      input.addData(ev(3, 3, 3))
      q.processAllAvailable()
      val ch = rs.changes.map { case (add, r) =>
        (add, r.getAs[Long]("user_id"), r.getAs[Long]("n")) }
      assert(ch == Seq((true, 3L, 2L), (false, 3L, 2L), (true, 3L, 3L)))
      assert(rs.snapshot.map(_.getAs[Long]("n")) == Seq(3L))
    } finally q.stop()
  }

  test("custom window triggers: count equivalence, delta firing, non-purging growth") {
    import spark.implicits._
    // CountFireTrigger(2) must reproduce tumbling count windows of 2
    val in1 = mem()
    val q1 = StatefulOps.triggeredGlobalWindows(in1.toDS(), CountFireTrigger(2))
      .toDF().writeStream.format("memory").queryName("trig_count")
      .outputMode("append").start()
    try {
      in1.addData(ev(1, 1, 1, value = 1.0), ev(2, 2, 1, value = 2.0),
        ev(3, 3, 1, value = 3.0))
      q1.processAllAvailable()
      in1.addData(ev(4, 4, 1, value = 4.0)) // completes the second window
      q1.processAllAvailable()
      val rows = spark.table("trig_count").as[StatefulOps.WindowOut]
        .collect().sortBy(_.win_idx)
      assert(rows.map(r => (r.win_idx, r.n_events, r.sum_cents)).toSeq ==
        Seq((0L, 2, 300L), (1L, 2, 700L)), s"${rows.toSeq}")
    } finally q1.stop()
    // DeltaTrigger: fire when a value deviates >= 2.00 from the window head
    val in2 = mem()
    val q2 = StatefulOps.triggeredGlobalWindows(in2.toDS(),
        DeltaFireTrigger(200L))
      .toDF().writeStream.format("memory").queryName("trig_delta")
      .outputMode("append").start()
    try {
      in2.addData(ev(11, 1, 2, value = 1.0), ev(12, 2, 2, value = 1.5),
        ev(13, 3, 2, value = 3.2), ev(14, 4, 2, value = 3.3))
      q2.processAllAvailable()
      val rows = spark.table("trig_delta").as[StatefulOps.WindowOut]
        .collect()
      // fires once at 3.2 (|320-100| >= 200), window {1.0,1.5,3.2}; 3.3
      // starts the next window and stays pending
      assert(rows.map(r => (r.win_idx, r.n_events, r.sum_cents)).toSeq ==
        Seq((0L, 3, 570L)), s"${rows.toSeq}")
    } finally q2.stop()
    // non-purging count: the window keeps growing across fires
    val in3 = mem()
    val q3 = StatefulOps.triggeredGlobalWindows(in3.toDS(),
        CountFireTrigger(2, purge = false))
      .toDF().writeStream.format("memory").queryName("trig_grow")
      .outputMode("append").start()
    try {
      in3.addData(ev(21, 1, 3, value = 1.0), ev(22, 2, 3, value = 1.0),
        ev(23, 3, 3, value = 1.0))
      q3.processAllAvailable()
      in3.addData(ev(24, 4, 3, value = 1.0))
      q3.processAllAvailable()
      val rows = spark.table("trig_grow").as[StatefulOps.WindowOut]
        .collect().sortBy(_.win_idx)
      // reference CountTrigger: fires at every n-th arrival (counter
      // clears on fire) while the un-purged window keeps growing — the
      // 2nd and 4th arrivals fire, over 2 then 4 accumulated elements
      assert(rows.map(r => (r.win_idx, r.n_events, r.sum_cents)).toSeq ==
        Seq((0L, 2, 200L), (1L, 4, 400L)), s"${rows.toSeq}")
    } finally q3.stop()
  }

  test("degenerate window sizes and frame extents fail by name before any stream starts") {
    import spark.implicits._
    val streams = StreamProgress.attach(spark)
    try {
      val mark = streams.mark()
      val in = mem().toDS()
      def fails(name: String)(build: => Any): Unit = {
        val e = intercept[IllegalArgumentException](build)
        assert(e.getMessage.contains(name), e.getMessage)
      }
      // countWindow(size = 0) and countWindow(size, slide = 0)
      fails("CountFireTrigger n must be >= 1")(
        StatefulOps.triggeredGlobalWindows(in, CountFireTrigger(0)))
      fails("CountFireTrigger n must be >= 1")(StatefulOps.triggeredGlobalWindows(
        in, CountFireTrigger(0, purge = false), Some(CountEvictor(3))))
      fails("CountEvictor maxCount must be >= 1")(StatefulOps.triggeredGlobalWindows(
        in, CountFireTrigger(2, purge = false), Some(CountEvictor(0))))
      // a ROWS frame of 0 rows would aggregate nothing
      fails("Frame(Row) extent must be >= 1")(StatefulOps.over(in,
        Order.EventTime, Frame(Peer.Row, Some(0)), CountSumCents))
      fails("Frame(Timestamp) extent must be >= 0")(StatefulOps.over(in,
        Order.EventTime, Frame(Peer.Timestamp, Some(-1)), CountSumCents))
      fails("Frame(MicroBatch) extent must be >= 0")(StatefulOps.over(in,
        Order.Arrival, Frame(Peer.MicroBatch, Some(-1)), CountSumCents))
      fails("Timestamp peers need Order.EventTime")(StatefulOps.over(in,
        Order.Arrival, Frame(Peer.Timestamp, Some(0)), CountSumCents))
      // the least legal sizes build
      StatefulOps.triggeredGlobalWindows(in, CountFireTrigger(1), Some(CountEvictor(1)))
      StatefulOps.over(in, Order.EventTime, Frame(Peer.Row, Some(1)), CountSumCents)
      StatefulOps.over(in, Order.EventTime, Frame(Peer.Timestamp, Some(0)), CountSumCents)
      assert(streams.since(mark).isEmpty, "no stream may start")
    } finally streams.detach()
  }

  test("punctuated watermarks: marker records advance the per-key watermark") {
    import spark.implicits._
    val input = mem()
    // records of type "wm" are punctuations carrying their own timestamp
    val out = StatefulOps.punctuatedLateTag(input.toDS(), Order.Arrival) { e =>
      if (e.event_type == "wm") Some(e.ts.getTime) else None
    }
    val q = out.toDF().writeStream.format("memory").queryName("punct_test")
      .outputMode("append").start()
    try {
      input.addData(ev(1, 5, 9), ev(2, 10, 9, typ = "wm"), ev(3, 8, 9))
      q.processAllAvailable()
      // the watermark persists across batches; it never regresses
      input.addData(ev(4, 12, 9), ev(5, 7, 9, typ = "wm"), ev(6, 9, 9))
      q.processAllAvailable()
      val rows = spark.table("punct_test").as[StatefulOps.PunctOut]
        .collect().sortBy(_.event_id)
      assert(rows.map(r => r.event_id -> r.is_late).toSeq == Seq(
        1L -> false, // nothing established yet
        2L -> false, // the punctuation itself is judged before it applies
        3L -> true,  // minute 8 behind the minute-10 watermark
        4L -> false,
        5L -> true,  // late punctuation: judged late AND cannot regress wm
        6L -> true), s"${rows.toSeq}")
      assert(rows.last.wm_ms == rows(3).wm_ms,
        "a lower punctuation must not move the watermark backwards")
    } finally q.stop()
  }

  test("punctuated watermarks (ordered): out-of-order arrivals are judged in (ts, event_id) order") {
    import spark.implicits._
    val input = mem()
    val out = StatefulOps.punctuatedLateTag(input.toDS(), Order.EventTime) { e =>
      if (e.event_type == "wm") Some(e.ts.getTime) else None
    }
    val q = out.toDF().writeStream.format("memory").queryName("punct_ord")
      .outputMode("append").start()
    try {
      // batch 1 arrives scrambled: the ordered variant must sort each
      // batch to (ts, event_id) before marker-after-element judgement,
      // so the result is a pure function of the data (the oracle contract)
      input.addData(ev(2, 10, 9, typ = "wm"), ev(1, 5, 9))
      q.processAllAvailable()
      // batch 2: ts 8 is genuinely late vs the minute-10 watermark from
      // batch 1; within the batch, ev(4) sorts before ev(5) and its
      // marker applies to ev(5) only after ev(4) was judged
      input.addData(ev(5, 12, 9), ev(3, 8, 9), ev(4, 11, 9, typ = "wm"))
      q.processAllAvailable()
      val rows = spark.table("punct_ord").as[StatefulOps.PunctOut]
        .collect().sortBy(_.event_id)
      assert(rows.map(r => r.event_id -> r.is_late).toSeq == Seq(
        1L -> false, // first in (ts, id) order: no watermark yet
        2L -> false, // the marker itself precedes its own watermark
        3L -> true,  // minute 8 behind the minute-10 cross-batch watermark
        4L -> false, // minute 11 ahead of watermark 10; then marks wm=11
        5L -> false),// minute 12 ahead of the in-batch-advanced wm=11
        s"${rows.toSeq}")
      // exact watermark values: minute-10 marker judges 3 and 4; the
      // in-batch minute-11 marker judges 5
      assert(rows(2).wm_ms.contains(3600000L + 10 * 60000L), s"${rows(2)}")
      assert(rows(4).wm_ms.contains(3600000L + 11 * 60000L), s"${rows(4)}")
      assert(rows(0).wm_ms.isEmpty, "no watermark before the first marker")
    } finally q.stop()
  }

  test("custom socket source: offsets slice the line buffer, batches split, commit trims") {
    import graft.streaming.{GraftSocketMicroBatchStream, GraftSocketPartition}
    import graft.streaming.GraftSocketSource.CountOffset
    val server = new java.net.ServerSocket(0, 2,
      java.net.InetAddress.getByName("127.0.0.1"))
    val feeder = new Thread(() => {
      val sock = server.accept()
      val out = new java.io.PrintWriter(sock.getOutputStream)
      (1 to 10).foreach(i => out.println(s"line$i"))
      out.flush()
    })
    feeder.setDaemon(true); feeder.start()
    val stream = new GraftSocketMicroBatchStream(
      "127.0.0.1", server.getLocalPort, numPartitions = 4)
    try {
      val deadline = System.nanoTime() + 20L * 1000 * 1000 * 1000
      while (stream.latestOffset().asInstanceOf[CountOffset].n < 10 &&
             System.nanoTime() < deadline) Thread.sleep(10)
      assert(stream.latestOffset().asInstanceOf[CountOffset].n == 10)
      // the 10-line range splits into ceil(10/4)=3-line chunks → 4 tasks
      val parts = stream.planInputPartitions(CountOffset(0), CountOffset(10))
        .map(_.asInstanceOf[GraftSocketPartition].rows.toSeq)
      assert(parts.map(_.length).sum == 10 && parts.length == 4, parts.toSeq)
      assert(parts.flatten.toSeq == (1 to 10).map(i => s"line$i"),
        "order within the range must be arrival order")
      // a replay of a sub-range is a buffer slice
      assert(stream.planInputPartitions(CountOffset(4), CountOffset(6))
        .flatMap(_.asInstanceOf[GraftSocketPartition].rows).toSeq ==
        Seq("line5", "line6"))
      stream.commit(CountOffset(10))
      // committed lines are gone; asking for them again must fail loudly
      assert(stream.planInputPartitions(CountOffset(10), CountOffset(10)).isEmpty)
      intercept[IllegalArgumentException] {
        stream.planInputPartitions(CountOffset(5), CountOffset(10))
      }
      // ...and so must a range (or commit) beyond the buffered data —
      // silent truncation would zero a recovered batch
      intercept[IllegalArgumentException] {
        stream.planInputPartitions(CountOffset(10), CountOffset(11))
      }
      intercept[IllegalArgumentException] { stream.commit(CountOffset(11)) }
    } finally { stream.stop(); server.close() }
  }

  test("queryable state: the state-store source exposes per-key aggregation state") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-qstate").toString
    val input = mem()
    val agg = input.toDS().groupBy(col("user_id")).agg(count(lit(1)).as("n"))
    val q = agg.writeStream.format("memory").queryName("qstate_sink")
      .outputMode("update").option("checkpointLocation", dir).start()
    try {
      input.addData(ev(1, 1, 1), ev(2, 2, 1), ev(3, 3, 2))
      q.processAllAvailable()
      input.addData(ev(4, 4, 1))
      q.processAllAvailable()
      def counts(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
        df.selectExpr("key.user_id", "value.*").collect()
          .map(r => r.getLong(0) -> r.getLong(r.length - 1)).toMap
      // current state: as-of the last committed batch
      assert(counts(StatefulOps.queryableState(spark, dir)) ==
        Map(1L -> 3L, 2L -> 1L))
      // point-in-time: as-of batch 0, user 1 had seen two events
      assert(counts(StatefulOps.queryableState(spark, dir, Some(0L))) ==
        Map(1L -> 2L, 2L -> 1L))
    } finally q.stop()
  }

  test("retract adapter reclaims superseded snapshot generations") {
    import spark.implicits._
    def batchDf(rows: (Long, Long)*) = rows.toSeq.toDF("user_id", "n")
    // default (parquet generations): exactly one generation dir survives
    val rs = new RetractStream(Seq("user_id"))
    rs.onBatch(batchDf(1L -> 1L, 2L -> 1L), 0)
    rs.onBatch(batchDf(1L -> 2L), 1)
    rs.onBatch(batchDf(2L -> 2L, 3L -> 1L), 2)
    val files = rs.snapshotDf.get.inputFiles
    val base = new java.io.File(new java.net.URI(files.head))
      .getParentFile.getParentFile
    val gens = base.listFiles.filter(_.getName.startsWith("snap_gen_")).toSeq
    assert(gens.map(_.getName) == Seq("snap_gen_2"), s"$gens")
    assert(rs.snapshot.map(r =>
      r.getAs[Long]("user_id") -> r.getAs[Long]("n")).toMap ==
      Map(1L -> 2L, 2L -> 2L, 3L -> 1L))
    // persisted-RDD mode: each batch unpersists the superseded generation
    val before = spark.sparkContext.getPersistentRDDs.size
    val rsm = new RetractStream(Seq("user_id"),
      Some(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    rsm.onBatch(batchDf(1L -> 1L), 0)
    rsm.onBatch(batchDf(1L -> 2L), 1)
    rsm.onBatch(batchDf(1L -> 3L), 2)
    assert(spark.sparkContext.getPersistentRDDs.size <= before + 1,
      "superseded snapshot generations must be unpersisted")
    assert(rsm.snapshot.map(_.getAs[Long]("n")) == Seq(3L))
  }

  test("changelog compaction: changesDf row-identical, file count bounded") {
    import spark.implicits._
    def batchDf(rows: (Long, Long)*) = rows.toSeq.toDF("user_id", "n")
    // reference run without compaction
    val plain = new RetractStream(Seq("user_id"))
    // compacted run: rewrite the changelog every 2 batches
    val comp = new RetractStream(Seq("user_id"), compactEvery = 2)
    // accessors before any batch: guarded, not NPE/FileNotFound
    assert(comp.changelogFileCount == 0)
    val batches = Seq(
      Seq(1L -> 1L, 2L -> 1L), Seq(1L -> 2L), Seq(2L -> 2L, 3L -> 1L),
      Seq(1L -> 3L, 3L -> 2L), Seq(2L -> 3L))
    batches.zipWithIndex.foreach { case (rows, id) =>
      plain.onBatch(batchDf(rows: _*), id.toLong)
      comp.onBatch(batchDf(rows: _*), id.toLong)
    }
    def key(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getInt(0), r.getBoolean(1),
        r.getAs[Long]("user_id"), r.getAs[Long]("n"))).sortBy(t => (t._1, t._3, t._2))
    // compaction is a pure rewrite — identical changelog contents
    assert(key(comp.changesDf).toSeq == key(plain.changesDf).toSeq)
    // bounded file count: at most compactEvery batches of appends since the
    // last rewrite, plus the single compacted file
    assert(comp.changelogFileCount <= 2 * 4 + 1,
      s"file count ${comp.changelogFileCount} not bounded by compaction")
    assert(comp.changelogFileCount < plain.changelogFileCount,
      "compaction must reduce the live generation's file count")
    // empty-adapter changesDf: empty with the right schema
    val empty = new RetractStream(Seq("user_id"))
    empty.onBatch(batchDf().limit(0), 0L)
    assert(empty.changesDf.columns.take(2).toSeq == Seq("batch_id", "is_add"))
    assert(empty.changesDf.count() == 0)
  }

  test("coProcess: two connected streams share per-key state") {
    import spark.implicits._
    import StatefulOps.CoEvent
    implicit val sqlCtx = spark.sqlContext
    // left stream sets a per-key budget; right stream spends against it
    val budgets = MemoryStream[CoEvent[Long, Long]]
    val spends = MemoryStream[CoEvent[Long, Long]]
    val out = StatefulOps.coProcess[Long, Long, Long, (Long, Long, String)](
      budgets.toDS(), spends.toDS(), zero = 0L)(
      onLeft = (s, budget) => (s + budget, Iterator.empty),
      onRight = (s, spend) =>
        if (spend <= s) (s - spend, Iterator.single((spend, s - spend, "ok")))
        else (s, Iterator.single((spend, s, "rejected"))))
    val q = out.toDF("amount", "remaining", "status").writeStream
      .format("memory").queryName("coproc").outputMode("append").start()
    try {
      budgets.addData(CoEvent[Long, Long](1L, 10L, 1L, Some(100L), None))
      q.processAllAvailable()
      spends.addData(CoEvent[Long, Long](1L, 20L, 2L, None, Some(30L)),
        CoEvent[Long, Long](1L, 30L, 3L, None, Some(90L)))
      q.processAllAvailable()
      val rows = spark.table("coproc").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
      assert(rows == Set((30L, 70L, "ok"), (90L, 70L, "rejected")))
    } finally q.stop()
  }

  test("rate source produces rows (built-in streaming source smoke)") {
    val q = spark.readStream.format("rate")
      .option("rowsPerSecond", "500").load()
      .writeStream.format("memory").queryName("rate_smoke")
      .outputMode("append").start()
    try {
      Thread.sleep(1500)
      q.processAllAvailable()
      assert(spark.table("rate_smoke").columns.toSet == Set("timestamp", "value"))
      assert(spark.table("rate_smoke").count() > 0)
    } finally q.stop()
  }

  test("fixture ts invariant: streamed event time equals the batch loader's; quarters non-degenerate") {
    // Guards the failure class that took out 14 oracle rows in round 5: the
    // fixture's physical ts type changed (INT64-nanos -> native µs) and the
    // streaming reader's hardcoded unit conversion silently compressed a
    // month of event time into minutes. The batch loader (Tables.load) is
    // the normalization reference; both streaming paths must agree with it.
    // compare as LTZ instants: the batch loader may surface NTZ for native
    // µs fixtures, while the streaming readers always normalize to LTZ
    // (watermarks reject NTZ); under the UTC session the cast is faithful
    val ltz = col("ts").cast(org.apache.spark.sql.types.TimestampType)
    val batch = Tables.load(spark, sfDir, "events")
      .agg(min(ltz), max(ltz), count(lit(1))).collect()(0)
    for ((df, label) <- Seq(
        EventStream.read(spark, sfDir) -> "read",
        EventStream.readMultiBatch(spark, sfDir) -> "readMultiBatch")) {
      val got = EventStream.runToTable(spark,
        df.agg(min(col("ts")).as("mn"), max(col("ts")).as("mx"),
          count(lit(1)).as("n")), "complete").collect()(0)
      assert(got.getTimestamp(0) == batch.getTimestamp(0),
        s"$label min(ts): ${got.getTimestamp(0)} != batch ${batch.getTimestamp(0)}")
      assert(got.getTimestamp(1) == batch.getTimestamp(1),
        s"$label max(ts): ${got.getTimestamp(1)} != batch ${batch.getTimestamp(1)}")
      assert(got.getLong(2) == batch.getLong(2), s"$label row count")
    }
    // and the staged replay quarters must be a REAL multi-batch split —
    // r5's bug landed every row in one quarter, collapsing the replay to a
    // single micro-batch
    val qdir = EventStream.stageQuarters(spark, sfDir)
    (0 to 3).foreach { q =>
      assert(spark.read.parquet(s"$qdir/q$q.parquet").count() > 0,
        s"staged quarter q$q is empty — degenerate multi-batch replay")
    }
  }

  test("round-robin late replay: both late and on-time outcomes occur, rows conserved") {
    // Guards the late-data oracle rows (stream_late_side_output,
    // stream_allowed_lateness) against fixture drift making the late path
    // vacuous: the event_id % 4 split must produce BOTH genuinely late
    // rows (batches 1-3 behind the watermark batch 0 established) and
    // on-time rows, and the replay must conserve the fixture exactly.
    val tagged = SparkEntry.queries("stream_late_side_output")(spark, sfDir)
      .groupBy(col("is_late")).count().collect()
      .map(r => r.getBoolean(0) -> r.getLong(1)).toMap
    val total = Tables.load(spark, sfDir, "events").count()
    assert(tagged.values.sum == total,
      s"late-tag replay dropped rows: $tagged vs $total")
    assert(tagged.getOrElse(true, 0L) > 0L,
      "no late rows — the round-robin split no longer exercises lateness")
    assert(tagged.getOrElse(false, 0L) > 0L, "no on-time rows")
  }

  test("end-of-stream file-source results equal batch semantics (smoke)") {
    val out = SparkEntry.queries("stream_running_agg")(spark, sfDir)
    val batch = Tables.load(spark, sfDir, "events")
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n"),
        sum(expr("CAST(round(value * 100) AS BIGINT)")).as("sum_cents"))
    assert(out.exceptAll(batch).isEmpty && batch.exceptAll(out).isEmpty)
  }

  test("iterate stream: a failing step surfaces the error, not partial output") {
    // batch 0's output lands before the feedback projection evaluates, so
    // a drain detector watching commit silence alone would return it as a
    // complete trajectory; the loop must rethrow the stream's death instead
    val seed = spark.range(4).selectExpr("id", "CAST(0 AS LONG) AS iter",
      "id + 1 AS value")
    val ex = intercept[Exception] {
      graft.streaming.IterateStream.run(spark, seed,
        stepValue = _ => expr("CAST(raise_error('step failed') AS BIGINT)"),
        continues = v => v > 0, timeoutMs = 60000L)
    }
    val msgs = Iterator.iterate(ex: Throwable)(_.getCause)
      .takeWhile(_ != null).map(t => Option(t.getMessage).getOrElse(""))
      .mkString("\n")
    assert(msgs.contains("step failed"),
      s"expected the step's error in the failure chain, got:\n$msgs")
  }

  test("iterate stream: unrolled loop emits the identical row set") {
    // r13 optimization contract: unroll amortizes per-micro-batch fixed
    // cost but every (id, iter, value) row still appears exactly once
    val seed = spark.range(6).selectExpr("id", "CAST(0 AS LONG) AS iter",
      "id + 9 AS value")
    def run(u: Int) = graft.streaming.IterateStream.run(spark, seed,
        stepValue = _ => expr("CAST(value div 2 AS BIGINT)"),
        continues = v => v > 0, unroll = u)
      .collect().map(_.toSeq).toSeq
    val one = run(1)
    val three = run(3)
    assert(one.size == one.toSet.size, "unroll=1 emitted duplicate rows")
    assert(three.size == three.toSet.size, "unroll=3 emitted duplicate rows")
    assert(one.toSet == three.toSet,
      "unrolled loop diverged from one-step-per-superstep output")
  }

  test("forwarded side input: pre-distributed sides are not moved; values equal keyed variant") {
    import spark.implicits._
    import graft.streaming.{ForwardedSideInput, KeyedSideInput, SideInput}
    // "pre-distributed" = a durable co-located layout (bucketed tables —
    // the same no-exchange path PartitionOpsSpec pins); forward() means
    // the engine must not move what the caller already laid out
    (1L to 500L).map(i => (i % 40, i)).toDF("k", "v")
      .write.mode("overwrite").bucketBy(4, "k").saveAsTable("fwd_main")
    (0L until 40L).map(i => (i, s"s$i")).toDF("k", "payload")
      .write.mode("overwrite").bucketBy(4, "k").saveAsTable("fwd_side")
    val main = spark.table("fwd_main")
    val side = spark.table("fwd_side")
    val fwd = SideInput.withSideInput(main, ForwardedSideInput(side, Seq("k")))
    fwd.collect()
    val p = fwd.queryExecution.executedPlan.toString
    // the forward contract: the engine moves NOTHING — both sides'
    // existing hash distribution satisfies the join, zero new exchanges,
    // and no broadcast replication either
    assert(!p.contains("Exchange hashpartitioning"),
      s"forwarded side input must not redistribute:\n${p.take(2000)}")
    assert(!p.contains("BroadcastHashJoin"),
      s"forward must not replicate the side:\n${p.take(1500)}")
    // physical directive only — values identical to the keyed variant
    val keyed = SideInput.withSideInput(main, KeyedSideInput(side, Seq("k")))
    assert(fwd.collect().map(_.toSeq).toSet == keyed.collect().map(_.toSeq).toSet)
  }

  test("forwarded side input: an unprepared or wrongly-keyed side fails fast") {
    import spark.implicits._
    import graft.streaming.{ForwardedSideInput, SideInput}
    val main = (1L to 100L).map(i => (i % 10, i)).toDF("k", "v")
    // no layout at all — the reference's forward() rejects this at graph
    // build time; Spark would silently exchange, so withSideInput must
    // raise instead (ForwardedSideInput.java:25 strictness)
    val bare = (0L until 10L).map(i => (i, s"s$i")).toDF("k", "payload")
    val e1 = intercept[IllegalArgumentException] {
      SideInput.withSideInput(main, ForwardedSideInput(bare, Seq("k")))
    }
    assert(e1.getMessage.contains("no forwardable layout"), e1.getMessage)
    // distributed, but on the WRONG column — also a reject, not a silent
    // re-exchange
    val wrong = bare.repartition(col("payload"))
    val e2 = intercept[IllegalArgumentException] {
      SideInput.withSideInput(main, ForwardedSideInput(wrong, Seq("k")))
    }
    assert(e2.getMessage.contains("not"), e2.getMessage)
    // correctly keyed passes and joins
    val ok = SideInput.withSideInput(main,
      ForwardedSideInput(bare.repartition(col("k")), Seq("k")))
    assert(ok.count() == 100L)
  }
}
