package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, Trigger}
import org.apache.spark.sql.types._

import org.apache.hadoop.fs.Path
import org.apache.spark.ListenerBuses
import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryListenerBus
import graft.sources.StagingFs

import java.sql.Timestamp

/** Streaming ingestion of the `events` fixture + run helpers.
  *
  * The events table replays through Spark's file streaming source
  * (`readStream.parquet`) — the real Structured Streaming scan, state and
  * sink machinery run end-to-end; `Trigger.AvailableNow` drains the input and
  * terminates, so end-of-stream results are comparable against the batch
  * (DuckDB) oracle. Incremental multi-batch behavior is exercised separately
  * with `MemoryStream` in StreamingSpec.
  */
object EventStream {

  case class EventRow(event_id: Long, ts: Timestamp, user_id: Long,
                      event_type: String, value: Double, props: String)

  /** Streamed schema for the staged raw fixture copy. The fixture's `ts`
    * physical type has varied across driver generations — INT64
    * TIMESTAMP(NANOS) (readable only as LongType via
    * spark.sql.legacy.parquet.nanosAsLong) vs native TIMESTAMP(MICROS)
    * (TimestampType) — so the streamed schema must match what the file
    * actually stores; a LongType schema over a µs file would re-divide
    * already-µs values and compress event time 1000×. */
  private def rawSchema(tsType: DataType): StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", tsType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** Streaming view of `events` with a µs `ts` of TimestampType (LTZ) —
    * normalized per the fixture's ACTUAL physical type: LongType nanos →
    * integer ns→µs division; native timestamp → pass-through/cast. The
    * streamed type is always LTZ because Spark's event-time machinery
    * (`withWatermark`) rejects TIMESTAMP_NTZ, and the sessions run UTC so
    * the NTZ→LTZ cast is value-faithful.
    *
    * The file streaming source requires a directory; the fixture is a single
    * read-only file, so it is copied into a stage directory once per
    * (application, fixture) by [[StagingFs.stage]] (a copy, not a symlink —
    * symlinks don't exist on HDFS/S3, and the copy works across schemes:
    * local fixture → cluster staging root). */
  def read(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftExtensions.install(spark)
    // physical `ts` type from the memoized fixture schema, as the batch
    // loader (`Tables.normalizeEvents`) detects it
    val tsType = graft.Tables.schema(spark, dir, "events")("ts").dataType
    val df = spark.readStream.schema(rawSchema(tsType))
      .parquet(stageDir(spark, dir))
    tsType match {
      case LongType =>
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampType => df
      case _ => df.withColumn("ts", col("ts").cast(TimestampType))
    }
  }

  private def stageDir(spark: SparkSession, dir: String): String =
    StagingFs.stage(spark, dir, "graft-stream-src") { p =>
      StagingFs.copyFile(spark, new Path(dir, "events.parquet"),
        new Path(p, "events.parquet"))
    }

  /** Deterministic MULTI-batch replay: the events fixture split into 4
    * time-quarter parquet files with strictly increasing modification
    * times, read with `maxFilesPerTrigger = 1` — the file source then
    * processes exactly one quarter per micro-batch, in time order, so
    * micro-batch ids (and everything derived from them, like retract
    * changelogs) are data-determined and oracle-comparable. */
  def readMultiBatch(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftExtensions.install(spark)
    // the quarters are staged ALREADY NORMALIZED to TimestampType (LTZ) —
    // no per-format unit branch here, the rewrite absorbed it
    spark.readStream.schema(rawSchema(TimestampType))
      .option("maxFilesPerTrigger", 1)
      .parquet(stageQuarters(spark, dir))
  }

  /** The stage directory of the time-quarter split: `q0.parquet` …
    * `q3.parquet`, one per 8 days of `ts`, built once per (application,
    * fixture) by [[writeSplits]]. */
  private[graft] def stageQuarters(spark: SparkSession, dir: String): String =
    stageSplit(spark, dir, "graft-stream-quarters",
      ((dayofmonth(col("ts")) - 1) / 8).cast("int"))

  /** Deterministic OUT-OF-ORDER replay: the fixture split round-robin by
    * `event_id % 4` instead of by time, so batches 1-3 each contain rows
    * whose event time is far behind the watermark established by the
    * earlier batches — the late-data path (allowedLateness /
    * sideOutputLateData) becomes value-oracle-able because the per-batch
    * watermark trajectory (cumulative prior-batch max(ts) − delay) is a
    * pure function of the data. */
  def readLateBatches(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftExtensions.install(spark)
    spark.readStream.schema(rawSchema(TimestampType))
      .option("maxFilesPerTrigger", 1)
      .parquet(stageSplit(spark, dir, "graft-stream-rrobin",
        pmod(col("event_id"), lit(4)).cast("int")))
  }

  // the batch loader already normalizes ts for any fixture format; writing
  // its output makes the splits format-independent
  private def stageSplit(spark: SparkSession, dir: String, prefix: String,
                         split: Column): String =
    StagingFs.stage(spark, dir, prefix) { p =>
      writeSplits(spark, p, graft.Tables.load(spark, dir, "events")
        .select(rawSchema(LongType).fieldNames.toSeq.map(col): _*)
        .withColumn("ts", col("ts").cast(TimestampType)), split)
    }

  /** Write `rows` into the stage directory `p` as `q0.parquet` …
    * `q3.parquet`, one single-file split per value 0–3 of `split`, with
    * strictly increasing mtimes: read with `maxFilesPerTrigger = 1`, the
    * file source replays one split per micro-batch, in split order. */
  private[streaming] def writeSplits(spark: SparkSession, p: String,
                                     rows: DataFrame, split: Column): Unit = {
    // persisted across the count + 4 split writes — without it the full
    // fixture scan re-executes 5×
    val raw = rows.withColumn("__q", split).persist()
    try {
      // a batch with zero rows means the replay silently degenerates to
      // fewer real micro-batches (r5 failure mode) — fail loudly
      val qCounts = raw.groupBy(col("__q")).count().collect()
        .map(r => r.getInt(0) -> r.getLong(1)).toMap
      require((0 to 3).forall(q => qCounts.getOrElse(q, 0L) > 0L),
        s"degenerate batch split (rows per batch: $qCounts) — " +
          "fixture no longer populates all 4 split buckets")
      (0 to 3).foreach { q =>
        val tmpOut = new Path(p, s"tmp_q$q")
        raw.filter(col("__q") === q).drop("__q")
          .coalesce(1).write.parquet(tmpOut.toString)
        val part = StagingFs.listParts(spark, tmpOut.toString).head.getPath
        val dst = new Path(p, s"q$q.parquet")
        require(StagingFs.fs(spark, part).rename(part, dst),
          s"rename $part -> $dst failed")
        StagingFs.setMtime(spark, dst, 1700000000000L + q * 60000L)
        StagingFs.delete(spark, tmpOut)
      }
    } finally raw.unpersist()
  }

  /** Stop/restore across a REAL restart — the reference's savepoint →
    * resume contract (`flink-runtime` checkpointing; `SavepointV2`):
    * run a stateful aggregation over the FIRST TWO replay quarters with a
    * checkpoint, let the query terminate, then start a NEW query from the
    * same checkpoint after the remaining quarters appear. The restored
    * run must produce the aggregate over ALL the data — counts covering
    * only the post-restart files would mean the state never came back,
    * so the batch oracle pins recovery exactly. */
  def checkpointRecoveryCounts(spark: SparkSession, dir: String): DataFrame = {
    val quarters = stageQuarters(spark, dir)
    val work = StagingFs.newStageDir(spark, "graft-ckpt-src")
    val ckpt = StagingFs.newStageDir(spark, "graft-ckpt-state")
    def copyQ(q: Int): Unit = StagingFs.copyFile(spark,
      new Path(quarters, s"q$q.parquet"), new Path(work, s"q$q.parquet"))
    def runOnce(): DataFrame = {
      val name = s"graft_stream_ckpt_${runId.incrementAndGet()}"
      val counts = spark.readStream.schema(rawSchema(TimestampType))
        .option("maxFilesPerTrigger", 1).parquet(work)
        .groupBy(col("user_id")).agg(count(lit(1)).as("n"))
      start(spark, counts.writeStream.format("memory").queryName(name)
        .outputMode("complete").trigger(Trigger.AvailableNow()),
        statePartitions = 4, checkpoint = Some(ckpt))(_.awaitTermination())
      spark.table(name)
    }
    (0 to 1).foreach(copyQ)
    val firstRun = runOnce() // terminates; state lives only in the checkpoint
    require(firstRun.count() > 0, "pre-restart run produced no state")
    (2 to 3).foreach(copyQ)
    val restored = runOnce() // NEW query, fresh sink — restored state + q2/q3
    // a recovery failure (no batch fired, state not restored) must report
    // itself directly, not as a confusing oracle hash mismatch downstream
    require(restored.count() > 0,
      "post-restart run produced no output — checkpoint state not restored")
    restored
  }

  private val runId = new java.util.concurrent.atomic.AtomicInteger(0)

  /** Non-file streaming ingestion: feed the events fixture through a
    * localhost TCP socket and read it back with Spark's socket source —
    * the reference's `addSource` / `socketTextStream` family
    * (`StreamExecutionEnvironment.java:1186-1270`), the one source kind the
    * file-replay fixtures don't exercise. Returns the per-user counts once
    * the FULL fixture has been consumed: the aggregation runs in complete
    * mode, so the final table is batch-deterministic no matter how the
    * socket bytes chunk into micro-batches.
    *
    * A socket is a single-point ingress in the reference too (parallelism
    * 1) — this is a correctness surface, not a scale path; the feeder
    * collect is the test harness, not the operator. */
  // feeder payload cache: the socket FEEDER (test harness, not the
  // operator) replays the fixture's user_id column; memoized per
  // (dir, fixture stamp), so a best-of-2 bench pass doesn't re-scan the
  // fixture to refill the feed
  private val feedIdsCache =
    new java.util.concurrent.ConcurrentHashMap[String, Array[Long]]()

  def socketCounts(spark: SparkSession, dir: String,
                   format: String = "socket",
                   statePartitions: Int = 1,
                   sourcePartitions: Int = 1,
                   sampleMod: Long = 1L): DataFrame = {
    require(sampleMod >= 1, s"sampleMod must be >= 1: $sampleMod")
    val srcStamp = dir + "|mod" + sampleMod + "|" +
      StagingFs.fileStamp(spark, new Path(dir, "events.parquet"))
    val userIds = feedIdsCache.computeIfAbsent(srcStamp, _ => {
      val ev = graft.Tables.load(spark, dir, "events")
      // sampleMod > 1: a deterministic key-subset feed (event_id stride) —
      // the volume-slope companion row that separates per-row drain cost
      // from the fixed micro-batch/harness overhead
      val sub = if (sampleMod == 1L) ev
                else ev.filter(col("event_id") % sampleMod === 0L)
      sub.select(col("user_id")).collect().map(_.getLong(0))
    })
    val server = new java.net.ServerSocket(0, 8,
      java.net.InetAddress.getByName("127.0.0.1"))
    // PrintWriter never throws — a broken pipe mid-feed would silently drop
    // rows and the wait loop below would stall to its deadline with a
    // generic "incomplete" message; surface the real cause instead
    val feedError = new java.util.concurrent.atomic.AtomicReference[String](null)
    val feedsDone = new java.util.concurrent.atomic.AtomicInteger(0)
    // ACCEPT LOOP, full replay per connection: the source owns exactly one
    // live connection at a time, but it may connect more than once (query
    // (re)initialization races) — a single accept would feed a dead socket
    // and stall the wait loop to its 120 s deadline. Rows written to a
    // connection the source abandoned are discarded with that source
    // instance, so replaying the full fixture per accept stays exact.
    val feeder = new Thread(() => {
      try {
        while (!server.isClosed) {
          val sock = server.accept()
          try {
            val out = new java.io.PrintWriter(new java.io.BufferedWriter(
              new java.io.OutputStreamWriter(sock.getOutputStream, "UTF-8"),
              1 << 16))
            userIds.foreach(out.println)
            out.flush()
            if (out.checkError()) feedError.set("socket write failed mid-feed")
            else feedsDone.incrementAndGet()
          } finally sock.close()
        }
      } catch {
        case _: Throwable if server.isClosed => // normal shutdown
        case e: Throwable => feedError.set(e.toString)
      }
    }, "graft-socket-feeder")
    feeder.setDaemon(true)
    feeder.start()
    val name = s"graft_stream_socket_${runId.incrementAndGet()}"
    // numPartitions only for the graft source: the BUILT-IN socket source
    // also honors it, and pinning it to 1 there serializes its ~1 ms/row
    // line conversion onto one task (measured 2 s -> 97 s per 100k-row
    // batch) — its default defaultParallelism split is what keeps the
    // baseline query at its usual cost
    val reader0 = spark.readStream.format(format)
      .option("host", "127.0.0.1").option("port", server.getLocalPort)
    val reader = if (format == "socket") reader0
      else reader0.option("numPartitions", sourcePartitions)
    val counts = reader.load()
      .select(col("value").cast("long").as("user_id"))
      .groupBy(col("user_id")).agg(count(lit(1)).as("n"))
    // ONE state partition: a socket is parallelism-1 by the reference's own
    // semantics and the keyed state is ~150 users — every extra state-store
    // instance is a per-micro-batch open/commit tax with nothing to shard
    start(spark,
      counts.writeStream.format("memory").queryName(name).outputMode("complete"),
      statePartitions) { q =>
      def total(): Long = {
        val t = spark.table(name).agg(sum(col("n"))).collect()(0)
        if (t.isNullAt(0)) 0L else t.getLong(0)
      }
      val deadline = System.nanoTime() + 120L * 1000L * 1000L * 1000L
      try {
        // let one full feed land in the source's receive buffer BEFORE the
        // first poll — the whole fixture then processes in one or two
        // micro-batches instead of one per 50 ms poll tick (each complete-
        // mode micro-batch pays a full state commit + sink rewrite)
        while (feedsDone.get == 0 && feedError.get == null &&
               System.nanoTime() < deadline) Thread.sleep(10)
        while (feedError.get == null && total() < userIds.length &&
               System.nanoTime() < deadline) {
          q.processAllAvailable()
          // the source's reader thread can lag the feeder's flush; poll
          // gently — stragglers are the exception, not the steady state
          if (total() < userIds.length) Thread.sleep(100)
        }
      } finally {
        q.stop()
        server.close() // idempotent; unblocks a feeder still in accept()
      }
      require(feedError.get == null, s"socket feeder failed: ${feedError.get}")
      require(total() == userIds.length,
        s"socket replay incomplete: ${total()} of ${userIds.length} rows")
    }
    spark.table(name)
  }

  /** Family-derived statePartitions — the r11 ladder's deployment rule as
    * code (the prose lived in DESIGN.md; r11 verdict item 4). The measured
    * optima over {2,4,8,16,32} × {100k, 1M, 10M events} × 16 cores:
    *
    *  - `join` (stream-stream interval/window joins): **constant 4** —
    *    4 state stores per partition mean per-instance fixed commit cost
    *    dominates through at least 10M events/replay (commit sums grow
    *    ~quadratically with partitions while join compute stays small).
    *  - `session` (merging windows / per-row state WORK): rows / 62.5k,
    *    clamped to [4, 2·cores] — fits every ladder cell exactly
    *    (100k → 4, 1M → 16, 10M → 32 on the 16-core box); the merge sort
    *    parallelizes, so the compute regime wants partitions ∝ volume.
    *  - `cep` (flatMapGroupsWithState NFA): rows / 125k clamped to
    *    [4, cores] (100k → 4, 1M → 8, 10M → 16) — per-key NFA advance is
    *    compute but the per-partition HDFSBackedStateStore commit tax
    *    catches up one octave earlier than session's.
    *
    * Callers pass the expected replay volume (for a fixture, the memoized
    * [[graft.operators.PartitionOps.fixtureRows]]); fixture-scale replays derive the same 4 the
    * bench rows were tuned to, so this is behavior-neutral below ~780k
    * events and ladder-optimal above. */
  def derivedStatePartitions(family: String, replayRows: Long,
                             cores: Int =
                               Runtime.getRuntime.availableProcessors()): Int = {
    require(replayRows >= 0, s"replayRows must be >= 0: $replayRows")
    require(cores >= 1, s"cores must be >= 1: $cores")
    family match {
      case "join" => 4
      case "session" =>
        math.max(4L, math.min(replayRows / 62500L, 2L * cores)).toInt
      case "cep" =>
        math.max(4L, math.min(replayRows / 125000L, cores.toLong)).toInt
      case other => throw new IllegalArgumentException(
        s"unknown stateful-op family '$other' (join|session|cep)")
    }
  }

  /** Run a streaming DataFrame to completion into a memory sink, return the
    * result table. `AvailableNow` processes the full backlog then stops.
    *
    * The number of state-store instances a stateful streaming query runs is
    * frozen to `spark.sql.shuffle.partitions` at its FIRST micro-batch — a
    * sizing decision, not a semantic one (hash layout only; results are
    * partition-count independent, which the DuckDB oracles already prove
    * across verify/bench configs). Each instance pays fixed open/commit/
    * checkpoint cost per micro-batch, so over-sharding a small stream is
    * pure overhead: the 10k-event fixture measured 16.1 s at 32 partitions
    * vs 10.4 s at 8 for the full-outer interval join, and the round-10
    * phase split showed commit cost ∝ partitions × batches × stores —
    * re-measured across the single-batch family, 4 beats 8 by ~0.5–1 s per
    * row (tumble_append 3.0 → 2.0, session_append 3.5 → 2.6, full-outer
    * interval 2.7 → 2.2) with no row slower, hence the default.
    * `statePartitions` right-sizes the fixture runs; a real deployment
    * sizes it to cluster cores × state volume instead.
    *
    * The memory sink's checkpoint is a temp dir on the local filesystem, so
    * the run writes its offset log, commit log and state-store deltas
    * through the FileSystem checkpoint manager ([[start]]): at sf0.01,
    * `stream_allowed_lateness` commits its 5 batches × 4 state stores in
    * ~0.3 s instead of ~1.9 s through Spark's default manager. */
  def runToTable(spark: SparkSession, df: DataFrame, mode: String,
                 statePartitions: Int = 4,
                 noDataMicroBatches: Boolean = true): DataFrame = {
    val name = s"graft_stream_${runId.incrementAndGet()}"
    start(spark, df.writeStream.format("memory").queryName(name)
      .outputMode(mode).trigger(Trigger.AvailableNow()), statePartitions,
      noDataMicroBatches = noDataMicroBatches)(_.awaitTermination())
    spark.table(name)
  }

  // guards the one scope in which a stream's confs sit on its caller's session
  private val confScope = new Object

  /** Start `writer`'s query, checkpointed at `checkpoint` (a temp dir when
    * `None`), and drive it with `use` (await it, poll it). Every stream the
    * engine runs starts here, on the calling session: a query started from
    * a child session reports its progress to the child's listeners only,
    * so [[graft.StreamProgress]] on the caller would not see it. This is
    * the one scope in `src/main` that writes its caller's session conf, and
    * one lock guards it, so streams started on concurrent threads run one
    * at a time and never restore each other's values.
    *
    * `start()` clones the session into the stream's own, so these SQL confs
    * are set for the `start()` call only:
    *  - `spark.sql.shuffle.partitions`, capped at `statePartitions`, fixes
    *    the number of state-store instances (see [[runToTable]]);
    *  - `spark.sql.streaming.sessionWindow.merge.sessions.in.local.partition`
    *    is `true`: session windows merge inside each input partition before
    *    the keyed exchange (count/sum merge associatively, so results are
    *    unchanged); no other stream plan reads it;
    *  - `spark.sql.streaming.noDataMicroBatches.enabled` is
    *    `noDataMicroBatches`. `false` skips the trailing batch that only
    *    advances the watermark, for queries that emit nothing on it.
    *
    * `spark.sql.streaming.checkpointFileManagerClass` holds until `use`
    * returns: the offset and commit logs and a file source's metadata log
    * are built lazily on the stream thread, from the session that started
    * or read the stream. It is the FileSystem manager when the checkpoint
    * is on the local `file:` scheme ([[checkpointFileManager]]).
    *
    * The query's own session clone registers one more
    * `StreamingQueryListenerBus` on the SparkContext when a stateful
    * operator reaches its `streams` (through `stateStoreCoordinator`), and
    * nothing else removes it. So every bus that appeared by the time `use`
    * returns is removed; the caller's own bus is made before the snapshot,
    * and every caller runs its query to termination inside `use`. */
  private[graft] def start[R, T](spark: SparkSession, writer: DataStreamWriter[R],
                                 statePartitions: Int,
                                 checkpoint: Option[String] = None,
                                 noDataMicroBatches: Boolean = true)
                                (use: StreamingQuery => T): T = confScope.synchronized {
    val w = checkpoint.fold(writer)(writer.option("checkpointLocation", _))
    val shuffle = "spark.sql.shuffle.partitions"
    val atStart = Seq(
      shuffle -> math.min(statePartitions, spark.conf.get(shuffle).toInt).toString,
      "spark.sql.streaming.sessionWindow.merge.sessions.in.local.partition" -> "true",
      "spark.sql.streaming.noDataMicroBatches.enabled" -> noDataMicroBatches.toString)
    val forRun = checkpointFileManager(resolvedCheckpoint(spark, checkpoint))
      .map("spark.sql.streaming.checkpointFileManagerClass" -> _).toSeq
    def set(confs: Seq[(String, String)]): Seq[(String, Option[String])] =
      confs.map { case (k, v) =>
        val prev = spark.conf.getOption(k)
        spark.conf.set(k, v)
        k -> prev
      }
    def restore(prev: Seq[(String, Option[String])]): Unit = prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
    spark.streams // the caller's own bus, so the snapshot keeps it
    def buses = ListenerBuses.of[StreamingQueryListenerBus](spark.sparkContext)
    val before = buses.toSet
    val runPrev = set(forRun)
    try {
      val startPrev = set(atStart)
      use(try w.start() finally restore(startPrev))
    } finally {
      restore(runPrev)
      buses.filterNot(before).foreach(spark.sparkContext.removeSparkListener)
    }
  }

  /** The checkpoint root Spark resolves for a query started with
    * `checkpoint` as its `checkpointLocation`: that option, else under
    * `spark.sql.streaming.checkpointLocation`, else a temp dir under
    * `java.io.tmpdir` (memory and foreachBatch sinks) — qualified against
    * the session's default filesystem, as Spark qualifies it. */
  private[graft] def resolvedCheckpoint(spark: SparkSession,
                                        checkpoint: Option[String]): String = {
    val p = new Path(checkpoint
      .orElse(spark.conf.getOption("spark.sql.streaming.checkpointLocation"))
      .getOrElse(sys.props("java.io.tmpdir")))
    StagingFs.fs(spark, p).makeQualified(p).toString
  }

  /** The checkpoint file manager for a stream checkpointed at `checkpoint`,
    * or `None` to keep Spark's default. A `file:` or scheme-less path gets
    * the FileSystem manager. Spark's default (FileContext) manager renames
    * through `AbstractFileSystem.renameInternal`, and on Hadoop's
    * `RawLocalFileSystem` without libhadoop each such rename forks
    * `readlink` four times — on every offset-log, commit-log and
    * state-store delta file. The FileSystem manager renames with one
    * `rename` call, which is safe here: a local POSIX rename is atomic, and
    * every engine checkpoint (a temp dir or a fresh `newStageDir`) has
    * exactly one writer. HDFS, S3 and other stores keep the default. */
  private[graft] def checkpointFileManager(checkpoint: String): Option[String] =
    Option.when(Option(new Path(checkpoint).toUri.getScheme).forall(_ == "file"))(
      "org.apache.spark.sql.execution.streaming.checkpointing." +
        "FileSystemBasedCheckpointFileManager")
}
