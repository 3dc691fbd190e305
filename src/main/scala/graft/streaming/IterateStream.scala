package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import org.apache.hadoop.fs.Path
import graft.sources.StagingFs

/** Streaming feedback loop — the reference's `DataStream.iterate()`
  * (`DataStream.java:444`, `IterativeStream`): a stream whose tail feeds
  * records back to its head until the feedback drains.
  *
  * Structured Streaming has no feedback edge in the query graph, so the
  * loop is closed at the SOURCE boundary instead: every micro-batch routes
  * its rows to the output sink AND writes the continuing rows as new
  * parquet files back into its own file-source directory — head = the file
  * source, tail = the feedback writer, exactly the reference's
  * head/tail pairing at micro-batch granularity. All data movement is
  * distributed writes; the driver only renames committed part files into
  * the source listing (metadata ops) and watches progress for quiescence —
  * the reference's loops likewise terminate only when the feedback edge
  * goes silent.
  *
  * Rows are (id, iter, value) longs; `stepValue` maps a value to its
  * successor and `continues` gates the feedback, so results are pure
  * integer recurrences — value-oracle-comparable via a recursive CTE. */
object IterateStream {

  val rowSchema: StructType = StructType(Seq(
    StructField("id", LongType), StructField("iter", LongType),
    StructField("value", LongType)))

  // part-file adoption = StagingFs.adoptParts (FileSystem.rename — metadata
  // only; the parquet bytes were written distributed). NOTE: the listing
  // cannot stand in for an emptiness check — Spark writes a schema-only
  // part file even for a zero-row DataFrame (verified on 4.1); the "was
  // there feedback?" signal is an observed metric on the output write
  // (exact count, zero extra jobs — r13; previously a separate isEmpty job
  // per round).

  /** Run the loop from `seed` (id, iter, value) until quiescent; returns
    * every row that ever flowed through the loop body (the reference's
    * output edge taken at each superstep).
    *
    * `unroll` (r13): loop steps applied per MICRO-BATCH. The loop's cost
    * is rounds × fixed micro-batch machinery (source listing, trigger,
    * offset/commit log, two writes — the data is tiny), so unrolling u
    * steps inside one batch cuts the round count u× while emitting the
    * EXACT same output row set: each batch emits its input cohort plus
    * the u−1 intermediate step results and feeds back only the final
    * survivors — every (id, iter, value) row still appears exactly once
    * (the value oracle pins this). 1 = the reference's one-step-per-
    * superstep granularity. */
  def run(spark: SparkSession, seed: DataFrame,
          stepValue: org.apache.spark.sql.Column => org.apache.spark.sql.Column,
          continues: org.apache.spark.sql.Column => org.apache.spark.sql.Column,
          timeoutMs: Long = 120000L,
          unroll: Int = 1): DataFrame = {
    require(unroll >= 1, s"unroll must be >= 1: $unroll")
    val base = new Path(StagingFs.newStageDir(spark, "graft-iterate"))
    val srcDir = new Path(base, "src").toString
    val outDir = new Path(base, "out").toString
    StagingFs.mkdirs(spark, new Path(srcDir))
    // seed files become the head's first batch
    val stage = new Path(base, "stage-seed").toString
    seed.select(col("id").cast("long"), col("iter").cast("long"),
      col("value").cast("long")).write.parquet(stage)
    StagingFs.adoptParts(spark, stage, srcDir, "seed")
    val feedbackId = new java.util.concurrent.atomic.AtomicLong(0L)
    // batchId of a committed batch that produced NO feedback rows: since
    // feedback files land in the source before their batch commits and
    // batches are sequential, such a batch is provably the loop's last —
    // the poll loop can finish the instant it commits (fast path) instead
    // of waiting out the silence window
    val drainedBatch = new java.util.concurrent.atomic.AtomicLong(-1L)
    val stream = spark.readStream.schema(rowSchema).parquet(srcDir)
    EventStream.start(spark, stream.writeStream
      .foreachBatch { (b: DataFrame, batchId: Long) =>
        val batch = b.persist()
        try {
          def step(d: DataFrame): DataFrame =
            d.filter(continues(col("value")))
              .select(col("id"), (col("iter") + 1).as("iter"),
                stepValue(col("value")).as("value"))
          // unrolled levels: batch, step(batch), …, step^(unroll−1)(batch)
          // — all narrow transforms over the persisted batch
          val levels = (1 until unroll)
            .scanLeft(batch: DataFrame)((d, _) => step(d))
          // the feedback-row count rides the output write as an observed
          // metric (optimization r13): the separate fb.isEmpty job cost
          // one extra Spark job per round (measured 0.3–0.6 s across the
          // 14-round halving run) and the observation is exact where
          // isEmpty was a limit-1 probe. Only the LAST level's survivors
          // feed back; the marker column never reaches the sink.
          val emit = levels.init.map(_.withColumn("__last", lit(false)))
            .foldRight(levels.last.withColumn("__last", lit(true)))(_ unionByName _)
          val obs = org.apache.spark.sql.Observation()
          emit.observe(obs,
              count(when(col("__last") && continues(col("value")), 1))
                .as("fb_n"))
            .drop("__last")
            .write.mode("append").parquet(outDir) // output edge
          val fbRows = obs.get("fb_n").asInstanceOf[Long]
          val fb = step(levels.last)
          if (fbRows > 0L) {
            val fbStage = new Path(base,
              s"stage-fb-${feedbackId.incrementAndGet()}").toString
            fb.write.parquet(fbStage) // distributed write...
            StagingFs.adoptParts(spark, fbStage, srcDir, // ...renamed into the head
              s"fb-${feedbackId.get()}")
          } else drainedBatch.set(batchId)
        } finally batch.unpersist()
      }
      .trigger(Trigger.ProcessingTime("25 milliseconds")), statePartitions = 4) { q =>
      try {
        // quiescence = the feedback edge went silent: feedback files land in
        // the source BEFORE a batch commits, so while data flows, batches
        // chain back-to-back; once no new batch commits for a few trigger
        // intervals after at least one ran, the loop has drained (the
        // reference's loops likewise end only when feedback stops)
        val deadline = System.nanoTime() + timeoutMs * 1000000L
        var lastBatch = -1L
        var lastChangeNs = System.nanoTime()
        var ranAny = false
        var done = false
        while (!done && System.nanoTime() < deadline) {
          Thread.sleep(100)
          // stream death is an error, never quiescence: without this check a
          // failed query stops committing batches and the silence timer would
          // return partial output as success
          q.exception.foreach(e => throw e)
          val p = q.lastProgress
          if (p != null && p.batchId != lastBatch) {
            lastBatch = p.batchId
            lastChangeNs = System.nanoTime()
            if (p.numInputRows > 0) ranAny = true
          }
          // data rounds chain within ~one trigger interval; 2 s of silence
          // is ~40 intervals of margin. lastProgress only advances on batch
          // COMMIT, so silence alone cannot distinguish "drained" from "one
          // slow batch still running" — also require no trigger in flight
          // and no data waiting at the poll instant
          val st = q.status
          val silent = System.nanoTime() - lastChangeNs > 2000000000L
          // fast path: the zero-feedback batch has committed — deterministic
          // drain, no silence margin needed (the silence window stays as the
          // fallback for runs whose last batch raced the progress poll)
          val drained = p != null && p.batchId == drainedBatch.get()
          done = ranAny && !st.isTriggerActive && !st.isDataAvailable &&
            (drained || silent)
        }
        q.exception.foreach(e => throw e)
        require(done, "feedback loop did not quiesce before the timeout")
      } finally q.stop()
    }
    spark.read.parquet(outDir)
  }
}
