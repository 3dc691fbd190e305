package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.StructType

/** Retract-stream adapter (reference `toRetractStream[(Boolean, T)]`,
  * `StreamTableEnvironment.scala:724-831`, CRow runtime SURVEY §2.4).
  *
  * Flink emits per-record (add/retract) pairs from updating queries; Spark's
  * update output mode emits only the new row versions per micro-batch. This
  * adapter reconstructs the retractions DISTRIBUTED: per micro-batch it
  * semi-joins the previous snapshot against the batch keys (the old versions
  * of changed keys become retractions), unions the batch rows as additions,
  * and appends the tagged changelog to a parquet sink with a distributed
  * write. The new snapshot is the anti-join of the previous snapshot plus
  * the batch — all of it DataFrame algebra; the driver holds only the
  * snapshot POINTER, never the rows. Changelog order is (batch, key,
  * retract-before-add), the same per-key contract as the reference's
  * retraction pairs at micro-batch granularity (SURVEY §7.5 risk 3).
  *
  * Snapshot storage is GENERATIONAL and reclaimed eagerly: by default each
  * batch writes the new snapshot to a fresh parquet generation directory and
  * deletes the superseded one — executor storage holds NOTHING between
  * batches, which is the posture that survives an unbounded stream on a
  * cluster. `snapshotLevel = Some(level)` trades that for cached-block
  * speed: the snapshot generation is held as an explicitly persisted RDD at
  * that level (`MEMORY_AND_DISK` for hot paths, `DISK_ONLY` to keep a big
  * snapshot off the executor heap) and the previous generation is
  * `unpersist`ed as soon as the new one is materialized — no accumulating
  * block leak either way.
  */
class RetractStream(keyCols: Seq[String],
                    snapshotLevel: Option[org.apache.spark.storage.StorageLevel] = None,
                    compactEvery: Int = 0) {

  // staging dirs go through StagingFs (Hadoop FileSystem + configurable
  // root) so changelog/snapshot generations live on cluster-readable
  // storage; created lazily at the first batch (needs the session)
  @volatile private var baseDir: String = _
  @volatile private var clGen: Long = 0L
  private def changelogDir =
    new org.apache.hadoop.fs.Path(baseDir, s"changelog_gen_$clGen").toString
  @volatile private var batchesInGen: Int = 0
  @volatile private var snap: Option[DataFrame] = None
  @volatile private var snapRdd: Option[org.apache.spark.rdd.RDD[Row]] = None
  @volatile private var snapGen: Long = -1L
  @volatile private var sparkRef: SparkSession = _
  @volatile private var baseSchema: StructType = _
  @volatile private var wroteAny = false

  /** Process one micro-batch of an update-mode aggregation result —
    * distributed joins + distributed writes, no per-batch collect. */
  def onBatch(batch: DataFrame, batchId: Long): Unit = {
    sparkRef = batch.sparkSession
    baseSchema = batch.schema
    if (baseDir == null)
      baseDir = graft.sources.StagingFs.newStageDir(sparkRef, "graft-retract")
    // the batch feeds the emptiness gate, the changelog and the snapshot —
    // cache it BEFORE the isEmpty probe (r13: the probe used to run on the
    // raw plan, so every batch paid the micro-batch scan one extra time)
    val b = batch.persist()
    if (b.isEmpty) { b.unpersist(); return }
    val t0 = System.nanoTime()
    var tChangelog = 0.0
    def sinceS: Double = (System.nanoTime() - t0) / 1e9
    try {
      val keys = keyCols.map(col)
      val changes = snap match {
        case None => b.withColumn("__is_add", lit(true))
        case Some(prev) =>
          prev.join(b.select(keys: _*), keyCols, "left_semi")
            .withColumn("__is_add", lit(false))
            .union(b.withColumn("__is_add", lit(true)))
      }
      changes.withColumn("__batch_id", lit(batchId))
        .write.mode("append").parquet(changelogDir)
      tChangelog = sinceS
      wroteAny = true
      batchesInGen += 1
      if (compactEvery > 0 && batchesInGen >= compactEvery)
        compactChangelog()
      val nextPlan = snap match {
        case None       => b
        case Some(prev) =>
          prev.join(b.select(keys: _*), keyCols, "left_anti").union(b)
      }
      val prevRdd = snapRdd
      val prevGen = snapGen
      snapGen += 1
      snap = Some(snapshotLevel match {
        case Some(level) =>
          // persisted-RDD generation: materialize eagerly, hold the RDD
          // handle so the superseded generation can actually be freed
          // (Dataset.unpersist cannot release a localCheckpoint's blocks)
          val rdd = nextPlan.rdd.persist(level)
          rdd.count()
          snapRdd = Some(rdd)
          sparkRef.createDataFrame(rdd, baseSchema)
        case None =>
          val dir = new org.apache.hadoop.fs.Path(
            baseDir, s"snap_gen_$snapGen").toString
          nextPlan.write.mode("overwrite").parquet(dir)
          sparkRef.read.parquet(dir)
      })
      // the new generation is materialized — reclaim the superseded one NOW
      // (waiting for the ContextCleaner/GC leaves unbounded executor
      // storage pressure on a long-running stream)
      if (snapshotLevel.isDefined) prevRdd.foreach(_.unpersist())
      else if (prevGen >= 0)
        graft.sources.StagingFs.delete(sparkRef,
          new org.apache.hadoop.fs.Path(baseDir, s"snap_gen_$prevGen"))
      // per-batch cost attribution (bench stderr): changelog diff+write vs
      // snapshot materialize+reclaim — the two candidate fixed costs behind
      // the per-micro-batch trend the bench watches
      System.err.println(f"[retract-cost] batch=$batchId " +
        f"changelog=$tChangelog%.2fs snapshot=${sinceS - tChangelog}%.2fs")
    } finally b.unpersist()
  }

  /** Rewrite the whole changelog into a fresh generation coalesced to a
    * single part file, then drop the superseded generation — the same
    * generational hygiene the snapshot has. Without this, append-per-batch
    * grows the changelog FILE COUNT with stream length (listing cost, tiny
    * files) even though the byte volume is the true changelog size; with a
    * `compactEvery` knob the file count is bounded by
    * `compactEvery × partitions` regardless of how long the stream runs.
    * Contents are untouched (pure rewrite) — StreamingSpec proves the
    * post-compaction `changesDf` is row-identical and the bound holds.
    *
    * `clGen` advances only AFTER the compacted generation is fully
    * written: a mid-write failure leaves the pointer on the old (complete)
    * generation instead of a half-written one. */
  private def compactChangelog(): Unit = {
    val old = changelogDir
    val compacted = sparkRef.read.parquet(old).coalesce(1)
    val newDir = new org.apache.hadoop.fs.Path(
      baseDir, s"changelog_gen_${clGen + 1}").toString
    compacted.write.mode("overwrite").parquet(newDir)
    clGen += 1
    graft.sources.StagingFs.delete(sparkRef,
      new org.apache.hadoop.fs.Path(old))
    batchesInGen = 0
  }

  /** Part-file count of the live changelog generation (compaction
    * observability; StreamingSpec asserts the bound). 0 before the first
    * non-empty batch (no changelog generation exists yet). */
  def changelogFileCount: Int =
    if (!wroteAny) 0
    else graft.sources.StagingFs.listParts(sparkRef, changelogDir).size

  /** All (isAdd, row) changes emitted so far, ordered by (batch, key,
    * retract-before-add). Materializes the changelog — call at the consumer
    * boundary, not per batch. */
  def changes: Seq[(Boolean, Row)] = {
    if (!wroteAny) return Nil
    val df = sparkRef.read.parquet(changelogDir)
    val dataCols = baseSchema.fieldNames.toSeq
    val sortCols = (Seq(col("__batch_id")) ++ keyCols.map(col)) :+ col("__is_add")
    df.orderBy(sortCols: _*)
      .select(col("__is_add") +: dataCols.map(col): _*)
      .collect()
      .map(r => (r.getBoolean(0),
        new GenericRowWithSchema(r.toSeq.drop(1).toArray, baseSchema): Row))
      .toSeq
  }

  /** Current materialized table (upsert view of the changelog). */
  def snapshot: Seq[Row] = snap.map(_.collect().toSeq).getOrElse(Nil)

  /** The snapshot as a DataFrame pointer (generation-backed; for tests and
    * downstream distributed consumers). */
  def snapshotDf: Option[DataFrame] = snap

  /** The tagged changelog as a DataFrame — (batch_id, is_add, data columns),
    * fully distributed (reads the parquet changelog the batches wrote).
    * Empty (with the right schema) before the first non-empty batch. */
  def changesDf: DataFrame = {
    require(sparkRef != null,
      "changesDf called before any micro-batch reached the adapter")
    if (!wroteAny) {
      val schema = StructType(
        Seq(org.apache.spark.sql.types.StructField("batch_id",
          org.apache.spark.sql.types.IntegerType),
          org.apache.spark.sql.types.StructField("is_add",
            org.apache.spark.sql.types.BooleanType)) ++ baseSchema.fields)
      sparkRef.createDataFrame(
        sparkRef.sparkContext.emptyRDD[Row], schema)
    } else {
      val df = sparkRef.read.parquet(changelogDir)
      df.select(Seq(col("__batch_id").cast("int").as("batch_id"),
        col("__is_add").as("is_add")) ++
        baseSchema.fieldNames.toSeq.map(col): _*)
    }
  }
}

object RetractStream {

  /** Attach a retract adapter to an update-mode aggregation and run it to
    * completion (AvailableNow). Returns the adapter with the full changelog.
    *
    * `statePartitions` caps the state-store count (and the foreachBatch
    * join shuffles) for the run — the per-micro-batch fixed cost argument
    * documented on [[EventStream.runToTable]]; size it to cluster cores ×
    * state volume in a real deployment. */
  def run(agg: DataFrame, keyCols: Seq[String],
          statePartitions: Int = 4,
          snapshotLevel: Option[org.apache.spark.storage.StorageLevel] = None,
          compactEvery: Int = 0)
      : RetractStream = {
    val rs = new RetractStream(keyCols, snapshotLevel, compactEvery)
    EventStream.start(agg.sparkSession, agg.writeStream
      .outputMode("update")
      .foreachBatch((b: DataFrame, id: Long) => rs.onBatch(b, id))
      .trigger(Trigger.AvailableNow()), statePartitions)(_.awaitTermination())
    rs
  }
}
