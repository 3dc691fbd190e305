package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.sources.StagingFs

/** Streaming VECTOR ingest — the stream side of incremental IVF index
  * maintenance (detect: [[graft.operators.SimilarityOps
  * .ivfAssignIncremental]], split: ivfSplitCells / applySplitToLake; this
  * is the continuous front door those maintainers watch). The embeddings
  * fixture replays as 4 deterministic vec_id%4 quarter micro-batches (the
  * events readMultiBatch idiom: one staged file per batch,
  * maxFilesPerTrigger=1, mtime-pinned order), each vector places into its
  * nearest cell ROW-LOCALLY — the centroid set rides as a LITERAL inside
  * a stream-legal stateless projection, no join and no per-vector state —
  * and the running per-cell occupancy aggregates in complete mode with
  * CELLS-sized state.
  *
  * Why this is the 100 TB shape: placement against the current index
  * epoch is embarrassingly stateless (a k×d literal per executor, like a
  * broadcast), the only streaming state is the cells-sized count table,
  * and re-sharding pressure consumers run OUT of band on flagged cells.
  * A keyed stream-static join + windowed argmin would instead carry
  * per-vector state through the aggregation — the classic accidental
  * unbounded-state ingest.
  *
  * Determinism (value-oracled end to end): quantized integer d², (d², cid)
  * ties via lexicographic struct ordering (array_min over (d2, cid)
  * structs IS the argmin with tie-break), and the complete-mode snapshot
  * after the full replay equals the batch assignment counts. */
object VecIngest {

  private val vecSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(DoubleType))))

  /** Embeddings staged as 4 single-file vec_id%4 quarters with strictly
    * increasing mtimes (the micro-batch order pin), like the events
    * quarters ([[EventStream.writeSplits]]). */
  private def stageVecQuarters(spark: SparkSession, dir: String): String =
    StagingFs.stage(spark, dir, "graft-vec-quarters") { p =>
      EventStream.writeSplits(spark, p, graft.Tables.load(spark, dir, "embeddings")
        .select(col("vec_id").cast("long").as("vec_id"),
          col("embedding").cast("array<double>").as("embedding")),
        pmod(col("vec_id"), lit(4)).cast("int"))
    }

  /** Row-local nearest-cell id over a LITERAL centroid set — the native
    * [[graft.functions.ArgminCell]] kernel (`graft_cell`): one codegen'd
    * loop over a cells×d literal matrix, mapped back to the cell id via
    * `element_at` on the parallel id literal. Centroid rows are ordered
    * by ascending cell id, so the kernel's first-wins tie-break IS the
    * (d², cid) lexicographic argmin the batch assigner uses. The previous
    * array-of-structs `array_min` form built a cells-sized struct literal
    * per projection site — correct at cells=16, but the expression tree
    * grows with the cell count and at production cells (√n ⇒ thousands)
    * blows the generated-method limits exactly like the unrolled JL tree
    * graft_jl replaced (the spec pins value identity to that form; the
    * `cellkernel` ladder of the since-removed ProbeAnnKnobs main, kept in
    * git history, measured the residency cliff). */
  private def cellOf(qv: Column, cents: Seq[(Long, Seq[Long])]): Column = {
    import graft.functions.GraftFunctions.cellArgmin
    val sorted = cents.sortBy(_._1)
    val ids = typedLit(sorted.map(_._1))
    val matrix = typedLit(sorted.map(_._2))
    element_at(ids, (cellArgmin(qv, matrix) + 1L).cast("int"))
  }

  /** One streaming pass over a subset of the staged quarters
    * (`pathGlobFilter` — the file stream never lists the other epoch's
    * batches) against one centroid epoch. */
  private def epochPass(spark: SparkSession, dir: String, glob: String,
                        centroids: DataFrame): DataFrame = {
    graft.functions.GraftExtensions.install(spark)
    import graft.functions.GraftFunctions.quantize
    val seeds = centroids
      .select(col("vec_id").cast("long"), quantize(col("embedding")).as("cq"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toSeq
      .sortBy(_._1)
    require(seeds.nonEmpty, "vector ingest: empty centroid set")
    val stream = spark.readStream.schema(vecSchema)
      .option("maxFilesPerTrigger", 1)
      .option("pathGlobFilter", glob)
      .parquet(stageVecQuarters(spark, dir))
    val counts = stream
      .select(cellOf(quantize(col("embedding")), seeds).as("cell"))
      .groupBy(col("cell")).agg(count(lit(1)).as("n"))
    // ONE state partition (r14): the keyed state is CELLS-bounded (≤ cells
    // rows at ANY corpus size — the map-side partial count collapses each
    // scan partition to ≤ cells rows before the exchange), so every extra
    // state-store instance is pure per-micro-batch open/commit tax with
    // nothing to shard — the socketCounts argument, sized by state
    // cardinality rather than volume. Scale-safe by construction.
    EventStream.runToTable(spark, counts, "complete", statePartitions = 1)
  }

  /** Per-cell occupancy after the full 4-batch vector replay: stateless
    * literal-centroid placement, complete-mode cells-sized count.
    * `centroids` is a (vec_id, embedding) centroid set: the smallest-id
    * seeds ([[graft.operators.SimilarityOps.seedCells]], the oracle's
    * seeded assignment) or trained centroids for the production epoch. */
  def ingestCellCounts(spark: SparkSession, dir: String,
                       centroids: DataFrame): DataFrame =
    epochPass(spark, dir, "q[0-3].parquet", centroids)

  /** The EPOCH SWAP the incremental-IVF maintenance loop runs (r12 verdict
    * item 3), demonstrated end to end: quarters 0–1 ingest against the
    * `epoch0Centroids` epoch (the seeded one), the out-of-band lake split
    * produces the post-split centroid table ([[graft.operators.LayoutOps
    * .applySplitToLake]]'s return), and quarters 2–3 resume against that
    * new epoch, `epoch1Centroids`. The swap is a query RESTART with a new
    * centroid literal — deliberately: placement is stateless, the only
    * streaming state is the cells-sized occupancy count, so an epoch swap
    * costs one stop/start and no state migration (restarting with
    * different state-shaping logic mid-checkpoint is exactly what
    * Structured Streaming forbids).
    * Output: (epoch, cell, n) — each epoch's occupancy over ITS two
    * batches, value-oracled against the batch assignment per epoch. */
  def ingestCellCountsEpochs(spark: SparkSession, dir: String,
                             epoch0Centroids: DataFrame,
                             epoch1Centroids: DataFrame): DataFrame = {
    val e0 = epochPass(spark, dir, "q[01].parquet", epoch0Centroids)
      .select(lit(0).as("epoch"), col("cell"), col("n"))
    val e1 = epochPass(spark, dir, "q[23].parquet", epoch1Centroids)
      .select(lit(1).as("epoch"), col("cell"), col("n"))
    e0.unionByName(e1)
  }
}
