package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SaveMode}
import org.apache.spark.sql.functions._

/** Physical-layout primitives for the 100 TB lake (LLM-pipeline
  * extension; no reference counterpart — Flink 1.4 wrote what it was
  * given). Two problems every large corpus hits:
  *
  *  1. DATA SKIPPING: a scan filtered on two dimensions reads everything
  *     when files are clustered on only one. Z-order interleaving makes
  *     every file's (x, y) bounding box tight, so parquet footer min/max
  *     stats prune on BOTH dimensions.
  *  2. SMALL FILES: streaming/incremental writers fragment a table into
  *     thousands of KB-sized files; listing + open overhead then dominates
  *     scans. Compaction rewrites to a bounded file count.
  *
  * Everything here is pure layout — content is identical by construction,
  * which is exactly what the value oracles pin; the layout EFFECT
  * (bounding-box tightness, file counts) is asserted by LayoutSpec.
  */
object LayoutOps {

  /** Morton (z-order) value of two non-negative integer dimensions: the
    * low `bits` of x and y bit-interleaved (x odd positions, y even).
    * Pure higher-order integer expression — codegen'd, no UDF, and
    * restated verbatim in SQL engines for the value oracle. */
  def zorderValue(x: Column, y: Column, bits: Int = 16): Column = {
    val pairs = (0 until bits).map { i =>
      (shiftleft(shiftrightunsigned(x.cast("long"), i) % 2, 2 * i + 1),
        shiftleft(shiftrightunsigned(y.cast("long"), i) % 2, 2 * i))
    }
    pairs.map { case (a, b) => a + b }.reduce(_ + _)
  }

  /** Z-order-clustered write: range-partition on the Morton value (total
    * order across files) and sort within each partition, then write
    * parquet. Every output file covers a compact Morton range, i.e. a
    * tight (x, y) rectangle — min/max stats prune multi-dimensional
    * filters. `nFiles` sizes output to the target file size at scale. */
  def zorderWrite(df: DataFrame, path: String, x: Column, y: Column,
                  nFiles: Int, bits: Int = 16): Unit =
    df.withColumn("__z", zorderValue(x, y, bits))
      .repartitionByRange(nFiles, col("__z"))
      .sortWithinPartitions(col("__z"))
      .drop("__z")
      .write.mode(SaveMode.Overwrite).parquet(path)

  /** Compact a fragmented parquet directory to about `targetFileBytes`
    * per file: one read, one round-robin repartition sized from the
    * actual on-disk footprint, one write. Content-identical by
    * construction; the rewrite cost is one pass — the once-a-day
    * maintenance job that keeps scan parallelism aligned with data
    * volume instead of with the writer's commit cadence. */
  def compactFiles(spark: org.apache.spark.sql.SparkSession,
                   srcDir: String, dstDir: String,
                   targetFileBytes: Long): Int = {
    val src = new org.apache.hadoop.fs.Path(srcDir)
    val fs = graft.sources.StagingFs.fs(spark, src)
    val bytes = fs.getContentSummary(src).getLength
    val nFiles = math.max(1, math.ceil(bytes.toDouble / targetFileBytes).toInt)
    spark.read.parquet(srcDir)
      .repartition(nFiles)
      .write.mode(SaveMode.Overwrite).parquet(dstDir)
    nFiles
  }

  /** IVF-BUCKETED lake layout: the corpus written `partitionBy(cell)` —
    * the materialized form of the claim every IVF scaladoc here makes
    * ("at 100 TB the corpus is written bucketed by cell; a probe touches
    * 1/cells of the data"). Cell placement is [[SimilarityOps.ivfAssign]]
    * over [[SimilarityOps.seedCells]] (swap trained centroids or the pruned
    * assigner upstream — layout is placement-agnostic); the norm is
    * precomputed into the lake so a probe never re-folds it. One
    * assignment pass + one partitioned write — the index BUILD a real
    * deployment runs once and probes forever. */
  def writeIvfBucketed(embs: DataFrame, cells: Int, path: String): Unit =
    SimilarityOps.ivfAssign(embs, SimilarityOps.seedCells(embs, cells))
      .select(col("nid"), col("v"), col("nrm"), col("cell"))
      .write.mode(SaveMode.Overwrite).partitionBy("cell").parquet(path)

  /** Apply the `needs_split` outcome to a [[writeIvfBucketed]] lake by
    * rewriting ONLY the flagged cells' partitions — the lake half of
    * incremental IVF maintenance (detect: [[SimilarityOps
    * .ivfAssignIncremental]]; train the split: [[SimilarityOps
    * .twoMeansSplit]]; apply: here). Id scheme differs from the in-memory
    * [[SimilarityOps.ivfSplitCells]] on purpose: the lake wants ID
    * STABILITY, not a global renumber — sub 0 keeps the old cell id (its
    * partition is overwritten in place), sub 1 gets `old + maxId + 1`
    * (a fresh partition), and UNFLAGGED partitions are never opened,
    * never rewritten (dynamic partition overwrite touches only the
    * partitions present in the written frame; LayoutSpec pins untouched
    * file lists byte-for-byte). At 100 TB that is the whole point: a
    * split re-shards the hot cells' bytes and nothing else.
    *
    * Occupancy stats come from the lake's own footer counts (cells-sized
    * table); flagged members load through partition pruning (`isin` on
    * the partition column). Returns the POST-SPLIT centroid table
    * (vec_id, embedding as array<double>) for routing probes: unflagged
    * cells keep their row of `centroids`, flagged cells contribute their
    * two trained sub-centroids
    * (floor-mean integer grid / 1e6 — re-quantizing recovers the grid
    * exactly, the kmeansCentroidsExact round-trip). Feed it to
    * [[ivfLakeTopK]] as `seeds` and probes route to sub-cells with no
    * further change.
    *
    * `cells` is the caller's DECLARED current cell count (16 for a fresh
    * [[writeIvfBucketed]] lake; the previous apply's returned centroid
    * count for a later generation). The lake's occupancy must cover
    * exactly that many non-empty cells — a drained or missing cell would
    * otherwise silently shift both the pressure denominator and the
    * fresh-id offset away from the documented contract, so it fails loud
    * instead of inferring.
    *
    * `centroids` is the lake's CURRENT (vec_id, embedding) centroid
    * table: for a fresh [[writeIvfBucketed]] lake, the seeds it was built
    * with ([[SimilarityOps.seedCells]] — a seed lives in its own cell);
    * for any later generation, the previous apply's returned table (a
    * gen-1 twin cell has no seed). Cells not flagged this round keep
    * their row from it verbatim; only flagged cells and their twins
    * re-derive.
    *
    * Duplication guard: dynamic partition overwrite only replaces
    * partitions PRESENT in the written frame — if a Lloyd round drained
    * sub 0 of a flagged cell (both floor-mean centroids moved off the
    * seed), no row would carry the old cell id and the stale original
    * partition would survive next to its fully-populated twin, duplicating
    * every member. Any flagged cell whose final sub-0 placement is empty
    * therefore falls back to staying WHOLE (not split this round — logged
    * to stderr), which keeps the lake exactly as it was for that cell. */
  def applySplitToLake(spark: org.apache.spark.sql.SparkSession,
                       path: String, centroids: DataFrame, cells: Int,
                       splitIters: Int = 1,
                       splitThresholdPct: Int = 200): DataFrame = {
    import graft.functions.GraftFunctions.quantize
    require(splitIters >= 0 && splitThresholdPct >= 1 && cells >= 1,
      s"bad split knobs: iters=$splitIters pct=$splitThresholdPct cells=$cells")
    require(centroids.columns.contains("vec_id") &&
        centroids.columns.contains("embedding"),
      "centroid table must carry (vec_id, embedding): " +
        centroids.columns.mkString(","))
    val lake = spark.read.parquet(path)
      .select(col("nid"), col("v"), col("nrm"), col("cell").cast("long").as("cell"))
    // cells-sized stats, driver-side: flags + the fresh-id offset
    val counts = lake.groupBy(col("cell")).count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toSeq.sortBy(_._1)
    require(counts.length == cells,
      s"applySplitToLake: lake at $path has ${counts.length} non-empty " +
        s"cells but the caller declared cells=$cells — an empty or missing " +
        "cell would silently shift the pressure rule and the twin ids; " +
        "pass the actual current cell count (the previous apply's returned " +
        "centroid count)")
    val nCells = cells.toLong
    val total = counts.map(_._2).sum
    val offset = counts.map(_._1).max + 1L
    val pressureIds = counts.collect {
      case (c, n) if n * nCells * 100L > splitThresholdPct.toLong * total => c
    }
    val (flaggedIds, placed) = if (pressureIds.isEmpty)
      (pressureIds, null: DataFrame)
    else {
      // train the split over ALL pressure cells at once, then DROP any cell
      // whose final sub-0 placement is empty (see scaladoc duplication
      // guard). Placements are per-cell independent, so the surviving
      // cells' rows are reused as-is; the presence scan is bounded by the
      // flagged members (localCheckpoint keeps it one pass).
      val pre = lake.filter(col("cell").isin(pressureIds: _*))
        .select(col("nid"), quantize(col("v")).as("qv"), col("cell"))
      val (prePlaced0, _) = SimilarityOps.twoMeansSplit(pre, splitIters)
      val prePlaced = prePlaced0.localCheckpoint()
      val sub0Cells = prePlaced.filter(col("sub") === 0)
        .select(col("cell")).distinct().collect().map(_.getLong(0)).toSet
      val dropped = pressureIds.filterNot(sub0Cells)
      if (dropped.nonEmpty) System.err.println(
        s"[lake-split] cells ${dropped.mkString(",")} drained sub 0 in " +
          "training — kept whole this round (duplication guard)")
      val keep = pressureIds.filter(sub0Cells)
      (keep, if (keep.isEmpty) null
             else prePlaced.filter(col("cell").isin(keep: _*)))
    }
    if (flaggedIds.nonEmpty) {
      // localCheckpoint MATERIALIZES the flagged rows (bounded: flagged
      // members only) before the write — Spark refuses a lazy plan that
      // overwrites a path it is still reading from
      val rewritten = lake.filter(col("cell").isin(flaggedIds: _*))
        .join(placed.select(col("nid"), col("sub")), "nid")
        .select(col("nid"), col("v"), col("nrm"),
          when(col("sub") === 0, col("cell"))
            .otherwise(col("cell") + offset).as("cell"))
        .localCheckpoint()
      // dynamic overwrite, per write: only the partitions PRESENT in
      // `rewritten` (the flagged ids and their +offset twins) are replaced
      // on disk, and the session conf is left alone
      rewritten.write.mode(SaveMode.Overwrite)
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("cell").parquet(path)
    }
    // post-split centroid table: cells NOT flagged this round keep their
    // CURRENT centroid (their row of `centroids`). Flagged cells (and
    // twins) re-derive as the exact floor-mean of their final members —
    // the "centroid = mean of members" invariant a production index
    // stores, deterministic for the oracle.
    val flaggedSet = flaggedIds.toSet
    val unflaggedCents = centroids.filter(!col("vec_id").isin(flaggedIds: _*))
      .select(col("vec_id"),
        col("embedding").cast("array<double>").as("embedding"))
    if (flaggedIds.isEmpty) unflaggedCents
    else {
      // flagged ids (and their twins): centroid = exact floor-mean of the
      // cell's CURRENT members on the integer grid — for splitIters = 1
      // this equals the trained sub-centroid's own update; determinism is
      // what the oracle needs, and "centroid = mean of members" is the
      // maintained invariant a production index stores
      val splitCents = spark.read.parquet(path)
        .select(col("nid"), col("v"), col("cell").cast("long").as("cell"))
        .filter(col("cell").isin((flaggedSet ++ flaggedSet.map(_ + offset))
          .toSeq: _*))
        .select(col("cell"), posexplode(quantize(col("v"))).as(Seq("dim", "x")))
        .groupBy(col("cell"), col("dim"))
        .agg(floor(sum(col("x")).cast("double") / count(lit(1)))
          .cast("long").as("c"))
        .groupBy(col("cell"))
        .agg(transform(
          array_sort(collect_list(struct(col("dim"), col("c")))),
          s => s.getField("c").cast("double") / 1000000.0).as("embedding"))
        .select(col("cell").as("vec_id"), col("embedding"))
      unflaggedCents.unionByName(splitCents)
    }
  }

  /** Top-k probe over the [[writeIvfBucketed]] lake that READS ONLY the
    * probed cells: query cells resolve in memory (queries are the
    * broadcast-small side by the family contract), the distinct probed
    * cell ids — bounded by min(queries, cells) — collect into a LITERAL
    * `isin` filter on the partition column, and Catalyst turns that into
    * static partition pruning: the scan's `PartitionFilters` keeps every
    * unprobed cell's files unopened (PlanSpec pins this). Values are
    * identical to [[SimilarityOps.topKIvfSeeds]] (same oracle); only the I/O
    * shape changes — which is the whole point at 100 TB, where a probe
    * of 4 cells of 1024 reads ~0.4 % of the corpus instead of all of it. */
  def ivfLakeTopK(spark: org.apache.spark.sql.SparkSession, path: String,
                  queries: DataFrame, seeds: DataFrame, k: Int): DataFrame = {
    import graft.functions.GraftFunctions.dot
    import org.apache.spark.sql.expressions.Window
    val q = SimilarityOps.ivfAssign(queries, seeds)
      .select(col("nid").as("qid"), col("v").as("qv"),
        col("nrm").as("qn"), col("cell").as("qcell"))
      .localCheckpoint()
    val probed = q.select(col("qcell")).distinct().collect()
      .map(_.getLong(0)).toSeq
    // no query placed (no queries, or no seeds): no cell is read, so the
    // lake is not opened — the lake of an empty corpus has no file to
    // infer a schema from. The stand-in carries the lake's columns.
    val lake =
      if (probed.isEmpty)
        q.select(col("qid").as("nid"), col("qv").as("v"),
          col("qn").as("nrm"), col("qcell").as("cell")).limit(0)
      else spark.read.parquet(path).filter(col("cell").isin(probed: _*))
    val scored = lake.join(broadcast(q),
        col("cell") === col("qcell") && col("qid") =!= col("nid"))
      .select(col("qid"), col("cell").cast("long").as("cell"), col("nid"),
        round(dot(col("qv"), col("v")) / (col("qn") * col("nrm")), 6).as("cos"))
    scored.withColumn("rank", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("nid"))))
      .filter(col("rank") <= k)
      .select(col("qid"), col("cell"), col("nid"), col("rank"), col("cos"))
  }
}
