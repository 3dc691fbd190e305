package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.GraftFunctions._

/** Approximate-nearest-neighbor search over an embedding column
  * (`array<float>`).
  *
  * Baseline: brute-force cosine top-k with a broadcast query set (one scan of
  * the corpus, no shuffle of the corpus side). Scale path: random-hyperplane
  * LSH bucketing — corpus is bucketed once (a narrow map), queries probe only
  * their own bucket, so the join fan-out is corpus/2^bits per query.
  *
  * Determinism: hyperplane dot products use integer-quantized vectors and
  * integer hyperplane weights (md5-derived), so bucket assignment is exact on
  * any engine; cosine scores are ordered double folds rounded to 6 dp.
  */
object SimilarityOps {

  val LshBits = 8
  val Dim = 64

  // ---- shared top-k core ---------------------------------------------------
  //
  // Every top-k member is filter-and-refine: a candidate generator of its
  // own, then one shared refine. Generators that score pairs in place end
  // in [[topKPer]]; the shortlist members cut a slim top-m with [[topKPer]]
  // and refine it through [[rerankExact]]; the IVF members pick the cells
  // they scan with [[probeCells]].

  /** The rank step: `row_number` per `keys`, ordered by `score` (a sort
    * expression such as `col("cos").desc`) then ascending `nid`, keeping
    * rank ≤ k. Rows through this window must stay SLIM (ids + score):
    * Spark's WindowGroupLimit prune fires only after the per-partition
    * sort, so sort-input row width is the scale knob. A first projected
    * shortlist draft carried both 64-double vectors through its n×q top-m
    * sort and filled the disk at 200k×2k; shortlists therefore keep
    * (qid, nid, score) and re-attach vectors in [[rerankExact]]. */
  private def topKPer(scored: DataFrame, k: Int, score: Column,
                      keys: Seq[Column] = Seq(col("qid"))): DataFrame =
    scored.withColumn("rank", row_number().over(
        Window.partitionBy(keys: _*).orderBy(score, col("nid"))))
      .filter(col("rank") <= k)

  /** Each query's `nprobe` nearest seeds by quantized-integer [[lld2]],
    * (d2, cid) ties, so cell choice is cross-engine exact. `queries` holds
    * (vec_id, embedding); `carry` columns are evaluated on it before the
    * probe.
    * Output: (qid, qq quantized vector, carry…, qcell), nprobe rows per
    * query. The seed set is cells-sized and broadcasts, so the probe never
    * shuffles the corpus. */
  private def probeCells(queries: DataFrame, seeds: DataFrame, nprobe: Int,
                         carry: Column*): DataFrame = {
    val seedRows = seeds.select(col("vec_id").as("cid"),
      quantize(col("embedding")).as("cv"))
    queries.select(
        (col("vec_id").as("qid") +: quantize(col("embedding")).as("qq") +:
          carry): _*)
      .crossJoin(broadcast(seedRows))
      .withColumn("d2", lld2(col("qq"), col("cv")))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("d2"), col("cid"))))
      .filter(col("rk") <= nprobe)
      .drop("cv", "d2", "rk")
      .withColumnRenamed("cid", "qcell")
  }

  /** Exact refine of a slim (qid, nid) shortlist: re-attach the full
    * vectors with one candidate-bounded join per side (the query side
    * broadcasts), score the 6-dp cosine, rank with [[topKPer]]. Output
    * (qid, nid, cos, rank). */
  private def rerankExact(shortlist: DataFrame, corpus: DataFrame,
                          queries: DataFrame, k: Int): DataFrame = {
    val cv = corpus.select(col("vec_id").as("nid"), col("embedding").as("v"),
      l2norm(col("embedding")).as("nrm"))
    val qv = queries.select(col("vec_id").as("qid"), col("embedding").as("qv"),
      l2norm(col("embedding")).as("qn"))
    topKPer(shortlist.select(col("qid"), col("nid"))
        .join(cv, "nid").join(broadcast(qv), "qid")
        .select(col("qid"), col("nid"), cosine("qv", "qn", "v", "nrm")),
      k, col("cos").desc)
  }

  /** The exact score every dense member ranks by: ordered-fold dot over the
    * product of the two norms, rounded to 6 dp. Norms are per-vector
    * columns computed BEFORE the pair join: the higher-order folds are
    * CodegenFallback (interpreted), so inside the pair loop they cost three
    * folds per PAIR where one per vector suffices (measured 25.8 s at sf1
    * inline vs hoisted). */
  private def cosine(qv: String, qn: String, v: String, n: String): Column =
    round(dot(col(qv), col(v)) / (col(qn) * col(n)), 6).as("cos")

  /** Brute-force cosine top-k: every query row against the full corpus.
    * `queries` is expected to be small — it is broadcast, making the join a
    * map-side nested loop over corpus partitions (no corpus shuffle; the only
    * shuffle is the final per-query top-k, which AQE keeps tiny). */
  def topKBruteForce(corpus: DataFrame, queries: DataFrame,
                     k: Int): DataFrame = {
    // cast + norm behind an exchange: spreads the nested-loop scan over all
    // cores and keeps the (pushed-down) join condition on plain attributes
    val c = corpus.select(col("vec_id").as("nid"),
        col("embedding").cast("array<double>").as("cv"),
        l2norm(col("embedding")).as("cn"))
      .repartition(col("nid"))
    val q = queries.select(col("vec_id").as("qid"),
      col("embedding").cast("array<double>").as("qv"),
      l2norm(col("embedding")).as("qn"))
    topKPer(c.join(broadcast(q), col("qid") =!= col("nid"))
        .select(col("qid"), col("nid"), cosine("qv", "qn", "cv", "cn")),
      k, col("cos").desc)
  }

  /** Deterministic pseudo-random hyperplane weight for (plane, dim):
    * integer in [-1000, 1000], derived from md5("p_d") exactly like the
    * oracle SQL (and [[graft.functions.GraftFunctions.stableHash]]) — the
    * weights are constants, so they are computed once driver-side and baked
    * into the expression as literals. */
  private[graft] def planeWeightValue(p: Int, d: Int): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(s"${p}_$d".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString.take(15)
    java.lang.Long.parseLong(hex, 16) % 2001 - 1000
  }

  /** Random-hyperplane LSH bucket id (sign pattern of `LshBits` integer dot
    * products, packed big-endian). Row-local and integer-exact: the native
    * [[graft.functions.IntQuantDot]] expression quantizes each element to
    * round(x·1e6) and sums in 64-bit integers, so the sign test never
    * depends on float summation order. The per-plane weight vectors are
    * md5-derived constants baked in as array literals. */
  def lshBucket(vec: Column): Column = lshBucketBand(vec, 0)

  /** ALL `bands` band buckets at once as `array<bigint>` — element b equals
    * `lshBucketBand(vec, b, bits)`, computed by the native
    * [[graft.functions.LshBandBuckets]] expression (one quantize pass + a
    * flat weight table instead of bands·bits separate iqdot calls with
    * per-plane literal arrays; the latter blows past codegen method limits —
    * measured 12.8 s vs 0.4 s for a 20 k-row × 8-band banding). */
  def lshBandBucketsAll(vec: Column, bands: Int, bits: Int = LshBits): Column =
    call_function("graft_lsh_bands", vec.cast("array<double>"),
      lit(bands), lit(bits), lit(Dim))

  /** Band `band`'s bucket id — sign pattern of the `bits` hyperplanes
    * [band·bits, (band+1)·bits) from the same md5-derived family. Band 0
    * with the default width is exactly [[lshBucket]]; multiple bands give
    * the OR-amplified collision probability 1−(1−p^bits)^bands that blocked
    * near-duplicate joins need for high recall. */
  def lshBucketBand(vec: Column, band: Int, bits: Int = LshBits): Column = {
    val ad = vec.cast("array<double>")
    (0 until bits).map { j =>
      val weights = lit((0 until Dim).map(d =>
        planeWeightValue(band * bits + j, d)).toArray)
      when(call_function("graft_iqdot", ad, weights) > 0,
        1L << (bits - 1 - j)).otherwise(0L)
    }.reduceLeft(_ + _)
  }

  /** Bucket the corpus: one narrow map, persistable/bucketable by `bucket`
    * for repeated probes. */
  def lshBuckets(corpus: DataFrame): DataFrame =
    corpus.select(col("vec_id").as("nid"),
      col("embedding").cast("array<double>").as("cv"),
      l2norm(col("embedding")).as("cn"),
      lshBucket(col("embedding")).as("bucket"))

  /** ANN top-k: probe only the query's own bucket. Recall trades off with
    * bucket count (2^LshBits); multi-probe = union over neighbor buckets. */
  def topKLsh(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val c = lshBuckets(corpus).repartition(col("bucket"))
    val q = queries.select(col("vec_id").as("qid"),
      col("embedding").cast("array<double>").as("qv"),
      l2norm(col("embedding")).as("qn"),
      lshBucket(col("embedding")).as("qbucket"))
    topKPer(c.join(broadcast(q),
          col("bucket") === col("qbucket") && col("qid") =!= col("nid"))
        .select(col("qid"), col("qbucket").as("bucket"), col("nid"),
          cosine("qv", "qn", "cv", "cn")),
      k, col("cos").desc)
  }

  /** IVF-style partitioned ANN: assign every vector to its nearest "coarse
    * centroid" (`seeds`: [[seedCells]], the first `cells` corpus vectors,
    * or trained k-means centroids), then probe only the
    * query's cell. Assignment uses integer-quantized squared distance
    * (‖a−b‖² expanded as iqdot terms), so cell ids are cross-engine exact.
    * At 100 TB the corpus is written bucketed by `cell`; a probe touches
    * 1/cells of the data. */
  def ivfAssign(corpus: DataFrame, seeds: DataFrame,
                carry: Seq[String] = Nil): DataFrame = {
    val qv = quantize(col("embedding"))
    val seedRows = seeds.select(col("vec_id").as("cid"),
      quantize(col("embedding")).as("cv"))
    // dist²(a,c) = Σ(a−c)² in quantized ints; argmin by (dist, cid).
    // repartition(nid) FIRST (the topKBruteForce rule): a single-file
    // corpus is one partition, and one partition trivially satisfies the
    // argmin window's clustered distribution — Catalyst then skips the
    // exchange and the whole n×cells distance evaluation (interpreted
    // zip_with — higher-order exprs are CodegenFallback) runs on ONE core.
    // Caught by the r10 sf10 ladder: the full SemDeDup pass was serial,
    // 468 s at 200k×141 before, 32-way after.
    val joined = corpus.select(
        (col("vec_id").as("nid") +: col("embedding").as("v") +: qv.as("qv") +:
          carry.map(col)): _*)
      .repartition(col("nid"))
      .crossJoin(broadcast(seedRows))
      // native codegen'd squared distance (graft_lld2): this expression IS
      // the O(n·cells·d) assignment term the cells-sizing tables measured,
      // and the HOF fold it replaces is interpreted per evaluation
      .withColumn("d2", lld2(col("qv"), col("cv")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("nid")).orderBy(col("d2"), col("cid"))
    joined.withColumn("rk", row_number().over(w)).filter(col("rk") === 1)
      .select((col("nid") +: col("v") +: l2norm(col("v")).as("nrm") +:
        col("cid").as("cell") +: carry.map(col)): _*)
  }

  /** Two-level PRUNED centroid assignment — the scale path past
    * [[ivfAssign]]'s O(n·cells·d) brute force, which caps usable `cells`
    * well below the √n rule at 100 TB (the r9 ProbeCells finding: assign
    * cost, not candidate volume, set the optimum). Structure is the classic
    * IVF coarse-quantizer shortlist (same shape as [[topKIvfProbe]]):
    *
    *  1. the ⌈√cells⌉ smallest-id seeds double as SUPER-centroids;
    *  2. every seed maps to its nearest super (cells × √cells, tiny);
    *  3. every vector shortlists its `sprobe` nearest supers
    *     (n × √cells instead of n × cells);
    *  4. exact argmin runs only over seeds whose super is shortlisted
    *     (expected n × √cells·sprobe).
    *
    * Assign cost is O(n·√cells·(1+sprobe)·d) — SUBLINEAR in cells — so
    * `cells` can track √n and shrink the within-cell candidate volume
    * that dominates SemDeDup past fixture scale.
    *
    * Deterministic and oracle-expressible like everything here: quantized
    * integer distances, (d2, id) tie-breaks at every level. Total: every
    * super contains at least itself (a super's nearest super is itself at
    * d2 = 0), so every shortlist yields ≥ 1 candidate seed. Assignment is
    * APPROXIMATE relative to [[ivfAssign]] (the true nearest cell may hide
    * behind an unprobed super — recall rises with `sprobe`, and
    * sprobe = ⌈√cells⌉ degenerates to the exact assignment, which the spec
    * differential pins); for clustering-style consumers (SemDeDup) the
    * cell is a partition choice, not a correctness bound. Output schema
    * matches [[ivfAssign]]: (nid, v, nrm, cell). An empty seed set raises
    * unless the corpus is empty too, which yields an empty assignment. */
  def ivfAssignPruned(corpus: DataFrame, seeds: DataFrame,
                      sprobe: Int = 2): DataFrame = {
    require(sprobe >= 1, s"sprobe must be >= 1: $sprobe")
    val seedRows = seeds.select(col("vec_id").as("cid"),
      quantize(col("embedding")).as("cv"))
    val nSeeds = seedRows.count()
    // seeds drawn from an empty corpus are empty: the assignment is empty
    require(nSeeds >= 1 || corpus.isEmpty, "ivfAssignPruned: empty seed set")
    val nSupers = math.ceil(math.sqrt(nSeeds.toDouble)).toLong
    val supers = seeds.orderBy(col("vec_id")).limit(nSupers.toInt)
      .select(col("vec_id").as("sid"), quantize(col("embedding")).as("sv"))
    def d2(a: Column, b: Column): Column = lld2(a, b)
    // level 1: seed -> nearest super (tiny; both sides broadcastable)
    val seedSuper = seedRows.crossJoin(broadcast(supers))
      .withColumn("sd2", d2(col("cv"), col("sv")))
      .withColumn("srk", row_number().over(
        Window.partitionBy(col("cid")).orderBy(col("sd2"), col("sid"))))
      .filter(col("srk") === 1)
      .select(col("sid"), col("cid"), col("cv"))
    // level 2a: vector -> sprobe nearest supers (n x sqrt(cells));
    // repartition first — same single-partition serial-window hazard as
    // ivfAssign (see the comment there)
    val short = corpus.select(col("vec_id").as("nid"), col("embedding").as("v"),
        quantize(col("embedding")).as("qv"))
      .repartition(col("nid"))
      .crossJoin(broadcast(supers))
      .withColumn("sd2", d2(col("qv"), col("sv")))
      .withColumn("srk", row_number().over(
        Window.partitionBy(col("nid")).orderBy(col("sd2"), col("sid"))))
      .filter(col("srk") <= sprobe)
      .select(col("nid"), col("v"), col("qv"), col("sid"))
    // level 2b: exact argmin over the shortlisted supers' seeds only —
    // the seed->super map is seed-sized, so it broadcasts and the probe
    // never shuffles the corpus
    short.join(broadcast(seedSuper), "sid")
      .withColumn("d2", d2(col("qv"), col("cv")))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("nid")).orderBy(col("d2"), col("cid"))))
      .filter(col("rk") === 1)
      .select(col("nid"), col("v"), l2norm(col("v")).as("nrm"),
        col("cid").as("cell"))
  }

  /** The seeded IVF centroid set: the `cells` smallest-id corpus vectors
    * (ids 0 … cells−1), the cross-engine-exact Voronoi seeds every seeded
    * IVF row and oracle uses. The trained alternative is
    * [[graft.ml.MLOps.kmeansCentroidsExact]]. An operator with a `seeds`
    * parameter takes it from its caller, who picks one of the two; one
    * with only a `cells` count uses these seeds. */
  def seedCells(corpus: DataFrame, cells: Int): DataFrame =
    corpus.filter(col("vec_id") < cells)

  /** IVF top-k: each query probes its own cell only. `seeds` is any
    * (vec_id, embedding) centroid set — [[seedCells]] for smallest-id
    * Voronoi seeds, [[graft.ml.MLOps.kmeansCentroidsExact]] output for
    * the trained index. Probe shape is the same for both; only cell
    * QUALITY moves (balance — the variance term in the IVF cost model;
    * see the DESIGN.md seeded-vs-trained balance table). */
  def topKIvfSeeds(corpus: DataFrame, queries: DataFrame, k: Int,
                   seeds: DataFrame): DataFrame = {
    val c = ivfAssign(corpus, seeds)
    val q = ivfAssign(queries, seeds)
      .select(col("nid").as("qid"), col("v").as("qv"),
        col("nrm").as("qn"), col("cell").as("qcell"))
    topKPer(c.join(broadcast(q),
          col("cell") === col("qcell") && col("qid") =!= col("nid"))
        .select(col("qid"), col("cell"), col("nid"),
          cosine("qv", "qn", "v", "nrm")),
      k, col("cos").desc)
  }

  /** IVF multi-probe top-k — the `nprobe` recall knob of a production IVF
    * index: the query probes its `nprobe` nearest cells instead of one and
    * candidates re-rank by EXACT cosine. Cost scales with nprobe/cells of
    * the corpus; recall approaches brute force as nprobe → cells. Each
    * corpus vector lives in exactly one cell, so no candidate dedup is
    * needed.
    *
    * `sprobe = Some(s)` places the corpus with [[ivfAssignPruned]]
    * (assignment sublinear in `cells` — the build-time term that dominates
    * a production IVF index build); queries keep the exact nprobe probe
    * over all seeds (they are few). Recall then differs only where a
    * corpus vector's pruned cell diverges from its true nearest cell — at
    * s = ⌈√cells⌉ the index IS the exact one. `seeds` as in
    * [[topKIvfSeeds]]. */
  def topKIvfProbe(corpus: DataFrame, queries: DataFrame, k: Int,
                   seeds: DataFrame, nprobe: Int,
                   sprobe: Option[Int] = None): DataFrame = {
    val c = sprobe
      .map(sp => ivfAssignPruned(corpus, seeds, sp))
      .getOrElse(ivfAssign(corpus, seeds))
    ivfProbeScan(c, queries, seeds, k, nprobe, Nil)
  }

  /** The probe-and-score body shared by [[topKIvfProbe]] and
    * [[topKIvfFiltered]]: `assigned` is an (nid, v, nrm, cell, carry…)
    * corpus placement; every query scores the exact cosine against the
    * members of its `nprobe` cells. */
  private def ivfProbeScan(assigned: DataFrame, queries: DataFrame,
                           seeds: DataFrame, k: Int, nprobe: Int,
                           carry: Seq[String]): DataFrame = {
    val qcells = probeCells(queries, seeds, nprobe, col("embedding").as("qvec"))
      .select(col("qid"), col("qvec"), l2norm(col("qvec")).as("qn"),
        col("qcell"))
    topKPer(assigned.join(broadcast(qcells),
          col("cell") === col("qcell") && col("qid") =!= col("nid"))
        .select((col("qid") +: col("nid") +:
          cosine("qvec", "qn", "v", "nrm") +: carry.map(col)): _*),
      k, col("cos").desc)
  }

  /** INCREMENTAL IVF ingest — the index-maintenance half of the trained
    * index: a new `batch` of vectors is placed into the EXISTING cells
    * (centroids trained on `stored` only — the index is NOT rebuilt per
    * batch), and each placement carries the post-ingest cell pressure:
    * `needs_split` marks cells whose total occupancy exceeds 2× the mean
    * (cell_n · cells > 2 · total in exact integers) — the re-shard signal
    * a production index acts on asynchronously. This closes the
    * incremental family on the ANN side the way the six dedup
    * granularities were closed: batch cost is O(batch · cells · d)
    * assignment + cells-sized bookkeeping. The index travels as a pair:
    * `centroids` (the `cells` centroids it was built with, e.g.
    * [[graft.ml.MLOps.kmeansCentroidsExact]] over the stored corpus) and
    * `storedIndex` (the stored corpus's placement against exactly those
    * centroids — [[ivfAssign]]`(stored, centroids)` or the persisted
    * assignment; only its `cell` column is read). A placement against any
    * other centroid set misaligns the stored_n/needs_split stats with the
    * cells the batch lands in. */
  def ivfAssignIncremental(storedIndex: DataFrame, batch: DataFrame,
                           centroids: DataFrame, cells: Int): DataFrame = {
    val storedCells = storedIndex
      .groupBy(col("cell")).agg(count(lit(1)).as("stored_n"))
    val placed = ivfAssign(batch, centroids)
      .select(col("nid").as("vec_id"), col("cell"))
    val batchCells = placed.groupBy(col("cell"))
      .agg(count(lit(1)).as("batch_n"))
    // cells-sized stats table: the unpartitioned total window is over at
    // most `cells` rows (the temperatureSample convention)
    val cellStats = storedCells.join(batchCells, Seq("cell"), "full_outer")
      .select(col("cell"),
        coalesce(col("stored_n"), lit(0L)).as("stored_n"),
        coalesce(col("batch_n"), lit(0L)).as("batch_n"))
      .withColumn("_tot", sum(col("stored_n") + col("batch_n")).over(
        Window.partitionBy(lit(1))))
      .withColumn("needs_split",
        (col("stored_n") + col("batch_n")) * cells > lit(2L) * col("_tot"))
      .drop("_tot")
    placed.join(broadcast(cellStats), "cell")
      .select(col("vec_id"), col("cell"), col("stored_n"), col("batch_n"),
        col("needs_split"))
  }

  /** Split executor for the `needs_split` pressure signal — the second
    * half of incremental IVF maintenance ([[ivfAssignIncremental]] detects,
    * this acts): every cell whose occupancy exceeds `splitThresholdPct`
    * percent of the mean (default 200 = the detector's own 2×-mean rule;
    * production indexes tune the pressure point, and a uniform corpus
    * needs a tighter one before any cell concentrates) is
    * re-sharded into two sub-cells by a bounded 2-means run over ITS OWN
    * members (seeds = the cell's two smallest ids, `splitIters` exact
    * integer Lloyd rounds with floor-mean updates — the
    * kmeansCentroidsExact arithmetic, but fully DISTRIBUTED: all flagged
    * cells train simultaneously through one grouped aggregation per round,
    * no per-cell driver loop). Unflagged cells pass through untouched.
    *
    * Cell ids renumber deterministically — old cell c → 2c (unflagged, or
    * flagged sub 0) / 2c+1 (flagged sub 1) — so consumers remap old → new
    * without a lookup table and unflagged lake partitions need no rewrite.
    *
    * Scale shape: one base assignment (swap in [[ivfAssignPruned]] via the
    * same seeds the index was built with when cells tracks √n), then per
    * Lloyd round only the FLAGGED members pay 2 distance evals each; the
    * sub-centroid table is ≤ 2·cells rows (broadcast), and by definition
    * fewer than cells/2 cells can exceed 2× the mean — the split touches
    * exactly the concentrated ingest pressure, never the whole index.
    *
    * Determinism (value-oracled): quantized integer d2, (d2, sub) ties,
    * floor-mean on the integer grid, empty/degenerate subs keep their seed
    * (a 1-member flagged cell trains 1 sub and maps wholly to 2c). `seeds`
    * is the index's `cells`-row centroid set ([[seedCells]] or trained).
    * Output: (vec_id, cell, needs_split, new_cell) for EVERY corpus
    * vector. */
  def ivfSplitCells(corpus: DataFrame, seeds: DataFrame, cells: Int,
                    splitIters: Int = 1,
                    splitThresholdPct: Int = 200): DataFrame = {
    require(splitIters >= 0, s"splitIters must be >= 0: $splitIters")
    require(splitThresholdPct >= 1,
      s"splitThresholdPct must be >= 1: $splitThresholdPct")
    val assigned = ivfAssign(corpus, seeds)
      .select(col("nid"), quantize(col("v")).as("qv"), col("cell"))
    // exact integers: cell_n·cells·100 > pct·total  ⇔  cell_n > pct% of mean
    val stats = assigned.groupBy(col("cell")).agg(count(lit(1)).as("cell_n"))
      .withColumn("_tot", sum(col("cell_n")).over(Window.partitionBy(lit(1))))
      .withColumn("needs_split",
        col("cell_n") * cells * 100 > lit(splitThresholdPct.toLong) * col("_tot"))
      .select(col("cell"), col("needs_split"))
    val flagged = assigned.join(
      broadcast(stats.filter(col("needs_split")).select(col("cell"))), "cell")
    val (placedSub, _) = twoMeansSplit(flagged, splitIters)
    val placed = placedSub
      .select(col("nid"), (col("cell") * 2 + col("sub")).as("new_cell"))
    assigned.join(broadcast(stats), "cell")
      .join(placed, Seq("nid"), "left")
      .select(col("nid").as("vec_id"), col("cell"), col("needs_split"),
        coalesce(col("new_cell"), col("cell") * 2).cast("long").as("new_cell"))
  }

  /** The distributed in-cell 2-means core shared by [[ivfSplitCells]] and
    * the lake-layer apply ([[LayoutOps.applySplitToLake]]): `flagged` is
    * (nid, qv quantized vector, cell) for the members of every cell being
    * split; sub-seeds are each cell's two smallest ids, `splitIters`
    * floor-mean Lloyd rounds run as grouped aggregations over ALL flagged
    * cells at once (no per-cell driver loop; the sub-centroid table is
    * ≤ 2·cells rows and broadcasts), empty subs keep their seed. Returns
    * (placed = (nid, cell, sub) final placement,
    *  subs   = (cell, sub, sq) final sub-centroids on the integer grid). */
  private[operators] def twoMeansSplit(flagged: DataFrame,
                                       splitIters: Int): (DataFrame, DataFrame) = {
    var subs = flagged.withColumn("rn", row_number().over(
        Window.partitionBy(col("cell")).orderBy(col("nid"))))
      .filter(col("rn") <= 2)
      .select(col("cell"), (col("rn") - 1).cast("long").as("sub"),
        col("qv").as("sq"))
    for (_ <- 1 to splitIters) {
      val a = flagged.join(broadcast(subs), "cell")
        .withColumn("d2", lld2(col("qv"), col("sq")))
        .withColumn("rk", row_number().over(
          Window.partitionBy(col("nid")).orderBy(col("d2"), col("sub"))))
        .filter(col("rk") === 1)
      val upd = a.select(col("cell"), col("sub"),
          posexplode(col("qv")).as(Seq("dim", "x")))
        .groupBy(col("cell"), col("sub"), col("dim"))
        .agg(floor(sum(col("x")).cast("double") / count(lit(1)))
          .cast("long").as("c"))
        .groupBy(col("cell"), col("sub"))
        .agg(transform(
          array_sort(collect_list(struct(col("dim"), col("c")))),
          s => s.getField("c")).as("nq"))
      // bounded data (≤ 2·cells rows) — localCheckpoint caps the lineage
      // across rounds, the kmeansCentroidsExact/BPE-trainer precedent
      subs = subs.join(upd, Seq("cell", "sub"), "left")
        .select(col("cell"), col("sub"),
          coalesce(col("nq"), col("sq")).as("sq"))
        .localCheckpoint()
    }
    val placed = flagged.join(broadcast(subs), "cell")
      .withColumn("d2", lld2(col("qv"), col("sq")))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("nid")).orderBy(col("d2"), col("sub"))))
      .filter(col("rk") === 1)
      .select(col("nid"), col("cell"), col("sub"))
    (placed, subs)
  }

  /** Projection-inside-IVF top-k — pruned-index [[topKIvfProbe]] with the
    * JL shortlist of [[topKProjected]] applied WITHIN the probed cells
    * (project-then-probe). Completes the ANN family lattice's IVF×JL
    * member: IVF bounds WHICH vectors are candidates (nprobe/cells of the
    * corpus), the 16-dim projected dot bounds what scoring a candidate
    * COSTS (¼ the memory traffic of the 64-dim exact cosine — the same 4×
    * the flat projected scan measured), and only the m shortlist survivors
    * pay the full-space rerank. At 100 TB both knobs compound: candidate
    * volume shrinks with cells, per-candidate cost with outDims/dims.
    *
    * Determinism: cells and shortlist ranks are exact-integer (quantized
    * d2 / BIGINT projected dots with 6-dp rounded projected cosine,
    * (pcos desc, nid) ties), rerank is the usual 6-dp cosine. With
    * m ≥ every probed candidate count the shortlist passes everything
    * through and the result degenerates to [[topKIvfProbe]] with the same
    * (seeds, nprobe, sprobe) — the spec pins that.
    *
    * `seeds` as in [[topKIvfSeeds]]; a TRAINED centroid set
    * ([[graft.ml.MLOps.kmeansCentroidsExact]]) is the production
    * configuration: balanced cells bound the worst-case probed-candidate
    * volume. */
  def ivfProjectedTopK(corpus: DataFrame, queries: DataFrame, k: Int,
                       seeds: DataFrame, nprobe: Int, sprobe: Int = 2,
                       m: Int = 10, outDims: Int = 16): DataFrame = {
    val c = ivfAssignPruned(corpus, seeds, sprobe)
    val cSlim = c.select(col("nid"), col("cell"),
        projectArr(quantize(col("v")), outDims).as("pc"))
      .withColumn("pcn", intNorm(col("pc")))
    val qcells = probeCells(queries, seeds, nprobe)
      .select(col("qid"), projectArr(col("qq"), outDims).as("pq"),
        col("qcell"))
      .withColumn("pqn", intNorm(col("pq")))
    val cand = cSlim.join(broadcast(qcells),
        col("cell") === col("qcell") && col("qid") =!= col("nid"))
      .select(col("qid"), col("nid"), intCosine("pq", "pqn", "pc", "pcn"))
    rerankExact(topKPer(cand, m, col("pcos").desc), corpus, queries, k)
  }

  /** Metadata-FILTERED IVF top-k — the filtered-vector-search shape every
    * production ANN store exposes (search restricted to candidates
    * satisfying a predicate, e.g. language, license, source). This is the
    * PRE-filter form: the predicate cuts the candidate set BEFORE the
    * per-query top-k, so each query still gets k qualifying neighbors
    * (post-filtering the unfiltered top-k under-returns whenever the
    * predicate is selective — the classic filtered-ANN pitfall). The index
    * (cells over the FULL corpus) is shared across predicates: the filter
    * rides the indexed side as a plain pushdown-able column predicate, no
    * per-predicate index rebuild. Metadata columns travel through the
    * assignment via [[ivfAssign]]'s carry parameter — one corpus scan,
    * no re-join. The `label` column is carried, so `candPred` may test it
    * and the output keeps it. `seeds` as in [[topKIvfSeeds]]. */
  def topKIvfFiltered(corpus: DataFrame, queries: DataFrame, k: Int,
                      seeds: DataFrame, nprobe: Int,
                      candPred: Column): DataFrame = {
    val carry = Seq("label")
    ivfProbeScan(ivfAssign(corpus, seeds, carry).filter(candPred),
      queries, seeds, k, nprobe, carry)
  }

  /** Cluster-balanced corpus resampling — the coverage-preserving
    * downsample (the SSL-curation companion of SemDeDup: cap each
    * embedding-space cluster instead of deleting near-dups, so dominant
    * modes shrink while rare modes survive intact). Every vector is
    * IVF-assigned to its cell ([[ivfAssign]]); within a cell at most `cap`
    * vectors survive, chosen by md5 rank — the same deterministic lottery
    * as the per-domain document cap, in embedding space instead of
    * metadata space. Output labels every vector (vec_id, cell, kept);
    * consumers filter on `kept`. Cost = the assignment (swap in
    * [[ivfAssignPruned]] past fixture scale) + one window on the cell —
    * no pair joins anywhere, so a mega-cluster costs its own rows, not
    * its rows². */
  def clusterBalance(embs: DataFrame, cells: Int = 16,
                     cap: Int = 25): DataFrame = {
    require(cap >= 1, s"cap must be >= 1: $cap")
    val assigned = ivfAssign(embs, seedCells(embs, cells))
    assigned.withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("cell"))
          .orderBy(md5(col("nid").cast("string")).asc, col("nid").asc)))
      .select(col("nid").as("vec_id"), col("cell"), (col("rn") <= cap).as("kept"))
  }

  /** Deterministic signed random projection (Johnson–Lindenstrauss /
    * Achlioptas 2001 ±1 form): project the 64-dim embedding to `outDims`
    * components, component j = Σ_i sign(i,j)·q_i over the integer-quantized
    * vector, with sign(i,j) = ±1 from the parity of md5("i-j") — the same
    * derived-hyperplane trick as [[lshBucket]], so the projection matrix is
    * a pure function of indices (no RNG state to ship; any engine
    * reconstructs it bit-identically). The classic cheap pre-filter before
    * exact ANN at corpus scale: 4× fewer dimensions ≈ 4× less memory
    * bandwidth per candidate, with JL's distance-preservation guarantee in
    * expectation. Narrow per-row map — composes into the scan, no
    * shuffle; the signs fold at plan time into a codegen'd expression. */
  def randomProject(embs: DataFrame, outDims: Int = 16): DataFrame = {
    require(outDims >= 1, s"outDims must be >= 1: $outDims")
    val q = quantize(col("embedding"))
    // sign(i,j) ([[jlSign]]) is computed at plan time so the per-row
    // expression is a plain ±ql sum, not 64·outDims runtime hashes
    embs.select(col("vec_id"),
      array_join(array(projectComps(q, outDims): _*), ",").as("pvec"))
  }

  /** The ±1-projection components as plan-time columns (still used by
    * [[randomProject]], whose per-corpus-row cost is one pass). */
  private def projectComps(q: Column, outDims: Int): Seq[Column] =
    (0 until outDims).map { j =>
      (0 until 64).map { i =>
        val t = element_at(q, i + 1)
        if (jlSign(i, j) > 0) t else -t
      }.reduce(_ + _)
    }

  /** sign(i,j) = ±1 from the parity of md5("i-j")'s first nibble — the
    * derived-hyperplane trick; a pure function of indices, so any engine
    * reconstructs the matrix bit-identically. */
  private def jlSign(i: Int, j: Int): Long = {
    val h = java.security.MessageDigest.getInstance("MD5")
      .digest(s"$i-$j".getBytes("UTF-8"))
    if (((h(0) >> 4) & 1) == 0) 1L else -1L
  }

  /** All `outDims` projected components in ONE native-kernel call
    * (graft_jl): the unrolled alternative — outDims summation chains of
    * 64 element_at/negate terms — is a >1000-node tree whose generated
    * method blows the Janino/JIT limits and drops the stage out of
    * codegen (the bench's two slowest rows were exactly this). The sign
    * matrix travels as a small typed literal. */
  private def projectArr(q: Column, outDims: Int): Column =
    graft.functions.GraftFunctions.jlproject(q,
      typedLit((0 until outDims).map(j => (0 until 64).map(i => jlSign(i, j)))))

  /** Norm of an integer code vector from its exact BIGINT self-dot. */
  private def intNorm(c: Column): Column = sqrt(lldot(c, c).cast("double"))

  /** Shortlist score of the code members: exact BIGINT code dot over the
    * hoisted code norms, rounded to 6 dp. The dot is the native codegen'd
    * graft_lldot kernel; the interpreted HOF fold it replaced ran 400M
    * times per sf10 pass (the pair scan IS this expression). */
  private def intCosine(q: String, qn: String, c: String, cn: String): Column =
    round(lldot(col(q), col(c)).cast("double") / (col(qn) * col(cn)), 6)
      .as("pcos")

  /** Flat top-`m` shortlist of [[topKProjected]] and [[topKPrefix]]: both
    * sides map to the integer `code` of their quantized vector, every
    * (query, corpus) pair scores [[intCosine]], and the slim
    * (qid, nid, pcos) rows go through [[topKPer]]. */
  private def codeShortlist(corpus: DataFrame, queries: DataFrame, m: Int)
                           (code: Column => Column): DataFrame = {
    def slim(df: DataFrame, idAs: String, pAs: String, nAs: String) =
      df.select(col("vec_id").as(idAs),
          code(quantize(col("embedding"))).as(pAs))
        .withColumn(nAs, intNorm(col(pAs)))
    val c = slim(corpus, "nid", "pc", "pcn").repartition(col("nid"))
    val qs = slim(queries, "qid", "pq", "pqn")
    topKPer(c.crossJoin(broadcast(qs))
        .filter(col("qid") =!= col("nid"))
        .select(col("qid"), col("nid"), intCosine("pq", "pqn", "pc", "pcn")),
      m, col("pcos").desc)
  }

  /** Projected-space top-k with exact rerank — the USE of
    * [[randomProject]]: candidates are the top-m neighbors by cosine in
    * the 16-dim projected space (JL preserves angles in expectation, and a
    * 16-int dot costs ¼ the memory traffic of the 64-dim original), then
    * the m survivors re-rank by EXACT full-space cosine. Same
    * candidate-count as the brute-force scan but each candidate is 4×
    * cheaper to score and the full vectors are touched only m times per
    * query — the dimensionality-reduction prefilter family, complementing
    * LSH (bucketing) and IVF (partitioning). Projected dots are exact
    * BIGINTs; both cosines round at 6 dp, so ranks are engine-exact. */
  def topKProjected(corpus: DataFrame, queries: DataFrame, k: Int = 3,
                    m: Int = 10, outDims: Int = 16): DataFrame =
    // native graft_jl: ONE kernel call per row — the unrolled 16×64
    // element_at tree dropped this stage out of codegen (r12 bench: the
    // projection rows were the slowest in the run from plan overhead alone)
    rerankExact(codeShortlist(corpus, queries, m)(projectArr(_, outDims)),
      corpus, queries, k)

  /** Matryoshka / PREFIX-dimension ANN (MRL-style: embeddings trained so
    * leading dimensions carry the coarse signal — Kusupati et al. 2022):
    * shortlist by the exact integer dot of the FIRST `prefixDims`
    * quantized coordinates, exact full-space rerank on the m survivors.
    * The third member of the cheap-shortlist family next to the JL
    * projection (random mixing, works on any embedding) and SQ8 (full-dim,
    * narrower ints): a prefix slice costs NO transform at all — at 100 TB
    * the index stores the prefix column and the shortlist reads ¼ of the
    * bytes, with recall tracking how front-loaded the embedding actually
    * is. Same shortlist shape as [[topKProjected]]; deterministic: BIGINT
    * prefix dots, 6-dp rounded prefix cosine, (pcos desc, nid) ties. */
  def topKPrefix(corpus: DataFrame, queries: DataFrame, k: Int = 3,
                 m: Int = 10, prefixDims: Int = 16): DataFrame = {
    require(prefixDims >= 1, s"prefixDims must be >= 1: $prefixDims")
    rerankExact(codeShortlist(corpus, queries, m)(slice(_, 1, prefixDims)),
      corpus, queries, k)
  }

  /** HARD-NEGATIVE mining for contrastive training: for each anchor, the
    * top-k most-similar candidates with a DIFFERENT label — the negatives
    * that actually move a contrastive loss (random negatives are trivially
    * separable; the informative ones are the near-misses). Pre-filter
    * semantics like [[topKIvfFiltered]]: the label-mismatch predicate cuts
    * candidates BEFORE the per-anchor top-k, so every anchor gets k true
    * negatives. Candidate generation is LSH-bucket blocked ([[lshBuckets]]):
    * high-cosine pairs co-bucket with high probability, so the pair scan is
    * ~n²/2^LshBits instead of all-pairs — the same blocking the dedup
    * family rides at corpus scale. Complements [[contrastivePairs]] (which
    * pairs by shared label); together they emit the (anchor, positive,
    * hard-negative) triples a contrastive run trains on. */
  def hardNegatives(embs: DataFrame, anchorPred: Column,
                    k: Int = 3): DataFrame = {
    val c = embs.select(col("vec_id").as("nid"),
        col("embedding").cast("array<double>").as("cv"),
        l2norm(col("embedding")).as("cn"),
        lshBucket(col("embedding")).as("bucket"), col("label").as("neg_label"))
      .repartition(col("bucket"))
    val q = embs.filter(anchorPred).select(col("vec_id").as("qid"),
      col("embedding").cast("array<double>").as("qv"),
      l2norm(col("embedding")).as("qn"),
      lshBucket(col("embedding")).as("qbucket"), col("label").as("anchor_label"))
    topKPer(c.join(broadcast(q),
          col("bucket") === col("qbucket") && col("qid") =!= col("nid") &&
            col("neg_label") =!= col("anchor_label"))
        .select(col("qid"), col("anchor_label"), col("nid"), col("neg_label"),
          cosine("qv", "qn", "cv", "cn")),
      k, col("cos").desc)
  }

  /** L2-normalize + int8-quantize an embedding column — the storage/compute
    * shrink before indexing at scale (4 B → 1 B per dimension; at 100 TB of
    * vectors that is the difference between an index that fits executor
    * memory and one that doesn't). Narrow: composes into the scan, no
    * shuffle. floor() (not round) keeps the quantized codes bit-identical
    * cross-engine; the norm surfaces rounded like the cosine scores. */
  def normalizeQuantize(embs: DataFrame): DataFrame = {
    val ad = col("embedding").cast("array<double>")
    embs.select(col("vec_id"), ad.as("e"), l2norm(col("embedding")).as("nrm"))
      .select(col("vec_id"), round(col("nrm"), 6).as("qnorm"),
        array_join(when(col("nrm") > 0,
          transform(col("e"), x => floor(x / col("nrm") * 127).cast("string")))
          .otherwise(transform(col("e"), _ => lit("0"))), ",").as("qvec"))
  }

  // ---- product quantization ----------------------------------------------

  /** PQ geometry: 64-dim vectors split into 4 subspaces of 16 dims, 16
    * codewords per subspace (a 4-byte code per vector — 64× smaller than
    * the float payload; the standard ANN compression at corpus scale). */
  val PqSub = 4
  val PqDims = 16
  val PqK = 16

  /** Deterministic PQ codebook: the PqK smallest-id vectors, one subvector
    * per (codeword, subspace). A trained codebook would come from k-means;
    * seeding keeps the whole pipeline value-oracle-able (no float
    * iteration), and NOTHING downstream depends on how the codebook was
    * chosen — pass [[pqCodebookTrained]] instead and the encode/ADC
    * shapes are unchanged. PqK rows collect driver-side (tiny, like the
    * bloom filter words) and broadcast to every probe. */
  def pqCodebook(embs: DataFrame): DataFrame = {
    val spark = embs.sparkSession
    import spark.implicits._
    val seeds = embs
      .select(col("vec_id").cast("long").as("id"),
        col("embedding").cast("array<double>").as("e"))
      .orderBy(col("id")).limit(PqK).collect()
      .zipWithIndex.flatMap { case (r, cid) =>
        val v = r.getSeq[Double](1)
        (0 until PqSub).map(s =>
          (cid, s, v.slice(s * PqDims, (s + 1) * PqDims)))
      }
    seeds.toSeq.toDF("cid", "s", "cv")
  }

  /** TRAINED PQ codebook: `iters` exact integer Lloyd iterations per
    * subspace ([[graft.ml.MLOps.kmeansCentroidsExact]] over the PqDims-dim
    * subvectors), replacing the smallest-id seeding — the FAISS-style
    * codebook whose codewords sit at subspace cluster means instead of
    * arbitrary data points, shrinking ADC quantization error. Same output
    * shape as [[pqCodebook]] ((cid, s, cv)), so it is passed as the
    * `codebook` of any PQ operator with encode/ADC unchanged. Cost:
    * PqSub × iters corpus scans over PqDims-wide slices, each one
    * broadcast crossJoin + one k×PqDims aggregation — no corpus shuffle.
    * Codeword values land on the 1e-6 grid (the k-means integer
    * arithmetic), which is why the iters = 0 form is NOT bit-identical to
    * the raw-double [[pqCodebook]]; the spec pins shape + rank validity
    * and DESIGN.md records the recall comparison. */
  def pqCodebookTrained(embs: DataFrame, iters: Int = 2): DataFrame = {
    // the PqSub per-subspace trainings are INDEPENDENT driver loops (each
    // a couple of small collect jobs per Lloyd round) — run them as
    // concurrent jobs so one subspace's tail back-fills the others' idle
    // cores (guide §2.6; sequential form measured the 4 trainings
    // end-to-end serialized). Results are reassembled in subspace order,
    // so the output is byte-identical to the sequential form.
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    // dedicated fixed pool sized to the fan-out, NOT ExecutionContext.global:
    // each future blocks on Spark collects, and blocking the shared
    // fork-join pool can starve it if a caller is already on it (advisor
    // note, r13). Extensions installed once up front so the concurrent
    // trainings never race the registry check-then-act.
    graft.functions.GraftExtensions.install(embs.sparkSession)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(PqSub)
    try {
      implicit val ec: ExecutionContext =
        ExecutionContext.fromExecutorService(pool)
      val trained = (0 until PqSub).map { s =>
        Future {
          val part = embs.select(col("vec_id"),
            expr(s"slice(CAST(embedding AS array<double>), ${s * PqDims + 1}, " +
              s"$PqDims)").as("embedding"))
          graft.ml.MLOps.kmeansCentroidsExact(part, k = PqK, iters = iters)
            .select(col("vec_id").cast("int").as("cid"), lit(s).as("s"),
              col("embedding").as("cv"))
        }
      }
      trained.map(Await.result(_, Duration.Inf)).reduce(_ unionByName _)
    } finally pool.shutdown()
  }

  /** Ordered-fold squared L2 distance between two equal-length arrays —
    * sequential index-order fold, so the double is bit-identical on any
    * engine that folds in list order (the [[dot]] determinism contract). */
  private def sqDist(a: String, b: String): Column =
    expr(s"aggregate(zip_with($a, $b, (x, y) -> (x - y) * (x - y)), " +
      "CAST(0 AS DOUBLE), (acc, x) -> acc + x)")

  /** Per-row PQ minimization: (vec_id, mins) where mins[s] is the
    * struct(d2, cid) of the winning codeword for subspace s (ties to the
    * smaller codeword id — struct ordering). The 64 codebook structs ride
    * in as a one-row broadcast and the argmin runs inside higher-order
    * functions per corpus row — no explode fan-out, no keyed shuffle;
    * encoding N vectors costs one pass (plus one spread-the-input hash
    * exchange on the id guarding the single-file serial hazard, see the
    * comment below). */
  private def pqMins(embs: DataFrame, codebook: DataFrame): DataFrame = {
    graft.functions.GraftExtensions.install(embs.sparkSession)
    // codebook as an ordered matrix (row s·PqK + cid = codeword cid of
    // subspace s — sort_array over struct(s, cid, cv) is the (s, cid)
    // lexicographic order; pairs are unique so cv never drives the sort)
    // feeding the native graft_pqmin kernel: one codegen'd sub×k×dims loop
    // per corpus row instead of the interpreted transform/filter/array_min/
    // aggregate lambda chain (guide §4 "eliminate non-codegen expressions";
    // same d2 fold order and (d2, cid) tie-break, so values are
    // bit-identical — PqArgminSpec pins the differential).
    val cbRow = codebook
      .select(struct(col("s"), col("cid"),
        col("cv").cast("array<double>").as("cv")).as("c"))
      .agg(sort_array(collect_list(col("c"))).as("cs"))
      .select(expr("transform(cs, c -> c.cv)").as("cbm"))
    // repartition FIRST (the ivfAssign serial-window rule, found here by
    // the sf10 ladder at 1.1 load): a single-file corpus scans as ONE
    // partition and this whole chain is narrow, so the per-row argmin over
    // PqK×PqSub codewords — and every downstream ADC scan — would run on
    // one core. On a many-file corpus the exchange is the one you'd drop;
    // at 100 TB the codes table is materialized once anyway.
    embs
      .select(col("vec_id").cast("long").as("vec_id"),
        col("embedding").cast("array<double>").as("v"))
      .repartition(col("vec_id"))
      .crossJoin(broadcast(cbRow))
      .select(col("vec_id"),
        graft.functions.GraftFunctions.pqArgmin(col("v"), col("cbm"))
          .as("mins"))
  }

  /** PQ encode: one (vec_id, subspace, code, d2_micro) row per subspace —
    * code = argmin codeword by squared L2 (ties to the smaller codeword
    * id), d2_micro the integer-quantized residual. Narrow end-to-end
    * (see [[pqMins]]); the only explode is the final per-subspace
    * row-shaping, after the minimization. `codebook` is a (cid, s, cv)
    * table: [[pqCodebook]] or [[pqCodebookTrained]]. */
  def pqEncode(embs: DataFrame, codebook: DataFrame): DataFrame =
    pqMins(embs, codebook)
      .select(col("vec_id"), posexplode(col("mins")).as(Seq("s", "m")))
      .select(col("vec_id"), col("s"), col("m.cid").as("code"),
        expr("CAST(round(m.d2 * 1e6) AS BIGINT)").as("d2_micro"))

  /** Asymmetric-distance (ADC) top-k over PQ codes: each query computes a
    * distance table to every codeword (PqSub × PqK entries, broadcast),
    * and a corpus vector's approximate distance is the SUM of table
    * lookups at its codes — the corpus side touches only its 4-byte
    * codes, never the float vectors, which is the entire point at scale.
    * Subspace partials are integer-quantized BEFORE the sum so the
    * aggregation is associative — rank order cannot flip on float
    * addition order. `codebook` as in [[pqEncode]]; it feeds both the
    * corpus encode and the query distance table. */
  def pqAdcTopK(embs: DataFrame, k: Int, queryPred: Column,
                codebook: DataFrame): DataFrame = {
    // wide codes: one row per corpus vector, codes[s] = winning codeword —
    // narrow all the way (pqMins)
    val codesWide = pqMins(embs, codebook)
      .select(col("vec_id"), expr("transform(mins, m -> m.cid)").as("codes"))
    val qtable = pqQueryTable(embs, queryPred, codebook)
    // ADC = ordered sum of table lookups at the corpus vector's codes —
    // pure expression over (codes × broadcast tables); the ONLY shuffle in
    // the whole query is the final per-query top-k window
    val adc = codesWide.crossJoin(broadcast(qtable))
      .filter(col("qid") =!= col("vec_id"))
      .select(col("qid"), col("vec_id").as("nid"),
        adcSum(col("codes"), col("qd2s")).as("adc_micro"))
    topKPer(adc, k, col("adc_micro").asc)
  }

  /** Per-query ADC distance table, shaped as qd2s[s][cid] (nested arrays in
    * subspace/codeword order) — one broadcastable row per query. Shared by
    * [[pqAdcTopK]] (flat scan) and [[ivfPqTopK]] (cell-probed scan);
    * subspace partials are integer-quantized here so every consumer's sum
    * is associative. */
  private def pqQueryTable(embs: DataFrame, queryPred: Column,
                           cb: DataFrame): DataFrame = {
    val qsub = embs.filter(queryPred)
      .select(col("vec_id").cast("long").as("qid"),
        col("embedding").cast("array<double>").as("v"))
      .select(col("qid"), explode(sequence(lit(0), lit(PqSub - 1))).as("s"),
        col("v"))
      .select(col("qid"), col("s"),
        expr(s"slice(v, s * $PqDims + 1, $PqDims)").as("sv"))
    qsub.join(broadcast(cb), "s")
      .select(col("qid"), col("s"), col("cid"), sqDist("sv", "cv").as("d2"))
      .select(col("qid"), col("s"), col("cid"),
        expr("CAST(round(d2 * 1e6) AS BIGINT)").as("qd2"))
      .groupBy(col("qid"))
      .agg(collect_list(struct(col("s"), col("cid"), col("qd2"))).as("t"))
      .select(col("qid"), expr(
        s"""transform(sequence(0, ${PqSub - 1}), s ->
           |  transform(sequence(0, ${PqK - 1}), j ->
           |    filter(t, e -> e.s = s AND e.cid = j)[0].qd2))""".stripMargin)
        .as("qd2s"))
  }

  /** IVF-PQ top-k — the composed index every production-scale ANN system
    * ships (FAISS IVFPQ; Jégou et al. 2011): the IVF coarse quantizer
    * bounds WHICH vectors are scored (the query probes its `nprobe`
    * nearest cells) and PQ-ADC bounds WHAT each score costs (a sum of
    * table lookups over 4-byte codes — the float vectors are never
    * touched at query time). This is the 100 TB shape: the flat ADC scan
    * of [[pqAdcTopK]] still reads every code row per query, while here
    * candidate volume is nprobe/cells of the corpus AND each candidate
    * costs table lookups only.
    *
    * Composition is by construction: corpus cells from [[ivfAssign]]
    * (swap [[ivfAssignPruned]] past fixture scale), codes from
    * [[pqMins]], the query's cells from the shared [[probeCells]],
    * distance tables from the shared
    * [[pqQueryTable]]. Everything query-sided broadcasts; the only
    * shuffle is the final per-query top-k window. Approximation is the
    * product of the two knobs — nprobe (recall of the candidate set) and
    * the codebook (fidelity of the score) — each independently verified
    * by its own oracle row; at nprobe = cells this degenerates to exactly
    * [[pqAdcTopK]], which the spec differential pins. `codebook` as in
    * [[pqEncode]]. */
  def ivfPqTopK(embs: DataFrame, k: Int, cells: Int, nprobe: Int,
                queryPred: Column, codebook: DataFrame,
                assignSprobe: Option[Int] = None): DataFrame = {
    val seeds = seedCells(embs, cells)
    // corpus side: cell placement + PQ codes, joined on the vector id —
    // both sides are corpus-keyed, so at scale this is a co-partitioned
    // join (and the index build a real deployment materializes anyway).
    // assignSprobe = Some(s) swaps in the two-level PRUNED placement
    // (assign cost sublinear in cells) — the knob that lets `cells` track
    // √n at corpus scale; the sf10 probe measured the exact assigner's
    // curve RISING past cells ≈ 141 (20.7 → 145.8 s at 1414) because the
    // O(n·cells·d) assign term swamps the shrinking candidate volume,
    // exactly the SemDeDup r10 finding replayed on the ANN side.
    val assigned = assignSprobe
      .map(sp => ivfAssignPruned(embs, seeds, sp))
      .getOrElse(ivfAssign(embs, seeds))
      .select(col("nid").cast("long").as("vec_id"), col("cell"))
    val codesWide = pqMins(embs, codebook)
      .select(col("vec_id"), expr("transform(mins, m -> m.cid)").as("codes"))
      .join(assigned, "vec_id")
    // query side: nprobe-cell probe + the ADC distance table — both broadcast
    val qprobe = probeCells(embs.filter(queryPred), seeds, nprobe)
      .select(col("qid").cast("long").as("qid"), col("qcell"))
    val qtable = pqQueryTable(embs, queryPred, codebook)
    val adc = codesWide
      .join(broadcast(qprobe), col("cell") === col("qcell"))
      .filter(col("qid") =!= col("vec_id"))
      .join(broadcast(qtable), "qid")
      .select(col("qid"), col("vec_id").as("nid"),
        adcSum(col("codes"), col("qd2s")).as("adc_micro"))
    topKPer(adc, k, col("adc_micro").asc)
  }

  /** The df-capped weighted postings (doc_id, tok, w) — the expensive
    * stage of [[tfidfTopK]], split out so callers can STAGE it once per
    * fixture (parquet via StagingFs, like the dedup signature family)
    * instead of re-deriving tokenize→tf→df on every pass. */
  def tfidfWeights(docs: DataFrame, maxDfPct: Int = 18,
                   scale: Long = 10000): DataFrame = {
    // bigram terms, not unigrams: word co-occurrence is what separates
    // documents drawn from a small shared vocabulary (the fixture's
    // unigram df is nearly flat), and n-gram terms are the standard
    // lexical-similarity unit anyway (same shingle helper as the dedup
    // family)
    // term frequencies feed BOTH the document-frequency aggregate and the
    // weighted-postings join — materialize so the tokenize+explode scan
    // runs once
    val tf = termFrequencies(docs).localCheckpoint()
    // df cap RELATIVE to corpus size (tokens in > maxDfPct% of docs are
    // stopwords) — an absolute cap would rot as the corpus grows; the
    // count rides in as a one-row broadcast, no driver round trip
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    val dfreq = tf.groupBy(col("tok")).agg(count(lit(1)).as("df"))
      .crossJoin(broadcast(nDocs))
      .filter(col("df") * 100 <= col("n_docs") * maxDfPct)
      .drop("n_docs")
    tf.join(dfreq, "tok")
      .select(col("doc_id"), col("tok"),
        expr(s"(tf * $scale) div df").as("w"))
  }

  /** Per-document keyword extraction: the top-`k` most DISTINCTIVE bigram
    * terms by tf-idf weight (weight desc, term asc — integer weights, so
    * the ranking is engine-exact). The metadata-enrichment pass a corpus
    * pipeline runs for topic routing / faceting; derives entirely from the
    * [[tfidfWeights]] postings `weights`, so a run that already staged them
    * (the tfidf/bm25 convention) pays only one window here. Docs whose
    * every term is df-capped (pure boilerplate) have no keywords — absent,
    * the no-evidence convention. */
  def keywords(weights: DataFrame, k: Int = 3): DataFrame = {
    require(k >= 1, s"keyword count must be >= 1: $k")
    weights.withColumn("rank", row_number().over(
        Window.partitionBy(col("doc_id"))
          .orderBy(col("w").desc, col("tok").asc)))
      .filter(col("rank") <= k)
  }

  /** Embedding distribution drift between the stored corpus and an
    * incoming batch — the ingest-monitoring counterpart of
    * [[graft.operators.TextOps.batchNovelty]] on the vector side (an
    * upstream encoder change shows up as per-dimension mean shift long
    * before any downstream metric moves). Exact integer surface: per-dim
    * micro-quantized means (Σ round(x·1e6) div n) for both sides plus the
    * signed delta. One partial+final aggregation per side over the
    * exploded (dim, value) stream — linear, no joins beyond the 64-row
    * result merge. */
  def embeddingDrift(stored: DataFrame, batch: DataFrame): DataFrame = {
    def dimMeans(df: DataFrame, as: String) = df
      .select(posexplode(quantize(col("embedding"))).as(Seq("dim", "x")))
      .groupBy(col("dim"))
      .agg(expr("CAST(SUM(x) AS BIGINT) DIV COUNT(1)").as(as))
    dimMeans(stored, "stored_mean_micro")
      .join(dimMeans(batch, "batch_mean_micro"), "dim")
      .withColumn("drift_micro",
        col("batch_mean_micro") - col("stored_mean_micro"))
  }

  /** Sparse TF-IDF document similarity — the lexical counterpart of the
    * dense-vector ANN paths above, and the classic all-pairs-similarity
    * job at corpus scale: tokenize → per-doc term frequencies → document
    * frequencies → weighted postings → inverted-index join on shared
    * tokens → cosine re-rank.
    *
    * Scale levers, all visible in the plan:
    *  - `maxDf` prunes hot posting lists BEFORE the join (stopword cut):
    *    candidate volume is Σ_t df_q(t)·df(t) which the cap bounds —
    *    without it one stopword token joins every document against every
    *    query;
    *  - the query side is a small filtered subset, so the index join is
    *    selective, not all-pairs;
    *  - weights are integer rationals (tf·scale div df — the ln-idf swap
    *    is a one-line change that alters no plan shape), norms/dots are
    *    exact BIGINT sums, and the only floats are two correctly-rounded
    *    sqrt's and one division, so the scores value-oracle exactly.
    */
  def tfidfTopK(w: DataFrame, k: Int = 5, queryMod: Long = 97): DataFrame = {
    val norms = w.groupBy(col("doc_id"))
      .agg(sum(col("w") * col("w")).as("n2"))
    val q = w.filter(col("doc_id") % queryMod === 0)
      .select(col("doc_id").as("qid"), col("tok"), col("w").as("wq"))
    val dot = q
      .join(w.select(col("doc_id").as("nid"), col("tok"), col("w").as("wn")),
        "tok")
      .filter(col("qid") =!= col("nid"))
      .groupBy(col("qid"), col("nid"))
      .agg(sum(col("wq") * col("wn")).as("dot"))
    val scored = dot
      .join(norms.select(col("doc_id").as("qid"), col("n2").as("nq")), "qid")
      .join(norms.select(col("doc_id").as("nid"), col("n2").as("nn")), "nid")
      .select(col("qid"), col("nid"),
        round(col("dot").cast("double") /
          (sqrt(col("nq").cast("double")) * sqrt(col("nn").cast("double"))),
          6).as("cos"))
    topKPer(scored, k, col("cos").desc)
  }

  /** Raw bigram term-frequency postings (doc_id, tok, tf) — the shared
    * tokenize→explode→count stage of the lexical retrieval family
    * ([[tfidfTopK]] derives weights from it, [[bm25TopK]] and
    * [[graft.operators.TextOps.dsirSample]] score from it). A pure
    * function of the corpus: stage it once per fixture and reuse.
    *
    * posexplode + lead, NOT `shingles(tokens(..))`: the higher-order
    * shingle lambda inlines its tokenizer argument and re-splits the text
    * once per position (the recurring round-8/9 pathology — this call
    * site measured 45 s for the sf1 stage build before the rewrite,
    * 2.3 s after). Docs shorter than 2 tokens keep the whole-token-string
    * fallback shingle the oracles mirror. */
  def termFrequencies(docs: DataFrame): DataFrame = {
    import graft.functions.GraftFunctions.tokens
    val toks = docs.repartition(col("doc_id"))
      .select(col("doc_id"),
        posexplode(tokens(col("text"))).as(Seq("pos", "tok0")))
    val wLead = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val wCnt = Window.partitionBy(col("doc_id"))
    val nxt = lead(col("tok0"), 1).over(wLead)
    val gram = when(count(lit(1)).over(wCnt) >= 2,
        when(nxt.isNotNull, concat_ws(" ", col("tok0"), nxt)))
      .otherwise(when(col("pos") === 0, col("tok0")))
    toks.select(col("doc_id"), gram.as("tok"))
      .filter(col("tok").isNotNull)
      .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("tf"))
  }

  /** Size-gate for the bm25 query-side broadcast hints: the query/feedback/
    * expansion sides are 1/queryMod of the corpus postings BY CONSTRUCTION —
    * bounded at fixture scale but LINEAR in corpus size, so an
    * unconditional `broadcast()` would bypass AQE's size checks and hit
    * Spark's 8 GB broadcast cap (or OOM the driver) at large SFs (r13
    * verdict "what's wrong" #1). `ubRows` is a cheap upper bound on the
    * side's row count (a filtered count over the already-materialized tf);
    * under the limit the hint applies and the corpus-sized postings never
    * shuffle (the r13 plan win), over it the hint is withheld and the
    * planner falls back to the scale-safe shuffled join. ~100 bytes per
    * (qid, tok) hash-relation row puts the 2M-row default around 200 MB —
    * comfortable for the guide's "few hundred MB is fine" envelope;
    * override per deployment via spark.graft.broadcast.rowLimit. */
  private def gatedBroadcast(side: DataFrame, ubRows: Long): DataFrame = {
    val limit = side.sparkSession.conf
      .getOption("spark.graft.broadcast.rowLimit").map(_.toLong)
      .getOrElse(2000000L)
    if (ubRows <= limit) broadcast(side) else side
  }

  // the gate's upper bound is a pure function of (tf, queryMod) — memoize
  // per (app, analyzed-plan, mod) so the three bm25-family rows (and
  // best-of-2 bench re-runs) pay the count job once per JVM
  private val qUbCache =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
  private def queryTfUb(tf: DataFrame, queryMod: Long): Long = {
    val key = tf.sparkSession.sparkContext.applicationId + "#" +
      tf.queryExecution.analyzed.semanticHash() + "#" + queryMod
    qUbCache.computeIfAbsent(key,
      _ => tf.filter(col("doc_id") % queryMod === 0).count()).longValue()
  }

  /** The BM25-weighted postings (doc_id, tok, w) of a [[termFrequencies]]
    * table — factored so the ranker and the pseudo-relevance-feedback pass
    * share one build. `tf` feeds doc-lengths, document frequencies AND the
    * postings join: pass it materialized so the tokenize+explode scan runs
    * once. */
  private def bm25Postings(tf: DataFrame, maxDfPct: Int): DataFrame = {
    val dl = tf.groupBy(col("doc_id")).agg(sum(col("tf")).as("dl"))
    // one-row corpus stats: n docs + quantized avgdl; broadcast, no
    // driver round trip
    val stats = dl.agg(count(lit(1)).as("n"),
      expr("(sum(dl) * 1000) div count(1)").as("avg_q"))
    val dfreq = tf.groupBy(col("tok")).agg(count(lit(1)).as("df"))
      .crossJoin(broadcast(stats))
      .filter(col("df") * 100 <= col("n") * maxDfPct)
      .select(col("tok"),
        expr("least(((n - df) * 1000) div df, 1000000000L)").as("idf_i"))
    tf.join(dfreq, "tok").join(dl, "doc_id")
      .crossJoin(broadcast(stats.select(col("avg_q"))))
      .select(col("doc_id"), col("tok"),
        (col("idf_i") *
          expr("(22 * avg_q * tf * 10000) div " +
               "(10 * avg_q * tf + 3 * avg_q + 9000 * dl)")).as("w"))
  }

  /** Okapi BM25 top-k retrieval (Robertson & Walker; k1 = 1.2, b = 0.75)
    * over the bigram inverted index — the probabilistic-relevance
    * counterpart of [[tfidfTopK]]'s vector-space cosine, and the scoring
    * the reference's Table/SQL users would reach for first when ranking
    * documents against query documents.
    *
    * All arithmetic is integer-exact and — unlike a naive clearing of
    * denominators — CORPUS-SIZE-INDEPENDENT in magnitude, so the widths
    * that hold at fixture scale hold at 100 TB:
    *  - `avg_q`  = (Σ dl · 1000) div n        — avgdl ×1000, a per-corpus
    *    constant that rides in as a one-row broadcast;
    *  - `idf_i`  = least(((n − df) · 1000) div df, 10⁹) — ×1000 integer
    *    idf, SATURATED at 10⁹. Without the ceiling the raw doc count n
    *    rides into idf (df = 1 ⇒ idf_i ≈ 1000·n), so per-posting weights
    *    would grow linearly with corpus size and silently wrap BIGINT
    *    around n ≈ 10¹⁰ docs; the ceiling binds only for terms rarer than
    *    1-in-10⁶ (df < n/10⁶), where BM25's ranking signal is already
    *    maximal, and restores the corpus-size-independent width claim:
    *    w = idf_i·tfq ≤ 2.2·10¹³, so a (query, doc) score sum stays inside
    *    BIGINT for up to ~4·10⁵ matched terms per pair — far past any real
    *    query. The same corpus-relative df cap as [[tfidfWeights]] prunes
    *    stopword posting lists BEFORE the index join (at ≤ `maxDfPct`% the
    *    pruned terms carry near-zero idf anyway, so the cap costs ranking
    *    almost nothing and buys the candidate-volume bound that matters at
    *    scale);
    *  - `tfq`    = (22·avg_q·tf·10000) div (10·avg_q·tf + 3·avg_q + 9000·dl)
    *    — the saturating tf term ×10⁴, obtained by multiplying numerator
    *    and denominator of tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl)) by
    *    10·avg_q. Note n and Σ dl enter ONLY through avg_q (bounded by
    *    1000× the max document length), never as raw factors — the widest
    *    intermediate is 22·avg_q·tf·10⁴, safe in a BIGINT for any corpus
    *    whose longest document is < ~4·10⁹ terms (plan-time width choice,
    *    per the round-9 z-SAX lesson: precision is a static knob, not a
    *    per-row branch).
    *
    * Per-posting weight w = idf_i · tfq is query-independent (classic BM25
    * ignores query-side tf), so it is computed once; a query's score is
    * then ONE semi-additive integer sum over its matched terms — exact,
    * associative, engine-portable. Queries are the `doc_id % queryMod`
    * slice, probing the inverted index selectively (never all-pairs).
    * `tf` is the corpus's [[termFrequencies]] table; the postings build
    * and the broadcast gate both read it, so pass it materialized.
    *
    * Ref semantics context: ranking UDFs over grouped tables
    * (flink-libraries/flink-table/src/main/scala/org/apache/flink/table/
    * functions/utils/UserDefinedFunctionUtils.scala pattern); BM25 itself
    * per Robertson et al., TREC-3. */
  def bm25TopK(tf: DataFrame, k: Int = 5, maxDfPct: Int = 18,
               queryMod: Long = 97): DataFrame = {
    require(k >= 1 && maxDfPct >= 1 && maxDfPct <= 100 && queryMod >= 2,
      s"invalid bm25 shape: k=$k maxDfPct=$maxDfPct queryMod=$queryMod")
    val post = bm25Postings(tf, maxDfPct)
    val q = post.filter(col("doc_id") % queryMod === 0)
      .select(col("doc_id").as("qid"), col("tok"))
    // the query side is 1/queryMod of the postings BY CONSTRUCTION, but
    // Catalyst's selectivity estimate for `doc_id % m = 0` is unknown, so
    // the planner falls back to shuffling the FULL postings table on tok
    // (SortMergeJoin, the dominant exchange of this operator). Broadcast
    // the bounded query side explicitly (guide §3.1) — postings then never
    // leave their partitions — SIZE-GATED (r14): the bound is a filtered
    // count over the materialized tf (a superset of q's rows), so at
    // corpus scale the hint withdraws instead of OOMing the driver.
    val qUb = queryTfUb(tf, queryMod)
    val scores = gatedBroadcast(q, qUb)
      .join(post.select(col("doc_id").as("nid"), col("tok"), col("w")), "tok")
      .filter(col("qid") =!= col("nid"))
      .groupBy(col("qid"), col("nid"))
      .agg(sum(col("w")).as("score_i"))
    topKPer(scores, k, col("score_i").desc)
  }

  /** BM25 with pseudo-relevance feedback (RM3-style query expansion,
    * Lavrenko & Croft 2001 / Abdul-Jaleel RM3): run BM25, treat the top-f
    * results as relevant, harvest the top-e terms of those feedback docs
    * (by summed BM25 weight, excluding terms the query already has), then
    * re-score with the expanded term set — original terms weighted
    * `lambdaPct`, expansion terms `100 − lambdaPct`. Recovers relevant
    * docs sharing NO term with the query (the vocabulary-mismatch fix
    * every lexical stack ships).
    *
    * Exactness: weights are the bm25 BIGINTs, mixing weights integers,
    * expansion selection tie-broken (Σw desc, term asc) — both engines
    * pick identical expansions and scores. Shape: one more
    * candidate-bounded postings probe than plain BM25 (feedback docs are
    * f·q rows; expansion terms e·q rows); the postings build is shared
    * via [[bm25Postings]] and the staged tf. */
  def bm25Prf(tf: DataFrame, k: Int = 5, feedbackDocs: Int = 3,
              expandTerms: Int = 5, lambdaPct: Int = 70,
              maxDfPct: Int = 18, queryMod: Long = 97): DataFrame = {
    require(k >= 1 && feedbackDocs >= 1 && expandTerms >= 1 &&
        lambdaPct >= 1 && lambdaPct <= 99 && queryMod >= 2,
      s"invalid prf shape: k=$k f=$feedbackDocs e=$expandTerms λ=$lambdaPct")
    val mu = 100 - lambdaPct
    // postings feed 4 consumers (query terms, pass-1 scoring, feedback
    // harvest, pass-2 scoring) — materialize once
    val post = bm25Postings(tf, maxDfPct).localCheckpoint()
    val qTerms = post.filter(col("doc_id") % queryMod === 0)
      .select(col("doc_id").as("qid"), col("tok"))
    // pass 1: plain bm25 over the shared postings. The query/feedback/
    // expanded-term sides are all bounded by construction (1/queryMod of
    // the corpus × terms, f·q rows, (q+e)·q rows) but sit behind filters
    // whose selectivity Catalyst cannot estimate — broadcast them
    // explicitly so the corpus-sized postings table is never shuffled on
    // tok/nid (guide §3.1; was 4 SortMergeJoins with full postings
    // exchanges). All three sides scale linearly with qUb (query-slice tf
    // rows), so one gate measure covers them — SIZE-GATED (r14) like
    // [[bm25TopK]]: over the limit every hint withdraws together and the
    // planner falls back to scale-safe shuffled joins.
    val qUb = queryTfUb(tf, queryMod)
    val pass1 = gatedBroadcast(qTerms, qUb)
      .join(post.select(col("doc_id").as("nid"), col("tok"), col("w")), "tok")
      .filter(col("qid") =!= col("nid"))
      .groupBy(col("qid"), col("nid"))
      .agg(sum(col("w")).as("score_i"))
    val feedback = topKPer(pass1, feedbackDocs, col("score_i").desc)
      .select(col("qid"), col("nid"))
    // expansion terms: top-e by summed weight across the feedback docs,
    // excluding terms the query already carries
    val expansion = gatedBroadcast(feedback, feedbackDocs.toLong * qUb)
      .join(post.select(col("doc_id").as("nid"), col("tok"), col("w")), "nid")
      .join(gatedBroadcast(qTerms, qUb), Seq("qid", "tok"), "left_anti")
      .groupBy(col("qid"), col("tok"))
      .agg(sum(col("w")).as("fw"))
      .withColumn("erank", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("fw").desc, col("tok"))))
      .filter(col("erank") <= expandTerms)
      .select(col("qid"), col("tok"), lit(mu.toLong).as("mixw"))
    val terms = qTerms.select(col("qid"), col("tok"),
      lit(lambdaPct.toLong).as("mixw")).unionByName(expansion)
    // pass 2: expanded scoring
    val pass2 = gatedBroadcast(terms, (1L + expandTerms) * qUb)
      .join(post.select(col("doc_id").as("nid"), col("tok"), col("w")), "tok")
      .filter(col("qid") =!= col("nid"))
      .groupBy(col("qid"), col("nid"))
      .agg(sum(col("mixw") * col("w")).as("score_i"))
    topKPer(pass2, k, col("score_i").desc)
  }

  /** Hybrid lexical + dense retrieval with reciprocal-rank fusion
    * (Cormack et al. 2009): BM25 top-k over the documents'
    * [[termFrequencies]] `tf` and cosine top-k over their embeddings (row
    * i of `embeddings` is the embedding of document i — the fixture's
    * parallel-table convention), fused per (query, candidate) by
    * Σ 10⁶ div (rrfK + rank) — exact integers, a
    * side that didn't return the candidate contributes 0. The standard
    * production retrieval shape: lexical recall catches what the encoder
    * misses and vice versa, and RRF needs no score calibration between
    * the two systems (only ranks cross the boundary — which is also why
    * it composes with ANY of the ANN paths here unchanged).
    *
    * Scale: both rankers are the existing staged/bounded shapes; the
    * fusion itself is a full-outer join of two k·q-row lists + one
    * window — candidate-bounded, never corpus-sized. */
  def hybridRrf(tf: DataFrame, embs: DataFrame, k: Int = 5,
                queryMod: Long = 100, rrfK: Int = 60): DataFrame = {
    require(k >= 1 && rrfK >= 1 && queryMod >= 2,
      s"invalid rrf shape: k=$k rrfK=$rrfK queryMod=$queryMod")
    val lex = bm25TopK(tf, k, queryMod = queryMod)
      .select(col("qid"), col("nid"), col("rank").as("lex_rank"))
    val den = topKBruteForce(embs, embs.filter(col("vec_id") % queryMod === 0), k)
      .select(col("qid"), col("nid"), col("rank").as("dense_rank"))
    lex.join(den, Seq("qid", "nid"), "full_outer")
      .select(col("qid"), col("nid"), col("lex_rank"), col("dense_rank"),
        (coalesce(expr(s"1000000 DIV ($rrfK + lex_rank)"), lit(0L)) +
          coalesce(expr(s"1000000 DIV ($rrfK + dense_rank)"), lit(0L)))
          .as("rrf_micro"))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("qid"))
          .orderBy(col("rrf_micro").desc, col("nid"))))
  }

  /** Contrastive pair mining over the embedding corpus: for each query
    * vector, the k most-similar SAME-label rows (positives) and the k
    * most-similar DIFFERENT-label rows (hard negatives) — the pair
    * harvest a contrastive/embedding-training pipeline runs after
    * labeling, where "hard" negatives (high-cosine, wrong label) carry
    * most of the gradient signal.
    *
    * Same plan shape as [[topKBruteForce]] (broadcast query set × one
    * corpus scan, per-query top-k; linear in the corpus, never
    * all-pairs); the label comparison rides inside the broadcast join.
    * At index scale the identical composition applies over
    * [[topKLsh]]/[[topKIvfProbe]] candidates — the label filter commutes
    * with any candidate generator because it only prunes the rerank. */
  def contrastivePairs(embs: DataFrame, k: Int = 5,
                       queryMod: Long = 100): DataFrame = {
    require(k >= 1 && queryMod >= 2,
      s"invalid contrastive shape: k=$k queryMod=$queryMod")
    val c = embs.select(col("vec_id").as("nid"),
        col("label").as("n_label"),
        col("embedding").cast("array<double>").as("cv"),
        l2norm(col("embedding")).as("cn"))
      .repartition(col("nid"))
    val q = embs.filter(col("vec_id") % queryMod === 0)
      .select(col("vec_id").as("qid"), col("label").as("q_label"),
        col("embedding").cast("array<double>").as("qv"),
        l2norm(col("embedding")).as("qn"))
    val scored = c.join(broadcast(q), col("qid") =!= col("nid"))
      .select(col("qid"), col("nid"), col("q_label"), col("n_label"),
        when(col("q_label") === col("n_label"), "pos").otherwise("neg")
          .as("pair_type"),
        cosine("qv", "qn", "cv", "cn"))
    topKPer(scored, k, col("cos").desc, Seq(col("qid"), col("pair_type")))
      .select(col("qid"), col("pair_type"), col("nid"), col("n_label"),
        col("rank"), col("cos"))
  }

  /** Recall@k of an approximate neighbor list against the exact one — the
    * operational metric an ANN deployment monitors (is the LSH/IVF index
    * still finding what brute force would?). Per query: how many of the
    * exact top-k the approximate index returned, as an exact integer
    * micro-ratio. Pure composition: one equi-join on (qid, nid) + one
    * grouped count — runs over ANY (approx, exact) result pair, so the
    * same probe measures LSH, IVF at each nprobe, or PQ-ADC. Queries the
    * approximate index missed entirely still appear (n_hit = 0). */
  def recallAtK(approx: DataFrame, exact: DataFrame): DataFrame = {
    val a = approx.select(col("qid"), col("nid"), lit(1L).as("hit"))
    exact.select(col("qid"), col("nid"))
      .join(a, Seq("qid", "nid"), "left")
      .groupBy(col("qid"))
      .agg(count(lit(1)).as("n_exact"),
        sum(coalesce(col("hit"), lit(0L))).as("n_hit"))
      .select(col("qid"), col("n_exact"), col("n_hit"),
        expr("n_hit * 1000000 DIV n_exact").as("recall_micro"))
  }

  /** The PRODUCTION form of the recall audit (r12 verdict item 7): the
    * `sim_recall_*` rows embed full n×q brute-force ground truth —
    * affordable as a fixture oracle, not as a monitoring job at 100 TB.
    * This entry point runs the SAME plan over a deterministic md5-lottery
    * SUBSET of the queries (1 in `sampleMod` — stableHash keeps the panel
    * fixed across runs, so the estimate is comparable day over day): both
    * the member's top-k and the exact scan see only the sampled queries,
    * so ground-truth cost drops by exactly the sampling factor — the
    * "same plan, tighter queries filter" claim, now code. `member`
    * receives the sampled query frame and returns its (qid, nid) top-k;
    * output is [[recallAtK]]'s per-query shape over the panel (mean of
    * `recall_micro` is the monitored estimate). sampleMod = 1 degenerates
    * to the full audit row-for-row (the spec pins both properties).
    * Measured (ProbeRecallSampled, sf10): the 1-in-10 panel tracks the
    * full audit within a few points at ~1/10 the ground-truth cost. */
  def recallAtKSampled(corpus: DataFrame, queries: DataFrame,
                       sampleMod: Long, k: Int = 3)
                      (member: DataFrame => DataFrame): DataFrame = {
    require(sampleMod >= 1, s"sampleMod must be >= 1: $sampleMod")
    import graft.functions.GraftFunctions.stableHash
    val sampled =
      if (sampleMod == 1) queries
      else queries.filter(
        pmod(stableHash(col("vec_id").cast("string")), lit(sampleMod)) === 0)
    recallAtK(
      member(sampled).select(col("qid"), col("nid")),
      topKBruteForce(corpus, sampled, k).select(col("qid"), col("nid")))
  }

  /** Maximal-marginal-relevance rerank (Carbonell & Goldstein 1998): per
    * query, greedily select `k` of the top-`m` candidates maximizing
    * λ·rel(q,d) − (1−λ)·max_{s∈S} sim(d,s) — the diversity selection a
    * retrieval/curation pipeline runs so the chosen set is not k copies
    * of the same near-duplicate.
    *
    * Exactness: relevance and pairwise similarities are quantized ONCE to
    * micro-cosine BIGINTs (round(1e6·cos) — the same double on both
    * engines, rounded away from zero on both), and every greedy score is
    * then pure integer arithmetic (`lambdaPct·rel − (100−lambdaPct)·
    * maxsim`), ties broken by smallest id — so the whole greedy trajectory
    * is engine-exact, no float drift can flip a pick. First pick (empty
    * S) scores λ·rel, the standard convention (maxsim term 0).
    *
    * Shape at scale: candidate generation is the broadcast-query scan
    * (linear, never all-pairs); the pairwise-sim table is m² per query —
    * m is a constant knob, so it's O(queries·m²) TOTAL, the small thing;
    * the k greedy rounds are driver-orchestrated joins over that small
    * candidate set (bounded data, `localCheckpoint` per round — the BPE
    * trainer precedent), NOT over the corpus. At index scale the same
    * greedy runs over LSH/IVF candidates — MMR only consumes (rel, sim)
    * pairs, not vectors. */
  def mmrRerank(embs: DataFrame, k: Int = 5, m: Int = 10,
                lambdaPct: Int = 70, queryMod: Long = 100): DataFrame = {
    require(k >= 1 && m >= k && lambdaPct >= 0 && lambdaPct <= 100 &&
        queryMod >= 2,
      s"invalid mmr shape: k=$k m=$m lambdaPct=$lambdaPct queryMod=$queryMod")
    val mu = 100 - lambdaPct
    val c = embs.select(col("vec_id").as("nid"),
        col("embedding").cast("array<double>").as("cv"),
        l2norm(col("embedding")).as("cn"))
      .repartition(col("nid"))
    val q = embs.filter(col("vec_id") % queryMod === 0)
      .select(col("vec_id").as("qid"),
        col("embedding").cast("array<double>").as("qv"),
        l2norm(col("embedding")).as("qn"))
    // top-m candidates by micro-cosine relevance through the slim rank
    // step; vectors re-attach after the prune via one broadcast join
    // against the q·m-row survivor set
    val candIds = topKPer(c.join(broadcast(q), col("qid") =!= col("nid"))
        .select(col("qid"), col("nid"),
          round(dot(col("qv"), col("cv")) / (col("qn") * col("cn")) * 1e6)
            .cast("long").as("relq")),
      m, col("relq").desc)
    val cand = c.join(broadcast(candIds), Seq("nid"))
      .select(col("qid"), col("nid"), col("cv"), col("cn"), col("relq"),
        col("rank"))
      .localCheckpoint()
    // within-query candidate pairwise sims: m² rows per query, constant
    val a = cand.select(col("qid"), col("nid").as("aid"),
      col("cv").as("av"), col("cn").as("an"))
    val b = cand.select(col("qid"), col("nid").as("bid"),
      col("cv").as("bv"), col("cn").as("bn"))
    val pw = a.join(b, Seq("qid")).filter(col("aid") =!= col("bid"))
      .select(col("qid"), col("aid"), col("bid"),
        round(dot(col("av"), col("bv")) / (col("an") * col("bn")) * 1e6)
          .cast("long").as("sim"))
      .localCheckpoint()
    val slim = cand.select(col("qid"), col("nid"), col("relq"))
    // greedy: k rounds of (remaining ⟕ maxsim-to-selected) → per-query argmax
    var selected = cand.filter(col("rank") === 1)
      .select(col("qid"), col("nid"), lit(1).as("mmr_rank"),
        (lit(lambdaPct.toLong) * col("relq")).as("score_i"))
      .localCheckpoint()
    for (r <- 2 to k) {
      val selIds = selected.select(col("qid"), col("nid"))
      val remaining = slim.join(selIds, Seq("qid", "nid"), "left_anti")
      val simToSel = pw.join(selIds.withColumnRenamed("nid", "bid"),
          Seq("qid", "bid"))
        .groupBy(col("qid"), col("aid")).agg(max(col("sim")).as("maxsim"))
      val pick = topKPer(remaining
          .join(simToSel.withColumnRenamed("aid", "nid"), Seq("qid", "nid"),
            "left")
          .select(col("qid"), col("nid"),
            (lit(lambdaPct.toLong) * col("relq") -
              lit(mu.toLong) * coalesce(col("maxsim"), lit(0L))).as("sc")),
        1, col("sc").desc)
        .select(col("qid"), col("nid"), lit(r).as("mmr_rank"),
          col("sc").as("score_i"))
      selected = selected.unionByName(pick).localCheckpoint()
    }
    selected
  }

  /** Per-label centroids in exact integer arithmetic: dims are quantized
    * (×1e6, round) so the cross-row sum is associative, then the mean is
    * surfaced as a rounded double. Output one row per (label, dim) —
    * relational form, mirrors 1:1 into SQL engines. */
  def labelCentroids(embs: DataFrame): DataFrame =
    embs
      .select(col("label"),
        posexplode(quantize(col("embedding"))).as(Seq("dim", "x")))
      .groupBy(col("label"), col("dim"))
      .agg(round(sum(col("x")).cast("double") / count(lit(1)) / 1000000.0, 6)
        .as("centroid"))

  // ---- scalar quantization (SQ8) ANN ---------------------------------------

  /** L2-normalize + scale-and-floor codes as `array<bigint>` for the native
    * integer-dot kernel: code_i = floor(x_i / ‖x‖ · scale) (all-zero for the
    * zero vector). floor — not round — keeps codes bit-identical across
    * engines (the [[normalizeQuantize]] convention); `scale = 127` is the
    * int8 storage grid, `scale = 1e6` the micro-cosine grid. Computed by
    * the native [[graft.functions.SqCodes]] expression — the HOF form
    * (aggregate norm fold + transform) is interpreted and measured
    * ~200 µs/vector, 40 s of pure per-row overhead on the sf10 knn build. */
  private def scaledCodes(vec: Column, scale: Int): Column =
    call_function("graft_sqcodes", vec.cast("array<double>"), lit(scale))

  /** SQ8 ANN: the search-side use of the [[normalizeQuantize]] storage
    * shrink. The corpus index is int8 codes (floor(x/‖x‖·127) — 8× smaller
    * than the double payload), the shortlist score is the exact integer dot
    * of codes (≈ cos·127², monotone in cosine up to the quantization grid),
    * and the top-`m` survivors get an exact full-precision rerank to
    * top-`k` — the SQ-then-rerank ladder every quantized index ships.
    *
    * Scale shape = [[topKProjected]]'s: the pair dot on the native
    * codegen'd `graft_lldot` kernel, vectors re-attached only for the
    * q·m-row survivor set. The corpus never shuffles; the queries
    * broadcast. */
  def sq8TopK(corpus: DataFrame, queries: DataFrame, k: Int = 3,
              m: Int = 10): DataFrame = {
    require(k >= 1 && m >= k, s"invalid sq8 shape: k=$k m=$m")
    val c = corpus.select(col("vec_id").as("nid"),
        scaledCodes(col("embedding"), 127).as("cc"))
      .repartition(col("nid"))
    val qs = queries.select(col("vec_id").as("qid"),
      scaledCodes(col("embedding"), 127).as("qc"))
    val cand = c.crossJoin(broadcast(qs))
      .filter(col("qid") =!= col("nid"))
      .select(col("qid"), col("nid"), lldot(col("qc"), col("cc")).as("iscore"))
    rerankExact(topKPer(cand, m, col("iscore").desc), corpus, queries, k)
  }

  /** IVF-composed SQ8 search (FAISS IVF-SQ shape) — the scale path for
    * [[sq8TopK]], whose flat scan is O(corpus) per query by definition:
    * the coarse quantizer bounds WHICH vectors are scored (nprobe of
    * `cells`), the int8 codes bound what a score COSTS (one integer dot on
    * the native kernel, 8× less memory traffic than doubles), and the
    * top-`m` survivors get the exact rerank. Same two approximation knobs
    * as IVF-PQ, trading the codebook for the scalar grid — simpler codes,
    * exact shortlist ordering within the probed cells. */
  def ivfSq8TopK(embs: DataFrame, queryPred: Column, k: Int = 3, m: Int = 10,
                 cells: Int = 16, nprobe: Int = 4): DataFrame = {
    require(k >= 1 && m >= k && cells >= 1 && nprobe >= 1 && nprobe <= cells,
      s"invalid ivf-sq8 shape: k=$k m=$m cells=$cells nprobe=$nprobe")
    val seeds = seedCells(embs, cells)
    val queries = embs.filter(queryPred)
    val c = ivfAssign(embs, seeds)
      .select(col("nid"), col("cell"), scaledCodes(col("v"), 127).as("cc"))
    val qcells = probeCells(queries, seeds, nprobe,
        scaledCodes(col("embedding"), 127).as("qc"))
      .select(col("qid"), col("qc"), col("qcell"))
    // the sq8TopK shortlist with the candidate set cell-bounded
    val cand = c.join(broadcast(qcells),
        col("cell") === col("qcell") && col("qid") =!= col("nid"))
      .select(col("qid"), col("nid"), lldot(col("qc"), col("cc")).as("iscore"))
    rerankExact(topKPer(cand, m, col("iscore").desc), embs, queries, k)
  }

  // ---- k-NN graph -----------------------------------------------------------

  /** [[knnGraph]]'s derived `bits`: hold the bucket-bounded pair volume
    * n²/2^bits at ~2^27 pairs (bits = round(2·log2 n − 27)), clamped to
    * [4, 16]. 2^27 is anchored on the r12 measurement (DESIGN.md
    * "knn-graph bits"): it reproduces the measured 200k optimum (bits=8,
    * 20.5 s vs 679 s at the old fixed 4, mutual edges within ±1 %) and
    * keeps every fixture scale (≤ 20k) at the oracle-pinned 4. The clamp
    * floor keeps tiny corpora at fixture semantics; the cap bounds bucket
    * sparsity (2^16 buckets needs n ≳ 2M for k in-bucket neighbors). */
  def deriveKnnBits(n: Long): Int = {
    val raw = math.round(
      2.0 * math.log(math.max(1L, n).toDouble) / math.log(2.0) - 27.0).toInt
    math.max(4, math.min(16, raw))
  }

  /** [[knnGraph]]'s fully derived (bits, bands) shape: fixture-scale
    * corpora (derived bits = 4) stay single-band — byte-identical to the
    * pinned oracle rows — and larger corpora take the OR-AMPLIFIED form
    * (bits + 4, 16 bands): the same ~2^27 pair budget
    * (bands·n²/2^bits ≡ n²/2^(bits−4)), but the near-pair collision
    * probability amplifies to 1−(1−p^bits)^16. Measured at sf10/200k
    * (DESIGN.md "knn-graph bands"): (12, 16) lifts sampled exact-3NN
    * agreement 0.042 → 0.135 over single-band (8, 1) at equal pair
    * volume AND builds faster warm (27.4 s vs 30.8 s). */
  def deriveKnnShape(n: Long): (Int, Int) = {
    val base = deriveKnnBits(n)
    if (base <= 4) (4, 1) else (math.min(16, base + 4), 16)
  }

  /** Blocked k-NN graph construction — the precursor of graph-ANN indexes
    * (NN-Descent / HNSW ground layers) and of semantic clustering: every
    * vector gets its `k` nearest same-LSH-bucket neighbors, plus the
    * `mutual` flag (both endpoints pick each other) that k-NN clustering
    * keys on. Bucketing (band 0, `bits` sign bits) bounds the pair scan to
    * ~n²/2^bits — the corpus is never all-pairs — and the per-pair score is
    * the exact integer dot of micro-normalized codes (floor(x/‖x‖·1e6),
    * icos ≈ cos·1e12) on the native `graft_lldot` kernel, so ranking is
    * engine-exact with no float fold anywhere.
    *
    * Shape at scale: one exchange of slim (id, bucket, codes) rows per
    * side on `bucket`, the pair window sees only (src, dst, icos), and the
    * mutual flag is one more hash join of the k·n edge list against its own
    * reversal — all stages O(edges), nothing corpus-quadratic.
    *
    * `bits` IS the scale knob: pair volume is ~n²/2^bits, so hold
    * n²/2^bits roughly constant as n grows. `bits = 0` (the default)
    * DERIVES that from the corpus via [[deriveKnnBits]] —
    * round(2·log2 n − 27), clamped to [4, 16], i.e. a ~2^27 pair budget —
    * the r12 measurement turned into code (the statePartitions/shards
    * precedent): at 200k vectors the bits=4 build costs 679 s, bits=6
    * 181 s, bits=8 20.5 s — 33× — while the mutual-edge count (the
    * robustness proxy the clustering consumers key on) stays within ±1 %
    * at both 20k and 200k, and a sampled exact-3NN agreement (measured
    * with the since-removed ProbeKnnBits main; see git history) anchors
    * the proxy directly (DESIGN.md "knn-graph bits"). At every
    * fixture scale (≤ 20k rows) the derived value IS 4, so derive-mode
    * output is byte-identical to the pinned oracle rows — which stay at
    * an EXPLICIT bits=4 regardless, because bucket membership is part of
    * the oracle values. Deriving needs the corpus count: pass `rowCount`
    * when `embs` is a derived frame (the curriculumOrder convention —
    * df.count() re-executes a non-trivial upstream plan); without it the
    * operator counts `embs` itself, metadata-cheap on a bare scan and
    * noise next to the build it sizes.
    *
    * `bands` is the RECALL knob (OR-amplification, round 13): the
    * sampled exact-3NN anchor showed single-band recall falls with bits
    * (sf1: 0.197 at bits=4 → 0.027 at bits=8 — the mutual-edge proxy is
    * stable but exact recall is not), and the classic fix is unioning
    * candidates across `bands` independent bucket families at higher
    * bits: pair volume is bands·n²/2^bits, so bands=4 at bits+2 costs
    * the SAME pair budget as one band while the near-pair collision
    * probability amplifies to 1−(1−p^bits)^bands. Duplicate pairs
    * collapse inside the existing per-src window (dense_rank — identical
    * (icos, dst) keys tie) so the union never pays a pair-volume dedup
    * exchange; bands=1 (every oracle row) is the single-band plan with
    * dense_rank ≡ row_number (no duplicates exist). `bands = 0` (the
    * default) DERIVES the full shape with `bits` via [[deriveKnnShape]]
    * — fixture scales stay (4, 1), large corpora take the measured
    * (bits+4, 16) amplified form; an explicit `bands` with bits = 0
    * budget-adjusts the derived bits by log2(bands). Measured:
    * DESIGN.md "knn-graph bands". */
  def knnGraph(embs: DataFrame, k: Int = 3, bits: Int = 0,
               rowCount: Option[Long] = None,
               bands: Int = 0): DataFrame = {
    require(k >= 1 && bits >= 0 && bits <= 16 && bands >= 0 && bands <= 32,
      s"invalid knn-graph shape: k=$k bits=$bits bands=$bands (0 = derive)")
    val (useBits, useBands) = (bits, bands) match {
      case (0, 0) => deriveKnnShape(rowCount.getOrElse(embs.count()))
      case (0, nb) =>
        // explicit band count under a derived budget: spend the bands'
        // pair-volume multiplier on finer buckets (log2 bands more bits)
        val base = deriveKnnBits(rowCount.getOrElse(embs.count()))
        (math.min(16, base +
          math.round(math.log(nb.toDouble) / math.log(2.0)).toInt), nb)
      case (b, 0) => (b, 1)
      case (b, nb) => (b, nb)
    }
    // materialize the coded rows ONCE (both join sides read them; the
    // bucket + code expressions are interpreted HOF folds), and pin the
    // bucket exchange to an EXPLICIT partition count: a bare
    // repartition(col) on the slim checkpointed input lets AQE coalesce it
    // to ~1 partition by INPUT size — but this join's output is
    // input²/2^bits, so the coalesce serializes the pair scan and the
    // top-k window behind it (sf10 measured: builds flat at 130–300 s for
    // ANY bits; with the pinned count the window scales with pair volume —
    // 90.7 s at bits=8, 8.6 s at bits=10). Join fan-out is invisible to
    // input-sized coalescing; the explicit count is load-bearing.
    val parts = embs.sparkSession.sessionState.conf.numShufflePartitions
    // bucket via the native graft_lsh_bands kernel (bands=1 ≡ band 0 of
    // the same family): the per-plane literal-array form runs interpreted
    // at this width — sf10 coded pass measured 43 s before, per-vector
    // work, all of it avoidable
    val coded = embs.select(col("vec_id").as("id"),
      lshBandBucketsAll(col("embedding"), useBands, useBits).as("bks"),
      scaledCodes(col("embedding"), 1000000).as("nc"))
      .localCheckpoint()
    // one (band, bucket) row per band: band 1's exchange key space is
    // disjoint from band 0's, so the union of per-band candidate sets is
    // one join on the composite key — no per-band passes
    val exploded = coded.select(col("id"),
      posexplode(col("bks")).as(Seq("band", "bucket")), col("nc"))
    val a = exploded.toDF("src", "band", "bucket", "anc")
      .repartition(parts, col("band"), col("bucket"))
    val b = exploded.toDF("dst", "band", "bucket", "bnc")
      .repartition(parts, col("band"), col("bucket"))
    // dense_rank, not row_number: a pair co-bucketed in several bands
    // appears once per band with IDENTICAL (icos, dst) ordering keys —
    // dense_rank gives duplicates the same rank, so top-k semantics hold
    // and the k-bounded survivors dedup for free (bands=1 has no
    // duplicates and dense_rank degenerates to row_number: oracle rows
    // unchanged)
    val ranked = a.join(b, Seq("band", "bucket"))
      .filter(col("src") =!= col("dst"))
      .select(col("src"), col("dst"), lldot(col("anc"), col("bnc")).as("icos"))
      .withColumn("rank", dense_rank().over(
        Window.partitionBy(col("src"))
          .orderBy(col("icos").desc, col("dst"))))
      .filter(col("rank") <= k)
    val edges = (if (useBands > 1) ranked.dropDuplicates("src", "dst")
                 else ranked)
      .localCheckpoint()
    val rev = edges.select(col("dst").as("src"), col("src").as("dst"),
      lit(1).as("rflag"))
    edges.join(rev, Seq("src", "dst"), "left")
      .select(col("src"), col("dst"), col("rank"),
        col("icos"), col("rflag").isNotNull.as("mutual"))
  }

  /** One LABEL-SPREADING step over the mutual-kNN graph (graph-based weak
    * supervision — Zhu & Ghahramani 2002 label propagation, restricted to
    * the robust mutual edges like [[knnClusters]]): every vector's
    * smoothed label is the MAJORITY label of its mutual neighbors (ties →
    * smallest label), vectors with no mutual edge keep their own. The
    * training-data use: noisy per-document labels (source tags, weak
    * classifiers) get denoised by embedding-neighborhood consensus before
    * they gate curation.
    *
    * Cost shape: everything downstream of the (staged, shared)
    * [[knnGraph]] edge list `graph` is EDGE-sized — one keyed label join,
    * one (src, label) count, one per-src argmax window, two bounded left
    * joins back — so at 100 TB it rides the k·n edge volume, never n². */
  def knnLabelSmooth(embs: DataFrame, graph: DataFrame): DataFrame = {
    val mutual = graph.filter(col("mutual")).select(col("src"), col("dst"))
    val nb = mutual.join(
      embs.select(col("vec_id").as("dst"), col("label").as("nlabel")), "dst")
    val winner = nb.groupBy(col("src"), col("nlabel"))
      .agg(count(lit(1)).as("n"))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("src")).orderBy(col("n").desc, col("nlabel"))))
      .filter(col("rk") === 1)
      .select(col("src").as("vec_id"), col("nlabel"))
    val degrees = nb.groupBy(col("src"))
      .agg(count(lit(1)).as("n_neighbors"))
      .withColumnRenamed("src", "vec_id")
    embs.select(col("vec_id"), col("label"))
      .join(winner, Seq("vec_id"), "left")
      .join(degrees, Seq("vec_id"), "left")
      .select(col("vec_id"), col("label"),
        coalesce(col("nlabel"), col("label")).as("smoothed_label"),
        coalesce(col("n_neighbors"), lit(0L)).as("n_neighbors"))
  }

  /** Mutual-k-NN semantic clusters: connected components over the
    * [[knnGraph]] edges `graph` that are MUTUAL and at least `minIcos`
    * similar — the standard robustification (one-directional edges chain
    * unrelated regions through hubs; mutual edges don't). Every vector appears,
    * singletons as their own cluster; labels are the component's min id,
    * with the size alongside — the [[graft.operators.DedupOps.dedupClusters]]
    * contract on the embedding side. The CC supersteps run at the
    * edge-derived partition count of
    * [[graft.graph.GraphAlgorithms.clusterComponents]]. */
  def knnClusters(embs: DataFrame, graph: DataFrame,
                  minIcos: Long = 0L): DataFrame = {
    val mutual = graph
      .filter(col("mutual") && col("icos") >= minIcos && col("src") < col("dst"))
      .select(col("src"), col("dst")).localCheckpoint()
    // CC iterates over PAIRED vertices only — mutual-kNN graphs are mostly
    // singletons (every unpaired vector would otherwise ride every
    // superstep's three joins for nothing; measured 9.3 s → the dominant
    // term at sf0.1 before this cut). Singletons rejoin as their own
    // cluster afterwards via one left join.
    val paired = mutual.select(col("src").as("vid"))
      .union(mutual.select(col("dst").as("vid"))).distinct()
    val cc = graft.graph.GraphAlgorithms.clusterComponents(
      graft.graph.Graph(paired, mutual))
    embs.select(col("vec_id").as("vid"))
      .join(cc, Seq("vid"), "left")
      .select(col("vid"), coalesce(col("comp"), col("vid")).as("cluster_id"))
      .withColumn("cluster_size", count(lit(1)).over(
        Window.partitionBy(col("cluster_id"))))
      .select(col("vid").as("vec_id"), col("cluster_id"), col("cluster_size"))
  }
}
