package graft.ml

import org.apache.spark.ml.clustering.KMeans
import org.apache.spark.ml.evaluation.ClusteringEvaluator
import org.apache.spark.ml.feature.{MinMaxScaler => _, _}
import org.apache.spark.ml.functions.array_to_vector
import org.apache.spark.ml.regression.LinearRegression
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** FlinkML capability mapping (SURVEY §2.8: SVM / multiple linear
  * regression / KNN / ALS / scalers → spark.ml superset).
  *
  * Two layers:
  *  - exact relational preprocessing (min-max + z-score scaling) expressed
  *    as deterministic column arithmetic — these participate in the value
  *    oracle;
  *  - thin façade over spark.ml estimators (LinearRegression, KMeans) — the
  *    reference's iterative ML is float-iterative and seed-dependent, so
  *    correctness is pinned by MLSpec properties, not the SQL oracle.
  */
object MLOps {

  /** Min-max scale `valueCol` within each `partition` group:
    * (x − min)/(max − min). Pure picks + one division — bit-exact on any
    * engine. */
  def minMaxScale(df: DataFrame, valueCol: String, partition: Column): DataFrame = {
    val w = Window.partitionBy(partition)
    df.withColumn("scaled",
      (col(valueCol) - min(col(valueCol)).over(w)) /
        (max(col(valueCol)).over(w) - min(col(valueCol)).over(w)))
  }

  /** Z-score scale a 2-decimal monetary column within groups using exact
    * integer-cents moments: mean = Σc/n, var = Σc²/n − mean² (population).
    */
  def standardScaleCents(df: DataFrame, valueCol: String,
                         partition: Column): DataFrame = {
    val c = expr(s"CAST(round($valueCol * 100) AS BIGINT)")
    val w = Window.partitionBy(partition)
    val n = count(lit(1)).over(w)
    val mean = (sum(c).over(w).cast("double") / n)
    val m2 = (sum(c * c).over(w).cast("double") / n)
    val variance = m2 - mean * mean
    df.withColumn("z", (c.cast("double") - mean) / sqrt(variance))
  }

  /** Multiple linear regression façade (FlinkML MLR). */
  def fitLinearRegression(df: DataFrame, featureCols: Seq[String],
                          labelCol: String): Array[Double] = {
    val assembled = new VectorAssembler()
      .setInputCols(featureCols.toArray).setOutputCol("features")
      .transform(df)
    val model = new LinearRegression()
      .setFeaturesCol("features").setLabelCol(labelCol)
      .setRegParam(0.0).setSolver("normal")
      .fit(assembled)
    model.coefficients.toArray :+ model.intercept
  }

  /** Full-batch gradient descent for linear least squares — the reference's
    * iterative optimization framework façade (`flink-ml/.../optimization/
    * GradientDescent.scala` + `Solver.scala`: squared loss, optional L2,
    * fixed iteration count, per-iteration effective step
    * stepSize/√iteration — the reference's default learning-rate method;
    * `constantStep = true` is its `LearningRateMethod.Constant`).
    *
    * Distribution shape mirrors the reference's superstep: the weight
    * vector lives on the driver (tiny) and is baked into the gradient
    * expression each iteration — ONE map-side-combined aggregation per
    * iteration over the cached training projection, no per-record driver
    * traffic. Returns coefficients :+ intercept, like
    * [[fitLinearRegression]].
    *
    * Float-iterative and therefore pinned by MLSpec properties (loss
    * decrease; agreement with the normal-equation solution on
    * well-conditioned data), not the SQL value oracle. */
  def fitLinearRegressionSgd(df: DataFrame, featureCols: Seq[String],
                             labelCol: String, iterations: Int = 50,
                             stepSize: Double = 0.1, l2: Double = 0.0,
                             constantStep: Boolean = false): Array[Double] = {
    val k = featureCols.length
    val data = df.select(
      (featureCols.map(c => col(c).cast("double")) :+
        col(labelCol).cast("double")): _*).toDF(
      (featureCols.indices.map(i => s"x$i") :+ "y"): _*).persist()
    try {
      val n = data.count().toDouble
      require(n > 0, "fitLinearRegressionSgd: empty training set " +
        "(sum aggregates would be NULL and the gradient undefined)")
      // null features/labels would silently drop out of the sum aggregates
      // (skewing the gradient) or NPE when the aggregate row is read —
      // reject them up front with an actionable message
      val complete = data.na.drop().count().toDouble
      require(complete == n,
        s"fitLinearRegressionSgd: ${(n - complete).toLong} rows have NULL " +
          "features/labels — filter or impute before fitting")
      var w = Array.fill(k + 1)(0.0)
      for (it <- 1 to iterations) {
        val pred = linearPredict(featureCols.indices.map(i => s"x$i"), w)
        val resid = pred - col("y")
        val aggs = featureCols.indices.map(i => sum(resid * col(s"x$i"))) :+
          sum(resid)
        val r = data.agg(aggs.head, aggs.tail: _*).head()
        val lr = if (constantStep) stepSize else stepSize / math.sqrt(it)
        w = w.zipWithIndex.map { case (wi, i) =>
          val grad = 2.0 * r.getDouble(i) / n + (if (i < k) 2.0 * l2 * wi else 0.0)
          wi - lr * grad
        }
      }
      w
    } finally data.unpersist()
  }

  /** The inlined linear form `b + Σ wᵢ·xᵢ` of a fitted model
    * (coefficients :+ intercept) — the one fitted-transform expression
    * shared by the regression stages, the SGD gradient loop, and
    * [[squaredLoss]], so numeric behavior cannot drift between them. */
  def linearPredict(featureCols: Seq[String], w: Array[Double]): Column =
    featureCols.zipWithIndex
      .map { case (c, i) => col(c).cast("double") * lit(w(i)) }
      .foldLeft(lit(w(featureCols.length)).cast("double"): Column)(_ + _)

  /** Mean squared loss of a linear model (coefficients :+ intercept) — the
    * objective [[fitLinearRegressionSgd]] descends; exposed for the
    * convergence properties in MLSpec. */
  def squaredLoss(df: DataFrame, featureCols: Seq[String], labelCol: String,
                  w: Array[Double]): Double = {
    val resid = linearPredict(featureCols, w) - col(labelCol).cast("double")
    df.agg(avg(resid * resid)).head().getDouble(0)
  }

  /** KNN classification (FlinkML `nn` package): majority label among the k
    * nearest neighbors by cosine, ties broken toward the smaller label —
    * deterministic, so it participates in the value oracle. Built on
    * [[graft.operators.SimilarityOps.topKBruteForce]]; swap in topKLsh /
    * topKIvfSeeds for the ANN path at scale. */
  def knnClassify(corpus: DataFrame, labeled: DataFrame, queries: DataFrame,
                  k: Int): DataFrame = {
    val nn = graft.operators.SimilarityOps.topKBruteForce(corpus, queries, k)
    nn.join(labeled.select(col("vec_id").as("nid"), col("label")), "nid")
      .groupBy(col("qid"), col("label"))
      .agg(count(lit(1)).as("votes"))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("qid"))
          .orderBy(col("votes").desc, col("label"))))
      .filter(col("rk") === 1)
      .select(col("qid"), col("label").as("predicted"), col("votes"))
  }

  /** One exact Lloyd step with integer-quantized arithmetic (the oracle-able
    * counterpart of the spark.ml [[kmeansAssign]] façade): seeds are the k
    * lowest-id vectors, assignment minimizes the EXACT integer squared
    * distance over ×1e6-quantized coordinates (ties → lowest seed index),
    * and the updated centroids surface as (cluster, dim) rows with an
    * exact-rational mean. Everything before the final rounded division is
    * integer, so the step hash-matches any engine that quantizes the same
    * way — the same trick as `pageRankExact`/`graft_iqdot`. Plan shape:
    * broadcast the k seeds, one narrow distance map, one argmin aggregation,
    * one (cluster, dim) aggregation. */
  def kmeansStepExact(embs: DataFrame, k: Int = 8): DataFrame = {
    import graft.functions.GraftFunctions.quantize
    val q = embs.select(col("vec_id").as("id"),
        quantize(col("embedding")).as("qv"))
      .localCheckpoint()
    val seeds = broadcast(q.orderBy(col("id")).limit(k)
      .select(col("id").as("sid"), col("qv").as("sv"))
      .withColumn("sidx", (row_number().over(
        org.apache.spark.sql.expressions.Window.orderBy(col("sid"))) - 1)
        .cast("int"))
      .drop("sid"))
    val assigned = q.crossJoin(seeds)
      .withColumn("d2", aggregate(
        zip_with(col("qv"), col("sv"), (a, b) => (a - b) * (a - b)),
        lit(0L), (acc, x) => acc + x))
      .groupBy(col("id"))
      .agg(min(struct(col("d2"), col("sidx"))).getField("sidx").as("cluster"))
    assigned.join(q, "id")
      .select(col("cluster"), posexplode(col("qv")).as(Seq("dim", "x")))
      .groupBy(col("cluster"), col("dim"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("x")).cast("double") / count(lit(1)) / 1000000.0, 6)
          .as("centroid"))
  }

  /** T bounded Lloyd iterations in EXACT integer arithmetic — the trained
    * centroid source for the IVF/PQ index family ([[kmeansStepExact]]
    * iterated, with the centroid update kept in the quantized-integer
    * grid so every iteration stays cross-engine exact).
    *
    *  - iteration 0: the k lowest-id vectors, renumbered 0..k-1;
    *  - assign: argmin of the exact integer squared distance over
    *    ×1e6-quantized coordinates (native `graft_lld2` kernel; ties →
    *    lowest centroid id) — a groupBy argmin (`min(struct(d2, cid))`),
    *    NOT a window, so there is no serial-window hazard and the map-side
    *    partial aggregation keeps the shuffle k-sized;
    *  - update: per-dimension `floor(sum / n)` back onto the integer grid.
    *    The sum is an exact long (|q| ≤ ~2e6, so corpora to ~4e9 rows fit
    *    2^53 for the double division, whose result is ≥ 1/n away from the
    *    nearest integer when fractional — floor is engine-exact);
    *  - empty clusters keep their previous centroid (k is tiny; the k×64
    *    update rows collect driver-side like [[graft.operators.
    *    SimilarityOps.pqCodebook]]'s PqK rows and re-broadcast next pass).
    *
    * Cost: `iters` corpus scans, each one broadcast crossJoin (k rows) +
    * one k×64-group aggregation — no corpus shuffle anywhere, so the loop
    * scales to 100 TB as `iters` × (scan + map-side combine). Output
    * (`vec_id` = 0..k-1, `embedding` = centroid/1e6 as array<double>) plugs
    * into every seeds-taking IVF operator; re-quantizing the doubles
    * recovers the integer grid exactly (|c| < 2^31 ≪ 2^52).
    *
    * Trained cells are what make IVF cost models honest at scale: smallest-
    * id seeding inherits the data's id-order quirks and yields arbitrarily
    * unbalanced cells, and max-cell/mean-cell balance is the variance term
    * in every IVF probe cost (see the DESIGN.md balance table). */
  def kmeansCentroidsExact(embs: DataFrame, k: Int = 16,
                           iters: Int = 2): DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    require(iters >= 0, s"iters must be >= 0: $iters")
    import graft.functions.GraftFunctions.{quantize, lld2}
    val spark = embs.sparkSession
    // library operator: the native kernel must work on any session, not
    // just ones that already went through Tables.load
    graft.functions.GraftExtensions.install(spark)
    import spark.implicits._
    val q = embs.select(col("vec_id").cast("long").as("id"),
        quantize(col("embedding")).as("qv"))
      .localCheckpoint()
    var cents: Seq[(Long, Seq[Long])] = q.orderBy(col("id")).limit(k)
      .collect().toSeq.zipWithIndex
      .map { case (r, i) => (i.toLong, r.getSeq[Long](1)) }
    require(cents.nonEmpty,
      "kmeansCentroidsExact: empty input — no vectors to seed centroids from")
    for (_ <- 1 to iters) {
      val cdf = cents.toDF("cid", "cq")
      val assigned = q.crossJoin(broadcast(cdf))
        .withColumn("d2", lld2(col("qv"), col("cq")))
        .groupBy(col("id"))
        .agg(min(struct(col("d2"), col("cid"))).getField("cid").as("cluster"))
      val upd = assigned.join(q, "id")
        .select(col("cluster"), posexplode(col("qv")).as(Seq("dim", "x")))
        .groupBy(col("cluster"), col("dim"))
        .agg(floor(sum(col("x")).cast("double") / count(lit(1)))
          .cast("long").as("c"))
        .collect()
      val byCluster: Map[Long, Seq[Long]] = upd
        .groupBy(_.getLong(0))
        .map { case (cid, rows) =>
          cid -> rows.sortBy(_.getInt(1)).map(_.getLong(2)).toSeq
        }
      cents = cents.map { case (cid, old) =>
        (cid, byCluster.getOrElse(cid, old))
      }
    }
    cents.toDF("cid", "cq")
      .select(col("cid").as("vec_id"),
        transform(col("cq"), x => x.cast("double") / 1000000.0).as("embedding"))
  }

  /** KMeans façade over the `embedding` column: the input with a
    * `cluster` column from spark.ml's seed-pinned k-means. */
  def kmeansAssign(df: DataFrame, k: Int, seed: Long = 42L): DataFrame = {
    val feat = df.withColumn("features",
      array_to_vector(col("embedding").cast("array<double>")))
    val model = new KMeans().setK(k).setSeed(seed).setFeaturesCol("features")
      .fit(feat)
    model.transform(feat).withColumnRenamed("prediction", "cluster")
      .drop("features")
  }

  /** ALS collaborative filtering façade (FlinkML
    * `recommendation/ALS.scala`): factorize the (user, item, rating)
    * matrix, return the input with a `prediction` column. Iterative float
    * training — seed-pinned, MLSpec-verified (reconstruction RMSE), not
    * oracle-expressible. */
  def alsFit(ratings: DataFrame, userCol: String, itemCol: String,
             ratingCol: String, rank: Int = 4, maxIter: Int = 10,
             reg: Double = 0.05, seed: Long = 42L): DataFrame = {
    val model = new org.apache.spark.ml.recommendation.ALS()
      .setUserCol(userCol).setItemCol(itemCol).setRatingCol(ratingCol)
      .setRank(rank).setMaxIter(maxIter).setRegParam(reg).setSeed(seed)
      .setColdStartStrategy("drop")
      .fit(ratings)
    model.transform(ratings)
  }

  /** One EXACT ALS half-step at rank 1 — the oracle-able counterpart of
    * the iterative [[alsFit]] façade (reference FlinkML
    * `recommendation/ALS.scala`, `updateFactors`: solve the per-user
    * normal equation holding item factors fixed). At rank 1 the solve is
    * closed-form: xᵤ = Σⱼ rᵤⱼ·yⱼ / (λ·nᵤ + Σⱼ yⱼ²) — ALS-WR's
    * weighted-λ regularization (Zhou et al. 2008), λ scaled by the user's
    * rating count exactly as the reference does. `itemFactor` supplies
    * the FIXED iteration-0 item factors as an integer expression over the
    * item id (a deterministic seed, so numerator and denominator are
    * exact integers and the single final division is the only FP op —
    * the same trick as [[kmeansStepExact]]).
    *
    * Plan shape: one keyed aggregation over the ratings, partial-agg
    * map-side; a later iteration would broadcast-join the (small) factor
    * table in place of the pure-function seed. Each rating moves once. */
  def alsStepExact(ratings: DataFrame, userCol: String, itemCol: String,
                   ratingCol: String, itemFactor: Column => Column,
                   lambda: Int = 10): DataFrame = {
    val y = itemFactor(col(itemCol))
    ratings.groupBy(col(userCol))
      .agg(count(lit(1)).as("n_items"),
        sum(col(ratingCol) * y).as("num"),
        sum(y * y).as("den"))
      .select(col(userCol),
        round(col("num").cast("double") /
          (lit(lambda) * col("n_items") + col("den")), 6).as("factor"),
        col("n_items"))
  }

  /** One EXACT full-batch subgradient step of the soft-margin linear SVM —
    * the oracle-able counterpart of [[fitLinearSvc]] (reference FlinkML
    * `classification/SVM.scala`, CoCoA hinge-loss training). Features and
    * labels must be integer-valued and the initial weights integers, so
    * every margin yᵢ·(w·xᵢ) and every violator gradient sum Σ yᵢ·xᵢₖ is
    * exact integer arithmetic; only the final scalar update
    * w'ₖ = (1 − ηλ)·wₖ + (η/n)·Σ_viol yᵢ·xᵢₖ touches FP, in a fixed
    * evaluation order. Returns ONE row: updated weights + violator count.
    *
    * Plan shape: a single partial+final aggregation — one pass over the
    * data per step, the textbook full-batch gradient shape that scales to
    * any n (the reducer state is 2·|w| longs). */
  def svmStepExact(df: DataFrame, features: Seq[Column], label: Column,
                   w0: Seq[Double], eta: Double, lambda: Double): DataFrame = {
    require(features.nonEmpty && w0.length == features.length,
      s"need one initial weight per feature (got ${w0.length} for ${features.length})")
    require(w0.forall(w => w == math.round(w).toDouble),
      s"initial weights must be integral for exact margins (got $w0)")
    val margin = label * features.zip(w0).map { case (x, w) =>
      x * lit(math.round(w)) }.reduce(_ + _)
    val viol = margin < 1
    val grads = features.zipWithIndex.map { case (x, i) =>
      sum(when(viol, label * x).otherwise(0L)).as(s"g$i") }
    val agg = df.agg(count(lit(1)).as("n"),
      (sum(when(viol, 1L).otherwise(0L)).as("n_violations") +: grads): _*)
    agg.select(
      w0.indices.map(i =>
        round(lit((1.0 - eta * lambda) * w0(i)) +
          lit(eta) * (col(s"g$i").cast("double") / col("n")), 6)
          .as(s"w$i")) ++
        Seq(col("n_violations"), col("n").as("n_rows")): _*)
  }

  /** Exact k-NN-distance outlier score — the oracle-able counterpart of
    * the [[stochasticOutlierSelection]] façade (reference FlinkML
    * `outlier/StochasticOutlierSelection.scala`): the same
    * pairwise-distance structure, but the score is the ×1e6-quantized
    * integer squared distance to the k-th nearest neighbor (classic
    * distance-based outlier detection) instead of the FP probability
    * chain, so it hash-matches any engine. SOS's perplexity-tuned
    * probabilities stay MLSpec-verified (binary-searched β is not
    * oracle-expressible).
    *
    * `queryPred` bounds the scored side; candidates are the full set —
    * the same blocked shape as `ml_knn_classify` (at corpus scale the
    * candidate side goes through the LSH bucket join, same contract as
    * embedding dedup). */
  def knnDistOutlierScores(embs: DataFrame, queryPred: Column, k: Int = 5,
                           cells: Int = 16): DataFrame = {
    import graft.functions.GraftFunctions.{cellArgmin, lld2, quantize}
    graft.functions.GraftExtensions.install(embs.sparkSession)
    def proj(df: DataFrame, id: String, v: String) =
      df.select(col("vec_id").cast("long").as(id),
        quantize(col("embedding")).as(v))
    val queries = proj(embs.filter(queryPred), "id", "qv")
    val cand = proj(embs, "nid", "nv")
    // EXACT cell-pruned k-NN scan (r14; guide §3 "avoid exploding joins"):
    // the r13 form was a q×n crossJoin — each pair cheap (native graft_lld2)
    // but the PAIR COUNT quadratic (queries are a fixed corpus fraction),
    // the textbook exploding join at 100 TB. Replaced by a
    // triangle-inequality-complete coarse-cell prune that provably returns
    // the identical k-th-neighbor row (MLFuzzSpec pins pruned ≡ exhaustive):
    //  1. candidates partition into `cells` seed cells (smallest-id seeds,
    //     native graft_cell argmin; any deterministic partition is valid —
    //     pruning soundness only uses each cell's OWN radius);
    //  2. per query, probe the nearest cells (by centroid d²) until they
    //     hold ≥ k+1 rows — the k-th (d², nid) among them bounds the true
    //     k-th distance from above;
    //  3. every cell whose triangle-inequality floor
    //     (√d²(q,c) − √r²max(c))² exceeds that bound (plus a slack
    //     absorbing double-sqrt rounding of the exact integer d²s) can
    //     contain no top-k member; the survivors rerank in one window —
    //     ranks 1..k of the pruned set equal the global ranks because
    //     every candidate at-or-below the bound is in a kept cell.
    val seeds = cand.orderBy(col("nid")).limit(cells).collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1)).sortBy(_._1)
    // an empty candidate set has no neighbors: the same output projection
    // over the (empty) pair set, so the schema equals the non-empty result
    if (seeds.isEmpty)
      return queries.crossJoin(cand)
        .select(col("id").as("vec_id"), lld2(col("qv"), col("nv")).as("knn_d2"))
    val nCells = seeds.length // corpus smaller than `cells` degrades cleanly
    val matrix = typedLit(seeds.map(_._2.toSeq).toSeq)
    val assigned = cand
      .withColumn("cell", cellArgmin(col("nv"), matrix).cast("int"))
      .withColumn("d2c",
        lld2(col("nv"), element_at(matrix, col("cell") + 1)))
    val stats = assigned.groupBy(col("cell"))
      .agg(count(lit(1)).as("cn"), max(col("d2c")).as("r2max"))
      .collect().map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2))).toMap
    val cnLit = typedLit((0 until nCells).map(c =>
      stats.get(c).map(_._1).getOrElse(0L)))
    val r2Lit = typedLit((0 until nCells).map(c =>
      stats.get(c).map(_._2).getOrElse(0L)))
    // per (query, cell): centroid distance + the cell's count/radius
    val qc = queries
      .select(col("id"), col("qv"),
        explode(sequence(lit(0), lit(nCells - 1))).as("cell"))
      .select(col("id"), col("qv"), col("cell"),
        lld2(col("qv"), element_at(matrix, col("cell") + 1)).as("d2qc"),
        element_at(cnLit, col("cell") + 1).as("cn"),
        element_at(r2Lit, col("cell") + 1).as("r2max"))
    val wProbe = org.apache.spark.sql.expressions.Window
      .partitionBy(col("id")).orderBy(col("d2qc"), col("cell"))
    val qcCum = qc
      .withColumn("cum", sum(col("cn")).over(wProbe))
      .withColumn("prevcum", col("cum") - col("cn"))
    // minimal nearest-cell prefix holding ≥ k+1 rows (self may be one of
    // them); degenerates to all cells when the corpus is smaller
    val probe = qcCum.filter(col("prevcum") < k + 1)
      .select(col("id"), col("qv"), col("cell"))
    val wRank = org.apache.spark.sql.expressions.Window
      .partitionBy(col("id")).orderBy(col("d2"), col("nid"))
    val bound = probe.join(assigned, "cell")
      .filter(col("id") =!= col("nid"))
      .select(col("id"), col("nid"), lld2(col("qv"), col("nv")).as("d2"))
      .withColumn("rk", row_number().over(wRank))
      .filter(col("rk") === k)
      .select(col("id"), col("d2").as("kd"))
    // triangle-inequality floor per (query, cell), double sqrt over exact
    // integer d²s — the slack (1 + relative epsilon) keeps the prune
    // conservative against sqrt rounding, so kept ⊇ {cells that can hold
    // a top-k member} always
    val lb = pow(greatest(sqrt(col("d2qc").cast("double")) -
      sqrt(col("r2max").cast("double")), lit(0.0)), 2.0)
    val kept = qcCum.join(bound, "id")
      .filter(lb <= col("kd").cast("double") * 1.000000000001 + 1.0)
      .select(col("id"), col("qv"), col("cell"))
    kept.join(assigned, "cell")
      .filter(col("id") =!= col("nid"))
      .select(col("id"), col("nid"), lld2(col("qv"), col("nv")).as("d2"))
      .withColumn("rk", row_number().over(wRank))
      .filter(col("rk") === k)
      .select(col("id").as("vec_id"), col("d2").as("knn_d2"))
  }

  /** Soft-margin linear SVM façade (FlinkML `classification/SVM.scala` —
    * CoCoA-trained there; hinge-loss LinearSVC here). Label column must be
    * 0/1. Returns the input with `prediction`. */
  def fitLinearSvc(df: DataFrame, featureCols: Seq[String], labelCol: String,
                   maxIter: Int = 50, reg: Double = 0.01): DataFrame = {
    val assembled = new VectorAssembler()
      .setInputCols(featureCols.toArray).setOutputCol("features")
      .transform(df)
    val model = new org.apache.spark.ml.classification.LinearSVC()
      .setFeaturesCol("features").setLabelCol(labelCol)
      .setMaxIter(maxIter).setRegParam(reg)
      .fit(assembled)
    model.transform(assembled).drop("features", "rawPrediction")
  }

  /** Stochastic Outlier Selection (FlinkML `outlier/
    * StochasticOutlierSelection.scala`): per-point Gaussian affinities with
    * the bandwidth β_i tuned by binary search to the target perplexity,
    * normalized to binding probabilities b_ij, outlier probability
    * p(j) = Π_i (1 − b_ij). The pairwise-distance stage is the brute-force
    * exact baseline (same declared contract as embedding cosine pairs —
    * block with LSH buckets at corpus scale); the per-point β search runs
    * inside `flatMapGroups`, state O(neighbors of one point). Reads
    * (vec_id, embedding); returns (vec_id, outlier_prob). */
  def stochasticOutlierSelection(df: DataFrame,
                                 perplexity: Double = 3.0): DataFrame = {
    import df.sparkSession.implicits._
    val pts = df.select(col("vec_id").cast("long").as("id"),
      col("embedding").cast("array<double>").as("v"))
    val a = pts.as("a"); val b = pts.as("b")
    val d2 = a.join(b, col("a.id") =!= col("b.id"))
      .select(col("a.id").as("i"), col("b.id").as("j"),
        expr("aggregate(zip_with(a.v, b.v, (x, y) -> (x - y) * (x - y))," +
          " 0D, (acc, x) -> acc + x)").as("d2"))
    val bind = d2.as[(Long, Long, Double)].groupByKey(_._1)
      .flatMapGroups { (i: Long, it: Iterator[(Long, Long, Double)]) =>
        val ds = it.map(t => (t._2, t._3)).toArray
        val target = math.log(perplexity min ds.length.toDouble)
        var lo = 1e-12; var hi = 1e12; var beta = 1.0
        var k = 0
        while (k < 100) {
          beta = math.sqrt(lo * hi)
          val aff = ds.map { case (_, dd) => math.exp(-dd * beta) }
          val s = aff.sum
          val h = if (s <= 0) 0.0
            else aff.collect { case x if x > 0 =>
              val p = x / s; -p * math.log(p) }.sum
          if (h > target) lo = beta else hi = beta
          k += 1
        }
        val aff = ds.map { case (j, dd) => (j, math.exp(-dd * beta)) }
        val s = aff.map(_._2).sum
        aff.iterator.map { case (j, af) => (i, j, af / s) }
      }.toDF("i", "j", "b")
    bind.groupBy(col("j").as("vec_id"))
      .agg(exp(sum(log(lit(1.0) - col("b")))).as("outlier_prob"))
  }

  /** Deterministic split assignment (FlinkML `preprocessing/Splitter.scala`
    * randomSplit counterpart): bucket = stableHash(id) mod 100, test iff
    * bucket < testPct. md5-derived, so the split is reproducible across
    * runs, partitionings, AND engines — it participates in the value
    * oracle, which `randomSplit` (sample-based, partition-dependent)
    * cannot. */
  def splitAssignment(df: DataFrame, idCol: String, testPct: Int): DataFrame = {
    require(testPct >= 0 && testPct <= 100)
    df.withColumn("split_bucket",
      graft.functions.GraftFunctions.stableHash(col(idCol).cast("string")) % 100)
      .withColumn("is_test", col("split_bucket") < testPct)
  }

  /** Train/test split on the deterministic assignment. */
  def trainTestSplit(df: DataFrame, idCol: String,
                     testPct: Int): (DataFrame, DataFrame) = {
    val tagged = splitAssignment(df, idCol, testPct)
    (tagged.filter(!col("is_test")).drop("split_bucket", "is_test"),
      tagged.filter(col("is_test")).drop("split_bucket", "is_test"))
  }

  /** Polynomial feature expansion (FlinkML
    * `preprocessing/PolynomialFeatures.scala`): every monomial of the
    * input columns up to `degree`, as explicitly named product columns —
    * pure per-row IEEE multiplication in a fixed order, so it participates
    * in the value oracle (unlike the iterative estimators). */
  def polynomialFeatures(df: DataFrame, cols: Seq[String],
                         degree: Int): DataFrame = {
    require(degree >= 1)
    // monomials as sorted multisets of column names, ascending total degree
    def monomials(d: Int): Seq[Seq[String]] =
      if (d == 0) Seq(Seq.empty)
      else monomials(d - 1) ++ combosOfSize(d)
    def combosOfSize(d: Int): Seq[Seq[String]] = {
      def rec(remaining: Seq[String], k: Int): Seq[Seq[String]] =
        if (k == 0) Seq(Seq.empty)
        else remaining.zipWithIndex.flatMap { case (c, idx) =>
          rec(remaining.drop(idx), k - 1).map(c +: _)
        }
      rec(cols, d)
    }
    monomials(degree).filter(_.nonEmpty).foldLeft(df) { (acc, mono) =>
      val prod = mono.map(col).reduceLeft(_ * _)
      acc.withColumn(s"poly_${mono.mkString("_")}", prod)
    }
  }
}
