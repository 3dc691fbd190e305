package graft

import org.apache.spark.sql.functions._
import graft.ml.MLOps

/** Iterative spark.ml façade behavior (seed-dependent/float-iterative — not
  * oracle-comparable; pinned by properties instead). */
class MLSpec extends SparkSpecBase {

  test("linear regression recovers an exact planted linear relation") {
    import spark.implicits._
    val df = (1 to 200).map { i =>
      val x1 = i.toDouble; val x2 = (i % 7).toDouble
      (x1, x2, 3.0 * x1 - 2.0 * x2 + 5.0)
    }.toDF("x1", "x2", "y")
    val Array(c1, c2, intercept) =
      MLOps.fitLinearRegression(df, Seq("x1", "x2"), "y")
    assert(math.abs(c1 - 3.0) < 1e-6)
    assert(math.abs(c2 + 2.0) < 1e-6)
    assert(math.abs(intercept - 5.0) < 1e-4)
  }

  test("kmeans assigns every embedding to one of k clusters") {
    val embs = Tables.load(spark, sfDir, "embeddings")
    val out = MLOps.kmeansAssign(embs, k = 5)
    assert(out.count() == embs.count())
    val clusters = out.select(col("cluster")).distinct().count()
    assert(clusters == 5)
    // deterministic under a fixed seed
    val again = MLOps.kmeansAssign(embs, k = 5)
    assert(out.select("vec_id", "cluster")
      .exceptAll(again.select("vec_id", "cluster")).isEmpty)
  }

  test("kmeans centroids: randomized differential vs a local integer mirror") {
    import spark.implicits._
    // seeded fixtures on the exact 1e-6 grid (values are k/1000.0, so the
    // ×1e6 quantization is round-exact on every engine and in the mirror);
    // small k over few points forces ties, empty clusters, and repeated
    // values — the edge cases the fixture never exercises
    val rng = new scala.util.Random(421L)
    for (trial <- 1 to 5) {
      val dims = 4
      val n = 20 + rng.nextInt(20)
      val k = 2 + rng.nextInt(4)
      val iters = rng.nextInt(3)
      val data: Seq[(Long, Seq[Double])] = (0L until n).map(i =>
        (i, Seq.fill(dims)((rng.nextInt(2001) - 1000) / 1000.0)))
      // local mirror: quantize, then `iters` Lloyd steps — argmin by
      // (d2, cid), update floor(sum/n), empty clusters keep the previous
      val q: Map[Long, Array[Long]] = data.map { case (id, v) =>
        id -> v.map(x => math.round(x * 1000000.0)).toArray
      }.toMap
      var cents: Seq[(Long, Array[Long])] =
        data.sortBy(_._1).take(k).zipWithIndex
          .map { case ((id, _), ci) => (ci.toLong, q(id)) }
      for (_ <- 1 to iters) {
        val assign: Map[Long, Long] = q.map { case (id, v) =>
          id -> cents.map { case (cid, c) =>
            (c.zip(v).map { case (a, b) => val d = a - b; d * d }.sum, cid)
          }.min._2
        }
        cents = cents.map { case (cid, old) =>
          val members = q.filter { case (id, _) => assign(id) == cid }.values
          if (members.isEmpty) (cid, old)
          else (cid, (0 until dims).map { d =>
            math.floor(members.map(_(d)).sum.toDouble / members.size).toLong
          }.toArray)
        }
      }
      val got = MLOps.kmeansCentroidsExact(
          data.toDF("vec_id", "embedding"), k = k, iters = iters)
        .select(col("vec_id"),
          graft.functions.GraftFunctions.quantize(col("embedding")).as("cq"))
        .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toArray).toMap
      cents.foreach { case (cid, want) =>
        assert(got(cid).sameElements(want),
          s"trial $trial (n=$n k=$k iters=$iters) cid=$cid: " +
            s"got ${got(cid).mkString(",")} want ${want.mkString(",")}")
      }
    }
  }

  test("min-max scaling lands in [0,1] with both extremes present") {
    val out = MLOps.minMaxScale(Tables.load(spark, sfDir, "customer"),
      "c_acctbal", col("c_mktsegment"))
    val stats = out.groupBy(col("c_mktsegment"))
      .agg(min(col("scaled")).as("lo"), max(col("scaled")).as("hi"))
      .collect()
    stats.foreach { r =>
      assert(r.getAs[Double]("lo") == 0.0 && r.getAs[Double]("hi") == 1.0)
    }
  }

  test("ALS reconstructs a low-rank ratings matrix on its training data") {
    import spark.implicits._
    // rank-1 planted structure: rating(u,i) = (u+1)(i+1)/4 over a 6x6 grid
    val ratings = (for (u <- 0 until 6; i <- 0 until 6)
      yield (u, i, (u + 1) * (i + 1) / 4.0f)).toDF("user", "item", "rating")
    val pred = MLOps.alsFit(ratings, "user", "item", "rating",
      rank = 2, maxIter = 15, reg = 0.01)
    val rmse = math.sqrt(pred
      .select(pow(col("prediction") - col("rating"), 2).as("se"))
      .agg(avg("se")).head.getDouble(0))
    assert(rmse < 0.3, s"train RMSE $rmse")
    // seed-pinned determinism
    val again = MLOps.alsFit(ratings, "user", "item", "rating",
      rank = 2, maxIter = 15, reg = 0.01)
    assert(pred.select("user", "item", "prediction")
      .exceptAll(again.select("user", "item", "prediction")).isEmpty)
  }

  test("linear SVC separates linearly separable classes perfectly") {
    import spark.implicits._
    val df = (1 to 100).map { i =>
      val x = (i % 10) - 4.5; val y = (i % 7) - 3.0
      (x, y, if (x + y > 0) 1.0 else 0.0)
    }.filter { case (x, y, _) => math.abs(x + y) > 1.0 } // margin gap
      .toDF("x", "y", "label")
    val pred = MLOps.fitLinearSvc(df, Seq("x", "y"), "label",
      maxIter = 200, reg = 0.001)
    val wrong = pred.filter(col("prediction") =!= col("label")).count()
    assert(wrong == 0, s"$wrong misclassified")
  }

  test("stochastic outlier selection ranks the isolated point highest") {
    import spark.implicits._
    val pts = Seq(
      (1L, Array(0.0, 0.1)), (2L, Array(0.1, 0.0)), (3L, Array(0.0, -0.1)),
      (4L, Array(-0.1, 0.0)), (5L, Array(0.05, 0.05)),
      (9L, Array(10.0, 10.0))) // far outlier
      .toDF("vec_id", "embedding")
    val out = MLOps.stochasticOutlierSelection(pts)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val top = out.maxBy(_._2)._1
    assert(top == 9L, s"$out")
    assert(out(9L) > 0.9, s"far point should be near-certain outlier: $out")
  }

  test("train/test split is a deterministic partition near the target rate") {
    val cust = Tables.load(spark, sfDir, "customer")
    val (train, test) = MLOps.trainTestSplit(cust, "c_custkey", 20)
    val (nTrain, nTest, nAll) = (train.count(), test.count(), cust.count())
    assert(nTrain + nTest == nAll)
    assert(train.join(test, "c_custkey").isEmpty, "splits must be disjoint")
    val rate = nTest.toDouble / nAll
    assert(rate > 0.1 && rate < 0.3, s"test rate $rate far from 20%")
    // re-running yields the identical assignment (hash-determined)
    val (_, test2) = MLOps.trainTestSplit(cust, "c_custkey", 20)
    assert(test.select("c_custkey").exceptAll(test2.select("c_custkey")).isEmpty)
  }

  test("polynomial features are exact per-row products") {
    import spark.implicits._
    val df = Seq((2.0, 3.0)).toDF("a", "b")
    val out = MLOps.polynomialFeatures(df, Seq("a", "b"), degree = 2)
      .head
    val cols = MLOps.polynomialFeatures(df, Seq("a", "b"), 2).columns.toSeq
    assert(cols.containsSlice(Seq("poly_a", "poly_b", "poly_a_a", "poly_a_b",
      "poly_b_b")), s"$cols")
    assert(out.getAs[Double]("poly_a") == 2.0)
    assert(out.getAs[Double]("poly_a_b") == 6.0)
    assert(out.getAs[Double]("poly_b_b") == 9.0)
  }

  test("z-scores have ~zero mean and ~unit variance per group") {
    val out = MLOps.standardScaleCents(Tables.load(spark, sfDir, "customer"),
      "c_acctbal", col("c_mktsegment"))
    out.groupBy(col("c_mktsegment"))
      .agg(avg(col("z")).as("m"), stddev_pop(col("z")).as("s"))
      .collect().foreach { r =>
        assert(math.abs(r.getAs[Double]("m")) < 1e-9)
        assert(math.abs(r.getAs[Double]("s") - 1.0) < 1e-9)
      }
  }

  test("pipeline: scaler chained into a predictor fits on transformed data") {
    import spark.implicits._
    import graft.ml.{LinearRegressionStage, MinMaxScalerStage}
    // y = 2·scaled(x) + 1 with scaled = x/10 on train — exactly linear, so
    // the normal-equation predictor is exact; the chain must scale BEFORE
    // the regression sees the data (the reference's chainedFitOperation)
    val train = (0 to 10).map(i => (i.toDouble, 0.2 * i + 1.0)).toDF("x", "y")
    val chain = MinMaxScalerStage("x", "sx")
      .chain(LinearRegressionStage(Seq("sx"), "y", "pred"))
    val fitted = chain.fit(train)
    val fresh = Seq((5.0, 0.0)).toDF("x", "y")
    val pred = fitted(fresh).select("pred").head().getDouble(0)
    assert(math.abs(pred - 2.0) < 1e-9, s"pred=$pred")
  }

  test("pipeline: chained transformers compose left-to-right on new data") {
    import spark.implicits._
    import graft.ml.{MinMaxScalerStage, PolynomialFeaturesStage}
    val train = (0 to 4).map(i => Tuple1(i.toDouble)).toDF("x")
    val fitted = MinMaxScalerStage("x", "sx")
      .chain(PolynomialFeaturesStage(Seq("sx"), 2)).fit(train)
    val out = fitted(Seq(Tuple1(2.0)).toDF("x")).head()
    assert(out.getAs[Double]("sx") == 0.5)
    assert(out.getAs[Double]("poly_sx_sx") == 0.25)
  }

  test("SGD optimizer: loss decreases along the trajectory and converges to the normal-equation solution") {
    import spark.implicits._
    import graft.ml.MLOps
    // well-conditioned 2-feature exact-linear data: y = 3·x1 − 2·x2 + 0.5
    val rnd = new scala.util.Random(0x5EED)
    val train = (0 until 200).map { _ =>
      val x1 = rnd.nextDouble() * 2 - 1
      val x2 = rnd.nextDouble() * 2 - 1
      (x1, x2, 3.0 * x1 - 2.0 * x2 + 0.5)
    }.toDF("x1", "x2", "y")
    val feats = Seq("x1", "x2")
    val l0 = MLOps.squaredLoss(train, feats, "y", Array(0.0, 0.0, 0.0))
    // decayed step (the reference's default learning-rate method): the
    // trajectory is deterministic, so a longer run extends a shorter one —
    // loss must be monotone across these checkpoints
    val l5 = MLOps.squaredLoss(train, feats, "y",
      MLOps.fitLinearRegressionSgd(train, feats, "y", iterations = 5, stepSize = 0.3))
    val l25 = MLOps.squaredLoss(train, feats, "y",
      MLOps.fitLinearRegressionSgd(train, feats, "y", iterations = 25, stepSize = 0.3))
    assert(l5 < l0 && l25 < l5, s"loss not decreasing: $l0 -> $l5 -> $l25")
    // constant step (LearningRateMethod.Constant): linear convergence on
    // exact-fit data — must agree with the normal equations
    val exact = MLOps.fitLinearRegression(train, feats, "y")
    val sgd = MLOps.fitLinearRegressionSgd(train, feats, "y",
      iterations = 300, stepSize = 0.4, constantStep = true)
    exact.zip(sgd).foreach { case (e, g) =>
      assert(math.abs(e - g) < 1e-3, s"exact=${exact.toSeq} sgd=${sgd.toSeq}")
    }
    // L2 shrinks coefficients toward zero
    val ridge = MLOps.fitLinearRegressionSgd(train, feats, "y",
      iterations = 300, stepSize = 0.4, l2 = 0.5, constantStep = true)
    assert(math.abs(ridge(0)) < math.abs(sgd(0)) &&
      math.abs(ridge(1)) < math.abs(sgd(1)), s"ridge=${ridge.toSeq}")
  }

  test("pipeline: SGD predictor chains like the normal-equation one") {
    import spark.implicits._
    import graft.ml.{MinMaxScalerStage, SgdRegressionStage}
    val train = (0 to 10).map(i => (i.toDouble, 0.2 * i + 1.0)).toDF("x", "y")
    val chain = MinMaxScalerStage("x", "sx")
      .chain(SgdRegressionStage(Seq("sx"), "y", "pred",
        iterations = 400, stepSize = 0.5, constantStep = true))
    val fitted = chain.fit(train)
    val pred = fitted(Seq((5.0, 0.0)).toDF("x", "y"))
      .select("pred").head().getDouble(0)
    assert(math.abs(pred - 2.0) < 1e-2, s"pred=$pred")
  }

  test("pipeline: fitted parameters are frozen, not refit on new data") {
    import spark.implicits._
    import graft.ml.StandardScalerStage
    val train = Seq(1.0, 2.0, 3.0).map(Tuple1(_)).toDF("v")
    val fitted = StandardScalerStage("v", "z").fit(train)
    // mean 2, population std sqrt(2/3); new data must use TRAIN's moments
    val z = fitted(Seq(Tuple1(2.0)).toDF("v")).head().getAs[Double]("z")
    assert(math.abs(z) < 1e-12, s"z=$z")
    val z4 = fitted(Seq(Tuple1(4.0)).toDF("v")).head().getAs[Double]("z")
    assert(math.abs(z4 - 2.0 / math.sqrt(2.0 / 3.0)) < 1e-9, s"z4=$z4")
  }

  test("exact ALS half-step is partition-count independent and matches the closed form") {
    import spark.implicits._
    val ratings = Seq(
      (1L, 10L, 4L), (1L, 11L, 2L), (2L, 10L, 5L), (2L, 12L, 1L), (3L, 13L, 3L)
    ).toDF("user_id", "item_id", "rating")
    def run(parts: Int) =
      MLOps.alsStepExact(ratings.repartition(parts), "user_id", "item_id",
          "rating", item => item % 7 + 1, lambda = 10)
        .orderBy("user_id").collect().map(r =>
          (r.getLong(0), r.getDouble(1), r.getLong(2))).toSeq
    val one = run(1)
    assert(one == run(7))
    // user 1: items 10,11 -> y = (10%7)+1=4, (11%7)+1=5; num = 4*4+2*5 = 26
    // den = lambda*2 + (16+25) = 61 -> 26/61
    val u1 = one.find(_._1 == 1L).get
    assert(u1._2 == math.rint(26.0 / 61.0 * 1e6) / 1e6 && u1._3 == 2L)
  }

  test("exact SVM subgradient step matches hand-computed update and ignores non-violators") {
    import spark.implicits._
    // w0 = (1, -1): margin = y * (x1 - x2)
    val df = Seq(
      (5L, 1L, 1L, 1L),   // margin 4 >= 1: not a violator
      (0L, 3L, 1L, 1L),   // margin -3 < 1: violator, y*x = (0, 3, 1)
      (2L, 0L, 1L, -1L)   // margin -2 < 1: violator, y*x = (-2, 0, -1)
    ).toDF("x1", "x2", "x3", "y")
    val r = MLOps.svmStepExact(df, Seq(col("x1"), col("x2"), col("x3")),
      col("y"), w0 = Seq(1.0, -1.0, 0.0), eta = 0.5, lambda = 0.1).head()
    assert(r.getAs[Long]("n_violations") == 2 && r.getAs[Long]("n_rows") == 3)
    // w'_k = 0.95 * w_k + 0.5 * g_k / 3 with g = (-2, 3, 0)
    assert(r.getAs[Double]("w0") == math.rint((0.95 - 1.0 / 3.0) * 1e6) / 1e6)
    assert(r.getAs[Double]("w1") == math.rint((-0.95 + 0.5) * 1e6) / 1e6)
    assert(r.getAs[Double]("w2") == 0.0)
  }

  test("k-NN-distance outlier scores rank the isolated point highest") {
    import spark.implicits._
    // a tight cluster near the origin plus one far point
    val vecs = (0 to 9).map(i =>
      (i.toLong, Array(0.001f * i, 0.001f * i))) :+ (10L, Array(5f, 5f))
    val df = vecs.toDF("vec_id", "embedding")
    val scores = MLOps.knnDistOutlierScores(df, lit(true), k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(scores(10L) == scores.values.max)
    assert(scores(10L) > 100L * scores.filter(_._1 != 10L).values.max)
  }
}
