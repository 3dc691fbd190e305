package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.ml.MLOps

/** ML preprocessing inventory (SURVEY §2.8 FlinkML scalers) — the
  * deterministic relational half; iterative estimators live behind
  * [[graft.ml.MLOps]] with MLSpec coverage. */
object MlQueries extends QuerySet {

  override def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "ml_minmax_scale" -> ((s, dir) =>
      MLOps.minMaxScale(Tables.load(s, dir, "customer"),
          "c_acctbal", col("c_mktsegment"))
        .select(col("c_custkey"), col("c_mktsegment"), col("scaled"))),

    "ml_standard_scale" -> ((s, dir) =>
      MLOps.standardScaleCents(Tables.load(s, dir, "customer"),
          "c_acctbal", col("c_mktsegment"))
        .select(col("c_custkey"), col("c_mktsegment"), col("z"))),

    "ml_knn_classify" -> ((s, dir) => {
      val embs = Tables.load(s, dir, "embeddings")
      MLOps.knnClassify(embs, embs,
        embs.filter(col("vec_id") % 100 === 0), k = 5)
    }),

    // deterministic train/test split assignment — md5-bucketed, identical
    // in any engine (FlinkML Splitter counterpart)
    "ml_train_test_split" -> ((s, dir) =>
      MLOps.splitAssignment(Tables.load(s, dir, "customer"), "c_custkey", 20)
        .select(col("c_custkey"), col("split_bucket"), col("is_test"))),

    // polynomial feature expansion — per-row IEEE products, oracle-exact
    "ml_poly_features" -> ((s, dir) =>
      MLOps.polynomialFeatures(
        Tables.load(s, dir, "lineitem").filter(col("l_orderkey") % 100 === 0),
        Seq("l_quantity", "l_discount"), degree = 2)
        .select(col("l_orderkey"), col("l_linenumber"),
          col("poly_l_quantity"), col("poly_l_discount"),
          col("poly_l_quantity_l_quantity"),
          col("poly_l_quantity_l_discount"),
          col("poly_l_discount_l_discount"))),

    // one EXACT Lloyd step: integer-quantized distances, deterministic
    // seeds (k lowest ids), exact-rational centroid update
    "ml_kmeans_step" -> ((s, dir) =>
      MLOps.kmeansStepExact(Tables.load(s, dir, "embeddings"), k = 8)),

    // one EXACT rank-1 ALS half-step (update user factors, item factors
    // fixed to the deterministic seed (item % 7) + 1): closed-form
    // normal-equation solve with ALS-WR's λ·n_u regularization — integer
    // numerator/denominator, one final division. Ratings derive from the
    // fixture: user = orderkey % 211, item = partkey % 97,
    // rating = max(round(quantity)) per pair.
    "ml_als_step" -> ((s, dir) => {
      val ratings = Tables.load(s, dir, "lineitem")
        .select((col("l_orderkey") % 211).as("user_id"),
          (col("l_partkey") % 97).as("item_id"),
          round(col("l_quantity")).cast("long").as("r"))
        .groupBy(col("user_id"), col("item_id"))
        .agg(max(col("r")).as("rating"))
      MLOps.alsStepExact(ratings, "user_id", "item_id", "rating",
        item => item % 7 + 1, lambda = 10)
    }),

    // one EXACT full-batch hinge subgradient step: integer features
    // (custkey%10, nationkey, bias 1), label ±1 from key parity, initial
    // w = (1, -1, 0) — margins and gradient sums are exact integers;
    // only the final per-weight scalar update touches FP
    "ml_svm_step" -> ((s, dir) => {
      val c = Tables.load(s, dir, "customer")
      MLOps.svmStepExact(
        c.select((col("c_custkey") % 10).as("x1"),
          col("c_nationkey").cast("long").as("x2"),
          lit(1L).as("x3"),
          (lit(2L) * (col("c_custkey") % 2) - 1L).as("y")),
        Seq(col("x1"), col("x2"), col("x3")), col("y"),
        w0 = Seq(1.0, -1.0, 0.0), eta = 0.5, lambda = 0.1)
    }),

    // exact k-NN-distance outlier scores over quantized embeddings —
    // the oracle-able counterpart of the SOS façade (probability chain
    // stays MLSpec-verified); scored side bounded to vec_id % 50 = 0
    "ml_outlier_scores" -> ((s, dir) =>
      MLOps.knnDistOutlierScores(Tables.load(s, dir, "embeddings"),
        col("vec_id") % 50 === 0, k = 5))
  )

  override def oracle: Map[String, String] = Map(
    "ml_minmax_scale" ->
      """SELECT c_custkey, c_mktsegment,
        |  (c_acctbal - MIN(c_acctbal) OVER w)
        |    / (MAX(c_acctbal) OVER w - MIN(c_acctbal) OVER w) AS scaled
        |FROM customer
        |WINDOW w AS (PARTITION BY c_mktsegment)""".stripMargin,

    // replicate topKBruteForce (round-6 cosine, rank tie-break nid) then
    // majority vote with ties toward the smaller label
    "ml_knn_classify" ->
      """WITH v AS (
        |  SELECT vec_id AS id, label, CAST(embedding AS DOUBLE[]) AS e,
        |    sqrt(list_aggregate(list_transform(range(64),
        |      i -> CAST(embedding AS DOUBLE[])[i+1]
        |         * CAST(embedding AS DOUBLE[])[i+1]), 'sum')) AS nrm
        |  FROM embeddings),
        |scored AS (
        |  SELECT q.id AS qid, c.id AS nid, c.label,
        |    round(list_aggregate(list_transform(range(64),
        |      i -> q.e[i+1] * c.e[i+1]), 'sum') / (q.nrm * c.nrm), 6) AS cos
        |  FROM v q JOIN v c ON q.id % 100 = 0 AND q.id <> c.id),
        |nn AS (
        |  SELECT qid, nid, label FROM (
        |    SELECT qid, nid, label,
        |      row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) rk
        |    FROM scored) WHERE rk <= 5),
        |votes AS (
        |  SELECT qid, label, COUNT(*) AS votes FROM nn GROUP BY qid, label)
        |SELECT qid, label AS predicted, votes FROM (
        |  SELECT qid, label, votes,
        |    row_number() OVER (PARTITION BY qid
        |      ORDER BY votes DESC, label) AS rk
        |  FROM votes) WHERE rk = 1""".stripMargin,

    "ml_train_test_split" ->
      """SELECT c_custkey,
        |  CAST(concat('0x', substr(md5(CAST(c_custkey AS VARCHAR)), 1, 15))
        |    AS BIGINT) % 100 AS split_bucket,
        |  CAST(concat('0x', substr(md5(CAST(c_custkey AS VARCHAR)), 1, 15))
        |    AS BIGINT) % 100 < 20 AS is_test
        |FROM customer""".stripMargin,

    "ml_poly_features" ->
      """SELECT l_orderkey, l_linenumber,
        |  l_quantity AS poly_l_quantity,
        |  l_discount AS poly_l_discount,
        |  l_quantity * l_quantity AS poly_l_quantity_l_quantity,
        |  l_quantity * l_discount AS poly_l_quantity_l_discount,
        |  l_discount * l_discount AS poly_l_discount_l_discount
        |FROM lineitem WHERE l_orderkey % 100 = 0""".stripMargin,

    "ml_standard_scale" ->
      """WITH c AS (
        |  SELECT c_custkey, c_mktsegment,
        |    CAST(round(c_acctbal * 100) AS BIGINT) AS cents
        |  FROM customer)
        |SELECT c_custkey, c_mktsegment,
        |  (CAST(cents AS DOUBLE) - CAST(SUM(cents) OVER w AS DOUBLE)
        |     / COUNT(*) OVER w)
        |  / sqrt(CAST(SUM(cents * cents) OVER w AS DOUBLE) / COUNT(*) OVER w
        |         - (CAST(SUM(cents) OVER w AS DOUBLE) / COUNT(*) OVER w)
        |           * (CAST(SUM(cents) OVER w AS DOUBLE) / COUNT(*) OVER w))
        |    AS z
        |FROM c
        |WINDOW w AS (PARTITION BY c_mktsegment)""".stripMargin,

    "ml_kmeans_step" ->
      """WITH q AS (
        |  SELECT vec_id AS id,
        |    list_transform(CAST(embedding AS DOUBLE[]),
        |      x -> CAST(round(x * 1000000) AS BIGINT)) AS qv
        |  FROM embeddings),
        |seeds AS (
        |  SELECT qv AS sv,
        |    CAST(row_number() OVER (ORDER BY id) - 1 AS INT) AS sidx
        |  FROM q ORDER BY id LIMIT 8),
        |assigned AS (
        |  SELECT id, sidx AS cluster FROM (
        |    SELECT q.id, s.sidx,
        |      list_aggregate(list_transform(range(64),
        |        i -> (qv[i+1] - sv[i+1]) * (qv[i+1] - sv[i+1])), 'sum') AS d2
        |    FROM q CROSS JOIN seeds s)
        |  QUALIFY row_number() OVER (PARTITION BY id ORDER BY d2, sidx) = 1),
        |exploded AS (
        |  SELECT a.cluster,
        |    CAST(unnest(range(64)) AS INT) AS dim,
        |    unnest(q.qv) AS x
        |  FROM assigned a JOIN q ON q.id = a.id)
        |SELECT cluster, dim, COUNT(*) AS n,
        |  round(CAST(SUM(x) AS DOUBLE) / COUNT(*) / 1000000.0, 6) AS centroid
        |FROM exploded GROUP BY cluster, dim""".stripMargin,

    "ml_als_step" ->
      """WITH r AS (
        |  SELECT l_orderkey % 211 AS user_id, l_partkey % 97 AS item_id,
        |    MAX(CAST(round(l_quantity) AS BIGINT)) AS rating
        |  FROM lineitem GROUP BY 1, 2)
        |SELECT user_id,
        |  round(CAST(SUM(rating * (item_id % 7 + 1)) AS DOUBLE)
        |        / (10 * COUNT(*)
        |           + SUM((item_id % 7 + 1) * (item_id % 7 + 1))), 6)
        |    AS factor,
        |  COUNT(*) AS n_items
        |FROM r GROUP BY user_id""".stripMargin,

    "ml_svm_step" ->
      """WITH f AS (
        |  SELECT c_custkey % 10 AS x1, CAST(c_nationkey AS BIGINT) AS x2,
        |    CAST(1 AS BIGINT) AS x3, 2 * (c_custkey % 2) - 1 AS y
        |  FROM customer),
        |g AS (
        |  SELECT COUNT(*) AS n,
        |    CAST(SUM(CASE WHEN y * (x1 - x2) < 1 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_violations,
        |    SUM(CASE WHEN y * (x1 - x2) < 1 THEN y * x1 ELSE 0 END) AS g0,
        |    SUM(CASE WHEN y * (x1 - x2) < 1 THEN y * x2 ELSE 0 END) AS g1,
        |    SUM(CASE WHEN y * (x1 - x2) < 1 THEN y * x3 ELSE 0 END) AS g2
        |  FROM f)
        |SELECT
        |  round((1 - 0.5 * 0.1) * 1.0 + 0.5 * (CAST(g0 AS DOUBLE) / n), 6)
        |    AS w0,
        |  round((1 - 0.5 * 0.1) * (-1.0) + 0.5 * (CAST(g1 AS DOUBLE) / n), 6)
        |    AS w1,
        |  round((1 - 0.5 * 0.1) * 0.0 + 0.5 * (CAST(g2 AS DOUBLE) / n), 6)
        |    AS w2,
        |  n_violations, n AS n_rows
        |FROM g""".stripMargin,

    "ml_outlier_scores" ->
      """WITH q AS (
        |  SELECT vec_id AS id,
        |    list_transform(CAST(embedding AS DOUBLE[]),
        |      x -> CAST(round(x * 1000000) AS BIGINT)) AS qv
        |  FROM embeddings),
        |scored AS (
        |  SELECT a.id, b.id AS nid,
        |    list_aggregate(list_transform(range(64),
        |      i -> (a.qv[i+1] - b.qv[i+1]) * (a.qv[i+1] - b.qv[i+1])),
        |      'sum') AS d2
        |  FROM q a JOIN q b ON a.id % 50 = 0 AND a.id <> b.id)
        |SELECT id AS vec_id, CAST(d2 AS BIGINT) AS knn_d2 FROM (
        |  SELECT id, d2,
        |    row_number() OVER (PARTITION BY id ORDER BY d2, nid) AS rk
        |  FROM scored) WHERE rk = 5""".stripMargin
  )
}
