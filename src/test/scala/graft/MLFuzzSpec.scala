package graft

import org.apache.spark.sql.functions._
import graft.ml.MLOps

/** Randomized equivalence spec for the r14 cell-pruned
  * [[MLOps.knnDistOutlierScores]]: the triangle-inequality prune must
  * return EXACTLY the exhaustive q×n scan's k-th-neighbor rows — same ids,
  * same integer d² — across random corpora (with duplicated vectors to
  * force d² = 0 ties), every cell-count regime (1 cell = no prune, more
  * cells than rows = singleton cells), and k near the corpus size. */
class MLFuzzSpec extends SparkSpecBase {

  test("cell-pruned knn outlier scores ≡ exhaustive q×n scan") {
    graft.functions.GraftExtensions.install(spark)
    import graft.functions.GraftFunctions.{lld2, quantize}
    import spark.implicits._
    val rnd = new scala.util.Random(14L)
    for (trial <- 1 to 3) {
      val n = 50 + rnd.nextInt(100)
      val dim = 3 + rnd.nextInt(5)
      val k = 2 + rnd.nextInt(5)
      val vecs = Array.fill(n)(Array.fill(dim)(rnd.nextFloat() * 4 - 2))
      // duplicates → exact-tie d² paths through the (d², nid) ordering
      for (i <- vecs.indices if rnd.nextInt(4) == 0 && i > 0)
        vecs(i) = vecs(rnd.nextInt(i))
      val df = vecs.zipWithIndex
        .map { case (v, i) => (i.toLong, v) }.toSeq.toDF("vec_id", "embedding")
      val pred = col("vec_id") % 7 === 0
      // exhaustive reference: the pre-r14 crossJoin form, inlined
      val q = df.filter(pred).select(col("vec_id").as("id"),
        quantize(col("embedding")).as("qv"))
      val c = df.select(col("vec_id").as("nid"),
        quantize(col("embedding")).as("nv"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("id")).orderBy(col("d2"), col("nid"))
      val exhaustive = q.crossJoin(c).filter(col("id") =!= col("nid"))
        .select(col("id"), col("nid"), lld2(col("qv"), col("nv")).as("d2"))
        .withColumn("rk", row_number().over(w)).filter(col("rk") === k)
        .select(col("id"), col("d2"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      for (cells <- Seq(1, 4, 16, n + 5)) {
        val pruned = MLOps.knnDistOutlierScores(df, pred, k = k,
            cells = cells)
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        assert(pruned == exhaustive,
          s"trial $trial (n=$n dim=$dim k=$k cells=$cells): pruned scan " +
            s"diverges from the exhaustive reference")
      }
    }
  }

  test("knn outlier scores on an empty corpus or an empty query set: empty, same schema") {
    import spark.implicits._
    val df = Seq((1L, Array(1f, 2f, 3f)), (2L, Array(2f, 0f, 1f)),
        (3L, Array(0f, 1f, 1f))).toDF("vec_id", "embedding")
    def scores(embs: org.apache.spark.sql.DataFrame,
               pred: org.apache.spark.sql.Column) =
      MLOps.knnDistOutlierScores(embs, pred, k = 1)
    val full = scores(df, lit(true))
    assert(full.count() == 3)
    val noCorpus = scores(df.filter(col("vec_id") < 0), lit(true))
    val noQueries = scores(df, col("vec_id") < 0)
    for (out <- Seq(noCorpus, noQueries)) {
      assert(out.schema == full.schema)
      assert(out.isEmpty)
    }
  }
}
