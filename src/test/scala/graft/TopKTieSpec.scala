package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.SimilarityOps

/** Tie-break spec for the shared rank step of the exact top-k members.
  * The corpus holds duplicated and collinear (×2, ×½) copies of a few base
  * vectors, so many candidates tie on the 6-dp cosine, and k = 2 cuts
  * through groups of three tied siblings. At each member's exhaustive
  * setting every member must return exactly the brute-force
  * (qid, nid, rank), with ties broken by ascending nid. */
class TopKTieSpec extends SparkSpecBase {

  private val k = 2

  /** 5 groups × 4 copies (×1, ×2, ×1, ×½) of a random base vector, ids
    * shuffled over 0..19 so ascending nid is not generation order. */
  private lazy val corpus: Seq[(Long, Array[Float])] = {
    val rnd = new scala.util.Random(4L)
    val bases = Seq.fill(5)(Array.fill(SimilarityOps.Dim)(
      rnd.nextFloat() * 2 - 1))
    val vecs = for (scale <- Seq(1f, 2f, 1f, 0.5f); b <- bases)
      yield b.map(_ * scale)
    rnd.shuffle((0L until vecs.size.toLong).toList).zip(vecs)
  }

  private lazy val embs: DataFrame = {
    import spark.implicits._
    graft.functions.GraftExtensions.install(spark)
    corpus.toDF("vec_id", "embedding")
  }

  private def queries = embs.filter(col("vec_id") % 3 === 0)

  /** Per query, every other vector as (nid, cos) ranked by (cos desc,
    * nid asc): the same ordered double fold and HALF_UP 6-dp round as the
    * operators. */
  private lazy val ranked: Map[Long, Seq[(Long, Double)]] = {
    def dot(a: Array[Float], b: Array[Float]) =
      a.zip(b).foldLeft(0.0) { case (acc, (x, y)) => acc + x.toDouble * y }
    def cos(a: Array[Float], b: Array[Float]) =
      BigDecimal(dot(a, b) / (math.sqrt(dot(a, a)) * math.sqrt(dot(b, b))))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    corpus.filter(_._1 % 3 == 0).map { case (qid, qv) =>
      qid -> corpus.filter(_._1 != qid)
        .map { case (nid, v) => (nid, cos(qv, v)) }
        .sortBy { case (nid, c) => (-c, nid) }
    }.toMap
  }

  private lazy val expected: Set[(Long, Long, Int)] =
    ranked.toSeq.flatMap { case (qid, cands) =>
      cands.take(k).zipWithIndex.map { case ((nid, _), i) => (qid, nid, i + 1) }
    }.toSet

  private def ranks(df: DataFrame): Set[(Long, Long, Int)] =
    df.select(col("qid"), col("nid"), col("rank")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet

  test("the fixture has cosine ties that the top-k cut must break by nid") {
    assert(ranked.size == 7)
    // every query's three siblings tie at cos 1.0, so rank k and the first
    // candidate past the cut share a score
    for ((qid, cands) <- ranked)
      assert(cands.take(k + 1).map(_._2).distinct == Seq(1.0),
        s"query $qid: no tie across the top-$k cut")
  }

  test("exact members at their exhaustive settings return the brute-force ranks") {
    val n = corpus.size
    val cells = 4
    val members: Seq[(String, DataFrame)] = Seq(
      "topKBruteForce" -> SimilarityOps.topKBruteForce(embs, queries, k),
      "topKProjected" -> SimilarityOps.topKProjected(embs, queries, k, m = n),
      "topKPrefix" -> SimilarityOps.topKPrefix(embs, queries, k, m = n),
      "sq8TopK" -> SimilarityOps.sq8TopK(embs, queries, k, m = n),
      "topKIvfProbe" -> SimilarityOps.topKIvfProbe(embs, queries, k,
        SimilarityOps.seedCells(embs, cells), nprobe = cells),
      "topKIvfProbe(sprobe)" -> SimilarityOps.topKIvfProbe(embs, queries, k,
        SimilarityOps.seedCells(embs, cells), nprobe = cells,
        sprobe = Some(1)))
    for ((name, df) <- members)
      assert(ranks(df) == expected, s"$name breaks cosine ties differently")
  }
}
