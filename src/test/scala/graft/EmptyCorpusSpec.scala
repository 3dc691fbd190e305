package graft

import scala.util.Try

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import graft.operators.{DedupOps, LayoutOps, SimilarityOps, TextOps}

/** The dedup, similarity and text operators that take a staged input, run
  * on a 0-row corpus and on the stages derived from it; the IVF and PQ
  * operators get their seeds and codebooks derived the way the query
  * files derive them. The empty tables are parquet files, as a real empty
  * corpus would be, so the optimizer cannot fold them away at plan time:
  * every aggregate, broadcast and checkpoint runs over an empty relation.
  * A derivation that cannot work on no rows (k-means training) must fail
  * with the `require` message declared here. */
class EmptyCorpusSpec extends SparkSpecBase {

  test("staged-input operators return 0 rows with their schema on an empty corpus") {
    val dir = java.nio.file.Files.createTempDirectory("graft-empty").toString
    def emptyCopy(table: String): DataFrame = {
      Tables.load(spark, sfDir, table).limit(0).write.parquet(s"$dir/$table")
      spark.read.parquet(s"$dir/$table")
    }
    val d = emptyCopy("documents")
    val e = emptyCopy("embeddings")
    // the derived stages, materialized as the query stages materialize
    // them; lazy, so a failing stage is reported with its first consumer
    lazy val sigs = DedupOps.minhashSignatures(d).localCheckpoint()
    lazy val shingleSet = DedupOps.shingleHashSet(d).localCheckpoint()
    lazy val sims = DedupOps.simhash(d).localCheckpoint()
    lazy val fps = TextOps.winnowFingerprints(d).localCheckpoint()
    lazy val grams = DedupOps.gramHashTable(d, k = 3).localCheckpoint()
    lazy val pairs = DedupOps.minhashLshPairs(sigs).localCheckpoint()
    lazy val tf = SimilarityOps.termFrequencies(d).localCheckpoint()
    lazy val weights = SimilarityOps.tfidfWeights(d).localCheckpoint()
    lazy val graph = SimilarityOps.knnGraph(e, k = 3, bits = 4).localCheckpoint()
    lazy val storedCounts = grams.filter(col("gh").isNotNull).groupBy(col("gh"))
      .count().withColumnRenamed("count", "stored_cnt")
    // the seeded IVF cells and PQ codebook of the sim_* rows
    val qs = e.filter(col("vec_id") % 100 === 0)
    val s16 = SimilarityOps.seedCells(e, 16)
    lazy val cb = SimilarityOps.pqCodebook(e).localCheckpoint()

    val docCols = d.columns.toSeq
    val spanCols = Seq("doc_id", "span_start", "span_end", "span_tokens")
    val pairCols = Seq("id1", "id2", "n_bands", "est_jaccard")
    val blockCols = Seq("doc_id", "blk", "n_block_tokens", "dup")
    val semCols = Seq("vec_id", "cell", "dup")
    val rankCols = Seq("qid", "nid", "score_i", "rank")
    val annCols = Seq("qid", "nid", "cos", "rank")
    val adcCols = Seq("qid", "nid", "adc_micro", "rank")
    val runs: Seq[(String, () => DataFrame, Seq[String])] = Seq(
      ("exact", () => DedupOps.exact(d), docCols ++ Seq("group_size", "is_kept")),
      ("minhashSignatures", () => sigs, Seq("id", "sig")),
      ("shingleHashSet", () => shingleSet, Seq("id", "h")),
      ("simhash", () => sims, Seq("id", "simhash")),
      ("gramHashTable", () => grams, Seq("doc_id", "pos", "tok", "gh")),
      ("minhashLshPairs", () => pairs, pairCols),
      ("incrementalMinhashPairs", () => DedupOps.incrementalMinhashPairs(sigs, sigs),
        Seq("new_id", "old_id", "n_bands", "est_jaccard")),
      ("editDistancePairs", () => DedupOps.editDistancePairs(d, sims),
        Seq("id1", "id2", "dist")),
      ("ngramJaccardPairs", () => DedupOps.ngramJaccardPairs(shingleSet),
        Seq("id1", "id2", "inter", "jaccard")),
      ("decontaminate", () => DedupOps.decontaminate(d, d),
        Seq("doc_id", "hits", "is_clean")),
      ("dedupCorpus", () => DedupOps.dedupCorpus(d, sigs), docCols),
      ("dedupClusters", () => DedupOps.dedupClusters(d, pairs),
        Seq("doc_id", "cluster_id", "cluster_size")),
      ("leakageSafeSplits", () => DedupOps.leakageSafeSplits(d, pairs),
        Seq("doc_id", "cluster_id", "split")),
      ("canonicalSelect", () => DedupOps.canonicalSelect(d, pairs),
        Seq("cluster_id", "kept_doc_id", "kept_quality", "cluster_size")),
      ("sourceOverlap", () => DedupOps.sourceOverlap(d, shingleSet),
        Seq("src1", "src2", "n_shared", "n_src1", "n_src2", "containment_micro")),
      ("winnowingPairs", () => DedupOps.winnowingPairs(d, fps),
        Seq("id1", "id2", "n_shared")),
      ("winnowingContainment", () => DedupOps.winnowingContainment(d, fps),
        Seq("id1", "id2", "n_shared", "c1_bp", "c2_bp")),
      ("winnowingIncremental", () => DedupOps.winnowingIncremental(d, d, fps),
        Seq("new_id", "old_id", "n_shared")),
      ("embeddingCosinePairs", () => DedupOps.embeddingCosinePairs(e),
        Seq("id1", "id2", "cos")),
      ("embeddingCosinePairs bruteForce",
        () => DedupOps.embeddingCosinePairs(e, bruteForce = true),
        Seq("id1", "id2", "cos")),
      ("semanticDedup", () => DedupOps.semanticDedup(e), semCols),
      ("semanticDedupPruned", () => DedupOps.semanticDedupPruned(e), semCols),
      ("semanticDedupIncremental", () => DedupOps.semanticDedupIncremental(e, e),
        semCols),
      ("duplicateSpans", () => DedupOps.duplicateSpans(grams, k = 3), spanCols),
      ("incrementalDuplicateSpans",
        () => DedupOps.incrementalDuplicateSpans(storedCounts, grams, k = 3),
        spanCols),
      ("cutDuplicateSpans", () => DedupOps.cutDuplicateSpans(d, grams, k = 3),
        Seq("doc_id", "n_tokens_kept", "clean_fp")),
      ("lshPrecision", () => DedupOps.lshPrecision(pairs, shingleSet),
        Seq("id1", "id2", "inter", "uni", "true_pos")),
      ("paragraphDedup", () => DedupOps.paragraphDedup(d), blockCols),
      ("incrementalParagraphDedup", () => DedupOps.incrementalParagraphDedup(d, d),
        blockCols),
      ("paragraphDedupApply", () => DedupOps.paragraphDedupApply(d),
        Seq("doc_id", "n_blocks", "n_kept", "kept_text")),
      ("tfidfWeights", () => weights, Seq("doc_id", "tok", "w")),
      ("keywords", () => SimilarityOps.keywords(weights),
        Seq("doc_id", "tok", "w", "rank")),
      ("tfidfTopK", () => SimilarityOps.tfidfTopK(weights),
        Seq("qid", "nid", "cos", "rank")),
      ("termFrequencies", () => tf, Seq("doc_id", "tok", "tf")),
      ("bm25TopK", () => SimilarityOps.bm25TopK(tf), rankCols),
      ("bm25Prf", () => SimilarityOps.bm25Prf(tf), rankCols),
      ("hybridRrf", () => SimilarityOps.hybridRrf(tf, e),
        Seq("qid", "nid", "lex_rank", "dense_rank", "rrf_micro", "rank")),
      ("knnGraph", () => graph, Seq("src", "dst", "rank", "icos", "mutual")),
      ("knnLabelSmooth", () => SimilarityOps.knnLabelSmooth(e, graph),
        Seq("vec_id", "label", "smoothed_label", "n_neighbors")),
      ("knnClusters", () => SimilarityOps.knnClusters(e, graph),
        Seq("vec_id", "cluster_id", "cluster_size")),
      // an empty target slice of a NON-empty corpus raises (TextFuzzSpec)
      ("dsirSample", () => TextOps.dsirSample(d, tf, col("lang") === "en"),
        Seq("doc_id", "n_feats", "weight", "u", "accepted")),
      ("topKIvfSeeds", () => SimilarityOps.topKIvfSeeds(e, qs, 3, s16),
        Seq("qid", "cell", "nid", "cos", "rank")),
      ("topKIvfProbe", () => SimilarityOps.topKIvfProbe(e, qs, 3, s16, nprobe = 4),
        annCols),
      ("topKIvfProbe sprobe", () => SimilarityOps.topKIvfProbe(e, qs, 3, s16,
        nprobe = 4, sprobe = Some(2)), annCols),
      ("topKIvfFiltered", () => SimilarityOps.topKIvfFiltered(e, qs, 3, s16,
        nprobe = 4, candPred = col("label") % 2 === 0),
        Seq("qid", "nid", "cos", "label", "rank")),
      ("ivfProjectedTopK", () => SimilarityOps.ivfProjectedTopK(e, qs, 3, s16,
        nprobe = 4), annCols),
      ("ivfSplitCells", () => SimilarityOps.ivfSplitCells(e, s16, cells = 16,
        splitThresholdPct = 115), Seq("vec_id", "cell", "needs_split", "new_cell")),
      ("ivfAssignIncremental", () => SimilarityOps.ivfAssignIncremental(
        SimilarityOps.ivfAssign(e, s16), e, s16, cells = 16),
        Seq("vec_id", "cell", "stored_n", "batch_n", "needs_split")),
      ("pqCodebook", () => cb, Seq("cid", "s", "cv")),
      ("pqEncode", () => SimilarityOps.pqEncode(e, cb),
        Seq("vec_id", "s", "code", "d2_micro")),
      ("pqAdcTopK", () => SimilarityOps.pqAdcTopK(e, 10,
        col("vec_id") % 100 === 0, cb), adcCols),
      ("ivfPqTopK", () => SimilarityOps.ivfPqTopK(e, 10, cells = 16, nprobe = 4,
        col("vec_id") % 100 === 0, cb), adcCols),
      ("ivfPqTopK pruned", () => SimilarityOps.ivfPqTopK(e, 10, cells = 16,
        nprobe = 4, col("vec_id") % 100 === 0, cb, assignSprobe = Some(2)),
        adcCols),
      ("writeIvfBucketed + ivfLakeTopK", () => {
        LayoutOps.writeIvfBucketed(e, cells = 16, s"$dir/lake")
        LayoutOps.ivfLakeTopK(spark, s"$dir/lake", qs, s16, k = 3)
      }, Seq("qid", "cell", "nid", "rank", "cos")))
    val failed = runs.flatMap { case (name, run, cols) =>
      Try {
        val out = run()
        assert(out.columns.toSeq == cols, out.columns.mkString(","))
        assert(out.count() == 0L)
      }.failed.toOption.map(t => s"$name: $t")
    }
    assert(failed.isEmpty, failed.mkString("\n"))
    // trained seeds and codebooks: k-means has nothing to seed from
    val noSeeds = "kmeansCentroidsExact: empty input"
    val refused: Seq[(String, () => Any, String)] = Seq(
      ("kmeansCentroidsExact", () =>
        graft.ml.MLOps.kmeansCentroidsExact(e, k = 16, iters = 1), noSeeds),
      ("pqCodebookTrained", () =>
        SimilarityOps.pqCodebookTrained(e, iters = 1), noSeeds))
    val wrong = refused.flatMap { case (name, run, msg) =>
      Try(run()).failed.toOption match {
        case Some(t: IllegalArgumentException)
            if Option(t.getMessage).exists(_.contains(msg)) => None
        case other => Some(s"$name: expected require '$msg', got $other")
      }
    }
    assert(wrong.isEmpty, wrong.mkString("\n"))
  }
}
