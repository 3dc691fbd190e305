package graft.queries

import org.apache.spark.sql.{DataFrame, SessionClones, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.sources.StagingFs
import graft.operators.SimilarityOps

/** Similarity-search inventory over `embeddings` (LLM-pipeline extension —
  * BASELINE.json north star).
  *
  * Query set = vec_id % 100 == 0 (small, broadcastable). Cosine scores are
  * ordered double folds rounded to 6 dp on both engines; LSH bucket ids are
  * integer-exact (quantized vectors × md5-derived integer hyperplanes).
  */
object Similarity extends QuerySet {

  private def embs(s: SparkSession, dir: String) = Tables.load(s, dir, "embeddings")

  /** Raw bigram tf postings staged once per (app, fixture) — the shared
    * tokenize→explode→count stage the whole lexical family (bm25, dsir;
    * tfidf derives its own weighted copy) probes instead of re-scanning. */
  private def bigramTf(s: SparkSession, dir: String) =
    StagingFs.readStage(s, dir, "graft-bm25-tf") { p =>
      SimilarityOps.termFrequencies(Tables.load(s, dir, "documents"))
        .write.mode("overwrite").parquet(p)
    }

  /** T=2 exact-Lloyd k=16 centroids staged once per (app, fixture) — a
    * pure function of the fixture consumed IDENTICALLY by three
    * trained-index rows (sim_topk_ivf_trained, sim_recall_ivf_trained,
    * sim_recall_ivf_probe_trained), each of which previously re-ran the
    * same driver Lloyd loop (r14; the knnStage/grams6 staging convention —
    * one-time cost lands in stage_sec). 16 rows; the exact integer
    * arithmetic round-trips parquet doubles bit-exactly. */
  private def trainedCents16(s: SparkSession, dir: String) =
    StagingFs.readStage(s, dir, "graft-kmeans16x2") { p =>
      graft.ml.MLOps.kmeansCentroidsExact(embs(s, dir), k = 16, iters = 2)
        .write.mode("overwrite").parquet(p)
    }

  /** k-NN mutual-edge graph staged once per (app, fixture) — shared by the
    * graph row and the clusters row. */
  private def knnStage(s: SparkSession, dir: String) =
    StagingFs.readStage(s, dir, "graft-knn-g") { p =>
      SimilarityOps.knnGraph(Tables.load(s, dir, "embeddings"),
          k = 3, bits = 4)
        .write.mode("overwrite").parquet(p)
    }

  /** Post-split IVF lake staged once per (app, fixture): bucketed lake
    * built, the 115 %-pressure split applied IN PLACE (only flagged cells'
    * partitions rewrite — dynamic partition overwrite), post-split
    * centroids persisted next to it. A fresh lake's current centroids are
    * the seeds it was built with, so the split starts from those. Shared
    * by the content row and the probe row. */
  private def splitLakeStage(s: SparkSession, dir: String) = {
    StagingFs.stage(s, dir, "graft-ivf-lake-split") { p =>
      val all = embs(s, dir)
      graft.operators.LayoutOps.writeIvfBucketed(all, cells = 16, p + "/lake")
      graft.operators.LayoutOps.applySplitToLake(s, p + "/lake",
          SimilarityOps.seedCells(all, 16), cells = 16, splitIters = 1,
          splitThresholdPct = 115)
        .write.mode("overwrite").parquet(p + "/cents")
    }
  }

  /** tf-idf weighted postings staged once per (app, fixture) — shared by
    * the tfidf ranker and the keyword extractor. */
  private def tfidfStage(s: SparkSession, dir: String) =
    StagingFs.readStage(s, dir, "graft-tfidf-w") { p =>
      SimilarityOps.tfidfWeights(Tables.load(s, dir, "documents"))
        .write.mode("overwrite").parquet(p)
    }

  override def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "sim_topk_bruteforce" -> ((s, dir) => {
      val all = embs(s, dir)
      SimilarityOps.topKBruteForce(all, all.filter(col("vec_id") % 100 === 0), 10)
        .select(col("qid"), col("nid"), col("rank"), col("cos"))
    }),

    "sim_topk_lsh" -> ((s, dir) => {
      val all = embs(s, dir)
      SimilarityOps.topKLsh(all, all.filter(col("vec_id") % 100 === 0), 3)
        .select(col("qid"), col("bucket"), col("nid"), col("rank"), col("cos"))
    }),

    // recall@3 of the LSH index vs brute force — the index-quality probe
    // an ANN deployment monitors; per-query exact integer micro-ratio,
    // pure composition of the two existing top-k plans
    "sim_recall_lsh" -> ((s, dir) => {
      val all = embs(s, dir)
      val q = all.filter(col("vec_id") % 100 === 0)
      SimilarityOps.recallAtK(
        SimilarityOps.topKLsh(all, q, 3).select(col("qid"), col("nid")),
        SimilarityOps.topKBruteForce(all, q, 3).select(col("qid"), col("nid")))
    }),

    // recall audit for the IVF probe (nprobe=4 of 16) — the index-quality
    // row next to sim_recall_lsh: exact per-query hit counts against the
    // brute-force ground truth
    "sim_recall_ivf" -> ((s, dir) => {
      val all = embs(s, dir)
      val q = all.filter(col("vec_id") % 100 === 0)
      SimilarityOps.recallAtK(
        SimilarityOps.topKIvfProbe(all, q, 3, SimilarityOps.seedCells(all, 16),
            nprobe = 4)
          .select(col("qid"), col("nid")),
        SimilarityOps.topKBruteForce(all, q, 3).select(col("qid"), col("nid")))
    }),

    // recall audits for the round-11 shortlist/quantization members (r11
    // verdict item 1): same exact per-query hit counts vs brute force as
    // sim_recall_lsh/ivf, so every ANN family member's recall-vs-cost
    // trade-off is MEASURED (DESIGN.md table), not scaladoc prose
    "sim_recall_prefix" -> ((s, dir) => {
      val all = embs(s, dir)
      val q = all.filter(col("vec_id") % 100 === 0)
      SimilarityOps.recallAtK(
        SimilarityOps.topKPrefix(all, q).select(col("qid"), col("nid")),
        SimilarityOps.topKBruteForce(all, q, 3).select(col("qid"), col("nid")))
    }),

    "sim_recall_projected" -> ((s, dir) => {
      val all = embs(s, dir)
      val q = all.filter(col("vec_id") % 100 === 0)
      SimilarityOps.recallAtK(
        SimilarityOps.topKProjected(all, q).select(col("qid"), col("nid")),
        SimilarityOps.topKBruteForce(all, q, 3).select(col("qid"), col("nid")))
    }),

    "sim_recall_sq8" -> ((s, dir) => {
      val all = embs(s, dir)
      val q = all.filter(col("vec_id") % 100 === 0)
      SimilarityOps.recallAtK(
        SimilarityOps.sq8TopK(all, q).select(col("qid"), col("nid")),
        SimilarityOps.topKBruteForce(all, q, 3).select(col("qid"), col("nid")))
    }),

    // the composed IVF×JL member's recall — BOTH approximation knobs
    // (pruned cells bound candidates, projected dots shortlist) measured
    // against ground truth at once
    "sim_recall_ivf_projected" -> ((s, dir) => {
      val all = embs(s, dir)
      val q = all.filter(col("vec_id") % 100 === 0)
      SimilarityOps.recallAtK(
        SimilarityOps.ivfProjectedTopK(all, q, k = 3,
          SimilarityOps.seedCells(all, 16), nprobe = 4, sprobe = 2, m = 10)
          .select(col("qid"), col("nid")),
        SimilarityOps.topKBruteForce(all, q, 3).select(col("qid"), col("nid")))
    }),

    // trained-vs-seeded recall PAIR (own-cell probe on both sides, so the
    // centroid set is the only variable): what k-means training buys in
    // recall, beyond the cell-balance win the r11 table showed
    "sim_recall_ivf_seeded" -> ((s, dir) => {
      val all = embs(s, dir)
      val q = all.filter(col("vec_id") % 100 === 0)
      SimilarityOps.recallAtK(
        SimilarityOps.topKIvfSeeds(all, q, 3, SimilarityOps.seedCells(all, 16))
          .select(col("qid"), col("nid")),
        SimilarityOps.topKBruteForce(all, q, 3).select(col("qid"), col("nid")))
    }),

    "sim_recall_ivf_trained" -> ((s, dir) => {
      val all = embs(s, dir)
      val q = all.filter(col("vec_id") % 100 === 0)
      val trained = trainedCents16(s, dir)
      SimilarityOps.recallAtK(
        SimilarityOps.topKIvfSeeds(all, q, 3, seeds = trained)
          .select(col("qid"), col("nid")),
        SimilarityOps.topKBruteForce(all, q, 3).select(col("qid"), col("nid")))
    }),

    // ...and the same comparison at the PRODUCTION knob: trained centroids
    // under the nprobe=4 multi-probe (vs sim_recall_ivf's seeded nprobe=4)
    // — what k-means training buys at the recall/cost setting a deployment
    // actually runs
    "sim_recall_ivf_probe_trained" -> ((s, dir) => {
      val all = embs(s, dir)
      val q = all.filter(col("vec_id") % 100 === 0)
      val trained = trainedCents16(s, dir)
      SimilarityOps.recallAtK(
        SimilarityOps.topKIvfProbe(all, q, 3, trained, nprobe = 4)
          .select(col("qid"), col("nid")),
        SimilarityOps.topKBruteForce(all, q, 3).select(col("qid"), col("nid")))
    }),

    "sim_lsh_bucket_stats" -> ((s, dir) =>
      SimilarityOps.lshBuckets(embs(s, dir))
        .groupBy(col("bucket")).agg(count(lit(1)).as("n"))),

    "sim_label_centroid" -> ((s, dir) =>
      SimilarityOps.labelCentroids(embs(s, dir))),

    "sim_topk_ivf" -> ((s, dir) => {
      val all = embs(s, dir)
      SimilarityOps.topKIvfSeeds(all, all.filter(col("vec_id") % 100 === 0),
          k = 3, seeds = SimilarityOps.seedCells(all, 16))
        .select(col("qid"), col("cell"), col("nid"), col("rank"), col("cos"))
    }),

    // IVF with nprobe=4: the recall/cost knob — probe the 4 nearest cells,
    // exact-cosine rerank
    "sim_topk_ivf_probe" -> ((s, dir) => {
      val all = embs(s, dir)
      SimilarityOps.topKIvfProbe(all, all.filter(col("vec_id") % 100 === 0),
          k = 3, SimilarityOps.seedCells(all, 16), nprobe = 4)
        .select(col("qid"), col("nid"), col("rank"), col("cos"))
    }),

    // the pruned-assigner index probe (round 10): corpus placed by the
    // two-level assigner (build cost sublinear in cells), queries keep the
    // exact nprobe shortlist — same rerank, new index-build scale path
    "sim_topk_ivf_pruned" -> ((s, dir) => {
      val all = embs(s, dir)
      SimilarityOps.topKIvfProbe(all, all.filter(col("vec_id") % 100 === 0),
          k = 3, SimilarityOps.seedCells(all, 16), nprobe = 4, sprobe = Some(2))
        .select(col("qid"), col("nid"), col("rank"), col("cos"))
    }),

    // TRAINED-index IVF (round 11): centroids from 2 exact integer Lloyd
    // iterations (kmeansCentroidsExact) instead of the smallest-id seeds —
    // same probe shape, k-means cell quality (balance is the variance term
    // of the IVF cost model; see the DESIGN.md seeded-vs-trained table)
    "sim_topk_ivf_trained" -> ((s, dir) => {
      val all = embs(s, dir)
      val trained = trainedCents16(s, dir)
      SimilarityOps.topKIvfSeeds(all, all.filter(col("vec_id") % 100 === 0),
          k = 3, seeds = trained)
        .select(col("qid"), col("cell"), col("nid"), col("rank"), col("cos"))
    }),

    // projection INSIDE the probed cells (round 11): IVF bounds which
    // vectors are candidates, the JL 16-dim dot bounds what each costs,
    // exact rerank on the top-m — the IVF×JL member closing the ANN
    // family lattice ({bucketing, partitioning, projection, quantization})
    "sim_topk_ivf_projected" -> ((s, dir) => {
      val all = embs(s, dir)
      SimilarityOps.ivfProjectedTopK(all,
        all.filter(col("vec_id") % 100 === 0),
        k = 3, SimilarityOps.seedCells(all, 16), nprobe = 4, sprobe = 2,
        m = 10)
    }),

    // the composed member in its PRODUCTION configuration (r11 verdict
    // item 2): trained k-means centroids are passed as the `seeds` —
    // balanced cells bound the worst-case probed
    // candidate volume, both shortlist knobs unchanged (T=1 Lloyd keeps
    // the oracle's unrolled-iteration SQL at one round)
    "sim_topk_ivf_projected_trained" -> ((s, dir) => {
      val all = embs(s, dir)
      val trained = graft.ml.MLOps.kmeansCentroidsExact(all, k = 16,
        iters = 1)
      SimilarityOps.ivfProjectedTopK(all,
        all.filter(col("vec_id") % 100 === 0),
        k = 3, trained, nprobe = 4, sprobe = 2, m = 10)
    }),

    // INCREMENTAL IVF ingest (round 11): the vec_id%10==0 batch placed
    // into cells trained (T=1) on the REST — no index rebuild per batch —
    // with per-cell post-ingest pressure and the 2×-mean needs_split
    // re-shard signal in exact integers; closes the incremental family
    // on the ANN-index side
    "sim_ivf_incremental" -> ((s, dir) => {
      val all = embs(s, dir)
      val stored = all.filter(col("vec_id") % 10 =!= 0)
      val cents = graft.ml.MLOps.kmeansCentroidsExact(stored, k = 16,
        iters = 1)
      SimilarityOps.ivfAssignIncremental(SimilarityOps.ivfAssign(stored, cents),
        all.filter(col("vec_id") % 10 === 0), cents, cells = 16)
    }),

    // the CONSUMER of needs_split (r11 verdict item 3): flagged cells
    // re-shard into two sub-cells by a distributed in-cell 2-means with
    // deterministic 2c/2c+1 renumbering. Pressure point 115 % of mean —
    // the synthetic embeddings are near-uniform (max/mean ≈ 1.3 at every
    // SF), so the detector's 2× default never fires here; 115 flags the
    // 4 densest cells at sf0.01 (and 1 at sf0.1), exercising the whole
    // flag → train → reassign → renumber path under the value oracle
    "sim_ivf_split" -> ((s, dir) => {
      val all = embs(s, dir)
      SimilarityOps.ivfSplitCells(all, SimilarityOps.seedCells(all, 16),
        cells = 16, splitIters = 1, splitThresholdPct = 115)
    }),

    // the STREAM side of incremental IVF (round 12): embeddings replay as
    // 4 vec_id%4 micro-batches, each vector placed ROW-LOCALLY against a
    // literal centroid set (stateless — no join, no per-vector state),
    // per-cell occupancy as a complete-mode cells-sized aggregate; the
    // continuous front door the needs_split consumers watch
    "stream_ivf_ingest" -> ((s, dir) =>
      graft.streaming.VecIngest.ingestCellCounts(s, dir,
        SimilarityOps.seedCells(embs(s, dir), 16))),

    // the EPOCH SWAP closing the streaming maintenance loop (round 13):
    // quarters 0-1 place against the seeded epoch, the lake split runs
    // out of band, quarters 2-3 resume against the post-split centroid
    // table — per-epoch occupancy, both epochs value-oracled
    "stream_ivf_ingest_epoch" -> ((s, dir) => {
      val p = splitLakeStage(s, dir)
      graft.streaming.VecIngest.ingestCellCountsEpochs(s, dir,
        SimilarityOps.seedCells(embs(s, dir), 16), s.read.parquet(p + "/cents"))
    }),

    // the LAKE half of the split: flagged cells' partitions rewrite in
    // place (sub 0 keeps the old id, sub 1 gets id+16; unflagged
    // partitions never open — LayoutSpec pins their file lists untouched);
    // this row is the post-split lake CONTENT read back
    "sim_ivf_lake_split" -> ((s, dir) => {
      val p = splitLakeStage(s, dir)
      s.read.parquet(p + "/lake")
        .select(col("nid").as("vec_id"), col("cell").cast("long").as("cell"))
    }),

    // ...and the full-circle probe: queries route via the POST-SPLIT
    // centroid table (unflagged seeds + per-split-cell floor-means), the
    // scan reads only the probed partitions — detect → split → apply →
    // probe, every stage value-oracled
    "sim_topk_ivf_lake_split" -> ((s, dir) => {
      val p = splitLakeStage(s, dir)
      graft.operators.LayoutOps.ivfLakeTopK(s, p + "/lake",
        embs(s, dir).filter(col("vec_id") % 100 === 0),
        s.read.parquet(p + "/cents"), k = 3)
    }),

    // IVF-BUCKETED LAKE probe (round 11): the corpus staged ONCE as a
    // partitionBy(cell) parquet lake, then probed reading ONLY the
    // queries' cells (literal isin on the partition column → static
    // partition pruning; PlanSpec pins unprobed cells stay unopened).
    // Values identical to sim_topk_ivf — only the I/O shape changes,
    // which is the point at 100 TB (a probe reads nprobe/cells of disk)
    "sim_topk_ivf_lake" -> ((s, dir) => {
      val all = embs(s, dir)
      val path = StagingFs.stage(s, dir, "graft-ivf-lake") { p =>
        graft.operators.LayoutOps.writeIvfBucketed(all, cells = 16, p)
      }
      graft.operators.LayoutOps.ivfLakeTopK(s, path,
        all.filter(col("vec_id") % 100 === 0),
        SimilarityOps.seedCells(all, 16), k = 3)
    }),

    // metadata-FILTERED IVF probe: search restricted to even-label
    // candidates, predicate applied BEFORE the per-query top-k (the
    // pre-filter form — k qualifying neighbors guaranteed while the
    // post-filter form under-returns); the label rides the assignment
    // via ivfAssign's carry columns, one corpus scan
    "sim_topk_ivf_filtered" -> ((s, dir) => {
      val all = embs(s, dir)
      SimilarityOps.topKIvfFiltered(all,
          all.filter(col("vec_id") % 100 === 0),
          k = 3, SimilarityOps.seedCells(all, 16), nprobe = 4,
          candPred = col("label") % 2 === 0)
        .select(col("qid"), col("nid"), col("label"), col("rank"), col("cos"))
    }),

    // IVF-composed SQ8 (FAISS IVF-SQ shape): the scale path for the flat
    // sq8 scan — cells bound WHICH vectors are scored, int8 codes bound
    // what a score costs, exact rerank on the top-m
    "sim_ivf_sq8_topk" -> ((s, dir) =>
      SimilarityOps.ivfSq8TopK(embs(s, dir), col("vec_id") % 100 === 0,
        k = 3, m = 10, cells = 16, nprobe = 4)),

    // cluster-balanced resampling: cap each IVF cell at 25 vectors by md5
    // lottery — dominant embedding-space modes shrink, rare modes survive
    // (the coverage-preserving curation companion of SemDeDup)
    "corpus_cluster_balance" -> ((s, dir) =>
      SimilarityOps.clusterBalance(embs(s, dir), cells = 16, cap = 25)),

    // vector prep: l2-normalize + int8 codes (narrow, scan-composed)
    "sim_normalize_quantize" -> ((s, dir) =>
      SimilarityOps.normalizeQuantize(embs(s, dir))),

    // JL signed random projection 64d -> 16d: the md5-derived ±1 matrix is
    // a pure function of indices, so both engines reconstruct it exactly;
    // narrow per-row map (the cheap pre-filter before exact ANN at scale)
    "sim_random_projection" -> ((s, dir) =>
      SimilarityOps.randomProject(embs(s, dir))),

    // the USE of the projection: top-m candidates by projected-space
    // cosine (4x cheaper per pair), exact full-space rerank to top-k —
    // the dim-reduction prefilter ANN family next to LSH and IVF
    "sim_topk_projected" -> ((s, dir) => {
      val all = embs(s, dir)
      SimilarityOps.topKProjected(all, all.filter(col("vec_id") % 100 === 0))
    }),

    // Matryoshka-style PREFIX-dimension shortlist (round 11): top-m by the
    // exact integer dot of the first 16 quantized coordinates — zero
    // transform cost, ¼ the shortlist bytes — exact full-space rerank;
    // the third cheap-shortlist family member next to JL and SQ8
    "sim_topk_prefix" -> ((s, dir) => {
      val all = embs(s, dir)
      SimilarityOps.topKPrefix(all, all.filter(col("vec_id") % 100 === 0))
    }),

    // hard-negative mining (round 11): per anchor, the top-3 most-similar
    // DIFFERENT-label vectors — LSH-bucket blocked, label predicate cuts
    // BEFORE the rank (pre-filter, every anchor gets k true negatives);
    // the contrastive-training companion of sim_contrastive_pairs
    "sim_hard_negatives" -> ((s, dir) =>
      SimilarityOps.hardNegatives(embs(s, dir),
        col("vec_id") % 100 === 0, k = 3)),

    // the SEARCH-side use of the int8 storage shrink: integer-dot shortlist
    // over SQ8 codes (native lldot kernel), exact full-precision rerank —
    // the scalar-quantization rung of the approximation ladder next to the
    // JL projection (dim shrink) and PQ (codebook shrink)
    "sim_sq8_topk" -> ((s, dir) => {
      val all = embs(s, dir)
      SimilarityOps.sq8TopK(all, all.filter(col("vec_id") % 100 === 0))
    }),

    // blocked k-NN graph with mutual flags — the graph-ANN / semantic-
    // clustering precursor; pair scan bounded by 4-bit LSH buckets, scores
    // exact integer dots (no float fold anywhere in the ranking). The edge
    // list is a pure function of the fixture — staged once, shared with
    // the clusters row
    "sim_knn_graph" -> ((s, dir) => knnStage(s, dir)),

    // OR-amplified knn graph (round 13): candidates union across TWO
    // independent 4-bit bucket families — the recall lever the sampled
    // exact-3NN anchor motivated (single-band recall collapses with
    // bits; 1−(1−p^bits)^bands doesn't) — with the union's duplicate
    // pairs collapsing inside the per-src dense_rank window. The whole
    // banded path is value-oracled: both band buckets, the OR'd
    // candidate union, dedup, ranks, and the mutual flag
    "sim_knn_graph_banded" -> ((s, dir) =>
      SimilarityOps.knnGraph(embs(s, dir), k = 3, bits = 4, bands = 2)),

    // the production monitoring form of the recall audit (round 13):
    // the SAME member plan (seeded IVF nprobe=4) over a deterministic
    // 1-in-4 md5-lottery query panel — ground truth shrinks with the
    // panel, which is what makes a recurring recall monitor affordable
    // at 100 TB (sf10 measured: 1113 s full vs 7.8 s 1-in-10 within
    // 0.003). Oracle = the full audit restricted to the lottery (the
    // sampling-restriction identity the spec pins, as SQL)
    // (panel base is %10, denser than the audit rows' %100: a 1-in-4
    // lottery over the fixture's 5 %100-queries would usually be empty)
    "sim_recall_sampled" -> ((s, dir) => {
      val all = embs(s, dir)
      SimilarityOps.recallAtKSampled(all,
        all.filter(col("vec_id") % 10 === 0), sampleMod = 4)(q =>
        SimilarityOps.topKIvfProbe(all, q, 3, SimilarityOps.seedCells(all, 16),
            nprobe = 4)
          .select(col("qid"), col("nid")))
    }),

    // one label-spreading step over the mutual-kNN graph (round 11):
    // majority neighbor label, ties to the smallest, isolates keep their
    // own — graph-denoised weak labels before they gate curation; probes
    // the staged edge list shared with the graph/clusters rows
    "sim_knn_label_smooth" -> ((s, dir) =>
      SimilarityOps.knnLabelSmooth(embs(s, dir), knnStage(s, dir))),

    // mutual-k-NN semantic clusters: connected components over the mutual,
    // positively-similar knn edges; every vector labeled (singletons kept);
    // probes the staged edge list, pays only CC + the label tail
    "sim_knn_clusters" -> ((s, dir) =>
      SimilarityOps.knnClusters(embs(s, dir), knnStage(s, dir), minIcos = 0L)),

    // product quantization: 4-byte codes per 64-dim vector (the standard
    // ANN compression — the corpus index stores codes, not floats)
    "sim_pq_encode" -> ((s, dir) => {
      val all = embs(s, dir)
      SimilarityOps.pqEncode(all, SimilarityOps.pqCodebook(all))
    }),

    // TRAINED-codebook ADC (round 11): per-subspace exact integer k-means
    // (T=1) replaces the smallest-id codewords — the FAISS-style codebook
    // at subspace cluster means, value-oracled end-to-end (the oracle
    // unrolls the 4 per-subspace Lloyd iterations in SQL)
    "sim_pq_adc_trained" -> ((s, dir) => {
      val all = embs(s, dir)
      val cb = SimilarityOps.pqCodebookTrained(all, iters = 1)
      SimilarityOps.pqAdcTopK(all, k = 10, col("vec_id") % 100 === 0, cb)
    }),

    // asymmetric-distance top-k over the PQ codes: queries build a
    // distance table to the codebook; the corpus side is touched only
    // through its codes
    "sim_pq_adc_topk" -> ((s, dir) => {
      val all = embs(s, dir)
      SimilarityOps.pqAdcTopK(all, k = 10, col("vec_id") % 100 === 0,
        SimilarityOps.pqCodebook(all))
    }),

    // IVF-PQ composed index (FAISS IVFPQ shape): coarse cells bound WHICH
    // vectors are scored (nprobe=4 of 16), PQ-ADC bounds WHAT a score
    // costs (table lookups over 4-byte codes) — the 100 TB ANN
    // architecture, both approximation knobs value-oracled
    "sim_ivf_pq_topk" -> ((s, dir) => {
      val all = embs(s, dir)
      SimilarityOps.ivfPqTopK(all, k = 10, cells = 16, nprobe = 4,
        col("vec_id") % 100 === 0, SimilarityOps.pqCodebook(all))
    }),

    // IVF-PQ with the PRUNED two-level cell placement (sprobe=2) — the
    // build path whose assign cost is sublinear in cells (the sf10 probe:
    // exact placement 189.8 s vs pruned 43.5 s at cells=1414); placement
    // divergence from the exact index is the recall knob, here pinned by
    // the value oracle itself
    "sim_ivf_pq_pruned" -> ((s, dir) => {
      val all = embs(s, dir)
      SimilarityOps.ivfPqTopK(all, k = 10, cells = 16, nprobe = 4,
        col("vec_id") % 100 === 0, SimilarityOps.pqCodebook(all),
        assignSprobe = Some(2))
    }),

    // lexical counterpart of the dense ANN paths: TF-IDF weighted
    // inverted-index join with a df cap pruning hot posting lists, exact
    // cosine re-rank (integer rational weights → value-oracle-exact).
    // The weighted postings (tokenize → tf → df cap) are the dominant cost
    // and a pure function of the fixture — staged once per (app, fixture)
    // like the dedup signature stages, so repeated passes pay only the
    // norms/index-join/top-k tail
    "sim_tfidf_topk" -> ((s, dir) =>
      SimilarityOps.tfidfTopK(tfidfStage(s, dir))),

    // per-doc keyword extraction (top-3 distinctive bigrams by integer
    // tf-idf weight) — the metadata-enrichment pass; probes the SAME
    // staged weighted postings as the tfidf ranker
    "text_keywords" -> ((s, dir) =>
      SimilarityOps.keywords(tfidfStage(s, dir))),

    // vector-side ingest monitoring: per-dim micro-mean shift of the
    // incoming batch (vec_id % 10 = 0) vs the stored corpus
    "corpus_embedding_drift" -> ((s, dir) => {
      val all = embs(s, dir)
      SimilarityOps.embeddingDrift(all.filter(col("vec_id") % 10 =!= 0),
        all.filter(col("vec_id") % 10 === 0))
    }),

    // Okapi BM25 over the same bigram inverted index — the
    // probabilistic-relevance ranking next to tfidf's cosine. The raw tf
    // postings (tokenize → explode → count, the dominant cost) are a pure
    // function of the fixture and are staged once per (app, fixture);
    // every score is an exact BIGINT whose magnitude is corpus-size-
    // INDEPENDENT (corpus stats enter only through the quantized avgdl)
    "sim_bm25_topk" -> ((s, dir) =>
      SimilarityOps.bm25TopK(bigramTf(s, dir))),

    // DSIR-style importance resampling toward the lang='en' target slice:
    // quantized probability-ratio weights over 4096 hashed-bigram buckets
    // + derandomized (md5-draw) acceptance with prob weight/w_max; reuses
    // the SAME staged bigram postings as bm25/tfidf
    "corpus_dsir_sample" -> ((s, dir) =>
      graft.operators.TextOps.dsirSample(Tables.load(s, dir, "documents"),
        bigramTf(s, dir), col("lang") === "en")),

    // BM25 + pseudo-relevance feedback (RM3 expansion): top-3 feedback
    // docs donate their top-5 terms (Σw desc, term asc — engine-exact),
    // second pass mixes original 70 / expansion 30; shared staged postings
    "sim_bm25_prf" -> ((s, dir) => {
      // the shared stage builds outside the cap, at the session's sizing
      val tf = bigramTf(s, dir)
      // caps the postings localCheckpoint job that feeds both passes
      graft.operators.PartitionOps.withShufflePartitions(s,
          graft.operators.PartitionOps.derivedShufflePartitions(s, dir)) { c =>
        SimilarityOps.bm25Prf(SessionClones.rebind(tf, c))
      }
    }),

    // hybrid retrieval: BM25 over documents + dense cosine over their
    // embeddings (row i of embeddings embeds document i), fused by
    // reciprocal-rank fusion — only RANKS cross the system boundary, so
    // no score calibration; reuses the staged bigram postings
    "sim_hybrid_rrf" -> ((s, dir) =>
      SimilarityOps.hybridRrf(bigramTf(s, dir), embs(s, dir), k = 5,
        queryMod = 100)),

    // contrastive pair mining: per query, top-k same-label positives AND
    // top-k different-label hard negatives — broadcast query set × one
    // corpus scan, the label test rides inside the join
    "sim_contrastive_pairs" -> ((s, dir) =>
      SimilarityOps.contrastivePairs(embs(s, dir))),

    // MMR diversity rerank: greedy λ·rel − (1−λ)·maxsim selection over
    // the top-m candidates; relevance/pairwise sims quantized once to
    // micro-cosine BIGINTs so the whole greedy trajectory is
    // integer-exact on both engines. The cap sizes the greedy loop's
    // per-round localCheckpoint jobs
    "sim_mmr_rerank" -> ((s, dir) =>
      graft.operators.PartitionOps.withShufflePartitions(s,
          graft.operators.PartitionOps.derivedShufflePartitions(s, dir,
            table = "embeddings")) { c =>
        SimilarityOps.mmrRerank(embs(c, dir))
      })
  )

  // ---- DuckDB fragments ---------------------------------------------------
  private val E = "CAST(embedding AS DOUBLE[])"

  /** Shared CTE chain of the split rows: seeded assignment, 115 %-of-mean
    * pressure flags (exact integers), flagged members, two smallest-id
    * sub-seeds, one floor-mean Lloyd round (empty subs keep their seed),
    * final placement `fa(vec_id, cell, sub)`. Consumed by sim_ivf_split's
    * siblings sim_ivf_lake_split / sim_topk_ivf_lake_split. */
  private lazy val SplitChainSql: String =
    s"""WITH v AS (
       |  SELECT vec_id, $E AS e, $VNorm AS nrm,
       |    list_transform($E, x -> CAST(round(x * 1000000) AS BIGINT)) AS q
       |  FROM embeddings),
       |seeds AS (SELECT vec_id AS cid, q AS cq FROM v WHERE vec_id < 16),
       |cells AS (
       |  SELECT vec_id, q, cid AS cell FROM (
       |    SELECT v.vec_id, v.q, s.cid, row_number() OVER (
       |      PARTITION BY v.vec_id ORDER BY
       |        CAST(list_aggregate(list_transform(range(64), i ->
       |          (v.q[i+1] - s.cq[i+1]) * (v.q[i+1] - s.cq[i+1])), 'sum')
       |          AS BIGINT), s.cid) AS rk
       |    FROM v CROSS JOIN seeds s) WHERE rk = 1),
       |cn AS (SELECT cell, CAST(COUNT(*) AS BIGINT) AS cell_n
       |       FROM cells GROUP BY cell),
       |tot AS (SELECT CAST(SUM(cell_n) AS BIGINT) AS t FROM cn),
       |st AS (SELECT cn.cell, cn.cell_n * 16 * 100 > 115 * tot.t
       |         AS needs_split
       |       FROM cn, tot),
       |fm AS (
       |  SELECT c.vec_id, c.cell, c.q FROM cells c
       |  JOIN st ON st.cell = c.cell AND st.needs_split),
       |s0 AS (
       |  SELECT cell, CAST(rn - 1 AS BIGINT) AS sub, q AS sq FROM (
       |    SELECT cell, vec_id, q, row_number() OVER (
       |      PARTITION BY cell ORDER BY vec_id) AS rn
       |    FROM fm) WHERE rn <= 2),
       |a1 AS (
       |  SELECT vec_id, cell, sub FROM (
       |    SELECT f.vec_id, f.cell, s.sub, row_number() OVER (
       |      PARTITION BY f.vec_id ORDER BY
       |        CAST(list_aggregate(list_transform(range(64), i ->
       |          (f.q[i+1] - s.sq[i+1]) * (f.q[i+1] - s.sq[i+1])), 'sum')
       |          AS BIGINT), s.sub) AS rk
       |    FROM fm f JOIN s0 s ON s.cell = f.cell) WHERE rk = 1),
       |u1 AS (
       |  SELECT cell, sub, dim,
       |    CAST(floor(CAST(SUM(x) AS DOUBLE) / COUNT(*)) AS BIGINT) AS cx
       |  FROM (
       |    SELECT a.cell, a.sub, CAST(unnest(range(64)) AS INT) AS dim,
       |      unnest(f.q) AS x
       |    FROM a1 a JOIN fm f ON f.vec_id = a.vec_id)
       |  GROUP BY cell, sub, dim),
       |s1 AS (
       |  SELECT s0.cell, s0.sub,
       |    CASE WHEN COUNT(u1.cx) = 0 THEN first(s0.sq)
       |         ELSE list(u1.cx ORDER BY u1.dim) END AS sq
       |  FROM s0 LEFT JOIN u1 ON u1.cell = s0.cell AND u1.sub = s0.sub
       |  GROUP BY s0.cell, s0.sub),
       |fa AS (
       |  SELECT vec_id, cell, sub FROM (
       |    SELECT f.vec_id, f.cell, s.sub, row_number() OVER (
       |      PARTITION BY f.vec_id ORDER BY
       |        CAST(list_aggregate(list_transform(range(64), i ->
       |          (f.q[i+1] - s.sq[i+1]) * (f.q[i+1] - s.sq[i+1])), 'sum')
       |          AS BIGINT), s.sub) AS rk
       |    FROM fm f JOIN s1 s ON s.cell = f.cell) WHERE rk = 1)""".stripMargin
  /** [[SplitChainSql]] extended through the POST-SPLIT state: final lake
    * content (sub 0 keeps the old id, sub 1 gets +16), flagged-cell set,
    * and the post-split centroid table `newc` (unflagged seeds + exact
    * floor-means of each split cell's final members) — the SQL mirror of
    * what [[graft.operators.LayoutOps.applySplitToLake]] returns. Shared
    * by the lake probe row and the epoch-swap ingest row. */
  private lazy val PostSplitCentsSql: String =
    s"""$SplitChainSql,
       |content AS (
       |  SELECT c.vec_id,
       |    CASE WHEN fa.sub IS NULL THEN c.cell
       |         WHEN fa.sub = 0 THEN c.cell
       |         ELSE c.cell + 16 END AS cell
       |  FROM cells c LEFT JOIN fa ON fa.vec_id = c.vec_id),
       |fcells AS (SELECT cell FROM st WHERE needs_split),
       |splitmember AS (
       |  SELECT ct.cell, vv.q FROM content ct
       |  JOIN v vv ON vv.vec_id = ct.vec_id
       |  WHERE ct.cell >= 16 OR ct.cell IN (SELECT cell FROM fcells)),
       |splitcents AS (
       |  SELECT cell AS cid, list(cx ORDER BY dim) AS cq FROM (
       |    SELECT cell, dim,
       |      CAST(floor(CAST(SUM(x) AS DOUBLE) / COUNT(*)) AS BIGINT) AS cx
       |    FROM (
       |      SELECT sm.cell, CAST(unnest(range(64)) AS INT) AS dim,
       |        unnest(sm.q) AS x
       |      FROM splitmember sm)
       |    GROUP BY cell, dim)
       |  GROUP BY cell),
       |newc AS (
       |  SELECT cid, cq FROM seeds
       |  WHERE cid NOT IN (SELECT cell FROM fcells)
       |  UNION ALL SELECT cid, cq FROM splitcents)""".stripMargin

  private def H(e: String) =
    s"CAST(concat('0x', substr(md5($e), 1, 15)) AS BIGINT)"
  /** integer LSH bucket of the row's embedding (mirror of
    * SimilarityOps.lshBucket: fold acc*2+bit over planes 0..7 ≡ bit p gets
    * weight 2^(7-p)). */
  private val Bucket =
    s"""CAST(list_aggregate(list_transform(range(8), p ->
       |  CASE WHEN list_aggregate(list_transform(range(64), d ->
       |    (${H("p || '_' || d")} % 2001 - 1000)
       |      * CAST(round($E[d+1] * 1000000) AS BIGINT)), 'sum') > 0
       |  THEN (CAST(1 AS BIGINT) << CAST(7 - p AS INT)) ELSE 0 END),
       |  'sum') AS BIGINT)""".stripMargin

  private val VNorm =
    s"sqrt(list_aggregate(list_transform(range(64), i -> $E[i+1] * $E[i+1]), 'sum'))"

  /** Mirror of SimilarityOps.scaledCodes: floor(x/‖x‖·scale) as BIGINTs,
    * all-zero for the zero vector. */
  private def CodesSql(scale: String) =
    s"""CASE WHEN $VNorm > 0
       |  THEN list_transform($E, x ->
       |    CAST(floor(x / ($VNorm) * $scale) AS BIGINT))
       |  ELSE list_transform($E, x -> CAST(0 AS BIGINT)) END""".stripMargin

  /** [[BucketBits]] generalized to band `band`: sign pattern of planes
    * [band·bits, (band+1)·bits) of the same md5-derived family — the SQL
    * mirror of `SimilarityOps.lshBucketBand` (band 0 ≡ [[BucketBits]]). */
  private def BucketBand(band: Int, bits: Int) =
    s"""CAST(list_aggregate(list_transform(range($bits), j ->
       |  CASE WHEN list_aggregate(list_transform(range(64), d ->
       |    (${H(s"(${band * bits} + j) || '_' || d")} % 2001 - 1000)
       |      * CAST(round($E[d+1] * 1000000) AS BIGINT)), 'sum') > 0
       |  THEN (CAST(1 AS BIGINT) << CAST(${bits - 1} - j AS INT)) ELSE 0 END),
       |  'sum') AS BIGINT)""".stripMargin

  /** [[Bucket]] generalized to `bits` sign planes (band 0 of the same
    * md5-derived hyperplane family). */
  private def BucketBits(bits: Int) =
    s"""CAST(list_aggregate(list_transform(range($bits), p ->
       |  CASE WHEN list_aggregate(list_transform(range(64), d ->
       |    (${H("p || '_' || d")} % 2001 - 1000)
       |      * CAST(round($E[d+1] * 1000000) AS BIGINT)), 'sum') > 0
       |  THEN (CAST(1 AS BIGINT) << CAST(${bits - 1} - p AS INT)) ELSE 0 END),
       |  'sum') AS BIGINT)""".stripMargin

  /** Shared CTE chain for the k-NN graph family: bucket-bounded pair scan
    * on micro-normalized integer codes, per-source top-k (`t`). */
  private def KnnCtes(k: Int, bits: Int) =
    s"""WITH v AS (
       |  SELECT vec_id AS id, ${BucketBits(bits)} AS b,
       |    ${CodesSql("1000000")} AS nc
       |  FROM embeddings),
       |p AS (
       |  SELECT a.id AS src, c.id AS dst,
       |    CAST(list_aggregate(list_transform(range(64),
       |      i -> a.nc[i+1] * c.nc[i+1]), 'sum') AS BIGINT) AS icos
       |  FROM v a JOIN v c ON a.b = c.b AND a.id <> c.id),
       |t AS (
       |  SELECT src, dst, icos, rank FROM (
       |    SELECT *, row_number() OVER (PARTITION BY src
       |      ORDER BY icos DESC, dst) AS rank FROM p)
       |  WHERE rank <= $k)""".stripMargin

  /** The MMR oracle is the greedy loop UNROLLED to k CTE rounds — same
    * integer scores (λ·relq − (1−λ)·maxsim over micro-cosine BIGINTs),
    * same (score desc, nid) tie-break, so both engines walk the identical
    * trajectory. Generated, not hand-written, so k/m/λ stay in one place. */
  private def mmrOracle(k: Int, m: Int, lam: Int, queryMod: Long): String = {
    val mu = 100 - lam
    val cosQ = (a: String, b: String) =>
      s"""CAST(round(1e6 * list_aggregate(list_transform(range(64),
         |      i -> $a.e[i+1] * $b.e[i+1]), 'sum') / ($a.nrm * $b.nrm))
         |      AS BIGINT)""".stripMargin
    val head =
      s"""WITH v AS (
         |  SELECT vec_id AS id, $E AS e, $VNorm AS nrm FROM embeddings),
         |scored AS (
         |  SELECT q.id AS qid, c.id AS nid, ${cosQ("q", "c")} AS relq
         |  FROM v q JOIN v c ON q.id % $queryMod = 0 AND q.id <> c.id),
         |cand AS (
         |  SELECT qid, nid, relq FROM (
         |    SELECT *, row_number() OVER (PARTITION BY qid
         |      ORDER BY relq DESC, nid) AS rn FROM scored) WHERE rn <= $m),
         |pw AS (
         |  SELECT a.qid, a.nid AS aid, b.nid AS bid, ${cosQ("va", "vb")} AS sim
         |  FROM cand a JOIN cand b ON a.qid = b.qid AND a.nid <> b.nid
         |  JOIN v va ON va.id = a.nid JOIN v vb ON vb.id = b.nid),
         |s1 AS (
         |  SELECT qid, nid, 1 AS mmr_rank, $lam * relq AS score_i FROM (
         |    SELECT *, row_number() OVER (PARTITION BY qid
         |      ORDER BY relq DESC, nid) AS rn FROM cand) WHERE rn = 1),
         |sel1 AS (SELECT qid, nid FROM s1)""".stripMargin
    val rounds = (2 to k).map { r =>
      s""",
         |r$r AS (
         |  SELECT c.qid, c.nid,
         |    $lam * c.relq - $mu * COALESCE(mx.maxsim, 0) AS sc
         |  FROM cand c
         |  LEFT JOIN (
         |    SELECT p.qid, p.aid, MAX(p.sim) AS maxsim
         |    FROM pw p JOIN sel${r - 1} s ON p.qid = s.qid AND p.bid = s.nid
         |    GROUP BY 1, 2) mx ON mx.qid = c.qid AND mx.aid = c.nid
         |  WHERE NOT EXISTS (SELECT 1 FROM sel${r - 1} s
         |    WHERE s.qid = c.qid AND s.nid = c.nid)),
         |s$r AS (
         |  SELECT qid, nid, $r AS mmr_rank, sc AS score_i FROM (
         |    SELECT *, row_number() OVER (PARTITION BY qid
         |      ORDER BY sc DESC, nid) AS rn FROM r$r) WHERE rn = 1),
         |sel$r AS (SELECT qid, nid FROM sel${r - 1}
         |  UNION ALL SELECT qid, nid FROM s$r)""".stripMargin
    }.mkString
    val unions = (1 to k)
      .map(r => s"SELECT qid, nid, mmr_rank, score_i FROM s$r")
      .mkString("\n", "\nUNION ALL\n", "")
    head + rounds + unions
  }

  // the lake probe is value-identical to the in-memory IVF probe by
  // construction (same assignment, same rerank; only the I/O shape
  // differs), so it shares sim_topk_ivf's oracle SQL verbatim.
  // vals, not defs: the driver reads `oracle` repeatedly and the base map
  // is multi-hundred lines of interpolated SQL — build it once.
  // The sim_recall_* family composes each member's own oracle SQL (as a
  // derived table) with the shared brute-force-top-3 + hit-count tail —
  // the oracle recomputes the approximate index AND the ground truth from
  // scratch, exactly like the Spark side does
  override lazy val oracle: Map[String, String] = oracleBase +
    ("sim_topk_ivf_lake" -> oracleBase("sim_topk_ivf")) +
    ("sim_recall_prefix" -> recallOracle(oracleBase("sim_topk_prefix"))) +
    ("sim_recall_projected" ->
      recallOracle(oracleBase("sim_topk_projected"))) +
    ("sim_recall_sq8" -> recallOracle(oracleBase("sim_sq8_topk"))) +
    ("sim_recall_ivf_projected" ->
      recallOracle(oracleBase("sim_topk_ivf_projected"))) +
    ("sim_recall_ivf_seeded" -> recallOracle(oracleBase("sim_topk_ivf"))) +
    ("sim_recall_ivf_trained" ->
      recallOracle(oracleBase("sim_topk_ivf_trained"))) +
    ("sim_recall_ivf_probe_trained" -> recallOracle(trainedProbeTop3Sql)) +
    ("sim_topk_ivf_projected_trained" -> ivfProjectedTrainedSql) +
    // the sampling-restriction identity as SQL: the sampled audit IS the
    // full audit's rows at the md5-lottery panel (stableHash mirror).
    // The member SQL is sim_recall_ivf's with its %100 query filter
    // widened to %10 (both sites: qcells and the bf ground truth) — the
    // fixture's 5 %100-queries would leave a 1-in-4 lottery empty
    ("sim_recall_sampled" -> {
      val base = oracleBase("sim_recall_ivf")
      require(base.contains("% 100 = 0"),
        "sim_recall_ivf query filter drifted — update the sampled wrap")
      s"""SELECT qid, n_exact, n_hit, recall_micro
         |FROM (${base.replace("% 100 = 0", "% 10 = 0")})
         |WHERE ${H("CAST(qid AS VARCHAR)")} % 4 = 0""".stripMargin
    })

  /** Trained-centroid nprobe=4 top-3: sim_topk_ivf_trained's T=2 Lloyd
    * chain with its own-cell tail swapped for the multi-probe ranked/
    * qcells tail of sim_topk_ivf_probe — the member SQL the production-
    * knob recall row wraps. */
  private lazy val trainedProbeTop3Sql: String = {
    val base = oracleBase("sim_topk_ivf_trained")
    val marker = "cells AS ("
    val idx = base.indexOf(marker)
    require(idx > 0,
      "sim_topk_ivf_trained cells CTE drifted — update the probe swap")
    base.substring(0, idx) +
      s"""ranked AS (
         |  SELECT v.vec_id, v.e, v.nrm, c.cid, row_number() OVER (
         |    PARTITION BY v.vec_id ORDER BY
         |      CAST(list_aggregate(list_transform(range(64), i ->
         |        (v.q[i+1] - c.cq[i+1]) * (v.q[i+1] - c.cq[i+1])), 'sum')
         |        AS BIGINT), c.cid) AS rk
         |  FROM v CROSS JOIN c2 c),
         |cells AS (
         |  SELECT vec_id, e, nrm, cid AS cell FROM ranked WHERE rk = 1),
         |qcells AS (
         |  SELECT vec_id, e, nrm, cid AS cell FROM ranked
         |  WHERE rk <= 4 AND vec_id % 100 = 0)
         |SELECT qid, nid FROM (
         |  SELECT q.vec_id AS qid, c.vec_id AS nid,
         |    row_number() OVER (PARTITION BY q.vec_id ORDER BY
         |      round(list_aggregate(list_transform(range(64),
         |        i -> q.e[i+1] * c.e[i+1]), 'sum') / (q.nrm * c.nrm), 6)
         |        DESC, c.vec_id) AS rank
         |  FROM qcells q JOIN cells c
         |    ON q.vec_id <> c.vec_id AND q.cell = c.cell)
         |WHERE rank <= 3""".stripMargin
  }

  /** Wraps a member's own top-3 oracle SQL (any final column set including
    * (qid, nid)) with the brute-force ground truth and the per-query
    * hit-count tail of sim_recall_lsh — one helper, six recall rows. */
  private def recallOracle(approxSql: String): String =
    s"""WITH approx AS (SELECT qid, nid FROM ($approxSql)),
       |bfv AS (SELECT vec_id AS id, $E AS e, $VNorm AS nrm FROM embeddings),
       |bf AS (
       |  SELECT qid, nid FROM (
       |    SELECT q.id AS qid, c.id AS nid,
       |      row_number() OVER (PARTITION BY q.id ORDER BY
       |        round(list_aggregate(list_transform(range(64),
       |          i -> q.e[i+1] * c.e[i+1]), 'sum') / (q.nrm * c.nrm), 6)
       |          DESC, c.id) AS rank
       |    FROM bfv q JOIN bfv c ON q.id % 100 = 0 AND q.id <> c.id)
       |  WHERE rank <= 3)
       |SELECT qid, n_exact, n_hit, n_hit * 1000000 // n_exact AS recall_micro
       |FROM (
       |  SELECT bf.qid, CAST(COUNT(*) AS BIGINT) AS n_exact,
       |    CAST(SUM(CASE WHEN a.nid IS NOT NULL THEN 1 ELSE 0 END)
       |      AS BIGINT) AS n_hit
       |  FROM bf LEFT JOIN approx a ON bf.qid = a.qid AND bf.nid = a.nid
       |  GROUP BY bf.qid)""".stripMargin

  /** sim_topk_ivf_projected's SQL with the smallest-id seed CTE swapped
    * for the T=1 trained-centroid chain (the sim_topk_ivf_trained idiom:
    * renumbered smallest-id seeding, one integer Lloyd round, floor-mean
    * updates, empty cells keep their centroid) — everything downstream
    * (supers, pruned placement, projected shortlist, exact rerank) is the
    * member's own SQL verbatim. */
  private lazy val ivfProjectedTrainedSql: String = {
    val seedCte =
      "seeds AS (SELECT vec_id AS cid, q AS cq FROM v WHERE vec_id < 16),"
    val base = oracleBase("sim_topk_ivf_projected")
    require(base.contains(seedCte),
      "sim_topk_ivf_projected seed CTE drifted — update the trained swap")
    val trained =
      s"""c0 AS (
         |  SELECT cid, cq FROM (
         |    SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT)
         |      AS cid, q AS cq FROM v) WHERE cid < 16),
         |a1 AS (
         |  SELECT id, cluster FROM (
         |    SELECT v.vec_id AS id, c.cid AS cluster, row_number() OVER (
         |      PARTITION BY v.vec_id ORDER BY
         |        CAST(list_aggregate(list_transform(range(64), i ->
         |          (v.q[i+1] - c.cq[i+1]) * (v.q[i+1] - c.cq[i+1])), 'sum')
         |          AS BIGINT), c.cid) AS rk
         |    FROM v CROSS JOIN c0 c) WHERE rk = 1),
         |n1 AS (
         |  SELECT cluster AS cid, dim,
         |    CAST(floor(CAST(SUM(x) AS DOUBLE) / COUNT(*)) AS BIGINT) AS cx
         |  FROM (
         |    SELECT a.cluster, CAST(unnest(range(64)) AS INT) AS dim,
         |      unnest(v.q) AS x
         |    FROM a1 a JOIN v ON v.vec_id = a.id)
         |  GROUP BY cluster, dim),
         |c1 AS (
         |  SELECT c0.cid,
         |    CASE WHEN COUNT(n1.cx) = 0 THEN first(c0.cq)
         |         ELSE list(n1.cx ORDER BY n1.dim) END AS cq
         |  FROM c0 LEFT JOIN n1 ON n1.cid = c0.cid
         |  GROUP BY c0.cid),
         |seeds AS (SELECT cid, cq FROM c1),""".stripMargin
    base.replace(seedCte, trained)
  }

  private lazy val oracleBase: Map[String, String] = Map(
    // same tokenize → tf → df-capped rational weights → inverted-index
    // join → cosine; sums cast back from DuckDB's HUGEINT
    "sim_tfidf_topk" ->
      raw"""WITH toks AS (
           |  SELECT doc_id, string_split_regex(lower(text), '\s+') AS t
           |  FROM documents),
           |tf AS (
           |  SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS tf FROM (
           |    SELECT doc_id, unnest(
           |      CASE WHEN len(t) >= 2
           |        THEN list_transform(range(len(t) - 1),
           |          i -> t[i+1] || ' ' || t[i+2])
           |        ELSE [array_to_string(t, ' ')] END) AS tok
           |    FROM toks) GROUP BY 1, 2),
           |dfreq AS (
           |  SELECT tok, CAST(COUNT(*) AS BIGINT) AS df FROM tf
           |  GROUP BY tok
           |  HAVING COUNT(*) * 100 <= (SELECT COUNT(*) FROM documents) * 18),
           |w AS (
           |  SELECT doc_id, t.tok, CAST((t.tf * 10000) // d.df AS BIGINT) AS w
           |  FROM tf t JOIN dfreq d USING (tok)),
           |norms AS (
           |  SELECT doc_id, CAST(SUM(w * w) AS BIGINT) AS n2
           |  FROM w GROUP BY doc_id),
           |q AS (SELECT doc_id AS qid, tok, w AS wq FROM w
           |      WHERE doc_id % 97 = 0),
           |dt AS (
           |  SELECT q.qid, w.doc_id AS nid,
           |    CAST(SUM(q.wq * w.w) AS BIGINT) AS dot
           |  FROM q JOIN w ON q.tok = w.tok AND q.qid <> w.doc_id
           |  GROUP BY 1, 2),
           |scored AS (
           |  SELECT d.qid, d.nid,
           |    round(CAST(d.dot AS DOUBLE) /
           |      (sqrt(CAST(nq.n2 AS DOUBLE)) * sqrt(CAST(nn.n2 AS DOUBLE))),
           |      6) AS cos
           |  FROM dt d JOIN norms nq ON d.qid = nq.doc_id
           |            JOIN norms nn ON d.nid = nn.doc_id)
           |SELECT qid, nid, cos, CAST(row_number() OVER (
           |  PARTITION BY qid ORDER BY cos DESC, nid) AS INT) AS rank
           |FROM scored QUALIFY rank <= 5""".stripMargin,

    // same weight CTEs as sim_tfidf_topk, final top-k window per doc
    "text_keywords" ->
      raw"""WITH toks AS (
           |  SELECT doc_id, string_split_regex(lower(text), '\s+') AS t
           |  FROM documents),
           |tf AS (
           |  SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS tf FROM (
           |    SELECT doc_id, unnest(
           |      CASE WHEN len(t) >= 2
           |        THEN list_transform(range(len(t) - 1),
           |          i -> t[i+1] || ' ' || t[i+2])
           |        ELSE [array_to_string(t, ' ')] END) AS tok
           |    FROM toks) GROUP BY 1, 2),
           |dfreq AS (
           |  SELECT tok, CAST(COUNT(*) AS BIGINT) AS df FROM tf
           |  GROUP BY tok
           |  HAVING COUNT(*) * 100 <= (SELECT COUNT(*) FROM documents) * 18),
           |w AS (
           |  SELECT doc_id, t.tok, CAST((t.tf * 10000) // d.df AS BIGINT) AS w
           |  FROM tf t JOIN dfreq d USING (tok))
           |SELECT doc_id, tok, w, CAST(row_number() OVER (
           |  PARTITION BY doc_id ORDER BY w DESC, tok) AS INT) AS rank
           |FROM w QUALIFY rank <= 3""".stripMargin,

    // per-dim integer micro-means both sides (Spark DIV ≡ DuckDB // on
    // these sums: the quantized per-dim sums are non-negative-safe only
    // per-sign, so mirror with trunc division semantics via CASE)
    "corpus_embedding_drift" ->
      s"""WITH st AS (
         |  SELECT CAST(i AS INT) AS dim,
         |    CAST(SUM(CAST(round(e[i+1] * 1000000) AS BIGINT)) AS BIGINT)
         |      AS sx,
         |    CAST(COUNT(*) AS BIGINT) AS n
         |  FROM (SELECT $E AS e FROM embeddings WHERE vec_id % 10 <> 0),
         |    unnest(range(64)) AS u(i)
         |  GROUP BY 1),
         |ba AS (
         |  SELECT CAST(i AS INT) AS dim,
         |    CAST(SUM(CAST(round(e[i+1] * 1000000) AS BIGINT)) AS BIGINT)
         |      AS sx,
         |    CAST(COUNT(*) AS BIGINT) AS n
         |  FROM (SELECT $E AS e FROM embeddings WHERE vec_id % 10 = 0),
         |    unnest(range(64)) AS u(i)
         |  GROUP BY 1)
         |SELECT st.dim,
         |  CAST(trunc(CAST(st.sx AS DOUBLE) / st.n) AS BIGINT)
         |    AS stored_mean_micro,
         |  CAST(trunc(CAST(ba.sx AS DOUBLE) / ba.n) AS BIGINT)
         |    AS batch_mean_micro,
         |  CAST(trunc(CAST(ba.sx AS DOUBLE) / ba.n) AS BIGINT)
         |    - CAST(trunc(CAST(st.sx AS DOUBLE) / st.n) AS BIGINT)
         |    AS drift_micro
         |FROM st JOIN ba ON st.dim = ba.dim""".stripMargin,

    // same tokenize → tf → dl/avgdl/df stats → integer BM25 weights →
    // inverted-index join; `//` is DuckDB's truncating integer division,
    // mirroring Spark's `div` (all operands positive)
    "sim_bm25_topk" ->
      raw"""WITH toks AS (
           |  SELECT doc_id, string_split_regex(lower(text), '\s+') AS t
           |  FROM documents),
           |tf AS (
           |  SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS tf FROM (
           |    SELECT doc_id, unnest(
           |      CASE WHEN len(t) >= 2
           |        THEN list_transform(range(len(t) - 1),
           |          i -> t[i+1] || ' ' || t[i+2])
           |        ELSE [array_to_string(t, ' ')] END) AS tok
           |    FROM toks) GROUP BY 1, 2),
           |dl AS (
           |  SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS dl
           |  FROM tf GROUP BY doc_id),
           |stats AS (
           |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
           |    CAST((SUM(dl) * 1000) // COUNT(*) AS BIGINT) AS avg_q
           |  FROM dl),
           |dfreq AS (
           |  SELECT tok,
           |    CAST(LEAST(((n - df) * 1000) // df, 1000000000) AS BIGINT)
           |      AS idf_i
           |  FROM (SELECT tok, CAST(COUNT(*) AS BIGINT) AS df
           |        FROM tf GROUP BY tok) CROSS JOIN stats
           |  WHERE df * 100 <= n * 18),
           |post AS (
           |  SELECT t.doc_id, t.tok,
           |    CAST(f.idf_i * ((22 * s.avg_q * t.tf * 10000) //
           |      (10 * s.avg_q * t.tf + 3 * s.avg_q + 9000 * d.dl))
           |      AS BIGINT) AS w
           |  FROM tf t JOIN dfreq f USING (tok) JOIN dl d USING (doc_id)
           |  CROSS JOIN stats s),
           |q AS (SELECT doc_id AS qid, tok FROM post WHERE doc_id % 97 = 0),
           |sc AS (
           |  SELECT q.qid, p.doc_id AS nid, CAST(SUM(p.w) AS BIGINT) AS score_i
           |  FROM q JOIN post p USING (tok) WHERE q.qid <> p.doc_id
           |  GROUP BY 1, 2)
           |SELECT qid, nid, score_i, CAST(row_number() OVER (
           |  PARTITION BY qid ORDER BY score_i DESC, nid) AS INT) AS rank
           |FROM sc QUALIFY rank <= 5""".stripMargin,

    // bm25 CTEs + RM3 steps: pass-1 topf feedback, top-e expansion terms
    // (Σw desc, tok asc), 70/30 mixed second pass
    "sim_bm25_prf" ->
      raw"""WITH toks AS (
           |  SELECT doc_id, string_split_regex(lower(text), '\s+') AS t
           |  FROM documents),
           |tf AS (
           |  SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS tf FROM (
           |    SELECT doc_id, unnest(
           |      CASE WHEN len(t) >= 2
           |        THEN list_transform(range(len(t) - 1),
           |          i -> t[i+1] || ' ' || t[i+2])
           |        ELSE [array_to_string(t, ' ')] END) AS tok
           |    FROM toks) GROUP BY 1, 2),
           |dl AS (
           |  SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS dl
           |  FROM tf GROUP BY doc_id),
           |stats AS (
           |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
           |    CAST((SUM(dl) * 1000) // COUNT(*) AS BIGINT) AS avg_q
           |  FROM dl),
           |dfreq AS (
           |  SELECT tok,
           |    CAST(LEAST(((n - df) * 1000) // df, 1000000000) AS BIGINT)
           |      AS idf_i
           |  FROM (SELECT tok, CAST(COUNT(*) AS BIGINT) AS df
           |        FROM tf GROUP BY tok) CROSS JOIN stats
           |  WHERE df * 100 <= n * 18),
           |post AS (
           |  SELECT t.doc_id, t.tok,
           |    CAST(f.idf_i * ((22 * s.avg_q * t.tf * 10000) //
           |      (10 * s.avg_q * t.tf + 3 * s.avg_q + 9000 * d.dl))
           |      AS BIGINT) AS w
           |  FROM tf t JOIN dfreq f USING (tok) JOIN dl d USING (doc_id)
           |  CROSS JOIN stats s),
           |qt AS (SELECT doc_id AS qid, tok FROM post WHERE doc_id % 97 = 0),
           |p1 AS (
           |  SELECT qt.qid, p.doc_id AS nid, CAST(SUM(p.w) AS BIGINT)
           |    AS score_i
           |  FROM qt JOIN post p USING (tok) WHERE qt.qid <> p.doc_id
           |  GROUP BY 1, 2),
           |fb AS (
           |  SELECT qid, nid FROM (
           |    SELECT qid, nid, row_number() OVER (PARTITION BY qid
           |      ORDER BY score_i DESC, nid) AS r FROM p1) WHERE r <= 3),
           |exp0 AS (
           |  SELECT fb.qid, p.tok, CAST(SUM(p.w) AS BIGINT) AS fw
           |  FROM fb JOIN post p ON p.doc_id = fb.nid
           |  WHERE NOT EXISTS (SELECT 1 FROM qt
           |    WHERE qt.qid = fb.qid AND qt.tok = p.tok)
           |  GROUP BY 1, 2),
           |expn AS (
           |  SELECT qid, tok, CAST(30 AS BIGINT) AS mixw FROM (
           |    SELECT *, row_number() OVER (PARTITION BY qid
           |      ORDER BY fw DESC, tok) AS er FROM exp0) WHERE er <= 5),
           |terms AS (
           |  SELECT qid, tok, CAST(70 AS BIGINT) AS mixw FROM qt
           |  UNION ALL SELECT qid, tok, mixw FROM expn),
           |p2 AS (
           |  SELECT t.qid, p.doc_id AS nid,
           |    CAST(SUM(t.mixw * p.w) AS BIGINT) AS score_i
           |  FROM terms t JOIN post p USING (tok) WHERE t.qid <> p.doc_id
           |  GROUP BY 1, 2)
           |SELECT qid, nid, score_i, CAST(row_number() OVER (
           |  PARTITION BY qid ORDER BY score_i DESC, nid) AS INT) AS rank
           |FROM p2 QUALIFY rank <= 5""".stripMargin,

    // bm25 CTEs at queryMod=100 + brute-force dense CTEs, full-outer
    // fused by Σ 10^6 // (60 + rank); absent side contributes 0
    "sim_hybrid_rrf" ->
      raw"""WITH toks AS (
           |  SELECT doc_id, string_split_regex(lower(text), '\s+') AS t
           |  FROM documents),
           |tf AS (
           |  SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS tf FROM (
           |    SELECT doc_id, unnest(
           |      CASE WHEN len(t) >= 2
           |        THEN list_transform(range(len(t) - 1),
           |          i -> t[i+1] || ' ' || t[i+2])
           |        ELSE [array_to_string(t, ' ')] END) AS tok
           |    FROM toks) GROUP BY 1, 2),
           |dl AS (
           |  SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS dl
           |  FROM tf GROUP BY doc_id),
           |stats AS (
           |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
           |    CAST((SUM(dl) * 1000) // COUNT(*) AS BIGINT) AS avg_q
           |  FROM dl),
           |dfreq AS (
           |  SELECT tok,
           |    CAST(LEAST(((n - df) * 1000) // df, 1000000000) AS BIGINT)
           |      AS idf_i
           |  FROM (SELECT tok, CAST(COUNT(*) AS BIGINT) AS df
           |        FROM tf GROUP BY tok) CROSS JOIN stats
           |  WHERE df * 100 <= n * 18),
           |post AS (
           |  SELECT t.doc_id, t.tok,
           |    CAST(f.idf_i * ((22 * s.avg_q * t.tf * 10000) //
           |      (10 * s.avg_q * t.tf + 3 * s.avg_q + 9000 * d.dl))
           |      AS BIGINT) AS w
           |  FROM tf t JOIN dfreq f USING (tok) JOIN dl d USING (doc_id)
           |  CROSS JOIN stats s),
           |bq AS (SELECT doc_id AS qid, tok FROM post WHERE doc_id % 100 = 0),
           |sc AS (
           |  SELECT bq.qid, p.doc_id AS nid, CAST(SUM(p.w) AS BIGINT) AS score_i
           |  FROM bq JOIN post p USING (tok) WHERE bq.qid <> p.doc_id
           |  GROUP BY 1, 2),
           |lex AS (
           |  SELECT qid, nid, CAST(rank AS INT) AS lex_rank FROM (
           |    SELECT qid, nid, row_number() OVER (PARTITION BY qid
           |      ORDER BY score_i DESC, nid) AS rank FROM sc)
           |  WHERE rank <= 5),
           |v AS (
           |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e,
           |    sqrt(list_aggregate(list_transform(CAST(embedding AS DOUBLE[]),
           |      x -> x * x), 'sum')) AS nrm
           |  FROM embeddings),
           |den AS (
           |  SELECT qid, nid, CAST(rank AS INT) AS dense_rank FROM (
           |    SELECT q.vec_id AS qid, c.vec_id AS nid,
           |      row_number() OVER (PARTITION BY q.vec_id ORDER BY
           |        round(list_aggregate(list_transform(range(64),
           |          i -> q.e[i+1] * c.e[i+1]), 'sum') / (q.nrm * c.nrm), 6)
           |        DESC, c.vec_id) AS rank
           |    FROM v q JOIN v c ON q.vec_id % 100 = 0 AND q.vec_id <> c.vec_id)
           |  WHERE rank <= 5)
           |SELECT COALESCE(l.qid, d.qid) AS qid, COALESCE(l.nid, d.nid) AS nid,
           |  l.lex_rank, d.dense_rank,
           |  CAST(COALESCE(1000000 // (60 + l.lex_rank), 0) +
           |       COALESCE(1000000 // (60 + d.dense_rank), 0) AS BIGINT)
           |    AS rrf_micro,
           |  CAST(row_number() OVER (PARTITION BY COALESCE(l.qid, d.qid)
           |    ORDER BY COALESCE(1000000 // (60 + l.lex_rank), 0) +
           |             COALESCE(1000000 // (60 + d.dense_rank), 0) DESC,
           |             COALESCE(l.nid, d.nid)) AS INT) AS rank
           |FROM lex l FULL OUTER JOIN den d
           |  ON l.qid = d.qid AND l.nid = d.nid""".stripMargin,

    "sim_contrastive_pairs" ->
      s"""WITH v AS (
         |  SELECT vec_id AS id, label, $E AS e, $VNorm AS nrm
         |  FROM embeddings),
         |scored AS (
         |  SELECT q.id AS qid, c.id AS nid, c.label AS n_label,
         |    CASE WHEN q.label = c.label THEN 'pos' ELSE 'neg' END
         |      AS pair_type,
         |    round(list_aggregate(list_transform(range(64),
         |      i -> q.e[i+1] * c.e[i+1]), 'sum') / (q.nrm * c.nrm), 6) AS cos
         |  FROM v q JOIN v c ON q.id % 100 = 0 AND q.id <> c.id)
         |SELECT qid, pair_type, nid, n_label, rank, cos FROM (
         |  SELECT *, CAST(row_number() OVER (PARTITION BY qid, pair_type
         |    ORDER BY cos DESC, nid) AS INT) AS rank
         |  FROM scored) WHERE rank <= 5""".stripMargin,

    "sim_mmr_rerank" -> mmrOracle(k = 5, m = 10, lam = 70, queryMod = 100),

    // same bigram tf → hashed buckets → micro-prob ratio table → per-doc
    // weighted sum → md5-draw acceptance; the two wide steps (count·1e6
    // and the u·wmax compare) run in HUGEINT, mirroring decimal(38,0)
    "corpus_dsir_sample" ->
      raw"""WITH toks AS (
           |  SELECT doc_id, string_split_regex(lower(text), '\s+') AS t
           |  FROM documents),
           |tf AS (
           |  SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS tf FROM (
           |    SELECT doc_id, unnest(
           |      CASE WHEN len(t) >= 2
           |        THEN list_transform(range(len(t) - 1),
           |          i -> t[i+1] || ' ' || t[i+2])
           |        ELSE [array_to_string(t, ' ')] END) AS tok
           |    FROM toks) GROUP BY 1, 2),
           |c AS (
           |  SELECT doc_id,
           |    CAST(concat('0x', substr(md5(tok), 1, 15)) AS BIGINT) % 4096
           |      AS b,
           |    CAST(SUM(tf) AS BIGINT) AS c
           |  FROM tf GROUP BY 1, 2),
           |tgt AS (SELECT doc_id FROM documents WHERE lang = 'en'),
           |tb AS (SELECT b, CAST(SUM(c) AS BIGINT) AS t
           |       FROM c JOIN tgt USING (doc_id) GROUP BY b),
           |rb AS (SELECT b, CAST(SUM(c) AS BIGINT) AS r FROM c GROUP BY b),
           |tot AS (SELECT (SELECT CAST(SUM(t) AS BIGINT) FROM tb) AS tt,
           |               (SELECT CAST(SUM(r) AS BIGINT) FROM rb) AS rr),
           |ratio AS (
           |  SELECT rb.b,
           |    ((CAST(CAST(COALESCE(tb.t, 0) AS HUGEINT) * 1000000 // tot.tt
           |        AS BIGINT) + 1) * 1000000)
           |      // (CAST(CAST(rb.r AS HUGEINT) * 1000000 // tot.rr
           |        AS BIGINT) + 1) AS ratio_micro
           |  FROM rb LEFT JOIN tb ON rb.b = tb.b CROSS JOIN tot),
           |w AS (
           |  SELECT c.doc_id, CAST(SUM(c.c) AS BIGINT) AS n_feats,
           |    CAST(SUM(c.c * ratio.ratio_micro) AS BIGINT) AS weight
           |  FROM c JOIN ratio ON c.b = ratio.b GROUP BY 1),
           |wm AS (SELECT MAX(weight) AS wmax FROM w)
           |SELECT doc_id, n_feats, weight, u,
           |  CAST(u AS HUGEINT) * wmax < CAST(weight AS HUGEINT) * 1000000
           |    AS accepted
           |FROM (
           |  SELECT w.*,
           |    CAST(concat('0x', substr(md5('dsir#' ||
           |      CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 1000000 AS u
           |  FROM w) CROSS JOIN wm""".stripMargin,

    "sim_topk_bruteforce" ->
      s"""WITH v AS (
         |  SELECT vec_id AS id, $E AS e, $VNorm AS nrm FROM embeddings),
         |scored AS (
         |  SELECT q.id AS qid, c.id AS nid,
         |    round(list_aggregate(list_transform(range(64),
         |      i -> q.e[i+1] * c.e[i+1]), 'sum') / (q.nrm * c.nrm), 6) AS cos
         |  FROM v q JOIN v c ON q.id % 100 = 0 AND q.id <> c.id)
         |SELECT qid, nid, CAST(rank AS INT) AS rank, cos FROM (
         |  SELECT qid, nid, cos,
         |    row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS rank
         |  FROM scored) WHERE rank <= 10""".stripMargin,

    // LSH top-3 and brute-force top-3 recomputed side by side, then the
    // per-query hit count as an exact micro-ratio (`//` = Spark's DIV)
    "sim_recall_lsh" ->
      s"""WITH v AS (
         |  SELECT vec_id AS id, $E AS e, $VNorm AS nrm, $Bucket AS bucket
         |  FROM embeddings),
         |lsh AS (
         |  SELECT qid, nid FROM (
         |    SELECT q.id AS qid, c.id AS nid,
         |      row_number() OVER (PARTITION BY q.id ORDER BY
         |        round(list_aggregate(list_transform(range(64),
         |          i -> q.e[i+1] * c.e[i+1]), 'sum') / (q.nrm * c.nrm), 6)
         |          DESC, c.id) AS rank
         |    FROM v q JOIN v c
         |      ON q.id % 100 = 0 AND q.id <> c.id AND q.bucket = c.bucket)
         |  WHERE rank <= 3),
         |bf AS (
         |  SELECT qid, nid FROM (
         |    SELECT q.id AS qid, c.id AS nid,
         |      row_number() OVER (PARTITION BY q.id ORDER BY
         |        round(list_aggregate(list_transform(range(64),
         |          i -> q.e[i+1] * c.e[i+1]), 'sum') / (q.nrm * c.nrm), 6)
         |          DESC, c.id) AS rank
         |    FROM v q JOIN v c ON q.id % 100 = 0 AND q.id <> c.id)
         |  WHERE rank <= 3)
         |SELECT qid, n_exact, n_hit, n_hit * 1000000 // n_exact AS recall_micro
         |FROM (
         |  SELECT bf.qid, CAST(COUNT(*) AS BIGINT) AS n_exact,
         |    CAST(SUM(CASE WHEN l.nid IS NOT NULL THEN 1 ELSE 0 END)
         |      AS BIGINT) AS n_hit
         |  FROM bf LEFT JOIN lsh l ON bf.qid = l.qid AND bf.nid = l.nid
         |  GROUP BY bf.qid)""".stripMargin,

    "sim_topk_lsh" ->
      s"""WITH v AS (
         |  SELECT vec_id AS id, $E AS e, $VNorm AS nrm, $Bucket AS bucket
         |  FROM embeddings),
         |scored AS (
         |  SELECT q.id AS qid, q.bucket AS bucket, c.id AS nid,
         |    round(list_aggregate(list_transform(range(64),
         |      i -> q.e[i+1] * c.e[i+1]), 'sum') / (q.nrm * c.nrm), 6) AS cos
         |  FROM v q JOIN v c
         |    ON q.id % 100 = 0 AND q.id <> c.id AND q.bucket = c.bucket)
         |SELECT qid, bucket, nid, CAST(rank AS INT) AS rank, cos FROM (
         |  SELECT qid, bucket, nid, cos,
         |    row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS rank
         |  FROM scored) WHERE rank <= 3""".stripMargin,

    "sim_lsh_bucket_stats" ->
      s"""SELECT $Bucket AS bucket, COUNT(*) AS n
         |FROM embeddings GROUP BY 1""".stripMargin,

    "sim_topk_ivf" ->
      s"""WITH v AS (
         |  SELECT vec_id, $E AS e,
         |    list_transform($E, x -> CAST(round(x * 1000000) AS BIGINT)) AS q,
         |    $VNorm AS nrm
         |  FROM embeddings),
         |seeds AS (SELECT vec_id AS cid, q AS cq FROM v WHERE vec_id < 16),
         |assign AS (
         |  SELECT v.vec_id, v.e, v.nrm, s.cid,
         |    CAST(list_aggregate(list_transform(range(64), i ->
         |      (v.q[i+1] - s.cq[i+1]) * (v.q[i+1] - s.cq[i+1])), 'sum')
         |      AS BIGINT) AS d2
         |  FROM v CROSS JOIN seeds s),
         |cells AS (
         |  SELECT vec_id, e, nrm, cid AS cell FROM (
         |    SELECT *, row_number() OVER (PARTITION BY vec_id
         |      ORDER BY d2, cid) AS rk FROM assign) WHERE rk = 1),
         |scored AS (
         |  SELECT q.vec_id AS qid, q.cell AS cell, c.vec_id AS nid,
         |    round(list_aggregate(list_transform(range(64),
         |      i -> q.e[i+1] * c.e[i+1]), 'sum') / (q.nrm * c.nrm), 6) AS cos
         |  FROM cells q JOIN cells c
         |    ON q.vec_id % 100 = 0 AND q.vec_id <> c.vec_id
         |   AND q.cell = c.cell)
         |SELECT qid, cell, nid, CAST(rank AS INT) AS rank, cos FROM (
         |  SELECT qid, cell, nid, cos,
         |    row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS rank
         |  FROM scored) WHERE rank <= 3""".stripMargin,

    // ivf-probe CTEs for the approx side, brute force for the truth side,
    // the recall-join tail of sim_recall_lsh
    "sim_recall_ivf" ->
      s"""WITH v AS (
         |  SELECT vec_id, $E AS e,
         |    list_transform($E, x -> CAST(round(x * 1000000) AS BIGINT)) AS q,
         |    $VNorm AS nrm
         |  FROM embeddings),
         |seeds AS (SELECT vec_id AS cid, q AS cq FROM v WHERE vec_id < 16),
         |assign AS (
         |  SELECT v.vec_id, v.e, v.nrm, s.cid,
         |    CAST(list_aggregate(list_transform(range(64), i ->
         |      (v.q[i+1] - s.cq[i+1]) * (v.q[i+1] - s.cq[i+1])), 'sum')
         |      AS BIGINT) AS d2
         |  FROM v CROSS JOIN seeds s),
         |ranked AS (
         |  SELECT *, row_number() OVER (PARTITION BY vec_id
         |    ORDER BY d2, cid) AS rk FROM assign),
         |cells AS (
         |  SELECT vec_id, e, nrm, cid AS cell FROM ranked WHERE rk = 1),
         |qcells AS (
         |  SELECT vec_id, e, nrm, cid AS cell FROM ranked
         |  WHERE rk <= 4 AND vec_id % 100 = 0),
         |ivf AS (
         |  SELECT qid, nid FROM (
         |    SELECT q.vec_id AS qid, c.vec_id AS nid,
         |      row_number() OVER (PARTITION BY q.vec_id ORDER BY
         |        round(list_aggregate(list_transform(range(64),
         |          i -> q.e[i+1] * c.e[i+1]), 'sum') / (q.nrm * c.nrm), 6)
         |        DESC, c.vec_id) AS rank
         |    FROM qcells q JOIN cells c
         |      ON q.vec_id <> c.vec_id AND q.cell = c.cell)
         |  WHERE rank <= 3),
         |bf AS (
         |  SELECT qid, nid FROM (
         |    SELECT q.vec_id AS qid, c.vec_id AS nid,
         |      row_number() OVER (PARTITION BY q.vec_id ORDER BY
         |        round(list_aggregate(list_transform(range(64),
         |          i -> q.e[i+1] * c.e[i+1]), 'sum') / (q.nrm * c.nrm), 6)
         |          DESC, c.vec_id) AS rank
         |    FROM v q JOIN v c ON q.vec_id % 100 = 0 AND q.vec_id <> c.vec_id)
         |  WHERE rank <= 3)
         |SELECT qid, n_exact, n_hit, n_hit * 1000000 // n_exact AS recall_micro
         |FROM (
         |  SELECT bf.qid, CAST(COUNT(*) AS BIGINT) AS n_exact,
         |    CAST(SUM(CASE WHEN l.nid IS NOT NULL THEN 1 ELSE 0 END)
         |      AS BIGINT) AS n_hit
         |  FROM bf LEFT JOIN ivf l ON bf.qid = l.qid AND bf.nid = l.nid
         |  GROUP BY bf.qid)""".stripMargin,

    // same assignment CTEs as sim_topk_ivf; queries keep their 4 nearest
    // cells (rk <= 4) before the exact-cosine rerank
    "sim_topk_ivf_probe" ->
      s"""WITH v AS (
         |  SELECT vec_id, $E AS e,
         |    list_transform($E, x -> CAST(round(x * 1000000) AS BIGINT)) AS q,
         |    $VNorm AS nrm
         |  FROM embeddings),
         |seeds AS (SELECT vec_id AS cid, q AS cq FROM v WHERE vec_id < 16),
         |assign AS (
         |  SELECT v.vec_id, v.e, v.nrm, s.cid,
         |    CAST(list_aggregate(list_transform(range(64), i ->
         |      (v.q[i+1] - s.cq[i+1]) * (v.q[i+1] - s.cq[i+1])), 'sum')
         |      AS BIGINT) AS d2
         |  FROM v CROSS JOIN seeds s),
         |ranked AS (
         |  SELECT *, row_number() OVER (PARTITION BY vec_id
         |    ORDER BY d2, cid) AS rk FROM assign),
         |cells AS (
         |  SELECT vec_id, e, nrm, cid AS cell FROM ranked WHERE rk = 1),
         |qcells AS (
         |  SELECT vec_id, e, nrm, cid AS cell FROM ranked
         |  WHERE rk <= 4 AND vec_id % 100 = 0),
         |scored AS (
         |  SELECT q.vec_id AS qid, c.vec_id AS nid,
         |    round(list_aggregate(list_transform(range(64),
         |      i -> q.e[i+1] * c.e[i+1]), 'sum') / (q.nrm * c.nrm), 6) AS cos
         |  FROM qcells q JOIN cells c
         |    ON q.vec_id <> c.vec_id AND q.cell = c.cell)
         |SELECT qid, nid, CAST(rank AS INT) AS rank, cos FROM (
         |  SELECT qid, nid, cos,
         |    row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS rank
         |  FROM scored) WHERE rank <= 3""".stripMargin,

    // same assignment CTEs as sim_topk_ivf_probe, carrying the SQ8 codes;
    // integer-dot shortlist (m=10) within the probed cells, exact rerank
    "sim_ivf_sq8_topk" ->
      s"""WITH v AS (
         |  SELECT vec_id, $E AS e,
         |    list_transform($E, x -> CAST(round(x * 1000000) AS BIGINT)) AS q,
         |    $VNorm AS nrm, ${CodesSql("127")} AS c
         |  FROM embeddings),
         |seeds AS (SELECT vec_id AS cid, q AS cq FROM v WHERE vec_id < 16),
         |assign AS (
         |  SELECT v.vec_id, v.e, v.nrm, v.c, s.cid,
         |    CAST(list_aggregate(list_transform(range(64), i ->
         |      (v.q[i+1] - s.cq[i+1]) * (v.q[i+1] - s.cq[i+1])), 'sum')
         |      AS BIGINT) AS d2
         |  FROM v CROSS JOIN seeds s),
         |ranked AS (
         |  SELECT *, row_number() OVER (PARTITION BY vec_id
         |    ORDER BY d2, cid) AS rk FROM assign),
         |cells AS (
         |  SELECT vec_id, e, nrm, c, cid AS cell FROM ranked WHERE rk = 1),
         |qcells AS (
         |  SELECT vec_id, c, cid AS cell FROM ranked
         |  WHERE rk <= 4 AND vec_id % 100 = 0),
         |sl AS (
         |  SELECT q.vec_id AS qid, cc.vec_id AS nid,
         |    list_aggregate(list_transform(range(64),
         |      i -> q.c[i+1] * cc.c[i+1]), 'sum') AS iscore
         |  FROM qcells q JOIN cells cc
         |    ON q.vec_id <> cc.vec_id AND q.cell = cc.cell),
         |cand AS (
         |  SELECT qid, nid FROM (
         |    SELECT *, row_number() OVER (PARTITION BY qid
         |      ORDER BY iscore DESC, nid) AS pr FROM sl) WHERE pr <= 10)
         |SELECT qid, nid, cos, CAST(rank AS INT) AS rank FROM (
         |  SELECT d.qid, d.nid,
         |    round(list_aggregate(list_transform(range(64),
         |      i -> qv.e[i+1] * cv.e[i+1]), 'sum') / (qv.nrm * cv.nrm), 6)
         |      AS cos,
         |    row_number() OVER (PARTITION BY d.qid ORDER BY
         |      round(list_aggregate(list_transform(range(64),
         |        i -> qv.e[i+1] * cv.e[i+1]), 'sum') / (qv.nrm * cv.nrm), 6)
         |      DESC, d.nid) AS rank
         |  FROM cand d JOIN v qv ON qv.vec_id = d.qid
         |              JOIN v cv ON cv.vec_id = d.nid) WHERE rank <= 3""".stripMargin,

    // pruned-index mirror: corpus cells via the two-level assignment
    // (supers = 4 smallest-id seeds; per-vector 2-super shortlist; exact
    // argmin over shortlisted seeds), query probe stays the exact nprobe=4
    // shortlist over all seeds — every (d2, id) tie-break stated
    "sim_topk_ivf_pruned" ->
      s"""WITH v AS (
         |  SELECT vec_id, $E AS e,
         |    list_transform($E, x -> CAST(round(x * 1000000) AS BIGINT)) AS q,
         |    $VNorm AS nrm
         |  FROM embeddings),
         |seeds AS (SELECT vec_id AS cid, q AS cq FROM v WHERE vec_id < 16),
         |supers AS (SELECT cid AS sid, cq AS sq FROM seeds
         |           ORDER BY cid LIMIT 4),
         |seedsup AS (
         |  SELECT cid, cq, sid FROM (
         |    SELECT s.cid, s.cq, p.sid, row_number() OVER (PARTITION BY s.cid
         |      ORDER BY CAST(list_aggregate(list_transform(range(64), i ->
         |        (s.cq[i+1] - p.sq[i+1]) * (s.cq[i+1] - p.sq[i+1])), 'sum')
         |        AS BIGINT), p.sid) AS rk
         |    FROM seeds s CROSS JOIN supers p) WHERE rk = 1),
         |short AS (
         |  SELECT vec_id, e, q, nrm, sid FROM (
         |    SELECT v.vec_id, v.e, v.q, v.nrm, p.sid, row_number() OVER (
         |      PARTITION BY v.vec_id
         |      ORDER BY CAST(list_aggregate(list_transform(range(64), i ->
         |        (v.q[i+1] - p.sq[i+1]) * (v.q[i+1] - p.sq[i+1])), 'sum')
         |        AS BIGINT), p.sid) AS rk
         |    FROM v CROSS JOIN supers p) WHERE rk <= 2),
         |cells AS (
         |  SELECT vec_id, e, nrm, cid AS cell FROM (
         |    SELECT sh.vec_id, sh.e, sh.nrm, ss.cid, row_number() OVER (
         |      PARTITION BY sh.vec_id
         |      ORDER BY CAST(list_aggregate(list_transform(range(64), i ->
         |        (sh.q[i+1] - ss.cq[i+1]) * (sh.q[i+1] - ss.cq[i+1])), 'sum')
         |        AS BIGINT), ss.cid) AS rk
         |    FROM short sh JOIN seedsup ss ON sh.sid = ss.sid) WHERE rk = 1),
         |qcells AS (
         |  SELECT vec_id, e, nrm, cid AS cell FROM (
         |    SELECT v.vec_id, v.e, v.nrm, s.cid, row_number() OVER (
         |      PARTITION BY v.vec_id
         |      ORDER BY CAST(list_aggregate(list_transform(range(64), i ->
         |        (v.q[i+1] - s.cq[i+1]) * (v.q[i+1] - s.cq[i+1])), 'sum')
         |        AS BIGINT), s.cid) AS rk
         |    FROM v CROSS JOIN seeds s WHERE v.vec_id % 100 = 0)
         |  WHERE rk <= 4),
         |scored AS (
         |  SELECT q.vec_id AS qid, c.vec_id AS nid,
         |    round(list_aggregate(list_transform(range(64),
         |      i -> q.e[i+1] * c.e[i+1]), 'sum') / (q.nrm * c.nrm), 6) AS cos
         |  FROM qcells q JOIN cells c
         |    ON q.vec_id <> c.vec_id AND q.cell = c.cell)
         |SELECT qid, nid, CAST(rank AS INT) AS rank, cos FROM (
         |  SELECT qid, nid, cos,
         |    row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS rank
         |  FROM scored) WHERE rank <= 3""".stripMargin,

    // two unrolled exact-integer Lloyd iterations (assign = integer-d2
    // argmin, update = floor(sum/n) back onto the 1e6 grid, empty cells
    // keep the previous centroid), then the sim_topk_ivf tail over the
    // trained cells
    "sim_topk_ivf_trained" ->
      s"""WITH v AS (
         |  SELECT vec_id, $E AS e,
         |    list_transform($E, x -> CAST(round(x * 1000000) AS BIGINT)) AS q,
         |    $VNorm AS nrm
         |  FROM embeddings),
         |c0 AS (
         |  SELECT cid, cq FROM (
         |    SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT)
         |      AS cid, q AS cq FROM v) WHERE cid < 16),
         |a1 AS (
         |  SELECT id, cluster FROM (
         |    SELECT v.vec_id AS id, c.cid AS cluster, row_number() OVER (
         |      PARTITION BY v.vec_id ORDER BY
         |        CAST(list_aggregate(list_transform(range(64), i ->
         |          (v.q[i+1] - c.cq[i+1]) * (v.q[i+1] - c.cq[i+1])), 'sum')
         |          AS BIGINT), c.cid) AS rk
         |    FROM v CROSS JOIN c0 c) WHERE rk = 1),
         |n1 AS (
         |  SELECT cluster AS cid, dim,
         |    CAST(floor(CAST(SUM(x) AS DOUBLE) / COUNT(*)) AS BIGINT) AS cx
         |  FROM (
         |    SELECT a.cluster, CAST(unnest(range(64)) AS INT) AS dim,
         |      unnest(v.q) AS x
         |    FROM a1 a JOIN v ON v.vec_id = a.id)
         |  GROUP BY cluster, dim),
         |c1 AS (
         |  SELECT c0.cid,
         |    CASE WHEN COUNT(n1.cx) = 0 THEN first(c0.cq)
         |         ELSE list(n1.cx ORDER BY n1.dim) END AS cq
         |  FROM c0 LEFT JOIN n1 ON n1.cid = c0.cid
         |  GROUP BY c0.cid),
         |a2 AS (
         |  SELECT id, cluster FROM (
         |    SELECT v.vec_id AS id, c.cid AS cluster, row_number() OVER (
         |      PARTITION BY v.vec_id ORDER BY
         |        CAST(list_aggregate(list_transform(range(64), i ->
         |          (v.q[i+1] - c.cq[i+1]) * (v.q[i+1] - c.cq[i+1])), 'sum')
         |          AS BIGINT), c.cid) AS rk
         |    FROM v CROSS JOIN c1 c) WHERE rk = 1),
         |n2 AS (
         |  SELECT cluster AS cid, dim,
         |    CAST(floor(CAST(SUM(x) AS DOUBLE) / COUNT(*)) AS BIGINT) AS cx
         |  FROM (
         |    SELECT a.cluster, CAST(unnest(range(64)) AS INT) AS dim,
         |      unnest(v.q) AS x
         |    FROM a2 a JOIN v ON v.vec_id = a.id)
         |  GROUP BY cluster, dim),
         |c2 AS (
         |  SELECT c1.cid,
         |    CASE WHEN COUNT(n2.cx) = 0 THEN first(c1.cq)
         |         ELSE list(n2.cx ORDER BY n2.dim) END AS cq
         |  FROM c1 LEFT JOIN n2 ON n2.cid = c1.cid
         |  GROUP BY c1.cid),
         |cells AS (
         |  SELECT vec_id, e, nrm, cid AS cell FROM (
         |    SELECT v.vec_id, v.e, v.nrm, c.cid, row_number() OVER (
         |      PARTITION BY v.vec_id ORDER BY
         |        CAST(list_aggregate(list_transform(range(64), i ->
         |          (v.q[i+1] - c.cq[i+1]) * (v.q[i+1] - c.cq[i+1])), 'sum')
         |          AS BIGINT), c.cid) AS rk
         |    FROM v CROSS JOIN c2 c) WHERE rk = 1),
         |scored AS (
         |  SELECT q.vec_id AS qid, q.cell AS cell, c.vec_id AS nid,
         |    round(list_aggregate(list_transform(range(64),
         |      i -> q.e[i+1] * c.e[i+1]), 'sum') / (q.nrm * c.nrm), 6) AS cos
         |  FROM cells q JOIN cells c
         |    ON q.vec_id % 100 = 0 AND q.vec_id <> c.vec_id
         |   AND q.cell = c.cell)
         |SELECT qid, cell, nid, CAST(rank AS INT) AS rank, cos FROM (
         |  SELECT qid, cell, nid, cos,
         |    row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS rank
         |  FROM scored) WHERE rank <= 3""".stripMargin,

    // T=1 Lloyd over the STORED side only (lowest-16 stored ids seed,
    // renumbered 0..15), both sides placed by integer-d2 argmin against
    // the trained cells, exact-integer 2x-mean split rule
    "sim_ivf_incremental" ->
      s"""WITH v AS (
         |  SELECT vec_id,
         |    list_transform($E, x -> CAST(round(x * 1000000) AS BIGINT)) AS q
         |  FROM embeddings),
         |st AS (SELECT * FROM v WHERE vec_id % 10 <> 0),
         |bt AS (SELECT * FROM v WHERE vec_id % 10 = 0),
         |c0 AS (
         |  SELECT cid, cq FROM (
         |    SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT)
         |      AS cid, q AS cq FROM st) WHERE cid < 16),
         |a1 AS (
         |  SELECT id, cluster FROM (
         |    SELECT s.vec_id AS id, c.cid AS cluster, row_number() OVER (
         |      PARTITION BY s.vec_id ORDER BY
         |        CAST(list_aggregate(list_transform(range(64), i ->
         |          (s.q[i+1] - c.cq[i+1]) * (s.q[i+1] - c.cq[i+1])), 'sum')
         |          AS BIGINT), c.cid) AS rk
         |    FROM st s CROSS JOIN c0 c) WHERE rk = 1),
         |n1 AS (
         |  SELECT cluster AS cid, dim,
         |    CAST(floor(CAST(SUM(x) AS DOUBLE) / COUNT(*)) AS BIGINT) AS cx
         |  FROM (
         |    SELECT a.cluster, CAST(unnest(range(64)) AS INT) AS dim,
         |      unnest(s.q) AS x
         |    FROM a1 a JOIN st s ON s.vec_id = a.id)
         |  GROUP BY cluster, dim),
         |c1 AS (
         |  SELECT c0.cid,
         |    CASE WHEN COUNT(n1.cx) = 0 THEN first(c0.cq)
         |         ELSE list(n1.cx ORDER BY n1.dim) END AS cq
         |  FROM c0 LEFT JOIN n1 ON n1.cid = c0.cid
         |  GROUP BY c0.cid),
         |sa AS (
         |  SELECT vec_id, cell FROM (
         |    SELECT s.vec_id, c.cid AS cell, row_number() OVER (
         |      PARTITION BY s.vec_id ORDER BY
         |        CAST(list_aggregate(list_transform(range(64), i ->
         |          (s.q[i+1] - c.cq[i+1]) * (s.q[i+1] - c.cq[i+1])), 'sum')
         |          AS BIGINT), c.cid) AS rk
         |    FROM st s CROSS JOIN c1 c) WHERE rk = 1),
         |ba AS (
         |  SELECT vec_id, cell FROM (
         |    SELECT b.vec_id, c.cid AS cell, row_number() OVER (
         |      PARTITION BY b.vec_id ORDER BY
         |        CAST(list_aggregate(list_transform(range(64), i ->
         |          (b.q[i+1] - c.cq[i+1]) * (b.q[i+1] - c.cq[i+1])), 'sum')
         |          AS BIGINT), c.cid) AS rk
         |    FROM bt b CROSS JOIN c1 c) WHERE rk = 1),
         |sc AS (SELECT cell, CAST(COUNT(*) AS BIGINT) AS stored_n
         |       FROM sa GROUP BY cell),
         |bc AS (SELECT cell, CAST(COUNT(*) AS BIGINT) AS batch_n
         |       FROM ba GROUP BY cell),
         |cs AS (
         |  SELECT COALESCE(sc.cell, bc.cell) AS cell,
         |    COALESCE(stored_n, 0) AS stored_n,
         |    COALESCE(batch_n, 0) AS batch_n
         |  FROM sc FULL OUTER JOIN bc ON sc.cell = bc.cell),
         |tot AS (SELECT CAST(SUM(stored_n + batch_n) AS BIGINT) AS t FROM cs)
         |SELECT ba.vec_id, ba.cell, cs.stored_n, cs.batch_n,
         |  (cs.stored_n + cs.batch_n) * 16 > 2 * tot.t AS needs_split
         |FROM ba JOIN cs ON cs.cell = ba.cell, tot""".stripMargin,

    // the split executor: seeded assignment + 115%-of-mean flags (exact
    // integers: n·cells·100 > 115·total), then each flagged cell
    // re-sharded by an in-cell 2-means (sub-seeds = two smallest member
    // ids, one floor-mean Lloyd round, empty subs keep their seed), final
    // placement against the updated sub-centroids; new_cell = 2c
    // (unflagged / sub 0) or 2c+1 (sub 1)
    "sim_ivf_split" ->
      s"""WITH v AS (
         |  SELECT vec_id,
         |    list_transform($E, x -> CAST(round(x * 1000000) AS BIGINT)) AS q
         |  FROM embeddings),
         |seeds AS (SELECT vec_id AS cid, q AS cq FROM v WHERE vec_id < 16),
         |cells AS (
         |  SELECT vec_id, q, cid AS cell FROM (
         |    SELECT v.vec_id, v.q, s.cid, row_number() OVER (
         |      PARTITION BY v.vec_id ORDER BY
         |        CAST(list_aggregate(list_transform(range(64), i ->
         |          (v.q[i+1] - s.cq[i+1]) * (v.q[i+1] - s.cq[i+1])), 'sum')
         |          AS BIGINT), s.cid) AS rk
         |    FROM v CROSS JOIN seeds s) WHERE rk = 1),
         |cn AS (SELECT cell, CAST(COUNT(*) AS BIGINT) AS cell_n
         |       FROM cells GROUP BY cell),
         |tot AS (SELECT CAST(SUM(cell_n) AS BIGINT) AS t FROM cn),
         |st AS (SELECT cn.cell, cn.cell_n * 16 * 100 > 115 * tot.t
         |         AS needs_split
         |       FROM cn, tot),
         |fm AS (
         |  SELECT c.vec_id, c.cell, c.q FROM cells c
         |  JOIN st ON st.cell = c.cell AND st.needs_split),
         |s0 AS (
         |  SELECT cell, CAST(rn - 1 AS BIGINT) AS sub, q AS sq FROM (
         |    SELECT cell, vec_id, q, row_number() OVER (
         |      PARTITION BY cell ORDER BY vec_id) AS rn
         |    FROM fm) WHERE rn <= 2),
         |a1 AS (
         |  SELECT vec_id, cell, sub FROM (
         |    SELECT f.vec_id, f.cell, s.sub, row_number() OVER (
         |      PARTITION BY f.vec_id ORDER BY
         |        CAST(list_aggregate(list_transform(range(64), i ->
         |          (f.q[i+1] - s.sq[i+1]) * (f.q[i+1] - s.sq[i+1])), 'sum')
         |          AS BIGINT), s.sub) AS rk
         |    FROM fm f JOIN s0 s ON s.cell = f.cell) WHERE rk = 1),
         |u1 AS (
         |  SELECT cell, sub, dim,
         |    CAST(floor(CAST(SUM(x) AS DOUBLE) / COUNT(*)) AS BIGINT) AS cx
         |  FROM (
         |    SELECT a.cell, a.sub, CAST(unnest(range(64)) AS INT) AS dim,
         |      unnest(f.q) AS x
         |    FROM a1 a JOIN fm f ON f.vec_id = a.vec_id)
         |  GROUP BY cell, sub, dim),
         |s1 AS (
         |  SELECT s0.cell, s0.sub,
         |    CASE WHEN COUNT(u1.cx) = 0 THEN first(s0.sq)
         |         ELSE list(u1.cx ORDER BY u1.dim) END AS sq
         |  FROM s0 LEFT JOIN u1 ON u1.cell = s0.cell AND u1.sub = s0.sub
         |  GROUP BY s0.cell, s0.sub),
         |fa AS (
         |  SELECT vec_id, cell, sub FROM (
         |    SELECT f.vec_id, f.cell, s.sub, row_number() OVER (
         |      PARTITION BY f.vec_id ORDER BY
         |        CAST(list_aggregate(list_transform(range(64), i ->
         |          (f.q[i+1] - s.sq[i+1]) * (f.q[i+1] - s.sq[i+1])), 'sum')
         |          AS BIGINT), s.sub) AS rk
         |    FROM fm f JOIN s1 s ON s.cell = f.cell) WHERE rk = 1)
         |SELECT c.vec_id, c.cell, st.needs_split,
         |  CAST(COALESCE(c.cell * 2 + fa.sub, c.cell * 2) AS BIGINT)
         |    AS new_cell
         |FROM cells c JOIN st ON st.cell = c.cell
         |LEFT JOIN fa ON fa.vec_id = c.vec_id""".stripMargin,

    // end-of-replay occupancy = the batch seeded assignment's cell counts
    // (the stream is 4 deterministic quarters of the same corpus)
    "stream_ivf_ingest" ->
      s"""WITH v AS (
         |  SELECT vec_id,
         |    list_transform($E, x -> CAST(round(x * 1000000) AS BIGINT)) AS q
         |  FROM embeddings),
         |seeds AS (SELECT vec_id AS cid, q AS cq FROM v WHERE vec_id < 16),
         |cells AS (
         |  SELECT vec_id, cid AS cell FROM (
         |    SELECT v.vec_id, s.cid, row_number() OVER (
         |      PARTITION BY v.vec_id ORDER BY
         |        CAST(list_aggregate(list_transform(range(64), i ->
         |          (v.q[i+1] - s.cq[i+1]) * (v.q[i+1] - s.cq[i+1])), 'sum')
         |          AS BIGINT), s.cid) AS rk
         |    FROM v CROSS JOIN seeds s) WHERE rk = 1)
         |SELECT cell, CAST(COUNT(*) AS BIGINT) AS n
         |FROM cells GROUP BY cell""".stripMargin,

    // epoch swap: quarters 0-1 (vec_id % 4 in (0,1)) under the seeded
    // assignment, quarters 2-3 under the post-split centroid table `newc`
    // — each epoch's occupancy is the batch assignment of its own half
    "stream_ivf_ingest_epoch" ->
      s"""$PostSplitCentsSql,
         |e0 AS (
         |  SELECT 0 AS epoch, cell, CAST(COUNT(*) AS BIGINT) AS n
         |  FROM cells WHERE vec_id % 4 IN (0, 1) GROUP BY cell),
         |e1 AS (
         |  SELECT 1 AS epoch, cell, CAST(COUNT(*) AS BIGINT) AS n FROM (
         |    SELECT vec_id, cid AS cell FROM (
         |      SELECT vv.vec_id, c.cid, row_number() OVER (
         |        PARTITION BY vv.vec_id ORDER BY
         |          CAST(list_aggregate(list_transform(range(64), i ->
         |            (vv.q[i+1] - c.cq[i+1]) * (vv.q[i+1] - c.cq[i+1])), 'sum')
         |            AS BIGINT), c.cid) AS rk
         |      FROM v vv CROSS JOIN newc c WHERE vv.vec_id % 4 IN (2, 3))
         |    WHERE rk = 1)
         |  GROUP BY cell)
         |SELECT CAST(epoch AS INT) AS epoch, CAST(cell AS BIGINT) AS cell, n
         |FROM (SELECT * FROM e0 UNION ALL SELECT * FROM e1)""".stripMargin,

    // the lake apply's id scheme: sub 0 keeps the old cell id, sub 1 gets
    // old + 16 (id stability — unflagged partitions never rewrite);
    // same seeded-assign + 115% flags + 1-iter 2-means chain
    "sim_ivf_lake_split" ->
      s"""$SplitChainSql
         |SELECT c.vec_id,
         |  CAST(CASE WHEN fa.sub IS NULL THEN c.cell
         |            WHEN fa.sub = 0 THEN c.cell
         |            ELSE c.cell + 16 END AS BIGINT) AS cell
         |FROM cells c LEFT JOIN fa ON fa.vec_id = c.vec_id""".stripMargin,

    // the post-split probe: query routes by argmin over the post-split
    // centroid table (unflagged original seeds + per-split-cell exact
    // floor-means of final members), candidates are the routed cell's
    // stored content, exact-cosine top-3
    "sim_topk_ivf_lake_split" ->
      s"""$PostSplitCentsSql,
         |qa AS (
         |  SELECT vec_id AS qid, cell FROM (
         |    SELECT vv.vec_id, c.cid AS cell, row_number() OVER (
         |      PARTITION BY vv.vec_id ORDER BY
         |        CAST(list_aggregate(list_transform(range(64), i ->
         |          (vv.q[i+1] - c.cq[i+1]) * (vv.q[i+1] - c.cq[i+1])), 'sum')
         |          AS BIGINT), c.cid) AS rk
         |    FROM v vv CROSS JOIN newc c WHERE vv.vec_id % 100 = 0)
         |  WHERE rk = 1),
         |pscored AS (
         |  SELECT qa.qid, CAST(ct.cell AS BIGINT) AS cell,
         |    ct.vec_id AS nid,
         |    round(list_aggregate(list_transform(range(64),
         |      i -> qv.e[i+1] * cv.e[i+1]), 'sum') / (qv.nrm * cv.nrm), 6)
         |      AS cos
         |  FROM qa JOIN content ct
         |    ON ct.cell = qa.cell AND ct.vec_id <> qa.qid
         |  JOIN v qv ON qv.vec_id = qa.qid
         |  JOIN v cv ON cv.vec_id = ct.vec_id)
         |SELECT qid, cell, nid, CAST(rank AS INT) AS rank, cos FROM (
         |  SELECT *, row_number() OVER (PARTITION BY qid
         |    ORDER BY cos DESC, nid) AS rank FROM pscored)
         |WHERE rank <= 3""".stripMargin,

    // pruned-assigner CTEs as sim_topk_ivf_pruned; candidate shortlist by
    // 16-dim projected cosine (the sim_topk_projected sign matrix) WITHIN
    // the probed cells, exact rerank tail
    "sim_topk_ivf_projected" ->
      s"""WITH v AS (
         |  SELECT vec_id, $E AS e, $VNorm AS nrm,
         |    list_transform($E, x -> CAST(round(x * 1000000) AS BIGINT)) AS q
         |  FROM embeddings),
         |p AS (
         |  SELECT vec_id, e, nrm, q, list_transform(range(16), j ->
         |    list_aggregate(list_transform(range(64), i ->
         |      CASE WHEN strpos('02468ace',
         |          substr(md5(CAST(i AS VARCHAR) || '-' || CAST(j AS VARCHAR)),
         |            1, 1)) > 0
         |        THEN q[i+1] ELSE -q[i+1] END), 'sum')) AS pv
         |  FROM v),
         |seeds AS (SELECT vec_id AS cid, q AS cq FROM v WHERE vec_id < 16),
         |supers AS (SELECT cid AS sid, cq AS sq FROM seeds
         |           ORDER BY cid LIMIT 4),
         |seedsup AS (
         |  SELECT cid, cq, sid FROM (
         |    SELECT s.cid, s.cq, sp.sid, row_number() OVER (PARTITION BY s.cid
         |      ORDER BY CAST(list_aggregate(list_transform(range(64), i ->
         |        (s.cq[i+1] - sp.sq[i+1]) * (s.cq[i+1] - sp.sq[i+1])), 'sum')
         |        AS BIGINT), sp.sid) AS rk
         |    FROM seeds s CROSS JOIN supers sp) WHERE rk = 1),
         |short AS (
         |  SELECT vec_id, q, sid FROM (
         |    SELECT v.vec_id, v.q, sp.sid, row_number() OVER (
         |      PARTITION BY v.vec_id
         |      ORDER BY CAST(list_aggregate(list_transform(range(64), i ->
         |        (v.q[i+1] - sp.sq[i+1]) * (v.q[i+1] - sp.sq[i+1])), 'sum')
         |        AS BIGINT), sp.sid) AS rk
         |    FROM v CROSS JOIN supers sp) WHERE rk <= 2),
         |cells AS (
         |  SELECT vec_id, cid AS cell FROM (
         |    SELECT sh.vec_id, ss.cid, row_number() OVER (
         |      PARTITION BY sh.vec_id
         |      ORDER BY CAST(list_aggregate(list_transform(range(64), i ->
         |        (sh.q[i+1] - ss.cq[i+1]) * (sh.q[i+1] - ss.cq[i+1])), 'sum')
         |        AS BIGINT), ss.cid) AS rk
         |    FROM short sh JOIN seedsup ss ON sh.sid = ss.sid) WHERE rk = 1),
         |qcells AS (
         |  SELECT vec_id, cid AS cell FROM (
         |    SELECT v.vec_id, s.cid, row_number() OVER (
         |      PARTITION BY v.vec_id
         |      ORDER BY CAST(list_aggregate(list_transform(range(64), i ->
         |        (v.q[i+1] - s.cq[i+1]) * (v.q[i+1] - s.cq[i+1])), 'sum')
         |        AS BIGINT), s.cid) AS rk
         |    FROM v CROSS JOIN seeds s WHERE v.vec_id % 100 = 0)
         |  WHERE rk <= 4),
         |pscored AS (
         |  SELECT qc.vec_id AS qid, cc.vec_id AS nid,
         |    round(CAST(list_aggregate(list_transform(range(16),
         |        i -> qp.pv[i+1] * cp.pv[i+1]), 'sum') AS DOUBLE) /
         |      (sqrt(CAST(list_aggregate(list_transform(range(16),
         |        i -> qp.pv[i+1] * qp.pv[i+1]), 'sum') AS DOUBLE)) *
         |       sqrt(CAST(list_aggregate(list_transform(range(16),
         |        i -> cp.pv[i+1] * cp.pv[i+1]), 'sum') AS DOUBLE))), 6) AS pcos
         |  FROM qcells qc JOIN cells cc ON qc.cell = cc.cell
         |    AND qc.vec_id <> cc.vec_id
         |  JOIN p qp ON qp.vec_id = qc.vec_id
         |  JOIN p cp ON cp.vec_id = cc.vec_id),
         |cand AS (
         |  SELECT qid, nid FROM (
         |    SELECT *, row_number() OVER (PARTITION BY qid
         |      ORDER BY pcos DESC, nid) AS prank FROM pscored)
         |  WHERE prank <= 10)
         |SELECT qid, nid, cos, CAST(rank AS INT) AS rank FROM (
         |  SELECT cand.qid, cand.nid,
         |    round(list_aggregate(list_transform(range(64),
         |      i -> qv.e[i+1] * cv.e[i+1]), 'sum') / (qv.nrm * cv.nrm), 6)
         |      AS cos,
         |    row_number() OVER (PARTITION BY cand.qid ORDER BY
         |      round(list_aggregate(list_transform(range(64),
         |        i -> qv.e[i+1] * cv.e[i+1]), 'sum') / (qv.nrm * cv.nrm), 6)
         |        DESC, cand.nid) AS rank
         |  FROM cand JOIN v qv ON qv.vec_id = cand.qid
         |    JOIN v cv ON cv.vec_id = cand.nid) WHERE rank <= 3""".stripMargin,

    // probe CTEs as in sim_topk_ivf_probe, label carried through the
    // assignment; the even-label predicate cuts candidates BEFORE the
    // per-query rank (pre-filter semantics)
    "sim_topk_ivf_filtered" ->
      s"""WITH v AS (
         |  SELECT vec_id, label, $E AS e,
         |    list_transform($E, x -> CAST(round(x * 1000000) AS BIGINT)) AS q,
         |    $VNorm AS nrm
         |  FROM embeddings),
         |seeds AS (SELECT vec_id AS cid, q AS cq FROM v WHERE vec_id < 16),
         |assign AS (
         |  SELECT v.vec_id, v.label, v.e, v.nrm, s.cid,
         |    CAST(list_aggregate(list_transform(range(64), i ->
         |      (v.q[i+1] - s.cq[i+1]) * (v.q[i+1] - s.cq[i+1])), 'sum')
         |      AS BIGINT) AS d2
         |  FROM v CROSS JOIN seeds s),
         |ranked AS (
         |  SELECT *, row_number() OVER (PARTITION BY vec_id
         |    ORDER BY d2, cid) AS rk FROM assign),
         |cells AS (
         |  SELECT vec_id, label, e, nrm, cid AS cell FROM ranked
         |  WHERE rk = 1 AND label % 2 = 0),
         |qcells AS (
         |  SELECT vec_id, e, nrm, cid AS cell FROM ranked
         |  WHERE rk <= 4 AND vec_id % 100 = 0),
         |scored AS (
         |  SELECT q.vec_id AS qid, c.vec_id AS nid, c.label,
         |    round(list_aggregate(list_transform(range(64),
         |      i -> q.e[i+1] * c.e[i+1]), 'sum') / (q.nrm * c.nrm), 6) AS cos
         |  FROM qcells q JOIN cells c
         |    ON q.vec_id <> c.vec_id AND q.cell = c.cell)
         |SELECT qid, nid, label, CAST(rank AS INT) AS rank, cos FROM (
         |  SELECT qid, nid, label, cos,
         |    row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS rank
         |  FROM scored) WHERE rank <= 3""".stripMargin,

    // assignment CTEs as in dedup_semantic; the per-cell survivor lottery
    // is a row_number over (md5(id), id) — deterministic on any engine
    "corpus_cluster_balance" ->
      s"""WITH v AS (
         |  SELECT vec_id,
         |    list_transform($E, x -> CAST(round(x * 1000000) AS BIGINT)) AS q
         |  FROM embeddings),
         |seeds AS (SELECT vec_id AS cid, q AS cq FROM v WHERE vec_id < 16),
         |assign AS (
         |  SELECT v.vec_id, s.cid,
         |    CAST(list_aggregate(list_transform(range(64), i ->
         |      (v.q[i+1] - s.cq[i+1]) * (v.q[i+1] - s.cq[i+1])), 'sum')
         |      AS BIGINT) AS d2
         |  FROM v CROSS JOIN seeds s),
         |cells AS (
         |  SELECT vec_id, cid AS cell FROM (
         |    SELECT *, row_number() OVER (PARTITION BY vec_id
         |      ORDER BY d2, cid) AS rk FROM assign) WHERE rk = 1)
         |SELECT vec_id, cell, (rn <= 25) AS kept FROM (
         |  SELECT vec_id, cell, row_number() OVER (PARTITION BY cell
         |    ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rn
         |  FROM cells)""".stripMargin,

    "sim_label_centroid" ->
      s"""WITH q AS (
         |  SELECT label,
         |    CAST(unnest(range(64)) AS INT) AS dim,
         |    unnest(list_transform($E, x -> CAST(round(x * 1000000) AS BIGINT)))
         |      AS x
         |  FROM embeddings)
         |SELECT label, dim,
         |  round(CAST(SUM(x) AS DOUBLE) / COUNT(*) / 1000000.0, 6) AS centroid
         |FROM q GROUP BY label, dim""".stripMargin,

    // sign(i,j) = +1 iff the first md5 hex digit of "i-j" is even (bit 0
    // of the byte's high nibble — the Spark side tests (h(0)>>4)&1)
    "sim_random_projection" ->
      s"""WITH v AS (
         |  SELECT vec_id,
         |    list_transform($E, x -> CAST(round(x * 1000000) AS BIGINT)) AS q
         |  FROM embeddings)
         |SELECT vec_id, array_to_string(list_transform(range(16), j ->
         |  list_aggregate(list_transform(range(64), i ->
         |    CASE WHEN strpos('02468ace',
         |        substr(md5(CAST(i AS VARCHAR) || '-' || CAST(j AS VARCHAR)),
         |          1, 1)) > 0
         |      THEN q[i+1] ELSE -q[i+1] END), 'sum')), ',') AS pvec
         |FROM v""".stripMargin,

    // projection CTE as sim_random_projection (arrays, not strings);
    // top-m by rounded projected cosine, exact rerank to top-k
    "sim_topk_projected" ->
      s"""WITH v AS (
         |  SELECT vec_id, $E AS e, $VNorm AS nrm,
         |    list_transform($E, x -> CAST(round(x * 1000000) AS BIGINT)) AS q
         |  FROM embeddings),
         |p AS (
         |  SELECT vec_id, e, nrm, list_transform(range(16), j ->
         |    list_aggregate(list_transform(range(64), i ->
         |      CASE WHEN strpos('02468ace',
         |          substr(md5(CAST(i AS VARCHAR) || '-' || CAST(j AS VARCHAR)),
         |            1, 1)) > 0
         |        THEN q[i+1] ELSE -q[i+1] END), 'sum')) AS pv
         |  FROM v),
         |scored AS (
         |  SELECT qs.vec_id AS qid, c.vec_id AS nid, qs.e AS qe,
         |    qs.nrm AS qn, c.e AS ce, c.nrm AS cn,
         |    round(CAST(list_aggregate(list_transform(range(16),
         |        i -> qs.pv[i+1] * c.pv[i+1]), 'sum') AS DOUBLE) /
         |      (sqrt(CAST(list_aggregate(list_transform(range(16),
         |        i -> qs.pv[i+1] * qs.pv[i+1]), 'sum') AS DOUBLE)) *
         |       sqrt(CAST(list_aggregate(list_transform(range(16),
         |        i -> c.pv[i+1] * c.pv[i+1]), 'sum') AS DOUBLE))), 6) AS pcos
         |  FROM p qs JOIN p c
         |    ON qs.vec_id % 100 = 0 AND qs.vec_id <> c.vec_id),
         |cand AS (
         |  SELECT qid, nid, qe, qn, ce, cn FROM (
         |    SELECT *, row_number() OVER (PARTITION BY qid
         |      ORDER BY pcos DESC, nid) AS prank FROM scored)
         |  WHERE prank <= 10)
         |SELECT qid, nid, cos, CAST(rank AS INT) AS rank FROM (
         |  SELECT qid, nid,
         |    round(list_aggregate(list_transform(range(64),
         |      i -> qe[i+1] * ce[i+1]), 'sum') / (qn * cn), 6) AS cos,
         |    row_number() OVER (PARTITION BY qid ORDER BY
         |      round(list_aggregate(list_transform(range(64),
         |        i -> qe[i+1] * ce[i+1]), 'sum') / (qn * cn), 6) DESC, nid)
         |      AS rank
         |  FROM cand) WHERE rank <= 3""".stripMargin,

    // prefix slice of the quantized vector as the shortlist space; same
    // shortlist/rerank tail as sim_topk_projected
    "sim_topk_prefix" ->
      s"""WITH v AS (
         |  SELECT vec_id, $E AS e, $VNorm AS nrm,
         |    list_transform($E, x -> CAST(round(x * 1000000) AS BIGINT)) AS q
         |  FROM embeddings),
         |p AS (
         |  SELECT vec_id, e, nrm,
         |    list_transform(range(16), i -> q[i+1]) AS pv
         |  FROM v),
         |scored AS (
         |  SELECT qs.vec_id AS qid, c.vec_id AS nid, qs.e AS qe,
         |    qs.nrm AS qn, c.e AS ce, c.nrm AS cn,
         |    round(CAST(list_aggregate(list_transform(range(16),
         |        i -> qs.pv[i+1] * c.pv[i+1]), 'sum') AS DOUBLE) /
         |      (sqrt(CAST(list_aggregate(list_transform(range(16),
         |        i -> qs.pv[i+1] * qs.pv[i+1]), 'sum') AS DOUBLE)) *
         |       sqrt(CAST(list_aggregate(list_transform(range(16),
         |        i -> c.pv[i+1] * c.pv[i+1]), 'sum') AS DOUBLE))), 6) AS pcos
         |  FROM p qs JOIN p c
         |    ON qs.vec_id % 100 = 0 AND qs.vec_id <> c.vec_id),
         |cand AS (
         |  SELECT qid, nid, qe, qn, ce, cn FROM (
         |    SELECT *, row_number() OVER (PARTITION BY qid
         |      ORDER BY pcos DESC, nid) AS prank FROM scored)
         |  WHERE prank <= 10)
         |SELECT qid, nid, cos, CAST(rank AS INT) AS rank FROM (
         |  SELECT qid, nid,
         |    round(list_aggregate(list_transform(range(64),
         |      i -> qe[i+1] * ce[i+1]), 'sum') / (qn * cn), 6) AS cos,
         |    row_number() OVER (PARTITION BY qid ORDER BY
         |      round(list_aggregate(list_transform(range(64),
         |        i -> qe[i+1] * ce[i+1]), 'sum') / (qn * cn), 6) DESC, nid)
         |      AS rank
         |  FROM cand) WHERE rank <= 3""".stripMargin,

    // LSH-bucket-blocked candidates, label inequality BEFORE the rank
    // (pre-filter), exact cosine rank per anchor
    "sim_hard_negatives" ->
      s"""WITH v AS (
         |  SELECT vec_id, label, $E AS e, $VNorm AS nrm, $Bucket AS b
         |  FROM embeddings)
         |SELECT qid, anchor_label, nid, neg_label, cos,
         |  CAST(rank AS INT) AS rank FROM (
         |  SELECT q.vec_id AS qid, q.label AS anchor_label,
         |    c.vec_id AS nid, c.label AS neg_label,
         |    round(list_aggregate(list_transform(range(64),
         |      i -> q.e[i+1] * c.e[i+1]), 'sum') / (q.nrm * c.nrm), 6) AS cos,
         |    row_number() OVER (PARTITION BY q.vec_id ORDER BY
         |      round(list_aggregate(list_transform(range(64),
         |        i -> q.e[i+1] * c.e[i+1]), 'sum') / (q.nrm * c.nrm), 6)
         |        DESC, c.vec_id) AS rank
         |  FROM v q JOIN v c ON q.vec_id % 100 = 0 AND q.vec_id <> c.vec_id
         |    AND q.b = c.b AND q.label <> c.label)
         |WHERE rank <= 3""".stripMargin,

    // SQ8 shortlist (integer code dots, floor grid), exact rerank — same
    // rerank tail as sim_topk_projected
    "sim_sq8_topk" ->
      s"""WITH v AS (
         |  SELECT vec_id, $E AS e, $VNorm AS nrm,
         |    ${CodesSql("127")} AS c
         |  FROM embeddings),
         |scored AS (
         |  SELECT q.vec_id AS qid, c.vec_id AS nid, q.e AS qe, q.nrm AS qn,
         |    c.e AS ce, c.nrm AS cn,
         |    list_aggregate(list_transform(range(64),
         |      i -> q.c[i+1] * c.c[i+1]), 'sum') AS iscore
         |  FROM v q JOIN v c ON q.vec_id % 100 = 0 AND q.vec_id <> c.vec_id),
         |cand AS (
         |  SELECT qid, nid, qe, qn, ce, cn FROM (
         |    SELECT *, row_number() OVER (PARTITION BY qid
         |      ORDER BY iscore DESC, nid) AS prank FROM scored)
         |  WHERE prank <= 10)
         |SELECT qid, nid, cos, CAST(rank AS INT) AS rank FROM (
         |  SELECT qid, nid,
         |    round(list_aggregate(list_transform(range(64),
         |      i -> qe[i+1] * ce[i+1]), 'sum') / (qn * cn), 6) AS cos,
         |    row_number() OVER (PARTITION BY qid ORDER BY
         |      round(list_aggregate(list_transform(range(64),
         |        i -> qe[i+1] * ce[i+1]), 'sum') / (qn * cn), 6) DESC, nid)
         |      AS rank
         |  FROM cand) WHERE rank <= 3""".stripMargin,

    "sim_knn_graph" ->
      s"""${KnnCtes(3, 4)}
         |SELECT t.src, t.dst, CAST(t.rank AS INT) AS rank, t.icos,
         |  (r.src IS NOT NULL) AS mutual
         |FROM t LEFT JOIN (SELECT src, dst FROM t) r
         |  ON r.src = t.dst AND r.dst = t.src""".stripMargin,

    // two independent 4-bit bucket families OR'd into one candidate set
    // (DISTINCT pairs ≡ the engine's dense_rank duplicate collapse:
    // icos is a pure function of the pair), then the same top-k + mutual
    // tail as sim_knn_graph
    "sim_knn_graph_banded" ->
      s"""WITH v AS (
         |  SELECT vec_id AS id, ${BucketBand(0, 4)} AS b0,
         |    ${BucketBand(1, 4)} AS b1, ${CodesSql("1000000")} AS nc
         |  FROM embeddings),
         |p AS (
         |  SELECT DISTINCT a.id AS src, c.id AS dst,
         |    CAST(list_aggregate(list_transform(range(64),
         |      i -> a.nc[i+1] * c.nc[i+1]), 'sum') AS BIGINT) AS icos
         |  FROM v a JOIN v c ON (a.b0 = c.b0 OR a.b1 = c.b1)
         |    AND a.id <> c.id),
         |t AS (
         |  SELECT src, dst, icos, rank FROM (
         |    SELECT *, row_number() OVER (PARTITION BY src
         |      ORDER BY icos DESC, dst) AS rank FROM p)
         |  WHERE rank <= 3)
         |SELECT t.src, t.dst, CAST(t.rank AS INT) AS rank, t.icos,
         |  (r.src IS NOT NULL) AS mutual
         |FROM t LEFT JOIN (SELECT src, dst FROM t) r
         |  ON r.src = t.dst AND r.dst = t.src""".stripMargin,

    // mutual edges from the knn CTEs; majority label per src with
    // (count desc, label) tie-break; isolates coalesce to their own label
    "sim_knn_label_smooth" ->
      s"""${KnnCtes(3, 4)},
         |me AS (
         |  SELECT t.src, t.dst FROM t
         |  JOIN (SELECT src, dst FROM t) r
         |    ON r.src = t.dst AND r.dst = t.src),
         |nb AS (
         |  SELECT me.src AS vec_id, e.label AS nlabel
         |  FROM me JOIN embeddings e ON e.vec_id = me.dst),
         |maj AS (
         |  SELECT vec_id, nlabel,
         |    row_number() OVER (PARTITION BY vec_id
         |      ORDER BY COUNT(*) DESC, nlabel) AS rk
         |  FROM nb GROUP BY vec_id, nlabel),
         |deg AS (
         |  SELECT vec_id, CAST(COUNT(*) AS BIGINT) AS n_nb
         |  FROM nb GROUP BY vec_id)
         |SELECT e.vec_id, e.label,
         |  COALESCE(m.nlabel, e.label) AS smoothed_label,
         |  COALESCE(deg.n_nb, 0) AS n_neighbors
         |FROM embeddings e
         |LEFT JOIN (SELECT vec_id, nlabel FROM maj WHERE rk = 1) m
         |  ON m.vec_id = e.vec_id
         |LEFT JOIN deg ON deg.vec_id = e.vec_id""".stripMargin,

    // mutual positive edges → symmetric closure → recursive reach → min-id
    // label (the dedup-clusters oracle recursion on the embedding side)
    "sim_knn_clusters" ->
      s"""${KnnCtes(3, 4).replaceFirst("WITH v", "WITH RECURSIVE v")},
         |me AS (
         |  SELECT t.src, t.dst FROM t
         |  JOIN (SELECT src, dst FROM t) r
         |    ON r.src = t.dst AND r.dst = t.src
         |  WHERE t.icos >= 0 AND t.src < t.dst),
         |edges AS (
         |  SELECT src AS a, dst AS b FROM me
         |  UNION SELECT dst, src FROM me),
         |reach(a, b) AS (
         |  SELECT id, id FROM v
         |  UNION
         |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
         |labeled AS (
         |  SELECT a AS vec_id, MIN(b) AS cluster_id FROM reach GROUP BY a)
         |SELECT vec_id, cluster_id,
         |  COUNT(*) OVER (PARTITION BY cluster_id) AS cluster_size
         |FROM labeled""".stripMargin,

    "sim_normalize_quantize" ->
      s"""WITH n AS (
         |  SELECT vec_id, $E AS e, $VNorm AS nrm FROM embeddings)
         |SELECT vec_id, round(nrm, 6) AS qnorm,
         |  array_to_string(CASE WHEN nrm > 0
         |    THEN list_transform(e, x -> CAST(floor(x / nrm * 127) AS BIGINT))
         |    ELSE list_transform(e, x -> CAST(0 AS BIGINT)) END, ',') AS qvec
         |FROM n""".stripMargin,

    // identical index-order folds → bit-identical d2 doubles → identical
    // argmin; residuals surface integer-quantized
    "sim_pq_encode" ->
      s"""$PqCtes
         |SELECT id AS vec_id, CAST(s AS INT) AS s, CAST(cid AS INT) AS code,
         |  CAST(round(d2 * 1e6) AS BIGINT) AS d2_micro
         |FROM enc WHERE rn = 1""".stripMargin,

    // per-subspace T=1 integer k-means codebooks (PqTrainSub ×4), then
    // the sim_pq_adc_topk encode/distance-table/ADC tail over them
    "sim_pq_adc_trained" ->
      s"""WITH v AS (
         |  SELECT vec_id AS id, $E AS e FROM embeddings),
         |${(0 until 4).map(PqTrainSub).mkString(",\n")},
         |cbs AS (
         |  SELECT * FROM cb0 UNION ALL SELECT * FROM cb1
         |  UNION ALL SELECT * FROM cb2 UNION ALL SELECT * FROM cb3),
         |sub AS (SELECT unnest(range(4)) AS s),
         |vs AS (
         |  SELECT id, s,
         |    list_transform(range(16), i -> e[s * 16 + i + 1]) AS sv
         |  FROM v CROSS JOIN sub),
         |scored AS (
         |  SELECT id, vs.s, cid,
         |    list_aggregate(list_transform(range(16),
         |      i -> (sv[i+1] - cv[i+1]) * (sv[i+1] - cv[i+1])), 'sum') AS d2
         |  FROM vs JOIN cbs ON vs.s = cbs.s),
         |enc AS (
         |  SELECT id, s, cid, d2,
         |    row_number() OVER (PARTITION BY id, s ORDER BY d2, cid) AS rn
         |  FROM scored),
         |codes AS (SELECT id, s, cid AS code FROM enc WHERE rn = 1),
         |q AS (SELECT id AS qid, s, sv FROM vs WHERE id % 100 = 0),
         |qd AS (
         |  SELECT qid, q.s, cbs.cid, CAST(round(
         |    list_aggregate(list_transform(range(16),
         |      i -> (sv[i+1] - cv[i+1]) * (sv[i+1] - cv[i+1])), 'sum')
         |    * 1e6) AS BIGINT) AS qd2
         |  FROM q JOIN cbs ON q.s = cbs.s),
         |adc AS (
         |  SELECT qd.qid, codes.id AS nid, CAST(SUM(qd2) AS BIGINT) AS adc_micro
         |  FROM codes JOIN qd ON qd.s = codes.s AND qd.cid = codes.code
         |  WHERE qd.qid <> codes.id
         |  GROUP BY 1, 2)
         |SELECT qid, nid, CAST(rank AS INT) AS rank, adc_micro FROM (
         |  SELECT qid, nid, adc_micro,
         |    row_number() OVER (PARTITION BY qid ORDER BY adc_micro, nid) AS rank
         |  FROM adc) WHERE rank <= 10""".stripMargin,

    // subspace partials integer-quantized BEFORE summing → associative,
    // rank order engine-exact
    "sim_pq_adc_topk" ->
      s"""$PqCtes,
         |codes AS (SELECT id, s, cid AS code FROM enc WHERE rn = 1),
         |q AS (SELECT id AS qid, s, sv FROM vs WHERE id % 100 = 0),
         |qd AS (
         |  SELECT qid, q.s, cbs.cid, CAST(round(
         |    list_aggregate(list_transform(range(16),
         |      i -> (sv[i+1] - cv[i+1]) * (sv[i+1] - cv[i+1])), 'sum')
         |    * 1e6) AS BIGINT) AS qd2
         |  FROM q JOIN cbs ON q.s = cbs.s),
         |adc AS (
         |  SELECT qd.qid, codes.id AS nid, CAST(SUM(qd2) AS BIGINT) AS adc_micro
         |  FROM codes JOIN qd ON qd.s = codes.s AND qd.cid = codes.code
         |  WHERE qd.qid <> codes.id
         |  GROUP BY 1, 2)
         |SELECT qid, nid, CAST(rank AS INT) AS rank, adc_micro FROM (
         |  SELECT qid, nid, adc_micro,
         |    row_number() OVER (PARTITION BY qid ORDER BY adc_micro, nid) AS rank
         |  FROM adc) WHERE rank <= 10""".stripMargin,

    // IVF-PQ: the PQ CTE chain (codes + per-query distance tables) plus
    // the IVF assignment CTEs (quantized-int argmin, the sim_topk_ivf
    // form); the ADC sum runs only over candidates whose cell is among
    // the query's nprobe=4 probed cells
    "sim_ivf_pq_topk" ->
      s"""$PqCtes,
         |codes AS (SELECT id, s, cid AS code FROM enc WHERE rn = 1),
         |iv AS (
         |  SELECT vec_id,
         |    list_transform($E, x -> CAST(round(x * 1000000) AS BIGINT)) AS q
         |  FROM embeddings),
         |iseeds AS (SELECT vec_id AS icid, q AS icq FROM iv WHERE vec_id < 16),
         |iassign AS (
         |  SELECT iv.vec_id, s.icid,
         |    CAST(list_aggregate(list_transform(range(64), i ->
         |      (iv.q[i+1] - s.icq[i+1]) * (iv.q[i+1] - s.icq[i+1])), 'sum')
         |      AS BIGINT) AS d2
         |  FROM iv CROSS JOIN iseeds s),
         |iranked AS (
         |  SELECT *, row_number() OVER (PARTITION BY vec_id
         |    ORDER BY d2, icid) AS rk FROM iassign),
         |icells AS (SELECT vec_id, icid AS cell FROM iranked WHERE rk = 1),
         |iprobe AS (
         |  SELECT vec_id AS qid, icid AS qcell FROM iranked
         |  WHERE rk <= 4 AND vec_id % 100 = 0),
         |q AS (SELECT id AS qid, s, sv FROM vs WHERE id % 100 = 0),
         |qd AS (
         |  SELECT qid, q.s, cbs.cid, CAST(round(
         |    list_aggregate(list_transform(range(16),
         |      i -> (sv[i+1] - cv[i+1]) * (sv[i+1] - cv[i+1])), 'sum')
         |    * 1e6) AS BIGINT) AS qd2
         |  FROM q JOIN cbs ON q.s = cbs.s),
         |adc AS (
         |  SELECT qd.qid, codes.id AS nid, CAST(SUM(qd2) AS BIGINT) AS adc_micro
         |  FROM codes
         |  JOIN icells ON icells.vec_id = codes.id
         |  JOIN iprobe ON iprobe.qcell = icells.cell
         |  JOIN qd ON qd.qid = iprobe.qid AND qd.s = codes.s
         |         AND qd.cid = codes.code
         |  WHERE qd.qid <> codes.id
         |  GROUP BY 1, 2)
         |SELECT qid, nid, CAST(rank AS INT) AS rank, adc_micro FROM (
         |  SELECT qid, nid, adc_micro,
         |    row_number() OVER (PARTITION BY qid ORDER BY adc_micro, nid) AS rank
         |  FROM adc) WHERE rank <= 10""".stripMargin,

    // IVF-PQ with pruned placement: corpus cells via the two-level
    // assignment (supers = 4 smallest-id seeds, 2-super shortlist, exact
    // argmin over shortlisted seeds — the dedup_semantic_pruned chain);
    // query probe and ADC identical to sim_ivf_pq_topk
    "sim_ivf_pq_pruned" ->
      s"""$PqCtes,
         |codes AS (SELECT id, s, cid AS code FROM enc WHERE rn = 1),
         |iv AS (
         |  SELECT vec_id,
         |    list_transform($E, x -> CAST(round(x * 1000000) AS BIGINT)) AS q
         |  FROM embeddings),
         |iseeds AS (SELECT vec_id AS icid, q AS icq FROM iv WHERE vec_id < 16),
         |isupers AS (SELECT icid AS sid, icq AS sq FROM iseeds
         |            ORDER BY icid LIMIT 4),
         |iseedsup AS (
         |  SELECT icid, icq, sid FROM (
         |    SELECT s.icid, s.icq, p.sid, row_number() OVER (PARTITION BY s.icid
         |      ORDER BY CAST(list_aggregate(list_transform(range(64), i ->
         |        (s.icq[i+1] - p.sq[i+1]) * (s.icq[i+1] - p.sq[i+1])), 'sum')
         |        AS BIGINT), p.sid) AS rk
         |    FROM iseeds s CROSS JOIN isupers p) WHERE rk = 1),
         |ishort AS (
         |  SELECT vec_id, q, sid FROM (
         |    SELECT iv.vec_id, iv.q, p.sid, row_number() OVER (
         |      PARTITION BY iv.vec_id
         |      ORDER BY CAST(list_aggregate(list_transform(range(64), i ->
         |        (iv.q[i+1] - p.sq[i+1]) * (iv.q[i+1] - p.sq[i+1])), 'sum')
         |        AS BIGINT), p.sid) AS rk
         |    FROM iv CROSS JOIN isupers p) WHERE rk <= 2),
         |icells AS (
         |  SELECT vec_id, icid AS cell FROM (
         |    SELECT sh.vec_id, ss.icid, row_number() OVER (
         |      PARTITION BY sh.vec_id
         |      ORDER BY CAST(list_aggregate(list_transform(range(64), i ->
         |        (sh.q[i+1] - ss.icq[i+1]) * (sh.q[i+1] - ss.icq[i+1])), 'sum')
         |        AS BIGINT), ss.icid) AS rk
         |    FROM ishort sh JOIN iseedsup ss ON sh.sid = ss.sid) WHERE rk = 1),
         |iprobe AS (
         |  SELECT vec_id AS qid, icid AS qcell FROM (
         |    SELECT iv.vec_id, s.icid, row_number() OVER (
         |      PARTITION BY iv.vec_id
         |      ORDER BY CAST(list_aggregate(list_transform(range(64), i ->
         |        (iv.q[i+1] - s.icq[i+1]) * (iv.q[i+1] - s.icq[i+1])), 'sum')
         |        AS BIGINT), s.icid) AS rk
         |    FROM iv CROSS JOIN iseeds s WHERE iv.vec_id % 100 = 0)
         |  WHERE rk <= 4),
         |q AS (SELECT id AS qid, s, sv FROM vs WHERE id % 100 = 0),
         |qd AS (
         |  SELECT qid, q.s, cbs.cid, CAST(round(
         |    list_aggregate(list_transform(range(16),
         |      i -> (sv[i+1] - cv[i+1]) * (sv[i+1] - cv[i+1])), 'sum')
         |    * 1e6) AS BIGINT) AS qd2
         |  FROM q JOIN cbs ON q.s = cbs.s),
         |adc AS (
         |  SELECT qd.qid, codes.id AS nid, CAST(SUM(qd2) AS BIGINT) AS adc_micro
         |  FROM codes
         |  JOIN icells ON icells.vec_id = codes.id
         |  JOIN iprobe ON iprobe.qcell = icells.cell
         |  JOIN qd ON qd.qid = iprobe.qid AND qd.s = codes.s
         |         AND qd.cid = codes.code
         |  WHERE qd.qid <> codes.id
         |  GROUP BY 1, 2)
         |SELECT qid, nid, CAST(rank AS INT) AS rank, adc_micro FROM (
         |  SELECT qid, nid, adc_micro,
         |    row_number() OVER (PARTITION BY qid ORDER BY adc_micro, nid) AS rank
         |  FROM adc) WHERE rank <= 10""".stripMargin
  )

  /** Shared PQ CTE chain: codebook = the 16 smallest-id vectors split into
    * 4×16-dim subvectors; `enc` scores every (vector, subspace, codeword)
    * with the same index-order fold the Spark side uses. */
  /** One unrolled exact-integer Lloyd iteration for PQ subspace `s`
    * (mirrors pqCodebookTrained → kmeansCentroidsExact at iters = 1):
    * quantized 16-dim slices, integer-d² argmin with (d2, cid) ties,
    * floor(Σx/n) update on the grid, empty cells keep their seed; the
    * codebook surfaces as grid DOUBLES (cx / 1e6) exactly like the Spark
    * side. */
  private def PqTrainSub(s: Int): String = {
    val off = s * 16
    s"""q$s AS (
       |  SELECT id, list_transform(range(16), i ->
       |    CAST(round(e[$off + i + 1] * 1000000) AS BIGINT)) AS qv
       |  FROM v),
       |c0_$s AS (
       |  SELECT cid, cq FROM (
       |    SELECT CAST(row_number() OVER (ORDER BY id) - 1 AS BIGINT)
       |      AS cid, qv AS cq FROM q$s) WHERE cid < 16),
       |a1_$s AS (
       |  SELECT id, cluster FROM (
       |    SELECT q.id, c.cid AS cluster, row_number() OVER (
       |      PARTITION BY q.id ORDER BY
       |        CAST(list_aggregate(list_transform(range(16), i ->
       |          (q.qv[i+1] - c.cq[i+1]) * (q.qv[i+1] - c.cq[i+1])), 'sum')
       |          AS BIGINT), c.cid) AS rk
       |    FROM q$s q CROSS JOIN c0_$s c) WHERE rk = 1),
       |n1_$s AS (
       |  SELECT cluster AS cid, dim,
       |    CAST(floor(CAST(SUM(x) AS DOUBLE) / COUNT(*)) AS BIGINT) AS cx
       |  FROM (
       |    SELECT a.cluster, CAST(unnest(range(16)) AS INT) AS dim,
       |      unnest(q.qv) AS x
       |    FROM a1_$s a JOIN q$s q ON q.id = a.id)
       |  GROUP BY cluster, dim),
       |cb$s AS (
       |  SELECT c0.cid, $s AS s,
       |    CASE WHEN COUNT(n.cx) = 0
       |      THEN list_transform(first(c0.cq),
       |        x -> CAST(x AS DOUBLE) / 1000000.0)
       |      ELSE list_transform(list(n.cx ORDER BY n.dim),
       |        x -> CAST(x AS DOUBLE) / 1000000.0) END AS cv
       |  FROM c0_$s c0 LEFT JOIN n1_$s n ON n.cid = c0.cid
       |  GROUP BY c0.cid)""".stripMargin
  }

  private val PqCtes =
    s"""WITH v AS (
       |  SELECT vec_id AS id, $E AS e FROM embeddings),
       |cb AS (
       |  SELECT row_number() OVER (ORDER BY id) - 1 AS cid, e
       |  FROM v ORDER BY id LIMIT 16),
       |sub AS (SELECT unnest(range(4)) AS s),
       |cbs AS (
       |  SELECT cid, s,
       |    list_transform(range(16), i -> e[s * 16 + i + 1]) AS cv
       |  FROM cb CROSS JOIN sub),
       |vs AS (
       |  SELECT id, s,
       |    list_transform(range(16), i -> e[s * 16 + i + 1]) AS sv
       |  FROM v CROSS JOIN sub),
       |scored AS (
       |  SELECT id, vs.s, cid,
       |    list_aggregate(list_transform(range(16),
       |      i -> (sv[i+1] - cv[i+1]) * (sv[i+1] - cv[i+1])), 'sum') AS d2
       |  FROM vs JOIN cbs ON vs.s = cbs.s),
       |enc AS (
       |  SELECT id, s, cid, d2,
       |    row_number() OVER (PARTITION BY id, s ORDER BY d2, cid) AS rn
       |  FROM scored)""".stripMargin
}
