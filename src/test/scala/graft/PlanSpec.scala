package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** Plan-quality regression guards (SURVEY §4 / DESIGN.md): the optimized
  * physical plans must keep the properties the 100 TB design relies on —
  * filter pushdown into parquet scans, broadcast of small join sides, and
  * partial (map-side) aggregation. A code change that silently loses one of
  * these would still pass the value oracle; these specs catch it.
  */
class PlanSpec extends SparkSpecBase {

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sfDir)
      .queryExecution.executedPlan.toString

  private def formatted(name: String): String = {
    val df: DataFrame = SparkEntry.queries(name)(spark, sfDir)
    df.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
  }

  test("q03: filters are pushed into every parquet scan") {
    val f = formatted("q03_shipping_priority")
    assert(f.contains("PushedFilters: [IsNotNull(c_mktsegment), EqualTo(c_mktsegment,BUILDING)")
      || f.contains("EqualTo(c_mktsegment,BUILDING)"), f.take(2000))
    assert(f.contains("GreaterThan(l_shipdate"), "lineitem date filter must reach the scan")
    assert(f.contains("LessThan(o_orderdate"), "orders date filter must reach the scan")
  }

  test("q03: dimension joins broadcast") {
    assert(plan("q03_shipping_priority").contains("BroadcastHashJoin"))
  }

  test("q01: aggregation is partial+final (map-side combine)") {
    val p = plan("q01_pricing_summary")
    assert("HashAggregate".r.findAllIn(p).length >= 2,
      "expected partial and final HashAggregate")
  }

  test("column pruning: a two-column projection reads a two-column schema") {
    val f = Tables.load(spark, sfDir, "lineitem")
      .select("l_orderkey", "l_quantity")
      .queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
    assert(f.contains("ReadSchema: struct<l_orderkey:bigint,l_quantity:double>"),
      f.take(1500))
  }

  test("topk: query side broadcasts, corpus is not shuffled into the join") {
    val p = plan("sim_topk_bruteforce")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"query set must broadcast:\n${p.take(1500)}")
  }

  test("join hints are honored (shuffle_hash)") {
    assert(plan("join_shuffle_hash").contains("ShuffledHashJoin"))
  }

  test("ivf lake probe: unprobed cells are partition-pruned out of the scan") {
    // one-query probe over the bucketed lake: exactly one cell may be
    // read. PartitionFilters must carry the cell predicate, and the
    // post-pruning partition count must be 1 of 16 — the I/O claim the
    // lake layout exists for.
    val all = Tables.load(spark, sfDir, "embeddings")
    val dir = java.nio.file.Files.createTempDirectory("graft-lake-spec").toString
    graft.operators.LayoutOps.writeIvfBucketed(all, cells = 16, dir)
    val one = all.filter(col("vec_id") === 77)
    val seeds = graft.operators.SimilarityOps.seedCells(all, 16)
    val probe = graft.operators.LayoutOps.ivfLakeTopK(spark, dir, one,
      seeds, k = 3)
    probe.collect() // finalize AQE so the real scan is reachable
    def scans(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.FileSourceScanExec] = p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        scans(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        scans(q.plan)
      case s: org.apache.spark.sql.execution.FileSourceScanExec => Seq(s)
      case o => o.children.flatMap(scans)
    }
    val lakeScans = scans(probe.queryExecution.executedPlan).filter(
      _.relation.location.rootPaths.exists(_.toString.contains("graft-lake-spec")))
    assert(lakeScans.nonEmpty, "expected a parquet scan over the lake")
    val scan = lakeScans.head
    assert(scan.partitionFilters.exists(_.toString.contains("cell")),
      s"partition filter on cell missing: ${scan.partitionFilters}")
    assert(scan.selectedPartitions.partitionCount == 1,
      s"expected 1 of 16 cells read, got ${scan.selectedPartitions.partitionCount}")
    // and the values still match the in-memory probe
    val mem = graft.operators.SimilarityOps.topKIvfSeeds(all, one, k = 3, seeds)
      .select(col("qid"), col("cell"), col("nid"), col("rank"), col("cos"))
    val got = probe.select(col("qid"), col("cell"), col("nid"), col("rank"), col("cos"))
    assert(got.exceptAll(mem).isEmpty && mem.exceptAll(got).isEmpty)
  }

  test("post-split lake probe: one query reads exactly one (possibly sub-) cell") {
    // the split apply must PRESERVE the lake's I/O contract: after flagged
    // cells re-shard, a one-query probe routed by the post-split centroid
    // table still opens exactly one partition of the now-finer layout
    val all = Tables.load(spark, sfDir, "embeddings")
    val dir = java.nio.file.Files.createTempDirectory("graft-slake-spec").toString
    graft.operators.LayoutOps.writeIvfBucketed(all, cells = 8, dir)
    val cents = graft.operators.LayoutOps.applySplitToLake(spark, dir,
      graft.operators.SimilarityOps.seedCells(all, 8), cells = 8,
      splitIters = 1, splitThresholdPct = 103).localCheckpoint()
    assert(cents.count() > 8, "103% must split at least one cell")
    val one = all.filter(col("vec_id") === 77)
    val probe = graft.operators.LayoutOps.ivfLakeTopK(spark, dir, one,
      cents, k = 3)
    probe.collect()
    def scans(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.FileSourceScanExec] = p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        scans(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        scans(q.plan)
      case s: org.apache.spark.sql.execution.FileSourceScanExec => Seq(s)
      case o => o.children.flatMap(scans)
    }
    val lakeScans = scans(probe.queryExecution.executedPlan).filter(
      _.relation.location.rootPaths.exists(_.toString.contains("graft-slake-spec")))
    assert(lakeScans.nonEmpty, "expected a parquet scan over the split lake")
    assert(lakeScans.head.selectedPartitions.partitionCount == 1,
      s"expected 1 post-split cell read, got ${lakeScans.head.selectedPartitions.partitionCount}")
  }

  test("bpe pairs: partial+final aggregate, no UDF, pair build stays in codegen") {
    val p = plan("corpus_bpe_pairs")
    assert("HashAggregate".r.findAllIn(p).length >= 2,
      s"pair counting must map-side combine:\n${p.take(1500)}")
    assert(!p.contains("BatchEvalPython") && !p.contains("ScalaUDF"),
      "the pair build must be higher-order expressions, not a UDF")
    // one exchange total: the pair explode is pipelined with the scan and
    // the partial aggregate; only the final count shuffles (bounded by
    // distinct-pair cardinality, not corpus size)
    assert("Exchange hashpartitioning".r.findAllIn(p).length == 1,
      s"pair counting must shuffle exactly once:\n${p.take(1500)}")
  }

  test("q02: part size filter reaches the scan; region dims broadcast") {
    val f = formatted("q02_min_cost_supplier")
    assert(f.contains("EqualTo(r_name,ASIA)"),
      "region filter must reach the scan: " + f.take(1500))
    assert(plan("q02_min_cost_supplier").contains("BroadcastHashJoin"))
  }

  test("q16: bad suppliers exclude via anti join, distinct agg is two-phase") {
    val p = plan("q16_parts_supplier_relation")
    assert(p.contains("LeftAnti"), "NOT IN must plan as an anti join")
    assert("HashAggregate".r.findAllIn(p).length >= 2)
  }

  test("q18: grouped HAVING aggregates partial+final before the detail join") {
    val p = plan("q18_large_volume_customer")
    assert("HashAggregate".r.findAllIn(p).length >= 2)
    assert(p.contains("Join") || p.contains("join"))
  }

  test("kmv sketch aggregates partial+final (mergeable bounded buffer)") {
    // the O(k) sketch buffer must combine map-side like any built-in —
    // a single-phase plan would ship every raw hash to one reducer
    val p = plan("sketch_kmv_distinct")
    val aggs = "Aggregate".r.findAllIn(p).length
    assert(aggs >= 2, s"expected partial+final aggregation:\n${p.take(1500)}")
  }

  test("count-min probe: sketch broadcasts to the candidates, no cartesian") {
    // the d×w sketch is the broadcastable side by construction — the
    // candidate set must never shuffle against it, and nothing in the
    // probe may degenerate to all-pairs
    val p = plan("sketch_countmin_tokens")
    assert(p.contains("BroadcastHashJoin"),
      s"sketch probe must be a broadcast join:\n${p.take(1500)}")
    assert(!p.contains("CartesianProduct"), p.take(1500))
  }

  test("pq encode: one spread exchange; adc adds only the top-k window") {
    // encoding N vectors costs one pass over the codes chain: the codebook
    // rides in as a one-row broadcast and the argmin runs inside per-row
    // higher-order functions. EXACTLY ONE hash exchange is expected — the
    // id-spread guarding the single-file serial hazard (sf10 ladder find:
    // without it the whole argmin chain ran on one core at 1.1 load);
    // a second exchange would mean the codes themselves shuffle.
    val enc = plan("sim_pq_encode")
    val encShuffles = "Exchange hashpartitioning".r.findAllIn(enc).length
    assert(encShuffles == 1,
      s"pq encode must spread once and only once ($encShuffles):\n${enc.take(1500)}")
    // adc: the spread + the per-query top-k window + the tiny query-side
    // table aggregation; the window must carry the WindowGroupLimit
    // pushdown so each partition pre-prunes to k before the exchange —
    // without it the full n×q score set crosses the wire
    val adc = plan("sim_pq_adc_topk")
    val shuffles = "Exchange hashpartitioning".r.findAllIn(adc).length
    assert(shuffles <= 3,
      s"adc grew extra shuffles ($shuffles):\n${adc.take(1500)}")
    assert(adc.contains("WindowGroupLimit"),
      s"top-k window lost its partial group-limit pushdown:\n${adc.take(1500)}")
  }

  test("tfidf topk: window pre-prunes with group-limit; no cartesian") {
    // the inverted-index join must stay an equi-join on the term (a
    // cartesian means the df cap / token equi-condition was lost), and
    // the per-query top-k must carry WindowGroupLimit so partitions
    // pre-prune to k before the final window exchange
    val p = plan("sim_tfidf_topk")
    assert(!p.contains("CartesianProduct"),
      s"tfidf candidate join degenerated to a cartesian:\n${p.take(1500)}")
    assert(p.contains("WindowGroupLimit"),
      s"tfidf top-k lost its partial group-limit pushdown:\n${p.take(1500)}")
  }

  test("zorder value is a pure per-row expression (no exchange, no UDF)") {
    import org.apache.spark.sql.functions._
    val df = Tables.load(spark, sfDir, "lineitem")
      .select(operators.LayoutOps.zorderValue(
        col("l_partkey"), col("l_suppkey")).as("z"))
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"),
      s"Morton value computation must compose into the scan:\n${p.take(1200)}")
    assert(!p.contains("BatchEvalPython") && !p.contains("ScalaUDF"),
      "Morton value must stay a codegen'd expression")
  }

  test("corpus prep pipeline: one shuffle (content digest), filters before it") {
    val p = plan("corpus_prep_pipeline")
    // the lang/quality gates and stats are per-row expressions over ONE
    // scan; the only exchange is the dedup window's hashpartitioning on
    // md5(text) — a second exchange would mean a lost composition
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges == 1, s"expected 1 exchange, got $exchanges:\n${p.take(2000)}")
    assert(p.contains("Window"), p.take(1000))
  }

  test("training mix: the single-partition budget window sits above all gates") {
    val p = plan("corpus_training_mix")
    // the global running-sum budget needs exactly one SinglePartition
    // exchange, and it must be fed by the already-gated/sampled rows —
    // more than one would mean the budget scan sees ungated data
    val single = "Exchange SinglePartition".r.findAllIn(p).length
    assert(single == 1, s"expected 1 single-partition exchange, got $single:\n${p.take(2000)}")
    val hashEx = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(hashEx == 1, s"expected only the dedup-window hash exchange, got $hashEx")
  }

  test("blocked embedding dedup: no cartesian product; band self-join is keyed") {
    graft.functions.GraftExtensions.install(spark)
    import spark.implicits._
    val embs = (0L until 64L)
      .map(i => (i, Array.fill(64)((i % 7).toFloat / 7)))
      .toDF("vec_id", "embedding")
    val p = graft.operators.DedupOps.embeddingCosinePairs(embs, minCos = 0.9)
      .queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"),
      "blocked path must never degenerate to all-pairs")
    // the brute-force opt-in IS the nested loop — that contrast is the point
    val bf = graft.operators.DedupOps
      .embeddingCosinePairs(embs, minCos = 0.9, bruteForce = true)
      .queryExecution.executedPlan.toString
    assert(bf.contains("CartesianProduct") || bf.contains("BroadcastNestedLoopJoin"),
      bf.take(800))
  }

  test("minhash signatures: one exchange feeds both the window and the aggregation") {
    val sigs = graft.operators.DedupOps.minhashSignatures(
      graft.Tables.load(spark, sfDir, "documents"))
    val p = sigs.queryExecution.executedPlan.toString
    // repartition(id) above the tokenizer; the window and final aggregate
    // reuse that partitioning — more exchanges mean the hoist regressed
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges == 1, s"expected 1 hash exchange, got $exchanges:\n${p.take(1500)}")
    assert("HashAggregate".r.findAllIn(p).length >= 1)
  }

  test("incremental SemDeDup: seeds broadcast, cell join keyed, no cartesian") {
    val p = plan("dedup_semantic_incremental")
    // the only nested-loop allowed is the broadcast of the tiny seed set
    // inside ivfAssign; the candidate join itself must be keyed on cell
    assert(!p.contains("CartesianProduct"), p.take(1500))
    val bnl = "BroadcastNestedLoopJoin".r.findAllIn(p).length
    val keyed = p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin")
    assert(bnl <= 1 && keyed,
      s"expected <=1 broadcast seed loop + a keyed cell join:\n${p.take(1500)}")
  }

  test("leakage-safe splits: split is a pure projection over the CC labels") {
    val p = plan("corpus_split_leakage_safe")
    // the split must be computed in-plan from the cluster id (stable md5
    // recipe) — not joined against a materialized split table — and add
    // no shuffle beyond the CC output itself (column pruning drops the
    // unused cluster_size window)
    assert(!p.contains("CartesianProduct"), p.take(1000))
    assert(p.contains("md5"), "split must be the in-plan stable md5 recipe")
    val hashEx = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(hashEx <= 1,
      s"split adds at most the cluster-size window exchange, got $hashEx:\n${p.take(1500)}")
  }

  test("localCheckpoint preserves hash partitioning (static loop side joins without re-shuffle)") {
    // the Pregel loops pre-partition the edge set on the join key once; the
    // superstep join must then shuffle ONLY the state side. If Spark ever
    // stopped preserving outputPartitioning across localCheckpoint, every
    // superstep would silently re-shuffle the edge set — this pins it.
    import spark.implicits._
    val eStatic = (1L to 1000L).map(i => (i % 50, i)).toDF("k", "v")
      .repartition(col("k")).localCheckpoint()
    val state = (0L until 50L).map(i => (i, i * 10)).toDF("k", "s")
    val joined = eStatic.join(state, "k")
    joined.collect()
    val p = joined.queryExecution.executedPlan.toString
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges <= 1, s"static side re-shuffled ($exchanges exchanges): ${p.take(2000)}")
  }

  test("bm25: no cartesian; scores aggregate partial+final; stats ride as one-row broadcasts") {
    val p = plan("sim_bm25_topk")
    assert(!p.contains("CartesianProduct"), p.take(2000))
    assert("HashAggregate".r.findAllIn(p).length >= 2,
      "score sum must be partial+final")
    // the only nested-loop joins are the one-row corpus-stats broadcasts:
    // dfreq × stats and post × stats.avg_q, EACH replayed on both sides of
    // the q-probes-postings self-join (the postings subtree plans twice) —
    // an EXACT count, so a regression that introduces a real data-sized
    // nested loop (or stops broadcasting the stats) fails instead of
    // hiding behind the old vacuous "BNLJ implies a BroadcastExchange"
    // check
    val bnl = "BroadcastNestedLoopJoin".r.findAllIn(p).length
    assert(bnl == bm25StatsBnlCount,
      s"expected $bm25StatsBnlCount one-row stats BNLJs, got $bnl:\n${p.take(2000)}")
  }

  /** The bm25 plan's expected one-row-stats nested-loop count (see the bm25
    * plan test). Kept as a single named constant so a legitimate plan-shape
    * change updates one number with a reviewable diff. */
  private val bm25StatsBnlCount = 4

  test("winnowing pairs: self-join keyed on the fingerprint hash, no cartesian") {
    val p = plan("dedup_winnowing_pairs")
    assert(!p.contains("CartesianProduct"), p.take(2000))
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"), s"hash-keyed join expected:\n${p.take(2000)}")
  }

  test("dsir: ratio table broadcasts to the postings, no cartesian") {
    val p = plan("corpus_dsir_sample")
    assert(!p.contains("CartesianProduct"), p.take(2000))
    assert(p.contains("BroadcastHashJoin"),
      s"<=4096-row ratio table must broadcast:\n${p.take(2000)}")
  }

  test("source overlap: no cartesian; pair expansion is row-local (no self-join)") {
    val p = plan("corpus_source_overlap")
    assert(!p.contains("CartesianProduct"), p.take(2000))
    // the pair fan-out happens in a generate over the collected source
    // set, not by joining the vocabulary with itself
    assert(p.contains("Generate explode"), p.take(2000))
  }

  test("paragraph dedup: no cartesian; block build feeds one hash window") {
    val p = plan("dedup_paragraph")
    assert(!p.contains("CartesianProduct"), p.take(2000))
    assert(!p.contains("Join"), s"block dedup must not join:\n${p.take(2000)}")
    assert("Window".r.findAllIn(p).length == 1, "exactly one keep-first window")
  }

  test("ivf-pq: query side all-broadcast, corpus join keyed, no cartesian") {
    val p = plan("sim_ivf_pq_topk")
    assert(!p.contains("CartesianProduct"), p.take(2000))
    // qprobe (cell shortlist) and qtable (distance tables) must ride as
    // broadcasts — the corpus side is the only shuffled relation
    assert("BroadcastHashJoin".r.findAllIn(p).length >= 2,
      s"qprobe + qtable must broadcast:\n${p.take(2000)}")
  }

  test("filtered ivf: candidate predicate evaluates below the rank window") {
    val p = plan("sim_topk_ivf_filtered")
    assert(!p.contains("CartesianProduct"), p.take(2000))
    // pre-filter semantics: the label filter must appear strictly before
    // (deeper than) the final rank window in the executed plan text
    val fi = p.indexOf("(label")
    val wi = p.indexOf("row_number")
    assert(fi >= 0 && wi >= 0 && fi > wi,
      s"label predicate must sit below the top-k window:\n${p.take(3000)}")
  }

  test("lsh precision: candidate-bounded joins only, no cartesian") {
    val p = plan("dedup_lsh_precision")
    assert(!p.contains("CartesianProduct"), p.take(2000))
  }

  test("domain cap + temperature sample: no joins beyond the broadcast rate table") {
    val pc = plan("corpus_domain_cap")
    assert(!pc.contains("Join"), s"cap is window-only:\n${pc.take(2000)}")
    val pt = plan("corpus_temperature_sample")
    assert(!pt.contains("CartesianProduct"), pt.take(2000))
    assert(pt.contains("BroadcastHashJoin"),
      s"group-rate table must broadcast:\n${pt.take(2000)}")
  }

  test("ivf-sq8: cell join keyed via broadcast probe, no cartesian") {
    val p = plan("sim_ivf_sq8_topk")
    assert(!p.contains("CartesianProduct"), p.take(2000))
    // the only nested loops are the one-row/seed-table broadcast attaches
    // (query × seeds shortlist); candidate scoring joins on cell equality
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin") ||
      p.contains("ShuffledHashJoin"), s"keyed cell join expected:\n${p.take(2000)}")
  }

  test("sq8 topk: broadcast pair scan, keyed rerank joins, no cartesian") {
    val p = plan("sim_sq8_topk")
    assert(!p.contains("CartesianProduct"), p.take(2000))
    // the n×q shortlist scan is the ONE nested loop (queries broadcast);
    // the rerank re-attaches vectors through keyed/broadcast hash joins
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).length == 1,
      s"exactly one broadcast pair scan expected:\n${p.take(2000)}")
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin") ||
      p.contains("ShuffledHashJoin"), s"keyed rerank joins:\n${p.take(2000)}")
  }

  test("prefix topk: one broadcast pair scan, keyed rerank, no cartesian") {
    val p = plan("sim_topk_prefix")
    assert(!p.contains("CartesianProduct"), p.take(2000))
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).length == 1,
      s"exactly one broadcast pair scan expected:\n${p.take(2000)}")
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin") ||
      p.contains("ShuffledHashJoin"), s"keyed rerank joins:\n${p.take(2000)}")
  }

  test("hard negatives: bucket-keyed candidate join, no cartesian or nested loop") {
    val p = plan("sim_hard_negatives")
    assert(!p.contains("CartesianProduct"), p.take(2000))
    // the label inequality rides the bucket-equality join as a secondary
    // condition — candidates stay bucket-blocked, never all-pairs
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"candidate join must stay keyed on the bucket:\n${p.take(2000)}")
  }

  test("curriculum order: corpus joins the broadcast value-histogram, no global sort") {
    val p = plan("corpus_curriculum_order")
    assert(!p.contains("CartesianProduct"), p.take(2000))
    assert(p.contains("BroadcastHashJoin"),
      s"phase table must broadcast back:\n${p.take(2000)}")
    // no corpus-wide total-order exchange: the only rangepartitioning
    // would come from a global sort, which the value-histogram design
    // exists to avoid
    assert(!p.contains("rangepartitioning"),
      s"global sort leaked into the corpus path:\n${p.take(2000)}")
  }

  test("knn graph: bucket self-join and mutual probe are keyed, no cartesian or nested loop") {
    // the query row reads the staged edge list (a scan); lock the BUILD
    val p = operators.SimilarityOps.knnGraph(
        Tables.load(spark, sfDir, "embeddings"), k = 3, bits = 4)
      .queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"knn graph must never pair-scan unkeyed:\n${p.take(2000)}")
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"), p.take(2000))
  }

  test("quality calibration: rank runs over the grouped grid, probe join keyed") {
    val p = plan("corpus_quality_calibrate")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p.take(2000))
    // the percentile machinery aggregates the (source, score) grid BEFORE
    // any window — a per-source sort of raw docs would show Window directly
    // over the scan with no HashAggregate beneath it
    assert("HashAggregate".r.findAllIn(p).length >= 2,
      s"grid aggregation (partial+final) expected:\n${p.take(2000)}")
    assert("Window".r.findAllIn(p).length >= 1, p.take(2000))
  }

  test("batch novelty: gram-index probe is a keyed left join, no cartesian") {
    val p = plan("corpus_batch_novelty")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p.take(2000))
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"), p.take(2000))
  }

  test("whole-stage codegen spans cover the TPC-H spine") {
    // AQE shows codegen spans only in the FINAL plan of THIS query
    // execution — collect() (count() would plan a different tree)
    val df = SparkEntry.queries("q06_forecast_revenue")(spark, sfDir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    // the tree renders WholeStageCodegen spans as "*(n)" prefixes
    assert(p.contains("*(1)"), p.take(1500))
    // scan → filter → project → partial agg live in ONE span
    assert(p.linesIterator.exists(l =>
      l.contains("*(1) Filter") || l.contains("*(1) HashAggregate")), p.take(1500))
  }
}
