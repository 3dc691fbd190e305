package graft

import org.apache.spark.sql.functions._
import graft.operators.{DedupOps, SimilarityOps, TextOps}

/** Invariant tests for the LLM-pipeline operators (dedup / similarity /
  * text). Exact values are pinned by the DuckDB oracle at sf0.01; these
  * guard the algebraic properties that must hold on any input.
  */
class PipelineOpsSpec extends SparkSpecBase {

  private lazy val docs = Tables.load(spark, sfDir, "documents")
  private lazy val embs = Tables.load(spark, sfDir, "embeddings")

  // the staged inputs the operators take, derived in-line
  private def lshPairsOf(d: org.apache.spark.sql.DataFrame) =
    DedupOps.minhashLshPairs(DedupOps.minhashSignatures(d).localCheckpoint())
  private def shingleSetOf(d: org.apache.spark.sql.DataFrame) =
    DedupOps.shingleHashSet(d).localCheckpoint()
  private def tfOf(d: org.apache.spark.sql.DataFrame) =
    SimilarityOps.termFrequencies(d).localCheckpoint()

  test("dedup_exact: kept-count equals distinct-text count") {
    val out = DedupOps.exact(docs)
    val kept = out.filter(col("is_kept")).count()
    assert(kept == docs.select(col("text")).distinct().count())
    assert(out.count() == docs.count())
  }

  test("minhash: signature has 16 in-range entries; est_jaccard in [0,1]") {
    val sig = docs.limit(20)
      .select(DedupOps.minhashSignature(col("text")).as("sig"))
    sig.collect().foreach { r =>
      val s = r.getSeq[Long](0)
      assert(s.length == DedupOps.NumPerm)
      assert(s.forall(v => v >= 0 && v < DedupOps.MinHashP))
    }
    lshPairsOf(docs).collect().foreach { r =>
      val j = r.getAs[Double]("est_jaccard")
      assert(j >= 0.0 && j <= 1.0)
      assert(r.getAs[Long]("id1") < r.getAs[Long]("id2"))
    }
  }

  test("hot-shingle df cap prunes stop-phrase keys from the inverted index") {
    import spark.implicits._
    // 4 docs share the stop phrase "the end of it"; 2 docs additionally
    // share a discriminative phrase
    val fixture = Seq(
      (1L, "alpha beta gamma delta the end of it"),
      (2L, "alpha beta gamma delta the end of it"),
      (3L, "unrelated words entirely here the end of it"),
      (4L, "other content again completely the end of it")
    ).toDF("doc_id", "text")
    val uncapped = DedupOps.ngramJaccardPairs(shingleSetOf(fixture),
        minJaccard = 0.01)
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    // cap at df<=3: the 3-gram shingles of "the end of it" (df=4) leave the
    // index; only the discriminative alpha/beta pair survives
    val capped = DedupOps.ngramJaccardPairs(shingleSetOf(fixture), minJaccard = 0.01,
      maxDocFreq = 3L).select("id1", "id2").as[(Long, Long)].collect().toSet
    assert(uncapped.contains((3L, 4L)), s"stop-phrase pair expected: $uncapped")
    assert(capped == Set((1L, 2L)), s"capped index must drop df>3 keys: $capped")
    // a cap above every fixture df is a no-op (the oracle contract)
    val wide = DedupOps.ngramJaccardPairs(shingleSetOf(fixture), minJaccard = 0.01,
      maxDocFreq = 100L).select("id1", "id2").as[(Long, Long)].collect().toSet
    assert(wide == uncapped)
  }

  test("minhash band-bucket cap drops degenerate buckets") {
    import spark.implicits._
    // 6 identical docs → every band bucket has df 6
    val fixture = (1L to 6L).map(i => (i, "same exact text for everyone here"))
      .toDF("doc_id", "text")
    val sigs = DedupOps.minhashSignatures(fixture).localCheckpoint()
    val uncapped = DedupOps.minhashLshPairs(sigs)
    assert(uncapped.count() == 15) // C(6,2) pairs
    val capped = DedupOps.minhashLshPairs(sigs, maxBandFreq = 5L)
    assert(capped.count() == 0, "all buckets exceed the cap and must drop")
  }

  test("dedup clusters: identical texts share a cluster, singletons keep their id") {
    import spark.implicits._
    val fixture = Seq(
      (1L, "the quick brown fox jumps over the lazy dog today"),
      (2L, "the quick brown fox jumps over the lazy dog today"),
      (5L, "completely different content with no overlap at all here")
    ).toDF("doc_id", "text")
    val pairs = lshPairsOf(fixture)
    val rows = DedupOps.dedupClusters(fixture, pairs).collect()
    val clusters = rows.map(r => r.getLong(0) -> r.getLong(1)).toMap
    val sizes = rows.map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(clusters(1L) == 1L && clusters(2L) == 1L,
      s"identical docs must share the min-id cluster: $clusters")
    assert(clusters(5L) == 5L, s"singleton keeps its own id: $clusters")
    assert(sizes(1L) == 2L && sizes(5L) == 1L, s"cluster sizes: $sizes")
    // curation view drops singletons
    val paired = DedupOps.dedupClusters(fixture, pairs, includeSingletons = false)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(paired == Set(1L, 2L), s"pair-participants only: $paired")
  }

  test("jaccard pairs: 0 < jaccard <= 1 and symmetric-free ordering") {
    DedupOps.ngramJaccardPairs(shingleSetOf(docs)).collect().foreach { r =>
      val j = r.getAs[Double]("jaccard")
      assert(j >= 0.2 && j <= 1.0)
      assert(r.getAs[Long]("id1") < r.getAs[Long]("id2"))
    }
  }

  test("simhash: values fit width; identical docs get identical hashes") {
    val sh = DedupOps.simhash(docs.limit(50))
    sh.collect().foreach { r =>
      val v = r.getAs[Long]("simhash")
      assert(v >= 0 && v < (1L << 48))
    }
    // duplicate a doc under a new id: pair must appear at hamming 0
    val dup = docs.limit(1).select((col("doc_id") + 1000000).as("doc_id"),
      col("text"), col("lang"), col("source"), col("n_chars"))
    val pairs = DedupOps.simhashPairs(DedupOps.simhash(docs.limit(1).union(dup)))
    val exact = pairs.filter(col("hamming") === 0).count()
    assert(exact == 1)
  }

  test("topk: ranks are 1..k, cosine within [-1,1], self excluded") {
    val out = SimilarityOps
      .topKBruteForce(embs, embs.filter(col("vec_id") % 100 === 0), 5)
      .collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      assert(r.getAs[Int]("rank") >= 1 && r.getAs[Int]("rank") <= 5)
      val c = r.getAs[Double]("cos")
      assert(c >= -1.0 && c <= 1.0)
      assert(r.getAs[Long]("qid") != r.getAs[Long]("nid"))
    }
  }

  test("lsh buckets: deterministic and within 2^8") {
    val b1 = SimilarityOps.lshBuckets(embs).select(col("nid"), col("bucket"))
    val b2 = SimilarityOps.lshBuckets(embs).select(col("nid"), col("bucket"))
    assert(b1.exceptAll(b2).isEmpty)
    b1.collect().foreach { r =>
      val b = r.getAs[Long]("bucket")
      assert(b >= 0 && b < (1L << SimilarityOps.LshBits))
    }
  }

  test("kmv sketch: exact below k, estimate within 20% above k, merge-stable") {
    import spark.implicits._
    import graft.operators.SketchOps
    // exact regime: 40 distinct values < k=64
    val small = (0 until 200).map(i => ("g", i % 40)).toDF("grp", "v")
    val ex = SketchOps.kmvDistinct(small, col("grp"), col("v"), k = 64)
      .head()
    assert(ex.getInt(1) == 40 && ex.getDouble(2) == 40.0)
    // estimate regime: 5000 distinct ≫ k; KMV with k=64 has ~12% rsd
    val big = (0 until 5000).map(i => ("g", i)).toDF("grp", "v")
      .repartition(8) // forces partial buffers + merge
    val est = SketchOps.kmvDistinct(big, col("grp"), col("v"), k = 64)
      .head().getDouble(2)
    assert(math.abs(est - 5000) / 5000.0 < 0.2, s"est=$est")
    // determinism across partitionings (merge associativity)
    val est2 = SketchOps.kmvDistinct(big.repartition(3), col("grp"), col("v"),
      k = 64).head().getDouble(2)
    assert(est == est2)
  }

  test("ivf with exhaustive probing equals brute force exactly") {
    // nprobe = cells means every cell is probed, so the candidate set is
    // the full corpus and the exact-cosine rerank must reproduce brute
    // force row for row — recall converges to 1 as nprobe → cells
    val qs = embs.filter(col("vec_id") % 100 === 0)
    val cells = 16
    val ivf = SimilarityOps.topKIvfProbe(embs, qs, k = 3,
        SimilarityOps.seedCells(embs, cells), nprobe = cells)
      .select(col("qid"), col("nid"), col("rank"), col("cos"))
    val bf = SimilarityOps.topKBruteForce(embs, qs, 3)
      .select(col("qid"), col("nid"), col("rank"), col("cos"))
    assert(ivf.exceptAll(bf).isEmpty && bf.exceptAll(ivf).isEmpty)
  }

  test("ivf-pq with exhaustive probing equals flat ADC exactly") {
    // nprobe = cells probes every cell, so the candidate set is the full
    // corpus and IVF-PQ must reproduce the flat ADC scan row for row —
    // the same degeneracy differential as the IVF/brute-force pair, now
    // for the composed index
    val cells = 16
    val cb = SimilarityOps.pqCodebook(embs)
    val ivfpq = SimilarityOps.ivfPqTopK(embs, k = 10, cells, nprobe = cells,
      col("vec_id") % 100 === 0, cb)
    val flat = SimilarityOps.pqAdcTopK(embs, k = 10, col("vec_id") % 100 === 0,
      cb)
    assert(ivfpq.exceptAll(flat).isEmpty && flat.exceptAll(ivfpq).isEmpty)
  }

  test("ivf-pq pruned placement at sprobe=sqrt(cells) equals the exact placement") {
    // the pruned two-level assigner degenerates to the exact argmin when
    // every super is probed (sprobe = ceil(sqrt(cells))) — so the composed
    // index must return identical rows; at smaller sprobe only cell
    // PLACEMENT may differ (recall knob), which the ivfAssignPruned spec
    // covers
    val cb = SimilarityOps.pqCodebook(embs)
    val exact = SimilarityOps.ivfPqTopK(embs, k = 10, cells = 16, nprobe = 4,
      col("vec_id") % 100 === 0, cb)
    val pruned = SimilarityOps.ivfPqTopK(embs, k = 10, cells = 16, nprobe = 4,
      col("vec_id") % 100 === 0, cb, assignSprobe = Some(4))
    assert(exact.exceptAll(pruned).isEmpty && pruned.exceptAll(exact).isEmpty)
  }

  test("filtered ivf: every neighbor satisfies the predicate; true predicate degenerates to the plain probe") {
    val qs = embs.filter(col("vec_id") % 100 === 0)
    val seeds = SimilarityOps.seedCells(embs, 16)
    val f = SimilarityOps.topKIvfFiltered(embs, qs, k = 3, seeds,
      nprobe = 4, candPred = col("label") % 2 === 0)
    assert(f.filter(col("label") % 2 =!= 0).isEmpty,
      "pre-filter must remove non-qualifying candidates before ranking")
    val noop = SimilarityOps.topKIvfFiltered(embs, qs, k = 3, seeds,
      nprobe = 4, candPred = lit(true))
      .select(col("qid"), col("nid"), col("rank"), col("cos"))
    val plain = SimilarityOps.topKIvfProbe(embs, qs, k = 3, seeds,
      nprobe = 4)
      .select(col("qid"), col("nid"), col("rank"), col("cos"))
    assert(noop.exceptAll(plain).isEmpty && plain.exceptAll(noop).isEmpty)
  }

  test("kmeans centroids at iters=0 equal the k lowest-id vectors (and the double round-trip is exact)") {
    import graft.functions.GraftFunctions.quantize
    // iters = 0 must reproduce the seed set exactly — and because the
    // operator surfaces centroids as doubles (centroid/1e6), re-quantizing
    // them must recover the integer grid bit-for-bit (the round-trip every
    // seeds-taking IVF operator relies on)
    val c0 = graft.ml.MLOps.kmeansCentroidsExact(embs, k = 16, iters = 0)
      .select(col("vec_id"), quantize(col("embedding")).as("cq"))
    // compare in id order (ids renumbered 0..15 follow the source id order)
    val got = c0.orderBy(col("vec_id")).collect().map(_.getSeq[Long](1))
    val want = embs.orderBy(col("vec_id")).limit(16)
      .select(quantize(col("embedding"))).collect().map(_.getSeq[Long](0))
    assert(got.length == 16 && got.sameElements(want))
  }

  test("trained ivf at iters=0 with dense low ids equals the seeded ivf row-for-row") {
    // iters = 0 trained centroids ARE the lowest-16 vectors renumbered; on
    // the fixture (dense vec_ids from 0) the renumbering is the identity,
    // so topKIvfSeeds over them must reproduce the seedCells(16) run exactly —
    // including the cell column. This pins the trained path's plumbing AND
    // the centroid double round-trip end-to-end.
    val qs = embs.filter(col("vec_id") % 100 === 0)
    val trained0 = graft.ml.MLOps.kmeansCentroidsExact(embs, k = 16, iters = 0)
    val viaTrained = SimilarityOps.topKIvfSeeds(embs, qs, k = 3, trained0)
      .select(col("qid"), col("cell"), col("nid"), col("rank"), col("cos"))
    val seeded = SimilarityOps.topKIvfSeeds(embs, qs, k = 3,
        SimilarityOps.seedCells(embs, 16))
      .select(col("qid"), col("cell"), col("nid"), col("rank"), col("cos"))
    assert(viaTrained.exceptAll(seeded).isEmpty &&
      seeded.exceptAll(viaTrained).isEmpty)
  }

  test("trained kmeans centroids: k rows survive every iteration and all are on the 1e6 grid") {
    import graft.functions.GraftFunctions.quantize
    val trained = graft.ml.MLOps.kmeansCentroidsExact(embs, k = 8, iters = 2)
    val rows = trained.select(col("vec_id"),
      quantize(col("embedding")).as("cq")).collect()
    assert(rows.length == 8)
    assert(rows.map(_.getLong(0)).sorted.sameElements(0L until 8L))
    rows.foreach(r => assert(r.getSeq[Long](1).length == 64))
  }

  test("trained pq codebook: full shape, and ivf-pq at nprobe=cells degenerates to flat ADC under the SAME trained codebook") {
    val cb = SimilarityOps.pqCodebookTrained(embs, iters = 1).localCheckpoint()
    assert(cb.count() == SimilarityOps.PqSub * SimilarityOps.PqK)
    cb.collect().foreach { r =>
      assert(r.getSeq[Double](2).length == SimilarityOps.PqDims)
      assert(r.getInt(0) >= 0 && r.getInt(0) < SimilarityOps.PqK)
    }
    val pred = col("vec_id") % 100 === 0
    val flat = SimilarityOps.pqAdcTopK(embs, k = 5, pred, cb)
    flat.groupBy(col("qid"))
      .agg(count(lit(1)).as("n"), max(col("rank")).as("mx")).collect()
      .foreach(r => assert(r.getLong(1) <= 5 && r.getInt(2) <= 5))
    // the composed-index degeneracy must hold for ANY codebook — run it
    // under the trained one
    val ivfpq = SimilarityOps.ivfPqTopK(embs, k = 5, cells = 16,
      nprobe = 16, pred, cb)
    assert(ivfpq.exceptAll(flat).isEmpty && flat.exceptAll(ivfpq).isEmpty)
  }

  test("ivf-projected with m >= corpus size equals the pruned ivf probe exactly") {
    // the projected shortlist passes every candidate through when m is the
    // corpus size, so the exact rerank must reproduce the pruned-index
    // topKIvfProbe with the same (seeds, nprobe, sprobe) row for row — the
    // m degeneracy that pins the composed operator to its parent
    val qs = embs.filter(col("vec_id") % 100 === 0)
    val n = embs.count().toInt
    val seeds = SimilarityOps.seedCells(embs, 16)
    val proj = SimilarityOps.ivfProjectedTopK(embs, qs, k = 3, seeds,
        nprobe = 4, sprobe = 2, m = n)
      .select(col("qid"), col("nid"), col("rank"), col("cos"))
    val pruned = SimilarityOps.topKIvfProbe(embs, qs, k = 3, seeds,
        nprobe = 4, sprobe = Some(2))
      .select(col("qid"), col("nid"), col("rank"), col("cos"))
    assert(proj.exceptAll(pruned).isEmpty && pruned.exceptAll(proj).isEmpty)
  }

  test("ivf split: members conserved, unflagged cells map to 2c, flagged cells shard into at most two sub-cells") {
    val n = embs.count()
    val out = SimilarityOps.ivfSplitCells(embs,
      SimilarityOps.seedCells(embs, 16), cells = 16, splitIters = 1,
      splitThresholdPct = 115).localCheckpoint()
    assert(out.count() == n, "every corpus vector gets exactly one row")
    assert(out.select(col("vec_id")).distinct().count() == n)
    assert(out.filter(!col("needs_split") &&
      col("new_cell") =!= col("cell") * 2).isEmpty,
      "unflagged cells renumber to 2c untouched")
    assert(out.filter(col("needs_split") &&
      col("new_cell") =!= col("cell") * 2 &&
      col("new_cell") =!= col("cell") * 2 + 1).isEmpty,
      "flagged members land in 2c or 2c+1 only")
    // the fixture flags ≥ 1 cell at 115 % and the split is non-degenerate
    // (both sub-cells populated for the densest flagged cell)
    val subCounts = out.filter(col("needs_split"))
      .groupBy(col("cell"), col("new_cell")).count()
      .groupBy(col("cell")).count().collect()
    assert(subCounts.nonEmpty, "115 % threshold must flag on the fixture")
    assert(subCounts.exists(_.getLong(1) == 2L),
      "at least one flagged cell splits into two populated sub-cells")
  }

  test("ivf split at the 2x-mean default leaves the near-uniform fixture whole") {
    // detector parity: the default threshold IS ivfAssignIncremental's
    // 2x-mean rule, and this fixture never trips it — every cell passes
    // through as 2c
    val out = SimilarityOps.ivfSplitCells(embs,
      SimilarityOps.seedCells(embs, 16), cells = 16)
    assert(out.filter(col("needs_split")).isEmpty)
    assert(out.filter(col("new_cell") =!= col("cell") * 2).isEmpty)
  }

  test("composed ivf members with iters=0 trained centroids equal their seeded defaults") {
    // the r12 seeds plumbing: iters=0 trained centroids are the lowest-16
    // vectors renumbered (identity on the dense fixture), so every
    // seeds-taking composed member must reproduce its seedCells run row
    // for row — pins the trained derivation end to end
    val qs = embs.filter(col("vec_id") % 100 === 0)
    val t0 = graft.ml.MLOps.kmeansCentroidsExact(embs, k = 16, iters = 0)
      .localCheckpoint()
    val s16 = SimilarityOps.seedCells(embs, 16)
    val projT = SimilarityOps.ivfProjectedTopK(embs, qs, k = 3, t0,
      nprobe = 4, sprobe = 2, m = 10)
    val projS = SimilarityOps.ivfProjectedTopK(embs, qs, k = 3, s16,
      nprobe = 4, sprobe = 2, m = 10)
    assert(projT.exceptAll(projS).isEmpty && projS.exceptAll(projT).isEmpty)
    val prunedT = SimilarityOps.topKIvfProbe(embs, qs, k = 3, t0,
      nprobe = 4, sprobe = Some(2))
    val prunedS = SimilarityOps.topKIvfProbe(embs, qs, k = 3, s16,
      nprobe = 4, sprobe = Some(2))
    assert(prunedT.exceptAll(prunedS).isEmpty &&
      prunedS.exceptAll(prunedT).isEmpty)
    val filtT = SimilarityOps.topKIvfFiltered(embs, qs, k = 3, t0,
      nprobe = 4, candPred = col("label") % 2 === 0)
    val filtS = SimilarityOps.topKIvfFiltered(embs, qs, k = 3, s16,
      nprobe = 4, candPred = col("label") % 2 === 0)
    assert(filtT.exceptAll(filtS).isEmpty && filtS.exceptAll(filtT).isEmpty)
  }

  test("native graft_jl projection equals the unrolled plan-time chain") {
    import graft.functions.GraftFunctions.{jlproject, quantize}
    // re-derive the md5 sign matrix exactly as the operator does, feed it
    // to the native kernel, and compare against randomProject's unrolled
    // element_at/negate chain — the kernel must be value-identical
    def sign(i: Int, j: Int): Long = {
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$i-$j".getBytes("UTF-8"))
      if (((h(0) >> 4) & 1) == 0) 1L else -1L
    }
    val signs = typedLit(
      (0 until 16).map(j => (0 until 64).map(i => sign(i, j))))
    val native = embs.select(col("vec_id"),
      array_join(jlproject(quantize(col("embedding")), signs).cast("array<string>"),
        ",").as("pvec"))
    val unrolled = SimilarityOps.randomProject(embs)
    assert(native.exceptAll(unrolled).isEmpty &&
      unrolled.exceptAll(native).isEmpty)
  }

  test("graft_jl null/length semantics mirror the element_at chain, not silent truncation") {
    import graft.functions.GraftFunctions.jlproject
    import spark.implicits._
    // rows: clean 4-dim, vec with a null element, short vec (2 of 4 dims)
    val in = Seq(
      (1L, Seq[java.lang.Long](1L, 2L, 3L, 4L)),
      (2L, Seq[java.lang.Long](1L, null, 3L, 4L)),
      (3L, Seq[java.lang.Long](10L, 20L))
    ).toDF("id", "v")
    // signs: row 0 = all +1 (len 4), row 1 = alternating (len 4),
    // row 2 = short row (len 3 — length mismatch even for the clean vec)
    val signs = typedLit(Seq(Seq(1L, 1L, 1L, 1L), Seq(1L, -1L, 1L, -1L),
      Seq(1L, 1L, 1L)))
    val out = in.select(col("id"), jlproject(col("v"), signs).as("p"))
      .collect().map(r => r.getLong(0) -> r.getSeq[java.lang.Long](1)).toMap
    // clean vec: components 0/1 exact, component 2 null (length mismatch)
    assert(out(1L) == Seq(10L, -2L, null))
    // null vec element poisons every component (the chain reads all dims)
    assert(out(2L) == Seq[java.lang.Long](null, null, null))
    // short vec: every sign row's length differs -> all components null
    assert(out(3L) == Seq[java.lang.Long](null, null, null))
    // and the same rows through the INTERPRETED path (direct eval on
    // literals — no codegen) agree with the codegen'd column results
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.types.{ArrayType, LongType}
    val arrT = ArrayType(LongType, containsNull = true)
    val signsLit = Literal.create(Seq(Seq(1L, 1L, 1L, 1L),
      Seq(1L, -1L, 1L, -1L), Seq(1L, 1L, 1L)), ArrayType(arrT, false))
    def evalVec(v: Seq[java.lang.Long]): Seq[java.lang.Long] =
      graft.functions.SignedProject(Literal.create(v, arrT), signsLit)
        .eval(null).asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
        .toSeq[java.lang.Long](LongType)
    assert(evalVec(Seq(1L, 2L, 3L, 4L)) == Seq(10L, -2L, null))
    assert(evalVec(Seq[java.lang.Long](1L, null, 3L, 4L)) ==
      Seq[java.lang.Long](null, null, null))
    assert(evalVec(Seq[java.lang.Long](10L, 20L)) ==
      Seq[java.lang.Long](null, null, null))
  }

  test("native graft_cell placement equals the array-of-structs argmin form") {
    import graft.functions.GraftFunctions.{cellArgmin, lld2, quantize}
    // non-contiguous centroid ids exercise the index->id mapping; the
    // centroid set is the fixture's own vectors so distances are realistic
    val cents: Seq[(Long, Seq[Long])] = embs.filter(col("vec_id") % 7 === 0)
      .limit(17)
      .select(col("vec_id").cast("long"), quantize(col("embedding")))
      .collect().map(r => (r.getLong(0) * 3 + 5, r.getSeq[Long](1))).toSeq
      .sortBy(_._1)
    val qv = quantize(col("embedding"))
    // the plan-time struct-array form this kernel replaces
    val structForm = array_min(array(cents.map { case (cid, cq) =>
      struct(lld2(qv, lit(cq.toArray)).as("d2"), lit(cid).as("cid"))
    }: _*)).getField("cid")
    val kernelForm = element_at(typedLit(cents.map(_._1)),
      (cellArgmin(qv, typedLit(cents.map(_._2))) + 1L).cast("int"))
    val diff = embs.select(col("vec_id"), structForm.as("a"),
        kernelForm.as("b"))
      .filter(col("a") =!= col("b"))
    assert(diff.isEmpty, s"kernel/struct argmin disagree: ${diff.head(3).mkString}")
    // null/shape semantics: empty matrix, null row, ragged row, null elem
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.types.{ArrayType, LongType}
    val arrT = ArrayType(LongType, containsNull = true)
    val matT = ArrayType(arrT, containsNull = true)
    def ev(v: Seq[Any], m: Seq[Any]): Any =
      graft.functions.ArgminCell(Literal.create(v, arrT),
        Literal.create(m, matT)).eval(null)
    assert(ev(Seq(1L, 2L), Seq(Seq(1L, 2L), Seq(5L, 5L))) == 0L)
    assert(ev(Seq(5L, 5L), Seq(Seq(1L, 2L), Seq(5L, 5L))) == 1L)
    // first-wins tie-break
    assert(ev(Seq(3L, 3L), Seq(Seq(3L, 3L), Seq(3L, 3L))) == 0L)
    assert(ev(Seq(1L, 2L), Seq.empty) == null)
    assert(ev(Seq(1L, 2L), Seq(null, Seq(1L, 2L))) == null)
    assert(ev(Seq(1L, 2L), Seq(Seq(1L, 2L, 3L))) == null)
    assert(ev(Seq(1L, 2L), Seq(Seq(1L, null))) == null)
    assert(ev(Seq(1L, null), Seq(Seq(1L, 2L))) == null)
  }

  test("prefix topk with an exhaustive shortlist equals brute force") {
    // m >= corpus size passes every candidate through the prefix
    // shortlist, so the exact rerank must reproduce brute force
    val qs = embs.filter(col("vec_id") % 100 === 0)
    val n = embs.count().toInt
    val pre = SimilarityOps.topKPrefix(embs, qs, k = 3, m = n)
      .select(col("qid"), col("nid"), col("rank"), col("cos"))
    val bf = SimilarityOps.topKBruteForce(embs, qs, 3)
      .select(col("qid"), col("nid"), col("rank"), col("cos"))
    assert(pre.exceptAll(bf).isEmpty && bf.exceptAll(pre).isEmpty)
  }

  test("hard negatives: labels always differ from the anchor's, ranks bounded, pairs co-bucketed") {
    val out = SimilarityOps.hardNegatives(embs, col("vec_id") % 100 === 0,
      k = 3).localCheckpoint()
    assert(out.filter(col("neg_label") === col("anchor_label")).isEmpty,
      "pre-filter must exclude same-label candidates")
    out.groupBy(col("qid")).agg(max(col("rank")).as("mx"),
        count(lit(1)).as("n")).collect()
      .foreach(r => assert(r.getInt(1) <= 3 && r.getLong(2) <= 3))
    // every (anchor, negative) pair shares an LSH bucket by construction
    val b = SimilarityOps.lshBuckets(embs).select(col("nid"), col("bucket"))
    val joined = out.select(col("qid"), col("nid"))
      .join(b.withColumnRenamed("nid", "qid")
        .withColumnRenamed("bucket", "qb"), "qid")
      .join(b, "nid")
    assert(joined.filter(col("qb") =!= col("bucket")).isEmpty)
  }

  test("curriculum order: value-level phase boundaries, total coverage, contiguous shard order") {
    import graft.functions.GraftFunctions.tokens
    val out = graft.operators.SamplingOps.curriculumOrder(
        docs.select(col("doc_id"), col("text")),
        difficulty = size(tokens(col("text"))).cast("long"),
        keyCol = "doc_id", phases = 4, shards = 8)
      .localCheckpoint()
    assert(out.count() == docs.count(), "every doc gets a phase")
    // phases are value-level: max difficulty of phase p <= min of p+1
    val bounds = out.groupBy(col("phase"))
      .agg(min(col("difficulty")).as("lo"), max(col("difficulty")).as("hi"))
      .orderBy(col("phase")).collect()
    bounds.sliding(2).foreach {
      case Array(a, b) => assert(a.getLong(2) <= b.getLong(1),
        s"phase overlap: ${a} vs ${b}")
      case _ =>
    }
    // same difficulty value => same phase (boundaries on values, not ranks)
    assert(out.select(col("difficulty"), col("phase")).distinct()
      .groupBy(col("difficulty")).count().filter(col("count") > 1).isEmpty)
    // within (phase, shard) the order is contiguous 1..n
    val byShard = out.groupBy(col("phase"), col("shard"))
      .agg(count(lit(1)).as("n"), max(col("phase_order")).as("mx"),
        min(col("phase_order")).as("mn")).collect()
    byShard.foreach(r =>
      assert(r.getInt(3) == r.getLong(2) && r.getInt(4) == 1,
        s"phase_order must be 1..n within (phase, shard): $r"))
  }

  test("curriculum order: derived shard count equals shards=8 at fixture scale, and null difficulty fails loud") {
    import graft.functions.GraftFunctions.tokens
    // derived: max(8, rows/2M) from the CALLER-supplied count — fixture
    // rows are far below 2M, so derive must be byte-identical to shards=8
    val in = docs.select(col("doc_id"), col("text"))
    val diff = size(tokens(col("text"))).cast("long")
    val derived = graft.operators.SamplingOps.curriculumOrder(
      in, diff, "doc_id", phases = 4, rowCount = Some(in.count()))
    val fixed = graft.operators.SamplingOps.curriculumOrder(
      in, diff, "doc_id", phases = 4, shards = 8)
    assert(derived.exceptAll(fixed).isEmpty &&
      fixed.exceptAll(derived).isEmpty)
    // a 100 TB corpus count derives a larger shard fan-out
    assert(graft.operators.SamplingOps
      .curriculumOrder(in, diff, "doc_id", phases = 4,
        rowCount = Some(64000000L))
      .select(max(col("shard"))).collect()(0).getInt(0) == 31)
    // shards=0 without a rowCount fails loud instead of hiding an action
    val miss = intercept[IllegalArgumentException] {
      graft.operators.SamplingOps.curriculumOrder(in, diff, "doc_id",
        phases = 4)
    }
    assert(miss.getMessage.contains("rowCount"))
    // null difficulty: the _d equi-join would silently drop the row —
    // the operator must raise instead (every-row-gets-a-phase contract)
    val withNull = spark.range(20).select(
      col("id").cast("string").as("k"),
      when(col("id") === 7, lit(null)).otherwise(col("id"))
        .cast("long").as("d"))
    val e = intercept[Exception] {
      graft.operators.SamplingOps.curriculumOrder(
        withNull, col("d"), "k", phases = 2, shards = 2).collect()
    }
    def chain(t: Throwable): String =
      if (t == null) "" else t.getMessage + " | " + chain(t.getCause)
    assert(chain(e).contains("null difficulty"),
      s"expected the fail-loud null guard, got: ${chain(e)}")
  }

  test("recallAtKSampled: mod=1 is the full audit row-for-row; a panel is exactly the lottery subset of it") {
    import graft.functions.GraftFunctions.stableHash
    // denser panel than the oracle rows' %100 (5 queries at this fixture
    // would leave a mod-4 lottery empty)
    val qs = embs.filter(col("vec_id") % 10 === 0)
    def member(q: org.apache.spark.sql.DataFrame) =
      SimilarityOps.topKIvfProbe(embs, q, 3, SimilarityOps.seedCells(embs, 16),
          nprobe = 4)
        .select(col("qid"), col("nid"))
    val full = SimilarityOps.recallAtKSampled(embs, qs, 1)(member)
      .localCheckpoint()
    val plain = SimilarityOps.recallAtK(member(qs),
      SimilarityOps.topKBruteForce(embs, qs, 3).select(col("qid"), col("nid")))
    assert(full.exceptAll(plain).isEmpty && plain.exceptAll(full).isEmpty)
    val panel = SimilarityOps.recallAtKSampled(embs, qs, 4)(member)
      .localCheckpoint()
    // the panel's query set is the deterministic md5 lottery, nothing else
    val expectedQ = qs.filter(
        pmod(stableHash(col("vec_id").cast("string")), lit(4L)) === 0)
      .select(col("vec_id").as("qid"))
    assert(panel.select(col("qid")).exceptAll(expectedQ).isEmpty &&
      expectedQ.exceptAll(panel.select(col("qid"))).isEmpty)
    assert(panel.count() > 0 && panel.count() < full.count())
    // and panel rows equal the full audit restricted to those queries —
    // sampling changed WHICH queries run, never any query's result
    val restricted = full.join(panel.select(col("qid")).distinct(), "qid")
    assert(panel.exceptAll(restricted).isEmpty &&
      restricted.exceptAll(panel).isEmpty)
  }

  test("knn graph: derived bits pins the measured ladder optima, derive-mode output equals bits=4 at fixture scale") {
    import SimilarityOps.deriveKnnBits
    // the r12-measured anchors (DESIGN.md "knn-graph bits"): every fixture
    // count stays at the oracle-pinned 4; the 200k ladder point lands on
    // the measured optimum 8; the rule extrapolates monotonically to the cap
    assert(deriveKnnBits(1) == 4)
    assert(deriveKnnBits(2000) == 4)     // sf0.1 fixture
    assert(deriveKnnBits(20000) == 4)    // sf1 ladder fixture
    assert(deriveKnnBits(200000) == 8)   // sf10 ladder — 679 s -> 20.5 s
    assert(deriveKnnBits(2000000) == 15)
    assert(deriveKnnBits(1L << 40) == 16)
    // the full derived shape: fixture scales single-band (oracle compat),
    // large corpora the measured OR-amplified (bits+4, 16) form
    assert(SimilarityOps.deriveKnnShape(2000) == (4, 1))
    assert(SimilarityOps.deriveKnnShape(20000) == (4, 1))
    assert(SimilarityOps.deriveKnnShape(200000) == (12, 16))
    assert(SimilarityOps.deriveKnnShape(1L << 40) == (16, 16))
    // bits=0 (derive) is byte-identical to the pinned bits=4 here
    val derived = SimilarityOps.knnGraph(embs, k = 3)
    val fixed = SimilarityOps.knnGraph(embs, k = 3, bits = 4)
    assert(derived.exceptAll(fixed).isEmpty &&
      fixed.exceptAll(derived).isEmpty)
  }

  test("knn graph OR-amplification: banded union only improves per-src top-k, no duplicate edges, band 0 family shared") {
    val g1 = SimilarityOps.knnGraph(embs, k = 3, bits = 8, bands = 1)
      .localCheckpoint()
    val g2 = SimilarityOps.knnGraph(embs, k = 3, bits = 8, bands = 2)
      .localCheckpoint()
    // shape: no duplicate (src, dst), at most k rows and distinct ranks
    assert(g2.groupBy(col("src"), col("dst")).count()
      .filter(col("count") > 1).isEmpty)
    val perSrc = g2.groupBy(col("src"))
      .agg(count(lit(1)).as("n"), countDistinct(col("rank")).as("nr"))
    assert(perSrc.filter(col("n") > 3 || col("n") =!= col("nr")).isEmpty)
    // band 0 of the bands=2 family IS the bands=1 family, so every src's
    // candidate set grows monotonically: at every rank the banded icos is
    // at least the single-band one (rank-wise, not summed — a src short
    // of k candidates may gain a legitimately NEGATIVE extra neighbor)
    val worse = g1.select(col("src"), col("rank"), col("icos").as("i1"))
      .join(g2.select(col("src"), col("rank"), col("icos").as("i2")),
        Seq("src", "rank"))
      .filter(col("i2") < col("i1"))
    assert(worse.isEmpty, s"banded union degraded: ${worse.head(3).mkString}")
  }

  test("knn label smoothing: local majority mirror, isolates keep their label") {
    val g = SimilarityOps.knnGraph(embs, k = 3, bits = 4).localCheckpoint()
    val out = SimilarityOps.knnLabelSmooth(embs, g).localCheckpoint()
    assert(out.count() == embs.count(), "every vector gets a verdict")
    assert(out.filter(col("n_neighbors") === 0 &&
      col("smoothed_label") =!= col("label")).isEmpty,
      "isolates must keep their own label")
    // local mirror: majority of mutual neighbors' labels, ties -> smallest
    val labels = embs.select(col("vec_id"), col("label")).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val mutual = g.filter(col("mutual")).select(col("src"), col("dst"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val bySrc = mutual.groupBy(_._1)
    out.collect().foreach { r =>
      val (id, lbl, sm, nn) =
        (r.getLong(0), r.getInt(1), r.getInt(2), r.getLong(3))
      bySrc.get(id) match {
        case None => assert(nn == 0 && sm == lbl, s"isolate $id: $r")
        case Some(es) =>
          assert(nn == es.length, s"degree mismatch for $id")
          // toSeq BEFORE the map: mapping a Map to (count, label) tuples
          // re-keys by count and collapses tied labels
          val maj = es.map(e => labels(e._2))
            .groupBy(identity).toSeq
            .map { case (l, xs) => (xs.length, l) }
            .sortBy { case (n, l) => (-n, l) }.head._2
          assert(sm == maj, s"majority mismatch for $id: got $sm want $maj")
      }
    }
  }

  test("incremental ivf ingest: every batch vector placed once, split rule exact") {
    val stored = embs.filter(col("vec_id") % 10 =!= 0)
    val batch = embs.filter(col("vec_id") % 10 === 0)
    val cents = graft.ml.MLOps.kmeansCentroidsExact(stored, k = 8, iters = 1)
    val out = graft.operators.SimilarityOps.ivfAssignIncremental(
      graft.operators.SimilarityOps.ivfAssign(stored, cents), batch, cents,
      cells = 8).localCheckpoint()
    assert(out.count() == batch.count(), "one placement per batch vector")
    assert(out.select(col("vec_id")).distinct().count() == batch.count())
    // the split flag must satisfy its own integer rule over the output
    val cellRows = out.select(col("cell"), col("stored_n"), col("batch_n"),
      col("needs_split")).distinct().collect()
    // total includes cells with NO batch vector — recompute from stored
    val total = stored.count() + batch.count()
    cellRows.foreach { r =>
      val expect = (r.getLong(1) + r.getLong(2)) * 8 > 2 * total
      assert(r.getBoolean(3) == expect, s"split rule mismatch: $r total=$total")
    }
  }

  test("paragraph dedup: survivors equal distinct blocks; apply reconstructs kept tokens") {
    val flagged = DedupOps.paragraphDedup(docs)
    val blocks = TextOps.tokenBlocks(docs).withColumn("bh", md5(col("btxt")))
    val distinctHashes = blocks.select(col("bh")).distinct().count()
    assert(flagged.filter(!col("dup")).count() == distinctHashes,
      "keep-first must retain exactly one block per distinct hash")
    assert(flagged.count() == blocks.count(), "every block gets a flag")
    val applied = DedupOps.paragraphDedupApply(docs)
    assert(applied.agg(sum(col("n_kept"))).head.getLong(0) == distinctHashes)
    // reconstruction: kept_text's token count equals the kept blocks' sum
    val rebuilt = applied.select(col("doc_id"),
      size(split(col("kept_text"), " ")).cast("long").as("n_rebuilt"))
    val expected = flagged.filter(!col("dup")).groupBy(col("doc_id"))
      .agg(sum(col("n_block_tokens")).as("n_exp"))
    assert(rebuilt.join(expected, "doc_id")
      .filter(col("n_rebuilt") =!= col("n_exp")).isEmpty)
  }

  test("incremental paragraph dedup: stored wins, in-batch keep-first, novels kept") {
    import spark.implicits._
    // width=20 blocks: craft 20-token texts so each doc is one block
    def txt(seed: String) = Seq.fill(20)(seed).mkString(" ")
    val stored = Seq((100L, txt("s"))).toDF("doc_id", "text")
    val batch = Seq(
      (1L, txt("s")),   // duplicates a STORED block -> dup despite smaller id
      (2L, txt("b")),   // first of an in-batch pair -> kept
      (3L, txt("b")),   // second of the pair -> dup
      (4L, txt("n"))    // novel -> kept
    ).toDF("doc_id", "text")
    val out = DedupOps.incrementalParagraphDedup(stored, batch)
      .collect().map(r => r.getLong(0) -> r.getBoolean(3)).toMap
    assert(out == Map(1L -> true, 2L -> false, 3L -> true, 4L -> false))
  }

  test("capPerGroup: at most k kept per group, labels cover every row, layout-independent") {
    import graft.operators.SamplingOps
    val capped = SamplingOps.capPerGroup(
      docs.select(col("doc_id"), col("source")), "source", "doc_id", k = 10)
    assert(capped.count() == docs.count(), "every row labeled")
    capped.filter(col("kept")).groupBy(col("source")).count()
      .collect().foreach(r => assert(r.getLong(1) <= 10))
    val again = SamplingOps.capPerGroup(
      docs.select(col("doc_id"), col("source")).repartition(7),
      "source", "doc_id", k = 10)
    assert(capped.exceptAll(again).isEmpty, "md5 lottery must not depend on layout")
  }

  test("clusterBalance: per-cell cap holds and every vector is labeled") {
    val bal = SimilarityOps.clusterBalance(embs, cells = 16, cap = 25)
    assert(bal.count() == embs.count())
    bal.filter(col("kept")).groupBy(col("cell")).count()
      .collect().foreach(r => assert(r.getLong(1) <= 25))
    // cells smaller than the cap survive whole: no kept-count may exceed
    // its cell's population
    val pop = bal.groupBy(col("cell")).count().withColumnRenamed("count", "n")
    assert(bal.filter(col("kept")).groupBy(col("cell")).count()
      .join(pop, "cell").filter(col("count") > col("n")).isEmpty)
  }

  test("lexical diversity: basis points bounded, brute-force agreement on one doc") {
    val ld = TextOps.lexicalDiversity(docs).cache()
    ld.collect().foreach { r =>
      val n = r.getAs[Long]("n_tokens"); val ty = r.getAs[Long]("n_types")
      assert(ty >= 1 && ty <= n)
      assert(r.getAs[Long]("ttr_bp") >= 0 && r.getAs[Long]("ttr_bp") <= 10000)
      assert(r.getAs[Long]("top_frac_bp") >= 10000 / n)
      assert(r.getAs[Long]("hapax_bp") <= 10000)
    }
    val one = docs.orderBy(col("doc_id")).limit(1).collect()(0)
    val toks = one.getAs[String]("text").toLowerCase.split("\\s+").toSeq
    val counts = toks.groupBy(identity).map(_._2.size)
    val row = ld.filter(col("doc_id") === one.getAs[Long]("doc_id")).head
    assert(row.getAs[Long]("n_tokens") == toks.size)
    assert(row.getAs[Long]("n_types") == counts.size)
    assert(row.getAs[Long]("top_frac_bp") == counts.max.toLong * 10000 / toks.size)
    assert(row.getAs[Long]("hapax_bp") ==
      counts.count(_ == 1).toLong * 10000 / counts.size)
    ld.unpersist()
  }

  test("quality calibration: brute-force per-source percentile agreement, ties share ranks") {
    val cal = TextOps.calibrateQuality(docs, keepBp = 2000).cache()
    assert(cal.count() == docs.count(), "every doc labeled")
    val rows = cal.collect().map(r => (r.getLong(0), r.getString(1),
      r.getDouble(2), r.getLong(3), r.getBoolean(4)))
    rows.foreach { case (_, _, _, bp, keep) =>
      assert(bp >= 0 && bp <= 10000 && keep == (bp >= 2000))
    }
    // brute force: basis points of the source strictly below the doc's score
    rows.groupBy(_._2).foreach { case (_, grp) =>
      val qs = grp.map(r => math.round(r._3 * 1e6))
      val n = qs.length.toLong
      grp.foreach { case (id, src, q, bp, _) =>
        val below = qs.count(_ < math.round(q * 1e6)).toLong
        assert(bp == below * 10000 / math.max(n - 1, 1),
          s"cal_bp mismatch for doc $id in $src")
      }
      // ties share: equal micro-score ⇒ equal cal_bp
      grp.groupBy(r => math.round(r._3 * 1e6)).values.foreach(ties =>
        assert(ties.map(_._4).distinct.length == 1))
    }
    cal.unpersist()
  }

  test("batch novelty: full copy scores 0, fresh text scores 10000, bounds hold") {
    import spark.implicits._
    val storedTexts = docs.orderBy(col("doc_id")).limit(5)
      .collect().map(_.getAs[String]("text"))
    val stored = storedTexts.zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toSeq.toDF("doc_id", "text")
    val fresh = (0 until 12).map(i => s"zq$i").mkString(" ")
    val batch = Seq((100L, storedTexts.head), (101L, fresh),
      (102L, storedTexts.head + " " + fresh)).toDF("doc_id", "text")
    val nv = TextOps.batchNovelty(stored, batch, k = 6)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(nv(100L)._2 == 0 && nv(100L)._3 == 0, "verbatim copy must be 0-novel")
    assert(nv(101L)._2 == nv(101L)._1 && nv(101L)._3 == 10000,
      "fresh tokens must be fully novel")
    val (g, n, bp) = nv(102L)
    assert(n > 0 && n < g && bp == n * 10000 / g, "mixed doc is partially novel")
  }

  test("winnowing containment: excerpt is asymmetric, bounds hold, full dup symmetric") {
    import spark.implicits._
    import graft.operators.DedupOps
    val excerpt = (0 until 30).map(i => s"w$i").mkString(" ")
    val full = excerpt + " " + (100 until 160).map(i => s"w$i").mkString(" ")
    val corpus = (Seq((1L, excerpt), (2L, full), (3L, excerpt)) ++
      (10L until 40L).map(i => i -> (0 until 25).map(j => s"u${i}x$j").mkString(" ")))
      .toDF("doc_id", "text")
    val ct = DedupOps.winnowingContainment(corpus,
        TextOps.winnowFingerprints(corpus))
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    ct.values.foreach { case (_, c1, c2) =>
      assert(c1 >= 0 && c1 <= 10000 && c2 >= 0 && c2 <= 10000)
    }
    // excerpt (1) inside full (2): side-1 containment strictly larger
    // (not exactly 10000 — windows crossing the excerpt boundary may
    // select differently in the longer doc; asymmetry is the claim)
    val (_, c1, c2) = ct((1L, 2L))
    assert(c1 > c2, s"excerpt side must contain more: $c1 vs $c2")
    // verbatim duplicate (1,3): symmetric and total
    val (_, d1, d2) = ct((1L, 3L))
    assert(d1 == 10000 && d2 == 10000)
  }

  test("projected topk with an exhaustive prefilter equals brute force") {
    // m >= corpus size means no candidate is pruned, so the exact rerank
    // must reproduce brute force row for row — the prefilter is then pure
    // cost, which is exactly the degeneracy that proves it changes nothing
    // but the candidate set
    val qs = embs.filter(col("vec_id") % 100 === 0)
    val proj = SimilarityOps.topKProjected(embs, qs, k = 3,
      m = embs.count().toInt)
      .select(col("qid"), col("nid"), col("rank"), col("cos"))
    val bf = SimilarityOps.topKBruteForce(embs, qs, 3)
      .select(col("qid"), col("nid"), col("rank"), col("cos"))
    assert(proj.exceptAll(bf).isEmpty && bf.exceptAll(proj).isEmpty)
  }

  test("sq8 topk with an exhaustive shortlist equals brute force") {
    // m >= corpus size: no candidate pruned by the integer-code shortlist,
    // so the exact rerank must reproduce brute force row for row
    val qs = embs.filter(col("vec_id") % 100 === 0)
    val sq = SimilarityOps.sq8TopK(embs, qs, k = 3, m = embs.count().toInt)
      .select(col("qid"), col("nid"), col("rank"), col("cos"))
    val bf = SimilarityOps.topKBruteForce(embs, qs, 3)
      .select(col("qid"), col("nid"), col("rank").cast("int").as("rank"),
        col("cos"))
    assert(sq.exceptAll(bf).isEmpty && bf.exceptAll(sq).isEmpty)
  }

  test("bm25 prf: expansion recovers a doc sharing no term with the query") {
    import spark.implicits._
    // query (id 0 ≡ 0 mod 97) shares "x y" with the bridge doc; the target
    // doc has ONLY the bridge's other vocabulary — invisible to plain
    // bm25, reachable through the feedback expansion
    val corpus = (Seq(
      0L -> "x y x y x y",
      1L -> "x y q r q r",
      2L -> "q r q r q r") ++
      (10L until 40L).map(i => i -> s"f$i g$i f$i g$i")).toDF("doc_id", "text")
    val plain = SimilarityOps.bm25TopK(tfOf(corpus), k = 5)
      .filter(col("qid") === 0).collect().map(_.getLong(1)).toSet
    val prf = SimilarityOps.bm25Prf(tfOf(corpus), k = 5)
      .filter(col("qid") === 0).collect()
    assert(!plain.contains(2L), "plain bm25 cannot see the no-shared-term doc")
    assert(prf.map(_.getLong(1)).contains(2L),
      s"prf must recover doc 2 via expansion: ${prf.mkString(",")}")
    // ranks contiguous from 1, scores non-increasing
    val ranks = prf.map(_.getInt(3)).sorted
    assert(ranks.head == 1 && ranks.sameElements(1 to ranks.length))
    assert(prf.sortBy(_.getInt(3)).map(_.getLong(2)).sliding(2).forall {
      case Array(a, b) => a >= b; case _ => true })
  }

  test("hybrid rrf: fusion equals the integer rank formula over the two lists") {
    val out = SimilarityOps.hybridRrf(tfOf(docs), embs, k = 3, queryMod = 100)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (Option(r.get(2)).map(_.asInstanceOf[Int]),
          Option(r.get(3)).map(_.asInstanceOf[Int]),
          r.getLong(4), r.getInt(5))).toMap
    val lex = SimilarityOps.bm25TopK(tfOf(docs), k = 3, queryMod = 100)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(3)).toMap
    val den = SimilarityOps.topKBruteForce(embs,
        embs.filter(col("vec_id") % 100 === 0), 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        r.getInt(r.fieldIndex("rank"))).toMap
    assert(out.keySet == lex.keySet ++ den.keySet, "union of both lists")
    out.foreach { case (key, (lr, dr, micro, _)) =>
      assert(lr == lex.get(key) && dr == den.get(key))
      val exp = lr.map(r => 1000000L / (60 + r)).getOrElse(0L) +
        dr.map(r => 1000000L / (60 + r)).getOrElse(0L)
      assert(micro == exp, s"rrf_micro mismatch at $key")
    }
    // fused ranks are a permutation of 1..n per query, ordered by score
    out.groupBy(_._1._1).foreach { case (_, g) =>
      val byRank = g.values.toSeq.sortBy(_._4)
      assert(byRank.map(_._4) == (1 to g.size))
      assert(byRank.map(_._3).sliding(2).forall {
        case Seq(a, b) => a >= b; case _ => true })
    }
  }

  test("ivf-sq8 with one cell and an exhaustive shortlist equals brute force") {
    // cells=1: every vector lands in the lone cell, so the probe sees the
    // full corpus; m=corpus removes the shortlist prune — the composed
    // index must then reproduce brute force row for row
    val pred = col("vec_id") % 100 === 0
    val ivf = SimilarityOps.ivfSq8TopK(embs, pred, k = 3,
      m = embs.count().toInt, cells = 1, nprobe = 1)
      .select(col("qid"), col("nid"), col("rank"), col("cos"))
    val bf = SimilarityOps.topKBruteForce(embs, embs.filter(pred), 3)
      .select(col("qid"), col("nid"), col("rank").cast("int").as("rank"),
        col("cos"))
    assert(ivf.exceptAll(bf).isEmpty && bf.exceptAll(ivf).isEmpty)
  }

  test("knn graph: ranks bounded, mutual flag = reversed edge present, local icos mirror") {
    val g = SimilarityOps.knnGraph(embs, k = 3, bits = 1).cache()
    val rows = g.collect().map(r => (r.getLong(0), r.getLong(1),
      r.getInt(2), r.getLong(3), r.getBoolean(4)))
    assert(rows.nonEmpty && rows.forall { case (s, d, rk, _, _) =>
      s != d && rk >= 1 && rk <= 3 })
    // at most k edges per src, ranks distinct within src
    rows.groupBy(_._1).foreach { case (_, es) =>
      assert(es.length <= 3 && es.map(_._3).distinct.length == es.length)
    }
    val edgeSet = rows.map(e => (e._1, e._2)).toSet
    rows.foreach { case (s, d, _, _, m) =>
      assert(m == edgeSet.contains((d, s)), s"mutual flag wrong for ($s,$d)")
    }
    // icos mirrors the local floor(x/nrm*1e6) integer dot for one edge
    val vecs = embs.collect().map(r =>
      r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble)).toMap
    def codes(v: Seq[Double]): Seq[Long] = {
      val n = math.sqrt(v.map(x => x * x).sum)
      if (n > 0) v.map(x => math.floor(x / n * 1000000).toLong)
      else v.map(_ => 0L)
    }
    val (s0, d0, _, icos0, _) = rows.minBy(e => (e._1, e._2))
    val exp = codes(vecs(s0)).zip(codes(vecs(d0))).map { case (a, b) => a * b }.sum
    assert(icos0 == exp, s"icos mismatch on ($s0,$d0)")
    g.unpersist()
  }

  test("knn clusters: every vector labeled once, labels = union-find over mutual positive edges") {
    val cl = SimilarityOps.knnClusters(embs,
        SimilarityOps.knnGraph(embs, k = 3, bits = 1), minIcos = 0L)
      .cache()
    val n = embs.count()
    assert(cl.count() == n && cl.select(col("vec_id")).distinct().count() == n)
    // local union-find over the same mutual, icos>=0, src<dst edge set
    val me = SimilarityOps.knnGraph(embs, k = 3, bits = 1)
      .filter(col("mutual") && col("icos") >= 0 && col("src") < col("dst"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val parent = scala.collection.mutable.Map[Long, Long]()
    embs.select(col("vec_id")).collect().foreach(r =>
      parent(r.getLong(0)) = r.getLong(0))
    def find(x: Long): Long =
      if (parent(x) == x) x else { parent(x) = find(parent(x)); parent(x) }
    me.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val expComp = parent.keys.map(v => v -> find(v)).toMap
    val expSize = expComp.groupBy(_._2).map { case (c, m) => c -> m.size.toLong }
    cl.collect().foreach { r =>
      val (v, c, sz) = (r.getLong(0), r.getLong(1), r.getLong(2))
      assert(c == expComp(v), s"cluster label wrong for $v")
      assert(sz == expSize(c), s"cluster size wrong for $v")
    }
    cl.unpersist()
  }

  test("random projection: layout-independent and exact against a local mirror") {
    val rp = SimilarityOps.randomProject(embs).cache()
    val again = SimilarityOps.randomProject(embs.repartition(7))
    assert(rp.exceptAll(again).isEmpty, "projection must not depend on layout")
    // local mirror of one vector: same quantization, same md5-parity signs
    val one = embs.orderBy(col("vec_id")).limit(1).collect()(0)
    val q = one.getSeq[Float](1).map(x => math.round(x.toDouble * 1000000))
    def sign(i: Int, j: Int): Long = {
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$i-$j".getBytes("UTF-8"))
      if (((h(0) >> 4) & 1) == 0) 1L else -1L
    }
    val exp = (0 until 16).map(j =>
      (0 until 64).map(i => sign(i, j) * q(i)).sum).mkString(",")
    val got = rp.filter(col("vec_id") === one.getLong(0)).head.getString(1)
    assert(got == exp)
    rp.unpersist()
  }

  test("temperature sample: micro-rates mirror sqrt share; every row labeled") {
    import graft.operators.SamplingOps
    val ts = SamplingOps.temperatureSample(
      docs.select(col("doc_id"), col("source")), "source", "doc_id").cache()
    assert(ts.count() == docs.count())
    val n = docs.count().toDouble
    val shares = docs.groupBy(col("source")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    ts.select(col("source"), col("w_micro")).distinct().collect().foreach { r =>
      val exp = math.round(math.sqrt(shares(r.getString(0)) / n) * 1000000L)
      assert(r.getAs[Long]("w_micro") == exp,
        s"w_micro mismatch for ${r.getString(0)}")
    }
    // flattening: a source's keep RATE (w_micro) must be >= its share —
    // sqrt(x) >= x on [0,1] — so small sources are kept near-whole
    ts.select(col("source"), col("w_micro")).distinct().collect().foreach { r =>
      val share = shares(r.getString(0)) / n
      assert(r.getAs[Long]("w_micro") >= math.floor(share * 1e6))
    }
    ts.unpersist()
  }

  test("lsh precision: one verdict per candidate pair, cloned doc is a true positive") {
    val clone = docs.orderBy(col("doc_id")).limit(1)
      .select((col("doc_id") + 9000000L).as("doc_id"), col("text"))
    val mini = docs.limit(40).select(col("doc_id"), col("text")).union(clone)
    val pairs = lshPairsOf(mini)
    val prec = DedupOps.lshPrecision(pairs, shingleSetOf(mini)).cache()
    assert(prec.count() == pairs.select(col("id1"), col("id2")).distinct().count(),
      "exactly one audited row per candidate pair")
    // the exact clone collides in every band and has inter = uni
    val cloneRow = prec.filter(col("id2") === 9000000L ||
      col("id1") === 9000000L).collect()
    assert(cloneRow.nonEmpty && cloneRow.forall(r =>
      r.getAs[Boolean]("true_pos") &&
        r.getAs[Long]("inter") == r.getAs[Long]("uni")))
    // verdicts agree with an independently computed exact jaccard
    val truth = DedupOps.ngramJaccardPairs(shingleSetOf(mini), minJaccard = 0.0)
      .select(col("id1"), col("id2"), col("jaccard"))
    prec.join(truth, Seq("id1", "id2")).collect().foreach { r =>
      assert(r.getAs[Boolean]("true_pos") == (r.getAs[Double]("jaccard") >= 0.5))
    }
    prec.unpersist()
  }

  test("lsh topk is a subset-ranking consistent with brute force") {
    val qs = embs.filter(col("vec_id") % 100 === 0)
    val lsh = SimilarityOps.topKLsh(embs, qs, 3)
    // every LSH neighbor must share the query's bucket by construction;
    // ranks within a query strictly increase
    lsh.groupBy(col("qid")).agg(max(col("rank")).as("mx"), count(lit(1)).as("n"))
      .collect().foreach { r =>
        assert(r.getAs[Int]("mx") == r.getAs[Long]("n"))
      }
  }

  test("text quality: ratios in [0,1], quality in [0,1], langid stable") {
    TextOps.annotate(docs.limit(100)).collect().foreach { r =>
      Seq("stopword_ratio", "punct_ratio", "digit_ratio", "non_ascii_ratio",
        "quality").foreach { c =>
        val v = r.getAs[Double](c)
        assert(v >= 0.0 && v <= 1.0, s"$c=$v")
      }
      assert(Seq("en", "unk", "non_latin").contains(r.getAs[String]("lang_pred")))
    }
  }

  test("fingerprint is order-sensitive") {
    import spark.implicits._
    val two = Seq((1L, "alpha beta gamma"), (2L, "gamma beta alpha")).toDF("doc_id", "text")
    val fps = two.select(TextOps.docFingerprint(col("text")).as("fp"))
      .collect().map(_.getAs[Long]("fp"))
    assert(fps(0) != fps(1))
  }

  /** Local BigInt mirror of the BM25 integer pipeline (same tokenize →
    * bigram → tf/df/dl → quantized avgdl → idf_i/tfq/w formulas), for the
    * exact-differential test below. */
  private def bm25Mirror(rows: Seq[(Long, String)], maxDfPct: Int,
                         queryMod: Long, k: Int): Set[(Long, Long, Long, Int)] = {
    def grams(text: String): Seq[String] = {
      val t = text.toLowerCase.split("\\s+").toSeq
      if (t.length >= 2) t.sliding(2).map(_.mkString(" ")).toSeq
      else Seq(t.mkString(" "))
    }
    val tf = rows.flatMap { case (id, tx) => grams(tx).map((id, _)) }
      .groupBy(identity).map { case ((id, g), xs) => (id, g, xs.size.toLong) }
      .toSeq
    val dl = tf.groupBy(_._1).map { case (id, xs) => id -> xs.map(_._3).sum }
    val n = dl.size.toLong
    val avgQ = dl.values.sum * 1000L / n
    val idf = tf.groupBy(_._2).map { case (g, xs) => g -> xs.size.toLong }
      .filter { case (_, df) => df * 100 <= n * maxDfPct }
      .map { case (g, df) => g -> (n - df) * 1000L / df }
    val w = tf.collect { case (id, g, t) if idf.contains(g) =>
      val d = dl(id)
      ((id, g), idf(g) * ((22L * avgQ * t * 10000L) /
        (10L * avgQ * t + 3L * avgQ + 9000L * d)))
    }.toMap
    val qTerms = w.keys.toSeq.filter(_._1 % queryMod == 0)
    val scores = for {
      (qid, g) <- qTerms
      ((nid, g2), wv) <- w if g2 == g && nid != qid
    } yield ((qid, nid), wv)
    scores.groupBy(_._1).toSeq
      .map { case ((qid, nid), xs) => (qid, nid, xs.map(_._2).sum) }
      .groupBy(_._1).flatMap { case (_, perQ) =>
        perQ.sortBy { case (_, nid, s) => (-s, nid) }.zipWithIndex
          .take(k).map { case ((qid, nid, s), i) => (qid, nid, s, i + 1) }
      }.toSet
  }

  test("bm25: exact differential vs the local integer mirror; rare term outranks common") {
    import spark.implicits._
    // even ids are queries (queryMod = 2); "rare term" is shared only by
    // docs 0+1, "common term" by docs 0,3,5,7 — equal tf and dl, so the
    // idf spread alone must rank doc 1 first
    val rows = Seq(
      (0L, "rare term common term"),
      (1L, "rare term filler one two"),
      (3L, "common term filler three four"),
      (5L, "common term filler five six"),
      (7L, "common term filler seven eight"),
      (9L, "unrelated junk text nine ten"))
    val got = SimilarityOps.bm25TopK(tfOf(rows.toDF("doc_id", "text")),
        k = 5, maxDfPct = 80, queryMod = 2)
      .select("qid", "nid", "score_i", "rank")
      .as[(Long, Long, Long, Int)].collect().toSet
    val want = bm25Mirror(rows, maxDfPct = 80, queryMod = 2, k = 5)
    assert(got == want, s"got=$got\nwant=$want")
    val q0 = got.filter(_._1 == 0L).toSeq.sortBy(_._4)
    assert(q0.head._2 == 1L, s"rare-term doc must rank first for q0: $q0")
    // saturation: tf'd-up common term still cannot overtake the rare term
    // (BM25's bounded tf gain vs idf spread)
    // repeat "common term" through a spacer so no NEW query bigram
    // ("term common") appears — only tf("common term") rises
    val rows2 = rows.map { case (3L, _) =>
        (3L, "common term filler common term filler common term filler")
      case r => r }
    val got2 = SimilarityOps.bm25TopK(tfOf(rows2.toDF("doc_id", "text")),
        k = 5, maxDfPct = 80, queryMod = 2)
      .select("qid", "nid", "score_i", "rank")
      .as[(Long, Long, Long, Int)].collect().toSet
    assert(got2 == bm25Mirror(rows2, maxDfPct = 80, queryMod = 2, k = 5))
    val q0b = got2.filter(_._1 == 0L).toSeq.sortBy(_._4)
    assert(q0b.head._2 == 1L, s"saturated tf must not beat idf: $q0b")
    intercept[IllegalArgumentException] {
      SimilarityOps.bm25TopK(tfOf(rows.toDF("doc_id", "text")), k = 0)
    }
    intercept[IllegalArgumentException] {
      SimilarityOps.bm25TopK(tfOf(rows.toDF("doc_id", "text")), queryMod = 1)
    }
  }

  test("bm25: seeded randomized differential (60 docs, shared small vocabulary)") {
    import spark.implicits._
    // adversarial for ranking: a tiny vocabulary forces heavy bigram
    // collisions, df-cap boundary hits, and score ties (exercising the
    // (score desc, nid) tie-break) — everything the hand fixture can't
    val rnd = new scala.util.Random(0x9B25)
    val vocab = Vector("the", "data", "spark", "row", "scan", "x", "agg")
    val rows = (0L until 60L).map { i =>
      val len = 1 + rnd.nextInt(14)
      (i, Vector.fill(len)(vocab(rnd.nextInt(vocab.size))).mkString(" "))
    }
    val got = SimilarityOps.bm25TopK(tfOf(rows.toDF("doc_id", "text")),
        k = 4, maxDfPct = 60, queryMod = 7)
      .select("qid", "nid", "score_i", "rank")
      .as[(Long, Long, Long, Int)].collect().toSet
    assert(got == bm25Mirror(rows, maxDfPct = 60, queryMod = 7, k = 4))
    assert(got.nonEmpty)
  }

  test("contrastive pairs: label partition is exact, ranks contiguous, cos ordered") {
    val out = SimilarityOps.contrastivePairs(embs, k = 4).collect()
    assert(out.nonEmpty)
    val qLabel = embs.filter(col("vec_id") % 100 === 0)
      .select("vec_id", "label").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    out.foreach { r =>
      val qid = r.getAs[Long]("qid")
      val pt = r.getAs[String]("pair_type")
      val nl = r.getAs[Int]("n_label")
      assert(if (pt == "pos") nl == qLabel(qid) else nl != qLabel(qid),
        s"pair_type $pt mislabeled: q=$qid n_label=$nl q_label=${qLabel(qid)}")
      assert(r.getAs[Long]("qid") != r.getAs[Long]("nid"))
    }
    // per (qid, type): ranks are 1..n and cos is non-increasing in rank
    out.groupBy(r => (r.getAs[Long]("qid"), r.getAs[String]("pair_type")))
      .foreach { case (_, rs) =>
        val sorted = rs.sortBy(_.getAs[Int]("rank"))
        assert(sorted.map(_.getAs[Int]("rank")).toSeq == (1 to rs.length))
        val cs = sorted.map(_.getAs[Double]("cos")).toSeq
        assert(cs.zip(cs.tail).forall { case (a, b) => a >= b },
          s"cos must be non-increasing: $cs")
      }
    intercept[IllegalArgumentException] {
      SimilarityOps.contrastivePairs(embs, k = 0)
    }
  }

  /** Local mirror of the MMR greedy trajectory: same ascending-order dot,
    * same micro-cosine HALF_UP quantization, same integer scores and
    * (score desc, nid asc) tie-break. */
  private def mmrLocal(vecs: Seq[(Long, Array[Double])], k: Int, m: Int,
                       lam: Int, qmod: Long): Set[(Long, Long, Int, Long)] = {
    def dotA(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var i = 0
      while (i < a.length) { d += a(i) * b(i); i += 1 }
      d
    }
    def cosQ(a: Array[Double], b: Array[Double]): Long =
      BigDecimal(1e6 * dotA(a, b) /
          (math.sqrt(dotA(a, a)) * math.sqrt(dotA(b, b))))
        .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
    val mu = 100 - lam
    vecs.filter(_._1 % qmod == 0).flatMap { case (qid, qv) =>
      val cands = vecs.filter(_._1 != qid)
        .map { case (nid, cv) => (nid, cosQ(qv, cv), cv) }
        .sortBy { case (nid, relq, _) => (-relq, nid) }.take(m)
      val sims = (for {
        (a, _, av) <- cands; (b, _, bv) <- cands if a != b
      } yield ((a, b), cosQ(av, bv))).toMap
      var selected = Vector((cands.head._1, 1, lam.toLong * cands.head._2))
      for (r <- 2 to math.min(k, cands.length)) {
        val selIds = selected.map(_._1).toSet
        val pick = cands.filterNot(c => selIds.contains(c._1))
          .map { case (nid, relq, _) =>
            val maxsim = selIds.map(s => sims((nid, s))).max
            (nid, lam.toLong * relq - mu.toLong * maxsim)
          }
        val best = pick.minBy { case (nid, sc) => (-sc, nid) }
        selected :+= ((best._1, r, best._2))
      }
      selected.map { case (nid, r, sc) => (qid, nid, r, sc) }
    }.toSet
  }

  test("mmr rerank: exact differential vs the local greedy mirror; λ=100 is pure relevance") {
    import spark.implicits._
    val vecs = embs.select(col("vec_id"),
        col("embedding").cast("array<double>"))
      .as[(Long, Array[Double])].collect().toSeq.sortBy(_._1)
    val got = SimilarityOps.mmrRerank(embs, k = 5, m = 10, lambdaPct = 70,
        queryMod = 10)
      .select("qid", "nid", "mmr_rank", "score_i")
      .as[(Long, Long, Int, Long)].collect().toSet
    val want = mmrLocal(vecs, k = 5, m = 10, lam = 70, qmod = 10)
    assert(got == want, s"sizes got=${got.size} want=${want.size}")
    // λ = 100: greedy degenerates to pure relevance order — picks must be
    // the top-k candidates in (relq desc, nid) order
    val got100 = SimilarityOps.mmrRerank(embs, k = 3, m = 10,
        lambdaPct = 100, queryMod = 10)
      .select("qid", "nid", "mmr_rank", "score_i")
      .as[(Long, Long, Int, Long)].collect().toSet
    assert(got100 == mmrLocal(vecs, k = 3, m = 10, lam = 100, qmod = 10))
    intercept[IllegalArgumentException] {
      SimilarityOps.mmrRerank(embs, k = 0)
    }
    intercept[IllegalArgumentException] {
      SimilarityOps.mmrRerank(embs, k = 6, m = 5)
    }
    intercept[IllegalArgumentException] {
      SimilarityOps.mmrRerank(embs, lambdaPct = 101)
    }
  }

  test("recall@k: identity is full recall, misses count exactly, missed queries keep rows") {
    import spark.implicits._
    val ex = Seq((1L, 10L), (1L, 11L), (1L, 12L), (2L, 20L)).toDF("qid", "nid")
    val idr = SimilarityOps.recallAtK(ex, ex)
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(idr == Set((1L, 3L, 3L, 1000000L), (2L, 1L, 1L, 1000000L)))
    // approx finds 1 of 3 for q1, nothing for q2 — q2 must still appear
    val ap = Seq((1L, 10L), (1L, 99L)).toDF("qid", "nid")
    val pr = SimilarityOps.recallAtK(ap, ex)
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(pr == Set((1L, 3L, 1L, 333333L), (2L, 1L, 0L, 0L)))
  }

  test("source overlap: identical sources fully contained, disjoint absent, partial exact") {
    import spark.implicits._
    val fx = Seq(
      (1L, "a b c d e", "s1"),
      (2L, "a b c d e", "s2"), // identical vocabulary to s1
      (3L, "x y z w q", "s3"), // disjoint — must produce NO pair rows
      (4L, "a b c zz ww", "s4") // shares exactly the "a b c" gram
    ).toDF("doc_id", "text", "source")
    val got = DedupOps.sourceOverlap(fx, DedupOps.shingleHashSet(fx))
      .as[(String, String, Long, Long, Long, Long)].collect().toSet
    assert(got == Set(
      ("s1", "s2", 3L, 3L, 3L, 1000000L),
      ("s1", "s4", 1L, 3L, 3L, 333333L),
      ("s2", "s4", 1L, 3L, 3L, 333333L)), s"got $got")
    intercept[IllegalArgumentException] {
      DedupOps.sourceOverlap(fx, DedupOps.shingleHashSet(fx, n = 0))
    }
  }

  test("mmr rerank: randomized lattice differential (ties forced, tie-break exercised)") {
    import spark.implicits._
    // vectors drawn from a tiny integer lattice → repeated cosines →
    // micro-score ties, so the (score desc, nid) tie-break decides picks
    val rnd = new scala.util.Random(0x33A1)
    val lattice = Seq(0.0f, 0.5f, 1.0f)
    val vecs = (0L until 40L).map { i =>
      val v = Array.fill(8)(lattice(rnd.nextInt(lattice.size)))
      v(0) = 1.0f // no all-zero vectors (cosine undefined)
      (i, v)
    }
    val df = vecs.map { case (id, v) => (id, v) }.toDF("vec_id", "embedding")
    val got = SimilarityOps.mmrRerank(df, k = 4, m = 8, lambdaPct = 50,
        queryMod = 5)
      .select("qid", "nid", "mmr_rank", "score_i")
      .as[(Long, Long, Int, Long)].collect().toSet
    val want = mmrLocal(vecs.map { case (id, v) => (id, v.map(_.toDouble)) },
      k = 4, m = 8, lam = 50, qmod = 5)
    assert(got == want, s"sizes got=${got.size} want=${want.size}")
    assert(got.nonEmpty)
  }

  test("canonical select: keep-best by quality, keep-min-id on ties, singletons kept") {
    import spark.implicits._
    val fixture = Seq(
      (1L, "shared text alpha", 40L),
      (2L, "shared text alpha plus extra", 55L),
      (7L, "unique text here", 30L)
    ).toDF("doc_id", "text", "n_chars")
    val pairs = Seq((1L, 2L, 1.0)).toDF("id1", "id2", "est_jaccard")
    val got = DedupOps.canonicalSelect(fixture, pairs)
      .select("cluster_id", "kept_doc_id", "kept_quality", "cluster_size")
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(got == Set((1L, 2L, 55L, 2L), (7L, 7L, 30L, 1L)),
      s"keep-best must pick the longer copy and keep the singleton: $got")
    // tie on quality → smallest id wins
    val tied = Seq(
      (1L, "shared text alpha", 40L),
      (2L, "shared text alpha", 40L),
      (7L, "unique text here", 30L)
    ).toDF("doc_id", "text", "n_chars")
    val got2 = DedupOps.canonicalSelect(tied, pairs)
      .select("cluster_id", "kept_doc_id", "kept_quality", "cluster_size")
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(got2 == Set((1L, 1L, 40L, 2L), (7L, 7L, 30L, 1L)),
      s"quality tie must break to the smaller id: $got2")
  }
}
