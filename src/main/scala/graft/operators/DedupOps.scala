package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.GraftFunctions._

/** Deduplication operators for large-scale corpora.
  *
  * Design for 100 TB:
  *  - every candidate-generation step is a hash-partitioned groupBy/join on a
  *    SMALL key (digest / band signature / shingle), never an all-pairs
  *    product;
  *  - signatures are computed row-local with codegen'd higher-order array
  *    functions (single map stage, no UDFs);
  *  - all signature arithmetic is 64-bit integer (md5-derived), so results
  *    are independent of partitioning, shuffle order, and engine.
  *
  * The reference engine (a Flink fork) has no dedup library; these are the
  * LLM-pipeline operators from BASELINE.json's north star.
  */
object DedupOps {

  /** MinHash parameters: K permutations split into B bands of R rows.
    * P(candidate | jaccard=j) = 1 - (1 - j^R)^B — with 16/4/4 the usual
    * S-curve centered near j≈0.55. */
  val NumPerm = 16
  val Bands = 4
  val RowsPerBand = 4
  val MinHashP = 1000000007L

  /** Exact dedup: digest-groupBy. Returns the input plus `is_kept`
    * (true for the lowest doc_id of each identical-text group) and
    * `group_size`. One shuffle on the 128-bit digest — the digest is tiny
    * and uniformly distributed, so this scales linearly. */
  def exact(docs: DataFrame): DataFrame = {
    val w = Window.partitionBy(md5(col("text")))
    docs
      .withColumn("group_size", count(lit(1)).over(w))
      .withColumn("is_kept", col("doc_id") === min(col("doc_id")).over(w))
  }

  /** Per-permutation MinHash over word `n`-gram shingles:
    * sig[i] = min over shingles s of ((H(s) mod P)·(2i+1) + i·12582917) mod P.
    * Row-local, integer-exact.
    *
    * NOTE: Catalyst higher-order lambdas inline their argument expressions —
    * the outer K-permutation transform re-evaluates the md5 pipeline K times
    * per row. Fine for ad-hoc column use; the pipeline operators take the
    * relational [[minhashSignatures]] table instead. */
  def minhashSignature(text: Column, n: Int = 3): Column = {
    val hs = transform(array_distinct(shingles(tokens(text), n)),
      s => stableHash(s) % MinHashP)
    transform(sequence(lit(1), lit(NumPerm)), i =>
      array_min(transform(hs, h =>
        (h * (i * 2 + 1) + i * lit(12582917L)) % MinHashP)))
  }

  /** Relational per-doc shingle hashes (id, h = 60-bit md5 hash of each
    * word n-gram, NOT deduplicated): `posexplode` + window `lead`s build
    * the grams entirely inside whole-stage codegen — measured ~3× faster
    * than the per-row higher-order-lambda form on the sf0.1 corpus. Same
    * gram semantics as [[graft.functions.GraftFunctions.shingles]],
    * including the <n-token whole-string fallback. */
  private def shingleHashes(docs: DataFrame, n: Int): DataFrame = {
    require(n >= 1, s"shingle width must be >= 1: $n")
    // repartition BEFORE tokenizing: the window below needs a hash exchange
    // on id anyway — hoisting it above the posexplode ships compact text
    // rows instead of exploded tokens AND spreads the regex/md5 work across
    // cores when the input is a single file split (the fixture shape; a
    // many-file corpus is parallel either way)
    val toks = docs.repartition(col("doc_id"))
      .select(col("doc_id").as("id"),
        posexplode(tokens(col("text"))).as(Seq("pos", "tok")))
    val wLead = Window.partitionBy(col("id")).orderBy(col("pos"))
    val wCnt = Window.partitionBy(col("id"))
    val parts = col("tok") +: (1 until n).map(k => lead(col("tok"), k).over(wLead))
    val gram =
      if (n == 1) col("tok")
      else {
        // cnt >= n: strict n-gram (all leads present). cnt < n: the whole
        // token string as the single fallback shingle, emitted at pos 0 —
        // concat_ws skips the null leads, which is exactly the join of all
        // tokens when the doc is shorter than the gram
        val cnt = count(lit(1)).over(wCnt)
        when(cnt >= n,
          when(parts.tail.map(_.isNotNull).reduce(_ && _),
            concat_ws(" ", parts: _*)))
          .otherwise(when(col("pos") === 0, concat_ws(" ", parts: _*)))
      }
    toks.select(col("id"), gram.as("str"))
      .filter(col("str").isNotNull)
      .select(col("id"), stableHash(col("str")).as("h"))
  }

  /** Relational MinHash signatures (id, sig): one md5 pass over exploded
    * shingles, then K codegen'd `min` aggregates with map-side combine —
    * the 100 TB form. Duplicate shingles are deliberately NOT removed:
    * `min` is idempotent over duplicates, so the signature is identical
    * and the distinct shuffle is saved (the oracle's `list_distinct` is
    * equally irrelevant to its `min`). */
  def minhashSignatures(docs: DataFrame, n: Int = 3): DataFrame =
    minhashSignaturesFromHashes(shingleHashes(docs, n))

  /** LSH band signatures: the K-wide signature cut into B bands of R values,
    * each band serialized to a join key. */
  def bandSignatures(sig: Column): Column =
    transform(sequence(lit(0), lit(Bands - 1)), b =>
      array_join(slice(sig, b * RowsPerBand + 1, lit(RowsPerBand)), "-"))

  /** (id, band, bsig) rows of a signature table. */
  private def bandsOf(sigs: DataFrame): DataFrame = sigs.select(col("id"),
    posexplode(bandSignatures(col("sig"))).as(Seq("band", "bsig")))

  /** Band rows minus the hot buckets: a degenerate band signature shared by
    * k docs emits k²/2 join rows on ONE key — the quadratic-blowup /
    * straggler shape at corpus scale. Buckets over `maxBandFreq` carry no
    * near-dup signal (they are boilerplate collisions), so they are dropped
    * from the join. `bands` is read twice (the bucket count and the
    * anti-join probe): pass it materialized. */
  private def coolBands(bands: DataFrame, maxBandFreq: Long): DataFrame = {
    val hot = bands.groupBy(col("band"), col("bsig"))
      .agg(count(lit(1)).as("df")).filter(col("df") > maxBandFreq)
      .select(col("band"), col("bsig"))
    bands.join(hot, Seq("band", "bsig"), "left_anti")
  }

  /** Fraction of equal positions of two K-wide signatures: an exact k/16
    * rational, so the estimate is deterministic. */
  private def estJaccard(sig1: Column, sig2: Column): Column =
    ((1 to NumPerm).map(i =>
      when(element_at(sig1, i) === element_at(sig2, i), 1)
        .otherwise(0)).reduceLeft(_ + _)
      .cast("double") / NumPerm).as("est_jaccard")

  /** MinHash+LSH near-duplicate candidate pairs over a [[minhashSignatures]]
    * table (id, sig), read three times (band explode and both join-backs):
    * pass it materialized.
    * Output: (id1, id2, n_bands, est_jaccard) for pairs colliding in ≥1 band.
    * The only shuffles are the band-key self-join and the pair groupBy,
    * both on small uniformly-hashed keys. */
  def minhashLshPairs(sigs: DataFrame,
                      maxBandFreq: Long = 10000L): DataFrame = {
    // materialized once: the hot-bucket scan, the anti-join probe, and both
    // self-join sides would otherwise each replay the band explode
    val bands = coolBands(bandsOf(sigs).localCheckpoint(), maxBandFreq)
    val a = bands.as("a"); val b = bands.as("b")
    val pairs = a.join(b, col("a.band") === col("b.band") &&
        col("a.bsig") === col("b.bsig") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id1"), col("b.id").as("id2"))
      .agg(count(lit(1)).as("n_bands"))
    // join the (small) signature table back per side — cheaper than carrying
    // both arrays through the band join + groupBy
    pairs
      .join(sigs.select(col("id").as("id1"), col("sig").as("sig1")), "id1")
      .join(sigs.select(col("id").as("id2"), col("sig").as("sig2")), "id2")
      .select(col("id1"), col("id2"), col("n_bands"),
        estJaccard(col("sig1"), col("sig2")))
  }

  /** Incremental near-duplicate detection: probe NEW documents against the
    * band index of an EXISTING corpus snapshot — the per-ingest-batch shape
    * a production pipeline actually runs (the full-corpus re-pair of
    * [[minhashLshPairs]] is the bootstrap, this is the steady state). Only
    * new×old candidates are generated: the snapshot is never self-joined
    * (its intra-pairs were resolved when IT was ingested), so each ingest
    * costs O(|new| + collisions), independent of |old|² — at 100 TB the
    * old band index is precomputed once, stored bucketed on (band, bsig),
    * and this probe is a co-located join against it. The hot-bucket cap is
    * computed on the INDEX side (boilerplate buckets carry no near-dup
    * signal and would make every future ingest pay their fan-out).
    * Both sides are [[minhashSignatures]] tables; signatures are row-local,
    * so id-filtered slices of one corpus-wide table serve as the two sides.
    * Output: (new_id, old_id, n_bands, est_jaccard). */
  def incrementalMinhashPairs(oldSigs: DataFrame, newSigs: DataFrame,
                              maxBandFreq: Long = 10000L): DataFrame = {
    val idx = coolBands(bandsOf(oldSigs).localCheckpoint(), maxBandFreq)
    val pairs = bandsOf(newSigs).as("a")
      .join(idx.as("b"),
        col("a.band") === col("b.band") && col("a.bsig") === col("b.bsig"))
      .groupBy(col("a.id").as("new_id"), col("b.id").as("old_id"))
      .agg(count(lit(1)).as("n_bands"))
    pairs
      .join(newSigs.select(col("id").as("new_id"), col("sig").as("sig1")), "new_id")
      .join(oldSigs.select(col("id").as("old_id"), col("sig").as("sig2")), "old_id")
      .select(col("new_id"), col("old_id"), col("n_bands"),
        estJaccard(col("sig1"), col("sig2")))
  }

  /** SimHash bits per document, relational formulation: explode tokens ×
    * bit positions, one md5 per (token, bit), majority vote per bit.
    * `width` ≤ 62 keeps the packed value in a signed 64-bit long.
    * Scales as a pair of map-side-combining groupBys on doc_id. */
  def simhash(docs: DataFrame, width: Int = 48): DataFrame = {
    // dictionary-encode: hash each DISTINCT token once (md5 dominates; real
    // corpora are zipf-distributed, so |vocab| << |occurrences|), then join
    // the per-token bit votes back weighted by occurrence count
    val toks = docs.select(col("doc_id").as("id"),
      explode(tokens(col("text"))).as("tok"))
    val tokCounts = toks.groupBy(col("id"), col("tok"))
      .agg(count(lit(1)).as("cnt"))
    val vocabVotes = toks.select(col("tok")).distinct()
      .select(col("tok"),
        explode(sequence(lit(0), lit(width - 1))).as("bit"))
      // ±1 vote: bit b of token t = parity of an independent stable hash
      .withColumn("vote",
        stableHash(concat(col("tok"), lit("#"), col("bit"))) % 2 * 2 - 1)
    tokCounts.join(vocabVotes, "tok")
      .groupBy(col("id"), col("bit"))
      .agg(sum(col("vote") * col("cnt")).as("s"))
      .groupBy(col("id"))
      .agg(sum(when(col("s") > 0,
        expr("shiftleft(CAST(1 AS BIGINT), bit)")).otherwise(0L)).as("simhash"))
  }

  /** Edit-distance near-duplicates: SimHash chunk blocking over a
    * [[simhash]] table proposes candidates (pigeonhole-complete for
    * hamming ≤ chunks−1), then exact `levenshtein` (codegen'd built-in)
    * confirms on the pair. The string comparison runs only on blocked
    * candidates — never all pairs — so at corpus scale the cost is the
    * blocking join, and the O(len²) DP only touches near-identical texts. */
  def editDistancePairs(docs: DataFrame, simhashes: DataFrame,
                        maxDist: Int = 8): DataFrame = {
    val texts = docs.select(col("doc_id").as("id"), col("text").as("txt"))
      .localCheckpoint()
    val cand = simhashPairs(simhashes).select(col("id1"), col("id2"))
    // thresholded levenshtein: the banded DP early-exits (returns -1) once
    // the distance provably exceeds maxDist — O(len·maxDist) instead of
    // O(len²) on the non-duplicate majority of candidates
    cand
      .join(texts.select(col("id").as("id1"), col("txt").as("t1")), "id1")
      .join(texts.select(col("id").as("id2"), col("txt").as("t2")), "id2")
      .select(col("id1"), col("id2"),
        levenshtein(col("t1"), col("t2"), maxDist).as("dist"))
      .filter(col("dist") >= 0 && col("dist") <= maxDist)
  }

  /** SimHash near-dup pairs: block on `chunks` sub-signatures (a pair within
    * hamming d of each other collides on ≥1 chunk when d < chunks), then
    * exact hamming via bit_count(xor). */
  def simhashPairs(sims: DataFrame, width: Int = 48, chunks: Int = 4,
                   maxHamming: Int = 3): DataFrame = {
    val cw = width / chunks
    // static unroll: shift amounts must be literals for shiftrightunsigned
    val chunkVals = array((0 until chunks).map(c =>
      shiftrightunsigned(col("simhash"), c * cw) % (1L << cw)): _*)
    val chunked = sims.select(col("id"), col("simhash"),
      posexplode(chunkVals).as(Seq("chunk", "cval")))
    val a = chunked.as("a"); val b = chunked.as("b")
    a.join(b, col("a.chunk") === col("b.chunk") &&
        col("a.cval") === col("b.cval") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id1"), col("b.id").as("id2"),
        bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** Per-doc DISTINCT shingle-hash set (id, h) — the shared raw material
    * of the whole shingle family: MinHash signatures ([[minhashSignaturesFromHashes]]
    * — `min` is insensitive to the dedup) and the exact-Jaccard inverted
    * index both derive from it, so a pipeline stages ONE text scan. */
  def shingleHashSet(docs: DataFrame, n: Int = 3): DataFrame =
    shingleHashes(docs, n).distinct()

  /** MinHash signatures from a precomputed (id, h) shingle-hash table —
    * the post-text-scan half of [[minhashSignatures]]. */
  def minhashSignaturesFromHashes(hashes: DataFrame): DataFrame = {
    val hs = hashes.select(col("id"), (col("h") % MinHashP).as("h"))
    hs.groupBy(col("id")).agg(
      array((1 to NumPerm).map(i =>
        min((col("h") * (2 * i + 1) + lit(i) * 12582917L) % MinHashP)): _*)
        .as("sig"))
  }

  /** Exact n-gram Jaccard similarity for every pair sharing ≥1 shingle of a
    * [[shingleHashSet]] table (read four times — index, sizes and both join
    * sides: pass it materialized). inter/union are integers, the division
    * is a single rational→double step — deterministic. The shingle
    * self-join is the classic inverted-index pattern: shuffle on shingle,
    * never all-pairs. */
  def ngramJaccardPairs(shingleSet: DataFrame, minJaccard: Double = 0.2,
                        maxDocFreq: Long = 10000L): DataFrame = {
    // the index carries the md5-derived 60-bit hash of each shingle, not
    // the string: the self-join shuffles fixed 8-byte keys instead of
    // ~20-40-byte phrases (the exchange IS the cost of this operator at
    // corpus scale). Per-doc distinctness is applied on (id, hash) — a
    // (vanishingly rare) cross-doc collision merges two shingles
    // identically in every engine that uses the same hash — the DuckDB
    // oracle does.
    val sh = shingleSet.select(col("id"), col("h").as("s"))
    val sizes = sh.groupBy(col("id")).agg(count(lit(1)).as("sz"))
    // document-frequency cap: a stop-phrase shingle shared by k docs makes
    // that join key's output k²/2 — quadratic on one reducer. Shingles with
    // df > maxDocFreq are non-discriminative (they move jaccard estimates
    // by at most 1/|union| each) and are dropped from the inverted INDEX
    // only; `sizes` still counts them, so the union denominator is exact.
    val hot = sh.groupBy(col("s")).agg(count(lit(1)).as("df"))
      .filter(col("df") > maxDocFreq).select(col("s"))
    val idx = sh.join(hot, Seq("s"), "left_anti")
    val a = idx.as("a"); val b = idx.as("b")
    val inter = a.join(b, col("a.s") === col("b.s") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id1"), col("b.id").as("id2"))
      .agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.withColumnRenamed("id", "id1").withColumnRenamed("sz", "sz1"), "id1")
      .join(sizes.withColumnRenamed("id", "id2").withColumnRenamed("sz", "sz2"), "id2")
      .withColumn("jaccard",
        col("inter").cast("double") / (col("sz1") + col("sz2") - col("inter")))
      .filter(col("jaccard") >= minJaccard)
      .select(col("id1"), col("id2"), col("inter"), col("jaccard"))
  }

  /** Benchmark decontamination — the gate that keeps held-out eval data
    * out of a training corpus: a corpus document is contaminated when it
    * shares at least `minOverlap` distinct word n-gram shingles with ANY
    * document of the `benchmark` set. The benchmark side reduces to its
    * distinct shingle-hash set — tiny by nature (an eval set is a rounding
    * error next to a training corpus) — and is broadcast, so the corpus
    * side pays one shingle explode plus a map-side-combined per-doc count:
    * no corpus shuffle on the join key at all. Returns every corpus doc
    * with its overlapping-shingle count and the keep verdict. */
  def decontaminate(corpus: DataFrame, benchmark: DataFrame,
                    n: Int = 3, minOverlap: Long = 1L): DataFrame = {
    def sh(df: DataFrame) = df.select(col("doc_id").as("id"),
        explode(array_distinct(shingles(tokens(col("text")), n))).as("str"))
      .select(col("id"), stableHash(col("str")).as("s"))
    val benchSet = sh(benchmark).select(col("s")).distinct()
    // per-doc shingles are distinct pre-join, so the count IS the number
    // of distinct contaminated shingles
    val hits = sh(corpus).join(broadcast(benchSet), Seq("s"))
      .groupBy(col("id")).agg(count(lit(1)).as("hits"))
    corpus.select(col("doc_id"))
      .join(hits.withColumnRenamed("id", "doc_id"), Seq("doc_id"), "left")
      .withColumn("hits", coalesce(col("hits"), lit(0L)))
      .withColumn("is_clean", col("hits") < minOverlap)
  }

  /** End-to-end corpus dedup: exact layer (digest groups keep the lowest
    * id) then near-dup layer (MinHash LSH candidates with estimated
    * jaccard ≥ `minJaccard`; the higher id of each pair is dropped — the
    * standard greedy keep-first policy). Returns the surviving documents.
    * `sigs` is the corpus's [[minhashSignatures]] table. Composition of
    * hash-partitioned stages only — the full pipeline a training-data run
    * executes at scale. */
  def dedupCorpus(docs: DataFrame, sigs: DataFrame,
                  minJaccard: Double = 0.5): DataFrame = {
    val kept = exact(docs).filter(col("is_kept"))
      .drop("is_kept", "group_size")
    // signatures are row-local, so the signature table restricted to the
    // exact-kept survivors (a semi-join on id — far cheaper than re-hashing
    // their text) serves the near-dup layer directly
    val keptSigs = sigs.join(kept.select(col("doc_id").as("id")), Seq("id"),
        "left_semi")
      .localCheckpoint()
    val drops = minhashLshPairs(keptSigs)
      .filter(col("est_jaccard") >= minJaccard)
      .select(col("id2").as("doc_id")).distinct()
    kept.join(drops, Seq("doc_id"), "left_anti")
  }

  /** Near-duplicate clusters: pointer-jumping connected components over the
    * LSH candidate graph `pairs` ([[minhashLshPairs]] output, kept where
    * est_jaccard ≥ minJaccard), labeled by min doc id, with the cluster
    * size alongside. The cluster-preserving variant of [[dedupCorpus]]'s
    * greedy drop: downstream policies (keep longest, keep newest) pick per
    * cluster instead of per pair. `includeSingletons` keeps unpaired docs
    * as their own clusters (the full-corpus view); `false` restricts to
    * docs that participate in at least one pair (the curation view).
    * Composition of hash-partitioned stages + the CC join-iteration —
    * nothing quadratic. The CC supersteps run at the edge-derived
    * partition count of [[graft.graph.GraphAlgorithms.clusterComponents]]. */
  def dedupClusters(docs: DataFrame, pairs: DataFrame,
                    minJaccard: Double = 0.5,
                    includeSingletons: Boolean = true): DataFrame = {
    val edges = pairs.filter(col("est_jaccard") >= minJaccard)
      .select(col("id1"), col("id2")).localCheckpoint()
    val verts =
      if (includeSingletons) docs.select(col("doc_id").as("vid"))
      else edges.select(col("id1").as("vid"))
        .union(edges.select(col("id2").as("vid"))).distinct()
    val cc = graft.graph.GraphAlgorithms.clusterComponents(graft.graph.Graph(
      verts, edges.select(col("id1").as("src"), col("id2").as("dst"))))
    cc.withColumn("cluster_size", count(lit(1)).over(
        Window.partitionBy(col("comp"))))
      .select(col("vid").as("doc_id"), col("comp").as("cluster_id"),
        col("cluster_size"))
  }

  /** Leakage-safe train/valid/test split assignment: the split is a pure
    * function of the NEAR-DUP CLUSTER id, never of the document id, so
    * transitively-linked near-duplicates can never straddle splits — the
    * eval-contamination guarantee a per-doc hash split silently violates
    * (a test doc's paraphrase lands in train and the benchmark leaks).
    * Singleton docs are their own cluster and hash independently.
    *
    * The hash is the same stable md5 recipe as the shard assigner
    * ([[graft.functions.GraftFunctions.stableHashMod]], first 15 md5 hex
    * chars as a long — engine-portable, reprocessing-stable): bucket =
    * h(cluster_id) % 100, < trainPct → train, < trainPct+validPct → valid,
    * else test.
    *
    * Scale shape: everything beyond [[dedupClusters]] (the staged LSH
    * chain + pointer-jumping CC) is a codegen'd per-row map — no extra
    * shuffle, no collect. Returns (doc_id, cluster_id, split). */
  def leakageSafeSplits(docs: DataFrame, pairs: DataFrame,
                        minJaccard: Double = 0.5,
                        trainPct: Int = 80, validPct: Int = 10): DataFrame = {
    require(trainPct >= 1 && validPct >= 1 && trainPct + validPct <= 99,
      s"split percentages must leave room for test: $trainPct/$validPct")
    val bucket = graft.functions.GraftFunctions
      .stableHashMod(col("cluster_id").cast("string"), 100L)
    dedupClusters(docs, pairs, minJaccard, includeSingletons = true)
      .select(col("doc_id"), col("cluster_id"),
        when(bucket < trainPct, "train")
          .when(bucket < trainPct + validPct, "valid")
          .otherwise("test").as("split"))
  }

  /** Quality-aware canonical selection: one KEPT document per near-dup
    * cluster, chosen by quality rather than arrival order — keep-BEST,
    * the curation step production corpus pipelines (RefinedWeb/FineWeb
    * style) run where keep-first silently preserves the truncated or
    * boilerplate-padded copy of a duplicated page.
    *
    * Quality signal here is document length (`n_chars` — the longest copy
    * of a near-dup cluster is the least-truncated one), tie-broken by
    * smallest id for determinism; any scalar score column slots into the
    * same `max(struct(...))` argmax. Singletons keep themselves. Cost past
    * the (staged, shared) pair graph + CC is ONE aggregation keyed by
    * cluster id — no window, no second shuffle; the argmax rides the
    * partial-aggregate path so skewed mega-clusters combine map-side. */
  def canonicalSelect(docs: DataFrame, pairs: DataFrame,
                      qualityCol: String = "n_chars",
                      minJaccard: Double = 0.5): DataFrame = {
    val clusters = dedupClusters(docs, pairs, minJaccard,
        includeSingletons = true)
      .select(col("doc_id"), col("cluster_id"))
    clusters
      .join(docs.select(col("doc_id"), col(qualityCol).cast("long").as("q")),
        "doc_id")
      .groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("cluster_size"),
        // lexicographic struct max = highest quality, then LOWEST id
        // (negated so the max picks it) — a single associative argmax
        max(struct(col("q"), (-col("doc_id")).as("negid"))).as("best"))
      .select(col("cluster_id"), (-col("best.negid")).as("kept_doc_id"),
        col("best.q").as("kept_quality"), col("cluster_size"))
  }

  /** Pairwise shingle-overlap matrix between corpus GROUPS (sources,
    * crawls, snapshots): for every group pair, how many distinct k-gram
    * shingle hashes they share, plus each side's vocabulary size and the
    * containment ratio n_shared / min(|A|, |B|) — the corpus diagnostic
    * that surfaces mirrored/syndicated sources (near-1 containment) and
    * quantifies cross-crawl redundancy before any doc-level dedup runs.
    * `shingleSet` is the corpus's [[shingleHashSet]] (its width is the
    * k of the k-grams): the per-doc distinct is idempotent under the
    * (src, h) distinct below.
    *
    * Shape at scale: distinct (group, hash) — the per-group shingle
    * vocabulary, the only corpus-sized shuffle (materialized once; sizes
    * and pairs both read it) — then ONE grouped pass per hash collecting
    * its source set (≤ groups elements by definition: 20 sources, not 20M
    * docs) and expanding the ordered pairs ROW-LOCALLY with array
    * expressions. No self-join: the first draft joined the vocabulary with
    * itself on the hash and measured 11.2× for 10× data (the join
    * re-tokenized both sides and fanned the hot hashes through the
    * shuffle); the grouped-collect form is one exchange and came back 15×
    * faster at sf1. */
  def sourceOverlap(docs: DataFrame, shingleSet: DataFrame,
                    groupCol: String = "source"): DataFrame = {
    val sh = shingleSet
      .join(docs.select(col("doc_id").as("id"), col(groupCol).as("src")), "id")
      .select(col("src"), col("h")).distinct()
      .localCheckpoint()
    val sizes = sh.groupBy(col("src")).agg(count(lit(1)).as("n"))
    // ordered pair expansion of the per-hash source set: ≤ C(groups, 2)
    // structs per hash, emitted row-locally from the sorted array
    val srcs = sort_array(collect_set(col("src")))
    val combos = flatten(transform(
      sequence(lit(0), size(col("srcs")) - 2),
      i => transform(
        slice(col("srcs"), i + 2, size(col("srcs"))),
        b => struct(element_at(col("srcs"), i + 1).as("src1"),
          b.as("src2")))))
    sh.groupBy(col("h")).agg(srcs.as("srcs"))
      .filter(size(col("srcs")) >= 2)
      .select(explode(combos).as("p"))
      .groupBy(col("p.src1").as("src1"), col("p.src2").as("src2"))
      .agg(count(lit(1)).as("n_shared"))
      .join(broadcast(sizes.select(col("src").as("src1"),
        col("n").as("n_src1"))), "src1")
      .join(broadcast(sizes.select(col("src").as("src2"),
        col("n").as("n_src2"))), "src2")
      .select(col("src1"), col("src2"), col("n_shared"),
        col("n_src1"), col("n_src2"),
        expr("n_shared * 1000000 DIV least(n_src1, n_src2)")
          .as("containment_micro"))
  }

  /** Winnowing similarity pairs (the MOSS match-detection step over a
    * [[TextOps.winnowFingerprints]] sketch `fps` of `docs`): documents
    * sharing at least `minShared` selected fingerprints, with the shared
    * count as the match strength. The winnowing guarantee makes this a
    * LOCAL-match detector — any shared run of ≥ w + k − 1 tokens is caught
    * even when whole-document measures (minhash Jaccard, simhash) stay far
    * apart, the code/boilerplate-plagiarism shape doc-level dedup misses.
    *
    * Shape at scale: the join key is the selected fingerprint hash (the
    * ~2/(w+1)-density sketch, NOT raw grams), and hot boilerplate
    * fingerprints are cut by a CORPUS-RELATIVE df cap before the
    * self-join — the same stopword bound as tfidf/bm25, so within-hash
    * pair fan-out is bounded by (maxDfPct% · n)² per hash at worst and
    * the candidate volume stays sketch-sized. Never all-pairs. */
  def winnowingPairs(docs: DataFrame, fps: DataFrame, minShared: Int = 2,
                     maxDfPct: Int = 10): DataFrame = {
    require(minShared >= 1 && maxDfPct >= 1 && maxDfPct <= 100,
      s"invalid winnow-pair shape: minShared=$minShared maxDfPct=$maxDfPct")
    val p = dfCapped(fpSet(fps), docs, maxDfPct)
    p.select(col("fp_hash"), col("doc_id").as("id1"))
      .join(p.select(col("fp_hash"), col("doc_id").as("id2")), "fp_hash")
      .filter(col("id1") < col("id2"))
      .groupBy(col("id1"), col("id2"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** Per-doc fingerprint hash SET (doc_id, fp_hash) of a sketch: one doc
    * selecting the same gram at two positions counts once toward a pair. */
  private def fpSet(fps: DataFrame): DataFrame =
    fps.select(col("doc_id"), col("fp_hash")).distinct()

  /** The rows of `fps` whose hash is in at most `maxDfPct`% of the
    * `corpus` documents — the boilerplate cut of the winnowing family. The
    * corpus size rides in as a one-row broadcast, no driver round trip. */
  private def dfCapped(fps: DataFrame, corpus: DataFrame,
                       maxDfPct: Int): DataFrame = {
    val n = corpus.agg(count(lit(1)).as("n"))
    val kept = fps.groupBy(col("fp_hash")).agg(count(lit(1)).as("df"))
      .crossJoin(broadcast(n))
      .filter(col("df") * 100 <= col("n") * maxDfPct)
      .select(col("fp_hash"))
    fps.join(kept, "fp_hash")
  }

  /** MOSS-style containment report over the winnowing candidate pairs:
    * each pair additionally carries, per side, shared fingerprints as
    * basis points of that side's FULL sketch size — the asymmetric metric
    * that separates "A is contained in B" (c1 high, c2 low: A is an
    * excerpt of B) from mutual near-duplication (both high), which the
    * symmetric n_shared count cannot. Shared counts are df-capped like
    * the pair detector (boilerplate fingerprints don't vouch for
    * containment); sketch sizes are the doc's full distinct-fp counts.
    * Cost past the shared pair graph: one grouped count over the sketch +
    * two candidate-bounded joins. */
  def winnowingContainment(docs: DataFrame, fps: DataFrame,
                           minShared: Int = 2,
                           maxDfPct: Int = 10): DataFrame = {
    val sizes = fpSet(fps).groupBy(col("doc_id")).agg(count(lit(1)).as("nf"))
    winnowingPairs(docs, fps, minShared, maxDfPct)
      .join(sizes.select(col("doc_id").as("id1"), col("nf").as("nf1")), "id1")
      .join(sizes.select(col("doc_id").as("id2"), col("nf").as("nf2")), "id2")
      .select(col("id1"), col("id2"), col("n_shared"),
        expr("n_shared * 10000 DIV nf1").as("c1_bp"),
        expr("n_shared * 10000 DIV nf2").as("c2_bp"))
  }

  /** Incremental winnowing (continuous-ingest member of the winnowing
    * family, completing the incremental set next to minhash / semantic /
    * substring): ONLY the incoming batch is tokenized and sketched (with
    * the same `k`/`w` as the stored sketch `storedFps`); the stored corpus
    * participates as its fingerprint index, probed by the batch's hashes —
    * new×old pairs only, so each ingest batch costs O(|batch| + probe
    * hits) instead of re-sketching the corpus. Winnowing is doc-local, so
    * the stored sketch never goes stale as batches arrive — new docs only
    * APPEND rows to the index.
    *
    * The boilerplate df cap is computed over the STORED corpus (the
    * index's own statistics, the dedup_incremental hot-band convention),
    * so probe fan-out is bounded without rescanning anything. */
  def winnowingIncremental(stored: DataFrame, batch: DataFrame,
                           storedFps: DataFrame, k: Int = 4, w: Int = 4,
                           minShared: Int = 2,
                           maxDfPct: Int = 10): DataFrame = {
    require(minShared >= 1 && maxDfPct >= 1 && maxDfPct <= 100,
      s"invalid winnow-inc shape: minShared=$minShared maxDfPct=$maxDfPct")
    val newFps = fpSet(TextOps.winnowFingerprints(batch, k, w))
    newFps.select(col("fp_hash"), col("doc_id").as("new_id"))
      .join(dfCapped(fpSet(storedFps), stored, maxDfPct)
        .select(col("fp_hash"), col("doc_id").as("old_id")), "fp_hash")
      .groupBy(col("new_id"), col("old_id"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** Embedding cosine near-duplicates above `minCos`.
    *
    * DEFAULT path (the 100 TB one): multi-band random-hyperplane LSH
    * blocking + exact cosine rerank. Candidates are pairs sharing a bucket
    * in ANY of `bands` bands of 8 sign bits ([[SimilarityOps.lshBucketBand]];
    * P(candidate | angle θ) = 1−(1−(1−θ/π)^8)^bands — ≈1 for true
    * near-duplicates, tiny for unrelated vectors), so the self-join is
    * per-bucket instead of all-pairs. Slim (id, band, bucket) rows drive
    * the join; vectors join back only for the exact rerank of candidates.
    * A hot-bucket cap drops degenerate buckets — the k²-on-one-key blowup —
    * exactly like [[minhashLshPairs]]'s band cap.
    *
    * `bruteForce = true` opts into the exact all-pairs baseline (the
    * oracle of the blocked path; quadratic — fixture/debug scale only).
    * The blocked result is always a SUBSET of the brute-force result (the
    * rerank is exact); recall below the brute-force set is the documented
    * LSH trade-off governed by `bands`. */
  def embeddingCosinePairs(embs: DataFrame, minCos: Double = 0.4,
                           bruteForce: Boolean = false,
                           bands: Int = 8,
                           maxBucketFreq: Long = 10000L,
                           bits: Int = SimilarityOps.LshBits): DataFrame = {
    // the exact rerank shared by both paths: pairs of ids -> scored pairs
    def rescored(cand: DataFrame): DataFrame = {
      val withNorm = embs.select(col("vec_id").as("id"),
        col("embedding").cast("array<double>").as("v"),
        l2norm(col("embedding")).as("nrm"))
      cand
        .join(withNorm.select(col("id").as("id1"), col("v").as("v1"),
          col("nrm").as("n1")), "id1")
        .join(withNorm.select(col("id").as("id2"), col("v").as("v2"),
          col("nrm").as("n2")), "id2")
        .select(col("id1"), col("id2"),
          round(dot(col("v1"), col("v2")) / (col("n1") * col("n2")), 6)
            .as("cos"))
        .filter(col("cos") > minCos)
    }
    if (bruteForce) {
      // materialize the double-cast vector + norm BEHIND AN EXCHANGE: the
      // non-equi join otherwise (a) runs the nested loop on the input's
      // (often single) file partitions and (b) re-inlines the cast pipeline
      // into the pushed-down join condition — 128 array casts per candidate
      // pair instead of 0
      val withNorm = embs.select(col("vec_id").as("id"),
          col("embedding").cast("array<double>").as("v"),
          l2norm(col("embedding")).as("nrm"))
        .repartition(col("id"))
      val a = withNorm.as("a"); val b = withNorm.as("b")
      a.join(b, col("a.id") < col("b.id"))
        .select(col("a.id").as("id1"), col("b.id").as("id2"),
          round(dot(col("a.v"), col("b.v")) / (col("a.nrm") * col("b.nrm")), 6)
            .as("cos"))
        .filter(col("cos") > minCos)
    } else {
      // slim band rows, materialized once (the hot-bucket scan and both
      // self-join sides would otherwise each replay the 64 iqdot planes)
      // `bits` is the SCALE knob: within-bucket candidate volume is
      // Σ m_b² ≈ n²/2^bits per band, so constant bucket occupancy — and
      // linear total work — needs bits ∝ log₂(n). The fixture default (8)
      // matches the value oracle; a 10× corpus wants bits+3 or 4 (measured
      // in DESIGN.md's sf1 table).
      val banded = embs.select(col("vec_id").as("id"),
          posexplode(SimilarityOps.lshBandBucketsAll(col("embedding"), bands, bits))
            .as(Seq("band", "bucket")))
        .localCheckpoint()
      val hot = banded.groupBy(col("band"), col("bucket"))
        .agg(count(lit(1)).as("df")).filter(col("df") > maxBucketFreq)
        .select(col("band"), col("bucket"))
      val cool = banded.join(hot, Seq("band", "bucket"), "left_anti")
      val cand = cool.as("a").join(cool.as("b"),
          col("a.band") === col("b.band") &&
            col("a.bucket") === col("b.bucket") && col("a.id") < col("b.id"))
        .select(col("a.id").as("id1"), col("b.id").as("id2"))
        .distinct() // a pair may collide in several bands — rerank it once
      rescored(cand)
    }
  }

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023,
    * arXiv:2303.09540 — public paper): coarsely cluster the embedding space,
    * then within each cluster drop every vector that has an ε-near neighbor
    * (cosine ≥ tauPct/100) with a smaller id; the min-id member of each
    * ε-neighborhood survives as the representative. Cross-cluster pairs are
    * never examined — that is the SemDeDup trade: candidate volume is
    * Σ m_c² over cluster sizes instead of n² (the cluster id is the
    * shuffle key; one hash exchange per side).
    *
    * Sizing `cells` (measured at sf1, DESIGN.md "SemDeDup `cells`
    * sizing"): candidate volume follows Σ m_c² as published, but with THIS
    * deterministic assigner wall-clock is assign O(n·cells·d) + join
    * O(Σ m_c²·d), so the optimum sits well BELOW the classic √n rule
    * (measured: cells 16/45/141 → 45.8/20.0/38.4 s at n = 20k). √n sizes
    * the join term only; push cells toward √n at real scale only after
    * swapping in a pruned centroid assigner (trained k-means short-list,
    * as the paper uses) whose assign cost is sublinear in `cells`.
    *
    * Clustering here is the deterministic IVF assignment
    * ([[SimilarityOps.ivfAssign]], seeds = the `cells` smallest-id vectors);
    * production swaps in trained k-means centroids without touching the
    * prune. The keep/drop decision is EXACT integer arithmetic over the
    * 1e-6-quantized vectors (cos ≥ τ ⟺ dot > 0 ∧ dot²·10⁴ ≥ (100τ)²·n²ₐ·n²ᵦ,
    * cross-multiplied in decimal(38,0)) — no float-ulp hazard can flip a
    * row's membership.
    *
    * Returns (vec_id, cell, dup): `dup` = this vector has a smaller-id
    * τ-neighbor in its cluster; `filter(!dup)` is the curated corpus. */
  def semanticDedup(embs: DataFrame, tauPct: Int = 85,
                    cells: Int = 16): DataFrame = {
    require(tauPct > 0 && tauPct <= 100, s"tauPct must be in (0,100]: $tauPct")
    // cells = 0 would silently yield zero seeds, ivfAssign's rank-1 filter
    // would then drop every row, and the "curated corpus" would come back
    // empty instead of erroring
    require(cells >= 1, s"cells must be >= 1: $cells")
    // the `cells` smallest-id vectors, whatever the id range — a plain
    // `id < cells` filter would silently yield ZERO seeds (and an empty
    // result) on any corpus whose ids don't start at 0. TakeOrdered: no
    // full sort at scale.
    val seeds = embs.orderBy(col("vec_id")).limit(cells)
    semanticPrunePass(SimilarityOps.ivfAssign(embs, seeds), tauPct)
  }

  /** The within-cell ε-prune shared by [[semanticDedup]] (exact assigner)
    * and [[semanticDedupPruned]] (two-level assigner): keep-first over
    * τ-neighborhoods inside each cell, exact decimal(38,0) cross-multiplied
    * cosine threshold. `assigned` = (nid, v, nrm, cell). */
  private def semanticPrunePass(assigned: DataFrame, tauPct: Int): DataFrame = {
    val q = assigned.select(col("nid"), col("cell"),
        quantize(col("v")).as("qv"))
      .withColumn("n2", lldot(col("qv"), col("qv")))
      // one narrow stage feeds both self-join sides; without this each side
      // replays the quantize + n2 fold over the whole corpus
      .localCheckpoint()
    val a = q.select(col("nid").as("aid"), col("cell"),
      col("qv").as("aq"), col("n2").as("an2"))
    val b = q.select(col("nid").as("bid"), col("cell"),
      col("qv").as("bq"), col("n2").as("bn2"))
    val dec = org.apache.spark.sql.types.DataTypes.createDecimalType(38, 0)
    // native codegen'd long dot: this fold runs once per within-cell pair
    // (the SemDeDup candidate-volume term) and the HOF form is interpreted
    val dotq = lldot(col("aq"), col("bq"))
    val tau2 = lit(tauPct.toLong * tauPct).cast(dec)
    val dups = a.join(b, Seq("cell"))
      .filter(col("aid") < col("bid"))
      .withColumn("dot", dotq)
      .filter(col("dot") > 0 &&
        col("dot").cast(dec) * col("dot").cast(dec) * lit(10000L).cast(dec) >=
          tau2 * col("an2").cast(dec) * col("bn2").cast(dec))
      .select(col("bid").as("nid")).distinct()
    q.join(dups.withColumn("dup", lit(true)), Seq("nid"), "left")
      .select(col("nid").as("vec_id"), col("cell"),
        coalesce(col("dup"), lit(false)).as("dup"))
  }

  /** [[semanticDedup]] with the two-level PRUNED centroid assignment
    * ([[SimilarityOps.ivfAssignPruned]]) — the named prerequisite from the
    * r9 cells-sizing study for pushing `cells` toward √n at 100 TB: the
    * exact assigner's O(n·cells·d) term capped the optimum at
    * cells ≈ √(join budget); the pruned assigner is sublinear in `cells`,
    * so larger cell counts now BUY total time instead of costing it
    * (measured sf1 table in DESIGN.md "SemDeDup cells sizing, round 10").
    * Cell membership may differ from the exact assigner near super
    * boundaries (recall knob `sprobe`; sprobe = ⌈√cells⌉ is exactly
    * [[semanticDedup]]) — for dedup that shifts which neighborhoods are
    * compared, the same trade SemDeDup already makes by clustering at
    * all. */
  def semanticDedupPruned(embs: DataFrame, tauPct: Int = 85, cells: Int = 16,
                          sprobe: Int = 2): DataFrame = {
    require(tauPct > 0 && tauPct <= 100, s"tauPct must be in (0,100]: $tauPct")
    require(cells >= 1, s"cells must be >= 1: $cells")
    val seeds = embs.orderBy(col("vec_id")).limit(cells)
    semanticPrunePass(SimilarityOps.ivfAssignPruned(embs, seeds, sprobe),
      tauPct)
  }

  /** Incremental SemDeDup — the continuous-ingest shape of
    * [[semanticDedup]], mirroring [[incrementalMinhashPairs]]: the stored
    * corpus is already curated (its IVF cells ARE the stored index — seeds
    * are its `cells` smallest-id vectors), and only the incoming batch is
    * judged. An incoming vector is a duplicate when a τ-neighbor exists in
    * its cell among (a) ANY stored member — the stored corpus always wins,
    * whatever the id order — or (b) a smaller-id member of the same
    * incoming batch (the within-batch keep-first rule of the full pass).
    *
    * Scale shape: O(new·cells·d) assignment + per-cell joins of
    * new×(stored_cell + new_cell); stored×stored is never re-examined —
    * the property that makes continuous curation affordable at 100 TB.
    * Same exact decimal(38,0) cross-multiplied cosine threshold as the
    * full pass. Returns (vec_id, cell, dup) for the INCOMING batch. */
  def semanticDedupIncremental(stored: DataFrame, incoming: DataFrame,
                               tauPct: Int = 85,
                               cells: Int = 16): DataFrame = {
    require(tauPct > 0 && tauPct <= 100, s"tauPct must be in (0,100]: $tauPct")
    require(cells >= 1, s"cells must be >= 1: $cells")
    val seeds = stored.orderBy(col("vec_id")).limit(cells)
    def prep(side: DataFrame): DataFrame =
      SimilarityOps.ivfAssign(side, seeds)
        .select(col("nid"), col("cell"), quantize(col("v")).as("qv"))
        .withColumn("n2", lldot(col("qv"), col("qv")))
        .localCheckpoint()
    val newQ = prep(incoming)
    val storedQ = prep(stored)
    val dec = org.apache.spark.sql.types.DataTypes.createDecimalType(38, 0)
    val a = newQ.select(col("nid").as("aid"), col("cell"),
      col("qv").as("aq"), col("n2").as("an2"))
    val partners = storedQ.select(col("nid").as("bid"), col("cell"),
        col("qv").as("bq"), col("n2").as("bn2"), lit(true).as("is_stored"))
      .unionByName(newQ.select(col("nid").as("bid"), col("cell"),
        col("qv").as("bq"), col("n2").as("bn2"), lit(false).as("is_stored")))
    // native codegen'd long dot: this fold runs once per within-cell pair
    // (the SemDeDup candidate-volume term) and the HOF form is interpreted
    val dotq = lldot(col("aq"), col("bq"))
    val tau2 = lit(tauPct.toLong * tauPct).cast(dec)
    val dups = a.join(partners, Seq("cell"))
      .filter(col("is_stored") || col("bid") < col("aid"))
      .withColumn("dot", dotq)
      .filter(col("dot") > 0 &&
        col("dot").cast(dec) * col("dot").cast(dec) * lit(10000L).cast(dec) >=
          tau2 * col("an2").cast(dec) * col("bn2").cast(dec))
      .select(col("aid").as("nid")).distinct()
    newQ.join(dups.withColumn("dup", lit(true)), Seq("nid"), "left")
      .select(col("nid").as("vec_id"), col("cell"),
        coalesce(col("dup"), lit(false)).as("dup"))
  }

  /** Staged-table contract for the substring family's shared gram pass
    * (r13): `tokenGramsWithTail` + hashed gram —
    * (doc_id, pos, tok, gh = md5(gram), gh null on the per-doc tail).
    * One tokenize+window pass per fixture serves all three substring rows
    * (spans / apply / incremental) instead of each rebuilding it twice. */
  def gramHashTable(docs: DataFrame, k: Int = 6): DataFrame =
    TextOps.tokenGramsWithTail(docs, k)
      .select(col("doc_id"), col("pos"), col("tok"),
        md5(col("gram")).as("gh"))

  /** Substring-level dedup (the Lee et al. 2021 "Deduplicating Training
    * Data Makes Language Models Better" mode): every token k-gram that
    * occurs `minCount`+ times ANYWHERE in the corpus marks its k-token
    * window, and per doc the overlapping-or-adjacent marked windows merge
    * into maximal spans (gaps-and-islands over window ends). Unlike the
    * doc-level families above, this finds boilerplate and licence blocks
    * embedded inside otherwise-unique documents. `grams` is the corpus's
    * [[gramHashTable]] built with the same `k`.
    *
    * Returns (doc_id, span_start, span_end, span_tokens) with 0-based
    * inclusive token positions — the cut-list a cleaner applies (which
    * single copy to KEEP is a policy layered on top, exactly as in the
    * paper's suffix-array formulation; the k-gram inventory is its
    * scalable relational equivalent).
    *
    * Scale shape: one grouped count with map-side combine → a LEFT SEMI
    * join back on the 128-bit gram hash (posting layout — never
    * all-pairs; a boilerplate gram present a million times costs one hash
    * row in the dup set) → per-doc window sort for the island merge. Skew
    * bound: the per-doc sort partitions by doc_id, so the widest unit is
    * one document's positions. */
  def duplicateSpans(grams: DataFrame, k: Int = 6,
                     minCount: Int = 2): DataFrame = {
    require(k >= 2, s"k-gram width must be >= 2: $k")
    // both the dup-count and the hits semi-join read the grams; the dup
    // side reduces to a tiny broadcast set under AQE
    val g = grams.filter(col("gh").isNotNull)
      .select(col("doc_id"), col("pos"), col("gh"))
    val dup = g.groupBy("gh").agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= minCount)
      .select("gh")
    val hits = g.join(dup, Seq("gh"), "left_semi")
      .select(col("doc_id"), col("pos").as("s"),
        (col("pos") + (k - 1)).as("e"))
    mergeSpanIslands(hits)
  }

  /** Per-doc gaps-and-islands merge of (doc_id, s, e) marked windows into
    * maximal spans — shared by the full and incremental substring passes.
    * One gram per position makes starts unique per doc: the order is
    * total. */
  private def mergeSpanIslands(hits: DataFrame): DataFrame = {
    val byStart = Window.partitionBy("doc_id").orderBy("s")
    val prevMax = max(col("e"))
      .over(byStart.rowsBetween(Window.unboundedPreceding, -1))
    hits
      .withColumn("new_isl",
        when(col("s") > coalesce(prevMax, lit(-2L)) + 1, 1L).otherwise(0L))
      .withColumn("isl", sum(col("new_isl"))
        .over(byStart.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("doc_id"), col("isl"))
      .agg(min("s").as("span_start"), max("e").as("span_end"))
      .select(col("doc_id"), col("span_start"), col("span_end"),
        (col("span_end") - col("span_start") + 1).as("span_tokens"))
  }

  /** Incremental substring dedup — the continuous-ingest shape of
    * [[duplicateSpans]], completing the incremental family
    * ([[incrementalMinhashPairs]], [[semanticDedupIncremental]]): the
    * stored corpus's k-gram inventory is a staged (gh, stored_cnt) index
    * `storedCounts`, and only the INCOMING batch's spans are computed from
    * its [[gramHashTable]] `incomingGrams`. A gram in a new doc marks its
    * window when stored_count + incoming_count ≥ `minCount` — the
    * corpus-wide rule of the full pass applied to stored ∪ incoming, while
    * stored documents are never re-tokenized. Grams are row-local per doc,
    * so id-filtered slices of one corpus-wide gram table serve as both
    * sides.
    *
    * Scale shape: one grouped count of the new batch's grams, one join
    * against the stored index (hash-keyed; only grams the new batch
    * actually contains are probed), then the same per-doc islands merge as
    * the full pass. O(new_tokens + probe hits).
    * Returns (doc_id, span_start, span_end, span_tokens) for NEW docs. */
  def incrementalDuplicateSpans(storedCounts: DataFrame,
                                incomingGrams: DataFrame, k: Int = 6,
                                minCount: Int = 2): DataFrame = {
    require(k >= 2, s"k-gram width must be >= 2: $k")
    val grams = incomingGrams.filter(col("gh").isNotNull)
      .select(col("doc_id"), col("pos"), col("gh"))
    val newCounts = grams.groupBy("gh").agg(count(lit(1)).as("new_cnt"))
    val dup = newCounts.join(storedCounts, Seq("gh"), "left")
      .filter(col("new_cnt") + coalesce(col("stored_cnt"), lit(0L))
        >= minCount)
      .select("gh")
    val hits = grams.join(dup, Seq("gh"), "left_semi")
      .select(col("doc_id"), col("pos").as("s"),
        (col("pos") + (k - 1)).as("e"))
    mergeSpanIslands(hits)
  }

  /** The APPLY step of substring dedup: cut every duplicated span whose
    * exact token content recurs elsewhere, keeping ONE canonical copy —
    * the (doc_id, span_start)-smallest occurrence, the keep-first policy
    * the doc-level `dedupCorpus` uses. Spans whose content appears only
    * once as a maximal span (e.g. boilerplate merged with unique
    * neighbours into a longer island) are kept — span-content grouping
    * trades the suffix-array's sub-span exactness for a pure relational
    * shape; [[duplicateSpans]] still reports those regions for audit.
    * `grams` is the [[gramHashTable]] of `docs`.
    *
    * Returns one row per document: (doc_id, n_tokens_kept, clean_fp)
    * where clean_fp fingerprints the kept tokens in order (narrow output;
    * a materializing pipeline swaps the fp for the array_join itself).
    * A document whose every token is cut — an exact duplicate of an
    * earlier doc — is ABSENT: fully deduplicated away.
    *
    * Scale shape on top of [[duplicateSpans]]: spans are rare relative to
    * tokens, so the span-content hash join and the keep-first window run
    * on the small span set; the only token-sized steps are the gram
    * table's token rows, a doc-partitioned range-containment join against
    * each doc's own (few) cut spans and one ordered per-doc fold. */
  def cutDuplicateSpans(docs: DataFrame, grams: DataFrame, k: Int = 6,
                        minCount: Int = 2): DataFrame = {
    val spans = duplicateSpans(grams, k, minCount)
    // span content fingerprint: re-slice the doc's tokens (one split per
    // SPAN row — spans are few; cheaper than threading arrays through the
    // island merge)
    val withFp = spans
      .join(docs.select(col("doc_id"), tokens(col("text")).as("toks")),
        "doc_id")
      .withColumn("span_fp", md5(array_join(
        slice(col("toks"), col("span_start") + 1,
          (col("span_end") - col("span_start") + 1).cast("int")), " ")))
    val keepFirst = Window.partitionBy(col("span_fp"))
      .orderBy(col("doc_id"), col("span_start"))
    val cuts = withFp
      .withColumn("rk", row_number().over(keepFirst))
      // recurring content only: rank 2+ of a multi-occurrence group
      .withColumn("grp", count(lit(1)).over(Window.partitionBy(col("span_fp"))))
      .filter(col("grp") >= 2 && col("rk") >= 2)
      .select(col("doc_id").as("cut_doc"), col("span_start").as("cs"),
        col("span_end").as("ce"))
    // full token sequence: the gram table keeps every position (tail rows
    // carry gh = null), so the apply step re-tokenizes nothing
    val toks = grams.select(col("doc_id"), col("pos"), col("tok"))
    // the cut side's key is renamed: both sides carry the gram table's own
    // doc_id attribute
    val kept = toks.join(cuts,
        col("doc_id") === col("cut_doc") &&
          col("pos").between(col("cs"), col("ce")), "left_anti")
    kept.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens_kept"),
        md5(array_join(transform(
          array_sort(collect_list(struct(col("pos"), col("tok")))),
          st => st.getField("tok")), " ")).as("clean_fp"))
  }

  /** PRECISION audit of the MinHash-LSH candidate graph — the index-quality
    * counterpart of the ANN recall probe (`sim_recall_lsh` audits what the
    * index MISSES; this audits what it FALSELY proposes, the number that
    * sets the wasted-verification bill at 100 TB). For every banded
    * candidate pair of `pairs` ([[minhashLshPairs]]), the EXACT shingle
    * Jaccard over `shingleSet` ([[shingleHashSet]]) is computed and
    * compared to tauPct by integer cross-multiplication (inter·100 ≥
    * τ·union — no float can flip a verdict).
    *
    * Cost is candidate-bounded, never corpus-bounded: the pair graph and
    * the per-doc shingle sets are the two staged artifacts every MinHash
    * family pass already shares; the intersection join fans each pair out
    * to its id1-side shingles and semi-matches the id2 side — O(Σ|pair
    * shingles|), the same bill the banding already paid. Zero-overlap
    * candidates (pure band collisions) keep a row with inter = 0. */
  def lshPrecision(pairs: DataFrame, shingleSet: DataFrame,
                   tauPct: Int = 50): DataFrame = {
    require(tauPct >= 0 && tauPct <= 100, s"tauPct out of range: $tauPct")
    val ids = pairs.select(col("id1"), col("id2"))
    val sizes = shingleSet.groupBy(col("id")).agg(count(lit(1)).as("sz"))
    val inter = ids
      .join(shingleSet.select(col("id").as("id1"), col("h").as("s")), "id1")
      .join(shingleSet.select(col("id").as("id2"), col("h").as("s")),
        Seq("id2", "s"))
      .groupBy(col("id1"), col("id2")).agg(count(lit(1)).as("inter"))
    ids
      .join(inter, Seq("id1", "id2"), "left")
      .na.fill(0L, Seq("inter"))
      .join(sizes.select(col("id").as("id1"), col("sz").as("sz1")), "id1")
      .join(sizes.select(col("id").as("id2"), col("sz").as("sz2")), "id2")
      .select(col("id1"), col("id2"), col("inter"),
        (col("sz1") + col("sz2") - col("inter")).as("uni"),
        (col("inter") * 100 >= lit(tauPct.toLong) *
          (col("sz1") + col("sz2") - col("inter"))).as("true_pos"))
  }

  /** Block-level ("paragraph") exact dedup — the CCNet pass (Wenzek et al.
    * 2019): web boilerplate repeats at paragraph granularity, so hashing
    * whole documents misses it while the substring k-gram family
    * ([[duplicateSpans]]) over-segments it. Every fixed-width token block
    * ([[graft.operators.TextOps.tokenBlocks]] — the fixture has no
    * newlines, so the paragraph boundary is a 20-token block) is hashed;
    * the corpus-wide FIRST occurrence (smallest (doc_id, blk)) is kept,
    * every later occurrence flagged dup.
    *
    * Shape at scale: the block build is a narrow per-row map, and the
    * keep-first decision is ONE shuffle (the block-hash window) — the same
    * single-shuffle budget as [[exact]], at paragraph granularity. Skew is
    * bounded: a block hash repeated k times fans to k window rows, never a
    * pair join. */
  def paragraphDedup(docs: DataFrame, width: Int = 20): DataFrame =
    flaggedBlocks(docs, width)
      .select(col("doc_id"), col("blk"), col("n_block_tokens"),
        (col("rn") > 1).as("dup"))

  private def flaggedBlocks(docs: DataFrame, width: Int): DataFrame = {
    // repartition BEFORE the block build (the shingleHashes idiom): a
    // single-file fixture scans as ONE partition, which trivially
    // satisfies the bh-window's clustered distribution — Catalyst would
    // skip the exchange and the whole tokenize+md5+window would run
    // serially (the ivfAssign serial-window hazard). Compact text rows
    // ship; the bh window still adds its own hash exchange.
    val b = TextOps.tokenBlocks(docs.repartition(col("doc_id")), width)
      .withColumn("bh", md5(col("btxt")))
    b.withColumn("rn", row_number().over(
      Window.partitionBy(col("bh")).orderBy(col("doc_id"), col("blk"))))
  }

  /** Continuous-ingest paragraph dedup — the incremental shape of
    * [[paragraphDedup]], completing the incremental family (exact /
    * minhash / semantic / substring / winnowing all have one): only the
    * incoming batch is tokenized and blocked; the stored corpus
    * participates as its distinct block-hash INDEX, probed by the batch's
    * blocks. A batch block is dup when its hash exists in the stored index
    * (stored always wins — its keep-first happened at ITS ingest) or a
    * smaller (doc_id, blk) batch block shares the hash. Per ingest:
    * O(batch blocks + probe hits), independent of the stored corpus size;
    * blocks are doc-local, so ingest only APPENDS index rows — the stored
    * index never goes stale. At 100 TB the index is materialized bucketed
    * on the hash and the probe is a co-located join. */
  def incrementalParagraphDedup(stored: DataFrame, batch: DataFrame,
                                width: Int = 20): DataFrame = {
    val storedIdx = TextOps.tokenBlocks(stored.repartition(col("doc_id")), width)
      .select(md5(col("btxt")).as("bh")).distinct()
    flaggedBlocks(batch, width)
      .join(storedIdx.withColumn("stored_hit", lit(true)), Seq("bh"), "left")
      .select(col("doc_id"), col("blk"), col("n_block_tokens"),
        (coalesce(col("stored_hit"), lit(false)) || col("rn") > 1).as("dup"))
  }

  /** The apply step of [[paragraphDedup]]: drop every duplicate block and
    * reconstruct each document from its kept blocks in order. Documents
    * whose every block is a duplicate (exact copies of earlier content)
    * disappear from the cleaned corpus, like [[cutDuplicateSpans]]'s
    * fully-cut docs. One extra shuffle past the flag (the per-doc rollup);
    * the ordered rebuild is a sorted collect_list fold, engine-exact
    * because (blk) is unique per doc. */
  def paragraphDedupApply(docs: DataFrame, width: Int = 20): DataFrame =
    flaggedBlocks(docs, width)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_blocks"),
        sum(when(col("rn") === 1, 1L).otherwise(0L)).as("n_kept"),
        array_join(transform(
          array_sort(collect_list(when(col("rn") === 1,
            struct(col("blk"), col("btxt"))))),
          st => st.getField("btxt")), " ").as("kept_text"))
      .filter(col("n_kept") > 0)
}
