package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.sources.StagingFs
import graft.operators.DedupOps

/** Deduplication inventory over `documents` / `embeddings` (LLM-pipeline
  * extension — BASELINE.json north star). Oracles re-derive the md5-based
  * integer signatures in DuckDB, so every comparison is exact.
  */
object Dedup extends QuerySet {

  private def docs(s: SparkSession, dir: String) = Tables.load(s, dir, "documents")
  private def embs(s: SparkSession, dir: String) = Tables.load(s, dir, "embeddings")

  /** Per-doc distinct shingle-hash set, staged once per (app, fixture):
    * ONE tokenize+md5 text scan feeds the whole shingle family — the
    * MinHash signatures derive from it relationally, and the exact-Jaccard
    * inverted index joins on it directly. */
  private def shingleSet(s: SparkSession, dir: String): DataFrame =
    StagingFs.readStage(s, dir, "graft-shingles") { p =>
      DedupOps.shingleHashSet(docs(s, dir)).write.mode("overwrite").parquet(p)
    }
  /** Per-doc SimHash values, staged once per (app, fixture): the token
    * explode + per-bit md5 votes dominate every SimHash-family query
    * (fingerprints, pair blocking, edit-distance candidates). */
  private def simhashStaged(s: SparkSession, dir: String): DataFrame =
    StagingFs.readStage(s, dir, "graft-simhash") { p =>
      DedupOps.simhash(docs(s, dir)).write.mode("overwrite").parquet(p)
    }
  /** Per-doc MinHash signatures, staged once per (app, fixture): the
    * signature pass is the dominant cost of every MinHash-family query,
    * and signatures are row-local — identical whether computed over the
    * corpus or any subset, so the incremental query's old/new sides are
    * filters over the same stage. Derived from the shingle stage, so the
    * text is scanned once across the whole family. */
  private def minhashSigs(s: SparkSession, dir: String): DataFrame =
    StagingFs.readStage(s, dir, "graft-minhash-sigs") { p =>
      DedupOps.minhashSignaturesFromHashes(shingleSet(s, dir))
        .write.mode("overwrite").parquet(p)
    }
  /** Winnowing fingerprint sketch staged once per (app, fixture): the
    * sketch row (`text_winnowing`) and the pair detector
    * (`dedup_winnowing_pairs`) both consume it, so the tokenize + window
    * pass runs once and its cost lands in the bench's stage_sec. */
  private def winnowFps(s: SparkSession, dir: String): DataFrame =
    StagingFs.readStage(s, dir, "graft-winnow-fps") { p =>
      graft.operators.TextOps.winnowFingerprints(docs(s, dir))
        .write.mode("overwrite").parquet(p)
    }

  /** Shared 6-gram hash table (doc_id, pos, tok, gh; gh null on the per-doc
    * tail) staged once per (app, fixture) — the substring-dedup family
    * (spans / apply / incremental) previously re-ran the tokenize + lead
    * window pass twice per row, six times per bench (r13). */
  private def gram6Staged(s: SparkSession, dir: String): DataFrame =
    StagingFs.readStage(s, dir, "graft-grams6") { p =>
      DedupOps.gramHashTable(docs(s, dir))
        .write.mode("overwrite").parquet(p)
    }

  /** The MinHash signature + band pipeline is the expensive stage of BOTH
    * `dedup_minhash_lsh` and `dedup_clusters`; a run that executes several
    * dedup queries over the same fixture computes it ONCE and stages the
    * (small) pair set as parquet. */
  private def minhashPairs(s: SparkSession, dir: String): DataFrame =
    StagingFs.readStage(s, dir, "graft-minhash-pairs") { p =>
      DedupOps.minhashLshPairs(minhashSigs(s, dir))
        .write.mode("overwrite").parquet(p)
    }

  override def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dedup_exact" -> ((s, dir) =>
      DedupOps.exact(docs(s, dir))
        .select(col("doc_id"), col("group_size"), col("is_kept"))),

    // fuzzy-exact dedup: same digest-groupBy as dedup_exact but over the
    // canonicalized text (lowercase, punctuation folded, whitespace
    // collapsed) — catches re-punctuated/re-wrapped copies raw hashing
    // misses, at identical one-shuffle cost
    "dedup_exact_normalized" -> ((s, dir) =>
      DedupOps.exact(
        docs(s, dir).select(col("doc_id"),
          graft.operators.TextOps.normalizedText(col("text")).as("text")))
        .select(col("doc_id"), col("group_size"), col("is_kept"))),

    "dedup_minhash_lsh" -> ((s, dir) => minhashPairs(s, dir)),

    "dedup_simhash" -> ((s, dir) => simhashStaged(s, dir)),

    "dedup_simhash_pairs" -> ((s, dir) =>
      DedupOps.simhashPairs(simhashStaged(s, dir))),

    "dedup_ngram_jaccard" -> ((s, dir) =>
      DedupOps.ngramJaccardPairs(shingleSet(s, dir))),

    // benchmark decontamination: every 97th doc plays the held-out eval
    // set; the rest is the training corpus, flagged when it shares >= 2
    // distinct 3-gram shingles with any benchmark doc
    "corpus_decontaminate" -> ((s, dir) => {
      val d = docs(s, dir)
      DedupOps.decontaminate(
        d.filter(col("doc_id") % 97 =!= 0),
        d.filter(col("doc_id") % 97 === 0),
        minOverlap = 2L)
    }),

    // fuzzy dedup: SimHash blocking proposes, exact levenshtein confirms
    "dedup_edit_distance" -> ((s, dir) =>
      DedupOps.editDistancePairs(docs(s, dir), simhashStaged(s, dir),
        maxDist = 16)),

    // incremental ingest dedup: every 3rd doc plays the incoming batch,
    // probed against the band index of the remaining snapshot — only
    // new×old pairs come out (the steady-state pipeline shape; the full
    // re-pair above is the bootstrap)
    "dedup_incremental" -> ((s, dir) => {
      // signatures come from the shared per-fixture stage (row-local, so
      // subset filters of the staged table ARE the per-side signatures)
      val sigs = minhashSigs(s, dir)
      DedupOps.incrementalMinhashPairs(sigs.filter(col("id") % 3 =!= 0),
        sigs.filter(col("id") % 3 === 0))
    }),

    // the exact all-pairs BASELINE, explicitly opted into (quadratic):
    // the fixture's pair spectrum tops out near cos 0.51, so the loose 0.4
    // threshold is brute-force territory by nature
    "dedup_embedding_cosine_baseline" -> ((s, dir) =>
      DedupOps.embeddingCosinePairs(embs(s, dir), bruteForce = true)),

    // the DEFAULT blocked path (multi-band hyperplane LSH + exact rerank)
    // against a BRUTE-FORCE oracle: the corpus is the fixture plus planted
    // near-duplicates (every 10th vector rescaled ×2 — same direction, so
    // cosine is exactly 1 and every hyperplane sign is preserved), and the
    // oracle enumerates all pairs above 0.9 — green means the blocked
    // join's recall equals brute force here, not merely that the blocking
    // reproduced itself
    "dedup_embedding_lsh" -> ((s, dir) => {
      val base = embs(s, dir).select(col("vec_id"), col("embedding"))
      val planted = base.filter(col("vec_id") % 10 === 0)
        .select((col("vec_id") + 100000L).as("vec_id"),
          transform(col("embedding"), x => x * 2).as("embedding"))
      DedupOps.embeddingCosinePairs(base.unionByName(planted), minCos = 0.9)
    }),

    "dedup_pipeline" -> ((s, dir) =>
      DedupOps.dedupCorpus(docs(s, dir), minhashSigs(s, dir))
        .select(col("doc_id"))),

    // near-duplicate GROUPS, not just pairs: connected components over the
    // LSH candidate graph (est_jaccard >= 0.5) — the form a curation
    // pipeline consumes (keep one doc per cluster). Pointer-jumping CC, so
    // transitively-linked near-dups land in one cluster in O(log d) rounds.
    // Reuses the staged minhash pair set (shared signature stage).
    "dedup_clusters" -> ((s, dir) =>
      DedupOps.dedupClusters(docs(s, dir), minhashPairs(s, dir),
        includeSingletons = false)),

    // leakage-safe splits: train/valid/test assigned per near-dup CLUSTER
    // (reusing the staged pair set), so a test doc's paraphrase can never
    // land in train — the eval-contamination guarantee a per-doc hash
    // split silently violates
    "corpus_split_leakage_safe" -> ((s, dir) =>
      DedupOps.leakageSafeSplits(docs(s, dir), minhashPairs(s, dir))),

    // quality-aware canonical selection: one kept doc per near-dup
    // cluster, chosen keep-BEST (longest copy, tie min id) rather than
    // keep-first — reuses the same staged pair set; past the shared CC
    // the cost is ONE cluster-keyed argmax aggregation
    "dedup_canonical_select" -> ((s, dir) =>
      DedupOps.canonicalSelect(docs(s, dir), minhashPairs(s, dir))),

    // pairwise shingle-overlap matrix between the 20 sources: shared
    // distinct 3-gram hashes + containment ratio — the corpus diagnostic
    // that surfaces mirrored/syndicated sources before doc-level dedup
    "corpus_source_overlap" -> ((s, dir) =>
      DedupOps.sourceOverlap(docs(s, dir), shingleSet(s, dir))),

    // MOSS winnowing sketch: per-window rightmost-min k-gram hash — the
    // fingerprint family's LOCAL-match member (guarantee: any shared run
    // of >= w+k-1 tokens shares a fingerprint); one keyed window pass
    "text_winnowing" -> ((s, dir) => winnowFps(s, dir)),

    // documents sharing >= 2 winnowing fingerprints (after the corpus-
    // relative df cap cuts boilerplate hashes) — local plagiarism-style
    // match detection over the staged sketch, join keyed on the hash
    "dedup_winnowing_pairs" -> ((s, dir) =>
      DedupOps.winnowingPairs(docs(s, dir), winnowFps(s, dir))),

    // MOSS containment report: per candidate pair, shared fps as basis
    // points of EACH side's sketch — excerpt-of vs mutual near-dup; same
    // staged sketch as the pair detector
    "dedup_winnowing_containment" -> ((s, dir) =>
      DedupOps.winnowingContainment(docs(s, dir), winnowFps(s, dir))),

    // continuous-ingest winnowing: only the doc_id % 3 == 0 batch is
    // tokenized; the stored corpus is probed as its fingerprint index
    // (winnowing is doc-local, so the staged sketch filtered to the
    // stored slice IS the stored index) — new×old pairs only
    "dedup_winnowing_incremental" -> ((s, dir) => {
      val d = docs(s, dir)
      DedupOps.winnowingIncremental(
        d.filter(col("doc_id") % 3 =!= 0),
        d.filter(col("doc_id") % 3 === 0),
        winnowFps(s, dir).filter(col("doc_id") % 3 =!= 0))
    }),

    // SemDeDup (Abbas et al. 2023): coarse-cluster the embedding space,
    // drop every vector with a smaller-id cosine>=0.85 neighbor in its
    // cluster — the published semantic-level curation pass that textual
    // dedup misses (paraphrases, translations, re-encodings)
    "dedup_semantic" -> ((s, dir) =>
      DedupOps.semanticDedup(embs(s, dir))),

    // SemDeDup with the two-level PRUNED centroid assigner — the cells-
    // scaling path (assign cost sublinear in cells); supers = ceil(sqrt 16)
    // = 4, each vector probes its 2 nearest supers
    "dedup_semantic_pruned" -> ((s, dir) =>
      DedupOps.semanticDedupPruned(embs(s, dir))),

    // continuous-ingest SemDeDup: the vec_id % 5 == 0 slice arrives as the
    // incoming batch and is judged against the stored corpus's cells (and
    // its own smaller ids); stored×stored is never re-examined
    "dedup_semantic_incremental" -> ((s, dir) => {
      val e = embs(s, dir)
      DedupOps.semanticDedupIncremental(
        e.filter(col("vec_id") % 5 =!= 0),
        e.filter(col("vec_id") % 5 === 0))
    }),

    // substring-level dedup (Lee et al. 2021): corpus-wide duplicated
    // 6-gram windows merged into maximal per-doc spans — catches
    // boilerplate embedded inside otherwise-unique documents, which every
    // doc-level family above misses
    "dedup_substring_spans" -> ((s, dir) =>
      DedupOps.duplicateSpans(gram6Staged(s, dir))),

    // the apply step: cut recurring spans keep-first; fully-cut docs
    // (exact duplicates) disappear from the cleaned corpus
    "dedup_substring_apply" -> ((s, dir) =>
      DedupOps.cutDuplicateSpans(docs(s, dir), gram6Staged(s, dir))),

    // continuous-ingest substring dedup: only the doc_id % 3 == 0 batch is
    // tokenized and span-merged; the rest of the corpus participates as a
    // stored (gram_hash, count) index probed by the batch's grams — both
    // sides are id-filtered slices of the staged fixture-wide gram table
    // (grams are row-local per doc, so the slices ARE the per-side builds)
    "dedup_substring_incremental" -> ((s, dir) => {
      val g6 = gram6Staged(s, dir)
      DedupOps.incrementalDuplicateSpans(
        g6.filter(col("gh").isNotNull && col("doc_id") % 3 =!= 0)
          .groupBy(col("gh")).agg(count(lit(1)).as("stored_cnt")),
        g6.filter(col("doc_id") % 3 === 0))
    }),

    // LSH index-quality audit: exact shingle Jaccard for every banded
    // candidate pair (integer cross-multiplied verdict at tau=50%) — the
    // precision companion of sim_recall_lsh; consumes BOTH staged
    // artifacts (pair graph + shingle sets), so the audit costs only the
    // candidate-bounded intersection join
    "dedup_lsh_precision" -> ((s, dir) =>
      DedupOps.lshPrecision(minhashPairs(s, dir), shingleSet(s, dir))),

    // paragraph-level exact dedup (CCNet): 20-token blocks hashed
    // corpus-wide, keep-first by (doc_id, blk) — the boilerplate
    // granularity doc-level hashing misses and the k-gram span family
    // over-segments; ONE shuffle (the block-hash window)
    "dedup_paragraph" -> ((s, dir) =>
      DedupOps.paragraphDedup(docs(s, dir))),

    // the apply step: duplicate blocks dropped, documents reconstructed
    // from their kept blocks in order; fully-duplicate docs disappear
    "dedup_paragraph_apply" -> ((s, dir) =>
      DedupOps.paragraphDedupApply(docs(s, dir))),

    // continuous-ingest paragraph dedup: the doc_id % 3 == 0 batch probes
    // the stored corpus's distinct block-hash index (stored always wins);
    // stored x stored is never re-examined, O(batch + hits) per ingest
    "dedup_paragraph_incremental" -> ((s, dir) => {
      val d = docs(s, dir)
      DedupOps.incrementalParagraphDedup(
        d.filter(col("doc_id") % 3 =!= 0),
        d.filter(col("doc_id") % 3 === 0))
    }),

    // flagship curation composition over the round-10 family: language
    // gate -> paragraph-level dedup with doc reconstruction -> per-domain
    // cap -> temperature-flattened mix. Four stages, each independently
    // value-oracled elsewhere; the chain costs the block window + two
    // group windows + one broadcast join — no stage re-reads the corpus
    "corpus_curation_pipeline" -> ((s, dir) => {
      import graft.operators.{SamplingOps, TextOps}
      val d = docs(s, dir)
      val gated = d.filter(TextOps.langId(col("text")) === "en")
      val cleaned = DedupOps.paragraphDedupApply(gated)
        .withColumnRenamed("n_kept", "n_kept_blocks")
      val withSrc = cleaned
        .join(d.select(col("doc_id"), col("source")), "doc_id")
        .select(col("doc_id"), col("source"), col("n_blocks"),
          col("n_kept_blocks"))
      val capped = SamplingOps.capPerGroup(withSrc, "source", "doc_id", 10)
        .withColumnRenamed("kept", "cap_kept")
      SamplingOps.temperatureSample(
          capped.filter(col("cap_kept"))
            .select(col("doc_id"), col("source"), col("n_blocks"),
              col("n_kept_blocks")),
          "source", "doc_id")
        .select(col("doc_id"), col("source"), col("n_blocks"),
          col("n_kept_blocks"), col("kept"))
    })
  )

  // ---- shared DuckDB fragments --------------------------------------------
  private val T = raw"string_split_regex(lower(text), '\s+')"
  /** stopword list shared verbatim with TextOps.langId (curation pipeline
    * oracle's language gate). */
  private val StopList =
    graft.operators.TextOps.Stopwords.map(w => s"'$w'").mkString("[", ", ", "]")
  private def H(e: String) =
    s"CAST(concat('0x', substr(md5($e), 1, 15)) AS BIGINT)"
  /** distinct 3-gram shingles with the <3-token fallback of
    * GraftFunctions.shingles */
  private val Sh =
    s"""CASE WHEN len($T) >= 3
       | THEN list_distinct(list_transform(range(len($T) - 2),
       |   i -> $T[i+1] || ' ' || $T[i+2] || ' ' || $T[i+3]))
       | ELSE [array_to_string($T, ' ')] END""".stripMargin

  /** MinHash-LSH pair graph → min-id cluster label per edge-connected doc
    * (`labeled`), shared by the clusters and split-assignment oracles. */
  private lazy val ClusterLabelSql =
    s"""WITH RECURSIVE sig AS MATERIALIZED (
       |  SELECT doc_id AS id,
       |    list_transform(range(1, 17), i ->
       |      list_aggregate(list_transform($Sh, s ->
       |        ((${H("s")} % 1000000007) * (2*i + 1) + i * 12582917)
       |          % 1000000007), 'min')) AS sig
       |  FROM documents),
       |bands AS (
       |  SELECT id,
       |    CAST(unnest(range(4)) AS INT) AS band,
       |    unnest(list_transform(range(4), b ->
       |      array_to_string(sig[b*4 + 1 : b*4 + 4], '-'))) AS bsig
       |  FROM sig),
       |pairs AS MATERIALIZED (
       |  SELECT id1, id2 FROM (
       |    SELECT DISTINCT a.id AS id1, b.id AS id2
       |    FROM bands a JOIN bands b
       |      ON a.band = b.band AND a.bsig = b.bsig AND a.id < b.id) cand
       |  JOIN sig s1 ON s1.id = id1
       |  JOIN sig s2 ON s2.id = id2
       |  WHERE CAST(list_aggregate(list_transform(range(16), i ->
       |    CASE WHEN s1.sig[i+1] = s2.sig[i+1] THEN 1 ELSE 0 END), 'sum')
       |    AS DOUBLE) / 16 >= 0.5),
       |edges AS (
       |  SELECT id1 AS a, id2 AS b FROM pairs
       |  UNION SELECT id2, id1 FROM pairs),
       |reach(a, b) AS (
       |  SELECT DISTINCT a, a FROM edges
       |  UNION
       |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
       |labeled AS (
       |  SELECT a AS doc_id, MIN(b) AS cluster_id FROM reach GROUP BY a)""".stripMargin

  override def oracle: Map[String, String] = Map(
    // k=6 windows; the island merge is the classic gaps-and-islands
    // (cummax of prior window ends), identical on both engines because
    // starts are unique per doc
    "dedup_substring_spans" ->
      s"""WITH toks AS (SELECT doc_id, $T AS t FROM documents),
         |g AS (
         |  SELECT doc_id, CAST(i AS BIGINT) AS pos,
         |    md5(array_to_string(t[i+1:i+6], ' ')) AS gh
         |  FROM toks, unnest(range(len(t) - 5)) AS u(i)
         |  WHERE len(t) >= 6),
         |dup AS (SELECT gh FROM g GROUP BY gh HAVING COUNT(*) >= 2),
         |hits AS (SELECT doc_id, pos AS s, pos + 5 AS e
         |         FROM g JOIN dup USING (gh)),
         |isl AS (
         |  SELECT doc_id, s, e,
         |    CASE WHEN s > COALESCE(MAX(e) OVER (PARTITION BY doc_id
         |        ORDER BY s ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
         |      -2) + 1 THEN 1 ELSE 0 END AS new_isl
         |  FROM hits),
         |sp AS (
         |  SELECT doc_id, s, e,
         |    SUM(new_isl) OVER (PARTITION BY doc_id ORDER BY s
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS isl
         |  FROM isl)
         |SELECT doc_id, CAST(MIN(s) AS BIGINT) AS span_start,
         |  CAST(MAX(e) AS BIGINT) AS span_end,
         |  CAST(MAX(e) - MIN(s) + 1 AS BIGINT) AS span_tokens
         |FROM sp GROUP BY doc_id, isl""".stripMargin,

    // incremental: grams over ALL docs for the counts, but hits/spans only
    // for the incoming batch (doc_id % 3 = 0) — gram duplicated when the
    // stored + incoming total reaches 2
    "dedup_substring_incremental" ->
      s"""WITH toks AS (SELECT doc_id, $T AS t FROM documents),
         |g AS (
         |  SELECT doc_id, CAST(i AS BIGINT) AS pos,
         |    md5(array_to_string(t[i+1:i+6], ' ')) AS gh
         |  FROM toks, unnest(range(len(t) - 5)) AS u(i)
         |  WHERE len(t) >= 6),
         |dup AS (SELECT gh FROM g GROUP BY gh HAVING COUNT(*) >= 2),
         |hits AS (SELECT doc_id, pos AS s, pos + 5 AS e
         |         FROM g JOIN dup USING (gh)
         |         WHERE doc_id % 3 = 0),
         |isl AS (
         |  SELECT doc_id, s, e,
         |    CASE WHEN s > COALESCE(MAX(e) OVER (PARTITION BY doc_id
         |        ORDER BY s ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
         |      -2) + 1 THEN 1 ELSE 0 END AS new_isl
         |  FROM hits),
         |sp AS (
         |  SELECT doc_id, s, e,
         |    SUM(new_isl) OVER (PARTITION BY doc_id ORDER BY s
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS isl
         |  FROM isl)
         |SELECT doc_id, CAST(MIN(s) AS BIGINT) AS span_start,
         |  CAST(MAX(e) AS BIGINT) AS span_end,
         |  CAST(MAX(e) - MIN(s) + 1 AS BIGINT) AS span_tokens
         |FROM sp GROUP BY doc_id, isl""".stripMargin,

    // four verified stages chained: langid gate (text_langid mirror),
    // block dedup + rollup (dedup_paragraph_apply), cap window
    // (corpus_domain_cap), temperature lottery (corpus_temperature_sample)
    "corpus_curation_pipeline" ->
      s"""WITH sig AS (
         |  SELECT doc_id,
         |    CASE WHEN (length(text) - length(regexp_replace(text,
         |          '[^ -~]', '', 'g'))) * 10 > length(text) THEN 'non_latin'
         |      WHEN len(list_filter($T, x -> list_contains(
         |          $StopList, x))) * 50 >= len($T) THEN 'en'
         |      ELSE 'unk' END AS lang_pred
         |  FROM documents),
         |g AS (
         |  SELECT d.doc_id, d.source, d.text FROM documents d
         |  JOIN sig USING (doc_id) WHERE sig.lang_pred = 'en'),
         |toks AS (SELECT doc_id, $T AS t FROM g),
         |b AS (
         |  SELECT doc_id, CAST(i AS BIGINT) AS blk,
         |    md5(array_to_string(t[i*20+1 : i*20+20], ' ')) AS bh
         |  FROM toks, unnest(range((len(t) + 19) // 20)) AS u(i)),
         |f AS (
         |  SELECT *, row_number() OVER (PARTITION BY bh
         |    ORDER BY doc_id, blk) AS rn FROM b),
         |cleaned AS (
         |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_blocks,
         |    CAST(COUNT(*) FILTER (WHERE rn = 1) AS BIGINT) AS n_kept_blocks
         |  FROM f GROUP BY doc_id
         |  HAVING COUNT(*) FILTER (WHERE rn = 1) > 0),
         |withsrc AS (
         |  SELECT cleaned.doc_id, g.source, cleaned.n_blocks,
         |    cleaned.n_kept_blocks
         |  FROM cleaned JOIN g USING (doc_id)),
         |capped AS (
         |  SELECT *, row_number() OVER (PARTITION BY source
         |    ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS crn
         |  FROM withsrc),
         |surv AS (SELECT doc_id, source, n_blocks, n_kept_blocks
         |         FROM capped WHERE crn <= 10),
         |c AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_g
         |      FROM surv GROUP BY source),
         |w AS (
         |  SELECT source, CAST(round(sqrt(CAST(n_g AS DOUBLE) /
         |    CAST((SELECT SUM(n_g) FROM c) AS DOUBLE)) * 1000000)
         |    AS BIGINT) AS w_micro
         |  FROM c)
         |SELECT surv.doc_id, surv.source, surv.n_blocks, surv.n_kept_blocks,
         |  (CAST(concat('0x', substr(md5(CAST(surv.doc_id AS VARCHAR)), 1, 15))
         |    AS BIGINT) % 1000000 < w.w_micro) AS kept
         |FROM surv JOIN w USING (source)""".stripMargin,

    // minhash band CTEs (as dedup_minhash_lsh) + distinct-shingle sets
    // (as dedup_ngram_jaccard); verdict by integer cross-multiplication
    "dedup_lsh_precision" ->
      s"""WITH sig AS (
         |  SELECT doc_id AS id,
         |    list_transform(range(1, 17), i ->
         |      list_aggregate(list_transform($Sh, s ->
         |        ((${H("s")} % 1000000007) * (2*i + 1) + i * 12582917)
         |          % 1000000007), 'min')) AS sig
         |  FROM documents),
         |bands AS (
         |  SELECT id,
         |    CAST(unnest(range(4)) AS INT) AS band,
         |    unnest(list_transform(range(4), b ->
         |      array_to_string(sig[b*4 + 1 : b*4 + 4], '-'))) AS bsig
         |  FROM sig),
         |pairs AS (
         |  SELECT DISTINCT a.id AS id1, b.id AS id2
         |  FROM bands a JOIN bands b
         |    ON a.band = b.band AND a.bsig = b.bsig AND a.id < b.id),
         |raw AS (SELECT doc_id AS id, unnest($Sh) AS str FROM documents),
         |sh AS (SELECT id, ${H("str")} AS s FROM raw),
         |sizes AS (SELECT id, CAST(COUNT(*) AS BIGINT) AS sz FROM sh GROUP BY id),
         |ix AS (
         |  SELECT p.id1, p.id2, CAST(COUNT(s2.s) AS BIGINT) AS inter
         |  FROM pairs p
         |  JOIN sh s1 ON s1.id = p.id1
         |  LEFT JOIN sh s2 ON s2.id = p.id2 AND s2.s = s1.s
         |  GROUP BY p.id1, p.id2)
         |SELECT id1, id2, inter, (z1.sz + z2.sz - inter) AS uni,
         |  (inter * 100 >= 50 * (z1.sz + z2.sz - inter)) AS true_pos
         |FROM ix
         |JOIN sizes z1 ON z1.id = id1
         |JOIN sizes z2 ON z2.id = id2""".stripMargin,

    // 20-token blocks via 1-based inclusive list slices; keep-first =
    // row_number over (doc_id, blk) per block-text md5
    "dedup_paragraph" ->
      s"""WITH toks AS (SELECT doc_id, $T AS t FROM documents),
         |b AS (
         |  SELECT doc_id, CAST(i AS BIGINT) AS blk,
         |    CAST(least(20, len(t) - i * 20) AS BIGINT) AS n_block_tokens,
         |    md5(array_to_string(t[i*20+1 : i*20+20], ' ')) AS bh
         |  FROM toks, unnest(range((len(t) + 19) // 20)) AS u(i))
         |SELECT doc_id, blk, n_block_tokens, (rn > 1) AS dup FROM (
         |  SELECT *, row_number() OVER (PARTITION BY bh
         |    ORDER BY doc_id, blk) AS rn FROM b)""".stripMargin,

    // block CTEs over the batch slice; dup = hash in the stored-side
    // distinct index OR a smaller (doc_id, blk) batch block
    "dedup_paragraph_incremental" ->
      s"""WITH toks AS (SELECT doc_id, $T AS t FROM documents),
         |b AS (
         |  SELECT doc_id, CAST(i AS BIGINT) AS blk,
         |    CAST(least(20, len(t) - i * 20) AS BIGINT) AS n_block_tokens,
         |    md5(array_to_string(t[i*20+1 : i*20+20], ' ')) AS bh
         |  FROM toks, unnest(range((len(t) + 19) // 20)) AS u(i)),
         |stored AS (SELECT DISTINCT bh FROM b WHERE doc_id % 3 <> 0),
         |batch AS (
         |  SELECT *, row_number() OVER (PARTITION BY bh
         |    ORDER BY doc_id, blk) AS rn
         |  FROM b WHERE doc_id % 3 = 0)
         |SELECT batch.doc_id, batch.blk, batch.n_block_tokens,
         |  ((stored.bh IS NOT NULL) OR batch.rn > 1) AS dup
         |FROM batch LEFT JOIN stored ON batch.bh = stored.bh""".stripMargin,

    // block CTEs as in dedup_paragraph; filtered ordered string_agg ≡
    // Spark's null-skipping sorted collect_list fold; fully-duplicate
    // docs drop out via HAVING
    "dedup_paragraph_apply" ->
      s"""WITH toks AS (SELECT doc_id, $T AS t FROM documents),
         |b AS (
         |  SELECT doc_id, CAST(i AS BIGINT) AS blk,
         |    array_to_string(t[i*20+1 : i*20+20], ' ') AS btxt
         |  FROM toks, unnest(range((len(t) + 19) // 20)) AS u(i)),
         |f AS (
         |  SELECT *, row_number() OVER (PARTITION BY md5(btxt)
         |    ORDER BY doc_id, blk) AS rn FROM b)
         |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_blocks,
         |  CAST(COUNT(*) FILTER (WHERE rn = 1) AS BIGINT) AS n_kept,
         |  string_agg(btxt, ' ' ORDER BY blk) FILTER (WHERE rn = 1)
         |    AS kept_text
         |FROM f GROUP BY doc_id
         |HAVING COUNT(*) FILTER (WHERE rn = 1) > 0""".stripMargin,

    // spans CTEs as in dedup_substring_spans, then: fingerprint span
    // content, keep-first per recurring fingerprint, anti-join the cut
    // ranges, ordered string_agg ≡ Spark's sorted collect_list fold
    "dedup_substring_apply" ->
      s"""WITH toks AS (SELECT doc_id, $T AS t FROM documents),
         |g AS (
         |  SELECT doc_id, CAST(i AS BIGINT) AS pos,
         |    md5(array_to_string(t[i+1:i+6], ' ')) AS gh
         |  FROM toks, unnest(range(len(t) - 5)) AS u(i)
         |  WHERE len(t) >= 6),
         |dup AS (SELECT gh FROM g GROUP BY gh HAVING COUNT(*) >= 2),
         |hits AS (SELECT doc_id, pos AS s, pos + 5 AS e
         |         FROM g JOIN dup USING (gh)),
         |isl AS (
         |  SELECT doc_id, s, e,
         |    CASE WHEN s > COALESCE(MAX(e) OVER (PARTITION BY doc_id
         |        ORDER BY s ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
         |      -2) + 1 THEN 1 ELSE 0 END AS new_isl
         |  FROM hits),
         |sp AS (
         |  SELECT doc_id, s, e,
         |    SUM(new_isl) OVER (PARTITION BY doc_id ORDER BY s
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS isl
         |  FROM isl),
         |spans AS (SELECT doc_id, MIN(s) AS ss, MAX(e) AS se
         |          FROM sp GROUP BY doc_id, isl),
         |fp AS (
         |  SELECT s.doc_id, s.ss, s.se,
         |    md5(array_to_string(t[s.ss+1:s.se+1], ' ')) AS span_fp
         |  FROM spans s JOIN toks USING (doc_id)),
         |cuts AS (
         |  SELECT doc_id, ss, se FROM (
         |    SELECT *, row_number() OVER (PARTITION BY span_fp
         |        ORDER BY doc_id, ss) AS rk,
         |      COUNT(*) OVER (PARTITION BY span_fp) AS grp
         |    FROM fp) WHERE grp >= 2 AND rk >= 2),
         |pos AS (SELECT doc_id, CAST(i AS BIGINT) AS pos, t[i+1] AS tok
         |        FROM toks, unnest(range(len(t))) AS u(i)),
         |kept AS (
         |  SELECT p.* FROM pos p
         |  WHERE NOT EXISTS (SELECT 1 FROM cuts c
         |    WHERE c.doc_id = p.doc_id AND p.pos BETWEEN c.ss AND c.se))
         |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens_kept,
         |  md5(string_agg(tok, ' ' ORDER BY pos)) AS clean_fp
         |FROM kept GROUP BY doc_id""".stripMargin,

    "dedup_exact" ->
      """SELECT doc_id,
        |  COUNT(*) OVER (PARTITION BY md5(text)) AS group_size,
        |  doc_id = MIN(doc_id) OVER (PARTITION BY md5(text)) AS is_kept
        |FROM documents""".stripMargin,

    // same window as dedup_exact over the canonicalized text; 'g' flag =
    // Spark's default replace-all
    "dedup_exact_normalized" ->
      raw"""WITH n AS (
           |  SELECT doc_id, md5(trim(regexp_replace(regexp_replace(
           |    lower(text), '[^a-z0-9\s]', ' ', 'g'),
           |    '\s+', ' ', 'g'))) AS d
           |  FROM documents)
           |SELECT doc_id,
           |  COUNT(*) OVER (PARTITION BY d) AS group_size,
           |  doc_id = MIN(doc_id) OVER (PARTITION BY d) AS is_kept
           |FROM n""".stripMargin,

    "dedup_minhash_lsh" ->
      s"""WITH sig AS (
         |  SELECT doc_id AS id,
         |    list_transform(range(1, 17), i ->
         |      list_aggregate(list_transform($Sh, s ->
         |        ((${H("s")} % 1000000007) * (2*i + 1) + i * 12582917)
         |          % 1000000007), 'min')) AS sig
         |  FROM documents),
         |bands AS (
         |  SELECT id,
         |    CAST(unnest(range(4)) AS INT) AS band,
         |    unnest(list_transform(range(4), b ->
         |      array_to_string(sig[b*4 + 1 : b*4 + 4], '-'))) AS bsig
         |  FROM sig),
         |pairs AS (
         |  SELECT a.id AS id1, b.id AS id2, COUNT(*) AS n_bands
         |  FROM bands a JOIN bands b
         |    ON a.band = b.band AND a.bsig = b.bsig AND a.id < b.id
         |  GROUP BY a.id, b.id)
         |SELECT id1, id2, n_bands,
         |  CAST(list_aggregate(list_transform(range(16), i ->
         |    CASE WHEN s1.sig[i+1] = s2.sig[i+1] THEN 1 ELSE 0 END), 'sum')
         |    AS DOUBLE) / 16 AS est_jaccard
         |FROM pairs
         |JOIN sig s1 ON s1.id = id1
         |JOIN sig s2 ON s2.id = id2""".stripMargin,

    // same signature/band CTEs; the pair join is new-side (id%3=0) probing
    // the old-side index (id%3!=0) — no a.id < b.id, the sides are disjoint
    "dedup_incremental" ->
      s"""WITH sig AS (
         |  SELECT doc_id AS id,
         |    list_transform(range(1, 17), i ->
         |      list_aggregate(list_transform($Sh, s ->
         |        ((${H("s")} % 1000000007) * (2*i + 1) + i * 12582917)
         |          % 1000000007), 'min')) AS sig
         |  FROM documents),
         |bands AS (
         |  SELECT id,
         |    CAST(unnest(range(4)) AS INT) AS band,
         |    unnest(list_transform(range(4), b ->
         |      array_to_string(sig[b*4 + 1 : b*4 + 4], '-'))) AS bsig
         |  FROM sig),
         |hot AS (
         |  SELECT band, bsig FROM bands WHERE id % 3 != 0
         |  GROUP BY band, bsig HAVING COUNT(*) > 10000),
         |pairs AS (
         |  SELECT a.id AS new_id, b.id AS old_id, COUNT(*) AS n_bands
         |  FROM bands a JOIN bands b
         |    ON a.band = b.band AND a.bsig = b.bsig
         |  WHERE a.id % 3 = 0 AND b.id % 3 != 0
         |    AND NOT EXISTS (SELECT 1 FROM hot h
         |      WHERE h.band = b.band AND h.bsig = b.bsig)
         |  GROUP BY a.id, b.id)
         |SELECT new_id, old_id, n_bands,
         |  CAST(list_aggregate(list_transform(range(16), i ->
         |    CASE WHEN s1.sig[i+1] = s2.sig[i+1] THEN 1 ELSE 0 END), 'sum')
         |    AS DOUBLE) / 16 AS est_jaccard
         |FROM pairs
         |JOIN sig s1 ON s1.id = new_id
         |JOIN sig s2 ON s2.id = old_id""".stripMargin,

    "dedup_simhash" ->
      s"""WITH tk AS (
         |  SELECT doc_id AS id, unnest($T) AS tok FROM documents),
         |votes AS (
         |  SELECT id, bit,
         |    SUM(${H("tok || '#' || bit")} % 2 * 2 - 1) AS s
         |  FROM tk CROSS JOIN (SELECT unnest(range(48)) AS bit)
         |  GROUP BY id, bit)
         |SELECT id,
         |  CAST(SUM(CASE WHEN s > 0
         |    THEN (CAST(1 AS BIGINT) << CAST(bit AS INT))
         |    ELSE 0 END) AS BIGINT) AS simhash
         |FROM votes GROUP BY id""".stripMargin,

    "dedup_simhash_pairs" ->
      s"""WITH tk AS (
         |  SELECT doc_id AS id, unnest($T) AS tok FROM documents),
         |votes AS (
         |  SELECT id, bit,
         |    SUM(${H("tok || '#' || bit")} % 2 * 2 - 1) AS s
         |  FROM tk CROSS JOIN (SELECT unnest(range(48)) AS bit)
         |  GROUP BY id, bit),
         |sh AS (
         |  SELECT id,
         |    SUM(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << CAST(bit AS INT))
         |        ELSE 0 END) AS simhash
         |  FROM votes GROUP BY id),
         |chunked AS (
         |  SELECT id, simhash,
         |    CAST(unnest(range(4)) AS INT) AS chunk,
         |    unnest(list_transform(range(4), c ->
         |      (simhash >> (c*12)) % 4096)) AS cval
         |  FROM sh)
         |SELECT DISTINCT a.id AS id1, b.id AS id2,
         |  bit_count(xor(a.simhash, b.simhash)) AS hamming
         |FROM chunked a JOIN chunked b
         |  ON a.chunk = b.chunk AND a.cval = b.cval AND a.id < b.id
         |WHERE bit_count(xor(a.simhash, b.simhash)) <= 3""".stripMargin,

    // the engine's inverted index joins on the 60-bit md5 hash of each
    // shingle (8-byte shuffle keys); the oracle hashes identically
    // SimHash chunk blocking (same CTEs as dedup_simhash_pairs) then exact
    // levenshtein on the candidate pairs only
    "dedup_edit_distance" ->
      s"""WITH tk AS (
         |  SELECT doc_id AS id, unnest($T) AS tok FROM documents),
         |votes AS (
         |  SELECT id, bit,
         |    SUM(${H("tok || '#' || bit")} % 2 * 2 - 1) AS s
         |  FROM tk CROSS JOIN (SELECT unnest(range(48)) AS bit)
         |  GROUP BY id, bit),
         |sh AS (
         |  SELECT id,
         |    SUM(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << CAST(bit AS INT))
         |        ELSE 0 END) AS simhash
         |  FROM votes GROUP BY id),
         |chunked AS (
         |  SELECT id, simhash,
         |    CAST(unnest(range(4)) AS INT) AS chunk,
         |    unnest(list_transform(range(4), c ->
         |      (simhash >> (c*12)) % 4096)) AS cval
         |  FROM sh),
         |cand AS (
         |  SELECT DISTINCT a.id AS id1, b.id AS id2
         |  FROM chunked a JOIN chunked b
         |    ON a.chunk = b.chunk AND a.cval = b.cval AND a.id < b.id
         |  WHERE bit_count(xor(a.simhash, b.simhash)) <= 3)
         |SELECT id1, id2,
         |  CAST(levenshtein(d1.text, d2.text) AS INT) AS dist
         |FROM cand
         |JOIN documents d1 ON d1.doc_id = id1
         |JOIN documents d2 ON d2.doc_id = id2
         |WHERE levenshtein(d1.text, d2.text) <= 16""".stripMargin,

    "dedup_ngram_jaccard" ->
      s"""WITH raw AS (
         |  SELECT doc_id AS id, unnest($Sh) AS str FROM documents),
         |sh AS (
         |  SELECT id, ${H("str")} AS s FROM raw),
         |sizes AS (SELECT id, COUNT(*) AS sz FROM sh GROUP BY id),
         |inter AS (
         |  SELECT a.id AS id1, b.id AS id2, COUNT(*) AS inter
         |  FROM sh a JOIN sh b ON a.s = b.s AND a.id < b.id
         |  GROUP BY a.id, b.id)
         |SELECT id1, id2, inter,
         |  CAST(inter AS DOUBLE) / (s1.sz + s2.sz - inter) AS jaccard
         |FROM inter
         |JOIN sizes s1 ON s1.id = id1
         |JOIN sizes s2 ON s2.id = id2
         |WHERE CAST(inter AS DOUBLE) / (s1.sz + s2.sz - inter) >= 0.2""".stripMargin,

    "corpus_decontaminate" ->
      s"""WITH bench AS (
         |  SELECT DISTINCT ${H("str")} AS s FROM (
         |    SELECT unnest($Sh) AS str FROM documents WHERE doc_id % 97 = 0)),
         |corp AS (
         |  SELECT id, ${H("str")} AS s FROM (
         |    SELECT doc_id AS id, unnest($Sh) AS str
         |    FROM documents WHERE doc_id % 97 <> 0)),
         |hits AS (
         |  SELECT id, COUNT(*) AS n FROM corp JOIN bench USING (s) GROUP BY id)
         |SELECT d.doc_id, CAST(COALESCE(h.n, 0) AS BIGINT) AS hits,
         |  COALESCE(h.n, 0) < 2 AS is_clean
         |FROM documents d LEFT JOIN hits h ON h.id = d.doc_id
         |WHERE d.doc_id % 97 <> 0""".stripMargin,

    // survivors: exact-kept docs minus the higher id of every LSH pair with
    // est_jaccard >= 0.5 (greedy keep-first)
    "dedup_pipeline" ->
      s"""WITH kept AS (
         |  SELECT doc_id, text FROM (
         |    SELECT doc_id, text,
         |      doc_id = MIN(doc_id) OVER (PARTITION BY md5(text)) AS is_kept
         |    FROM documents) WHERE is_kept),
         |sig AS (
         |  SELECT doc_id AS id,
         |    list_transform(range(1, 17), i ->
         |      list_aggregate(list_transform($Sh, s ->
         |        ((${H("s")} % 1000000007) * (2*i + 1) + i * 12582917)
         |          % 1000000007), 'min')) AS sig
         |  FROM kept),
         |bands AS (
         |  SELECT id,
         |    CAST(unnest(range(4)) AS INT) AS band,
         |    unnest(list_transform(range(4), b ->
         |      array_to_string(sig[b*4 + 1 : b*4 + 4], '-'))) AS bsig
         |  FROM sig),
         |pairs AS (
         |  SELECT DISTINCT a.id AS id1, b.id AS id2
         |  FROM bands a JOIN bands b
         |    ON a.band = b.band AND a.bsig = b.bsig AND a.id < b.id),
         |drops AS (
         |  SELECT DISTINCT id2 FROM pairs
         |  JOIN sig s1 ON s1.id = id1
         |  JOIN sig s2 ON s2.id = id2
         |  WHERE CAST(list_aggregate(list_transform(range(16), i ->
         |    CASE WHEN s1.sig[i+1] = s2.sig[i+1] THEN 1 ELSE 0 END), 'sum')
         |    AS DOUBLE) / 16 >= 0.5)
         |SELECT doc_id FROM kept
         |WHERE doc_id NOT IN (SELECT id2 FROM drops)""".stripMargin,

    // transitive closure via recursive CTE (clusters are tiny after the
    // est-jaccard gate, so enumeration is safe oracle-side; shared chain
    // in ClusterLabelSql). MATERIALIZED keeps DuckDB from re-deriving the
    // md5 signature pipeline inside the recursion (measured 150 s → 14 s
    // at sf0.01).
    "dedup_clusters" ->
      s"""$ClusterLabelSql
         |SELECT doc_id, cluster_id,
         |  COUNT(*) OVER (PARTITION BY cluster_id) AS cluster_size
         |FROM labeled""".stripMargin,

    // cluster labeling (ClusterLabelSql) + singleton self-clusters, then
    // the split is the shard assigner's md5 recipe over the CLUSTER id
    "corpus_split_leakage_safe" ->
      s"""$ClusterLabelSql,
         |alldocs AS (
         |  SELECT doc_id, cluster_id FROM labeled
         |  UNION ALL
         |  SELECT doc_id, doc_id AS cluster_id FROM documents
         |  WHERE doc_id NOT IN (SELECT doc_id FROM labeled))
         |SELECT doc_id, cluster_id,
         |  CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'valid'
         |       ELSE 'test' END AS split
         |FROM (
         |  SELECT doc_id, cluster_id,
         |    CAST(CAST(concat('0x', substr(md5(CAST(cluster_id AS VARCHAR)),
         |      1, 15)) AS BIGINT) % 100 AS BIGINT) AS b
         |  FROM alldocs)""".stripMargin,

    // cluster labeling + singleton self-clusters, then per-cluster argmax
    // (longest copy, tie min doc_id) via row_number
    "dedup_canonical_select" ->
      s"""$ClusterLabelSql,
         |alldocs AS (
         |  SELECT doc_id, cluster_id FROM labeled
         |  UNION ALL
         |  SELECT doc_id, doc_id AS cluster_id FROM documents
         |  WHERE doc_id NOT IN (SELECT doc_id FROM labeled)),
         |j AS (
         |  SELECT a.cluster_id, a.doc_id, d.n_chars
         |  FROM alldocs a JOIN documents d USING (doc_id))
         |SELECT cluster_id, doc_id AS kept_doc_id,
         |  n_chars AS kept_quality, cluster_size
         |FROM (
         |  SELECT cluster_id, doc_id, n_chars,
         |    COUNT(*) OVER (PARTITION BY cluster_id) AS cluster_size,
         |    row_number() OVER (PARTITION BY cluster_id
         |      ORDER BY n_chars DESC, doc_id) AS rn
         |  FROM j) WHERE rn = 1""".stripMargin,

    // per-source distinct 3-gram hash vocabularies, self-joined on the
    // hash; containment = shared / min(|A|,|B|) as an exact micro-ratio
    "corpus_source_overlap" ->
      s"""WITH sh AS (
         |  SELECT DISTINCT src, CAST(concat('0x', substr(md5(g), 1, 15))
         |    AS BIGINT) AS h
         |  FROM (SELECT source AS src, unnest($Sh) AS g FROM documents)),
         |sizes AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS n
         |          FROM sh GROUP BY src),
         |p AS (
         |  SELECT a.src AS src1, b.src AS src2,
         |    CAST(COUNT(*) AS BIGINT) AS n_shared
         |  FROM sh a JOIN sh b ON a.h = b.h AND a.src < b.src
         |  GROUP BY 1, 2)
         |SELECT src1, src2, n_shared, s1.n AS n_src1, s2.n AS n_src2,
         |  n_shared * 1000000 // least(s1.n, s2.n) AS containment_micro
         |FROM p JOIN sizes s1 ON s1.src = p.src1
         |       JOIN sizes s2 ON s2.src = p.src2""".stripMargin,

    // same k=4 grams, same 15-hex-md5 + zero-padded position-complement
    // key: lexicographic MIN over the 4-gram window IS (min hash,
    // rightmost pos) on both engines; full windows only
    "text_winnowing" ->
      s"""WITH toks AS (SELECT doc_id, $T AS t FROM documents),
         |g AS (
         |  SELECT doc_id, CAST(i AS BIGINT) AS pos,
         |    substr(md5(array_to_string(t[i+1:i+4], ' ')), 1, 15) ||
         |      lpad(CAST(99999999 - i AS VARCHAR), 8, '0') AS hk
         |  FROM toks, unnest(range(len(t) - 3)) AS u(i)
         |  WHERE len(t) >= 4),
         |wsel AS (
         |  SELECT doc_id, COUNT(*) OVER fr AS n_in, MIN(hk) OVER fr AS sel
         |  FROM g WINDOW fr AS (PARTITION BY doc_id ORDER BY pos
         |    ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING))
         |SELECT DISTINCT doc_id,
         |  99999999 - CAST(substr(sel, 16, 8) AS BIGINT) AS sel_pos,
         |  CAST(concat('0x', substr(sel, 1, 15)) AS BIGINT) AS fp_hash
         |FROM wsel WHERE n_in = 4""".stripMargin,

    "dedup_winnowing_pairs" ->
      s"""WITH toks AS (SELECT doc_id, $T AS t FROM documents),
         |g AS (
         |  SELECT doc_id, CAST(i AS BIGINT) AS pos,
         |    substr(md5(array_to_string(t[i+1:i+4], ' ')), 1, 15) ||
         |      lpad(CAST(99999999 - i AS VARCHAR), 8, '0') AS hk
         |  FROM toks, unnest(range(len(t) - 3)) AS u(i)
         |  WHERE len(t) >= 4),
         |wsel AS (
         |  SELECT doc_id, COUNT(*) OVER fr AS n_in, MIN(hk) OVER fr AS sel
         |  FROM g WINDOW fr AS (PARTITION BY doc_id ORDER BY pos
         |    ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING)),
         |fps AS (
         |  SELECT DISTINCT doc_id,
         |    CAST(concat('0x', substr(sel, 1, 15)) AS BIGINT) AS fp
         |  FROM wsel WHERE n_in = 4),
         |n AS (SELECT COUNT(*) AS n FROM documents),
         |kept AS (
         |  SELECT fp FROM fps, n GROUP BY fp, n.n
         |  HAVING COUNT(*) * 100 <= n.n * 10),
         |p AS (SELECT doc_id, fp FROM fps JOIN kept USING (fp))
         |SELECT a.doc_id AS id1, b.doc_id AS id2,
         |  CAST(COUNT(*) AS BIGINT) AS n_shared
         |FROM p a JOIN p b ON a.fp = b.fp AND a.doc_id < b.doc_id
         |GROUP BY 1, 2 HAVING COUNT(*) >= 2""".stripMargin,

    // pairs CTEs + per-doc sketch sizes; `//` mirrors Spark's DIV on the
    // non-negative counts
    "dedup_winnowing_containment" ->
      s"""WITH toks AS (SELECT doc_id, $T AS t FROM documents),
         |g AS (
         |  SELECT doc_id, CAST(i AS BIGINT) AS pos,
         |    substr(md5(array_to_string(t[i+1:i+4], ' ')), 1, 15) ||
         |      lpad(CAST(99999999 - i AS VARCHAR), 8, '0') AS hk
         |  FROM toks, unnest(range(len(t) - 3)) AS u(i)
         |  WHERE len(t) >= 4),
         |wsel AS (
         |  SELECT doc_id, COUNT(*) OVER fr AS n_in, MIN(hk) OVER fr AS sel
         |  FROM g WINDOW fr AS (PARTITION BY doc_id ORDER BY pos
         |    ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING)),
         |fps AS (
         |  SELECT DISTINCT doc_id,
         |    CAST(concat('0x', substr(sel, 1, 15)) AS BIGINT) AS fp
         |  FROM wsel WHERE n_in = 4),
         |sz AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS nf
         |       FROM fps GROUP BY doc_id),
         |n AS (SELECT COUNT(*) AS n FROM documents),
         |kept AS (
         |  SELECT fp FROM fps, n GROUP BY fp, n.n
         |  HAVING COUNT(*) * 100 <= n.n * 10),
         |p AS (SELECT doc_id, fp FROM fps JOIN kept USING (fp)),
         |pairs AS (
         |  SELECT a.doc_id AS id1, b.doc_id AS id2,
         |    CAST(COUNT(*) AS BIGINT) AS n_shared
         |  FROM p a JOIN p b ON a.fp = b.fp AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2 HAVING COUNT(*) >= 2)
         |SELECT id1, id2, n_shared,
         |  CAST(n_shared * 10000 // s1.nf AS BIGINT) AS c1_bp,
         |  CAST(n_shared * 10000 // s2.nf AS BIGINT) AS c2_bp
         |FROM pairs JOIN sz s1 ON s1.doc_id = id1
         |           JOIN sz s2 ON s2.doc_id = id2""".stripMargin,

    // same winnowing CTEs split by side: new (id%3=0) probes old
    // (id%3<>0); df cap over the STORED corpus only
    "dedup_winnowing_incremental" ->
      s"""WITH toks AS (SELECT doc_id, $T AS t FROM documents),
         |g AS (
         |  SELECT doc_id, CAST(i AS BIGINT) AS pos,
         |    substr(md5(array_to_string(t[i+1:i+4], ' ')), 1, 15) ||
         |      lpad(CAST(99999999 - i AS VARCHAR), 8, '0') AS hk
         |  FROM toks, unnest(range(len(t) - 3)) AS u(i)
         |  WHERE len(t) >= 4),
         |wsel AS (
         |  SELECT doc_id, COUNT(*) OVER fr AS n_in, MIN(hk) OVER fr AS sel
         |  FROM g WINDOW fr AS (PARTITION BY doc_id ORDER BY pos
         |    ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING)),
         |fps AS (
         |  SELECT DISTINCT doc_id,
         |    CAST(concat('0x', substr(sel, 1, 15)) AS BIGINT) AS fp
         |  FROM wsel WHERE n_in = 4),
         |old AS (SELECT * FROM fps WHERE doc_id % 3 <> 0),
         |new AS (SELECT * FROM fps WHERE doc_id % 3 = 0),
         |ns AS (SELECT COUNT(*) AS n FROM documents WHERE doc_id % 3 <> 0),
         |kept AS (
         |  SELECT fp FROM old, ns GROUP BY fp, ns.n
         |  HAVING COUNT(*) * 100 <= ns.n * 10)
         |SELECT n.doc_id AS new_id, o.doc_id AS old_id,
         |  CAST(COUNT(*) AS BIGINT) AS n_shared
         |FROM new n JOIN old o ON n.fp = o.fp JOIN kept k ON k.fp = n.fp
         |GROUP BY 1, 2 HAVING COUNT(*) >= 2""".stripMargin,

    // brute-force enumeration over the SAME derived corpus the blocked
    // Spark path runs on — equality proves blocked recall == brute force
    "dedup_embedding_lsh" ->
      """WITH base AS (
        |  SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS e
        |  FROM embeddings),
        |corpus AS (
        |  SELECT id, e FROM base
        |  UNION ALL
        |  SELECT id + 100000, list_transform(e, x -> x * 2)
        |  FROM base WHERE id % 10 = 0),
        |v AS (
        |  SELECT id, e,
        |    sqrt(list_aggregate(list_transform(range(64),
        |      i -> e[i+1] * e[i+1]), 'sum')) AS nrm
        |  FROM corpus)
        |SELECT a.id AS id1, b.id AS id2,
        |  round(list_aggregate(list_transform(range(64),
        |    i -> a.e[i+1] * b.e[i+1]), 'sum') / (a.nrm * b.nrm), 6) AS cos
        |FROM v a JOIN v b ON a.id < b.id
        |WHERE round(list_aggregate(list_transform(range(64),
        |    i -> a.e[i+1] * b.e[i+1]), 'sum') / (a.nrm * b.nrm), 6)
        |  > 0.9""".stripMargin,

    // same IVF-assignment CTEs as sim_topk_ivf; the keep/drop compare is
    // pure integer cross-multiplication (HUGEINT there, decimal(38,0) on
    // the Spark side) so membership can never flip on a float ulp
    "dedup_semantic" ->
      """WITH v AS (
        |  SELECT vec_id, list_transform(CAST(embedding AS DOUBLE[]),
        |    x -> CAST(round(x * 1000000) AS BIGINT)) AS q
        |  FROM embeddings),
        |seeds AS (SELECT vec_id AS cid, q AS cq FROM v
        |          ORDER BY vec_id LIMIT 16),
        |assign AS (
        |  SELECT v.vec_id, v.q, s.cid,
        |    CAST(list_aggregate(list_transform(range(64), i ->
        |      (v.q[i+1] - s.cq[i+1]) * (v.q[i+1] - s.cq[i+1])), 'sum')
        |      AS BIGINT) AS d2
        |  FROM v CROSS JOIN seeds s),
        |cells AS (
        |  SELECT vec_id, q, cid AS cell,
        |    CAST(list_aggregate(list_transform(range(64),
        |      i -> q[i+1] * q[i+1]), 'sum') AS BIGINT) AS n2
        |  FROM (SELECT *, row_number() OVER (PARTITION BY vec_id
        |    ORDER BY d2, cid) AS rk FROM assign) WHERE rk = 1),
        |pairs AS (
        |  SELECT a.vec_id AS aid, b.vec_id AS bid,
        |    CAST(list_aggregate(list_transform(range(64),
        |      i -> a.q[i+1] * b.q[i+1]), 'sum') AS BIGINT) AS dot,
        |    a.n2 AS an2, b.n2 AS bn2
        |  FROM cells a JOIN cells b
        |    ON a.cell = b.cell AND a.vec_id < b.vec_id),
        |dups AS (
        |  SELECT DISTINCT bid FROM pairs
        |  WHERE dot > 0
        |    AND CAST(dot AS HUGEINT) * dot * 10000
        |        >= CAST(7225 AS HUGEINT) * an2 * bn2)
        |SELECT c.vec_id, c.cell, (d.bid IS NOT NULL) AS dup
        |FROM cells c LEFT JOIN dups d ON c.vec_id = d.bid""".stripMargin,

    // two-level pruned assignment mirror: supers = the 4 smallest-id seeds;
    // each seed maps to its nearest super; each vector shortlists its 2
    // nearest supers and argmins exactly over their seeds only — every
    // (d2, id) tie-break stated, same within-cell prune as dedup_semantic
    "dedup_semantic_pruned" ->
      """WITH v AS (
        |  SELECT vec_id, list_transform(CAST(embedding AS DOUBLE[]),
        |    x -> CAST(round(x * 1000000) AS BIGINT)) AS q
        |  FROM embeddings),
        |seeds AS (SELECT vec_id AS cid, q AS cq FROM v
        |          ORDER BY vec_id LIMIT 16),
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
        |  SELECT vec_id, q, sid FROM (
        |    SELECT v.vec_id, v.q, p.sid, row_number() OVER (
        |      PARTITION BY v.vec_id
        |      ORDER BY CAST(list_aggregate(list_transform(range(64), i ->
        |        (v.q[i+1] - p.sq[i+1]) * (v.q[i+1] - p.sq[i+1])), 'sum')
        |        AS BIGINT), p.sid) AS rk
        |    FROM v CROSS JOIN supers p) WHERE rk <= 2),
        |cells AS (
        |  SELECT vec_id, q, cid AS cell,
        |    CAST(list_aggregate(list_transform(range(64),
        |      i -> q[i+1] * q[i+1]), 'sum') AS BIGINT) AS n2
        |  FROM (
        |    SELECT sh.vec_id, sh.q, ss.cid, row_number() OVER (
        |      PARTITION BY sh.vec_id
        |      ORDER BY CAST(list_aggregate(list_transform(range(64), i ->
        |        (sh.q[i+1] - ss.cq[i+1]) * (sh.q[i+1] - ss.cq[i+1])), 'sum')
        |        AS BIGINT), ss.cid) AS rk
        |    FROM short sh JOIN seedsup ss ON sh.sid = ss.sid) WHERE rk = 1),
        |pairs AS (
        |  SELECT a.vec_id AS aid, b.vec_id AS bid,
        |    CAST(list_aggregate(list_transform(range(64),
        |      i -> a.q[i+1] * b.q[i+1]), 'sum') AS BIGINT) AS dot,
        |    a.n2 AS an2, b.n2 AS bn2
        |  FROM cells a JOIN cells b
        |    ON a.cell = b.cell AND a.vec_id < b.vec_id),
        |dups AS (
        |  SELECT DISTINCT bid FROM pairs
        |  WHERE dot > 0
        |    AND CAST(dot AS HUGEINT) * dot * 10000
        |        >= CAST(7225 AS HUGEINT) * an2 * bn2)
        |SELECT c.vec_id, c.cell, (d.bid IS NOT NULL) AS dup
        |FROM cells c LEFT JOIN dups d ON c.vec_id = d.bid""".stripMargin,

    // incremental mirror: seeds come from the STORED slice (vec_id % 5 <>
    // 0); incoming (vec_id % 5 = 0) is dup against any stored cell-mate or
    // a smaller-id incoming cell-mate
    "dedup_semantic_incremental" ->
      """WITH v AS (
        |  SELECT vec_id, list_transform(CAST(embedding AS DOUBLE[]),
        |    x -> CAST(round(x * 1000000) AS BIGINT)) AS q
        |  FROM embeddings),
        |seeds AS (SELECT vec_id AS cid, q AS cq FROM v
        |          WHERE vec_id % 5 <> 0 ORDER BY vec_id LIMIT 16),
        |assign AS (
        |  SELECT v.vec_id, v.q, s.cid,
        |    CAST(list_aggregate(list_transform(range(64), i ->
        |      (v.q[i+1] - s.cq[i+1]) * (v.q[i+1] - s.cq[i+1])), 'sum')
        |      AS BIGINT) AS d2
        |  FROM v CROSS JOIN seeds s),
        |cells AS (
        |  SELECT vec_id, q, cid AS cell,
        |    CAST(list_aggregate(list_transform(range(64),
        |      i -> q[i+1] * q[i+1]), 'sum') AS BIGINT) AS n2
        |  FROM (SELECT *, row_number() OVER (PARTITION BY vec_id
        |    ORDER BY d2, cid) AS rk FROM assign) WHERE rk = 1),
        |newc AS (SELECT * FROM cells WHERE vec_id % 5 = 0),
        |oldc AS (SELECT * FROM cells WHERE vec_id % 5 <> 0),
        |pairs AS (
        |  SELECT a.vec_id AS aid,
        |    CAST(list_aggregate(list_transform(range(64),
        |      i -> a.q[i+1] * b.q[i+1]), 'sum') AS BIGINT) AS dot,
        |    a.n2 AS an2, b.n2 AS bn2
        |  FROM newc a JOIN (
        |    SELECT vec_id, q, cell, n2, TRUE AS is_stored FROM oldc
        |    UNION ALL
        |    SELECT vec_id, q, cell, n2, FALSE FROM newc) b
        |    ON a.cell = b.cell
        |   AND (b.is_stored OR b.vec_id < a.vec_id)),
        |dups AS (
        |  SELECT DISTINCT aid FROM pairs
        |  WHERE dot > 0
        |    AND CAST(dot AS HUGEINT) * dot * 10000
        |        >= CAST(7225 AS HUGEINT) * an2 * bn2)
        |SELECT c.vec_id, c.cell, (d.aid IS NOT NULL) AS dup
        |FROM newc c LEFT JOIN dups d ON c.vec_id = d.aid""".stripMargin,

    "dedup_embedding_cosine_baseline" ->
      """WITH v AS (
        |  SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS e,
        |    sqrt(list_aggregate(list_transform(range(64),
        |      i -> CAST(embedding AS DOUBLE[])[i+1]
        |         * CAST(embedding AS DOUBLE[])[i+1]), 'sum')) AS nrm
        |  FROM embeddings)
        |SELECT a.id AS id1, b.id AS id2,
        |  round(list_aggregate(list_transform(range(64),
        |    i -> a.e[i+1] * b.e[i+1]), 'sum') / (a.nrm * b.nrm), 6) AS cos
        |FROM v a JOIN v b ON a.id < b.id
        |WHERE round(list_aggregate(list_transform(range(64),
        |    i -> a.e[i+1] * b.e[i+1]), 'sum') / (a.nrm * b.nrm), 6)
        |  > 0.4""".stripMargin
  )
}
