package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.operators.TextOps

/** Text-analysis inventory over the `documents` fixture (LLM-pipeline
  * extension — BASELINE.json north star; no reference counterpart, the
  * reference is a Flink fork without a text library).
  *
  * Oracles mirror the exact integer/rational arithmetic of
  * [[graft.operators.TextOps]]; the only doubles are final divisions of
  * integer counts (bit-identical cross-engine).
  */
object TextAnalysis extends QuerySet {

  private def docs(s: SparkSession, dir: String) = Tables.load(s, dir, "documents")

  /** BPE merge loop staged once per (app, fixture): the train and encode
    * rows both consume it (merges resp. final state), so the 3-round loop
    * runs exactly once per fixture — the shared-materialization shape the
    * dedup shingle chain uses, via the same [[graft.sources.StagingFs]]
    * ledger (build cost lands in the bench's stage_sec, not per-query). */
  private def bpeStage(s: SparkSession, dir: String): String = {
    graft.sources.StagingFs.stage(s, dir, "graft-bpe3") { p =>
      val (state, merges) = TextOps.bpeMergeLoop(docs(s, dir), rounds = 3)
      state.write.mode("overwrite").parquet(p + "/state")
      import s.implicits._
      merges.toDF("merge_round", "lhs", "rhs", "n")
        .coalesce(1).write.mode("overwrite").parquet(p + "/merges")
    }
  }

  // shared DuckDB fragments
  private val T = raw"string_split_regex(lower(text), '\s+')"
  private val StopList = TextOps.Stopwords.map(w => s"'$w'").mkString("[", ", ", "]")

  override def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "text_stats" -> ((s, dir) => {
      val t = col("text")
      docs(s, dir).select(
        (col("doc_id") +: (TextOps.tokenStats(t) :+
          TextOps.bpeTokenCount(t).as("n_bpe"))): _*)
    }),

    "text_quality" -> ((s, dir) => {
      val t = col("text")
      docs(s, dir).select(
        (col("doc_id") +: (TextOps.qualitySignals(t) :+
          TextOps.qualityScore(t).as("quality"))): _*)
    }),

    "text_langid" -> ((s, dir) =>
      docs(s, dir).select(col("doc_id"),
        TextOps.langId(col("text")).as("lang_pred"),
        (TextOps.langId(col("text")) === col("lang")).as("agrees"))),

    "text_fingerprint" -> ((s, dir) =>
      docs(s, dir).select(col("doc_id"),
        TextOps.docFingerprint(col("text")).as("fp"))),

    // flagship corpus-prep composition: language gate → quality gate →
    // exact dedup (min doc_id per content hash) → per-doc stats. One
    // codegen'd scan + one window shuffle on the content digest — the
    // canonical first pass of a training-data pipeline at 100 TB
    "corpus_prep_pipeline" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val t = col("text")
      val annotated = docs(s, dir).select(col("doc_id"), col("text"),
        TextOps.langId(t).as("lang_pred"),
        TextOps.qualityScore(t).as("quality"),
        TextOps.tokenStats(t).head)
      annotated
        .filter(col("lang_pred") === "en" && col("quality") >= 0.5)
        .withColumn("is_kept", col("doc_id") ===
          min(col("doc_id")).over(Window.partitionBy(md5(col("text")))))
        .filter(col("is_kept"))
        .select(col("doc_id"), col("n_tokens"), col("quality"))
    }),

    // repetition gates (Gopher-style): duplicate-token and dominant-bigram
    // counts — all-integer, exact on any engine
    "text_repetition" -> ((s, dir) =>
      TextOps.repetition(docs(s, dir))),

    // sequence packing (concatenate-then-chunk): docs laid out in id order
    // into 2048-token training sequences; per doc its sequence id + token
    // offset. The exact global prefix sum is two-phase (local cumsums +
    // broadcast partition offsets), not a single-partition window
    "corpus_pack_sequences" -> ((s, dir) =>
      TextOps.packSequences(docs(s, dir), seqLen = 2048L)),

    // training-mix flagship: prep pipeline → deterministic per-band mix
    // control (short docs kept fully, long at 50% by hash gate) → global
    // token-budget cap via running sum in a pinned order. The budget scan is
    // inherently sequential — one narrow window after heavy filtering; at
    // corpus scale budgets are allocated per shard and this exact form runs
    // per-shard
    "corpus_training_mix" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val t = col("text")
      val annotated = docs(s, dir).select(col("doc_id"), col("text"),
        TextOps.langId(t).as("lang_pred"),
        TextOps.qualityScore(t).as("quality"),
        TextOps.tokenStats(t).head)
      val kept = annotated
        .filter(col("lang_pred") === "en" && col("quality") >= 0.5)
        .withColumn("is_kept", col("doc_id") ===
          min(col("doc_id")).over(Window.partitionBy(md5(col("text")))))
        .filter(col("is_kept"))
      val sampled = kept
        .withColumn("band",
          when(col("n_tokens") < 40, "short").otherwise("long"))
        .filter(col("band") === "short" ||
          graft.functions.GraftFunctions.stableHash(
            col("doc_id").cast("string")) % 100 < 50)
      sampled
        .withColumn("cum_tokens", sum(col("n_tokens").cast("long")).over(
          Window.orderBy(col("doc_id"))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .filter(col("cum_tokens") <= 20000)
        .select(col("doc_id"), col("n_tokens"), col("band"), col("cum_tokens"))
    }),

    // BPE-style vocabulary induction, step 1 (the merge-candidate scan):
    // corpus-wide counts of ADJACENT token pairs, top 30 — the exact
    // distributed form of a byte-pair-merge round (count pairs, take the
    // max, merge, repeat). One codegen'd scan builds the pair arrays with
    // higher-order functions (no UDF), one shuffle aggregates — the same
    // map-side-combine shape as agg_top_tokens, so each merge round at
    // 100 TB is one pass + one bounded-cardinality exchange
    "corpus_bpe_pairs" -> ((s, dir) => {
      val toks = graft.functions.GraftFunctions.tokens(col("text"))
      docs(s, dir)
        .select(toks.as("toks"))
        .select(explode(when(size(col("toks")) >= 2,
          transform(sequence(lit(0), size(col("toks")) - 2),
            i => array_join(slice(col("toks"), i + 1, lit(2)), " ")))
          .otherwise(array().cast("array<string>"))).as("pair"))
        .groupBy(col("pair")).agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("pair").asc)
        .limit(30)
    }),

    // deterministic shard assignment (training-data layout): shard =
    // md5-hash(doc_id) % 64 — a pure function of the KEY, not of row
    // position or partition layout, so reprocessing the corpus (or any
    // subset) routes every doc to the same shard; per-shard stats prove
    // the balance a hash shard gives data-loader parallelism. One
    // map-side-combined shuffle of 64 groups.
    "corpus_shard_assign" -> ((s, dir) =>
      docs(s, dir)
        .withColumn("shard", graft.functions.GraftFunctions
          .stableHashMod(col("doc_id").cast("string"), 64L).cast("int"))
        .groupBy(col("shard"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).cast("long").as("sum_chars"))),

    // PII-style scrub over a composed customer record: the structured
    // customer id is redacted first, then remaining digit runs (the
    // balance) — counts + digest of the scrubbed text. The balance is
    // stringified via DECIMAL so both engines print the identical text.
    "text_scrub" -> ((s, dir) =>
      TextOps.scrub(
        Tables.load(s, dir, "customer"),
        concat_ws(" ", col("c_name"),
          col("c_acctbal").cast("decimal(12,2)").cast("string"),
          col("c_mktsegment")),
        col("c_custkey"),
        Seq(
          ("custid", "Customer#[0-9]+", "<CUST>"),
          ("num", "[0-9]+\\.?[0-9]*", "<NUM>")))),

    // n-gram LM fluency scoring (the perplexity-filter counterpart of
    // CCNet/RefinedWeb curation): bigram conditionals from the corpus
    // itself, per-bigram probability integer-quantized BEFORE the per-doc
    // mean so the score is value-oracle-exact
    "text_lm_fluency" -> ((s, dir) =>
      TextOps.lmFluency(docs(s, dir))),

    // context-window prep: 32-token windows every 24 tokens (overlap 8),
    // partial tail kept; windows fingerprinted instead of materialized
    "corpus_chunk_windows" -> ((s, dir) =>
      TextOps.chunkWindows(docs(s, dir))),

    // full BPE-trainer loop (3 complete merge rounds over the corpus):
    // the iterate-over-text counterpart of corpus_bpe_pairs — count pairs,
    // take the integer-exact argmax, rewrite sequences by merging leftmost
    // non-overlapping occurrences, repeat. See TextOps.bpeTrain.
    "corpus_bpe_train" -> ((s, dir) =>
      s.read.parquet(bpeStage(s, dir) + "/merges")),

    // the ENCODE half: apply the 3 learned merges and roll the encoded
    // corpus up as its symbol histogram (vocab frequency table) — the
    // artifact a data pipeline consumes after vocabulary induction
    "corpus_bpe_encode" -> ((s, dir) =>
      s.read.parquet(bpeStage(s, dir) + "/state")
        .groupBy(col("tok"))
        .agg(count(lit(1)).as("n"),
          countDistinct(col("doc_id")).as("n_docs"))),

    // lexical-diversity gates (Gopher-style vocabulary signals): per-doc
    // type-token ratio, top-token dominance, hapax fraction — all-integer
    // basis points, one exchange (both aggs share the doc clustering)
    "text_lexical_diversity" -> ((s, dir) =>
      TextOps.lexicalDiversity(docs(s, dir))),

    // per-source quality percentile (basis points, ties share a rank) +
    // the cross-source keep gate — raw quality scores are only comparable
    // within a source; the rank-below sum runs over the grouped
    // (source, score) grid, never a per-source sort of the corpus
    "corpus_quality_calibrate" -> ((s, dir) =>
      TextOps.calibrateQuality(docs(s, dir), keepBp = 2000)),

    // continuous-ingest triage: per incoming-batch doc (doc_id % 10 = 0),
    // the share of its distinct 6-gram hashes unseen in the stored corpus
    // — the stored side participates only as its gram-hash index
    "corpus_batch_novelty" -> ((s, dir) => {
      val d = docs(s, dir)
      TextOps.batchNovelty(d.filter(col("doc_id") % 10 =!= 0),
        d.filter(col("doc_id") % 10 === 0))
    }),

    // per-domain cap (RefinedWeb-style source balancing): at most 10 docs
    // per source survive, chosen by md5 lottery; output labels every doc
    // so kept/dropped counts per domain fall out of one groupBy
    "corpus_domain_cap" -> ((s, dir) =>
      graft.operators.SamplingOps.capPerGroup(
          docs(s, dir).select(col("doc_id"), col("source")),
          groupCol = "source", keyCol = "doc_id", k = 10)
        .select(col("doc_id"), col("source"), col("kept"))),

    // curriculum ordering (round 11): phases by exact token-count
    // quantiles (value-level boundaries off the distinct-count histogram —
    // the corpus never sorts globally), md5 shards, within-(phase, shard)
    // md5 order — the easy→hard write layout a curriculum-scheduled
    // training run consumes phase-by-phase with shards interleaved
    "corpus_curriculum_order" -> ((s, dir) =>
      graft.operators.SamplingOps.curriculumOrder(
          docs(s, dir).select(col("doc_id"), col("text")),
          difficulty = size(graft.functions.GraftFunctions.tokens(col("text")))
            .cast("long"),
          keyCol = "doc_id", phases = 4, shards = 8)
        .select(col("doc_id"), col("difficulty"), col("phase"),
          col("shard"), col("phase_order"))),

    // temperature-flattened mixing (τ=2, XLM-R/mT5): per-source keep
    // probability = sqrt(corpus share) — smooth downsampling of dominant
    // sources; rolled up per source so the flattening is visible
    "corpus_temperature_sample" -> ((s, dir) =>
      graft.operators.SamplingOps.temperatureSample(
          docs(s, dir).select(col("doc_id"), col("source")),
          groupCol = "source", keyCol = "doc_id")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          max(col("w_micro")).as("w_micro"),
          sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept")))
  )

  // one BPE merge round r (mirrors TextOps.bpeTrain): adjacent-pair counts
  // + integer-exact argmax over s{r-1}, then the islands-selected leftmost
  // non-overlapping merge into s{r}. `off % 2 = 1` keeps every odd match
  // inside a consecutive-position run — overlaps only arise in
  // equal-symbol runs, so this IS greedy left-to-right.
  private def bpeRoundSql(r: Int): String = {
    val prev = s"s${r - 1}"
    s"""p$r AS (
       |  SELECT doc_id, pos, tok,
       |    lead(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS nxt
       |  FROM $prev),
       |b$r AS (
       |  SELECT tok AS lhs, nxt AS rhs, CAST(COUNT(*) AS BIGINT) AS n
       |  FROM p$r WHERE nxt IS NOT NULL
       |  GROUP BY tok, nxt ORDER BY n DESC, lhs ASC, rhs ASC LIMIT 1),
       |k$r AS (
       |  SELECT doc_id, pos FROM (
       |    SELECT doc_id, pos, row_number()
       |        OVER (PARTITION BY doc_id, grp ORDER BY pos) AS off
       |    FROM (
       |      SELECT p.doc_id, p.pos, p.pos - row_number()
       |          OVER (PARTITION BY p.doc_id ORDER BY p.pos) AS grp
       |      FROM p$r p, b$r b WHERE p.tok = b.lhs AND p.nxt = b.rhs))
       |  WHERE off % 2 = 1),
       |s$r AS (
       |  SELECT doc_id, CAST(row_number()
       |      OVER (PARTITION BY doc_id ORDER BY opos) AS BIGINT) AS pos, tok
       |  FROM (
       |    SELECT s.doc_id, s.pos AS opos,
       |      CASE WHEN k.pos IS NOT NULL
       |        THEN (SELECT lhs || rhs FROM b$r) ELSE s.tok END AS tok
       |    FROM $prev s
       |    LEFT JOIN k$r k ON s.doc_id = k.doc_id AND s.pos = k.pos
       |    LEFT JOIN k$r c ON s.doc_id = c.doc_id AND s.pos = c.pos + 1
       |    WHERE c.pos IS NULL))""".stripMargin
  }

  /** Mirror of TextOps.qualityScore (same expression the text_quality
    * oracle inlines). */
  private val QSql =
    s"""round((
       |    least(CAST(len($T) AS DOUBLE) / 50.0, 1.0) +
       |    least(CAST(len(list_filter($T, x -> list_contains($StopList, x)))
       |      AS DOUBLE) * 10.0 / len($T), 1.0) +
       |    (1.0 - least(CAST(length(text) - length(regexp_replace(text,
       |      '[^a-zA-Z0-9\\s]', '', 'g')) AS DOUBLE) * 5.0 / length(text),
       |      1.0))) / 3.0, 6)""".stripMargin

  override def oracle: Map[String, String] = Map(
    "corpus_quality_calibrate" ->
      s"""WITH s AS (
         |  SELECT doc_id, source, $QSql AS q,
         |    CAST(round($QSql * 1000000) AS BIGINT) AS qm
         |  FROM documents),
         |g AS (
         |  SELECT source, qm, CAST(COUNT(*) AS BIGINT) AS cnt
         |  FROM s GROUP BY source, qm),
         |r AS (
         |  SELECT source, qm,
         |    COALESCE(SUM(cnt) OVER (PARTITION BY source ORDER BY qm
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS below,
         |    SUM(cnt) OVER (PARTITION BY source) AS n_src
         |  FROM g)
         |SELECT s.doc_id, s.source, s.q,
         |  CAST(below * 10000 // greatest(n_src - 1, 1) AS BIGINT) AS cal_bp,
         |  (below * 10000 // greatest(n_src - 1, 1)) >= 2000 AS keep
         |FROM s JOIN r ON s.source = r.source AND s.qm = r.qm""".stripMargin,

    // grams/hashes exactly like the substring-dedup oracle (k=6, single-
    // space joins, 60-bit md5-prefix hash); stored index = distinct hashes
    // of the doc_id % 10 <> 0 side
    "corpus_batch_novelty" ->
      s"""WITH toks AS (SELECT doc_id, $T AS t FROM documents),
         |g AS (
         |  SELECT doc_id, CAST(concat('0x', substr(md5(
         |    array_to_string(t[i+1:i+6], ' ')), 1, 15)) AS BIGINT) AS gh
         |  FROM toks, unnest(range(len(t) - 5)) AS u(i)
         |  WHERE len(t) >= 6),
         |idx AS (SELECT DISTINCT gh FROM g WHERE doc_id % 10 <> 0),
         |bg AS (SELECT DISTINCT doc_id, gh FROM g WHERE doc_id % 10 = 0)
         |SELECT bg.doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams,
         |  CAST(SUM(CASE WHEN idx.gh IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_novel,
         |  CAST(CAST(SUM(CASE WHEN idx.gh IS NULL THEN 1 ELSE 0 END)
         |    AS BIGINT) * 10000 // COUNT(*) AS BIGINT) AS novel_bp
         |FROM bg LEFT JOIN idx ON bg.gh = idx.gh
         |GROUP BY bg.doc_id""".stripMargin,

    // `//` = Spark's DIV: both engines integer-divide BIGINTs exactly
    "text_lexical_diversity" ->
      s"""WITH tf AS (
         |  SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS k
         |  FROM (SELECT doc_id, unnest($T) AS tok FROM documents)
         |  GROUP BY doc_id, tok)
         |SELECT doc_id, CAST(SUM(k) AS BIGINT) AS n_tokens,
         |  CAST(COUNT(*) AS BIGINT) AS n_types,
         |  CAST(COUNT(*) * 10000 // CAST(SUM(k) AS BIGINT) AS BIGINT) AS ttr_bp,
         |  CAST(MAX(k) * 10000 // CAST(SUM(k) AS BIGINT) AS BIGINT)
         |    AS top_frac_bp,
         |  CAST(CAST(SUM(CASE WHEN k = 1 THEN 1 ELSE 0 END) AS BIGINT)
         |    * 10000 // COUNT(*) AS BIGINT) AS hapax_bp
         |FROM tf GROUP BY doc_id""".stripMargin,

    "corpus_domain_cap" ->
      s"""SELECT doc_id, source, (rn <= 10) AS kept FROM (
         |  SELECT doc_id, source, row_number() OVER (PARTITION BY source
         |    ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
         |  FROM documents)""".stripMargin,

    // phase boundaries from the token-count value histogram (cum counts,
    // non-negative integer div — identical in any engine); shard + order
    // by the shared md5 idioms
    "corpus_curriculum_order" ->
      s"""WITH t AS (
         |  SELECT doc_id, CAST(len($T) AS BIGINT) AS d FROM documents),
         |h AS (SELECT d, CAST(COUNT(*) AS BIGINT) AS c FROM t GROUP BY d),
         |cum AS (
         |  SELECT d, SUM(c) OVER (ORDER BY d) AS cum,
         |    (SELECT SUM(c) FROM h) AS n
         |  FROM h),
         |ph AS (
         |  SELECT d, CAST(least(CAST(3 AS BIGINT), (cum - 1) * 4 // n)
         |    AS INT) AS phase FROM cum)
         |SELECT doc_id, difficulty, phase, shard,
         |  CAST(row_number() OVER (PARTITION BY phase, shard
         |    ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS INT)
         |    AS phase_order
         |FROM (
         |  SELECT t.doc_id, t.d AS difficulty, ph.phase,
         |    CAST(CAST(concat('0x',
         |      substr(md5(CAST(t.doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
         |      % 8 AS INT) AS shard
         |  FROM t JOIN ph ON t.d = ph.d)""".stripMargin,

    // rate = round(sqrt(n_g/N)*1e6): one IEEE division + correctly-rounded
    // sqrt on both engines, then the md5 lottery in exact integers
    "corpus_temperature_sample" ->
      s"""WITH c AS (
         |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_g
         |  FROM documents GROUP BY source),
         |w AS (
         |  SELECT source, n_g, CAST(round(sqrt(CAST(n_g AS DOUBLE) /
         |    CAST((SELECT SUM(n_g) FROM c) AS DOUBLE)) * 1000000)
         |    AS BIGINT) AS w_micro
         |  FROM c)
         |SELECT d.source, w.n_g AS n_docs, w.w_micro,
         |  CAST(SUM(CASE WHEN
         |    CAST(concat('0x', substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 15))
         |      AS BIGINT) % 1000000 < w.w_micro THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_kept
         |FROM documents d JOIN w USING (source)
         |GROUP BY 1, 2, 3""".stripMargin,

    // 3 chained merge rounds; block structure generated by bpeRoundSql
    "corpus_bpe_train" ->
      s"""WITH toks AS (SELECT doc_id, $T AS t FROM documents),
         |s0 AS (
         |  SELECT doc_id, CAST(i AS BIGINT) AS pos, t[i] AS tok
         |  FROM toks, unnest(range(1, len(t) + 1)) AS u(i)),
         |${bpeRoundSql(1)},
         |${bpeRoundSql(2)},
         |${bpeRoundSql(3)}
         |SELECT 1 AS merge_round, lhs, rhs, n FROM b1
         |UNION ALL SELECT 2, lhs, rhs, n FROM b2
         |UNION ALL SELECT 3, lhs, rhs, n FROM b3""".stripMargin,

    // same 3 chained merge rounds, then the final state's symbol histogram
    "corpus_bpe_encode" ->
      s"""WITH toks AS (SELECT doc_id, $T AS t FROM documents),
         |s0 AS (
         |  SELECT doc_id, CAST(i AS BIGINT) AS pos, t[i] AS tok
         |  FROM toks, unnest(range(1, len(t) + 1)) AS u(i)),
         |${bpeRoundSql(1)},
         |${bpeRoundSql(2)},
         |${bpeRoundSql(3)}
         |SELECT tok, CAST(COUNT(*) AS BIGINT) AS n,
         |  CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
         |FROM s3 GROUP BY tok""".stripMargin,

    // list slicing t[i+1:i+32] clamps at len like Spark's slice(toks,i+1,32)
    "corpus_chunk_windows" ->
      s"""WITH toks AS (SELECT doc_id, $T AS t FROM documents)
         |SELECT doc_id, CAST(i // 24 AS BIGINT) AS chunk_id,
         |  CAST(i AS BIGINT) AS chunk_start,
         |  CAST(LEAST(32, len(t) - i) AS BIGINT) AS n_chunk_tokens,
         |  md5(array_to_string(t[i+1:i+32], ' ')) AS chunk_fp
         |FROM toks, unnest(range(0, len(t), 24)) AS u(i)""".stripMargin,

    // same bigram space as corpus_bpe_pairs; prefix totals derived from the
    // bigram counts (self-consistent conditionals); integer `//` division
    // at the same two places the Spark side uses DIV
    "text_lm_fluency" ->
      s"""WITH toks AS (SELECT doc_id, $T AS t FROM documents),
         |bi AS (
         |  SELECT doc_id, unnest(list_transform(range(len(t) - 1),
         |    i -> t[i+1] || ' ' || t[i+2])) AS bigram
         |  FROM toks WHERE len(t) >= 2),
         |c2 AS (
         |  SELECT bigram, CAST(COUNT(*) AS BIGINT) AS c2,
         |    string_split(bigram, ' ')[1] AS prefix
         |  FROM bi GROUP BY bigram),
         |c1 AS (SELECT prefix, CAST(SUM(c2) AS BIGINT) AS c1
         |       FROM c2 GROUP BY prefix),
         |p AS (
         |  SELECT bigram, CAST(c2.c2 * 1000000 // c1.c1 AS BIGINT) AS p_micro
         |  FROM c2 JOIN c1 USING (prefix))
         |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
         |  CAST(SUM(p_micro) // COUNT(*) AS BIGINT) AS fluency_micro
         |FROM bi JOIN p USING (bigram)
         |GROUP BY doc_id""".stripMargin,

    "corpus_shard_assign" ->
      """SELECT CAST(CAST(concat('0x',
        |    substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 64
        |    AS INT) AS shard,
        |  COUNT(*) AS n_docs,
        |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars
        |FROM documents GROUP BY 1""".stripMargin,

    "corpus_bpe_pairs" ->
      s"""WITH t AS (SELECT $T AS toks FROM documents),
         |p AS (SELECT unnest(CASE WHEN len(toks) >= 2
         |        THEN list_transform(range(len(toks) - 1),
         |          i -> toks[i+1] || ' ' || toks[i+2])
         |        ELSE CAST([] AS VARCHAR[]) END) AS pair FROM t)
         |SELECT pair, COUNT(*) AS n FROM p
         |GROUP BY pair ORDER BY n DESC, pair ASC LIMIT 30""".stripMargin,

    "text_scrub" ->
      """WITH t AS (
        |  SELECT c_custkey,
        |    concat_ws(' ', c_name,
        |      CAST(CAST(c_acctbal AS DECIMAL(12,2)) AS VARCHAR),
        |      c_mktsegment) AS txt
        |  FROM customer),
        |p AS (
        |  SELECT c_custkey,
        |    CAST(len(regexp_extract_all(txt, 'Customer#[0-9]+')) AS INT)
        |      AS n_custid,
        |    regexp_replace(txt, 'Customer#[0-9]+', '<CUST>', 'g') AS txt1
        |  FROM t)
        |SELECT c_custkey, n_custid,
        |  CAST(len(regexp_extract_all(txt1, '[0-9]+\.?[0-9]*')) AS INT)
        |    AS n_num,
        |  md5(regexp_replace(txt1, '[0-9]+\.?[0-9]*', '<NUM>', 'g'))
        |    AS scrubbed_fp
        |FROM p""".stripMargin,

    "text_repetition" ->
      s"""WITH base AS (
         |  SELECT doc_id, $T AS t FROM documents),
         |sized AS (
         |  SELECT doc_id, CAST(len(t) AS INT) AS n_tokens,
         |    CAST(len(list_distinct(t)) AS INT) AS n_distinct,
         |    CASE WHEN len(t) >= 2 THEN list_transform(range(len(t) - 1),
         |      i -> t[i+1] || ' ' || t[i+2]) ELSE [] END AS bgs
         |  FROM base),
         |cnt AS (
         |  SELECT doc_id, bg, COUNT(*) AS c
         |  FROM (SELECT doc_id, unnest(bgs) AS bg FROM sized) GROUP BY 1, 2),
         |agg AS (
         |  SELECT doc_id, SUM(c) AS n_bigrams, MAX(c) AS top_bigram_n
         |  FROM cnt GROUP BY 1)
         |SELECT s.doc_id, s.n_tokens, s.n_distinct,
         |  CAST(COALESCE(a.n_bigrams, 0) AS BIGINT) AS n_bigrams,
         |  COALESCE(a.top_bigram_n, 0) AS top_bigram_n
         |FROM sized s LEFT JOIN agg a USING (doc_id)""".stripMargin,

    // the two-phase distributed prefix sum must equal the sequential
    // concatenate-then-chunk layout
    "corpus_pack_sequences" ->
      s"""WITH t AS (
         |  SELECT doc_id, CAST(len($T) AS BIGINT) AS n_tokens FROM documents),
         |c AS (
         |  SELECT doc_id, n_tokens,
         |    CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |      AS BIGINT) AS _before
         |  FROM t)
         |SELECT doc_id, n_tokens,
         |  CAST(_before // 2048 AS BIGINT) AS seq_id,
         |  CAST(_before % 2048 AS BIGINT) AS seq_offset
         |FROM c""".stripMargin,
    "text_stats" ->
      s"""SELECT doc_id,
         |  CAST(len($T) AS INT) AS n_tokens,
         |  CAST(len(list_distinct($T)) AS INT) AS n_distinct,
         |  CAST(list_aggregate(list_transform($T, x -> length(x)), 'sum')
         |    AS DOUBLE) / len($T) AS mean_tok_len,
         |  CAST(len(regexp_extract_all(lower(text),
         |    '[a-z]+|[0-9]+|[^a-z0-9\\s]')) AS INT) AS n_bpe
         |FROM documents""".stripMargin,

    "text_quality" ->
      s"""SELECT doc_id,
         |  CAST(len(list_filter($T, x -> list_contains($StopList, x)))
         |    AS DOUBLE) / len($T) AS stopword_ratio,
         |  CAST(length(text) - length(regexp_replace(text,
         |    '[^a-zA-Z0-9\\s]', '', 'g')) AS DOUBLE) / length(text)
         |    AS punct_ratio,
         |  CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g'))
         |    AS DOUBLE) / length(text) AS digit_ratio,
         |  CAST(length(text) - length(regexp_replace(text, '[^ -~]', '', 'g'))
         |    AS DOUBLE) / length(text) AS non_ascii_ratio,
         |  round((
         |    least(CAST(len($T) AS DOUBLE) / 50.0, 1.0) +
         |    least(CAST(len(list_filter($T, x -> list_contains($StopList, x)))
         |      AS DOUBLE) * 10.0 / len($T), 1.0) +
         |    (1.0 - least(CAST(length(text) - length(regexp_replace(text,
         |      '[^a-zA-Z0-9\\s]', '', 'g')) AS DOUBLE) * 5.0 / length(text),
         |      1.0))) / 3.0, 6) AS quality
         |FROM documents""".stripMargin,

    "text_langid" ->
      s"""WITH sig AS (
         |  SELECT doc_id, lang,
         |    len(list_filter($T, x -> list_contains($StopList, x))) AS stop_cnt,
         |    len($T) AS n_toks,
         |    length(text) - length(regexp_replace(text, '[^ -~]', '', 'g'))
         |      AS non_ascii,
         |    length(text) AS n_chars
         |  FROM documents)
         |SELECT doc_id,
         |  CASE WHEN non_ascii * 10 > n_chars THEN 'non_latin'
         |       WHEN stop_cnt * 50 >= n_toks THEN 'en'
         |       ELSE 'unk' END AS lang_pred,
         |  (CASE WHEN non_ascii * 10 > n_chars THEN 'non_latin'
         |        WHEN stop_cnt * 50 >= n_toks THEN 'en'
         |        ELSE 'unk' END) = lang AS agrees
         |FROM sig""".stripMargin,

    "text_fingerprint" ->
      s"""SELECT doc_id,
         |  CAST(list_aggregate(list_transform(range(len($T)), i ->
         |    (CAST(concat('0x', substr(md5($T[i+1]), 1, 15)) AS BIGINT)
         |      % 1000000000039) * (i + 1)), 'sum') AS BIGINT) AS fp
         |FROM documents""".stripMargin,

    "corpus_prep_pipeline" ->
      s"""WITH ann AS (
         |  SELECT doc_id, text,
         |    CAST(len($T) AS INT) AS n_tokens,
         |    CASE WHEN (length(text) - length(regexp_replace(text,
         |           '[^ -~]', '', 'g'))) * 10 > length(text) THEN 'non_latin'
         |         WHEN len(list_filter($T, x -> list_contains($StopList, x)))
         |           * 50 >= len($T) THEN 'en'
         |         ELSE 'unk' END AS lang_pred,
         |    round((
         |      least(CAST(len($T) AS DOUBLE) / 50.0, 1.0) +
         |      least(CAST(len(list_filter($T, x -> list_contains($StopList,
         |        x))) AS DOUBLE) * 10.0 / len($T), 1.0) +
         |      (1.0 - least(CAST(length(text) - length(regexp_replace(text,
         |        '[^a-zA-Z0-9\\s]', '', 'g')) AS DOUBLE) * 5.0 /
         |        length(text), 1.0))) / 3.0, 6) AS quality
         |  FROM documents),
         |kept AS (
         |  SELECT * FROM ann WHERE lang_pred = 'en' AND quality >= 0.5),
         |ded AS (
         |  SELECT doc_id, n_tokens, quality,
         |    doc_id = MIN(doc_id) OVER (PARTITION BY md5(text)) AS is_kept
         |  FROM kept)
         |SELECT doc_id, n_tokens, quality FROM ded WHERE is_kept""".stripMargin,

    "corpus_training_mix" ->
      s"""WITH ann AS (
         |  SELECT doc_id, text,
         |    CAST(len($T) AS INT) AS n_tokens,
         |    CASE WHEN (length(text) - length(regexp_replace(text,
         |           '[^ -~]', '', 'g'))) * 10 > length(text) THEN 'non_latin'
         |         WHEN len(list_filter($T, x -> list_contains($StopList, x)))
         |           * 50 >= len($T) THEN 'en'
         |         ELSE 'unk' END AS lang_pred,
         |    round((
         |      least(CAST(len($T) AS DOUBLE) / 50.0, 1.0) +
         |      least(CAST(len(list_filter($T, x -> list_contains($StopList,
         |        x))) AS DOUBLE) * 10.0 / len($T), 1.0) +
         |      (1.0 - least(CAST(length(text) - length(regexp_replace(text,
         |        '[^a-zA-Z0-9\\s]', '', 'g')) AS DOUBLE) * 5.0 /
         |        length(text), 1.0))) / 3.0, 6) AS quality
         |  FROM documents),
         |kept AS (
         |  SELECT * FROM ann WHERE lang_pred = 'en' AND quality >= 0.5),
         |ded AS (
         |  SELECT doc_id, text, n_tokens,
         |    doc_id = MIN(doc_id) OVER (PARTITION BY md5(text)) AS is_kept
         |  FROM kept),
         |banded AS (
         |  SELECT doc_id, n_tokens,
         |    CASE WHEN n_tokens < 40 THEN 'short' ELSE 'long' END AS band
         |  FROM ded WHERE is_kept),
         |sampled AS (
         |  SELECT * FROM banded
         |  WHERE band = 'short'
         |     OR CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
         |          AS BIGINT) % 100 < 50),
         |budgeted AS (
         |  SELECT doc_id, n_tokens, band,
         |    CAST(SUM(CAST(n_tokens AS BIGINT)) OVER (ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         |      AS cum_tokens
         |  FROM sampled)
         |SELECT doc_id, n_tokens, band, cum_tokens
         |FROM budgeted WHERE cum_tokens <= 20000""".stripMargin
  )
}
