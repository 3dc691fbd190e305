package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.GraftFunctions._

/** Text-analysis operators for large-scale training-data pipelines.
  *
  * Everything is built from codegen'd Catalyst expressions (no UDFs): each
  * operator is a narrow per-row map, so plans stay inside one
  * WholeStageCodegen span and scale embarrassingly parallel — no shuffle is
  * introduced by any function here.
  *
  * The reference has no text pipeline (it is a Flink fork —
  * `flink-core/.../api/common/io/GenericCsvInputFormat.java:40` is its text
  * surface); these operators are the LLM-pipeline extension named in
  * BASELINE.json's north star.
  */
object TextOps {

  /** Stopword list shared verbatim with the DuckDB oracles. */
  val Stopwords: Seq[String] =
    Seq("the", "a", "an", "of", "to", "and", "in", "is", "it", "that", "for")

  /** BPE-ish pre-tokenizer: letter runs, digit runs, single punctuation.
    * Same RE2/Java-compatible pattern used on the oracle side. */
  val BpePattern = "[a-z]+|[0-9]+|[^a-z0-9\\s]"

  /** Whitespace-token statistics: count, distinct count, mean token length
    * (exact integer sum, then one double division). */
  def tokenStats(text: Column): Seq[Column] = {
    val toks = tokens(text)
    Seq(
      size(toks).as("n_tokens"),
      size(array_distinct(toks)).as("n_distinct"),
      (aggregate(toks, lit(0L), (acc, t) => acc + length(t)).cast("double") /
        size(toks)).as("mean_tok_len"))
  }

  /** Byte-pair-style subword count via regex matches on the lowercased text. */
  def bpeTokenCount(text: Column): Column =
    size(regexp_extract_all(lower(text), lit(BpePattern), lit(0)))

  /** Quality signals: ratios are integer-count / integer-count divisions so
    * they are exactly reproducible on any engine. */
  def qualitySignals(text: Column): Seq[Column] = {
    val toks = tokens(text)
    val nChars = length(text)
    val stopCnt = size(filter(toks, t => t.isInCollection(Stopwords)))
    val punctCnt = nChars - length(regexp_replace(text, "[^a-zA-Z0-9\\s]", ""))
    val digitCnt = nChars - length(regexp_replace(text, "[0-9]", ""))
    val nonAscii = nChars - length(regexp_replace(text, "[^ -~]", ""))
    Seq(
      (stopCnt.cast("double") / size(toks)).as("stopword_ratio"),
      (punctCnt.cast("double") / nChars).as("punct_ratio"),
      (digitCnt.cast("double") / nChars).as("digit_ratio"),
      (nonAscii.cast("double") / nChars).as("non_ascii_ratio"))
  }

  /** Composite quality score in [0,1]: heavily stopworded, low-punctuation,
    * ASCII text with a sane mean word length scores high. Deterministic
    * (rational arithmetic over integer counts). */
  def qualityScore(text: Column): Column = {
    val toks = tokens(text)
    val stopCnt = size(filter(toks, t => t.isInCollection(Stopwords)))
    val nChars = length(text)
    val punctCnt = nChars - length(regexp_replace(text, "[^a-zA-Z0-9\\s]", ""))
    val lenScore = least(size(toks).cast("double") / 50.0, lit(1.0))
    val stopScore = least(stopCnt.cast("double") * 10.0 / size(toks), lit(1.0))
    val punctScore = lit(1.0) - least(punctCnt.cast("double") * 5.0 / nChars, lit(1.0))
    round((lenScore + stopScore + punctScore) / 3.0, 6)
  }

  /** n-gram-heuristic language ID: English iff the text is ASCII-dominated
    * and carries a minimum density of English stopwords. (A full model would
    * score character n-gram profiles per language; the decision surface —
    * deterministic per-row classification — is identical.) */
  def langId(text: Column): Column = {
    val toks = tokens(text)
    val stopCnt = size(filter(toks, t => t.isInCollection(Stopwords)))
    val nChars = length(text)
    val nonAscii = nChars - length(regexp_replace(text, "[^ -~]", ""))
    when(nonAscii * 10 > nChars, "non_latin")
      .when(stopCnt * 50 >= size(toks), "en")
      .otherwise("unk")
  }

  /** Order-sensitive positional document fingerprint (rolling-hash family):
    * Σ h(tok_i)·i in exact integer arithmetic — see
    * [[graft.functions.GraftFunctions.fingerprint]]. */
  def docFingerprint(text: Column): Column = fingerprint(tokens(text))

  /** Sequence packing for pretraining (concatenate-then-chunk): documents
    * are laid out in `doc_id` order into fixed training sequences of
    * `seqLen` tokens; each doc gets its sequence id and token offset (a
    * doc may span sequence boundaries — the standard GPT-style packing).
    *
    * The global exact prefix sum is TWO-PHASE, not a single-partition
    * window: range-partition by id, local cumulative sums per partition,
    * then per-partition totals (a tiny driver-side vector — one row per
    * partition) broadcast back as offsets. The values are independent of
    * where the sampled range boundaries fall, so the result is
    * deterministic even though the partitioner samples. This is the shape
    * that survives 100 TB; the single-partition window form would
    * serialize the corpus through one task. */
  def packSequences(docs: DataFrame, seqLen: Long): DataFrame = {
    val counted = docs
      .select(col("doc_id"), size(tokens(col("text"))).cast("long").as("n_tokens"))
      .repartitionByRange(col("doc_id"))
      .sortWithinPartitions(col("doc_id"))
    // PIN the layout: the range partitioner SAMPLES, so without the
    // checkpoint the totals job and the final job could re-plan onto
    // different boundaries and the broadcast offsets would belong to a
    // different pid mapping than the rows they join
    val withPid = counted.withColumn("_pid", spark_partition_id())
      .localCheckpoint()
    val local = withPid.withColumn("_local_before",
      coalesce(sum(col("n_tokens")).over(
        Window.partitionBy(col("_pid")).orderBy(col("doc_id"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
    // one row per partition — tiny by construction; running prefix of the
    // per-partition totals becomes a broadcast (pid → global offset) map
    val totals = withPid.groupBy(col("_pid"))
      .agg(sum(col("n_tokens")).as("_t"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val offsets = {
      var acc = 0L
      totals.keys.toSeq.sorted.map { pid =>
        val o = (pid, acc); acc += totals(pid); o
      }
    }
    val spark = docs.sparkSession
    import spark.implicits._
    val offDf = broadcast(offsets.toDF("_pid", "_offset"))
    local.join(offDf, "_pid")
      .withColumn("_before", col("_local_before") + col("_offset"))
      .select(col("doc_id"), col("n_tokens"),
        expr(s"_before div $seqLen").as("seq_id"),
        (col("_before") % seqLen).as("seq_offset"))
  }

  /** Repetition signals (Gopher/RefinedWeb-style quality gates): token
    * duplication and the dominance of the most frequent bigram. All-integer
    * outputs so the comparison is exact on any engine; the caller derives
    * ratios. Relational shape: explode bigrams → two same-key aggregations
    * (the second reuses the first's hash partitioning — one real shuffle on
    * doc id, partial-aggregated map-side). */
  def repetition(docs: DataFrame): DataFrame = {
    val base = docs.select(col("doc_id"), tokens(col("text")).as("tk"))
      .select(col("doc_id"),
        size(col("tk")).as("n_tokens"),
        size(array_distinct(col("tk"))).as("n_distinct"),
        explode_outer(when(size(col("tk")) >= 2, expr(
          "transform(sequence(0, size(tk)-2), i -> concat(tk[i], ' ', tk[i+1]))"
        ))).as("bg"))
    base.groupBy(col("doc_id"), col("bg"))
      .agg(max(col("n_tokens")).as("n_tokens"),
        max(col("n_distinct")).as("n_distinct"),
        count(col("bg")).as("c"))
      .groupBy(col("doc_id"))
      .agg(max(col("n_tokens")).as("n_tokens"),
        max(col("n_distinct")).as("n_distinct"),
        sum(when(col("bg").isNotNull, col("c")).otherwise(0L)).as("n_bigrams"),
        max(when(col("bg").isNotNull, col("c")).otherwise(0L)).as("top_bigram_n"))
  }

  /** Fixed-width token blocks — the "paragraph" unit for block-level exact
    * dedup ([[graft.operators.DedupOps.paragraphDedup]]). The fixture text
    * carries no newlines, so the CCNet paragraph boundary degrades to a
    * fixed `width`-token block; a corpus with real structure swaps the
    * splitter, nothing downstream changes. Same per-row sequence+slice
    * shape as [[chunkWindows]] with stride = width but carrying the block
    * TEXT (the apply step needs it to reconstruct documents): rows
    * (doc_id, blk, n_block_tokens, btxt), the tail block partial. Pure
    * codegen'd map — no shuffle, composes into the scan at any scale. */
  def tokenBlocks(docs: DataFrame, width: Int = 20): DataFrame = {
    require(width >= 1, s"block width must be >= 1: $width")
    docs
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .select(col("doc_id"), size(col("toks")).cast("long").as("n_toks"),
        posexplode(transform(
          sequence(lit(0), size(col("toks")) - 1, lit(width)),
          st => array_join(slice(col("toks"), st + 1, lit(width)), " ")))
          .as(Seq("blk", "btxt")))
      .select(col("doc_id"), col("blk").cast("long").as("blk"),
        least(lit(width.toLong), col("n_toks") - col("blk") * width)
          .as("n_block_tokens"),
        col("btxt"))
  }

  /** Lexical-diversity quality signals (the Gopher-style vocabulary gates
    * that [[repetition]]'s duplication counts complement): per document the
    * type-token ratio, the dominance of the single most frequent token, and
    * the hapax fraction (types occurring once). All-integer basis points
    * (x·10000 div y) so the comparison is exact on any engine. Shape: ONE
    * exchange — repartition by doc ships compact text rows, and both
    * grouped aggregations (per-(doc,token) counts, then the per-doc
    * rollup) are satisfied by that clustering, so neither re-shuffles. */
  def lexicalDiversity(docs: DataFrame): DataFrame = {
    val tf = docs.repartition(col("doc_id"))
      .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
      .groupBy(col("doc_id"), col("tok"))
      .agg(count(lit(1)).as("k"))
    tf.groupBy(col("doc_id"))
      .agg(sum(col("k")).as("n_tokens"),
        count(lit(1)).as("n_types"),
        expr("COUNT(1) * 10000 DIV SUM(k)").as("ttr_bp"),
        expr("MAX(k) * 10000 DIV SUM(k)").as("top_frac_bp"),
        expr("SUM(CASE WHEN k = 1 THEN 1 ELSE 0 END) * 10000 DIV COUNT(1)")
          .as("hapax_bp"))
  }

  /** Regex redaction (PII scrub): each (name, regex, replacement) pattern is
    * counted and then replaced, in order — counts for pattern k are taken on
    * the text AFTER patterns 1..k-1 were applied, so overlapping patterns
    * (phone → generic number) don't double-count. Emits one count column per
    * pattern plus a stable md5 digest of the fully-scrubbed text (the
    * audit-friendly surface: the digest proves WHAT was shipped without
    * carrying the cleartext through downstream stages). Narrow per-row map,
    * codegen'd regexes — composes into the scan at any scale. */
  def scrub(df: DataFrame, textCol: Column, idCol: Column,
            patterns: Seq[(String, String, String)]): DataFrame = {
    val (cols, scrubbed) = patterns.foldLeft(
      (Vector.empty[Column], textCol)) { case ((acc, t), (nm, re, repl)) =>
      (acc :+ regexp_count(t, lit(re)).as(s"n_$nm"),
        regexp_replace(t, re, repl))
    }
    df.select((idCol +: cols :+ md5(scrubbed).as("scrubbed_fp")): _*)
  }

  /** Relational k-gram positions (posexplode + lead): rows
    * (doc_id, pos, tok, gram) for every position whose k tokens fit;
    * docs shorter than k contribute no rows (all-leads-present guard —
    * lead past the doc end is null, tokens themselves never are). The one
    * formulation that runs the regex split ONCE per document: the
    * higher-order `shingles` lambda inlines its argument and re-splits the
    * full text at every position (measured 10× slower at sf1 — DESIGN.md
    * round-8 notes; `DedupOps.shingleHashes` is the same shape with a
    * whole-doc fallback shingle for sub-k docs, which dedup needs and
    * positional ops must not emit). */
  def tokenGrams(docs: DataFrame, k: Int): DataFrame =
    tokenGramsWithTail(docs, k).filter(col("gram").isNotNull)

  /** [[tokenGrams]] INCLUDING the per-doc tail positions whose gram window
    * runs past the end (gram = null there): one staged copy of this frame
    * serves both the gram consumers (filter gram non-null) and full
    * token-sequence consumers (every position present) — the substring
    * dedup family shares one tokenize+window pass this way (r13). */
  def tokenGramsWithTail(docs: DataFrame, k: Int): DataFrame = {
    require(k >= 2, s"k-gram width must be >= 2: $k")
    // repartition before tokenizing: the lead window exchanges on doc_id
    // anyway — hoisting it ships compact text rows, not exploded tokens
    val toksExpl = docs.repartition(col("doc_id"))
      .select(col("doc_id"),
        posexplode(tokens(col("text"))).as(Seq("pos", "tok")))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val parts = col("tok") +: (1 until k).map(i => lead(col("tok"), i).over(w))
    toksExpl
      .select(col("doc_id"), col("pos").cast("long").as("pos"), col("tok"),
        when(parts.last.isNotNull, concat_ws(" ", parts: _*)).as("gram"))
  }

  /** Corpus-conditional n-gram fluency score — the integer-exact
    * counterpart of the n-gram-LM perplexity filters production curation
    * pipelines run (CCNet/RefinedWeb style): documents whose word
    * transitions are rare under the corpus model score low and get culled.
    *
    * Model = bigram conditionals from ONE grouped pass over the corpus:
    * P(b|a) = c(a,b) / c(a,·) with c(a,·) = Σ_b c(a,b) (self-consistent,
    * no separate unigram scan). Per-bigram probability is quantized to
    * micro-units via integer division BEFORE the per-doc mean, so the
    * whole score is associative integer arithmetic — deterministic on any
    * partitioning and value-oracle-exact (a log-domain perplexity would
    * hinge on cross-engine `ln` ulps; deployments that want log scores
    * swap the quantized ratio for quantized logs at the same place).
    *
    * Shape at scale: explode → two grouped counts → an inverted-index join
    * on the bigram (the tfidf/posting layout) → one per-doc agg. No
    * all-pairs anywhere; hot bigrams are bounded by the count pre-agg.
    * Docs with < 2 tokens have no transitions and are absent (callers
    * treat missing as "no evidence", like the repetition signal). */
  def lmFluency(docs: DataFrame, scale: Long = 1000000L): DataFrame = {
    // the bigram's prefix IS the position's token — no split recovers it;
    // tokens contain no whitespace, so bigram → prefix is functional and
    // the two-key groupBy has exactly the per-bigram groups
    val bi = tokenGrams(docs, 2)
      .select(col("doc_id"), col("tok").as("prefix"), col("gram").as("bigram"))
    // per-(doc,bigram) multiplicities: ONE pass over instances, staged so
    // the model build and the per-doc probe both read it without replaying
    // the explode + lead window (the embeddingCosinePairs precedent)
    val dk = bi.groupBy(col("doc_id"), col("bigram"), col("prefix"))
      .agg(count(lit(1)).as("k"))
      .localCheckpoint()
    val c2 = dk.groupBy(col("bigram"), col("prefix")).agg(sum(col("k")).as("c2"))
    val c1 = c2.groupBy(col("prefix")).agg(sum(col("c2")).as("c1"))
    val probs = c2.join(c1, "prefix")
      .select(col("bigram"),
        expr(s"CAST(c2 * ${scale}L DIV c1 AS BIGINT)").as("p_micro"))
    // SUM(k·p) DIV SUM(k) ≡ the per-instance SUM(p) DIV COUNT(1)
    dk.join(probs, "bigram")
      .groupBy(col("doc_id"))
      .agg(sum(col("k")).as("n_bigrams"),
        expr("CAST(SUM(k * p_micro) DIV SUM(k) AS BIGINT)").as("fluency_micro"))
  }

  /** Canonicalizing normalizer for "fuzzy-exact" dedup: lowercase, fold
    * every non-alphanumeric to a space, collapse runs, trim. Catches the
    * duplicates raw exact-hash dedup misses — re-punctuated, re-wrapped,
    * or case-shifted copies of the same content — while staying a pure
    * codegen'd per-row map (two regex passes, no UDF, no shuffle). The
    * character classes are shared verbatim with the DuckDB oracle (both
    * regex engines agree on `[^a-z0-9\s]` / `\s+`; DuckDB needs the 'g'
    * flag for the same replace-all semantics Spark defaults to). */
  def normalizedText(text: Column): Column =
    trim(regexp_replace(
      regexp_replace(lower(text), "[^a-z0-9\\s]", " "), "\\s+", " "))

  /** Sliding context-window chunking — the prep step that turns documents
    * into training-context rows: token windows of `width` starting every
    * `stride` positions (0, stride, 2·stride, … < n_tokens; stride <
    * width gives the usual overlap, and the tail window is partial).
    * Emits the window's position, length, and an md5 fingerprint of the
    * joined tokens rather than the text itself (keeps the output narrow —
    * a materializing pipeline swaps the fingerprint for the `array_join`).
    *
    * Pure per-row explode of codegen'd array expressions — no shuffle, no
    * UDF; scales embarrassingly parallel like the other TextOps maps. */
  def chunkWindows(docs: DataFrame, width: Int = 32,
                   stride: Int = 24): DataFrame = {
    require(width >= 1 && stride >= 1, s"width/stride must be >= 1: $width/$stride")
    docs
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .select(col("doc_id"), size(col("toks")).as("n_tokens"),
        posexplode(transform(
          sequence(lit(0), size(col("toks")) - 1, lit(stride)),
          st => struct(st.cast("long").as("chunk_start"),
            array_join(slice(col("toks"), st + 1, lit(width)), " ").as("w"))))
          .as(Seq("chunk_id", "c")))
      .select(col("doc_id"), col("chunk_id").cast("long").as("chunk_id"),
        col("c.chunk_start"),
        least(lit(width.toLong), col("n_tokens") - col("c.chunk_start"))
          .as("n_chunk_tokens"),
        md5(col("c.w")).as("chunk_fp"))
  }

  /** Winnowing document fingerprints (Schleimer, Wilkerson & Aiken 2003,
    * the MOSS algorithm): hash every token k-gram, slide a window of `w`
    * consecutive gram positions, and in each window select the MINIMUM
    * hash — tie-broken RIGHTMOST, the paper's rule that makes selections
    * agree across overlapping windows. The selected (position, hash) set
    * is the fingerprint sketch, with the paper's guarantee: any match of
    * at least w + k − 1 tokens between two documents shares at least one
    * fingerprint, and expected density is 2/(w+1) per position.
    *
    * Cross-engine exactness: the (min hash, max pos) argmin is folded into
    * ONE lexicographic string key — the 15-hex-char md5 prefix (the same
    * stableHash domain every dedup oracle uses) concatenated with the
    * zero-padded position complement (10^8−1 − pos), so a plain `min()`
    * over the window frame IS "smallest hash, rightmost position" in any
    * engine with bytewise string order. No struct ordering, no argmin
    * builtin, no float.
    *
    * Shape at scale: one explode + ONE keyed window pass (the tokenGrams
    * exchange on doc_id is the only shuffle; the frame min and the
    * full-window count ride the same sort) + a per-doc distinct that
    * reuses the partitioning. No joins, no all-pairs; output is the
    * ~2/(w+1)-density sketch, the small thing downstream pair-finding
    * joins on. Docs shorter than w + k − 1 tokens emit no fingerprints
    * (no full window exists — the guarantee is vacuous below match
    * length anyway).
    *
    * Bound: the position complement is 8 digits, so per-DOC token
    * positions must stay below 10⁸ (≈ a 0.5 GB single document). Corpora
    * with larger single documents should chunk first
    * ([[chunkWindows]]) — the same practical bound every positional
    * text operator here shares. ENFORCED at runtime: a position past the
    * bound raises (`raise_error` riding the key expression) rather than
    * silently corrupting the lexicographic tie-break (99999999 − pos goes
    * negative and the '-'-prefixed complement breaks bytewise order). */
  def winnowFingerprints(docs: DataFrame, k: Int = 4, w: Int = 4,
                         // test seam only: a tiny bound lets the spec prove
                         // the guard fires without a 1e8-token fixture
                         maxPos: Long = 99999999L): DataFrame = {
    require(k >= 2 && w >= 1, s"invalid winnow shape: k=$k w=$w")
    require(maxPos >= 1 && maxPos <= 99999999L,
      s"winnow position bound must fit the 8-digit complement: $maxPos")
    val grams = tokenGrams(docs, k)
    val posGuarded = when(col("pos") > lit(maxPos),
      raise_error(concat(
        lit("winnowing per-doc position bound (1e8 tokens) exceeded at doc_id="),
        col("doc_id").cast("string"),
        lit(" — chunk oversized documents first (chunkWindows)"))))
      .otherwise(col("pos"))
    // 23-char sortable key: lexicographic min = (min hash, MAX pos)
    val hk = concat(substring(md5(col("gram")), 1, 15),
      lpad((lit(maxPos) - posGuarded).cast("string"), 8, "0"))
    val frame = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      .rowsBetween(Window.currentRow, w - 1)
    grams.select(col("doc_id"), col("pos"), hk.as("hk"))
      .select(col("doc_id"),
        count(lit(1)).over(frame).as("n_in"),
        min(col("hk")).over(frame).as("sel"))
      .filter(col("n_in") === w) // full windows only (positions are dense)
      .select(col("doc_id"),
        (lit(maxPos) - substring(col("sel"), 16, 8).cast("long"))
          .as("sel_pos"),
        conv(substring(col("sel"), 1, 15), 16, 10).cast("long")
          .as("fp_hash"))
      .distinct()
  }

  /** DSIR-style importance resampling (Xie et al. 2023, arXiv 2302.03169):
    * score every raw-corpus document by how much its hashed n-gram feature
    * distribution looks like a TARGET domain, then accept documents with
    * probability proportional to that importance weight — the
    * data-selection step that tilts a 100 TB crawl toward a quality/domain
    * target without training a classifier.
    *
    * Exact-arithmetic variant (the repo's lm-fluency convention): instead
    * of the paper's log-likelihood ratio (libm `ln` is a cross-engine ulp
    * hazard), each feature bucket carries the QUANTIZED PROBABILITY RATIO
    * ratio_micro = ((tm+1)·10⁶) div (rm+1) where tm/rm are the ×10⁶
    * target/raw bucket probabilities (+1 micro-smoothing keeps unseen
    * buckets positive), and a document's weight is the count-weighted
    * integer SUM of its buckets' ratios — monotone in the same direction
    * as the log form, associative, engine-exact. Widths are
    * corpus-size-INDEPENDENT (the BM25 lesson): raw counts are normalized
    * to micro-probabilities ≤ 10⁶ before any product — the one wide step
    * (count·10⁶ before the div) runs in decimal(38,0)/HUGEINT, a
    * plan-time width choice.
    *
    * Resampling is DERANDOMIZED the way the shard/split family is: the
    * uniform draw is the stable md5 of the doc id (u ∈ [0, 10⁶)), and a
    * doc is accepted iff u·w_max < w·10⁶ — i.e. with probability
    * w / w_max, reproducible on any engine and any partitioning. The one
    * cross-multiplied compare runs in decimal(38,0) (the SemDeDup
    * precedent; u·w_max can reach ~10²², past BIGINT).
    *
    * Shape at scale: `tf` is the corpus's
    * [[SimilarityOps.termFrequencies]] table (the BM25 staged postings;
    * `targetFilter` selects the target rows of `docs`), two bucket-keyed
    * aggregations (≤ `buckets` rows — a broadcast), one per-doc weighted
    * sum. No joins wider than the 4096-row ratio table; an empty target
    * slice of a non-empty corpus raises rather than silently weighting
    * everything by the smoothing floor (an empty corpus yields no rows). */
  def dsirSample(docs: DataFrame, tf: DataFrame, targetFilter: Column,
                 buckets: Int = 4096): DataFrame = {
    require(buckets >= 2 && buckets <= 1000000,
      s"dsir buckets must be in [2, 1e6]: $buckets")
    val cnt = tf
      .select(col("doc_id"), (stableHash(col("tok")) % buckets).as("b"),
        col("tf"))
      .groupBy(col("doc_id"), col("b")).agg(sum(col("tf")).as("c"))
    val tgtIds = docs.filter(targetFilter).select(col("doc_id"))
    val tb = cnt.join(tgtIds, "doc_id").groupBy(col("b"))
      .agg(sum(col("c")).as("t"))
    val rb = cnt.groupBy(col("b")).agg(sum(col("c")).as("r"))
    val tot = tb.agg(sum(col("t")).as("tt"))
      .crossJoin(rb.agg(sum(col("r")).as("rr")))
      .select(
        when(col("tt") > 0, col("tt"))
          .otherwise(raise_error(lit("dsir: empty target corpus"))).as("tt"),
        col("rr"))
    // exact floor division in decimal: (q − q mod d) / d is an exact
    // integer quotient (Spark's plain decimal division ROUNDS at result
    // scale — at tt > 10⁶ that rounding can cross the floor boundary and
    // diverge from the oracle's `//`)
    val ratio = rb.join(tb, Seq("b"), "left")
      .crossJoin(broadcast(tot))
      .select(col("b"),
        expr("CAST(coalesce(t, 0) AS DECIMAL(38,0)) * 1000000").as("tq"),
        expr("CAST(r AS DECIMAL(38,0)) * 1000000").as("rq"),
        col("tt"), col("rr"))
      .select(col("b"),
        expr("""(CAST((tq - pmod(tq, tt)) / tt AS BIGINT) + 1) * 1000000
               | DIV (CAST((rq - pmod(rq, rr)) / rr AS BIGINT) + 1)"""
          .stripMargin.replace("\n", " "))
          .as("ratio_micro"))
    val w = cnt.join(broadcast(ratio), "b")
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_feats"),
        sum(col("c") * col("ratio_micro")).as("weight"))
    val wm = w.agg(max(col("weight")).as("wmax"))
    w.crossJoin(broadcast(wm))
      .select(col("doc_id"), col("n_feats"), col("weight"), col("wmax"),
        (stableHash(concat(lit("dsir#"), col("doc_id").cast("string")))
          % 1000000L).as("u"))
      .withColumn("accepted",
        col("u").cast("decimal(38,0)") * col("wmax") <
          col("weight").cast("decimal(38,0)") * lit(1000000L))
      .select(col("doc_id"), col("n_feats"), col("weight"), col("u"),
        col("accepted"))
  }

  /** Full BPE-trainer loop (tokenizer induction — the core of a
    * training-data pipeline; `corpus_bpe_pairs` is merge-round 1's
    * candidate scan, this drives N complete merge rounds). Each round:
    * count every ADJACENT symbol pair corpus-wide (one map-side-combined
    * shuffle), pick the best pair with an integer-exact total order
    * (count desc, then (left, right) lexicographic — no float score, no
    * engine-dependent tie), then rewrite every sequence by merging the
    * LEFTMOST-NONOVERLAPPING occurrences of that pair into one symbol.
    *
    * The merge rewrite is fully relational — no per-doc recursion: two
    * occurrences of the same pair can only overlap inside an equal-symbol
    * run (t[i]=a, t[i+1]=b=a), so "leftmost non-overlapping" ≡ "every odd
    * occurrence within each consecutive-position island of matches" — a
    * gaps-and-islands selection (`pos − row_number()` grouping), the same
    * shape as the substring-dedup span merge. Merged symbols concatenate
    * (byte-level-BPE style), so round r+1 sees them as single symbols.
    *
    * Scale shape per round: one lead() window over (doc, pos) — the same
    * keyed sort every sequence op pays — one bounded group-count, a
    * 1-row collect (the argmax), and two hash joins against the (small)
    * kept-position set; the driver loop holds only `rounds` vocab rows.
    *
    * Returns one row per merge round: (merge_round, lhs, rhs, n). */
  def bpeTrain(docs: DataFrame, rounds: Int = 3): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    bpeMergeLoop(docs, rounds)._2
      .toDF("merge_round", "lhs", "rhs", "n")
  }

  /** The ENCODE half of the tokenizer story: run the same `rounds` merge
    * loop as [[bpeTrain]] and return the encoded corpus rolled up as its
    * symbol histogram — (tok, n, n_docs) over the post-merge sequences.
    * This is "apply the learned tokenizer to the training corpus", the
    * pass a data pipeline runs after vocabulary induction; the histogram
    * is the contract a pipeline actually consumes (vocab coverage /
    * frequency table), and — unlike raw (doc, pos, tok) dumps — it is
    * stable under any partitioning.
    *
    * Scale shape: the loop cost is [[bpeTrain]]'s; the roll-up is one
    * map-side-combined shuffle on the symbol. */
  def bpeEncode(docs: DataFrame, rounds: Int = 3): DataFrame =
    bpeMergeLoop(docs, rounds)._1
      .groupBy(col("tok"))
      .agg(count(lit(1)).as("n"), countDistinct(col("doc_id")).as("n_docs"))

  /** Shared BPE merge loop: returns (final tokenized state as
    * (doc_id, pos, tok), merge list). Public so callers that need BOTH
    * halves (e.g. the query layer, which stages state+merges once per
    * fixture) run the loop exactly once. See [[bpeTrain]] for the
    * algorithm and scale-shape discussion. */
  def bpeMergeLoop(docs: DataFrame, rounds: Int = 3)
      : (DataFrame, Seq[(Int, String, String, Long)]) = {
    require(rounds >= 1 && rounds <= 32, s"rounds must be in [1,32]: $rounds")
    val byDoc = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    var state = docs
      .select(col("doc_id"),
        posexplode(tokens(col("text"))).as(Seq("pos", "tok")))
      .select(col("doc_id"), col("pos").cast("long").as("pos"), col("tok"))
      .localCheckpoint()
    val merges = scala.collection.mutable.ArrayBuffer[(Int, String, String, Long)]()
    for (r <- 1 to rounds) {
      val paired = state.withColumn("nxt", lead(col("tok"), 1).over(byDoc))
      val best = paired.filter(col("nxt").isNotNull)
        .groupBy(col("tok"), col("nxt")).agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("tok").asc, col("nxt").asc)
        .limit(1).collect()
      require(best.nonEmpty, s"corpus exhausted before merge round $r")
      val (a, b, n) = (best(0).getString(0), best(0).getString(1),
        best(0).getLong(2))
      merges += ((r, a, b, n))
      // leftmost-nonoverlapping occurrence selection (islands over the
      // match positions; only equal-symbol runs produce adjacent matches)
      val kept = paired.filter(col("tok") === a && col("nxt") === b)
        .withColumn("grp", col("pos") - row_number().over(byDoc))
        .withColumn("off", row_number().over(
          Window.partitionBy(col("doc_id"), col("grp")).orderBy(col("pos"))))
        .filter(col("off") % 2 === 1)
        .select(col("doc_id"), col("pos"))
        .localCheckpoint() // both joins below read it; keep them consistent
      val merged = state
        .join(kept.withColumn("isk", lit(1)), Seq("doc_id", "pos"), "left")
        .join(kept.select(col("doc_id"), (col("pos") + 1L).as("pos"),
          lit(1).as("isc")), Seq("doc_id", "pos"), "left")
        .filter(col("isc").isNull)
        .select(col("doc_id"), col("pos").as("opos"),
          when(col("isk") === 1, lit(a + b)).otherwise(col("tok")).as("tok"))
        .withColumn("pos", row_number().over(
          Window.partitionBy(col("doc_id")).orderBy(col("opos"))).cast("long"))
        .select(col("doc_id"), col("pos"), col("tok"))
      state = merged.localCheckpoint()
    }
    (state, merges.toSeq)
  }

  /** Per-source quality calibration: raw [[qualityScore]]s are comparable
    * only WITHIN a source (a forum and an encyclopedia score on different
    * scales), so cross-source gates must act on the per-source PERCENTILE.
    * Each doc gets `cal_bp` = basis points of its source strictly below its
    * score — floor(below·10000 / (n_src−1)), ties share a rank (no id
    * tie-break: equal text quality must calibrate equally) — plus the
    * cross-source `keep` gate at `keepBp`. Single-doc sources calibrate
    * to 0 (no evidence either way; they pass only if keepBp ≤ 0).
    *
    * Shape at scale — deliberately NOT a per-source sort window (one task
    * per source serializes a 100 TB source through one core): scores are
    * quantized to the micro grid, counted per (source, q_micro), and the
    * rank-below running sum runs over THAT grouped table — rows = distinct
    * scores per source, bounded by the grid, orders smaller than the
    * corpus — then broadcast-joins back. One corpus shuffle total. */
  def calibrateQuality(docs: DataFrame, keepBp: Int = 2000): DataFrame = {
    require(keepBp >= 0 && keepBp <= 10000, s"keepBp out of range: $keepBp")
    // scored feeds BOTH the grid aggregation and the probe side of the
    // join — checkpoint the SLIM (id, source, q) rows so the regex-heavy
    // quality pass runs once, not once per consumer (measured 2× the row
    // cost when recomputed; the checkpoint carries no text)
    val scored = docs.select(col("doc_id"), col("source"),
      qualityScore(col("text")).as("q"))
      .withColumn("q_micro", round(col("q") * 1e6).cast("long"))
      .localCheckpoint()
    val grid = scored.groupBy(col("source"), col("q_micro"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("source"), col("q_micro"),
        coalesce(sum(col("cnt")).over(
          Window.partitionBy(col("source")).orderBy(col("q_micro"))
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)).as("below"),
        sum(col("cnt")).over(Window.partitionBy(col("source"))).as("n_src"))
      .withColumn("cal_bp",
        expr("below * 10000 DIV greatest(n_src - 1, 1)"))
    // no broadcast HINT on the grid: it is usually tiny (distinct scores
    // per source), but adversarial data (all-unique scores) makes it
    // corpus-sized — AQE broadcasts the common case and degrades to a
    // shuffle join instead of an OOM on the pathological one
    scored.join(grid.select(col("source"), col("q_micro"),
        col("cal_bp")), Seq("source", "q_micro"))
      .select(col("doc_id"), col("source"), col("q"), col("cal_bp"),
        (col("cal_bp") >= keepBp).as("keep"))
  }

  /** Incoming-batch novelty vs the stored corpus: per batch doc, the share
    * of its distinct k-gram hashes NOT present in the stored corpus's gram
    * index — the continuous-ingest triage signal (novelty ≈ 0 → the batch
    * re-crawls known content, spend dedup effort; novelty ≈ 1 → genuinely
    * new text, spend quality effort). `novel_bp` is exact basis points
    * (floor(novel·10000/total)). Docs shorter than k tokens carry no grams
    * and are absent — the [[tokenGrams]] family convention (no evidence,
    * not zero novelty).
    *
    * Shape: the stored side participates only as its distinct gram-hash
    * index (stored once, probed per batch — the winnowing-incremental
    * convention); the batch is tokenized once; one hash exchange on the
    * gram hash for the LEFT JOIN probe, grouped counts ride the same
    * clustering on doc_id. O(|batch grams| + probe hits), never
    * corpus-rescanning. */
  def batchNovelty(stored: DataFrame, batch: DataFrame,
                   k: Int = 6): DataFrame = {
    val idx = tokenGrams(stored, k)
      .select(stableHash(col("gram")).as("gh")).distinct()
      .withColumn("known", lit(1))
    val bg = tokenGrams(batch, k)
      .select(col("doc_id"), stableHash(col("gram")).as("gh")).distinct()
    bg.join(idx, Seq("gh"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("known").isNull, 1L).otherwise(0L)).as("n_novel"))
      .withColumn("novel_bp", expr("n_novel * 10000 DIV n_grams"))
  }

  /** Convenience: annotate a documents frame with the full signal set. */
  def annotate(docs: DataFrame): DataFrame = {
    val t = col("text")
    docs.select(
      (col("doc_id") +: (tokenStats(t) ++ qualitySignals(t) ++ Seq(
        bpeTokenCount(t).as("n_bpe_tokens"),
        qualityScore(t).as("quality"),
        langId(t).as("lang_pred"),
        docFingerprint(t).as("fp")))): _*)
  }
}
