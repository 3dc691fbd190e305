package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Time-series motif discovery over keyed event series — SAX (Lin et al.
  * 2003, "A Symbolic Representation of Time Series"): per-key sliding
  * windows of `w` consecutive readings → piecewise aggregate approximation
  * (segment means) → fixed-breakpoint symbols → a SAX word per window;
  * windows sharing a word are motif candidates. Every operator reads the
  * `events` columns: `user_id` keys a series, `ts` then `event_id` order
  * it, `value` is the reading. Sensor-series analytics is
  * the reference project's own domain (PROTEUS targeted hot-strip-mill
  * time series; the reference has no library for it — LLM/analytics
  * extension like TextOps).
  *
  * Exactness: values quantize to centi-units (the fixtures carry 2-dp
  * doubles, so this is lossless), PAA means are integer DIV, and the
  * breakpoints are fixed constants — every symbol is reproducible on any
  * engine and any partitioning; no float mean/stddev enters the word.
  * (Classic SAX z-normalizes per window; the quantized-absolute variant
  * keeps the pipeline oracle-exact — a deployment wanting z-normalized
  * words swaps the quantize for a per-window integer-scaled z-score.)
  *
  * Scale shape: one keyed window (the per-key sort Spark needs for ANY
  * per-key sequence op) builds all sliding windows via `lead`, the word
  * is a pure per-row expression, and the motif roll-up is one
  * map-side-combined groupBy on the word — no self-join, no all-pairs;
  * candidate verification joins only within word buckets, like the LSH
  * families. */
object TimeSeriesOps {

  /** Shared sliding-window build: centi-unit quantized `value`s, per-key
    * (`user_id`) position in (`ts`, `event_id`) order, and the `w` lead
    * columns every SAX variant consumes. One keyed window (the per-key
    * sort Spark needs for ANY per-key sequence op) — the variants differ
    * only in the per-row word expression. */
  private def windowed(events: DataFrame, w: Int): (DataFrame, Seq[Column]) = {
    val byKey = Window.partitionBy(col("k")).orderBy(col("pos"))
    val base = events.repartition(col("user_id"))
      .select(col("user_id").as("k"),
        expr("CAST(round(value * 100) AS BIGINT)").as("vq"),
        row_number().over(Window.partitionBy(col("user_id"))
          .orderBy(col("ts"), col("event_id"))).cast("long").as("pos"))
    val leads: Seq[Column] =
      col("vq") +: (1 until w).map(i => lead(col("vq"), i).over(byKey))
    (base, leads)
  }

  private def completeWords(base: DataFrame, leads: Seq[Column],
                            word: Column): DataFrame =
    base
      .select(col("k"), col("pos"), word.as("word"),
        leads.last.isNotNull.as("complete"))
      .filter(col("complete"))
      .select(col("k"), col("pos"), col("word"))

  /** One row per complete sliding window: (k, pos, word). */
  def saxWords(events: DataFrame, w: Int = 8, segments: Int = 4,
               breaks: Seq[Long] = Seq(1500L, 3500L, 7000L)): DataFrame = {
    require(w % segments == 0, s"w must divide into segments: $w/$segments")
    require(breaks == breaks.sorted, "breakpoints must be ascending")
    val segLen = w / segments
    val (base, leads) = windowed(events, w)
    def symbol(m: Column): Column =
      breaks.zipWithIndex.foldRight(lit(breaks.size): Column) {
        case ((b, i), rest) => when(m < b, i).otherwise(rest)
      }
    val word = concat_ws("", (0 until segments).map { s =>
      // floor division ≡ DuckDB's integer // here (sums are non-negative
      // and far below 2^53, so the double floor is exact)
      val m = floor(leads.slice(s * segLen, (s + 1) * segLen)
        .reduce(_ + _) / lit(segLen)).cast("long")
      symbol(m)
    }: _*)
    completeWords(base, leads, word)
  }

  /** Classic per-window z-normalized SAX (Lin et al. 2003 §3.1 — the
    * variant the paper defines; the quantized-absolute [[saxWords]] is the
    * oracle-default, this is the opt-in the round-8 review asked for),
    * alphabet 4, N(0,1) breakpoints (−β, 0, β) with β = 0.6745 (the
    * standard-normal quartile: each symbol is equiprobable for Gaussian
    * windows).
    *
    * EXACT despite the z-score: no mean, stddev, sqrt or division is ever
    * materialized. With integer window sums S = Σvq, SS = Σvq² and segment
    * sums T_s over segLen values, the segment z-score
    * zₛ = (T_s/segLen − S/w) / √(V/w²), V = w·SS − S², compares to a
    * breakpoint b = ±β as
    *   zₛ < b  ⟺  D_s < b·segLen·√V,  D_s = w·T_s − segLen·S,
    * and squaring both sides (sign-split first) turns every comparison into
    * integer cross-multiplication: β² is the exact rational (6745/10⁴)², so
    *   zₛ < −β ⟺ D_s < 0 ∧ D_s²·10⁸ > 6745²·segLen²·V
    *   zₛ <  0 ⟺ D_s < 0
    *   zₛ < +β ⟺ D_s < 0 ∨ D_s²·10⁸ < 6745²·segLen²·V
    * — no float ulp can flip a symbol on any engine or partitioning. A
    * constant window (V = 0) has no z-score; it maps to the mid symbol 2
    * by convention.
    *
    * Arithmetic path: the compare is first REDUCED — D_s is always
    * divisible by g = gcd(w, segLen) (both terms are), and 6745² = 25 ×
    * 1,819,801 cancels 25 out of the 10⁸ — so with E = D_s/g the exact
    * test is E²·(4·10⁶·g²) vs 1,819,801·segLen²·V, ~625× smaller
    * magnitudes. The arithmetic WIDTH is a static knob, not a per-row
    * branch (a per-row guarded long/decimal CaseWhen was measured 2.3×
    * SLOWER than decimal alone — the doubled expression pushes the
    * generated projection past HotSpot's JIT-able method size, the same
    * failure mode as the round-8 LSH banding):
    *   - default (`wideValues = false`): plain long arithmetic — exact
    *     while |E| ≤ √(Lmax/(4·10⁶·g²)), i.e. |value| ≲ 950.00 at the
    *     8/2 default shape (|E| ≤ 8·vq_max; the events fixture tops out
    *     at 560.21); ANSI mode faults louder inputs with an overflow
    *     error instead of silently wrapping.
    *   - `wideValues = true`: the same compare in decimal(38,0) (HUGEINT
    *     oracle-side), exact to the window-sum domain (|vq| ≤ 3.8×10⁸).
    *
    * Same scale shape as [[saxWords]]: the word stays a pure per-row
    * expression over the shared keyed-window leads. */
  def saxWordsZNorm(events: DataFrame, w: Int = 8, segments: Int = 4,
                    wideValues: Boolean = false): DataFrame = {
    require(w % segments == 0, s"w must divide into segments: $w/$segments")
    val segLen = w / segments
    val (base, leads) = windowed(events, w)
    val dec = "decimal(38,0)"
    val s = leads.reduce(_ + _)
    val ss = leads.map(c => c * c).reduce(_ + _)
    // w²·variance as an integer ≥ 0; the window sums are long-exact for
    // |vq| ≤ 3.8×10⁸ (the binding term is s² ≤ Long.MaxValue at w = 8,
    // i.e. values to ±3.8 million at centi-quantization) — far above any
    // sensor fixture; ANSI mode faults louder inputs instead of wrapping
    val v = lit(w.toLong) * ss - s * s
    val g = BigInt(w).gcd(BigInt(segLen)).toLong
    val cL = 4000000L * g * g            // (10⁸/25)·g²
    val cR = 1819801L * segLen * segLen  // (6745²/25)·segLen²
    def segSymbol(seg: Int): Column = {
      val t = leads.slice(seg * segLen, (seg + 1) * segLen).reduce(_ + _)
      val e = lit(w / g) * t - lit(segLen / g) * s // D_s / g, exact in long
      val (lhs, rhs) =
        if (wideValues)
          (e.cast(dec) * e.cast(dec) * lit(cL).cast(dec),
            lit(cR).cast(dec) * v.cast(dec))
        else (e * e * lit(cL), lit(cR) * v)
      when(v === 0L, lit(2))
        .when(e < 0L && lhs > rhs, lit(0)) // zₛ < −β
        .when(e < 0L, lit(1))              // −β ≤ zₛ < 0
        .when(lhs < rhs, lit(2))           //  0 ≤ zₛ < β  (E ≥ 0 here)
        .otherwise(lit(3))
    }
    val word = concat_ws("", (0 until segments).map(segSymbol): _*)
    completeWords(base, leads, word)
  }

  /** Motif roll-up over the z-normalized words ([[saxWordsZNorm]]). */
  def saxMotifsZNorm(events: DataFrame, w: Int = 8, segments: Int = 4,
                     minCount: Long = 2L,
                     wideValues: Boolean = false): DataFrame =
    saxWordsZNorm(events, w, segments, wideValues)
      .groupBy(col("word"))
      .agg(count(lit(1)).as("n_windows"),
        countDistinct(col("k")).as("n_keys"))
      .filter(col("n_windows") >= minCount)

  /** Motif roll-up: SAX words occurring in ≥ `minCount` windows, with the
    * number of windows and of distinct keys exhibiting them. */
  def saxMotifs(events: DataFrame, w: Int = 8, segments: Int = 4,
                minCount: Long = 2L): DataFrame =
    saxWords(events, w, segments)
      .groupBy(col("word"))
      .agg(count(lit(1)).as("n_windows"),
        countDistinct(col("k")).as("n_keys"))
      .filter(col("n_windows") >= minCount)
}
