package graft

import java.security.MessageDigest

import org.apache.spark.sql.functions.col
import graft.operators.TextOps

/** Seeded randomized equivalence for the text operators: random texts
  * (incl. punctuation, digits, stopwords, and non-ASCII) checked against
  * local recomputations — the fingerprint through an independent md5
  * mirror, counts/ratios through plain Scala arithmetic. */
class TextFuzzSpec extends SparkSpecBase {

  private val rnd = new scala.util.Random(0x7E47)
  private val words = Vector("the", "a", "of", "to", "ship", "ocean", "data",
    "42", "x9", "graph", "très", "naïve", "spark!", "k,v", "σ")

  private val docsLocal: Vector[(Long, String)] =
    (0 until 60).map { i =>
      val len = 1 + rnd.nextInt(12)
      (i.toLong, Vector.fill(len)(words(rnd.nextInt(words.size))).mkString(" "))
    }.toVector

  private def docsDf = {
    import spark.implicits._
    docsLocal.toDF("doc_id", "text")
  }

  private def md5hex(s: String): String =
    MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString

  private def stableHashLocal(s: String): Long =
    java.lang.Long.parseLong(md5hex(s).take(15), 16)

  private def toks(t: String): Vector[String] =
    t.toLowerCase.split("\\s+").toVector

  test("sequence packing equals the sequential concatenate-then-chunk layout") {
    val seqLen = 16L
    // sequential reference: running token offset in doc_id order
    val expected = {
      var before = 0L
      docsLocal.sortBy(_._1).map { case (id, text) =>
        val n = toks(text).length.toLong
        val row = (id, n, before / seqLen, before % seqLen)
        before += n
        row
      }
    }
    // the two-phase distributed prefix sum must match under different
    // partition counts (layout-independence is the design claim)
    for (parts <- Seq(1, 3, 7)) {
      val got = TextOps.packSequences(docsDf.repartition(parts), seqLen)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .sortBy(_._1).toVector
      assert(got == expected, s"parts=$parts")
    }
  }

  test("doc fingerprint matches a local md5 rolling-hash mirror") {
    val expect = docsLocal.map { case (id, t) =>
      id -> toks(t).zipWithIndex
        .map { case (w, i) => (stableHashLocal(w) % 1000000000039L) * (i + 1) }
        .sum
    }.toMap
    val got = docsDf.select(col("doc_id"),
        TextOps.docFingerprint(col("text")).as("fp"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == expect)
  }

  test("token stats and bpe counts match local arithmetic") {
    val got = docsDf.select(
        (col("doc_id") +: (TextOps.tokenStats(col("text")) :+
          TextOps.bpeTokenCount(col("text")).as("bpe"))): _*)
      .collect().map(r => r.getLong(0) ->
        ((r.getInt(1), r.getInt(2), r.getDouble(3), r.getInt(4)))).toMap
    val bpeRe = TextOps.BpePattern.r
    docsLocal.foreach { case (id, t) =>
      val ts = toks(t)
      val mean = ts.map(_.length.toLong).sum.toDouble / ts.length
      val bpe = bpeRe.findAllIn(t.toLowerCase).length
      assert(got(id) == ((ts.length, ts.distinct.length, mean, bpe)), s"doc $id '$t'")
    }
  }

  test("language id and quality signals match local counting") {
    val got = docsDf.select(
        (col("doc_id") +: (TextOps.qualitySignals(col("text")) :+
          TextOps.langId(col("text")).as("lang"))): _*)
      .collect().map(r => r.getLong(0) ->
        ((r.getDouble(1), r.getDouble(4), r.getString(5)))).toMap
    docsLocal.foreach { case (id, t) =>
      val ts = toks(t)
      val stop = ts.count(TextOps.Stopwords.contains)
      val nonAscii = t.count(c => c < ' ' || c > '~')
      val lang =
        if (nonAscii * 10 > t.length) "non_latin"
        else if (stop * 50 >= ts.length) "en"
        else "unk"
      val (sr, nar, gl) = got(id)
      assert(sr == stop.toDouble / ts.length, s"doc $id stopword_ratio")
      assert(nar == nonAscii.toDouble / t.length, s"doc $id non_ascii_ratio")
      assert(gl == lang, s"doc $id lang")
    }
  }

  test("lm fluency equals the local bigram-conditional mirror") {
    // single-token docs (no transitions) must be absent from the output
    val extra = Vector((100L, "solo"), (101L, "the the the the"))
    val all = docsLocal ++ extra
    import spark.implicits._
    val got = TextOps.lmFluency(all.toDF("doc_id", "text"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap

    val bigrams: Vector[(Long, String)] = all.flatMap { case (id, t) =>
      val ts = toks(t)
      if (ts.length >= 2) ts.sliding(2).map(p => (id, p.mkString(" ")))
      else Iterator.empty
    }
    val c2 = bigrams.groupBy(_._2).map { case (b, xs) => b -> xs.size.toLong }
    val c1 = c2.groupBy(_._1.split(" ")(0))
      .map { case (a, m) => a -> m.values.sum }
    val pMicro = c2.map { case (b, c) =>
      b -> c * 1000000L / c1(b.split(" ")(0)) }
    val expect = bigrams.groupBy(_._1).map { case (id, xs) =>
      val ps = xs.map(x => pMicro(x._2))
      id -> (xs.size.toLong, ps.sum / xs.size)
    }
    assert(!got.contains(100L), "single-token doc must have no fluency row")
    assert(got == expect)
    // a doc made of one repeated word is perfectly predictable under its
    // own transitions: P(the|the) = c2/c1 where this doc dominates the pair
    assert(got(101L)._1 == 3L)
  }

  test("fluency and substring spans are partition-count independent") {
    import spark.implicits._
    import graft.operators.DedupOps
    val df = docsLocal.toDF("doc_id", "text")
    def key(r: org.apache.spark.sql.Row) = r.toSeq.toList
    val f1 = TextOps.lmFluency(df.repartition(1)).collect().map(key).toSet
    val f7 = TextOps.lmFluency(df.repartition(7)).collect().map(key).toSet
    assert(f1 == f7 && f1.nonEmpty)
    val s1 = DedupOps.duplicateSpans(
        DedupOps.gramHashTable(df.repartition(1), k = 2), k = 2)
      .collect().map(key).toSet
    val s7 = DedupOps.duplicateSpans(
        DedupOps.gramHashTable(df.repartition(7), k = 2), k = 2)
      .collect().map(key).toSet
    assert(s1 == s7 && s1.nonEmpty)
  }

  test("normalized text equals the local canonicalizer") {
    val got = docsDf
      .select(col("doc_id"), TextOps.normalizedText(col("text")).as("n"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    docsLocal.foreach { case (id, t) =>
      val exp = t.toLowerCase.replaceAll("[^a-z0-9\\s]", " ")
        .replaceAll("\\s+", " ").trim
      assert(got(id) == exp, s"doc $id: '${got(id)}' vs '$exp'")
    }
    // the vocab's punctuated/accented words must actually exercise folding
    assert(docsLocal.exists { case (id, t) => got(id) != t.toLowerCase })
  }

  test("chunk windows equal the local sliding-window mirror") {
    import spark.implicits._
    // "" tokenizes to a single empty token (split semantics) → one chunk
    val all = docsLocal ++ Vector((200L, ""), (201L, "one"))
    val got = TextOps.chunkWindows(all.toDF("doc_id", "text"),
        width = 5, stride = 3)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getString(4))).toSet
    val expect = all.flatMap { case (id, t) =>
      val ts = toks(t)
      (0 until ts.size by 3).zipWithIndex.map { case (st, ci) =>
        val w = ts.slice(st, st + 5)
        (id, ci.toLong, st.toLong, w.size.toLong, md5hex(w.mkString(" ")))
      }
    }.toSet
    assert(got == expect)
    // overlap invariant: consecutive full windows share width - stride toks
    assert(got.exists(_._1 == 200L) && got.count(_._1 == 201L) == 1)
  }

  test("bpeTrain equals the sequential greedy-merge mirror") {
    import spark.implicits._
    // tiny alphabet to force equal-symbol runs (the overlap case), count
    // ties (the lexicographic tie-break), and a literal "aa" token that
    // collides with the merged a+a symbol (concat identity — both sides
    // must treat them as the same symbol)
    val brnd = new scala.util.Random(0xB9E)
    val alpha = Vector("a", "b", "c", "aa")
    val corpus: Vector[(Long, String)] = (0 until 24).map { i =>
      (i.toLong, Vector.fill(5 + brnd.nextInt(28))(
        alpha(brnd.nextInt(alpha.size))).mkString(" "))
    }.toVector

    // sequential reference: count all adjacent pairs, argmax by
    // (n desc, lhs, rhs), then one greedy left-to-right merge pass
    var seqs: Map[Long, Vector[String]] =
      corpus.map { case (id, t) => id -> t.split("\\s+").toVector }.toMap
    val expect = (1 to 4).map { r =>
      val counts = scala.collection.mutable.Map[(String, String), Long]()
      seqs.values.foreach(_.sliding(2).filter(_.size == 2).foreach { p =>
        counts((p(0), p(1))) = counts.getOrElse((p(0), p(1)), 0L) + 1L })
      val ((a, b), n) = counts.toSeq.minBy { case ((x, y), c) => (-c, x, y) }
      seqs = seqs.map { case (id, s) =>
        val out = Vector.newBuilder[String]
        var i = 0
        while (i < s.length) {
          if (i + 1 < s.length && s(i) == a && s(i + 1) == b) {
            out += (a + b); i += 2
          } else { out += s(i); i += 1 }
        }
        id -> out.result()
      }
      (r, a, b, n)
    }

    val df = corpus.toDF("doc_id", "text")
    val got = TextOps.bpeTrain(df, rounds = 4)
      .collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
      .sortBy(_._1).toVector
    assert(got == expect.toVector)

    // layout independence: the merges are a pure function of the corpus
    val got7 = TextOps.bpeTrain(df.repartition(7), rounds = 4)
      .collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
      .sortBy(_._1).toVector
    assert(got7 == expect.toVector)

    // the encode half: the post-merge symbol histogram equals the mirror's
    // final state (seqs has been advanced through all 4 rounds above)
    val histExpect: Map[String, (Long, Long)] =
      seqs.toVector.flatMap { case (id, s) => s.map(t => (t, id)) }
        .groupBy(_._1)
        .map { case (t, xs) =>
          t -> (xs.size.toLong, xs.map(_._2).distinct.size.toLong) }
    val histGot = TextOps.bpeEncode(df, rounds = 4)
      .collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(histGot == histExpect)
  }

  test("dsir: exact differential vs local mirror; on-target content outweighs; empty target raises") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val target = (0L until 6L).map(i =>
      (i, "alpha beta gamma delta epsilon " + ("alpha beta " * (i % 3 + 1).toInt).trim, "en"))
    val off = (10L until 16L).map(i =>
      (i, "zeta eta theta iota kappa " + ("zeta eta " * (i % 3 + 1).toInt).trim, "de"))
    // probes carry an off-target LABEL — only their content differs
    val corpus = target ++ off ++
      Seq((20L, "alpha beta gamma delta", "xx"),
          (21L, "zeta eta theta iota", "xx"))
    val df = corpus.toDF("doc_id", "text", "lang")
    val tf = graft.operators.SimilarityOps.termFrequencies(df)
    val got = TextOps.dsirSample(df, tf, col("lang") === "en")
      .select("doc_id", "n_feats", "weight", "u", "accepted")
      .as[(Long, Long, Long, Long, Boolean)].collect().toSet
    def grams(tx: String): Seq[String] = {
      val t = toks(tx)
      if (t.length >= 2) t.sliding(2).map(_.mkString(" ")).toSeq
      else Seq(t.mkString(" "))
    }
    val cnt: Map[(Long, Long), Long] = corpus
      .flatMap { case (id, tx, _) =>
        grams(tx).map(g => (id, stableHashLocal(g) % 4096)) }
      .groupBy(identity).map { case (k, xs) => k -> xs.size.toLong }
    val tgtIds = corpus.filter(_._3 == "en").map(_._1).toSet
    val tb = cnt.toSeq.filter(x => tgtIds(x._1._1))
      .groupBy(_._1._2).map { case (b, xs) => b -> xs.map(_._2).sum }
    val rbm = cnt.toSeq
      .groupBy(_._1._2).map { case (b, xs) => b -> xs.map(_._2).sum }
    val tt = tb.values.sum; val rr = rbm.values.sum
    def ratio(b: Long): Long = {
      val tm = tb.getOrElse(b, 0L) * 1000000L / tt
      val rm = rbm(b) * 1000000L / rr
      (tm + 1) * 1000000L / (rm + 1)
    }
    val w: Map[Long, (Long, Long)] = cnt.toSeq.groupBy(_._1._1)
      .map { case (id, xs) => id -> (
        xs.map(_._2).sum,
        xs.map { case ((_, b), c) => c * ratio(b) }.sum) }
    val wmax = w.values.map(_._2).max
    val want = w.map { case (id, (nf, wt)) =>
      val u = stableHashLocal("dsir#" + id) % 1000000L
      (id, nf, wt, u, BigInt(u) * BigInt(wmax) < BigInt(wt) * 1000000L)
    }.toSet
    assert(got == want, s"got=${got.toSeq.sortBy(_._1)}\nwant=${want.toSeq.sortBy(_._1)}")
    assert(w(20L)._2 > w(21L)._2,
      s"on-target content must outweigh off-target: ${w(20L)} vs ${w(21L)}")
    intercept[Exception] {
      TextOps.dsirSample(df, tf, col("lang") === "nope").collect()
    }
    intercept[IllegalArgumentException] {
      TextOps.dsirSample(df, tf, col("lang") === "en", buckets = 1)
    }
  }

  /** Sequential winnowing mirror (Schleimer et al. 2003): k-gram hashes,
    * per-window minimum tie-broken rightmost, distinct selections. */
  private def winnowLocal(id: Long, text: String, k: Int, w: Int)
      : Set[(Long, Long, Long)] = {
    val t = toks(text)
    val grams = (0 to t.length - k)
      .map(p => (p.toLong, md5hex(t.slice(p, p + k).mkString(" ")).take(15)))
    (0 to grams.length - w).flatMap { s =>
      val win = grams.slice(s, s + w)
      val sel = win.minBy { case (p, h) => (h, -p) }
      Some((id, sel._1, java.lang.Long.parseLong(sel._2, 16)))
    }.toSet
  }

  private def winnowPairsLocal(fps: Set[(Long, Long, Long)], n: Long,
                               maxDfPct: Int, minShared: Int)
      : Set[(Long, Long, Long)] = {
    val byDoc = fps.map(f => (f._1, f._3))
    val df = byDoc.groupBy(_._2).map { case (h, s) => h -> s.size }
    val kept = byDoc.filter { case (_, h) => df(h) * 100 <= n * maxDfPct }
    kept.groupBy(_._2).values.flatMap { s =>
      val ids = s.map(_._1).toSeq.sorted
      for { a <- ids; b <- ids if a < b } yield (a, b)
    }.groupBy(identity).map { case (p, xs) => (p._1, p._2, xs.size.toLong) }
      .filter(_._3 >= minShared).toSet
  }

  test("winnowing equals the sequential mirror; the w+k-1 match guarantee holds") {
    import spark.implicits._
    val rnd2 = new scala.util.Random(0xBEEF)
    val base = (0 until 30).map { i =>
      val len = 2 + rnd2.nextInt(30)
      (i.toLong, Vector.fill(len)(words(rnd2.nextInt(words.size))).mkString(" "))
    }
    // a shared run of exactly w + k − 1 = 7 tokens — the guarantee's edge
    val run = "alpha beta gamma delta epsilon zeta eta"
    val planted = Seq(
      (100L, "x1 x2 " + run + " y1 y2 y3"),
      (101L, "z1 " + run + " z2 z3 z4 z5"))
    val all = base ++ planted
    val got = TextOps.winnowFingerprints(all.toDF("doc_id", "text"))
      .as[(Long, Long, Long)].collect().toSet
    val want = all.flatMap { case (id, tx) => winnowLocal(id, tx, 4, 4) }.toSet
    assert(got == want)
    // guarantee: a shared run of w+k-1 tokens shares >= 1 fingerprint HASH
    val f100 = got.filter(_._1 == 100L).map(_._3)
    val f101 = got.filter(_._1 == 101L).map(_._3)
    assert((f100 & f101).nonEmpty, "planted 7-token run must share a fingerprint")
    // partition independence: pure function of the corpus
    val got5 = TextOps.winnowFingerprints(
      all.toDF("doc_id", "text").repartition(5))
      .as[(Long, Long, Long)].collect().toSet
    assert(got5 == got)
    intercept[IllegalArgumentException] {
      TextOps.winnowFingerprints(all.toDF("doc_id", "text"), k = 1)
    }
  }

  test("winnowing position bound is enforced at runtime, not just documented") {
    import spark.implicits._
    // 20 tokens against a bound of 10 (the test seam for the real 1e8):
    // positions past the bound must RAISE — before the guard they silently
    // flipped the lexicographic tie-break and produced wrong fingerprints
    val doc = Seq((7L, (0 until 20).map(i => s"t$i").mkString(" ")))
      .toDF("doc_id", "text")
    val e = intercept[Exception] {
      TextOps.winnowFingerprints(doc, maxPos = 10L).collect()
    }
    val msgs = Iterator.iterate(e: Throwable)(_.getCause)
      .takeWhile(_ != null).map(t => Option(t.getMessage).getOrElse(""))
      .mkString("\n")
    assert(msgs.contains("position bound"), msgs)
    // within the bound the seam changes nothing
    val tight = TextOps.winnowFingerprints(doc.limit(1)
        .select(col("doc_id"), org.apache.spark.sql.functions.lit("a b c d e f g h").as("text")),
      maxPos = 10L).as[(Long, Long, Long)].collect().toSet
    val full = TextOps.winnowFingerprints(doc.limit(1)
        .select(col("doc_id"), org.apache.spark.sql.functions.lit("a b c d e f g h").as("text")))
      .as[(Long, Long, Long)].collect().toSet
    assert(tight == full)
  }

  test("incremental winnowing: equals full winnowing restricted to new×old; stored-side cap") {
    import spark.implicits._
    // stored: 12 docs, 10 of which share a boilerplate run (df > 10% of
    // stored → cut); one stored doc carries run R. batch: one doc carries
    // R (must pair with the stored carrier), two batch docs share R2
    // between THEMSELVES only (must NOT pair — new×new is out of scope)
    val boil = (1 to 16).map(i => "b" + i).mkString(" ")
    val runR = (1 to 16).map(i => "r" + i).mkString(" ")
    val runR2 = (1 to 16).map(i => "s" + i).mkString(" ")
    val stored = (1 until 11).map { i => // ids 1..10: % 3 != 0 mostly...
      (i * 3L + 1, s"u${i}a u${i}b " + boil + s" u${i}c")
    } ++ Seq((2L, "w1 w2 " + runR + " w3"), (5L, "v1 v2 v3 v4 v5 v6 v7 v8"))
    val batch = Seq(
      (3L, "q1 " + runR + " q2 q3"),
      (6L, "p1 p2 " + runR2 + " p3"),
      (9L, "z1 " + runR2 + " z2 z3"),
      (12L, "m1 " + boil + " m2 m3")) // probes ONLY capped hashes
    val all = stored ++ batch
    require(stored.forall(_._1 % 3 != 0) && batch.forall(_._1 % 3 == 0))
    val df = all.toDF("doc_id", "text")
    val storedDf = df.filter(col("doc_id") % 3 =!= 0)
    val got = operators.DedupOps.winnowingIncremental(storedDf,
        df.filter(col("doc_id") % 3 === 0), TextOps.winnowFingerprints(storedDf))
      .as[(Long, Long, Long)].collect().toSet
    // mirror: full fingerprints, stored-side df cap, new×old restriction
    val fps = all.flatMap { case (id, tx) => winnowLocal(id, tx, 4, 4) }.toSet
    val oldF = fps.filter(_._1 % 3 != 0).map(f => (f._1, f._3))
    val newF = fps.filter(_._1 % 3 == 0).map(f => (f._1, f._3))
    val nStored = stored.size.toLong
    val dfOld = oldF.groupBy(_._2).map { case (h, s) => h -> s.size }
    val keptH = dfOld.filter { case (_, d) => d * 100 <= nStored * 10 }.keySet
    val want = (for {
      (nid, h) <- newF if keptH(h); (oid, h2) <- oldF if h2 == h
    } yield ((nid, oid), h)).groupBy(_._1)
      .map { case ((n, o), xs) => (n, o, xs.size.toLong) }
      .filter(_._3 >= 2).toSet
    assert(got == want, s"got=$got\nwant=$want")
    assert(got.exists(p => p._1 == 3L && p._2 == 2L),
      "batch doc carrying run R must pair with its stored carrier")
    assert(!got.exists(p => p._1 % 3 == 0 && p._2 % 3 == 0),
      "new×new pairs are out of scope")
    assert(!got.exists(p => p._2 % 3 == 0), "old side must be stored docs")
    assert(!got.exists(_._1 == 12L),
      "a batch doc sharing only capped boilerplate must produce no pairs")
  }

  test("winnowing pairs: differential vs mirror; boilerplate df cap cuts hot hashes") {
    import spark.implicits._
    // 20 docs share the same 20-token boilerplate run (df > 10% of 22 →
    // its fingerprints are cut); docs 100/101 share a 20-token unique run
    val boil = (1 to 20).map(i => "b" + i).mkString(" ")
    val run2 = (1 to 20).map(i => "r" + i).mkString(" ")
    val corpus = (0 until 20).map { i =>
      (i.toLong, s"u${i}a u${i}b " + boil + s" u${i}c u${i}d")
    } ++ Seq((100L, "q1 q2 q3 " + run2 + " q4"),
             (101L, "p1 " + run2 + " p2 p3"))
    val df = corpus.toDF("doc_id", "text")
    val fpsDf = TextOps.winnowFingerprints(df)
    val got = operators.DedupOps.winnowingPairs(df, fpsDf)
      .as[(Long, Long, Long)].collect().toSet
    val fps = corpus.flatMap { case (id, tx) => winnowLocal(id, tx, 4, 4) }.toSet
    val want = winnowPairsLocal(fps, corpus.size.toLong, 10, 2)
    assert(got == want)
    assert(got.exists(p => p._1 == 100L && p._2 == 101L),
      "planted unique-run pair must be detected")
    assert(got.forall(p => p._1 == 100L && p._2 == 101L),
      s"boilerplate-only doc pairs must be cut by the df cap: $got")
    intercept[IllegalArgumentException] {
      operators.DedupOps.winnowingPairs(df, fpsDf, minShared = 0)
    }
    intercept[IllegalArgumentException] {
      operators.DedupOps.winnowingPairs(df, fpsDf, maxDfPct = 101)
    }
  }
}
