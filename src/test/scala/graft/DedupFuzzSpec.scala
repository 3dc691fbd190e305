package graft

import java.security.MessageDigest

import graft.operators.DedupOps

/** Seeded randomized equivalence for the dedup operators: random short
  * documents from a small vocabulary, checked against independent local
  * recomputations (including a local mirror of the md5-based stable hash).
  * Pins completeness of the SimHash chunk blocking (pigeonhole: hamming ≤
  * chunks−1 always collides on a chunk) and exactness of the inverted-index
  * Jaccard join — properties the fixture oracles exercise only on one
  * corpus shape. */
class DedupFuzzSpec extends SparkSpecBase {

  private val rnd = new scala.util.Random(0xD00D)
  private val vocab = Vector("alpha", "beta", "gamma", "delta", "epsilon",
    "zeta", "eta", "theta", "iota", "kappa", "lambda", "mu")

  private val docsLocal: Vector[(Long, String)] = {
    val base = (0 until 40).map { i =>
      val len = 1 + rnd.nextInt(8)
      (i.toLong, Vector.fill(len)(vocab(rnd.nextInt(vocab.size))).mkString(" "))
    }.toVector
    // force exact duplicates and near-duplicates into the mix
    base ++ Vector(
      (40L, base(3)._2), (41L, base(7)._2),
      (42L, base(5)._2 + " extra"))
  }

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

  private def shingleSet(t: String, n: Int = 3): Set[String] = {
    val ts = toks(t)
    if (ts.length >= n) ts.sliding(n).map(_.mkString(" ")).toSet
    else Set(ts.mkString(" "))
  }

  test("blocked embedding dedup: subset of brute force, planted dups recalled") {
    import spark.implicits._
    graft.functions.GraftExtensions.install(spark)
    val vrnd = new scala.util.Random(0xE33D)
    // 120 random unit-ish vectors + 12 planted near-identical copies
    val base = (0L until 120L).map { i =>
      (i, Array.fill(64)((vrnd.nextDouble() - 0.5).toFloat))
    }
    val planted = base.take(12).map { case (i, v) =>
      // tiny perturbation: cos > 0.999, far above any random pair
      (i + 1000L, v.zipWithIndex.map { case (x, d) =>
        if (d == 0) x + 0.001f else x })
    }
    val df = (base ++ planted).toDF("vec_id", "embedding")
    def pairSet(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val brute = pairSet(
      DedupOps.embeddingCosinePairs(df, minCos = 0.9, bruteForce = true))
    val blocked = pairSet(DedupOps.embeddingCosinePairs(df, minCos = 0.9))
    // the rerank is exact, so blocking can only ever lose pairs
    assert(blocked.subsetOf(brute), s"false positives: ${blocked -- brute}")
    // every planted near-identical pair must collide in at least one band
    val plantedPairs = base.take(12).map { case (i, _) => (i, i + 1000L) }.toSet
    assert(plantedPairs.subsetOf(blocked),
      s"missed planted dups: ${plantedPairs -- blocked}")
    assert(plantedPairs.subsetOf(brute))
  }

  test("incremental minhash probe equals local new-vs-old band collisions") {
    import spark.implicits._
    // extend the corpus with duplicates planted ACROSS the split (id%3==0
    // is the incoming batch): 43 (old side) copies doc 6 (new side), and
    // 45 (new side) copies doc 8 (old side)
    val all = docsLocal ++ Vector((43L, docsLocal(6)._2), (45L, docsLocal(8)._2))
    val df = all.toDF("doc_id", "text")
    def sigsOf(d: org.apache.spark.sql.DataFrame) =
      DedupOps.minhashSignatures(d).localCheckpoint()
    val out = DedupOps.incrementalMinhashPairs(
        sigsOf(df.filter($"doc_id" % 3 =!= 0)),
        sigsOf(df.filter($"doc_id" % 3 === 0)))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toSet
    // local mirror: per-doc signature over DISTINCT shingles (min is
    // idempotent over duplicates, so distinct matches the engine)
    val P = DedupOps.MinHashP
    def sig(t: String): Vector[Long] =
      (1 to DedupOps.NumPerm).map { i =>
        shingleSet(t).map { s =>
          val h = stableHashLocal(s) % P
          (h * (2 * i + 1) + i * 12582917L) % P
        }.min
      }.toVector
    val sigs = all.map { case (id, t) => id -> sig(t) }.toMap
    def bands(v: Vector[Long]): Vector[String] =
      (0 until DedupOps.Bands).map(b =>
        v.slice(b * DedupOps.RowsPerBand, (b + 1) * DedupOps.RowsPerBand)
          .mkString("-")).toVector
    val expected = (for {
      (n, _) <- all if n % 3 == 0
      (o, _) <- all if o % 3 != 0
      nb = bands(sigs(n)).zip(bands(sigs(o))).count { case (x, y) => x == y }
      if nb > 0
    } yield {
      val eq = sigs(n).zip(sigs(o)).count { case (x, y) => x == y }
      (n, o, nb.toLong, eq.toDouble / DedupOps.NumPerm)
    }).toSet
    assert(out == expected)
    // the planted cross-split duplicates must surface, oriented new→old
    assert(out.exists(p => p._1 == 6L && p._2 == 43L))
    assert(out.exists(p => p._1 == 45L && p._2 == 8L))
  }

  test("exact dedup matches local grouping (min id kept, sizes right)") {
    val byText = docsLocal.groupBy(_._2)
    val got = DedupOps.exact(docsDf).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("group_size"), r.getAs[Boolean]("is_kept")))).toMap
    docsLocal.foreach { case (id, text) =>
      val grp = byText(text)
      assert(got(id) == ((grp.size.toLong, grp.map(_._1).min == id)), s"doc $id")
    }
  }

  test("ngram jaccard pairs match local pairwise computation exactly") {
    val sets = docsLocal.map { case (id, t) => id -> shingleSet(t) }.toMap
    val expect = (for {
      (i, si) <- sets; (j, sj) <- sets if i < j
      inter = (si & sj).size if inter > 0
      jac = inter.toDouble / (si.size + sj.size - inter) if jac >= 0.2
    } yield (i, j, inter.toLong, jac)).toSet
    val got = DedupOps.ngramJaccardPairs(
        DedupOps.shingleHashSet(docsDf).localCheckpoint()).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toSet
    assert(got == expect)
  }

  test("decontamination: overlap counts match local shingle-set intersection") {
    import org.apache.spark.sql.functions.col
    val corpus = docsDf.filter(col("doc_id") % 5 =!= 0)
    val bench = docsDf.filter(col("doc_id") % 5 === 0)
    val benchSh = docsLocal.filter(_._1 % 5 == 0)
      .flatMap(d => shingleSet(d._2)).toSet
    val expected = docsLocal.filter(_._1 % 5 != 0).map { case (id, t) =>
      id -> shingleSet(t).count(benchSh).toLong
    }.toMap
    // the duplicate forced at id 41 (copy of id 7) sits in the corpus while
    // its twin's shingles may appear benchside via other docs — either way
    // the count must equal the local set intersection exactly
    val got = DedupOps.decontaminate(corpus, bench, minOverlap = 2L)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2)))
      .toMap
    assert(got.keySet == expected.keySet)
    got.foreach { case (id, (hits, clean)) =>
      assert(hits == expected(id), s"doc $id hits")
      assert(clean == (hits < 2L), s"doc $id verdict")
    }
    // id 40 benchside is an exact copy of corpus doc 3, so doc 3's whole
    // shingle set is contaminated — overlap is structurally guaranteed
    assert(got.values.exists(_._1 > 0), "planted copy must produce overlap")
  }

  test("simhash chunk blocking finds exactly the close-hamming pairs") {
    val width = 48
    // local mirror of DedupOps.simhash (same md5-based stable hash)
    def simhashLocal(t: String): Long = {
      val counts = toks(t).groupBy(identity).map { case (k, v) => k -> v.size }
      (0 until width).map { bit =>
        val s = counts.map { case (tok, c) =>
          ((stableHashLocal(tok + "#" + bit) % 2) * 2 - 1) * c
        }.sum
        if (s > 0) 1L << bit else 0L
      }.sum
    }
    val local = docsLocal.map { case (id, t) => id -> simhashLocal(t) }.toMap
    val sims = DedupOps.simhash(docsDf)
    val gotSims = sims.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(gotSims == local, "simhash values diverged from local mirror")
    val expectPairs = (for {
      (i, si) <- local; (j, sj) <- local if i < j
      h = java.lang.Long.bitCount(si ^ sj) if h <= 3
    } yield (i, j, h.toLong)).toSet
    val gotPairs = DedupOps.simhashPairs(sims).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2).toLong)).toSet
    assert(gotPairs == expectPairs)
  }

  test("native lsh band buckets equal the per-band bucket expressions") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{array, col, posexplode}
    graft.functions.GraftExtensions.install(spark)
    val vrnd = new scala.util.Random(0xBA4D)
    // negatives, zeros, sub-micro magnitudes, and short vectors all hit the
    // quantize/sign edge cases; dim < 64 exercises the min(n, dim) clamp
    val vecs = (0L until 50L).map { i =>
      val d = if (i % 7 == 0) 16 else 64
      (i, Array.tabulate(d)(j =>
        if ((i + j) % 11 == 0) 0.0f
        else if ((i + j) % 5 == 0) ((vrnd.nextDouble() - 0.5) * 1e-6).toFloat
        else (vrnd.nextDouble() - 0.5).toFloat))
    }
    val df = vecs.toDF("vec_id", "embedding")
    for (bits <- Seq(4, 8)) {
      val native = df.select(col("vec_id"), posexplode(
          graft.operators.SimilarityOps.lshBandBucketsAll(col("embedding"), 8, bits))
          .as(Seq("band", "bucket")))
        .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
      val perBand = df.select(col("vec_id"), posexplode(
          array((0 until 8).map(b =>
            graft.operators.SimilarityOps.lshBucketBand(col("embedding"), b, bits)): _*))
          .as(Seq("band", "bucket")))
        .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
      assert(native == perBand, s"bits=$bits: native banding diverged")
    }
  }

  test("semantic dedup equals local IVF-assign + integer-threshold mirror") {
    import spark.implicits._
    graft.functions.GraftExtensions.install(spark)
    val vrnd = new scala.util.Random(0x5EED)
    // 60 random vectors + 8 planted near-copies (cos > 0.999 to their base)
    val base = (0L until 60L).map { i =>
      (i, Array.fill(16)((vrnd.nextDouble() - 0.5).toFloat))
    }
    val planted = base.take(8).map { case (i, v) =>
      (i + 100L, v.zipWithIndex.map { case (x, d) =>
        if (d == 0) x + 0.0005f else x })
    }
    val all = base ++ planted
    val df = all.toDF("vec_id", "embedding")
    val got = DedupOps.semanticDedup(df, tauPct = 85, cells = 16)
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getBoolean(2))))
      .toMap

    // local mirror with exact integer arithmetic (BigInt cross-multiply)
    def quant(v: Array[Float]): Array[Long] = v.map(x =>
      BigDecimal(x.toDouble * 1e6)
        .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong)
    val q = all.map { case (id, v) => id -> quant(v) }.toMap
    val seeds = all.filter(_._1 < 16).map(_._1).sorted
    def cellOf(id: Long): Long = seeds.minBy { cid =>
      val d2 = q(id).zip(q(cid)).map { case (a, b) =>
        (a - b) * (a - b) }.sum
      (d2, cid)
    }
    val cellsL = all.map { case (id, _) => id -> cellOf(id) }.toMap
    def n2(id: Long): BigInt = q(id).map(x => BigInt(x) * x).sum
    val dupsL = (for {
      (aid, _) <- all; (bid, _) <- all
      if aid < bid && cellsL(aid) == cellsL(bid)
      dot = q(aid).zip(q(bid)).map { case (a, b) => BigInt(a) * b }.sum
      if dot > 0 && dot * dot * 10000 >= BigInt(7225) * n2(aid) * n2(bid)
    } yield bid).toSet
    assert(got.keySet == all.map(_._1).toSet)
    all.foreach { case (id, _) =>
      assert(got(id) == ((cellsL(id), dupsL.contains(id))),
        s"vec $id: got ${got(id)}, expected (${cellsL(id)}, ${dupsL.contains(id)})")
    }
    // every planted copy has a smaller-id near-twin; if clustering kept the
    // pair together it MUST be flagged (same-cell cos≈1 >= 0.85)
    planted.foreach { case (id, _) =>
      if (cellsL(id) == cellsL(id - 100L)) assert(dupsL.contains(id))
    }
    assert(planted.count { case (id, _) => got(id)._2 } >= 6,
      "expected most planted near-copies flagged as semantic dups")
  }

  test("semantic dedup seeds from the smallest ids whatever the id range") {
    import spark.implicits._
    graft.functions.GraftExtensions.install(spark)
    val vrnd = new scala.util.Random(0xCE11)
    // ids nowhere near 0: a literal `id < cells` seed filter would pick
    // ZERO seeds and silently return an empty "curated" corpus
    val embs = (0 until 40).map { i =>
      (5000L + i, Array.fill(16)((vrnd.nextDouble() - 0.5).toFloat))
    }.toDF("vec_id", "embedding")
    val got = DedupOps.semanticDedup(embs, tauPct = 85, cells = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got.size == 40, s"all vectors must survive assignment: ${got.size}")
    assert(got.values.toSet.subsetOf((5000L until 5004L).toSet),
      "cells must be the 4 smallest ids")
  }

  test("pruned semantic dedup: sprobe=sqrt(cells) equals the exact assigner; total and layout-independent") {
    import spark.implicits._
    graft.functions.GraftExtensions.install(spark)
    val vrnd = new scala.util.Random(0x9A55)
    val all = (0L until 80L).map { i =>
      (i, Array.fill(16)((vrnd.nextDouble() - 0.5).toFloat))
    }
    val df = all.toDF("vec_id", "embedding")
    def rows(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    // probing ALL supers = exact argmin over every seed — the pruned
    // assigner must DEGENERATE to semanticDedup exactly (the documented
    // recall ceiling), which pins the two-level plumbing end to end
    val exact = rows(DedupOps.semanticDedup(df, tauPct = 85, cells = 16))
    val full = rows(DedupOps.semanticDedupPruned(df, tauPct = 85,
      cells = 16, sprobe = 4))
    assert(full == exact, "sprobe=ceil(sqrt(cells)) must equal the exact assigner")
    // a REAL shortlist (sprobe=2) stays a total assignment: every vector
    // lands in exactly one valid cell, whatever the input layout
    val pruned = rows(DedupOps.semanticDedupPruned(df, tauPct = 85,
      cells = 16, sprobe = 2))
    assert(pruned.map(_._1) == all.map(_._1).toSet, "assignment must be total")
    assert(pruned.forall { case (_, cell, _) => cell >= 0L && cell < 16L })
    val pruned5 = rows(DedupOps.semanticDedupPruned(
      df.repartition(5), tauPct = 85, cells = 16, sprobe = 2))
    assert(pruned5 == pruned, "pruned assignment must be partition-count independent")
  }

  test("normalized exact dedup groups re-punctuated copies") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val docs = Vector(
      (0L, "Alpha, beta; GAMMA!"),
      (1L, "alpha beta gamma"),
      (2L, "  alpha   beta\tgamma "),
      (3L, "alpha beta gamma delta"),
      (4L, "Alpha-beta gamma")) // '-' folds to a space → same canon form
    val got = DedupOps.exact(
        docs.toDF("doc_id", "text").select(col("doc_id"),
          graft.operators.TextOps.normalizedText(col("text")).as("text")))
      .collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("group_size"), r.getAs[Boolean]("is_kept")))).toMap
    Seq(0L, 1L, 2L, 4L).foreach { id =>
      assert(got(id) == ((4L, id == 0L)), s"doc $id") }
    assert(got(3L) == ((1L, true)))
    // raw exact dedup sees five distinct texts — normalization is what
    // collapses them
    val raw = DedupOps.exact(docs.toDF("doc_id", "text"))
      .collect().map(_.getAs[Long]("group_size"))
    assert(raw.forall(_ == 1L))
  }

  test("duplicate substring spans equal the local k-gram island mirror") {
    val k = 6
    val rnd2 = new scala.util.Random(0x5BAB)
    val boiler = Vector("alpha", "beta", "gamma", "delta",
      "epsilon", "zeta", "eta", "theta")
    // long random docs; every 5th gets the boilerplate block spliced in at
    // a random offset — substring dedup must find it inside unique bodies
    val longDocs: Vector[(Long, String)] = (0 until 30).map { i =>
      val body = Vector.fill(20 + rnd2.nextInt(30))(
        vocab(rnd2.nextInt(vocab.size)))
      val ts = if (i % 5 == 0) {
        val cut = rnd2.nextInt(body.size)
        body.take(cut) ++ boiler ++ body.drop(cut)
      } else body
      (i.toLong, ts.mkString(" "))
    }.toVector ++ Vector((100L, "alpha beta gamma")) // < k tokens: absent
    import spark.implicits._
    val got = DedupOps.duplicateSpans(
        DedupOps.gramHashTable(longDocs.toDF("doc_id", "text")))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet

    val grams = longDocs.flatMap { case (id, t) =>
      val ts = t.split("\\s+").toVector
      if (ts.size >= k)
        ts.sliding(k).zipWithIndex.map { case (g, i) =>
          (id, i.toLong, g.mkString(" ")) }
      else Iterator.empty
    }
    val counts = grams.groupBy(_._3).map { case (g, xs) => g -> xs.size }
    val expect = grams.filter(x => counts(x._3) >= 2)
      .groupBy(_._1).flatMap { case (id, xs) =>
        val spans = scala.collection.mutable.ArrayBuffer[(Long, Long)]()
        xs.map(x => (x._2, x._2 + k - 1)).sortBy(_._1).foreach {
          case (s, e) =>
            if (spans.nonEmpty && s <= spans.last._2 + 1)
              spans(spans.size - 1) =
                (spans.last._1, math.max(spans.last._2, e))
            else spans += ((s, e))
        }
        spans.map { case (s, e) => (id, s, e, e - s + 1) }
      }.toSet
    assert(got == expect)
    assert(!got.exists(_._1 == 100L), "sub-k doc must have no spans")
    // every doc carrying the boilerplate block must have a span >= k wide
    (0 until 30 by 5).foreach { i =>
      assert(got.exists(t => t._1 == i.toLong && t._4 >= k.toLong),
        s"doc $i: planted boilerplate not spanned")
    }
  }

  test("substring-span apply cuts recurring content keep-first (local mirror)") {
    val k = 6
    val rnd3 = new scala.util.Random(0xCA7)
    val boiler = Vector("alpha", "beta", "gamma", "delta",
      "epsilon", "zeta", "eta", "theta")
    val base: Vector[(Long, Vector[String])] = (0 until 24).map { i =>
      val body = Vector.fill(25 + rnd3.nextInt(20))(
        vocab(rnd3.nextInt(vocab.size)))
      val ts = if (i % 4 == 0) {
        val cut = rnd3.nextInt(body.size)
        body.take(cut) ++ boiler ++ body.drop(cut)
      } else body
      (i.toLong, ts)
    }.toVector
    // an exact duplicate of doc 1: must vanish entirely from the output
    val all = base :+ (50L, base(1)._2)
    import spark.implicits._
    val allDf = all.map { case (id, ts) => (id, ts.mkString(" ")) }
      .toDF("doc_id", "text")
    val got = DedupOps.cutDuplicateSpans(allDf, DedupOps.gramHashTable(allDf))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2))))
      .toMap

    // local mirror: spans → span fp → keep-first → cut → fp of kept tokens
    val grams = all.flatMap { case (id, ts) =>
      if (ts.size >= k)
        ts.sliding(k).zipWithIndex.map { case (g, i) =>
          (id, i.toLong, g.mkString(" ")) }
      else Iterator.empty
    }
    val counts = grams.groupBy(_._3).map { case (g, xs) => g -> xs.size }
    val spans = grams.filter(x => counts(x._3) >= 2)
      .groupBy(_._1).flatMap { case (id, xs) =>
        val merged = scala.collection.mutable.ArrayBuffer[(Long, Long)]()
        xs.map(x => (x._2, x._2 + k - 1)).sortBy(_._1).foreach {
          case (s, e) =>
            if (merged.nonEmpty && s <= merged.last._2 + 1)
              merged(merged.size - 1) =
                (merged.last._1, math.max(merged.last._2, e))
            else merged += ((s, e))
        }
        merged.map { case (s, e) => (id, s, e) }
      }.toVector
    val toksOf = all.toMap
    val withFp = spans.map { case (id, s, e) =>
      (id, s, e, toksOf(id).slice(s.toInt, e.toInt + 1).mkString(" ")) }
    val cuts = withFp.groupBy(_._4).filter(_._2.size >= 2).values.flatMap {
      g => g.sortBy(x => (x._1, x._2)).tail }.map(x => (x._1, x._2, x._3))
      .toVector
    val expect = all.flatMap { case (id, ts) =>
      val cutRanges = cuts.filter(_._1 == id)
      val keptToks = ts.zipWithIndex.collect {
        case (t, p) if !cutRanges.exists(c => p >= c._2 && p <= c._3) => t }
      if (keptToks.isEmpty) None
      else Some(id -> ((keptToks.size.toLong, md5hex(keptToks.mkString(" ")))))
    }.toMap
    assert(got == expect)
    assert(!got.contains(50L), "the exact duplicate must be fully cut")
    assert(got.contains(1L), "the canonical first copy stays")
  }

  test("incremental SemDeDup: stored wins, keep-first within batch, novel kept") {
    import spark.implicits._
    val vrnd = new scala.util.Random(0x5E11)
    def randVec() = Array.fill(64)(vrnd.nextDouble() - 0.5)
    val storedVecs = (0L until 40L).map(i => (i, randVec()))
    val incoming = Seq(
      // exact copy of stored 7 → dup (stored wins even though 100 > 7)
      (100L, storedVecs(7)._2.clone()),
      // within-batch copy pair: 101 novel (kept), 102 its copy (dup)
      (101L, randVec()),
      (103L, randVec())) // plain novel → kept
    val incomingAll = incoming ++ Seq((102L, incoming(1)._2.clone()))
    val stored = storedVecs.toDF("vec_id", "embedding")
    val inc = incomingAll.toDF("vec_id", "embedding")
    val got = DedupOps.semanticDedupIncremental(stored, inc)
      .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    assert(got.keySet == Set(100L, 101L, 102L, 103L),
      "only the incoming batch is judged")
    assert(got(100L), "copy of a stored vector must be a duplicate")
    assert(got(102L), "the larger-id in-batch copy must be a duplicate")
    assert(!got(101L), "the smaller-id in-batch original survives")
    assert(!got(103L), "a novel vector survives")
  }

  test("incremental substring spans equal the full pass restricted to the batch") {
    import org.apache.spark.sql.functions.{col, count, lit}
    // the defining property: stored_count + incoming_count is exactly the
    // corpus-wide count, so the incremental result must equal the full
    // pass filtered to the incoming docs — on a corpus with planted
    // duplicates spanning both sides of the split
    val all = docsDf
    def spans(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val full = spans(DedupOps.duplicateSpans(DedupOps.gramHashTable(all, k = 3),
        k = 3)
      .filter(col("doc_id") % 3 === 0))
    val storedCounts = DedupOps.gramHashTable(
        all.filter(col("doc_id") % 3 =!= 0), k = 3)
      .filter(col("gh").isNotNull)
      .groupBy(col("gh")).agg(count(lit(1)).as("stored_cnt"))
    val got = spans(DedupOps.incrementalDuplicateSpans(storedCounts,
      DedupOps.gramHashTable(all.filter(col("doc_id") % 3 === 0), k = 3),
      k = 3))
    assert(got == full)
    assert(got.nonEmpty, "fixture must exercise cross-side duplication")
  }

  test("leakage-safe splits: cluster-atomic, total, and hash-exact") {
    val pairs = DedupOps.minhashLshPairs(
      DedupOps.minhashSignatures(docsDf).localCheckpoint())
    val got = DedupOps.leakageSafeSplits(docsDf, pairs)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    // total: every doc assigned exactly once
    assert(got.map(_._1).sorted.toVector == docsLocal.map(_._1).sorted)
    // the leakage guarantee itself: one split per cluster
    got.groupBy(_._2).foreach { case (cid, rows) =>
      assert(rows.map(_._3).distinct.length == 1,
        s"cluster $cid straddles splits: ${rows.toVector}")
    }
    // planted exact dups (40≈3, 41≈7) must share their original's cluster
    val byDoc = got.map(r => r._1 -> r._2).toMap
    assert(byDoc(40L) == byDoc(3L) && byDoc(41L) == byDoc(7L))
    // the split is the stable md5 recipe over the CLUSTER id — mirror it
    val expectSplit = got.map { case (_, cid, _) =>
      val b = stableHashLocal(cid.toString) % 100
      if (b < 80) "train" else if (b < 90) "valid" else "test"
    }
    assert(got.map(_._3).toVector == expectSplit.toVector)
    // invalid percentage shapes error instead of silently missing a split
    assertThrows[IllegalArgumentException] {
      DedupOps.leakageSafeSplits(docsDf, pairs, trainPct = 95, validPct = 10)
    }
  }

  test("shape-parameter guards reject invalid LSH/semantic knobs") {
    import spark.implicits._
    import org.apache.spark.sql.catalyst.expressions.Literal
    // bits > 64 would silently wrap the Java shift (1L << k is mod 64) and
    // emit COLLIDING bucket ids; these must error at construction instead
    for (badBits <- Seq(0, 65, -3))
      assertThrows[IllegalArgumentException] {
        graft.functions.LshBandBuckets(Literal(1), 8, badBits, 4)
      }
    assertThrows[IllegalArgumentException] {
      graft.functions.LshBandBuckets(Literal(1), 0, 8, 4)
    }
    assertThrows[IllegalArgumentException] {
      graft.functions.LshBandBuckets(Literal(1), 8, 8, 0)
    }
    // cells = 0 would yield zero seeds and an empty "curated" corpus
    val df = Seq((1L, Array.fill(4)(0.1))).toDF("vec_id", "embedding")
    assertThrows[IllegalArgumentException] {
      DedupOps.semanticDedup(df, tauPct = 85, cells = 0)
    }
    assertThrows[IllegalArgumentException] {
      DedupOps.semanticDedup(df, tauPct = 0)
    }
  }

  test("substring apply: the staged-table join names two distinct doc_id attributes") {
    import org.apache.spark.sql.catalyst.expressions.{AttributeReference, EqualTo}
    import org.apache.spark.sql.catalyst.plans.logical.Join
    // both sides of the keep-first anti join derive from the staged gram
    // table, so a key named on each side must still be two attributes —
    // one attribute compared with itself is a trivially true predicate.
    // Built with Spark's self-join rewrite off, so the plan cannot lean on
    // it to turn such a predicate back into a key equality
    val all = docsDf
    val g = DedupOps.gramHashTable(all, k = 3).localCheckpoint()
    val staged = withConf("spark.sql.selfJoinAutoResolveAmbiguity" -> "false") {
      DedupOps.cutDuplicateSpans(all, g, k = 3)
    }
    val selfEq = staged.queryExecution.analyzed.collect {
      case j: Join => j.condition.toSeq.flatMap(_.collect {
        case e @ EqualTo(a: AttributeReference, b: AttributeReference)
          if a.exprId == b.exprId => e
      })
    }.flatten
    assert(selfEq.isEmpty, s"self-equal join keys: $selfEq")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSet
    assert(rows(staged) == rows(DedupOps.cutDuplicateSpans(all,
      DedupOps.gramHashTable(all, k = 3), k = 3)))
  }
}
