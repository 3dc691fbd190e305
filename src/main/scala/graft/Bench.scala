package graft
import org.apache.spark.sql.SparkSession
object Bench {
  def main(args: Array[String]): Unit = {
    // the stdout JSON contract needs '.' decimals regardless of host locale
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // warm-up: JVM/codegen/FS-cache costs land here instead of being
    // charged to whichever query the Map happens to order first
    spark.range(1000000).selectExpr("sum(id)").collect()
    Tables.names.foreach(n => Tables.load(spark, sfDir, n).count())
    // GC attribution (stderr only — the stdout JSON line is the driver
    // contract): how much of each query's wall time was collector pauses
    import scala.jdk.CollectionConverters._
    def gcMs: Long = java.lang.management.ManagementFactory
      .getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
    // committed previous-round per-query detail, loaded ONCE — used both
    // as the in-loop stall anchor (below) and for the qprev drift summary
    val prevMap: Map[String, Double] = try {
      val prevPath = java.nio.file.Paths.get(sys.env.getOrElse(
        "SPARK_GRAFT_PREV", "/root/repo/QCS_PREV.json"))
      if (!java.nio.file.Files.exists(prevPath)) Map.empty else {
        val txt = new String(java.nio.file.Files.readAllBytes(prevPath), "UTF-8")
        val entry = """"([A-Za-z0-9_]+)"\s*:\s*([0-9]+\.?[0-9]*)""".r
        entry.findAllMatchIn(txt)
          .map(m => m.group(1) -> m.group(2).toDouble).toMap
      }
    } catch { case e: Exception =>
      System.err.println(s"[bench-qprev] prior load failed: $e"); Map.empty
    }
    // streaming cost split of the rows below, from the progress Spark
    // reports (`<tag>_batches`, `_addbatch`, `_statecommit`, `_overhead`);
    // the minimum over a row's passes, so it describes the best pass
    val streamTags = Map(
      "stream_interval_join_multibatch" -> "interval_mb",
      "cep_stream_multibatch" -> "cep_mb",
      "cep_stream_timeout" -> "cep_to",
      "stream_ivf_ingest" -> "vecingest",
      "stream_socket_counts" -> "socket",
      "stream_socket_counts_25k" -> "socket_mod4",
      "stream_custom_source_counts" -> "socket_dsv2",
      "stream_retract_changelog" -> "retract",
      "stream_iterate_halving" -> "iterate")
    val phaseMin = scala.collection.mutable.Map.empty[String, Double]
    def recordMin(k: String, v: Double): Unit =
      phaseMin(k) = phaseMin.get(k).fold(v)(math.min(_, v))
    val streams = StreamProgress.attach(spark)
    var idx = 0
    val results = SparkEntry.queries.map { case (name, fn) =>
      val g0 = gcMs
      def onePass(): Double = {
        val mark = streams.mark()
        val t0 = System.nanoTime()
        try { fn(spark, sfDir).count() } catch { case e: Throwable =>
          System.err.println(s"[bench-fail] $name ${e.getClass.getSimpleName}: ${e.getMessage}")
          -1L
        }
        val sec = (System.nanoTime() - t0) / 1e9
        streamTags.get(name).foreach { tag =>
          val t = StreamProgress.totals(streams.since(mark))
          recordMin(s"${tag}_batches", t.batches.toDouble)
          recordMin(s"${tag}_addbatch", t.addBatchMs / 1e3)
          recordMin(s"${tag}_statecommit", t.stateCommitMs / 1e3)
          recordMin(s"${tag}_overhead", t.overheadMs / 1e3)
        }
        sec
      }
      // one-time stage-build attribution: whichever query triggers a
      // cross-query staged build (dedup shingle chain, replay quarters)
      // pays the whole cost — record how much of this query's first-pass
      // time was that build so the bench number is explainable
      val stagePre = graft.sources.StagingFs.buildCosts
      val first = onePass()
      val stageHere = graft.sources.StagingFs.buildCosts
        .filterNot { case (k, _) => stagePre.contains(k) }
      val stageSec = stageHere.values.sum
      if (stageSec > 0.05)
        System.err.println(f"[bench-stage] $name paid $stageSec%.2fs one-time stage build (${stageHere.keys.mkString(",")})")
      // subtract the one-time build from the first pass BEFORE best-of-2:
      // stage_sec reports that cost separately, so leaving it in dt (when
      // no second pass runs, or when the second pass happens slower)
      // would double-count it in the "fully accounted" totals
      val firstSteady = math.max(0.0, first - stageSec)
      // best-of-2 for everything non-trivial: the driver box shows ±2x
      // scheduler jitter on unchanged queries round over round, and the r9
      // drift analysis found the jitter concentrated in SUB-second rows the
      // old 0.8 s threshold exempted (typed_map_filter 0.44→0.65, q03
      // 0.54→0.76...). The min of two passes is the steady-state per-pass
      // cost; at 0.25 s the re-run surcharge stays bounded while the qprev
      // comparison below becomes noise-robust.
      val dt2 = if (firstSteady > 0.25) math.min(firstSteady, onePass())
                else firstSteady
      // prior-anchored third pass (r11 verdict item 7): the box's
      // intermittent I/O stalls can swallow BOTH passes of best-of-2
      // (r10 correlate_explode, r11 dedup_incremental — 11.8x phantoms
      // the warm probe later refuted). When the committed prior says this
      // row is much faster, one more pass is cheap insurance; keep the
      // min. Cheap rows (prior < 1.5 s) anchor at 2x, not 3x — r12's
      // table_api_insert_into posted 3.0x on a 0.97 s prior and missed
      // the old trigger by 0.01 s; I/O-bound rows in the 2-3x band are
      // exactly where cold-catalog/fs stalls land, and a third pass on a
      // sub-1.5 s row costs almost nothing.
      val dt = prevMap.get(name) match {
        case Some(p) if p >= 0.1 && dt2 > (if (p < 1.5) 2 else 3) * p =>
          val third = onePass()
          System.err.println(f"[bench-stall] $name best-of-2 $dt2%.2fs > ${if (p < 1.5) 2 else 3}x prior $p%.2fs — third pass $third%.2fs")
          math.min(dt2, third)
        case _ => dt2
      }
      val gd = gcMs - g0
      if (gd > 500) System.err.println(f"[bench-gc] $name ${dt}%.1fs gc=${gd}ms")
      // drop per-query residue (localCheckpoint RDDs, memory-sink tables) —
      // 120+ queries in one JVM otherwise accumulate storage until GC thrash
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
      spark.catalog.listTables().collect()
        .filter(t => t.isTemporary && t.name.startsWith("graft_stream_"))
        .foreach(t => spark.catalog.dropTempView(t.name))
      // Spark's ContextCleaner reclaims dead broadcasts/shuffle files only
      // after a JVM GC; the default periodic GC (30 min) never fires inside
      // one bench run, so force one at a stride — keeps late queries from
      // paying the accumulated heap of 170 earlier plans
      idx += 1
      if (idx % 25 == 0) System.gc()
      name -> dt
    }
    // The stdout JSON line is the driver contract, and the driver retains
    // only the LAST 2000 chars of stdout — a full name→sec map (~8 KB)
    // pushes the line's opening brace out of that window and the driver
    // records parsed=null (observed in BENCH_r01/r02). Round 9 makes the
    // parsed line SELF-SUFFICIENT anyway (the r8 verdict's top item):
    //  - "queries": a small named headline subset (human-readable anchors);
    //  - "qds": EVERY per-query time as decisecond ints, positionally
    //    keyed by the ascii-sorted query-name list ("qds_order") — ~3 chars
    //    per query instead of ~28, so all 341 rows fit the window;
    //  - "phases": the streaming cost splits of `streamTags` and tf_stage.
    // The full name→sec map additionally lands in BENCH_DETAIL.json next to
    // the repo sources (and on stderr) for offline reads.
    // the shared bm25/dsir term-frequency stage build cost gets its own
    // phase key (r9 verdict item 3: was only derivable from truncated
    // stderr): 0 here means the stage was warm/never built this run
    graft.sources.StagingFs.buildCosts
      .find(_._1.endsWith("#graft-bm25-tf"))
      .foreach { case (_, sec) => recordMin("tf_stage", sec) }
    // round-over-round drift adjudication (r9 verdict item 2): compare this
    // run's per-query times against the committed previous-round detail and
    // summarize — gt13/lt077 = rows that moved >1.3x either way (ignoring
    // sub-0.1 s rows, where a 1.3x swing is scheduler noise, not signal),
    // prev_s/now_s = subtotals over the common query set.
    val qprev: Option[String] = {
      val prev = prevMap.filter { case (k, _) => results.contains(k) }
      if (prev.isEmpty) None else {
        val now = results.filter { case (k, _) => prev.contains(k) }
        val moved = now.map { case (k, v) =>
          val p = prev(k)
          if (math.min(p, v) < 0.1) 0
          else if (v > 1.3 * p) 1 else if (p > 1.3 * v) -1 else 0
        }
        Some(f""""qprev":{"n":${now.size},"gt13":${moved.count(_ > 0)},"lt077":${moved.count(_ < 0)},"prev_s":${prev.values.sum}%.1f,"now_s":${now.values.sum}%.1f}""")
      }
    }
    val allQs = results.toSeq.sortBy(_._1)
      .map { case (k, v) => "\"" + k + "\":" + f"$v%.3f" }
      .mkString("{", ",", "}")
    System.err.println(s"[bench-all] $allQs")
    val allPhases = phaseMin.toSeq.sortBy(_._1)
      .map { case (k, v) => "\"" + k + "\":" + f"$v%.3f" }
      .mkString("{", ",", "}")
    val allStages = graft.sources.StagingFs.buildCosts.toSeq.sortBy(_._1)
      .map { case (k, v) => "\"" + k.replace("\"", "") + "\":" + f"$v%.2f" }
      .mkString("{", ",", "}")
    try {
      val detail = f"""{"sf":"$sfDir","queries":$allQs,"phases":$allPhases,"stage_builds":$allStages${qprev.map("," + _).getOrElse("")}}"""
      java.nio.file.Files.write(
        java.nio.file.Paths.get(sys.env.getOrElse(
          "SPARK_GRAFT_DETAIL", "/root/repo/BENCH_DETAIL.json")),
        detail.getBytes("UTF-8"))
    } catch { case e: Exception =>
      System.err.println(s"[bench-detail] write failed: $e")
    }
    // headline anchors trimmed to 5 (socket family closed-by-attribution in
    // r9; its rows stay fully visible in qds + BENCH_DETAIL) — the stdout
    // line budget went to the interval_mb/cep phase splits and qprev
    val headline = Seq(
      "q01_pricing_summary", "q09_product_type_profit", "graph_pagerank",
      "dedup_minhash_lsh", "stream_socket_counts")
    // fail fast on drift: a renamed/misspelled headline entry would
    // otherwise vanish silently from the driver contract
    require(headline.forall(results.contains),
      s"headline names missing from query map: ${headline.filterNot(results.contains)}")
    val qs = headline.flatMap(k => results.get(k).map(v => "\"" + k + "\":" + f"$v%.3f"))
      .mkString("{", ",", "}")
    // every query in deciseconds, ascii-sorted by name
    val qds = results.keys.toSeq.sorted
      .map(k => math.round(results(k) * 10L).toString)
      .mkString("[", ",", "]")
    // Near-zero phases (< 5 ms) and the `_overhead` fields are dropped
    // from STDOUT (they stay in BENCH_DETAIL.json) — the line, full qds
    // array included, must fit the 2000-char stdout tail kept of a run.
    // Integral values (batch counts) print as ints.
    def fmtSec(v: Double): String =
      if (v == math.rint(v) && v < 1e6) math.round(v).toString else f"$v%.2f"
    val phases = phaseMin.toSeq
      .filter { case (k, v) => v >= 0.005 && !k.endsWith("_overhead") }
      .sortBy(_._1)
      .map { case (k, v) => "\"" + k + "\":" + fmtSec(v) }
      .mkString("{", ",", "}")
    val total = if (results.nonEmpty) results.values.sum else 0.0
    // one-time cross-query stage builds (dedup shingle/signature/pair chain,
    // replay quarters): excluded from per-query best-of-2 timings above,
    // reported here so the total work is fully accounted for
    val stageTotal = graft.sources.StagingFs.buildCosts.values.sum
    def mkLine(qdsPart: String): String =
      f"""{"metric":"total","value":$total%.3f,"unit":"sec","n_queries":${results.size},"stage_sec":$stageTotal%.2f,${qprev.map(_ + ",").getOrElse("")}"phases":$phases,"queries":$qs$qdsPart,"sf":"$sfDir"}"""
    // stay safely inside the 2000-char stdout tail: the decisecond
    // array, else no array (1669 and 1750 chars measured at
    // sf0.01 on 4 CPUs)
    val line = Seq(
      mkLine(s""","qds_order":"name-asc","qds":$qds"""),
      mkLine("")).find(_.length < 1950).get
    require(line.length < 1950,
      s"bench JSON line ${line.length} chars — would overflow the driver's 2000-char stdout tail")
    println(line)
    spark.stop()
  }
}
