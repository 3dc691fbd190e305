package graft

import org.apache.spark.sql.functions._
import graft.operators.LayoutOps

/** Layout assertions for the lake-maintenance primitives — content
  * identity is the value oracle's job (`io_zorder_layout`,
  * `io_compact_roundtrip`); these specs measure the LAYOUT effect the
  * operators exist for. */
class LayoutSpec extends SparkSpecBase {

  private def parquetFiles(dir: String): Seq[java.io.File] =
    new java.io.File(dir).listFiles().toSeq
      .filter(f => f.getName.endsWith(".parquet"))

  test("zorderValue: interleave is exact on known bit patterns") {
    import spark.implicits._
    // x=0b101 (bits to odd positions -> 0b10001x pattern), y=0b11
    val rows = Seq((5L, 3L), (0L, 0L), (1L, 0L), (0L, 1L), (65535L, 65535L))
      .toDF("x", "y")
      .select(LayoutOps.zorderValue(col("x"), col("y")).as("z"))
      .collect().map(_.getLong(0)).toSeq
    def morton(x: Long, y: Long): Long =
      (0 until 16).map(i => (((x >> i) & 1L) << (2 * i + 1)) |
        (((y >> i) & 1L) << (2 * i))).sum
    assert(rows == Seq(morton(5, 3), 0L, 2L, 1L, morton(65535, 65535)))
    assert(morton(1, 0) == 2L && morton(0, 1) == 1L)
  }

  test("zorderWrite: second-dimension spans per file shrink vs a linear sort") {
    // two independent well-spread 8-bit dimensions: a single-dimension
    // sort leaves every file spanning the FULL y domain (a y filter then
    // prunes nothing), while the Morton layout gives every file a
    // bounded y window — the reason z-order exists
    val li = Tables.load(spark, sfDir, "lineitem")
      .select(col("l_orderkey"), col("l_linenumber"),
        (col("l_partkey") % 256).as("x"), (col("l_orderkey") % 256).as("y"))
    val zdir = sources.IoOps.scratch("spec_zorder")
    val ldir = sources.IoOps.scratch("spec_linear")
    // 16 files = 4 fixed Morton prefix bits = interior y windows of 64
    LayoutOps.zorderWrite(li, zdir, col("x"), col("y"), 16)
    li.repartitionByRange(16, col("x")).sortWithinPartitions(col("x"))
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(ldir)
    def avgYSpan(dir: String): Double = {
      // per-FILE y bounding span — what footer min/max stats prune a
      // y-filter on; input_file_name groups rows by physical file
      val spans = spark.read.parquet(dir)
        .groupBy(input_file_name())
        .agg((max(col("y")) - min(col("y")) + 1).as("span"))
        .agg(avg(col("span"))).collect()(0)
      spans.getDouble(0)
    }
    val (zs, ls) = (avgYSpan(zdir), avgYSpan(ldir))
    assert(zs < 0.5 * ls,
      f"z-order avg y-span $zs%.0f not tighter than linear $ls%.0f")
    // content identity
    val back = spark.read.parquet(zdir)
    assert(back.count() == li.count())
    assert(back.exceptAll(li).isEmpty && li.exceptAll(back).isEmpty)
  }

  test("applySplitToLake rewrites ONLY flagged cells' partitions; unflagged files are byte-identical and untouched") {
    val embs = Tables.load(spark, sfDir, "embeddings")
    val dir = sources.IoOps.scratch("spec_split_lake")
    LayoutOps.writeIvfBucketed(embs, cells = 8, dir)
    def partFiles(): Map[String, Seq[(String, Long, Long)]] =
      new java.io.File(dir).listFiles().toSeq
        .filter(_.getName.startsWith("cell="))
        .map(d => d.getName -> d.listFiles().toSeq
          .filter(_.getName.endsWith(".parquet"))
          .map(f => (f.getName, f.length(), f.lastModified()))
          .sortBy(_._1))
        .toMap
    val before = partFiles()
    // near-uniform fixture: 103% of mean flags the densest cells without
    // flagging everything (the spec exercises partial rewrite); a fresh
    // lake's current centroids are the seeds it was built with
    val modeKey = "spark.sql.sources.partitionOverwriteMode"
    assert(!spark.conf.getAll.contains(modeKey))
    val cents = LayoutOps.applySplitToLake(spark, dir,
      graft.operators.SimilarityOps.seedCells(embs, 8), cells = 8,
      splitIters = 1, splitThresholdPct = 103)
    val after = partFiles()
    // the dynamic overwrite is a per-write option: the session stays unset
    assert(!spark.conf.getAll.contains(modeKey),
      s"applySplitToLake left $modeKey set on the session")
    val lake = spark.read.parquet(dir)
      .select(col("nid"), col("cell").cast("long").as("cell"))
      .localCheckpoint()
    val flaggedTwins = after.keySet.diff(before.keySet) // cell=<c+8> dirs
    assert(flaggedTwins.nonEmpty, "103% must flag on the fixture")
    val flaggedIds = flaggedTwins
      .map(_.stripPrefix("cell=").toLong - 8L)
    // unflagged partitions: same file names, sizes, AND mtimes — the
    // dynamic overwrite never opened them
    val untouched = before.keySet
      .filterNot(d => flaggedIds.contains(d.stripPrefix("cell=").toLong))
    assert(untouched.nonEmpty)
    untouched.foreach(d => assert(before(d) == after(d),
      s"unflagged partition $d was rewritten"))
    // content conservation: every vector still present exactly once
    assert(lake.count() == embs.count())
    assert(lake.select(col("nid")).distinct().count() == embs.count())
    // the returned centroid table covers every live cell id exactly once
    val live = lake.select(col("cell")).distinct().collect()
      .map(_.getLong(0)).toSet
    val centIds = cents.collect().map(_.getLong(0)).toSet
    assert(centIds == live,
      s"centroid ids $centIds != live cells $live")
  }

  test("multi-generation lake split: second apply over the split lake keeps ids unique, centroids complete, unflagged partitions untouched, probe green") {
    import graft.functions.GraftFunctions.quantize
    val embs = Tables.load(spark, sfDir, "embeddings")
    val dir = sources.IoOps.scratch("spec_split_gen2")
    LayoutOps.writeIvfBucketed(embs, cells = 8, dir)
    def partFiles(): Map[String, Seq[(String, Long, Long)]] =
      new java.io.File(dir).listFiles().toSeq
        .filter(_.getName.startsWith("cell="))
        .map(d => d.getName -> d.listFiles().toSeq
          .filter(_.getName.endsWith(".parquet"))
          .map(f => (f.getName, f.length(), f.lastModified()))
          .sortBy(_._1))
        .toMap
    val cents1 = LayoutOps.applySplitToLake(spark, dir,
      graft.operators.SimilarityOps.seedCells(embs, 8), cells = 8,
      splitIters = 1, splitThresholdPct = 103).localCheckpoint()
    val gen1Cells = cents1.count().toInt
    assert(gen1Cells > 8, "gen 1 must split on the fixture")
    val files1 = partFiles()
    // gen 2 — the real maintenance cadence: the lake already carries twin
    // partitions, the declared cell count is gen 1's centroid count, and
    // the PREVIOUS centroid table rides in (twin cells have no seed, so
    // the seeds cannot stand for them)
    val offset2 = files1.keySet.map(_.stripPrefix("cell=").toLong).max + 1
    val cents2 = LayoutOps.applySplitToLake(spark, dir, cents1,
      cells = gen1Cells, splitIters = 1,
      splitThresholdPct = 103).localCheckpoint()
    val files2 = partFiles()
    val gen2Cells = cents2.count().toInt
    assert(gen2Cells > gen1Cells,
      "post-gen-1 occupancy keeps the un-split cells above 103% of the finer mean — gen 2 must flag")
    // flagged set at gen 2 = the new twin dirs' base ids
    val twins2 = files2.keySet.diff(files1.keySet)
      .map(_.stripPrefix("cell=").toLong)
    val flagged2 = twins2.map(_ - offset2)
    assert(twins2.forall(_ >= offset2), s"gen-2 twins $twins2 below offset $offset2")
    // unflagged-at-gen-2 partitions are byte-identical ACROSS the second
    // apply (names, sizes, mtimes) — including gen-1 twins not re-flagged
    val untouched2 = files1.keySet
      .filterNot(d => flagged2.contains(d.stripPrefix("cell=").toLong))
    assert(untouched2.nonEmpty)
    untouched2.foreach(d => assert(files1(d) == files2(d),
      s"partition $d not flagged at gen 2 was rewritten"))
    // content conservation + id uniqueness through BOTH generations
    val lake = spark.read.parquet(dir)
      .select(col("nid"), col("v"), col("cell").cast("long").as("cell"))
      .localCheckpoint()
    assert(lake.count() == embs.count())
    assert(lake.select(col("nid")).distinct().count() == embs.count())
    // centroid table covers every live cell exactly once
    val live = lake.select(col("cell")).distinct().collect()
      .map(_.getLong(0)).toSet
    val centIds = cents2.collect().map(_.getLong(0)).toSet
    assert(centIds == live, s"gen-2 centroid ids $centIds != live $live")
    assert(cents2.count() == centIds.size, "duplicate centroid rows")
    // centroid invariant for every gen-2 flagged cell and twin: exact
    // floor-mean of the cell's CURRENT members on the integer grid
    val affected2 = (flagged2 ++ twins2).toSeq
    val means = lake.filter(col("cell").isin(affected2: _*))
      .select(col("cell"), posexplode(quantize(col("v"))).as(Seq("dim", "x")))
      .groupBy(col("cell"), col("dim"))
      .agg(floor(sum(col("x")).cast("double") / count(lit(1)))
        .cast("long").as("c"))
      .groupBy(col("cell"))
      .agg(transform(array_sort(collect_list(struct(col("dim"), col("c")))),
        s => s.getField("c")).as("mq"))
    val centQ = cents2.select(col("vec_id").cast("long").as("cell"),
      quantize(col("embedding")).as("cq"))
    val bad = means.join(centQ, "cell").filter(col("mq") =!= col("cq"))
    assert(bad.isEmpty, s"gen-2 centroid != member floor-mean: ${bad.head(2).mkString}")
    // and cells not flagged at gen 2 kept their gen-1 centroid verbatim
    val c1 = cents1.select(col("vec_id").cast("long").as("cell"),
      quantize(col("embedding")).as("q1"))
    val kept = cents2.select(col("vec_id").cast("long").as("cell"),
        quantize(col("embedding")).as("q2"))
      .filter(!col("cell").isin(affected2: _*))
      .join(c1, "cell").filter(col("q1") =!= col("q2"))
    assert(kept.isEmpty, "unflagged gen-2 cell changed centroid")
    // the generation-2 lake still probes: every query gets k neighbors
    // from its routed (possibly twice-split) cell
    val probe = LayoutOps.ivfLakeTopK(spark, dir,
      embs.filter(col("vec_id") % 100 === 0), cents2, k = 3)
      .localCheckpoint()
    assert(probe.count() > 0)
    val perQ = probe.groupBy(col("qid")).count().collect()
    assert(perQ.forall(_.getLong(1) == 3), "every query gets exactly 3")
    assert(probe.select(col("cell")).distinct().collect()
      .forall(r => live.contains(r.getLong(0))))
  }

  test("compactFiles: bounded file count, identical content") {
    val o = Tables.load(spark, sfDir, "orders").select(col("o_orderkey"))
    val frag = sources.IoOps.scratch("spec_frag")
    val dst = sources.IoOps.scratch("spec_compact")
    o.repartition(48).write
      .mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(frag)
    assert(parquetFiles(frag).size == 48)
    LayoutOps.compactFiles(spark, frag, dst, targetFileBytes = 64L * 1024 * 1024)
    // tiny fixture → everything fits one target file
    assert(parquetFiles(dst).size == 1, s"${parquetFiles(dst).size} files")
    val back = spark.read.parquet(dst)
    assert(back.count() == o.count())
    assert(back.exceptAll(o).isEmpty && o.exceptAll(back).isEmpty)
  }
}
