package graft

import org.apache.spark.sql.functions._
import graft.functions.GraftFunctions.pqArgmin

/** Differential spec for the native [[graft.functions.PqArgmin]] kernel
  * (r14): on random double vectors/codebooks — including duplicated
  * codewords that force exact d2 ties — the kernel's array<struct<d2,cid>>
  * must be BIT-identical (doubleToRawLongBits on d2) to the interpreted
  * transform/filter/array_min/aggregate form it replaced in
  * SimilarityOps.pqMins. The 6-dp oracle rounds d2×1e6 downstream, so ties
  * at the rounding boundary are only safe if the raw doubles agree. */
class PqArgminSpec extends SparkSpecBase {

  test("graft_pqmin ≡ interpreted array_min/aggregate argmin, bit-exact") {
    graft.functions.GraftExtensions.install(spark)
    import spark.implicits._
    val rnd = new scala.util.Random(20260818L)
    for (trial <- 1 to 3) {
      val sub = 1 + rnd.nextInt(4)
      val dims = 1 + rnd.nextInt(6)
      val k = 2 + rnd.nextInt(7)
      val nRows = 40 + rnd.nextInt(60)
      def vec(n: Int) = Seq.fill(n)(rnd.nextDouble() * 4 - 2)
      // duplicate ~1/3 of codewords to force exact-tie paths
      val base = Seq.fill(sub * k)(vec(dims)).toArray
      for (j <- base.indices if rnd.nextInt(3) == 0 && j > 0)
        base(j) = base(rnd.nextInt(j))
      val cb = base.toSeq // row s*k+cid
      val rows = (0 until nRows).map(i => (i.toLong, vec(sub * dims)))
      val df = rows.toDF("vec_id", "v")
      val cbStructs = (0 until sub).flatMap(s => (0 until k).map(c =>
        (c, s, cb(s * k + c))))
      val cbRowLegacy = cbStructs.toDF("cid", "s", "cv")
        .select(struct(col("cid"), col("s"), col("cv")).as("c"))
        .agg(collect_list(col("c")).as("cbs"))
      val legacy = df.crossJoin(broadcast(cbRowLegacy))
        .select(col("vec_id"), expr(
          s"""transform(sequence(0, ${sub - 1}), s ->
             |  array_min(transform(filter(cbs, c -> c.s = s), c ->
             |    struct(
             |      aggregate(zip_with(slice(v, s * $dims + 1, $dims), c.cv,
             |          (x, y) -> (x - y) * (x - y)),
             |        CAST(0 AS DOUBLE), (acc, x) -> acc + x) AS d2,
             |      c.cid AS cid))))""".stripMargin).as("mins"))
      val cbRowNative = cbStructs.toDF("cid", "s", "cv")
        .select(struct(col("s"), col("cid"), col("cv")).as("c"))
        .agg(sort_array(collect_list(col("c"))).as("cs"))
        .select(expr("transform(cs, c -> c.cv)").as("cbm"))
      val native = df.crossJoin(broadcast(cbRowNative))
        .select(col("vec_id"), pqArgmin(col("v"), col("cbm")).as("mins"))
      def snap(d: org.apache.spark.sql.DataFrame) = d
        .select(col("vec_id"), expr(
          "transform(mins, m -> struct(m.cid AS cid, m.d2 AS d2))").as("m"))
        .collect().map { r =>
          val mins = r.getSeq[org.apache.spark.sql.Row](1)
          r.getLong(0) -> mins.map(m => (m.getInt(0),
            java.lang.Double.doubleToRawLongBits(m.getDouble(1))))
        }.toMap
      val (l, n) = (snap(legacy), snap(native))
      assert(l == n, s"trial $trial (sub=$sub dims=$dims k=$k): " +
        s"native mins diverge from the interpreted form")
    }
  }

  test("graft_pqmin on a length-0 vector is NULL, not a crash") {
    graft.functions.GraftExtensions.install(spark)
    import spark.implicits._
    val df = Seq((Seq.empty[Double], Seq(Seq(1.0, 2.0), Seq(3.0, 4.0))))
      .toDF("v", "cbm")
    val out = df.select(pqArgmin(col("v"), col("cbm")).as("m")).collect()
    assert(out.length == 1 && out.head.isNullAt(0))
    assert(spark.sql("SELECT graft_pqmin(CAST(array() AS array<double>), " +
      "array(array(1.0D, 2.0D))) AS m").collect().head.isNullAt(0))
  }
}
