package graft

import org.apache.spark.sql.SparkSession

/** Dev tool: time registered queries and print physical plans.
  * Usage: runMain graft.Probe <name>[,<name>...] [sfDir] [explain|noexplain] [reps]
  *
  * With `reps` > 1 each query re-runs on the warm session — separates
  * first-run (codegen/JIT) cost from steady state, the number the bench
  * environment approaches.
  *
  * `build=` is construction time. It includes the eager collects some
  * operators run while building their plan (e.g. `knnDistOutlierScores`
  * collects its seeds and per-cell stats), so that work is not in `count=`.
  */
object Probe {
  /** Pairs of `GRAFT_PROBE_CONF="k=v;k=v"`: empty segments are skipped and
    * a segment without `=` fails by name. */
  def confPairs(spec: String): Seq[(String, String)] =
    spec.split(';').toSeq.filter(_.nonEmpty).map(kv => kv.split("=", 2) match {
      case Array(k, v) => k -> v
      case _ => sys.error(s"bad conf pair: $kv")
    })

  /** Applies the ad-hoc conf experiments (dev-only) in GRAFT_PROBE_CONF. */
  def withProbeConf(b: SparkSession.Builder): SparkSession.Builder =
    sys.env.get("GRAFT_PROBE_CONF").toSeq.flatMap(confPairs)
      .foldLeft(b) { case (acc, (k, v)) => acc.config(k, v) }

  def main(args: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val names = args(0).split(',').toSeq
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val doExplain = args.length <= 2 || args(2) == "explain"
    val reps = if (args.length > 3) args(3).toInt else 1
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "16")
    val spark = withProbeConf(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // warm-up like Bench: JVM/codegen/FS-cache costs land here (tolerant
    // of partial fixture dirs — the GenScale sf1 ladder ships only the
    // documents/embeddings families)
    spark.range(1000000).selectExpr("sum(id)").collect()
    Tables.names.foreach(n =>
      try Tables.load(spark, sfDir, n).count()
      catch { case _: Exception => })
    for (name <- names; r <- 1 to reps) {
      // time the construction separately: streaming queries run to
      // completion inside the query function (runToTable awaits
      // termination), so their cost lands in build, not count
      val tb = System.nanoTime()
      val df = SparkEntry.queries.getOrElse(name,
        sys.error(s"unknown query: $name"))(spark, sfDir)
      val buildS = (System.nanoTime() - tb) / 1e9
      if (doExplain && r == 1) df.explain("formatted")
      val t0 = System.nanoTime()
      val n = df.count()
      println(f"[probe] $name rep$r rows=$n build=$buildS%.2fs count=${(System.nanoTime() - t0) / 1e9}%.2fs")
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
    }
    val ph = graft.sources.PhaseStats.snapshot
    if (ph.nonEmpty) println("[probe-phases] " + ph.toSeq.sorted
      .map { case (k, v) => f"$k=$v%.2f" }.mkString(" "))
    spark.stop()
  }
}
