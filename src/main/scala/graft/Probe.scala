package graft

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageSubmitted}
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
  *
  * `[probe-parts] <name> rep<r> build=… count=… jobs=<build>/<count>`
  * lists, per phase, the distinct task counts of the stages that read a
  * shuffle (stages with a parent stage): the effective reducer count of
  * every exchange the phase ran, after AQE coalescing and any cap (a batch
  * loop's `withShufflePartitions` clone, a stream's `statePartitions`);
  * `jobs=` is the number of Spark jobs each phase started.
  *
  * For a row that runs streaming queries, its [[StreamProgress]] records
  * print as one `[probe-stream] <name> rep<r> q=<query> b=<batchId>
  * rows=… <durationMs split> | <state ops>` line per micro-batch, then one
  * summary line: batches, Σ addBatch, Σ (triggerExecution − addBatch) as
  * `overhead`, Σ state commit, state-store instances, late rows dropped and
  * `forks`, the child processes the JVM started during the row
  * ([[ProcessStarts]]).
  */
object Probe {
  private val PhaseKey = "graft.probe.phase"

  /** Task counts of shuffle-reading stages and job counts, keyed by the
    * [[PhaseKey]] local property of the submitting thread (threads a phase
    * starts, e.g. a stream's, inherit it). */
  private class PartsListener extends SparkListener {
    val parts = new ConcurrentHashMap[String, java.util.Set[Int]]()
    val jobs = new ConcurrentHashMap[String, AtomicInteger]()
    private def phase(props: java.util.Properties) =
      Option(props).flatMap(p => Option(p.getProperty(PhaseKey)))
    override def onJobStart(e: SparkListenerJobStart): Unit =
      phase(e.properties).foreach(ph =>
        jobs.computeIfAbsent(ph, _ => new AtomicInteger()).incrementAndGet())
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      phase(e.properties).filter(_ => e.stageInfo.parentIds.nonEmpty).foreach(ph =>
        parts.computeIfAbsent(ph, _ => ConcurrentHashMap.newKeySet[Int]())
          .add(e.stageInfo.numTasks))
    /** "4,8" for the phase's distinct task counts, "-" when it read none. */
    def counts(ph: String): String = {
      import scala.jdk.CollectionConverters._
      Option(parts.get(ph)).map(_.asScala.toSeq.sorted.mkString(","))
        .filter(_.nonEmpty).getOrElse("-")
    }
    def jobCount(ph: String): Int = Option(jobs.get(ph)).fold(0)(_.get)
  }

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
    val sc = spark.sparkContext
    val listener = new PartsListener
    sc.addSparkListener(listener)
    val streams = StreamProgress.attach(spark)
    val forks = new ProcessStarts()
    def inPhase[T](ph: String)(body: => T): T = {
      sc.setLocalProperty(PhaseKey, ph)
      try body finally sc.setLocalProperty(PhaseKey, null)
    }
    for (name <- names; r <- 1 to reps) {
      val ph = s"$name#$r#"
      val mark = streams.mark()
      val forkMark = forks.mark()
      // time the construction separately: streaming queries run to
      // completion inside the query function (runToTable awaits
      // termination), so their cost lands in build, not count
      val tb = System.nanoTime()
      val df = inPhase(ph + "build")(SparkEntry.queries.getOrElse(name,
        sys.error(s"unknown query: $name"))(spark, sfDir))
      val buildS = (System.nanoTime() - tb) / 1e9
      if (doExplain && r == 1) df.explain("formatted")
      val t0 = System.nanoTime()
      val n = inPhase(ph + "count")(df.count())
      println(f"[probe] $name rep$r rows=$n build=$buildS%.2fs count=${(System.nanoTime() - t0) / 1e9}%.2fs")
      // listener events arrive in order: once a marker job's start is seen,
      // every stage of the two phases has been recorded
      inPhase(ph + "flush")(sc.parallelize(Seq(1), 1).count())
      val deadline = System.nanoTime() + 60e9.toLong
      while (!listener.jobs.containsKey(ph + "flush") && System.nanoTime() < deadline)
        Thread.sleep(10)
      println(s"[probe-parts] $name rep$r build=${listener.counts(ph + "build")} " +
        s"count=${listener.counts(ph + "count")} " +
        s"jobs=${listener.jobCount(ph + "build")}/${listener.jobCount(ph + "count")}")
      val runs = streams.since(mark)
      import scala.jdk.CollectionConverters._
      for (run <- runs; p <- run.progress) {
        val durs = p.durationMs.asScala.toSeq.sortBy(_._1)
          .map { case (k, v) => s"$k=$v" }.mkString(" ")
        val ops = p.stateOperators.map(o => s"${o.operatorName}:" +
          s"rows=${o.numRowsTotal}:commit=${o.commitTimeMs}ms:" +
          s"mem=${o.memoryUsedBytes}:parts=${o.numShufflePartitions}:" +
          s"late=${o.numRowsDroppedByWatermark}").mkString(" ")
        val q = Option(run.name).getOrElse(run.runId.toString)
        println(s"[probe-stream] $name rep$r q=$q b=${p.batchId} " +
          s"rows=${p.numInputRows} $durs | $ops")
      }
      if (runs.nonEmpty) {
        val t = StreamProgress.totals(runs)
        println(f"[probe-stream] $name rep$r queries=${runs.size} " +
          f"batches=${t.batches} addbatch=${t.addBatchMs / 1e3}%.2fs " +
          f"overhead=${t.overheadMs / 1e3}%.2fs " +
          f"statecommit=${t.stateCommitMs / 1e3}%.2fs " +
          f"instances=${t.stateInstances} late=${t.lateDropped} " +
          f"forks=${forks.since(forkMark).size}")
      }
      sc.getPersistentRDDs.values.foreach(_.unpersist(false))
    }
    forks.close()
    spark.stop()
  }
}
