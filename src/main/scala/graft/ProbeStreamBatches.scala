package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Dev tool (r14): per-micro-batch cost breakdown for streaming query rows.
  * Runs named queries like [[Probe]] but with a StreamingQueryListener that
  * prints every progress event's durationMs split (queryPlanning, getBatch,
  * walCommit, addBatch, triggerExecution, commitOffsets) and state-operator
  * commit sums — the attribution the fixed-cost hunt needs.
  *
  * Usage: runMain graft.ProbeStreamBatches <name>[,<name>...] [sfDir] [reps]
  */
object ProbeStreamBatches {
  def main(args: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val names = args(0).split(',').toSeq
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val reps = if (args.length > 2) args(2).toInt else 1
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Probe.withProbeConf(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(
          e: StreamingQueryListener.QueryStartedEvent): Unit =
        println(s"[sq-start] ${e.name} at ${System.nanoTime() / 1000000}ms")
      override def onQueryProgress(
          e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        import scala.jdk.CollectionConverters._
        val durs = p.durationMs.asScala.toSeq.sortBy(_._1)
          .map { case (k, v) => s"$k=$v" }.mkString(" ")
        val st = p.stateOperators.map(s =>
          s"${s.operatorName}:rows=${s.numRowsTotal}:commit=${s.commitTimeMs}ms")
          .mkString(" ")
        println(s"[sq-batch] ${p.name} b=${p.batchId} rows=${p.numInputRows} " +
          s"$durs | $st")
      }
      override def onQueryTerminated(
          e: StreamingQueryListener.QueryTerminatedEvent): Unit =
        println(s"[sq-end] at ${System.nanoTime() / 1000000}ms")
    })
    spark.range(1000000).selectExpr("sum(id)").collect()
    Tables.names.foreach(n => Tables.load(spark, sfDir, n).count())
    for (name <- names; r <- 1 to reps) {
      val t0 = System.nanoTime()
      val df = SparkEntry.queries.getOrElse(name,
        sys.error(s"unknown query: $name"))(spark, sfDir)
      val n = df.count()
      println(f"[probe] $name rep$r rows=$n total=${(System.nanoTime() - t0) / 1e9}%.2fs")
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
    }
    spark.stop()
  }
}
