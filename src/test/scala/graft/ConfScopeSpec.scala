package graft

import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

import org.apache.spark.ListenerBuses
import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryListenerBus
import graft.operators.PartitionOps

/** Per-query conf scopes on one shared session: batch caps run on a clone
  * of the session and never write it; streams set their confs on the
  * calling session inside `EventStream.start`'s single lock-guarded scope,
  * and report to that session's listeners. */
class ConfScopeSpec extends SparkSpecBase {

  private val scopedKeys = Seq("spark.sql.shuffle.partitions",
    "spark.sql.streaming.checkpointFileManagerClass",
    "spark.sql.streaming.noDataMicroBatches.enabled",
    "spark.sql.streaming.sessionWindow.merge.sessions.in.local.partition")
  private def scopedConfs = scopedKeys.map(k => k -> spark.conf.getOption(k))

  private def sortedRows(name: String): Seq[String] =
    SparkEntry.queries(name)(spark, sfDir).collect().map(_.toString).toSeq.sorted

  test("rows built on 4 threads against one session give their serial results and leave its confs unchanged") {
    val rows = Seq("graph_cc_bipartite", "sim_bm25_prf", "sim_mmr_rerank",
      "dedup_clusters", "sim_knn_clusters", "sim_pq_adc_trained",
      "stream_session", "stream_interval_join", "stream_allowed_lateness")
    val before = scopedConfs
    val pool = Executors.newFixedThreadPool(4)
    val concurrent = try {
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
      Await.result(Future.traverse(rows)(r => Future(r -> sortedRows(r))), 10.minutes)
    } finally pool.shutdown()
    concurrent.foreach { case (r, got) =>
      assert(got.nonEmpty, r)
      assert(got == sortedRows(r), r)
    }
    assert(scopedConfs == before)
  }

  test("two batch caps interleaved on two threads each see their own cap and leave the session's count") {
    // A caps at 3; B caps at 2 inside A's scope; A's scope ends first. A
    // set/restore on the shared session would leave it at A's 3, and B's
    // body would read A's restored 4
    val key = "spark.sql.shuffle.partitions"
    val before = spark.conf.get(key)
    assert(before == "4")
    val (aIn, bIn, aOut) =
      (new CountDownLatch(1), new CountDownLatch(1), new CountDownLatch(1))
    def scope(n: Int, entered: CountDownLatch, exitAfter: CountDownLatch): String = {
      var seen = ""
      PartitionOps.withShufflePartitions(spark, n) { c =>
        entered.countDown()
        assert(exitAfter.await(60, TimeUnit.SECONDS))
        seen = c.conf.get(key)
        c.range(1).toDF()
      }
      seen
    }
    val pool = Executors.newFixedThreadPool(2)
    val (a, b) = try {
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
      val a = Future { try scope(3, aIn, bIn) finally aOut.countDown() }
      val b = Future {
        assert(aIn.await(60, TimeUnit.SECONDS))
        scope(2, bIn, aOut)
      }
      (Await.result(a, 2.minutes), Await.result(b, 2.minutes))
    } finally pool.shutdown()
    assert(a == "3")
    assert(b == "2")
    assert(spark.conf.get(key) == before)
  }

  test("caps share one clone per session conf state, and a session conf change reaches the next cap") {
    val key = "spark.sql.adaptive.coalescePartitions.enabled"
    def cappedSession(n: Int): org.apache.spark.sql.SparkSession = {
      var clone: org.apache.spark.sql.SparkSession = null
      PartitionOps.withShufflePartitions(spark, n) { c => clone = c; c.range(1).toDF() }
      clone
    }
    val two = cappedSession(2)
    assert(cappedSession(2) eq two)
    assert(!(cappedSession(3) eq two))
    val changed = withConf(key -> "false")(cappedSession(2))
    assert(!(changed eq two))
    assert(changed.conf.get(key) == "false")
    assert(changed.conf.get("spark.sql.shuffle.partitions") == "2")
  }

  test("streams report to the calling session's listeners and add at most one listener bus per run") {
    // Spark's per-query session clone registers a StreamingQueryListenerBus
    // on every stateful run, and `EventStream.start` removes it once the
    // run is over, so the runs leave the bus count as it was. A stream
    // started from a child session would add the child's bus on top, and
    // report its progress to the child's StreamingQueryManager only
    val streams = StreamProgress.attach(spark)
    try {
      def buses = ListenerBuses.count[StreamingQueryListenerBus](spark.sparkContext)
      val before = buses
      (1 to 3).foreach { i =>
        val mark = streams.mark()
        assert(SparkEntry.queries("stream_allowed_lateness")(spark, sfDir).count() > 0)
        val runs = streams.since(mark)
        // four replay files, then the batch the advanced watermark runs
        assert(runs.size == 1 && runs.head.terminated, s"run $i: ${runs.map(_.name)}")
        assert(runs.head.progress.size == 5, s"run $i: ${runs.head.progress.map(_.batchId)}")
      }
      assert(buses == before, s"listener buses: $before -> $buses")
    } finally streams.detach()
  }
}
