package graft

import java.sql.Timestamp

import scala.util.Random

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._
import graft.streaming.StatefulOps
import graft.streaming.StatefulOps.{CountEvictor, CountFireTrigger, CountSumCents, Frame, Order, Peer}
import graft.streaming.EventStream.EventRow

/** Seeded differential properties for the per-key stream cores: the same
  * events, replayed in time order as 1–4 MemoryStream micro-batches (some
  * of them empty), must give exactly the batch answer — Spark's own window
  * functions for every event-time OVER frame, a row_number formulation for
  * tumbling and sliding count windows. Events carry timestamp ties and
  * single-row keys. Batch cuts fall between distinct timestamps: a RANGE
  * peer group split across two batches gets two aggregates, where the
  * reference emits a timestamp's rows together once the watermark passes
  * it.
  */
class StatefulOpsFuzzSpec extends SparkSpecBase {

  /** Up to 40 events in (ts, event_id) order: keys 1–4 collect many rows,
    * keys ≥ 100 one each; minute timestamps over half an hour tie often. */
  private def randomEvents(rnd: Random): Vector[EventRow] =
    Vector.tabulate(rnd.nextInt(40)) { i =>
      val user = if (rnd.nextInt(5) == 0) 100L + i else 1L + rnd.nextInt(4)
      val ts = new Timestamp(3600000L + rnd.nextInt(30) * 60000L)
      EventRow(i.toLong, ts, user, "click", (rnd.nextInt(2001) - 1000) / 100.0, "{}")
    }.sortBy(e => (e.ts.getTime, e.event_id))

  /** 1–4 contiguous slices, cut only between distinct timestamps; a third
    * of the cuts fall at either end, and those and equal cuts give empty
    * batches. */
  private def timeOrderedBatches(rnd: Random,
                                 evs: Vector[EventRow]): Seq[Vector[EventRow]] = {
    val cuts = (0 to evs.length).filter(p =>
      p == 0 || p == evs.length || evs(p - 1).ts != evs(p).ts)
    def cut() =
      if (rnd.nextInt(3) == 0) Seq(0, evs.length)(rnd.nextInt(2))
      else cuts(rnd.nextInt(cuts.length))
    val bounds = Vector.fill(rnd.nextInt(4))(cut()).sorted
    (0 +: bounds).zip(bounds :+ evs.length).map { case (a, b) => evs.slice(a, b) }
  }

  private def rowsOf(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.map(_.asInstanceOf[Number].longValue).mkString(","))
      .sorted.toSeq

  test("event-time OVER frames and count windows equal their batch form over random time-ordered batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // what the seeds exercise: same-key timestamp ties, single-row keys
    // and empty micro-batches
    var (ties, singleRowKeys, emptyBatches) = (0, 0, 0)
    for (seed <- 1 to 5) {
      val rnd = new Random(seed)
      val evs = randomEvents(rnd)
      val batches = timeOrderedBatches(rnd, evs)
      ties += evs.groupBy(e => (e.user_id, e.ts)).count(_._2.length > 1)
      singleRowKeys += evs.groupBy(_.user_id).count(_._2.length == 1)
      emptyBatches += batches.count(_.isEmpty)
      val rowsN = 1L + rnd.nextInt(4)
      val rangeMs = Seq(0L, 1L, 2L, 5L)(rnd.nextInt(4)) * 60000L
      val size = 1 + rnd.nextInt(3)
      val (slideSize, slide) = (1 + rnd.nextInt(4), 1 + rnd.nextInt(3))

      val static = evs.toDS()
        .withColumn("cents", expr("CAST(round(value * 100) AS BIGINT)"))
        .withColumn("tms", expr("unix_millis(ts)"))
      val byRow = Window.partitionBy("user_id").orderBy("ts", "event_id")
      val byTs = Window.partitionBy("user_id").orderBy("tms")
      val seq = static.withColumn("rn", row_number().over(byRow))
      val fires = seq.filter(col("rn") % slide === 0)
        .select(col("user_id").as("fire_user"), col("rn").as("p"))

      val input = MemoryStream[EventRow]
      val in = input.toDS()
      def overCase(frame: Frame, w: WindowSpec) = (s"over $frame",
        StatefulOps.over(in, Order.EventTime, frame, CountSumCents)
          .select(col("event_id"), col("user_id"), col("row_no"),
            col("agg._1"), col("agg._2")),
        static.select(col("event_id"), col("user_id"),
          row_number().over(byRow), count(lit(1)).over(w), sum("cents").over(w)))
      val cases = Seq(
        overCase(Frame(Peer.Row, None),
          byRow.rowsBetween(Window.unboundedPreceding, Window.currentRow)),
        overCase(Frame(Peer.Row, Some(rowsN)),
          byRow.rowsBetween(1 - rowsN, Window.currentRow)),
        overCase(Frame(Peer.Timestamp, None),
          byTs.rangeBetween(Window.unboundedPreceding, Window.currentRow)),
        overCase(Frame(Peer.Timestamp, Some(rangeMs)),
          byTs.rangeBetween(-rangeMs, Window.currentRow)),
        (s"countWindow($size)",
          StatefulOps.triggeredGlobalWindows(in, CountFireTrigger(size)).toDF(),
          seq.groupBy(col("user_id"), expr(s"(rn - 1) div $size").as("win_idx"))
            .agg(count(lit(1)).as("n"), sum("cents"))
            .filter(col("n") === size)),
        (s"countWindow($slideSize, $slide)",
          StatefulOps.triggeredGlobalWindows(in,
            CountFireTrigger(slide, purge = false), Some(CountEvictor(slideSize))).toDF(),
          fires.join(seq, col("fire_user") === col("user_id") &&
              col("rn") > col("p") - slideSize && col("rn") <= col("p"))
            .groupBy(col("user_id"), expr(s"p div $slide - 1"))
            .agg(count(lit(1)), sum("cents"))))

      val queries = cases.indices.map(i => cases(i)._2.writeStream
        .format("memory").queryName(s"fuzz_${seed}_$i").outputMode("append").start())
      try batches.foreach { b =>
        input.addData(b)
        queries.foreach(_.processAllAvailable())
      } finally queries.foreach(_.stop())
      cases.zipWithIndex.foreach { case ((label, _, expected), i) =>
        assert(rowsOf(spark.table(s"fuzz_${seed}_$i")) == rowsOf(expected),
          s"seed $seed $label, batches ${batches.map(_.map(_.event_id))}")
      }
    }
    assert(ties > 0 && singleRowKeys > 0 && emptyBatches > 0,
      s"ties $ties, single-row keys $singleRowKeys, empty batches $emptyBatches")
  }
}
