package graft

import org.apache.spark.sql.functions._
import graft.operators.MergeOps

/** Ordering contracts of the CDC changelog fold — the oracle row
  * (`merge_cdc_apply`) pins the end state over the fixture; these pin the
  * per-key seq semantics on adversarial sequences the fixture derivation
  * doesn't produce. */
class MergeSpec extends SparkSpecBase {

  private def snap(rows: (Long, String)*) = {
    import spark.implicits._
    rows.toDF("k", "v")
  }

  private def changes(rows: (Long, Long, String, String)*) = {
    import spark.implicits._
    rows.toDF("k", "seq", "op", "v")
  }

  private def applied(s: org.apache.spark.sql.DataFrame,
                      c: org.apache.spark.sql.DataFrame): Map[Long, String] =
    MergeOps.applyChangelog(s, c, "k", Seq("v"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap

  test("delete then re-insert: the later insert wins") {
    val out = applied(
      snap(1L -> "a", 2L -> "b"),
      changes((1L, 1L, "D", "a"), (1L, 2L, "I", "a2")))
    assert(out == Map(1L -> "a2", 2L -> "b"))
  }

  test("update then delete: the later tombstone wins, other keys untouched") {
    val out = applied(
      snap(1L -> "a", 2L -> "b"),
      changes((1L, 1L, "U", "a2"), (1L, 2L, "D", "a2"), (2L, 1L, "U", "b2")))
    assert(out == Map(2L -> "b2"))
  }

  test("insert of a brand-new key and many updates collapse to the last") {
    val out = applied(
      snap(1L -> "a"),
      changes((9L, 1L, "I", "x1"), (9L, 2L, "U", "x2"), (9L, 3L, "U", "x3")))
    assert(out == Map(1L -> "a", 9L -> "x3"))
  }

  test("upsert: a matched source row carrying NULL nulls the column (source wins whole-row)") {
    import spark.implicits._
    val target = Seq((1L, Option("old"), Option("x")),
      (2L, Option("keep"), Option("y"))).toDF("k", "a", "b")
    val source = Seq((1L, Option.empty[String], Option("z"))).toDF("k", "a", "b")
    val out = MergeOps.upsert(target, source, "k", Seq("a", "b"))
      .collect().map(r => (r.getLong(0), Option(r.getString(1)),
        Option(r.getString(2)))).toSet
    // k=1 takes the source row AS A WHOLE: a → NULL (not resurrected
    // 'old'), b → z; k=2 untouched
    assert(out == Set((1L, None, Some("z")), (2L, Some("keep"), Some("y"))))
  }

  test("changelog seqs may be negative: any change beats the snapshot") {
    val out = applied(
      snap(1L -> "a"),
      changes((1L, -5L, "U", "neg")))
    assert(out == Map(1L -> "neg"))
  }

  test("non-numeric seq fails loudly, not as an undefined NULL ordering") {
    import spark.implicits._
    // string-typed seq: under ANSI (the Spark 4 default) the long cast
    // itself throws; under legacy non-ANSI it yields NULL, which the
    // guard's cast-value check turns into the malformed-row error. Either
    // way the row must error, never order on NULL.
    val c = Seq((1L, "abc", "U", "bad")).toDF("k", "seq", "op", "v")
    val ex = intercept[Exception] {
      MergeOps.applyChangelog(snap(1L -> "a"), c, "k", Seq("v")).collect()
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(ex).exists(m => m.contains("malformed change row") ||
      m.contains("CAST_INVALID_INPUT")), msgs(ex))
  }

  test("randomized changelogs match a sequential per-key fold (seeded)") {
    val rnd = new scala.util.Random(0xC0FFEE)
    (1 to 3).foreach { round =>
      val keys = (1L to 40L)
      val snapRows = keys.filter(_ => rnd.nextBoolean())
        .map(k => k -> s"s$k")
      // up to 6 ops per key, seq strictly increasing per key
      val changeRows = keys.flatMap { k =>
        (1L to rnd.nextInt(7).toLong).map { seq =>
          val op = rnd.nextInt(3) match {
            case 0 => "I"; case 1 => "U"; case 2 => "D"
          }
          (k, seq, op, s"v$k-$seq")
        }
      }
      // sequential reference: start from the snapshot, replay ops per key
      // in seq order; D removes, I/U set
      val expected = changeRows.groupBy(_._1).foldLeft(snapRows.toMap) {
        case (acc, (k, ops)) =>
          ops.sortBy(_._2).foldLeft(acc) {
            case (m, (_, _, "D", _)) => m - k
            case (m, (_, _, _, v))   => m + (k -> v)
          }
      }
      val out = applied(snap(snapRows: _*), changes(changeRows: _*))
      assert(out == expected, s"round $round diverged from sequential fold")
    }
  }

  test("plan: scd2's one logical join specializes per branch and reuses its shuffles") {
    import spark.implicits._
    // Catalyst rewrites the single full-outer + branch filters into the
    // CHEAPER specialized join per branch (LeftOuter for keep, Inner for
    // closed, RightOuter for opened); under sort-merge the identical
    // child exchanges are reused, so each side shuffles once. Locked
    // with broadcast off — the shape that matters at 100 TB.
    withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val target = Seq(
        (1L, "a", "2023-01-01", Option.empty[String]),
        (1L, "a0", "2022-01-01", Option("2023-01-01"))).toDF("k", "v", "f", "t")
        .select(col("k"), col("v"), col("f").cast("date").as("valid_from"),
          col("t").cast("date").as("valid_to"))
      val source = Seq((1L, "a2")).toDF("k", "v")
      val df = MergeOps.scd2Merge(target, source, "k", Seq("v"),
        to_date(lit("2024-01-01")))
      df.collect() // materialize so AQE finalizes reuse
      // AQE's toString prints final AND initial plans — assert on final
      val plan = df.queryExecution.executedPlan.toString
        .split("== Initial Plan ==")(0)
      assert("SortMergeJoin".r.findAllIn(plan).size == 3, plan.take(2000))
      assert(plan.contains("ReusedExchange"),
        s"branch joins must reuse the shared child exchanges:\n${plan.take(2500)}")
    }
  }

  test("plan: one shuffle resolves the fold (keyed aggregate, no join)") {
    val s = snap(1L -> "a", 2L -> "b")
    val c = changes((1L, 1L, "U", "a2"))
    val plan = MergeOps.applyChangelog(s, c, "k", Seq("v"))
      .queryExecution.executedPlan.toString
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(exchanges == 1, s"expected exactly one keyed exchange, got:\n$plan")
    assert(!plan.contains("Join"), "the changelog fold must not plan a join")
  }
}
