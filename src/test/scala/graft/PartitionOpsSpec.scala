package graft

import org.apache.spark.sql.SessionClones
import org.apache.spark.sql.functions._
import graft.operators.PartitionOps

/** Layout assertions for the explicit partitioning directives (content is
  * unaffected, so the value oracle cannot see these — inspect the RDD
  * layout directly). */
class PartitionOpsSpec extends SparkSpecBase {

  private lazy val orders = Tables.load(spark, sfDir, "orders")

  test("byHash: co-locates equal keys and honors partition count") {
    val parted = PartitionOps.byHash(orders, 8, col("o_custkey"))
    assert(parted.rdd.getNumPartitions == 8)
    // every key lives in exactly one partition
    val spread = parted.withColumn("pid", spark_partition_id())
      .groupBy(col("o_custkey"))
      .agg(countDistinct(col("pid")).as("nparts"))
      .agg(max(col("nparts"))).collect().head.getLong(0)
    assert(spread == 1)
  }

  test("byRange: partitions hold disjoint key ranges") {
    val parted = PartitionOps.byRange(orders, 4, col("o_totalprice"))
    val ranges = parted.withColumn("pid", spark_partition_id())
      .groupBy(col("pid"))
      .agg(min(col("o_totalprice")).as("lo"), max(col("o_totalprice")).as("hi"))
      .orderBy(col("lo")).collect()
    assert(ranges.length == 4)
    ranges.sliding(2).foreach { case Array(a, b) =>
      assert(a.getAs[Double]("hi") <= b.getAs[Double]("lo"))
    }
  }

  test("AQE skew join: a hot key splits across tasks without manual salting") {
    // the ADAPTIVE counterpart of saltedJoin (DESIGN.md "salting for
    // skew"): with thresholds scaled to the fixture, AQE must detect the
    // hot partition and split it — the path a 100 TB run takes before
    // anyone reaches for the manual salt
    import spark.implicits._
    val confs = Seq(
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "1.2",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "20KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "16KB",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    withConf(confs: _*) {
      val skewed = ((1 to 60000).map(i => (7L, i.toLong)) ++
        (1 to 3000).map(i => (i.toLong % 64, i.toLong))).toDF("k", "payload")
      val dim = (0L to 64L).map(k => (k, s"dim$k")).toDF("k", "name")
      val joined = skewed.join(dim, "k")
      // collect() THIS dataframe: count() would execute a derived plan
      // and leave joined's own adaptive plan unfinalized
      assert(joined.collect().length == 63000)
      val plan = joined.queryExecution.executedPlan.toString
        .split("== Initial Plan ==")(0)
      assert(plan.contains("skew=true"),
        s"AQE did not split the hot partition:\n${plan.take(2500)}")
    }
  }

  test("customPartitionSorted: negative keys route in-range and positions stay sorted") {
    import spark.implicits._
    val rnd = new scala.util.Random(0xBADF00D)
    val keys = Seq.fill(500)(rnd.nextLong() % 10000) // mixed sign, dups possible
    val df = keys.distinct.toDF("k")
    val out = PartitionOps.customPartitionSorted(df, "k", 8)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
    assert(out.length == keys.distinct.length)
    // floorMod routing: every key in its partition, ids all in [0, 8)
    assert(out.forall { case (pid, _, k) =>
      pid == java.lang.Math.floorMod(k, 8L).toInt })
    // within each partition, pos 1..n follows ascending key order
    out.groupBy(_._1).values.foreach { rows =>
      val byPos = rows.sortBy(_._2)
      assert(byPos.map(_._2).toSeq == (1L to rows.length).toSeq)
      assert(byPos.map(_._3).toSeq == byPos.map(_._3).sorted.toSeq)
    }
  }

  test("rebalance: even round-robin distribution") {
    val parted = PartitionOps.rebalance(orders, 6)
    val sizes = parted.withColumn("pid", spark_partition_id())
      .groupBy(col("pid")).count().collect().map(_.getLong(1))
    assert(sizes.length == 6)
    assert(sizes.max - sizes.min <= 1)
  }

  test("rebalance from one upstream partition: exact floor/ceil histogram") {
    // the partition_rebalance oracle's invariant: n rows round-robined from
    // a single upstream partition land as ⌈n/p⌉ × (n mod p) + ⌊n/p⌋ × rest,
    // whatever start offset the engine picks — and content is preserved
    val n = orders.count()
    val one = orders.select(col("o_orderkey")).repartition(1).localCheckpoint()
    assert(one.rdd.getNumPartitions == 1,
      "checkpoint must pin the single-upstream shape (CollapseRepartition)")
    val parted = PartitionOps.rebalance(one, 32)
    val sizes = parted.withColumn("pid", spark_partition_id())
      .groupBy(col("pid")).count().collect().map(_.getLong(1)).toVector
    val r = (n % 32).toInt
    val expect = Vector.fill(r)(n / 32 + 1) ++
      Vector.fill(if (n / 32 > 0) 32 - r else 0)(n / 32)
    assert(sizes.sorted == expect.sorted.filter(_ > 0))
    assert(parted.agg(org.apache.spark.sql.functions.sum(col("o_orderkey")))
      .collect()(0).getLong(0) ==
      orders.agg(org.apache.spark.sql.functions.sum(col("o_orderkey")))
        .collect()(0).getLong(0))
  }

  test("salted aggregate equals direct groupBy") {
    import org.apache.spark.sql.functions._
    val direct = orders.groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("n")).withColumnRenamed("o_custkey", "__key")
    val salted = PartitionOps.saltedAggregate(orders, col("o_custkey"), 6,
      Seq((count(lit(1)), "sum")))
      .select(col("__key"), col("agg0").as("n"))
    assert(salted.exceptAll(direct).isEmpty && direct.exceptAll(salted).isEmpty)
  }

  test("bucketed tables join without an exchange on the bucket key") {
    import org.apache.spark.sql.functions._
    orders.write.mode("overwrite").bucketBy(4, "o_custkey")
      .sortBy("o_custkey").saveAsTable("b_orders")
    Tables.load(spark, sfDir, "customer")
      .write.mode("overwrite").bucketBy(4, "c_custkey")
      .saveAsTable("b_customer")
    val joined = spark.table("b_orders").join(spark.table("b_customer"),
      col("o_custkey") === col("c_custkey"))
    val plan = joined.queryExecution.executedPlan.toString
    // co-located bucketed join: no shuffle exchange in the physical plan
    assert(!plan.contains("Exchange hashpartitioning"),
      s"bucketed join must not shuffle:\n$plan")
    assert(joined.count() > 0)
  }

  test("saltedJoin: hot key spreads across reducers, result equals plain join") {
    import spark.implicits._
    // one pathologically hot key (900 of 1000 rows) + a long-tail side
    val skewed = ((1 to 900).map(i => (7L, i.toLong)) ++
      (1 to 100).map(i => (i.toLong % 5, i.toLong))).toDF("k", "payload")
    val build = (0L to 10L).map(k => (k, s"dim$k")).toDF("k", "name")
    val salted = PartitionOps.saltedJoin(skewed, build, "k", saltBuckets = 8)
    val plain = skewed.join(build, "k")
    assert(salted.count() == plain.count())
    assert(salted.select("k", "payload", "name").except(
      plain.select("k", "payload", "name")).isEmpty)
    // the hot key's rows must occupy >1 (key, salt) group pre-merge —
    // including the worst case of bitwise-IDENTICAL rows, which a
    // row-value hash would all send to one salt. Measured through the
    // join's OWN salting (PartitionOps.saltProbe), on a single-partition
    // probe so the per-partition-offset id covers residues
    // deterministically — a recomputed salt on the spec's own layout
    // could cover fewer residues purely from test parallelism
    val saltSpread = PartitionOps
      .saltProbe(skewed.filter(col("k") === 7).repartition(1), 8)
      .select("__salt").distinct().count()
    // near-full fan-out, not merely >1: with a round-robin salt every
    // partition holding ≥8 hot rows covers all residues — a weaker spread
    // would mean the hot reducer is still a straggler at scale
    assert(saltSpread >= 7, s"hot key spread only $saltSpread/8 salt buckets")
    val dupRows = Seq.fill(200)((7L, 1L)).toDF("k", "payload")
    val dupJoined = PartitionOps.saltedJoin(dupRows, build, "k", saltBuckets = 8)
    assert(dupJoined.count() == 200L)
    val dupSpread = PartitionOps.saltProbe(dupRows.repartition(1), 8)
      .select("__salt").distinct().count()
    assert(dupSpread >= 7, s"identical rows spread only $dupSpread/8 salt buckets")
  }

  test("sortPartition: rows sorted within each partition, no global shuffle") {
    val parted = PartitionOps.sortPartition(
      PartitionOps.byHash(orders, 4, col("o_custkey")), col("o_totalprice"))
    val violations = parted
      .mapPartitions { it =>
        val prices = it.map(_.getAs[Double]("o_totalprice"))
        var prev = Double.MinValue; var bad = 0
        prices.foreach { p => if (p < prev) bad += 1; prev = p }
        Iterator.single(bad)
      }(org.apache.spark.sql.Encoders.scalaInt)
      .collect().sum
    assert(violations == 0)
  }

  test("derivedShufflePartitions: a fixture dir without the probe table sizes to the floor") {
    // graph_cc_bipartite reads only customer, but its superstep sizing
    // probes documents by default
    val dir = java.nio.file.Files.createTempDirectory("graft-partial-fixture")
    java.nio.file.Files.copy(java.nio.file.Paths.get(s"$sfDir/customer.parquet"),
      dir.resolve("customer.parquet"))
    assert(PartitionOps.derivedShufflePartitions(spark, dir.toString) == 8)
    val q = SparkEntry.queries("graph_cc_bipartite")
    def rows(d: String) = q(spark, d).collect().map(_.toString).toSeq.sorted
    assert(rows(dir.toString) == rows(sfDir))
  }

  test("withShufflePartitions: a plan built inside the scope and run after it uses the session's count") {
    withConf("spark.sql.adaptive.enabled" -> "false") {
      assert(spark.conf.get("spark.sql.shuffle.partitions") == "4")
      val agg = PartitionOps.withShufflePartitions(spark, 2) { c =>
        SessionClones.rebind(orders, c).groupBy(col("o_custkey")).count()
      }
      agg.collect()
      val parts = agg.queryExecution.executedPlan.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e.numPartitions
      }
      assert(parts == Seq(4))
    }
  }

  test("withShufflePartitions: a localCheckpoint taken inside the scope keeps the cap") {
    withConf("spark.sql.adaptive.enabled" -> "false") {
      val cp = PartitionOps.withShufflePartitions(spark, 2) { c =>
        SessionClones.rebind(orders, c).groupBy(col("o_custkey")).count().localCheckpoint()
      }
      assert(cp.rdd.getNumPartitions == 2)
      assert(spark.conf.get("spark.sql.shuffle.partitions") == "4")
    }
  }
}
