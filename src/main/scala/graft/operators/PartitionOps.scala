package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SessionClones}

/** Explicit partitioning directives (reference SURVEY §2.1:
  * `partitionByHash/ByRange/Custom` `DataSet.java:1257-1372`, `rebalance`
  * `:1385`, `sortPartition` `:1401`; streaming partitioning directives
  * `DataStream.java:318-445`).
  *
  * These affect physical layout, not content — verified by layout-inspecting
  * specs rather than the value oracle. At 100 TB these are the knobs that
  * align shuffles: hash-partition before repeated self-joins, range-partition
  * + sortWithinPartitions to produce run-length-friendly sorted output files.
  */
object PartitionOps {

  /** Hash partitioning by key columns (reference partitionByHash). */
  def byHash(df: DataFrame, n: Int, cols: Column*): DataFrame =
    df.repartition(n, cols: _*)

  /** Range partitioning (reference partitionByRange) — total order across
    * partition files; basis of sorted parquet output. */
  def byRange(df: DataFrame, n: Int, cols: Column*): DataFrame =
    df.repartitionByRange(n, cols: _*)

  /** Round-robin rebalance (reference rebalance / DataStream rebalance). */
  def rebalance(df: DataFrame, n: Int): DataFrame = df.repartition(n)

  /** Per-partition sort without a global shuffle (reference sortPartition). */
  def sortPartition(df: DataFrame, cols: Column*): DataFrame =
    df.sortWithinPartitions(cols: _*)

  /** Custom partitioner + per-partition sort with partition PROVENANCE
    * (reference `partitionCustom` `DataSet.java:1341` + `sortPartition`
    * `:1401` + `mapPartition`): rows route by an explicit user partition
    * function (`key % n` — the classic manual-layout idiom), each
    * partition sorts locally, and the output carries
    * (partition_id, position) so the physical layout the directives
    * produced is value-checkable. The routing function is a pure function
    * of the data, so unlike Spark's internal Murmur3 `repartition`
    * routing this layout is ORACLE-stateable. The RDD drop-down is the
    * sanctioned path: a user-supplied Partitioner is exactly the API
    * Dataset does not expose. */
  def customPartitionSorted(df: DataFrame, keyCol: String, n: Int): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val part = new org.apache.spark.Partitioner {
      override def numPartitions: Int = n
      // floorMod: a negative key must still land in [0, n) — plain % would
      // hand Spark a negative partition id and kill the job
      override def getPartition(key: Any): Int =
        java.lang.Math.floorMod(key.asInstanceOf[Long], n.toLong).toInt
    }
    df.select(keyCol).as[Long].rdd
      .map(k => (k, k))
      .partitionBy(part)
      .mapPartitionsWithIndex { case (pid, it) =>
        it.map(_._1).toArray.sorted.iterator.zipWithIndex.map {
          case (k, pos) => (pid, pos.toLong + 1L, k)
        }
      }
      .toDF("partition_id", "pos", keyCol)
  }

  /** Two-phase salted aggregation — the manual skew-mitigation pattern for
    * hot keys (SURVEY "salting for skew"): phase 1 aggregates on
    * (key, salt) spreading a hot key over `saltBuckets` reducers, phase 2
    * merges the partials per key. `partialAggs` must be decomposable
    * (sum/count/min/max); result is identical to a direct groupBy. */
  def saltedAggregate(df: DataFrame, key: Column, saltBuckets: Int,
                      partialAggs: Seq[(Column, String)]): DataFrame = {
    import org.apache.spark.sql.functions._
    // salt must be DETERMINISTIC per row: a task recomputed after a lost
    // shuffle fetch must land each row in the same (key, salt) group, or
    // partial aggregates silently duplicate/drop. hash(all columns) is
    // stable under recomputation; monotonically_increasing_id is not.
    val salted = df.withColumn("__salt",
      pmod(hash(df.columns.map(col).toIndexedSeq: _*), lit(saltBuckets)))
    val phase1 = salted.groupBy(key.as("__key"), col("__salt"))
      .agg(partialAggs.head._1.as("__p0"),
        partialAggs.tail.zipWithIndex.map { case ((c, _), i) =>
          c.as(s"__p${i + 1}") }: _*)
    val merged = phase1.groupBy(col("__key"))
      .agg(
        expr(s"${partialAggs.head._2}(__p0)").as("agg0"),
        partialAggs.tail.zipWithIndex.map { case ((_, mergeFn), i) =>
          expr(s"$mergeFn(__p${i + 1})").as(s"agg${i + 1}") }: _*)
    merged
  }

  /** Salted equi-join — the manual skew-join for a hot key too big for one
    * reducer and a right side too big to broadcast outright: the skewed
    * (big) side gets a deterministic per-row salt in [0, saltBuckets); the
    * build (small-but-not-tiny) side is replicated `saltBuckets`× with every
    * salt value; the join key becomes (key, salt), spreading each hot key
    * over `saltBuckets` reducers. Row-identical to the plain equi-join —
    * replication only multiplies the BUILD side's shuffle volume, the skewed
    * side moves once. (AQE's skew-join split handles the same shape
    * adaptively when statistics see it; this is the explicit form the
    * reference's DataSet API required the user to write, and the fallback
    * when a single key exceeds what AQE can split.) */
  def saltedJoin(skewed: DataFrame, build: DataFrame, key: String,
                 saltBuckets: Int): DataFrame = {
    import org.apache.spark.sql.functions._
    // round-robin salt, NOT a hash of the row: the classic skew shape is
    // millions of bitwise-identical rows for one hot key, and any function
    // of the row's values assigns them all the same salt — no fan-out.
    // Unlike saltedAggregate (where a re-executed map task must regenerate
    // identical (key, salt) partials), the join is salt-agnostic: the build
    // side carries EVERY salt value, so a row joins identically whatever
    // salt it gets — per-partition-offset ids are stable under replay and
    // correctness would hold even if they weren't.
    val salted = saltProbe(skewed, saltBuckets)
    val replicated = build.withColumn("__salt",
      explode(sequence(lit(0L), lit(saltBuckets - 1L))))
    salted.join(replicated, Seq(key, "__salt")).drop("__salt")
  }

  /** The probe-side salting [[saltedJoin]] actually uses, exposed so layout
    * specs assert the join's real bucket spread instead of re-deriving a
    * salt whose monotonically_increasing_id values depend on partition
    * layout. */
  private[graft] def saltProbe(skewed: DataFrame, saltBuckets: Int): DataFrame = {
    import org.apache.spark.sql.functions._
    skewed.withColumn("__salt",
      pmod(monotonically_increasing_id(), lit(saltBuckets)))
  }

  /** Run `body` on a clone of `spark` whose `spark.sql.shuffle.partitions`
    * is capped at `n` (one kept per session and conf state, see
    * `SessionClones.cloneOf`), and return `body`'s frame rebound to `spark`.
    * Exchanges are planned when an action runs, so the cap reaches the
    * jobs `body` runs on the clone (a `localCheckpoint`, a collect, a stage
    * write); the returned frame plans with `spark`'s count when it runs
    * later. Batch callers therefore wrap the loops that run jobs: superstep
    * iterations and per-round checkpoints. `spark`'s conf is never
    * written, so scopes on concurrent threads cannot leave it at another
    * scope's value. A frame built on `spark` that `body` reads must be
    * rebound to the clone first (`SessionClones.rebind`), or its jobs run
    * uncapped. */
  def withShufflePartitions(spark: org.apache.spark.sql.SparkSession, n: Int)
                           (body: org.apache.spark.sql.SparkSession => DataFrame)
      : DataFrame =
    SessionClones.rebind(body(SessionClones.cloneOf(spark, n)), spark)

  // memoized fixture row counts (metadata-only count through Tables.load;
  // keyed on the file's mtime:size stamp so an in-place regeneration
  // re-probes) backing derivedShufflePartitions — one job per table per JVM
  private val rowCountCache =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()

  /** Row count of a fixture table, memoized per (dir, table, stamp). */
  def fixtureRows(spark: org.apache.spark.sql.SparkSession, dir: String,
                  table: String): Long = {
    val p = new org.apache.hadoop.fs.Path(dir, table + ".parquet")
    val key = dir + "#" + table + "#" + graft.sources.StagingFs.fileStamp(spark, p)
    rowCountCache.computeIfAbsent(key,
      _ => graft.Tables.load(spark, dir, table).count()).longValue()
  }

  /** Scale-adaptive partition count for the iterative batch loops that
    * run inside a [[withShufflePartitions]] scope (graph supersteps, the
    * PRF and MMR checkpoints): one reducer per 6 250 rows of `table`,
    * clamped to [8, 4·defaultParallelism] — 8 through sf1 (50 000 docs),
    * growing with the corpus beyond. The ceiling is the local-mode guard;
    * a cluster run sizes spark.sql.shuffle.partitions globally instead. */
  def derivedShufflePartitions(spark: org.apache.spark.sql.SparkSession,
                               dir: String, table: String = "documents"): Int = {
    val cores = spark.sparkContext.defaultParallelism.toLong
    // a partial fixture dir without the probe table sizes to the floor
    val probe = new org.apache.hadoop.fs.Path(dir, table + ".parquet")
    val rows = if (!graft.sources.StagingFs.exists(spark, probe)) 0L
      else fixtureRows(spark, dir, table)
    math.max(8L, math.min(4L * cores, rows / 6250L)).toInt
  }
}
