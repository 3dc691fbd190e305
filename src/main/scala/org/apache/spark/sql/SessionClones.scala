package org.apache.spark.sql

import java.util.concurrent.ConcurrentHashMap

/** The two package-private session entry points behind
  * `graft.operators.PartitionOps.withShufflePartitions`.
  *
  * A clone from `cloneSession` shares the SparkContext, the cache and the
  * catalog with its parent, and starts from a copy of the parent's runtime
  * SQL confs, temp views and registered functions (the `graft_*` functions
  * included). Its SQLConf is its own: a value set on the clone never
  * reaches the parent. (`newSession` would start from the builder options
  * alone, without the parent's runtime confs or functions.) */
object SessionClones {

  // Every session runs its tasks under its own executor class loader, and
  // generated code is cached per class loader, so each build on a fresh
  // clone compiled its code anew: graph_cc_bipartite at local[4] took
  // 1.06 s on a fresh clone per build against 0.78 s on the parent or on
  // one reused clone. Clones are therefore kept, one per session and conf
  // state.
  private val clones = new ConcurrentHashMap[(String, Map[String, String]), SparkSession]()

  /** A clone of `spark` whose SQL confs are `spark`'s current ones with
    * `spark.sql.shuffle.partitions` capped at `maxShufflePartitions`.
    * Calls with the same session and the same resulting confs share one
    * clone, whose confs are never written after it is made; a temp view or
    * function registered on `spark` after that clone was made is not on
    * it. */
  def cloneOf(spark: SparkSession, maxShufflePartitions: Int): SparkSession = {
    val parent = spark.asInstanceOf[classic.SparkSession]
    val key = "spark.sql.shuffle.partitions"
    val cap = math.min(maxShufflePartitions, parent.conf.get(key).toInt).toString
    clones.computeIfAbsent((parent.sessionUUID, parent.conf.getAll + (key -> cap)), _ => {
      val clone = parent.cloneSession()
      clone.conf.set(key, cap)
      clone
    })
  }

  /** `df`'s analyzed plan as a frame of `spark`: actions on the result
    * plan and run with `spark`'s SQL confs. A `localCheckpoint` in the
    * plan keeps the partitions it was taken with. */
  def rebind(df: DataFrame, spark: SparkSession): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession],
      df.asInstanceOf[classic.Dataset[Row]].queryExecution.analyzed)
}
