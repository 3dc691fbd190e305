package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Observation}

/** Driver-loop iteration helpers — the Spark mapping of the reference's
  * bulk/delta iterations (`DataSet.iterate` `DataSet.java:1156`,
  * `iterateDelta` `:1206`; SURVEY §2.1).
  *
  * Spark has no native iteration operator: each round extends the logical
  * plan, so unbounded lineage growth is THE scale hazard. Every `checkpointEvery`
  * rounds the intermediate result is localCheckpoint'ed (materialized,
  * lineage cut) — without this, plan compilation goes quadratic and a
  * 100-iteration job dies on driver memory long before data size matters.
  */
object Iterate {

  /** localCheckpoint cuts LINEAGE but PRESERVES the optimizer's
    * size-in-bytes estimate of the plan it replaced — and a step whose plan
    * joins `cur` against itself k times raises that estimate to the ^k
    * every round. The estimate is an unbounded BigInt: after r rounds it
    * has ~k^r digits, and around r ≈ 6–8 the DRIVER disappears into
    * BigInteger.multiply inside plan estimation (observed: the knn-clusters
    * CC at jump depth 2 hung the driver in ToomCook multiplication on
    * ~10⁵-digit "row counts" while every executor sat idle; depth 1 loops
    * merely converge before the melt-down). Stats carry no information
    * here — the frame is already materialized — so once the estimate
    * leaves any physically-possible range (2^96 bytes), rebuild the frame
    * from its checkpointed RDD, which resets stats to the engine default.
    * The guard keeps the common case free: the Row round-trip only ever
    * runs after compounding is detected. */
  private def statsSane(df: DataFrame): DataFrame =
    if (df.queryExecution.optimizedPlan.stats.sizeInBytes.bitLength <= 96) df
    else df.sparkSession.createDataFrame(df.rdd, df.schema)

  /** Bulk iteration: apply `step` up to `maxIter` times, materializing
    * every `checkpointEvery`-th round. `metrics` are aggregate expressions
    * over the new frame evaluated by the SAME job that materializes a
    * stride (observed metrics, optimization r13), so a convergence signal
    * costs no job of its own; `done` sees their named values after each
    * stride (it typically closes over the previous stride's) and ends the
    * loop when it returns true. A step that references `cur` k ≥ 2 times
    * needs stride 1: its un-checkpointed plan grows k^stride references
    * between cuts. The result is materialized exactly once: a frame the
    * last stride checkpointed is returned as it is. */
  def bulk(init: DataFrame, maxIter: Int, checkpointEvery: Int = 5,
           metrics: Seq[Column] = Nil,
           done: Map[String, Any] => Boolean = _ => false)
          (step: DataFrame => DataFrame): DataFrame = {
    var cur = init.localCheckpoint()
    var materialized = true
    var stop = false
    var i = 0
    while (i < maxIter && !stop) {
      materialized = (i + 1) % checkpointEvery == 0
      cur =
        if (!materialized) step(cur)
        else if (metrics.isEmpty) statsSane(step(cur).localCheckpoint())
        else {
          val obs = Observation()
          val next = statsSane(
            step(cur).observe(obs, metrics.head, metrics.tail: _*).localCheckpoint())
          stop = done(obs.get)
          next
        }
      i += 1
    }
    if (materialized) cur else cur.localCheckpoint()
  }

  /** Delta iteration (reference iterateDelta semantics): a solution set
    * and a workset, ending when the workset is empty or after `maxIter`
    * rounds. Each round materializes ONE frame, and the round's solution
    * and workset are both narrow projections over it (`solution(frame)`,
    * `workset(frame)`; optimization r13): the emptiness probe and both
    * derivations scan the round's checkpoint, and no round re-runs the
    * lineage of an earlier one. `init` is the first frame; `step` maps
    * (solution, workset) to the next. Returns the last frame's solution. */
  def delta(init: DataFrame, maxIter: Int)
           (solution: DataFrame => DataFrame, workset: DataFrame => DataFrame)
           (step: (DataFrame, DataFrame) => DataFrame): DataFrame = {
    var frame = init.localCheckpoint()
    var i = 0
    while (i < maxIter && !workset(frame).isEmpty) {
      frame = step(solution(frame), workset(frame)).localCheckpoint()
      i += 1
    }
    solution(frame)
  }
}
