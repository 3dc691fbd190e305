package graft.graph

import org.apache.spark.sql.{Column, DataFrame, SessionClones}
import org.apache.spark.sql.functions._
import graft.operators.{Iterate, PartitionOps}

/** Gelly-style property graph over DataFrames (reference `Graph<K,VV,EV>`,
  * `flink-libraries/flink-gelly/.../graph/Graph.java`; SURVEY §2.8).
  *
  * vertices: (vid [, attrs…]);  edges: (src, dst [, weight]).
  * The iterating algorithms are Pregel-style driver loops over joins:
  * SSSP runs on `Iterate.delta`, every other superstep loop (both CCs, LP,
  * both community detections, HITS, both PageRanks, the scatter-gather
  * APIs) on `Iterate.bulk`. Each loop pre-partitions its static edge side
  * on the join key once, so a superstep is a co-partitioned join +
  * map-side-combining min/sum aggregation, the same shuffle profile as
  * Gelly's scatter-gather.
  */
final case class Graph(vertices: DataFrame, edges: DataFrame) {

  def reverse: Graph = copy(edges = edges
    .withColumnRenamed("src", "tmp").withColumnRenamed("dst", "src")
    .withColumnRenamed("tmp", "dst"))

  /** Treat every edge as bidirectional. */
  def undirectedEdges: DataFrame =
    edges.select(col("src"), col("dst"))
      .union(edges.select(col("dst").as("src"), col("src").as("dst")))

  /** The static side of the undirected superstep loops: both directions of
    * every edge, the edge columns `extra` carried along, restricted to
    * edges whose `dst` is a vertex (`src` is restricted by each
    * superstep's inner join against the state, but a `dst` outside the
    * vertex set would inject a phantom result row; Gelly keys results to
    * the vertex set), partitioned on `src` and materialized once. */
  private[graph] def undirectedLoopEdges(extra: String*): DataFrame =
    edges.select((Seq(col("src"), col("dst")) ++ extra.map(col)): _*)
      .union(edges.select(
        (Seq(col("dst").as("src"), col("src").as("dst")) ++ extra.map(col)): _*))
      .join(vertices.select(col("vid").as("dst")), Seq("dst"), "left_semi")
      .repartition(col("src")).localCheckpoint()

  def outDegrees: DataFrame =
    edges.groupBy(col("src").as("vid")).agg(count(lit(1)).as("deg"))

  def subgraph(vpred: Column): Graph = {
    val vs = vertices.filter(vpred)
    val keep = vs.select(col("vid"))
    Graph(vs, edges
      .join(keep.withColumnRenamed("vid", "src"), "src")
      .join(keep.withColumnRenamed("vid", "dst"), "dst"))
  }

  // ---- transformation surface (reference Graph.java; SURVEY §2.8) ----

  /** Map vertex values (reference `mapVertices` `Graph.java:528`): vertices
    * become (vid, value) with `value` evaluated per vertex row. */
  def mapVertices(value: Column): Graph =
    copy(vertices = vertices.select(col("vid"), value.as("value")))

  /** Map edge values (reference `mapEdges` `Graph.java:578`): edges become
    * (src, dst, weight) with the new weight evaluated per edge row. */
  def mapEdges(value: Column): Graph =
    copy(edges = edges.select(col("src"), col("dst"), value.as("weight")))

  def inDegrees: DataFrame =
    edges.groupBy(col("dst").as("vid")).agg(count(lit(1)).as("deg"))

  /** in+out degree per vertex, zero for isolated vertices (reference
    * `getDegrees` `Graph.java:974`). */
  def degrees: DataFrame = {
    val both = edges.select(col("src").as("vid"))
      .union(edges.select(col("dst").as("vid")))
      .groupBy("vid").agg(count(lit(1)).as("deg"))
    vertices.select(col("vid")).join(both, Seq("vid"), "left")
      .select(col("vid"), coalesce(col("deg"), lit(0L)).as("deg"))
  }

  def numberOfVertices: Long = vertices.count()
  def numberOfEdges: Long = edges.count()

  /** Edge triplets (reference `getTriplets` `Graph.java:483`): each edge
    * with its endpoints' vertex rows — two equi-joins, the scatter-phase
    * shape every vertex-centric superstep uses. */
  def triplets: DataFrame = {
    val sv = vertices.columns.filter(_ != "vid")
      .foldLeft(vertices.withColumnRenamed("vid", "src")) {
        (d, c) => d.withColumnRenamed(c, s"src_$c") }
    val dv = vertices.columns.filter(_ != "vid")
      .foldLeft(vertices.withColumnRenamed("vid", "dst")) {
        (d, c) => d.withColumnRenamed(c, s"dst_$c") }
    edges.join(sv, "src").join(dv, "dst")
  }

  /** Left-join extra columns onto the vertex set by vid (reference
    * `joinWithVertices` `Graph.java:674`). */
  def joinWithVertices(input: DataFrame): Graph =
    copy(vertices = vertices.join(input, Seq("vid"), "left"))

  def filterOnVertices(vpred: Column): Graph = subgraph(vpred)

  /** Keep only edges satisfying the predicate; vertex set unchanged
    * (reference `filterOnEdges` `Graph.java:907`). */
  def filterOnEdges(epred: Column): Graph = copy(edges = edges.filter(epred))

  /** Add vertices; existing vids win (reference `addVertices`
    * `Graph.java:1379` — existing-wins dedup). */
  def addVertices(vs: DataFrame): Graph =
    copy(vertices = vertices.unionByName(
      vs.join(vertices.select(col("vid")), Seq("vid"), "left_anti")))

  /** Remove the given vertex ids AND their incident edges (reference
    * `removeVertices` `Graph.java:1485`). */
  def removeVertices(vids: DataFrame): Graph = {
    val ids = vids.select(col("vid"))
    // USING-joins move the key column first; re-select the original order
    val kept = edges
      .join(ids.withColumnRenamed("vid", "src"), Seq("src"), "left_anti")
      .join(ids.withColumnRenamed("vid", "dst"), Seq("dst"), "left_anti")
    Graph(
      vertices.join(ids, Seq("vid"), "left_anti"),
      kept.select(edges.columns.map(col).toIndexedSeq: _*))
  }

  def addEdges(es: DataFrame): Graph = copy(edges = edges.unionByName(es))

  /** Remove every edge matching a (src, dst) pair (reference `removeEdges`
    * `Graph.java:1571`). */
  def removeEdges(pairs: DataFrame): Graph =
    copy(edges = edges.join(pairs.select(col("src"), col("dst")),
      Seq("src", "dst"), "left_anti"))

  /** Graph union (reference `union` `Graph.java:1599`): vertices dedup by
    * vid (this graph wins), edges concatenate — duplicates retained,
    * exactly Gelly's contract. */
  def union(other: Graph): Graph =
    Graph(
      vertices.unionByName(other.vertices
        .join(vertices.select(col("vid")), Seq("vid"), "left_anti")),
      edges.unionByName(other.edges))

  /** Graph difference (reference `difference` `Graph.java:1623`): remove
    * the other graph's vertices and their incident edges. */
  def difference(other: Graph): Graph =
    removeVertices(other.vertices.select(col("vid")))

  /** Edge intersection (reference `intersect` `Graph.java:1647`): keep
    * (src, dst) pairs present in BOTH graphs; vertices are the endpoints.
    * `distinctEdges` mirrors the reference flag — true collapses duplicate
    * pairs, false pairs up multiplicities (min of the two counts). */
  def intersect(other: Graph, distinctEdges: Boolean = true): Graph = {
    val es =
      if (distinctEdges)
        edges.select(col("src"), col("dst")).distinct()
          .join(other.edges.select(col("src"), col("dst")).distinct(),
            Seq("src", "dst"), "left_semi")
      else {
        val a = edges.groupBy(col("src"), col("dst"))
          .agg(count(lit(1)).as("ca"))
        val b = other.edges.groupBy(col("src"), col("dst"))
          .agg(count(lit(1)).as("cb"))
        a.join(b, Seq("src", "dst"))
          .select(col("src"), col("dst"),
            explode(sequence(lit(1), least(col("ca"), col("cb")))).as("i"))
          .drop("i")
      }
    val vids = es.select(col("src").as("vid"))
      .union(es.select(col("dst").as("vid"))).distinct()
    Graph(vids, es)
  }

  /** True iff every edge endpoint exists in the vertex set (reference
    * `validate(InvalidVertexIdsValidator)` `Graph.java:446`). */
  def validate: Boolean =
    edges.select(col("src").as("vid"))
      .union(edges.select(col("dst").as("vid")))
      .join(vertices.select(col("vid")), Seq("vid"), "left_anti")
      .isEmpty

  /** Rewrite every vertex id through an expression over `vid` (reference
    * `translateGraphIds` `Graph.java:630`); `f` must be injective. */
  def translateGraphIds(f: Column => Column): Graph =
    Graph(
      vertices.withColumn("vid", f(col("vid"))),
      edges.withColumn("src", f(col("src"))).withColumn("dst", f(col("dst"))))

  /** Per-vertex neighbor VALUES in the given direction (reference
    * `groupReduceOnEdges`/`groupReduceOnNeighbors` `Graph.java:1074-1285`):
    * one row per (vertex, neighbor) with the neighbor's `valueCol` aliased
    * `nbr_<valueCol>` — the iterator form; aggregate it for
    * [[reduceOnNeighbors]] semantics. One edge⋈vertex join, the single-shot
    * scatter-phase shape. */
  def neighborValues(valueCol: String = "vid",
                     direction: String = "all"): DataFrame = {
    val dirEdges = direction match {
      case "out" => edges.select(col("src"), col("dst"))
      case "in"  => edges.select(col("dst").as("src"), col("src").as("dst"))
      case _     => undirectedEdges
    }
    dirEdges.join(vertices.select(col("vid").as("dst"),
        col(valueCol).as(s"nbr_$valueCol")), "dst")
      .select(col("src").as("vid"), col(s"nbr_$valueCol"))
  }

  /** Aggregate neighbor values per vertex (reference `reduceOnNeighbors`
    * `Graph.java:1286-1360`): emits only vertices with ≥1 neighbor in the
    * direction, like the reference's reduce. `aggs` are expressions over
    * the `nbr_<valueCol>` column. */
  def reduceOnNeighbors(valueCol: String, direction: String,
                        aggs: Seq[Column]): DataFrame =
    neighborValues(valueCol, direction)
      .groupBy(col("vid")).agg(aggs.head, aggs.tail: _*)

  // ---- generic vertex-centric iteration APIs (reference Graph.java) ----

  /** Scatter-gather iteration (reference `runScatterGatherIteration`
    * `Graph.java:1730`): per superstep, `scatter` maps the edge⋈source-state
    * triplets (edge columns + the source vertex's state columns) to
    * messages keyed by `vid`, and `gather` combines (current state,
    * messages) into the next state. The edge set is pre-partitioned on the
    * scatter key once; each round shuffles only state and messages — the
    * same cost shape as Gelly's scatter-gather runtime. State must keep a
    * `vid` column and fresh attribute identities each round (re-alias
    * outputs, as the library algorithms do). */
  def runScatterGatherIteration(initial: DataFrame, maxIter: Int,
                                checkpointEvery: Int = 5)
                               (scatter: DataFrame => DataFrame)
                               (gather: (DataFrame, DataFrame) => DataFrame): DataFrame = {
    val e = edges.repartition(col("src")).localCheckpoint()
    Iterate.bulk(initial, maxIter, checkpointEvery) { cur =>
      val triplets = e.join(cur.withColumnRenamed("vid", "src"), "src")
      gather(cur, scatter(triplets))
    }
  }

  /** Gather-sum-apply iteration (reference `runGatherSumApplyIteration`
    * `Graph.java:1778`): `gatherExpr` computes one value per edge triplet,
    * `sumExpr` folds the per-target values (an aggregate over column `g`),
    * `apply` merges the folded value into the state. GSA is the structured
    * special case of scatter-gather — on Spark the sum phase is a
    * map-side-combining hash aggregation, which is precisely why the
    * library algorithms need no separate GSA implementations. */
  def runGatherSumApplyIteration(initial: DataFrame, maxIter: Int,
                                 gatherExpr: Column, sumExpr: Column => Column,
                                 checkpointEvery: Int = 5)
                                (apply: (DataFrame, DataFrame) => DataFrame): DataFrame =
    runScatterGatherIteration(initial, maxIter, checkpointEvery) { triplets =>
      triplets.select(col("dst").as("vid"), gatherExpr.as("g"))
    } { (cur, msgs) =>
      apply(cur, msgs.groupBy("vid").agg(sumExpr(col("g")).as("m")))
    }

  /** Vertex-centric (Pregel) iteration (reference
    * `runVertexCentricIteration` `Graph.java:1825`): `compute` receives
    * (current state, incoming messages) and returns the next state AND the
    * outgoing messages are produced by `messages` from the new state's
    * triplets — the compute/send split of Pregel, expressed relationally.
    * Equivalent in power to [[runScatterGatherIteration]] with the phases
    * swapped; provided for API parity. */
  def runVertexCentricIteration(initial: DataFrame, maxIter: Int,
                                checkpointEvery: Int = 5)
                               (messages: DataFrame => DataFrame)
                               (compute: (DataFrame, DataFrame) => DataFrame): DataFrame =
    runScatterGatherIteration(initial, maxIter, checkpointEvery)(messages)(compute)
}

object GraphAlgorithms {

  /** The scaffold both CC variants share: labels start at (vid, comp =
    * vid) and `step(edges, cur)` min-folds them over the vertex-restricted
    * undirected edges, materialized every superstep (the steps reference
    * `cur` two and three times). Convergence is the LABEL-SUM fixpoint,
    * not a join: labels only ever decrease, so equal consecutive sums ⇔ no
    * label moved. The sum and a count ride each superstep's checkpoint job
    * as observed metrics (r13); the old old⋈next change-join cost a full
    * extra job per round. decimal(38,0) is exact to Σ comp < 10^38, which
    * n·maxId never reaches. The count makes emptiness EXPLICIT: sum(decimal)
    * is also null on overflow (ANSI off), so an empty vertex set is
    * (null, 0) and stops, and an overflow is (null, n > 0) and fails
    * loudly instead of stopping early with wrong labels. */
  private def labelSumFixpoint(g: Graph, maxIter: Int)
                              (step: (DataFrame, DataFrame) => DataFrame): DataFrame = {
    val und = g.undirectedLoopEdges()
    val init = g.vertices.select(col("vid"), col("vid").as("comp"))
    var prevSum: java.math.BigDecimal = null
    Iterate.bulk(init, maxIter, checkpointEvery = 1,
      metrics = Seq(sum(col("comp").cast("decimal(38,0)")).as("s"),
        count(lit(1)).as("n")),
      done = m => {
        val s = m("s").asInstanceOf[java.math.BigDecimal]
        val n = m("n").asInstanceOf[Long]
        if (s == null && n > 0) throw new IllegalStateException(
          s"connected components: label sum overflowed decimal(38,0) " +
            s"over $n vertices — labels exceed the 10^38 sum bound")
        val stop = n == 0 || (prevSum != null && s.compareTo(prevSum) == 0)
        prevSum = s
        stop
      })(step(und, _))
  }

  /** Connected components by iterative min-label propagation (reference
    * `graph/library/ConnectedComponents.java`). Converges once no label
    * changes; each superstep = one co-partitioned join + min-agg. */
  def connectedComponents(g: Graph, maxIter: Int = 50): DataFrame =
    labelSumFixpoint(g, maxIter) { (und, cur) =>
      und.join(cur.withColumnRenamed("vid", "src"), "src")
        .select(col("dst").as("vid"), col("comp"))
        .union(cur)
        .groupBy("vid").agg(min(col("comp")).as("comp"))
    }

  /** Connected components with POINTER JUMPING: each superstep takes the
    * minimum of the own label, the neighbors' labels, and the label OF the
    * label (`comp(comp(v))` — one extra self-join). The jump doubles the
    * reach per round, so convergence is O(log diameter) supersteps instead
    * of the plain propagation's O(diameter) — on a path-heavy
    * billion-vertex graph that is ~30 shuffle rounds versus ~6. Result is
    * identical to [[connectedComponents]] (min vid per component). */
  def connectedComponentsFast(g: Graph, maxIter: Int = 20): DataFrame =
    labelSumFixpoint(g, maxIter) { (und, cur) =>
      val nm = und.join(cur.withColumnRenamed("vid", "src"), "src")
        .groupBy(col("dst").as("vid")).agg(min(col("comp")).as("nmin"))
      val own = cur.select(col("vid"), col("comp").as("own"))
      val jump = cur.select(col("vid").as("jv"), col("comp").as("jcomp"))
      // re-alias vid too: the jump self-joins cur, so the step output
      // must not reuse the input's attribute identities
      own.join(nm, Seq("vid"), "left")
        .join(jump, col("own") === col("jv"), "left")
        .select(col("vid").as("vid"),
          least(col("own"), coalesce(col("nmin"), col("own")),
            coalesce(col("jcomp"), col("own"))).as("comp"))
    }

  /** [[connectedComponentsFast]] for the clustering callers (dedup and
    * k-NN clusters), materialized. Their candidate graphs are O(near-dups)
    * or O(k·n) edges, orders smaller than the corpus, and each superstep's
    * fixed job cost grows with shuffle partitions, so the supersteps run
    * at max(8, min(2048, |edges| / 250000 + 1)) partitions: ~250k edge rows
    * each, floor 8 (the measured fixture optimum), so a billion-edge graph
    * gets thousands. `g.edges` should be materialized: the count then scans
    * a checkpointed frame (both callers derive 8 at sf0.01 and sf0.1). It
    * counts the RDD: one job, where `Dataset.count`'s exchange makes two. */
  def clusterComponents(g: Graph): DataFrame = {
    val parts = math.max(8, math.min(2048, (g.edges.rdd.count() / 250000L).toInt + 1))
    PartitionOps.withShufflePartitions(g.edges.sparkSession, parts) { c =>
      connectedComponentsFast(Graph(SessionClones.rebind(g.vertices, c),
        SessionClones.rebind(g.edges, c))).localCheckpoint()
    }
  }

  /** Multi-source shortest paths (reference `graph/library/SingleSourceShortestPaths`)
    * by Bellman-Ford delta iteration: the workset holds vertices whose
    * distance improved last round.
    *
    * `doubleHops = true` additionally relaxes over the min-weight 2-hop
    * closure e² (one one-time self-join of the checkpointed edges):
    * Bellman-Ford over e ∪ e² converges to the SAME fixpoint — every e²
    * edge is a real 2-edge path, and relaxation order never changes
    * shortest distances — in about half the supersteps, so long-diameter
    * graphs pay half the per-round driver/shuffle fixed cost
    * (optimization r13; graph_sssp_chain 3.8 s → see OPTIMIZATION_r13.md).
    * e² is Θ(Σ deg²) rows, so this is for bounded-degree / long-diameter
    * graphs (chains, meshes, roads); hub-heavy graphs keep the default. */
  def shortestPaths(g: Graph, sources: DataFrame, maxIter: Int = 50,
                    doubleHops: Boolean = false): DataFrame = {
    val e1 = g.edges.select(col("src"), col("dst"), col("weight"))
      .repartition(col("src")).localCheckpoint()
    val e = if (!doubleHops) e1 else {
      val e2 = e1.as("x")
        .join(e1.as("y"), col("x.dst") === col("y.src"))
        .select(col("x.src").as("src"), col("y.dst").as("dst"),
          (col("x.weight") + col("y.weight")).as("weight"))
      e1.unionByName(e2)
        .groupBy(col("src"), col("dst")).agg(min(col("weight")).as("weight"))
        .repartition(col("src")).localCheckpoint()
    }
    // one frame per round, (vid, dist, cand): the solution keeps the
    // better of dist and cand, the workset is the vertices cand improved
    val improved = col("cand").isNotNull && col("cand") < col("dist")
    val init = g.vertices
      .join(sources.withColumn("is_src", lit(true)), Seq("vid"), "left")
      .select(col("vid"), lit(Long.MaxValue).as("dist"),
        when(col("is_src"), lit(0L)).as("cand"))
    Iterate.delta(init, maxIter)(
      _.select(col("vid"),
        when(improved, col("cand")).otherwise(col("dist")).as("dist")),
      _.filter(improved).select(col("vid"), col("cand").as("dist"))) {
      (solution, workset) =>
        val relaxed = e
          .join(workset.withColumnRenamed("vid", "src"), "src")
          .select(col("dst").as("vid"), (col("dist") + col("weight")).as("cand"))
          .groupBy("vid").agg(min(col("cand")).as("cand"))
        solution.join(relaxed, Seq("vid"), "left")
          .select(col("vid"), col("dist"), col("cand"))
    }.select(col("vid"),
      when(col("dist") === Long.MaxValue, lit(null).cast("long"))
        .otherwise(col("dist")).as("dist"))
  }

  /** Triangle enumeration (reference `library/TriangleEnumerator`): orient
    * edges low→high, build wedges by joining on the middle vertex, close
    * each wedge against the oriented edge set. Two equi-joins on vertex
    * ids — the standard distributed formulation; skew mitigation at scale
    * = AQE skew-join on hub vertices. */
  def triangles(g: Graph): DataFrame = {
    val oriented = g.undirectedEdges
      .filter(col("src") < col("dst")).distinct().localCheckpoint()
    val wedges = oriented.as("e1")
      .join(oriented.as("e2"), col("e1.dst") === col("e2.src"))
      .select(col("e1.src").as("a"), col("e1.dst").as("b"),
        col("e2.dst").as("c"))
    wedges.join(oriented.as("e3"),
        col("a") === col("e3.src") && col("c") === col("e3.dst"), "left_semi")
      .select(col("a"), col("b"), col("c"))
  }

  /** Graph summarization (reference `graph/library/Summarization.java`):
    * vertices sharing a value merge into one supervertex (its id = the MIN
    * member vid, deterministic), and edges group by (source value, target
    * value) with a member count — the standard relational contraction: two
    * hash aggregations and one value join, no iteration. Inputs: vertices
    * (vid, value), directed edges (src, dst). */
  def summarize(vertices: DataFrame, edges: DataFrame): (DataFrame, DataFrame) = {
    val superV = vertices.groupBy(col("value"))
      .agg(min(col("vid")).as("super_vid"), count(lit(1)).as("member_count"))
    val vv = vertices.select(col("vid"), col("value"))
    val superE = edges
      .join(vv.select(col("vid").as("src"), col("value").as("src_value")), "src")
      .join(vv.select(col("vid").as("dst"), col("value").as("dst_value")), "dst")
      .groupBy(col("src_value"), col("dst_value"))
      .agg(count(lit(1)).as("edge_count"))
    (superV, superE)
  }

  /** Label propagation (reference `graph/library/LabelPropagation.java`):
    * each vertex adopts the most frequent label among its (undirected)
    * neighbors each superstep; ties break to the HIGHEST label — the same
    * deterministic rule Gelly documents. Isolated vertices keep their own
    * label. Init label = vid. Synchronous fixed-iteration form: one
    * co-partitioned join + two map-side-combining aggregations per
    * superstep. */
  def labelPropagation(g: Graph, maxIter: Int): DataFrame =
    voteSupersteps(g, g.undirectedLoopEdges(), count(lit(1)), maxIter)

  /** Community detection (reference `graph/library/CommunityDetection.java`
    * core rule): like label propagation but each neighbor's vote counts
    * with its EDGE WEIGHT — the vertex adopts the label with the highest
    * total incident weight; ties break to the highest label. (The
    * reference's hop-attenuation refinement of vote scores is not
    * reproduced — it requires float score state whose accumulation order
    * is not cross-engine deterministic.) */
  def communityDetection(g: Graph, maxIter: Int): DataFrame =
    voteSupersteps(g, g.undirectedLoopEdges("weight"), sum(col("weight")), maxIter)

  /** The synchronous vote both [[labelPropagation]] and
    * [[communityDetection]] run: labels start at vid, and each superstep
    * every vertex adopts the neighbor label with the highest `score` (an
    * aggregate over its votes' edge rows), ties to the highest label;
    * vertices without votes keep theirs. Stride 1: the step references
    * `cur` twice (votes + adoption join). */
  private def voteSupersteps(g: Graph, und: DataFrame, score: Column,
                             maxIter: Int): DataFrame = {
    val init = g.vertices.select(col("vid"), col("vid").as("label"))
    Iterate.bulk(init, maxIter, checkpointEvery = 1) { cur =>
      val votes = und
        .join(cur.withColumnRenamed("vid", "src"), "src")
        .groupBy(col("dst").as("vid"), col("label"))
        .agg(score.as("score"))
      val adopted = votes.groupBy("vid")
        .agg(max(struct(col("score"), col("label"))).getField("label")
          .as("new_label"))
      cur.join(adopted, Seq("vid"), "left")
        .select(col("vid"),
          coalesce(col("new_label"), col("label")).as("label"))
    }
  }

  /** Community detection with the reference's FULL score semantics
    * (`graph/library/CommunityDetection.java`, after
    * http://arxiv.org/pdf/0808.2633.pdf), integer-quantized so the result
    * is cross-engine exact:
    *  - state (label, score), init (vid, 1.0 → `scale`);
    *  - each superstep every vertex sends (label, score·edgeWeight) along
    *    undirected edges;
    *  - receiver picks the label with the highest SUMMED score — ties to
    *    the LOWEST label (the reference's ascending TreeMap + strict-max
    *    scan, CommunityDetection.java:147-155);
    *  - the new score is the highest INDIVIDUAL message score of the
    *    chosen label (:159), minus the hop attenuation delta/superstep
    *    when the label changed (:161);
    *  - vertices with no messages keep their state.
    * delta is the rational deltaNum/deltaDen; `scale·deltaNum` must be
    * divisible by `deltaDen·i` for every superstep i ≤ maxIter so the
    * penalty is integral (scale = 1e6 covers delta=1/2 up to 4 supersteps,
    * i ∈ {1,2,4}; a require guards the rest). */
  def communityDetectionExact(g: Graph, maxIter: Int, deltaNum: Long = 1L,
                              deltaDen: Long = 2L,
                              scale: Long = 1000000L): DataFrame = {
    val penalties = (1 to maxIter).map { i =>
      require(scale * deltaNum % (deltaDen * i) == 0,
        s"hop penalty not integral at superstep $i: pick a scale divisible by ${deltaDen * i}")
      scale * deltaNum / (deltaDen * i)
    }.iterator
    val undW = g.undirectedLoopEdges("weight")
    val init = g.vertices
      .select(col("vid"), col("vid").as("label"), lit(scale).as("score_q"))
    // stride 1: two `cur` references per step (messages + adoption join)
    Iterate.bulk(init, maxIter, checkpointEvery = 1) { cur =>
      val penalty = penalties.next()
      val msgs = undW
        .join(cur.withColumnRenamed("vid", "src"), "src")
        .select(col("dst").as("vid"), col("label"),
          (col("score_q") * col("weight")).as("s"))
      val perLabel = msgs.groupBy(col("vid"), col("label"))
        .agg(sum(col("s")).as("sum_s"), max(col("s")).as("max_s"))
      // argmax by summed score, ties to the LOWEST label; max_s rides along
      val chosen = perLabel.groupBy("vid")
        .agg(min(struct((-col("sum_s")).as("neg"), col("label").as("l"),
          col("max_s").as("m"))).as("c"))
        .select(col("vid"), col("c.l").as("new_label"), col("c.m").as("new_max"))
      cur.join(chosen, Seq("vid"), "left")
        .select(col("vid"),
          coalesce(col("new_label"), col("label")).as("label"),
          when(col("new_label").isNull, col("score_q"))
            .when(col("new_label") === col("label"), col("new_max"))
            .otherwise(col("new_max") - penalty).as("score_q"))
    }
  }

  /** HITS hubs-and-authorities (reference
    * `graph/library/linkanalysis/HITS.java`), UN-normalized fixed-iteration
    * form: auth_k(v) = Σ_{u→v} hub_{k−1}(u), hub_k(v) = Σ_{v→w} auth_k(w),
    * init hub = 1. Integer sums are associative → exact cross-engine. The
    * reference normalizes each iteration, which only rescales both vectors
    * by a global constant — score RATIOS are identical; callers wanting
    * normalized scores divide by the L2 norm at the surface. Keep `iters`
    * small: magnitudes grow like (max degree)^(2·iters). */
  def hits(g: Graph, iters: Int = 2): DataFrame = {
    val e = g.edges.select(col("src"), col("dst")).localCheckpoint()
    val verts = g.vertices.select(col("vid"))
    val init = verts.select(col("vid"), lit(1L).as("auth"), lit(1L).as("hub"))
    Iterate.bulk(init, iters) { cur =>
      val auth = verts
        .join(e.join(cur.select(col("vid").as("src"), col("hub")), "src")
          .groupBy(col("dst").as("vid")).agg(sum(col("hub")).as("a")),
          Seq("vid"), "left")
        .select(col("vid"), coalesce(col("a"), lit(0L)).as("auth"))
      verts
        .join(e.join(auth.select(col("vid").as("dst"), col("auth").as("na")), "dst")
          .groupBy(col("src").as("vid")).agg(sum(col("na")).as("h")),
          Seq("vid"), "left")
        .join(auth, Seq("vid"))
        .select(col("vid"), col("auth"), coalesce(col("h"), lit(0L)).as("hub"))
    }
  }

  /** Jaccard neighborhood similarity (reference
    * `graph/library/similarity/JaccardIndex.java`): for every vertex pair
    * sharing ≥1 neighbor, |N(a)∩N(b)| / |N(a)∪N(b)| over undirected
    * neighbor SETS. The wedge self-join on the shared middle vertex is the
    * inverted-index shape — shuffle on vertex id, never all-pairs; skewed
    * hub vertices are the AQE-skew-join case at scale. */
  def jaccardIndex(g: Graph): DataFrame = {
    val und = g.undirectedEdges.distinct().localCheckpoint()
    val deg = und.groupBy(col("src").as("vid")).agg(count(lit(1)).as("deg"))
    val x = und.as("x"); val y = und.as("y")
    val inter = x.join(y,
        col("x.src") === col("y.src") && col("x.dst") < col("y.dst"))
      .groupBy(col("x.dst").as("a"), col("y.dst").as("b"))
      .agg(count(lit(1)).as("inter"))
    inter
      .join(deg.select(col("vid").as("a"), col("deg").as("deg_a")), "a")
      .join(deg.select(col("vid").as("b"), col("deg").as("deg_b")), "b")
      .select(col("a"), col("b"), col("inter"),
        round(col("inter").cast("double") /
          (col("deg_a") + col("deg_b") - col("inter")), 6).as("jaccard"))
  }

  /** Adamic-Adar link prediction (reference
    * `graph/library/similarity/AdamicAdar.java`): Σ over common neighbors
    * z of 1/ln(deg z), integer-quantized as floor(1e6/ln(deg z)) so the
    * cross-pair sum is associative and exact (deg ≥ 2 for any wedge
    * middle, so ln > 0; floor margins are far from libm's ulp error). */
  def adamicAdar(g: Graph): DataFrame = {
    val und = g.undirectedEdges.distinct().localCheckpoint()
    val deg = und.groupBy(col("src").as("vid")).agg(count(lit(1)).as("deg"))
    val weighted = und.join(deg.withColumnRenamed("vid", "src"), "src")
      .select(col("src"), col("dst"),
        floor(lit(1000000.0) / log(col("deg"))).as("wq"))
    val x = weighted.as("x"); val y = weighted.as("y")
    x.join(y, col("x.src") === col("y.src") && col("x.dst") < col("y.dst"))
      .groupBy(col("x.dst").as("a"), col("y.dst").as("b"))
      .agg(sum(col("x.wq")).cast("bigint").as("aa_q"))
  }

  /** Per-vertex clustering coefficient (reference
    * `library/clustering/undirected/LocalClusteringCoefficient.java`):
    * degree, count of triangles through the vertex, and the coefficient
    * integer-quantized as floor(2e6·tri / (deg·(deg−1))) so rows are
    * hash-exact cross-engine (the reference emits degree + triangle count
    * and leaves the ratio to the caller for the same reason). Vertices
    * without edges are omitted (no neighborhood to score). Cost = the
    * triangle enumeration (two equi-joins) + one count per vertex. */
  def localClusteringCoefficient(g: Graph): DataFrame = {
    val und = g.undirectedEdges.distinct().localCheckpoint()
    val deg = und.groupBy(col("src").as("vid")).agg(count(lit(1)).as("degree"))
    val tri = triangles(g)
    val perVertex = tri.select(col("a").as("vid"))
      .union(tri.select(col("b").as("vid")))
      .union(tri.select(col("c").as("vid")))
      .groupBy("vid").agg(count(lit(1)).as("tri_cnt"))
    deg.join(perVertex, Seq("vid"), "left")
      .select(col("vid"), col("degree"),
        coalesce(col("tri_cnt"), lit(0L)).as("tri_cnt"))
      .withColumn("lcc_q",
        when(col("degree") >= 2,
          expr("(2000000 * tri_cnt) div (degree * (degree - 1))"))
          .otherwise(lit(0L)))
  }

  /** Global clustering coefficient (reference
    * `library/clustering/undirected/GlobalClusteringCoefficient.java`):
    * one row of (triplet count = Σ C(deg,2), triangle count, and the
    * coefficient 3·tri/triplets quantized ×1e6). Two single-row aggregates
    * cross-joined — negligible shuffle beyond the triangle join itself. */
  def globalClusteringCoefficient(g: Graph): DataFrame = {
    val und = g.undirectedEdges.distinct().localCheckpoint()
    val triplets = und.groupBy(col("src")).agg(count(lit(1)).as("deg"))
      .agg(sum(expr("deg * (deg - 1) div 2")).as("triplet_count"))
    val triCount = triangles(g).agg(count(lit(1)).as("triangle_count"))
    triplets.crossJoin(triCount)
      .select(col("triplet_count"), col("triangle_count"),
        when(col("triplet_count") > 0,
          expr("(3000000 * triangle_count) div triplet_count"))
          .otherwise(lit(0L)).as("gcc_q"))
  }

  /** Average clustering coefficient (reference
    * `library/clustering/undirected/AverageClusteringCoefficient.java`):
    * mean of the quantized local coefficients over all non-isolated
    * vertices. sum_lcc_q is an exact long; the mean is one long/long
    * division in doubles — IEEE-identical across engines. */
  def averageClusteringCoefficient(g: Graph): DataFrame =
    localClusteringCoefficient(g)
      .agg(count(lit(1)).as("vertex_count"), sum(col("lcc_q")).as("sum_lcc_q"))
      .select(col("vertex_count"), col("sum_lcc_q").cast("long").as("sum_lcc_q"))
      .withColumn("avg_lcc_q",
        col("sum_lcc_q").cast("double") / col("vertex_count"))

  /** Undirected triadic census (reference `library/metric/undirected/
    * TriadicCensus.java`): counts of vertex triads with 0/1/2/3 edges,
    * derived in closed form from n, |E|, wedge count w = Σ C(deg,2) and the
    * triangle count — four scalar aggregates, no triad materialization
    * (identical to the reference's approach, which composes VertexMetrics +
    * TriangleCount rather than enumerating C(n,3) triads). */
  def triadicCensus(g: Graph): DataFrame = {
    val und = g.undirectedEdges.distinct().localCheckpoint()
    val em = und.groupBy(col("src")).agg(count(lit(1)).as("deg"))
      .agg((sum(col("deg")) / 2).cast("long").as("e"),
        sum(expr("deg * (deg - 1) div 2")).as("w"))
    val nRow = g.vertices.agg(count(lit(1)).as("n"))
    val tRow = triangles(g).agg(count(lit(1)).as("t3"))
    nRow.crossJoin(em).crossJoin(tRow)
      .select(
        expr("n*(n-1)*(n-2) div 6 - (e*(n-2) - 2*(w - 3*t3) - 3*t3) " +
          "- (w - 3*t3) - t3").as("t0"),
        expr("e*(n-2) - 2*(w - 3*t3) - 3*t3").as("t1"),
        expr("w - 3*t3").as("t2"),
        col("t3"))
  }

  /** Vertex metrics (reference `library/metric/undirected/VertexMetrics
    * .java`): vertex count, edge count, average degree, density, triplet
    * count, maximum degree, maximum triplets — one degree aggregation.
    * The two doubles are each a single division of exact longs. */
  def vertexMetrics(g: Graph): DataFrame = {
    val und = g.undirectedEdges.distinct()
    val degAgg = und.groupBy(col("src")).agg(count(lit(1)).as("deg"))
      .agg((sum(col("deg")) / 2).cast("long").as("edge_count"),
        sum(expr("deg * (deg - 1) div 2")).as("triplet_count"),
        max(col("deg")).as("maximum_degree"),
        max(expr("deg * (deg - 1) div 2")).as("maximum_triplets"))
    g.vertices.agg(count(lit(1)).as("vertex_count")).crossJoin(degAgg)
      .select(col("vertex_count"), col("edge_count"),
        (col("edge_count").cast("double") * 2 / col("vertex_count"))
          .as("average_degree"),
        (col("edge_count").cast("double") * 2 /
          (col("vertex_count") * (col("vertex_count") - 1))).as("density"),
        col("triplet_count").cast("long").as("triplet_count"),
        col("maximum_degree"), col("maximum_triplets"))
  }

  /** Edge metrics (reference `library/metric/undirected/EdgeMetrics.java`):
    * per vertex v, low(v) = #neighbors u with (deg v, v) < (deg u, u);
    * triangle triplets = C(low,2), rectangle triplets = C(low,2) +
    * low·(deg−low); output is the sum and max of each — exactly the
    * reference's accumulator math, as two joins + two aggregations. */
  def edgeMetrics(g: Graph): DataFrame = {
    val und = g.undirectedEdges.distinct().localCheckpoint()
    val deg = und.groupBy(col("src").as("vid")).agg(count(lit(1)).as("deg"))
    val perVertex = und
      .join(deg.select(col("vid").as("src"), col("deg").as("ds")), "src")
      .join(deg.select(col("vid").as("dst"), col("deg").as("dd")), "dst")
      .groupBy(col("src").as("vid"), col("ds").as("deg"))
      .agg(sum(when(col("ds") < col("dd") ||
        (col("ds") === col("dd") && col("src") < col("dst")), 1L)
        .otherwise(0L)).as("low"))
    perVertex
      .select(expr("low * (low - 1) div 2").as("tt"),
        (expr("low * (low - 1) div 2") +
          col("low") * (col("deg") - col("low"))).as("rt"))
      .agg(sum(col("tt")).cast("long").as("triangle_triplet_count"),
        sum(col("rt")).cast("long").as("rectangle_triplet_count"),
        max(col("tt")).as("maximum_triangle_triplets"),
        max(col("rt")).as("maximum_rectangle_triplets"))
  }

  /** Order-independent graph digest (reference `library/ChecksumHashCode
    * .java` — sums Java hashCodes; here a stable arithmetic mix so the
    * oracle can restate it): Σ (31·x + 17) mod 1e9+7 over vertex ids and
    * packed edge pairs. Two scans, no shuffle beyond the final fold. */
  def checksum(g: Graph): DataFrame = {
    val v = g.vertices
      .select(expr("(31 * vid + 17) % 1000000007").as("h"))
      .agg(sum(col("h")).cast("long").as("vertex_checksum"))
    val e = g.edges
      .select(expr("(31 * (src * 1000003 + dst) + 17) % 1000000007").as("h"))
      .agg(sum(col("h")).cast("long").as("edge_checksum"))
    v.crossJoin(e)
  }

  /** Gather-sum-apply variants (reference `library/GSAConnectedComponents
    * .java`, `library/GSASingleSourceShortestPaths.java`): GSA is an
    * execution strategy in Gelly, not different semantics — on Spark every
    * superstep is already gather (join edges⋈state) → sum (aggregate) →
    * apply (project), so these delegate to the same plans. */
  def gsaConnectedComponents(g: Graph, maxIter: Int = 50): DataFrame =
    connectedComponents(g, maxIter)

  def gsaShortestPaths(g: Graph, sources: DataFrame, maxIter: Int = 50): DataFrame =
    shortestPaths(g, sources, maxIter)

  /** PageRank with INTEGER-QUANTIZED rank mass (reference
    * `library/linkanalysis/PageRank` semantics; quantization ours):
    * ranks are longs in units of 1/scale, damping is the rational
    * dampNum/dampDen, and every per-edge contribution is the floor-division
    * `(q·dampNum) div (dampDen·deg)`. Long sums are associative, so the
    * result is independent of partitioning and shuffle order — exactly
    * hash-comparable across engines (the float formulation below is not).
    * Quantization error per vertex per iteration is < in-degree ulps of
    * 1/scale (≤ 1e-12 units). */
  def pageRankExact(g: Graph, iters: Int = 10, dampNum: Long = 85L,
                    dampDen: Long = 100L,
                    scale: Long = 1000000000000L): DataFrame = {
    // the RDD count is one job; `Dataset.count`'s exchange makes two
    val n = g.vertices.rdd.count()
    // no vertices, no rank mass to split (scale / n would divide by zero)
    if (n == 0) return g.vertices.select(col("vid"), lit(0L).as("rank_q"))
    // static per-superstep inputs are built ONCE: edges carry their source
    // degree (one join hoisted out of the loop), pre-partitioned on the
    // join key so each round shuffles only the rank state, never the
    // (much larger) edge set — localCheckpoint preserves the partitioning
    val ew = g.edges.select(col("src"), col("dst"))
      .join(g.outDegrees.withColumnRenamed("vid", "src"), "src")
      .repartition(col("src")).localCheckpoint()
    val base = (dampDen - dampNum) * scale / dampDen / n
    val init = g.vertices.select(col("vid"), lit(scale / n).as("q"))
    Iterate.bulk(init, iters) { cur =>
      val contribs = ew
        .join(cur.withColumnRenamed("vid", "src"), "src")
        .select(col("dst").as("vid"),
          expr(s"(q * $dampNum) div ($dampDen * deg)").as("c"))
        .groupBy("vid").agg(sum(col("c")).as("c"))
      g.vertices.select(col("vid"))
        .join(contribs, Seq("vid"), "left")
        .select(col("vid"), (lit(base) + coalesce(col("c"), lit(0L))).as("q"))
    }.select(col("vid"), col("q").as("rank_q"))
  }

  /** PageRank, fixed-iteration (reference `library/linkanalysis/PageRank`).
    * Double-precision sums shuffle in nondeterministic order, so exact
    * cross-engine hashes are not defined for this op — correctness is pinned
    * by GraphSpec against hand-computed values instead of the SQL oracle. */
  def pageRank(g: Graph, iters: Int = 10, damping: Double = 0.85): DataFrame = {
    val n = g.vertices.rdd.count()
    val ew = g.edges.select(col("src"), col("dst"))
      .join(g.outDegrees.withColumnRenamed("vid", "src"), "src")
      .repartition(col("src")).localCheckpoint()
    val init = g.vertices.select(col("vid"), lit(1.0 / n).as("rank"))
    Iterate.bulk(init, iters) { cur =>
      val contribs = ew
        .join(cur.withColumnRenamed("vid", "src"), "src")
        .select(col("dst").as("vid"), (col("rank") / col("deg")).as("c"))
        .groupBy("vid").agg(sum(col("c")).as("c"))
      g.vertices.select(col("vid"))
        .join(contribs, Seq("vid"), "left")
        .select(col("vid"),
          (lit((1.0 - damping) / n) +
            lit(damping) * coalesce(col("c"), lit(0.0))).as("rank"))
    }
  }
}
