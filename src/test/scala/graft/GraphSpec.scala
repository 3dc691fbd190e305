package graft

import org.apache.spark.sql.functions._
import graft.graph.{Graph, GraphAlgorithms}

/** Graph algorithms on hand-checkable graphs. */
class GraphSpec extends SparkSpecBase {

  private def g(es: Seq[(Long, Long, Long)], vs: Seq[Long]): Graph = {
    import spark.implicits._
    Graph(vs.toDF("vid"), es.toDF("src", "dst", "weight"))
  }

  test("connected components: two components, min label wins") {
    val graph = g(Seq((1L, 2L, 1L), (2L, 3L, 1L), (10L, 11L, 1L)),
      Seq(1L, 2L, 3L, 10L, 11L, 99L))
    val cc = GraphAlgorithms.connectedComponents(graph).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cc == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L,
      99L -> 99L))
  }

  test("shortest paths: relaxation beats the direct edge") {
    // 1→2 (5), 1→3 (1), 3→2 (1): dist(2) = 2 via 3, not 5
    val graph = g(Seq((1L, 2L, 5L), (1L, 3L, 1L), (3L, 2L, 1L)),
      Seq(1L, 2L, 3L, 4L))
    import spark.implicits._
    val dist = GraphAlgorithms.shortestPaths(graph, Seq(1L).toDF("vid"))
      .collect().map(r => r.getLong(0) -> Option(r.get(1))).toMap
    assert(dist(1L).contains(0L))
    assert(dist(2L).contains(2L))
    assert(dist(3L).contains(1L))
    assert(dist(4L).isEmpty) // unreachable
  }

  test("pagerank matches an independent local computation") {
    // A=1 → B,C ; B=2 → C ; C=3 → A
    val graph = g(Seq((1L, 2L, 1L), (1L, 3L, 1L), (2L, 3L, 1L), (3L, 1L, 1L)),
      Seq(1L, 2L, 3L))
    val iters = 10; val d = 0.85; val n = 3
    // independent reference computation
    var r = Map(1L -> 1.0 / n, 2L -> 1.0 / n, 3L -> 1.0 / n)
    for (_ <- 1 to iters) {
      val c2 = r(1L) / 2
      val c3 = r(1L) / 2 + r(2L) / 1
      val c1 = r(3L) / 1
      r = Map(
        1L -> ((1 - d) / n + d * c1),
        2L -> ((1 - d) / n + d * c2),
        3L -> ((1 - d) / n + d * c3))
    }
    val got = GraphAlgorithms.pageRank(graph, iters, d).collect()
      .map(x => x.getLong(0) -> x.getDouble(1)).toMap
    r.foreach { case (k, v) => assert(math.abs(got(k) - v) < 1e-12, s"$k") }
    assert(math.abs(got.values.sum - 1.0) < 1e-9)
  }

  test("subgraph keeps only edges between surviving vertices") {
    val graph = g(Seq((1L, 2L, 1L), (2L, 3L, 1L)), Seq(1L, 2L, 3L))
    val sub = graph.subgraph(col("vid") <= 2)
    assert(sub.vertices.count() == 2 && sub.edges.count() == 1)
  }

  test("pointer-jumping CC equals plain propagation on a long chain") {
    import spark.implicits._
    // 16-vertex path + an isolated vertex: diameter 15
    val vs = (0L to 16L).toDF("vid")
    val es = (0L until 15L).map(i => (i, i + 1, 1L)).toDF("src", "dst", "weight")
    val g = Graph(vs, es)
    val slow = GraphAlgorithms.connectedComponents(g, maxIter = 20)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val fast = GraphAlgorithms.connectedComponentsFast(g, maxIter = 7)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fast == slow, s"fast=$fast slow=$slow")
    assert((0L to 15L).forall(v => fast(v) == 0L) && fast(16L) == 16L)
  }

  test("summarize contracts same-valued vertices and groups edges by value pair") {
    import spark.implicits._
    val verts = Seq((1L, 10L), (2L, 10L), (3L, 20L)).toDF("vid", "value")
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L)).toDF("src", "dst")
    val (sv, se) = GraphAlgorithms.summarize(verts, edges)
    val svm = sv.collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(svm == Map(10L -> ((1L, 2L)), 20L -> ((3L, 1L))))
    val sem = se.collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(sem == Map((10L, 10L) -> 1L, (10L, 20L) -> 2L))
  }

  test("every iterating algorithm returns 0 rows with its schema on an empty graph") {
    import spark.implicits._
    val empty = Graph(Seq.empty[Long].toDF("vid"),
      Seq.empty[(Long, Long, Long)].toDF("src", "dst", "weight"))
    val runs = Seq(
      GraphAlgorithms.connectedComponents(empty) -> Seq("vid", "comp"),
      GraphAlgorithms.connectedComponentsFast(empty) -> Seq("vid", "comp"),
      GraphAlgorithms.shortestPaths(empty, Seq.empty[Long].toDF("vid")) ->
        Seq("vid", "dist"),
      GraphAlgorithms.labelPropagation(empty, maxIter = 2) -> Seq("vid", "label"),
      GraphAlgorithms.communityDetection(empty, maxIter = 2) -> Seq("vid", "label"),
      GraphAlgorithms.communityDetectionExact(empty, maxIter = 2) ->
        Seq("vid", "label", "score_q"),
      GraphAlgorithms.hits(empty) -> Seq("vid", "auth", "hub"),
      GraphAlgorithms.pageRank(empty) -> Seq("vid", "rank"),
      GraphAlgorithms.pageRankExact(empty) -> Seq("vid", "rank_q"))
    runs.foreach { case (df, cols) =>
      assert(df.columns.toSeq == cols)
      assert(df.count() == 0L, cols.mkString(","))
    }
  }

  test("Iterate.bulk stops at the first stride whose observed metrics say so") {
    import graft.operators.Iterate
    val init = spark.range(1).select(col("id").as("x"))
    val step = (cur: org.apache.spark.sql.DataFrame) =>
      cur.select((col("x") + 1).as("x"))
    // metrics ride only the strides' checkpoint jobs: every 2nd round
    for ((stride, want, seenWant) <- Seq((1, 3L, Seq(1L, 2L, 3L)), (2, 4L, Seq(2L, 4L)))) {
      val seen = scala.collection.mutable.ArrayBuffer[Long]()
      val out = Iterate.bulk(init, maxIter = 10, checkpointEvery = stride,
        metrics = Seq(max(col("x")).as("m")),
        done = m => { seen += m("m").asInstanceOf[Long]; seen.last >= 3L })(step)
      assert(out.collect().map(_.getLong(0)).toSeq == Seq(want))
      assert(seen.toSeq == seenWant)
    }
    // a frame the last stride checkpointed is not checkpointed again:
    // one job for the initial frame, one per round
    val (_, jobs) = jobsDuring(Iterate.bulk(init, maxIter = 3, checkpointEvery = 1)(step))
    assert(jobs == 4, s"jobs=$jobs")
  }

  test("Iterate.bulk and Iterate.delta at maxIter = 0 return the initial rows") {
    import graft.operators.Iterate
    val init = spark.range(3).select(col("id").as("x"), (col("id") * 10).as("y"))
    val bulk = Iterate.bulk(init, maxIter = 0)(_ => sys.error("no round runs"))
    assert(bulk.collect().map(r => (r.getLong(0), r.getLong(1))).toSet ==
      Set((0L, 0L), (1L, 10L), (2L, 20L)))
    val delta = Iterate.delta(init, maxIter = 0)(
      _.select(col("x")), _.filter(col("y") > 0))((_, _) => sys.error("no round runs"))
    assert(delta.collect().map(_.getLong(0)).toSet == Set(0L, 1L, 2L))
  }

  test("pageRankExact hits the 2-cycle fixed point exactly") {
    // 1⇄2: rank mass never moves off 1/2; quantized q stays scale/2
    val graph = g(Seq((1L, 2L, 1L), (2L, 1L, 1L)), Seq(1L, 2L))
    val got = GraphAlgorithms.pageRankExact(graph, iters = 3).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 500000000000L, 2L -> 500000000000L))
  }

  test("label propagation: triangle converges to max label, isolated keeps own") {
    val graph = g(Seq((0L, 1L, 1L), (1L, 2L, 1L), (0L, 2L, 1L)),
      Seq(0L, 1L, 2L, 9L))
    val got = GraphAlgorithms.labelPropagation(graph, maxIter = 2).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(0L -> 2L, 1L -> 2L, 2L -> 2L, 9L -> 9L), s"$got")
  }

  test("community detection follows the heavier edge on ties") {
    // 3's neighbors: 1 (weight 5) and 2 (weight 1) → adopts 1's label even
    // though 2 is the higher label
    val graph = g(Seq((1L, 3L, 5L), (2L, 3L, 1L)), Seq(1L, 2L, 3L))
    val got = GraphAlgorithms.communityDetection(graph, maxIter = 1).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got(3L) == 1L, s"$got")
  }

  test("unnormalized HITS on a 2-leaf star: auth(hub)=4, hub(leaf)=4") {
    val graph = g(Seq((1L, 9L, 1L), (2L, 9L, 1L)), Seq(1L, 2L, 9L))
    val got = GraphAlgorithms.hits(graph, iters = 2).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got(9L) == ((4L, 0L)), s"$got")
    assert(got(1L) == ((0L, 4L)) && got(2L) == ((0L, 4L)), s"$got")
  }

  test("jaccard index on a 4-cycle: opposite corners are identical neighborhoods") {
    val graph = g(Seq((0L, 1L, 1L), (1L, 2L, 1L), (2L, 3L, 1L), (3L, 0L, 1L)),
      Seq(0L, 1L, 2L, 3L))
    val got = GraphAlgorithms.jaccardIndex(graph).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(3)).toMap
    assert(got == Map((0L, 2L) -> 1.0, (1L, 3L) -> 1.0), s"$got")
  }

  test("adamic-adar on a 4-cycle: two degree-2 middles per opposite pair") {
    val graph = g(Seq((0L, 1L, 1L), (1L, 2L, 1L), (2L, 3L, 1L), (3L, 0L, 1L)),
      Seq(0L, 1L, 2L, 3L))
    val wq = math.floor(1e6 / math.log(2.0)).toLong // 1442695
    val got = GraphAlgorithms.adamicAdar(graph).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got == Map((0L, 2L) -> 2 * wq, (1L, 3L) -> 2 * wq), s"$got")
  }

  test("communityDetectionExact: path graph, 2 supersteps, hand-computed") {
    // path 1-2-3, weight 1, delta 1/2, S=8 (penalties 4 then 2):
    // step1: v1←(2,8)→label2 score4; v2←{(1,8),(3,8)} tie→label1 score4;
    //        v3←(2,8)→label2 score4
    // step2: v2 receives label2 from BOTH sides: sum=8 but the new score
    //        uses the max INDIVIDUAL message (4) − 2 = 2 — pins sum-vs-max;
    //        v1←(1,4)→label1 score2; v3←(1,4)→label1 score2
    val graph = g(Seq((1L, 2L, 1L), (2L, 3L, 1L)), Seq(1L, 2L, 3L))
    val got = GraphAlgorithms.communityDetectionExact(graph, maxIter = 2,
      deltaNum = 1L, deltaDen = 2L, scale = 8L).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got == Map(1L -> ((1L, 2L)), 2L -> ((2L, 2L)), 3L -> ((1L, 2L))),
      s"$got")
  }

  test("communityDetectionExact: isolated vertex keeps state; tie to lowest") {
    // star 1←3→2 (equal weights): center 3 ties between labels 1,2 → 1
    val graph = g(Seq((1L, 3L, 2L), (2L, 3L, 2L)), Seq(1L, 2L, 3L, 9L))
    val got = GraphAlgorithms.communityDetectionExact(graph, maxIter = 1,
      scale = 1000000L).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got(3L) == ((1L, 1500000L)), s"$got") // 2e6·1 max − 5e5
    assert(got(9L) == ((9L, 1000000L)), s"$got") // untouched
  }

  test("bipartite projections: one edge per wedge, both orders, values carried") {
    import spark.implicits._
    import graft.graph.BipartiteGraph
    // tops 1,2 both linked to bottom 10; top 2 also to bottom 20
    val bg = BipartiteGraph(
      Seq(1L, 2L).toDF("vid"), Seq(10L, 20L).toDF("vid"),
      Seq((1L, 10L, 5L), (2L, 10L, 7L), (2L, 20L, 9L))
        .toDF("top", "bottom", "weight"))
    val top = bg.projectionTopSimple.edges.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(top == Set((1L, 2L, 5L, 7L), (2L, 1L, 7L, 5L)), s"$top")
    val bottom = bg.projectionBottomSimple.edges.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(bottom == Set((10L, 20L, 7L, 9L), (20L, 10L, 9L, 7L)), s"$bottom")
  }

  // triangle 1-2-3 with pendant 3-4: degrees 2,2,3,1; one triangle;
  // wedges Σ C(deg,2) = 1+1+3+0 = 5
  private def paw: Graph =
    g(Seq((1L, 2L, 1L), (2L, 3L, 1L), (1L, 3L, 1L), (3L, 4L, 1L)),
      Seq(1L, 2L, 3L, 4L))

  test("local clustering coefficient on the paw graph") {
    val got = GraphAlgorithms.localClusteringCoefficient(paw).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(got(1L) == ((2L, 1L, 1000000L)), s"$got")
    assert(got(2L) == ((2L, 1L, 1000000L)), s"$got")
    assert(got(3L) == ((3L, 1L, 333333L)), s"$got")
    assert(got(4L) == ((1L, 0L, 0L)), s"$got")
  }

  test("global + average clustering coefficient on the paw graph") {
    val gl = GraphAlgorithms.globalClusteringCoefficient(paw).collect().head
    assert((gl.getLong(0), gl.getLong(1), gl.getLong(2)) == ((5L, 1L, 600000L)))
    val av = GraphAlgorithms.averageClusteringCoefficient(paw).collect().head
    assert(av.getLong(0) == 4L && av.getLong(1) == 2333333L)
    assert(math.abs(av.getDouble(2) - 2333333.0 / 4) < 1e-9)
  }

  test("triadic census on the paw graph: (0,1,2,1)") {
    val r = GraphAlgorithms.triadicCensus(paw).collect().head
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) ==
      ((0L, 1L, 2L, 1L)), s"$r")
  }

  test("vertex metrics on the paw graph") {
    val r = GraphAlgorithms.vertexMetrics(paw).collect().head
    assert(r.getLong(0) == 4L && r.getLong(1) == 4L) // vertices, edges
    assert(r.getDouble(2) == 2.0)                    // average degree
    assert(math.abs(r.getDouble(3) - 8.0 / 12) < 1e-12) // density
    assert(r.getLong(4) == 5L && r.getLong(5) == 3L && r.getLong(6) == 3L)
  }

  test("edge metrics on the paw graph match the reference accumulator math") {
    // low-order neighbor counts: v1→2, v2→1, v3→0, v4→1
    // tt per vertex: 1,0,0,0 (Σ=1 = triangle count); rt: 1,1,0,0
    val r = GraphAlgorithms.edgeMetrics(paw).collect().head
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) ==
      ((1L, 2L, 1L, 1L)), s"$r")
  }

  test("checksum is order-independent and matches hand arithmetic") {
    val r = GraphAlgorithms.checksum(paw).collect().head
    assert(r.getLong(0) == 31L * (1 + 2 + 3 + 4) + 4 * 17, s"$r")
    val eh = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L))
      .map { case (s0, d) => (31L * (s0 * 1000003L + d) + 17) % 1000000007L }
      .sum
    assert(r.getLong(1) == eh, s"$r")
  }

  test("GSA variants produce identical results to their base algorithms") {
    import spark.implicits._
    val graph = g(Seq((1L, 2L, 1L), (2L, 3L, 2L), (10L, 11L, 1L)),
      Seq(1L, 2L, 3L, 10L, 11L))
    val a = GraphAlgorithms.connectedComponents(graph).collect().toSet
    val b = GraphAlgorithms.gsaConnectedComponents(graph).collect().toSet
    assert(a == b)
    val src = Seq(1L).toDF("vid")
    val c = GraphAlgorithms.shortestPaths(graph, src).collect().toSet
    val d = GraphAlgorithms.gsaShortestPaths(graph, src).collect().toSet
    assert(c == d)
  }
}
