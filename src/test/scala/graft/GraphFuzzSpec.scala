package graft

import org.apache.spark.sql.functions._
import graft.graph.{Graph, GraphAlgorithms}

/** Seeded randomized equivalence for the graph library: one moderately
  * sized random graph per algorithm, checked against an independent local
  * brute-force implementation (union-find, Dijkstra, O(n³) triangle scan).
  * Catches topology corner cases hand fixtures miss — dangling chains,
  * odd components, isolated vertices. */
class GraphFuzzSpec extends SparkSpecBase {

  private val rnd = new scala.util.Random(0x5EED)
  private val n = 60
  private val vids = (0L until n).toVector
  // sparse undirected edge set (p≈0.045) with weights 1..5
  private val rawEdges: Vector[(Long, Long, Long)] =
    (for {
      a <- 0 until n; b <- (a + 1) until n
      if rnd.nextDouble() < 0.045
    } yield (a.toLong, b.toLong, (rnd.nextInt(5) + 1).toLong)).toVector

  private def graph: Graph = {
    import spark.implicits._
    Graph(vids.toDF("vid"), rawEdges.toDF("src", "dst", "weight"))
  }

  test("connected components (both variants) match a local union-find") {
    val parent = scala.collection.mutable.ArrayBuffer.range(0, n)
    def find(x: Int): Int = if (parent(x) == x) x else { parent(x) = find(parent(x)); parent(x) }
    rawEdges.foreach { case (a, b, _) =>
      val (ra, rb) = (find(a.toInt), find(b.toInt))
      if (ra != rb) parent(ra) = rb
    }
    val comp = vids.map(v => v -> vids.filter(u => find(u.toInt) == find(v.toInt)).min).toMap
    val plain = GraphAlgorithms.connectedComponents(graph, maxIter = 60)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val fast = GraphAlgorithms.connectedComponentsFast(graph, maxIter = 20)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(plain == comp, "plain CC diverged from union-find")
    assert(fast == comp, "pointer-jumping CC diverged from union-find")
  }

  test("label propagation and community detection match a local synchronous vote") {
    // both directions of every edge; a vertex adopts the label with the
    // best score among its neighbors' labels (ties to the highest label)
    // and keeps its own when it has no neighbors
    val nbrs = (rawEdges ++ rawEdges.map(e => (e._2, e._1, e._3))).groupBy(_._1)
    def vote(rounds: Int, score: Seq[(Long, Long)] => Long): Map[Long, Long] =
      (1 to rounds).foldLeft(vids.map(v => v -> v).toMap) { (lab, _) =>
        vids.map { v =>
          val byLabel = nbrs.getOrElse(v, Vector.empty)
            .map(e => (lab(e._2), e._3)).groupBy(_._1)
          v -> (if (byLabel.isEmpty) lab(v)
            else byLabel.iterator.map { case (l, vs) => (score(vs), l) }.max._2)
        }.toMap
      }
    def m(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    for (rounds <- Seq(1, 4)) {
      assert(m(GraphAlgorithms.labelPropagation(graph, rounds)) ==
        vote(rounds, _.size.toLong), s"LP, $rounds rounds")
      assert(m(GraphAlgorithms.communityDetection(graph, rounds)) ==
        vote(rounds, _.map(_._2).sum), s"CD, $rounds rounds")
    }
  }

  test("multi-source shortest paths match local Dijkstra") {
    import spark.implicits._
    val sources = vids.filter(_ % 17 == 0)
    // local Dijkstra over the DIRECTED edges (shortestPaths is directed)
    val adj = rawEdges.groupBy(_._1).map { case (k, es) =>
      k -> es.map(e => (e._2, e._3))
    }
    val dist = scala.collection.mutable.Map[Long, Long]()
    val pq = scala.collection.mutable.PriorityQueue[(Long, Long)]()(
      Ordering.by(-_._1))
    sources.foreach { s => dist(s) = 0L; pq.enqueue((0L, s)) }
    while (pq.nonEmpty) {
      val (d, v) = pq.dequeue()
      if (dist(v) == d)
        adj.getOrElse(v, Vector.empty).foreach { case (u, w) =>
          if (dist.getOrElse(u, Long.MaxValue) > d + w) {
            dist(u) = d + w; pq.enqueue((d + w, u))
          }
        }
    }
    val got = GraphAlgorithms.shortestPaths(graph, sources.toDF("vid"),
        maxIter = 60)
      .collect().map(r => r.getLong(0) -> Option(r.get(1)).map(_.asInstanceOf[Long])).toMap
    vids.foreach { v =>
      assert(got(v) == dist.get(v), s"vid $v: got ${got(v)}, want ${dist.get(v)}")
    }
  }

  test("triangle enumeration matches a local cubic scan") {
    val eset = rawEdges.map(e => (e._1, e._2)).toSet
    def linked(a: Long, b: Long) = eset((a min b, a max b))
    val expect = (for {
      a <- vids; b <- vids if a < b && linked(a, b)
      c <- vids if b < c && linked(b, c) && linked(a, c)
    } yield (a, b, c)).toSet
    val got = GraphAlgorithms.triangles(graph).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == expect)
  }

  test("local clustering coefficient matches brute-force per-vertex counts") {
    val eset = rawEdges.map(e => (e._1, e._2)).toSet
    def linked(a: Long, b: Long) = a != b && eset((a min b, a max b))
    val expect = vids.flatMap { v =>
      val nbrs = vids.filter(linked(v, _))
      if (nbrs.isEmpty) None
      else {
        val tri = (for {
          x <- nbrs; y <- nbrs if x < y && linked(x, y)
        } yield 1).size.toLong
        Some(v -> ((nbrs.size.toLong, tri)))
      }
    }.toMap
    val got = GraphAlgorithms.localClusteringCoefficient(graph).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got == expect)
  }

  test("shortest paths with the 2-hop closure equal the plain relaxation") {
    import spark.implicits._
    // r13 optimization contract: Bellman-Ford over e \u222a e\u00b2 reaches the
    // SAME fixpoint in fewer supersteps — checked on the hubby fuzz graph,
    // not just the chain fixture the bench row uses
    val sources = vids.filter(_ % 17 == 0).toDF("vid")
    def m(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getLong(0) -> Option(r.get(1))).toMap
    val plain = m(GraphAlgorithms.shortestPaths(graph, sources, maxIter = 60))
    val doubled = m(GraphAlgorithms.shortestPaths(graph, sources,
      maxIter = 60, doubleHops = true))
    assert(doubled == plain)
  }
}
