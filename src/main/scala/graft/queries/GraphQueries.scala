package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.graph.{Graph, GraphAlgorithms}

/** Graph inventory (SURVEY §2.8 Gelly): deterministic fixture-derived graphs
  * whose algorithm results have independent closed forms the DuckDB oracle
  * can state directly — the oracle is ground truth, not a re-run of the
  * algorithm.
  *
  *  - chain graph: documents 0..N linked i→i+1 within blocks of 10
  *    (components and in-block prefix distances are closed-form);
  *  - bipartite graph: customers ↔ nation hubs (components = nations).
  */
object GraphQueries extends QuerySet {

  /** doc chain: edges i→i+1 unless i ends a 10-block; weight (i%3)+1. */
  private def chainGraph(s: SparkSession, dir: String): Graph = {
    val docs = Tables.load(s, dir, "documents").select(col("doc_id").as("vid"))
    val edges = docs.filter(col("vid") % 10 =!= 9)
      .select(col("vid").as("src"), (col("vid") + 1).as("dst"),
        (col("vid") % 3 + 1).cast("long").as("weight"))
    Graph(docs, edges)
  }

  /** customers ↔ nation hub vertices (hub vid = 1000000 + nationkey). */
  private def bipartiteGraph(s: SparkSession, dir: String): Graph = {
    val cust = Tables.load(s, dir, "customer")
    val vertices = cust.select(col("c_custkey").as("vid"))
      .union(cust.select((col("c_nationkey") + 1000000L).as("vid")).distinct())
    val edges = cust.select(col("c_custkey").as("src"),
      (col("c_nationkey") + 1000000L).as("dst"))
    Graph(vertices, edges)
  }

  /** the bipartite star with edge weight (custkey % 5) + 1 */
  private def weightedStarGraph(s: SparkSession, dir: String): Graph = {
    val cust = Tables.load(s, dir, "customer")
    val vertices = cust.select(col("c_custkey").as("vid"))
      .union(cust.select((col("c_nationkey") + 1000000L).as("vid")).distinct())
    val edges = cust.select(col("c_custkey").as("src"),
      (col("c_nationkey") + 1000000L).as("dst"),
      (col("c_custkey") % 5 + 1).cast("long").as("weight"))
    Graph(vertices, edges)
  }

  /** Caps the superstep loop's per-round checkpoint jobs, which pay a
    * fixed cost per shuffle partition on thousands of rows of state. `f`
    * builds its graph on the capped session it is given. */
  private def capped(s: SparkSession, dir: String)(f: SparkSession => DataFrame): DataFrame =
    graft.operators.PartitionOps.withShufflePartitions(s,
      graft.operators.PartitionOps.derivedShufflePartitions(s, dir))(f)

  override def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // pointer-jumping CC down 10-chains: log-depth convergence (5 rounds
    // reach offset 8; plain propagation needs 10)
    "graph_cc_chain" -> ((s, dir) =>
      capped(s, dir)(c => GraphAlgorithms.connectedComponentsFast(chainGraph(c, dir), maxIter = 8))),

    // star components around nation hubs
    "graph_cc_bipartite" -> ((s, dir) =>
      capped(s, dir)(c => GraphAlgorithms.connectedComponents(bipartiteGraph(c, dir), maxIter = 5))),

    // multi-source SSSP from every block head
    "graph_sssp_chain" -> ((s, dir) => capped(s, dir) { c =>
      val g = chainGraph(c, dir)
      val sources = g.vertices.filter(col("vid") % 10 === 0)
      // chain graph: degree ≤ 2, diameter 9 — exactly the shape the
      // 2-hop closure halves the superstep count for (same fixpoint)
      GraphAlgorithms.shortestPaths(g, sources, maxIter = 15, doubleHops = true)
    }),

    // PageRank on the chain graph, integer-quantized so long sums are
    // associative and the DuckDB oracle hash-matches exactly (the chain's
    // in-degree ≤ 1 lets the oracle unroll the 5 iterations as CTEs)
    "graph_pagerank" -> ((s, dir) =>
      capped(s, dir)(c => GraphAlgorithms.pageRankExact(chainGraph(c, dir), iters = 5))),

    // degree statistics of the undirected chain graph
    // neighborhood aggregation (reduceOnNeighbors, direction ALL): per
    // vertex, count + sum of neighbor ids on the chain graph
    "graph_neighbor_agg" -> ((s, dir) =>
      chainGraph(s, dir).reduceOnNeighbors("vid", "all",
        Seq(count(lit(1)).as("n_nbr"), sum(col("nbr_vid")).as("sum_nbr")))),

    "graph_degrees" -> ((s, dir) => {
      val g = chainGraph(s, dir)
      g.undirectedEdges.groupBy(col("src").as("vid"))
        .agg(count(lit(1)).as("degree"))
    }),

    // triangle enumeration on chain + skip-2 edges (closed-form triangles
    // (i, i+1, i+2) inside each 10-block)
    "graph_triangles" -> ((s, dir) =>
      GraphAlgorithms.triangles(skipGraph(s, dir))),

    // label propagation on the bipartite star graph: synchronous LP on a
    // star alternates with period 2, so after an EVEN iteration count the
    // labels are closed-form — customers carry the nation's max custkey,
    // hubs their own vid
    "graph_label_propagation" -> ((s, dir) =>
      capped(s, dir)(c => GraphAlgorithms.labelPropagation(bipartiteGraph(c, dir), maxIter = 4))),

    // weighted community detection on the same star, edge weight
    // (custkey % 5) + 1: hubs vote for the max-weight (then max-id) customer
    "graph_community" -> ((s, dir) =>
      capped(s, dir)(c => GraphAlgorithms.communityDetection(weightedStarGraph(c, dir), maxIter = 4))),

    // FULL-score community detection (hop attenuation, quantized), 2
    // supersteps on the weighted star: customers adopt the nation's lowest
    // max-weight custkey, hubs bounce back to their own id; scores are
    // closed-form in the nation's max weight w*
    "graph_community_exact" -> ((s, dir) =>
      capped(s, dir)(c => GraphAlgorithms.communityDetectionExact(weightedStarGraph(c, dir), maxIter = 2))),

    // HITS on the star graph, 2 unnormalized iterations: authority mass
    // concentrates on hubs (= nation size squared), hub mass on customers
    "graph_hits" -> ((s, dir) =>
      capped(s, dir)(c => GraphAlgorithms.hits(bipartiteGraph(c, dir), iters = 2))),

    // neighborhood Jaccard on chain + skip-2 edges
    "graph_jaccard" -> ((s, dir) =>
      GraphAlgorithms.jaccardIndex(skipGraph(s, dir))),

    // Adamic-Adar link prediction on the same graph (quantized 1/ln(deg))
    "graph_adamic_adar" -> ((s, dir) =>
      GraphAlgorithms.adamicAdar(skipGraph(s, dir))),

    // graph summarization: documents valued by their 10-block merge into
    // supervertices; chain edges contract to per-block self-edges
    "graph_summarize_vertices" -> ((s, dir) => {
      val verts = Tables.load(s, dir, "documents")
        .select(col("doc_id").as("vid"), expr("doc_id div 10").as("value"))
      GraphAlgorithms.summarize(verts, chainGraph(s, dir).edges)._1
    }),

    "graph_summarize_edges" -> ((s, dir) => {
      val verts = Tables.load(s, dir, "documents")
        .select(col("doc_id").as("vid"), expr("doc_id div 10").as("value"))
      GraphAlgorithms.summarize(verts, chainGraph(s, dir).edges)._2
    }),

    // clustering metrics family on chain + skip-2 edges: the oracle restates
    // the same math relationally (wedge-join triangles, degree combinatorics)
    "graph_local_clustering" -> ((s, dir) =>
      GraphAlgorithms.localClusteringCoefficient(skipGraph(s, dir))),

    "graph_global_clustering" -> ((s, dir) =>
      GraphAlgorithms.globalClusteringCoefficient(skipGraph(s, dir))),

    "graph_avg_clustering" -> ((s, dir) =>
      GraphAlgorithms.averageClusteringCoefficient(skipGraph(s, dir))),

    // triad census from scalar aggregates (n, |E|, wedges, triangles)
    "graph_triadic_census" -> ((s, dir) =>
      GraphAlgorithms.triadicCensus(skipGraph(s, dir))),

    "graph_vertex_metrics" -> ((s, dir) =>
      GraphAlgorithms.vertexMetrics(skipGraph(s, dir))),

    "graph_edge_metrics" -> ((s, dir) =>
      GraphAlgorithms.edgeMetrics(skipGraph(s, dir))),

    // order-independent digest of the vertex and edge sets
    "graph_checksum" -> ((s, dir) =>
      GraphAlgorithms.checksum(skipGraph(s, dir))),

    // bipartite projections: docs belong to their own 10-block AND the
    // next one; top projection links docs sharing a block (one edge per
    // shared block), bottom projection links adjacent blocks per doc
    "graph_bipartite_top" -> ((s, dir) =>
      docBlockBipartite(s, dir).projectionTopSimple.edges),

    "graph_bipartite_bottom" -> ((s, dir) =>
      docBlockBipartite(s, dir).projectionBottomSimple.edges)
  )

  /** doc→{own block, next block} bipartite fixture, weight d%7+1. */
  private def docBlockBipartite(s: SparkSession, dir: String): graft.graph.BipartiteGraph = {
    val docs = Tables.load(s, dir, "documents")
    val tops = docs.select(col("doc_id").as("vid"))
    val bottoms = docs.select(expr("doc_id div 10").as("vid"))
      .union(docs.select((expr("doc_id div 10") + 1).as("vid"))).distinct()
    val edges = docs.select(col("doc_id").as("top"),
        expr("doc_id div 10").as("bottom"),
        (col("doc_id") % 7 + 1).as("weight"))
      .union(docs.select(col("doc_id").as("top"),
        (expr("doc_id div 10") + 1).as("bottom"),
        (col("doc_id") % 7 + 1).as("weight")))
    graft.graph.BipartiteGraph(tops, bottoms, edges)
  }

  /** Shared oracle CTE prefix: the skip graph's directed edges, its
    * undirected view, degrees, and wedge-closed triangles — the same
    * relational restatement the jaccard/adamic-adar oracles use. */
  private val skipCtes: String =
    """WITH e AS (
      |  SELECT doc_id AS src, doc_id + 1 AS dst
      |  FROM documents WHERE doc_id % 10 <> 9
      |  UNION ALL
      |  SELECT doc_id, doc_id + 2 FROM documents WHERE doc_id % 10 <= 7),
      |und AS (SELECT src, dst FROM e UNION SELECT dst, src FROM e),
      |deg AS (SELECT src AS vid, COUNT(*) AS degree FROM und GROUP BY src),
      |o AS (SELECT src, dst FROM und WHERE src < dst),
      |tri AS (
      |  SELECT o1.src AS a, o1.dst AS b, o2.dst AS c
      |  FROM o o1 JOIN o o2 ON o1.dst = o2.src
      |  WHERE EXISTS (
      |    SELECT 1 FROM o o3 WHERE o3.src = o1.src AND o3.dst = o2.dst)),
      |tc AS (
      |  SELECT vid, COUNT(*) AS tri_cnt FROM (
      |    SELECT a AS vid FROM tri
      |    UNION ALL SELECT b FROM tri
      |    UNION ALL SELECT c FROM tri) tv GROUP BY vid),
      |lcc AS (
      |  SELECT d.vid, d.degree,
      |    CAST(COALESCE(t.tri_cnt, 0) AS BIGINT) AS tri_cnt,
      |    CAST(CASE WHEN d.degree >= 2
      |      THEN (2000000 * COALESCE(t.tri_cnt, 0)) // (d.degree * (d.degree - 1))
      |      ELSE 0 END AS BIGINT) AS lcc_q
      |  FROM deg d LEFT JOIN tc t ON t.vid = d.vid)""".stripMargin

  /** chain + skip-2 graph over documents (shared by triangles / jaccard /
    * adamic-adar). */
  private def skipGraph(s: SparkSession, dir: String): Graph = {
    val docs = Tables.load(s, dir, "documents").select(col("doc_id").as("vid"))
    val e1 = docs.filter(col("vid") % 10 =!= 9)
      .select(col("vid").as("src"), (col("vid") + 1).as("dst"))
    val e2 = docs.filter(col("vid") % 10 <= 7)
      .select(col("vid").as("src"), (col("vid") + 2).as("dst"))
    Graph(docs, e1.union(e2))
  }

  /** Exact PageRank oracle: the chain's in-degree is ≤ 1 (v's only
    * predecessor is v−1 inside its 10-block, out-degree 1), so each
    * quantized iteration is a self-join, unrolled as chained CTEs.
    * Constants mirror pageRankExact: scale 1e12, damping 85/100 →
    * q0 = 1e12 // n, base = 15·1e12 // 100 // n = 1.5e11 // n,
    * contribution = (q_prev · 85) // 100. */
  private val pageRankOracle: String = {
    val steps = (1 to 5).map { k =>
      s"""pr$k AS (
         |  SELECT d.doc_id AS vid,
         |    150000000000 // n.n + coalesce((p.q * 85) // 100, 0) AS q
         |  FROM documents d CROSS JOIN n
         |  LEFT JOIN pr${k - 1} p
         |    ON p.vid = d.doc_id - 1 AND d.doc_id % 10 <> 0)"""
        .stripMargin
    }.mkString(",\n")
    s"""WITH n AS (SELECT COUNT(*) AS n FROM documents),
       |pr0 AS (SELECT doc_id AS vid, 1000000000000 // n.n AS q
       |        FROM documents CROSS JOIN n),
       |$steps
       |SELECT vid, CAST(q AS BIGINT) AS rank_q FROM pr5""".stripMargin
  }

  override def oracle: Map[String, String] = Map(
    "graph_pagerank" -> pageRankOracle,

    // block contraction closed forms
    "graph_summarize_vertices" ->
      """SELECT doc_id // 10 AS value, MIN(doc_id) AS super_vid,
        |  COUNT(*) AS member_count
        |FROM documents GROUP BY doc_id // 10""".stripMargin,

    "graph_summarize_edges" ->
      """SELECT doc_id // 10 AS src_value, (doc_id + 1) // 10 AS dst_value,
        |  COUNT(*) AS edge_count
        |FROM documents WHERE doc_id % 10 <> 9
        |GROUP BY 1, 2""".stripMargin,
    // component = block head (min label in the chain)
    "graph_cc_chain" ->
      """SELECT doc_id AS vid, doc_id - doc_id % 10 AS comp
        |FROM documents""".stripMargin,

    // component = min customer key of the nation (customer keys < 1e6)
    "graph_cc_bipartite" ->
      """WITH comp AS (
        |  SELECT c_nationkey, MIN(c_custkey) AS comp
        |  FROM customer GROUP BY c_nationkey)
        |SELECT c.c_custkey AS vid, comp.comp AS comp
        |FROM customer c JOIN comp ON c.c_nationkey = comp.c_nationkey
        |UNION ALL
        |SELECT DISTINCT c.c_nationkey + 1000000 AS vid, comp.comp AS comp
        |FROM customer c JOIN comp ON c.c_nationkey = comp.c_nationkey""".stripMargin,

    // neighbor count + id-sum derived from the SAME edge construction the
    // engine uses (edge i→i+1 unless i ends a 10-block; neighbor values
    // join the vertex table) — agrees with reduceOnNeighbors for any
    // corpus size, not only block-aligned fixtures
    "graph_neighbor_agg" ->
      """WITH edges AS (
        |  SELECT doc_id AS src, doc_id + 1 AS dst
        |  FROM documents WHERE doc_id % 10 <> 9),
        |und AS (
        |  SELECT src, dst FROM edges
        |  UNION ALL SELECT dst, src FROM edges),
        |nbrs AS (
        |  SELECT u.src AS vid, d.doc_id AS nbr
        |  FROM und u JOIN documents d ON d.doc_id = u.dst)
        |SELECT vid, CAST(COUNT(*) AS BIGINT) AS n_nbr,
        |  CAST(SUM(nbr) AS BIGINT) AS sum_nbr
        |FROM nbrs GROUP BY vid""".stripMargin,

    // undirected chain degree from the same edges CTE (the engine counts
    // undirected edge endpoints without a vertex join)
    "graph_degrees" ->
      """WITH edges AS (
        |  SELECT doc_id AS src, doc_id + 1 AS dst
        |  FROM documents WHERE doc_id % 10 <> 9),
        |und AS (
        |  SELECT src, dst FROM edges
        |  UNION ALL SELECT dst, src FROM edges)
        |SELECT src AS vid, CAST(COUNT(*) AS BIGINT) AS degree
        |FROM und GROUP BY src""".stripMargin,

    // triangles (i, i+1, i+2) require both chain edges and the skip edge —
    // i%10 <= 7 keeps all three vertices inside one block
    "graph_triangles" ->
      """SELECT doc_id AS a, doc_id + 1 AS b, doc_id + 2 AS c
        |FROM documents
        |WHERE doc_id % 10 <= 7
        |  AND doc_id + 2 <= (SELECT MAX(doc_id) FROM documents)""".stripMargin,

    // closed form after an EVEN LP iteration count on a star (see query)
    "graph_label_propagation" ->
      """WITH m AS (
        |  SELECT c_nationkey, MAX(c_custkey) AS mx
        |  FROM customer GROUP BY c_nationkey)
        |SELECT c.c_custkey AS vid, m.mx AS label
        |FROM customer c JOIN m ON c.c_nationkey = m.c_nationkey
        |UNION ALL
        |SELECT DISTINCT c_nationkey + 1000000 AS vid,
        |  c_nationkey + 1000000 AS label
        |FROM customer""".stripMargin,

    // weighted LP: hubs adopt the max-(weight, id) customer of the nation
    "graph_community" ->
      """WITH m AS (
        |  SELECT c_nationkey,
        |    arg_max(c_custkey, (c_custkey % 5 + 1) * 100000000 + c_custkey)
        |      AS mx
        |  FROM customer GROUP BY c_nationkey)
        |SELECT c.c_custkey AS vid, m.mx AS label
        |FROM customer c JOIN m ON c.c_nationkey = m.c_nationkey
        |UNION ALL
        |SELECT DISTINCT c_nationkey + 1000000 AS vid,
        |  c_nationkey + 1000000 AS label
        |FROM customer""".stripMargin,

    // closed form after 2 exact-CD supersteps on the weighted star (see
    // query comment): w* = nation max weight, cstar = lowest argmax custkey
    "graph_community_exact" ->
      """WITH w AS (
        |  SELECT c_custkey, c_nationkey, c_custkey % 5 + 1 AS wgt
        |  FROM customer),
        |best AS (
        |  SELECT c_nationkey, wgt AS wstar, c_custkey AS cstar FROM (
        |    SELECT c_nationkey, wgt, c_custkey,
        |      row_number() OVER (PARTITION BY c_nationkey
        |        ORDER BY wgt DESC, c_custkey ASC) AS rn
        |    FROM w) t WHERE rn = 1)
        |SELECT w.c_custkey AS vid, b.cstar AS label,
        |  CAST((1000000 * b.wstar - 500000) * w.wgt - 250000 AS BIGINT)
        |    AS score_q
        |FROM w JOIN best b ON b.c_nationkey = w.c_nationkey
        |UNION ALL
        |SELECT DISTINCT w.c_nationkey + 1000000 AS vid,
        |  w.c_nationkey + 1000000 AS label,
        |  CAST(1000000 * b.wstar * b.wstar - 500000 * b.wstar - 250000
        |    AS BIGINT) AS score_q
        |FROM w JOIN best b ON b.c_nationkey = w.c_nationkey""".stripMargin,

    // 2 unnormalized HITS iterations on the star: auth(hub) = n², and
    // hub(customer) = n² where n = customers in the nation
    "graph_hits" ->
      """WITH cnt AS (
        |  SELECT c_nationkey, COUNT(*) AS n FROM customer GROUP BY c_nationkey)
        |SELECT c.c_custkey AS vid, CAST(0 AS BIGINT) AS auth,
        |  CAST(cnt.n * cnt.n AS BIGINT) AS hub
        |FROM customer c JOIN cnt ON c.c_nationkey = cnt.c_nationkey
        |UNION ALL
        |SELECT DISTINCT c.c_nationkey + 1000000 AS vid,
        |  CAST(cnt.n * cnt.n AS BIGINT) AS auth, CAST(0 AS BIGINT) AS hub
        |FROM customer c JOIN cnt ON c.c_nationkey = cnt.c_nationkey""".stripMargin,

    // relational restatement of neighborhood jaccard over the same edges
    "graph_jaccard" ->
      """WITH e AS (
        |  SELECT doc_id AS src, doc_id + 1 AS dst
        |  FROM documents WHERE doc_id % 10 <> 9
        |  UNION ALL
        |  SELECT doc_id, doc_id + 2 FROM documents WHERE doc_id % 10 <= 7),
        |und AS (SELECT src, dst FROM e UNION SELECT dst, src FROM e),
        |deg AS (SELECT src AS vid, COUNT(*) AS deg FROM und GROUP BY src),
        |inter AS (
        |  SELECT x.dst AS a, y.dst AS b, COUNT(*) AS inter
        |  FROM und x JOIN und y ON x.src = y.src AND x.dst < y.dst
        |  GROUP BY x.dst, y.dst)
        |SELECT i.a, i.b, i.inter,
        |  ROUND(CAST(i.inter AS DOUBLE) / (da.deg + db.deg - i.inter), 6)
        |    AS jaccard
        |FROM inter i JOIN deg da ON da.vid = i.a
        |JOIN deg db ON db.vid = i.b""".stripMargin,

    // quantized adamic-adar: Σ floor(1e6 / ln(deg(middle)))
    "graph_adamic_adar" ->
      """WITH e AS (
        |  SELECT doc_id AS src, doc_id + 1 AS dst
        |  FROM documents WHERE doc_id % 10 <> 9
        |  UNION ALL
        |  SELECT doc_id, doc_id + 2 FROM documents WHERE doc_id % 10 <= 7),
        |und AS (SELECT src, dst FROM e UNION SELECT dst, src FROM e),
        |deg AS (SELECT src AS vid, COUNT(*) AS deg FROM und GROUP BY src)
        |SELECT x.dst AS a, y.dst AS b,
        |  CAST(SUM(FLOOR(1000000.0 / ln(d.deg))) AS BIGINT) AS aa_q
        |FROM und x JOIN und y ON x.src = y.src AND x.dst < y.dst
        |JOIN deg d ON d.vid = x.src
        |GROUP BY x.dst, y.dst""".stripMargin,

    "graph_local_clustering" ->
      s"""$skipCtes
         |SELECT vid, degree, tri_cnt, lcc_q FROM lcc""".stripMargin,

    "graph_global_clustering" ->
      s"""$skipCtes,
         |tp AS (SELECT SUM(degree * (degree - 1) // 2) AS triplet_count
         |       FROM deg),
         |tcnt AS (SELECT COUNT(*) AS triangle_count FROM tri)
         |SELECT CAST(tp.triplet_count AS BIGINT) AS triplet_count,
         |  CAST(tcnt.triangle_count AS BIGINT) AS triangle_count,
         |  CAST(CASE WHEN tp.triplet_count > 0
         |    THEN (3000000 * tcnt.triangle_count) // tp.triplet_count
         |    ELSE 0 END AS BIGINT) AS gcc_q
         |FROM tp, tcnt""".stripMargin,

    "graph_avg_clustering" ->
      s"""$skipCtes
         |SELECT CAST(COUNT(*) AS BIGINT) AS vertex_count,
         |  CAST(SUM(lcc_q) AS BIGINT) AS sum_lcc_q,
         |  CAST(SUM(lcc_q) AS DOUBLE) / COUNT(*) AS avg_lcc_q
         |FROM lcc""".stripMargin,

    "graph_triadic_census" ->
      s"""$skipCtes,
         |m AS (SELECT CAST(SUM(degree) // 2 AS BIGINT) AS e_cnt,
         |        CAST(SUM(degree * (degree - 1) // 2) AS BIGINT) AS w
         |      FROM deg),
         |nn AS (SELECT COUNT(*) AS n FROM documents),
         |tt AS (SELECT COUNT(*) AS t3 FROM tri)
         |SELECT
         |  CAST(n*(n-1)*(n-2) // 6 - (e_cnt*(n-2) - 2*(w - 3*t3) - 3*t3)
         |    - (w - 3*t3) - t3 AS BIGINT) AS t0,
         |  CAST(e_cnt*(n-2) - 2*(w - 3*t3) - 3*t3 AS BIGINT) AS t1,
         |  CAST(w - 3*t3 AS BIGINT) AS t2,
         |  CAST(t3 AS BIGINT) AS t3
         |FROM nn, m, tt""".stripMargin,

    "graph_vertex_metrics" ->
      s"""$skipCtes,
         |m AS (SELECT CAST(SUM(degree) // 2 AS BIGINT) AS edge_count,
         |        CAST(SUM(degree * (degree - 1) // 2) AS BIGINT)
         |          AS triplet_count,
         |        CAST(MAX(degree) AS BIGINT) AS maximum_degree,
         |        CAST(MAX(degree * (degree - 1) // 2) AS BIGINT)
         |          AS maximum_triplets
         |      FROM deg),
         |nn AS (SELECT COUNT(*) AS vertex_count FROM documents)
         |SELECT CAST(vertex_count AS BIGINT) AS vertex_count, edge_count,
         |  CAST(edge_count AS DOUBLE) * 2 / vertex_count AS average_degree,
         |  CAST(edge_count AS DOUBLE) * 2
         |    / (vertex_count * (vertex_count - 1)) AS density,
         |  triplet_count, maximum_degree, maximum_triplets
         |FROM nn, m""".stripMargin,

    "graph_edge_metrics" ->
      s"""$skipCtes,
         |ann AS (SELECT u.src, u.dst, ds.degree AS ds, dd.degree AS dd
         |        FROM und u
         |        JOIN deg ds ON ds.vid = u.src
         |        JOIN deg dd ON dd.vid = u.dst),
         |pv AS (SELECT src AS vid, ds AS degree,
         |         SUM(CASE WHEN ds < dd OR (ds = dd AND src < dst)
         |             THEN 1 ELSE 0 END) AS low
         |       FROM ann GROUP BY src, ds),
         |r AS (SELECT low * (low - 1) // 2 AS tt,
         |        low * (low - 1) // 2 + low * (degree - low) AS rt
         |      FROM pv)
         |SELECT CAST(SUM(tt) AS BIGINT) AS triangle_triplet_count,
         |  CAST(SUM(rt) AS BIGINT) AS rectangle_triplet_count,
         |  CAST(MAX(tt) AS BIGINT) AS maximum_triangle_triplets,
         |  CAST(MAX(rt) AS BIGINT) AS maximum_rectangle_triplets
         |FROM r""".stripMargin,

    "graph_checksum" ->
      """WITH e AS (
        |  SELECT doc_id AS src, doc_id + 1 AS dst
        |  FROM documents WHERE doc_id % 10 <> 9
        |  UNION ALL
        |  SELECT doc_id, doc_id + 2 FROM documents WHERE doc_id % 10 <= 7)
        |SELECT
        |  (SELECT CAST(SUM((31 * doc_id + 17) % 1000000007) AS BIGINT)
        |   FROM documents) AS vertex_checksum,
        |  (SELECT CAST(SUM((31 * (src * 1000003 + dst) + 17) % 1000000007)
        |     AS BIGINT)
        |   FROM e) AS edge_checksum""".stripMargin,

    // wedge self-joins over the doc→{block, block+1} membership edges
    "graph_bipartite_top" ->
      """WITH e AS (
        |  SELECT doc_id AS top, doc_id // 10 AS bottom,
        |    doc_id % 7 + 1 AS weight FROM documents
        |  UNION ALL
        |  SELECT doc_id, doc_id // 10 + 1, doc_id % 7 + 1 FROM documents)
        |SELECT a.top AS src, b.top AS dst, a.weight AS w1, b.weight AS w2
        |FROM e a JOIN e b ON a.bottom = b.bottom AND a.top <> b.top""".stripMargin,

    "graph_bipartite_bottom" ->
      """WITH e AS (
        |  SELECT doc_id AS top, doc_id // 10 AS bottom,
        |    doc_id % 7 + 1 AS weight FROM documents
        |  UNION ALL
        |  SELECT doc_id, doc_id // 10 + 1, doc_id % 7 + 1 FROM documents)
        |SELECT a.bottom AS src, b.bottom AS dst,
        |  a.weight AS w1, b.weight AS w2
        |FROM e a JOIN e b ON a.top = b.top AND a.bottom <> b.bottom""".stripMargin,

    // distance = prefix sum of (i%3)+1 weights from the block head
    "graph_sssp_chain" ->
      """SELECT doc_id AS vid,
        |  CAST(coalesce(SUM(doc_id % 3 + 1) OVER (
        |    PARTITION BY doc_id // 10 ORDER BY doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
        |    AS dist
        |FROM documents""".stripMargin
  )
}
