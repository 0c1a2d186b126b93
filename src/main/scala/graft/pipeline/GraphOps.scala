package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.util.{Pipelines, QueryDef}
import org.apache.spark.sql.graft.Bridge

/** Graph analytics over the embedding kNN graph — the structure a
  * curation pipeline builds right after blocking (SemDeDup-style
  * cluster analysis, duplicate-hub detection):
  *
  *  - `graph_knn`: each vector's top-3 cosine neighbors AMONG THE
  *    IVF-BLOCKED CANDIDATES (the same multi-probe cells the near-dup
  *    family uses — never all pairs); exact integer re-scoring, ties →
  *    smaller neighbor id.
  *  - `graph_pagerank`: 3 fixed power iterations (d = 0.85) over the
  *    symmetrized kNN graph, in pure integer arithmetic — ranks at
  *    ×10¹² scale, every division a truncating integer div both
  *    engines share, so the scores are bit-equal. Isolated vertices
  *    hold the teleport mass; dangling mass is dropped (documented,
  *    identical in the oracle). Fixed iterations keep the oracle plain
  *    SQL; each iteration is one join + one keyed aggregation — the
  *    textbook distributed PR round.
  *  - `graph_triangles`: triangle count per vertex over the
  *    symmetrized graph via the oriented wedge join (a<b<c edge-edge
  *    join + closing-edge semi-join — each triangle counted once, the
  *    standard distributed enumeration).
  *
  * Scale shape: the kNN graph inherits the blocking's candidate bound
  * (cells grow with the corpus, candidate fraction falls); PR rounds
  * and the wedge join shuffle on vertex ids only.
  */
object GraphOps {

  private val KnnK = 3
  private val PrScale = 1000000000000L // 10^12
  private val PrIters = 3

  import Similarity.{emb, scoredPairs}

  /** Directed kNN edges (src, dst, cos): top-$KnnK among the blocked
    * candidates, both orientations of each unordered candidate pair.
    */
  private def knnEdges(s: SparkSession, dir: String): DataFrame =
    Pipelines.cachedDF(s, s"graph.knn:$dir") {
      val scored = scoredPairs(s, dir)
        .withColumn("cos", graft.util.Rnd.jround(col("cosRaw"), 6))
        .select("a", "b", "cos")
      val directed = scored.select(col("a").as("src"), col("b").as("dst"), col("cos"))
        .unionByName(scored.select(col("b").as("src"), col("a").as("dst"), col("cos")))
      val bySrc = Window.partitionBy("src").orderBy(desc("cos"), col("dst"))
      directed.withColumn("rk", row_number().over(bySrc).cast("long"))
        .filter(col("rk") <= KnnK)
        .select("src", "dst", "cos", "rk")
    }

  private def knn(s: SparkSession, dir: String): DataFrame =
    knnEdges(s, dir).orderBy("src", "rk")

  /** Undirected symmetrized edge set (u, v) both orientations —
    * cached: PR consumes it every iteration, the wedge join three times.
    */
  private def symEdges(s: SparkSession, dir: String): DataFrame =
    Pipelines.cachedDF(s, s"graph.sym:$dir") {
      val k = knnEdges(s, dir)
        .select(least(col("src"), col("dst")).as("a"), greatest(col("src"), col("dst")).as("b"))
        .distinct()
      k.select(col("a").as("u"), col("b").as("v"))
        .unionByName(k.select(col("b").as("u"), col("a").as("v")))
    }

  /** Vertex count up to which pagerank and triangles run in
    * [[smallGraphSession]] and pagerank keeps its rounds in one plan;
    * past it both run in the caller's session and pagerank checkpoints
    * each round.
    */
  private val SmallGraph = 5000L

  /** A memoized clone of the caller's session with AQE off, 8 shuffle
    * partitions and no auto-broadcast. Small pagerank and triangle
    * bodies are plan-depth-bound: node-count-sized frames under many
    * joins, where AQE's stage-at-a-time scheduling costs more than the
    * data (triangles at sf0.1 on 4 cores: 1.8 s without AQE, 9–12 s
    * with it). The caller's own session is never changed.
    */
  private def smallGraphSession(s: SparkSession): SparkSession =
    Pipelines.clonedSession(s, "graph.small",
      "spark.sql.adaptive.enabled" -> "false",
      "spark.sql.shuffle.partitions" -> "8",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")

  /** Rebinds a frame built in the caller's session to the session a
    * graph body over `n` vertices runs in: [[smallGraphSession]] up to
    * [[SmallGraph]], else the caller's own. The body's result stays a
    * frame of that session, so it is planned, cached and read there
    * (the DSv2 clone's precedent): read back through the caller's AQE,
    * a result over AQE-built cached inputs re-plans plans that print at
    * megabyte scale on every action.
    */
  private def graphSession(s: SparkSession, n: Long): DataFrame => DataFrame =
    if (n > SmallGraph) identity
    else { val g = smallGraphSession(s); Bridge.rebind(_, g) }

  private def pagerank(s: SparkSession, dir: String): DataFrame =
    // keyed session cache AROUND the body: re-building the 3-iteration
    // join tree costs ~2.5 s of driver-side analysis + canonicalization
    // per call even when the data is cached (measured); returning the
    // memoized frame skips the plan rebuild outright
    Pipelines.cachedDF(s, s"graph.pr:$dir") {
      val n = emb(s, dir).count()
      val on = graphSession(s, n)
      pagerankBody(on(emb(s, dir).select(col("vec_id").as("u"))), on(symEdges(s, dir)),
        barrier = n > SmallGraph)
    }

  private def pagerankBody(nodes: DataFrame, edges: DataFrame, barrier: Boolean): DataFrame = {
    val deg = edges.groupBy("u").agg(count(lit(1)).as("deg"))
    val n = nodes.count()
    var rank = nodes.withColumn("pr", lit(PrScale / n))
    for (i <- 1 to PrIters) {
      val contrib = rank.join(deg, "u")
        .withColumn("c", call_function("div", col("pr"), col("deg")))
        .join(edges, "u")
        .groupBy(col("v").as("u")).agg(sum("c").as("inflow"))
      rank = nodes.join(contrib, Seq("u"), "left")
        .na.fill(0L, Seq("inflow"))
        .withColumn("pr",
          call_function("div", lit(15L * PrScale), lit(100L * n)) +
            call_function("div", lit(85L) * col("inflow"), lit(100L)))
        .select("u", "pr")
      // past SmallGraph, materialize each round (lineage truncation, the
      // dedup_components rule) — without it AQE re-plans a 3-round join
      // tree layer by layer; a small graph runs one deep plan instead
      if (i < PrIters && barrier)
        rank = rank.localCheckpoint()
    }
    rank.select(col("u").as("vec_id"), col("pr")).orderBy("vec_id")
  }

  private def triangles(s: SparkSession, dir: String): DataFrame =
    // keyed like pagerank: the wedge-join tree's per-call rebuild cost
    // dominates its warm re-run
    Pipelines.cachedDF(s, s"graph.tri:$dir") {
      trianglesBody(graphSession(s, emb(s, dir).count())(symEdges(s, dir)))
    }

  private def trianglesBody(sym: DataFrame): DataFrame = {
    val und = sym.filter(col("u") < col("v"))
    val e1 = und.select(col("u").as("a"), col("v").as("b"))
    val e2 = und.select(col("u").as("b"), col("v").as("c"))
    val e3 = und.select(col("u").as("a"), col("v").as("c"))
    val tris = e1.join(e2, "b").join(e3, Seq("a", "c"))
    // per-vertex membership counts + the global total as vec_id = -1
    val perVertex = tris.select(explode(array(col("a"), col("b"), col("c"))).as("vec_id"))
      .groupBy("vec_id").agg(count(lit(1)).as("triangles"))
    val total = tris.agg(count(lit(1)).as("triangles"))
      .select(lit(-1L).as("vec_id"), col("triangles"))
    perVertex.unionByName(total).orderBy("vec_id")
  }

  /** Connected components of the kNN graph — the structure question a
    * curation pipeline asks of its similarity graph (how fragmented is
    * the embedding space at this neighborhood size?). Reuses the ONE
    * distributed CC implementation ([[Dedup.ccLabels]], alternating
    * large-star/small-star, O(log n) keyed-shuffle rounds); the oracle
    * recomputes the closure by recursive CTE over the identical kNN
    * edge CTEs.
    */
  private def components(s: SparkSession, dir: String): DataFrame =
    // keyed session cache (the knnEdges precedent), not just tracked():
    // ccLabels checkpoints each star round, so two runs' plans can never
    // canonicalize equal and a plain persist is unreachable on re-run —
    // without the key every re-run re-ran all O(log n) rounds
    Pipelines.cachedDF(s, s"graph.cc:$dir") {
      val nodes = emb(s, dir).select(col("vec_id").as("doc_id"))
      val edges = symEdges(s, dir).filter(col("u") < col("v"))
        .select(col("u").as("a"), col("v").as("b"))
      Dedup.ccLabels(nodes, edges)
        .select(col("doc_id").as("vec_id"), col("comp"))
    }.orderBy("vec_id")

  // ---- oracle fragments -------------------------------------------------

  /** Shared CTEs: blocked candidates → exact scores → directed top-K kNN
    * edges (`kedges`) and the symmetrized undirected set (`sym`).
    */
  private val knnCtes =
    s"""kdots AS (
      |  SELECT cd.a, cd.b, CAST(SUM(q.x * c.x) AS BIGINT) AS dot
      |  FROM dcand cd
      |  JOIN flat q ON q.vec_id = cd.a
      |  JOIN flat c ON c.vec_id = cd.b AND q.i = c.i
      |  GROUP BY 1, 2
      |), kscored AS (
      |  SELECT d.a, d.b,
      |    FLOOR(d.dot / (SQRT(na.n2) * SQRT(nb.n2)) * 1e6 + 0.5) / 1e6 AS cos
      |  FROM kdots d JOIN nrm na ON d.a = na.vec_id JOIN nrm nb ON d.b = nb.vec_id
      |), kdir AS (
      |  SELECT a AS src, b AS dst, cos FROM kscored
      |  UNION ALL SELECT b, a, cos FROM kscored
      |), kranked AS (
      |  SELECT src, dst, cos,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY src ORDER BY cos DESC, dst) AS BIGINT) AS rk
      |  FROM kdir
      |), kedges AS (SELECT src, dst, cos, rk FROM kranked WHERE rk <= $KnnK
      |), und AS (
      |  SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b FROM kedges
      |), sym AS (SELECT a AS u, b AS v FROM und UNION ALL SELECT b, a FROM und)""".stripMargin

  private def withGraph(body: String): String =
    s"""WITH ${Similarity.baseCtes}, ${Similarity.dupCandCtes}, $knnCtes
      |$body""".stripMargin

  private val knnSql = withGraph(
    "SELECT src, dst, cos, rk FROM kedges ORDER BY src, rk")

  private val prSql = {
    val iter = (1 to PrIters).map { i =>
      val prev = if (i == 1) "r0" else s"r${i - 1}"
      s"""c$i AS (
        |  SELECT e.v AS u, SUM(r.pr // d.deg) AS inflow
        |  FROM $prev r JOIN deg d ON d.u = r.u JOIN sym e ON e.u = r.u
        |  GROUP BY 1
        |), r$i AS (
        |  SELECT n.u,
        |    (15 * ${PrScale} // (100 * (SELECT nn FROM ncnt)))
        |      + (85 * COALESCE(c.inflow, 0)) // 100 AS pr
        |  FROM nodes n LEFT JOIN c$i c ON c.u = n.u)""".stripMargin
    }.mkString(",\n")
    withGraph(
      s""", nodes AS (SELECT vec_id AS u FROM iv
        |), ncnt AS (SELECT CAST(COUNT(*) AS BIGINT) AS nn FROM nodes
        |), deg AS (SELECT u, CAST(COUNT(*) AS BIGINT) AS deg FROM sym GROUP BY 1
        |), r0 AS (SELECT u, ${PrScale} // (SELECT nn FROM ncnt) AS pr FROM nodes),
        |$iter
        |SELECT u AS vec_id, CAST(pr AS BIGINT) AS pr FROM r$PrIters ORDER BY vec_id""".stripMargin)
  }

  private val triSql = withGraph(
    s""", tris AS (
      |  SELECT e1.a, e1.b, e2.v AS c
      |  FROM und e1
      |  JOIN sym e2 ON e2.u = e1.b AND e2.v > e1.b
      |  JOIN und e3 ON e3.a = e1.a AND e3.b = e2.v
      |), pv AS (
      |  SELECT x AS vec_id, CAST(COUNT(*) AS BIGINT) AS triangles
      |  FROM (SELECT UNNEST([a, b, c]) AS x FROM tris) GROUP BY 1
      |)
      |SELECT vec_id, triangles FROM pv
      |UNION ALL SELECT -1, CAST(COUNT(*) AS BIGINT) FROM tris
      |ORDER BY vec_id""".stripMargin)

  private val ccSql =
    s"""WITH RECURSIVE ${Similarity.baseCtes}, ${Similarity.dupCandCtes}, $knnCtes,
      |edges AS (SELECT a, b FROM und UNION SELECT b, a FROM und
      |), reach(v, u) AS (
      |  SELECT vec_id, vec_id FROM iv
      |  UNION
      |  SELECT r.v, e.b FROM reach r JOIN edges e ON r.u = e.a)
      |SELECT v AS vec_id, MIN(u) AS comp FROM reach GROUP BY v ORDER BY vec_id""".stripMargin

  val defs: Map[String, QueryDef] = Map(
    "graph_components" -> QueryDef.sql(components, ccSql,
      "connected components of the kNN graph via the shared " +
        "large-star/small-star contraction; oracle = recursive-CTE closure"),
    "graph_knn" -> QueryDef.sql(knn, knnSql,
      s"kNN graph (top-$KnnK cosine neighbors among IVF-blocked candidates)"),
    "graph_pagerank" -> QueryDef.sql(pagerank, prSql,
      s"$PrIters-iteration integer PageRank (d=0.85, ranks ×10¹²) over " +
        "the symmetrized kNN graph"),
    "graph_triangles" -> QueryDef.sql(triangles, triSql,
      "per-vertex + global triangle counts over the symmetrized kNN " +
        "graph (oriented wedge join)"))
}
