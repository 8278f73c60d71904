package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel

import graft.graph.{GraphAnalytics, GraphSchema}
import graft.sources.Tables
import graft.util.EngineCache

/** Graph operator surface (SURVEY.md §2.8): construction stats, degree
  * analytics, k-hop traversals, connected components, BFS. Q33/Q34 run
  * through adaptive local/DataFrame strategies ([[graft.graph.GraphAnalytics]]); the DuckDB oracle
  * reproduces them with recursive CTEs.
  */
object GraphQueries {

  type Q = (SparkSession, String) => DataFrame

  private def T(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  /** Part vertex ids are offset into a disjoint id space so the bipartite
    * customer–part graph has globally unique vertex ids.
    */
  private val PartOffset = 1000000000L

  /** ~512k (src,dst) Long pairs ≈ 8 MB per partition — the unit used to size
    * the coalesce below so iterative GraphX jobs get a task count that
    * matches the data, not the shuffle.partitions the dedup ran with.
    */
  private val EdgeRowsPerPartition = 512L * 1000

  /** Persisted bipartite graphs per (directory, sample): the sampled one
    * serves q33/q56/q57 and the unsampled one q34, so four entries hold two
    * directories' worth. Eviction unpersists the least recently used.
    */
  private val edgeCache = new EngineCache[(String, Option[Int]), DataFrame](4,
    _.unpersist(false))

  /** Bipartite customer–part edges via lineitem⨝orders (the derived graph of
    * SURVEY.md §2.12 Q33/Q34), deduplicated. `sampleMod` keeps the Q33
    * component-closure oracle tractable (recursive CTE) — None = full graph.
    *
    * Memoized and persisted per JVM in [[edgeCache]]: four analytics queries
    * walk the same derived graph, and the dedup join is the shared ingest
    * step, not part of any one algorithm's cost (the store cache's
    * rationale). The persisted plan pins the dedup's shuffle partitioning
    * (cached plans bypass AQE coalescing), so [[buildBipartite]] coalesces
    * to ceil(rows / 512k) partitions before persisting: a tiny graph would
    * otherwise schedule dozens of near-empty tasks per distributed
    * iteration downstream (measured 15.7x slower on q33).
    */
  private def bipartiteEdges(s: SparkSession, dir: String, sampleMod: Option[Int]): DataFrame =
    edgeCache.getOrBuild((dir, sampleMod))(
      buildBipartite(s, dir, sampleMod).persist(StorageLevel.MEMORY_AND_DISK))

  /** The uncached bipartite ingest plan, also q34's `ingest` phase probe,
    * which must recompute from scratch. `probeShape = true` injects a no-op
    * filter between the join and the distinct, so no subtree of the probe's
    * plan is `sameResult` to the [[edgeCache]]d frame: Spark's CacheManager
    * otherwise substitutes the cached relation into any matching subplan
    * and the probe silently reads cache blocks (measured 0.78 s for a
    * 600M-row ingest at sf100). The filter drops nothing: keys are
    * non-negative.
    */
  private def buildBipartite(s: SparkSession, dir: String,
      sampleMod: Option[Int], probeShape: Boolean = false): DataFrame = {
    val li = T(s, dir, "lineitem")
    // Upper bound on edge count without running anything: count() on a bare
    // parquet scan is answered from footer row-count statistics
    // (milliseconds), and |distinct pairs| ≤ |lineitem| / sampleMod.
    val bound = sampleMod.fold(li.count())(m => li.count() / m + 1)
    val target = math.max(1L, math.min(
      (bound + EdgeRowsPerPartition - 1) / EdgeRowsPerPartition,
      s.sparkContext.defaultParallelism.toLong)).toInt
    val o = sampleMod match {
      case Some(m) => T(s, dir, "orders").filter(pmod(col("o_orderkey"), lit(m)) === 0)
      case None => T(s, dir, "orders")
    }
    val joined = li.join(o, col("l_orderkey") === col("o_orderkey"))
      .select(col("o_custkey").cast(LongType).as("src"),
        (col("l_partkey").cast(LongType) + PartOffset).as("dst"))
    val shaped =
      if (probeShape) joined.filter(col("src") =!= lit(Long.MinValue)) else joined
    shaped.distinct().coalesce(target)
  }

  private def bipartiteEdgeSql(sampleFilter: String): String =
    s"""SELECT DISTINCT CAST(o_custkey AS BIGINT) AS src, CAST(l_partkey + 1000000000 AS BIGINT) AS dst
       |FROM lineitem JOIN orders ON l_orderkey = o_orderkey $sampleFilter""".stripMargin

  // ------------------------------------------------ Q31 degree profile (G4)
  /** A2/G4: degree histogram — the reference's contention analysis
    * (final/inject_relationship.py:154-188) as a two-level aggregate.
    */
  private def q31(s: SparkSession, dir: String): DataFrame =
    T(s, dir, "orders")
      .groupBy("o_custkey").agg(count(lit(1)).as("degree"))
      .groupBy("degree").agg(count(lit(1)).as("n_customers"))
      .orderBy("degree")

  private val q31Sql =
    """SELECT degree, COUNT(*) AS n_customers
      |FROM (SELECT o_custkey, COUNT(*) AS degree FROM orders GROUP BY o_custkey) d
      |GROUP BY degree ORDER BY degree""".stripMargin

  // ------------------------------------------- Q31b graph construction stats
  /** G1/G2/G8: build the full declared property graph (node merge-dedup +
    * FK-validated edge construction) and report nodes-by-label /
    * edges-by-type — the reference's final count audit
    * (final/inject_relationship.py:1017-1031).
    */
  private def q31b(s: SparkSession, dir: String): DataFrame =
    // audits the cached store the Cypher query family reads: the
    // reference's count audits run against the injected database, not a
    // rebuilt one (final/inject_relationship.py:1017-1031), and an uncached
    // build re-paid every node/edge construction per call (~5 s at sf1)
    CypherQueries.store(s, dir).describe(s)

  private val q31bSql: String = {
    val g = GraphSchema.testdata
    val nodeSqls = g.nodes.map { nt =>
      s"SELECT 'node' AS kind, '${nt.name}' AS name, COUNT(DISTINCT ${nt.key}) AS cnt FROM ${nt.tables.head}"
    }
    val edgeSqls = g.edges.map { et =>
      val srcNt = g.node(et.src); val dstNt = g.node(et.dst)
      s"""SELECT 'edge' AS kind, '${et.label}' AS name, COUNT(*) AS cnt FROM (
         |  SELECT DISTINCT t.${et.keyS}, t.${et.keyT} FROM ${et.table} t
         |  JOIN ${srcNt.tables.head} s ON t.${et.keyS} = s.${srcNt.key}
         |  JOIN ${dstNt.tables.head} d ON t.${et.keyT} = d.${dstNt.key}) e""".stripMargin
    }
    (nodeSqls ++ edgeSqls).mkString("", " UNION ALL ", " ORDER BY kind, name")
  }

  // ----------------------------------------------------- Q32 2-hop traversal
  /** J4/G6: 2-hop pattern Region←Nation←Customer←Order — chained equi joins;
    * the dim chain broadcasts so the orders fact never shuffles.
    */
  private def q32(s: SparkSession, dir: String): DataFrame =
    T(s, dir, "orders")
      .join(T(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
      .join(broadcast(T(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(T(s, dir, "region")), col("n_regionkey") === col("r_regionkey"))
      .groupBy("r_name").agg(count(lit(1)).as("cnt"))
      .orderBy("r_name")

  private val q32Sql =
    """SELECT r_name, COUNT(*) AS cnt
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |JOIN nation ON c_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |GROUP BY r_name ORDER BY r_name""".stripMargin

  // ----------------------------------------------------- Q32b 3-hop traversal
  /** J4/G6/G13: 3-hop chain adding Order→LineItem→Part — counts per
    * (region, part type).
    */
  private def q32b(s: SparkSession, dir: String): DataFrame =
    T(s, dir, "lineitem")
      .join(T(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
      .join(T(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
      .join(broadcast(T(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(T(s, dir, "region")), col("n_regionkey") === col("r_regionkey"))
      .join(T(s, dir, "part"), col("l_partkey") === col("p_partkey"))
      .groupBy("r_name", "p_type").agg(count(lit(1)).as("cnt"))
      .orderBy("r_name", "p_type")

  private val q32bSql =
    """SELECT r_name, p_type, COUNT(*) AS cnt
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation ON c_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |JOIN part ON l_partkey = p_partkey
      |GROUP BY r_name, p_type ORDER BY r_name, p_type""".stripMargin

  // -------------------------------------------- Q33 connected components (G9)
  /** G9: min-label connected components on a sampled bipartite
    * subgraph (sampling keeps the oracle's recursive-CTE closure small; the
    * full graph is exercised in bench). Output: (component, member_count).
    */
  private def q33(s: SparkSession, dir: String): DataFrame =
    GraphAnalytics.connectedComponents(s, bipartiteEdges(s, dir, Some(97)))
      .groupBy("component").agg(count(lit(1)).as("member_count"))
      .orderBy("component")

  /** Linear-round hash-min + pointer-jump CC oracle (r15 verdict #5): the
    * old recursive min-label CTE materialized the full (node, seed) reach
    * closure — quadratic per component — and timed out in DuckDB at
    * sf1/sf10 while the engine stayed green, leaving those cells
    * unverified. This unrolls 96 rounds of
    * `comp' = min(comp[comp], min over neighbors' comp)`: each round is
    * two hash joins + a group-by over exactly n rows, so total work is
    * O(n·R) — never quadratic. Honest convergence accounting: the jump
    * term doubles progress on path-shaped id layouts but measured
    * roughly diameter-bound on the sampled bipartite graph (engine-
    * verified convergence thresholds: R=56 at sf1, ~57 at sf10, vs
    * union-find ground truth 6317 / 61552 components) — R=96 carries a
    * ~1.7x margin over the largest measured demand, and an
    * under-converged oracle fails LOUDLY (extra components → row-count
    * mismatch against the engine), never silently. The mismatch is also
    * ATTRIBUTABLE (ADVICE r15): when r95 and r96 still differ, the final
    * select appends a `(-1, -1)` sentinel row — impossible in real data
    * (orderkeys are positive) — so a scale factor whose diameter outruns
    * 96 rounds reads as "oracle under-converged", not as an engine bug;
    * the EXISTS guard costs one short-circuited probe over the last two
    * rounds. AS MATERIALIZED is
    * load-bearing: each round references its predecessor three times,
    * and an inlining planner would expand the chain exponentially.
    * Measured DuckDB-side at R=80-96: ~0.2 s sf0.01 / 4 s sf1 / 49 s
    * sf10 (was: 300 s timeout at sf1 AND sf10).
    */
  private val q33Sql = {
    val rounds = (1 to 96).map { k =>
      val p = s"r${k - 1}"
      s"""r$k AS MATERIALIZED (
         |  SELECT u.id, MIN(u.c) AS comp FROM (
         |    SELECT a.id, LEAST(a.comp, j.comp) AS c
         |    FROM $p a JOIN $p j ON j.id = a.comp
         |    UNION ALL
         |    SELECT e.dst AS id, a.comp AS c FROM $p a JOIN adj e ON e.src = a.id
         |  ) u GROUP BY u.id)""".stripMargin
    }.mkString(",\n")
    s"""WITH edges AS MATERIALIZED (${bipartiteEdgeSql("WHERE o_orderkey % 97 = 0")}),
       |nodes AS MATERIALIZED (SELECT src AS id FROM edges UNION SELECT dst FROM edges),
       |adj AS MATERIALIZED (SELECT src, dst FROM edges UNION SELECT dst, src FROM edges),
       |r0 AS MATERIALIZED (SELECT id, id AS comp FROM nodes),
       |$rounds
       |SELECT component, member_count FROM (
       |  SELECT comp AS component, COUNT(*) AS member_count FROM r96 GROUP BY comp
       |  UNION ALL
       |  SELECT -1, -1
       |  WHERE EXISTS (SELECT 1 FROM r96 a JOIN r95 b
       |                ON a.id = b.id AND a.comp <> b.comp)
       |) ORDER BY component""".stripMargin
  }

  // ------------------------------------------------------- Q34 BFS dist (G10)
  /** G10: BFS hop distance from the first customer vertex, ≤ 4 hops,
    * on the full bipartite graph.
    */
  private def q34(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // The source vertex is part of the result even if isolated (GraphX only
    // materializes vertices that appear in some edge).
    val seed = Seq((1L, 0)).toDF("node", "dist")
    // q34 is the only reader of the unsampled graph, and bfs is eager on
    // both strategies (the distributed loop checkpoints its result; the
    // local kernel's result is checkpointed at the strategy gate), so its
    // result no longer references the edge frame: release the cached graph
    // now rather than at suite end, so later queries don't compete with
    // 600M dead pairs at sf100 (in-suite q47 measured 97 s vs 66 s alone).
    // A later call re-warms it through [[bipartiteEdges]].
    val levels = GraphAnalytics.bfs(s, bipartiteEdges(s, dir, None),
      source = 1L, maxDepth = 4)
    edgeCache.remove((dir, None))
    levels
      .unionByName(seed)
      .groupBy("node").agg(min(col("dist")).cast(IntegerType).as("dist"))
      .orderBy("node")
  }

  private val q34Sql =
    s"""WITH RECURSIVE
       |edges AS (${bipartiteEdgeSql("")}),
       |adj AS (SELECT src, dst FROM edges UNION SELECT dst, src FROM edges),
       |bfs(id, dist) AS (
       |  SELECT CAST(1 AS BIGINT), 0
       |  UNION
       |  SELECT a.dst, b.dist + 1 FROM bfs b JOIN adj a ON a.src = b.id WHERE b.dist < 4
       |)
       |SELECT id AS node, CAST(MIN(dist) AS INTEGER) AS dist FROM bfs
       |GROUP BY id ORDER BY node""".stripMargin

  // ------------------------------------------- Q56/Q57 PageRank + triangles
  /** G11: PageRank over the sampled bipartite graph. r13 (r12 verdict
    * directive #8): TOLERANCE-oracled instead of rows-only — ranks are
    * emitted at a 1e-4 quantum (integer-scaled, so the compare is exact
    * arithmetic, not float repr) against a DuckDB oracle that unrolls the
    * same 10 power iterations and final mass normalization
    * (GraphX-staticPageRank semantics: start 1.0, r' = 0.15 + 0.85·Σ
    * inbound r/outDeg, final sum scaled to the vertex count). Float
    * summation order differs engine-vs-oracle by ~1e-12 relative after 10
    * iterations — four decimals of slack makes a boundary flip
    * vanishingly unlikely while still pinning every rank value.
    */
  private def q56(s: SparkSession, dir: String): DataFrame =
    GraphAnalytics.pageRank(s, bipartiteEdges(s, dir, Some(97)), iters = 10)
      .select(col("node").cast(LongType).as("node"),
        round(col("rank") * 10000).cast(LongType).as("rank_1e4"))
      .orderBy("node")

  private val q56Sql: String = {
    val iters = (1 to 10).map { i =>
      s"""r$i AS (
         |  SELECT v.node, 0.15 + 0.85 * COALESCE(SUM(p.r / deg.d), 0) AS r
         |  FROM v
         |  LEFT JOIN e ON e.dst = v.node
         |  LEFT JOIN r${i - 1} p ON p.node = e.src
         |  LEFT JOIN deg ON deg.src = e.src
         |  GROUP BY v.node
         |)""".stripMargin
    }.mkString(",\n")
    s"""WITH e AS (
       |  ${bipartiteEdgeSql("WHERE o_orderkey % 97 = 0")}
       |), v AS (
       |  SELECT src AS node FROM e UNION SELECT dst AS node FROM e
       |), deg AS (
       |  SELECT src, COUNT(*) AS d FROM e GROUP BY src
       |), r0 AS (
       |  SELECT node, CAST(1.0 AS DOUBLE) AS r FROM v
       |),
       |$iters
       |SELECT CAST(node AS BIGINT) AS node,
       |       CAST(ROUND(r * (SELECT COUNT(*) FROM v)
       |            / (SELECT SUM(r) FROM r10) * 10000) AS BIGINT) AS rank_1e4
       |FROM r10 ORDER BY node""".stripMargin
  }

  /** G12: triangle count. A bipartite graph has none by construction, so
    * close customer–customer triangles instead: connect customers sharing a
    * part (via the sampled bipartite edges), then count triangles.
    */
  private def q57(s: SparkSession, dir: String): DataFrame = {
    val e = bipartiteEdges(s, dir, Some(97))
    val byPart = e.select(col("dst").as("part"), col("src").as("cust"))
    val custPairs = byPart.as("a").join(byPart.as("b"), "part")
      .filter(col("a.cust") < col("b.cust"))
      .select(col("a.cust").as("src"), col("b.cust").as("dst"))
      .distinct()
    GraphAnalytics.triangleCount(s, custPairs)
      .agg(sum(col("triangles")).as("triangle_ends"),
        count(lit(1)).as("nodes"))
  }

  // ------------------------------------------------------------------ registry

  val defs: Map[String, Q] = Map(
    "q31_degree_histogram" -> q31 _,
    "q31b_graph_stats" -> q31b _,
    "q32_2hop_region" -> q32 _,
    "q32b_3hop_parttype" -> q32b _,
    "q33_connected_components" -> q33 _,
    "q34_bfs_distance" -> q34 _,
    "q56_pagerank" -> q56 _,
    "q57_triangles" -> q57 _
  )

  /** q34's ingest-vs-BFS phase split, same contract as
    * [[PipelineQueries.phaseProbes]]: timed by Bench outside the headline
    * numbers, recorded under `"phases"`. At sf100 the one-time 600M-row
    * join + distinct dominates q34's ~250 s wall while the BFS levels take
    * seconds. `ingest` rebuilds the dedup join from scratch, bypassing
    * [[edgeCache]]; q34 releases its cached graph when it finishes, so
    * `warm` re-materializes it as its own phase (probes run in Seq order)
    * and `bfs` then measures the levels over warm edges. No phase reads
    * state another phase paid for.
    */
  val phaseProbes: Map[String, Seq[(String, Q)]] = Map(
    "q34_bfs_distance" -> Seq(
      "ingest" -> ((s, dir) => buildBipartite(s, dir, None, probeShape = true)),
      "warm" -> ((s, dir) => bipartiteEdges(s, dir, None)),
      "bfs" -> ((s, dir) =>
        GraphAnalytics.bfs(s, bipartiteEdges(s, dir, None),
          source = 1L, maxDepth = 4))))

  // q57 (round 12, r11 verdict directive #4): triangle counting is
  // integer-exact, so the enumeration oracle is a plain three-way join —
  // per-node counts sum to 3 x #triangles, nodes = distinct endpoints.
  private val q57Sql: String =
    """WITH e AS (
      |  SELECT DISTINCT CAST(o_custkey AS BIGINT) AS cust,
      |         CAST(l_partkey AS BIGINT) AS part
      |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |  WHERE o_orderkey % 97 = 0
      |),
      |cp AS (
      |  SELECT DISTINCT a.cust AS s, b.cust AS d
      |  FROM e a JOIN e b ON a.part = b.part AND a.cust < b.cust
      |),
      |tri AS (
      |  SELECT count(*) AS t FROM cp x
      |  JOIN cp y ON y.s = x.s AND y.d > x.d
      |  JOIN cp z ON z.s = x.d AND z.d = y.d
      |),
      |nodes AS (
      |  SELECT count(*) AS n FROM
      |    (SELECT DISTINCT c FROM (SELECT s AS c FROM cp UNION ALL SELECT d FROM cp))
      |)
      |SELECT CAST(3 * t AS BIGINT) AS triangle_ends, CAST(n AS BIGINT) AS nodes
      |FROM tri, nodes""".stripMargin

  val oracle: Map[String, String] = Map(
    "q31_degree_histogram" -> q31Sql,
    "q31b_graph_stats" -> q31bSql,
    "q32_2hop_region" -> q32Sql,
    "q32b_3hop_parttype" -> q32bSql,
    "q33_connected_components" -> q33Sql,
    "q34_bfs_distance" -> q34Sql,
    "q56_pagerank" -> q56Sql,
    "q57_triangles" -> q57Sql
  )
}
