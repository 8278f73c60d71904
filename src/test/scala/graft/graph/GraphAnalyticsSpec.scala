package graft.graph

import graft.SparkSpec

class GraphAnalyticsSpec extends SparkSpec {

  import spark.implicits._

  // two components: {1,2,3,4} chained, {10,11} pair
  private lazy val edges =
    Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L)).toDF("src", "dst")

  // Independent references for the DataFrame CC and BFS: GraphX's own
  // connected components and a Pregel BFS over the undirected graph.
  private def graphxComponents(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
    GraphAnalytics.toGraph(df, undirected = true).connectedComponents()
      .vertices.collect().toMap

  private def pregelBfs(df: org.apache.spark.sql.DataFrame, source: Long,
      maxDepth: Int): Map[Long, Int] = {
    val g = GraphAnalytics.toGraph(df, undirected = true)
      .mapVertices((id, _) => if (id == source) 0 else Int.MaxValue)
    g.pregel(Int.MaxValue, maxIterations = maxDepth)(
      (_, d, nd) => math.min(d, nd),
      t =>
        if (t.srcAttr != Int.MaxValue && t.srcAttr + 1 < t.dstAttr)
          Iterator((t.dstId, t.srcAttr + 1))
        else Iterator.empty,
      (a, b) => math.min(a, b))
      .vertices.filter { case (_, d) => d <= maxDepth }.collect().toMap
  }

  test("adaptive local path agrees with the Pregel path") {
    // localThreshold = 0 forces the distributed DataFrame implementation;
    // the default routes this 4-edge graph through single-task union-find.
    val ccDf = GraphAnalytics.connectedComponents(spark, edges, localThreshold = 0)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val ccPregel = graphxComponents(edges)
    val ccLocal = GraphAnalytics.connectedComponents(spark, edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(ccLocal == ccDf)
    assert(ccLocal == ccPregel)
    assert(ccLocal(4L) == 1L && ccLocal(11L) == 10L)

    // localThreshold = 0 forces the distributed DataFrame BFS
    val bfsDf = GraphAnalytics.bfs(spark, edges, source = 2L, maxDepth = 3,
        localThreshold = 0)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val bfsPregel = pregelBfs(edges, source = 2L, maxDepth = 3)
    val bfsLocal = GraphAnalytics.bfs(spark, edges, source = 2L, maxDepth = 3)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(bfsLocal == bfsDf)
    assert(bfsLocal == bfsPregel)
    assert(bfsLocal == Map(2L -> 0, 1L -> 1, 3L -> 1, 4L -> 2))
    // a depth bound that stops short of the chain's far end
    val bfs1 = GraphAnalytics.bfs(spark, edges, source = 1L, maxDepth = 2)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(bfs1 == Map(1L -> 0, 2L -> 1, 3L -> 2))
  }

  test("the three BFS strategies agree on random graphs") {
    // self-loops included: a loop at the source is no distance-1 row
    def check(es: Seq[(Long, Long)], src: Long, depth: Int): Map[Long, Int] = {
      val df = es.toDF("src", "dst")
      val local = GraphAnalytics.bfs(spark, df, src, depth)
        .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
      val dist = GraphAnalytics.bfs(spark, df, src, depth, localThreshold = 0)
        .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
      assert(local == dist, s"source $src over $es")
      assert(local == pregelBfs(df, src, depth), s"source $src over $es")
      local
    }
    assert(check(Seq((1L, 1L), (1L, 2L), (2L, 3L)), 1L, 3) ==
      Map(1L -> 0, 2L -> 1, 3L -> 2))
    val rnd = new scala.util.Random(7)
    (1 to 3).foreach { _ =>
      val n = 30
      val es = Seq.fill(120)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
      check(es, es.head._1, 1 + rnd.nextInt(4))
    }
  }

  test("the three CC strategies agree on random graphs (sparse: long chains)") {
    val rnd = new scala.util.Random(11)
    (1 to 3).foreach { _ =>
      // sparse (n edges over 2n vertices) so components include chains —
      // multi-level contraction and multi-round pointer-doubling, not
      // one-hop stars
      val n = 40
      // self-loops included (a loop-only node is its own component)
      val es = Seq.fill(n)((rnd.nextInt(2 * n).toLong, rnd.nextInt(2 * n).toLong)) :+
        ((3 * n).toLong, (3 * n).toLong)
      val df = es.toDF("src", "dst")
      val local = GraphAnalytics.connectedComponents(spark, df)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      // contraction
      val dist = GraphAnalytics.connectedComponents(spark, df, localThreshold = 0)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      // pointer-doubling, contraction's finish on a stalled graph
      val jump = GraphAnalytics.jumpComponents(df, new GraphAnalytics.IterCheckpointer(spark))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val graphx = graphxComponents(df)
      assert(local == graphx)
      assert(dist == graphx)
      assert(jump == graphx)
    }
  }

  test("reliable-checkpoint mode agrees with the localCheckpoint default") {
    // graft.checkpoint.dir routes every k-th lineage cut through a
    // reliable checkpoint() (fault tolerance on preemptible clusters);
    // results must be bit-identical to the local default in every loop
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    val chain = (1L until 25L).map(i => (i, i + 1)).toDF("src", "dst")
    val bfsBefore = GraphAnalytics.bfs(spark, chain, 1L, 30, localThreshold = 0)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    def cc(): Map[Long, Long] = {
      val contract = GraphAnalytics.connectedComponents(spark, chain, localThreshold = 0)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val jump = GraphAnalytics.jumpComponents(chain, new GraphAnalytics.IterCheckpointer(spark))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(jump == contract)
      contract
    }
    val ccBefore = cc()
    spark.conf.set(GraphAnalytics.CheckpointDirKey, dir)
    spark.conf.set(GraphAnalytics.CheckpointIntervalKey, "2")
    try {
      val bfsAfter = GraphAnalytics.bfs(spark, chain, 1L, 30, localThreshold = 0)
        .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
      val ccAfter = cc()
      assert(bfsAfter == bfsBefore)
      assert(ccAfter == ccBefore)
      // the reliable cut actually wrote into the directory
      val wrote = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
        .filter(java.nio.file.Files.isRegularFile(_)).count()
      assert(wrote > 0, "expected reliable checkpoint files under the conf'd dir")
    } finally {
      spark.conf.unset(GraphAnalytics.CheckpointDirKey)
      spark.conf.unset(GraphAnalytics.CheckpointIntervalKey)
    }
  }

  test("DataFrame CC converges on a worst-case-diameter path graph") {
    // a 60-node path: min-label propagation would need ~n rounds to flood
    // the min id end-to-end; pointer-doubling (contraction's finish when
    // it stalls) needs O(log n), and still labels every node with the
    // component min
    val chain = (1L until 60L).map(i => (i, i + 1)).toDF("src", "dst")
    val ck = new GraphAnalytics.IterCheckpointer(spark)
    val cc = GraphAnalytics.jumpComponents(chain, ck)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cc.size == 60 && cc.values.forall(_ == 1L))
    // one initial cut plus two per round: the loop beat O(diameter)
    val rounds = (ck.cuts - 1) / 2
    assert(rounds > 0 && rounds <= 12, s"rounds=$rounds")
  }

  test("contraction CC matches union-find on adversarial shapes") {
    // each shape targets a contraction failure mode: a path (hook chains
    // the whole component through same-level parents — the in-level
    // pointer jump must root them), a star whose CENTER is the max id
    // (the center hooks to the min leaf, stranding the other leaves for
    // one extra level), a bipartite fan (the q33 shape: every dst
    // absorbs level 1), an imploding clique (the root loses all edges
    // and must be re-emitted by the compose step), and self-loops (kept
    // in the output, labeled by themselves)
    val shapes = Seq(
      "path" -> (1L to 50L).sliding(2).map(p => (p(0), p(1))).toSeq,
      "max-center star" -> (1L to 9L).map(i => (100L, i)),
      "bipartite fan" -> (1L to 6L).flatMap(c => Seq((c, 1000L + c), (c, 1000L + c + 1))),
      "imploding clique" -> (for { a <- 1L to 5L; b <- (a + 1) to 5L } yield (a, b)),
      "self-loops" -> Seq((7L, 7L), (1L, 2L), (3L, 3L), (2L, 3L)))
    shapes.foreach { case (name, es) =>
      val df = es.toDF("src", "dst")
      val local = GraphAnalytics.connectedComponents(spark, df)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val contract = GraphAnalytics.contractComponents(spark, df, localThreshold = 0)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(contract == local, s"shape '$name': $contract vs $local")
    }
  }

  test("contraction CC on random graphs, including released-block reuse") {
    val rnd = new scala.util.Random(42)
    (1 to 3).foreach { _ =>
      val n = 60
      val es = Seq.fill(n)((rnd.nextInt(2 * n).toLong, rnd.nextInt(2 * n).toLong))
      val df = es.toDF("src", "dst")
      val local = GraphAnalytics.connectedComponents(spark, df)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val contract = GraphAnalytics.contractComponents(spark, df, localThreshold = 0)
      // the result frame must stay readable TWICE (released frames are
      // only ever the superseded intermediates, never the output)
      assert(contract.count() == local.size)
      val m = contract.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(m == local)
    }
  }

  test("checkpoint stats firewall keeps loop estimates O(1) digits") {
    // checkpoints preserve origin-plan statistics; inside a loop the
    // join estimates MULTIPLY the previous round's BigInt, so after k
    // rounds the size estimate has O(k) (propagation) or O(3^k)
    // (contraction) digits and the optimizer drowns in BigInteger
    // arithmetic — the sf100 q33 stall. The firewall rebinds every cut
    // to a bounded estimate; 25 self-join rounds must stay at a sane
    // digit count AND stay correct.
    import org.apache.spark.sql.functions.col
    val ck = new GraphAnalytics.IterCheckpointer(spark)
    var df = ck.cut(Seq((1L, 2L), (2L, 3L)).toDF("src", "dst"))
    (1 to 25).foreach { _ =>
      val r = df.select(col("src").as("s2"), col("dst").as("d2"))
      df = ck.cut(df.join(r, col("dst") === col("s2"))
        .select(col("src"), col("d2").as("dst")))
    }
    val bytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
    assert(bytes < BigInt(10).pow(25), s"stats compounded: ${bytes.toString.length} digits")
    // rows known → accurate rebound stats, visible to the planner
    val sized = ck.cut(Seq((9L, 9L)).toDF("src", "dst"), rows = 1L)
    val st = sized.queryExecution.optimizedPlan.stats
    assert(st.rowCount.contains(BigInt(1)) && st.sizeInBytes == BigInt(64))
  }

  test("local and GraphX PageRank agree on random graphs (float tolerance)") {
    val rnd = new scala.util.Random(13)
    val n = 25
    val es = Seq.fill(80)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
      .filter { case (a, b) => a != b }.distinct
    val df = es.toDF("src", "dst")
    def toMap(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val local = toMap(GraphAnalytics.pageRank(spark, df, iters = 10))
    // localThreshold = 0 forces the distributed default (GraphX — see
    // pageRank's strategy note)
    val graphx = toMap(GraphAnalytics.pageRank(spark, df, iters = 10, localThreshold = 0))
    assert(local.keySet == graphx.keySet)
    local.foreach { case (k, v) =>
      assert(math.abs(v - graphx(k)) < 1e-6, s"graphx mismatch at $k")
    }
  }

  test("DataFrame BFS: source absent from the edge set returns empty") {
    assert(GraphAnalytics.bfs(spark, edges, source = 99L, maxDepth = 3,
      localThreshold = 0).count() == 0)
  }

  test("degenerate bounds: maxDepth 0 and empty graphs") {
    // maxDepth = 0: source at dist 0 iff present in some edge — all three
    // BFS strategies agree
    val d0 = GraphAnalytics.bfs(spark, edges, source = 2L, maxDepth = 0,
        localThreshold = 0)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(d0 == Map(2L -> 0))
    assert(GraphAnalytics.bfs(spark, edges, source = 2L, maxDepth = 0)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap == d0)
    assert(GraphAnalytics.bfs(spark, edges, source = 99L, maxDepth = 0,
      localThreshold = 0).count() == 0)
    // empty edge frame: PageRank must not throw on the null mass sum
    val empty = Seq.empty[(Long, Long)].toDF("src", "dst")
    assert(GraphAnalytics.pageRank(spark, empty, iters = 3).count() == 0)
    assert(GraphAnalytics.pageRank(spark, empty, iters = 3, localThreshold = 0).count() == 0)
    assert(GraphAnalytics.contractComponents(spark, empty, localThreshold = 0).count() == 0)
    assert(GraphAnalytics.jumpComponents(empty,
      new GraphAnalytics.IterCheckpointer(spark)).count() == 0)
  }

  test("degrees count both endpoints of every edge, a self-loop twice") {
    import org.apache.spark.sql.functions.col
    // a parallel pair, a self-loop and a separate component
    val es = Seq((1L, 2L), (1L, 2L), (2L, 3L), (3L, 3L), (10L, 11L)).toDF("src", "dst")
    val cached = spark.sparkContext.getPersistentRDDs.keySet
    val got = GraphAnalytics.degrees(spark, es)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    // nothing is left cached behind the answer
    assert(spark.sparkContext.getPersistentRDDs.keySet == cached)
    val want = es.select(col("src").as("node"))
      .unionAll(es.select(col("dst").as("node")))
      .groupBy("node").count()
      .collect().map(r => r.getLong(0) -> r.getLong(1).toInt).toMap
    assert(got == want)
    assert(got == Map(1L -> 2, 2L -> 3, 3L -> 3, 10L -> 1, 11L -> 1))
  }

  test("bfsFrames releases its level cuts: storage keeps only the result's blocks") {
    import org.apache.spark.sql.functions.col
    // directed chain 1→2→3→4→5→6 with a branch 2→9→10: several levels
    val es = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L), (2L, 9L), (9L, 10L))
      .toDF("src", "dst")
    val sc = spark.sparkContext
    def held[T](f: => T): (T, Int) = {
      val before = sc.getPersistentRDDs.keySet
      val out = f
      (out, (sc.getPersistentRDDs.keySet -- before).size)
    }
    // the distributed loop (lo = 1): one checkpoint of the result remains
    val (dist, n1) = held(GraphAnalytics.bfs(spark, es, 1L, 4, localThreshold = 0))
    assert(n1 == 1)
    val rows = dist.collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(rows == Map(1L -> 0, 2L -> 1, 3L -> 2, 9L -> 2, 4L -> 3, 10L -> 3, 5L -> 4))
    // a lo > 1 walk (no reached-set pruning; per-length cuts)
    val e0 = es.select(col("src").as("__ds"), col("dst").as("__dd"))
    val (walk, n2) = held(GraphAnalytics.bfsFrames(e0, Seq(1L).toDF("__seed"),
      lo = 2, hi = 4, keepAll = false, withPath = true))
    assert(n2 == 1)
    val paths = walk.collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getSeq[Long](3))).sortBy(_._1).toSeq
    assert(paths == Seq((3L, 2L, Seq(1L, 2L, 3L)), (4L, 3L, Seq(1L, 2L, 3L, 4L)),
      (5L, 4L, Seq(1L, 2L, 3L, 4L, 5L)), (9L, 2L, Seq(1L, 2L, 9L)),
      (10L, 3L, Seq(1L, 2L, 9L, 10L))))
  }

  test("local pagerank/triangles agree with GraphX") {
    import spark.implicits._
    // triangle {1,2,3} plus a pendant 4 and a disconnected pair
    val tri = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (10L, 11L))
      .toDF("src", "dst")

    val prGx = GraphAnalytics.pageRank(spark, tri, iters = 10, localThreshold = 0)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val prLocal = GraphAnalytics.pageRank(spark, tri, iters = 10)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(prLocal.keySet == prGx.keySet)
    prGx.foreach { case (n, r) => assert(math.abs(prLocal(n) - r) < 1e-9) }

    val tGx = GraphAnalytics.triangleCount(spark, tri, localThreshold = 0)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val tLocal = GraphAnalytics.triangleCount(spark, tri)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(tLocal == tGx)
    assert(tLocal == Map(1L -> 1, 2L -> 1, 3L -> 1, 4L -> 0, 10L -> 0, 11L -> 0))
  }

  test("stats prescreen writes off a large uncached frame with NO Spark job") {
    import spark.implicits._
    // ~16 TB by plan statistics; actually counting it would hang the suite,
    // so the test passing quickly is itself evidence the count was skipped.
    val huge = spark.range(2L * 1000 * 1000 * 1000 * 1000)
      .select(org.apache.spark.sql.functions.col("id").as("src"),
        org.apache.spark.sql.functions.col("id").as("dst"))
    val tracker = spark.sparkContext.statusTracker
    val before = tracker.getJobIdsForGroup(null).toSet
    assert(!GraphAnalytics.underThreshold(huge, GraphAnalytics.LocalEdgeThreshold))
    val after = tracker.getJobIdsForGroup(null).toSet
    assert(after == before, "sizing a large-stats frame must not run a count job")

    // a CACHED frame still gets the exact count (runs against the cache)
    val small = Seq((1L, 2L), (2L, 3L)).toDF("src", "dst").persist()
    try assert(GraphAnalytics.underThreshold(small, 10))
    finally small.unpersist()
  }
}
