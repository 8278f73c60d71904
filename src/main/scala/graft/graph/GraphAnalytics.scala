package graft.graph

import org.apache.spark.graphx.{Edge, Graph}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** GraphX/Pregel analytics over DataFrame-shaped edge lists (SURVEY.md §2.8
  * G9–G12; mandated by BASELINE.json `spark_approach`). The reference's only
  * graph analytics are Cypher count audits (reference:
  * final/inject_relationship.py:932-957); connected components, BFS, PageRank
  * and triangle counting are north-star extensions.
  *
  * Input edges are `(src: Long, dst: Long)` DataFrames; callers namespace
  * vertex ids (e.g. part ids offset by 10^9) before handing them in. Results
  * come back as DataFrames so the rest of the engine stays declarative.
  *
  * Scale note: the GraphX paths (PageRank, triangles, degrees) build the
  * graph with GraphX's default edge partitioning. An `EdgePartition2D`
  * re-partition pass (√n×√n vertex-block grid) was measured twice at
  * local[8]/local[32] and cost more than it saved at sf0.1, so no entry
  * point offers one. At 100 TB the bipartite projections built from fact
  * tables should also be pre-deduplicated (the builders do) so edge
  * multiplicity never inflates the RDD.
  */
object GraphAnalytics {

  /** Edge-row threshold under which components/BFS run inside a single task
    * (union-find / in-memory adjacency) instead of the distributed loops.
    * 5M (Long, Long) pairs ≈ 80 MB — comfortably one task. Same philosophy
    * as Spark's broadcast-join threshold: pick the physical strategy from
    * the actual input size. A tiny derived graph should not pay ~15
    * distributed rounds of job-scheduling overhead (measured ~0.25
    * s/round at local[32], i.e. ~4 s floor regardless of data); a 100 TB
    * derived graph exceeds the threshold and takes the distributed path
    * automatically. Callers that
    * persist their edge DataFrame (e.g. the Q33/Q34 bipartite cache) pay
    * the sizing count() against the cache.
    */
  val LocalEdgeThreshold: Long = 5L * 1000 * 1000

  /** Conf key: when set to a (fault-tolerant, e.g. HDFS) directory, every
    * [[CheckpointIntervalKey]]-th lineage cut in an iterative loop
    * ([[bfsFrames]], [[contractComponents]], [[jumpComponents]], and the
    * Cypher var-length walk) uses a RELIABLE `checkpoint()` into it
    * instead of `localCheckpoint`. Local checkpoints live in executor block storage:
    * losing ONE executor kills the whole iterative job, and the pinned
    * blocks block dynamic allocation — on a preemptible 100 TB cluster
    * the reliable cut bounds recovery to the interval. Unset (the
    * local[n] default) every cut stays local — no distributed FS needed,
    * no write amplification.
    */
  val CheckpointDirKey = "graft.checkpoint.dir"

  /** Conf key: reliable-checkpoint cadence (every k-th cut; default 5).
    * Between reliable cuts the loop still localCheckpoints, so plan
    * growth stays bounded per round while the replicated writes are paid
    * only k times less often.
    */
  val CheckpointIntervalKey = "graft.checkpoint.interval"

  /** Per-loop lineage-cutter implementing the policy above. One instance
    * per iterative invocation (the round counter is loop-local).
    */
  private[graft] final class IterCheckpointer(spark: SparkSession) {
    private val dir = spark.conf.getOption(CheckpointDirKey)
    private val every = math.max(1,
      spark.conf.getOption(CheckpointIntervalKey).map(_.toInt).getOrElse(5))
    private var n = 0
    dir.foreach(spark.sparkContext.setCheckpointDir)
    /** Lineage cuts taken so far (a loop's round count, for its specs). */
    private[graft] def cuts: Int = n
    /** Cut lineage and firewall the preserved statistics (see
      * [[org.apache.spark.sql.graft.StatsFirewall]]): checkpoints inherit
      * the origin plan's size estimate, and inside a loop those estimates
      * COMPOUND — join stats multiply the previous round's BigInt, so the
      * digit count grows with the round number until the optimizer spends
      * its time in BigInteger arithmetic (measured: the sf100 contraction
      * stalled at level 6; the jump profile's per-round drift). `rows`,
      * when the loop knows it, makes the rebound estimate accurate enough
      * for broadcast planning; unknown defaults to `defaultSizeInBytes`.
      */
    def cut(df: DataFrame, rows: Long = -1L): DataFrame = {
      n += 1
      val cp = if (dir.nonEmpty && n % every == 0) df.checkpoint(true)
               else df.localCheckpoint(true)
      org.apache.spark.sql.graft.StatsFirewall.rebound(cp, rows)
    }

    /** Release the block-manager storage of a SUPERSEDED cut frame. Only
      * the loop that owns a cut may call this, and only once nothing will
      * read the frame again: a localCheckpoint's blocks ARE its data (the
      * lineage is truncated), so a released frame throws on any later
      * access. The cacheManager never registered these blocks
      * (`unpersist()` on the Dataset is a no-op), so we drop them via the
      * underlying RDD of the cut's LogicalRDD plan. Without this, a long iterative job
      * accumulates one full label-frame per cut and the per-round cost
      * drifts upward with block-manager pressure — measured on the sf100
      * q33 profile: prop 2 s → 19 s and jump 0.8 s → 18.7 s by round 18.
      * No-op on frames that are not a direct cut output (projections over
      * a cut, arbitrary plans) — the matcher keeps the call safe rather
      * than clever. A reliable (dir-mode) checkpoint IS matched — its
      * LogicalRDD also caches blocks — but releasing it only drops the
      * cached copy: the frame stays readable, recomputing from the
      * checkpoint files.
      */
    def release(df: DataFrame): Unit = df.queryExecution.logical match {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd.unpersist(false)
      case _ => ()
    }
  }

  /** Bytes-per-row bound used by the plan-stats prescreen in
    * [[underThreshold]]: an edge row is two Longs (~16 B data, ~48 B with
    * in-memory overheads); 64 B/row makes the byte cap a generous
    * OVER-estimate of `threshold` rows, so the prescreen only ever writes
    * a frame off as "large" when it is far past the threshold.
    */
  private val StatsBytesPerRow = 64L

  /** Strategy sizing without an unconditional `count()`: at 100 TB a full
    * scan per analytics call just to be told "go distributed" is a real
    * cost.
    *
    * - Cached frames (the recommended calling convention — q33/q34 persist
    *   their bipartite projection) always get the exact count: it runs
    *   against (and on first use, materializes) the cache.
    * - Uncached frames are prescreened on
    *   `optimizedPlan.stats.sizeInBytes`: over the byte cap the frame is
    *   declared large with NO job (raw-scan stats are accurate, and the
    *   wild OVERestimates Catalyst produces for un-cached join lineage
    *   only ever push toward the distributed path — the safe direction);
    *   under the cap the exact count is cheap by construction.
    */
  private[graph] def underThreshold(edges: DataFrame, threshold: Long): Boolean = {
    if (edges.storageLevel == StorageLevel.NONE) {
      val capBytes = BigInt(threshold) * StatsBytesPerRow
      if (edges.queryExecution.optimizedPlan.stats.sizeInBytes > capBytes) return false
    }
    edges.count() <= threshold
  }

  private[graph] def toGraph(edges: DataFrame, undirected: Boolean): Graph[Int, Int] = {
    val edgeRDD = edges.select("src", "dst").rdd.flatMap { r =>
      val e = Edge(r.getLong(0), r.getLong(1), 1)
      if (undirected) Iterator(e, Edge(r.getLong(1), r.getLong(0), 1)) else Iterator(e)
    }
    Graph.fromEdges(edgeRDD, 0, StorageLevel.MEMORY_AND_DISK, StorageLevel.MEMORY_AND_DISK)
  }

  /** Connected components. Output: (node: Long, component: Long) where
    * component = min vertex id in the component — deterministic. Adaptive
    * physical strategy: below `localThreshold` edge rows the whole graph
    * fits one task and runs union-find there; above, contraction
    * ([[contractComponents]]; both produce identical min-id labels).
    */
  def connectedComponents(spark: SparkSession, edges: DataFrame,
      localThreshold: Long = LocalEdgeThreshold): DataFrame = {
    if (underThreshold(edges, localThreshold)) return localComponents(spark, edges)
    contractComponents(spark, edges, localThreshold)
  }

  /** Contraction cap before handing the (already much smaller) graph to
    * [[jumpComponents]]: hook+shortcut at least halves a path per level and
    * collapses stars outright, so 40 levels covers any 2^40-node chain;
    * real FK-derived graphs measure 1-3 levels. A belt-and-braces bound,
    * not a tuning knob.
    */
  private val MaxContractionLevels = 40

  /** Contraction connected components, the distributed strategy. Label
    * propagation keeps the FULL label and edge frames in play every round
    * for O(diameter) rounds: the sf100 probe measured q33's sampled
    * bipartite graph (6.2M edges, first time over [[LocalEdgeThreshold]])
    * at 1153 s — ~50+ rounds of full-size joins whose per-round cost also
    * drifted 2 s → 19 s on accumulated checkpoint blocks. Contraction
    * attacks the ROUND COUNT and the PER-ROUND SIZE at once:
    *
    * Each level (a) hooks every node with a smaller neighbor onto its
    * minimum neighbor (one groupBy over the edge frame), (b) pointer-jumps
    * the hook map to its roots (self-joins of the ABSORBED-nodes map only
    * — a path's chain resolves in log₂ passes of a frame that is tiny
    * relative to the graph), then (c) rewrites both edge endpoints
    * through the rooted map, drops self-loops, and dedups — the graph
    * that enters level k+1 physically lost every absorbed node and every
    * intra-cluster edge. FK-derived graphs collapse brutally fast: the
    * q33 bipartite graph absorbs ALL part-side nodes into customers at
    * level 1 (every part has a smaller customer neighbor), leaving a
    * customer-customer graph under the local threshold — one distributed
    * level, then single-task union-find. Generally: a path halves per
    * level, a star collapses in ≤2, so levels = O(log n) with each level
    * cheaper than the last.
    *
    * Labels compose back down the levels: component(absorbed) =
    * component(root it hooked to), one join per level (plus (root, root)
    * rows for components that contracted away entirely). Superseded
    * frames are released as soon as the next cut materializes, so block
    * storage stays O(current graph + maps), not O(rounds). Output
    * matches [[localComponents]] / [[jumpComponents]] / GraphX exactly:
    * (node, component = min id in the component) for every node with at
    * least one edge, self-loop-only nodes included.
    */
  private[graph] def contractComponents(spark: SparkSession, edges: DataFrame,
      localThreshold: Long): DataFrame = {
    import spark.implicits._
    val ck = new IterCheckpointer(spark)
    // canonical undirected edge set: (min, max), no self-loops, deduped
    var g = ck.cut(edges
      .select(least(col("src"), col("dst")).as("src"),
        greatest(col("src"), col("dst")).as("dst"))
      .filter(col("src") =!= col("dst")).distinct())
    var gEdges = g.count()
    var maps = List.empty[DataFrame]
    var level = 0
    val floor = math.max(localThreshold, 1L)
    while (gEdges > floor && level < MaxContractionLevels) {
      level += 1
      val und = g.unionByName(g.select(col("dst").as("src"), col("src").as("dst")))
      // hook: absorbed nodes only — (node, parent = min neighbor < node)
      var mCut = ck.cut(und.groupBy(col("src")).agg(min(col("dst")).as("__mn"))
        .filter(col("__mn") < col("src"))
        .select(col("src").as("node"), col("__mn").as("parent")))
      // shortcut the hook map to its roots: a parent that is itself
      // absorbed this level gets replaced by ITS parent, doubling chain
      // compression per pass — so the stored map points straight at
      // level survivors and back-resolution is one join per level
      var jumping = true
      while (jumping) {
        val j = mCut.select(col("node").as("__jn"), col("parent").as("__jp"))
        val m2 = ck.cut(mCut.join(j, col("parent") === col("__jn"), "left")
          .select(col("node"), coalesce(col("__jp"), col("parent")).as("parent"),
            (col("__jp") < col("parent")).as("__moved")))
        jumping = m2.filter(col("__moved")).limit(1).count() > 0
        ck.release(mCut)
        mCut = m2
      }
      val m = mCut.drop("__moved")
      val l1 = m.select(col("node").as("__n1"), col("parent").as("__p1"))
      val l2 = m.select(col("node").as("__n2"), col("parent").as("__p2"))
      val g2 = ck.cut(g
        .join(l1, col("src") === col("__n1"), "left")
        .join(l2, col("dst") === col("__n2"), "left")
        .select(coalesce(col("__p1"), col("src")).as("s"),
          coalesce(col("__p2"), col("dst")).as("d"))
        .select(least(col("s"), col("d")).as("src"),
          greatest(col("s"), col("d")).as("dst"))
        .filter(col("src") =!= col("dst")).distinct())
      ck.release(g)
      maps ::= m // head = deepest level; mCut stays alive behind the projection
      g = g2
      gEdges = g.count()
    }
    // finish: union-find in one task under the threshold; if contraction
    // ever stalls against MaxContractionLevels the graph is still far
    // smaller than the input — pointer-doubling finishes it on any diameter
    var comp =
      if (gEdges == 0) Seq.empty[(Long, Long)].toDF("node", "component")
      else if (gEdges > floor) jumpComponents(g, ck)
      else localComponents(spark, g)
    // compose labels back down: deepest level first, so every parent is
    // either already labeled or the (fully contracted away) root itself
    maps.foreach { m =>
      val byParent = comp.select(col("node").as("__cn"), col("component").as("__cc"))
      val resolved = m.join(byParent, col("parent") === col("__cn"), "left")
        .select(col("node"),
          coalesce(col("__cc"), col("parent")).as("component"))
      val roots = m.select(col("parent").as("node")).distinct()
        .join(comp, Seq("node"), "left_anti")
        .select(col("node"), col("node").as("component"))
      val prev = comp
      comp = ck.cut(comp.unionByName(resolved).unionByName(roots))
      ck.release(prev)
    }
    // nodes whose only edges were self-loops exist in the local strategy's
    // output (labeled by themselves) — match them
    val selfOnly = edges.filter(col("src") === col("dst"))
      .select(col("src").as("node")).distinct()
      .join(comp, Seq("node"), "left_anti")
      .select(col("node"), col("node").as("component"))
    comp.unionByName(selfOnly)
  }

  /** Pointer-doubling (label-shortcutting) connected components over an
    * `(src, dst)` edge frame: each round runs one neighbor-min
    * propagation and one pointer JUMP (`l ← l(l)`, a self-join of the
    * label frame on the label column). The jump halves label-chain
    * depth, so convergence is O(log n) rounds on ANY diameter — the
    * Shiloach-Vishkin discipline, vs min-label propagation's
    * O(diameter). Each round joins the FULL label set twice, which is why
    * this only finishes a contraction that stalled at
    * [[MaxContractionLevels]] (chain-shaped data) rather than running
    * first. Invariant: every label is a node id inside its own component
    * and only decreases, so the fixpoint (labels constant across every
    * edge and stable under the jump) is the component-min id — identical
    * output to contraction, union-find, and GraphX. `ck` is the caller's
    * loop checkpointer; this releases only the label frames it cut.
    */
  private[graph] def jumpComponents(edges: DataFrame, ck: IterCheckpointer): DataFrame = {
    val e = edges.select(col("src"), col("dst"))
    val adj = e.unionByName(e.select(col("dst").as("src"), col("src").as("dst")))
    var labels = ck.cut(adj.select(col("src").as("node")).distinct()
      .withColumn("component", col("node")))
    var prevCut = labels
    var changed = 1L
    while (changed > 0) {
      val nbr = adj.join(labels, col("src") === col("node"))
        .groupBy(col("dst").as("__n")).agg(min(col("component")).as("__c"))
      val l1 = ck.cut(labels.join(nbr, col("node") === col("__n"), "left")
        .select(col("node"), col("component").as("__old"),
          least(col("component"), coalesce(col("__c"), col("component")))
            .as("component")))
      ck.release(prevCut) // l1 is materialized; the previous labels are dead
      val jump = l1.select(col("node").as("__jn"), col("component").as("__jc"))
      val l2 = ck.cut(l1.join(jump, col("component") === col("__jn"), "left")
        .select(col("node"), col("__old"),
          least(col("component"), coalesce(col("__jc"), col("component")))
            .as("component")))
      ck.release(l1) // l2 is materialized; the half-round frame is dead
      prevCut = l2
      changed = l2.filter(col("component") < col("__old")).count()
      labels = l2.drop("__old")
    }
    labels
  }

  /** Single-task union-find CC (path compression + union by size), labeling
    * each node with the min id in its component. Only invoked when the edge
    * list is under [[LocalEdgeThreshold]].
    */
  private def localComponents(spark: SparkSession, edges: DataFrame): DataFrame = {
    import spark.implicits._
    edges.select("src", "dst").as[(Long, Long)].coalesce(1)
      .mapPartitions { it =>
        val parent = new java.util.HashMap[Long, Long]()
        def find(x: Long): Long = {
          var r = x
          while (parent.get(r) != r) r = parent.get(r)
          var c = x // path compression
          while (parent.get(c) != r) { val n = parent.get(c); parent.put(c, r); c = n }
          r
        }
        it.foreach { case (s, d) =>
          if (!parent.containsKey(s)) parent.put(s, s)
          if (!parent.containsKey(d)) parent.put(d, d)
          val (rs, rd) = (find(s), find(d))
          // union toward the smaller root so the final root IS the min id
          if (rs < rd) parent.put(rd, rs) else if (rd < rs) parent.put(rs, rd)
        }
        val out = Iterator.newBuilder[(Long, Long)]
        parent.keySet().forEach(n => out += ((n, find(n))))
        out.result()
      }
      .toDF("node", "component")
  }

  /** BFS hop distance from `source`, bounded at `maxDepth` hops, over the
    * undirected graph. Output: (node: Long, dist: Int) for reached nodes
    * only; the source is emitted at dist 0 iff it appears in some edge
    * (GraphX likewise only materializes vertices present in the edge
    * set). Adaptive like [[connectedComponents]]: single-task adjacency
    * BFS under the local threshold, the frontier loop [[bfsFrames]]
    * above it — the loop that also serves Cypher's shortestPath, seeded
    * with the one source over the doubled edge frame in its length-only
    * mode. Both strategies return an eagerly materialized frame, so a
    * caller may release its edge cache as soon as this returns (q34 does).
    */
  def bfs(spark: SparkSession, edges: DataFrame, source: Long, maxDepth: Int,
      localThreshold: Long = LocalEdgeThreshold): DataFrame = {
    import spark.implicits._
    if (underThreshold(edges, localThreshold))
      // the local kernel's plan references the INPUT edge frame (a lazy
      // mapPartitions): without the cut, a caller that released its edge
      // cache would silently re-pay the whole ingest on the first result
      // action (measured at sf0.1: q34 3.13 s vs 1.67 s for its ingest+bfs
      // phases). Bounded: at most ~2x localThreshold (node, dist) pairs.
      return localBfs(spark, edges, source, maxDepth).localCheckpoint(true)
    val e = edges.select(col("src").as("__ds"), col("dst").as("__dd"))
    val dist = bfsFrames(
      e.unionByName(e.select(col("__dd").as("__ds"), col("__ds").as("__dd"))),
      Seq(source).toDF("__seed"), lo = 1, hi = math.max(maxDepth, 1),
      keepAll = false, withPath = false)
    // the source has an edge iff level 1 is non-empty; pairs that walk
    // back to it (a self-loop at level 1, any cycle later) are no distance
    val present = dist.limit(1).select(lit(source).as("node"), lit(0).as("dist"))
    if (maxDepth < 1) present
    else dist.filter(col("__dd") =!= source)
      .select(col("__dd").as("node"), col("__len").cast("int").as("dist"))
      .unionByName(present)
  }

  /** Frontier/reached-set frames at or under this many rows get an
    * EXPLICIT `broadcast()` hint in [[bfsFrames]]' per-level joins.
    * Catalyst cannot infer it: a checkpointed frontier's LogicalRDD
    * carries the PRE-cut plan's size estimate — derived from the full
    * edge scan it was cut from — so auto-broadcast never fires and every
    * level sort-merge-joins the WHOLE edge frame (measured at sf100:
    * ~35 GB of sort spill PER LEVEL on the 1.4B-row undirected union, the
    * disk-exhaustion boundary; with the hint a level is one scan of the
    * edge frame, zero exchanges of it). The row counts are free — the
    * loop already runs a per-level action on the checkpointed frontier.
    * 1M rows ≈ tens of MB of (src,dst) pairs, well under any broadcast
    * limit even with path arrays attached; a closure-dense frontier above
    * the gate keeps the shuffle path, which is then the right plan.
    */
  private[graft] val BfsBroadcastFrontierRows = 1000000L

  /** The distributed BFS loop: multi-source, level-synchronous,
    * frontier-disciplined, optionally path-carrying. It serves [[bfs]]
    * above the local threshold and every shortestPath of the Cypher
    * engine above its single-task gate. `e0` is a directed `(__ds, __dd)`
    * edge frame (undirected callers double it), plus `__rt` (the hop's
    * relationship type) under `withRels` — duplicate edge rows are
    * tolerated (the first frontier is distinct'd after the seed
    * semi-join, every later level through oneHop's groupBy). `seeds` is
    * a `__seed` frame of the same key type (scalar or tagged struct —
    * both join/group/min identically). Returns the minimum-hop
    * `(__ds, __dd, __len[, __path[, __rels]])` rows for `lo..hi` hops
    * (`hi` = Int.MaxValue runs to frontier exhaustion when `lo` is 1),
    * eagerly checkpointed, so callers may unpersist the inputs
    * immediately. A pair (s, s) appears when a walk returns to its seed.
    */
  private[graft] def bfsFrames(e0: DataFrame, seeds: DataFrame,
      lo: Int, hi: Int, keepAll: Boolean, withPath: Boolean,
      withRels: Boolean = false): DataFrame = {
    // the per-hop type sequence only exists alongside the node path
    // (relationships(p) reads both); callers guarantee the pairing
    require(!withRels || withPath, "withRels requires withPath")
    // per-level lineage cuts ride the shared policy: localCheckpoint by
    // default, every k-th cut reliable when graft.checkpoint.dir is set
    // (fault tolerance on preemptible clusters — see [[CheckpointDirKey]])
    val ck = new IterCheckpointer(e0.sparkSession)
    // every level cut, released once the result's own checkpoint holds the
    // rows: until then `dist`'s unions read them
    val cuts = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    def cut(df: DataFrame): DataFrame = { val c = ck.cut(df); cuts += c; c }
    // one hop forward. Frontier discipline per mode:
    //  - shortestPath + path read: keep ONE (lexicographically minimal)
    //    path per (src, dst) — frontier bounded by the pair closure;
    //  - shortestPath, length-only: no __path at all — the frontier rows
    //    are (src, dst) pairs, the narrowest possible shuffle;
    //  - allShortestPaths: keep EVERY distinct path per pair (the rows
    //    ARE the result multiplicity). Fan-out is the shortest-path
    //    count, still pruned by the reached-pair anti join — a level
    //    never extends into already-reached pairs, so no path revisits a
    //    node (its prefix would have reached it earlier).
    def oneHop(from: DataFrame,
        reached: Option[DataFrame] = None): DataFrame = {
      val stepped = from.join(
        e0.withColumnRenamed("__ds", "__m").withColumnRenamed("__dd", "__dd2"),
        col("__dd") === col("__m"))
      // When the reached-pair set is supplied, anti-join it BEFORE the
      // per-pair dedup/agg: in an undirected graph most stepped
      // rows walk straight back into already-reached pairs (every
      // level-2 row can revisit its seed), and filtering them first
      // keeps their wide path/rels structs out of the min-struct
      // aggregation. Both operations key on (__ds, __dd), so a
      // shuffle-based anti's exchange is reused by the groupBy — same
      // shuffle count, strictly less aggregated data — and a
      // broadcast anti filters map-side before the only shuffle.
      // Pair-equivalent to anti-joining after the agg: the agg never
      // creates pairs, only collapses rows within one, so the removed
      // rows all belong to removed pairs (q105 −13% / q85 −10% warm at
      // sf0.1 against the post-agg position).
      val anti: DataFrame => DataFrame = reached match {
        case Some(r) => df => df.join(r, Seq("__ds", "__dd"), "left_anti")
        case None => identity
      }
      if (!withPath)
        anti(stepped.select(col("__ds"), col("__dd2").as("__dd"))).distinct()
      else if (withRels) {
        // append the hop's edge type alongside the node; the single-path
        // prune picks the lexicographic-min (path, type-seq) pair —
        // deterministic even when parallel edges of different types
        // connect the same node pair
        val ext = anti(stepped.select(col("__ds"), col("__dd2").as("__dd"),
          concat(col("__path"), array(col("__dd2"))).as("__path"),
          concat(col("__rels"), array(col("__rt"))).as("__rels")))
        if (keepAll) ext.distinct()
        else ext.groupBy("__ds", "__dd")
          .agg(min(struct(col("__path"), col("__rels"))).as("__m"))
          .select(col("__ds"), col("__dd"),
            col("__m.__path").as("__path"), col("__m.__rels").as("__rels"))
      }
      else if (keepAll)
        anti(stepped.select(col("__ds"), col("__dd2").as("__dd"),
          concat(col("__path"), array(col("__dd2"))).as("__path"))).distinct()
      else
        anti(stepped.select(col("__ds"), col("__dd2").as("__dd"),
          concat(col("__path"), array(col("__dd2"))).as("__path")))
          .groupBy("__ds", "__dd").agg(min(col("__path")).as("__path"))
    }
    // first-hop frontier restricted to the bound sources, distinct'd
    // HERE — on the seed-bounded frontier, not the full edge frame
    // (intermediate hops still traverse every edge)
    val e0s = e0.join(seeds, col("__ds") === col("__seed"), "left_semi")
      .distinct()
    // eagerly checkpointed: the first frontier is read several times
    // (level-2 expansion, the reached-set anti join, the result union)
    // and its un-checkpointed plan still carries the full edge scan —
    // Catalyst can't see the seed restriction made it small, so level 2
    // would sort-merge join, shuffling the WHOLE edge frame, instead of
    // broadcasting the frontier (measured at sf1: q85 13.5 -> ~6 s warm)
    val e0p = {
      // fold the edge-type column into the level-1 type sequence; without
      // the reduce a pair connected by TWO member types would enter the
      // single-path mode twice (distinct saw distinct __rt values)
      val w = if (!withRels) e0s
        else e0s.withColumn("__rels", array(col("__rt"))).drop("__rt")
      val p0 = if (withPath)
        w.withColumn("__path", array(col("__ds"), col("__dd"))) else w
      val p1 = if (withRels && !keepAll)
        p0.groupBy("__ds", "__dd")
          .agg(min(struct(col("__path"), col("__rels"))).as("__m"))
          .select(col("__ds"), col("__dd"),
            col("__m.__path").as("__path"), col("__m.__rels").as("__rels"))
      else p0
      cut(p1)
    }
    // size-gated broadcast: the checkpointed frontier's LogicalRDD keeps
    // the PRE-cut plan's size estimate, so Catalyst never auto-broadcasts
    // it and each level would sort-merge-shuffle the whole edge frame —
    // see [[BfsBroadcastFrontierRows]]
    def gated(df: DataFrame, rows: Long): DataFrame =
      if (rows <= BfsBroadcastFrontierRows) broadcast(df) else df
    val result = if (lo == 1) {
      var dist = e0p.withColumn("__len", lit(1L))
      var distRows = e0p.count()
      var frontier = e0p
      var frontierRows = distRows
      var n = 2
      var exhausted = frontierRows == 0
      // an open upper bound (Int.MaxValue) runs until the frontier
      // exhausts — guaranteed finite because every level must
      // reach at least one new (src, dst) pair of the finite closure
      while (n <= hi && !exhausted) {
        // localCheckpoint (eager) truncates lineage: each level's anti
        // join references the whole reached-set union, so without the cut
        // the logical plan doubles per level and planning itself OOMs
        // long before the data does. The checkpoint also lets the loop
        // stop as soon as a frontier comes back empty.
        val from = gated(frontier, frontierRows)
        val reached = gated(dist.select("__ds", "__dd"), distRows)
        val fresh = cut(oneHop(from, Some(reached)))
        val freshRows = fresh.count()
        if (freshRows == 0) exhausted = true
        else {
          dist = dist.unionByName(fresh.withColumn("__len", lit(n.toLong)))
          distRows += freshRows
          frontier = fresh
          frontierRows = freshRows
        }
        n += 1
      }
      // Cut the result loose from the scratch state: checkpointing `dist`
      // truncates its lineage, so the caller can unpersist e0 (repeated
      // shortestPath queries in one JVM would otherwise each pin an edge
      // copy forever) and the level cuts are released below.
      dist.localCheckpoint(true)
    } else {
      // a lower bound > 1 asks for the shortest path NO SHORTER than lo —
      // pairs whose true distance is below lo must still surface at their
      // shortest admissible length, so BFS's reached-set pruning doesn't
      // apply; enumerate each admissible length instead (walk semantics,
      // per-level distinct keeps growth bounded by the closure size).
      // Walk enumeration needs the path even in length-only mode when
      // keepAll (multiplicity); plain length-only still enumerates pairs.
      // per-level checkpoint + empty-frontier early exit: levels would
      // otherwise chain join/groupBy stages into one compounding plan,
      // and a frontier that dies (DAG exhausted) would still run the
      // remaining levels as empty jobs
      var cur = e0p
      var curRows = cur.count()
      var exhausted = curRows == 0
      for (_ <- 2 to lo if !exhausted) {
        cur = cut(oneHop(gated(cur, curRows)))
        curRows = cur.count()
        exhausted = curRows == 0
      }
      var dist = cur.withColumn("__len", lit(lo.toLong))
      for (n <- lo + 1 to hi if !exhausted) {
        cur = cut(oneHop(gated(cur, curRows)))
        curRows = cur.count()
        if (curRows == 0) exhausted = true
        else dist = dist.unionByName(cur.withColumn("__len", lit(n.toLong)))
      }
      if (keepAll) {
        // all rows at each pair's minimum admissible length
        val mins = dist.groupBy("__ds", "__dd").agg(min(col("__len")).as("__minl"))
        dist.join(mins, Seq("__ds", "__dd"))
          .filter(col("__len") === col("__minl"))
          .drop("__minl")
          .localCheckpoint(true)
      } else if (!withPath) {
        dist.groupBy("__ds", "__dd").agg(min(col("__len")).as("__len"))
          .localCheckpoint(true)
      } else if (withRels) {
        dist.groupBy("__ds", "__dd")
          .agg(min(struct(col("__len"), col("__path"), col("__rels"))).as("__m"))
          .select(col("__ds"), col("__dd"),
            col("__m.__len").as("__len"), col("__m.__path").as("__path"),
            col("__m.__rels").as("__rels"))
          .localCheckpoint(true)
      } else {
        // min(struct) picks the shortest admissible length and its
        // lexicographic-min path in one orderable aggregate
        dist.groupBy("__ds", "__dd")
          .agg(min(struct(col("__len"), col("__path"))).as("__m"))
          .select(col("__ds"), col("__dd"),
            col("__m.__len").as("__len"), col("__m.__path").as("__path"))
          .localCheckpoint(true)
      }
    }
    // the eager checkpoint above holds the result's rows, so no cut is
    // read again; without the release every level's blocks stay in storage
    // until the ContextCleaner happens to collect the frames
    cuts.foreach(ck.release)
    result
  }

  /** Single-task level-synchronous BFS over an in-memory adjacency map.
    * Undirected; emits only nodes reached within `maxDepth` (the source is
    * emitted at dist 0 iff it appears in some edge, matching GraphX which
    * only materializes vertices present in the edge set).
    */
  private def localBfs(spark: SparkSession, edges: DataFrame, source: Long,
      maxDepth: Int): DataFrame = {
    import spark.implicits._
    edges.select("src", "dst").as[(Long, Long)].coalesce(1)
      .mapPartitions { it =>
        val adj = new java.util.HashMap[Long, scala.collection.mutable.ArrayBuffer[Long]]()
        def add(a: Long, b: Long): Unit =
          adj.computeIfAbsent(a, _ => scala.collection.mutable.ArrayBuffer.empty) += b
        it.foreach { case (s, d) => add(s, d); add(d, s) }
        val dist = new java.util.HashMap[Long, Int]()
        if (adj.containsKey(source)) {
          dist.put(source, 0)
          var frontier = List(source)
          var depth = 0
          while (frontier.nonEmpty && depth < maxDepth) {
            depth += 1
            val next = List.newBuilder[Long]
            frontier.foreach { u =>
              val ns = adj.get(u)
              if (ns != null) ns.foreach { v =>
                if (!dist.containsKey(v)) { dist.put(v, depth); next += v }
              }
            }
            frontier = next.result()
          }
        }
        val out = Iterator.newBuilder[(Long, Int)]
        dist.forEach((n, d) => out += ((n, d)))
        out.result()
      }
      .toDF("node", "dist")
  }

  /** PageRank (bench-only — float-iterative, not oracle-hashable). Adaptive:
    * single-task power iteration below the local threshold (same update rule
    * as GraphX `staticPageRank`: ranks start at 1.0, each round every vertex
    * becomes 0.15 + 0.85 · Σ inbound rank/outDegree), GraphX above it.
    */
  def pageRank(spark: SparkSession, edges: DataFrame, iters: Int = 10,
      localThreshold: Long = LocalEdgeThreshold): DataFrame = {
    import spark.implicits._
    if (underThreshold(edges, localThreshold))
      return localPageRank(spark, edges, iters)
    // PageRank deliberately STAYS on GraphX where BFS/CC run as DataFrame
    // iterations: it is a dense every-vertex-every-round algorithm run
    // for a fixed 10+ iterations, so GraphX's one-time partitioned graph
    // build amortizes and its per-round cost beats a per-round DataFrame
    // join — measured 2x at sf1 (DataFrame power iteration 15.8-17.8 s vs
    // GraphX 6.9-8.8 s for 10 iterations on the 6M-edge graph). BFS and
    // CC are DataFrame loops because their per-round work SHRINKS (sparse
    // frontiers, contracting graphs); PageRank's never does.
    toGraph(edges, undirected = false)
      .staticPageRank(iters)
      .vertices
      .map { case (id, pr) => (id, pr) }
      .toDF("node", "rank")
  }

  private def localPageRank(spark: SparkSession, edges: DataFrame,
      iters: Int): DataFrame = {
    import spark.implicits._
    edges.select("src", "dst").as[(Long, Long)].coalesce(1)
      .mapPartitions { it =>
        val es = it.toArray
        val outDeg = new java.util.HashMap[Long, Int]()
        val ranks = new java.util.HashMap[Long, Double]()
        es.foreach { case (s, d) =>
          outDeg.merge(s, 1, (a: Int, b: Int) => a + b)
          ranks.put(s, 1.0); ranks.put(d, 1.0)
        }
        for (_ <- 1 to iters) {
          val msg = new java.util.HashMap[Long, Double]()
          es.foreach { case (s, d) =>
            msg.merge(d, ranks.get(s) / outDeg.get(s), (a: Double, b: Double) => a + b)
          }
          ranks.keySet().forEach { v =>
            ranks.put(v, 0.15 + 0.85 * msg.getOrDefault(v, 0.0))
          }
        }
        // GraphX staticPageRank normalizes the final rank mass to the vertex
        // count (SPARK-18847: sinks leak mass otherwise); mirror that.
        var sum = 0.0
        ranks.values().forEach(r => sum += r)
        val scale = if (sum == 0.0) 1.0 else ranks.size() / sum
        val out = Iterator.newBuilder[(Long, Double)]
        ranks.forEach((n, r) => out += ((n, r * scale)))
        out.result()
      }
      .toDF("node", "rank")
  }

  /** Single-task triangle count over canonical deduped edges: per edge
    * (u,v), each common neighbor w closes one triangle; incrementing u, v
    * and w across all three edges of a triangle counts each member 3×, so
    * divide by 3 (matches GraphX per-vertex semantics, incl. emitting
    * 0-triangle vertices).
    */
  private def localTriangles(spark: SparkSession, canon: DataFrame): DataFrame = {
    import spark.implicits._
    canon.select("src", "dst").as[(Long, Long)].coalesce(1)
      .mapPartitions { it =>
        val es = it.toArray
        val adj = new java.util.HashMap[Long, java.util.HashSet[java.lang.Long]]()
        def add(a: Long, b: Long): Unit =
          adj.computeIfAbsent(a, _ => new java.util.HashSet[java.lang.Long]()).add(b)
        es.foreach { case (s, d) => add(s, d); add(d, s) }
        val cnt = new java.util.HashMap[Long, Long]()
        adj.keySet().forEach(v => cnt.put(v, 0L))
        es.foreach { case (u, v) =>
          val (small, large) =
            if (adj.get(u).size <= adj.get(v).size) (adj.get(u), adj.get(v))
            else (adj.get(v), adj.get(u))
          small.forEach { w =>
            if (w != u && w != v && large.contains(w)) {
              cnt.merge(u, 1L, (a: Long, b: Long) => a + b)
              cnt.merge(v, 1L, (a: Long, b: Long) => a + b)
              cnt.merge(w.longValue(), 1L, (a: Long, b: Long) => a + b)
            }
          }
        }
        val out = Iterator.newBuilder[(Long, Int)]
        cnt.forEach((n, c) => out += ((n, (c / 3).toInt)))
        out.result()
      }
      .toDF("node", "triangles")
  }

  /** Triangle count per vertex (bench-only). GraphX requires canonical
    * direction (src < dst) and deduplicated edges. Adaptive: single-task
    * set-intersection counting below the local threshold.
    */
  def triangleCount(spark: SparkSession, edges: DataFrame,
      localThreshold: Long = LocalEdgeThreshold): DataFrame = {
    import spark.implicits._
    val canon = edges.select(
      least(col("src"), col("dst")).as("src"),
      greatest(col("src"), col("dst")).as("dst"))
      .filter(col("src") =!= col("dst"))
      .distinct()
    // sized on the CALLER's frame (usually cached), not the derived canon:
    // |canon| <= |edges|, so edges under threshold implies canon is too;
    // edges past the prescreen would make counting canon a full distinct
    // pass just to choose a strategy
    if (underThreshold(edges, localThreshold))
      return localTriangles(spark, canon)
    val edgeRDD = canon.rdd.map(r => Edge(r.getLong(0), r.getLong(1), 1))
    Graph.fromEdges(edgeRDD, 0)
      .triangleCount()
      .vertices
      .map { case (id, n) => (id, n) }
      .toDF("node", "triangles")
  }

  /** Total degree (G4): `(node, degree)` for every node on some edge, both
    * endpoints counted, so a self-loop counts twice (GraphX's
    * `Graph.degrees`). One aggregate over the edge frame; nothing is
    * cached.
    */
  def degrees(spark: SparkSession, edges: DataFrame): DataFrame =
    edges.select(explode(array(col("src"), col("dst"))).as("node"))
      .groupBy("node")
      .agg(count(lit(1)).cast("int").as("degree"))
}
