package graft.cypher

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel

import graft.graph.{EdgeType, GraphStore, GraphWriter, NodeType}
import Ast._

/** Cypher-subset → DataFrame compiler.
  *
  * Replaces the reference's text2cypher → Neo4j execution path (reference:
  * final/langraph_neo4j3.py:154-221,455-465) with a deterministic pipeline:
  * parse → schema-resolve (incl. relationship-direction correction, the
  * behavior of the CypherQueryCorrector the reference relies on at
  * final/langraph_neo4j3.py:299-331) → assemble DataFrame joins → project/
  * aggregate. Catalyst then does what Neo4j's planner did: join ordering,
  * predicate pushdown, broadcast selection.
  *
  * Write clauses (`CREATE` / `MERGE` / `SET` / `DELETE`) — the reference's
  * injection pipeline emits exactly these (final/inject_node.py:350-358,
  * final/inject_relationship.py:636-644) — run through [[CypherEngine.execute]],
  * which returns the RETURN rows plus a NEW immutable [[GraphStore]]; the
  * mutation itself is a lazy [[graft.graph.GraphWriter]] plan (one join per
  * clause), never driver iteration.
  *
  * Scale posture: each pattern hop is an equi-join on node keys — dimension
  * node stores broadcast automatically; the fact-side edge store never
  * round-trips the driver. Var-length paths compile to a bounded union of
  * join chains (SURVEY.md §2.8 G13), so depth is explicit in the plan, not
  * hidden in driver iteration.
  */
final case class CypherEngine(store: GraphStore) {

  import CypherEngine._

  def run(query: String): DataFrame = run(query, Map.empty[String, Any])

  /** Parameterized execution — `$name` placeholders bind to `params`
    * values (the reference's probes run parameterized Cypher, reference:
    * final/langraph_neo4j3.py:359-363). A `Seq`/`Array` value binds a list
    * (usable with `IN $ids` and `UNWIND $ids`); a `Seq[Map[String, Any]]`
    * binds a row batch (usable with `UNWIND $rows AS row`, the reference's
    * injection shape).
    */
  def run(query: String, params: Map[String, Any]): DataFrame = {
    val q = hoistLabelPredicates(
      bindShortestRelVars(bindParams(Parser.parse(query), params)))
    if (hasWrites(q))
      throw CypherException(
        "write clauses (CREATE/MERGE/SET/DELETE) mutate the store — use execute()")
    // read-only queries cut only the lazy mutations they can actually
    // reference (ADVICE r18: a read of an untouched label after a write
    // paid a full block-manager copy of every unrelated mutated frame) —
    // the label set is syntactic, bailing to cut-all whenever static
    // resolution is unsound (untyped pattern elements, labels()
    // enumeration); see [[CypherEngine.touchedLabelsForRead]]
    new Interp(CypherEngine.cutConsumedLazyMutations(store,
      CypherEngine.touchedLabelsForRead(q, store)), params).top(q)
  }

  /** Execute a query that may contain write clauses. Returns the RETURN
    * rows (a query with no RETURN yields one `rows` count row) plus the
    * updated store. A mutated frame whose logical plan has grown past
    * [[CypherEngine.PlanCutThreshold]] tree nodes is EAGERLY
    * localCheckpointed before being returned (see the comment below for
    * why); smaller mutated frames stay lazy-but-marked, so a one-shot
    * write over a large store costs no block-manager copy — the FIRST
    * later run()/execute() over the returned store checkpoints them
    * before interpreting (cut-on-first-consume, r18 — see
    * [[CypherEngine.cutConsumedLazyMutations]]). Persist one-shot results
    * with [[GraphStore.save]] as usual. Superseded checkpoint blocks are
    * reclaimed by GC + ContextCleaner once the caller drops the old
    * store reference; a caller retaining every intermediate store of a
    * long chain retains their blocks too, by design.
    */
  def execute(query: String, params: Map[String, Any] = Map.empty): WriteResult = {
    val q = hoistLabelPredicates(
      bindShortestRelVars(bindParams(Parser.parse(query), params)))
    val st = CypherEngine.cutConsumedLazyMutations(store)
    val in = new Interp(st, params)
    val df = in.top(q)
    // Lineage cut on MUTATED store frames (r17, found by the provenance
    // fuzzer's 12-op chains): each write statement layers joins over the
    // prior store plans and references them MORE THAN ONCE (upsert +
    // member resolution + provenance pruning), so a chained session's
    // store plan DAG tree-expands — downstream plan RENDERING alone
    // (SQLExecutionStart's explain string walks the tree, not the DAG)
    // wedged for 19+ minutes by op 12, and every later read re-executed
    // the whole write history. The cut is gated on plan TREE size
    // (ADVICE r17: the r17 unconditional per-statement cut materialized
    // one full copy of every mutated label per statement into the block
    // manager): a frame at or under the threshold keeps its lazy plan —
    // rendering it is cheap and no blocks accumulate — while a frame
    // past it is cut back to a LogicalRDD, so chained sessions cut every
    // few statements instead of every statement and the stored plan is
    // bounded by ~3×threshold at all times. Memberships already get the
    // eager treatment inside setLabels; unchanged frames keep their
    // identity, so read-only statements and untouched labels cost
    // nothing. Superseded checkpoints are NOT force-released (retained
    // pre-mutation stores stay readable) — GC + ContextCleaner reclaim
    // them once unreferenced.
    val st0 = st
    // Cut policy (r18 optimization round, A/B in OPTIMIZATION_r18.md):
    // a mutated frame whose plan outgrew the tree-size gate is cut HERE
    // (single gigantic statement — the fuzzer-found rendering wedge);
    // everything else leaves execute() LAZY but MARKED, and is
    // checkpointed by the FIRST consumer that actually reads it
    // ([[CypherEngine.cutConsumedLazyMutations]], at the top of run() and
    // execute()). Cut-on-first-consume dominates both earlier policies:
    // the r17 eager per-statement cut paid one full store copy per
    // statement even for frames never read again (a one-shot UNWIND
    // injection over a 100 TB store), while the r18.0 size-only gate left
    // chained sessions re-executing the whole write history on every
    // downstream read — a consuming plan that references the mutated
    // frame k times executes its lazy plan k times (measured: q134's
    // 3-statement chain 2.8 s gated vs 1.9 s eager at sf0.1; the consume
    // cut recovers the eager time without its pay-even-if-never-read
    // copies). Chained plans stay bounded at ~1 statement's growth over
    // checkpointed blocks, so the rendering wedge cannot return.
    def cut(f: DataFrame): DataFrame =
      if (planTreeSize(f.queryExecution.logical, PlanCutThreshold) > PlanCutThreshold)
        f.localCheckpoint(true)
      else {
        // marked lazy, not yet materialized (memo value null until the
        // first consumer checkpoints it — cutConsumedLazyMutations)
        CypherEngine.lazyMutated.put(f, null)
        f
      }
    val cutStore = in.store.copy(
      nodes = in.store.nodes.map { case (l, f) =>
        l -> (if (st0.nodes.get(l).exists(_ eq f)) f else cut(f))
      },
      edges = in.store.edges.map { case (l, f) =>
        l -> (if (st0.edges.get(l).exists(_ eq f)) f else cut(f))
      })
    WriteResult(cutStore, df, in.writeObservations.toMap)
  }

  /** Validation gate without execution — the engine's analogue of the
    * reference's `EXPLAIN {cypher}` syntax/plan check (reference:
    * final/langraph_neo4j3.py:321-324): parse errors, schema-resolution
    * errors, and Catalyst analysis errors, as messages (empty = valid).
    */
  def validate(query: String): Seq[String] =
    try {
      new Interp(store, Map.empty).top(bindShortestRelVars(Parser.parse(query)))
        .queryExecution.analyzed
      Nil
    } catch {
      case e: Parser.ParseException => Seq(s"syntax: ${e.msg}")
      case e: CypherException => Seq(s"schema: ${e.msg}")
      case e: Exception => Seq(s"analysis: ${e.getMessage}")
    }

  /** Filter-value existence probe — the reference checks every literal
    * string filter against the store before executing (reference:
    * final/langraph_neo4j3.py:344-369: `MATCH (n:L) WHERE toLower(n.p) =
    * toLower($v) RETURN 'yes' LIMIT 1`). Case-insensitive, LIMIT 1 so the
    * scan short-circuits.
    */
  def probeValue(label: String, prop: String, value: String): Boolean = {
    val df = store.nodes.getOrElse(label, throw CypherException(s"unknown node label: $label"))
    df.filter(lower(col(prop).cast(StringType)) === value.toLowerCase)
      .limit(1).count() > 0
  }
}

object CypherEngine {
  final case class CypherException(msg: String) extends RuntimeException(msg)

  /** Result of [[CypherEngine.execute]]: the RETURN rows and the updated
    * (immutable) store, plus write-time audit metrics (`observed`) — the
    * write surface's analogue of the pipeline operators' Observation
    * metrics (`capped_buckets`). Currently published: `collisions:L<-S`,
    * the key-rendering collision count a SET label detected between the
    * (L, S) membership frame and L's native keys (§2.15 deviation 2,
    * surfaced in r15 — nonzero means the key-linked identity blur is live
    * for this store's data, and [[graft.graph.GraphStore.describe]] will
    * show the same count as a `collision` row).
    */
  final case class WriteResult(store: GraphStore, result: DataFrame,
      observed: Map[String, Long] = Map.empty)

  /** Mutated-frame plans larger than this (logical TREE nodes — the
    * quantity that tree-expands across chained write statements, since
    * every statement references the prior store plan several times) are
    * eagerly localCheckpointed by [[CypherEngine.execute]]; smaller ones
    * stay lazy. 64 keeps any stored plan's tree under ~3×64 nodes (one
    * statement's growth over inputs at the threshold) — milliseconds to
    * render — while a one-shot UNWIND-batch injection over a big store
    * (the reference's write shape) never pays an eager materialization.
    */
  val PlanCutThreshold = 64

  /** Weak identity memo of store frames that left [[CypherEngine.execute]]
    * as LAZY mutations (under the tree-size gate): frame → its
    * checkpointed materialization (null until first consumed). The next
    * query over a store carrying such frames checkpoints them first
    * ([[cutConsumedLazyMutations]]) — cut-on-first-consume — and the memo
    * value makes that materialization shared: EVERY later consumer of the
    * same lazy frame (the engine's own store field still holds it, as do
    * any retained store snapshots) reuses the one checkpoint instead of
    * re-executing the write history (ADVICE r18 medium: the r18.0
    * remove-on-consume built the checkpoint into one call's local store
    * copy and unmarked the frame, so the SECOND and every later run()
    * over the same store saw no marks and re-executed the full history —
    * the exact pathology the policy exists to eliminate). Weak keys: a
    * dropped store releases its marks with its frames; the checkpointed
    * value holds no reference to its key (localCheckpoint(eager=true)
    * truncates lineage to a LogicalRDD), so entries stay collectible.
    */
  private[cypher] val lazyMutated =
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[DataFrame, DataFrame]())

  /** Checkpoint any marked-lazy mutated frames of `st` — called at the
    * top of run()/execute(), so a mutated frame is materialized exactly
    * once, at its first consumer, instead of either per statement (r17
    * eager: pays even when nothing ever reads it) or never (size-only
    * gate: a consumer plan referencing the frame k times re-executes the
    * whole write history k times). The checkpoint is memoized in
    * [[lazyMutated]]'s value so repeated consumers of the same store
    * share it. Stores with no marked frames (every read-only session)
    * pass through untouched.
    */
  private[cypher] def cutConsumedLazyMutations(st: graft.graph.GraphStore,
      touched: Option[(Set[String], Set[String])] = None): graft.graph.GraphStore = {
    def wantNode(l: String): Boolean = touched.forall(_._1.contains(l))
    def wantEdge(l: String): Boolean = touched.forall(_._2.contains(l))
    def marked(f: DataFrame): Boolean = lazyMutated.containsKey(f)
    if (!st.nodes.exists { case (l, f) => wantNode(l) && marked(f) } &&
        !st.edges.exists { case (l, f) => wantEdge(l) && marked(f) }) st
    else {
      def c(f: DataFrame): DataFrame =
        if (!lazyMutated.containsKey(f)) f
        else {
          val memo = lazyMutated.get(f)
          if (memo != null) memo
          else {
            // checkpoint OUTSIDE the map lock (it runs a Spark job); a
            // concurrent consumer may race to its own checkpoint — the
            // first put wins and the loser's blocks are GC-reclaimed
            val cp = f.localCheckpoint(true)
            lazyMutated.synchronized {
              val cur = lazyMutated.get(f)
              if (cur != null) cur else { lazyMutated.put(f, cp); cp }
            }
          }
        }
      st.copy(
        nodes = st.nodes.map { case (l, f) => l -> (if (wantNode(l)) c(f) else f) },
        edges = st.edges.map { case (l, f) => l -> (if (wantEdge(l)) c(f) else f) })
    }
  }

  /** Statically-known (node labels, edge labels) a READ-ONLY query can
    * reference, or None when the set is not soundly derivable — used by
    * [[CypherEngine.run]] to restrict the consume-cut to frames the query
    * can actually read (ADVICE r18: cutting every marked frame made a
    * read of an untouched label pay a one-time block-manager copy of
    * unrelated mutated frames). Bails to None (cut everything — always
    * sound) on: any untyped node or relationship pattern element (their
    * resolution enumerates candidate labels from the whole schema), a
    * `labels()` call (enumerates every membership), or any write clause
    * (run() rejects those anyway; execute() never restricts). The
    * collected set is closed over membership provenance (reading label T
    * materializes members by joining each (T, S) membership back to S's
    * live store, and S's own members chain) and over schema endpoints of
    * touched edge types (the MATCH bind site may join endpoint node
    * stores). A label missing from the set is a PERFORMANCE hazard only —
    * an uncut lazy frame still computes identical rows, and stays marked
    * for a later consumer to cut.
    */
  private[cypher] def touchedLabelsForRead(
      q: Query, st: graft.graph.GraphStore): Option[(Set[String], Set[String])] = {
    val nodes = scala.collection.mutable.Set.empty[String]
    val edges = scala.collection.mutable.Set.empty[String]
    var exact = true
    def bail(): Unit = exact = false
    def goNode(n: NodePat): Unit = {
      if (n.label.isEmpty && n.alts.isEmpty) bail()
      nodes ++= n.label; nodes ++= n.alts
      n.props.foreach { case (_, e) => goE(e) }
    }
    def goRel(r: RelPat): Unit = {
      if (r.labels.isEmpty) bail()
      edges ++= r.labels
      r.props.foreach { case (_, e) => goE(e) }
    }
    def goPath(p: PathPat): Unit = {
      goNode(p.head)
      p.hops.foreach { case (r, n) => goRel(r); goNode(n) }
    }
    def goE(e: Expr): Unit = e match {
      case Fn("labels", args, _) => bail(); args.foreach(goE)
      case Fn(_, args, _) => args.foreach(goE)
      case Bin(_, l, r) => goE(l); goE(r)
      case Not(x) => goE(x)
      case IsNull(x, _) => goE(x)
      case In(x, c) => goE(x); goE(c)
      case ListLit(xs) => xs.foreach(goE)
      case MapLit(kvs) => kvs.foreach(kv => goE(kv._2))
      case ListComp(_, c, w, p) => goE(c); w.foreach(goE); p.foreach(goE)
      case ReduceExpr(_, i, _, c, s) => goE(i); goE(c); goE(s)
      case ListPred(_, _, c, p) => goE(c); goE(p)
      case Index(c, i) => goE(c); goE(i)
      case HasLabel(_, ls) => nodes ++= ls
      case HasAnyLabel(_, ls) => nodes ++= ls
      case PatternPred(p) => goPath(p)
      case ExistsBlock(ps, w) => ps.foreach(goPath); w.foreach(goE)
      case CountBlock(ps, w) => ps.foreach(goPath); w.foreach(goE)
      case CollectBlock(ps, w, r, ob, _) =>
        ps.foreach(goPath); w.foreach(goE); goE(r); ob.foreach(s => goE(s.expr))
      case PatternComp(p, w, pr) => goPath(p); w.foreach(goE); goE(pr)
      case MapProj(_, _, _, ex) => ex.foreach(kv => goE(kv._2))
      case CaseExpr(s, bs, d) =>
        s.foreach(goE); bs.foreach { case (c, r) => goE(c); goE(r) }; d.foreach(goE)
      case _ => // Prop / Var / Lit / Param / TypedNull
    }
    def goProj(p: Projection): Unit = {
      p.items.foreach(i => goE(i.expr))
      p.where.foreach(goE)
      p.orderBy.foreach(s => goE(s.expr))
    }
    def goQuery(qq: Query): Unit = {
      qq.stages.foreach { stg =>
        stg.reads.foreach {
          case MatchClause(ps, _) => ps.foreach(goPath)
          case UnwindClause(e, _) => goE(e)
          case ShortestPathClause(_, p, _, _) => goPath(p)
          case CallClause(_, body) => goQuery(body)
        }
        stg.where.foreach(goE)
        stg.projection.foreach(goProj)
        if (stg.writes.nonEmpty) bail()
      }
      goProj(qq.ret)
      qq.union.foreach { case (_, next) => goQuery(next) }
    }
    goQuery(q)
    if (!exact) None
    else {
      // schema endpoints of touched edge types (the bind site may join
      // the endpoint node stores)
      var ns = nodes.toSet
      edges.foreach { el =>
        st.schema.edges.find(_.label == el).foreach(et => ns ++= Set(et.src, et.dst))
      }
      // membership-provenance closure: members of T materialize through
      // their SOURCE label's live store, and sources chain
      var grew = true
      while (grew) {
        val more = st.memberships.keysIterator
          .collect { case (t, s) if ns(t) && !ns(s) => s }.toSet
        grew = more.nonEmpty
        ns ++= more
      }
      Some((ns, edges.toSet))
    }
  }

  /** Tree-node count of `plan`, bailing out at `limit + 1` — counting is
    * itself a tree walk, so it must not pay the cost it exists to bound.
    */
  private[cypher] def planTreeSize(
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan,
      limit: Int): Int = {
    var n = 0
    var stack = List(plan)
    while (stack.nonEmpty && n <= limit) {
      val p = stack.head
      stack = p.children.toList reverse_::: stack.tail
      n += 1
    }
    n
  }

  /** A bound relationship variable: its edge label and which pattern
    * variables sit on the schema-forward source/target sides.
    */
  private[cypher] final case class RelInfo(label: String, srcVar: String, dstVar: String)

  private[cypher] def hasWrites(q: Query): Boolean =
    q.stages.exists(_.writes.nonEmpty) || q.union.exists { case (_, next) => hasWrites(next) }

  // ------------------------------------------- shortestPath local strategy

  /** Edge-row cap for the single-task shortestPath BFS (64k (key, key)
    * pairs — at most a few MB in one task). Same size-based strategy choice
    * as [[graft.graph.GraphAnalytics.LocalEdgeThreshold]], sized smaller
    * because BFS output is per-(seed, reachable) pair, not per-vertex.
    */
  private[cypher] val LocalPathEdgeCap: Long = 65536L

  /** Spark-conf override for [[LocalPathEdgeCap]] — set to 0 to force the
    * distributed BFS (specs use this to pin both strategies against each
    * other), or higher on executors with more task memory.
    */
  val LocalPathEdgeCapKey = "graft.shortestPath.localEdgeCap"

  /** Default edge cap for the shortestPath BFS's single-task gate (r15) —
    * larger than [[LocalPathEdgeCap]] (which still governs var-length walk
    * ENUMERATION, whose output is path-count- not pair-bounded) because the
    * BFS's one task does O(edges) adjacency load + O(seeds × closure)
    * traversal, both bounded: [[LocalPathWorkCap]] caps seeds × edges, so a
    * 2M-edge union is only admitted for a handful of seeds — the
    * single-seed "path from THIS order" shape (q85/q91/q105), where the
    * distributed loop's ~2 scheduled jobs per level cost more than the
    * whole local run (measured sf0.1: q91 warm 2.1 s distributed → 1.5 s
    * local, identical rows). Memory: 2M tagged edges ≈ low hundreds of MB
    * in one task, far under executor task memory; a 100 TB store fails
    * this cap on the store's own edge counts and keeps the distributed,
    * level-synchronous shape. [[LocalPathEdgeCapKey]] = 0 forces
    * distributed everywhere (the spec A/B hook); any other value of it
    * leaves this cap alone (ADVICE r15: tuning the walk enumeration gate
    * must not rescale this one, whose safe default differs by 30×).
    */
  private[cypher] val LocalBfsEdgeCap: Long = 2L * 1000 * 1000

  /** Budget for seedCount × edgeCount in the local BFS — bounds both the
    * traversal work and the worst-case output materialized by the one task.
    */
  private[cypher] val LocalPathWorkCap: Long = 10L * 1000 * 1000

  /** The shortestPath BFS's single-task edge cap: 0 when
    * [[LocalPathEdgeCapKey]] is 0, else [[LocalBfsEdgeCap]].
    */
  private[cypher] def bfsEdgeCap(spark: org.apache.spark.sql.SparkSession): Long =
    if (spark.conf.getOption(LocalPathEdgeCapKey).exists(_.toLong == 0L)) 0L
    else LocalBfsEdgeCap

  /** Spark-conf key for the loud (never silent) budget on open-bound
    * relationship-unique path enumeration (`[:R*]` outside shortestPath).
    */
  val UniqueWalkMaxPathsKey = "graft.varLength.maxPaths"
  private[cypher] val UniqueWalkMaxPaths = 10L * 1000 * 1000

  // ------------------------------------- shared BFS edge-union cache

  /** Per-JVM cache of the doubled/tagged edge-union frames the
    * shortestPath family derives from the store: one persisted union
    * serves every BFS over the same member frames (withRels readers keep
    * the `__rt` column, others drop it, a projection over the same cached
    * blocks). Keyed on the member edge frames' identity
    * ([[graft.util.FrameKey]]), so a mutated store's new frames can never
    * hit a stale entry. Per-query inline property filters bypass the cache:
    * their edge sets are query-specific. At capacity the least recently
    * used union is unpersisted; the others stay.
    *
    * Size tiers, by the member types' total edge count: up to
    * [[UnionCacheMaxEdges]] the union persists `MEMORY_AND_DISK`; up to
    * [[UnionCacheMaxDiskEdges]] it persists `DISK_ONLY`, since spilling the
    * derivation once beats re-deriving it per query (measured at sf10 on
    * the 60M-edge tagged union of q85/q91, BASELINE.md round-12 table) and
    * serialized disk blocks put no memory pressure on the BFS's own
    * shuffles; past that a doubled copy of a store-scale edge set has no
    * business on scratch disk, and the union is built uncached.
    */
  private[cypher] val edgeUnionCache =
    new graft.util.EngineCache[graft.util.FrameKey, DataFrame](64, _.unpersist(false))
  private[cypher] val UnionCacheMaxEdges = 50L * 1000 * 1000
  private[cypher] val UnionCacheMaxDiskEdges = 500L * 1000 * 1000

  // ------------------------------------------------------------ parameters

  /** Substitute `$name` placeholders with literal values before compiling —
    * a `Seq`/`Array` binds as a list literal, anything else as a scalar.
    * A `Seq[Map[_, _]]` (row batch) is left as a [[Param]] node: the
    * interpreter binds it to a DataFrame at its `UNWIND`.
    */
  /** `p = shortestPath((a)-[r:T*1..3]->(b))`: Neo4j binds `r` to the LIST
    * of relationships along the matched path — which is exactly
    * `relationships(p)`. Purely syntactic normalization: every expression
    * use of `r` substitutes to `relationships(p)` (so the existing
    * per-hop machinery, including type disjunctions, renders it), with
    * lambda scoping respected (a comprehension variable named `r` shadows
    * the binding) and bare projection items keeping `r` as their output
    * name. The pattern keeps its variable (ignored downstream).
    */
  private[cypher] def bindShortestRelVars(q: Query): Query = {
    // collect (relVar -> pathVar) per shortestPath clause, recursing into
    // CALL bodies and union branches (each rewritten independently below)
    val pairs = q.stages.flatMap(_.reads).collect {
      // var-length only: on a single-hop `shortestPath((a)-[r:T]->(b))`
      // Neo4j binds r as a scalar relationship, not a list — that form
      // keeps the existing scalar machinery
      case ShortestPathClause(pv, p, _, _)
          if p.hops.headOption.exists(_._1.varLength.isDefined) =>
        p.hops.headOption.flatMap(_._1.variable).map(_ -> pv)
    }.flatten
    pairs.groupBy(_._1).foreach { case (rv, xs) =>
      if (xs.sizeIs > 1) throw CypherException(
        s"relationship variable $rv is bound by more than one shortestPath")
    }
    val q1 = pairs.foldLeft(q) { case (acc, (rv, pv)) => substRelVar(acc, rv, pv) }
    val q2 = q1.copy(stages = q1.stages.map { st =>
      st.copy(reads = st.reads.map {
        case CallClause(i, body) => CallClause(i, bindShortestRelVars(body))
        case other => other
      })
    })
    q2.union match {
      case Some((all, next)) => q2.copy(union = Some((all, bindShortestRelVars(next))))
      case None => q2
    }
  }

  /** Substitute expression uses of `rv` with `relationships(pv)` across
    * one query level (stages + return; not CALL bodies/union branches —
    * [[bindShortestRelVars]] recurses those). Lambda variables shadow.
    */
  private[cypher] def substRelVar(q: Query, rv: String, pv: String): Query = {
    val repl = Fn("relationships", Seq(Var(pv)))
    def go(e: Expr, sh: Set[String]): Expr = e match {
      case Var(v) if v == rv && !sh(rv) => repl
      case Prop(v, p) if v == rv && !sh(rv) => throw CypherException(
        s"$v.$p: $v is a shortestPath relationship LIST — index it or iterate it")
      case Fn(n, args, d) => Fn(n, args.map(go(_, sh)), d)
      case Bin(op, l, r) => Bin(op, go(l, sh), go(r, sh))
      case Not(x) => Not(go(x, sh))
      case IsNull(x, neg) => IsNull(go(x, sh), neg)
      case In(x, coll) => In(go(x, sh), go(coll, sh))
      case ListLit(xs) => ListLit(xs.map(go(_, sh)))
      case MapLit(kvs) => MapLit(kvs.map { case (k, v) => k -> go(v, sh) })
      case ListComp(v, coll, w, pr) =>
        ListComp(v, go(coll, sh), w.map(go(_, sh + v)), pr.map(go(_, sh + v)))
      case ReduceExpr(a, init, v, coll, step) =>
        ReduceExpr(a, go(init, sh), v, go(coll, sh), go(step, sh + a + v))
      case ListPred(k, v, coll, p) => ListPred(k, v, go(coll, sh), go(p, sh + v))
      case Index(coll, i) => Index(go(coll, sh), go(i, sh))
      case CaseExpr(s, bs, d) => CaseExpr(s.map(go(_, sh)),
        bs.map { case (c, r) => (go(c, sh), go(r, sh)) }, d.map(go(_, sh)))
      case ExistsBlock(ps, w) =>
        ExistsBlock(ps.map(goPath2(_, sh)), w.map(go(_, sh)))
      case CountBlock(ps, w) =>
        CountBlock(ps.map(goPath2(_, sh)), w.map(go(_, sh)))
      case CollectBlock(ps, w, r, ob, lim) =>
        CollectBlock(ps.map(goPath2(_, sh)), w.map(go(_, sh)),
          go(r, sh), ob.map(s0 => s0.copy(expr = go(s0.expr, sh))), lim)
      case PatternComp(p, w, pr) =>
        PatternComp(goPath2(p, sh), w.map(go(_, sh)), go(pr, sh))
      case MapProj(v, ps, st, ex) =>
        MapProj(v, ps, st, ex.map { case (k, x) => (k, go(x, sh)) })
      case other => other
    }
    def goProj(p: Projection) = p.copy(
      items = p.items.map { i =>
        val e2 = go(i.expr, Set.empty)
        // `RETURN r` keeps r as the output column name
        val alias = i.expr match {
          case Var(v) if i.alias.isEmpty && (e2 != i.expr) => Some(v)
          case _ => i.alias
        }
        Item(e2, alias)
      },
      where = p.where.map(go(_, Set.empty)),
      orderBy = p.orderBy.map(s => s.copy(expr = go(s.expr, Set.empty))))
    // the substitution reaches write-clause value expressions, FOREACH
    // bodies, and pattern property maps too (r10 ADVICE) — a SET that
    // reads `rs[0].w` or a MATCH prop `{k: size(rs)}` substitutes like
    // any read position. Lambda-style shadowing (FOREACH variable) is
    // honored via `sh`.
    def goPath2(p: PathPat, sh: Set[String]): PathPat = p.copy(
      head = p.head.copy(props = p.head.props.map { case (k, x) => (k, go(x, sh)) }),
      hops = p.hops.map { case (r, n) =>
        (r.copy(props = r.props.map { case (k, x) => (k, go(x, sh)) }),
          n.copy(props = n.props.map { case (k, x) => (k, go(x, sh)) }))
      })
    def goSet(it: SetItem, sh: Set[String]): SetItem = it match {
      case SetPlus(v, m) => SetPlus(v, m.map { case (k, x) => (k, go(x, sh)) })
      case SetProp(v, p, x) => SetProp(v, p, go(x, sh))
      case SetAll(v, m) => SetAll(v, m.map { case (k, x) => (k, go(x, sh)) })
      case sl: SetLabel => sl
    }
    def goWrite(w: WriteClause, sh: Set[String]): WriteClause = w match {
      case CreateClause(ps) => CreateClause(ps.map(goPath2(_, sh)))
      case MergeClause(p, oc, om) =>
        MergeClause(goPath2(p, sh), oc.map(goSet(_, sh)), om.map(goSet(_, sh)))
      case SetClause(items) => SetClause(items.map(goSet(_, sh)))
      case d: DeleteClause => d
      case ForeachClause(v, coll, body) =>
        ForeachClause(v, go(coll, sh), body.map(goWrite(_, sh + v)))
    }
    def goRead(r: Reading): Reading = r match {
      case MatchClause(ps, opt) => MatchClause(ps.map(goPath2(_, Set.empty)), opt)
      case sp: ShortestPathClause => sp.copy(path = goPath2(sp.path, Set.empty))
      case UnwindClause(e, a) => UnwindClause(go(e, Set.empty), a)
      case c: CallClause => c // own scope; imports are bare names
    }
    // the substitution stops at the first projection boundary: a stage's
    // WITH either carries the variable (the substituted relationships(p)
    // MATERIALIZES as a real `rs` column there, so later stages read the
    // projected column) or drops it (later use is then a plain unbound
    // error) — either way `rs` no longer aliases the path after the WITH
    var active = true
    val stages2 = q.stages.map { st =>
      if (!active) st
      else {
        val st2 = Stage(st.reads.map(goRead), st.where.map(go(_, Set.empty)),
          st.projection.map(goProj), st.writes.map(goWrite(_, Set.empty)))
        if (st.projection.isDefined) active = false
        st2
      }
    }
    Query(stages2, if (active) goProj(q.ret) else q.ret, q.union)
  }

  /** Hoist single-label predicates `WHERE n:Label` onto UNLABELED pattern
    * nodes (Neo4j's own planning move; round 11): `MATCH (n) WHERE
    * n:Nation` rewrites to `MATCH (n:Nation)` so the untyped node needs
    * no label inference and the label prunes the scan instead of
    * post-filtering. Only non-OPTIONAL MATCH clauses qualify (a WHERE
    * after OPTIONAL filters ROWS, a pattern label null-extends — not
    * equivalent); predicates that don't hoist (multi-label, labeled or
    * unbound variables) stay in the WHERE and compile via [[HasLabel]].
    */
  private[cypher] def hoistLabelPredicates(q: Query): Query = {
    def conj(e: Expr): Seq[Expr] = e match {
      case Bin("and", l, r) => conj(l) ++ conj(r)
      case x => Seq(x)
    }
    val stages2 = q.stages.map { st =>
      st.where match {
        case Some(w) =>
          def unlabeledIn(v: String): Boolean = st.reads.exists {
            case MatchClause(ps, false) => ps.exists(p =>
              (p.head +: p.hops.map(_._2))
                .exists(n => n.variable.contains(v) && n.label.isEmpty
                  && n.alts.isEmpty))
            case _ => false
          }
          var labelFor = Map.empty[String, String]
          val keep = conj(w).filter {
            case HasLabel(v, Seq(l)) if !labelFor.contains(v) && unlabeledIn(v) =>
              labelFor += v -> l; false
            case _ => true
          }
          if (labelFor.isEmpty) st
          else {
            def fix(n: NodePat): NodePat =
              if (n.label.isEmpty && n.alts.isEmpty
                  && n.variable.exists(labelFor.contains))
                n.copy(label = Some(labelFor(n.variable.get)))
              else n
            val reads2 = st.reads.map {
              case MatchClause(ps, opt) => MatchClause(ps.map(p =>
                PathPat(fix(p.head),
                  p.hops.map { case (r, nd) => (r, fix(nd)) })), opt)
              case other => other
            }
            st.copy(reads = reads2,
              where = keep.reduceOption((a, b) => Bin("and", a, b)))
          }
        case None => st
      }
    }
    Query(stages2, q.ret,
      q.union.map { case (all, next) => (all, hoistLabelPredicates(next)) })
  }

  private[cypher] def bindParams(q: Query, params: Map[String, Any]): Query = {
    if (params.isEmpty) return q
    def go(e: Expr): Expr = e match {
      case Param(n) => params.get(n) match {
        case Some(xs: Seq[_]) if xs.nonEmpty && xs.forall(_.isInstanceOf[Map[_, _]]) => e
        case Some(xs: Seq[_]) => ListLit(xs.map(v => Lit(v)))
        case Some(xs: Array[_]) => ListLit(xs.toSeq.map(v => Lit(v)))
        case Some(v) => Lit(v)
        case None => throw CypherException(s"missing parameter: $$$n")
      }
      case Fn(n, args, d) => Fn(n, args.map(go), d)
      case Bin(op, l, r) => Bin(op, go(l), go(r))
      case Not(x) => Not(go(x))
      case IsNull(x, neg) => IsNull(go(x), neg)
      case In(x, coll) => In(go(x), go(coll))
      case ListLit(xs) => ListLit(xs.map(go))
      case MapLit(kvs) => MapLit(kvs.map { case (k, v) => k -> go(v) })
      case ListComp(v, coll, w, pr) => ListComp(v, go(coll), w.map(go), pr.map(go))
      case ReduceExpr(a, init, v, coll, step) =>
        ReduceExpr(a, go(init), v, go(coll), go(step))
      case ListPred(k, v, coll, p) => ListPred(k, v, go(coll), go(p))
      case Index(coll, i) => Index(go(coll), go(i))
      case CaseExpr(s, bs, d) =>
        CaseExpr(s.map(go), bs.map { case (c, r) => (go(c), go(r)) }, d.map(go))
      case PatternPred(p) => PatternPred(goPath(p))
      case ExistsBlock(ps, w) => ExistsBlock(ps.map(goPath), w.map(go))
      case CountBlock(ps, w) => CountBlock(ps.map(goPath), w.map(go))
      case CollectBlock(ps, w, r, ob, lim) =>
        CollectBlock(ps.map(goPath), w.map(go), go(r), ob.map(s0 => s0.copy(expr = go(s0.expr))), lim)
      case PatternComp(p, w, pr) => PatternComp(goPath(p), w.map(go), go(pr))
      case MapProj(v, ps, st, ex) =>
        MapProj(v, ps, st, ex.map { case (k, x) => (k, go(x)) })
      case other => other // Prop / Var / Lit
    }
    def goNode(n: NodePat) = n.copy(props = n.props.map { case (k, v) => (k, go(v)) })
    def goRel(r: RelPat) = r.copy(props = r.props.map { case (k, v) => (k, go(v)) })
    def goPath(p: PathPat) =
      PathPat(goNode(p.head), p.hops.map { case (r, n) => (goRel(r), goNode(n)) })
    def goProj(p: Projection) = p.copy(
      items = p.items.map(i => i.copy(expr = go(i.expr))),
      where = p.where.map(go),
      orderBy = p.orderBy.map(s => s.copy(expr = go(s.expr))))
    def goSet(s: SetItem): SetItem = s match {
      case SetPlus(v, m) => SetPlus(v, m.map { case (k, x) => (k, go(x)) })
      case SetProp(v, p, x) => SetProp(v, p, go(x))
      case SetAll(v, m) => SetAll(v, m.map { case (k, x) => (k, go(x)) })
      case sl: SetLabel => sl
    }
    def goWrite(w: WriteClause): WriteClause = w match {
      case CreateClause(ps) => CreateClause(ps.map(goPath))
      case MergeClause(p, oc, om) => MergeClause(goPath(p), oc.map(goSet), om.map(goSet))
      case SetClause(items) => SetClause(items.map(goSet))
      case d: DeleteClause => d
      case ForeachClause(x, coll, body) => ForeachClause(x, go(coll), body.map(goWrite))
    }
    Query(
      q.stages.map { st =>
        Stage(
          st.reads.map {
            case MatchClause(paths, opt) => MatchClause(paths.map(goPath), opt)
            case UnwindClause(e, a) => UnwindClause(go(e), a)
            case sp @ ShortestPathClause(_, p, _, _) => sp.copy(path = goPath(p))
            case CallClause(i, body) => CallClause(i, bindParams(body, params))
          },
          st.where.map(go),
          st.projection.map(goProj),
          st.writes.map(goWrite))
      },
      goProj(q.ret),
      q.union.map { case (all, next) => (all, bindParams(next, params)) })
  }

  // ------------------------------------------------------------ interpreter

  /** One query execution: compiles reads to joins and applies writes to a
    * private store copy (`store` is mutated here, never on the engine).
    */
  private[cypher] final class Interp(var store: GraphStore, val params: Map[String, Any])
      extends InterpPatterns with InterpPaths
      with InterpExpressions with InterpWrites {

    def spark: SparkSession =
      store.nodes.values.headOption.orElse(store.edges.values.headOption)
        .map(_.sparkSession).getOrElse(SparkSession.active)

    /** Query-wide elision-safe variable set, computed once per execution in
      * [[top]]. None = elision off (a star projection forces every
      * variable's columns into scope).
      */
    var elidable: Option[Set[String]] = None

    /** Variable bindings: node variable → label, relationship variable →
      * its edge binding, plus "plain" variables (UNWIND aliases and WITH
      * output columns) whose struct fields are addressable as `v.field`.
      */
    final case class Ctx(
        labels: Map[String, String],
        rels: Map[String, RelInfo],
        plains: Set[String] = Set.empty,
        paths: Set[String] = Set.empty,
        /** plain variables known to hold LISTS OF STRINGS (drives the
          * size()=string-length dispatch inside comprehension lambdas)
          */
        strLists: Set[String] = Set.empty,
        /** path variable → relationship type (for `relationships(p)`) */
        pathRels: Map[String, String] = Map.empty,
        /** path variables that carry a PER-HOP relationship-type array in
          * `${pv}__rels` (type-disjunction paths, where no single constant
          * type exists — read by `relationships(p)`)
          */
        pathRelSeqs: Set[String] = Set.empty,
        /** node variables that match SEVERAL labels (untyped/disjunctive
          * patterns whose interpretations bind the variable differently);
          * the frame is a union of the per-interpretation branches, with a
          * per-row `__label__v` column and the superset of property columns
          * (null where a label lacks one — Neo4j's null-for-missing-property
          * semantics)
          */
        multi: Map[String, Seq[String]] = Map.empty,
        /** relationship variables matching several edge types; the per-row
          * type is in the `__type__r` column (read by `type(r)`)
          */
        multiRels: Set[String] = Set.empty,
        /** plain variables known to hold STRINGS (a projection alias like
          * `WITH 'a' AS s` carries its string-typedness forward so `s + t`
          * still dispatches to concatenation, not arithmetic)
          */
        strs: Set[String] = Set.empty,
        /** plain variables known to hold TIME-OF-DAY values (epoch-day
          * anchored timestamps — `WITH time('21:40') AS t`); drives
          * toString's HH:mm:ss rendering
          */
        times: Set[String] = Set.empty,
        /** plain variables known to hold RELATIONSHIP LISTS (var-length /
          * QPP group variables) — arrays of (type, src, dst, props…)
          * structs. Drives the `type(x)` lambda dispatch: iterating one of
          * these makes `type(x)` read the struct's type field; iterating
          * anything else rejects loudly instead of surfacing a raw Spark
          * getField error (r10 ADVICE).
          */
        relLists: Set[String] = Set.empty,
        /** node variables that can be NULL-EXTENDED (bound under OPTIONAL
          * MATCH): a label predicate `v:Label` on one must evaluate to
          * null — not a compile-time constant — on the unmatched rows, so
          * WHERE filters them (Neo4j's null-propagating label check)
          */
        nullable: Set[String] = Set.empty,
        /** multi-type relationship variables whose ENDPOINT variables are
          * still fixed (an in-hop type group over one label pair):
          * relVar → (srcVar, dstVar) in schema orientation — lets
          * startNode/endNode resolve to the bound node variable instead
          * of a materialized per-row column
          */
        multiRelEnds: Map[String, (String, String)] = Map.empty) {
      def nodeLabel(v: String): Option[String] = labels.get(v)
    }

    /** A multi-label node variable used as a VALUE (`RETURN x`, `count(x)`,
      * `id(x)`): the per-row node identity rendered as `Label:key` — key
      * types may differ across the matched labels, so the composite is a
      * string; it is distinct across label key spaces, which a bare
      * coalesce of the keys would not be.
      */
    def multiNodeId(v: String, ctx: Ctx): Column = {
      val keys = ctx.multi(v).map(l => store.schema.node(l).key).distinct
      concat_ws(":", col(labelColOf(v)),
        coalesce(keys.map(k => col(s"${v}__$k").cast(StringType)): _*))
    }

    /** Per-row label column name of a multi-label node variable. */
    def labelColOf(v: String): String = s"__label__$v"

    /** Per-row type column name of a multi-type relationship variable. */
    def typeColOf(r: String): String = s"__type__$r"
    /** Per-row startNode/endNode identity columns for branch-diverged
      * multi-type relationship variables (tagged `Label:key` strings, the
      * [[multiNodeId]] rendering — orientation can differ per branch, so
      * no single node variable holds the endpoint). Materialized in
      * [[mergeBranches]]; Catalyst prunes them when unread.
      */
    def startColOf(r: String): String = s"__start__$r"
    def endColOf(r: String): String = s"__end__$r"

    // ---------------------------------------------------------- resolution

    /** A hop normalized to schema direction: `srcVar` is the pattern
      * variable sitting on the edge types' source side (after any flip).
      * `edges` holds every type the hop matches under ONE interpretation —
      * all sharing (src, dst) labels, so they union into one edge frame.
      */
    final case class ResolvedHop(
        edges: Seq[EdgeType],
        relVar: String,
        srcVar: String,
        dstVar: String,
        varLength: Option[(Int, Int)],
        relProps: Seq[(String, Expr)],
        /** a USER-written variable on a var-length hop binds a LIST of
          * relationships (Neo4j's group-variable semantics — both the
          * legacy `-[r:R*1..3]->` spelling and a QPP group variable):
          * the closure then carries a per-hop array of relationship
          * structs bound under the variable's name
          */
        relList: Boolean = false)

    /** One hop's resolution under one interpretation: the edge types it
      * traverses (same endpoint labels, unioned at bind time) and whether
      * the written pattern is flipped against schema direction.
      */
    final case class HopChoice(edges: Seq[EdgeType], flipped: Boolean)

    /** Cap on distinct type-assignment interpretations of one MATCH clause
      * (the per-hop ambiguity product). Every interpretation compiles to a
      * full plan branch, so this bounds plan size the same way the
      * var-length depth cap bounds closure size.
      */
    val MaxPatternInterpretations = 32


    // -------------------------------------------------------------- main

    /** A `$rows`-style parameter bound to this UNWIND? (left unsubstituted
      * by bindParams; becomes a DataFrame here).
      */
    def rowsParam(e: Expr): Option[Seq[Map[String, Any]]] = e match {
      case Param(n) => params.get(n).collect {
        case xs: Seq[_] if xs.nonEmpty && xs.forall(_.isInstanceOf[Map[_, _]]) =>
          xs.map(_.asInstanceOf[Map[String, Any]])
      }
      case _ => None
    }

    /** Build the one-struct-column frame for `UNWIND $rows AS row`. Schema
      * is inferred per field from the first non-null value (Long, Double,
      * Boolean, Date, Timestamp, else String). This surface is driver-side
      * by nature — the reference batches rows through its driver the same
      * way (final/inject_node.py:241-306); the scale path is the
      * DataFrame-native [[graft.graph.GraphWriter]] API.
      */
    def rowsDf(alias: String, rows: Seq[Map[String, Any]]): DataFrame = {
      val keys: Seq[String] = rows.flatMap(_.keys).distinct
      def dt(x: Any): DataType = x match {
        case _: Int | _: Long | _: Short | _: Byte => LongType
        case _: Double | _: Float => DoubleType
        case _: Boolean => BooleanType
        case _: java.sql.Date => DateType
        case _: java.sql.Timestamp => TimestampType
        case _ => StringType
      }
      def coerce(x: Any): Any = x match {
        case i: Int => i.toLong
        case s: Short => s.toLong
        case b: Byte => b.toLong
        case f: Float => f.toDouble
        case other => other
      }
      val inner = StructType(keys.map { k =>
        StructField(k,
          rows.iterator.flatMap(_.get(k)).find(_ != null).map(dt).getOrElse(StringType))
      })
      val data: java.util.List[Row] =
        rows.map(m => Row(Row(keys.map(k => coerce(m.get(k).orNull)): _*))).asJava
      spark.createDataFrame(data, StructType(Seq(StructField(alias, inner, nullable = false))))
    }

    /** Compile, including any `UNION [ALL]` chain: branches compile
      * independently and combine by column name; Cypher's bare UNION
      * deduplicates. A trailing ORDER BY/SKIP/LIMIT on the last branch
      * applies to the whole union and must reference output columns.
      */
    def top(q: Query): DataFrame = {
      elidable = Elision.elisionSafeVars(q)
      topQuery(q)
    }

    def topQuery(q: Query): DataFrame = q.union match {
      case None => compileSingle(q)
      case Some(_) =>
        // write branches compile in order against the threaded store, so
        // a later branch reads an earlier branch's (lazy) writes —
        // Neo4j's eager branch-by-branch execution order. Each branch
        // must RETURN explicitly (the no-RETURN `rows` synthesis applies
        // to whole queries only).
        compileUnion(q)._1
    }

    /** Compile a UNION [ALL] chain: branch frames union by name, the
      * trailing ORDER BY/SKIP/LIMIT (syntactically attached to the last
      * branch, applying to the whole union — Neo4j disallows branch-level
      * ORDER BY) applies last. Shared by [[topQuery]] and uncorrelated
      * [[callSubquery]] bodies; the returned Ctx is the [[mergeCtxs]]
      * merge of every branch's result context.
      */
    /** Merge the per-branch result contexts of a UNION: type knowledge
      * contributed by ANY branch survives (a column string-typed in one
      * branch must still dispatch `+` to concat downstream), while
      * structural bindings (labels/rels/paths/multi) survive only where
      * every branch agrees — a variable bound differently per branch has
      * no single downstream meaning, so it degrades to a plain value.
      */
    def mergeCtxs(cs: Seq[Ctx]): Ctx = cs.reduce { (a, b) =>
      Ctx(
        labels = a.labels.filter { case (k, v) => b.labels.get(k).contains(v) },
        rels = a.rels.filter { case (k, v) => b.rels.get(k).contains(v) },
        plains = a.plains ++ b.plains,
        paths = a.paths.intersect(b.paths),
        strLists = a.strLists ++ b.strLists,
        pathRels = a.pathRels.filter { case (k, v) => b.pathRels.get(k).contains(v) },
        pathRelSeqs = a.pathRelSeqs.intersect(b.pathRelSeqs),
        multi = a.multi.filter { case (k, v) => b.multi.get(k).contains(v) },
        multiRels = a.multiRels.intersect(b.multiRels),
        strs = a.strs ++ b.strs,
        times = a.times ++ b.times)
    }

    def compileUnion(q: Query): (DataFrame, Ctx) = {
        var branches = Seq.empty[Query]
        var flags = Seq.empty[Boolean]
        var cur: Option[Query] = Some(q)
        while (cur.isDefined) {
          branches :+= cur.get
          cur.get.union.foreach { case (all, _) => flags :+= all }
          cur = cur.get.union.map(_._2)
        }
        if (flags.distinct.size > 1)
          throw CypherException("cannot mix UNION and UNION ALL in one query")
        val all = flags.head
        val last = branches.last
        val lastStripped =
          last.copy(ret = last.ret.copy(orderBy = Nil, skip = None, limit = None))
        val compiled = (branches.init :+ lastStripped).map(b => compilePipeline(b, None))
        var out = compiled.map(_._1).reduce(_.unionByName(_))
        if (!all) out = out.distinct()
        def outName(i: Item): String = i.alias.getOrElse(genName(i.expr))
        def outCol(name: String) = col(s"`${name.replace("`", "``")}`")
        val byOutput: Map[Expr, String] = last.ret.items.map(i => i.expr -> outName(i)).toMap
        val names = last.ret.items.map(outName).toSet
        if (last.ret.orderBy.nonEmpty) {
          val sorts = last.ret.orderBy.map { s =>
            val c = byOutput.get(s.expr).map(outCol).getOrElse(s.expr match {
              case Var(v) if names(v) => outCol(v)
              case _ => throw CypherException(
                "ORDER BY after UNION must reference output columns")
            })
            if (s.asc) c.asc else c.desc
          }
          out = out.orderBy(sorts: _*)
        }
        last.ret.skip.foreach(n => out = out.offset(n.toInt))
        last.ret.limit.foreach(n => out = out.limit(n.toInt))
        (out, mergeCtxs(compiled.map(_._2)))
    }

    /** Predicate split: pattern predicates must be top-level AND conjuncts
      * (optionally under NOT) — they compile to semi/anti joins.
      */
    def splitWhere(w: Expr): (Seq[(Seq[PathPat], Option[Expr], Boolean)], Seq[Expr]) = {
      def conjuncts(e: Expr): Seq[Expr] = e match {
        case Bin("and", l, r) => conjuncts(l) ++ conjuncts(r)
        case other => Seq(other)
      }
      val pats = Seq.newBuilder[(Seq[PathPat], Option[Expr], Boolean)]
      val plain = Seq.newBuilder[Expr]
      conjuncts(w).foreach {
        case PatternPred(p) => pats += ((Seq(p), None, false))
        case Not(PatternPred(p)) => pats += ((Seq(p), None, true))
        case ExistsBlock(ps, iw) => pats += ((ps, iw, false))
        case Not(ExistsBlock(ps, iw)) => pats += ((ps, iw, true))
        case other => plain += other // nested PatternPred → clear error in column()
      }
      (pats.result(), plain.result())
    }

    /** `exists((a)-[:R]->(b))` → LEFT SEMI join of the bound frame against
      * the independently assembled sub-pattern on the shared variables'
      * node keys (anti for the negation). The sub-pattern never widens the
      * row — Cypher existence semantics, and at scale the semi join keeps
      * only the key columns of the subquery side moving.
      */
    def applyPatternPred(main: DataFrame, ctx: Ctx, paths: Seq[PathPat],
        innerWhere: Option[Expr], negated: Boolean): DataFrame = {
      val patVars = paths.flatMap(p =>
        p.head.variable.toSeq ++ p.hops.flatMap(_._2.variable)).toSet
      patVars.find(ctx.multi.contains).foreach(v => throw CypherException(
        s"exists() cannot correlate on $v: it matches multiple labels " +
          s"(${ctx.multi(v).mkString(", ")}) — constrain it with a label first"))
      val shared = patVars.filter(ctx.labels.contains)
      if (shared.isEmpty)
        throw CypherException(
          "exists() pattern must share at least one variable with the enclosing MATCH")
      val (sub0, subCtx) = assemble(paths, ctx.labels.view.filterKeys(shared).toMap)
      // EXISTS { … WHERE … }: the inner predicate filters the sub-pattern
      // BEFORE the semi join (it may only reference sub-pattern variables).
      // Membership lift first — `m:Secondary` inside the block is a key
      // lookup, not a constant; the lifted column rides the sub side only
      // (semi/anti output carries main's columns).
      val sub = innerWhere.map { w =>
        val (s2, sc2, w2) = liftMemberships(sub0, subCtx, w)
        s2.filter(column(w2, sc2))
      }.getOrElse(sub0)
      def keyColOf(v: String, c: Ctx): String = s"${v}__${store.schema.node(c.labels(v)).key}"
      val sfx = "__ex"
      val subR = sub.columns.foldLeft(sub)((d, c) => d.withColumnRenamed(c, c + sfx))
      val cond = shared.map(v => col(keyColOf(v, ctx)) === col(keyColOf(v, subCtx) + sfx))
        .reduce(_ && _)
      main.join(subR, cond, if (negated) "left_anti" else "left_semi")
    }

    /** Filter `df` by a clause-level WHERE: pattern predicates as
      * semi/anti joins, everything else as a row filter.
      */
    def applyWhere(df0: DataFrame, ctx: Ctx, w: Expr): DataFrame = {
      var df = df0
      val (patternPreds, plain) = splitWhere(w)
      patternPreds.foreach { case (ps, iw, negated) =>
        df = applyPatternPred(df, ctx, ps, iw, negated)
      }
      plain.foreach { p =>
        // lifted BLOCK columns serve the filter only — drop them so
        // `RETURN *` never sees them (same contract as the WITH…WHERE
        // site in [[project]]); lifted MEMBERSHIP booleans stay, so a
        // later clause's identical predicate reuses the join (memoized
        // per (var, label)) — star expansion filters them instead
        val (d2, c2, p2) = liftCountBlocks(df, ctx, p)
        val added = (c2.plains -- ctx.plains).toSeq.filterNot(isMembershipAlias)
        df = d2.filter(column(p2, c2)).drop(added: _*)
      }
      df
    }

    def compileSingle(q: Query): DataFrame =
      compilePipeline(q, None)._1

    var cbCounter = 0

    /** Replace every `COUNT { … }` in `e0` with a per-row count column
      * joined onto the frame: the block's pattern assembles seeded by the
      * shared variables, the inner WHERE filters it, a groupBy over the
      * shared keys counts matches, and a LEFT join + coalesce(0) lands the
      * Neo4j contract (0 when nothing matches). With no shared variable
      * the count is global and cross-joins as one row. Returns the widened
      * frame, the context with the synthetic column bound, and the
      * rewritten expression.
      */
    def liftCountBlocks(df0: DataFrame, ctx0: Ctx,
        e0: Expr): (DataFrame, Ctx, Expr) = {
      var df = df0
      var ctx = ctx0
      /** Common lift for the three block forms: assemble the pattern
        * seeded by the shared variables, filter by the inner WHERE, group
        * the per-key aggregate (`mkAgg` sees the sub-frame's context),
        * LEFT-join it on and backfill `zero` for unmatched rows — the
        * Neo4j contract (COUNT→0, COLLECT/comprehension→[]).
        */
      def lift(what: String, paths: Seq[PathPat], iw: Option[Expr],
          mkAgg: Ctx => Column, zero: Column): Expr = {
        cbCounter += 1
        val alias = s"__cb$cbCounter"
        val patVars = paths.flatMap(p =>
          p.head.variable.toSeq ++ p.hops.flatMap(_._2.variable)).toSet
        patVars.find(ctx.multi.contains).foreach(v => throw CypherException(
          s"$what cannot correlate on $v: it matches multiple labels"))
        val shared = patVars.filter(ctx.labels.contains).toSeq.sorted
        val (sub0, subCtx) = assemble(paths,
          ctx.labels.view.filterKeys(shared.toSet).toMap)
        // membership lift on the inner WHERE (the lifted column stays on
        // the sub side — the groupBy right below only carries keyCols)
        val sub = iw.map { w =>
          val (s2, sc2, w2) = liftMemberships(sub0, subCtx, w)
          s2.filter(column(w2, sc2))
        }.getOrElse(sub0)
        if (shared.isEmpty) {
          df = df.crossJoin(sub.agg(mkAgg(subCtx).as(alias)))
        } else {
          val keyCols = shared.map(v =>
            s"${v}__${store.schema.node(subCtx.labels(v)).key}")
          val grouped = sub.groupBy(keyCols.map(col): _*)
            .agg(mkAgg(subCtx).as(alias))
          df = df.join(grouped, keyCols, "left")
            .withColumn(alias, coalesce(col(alias), zero))
        }
        ctx = ctx.copy(plains = ctx.plains + alias)
        Var(alias)
      }
      def go(e: Expr): Expr = e match {
        case CountBlock(paths, iw) =>
          lift("COUNT { }", paths, iw, _ => count(lit(1)), lit(0L))
        // EXISTS {} in EXPRESSION position (non-top-level-WHERE) is
        // COUNT {} > 0 by definition (Neo4j); top-level WHERE conjuncts
        // never reach here — splitWhere routes them to the cheaper
        // semi/anti-join [[applyPatternPred]]
        case ExistsBlock(paths, iw) =>
          Bin(">", lift("EXISTS { }", paths, iw, _ => count(lit(1)), lit(0L)),
            Lit(0L))
        // a bare pattern predicate `(a)-[:R]->(b)` nested under OR / in an
        // item position rides the same lift (top-level AND conjuncts keep
        // the semi/anti route via splitWhere)
        case PatternPred(p) =>
          Bin(">", lift("a pattern predicate", Seq(p), None,
            _ => count(lit(1)), lit(0L)), Lit(0L))
        case CollectBlock(paths, iw, ret, ob, lim) =>
          // ordered collect: aggregate (sortkeys…, value) structs, sort the
          // per-group array, project the values back out, slice to LIMIT.
          // The transform lambda is interpreted (the q48 HOF lesson) but
          // runs once per GROUP over an already-aggregated array — never
          // in a per-row hot path.
          def collectAgg(sc: Ctx): Column =
            if (ob.isEmpty) {
              if (lim.isDefined) throw CypherException(
                "LIMIT inside COLLECT { } needs an ORDER BY to be deterministic")
              collect_list(column(ret, sc))
            } else {
              if (ob.exists(_.asc) && ob.exists(!_.asc)) throw CypherException(
                "COLLECT { } ORDER BY keys must share one direction " +
                  "(all ASC or all DESC) — the per-list sort is lexicographic")
              val fields = ob.zipWithIndex.map { case (s0, i) =>
                column(s0.expr, sc).as(s"__k$i")
              } :+ column(ret, sc).as("__v")
              val sorted = sort_array(collect_list(struct(fields: _*)), ob.head.asc)
              val values = transform(sorted, x => x.getField("__v"))
              lim.fold(values)(n => slice(values, 1, n.toInt))
            }
          lift("COLLECT { }", paths, iw, collectAgg, array())
        case PatternComp(p, iw, proj) =>
          lift("a pattern comprehension", Seq(p), iw,
            sc => collect_list(column(proj, sc)), array())
        case Bin(op, l, r) => Bin(op, go(l), go(r))
        case Not(x) => Not(go(x))
        case Fn(n, args, d) => Fn(n, args.map(go), d)
        case IsNull(x, n) => IsNull(go(x), n)
        case In(a, b) => In(go(a), go(b))
        case ListLit(xs) => ListLit(xs.map(go))
        case MapLit(kvs) => MapLit(kvs.map { case (k, v) => k -> go(v) })
        case CaseExpr(sj, bs, d) =>
          CaseExpr(sj.map(go), bs.map { case (c, r) => (go(c), go(r)) }, d.map(go))
        case Index(c, i) => Index(go(c), go(i))
        case MapProj(v, ps, st, ex) =>
          MapProj(v, ps, st, ex.map { case (k, x) => (k, go(x)) })
        // lambda scopes (comprehensions/reduce/list predicates) keep their
        // own resolution; a COUNT block inside one errors in columnL
        case other => other
      }
      val e2 = go(e0)
      val (d3, c3, e3) = liftMemberships(df, ctx, e2)
      (d3, c3, e3)
    }

    /** Alias memoization for [[liftMemberships]]: ONE joined membership
      * boolean per (variable, target label) pair per query — a predicate
      * repeated across WHERE/CASE positions reuses the column instead of
      * re-joining the key set (the column is re-derived only if an
      * intervening projection dropped it).
      */
    val membershipAliases =
      scala.collection.mutable.Map[(String, String), String]()

    def isMembershipAlias(c: String): Boolean =
      membershipAliases.valuesIterator.contains(c)

    /** Rewrite label-membership reads whose target label has received
      * secondary membership via `SET n:Label` (M44 —
      * [[GraphStore.memberships]]) into per-row membership columns.
      * Membership is provenance keys scoped by SOURCE label, so `v:Label`
      * LEFT-joins ONLY the `(Label, v's label)` frame (broadcastable —
      * it holds just the explicitly SET keys) and lands a three-valued
      * boolean: null when v itself is null-extended (Neo4j's
      * `null:Label`), else membership. The source scoping means key-value
      * collisions across label keyspaces can never fabricate membership
      * (r12 ADVICE). Disjunction-tagged variables join per (label,
      * branch) pair with the branch tag in the join condition — OUT-OF-
      * branch membership predicates now evaluate instead of rejecting.
      * `labels(v)` enumerates the primary/branch tag plus every
      * membership the node holds. Labels never touched by label mutation
      * keep the constant fold: nodes of distinct native labels are
      * distinct entities even when key values collide across keyspaces.
      */
    def liftMemberships(df0: DataFrame, ctx0: Ctx,
        e0: Expr): (DataFrame, Ctx, Expr) = {
      if (store.memberships.isEmpty) return (df0, ctx0, e0)
      var df = df0
      var ctx = ctx0
      def memberCol(v: String, l: String)(build: String => Unit): String =
        membershipAliases.get((v, l)).filter(a => df.columns.contains(a))
          .getOrElse {
            cbCounter += 1
            val alias = s"__cb$cbCounter"
            build(alias)
            membershipAliases((v, l)) = alias
            ctx = ctx.copy(plains = ctx.plains + alias)
            alias
          }
      def membership(v: String, l: String): Expr = {
        val src = ctx.labels(v)
        val keyCol = col(s"${v}__${store.schema.node(src).key}")
        Var(memberCol(v, l) { alias =>
          val frames = memberKeyFrames(src, l)
          if (frames.isEmpty)
            // no provenance links v's keyspace (directly or through a
            // chain), so a non-null v is simply not a member
            df = df.withColumn(alias, when(keyCol.isNotNull, lit(false)))
          else {
            val flags = frames.zipWithIndex.map { case (f, i) =>
              val mk = s"${alias}_k$i"
              df = df.join(f.withColumnRenamed("__mk", mk),
                keyCol.cast(StringType) === col(mk), "left_outer")
              (col(mk).isNotNull, mk)
            }
            df = df.withColumn(alias,
                when(keyCol.isNotNull, flags.map(_._1).reduce(_ || _)))
              .drop(flags.map(_._2): _*)
          }
        })
      }
      def membershipMulti(v: String, l: String): Expr = {
        val srcs = ctx.multi(v)
        val tagCol = col(labelColOf(v))
        val keyStr = coalesce(srcs.map(s =>
          col(s"${v}__${store.schema.node(s).key}").cast(StringType)): _*)
        Var(memberCol(v, l) { alias =>
          val flagged = srcs.flatMap { s =>
            memberKeyFrames(s, l).map { f =>
              cbCounter += 1
              val mk = s"__cb${cbCounter}_mk"
              df = df.join(f.withColumnRenamed("__mk", mk),
                tagCol === lit(s) && keyStr === col(mk), "left_outer")
              (col(mk).isNotNull, mk)
            }
          }
          val inBranch: Column =
            if (srcs.contains(l)) tagCol === lit(l) else lit(false)
          df = df
            .withColumn(alias,
              when(tagCol.isNotNull, flagged.map(_._1).foldLeft(inBranch)(_ || _)))
            .drop(flagged.map(_._2): _*)
        })
      }
      /** `labels(v)` with memberships in scope: the primary/branch tag
        * first, then each held secondary label in name order (a
        * deterministic rendering of Neo4j's unordered label set).
        */
      def liftLabels(v: String): Expr = {
        val single = ctx.labels.contains(v)
        // candidate secondary labels: every membership target reachable
        // from v's binding — directly, through a chain, or the member
        // rows' own primary labels (r14; [[memberKeyFrames]] cases 2-3)
        def targetsOf(srcs: Seq[String]): Seq[String] = {
          val all = store.memberships.keysIterator.map(_._1).toSeq ++
            store.memberships.keysIterator.map(_._2).toSeq
          all.distinct.sorted.filter(t =>
            srcs.exists(s => memberFramesExist(s, t)))
        }
        val (primary, nullSentinel, targets) =
          if (single) {
            val src = ctx.labels(v)
            (lit(src), col(s"${v}__${store.schema.node(src).key}"),
              targetsOf(Seq(src)))
          } else {
            val srcs = ctx.multi(v)
            (col(labelColOf(v)), col(labelColOf(v)), targetsOf(srcs))
          }
        val parts = targets.map { t =>
          val Var(a) = (if (single) membership(v, t)
                        else membershipMulti(v, t)): @unchecked
          // a disjunction member's own tag can BE t — no duplicate entry
          when(col(a) && primary.cast(StringType) =!= lit(t), lit(t))
        }
        cbCounter += 1
        val alias = s"__cb$cbCounter"
        df = df.withColumn(alias, when(nullSentinel.isNotNull,
          filter(array(primary.cast(StringType) +: parts: _*), x => x.isNotNull)))
        ctx = ctx.copy(plains = ctx.plains + alias, strLists = ctx.strLists + alias)
        Var(alias)
      }
      def relevantMulti(v: String, ls: Seq[String]): Boolean =
        ctx.multi.contains(v) &&
          ls.exists(l => ctx.multi(v).exists(s => memberFramesExist(s, l)))
      def go(e: Expr): Expr = e match {
        case HasLabel(v, ls) if ctx.labels.contains(v) &&
            ls.exists(l => memberFramesExist(ctx.labels(v), l)) =>
          ls.map { l =>
            if (memberFramesExist(ctx.labels(v), l)) membership(v, l)
            else HasLabel(v, Seq(l)): Expr // own label / unlinked: constant
          }.reduce((a, b) => Bin("and", a, b))
        case HasLabel(v, ls) if relevantMulti(v, ls) =>
          ls.map { l =>
            if (ctx.multi(v).exists(s => memberFramesExist(s, l)))
              membershipMulti(v, l)
            else HasLabel(v, Seq(l)): Expr // tag fold (false off-branch)
          }.reduce((a, b) => Bin("and", a, b))
        case HasAnyLabel(v, ls) if (ctx.labels.contains(v) &&
              ls.exists(l => memberFramesExist(ctx.labels(v), l))) ||
            relevantMulti(v, ls) =>
          ls.map { l =>
            if (ctx.labels.contains(v)) {
              if (memberFramesExist(ctx.labels(v), l)) membership(v, l)
              else HasLabel(v, Seq(l)): Expr // own label / unlinked: constant
            } else if (ctx.multi(v).exists(s => memberFramesExist(s, l)))
              membershipMulti(v, l)
            else HasAnyLabel(v, Seq(l)): Expr // tag fold
          }.reduce((a, b) => Bin("or", a, b))
        case Fn("labels", Seq(Var(v)), _)
            if (ctx.labels.contains(v) &&
                store.memberships.keysIterator.exists(p =>
                  p._2 == ctx.labels(v) || p._1 == ctx.labels(v))) ||
              (ctx.multi.contains(v) && ctx.multi(v).exists(s =>
                store.memberships.keysIterator.exists(p =>
                  p._2 == s || p._1 == s))) =>
          liftLabels(v)
        case Bin(op, l, r) => Bin(op, go(l), go(r))
        case Not(x) => Not(go(x))
        case Fn(n, args, d) => Fn(n, args.map(go), d)
        case IsNull(x, n) => IsNull(go(x), n)
        case In(a, b) => In(go(a), go(b))
        case ListLit(xs) => ListLit(xs.map(go))
        case MapLit(kvs) => MapLit(kvs.map { case (k, v) => k -> go(v) })
        case CaseExpr(sj, bs, d) =>
          CaseExpr(sj.map(go), bs.map { case (c, r) => (go(c), go(r)) }, d.map(go))
        case Index(c, i) => Index(go(c), go(i))
        case MapProj(v, ps, st, ex) =>
          MapProj(v, ps, st, ex.map { case (k, x) => (k, go(x)) })
        // lambda bodies may reference OUTER vars' labels — the membership
        // column is frame-level, so the rewritten Var resolves fine there
        case ListComp(x, coll, w, pr) => ListComp(x, go(coll), w.map(go), pr.map(go))
        case ReduceExpr(a, init, x, coll, step) =>
          ReduceExpr(a, go(init), x, go(coll), go(step))
        case ListPred(q, x, coll, p) => ListPred(q, x, go(coll), go(p))
        case other => other
      }
      val e2 = go(e0)
      (df, ctx, e2)
    }

    /** [[liftCountBlocks]] over a projection's items and ORDER BY (its
      * post-aggregation WHERE rejects blocks loudly — a lifted column
      * would not survive the aggregation boundary).
      */
    def liftProjection(df0: DataFrame, ctx0: Ctx,
        p: Projection): (DataFrame, Ctx, Projection) = {
      var df = df0
      var ctx = ctx0
      // p.where is NOT lifted here: `WITH … WHERE` evaluates against the
      // projected bindings, so [[project]] lifts it against the
      // post-projection frame instead
      val items2 = p.items.map { it =>
        val (d2, c2, e2) = liftCountBlocks(df, ctx, it.expr)
        df = d2; ctx = c2; it.copy(expr = e2)
      }
      val ob2 = p.orderBy.map { so =>
        val (d2, c2, e2) = liftCountBlocks(df, ctx, so.expr)
        df = d2; ctx = c2; so.copy(expr = e2)
      }
      (df, ctx, p.copy(items = items2, orderBy = ob2))
    }

    /** `CALL { … }` subquery (read-only). Uncorrelated: compiled once
      * (UNION bodies ride [[compileUnion]]), its rows cross the enclosing
      * frame. Correlated (`CALL { WITH v, … }`): the body compiles against
      * the DISTINCT imported bindings, its final RETURN implicitly carries
      * the imported variables as grouping keys, and the result joins back
      * on the imported key columns — per distinct imported key, which is
      * observationally per-row for a read-only body (duplicate enclosing
      * rows share identical results). A correlated ORDER BY + SKIP/LIMIT
      * applies PER IMPORTED KEY (Neo4j's "top-k per row" idiom) via a
      * partitioned row_number window. A correlated UNION body compiles each
      * branch through the same machinery and unions by name (bare UNION
      * dedupes per key). Subquery writes and unordered per-key LIMIT are
      * rejected loudly rather than silently reinterpreted.
      */
    def callSubquery(state: Option[(DataFrame, Ctx)],
        imports: Seq[String], body: Query): (DataFrame, Ctx) = {
      if (hasWrites(body))
        throw CypherException(
          "CALL { } subqueries are read-only — writes belong in the enclosing query")
      if (imports.isEmpty) {
        val (sub, subCtx) =
          if (body.union.nonEmpty) compileUnion(body) else compilePipeline(body, None)
        return state match {
          case None => (sub, subCtx)
          case Some((df, ctx)) => (df.crossJoin(sub), mergeCallCtx(ctx, subCtx))
        }
      }
      val (df, ctx) = state.getOrElse(throw CypherException(
        "CALL { WITH … } needs a preceding MATCH to import from"))
      // flatten a correlated UNION chain: each branch repeats the importing
      // WITH (parser-enforced) and compiles independently through the same
      // import-prepending machinery; frames union by name, bare UNION
      // dedupes per imported key (the carried import columns are part of
      // the row), and a trailing ORDER BY/SKIP/LIMIT on the LAST branch
      // applies per key across the whole union
      var branchQs = Seq.empty[Query]
      var unionFlags = Seq.empty[Boolean]
      var curQ: Option[Query] = Some(body)
      while (curQ.isDefined) {
        branchQs :+= curQ.get
        curQ.get.union.foreach { case (a, _) => unionFlags :+= a }
        curQ = curQ.get.union.map(_._2)
      }
      if (unionFlags.distinct.size > 1)
        throw CypherException("cannot mix UNION and UNION ALL in one query")
      val multi = branchQs.size > 1
      val lastQ = branchQs.last
      val perKeyWindow = lastQ.ret.skip.nonEmpty || lastQ.ret.limit.nonEmpty
      if (perKeyWindow && lastQ.ret.orderBy.isEmpty)
        throw CypherException(
          "SKIP/LIMIT inside a correlated CALL applies per imported key and " +
            "needs an ORDER BY in the body to be deterministic")
      imports.foreach { v =>
        if (!ctx.labels.contains(v) && !ctx.plains.contains(v))
          throw CypherException(s"CALL imports an unbound variable: $v" +
            (if (ctx.multi.contains(v)) " (multi-label variables cannot be imported)" else ""))
      }
      val nodeImports = imports.filter(ctx.labels.contains)
      val plainImports = imports.filterNot(ctx.labels.contains)
      val carryCols: Seq[String] =
        nodeImports.flatMap(v => df.columns.filter(_.startsWith(s"${v}__"))) ++
          plainImports
      val inDf = df.select(carryCols.map(col): _*).distinct()
      val inCtx = Ctx(
        labels = ctx.labels.view.filterKeys(nodeImports.toSet).toMap,
        rels = Map.empty,
        plains = plainImports.toSet,
        strLists = ctx.strLists.intersect(plainImports.toSet),
        strs = ctx.strs.intersect(plainImports.toSet),
        times = ctx.times.intersect(plainImports.toSet))
      // join back on the imported KEY columns only; the carried non-key
      // imported columns are duplicates of the enclosing frame's
      val keyCols: Seq[String] =
        nodeImports.map(v => s"${v}__${store.schema.node(ctx.labels(v)).key}") ++
          plainImports
      val importSet = imports.toSet
      def isImportCarry(i: Item): Boolean = i.alias.isEmpty && (i.expr match {
        case Var(v) => importSet(v)
        case _ => false
      })
      // union the keys a frame dropped back in with the empty-group
      // identity for each aggregate item (count()=0, sum()=0, collect()=[],
      // min/max/avg stay null) — Neo4j aggregates the empty invocation
      def restoreKeys(d: DataFrame, items: Seq[Item]): DataFrame = {
        val dropped = inDf.join(
          d.select(keyCols.map(col): _*).distinct(), keyCols, "left_anti")
        val restored = items.foldLeft(dropped) { (m, i) =>
          val n = i.alias.getOrElse(genName(i.expr))
          m.withColumn(n, emptyGroupIdentity(i.expr).getOrElse(lit(null)))
        }
        d.unionByName(restored)
      }
      /** One correlated branch. The imported variables join the branch's
        * RETURN as bare items, so an aggregating subquery groups per
        * imported key — and every intermediate WITH gets the same
        * treatment: Neo4j runs a correlated body per input row, so
        * `WITH count(o) AS n` inside it aggregates per imported key, and a
        * non-aggregating WITH that doesn't mention the import must still
        * carry it to the join-back. An aggregate-only intermediate WITH
        * must yield one row per imported key even when that key's MATCH
        * found nothing, so the body steps stage-by-stage and dropped keys
        * are restored after each such stage — BEFORE the stage's
        * post-aggregation WHERE, which must see the zero row to eliminate
        * it the way a real per-row invocation would. An intermediate
        * SKIP/LIMIT would be a PER-KEY slice in Neo4j but a global one
        * here — rejected loudly (the final RETURN's per-key window idiom
        * covers the top-k-per-row use).
        */
      def compileBranch(br: Query): (DataFrame, Ctx) = {
        val ret2 = br.ret.copy(
          items = imports.map(v => Item(Var(v), None)) ++ br.ret.items,
          orderBy = if (perKeyWindow || multi) Nil else br.ret.orderBy,
          skip = None, limit = None)
        val stages2 = br.stages.map { st =>
          st.projection match {
            case Some(p) if !p.star =>
              if (p.skip.nonEmpty || p.limit.nonEmpty)
                throw CypherException(
                  "SKIP/LIMIT in an intermediate WITH of a correlated CALL " +
                    "body applies per imported key — move it to the body's " +
                    "final RETURN (with ORDER BY) to get the per-key slice")
              val missing = imports.filterNot(v => p.items.exists(i =>
                i.alias.contains(v) || (i.alias.isEmpty && i.expr == Var(v))))
              st.copy(projection =
                Some(p.copy(items = missing.map(v => Item(Var(v), None)) ++ p.items)))
            case _ => st
          }
        }
        val body2 = br.copy(stages = stages2, ret = ret2, union = None)
        var bodyState: Option[(DataFrame, Ctx)] = Some((inDf, inCtx))
        stages2.foreach { stage =>
          val aggItems = stage.projection match {
            case Some(p) if !p.star =>
              val rest = p.items.filterNot(isImportCarry)
              if (rest.nonEmpty && rest.forall(i => containsAgg(i.expr))) rest else Nil
            case _ => Nil
          }
          bodyState = Some {
            if (aggItems.isEmpty) runStage(body2, bodyState, stage)
            else {
              val p = stage.projection.get
              val (d0, c0) = runStage(body2, bodyState,
                stage.copy(projection = Some(p.copy(where = None))))
              var d1 = restoreKeys(d0, aggItems)
              p.where.foreach(w => d1 = d1.filter(column(w, c0)))
              (d1, c0)
            }
          }
        }
        val (fd, fc, fr) = liftProjection(bodyState.get._1, bodyState.get._2, ret2)
        project(fd, fr, fc)
      }
      val (sub0, subCtx) = {
        val compiled = branchQs.map { br =>
          val (d, c) = compileBranch(br)
          // in a union an aggregate-only branch contributes its one row per
          // key even when that key matched nothing — restore BEFORE the
          // union so a sibling branch's rows can't mask the missing key
          if (multi && br.ret.items.nonEmpty &&
              br.ret.items.forall(i => containsAgg(i.expr)))
            (restoreKeys(d, br.ret.items), c)
          else (d, c)
        }
        var u = compiled.map(_._1).reduce(_.unionByName(_))
        if (multi && !unionFlags.head) u = u.distinct()
        (u, mergeCtxs(compiled.map(_._2)))
      }
      // per-key ORDER BY + SKIP/LIMIT: rank within each imported key and
      // keep the requested slice — Neo4j's "top-k per input row" idiom.
      // Sort keys must be returned items (by alias or expression), so the
      // window reads the already-computed output columns; anything else
      // rejects loudly.
      val sub = if (!perKeyWindow) sub0 else {
        def outName(i: Item): String = i.alias.getOrElse(genName(i.expr))
        def outCol(n: String) = col(s"`${n.replace("`", "``")}`")
        val byOutput: Map[Expr, String] =
          lastQ.ret.items.map(i => i.expr -> outName(i)).toMap
        val names = lastQ.ret.items.map(outName).toSet
        val sorts = lastQ.ret.orderBy.map { so =>
          val c = byOutput.get(so.expr).map(outCol).getOrElse(so.expr match {
            case Var(v) if names(v) => outCol(v)
            case _ => throw CypherException(
              "ORDER BY in a SKIP/LIMITed CALL body must reference " +
                "returned items — alias the sort expression in RETURN")
          })
          if (so.asc) c.asc else c.desc
        }
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(keyCols.map(col): _*).orderBy(sorts: _*)
        val lo = lastQ.ret.skip.getOrElse(0L)
        val hi = lastQ.ret.limit.map(lo + _).getOrElse(Long.MaxValue)
        sub0.withColumn("__callrn", row_number().over(w))
          .filter(col("__callrn") > lo && col("__callrn") <= hi)
          .drop("__callrn")
      }
      val subSlim = sub.columns.filter(c => carryCols.contains(c) && !keyCols.contains(c))
        .foldLeft(sub)(_.drop(_))
      // An aggregate-only body returns exactly one row per input row in
      // Neo4j even when its MATCH finds nothing (count()=0, sum()=0,
      // collect()=[]); an inner join would silently drop those rows, so
      // join left and backfill the empty-group identities — the same
      // contract the COUNT {} lift implements. A body with any non-
      // aggregate item keeps the inner join: zero body rows legitimately
      // eliminate the input row (CALL is cardinality-changing there).
      // Union bodies always take the inner join: any aggregate-only BRANCH
      // already restored its zero-match keys before the union.
      val aggOnly = !multi && keyCols.nonEmpty && body.ret.items.nonEmpty &&
        body.ret.items.forall(i => containsAgg(i.expr))
      if (!aggOnly) (df.join(subSlim, keyCols, "inner"), mergeCallCtx(ctx, subCtx))
      else {
        var joined = df.join(subSlim, keyCols, "left")
        body.ret.items.foreach { i =>
          val name = i.alias.getOrElse(genName(i.expr))
          val c = col(s"`${name.replace("`", "``")}`")
          emptyGroupIdentity(i.expr).foreach(z =>
            joined = joined.withColumn(name, coalesce(c, z)))
        }
        (joined, mergeCallCtx(ctx, subCtx))
      }
    }

    /** The value a Neo4j aggregate yields over ZERO rows, when that value
      * is not null: count→0, sum→0, collect→[]; min/max/avg stay null.
      * Used to backfill empty groups a left join reintroduces.
      */
    def emptyGroupIdentity(e: Expr): Option[Column] = e match {
      case Fn("count", _, _) => Some(lit(0L))
      case Fn("sum", _, _) => Some(lit(0L))
      case Fn("collect", _, _) => Some(array())
      case _ => None
    }

    /** Enclosing bindings + the subquery's result bindings (aliases become
      * plain columns; carried/returned node variables keep their labels).
      */
    def mergeCallCtx(outer: Ctx, sub: Ctx): Ctx =
      outer.copy(
        labels = sub.labels ++ outer.labels,
        plains = outer.plains ++ sub.plains,
        strLists = outer.strLists ++ sub.strLists,
        strs = outer.strs ++ sub.strs,
        times = outer.times ++ sub.times,
        multi = sub.multi ++ outer.multi)

    def compilePipeline(q: Query,
        initial: Option[(DataFrame, Ctx)]): (DataFrame, Ctx) = {
      var state: Option[(DataFrame, Ctx)] = initial
      q.stages.foreach { st => state = Some(runStage(q, state, st)) }
      val (fd, fc, fr) = liftProjection(state.get._1, state.get._2, q.ret)
      project(fd, fr, fc)
    }

    /** One pipeline stage: reads, WHERE, writes, optional WITH projection.
      * Factored out of [[compilePipeline]] so [[callSubquery]] can step a
      * correlated body stage-by-stage and restore zero-match imported keys
      * between stages.
      */
    def runStage(q: Query, initial: Option[(DataFrame, Ctx)],
        st: Stage): (DataFrame, Ctx) = {
      var state: Option[(DataFrame, Ctx)] = initial
      // a WHERE right after an OPTIONAL MATCH is part of that optional
      // pattern (Cypher): it filters the optional side before the left
      // join, so an outer row whose matches all fail it is null-extended
      val optWhere = st.reads.lastOption.collect {
        case MatchClause(_, true) | ShortestPathClause(_, _, _, true) => st.where
      }.flatten
        // reading clauses apply in written order: MATCH extends the frame
        // by pattern joins, OPTIONAL MATCH left-joins, UNWIND explodes a
        // list into rows (one output row per element; a row-batch param
        // becomes a one-struct-column frame cross-joined in)
        st.reads.foreach {
          case MatchClause(paths, false) =>
            state = Some(assemble(paths, initial = state))
          case m @ MatchClause(paths, true) =>
            val (df, ctx) = state.getOrElse(
              throw CypherException("OPTIONAL MATCH cannot start a query"))
            state = Some(attachOptional(df, ctx, paths,
              if (m eq st.reads.last) optWhere else None))
          case sp @ ShortestPathClause(pv, p, all, opt) =>
            val (needNodes, needRels) = Elision.pathUsage(q, pv)
            state = Some(shortestPathRead(state, pv, p, all,
              needNodes = needNodes, needRels = needRels, optional = opt,
              where = if (sp eq st.reads.last) optWhere else None))
          case UnwindClause(e, alias) =>
            state = Some(rowsParam(e) match {
              case Some(rows) =>
                val rdf = rowsDf(alias, rows)
                state match {
                  case Some((df, ctx)) =>
                    (df.crossJoin(rdf), ctx.copy(plains = ctx.plains + alias))
                  case None => (rdf, Ctx(Map.empty, Map.empty, Set(alias)))
                }
              case None =>
                state match {
                  case Some((df, ctx)) =>
                    // UNWIND [pattern comprehension / COLLECT {} / …]:
                    // lift the block onto the frame first, then explode
                    // the synthetic column
                    val (d2, c2, e2) = liftCountBlocks(df, ctx, e)
                    (d2.withColumn(alias, explode(column(e2, c2))),
                      c2.copy(plains = c2.plains + alias))
                  case None =>
                    val emptyCtx = Ctx(Map.empty, Map.empty)
                    (spark.range(1).select(explode(column(e, emptyCtx)).as(alias)),
                      Ctx(Map.empty, Map.empty, Set(alias)))
                }
            })
          case CallClause(imports, body) =>
            state = Some(callSubquery(state, imports, body))
        }
        if (state.isEmpty) {
          if (st.writes.nonEmpty)
            // write-only start (`CREATE (n:L {…})`): a one-row empty frame
            state = Some((spark.range(1).select(), Ctx(Map.empty, Map.empty)))
          else
            throw CypherException("query must start with a MATCH pattern or UNWIND")
        }
        var (df, ctx) = state.get
        if (optWhere.isEmpty) st.where.foreach(w => df = applyWhere(df, ctx, w))
        if (st.writes.nonEmpty) {
          val (d2, c2) = applyWrites(df, ctx, st.writes)
          df = d2; ctx = c2
        }
        st.projection.foreach { p =>
          val (d1, c1, p1) = liftProjection(df, ctx, p)
          val (d2, c2) = project(d1, p1, c1)
          df = d2; ctx = c2
        }
        (df, ctx)
    }
  }
}
