package graft.cypher

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel

import graft.graph.{EdgeType, GraphAnalytics, GraphStore, GraphWriter, NodeType}
import Ast._
import CypherEngine._
import LocalBfs._

/** shortestPath / allShortestPaths half of the [[CypherEngine]]
  * interpreter: endpoint-disjunction decomposition, the seeded
  * multi-source BFS (the single-task kernel or the distributed
  * [[GraphAnalytics.bfsFrames]] loop), and OPTIONAL attachment.
  */
private[cypher] trait InterpPaths { self: CypherEngine.Interp =>

    /** `MATCH p = shortestPath((a)-[:R*lo..hi]->(b))` — minimum hop count
      * between each endpoint pair, as a multi-source BFS over the edge set:
      * level n's frontier is level n-1's frontier joined one hop forward,
      * anti-joined against everything already reached (so each pair is
      * found at its minimum distance and never re-expanded — the loop
      * [[GraphAnalytics.bfsFrames]], which [[GraphAnalytics.bfs]] runs
      * from one root and this runs from every bound `a`). Each frontier
      * is eagerly checkpointed: level n is read twice (expansion + anti
      * join) and the plan would otherwise double per level; the final
      * distance set is checkpointed too so the scratch edge cache and
      * frontier blocks are released per query instead of accumulating
      * across a JVM's lifetime. Bounds are capped like var-length
      * patterns, so depth is explicit in the plan.
      */
    def shortestPathRead(state: Option[(DataFrame, Ctx)], pv: String,
        path: PathPat, all: Boolean, needNodes: Boolean,
        needRels: Boolean = false,
        optional: Boolean = false,
        where: Option[Expr] = None): (DataFrame, Ctx) = {
      if (path.hops.size != 1)
        throw CypherException("shortestPath expects a single relationship pattern")
      // OPTIONAL semantics preserve rows of the ENCLOSING frame, so the
      // start endpoint must already be bound there (an unbound `a` would
      // itself be part of the optional pattern and need null-extension)
      if (optional && !state.exists(_._2.labels.contains(
          path.head.variable.getOrElse(""))))
        throw CypherException(
          "OPTIONAL MATCH shortestPath needs its start endpoint bound by a preceding MATCH")
      val (rel, dstPat) = path.hops.head
      val aVar = path.head.variable.getOrElse(
        throw CypherException("shortestPath endpoints need variables"))
      val bVar = dstPat.variable.getOrElse(
        throw CypherException("shortestPath endpoints need variables"))
      // no var-length spec = a single-hop pattern (Neo4j semantics:
      // shortestPath((a)-[:R]->(b)) matches length-1 paths only; the old
      // silent 1..10 default reported multi-hop distances a plain pattern
      // never asked for).
      // lo0 == 0 (`*0..n`): the zero-length path IS the shortest for every
      // (a, a) pair — the BFS runs at lo=1 and an identity frame (dist 0,
      // path [a], empty rels) replaces any self-pair cycle rows it found.
      val (lo0, hi) = rel.varLength.getOrElse((1, 1))
      val lo = math.max(lo0, 1)
      // allShortestPaths rows ARE the distinct minimum-length paths, so the
      // path array must be carried even when nothing reads nodes(p); plain
      // shortestPath with only length(p) read drops it — the path is the
      // widest column in every BFS frontier shuffle.
      // relationships(p) needs the node sequence too (each hop's src/dst),
      // and over a TYPE DISJUNCTION additionally the per-hop type array —
      // a single type renders as a constant and skips the extra column.
      val withPath = needNodes || all || needRels
      if (rel.labels.isEmpty)
        throw CypherException("shortestPath needs a relationship type")
      val ets = rel.labels.map(l => store.schema.edges.find(_.label == l).getOrElse(
        throw CypherException(s"unknown relationship type: $l")))
      val et = ets.head
      val label = rel.labels.mkString("|")
      // bind the start endpoint (with its label/prop filters) into the
      // frame. Under OPTIONAL the head props must NOT reduce the enclosing
      // frame (rows failing them null-extend, like the dst-side props) —
      // strip them here and fold them into the left_outer join condition
      // below instead.
      // endpoint label disjunction (r13): shortestPath semantics are
      // per-(a, b)-PAIR — the minimum over paths between two fixed
      // endpoints — so a disjunction endpoint decomposes EXACTLY into one
      // single-label branch per alternative: the per-pair minima are
      // independent of what other pairs exist, and the branches' pair
      // sets are disjoint (distinct native labels). Each branch runs the
      // normal single-endpoint BFS; [[mergeBranches]] unions them and
      // tags the diverged endpoint, like any interpretation fork. A
      // branch no relationship fits is silently dropped (same rule as
      // [[enumerate]]); all-dropped rethrows the first error.
      // endpoint disjunction decomposition fires only for pats with NO
      // resolved label yet — already-decomposed branch pats keep their
      // alternative list (bind sites derive sibling/earlier-branch member
      // exclusions from it) but carry the chosen label
      val headDis = path.head.alts.nonEmpty && path.head.label.isEmpty
      val dstDis = dstPat.alts.nonEmpty && dstPat.label.isEmpty
      if (optional && (headDis || dstDis || where.nonEmpty)) {
        // Run the pattern NON-optional over the DISTINCT binding of its
        // pre-bound endpoints, filter that matched side by the OPTIONAL
        // MATCH's WHERE, and null-extend with ONE left join back onto the
        // enclosing frame (null-safe on every endpoint column, so the row
        // identity is exact even when the frame is not key-unique). A
        // disjunction takes this route too: per-branch left joins would
        // emit one null row PER BRANCH for a fully-unmatched enclosing row
        // where Neo4j emits exactly one. Head props filter only the
        // matched side, never the enclosing rows.
        val (df0, ctx0) = state.get
        val bound = Seq(aVar, bVar).distinct.filter(ctx0.labels.contains)
        val endCols = bound.flatMap(v => df0.columns.filter(_.startsWith(s"${v}__")))
        val dfA = df0.select(endCols.map(col): _*).distinct()
        val ctxA = Ctx(labels = ctx0.labels.view.filterKeys(bound.toSet).toMap,
          rels = Map.empty)
        val (dfM0, ctxM) = shortestPathRead(Some((dfA, ctxA)), pv, path,
          all, needNodes, needRels)
        val dfM = where.fold(dfM0)(optionalWhere(dfM0, ctxM, ctx0, _))
        val pfx = "__osp_"
        val renamed = endCols.foldLeft(dfM)((d, c) =>
          d.withColumnRenamed(c, pfx + c))
        val cond = endCols.map(c => col(c) <=> col(pfx + c)).reduce(_ && _)
        val joined = df0.join(renamed, cond, "left_outer")
          .drop(endCols.map(pfx + _): _*)
        return (joined, ctx0.copy(
          labels = ctx0.labels ++ ctxM.labels,
          rels = ctx0.rels ++ ctxM.rels,
          plains = ctx0.plains ++ ctxM.plains,
          paths = ctx0.paths ++ ctxM.paths,
          strLists = ctx0.strLists ++ ctxM.strLists,
          pathRels = ctx0.pathRels ++ ctxM.pathRels,
          pathRelSeqs = ctx0.pathRelSeqs ++ ctxM.pathRelSeqs,
          multi = ctx0.multi ++ ctxM.multi,
          multiRels = ctx0.multiRels ++ ctxM.multiRels,
          multiRelEnds = ctx0.multiRelEnds ++ ctxM.multiRelEnds,
          nullable = ctx0.nullable ++ (ctxM.labels.keySet -- bound) ++
            ctxM.multi.keySet))
      }
      if (headDis || dstDis) {
        // memberships linking the alternatives no longer reject (r13
        // verdict directive #5): each branch's head bind and far-endpoint
        // join run with [[disjunctionExcludes]], so a node reached through
        // several alternatives is enumerated by exactly one branch — the
        // per-pair BFS minima stay disjoint across branches
        Seq((aVar, path.head.alts), (bVar, dstPat.alts)).foreach { case (v, as) =>
          if (as.nonEmpty && state.exists(_._2.labels.contains(v)))
            throw CypherException(
              s"shortestPath endpoint $v is already bound — drop the " +
                "label disjunction (the binding fixed its label)")
        }
        // Branch exclusions reason over the VIABLE alternatives (r14, same
        // rule as [[assemble]]'s survivors): an alternative no edge type
        // touches produces no branch, so its members must stay eligible in
        // the surviving branches — carry the filtered list in the branch
        // pats (bind sites and the far-endpoint join derive exclusions
        // from it). Viability here = some member type has the label as an
        // endpoint; branches dropped later for other reasons still throw
        // into the try/catch below.
        def viable(ls: Seq[String]): Seq[String] =
          ls.filter(l => ets.exists(e => e.src == l || e.dst == l))
        val headAlts = viable(path.head.alts)
        val dstAlts = viable(dstPat.alts)
        val heads: Seq[Option[String]] =
          if (headDis) headAlts.map(Some(_)) else Seq(path.head.label)
        val dsts: Seq[Option[String]] =
          if (dstDis) dstAlts.map(Some(_)) else Seq(dstPat.label)
        var firstErr: Option[CypherException] = None
        val built = for {
          hl <- heads
          dl <- dsts
          r <- try Some(shortestPathRead(state, pv,
                 PathPat(path.head.copy(label = hl, alts = headAlts),
                   Seq((rel, dstPat.copy(label = dl, alts = dstAlts)))),
                 all, needNodes, needRels))
               catch {
                 case e: CypherException
                     if e.getMessage.startsWith("no relationship fits") =>
                   if (firstErr.isEmpty) firstErr = Some(e)
                   None
               }
        } yield r
        if (built.isEmpty) throw firstErr.getOrElse(CypherException(
          "no relationship fits the shortestPath endpoint disjunction"))
        return mergeBranches(built)
      }
      val headPat = if (optional) path.head.copy(props = Nil) else path.head
      val (df1, ctx1) = assemble(Seq(PathPat(headPat, Nil)), initial = state)
      val aLabel = ctx1.labels(aVar)
      // type disjunction `[:A|B*…]`: each BFS step may take ANY of the
      // types (mixed-type walks, same semantics as the var-length closure's
      // type group). Self-relationship groups on the start label run the
      // scalar-key BFS below; HETEROGENEOUS groups (types spanning
      // different label pairs) run the label-tagged undirected BFS — a
      // directed multi-hop walk over mixed label pairs cannot compose hops
      // deterministically and is rejected loudly.
      val selfOnA = ets.forall(e => e.src == aLabel && e.dst == aLabel)
      if (ets.size > 1 && !selfOnA && !(hi > 1 && rel.dir == Undirected))
        throw CypherException(
          s"a heterogeneous shortestPath type disjunction needs an undirected " +
            s"var-length pattern " +
            s"(got ${ets.map(e => s"${e.label}:${e.src}->${e.dst}").mkString(", ")})")
      val wantB = ctx1.labels.get(bVar).orElse(dstPat.label)
      // Source seeding: the BFS only ever needs distances whose source the
      // bound start frame can produce, so hand the BFS the distinct start
      // keys. With a selective start pattern (`{n_nationkey: 0}`) this turns
      // an all-pairs closure into single-source BFS — strictly less frontier
      // work at any scale; with an unselective one the semi-join is a no-op.
      val aKeyCol = s"${aVar}__${store.schema.node(aLabel).key}"
      // head props stripped under OPTIONAL still narrow the SEED set (a
      // source failing them can never satisfy the join condition, so the
      // BFS needn't explore it) — only the frame must keep its rows
      val seedSrc = path.head.props.foldLeft(df1) { case (d, (pn, v)) =>
        if (optional) d.filter(col(s"${aVar}__$pn") === literal(v)) else d
      }
      val seeds = seedSrc.select(col(aKeyCol).as("__seed")).distinct()

      if (hi > 1 && rel.dir == Undirected && !selfOnA &&
          (ets.size > 1 || et.src != et.dst)) {
        // Heterogeneous labels (bipartite walk, or a type GROUP spanning
        // different label pairs): undirected traversal may change node
        // label per hop, so `b`'s label is the annotated/bound one — or,
        // for a single bipartite type, the far side. Node ids are
        // label-tagged ([[heteroDistDf]]); keys project back out here.
        if (!ets.exists(e => e.src == aLabel || e.dst == aLabel))
          throw CypherException(
            s"no relationship fits shortestPath(($aLabel)-[$label]-(${wantB.getOrElse("?")}))")
        val bLabel = wantB.getOrElse {
          if (ets.size == 1) (if (et.src == aLabel) et.dst else et.src)
          else throw CypherException(
            s"a heterogeneous type disjunction [$label] can reach several " +
              "labels — annotate or pre-bind the far endpoint")
        }
        if (!ets.exists(e => e.src == bLabel || e.dst == bLabel))
          throw CypherException(
            s"no relationship fits shortestPath(($aLabel)-[$label]-($bLabel))")
        // ONE tagged struct type must fit every member type's keys: cast
        // all to string unless the key data types are identical group-wide
        // (must agree with [[heteroDistDf]]'s tagging decision)
        val mixedKeys = heteroMixedKeys(ets)
        def k(c: Column): Column = if (mixedKeys) c.cast(StringType) else c
        // Build the fully-resolved path frame FIRST (far endpoint joined /
        // filtered into it), then attach it to the enclosing frame with
        // ONE join — inner normally, left_outer under OPTIONAL (rows with
        // no path keep nulls for p and an unbound b).
        val bBound = ctx1.labels.contains(bVar)
        val withRels = needRels && ets.size > 1
        var p = heteroDistDf(ets, lo, hi, seeds, aLabel, all, withPath, withRels,
          rel.props)
          .filter(col("__dd.__l") === lit(bLabel))
        if (lo0 == 0 && bLabel == aLabel) {
          // distance-0 self pairs: one tagged identity row per seed; BFS
          // self-pair rows (cycles) are superseded — min distance is 0
          val tag = struct(lit(aLabel).as("__l"), k(col("__seed")).as("__k"))
          val id0 = seeds.select(tag.as("__ds"), tag.as("__dd"))
          val id1 = if (withPath) id0.withColumn("__path", array(col("__ds"))) else id0
          val id2 = if (withRels)
            id1.withColumn("__rels", array().cast(p.schema("__rels").dataType))
          else id1
          p = id2.withColumn("__len", lit(0L))
            .unionByName(p.filter(col("__ds") =!= col("__dd")))
        }
        var ctx2 = ctx1
        if (!bBound) {
          val (dSibs, dKeyEx) = disjunctionExcludes(dstPat.alts, bLabel)
          p = p.join(nodeDf(bVar, bLabel, dSibs, dKeyEx),
            col("__dd.__k") === k(col(s"${bVar}__${store.schema.node(bLabel).key}")))
          ctx2 = ctx1.copy(labels = ctx1.labels + (bVar -> bLabel))
          dstPat.props.foreach { case (pn, v) =>
            p = p.filter(col(s"${bVar}__$pn") === literal(v))
          }
        }
        p = p.withColumn(s"${pv}__len", col("__len"))
        if (needNodes || needRels)
          p = p.withColumn(s"${pv}__nodes", transform(col("__path"),
            s => concat_ws(":", s.getField("__l"), s.getField("__k").cast(StringType))))
        if (withRels) p = p.withColumn(s"${pv}__rels", col("__rels"))
        var cond = p("__ds").getField("__k") === k(col(aKeyCol))
        if (optional) path.head.props.foreach { case (pn, v) =>
          cond = cond && (col(s"${aVar}__$pn") === literal(v))
        }
        if (bBound) {
          cond = cond && (p("__dd").getField("__k") ===
            k(col(s"${bVar}__${store.schema.node(ctx1.labels(bVar)).key}")))
          dstPat.props.foreach { case (pn, v) =>
            cond = cond && (col(s"${bVar}__$pn") === literal(v))
          }
        }
        val df = df1.join(p, cond, if (optional) "left_outer" else "inner")
          .drop("__ds", "__dd", "__len", "__path", "__rels")
        // a single-type path renders relationships(p) with a constant type;
        // a disjunction carries the per-hop type array instead (withRels)
        return (df, ctx2.copy(paths = ctx2.paths + pv,
          pathRels = if (ets.size == 1) ctx2.pathRels + (pv -> et.label)
                     else ctx2.pathRels,
          pathRelSeqs = if (withRels) ctx2.pathRelSeqs + pv else ctx2.pathRelSeqs,
          nullable = if (optional && !bBound) ctx2.nullable + bVar else ctx2.nullable))
      }

      val fitsFwd = et.src == aLabel && wantB.forall(_ == et.dst)
      val fitsBwd = et.dst == aLabel && wantB.forall(_ == et.src)
      if (!fitsFwd && !fitsBwd)
        throw CypherException(
          s"no relationship fits shortestPath(($aLabel)-[$label]-(${wantB.getOrElse("?")}))")
      // self-edge types honor the written arrow; otherwise the schema
      // orientation decides (direction correction, same rule as reads)
      val along = if (fitsFwd && fitsBwd) rel.dir != Ast.In else fitsFwd
      val bLabel = if (along) et.dst else et.src
      // a DIRECTED walk over a heterogeneous type cannot compose hops
      // (the dst label never matches the src label), so only length-1
      // paths exist — clamp the bound instead of running empty levels
      val hiEff = if (et.src != et.dst) math.min(hi, 1) else hi
      // same shape as the hetero branch: resolve the far endpoint into the
      // path frame, then one (optionally left_outer) join onto the
      // enclosing frame
      val bBound = ctx1.labels.contains(bVar)
      val withRels = needRels && ets.size > 1
      var p =
        if (hi == 0) {
          // zero-length-only (*0..0 / {0}): NO traversal happens — an
          // empty frame here lets the lo0==0 identity union below supply
          // exactly the distance-0 rows. (Routing through distDf would
          // reject *1..0 as out-of-range; its lo==1 BFS seeds all level-1
          // rows.) Heterogeneous endpoints can never unify on one node:
          // reject loudly, mirroring the var-length closure's hi==0 branch.
          if (bLabel != aLabel) throw CypherException(
            "a zero-length-only shortestPath (*0..0 / {0}) over a " +
              "heterogeneous relationship can never match — its endpoints " +
              "would need to be one node of both labels")
          val kt = store.nodes(aLabel)
            .schema(store.schema.node(aLabel).key).dataType
          var sch = StructType(Seq(StructField("__ds", kt),
            StructField("__dd", kt), StructField("__len", LongType)))
          if (withPath) sch = sch.add("__path", ArrayType(kt))
          if (withRels) sch = sch.add("__rels", ArrayType(StringType))
          df1.sparkSession.createDataFrame(
            df1.sparkSession.sparkContext.emptyRDD[Row], sch)
        } else distDf(ets, lo, hiEff,
          undirected = rel.dir == Undirected, reversed = !along, seeds, all,
          withPath, withRels, rel.props)
      if (lo0 == 0 && bLabel == aLabel) {
        // distance-0 self pairs (see the hetero branch above)
        val id0 = seeds.select(col("__seed").as("__ds"), col("__seed").as("__dd"))
        val id1 = if (withPath) id0.withColumn("__path", array(col("__ds"))) else id0
        val id2 = if (withRels)
          id1.withColumn("__rels", array().cast(p.schema("__rels").dataType))
        else id1
        p = id2.withColumn("__len", lit(0L))
          .unionByName(p.filter(col("__ds") =!= col("__dd")))
      }
      var ctx2 = ctx1
      if (!bBound) {
        val (dSibs, dKeyEx) = disjunctionExcludes(dstPat.alts, bLabel)
        p = p.join(nodeDf(bVar, bLabel, dSibs, dKeyEx),
          col("__dd") === col(s"${bVar}__${store.schema.node(bLabel).key}"))
        ctx2 = ctx1.copy(labels = ctx1.labels + (bVar -> bLabel))
        dstPat.props.foreach { case (k, v) =>
          p = p.filter(col(s"${bVar}__$k") === literal(v))
        }
      }
      p = p.withColumn(s"${pv}__len", col("__len"))
      if (needNodes || needRels)
        p = p.withColumn(s"${pv}__nodes", col("__path"))
      if (withRels) p = p.withColumn(s"${pv}__rels", col("__rels"))
      var cond = col(aKeyCol) === p("__ds")
      if (optional) path.head.props.foreach { case (pn, v) =>
        cond = cond && (col(s"${aVar}__$pn") === literal(v))
      }
      if (bBound) {
        cond = cond &&
          (p("__dd") === col(s"${bVar}__${store.schema.node(ctx1.labels(bVar)).key}"))
        dstPat.props.foreach { case (k, v) =>
          cond = cond && (col(s"${bVar}__$k") === literal(v))
        }
      }
      val df = df1.join(p, cond, if (optional) "left_outer" else "inner")
        .drop("__ds", "__dd", "__len", "__path", "__rels")
      // a single-type path renders relationships(p) with a constant type; a
      // disjunction carries the per-hop type array instead (withRels)
      val pathRels2 =
        if (ets.size == 1) ctx2.pathRels + (pv -> et.label) else ctx2.pathRels
      (df, ctx2.copy(paths = ctx2.paths + pv, pathRels = pathRels2,
        pathRelSeqs = if (withRels) ctx2.pathRelSeqs + pv else ctx2.pathRelSeqs,
        nullable = if (optional && !bBound) ctx2.nullable + bVar else ctx2.nullable))
    }

    /** Minimum-hop (src, dst, len, path) rows within lo..hi over one edge
      * type. `__path` is the node-key sequence of ONE shortest path per
      * endpoint pair — deterministically the lexicographically smallest
      * among the minimum-length paths (per-level pruning keeps the
      * lexicographic min per pair, and prefix-wise lexicographic order is
      * preserved under extension, so the greedy choice is the global one).
      */
    def distDf(ets: Seq[EdgeType], lo: Int, hi: Int,
        undirected: Boolean, reversed: Boolean, seeds0: DataFrame,
        keepAll: Boolean, withPath: Boolean,
        withRels: Boolean = false,
        props: Seq[(String, Expr)] = Nil): DataFrame = {
      validatePathBounds(lo, hi)
      ets.foreach { et =>
        if (hi > 1 && et.src != et.dst)
          throw CypherException(s"shortestPath over ${et.label} needs ${et.src}=${et.dst}")
      }
      // a type GROUP unions the edge sets before the BFS — each step may
      // take any member type (mixed-type walks, the closure's semantics).
      // Under withRels each edge row carries its member type so the BFS
      // can accumulate the per-hop type sequence (`relationships(p)`)
      def build(withRt: Boolean): DataFrame = ets.map { et =>
        val raw = filteredEdges(et, props)
        val fwd = raw.select(col(et.keyS).as("__ds"), col(et.keyT).as("__dd"))
        val bwd = raw.select(col(et.keyT).as("__ds"), col(et.keyS).as("__dd"))
        val d = if (undirected) fwd.unionByName(bwd) else if (reversed) bwd else fwd
        if (withRt) d.withColumn("__rt", lit(et.label)) else d
      }.reduce(_.unionByName(_))
      // NOT distinct'd: that would shuffle the whole edge frame once per
      // query. Builder stores are pair-deduped already; residual duplicates
      // (write-path multi-edges, reciprocal pairs under the undirected
      // union) are absorbed by the BFS itself — the seed-restricted first
      // frontier is distinct'd cheaply and every later level goes through
      // oneHop's groupBy(min(__path)).
      // cached per JVM by [[cachedUnion]]: overlapping BFS queries share
      // one persisted union; inline props bypass it (query-specific edge
      // sets), and store-scale unions take the uncached build
      bfsMemoized(("scalar", System.identityHashCode(store),
        ets.map(_.label), lo, hi, undirected, reversed, keepAll, withPath,
        withRels, props, seeds0.queryExecution.analyzed.canonicalized)) {
        val e0 =
          if (props.nonEmpty) build(withRels)
          else {
            val u = cachedUnion(s"scalar:$undirected:$reversed", ets)(
              build(withRt = true))
            if (withRels) u else u.drop("__rt")
          }
        runBfs(ets, if (undirected) 2L else 1L, e0, seeds0, lo, hi, keepAll,
          withPath, withRels)
      }
    }

    /** The one local/distributed switch of the shortestPath family, shared
      * by [[distDf]] and [[heteroDistDf]]. Same philosophy as
      * [[GraphAnalytics.LocalEdgeThreshold]]: the distributed BFS
      * ([[GraphAnalytics.bfsFrames]]) pays ~2 Spark jobs per level (eager
      * checkpoint + emptiness probe), so a dimension-sized graph spends
      * its whole wall-time on job scheduling, not compute. Under the edge
      * cap AND the seed×edge work budget, and for the key types
      * [[localDistKey]] admits, the whole BFS runs inside ONE task (the
      * sizing counts are two tiny jobs; a 100 TB edge store fails the edge
      * cap and takes the distributed path).
      * `edgeMult` scales the member types' stored edge counts to the rows
      * of `e0` (2 under an undirected union), so the store's memoized
      * per-type counts replace an O(edges) sizing scan per query.
      */
    private def runBfs(ets: Seq[EdgeType], edgeMult: Long, e0: DataFrame,
        seeds0: DataFrame, lo: Int, hi: Int, keepAll: Boolean,
        withPath: Boolean, withRels: Boolean): DataFrame = {
      // seeds comes from the bound-side MATCH pipeline — persisted so the
      // sizing probe's seeds.count() and the BFS (the local kernel, or the
      // distributed path's first-hop semi join) don't each re-execute it
      val seeds = seeds0.persist(StorageLevel.MEMORY_AND_DISK)
      val keyType = e0.schema("__ds").dataType
      val local = lo == 1 && localDistKey(keyType) && {
        val edgeCnt = ets.map(et => store.edgeCount(et.label)).sum * edgeMult
        edgeCnt <= bfsEdgeCap(e0.sparkSession) &&
          (seeds.count() + 1L) * (edgeCnt + 1L) <= LocalPathWorkCap
      }
      // the eager localCheckpoint evaluates the single-task kernel here,
      // so a keepAll multiplicity over budget surfaces now and falls back
      // to the distributed, spillable shape
      val out =
        if (local)
          try localDist(e0, seeds, hi, keyType, keepAll, withPath, withRels)
            .localCheckpoint(true)
          catch { case t: Throwable if isLocalPathsOverBudget(t) =>
            GraphAnalytics.bfsFrames(e0, seeds, lo, hi, keepAll, withPath, withRels) }
        else GraphAnalytics.bfsFrames(e0, seeds, lo, hi, keepAll, withPath, withRels)
      seeds.unpersist(false)
      out
    }

    /** Shared bound validation for the shortestPath family. An open upper
      * bound ([[Parser.Unbounded]]) is legal with `lo <= 1`: the BFS loop
      * stops on frontier exhaustion, which the finite pair closure
      * guarantees. `lo > 1` runs walk enumeration (no reached-set pruning),
      * so it needs an explicit depth.
      */
    def validatePathBounds(lo: Int, hi: Int): Unit = {
      if (lo < 1 || hi < lo)
        throw CypherException(s"shortestPath bounds out of range: *$lo..$hi")
      if (lo > 1 && hi == Parser.Unbounded)
        throw CypherException(
          "shortestPath with a lower bound > 1 enumerates walks and needs " +
            "an explicit upper bound (*lo..hi)")
      // walk enumeration builds one join stage per level with no
      // reached-set pruning, so an explicit-but-huge upper bound
      // (*2..100000) is a planning-time explosion, not a query — cap it
      // like plain var-length patterns
      if (lo > 1 && hi > Parser.MaxVarLength)
        throw CypherException(
          s"shortestPath with a lower bound > 1 enumerates walks level by " +
            s"level; the upper bound must be <= ${Parser.MaxVarLength} (got *$lo..$hi)")
    }

    /** Route an edge-union build through the per-JVM [[edgeUnionCache]]
      * in the storage tier the member stores' size picks, or build it
      * uncached past the disk tier (see the cache's doc). `build` must
      * produce the widest variant (with `__rt`) so every reader shares one
      * entry. A new entry is materialized with one `count()` at insert:
      * the first reader is often the single-task local kernel
      * (`coalesce(1)`), which would otherwise compute and cache the whole
      * union inside one task (measured at sf0.1: q105's first run 5.9 s vs
      * 2.1 s warm). The count builds the blocks with full scan parallelism,
      * and concurrent readers of the same union wait for it.
      */
    def cachedUnion(variant: String, ets: Seq[EdgeType])(
        build: => DataFrame): DataFrame = {
      val total = ets.map(et => store.edgeCount(et.label)).sum
      if (total > UnionCacheMaxDiskEdges) return build
      val level =
        if (total > UnionCacheMaxEdges) StorageLevel.DISK_ONLY
        else StorageLevel.MEMORY_AND_DISK
      val key = new graft.util.FrameKey(s"$variant|${ets.map(_.label).mkString("|")}",
        ets.map(et => store.edges(et.label)))
      edgeUnionCache.getOrBuild(key) {
        val f = build.persist(level)
        try { f.count(); f }
        catch { case t: Throwable => f.unpersist(false); throw t }
      }
    }

    /** True when the type group's edge-key columns span more than one data
      * type — the tagged struct then carries string keys so one struct
      * type fits every label (callers joining keys back out must apply
      * the same cast).
      */
    def heteroMixedKeys(ets: Seq[EdgeType]): Boolean =
      ets.flatMap { et =>
        val raw = store.edges(et.label)
        Seq(raw.schema(et.keyS).dataType, raw.schema(et.keyT).dataType)
      }.distinct.sizeIs > 1

    /** Heterogeneous-label shortestPath support: BFS over a type GROUP
      * whose src/dst LABELS differ or vary per member (a single bipartite
      * type like customer–part, or a disjunction spanning different label
      * pairs), where multi-hop traversal is necessarily undirected and may
      * change node label per hop. Raw keys from different label spaces may
      * collide (customer 5 ≠ part 5), so node ids are label-TAGGED structs
      * `(__l, __k)` — the same BFS then runs unchanged (struct keys join,
      * group, and min() like scalars). When key types differ anywhere in
      * the group all keys are cast to string so one struct type unifies
      * ([[heteroMixedKeys]]). Output `__ds`/`__dd`/`__path` carry tagged
      * structs; the caller projects them back (`nodes(p)` renders
      * `Label:key` strings).
      */
    def heteroDistDf(ets: Seq[EdgeType], lo: Int, hi: Int,
        seeds0: DataFrame, seedLabel: String,
        keepAll: Boolean, withPath: Boolean,
        withRels: Boolean = false,
        props: Seq[(String, Expr)] = Nil): DataFrame = {
      validatePathBounds(lo, hi)
      val mixedKeys = heteroMixedKeys(ets)
      def tag(l: String, c: Column): Column =
        struct(lit(l).as("__l"),
          (if (mixedKeys) c.cast(StringType) else c).as("__k"))
      // a type GROUP unions every member's tagged edge set before the BFS
      // — each step may take any member type (mixed-type walks, the same
      // semantics as [[distDf]]'s scalar-key group). Under withRels each
      // edge row carries its member type so the BFS can accumulate the
      // per-hop type sequence (`relationships(p)`)
      def build(withRt: Boolean): DataFrame = ets.map { et =>
        val raw = filteredEdges(et, props)
        val fwd = raw.select(tag(et.src, col(et.keyS)).as("__ds"),
          tag(et.dst, col(et.keyT)).as("__dd"))
        val bwd = raw.select(tag(et.dst, col(et.keyT)).as("__ds"),
          tag(et.src, col(et.keyS)).as("__dd"))
        val both = fwd.unionByName(bwd)
        if (withRt) both.withColumn("__rt", lit(et.label)) else both
      }.reduce(_.unionByName(_))
      // not distinct'd — see distDf: label tags make fwd/bwd disjoint, the
      // store is pair-deduped, and the BFS dedups its own frontiers.
      // cached per JVM by [[cachedUnion]], as in distDf: one persisted
      // tagged union (always carrying __rt) serves the q85/q91/q105 family
      bfsMemoized(("hetero", System.identityHashCode(store),
        ets.map(_.label), lo, hi, seedLabel, keepAll, withPath, withRels,
        props, seeds0.queryExecution.analyzed.canonicalized)) {
        val e0 =
          if (props.nonEmpty) build(withRels)
          else {
            val u = cachedUnion(s"hetero:$mixedKeys", ets)(build(withRt = true))
            if (withRels) u else u.drop("__rt")
          }
        // same local/distributed switch as [[distDf]]; the tagged union
        // always carries both directions
        runBfs(ets, 2L, e0, seeds0.select(tag(seedLabel, col("__seed")).as("__seed")),
          lo, hi, keepAll, withPath, withRels)
      }
    }

    /** Per-compilation BFS memo: the per-label branches of an endpoint
      * disjunction run the SAME seeded BFS and differ only in the
      * far-endpoint label filter applied AFTER it, so the (eagerly
      * checkpointed) distance frame is shared instead of recomputed per
      * branch — q128's two branches, and q131/q132's, pay for one BFS.
      * Keyed on every BFS parameter plus the seed plan's structural
      * identity (the decomposition rebuilds the head frame from the same
      * enclosing state, so the canonicalized plans are equal) and the
      * store's object identity (a mid-statement write builds a new store,
      * invalidating naturally). Values are checkpointed frames — reuse is
      * a block read, not a recompute.
      */
    val bfsMemo = scala.collection.mutable.Map[Any, DataFrame]()
    def bfsMemoized(key: Any)(build: => DataFrame): DataFrame =
      bfsMemo.getOrElseUpdate(key, build)

    /** Attach one OPTIONAL MATCH clause: assemble its paths independently
      * (seeded with the enclosing labels), filter them by the clause's
      * `where`, and LEFT-join on the shared variables' node keys.
      * Unmatched rows carry nulls for the optional variables —
      * `count(optVar)` then counts only matches, Cypher's semantics. The
      * WHERE belongs to the optional pattern, so it may read only the
      * variables the pattern binds (shared ones included); an enclosing
      * variable outside it would need the whole frame, which is a
      * `WITH … WHERE` after the OPTIONAL MATCH.
      */
    def attachOptional(main: DataFrame, ctx: Ctx, paths: Seq[PathPat],
        where: Option[Expr] = None): (DataFrame, Ctx) = {
      val patVars: Set[String] =
        paths.flatMap(p => p.head.variable.toSeq ++ p.hops.flatMap(_._2.variable)).toSet
      patVars.find(ctx.multi.contains).foreach(v => throw CypherException(
        s"OPTIONAL MATCH cannot correlate on $v: it matches multiple labels " +
          s"(${ctx.multi(v).mkString(", ")}) — constrain it with a label first"))
      val shared = patVars.filter(ctx.labels.contains)
      if (shared.isEmpty)
        throw CypherException("OPTIONAL MATCH must share at least one variable with the preceding MATCH")
      val (sub0, subCtx) = assemble(paths, ctx.labels.view.filterKeys(shared).toMap)
      val sub = where.fold(sub0)(optionalWhere(sub0, subCtx, ctx, _))
      def keyColOf(v: String, c: Ctx): String = s"${v}__${store.schema.node(c.labels(v)).key}"
      val sfx = "__opt"
      val subR = sub.columns.foldLeft(sub)((d, c) => d.withColumnRenamed(c, c + sfx))
      val cond = shared.map(v => col(keyColOf(v, ctx)) === col(keyColOf(v, subCtx) + sfx))
        .reduce(_ && _)
      var joined = main.join(subR, cond, "left_outer")
      subR.columns.foreach { c =>
        val orig = c.dropRight(sfx.length)
        if (shared.exists(v => orig.startsWith(s"${v}__"))) joined = joined.drop(c)
        else joined = joined.withColumnRenamed(c, orig)
      }
      val newVars = patVars -- shared
      (joined, ctx.copy(
        labels = ctx.labels ++ subCtx.labels.view.filterKeys(newVars).toMap,
        rels = ctx.rels ++ subCtx.rels,
        multi = ctx.multi ++ subCtx.multi.view.filterKeys(newVars).toMap,
        multiRels = ctx.multiRels ++ subCtx.multiRels,
        nullable = ctx.nullable ++ newVars))
    }

    /** Filter an OPTIONAL MATCH's matched side `sub` by the WHERE written
      * after it, before the left join onto the enclosing frame (`outer`), so
      * an enclosing row whose matches all fail `w` is null-extended rather
      * than dropped. `w` may read only what the optional pattern binds: an
      * enclosing variable outside it has no value on the matched side.
      */
    def optionalWhere(sub: DataFrame, subCtx: Ctx, outer: Ctx, w: Expr): DataFrame = {
      def bound(c: Ctx): Set[String] = c.labels.keySet ++ c.rels.keySet ++
        c.plains ++ c.paths ++ c.multi.keySet ++ c.multiRels
      (Elision.exprVars(w) & (bound(outer) -- bound(subCtx))).headOption
        .foreach(v => throw CypherException(
          s"the WHERE of an OPTIONAL MATCH reads $v, which its pattern " +
            s"does not bind — filter the whole row with `WITH * WHERE …` " +
            "after the OPTIONAL MATCH instead"))
      applyWhere(sub, subCtx, w)
    }
}
