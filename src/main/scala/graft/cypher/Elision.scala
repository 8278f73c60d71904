package graft.cypher

import Ast._

/** Unused-endpoint join elision analysis: which pattern variables'
  * endpoint node-store joins are SEMANTICALLY removable, and which path
  * variables' node/relationship sequences a query actually reads. The
  * bind site (`InterpPatterns`, which also checks that the traversed
  * edge types are endpoint-validated) lives with the compiler; this
  * object is the pure AST analysis.
  */
private[cypher] object Elision {
  /** Variables whose endpoint node-store join is semantically removable:
    * they occur at exactly ONE node position in the whole query and are
    * never referenced in any expression, write, or sort. Returns None when
    * a `WITH *` / `RETURN *` appears — star carries every bound variable's
    * full column set (anonymous ones included), so NOTHING may be elided.
    * (Whether the join is ALSO physically removable — every traversed edge
    * type endpoint-validated — is the bind site's check; anonymous pattern
    * nodes always qualify and are recognized at the bind site.) Union
    * branches are counted together — conservative, branches are separate
    * scopes but a shared name then simply keeps its join.
    */
  private[cypher] def elisionSafeVars(q: Query): Option[Set[String]] = {
    val refs = collection.mutable.Set[String]()
    val nodeOcc = collection.mutable.Map[String, Int]().withDefaultValue(0)
    // startNode(r)/endNode(r) read r's ENDPOINT nodes (property access
    // needs their full column sets), so those endpoints must keep their
    // node-store joins; the rel→named-endpoint map is collected during
    // the path walk and folded into refs at the end
    val relEndVars =
      collection.mutable.Map[String, Set[String]]().withDefaultValue(Set.empty)
    val endpointFnRels = collection.mutable.Set[String]()
    var star = false
    def expr(e: Expr): Unit = e match {
      case Prop(v, _) => refs += v
      case Var(v) => refs += v
      case Fn("startnode" | "endnode", args, _) =>
        args.foreach(expr)
        args.foreach { case Var(r) => endpointFnRels += r; case _ => () }
      case HasLabel(v, _) => refs += v
      case HasAnyLabel(v, _) => refs += v
      case TypedNull(_) => ()
      case MapProj(v, _, _, ex) => refs += v; ex.foreach { case (_, x) => expr(x) }
      case Fn(_, args, _) => args.foreach(expr)
      case Bin(_, l, r) => expr(l); expr(r)
      case Not(x) => expr(x)
      case IsNull(x, _) => expr(x)
      case In(a, b) => expr(a); expr(b)
      case ListLit(xs) => xs.foreach(expr)
      case MapLit(kvs) => kvs.foreach(kv => expr(kv._2))
      case ListComp(_, coll, w, p) => expr(coll); w.foreach(expr); p.foreach(expr)
      case ReduceExpr(_, init, _, coll, step) => expr(init); expr(coll); expr(step)
      case ListPred(_, _, coll, p) => expr(coll); expr(p)
      case Index(c, i) => expr(c); expr(i)
      case CaseExpr(s, bs, d) =>
        s.foreach(expr); bs.foreach { case (c, r) => expr(c); expr(r) }; d.foreach(expr)
      case PatternPred(p) => path(p, asRefs = true)
      case ExistsBlock(ps, w) => ps.foreach(path(_, asRefs = true)); w.foreach(expr)
      case CountBlock(ps, w) => ps.foreach(path(_, asRefs = true)); w.foreach(expr)
      case CollectBlock(ps, w, r, ob, _) =>
        ps.foreach(path(_, asRefs = true)); w.foreach(expr); expr(r); ob.foreach(s0 => expr(s0.expr))
      case PatternComp(p, w, pr) =>
        path(p, asRefs = true); w.foreach(expr); expr(pr)
      case Param(_) | Lit(_) => ()
    }
    def node(n: NodePat, asRefs: Boolean): Unit = {
      n.variable.foreach(v => if (asRefs) refs += v else nodeOcc(v) += 1)
      n.props.foreach { case (_, e) => expr(e) }
    }
    def path(p: PathPat, asRefs: Boolean): Unit = {
      node(p.head, asRefs)
      var prev = p.head
      p.hops.foreach { case (r, n) =>
        r.variable.foreach(rv => relEndVars(rv) =
          relEndVars(rv) ++ prev.variable ++ n.variable)
        r.props.foreach { case (_, e) => expr(e) }
        node(n, asRefs)
        prev = n
      }
    }
    def proj(p: Projection): Unit = {
      if (p.star) star = true
      p.items.foreach(i => expr(i.expr))
      // `WITH n AS m` re-binds n's node under m (projection carries its
      // columns): n is read through the item itself, and a later pattern
      // mention of m names a bound node, never an elidable endpoint
      p.items.foreach { case Item(Var(_), Some(a)) => refs += a; case _ => () }
      p.where.foreach(expr)
      p.orderBy.foreach(s => expr(s.expr))
    }
    def setItem(s: SetItem): Unit = s match {
      case SetPlus(v, m) => refs += v; m.foreach { case (_, e) => expr(e) }
      case SetProp(v, _, e) => refs += v; expr(e)
      case SetAll(v, m) => refs += v; m.foreach { case (_, e) => expr(e) }
      case SetLabel(v, _, _) => refs += v
    }
    def write(w: WriteClause): Unit = w match {
      case CreateClause(ps) => ps.foreach(path(_, asRefs = true))
      case MergeClause(p, oc, om) =>
        path(p, asRefs = true); oc.foreach(setItem); om.foreach(setItem)
      case SetClause(items) => items.foreach(setItem)
      case DeleteClause(vars, _) => refs ++= vars
      case ForeachClause(_, coll, body) => expr(coll); body.foreach(write)
    }
    def go(q0: Query): Unit = {
      q0.stages.foreach { st =>
        st.reads.foreach {
          case MatchClause(paths, _) => paths.foreach(path(_, asRefs = false))
          case UnwindClause(e, a) => expr(e); refs += a
          case ShortestPathClause(_, p, _, _) => path(p, asRefs = true)
          // a CALL body is its own scope; imports reference enclosing
          // vars, and elision analysis does not cross the boundary —
          // disable it for the whole query (conservative)
          case CallClause(imports, _) => refs ++= imports; star = true
        }
        st.where.foreach(expr)
        st.projection.foreach(proj)
        st.writes.foreach(write)
      }
      proj(q0.ret)
      q0.union.foreach { case (_, next) => go(next) }
    }
    go(q)
    endpointFnRels.foreach(rv => refs ++= relEndVars(rv))
    if (star) None
    else Some(nodeOcc.collect { case (v, 1) if !refs(v) => v }.toSet)
  }

  /** Does the query read anything of path variable `pv` beyond its length?
    * `length(p)`/`size(p)` need only the hop count; `nodes(p)`,
    * `relationships(p)`, or any other reference (including `RETURN p` and
    * star projections, which carry every bound column) needs the node
    * sequence. When this is false the BFS drops the `__path` array — the
    * widest column in every frontier shuffle — and carries `(src, dst,
    * len)` only.
    */
  private[cypher] def pathUsesNodes(q: Query, pv: String): Boolean =
    pathUsage(q, pv)._1

  /** (needs node sequence, calls `relationships(pv)`). The second flag
    * drives carrying the per-hop relationship-TYPE array through a
    * type-disjunction BFS — a single-type path renders a constant type and
    * never needs it.
    */
  private[cypher] def pathUsage(q: Query, pv: String): (Boolean, Boolean) = {
    var used = false
    var usedRels = false
    var star = false
    // pv and every name a projection re-binds it to (`WITH p AS q`): the
    // aliased path carries pv's columns, so reads of q are reads of pv
    var names = Set(pv)
    def isPv(v: String): Boolean = names(v)
    def expr(e: Expr): Unit = e match {
      // count(DISTINCT p) hashes the path identity — it needs the node
      // sequence (and, over a type disjunction, the per-hop type array:
      // two distinct paths can share a node sequence)
      case Fn("count", Seq(Var(v)), true) if isPv(v) =>
        used = true; usedRels = true
      case Fn("length" | "size" | "count", Seq(Var(v)), _) if isPv(v) => ()
      case IsNull(Var(v), _) if isPv(v) => () // matched-test needs only __len
      case Fn("relationships", Seq(Var(v)), _) if isPv(v) =>
        used = true; usedRels = true
      case Var(v) => if (isPv(v)) used = true
      case Prop(v, _) => if (isPv(v)) used = true
      case MapProj(v, _, _, ex) =>
        if (isPv(v)) used = true
        ex.foreach { case (_, x) => expr(x) }
      case Fn(_, args, _) => args.foreach(expr)
      case Bin(_, l, r) => expr(l); expr(r)
      case Not(x) => expr(x)
      case IsNull(x, _) => expr(x)
      case In(a, b) => expr(a); expr(b)
      case ListLit(xs) => xs.foreach(expr)
      case MapLit(kvs) => kvs.foreach(kv => expr(kv._2))
      case ListComp(_, coll, w, p) => expr(coll); w.foreach(expr); p.foreach(expr)
      case ReduceExpr(_, init, _, coll, step) => expr(init); expr(coll); expr(step)
      case ListPred(_, _, coll, p) => expr(coll); expr(p)
      case Index(c, i) => expr(c); expr(i)
      case CaseExpr(s, bs, d) =>
        s.foreach(expr); bs.foreach { case (c, r) => expr(c); expr(r) }; d.foreach(expr)
      case PatternPred(p) =>
        p.head.props.foreach { case (_, e0) => expr(e0) }
        p.hops.foreach { case (r, n) =>
          r.props.foreach { case (_, e0) => expr(e0) }
          n.props.foreach { case (_, e0) => expr(e0) }
        }
      case ExistsBlock(ps, w) =>
        ps.foreach { p =>
          p.head.props.foreach { case (_, e0) => expr(e0) }
          p.hops.foreach { case (r, n) =>
            r.props.foreach { case (_, e0) => expr(e0) }
            n.props.foreach { case (_, e0) => expr(e0) }
          }
        }
        w.foreach(expr)
      case CountBlock(ps, w) =>
        ps.foreach { p =>
          p.head.props.foreach { case (_, e0) => expr(e0) }
          p.hops.foreach { case (r, n) =>
            r.props.foreach { case (_, e0) => expr(e0) }
            n.props.foreach { case (_, e0) => expr(e0) }
          }
        }
        w.foreach(expr)
      case CollectBlock(ps, w, r, ob, _) =>
        ps.foreach { p =>
          p.head.props.foreach { case (_, e0) => expr(e0) }
          p.hops.foreach { case (rl, n) =>
            rl.props.foreach { case (_, e0) => expr(e0) }
            n.props.foreach { case (_, e0) => expr(e0) }
          }
        }
        w.foreach(expr); expr(r); ob.foreach(s0 => expr(s0.expr))
      case PatternComp(p, w, pr) =>
        p.head.props.foreach { case (_, e0) => expr(e0) }
        p.hops.foreach { case (rl, n) =>
          rl.props.foreach { case (_, e0) => expr(e0) }
          n.props.foreach { case (_, e0) => expr(e0) }
        }
        w.foreach(expr); expr(pr)
      case Param(_) | Lit(_) | HasLabel(_, _) | HasAnyLabel(_, _) | TypedNull(_) => ()
    }
    def proj(p: Projection): Unit = {
      if (p.star) star = true
      p.items.foreach(i => expr(i.expr))
      names ++= p.items.collect { case Item(Var(v), Some(a)) if isPv(v) => a }
      p.where.foreach(expr)
      p.orderBy.foreach(s => expr(s.expr))
    }
    def setItem(s: SetItem): Unit = s match {
      case SetPlus(v, m) => if (isPv(v)) used = true; m.foreach { case (_, e) => expr(e) }
      case SetProp(v, _, e) => if (isPv(v)) used = true; expr(e)
      case SetAll(v, m) => if (isPv(v)) used = true; m.foreach { case (_, e) => expr(e) }
      case SetLabel(v, _, _) => if (isPv(v)) used = true
    }
    def patProps(p: PathPat): Unit = {
      p.head.props.foreach { case (_, e) => expr(e) }
      p.hops.foreach { case (r, n) =>
        r.props.foreach { case (_, e) => expr(e) }
        n.props.foreach { case (_, e) => expr(e) }
      }
    }
    def go(q0: Query): Unit = {
      q0.stages.foreach { st =>
        st.reads.foreach {
          case MatchClause(paths, _) => paths.foreach(patProps)
          case UnwindClause(e, _) => expr(e)
          case ShortestPathClause(_, p, _, _) => patProps(p)
          case CallClause(_, body) => go(body) // p may be imported/read inside
        }
        st.where.foreach(expr)
        st.projection.foreach(proj)
        def wr(w: WriteClause): Unit = w match {
          // pattern prop maps may reference the path (`CREATE (x {ns:
          // nodes(p)})`) — visit them like MATCH patterns, else __nodes is
          // dropped and compilation dies on an unresolved column
          case CreateClause(paths) => paths.foreach(patProps)
          case MergeClause(p0, oc, om) =>
            patProps(p0); oc.foreach(setItem); om.foreach(setItem)
          case SetClause(items) => items.foreach(setItem)
          case DeleteClause(vars, _) => if (vars.exists(isPv)) used = true
          case ForeachClause(_, coll, body) => expr(coll); body.foreach(wr)
        }
        st.writes.foreach(wr)
      }
      proj(q0.ret)
      q0.union.foreach { case (_, next) => go(next) }
    }
    go(q)
    (used || star, usedRels)
  }

  /** Variables `e` reads from its enclosing scope: property, label and
    * value references plus the variables of nested patterns and blocks,
    * minus the names a list lambda binds inside it. Block-local pattern
    * variables are included; callers intersect with what a scope binds.
    */
  private[cypher] def exprVars(e: Expr): Set[String] = {
    def all(es: Iterable[Expr]): Set[String] = es.flatMap(exprVars).toSet
    def pat(p: PathPat): Set[String] = {
      val nodes = p.head +: p.hops.map(_._2)
      val rels = p.hops.map(_._1)
      (nodes.flatMap(_.variable) ++ rels.flatMap(_.variable)).toSet ++
        all(nodes.flatMap(_.props.map(_._2)) ++ rels.flatMap(_.props.map(_._2)))
    }
    e match {
      case Prop(v, _) => Set(v)
      case Var(v) => Set(v)
      case HasLabel(v, _) => Set(v)
      case HasAnyLabel(v, _) => Set(v)
      case MapProj(v, _, _, ex) => all(ex.map(_._2)) + v
      case Fn(_, args, _) => all(args)
      case Bin(_, l, r) => all(Seq(l, r))
      case Not(x) => exprVars(x)
      case IsNull(x, _) => exprVars(x)
      case In(a, b) => all(Seq(a, b))
      case ListLit(xs) => all(xs)
      case MapLit(kvs) => all(kvs.map(_._2))
      case ListComp(v, coll, w, p) => exprVars(coll) ++ (all(w ++ p) - v)
      case ReduceExpr(acc, init, v, coll, step) =>
        all(Seq(init, coll)) ++ (exprVars(step) - acc - v)
      case ListPred(_, v, coll, p) => exprVars(coll) ++ (exprVars(p) - v)
      case Index(c, i) => all(Seq(c, i))
      case CaseExpr(s, bs, d) =>
        all(s ++ bs.flatMap { case (c, r) => Seq(c, r) } ++ d)
      case PatternPred(p) => pat(p)
      case ExistsBlock(ps, w) => ps.flatMap(pat).toSet ++ all(w)
      case CountBlock(ps, w) => ps.flatMap(pat).toSet ++ all(w)
      case CollectBlock(ps, w, r, ob, _) =>
        ps.flatMap(pat).toSet ++ all(w ++ Seq(r) ++ ob.map(_.expr))
      case PatternComp(p, w, pr) => pat(p) ++ all(w ++ Seq(pr))
      case Param(_) | Lit(_) | TypedNull(_) => Set.empty
    }
  }
}
