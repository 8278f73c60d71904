package graft.cypher

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel

import graft.graph.{EdgeType, GraphStore, GraphWriter, NodeType}
import Ast._
import CypherEngine._
import LocalBfs._

/** Pattern resolution and assembly half of the [[CypherEngine]]
  * interpreter (split from Compiler.scala in r14 — no behavior change):
  * interpretation enumeration, label frames with membership derivation
  * and disjunction exclusions, var-length closures, and the MATCH
  * assembly that turns a pattern chain into DataFrame joins.
  */
private[cypher] trait InterpPatterns { self: CypherEngine.Interp =>

    /** Enumerate every consistent assignment of edge-type groups to the
      * patterns' hops — Neo4j matches a `[:A|B]` disjunction or an untyped
      * `-[r]->` against EVERY fitting type; this engine compiles each
      * label-consistent interpretation and unions the branches
      * ([[mergeBranches]]). Per hop, fitting types are grouped by the
      * endpoint labels they imply (same-endpoint types stay ONE branch —
      * they union into one edge frame); label bindings propagate across
      * hops exactly as [[assembleOne]] applies them, so each returned
      * assignment re-resolves deterministically. Direction correction is
      * per-set, matching the single-type rule: a written arrow is honored
      * when ANY type fits it, flipped only when none does.
      */
    def enumerate(patterns: Seq[PathPat],
        seed: Map[String, String]): Seq[(Map[String, String], Seq[HopChoice])] = {
      var anon = 0
      def nm(n: NodePat): String =
        n.variable.getOrElse { anon += 1; s"__enum$anon" }
      // events in [[assembleOne]]'s binding order: a head-label bind per
      // path (so `MATCH (a:Customer), (a)-[r]->(x)` constrains the second
      // path's hops), then the path's hops
      val headBinds = Seq.newBuilder[(Int, String, NodePat)]
      val hopsB = Seq.newBuilder[(Int, String, NodePat, RelPat, String, NodePat)]
      patterns.zipWithIndex.foreach { case (p, i) =>
        var prevVar = nm(p.head)
        headBinds += ((i, prevVar, p.head))
        var prevPat = p.head
        p.hops.foreach { case (r, n) =>
          val v = nm(n)
          hopsB += ((i, prevVar, prevPat, r, v, n))
          prevVar = v
          prevPat = n
        }
      }
      val headByPath = headBinds.result().groupBy(_._1)
      // a state = (every label inferred so far, the subset FORKED from a
      // head disjunction — returned so [[assemble]] can seed the branch's
      // [[assembleOne]] with the chosen label, which no HopChoice carries
      // for a hop-less path — the hop choices accumulated)
      var states = Seq((seed, Map.empty[String, String], Vector.empty[HopChoice]))
      var firstErr: Option[String] = None
      var seenPath = -1
      def applyHead(v: String, pat: NodePat): Unit = {
        // a `(v:A|B)` head forks the enumeration per alternative — each
        // branch proceeds with the label FIXED, so shared uses of v across
        // paths stay consistent and hop fitting narrows per branch. A pat
        // carrying BOTH label and alts is an already-decomposed branch
        // (shortestPath endpoint disjunction keeps the alternative list so
        // bind sites can compute sibling/earlier-branch exclusions) — the
        // label decides, no re-fork
        if (pat.alts.nonEmpty && pat.label.isEmpty) {
          pat.alts.filterNot(l => store.schema.nodes.exists(_.name == l))
            .foreach(l => throw CypherException(s"unknown node label: $l"))
          states = states.flatMap { case (labels, forked, acc) =>
            if (labels.contains(v)) Seq((labels, forked, acc))
            else pat.alts.map(l => (labels + (v -> l), forked + (v -> l), acc))
          }
        } else pat.label.foreach(l => states = states.map {
          case (labels, forked, acc) =>
            (if (labels.contains(v)) labels else labels + (v -> l), forked, acc)
        })
      }
      hopsB.result().foreach { case (pathIdx, uVar, uPat, rel, vVar, vPat) =>
        // apply head annotations of every path up to this one
        while (seenPath < pathIdx) {
          seenPath += 1
          headByPath.getOrElse(seenPath, Nil).foreach { case (_, v, p) =>
            applyHead(v, p)
          }
        }
        val candidates = rel.labels match {
          case Seq() => store.schema.edges
          case ls =>
            ls.find(l => !store.schema.edges.exists(_.label == l))
              .foreach(l => throw CypherException(s"unknown relationship type: $l"))
            store.schema.edges.filter(e => ls.contains(e.label))
        }
        states = states.flatMap { case (labels, forked, acc) =>
          val lu = labels.get(uVar).orElse(uPat.label)
          val lv = labels.get(vVar).orElse(vPat.label)
          // unresolved endpoint with a `:A|B` disjunction: any listed
          // label fits (the chosen group then pins it, like an unlabeled
          // endpoint — the disjunction only narrows the candidate set)
          def fits(want: Option[String], alts: Seq[String], actual: String) =
            want.map(_ == actual)
              .getOrElse(alts.isEmpty || alts.contains(actual))
          val forward = candidates.filter(e =>
            fits(lu, uPat.alts, e.src) && fits(lv, vPat.alts, e.dst))
          val backward = candidates.filter(e =>
            fits(lv, vPat.alts, e.src) && fits(lu, uPat.alts, e.dst))
          val oriented: Seq[(EdgeType, Boolean)] = rel.dir match {
            case Out | Undirected =>
              if (forward.nonEmpty) forward.map((_, false)) else backward.map((_, true))
            case In => // (u)<-[r]-(v): schema-forward means v→u
              if (backward.nonEmpty) backward.map((_, true)) else forward.map((_, false))
          }
          // multi-hop var-length over a heterogeneous type yields length-1
          // paths only; with lo > 1 the interpretation is unsatisfiable
          val usable = oriented.filter { case (et, _) =>
            rel.varLength.forall { case (lo, _) => lo <= 1 || et.src == et.dst }
          }
          if (usable.isEmpty) {
            if (firstErr.isEmpty) {
              val lbl = if (rel.labels.isEmpty) "" else rel.labels.mkString("|")
              firstErr = Some(rel.dir match {
                case In => s"no relationship fits (${lu.getOrElse("?")})<-[$lbl]-(${lv.getOrElse("?")})"
                case _ => s"no relationship fits (${lu.getOrElse("?")})-[$lbl]->(${lv.getOrElse("?")})"
              })
            }
            Nil
          } else {
            val groups = usable.groupBy { case (et, f) =>
              if (f) (et.dst, et.src) else (et.src, et.dst)
            }
            groups.toSeq.sortBy(_._1).map { case ((ul, vl), opts) =>
              (labels + (uVar -> ul) + (vVar -> vl), forked,
                acc :+ HopChoice(opts.map(_._1).sortBy(_.label), opts.head._2))
            }
          }
        }
        if (states.size > MaxPatternInterpretations)
          throw CypherException(
            s"pattern matches more than $MaxPatternInterpretations type interpretations — " +
              "annotate node labels or relationship types")
      }
      // drain head annotations of trailing hop-less paths — their `:A|B`
      // forks are the ONLY event those paths contribute (a standalone
      // `MATCH (n:A|B)` compiles to one branch per alternative)
      while (seenPath < patterns.size - 1) {
        seenPath += 1
        headByPath.getOrElse(seenPath, Nil).foreach { case (_, v, p) =>
          applyHead(v, p)
        }
      }
      if (states.size > MaxPatternInterpretations)
        throw CypherException(
          s"pattern matches more than $MaxPatternInterpretations type interpretations — " +
            "annotate node labels or relationship types")
      if (states.isEmpty)
        throw CypherException(firstErr.getOrElse("no relationship fits the pattern"))
      states.map(s => (s._2, s._3))
    }

    // ----------------------------------------------------------- assembly

    /** Every node currently answering to `label`: the native store plus,
      * when the label has received secondary membership (`SET n:Label`,
      * M44), member rows derived LIVE from each source store — the
      * provenance keys semi-restrict the source, then project onto the
      * target schema (key cast into the target keyspace, properties
      * copied by shared name, the rest null). No memberships — the
      * overwhelmingly common case, and every never-mutated store — returns
      * the native frame untouched: zero plan overhead. Derived rows with
      * an uncastable key drop (they could never participate in joins or
      * id()). A native row and a member can share a key value — they are
      * DISTINCT nodes (Neo4j semantics) and both rows match, so a mutated
      * label's frame is not necessarily key-unique; documented deviation:
      * key-value collisions also let members reach the target label's
      * EDGES in key joins (SURVEY M44).
      */
    def labelFrame(label: String,
        excludeSrcs: Set[String] = Set.empty,
        /** Per-SOURCE key exclusion (finer than `excludeSrcs`): membership
          * rows whose `__m_key` appears in any of the listed frames are
          * dropped from this label's derivation. Used by disjunction
          * branches to keep a THIRD-PARTY source's members — nodes SET
          * into several alternatives — in exactly the first alternative
          * that holds them (r13 ADVICE: full-source exclusion either
          * double-counted such members or dropped them everywhere). All
          * frames are in the source's keyspace, so the anti-joins are
          * exact — no cross-keyspace string compare.
          */
        excludeKeys: Map[String, Seq[DataFrame]] = Map.empty): DataFrame = {
      val native = store.nodes.getOrElse(label,
        throw CypherException(s"unknown node label: $label"))
      val pairs = store.memberships.collect {
        case ((t, s), m) if t == label && !excludeSrcs.contains(s) =>
          (s, excludeKeys.getOrElse(s, Nil)
            .foldLeft(m)((d, ex) => d.join(ex, Seq("__m_key"), "left_anti")))
      }.toSeq.sortBy(_._1)
      if (pairs.isEmpty) native
      else {
        val nt = store.schema.node(label)
        val tgtSchema = native.schema
        val derived = pairs.map { case (src, m) =>
          val snt = store.schema.node(src)
          GraphStore.memberRows(store.nodes(src), snt.key, m)
            .select(
              col(snt.key).cast(tgtSchema(nt.key).dataType).as(nt.key) +:
                nt.properties.map(p =>
                  (if (p == snt.key || snt.properties.contains(p)) col(p)
                   else lit(null))
                    .cast(tgtSchema(p).dataType).as(p)): _*)
            .na.drop("any", Seq(nt.key))
        }
        derived.foldLeft(native)(_ unionByName _)
      }
    }

    /** `excludeSrcs`: when the bind comes from a label-DISJUNCTION branch
      * (`(x:A|B)`), membership-derived rows whose SOURCE label is a
      * sibling branch are excluded — that node already matches through
      * its own branch, and Neo4j matches each node ONCE however many of
      * the alternatives it satisfies.
      */
    def nodeDf(variable: String, label: String,
        excludeSrcs: Set[String] = Set.empty,
        excludeKeys: Map[String, Seq[DataFrame]] = Map.empty): DataFrame = {
      val df = labelFrame(label, excludeSrcs, excludeKeys)
      df.columns.foldLeft(df)((d, c) => d.withColumnRenamed(c, s"${variable}__$c"))
    }

    /** Source exclusions for the `label` branch of an ordered disjunction
      * `alts` — both the exact rule for which branch enumerates which node:
      *  - a SIBLING alternative's members are fully excluded (native
      *    sibling nodes match through their own branch, and a sibling-
      *    sourced member IS such a node);
      *  - a third-party source's members are excluded from this branch iff
      *    the same source keys are members of an EARLIER alternative —
      *    per-KEY, so a node SET into alternatives 1 and 2 matches once
      *    (in 1) while a node SET only into 2 still matches in 2
      *    (r13 ADVICE: the source-granular rule couldn't separate them).
      * Neo4j matches each node once however many alternatives it
      * satisfies; declaration order makes our choice deterministic.
      */
    def disjunctionExcludes(alts: Seq[String], label: String)
        : (Set[String], Map[String, Seq[DataFrame]]) = {
      if (alts.isEmpty) return (Set.empty, Map.empty)
      val sibs = alts.toSet - label
      val earlier = alts.take(math.max(alts.indexOf(label), 0))
      val keyEx = store.memberships.keysIterator.collect {
        case (t, s) if t == label && !sibs.contains(s) &&
            earlier.exists(e => store.memberships.contains((e, s))) => s
      }.toSeq.distinct.map { s =>
        s -> earlier.flatMap(e => store.memberships.get((e, s)))
      }.toMap
      (sibs, keyEx)
    }

    /** Key frames (one column `__mk`, rendered in `src`'s keyspace) whose
      * presence on a row bound through label `src` means "this row holds
      * label `l`" — the read side of the provenance design:
      *  1. direct: keys SET under `(l, src)`;
      *  2. chained (r14): rows of src's frame that are themselves members
      *     DERIVED from another source s2 (pair `(src, s2)`) hold `l` when
      *     their source node is SET under `(l, s2)` — the true-source pair
      *     [[setLabels]] records for chained mutations;
      *  3. primary: a member derived from s2 natively holds s2 itself, so
      *     `v:s2` is TRUE for those rows (Neo4j's one-node-many-labels —
      *     previously they read false through the target binding).
      * Chained/primary frames map the s2 keys into src's keyspace with the
      * same cast [[labelFrame]] used to derive the rows, so the join is
      * exact wherever the derivation was. Empty for every label never
      * touched by label mutation.
      */
    def memberKeyFrames(src: String, l: String): Seq[DataFrame] = {
      if (l == src) return Nil
      val direct = store.memberships.get((l, src))
        .map(_.select(col("__m_key").as("__mk"))).toSeq
      val srcKeyType = store.nodes(src).schema(store.schema.node(src).key).dataType
      val chained = store.memberships.keysIterator.collect {
        case (t, s2) if t == src && s2 != src => s2
      }.toSeq.distinct.sorted.flatMap { s2 =>
        val key2 = store.schema.node(s2).key
        val inFrame = store.memberRows(src, s2)
        val holdsL =
          if (s2 == l) Some(inFrame) // the member's own primary label
          else store.memberships.get((l, s2))
            .map(m2 => GraphStore.memberRows(inFrame, key2, m2))
        holdsL.map(_.select(GraphStore.memberKey(key2, srcKeyType).as("__mk"))
          .na.drop().distinct())
      }
      direct ++ chained
    }

    /** Cheap existence test matching [[memberKeyFrames]] — the lift gate. */
    def memberFramesExist(src: String, l: String): Boolean =
      l != src && (store.memberships.contains((l, src)) ||
        store.memberships.keysIterator.exists { case (t, s2) =>
          t == src && s2 != src &&
            (s2 == l || store.memberships.contains((l, s2)))
        })

    /** (src,dst) pairs reachable in lo..hi hops over a TYPE GROUP — bounded
      * var-length closure as an incremental frontier expansion (one row per
      * path, Cypher semantics). Paths are RELATIONSHIP-UNIQUE (trail
      * semantics, Neo4j's rule for var-length and QPP matching): a path
      * never traverses the same relationship twice, so each frontier row
      * carries its visited-edge-identity array and every expansion
      * anti-filters against it (edge identity = (type, src, dst), matching
      * [[uniqueWalkClosure]]). Free walks would differ on any graph with a
      * 2-cycle (extra rows / size(r) / reduce results); PropertySpec pins
      * agreement with a relationship-unique brute-force DFS and q112's
      * oracle pins it against a visited-set-tracking recursive CTE.
      * With several types (`[:A|B*1..n]`) each STEP may
      * take any type — the expansion runs over the union of the edge sets,
      * Neo4j's mixed-type trail semantics, not a per-type union of
      * homogeneous trails. A heterogeneous group (src label ≠ dst label)
      * cannot compose steps, so its reachable lengths cap at 1
      * ([[enumerate]] drops interpretations whose lower bound needs more).
      *
      * Seed restriction (r7, same idea as shortestPath's source seeding):
      * when the pattern's anchor endpoint is already bound, only paths
      * starting at the bound keys can survive the attach join — so the
      * chains start from the seed-incident edges instead of the whole edge
      * frame. `seedOnDst` orients the enumeration outward from the anchor
      * (edges flipped when the anchor is the schema-dst side; output
      * columns swapped back so callers always see schema orientation).
      * At scale this is the difference between enumerating a bounded
      * neighborhood and enumerating the whole graph's closure.
      */
    /** Edge frame for `et` with a hop's inline property filters applied —
      * var-length / shortestPath property semantics (`[:R*1..3 {p: v}]`):
      * EVERY traversed hop must satisfy the props, so the walk machinery
      * simply sees only the satisfying edges. A member type that lacks the
      * property contributes no edges (Cypher: a missing property reads
      * null, and `null = v` is never true).
      */
    def filteredEdges(et: EdgeType, props: Seq[(String, Expr)]): DataFrame = {
      val raw = store.edges(et.label)
      props.foldLeft(raw) { case (d, (p, v)) =>
        if (et.properties.contains(p)) d.filter(col(p) === literal(v))
        else d.filter(lit(false))
      }
    }

    def closure(ets: Seq[EdgeType], lo: Int, hi: Int,
        seeds: Option[DataFrame] = None, seedOnDst: Boolean = false,
        props: Seq[(String, Expr)] = Nil, withRels: Boolean = false): DataFrame = {
      if (hi == Parser.Unbounded) {
        // a heterogeneous group cannot compose steps (dst label never
        // matches the next src label), so the open bound degenerates to
        // the single-hop closure — same cap as the bounded branch below
        if (ets.exists(e => e.src != e.dst))
          return closure(ets, lo, math.max(lo, 1), seeds, seedOnDst, props, withRels)
        return uniqueWalkClosure(ets, lo, seeds, seedOnDst, props)
      }
      if (lo < 1 || hi < lo || hi > Parser.MaxVarLength)
        throw CypherException(s"var-length bounds out of range: *$lo..$hi")
      val effHi = if (ets.exists(e => e.src != e.dst)) 1 else hi
      if (lo > effHi)
        throw CypherException(
          s"var-length over ${ets.map(_.label).mkString("|")} needs " +
            s"${ets.head.src}=${ets.head.dst} for paths longer than 1")
      // group-variable support: each edge row carries a relationship
      // struct (type + endpoint keys + the member types' property
      // superset) that the chain fold accumulates into a pattern-order
      // array. One struct type must fit every member type: property and
      // key fields cast to string when the member frames disagree.
      val relFields: Seq[(String, org.apache.spark.sql.types.DataType)] =
        if (!withRels) Nil
        else {
          // the struct reserves `type`/`src`/`dst` for the relationship
          // identity — an edge PROPERTY with one of those names would
          // produce duplicate struct fields, making `x.src`/`type(x)`
          // ambiguous or silently wrong; reject loudly (r10 ADVICE)
          ets.foreach { et =>
            val clash = et.properties.filter(Set("type", "src", "dst"))
            if (clash.nonEmpty) throw CypherException(
              s"relationship type ${et.label} stores propert" +
                s"${if (clash.sizeIs > 1) "ies" else "y"} " +
                s"${clash.mkString(", ")} — those names collide with the " +
                "group-variable struct's reserved type/src/dst fields; " +
                "rename the property to bind this pattern's relationship list")
          }
          ets.flatMap { et =>
            val sch = store.edges(et.label).schema
            et.properties.map(p => p -> sch(p).dataType)
          }.groupBy(_._1).toSeq.sortBy(_._1).map { case (p, ts) =>
            p -> (if (ts.map(_._2).distinct.sizeIs == 1) ts.head._2 else StringType)
          }
        }
      val mixedKeys = withRels && ets.sizeIs > 1 && heteroMixedKeys(ets)
      def relStruct(et: EdgeType): Column = {
        def k(c: Column): Column = if (mixedKeys) c.cast(StringType) else c
        struct(Seq(lit(et.label).as("type"),
          k(col(et.keyS)).as("src"), k(col(et.keyT)).as("dst")) ++
          relFields.map { case (p, dt) =>
            (if (et.properties.contains(p)) col(p).cast(dt)
             else lit(null).cast(dt)).as(p)
          }: _*)
      }
      // each edge row carries its identity (schema orientation, keys
      // string-cast so one struct type fits every member type — same
      // contract as uniqueWalkClosure) for the per-path visited set.
      // Identity is per relationship INSTANCE, like Neo4j: when a member
      // type may hold parallel (src, dst) duplicates (pairsUnique=false —
      // write-path appends), each row gains a per-pair row_number
      // discriminator so a trail can traverse BOTH parallel edges; the
      // window shuffle is skipped entirely on pair-deduped builder stores.
      val needDisc = ets.exists(e => !e.pairsUnique)
      val e0 = ets.map { et =>
        val disc: Column = if (needDisc) discriminator(et) else lit(0)
        val cols = Seq(col(et.keyS).as("__cs"), col(et.keyT).as("__cd"),
          struct(lit(et.label).as("__t"),
            col(et.keyS).cast(StringType).as("__es"),
            col(et.keyT).cast(StringType).as("__ed"),
            disc.as("__n")).as("__eid")) ++
          (if (withRels) Seq(relStruct(et).as("__rel")) else Nil)
        filteredEdges(et, props).select(cols: _*)
      }.reduce(_.unionByName(_))
      val e = if (seedOnDst)
        e0.withColumn("__tmp", col("__cs")).withColumn("__cs", col("__cd"))
          .withColumn("__cd", col("__tmp")).drop("__tmp")
      else e0
      val first0 = seeds.fold(e)(s => e.join(s, col("__cs") === col("__seed"), "left_semi"))
      // incremental frontier: length n extends length n-1 (shared join
      // prefix across the emitted lengths, instead of rebuilding each
      // chain from scratch); the visited array bounds at effHi entries
      var cur = first0.select(Seq(col("__cs"), col("__cd"),
        array(col("__eid")).as("__seen")) ++
        (if (withRels) Seq(array(col("__rel")).as("__rels")) else Nil): _*)
      val step = e.select(Seq(col("__cs").as("__m"), col("__cd").as("__cd2"),
        col("__eid").as("__eid2")) ++
        (if (withRels) Seq(col("__rel").as("__rel2")) else Nil): _*)
      val frames = Seq.newBuilder[DataFrame]
      if (lo <= 1) frames += cur
      for (n <- 2 to effHi) {
        cur = cur.join(step, col("__cd") === col("__m") &&
            !array_contains(col("__seen"), col("__eid2")))
          .select(Seq(col("__cs"), col("__cd2").as("__cd"),
            concat(col("__seen"), array(col("__eid2"))).as("__seen")) ++
            (if (withRels)
              Seq(concat(col("__rels"), array(col("__rel2"))).as("__rels"))
            else Nil): _*)
        if (n >= lo) frames += cur
      }
      val out = frames.result().reduce(_.unionByName(_)).drop("__seen")
      if (seedOnDst) {
        // flip back to schema orientation; the accumulated hop order ran
        // anchor-outward (reverse pattern order), so the list reverses too
        val cols = Seq(col("__cd").as("__cs"), col("__cs").as("__cd")) ++
          (if (withRels) Seq(reverse(col("__rels")).as("__rels")) else Nil)
        out.select(cols: _*)
      } else out
    }

    /** One row per RELATIONSHIP-UNIQUE path of length >= `lo` over the
      * type group — Neo4j's semantics for an open-bound plain pattern
      * (`[:R*]` outside shortestPath): a path never traverses the same
      * relationship twice, so length is bounded by the edge count and the
      * level-synchronous expansion terminates on frontier exhaustion even
      * on cyclic graphs. Each frontier row carries its visited-edge set
      * (edge identity = (type, src, dst) — parallel duplicates within one
      * type count once) and each expansion anti-filters against it with a
      * codegen'd `array_contains`. Per-level localCheckpoint keeps the
      * loop's plan flat, exactly like the BFS loops.
      *
      * This is inherently ENUMERATIVE: on a cyclic graph the path count
      * can be exponential in cycle overlap (true in Neo4j as well — the
      * semantics, not the implementation, is the cost). The cumulative
      * path count is therefore checked against a conf-gated budget
      * ([[UniqueWalkMaxPathsKey]], default 10M) and the query FAILS LOUDLY
      * when exceeded, pointing at the bounded form — never a silent
      * truncation. See SCALING.md.
      */
    def uniqueWalkClosure(ets: Seq[EdgeType], lo: Int,
        seeds: Option[DataFrame] = None, seedOnDst: Boolean = false,
        props: Seq[(String, Expr)] = Nil): DataFrame = {
      if (lo < 1)
        throw CypherException(s"var-length bounds out of range: *$lo..")
      // per-instance identity: see the bounded closure's discriminator note
      val needDisc = ets.exists(e => !e.pairsUnique)
      val e0 = ets.zipWithIndex.map { case (et, ti) =>
        val disc: Column = if (needDisc) discriminator(et) else lit(0)
        filteredEdges(et, props).select(
          col(et.keyS).as("__cs"), col(et.keyT).as("__cd"),
          // one struct type must fit every member type's keys
          struct(lit(ti).as("__t"), col(et.keyS).cast(StringType).as("__es"),
            col(et.keyT).cast(StringType).as("__ed"),
            disc.as("__n")).as("__eid"))
      }.reduce(_.unionByName(_))
      // enumerate outward from the anchor side ([[closure]]'s orientation
      // contract); a bound anchor seed-restricts the FIRST frontier — all
      // later expansions traverse the full edge set
      val eRaw = if (seedOnDst)
        e0.select(col("__cd").as("__cs"), col("__cs").as("__cd"), col("__eid"))
      else e0
      val maxPaths = eRaw.sparkSession.conf.getOption(UniqueWalkMaxPathsKey)
        .map(_.toLong).getOrElse(UniqueWalkMaxPaths)
      // Adaptive physical strategy (same philosophy as [[distDf]]'s
      // localDist gate): a dimension-sized edge set runs the whole
      // enumeration inside ONE task — the distributed loop pays ~2 Spark
      // jobs per level and an open bound can run many levels. The budget
      // applies identically; the eager checkpoint surfaces the budget
      // error at build time like the distributed loop's per-level counts.
      val edgeCap = eRaw.sparkSession.conf
        .getOption(LocalPathEdgeCapKey).map(_.toLong).getOrElse(LocalPathEdgeCap)
      // e is the union of the FULL member-type frames, so the store's
      // memoized per-type counts answer the gate exactly — no O(edges)
      // sizing scan per query (round-7 verdict "what's wrong" #3)
      if (ets.map(et => store.edgeCount(et.label)).sum <= edgeCap) {
        // no persist here (r19): the single-task kernel consumes the edge
        // frame exactly ONCE — persisting it only added a block-manager
        // write that was immediately unpersisted again
        val res0 = try {
          localUniqueWalk(eRaw, seeds, lo, maxPaths).localCheckpoint(true)
        } catch {
          case t: Throwable =>
            // surface the budget error as the typed CypherException, not
            // Spark's task-failure wrapper
            var c: Throwable = t
            while (c != null && !c.isInstanceOf[CypherException]) c = c.getCause
            throw (if (c != null) c else t)
        }
        return (if (seedOnDst)
          res0.select(col("__cd").as("__cs"), col("__cs").as("__cd"))
        else res0)
      }
      // distributed loop: every level traverses the full edge set, so the
      // persisted copy IS reused here
      val e = eRaw.persist(StorageLevel.MEMORY_AND_DISK)
      val e2 = e.select(col("__cs").as("__m"), col("__cd").as("__cd2"),
        col("__eid").as("__eid2"))
      // try/finally, not a post-loop unpersist: the budget-exceeded throw
      // inside the loop must not leak the persisted doubled edge frame for
      // the rest of the session (every checkpointed frame below is already
      // materialized, so nothing recomputes against the unpersisted e)
      try {
        val ck = new graft.graph.GraphAnalytics.IterCheckpointer(e.sparkSession)
        var frontier = ck.cut(
          seeds.fold(e)(s => e.join(s, col("__cs") === col("__seed"), "left_semi"))
            .select(col("__cs"), col("__cd"), array(col("__eid")).as("__seen")))
        val empty = frontier.select(col("__cs"), col("__cd")).limit(0)
        var paths = frontier.count()
        var acc = if (lo <= 1) frontier.select("__cs", "__cd") else null
        var len = 1
        var done = paths == 0
        while (!done) {
          val next = ck.cut(frontier.join(e2, col("__cd") === col("__m") &&
              !array_contains(col("__seen"), col("__eid2")))
            .select(col("__cs"), col("__cd2").as("__cd"),
              concat(col("__seen"), array(col("__eid2"))).as("__seen")))
          val n = next.count()
          len += 1
          if (n == 0) done = true
          else {
            paths += n
            if (paths > maxPaths)
              throw CypherException(
                s"open-bound var-length enumerated more than $maxPaths " +
                  s"relationship-unique paths by length $len — bound the " +
                  s"pattern (*1..n) or raise $UniqueWalkMaxPathsKey")
            if (len >= lo) {
              val rows = next.select("__cs", "__cd")
              acc = if (acc == null) rows else acc.unionByName(rows)
            }
            frontier = next
          }
        }
        val res = if (acc == null) empty else acc
        if (seedOnDst) res.select(col("__cd").as("__cs"), col("__cs").as("__cd")) else res
      } finally e.unpersist(false)
    }


    /** Bind all patterns into one DataFrame. `seedLabels` carries label
      * bindings from an enclosing pattern (OPTIONAL MATCH sub-assembly);
      * `initial` continues an existing frame (MATCH after WITH) — its
      * seeded variables are already bound, their columns in the frame.
      *
      * Ambiguous patterns (untyped hops / type disjunctions whose fitting
      * types imply different endpoint labels) enumerate every consistent
      * interpretation, compile each, and union the branches — Neo4j
      * semantics: a pattern matches against every fitting relationship
      * type. Same-endpoint-label type groups stay a single branch (the
      * edge frames union inside the hop instead).
      */
    def assemble(patterns: Seq[PathPat],
        seedLabels: Map[String, String] = Map.empty,
        initial: Option[(DataFrame, Ctx)] = None): (DataFrame, Ctx) = {
      initial.foreach { case (_, c) =>
        val patVars = patterns.flatMap(p =>
          p.head.variable.toSeq ++ p.hops.flatMap(_._2.variable)).toSet
        patVars.find(c.multi.contains).foreach(v => throw CypherException(
          s"cannot extend a pattern from $v: it matches multiple labels " +
            s"(${c.multi(v).mkString(", ")}) — constrain it with a label first"))
      }
      val seed = seedLabels ++ initial.map(_._2.labels).getOrElse(Map.empty)
      val assignments = enumerate(patterns, seed)
      // Disjunction exclusions must reason over the alternatives that
      // SURVIVED enumeration (r14): an alternative dropped as
      // unsatisfiable (no relationship fits it) matches nothing, so its
      // members must stay eligible in the surviving branches — the static
      // alternative list would exclude a node SET into a dropped-and-a-
      // surviving alternative from BOTH.
      val survivors: Map[String, Set[String]] = assignments
        .flatMap(_._1.toSeq).groupBy(_._1)
        .map { case (v, ls) => v -> ls.map(_._2).toSet }
      // a branch's forked head-disjunction labels seed its assembleOne so
      // bindHead resolves `(n:A|B)` heads to the branch's chosen label
      if (assignments.sizeIs == 1)
        assembleOne(patterns, seedLabels ++ assignments.head._1, initial,
          assignments.head._2, survivors)
      else
        mergeBranches(assignments.map { case (fk, a) =>
          assembleOne(patterns, seedLabels ++ fk, initial, a, survivors)
        })
    }

    /** Union per-interpretation branches into one frame + context:
      * `unionByName(allowMissingColumns)` null-pads the property columns a
      * branch's label lacks; variables whose label (or relationship type)
      * diverges across branches get a per-row `__label__v` / `__type__r`
      * column and move from `labels`/`rels` to `multi`/`multiRels`.
      */
    def mergeBranches(built: Seq[(DataFrame, Ctx)]): (DataFrame, Ctx) = {
      val ctxs = built.map(_._2)
      val h = ctxs.head
      val allVars = ctxs.flatMap(_.labels.keys).distinct
      val agree = allVars.filter(v =>
        ctxs.forall(c => c.labels.get(v) == h.labels.get(v))).toSet
      val diverged = allVars.filterNot(agree)
      val allRels = ctxs.flatMap(c => c.rels.keys ++ c.multiRels).distinct
      val relAgree = allRels.filter(r =>
        ctxs.forall(c => c.rels.get(r).map(_.label) == h.rels.get(r).map(_.label)
          && c.rels.contains(r))).toSet
      val relDiverged = allRels.filterNot(relAgree)
      val aligned = built.map { case (df, c) =>
        var d = df
        diverged.foreach { v =>
          if (!d.columns.contains(labelColOf(v)))
            d = d.withColumn(labelColOf(v), lit(c.labels(v)))
        }
        relDiverged.foreach { r =>
          if (!d.columns.contains(typeColOf(r)))
            // a branch where r traversed a mixed var-length group has no
            // single type: its rows read type(r) as null
            d = d.withColumn(typeColOf(r),
              c.rels.get(r).map(i => lit(i.label)).getOrElse(lit(null).cast(StringType)))
          // startNode/endNode of a diverged relationship: orientation can
          // flip per branch, so the endpoint is a per-row tagged id
          // ([[multiNodeId]] rendering). Pure projections over columns
          // already in the branch frame — pruned when the query never
          // reads them.
          def tagged(v: String): Column = concat_ws(":", lit(c.labels(v)),
            col(s"${v}__${store.schema.node(c.labels(v)).key}").cast(StringType))
          val ends = c.rels.get(r).map(i => (i.srcVar, i.dstVar))
            .orElse(c.multiRelEnds.get(r))
          if (!d.columns.contains(startColOf(r)))
            d = d.withColumn(startColOf(r),
              ends.map(e => tagged(e._1)).getOrElse(lit(null).cast(StringType)))
          if (!d.columns.contains(endColOf(r)))
            d = d.withColumn(endColOf(r),
              ends.map(e => tagged(e._2)).getOrElse(lit(null).cast(StringType)))
        }
        d
      }
      val df = aligned.reduce(_.unionByName(_, allowMissingColumns = true))
      (df, h.copy(
        labels = h.labels.view.filterKeys(agree).toMap,
        rels = h.rels.view.filterKeys(relAgree).toMap,
        multi = h.multi ++
          diverged.map(v => v -> ctxs.map(_.labels(v)).distinct).toMap,
        multiRels = h.multiRels ++ relDiverged ++ ctxs.flatMap(_.multiRels),
        // endpoint-variable resolution only survives when every branch
        // agrees on it; diverged rels read the materialized columns
        multiRelEnds = h.multiRelEnds.filter { case (r, e) =>
          !relDiverged.contains(r) &&
            ctxs.forall(_.multiRelEnds.get(r).contains(e)) }))
    }

    /** [[assemble]] under ONE type interpretation (`assignment` holds the
      * per-hop choices in pattern order).
      */
    def assembleOne(patterns: Seq[PathPat],
        seedLabels: Map[String, String],
        initial: Option[(DataFrame, Ctx)],
        assignment: Seq[HopChoice],
        /** per forked variable, the alternatives that produced a surviving
          * interpretation — the alts list the disjunction exclusions
          * reason over (see [[assemble]]); a variable absent here keeps
          * its full written list
          */
        survivors: Map[String, Set[String]] = Map.empty): (DataFrame, Ctx) = {
      def liveAlts(variable: String, pat: NodePat): Seq[String] =
        survivors.get(variable)
          .map(s => pat.alts.filter(s.contains)).getOrElse(pat.alts)
      val labels = collection.mutable.Map[String, String](seedLabels.toSeq: _*)
      val bound = collection.mutable.Set[String]()
      val relVars = collection.mutable.Map[String, RelInfo]()
      val plains = initial.map(_._2.plains).getOrElse(Set.empty[String])
      val pathVars = initial.map(_._2.paths).getOrElse(Set.empty[String])
      val pathRelVars = initial.map(_._2.pathRels).getOrElse(Map.empty[String, String])
      initial.foreach { case (_, c) =>
        labels ++= c.labels
        bound ++= c.labels.keys
        relVars ++= c.rels
      }
      var varCounter = 0
      def freshVar(prefix: String): String = { varCounter += 1; s"__$prefix$varCounter" }
      var df: DataFrame = initial.map(_._1).orNull

      def keyColName(v: String): String =
        s"${v}__${store.schema.node(labels(v)).key}"

      def propFilters(variable: String, props: Seq[(String, Expr)]): Unit =
        props.foreach { case (k, v) =>
          df = df.filter(col(s"${variable}__$k") === literal(v))
        }

      /** A re-mention whose pattern label disagrees with the variable's
        * resolved label can never match — nodes hold exactly one label, so
        * Neo4j-equivalently the row set is EMPTY, not the pattern-label
        * silently ignored (`MATCH (n:Customer) MATCH (n:Order)` returns no
        * rows, not every customer). Same rule for a disjunction that
        * excludes the resolved label.
        */
      def labelConflictFilter(variable: String, pat: NodePat): Unit = {
        val known = labels(variable)
        val conflict = pat.label.exists(_ != known) ||
          (pat.alts.nonEmpty && !pat.alts.contains(known))
        if (conflict) df = df.filter(lit(false))
      }

      /** Bind a node standalone (head of a path, or shared var re-check). */
      def bindHead(variable: String, pat: NodePat): Unit = {
        if (!bound(variable)) {
          val label = labels.getOrElse(variable,
            pat.label.getOrElse(throw CypherException(
              s"cannot infer label for ($variable) — annotate it or use a typed relationship")))
          labels(variable) = label
          val (sibs, keyEx) = disjunctionExcludes(liveAlts(variable, pat), label)
          val nd = nodeDf(variable, label, sibs, keyEx)
          df = if (df == null) nd else df.crossJoin(nd)
          bound += variable
        }
        labelConflictFilter(variable, pat)
        propFilters(variable, pat.props)
      }

      /** Bind a node by joining on an existing key column in `df`. */
      def bindJoined(variable: String, pat: NodePat, joinKey: String): Unit = {
        val label = labels.getOrElse(variable,
          pat.label.getOrElse(throw CypherException(s"cannot infer label for ($variable)")))
        labels(variable) = label
        val (sibs, keyEx) = disjunctionExcludes(liveAlts(variable, pat), label)
        df = df.join(nodeDf(variable, label, sibs, keyEx),
          col(joinKey) === col(s"${variable}__${store.schema.node(label).key}"))
        bound += variable
        labelConflictFilter(variable, pat)
        propFilters(variable, pat.props)
      }

      val assignIt = assignment.iterator
      val multiRelVars = collection.mutable.Set[String]()
      val multiRelEndVars = collection.mutable.Map[String, (String, String)]()
      val relListVars = collection.mutable.Set[String]()
      // Neo4j forbids one relationship variable in two pattern positions
      // (within or across MATCH clauses); without the check the second
      // mention's prefixed columns collide with the first's — an opaque
      // ambiguous-reference error at best, silent shadowing at worst
      val seenRelVars = collection.mutable.Set[String]()
      initial.foreach { case (_, c) =>
        seenRelVars ++= c.rels.keys ++ c.relLists ++ c.multiRels
      }
      patterns.foreach { path =>
        val headVar = path.head.variable.getOrElse(freshVar("n"))
        // apply the chain's assigned types first so labels are bound
        // before any joining (mirrors [[enumerate]]'s propagation)
        var prevVar = headVar
        val resolved = path.hops.map { case (rel, node) =>
          val nodeVar = node.variable.getOrElse(freshVar("n"))
          val choice = assignIt.next()
          val et0 = choice.edges.head
          if (!choice.flipped) { labels(prevVar) = et0.src; labels(nodeVar) = et0.dst }
          else { labels(prevVar) = et0.dst; labels(nodeVar) = et0.src }
          val relVar = rel.variable.getOrElse(freshVar("r"))
          if (rel.variable.isDefined && !seenRelVars.add(relVar))
            throw CypherException(
              s"cannot use the same relationship variable ($relVar) for " +
                "multiple patterns — bind a fresh variable per relationship")
          val relList = rel.variable.isDefined && rel.varLength.isDefined
          val hop =
            if (!choice.flipped)
              ResolvedHop(choice.edges, relVar, prevVar, nodeVar, rel.varLength,
                rel.props, relList)
            else
              ResolvedHop(choice.edges, relVar, nodeVar, prevVar, rel.varLength,
                rel.props, relList)
          if (relList) () // list-bound in the var-length branch below
          else if (choice.edges.sizeIs == 1)
            relVars(relVar) = RelInfo(et0.label, hop.srcVar, hop.dstVar)
          else if (rel.varLength.isEmpty) {
            multiRelVars += relVar // per-row type lands in typeColOf(relVar)
            // an in-hop group shares one label pair, so the endpoint
            // variables are fixed — startNode/endNode resolve to them
            multiRelEndVars(relVar) = (hop.srcVar, hop.dstVar)
          }
          prevVar = nodeVar
          (hop, node, nodeVar)
        }

        // ---- endpoint-join elision: an endpoint the query never reads
        // (elision-safe or anonymous, no inline props) whose traversed edge
        // types are ALL endpoint-validated needs no node-store join — the
        // edge key column IS the binding (validation guarantees the join
        // would match exactly once per row: every key resolves, node stores
        // are key-unique by builder/writer construction). At scale that
        // join is a shuffle of the edge store against a node store, spent
        // validating what the [[GraphStore.validatedEdges]] flag already
        // guarantees.
        def elidableNode(pat: NodePat, v: String): Boolean =
          pat.props.isEmpty && elidable.exists(s => pat.variable.isEmpty || s(v))
        def hopValidated(h: ResolvedHop): Boolean =
          h.edges.forall(et => store.validatedEdges.contains(et.label))
        def bindElided(variable: String, keyCol: String): Unit = {
          df = df.withColumnRenamed(keyCol, keyColName(variable))
          bound += variable
        }

        // head elision additionally requires the first hop's far end to be
        // UNBOUND — otherwise that end anchors the hop and the head becomes
        // the "other" side, whose bind is paired with the far end's node
        // pattern (props/label), not the head's
        val headElided = path.hops.nonEmpty && !bound(headVar) &&
          !bound(resolved.head._3) &&
          elidableNode(path.head, headVar) && hopValidated(resolved.head._1)
        if (!headElided) bindHead(headVar, path.head)

        resolved.foreach { case (hop, nodePat, nodeVar) =>
          // the hop end already in `df` is the anchor; the other joins in.
          // With an elided head NEITHER may be bound yet: the edge frame
          // itself then provides the anchor binding (cross-joined, or the
          // starting frame when this is the first pattern).
          val anchorVar =
            if (bound(hop.srcVar)) hop.srcVar
            else if (bound(hop.dstVar)) hop.dstVar
            else if (hop.srcVar != nodeVar) hop.srcVar
            else hop.dstVar
          val otherVar = if (anchorVar == hop.srcVar) hop.dstVar else hop.srcVar
          if (!bound(anchorVar) && !headElided)
            throw CypherException(s"pattern hop with no bound endpoint: $anchorVar")
          def attach(frame: DataFrame, anchorSide: String): Unit =
            if (bound(anchorVar))
              df = df.join(frame, col(keyColName(anchorVar)) === col(anchorSide))
            else {
              val withKey = frame.withColumnRenamed(anchorSide, keyColName(anchorVar))
              bound += anchorVar
              df = if (df == null) withKey else df.crossJoin(withKey)
            }

          hop.varLength match {
            case Some((lo0, hi)) =>
              // a bound anchor hands its distinct keys to the closure so
              // the path enumeration starts at the anchored neighborhood
              // instead of every edge (the attach join would discard the
              // rest anyway — shortestPath's seeding argument).
              // hop.relProps filter EVERY traversed edge ([[filteredEdges]])
              val seedsOpt = if (bound(anchorVar))
                Some(df.select(col(keyColName(anchorVar)).as("__seed")).distinct())
              else None
              if (hop.relList && hi == Parser.Unbounded)
                throw CypherException(
                  s"a list-bound relationship variable (${hop.relVar}) on an " +
                    "open-bound pattern enumerates unbounded per-path state — " +
                    s"bound the pattern (*$lo0..n or {$lo0,n})")
              // zero-length lower bound (`*0..n`, `{0,n}`, `*`): a
              // length-0 path binds BOTH endpoints to one node — an
              // identity frame (node keyed to itself, EMPTY relationship
              // list for group variables) unioned under the length>=1
              // closure. Under the one-label-per-node store model only a
              // homogeneous group (src label = dst label) can satisfy it;
              // a heterogeneous group's endpoints can never be one node,
              // so its zero-length contribution is empty, not an error.
              // Inline rel props don't constrain it: there are no
              // traversed relationships to filter (Neo4j semantics).
              val lo = math.max(lo0, 1)
              val homo = hop.edges.forall(e => e.src == e.dst)
              val zeroId: Option[DataFrame] =
                if (lo0 > 0 || !homo) None
                else {
                  val label = hop.edges.head.src
                  val key = store.schema.node(label).key
                  val nodesDf = labelFrame(label).select(col(key).as("__cs"))
                  val seeded = seedsOpt.fold(nodesDf)(s =>
                    nodesDf.join(s, col("__cs") === col("__seed"), "left_semi"))
                  Some(seeded.select(col("__cs"), col("__cs").as("__cd")))
                }
              if (hi == 0 && zeroId.isEmpty)
                throw CypherException(
                  "a zero-length-only pattern (*0..0 / {0}) over a " +
                    "heterogeneous relationship can never match — its " +
                    "endpoints would need to be one node of both labels")
              val nonzero: Option[DataFrame] =
                if (hi == 0) None
                else Some(closure(hop.edges, lo, hi, seedsOpt,
                  seedOnDst = anchorVar != hop.srcVar, props = hop.relProps,
                  withRels = hop.relList))
              val cl = (zeroId, nonzero) match {
                case (None, Some(nz)) => nz
                case (Some(id), nzOpt) =>
                  val idTyped = if (!hop.relList) id
                  else {
                    // empty group-variable list, typed to the closure's
                    // element struct (schema-only peek — never executed)
                    val relsType = nzOpt.getOrElse(
                      closure(hop.edges, 1, 1, None, seedOnDst = false,
                        props = hop.relProps, withRels = true))
                      .schema("__rels").dataType
                    id.withColumn("__rels", array().cast(relsType))
                  }
                  nzOpt.fold(idTyped)(nz => idTyped.unionByName(nz))
                case (None, None) => throw CypherException(
                  "unreachable: empty var-length interpretation")
              }
              val (anchorSide, otherSide) =
                if (anchorVar == hop.srcVar) ("__cs", "__cd") else ("__cd", "__cs")
              attach(cl, anchorSide)
              if (hop.relList) {
                // pattern-order list of per-hop relationship structs,
                // bound under the user's variable name as a plain value
                df = df.withColumnRenamed("__rels", hop.relVar)
                relListVars += hop.relVar
              }
              if (bound(otherVar)) {
                df = df.filter(col(otherSide) === col(keyColName(otherVar)))
                // a re-mention is never elidable (≥2 pattern occurrences),
                // so its full node columns are present: its label must
                // agree and its inline props filter, like any mention
                labelConflictFilter(otherVar, nodePat)
                propFilters(otherVar, nodePat.props)
              }
              else if (elidableNode(nodePat, otherVar) && hopValidated(hop))
                bindElided(otherVar, otherSide)
              else bindJoined(otherVar, nodePat, otherSide)
              df = df.drop("__cs", "__cd")
            case None =>
              val srcName = s"${hop.relVar}__srckey"
              val dstName = s"${hop.relVar}__dstkey"
              // a type group unions the per-type edge frames (properties
              // null-padded where a type lacks one); >1 type adds the
              // per-row type tag `type(r)` reads
              val ed = hop.edges.map { et =>
                val renamed = et.properties.foldLeft(
                  store.edges(et.label).withColumnRenamed(et.keyS, srcName)
                    .withColumnRenamed(et.keyT, dstName)
                )((d, p) => d.withColumnRenamed(p, s"${hop.relVar}__$p"))
                if (hop.edges.sizeIs > 1)
                  renamed.withColumn(typeColOf(hop.relVar), lit(et.label))
                else renamed
              }.reduce(_.unionByName(_, allowMissingColumns = true))
              val (anchorSide, otherSide) =
                if (anchorVar == hop.srcVar) (srcName, dstName) else (dstName, srcName)
              attach(ed, anchorSide)
              hop.relProps.foreach { case (k, v) =>
                df = df.filter(col(s"${hop.relVar}__$k") === literal(v))
              }
              if (bound(otherVar)) {
                df = df.filter(col(otherSide) === col(keyColName(otherVar)))
                // see the var-length branch: re-mentions keep full columns
                labelConflictFilter(otherVar, nodePat)
                propFilters(otherVar, nodePat.props)
              }
              else if (elidableNode(nodePat, otherVar) && hopValidated(hop))
                bindElided(otherVar, otherSide)
              else bindJoined(otherVar, nodePat, otherSide)
              df = df.drop(srcName, dstName)
          }
        }
      }

      (df, Ctx(labels.toMap, relVars.toMap, plains ++ relListVars, pathVars,
        pathRels = pathRelVars,
        pathRelSeqs = initial.map(_._2.pathRelSeqs).getOrElse(Set.empty),
        multi = initial.map(_._2.multi).getOrElse(Map.empty),
        multiRels = initial.map(_._2.multiRels).getOrElse(Set.empty) ++ multiRelVars,
        relLists = initial.map(_._2.relLists).getOrElse(Set.empty) ++ relListVars,
        multiRelEnds = initial.map(_._2.multiRelEnds).getOrElse(Map.empty) ++
          multiRelEndVars))
    }

}
