package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Graph mutation primitives — the DataFrame-native core behind the Cypher
  * write clauses (`CREATE` / `MERGE` / `SET` / `DELETE`), and the scale path
  * in their own right.
  *
  * The reference mutates Neo4j with driver-batched parameterized Cypher
  * (reference: final/inject_node.py:350-358, final/inject_relationship.py:
  * 636-644, with hand-rolled chunking/retry at inject_relationship.py:33-337).
  * Here every mutation is a declarative plan over the immutable store: an
  * upsert is one full-outer join on the merge keys, a merge-insert is one
  * anti join, a delete is one anti join — each a single shuffle on the key,
  * broadcastable when the incoming side is small. Nothing round-trips the
  * driver, so the same code path handles 25 rows or 25 billion.
  *
  * Determinism: duplicate merge keys inside one incoming batch collapse
  * last-wins via `max(struct(props))` — the same partition-independent rule
  * [[GraphBuilder.buildNodes]] uses (the reference's batch-arrival-order
  * dependence is a defect we fix, SURVEY.md §7.4.2).
  */
object GraphWriter {

  /** Null-pad `df` so it has every column in `cols`, in that order. */
  private def conform(df: DataFrame, cols: Seq[String]): DataFrame = {
    val padded = cols.foldLeft(df)((d, c) =>
      if (d.columns.contains(c)) d else d.withColumn(c, lit(null)))
    padded.select(cols.map(col): _*)
  }

  /** Deterministic last-wins dedup of `incoming` on `keys`. */
  private def dedupOn(incoming: DataFrame, keys: Seq[String]): DataFrame = {
    val others = incoming.columns.filterNot(keys.contains).toSeq
    if (others.isEmpty) incoming.dropDuplicates(keys)
    else
      incoming
        .groupBy(keys.map(col): _*)
        .agg(max(struct(others.map(col): _*)).as("__s"))
        .select(keys.map(col) ++ others.map(p => col(s"__s.$p").as(p)): _*)
  }

  /** Schema enforcement: a store column has ONE type. Each incoming column
    * `in(c)`, for `c` in `cols`, casts to the type of `existing`'s column
    * `c` where they differ — else a full-outer coalesce/when would silently
    * promote the whole store column (e.g. Long key + an all-null
    * String-inferred batch → String store).
    */
  private def castToStore(existing: DataFrame, incoming: DataFrame,
      cols: Seq[String], in: String => String): DataFrame = {
    val storeType = existing.schema.fields.map(f => f.name -> f.dataType).toMap
    cols.foldLeft(incoming) { (d, c) =>
      storeType.get(c).filter(_ != d.schema(in(c)).dataType)
        .fold(d)(t => d.withColumn(in(c), col(in(c)).cast(t)))
    }
  }

  /** The keyed upsert behind [[mergeNodes]] and [[upsertEdges]]: one
    * full-outer join of the store frame with the deduped incoming rows on
    * `matchCols` (null-safe). A matched row overwrites exactly the incoming
    * non-match columns (an explicit incoming null overwrites too); an
    * unmatched incoming row becomes a new row, null-padded on the store
    * columns it doesn't carry; a brand-new incoming column is added.
    */
  private def upsert(existing: DataFrame, incoming: DataFrame,
      matchCols: Seq[String]): DataFrame = {
    val dd = castToStore(existing, incoming, incoming.columns.toSeq, identity)
    val setCols = dd.columns.filterNot(matchCols.contains).toSeq
    val allCols = (existing.columns ++ dd.columns).distinct.toSeq
    val pfx = "__w_"
    val r = dd.columns.foldLeft(dd)((d, c) => d.withColumnRenamed(c, pfx + c))
      .withColumn("__w__m", lit(true))
    val cond = matchCols.map(k => col(k) <=> col(pfx + k)).reduce(_ && _)
    val out = allCols.map { c =>
      if (matchCols.contains(c)) coalesce(col(c), col(pfx + c)).as(c)
      else if (setCols.contains(c) && existing.columns.contains(c))
        when(col("__w__m"), col(pfx + c)).otherwise(col(c)).as(c)
      else if (setCols.contains(c)) col(pfx + c).as(c) // brand-new property
      else col(c).as(c) // untouched existing property (null for created)
    }
    existing.join(r, cond, "full_outer").select(out: _*)
  }

  /** MERGE-upsert `incoming` rows into the label's node store: rows whose
    * merge keys match an existing node overwrite exactly the incoming
    * columns (Cypher `SET n += {…}` — an explicit incoming null overwrites,
    * Neo4j's property-removal semantics); unmatched rows become new nodes,
    * null-padded on properties they don't carry. A label absent from the
    * schema is created, keyed by the single merge column.
    *
    * One shuffle: the full-outer join on the merge keys (the incoming side
    * broadcasts when small). Incoming batches are deduped last-wins first.
    */
  def mergeNodes(
      store: GraphStore,
      label: String,
      incoming: DataFrame,
      mergeKeys: Seq[String]): GraphStore = {
    require(mergeKeys.nonEmpty, "mergeNodes needs at least one merge key")
    mergeKeys.foreach(k => require(incoming.columns.contains(k), s"incoming lacks merge key $k"))
    // null merge keys never land in a store (the reference's injector drops
    // them the same way, final/inject_node.py:193-199 dropna-on-key)
    val dd = dedupOn(incoming.na.drop("any", mergeKeys), mergeKeys)
    store.nodes.get(label) match {
      case None =>
        if (mergeKeys.size != 1)
          throw new IllegalArgumentException(
            s"MERGE creating new label $label must use a single key property, got ${mergeKeys.mkString(", ")}")
        val key = mergeKeys.head
        store.withNode(NodeType(label, key,
          properties = dd.columns.filterNot(_ == key).toSeq, keyUnique = true), dd)
      case Some(existing) =>
        // data-integrity guard: merging an existing label on keys that do
        // not cover ITS key would leave created (unmatched) rows with a
        // null key — silently invisible to edge joins and id(). Refuse
        // rather than corrupt.
        val ntKey = store.schema.node(label).key
        if (!mergeKeys.contains(ntKey))
          throw new IllegalArgumentException(
            s"MERGE on existing label $label must include its key property '$ntKey' " +
              s"(got ${mergeKeys.mkString(", ")}): rows created by the merge would " +
              "carry a null key and could not participate in edge joins")
        val merged = upsert(existing, dd, mergeKeys)
        val nt0 = store.schema.node(label)
        store.withNode(nt0.copy(
          properties = merged.columns.toSeq.filterNot(_ == nt0.key),
          keyUnique = nt0.keyUnique && mergeKeys == Seq(nt0.key)), merged)
    }
  }

  /** CREATE — unconditional append of node rows (no matching, no dedup;
    * Neo4j `CREATE` semantics). Key uniqueness can no longer be assumed.
    */
  def createNodes(store: GraphStore, label: String, incoming: DataFrame): GraphStore =
    store.nodes.get(label) match {
      case None =>
        val key = incoming.columns.head
        store.withNode(NodeType(label, key,
          properties = incoming.columns.filterNot(_ == key).toSeq, keyUnique = false),
          incoming)
      case Some(existing) =>
        val allCols = (existing.columns ++ incoming.columns).distinct.toSeq
        val nt0 = store.schema.node(label)
        store.withNode(
          nt0.copy(properties = allCols.filterNot(_ == nt0.key), keyUnique = false),
          conform(existing, allCols).unionByName(conform(incoming, allCols)))
    }

  /** MERGE (create=false) or CREATE (create=true) edge rows. `incoming`
    * must carry the key columns named `keyS`/`keyT` plus any pattern
    * properties. MERGE matches on (src, dst, given properties) — null-safe,
    * one anti join — and appends only rows with no existing match; CREATE
    * appends unconditionally. An unknown label registers a new [[EdgeType]].
    */
  def mergeEdges(
      store: GraphStore,
      label: String,
      srcLabel: String,
      dstLabel: String,
      keyS: String,
      keyT: String,
      incoming: DataFrame,
      create: Boolean = false,
      /** Caller vouches every incoming (src, dst) resolves to stored nodes —
        * true for the Cypher write path (endpoints come from MATCHed or
        * just-CREATEd frames). The raw DataFrame API defaults false: edges
        * from an arbitrary frame drop the label from
        * [[GraphStore.validatedEdges]], and pattern queries keep their
        * endpoint joins.
        */
      endpointsValidated: Boolean = false): GraphStore = {
    val inProps = incoming.columns.filterNot(c => c == keyS || c == keyT).toSeq
    store.edges.get(label) match {
      case None =>
        store.withEdge(
          EdgeType(label, srcLabel, dstLabel, keyS, keyT, inProps, pairsUnique = false),
          if (create) incoming else incoming.dropDuplicates(), endpointsValidated)
      case Some(existing) =>
        val et0 = store.schema.edge(label)
        require(keyS == et0.keyS && keyT == et0.keyT,
          s"edge $label key columns are ${et0.keyS}/${et0.keyT}")
        val allCols = (existing.columns ++ incoming.columns).distinct.toSeq
        val ex = conform(existing, allCols)
        val in = conform(incoming, allCols)
        val added =
          if (create) in
          else {
            // MERGE matches the full written pattern: keys + given props
            val matchCols = Seq(keyS, keyT) ++ inProps
            val pfx = "__e_"
            val exKeys = ex.select(matchCols.map(c => col(c).as(pfx + c)): _*)
            val cond = matchCols.map(c => col(c) <=> col(pfx + c)).reduce(_ && _)
            in.dropDuplicates().join(exKeys, cond, "left_anti")
          }
        store.withEdge(et0.copy(
          properties = allCols.filterNot(c => c == keyS || c == keyT),
          pairsUnique = false), ex.unionByName(added), endpointsValidated)
    }
  }

  /** MERGE-with-SET upsert of edge rows — the store half of
    * `MERGE (a)-[r:T {…}]->(b) ON CREATE SET … ON MATCH SET … [SET r.p = …]`
    * (the idiomatic generated-Cypher edge-counter pattern the plain
    * [[mergeEdges]] anti-join cannot express; reference surface:
    * final/langraph_neo4j3.py:154-181 accepts arbitrary write Cypher).
    * Rows matching an existing edge on (keyS, keyT, mergeProps) overwrite
    * exactly the non-match incoming columns — the caller computes ON
    * MATCH values against the pre-merge store, so self-references
    * (`r.n = r.n + 1`) arrive already resolved; unmatched rows become new
    * edges carrying their ON CREATE values. Same full-outer shape and
    * type-cast guard as [[mergeNodes]]: ONE shuffle on the match columns,
    * broadcastable when the incoming side is small.
    */
  def upsertEdges(
      store: GraphStore,
      label: String,
      srcLabel: String,
      dstLabel: String,
      keyS: String,
      keyT: String,
      incoming: DataFrame,
      mergeProps: Seq[String],
      endpointsValidated: Boolean = false): GraphStore = {
    val matchCols = Seq(keyS, keyT) ++ mergeProps
    matchCols.foreach(k =>
      require(incoming.columns.contains(k), s"incoming lacks match column $k"))
    // a null endpoint key never lands in a store (MERGE on null throws in
    // Neo4j; here the row is dropped with the same rationale as mergeNodes)
    val dd = dedupOn(incoming.na.drop("any", Seq(keyS, keyT)), matchCols)
    store.edges.get(label) match {
      case None =>
        store.withEdge(EdgeType(label, srcLabel, dstLabel, keyS, keyT,
          properties = dd.columns.filterNot(c => c == keyS || c == keyT).toSeq,
          pairsUnique = false), dd, endpointsValidated)
      case Some(existing) =>
        val et0 = store.schema.edge(label)
        require(keyS == et0.keyS && keyT == et0.keyT,
          s"edge $label key columns are ${et0.keyS}/${et0.keyT}")
        val merged = upsert(existing, dd, matchCols)
        store.withEdge(et0.copy(
          properties = merged.columns.toSeq.filterNot(c => c == keyS || c == keyT),
          pairsUnique = false), merged, endpointsValidated)
    }
  }

  /** Standalone `SET r.p = …` on already-matched relationships. `pairs`
    * carries the edge identity (keyS/keyT plus any bound property columns,
    * CURRENT values — the same parallel-edge identity rule as
    * [[deleteEdges]]) and the new values as `__set_<p>` columns. Matched
    * store rows overwrite exactly the set columns; nothing else moves.
    * One left join; within-batch identity collisions collapse last-wins.
    */
  def updateEdges(store: GraphStore, label: String, pairs: DataFrame): GraphStore = {
    val et0 = store.schema.edge(label)
    val setCols = pairs.columns.filter(_.startsWith("__set_"))
      .map(_.stripPrefix("__set_")).toSeq
    val matchCols = pairs.columns.filterNot(_.startsWith("__set_")).toSeq
    require(matchCols.contains(et0.keyS) && matchCols.contains(et0.keyT),
      s"updateEdges pairs for $label need ${et0.keyS}/${et0.keyT} columns")
    val before = store.edges(label)
    val dd = castToStore(before, dedupOn(pairs, matchCols), setCols, c => s"__set_$c")
    val pfx = "__u_"
    val p = dd.columns.foldLeft(dd)((d, c) => d.withColumnRenamed(c, pfx + c))
      .withColumn("__u__m", lit(true))
    val cond = matchCols.map(c => col(c) <=> col(pfx + c)).reduce(_ && _)
    val allCols = (before.columns ++ setCols).distinct.toSeq
    val out = allCols.map { c =>
      if (setCols.contains(c) && before.columns.contains(c))
        when(col("__u__m"), col(s"${pfx}__set_$c")).otherwise(col(c)).as(c)
      else if (setCols.contains(c))
        when(col("__u__m"), col(s"${pfx}__set_$c")).otherwise(lit(null)).as(c)
      else col(c).as(c)
    }
    val merged = before.join(p, cond, "left_outer").select(out: _*)
    // property updates move no endpoint: the validated state stands
    store.withEdge(et0.copy(properties = (et0.properties ++ setCols).distinct), merged,
      endpointsValidated = true)
  }

  /** DELETE nodes whose key appears in `keys` (a one-column frame named by
    * the node key, in `label`'s keyspace). With `detach`, incident edges of
    * every type go too — Neo4j `DETACH DELETE`. Without it, edges are left
    * untouched (Neo4j raises on still-connected nodes; validating that here
    * would force an eager action per delete, so the check is the store
    * audit's job — [[GraphStore.describe]] surfaces dangling edges).
    *
    * Membership resolution (r13 ADVICE): when `label` holds membership-
    * derived rows, a matched key may belong to a member whose TRUE home is
    * another source store. Each inbound pair `(label, s)` resolves its own
    * removal set from the member rows' ORIGINAL source-keyspace keys (the
    * source keys whose target rendering matched), never by comparing
    * source-keyspace strings against target-keyspace strings — the old
    * blanket compare silently dropped unrelated memberships on key-string
    * collisions and left stale provenance when the cast changed the
    * rendering. Deleted members then die in their SOURCE store too — with
    * their incident edges under `detach` and their other provenance rows —
    * because Neo4j's DELETE removes the NODE, under every label it held
    * (previously the member was only demoted out of the target label).
    */
  def deleteNodes(
      store: GraphStore,
      label: String,
      keys: DataFrame,
      detach: Boolean): GraphStore = {
    import org.apache.spark.sql.types.StringType
    val nt = store.schema.node(label)
    val keyStrs = keys.select(col(nt.key).cast(StringType).as("__m_key"))
      .distinct()
    // per-label delete sets, each a one-column frame in its OWN keyspace:
    // the target label dies by the matched keys; each inbound membership
    // source by the member keys whose target rendering matched
    val tgtType = store.nodes(label).schema(nt.key).dataType
    val memberDel: Seq[(String, DataFrame)] = store.memberships.keys.toSeq
      .collect { case (t, s) if t == label && s != label => s }
      .sorted
      .map { s =>
        val sKey = store.schema.node(s).key
        s -> store.memberRows(label, s)
          .withColumn("__t_key", GraphStore.memberKey(sKey, tgtType))
          .join(keyStrs.withColumnRenamed("__m_key", "__t_key"),
            Seq("__t_key"), "left_semi")
          .select(col(sKey))
      }
    val perLabel: Seq[(String, DataFrame)] = (label -> keys) +: memberDel
    var nodes = store.nodes
    var edges = store.edges
    var validated = store.validatedEdges
    var memberships = store.memberships
    perLabel.foreach { case (lbl, dk0) =>
      val lnt = store.schema.node(lbl)
      val dk = dk0.select(col(lnt.key)).distinct()
      val before = nodes(lbl)
      nodes += lbl -> before.join(dk, Seq(lnt.key), "left_anti")
        .select(before.columns.map(col): _*) // a USING anti join reorders cols
      if (detach) store.schema.edges.foreach { et =>
        if (et.src == lbl || et.dst == lbl) {
          val b = edges(et.label)
          var d = b
          if (et.src == lbl)
            d = d.join(dk.withColumnRenamed(lnt.key, et.keyS),
              Seq(et.keyS), "left_anti")
          if (et.dst == lbl)
            d = d.join(dk.withColumnRenamed(lnt.key, et.keyT),
              Seq(et.keyT), "left_anti")
          edges += et.label -> d.select(b.columns.map(col): _*)
        }
      }
      // plain DELETE can leave dangling edges (endpoints gone, edges
      // kept) — incident labels lose the endpoint-validated invariant;
      // DETACH prunes incident edges with the nodes and keeps it
      else validated = validated -- store.schema.edgesFor(lbl).map(_.label)
      // provenance rows SOURCED from a label that lost nodes vanish with
      // them — an exact same-keyspace anti join per pair. (Rows TARGETING
      // a label need no pruning of their own: a (label, s) row whose
      // member died is sourced from s, so s's pass removes it.)
      val delStr = dk.select(col(lnt.key).cast(StringType).as("__m_key"))
        .distinct()
      memberships = memberships.map {
        case (p @ (_, s), m) if s == lbl =>
          // eager localCheckpoint, not persist: the replacement must be
          // MATERIALIZED from the parent's live blocks (a lazy persist left
          // the first evaluation recomputing the old lineage uncached —
          // r14 ADVICE), and the checkpoint TRUNCATES lineage, so chained
          // DELETEs through memberships never stack anti-join plans.
          // Bounded: membership frames are key lists, not fact tables.
          // The superseded frame is not force-released (ADVICE r15:
          // unpersist is a no-op on a checkpointed Dataset; force-dropping
          // would break retained pre-mutation stores) — GC + ContextCleaner
          // reclaim its blocks.
          val repl = m.join(delStr, Seq("__m_key"), "left_anti")
            .localCheckpoint(true)
          p -> repl
        case other => other
      }
    }
    store.copy(nodes = nodes, edges = edges,
      validatedEdges = validated, memberships = memberships)
  }

  /** DELETE edges matching `pairs` rows. `pairs` must carry the edge type's
    * keyS/keyT columns and MAY carry any subset of the edge's property
    * columns — every column present participates in the (null-safe) match,
    * so `MATCH ()-[r:T {p:1}]->() DELETE r` removes only the parallel
    * edges whose properties matched, not every edge between the endpoints
    * (Neo4j deletes only the matched relationship).
    */
  def deleteEdges(store: GraphStore, label: String, pairs: DataFrame): GraphStore = {
    val et = store.schema.edge(label)
    val matchCols = pairs.columns.toSeq
    require(matchCols.contains(et.keyS) && matchCols.contains(et.keyT),
      s"deleteEdges pairs for $label need ${et.keyS}/${et.keyT} columns")
    val before = store.edges(label)
    val pfx = "__d_"
    val p = pairs.select(matchCols.map(c => col(c).as(pfx + c)): _*)
    val cond = matchCols.map(c => col(c) <=> col(pfx + c)).reduce(_ && _)
    store.copy(edges = store.edges +
      (label -> before.join(p, cond, "left_anti")
        .select(before.columns.map(col): _*)))
  }
}
