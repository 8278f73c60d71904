package graft.graph

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, LongType, StringType, StructField, StructType}

import graft.util.{EngineCache, FrameKey}

/** Per-label node stores + per-type edge stores — our analogue of the
  * reference's Neo4j database, laid out as Parquet datasets
  * (`graph/nodes/<Label>/`, `graph/edges/<LABEL>/`; SURVEY.md §1.3).
  *
  * At scale each store is a partitioned parquet dataset; a query touching one
  * label scans one directory with full pushdown, never the whole graph.
  */
final case class GraphStore(
    schema: GraphSchema,
    nodes: Map[String, DataFrame],
    edges: Map[String, DataFrame],
    /** Edge labels whose rows are endpoint-validated against the CURRENT
      * node stores (every src/dst key resolves to a stored node, and node
      * stores are key-unique by builder/writer construction). The
      * builder's FK semi-joins establish it; [[GraphWriter]] maintains it
      * per mutation (plain `DELETE` of nodes clears incident labels —
      * dangling edges become possible). The Cypher compiler's MATCH bind
      * site reads it to elide the endpoint node-store join for pattern
      * endpoints the query never references (pinned by CypherSpec against
      * an unvalidated store, which keeps the join) — at
      * 100 TB that join is a full shuffle of the edge store against a node
      * store, spent validating what the flag already guarantees.
      * Conservative default: stores assembled outside the builder/writer
      * (e.g. [[GraphStore.load]] without saved metadata) start unvalidated
      * and just keep the join.
      */
    validatedEdges: Set[String] = Set.empty,
    /** Secondary label membership (`SET n:Label`, M44) as PROVENANCE rows,
      * keyed `(targetLabel, sourceLabel)` → a one-column frame `__m_key`
      * (the member node's SOURCE key rendered as a string), deduped.
      *
      * The target label's node store is NEVER touched by label mutation:
      * members materialize at MATCH time by joining the membership keys
      * back to the LIVE source store (so later property updates and node
      * deletions on the source are visible through the secondary label,
      * like Neo4j's one-node-many-labels), and a `v:Label` membership
      * predicate joins only the `(Label, v's label)` frame — scoped by
      * source, so key-value collisions with the target's own keyspace or
      * with OTHER labels' keyspaces can neither corrupt target rows nor
      * fabricate memberships (r12 ADVICE: the previous design upserted
      * rows INTO the target store, silently overwriting/deleting genuine
      * native nodes on key collisions). Labels never mutated keep the
      * compile-time constant fold: nodes of distinct native labels are
      * distinct entities even when key values collide (Customer 7 is not
      * Supplier 7).
      *
      * Scale posture: membership frames hold only keys of explicitly
      * SET-mutated rows — broadcastable in practice, and every consumer
      * joins them by key (no driver collect).
      */
    memberships: Map[(String, String), DataFrame] = Map.empty) {

  /** Labels that currently hold secondary membership rows (the compiler's
    * lift gate; empty for every store the write surface never mutated).
    */
  def mutatedLabels: Set[String] = memberships.keysIterator.map(_._1).toSet

  /** Key-rendering collision audit frame for membership pair `(t, s)`
    * (§2.15 deviation 2, r15: silent → surfaced): one `__t_key` row per
    * member of the pair whose key, rendered into `t`'s keyspace, equals
    * the key of a NATIVE `t` node. In Neo4j the member and the native node
    * are distinct entities; here both match a `(n:t {key})` pattern and
    * the member can reach the native node's edges through key joins —
    * a documented deviation that is exact whenever no collision exists.
    * This frame makes the collision case COUNTABLE: [[describe]] reports
    * it per pair, and the write surface publishes it at SET-label time,
    * so a user whose integer-keyed tables share id ranges finds out
    * instead of silently double-matching. Cost: one semi-join of the
    * bounded (broadcastable) provenance frame against each store's key
    * column — never a fact-table shuffle.
    */
  def membershipCollisionFrame(t: String, s: String): DataFrame = {
    val nt = schema.node(t)
    memberRows(t, s)
      .select(GraphStore.memberKey(schema.node(s).key, nodes(t).schema(nt.key).dataType)
        .as("__t_key"))
      .na.drop()
      .join(nodes(t).select(col(nt.key).cast(StringType).as("__t_key")),
        Seq("__t_key"), "left_semi")
      .distinct()
  }

  /** The rows of source store `s` that are members of label `t` through
    * membership pair `(t, s)` ([[GraphStore.memberRows]]).
    */
  private[graft] def memberRows(t: String, s: String): DataFrame =
    GraphStore.memberRows(nodes(s), schema.node(s).key, memberships((t, s)))

  /** `store` with node type `nt` registered over `frame`: a type of the
    * same name is replaced in place, a new one appended.
    */
  private[graft] def withNode(nt: NodeType, frame: DataFrame): GraphStore = {
    val i = schema.nodes.indexWhere(_.name == nt.name)
    copy(
      schema = schema.copy(nodes =
        if (i < 0) schema.nodes :+ nt else schema.nodes.updated(i, nt)),
      nodes = nodes + (nt.name -> frame))
  }

  /** `store` with edge type `et` registered over `frame` (replaced in
    * place, or appended when new), keeping [[validatedEdges]] true to the
    * rows: `endpointsValidated` vouches that every row the write added
    * resolves to stored endpoints. A new type built from validated rows
    * starts validated; validated new rows keep an already-validated type
    * validated but cannot retroactively validate existing rows; any
    * unvalidated row clears the type.
    */
  private[graft] def withEdge(et: EdgeType, frame: DataFrame,
      endpointsValidated: Boolean): GraphStore = {
    val i = schema.edges.indexWhere(_.label == et.label)
    copy(
      schema = schema.copy(edges =
        if (i < 0) schema.edges :+ et else schema.edges.updated(i, et)),
      edges = edges + (et.label -> frame),
      validatedEdges =
        if (!endpointsValidated) validatedEdges - et.label
        else if (i < 0) validatedEdges + et.label
        else validatedEdges)
  }

  /** Graph statistics report — nodes by label, edges by type (the
    * reference's pre-flight and final count audits, reference:
    * final/inject_relationship.py:927-961,1017-1031), plus one row per
    * secondary-membership provenance pair (`Label<-Source`) and one
    * `collision` row per pair counting its key-rendering collisions
    * against the target's native keys ([[membershipCollisionFrame]] —
    * nonzero means the §2.15 identity blur is LIVE in this store, not
    * just theoretical). One row per label/type: (kind, name, cnt),
    * ordered by (kind, name).
    *
    * An eager snapshot: the counts run when `describe` is called, and the
    * returned frame is a local relation holding the rows. Each frame is
    * counted by its own job, all submitted at once ([[graft.util.Jobs.all]]),
    * and each job counts rows with no aggregate ([[rowCount]]). Edge counts
    * go through [[edgeCount]], so they also fill its memo for the path
    * gates. A union of per-label `agg(count)` branches would be one job,
    * but every branch of a union gets its own whole-stage-codegen stage id,
    * and the id is part of the generated class name: a 9-frame store
    * compiled 31-39 classes per call, enough to push an upload pass
    * (build, save, describe, audit, analytics) past Spark's 100-entry
    * generated-code cache, so every pass recompiled. The single-frame
    * count plans here all have the same shape, and stage ids restart with
    * each query, so they share 3-4 classes.
    */
  def describe(spark: SparkSession): DataFrame = {
    val counts: Seq[() => Row] =
      nodes.toSeq.map { case (n, df) => () => Row("node", n, GraphStore.rowCount(df)) } ++
      edges.keys.toSeq.map(n => () => Row("edge", n, edgeCount(n))) ++
      memberships.toSeq.map { case ((t, s), df) =>
        () => Row("membership", s"$t<-$s", GraphStore.rowCount(df))
      } ++
      memberships.keys.toSeq.map { case (t, s) =>
        () => Row("collision", s"$t<-$s", GraphStore.rowCount(membershipCollisionFrame(t, s)))
      }
    val rows = graft.util.Jobs.all(counts).sortBy(r => (r.getString(0), r.getString(1)))
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), GraphStore.DescribeSchema)
  }

  /** The build-once/query-many posture: every node/edge frame persisted
    * (MEMORY_AND_DISK), so repeated queries against the same store don't
    * re-scan or rebuild. Idempotent on already-persisted frames.
    */
  def persisted: GraphStore = copy(
    nodes = nodes.map { case (k, df) =>
      k -> df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    },
    edges = edges.map { case (k, df) =>
      k -> df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    },
    memberships = memberships.map { case (k, df) =>
      k -> df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    })

  /** Row count of edge store `label`, computed once per store INSTANCE and
    * memoized. The Cypher path-strategy gates (local-vs-distributed BFS and
    * walk enumeration) consult edge sizes on every path query; without this
    * the gate itself cost an O(edges) column-pruned scan per query. Safe to
    * memoize because stores are immutable — every write op returns a NEW
    * GraphStore (whose cache starts empty), so staleness is impossible by
    * construction.
    */
  def edgeCount(label: String): Long =
    edgeCounts.computeIfAbsent(label, l => java.lang.Long.valueOf(GraphStore.rowCount(edges(l))))

  @transient private lazy val edgeCounts =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()

  /** Key-column statistics of node store `label`: row count, plus min/max
    * as longs when the key type is integral. One aggregate job, memoized
    * JVM-wide on the node frame's identity rather than this store
    * instance ([[GraphStore.keyStatsOf]]). Consumed by [[collisionPossible]].
    */
  def keyStats(label: String): GraphStore.KeyStats =
    GraphStore.keyStatsOf(nodes(label), schema.node(label).key)

  /** Cheap necessary-condition probe for [[membershipCollisionFrame]]:
    * `false` PROVES no collision can exist for pair `(t, s)` — the
    * target's native store is empty, or both key domains are integral
    * with t's type at least as wide as s's (so the audit's
    * render-into-t's-keyspace cast is value-preserving) and the min/max
    * ranges are disjoint. The write surface skips the per-SET audit
    * semi-join in those cases (r15 verdict #5: the audit paid its join
    * even when it could not fire). `true` means "possible", never
    * "present" — the audit still runs and may count zero.
    */
  def collisionPossible(t: String, s: String): Boolean = {
    val ts = keyStats(t)
    if (ts.count == 0L) false
    else {
      val widthOk = GraphStore.integralWidth(nodes(t).schema(schema.node(t).key).dataType) >=
        GraphStore.integralWidth(nodes(s).schema(schema.node(s).key).dataType)
      (for {
        (tmin, tmax) <- ts.range if widthOk
        (smin, smax) <- keyStats(s).range
      } yield !(smax < tmin || smin > tmax)).getOrElse(true)
    }
  }

  /** Release the cached blocks of a [[persisted]] store (non-blocking). */
  def unpersistAll(): Unit = {
    nodes.values.foreach(_.unpersist(false))
    edges.values.foreach(_.unpersist(false))
    memberships.values.foreach(_.unpersist(false))
  }

  /** Persist per-label/type Parquet datasets, key-sorted within partitions
    * (the reference sorts before write for locality,
    * final/inject_relationship.py:696, final/inject_node.py:425; for us the
    * payoff is parquet min/max statistics on the keys → row-group pruning
    * for key-range scans at any scale). Membership frames and the
    * validated-edge set persist too (a small `_graft_meta.json` manifest —
    * written through the Hadoop FileSystem API so object-store roots work),
    * so a reloaded store keeps `v:Label` semantics and the endpoint-join
    * elision instead of silently reverting (r12 ADVICE: `mutatedLabels`
    * was session-only — the same query returned different results across
    * a save/load).
    *
    * Every node, edge and membership write is submitted at once
    * ([[graft.util.Jobs.all]]): each is a small job of a few tasks that
    * alone leaves most cores idle. The manifest is the load signal
    * ([[GraphBuilder.savedStoreRoot]]), so it is removed before the
    * writes and written last, once every write has succeeded — a failed
    * save never looks loadable.
    */
  def save(root: String): Unit = {
    GraphStore.deleteMeta(root)
    val writes: Seq[() => Unit] =
      nodes.toSeq.map { case (n, df) => () =>
        df.sortWithinPartitions(schema.node(n).key)
          .write.mode("overwrite").parquet(s"$root/nodes/$n")
      } ++
      edges.toSeq.map { case (n, df) => () =>
        val et = schema.edge(n)
        df.sortWithinPartitions(et.keyS, et.keyT)
          .write.mode("overwrite").parquet(s"$root/edges/$n")
      } ++
      memberships.toSeq.map { case ((t, s), df) => () =>
        df.write.mode("overwrite").parquet(s"$root/memberships/${t}__FROM__$s")
      }
    graft.util.Jobs.all(writes)
    GraphStore.writeMeta(root, validatedEdges, memberships.keys.toSeq)
  }
}

object GraphStore {
  /** A store with no labels — the starting point for building a graph
    * purely through Cypher write clauses ([[graft.cypher.CypherEngine]]
    * `.execute`) or [[GraphWriter]].
    */
  def empty: GraphStore = GraphStore(GraphSchema(Nil, Nil), Map.empty, Map.empty)

  /** [[GraphStore.describe]]'s rows: (kind, name, cnt), none nullable. */
  val DescribeSchema: StructType = StructType(Seq(
    StructField("kind", StringType, nullable = false),
    StructField("name", StringType, nullable = false),
    StructField("cnt", LongType, nullable = false)))

  /** Row count of `df` as one single-stage job: the zero-column projection
    * counts the rows of the executed plan, with no partial/final aggregate
    * and its shuffle. The count plans of any two frames read alike, so
    * they reuse the same generated classes.
    */
  private[graph] def rowCount(df: DataFrame): Long =
    df.select().queryExecution.toRdd.count()

  /** The membership rule, stated once for every reader and writer of
    * provenance frames: a member is a row of source frame `src` whose key
    * column `srcKey`, rendered as a string, appears in the provenance
    * frame `m`'s `__m_key` column (one semi-join).
    */
  private[graft] def memberRows(src: DataFrame, srcKey: String, m: DataFrame): DataFrame =
    src.join(m, src(srcKey).cast(StringType) === m("__m_key"), "left_semi")

  /** A member's key rendered in the target label's keyspace: the source
    * key `srcKey` cast to the target key type, then to a string — the
    * rendering every target-side key join of a member row compares.
    */
  private[graft] def memberKey(srcKey: String, targetKeyType: DataType): Column =
    col(srcKey).cast(targetKeyType).cast(StringType)

  def load(spark: SparkSession, root: String, schema: GraphSchema): GraphStore = {
    val (validated, memberPairs) = readMeta(spark, root)
    GraphStore(
      schema,
      schema.nodes.map(nt => nt.name -> spark.read.parquet(s"$root/nodes/${nt.name}")).toMap,
      schema.edges.map(et => et.label -> spark.read.parquet(s"$root/edges/${et.label}")).toMap,
      // only trust the manifest's validated set for edge types the passed
      // schema still declares (a schema drift should fail conservative)
      validatedEdges = validated.filter(l => schema.edges.exists(_.label == l)),
      memberships = memberPairs
        .filter { case (t, s) =>
          schema.nodes.exists(_.name == t) && schema.nodes.exists(_.name == s)
        }
        .map(p => p -> spark.read.parquet(s"$root/memberships/${p._1}__FROM__${p._2}"))
        .toMap)
  }

  /** Tiny JSON manifest beside the parquet datasets. Hand-rolled writer/
    * reader (labels are identifiers — no escaping needed) to avoid a
    * parser dependency; any read failure degrades to the conservative
    * empty sets, never an error.
    */
  private def writeMeta(root: String,
      validated: Set[String], pairs: Seq[(String, String)]): Unit = {
    val json =
      s"""{"validatedEdges":[${validated.toSeq.sorted.map(l => s""""$l"""").mkString(",")}],""" +
        s""""memberships":[${pairs.sorted.map { case (t, s) => s"""["$t","$s"]""" }.mkString(",")}]}"""
    val (fs, path) = metaPath(root)
    val out = fs.create(path, true)
    try out.write(json.getBytes("UTF-8")) finally out.close()
  }

  private def deleteMeta(root: String): Unit = {
    val (fs, path) = metaPath(root)
    fs.delete(path, false)
  }

  private def metaPath(root: String) = {
    val path = new org.apache.hadoop.fs.Path(s"$root/_graft_meta.json")
    (path.getFileSystem(SparkSession.active.sparkContext.hadoopConfiguration), path)
  }

  private def readMeta(spark: SparkSession,
      root: String): (Set[String], Seq[(String, String)]) =
    try {
      val path = new org.apache.hadoop.fs.Path(s"$root/_graft_meta.json")
      val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (!fs.exists(path)) (Set.empty, Nil)
      else {
        val in = fs.open(path)
        val txt = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
                  finally in.close()
        val validated = """"validatedEdges"\s*:\s*\[([^\]]*)\]""".r
          .findFirstMatchIn(txt).map(_.group(1)).getOrElse("")
          .split(",").map(_.trim.stripPrefix("\"").stripSuffix("\""))
          .filter(_.nonEmpty).toSet
        val pairs = """\["([^"]+)","([^"]+)"\]""".r.findAllMatchIn(txt)
          .map(m => (m.group(1), m.group(2))).toSeq
        (validated, pairs)
      }
    } catch { case _: Throwable => (Set.empty, Nil) }

  /** Per-JVM build-once/query-many cache: the first call under `key` runs
    * `build` and [[GraphStore.persisted persists]] the result; later calls
    * return the same store without rebuilding. The production pattern the
    * reference encodes as a pre-injected database (inject once, query
    * many — final/app.py's upload→inject→query flow): within one JVM the
    * persisted frames play that role, across JVMs [[save]]/[[load]] do.
    * Safe to share because stores are immutable — every write op returns
    * a NEW GraphStore over new frames, never mutating the cached one.
    */
  def cached(key: String)(build: => GraphStore): GraphStore =
    storeCache.getOrBuild(key)(build.persisted)

  /** Memoize WITHOUT block-manager persistence — for stores whose frames
    * are already materialized files (a [[GraphStore.load]]ed store):
    * re-persisting key-sorted parquet doubles its storage and at sf100
    * the duplicate spill competed with the BFS checkpoints for the same
    * disk; the OS page cache already serves repeated scans
    * ([[graft.graph.GraphBuilder.savedStoreRoot]] doc).
    */
  def cachedAsIs(key: String)(build: => GraphStore): GraphStore =
    storeCache.getOrBuild(key)(build)

  /** Drop one cached store, releasing its blocks. */
  def evict(key: String): Unit = storeCache.remove(key)

  /** Bounded above the ~10 stores one data directory's query suite keys
    * (the base store plus its derived fixtures), so a Bench or Verify run
    * never evicts. Eviction unpersists the least recently used store.
    */
  private val StoreCacheEntries = 64
  private val storeCache =
    new EngineCache[String, GraphStore](StoreCacheEntries, _.unpersistAll())

  /** (row count, integral-key min/max) of one node frame's key column —
    * see [[GraphStore.keyStats]].
    */
  final case class KeyStats(count: Long, range: Option[(Long, Long)])

  /** Comparable width of an integral key type (0 = not integral). The
    * collision-audit short-circuit only trusts range disjointness when
    * the target type is at least as wide as the source's: a NARROWING
    * cast can wrap values back into the target's range.
    */
  private[graph] def integralWidth(dt: org.apache.spark.sql.types.DataType): Int =
    dt match {
      case org.apache.spark.sql.types.ByteType => 1
      case org.apache.spark.sql.types.ShortType => 2
      case org.apache.spark.sql.types.IntegerType => 3
      case org.apache.spark.sql.types.LongType => 4
      case _ => 0
    }

  /** Keyed on the node frame's identity ([[graft.util.FrameKey]]): write
    * ops copy the store but share unchanged frames, so a chained mutation
    * session reuses the stats its predecessors paid for, and a mutated
    * label's new frame never hits a stale entry. An entry holds its frame,
    * so the LRU bound also bounds how many dead stores' frames it pins.
    */
  private val keyStatsCache = new EngineCache[FrameKey, KeyStats](256)

  /** One aggregate job per node frame and key column, memoized in
    * [[keyStatsCache]]; see [[GraphStore.keyStats]].
    */
  private[graph] def keyStatsOf(df: DataFrame, key: String): KeyStats =
    keyStatsCache.getOrBuild(new FrameKey(key, Seq(df))) {
      if (integralWidth(df.schema(key).dataType) > 0) {
        val r = df.agg(count(lit(1)), min(col(key).cast(LongType)),
          max(col(key).cast(LongType))).head()
        KeyStats(r.getLong(0),
          if (r.isNullAt(1) || r.isNullAt(2)) None
          else Some((r.getLong(1), r.getLong(2))))
      } else KeyStats(df.agg(count(lit(1))).head().getLong(0), None)
    }
}
