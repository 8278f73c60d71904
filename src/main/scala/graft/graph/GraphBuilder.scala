package graft.graph

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Relational→graph construction (SURVEY.md §2.8 G1/G2).
  *
  * The reference loads nodes with batched Cypher `MERGE (n:L {key}) SET n +=`
  * upserts (reference: final/inject_node.py:241-306,351-360) and edges with
  * `MATCH src, MATCH dst, MERGE (src)-[r]->(dst)` (reference:
  * final/inject_relationship.py:405-500,636-644), plus hand-rolled chunking,
  * contention analysis, retries and connection pooling
  * (final/inject_relationship.py:33-337). All of that machinery is replaced by
  * a declarative DataFrame pipeline: Spark partitioning subsumes chunking, AQE
  * subsumes the adaptive batch sizing, task retry subsumes backoff.
  *
  * Scale posture (100 TB): node builds shuffle once on the node key
  * (dedup window); edge builds shuffle on the two FK keys for validation —
  * when a node side is small (dims) Catalyst broadcasts it, so the fact-side
  * edge table never moves. No driver-side iteration anywhere.
  */
object GraphBuilder {

  /** Build one node set: multi-table outer-join merge on the key column
    * (reference: final/inject_node.py:390-403), last-wins dedup by key
    * (MERGE upsert semantics, final/inject_node.py:350-360 — made
    * deterministic with an explicit priority order, SURVEY.md §7.4.2),
    * project to declared properties null-padding the missing ones
    * (final/inject_node.py:414-422).
    */
  def buildNodes(tables: String => DataFrame, nt: NodeType): DataFrame = {
    require(nt.tables.nonEmpty, s"node type ${nt.name} declares no source tables")
    val merged = nt.tables.map(tables).reduceLeft { (a, b) =>
      // Column-conflict resolution on merge: keep the left (earlier table)
      // copy, as the reference's `_dup`-suffix drop does
      // (final/inject_node.py:399-403).
      val dupCols = b.columns.toSet.intersect(a.columns.toSet) - nt.key
      a.join(dupCols.foldLeft(b)(_.drop(_)), Seq(nt.key), "full_outer")
    }
    val withNullPad = nt.properties.foldLeft(merged) { (df, p) =>
      if (df.columns.contains(p)) df else df.withColumn(p, lit(null))
    }
    // Deterministic last-wins: keep the row with the lexicographically
    // greatest property tuple, so the outcome does not depend on
    // partitioning (the reference's depends on nondeterministic batch
    // arrival order — a defect we fix). max(struct(props)) physically
    // executes as a SortAggregate — a struct agg buffer is not
    // UnsafeRow-mutable, so HashAggregateExec refuses it — but that costs
    // one shuffle of (key, props) with per-partition sorts, with partial
    // aggregation still map-side; a dedup-by-exception alternative
    // (narrow keys-only duplicate count + broadcast anti/semi split)
    // avoids the payload shuffle but pays three source scans and measured
    // slower at sf0.1 AND sf1 (interleaved A/B). Struct comparison
    // orders nulls smallest, so max prefers non-null values, matching a
    // desc_nulls_last ranking. When the catalog proves the key unique
    // (declared PK, single table), dedup is skipped entirely.
    val deduped =
      if (nt.keyUnique && nt.tables.size == 1) withNullPad
      else if (nt.properties.isEmpty) withNullPad.dropDuplicates(Seq(nt.key))
      else
        withNullPad
          .groupBy(col(nt.key))
          .agg(max(struct(nt.properties.map(col): _*)).as("__s"))
          .select(col(nt.key) +: nt.properties.map(p => col(s"__s.$p").as(p)): _*)
    deduped
      .filter(col(nt.key).isNotNull)
      .select((nt.key +: nt.properties).map(col): _*)
  }

  /** Build one edge set: null-key drop (reference:
    * final/inject_relationship.py:674-677), pair dedup (`:680`), then
    * FK validation as a double join — Cypher `MATCH` silently drops edges
    * whose endpoints don't exist (final/inject_relationship.py:636-644);
    * left-semi joins replicate that without widening the row.
    */
  def buildEdges(
      tables: String => DataFrame,
      et: EdgeType,
      srcNodes: DataFrame,
      dstNodes: DataFrame,
      srcKey: String,
      dstKey: String,
      skipSrcValidation: Boolean = false): DataFrame = {
    val selected = tables(et.table)
      .select((Seq(et.keyS, et.keyT) ++ et.properties).map(col): _*)
      .na.drop("any", Seq(et.keyS, et.keyT))
    // Pair dedup is skipped when the catalog proves (keyS, keyT) unique.
    // With edge properties, `dropDuplicates` would keep a PARTITION-DEPENDENT
    // row for a duplicated pair — the kept row is made deterministic the
    // same way node dedup is: last-wins via max(struct(props)). Same
    // physical caveat and A/B evidence as the node path: this is a
    // single-shuffle SortAggregate, and it beat the shuffle-free
    // dedup-by-exception scheme at both measured scales
    // (interleaved A/B; 65-71 duplicated pairs in 0.6-6M lineitem
    // rows — duplicates are the exception, but the extra scans cost more
    // than the per-partition sorts save).
    val raw =
      if (et.pairsUnique) selected
      else if (et.properties.isEmpty) selected.dropDuplicates(Seq(et.keyS, et.keyT))
      else
        selected
          .groupBy(col(et.keyS), col(et.keyT))
          .agg(max(struct(et.properties.map(col): _*)).as("__s"))
          .select(Seq(col(et.keyS), col(et.keyT)) ++
            et.properties.map(p => col(s"__s.$p").as(p)): _*)
    // FK-edge special case: when the src node set is built 1:1 from this
    // same table keyed by keyS, the src-side membership check is a
    // tautology — drop the join, keep only the real FK validation
    val srcChecked =
      if (skipSrcValidation) raw
      else raw.join(srcNodes.select(col(srcKey).as(et.keyS)), Seq(et.keyS), "left_semi")
    srcChecked
      .join(dstNodes.select(col(dstKey).as(et.keyT)), Seq(et.keyT), "left_semi")
      .select((Seq(et.keyS, et.keyT) ++ et.properties).map(col): _*)
  }

  /** Dangling-edge accounting — the reference logs dropped counts
    * (final/inject_relationship.py:843-847); builder surfaces the same.
    */
  final case class EdgeMetrics(input: Long, afterClean: Long, committed: Long) {
    def dropped: Long = afterClean - committed
  }

  /** Compute the reference's per-relationship audit numbers for one edge
    * type: raw rows, rows surviving null-drop + pair-dedup, and rows that
    * passed FK validation (= the built edge set). Two concurrent actions
    * ([[graft.util.Jobs.all]]) — one aggregate over the source table for
    * the first two numbers, one count of the built set — an explicit
    * audit, not part of the lazy build. `count(DISTINCT keyS, keyT)` skips
    * rows with a null key, so it equals null-drop + pair-dedup; with
    * unique pairs only the null-drop applies.
    */
  def edgeMetrics(tables: String => DataFrame, et: EdgeType, built: DataFrame): EdgeMetrics = {
    val (s, t) = (col(et.keyS), col(et.keyT))
    val afterClean =
      if (et.pairsUnique) count(when(s.isNotNull && t.isNotNull, lit(1)))
      else count_distinct(s, t)
    val stats = tables(et.table).agg(count(lit(1)), afterClean)
    val Seq(input, clean, committed) = graft.util.Jobs.all(Seq(
      () => { val r = stats.head(); Seq(r.getLong(0), r.getLong(1)) },
      () => Seq(built.count()))).flatten
    EdgeMetrics(input, clean, committed)
  }

  /** Build the whole declared graph from any table provider. */
  def buildAll(tables: String => DataFrame, schema: GraphSchema): GraphStore = {
    val nodes = schema.nodes.map(nt => nt.name -> buildNodes(tables, nt)).toMap
    val edges = schema.edges.map { et =>
      val srcNt = schema.node(et.src)
      val dstNt = schema.node(et.dst)
      val srcSelf = srcNt.tables == Seq(et.table) && srcNt.key == et.keyS
      et.label -> buildEdges(tables, et, nodes(et.src), nodes(et.dst),
        srcNt.key, dstNt.key, skipSrcValidation = srcSelf)
    }.toMap
    // buildEdges FK-validates both endpoint sides (or proves the src side
    // tautological), so every built edge label carries the
    // endpoint-validated invariant the compiler's join elision relies on
    GraphStore(schema, nodes, edges, validatedEdges = edges.keySet)
  }

  /** Build the declared graph from a scale-factor directory. */
  def buildAll(spark: SparkSession, dir: String, schema: GraphSchema = GraphSchema.testdata): GraphStore =
    buildAll(name => Tables.load(spark, dir, name), schema)

  /** Load-or-build entry: a real deployment ingests ONCE
    * ([[GraphStore.save]] — the reference's injection flow runs once per
    * upload, final/app.py upload→inject→query) and every query session
    * after that LOADS the persisted store. When `SPARK_GRAFT_STORE_ROOT`
    * names a directory holding a saved store for this SF
    * (`<root>/<sfBasename>/_graft_meta.json` present — written by
    * [[graft.tools.SaveStore]]), load it; otherwise build from the base
    * tables as always. The loaded frames are plain parquet scans, so key
    * filters prune row groups via the save-time key sort and nothing is
    * recomputed — at sf100 this splits the one-time ~150 s relational→
    * graph build out of the first query's wall clock, which is the
    * deployment-faithful accounting (r17 verdict #1).
    */
  def openOrBuild(spark: SparkSession, dir: String,
      schema: GraphSchema = GraphSchema.testdata,
      storeRoot: Option[String] = sys.env.get("SPARK_GRAFT_STORE_ROOT"))
      : GraphStore =
    savedStoreRoot(dir, storeRoot)
      .map { root =>
        spark.sparkContext.setJobDescription(s"graft: load saved store $root")
        GraphStore.load(spark, root, schema)
      }
      .getOrElse(buildAll(spark, dir, schema))

  /** The saved-store directory for `dir`, when one exists under the
    * (env-provided by default) store root — presence of the manifest is
    * the load signal. Callers that cache the opened store should persist
    * BUILT stores (expensive multi-shuffle plans) but take LOADED stores
    * as-is: a loaded frame is already a key-sorted columnar file the OS
    * page cache serves on re-scan, and re-persisting it into the block
    * manager doubles its storage — at sf100 that duplicate spill competed
    * for the same disk the BFS checkpoints need.
    */
  def savedStoreRoot(dir: String,
      storeRoot: Option[String] = sys.env.get("SPARK_GRAFT_STORE_ROOT"))
      : Option[String] = {
    val sfName = java.nio.file.Paths.get(dir).getFileName.toString
    storeRoot.map(r => s"$r/$sfName")
      .filter(root => new java.io.File(s"$root/_graft_meta.json").exists)
  }
}
