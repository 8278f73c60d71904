package graft.cypher

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkSpec
import graft.graph.{EdgeType, GraphAnalytics, GraphSchema, GraphStore, NodeType}

/** Pins the single-task kernels ([[LocalBfs.localDist]] /
  * [[LocalBfs.localUniqueWalk]]) row-set identical to the distributed
  * loops that serve the same questions above the edge cap —
  * [[GraphAnalytics.bfsFrames]] for shortestPath, the per-level walk
  * under `LocalPathEdgeCapKey=0` — across every shape (lenonly,
  * withPath, keepAll, withRels, withRels+keepAll), key type (long,
  * non-ASCII string, (label, key) struct incl. null fields) and seed
  * arrangement. The local regime must be a pure strategy choice, never
  * a semantics change. In the test names, "fast" is the single-task
  * kernel and "generic" the distributed loop, which serves every key
  * type and graph size.
  */
class LocalBfsFastSpec extends SparkSpec {

  private def rowSet(df: DataFrame): Set[Row] = df.collect().toSet

  // diamond + tail + parallel edges + a cycle, over long keys:
  // 1→2 (A), 1→3 (B), 2→4 (A), 3→4 (B), 4→5 (A), 5→1 (B), 2→4 dup (B)
  private val edgeRows = Seq((1L, 2L, "A"), (1L, 3L, "B"), (2L, 4L, "A"),
    (3L, 4L, "B"), (4L, 5L, "A"), (5L, 1L, "B"), (2L, 4L, "B"))

  private lazy val longEdges = {
    val s = spark
    import s.implicits._
    edgeRows.toDF("__ds", "__dd", "__rt")
  }

  private lazy val longSeeds = {
    val s = spark
    import s.implicits._
    Seq(1L, 4L).toDF("__seed")
  }

  private def structify(e: DataFrame): DataFrame = {
    // (label, key) struct keys with a null inner field thrown in
    val lab = when(col("__ds") % 2 === 0, lit("Even")).otherwise(lit("Odd"))
    val labD = when(col("__dd") % 2 === 0, lit("Even")).otherwise(lit("Odd"))
    e.select(
      struct(lab.as("__l"),
        when(col("__ds") === 5L, lit(null).cast(LongType))
          .otherwise(col("__ds")).as("__k")).as("__ds"),
      struct(labD.as("__l"),
        when(col("__dd") === 5L, lit(null).cast(LongType))
          .otherwise(col("__dd")).as("__k")).as("__dd"),
      col("__rt"))
  }

  private def structSeeds: DataFrame =
    longSeeds.select(struct(
      when(col("__seed") % 2 === 0, lit("Even")).otherwise(lit("Odd")).as("__l"),
      col("__seed").as("__k")).as("__seed"))

  private def stringify(e: DataFrame): DataFrame =
    e.select(concat(lit("né"), col("__ds")).as("__ds"),
      concat(lit("né"), col("__dd")).as("__dd"), col("__rt"))

  private def stringSeeds: DataFrame =
    longSeeds.select(concat(lit("né"), col("__seed")).as("__seed"))

  private val shapes = Seq(
    ("lenonly", false, false, false),
    ("withPath", false, true, false),
    ("keepAll", true, true, false),
    ("withRels", false, true, true),
    ("withRels+keepAll", true, true, true))

  private def checkDist(name: String, e: DataFrame, seeds: DataFrame): Unit = {
    val kt = e.schema("__ds").dataType
    assert(LocalBfs.localDistKey(kt), s"$name key type must pass the local gate")
    for ((shape, keepAll, withPath, withRels) <- shapes; hi <- Seq(1, 3, 10)) {
      // the distributed loop reads __rt only under withRels, as distDf
      // hands it the union
      val e0 = if (withRels) e else e.drop("__rt")
      val local = LocalBfs.localDist(e0, seeds, hi, kt, keepAll, withPath, withRels)
      val dist = GraphAnalytics.bfsFrames(e0, seeds, 1, hi, keepAll, withPath, withRels)
        .select(local.columns.map(col): _*)
      val (l, d) = (rowSet(local), rowSet(dist))
      assert(l.nonEmpty, s"$name/$shape/hi=$hi: no rows")
      assert(l == d, s"$name/$shape/hi=$hi: local != bfsFrames\n" +
        s"local-only: ${(l -- d).take(5)}\nbfsFrames-only: ${(d -- l).take(5)}")
    }
  }

  test("localDist fast == generic over long keys") {
    checkDist("long", longEdges, longSeeds)
  }

  test("localDist fast == generic over non-ASCII string keys") {
    checkDist("string", stringify(longEdges), stringSeeds)
  }

  test("localDist fast == generic over (label, key) struct keys with null fields") {
    checkDist("struct", structify(longEdges), structSeeds)
  }

  test("localDist fast == generic with a seed absent from the edge set") {
    val s = spark
    import s.implicits._
    checkDist("orphan-seed", longEdges, Seq(1L, 99L).toDF("__seed"))
  }

  test("the local gate admits integral, string and (string, integral|string) keys only") {
    val admitted = Seq(ByteType, ShortType, IntegerType, LongType, StringType,
      StructType(Seq(StructField("__l", StringType), StructField("__k", LongType))),
      StructType(Seq(StructField("__l", StringType), StructField("__k", StringType))))
    admitted.foreach(dt => assert(LocalBfs.localDistKey(dt), dt))
    val refused = Seq(DoubleType, DateType, DecimalType(18, 4),
      StructType(Seq(StructField("__l", StringType), StructField("__k", DoubleType))))
    refused.foreach(dt => assert(!LocalBfs.localDistKey(dt), dt))
  }

  /** The diamond as a one-type store (N nodes, R edges; the 2→4 pair
    * twice, so parallel relationships count separately).
    */
  private lazy val walkStore: GraphStore = {
    val s = spark
    import s.implicits._
    GraphStore(
      GraphSchema(
        nodes = Seq(NodeType("N", "id", Nil, Seq("n"))),
        edges = Seq(EdgeType("R", "N", "N", "src", "dst", Nil, "r"))),
      nodes = Map("N" -> (1L to 5L).toDF("id")),
      edges = Map("R" -> edgeRows.map(r => (r._1, r._2)).toDF("src", "dst")))
  }

  test("localUniqueWalk fast == generic (seeded and unseeded, lo variants)") {
    val engine = CypherEngine(walkStore)
    val queries = for {
      seeded <- Seq(true, false)
      bound <- Seq("*", "*2..")
    } yield {
      val anchor = if (seeded) "MATCH (a:N) WHERE a.id IN [1, 4] WITH a " else ""
      s"${anchor}MATCH (a:N)-[:R$bound]->(b:N) RETURN a.id AS a, b.id AS b"
    }
    def runAll(): Seq[Seq[Row]] =
      queries.map(q => engine.run(q).collect().toSeq.sortBy(_.toString))
    val local = runAll()
    assert(local.forall(_.nonEmpty))
    spark.conf.set(CypherEngine.LocalPathEdgeCapKey, "0")
    try assert(runAll() == local)
    finally spark.conf.unset(CypherEngine.LocalPathEdgeCapKey)
  }

  test("localUniqueWalk fast path still enforces the path budget") {
    val e = longEdges.select(col("__ds").as("__cs"), col("__dd").as("__cd"))
    val ex = intercept[Exception] {
      LocalBfs.localUniqueWalk(e, None, 1, maxPaths = 2L).collect()
    }
    assert(ex.getMessage.contains("relationship-unique paths") ||
      (ex.getCause != null &&
        ex.getCause.getMessage.contains("relationship-unique paths")))
  }
}
