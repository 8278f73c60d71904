package graft.cypher

import java.util.concurrent.{Callable, CyclicBarrier, Executors, TimeUnit}

import org.apache.spark.sql.functions.col

import graft.SparkSpec
import graft.graph.{GraphStore, GraphWriter}
import graft.sources.Tables

/** Concurrency gate for the engine's JVM-global caches: threads that share
  * one store race on its first edge-union, CSR and key-statistics builds,
  * and each must read what a serial run reads.
  */
class CypherConcurrencySpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  /** Nations on a DAG of +1/+5 hops (keys only increase, so open-bound
    * walks stay finite) plus regions, whose keys overlap the nations'.
    */
  private def dagStore(): GraphStore = {
    val nation = Tables.load(spark, sf, "nation")
    val region = Tables.load(spark, sf, "region")
    val k = col("n_nationkey")
    var st = GraphWriter.mergeNodes(GraphStore.empty, "Nation",
      nation.select(k, col("n_name")), Seq("n_nationkey"))
    st = GraphWriter.mergeNodes(st, "Region",
      region.select(col("r_regionkey"), col("r_name")), Seq("r_regionkey"))
    val hops = nation.filter(k + 1 < 25).select(k.as("src"), (k + 1).as("dst"))
      .unionByName(nation.filter(k + 5 < 25).select(k.as("src"), (k + 5).as("dst")))
    GraphWriter.mergeEdges(st, "HOP", "Nation", "Nation", "src", "dst", hops)
  }

  /** One session's reads, each result rendered as a sorted multiset. */
  private def session(store: GraphStore): Seq[Seq[String]] = {
    val engine = CypherEngine(store)
    def rows(q: String): Seq[String] =
      engine.run(q).collect().map(_.toString).toSeq.sorted
    val shortest = rows(
      """MATCH p = shortestPath((a:Nation)-[:HOP*]->(b:Nation))
         WHERE a.n_nationkey < 3
         RETURN toInteger(a.n_nationkey) AS a, toInteger(b.n_nationkey) AS b,
                length(p) AS len""")
    val walk = rows(
      """MATCH (a:Nation {n_nationkey: 10})-[:HOP*]->(b:Nation)
         RETURN toInteger(b.n_nationkey) AS b, count(*) AS walks""")
    // Region keys 0-4 collide with Nation keys 0-4: the write's collision
    // audit reads both labels' key statistics
    val wr = CypherEngine(store).execute("MATCH (r:Region) SET r:Nation")
    val relabelled = CypherEngine(wr.store).run(
      "MATCH (n:Nation) RETURN count(*) AS c").collect().map(_.toString).toSeq
    Seq(shortest, walk, relabelled,
      wr.observed.toSeq.map(_.toString).sorted)
  }

  test("threads sharing one store read what a serial run reads") {
    // the serial run gets its own store so it warms none of the shared
    // store's cache entries: the threads race on cold builds
    val serial = session(dagStore())
    assert(serial.head.nonEmpty && serial(1).nonEmpty)
    assert(serial(3).exists(_.contains("collisions:Nation<-Region")))
    val shared = dagStore()
    val threads = 4
    val pool = Executors.newFixedThreadPool(threads)
    val barrier = new CyclicBarrier(threads)
    val results = try {
      val fs = (1 to threads).map(_ => pool.submit(new Callable[Seq[Seq[String]]] {
        def call(): Seq[Seq[String]] = { barrier.await(); session(shared) }
      }))
      fs.map(_.get(300, TimeUnit.SECONDS))
    } finally pool.shutdownNow()
    results.foreach(r => assert(r == serial))
  }
}
