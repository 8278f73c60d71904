package graft

import java.nio.file.Files

import graft.graph.GraphSchema

/** Facade test: the reference's whole endpoint pipeline in one flow —
  * ingest → ERD/schema emitters → build → query → save → load → query
  * (same results from the reopened store) → RCA.
  */
class GraftSpec extends SparkSpec {

  test("fromSqlite: upload-to-answer in two calls (the reference's flagship flow)") {
    val g = Graft.fromSqlite(spark, "/root/reference/final/bike.sqlite").build()
    assert(g.erdText.contains("Table: orders"))
    assert(g.erdText.contains("customer_id -> customers.customer_id"))
    // order_date is declared TEXT in this DB → parse in the query, the
    // notebook's own shape (date(order.order_date).year)
    val rows = g.query(
      """MATCH (o:Order)-[ci:ORDER_ITEMS]->(p:Product)
        WITH year(date(o.order_date)) AS yr, sum(ci.list_price * ci.quantity * (1 - ci.discount)) AS revenue
        RETURN yr, revenue ORDER BY yr""").collect()
    val got = rows.map(r => r.getInt(0) -> r.getDouble(1)).toMap
    assert(math.abs(got(2017) - 3447208.2425) < 0.01)
  }

  test("full pipeline on testdata with save/load roundtrip") {
    val g = Graft.fromParquet(spark, "/root/testdata/sf0.001").build()

    val q = """MATCH (c:Customer)-[:IN_NATION]->(n:Nation)
               RETURN n.n_name AS n_name, count(c) AS cnt ORDER BY n_name"""
    val direct = g.query(q).collect().toSeq
    assert(direct.nonEmpty)

    // graph statistics (the reference's count audits)
    val stats = g.describe().collect()
    assert(stats.exists(r => r.getString(0) == "node" && r.getString(1) == "Customer" && r.getLong(2) > 0))
    assert(stats.exists(r => r.getString(0) == "edge" && r.getString(1) == "CONTAINS" && r.getLong(2) > 0))

    // save → load → same query, same answer
    val dir = Files.createTempDirectory("graft_graph").toString
    g.save(dir)
    val reopened = Graft.load(spark, dir, GraphSchema.testdata)
    assert(reopened.query(q).collect().toSeq == direct)
    // every label's writes ran concurrently; each reloads row for row
    def rowsOf(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toString).sorted.toSeq
    val (saved, loaded) = (g.store.get, reopened.store.get)
    assert(loaded.nodes.keySet == saved.nodes.keySet && loaded.edges.keySet == saved.edges.keySet)
    saved.nodes.foreach { case (l, df) => assert(rowsOf(loaded.nodes(l)) == rowsOf(df), l) }
    saved.edges.foreach { case (l, df) => assert(rowsOf(loaded.edges(l)) == rowsOf(df), l) }

    // open(): build-once/query-many — the per-JVM cache hands every caller
    // the SAME persisted store, and answers still match
    val o1 = Graft.open(spark, dir, GraphSchema.testdata)
    val o2 = Graft.open(spark, dir, GraphSchema.testdata)
    assert(o1.store.get eq o2.store.get)
    assert(o1.store.get.nodes("Customer").storageLevel.useMemory)
    assert(o1.query(q).collect().toSeq == direct)
    graph.GraphStore.evict(s"open|$dir")
    assert(!o1.store.get.nodes("Customer").storageLevel.useMemory)

    // schema JSON is emitted for the viz layer
    assert(g.schemaJson.contains("\"CONTAINS\""))

    // RCA loop over the same store
    val script = Iterator(q)
    val (trace, summary) = g.rca("customer distribution?",
      planner = _ => if (script.hasNext) Some(script.next()) else None)
    assert(trace.steps.size == 1 && trace.steps.head.error.isEmpty)
    assert(summary.contains("customer distribution?"))
  }
}
