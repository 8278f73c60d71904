package graft.cypher

import org.apache.spark.sql.Row

import graft.SparkSpec
import graft.graph.{EdgeType, GraphBuilder, GraphSchema, GraphStore, NodeType}
import Ast._

class CypherSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"
  private lazy val store = GraphBuilder.buildAll(spark, sf)
  private lazy val engine = CypherEngine(store)

  // ------------------------------------------------------------- parser

  test("parser: pattern chain with where/return/order/limit") {
    val q = Parser.parse(
      """MATCH (o:Order)-[c:CONTAINS]->(p:Part)
        WHERE o.o_orderstatus = 'F' AND p.p_partkey >= 10
        RETURN p.p_name AS name, count(o) AS cnt
        ORDER BY cnt DESC, name LIMIT 5""")
    assert(q.patterns.size == 1)
    assert(q.patterns.head.head == NodePat(Some("o"), Some("Order"), Nil))
    val (rel, node) = q.patterns.head.hops.head
    assert(rel == RelPat(Some("c"), Some("CONTAINS"), Out))
    assert(node == NodePat(Some("p"), Some("Part"), Nil))
    assert(q.where.isDefined)
    assert(q.ret.items.map(_.alias) == Seq(Some("name"), Some("cnt")))
    assert(q.ret.orderBy == Seq(Sort(Var("cnt"), asc = false), Sort(Var("name"), asc = true)))
    assert(q.ret.limit.contains(5L))
  }

  test("parser: left arrow, anonymous rel, property map, var-length") {
    val q = Parser.parse(
      "MATCH (a:Person {age: 30})<-[:KNOWS*1..3]-(b) RETURN b.name")
    val (rel, _) = q.patterns.head.hops.head
    assert(rel.dir == In)
    assert(rel.varLength.contains((1, 3)))
    assert(q.patterns.head.head.props == Seq(("age", Lit(30L))))
  }

  test("parser: bare *, open bounds, negative literals, string escapes") {
    def vl(q: String) = Parser.parse(q).patterns.head.hops.head._1.varLength
    assert(vl("MATCH (a:P)-[:R*]->(b:P) RETURN a.x AS x") == Some((1, Parser.Unbounded)))
    assert(vl("MATCH (a:P)-[:R*2..]->(b:P) RETURN a.x AS x") == Some((2, Parser.Unbounded)))
    assert(vl("MATCH (a:P)-[:R*..4]->(b:P) RETURN a.x AS x") == Some((1, 4)))
    assert(vl("MATCH (a:P)-[:R*3]->(b:P) RETURN a.x AS x") == Some((3, 3)))
    // negative literals survive as literals (usable in maps and IN lists)
    val q = Parser.parse("MATCH (a:P {v: -7}) WHERE a.x IN [-1, 2.5, -2.5] RETURN a.x AS x")
    assert(q.patterns.head.head.props == Seq(("v", Lit(-7L))))
    // escapes decode
    val s = Parser.parse("MATCH (a:P) WHERE a.t = 'l1\\nl2\\u0041' RETURN a.t AS t")
    val lit = s.stages.head.where.get.asInstanceOf[Bin].r.asInstanceOf[Lit]
    assert(lit.value == "l1\nl2A")
  }

  test("ORDER BY unaliased properties and aggregates in RETURN") {
    val byProp = engine.run(
      "MATCH (r:Region) RETURN r.r_name ORDER BY r.r_name").collect()
    assert(byProp.map(_.getString(0)).toSeq == byProp.map(_.getString(0)).toSeq.sorted)
    val byAgg = engine.run(
      """MATCH (c:Customer)-[:IN_NATION]->(n:Nation)
        RETURN n.n_name, count(c) ORDER BY count(c) DESC, n.n_name LIMIT 3""").collect()
    assert(byAgg.length == 3)
    assert(byAgg.map(_.getLong(1)).toSeq == byAgg.map(_.getLong(1)).toSeq.sortBy(-_))
  }

  test("parser: rejects trailing junk and unterminated strings") {
    assertThrows[Parser.ParseException](Parser.parse("MATCH (a:X) RETURN a.b extra"))
    assertThrows[Parser.ParseException](Parser.parse("MATCH (a:X) RETURN 'oops"))
  }

  test("parser: comments strip — line, block, end-of-query; strings untouched") {
    val q = Parser.parse(
      """// leading line comment
        MATCH (o:Order) // trailing comment with 'quotes' and (parens)
        /* block
           spanning lines */
        WHERE o.o_orderstatus = '//not a comment' /* inline */ OR o.o_orderkey = 1
        RETURN o.o_orderkey AS k // tail comment""")
    assert(q.patterns.head.head == NodePat(Some("o"), Some("Order"), Nil))
    assert(q.where.isDefined)
    assert(q.ret.items.map(_.alias) == Seq(Some("k")))
    // the string literal kept its slashes
    val Some(Bin("or", Bin("=", _, Lit(s: String)), _)) = q.where: @unchecked
    assert(s == "//not a comment")
    // division still tokenizes
    assert(Parser.parse("MATCH (a:X) RETURN a.v / 2 AS h").ret.items.size == 1)
    // unterminated block comment is loud
    assertThrows[Parser.ParseException](
      Parser.parse("MATCH (a:X) /* unterminated RETURN a.v"))
  }

  // ------------------------------------------- direction correction (G7)

  test("direction correction: reversed arrow compiles to the same result") {
    // schema: PLACED_BY is Order→Customer
    val right = engine.run(
      "MATCH (o:Order)-[:PLACED_BY]->(c:Customer) RETURN count(o) AS cnt")
    val wrong = engine.run(
      "MATCH (o:Order)<-[:PLACED_BY]-(c:Customer) RETURN count(o) AS cnt")
    assert(right.collect().head.getLong(0) == wrong.collect().head.getLong(0))
    assert(right.collect().head.getLong(0) > 0)
  }

  test("untyped relationship resolves unambiguously from labels") {
    val n = engine.run(
      "MATCH (n:Nation)-[]->(r:Region) RETURN count(n) AS cnt")
      .collect().head.getLong(0)
    assert(n == store.nodes("Nation").count())
  }

  test("untyped multi-type pattern unions every fitting interpretation") {
    // Customer and Supplier both connect to Nation: the untyped hop matches
    // BOTH types (Neo4j semantics), one branch per interpretation
    val n = engine.run("MATCH (a)-[]->(n:Nation) RETURN count(a) AS cnt")
      .collect().head.getLong(0)
    assert(n == store.nodes("Customer").count() + store.nodes("Supplier").count())

    // per-branch type(r) and labels(a) resolve from per-row tag columns
    val byType = engine.run(
      """MATCH (a)-[r]->(n:Nation)
        RETURN type(r) AS typ, head(labels(a)) AS lbl, count(*) AS cnt
        ORDER BY typ""").collect()
    assert(byType.map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq == Seq(
      ("IN_NATION", "Customer", store.nodes("Customer").count()),
      ("SUPP_IN_NATION", "Supplier", store.nodes("Supplier").count())))

    // a property only SOME labels carry reads null on the other branches
    val acct = engine.run(
      """MATCH (a)-[r]->(n:Nation)
        WHERE a.c_acctbal IS NOT NULL
        RETURN count(*) AS cnt""").collect().head.getLong(0)
    val withBal = store.nodes("Customer")
      .filter(org.apache.spark.sql.functions.col("c_acctbal").isNotNull).count()
    assert(acct == withBal)
  }

  test("type disjunction [:A|B] with direction correction per branch") {
    val inOnly = engine.run(
      "MATCH (n:Nation)<-[r:IN_NATION|SUPP_IN_NATION]-(x) RETURN count(*) AS cnt")
      .collect().head.getLong(0)
    assert(inOnly == store.nodes("Customer").count() + store.nodes("Supplier").count())
    // written AGAINST schema direction: corrected per branch
    val corrected = engine.run(
      "MATCH (n:Nation)-[r:IN_NATION|SUPP_IN_NATION]->(x) RETURN count(*) AS cnt")
      .collect().head.getLong(0)
    assert(corrected == inOnly)
  }

  test("pattern beyond the interpretation cap and truly unfitting hops still reject") {
    // no relationship connects Region to Part in any direction
    assertThrows[CypherEngine.CypherException](
      engine.run("MATCH (a:Region)-[]->(b:Part) RETURN count(a) AS cnt"))
  }

  test("same-endpoint disjunction merges into one branch; var-length mixes types per step") {
    import org.apache.spark.sql.functions.col
    val nation = graft.sources.Tables.load(spark, sf, "nation")
    val k = col("n_nationkey")
    var st = graft.graph.GraphWriter.mergeNodes(GraphStore.empty, "Nation",
      nation.select(k, col("n_name")), Seq("n_nationkey"))
    st = graft.graph.GraphWriter.mergeEdges(st, "HOP", "Nation", "Nation", "src", "dst",
      nation.select(k.as("src"), ((k + 1) % 25).as("dst")))
    st = graft.graph.GraphWriter.mergeEdges(st, "JUMP", "Nation", "Nation", "src", "dst",
      nation.select(k.as("src"), ((k + 5) % 25).as("dst")))
    val eng = CypherEngine(st)
    // both types share (Nation, Nation): ONE branch, union edge frame,
    // per-row type tag
    val rows = eng.run(
      """MATCH (a:Nation {n_nationkey: 0})-[r:HOP|JUMP]->(b:Nation)
        RETURN type(r) AS typ, toInteger(b.n_nationkey) AS dst ORDER BY typ""").collect()
    assert(rows.map(r => (r.getString(0), r.getLong(1))).toSeq ==
      Seq(("HOP", 1L), ("JUMP", 5L)))
    // var-length disjunction: EACH STEP may take either type — from 0 the
    // 2-step walks are 1→2, 1→6, 5→6, 5→10, so 6 has two paths
    val walks = eng.run(
      """MATCH (a:Nation {n_nationkey: 0})-[:HOP|JUMP*1..2]->(b:Nation)
        RETURN toInteger(b.n_nationkey) AS dst, count(*) AS paths ORDER BY dst""").collect()
    assert(walks.map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      Seq((1L, 1L), (2L, 1L), (5L, 1L), (6L, 2L), (10L, 1L)))
  }

  // -------------------------------------------------------- compilation

  test("1-hop aggregate matches the direct DataFrame equivalent") {
    import org.apache.spark.sql.functions._
    val viaCypher = engine.run(
      """MATCH (c:Customer)-[:IN_NATION]->(n:Nation)
        RETURN n.n_name AS n_name, count(c) AS cnt ORDER BY n_name""").collect()
    val direct = store.nodes("Customer")
      .join(store.nodes("Nation"), col("c_nationkey") === col("n_nationkey"))
      .groupBy("n_name").agg(count(lit(1)).as("cnt"))
      .orderBy("n_name").collect()
    assert(viaCypher.toSeq == direct.toSeq)
  }

  test("node property map + WHERE + IN + IS NULL compile") {
    val rows = engine.run(
      """MATCH (o:Order {o_orderstatus: 'F'})-[:PLACED_BY]->(c:Customer)
        WHERE c.c_nationkey IN [0, 1, 2, 3] AND c.c_name IS NOT NULL
        RETURN count(o) AS cnt""").collect()
    assert(rows.head.getLong(0) > 0)
  }

  test("WITH aggregation then RETURN with ORDER BY (notebook shape)") {
    val rows = engine.run(
      """MATCH (o:Order)-[l:CONTAINS]->(p:Part)
        WITH year(o.o_orderdate) AS yr, count(l) AS cnt
        RETURN yr, cnt ORDER BY yr""").collect()
    assert(rows.nonEmpty)
    val years = rows.map(_.getInt(0)).toSeq
    assert(years == years.sorted)
  }

  test("chained WITH stages: aggregate then re-aggregate") {
    // orders per customer → distribution of those counts
    val rows = engine.run(
      """MATCH (o:Order)-[:PLACED_BY]->(c:Customer)
        WITH c.c_custkey AS ck, count(o) AS n_orders
        WITH n_orders, count(ck) AS n_customers
        RETURN n_orders, n_customers ORDER BY n_orders""").collect()
    assert(rows.nonEmpty)
    val viaSql = {
      import org.apache.spark.sql.functions._
      store.edges("PLACED_BY")
        .groupBy("o_custkey").agg(count(lit(1)).as("n_orders"))
        .groupBy("n_orders").agg(count(lit(1)).as("n_customers"))
        .orderBy("n_orders").collect()
    }
    assert(rows.toSeq == viaSql.toSeq)
  }

  test("MATCH after WITH: top-k then expand (RCA shape)") {
    import org.apache.spark.sql.functions._
    // top-2 nations by customer count, then expand to their region names
    val rows = engine.run(
      """MATCH (c:Customer)-[:IN_NATION]->(n:Nation)
        WITH n, count(c) AS cnt ORDER BY cnt DESC, n.n_nationkey LIMIT 2
        MATCH (n)-[:IN_REGION]->(r:Region)
        RETURN r.r_name AS r_name, n.n_name AS n_name, cnt
        ORDER BY cnt DESC, n_name""").collect()
    assert(rows.length == 2)
    val direct = store.nodes("Customer")
      .groupBy("c_nationkey").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("c_nationkey")).limit(2)
      .join(store.nodes("Nation"), col("c_nationkey") === col("n_nationkey"))
      .join(store.nodes("Region"), col("n_regionkey") === col("r_regionkey"))
      .select("r_name", "n_name", "cnt")
      .orderBy(col("cnt").desc, col("n_name")).collect()
    assert(rows.toSeq == direct.toSeq)
  }

  test("carried node variable stays addressable after WITH") {
    val rows = engine.run(
      """MATCH (c:Customer)-[:IN_NATION]->(n:Nation)
        WITH n, count(c) AS cnt WHERE cnt > 0
        RETURN n.n_name AS name, cnt ORDER BY name LIMIT 3""").collect()
    assert(rows.length == 3)
    assert(rows.forall(r => r.getString(0) != null && r.getLong(1) > 0))
  }

  test("shared variable across patterns joins instead of cross-products") {
    val shared = engine.run(
      """MATCH (c:Customer)-[:IN_NATION]->(n:Nation), (s:Supplier)-[:SUPP_IN_NATION]->(n)
        RETURN count(c) AS cnt""").collect().head.getLong(0)
    import org.apache.spark.sql.functions._
    val direct = store.nodes("Customer")
      .join(store.nodes("Supplier").withColumnRenamed("s_nationkey", "sn"),
        col("c_nationkey") === col("sn"))
      .count()
    assert(shared == direct)
  }

  // ------------------------------------------------------- OPTIONAL MATCH

  test("OPTIONAL MATCH keeps unmatched rows; count ignores nulls") {
    import org.apache.spark.sql.functions._
    val viaCypher = engine.run(
      """MATCH (c:Customer)
        OPTIONAL MATCH (c)<-[:PLACED_BY]-(o:Order)
        RETURN c.c_custkey AS ck, count(o) AS cnt ORDER BY ck""").collect()
    val direct = store.nodes("Customer")
      .join(store.edges("PLACED_BY").withColumnRenamed("o_custkey", "ck2"),
        col("c_custkey") === col("ck2"), "left_outer")
      .groupBy(col("c_custkey").as("ck"))
      .agg(count(col("o_orderkey")).as("cnt"))
      .orderBy("ck").collect()
    assert(viaCypher.toSeq == direct.toSeq)
    // an impossible optional pattern keeps every row with count 0
    val none = engine.run(
      """MATCH (c:Customer)
        OPTIONAL MATCH (c)<-[:PLACED_BY]-(o:Order {o_orderstatus: 'ZZ'})
        RETURN c.c_custkey AS ck, count(o) AS cnt ORDER BY ck""").collect()
    assert(none.length == store.nodes("Customer").count())
    assert(none.forall(_.getLong(1) == 0L))
  }

  test("WHERE n:Label on an OPTIONAL-bound variable drops null-extended rows") {
    // Neo4j: `o:Order` on a null-extended o evaluates to NULL, so a
    // WHERE over the whole row (`WITH … WHERE`) filters it — the
    // compile-time label constant must not fold to a bare true for
    // nullable bindings
    val matched = engine.run(
      """MATCH (c:Customer)<-[:PLACED_BY]-(o:Order)
         RETURN count(*) AS cnt""").collect().head.getLong(0)
    val viaOpt = engine.run(
      """MATCH (c:Customer)
         OPTIONAL MATCH (c)<-[:PLACED_BY]-(o:Order)
         WITH c, o WHERE o:Order
         RETURN count(*) AS cnt""").collect().head.getLong(0)
    assert(viaOpt == matched)
    // an impossible optional pattern null-extends every row; the label
    // predicate then drops them all (NULL, not folded true)
    val zero = engine.run(
      """MATCH (c:Customer)
         OPTIONAL MATCH (c)<-[:PLACED_BY]-(o:Order {o_orderstatus: 'ZZ'})
         WITH c, o WHERE o:Order
         RETURN count(*) AS cnt""").collect().head.getLong(0)
    assert(zero == 0L)
    // NOT (NULL) is NULL too — still filtered (never true)
    val notZero = engine.run(
      """MATCH (c:Customer)
         OPTIONAL MATCH (c)<-[:PLACED_BY]-(o:Order {o_orderstatus: 'ZZ'})
         WITH c, o WHERE NOT o:Order
         RETURN count(*) AS cnt""").collect().head.getLong(0)
    assert(notZero == 0L)
  }

  test("WHERE after OPTIONAL MATCH filters the optional side, keeping outer rows") {
    // Cypher: the WHERE is part of the optional pattern, so a nation
    // whose region fails it keeps its row with r null-extended
    val expected = store.nodes("Nation").collect()
      .map(r => (r.getAs[Number]("n_nationkey").longValue,
        r.getAs[Number]("n_regionkey").longValue))
      .filter(_._1 < 6).sortBy(_._1)
      .map { case (k, rk) => (k, if (rk == 1L) Some(1L) else None) }.toSeq
    assert(expected.size == 6 && expected.exists(_._2.isDefined) &&
      expected.exists(_._2.isEmpty))
    def rows(q: String): Seq[(Long, Option[Long])] = engine.run(q).collect().toSeq
      .map(r => (r.getLong(0), if (r.isNullAt(1)) None else Some(r.getLong(1))))
    val viaWhere = rows(
      """MATCH (n:Nation) WITH n WHERE n.n_nationkey < 6
         OPTIONAL MATCH (n)-[:IN_REGION]->(r:Region) WHERE r.r_regionkey = 1
         RETURN toInteger(n.n_nationkey) AS k, toInteger(r.r_regionkey) AS rk
         ORDER BY k""")
    assert(viaWhere == expected)
    val viaInline = rows(
      """MATCH (n:Nation) WITH n WHERE n.n_nationkey < 6
         OPTIONAL MATCH (n)-[:IN_REGION]->(r:Region {r_regionkey: 1})
         RETURN toInteger(n.n_nationkey) AS k, toInteger(r.r_regionkey) AS rk
         ORDER BY k""")
    assert(viaInline == expected)
    // a shared variable is part of the pattern and may be read
    val viaShared = rows(
      """MATCH (n:Nation) WITH n WHERE n.n_nationkey < 6
         OPTIONAL MATCH (n)-[:IN_REGION]->(r:Region)
         WHERE r.r_regionkey = 1 AND n.n_nationkey >= 0
         RETURN toInteger(n.n_nationkey) AS k, toInteger(r.r_regionkey) AS rk
         ORDER BY k""")
    assert(viaShared == expected)
    // an enclosing variable outside the optional pattern rejects loudly
    val ex = intercept[CypherEngine.CypherException](engine.run(
      """MATCH (n:Nation), (x:Region {r_regionkey: 1})
         OPTIONAL MATCH (n)-[:IN_REGION]->(r:Region)
         WHERE r.r_regionkey = x.r_regionkey
         RETURN n.n_nationkey AS k, r.r_regionkey AS rk"""))
    assert(ex.getMessage.contains("x") && ex.getMessage.contains("WITH"))
  }

  test("WHERE after OPTIONAL MATCH shortestPath filters the optional side") {
    val expected = store.nodes("Nation").collect()
      .map(r => (r.getAs[Number]("n_nationkey").longValue,
        r.getAs[Number]("n_regionkey").longValue))
      .filter(_._1 < 6).sortBy(_._1)
      .map { case (k, rk) => (k, if (rk == 1L) Some(1L) else None) }.toSeq
    assert(expected.size == 6 && expected.exists(_._2.isDefined) &&
      expected.exists(_._2.isEmpty))
    def rows(q: String): Seq[(Long, Option[Long])] = engine.run(q).collect().toSeq
      .map(r => (r.getLong(0), if (r.isNullAt(1)) None else Some(r.getLong(1))))
    val viaWhere = rows(
      """MATCH (n:Nation) WITH n WHERE n.n_nationkey < 6
         OPTIONAL MATCH p = shortestPath((n)-[:IN_REGION]->(r:Region))
         WHERE r.r_regionkey = 1
         RETURN toInteger(n.n_nationkey) AS k, toInteger(r.r_regionkey) AS rk
         ORDER BY k""")
    assert(viaWhere == expected)
    // the path variable and the start endpoint belong to the pattern too
    val viaShared = rows(
      """MATCH (n:Nation) WITH n WHERE n.n_nationkey < 6
         OPTIONAL MATCH p = shortestPath((n)-[:IN_REGION]->(r:Region))
         WHERE r.r_regionkey = 1 AND length(p) = 1 AND n.n_nationkey >= 0
         RETURN toInteger(n.n_nationkey) AS k, toInteger(r.r_regionkey) AS rk
         ORDER BY k""")
    assert(viaShared == expected)
    val ex = intercept[CypherEngine.CypherException](engine.run(
      """MATCH (n:Nation), (x:Region {r_regionkey: 1})
         OPTIONAL MATCH p = shortestPath((n)-[:IN_REGION]->(r:Region))
         WHERE r.r_regionkey = x.r_regionkey
         RETURN n.n_nationkey AS k, r.r_regionkey AS rk"""))
    assert(ex.getMessage.contains("x") && ex.getMessage.contains("WITH"))
  }

  test("OPTIONAL MATCH without a shared variable is rejected") {
    assertThrows[CypherEngine.CypherException](
      engine.run(
        """MATCH (c:Customer) OPTIONAL MATCH (s:Supplier)-[:SUPP_IN_NATION]->(n:Nation)
          RETURN count(c) AS cnt"""))
  }

  // ------------------------------------------------------ var-length paths

  private lazy val chainStore: GraphStore = {
    import spark.implicits._
    val people = Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d")).toDF("id", "name")
    // a→b→c→d chain
    val knows = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("src_id", "dst_id")
    GraphStore(
      GraphSchema(
        nodes = Seq(NodeType("Person", "id", Seq("name"), Seq("people"))),
        edges = Seq(EdgeType("KNOWS", "Person", "Person", "src_id", "dst_id", Nil, "knows"))),
      nodes = Map("Person" -> people),
      edges = Map("KNOWS" -> knows))
  }

  test("var-length *1..3 returns one row per path") {
    val e = CypherEngine(chainStore)
    // paths from a: a→b, a→b→c, a→b→c→d
    val rows = e.run(
      """MATCH (a:Person {name: 'a'})-[:KNOWS*1..3]->(b:Person)
        RETURN b.name AS name ORDER BY name""").collect()
    assert(rows.map(_.getString(0)).toSeq == Seq("b", "c", "d"))
    // exactly two hops
    val two = e.run(
      """MATCH (a:Person {name: 'a'})-[:KNOWS*2..2]->(b:Person)
        RETURN b.name AS name""").collect()
    assert(two.map(_.getString(0)).toSeq == Seq("c"))
  }

  test("var-length respects direction correction too") {
    val e = CypherEngine(chainStore)
    val rows = e.run(
      """MATCH (b:Person)<-[:KNOWS*1..2]-(a:Person {name: 'a'})
        RETURN b.name AS name ORDER BY name""").collect()
    assert(rows.map(_.getString(0)).toSeq == Seq("b", "c"))
  }

  // ---------------------------------------------------------- functions

  test("scalar functions: toLower, substring, coalesce, size") {
    val rows = engine.run(
      """MATCH (r:Region)
        RETURN toLower(r.r_name) AS lname, substring(r.r_name, 0, 2) AS pre
        ORDER BY lname""").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getString(0) == r.getString(0).toLowerCase)
      assert(r.getString(1).length <= 2)
    }
  }

  test("validate() reports syntax/schema errors without executing") {
    assert(engine.validate(
      "MATCH (c:Customer)-[:IN_NATION]->(n:Nation) RETURN count(c) AS cnt").isEmpty)
    assert(engine.validate("MATCH (c:Customer RETURN c").exists(_.startsWith("syntax:")))
    assert(engine.validate("MATCH (x:Nope) RETURN count(x) AS c").exists(_.startsWith("schema:")))
    assert(engine.validate(
      "MATCH (c:Customer) RETURN c.no_such_prop AS p").nonEmpty)
  }

  test("probeValue: case-insensitive existence check with short-circuit") {
    val aRegion = store.nodes("Region").select("r_name").head().getString(0)
    assert(engine.probeValue("Region", "r_name", aRegion.toLowerCase))
    assert(!engine.probeValue("Region", "r_name", "no such region"))
  }

  test("CASE expressions: searched and simple forms") {
    val rows = engine.run(
      """MATCH (o:Order)
        RETURN CASE WHEN o.o_totalprice > 100000 THEN 'big' ELSE 'small' END AS bucket,
               count(o) AS cnt ORDER BY bucket""").collect()
    assert(rows.map(_.getString(0)).toSeq.sorted == rows.map(_.getString(0)).toSeq)
    assert(rows.map(_.getLong(1)).sum == store.nodes("Order").count())
    val simple = engine.run(
      """MATCH (o:Order)
        RETURN CASE o.o_orderstatus WHEN 'F' THEN 'final' WHEN 'O' THEN 'open' ELSE 'other' END AS st,
               count(o) AS cnt ORDER BY st""").collect()
    assert(simple.map(_.getString(0)).toSet.subsetOf(Set("final", "open", "other")))
    assert(simple.map(_.getLong(1)).sum == store.nodes("Order").count())
  }

  // --------------------------------------- string predicates / params / UNWIND

  test("string predicates: STARTS WITH / CONTAINS / ENDS WITH / =~") {
    import org.apache.spark.sql.functions._
    val viaCypher = engine.run(
      """MATCH (p:Part)
        WHERE p.p_name STARTS WITH 'red'
           OR (p.p_name CONTAINS 'bolt' AND p.p_type ENDS WITH 'DARD')
           OR p.p_name =~ '(hot|old) gear'
        RETURN count(p) AS cnt""").collect().head.getLong(0)
    val direct = store.nodes("Part").filter(
      col("p_name").startsWith("red") ||
        (col("p_name").contains("bolt") && col("p_type").endsWith("DARD")) ||
        col("p_name").rlike("^(?:(hot|old) gear)$")).count()
    assert(viaCypher == direct && viaCypher > 0)
    // =~ matches the WHOLE string (Neo4j semantics), not a substring
    val substr = engine.run(
      "MATCH (p:Part) WHERE p.p_name =~ 'red' RETURN count(p) AS cnt")
      .collect().head.getLong(0)
    assert(substr == 0)
  }

  test("parameters: scalar and list binding; missing param rejected") {
    val aNation = store.nodes("Nation").select("n_name").head().getString(0)
    val scalar = engine.run(
      """MATCH (c:Customer)-[:IN_NATION]->(n:Nation)
        WHERE n.n_name = $nation RETURN count(c) AS cnt""",
      Map("nation" -> aNation)).collect().head.getLong(0)
    val direct = engine.run(
      s"""MATCH (c:Customer)-[:IN_NATION]->(n:Nation)
         WHERE n.n_name = '$aNation' RETURN count(c) AS cnt""")
      .collect().head.getLong(0)
    assert(scalar == direct && scalar > 0)
    // a Seq param binds a list usable with IN
    val listed = engine.run(
      "MATCH (n:Nation) WHERE n.n_regionkey IN $rks RETURN count(n) AS cnt",
      Map("rks" -> Seq(0L, 1L))).collect().head.getLong(0)
    val directIn = engine.run(
      "MATCH (n:Nation) WHERE n.n_regionkey IN [0, 1] RETURN count(n) AS cnt")
      .collect().head.getLong(0)
    assert(listed == directIn && listed > 0)
    assertThrows[CypherEngine.CypherException](
      engine.run("MATCH (n:Nation) WHERE n.n_name = $nope RETURN count(n) AS c",
        Map.empty[String, Any]))
    // property-map position binds too
    val viaMap = engine.run(
      "MATCH (o:Order {o_orderstatus: $st}) RETURN count(o) AS cnt",
      Map("st" -> "F")).collect().head.getLong(0)
    assert(viaMap > 0)
  }

  test("UNWIND: leading list, param list, correlation, post-MATCH") {
    val rows = engine.run("UNWIND [3, 1, 2] AS x RETURN x ORDER BY x").collect()
    assert(rows.map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L))
    val viaParam = engine.run("UNWIND $xs AS x RETURN count(x) AS cnt",
      Map("xs" -> Seq(10L, 20L))).collect().head.getLong(0)
    assert(viaParam == 2L)
    // correlated with a pattern: one group per unwound element
    val corr = engine.run(
      """UNWIND [0, 1] AS rk
        MATCH (n:Nation) WHERE n.n_regionkey = rk
        RETURN rk, count(n) AS cnt ORDER BY rk""").collect()
    assert(corr.map(_.getLong(0)).toSeq == Seq(0L, 1L))
    assert(corr.forall(_.getLong(1) > 0))
    // UNWIND after MATCH multiplies rows
    val mult = engine.run(
      "MATCH (r:Region) UNWIND [1, 2] AS i RETURN count(i) AS cnt")
      .collect().head.getLong(0)
    assert(mult == 2 * store.nodes("Region").count())
  }

  test("keyword-named variable + date().year postfix (notebook spelling)") {
    val viaPostfix = engine.run(
      """MATCH (order:Order)-[l:CONTAINS]->(p:Part)
        WITH toString(date(order.o_orderdate).year) AS yr, count(l) AS cnt
        RETURN yr, cnt ORDER BY yr""").collect()
    val viaFn = engine.run(
      """MATCH (o:Order)-[l:CONTAINS]->(p:Part)
        WITH toString(year(o.o_orderdate)) AS yr, count(l) AS cnt
        RETURN yr, cnt ORDER BY yr""").collect()
    assert(viaPostfix.nonEmpty && viaPostfix.toSeq == viaFn.toSeq)
  }

  test("UNION deduplicates, UNION ALL keeps, trailing ORDER BY binds to union") {
    val dup = engine.run(
      """MATCH (r:Region) RETURN r.r_name AS name
        UNION
        MATCH (r:Region) RETURN r.r_name AS name
        ORDER BY name""").collect()
    assert(dup.length == store.nodes("Region").count())
    assert(dup.map(_.getString(0)).toSeq == dup.map(_.getString(0)).toSeq.sorted)
    val dupAll = engine.run(
      """MATCH (r:Region) RETURN r.r_name AS name
        UNION ALL
        MATCH (r:Region) RETURN r.r_name AS name""").collect()
    assert(dupAll.length == 2 * store.nodes("Region").count())
    assertThrows[CypherEngine.CypherException](engine.run(
      """MATCH (r:Region) RETURN r.r_name AS name
        UNION
        MATCH (r:Region) RETURN r.r_name AS name
        UNION ALL
        MATCH (r:Region) RETURN r.r_name AS name"""))
  }

  test("exists() pattern predicate compiles to semi/anti join") {
    import org.apache.spark.sql.functions._
    val withOrders = engine.run(
      """MATCH (c:Customer)
        WHERE exists((c)<-[:PLACED_BY]-(o:Order)) RETURN count(c) AS cnt""")
      .collect().head.getLong(0)
    val withoutOrders = engine.run(
      """MATCH (c:Customer)
        WHERE NOT exists((c)<-[:PLACED_BY]-(o:Order)) RETURN count(c) AS cnt""")
      .collect().head.getLong(0)
    assert(withOrders + withoutOrders == store.nodes("Customer").count())
    val direct = store.nodes("Customer")
      .join(store.edges("PLACED_BY").select(col("o_custkey").as("c_custkey")),
        Seq("c_custkey"), "left_semi").count()
    assert(withOrders == direct && withOrders > 0)
    // anti join with an impossible sub-pattern keeps every row
    val impossible = engine.run(
      """MATCH (c:Customer)
        WHERE NOT exists((c)<-[:PLACED_BY]-(o:Order {o_orderstatus: 'ZZ'}))
        RETURN count(c) AS cnt""").collect().head.getLong(0)
    assert(impossible == store.nodes("Customer").count())
    // property-existence form still works
    val propForm = engine.run(
      "MATCH (c:Customer) WHERE exists(c.c_name) RETURN count(c) AS cnt")
      .collect().head.getLong(0)
    assert(propForm == store.nodes("Customer").count())
  }

  test("DISTINCT and SKIP/LIMIT pagination") {
    val all = engine.run(
      "MATCH (n:Nation) RETURN DISTINCT n.n_regionkey AS rk ORDER BY rk").collect()
    val page = engine.run(
      "MATCH (n:Nation) RETURN DISTINCT n.n_regionkey AS rk ORDER BY rk SKIP 1 LIMIT 2").collect()
    assert(page.toSeq == all.toSeq.slice(1, 3))
  }

  test("WITH * carries all bound variables; REMOVE nulls a property") {
    // WITH * keeps both nodes addressable after the projection boundary
    val rows = engine.run(
      """MATCH (n:Nation)-[:IN_REGION]->(r:Region)
         WITH *
         WHERE r.r_regionkey = 1
         RETURN n.n_name AS nn, r.r_name AS rn ORDER BY nn""").collect()
    assert(rows.nonEmpty && rows.forall(_.getString(1) != null))
    // WITH *, extra item on top
    val mixed = engine.run(
      """MATCH (n:Nation)
         WITH *, n.n_nationkey * 2 AS dbl
         WHERE n.n_nationkey = 3
         RETURN n.n_name AS nn, dbl""").collect()
    assert(mixed.head.getLong(1) == 6L)
    // REMOVE = SET-to-null
    val st = CypherEngine(GraphStore.empty).execute(
      "MERGE (n:Rm {rid: 1}) SET n += {rid: 1, tag: 'x'}").store
    val after = CypherEngine(st).execute("MATCH (n:Rm) REMOVE n.tag").store
    assert(after.nodes("Rm").collect() === Array(Row(1L, null)))
  }

  test("aggregate breadth: percentileCont/Disc, stDevP, DISTINCT sum/avg") {
    val r = engine.run(
      """MATCH (c:Customer)
         RETURN percentileCont(c.c_nationkey, 0.5) AS med,
                percentileDisc(c.c_nationkey, 0.5) AS medd,
                stDevP(c.c_nationkey) AS sdp,
                sum(DISTINCT c.c_nationkey) AS sd,
                avg(DISTINCT c.c_nationkey) AS ad""").collect().head
    // customers cover all 25 nations roughly uniformly
    assert(r.getDouble(0) >= 0 && r.getDouble(0) <= 24)
    assert(r.getAs[Number](1).longValue >= 0)
    assert(r.getDouble(2) > 0)
    assert(r.getAs[Number](3).longValue == (0L to 24L).sum)
    assert(math.abs(r.getDouble(4) - 12.0) < 1e-9)
  }

  test("list comprehensions, reduce, and list indexing") {
    val r = engine.run(
      """MATCH (n:Nation) WHERE n.n_nationkey = 2
         RETURN [x IN [1, 2, 3, 4] WHERE x % 2 = 0] AS evens,
                [x IN [1, 2, 3] | x * 10] AS tens,
                [x IN [1, 2, 3, 4] WHERE x > 1 | x + 100] AS both,
                reduce(s = 0, x IN [1, 2, 3, 4] | s + x) AS total,
                [10, 20, 30][0] AS first,
                [10, 20, 30][-1] AS last_el,
                [w IN split(n.n_name, '_') WHERE size(w) > 1][0] AS word""")
      .collect().head
    assert(r.getSeq[Long](0) == Seq(2L, 4L))
    assert(r.getSeq[Long](1) == Seq(10L, 20L, 30L))
    assert(r.getSeq[Long](2) == Seq(102L, 103L, 104L))
    assert(r.getLong(3) == 10L)
    assert(r.getLong(4) == 10L)
    assert(r.getLong(5) == 30L)
    assert(r.getString(6) == "NATION")
  }

  test("list index out of range is null under both ANSI settings") {
    val prior = spark.conf.get("spark.sql.ansi.enabled")
    try Seq("true", "false").foreach { ansi =>
      spark.conf.set("spark.sql.ansi.enabled", ansi)
      // the q77 shape: index into a comprehension that kept no element
      val r = engine.run(
        """MATCH (n:Nation) WHERE n.n_nationkey = 2
           WITH n, [w IN split(n.n_name, '_') WHERE size(w) > 40 | toUpper(w)] AS words
           RETURN [1, 2][5] AS past_end, [1, 2][-5] AS before_start,
                  words[0] AS first_long, [1, 2][-2] AS first, [1, 2][1] AS second""")
        .collect().head
      assert(r.isNullAt(0) && r.isNullAt(1) && r.isNullAt(2), s"ansi=$ansi")
      assert(r.getLong(3) == 1L && r.getLong(4) == 2L, s"ansi=$ansi")
      // indices past the int range: an int cast would wrap them onto a
      // valid position (2^32 -> 0) or onto the invalid index 0, and i + 1
      // overflows at Long.MaxValue
      Seq("4294967296", "4294967295", "-4294967296", "9223372036854775807").foreach { i =>
        val big = engine.run(
          s"MATCH (n:Nation) WHERE n.n_nationkey = 2 RETURN [1, 2][$i] AS x")
          .collect().head
        assert(big.isNullAt(0), s"ansi=$ansi index=$i")
      }
    } finally spark.conf.set("spark.sql.ansi.enabled", prior)
  }

  test("toInteger/toFloat on strings are null when unparsable under both ANSI settings") {
    val prior = spark.conf.get("spark.sql.ansi.enabled")
    try Seq("true", "false").foreach { ansi =>
      spark.conf.set("spark.sql.ansi.enabled", ansi)
      val r = engine.run(
        """MATCH (n:Nation) WHERE n.n_nationkey = 2
           RETURN toInteger('3.7') AS dec, toInteger(' 42 ') AS padded,
                  toInteger('abc') AS bad, toInteger('-9.9') AS neg,
                  toInteger('9223372036854775807') AS max, toInteger(3.7) AS num,
                  toFloat('x') AS badf, toFloat(' 1.5 ') AS f, toFloat(2) AS fi""")
        .collect().head
      assert(r.getLong(0) == 3L && r.getLong(1) == 42L, s"ansi=$ansi")
      assert(r.isNullAt(2), s"ansi=$ansi")
      assert(r.getLong(3) == -9L && r.getLong(4) == Long.MaxValue && r.getLong(5) == 3L, s"ansi=$ansi")
      assert(r.isNullAt(6), s"ansi=$ansi")
      assert(r.getDouble(7) == 1.5 && r.getDouble(8) == 2.0, s"ansi=$ansi")
    } finally spark.conf.set("spark.sql.ansi.enabled", prior)
  }

  test("WHERE before MATCH, OPTIONAL MATCH, UNWIND or CALL {} closes the stage like WITH *") {
    val forms = Seq(
      """MATCH (n:Nation) WHERE n.n_nationkey < 6
         OPTIONAL MATCH (n)-[:IN_REGION]->(r:Region {r_regionkey: 1})
         RETURN n.n_nationkey AS k, r.r_regionkey AS rk ORDER BY k""",
      """MATCH (n:Nation) WHERE n.n_nationkey < 3
         MATCH (m:Nation) WHERE m.n_regionkey = n.n_regionkey
         RETURN n.n_nationkey AS k, m.n_nationkey AS m ORDER BY k, m""",
      """MATCH (n:Nation) WHERE n.n_nationkey < 3
         CALL { WITH n MATCH (m:Nation) WHERE m.n_regionkey = n.n_regionkey
                RETURN count(m) AS c }
         RETURN n.n_nationkey AS k, c ORDER BY k""",
      """MATCH (n:Nation) WHERE n.n_nationkey < 2
         UNWIND [1, 2] AS x
         RETURN n.n_nationkey AS k, x ORDER BY k, x""")
    forms.foreach { q =>
      val closed = Parser.parse(q).stages.head
      assert(closed.where.isDefined && closed.projection.isEmpty && closed.writes.isEmpty, q)
      val rows = engine.run(q).collect().toSeq
      val withStar = engine.run(q.replaceFirst("WHERE", "WITH * WHERE")).collect().toSeq
      assert(rows.nonEmpty, q)
      assert(rows == withStar, q)
    }
    // the OPTIONAL MATCH form keeps the unmatched nations with a null region
    val opt = engine.run(forms.head).collect()
    assert(opt.length == 6 && opt.exists(_.isNullAt(1)) && opt.exists(r => !r.isNullAt(1)))
  }

  test("list predicates all/any/none/single") {
    val r = engine.run(
      """MATCH (n:Nation) WHERE n.n_nationkey = 2
         RETURN all(x IN [1, 2, 3] WHERE x > 0) AS a,
                all(x IN [1, 2, 3] WHERE x > 1) AS a2,
                any(x IN [1, 2, 3] WHERE x > 2) AS b,
                any(x IN [1, 2, 3] WHERE x > 3) AS b2,
                none(x IN [1, 2, 3] WHERE x > 3) AS c,
                single(x IN [1, 2, 3] WHERE x = 2) AS d,
                single(x IN [1, 2, 2] WHERE x = 2) AS e,
                all(w IN split(n.n_name, '_') WHERE size(w) >= 1) AS str_lam""")
      .collect().head
    assert(r.getBoolean(0) && !r.getBoolean(1))
    assert(r.getBoolean(2) && !r.getBoolean(3))
    assert(r.getBoolean(4))
    assert(r.getBoolean(5) && !r.getBoolean(6))
    assert(r.getBoolean(7)) // lambda var typed as string via split()
    // the idiomatic text2cypher path filter: WHERE all(x IN nodes(p) ...)
    val st0 = CypherEngine(GraphStore.empty).execute(
      "UNWIND $rows AS row MERGE (n:LP {sid: row.sid}) SET n += {sid: row.sid}",
      Map("rows" -> Seq(1L, 2L, 3L, 4L).map(i => Map[String, Any]("sid" -> i)))).store
    val st = CypherEngine(st0).execute(
      """UNWIND $rows AS row
         MATCH (s:LP) WHERE s.sid = row.a
         WITH s, row
         MATCH (t:LP) WHERE t.sid = row.b
         MERGE (s)-[r:NXT]->(t)""",
      Map("rows" -> Seq((1L, 2L), (2L, 3L), (3L, 4L), (1L, 4L))
        .map { case (a, b) => Map[String, Any]("a" -> a, "b" -> b) })).store
    val filtered = CypherEngine(st).run(
      """MATCH p = shortestPath((a:LP {sid: 1})-[:NXT*1..5]->(b:LP))
         WHERE all(x IN nodes(p) WHERE x < 4)
         RETURN b.sid AS dst ORDER BY dst""").collect().map(_.getLong(0)).toSeq
    // 1→4 (shortcut, contains 4) and 1→2→3→4 fail; 1→2, 1→2→3 pass
    assert(filtered == Seq(2L, 3L))
  }

  test("var-length and shortestPath relationship-property filters apply at every hop") {
    spark
    // chain 1→2→3→4 (all w=1) plus a w=0 shortcut 1→4 and a tail 4→5 (w=1)
    val st0 = CypherEngine(GraphStore.empty).execute(
      "UNWIND $rows AS row MERGE (n:WP {sid: row.sid}) SET n += {sid: row.sid}",
      Map("rows" -> Seq(1L, 2L, 3L, 4L, 5L).map(i => Map[String, Any]("sid" -> i)))).store
    val st = CypherEngine(st0).execute(
      """UNWIND $rows AS row
         MATCH (s:WP) WHERE s.sid = row.a
         WITH s, row
         MATCH (t:WP) WHERE t.sid = row.b
         WITH s, t, row
         MERGE (s)-[r:STEP {w: row.w}]->(t)""",
      Map("rows" -> Seq((1L, 2L, 1L), (2L, 3L, 1L), (3L, 4L, 1L), (1L, 4L, 0L), (4L, 5L, 1L))
        .map { case (a, b, w) => Map[String, Any]("a" -> a, "b" -> b, "w" -> w) })).store
    val e = CypherEngine(st)
    // closure: the w=0 shortcut is excluded from EVERY level, so node 4 is
    // reachable only by the 3-hop chain (unfiltered it has 2 paths: len 1+3)
    val walks = e.run(
      """MATCH (a:WP {sid: 1})-[:STEP*1..3 {w: 1}]->(b:WP)
         RETURN b.sid AS dst, count(*) AS paths ORDER BY dst""").collect()
    assert(walks.map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      Seq((2L, 1L), (3L, 1L), (4L, 1L)))
    // shortestPath: the filter must reach the BFS edge set — distance to 4
    // is 3 (not the unfiltered shortcut's 1), and 5 sits behind it at 4
    val sp = e.run(
      """MATCH p = shortestPath((a:WP {sid: 1})-[:STEP*1..5 {w: 1}]->(b:WP))
         RETURN b.sid AS dst, length(p) AS len ORDER BY dst""").collect()
    assert(sp.map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      Seq((2L, 1L), (3L, 2L), (4L, 3L), (5L, 4L)))
    val spNo = e.run(
      """MATCH p = shortestPath((a:WP {sid: 1})-[:STEP*1..5]->(b:WP))
         RETURN b.sid AS dst, length(p) AS len ORDER BY dst""").collect()
    assert(spNo.map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      Seq((2L, 1L), (3L, 2L), (4L, 1L), (5L, 2L)))
    // a property the type lacks matches no edge (missing prop reads null)
    assert(e.run(
      """MATCH (a:WP {sid: 1})-[:STEP*1..2 {nope: 1}]->(b:WP)
         RETURN b.sid AS dst""").collect().isEmpty)
  }

  test("shortestPath: minimum hops, direction, bounds, undirected") {
    spark // empty-store writes resolve the session via SparkSession.active
    // ring with a shortcut: 1→2→3→4 and 1→4
    val st0 = CypherEngine(GraphStore.empty).execute(
      "UNWIND $rows AS row MERGE (n:SP {sid: row.sid}) SET n += {sid: row.sid}",
      Map("rows" -> Seq(1L, 2L, 3L, 4L).map(i => Map[String, Any]("sid" -> i)))).store
    val st = CypherEngine(st0).execute(
      """UNWIND $rows AS row
         MATCH (s:SP) WHERE s.sid = row.a
         WITH s, row
         MATCH (t:SP) WHERE t.sid = row.b
         MERGE (s)-[r:STEP]->(t)""",
      Map("rows" -> Seq((1L, 2L), (2L, 3L), (3L, 4L), (1L, 4L))
        .map { case (a, b) => Map[String, Any]("a" -> a, "b" -> b) })).store
    val e = CypherEngine(st)
    val fromOne = e.run(
      """MATCH p = shortestPath((a:SP {sid: 1})-[:STEP*1..5]->(b:SP))
         RETURN b.sid AS dst, length(p) AS len ORDER BY dst""").collect()
    assert(fromOne.map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      Seq((2L, 1L), (3L, 2L), (4L, 1L))) // shortcut beats the 3-hop chain
    // lower bound excludes the direct edge: 1→4 must go the long way
    val lo2 = e.run(
      """MATCH p = shortestPath((a:SP {sid: 1})-[:STEP*2..5]->(b:SP {sid: 4}))
         RETURN length(p) AS len""").collect()
    assert(lo2.map(_.getLong(0)).toSeq == Seq(3L))
    // lower bound > 1 enumerates walks level by level — a huge explicit
    // upper bound is a planning-time explosion and must be refused
    val capped = intercept[CypherEngine.CypherException](e.run(
      """MATCH p = shortestPath((a:SP {sid: 1})-[:STEP*2..100000]->(b:SP {sid: 4}))
         RETURN length(p) AS len"""))
    assert(capped.getMessage.contains("must be <= 10"))
    // undirected reaches backwards in one hop
    val undir = e.run(
      """MATCH p = shortestPath((a:SP {sid: 4})-[:STEP*1..5]-(b:SP {sid: 3}))
         RETURN length(p) AS len""").collect()
    assert(undir.map(_.getLong(0)).toSeq == Seq(1L))
    // directed from 4: nothing reachable
    assert(e.run(
      """MATCH p = shortestPath((a:SP {sid: 4})-[:STEP*1..5]->(b:SP))
         RETURN b.sid AS dst""").collect().isEmpty)

    // nodes(p): full node-key sequence; 1→4 takes the shortcut, 1→3 chains
    val ns = e.run(
      """MATCH p = shortestPath((a:SP {sid: 1})-[:STEP*1..5]->(b:SP))
         RETURN b.sid AS dst, nodes(p) AS path ORDER BY dst""").collect()
    assert(ns.map(r => r.getLong(0) -> r.getSeq[Long](1)).toSeq ==
      Seq(2L -> Seq(1L, 2L), 3L -> Seq(1L, 2L, 3L), 4L -> Seq(1L, 4L)))
    // lower bound > 1: the path reported is the admissible (long-way) one
    val ns2 = e.run(
      """MATCH p = shortestPath((a:SP {sid: 1})-[:STEP*2..5]->(b:SP {sid: 4}))
         RETURN nodes(p) AS path""").collect()
    assert(ns2.map(_.getSeq[Long](0)).toSeq == Seq(Seq(1L, 2L, 3L, 4L)))
    // relationships(p): consecutive (src, dst) pairs with the traversed type
    val rels = e.run(
      """MATCH p = shortestPath((a:SP {sid: 1})-[:STEP*1..5]->(b:SP {sid: 3}))
         RETURN relationships(p) AS rels""").collect()
    val rseq = rels.head.getSeq[org.apache.spark.sql.Row](0)
    assert(rseq.map(r => (r.getLong(0), r.getLong(1), r.getString(2))) ==
      Seq((1L, 2L, "STEP"), (2L, 3L, "STEP")))
    // size(nodes(p)) composes with the list function table
    val sz = e.run(
      """MATCH p = shortestPath((a:SP {sid: 1})-[:STEP*1..5]->(b:SP {sid: 3}))
         RETURN size(nodes(p)) AS n, length(p) AS len""").collect()
    assert(sz.head.getInt(0) == 3 && sz.head.getLong(1) == 2L)
    // join() flattens the key list to a comparator-friendly string (q80's
    // RETURN shape); elements are cast, so no per-element toString needed
    val js = e.run(
      """MATCH p = shortestPath((a:SP {sid: 1})-[:STEP*1..5]->(b:SP))
         RETURN b.sid AS dst, join(nodes(p), ',') AS path ORDER BY dst""").collect()
    assert(js.map(r => r.getLong(0) -> r.getString(1)).toSeq ==
      Seq(2L -> "1,2", 3L -> "1,2,3", 4L -> "1,4"))
  }

  test("shortestPath: local and distributed strategies agree bit-for-bit") {
    spark
    // mixed-step ring (+1 and +3 mod 8): equal-length alternatives exist, so
    // the lexicographic-min path rule is actually exercised, not vacuous
    val n = 8L
    val st0 = CypherEngine(GraphStore.empty).execute(
      "UNWIND $rows AS row MERGE (n:LD {sid: row.sid}) SET n += {sid: row.sid}",
      Map("rows" -> (0L until n).map(i => Map[String, Any]("sid" -> i)))).store
    val st = CypherEngine(st0).execute(
      """UNWIND $rows AS row
         MATCH (s:LD) WHERE s.sid = row.a
         WITH s, row
         MATCH (t:LD) WHERE t.sid = row.b
         MERGE (s)-[r:GO]->(t)""",
      Map("rows" -> (0L until n).flatMap(i =>
        Seq(Map[String, Any]("a" -> i, "b" -> ((i + 1) % n)),
          Map[String, Any]("a" -> i, "b" -> ((i + 3) % n)))))).store
    // string-keyed twin of the same topology: exercises the UTF-8 comparator
    val ss0 = CypherEngine(GraphStore.empty).execute(
      "UNWIND $rows AS row MERGE (n:LS {name: row.name}) SET n += {name: row.name}",
      Map("rows" -> (0L until n).map(i => Map[String, Any]("name" -> s"v$i")))).store
    val ss = CypherEngine(ss0).execute(
      """UNWIND $rows AS row
         MATCH (s:LS) WHERE s.name = row.a
         WITH s, row
         MATCH (t:LS) WHERE t.name = row.b
         MERGE (s)-[r:GO]->(t)""",
      Map("rows" -> (0L until n).flatMap(i =>
        Seq(Map[String, Any]("a" -> s"v$i", "b" -> s"v${(i + 1) % n}"),
          Map[String, Any]("a" -> s"v$i", "b" -> s"v${(i + 3) % n}"))))).store
    val queries = Seq(
      """MATCH p = shortestPath((a:LD {sid: 0})-[:GO*1..6]->(b:LD))
         RETURN b.sid AS dst, length(p) AS len, nodes(p) AS path ORDER BY dst""",
      """MATCH p = shortestPath((a:LD {sid: 2})-[:GO*1..6]-(b:LD))
         RETURN b.sid AS dst, length(p) AS len, nodes(p) AS path ORDER BY dst""")
    val strQuery =
      """MATCH p = shortestPath((a:LS {name: 'v0'})-[:GO*1..6]->(b:LS))
         RETURN b.name AS dst, length(p) AS len, nodes(p) AS path ORDER BY dst"""
    def runAll(): Seq[Seq[String]] =
      (queries.map(CypherEngine(st).run) :+ CypherEngine(ss).run(strQuery))
        .map(_.collect().toSeq.map(_.toString))
    val local = runAll()
    assert(local.forall(_.nonEmpty))
    spark.conf.set(CypherEngine.LocalPathEdgeCapKey, "0")
    try {
      val distributed = runAll()
      assert(distributed == local)
    } finally spark.conf.unset(CypherEngine.LocalPathEdgeCapKey)
  }

  test("shortestPath withRels: local and distributed strategies agree bit-for-bit") {
    spark
    // two-type mixed-step ring (GO +1, JP +3 mod 8): equal-length
    // alternatives traverse DIFFERENT type sequences, so the local
    // (path, types) lexicographic-min prune (r15) is exercised against
    // the distributed min(struct(__path, __rels)) rule, not vacuous
    val n = 8L
    val st0 = CypherEngine(GraphStore.empty).execute(
      "UNWIND $rows AS row MERGE (n:LD2 {sid: row.sid}) SET n += {sid: row.sid}",
      Map("rows" -> (0L until n).map(i => Map[String, Any]("sid" -> i)))).store
    def link(st: GraphStore, t: String, step: Long): GraphStore =
      CypherEngine(st).execute(
        s"""UNWIND $$rows AS row
            MATCH (s:LD2) WHERE s.sid = row.a
            WITH s, row
            MATCH (d:LD2) WHERE d.sid = row.b
            MERGE (s)-[r:$t]->(d)""",
        Map("rows" -> (0L until n).map(i =>
          Map[String, Any]("a" -> i, "b" -> ((i + step) % n))))).store
    val st = link(link(st0, "GO", 1L), "JP", 3L)
    // bipartite two-type twin (X, Y both A2→B2): the heterogeneous gate's
    // tagged-struct keys + local withRels path
    val ha = CypherEngine(GraphStore.empty).execute(
      "UNWIND $rows AS row MERGE (n:A2 {ak: row.k}) SET n += {ak: row.k}",
      Map("rows" -> (0L until 4L).map(i => Map[String, Any]("k" -> i)))).store
    val hb = CypherEngine(ha).execute(
      "UNWIND $rows AS row MERGE (n:B2 {bk: row.k}) SET n += {bk: row.k}",
      Map("rows" -> (0L until 4L).map(i => Map[String, Any]("k" -> i)))).store
    def xlink(st: GraphStore, t: String, off: Long): GraphStore =
      CypherEngine(st).execute(
        s"""UNWIND $$rows AS row
            MATCH (s:A2) WHERE s.ak = row.a
            WITH s, row
            MATCH (d:B2) WHERE d.bk = row.b
            MERGE (s)-[r:$t]->(d)""",
        Map("rows" -> (0L until 4L).map(i =>
          Map[String, Any]("a" -> i, "b" -> ((i + off) % 4)))))
        .store
    val hs = xlink(xlink(hb, "X", 0L), "Y", 1L)
    val ringQs = Seq(
      """MATCH p = shortestPath((a:LD2 {sid: 0})-[:GO|JP*1..6]-(b:LD2))
         RETURN b.sid AS dst, length(p) AS len,
                reduce(s = '', r IN relationships(p) | s + ',' + type(r)) AS rels
         ORDER BY dst""",
      """MATCH p = allShortestPaths((a:LD2 {sid: 0})-[:GO|JP*1..3]-(b:LD2))
         RETURN b.sid AS dst, length(p) AS len,
                reduce(s = '', r IN relationships(p) | s + ',' + type(r)) AS rels
         ORDER BY dst, rels""")
    val hetQ =
      """MATCH p = shortestPath((a:A2 {ak: 0})-[:X|Y*1..4]-(b:B2))
         RETURN b.bk AS dst, length(p) AS len,
                reduce(s = '', r IN relationships(p) | s + ',' + type(r)) AS rels
         ORDER BY dst"""
    def runAll(): Seq[Seq[String]] =
      (ringQs.map(CypherEngine(st).run) :+ CypherEngine(hs).run(hetQ))
        .map(_.collect().toSeq.map(_.toString))
    val local = runAll()
    assert(local.forall(_.nonEmpty))
    // the keepAll vector must actually carry multiplicities (two distinct
    // type sequences to at least one destination) or it pins nothing
    assert(local(1).size > local(0).size)
    spark.conf.set(CypherEngine.LocalPathEdgeCapKey, "0")
    try assert(runAll() == local)
    finally spark.conf.unset(CypherEngine.LocalPathEdgeCapKey)
  }

  test("unbounded *: shortestPath runs to exhaustion; over-budget enumeration fails loud") {
    spark
    val st0 = CypherEngine(GraphStore.empty).execute(
      "UNWIND $rows AS row MERGE (n:UB {sid: row.sid}) SET n += {sid: row.sid}",
      Map("rows" -> (0L until 8L).map(i => Map[String, Any]("sid" -> i)))).store
    val st = CypherEngine(st0).execute(
      """UNWIND $rows AS row
         MATCH (s:UB) WHERE s.sid = row.a
         WITH s, row
         MATCH (t:UB) WHERE t.sid = row.b
         MERGE (s)-[r:GO]->(t)""",
      Map("rows" -> (0L until 8L).flatMap(i =>
        Seq(Map[String, Any]("a" -> i, "b" -> ((i + 1) % 8)),
          Map[String, Any]("a" -> i, "b" -> ((i + 3) % 8)))))).store
    val e = CypherEngine(st)
    def rows(q: String): Seq[(Long, Long)] =
      e.run(q).collect().toSeq.map(r => (r.getLong(0), r.getLong(1)))
    // the ring's diameter is < 6, so *1..6 is already exhaustive — the
    // unbounded run must find exactly the same distances
    val bounded = rows(
      """MATCH p = shortestPath((a:UB {sid: 0})-[:GO*1..6]->(b:UB))
         RETURN b.sid AS dst, length(p) AS len ORDER BY dst""")
    val unbounded = rows(
      """MATCH p = shortestPath((a:UB {sid: 0})-[:GO*]->(b:UB))
         RETURN b.sid AS dst, length(p) AS len ORDER BY dst""")
    // 8 destinations: the cycle brings the source back to itself (len 4)
    assert(unbounded == bounded && unbounded.size == 8)
    // same under the distributed strategy (conf kill switch)
    spark.conf.set(CypherEngine.LocalPathEdgeCapKey, "0")
    try assert(rows(
      """MATCH p = shortestPath((a:UB {sid: 0})-[:GO*]->(b:UB))
         RETURN b.sid AS dst, length(p) AS len ORDER BY dst""") == bounded)
    finally spark.conf.unset(CypherEngine.LocalPathEdgeCapKey)
    // a plain open-bound pattern enumerates relationship-unique paths;
    // on this dense cyclic graph the count is exponential, so the
    // conf-gated budget must fail LOUDLY (never a silent clamp)
    spark.conf.set(CypherEngine.UniqueWalkMaxPathsKey, "10")
    try {
      val err = intercept[CypherEngine.CypherException](
        e.run("MATCH (a:UB {sid: 0})-[:GO*]->(b:UB) RETURN count(*) AS c"))
      assert(err.getMessage.contains("relationship-unique paths"))
      // the DISTRIBUTED branch must throw the same loud budget error —
      // through the try/finally that releases the persisted edge frame
      // (the pre-r8 loop skipped the unpersist on this exact path)
      spark.conf.set(CypherEngine.LocalPathEdgeCapKey, "0")
      try {
        val errD = intercept[CypherEngine.CypherException](
          e.run("MATCH (a:UB {sid: 0})-[:GO*]->(b:UB) RETURN count(*) AS c"))
        assert(errD.getMessage.contains("relationship-unique paths"))
      } finally spark.conf.unset(CypherEngine.LocalPathEdgeCapKey)
    } finally spark.conf.unset(CypherEngine.UniqueWalkMaxPathsKey)
    // lower bound > 1 with an open upper bound enumerates walks too
    val err2 = intercept[CypherEngine.CypherException](
      e.run("""MATCH p = shortestPath((a:UB {sid: 0})-[:GO*2..]->(b:UB))
               RETURN length(p) AS len"""))
    assert(err2.getMessage.contains("explicit upper bound"))
  }

  test("plain [:R*] enumerates relationship-unique paths (Neo4j semantics)") {
    spark
    // DAG with a shortcut: 1→2→3→4 plus 1→4 — paths to 4: [1,4] and
    // [1,2,3,4]; relationship uniqueness equals plain path counting here
    val st0 = CypherEngine(GraphStore.empty).execute(
      "UNWIND $rows AS row MERGE (n:UW {sid: row.sid}) SET n += {sid: row.sid}",
      Map("rows" -> (1L to 4L).map(i => Map[String, Any]("sid" -> i)))).store
    val st = CypherEngine(st0).execute(
      """UNWIND $rows AS row
         MATCH (s:UW) WHERE s.sid = row.a
         WITH s, row
         MATCH (t:UW) WHERE t.sid = row.b
         MERGE (s)-[r:GO]->(t)""",
      Map("rows" -> Seq((1L, 2L), (2L, 3L), (3L, 4L), (1L, 4L))
        .map { case (a, b) => Map[String, Any]("a" -> a, "b" -> b) })).store
    val dag = CypherEngine(st).run(
      """MATCH (a:UW {sid: 1})-[:GO*]->(b:UW)
         RETURN b.sid AS dst, count(*) AS paths ORDER BY dst""").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(dag == Seq((2L, 1L), (3L, 1L), (4L, 2L)))
    // 2-cycle: 1⇄2. Walks are infinite; relationship-unique paths from 1
    // are exactly [1,2] and [1,2,1] — each edge once, then exhaustion
    val c0 = CypherEngine(GraphStore.empty).execute(
      "UNWIND $rows AS row MERGE (n:UC {sid: row.sid}) SET n += {sid: row.sid}",
      Map("rows" -> Seq(1L, 2L).map(i => Map[String, Any]("sid" -> i)))).store
    val c = CypherEngine(c0).execute(
      """UNWIND $rows AS row
         MATCH (s:UC) WHERE s.sid = row.a
         WITH s, row
         MATCH (t:UC) WHERE t.sid = row.b
         MERGE (s)-[r:GO]->(t)""",
      Map("rows" -> Seq((1L, 2L), (2L, 1L))
        .map { case (a, b) => Map[String, Any]("a" -> a, "b" -> b) })).store
    val cyc = CypherEngine(c).run(
      """MATCH (a:UC {sid: 1})-[:GO*]->(b:UC)
         RETURN b.sid AS dst, count(*) AS paths ORDER BY dst""").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(cyc == Seq((1L, 1L), (2L, 1L)))
    // open bound with a lower bound: only paths of length >= 2 survive
    val lo2 = CypherEngine(c).run(
      """MATCH (a:UC {sid: 1})-[:GO*2..]->(b:UC)
         RETURN b.sid AS dst, count(*) AS paths ORDER BY dst""").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(lo2 == Seq((1L, 1L)))
    // local and distributed strategies agree (conf kill switch forces the
    // per-level frontier loop)
    spark.conf.set(CypherEngine.LocalPathEdgeCapKey, "0")
    try {
      val dagDist = CypherEngine(st).run(
        """MATCH (a:UW {sid: 1})-[:GO*]->(b:UW)
           RETURN b.sid AS dst, count(*) AS paths ORDER BY dst""").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(dagDist == dag)
    } finally spark.conf.unset(CypherEngine.LocalPathEdgeCapKey)
  }

  test("[:R*] walks over double and date keys equal the distributed walk") {
    // key types without a primitive interner: the single-task walk interns
    // their Catalyst values; 1→2→3→1 cycle, 3→4, and a parallel 2→3
    import org.apache.spark.sql.functions.{col, date_add, lit}
    val s = spark
    import s.implicits._
    val pairs = Seq((1, 2), (2, 3), (3, 1), (3, 4), (2, 3)).toDF("s", "d")
    val ids = (1 to 4).toDF("i")
    val keyed = Seq[(String, org.apache.spark.sql.Column => org.apache.spark.sql.Column)](
      ("double", c => c.cast("double") + lit(0.5)),
      ("date", c => date_add(lit(java.sql.Date.valueOf("2024-02-27")), c)))
    keyed.foreach { case (name, key) =>
      val st = GraphStore(
        GraphSchema(
          nodes = Seq(NodeType("K", "id", Seq("i"), Seq("k"))),
          edges = Seq(EdgeType("R", "K", "K", "src", "dst", Nil, "r"))),
        nodes = Map("K" -> ids.select(key(col("i")).as("id"), col("i"))),
        edges = Map("R" -> pairs.select(key(col("s")).as("src"), key(col("d")).as("dst"))))
      val queries = Seq("*", "*2..", "*1..3").map(b =>
        s"MATCH (a:K)-[:R$b]->(b:K) RETURN a.i AS a, b.i AS b, a.id AS ak, b.id AS bk")
      def runAll(): Seq[Seq[String]] = queries.map(q =>
        CypherEngine(st).run(q).collect().toSeq.map(_.toString).sorted)
      val local = runAll()
      assert(local.forall(_.nonEmpty), name)
      spark.conf.set(CypherEngine.LocalPathEdgeCapKey, "0")
      try assert(runAll() == local, name)
      finally spark.conf.unset(CypherEngine.LocalPathEdgeCapKey)
    }
  }

  test("startNode/endNode across binding shapes") {
    import org.apache.spark.sql.functions.col
    // single-type + direction correction: PLACED_BY is stored Order →
    // Customer, so startNode(r) is the Order no matter which way the
    // pattern's arrow points; id() composition and the .prop postfix
    // resolve through the endpoint substitution
    val single = engine.run(
      """MATCH (c:Customer)<-[r:PLACED_BY]-(o:Order)
         WHERE o.o_orderkey = 1
         RETURN toInteger(id(startNode(r))) AS sk, toInteger(id(endNode(r))) AS ek,
                toInteger(startNode(r).o_orderkey) AS sk2,
                endNode(r).c_name AS cn""").collect().head
    assert(single.getLong(0) == 1L && single.getLong(2) == 1L)
    val custKey = store.edges("PLACED_BY").filter(col("o_orderkey") === 1)
      .collect().head.getAs[Number]("o_custkey").longValue
    assert(single.getLong(1) == custKey)
    assert(single.getString(3).nonEmpty)
    val fwd = engine.run(
      """MATCH (o:Order {o_orderkey: 1})-[r:PLACED_BY]->(c:Customer)
         RETURN toInteger(id(startNode(r))) AS sk""").collect().head
    assert(fwd.getLong(0) == 1L)
    // branch-diverged disjunction: orientation can differ per branch, so
    // the endpoints are per-row tagged Label:key ids
    val div = engine.run(
      """MATCH (x)-[r:IN_NATION|SUPP_IN_NATION]->(n:Nation {n_nationkey: 3})
         RETURN startNode(r) AS sid, endNode(r) AS eid, type(r) AS t
         ORDER BY t, sid""").collect()
    assert(div.nonEmpty)
    div.foreach { row =>
      assert(row.getString(1) == "Nation:3")
      if (row.getString(2) == "IN_NATION")
        assert(row.getString(0).startsWith("Customer:"))
      else {
        assert(row.getString(2) == "SUPP_IN_NATION")
        assert(row.getString(0).startsWith("Supplier:"))
      }
    }
    // in-hop type group (one label pair): endpoints stay bound node
    // variables — +1/+2 ring over two types
    val nation = graft.sources.Tables.load(spark, sf, "nation")
    val k = col("n_nationkey")
    var st = graft.graph.GraphWriter.mergeNodes(GraphStore.empty, "Nation",
      nation.select(k, col("n_name")), Seq("n_nationkey"))
    st = graft.graph.GraphWriter.mergeEdges(st, "W", "Nation", "Nation",
      "src", "dst", nation.select(k.as("src"), ((k + 1) % 25).as("dst")))
    st = graft.graph.GraphWriter.mergeEdges(st, "W2", "Nation", "Nation",
      "src", "dst", nation.select(k.as("src"), ((k + 2) % 25).as("dst")))
    val grp = CypherEngine(st).run(
      """MATCH (a:Nation {n_nationkey: 0})-[r:W|W2]->(b:Nation)
         RETURN type(r) AS t, toInteger(id(startNode(r))) AS sk,
                toInteger(id(endNode(r))) AS ek ORDER BY t""").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(grp == Seq(("W", 0L, 1L), ("W2", 0L, 2L)))
    // group-variable lambda position: the relationship struct's endpoint
    // keys
    val lam = CypherEngine(st).run(
      """MATCH (a:Nation {n_nationkey: 0}) (()-[r:W]->()){2} (b:Nation)
         RETURN [x IN r | toInteger(endNode(x))] AS ends,
                [x IN r | toInteger(startNode(x))] AS starts""").collect().head
    assert(lam.getSeq[Long](0) == Seq(1L, 2L))
    assert(lam.getSeq[Long](1) == Seq(0L, 1L))
    // non-relationship arguments reject loudly
    val err = intercept[CypherEngine.CypherException](engine.run(
      "MATCH (n:Nation) RETURN startNode(n) AS x"))
    assert(err.getMessage.contains("relationship"))
  }

  test("parallel relationships get per-instance trail identity") {
    spark
    // Neo4j's relationship uniqueness is per INSTANCE: two CREATEd GO
    // edges on the same (1, 2) pair are distinct relationships, so the
    // 2-cycle 1⇄2 with a doubled forward edge has trails
    // [e1], [e2], [e1,b], [e2,b], [e1,b,e2], [e2,b,e1] — dst 2 four
    // ways, dst 1 two ways. The (type, src, dst) visited identity would
    // block the length-3 trails (r11 ADVICE); the per-pair row_number
    // discriminator admits them.
    val st0 = CypherEngine(GraphStore.empty).execute(
      "UNWIND $rows AS row MERGE (n:PE {sid: row.sid}) SET n += {sid: row.sid}",
      Map("rows" -> Seq(1L, 2L).map(i => Map[String, Any]("sid" -> i)))).store
    val st = CypherEngine(st0).execute(
      """UNWIND $rows AS row
         MATCH (s:PE) WHERE s.sid = row.a
         WITH s, row
         MATCH (t:PE) WHERE t.sid = row.b
         CREATE (s)-[:GO]->(t)""",
      Map("rows" -> Seq((1L, 2L), (1L, 2L), (2L, 1L))
        .map { case (a, b) => Map[String, Any]("a" -> a, "b" -> b) })).store
    def counts(q: String): Seq[(Long, Long)] = CypherEngine(st).run(q).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    val open = counts(
      """MATCH (a:PE {sid: 1})-[:GO*]->(b:PE)
         RETURN b.sid AS dst, count(*) AS paths ORDER BY dst""")
    assert(open == Seq((1L, 2L), (2L, 4L)))
    // the bounded closure shares the identity contract
    val bounded = counts(
      """MATCH (a:PE {sid: 1})-[:GO*1..3]->(b:PE)
         RETURN b.sid AS dst, count(*) AS paths ORDER BY dst""")
    assert(bounded == open)
    // local and distributed strategies agree
    spark.conf.set(CypherEngine.LocalPathEdgeCapKey, "0")
    try assert(counts(
      """MATCH (a:PE {sid: 1})-[:GO*]->(b:PE)
         RETURN b.sid AS dst, count(*) AS paths ORDER BY dst""") == open)
    finally spark.conf.unset(CypherEngine.LocalPathEdgeCapKey)
  }

  test("allShortestPaths: every minimum-length path, both strategies") {
    spark
    // diamond + tail: 1→{2,3}→4→5 — two equal shortest paths to 4 and 5
    val st0 = CypherEngine(GraphStore.empty).execute(
      "UNWIND $rows AS row MERGE (n:DM {sid: row.sid}) SET n += {sid: row.sid}",
      Map("rows" -> (1L to 5L).map(i => Map[String, Any]("sid" -> i)))).store
    val st = CypherEngine(st0).execute(
      """UNWIND $rows AS row
         MATCH (s:DM) WHERE s.sid = row.a
         WITH s, row
         MATCH (t:DM) WHERE t.sid = row.b
         MERGE (s)-[r:GO]->(t)""",
      Map("rows" -> Seq((1L, 2L), (1L, 3L), (2L, 4L), (3L, 4L), (4L, 5L))
        .map { case (a, b) => Map[String, Any]("a" -> a, "b" -> b) })).store
    val e = CypherEngine(st)
    val q =
      """MATCH p = allShortestPaths((a:DM {sid: 1})-[:GO*]->(b:DM))
         RETURN b.sid AS dst, length(p) AS len, join(nodes(p), ',') AS path
         ORDER BY dst, path"""
    def run(): Seq[(Long, Long, String)] =
      e.run(q).collect().toSeq.map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    val local = run()
    assert(local == Seq(
      (2L, 1L, "1,2"), (3L, 1L, "1,3"),
      (4L, 2L, "1,2,4"), (4L, 2L, "1,3,4"),
      (5L, 3L, "1,2,4,5"), (5L, 3L, "1,3,4,5")))
    spark.conf.set(CypherEngine.LocalPathEdgeCapKey, "0")
    try assert(run() == local)
    finally spark.conf.unset(CypherEngine.LocalPathEdgeCapKey)
    // count(*) multiplicity without reading the path
    val counts = e.run(
      """MATCH p = allShortestPaths((a:DM {sid: 1})-[:GO*]->(b:DM))
         RETURN b.sid AS dst, count(*) AS paths ORDER BY dst""").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(counts == Seq((2L, 1L), (3L, 1L), (4L, 2L), (5L, 2L)))
    // lower bound > 1: walk enumeration keeps ALL min admissible-length
    // walks — to 5 with *2.., both 3-hop routes survive; to 4 the direct
    // 2-hop pair is excluded so both len-2... are already >= lo, while 2
    // (distance 1) resurfaces only via no admissible walk (no cycles here)
    val lo2 = e.run(
      """MATCH p = allShortestPaths((a:DM {sid: 1})-[:GO*2..4]->(b:DM))
         RETURN b.sid AS dst, length(p) AS len, join(nodes(p), ',') AS path
         ORDER BY dst, path""").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq
    assert(lo2 == Seq(
      (4L, 2L, "1,2,4"), (4L, 2L, "1,3,4"),
      (5L, 3L, "1,2,4,5"), (5L, 3L, "1,3,4,5")))
    // no-star shortestPath = single-hop pattern (Neo4j semantics), never a
    // silent multi-hop search
    val oneHop = e.run(
      """MATCH p = shortestPath((a:DM {sid: 1})-[:GO]->(b:DM))
         RETURN b.sid AS dst, length(p) AS len ORDER BY dst""").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(oneHop == Seq((2L, 1L), (3L, 1L)))
  }

  test("shortestPath through a type disjunction takes either type per step") {
    spark
    // two types: FWD is 1→2→3→4 and BACK is 4→1; [:FWD|BACK*] mixes them
    val st0 = CypherEngine(GraphStore.empty).execute(
      "UNWIND $rows AS row MERGE (n:TD {sid: row.sid}) SET n += {sid: row.sid}",
      Map("rows" -> (1L to 4L).map(i => Map[String, Any]("sid" -> i)))).store
    def addEdges(st: GraphStore, t: String, pairs: Seq[(Long, Long)]) =
      CypherEngine(st).execute(
        s"""UNWIND $$rows AS row
            MATCH (s:TD) WHERE s.sid = row.a
            WITH s, row
            MATCH (t:TD) WHERE t.sid = row.b
            MERGE (s)-[r:$t]->(t)""",
        Map("rows" -> pairs.map { case (a, b) => Map[String, Any]("a" -> a, "b" -> b) })).store
    val st = addEdges(
      addEdges(st0, "FWD", Seq((1L, 2L), (2L, 3L), (3L, 4L))),
      "BACK", Seq((4L, 1L)))
    val e = CypherEngine(st)
    // from 2: FWD alone reaches 3,4; the disjunction continues 4-[BACK]->1
    val rows = e.run(
      """MATCH p = shortestPath((a:TD {sid: 2})-[:FWD|BACK*]->(b:TD))
         RETURN b.sid AS dst, length(p) AS len ORDER BY dst""").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    // incl. the cycle back to the source itself (2→3→4→1→2)
    assert(rows == Seq((1L, 3L), (2L, 4L), (3L, 1L), (4L, 2L)))
    // FWD alone cannot wrap around
    val fwdOnly = e.run(
      """MATCH p = shortestPath((a:TD {sid: 2})-[:FWD*]->(b:TD))
         RETURN b.sid AS dst ORDER BY dst""").collect().map(_.getLong(0)).toSeq
    assert(fwdOnly == Seq(3L, 4L))
    // relationships(p) over a disjunction carries the REAL per-hop types
    // (round 9 — the old loud rejection is gone): 2→3→4 ride FWD, the
    // wrap 4→1 is the BACK edge
    val rs = e.run(
      """MATCH p = shortestPath((a:TD {sid: 2})-[:FWD|BACK*]->(b:TD {sid: 1}))
         RETURN relationships(p) AS rs""").collect().head
      .getSeq[org.apache.spark.sql.Row](0)
    assert(rs.map(r => (r.getLong(0), r.getLong(1), r.getString(2))) ==
      Seq((2L, 3L, "FWD"), (3L, 4L, "FWD"), (4L, 1L, "BACK")))
  }

  /** OP chain with a shortcut: 1→2→3→4, 1→4; node 4 has no outgoing edges. */
  private lazy val opChain: GraphStore = {
    spark
    val st0 = CypherEngine(GraphStore.empty).execute(
      "UNWIND $rows AS row MERGE (n:OP {sid: row.sid}) SET n += {sid: row.sid}",
      Map("rows" -> Seq(1L, 2L, 3L, 4L).map(i => Map[String, Any]("sid" -> i)))).store
    CypherEngine(st0).execute(
      """UNWIND $rows AS row
         MATCH (s:OP) WHERE s.sid = row.a
         WITH s, row
         MATCH (t:OP) WHERE t.sid = row.b
         MERGE (s)-[r:STEP]->(t)""",
      Map("rows" -> Seq((1L, 2L), (2L, 3L), (3L, 4L), (1L, 4L))
        .map { case (a, b) => Map[String, Any]("a" -> a, "b" -> b) })).store
  }

  test("WITH p AS q carries a shortestPath under its new name") {
    val e = CypherEngine(opChain)
    def rows(q: String): Seq[Seq[Any]] =
      e.run(q).collect().map(_.toSeq.map {
        case s: scala.collection.Seq[_] => s.toList
        case v => v
      }).toSeq
    val sp = "MATCH p = shortestPath((a:OP {sid: 1})-[:STEP*1..5]->(b:OP {sid: 3}))"
    val plain = rows(s"$sp WITH p RETURN length(p) AS l, nodes(p) AS ns, relationships(p) AS rs")
    assert(plain.nonEmpty)
    assert(rows(s"$sp WITH p AS q RETURN length(q) AS l, nodes(q) AS ns, relationships(q) AS rs") ==
      plain)
    // aliased again, aggregated over, and tested for null like the bound name
    assert(rows(s"$sp WITH p AS q WITH q AS r RETURN length(r) AS l, nodes(r) AS ns, " +
      "relationships(r) AS rs") == plain)
    assert(rows(s"$sp WITH p AS q, count(*) AS c RETURN length(q) AS l, c") ==
      Seq(Seq(2L, 1L)))
    assert(rows(
      """MATCH (a:OP)
         OPTIONAL MATCH p = shortestPath((a)-[:STEP*1..5]->(b:OP {sid: 4}))
         WITH a, p AS q WHERE q IS NULL
         RETURN a.sid AS src""") == Seq(Seq(4L)))
    // over a type disjunction relationships(q) reads the per-hop type
    // array, which the BFS carries only when the alias is followed
    val st0 = CypherEngine(GraphStore.empty).execute(
      "UNWIND $rows AS row MERGE (n:TQ {sid: row.sid}) SET n += {sid: row.sid}",
      Map("rows" -> (1L to 3L).map(i => Map[String, Any]("sid" -> i)))).store
    def addEdge(st: GraphStore, t: String, a: Long, b: Long) = CypherEngine(st).execute(
      s"MATCH (s:TQ {sid: $a}), (t:TQ {sid: $b}) MERGE (s)-[r:$t]->(t)").store
    val td = CypherEngine(addEdge(addEdge(st0, "FWD", 1L, 2L), "BACK", 2L, 3L))
    val hops = td.run(
      """MATCH p = shortestPath((a:TQ {sid: 1})-[:FWD|BACK*]->(b:TQ {sid: 3}))
         WITH p AS q RETURN relationships(q) AS rs""").collect().head
      .getSeq[org.apache.spark.sql.Row](0).map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    assert(hops == Seq((1L, 2L, "FWD"), (2L, 3L, "BACK")))
  }

  test("WITH n AS m carries a node, single-label or disjunction, under its new name") {
    def rows(e: CypherEngine, q: String): Seq[Row] =
      e.run(q).collect().toSeq.sortBy(_.toString)
    val e = CypherEngine(opChain)
    // property reads first: a key-only binding fails them inside Spark
    assert(rows(e, "MATCH (n:OP) WITH n AS m RETURN m.sid, m {.sid}") ==
      rows(e, "MATCH (n:OP) WITH n RETURN n.sid, n {.sid}"))
    val plain = rows(e, "MATCH (n:OP) WITH n RETURN n.sid, n {.sid}, labels(n)")
    assert(plain.size == 4)
    assert(rows(e, "MATCH (n:OP) WITH n AS m RETURN m.sid, m {.sid}, labels(m)") == plain)
    // aliased twice, grouped by, and null-extended like the bound name
    assert(rows(e, "MATCH (n:OP) WITH n AS m WITH m AS k RETURN k.sid, k {.sid}, labels(k)") ==
      plain)
    assert(rows(e, "MATCH (n:OP)-[:STEP]->() WITH n AS m, count(*) AS c RETURN m.sid, c") ==
      Seq(Row(1L, 2L), Row(2L, 1L), Row(3L, 1L)))
    assert(rows(e,
      """MATCH (a:OP) OPTIONAL MATCH (a)-[:STEP]->(b:OP {sid: 4})
         WITH a, b AS c WHERE c IS NULL RETURN a.sid, c.sid""") ==
      Seq(Row(2L, null), Row(4L, null)))
    // a label disjunction carries its per-row label tag and property superset
    var st = CypherEngine(GraphStore.empty).execute("UNWIND [1, 2] AS i MERGE (a:A {aid: i})").store
    st = CypherEngine(st).execute("UNWIND [3] AS i MERGE (b:B {bid: i})").store
    val d = CypherEngine(st)
    val disj = rows(d, "MATCH (x:A|B) WITH x RETURN labels(x), x.aid, x.bid")
    assert(disj.map(_.getSeq[String](0)) == Seq(Seq("A"), Seq("A"), Seq("B")))
    assert(rows(d, "MATCH (x:A|B) WITH x AS y RETURN labels(y), y.aid, y.bid") == disj)
  }

  test("OPTIONAL MATCH shortestPath keeps rows with no path as nulls") {
    val e = CypherEngine(opChain)
    // unbound far endpoint with a prop filter: every source keeps its row;
    // node 4 (no outgoing edges) gets a null length
    val rows = e.run(
      """MATCH (a:OP)
         OPTIONAL MATCH p = shortestPath((a)-[:STEP*1..5]->(b:OP {sid: 4}))
         RETURN a.sid AS src, length(p) AS len ORDER BY src""").collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1))).toSeq
    assert(rows == Seq((1L, 1L), (2L, 2L), (3L, 1L), (4L, -1L)))
    // both endpoints bound, unreachable pair: the row survives with null p
    val bound = e.run(
      """MATCH (a:OP {sid: 4}), (b:OP {sid: 1})
         OPTIONAL MATCH p = shortestPath((a)-[:STEP*1..5]->(b))
         RETURN a.sid AS src, b.sid AS dst, length(p) AS len""").collect()
    assert(bound.length == 1 && bound.head.isNullAt(2))
    // non-optional drops the row (control)
    assert(e.run(
      """MATCH (a:OP {sid: 4}), (b:OP {sid: 1})
         MATCH p = shortestPath((a)-[:STEP*1..5]->(b))
         RETURN length(p) AS len""").collect().isEmpty)
    // a WITH after the OPTIONAL MATCH filters the unmatched rows; a WHERE
    // written right after it is part of the optional pattern, true on
    // every matched row, so every source keeps its row
    def srcs(q: String): Seq[Long] = e.run(q).collect().map(_.getLong(0)).toSeq
    assert(srcs(
      """MATCH (a:OP)
         OPTIONAL MATCH p = shortestPath((a)-[:STEP*1..5]->(b:OP {sid: 4}))
         WITH a, length(p) AS len WHERE len IS NOT NULL
         RETURN a.sid AS src ORDER BY src""") == Seq(1L, 2L, 3L))
    assert(srcs(
      """MATCH (a:OP)
         OPTIONAL MATCH p = shortestPath((a)-[:STEP*1..5]->(b:OP {sid: 4}))
         WHERE p IS NOT NULL
         RETURN a.sid AS src ORDER BY src""") == Seq(1L, 2L, 3L, 4L))
    // OPTIONAL composes with allShortestPaths: matched sources keep ALL
    // their min-length paths, unmatched ones keep exactly one null row
    val optAll = e.run(
      """MATCH (a:OP)
         OPTIONAL MATCH p = allShortestPaths((a)-[:STEP*]->(b:OP {sid: 4}))
         RETURN a.sid AS src, count(length(p)) AS paths ORDER BY src""").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(optAll == Seq((1L, 1L), (2L, 1L), (3L, 1L), (4L, 0L)))
    // optional start endpoint must be pre-bound: loud error otherwise
    val err = intercept[CypherEngine.CypherException](e.run(
      """MATCH (x:OP {sid: 1})
         OPTIONAL MATCH p = shortestPath((a:OP)-[:STEP*1..5]->(b:OP))
         RETURN length(p) AS len"""))
    assert(err.getMessage.contains("start endpoint bound"))
    // head props on the OPTIONAL start endpoint null-extend non-matching
    // rows instead of dropping them (pre-r7 they were applied as an inner
    // pre-filter on the enclosing frame); dst behavior is the control
    val headProps = e.run(
      """MATCH (a:OP)
         OPTIONAL MATCH p = shortestPath((a {sid: 1})-[:STEP*1..5]->(b:OP {sid: 4}))
         RETURN a.sid AS src, length(p) AS len ORDER BY src""").collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1))).toSeq
    assert(headProps == Seq((1L, 1L), (2L, -1L), (3L, -1L), (4L, -1L)))
    // non-optional control: the same head props filter the frame
    val headInner = e.run(
      """MATCH (a:OP)
         MATCH p = shortestPath((a {sid: 1})-[:STEP*1..5]->(b:OP {sid: 4}))
         RETURN a.sid AS src, length(p) AS len""").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(headInner == Seq((1L, 1L)))
  }


  test("WITH * and WITH p carry a path variable into the next stage") {
    val e = CypherEngine(opChain)
    def rows(q: String): Seq[String] = e.run(q).collect().map(_.toString).toSeq
    val opt = """MATCH (a:OP)
         OPTIONAL MATCH p = shortestPath((a)-[:STEP*1..5]->(b:OP {sid: 4}))"""
    val out = "RETURN a.sid AS src, length(p) AS len, nodes(p) AS ns, " +
      "relationships(p) AS rs ORDER BY src"
    // the single-stage forms are the reference: matched rows only, and
    // every source with a null path where none exists
    val matched = rows(
      s"MATCH (a:OP) MATCH p = shortestPath((a)-[:STEP*1..5]->(b:OP {sid: 4})) $out")
    assert(matched.size == 3)
    assert(rows(s"$opt WITH * WHERE p IS NOT NULL $out") == matched)
    assert(rows(s"$opt WITH a, p WHERE p IS NOT NULL $out") == matched)
    assert(rows(s"$opt WITH * WHERE p IS NOT NULL RETURN a.sid AS src ORDER BY src") ==
      Seq("[1]", "[2]", "[3]"))
    val all = rows(s"$opt $out")
    assert(all.size == 4)
    assert(rows(s"$opt WITH * $out") == all)
    assert(rows(s"$opt WITH p, a $out") == all)
  }
  test("length-only shortestPath drops the path array from the plan") {
    spark
    val st0 = CypherEngine(GraphStore.empty).execute(
      "UNWIND $rows AS row MERGE (n:DO {sid: row.sid}) SET n += {sid: row.sid}",
      Map("rows" -> (0L until 6L).map(i => Map[String, Any]("sid" -> i)))).store
    val st = CypherEngine(st0).execute(
      """UNWIND $rows AS row
         MATCH (s:DO) WHERE s.sid = row.a
         WITH s, row
         MATCH (t:DO) WHERE t.sid = row.b
         MERGE (s)-[r:GO]->(t)""",
      Map("rows" -> (0L until 6L).map(i =>
        Map[String, Any]("a" -> i, "b" -> ((i + 1) % 6))))).store
    val e = CypherEngine(st)
    val lenOnly =
      """MATCH p = shortestPath((a:DO {sid: 0})-[:GO*1..5]->(b:DO))
         RETURN b.sid AS dst, length(p) AS len ORDER BY dst"""
    val withNodes =
      """MATCH p = shortestPath((a:DO {sid: 0})-[:GO*1..5]->(b:DO))
         RETURN b.sid AS dst, length(p) AS len, nodes(p) AS path ORDER BY dst"""
    def check(): Unit = {
      val slim = e.run(lenOnly)
      val full = e.run(withNodes)
      // the BFS leaf of the length-only plan has no __path column at all
      assert(!slim.queryExecution.optimizedPlan.toString.contains("__path"))
      assert(full.queryExecution.optimizedPlan.toString.contains("__path"))
      assert(slim.collect().toSeq.map(r => (r.getLong(0), r.getLong(1))) ==
        full.collect().toSeq.map(r => (r.getLong(0), r.getLong(1))))
    }
    check() // local strategy
    spark.conf.set(CypherEngine.LocalPathEdgeCapKey, "0")
    try check() // distributed strategy
    finally spark.conf.unset(CypherEngine.LocalPathEdgeCapKey)
  }

  test("EXISTS { } block predicates with inner WHERE") {
    // nations having at least one negative-balance customer
    val rows = engine.run(
      """MATCH (n:Nation)
         WHERE EXISTS { MATCH (c:Customer)-[:IN_NATION]->(n) WHERE c.c_acctbal < 0 }
         RETURN count(*) AS cnt""").collect()
    val ctl = engine.run(
      """MATCH (c:Customer)-[:IN_NATION]->(n:Nation)
         WHERE c.c_acctbal < 0
         RETURN count(DISTINCT n.n_nationkey) AS cnt""").collect()
    assert(rows.head.getLong(0) == ctl.head.getLong(0))
    // negated block partitions the label (MATCH keyword optional)
    val neg = engine.run(
      """MATCH (n:Nation)
         WHERE NOT EXISTS { (c:Customer)-[:IN_NATION]->(n) WHERE c.c_acctbal < 0 }
         RETURN count(*) AS cnt""").collect()
    assert(rows.head.getLong(0) + neg.head.getLong(0) == 25L)
  }

  test("COUNT { } blocks: per-row counts in RETURN, WHERE, and ORDER BY") {
    // degree counting, 0 for unmatched rows (Neo4j contract)
    val deg = engine.run(
      """MATCH (n:Nation)
         RETURN toInteger(n.n_nationkey) AS nk,
                COUNT { (c:Customer)-[:IN_NATION]->(n) WHERE c.c_acctbal < 0 } AS neg
         ORDER BY nk""").collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val ctl = engine.run(
      """MATCH (c:Customer)-[:IN_NATION]->(n:Nation)
         WHERE c.c_acctbal < 0
         RETURN toInteger(n.n_nationkey) AS nk, count(*) AS neg""").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(deg.size == 25)
    assert((0L until 25L).forall(k => deg(k) == ctl.getOrElse(k, 0L)))
    // in WHERE (top-level conjunct) and composed with comparison
    val some = engine.run(
      """MATCH (n:Nation)
         WHERE COUNT { (c:Customer)-[:IN_NATION]->(n) } >= 1 AND n.n_nationkey < 100
         RETURN count(*) AS cnt""").collect().head.getLong(0)
    val ctlSome = engine.run(
      """MATCH (c:Customer)-[:IN_NATION]->(n:Nation)
         RETURN count(DISTINCT n.n_nationkey) AS cnt""").collect().head.getLong(0)
    assert(some == ctlSome)
    // uncorrelated block: global count crossed onto every row
    val glob = engine.run(
      """MATCH (r:Region)
         RETURN r.r_name AS rn, COUNT { MATCH (n:Nation) } AS nn ORDER BY rn""").collect()
    assert(glob.length == 5 && glob.forall(_.getLong(1) == 25L))
  }

  test("CALL { } subqueries: uncorrelated cross and correlated per-key aggregation") {
    // uncorrelated: runs once, rows cross the enclosing frame
    val un = engine.run(
      """MATCH (r:Region)
         CALL { MATCH (n:Nation) RETURN count(n) AS n_nations }
         RETURN r.r_name AS rn, n_nations ORDER BY rn""").collect()
    assert(un.length == 5 && un.forall(_.getLong(1) == 25L))
    // correlated: aggregates per imported variable, not globally
    val corr = engine.run(
      """MATCH (r:Region)
         CALL { WITH r MATCH (n:Nation) WHERE n.n_regionkey = r.r_regionkey
                RETURN count(n) AS cnt }
         RETURN r.r_name AS rn, cnt ORDER BY rn""").collect()
    assert(corr.length == 5 && corr.forall(_.getLong(1) == 5L))
    // correlated non-aggregating: rows multiply like an inline MATCH
    val rows = engine.run(
      """MATCH (r:Region {r_regionkey: 0})
         CALL { WITH r MATCH (n:Nation) WHERE n.n_regionkey = r.r_regionkey
                RETURN n.n_name AS nn }
         RETURN count(*) AS c""").collect()
    assert(rows.head.getLong(0) == 5L)
    // plain (WITH-alias) variables import too
    val plain = engine.run(
      """MATCH (r:Region) WITH r.r_regionkey AS rk
         CALL { WITH rk MATCH (n:Nation) WHERE n.n_regionkey = rk
                RETURN count(n) AS cnt }
         RETURN rk, cnt ORDER BY rk""").collect()
    assert(plain.length == 5 && plain.forall(_.getLong(1) == 5L))
    // a shortestPath body composes inside a correlated CALL
    val sp = engine.run(
      """MATCH (o:Order {o_orderkey: 1})
         CALL { WITH o
                MATCH p = shortestPath((o)-[:CONTAINS*1..3]-(b:Part))
                RETURN count(p) AS reach }
         RETURN reach""").collect()
    assert(sp.length == 1 && sp.head.getLong(0) > 0)
    // loud rejections: writes, UNORDERED per-key LIMIT (nondeterministic)
    val w = intercept[CypherEngine.CypherException](engine.run(
      "MATCH (r:Region) CALL { MERGE (x:CX {cid: 1}) RETURN count(*) AS c } RETURN c"))
    assert(w.getMessage.contains("read-only"))
    val lim = intercept[CypherEngine.CypherException](engine.run(
      """MATCH (r:Region)
         CALL { WITH r MATCH (n:Nation) WHERE n.n_regionkey = r.r_regionkey
                RETURN n.n_name AS nn LIMIT 1 }
         RETURN count(*) AS c"""))
    assert(lim.getMessage.contains("ORDER BY"))
  }

  test("correlated CALL with ORDER BY + LIMIT keeps the top-k per imported key") {
    // Neo4j's "top-k per row" idiom: 2 lowest-key nations per region
    val r = engine.run(
      """MATCH (r:Region)
         CALL { WITH r MATCH (n:Nation) WHERE n.n_regionkey = r.r_regionkey
                RETURN n.n_name AS nn ORDER BY nn LIMIT 2 }
         RETURN r.r_name AS rn, nn ORDER BY rn, nn""").collect()
    assert(r.length == 10) // 5 regions x 2
    // matches the window-computed expectation per region
    val grouped = r.groupBy(_.getString(0)).view.mapValues(_.map(_.getString(1)).toSeq)
    grouped.foreach { case (_, nns) => assert(nns.length == 2 && nns == nns.sorted) }
    // SKIP slices past the first per key; SKIP+LIMIT composes
    val s = engine.run(
      """MATCH (r:Region)
         CALL { WITH r MATCH (n:Nation) WHERE n.n_regionkey = r.r_regionkey
                RETURN n.n_name AS nn ORDER BY nn SKIP 1 LIMIT 1 }
         RETURN r.r_name AS rn, nn ORDER BY rn""").collect()
    assert(s.length == 5)
    // the SKIPped row per region is exactly the 2nd-lowest
    val second = r.groupBy(_.getString(0)).view.mapValues(_.map(_.getString(1)).toSeq.sorted(Ordering.String).apply(1))
    s.foreach(row => assert(row.getString(1) == second(row.getString(0))))
    // DESC ordering takes the other end
    val d = engine.run(
      """MATCH (r:Region {r_regionkey: 0})
         CALL { WITH r MATCH (n:Nation) WHERE n.n_regionkey = r.r_regionkey
                RETURN n.n_name AS nn ORDER BY nn DESC LIMIT 1 }
         RETURN nn""").collect()
    val all0 = engine.run(
      """MATCH (n:Nation) WHERE n.n_regionkey = 0
         RETURN n.n_name AS nn ORDER BY nn DESC LIMIT 1""").collect()
    assert(d.head.getString(0) == all0.head.getString(0))
    // sort key must be a returned item
    val err = intercept[CypherEngine.CypherException](engine.run(
      """MATCH (r:Region)
         CALL { WITH r MATCH (n:Nation) WHERE n.n_regionkey = r.r_regionkey
                RETURN n.n_name AS nn ORDER BY n.n_comment LIMIT 1 }
         RETURN count(*) AS c"""))
    assert(err.getMessage.contains("returned items"))
  }

  test("uncorrelated CALL body supports UNION and UNION ALL") {
    val u = engine.run(
      """MATCH (r:Region {r_regionkey: 0})
         CALL { MATCH (n:Nation {n_nationkey: 1}) RETURN n.n_name AS name
                UNION
                MATCH (c:Customer {c_custkey: 1}) RETURN c.c_name AS name }
         RETURN name ORDER BY name""").collect()
    assert(u.length == 2)
    // UNION ALL keeps duplicates
    val ua = engine.run(
      """MATCH (r:Region {r_regionkey: 0})
         CALL { MATCH (n:Nation {n_nationkey: 1}) RETURN n.n_name AS name
                UNION ALL
                MATCH (n:Nation {n_nationkey: 1}) RETURN n.n_name AS name }
         RETURN count(*) AS c""").collect()
    assert(ua.head.getLong(0) == 2L)
    // the union's result context merges ALL branches: string-typedness
    // contributed only by the SECOND branch (a concat) still dispatches
    // the downstream `+` to concatenation, not arithmetic
    val sm = engine.run(
      """MATCH (r:Region {r_regionkey: 0})
         CALL { MATCH (n:Nation {n_nationkey: 1}) RETURN coalesce(n.n_name, '?') AS v
                UNION ALL
                MATCH (n:Nation {n_nationkey: 2}) RETURN 'B:' + n.n_name AS v }
         RETURN v + '!' AS w ORDER BY w""").collect()
    assert(sm.length == 2 && sm.forall(_.getString(0).endsWith("!")))
    // correlated UNION: each branch repeats the importing WITH and
    // correlates per key; evens + odds partition each region's 5 nations
    val cu = engine.run(
      """MATCH (r:Region)
         CALL { WITH r MATCH (n:Nation)-[:IN_REGION]->(r)
                WHERE n.n_nationkey % 2 = 0 RETURN n.n_name AS x
                UNION
                WITH r MATCH (n:Nation)-[:IN_REGION]->(r)
                WHERE n.n_nationkey % 2 = 1 RETURN n.n_name AS x }
         RETURN r.r_name AS rn, count(*) AS c ORDER BY rn""").collect()
    assert(cu.length == 5 && cu.forall(_.getLong(1) == 5L))
    // overlapping correlated branches: bare UNION dedupes per key,
    // UNION ALL keeps both copies
    val dd = engine.run(
      """MATCH (r:Region {r_regionkey: 0})
         CALL { WITH r MATCH (n:Nation)-[:IN_REGION]->(r) RETURN n.n_name AS x
                UNION
                WITH r MATCH (n:Nation)-[:IN_REGION]->(r) RETURN n.n_name AS x }
         RETURN count(*) AS c""").collect().head.getLong(0)
    assert(dd == 5L)
    val da = engine.run(
      """MATCH (r:Region {r_regionkey: 0})
         CALL { WITH r MATCH (n:Nation)-[:IN_REGION]->(r) RETURN n.n_name AS x
                UNION ALL
                WITH r MATCH (n:Nation)-[:IN_REGION]->(r) RETURN n.n_name AS x }
         RETURN count(*) AS c""").collect().head.getLong(0)
    assert(da == 10L)
    // trailing ORDER BY + LIMIT on the last branch slices PER KEY across
    // the whole union (2 of each region's 5, 10 rows total)
    val topk = engine.run(
      """MATCH (r:Region)
         CALL { WITH r MATCH (n:Nation)-[:IN_REGION]->(r) RETURN n.n_name AS x
                UNION
                WITH r MATCH (n:Nation)-[:IN_REGION]->(r) RETURN n.n_name AS x
                ORDER BY x LIMIT 2 }
         RETURN r.r_name AS rn, x ORDER BY rn, x""").collect()
    assert(topk.length == 10)
    // an aggregate-only branch contributes its zero-row aggregate even
    // when the sibling branch has rows for that key
    val ag = engine.run(
      """MATCH (r:Region {r_regionkey: 0})
         CALL { WITH r MATCH (n:Nation)-[:IN_REGION]->(r)
                WHERE n.n_nationkey < -1 RETURN count(n) AS x
                UNION ALL
                WITH r MATCH (n:Nation)-[:IN_REGION]->(r) RETURN count(n) AS x }
         RETURN x ORDER BY x""").collect()
    assert(ag.map(_.getAs[Number](0).longValue).toSeq == Seq(0L, 5L))
    // a branch whose importing WITH differs from the first's rejects at parse
    val perr = intercept[Parser.ParseException](engine.run(
      """MATCH (r:Region), (s:Supplier)
         CALL { WITH r MATCH (n:Nation)-[:IN_REGION]->(r) RETURN n.n_name AS x
                UNION
                WITH s MATCH (n:Nation) RETURN n.n_name AS x }
         RETURN count(*) AS c"""))
    assert(perr.getMessage.contains("same importing WITH"))
    // a branch that OMITS the importing WITH entirely also rejects at
    // parse (Neo4j requires every branch to repeat it) — previously it
    // was silently compiled as correlated
    val merr = intercept[Parser.ParseException](engine.run(
      """MATCH (r:Region)
         CALL { WITH r MATCH (n:Nation)-[:IN_REGION]->(r) RETURN n.n_name AS x
                UNION
                MATCH (n:Nation) RETURN n.n_name AS x }
         RETURN count(*) AS c"""))
    assert(merr.getMessage.contains("must begin with the same importing WITH"))
    // full composition: one branch aggregates through an intermediate WITH
    // (its zero-match restore runs inside the branch), the sibling branch
    // is plain, and the trailing ORDER BY + LIMIT slices per key across
    // the union — per region: count-of-nations (5) from branch A, the two
    // smallest nation names from branch B, sliced to the per-key top-2 of
    // the union by x ascending (the count 5 sorts before the names)
    val comp = engine.run(
      """MATCH (r:Region)
         CALL { WITH r MATCH (n:Nation)-[:IN_REGION]->(r)
                WITH count(n) AS cnt
                RETURN toString(cnt) AS x
                UNION ALL
                WITH r MATCH (n:Nation)-[:IN_REGION]->(r)
                RETURN n.n_name AS x
                ORDER BY x LIMIT 2 }
         RETURN r.r_name AS rn, x ORDER BY rn, x""").collect()
      .map(rr => (rr.getString(0), rr.getString(1))).toSeq
    assert(comp.length == 10)
    // every region keeps exactly 2 rows and the '5' count row wins the
    // ascending sort (digits < letters in UTF-8)
    comp.grouped(2).foreach { g =>
      assert(g.map(_._1).distinct.size == 1)
      assert(g.head._2 == "5")
    }
  }

  test("var-length closure is seed-restricted by a bound anchor") {
    // the enumeration must start from the anchored keys (left-semi join
    // against the bound frame's distinct anchor keys), not the whole edge
    // frame — at scale this bounds the closure to the anchored
    // neighborhood, the same argument as shortestPath's source seeding
    val df = engine.run(
      """MATCH (o:Order {o_orderkey: 1})-[:CONTAINS*1..2]->(p)
         RETURN count(*) AS c""")
    assert(df.queryExecution.executedPlan.toString.contains("LeftSemi"))
    // and the seeded result still matches the unseeded single-hop answer
    val viaPlain = engine.run(
      """MATCH (o:Order {o_orderkey: 1})-[:CONTAINS]->(p:Part)
         RETURN count(*) AS c""").collect().head.getLong(0)
    // CONTAINS is heterogeneous (Order→Part), so *1..2 caps at one hop
    assert(df.collect().head.getLong(0) == viaPlain)
  }

  test("unused endpoint node-store joins are elided (A/B pinned)") {
    import org.apache.spark.sql.catalyst.plans.logical.{Join => LJoin}
    def joins(df: org.apache.spark.sql.DataFrame): Int =
      df.queryExecution.optimizedPlan.collect { case j: LJoin => j }.size
    // persist the stores (production calling convention, CypherQueries does
    // the same) so the edge BUILD's own FK-validation semi-joins collapse
    // into InMemoryRelation leaves — the join count then measures exactly
    // the pattern-compile joins this test pins
    val pstore = store.copy(
      nodes = store.nodes.map { case (k, d) => k -> d.persist() },
      edges = store.edges.map { case (k, d) => k -> d.persist() })
    val eng = CypherEngine(pstore)
    try {
      // o and p occur once each and are never read: with validated edges
      // the whole query is an edge-store scan — zero joins
      val q = "MATCH (o:Order)-[l:CONTAINS]->(p:Part) RETURN count(l) AS cnt"
      val elided = eng.run(q)
      assert(joins(elided) == 0)
      val elidedRows = elided.collect().toSeq
      assert(elidedRows.head.getLong(0) == pstore.edges("CONTAINS").count())
      // the joined reference: an unvalidated store keeps both endpoint
      // joins, and the rows are identical
      val kept = CypherEngine(pstore.copy(validatedEdges = Set.empty)).run(q)
      assert(joins(kept) == 2)
      assert(kept.collect().toSeq == elidedRows)
      // a referenced endpoint keeps ITS join (only the unused one elides)
      val partial = eng.run(
        "MATCH (o:Order)-[l:CONTAINS]->(p:Part) RETURN count(p.p_name) AS cnt")
      assert(joins(partial) == 1)
      // a star projection disables elision (it carries every variable)
      val star = eng.run(
        "MATCH (o:Order)-[l:CONTAINS]->(p:Part) WITH * RETURN count(o) AS cnt")
      assert(joins(star) == 2)
    } finally {
      pstore.nodes.values.foreach(_.unpersist(false))
      pstore.edges.values.foreach(_.unpersist(false))
    }
  }

  test("shortestPath over heterogeneous labels: bipartite undirected BFS") {
    import org.apache.spark.sql.functions.col
    // CONTAINS is Order→Part — src and dst labels differ, so multi-hop
    // traversal must alternate sides undirected with label-tagged node ids
    val res = engine.run(
      """MATCH p = shortestPath((o:Order {o_orderkey: 1})-[:CONTAINS*1..3]-(b:Part))
         RETURN toInteger(b.p_partkey) AS pk, length(p) AS len,
                nodes(p) AS path ORDER BY pk""").collect()
    assert(res.nonEmpty)
    // every reported distance to a Part is odd (side alternation)
    assert(res.forall(r => r.getLong(1) % 2 == 1))
    // the direct parts of order 1 are exactly the len-1 rows
    val direct = store.edges("CONTAINS")
      .filter(col("l_orderkey") === 1).select("l_partkey")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(res.filter(_.getLong(1) == 1L).map(_.getLong(0)).toSeq == direct)
    // there ARE distance-3 parts (order 1 shares parts with other orders)
    assert(res.exists(_.getLong(1) == 3L))
    // nodes(p) renders label-tagged ids; paths start at the seed order and
    // alternate Order:/Part:
    val p3 = res.find(_.getLong(1) == 3L).get.getSeq[String](2)
    assert(p3.head == "Order:1" && p3.size == 4)
    assert(p3(1).startsWith("Part:") && p3(2).startsWith("Order:") &&
      p3(3).startsWith("Part:"))

    // DIRECTED over a heterogeneous type composes only length-1 paths:
    // same result as capping the bounds at one hop
    val directed = engine.run(
      """MATCH p = shortestPath((o:Order {o_orderkey: 1})-[:CONTAINS*1..3]->(b:Part))
         RETURN toInteger(b.p_partkey) AS pk, length(p) AS len ORDER BY pk""").collect()
    assert(directed.map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      direct.map(k => (k, 1L)))
  }

  test("shortestPath through a heterogeneous type disjunction (tagged group BFS)") {
    import org.apache.spark.sql.functions.col
    // CONTAINS (Order→Part) and PLACED_BY (Order→Customer) span different
    // label pairs: the BFS runs over the union of both tagged edge sets,
    // changing node label per hop as the types allow
    val res = engine.run(
      """MATCH p = shortestPath((o:Order {o_orderkey: 1})-[:CONTAINS|PLACED_BY*1..3]-(c:Customer))
         RETURN toInteger(c.c_custkey) AS ck, length(p) AS len ORDER BY ck""").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    // expected closure: order 1's own customer at 1; customers of orders
    // sharing a part with order 1 at 3 (len-2 nodes are Orders/Parts only)
    val own = store.edges("PLACED_BY").filter(col("o_orderkey") === 1)
      .select("o_custkey").collect().map(_.getLong(0)).toSet
    val parts = store.edges("CONTAINS").filter(col("l_orderkey") === 1)
      .select("l_partkey").collect().map(_.getLong(0)).toSet
    val coOrders = store.edges("CONTAINS")
      .filter(col("l_partkey").isin(parts.toSeq: _*))
      .select("l_orderkey").collect().map(_.getLong(0)).toSet
    val viaParts = store.edges("PLACED_BY")
      .filter(col("o_orderkey").isin(coOrders.toSeq: _*))
      .select("o_custkey").collect().map(_.getLong(0)).toSet -- own
    val expected =
      (own.map(_ -> 1L) ++ viaParts.map(_ -> 3L)).toSeq.sortBy(_._1)
    assert(res == expected)
    // the far endpoint's label is ambiguous in a heterogeneous group:
    // an unannotated endpoint rejects loudly
    val err = intercept[CypherEngine.CypherException](engine.run(
      """MATCH p = shortestPath((o:Order {o_orderkey: 1})-[:CONTAINS|PLACED_BY*1..3]-(x))
         RETURN length(p) AS len"""))
    assert(err.getMessage.contains("annotate or pre-bind"))
    // a DIRECTED heterogeneous disjunction cannot compose hops
    val err2 = intercept[CypherEngine.CypherException](engine.run(
      """MATCH p = shortestPath((o:Order {o_orderkey: 1})-[:CONTAINS|PLACED_BY*1..3]->(c:Customer))
         RETURN length(p) AS len"""))
    assert(err2.getMessage.contains("undirected"))
  }

  test("time/localtime/localdatetime constructors, accessors, rendering") {
    // time values are epoch-day-anchored timestamps: accessors, ordering,
    // and equality ride timestamp operations; toString renders HH:mm:ss
    // through the time-typed alias tracking (a raw cast would leak the
    // anchor date)
    val r = engine.run(
      """MATCH (x:Region {r_regionkey: 0})
         WITH time('21:40:32') AS t, localtime('09:05:01') AS lt
         RETURN toString(t) AS ts, toString(lt) AS lts,
                time('21:40:32').hour AS th, time('21:40:32').minute AS tm,
                time('21:40:32').second AS tsec,
                t < time('22:00:00') AS earlier,
                toString(localdatetime('2015-07-21T21:40:32')) AS ldt""").collect().head
    assert(r.getString(0) == "21:40:32")
    assert(r.getString(1) == "09:05:01")
    assert(r.getInt(2) == 21 && r.getInt(3) == 40 && r.getInt(4) == 32)
    assert(r.getBoolean(5))
    assert(r.getString(6) == "2015-07-21 21:40:32")
    // the zero-arg wall-clock forms reject loudly (nondeterministic in a
    // distributed, re-executable plan)
    val err = intercept[CypherEngine.CypherException](engine.run(
      "MATCH (x:Region) RETURN time() AS t"))
    assert(err.getMessage.contains("wall clock"))
    // a non-string literal (Neo4j's map form would need `{...}`, which the
    // expression grammar already rejects) errors loudly instead of
    // silently producing null through the string cast
    val nerr = intercept[CypherEngine.CypherException](engine.run(
      "MATCH (x:Region) RETURN time(2140) AS t"))
    assert(nerr.getMessage.contains("expects a string"))
    // map-form constructors (round 11): component maps compile to
    // make_date/make_timestamp; omitted smaller units default to their
    // minimum (Neo4j's clamp), and the values may be expressions
    val mp = engine.run(
      """MATCH (x:Region {r_regionkey: 0})
         RETURN toString(time({hour: 21, minute: 40})) AS t1,
                toString(time({hour: 9})) AS t2,
                toString(datetime({year: 2024, month: 2, day: 29, hour: 6})) AS dt,
                toString(datetime({year: 2024})) AS dtmin,
                toString(date({year: 1998, month: 3, day: 17})) AS d1,
                toString(date({year: 1998})) AS d2,
                toString(localdatetime({year: 2015, month: 7, day: 21,
                  hour: 21, minute: 40, second: 32})) AS ldt,
                date({year: 1990 + toInteger(x.r_regionkey),
                  month: 2}) AS dexpr""").collect().head
    assert(mp.getString(0) == "21:40:00")
    assert(mp.getString(1) == "09:00:00")
    assert(mp.getString(2) == "2024-02-29 06:00:00")
    assert(mp.getString(3) == "2024-01-01 00:00:00")
    assert(mp.getString(4) == "1998-03-17")
    assert(mp.getString(5) == "1998-01-01")
    assert(mp.getString(6) == "2015-07-21 21:40:32")
    assert(mp.getDate(7).toString == "1990-02-01")
    // map-form component accessors + comparison ride the time-typed path
    val mcmp = engine.run(
      """MATCH (x:Region {r_regionkey: 0})
         RETURN time({hour: 21, minute: 40}).hour AS h,
                time({hour: 21}) < time('22:00:00') AS lt""").collect().head
    assert(mcmp.getInt(0) == 21 && mcmp.getBoolean(1))
    // non-contiguous components (gap), unknown keys, and empty maps
    // reject loudly (Neo4j rejects gaps like {year, day} too)
    def mrejects(q: String, msg: String): Unit = {
      val e = intercept[CypherEngine.CypherException](engine.run(q))
      assert(e.getMessage.contains(msg), s"$q => ${e.getMessage}")
    }
    mrejects("MATCH (x:Region) RETURN datetime({year: 2024, day: 5}) AS t",
      "contiguous component prefix")
    mrejects("MATCH (x:Region) RETURN time({minute: 40}) AS t",
      "contiguous component prefix")
    mrejects("MATCH (x:Region) RETURN datetime({yr: 2024}) AS t",
      "unsupported component")
    mrejects("MATCH (x:Region) RETURN date({}) AS t", "no components")
    // a map literal outside a temporal constructor rejects with guidance
    mrejects("MATCH (x:Region) RETURN {a: 1} AS m",
      "temporal or spatial constructor")
    // fractional SECONDS are honored (make_timestamp takes decimal
    // seconds — Neo4j's datetime({…, second: 1.5})); every other
    // component rejects a fraction loudly instead of truncating
    val frac = engine.run(
      """MATCH (x:Region {r_regionkey: 0})
         RETURN datetime({year: 2020, month: 1, day: 1, hour: 0,
                          minute: 0, second: 1.5}) AS t""").collect().head
    assert(frac.getTimestamp(0).toString == "2020-01-01 00:00:01.5")
    mrejects(
      "MATCH (x:Region) RETURN datetime({year: 2020, month: 1, day: 1, hour: 1.5}) AS t",
      "must be an integer")
    mrejects("MATCH (x:Region) RETURN time({hour: 2, minute: 30.5}) AS t",
      "must be an integer")
  }

  test("shortestPath BFS agrees under the reliable-checkpoint mode") {
    // graft.checkpoint.dir routes bfsFrames' per-level cuts through a
    // reliable checkpoint() every k-th cut — same rows as the local default
    val q =
      """MATCH p = shortestPath((o:Order {o_orderkey: 1})-[:CONTAINS*1..3]-(b:Part))
         RETURN toInteger(b.p_partkey) AS pk, length(p) AS len ORDER BY pk"""
    val before = engine.run(q).collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt-cy").toString
    spark.conf.set(graft.graph.GraphAnalytics.CheckpointDirKey, dir)
    spark.conf.set(graft.graph.GraphAnalytics.CheckpointIntervalKey, "1")
    try {
      val after = engine.run(q).collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(after == before && before.nonEmpty)
    } finally {
      spark.conf.unset(graft.graph.GraphAnalytics.CheckpointDirKey)
      spark.conf.unset(graft.graph.GraphAnalytics.CheckpointIntervalKey)
    }
  }

  test("quantified path patterns desugar to the var-length machinery") {
    import org.apache.spark.sql.functions.col
    // the desugar is exact: the QPP spelling and the var-length spelling
    // parse to IDENTICAL ASTs, so every downstream plan is shared
    assert(Parser.parse("MATCH (a:X) (()-[:R]->()){1,3} (b:X) RETURN a.k AS k") ==
      Parser.parse("MATCH (a:X)-[:R*1..3]->(b:X) RETURN a.k AS k"))
    assert(Parser.parse("MATCH (a:X) (()-[:R]->()){2} (b:X) RETURN a.k AS k") ==
      Parser.parse("MATCH (a:X)-[:R*2]->(b:X) RETURN a.k AS k"))
    assert(Parser.parse("MATCH (a:X) (()-[:R]->()){2,} (b:X) RETURN a.k AS k") ==
      Parser.parse("MATCH (a:X)-[:R*2..]->(b:X) RETURN a.k AS k"))
    assert(Parser.parse("MATCH (a:X) (()-[:R]->())+ (b:X) RETURN a.k AS k") ==
      Parser.parse("MATCH (a:X)-[:R*]->(b:X) RETURN a.k AS k"))
    // the quantified-relationship shorthand too
    assert(Parser.parse("MATCH (a:X)-[:R]->{1,3}(b:X) RETURN a.k AS k") ==
      Parser.parse("MATCH (a:X)-[:R*1..3]->(b:X) RETURN a.k AS k"))
    assert(Parser.parse("MATCH (a:X)<-[:R]-{2}(b:X) RETURN a.k AS k") ==
      Parser.parse("MATCH (a:X)<-[:R*2]-(b:X) RETURN a.k AS k"))
    // end-to-end on the two-type ring: QPP rows == var-length rows
    val nation = graft.sources.Tables.load(spark, sf, "nation")
    val k = col("n_nationkey")
    var st = graft.graph.GraphWriter.mergeNodes(GraphStore.empty, "Nation",
      nation.select(k, col("n_name")), Seq("n_nationkey"))
    st = graft.graph.GraphWriter.mergeEdges(st, "HOP", "Nation", "Nation",
      "src", "dst", nation.select(k.as("src"), ((k + 1) % 25).as("dst")))
    st = graft.graph.GraphWriter.mergeEdges(st, "JUMP", "Nation", "Nation",
      "src", "dst", nation.select(k.as("src"), ((k + 5) % 25).as("dst")))
    val eng = CypherEngine(st)
    def rows(q: String): Seq[(Long, Long)] = eng.run(q).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    val qpp = rows(
      """MATCH (a:Nation {n_nationkey: 0}) (()-[:HOP|JUMP]->()){1,2} (b:Nation)
         RETURN toInteger(b.n_nationkey) AS dst, count(*) AS paths ORDER BY dst""")
    val vl = rows(
      """MATCH (a:Nation {n_nationkey: 0})-[:HOP|JUMP*1..2]->(b:Nation)
         RETURN toInteger(b.n_nationkey) AS dst, count(*) AS paths ORDER BY dst""")
    assert(qpp == vl && qpp.nonEmpty)
    // the shapes a var-length walk can't express reject loudly
    def rejects(q: String, msg: String): Unit = {
      val e = intercept[Parser.ParseException](Parser.parse(q))
      assert(e.getMessage.contains(msg), s"$q => ${e.getMessage}")
    }
    rejects("MATCH (a:X) (()-[:R]->()-[:S]->()){1,2} (b:X) RETURN a.k AS k",
      "exactly one relationship")
    rejects("MATCH (a:X) ((x)-[:R]->()){1,2} (b:X) RETURN a.k AS k",
      "anonymous inner nodes")
    rejects("MATCH (a:X) (()-[:R]->(:L)){1,2} (b:X) RETURN a.k AS k",
      "anonymous inner nodes")
    // zero-length quantifiers parse (round 11): `*` = {0,}, `{,n}` = {0,n}
    assert(Parser.parse("MATCH (a:X) (()-[:R]->()){0,2} (b:X) RETURN a.k AS k") ==
      Parser.parse("MATCH (a:X)-[:R*0..2]->(b:X) RETURN a.k AS k"))
    assert(Parser.parse("MATCH (a:X) (()-[:R]->())* (b:X) RETURN a.k AS k") ==
      Parser.parse("MATCH (a:X)-[:R*0..]->(b:X) RETURN a.k AS k"))
    assert(Parser.parse("MATCH (a:X) (()-[:R]->()){,2} (b:X) RETURN a.k AS k") ==
      Parser.parse("MATCH (a:X)-[:R*0..2]->(b:X) RETURN a.k AS k"))
    rejects("MATCH (a:X) (()-[:R*1..2]->()){1,2} (b:X) RETURN a.k AS k",
      "nests quantifiers")
    // QPP spellings compose with shortestPath: the shorthand inside the
    // path function desugars to the same var-length AST
    assert(Parser.parse(
      "MATCH p = shortestPath((a:X)-[:R]->+(b:X)) RETURN length(p) AS l") ==
      Parser.parse(
        "MATCH p = shortestPath((a:X)-[:R*]->(b:X)) RETURN length(p) AS l"))
    assert(Parser.parse(
      "MATCH p = shortestPath((a:X) (()-[:R]-()){1,3} (b:X)) RETURN length(p) AS l") ==
      Parser.parse(
        "MATCH p = shortestPath((a:X)-[:R*1..3]-(b:X)) RETURN length(p) AS l"))
  }

  test("a relationship variable on a var-length shortestPath binds the relationship list") {
    // Neo4j semantics: `p = shortestPath((a)-[rs:T*..]->(b))` binds rs to
    // the LIST of relationships along p — normalized to relationships(p)
    // (the per-hop type machinery renders disjunctions), with bare items
    // keeping the variable's output name
    val rows = engine.run(
      """MATCH p = shortestPath((o:Order {o_orderkey: 1})-[rs:CONTAINS|PLACED_BY*1..3]-(c:Customer))
         RETURN toInteger(c.c_custkey) AS ck, size(rs) AS n, length(p) AS len,
                [x IN rs | x.type] AS ts, relationships(p) AS rels
         ORDER BY ck""").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getInt(1).toLong == r.getLong(2)) // size(rs) == length(p)
      val ts = r.getSeq[String](3)
      val rels = r.getSeq[org.apache.spark.sql.Row](4)
      assert(ts == rels.map(_.getString(2)))
    }
    // bare `RETURN rs` keeps the variable's column name
    val named = engine.run(
      """MATCH p = shortestPath((a:Nation {n_nationkey: 0})-[rs:IN_REGION*1..1]->(b:Region))
         RETURN rs""").collect()
    assert(named.nonEmpty)
    // a lambda variable with the same name shadows the binding
    val sh = engine.run(
      """MATCH p = shortestPath((a:Nation {n_nationkey: 0})-[rs:IN_REGION*1..1]->(b:Region))
         RETURN [rs IN [1, 2] | rs + 1] AS xs, size(rs) AS n""").collect().head
    assert(sh.getSeq[Long](0) == Seq(2L, 3L) && sh.getInt(1) == 1)
    // two shortestPaths binding the same relationship variable reject
    val err = intercept[CypherEngine.CypherException](engine.run(
      """MATCH p = shortestPath((a:Nation {n_nationkey: 0})-[rs:IN_REGION*1..1]->(b:Region))
         MATCH q = shortestPath((c:Nation {n_nationkey: 1})-[rs:IN_REGION*1..1]->(d:Region))
         RETURN size(rs) AS n"""))
    assert(err.getMessage.contains("more than one shortestPath"))
  }

  test("group variables bind the relationship list of a quantified/var-length pattern") {
    import org.apache.spark.sql.functions.col
    // +1-mod-25 ring with a weight property w = src%3 + 1
    val nation = graft.sources.Tables.load(spark, sf, "nation")
    val k = col("n_nationkey")
    var st = graft.graph.GraphWriter.mergeNodes(GraphStore.empty, "Nation",
      nation.select(k, col("n_name")), Seq("n_nationkey"))
    st = graft.graph.GraphWriter.mergeEdges(st, "W", "Nation", "Nation",
      "src", "dst",
      nation.select(k.as("src"), ((k + 1) % 25).as("dst"), (k % 3 + 1).as("w")))
    st = graft.graph.GraphWriter.mergeEdges(st, "JUMP", "Nation", "Nation",
      "src", "dst", nation.select(k.as("src"), ((k + 5) % 25).as("dst")))
    val eng = CypherEngine(st)
    // QPP group variable: r is the LIST of traversed relationships, in
    // pattern order — size, reduce over a property, per-hop type()
    val r = eng.run(
      """MATCH (a:Nation {n_nationkey: 0}) (()-[r:W]->()){3} (b:Nation)
         RETURN toInteger(b.n_nationkey) AS dst, size(r) AS hops,
                reduce(s = 0, x IN r | s + x.w) AS tw,
                [x IN r | toInteger(x.src)] AS srcs,
                [x IN r | type(x)] AS types""").collect()
    assert(r.length == 1)
    assert(r.head.getLong(0) == 3L && r.head.getInt(1) == 3)
    // w(0)=1, w(1)=2, w(2)=3
    assert(r.head.getAs[Number](2).longValue == 6L)
    assert(r.head.getSeq[Long](3) == Seq(0L, 1L, 2L))
    assert(r.head.getSeq[String](4) == Seq("W", "W", "W"))
    // the legacy var-length spelling binds the identical list
    val legacy = eng.run(
      """MATCH (a:Nation {n_nationkey: 0})-[r:W*3]->(b:Nation)
         RETURN reduce(s = 0, x IN r | s + x.w) AS tw""").collect()
    assert(legacy.head.getAs[Number](0).longValue == 6L)
    // dst-side anchor (a unbound, b bound): the list still reads in
    // PATTERN order a→b, not enumeration order
    val rev = eng.run(
      """MATCH (b:Nation {n_nationkey: 3}) MATCH (a:Nation)-[r:W*2]->(b)
         RETURN [x IN r | toInteger(x.src)] AS srcs""").collect()
    assert(rev.length == 1 && rev.head.getSeq[Long](0) == Seq(1L, 2L))
    // a type-disjunction group carries the real per-hop type; a member
    // type lacking the property reads null (filtered by the lambda)
    val mixed = eng.run(
      """MATCH (a:Nation {n_nationkey: 0}) (()-[r:W|JUMP]->()){2} (b:Nation {n_nationkey: 6})
         RETURN [x IN r | type(x)] AS types ORDER BY types""").collect()
    val mts = mixed.map(_.getSeq[String](0)).toSeq
    assert(mts.contains(Seq("W", "JUMP")) && mts.contains(Seq("JUMP", "W")))
    // WHERE-side list predicates ride the same binding
    val filt = eng.run(
      """MATCH (a:Nation {n_nationkey: 0})-[r:W*1..3]->(b:Nation)
         WHERE all(x IN r WHERE x.w <= 2)
         RETURN count(*) AS c""").collect()
    // paths: [w1]=ok, [w1,w2]=ok, [w1,w2,w3]=no (w=3 at src 2)
    assert(filt.head.getLong(0) == 2L)
    // an open bound with a list-bound variable rejects loudly
    val err = intercept[CypherEngine.CypherException](eng.run(
      "MATCH (a:Nation {n_nationkey: 0})-[r:W*]->(b:Nation) RETURN size(r) AS s"))
    assert(err.getMessage.contains("bound the pattern"))
    // inline hop props COMPOSE with the group variable: the filter holds
    // at every hop AND the bound structs carry the filtered property
    val pw = eng.run(
      """MATCH (a:Nation {n_nationkey: 1})-[r:W*2 {w: 3}]->(b:Nation)
         RETURN [x IN r | x.w] AS ws""").collect()
    // ring weights w = src%3+1: from 1, w(1)=2 — no w=3 first hop, so no rows;
    // from 2 the first hop has w(2)=3 but we anchored at 1 → empty
    assert(pw.isEmpty)
    val pw2 = eng.run(
      """MATCH (a:Nation {n_nationkey: 2})-[r:W*1 {w: 3}]->(b:Nation)
         RETURN [x IN r | x.w] AS ws""").collect()
    assert(pw2.length == 1 && pw2.head.getSeq[Long](0) == Seq(3L))
  }

  test("zero-length quantifiers: identity row unions under the closure") {
    import org.apache.spark.sql.functions.col
    // +1-mod-25 ring with weight w = src%3+1 (same fixture family as the
    // group-variable test)
    val nation = graft.sources.Tables.load(spark, sf, "nation")
    val k = col("n_nationkey")
    var st = graft.graph.GraphWriter.mergeNodes(GraphStore.empty, "Nation",
      nation.select(k, col("n_name")), Seq("n_nationkey"))
    st = graft.graph.GraphWriter.mergeEdges(st, "W", "Nation", "Nation",
      "src", "dst",
      nation.select(k.as("src"), ((k + 1) % 25).as("dst"), (k % 3 + 1).as("w")))
    val eng = CypherEngine(st)
    def pairs(q: String): Seq[(Long, Long)] = eng.run(q).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    // *0..1: the length-0 path binds b to a itself
    assert(pairs("""MATCH (a:Nation {n_nationkey: 0})-[:W*0..1]->(b:Nation)
                    RETURN toInteger(b.n_nationkey) AS dst, count(*) AS c
                    ORDER BY dst""") == Seq((0L, 1L), (1L, 1L)))
    // *0..0 / {0}: identity only
    assert(pairs("""MATCH (a:Nation {n_nationkey: 7})-[:W*0..0]->(b:Nation)
                    RETURN toInteger(b.n_nationkey) AS dst, count(*) AS c""") ==
      Seq((7L, 1L)))
    // group variable over {0,2}: the zero-length row carries an EMPTY list
    val gv = eng.run(
      """MATCH (a:Nation {n_nationkey: 0}) (()-[r:W]->()){0,2} (b:Nation)
         RETURN toInteger(b.n_nationkey) AS dst, size(r) AS hops,
                reduce(s = 0, x IN r | s + x.w) AS tw ORDER BY dst""").collect()
      .map(x => (x.getLong(0), x.getInt(1), x.getAs[Number](2).longValue)).toSeq
    assert(gv == Seq((0L, 0, 0L), (1L, 1, 1L), (2L, 2, 3L)))
    // QPP `*` (0..∞): relationship-unique walks + the identity row — on
    // the one-out-edge ring every node is reached by exactly one path,
    // node 0 twice (length 0 and the full 25-edge cycle)
    val star = eng.run(
      """MATCH (a:Nation {n_nationkey: 0}) (()-[:W]->())* (b:Nation)
         RETURN count(*) AS paths""").collect()
    assert(star.head.getLong(0) == 26L)
    // dst-side anchor: identity respects the seed restriction
    assert(pairs("""MATCH (b:Nation {n_nationkey: 3}) MATCH (a:Nation)-[:W*0..1]->(b)
                    RETURN toInteger(a.n_nationkey) AS src, count(*) AS c
                    ORDER BY src""") == Seq((2L, 1L), (3L, 1L)))
    // inline props never constrain the zero-length row (no traversed
    // relationships to filter — Neo4j semantics): w=99 matches no edge,
    // so only the identity survives
    assert(pairs("""MATCH (a:Nation {n_nationkey: 5})-[:W*0..3 {w: 99}]->(b:Nation)
                    RETURN toInteger(b.n_nationkey) AS dst, count(*) AS c""") ==
      Seq((5L, 1L)))
    // heterogeneous endpoints: zero-length can never unify two labels —
    // *0..1 silently equals *1..1, *0..0 rejects loudly
    val h1 = engine.run(
      """MATCH (o:Order {o_orderkey: 1})-[:CONTAINS*0..1]->(p:Part)
         RETURN count(*) AS c""").collect().head.getLong(0)
    val h2 = engine.run(
      """MATCH (o:Order {o_orderkey: 1})-[:CONTAINS*1..1]->(p:Part)
         RETURN count(*) AS c""").collect().head.getLong(0)
    assert(h1 == h2 && h1 > 0)
    val err = intercept[CypherEngine.CypherException](engine.run(
      "MATCH (o:Order {o_orderkey: 1})-[:CONTAINS*0..0]->(p:Part) RETURN count(*) AS c"))
    assert(err.getMessage.contains("zero-length"))
    // shortestPath with lo=0: the zero-length path IS the shortest for
    // (a, a) — dist 0, path [a]; other pairs keep their BFS minimum
    val sp = eng.run(
      """MATCH p = shortestPath((a:Nation {n_nationkey: 0})-[:W*0..3]->(b:Nation))
         RETURN toInteger(b.n_nationkey) AS dst, length(p) AS len,
                size(nodes(p)) AS nn ORDER BY dst""").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
    assert(sp == Seq((0L, 0L, 1), (1L, 1L, 2), (2L, 2L, 3), (3L, 3L, 4)))
    // shortestPath *0..0: the identity row ONLY — no BFS runs, so no
    // length-1 pairs leak in (r11 ADVICE)
    val sp0 = eng.run(
      """MATCH p = shortestPath((a:Nation {n_nationkey: 4})-[:W*0..0]->(b:Nation))
         RETURN toInteger(b.n_nationkey) AS dst, length(p) AS len""").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(sp0 == Seq((4L, 0L)))
    // heterogeneous *0..0 shortestPath rejects loudly, like the closure
    val sperr = intercept[CypherEngine.CypherException](engine.run(
      """MATCH p = shortestPath((o:Order {o_orderkey: 1})-[:CONTAINS*0..0]->(q:Part))
         RETURN count(*) AS c"""))
    assert(sperr.getMessage.contains("zero-length"))
  }

  test("relationships(p) through a type-disjunction shortestPath carries per-hop types") {
    import org.apache.spark.sql.functions.col
    // the BFS accumulates the edge type taken at each hop, so
    // relationships(p) renders (src, dst, type) with the REAL per-hop
    // type — a length-1 path is the direct PLACED_BY, a length-3 path is
    // CONTAINS,CONTAINS,PLACED_BY (Order→Part→Order→Customer)
    val rows = engine.run(
      """MATCH p = shortestPath((o:Order {o_orderkey: 1})-[:CONTAINS|PLACED_BY*1..3]-(c:Customer))
         RETURN toInteger(c.c_custkey) AS ck, length(p) AS len,
                relationships(p) AS rels ORDER BY ck""").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val len = r.getLong(1)
      val rels = r.getSeq[org.apache.spark.sql.Row](2)
      assert(rels.length == len.toInt)
      val types = rels.map(_.getString(2))
      if (len == 1L) assert(types == Seq("PLACED_BY"))
      else assert(types == Seq("CONTAINS", "CONTAINS", "PLACED_BY"))
      // hop endpoints chain: dst of hop i == src of hop i+1, and the ends
      // are the tagged order/customer ids
      assert(rels.head.getString(0) == "Order:1")
      rels.sliding(2).foreach {
        case Seq(a, b) => assert(a.getString(1) == b.getString(0))
        case _ => ()
      }
      assert(rels.last.getString(1) == s"Customer:${r.getLong(0)}")
    }
    // the same surface over a SAME-LABEL disjunction (scalar-key BFS):
    // HOP (+1 mod 25) and JUMP (+5 mod 25) on Nation — per-hop types real
    val nation = graft.sources.Tables.load(spark, sf, "nation")
    val k = col("n_nationkey")
    var st = graft.graph.GraphWriter.mergeNodes(GraphStore.empty, "Nation",
      nation.select(k, col("n_name")), Seq("n_nationkey"))
    st = graft.graph.GraphWriter.mergeEdges(st, "HOP", "Nation", "Nation",
      "src", "dst", nation.select(k.as("src"), ((k + 1) % 25).as("dst")))
    st = graft.graph.GraphWriter.mergeEdges(st, "JUMP", "Nation", "Nation",
      "src", "dst", nation.select(k.as("src"), ((k + 5) % 25).as("dst")))
    val byDst = CypherEngine(st).run(
      """MATCH p = shortestPath((a:Nation {n_nationkey: 0})-[:HOP|JUMP*1..2]-(b:Nation))
         RETURN toInteger(b.n_nationkey) AS dst, relationships(p) AS rels
         ORDER BY dst""").collect()
      .map(r => r.getLong(0) ->
        r.getSeq[org.apache.spark.sql.Row](1).map(_.getString(2))).toMap
    // loud-rejection removed: direct neighbors carry their edge's type
    assert(byDst(1L) == Seq("HOP") && byDst(5L) == Seq("JUMP"))
    assert(byDst(24L) == Seq("HOP") && byDst(20L) == Seq("JUMP"))
    byDst.values.foreach(_.foreach(t => assert(Set("HOP", "JUMP").contains(t))))
  }

  test("hetero shortestPath composes with unbounded * and allShortestPaths") {
    spark // empty-store writes resolve the session via SparkSession.active
    // tiny bipartite store: left {1,2} – right {10,11,12}; 1-10, 1-11,
    // 2-11, 2-12. From L:1 undirected: R:10,11 at 1; L:2 at 2 (via 11);
    // R:12 at 3 (1-11-2-12 only). allShortestPaths to R:11 is a single
    // path, but L:2 has two len-2 paths? No — only via 11 (2 shares just
    // 11 with 1), so plant a second shared right node to get multiplicity.
    val st0 = CypherEngine(GraphStore.empty).execute(
      "UNWIND $rows AS row MERGE (n:HL {lid: row.lid}) SET n += {lid: row.lid}",
      Map("rows" -> Seq(1L, 2L).map(i => Map[String, Any]("lid" -> i)))).store
    val st1 = CypherEngine(st0).execute(
      "UNWIND $rows AS row MERGE (n:HR {rid: row.rid}) SET n += {rid: row.rid}",
      Map("rows" -> Seq(10L, 11L, 12L, 13L).map(i => Map[String, Any]("rid" -> i)))).store
    val st = CypherEngine(st1).execute(
      """UNWIND $rows AS row
         MATCH (s:HL) WHERE s.lid = row.a
         WITH s, row
         MATCH (t:HR) WHERE t.rid = row.b
         MERGE (s)-[r:OWNS]->(t)""",
      Map("rows" -> Seq((1L, 10L), (1L, 11L), (1L, 13L), (2L, 11L), (2L, 13L), (2L, 12L))
        .map { case (a, b) => Map[String, Any]("a" -> a, "b" -> b) })).store
    val e = CypherEngine(st)
    // unbounded undirected hetero BFS: R:12 found at distance 3 without a bound
    val ub = e.run(
      """MATCH p = shortestPath((a:HL {lid: 1})-[:OWNS*]-(b:HR))
         RETURN toInteger(b.rid) AS rid, length(p) AS len ORDER BY rid""").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(ub == Seq((10L, 1L), (11L, 1L), (12L, 3L), (13L, 1L)))
    // allShortestPaths: two len-3 routes to R:12 (via 11 and via 13)
    val all = e.run(
      """MATCH p = allShortestPaths((a:HL {lid: 1})-[:OWNS*]-(b:HR {rid: 12}))
         RETURN length(p) AS len, count(*) AS paths""").collect()
    assert(all.map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((3L, 2L)))
    // relationships(p) under allShortestPaths + a (single-member) type
    // group widened to a disjunction with a second type: add PREFERS
    // edges L1-R12 so a length-1 mixed-type path displaces the len-3
    // routes, and each hop must carry its REAL member type (keepAll +
    // withRels: distinctness includes the type sequence)
    val st2 = CypherEngine(st).execute(
      """UNWIND $rows AS row
         MATCH (s:HL) WHERE s.lid = row.a
         WITH s, row
         MATCH (t:HR) WHERE t.rid = row.b
         MERGE (s)-[r:PREFERS]->(t)""",
      Map("rows" -> Seq((1L, 12L))
        .map { case (a, b) => Map[String, Any]("a" -> a, "b" -> b) })).store
    val rels = CypherEngine(st2).run(
      """MATCH p = allShortestPaths((a:HL {lid: 1})-[:OWNS|PREFERS*]-(b:HR {rid: 12}))
         RETURN length(p) AS len, relationships(p) AS rs""").collect()
    assert(rels.length == 1)
    val hop = rels.head.getSeq[org.apache.spark.sql.Row](1)
    assert(rels.head.getLong(0) == 1L && hop.map(_.getString(2)) == Seq("PREFERS"))
  }

  test("graph introspection: labels/type/id/keys/properties") {
    val row = engine.run(
      """MATCH (n:Nation)-[r:IN_REGION]->(rg:Region)
         WHERE n.n_nationkey = 3
         RETURN labels(n) AS lbls, type(r) AS typ, id(n) AS nid, keys(rg) AS ks""")
      .collect().head
    assert(row.getSeq[String](0) == Seq("Nation"))
    assert(row.getString(1) == "IN_REGION")
    assert(row.getAs[Number](2).longValue == 3L)
    assert(row.getSeq[String](3) == Seq("r_regionkey", "r_name"))
    // properties(n) carries every node column as a struct
    val props = engine.run(
      """MATCH (n:Nation) WHERE n.n_nationkey = 3
         RETURN properties(n) AS ps""").collect().head.getStruct(0)
    assert(props.fieldIndex("n_name") >= 0 &&
      props.getAs[Number](props.fieldIndex("n_nationkey")).longValue == 3L)
  }

  test("scalar function breadth: string, math, list") {
    val r = engine.run(
      """MATCH (n:Nation) WHERE n.n_nationkey = 7
         RETURN head(split(n.n_name, '_')) AS hd,
                last(split(n.n_name, '_')) AS lst,
                replace(n.n_name, 'NATION', 'N') AS rep,
                left(n.n_name, 6) AS l6, right(n.n_name, 1) AS r1,
                reverse('ab') AS rev,
                toInteger(sign(-3)) AS sgn,
                toInteger(round(exp(log(5.0)))) AS five,
                size(range(1, 10)) AS ten,
                tail([1, 2, 3]) AS tl""").collect().head
    assert(r.getString(0) == "NATION")
    assert(r.getString(1) == "7")
    assert(r.getString(2) == "N_7")
    assert((r.getString(3), r.getString(4)) == ("NATION", "7"))
    assert(r.getString(5) == "ba")
    assert(r.getLong(6) == -1L)
    assert(r.getLong(7) == 5L)
    assert(r.getInt(8) == 10)
    assert(r.getSeq[Long](9) == Seq(2L, 3L))
    // `+` concatenates when either side is a string (generated Cypher's
    // idiom); numeric + stays arithmetic
    val cc = engine.run(
      """MATCH (n:Nation) WHERE n.n_nationkey = 7
         RETURN 'a' + 'b' AS ab,
                n.n_name + '!' AS bang,
                'key=' + toString(n.n_nationkey) AS kv,
                n.n_nationkey + 1 AS num""").collect().head
    assert(cc.getString(0) == "ab")
    assert(cc.getString(1) == "NATION_7!")
    assert(cc.getString(2) == "key=7")
    assert(cc.getLong(3) == 8L)
    // round with precision
    val rp = engine.run(
      "MATCH (n:Nation) WHERE n.n_nationkey = 0 RETURN round(3.14159, 2) AS r2")
      .collect().head
    assert(rp.getDouble(0) == 3.14)
  }

  test("string-typedness survives WITH aliases: s + t concatenates, not arithmetic") {
    // a string carried through a projection alias must still dispatch `+`
    // to concat — the untracked-alias path silently produced NULL (cast
    // of 'a' to double) before Ctx.strs
    val r = engine.run(
      """MATCH (x:Region {r_regionkey: 0})
         WITH x.r_name AS rn, 'a' AS s, 'b' AS t
         RETURN s + t AS st, rn + '!' AS bang, 'p:' + s + t AS chain""").collect().head
    assert(r.getString(0) == "ab")
    assert(r.getString(1) == "AFRICA!")
    assert(r.getString(2) == "p:ab")
    // across two WITH stages (the set must propagate stage to stage)
    val r2 = engine.run(
      """MATCH (x:Region {r_regionkey: 0})
         WITH 'a' AS s WITH s AS u RETURN u + 'z' AS uz""").collect().head
    assert(r2.getString(0) == "az")
    // and through a CALL import
    val r3 = engine.run(
      """MATCH (x:Region {r_regionkey: 0})
         WITH 'q' AS s
         CALL { WITH s MATCH (n:Nation {n_nationkey: 7}) RETURN s + n.n_name AS sn }
         RETURN sn""").collect().head
    assert(r3.getString(0) == "qNATION_7")
  }

  test("correlated CALL with an aggregate-only body keeps zero-match rows") {
    // Neo4j contract: an aggregate-only subquery returns exactly one row
    // per input row even when its MATCH finds nothing — count()=0,
    // sum()=0, collect()=[], max() stays null. An inner join-back would
    // silently drop those input rows.
    val r = engine.run(
      """MATCH (n:Nation)
         CALL { WITH n MATCH (c:Customer)-[:IN_NATION]->(n)
                WHERE c.c_acctbal < -99999999
                RETURN count(c) AS cc, sum(c.c_acctbal) AS sb,
                       collect(c.c_name) AS names, max(c.c_acctbal) AS mx }
         RETURN n.n_nationkey AS nk, cc, sb, names, mx ORDER BY nk""").collect()
    assert(r.length == 25)
    assert(r.forall(_.getLong(1) == 0L))
    assert(r.forall(_.getDouble(2) == 0.0))
    assert(r.forall(_.getSeq[String](3).isEmpty))
    assert(r.forall(_.isNullAt(4)))
    // agreement with the COUNT {} block (same contract, different surface)
    val viaCall = engine.run(
      """MATCH (n:Nation)
         CALL { WITH n MATCH (c:Customer)-[:IN_NATION]->(n) RETURN count(c) AS cc }
         RETURN n.n_nationkey AS nk, cc ORDER BY nk""").collect()
      .map(x => (x.getAs[Number](0).longValue, x.getAs[Number](1).longValue)).toSeq
    val viaBlock = engine.run(
      """MATCH (n:Nation)
         RETURN n.n_nationkey AS nk,
                COUNT { (c:Customer)-[:IN_NATION]->(n) } AS cc ORDER BY nk""").collect()
      .map(x => (x.getAs[Number](0).longValue, x.getAs[Number](1).longValue)).toSeq
    assert(viaCall == viaBlock && viaCall.length == 25)
    // a NON-aggregating zero-match body still eliminates the input row
    // (CALL is cardinality-changing there — inner join is the contract)
    val none = engine.run(
      """MATCH (n:Nation)
         CALL { WITH n MATCH (c:Customer)-[:IN_NATION]->(n)
                WHERE c.c_acctbal < -99999999
                RETURN c.c_name AS cn }
         RETURN count(*) AS k""").collect().head.getLong(0)
    assert(none == 0L)
  }

  test("correlated CALL body with intermediate WITH stages") {
    // an aggregating intermediate WITH aggregates PER IMPORTED KEY (the
    // import is prepended as a grouping key), and must agree with the
    // direct aggregate-RETURN form
    val viaWith = engine.run(
      """MATCH (r:Region)
         CALL { WITH r MATCH (n:Nation)-[:IN_REGION]->(r)
                WITH count(n) AS cnt RETURN cnt }
         RETURN r.r_name AS name, cnt ORDER BY name""").collect()
      .map(x => (x.getString(0), x.getAs[Number](1).longValue)).toSeq
    val direct = engine.run(
      """MATCH (r:Region)
         CALL { WITH r MATCH (n:Nation)-[:IN_REGION]->(r)
                RETURN count(n) AS cnt }
         RETURN r.r_name AS name, cnt ORDER BY name""").collect()
      .map(x => (x.getString(0), x.getAs[Number](1).longValue)).toSeq
    assert(viaWith == direct && viaWith.length == 5)
    assert(viaWith.forall(_._2 == 5L))
    // a zero-match key still yields one row from the aggregating stage
    // (Neo4j aggregates the empty invocation), and a later plain WITH
    // carries both the import and the transformed aggregate
    val zero = engine.run(
      """MATCH (n:Nation)
         CALL { WITH n MATCH (c:Customer)-[:IN_NATION]->(n)
                WHERE c.c_acctbal < -99999999
                WITH count(c) AS cc
                WITH cc * 2 + 1 AS odd
                RETURN odd }
         RETURN n.n_nationkey AS nk, odd ORDER BY nk""").collect()
    assert(zero.length == 25)
    assert(zero.forall(_.getAs[Number](1).longValue == 1L))
    // the stage's post-aggregation WHERE sees the restored zero row —
    // `WHERE cc = 0` keeps every key, `WHERE cc > 0` eliminates them all
    val kept = engine.run(
      """MATCH (n:Nation)
         CALL { WITH n MATCH (c:Customer)-[:IN_NATION]->(n)
                WHERE c.c_acctbal < -99999999
                WITH count(c) AS cc WHERE cc = 0
                RETURN cc }
         RETURN count(*) AS k""").collect().head.getLong(0)
    assert(kept == 25L)
    val gone = engine.run(
      """MATCH (n:Nation)
         CALL { WITH n MATCH (c:Customer)-[:IN_NATION]->(n)
                WHERE c.c_acctbal < -99999999
                WITH count(c) AS cc WHERE cc > 0
                RETURN cc }
         RETURN count(*) AS k""").collect().head.getLong(0)
    assert(gone == 0L)
    // intermediate SKIP/LIMIT would be a per-key slice in Neo4j but a
    // global one here — rejected loudly with guidance
    val err = intercept[CypherEngine.CypherException](engine.run(
      """MATCH (r:Region)
         CALL { WITH r MATCH (n:Nation)-[:IN_REGION]->(r)
                WITH n.n_name AS nm ORDER BY nm LIMIT 2
                RETURN count(*) AS c }
         RETURN r.r_name AS name, c"""))
    assert(err.getMessage.contains("intermediate WITH of a correlated CALL"))
  }

  test("COUNT {} blocks compile inside WITH ... WHERE, nested in containers") {
    // round 11 (closes the r10 verdict's "What's missing #3"): the lift
    // runs against the POST-projection frame, correlated on carried node
    // variables — each WHERE form must agree with its compute-as-item
    // equivalent, including nested CASE / IS NULL / IN / index positions
    val blk = "COUNT { (c:Customer)-[:IN_NATION]->(n) }"
    for ((wb, wi) <- Seq(
        (s"CASE WHEN $blk > 0 THEN true ELSE false END",
          "CASE WHEN cc > 0 THEN true ELSE false END"),
        (s"$blk IS NULL", "cc IS NULL"),
        (s"$blk IN [1, 2]", "cc IN [1, 2]"),
        (s"[$blk][0] > 0", "[cc][0] > 0"))) {
      val a = engine.run(
        s"MATCH (n:Nation) WITH n WHERE $wb RETURN count(*) AS c")
        .collect().head.getLong(0)
      val b = engine.run(
        s"MATCH (n:Nation) WITH n, $blk AS cc WHERE $wi RETURN count(*) AS c")
        .collect().head.getLong(0)
      assert(a == b, wb)
    }
    // the filter is real (some nation has customers at sf0.001)
    val some = engine.run(
      s"MATCH (n:Nation) WITH n WHERE $blk > 0 RETURN count(*) AS c")
      .collect().head.getLong(0)
    assert(some > 0 && some <= 25)
    // the synthetic lift column must NOT leak into a later WITH *
    val leak = engine.run(
      s"""MATCH (n:Nation) WITH n WHERE $blk >= 0
          WITH * RETURN count(*) AS c""").collect().head.getLong(0)
    assert(leak == 25L)
    // the lift also works on a post-AGGREGATION frame (WITH n, count(*))
    val agg = engine.run(
      s"""MATCH (n:Nation)-[:IN_REGION]->(r:Region)
          WITH r, count(*) AS nations WHERE COUNT { (m:Nation)-[:IN_REGION]->(r) } = nations
          RETURN count(*) AS c""").collect().head.getLong(0)
    assert(agg == 5L)
  }

  test("EXISTS {} in expression position; blocks lift under UNWIND") {
    // EXISTS {} as a RETURN item = COUNT {} > 0 (Neo4j definition)
    val ex = engine.run(
      """MATCH (r:Region) RETURN r.r_name AS rn,
         EXISTS { (n:Nation {n_nationkey: 0})-[:IN_REGION]->(r) } AS has
         ORDER BY rn""").collect()
    assert(ex.length == 5 && ex.count(_.getBoolean(1)) == 1)
    // EXISTS {} in WITH ... WHERE
    val ww = engine.run(
      """MATCH (r:Region) WITH r
         WHERE EXISTS { (n:Nation {n_nationkey: 0})-[:IN_REGION]->(r) }
         RETURN count(*) AS c""").collect().head.getLong(0)
    assert(ww == 1L)
    // UNWIND over a correlated pattern comprehension (every TPC-H region
    // holds 5 nations; region 0 contains nation 0)
    val uw = engine.run(
      """MATCH (r:Region {r_regionkey: 0})
         UNWIND [(n:Nation)-[:IN_REGION]->(r) | toInteger(n.n_nationkey)] AS k
         RETURN count(*) AS c, toInteger(min(k)) AS mn""").collect().head
    assert(uw.getLong(0) == 5L && uw.getLong(1) == 0L)
  }

  test("r10 ADVICE guards: type() dispatch, rel-list WITH survival, " +
      "write-position substitution, reserved struct fields, union RETURN") {
    import org.apache.spark.sql.functions.col
    // type(x) over a non-relationship lambda rejects loudly instead of
    // surfacing a raw Spark getField AnalysisException
    val terr = intercept[CypherEngine.CypherException](engine.run(
      "MATCH (r:Region) RETURN [x IN [1, 2] | type(x)] AS ts"))
    assert(terr.getMessage.contains("needs a relationship"))
    // a shortestPath relationship variable SURVIVES a WITH projection as a
    // materialized list column (substitution stops at the boundary)
    val rows = engine.run(
      """MATCH p = shortestPath((o:Order {o_orderkey: 1})-[rs:CONTAINS*1..1]->(b:Part))
         WITH rs, b
         RETURN toInteger(b.p_partkey) AS pk, size(rs) AS n,
                [x IN rs | type(x)] AS ts ORDER BY pk""").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getInt(1) == 1 && r.getSeq[String](2) == Seq("CONTAINS"))
    }
    // write-position substitution: a MERGE ON CREATE value reading the
    // rel list compiles (previously unrewritten → unbound-variable error)
    val st2 = CypherEngine(store).execute(
      """MATCH p = shortestPath((o:Order {o_orderkey: 1})-[rs:CONTAINS*1..1]->(b:Part))
         MERGE (t:RsTally {tid: toInteger(b.p_partkey)})
         ON CREATE SET t.n = size(rs)""").store
    assert(st2.nodes("RsTally").count() > 0)
    assert(st2.nodes("RsTally").select("n").distinct().collect()
      .map(_.getInt(0)).toSeq == Seq(1))
    // an edge property named src/dst/type collides with the group-variable
    // struct's reserved fields — loud rejection, not silent ambiguity
    val nation = graft.sources.Tables.load(spark, sf, "nation")
    val k = col("n_nationkey")
    var bst = graft.graph.GraphWriter.mergeNodes(GraphStore.empty, "BN",
      nation.select(k.as("gid")), Seq("gid"))
    bst = graft.graph.GraphWriter.mergeEdges(bst, "BADE", "BN", "BN", "a", "b",
      nation.select(k.as("a"), ((k + 1) % 25).as("b"), k.as("src")))
    val cerr = intercept[CypherEngine.CypherException](CypherEngine(bst).run(
      "MATCH (x:BN {gid: 0}) (()-[r:BADE]->()){1,2} (y:BN) RETURN size(r) AS n"))
    assert(cerr.getMessage.contains("reserved"))
    // a write-only FINAL union branch fails at parse, not in unionByName
    val perr = intercept[Parser.ParseException](Parser.parse(
      "MERGE (a:U3 {uid: 1}) RETURN 1 AS x UNION MERGE (b:U3 {uid: 2})"))
    assert(perr.getMessage.contains("must RETURN explicitly"))
  }

  test("bare pattern predicates, label predicates, chained comparisons, " +
      "epoch constructors, elementId") {
    // bare `(a)-[:R]->(b)` in WHERE — Neo4j's existence shorthand; the
    // top-level conjunct takes the semi-join route (same node as exists())
    val bare = engine.run(
      """MATCH (n:Nation) WHERE (n)-[:IN_REGION]->(:Region {r_name: 'AFRICA'})
         RETURN count(*) AS c""").collect().head.getLong(0)
    val viaExists = engine.run(
      """MATCH (n:Nation) WHERE exists((n)-[:IN_REGION]->(:Region {r_name: 'AFRICA'}))
         RETURN count(*) AS c""").collect().head.getLong(0)
    assert(bare == 5L && viaExists == 5L)
    // nested under OR it rides the COUNT-block lift
    val orMix = engine.run(
      """MATCH (n:Nation)
         WHERE (n)-[:IN_REGION]->(:Region {r_name: 'AFRICA'}) OR n.n_nationkey = 21
         RETURN count(*) AS c""").collect().head.getLong(0)
    // AFRICA holds nations 0,5,10,15,20 (synthetic regionkey = key % 5);
    // 21 is AMERICA, so the OR adds exactly one row
    assert(orMix == 6L)
    // NOT + bare pattern = anti join
    val not = engine.run(
      """MATCH (n:Nation) WHERE NOT (n)-[:IN_REGION]->(:Region {r_name: 'AFRICA'})
         RETURN count(*) AS c""").collect().head.getLong(0)
    assert(not == 20L)
    // `(a)-(b)` single dash stays ARITHMETIC (the backtrack must not
    // swallow subtraction); `(a)--(b)` is the undirected pattern
    val arith = engine.run(
      "MATCH (n:Nation {n_nationkey: 5}) RETURN (n.n_nationkey)-(2) AS d")
      .collect().head
    assert(arith.getLong(0) == 3L)
    // label predicate hoist: `MATCH (n) WHERE n:Nation` = `MATCH (n:Nation)`
    val hoist = engine.run(
      "MATCH (n) WHERE n:Nation AND n.n_nationkey < 10 RETURN count(*) AS c")
      .collect().head.getLong(0)
    assert(hoist == 10L)
    // on an already-labeled variable it folds to a compile-time constant
    val const = engine.run(
      """MATCH (n:Nation {n_nationkey: 0})
         RETURN toInteger(n:Nation) AS yes, toInteger(n:Region) AS no""")
      .collect().head
    assert(const.getLong(0) == 1L && const.getLong(1) == 0L)
    // chained comparison: 0 < x <= 5 desugars to the conjunction
    val chain = engine.run(
      "MATCH (n:Nation) WHERE 0 < n.n_nationkey <= 5 RETURN count(*) AS c")
      .collect().head.getLong(0)
    assert(chain == 5L)
    // epoch constructors (exclusive of calendar components)
    val ep = engine.run(
      """MATCH (x:Region {r_regionkey: 0})
         RETURN toString(datetime({epochSeconds: 863654400})) AS s,
                toString(datetime({epochMillis: 863654400000})) AS ms""")
      .collect().head
    assert(ep.getString(0) == "1997-05-15 00:00:00")
    assert(ep.getString(1) == "1997-05-15 00:00:00")
    val eperr = intercept[CypherEngine.CypherException](engine.run(
      "MATCH (x:Region) RETURN datetime({epochSeconds: 1, year: 2000}) AS t"))
    assert(eperr.getMessage.contains("cannot mix"))
    // elementId renders the stable Label:key string identity
    val eid = engine.run(
      "MATCH (n:Nation {n_nationkey: 3}) RETURN elementId(n) AS e")
      .collect().head.getString(0)
    assert(eid == "Nation:3")
  }

  test("count(DISTINCT p) counts distinct paths") {
    // the cross with Region multiplies frame rows 5x; DISTINCT must
    // collapse them back to the distinct shortest paths
    val r = engine.run(
      """MATCH (x:Region)
         MATCH p = shortestPath((o:Order {o_orderkey: 1})-[:CONTAINS*1..1]->(b:Part))
         RETURN count(DISTINCT p) AS dp, count(*) AS rows""").collect().head
    assert(r.getLong(0) > 0 && r.getLong(1) == 5L * r.getLong(0))
  }

  test("pattern comprehension collects correlated matches; [] when none") {
    import org.apache.spark.sql.functions.{col, sort_array}
    // per-nation list of negative-balance customer names, [] for nations
    // with none — and its size must agree with the COUNT {} block
    val r = engine.run(
      """MATCH (n:Nation)
         RETURN n.n_name AS nn,
                [(c:Customer)-[:IN_NATION]->(n) WHERE c.c_acctbal < 0 | c.c_name] AS names,
                COUNT { (c:Customer)-[:IN_NATION]->(n) WHERE c.c_acctbal < 0 } AS cnt
         ORDER BY nn""")
      .withColumn("names", sort_array(col("names"))).collect()
    assert(r.length == 25)
    r.foreach(row => assert(row.getSeq[String](1).length == row.getAs[Number](2).longValue))
    assert(r.exists(_.getSeq[String](1).isEmpty)) // at least one empty group at sf0.001
    assert(r.exists(_.getSeq[String](1).nonEmpty))
    // projection can be an expression over the pattern variables
    val ex = engine.run(
      """MATCH (r:Region {r_regionkey: 0})
         RETURN [(n:Nation)-[:IN_REGION]->(r) | n.n_nationkey * 10] AS tens""")
      .withColumn("tens", sort_array(col("tens"))).collect().head
    assert(ex.getSeq[Long](0).forall(_ % 10 == 0) && ex.getSeq[Long](0).nonEmpty)
  }

  test("bracket disambiguation: list literals with parenthesized heads still parse") {
    // `[(…` must backtrack to a list literal when no pattern follows
    val r = engine.run(
      """MATCH (x:Region {r_regionkey: 0})
         RETURN [(1 + 2), 4][0] AS three, [(x.r_regionkey), 9][1] AS nine""").collect().head
    assert(r.getLong(0) == 3L && r.getLong(1) == 9L)
  }

  test("COLLECT block collects the RETURN expression; [] when none; global form") {
    import org.apache.spark.sql.functions.{col, sort_array}
    val r = engine.run(
      """MATCH (n:Nation)
         RETURN n.n_name AS nn,
                COLLECT { MATCH (c:Customer)-[:IN_NATION]->(n)
                          WHERE c.c_acctbal < 0 RETURN c.c_name } AS names
         ORDER BY nn""")
      .withColumn("names", sort_array(col("names"))).collect()
    assert(r.length == 25)
    assert(r.exists(_.getSeq[String](1).isEmpty))
    assert(r.exists(_.getSeq[String](1).nonEmpty))
    // agreement with the equivalent pattern comprehension
    val viaComp = engine.run(
      """MATCH (n:Nation)
         RETURN n.n_name AS nn,
                [(c:Customer)-[:IN_NATION]->(n) WHERE c.c_acctbal < 0 | c.c_name] AS names
         ORDER BY nn""")
      .withColumn("names", sort_array(col("names"))).collect()
    assert(r.map(x => (x.getString(0), x.getSeq[String](1))).toSeq ==
      viaComp.map(x => (x.getString(0), x.getSeq[String](1))).toSeq)
    // uncorrelated block: one global list cross-joined on
    val g = engine.run(
      """MATCH (n:Nation {n_nationkey: 0})
         RETURN COLLECT { MATCH (r:Region) RETURN r.r_name } AS regions""")
      .withColumn("regions", sort_array(col("regions"))).collect().head
    assert(g.getSeq[String](0).length == 5)
    // ORDER BY inside the block orders WITHIN each collected list
    val ord = engine.run(
      """MATCH (r:Region {r_regionkey: 0})
         RETURN COLLECT { MATCH (n:Nation)-[:IN_REGION]->(r)
                          RETURN n.n_name ORDER BY n.n_name DESC } AS names""")
      .collect().head.getSeq[String](0)
    assert(ord.nonEmpty && ord == ord.sorted(Ordering.String.reverse))
    // ORDER BY + LIMIT = top-k list per row; sort key need not be collected
    val top = engine.run(
      """MATCH (r:Region {r_regionkey: 0})
         RETURN COLLECT { MATCH (n:Nation)-[:IN_REGION]->(r)
                          RETURN n.n_name ORDER BY n.n_nationkey LIMIT 2 } AS first2""")
      .collect().head.getSeq[String](0)
    assert(top.length == 2)
    // unordered LIMIT rejects loudly (nondeterministic slice)
    val err2 = intercept[CypherEngine.CypherException](engine.run(
      """MATCH (r:Region)
         RETURN COLLECT { MATCH (n:Nation)-[:IN_REGION]->(r)
                          RETURN n.n_name LIMIT 2 } AS x"""))
    assert(err2.getMessage.contains("ORDER BY"))
  }

  test("date.truncate / datetime.truncate and isEmpty") {
    val r = engine.run(
      """MATCH (x:Region {r_regionkey: 0})
         RETURN toString(date.truncate('month', datetime('1998-03-17'))) AS mo,
                toString(date.truncate('year', datetime('1998-03-17'))) AS yr,
                toString(date.truncate('quarter', datetime('1998-05-20'))) AS qt,
                toString(date.truncate('week', datetime('1998-03-19'))) AS wk,
                toString(datetime.truncate('hour', datetime('1998-03-17T14:45:31'))) AS hr,
                toInteger(isEmpty('')) AS es, toInteger(isEmpty('x')) AS ns,
                toInteger(isEmpty([])) AS el, toInteger(isEmpty([1])) AS nl""")
      .collect().head
    assert(r.getString(0) == "1998-03-01")
    assert(r.getString(1) == "1998-01-01")
    assert(r.getString(2) == "1998-04-01")
    assert(r.getString(3) == "1998-03-16") // ISO week starts Monday
    assert(r.getString(4).startsWith("1998-03-17 14:00:00"))
    assert((r.getLong(5), r.getLong(6)) == (1L, 0L))
    assert((r.getLong(7), r.getLong(8)) == (1L, 0L))
    // unsupported unit and non-literal unit reject loudly
    val bad = intercept[CypherEngine.CypherException](engine.run(
      "MATCH (x:Region {r_regionkey: 0}) RETURN date.truncate('century', datetime('1998-01-01')) AS c"))
    assert(bad.getMessage.contains("unsupported truncation unit"))
    // time units are datetime.truncate-only
    val tu = intercept[CypherEngine.CypherException](engine.run(
      "MATCH (x:Region {r_regionkey: 0}) RETURN date.truncate('hour', datetime('1998-01-01')) AS h"))
    assert(tu.getMessage.contains("unsupported truncation unit"))
  }

  test("duration literals, timestamp arithmetic, inDays/inSeconds accessors") {
    val r = engine.run(
      """MATCH (x:Region {r_regionkey: 0})
         RETURN toString(date(datetime('1998-01-01') + duration('P90D'))) AS plus90,
                toString(date(datetime('1998-01-01') - duration('P2W'))) AS minus2w,
                toString(date(datetime('1998-01-31') + duration('P1M'))) AS clamped,
                toString(date(datetime('1997-06-15') + duration('P1Y2M3D'))) AS ymd,
                duration.inDays(datetime('1998-01-01'), datetime('1998-04-01')).days AS d90,
                duration.inSeconds(datetime('1998-01-01'), datetime('1998-01-02')).seconds AS s1d,
                duration.inSeconds(datetime('1998-01-01'), datetime('1998-01-02')).hours AS h1d,
                duration.inSeconds(datetime('1998-01-01T00:00:00'),
                                   datetime('1998-01-01T01:30:00')).minutes AS m90""").collect().head
    assert(r.getString(0) == "1998-04-01")
    assert(r.getString(1) == "1997-12-18")
    assert(r.getString(2) == "1998-02-28") // month add clamps like Neo4j
    assert(r.getString(3) == "1998-08-18")
    assert(r.getLong(4) == 90L)
    assert(r.getLong(5) == 86400L)
    assert(r.getLong(6) == 24L)
    assert(r.getLong(7) == 90L)
    // map form (round 11): duration({days: 90}) ≡ duration('P90D'); mixed
    // components and month-bearing maps route to the calendar interval
    val mf = engine.run(
      """MATCH (x:Region {r_regionkey: 0})
         RETURN toString(date(datetime('1998-01-01') + duration({days: 90}))) AS d90,
                toString(date(datetime('1998-01-31') + duration({months: 1}))) AS clamp,
                toString(datetime('1998-01-01T00:00:00')
                         + duration({hours: 12, minutes: 30})) AS hm,
                toString(date(datetime('1997-06-15')
                         + duration({years: 1, months: 2, days: 3}))) AS ymd""")
      .collect().head
    assert(mf.getString(0) == "1998-04-01")
    assert(mf.getString(1) == "1998-02-28")
    assert(mf.getString(2) == "1998-01-01 12:30:00")
    assert(mf.getString(3) == "1998-08-18")
    // unknown / non-literal / fractional-non-seconds components reject
    def drejects(q: String, msg: String): Unit = {
      val e = intercept[CypherEngine.CypherException](engine.run(q))
      assert(e.getMessage.contains(msg), s"$q => ${e.getMessage}")
    }
    drejects("MATCH (x:Region) RETURN duration({dayz: 1}) AS d", "unsupported component")
    drejects("MATCH (x:Region) RETURN duration({days: x.r_regionkey}) AS d", "numeric literal")
    drejects("MATCH (x:Region) RETURN duration({hours: 1.5}) AS d", "fractional")
    drejects("MATCH (x:Region) RETURN duration({}) AS d", "no components")
    // interval comparison: day-time durations order natively
    val cmp = engine.run(
      """MATCH (x:Region {r_regionkey: 0})
         RETURN toInteger(duration.inDays(datetime('1998-01-01'), datetime('1998-02-01'))
                          < duration('P90D')) AS lt""").collect().head
    assert(cmp.getLong(0) == 1L)
    // time-bearing literal
    val t = engine.run(
      """MATCH (x:Region {r_regionkey: 0})
         RETURN toString(datetime('1998-01-01T00:00:00') + duration('PT12H30M')) AS ts""")
      .collect().head
    assert(t.getString(0).startsWith("1998-01-01 12:30:00"))
    // duration.between component accessors follow Neo4j's CALENDAR
    // decomposition: whole clamped months first, then whole days, then
    // the time remainder — NOT the flat day-time difference
    val bt = engine.run(
      """MATCH (x:Region {r_regionkey: 0})
         RETURN duration.between(datetime('1998-01-01'), datetime('1998-02-15')).months AS m,
                duration.between(datetime('1998-01-01'), datetime('1998-02-15')).days AS d,
                duration.between(datetime('2020-01-31'), datetime('2020-02-28')).months AS clamp_m,
                duration.between(datetime('2020-01-31'), datetime('2020-02-28')).days AS clamp_d,
                duration.between(datetime('2020-01-31'), datetime('2020-02-29')).months AS leap_m,
                duration.between(datetime('2020-01-31'), datetime('2020-02-29')).days AS leap_d,
                duration.between(datetime('2020-02-15'), datetime('2020-01-01')).months AS neg_m,
                duration.between(datetime('2020-02-15'), datetime('2020-01-01')).days AS neg_d,
                duration.between(datetime('1997-06-15'), datetime('1999-08-20')).years AS yy,
                duration.between(datetime('1997-06-15'), datetime('1999-08-20')).months AS ym,
                duration.between(datetime('1997-06-15'), datetime('1999-08-20')).days AS yd""")
      .collect().head
    // 1998-01-01 → 1998-02-15 = P1M14D
    assert(bt.getLong(0) == 1L && bt.getLong(1) == 14L)
    // Jan 31 + 1M clamps to Feb 29 (2020 leap) which overshoots Feb 28 →
    // 0 months, 28 days; to Feb 29 exactly → 1 month, 0 days
    assert(bt.getLong(2) == 0L && bt.getLong(3) == 28L)
    assert(bt.getLong(4) == 1L && bt.getLong(5) == 0L)
    // reverse direction: -(P1M14D), components truncate toward zero
    assert(bt.getLong(6) == -1L && bt.getLong(7) == -14L)
    // 1997-06-15 → 1999-08-20 = P2Y2M5D: years=2, months=26 (total), days=5
    assert(bt.getLong(8) == 2L && bt.getLong(9) == 26L && bt.getLong(10) == 5L)
    // time remainder: 10:00 → next day 13:30 = P1DT3H30M
    val tt = engine.run(
      """MATCH (x:Region {r_regionkey: 0})
         RETURN duration.between(datetime('1998-01-01T10:00:00'),
                                 datetime('1998-01-02T13:30:00')).days AS d,
                duration.between(datetime('1998-01-01T10:00:00'),
                                 datetime('1998-01-02T13:30:00')).hours AS h,
                duration.between(datetime('1998-01-01T10:00:00'),
                                 datetime('1998-01-02T13:30:00')).minutes AS mi,
                duration.between(datetime('1998-01-01T10:00:00'),
                                 datetime('1998-01-02T13:30:00')).seconds AS s""")
      .collect().head
    assert(tt.getLong(0) == 1L && tt.getLong(1) == 3L)
    assert(tt.getLong(2) == 210L && tt.getLong(3) == 12600L)
    // malformed literal rejects loudly
    val err2 = intercept[CypherEngine.CypherException](engine.run(
      "MATCH (x:Region) RETURN x.r_name + duration('90 days') AS d"))
    assert(err2.getMessage.contains("ISO-8601"))
  }

  test("map projections: selected props, .*, computed entries, missing → null") {
    val r = engine.run(
      """MATCH (n:Nation {n_nationkey: 7})
         RETURN n {.n_name, .n_regionkey, upper_name: toUpper(n.n_name), .no_such} AS m""")
      .collect().head
    val m = r.getStruct(0)
    assert(m.getAs[String]("n_name") == "NATION_7")
    assert(m.getAs[Number]("n_regionkey") != null)
    assert(m.getAs[String]("upper_name") == "NATION_7")
    assert(m.isNullAt(m.fieldIndex("no_such"))) // missing property → null entry
    // .* expands the full stored schema (key + properties)
    val star = engine.run(
      """MATCH (r:Region {r_regionkey: 0}) RETURN r {.*} AS m""").collect().head
    val sm = star.getStruct(0)
    assert(sm.schema.fieldNames.contains("r_regionkey"))
    assert(sm.schema.fieldNames.contains("r_name"))
    // projected map flows through WITH; fields read back via dot access
    val thru = engine.run(
      """MATCH (n:Nation {n_nationkey: 3})
         WITH n {.n_name} AS m
         RETURN m.n_name AS nm""").collect().head
    assert(thru.getString(0) == "NATION_3")
    // a map projection on a plain (non-node) variable selects struct fields
    val plain = engine.run(
      """MATCH (n:Nation {n_nationkey: 3})
         WITH n {.n_name, .n_regionkey} AS m
         RETURN m {.n_name} AS mm""").collect().head
    assert(plain.getStruct(0).getAs[String]("n_name") == "NATION_3")
    // `.*` on a plain value rejects loudly
    val err = intercept[CypherEngine.CypherException](engine.run(
      """MATCH (n:Nation) WITH n.n_name AS s RETURN s {.*} AS m"""))
    assert(err.getMessage.contains("node variable"))
  }

  test("distributed shortestPath (LocalPathEdgeCapKey=0) equals the local kernel") {
    // one query per oneHop mode: withRels single-path, path single-path,
    // keepAll (allShortestPaths), and length-only — all on the undirected
    // hetero graph, where every level-2 step walks back into its seed
    // (the case bfsFrames' reached-set anti join prunes)
    val queries = Seq(
      """MATCH p = shortestPath((o:Order {o_orderkey: 1})-[:CONTAINS|PLACED_BY*1..3]-(c:Customer))
         RETURN toInteger(c.c_custkey) AS ck, length(p) AS len,
                reduce(s = '', r IN relationships(p) | s + ',' + type(r)) AS rels
         ORDER BY ck""",
      """MATCH p = shortestPath((o:Order {o_orderkey: 1})-[:CONTAINS*1..2]-(p2:Part))
         RETURN toInteger(p2.p_partkey) AS pk, nodes(p) AS path ORDER BY pk""",
      """MATCH p = allShortestPaths((o:Order {o_orderkey: 1})-[:CONTAINS|PLACED_BY*1..2]-(x:Order))
         RETURN toInteger(x.o_orderkey) AS ok, count(*) AS n_paths
         ORDER BY ok""",
      """MATCH p = shortestPath((o:Order {o_orderkey: 1})-[:CONTAINS|PLACED_BY*1..3]-(c:Customer))
         RETURN toInteger(c.c_custkey) AS ck, length(p) AS len ORDER BY ck""")
    def runAll(): Seq[Seq[String]] =
      queries.map(engine.run(_).collect().toSeq.map(_.toString))
    val local = runAll()
    assert(local.forall(_.nonEmpty))
    spark.conf.set(CypherEngine.LocalPathEdgeCapKey, "0")
    try assert(runAll() == local)
    finally spark.conf.unset(CypherEngine.LocalPathEdgeCapKey)
  }

  test("bfsEdgeCap resolves from LocalPathEdgeCapKey: unset, 0 and a walk cap") {
    val key = CypherEngine.LocalPathEdgeCapKey
    assert(CypherEngine.bfsEdgeCap(spark) == 2000000L)
    try {
      spark.conf.set(key, "0")
      assert(CypherEngine.bfsEdgeCap(spark) == 0L)
      // ADVICE r15: tuning the walk enumeration gate must not rescale
      // the BFS gate
      spark.conf.set(key, "1000")
      assert(CypherEngine.bfsEdgeCap(spark) == 2000000L)
    } finally spark.conf.unset(key)
  }

  test("point()/distance(): cartesian exact, wgs-84 haversine, mixed-CRS null, rejections") {
    // cartesian: a 3-4-5 triangle is exact in doubles
    val r = engine.run(
      """MATCH (n:Nation {n_nationkey: 0})
         WITH point({x: 3.0, y: 4.0}) AS p, point({x: 0.0, y: 0.0}) AS o
         RETURN distance(p, o) AS d, p.x AS px, p.crs AS crs""").head()
    assert(r.getDouble(0) == 5.0 && r.getDouble(1) == 3.0 &&
      r.getString(2) == "cartesian")
    // wgs-84: a 90-degree equatorial arc is R * pi / 2 on the sphere
    val w = engine.run(
      """MATCH (n:Nation {n_nationkey: 0})
         RETURN distance(point({latitude: 0.0, longitude: 0.0}),
                         point({latitude: 0.0, longitude: 90.0})) AS d""").head()
    assert(math.abs(w.getDouble(0) - 6378140.0 * math.Pi / 2) < 1e-6)
    // point.distance spelling, explicit matching crs, accessor postfix
    val w2 = engine.run(
      """MATCH (n:Nation {n_nationkey: 0})
         WITH point({latitude: 10.0, longitude: 20.0, crs: 'wgs-84'}) AS p
         RETURN point.distance(p, p) AS d, p.y AS lat""").head()
    assert(w2.getDouble(0) == 0.0 && w2.getDouble(1) == 10.0)
    // mixed CRS compares to null (Neo4j's rule)
    val m = engine.run(
      """MATCH (n:Nation {n_nationkey: 0})
         RETURN distance(point({x: 1.0, y: 2.0}),
                         point({latitude: 0.0, longitude: 0.0})) AS d""").head()
    assert(m.isNullAt(0))
    // rejections: 3D/unknown keys, non-map argument, crs/key mismatch
    assert(intercept[CypherEngine.CypherException](engine.run(
      "MATCH (n:Nation) RETURN point({x: 1.0, y: 2.0, z: 3.0}) AS p"))
      .getMessage.contains("point()"))
    assert(intercept[CypherEngine.CypherException](engine.run(
      "MATCH (n:Nation) RETURN point(1.0) AS p"))
      .getMessage.contains("component map"))
    assert(intercept[CypherEngine.CypherException](engine.run(
      "MATCH (n:Nation) RETURN point({x: 1.0, y: 2.0, crs: 'wgs-84'}) AS p"))
      .getMessage.contains("point()"))
  }

  // --------------------------------------- node label disjunction (M46)

  test("label disjunction: parse forms") {
    val n1 = Parser.parse("MATCH (x:Customer|Supplier) RETURN count(*) AS c")
      .patterns.head.head
    assert(n1.label.isEmpty && n1.alts == Seq("Customer", "Supplier"))
    // the `|:B` spelling and duplicate collapse
    val n2 = Parser.parse("MATCH (x:Customer|:Supplier) RETURN count(*) AS c")
      .patterns.head.head
    assert(n2.alts == Seq("Customer", "Supplier"))
    val n3 = Parser.parse("MATCH (x:Customer|Customer) RETURN count(*) AS c")
      .patterns.head.head
    assert(n3.label.contains("Customer") && n3.alts.isEmpty)
  }

  test("label disjunction: standalone, per-row labels, missing props null-pad") {
    def one(q: String): Long = engine.run(q).head().getLong(0)
    val nCust = one("MATCH (c:Customer) RETURN count(*) AS c")
    val nSupp = one("MATCH (s:Supplier) RETURN count(*) AS c")
    assert(one("MATCH (x:Customer|Supplier) RETURN count(*) AS c") == nCust + nSupp)
    // per-row label tags
    val byKind = engine.run(
      """MATCH (x:Customer|Supplier)
         RETURN labels(x)[0] AS kind, count(*) AS c ORDER BY kind""").collect()
    assert(byKind.map(r => (r.getString(0), r.getLong(1))).toSeq ==
      Seq(("Customer", nCust), ("Supplier", nSupp)))
    // a property only one branch's schema holds reads null on the other
    val nullNames = engine.run(
      """MATCH (x:Customer|Supplier) WHERE x.c_name IS NULL
         RETURN count(*) AS c""").head().getLong(0)
    assert(nullNames == nSupp)
    // a label predicate on the diverged variable filters by the tag
    assert(one("MATCH (x:Customer|Supplier) WHERE x:Customer RETURN count(*) AS c")
      == nCust)
  }

  test("label disjunction: hop endpoints narrow the interpretation set") {
    def rows(q: String) = engine.run(q).collect().toSeq.map(_.toString).sorted
    // disjunction on both endpoints == UNION ALL of the single-label runs
    val dis = rows(
      """MATCH (x:Customer|Supplier)-[:IN_NATION|SUPP_IN_NATION]->(n:Nation)
         RETURN n.n_name AS nation, labels(x)[0] AS kind, count(*) AS c
         ORDER BY nation, kind""")
    val uni = rows(
      """MATCH (c:Customer)-[:IN_NATION]->(n:Nation)
         RETURN n.n_name AS nation, 'Customer' AS kind, count(*) AS c
         UNION ALL
         MATCH (s:Supplier)-[:SUPP_IN_NATION]->(n:Nation)
         RETURN n.n_name AS nation, 'Supplier' AS kind, count(*) AS c""")
    assert(dis == uni && dis.nonEmpty)
    // a fork shared across paths stays consistent: IN_NATION only fits the
    // Customer alternative, so the Supplier branch is unsatisfiable and
    // the result equals the plain single-label query
    val shared = engine.run(
      """MATCH (x:Customer|Supplier), (x)-[:IN_NATION]->(n:Nation)
         RETURN count(*) AS c""").head().getLong(0)
    val plain = engine.run(
      """MATCH (x:Customer)-[:IN_NATION]->(n:Nation)
         RETURN count(*) AS c""").head().getLong(0)
    assert(shared == plain)
  }

  test("re-mention with a conflicting label matches nothing (not ignored)") {
    def one(q: String): Long = engine.run(q).head().getLong(0)
    // nodes hold exactly one label: a second MATCH that relabels a bound
    // variable can never match — Neo4j returns zero rows; the pattern
    // label must not be silently dropped
    assert(one("MATCH (n:Customer) MATCH (n:Order) RETURN count(n) AS c") == 0L)
    // disjunction that EXCLUDES the resolved label: same rule
    assert(one("MATCH (n:Customer) MATCH (n:Order|Part) RETURN count(n) AS c") == 0L)
    // disjunction that INCLUDES it: no-op re-check, full row set
    val nCust = one("MATCH (c:Customer) RETURN count(*) AS c")
    assert(one("MATCH (n:Customer) MATCH (n:Customer|Order) RETURN count(n) AS c") == nCust)
    assert(one("MATCH (n:Customer) MATCH (n:Customer) RETURN count(n) AS c") == nCust)
  }

  test("re-mention as a hop far-node honors its label and inline props") {
    def one(q: String): Long = engine.run(q).head().getLong(0)
    val inFrance = one(
      """MATCH (c:Customer)-[:IN_NATION]->(n:Nation {n_name: 'NATION_1'})
         RETURN count(*) AS c""")
    assert(inFrance > 0)
    // inline props on the re-mention are a filter, not decoration
    assert(one(
      """MATCH (n:Nation {n_name: 'NATION_1'})
         MATCH (c:Customer)-[:IN_NATION]->(n {n_name: 'NATION_2'})
         RETURN count(*) AS c""") == 0L)
    assert(one(
      """MATCH (n:Nation {n_name: 'NATION_1'})
         MATCH (c:Customer)-[:IN_NATION]->(n {n_name: 'NATION_1'})
         RETURN count(*) AS c""") == inFrance)
    // conflicting label on the re-mention: zero rows, not silently dropped
    assert(one(
      """MATCH (n:Nation) MATCH (c:Customer)-[:IN_NATION]->(n:Region)
         RETURN count(*) AS c""") == 0L)
  }

  test("label disjunction: OPTIONAL MATCH forks and null-extends per branch") {
    // every nation keeps its row; members counts Customer+Supplier unions
    val rows = engine.run(
      """MATCH (n:Nation)
         OPTIONAL MATCH (x:Customer|Supplier)-[:IN_NATION|SUPP_IN_NATION]->(n)
         RETURN n.n_name AS nation, count(x) AS members
         ORDER BY nation""").collect()
    val nNation = engine.run("MATCH (n:Nation) RETURN count(*) AS c").head().getLong(0)
    assert(rows.length == nNation)
    val direct = engine.run(
      """MATCH (x:Customer|Supplier)-[:IN_NATION|SUPP_IN_NATION]->(n:Nation)
         RETURN n.n_name AS nation, count(*) AS members ORDER BY nation""").collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    rows.foreach { r =>
      assert(r.getLong(1) == direct.getOrElse(r.getString(0), 0L),
        s"nation ${r.getString(0)}")
    }
  }

  test("label disjunction: inside EXISTS blocks and under var-length hops") {
    def one(q: String): Long = engine.run(q).head().getLong(0)
    // EXISTS block with a disjunction pattern: nations having any member
    val viaExists = one(
      """MATCH (n:Nation)
         WHERE EXISTS { (x:Customer|Supplier)-[:IN_NATION|SUPP_IN_NATION]->(n) }
         RETURN count(*) AS c""")
    val viaUnion = one(
      """MATCH (n:Nation)
         WHERE EXISTS { (c:Customer)-[:IN_NATION]->(n) }
            OR EXISTS { (s:Supplier)-[:SUPP_IN_NATION]->(n) }
         RETURN count(*) AS c""")
    assert(viaExists == viaUnion && viaExists > 0)
    // var-length over a disjunction endpoint (length-1 bound: closure path)
    val vl = one(
      """MATCH (x:Customer|Supplier)-[:IN_NATION|SUPP_IN_NATION*1..1]->(n:Nation)
         RETURN count(*) AS c""")
    val plain = one(
      """MATCH (x:Customer|Supplier)-[:IN_NATION|SUPP_IN_NATION]->(n:Nation)
         RETURN count(*) AS c""")
    assert(vl == plain)
  }

  test("a relationship variable reused across pattern positions rejects loudly") {
    // Neo4j: "Cannot use the same relationship variable for multiple patterns"
    assert(intercept[CypherEngine.CypherException](engine.run(
      """MATCH (a:Customer)-[r:IN_NATION]->(n:Nation)
         MATCH (s:Supplier)-[r:SUPP_IN_NATION]->(n2:Nation)
         RETURN count(*) AS c"""))
      .getMessage.contains("same relationship variable"))
    assert(intercept[CypherEngine.CypherException](engine.run(
      """MATCH (o:Order)-[r:CONTAINS]->(p:Part)<-[r:CONTAINS]-(o2:Order)
         RETURN count(*) AS c"""))
      .getMessage.contains("same relationship variable"))
    // cross-stage reuse is unreachable: the projection boundary already
    // rejects carrying a relationship variable as a value
    assert(intercept[CypherEngine.CypherException](engine.run(
      """MATCH (a:Customer)-[r:IN_NATION]->(n:Nation) WITH a, r
         MATCH (a)-[r:IN_NATION]->(m:Nation) RETURN count(*) AS c"""))
      .getMessage.contains("relationship variable"))
  }

  test("unknown functions reject loudly; the startNode(r).prop postfix still resolves") {
    // r12 ADVICE: the property fallback used to fire for ANY unknown
    // single-node-arg call, so a typo like c_name(c) silently returned a
    // column instead of raising
    assert(intercept[CypherEngine.CypherException](engine.run(
      "MATCH (c:Customer) RETURN c_name(c) AS x LIMIT 1"))
      .getMessage.contains("unsupported function"))
    // the postfix parse Fn(prop, startNode(r)) resolves via the scoped
    // endpoint-substitution retry, not a generic fallback
    assert(engine.run(
      """MATCH (c:Customer)<-[r:PLACED_BY]-(o:Order) WHERE o.o_orderkey = 1
         RETURN endNode(r).c_name AS cn""").collect().length == 1)
    // a typo'd postfix property rejects too
    assert(intercept[CypherEngine.CypherException](engine.run(
      """MATCH (c:Customer)<-[r:PLACED_BY]-(o:Order) WHERE o.o_orderkey = 1
         RETURN endNode(r).no_such_prop AS cn"""))
      .getMessage.contains("unsupported function"))
  }

  test("label disjunction: write clauses and shortestPath reject loudly") {
    assert(intercept[CypherEngine.CypherException](engine.execute(
      "CREATE (x:Customer|Supplier {c_custkey: 999999}) RETURN x.c_custkey AS k"))
      .getMessage.contains("label disjunction"))
    assert(intercept[CypherEngine.CypherException](engine.execute(
      "MERGE (x:Customer|Supplier {c_custkey: 1}) RETURN x.c_custkey AS k"))
      .getMessage.contains("label disjunction"))
    // shortestPath endpoint disjunction (r13): decomposes into one
    // single-label BFS per alternative; a branch no relationship fits
    // (Region has no IN_NATION endpoint) silently drops, like enumerate
    assert(engine.run(
      """MATCH p = shortestPath((a:Customer {c_custkey: 1})-[:IN_NATION*1..2]-(b:Nation|Region))
         RETURN labels(b)[0] AS bl, toInteger(length(p)) AS l""")
      .collect().map(r => (r.getString(0), r.getLong(1))) ===
      Array(("Nation", 1L)))
    assert(intercept[CypherEngine.CypherException](engine.run(
      "MATCH (x:Customer|NoSuchLabel) RETURN count(*) AS c"))
      .getMessage.contains("unknown node label"))
  }
}
