package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types._

import graft.sources.Tables

/** Relational operator surface (SURVEY.md §2.1–§2.7), expressed Spark-first:
  * declarative DataFrame plans so Catalyst gets predicate pushdown, column
  * pruning, broadcast selection and whole-stage codegen for free — the
  * reference hand-rolls none of these (it scans whole CSVs into pandas,
  * reference: final/inject_node.py:376,414).
  *
  * Determinism contract with the DuckDB oracle (SURVEY.md §2.12):
  *   - every query ends in a total ORDER BY;
  *   - money/float aggregation casts operands to DECIMAL before arithmetic
  *     (exact, order-independent across partitionings);
  *   - SUMs of integers are cast to BIGINT on the oracle side (DuckDB widens
  *     to HUGEINT, Spark stays at BIGINT);
  *   - timestamps are emitted as formatted strings (parquet logical-type
  *     annotations differ between engines).
  */
object RelationalQueries {

  type Q = (SparkSession, String) => DataFrame

  private def T(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  private val D18_4 = DecimalType(18, 4)
  private def dec4(c: Column): Column = c.cast(D18_4)

  // ---------------------------------------------------------------- Q1 scans
  /** S1/S6/S9 + A1 + G3: per-table row counts across the core tables. */
  private def q1(s: SparkSession, dir: String): DataFrame =
    Tables.core
      .map(n => T(s, dir, n).agg(count(lit(1)).as("cnt")).select(lit(n).as("t"), col("cnt")))
      .reduce(_.unionByName(_))
      .orderBy("t")

  private val q1Sql: String = Tables.core.sorted
    .map(n => s"SELECT '$n' AS t, COUNT(*) AS cnt FROM $n")
    .mkString("", " UNION ALL ", " ORDER BY t")

  // ------------------------------------------------- Q2 project/filter/cast
  /** P1–P4, P6, O1: projection + conjunctive predicate + decimal cast + sort. */
  private def q2(s: SparkSession, dir: String): DataFrame =
    T(s, dir, "lineitem")
      .filter(col("l_returnflag") === "R" && col("l_discount") > 0.05)
      .select(col("l_orderkey"), col("l_linenumber"),
        col("l_extendedprice").as("price"))
      .orderBy("l_orderkey", "l_linenumber")

  private val q2Sql =
    """SELECT l_orderkey, l_linenumber, l_extendedprice AS price
      |FROM lineitem WHERE l_returnflag = 'R' AND l_discount > 0.05
      |ORDER BY l_orderkey, l_linenumber""".stripMargin

  // --------------------------------------------------------- Q3 equi join
  /** J2/J3: FK-resolution inner join (Cypher MATCH drops non-matching rows —
    * reference: final/inject_relationship.py:636-644).
    */
  private def q3(s: SparkSession, dir: String): DataFrame =
    T(s, dir, "orders").filter(col("o_orderstatus") === "F")
      .join(T(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
      .select("o_orderkey", "c_name")
      .orderBy("o_orderkey")

  private val q3Sql =
    """SELECT o_orderkey, c_name FROM orders JOIN customer ON o_custkey = c_custkey
      |WHERE o_orderstatus = 'F' ORDER BY o_orderkey""".stripMargin

  // ---------------------------------------------------- Q4 broadcast joins
  /** J8: star join through two small dims — explicitly broadcast so the fact
    * table never shuffles (at 100 TB the customer side is the only big input).
    */
  private def q4(s: SparkSession, dir: String): DataFrame =
    T(s, dir, "customer")
      .join(broadcast(T(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(T(s, dir, "region")), col("n_regionkey") === col("r_regionkey"))
      .groupBy("r_name").agg(count(lit(1)).as("cnt"))
      .orderBy("r_name")

  private val q4Sql =
    """SELECT r_name, COUNT(*) AS cnt
      |FROM customer JOIN nation ON c_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |GROUP BY r_name ORDER BY r_name""".stripMargin

  // -------------------------------------------- Q5 left outer + null fill
  /** J7: customers with zero orders via left join + COALESCE. */
  private def q5(s: SparkSession, dir: String): DataFrame = {
    val perCust = T(s, dir, "orders").groupBy("o_custkey").agg(count(lit(1)).as("cnt"))
    T(s, dir, "customer")
      .join(perCust, col("c_custkey") === col("o_custkey"), "left_outer")
      .select(col("c_custkey"), coalesce(col("cnt"), lit(0L)).as("order_cnt"))
      .filter(col("order_cnt") === 0)
      .orderBy("c_custkey")
  }

  private val q5Sql =
    """SELECT c_custkey, CAST(COALESCE(cnt, 0) AS BIGINT) AS order_cnt
      |FROM customer LEFT JOIN (SELECT o_custkey, COUNT(*) AS cnt FROM orders GROUP BY o_custkey) t
      |ON c_custkey = o_custkey
      |WHERE COALESCE(cnt, 0) = 0 ORDER BY c_custkey""".stripMargin

  // ------------------------------------------------------- Q6 semi (EXISTS)
  /** J5/O3: existence probe — the reference's filter-value probe
    * (final/langraph_neo4j3.py:359-363) as a LEFT SEMI join.
    */
  private def q6(s: SparkSession, dir: String): DataFrame =
    T(s, dir, "customer")
      .join(T(s, dir, "orders").filter(col("o_totalprice") > 100000),
        col("c_custkey") === col("o_custkey"), "left_semi")
      .select("c_custkey")
      .orderBy("c_custkey")

  private val q6Sql =
    """SELECT c_custkey FROM customer c
      |WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 100000)
      |ORDER BY c_custkey""".stripMargin

  // -------------------------------------------------- Q7 anti (NOT EXISTS)
  /** J6: anti-membership — reference's `~isin` remainder selection
    * (final/inject_relationship.py:290,301) as a LEFT ANTI join.
    */
  private def q7(s: SparkSession, dir: String): DataFrame =
    T(s, dir, "customer")
      .join(T(s, dir, "orders").filter(col("o_totalprice") > 100000),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .select("c_custkey")
      .orderBy("c_custkey")

  private val q7Sql =
    """SELECT c_custkey FROM customer c
      |WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 100000)
      |ORDER BY c_custkey""".stripMargin

  // ----------------------------------------------------------- Q8 range join
  /** J9: equi key + range predicate (ship within 90 days of order date). The
    * range condition rides on the hash join, so no nested-loop blowup.
    */
  private def q8(s: SparkSession, dir: String): DataFrame = {
    val l = T(s, dir, "lineitem")
    val o = T(s, dir, "orders")
    l.join(o, col("l_orderkey") === col("o_orderkey")
        && col("l_shipdate") >= col("o_orderdate")
        && col("l_shipdate") < col("o_orderdate") + expr("INTERVAL '90' DAY"))
      .groupBy("o_orderpriority").agg(count(lit(1)).as("cnt"))
      .orderBy("o_orderpriority")
  }

  private val q8Sql =
    """SELECT o_orderpriority, COUNT(*) AS cnt
      |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      | AND l.l_shipdate >= o.o_orderdate AND l.l_shipdate < o.o_orderdate + INTERVAL 90 DAY
      |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  // ------------------------------------------------------ Q9 full outer join
  /** J1: full-outer merge accounting — the reference's multi-table outer merge
    * (final/inject_node.py:390-403) reduced to matched/left-only/right-only.
    */
  private def q9(s: SparkSession, dir: String): DataFrame = {
    val c = T(s, dir, "customer").select("c_custkey").distinct()
    val o = T(s, dir, "orders").select("o_custkey").distinct()
    c.join(o, col("c_custkey") === col("o_custkey"), "full_outer")
      .agg(
        sum(when(col("c_custkey").isNotNull && col("o_custkey").isNotNull, 1).otherwise(0)).cast(LongType).as("n_both"),
        sum(when(col("o_custkey").isNull, 1).otherwise(0)).cast(LongType).as("n_left_only"),
        sum(when(col("c_custkey").isNull, 1).otherwise(0)).cast(LongType).as("n_right_only"))
  }

  private val q9Sql =
    """SELECT CAST(SUM(CASE WHEN c_custkey IS NOT NULL AND o_custkey IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_both,
      |       CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_left_only,
      |       CAST(SUM(CASE WHEN c_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_right_only
      |FROM (SELECT DISTINCT c_custkey FROM customer) c
      |FULL OUTER JOIN (SELECT DISTINCT o_custkey FROM orders) o ON c_custkey = o_custkey""".stripMargin

  // ----------------------------------------------------------- Q10 cross join
  /** J11: guarded cross join (pair generation primitive for similarity ops). */
  private def q10(s: SparkSession, dir: String): DataFrame =
    T(s, dir, "region").crossJoin(T(s, dir, "nation")).agg(count(lit(1)).as("cnt"))

  private val q10Sql = "SELECT COUNT(*) AS cnt FROM region CROSS JOIN nation"

  // ----------------------------------------------------------- Q11 as-of join
  /** J10: latest-order-before-cutoff per customer (as-of alignment primitive).
    * Groupwise MAX keeps it a single partial+final aggregate — no window
    * shuffle of the full orders table.
    */
  private def q11(s: SparkSession, dir: String): DataFrame =
    T(s, dir, "orders")
      .filter(col("o_orderdate") <= lit("1999-01-01").cast(TimestampType))
      .groupBy("o_custkey")
      .agg(date_format(max(col("o_orderdate")), "yyyy-MM-dd").as("last_od"))
      .orderBy("o_custkey")

  private val q11Sql =
    """SELECT o_custkey, strftime(MAX(o_orderdate), '%Y-%m-%d') AS last_od
      |FROM orders WHERE o_orderdate <= TIMESTAMP '1999-01-01 00:00:00'
      |GROUP BY o_custkey ORDER BY o_custkey""".stripMargin

  // ------------------------------------------------------ Q12 TPC-H Q1 style
  /** A3/A4/P8/O2: the flagship aggregation (reference's revenue-per-year shape,
    * final/experimenting_new/notebook1.ipynb:844). Decimal operands make the
    * sums exact and order-independent — safe under any partitioning.
    */
  private def q12(s: SparkSession, dir: String): DataFrame =
    T(s, dir, "lineitem")
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        sum(dec4(col("l_quantity"))).cast(DecimalType(38, 4))
          .cast(StringType).as("sum_qty"),
        sum(dec4(col("l_extendedprice"))).cast(DecimalType(38, 4))
          .cast(StringType).as("sum_base_price"),
        sum(dec4(col("l_extendedprice")) * (lit(BigDecimal(1)).cast(D18_4) - dec4(col("l_discount"))))
          .cast(DecimalType(38, 8)).cast(StringType).as("sum_disc_price"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")

  // Aggregation happens in DECIMAL (exact, order-independent across
  // partitionings); the FINAL value is emitted as a FIXED-SCALE DECIMAL
  // STRING. The old double emission died at sf0.1: DuckDB's
  // decimal→double cast is off by one ulp on boundary values (exact sum
  // 5045798393.01230000 → DuckDB 5045798393.0123005, Spark's correctly
  // rounded ...0123) — same convention as timestamps-as-strings.
  private val q12Sql =
    """SELECT l_returnflag, l_linestatus,
      |  CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DECIMAL(38,4)) AS VARCHAR) AS sum_qty,
      |  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DECIMAL(38,4)) AS VARCHAR) AS sum_base_price,
      |  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4)) * (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4)))) AS DECIMAL(38,8)) AS VARCHAR) AS sum_disc_price,
      |  COUNT(*) AS count_order
      |FROM lineitem GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin

  // ------------------------------------------------- Q13 distinct / edge dedup
  /** A5/A11/G2: count-distinct plus the deduplicated edge-set size of the
    * customer→part graph derived via lineitem⨝orders (edge construction
    * dedup — reference: final/inject_relationship.py:680).
    */
  private def q13(s: SparkSession, dir: String): DataFrame = {
    val li = T(s, dir, "lineitem")
    val counts = li.agg(
      count(lit(1)).as("all_rows"),
      countDistinct(col("l_orderkey")).as("dk"))
    val edges = li.join(T(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
      .select("o_custkey", "l_partkey").distinct()
      .agg(count(lit(1)).as("edge_cnt"))
    counts.crossJoin(edges)
  }

  private val q13Sql =
    """SELECT (SELECT COUNT(*) FROM lineitem) AS all_rows,
      |       (SELECT COUNT(DISTINCT l_orderkey) FROM lineitem) AS dk,
      |       (SELECT COUNT(*) FROM (SELECT DISTINCT o_custkey, l_partkey
      |          FROM lineitem JOIN orders ON l_orderkey = o_orderkey) e) AS edge_cnt""".stripMargin

  // ------------------------------------------------------ Q14 last-wins upsert
  /** A10: MERGE/SET upsert semantics (reference: final/inject_node.py:350-360)
    * as a deterministic window dedup — explicit order column makes the
    * nondeterministic batch-arrival-order of the reference reproducible.
    */
  private def q14(s: SparkSession, dir: String): DataFrame = {
    // Deterministic winner per (orderkey, partkey): lexicographic max over
    // (linenumber, quantity, extendedprice, suppkey) — identical to the
    // oracle's ROW_NUMBER ... ORDER BY ... DESC pick, but as a HASH
    // aggregate with map-side partial combine instead of a full sort
    // shuffle (the same reshape the graph builder uses for its dedup).
    T(s, dir, "lineitem")
      .groupBy("l_orderkey", "l_partkey")
      .agg(max(struct(col("l_linenumber"), col("l_quantity"),
        col("l_extendedprice"), col("l_suppkey"))).as("__w"))
      .agg(count(lit(1)).as("cnt"),
        sum(dec4(col("__w.l_quantity"))).cast(DoubleType).as("kept_qty"))
  }

  private val q14Sql =
    """SELECT COUNT(*) AS cnt,
      |       CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS kept_qty
      |FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY l_orderkey, l_partkey
      |        ORDER BY l_linenumber DESC, l_quantity DESC, l_extendedprice DESC, l_suppkey DESC) AS rn
      |      FROM lineitem) t WHERE rn = 1""".stripMargin

  // ---------------------------------------------------------------- Q14b rollup
  /** A15: ROLLUP drill-down (the multi-level totals the reference's RCA agent
    * fetches serially, experimenting_new/rca.ipynb:345-354, in one pass).
    */
  private def q14b(s: SparkSession, dir: String): DataFrame =
    T(s, dir, "orders")
      .rollup("o_orderstatus", "o_orderpriority")
      .agg(count(lit(1)).as("cnt"),
        grouping(col("o_orderstatus")).cast(IntegerType).as("g1"),
        grouping(col("o_orderpriority")).cast(IntegerType).as("g2"))
      .orderBy(col("g1"), col("g2"),
        col("o_orderstatus").asc_nulls_first, col("o_orderpriority").asc_nulls_first)

  private val q14bSql =
    """SELECT o_orderstatus, o_orderpriority, COUNT(*) AS cnt,
      |       CAST(GROUPING(o_orderstatus) AS INTEGER) AS g1,
      |       CAST(GROUPING(o_orderpriority) AS INTEGER) AS g2
      |FROM orders GROUP BY ROLLUP(o_orderstatus, o_orderpriority)
      |ORDER BY g1, g2, o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin

  // -------------------------------------------------------------- Q15 having
  /** A16: post-aggregate filter. */
  private def q15(s: SparkSession, dir: String): DataFrame =
    T(s, dir, "orders")
      .groupBy("o_custkey").agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= 10)
      .orderBy("o_custkey")

  private val q15Sql =
    """SELECT o_custkey, COUNT(*) AS cnt FROM orders GROUP BY o_custkey
      |HAVING COUNT(*) >= 10 ORDER BY o_custkey""".stripMargin

  // -------------------------------------------- Q81 bucketed co-located join
  /** The J-family at rest: both fact tables land as BUCKETED parquet on the
    * join key ([[graft.sources.Bucketing]]), so the orders⋈lineitem join
    * matches bucket-by-bucket with NO exchange on either side — the layout
    * investment that turns every repeated join on that key into a map-side
    * merge at 100 TB. Shuffle-freedom is pinned by BucketingSpec; values
    * are oracle-checked here (the oracle joins the plain tables — bucketing
    * must not change a single row).
    */
  private def q81(s: SparkSession, dir: String): DataFrame = {
    // Per-run token: concurrent sessions sharing a metastore register
    // distinct table names, and repeated bench runs can't clobber each
    // other mid-query. The tiny grouped result (one row per order status)
    // is materialized eagerly so the scratch tables AND the temp directory
    // can be dropped deterministically before returning — a lazy plan over
    // the bucketed tables would pin them past this call and leak disk per
    // invocation. The zero-Exchange bucketed plan itself stays pinned by
    // BucketingSpec.
    val token = java.util.UUID.randomUUID().toString.replace("-", "").take(12)
    val base = java.nio.file.Files.createTempDirectory(s"graft_buckets_$token")
    val tOrders = s"graft_bkt_orders_$token"
    val tLineitem = s"graft_bkt_lineitem_$token"
    try {
      // The two bucketed writes are independent jobs — submit them from
      // two driver threads so the second job's tasks back-fill executor
      // slots freed by the first's straggling bucket tasks (optimization
      // guide §2.6 "overlap independent jobs"; bucket count 8 < cores, so
      // a serial write leaves most slots idle). Jobs.all awaits BOTH before
      // any failure propagates, so the finally block never drops tables or
      // deletes the shared temp directory under a write still in flight.
      graft.util.Jobs.all(Seq(
        () => graft.sources.Bucketing.saveBucketed(
          T(s, dir, "orders").select(col("o_orderkey"), col("o_orderstatus")),
          tOrders, s"$base/orders", 8, Seq("o_orderkey")),
        () => graft.sources.Bucketing.saveBucketed(
          T(s, dir, "lineitem").select(col("l_orderkey"), col("l_quantity")),
          tLineitem, s"$base/lineitem", 8, Seq("l_orderkey"))))
      val grouped = s.table(tOrders)
        .join(s.table(tLineitem), col("o_orderkey") === col("l_orderkey"))
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("cnt"),
          sum(dec4(col("l_quantity"))).cast(DoubleType).as("sum_qty"))
        .orderBy("o_orderstatus")
      s.createDataFrame(
        java.util.Arrays.asList(grouped.collect(): _*), grouped.schema)
    } finally {
      s.sql(s"DROP TABLE IF EXISTS `$tOrders`")
      s.sql(s"DROP TABLE IF EXISTS `$tLineitem`")
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(base).iterator().asScala.toSeq
        .sortBy(-_.getNameCount)
        .foreach(p => java.nio.file.Files.deleteIfExists(p))
    }
  }

  private val q81Sql =
    """SELECT o_orderstatus, COUNT(*) AS cnt,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty
      |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin

  // ------------------------------------------------------------------ registry

  val defs: Map[String, Q] = Map(
    "q01_table_counts" -> q1 _,
    "q02_filter_project" -> q2 _,
    "q03_fk_join" -> q3 _,
    "q04_broadcast_star" -> q4 _,
    "q05_left_outer_nullfill" -> q5 _,
    "q06_exists_semi" -> q6 _,
    "q07_not_exists_anti" -> q7 _,
    "q08_range_join" -> q8 _,
    "q09_full_outer_merge" -> q9 _,
    "q10_cross_join" -> q10 _,
    "q11_asof_latest" -> q11 _,
    "q12_agg_pricing" -> q12 _,
    "q13_distinct_edges" -> q13 _,
    "q14_lastwins_upsert" -> q14 _,
    "q14b_rollup" -> q14b _,
    "q15_having" -> q15 _,
    "q81_bucketed_join" -> q81 _
  )

  val oracle: Map[String, String] = Map(
    "q01_table_counts" -> q1Sql,
    "q02_filter_project" -> q2Sql,
    "q03_fk_join" -> q3Sql,
    "q04_broadcast_star" -> q4Sql,
    "q05_left_outer_nullfill" -> q5Sql,
    "q06_exists_semi" -> q6Sql,
    "q07_not_exists_anti" -> q7Sql,
    "q08_range_join" -> q8Sql,
    "q09_full_outer_merge" -> q9Sql,
    "q10_cross_join" -> q10Sql,
    "q11_asof_latest" -> q11Sql,
    "q12_agg_pricing" -> q12Sql,
    "q13_distinct_edges" -> q13Sql,
    "q14_lastwins_upsert" -> q14Sql,
    "q14b_rollup" -> q14bSql,
    "q15_having" -> q15Sql,
    "q81_bucketed_join" -> q81Sql
  )
}
