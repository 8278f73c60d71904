package graft.sources

import java.nio.file.{Files, Paths}

import scala.util.Try

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.physical.SinglePartition
import org.apache.spark.sql.types._

import graft.SparkSpec
import graft.cypher.CypherEngine
import graft.graph.GraphBuilder
import graft.model.Modeler

/** Native SQLite reader tests against the reference's own databases,
  * cross-checked row-for-row with its committed CSV exports of the same
  * data (reference: final/bike.sqlite vs the final/bike_files CSVs).
  */
class SqliteSpec extends SparkSpec {

  private lazy val bike = Sqlite.read(spark, "/root/reference/final/bike.sqlite")

  test("discovers all tables with row counts matching the CSV exports") {
    val expected = Map(
      "brands" -> 9L, "categories" -> 7L, "customers" -> 1445L, "orders" -> 1615L,
      "order_items" -> 4722L, "products" -> 321L, "staffs" -> 10L,
      "stocks" -> 939L, "stores" -> 3L)
    assert(bike.tables.keySet == expected.keySet)
    expected.foreach { case (t, n) => assert(bike.tables(t).count() == n, t) }
  }

  test("catalog introspection: PKs and FKs match the declared schema") {
    val orders = bike.catalog.table("orders")
    assert(orders.primaryKeys == Seq("order_id"))
    assert(orders.foreignKeys.map(fk => (fk.from, fk.table, fk.to)).toSet == Set(
      ("customer_id", "customers", "customer_id"),
      ("store_id", "stores", "store_id"),
      ("staff_id", "staffs", "staff_id")))
    val items = bike.catalog.table("order_items")
    assert(items.primaryKeys == Seq("order_id", "item_id"))
    assert(items.foreignKeys.size == 2)
    assert(bike.catalog.table("staffs").foreignKeys
      .exists(fk => fk.from == "manager_id" && fk.table == "staffs"))
  }

  test("values match the CSV export byte-for-byte on a whole table") {
    import org.apache.spark.sql.functions._
    val viaSqlite = bike.tables("products")
      .orderBy("product_id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5)))
    val viaCsv = Csv.read(spark, "/root/reference/final/bike_files/products.csv")
      .select(col("product_id").cast("long"), col("product_name"),
        col("brand_id").cast("long"), col("category_id").cast("long"),
        col("model_year").cast("long"), col("list_price").cast("double"))
      .orderBy("product_id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5)))
    assert(viaSqlite.toSeq == viaCsv.toSeq)
  }

  test("golden: full pipeline straight from the .sqlite file") {
    // the reference's actual flow: upload .sqlite → introspect → model →
    // build → query; revenue/year must reproduce the notebook's values
    val schema = Modeler.model(bike.catalog)
    val store = GraphBuilder.buildAll(bike.tables(_), schema)
    val rows = CypherEngine(store).run(
      """MATCH (o:Order)-[ci:ORDER_ITEMS]->(p:Product)
        WITH year(date(o.order_date)) AS yr, sum(ci.list_price * ci.quantity * (1 - ci.discount)) AS revenue
        RETURN yr, revenue ORDER BY yr""").collect()
    val got = rows.map(r => r.getInt(0) -> r.getDouble(1)).toMap
    val want = Map(2016 -> 2427378.5276, 2017 -> 3447208.2425, 2018 -> 1814529.7875)
    assert(got.keySet == want.keySet)
    want.foreach { case (y, v) => assert(math.abs(got(y) - v) < 0.01, s"$y: ${got(y)} vs $v") }
  }

  test("edge cases: overflow pages, blobs, rowid gaps, interior b-trees") {
    val db = Sqlite.read(spark, "src/test/resources/edgecases.sqlite")
    val rows = db.tables("mixed").orderBy("id").collect()
    assert(rows.length == 203) // 3 kept specials + 200 bulk (one deleted)
    val r1 = rows.find(_.getLong(0) == 1L).get
    assert(r1.getString(1).length == 9003 && r1.getString(1).endsWith("END")) // overflow chain
    assert(r1.getDouble(2) == 3.14159)
    assert(r1.getLong(3) == -42L) // negative int
    assert(r1.getAs[Array[Byte]](4).length == 256)
    assert(r1.isNullAt(5))
    val r7 = rows.find(_.getLong(0) == 7L).get
    assert(r7.getLong(3) == (1L << 40)) // 48-bit serial int
    assert(r7.getAs[Array[Byte]](4).isEmpty)
    assert(!rows.exists(_.getLong(0) == 3L)) // deleted row really gone
    assert(rows.find(_.getLong(0) == 9L).get.getDouble(2) == 1e308)
    // WITHOUT ROWID tables are skipped with a clear reason, not garbage —
    // and don't sink the rest of the upload
    assert(!db.tables.contains("norowid"))
    assert(db.skipped("norowid").contains("WITHOUT ROWID"))
  }

  test("virtual tables are skipped with a reason; the rest of the db reads") {
    // fts5 virtual table: type='table' in sqlite_master with rootpage 0 —
    // walking it would compute a negative page offset, and its DDL has no
    // column list. It must degrade to a skipped entry, not sink the upload.
    val db = Sqlite.read(spark, "src/test/resources/virtual.sqlite")
    assert(!db.tables.contains("ft"))
    assert(db.skipped("ft").contains("virtual table"))
    val plain = db.tables("plain").orderBy("id").collect()
    assert(plain.map(_.getString(1)).toSeq == Seq("hello world", "spark engine"))
    // fts5's real shadow tables still read (or skip individually) without
    // affecting plain tables
    assert(db.tables.contains("ft_config") || db.skipped.contains("ft_config"))
  }

  test("sales_master database reads and models too") {
    val sales = Sqlite.read(spark, "/root/reference/final/sales_master.sqlite")
    assert(sales.tables.keySet == Set(
      "customer_table", "order_table", "product_table", "order_product_table"))
    val schema = Modeler.model(sales.catalog)
    assert(schema.edges.exists(_.label == "ORDER_PRODUCT"))
    assert(sales.tables("order_product_table").count() == 2823L)
  }

  private val fixtures = Seq(
    "src/test/resources/fkweb.sqlite", "src/test/resources/edgecases.sqlite")

  test("every table is one partition with exact row-count and byte statistics") {
    fixtures.foreach { path =>
      val db = Sqlite.read(spark, path)
      assert(db.tables.nonEmpty)
      db.tables.foreach { case (name, df) =>
        val n = df.count()
        val stats = df.queryExecution.optimizedPlan.stats
        assert(stats.rowCount.contains(BigInt(n)), s"$path $name")
        val bytes = df.queryExecution.toRdd.map(_.asInstanceOf[
          org.apache.spark.sql.catalyst.expressions.UnsafeRow].getSizeInBytes.toLong).sum()
        assert(stats.sizeInBytes == BigInt(bytes.toLong), s"$path $name")
        assert(df.queryExecution.executedPlan.outputPartitioning == SinglePartition, s"$path $name")
        assert(df.rdd.getNumPartitions == 1, s"$path $name")
      }
    }
  }

  test("rows and schema equal the Row-encoder hand-off, on every fixture table") {
    fixtures.foreach { path =>
      val db = Sqlite.read(spark, path)
      val ref = SqliteSpec.rowPath(spark, path)
      assert(db.tables.keySet == ref.keySet, path)
      db.tables.foreach { case (name, df) =>
        assert(df.schema == ref(name).schema, s"$path $name")
        assert(SqliteSpec.bag(df) == SqliteSpec.bag(ref(name)), s"$path $name")
      }
    }
    // the fixture's planted values survive as the coercion rules say
    val emps = Sqlite.read(spark, "src/test/resources/fkweb.sqlite").tables("employees")
    val byId = emps.collect().map(r => r.getLong(0) -> r).toMap
    assert(byId(37L).isNullAt(2)) // 'n/a' in a REAL column
    assert(byId(41L).isNullAt(4)) // 2.5 in an INTEGER column
    assert(!byId.contains(17L) && !byId.contains(99L)) // deleted rows
    assert(byId(3L).isNullAt(5) && byId(4L).getAs[Array[Byte]](5).length == 4)
  }
}

object SqliteSpec {

  /** The reader's former hand-off to Catalyst, kept as the reference for
    * the binary-row path: the same decoded records, coerced to `Row`
    * values and parallelized through the Row encoder.
    */
  def rowPath(spark: org.apache.spark.sql.SparkSession, path: String): Map[String, DataFrame] = {
    val db = new Sqlite.Db(Files.readAllBytes(Paths.get(path)))
    val master = db.walk(1).map { case (_, rec) => db.record(rec) }.collect {
      case Array(t: String, name: String, _, rootpage: Long, sql: String)
          if t == "table" && !name.startsWith("sqlite_") && rootpage >= 1 &&
            !sql.toUpperCase.contains("VIRTUAL TABLE") =>
        (name, rootpage.toInt, sql)
    }.toSeq
    def affinity(t: String): DataType = {
      val u = t.toUpperCase
      if (u.contains("INT") || u.contains("NUMERIC")) LongType
      else if (u.contains("DEC") || u.contains("REAL") || u.contains("FLOA") ||
        u.contains("DOUB")) DoubleType
      else if (u.contains("BLOB")) BinaryType
      else StringType
    }
    def coerce(v: Any, dt: DataType): Any = (v, dt) match {
      case (null, _) => null
      case (l: Long, LongType) => l
      case (d: Double, LongType) => if (d == d.toLong.toDouble) d.toLong else null
      case (s: String, LongType) => s.trim.toLongOption.orNull
      case (l: Long, DoubleType) => l.toDouble
      case (d: Double, DoubleType) => d
      case (s: String, DoubleType) => s.trim.toDoubleOption.orNull
      case (b: Array[Byte], BinaryType) => b
      case (s: String, StringType) => s
      case (l: Long, StringType) => l.toString
      case (d: Double, StringType) => d.toString
      case (b: Array[Byte], StringType) => new String(b, "UTF-8")
      case _ => null
    }
    master.flatMap { case (name, rootpage, sql) =>
      Try {
        val td = Sqlite.parseCreateTable(sql)
        val rowidAlias = td.columns.zipWithIndex.collectFirst {
          case (c, i) if td.primaryKeys == Seq(c.name) &&
            c.sqlType.toUpperCase.trim == "INTEGER" => i
        }
        val schema = StructType(td.columns.map(c => StructField(c.name, affinity(c.sqlType))))
        val rows = db.walk(rootpage).map { case (rowid, rec) =>
          val vals = db.record(rec)
          Row.fromSeq(td.columns.indices.map { i =>
            val raw =
              if (rowidAlias.contains(i)) rowid
              else if (i < vals.length) vals(i)
              else null
            coerce(raw, schema(i).dataType)
          })
        }.toSeq
        name -> spark.createDataFrame(
          spark.sparkContext.parallelize(rows, math.max(1, rows.size / 50000)), schema)
      }.toOption
    }.toMap
  }

  /** A frame's rows as a multiset, binary values compared by content. */
  def bag(df: DataFrame): Map[Seq[Any], Int] =
    df.collect().toSeq.map(_.toSeq.map {
      case b: Array[Byte] => b.toSeq
      case v => v
    }).groupBy(identity).map { case (k, v) => k -> v.size }
}
