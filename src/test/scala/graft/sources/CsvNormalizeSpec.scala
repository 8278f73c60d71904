package graft.sources

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkSpec
import graft.model.{ColumnDef, TableDef}

/** `Csv.normalize` builds one projection per table; these pin it to the
  * per-column `withColumn`/`drop` fold it replaced (kept below as the
  * reference): same schema, same column order, same rows, same
  * timestamp-expansion record.
  */
class CsvNormalizeSpec extends SparkSpec {

  import spark.implicits._

  private def assertSame(df: DataFrame, td: TableDef): Unit = {
    val got = Csv.normalize(df, td)
    val (want, wantRepl) = CsvNormalizeSpec.fold(df, td)
    assert(got.df.schema == want.schema, td.name)
    assert(SqliteSpec.bag(got.df) == SqliteSpec.bag(want), td.name)
    assert(got.replacements == wantRepl, td.name)
  }

  test("one projection equals the withColumn fold on every SQLite fixture table") {
    Seq("src/test/resources/fkweb.sqlite", "src/test/resources/edgecases.sqlite").foreach { path =>
      val db = Sqlite.read(spark, path)
      db.tables.foreach { case (name, df) => assertSame(df, db.catalog.table(name)) }
    }
    // the fixture's timestamp columns really expand (and an unparseable
    // stamp becomes nulls, not a failure)
    val db = Sqlite.read(spark, "src/test/resources/fkweb.sqlite")
    val depts = Csv.normalize(db.tables("departments"), db.catalog.table("departments")).df
    assert(depts.columns.toSeq == Seq("dept_id", "name", "budget", "code") ++
      Seq("year", "month", "day", "hour", "minute", "second").map("founded_" + _))
    assert(depts.filter(col("founded_year").isNull).count() == 2) // depts 5 and 10
  }

  test("a declared column that collides with an expansion name lands where the fold put it") {
    val df = Seq(("1", "2024-03-05 06:07:08", "1999", "x"), ("2", "garbage", "7", "y"))
      .toDF("id", "created_at", "created_at_year", "note")
    def td(cols: (String, String)*) = TableDef("t", cols.map { case (n, t) => ColumnDef(n, t) })
    // declared after the timestamp: the cast reads the expansion
    assertSame(df, td("id" -> "INTEGER", "created_at" -> "TIMESTAMP",
      "created_at_year" -> "INTEGER", "note" -> "TEXT"))
    // declared before it: the expansion replaces the cast column
    assertSame(df, td("created_at_year" -> "TEXT", "id" -> "INTEGER",
      "created_at" -> "DATETIME", "note" -> "BLOB"))
    // a TEXT cast after the expansion turns the expanded year into a string
    assertSame(df, td("created_at" -> "DATE", "created_at_year" -> "VARCHAR(4)"))
    // undeclared and unknown-typed columns pass through untouched
    assertSame(df, td("created_at" -> "TIMESTAMP", "note" -> "JSON"))
    val got = Csv.normalize(df, td("id" -> "INTEGER", "created_at" -> "TIMESTAMP",
      "created_at_year" -> "INTEGER")).df
    assert(got.columns.toSeq == Seq("id", "created_at_year", "note", "created_at_month",
      "created_at_day", "created_at_hour", "created_at_minute", "created_at_second"))
    assert(got.orderBy("id").select("created_at_year").as[Option[Long]].collect().toSeq ==
      Seq(Some(2024L), None))
  }
}

object CsvNormalizeSpec {

  private val tsParts: Seq[(String, org.apache.spark.sql.Column => org.apache.spark.sql.Column)] =
    Seq(
      "year" -> (c => year(c)),
      "month" -> (c => month(c)),
      "day" -> (c => dayofmonth(c)),
      "hour" -> (c => hour(c)),
      "minute" -> (c => minute(c)),
      "second" -> (c => second(c)))

  /** `Csv.normalize` as a fold of one `withColumn` per declared column and
    * six plus a `drop` per timestamp column — the reference semantics.
    */
  def fold(df: DataFrame, table: TableDef): (DataFrame, Map[String, Seq[String]]) = {
    var out = df
    var repl = Map.empty[String, Seq[String]]
    table.columns.foreach { cd =>
      if (out.columns.contains(cd.name)) {
        val t = cd.sqlType.toUpperCase
        val c = col(cd.name)
        if (t.contains("DATE") || t.contains("TIME")) {
          val ts = to_timestamp(c)
          val expanded = tsParts.map { case (suffix, _) => s"${cd.name}_$suffix" }
          out = tsParts.foldLeft(out) { case (d, (suffix, f)) =>
            d.withColumn(s"${cd.name}_$suffix", f(ts).cast(LongType))
          }.drop(cd.name)
          repl += (cd.name -> expanded)
        } else if (t.contains("CHAR") || t.contains("CLOB") || t.contains("TEXT")) {
          out = out.withColumn(cd.name, c.cast(StringType))
        } else if (t.contains("INT") || t.contains("NUMERIC")) {
          out = out.withColumn(cd.name, c.cast(LongType))
        } else if (t.contains("DEC") || t.contains("REAL") ||
            t.contains("FLOA") || t.contains("DOUB")) {
          out = out.withColumn(cd.name, c.cast(DoubleType))
        } else if (t.contains("BLOB")) {
          out = out.withColumn(cd.name, c.cast(BinaryType))
        }
      }
    }
    (out, repl)
  }
}
