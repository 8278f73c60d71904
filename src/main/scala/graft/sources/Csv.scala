package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.model.TableDef

/** CSV source/sink with the reference's type-normalization semantics
  * (reference: final/sqlite_to_csv.py:10-17,44-89; SURVEY.md §1.2, §2.2
  * P6/P7):
  *
  *  - CHAR/VARCHAR/TEXT → string
  *  - INT/SMALLINT/NUMERIC → nullable long, parse failure → null
  *  - DECIMAL/REAL/FLOAT/DOUBLE → double, parse failure → null
  *  - BLOB → binary passthrough
  *  - DATE/TIME/TIMESTAMP → parsed (coerce-to-null), then REPLACED by six
  *    Int columns `<col>_year … <col>_second` (the original is dropped; the
  *    expansion is recorded so the catalog/ERD can be updated — reference:
  *    final/sqlite_to_csv.py:61-81,92-98)
  *
  * All casts are `try_cast`-shaped (ANSI off → CAST yields null on failure),
  * matching pandas `to_numeric/to_datetime(errors="coerce")`.
  */
object Csv {

  /** Raw CSV read: header, all columns as strings (normalization is a
    * separate, declared-type-driven step — inference would not be
    * deterministic across files).
    */
  def read(spark: SparkSession, path: String): DataFrame =
    spark.read
      .option("header", "true")
      .option("mode", "PERMISSIVE")
      // RFC-4180 doubled-quote escaping ("" inside a quoted field), the
      // convention pandas' to_csv writes; Spark's default escape is \
      .option("escape", "\"")
      .csv(path)

  /** CSV sink: one header'd CSV dataset per table
    * (reference: final/sqlite_to_csv.py:88-89).
    */
  def write(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").option("header", "true").csv(path)

  final case class Normalized(df: DataFrame, replacements: Map[String, Seq[String]])

  private val tsParts: Seq[(String, Column => Column)] =
    Seq(
      "year" -> (c => year(c)),
      "month" -> (c => month(c)),
      "day" -> (c => dayofmonth(c)),
      "hour" -> (c => hour(c)),
      "minute" -> (c => minute(c)),
      "second" -> (c => second(c)))

  /** Normalize one table's columns per its declared SQL types. Returns the
    * normalized frame plus the timestamp-expansion record
    * `original column → six expanded columns`.
    *
    * The per-column rules read as a fold of `withColumn`/`drop` over the
    * declared columns; the fold is replayed here on a list of (name,
    * expression) pairs and applied as ONE `select`, because every
    * `withColumn` call re-analyzes the whole plan (one per column, seven per
    * timestamp column). Replaying keeps the fold's outcome exactly: a
    * rewrite replaces in place every column its name resolves to (under
    * the session's case sensitivity) or appends, and a later rule
    * reads the rewritten expression — so a declared `created_at_year` next
    * to a `created_at` timestamp ends as the expansion, where the fold put
    * it.
    */
  def normalize(df: DataFrame, table: TableDef): Normalized = {
    val resolver = df.sparkSession.sessionState.conf.resolver
    def quoted(n: String) = col(s"`${n.replace("`", "``")}`")
    var cols: Vector[(String, Column)] = df.columns.toVector.map(n => n -> quoted(n))
    def current(n: String): Column = cols.find(_._1 == n).get._2
    def put(n: String, e: Column): Unit =
      if (cols.exists(c => resolver(c._1, n)))
        cols = cols.map(c => if (resolver(c._1, n)) n -> e else c)
      else cols :+= (n -> e)
    var repl = Map.empty[String, Seq[String]]
    table.columns.foreach { cd =>
      if (cols.exists(_._1 == cd.name)) {
        val t = cd.sqlType.toUpperCase
        val c = current(cd.name)
        if (t.contains("DATE") || t.contains("TIME")) {
          val ts = to_timestamp(c)
          val expanded = tsParts.map { case (suffix, _) => s"${cd.name}_$suffix" }
          tsParts.foreach { case (suffix, f) => put(s"${cd.name}_$suffix", f(ts).cast(LongType)) }
          cols = cols.filterNot(x => resolver(x._1, cd.name))
          repl += (cd.name -> expanded)
        } else if (t.contains("CHAR") || t.contains("CLOB") || t.contains("TEXT")) {
          put(cd.name, c.cast(StringType))
        } else if (t.contains("INT") || t.contains("NUMERIC")) {
          put(cd.name, c.cast(LongType))
        } else if (t.contains("DEC") || t.contains("REAL") ||
            t.contains("FLOA") || t.contains("DOUB")) {
          put(cd.name, c.cast(DoubleType))
        } else if (t.contains("BLOB")) {
          put(cd.name, c.cast(BinaryType))
        }
        // unknown/empty declared type: passthrough (reference keeps object
        // dtype, final/sqlite_to_csv.py:58-59)
      }
    }
    Normalized(df.select(cols.map { case (n, e) => e.as(n) }: _*), repl)
  }

  /** Derive a catalog from CSV headers: every column TEXT-typed unless
    * listed in `types`, with PK/FK metadata supplied by the caller (headers
    * can't carry constraints — the reference gets them from SQLite PRAGMAs,
    * final/erd_text.py:27-29).
    */
  def catalogFromHeaders(
      spark: SparkSession,
      dir: String,
      tables: Seq[String],
      pks: Map[String, Seq[String]] = Map.empty,
      fks: Map[String, Seq[graft.model.ForeignKey]] = Map.empty,
      types: Map[String, Map[String, String]] = Map.empty): graft.model.RelationalCatalog =
    graft.model.RelationalCatalog(tables.map { t =>
      val header = read(spark, s"$dir/$t.csv").columns
      graft.model.TableDef(
        name = t,
        columns = header.toSeq.map(c =>
          graft.model.ColumnDef(c, types.getOrElse(t, Map.empty).getOrElse(c, "TEXT"))),
        primaryKeys = pks.getOrElse(t, Nil),
        foreignKeys = fks.getOrElse(t, Nil))
    })

  /** Read + normalize every table of a catalog from `dir/<table>.csv`.
    * Returns the loaded tables and the full replacements map
    * (table → column → expanded columns).
    */
  def loadCatalog(
      spark: SparkSession,
      dir: String,
      catalog: graft.model.RelationalCatalog): (Map[String, DataFrame], Map[String, Map[String, Seq[String]]]) = {
    val loaded = catalog.tables.map { t =>
      val n = normalize(read(spark, s"$dir/${t.name}.csv"), t)
      (t.name, n)
    }
    (loaded.map { case (n, x) => n -> x.df }.toMap,
      loaded.collect { case (n, x) if x.replacements.nonEmpty => n -> x.replacements }.toMap)
  }
}
