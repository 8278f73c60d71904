package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions.col

import graft.Graft
import graft.cypher.{CypherEngine, Parser}
import graft.graph.{GraphAnalytics, GraphBuilder, GraphStore}

/** Closed-loop, single-client benchmark harness. Reads a generated workload
  * spec, sets up once and warms up, then runs the spec's ops in a loop
  * until their summed latency reaches the requested seconds. Every op fully materializes its result rows (`collect`); the
  * rows are written out for checking after the run, outside the op's timing.
  *
  * Usage: `Harness <spec.json> <out.json> <seconds> <trace 0|1> <cores> <workDir>`
  */
object Harness extends AdaptiveSparkPlanHelper {
  private val mapper = new ObjectMapper()

  final case class OpResult(i: Int, kind: String, template: String, ms: Double,
      error: String, rows: Any, storageMb: Double, span: Int, extra: Map[String, Any])

  def main(args: Array[String]): Unit = {
    val Array(specPath, outPath, secondsArg, traceArg, cores, workDir) = args
    val specDir = new File(specPath).getParentFile
    val spec = mapper.readValue(new File(specPath), classOf[java.util.Map[String, Any]]).asScala
    val seconds = secondsArg.toDouble
    val trace = traceArg == "1"
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$workDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$workDir/warehouse")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.hadoop.hadoop.tmp.dir", s"$workDir/hadoop-tmp")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val recorder = new Recorder
    if (trace) {
      spark.sparkContext.addSparkListener(recorder)
      spark.listenerManager.register(recorder)
    }
    val sessionReadyMs = System.currentTimeMillis()
    val tracer = new Tracer(trace, spark)
    val run = spec("workload").toString match {
      case "upload_pipeline" => new UploadRun(spark, tracer, spec, specDir, workDir)
      case "write_mix" => new WriteRun(spark, tracer, spec)
    }
    val tSetup = System.nanoTime()
    run.setup()
    val setupS = (System.nanoTime() - tSetup) / 1e9
    val tWarm = System.nanoTime()
    run.warm()
    val warmS = (System.nanoTime() - tWarm) / 1e9
    val gc0 = gcMs()
    val opsOut = ArrayBuffer.empty[OpResult]
    val firstOpMs = System.currentTimeMillis()
    org.apache.spark.perfbench.BusDrain(spark.sparkContext)
    val blocks0 = (recorder.blocksWritten, recorder.blocksDropped, recorder.bytesWritten)
    var opNs = 0L
    var i = 0
    var peakMb = storageMb(spark)
    while (opNs < seconds * 1e9) {
      tracer.op = i
      val gcBefore = gcMs()
      val t = System.nanoTime()
      val opSpan = tracer.spans.size
      val (rows, err, extra) =
        try {
          val (r, x) = tracer.span("op:" + run.kindOf(i)) { run.op(i) }
          (r, null, x)
        } catch {
          case NonFatal(e) => (null, s"${e.getClass.getName}: ${firstLine(e.getMessage)}", Map.empty[String, Any])
        }
      val ns = System.nanoTime() - t
      opNs += ns
      val mb = storageMb(spark)
      peakMb = math.max(peakMb, mb)
      opsOut += OpResult(i, run.kindOf(i), run.templateOf(i), ns / 1e6, err, rows, mb,
        if (trace) opSpan else -1, extra ++ Map("gc_ms" -> (gcMs() - gcBefore)))
      i += 1
    }
    val endMs = System.currentTimeMillis()
    val gcTotal = gcMs() - gc0
    org.apache.spark.perfbench.BusDrain(spark.sparkContext)
    val out = Map[String, Any](
      "jvm_start_ms" -> ManagementFactory.getRuntimeMXBean.getStartTime,
      "session_ready_ms" -> sessionReadyMs,
      "build_s" -> setupS,
      "warm_s" -> warmS,
      "first_op_ms" -> firstOpMs,
      "end_ms" -> endMs,
      "spark_version" -> spark.version,
      "ansi" -> spark.conf.get("spark.sql.ansi.enabled"),
      "cores" -> cores.toInt,
      "gc_ms" -> gcTotal,
      "storage_peak_mb" -> peakMb,
      "trace" -> trace,
      "ops" -> opsOut.map(o => Map("i" -> o.i, "kind" -> o.kind, "template" -> o.template,
        "ms" -> o.ms, "error" -> o.error, "rows" -> o.rows, "storage_mb" -> o.storageMb,
        "span" -> o.span) ++ o.extra),
      "spans" -> tracer.spans.map(s => Map("id" -> s.id, "parent" -> s.parent, "op" -> s.op,
        "name" -> s.name, "start_ns" -> s.start, "end_ns" -> s.end)),
      "jobs" -> (if (trace) recorder.jobsJson else Nil),
      "catalyst" -> (if (trace) recorder.catalyst.asScala.toSeq.map(_.toSeq) else Nil),
      "blocks" -> Map(
        "written" -> (recorder.blocksWritten - blocks0._1),
        "dropped" -> (recorder.blocksDropped - blocks0._2),
        "bytes_written" -> (recorder.bytesWritten - blocks0._3)))
    mapper.writeValue(new File(outPath), Json.toJava(out))
    spark.stop()
  }

  private def firstLine(s: String): String =
    Option(s).map(_.linesIterator.toSeq.headOption.getOrElse("")).getOrElse("").take(300)

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum

  /** Block-manager storage held by cached and checkpointed data. */
  def storageMb(spark: SparkSession): Double =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1048576.0

  /** Rows read by the leaf (scan) operators of an executed plan, through
    * adaptive query stages.
    */
  def scanRows(plan: SparkPlan): Long =
    collectLeaves(plan).flatMap(_.metrics.get("numOutputRows")).map(_.value).sum

  // ------------------------------------------------------------------ ops

  /** One workload's set-up, warm-up and ops; `op` returns (rows, per-op
    * extras).
    */
  abstract class WorkloadRun {
    def setup(): Unit
    def warm(): Unit = ()
    def kindOf(i: Int): String
    def templateOf(i: Int): String
    def op(i: Int): (Any, Map[String, Any])
  }

  private def params(m: Any): Map[String, Any] =
    m.asInstanceOf[java.util.Map[String, Any]].asScala.toMap.map { case (k, v) => k -> Json.toScala(v) }

  /** A Cypher read through the engine's public entry points. Traced, each
    * layer is called on its own: the parser, the compiler (`run`, which
    * also submits any eager jobs), Catalyst's optimizer and planner, then
    * execution.
    */
  def read(tr: Tracer, store: GraphStore, cypher: String, p: Map[String, Any]): (Any, Map[String, Any]) =
    if (!tr.enabled) (Json.rows(CypherEngine(store).run(cypher, p).collect()), Map.empty)
    else {
      tr.span("cypher.parse") { Parser.parse(cypher) }
      val df = tr.span("cypher.compile") { CypherEngine(store).run(cypher, p) }
      collectTraced(tr, df)
    }

  def collectTraced(tr: Tracer, df: DataFrame): (Any, Map[String, Any]) = {
    tr.span("catalyst.optimize") { df.queryExecution.optimizedPlan }
    tr.span("catalyst.plan") { df.queryExecution.executedPlan }
    val rows = tr.span("exec.collect") { df.collect() }
    (Json.rows(rows), Map("scan_rows" -> scanRows(df.queryExecution.executedPlan),
      "result_rows" -> rows.length))
  }

  private def opsOf(spec: scala.collection.Map[String, Any], key: String): IndexedSeq[Map[String, Any]] =
    spec(key).asInstanceOf[java.util.List[java.util.Map[String, Any]]].asScala.toIndexedSeq
      .map(_.asScala.toMap)

  /** The star-schema store: parquet → graph build → persisted, each frame
    * materialized.
    */
  private def buildStar(spark: SparkSession, dataDir: String): GraphStore = {
    val st = Graft.fromParquet(spark, dataDir).build().store.get.persisted
    st.nodes.values.foreach(_.count())
    st.edges.values.foreach(_.count())
    st
  }

  /** write_mix: sessions of writes (`execute`) each followed by reads
    * (`run`) of what it mutated; every session restarts from the base store.
    */
  final class WriteRun(spark: SparkSession, tr: Tracer, spec: scala.collection.Map[String, Any])
      extends WorkloadRun {
    private val sessions = spec("sessions").asInstanceOf[java.util.List[java.util.List[java.util.Map[String, Any]]]]
      .asScala.toIndexedSeq.map(_.asScala.toIndexedSeq.map(_.asScala.toMap))
    private val flat = sessions.zipWithIndex.flatMap { case (s, si) => s.indices.map(j => (si, j)) }
    private val dataDir = spec("data_dir").toString
    var base: GraphStore = _
    var current: GraphStore = _
    def setup(): Unit = {
      base = buildStar(spark, dataDir)
      current = base
    }
    // the first session, unchecked, from the base store
    override def warm(): Unit = sessions.take(1).foreach { session =>
      var st = base
      session.foreach { s =>
        try {
          if (s("kind") == "write") {
            val r = CypherEngine(st).execute(s("cypher").toString, params(s("params")))
            r.result.collect()
            st = r.store
          } else CypherEngine(st).run(s("cypher").toString, params(s("params"))).collect()
        } catch { case NonFatal(_) => }
      }
    }
    private def stmt(i: Int) = { val (s, j) = flat(i % flat.size); sessions(s)(j) }
    def kindOf(i: Int): String = stmt(i)("kind").toString
    def templateOf(i: Int): String = stmt(i)("template").toString
    def op(i: Int): (Any, Map[String, Any]) = {
      if (flat(i % flat.size)._2 == 0) current = base
      val s = stmt(i)
      val cypher = s("cypher").toString
      val p = params(s("params"))
      if (s("kind") == "read") read(tr, current, cypher, p)
      else if (!tr.enabled) {
        val r = CypherEngine(current).execute(cypher, p)
        val rows = Json.rows(r.result.collect())
        current = r.store
        (rows, Map.empty)
      } else {
        tr.span("cypher.parse") { Parser.parse(cypher) }
        val r = tr.span("cypher.compile") { CypherEngine(current).execute(cypher, p) }
        val out = collectTraced(tr, r.result)
        current = r.store
        out
      }
    }
  }

  /** Passes of the warm file through the upload pipeline before timing. */
  val WarmPasses = 4

  /** upload_pipeline: SQLite file → `Graft.fromSqlite` (sources and model)
    * → graph build → save → audit → analytics on the largest edge type. Set-up
    * and warm-up run the warm file through the same pipeline. The last built store
    * stays cached until the next file starts (the session holds its graph).
    */
  final class UploadRun(spark: SparkSession, tr: Tracer, spec: scala.collection.Map[String, Any],
      dir: File, workDir: String) extends WorkloadRun {
    private val files = opsOf(spec, "files")
    private val warmFile = spec("warm_file").asInstanceOf[java.util.Map[String, Any]].asScala.toMap
    private var held: GraphStore = _
    def setup(): Unit = pipeline(warmFile, new Tracer(false, spark), "warm")
    // the pipeline's first passes run slower while the JIT compiles Spark's
    // driver paths; timed ops that start before it settles move with the
    // host's load
    override def warm(): Unit =
      (1 until WarmPasses).foreach(_ => pipeline(warmFile, new Tracer(false, spark), "warm"))
    def kindOf(i: Int): String = "pipeline"
    // one template: every file has the same layout, so p50_gmean_ms is the
    // median time per file
    def templateOf(i: Int): String = "file"
    def op(i: Int): (Any, Map[String, Any]) = pipeline(files(i % files.size), tr, s"f${i % files.size}")

    private def dirBytes(f: File): Long =
      if (f.isDirectory) Option(f.listFiles).map(_.map(dirBytes).sum).getOrElse(0L) else f.length

    private def pipeline(f: Map[String, Any], tr: Tracer, tag: String): (Map[String, Any], Map[String, Any]) = {
      val t0 = System.nanoTime()
      if (held != null) held.unpersistAll()
      val path = new File(dir, f("path").toString).getPath
      val g = tr.span("sources.from_sqlite") { Graft.fromSqlite(spark, path) }
      val schema = g.schema
      tr.span("model.erd") { g.erdText.length + g.schemaJson.length }
      val store = tr.span("graph.build") { g.build().store.get.persisted }
      held = store
      val saveDir = s"$workDir/saved/$tag"
      tr.span("graph.save") { g.copy(store = Some(store)).save(saveDir) }
      val ingestMs = (System.nanoTime() - t0) / 1e6
      val described = tr.span("graph.describe") { store.describe(spark).collect() }
      val audit = tr.span("graph.audit") {
        schema.edges.map(et => et.label -> GraphBuilder.edgeMetrics(g.tables, et, store.edges(et.label)))
      }
      val label = f("largest_edge").toString
      val et = schema.edge(label)
      val edges = store.edges(label).select(col(et.keyS).cast("long").as("src"),
        col(et.keyT).cast("long").as("dst"))
      val cc = tr.span("graph.cc") { GraphAnalytics.connectedComponents(spark, edges).collect() }
      val pr = tr.span("graph.pagerank") { GraphAnalytics.pageRank(spark, edges).collect() }
      val source = f("bfs_source").asInstanceOf[Number].longValue
      val bfs = tr.span("graph.bfs") { GraphAnalytics.bfs(spark, edges, source, 4).collect() }
      val deg = tr.span("graph.degrees") { GraphAnalytics.degrees(spark, edges).collect() }
      val comps = cc.groupBy(_.getLong(1)).values.map(_.length)
      val tableOf = schema.nodes.map(n => n.name -> n.tables.mkString("+")).toMap
      (Map(
        "tables" -> described.filter(_.getString(0) == "node")
          .map(r => tableOf(r.getString(1)) -> r.getLong(2)).toMap,
        "edges" -> audit.map { case (l, m) =>
          l -> Map("input" -> m.input, "clean" -> m.afterClean, "committed" -> m.committed)
        }.toMap,
        "edges_dropped" -> audit.map(_._2.dropped).sum,
        "largest_edge" -> label,
        "analytics" -> Map(
          "vertices" -> cc.length, "components" -> comps.size, "largest_component" -> comps.max,
          "bfs_source" -> source,
          "bfs_levels" -> bfs.groupBy(_.getInt(1)).map { case (d, rs) => d.toString -> rs.length },
          "degree_sum" -> deg.map(_.getInt(1).toLong).sum, "degree_max" -> deg.map(_.getInt(1)).max,
          "pagerank_max" -> pr.map(_.getDouble(1)).max)),
        Map("ingest_ms" -> ingestMs, "save_bytes" -> dirBytes(new File(saveDir))))
    }
  }
}

/** Conversions between Jackson's Java values, engine params and JSON rows. */
object Json {
  def toScala(v: Any): Any = v match {
    case m: java.util.Map[_, _] => m.asScala.map { case (k, x) => k.toString -> toScala(x) }.toMap
    case l: java.util.List[_] => l.asScala.toSeq.map(toScala)
    case i: java.lang.Integer => i.longValue
    case x => x
  }

  def rows(rs: Array[Row]): java.util.List[Any] =
    rs.toSeq.map(r => (0 until r.length).map(i => value(r.get(i))).asJava: Any).asJava

  def value(v: Any): Any = v match {
    case null => null
    case d: java.math.BigDecimal => d.doubleValue
    case d: scala.math.BigDecimal => d.toDouble
    case t: java.sql.Timestamp => t.toString
    case t: java.time.Instant => t.toString
    case d: java.sql.Date => d.toString
    case d: java.time.LocalDate => d.toString
    case r: Row => (0 until r.length).map(i => value(r.get(i))).asJava
    case s: scala.collection.Seq[_] => s.map(value).asJava
    case m: scala.collection.Map[_, _] => m.map { case (k, x) => k.toString -> value(x) }.asJava
    case x => x
  }

  def toJava(v: Any): Any = v match {
    case m: scala.collection.Map[_, _] => m.map { case (k, x) => k.toString -> toJava(x) }.asJava
    case s: scala.collection.Seq[_] => s.map(toJava).asJava
    case x => x
  }
}
