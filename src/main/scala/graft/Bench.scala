package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

object Bench {
  /** Committed full-suite totals per sf-dir basename, as (query count,
    * seconds): a fresh full run that exceeds its total by >15% is
    * flagged contended no matter what loadavg claimed — but ONLY when the
    * suite size matches. A grown suite legitimately costs more, so
    * comparing across sizes would mislabel every clean run contended and
    * the new suite could never certify; a size-mismatched run falls back
    * to the loadavg-only check. Update when a new anchor campaign is
    * committed to BASELINE.md.
    *
    * Each value is its campaign's MEDIAN-OF-5 total for the 144-query
    * suite, not the single fastest run (ADVICE r17: anchoring on the
    * fastest run left only ~10% headroom over a typical clean run,
    * routing clean-but-median runs to .contended.json; the median total
    * is the statistic the per-query anchors use):
    *  - sf0.1: 87.6 s, r17 campaign, per-run totals 84.2-91.4 s
    *    (BASELINE.md "Round-17: anchor promotion");
    *  - sf1: 133.0 s (132.96), r18 campaign, per-run totals
    *    126.2-148.0 s, 5/5 contended:false (BASELINE.md "Round-18: sf1
    *    anchor").
    * The committed RECORDS are the best clean runs (BENCH_FULL*.json,
    * listed in BASELINE.md); they do not enter this check.
    */
  val CommittedTotalSec: Map[String, (Int, Double)] =
    Map("sf0.1" -> (144, 87.6), "sf1" -> (144, 133.0))

  /** Per-SF certified per-query ANCHOR for the median-ratio clause
    * (ADVICE r9: the guard previously anchored at sf0.1 only, leaving
    * sf1 slow-mode runs guarded by loadavg alone). A dedicated
    * `BENCH_ANCHOR.<sf>.json` is preferred over the record artifact when
    * present (ADVICE r13: the promoted r13 sf0.1 record is itself ~5%
    * soft — it medianed 1.051 vs the prior anchors, the gate's exact
    * edge, in a session-long slow window — so anchoring the detector on
    * it would let a genuinely ~5%-contended future run compare clean.
    * Since r17 the sf0.1 anchor is cut by the MEDIAN-OF-N policy
    * (tools/promote_anchor.py): per-query medians across N≥5 spaced
    * clean-window runs, all contended:false — robust to the box's
    * bimodal hypervisor modes that made the old single-run ≤1.05 gate
    * refuse ~22 promotion attempts across r14-r16, and covering ALL
    * 144 queries (the superseded r12 anchor, retained as
    * BENCH_ANCHOR.sf0.1.superseded_r12.json, predated 17 of them, so
    * the contention median read only 127). Resolved against the
    * first existing candidate so a bench launched from another CWD still
    * finds it.
    */
  def recordPath(sfName: String): Option[String] = {
    val files = sfName match {
      case "sf0.1" => Seq("BENCH_ANCHOR.sf0.1.json", "BENCH_FULL.json")
      case "sf1" => Seq("BENCH_ANCHOR.sf1.json", "BENCH_FULL.sf1.json")
      case _ => Nil
    }
    if (files.isEmpty) None
    else files.flatMap(f => Seq(f, s"/root/repo/$f"))
      .find(p => java.nio.file.Files.exists(java.nio.file.Paths.get(p)))
      .orElse(Some(files.last))
  }

  /** Per-query error marker for the bench artifact: a query that throws
    * must surface in the JSON, not fold a bogus fast time into the total
    * (a broken bench-only query would otherwise read as a speedup).
    * Returns the `"errors":{...}` JSON fragment, or "" when all passed.
    * Pure so BenchSpec can pin it.
    */
  def errorsJson(errs: Seq[(String, String)]): String =
    if (errs.isEmpty) ""
    else errs.map { case (q, e) => s""""$q":"$e"""" }
      .mkString(""","errors":{""", ",", "}")

  /** Contended-run predicate (pure; pinned by BenchSpec). `loadBefore > 2`
    * is the empirically-idle threshold for this box: the round-6 driver
    * run passed the old `cpus/4` (= 8) guard at load_before 2.99 yet
    * measured 78.6 s where idle same-HEAD runs give 59.9-61.7 s. The
    * second clause catches contention that arrives AFTER the load sample:
    * a full-suite total >15% over the committed record is contaminated
    * regardless of loadavg. The third clause catches what NEITHER can
    * see: the box runs bimodal at the hypervisor level — round 9 measured
    * 1.5-2.3x per-query inflation at loadavg 0.09 — and after a suite
    * grows the total clause cannot compare, so the median PER-QUERY ratio
    * against the committed certified record ([[medianRatio]], robust to
    * suite growth because only shared queries compare) flags slow-mode
    * runs that would otherwise certify as clean records.
    */
  def isContended(loadBefore: Double, totalSec: Double,
                  committedTotalSec: Option[Double],
                  medRatioVsRecord: Option[Double] = None): Boolean =
    loadBefore > 2.0 || committedTotalSec.exists(b => totalSec > b * 1.15) ||
      // 1.25: a clean same-HEAD rerun medians ~1.0-1.05 (per-query noise
      // ±10%), while the box's MILD slow mode measured exactly 1.30 — the
      // first threshold tried (1.3) straddled it (a 92.1 s run labeled
      // clean at median 1.2998). A legitimately-slower future HEAD that
      // trips this re-certifies by committing its artifact manually —
      // the flag only routes the file, it doesn't block promotion.
      medRatioVsRecord.exists(_ > 1.25)

  /** Median per-query ratio vs the committed certified record (pure;
    * BenchSpec-pinned). Only queries the record also timed above a 0.15 s
    * noise floor compare, and fewer than 20 shared queries yields None
    * (subset runs should not anchor on a handful of ratios).
    */
  def medianRatio(results: Seq[(String, Double)],
                  record: Map[String, Double]): Option[Double] = {
    val rs = results.collect {
      case (k, v) if record.get(k).exists(_ > 0.15) => v / record(k)
    }
    if (rs.size < 20) None else Some(rs.sorted.apply(rs.size / 2))
  }

  /** Per-query times of the committed certified record artifact, or empty
    * when the file is missing, unparsable, or itself flagged contended
    * (never anchor the guard on a contaminated record).
    */
  def recordQueries(path: String): Map[String, Double] =
    try {
      val txt = java.nio.file.Files.readString(java.nio.file.Paths.get(path))
      // tolerant-whitespace parse, scoped to the "queries" object so a
      // q-named key elsewhere in the artifact can never pollute the
      // anchor (ADVICE r9: the old whole-file regex + exact substring
      // test failed open on any formatting change)
      val contended = """"contended"\s*:\s*(true|false)""".r
        .findFirstMatchIn(txt).map(_.group(1))
      if (!contended.contains("false")) Map.empty
      else {
        val start = txt.indexOf("\"queries\"")
        val open = if (start < 0) -1 else txt.indexOf('{', start)
        val close = if (open < 0) -1 else txt.indexOf('}', open)
        if (close < 0) Map.empty
        else """"(q[0-9][^"]*)"\s*:\s*([0-9][0-9.eE+-]*)""".r
          .findAllMatchIn(txt.substring(open, close))
          .map(m => m.group(1) -> m.group(2).toDouble).toMap
      }
    } catch { case _: Throwable => Map.empty }

  /** Artifact routing (pure; pinned by BenchSpec): neither a contended
    * run nor a subset run may clobber a certified record. The round-8
    * driver run overwrote the committed clean BENCH_FULL.json with a
    * contended artifact and only a restore commit saved the record — so
    * when `isContended` fires, the JSON goes to `<base>.contended.json`;
    * a positional-args subset run (whose total is not comparable to the
    * full-suite record) goes to `<base>.subset.json`; the certified file
    * is written only by a clean full-suite run.
    */
  def artifactPath(out: String, contended: Boolean, subset: Boolean = false): String = {
    val tag = if (contended) ".contended" else if (subset) ".subset" else ""
    if (tag.isEmpty) out
    else if (out.endsWith(".json")) out.stripSuffix(".json") + tag + ".json"
    else out + tag
  }

  def main(args: Array[String]): Unit = {
    // Load guard sample (round-5 lesson: a contended driver window produced
    // a 125 s "record" for a 68 s suite). MUST be the first thing in main,
    // BEFORE the session and the untimed warmup: the warmup alone drives
    // the 1-minute loadavg past the 2.0 threshold at sf1 (measured
    // load_before 1.8-3.4 on an idle box when sampled after it — every sf1
    // run self-flagged contended), which is the same self-measurement trap
    // the dead loadAfter clause was removed for.
    def loadavg(): Double =
      try java.nio.file.Files.readString(java.nio.file.Paths.get("/proc/loadavg"))
        .split(" ")(0).toDouble
      catch { case _: Throwable => -1.0 }
    val loadBefore = loadavg()

    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // A/B knob: `SPARK_GRAFT_CONF="k=v;k2=v2"` sets runtime SQL confs the
    // engine's conf-gated policies read (e.g. the local path edge cap) —
    // graft.* keys can't ride -D like spark.* ones, and measured A/Bs of
    // those gates at scale need a launcher-level switch.
    sys.env.get("SPARK_GRAFT_CONF").foreach(_.split(';').foreach { kv =>
      kv.split("=", 2) match {
        case Array(k, v) if k.nonEmpty => spark.conf.set(k.trim, v.trim)
        case _ =>
      }
    })

    // Untimed warmup: exercise the scan/join/agg/window/explode execution
    // paths once so the first measured query doesn't absorb JVM/JIT and
    // session init (which is measurement noise, not engine cost — per-query
    // numbers otherwise vary by map-iteration position across runs).
    // Above 100M lineitem rows (footer count — milliseconds) the join
    // warmup runs on a 1/97 orders sample: at sf100 the full 600M×150M
    // warmup join wrote ~30 GB of shuffle on a box where DISK is the
    // measured boundary (r17 BFS accounting), and JIT warmup needs code
    // paths, not data volume. Every graded scale (≤ sf10, ≤ 60M rows)
    // keeps the exact warmup its records were cut with.
    try {
      val li = sources.Tables.load(spark, sfDir, "lineitem")
      val oAll = sources.Tables.load(spark, sfDir, "orders")
      val o = if (li.count() > 100_000_000L)
        oAll.filter(pmod(col("o_orderkey"), lit(97)) === 0) else oAll
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .groupBy("l_returnflag").count().count()
      o.withColumn("rn",
          row_number().over(Window.partitionBy("o_custkey").orderBy("o_orderkey")))
        .filter(col("rn") === 1).count()
      sources.Tables.load(spark, sfDir, "documents")
        .select(explode(split(lower(col("text")), " ")).as("t"))
        .groupBy("t").count().count()
      // touch every remaining table once so the first measured query does
      // not absorb file-listing + footer reads for scans it didn't cause
      Seq("region", "nation", "customer", "supplier", "part", "events", "embeddings")
        .foreach(t => sources.Tables.load(spark, sfDir, t).count())
    } catch { case _: Throwable => }

    // Optional positional args restrict the run to the named queries
    // (local iteration aid; the driver always runs the full set).
    // Sorted order keeps per-query numbers comparable across runs.
    val wanted = (if (args.isEmpty) SparkEntry.queries
                  else SparkEntry.queries.filter(kv => args.contains(kv._1)))
      .toSeq.sortBy(_._1)
    def time1(fn: (org.apache.spark.sql.SparkSession, String) =>
        org.apache.spark.sql.DataFrame): (Double, Option[String]) = {
      val t0 = System.nanoTime()
      val err = try { fn(spark, sfDir).count(); None }
                catch { case t: Throwable => Some(t.getClass.getSimpleName) }
      ((System.nanoTime() - t0) / 1e9, err)
    }
    val timed = wanted.map { case (name, fn) => name -> time1(fn) }
    val results = timed.map { case (name, (sec, _)) => name -> sec }
    val errors = timed.collect { case (name, (_, Some(e))) => name -> e }
    val suiteSize = wanted.size
    // Noise probe: rerun the single most expensive query and RECORD both
    // timings without touching the headline numbers. (The pre-r7 damper
    // kept the cheaper of the two, which biased the suite total downward
    // for exactly one query — see ADVICE r6. A large first-vs-second gap
    // diagnoses a GC pause / page-cache miss on that query.)
    val rerunWorst = if (results.isEmpty) "" else {
      val (worstName, worstT) = results.maxBy(_._2)
      val (again, _) = time1(SparkEntry.queries(worstName))
      s""","rerun_worst":{"name":"$worstName","first":$worstT,"second":$again}"""
    }
    // load_after reflects the HEADLINE suite's end state (incl. the worst-
    // query rerun) — captured BEFORE the phase probes run, so probe
    // execution can't inflate it (ADVICE r15).
    val loadAfter = loadavg()
    // Operator-vs-instrument phase split for the tolerance-oracle family
    // (r15 verdict directive #3) plus q34's ingest-vs-BFS split (r17,
    // verdict #5): timed AFTER the headline loop, recorded under
    // "phases" — never folded into the headline total or the contention
    // median (those compare against records of the combined queries).
    // Since r17 a SUBSET run probes the queries it actually ran (the
    // sf100 scale subsets are where q34's split matters most); headline
    // numbers stay untouched, so subset artifacts remain comparable.
    // A probe that throws records null, not its (misleadingly short)
    // wall time (ADVICE r15).
    val phasesJson = {
      val ps = (operators.PipelineQueries.phaseProbes ++
          operators.GraphQueries.phaseProbes).toSeq
        .filter { case (q, _) => args.isEmpty || args.contains(q) }
        .sortBy(_._1)
        .map { case (q, probes) =>
          val inner = probes.map { case (nm, fn) =>
            val (sec, err) = time1(fn)
            s""""$nm":${if (err.isDefined) "null" else sec.toString}"""
          }.mkString(",")
          s""""$q":{$inner}"""
        }
      if (ps.isEmpty) "" else ps.mkString(""","phases":{""", ",", "}")
    }
    val total = if (results.nonEmpty) results.map(_._2).sum else 0.0
    // Committed-record comparison only applies to full-suite runs whose
    // size matches the record's (subset totals and grown suites are not
    // comparable to it).
    val committed = if (args.isEmpty)
      CommittedTotalSec.get(java.nio.file.Paths.get(sfDir).getFileName.toString)
        .collect { case (n, sec) if n == suiteSize => sec }
    else None
    // the certified per-query anchor is per-SF (sf0.1 + sf1 records)
    val sfName = java.nio.file.Paths.get(sfDir).getFileName.toString
    val medRatio =
      if (args.nonEmpty) None
      else recordPath(sfName).flatMap(p => medianRatio(results, recordQueries(p)))
    val contended = isContended(loadBefore, total, committed, medRatio)
    val medJson = medRatio.map(r => s""","median_ratio_vs_record":$r""").getOrElse("")
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val json = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,""" +
      s""""sf":"$sfDir","load_before":$loadBefore,"load_after":$loadAfter,""" +
      s""""contended":$contended$medJson$rerunWorst$phasesJson${errorsJson(errors)}}"""
    println(json)
    // The driver captures a stdout TAIL, which has truncated early queries
    // in past rounds — always persist the complete per-query object too.
    // per-SF default artifact name: an sf1 full run must never clobber
    // the certified sf0.1 record file (and vice versa)
    val defaultOut = if (sfName == "sf1") "BENCH_FULL.sf1.json" else "BENCH_FULL.json"
    val out = artifactPath(
      sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", defaultOut),
      contended, subset = args.nonEmpty)
    try java.nio.file.Files.writeString(java.nio.file.Paths.get(out), json + "\n")
    catch { case e: Exception => System.err.println(s"[bench] could not write $out: $e") }
    spark.stop()
  }
}
