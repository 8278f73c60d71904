package graft.rca

import org.apache.spark.sql.Row

import graft.cypher.CypherEngine

/** Bounded multi-query root-cause-analysis loop.
  *
  * The reference runs a LangGraph agent that iteratively issues graph
  * queries through the full NL→Cypher pipeline, capped at 10 rounds, then
  * summarizes (reference: final/rca_final.py:125-213, loop bound at :181;
  * streamed to the UI at :215-264). The deterministic core of that loop is:
  * a planner proposes the next query from the trace so far, the engine
  * executes it, the trace accumulates, and a summarizer folds the trace
  * into an answer. The LLM planner/summarizer are pluggable functions here
  * — out of the engine's deterministic scope (SURVEY.md §3.3).
  *
  * Each step's result is truncated to `maxRowsPerStep` driver-side rows —
  * the trace is conversation context, not a data channel; full results
  * stay distributed.
  */
object Rca {

  final case class Step(query: String, rows: Seq[Row], error: Option[String])
  final case class Trace(question: String, steps: Seq[Step])

  /** Proposes the next Cypher query given the trace so far; None = done. */
  type Planner = Trace => Option[String]
  type Summarizer = Trace => String

  val MaxRounds = 10 // reference: final/rca_final.py:181

  def run(
      engine: CypherEngine,
      question: String,
      planner: Planner,
      summarize: Summarizer = defaultSummary,
      maxRounds: Int = MaxRounds,
      maxRowsPerStep: Int = 100): (Trace, String) = {
    var trace = Trace(question, Vector.empty)
    var rounds = 0
    var continue = true
    while (continue && rounds < maxRounds) {
      planner(trace) match {
        case None => continue = false
        case Some(q) =>
          val step =
            try Step(q, engine.run(q).limit(maxRowsPerStep).collect().toSeq, None)
            catch { case e: Exception => Step(q, Nil, Some(e.getMessage)) }
          trace = trace.copy(steps = trace.steps :+ step)
          rounds += 1
      }
    }
    (trace, summarize(trace))
  }

  /** Multi-hypothesis RCA: each named hypothesis runs its own bounded loop
    * CONCURRENTLY — Spark schedules jobs from parallel driver threads fairly
    * across the cluster, so independent hypothesis branches overlap instead
    * of serializing (the reference's multi-agent variant,
    * final/experimenting_new/rca_multiagent.ipynb; SURVEY.md §3.3).
    */
  def runParallel(
      engine: CypherEngine,
      question: String,
      hypotheses: Map[String, Planner],
      summarize: Summarizer = defaultSummary,
      maxRounds: Int = MaxRounds): Map[String, (Trace, String)] = {
    val branches = hypotheses.toSeq
    branches.map(_._1).zip(graft.util.Jobs.all(branches.map { case (name, planner) =>
      () => run(engine, s"$question [$name]", planner, summarize, maxRounds)
    })).toMap
  }

  /** Default summarizer: a readable trace report (the reference's summary
    * node is an LLM call — pluggable via `summarize`).
    */
  def defaultSummary(t: Trace): String = {
    val sb = new StringBuilder(s"Question: ${t.question}\n")
    t.steps.zipWithIndex.foreach { case (s, i) =>
      sb ++= s"\n[${i + 1}] ${s.query.linesIterator.map(_.trim).mkString(" ")}\n"
      s.error match {
        case Some(e) => sb ++= s"  ERROR: $e\n"
        case None =>
          s.rows.take(10).foreach(r => sb ++= s"  ${r.toString}\n")
          if (s.rows.size > 10) sb ++= s"  ... ${s.rows.size} rows total\n"
      }
    }
    sb.toString
  }
}
