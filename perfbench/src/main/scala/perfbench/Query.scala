package perfbench

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import graft.Engine
import graft.model.Rdf
import graft.parser.SparqlParser
import graft.parser.SparqlParser.{AskQ, SelectQ}

/** SPARQL through the engine's public entry points. Untraced, a SELECT is
  * exactly `Engine.selectJson` and an ASK `Engine.ask`. Traced, the same
  * steps run one public layer call at a time, each in its own span:
  * `SparqlParser.parse` (parser), `Compiler.compile` (algebra), physical
  * planning (plans, with Catalyst's phase times), the result collect
  * (exec), and the SPARQL-JSON rendering (engine self time).
  */
object Query {
  def selectJson(t: Tracer, engine: Engine, text: String): String =
    if (!t.enabled) engine.selectJson(text)
    else t.span("engine", "selectJson") {
      engine.runGuarded {
        val (op, projected) = t.span("parser", "parse")(
          SparqlParser.parse(text)) match {
          case SelectQ(op, projection) => (op, projection.nonEmpty)
          case _ => throw new IllegalArgumentException("not a SELECT query")
        }
        val sol = t.span("algebra", "compile")(engine.compiler.compile(op))
        val df = if (projected) sol.df else {
          val keep = sol.df.columns.filterNot(_.startsWith("__")).toSeq
          sol.df.select(keep.map(sol.df(_)): _*)
        }
        val rows = collect(t, df)
        val json = render(df.columns.toSeq, rows)
        t.count("engine.result_bytes", json.length)
        json
      }
    }

  def ask(t: Tracer, engine: Engine, text: String): Boolean =
    if (!t.enabled) engine.ask(text)
    else t.span("engine", "ask") {
      engine.runGuarded {
        val op = t.span("parser", "parse")(SparqlParser.parse(text)) match {
          case AskQ(op) => op
          case _ => throw new IllegalArgumentException("not an ASK query")
        }
        val df = t.span("algebra", "compile")(engine.compiler.compile(
          graft.algebra.Slice(0, Some(1), op))).df
        collect(t, df).nonEmpty
      }
    }

  /** Plan (plans span, Catalyst phase times as counters) and collect (exec
    * span) a compiled query's rows.
    */
  def collect(t: Tracer, df: DataFrame): Seq[Row] = {
    t.span("plans", "plan") {
      df.queryExecution.executedPlan
      df.queryExecution.tracker.phases.foreach { case (phase, s) =>
        t.count(s"plans.${phase}_ms", s.durationMs.toDouble)
      }
    }
    t.span("exec", "collect") {
      val rows = Engine.sinkRows(df).toVector
      t.count("exec.result_rows", rows.size)
      t.count("plans.exchanges", shuffles(df.queryExecution.executedPlan))
      rows
    }
  }

  /** Shuffle exchanges in a physical plan (adaptive plans: the final plan,
    * read after execution).
    */
  def shuffles(plan: SparkPlan): Int = plan match {
    case a: AdaptiveSparkPlanExec => shuffles(a.executedPlan)
    case q: QueryStageExec =>
      (q.plan match { case _: ShuffleExchangeLike => 1; case _ => 0 }) +
        shuffles(q.plan)
    case s: ShuffleExchangeLike => 1 + s.children.map(shuffles).sum
    case other => (other.children ++ other.subqueries).map(shuffles).sum
  }

  /** SPARQL 1.1 results JSON, written the way `Engine.selectJson` writes
    * it (term kinds, datatype / language, bnode labels without `_:`).
    */
  def render(vars: Seq[String], rows: Seq[Row]): String = {
    val body = rows.map { row =>
      vars.zipWithIndex.flatMap { case (v, i) =>
        Option(row.getStruct(i)).map { term =>
          val kind = term.getByte(0) match {
            case Rdf.KindIri => "uri"
            case Rdf.KindBlank => "bnode"
            case _ => "literal"
          }
          val extra = Option(term.getString(2))
            .map(d => s""","datatype":${Json.str(d)}""")
            .orElse(Option(term.getString(3))
              .map(l => s""","xml:lang":${Json.str(l)}"""))
            .getOrElse("")
          val value = if (kind == "bnode") term.getString(1).stripPrefix("_:")
            else term.getString(1)
          s"""${Json.str(v)}:{"type":"$kind","value":${Json.str(value)}$extra}"""
        }
      }.mkString("{", ",", "}")
    }.mkString("[", ",", "]")
    s"""{"head":{"vars":${vars.map(Json.str).mkString("[", ",", "]")}},""" +
      s""""results":{"bindings":$body}}"""
  }
}
