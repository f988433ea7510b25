package perfbench

import org.json4s._

/** Answer checks against the expected answers the generator computed
  * independently (DuckDB over the same parquet, or the ingest state
  * model). Every check returns None when the answer is right, else a
  * short reason. Checks run after an op's timed window closes.
  */
object Check {
  type Row = Seq[Option[String]]

  /** SPARQL-JSON results → (variables, rows of lexical values). */
  def bindings(json: String): (Seq[String], Seq[Map[String, String]]) = {
    val doc = Json.parse(json)
    val vars = (doc \ "head" \ "vars").children.collect { case JString(v) => v }
    val rows = (doc \ "results" \ "bindings").children.map { b =>
      b match {
        case JObject(fields) => fields.collect {
          case (k, t) if (t \ "value") != JNothing =>
            k -> (t \ "value").asInstanceOf[JString].s
        }.toMap
        case _ => Map.empty[String, String]
      }
    }
    (vars, rows)
  }

  def selectJson(json: String, expect: JValue): Option[String] = {
    val (_, rows) = bindings(json)
    val vars = (expect \ "vars").children.collect { case JString(v) => v }
    select(rows.map(r => vars.map(r.get)), expect)
  }

  /** Compare result rows with `expect` = {rows, ordered, may?}. */
  def select(actual: Seq[Row], expect: JValue): Option[String] = {
    val want = (expect \ "rows").children.map(_.children)
    val may = (expect \ "may").children.map(_.children)
    val ordered = (expect \ "ordered") == JBool(true)
    if (ordered) {
      if (actual.size != want.size)
        Some(s"expected ${want.size} rows, got ${actual.size}")
      else actual.zip(want).zipWithIndex.collectFirst {
        case ((a, w), i) if !rowMatches(a, w) =>
          s"row $i: got ${show(a)}, want ${w.map(Json.value).mkString(",")}"
      }
    } else {
      // multiset match: every wanted row consumes one equal actual row;
      // leftovers must be listed as allowed (`may`) rows
      val pool = scala.collection.mutable.ArrayBuffer(actual: _*)
      val missing = want.find { w =>
        val i = pool.indexWhere(rowMatches(_, w))
        if (i >= 0) { pool.remove(i); false } else true
      }
      missing.map(w => s"missing row ${w.map(Json.value).mkString(",")} " +
          s"(got ${actual.size} rows, want ${want.size})")
        .orElse(pool.find(a => !may.exists(rowMatches(a, _)))
          .map(a => s"unexpected row ${show(a)}"))
    }
  }

  private def show(r: Row): String = r.map(_.getOrElse("UNBOUND")).mkString(",")

  def rowMatches(a: Row, w: Seq[JValue]): Boolean =
    a.size == w.size && a.zip(w).forall { case (x, y) => cell(x, y) }

  def cell(a: Option[String], w: JValue): Boolean = (a, w) match {
    case (None, JNull | JNothing) => true
    case (None, _) | (Some(_), JNull | JNothing) => false
    case (Some(s), JString(t)) => s == t
    case (Some(s), JBool(b)) => s == b.toString
    case (Some(s), n) => num(n).exists(d => s.toDoubleOption.exists(close(_, d)))
  }

  def num(v: JValue): Option[Double] = v match {
    case JInt(i) => Some(i.toDouble)
    case JLong(l) => Some(l.toDouble)
    case JDouble(d) => Some(d)
    case JDecimal(d) => Some(d.toDouble)
    case _ => None
  }

  def close(a: Double, b: Double): Boolean =
    math.abs(a - b) <= 1e-6 * math.max(1.0, math.max(math.abs(a), math.abs(b)))

  /** Path-search bindings (?pi ?ei ?es ?ep ?eo) against the expected set of
    * paths, each a sequence of (start, property, end) edges. Path indexes
    * are compared as a set of edge sequences, not by number.
    */
  def paths(json: String, expect: JValue): Option[String] = {
    val (_, rows) = bindings(json)
    val got = rows.groupBy(r => r.getOrElse("pi", "0")).values.map { es =>
      es.sortBy(_.getOrElse("ei", "0").toDouble)
        .map(r => Seq(r("es"), r("ep"), r("eo")))
    }.toSeq.sortBy(_.toString)
    val want = (expect \ "paths").children.map(_.children.map(
      _.children.collect { case JString(s) => s })).sortBy(_.toString)
    if (got == want) None
    else Some(s"paths differ: got ${got.size}, want ${want.size}")
  }
}
