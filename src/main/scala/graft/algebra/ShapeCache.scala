package graft.algebra

import java.util.concurrent.atomic.AtomicLong

import scala.util.control.NonFatal

import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.{DoubleType, StringType}
import org.apache.spark.unsafe.types.UTF8String
import graft.model.{Rdf, RdfTerm}
import graft.sources.DirectMapper

/** Prepared query shapes: a SELECT or ASK shape compiles once per
  * [[Compiler]], and every query of the shape substitutes its constants
  * into the shape's cached analyzed plan.
  *
  * A constant is a SLOT when it is a triple pattern's subject or object, or
  * an operand of a comparison or IN, and is either a DirectMapper entity IRI
  * (class: its table and part count) or a numeric, plain or language-tagged
  * literal of the grammar (class: its datatype or tag). The shape is the
  * query text with each slot replaced by its class and by the first slot
  * holding an equal constant. Everything else stays verbatim: predicates,
  * classes, function arguments, typed literals, LIMIT and OFFSET.
  *
  * On a miss the shape compiles once, with distinct sentinel constants of
  * the slots' classes. It is cached when its analyzed plan holds no
  * non-deterministic expression and holds each sentinel verbatim and only
  * verbatim: then substituting a query's constants for the sentinels
  * yields the plan a direct compile of the query would analyze to. The
  * plan kept is the ANALYZED one, so the optimizer still runs on each
  * query's real constants (`SargableIris`, `SargableTimestamps`, the NaN
  * shadow and filter inference take the same branches as on a direct
  * compile). A shape whose compile can run a Spark
  * job or embed collected data (SERVICE, property paths, VALUES, EXISTS,
  * pseudo-graphs), or that fails a check, compiles directly every time.
  *
  * The key carries the catalog's version, the custom-function version and
  * the session's SQL settings, so registrations and setting changes miss.
  * Safe for concurrent queries on one engine.
  */
final class ShapeCache(compiler: Compiler) {
  import ShapeCache._

  private val entries = new java.util.LinkedHashMap[Key, Entry](16, 0.75f, true) {
    override def removeEldestEntry(e: java.util.Map.Entry[Key, Entry]): Boolean =
      size() > Capacity
  }

  def compile(p: Prepared): Sol = {
    val spark = compiler.catalog.spark
    val key = Key(compiler.catalog.version,
      graft.functions.SparqlFunctions.version, spark.conf.getAll, p.shape)
    val entry = entries.synchronized(entries.get(key)) match {
      case null =>
        misses.incrementAndGet()
        val e = prepare(p)
        entries.synchronized(entries.put(key, e))
        e
      case Direct => direct.incrementAndGet(); Direct
      case e => hits.incrementAndGet(); e
    }
    entry match {
      case Cached(plan, sentinels, cert, maybe) =>
        val sol = Sol(ColumnBridge.ofRows(spark,
          substitute(plan, sentinels, p.slots)), cert, maybe)
        onCachedAnswer(compiler, p, sol)
        sol
      case Direct => compiler.compile(p.op)
    }
  }

  private def prepare(p: Prepared): Entry =
    if (runsJobs(p.op)) { jobOps.incrementAndGet(); Direct }
    else try {
      val s = sentinels(p.slots)
      val sol = compiler.compile(p.reparse(s))
      val plan = sol.df.queryExecution.analyzed
      if (plan.exists(_.expressions.exists(!_.deterministic))) {
        nondeterministic.incrementAndGet(); Direct
      } else if (!verbatim(plan, s)) { sentinelFailed.incrementAndGet(); Direct }
      else Cached(plan, s, sol.cert, sol.maybe)
    } catch {
      // a sentinel the compile rejects (e.g. a malformed plugin argument):
      // the direct compile reports the query's own error, if any
      case NonFatal(_) => sentinelFailed.incrementAndGet(); Direct
    }

  /** Ops whose compile can run a Spark job or embed collected data. */
  private def runsJobs(op: Op): Boolean = op match {
    case _: ServiceOp | _: PathClosureOp | _: PathZeroOrOneOp | _: ValuesOp |
        _: PseudoNamedArmOp | _: ExistsOp | _: BindExistsOp | _: Wrap => true
    case lj: LeftJoin => lj.exists.nonEmpty || lj.exMarks.nonEmpty ||
      runsJobs(lj.left) || runsJobs(lj.right)
    case Bgp(ps) => ps.exists(_.graph match {
      case I(g) => compiler.catalog.isPseudoGraph(g)
      case _ => false
    })
    case FilterOp(_, c) => runsJobs(c)
    case JoinOp(l, r) => runsJobs(l) || runsJobs(r)
    case UnionOp(l, r) => runsJobs(l) || runsJobs(r)
    case MinusOp(l, r) => runsJobs(l) || runsJobs(r)
    case Extend(_, _, c) => runsJobs(c)
    case Project(_, c) => runsJobs(c)
    case DistinctOp(c) => runsJobs(c)
    case ReducedOp(c) => runsJobs(c)
    case d: DistinctOrdered => runsJobs(d.child)
    case Group(_, _, c) => runsJobs(c)
    case OrderBy(_, c) => runsJobs(c)
    case Slice(_, _, c) => runsJobs(c)
    case p: Prepared => runsJobs(p.op)
    case _: NamedGraphsOp | Unit0 => false
  }
}

object ShapeCache {
  /** Shapes kept per compiler, least recently used evicted first. */
  val Capacity = 256

  /** A query's shape: its text with the slots cut out, and each slot's
    * offset in that text with its class.
    */
  final case class Shape(text: String, slots: Seq[(Int, String)])

  private final case class Key(catalog: Long, functions: Long,
      conf: Map[String, String], shape: Shape)
  private sealed trait Entry
  /** A cacheable shape: its analyzed plan over the `sentinels`. */
  private final case class Cached(plan: LogicalPlan, sentinels: Seq[RdfTerm],
      cert: Set[String], maybe: Set[String]) extends Entry
  /** A shape compiled directly every time. */
  private case object Direct extends Entry

  /** A constant slot of a query text: the constant `term` parsed from
    * offset `start` to `end`, and its class ([[slotClass]]).
    */
  final case class Slot(start: Int, end: Int, cls: String, term: RdfTerm)

  /** The shape of `text` with `slots`, in text order. A slot's mark names
    * its class and the first slot holding an equal constant.
    */
  def shape(text: String, slots: Seq[Slot]): Shape = {
    val sb = new StringBuilder
    var at = 0
    val marks = slots.map { s =>
      sb.append(text.substring(at, s.start))
      at = s.end
      (sb.length, s"${s.cls}=${slots.indexWhere(_.term == s.term)}")
    }
    sb.append(text.substring(at))
    Shape(sb.toString, marks)
  }

  private val EntityIri =
    (java.util.regex.Pattern.quote(DirectMapper.Base) +
      "/([A-Za-z0-9_]+)/([+-]?[0-9]+(?:/[+-]?[0-9]+)*)").r
  private val GrammarNumeric = Set(Rdf.XsdInteger, Rdf.XsdDecimal, Rdf.XsdDouble)

  /** The class of a constant in a slot position, if it is a slot: an
    * entity IRI, a numeric literal written as a number (`numeric`), or a
    * plain or language-tagged string.
    */
  def slotClass(t: RdfTerm, numeric: Boolean): Option[String] =
    if (t.isIri) t.value match {
      case EntityIri(table, key) => Some(s"<$table/${key.count(_ == '/') + 1}>")
      case _ => None
    }
    else if (!t.isLiteral) None
    else if (numeric) t.dtype.filter(GrammarNumeric).map(d => s"^^$d")
    else (t.dtype, t.lang) match {
      case (None, None) => Some("\"\"")
      case (None, Some(l)) => Some(s"@$l")
      case _ => None
    }

  /** Distinct sentinel constants of the slots' classes; slots holding
    * equal constants share one. Every sentinel carries its own 10-digit
    * numbers of the form 9xxxxxxxxx ([[Mark]]), which nothing else in a
    * plan is expected to hold.
    */
  private def sentinels(slots: Seq[RdfTerm]): Seq[RdfTerm] =
    slots.map { t =>
      val u = 9000000000L + 1000L * slots.indexOf(t)
      if (t.isIri) t.value match {
        case EntityIri(table, key) =>
          RdfTerm.iri(s"${DirectMapper.Base}/$table/" +
            (0 to key.count(_ == '/')).map(u + _).mkString("/"))
      }
      else t.dtype match {
        case Some(Rdf.XsdInteger) => RdfTerm.typed(u.toString, Rdf.XsdInteger)
        case Some(Rdf.XsdDecimal) => RdfTerm.typed(s"$u.5", Rdf.XsdDecimal)
        case Some(d) => RdfTerm.typed(s"$u.5E0", d)
        // spaces and upper case: a trimmed, split or lower-cased copy
        // differs from the sentinel, and so shows as derived
        case None => t.copy(value = s" Graft Slot $u ")
      }
    }

  /** `plan` with the slot values `from` replaced by `to`, field for field:
    * the lexical form as a string literal, the numeric shadow as a double.
    */
  private def substitute(plan: LogicalPlan, from: Seq[RdfTerm],
      to: Seq[RdfTerm]): LogicalPlan = {
    if (from == to) return plan
    val strs = from.zip(to).map { case (f, t) =>
      UTF8String.fromString(f.value) -> UTF8String.fromString(t.value)
    }.toMap
    val nums = from.zip(to).collect { case (f, t) if f.num.isDefined =>
      f.num.get -> t.num.map(Double.box).orNull
    }.toMap
    plan.transformAllExpressionsWithSubqueries {
      case Literal(s: UTF8String, dt: StringType) if strs.contains(s) =>
        Literal(strs(s), dt)
      case Literal(d: Double, DoubleType) if nums.contains(d) =>
        Literal.create(nums(d), DoubleType)
    }
  }

  private val Mark = "9[0-9]{9}".r

  /** Does `plan` hold the sentinels only verbatim, so that substitution
    * reaches every use? Each slot's sentinel must appear as a literal,
    * through its lexical form or its numeric shadow (a numeric object of a
    * star pattern, for one, compares the raw column with the shadow only).
    * And no other literal may carry a sentinel's number: a value the
    * compile derived from a constant (a parsed key, a trimmed, split or
    * lower-cased string) would keep the sentinel's.
    */
  private def verbatim(plan: LogicalPlan, sentinels: Seq[RdfTerm]): Boolean = {
    val lits: Set[Any] = plan.collectWithSubqueries { case n =>
      n.expressions.flatMap(_.collect { case Literal(v, _) if v != null => v })
    }.flatten.toSet
    val exact: Set[Any] = sentinels.flatMap(t =>
      UTF8String.fromString(t.value) +: t.num.map(Double.box).toSeq).toSet
    val marks = sentinels.flatMap(t => Mark.findAllIn(t.value)).distinct
    def derived(v: Any): Boolean = !exact(v) && (v match {
      case d: java.lang.Double => marks.exists(_.toDouble == d)
      case other => marks.exists(other.toString.contains)
    })
    !lits.exists(derived) && sentinels.forall(t =>
      lits(UTF8String.fromString(t.value)) || t.num.exists(d => lits(Double.box(d))))
  }

  /** Test seam: sees every query answered from a cached plan. */
  @volatile private[graft] var onCachedAnswer: (Compiler, Prepared, Sol) => Unit =
    (_, _, _) => ()

  private val hits = new AtomicLong
  private val misses = new AtomicLong
  private val direct = new AtomicLong
  private val jobOps = new AtomicLong
  private val nondeterministic = new AtomicLong
  private val sentinelFailed = new AtomicLong

  /** JVM-wide counters. Queries: `hits` (answered from a cached plan),
    * `misses` (shape not cached yet), `direct` (shape known uncacheable).
    * Shapes found uncacheable, by reason: `uncacheable.*`.
    */
  def counters: Seq[(String, Long)] = Seq(
    "hits" -> hits.get, "misses" -> misses.get, "direct" -> direct.get,
    "uncacheable.job_op" -> jobOps.get,
    "uncacheable.nondeterministic" -> nondeterministic.get,
    "uncacheable.sentinel_check" -> sentinelFailed.get)
}
