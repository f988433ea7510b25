package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Custom Catalyst rule: invert the direct-mapping IRI template so that a
  * comparison against a constant IRI runs on the raw key column.
  *
  * [[graft.sources.DirectMapper]] builds entity IRIs as
  * `concat(P, cast(k as string))` (FK objects) and subjects as
  * `concat(P, concat_ws('/', cast(k1 as string), …))`. A bound IRI in a
  * query therefore compares a string built for EVERY row against one
  * constant, which the Parquet source cannot push (no bare attribute). The
  * template is injective on integral keys — `cast(k as string)` is the
  * canonical decimal form — so the comparison rewrites exactly onto the key:
  *
  *  - `concat(P, cast(k as string)) = 'P<v>'`  →  `k = v`
  *  - `concat(P, concat_ws('/', cast(k1), …, cast(kn))) = 'P<v1>/…/<vn>'`
  *    →  `k1 <=> v1 AND … AND kn <=> vn` (`concat_ws` skips nulls and is
  *    never null, so the left side is never null and a null key makes it
  *    false: null-safe equality agrees on every row)
  *  - `cast(k as string) = '<v>'`  →  `k = v`
  *  - `isnotnull(concat(P, cast(k as string)))`  →  `isnotnull(k)`
  *
  * Guards: the rewrite fires only when the key is an integral column and
  * each `<v>` is the canonical text of a value in the column type's range
  * (no sign, no leading zero, `-0` rejected, `/`-part count equal to the
  * key count). Any other text — `007`, `+7`, an out-of-range number, an
  * IRI of another table — cannot equal any row's IRI, and the string
  * comparison is left exactly as it was. Registered on
  * `spark.experimental.extraOptimizations` by [[OptimizerRules.setup]].
  */
object SargableIris extends Rule[LogicalPlan] {

  /** The default (UTF8_BINARY) string type: equality is byte equality. */
  private def binaryString(dt: DataType): Boolean = dt == StringType

  /** The integral column under `cast(k as string)`. */
  private def keyOf(e: Expression): Option[Expression] = e match {
    case Cast(k, to, _, _) if binaryString(to) => k.dataType match {
      case ByteType | ShortType | IntegerType | LongType => Some(k)
      case _ => None
    }
    case _ => None
  }

  /** `text` as a literal of the key's type, when it is the key's canonical
    * decimal form (so `cast(k as string) = text` iff `k = value`).
    */
  private def keyLit(text: String, k: Expression): Option[Literal] =
    scala.util.Try(java.lang.Long.parseLong(text)).toOption
      .filter(_.toString == text)
      .flatMap { v =>
        val (lo, hi) = k.dataType match {
          case ByteType => (Byte.MinValue.toLong, Byte.MaxValue.toLong)
          case ShortType => (Short.MinValue.toLong, Short.MaxValue.toLong)
          case IntegerType => (Int.MinValue.toLong, Int.MaxValue.toLong)
          case _ => (Long.MinValue, Long.MaxValue)
        }
        if (v < lo || v > hi) None
        else Some(Literal.create(k.dataType match {
          case ByteType => v.toByte
          case ShortType => v.toShort
          case IntegerType => v.toInt
          case _ => v
        }, k.dataType))
      }

  /** `P` and the key columns of an IRI template expression. */
  private object Template {
    def unapply(e: Expression): Option[(String, Seq[Expression], Boolean)] = e match {
      case Concat(Seq(Literal(p: UTF8String, pt), rest)) if binaryString(pt) =>
        rest match {
          case ConcatWs(Literal(sep: UTF8String, st) +: parts)
              if binaryString(st) && sep.toString == "/" && parts.nonEmpty =>
            val ks = parts.map(keyOf)
            if (ks.forall(_.isDefined)) Some((p.toString, ks.flatten, true))
            else None
          case c => keyOf(c).map(k => (p.toString, Seq(k), false))
        }
      case _ => None
    }
  }

  private def rewriteEq(e: Expression, text: UTF8String): Option[Expression] = {
    val s = text.toString
    e match {
      case Template(p, ks, multi) if s.startsWith(p) =>
        val parts = s.substring(p.length).split("/", -1).toSeq
        if (parts.size != ks.size) None
        else {
          val lits = ks.zip(parts).map { case (k, v) => keyLit(v, k) }
          if (!lits.forall(_.isDefined)) None
          else if (multi)
            Some(ks.zip(lits.flatten).map { case (k, l) =>
              EqualNullSafe(k, l): Expression }.reduce(And(_, _)))
          else Some(EqualTo(ks.head, lits.head.get))
        }
      case _ => keyOf(e).flatMap(k => keyLit(s, k).map(EqualTo(k, _)))
    }
  }

  def apply(plan: LogicalPlan): LogicalPlan = plan transformAllExpressions {
    case c @ EqualTo(a, Literal(v: UTF8String, t)) if binaryString(t) =>
      rewriteEq(a, v).getOrElse(c)
    case c @ EqualTo(Literal(v: UTF8String, t), a) if binaryString(t) =>
      rewriteEq(a, v).getOrElse(c)
    case IsNotNull(Template(_, Seq(k), false)) => IsNotNull(k)
  }
}
