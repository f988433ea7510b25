package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ByteType, DoubleType, FloatType, StringType}
import graft.model.Rdf

/** SPARQL 1.1 builtin function library (SURVEY §2.8) over term structs.
  *
  * Every function takes and returns term-struct `Column`s
  * `(kind,value,dtype,lang,num)` so the algebra stays closed; FILTER position
  * applies [[ebv]] (effective boolean value). Implementations are
  * `functions._` Column combinators — codegen'd, no UDFs — except the exact
  * ring-geometry predicates, which evaluate through the [[RingRelate]]
  * native Catalyst expression (one node per predicate; the Column-combinator
  * versions expanded to tens of thousands of nodes and dominated planning).
  *
  * SPARQL "error" results map to NULL (Spark filters drop NULL conditions,
  * matching SPARQL's error→false in FILTER position — §2.8 "Logical" row).
  */
object SparqlFunctions {

  private val nullS = lit(null).cast(StringType)
  private val nullD = lit(null).cast(DoubleType)

  def term(kind: Column, value: Column, dtype: Column, lang: Column, num: Column): Column =
    when(value.isNull, graft.algebra.E.nullTerm).otherwise(
      struct(kind.cast(ByteType).as("kind"), value.as("value"),
        dtype.cast(StringType).as("dtype"), lang.cast(StringType).as("lang"),
        num.cast(DoubleType).as("num")))

  def strT(v: Column, lang: Column = nullS, dtype: Column = nullS): Column =
    term(lit(Rdf.KindLiteral), v, dtype, lang, nullD)
  def numT(v: Column): Column =
    term(lit(Rdf.KindLiteral), v.cast(StringType), lit(Rdf.XsdDouble), nullS, v.cast(DoubleType))
  def intT(v: Column): Column =
    term(lit(Rdf.KindLiteral), v.cast("long").cast(StringType), lit(Rdf.XsdInteger),
      nullS, v.cast(DoubleType))
  def boolT(c: Column): Column =
    term(lit(Rdf.KindLiteral), when(c, "true").otherwise("false"),
      lit(Rdf.XsdBoolean), nullS, nullD)
  def iriT(v: Column): Column = term(lit(Rdf.KindIri), v, nullS, nullS, nullD)

  private def v(t: Column) = t.getField("value")
  private def n(t: Column) = t.getField("num")
  private def lg(t: Column) = t.getField("lang")
  private def dt(t: Column) = t.getField("dtype")
  private def kind(t: Column) = t.getField("kind")

  /** Effective boolean value (SPARQL 17.2.2): boolean→value, numeric→≠0,
    * string→non-empty; anything else is an error (NULL).
    */
  def ebv(t: Column): Column =
    when(t.isNull, lit(null).cast("boolean"))
      .when(dt(t) === Rdf.XsdBoolean, v(t) === "true")
      .when(n(t).isNotNull, n(t) =!= 0.0 && !isnan(n(t)))
      .when(kind(t) === Rdf.KindLiteral && dt(t).isNull, length(v(t)) > 0)
      .otherwise(lit(null).cast("boolean"))

  // ---- term accessors / constructors ----
  /** Accessor argument typing (17.4.2, tranche 11): STR is defined for
    * IRIs and literals (a BLANK node is a type error); LANG and DATATYPE
    * only for literals (an IRI/bnode is a type error, not ""/xsd:anyURI).
    */
  def str1(t: Column): Column =
    when(kind(t) === Rdf.KindIri || kind(t) === Rdf.KindLiteral, strT(v(t)))
      .otherwise(graft.algebra.E.nullTerm)
  def lang1(t: Column): Column =
    when(kind(t) === Rdf.KindLiteral, strT(coalesce(lg(t), lit(""))))
      .otherwise(graft.algebra.E.nullTerm)
  def datatype1(t: Column): Column =
    when(kind(t) === Rdf.KindLiteral,
      iriT(coalesce(dt(t), when(lg(t).isNotNull,
        lit("http://www.w3.org/1999/02/22-rdf-syntax-ns#langString"))
        .otherwise(lit(Rdf.XsdString)))))
      .otherwise(graft.algebra.E.nullTerm)
  /** `IRI(arg)` (17.4.2.6): identity on an IRI term; a SIMPLE or xsd:string
    * literal promotes to an IRI. A language-tagged or otherwise-typed
    * literal (or bnode) is a type error — not a coerced lexical form
    * (tranche 13).
    */
  private def isPlainStr(t: Column): Column =
    kind(t) === Rdf.KindLiteral && lg(t).isNull &&
      (dt(t).isNull || dt(t) === Rdf.XsdString)
  def iri1(t: Column): Column =
    when(kind(t) === Rdf.KindIri, t)
      .when(isPlainStr(t), iriT(v(t)))
      .otherwise(graft.algebra.E.nullTerm)
  /** `IRI(str)` with the query's BASE: a relative lexical form resolves per
    * RFC 3986 (17.4.2.6); absolute IRIs and IRI terms pass through.
    */
  def iri1(t: Column, base: String): Column =
    if (base.isEmpty) iri1(t)
    else when(kind(t) === Rdf.KindIri, t)
      .when(isPlainStr(t), iriT(IriResolve(base, v(t))))
      .otherwise(graft.algebra.E.nullTerm)
  /** STRDT/STRLANG (17.4.2.7-8) require a SIMPLE literal first argument —
    * typed or language-tagged input is a type error (unbound), caught by
    * conformance tranche 11.
    */
  private def isSimpleLit(t: Column): Column =
    kind(t) === Rdf.KindLiteral && dt(t).isNull && lg(t).isNull
  /** Shadow of a lexical under a datatype IRI — the Column-side mirror of
    * [[graft.model.RdfTerm.typed]]'s conventions, one branch per shadowed
    * family (r18: STRDT-built terms used to get numeric shadows only, and
    * UNGUARDED — `STRDT("abc", xsd:integer)` was an ANSI cast crash).
    * Invalid lexicals yield null = an ill-typed literal that type-errors
    * in comparisons, exactly like the same literal loaded from data.
    */
  private def lexShadow(lex: Column, dIri: Column): Column = {
    val numLexOk =
      lex.rlike("^[+-]?([0-9]+\\.?[0-9]*|\\.[0-9]+)([eE][+-]?[0-9]+)?$")
    val special = when(lex === "INF" || lex === "+INF", Double.PositiveInfinity)
      .when(lex === "-INF", Double.NegativeInfinity)
      .when(lex === "NaN", Double.NaN)
    when(dIri.isin(Rdf.XsdInteger, Rdf.XsdDecimal, Rdf.XsdDouble),
      when(numLexOk, lex.cast(DoubleType))
        .otherwise(when(dIri === Rdf.XsdDouble, special)))
      .when(dIri === Rdf.XsdFloat,
        coalesce(when(numLexOk,
          lex.cast(FloatType).cast(DoubleType)), special))
      .when(dIri === Rdf.XsdDateTime,
        when(lex.rlike(DateTimeLex),
          unix_micros(try_to_timestamp(lex)).cast(DoubleType)))
      .when(dIri === XsdDate,
        when(lex.rlike("^\\d{4,}-\\d{2}-\\d{2}(Z|[+-]\\d{2}:\\d{2})?$"),
          unix_micros(try_to_timestamp(concat(
            regexp_replace(lex, "(Z|[+-]\\d{2}:\\d{2})$", ""),
            lit("T00:00:00"),
            regexp_extract(lex, "(Z|[+-]\\d{2}:\\d{2})$", 1))))
            .cast(DoubleType)))
      .when(dIri === Rdf.XsdTime,
        when(lex.rlike(TimeLexStrict), timeShadowOf(lex)))
      .when(dIri === Rdf.XsdDayTimeDuration,
        when(durLexOk(lex), durMicrosOf(lex)))
      .when(dIri === Rdf.XsdYearMonthDuration,
        when(ymLexOk(lex), ymMonthsOf(lex)))
      .otherwise(nullD)
  }

  def strdt(t: Column, d: Column): Column =
    when(isSimpleLit(t),
      term(lit(Rdf.KindLiteral), v(t), v(d), nullS,
        lexShadow(trim(v(t)), v(d))))
      .otherwise(graft.algebra.E.nullTerm)
  def strlang(t: Column, l: Column): Column =
    when(isSimpleLit(t), strT(v(t), lower(v(l))))
      .otherwise(graft.algebra.E.nullTerm)
  def uuidT(): Column = iriT(concat(lit("urn:uuid:"), expr("uuid()")))
  def struuid(): Column = strT(expr("uuid()"))
  /** BNODE(): a fresh blank node per solution row (17.4.2.9). */
  def bnode0(): Column = term(lit(Rdf.KindBlank),
    concat(lit("_:b"), regexp_replace(expr("uuid()"), "-", "")), nullS, nullS, nullD)
  /** BNODE(str): same simple-literal argument → same bnode WITHIN the query
    * (17.4.2.9 "the same blank node for calls with identical arguments"),
    * distinct from any parsed `_:label` — label derived by hashing.
    */
  def bnode1(t: Column): Column = term(lit(Rdf.KindBlank),
    concat(lit("_:f"), md5(v(t))), nullS, nullS, nullD)
  def isIri(t: Column): Column = boolT(kind(t) === Rdf.KindIri)
  def isBlank(t: Column): Column = boolT(kind(t) === Rdf.KindBlank)
  def isLiteral(t: Column): Column = boolT(kind(t) === Rdf.KindLiteral)
  /** isNumeric (17.4.2.4): a valid NUMERIC literal — the num shadow also
    * carries dateTime/date epochs (r11), so gate on the datatype.
    */
  def isNumeric(t: Column): Column = boolT(n(t).isNotNull &&
    (dt(t).isNull || dt(t).isin(Rdf.XsdInteger, Rdf.XsdDecimal,
      Rdf.XsdDouble, "http://www.w3.org/2001/XMLSchema#float")))
  def bound(t: Column): Column = boolT(t.isNotNull)
  def sameTerm(a: Column, b: Column): Column = boolT(a === b)

  // ---- strings (lang-preserving where the spec says) ----
  /** String-literal argument typing (17.4.3 "string literal" = simple,
    * xsd:string, or language-tagged; tranche 11): an IRI, bnode, or
    * non-string typed literal argument is a TYPE ERROR (unbound), not a
    * coerced lexical form.
    */
  private def isStringLit(t: Column): Column =
    kind(t) === Rdf.KindLiteral &&
      (dt(t).isNull || dt(t) === Rdf.XsdString || lg(t).isNotNull)
  private def requireStr(ts: Column*)(body: => Column): Column =
    when(ts.map(isStringLit).reduce(_ && _), body)
      .otherwise(graft.algebra.E.nullTerm)
  def strlen(t: Column): Column = requireStr(t)(intT(length(v(t))))
  /** SUBSTR = fn:substring (17.4.3.3): the result is the characters at
    * 1-based positions p with round(start) <= p < round(start)+round(len) —
    * start 0/negative CLIPS the window at the head (it does not count from
    * the end as Spark's substr does), and fn:round is half-toward-+inf.
    */
  def substr(t: Column, start: Column, len: Option[Column]): Column = {
    val lo = floor(n(start) + 0.5).cast("long")
    val from = greatest(lo, lit(1L))
    val s = len match {
      case Some(l) =>
        val hi = lo + floor(n(l) + 0.5).cast("long") // exclusive end
        v(t).substr(from.cast("int"), greatest(hi - from, lit(0L)).cast("int"))
      case None => v(t).substr(from.cast("int"), lit(Int.MaxValue))
    }
    requireStr(t)(strT(s, lg(t), dt(t)))
  }
  def ucase(t: Column): Column = requireStr(t)(strT(upper(v(t)), lg(t), dt(t)))
  def lcase(t: Column): Column = requireStr(t)(strT(lower(v(t)), lg(t), dt(t)))
  /** Argument compatibility (17.4.3.1.2): the second argument must be a
    * simple/xsd:string literal OR carry the SAME language tag as the first;
    * otherwise the function is an ERROR (null term), not false.
    */
  private def argCompatible(a: Column, b: Column): Column =
    isStringLit(a) && isStringLit(b) &&
      (lg(b).isNull || (lg(a).isNotNull && lg(a) === lg(b)))
  def strstarts(a: Column, b: Column): Column =
    when(argCompatible(a, b), boolT(v(a).startsWith(v(b))))
      .otherwise(graft.algebra.E.nullTerm)
  def strends(a: Column, b: Column): Column =
    when(argCompatible(a, b), boolT(v(a).endsWith(v(b))))
      .otherwise(graft.algebra.E.nullTerm)
  def containsF(a: Column, b: Column): Column =
    when(argCompatible(a, b), boolT(v(a).contains(v(b))))
      .otherwise(graft.algebra.E.nullTerm)
  // On a match the result keeps arg1's lang/datatype; NO match yields an
  // empty SIMPLE literal (17.4.3.12/.13 — not ""@lang).
  def strbefore(a: Column, b: Column): Column =
    when(argCompatible(a, b),
      when(v(a).contains(v(b)),
        strT(expr_substr_before(v(a), v(b)), lg(a), dt(a)))
        .otherwise(strT(lit(""))))
      .otherwise(graft.algebra.E.nullTerm)
  def strafter(a: Column, b: Column): Column =
    when(argCompatible(a, b),
      when(v(a).contains(v(b)),
        strT(expr_substr_after(v(a), v(b)), lg(a), dt(a)))
        .otherwise(strT(lit(""))))
      .otherwise(graft.algebra.E.nullTerm)
  private def expr_substr_before(s: Column, sep: Column): Column =
    substring(s, lit(1), instr_col(s, sep) - 1)
  private def expr_substr_after(s: Column, sep: Column): Column =
    substring(s, instr_col(s, sep) + length(sep), length(s))
  private def instr_col(s: Column, sub: Column): Column = locate_col(sub, s)
  private def locate_col(sub: Column, s: Column): Column =
    call_function("locate", sub, s)
  private def substring(s: Column, pos: Column, len: Column): Column =
    s.substr(pos, len)
  /** CONCAT (17.4.3.12): the result carries a language tag only when EVERY
    * argument carries that same tag; any mix yields a simple literal.
    */
  def concatF(ts: Seq[Column]): Column =
    if (ts.isEmpty) strT(lit("")) // CONCAT() is the empty simple literal
    else requireStr(ts: _*) {
      val langOut = ts.map(lg).reduceLeft((a, b) =>
        when(a.isNotNull && b.isNotNull && a === b, a))
      strT(concat(ts.map(v): _*), langOut)
    }
  /** ENCODE_FOR_URI = fn:encode-for-uri (RFC 3986): Spark's `url_encode` is
    * form-encoding, so correct its three divergences — space is %20 not '+',
    * '~' is unreserved, '*' is NOT ('+' in the input becomes %2B first, so
    * the replacements cannot collide with literal characters).
    */
  def encodeForUri(t: Column): Column =
    requireStr(t)(strT(regexp_replace(regexp_replace(regexp_replace(
      call_function("url_encode", v(t)),
      "\\+", "%20"), "%7E", "~"), "\\*", "%2A")))
  /** REGEX with optional flags — flag string folded into the pattern.
    * XPath flags s/m/i/x map to Java's inline `(?smix)`; `q` (literal
    * pattern, F.960) has no inline form, so it quotes the pattern with
    * `\Q…\E` (embedded `\E` split-escaped), with any remaining flags
    * prefixed outside the quote.
    */
  private def foldFlags(pat: Column, flags: Column): Column = {
    val rest = regexp_replace(v(flags), "q", "")
    val quoted = concat(lit("\\Q"),
      replace(v(pat), lit("\\E"), lit("\\E\\\\E\\Q")), lit("\\E"))
    val base = when(v(flags).contains("q"), quoted).otherwise(v(pat))
    when(length(rest) > 0, concat(lit("(?"), rest, lit(")"), base))
      .otherwise(base)
  }
  def regex2(t: Column, pat: Column): Column =
    requireStr(t)(boolT(call_function("regexp_like", v(t), v(pat))))
  def regex3(t: Column, pat: Column, flags: Column): Column =
    requireStr(t)(boolT(call_function("regexp_like", v(t),
      foldFlags(pat, flags))))
  def replaceF(t: Column, pat: Column, rep: Column): Column =
    requireStr(t)(strT(regexp_replace(v(t), v(pat), v(rep)), lg(t), dt(t)))
  /** REPLACE with flags — flags folded into the pattern like [[regex3]]. */
  def replace4(t: Column, pat: Column, rep: Column, flags: Column): Column =
    requireStr(t)(strT(regexp_replace(v(t),
      foldFlags(pat, flags), v(rep)), lg(t), dt(t)))
  def langMatches(tag: Column, range: Column): Column =
    boolT(when(v(range) === "*", length(v(tag)) > 0)
      .otherwise(lower(v(tag)) === lower(v(range)) ||
        lower(v(tag)).startsWith(concat(lower(v(range)), lit("-")))))

  // ---- numerics ----
  def absF(t: Column): Column = numT(abs(n(t)))
  /** SPARQL ROUND: round half UP (toward +inf) — differs from Spark HALF_UP
    * on negative halves; implemented as floor(x + 0.5).
    */
  def roundF(t: Column): Column = numT(floor(n(t) + 0.5))
  def ceilF(t: Column): Column = numT(ceil(n(t)).cast(DoubleType))
  def floorF(t: Column): Column = numT(floor(n(t)).cast(DoubleType))
  def randF(): Column = numT(rand())

  // ---- date/time (lexical form carries the value; num = epoch micros) ----
  private def ts(t: Column): Column = timestamp_micros(n(t).cast("long"))
  def nowF(): Column = {
    val c = current_timestamp()
    term(lit(Rdf.KindLiteral), date_format(c, "yyyy-MM-dd'T'HH:mm:ss.SSS"),
      lit(Rdf.XsdDateTime), nullS, unix_micros(c).cast(DoubleType))
  }
  /** 17.4.5 component accessors extract from the LEXICAL form (r18): the
    * XPath component functions return the value in its ORIGINAL timezone
    * ("…T09:00:00+02:00" has HOURS 9) while the num shadow is
    * UTC-normalized, so the previous shadow-based extraction answered the
    * shifted component for every offset-carrying literal (found while
    * making xsd:time first-class). The shadow still gates VALIDITY — n
    * null means invalid lexical → type error — and still drives
    * order/compare. Domains (17.4.5 extended per the 17.3 posture, as
    * GraphDB does): YEAR/MONTH/DAY over dateTime|date, HOURS/MINUTES/
    * SECONDS over dateTime|time, TZ/TIMEZONE over all three.
    */
  private def tempComp(t: Column, dts: Seq[String], pattern: String): Column =
    when(kind(t) === Rdf.KindLiteral && dt(t).isin(dts: _*) &&
      n(t).isNotNull, regexp_extract(trim(v(t)), pattern, 1))
  def yearF(t: Column): Column =
    intT(tempComp(t, Seq(Rdf.XsdDateTime, XsdDate), "^(-?\\d{4,})-"))
  def monthF(t: Column): Column =
    intT(tempComp(t, Seq(Rdf.XsdDateTime, XsdDate), "^-?\\d{4,}-(\\d{2})-"))
  def dayF(t: Column): Column =
    intT(tempComp(t, Seq(Rdf.XsdDateTime, XsdDate), "^-?\\d{4,}-\\d{2}-(\\d{2})"))
  /** `pmod 24` folds XSD's "24:00:00" (midnight-of-next-day lexical) to
    * the XPath answer 0; every other valid hour is unchanged.
    */
  def hoursF(t: Column): Column =
    intT(pmod(tempComp(t, Seq(Rdf.XsdDateTime, Rdf.XsdTime),
      "(?:^|T)(\\d{2}):").cast("int"), lit(24)))
  def minutesF(t: Column): Column =
    intT(tempComp(t, Seq(Rdf.XsdDateTime, Rdf.XsdTime),
      "(?:^|T)\\d{2}:(\\d{2}):"))
  /** SECONDS (17.4.5.6) returns xsd:decimal INCLUDING the fractional part. */
  def secondsF(t: Column): Column =
    numT(tempComp(t, Seq(Rdf.XsdDateTime, Rdf.XsdTime),
      "(?:^|T)\\d{2}:\\d{2}:(\\d{2}(?:\\.\\d+)?)").cast(DoubleType))
  /** TZ (17.4.5.9): the timezone designator from the literal's LEXICAL form
    * — `"Z"`, `"+05:30"`, `"-08:00"`, or `""` when absent. The `num` shadow
    * is UTC-normalized, but the lexical form in `value` keeps the original
    * offset, so it is regexed out rather than recomputed.
    */
  def tzF(t: Column): Column =
    // dtype guard: TZ on a non-temporal term is a type error (null), not a
    // regex over an arbitrary lexical form (r18: + date and time).
    when(dt(t).isin(Rdf.XsdDateTime, XsdDate, Rdf.XsdTime),
      strT(regexp_extract(v(t), "(Z|[+-]\\d{2}:\\d{2})$", 1)))
      .otherwise(graft.algebra.E.nullTerm)

  /** TIMEZONE (17.4.5.8): the offset as xsd:dayTimeDuration (`PT0S` for Z
    * and ±00:00, `-PT8H` for -08:00, `PT5H30M` for +05:30); type error
    * (null) on non-dateTime terms or when the lexical form carries no
    * timezone.
    */
  def timezoneF(t: Column): Column = {
    val z = regexp_extract(v(t), "(Z|[+-]\\d{2}:\\d{2})$", 1)
    val sign = when(z.startsWith("-"), lit("-")).otherwise(lit(""))
    val hh = regexp_extract(z, "(\\d{2}):(\\d{2})$", 1).cast("int")
    val mm = regexp_extract(z, "(\\d{2}):(\\d{2})$", 2).cast("int")
    // canonical zero: Z, +00:00 and -00:00 all mean PT0S
    val dur = when(z === "Z" || (hh === 0 && mm === 0), lit("PT0S")).otherwise(
      concat(sign, lit("PT"),
        when(hh > 0, concat(hh.cast("string"), lit("H"))).otherwise(lit("")),
        when(mm > 0, concat(mm.cast("string"), lit("M"))).otherwise(lit(""))))
    // null-safe dtype test: a null dtype (plain string) must also error
    // (isin is null on a null dtype; coalesce renders that false)
    val okDt = coalesce(
      dt(t).isin(Rdf.XsdDateTime, XsdDate, Rdf.XsdTime), lit(false))
    when(!okDt || z === "", graft.algebra.E.nullTerm)
      .otherwise(term(lit(Rdf.KindLiteral), dur,
        lit(Rdf.XsdDayTimeDuration), nullS,
        // r18: durations are first-class — the offset-micros shadow makes
        // TIMEZONE results comparable/arithmetic like any duration
        tzOffMicros(z).cast(DoubleType)))
  }

  // ---- hashes ----
  /** Hash functions (17.4.4) take a SIMPLE literal or xsd:string — a
    * lang-tagged literal (unlike the string functions above) is a type
    * error, as is any non-literal.
    */
  private def requireSimple(t: Column)(body: => Column): Column =
    when(kind(t) === Rdf.KindLiteral && lg(t).isNull &&
      (dt(t).isNull || dt(t) === Rdf.XsdString), body)
      .otherwise(graft.algebra.E.nullTerm)
  def md5F(t: Column): Column = requireSimple(t)(strT(md5(v(t))))
  def sha1F(t: Column): Column = requireSimple(t)(strT(sha1(v(t))))
  def sha256F(t: Column): Column = requireSimple(t)(strT(sha2(v(t), 256)))
  def sha384F(t: Column): Column = requireSimple(t)(strT(sha2(v(t), 384)))
  def sha512F(t: Column): Column = requireSimple(t)(strT(sha2(v(t), 512)))

  // ---- functional forms ----
  /** IF (17.4.1.2): an ERROR in the condition's EBV is an error (unbound),
    * not the else branch — `when` chains propagate the NULL.
    */
  def ifF(c: Column, t: Column, f: Column): Column =
    when(ebv(c), t).when(!ebv(c), f)
  def coalesceF(ts: Seq[Column]): Column =
    // COALESCE() with no arguments is an ERROR (17.4.1.3), not a crash
    if (ts.isEmpty) graft.algebra.E.nullTerm else coalesce(ts: _*)

  // ---- comparison / arithmetic with numeric promotion ----
  // Boolean-valued forms come in pairs: `xxB` yields a PLAIN boolean Column
  // (cheap to nest — the parser chains these), `xx` wraps it as a term.
  // Nesting term-wrapped booleans through ebv() duplicates subtrees ~10× per
  // level and goes exponential on `a && b && c && d` chains (observed as an
  // analyzer OOM) — never build boolean chains out of the term forms.

  /** `=` per the 17.3 operator table + RDFterm-equal (17.4.1.7, tranche
    * 36 — probe-found): the table's VALUE comparisons apply within one
    * type family (numerics by the num shadow, dateTime/date by the epoch
    * shadow, untagged strings by codepoints, booleans by normalized
    * value); outside the table, identical terms are TRUE, a non-literal
    * on either side makes distinct terms FALSE, and two DISTINCT
    * literals are a TYPE ERROR (null) — open-world: `"x" = 1` or two
    * different unknown-datatype literals might still denote the same
    * value, so claiming false would be unsound. A bare literal and an
    * explicit `^^xsd:string` are the same term (RDF 1.1).
    */
  private def dtNorm(t: Column): Column = coalesce(dt(t), lit(Rdf.XsdString))
  private val XsdDate = "http://www.w3.org/2001/XMLSchema#date"

  /** Shadow FAMILY of a term's normalized datatype (r18): 0 = numeric/
    * other, 1–4 = dateTime/date/time/dayTimeDuration. Each family's num
    * shadow is internally comparable but NOT against any other family's
    * (17.3 has no cross-family entry), so cmp/eqB compare shadows only
    * within one family — this generalizes the r17 mixed-date/dateTime
    * guard and the r18 temporal-vs-numeric guard to one rule.
    */
  private def isTmp(t: Column): Column = dtNorm(t).isin(
    Rdf.XsdDateTime, XsdDate, Rdf.XsdTime, Rdf.XsdDayTimeDuration,
    Rdf.XsdYearMonthDuration)
  def eqB(a: Column, b: Column): Column = {
    val aDt = dtNorm(a)
    val bDt = dtNorm(b)
    val aTmp = isTmp(a)
    val bTmp = isTmp(b)
    val bothNum = n(a).isNotNull && n(b).isNotNull && !aTmp && !bTmp
    // The 17.3 operator table compares each temporal/duration family only
    // WITH ITSELF; a mixed pair has no table entry, so it falls through
    // to the open-world distinct-literal type error — never a shadow
    // comparison (the family map is a bijection on its domain, so equal
    // datatypes ⟺ the same family).
    val bothTmp = n(a).isNotNull && n(b).isNotNull && aTmp && bTmp &&
      aDt === bDt
    val bothLit = kind(a) === Rdf.KindLiteral && kind(b) === Rdf.KindLiteral
    val bothStr = bothLit && lg(a).isNull && lg(b).isNull &&
      aDt === Rdf.XsdString && bDt === Rdf.XsdString
    // op:boolean-equal applies only to VALID xsd:boolean lexical forms;
    // "yes"^^xsd:boolean has no boolean value, so comparisons against it are
    // type errors (unless same-term), never a false-bucket coercion.
    val boolLex = Seq("true", "false", "1", "0")
    val bothBool = bothLit && aDt === Rdf.XsdBoolean &&
      bDt === Rdf.XsdBoolean && v(a).isin(boolLex: _*) && v(b).isin(boolLex: _*)
    val sameTerm = kind(a) === kind(b) && v(a) === v(b) &&
      lg(a) <=> lg(b) && aDt === bDt
    // op:numeric-equal(NaN, NaN) is FALSE (XPath; 17.3 dispatches a
    // float/double pair there BEFORE the same-term shortcut), while Spark
    // calls two NaN shadows equal — this also makes `!=` answer true (r18).
    // Every float/double NaN carries a NaN shadow (RdfTerm.typed,
    // castDouble), so the shadow test is the whole NaN guard.
    when(bothNum || bothTmp, n(a) === n(b) && !isnan(n(a)))
      .when(bothStr, v(a) === v(b))
      .when(bothBool, v(a).isin("true", "1") === v(b).isin("true", "1"))
      .when(sameTerm, lit(true))
      .when(!bothLit, lit(false))
      .otherwise(lit(null).cast("boolean")) // RDFterm-equal type error
  }
  def neqB(a: Column, b: Column): Column = !eqB(a, b)
  def ltB(a: Column, b: Column): Column = cmp(a, b)(_ < _)
  def leqB(a: Column, b: Column): Column = cmp(a, b)(_ <= _)
  def gtB(a: Column, b: Column): Column = cmp(a, b)(_ > _)
  def geqB(a: Column, b: Column): Column = cmp(a, b)(_ >= _)
  def inB(a: Column, xs: Seq[Column]): Column =
    xs.map(x => eqB(a, x)).reduce(_ || _)
  /** STRICT boolean wrap for the comparison/logical term forms: a NULL
    * (17.3 type error) stays an ERROR term — bound "false" and error are
    * different solutions under BIND/IF (tranche 11). The EBV-shaped
    * predicate families (geo, string tests) keep [[boolT]]'s documented
    * error→false rendering.
    */
  def boolTS(c: Column): Column =
    when(c.isNull, graft.algebra.E.nullTerm).otherwise(boolT(c))
  def eq(a: Column, b: Column): Column = boolTS(eqB(a, b))
  def neq(a: Column, b: Column): Column = boolTS(neqB(a, b))
  def lt(a: Column, b: Column): Column = boolTS(ltB(a, b))
  def leq(a: Column, b: Column): Column = boolTS(leqB(a, b))
  def gt(a: Column, b: Column): Column = boolTS(gtB(a, b))
  def geq(a: Column, b: Column): Column = boolTS(geqB(a, b))
  private def cmp(a: Column, b: Column)(f: (Column, Column) => Column): Column = {
    val aTmp = isTmp(a)
    val bTmp = isTmp(b)
    // ONE family rule (r18, subsuming the r17 mixed-date/dateTime guard
    // and the temporal-vs-numeric guard): a shadow comparison is defined
    // only WITHIN one temporal/duration family or between two plain
    // numerics — every mixed pair involving a family member type-errors,
    // exactly like `=`. isTmp is null-free (dtNorm coalesces), so the
    // guard never mis-skips on IRI/bnode sides; equal datatypes ⟺ the
    // same family (the map is a bijection on its domain).
    // op:numeric-less-than etc. answer FALSE on any NaN operand (XPath);
    // Spark orders a NaN shadow above every number, so the shadow branch
    // excludes it
    when(aTmp && bTmp && dtNorm(a) =!= dtNorm(b), lit(null).cast("boolean"))
      .when(aTmp =!= bTmp, lit(null).cast("boolean"))
      .when(n(a).isNotNull && n(b).isNotNull,
        f(n(a), n(b)) && !isnan(n(a)) && !isnan(n(b)))
      // numeric vs non-numeric is a TYPE ERROR (17.3: `<`/`>` are defined
      // only within compatible operand types) → null, which EBV reads as
      // false in FILTER/HAVING. The lexical fallback applies only to
      // LITERAL pairs with NO language tag and the SAME (normalized)
      // datatype — simple/xsd:string codepoint order, boolean false<true.
      // Language-tagged literals, IRIs, bnodes, and cross-datatype pairs
      // are not in the operator table → error (tranche 12). SAME-datatype
      // temporals never reach the lexical branch: their epoch shadow hits
      // the numeric branch.
      .when(n(a).isNotNull || n(b).isNotNull, lit(null).cast("boolean"))
      .when(kind(a) === Rdf.KindLiteral && kind(b) === Rdf.KindLiteral &&
        lg(a).isNull && lg(b).isNull && dtNorm(a) === dtNorm(b),
        f(v(a), v(b)))
      .otherwise(lit(null).cast("boolean"))
  }
  /** Arithmetic with SPARQL numeric PROMOTION (17.3 → op:numeric-*):
    * integer∘integer stays xsd:integer, decimal joins promote to decimal,
    * any double operand promotes to double; `/` promotes integer pairs to
    * DECIMAL (op:numeric-divide never truncates). A non-numeric-datatype
    * operand — incl. a dateTime, whose epoch shadow is not summable — is a
    * type error (unbound), not a coerced number (tranche 12).
    */
  private def arith2(a: Column, b: Column, minRank: Int = 0)(
      f: (Column, Column) => Column): Column = {
    import graft.algebra.E
    when(E.hasNumericDt(a) && E.hasNumericDt(b),
      E.typedNumTerm(f(n(a), n(b)),
        greatest(E.numRank(a), E.numRank(b), lit(minRank))))
      .otherwise(graft.algebra.E.nullTerm)
  }
  // ---- XPath TEMPORAL ARITHMETIC (r18 — the 17.3 extension posture
  // GraphDB/RDF4J follow: op:subtract-dateTimes → xsd:dayTimeDuration,
  // op:add/subtract-dayTimeDuration-to-dateTime/date/time,
  // op:multiply/divide-dayTimeDuration, op:divide-dayTimeDuration-by-
  // dayTimeDuration → xsd:decimal). Every value rides the family's num
  // shadow; result LEXICALS reconstruct in the operand's ORIGINAL
  // timezone. yearMonthDuration rides a MONTHS shadow (family 5): its
  // dateTime/date adds are calendar month-adds with XPath's day-of-month
  // clamping, and multiply/divide round to whole months (fn:round). ----

  private def tzOffMicros(z: Column): Column =
    when(z === "" || z === "Z", lit(0L)).otherwise(
      when(z.startsWith("-"), lit(-1L)).otherwise(lit(1L)) *
        (regexp_extract(z, "(\\d{2}):(\\d{2})$", 1).cast("long") * 3600000000L +
          regexp_extract(z, "(\\d{2}):(\\d{2})$", 2).cast("long") * 60000000L))

  /** The five shadow-family datatypes (17.3 extension posture). */
  private val TemporalDts = Seq(Rdf.XsdDateTime, XsdDate, Rdf.XsdTime,
    Rdf.XsdDayTimeDuration, Rdf.XsdYearMonthDuration)

  /** One node of XPath temporal arithmetic: the whole duration/calendar
    * machinery lives inside the native [[TemporalArith]] expression
    * (RingRelate-style — Column composition put hundreds of dead-branch
    * nodes into every arithmetic call site and Catalyst analysis scales
    * with tree size). The `isin` guard keeps numeric rows on the
    * codegen'd [[arith2]] fast path.
    */
  private def tempArith(op: String, a: Column, b: Column)(
      fallback: => Column): Column = {
    import org.apache.spark.sql.graft.ColumnBridge
    val anyTemporal =
      dt(a).isin(TemporalDts: _*) || dt(b).isin(TemporalDts: _*)
    when(anyTemporal, ColumnBridge.column(TemporalArith(op,
      ColumnBridge.expression(a), ColumnBridge.expression(b))))
      .otherwise(fallback)
  }

  def plus(a: Column, b: Column): Column =
    tempArith("plus", a, b)(arith2(a, b)(_ + _))
  def minus(a: Column, b: Column): Column =
    tempArith("minus", a, b)(arith2(a, b)(_ - _))
  def times(a: Column, b: Column): Column =
    tempArith("times", a, b)(arith2(a, b)(_ * _))
  def div(a: Column, b: Column): Column =
    tempArith("div", a, b)(
      arith2(a, b, minRank = 1)((x, y) => when(y =!= 0.0, x / y)))
  def negate(a: Column): Column = {
    import graft.algebra.E
    // duration negation = times −1 through the same native node
    when(dt(a).isin(Rdf.XsdDayTimeDuration, Rdf.XsdYearMonthDuration),
      times(a, E.termLit(graft.model.RdfTerm.int(-1))))
      .when(E.hasNumericDt(a), E.typedNumTerm(-n(a), E.numRank(a)))
      .otherwise(E.nullTerm)
  }
  def and(a: Column, b: Column): Column = boolTS(ebv(a) && ebv(b))
  def or(a: Column, b: Column): Column = boolTS(ebv(a) || ebv(b))
  def not(a: Column): Column = boolTS(!ebv(a))
  def in(a: Column, xs: Seq[Column]): Column =
    boolTS(xs.map(x => eqB(a, x)).reduce(_ || _))

  // ---- GeoSPARQL (the reference data carries geo:wktLiteral POINTs,
  // facilities.ttl:167-171; GraphDB ships the GeoSPARQL plugin) ----

  /** WKT body of a geometry literal with any leading `<crs-iri>` prefix
    * stripped — the GeoSPARQL wktLiteral lexical form optionally embeds the
    * CRS IRI before the WKT text (`"<http://…/CRS84> POINT (…)"`). Every
    * parser below reads the bare body so CRS-prefixed literals behave
    * exactly like bare ones; [[getSRID]] is the accessor for the prefix.
    */
  private def wktText(t: Column): Column =
    regexp_replace(trim(v(t)), "^<[^>]*>\\s*", "")

  /** Lon/lat of a `"POINT (x y)"` WKT literal (axis order per Simple
    * Features: x = longitude, y = latitude). Null for non-POINT input.
    */
  def wktLon(t: Column): Column = numT(regexp_extract(wktText(t),
    "POINT\\s*\\(\\s*(-?[0-9.]+)\\s+(-?[0-9.]+)\\s*\\)", 1).cast("double"))
  def wktLat(t: Column): Column = numT(regexp_extract(wktText(t),
    "POINT\\s*\\(\\s*(-?[0-9.]+)\\s+(-?[0-9.]+)\\s*\\)", 2).cast("double"))

  /** geof:distance → metres (haversine on the WGS84 mean radius). Two
    * POINTs take the codegen'd Column formula, written with a FIXED
    * association so both engines evaluate the identical expression tree;
    * oracle queries should round (libm vs JDK trig can differ in the
    * last ulp). NON-POINT pairs (r15 — the reference's JTS answers any
    * pair) take the [[GeoMinDistance]] kernel: 0 on overlap/containment,
    * else the min haversine over vertex/segment candidates.
    */
  def geoDistance(a: Column, b: Column): Column = {
    val R = 6371008.8 // WGS84 mean radius, metres
    def rad(c: Column): Column = c * lit(math.Pi / 180.0)
    val (lat1, lon1) = (rad(n(wktLat(a))), rad(n(wktLon(a))))
    val (lat2, lon2) = (rad(n(wktLat(b))), rad(n(wktLon(b))))
    val sdLat = sin((lat2 - lat1) / lit(2.0))
    val sdLon = sin((lon2 - lon1) / lit(2.0))
    val h = sdLat * sdLat + cos(lat1) * cos(lat2) * (sdLon * sdLon)
    numT(when(isPoint(a) && isPoint(b),
      lit(2.0 * R) * asin(sqrt(h)))
      .otherwise(GeoMinDistance(wktText(a), wktText(b))))
  }

  // ---- SPARQL-star builtins (S7 — GraphDB 10.x ships these with RDF-star,
  // reference `Dockerfile:2`) ----

  /** N-Triples canonical token of a term as a Column — the Column replica of
    * `NTriplesReader.termToken` (IRI `<v>`, bnode `_:l`, literal
    * `"esc"[@lang|^^<dt>]`), so [[tripleF]] reproduces the loader's quoted-
    * triple ids bit-for-bit.
    */
  private def termTokenC(t: Column): Column = {
    val esc = replace(replace(replace(replace(replace(v(t),
      lit("\\"), lit("\\\\")), lit("\""), lit("\\\"")),
      lit("\n"), lit("\\n")), lit("\t"), lit("\\t")), lit("\r"), lit("\\r"))
    val litTok = concat(lit("\""), esc, lit("\""),
      when(lg(t).isNotNull, concat(lit("@"), lg(t)))
        .when(dt(t).isNotNull, concat(lit("^^<"), dt(t), lit(">")))
        .otherwise(lit("")))
    when(kind(t) === Rdf.KindIri, concat(lit("<"), v(t), lit(">")))
      .when(kind(t) === Rdf.KindBlank, v(t))
      .otherwise(litTok)
  }

  /** `TRIPLE(s, p, o)` — constructs the quoted-triple term. In this engine a
    * quoted triple IS its deterministic id IRI `urn:graft:qt:<md5 of the
    * canonical tokens>` (`TurtleReader.qtId`), so the constructor computes
    * the same md5 as the Turtle-star loader and Update templates — purely
    * scalar, codegen'd, and equal to the loaded node for the same triple.
    */
  def tripleF(s: Column, p: Column, o: Column): Column =
    iriT(concat(lit(Rdf.QtPrefix),
      md5(concat(termTokenC(s), lit(" "), termTokenC(p), lit(" "),
        termTokenC(o)))))

  /** `isTRIPLE(t)` — true iff the term is a quoted triple (a qt-id IRI). */
  def isTripleF(t: Column): Column =
    boolT(kind(t) === Rdf.KindIri && v(t).startsWith(Rdf.QtPrefix))

  /** Envelope (bounding box) of a WKT geometry as a (minx,miny,maxx,maxy)
    * struct — min/max over every coordinate pair in the text. Exact for
    * POINTs and axis-aligned POLYGON rectangles (the reference portal's Q4
    * bbox shape, `facilities.ttl:211-218`); for other geometries it is the
    * standard envelope approximation.
    */
  private def wktEnvelope(g: Column): Column = {
    val pairs = regexp_extract_all(wktText(g), lit("(-?[0-9.]+)\\s+(-?[0-9.]+)"), lit(0))
    val xs = transform(pairs, p => split(p, "\\s+").getItem(0).cast("double"))
    val ys = transform(pairs, p => split(p, "\\s+").getItem(1).cast("double"))
    struct(array_min(xs).as("minx"), array_min(ys).as("miny"),
      array_max(xs).as("maxx"), array_max(ys).as("maxy"))
  }

  /** Exterior ring of a WKT POLYGON (plain text column) as an array of
    * (x, y) structs — the coordinate list between the first "((" and its
    * closing ")". Interior rings (holes) are not parsed: the exact tests
    * below treat a polygon as its exterior ring (the reference portal's
    * areas are simple polygons, `facilities.ttl:83-101`).
    */
  def wktRingText(wkt: Column): Column = {
    val body = regexp_extract(wkt, "POLYGON\\s*\\(\\(([^)]*)\\)", 1)
    transform(split(body, ","), p => {
      val xy = split(trim(p), "\\s+")
      struct(xy.getItem(0).cast("double").as("x"),
        xy.getItem(1).cast("double").as("y"))
    })
  }

  /** ALL rings of a WKT POLYGON (exterior first, then interior rings /
    * holes, in document order) as `array<array<struct<x,y>>>` — the shape
    * [[graft.functions.UnionWithin]] consumes for even-odd parity, which
    * is exactly closed-polygon-with-holes membership (r12 cont.).
    * POLYGON texts only (a MULTI's component decomposes first).
    */
  def wktRingsText(wkt: Column): Column =
    transform(regexp_extract_all(wkt, lit("\\(([^()]*)\\)"), lit(1)), b =>
      transform(split(b, ","), p => {
        val xy = split(trim(p), "\\s+")
        struct(xy.getItem(0).cast("double").as("x"),
          xy.getItem(1).cast("double").as("y"))
      }))

  /** POLYGON text carrying interior rings (holes). */
  private def holedText(w: Column): Column =
    w.startsWith("POLYGON") &&
      size(regexp_extract_all(w, lit("\\(([^()]*)\\)"), lit(1))) >= 2
  private def polyHoled(g: Column): Column = holedText(wktText(g))

  /** Exterior ring of a polygon TERM for the exact ring kernels. A polygon
    * WITH interior rings REFUSES here (raise, never a silent wrong answer
    * computed on the exterior alone): the POINT-membership paths and the
    * spatial join route holed polygons through [[UnionWithin]] even-odd
    * parity BEFORE this extractor evaluates; the remaining exact
    * polygon×polygon / line×polygon kernels are exterior-ring-only by
    * construction (documented scope).
    */
  private def wktRing(g: Column): Column = {
    val w = wktText(g)
    when(holedText(w), raise_error(concat(lit(
      "geo: interior rings (holes) are not supported by this predicate's " +
        "exact ring kernel; POINT membership and the spatial join handle " +
        "holes via even-odd parity: "), w)).cast(
      "array<struct<x:double,y:double>>"))
      .otherwise(wktRingText(w))
  }

  /** ALL coordinate pairs of a WKT text as (x,y) structs — the generic
    * vertex list [[UnionWithin]] consumes: a POLYGON component yields its
    * closed exterior ring, a LINESTRING its open polyline, a POINT one
    * pair.
    */
  def wktAnyPts(wkt: Column): Column =
    transform(
      regexp_extract_all(wkt, lit("(-?[0-9.]+\\s+-?[0-9.]+)"), lit(1)),
      p => {
        val xy = split(trim(p), "\\s+")
        struct(xy.getItem(0).cast("double").as("x"),
          xy.getItem(1).cast("double").as("y"))
      })

  /** Vertex list of a WKT LINESTRING (an OPEN polyline — no closing
    * segment, which is exactly what the RingRelate kernel's consecutive-pair
    * iteration gives it).
    */
  def wktLineText(wkt: Column): Column = {
    val body = regexp_extract(wkt, "LINESTRING\\s*\\(([^)]*)\\)", 1)
    transform(split(body, ","), p => {
      val xy = split(trim(p), "\\s+")
      struct(xy.getItem(0).cast("double").as("x"),
        xy.getItem(1).cast("double").as("y"))
    })
  }
  private def wktLine(g: Column): Column = wktLineText(wktText(g))

  /** Deterministic ray-cast point-in-ring test (crossing count, odd = in).
    * `ring` is a CLOSED vertex list (first == last, the WKT convention);
    * the crossing rule is the standard half-open `(ay > y) != (by > y)`
    * with the x-intersection computed in a FIXED association
    * `(bx-ax)*(y-ay)/(by-ay)+ax`, so a SQL oracle replaying the identical
    * IEEE expression gets bit-identical crossings (the kernel lives in
    * [[RingRelate]]). Exact for points off the boundary; on-edge points
    * follow the half-open rule. Keep it in FILTER/verify position ∝
    * candidates, never as a join key.
    */
  def pointInRing(x: Column, y: Column, ring: Column): Column =
    RingRelate("firstPointIn",
      array(struct(x.cast("double").as("x"), y.cast("double").as("y"))), ring)

  // ---- polygon×polygon exact predicates (r9 — the reference ships FULL
  // GeoSPARQL, `Dockerfile:2`, and the portal's areas are real polygons,
  // `facilities.ttl:83-101`; the r8 envelope fallback remains for geometry
  // pairings outside the POINT/POLYGON families). All evaluate through the
  // [[RingRelate]] native kernel — one Catalyst node per predicate (the
  // formulas, their IEEE associations, and the error→false posture are
  // documented there). Keep them in FILTER/verify position ∝ candidates,
  // never as join keys; the scale path is
  // [[graft.pipeline.GeoSpatial.polygonIntersectsJoin]]. ----

  /** Some vertex of ring A lies exactly on ring B's boundary: collinear
    * (fixed-association cross product exactly zero) and inside the edge's
    * bbox — exact for deliberate shared-edge/shared-vertex data.
    */
  def ringVertexOnBoundary(ra: Column, rb: Column): Column =
    RingRelate("vertexOnBoundary", ra, rb)

  /** Ring A lies WITHIN ring B: every vertex of A is inside B (ray-cast)
    * OR exactly on B's boundary — DE-9IM within INCLUDES the boundary, so
    * an equal ring and a contained ring sharing an edge are both within —
    * AND no edge pair properly crosses (a concave B can be exited and
    * re-entered between two interior vertices; the crossing term catches
    * exactly that).
    */
  def ringWithinRing(ra: Column, rb: Column): Column =
    RingRelate("within", ra, rb)

  /** Rings share at least one point (area OR boundary): a proper edge
    * crossing, a first vertex inside the other (containment with no
    * crossing), or exact boundary contact.
    */
  def ringsIntersect(ra: Column, rb: Column): Column =
    RingRelate("intersects", ra, rb)

  private def isPoly(g: Column): Column = wktText(g).startsWith("POLYGON")
  private def isPoint(g: Column): Column = wktText(g).startsWith("POINT")
  private def isLine(g: Column): Column = wktText(g).startsWith("LINESTRING")

  // ---- multi-geometries (r10 — GraphDB's GeoSPARQL plugin accepts every
  // WKT class, reference `Dockerfile:2`; the repo's own data is POINT-only
  // so multis are the tail of real usage, r9 VERDICT gap #1). A multi
  // decomposes into its simple components and the exact single-geometry
  // predicates dispatch over them with exists/forall semantics. ----

  /** Component list of a WKT geometry as an array of SIMPLE-geometry WKT
    * texts. A simple geometry is the 1-element array of itself; MULTIPOINT
    * (both `(1 2, 3 4)` and `((1 2), (3 4))` forms), MULTILINESTRING,
    * MULTIPOLYGON and GEOMETRYCOLLECTION decompose one level. Nested
    * collections and polygon holes are out of scope (as in the
    * single-geometry parsers above); a collection's components are
    * re-parsed by the same regexes, so depth-1 is exact.
    */
  def wktComponentsText(w: Column): Column = {
    val t = trim(w)
    val mp = transform(
      regexp_extract_all(t, lit("(-?[0-9.]+\\s+-?[0-9.]+)"), lit(1)),
      p => concat(lit("POINT ("), p, lit(")")))
    val ml = transform(
      regexp_extract_all(t, lit("\\(([^()]*)\\)"), lit(1)),
      p => concat(lit("LINESTRING ("), p, lit(")")))
    val mpl = transform(
      regexp_extract_all(t, lit("\\(\\(([^()]*)\\)\\)"), lit(1)),
      p => concat(lit("POLYGON (("), p, lit("))")))
    val gc = regexp_extract_all(t, lit(
      "(POINT\\s*\\([^()]*\\)|LINESTRING\\s*\\([^()]*\\)|POLYGON\\s*\\(\\([^()]*\\)\\))"),
      lit(1))
    // holed components would be silently mangled by the depth-1 regexes
    // (a "ring), (ring" boundary inside one component is NOT the ")), (("
    // component separator) — REFUSE loudly, never a wrong decomposition
    val holedComponent =
      (t.startsWith("MULTIPOLYGON") && t.rlike("[^)]\\)\\s*,\\s*\\([^(]")) ||
        (t.startsWith("GEOMETRYCOLLECTION") &&
          t.rlike("POLYGON\\s*\\(\\([^()]*\\)\\s*,"))
    when(holedComponent, raise_error(concat(lit(
        "geo: interior rings (holes) inside MULTIPOLYGON/" +
          "GEOMETRYCOLLECTION components are not supported: "), t))
      .cast("array<string>"))
      .when(t.startsWith("MULTIPOINT"), mp)
      .when(t.startsWith("MULTILINESTRING"), ml)
      .when(t.startsWith("MULTIPOLYGON"), mpl)
      .when(t.startsWith("GEOMETRYCOLLECTION"), gc)
      .otherwise(array(t))
  }

  private def isMultiGeom(g: Column): Column =
    wktText(g).rlike("^(MULTI|GEOMETRYCOLLECTION)")

  /** Re-wrap a component WKT text as a term for the single-geometry tests. */
  private def geomTerm(wkt: Column): Column =
    term(lit(Rdf.KindLiteral), wkt,
      lit("http://www.opengis.net/ont/geosparql#wktLiteral"), nullS, nullD)

  /** Raw boolean of a boolT-term predicate result (null stays null). */
  private def rawB(t: Column): Column = v(t) === "true"

  /** `geof:sfWithin(a, b)` — POINT in POLYGON is the EXACT ray-cast test
    * ([[pointInRing]]); POLYGON in POLYGON is the exact vertex+crossing
    * test ([[ringWithinRing]]); every other geometry pairing falls back to
    * envelope-on-envelope containment (inclusive), which remains exact for
    * point/rectangle shapes. Multi-geometries dispatch component-wise:
    * every component of `a` must lie within SOME component of `b`, OR —
    * the union-coverage case a per-component dispatch cannot see — within
    * the UNION of `b`'s polygon components ([[UnionWithin]]: odd crossing
    * parity over ALL rings + edge subdivision, so a component straddling
    * two adjacent parts of a MULTIPOLYGON is correctly within).
    */
  def sfWithin(a: Column, b: Column): Column = {
    val compsB = wktComponentsText(wktText(b))
    // ALL rings of every polygon component, holes included (r12 review
    // fix): even-odd parity over the flattened ring set is exactly
    // membership of the union of polygons-minus-their-holes — an
    // exterior-only list would wrongly count a point INSIDE a hole as
    // within. Shared boundaries between edge-adjacent components still
    // cancel pairwise.
    val unionRings = flatten(transform(
      filter(compsB, c => c.startsWith("POLYGON")), c => wktRingsText(c)))
    when(isMultiGeom(a) || isMultiGeom(b),
      boolT(forall(wktComponentsText(wktText(a)), ca =>
        exists(compsB, cb =>
          rawB(sfWithinSingle(geomTerm(ca), geomTerm(cb)))) ||
          coalesce(UnionWithin(wktAnyPts(ca), unionRings), lit(false)))))
      .otherwise(sfWithinSingle(a, b))
  }

  private def sfWithinSingle(a: Column, b: Column): Column = {
    val ea = wktEnvelope(a); val eb = wktEnvelope(b)
    val env = ea.getField("minx") >= eb.getField("minx") &&
      ea.getField("maxx") <= eb.getField("maxx") &&
      ea.getField("miny") >= eb.getField("miny") &&
      ea.getField("maxy") <= eb.getField("maxy")
    val exact = pointInRing(n(wktLon(a)), n(wktLat(a)), wktRing(b))
    // POLYGON WITH HOLES (r12 cont.): POINT membership is even-odd parity
    // over ALL rings ([[UnionWithin]] — a point inside a hole has odd
    // crossings against the exterior AND the hole ⇒ even total ⇒ out;
    // a point ON any ring, hole boundaries included, counts in: the
    // closed-polygon membership the sfIntersects point test also uses).
    // Documented divergence: the unholed path keeps the half-open
    // crossing rule (boundary points follow the ray-cast, not exact),
    // so EXACT boundary-point answers can differ between a polygon with
    // and without an unrelated hole — both paths are only exact for
    // points off the boundary, as documented at [[pointInRing]].
    val holedPoint = coalesce(
      UnionWithin(wktAnyPts(wktText(a)), wktRingsText(wktText(b))),
      lit(false))
    boolT(when(isPoint(a) && isPoly(b),
        when(polyHoled(b), holedPoint).otherwise(exact))
      .when(isPoly(a) && isPoly(b), ringWithinRing(wktRing(a), wktRing(b)))
      // LINESTRING in POLYGON: the same vertex+crossing test over the OPEN
      // vertex list (the crossing kernel never closes the polyline)
      .when(isLine(a) && isPoly(b), ringWithinRing(wktLine(a), wktRing(b)))
      .otherwise(env))
  }

  /** `geof:sfContains(a, b)` — inverse of [[sfWithin]]. */
  def sfContains(a: Column, b: Column): Column = sfWithin(b, a)

  /** `geof:sfIntersects(a, b)` — POLYGON×POLYGON is the exact
    * crossing/containment/boundary-contact test ([[ringsIntersect]]);
    * otherwise envelopes overlap (inclusive), exact for the point/rectangle
    * cases and the standard pre-filter for the rest. Multi-geometries are
    * EXACT: a multi intersects iff SOME component pair intersects.
    */
  def sfIntersects(a: Column, b: Column): Column =
    when(isMultiGeom(a) || isMultiGeom(b),
      boolT(exists(wktComponentsText(wktText(a)), ca =>
        exists(wktComponentsText(wktText(b)), cb =>
          rawB(sfIntersectsSingle(geomTerm(ca), geomTerm(cb)))))))
      .otherwise(sfIntersectsSingle(a, b))

  private def sfIntersectsSingle(a: Column, b: Column): Column = {
    val ea = wktEnvelope(a); val eb = wktEnvelope(b)
    val env = ea.getField("minx") <= eb.getField("maxx") &&
      eb.getField("minx") <= ea.getField("maxx") &&
      ea.getField("miny") <= eb.getField("maxy") &&
      eb.getField("miny") <= ea.getField("maxy")
    // line×area needs its own test: the generic ringsIntersect would run
    // the ray-cast AGAINST the open polyline, whose crossing parity is
    // meaningless — instead: a proper crossing, a line vertex inside or on
    // the ring, or a ring vertex exactly on the line.
    def lineArea(l: Column, r: Column): Column = RingRelate("lineArea", l, r)
    // point×area is exact too (r10): in the CLOSED polygon — ray-cast
    // interior or exactly on the boundary. The envelope fallback was only
    // exact for rectangles; the multi-geometry dispatch routes every
    // MULTIPOINT component through here, where non-convex polygons (the
    // L's notch) make the difference observable.
    def pointArea(p: Column, r: Column): Column = {
      val pts = array(struct(n(wktLon(p)).as("x"), n(wktLat(p)).as("y")))
      // holes (r12 cont.): even-odd parity over all rings, boundary-in
      when(polyHoled(r),
        coalesce(UnionWithin(pts, wktRingsText(wktText(r))), lit(false)))
        .otherwise(RingRelate("firstPointInOrOn", pts, wktRing(r)))
    }
    boolT(when(isPoly(a) && isPoly(b),
      ringsIntersect(wktRing(a), wktRing(b)))
      .when(isLine(a) && isPoly(b), lineArea(wktLine(a), wktRing(b)))
      .when(isPoly(a) && isLine(b), lineArea(wktLine(b), wktRing(a)))
      .when(isPoint(a) && isPoly(b), pointArea(a, b))
      .when(isPoly(a) && isPoint(b), pointArea(b, a))
      .otherwise(env))
  }

  /** Interior∩interior ≠ ∅ for two single-geometry component TEXTS —
    * the DE-9IM interior test the multi-geometry touches/overlaps
    * dispatch needs (touch-only contact stays false): polygon pairs via
    * the [[RingRelate]] `interiorsMeet` op, point/line components via the
    * matching exact primitive.
    */
  private def pairInteriorsMeet(ca: Column, cb: Column): Column = {
    val a = geomTerm(ca); val b = geomTerm(cb)
    def pt(g: Column) =
      array(struct(n(wktLon(g)).as("x"), n(wktLat(g)).as("y")))
    when(isPoly(a) && isPoly(b),
      RingRelate("interiorsMeet", wktRing(a), wktRing(b)))
      .when(isPoint(a) && isPoly(b),
        RingRelate("firstPointIn", pt(a), wktRing(b)))
      .when(isPoly(a) && isPoint(b),
        RingRelate("firstPointIn", pt(b), wktRing(a)))
      .when(isLine(a) && isPoly(b),
        RingRelate("lineCrossesArea", wktLine(a), wktRing(b)) ||
          RingRelate("firstPointIn", wktLine(a), wktRing(b)))
      .when(isPoly(a) && isLine(b),
        RingRelate("lineCrossesArea", wktLine(b), wktRing(a)) ||
          RingRelate("firstPointIn", wktLine(b), wktRing(a)))
      .when(isPoint(a) && isPoint(b),
        n(wktLon(a)) === n(wktLon(b)) && n(wktLat(a)) === n(wktLat(b)))
      .when(isLine(a) && isLine(b),
        RingRelate("crossGt0", wktLine(a), wktLine(b)))
      .otherwise(lit(false))
  }

  /** Some component pair's interiors meet (false on empty/degenerate). */
  private def anyInteriorsMeet(a: Column, b: Column): Column =
    exists(wktComponentsText(wktText(a)), ca =>
      exists(wktComponentsText(wktText(b)), cb =>
        coalesce(pairInteriorsMeet(ca, cb), lit(false))))

  /** `geof:sfOverlaps(a, b)` — interiors intersect but neither geometry
    * contains the other (DE-9IM overlaps for same-dimension inputs).
    * POLYGON×POLYGON is exact: a proper crossing or a strictly-interior
    * vertex, minus the within cases; boundary-only contact (touching) and
    * vertex-set equality both correctly read as NOT overlapping.
    * Multi-geometries (r11): SOME component pair's interiors meet and
    * neither side is within the other (union-aware [[sfWithin]]). Other
    * pairings use the envelope analog.
    */
  def sfOverlaps(a: Column, b: Column): Column = {
    val exact = RingRelate("overlaps", wktRing(a), wktRing(b))
    val ea = wktEnvelope(a); val eb = wktEnvelope(b)
    def envW(p: Column, q: Column) =
      p.getField("minx") >= q.getField("minx") &&
        p.getField("maxx") <= q.getField("maxx") &&
        p.getField("miny") >= q.getField("miny") &&
        p.getField("maxy") <= q.getField("maxy")
    val envOverlap = ea.getField("minx") < eb.getField("maxx") &&
      eb.getField("minx") < ea.getField("maxx") &&
      ea.getField("miny") < eb.getField("maxy") &&
      eb.getField("miny") < ea.getField("maxy") &&
      !envW(ea, eb) && !envW(eb, ea)
    // DE-9IM overlaps is only defined for EQUAL dimensions (a line can be
    // within or cross an area, never overlap it): 2 if any polygon
    // component, else 1 if any line, else 0
    def dim(g: Column): Column =
      when(wktText(g).contains("POLYGON"), lit(2))
        .when(wktText(g).contains("LINESTRING"), lit(1))
        .otherwise(lit(0))
    boolT(when(isMultiGeom(a) || isMultiGeom(b),
      dim(a) === dim(b) && anyInteriorsMeet(a, b) &&
        !coalesce(rawB(sfWithin(a, b)), lit(false)) &&
        !coalesce(rawB(sfWithin(b, a)), lit(false)))
      .when(isPoly(a) && isPoly(b), exact)
      .otherwise(envOverlap))
  }

  /** `geof:sfTouches(a, b)` — boundaries meet, interiors do not.
    * POLYGON×POLYGON is exact for the deliberate shared-edge/shared-vertex
    * case: boundary contact, zero proper crossings, and no vertex strictly
    * inside the other. Multi-geometries (r11): SOME component pair
    * intersects while NO component pair's interiors meet — exactly DE-9IM
    * touches over the component union. Other pairings use the envelope
    * analog (inclusive overlap without strict interior overlap), exact
    * for axis-aligned rectangles; POINT×POINT is always false (a point's
    * interior is the point itself).
    */
  def sfTouches(a: Column, b: Column): Column = {
    // boundary contact, zero crossings, no strictly-interior vertex, and
    // neither within (an equal or contained-with-shared-edge ring has
    // interior overlap — that is not touching): RingRelate "touches"
    val exact = RingRelate("touches", wktRing(a), wktRing(b))
    val ea = wktEnvelope(a); val eb = wktEnvelope(b)
    val inclusive = ea.getField("minx") <= eb.getField("maxx") &&
      eb.getField("minx") <= ea.getField("maxx") &&
      ea.getField("miny") <= eb.getField("maxy") &&
      eb.getField("miny") <= ea.getField("maxy")
    val strict = ea.getField("minx") < eb.getField("maxx") &&
      eb.getField("minx") < ea.getField("maxx") &&
      ea.getField("miny") < eb.getField("maxy") &&
      eb.getField("miny") < ea.getField("maxy")
    val anyContact = exists(wktComponentsText(wktText(a)), ca =>
      exists(wktComponentsText(wktText(b)), cb =>
        coalesce(rawB(sfIntersectsSingle(geomTerm(ca), geomTerm(cb))),
          lit(false))))
    boolT(when(isMultiGeom(a) || isMultiGeom(b),
      anyContact && !anyInteriorsMeet(a, b))
      .when(isPoint(a) && isPoint(b), lit(false))
      .when(isPoly(a) && isPoly(b), exact)
      .otherwise(inclusive && !strict))
  }

  /** `geof:sfEquals(a, b)` — POINT×POINT compares exact coordinates;
    * POLYGON×POLYGON compares the DISTINCT VERTEX SETS (sorted), which is
    * start-vertex- and orientation-invariant — the same ring written from a
    * different corner or winding is equal. Representation-level: two
    * point-set-equal rings with different vertex lists (a collinear vertex
    * inserted) read as unequal. Other pairings compare envelopes.
    * Multi-geometries compare component-wise: mutual within (every part of
    * each side lies within some part of the other).
    */
  def sfEquals(a: Column, b: Column): Column =
    when(isMultiGeom(a) || isMultiGeom(b),
      boolT(rawB(sfWithin(a, b)) && rawB(sfWithin(b, a))))
      .otherwise(sfEqualsSingle(a, b))

  private def sfEqualsSingle(a: Column, b: Column): Column = {
    val ptEq = n(wktLon(a)) === n(wktLon(b)) && n(wktLat(a)) === n(wktLat(b))
    // Canonical UNDIRECTED edge sets (each edge normalized so its
    // lexicographically-smaller endpoint comes first, deduped, sorted) —
    // rotation- and winding-invariant like the old sorted vertex set, but
    // two different simple polygons over the same vertices no longer read
    // as equal (r9 ADVICE). Still representation-level: an inserted
    // collinear vertex reads as unequal (documented above).
    val ea = wktEnvelope(a); val eb = wktEnvelope(b)
    boolT(when(isPoint(a) && isPoint(b), ptEq)
      .when(isPoly(a) && isPoly(b),
        RingRelate("edgeSetEq", wktRing(a), wktRing(b)))
      .otherwise(ea === eb))
  }

  /** `geof:sfCrosses(a, b)` — DE-9IM crosses needs the interiors to meet
    * with the intersection's dimension below the inputs'. For the
    * point/area families it is unsatisfiable (point∩area interior contact
    * is `within`; area∩area has dimension 2) — constant false. For
    * LINESTRING × POLYGON it is EXACT: a proper boundary crossing, or
    * vertices strictly on BOTH sides of the boundary (a segment can enter
    * and leave between two exterior vertices — the crossing term catches
    * that; a tangent boundary touch is `touches`, not crosses).
    * LINESTRING × LINESTRING crosses on a proper segment crossing.
    */
  def sfCrosses(a: Column, b: Column): Column =
    when(isMultiGeom(a) || isMultiGeom(b),
      // multi (r11): some component pair crosses AND `a` is not within
      // the union of `b` (a polyline straddling two adjacent components
      // inside the union is within, not crossing)
      boolT(exists(wktComponentsText(wktText(a)), ca =>
        exists(wktComponentsText(wktText(b)), cb =>
          coalesce(rawB(sfCrossesSingle(geomTerm(ca), geomTerm(cb))),
            lit(false)))) &&
        !coalesce(rawB(sfWithin(a, b)), lit(false))))
      .otherwise(sfCrossesSingle(a, b))

  private def sfCrossesSingle(a: Column, b: Column): Column = {
    def lineArea(l: Column, r: Column): Column =
      RingRelate("lineCrossesArea", l, r)
    boolT(when(isLine(a) && isPoly(b), lineArea(wktLine(a), wktRing(b)))
      .when(isPoly(a) && isLine(b), lineArea(wktLine(b), wktRing(a)))
      .when(isLine(a) && isLine(b),
        RingRelate("crossGt0", wktLine(a), wktLine(b)))
      .when((isPoint(a) || isPoly(a)) && (isPoint(b) || isPoly(b)),
        lit(false)))
  }

  /** `geof:sfDisjoint(a, b)` — negation of [[sfIntersects]] (so it is
    * multi-geometry-exact for free: no component pair intersects).
    */
  def sfDisjoint(a: Column, b: Column): Column = {
    val i = sfIntersects(a, b)
    boolT(i.getField("value") === "false")
  }

  /** `geof:relate(a, b, pattern)` — generic DE-9IM intersection-pattern
    * test (GeoSPARQL 1.0 §7.2) for the POLYGON×POLYGON family: each of
    * the nine cells' NON-EMPTINESS composes from the exact ring
    * primitives; a dimension digit (`0`/`1`/`2`) in the pattern matches
    * as non-empty like `T` (documented approximation — the cell
    * dimensions themselves are not computed). Pattern must be 9 chars of
    * `T F f * 0 1 2`; other geometry pairings and malformed patterns are
    * an error (null).
    */
  def geoRelate(a: Column, b: Column, pattern: Column): Column = {
    val ra = wktRing(a); val rb = wktRing(b)
    val eq = RingRelate("edgeSetEq", ra, rb)
    val crs = RingRelate("crossGt0", ra, rb)
    val ii = RingRelate("interiorsMeet", ra, rb)
    // boundary-of-B through interior-of-A: a proper crossing, a B vertex
    // strictly inside A, or B contained with its own (non-shared) boundary
    val ib = crs || RingRelate("strictIn", rb, ra) ||
      (RingRelate("within", rb, ra) && !eq)
    val bi = crs || RingRelate("strictIn", ra, rb) ||
      (RingRelate("within", ra, rb) && !eq)
    val bb = RingRelate("vertexOnBoundary", ra, rb) ||
      RingRelate("vertexOnBoundary", rb, ra) || crs || eq
    val ie = !RingRelate("within", ra, rb)
    val be = ie
    val ei = !RingRelate("within", rb, ra)
    val eb = ei
    val cells = Seq(ii, ib, ie, bi, bb, be, ei, eb, lit(true))
    val checks = cells.zipWithIndex.map { case (cell, i) =>
      val ch = upper(substring(v(pattern), lit(i + 1), lit(1)))
      when(ch === "*", lit(true))
        .when(ch.isin("T", "0", "1", "2"), coalesce(cell, lit(false)))
        .when(ch === "F", !coalesce(cell, lit(false)))
    }.reduce(_ && _)
    when(isPoly(a) && isPoly(b) && length(v(pattern)) === 9,
      boolT(checks)).otherwise(graft.algebra.E.nullTerm)
  }

  /** `geof:envelope(g)` — the axis-aligned bounding box as a wktLiteral:
    * a POLYGON ring in counter-clockwise SW-start order, degenerating to
    * POINT when the box collapses. Works for every WKT class including
    * multis ([[wktEnvelope]] folds over all coordinate pairs in the text).
    */
  def geoEnvelope(g: Column): Column = {
    val e = wktEnvelope(g)
    val mnx = e.getField("minx").cast(StringType)
    val mny = e.getField("miny").cast(StringType)
    val mxx = e.getField("maxx").cast(StringType)
    val mxy = e.getField("maxy").cast(StringType)
    val isPt = e.getField("minx") === e.getField("maxx") &&
      e.getField("miny") === e.getField("maxy")
    geomTerm(when(isPt, concat(lit("POINT ("), mnx, lit(" "), mny, lit(")")))
      .otherwise(concat(lit("POLYGON (("),
        mnx, lit(" "), mny, lit(", "), mxx, lit(" "), mny, lit(", "),
        mxx, lit(" "), mxy, lit(", "), mnx, lit(" "), mxy, lit(", "),
        mnx, lit(" "), mny, lit("))"))))
  }

  /** `geof:boundary(g)` — combinatorial boundary: a POLYGON's is its
    * exterior ring as a LINESTRING; a LINESTRING's is the MULTIPOINT of its
    * two endpoints; a POINT's boundary is empty (Simple Features).
    */
  def geoBoundary(g: Column): Column = {
    val t = trim(v(g))
    val polyBody = regexp_extract(t, "POLYGON\\s*\\(\\(([^)]*)\\)", 1)
    val linePts = split(regexp_extract(t, "LINESTRING\\s*\\(([^)]*)\\)", 1), ",")
    geomTerm(when(isPoly(g),
      concat(lit("LINESTRING ("), polyBody, lit(")")))
      .when(isLine(g), concat(lit("MULTIPOINT (("),
        trim(element_at(linePts, 1)), lit("), ("),
        trim(element_at(linePts, -1)), lit("))")))
      .when(isPoint(g), lit("GEOMETRYCOLLECTION EMPTY")))
  }

  /** `urn:graft:fn:makeValid(g)` — even-odd repair of an invalid
    * (self-intersecting / self-touching) POLYGON, HOLED polygon, or
    * MULTIPOLYGON: every ring joins ONE planar arrangement, faces fill by
    * even-odd crossing parity (r14 cont.: per-component ambient parity,
    * so a valid hole's interior is parity 2 = unfilled and disjoint
    * members are parity 1 each — [[graft.functions.MakeValid]], the JTS
    * makeValid/buffer(0) analog with documented even-odd semantics:
    * overlapping members XOR). POINT/LINESTRING pass through verbatim;
    * collinear-overlap rings (a hole sharing an edge with its shell)
    * stay an error — correct-by-refusal, never a wrong polygon.
    */
  def geoMakeValid(g: Column): Column = {
    val t = wktText(g)
    when(isPoly(g) || t.startsWith("MULTIPOLYGON"),
      geomTerm(MakeValid(wktRingsText(t))))
      .when(isPoint(g) || isLine(g), geomTerm(t))
      .otherwise(graft.algebra.E.nullTerm)
  }

  /** GeoSPARQL 1.1 measures (`geof:area` / `geof:perimeter` /
    * `geof:length` / `geof:centroid` — the 1.1 additions GraphDB's
    * plugin answers): PLANAR in CRS units (units² for area) with exact
    * fixed-association IEEE arithmetic — the JTS getArea/getLength
    * convention; metric (geodesic-metre) variants are a documented
    * descope. `area` of a non-areal geometry is 0 and `length` of a
    * POLYGON is its perimeter (both JTS conventions); holed polygons
    * subtract hole areas and ADD hole boundary lengths; MULTI inputs are
    * out of the scalar kernels' scope (null).
    */
  def geoArea(g: Column): Column = {
    val t = wktText(g)
    numT(when(isPoly(g), GeoMeasure("area", wktRingsText(t)))
      .when(isPoint(g) || isLine(g), lit(0.0)))
  }
  def geoPerimeter(g: Column): Column = {
    val t = wktText(g)
    numT(when(isPoly(g), GeoMeasure("perimeter", wktRingsText(t)))
      .when(isPoint(g) || isLine(g), lit(0.0)))
  }
  def geoLength(g: Column): Column = {
    val t = wktText(g)
    numT(when(isPoly(g), GeoMeasure("perimeter", wktRingsText(t)))
      .when(isLine(g),
        GeoMeasure("openlength", array(wktLineText(t))))
      .when(isPoint(g), lit(0.0)))
  }
  def geoCentroid(g: Column): Column = {
    val t = wktText(g)
    geomTerm(when(isPoly(g), GeoCentroid(wktRingsText(t)))
      .when(isPoint(g), t))
  }

  /** `geof:getSRID(g)` — the spatial reference system IRI of a wktLiteral
    * as an xsd:anyURI literal: the optional leading `<iri>` of the lexical
    * form, defaulting to OGC CRS84 (the GeoSPARQL default CRS).
    */
  def getSRID(g: Column): Column =
    term(lit(Rdf.KindLiteral),
      when(trim(v(g)).rlike("^<[^>]*>"),
        regexp_extract(trim(v(g)), "^<([^>]*)>", 1))
        .otherwise(lit("http://www.opengis.net/def/crs/OGC/1.3/CRS84")),
      lit("http://www.w3.org/2001/XMLSchema#anyURI"), nullS, nullD)

  /** `geof:transform(g, srsIRI)` (GeoSPARQL 1.1): re-express the geometry
    * in the target CRS. Supported:
    *   - identity (target == source — the literal is normalized to carry
    *     the explicit target IRI unless the target is the CRS84 default);
    *   - CRS84 ↔ EPSG:4326, which differ ONLY in AXIS ORDER (lon-lat vs
    *     lat-lon) — every coordinate pair swaps, no datum math; the
    *     classic WGS84 axis-order pitfall;
    *   - CRS84/EPSG:4326 ↔ the registered PROJECTED CRSs — EPSG:2157
    *     (IRENET95 / Irish Transverse Mercator, the metric CRS for the
    *     reference's Dublin data), EPSG:32629 (WGS84 / UTM 29N, the UTM
    *     zone covering Ireland) via the closed-form Krüger-series kernel
    *     in [[TransverseMercator]], and EPSG:3857 (Web Mercator) via
    *     [[WebMercator]]; IRENET95 ≡ ETRS89 ≈ WGS84 at series accuracy —
    *     pure projection math, no datum shift — and EPSG:29902 (TM65 /
    *     Irish Grid, r17), which chains the published OSi Helmert-7
    *     datum shift + Airy Modified re-projection via [[Tm65Datum]]
    *     (≈0.4 m method accuracy vs grid files, documented there).
    *     Projected → projected composes inverse-then-forward through
    *     CRS84.
    * Any other pair is an error (null term → FILTER false): datum shifts
    * needing grid files (OSGB OSTN15, …) are refused — a silent
    * approximate re-projection would be a wrong answer and a full EPSG
    * registry is out of scope.
    * Input validation (all routes): the body must be 2D WKT — a `Z`/`M`
    * dimension marker, an `EMPTY` set, a 3-numbers-per-point group, or a
    * non-WKT lexical form is an error, never passed through or
    * pair-swapped as if planar 2D.
    */
  def geoTransform(g: Column, srs: Column): Column = {
    val Crs84 = "http://www.opengis.net/def/crs/OGC/1.3/CRS84"
    val Epsg4326 = "http://www.opengis.net/def/crs/EPSG/0/4326"
    val Itm = "http://www.opengis.net/def/crs/EPSG/0/2157"
    val src = v(getSRID(g))
    val tgt = v(srs)
    val body = wktText(g)
    val wkt2d = upper(trim(body)).rlike(
      "^(POINT|LINESTRING|POLYGON|MULTIPOINT|MULTILINESTRING|" +
        "MULTIPOLYGON|GEOMETRYCOLLECTION)\\b") &&
      !upper(body).rlike("\\b(ZM|Z|M)\\s*\\(") &&
      !upper(body).rlike("\\bEMPTY\\b") &&
      !body.rlike("(-?[0-9.][0-9.eE+-]*\\s+){2}-?[0-9.][0-9.eE+-]*")
    // swap every "x y" coordinate pair (numbers incl. exponents; commas/
    // parens are not in the class, so pairs never merge across points)
    def swap(b: Column): Column = regexp_replace(b,
      "(-?[0-9][0-9.eE+-]*)\\s+(-?[0-9][0-9.eE+-]*)", "$2 $1")
    val swapped = swap(body)
    // registered projected CRSs: EPSG iri → kernel key
    val projected = Seq(
      Itm -> "2157",
      "http://www.opengis.net/def/crs/EPSG/0/32629" -> "32629",
      "http://www.opengis.net/def/crs/EPSG/0/3857" -> "3857",
      // r17: TM65 / Irish Grid — projection + Helmert-7 datum shift
      // (Tm65Datum; ~0.4 m vs grid-file methods, documented there)
      "http://www.opengis.net/def/crs/EPSG/0/29902" -> "29902",
      // r18: TM75 / Irish Grid — the 1975 readjustment's rounded Helmert
      "http://www.opengis.net/def/crs/EPSG/0/29903" -> "29903")
    val base = when(!wkt2d, lit(null).cast("string"))
      .when(tgt === src, body)
      .when((src === Crs84 && tgt === Epsg4326) ||
        (src === Epsg4326 && tgt === Crs84), swapped)
    val withProj = projected.foldLeft(base) { case (acc, (iri, key)) =>
      acc
        .when(src === Crs84 && tgt === iri, GeoTmProject(true, key, body))
        .when(src === Epsg4326 && tgt === iri,
          GeoTmProject(true, key, swapped))
        .when(src === iri && tgt === Crs84, GeoTmProject(false, key, body))
        .when(src === iri && tgt === Epsg4326,
          swap(GeoTmProject(false, key, body)))
    }
    // projected → projected composes through CRS84 (both legs exact-
    // association kernels; the intermediate is never serialized)
    val out = projected.foldLeft(withProj) { case (acc0, (si, sk)) =>
      projected.foldLeft(acc0) { case (acc, (ti, tk)) =>
        if (si == ti) acc
        else acc.when(src === si && tgt === ti,
          GeoTmProject(true, tk, GeoTmProject(false, sk, body)))
      }
    }
    when(out.isNotNull && v(g).isNotNull,
      geomTerm(when(tgt === Crs84, out)
        .otherwise(concat(lit("<"), tgt, lit("> "), out))))
      .otherwise(graft.algebra.E.nullTerm)
  }

  /** `geof:distance(a, b, units)` — the 3-arg form converts the metre
    * result by the OGC units-of-measure IRI (matched on the IRI's last
    * path segment, accepting both OGC spellings). An unknown unit is an
    * error (null term → FILTER false). Degree/radian use the same mean
    * radius as the haversine, so the conversion is the exact arc inverse.
    * The division keeps a FIXED association for oracle bit-replay.
    */
  /** Metres-per-unit divisor for an OGC uom IRI (matched on the last path
    * segment, both OGC spellings). Unknown unit → null → error term.
    */
  private def uomDivisor(u: Column): Column = {
    val R = 6371008.8 // keep in sync with geoDistance
    val unit = element_at(split(v(u), "/"), -1)
    when(unit.isin("metre", "meter", "m"), lit(1.0))
      .when(unit.isin("kilometre", "kilometer", "km"), lit(1000.0))
      .when(unit.isin("mile", "statuteMile", "mi"), lit(1609.344))
      .when(unit.isin("foot", "ft"), lit(0.3048))
      .when(unit === "degree", lit(R * math.Pi / 180.0))
      .when(unit === "radian", lit(R))
  }

  def geoDistanceUom(a: Column, b: Column, u: Column): Column =
    numT(n(geoDistance(a, b)) / uomDivisor(u))

  /** GEODESIC (metre-true) measures — `geof:metricArea` /
    * `geof:metricPerimeter` / `geof:metricLength` (GeoSPARQL 1.1's
    * metric series, which the reference's plugin answers over its lon/lat
    * Dublin WKT, `facilities.ttl:167-171`) plus the unit-argument forms
    * `geof:area(g, uom)` / `geof:perimeter(g, uom)` / `geof:length(g,
    * uom)` (area divides by uom², lengths by uom). Kernels are the
    * fixed-association spherical formulas in [[GeoMeasure]] — haversine
    * segments on the `geof:distance` mean radius and the spherical-excess
    * ring area — so a SQL oracle replays them term-for-term (round in the
    * oracle: last-ulp trig spread, the distance posture). The 1-arg
    * `geof:area`/`geof:perimeter`/`geof:length` stay PLANAR in CRS units
    * (the JTS convention).
    */
  def geoMetricArea(g: Column): Column = {
    val t = wktText(g)
    numT(when(isPoly(g), GeoMeasure("garea", wktRingsText(t)))
      .when(isPoint(g) || isLine(g), lit(0.0)))
  }
  def geoMetricPerimeter(g: Column): Column = {
    val t = wktText(g)
    numT(when(isPoly(g), GeoMeasure("gperimeter", wktRingsText(t)))
      .when(isPoint(g) || isLine(g), lit(0.0)))
  }
  def geoMetricLength(g: Column): Column = {
    val t = wktText(g)
    numT(when(isPoly(g), GeoMeasure("gperimeter", wktRingsText(t)))
      .when(isLine(g), GeoMeasure("gopenlength", array(wktLineText(t))))
      .when(isPoint(g), lit(0.0)))
  }
  /** `geof:metricCentroid(g)` (r16 — closing the metric series): the
    * SPHERICAL area-weighted centroid as a CRS84 POINT, via the exact
    * per-edge surface-integral fold in [[GeoGeodesicCentroid]]. A point
    * is its own centroid; non-areal inputs (lines) and degenerate rings
    * are errors, like the planar `geof:centroid`.
    */
  def geoMetricCentroid(g: Column): Column = {
    val t = wktText(g)
    geomTerm(when(isPoly(g), GeoGeodesicCentroid(wktRingsText(t)))
      .when(isPoint(g), t))
  }
  def geoAreaUom(g: Column, u: Column): Column = {
    val d = uomDivisor(u)
    numT(n(geoMetricArea(g)) / (d * d))
  }
  def geoPerimeterUom(g: Column, u: Column): Column =
    numT(n(geoMetricPerimeter(g)) / uomDivisor(u))
  def geoLengthUom(g: Column, u: Column): Column =
    numT(n(geoMetricLength(g)) / uomDivisor(u))

  /** All coordinate pairs of a WKT geometry (any class) as a struct array. */
  private def wktAllPoints(g: Column): Column = {
    val pairs = regexp_extract_all(wktText(g),
      lit("(-?[0-9.]+)\\s+(-?[0-9.]+)"), lit(0))
    transform(pairs, p => struct(
      split(p, "\\s+").getItem(0).cast("double").as("x"),
      split(p, "\\s+").getItem(1).cast("double").as("y")))
  }

  /** `geof:convexHull(g)` — monotone chain over every coordinate pair of
    * the geometry (works for all WKT classes including multis): CCW closed
    * POLYGON from the leftmost-lowest vertex; 1 point → POINT, collinear →
    * LINESTRING ([[ConvexHull]] kernel).
    */
  def geoConvexHull(g: Column): Column =
    geomTerm(ConvexHull(wktAllPoints(g)))

  /** Radius in CRS84 DEGREES from a quantity + OGC uom IRI (the linear
    * units convert through the haversine mean radius, so `buffer` and
    * `distance` agree on what a metre is).
    */
  private def radiusDegrees(r: Column, u: Column): Column = {
    val R = 6371008.8
    val unit = element_at(split(v(u), "/"), -1)
    val meters = when(unit.isin("metre", "meter", "m"), n(r))
      .when(unit.isin("kilometre", "kilometer", "km"), n(r) * 1000.0)
      .when(unit.isin("mile", "statuteMile", "mi"), n(r) * 1609.344)
      .when(unit.isin("foot", "ft"), n(r) * 0.3048)
    when(unit === "degree", n(r))
      .when(unit === "radian", n(r) * lit(180.0 / math.Pi))
      .otherwise(meters / lit(R * math.Pi / 180.0))
  }

  /** `geof:buffer(g, r, units)` — POINT: the planar regular 32-gon of the
    * unit-converted radius ([[PointBuffer]]); SIMPLE POLYGON (r11 convex,
    * r14 any simple): edges offset outward, convex vertices round with
    * 2π/32-granular arcs, reflex vertices take the exact mitred trim
    * ([[PolygonBuffer]]) — the Minkowski sum with the sampled disc
    * whenever the radius is below the local feature size; a
    * pocket-sealing radius answers via the nonzero-winding fill of the
    * offset curve (r15 — the sealed void becomes a hole); radii past the
    * local feature size and other geometry classes are an error (null).
    */
  def geoBuffer(g: Column, r: Column, u: Column): Column =
    when(isPoint(g),
      geomTerm(PointBuffer(n(wktLon(g)), n(wktLat(g)), radiusDegrees(r, u))))
      .when(isPoly(g),
        geomTerm(PolygonBuffer(wktRing(g), radiusDegrees(r, u))))
      .otherwise(graft.algebra.E.nullTerm)

  /** `geof:intersection(a, b)` — CONVEX polygon × CONVEX polygon via
    * Sutherland–Hodgman ([[ConvexClip]], kept first so the convex outputs
    * stay lexically identical to r10); non-convex SIMPLE polygons fall
    * back to the Greiner–Hormann overlay ([[PolyOverlay]], r11).
    * Degenerate contact (shared vertices/edges) and non-polygon input
    * remain an error (null), never a wrong polygon.
    */
  def geoIntersection(a: Column, b: Column): Column =
    when(isPoly(a) && isPoly(b),
      geomTerm(coalesce(ConvexClip(wktRing(a), wktRing(b)),
        PolyOverlay("intersection", wktRing(a), wktRing(b)))))
      .otherwise(graft.algebra.E.nullTerm)

  /** `geof:union(a, b)` — DISJOINT inputs wrap as the exact MULTI /
    * GEOMETRYCOLLECTION of the two (verbatim coordinate text, kept first
    * so r10 outputs are unchanged); OVERLAPPING simple polygons dissolve
    * through the Greiner–Hormann overlay ([[PolyOverlay]], r11). Unions
    * that would need an interior ring, degenerate contact, and remaining
    * non-polygon overlap cases are an error (null), never a wrong
    * geometry. Same-class pairs use the MULTI form, mixed pairs the
    * collection form.
    */
  def geoUnion(a: Column, b: Column): Column = {
    val ta = wktText(a); val tb = wktText(b)
    val disjoint = v(sfIntersects(a, b)) === "false"
    val body: Column => Column = t => regexp_replace(t,
      "^(POINT|LINESTRING|POLYGON)\\s*", "")
    val multi =
      when(isPoint(a) && isPoint(b),
        concat(lit("MULTIPOINT ("), body(ta), lit(", "), body(tb), lit(")")))
      .when(isLine(a) && isLine(b),
        concat(lit("MULTILINESTRING ("), body(ta), lit(", "), body(tb), lit(")")))
      .when(isPoly(a) && isPoly(b),
        concat(lit("MULTIPOLYGON ("), body(ta), lit(", "), body(tb), lit(")")))
      .otherwise(concat(lit("GEOMETRYCOLLECTION ("), ta, lit(", "), tb, lit(")")))
    // r18: the verbatim fast path must not emit a SELF-INTERSECTING
    // polygon body unrepaired — such pairs fall to the overlay, whose
    // repair-then-overlay path answers the dissolved MULTIPOLYGON
    val simplePair = !(isPoly(a) && isPoly(b)) ||
      (RingSimple(wktRingText(ta)) && RingSimple(wktRingText(tb)))
    when(disjoint && simplePair, geomTerm(multi))
      .when(isPoly(a) && isPoly(b),
        geomTerm(PolyOverlay("union", wktRing(a), wktRing(b))))
      .otherwise(graft.algebra.E.nullTerm)
  }

  /** `geof:difference(a, b)` — A minus B for SIMPLE polygons via the
    * Greiner–Hormann overlay ([[PolyOverlay]], r11): disjoint → A,
    * A⊆B → `POLYGON EMPTY`, crossing boundaries → the traced remainder
    * (possibly a MULTIPOLYGON). B strictly inside A would need an
    * interior ring and is an error (null), as are degenerate contact and
    * non-polygon input.
    */
  def geoDifference(a: Column, b: Column): Column =
    when(isPoly(a) && isPoly(b),
      geomTerm(PolyOverlay("difference", wktRing(a), wktRing(b))))
      .otherwise(graft.algebra.E.nullTerm)

  /** `geof:symDifference(a, b)` — (A−B) ∪ (B−A) for SIMPLE polygons via
    * two [[PolyOverlay]] difference traces emitted as one MULTIPOLYGON;
    * same error posture as [[geoDifference]] (containment → hole →
    * null).
    */
  def geoSymDifference(a: Column, b: Column): Column =
    when(isPoly(a) && isPoly(b),
      geomTerm(PolyOverlay("symdifference", wktRing(a), wktRing(b))))
      .otherwise(graft.algebra.E.nullTerm)

  // ---- Egenhofer + RCC8 predicate families (the GraphDB GeoSPARQL plugin
  // registers geof:eh* and geof:rcc8* alongside the sf family, reference
  // `Dockerfile:2`). DE-9IM patterns per GeoSPARQL 1.0 §9.4/9.5, composed
  // from the exact ring primitives for POLYGON×POLYGON; other pairings
  // delegate to the closest sf predicate (whose envelope semantics are
  // documented above). Boundary contact is vertex-level exact — the same
  // deliberate shared-edge/shared-vertex posture as sfTouches. ----

  private def bothPoly(a: Column, b: Column): Column = isPoly(a) && isPoly(b)
  private def boundaryContact(ra: Column, rb: Column): Column =
    ringVertexOnBoundary(ra, rb) || ringVertexOnBoundary(rb, ra)

  /** `geof:ehEquals` / `geof:rcc8eq` — identical point sets ([[sfEquals]]). */
  def ehEquals(a: Column, b: Column): Column = sfEquals(a, b)

  /** `geof:ehDisjoint` / `geof:rcc8dc` — no shared point ([[sfDisjoint]]). */
  def ehDisjoint(a: Column, b: Column): Column = sfDisjoint(a, b)

  /** `geof:ehMeet` / `geof:rcc8ec` — boundary contact only ([[sfTouches]]). */
  def ehMeet(a: Column, b: Column): Column = sfTouches(a, b)

  /** `geof:ehOverlap` / `geof:rcc8po` — interiors partially overlap
    * ([[sfOverlaps]]).
    */
  def ehOverlap(a: Column, b: Column): Column = sfOverlaps(a, b)

  /** `geof:ehContains(a,b)` — b in a's INTERIOR, boundaries disjoint
    * (DE-9IM `T*TFF*FF*`: BB = F). Equal rings share every vertex, so the
    * no-boundary-contact term excludes equality for free.
    */
  def ehContains(a: Column, b: Column): Column =
    when(bothPoly(a, b), {
      val ra = wktRing(a); val rb = wktRing(b)
      boolT(ringWithinRing(rb, ra) && !boundaryContact(ra, rb))
    }).otherwise(sfContains(a, b))

  /** `geof:ehCovers(a,b)` — b within a WITH boundary contact and not equal
    * (DE-9IM `T*TFT*FF*`: BB = T, IE = T — a strictly bigger than b).
    */
  def ehCovers(a: Column, b: Column): Column =
    when(bothPoly(a, b), {
      val ra = wktRing(a); val rb = wktRing(b)
      boolT(ringWithinRing(rb, ra) && boundaryContact(ra, rb) &&
        v(sfEqualsSingle(a, b)) === "false")
    }).otherwise(sfContains(a, b))

  /** `geof:ehInside(a,b)` — converse of [[ehContains]]. */
  def ehInside(a: Column, b: Column): Column =
    when(bothPoly(a, b), {
      val ra = wktRing(a); val rb = wktRing(b)
      boolT(ringWithinRing(ra, rb) && !boundaryContact(ra, rb))
    }).otherwise(sfWithin(a, b))

  /** `geof:ehCoveredBy(a,b)` — converse of [[ehCovers]]. */
  def ehCoveredBy(a: Column, b: Column): Column = ehCovers(b, a)

  /** `geof:rcc8tpp(a,b)` — tangential proper part: a within b, boundary
    * contact, not equal (b's boundary is "touched from inside").
    */
  def rcc8tpp(a: Column, b: Column): Column =
    when(bothPoly(a, b), {
      val ra = wktRing(a); val rb = wktRing(b)
      boolT(ringWithinRing(ra, rb) && boundaryContact(ra, rb) &&
        v(sfEqualsSingle(a, b)) === "false")
    }).otherwise(sfWithin(a, b))

  /** `geof:rcc8ntpp(a,b)` — non-tangential proper part: a strictly inside
    * b's interior (alias of [[ehInside]] for region pairs).
    */
  def rcc8ntpp(a: Column, b: Column): Column = ehInside(a, b)

  /** `geof:rcc8tppi` / `geof:rcc8ntppi` — the converse relations. */
  def rcc8tppi(a: Column, b: Column): Column = rcc8tpp(b, a)
  def rcc8ntppi(a: Column, b: Column): Column = rcc8ntpp(b, a)

  // ---- XPath constructor casts (SPARQL 17.5: `xsd:integer(?x)` …) ----

  /** `xsd:integer(t)` — numeric truncates toward zero, boolean → 1/0,
    * string parses the integer lexical form; anything else is an error
    * (unbound), per the XPath cast rules.
    */
  private def castInteger(t: Column): Column =
    intT(coalesce(
      // shadow passthrough only for NUMERIC datatypes: a temporal or
      // duration shadow is not in the XPath casting table (r18 — the
      // epoch used to leak through as an integer)
      // (try_cast: NaN and ±INF have no integer value → unbound, not an
      // ANSI cast error)
      when(graft.algebra.E.hasNumericDt(t), n(t).try_cast("long")),
      when(dt(t) === Rdf.XsdBoolean,
        when(v(t) === "true", 1L).otherwise(0L)),
      // the XSD whiteSpace facet COLLAPSES before the lexical parse —
      // xsd:integer(" 5 ") is 5, not an error (tranche 13)
      when(trim(v(t)).rlike("^[+-]?[0-9]+$"), trim(v(t)).cast("long"))))

  /** `xsd:double(t)` / `xsd:decimal(t)` / `xsd:float(t)` — numeric passes
    * through, boolean → 1/0, string parses the numeric lexical form.
    */
  private def castDouble(asDt: String)(t: Column): Column = {
    val lex = trim(v(t))
    val d0 = coalesce(
      // numeric shadows only — temporal/duration epochs are not in the
      // XPath casting table (r18)
      when(graft.algebra.E.hasNumericDt(t), n(t)),
      when(dt(t) === Rdf.XsdBoolean,
        when(v(t) === "true", 1.0).otherwise(0.0)),
      // XSD §3.3.4-5 special lexicals
      when(lex === "INF" || lex === "+INF", Double.PositiveInfinity),
      when(lex === "-INF", Double.NegativeInfinity),
      when(kind(t) === Rdf.KindLiteral && lex === "NaN", Double.NaN),
      when(lex.rlike("^[+-]?([0-9]+\\.?[0-9]*|\\.[0-9]+)([eE][+-]?[0-9]+)?$"),
        lex.cast("double")))
    // float rounds through single precision (r18) so float(0.1)≠double(0.1)
    val d = if (asDt == Rdf.XsdFloat) d0.cast(FloatType).cast(DoubleType)
      else d0
    term(lit(Rdf.KindLiteral),
      regexp_replace(
        (if (asDt == Rdf.XsdFloat) d.cast(FloatType).cast(StringType)
         else d.cast(StringType)),
        "Infinity$", "INF"),
      lit(asDt), nullS, d)
  }

  /** `xsd:string(t)` — the lexical form as an xsd:string-typed literal
    * (defined for IRIs and literals; bnodes are an error).
    */
  private def castString(t: Column): Column =
    term(lit(Rdf.KindLiteral),
      when(kind(t) =!= Rdf.KindBlank, v(t)), lit(Rdf.XsdString), nullS, nullD)

  /** `xsd:dateTime(t)` (17.5 constructor, r17 probe-found gap): a valid
    * dateTime lexical in a string/plain/dateTime literal casts (num
    * shadow = UTC-normalized epoch micros, tz-less read as UTC — the
    * engine convention); an xsd:date extends to midnight. Lang-tagged
    * literals, IRIs, bnodes, and invalid lexical forms error (null).
    */
  private val DateTimeLex =
    "^-?\\d{4,}-\\d{2}-\\d{2}T\\d{2}:\\d{2}:\\d{2}(\\.\\d+)?(Z|[+-]\\d{2}:\\d{2})?$"
  private def castDateTime(t: Column): Column = {
    val lex = trim(v(t))
    val strSrc = lg(t).isNull &&
      (dtNorm(t) === Rdf.XsdString || dt(t) === Rdf.XsdDateTime) &&
      lex.rlike(DateTimeLex)
    val dateSrc = dt(t) === XsdDate
    // An xsd:date may legally carry a timezone ("2024-03-05+02:00"^^xsd:
    // date); the XPath cast yields midnight IN THAT ZONE, so the zone
    // suffix must move AFTER the injected time part (r17 ADVICE: naive
    // concat produced "…+02:00T00:00:00", an invalid lexical that errored).
    val dateTz = regexp_extract(lex, "(Z|[+-]\\d{2}:\\d{2})$", 1)
    val dateDay = regexp_replace(lex, "(Z|[+-]\\d{2}:\\d{2})$", "")
    val dtLex = when(strSrc, lex)
      .when(dateSrc, concat(dateDay, lit("T00:00:00"), dateTz))
    val micros = unix_micros(try_to_timestamp(dtLex)).cast(DoubleType)
    when(kind(t) === Rdf.KindLiteral && micros.isNotNull,
      term(lit(Rdf.KindLiteral), dtLex, lit(Rdf.XsdDateTime), nullS, micros))
      .otherwise(graft.algebra.E.nullTerm)
  }

  /** `xsd:time(t)` (17.5, r18 — first-class xsd:time): a valid time
    * lexical in a string/plain/time literal casts; an xsd:dateTime
    * extracts its time component KEEPING the original timezone (XPath
    * dateTime→time). The num shadow is epoch-within-day micros,
    * UTC-normalized — the same convention as [[graft.model.RdfTerm.typed]]
    * (XSD's "24:00:00" folds to midnight). Lang-tagged literals, IRIs,
    * bnodes, and invalid lexical forms error (null).
    */
  private val TimeLexStrict =
    "^(([01]\\d|2[0-3]):[0-5]\\d:[0-5]\\d(\\.\\d+)?|24:00:00(\\.0+)?)" +
      "(Z|[+-]\\d{2}:\\d{2})?$"
  /** Epoch-within-day micros of a VALID xsd:time lexical (UTC-normalized;
    * the RdfTerm.typed convention). Callers validate the lexical first.
    */
  private def timeShadowOf(lex: Column): Column = {
    val hh = regexp_extract(lex, "^(\\d{2}):", 1).cast(DoubleType)
    val mm = regexp_extract(lex, "^\\d{2}:(\\d{2})", 1).cast(DoubleType)
    val ss = regexp_extract(lex, "^\\d{2}:\\d{2}:(\\d{2}(?:\\.\\d+)?)", 1)
      .cast(DoubleType)
    val z = regexp_extract(lex, "(Z|[+-]\\d{2}:\\d{2})$", 1)
    val zOff = when(z === "" || z === "Z", 0.0).otherwise(
      when(z.startsWith("-"), -1.0).otherwise(1.0) *
        (regexp_extract(z, "(\\d{2}):(\\d{2})$", 1).cast(DoubleType) * 3600.0 +
          regexp_extract(z, "(\\d{2}):(\\d{2})$", 2).cast(DoubleType) * 60.0))
    // pmod day fold for the "24:00:00" lexical (hour 24 → 0, per XSD 1.1)
    (pmod(hh.cast("int"), lit(24)).cast(DoubleType) * 3600.0 + mm * 60.0 +
      ss) * 1e6 - zOff * 1e6
  }

  private def castTime(t: Column): Column = {
    val lex0 = trim(v(t))
    val strSrc = lg(t).isNull &&
      (dtNorm(t) === Rdf.XsdString || dt(t) === Rdf.XsdTime) &&
      lex0.rlike(TimeLexStrict)
    val dtSrc = dt(t) === Rdf.XsdDateTime && n(t).isNotNull
    val lex = when(strSrc, lex0).when(dtSrc, regexp_extract(lex0,
      "T(\\d{2}:\\d{2}:\\d{2}(?:\\.\\d+)?(?:Z|[+-]\\d{2}:\\d{2})?)$", 1))
    val micros = timeShadowOf(lex)
    when(kind(t) === Rdf.KindLiteral && lex.isNotNull && lex =!= "" &&
      micros.isNotNull,
      term(lit(Rdf.KindLiteral), lex, lit(Rdf.XsdTime), nullS, micros))
      .otherwise(graft.algebra.E.nullTerm)
  }

  /** `xsd:dayTimeDuration(t)` (17.5 extension, r18): a valid XSD
    * dayTimeDuration lexical in a string/plain/duration literal casts,
    * keeping the lexical verbatim and computing the signed-micros
    * shadow. At least one component is required and a 'T' must introduce
    * time components; lang-tagged literals, IRIs, bnodes and invalid
    * forms error.
    */
  /** True iff `lex` is a valid XSD dayTimeDuration lexical: leading sign
    * only, at least one component, a 'T' must introduce time components.
    */
  private def durLexOk(lex: Column): Column =
    lex.rlike("^-?P(\\d+D)?(T(\\d+H)?(\\d+M)?(\\d+(\\.\\d+)?S)?)?$") &&
      lex.rlike("[DHMS]") && !lex.rlike("T$")

  /** Signed total micros of a VALID dayTimeDuration lexical. */
  private def durMicrosOf(lex: Column): Column = {
    // empty-match guard BEFORE the cast: ANSI mode throws on ''::double
    def g(p: String): Column = {
      val x = regexp_extract(lex, p, 1)
      when(x === "", lit(0.0)).otherwise(x.cast(DoubleType))
    }
    val total = (g("(\\d+)D") * 86400.0 + g("(\\d+)H") * 3600.0 +
      g("(\\d+)M(?![A-Z0-9])") * 60.0 + g("(\\d+(?:\\.\\d+)?)S")) * 1e6
    when(lex.startsWith("-"), -total).otherwise(total)
  }

  /** True iff `lex` is a valid XSD yearMonthDuration lexical. */
  private def ymLexOk(lex: Column): Column =
    lex.rlike("^-?P(\\d+Y)?(\\d+M)?$") && lex.rlike("[YM]")

  /** Signed total months of a VALID yearMonthDuration lexical. */
  private def ymMonthsOf(lex: Column): Column = {
    def g(p: String): Column = {
      val x = regexp_extract(lex, p, 1)
      when(x === "", lit(0.0)).otherwise(x.cast(DoubleType))
    }
    val total = g("(\\d+)Y") * 12.0 + g("(\\d+)M")
    when(lex.startsWith("-"), -total).otherwise(total)
  }

  /** `xsd:yearMonthDuration(t)` (17.5 extension, r18): mirrors
    * [[castDayTimeDuration]] for the calendar-month family.
    */
  private def castYearMonthDuration(t: Column): Column = {
    val lex = trim(v(t))
    val srcOk = kind(t) === Rdf.KindLiteral && lg(t).isNull &&
      (dtNorm(t) === Rdf.XsdString || dt(t) === Rdf.XsdYearMonthDuration)
    when(srcOk && ymLexOk(lex),
      term(lit(Rdf.KindLiteral), lex, lit(Rdf.XsdYearMonthDuration), nullS,
        ymMonthsOf(lex)))
      .otherwise(graft.algebra.E.nullTerm)
  }

  private def castDayTimeDuration(t: Column): Column = {
    val lex = trim(v(t))
    val okLex = durLexOk(lex)
    val srcOk = kind(t) === Rdf.KindLiteral && lg(t).isNull &&
      (dtNorm(t) === Rdf.XsdString || dt(t) === Rdf.XsdDayTimeDuration)
    val micros = durMicrosOf(lex)
    when(srcOk && okLex,
      term(lit(Rdf.KindLiteral), lex, lit(Rdf.XsdDayTimeDuration), nullS,
        micros))
      .otherwise(graft.algebra.E.nullTerm)
  }

  /** `xsd:boolean(t)` — boolean passes through, numeric → ≠ 0, string
    * "true"/"1"/"false"/"0"; other lexical forms are an error.
    */
  private def castBoolean(t: Column): Column = {
    val b = when(dt(t) === Rdf.XsdBoolean, v(t) === "true")
      .when(n(t).isNotNull, n(t) =!= 0.0)
      .when(trim(v(t)).isin("true", "1"), lit(true))
      .when(trim(v(t)).isin("false", "0"), lit(false))
    term(lit(Rdf.KindLiteral),
      when(b, "true").when(!b, "false"), lit(Rdf.XsdBoolean), nullS, nullD)
  }

  // ---- custom-function SPI (r17) — the GraphDB Java-plugin analog:
  // user code registers an IRI-named function once per JVM (like the
  // binary's classpath SPI) and every engine's `<iri>(args)` call site
  // dispatches to it. Implementations receive/return TERM-struct columns
  // (build results with [[term]]/[[strT]]/[[numT]]/[[iriT]]; read args
  // via `getField("value"/"num"/…)`); a null term is the SPARQL error.
  // Built-in namespaces are reserved — registration there is rejected so
  // a plugin can never shadow a spec function; built-in dispatch also
  // matches FIRST, so even a same-IRI race cannot override it.
  private val registeredFns =
    new java.util.concurrent.ConcurrentHashMap[String, Seq[Column] => Column]()
  private val fnVersion = new java.util.concurrent.atomic.AtomicLong
  /** Bumped by every (un)registration: compiled plans may embed a custom
    * function, so cached query shapes key on it.
    */
  def version: Long = fnVersion.get
  /** Namespaces owned by the engine's built-in dispatch. */
  val BuiltinFnNamespaces: Seq[String] = Seq(
    "http://www.w3.org/2001/XMLSchema#",
    "http://www.opengis.net/def/function/geosparql/",
    "http://www.w3.org/2005/xpath-functions/math#",
    "urn:graft:fn:")
  def registerFunction(iri: String, impl: Seq[Column] => Column): Unit = {
    BuiltinFnNamespaces.find(iri.startsWith).foreach(ns =>
      throw new IllegalArgumentException(
        s"cannot register <$iri>: namespace $ns is built-in"))
    registeredFns.put(iri, impl)
    fnVersion.incrementAndGet()
    ()
  }
  def unregisterFunction(iri: String): Unit = {
    registeredFns.remove(iri); fnVersion.incrementAndGet(); ()
  }

  /** IRI-named function dispatch (GeoSPARQL et al. are addressed by IRI,
    * not keyword: `geof:distance(?a, ?b)`).
    */
  def callIri(iri: String, args: Seq[Column]): Column = (iri, args) match {
    case (Rdf.XsdInteger, Seq(a)) => castInteger(a)
    case (Rdf.XsdDecimal, Seq(a)) => castDouble(Rdf.XsdDecimal)(a)
    case (Rdf.XsdDouble, Seq(a)) => castDouble(Rdf.XsdDouble)(a)
    case ("http://www.w3.org/2001/XMLSchema#float", Seq(a)) =>
      castDouble("http://www.w3.org/2001/XMLSchema#float")(a)
    case (Rdf.XsdString, Seq(a)) => castString(a)
    case (Rdf.XsdBoolean, Seq(a)) => castBoolean(a)
    case (Rdf.XsdDateTime, Seq(a)) => castDateTime(a)
    case (Rdf.XsdTime, Seq(a)) => castTime(a)
    case (Rdf.XsdDayTimeDuration, Seq(a)) => castDayTimeDuration(a)
    case (Rdf.XsdYearMonthDuration, Seq(a)) => castYearMonthDuration(a)
    case ("http://www.opengis.net/def/function/geosparql/distance", Seq(a, b)) =>
      geoDistance(a, b)
    case ("http://www.opengis.net/def/function/geosparql/distance", Seq(a, b, u)) =>
      geoDistanceUom(a, b, u)
    case ("http://www.opengis.net/def/function/geosparql/getSRID", Seq(a)) =>
      getSRID(a)
    case ("http://www.opengis.net/def/function/geosparql/transform", Seq(a, s)) =>
      geoTransform(a, s)
    case ("http://www.opengis.net/def/function/geosparql/convexHull", Seq(a)) =>
      geoConvexHull(a)
    case ("http://www.opengis.net/def/function/geosparql/buffer", Seq(a, r, u)) =>
      geoBuffer(a, r, u)
    case ("http://www.opengis.net/def/function/geosparql/intersection", Seq(a, b)) =>
      geoIntersection(a, b)
    case ("http://www.opengis.net/def/function/geosparql/union", Seq(a, b)) =>
      geoUnion(a, b)
    case ("http://www.opengis.net/def/function/geosparql/difference", Seq(a, b)) =>
      geoDifference(a, b)
    case ("http://www.opengis.net/def/function/geosparql/symDifference", Seq(a, b)) =>
      geoSymDifference(a, b)
    case ("http://www.opengis.net/def/function/geosparql/relate", Seq(a, b, p)) =>
      geoRelate(a, b, p)
    case ("http://www.opengis.net/def/function/geosparql/area", Seq(a)) =>
      geoArea(a)
    case ("http://www.opengis.net/def/function/geosparql/perimeter", Seq(a)) =>
      geoPerimeter(a)
    case ("http://www.opengis.net/def/function/geosparql/length", Seq(a)) =>
      geoLength(a)
    case ("http://www.opengis.net/def/function/geosparql/area", Seq(a, u)) =>
      geoAreaUom(a, u)
    case ("http://www.opengis.net/def/function/geosparql/perimeter", Seq(a, u)) =>
      geoPerimeterUom(a, u)
    case ("http://www.opengis.net/def/function/geosparql/length", Seq(a, u)) =>
      geoLengthUom(a, u)
    case ("http://www.opengis.net/def/function/geosparql/metricArea", Seq(a)) =>
      geoMetricArea(a)
    case ("http://www.opengis.net/def/function/geosparql/metricPerimeter", Seq(a)) =>
      geoMetricPerimeter(a)
    case ("http://www.opengis.net/def/function/geosparql/metricLength", Seq(a)) =>
      geoMetricLength(a)
    case ("http://www.opengis.net/def/function/geosparql/centroid", Seq(a)) =>
      geoCentroid(a)
    case ("http://www.opengis.net/def/function/geosparql/metricCentroid", Seq(a)) =>
      geoMetricCentroid(a)
    case ("http://www.opengis.net/def/function/geosparql/ehEquals", Seq(a, b)) =>
      ehEquals(a, b)
    case ("http://www.opengis.net/def/function/geosparql/ehDisjoint", Seq(a, b)) =>
      ehDisjoint(a, b)
    case ("http://www.opengis.net/def/function/geosparql/ehMeet", Seq(a, b)) =>
      ehMeet(a, b)
    case ("http://www.opengis.net/def/function/geosparql/ehOverlap", Seq(a, b)) =>
      ehOverlap(a, b)
    case ("http://www.opengis.net/def/function/geosparql/ehCovers", Seq(a, b)) =>
      ehCovers(a, b)
    case ("http://www.opengis.net/def/function/geosparql/ehCoveredBy", Seq(a, b)) =>
      ehCoveredBy(a, b)
    case ("http://www.opengis.net/def/function/geosparql/ehInside", Seq(a, b)) =>
      ehInside(a, b)
    case ("http://www.opengis.net/def/function/geosparql/ehContains", Seq(a, b)) =>
      ehContains(a, b)
    case ("http://www.opengis.net/def/function/geosparql/rcc8eq", Seq(a, b)) =>
      ehEquals(a, b)
    case ("http://www.opengis.net/def/function/geosparql/rcc8dc", Seq(a, b)) =>
      ehDisjoint(a, b)
    case ("http://www.opengis.net/def/function/geosparql/rcc8ec", Seq(a, b)) =>
      ehMeet(a, b)
    case ("http://www.opengis.net/def/function/geosparql/rcc8po", Seq(a, b)) =>
      ehOverlap(a, b)
    case ("http://www.opengis.net/def/function/geosparql/rcc8tpp", Seq(a, b)) =>
      rcc8tpp(a, b)
    case ("http://www.opengis.net/def/function/geosparql/rcc8ntpp", Seq(a, b)) =>
      rcc8ntpp(a, b)
    case ("http://www.opengis.net/def/function/geosparql/rcc8tppi", Seq(a, b)) =>
      rcc8tppi(a, b)
    case ("http://www.opengis.net/def/function/geosparql/rcc8ntppi", Seq(a, b)) =>
      rcc8ntppi(a, b)
    case ("http://www.opengis.net/def/function/geosparql/sfWithin", Seq(a, b)) =>
      sfWithin(a, b)
    case ("http://www.opengis.net/def/function/geosparql/sfContains", Seq(a, b)) =>
      sfContains(a, b)
    case ("http://www.opengis.net/def/function/geosparql/sfIntersects", Seq(a, b)) =>
      sfIntersects(a, b)
    case ("http://www.opengis.net/def/function/geosparql/sfDisjoint", Seq(a, b)) =>
      sfDisjoint(a, b)
    case ("http://www.opengis.net/def/function/geosparql/sfOverlaps", Seq(a, b)) =>
      sfOverlaps(a, b)
    case ("http://www.opengis.net/def/function/geosparql/sfTouches", Seq(a, b)) =>
      sfTouches(a, b)
    case ("http://www.opengis.net/def/function/geosparql/sfEquals", Seq(a, b)) =>
      sfEquals(a, b)
    case ("http://www.opengis.net/def/function/geosparql/sfCrosses", Seq(a, b)) =>
      sfCrosses(a, b)
    case ("http://www.opengis.net/def/function/geosparql/envelope", Seq(a)) =>
      geoEnvelope(a)
    case ("http://www.opengis.net/def/function/geosparql/boundary", Seq(a)) =>
      geoBoundary(a)
    case ("urn:graft:fn:wktLon", Seq(a)) => wktLon(a)
    case ("urn:graft:fn:wktLat", Seq(a)) => wktLat(a)
    case ("urn:graft:fn:makeValid", Seq(a)) => geoMakeValid(a)
    // XPath Functions and Operators `math:` namespace (r14) — supported
    // natively by the RDF4J stack the reference's binary builds on:
    // xsd:double semantics, IEEE specials flow through (sqrt(-1) = NaN
    // per F&O), non-numeric arguments error to unbound like every other
    // function.
    case (m, as) if m.startsWith(MathNs) => (m.stripPrefix(MathNs), as) match {
      case ("pi", Seq()) => numT(lit(math.Pi))
      case ("sqrt", Seq(a)) => numT(sqrt(n(a)))
      case ("exp", Seq(a)) => numT(exp(n(a)))
      case ("exp10", Seq(a)) => numT(pow(lit(10.0), n(a)))
      case ("log", Seq(a)) => numT(log(n(a)))
      case ("log10", Seq(a)) => numT(log10(n(a)))
      case ("pow", Seq(a, b)) => numT(pow(n(a), n(b)))
      case ("sin", Seq(a)) => numT(sin(n(a)))
      case ("cos", Seq(a)) => numT(cos(n(a)))
      case ("tan", Seq(a)) => numT(tan(n(a)))
      case ("asin", Seq(a)) => numT(asin(n(a)))
      case ("acos", Seq(a)) => numT(acos(n(a)))
      case ("atan", Seq(a)) => numT(atan(n(a)))
      case ("atan2", Seq(a, b)) => numT(atan2(n(a), n(b)))
      case (local, _) => throw new IllegalArgumentException(
        s"unknown math function math:$local/${as.size}")
    }
    // registered custom functions (r17 SPI) — consulted AFTER every
    // built-in so registration can never shadow the spec surface
    case (other, as) if registeredFns.containsKey(other) =>
      registeredFns.get(other)(as)
    case (other, as) =>
      throw new IllegalArgumentException(s"unknown function <$other>/${as.size}")
  }

  private val MathNs = "http://www.w3.org/2005/xpath-functions/math#"

  /** Name-based dispatch for the text parser. Arity handled by the caller;
    * `base` is the query's BASE for the IRI/URI constructor (17.4.2.6).
    */
  def call(name: String, args: Seq[Column], base: String = ""): Column =
    (name.toUpperCase, args) match {
    case ("STR", Seq(a)) => str1(a)
    case ("LANG", Seq(a)) => lang1(a)
    case ("DATATYPE", Seq(a)) => datatype1(a)
    case ("IRI", Seq(a)) => iri1(a, base)
    case ("URI", Seq(a)) => iri1(a, base)
    case ("STRDT", Seq(a, b)) => strdt(a, b)
    case ("STRLANG", Seq(a, b)) => strlang(a, b)
    case ("UUID", Seq()) => uuidT()
    case ("STRUUID", Seq()) => struuid()
    case ("ISIRI", Seq(a)) => isIri(a)
    case ("ISURI", Seq(a)) => isIri(a)
    case ("ISBLANK", Seq(a)) => isBlank(a)
    case ("ISLITERAL", Seq(a)) => isLiteral(a)
    case ("ISNUMERIC", Seq(a)) => isNumeric(a)
    case ("BOUND", Seq(a)) => bound(a)
    case ("SAMETERM", Seq(a, b)) => sameTerm(a, b)
    case ("STRLEN", Seq(a)) => strlen(a)
    case ("SUBSTR", Seq(a, b)) => substr(a, b, None)
    case ("SUBSTR", Seq(a, b, c)) => substr(a, b, Some(c))
    case ("UCASE", Seq(a)) => ucase(a)
    case ("LCASE", Seq(a)) => lcase(a)
    case ("STRSTARTS", Seq(a, b)) => strstarts(a, b)
    case ("STRENDS", Seq(a, b)) => strends(a, b)
    case ("CONTAINS", Seq(a, b)) => containsF(a, b)
    case ("STRBEFORE", Seq(a, b)) => strbefore(a, b)
    case ("STRAFTER", Seq(a, b)) => strafter(a, b)
    case ("CONCAT", as) => concatF(as)
    case ("ENCODE_FOR_URI", Seq(a)) => encodeForUri(a)
    case ("REGEX", Seq(a, b)) => regex2(a, b)
    case ("REGEX", Seq(a, b, c)) => regex3(a, b, c)
    case ("REPLACE", Seq(a, b, c)) => replaceF(a, b, c)
    case ("REPLACE", Seq(a, b, c, d)) => replace4(a, b, c, d)
    case ("BNODE", Seq()) => bnode0()
    case ("BNODE", Seq(a)) => bnode1(a)
    case ("LANGMATCHES", Seq(a, b)) => langMatches(a, b)
    case ("ABS", Seq(a)) => absF(a)
    case ("ROUND", Seq(a)) => roundF(a)
    case ("CEIL", Seq(a)) => ceilF(a)
    case ("FLOOR", Seq(a)) => floorF(a)
    case ("RAND", Seq()) => randF()
    case ("NOW", Seq()) => nowF()
    case ("YEAR", Seq(a)) => yearF(a)
    case ("MONTH", Seq(a)) => monthF(a)
    case ("DAY", Seq(a)) => dayF(a)
    case ("HOURS", Seq(a)) => hoursF(a)
    case ("MINUTES", Seq(a)) => minutesF(a)
    case ("SECONDS", Seq(a)) => secondsF(a)
    case ("TIMEZONE", Seq(a)) => timezoneF(a)
    case ("TZ", Seq(a)) => tzF(a)
    case ("MD5", Seq(a)) => md5F(a)
    case ("SHA1", Seq(a)) => sha1F(a)
    case ("SHA256", Seq(a)) => sha256F(a)
    case ("SHA384", Seq(a)) => sha384F(a)
    case ("SHA512", Seq(a)) => sha512F(a)
    case ("IF", Seq(a, b, c)) => ifF(a, b, c)
    case ("COALESCE", as) => coalesceF(as)
    case ("TRIPLE", Seq(a, b, c)) => tripleF(a, b, c)
    case ("ISTRIPLE", Seq(a)) => isTripleF(a)
    case (acc @ ("SUBJECT" | "PREDICATE" | "OBJECT"), _) =>
      // component lookup needs the decomposition quads — the parser rewrites
      // BIND/projection uses to a LeftJoin; other positions are unsupported
      throw new IllegalArgumentException(
        s"$acc(?t) is only supported in BIND / SELECT expression position " +
          "(it joins the quoted-triple decomposition quads)")
    case (other, as) =>
      throw new IllegalArgumentException(s"unknown function $other/${as.size}")
  }
}
