package graft.model

/** RDF term/quad data model (SURVEY.md §1.5 decision record).
  *
  * The reference stores RDF quads `(subject, predicate, object, graph)` in
  * Ontotext GraphDB (reference `Dockerfile:2`; context index enabled at
  * `init-graphdb.sh:56-60`). Here a quad is one row of a `Dataset[Quad]`:
  *
  *   - `graph` — named-graph IRI, or [[Rdf.DefaultGraph]] (the repo's own loads
  *     all target the default graph, `init-graphdb.sh:90-93`).
  *   - `s` — subject IRI, or blank node encoded as `_:label` (predicates and
  *     subjects never need the full term struct: subjects are IRI/blank,
  *     predicates always IRI).
  *   - `p` — predicate IRI.
  *   - `o` — full term struct [[RdfTerm]]: object position admits IRIs, blank
  *     nodes, plain/lang-tagged/typed literals (`areas.ttl:13` shows `@en`;
  *     `facilities.ttl:178` shows `xsd:decimal`).
  *
  * `RdfTerm.num` is a pre-parsed numeric shadow of the lexical form so numeric
  * filters (reference query `facilities.ttl:216-217`) are sargable without
  * per-row string parsing; temporal literals store epoch micros there (exact in
  * a Double up to 2^53 ≫ any realistic timestamp). At scale the quad store is
  * written as Parquet partitioned by `p` (the reference's "predicate list"
  * index, `init-graphdb.sh:61-65`) and optionally `graph` (its context index).
  */
object Rdf {
  val DefaultGraph = "urn:graft:default"

  // Well-known vocabulary IRIs.
  val RdfType = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
  val RdfFirst = "http://www.w3.org/1999/02/22-rdf-syntax-ns#first"
  val RdfRest = "http://www.w3.org/1999/02/22-rdf-syntax-ns#rest"
  val RdfNil = "http://www.w3.org/1999/02/22-rdf-syntax-ns#nil"
  val RdfsDomain = "http://www.w3.org/2000/01/rdf-schema#domain"
  val RdfsRange = "http://www.w3.org/2000/01/rdf-schema#range"
  val RdfsSubClassOf = "http://www.w3.org/2000/01/rdf-schema#subClassOf"
  val RdfsSubPropertyOf = "http://www.w3.org/2000/01/rdf-schema#subPropertyOf"
  val RdfsLabel = "http://www.w3.org/2000/01/rdf-schema#label"
  val OwlInverseOf = "http://www.w3.org/2002/07/owl#inverseOf"
  val OwlSymmetric = "http://www.w3.org/2002/07/owl#SymmetricProperty"
  val OwlTransitive = "http://www.w3.org/2002/07/owl#TransitiveProperty"
  val OwlFunctional = "http://www.w3.org/2002/07/owl#FunctionalProperty"
  val OwlInverseFunctional = "http://www.w3.org/2002/07/owl#InverseFunctionalProperty"
  val OwlSameAs = "http://www.w3.org/2002/07/owl#sameAs"
  val OwlEquivalentClass = "http://www.w3.org/2002/07/owl#equivalentClass"
  val OwlEquivalentProperty = "http://www.w3.org/2002/07/owl#equivalentProperty"

  // GraphDB's special PSEUDO-GRAPHS (documented query surface of the
  // shipped binary): naming one in GRAPH / FROM / FROM NAMED scans an
  // alternate view of a repository — asserted-only statements,
  // inferred-only statements, or the closure without sameAs expansion.
  val OntoExplicit = "http://www.ontotext.com/explicit"
  val OntoImplicit = "http://www.ontotext.com/implicit"
  val OntoDisableSameAs = "http://www.ontotext.com/disable-sameAs"
  val OntoSkipRedundantImplicit =
    "http://www.ontotext.com/skip-redundant-implicit"
  /** Data-history pseudo-graph prefix (r16): `urn:graft:hist:<epoch>`
    * names the repository's point-in-time query view after commit number
    * `<epoch>` (1-based) — the binary's data-history/versioning plugin
    * analog, routed through the same pseudo-graph machinery.
    */
  val HistPrefix = "urn:graft:hist:"
  /** Change-feed pseudo-graph family (r17): `urn:graft:changes:<from>:
    * <to>:added` / `…:removed` — the statements that appeared (resp.
    * vanished) between two commit epochs, queryable like any graph.
    */
  val ChangesPrefix = "urn:graft:changes:"

  // RDF-star (shipped by the reference engine, GraphDB 10.x): a quoted
  // triple `<< s p o >>` is modeled as a deterministic IRI
  // `urn:graft:qt:<md5 of canonical s|p|o>` plus three decomposition quads
  // under these predicates — so SPARQL-star patterns compile to ordinary
  // BGP joins and the term model stays closed (no 4th term kind).
  val QtPrefix = "urn:graft:qt:"
  val QtSubj = "urn:graft:qt#s"
  val QtPred = "urn:graft:qt#p"
  val QtObj = "urn:graft:qt#o"

  val XsdString = "http://www.w3.org/2001/XMLSchema#string"
  /** Datatype of JSON-LD 1.1 `@json` literals (JSON-LD 1.1 §4.2.2). */
  val RdfJsonDt = "http://www.w3.org/1999/02/22-rdf-syntax-ns#JSON"
  val XsdInteger = "http://www.w3.org/2001/XMLSchema#integer"
  val XsdDecimal = "http://www.w3.org/2001/XMLSchema#decimal"
  val XsdDouble = "http://www.w3.org/2001/XMLSchema#double"
  val XsdBoolean = "http://www.w3.org/2001/XMLSchema#boolean"
  val XsdDateTime = "http://www.w3.org/2001/XMLSchema#dateTime"
  val XsdDate = "http://www.w3.org/2001/XMLSchema#date"
  val XsdTime = "http://www.w3.org/2001/XMLSchema#time"
  val XsdDayTimeDuration =
    "http://www.w3.org/2001/XMLSchema#dayTimeDuration"
  val XsdYearMonthDuration =
    "http://www.w3.org/2001/XMLSchema#yearMonthDuration"
  val XsdFloat = "http://www.w3.org/2001/XMLSchema#float"
  val XsdAnyUri = "http://www.w3.org/2001/XMLSchema#anyURI"

  // Term kind discriminant (SURVEY §1.5): sorts unbound < blank < IRI < literal
  // is built on top of this in the compiler's sort key.
  val KindIri: Byte = 0
  val KindBlank: Byte = 1
  val KindLiteral: Byte = 2
}

/** An RDF term in object position.
  *
  * @param kind  0 = IRI, 1 = blank node, 2 = literal
  * @param value lexical form (IRI string, blank label, or literal lexical form)
  * @param dtype datatype IRI for typed literals, else null
  * @param lang  language tag (lowercased, no '@') for lang literals, else null
  * @param num   numeric shadow: parsed Double for numeric literals, epoch
  *              micros for xsd:dateTime, else null
  */
case class RdfTerm(
    kind: Byte,
    value: String,
    dtype: Option[String],
    lang: Option[String],
    num: Option[Double]) {
  def isIri: Boolean = kind == Rdf.KindIri
  def isLiteral: Boolean = kind == Rdf.KindLiteral
}

object RdfTerm {
  def iri(v: String): RdfTerm = RdfTerm(Rdf.KindIri, v, None, None, None)
  def blank(label: String): RdfTerm = RdfTerm(Rdf.KindBlank, label, None, None, None)
  def str(v: String): RdfTerm = RdfTerm(Rdf.KindLiteral, v, None, None, None)
  def lang(v: String, tag: String): RdfTerm =
    RdfTerm(Rdf.KindLiteral, v, None, Some(tag.toLowerCase), None)
  /** XSD float/double special lexicals (§3.3.4-5) Java won't parse. Java
    * does parse "NaN", so a NaN literal carries a NaN shadow, as do
    * `xsd:double("NaN")` and `STRDT("NaN", xsd:double)`. Spark orders
    * NaN = NaN true / NaN above every number, the opposite of XPath (every
    * NaN comparison false), so the SPARQL comparisons exclude NaN shadows
    * explicitly (SparqlFunctions.eqB/cmp).
    */
  private val xsdSpecial = Map(
    "INF" -> Double.PositiveInfinity, "+INF" -> Double.PositiveInfinity,
    "-INF" -> Double.NegativeInfinity)
  def typed(v: String, dtype: String): RdfTerm = {
    val num =
      if (dtype == Rdf.XsdInteger || dtype == Rdf.XsdDecimal)
        try Some(v.toDouble) catch { case _: NumberFormatException => None }
      else if (dtype == Rdf.XsdDouble)
        // XSD's special lexicals INF/-INF/NaN are valid doubles (r18);
        // Java's parser wants "Infinity", so map them first.
        try Some(xsdSpecial.getOrElse(v, v.toDouble))
        catch { case _: NumberFormatException => None }
      else if (dtype == Rdf.XsdFloat)
        // r18: xsd:float is in the 17.3 operator table — data-loaded float
        // literals must compare and compute like constructor-built ones.
        // Round THROUGH Float so float(0.1) ≠ double(0.1), per XPath
        // single-precision value semantics.
        try Some(xsdSpecial.getOrElse(v, v.toFloat.toDouble))
        catch { case _: NumberFormatException => None }
      else if (dtype == Rdf.XsdDateTime)
        // UTC-normalized epoch MICROS (the engine's dateTime shadow
        // convention — r11: parser-built literals get it too, so
        // YEAR/…/SECONDS and value-order comparisons work on any valid
        // lexical form, not only DirectMapper timestamp columns); a
        // tz-less form reads as UTC, matching the NTZ column convention
        try {
          val inst = try java.time.OffsetDateTime.parse(v).toInstant
          catch {
            case _: java.time.format.DateTimeParseException =>
              java.time.LocalDateTime.parse(v)
                .toInstant(java.time.ZoneOffset.UTC)
          }
          Some(inst.getEpochSecond * 1e6 + inst.getNano / 1000.0)
        } catch { case _: Exception => None }
      else if (dtype == Rdf.XsdDate)
        // XSD allows a timezone on a date ("2024-03-05+02:00"); its order
        // position is the STARTING instant — midnight in that zone (XPath
        // F&O date order) — so the offset shifts the shadow (r18; a
        // tz-less date stays midnight UTC).
        try {
          val z = "(Z|[+-]\\d{2}:\\d{2})$".r.findFirstIn(v)
          val day = java.time.LocalDate.parse(z.fold(v)(s => v.dropRight(s.length)))
          val off = z.map(java.time.ZoneOffset.of(_).getTotalSeconds).getOrElse(0)
          Some(day.toEpochDay * 86400.0e6 - off * 1e6)
        } catch { case _: Exception => None }
      else if (dtype == Rdf.XsdTime)
        // Epoch-WITHIN-DAY micros, UTC-normalized (r18: first-class
        // xsd:time — the same shadow convention as dateTime, on XPath's
        // reference day): "09:00:00+02:00" < "08:00:00Z" holds because the
        // offset subtracts. May be negative or > 24 h — correct for the
        // fixed-reference-day total order. XSD 1.1 §3.3.8: "24:00:00" (zero
        // fraction only) denotes the same value as midnight.
        try {
          // strict XSD lexical (java.time would accept "09:00" without
          // seconds, which XSD rejects — an invalid lexical must carry NO
          // shadow so comparisons on it type-error)
          if (!v.matches("\\d{2}:\\d{2}:\\d{2}(\\.\\d+)?(Z|[+-]\\d{2}:\\d{2})?"))
            throw new IllegalArgumentException(v)
          val lex =
            if (v.matches("24:00:00(\\.0+)?(Z|[+-]\\d{2}:\\d{2})?"))
              "00:00:00" + v.substring(8)
            else v
          val shadow = try {
            val o = java.time.OffsetTime.parse(lex)
            o.toLocalTime.toNanoOfDay / 1000.0 -
              o.getOffset.getTotalSeconds * 1e6
          } catch {
            case _: java.time.format.DateTimeParseException =>
              java.time.LocalTime.parse(lex).toNanoOfDay / 1000.0
          }
          Some(shadow)
        } catch { case _: Exception => None }
      else if (dtype == Rdf.XsdDayTimeDuration)
        // SIGNED total micros (r18 — first-class duration arithmetic):
        // strict XSD dayTimeDuration lexical (leading sign only, at
        // least one component, a 'T' must introduce time components)
        try {
          val m = ("^(-)?P(?:(\\d+)D)?(?:T(?:(\\d+)H)?(?:(\\d+)M)?" +
            "(?:(\\d+(?:\\.\\d+)?)S)?)?$").r.findFirstMatchIn(v)
            .getOrElse(throw new IllegalArgumentException(v))
          val Seq(sg, dd, hh, mi, ss) = (1 to 5).map(m.group)
          if (dd == null && hh == null && mi == null && ss == null)
            throw new IllegalArgumentException(v) // "P" / "PT" alone
          if (v.contains("T") && hh == null && mi == null && ss == null)
            throw new IllegalArgumentException(v) // empty T part
          def n(s: String) = if (s == null) 0.0 else s.toDouble
          val total = (n(dd) * 86400.0 + n(hh) * 3600.0 + n(mi) * 60.0 +
            n(ss)) * 1e6
          Some(if (sg != null) -total else total)
        } catch { case _: Exception => None }
      else if (dtype == Rdf.XsdYearMonthDuration)
        // SIGNED total MONTHS (r18): the calendar-month duration family's
        // shadow. Strict XSD lexical — sign first, at least one component.
        try {
          val m = "^(-)?P(?:(\\d+)Y)?(?:(\\d+)M)?$".r.findFirstMatchIn(v)
            .getOrElse(throw new IllegalArgumentException(v))
          val Seq(sg, yy, mm) = (1 to 3).map(m.group)
          if (yy == null && mm == null)
            throw new IllegalArgumentException(v) // bare "P"
          def n(s: String) = if (s == null) 0.0 else s.toDouble
          val total = n(yy) * 12.0 + n(mm)
          Some(if (sg != null) -total else total)
        } catch { case _: Exception => None }
      else None
    RdfTerm(Rdf.KindLiteral, v, Some(dtype), None, num)
  }
  def int(v: Long): RdfTerm =
    RdfTerm(Rdf.KindLiteral, v.toString, Some(Rdf.XsdInteger), None, Some(v.toDouble))
  def dbl(v: Double): RdfTerm =
    RdfTerm(Rdf.KindLiteral, v.toString, Some(Rdf.XsdDouble), None, Some(v))
}

/** One RDF statement in a named graph. */
case class Quad(graph: String, s: String, p: String, o: RdfTerm)
