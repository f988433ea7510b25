package graft.inference

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.model.{Quad, Rdf, RdfTerm}

/** CUSTOM RULESETS — the Spark-native analog of the reference binary's
  * user-defined `.pie` rulesets (GraphDB repositories take a custom
  * ruleset file as the sixth config axis next to the built-in
  * rdfsplus-optimized; `Dockerfile:2` ships the feature, the repo's
  * `init-graphdb.sh` uses a built-in name). A ruleset is a list of horn
  * rules over triple atoms; materialization is the semi-naive DATALOG
  * fixpoint over the quad view.
  *
  * Text format (a PIE-inspired subset, documented here rather than the
  * binary's exact grammar):
  *
  * {{{
  * Prefices { x : <urn:x:> }
  * Rules {
  *   Id: supplier_nation
  *     li <urn:graft/lineitem#l_suppkey> s
  *     s  <urn:graft/supplier#s_nationkey> n
  *     ----------------------------------
  *     li x:suppNation n
  * }
  * }}}
  *
  * Plain identifiers are VARIABLES, `<iri>` / `pfx:local` are IRI
  * constants, and (r15) LITERAL constants are admitted in OBJECT
  * position: `"plain"`, `"tagged"@en`, `"5"^^<…#integer>` /
  * `"5"^^xsd:integer`, and bare numerics (`5`, `2.5`, `1e3` — typed
  * integer/decimal/double like the Turtle reader). Literal matching is
  * sameTerm (full term-struct equality, numeric shadow included), the
  * PIE semantics. An optional `Axioms { … }` block holds GROUND atoms
  * (no variables) inserted as facts at repository create — GraphDB's
  * `.pie` axiomatic-triples section. `//` comments allowed anywhere
  * except inside `<…>` or `"…"` (an `http://` IRI is not a comment).
  *
  * EVALUATION (scale posture): each rule compiles to a JOIN TREE over
  * the quad frame — a premise with a CONSTANT predicate is a narrow
  * `p = <iri>` filtered scan (partition-prunable at 100 TB where the
  * store is parquet partitioned by `p`), premises join on their shared
  * variables via term equality, conclusions project new quads. The
  * fixpoint is SEMI-NAIVE: iteration k joins the round-(k-1) DELTA into
  * each premise position against the full set (never full × full after
  * round 1), new facts are the anti-join against everything known, and
  * every round's frames are lineage-cut ([[graft.exec.Generations]],
  * superseded rounds released) so no executor replays a growing DAG. Work
  * per round ∝ |delta ⋈ …|, the Datalog textbook bound, and rounds stop at
  * the fixpoint — the same loop discipline as [[Inference.materialize]]
  * and the path closure.
  */
object CustomRules {

  /** One triple atom: each position is Var(name), Iri(value), or — in
    * object position only — Lit(term).
    */
  sealed trait Term
  final case class Var(name: String) extends Term
  final case class Iri(value: String) extends Term
  final case class Lit(term: RdfTerm) extends Term
  final case class RuleAtom(s: Term, p: Term, o: Term) {
    require(!s.isInstanceOf[Lit],
      "ruleset: literal in subject position (RDF subjects are IRI/bnode)")
    require(!p.isInstanceOf[Lit],
      "ruleset: literal in predicate position (predicates are IRIs)")
  }
  final case class Rule(name: String, premises: Seq[RuleAtom],
      conclusions: Seq[RuleAtom]) {
    require(premises.nonEmpty, s"rule $name: no premises")
    require(conclusions.nonEmpty, s"rule $name: no conclusions")
    private val bound = premises.flatMap(a => Seq(a.s, a.p, a.o))
      .collect { case Var(n) => n }.toSet
    conclusions.flatMap(a => Seq(a.s, a.p, a.o)).collect { case Var(n) => n }
      .foreach(n => require(bound(n),
        s"rule $name: conclusion variable $n is not bound by any premise"))
  }

  /** A CONSISTENCY rule (r15 — GraphDB `.pie` `Consistency:` sections):
    * premises like a rule; conclusions OPTIONAL. No conclusions → the
    * premises must never match (any solution is a violation); with
    * conclusions → every premise solution must also satisfy them
    * (a solution whose conclusion quads are absent is a violation).
    */
  final case class Consistency(name: String, premises: Seq[RuleAtom],
      conclusions: Seq[RuleAtom]) {
    require(premises.nonEmpty, s"consistency $name: no premises")
    // conclusion variables NOT bound by a premise are EXISTENTIAL ("some
    // such fact must exist") — unlike Rule conclusions, free is legal
    private[inference] val bound = premises.flatMap(a => Seq(a.s, a.p, a.o))
      .collect { case Var(n) => n }.toSet
  }

  /** A parsed ruleset: horn rules, ground axiom facts (default graph),
    * and consistency rules checked against the closure.
    */
  final case class Ruleset(rules: Seq[Rule], axioms: Seq[Quad],
      consistencies: Seq[Consistency] = Nil)

  // ------------------------------------------------------------- parser

  /** Strip `//` comments SPAN-AWARE: a `//` inside `<…>` (an http:// IRI)
    * or `"…"` (a literal) is content, not a comment. Spans reset at end
    * of line — an unterminated `<` or `"` cannot eat the rest of the file.
    */
  private def stripComments(text: String): String = {
    val sb = new StringBuilder(text.length)
    var i = 0
    val n = text.length
    var inIri = false
    var inStr = false
    while (i < n) {
      val c = text.charAt(i)
      if (c == '\n') { inIri = false; inStr = false; sb.append(c); i += 1 }
      else if (inStr) {
        if (c == '\\' && i + 1 < n) { sb.append(c).append(text.charAt(i + 1)); i += 2 }
        else { if (c == '"') inStr = false; sb.append(c); i += 1 }
      }
      else if (inIri) { if (c == '>') inIri = false; sb.append(c); i += 1 }
      else if (c == '"') { inStr = true; sb.append(c); i += 1 }
      else if (c == '<') { inIri = true; sb.append(c); i += 1 }
      else if (c == '/' && i + 1 < n && text.charAt(i + 1) == '/') {
        while (i < n && text.charAt(i) != '\n') i += 1
      }
      else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  /** Extract `Name { … }` with BRACE BALANCING (a trailing `}` elsewhere
    * in the document cannot extend the block). Returns (body, span).
    */
  private def block(text: String, name: String): Option[(String, (Int, Int))] =
    (name + """\s*\{""").r.findFirstMatchIn(text).map { m =>
      var depth = 1
      var i = m.end
      while (i < text.length && depth > 0) {
        text.charAt(i) match {
          case '{' => depth += 1
          case '}' => depth -= 1
          case _ =>
        }
        i += 1
      }
      require(depth == 0, s"ruleset: unbalanced braces in $name block")
      (text.substring(m.end, i - 1), (m.start, i))
    }

  /** Split one atom line into tokens, keeping `"…"` literals (with their
    * `@lang` / `^^dtype` suffix) and `<…>` IRIs intact across spaces.
    */
  private def tokenize(line: String): Seq[String] = {
    val out = collection.mutable.ListBuffer.empty[String]
    var i = 0
    val n = line.length
    while (i < n) {
      val c = line.charAt(i)
      if (c.isWhitespace) i += 1
      else if (c == '"') {
        val sb = new StringBuilder("\"")
        i += 1
        var closed = false
        while (i < n && !closed) {
          val d = line.charAt(i)
          if (d == '\\' && i + 1 < n) { sb.append(d).append(line.charAt(i + 1)); i += 2 }
          else { sb.append(d); i += 1; if (d == '"') closed = true }
        }
        require(closed, s"ruleset: unterminated string literal in: $line")
        if (i < n && (line.charAt(i) == '@' || line.startsWith("^^", i)))
          while (i < n && !line.charAt(i).isWhitespace) { sb.append(line.charAt(i)); i += 1 }
        out += sb.toString
      }
      else if (c == '<') {
        val j = line.indexOf('>', i)
        require(j >= 0, s"ruleset: unclosed <iri> in: $line")
        out += line.substring(i, j + 1)
        i = j + 1
      }
      else {
        val s = i
        while (i < n && !line.charAt(i).isWhitespace) i += 1
        out += line.substring(s, i)
      }
    }
    out.toList
  }

  private def unescape(s: String): String = {
    val sb = new StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '\\' && i + 1 < s.length) {
        s.charAt(i + 1) match {
          case 'n' => sb.append('\n')
          case 't' => sb.append('\t')
          case 'r' => sb.append('\r')
          case d => sb.append(d) // \" \\ and anything else: literal char
        }
        i += 2
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  /** Parse the PIE-inspired ruleset text: optional `Prefices { … }` and
    * `Axioms { … }` blocks, one `Rules { … }` block with `Id: name`
    * sections, premise atoms, a dashed separator, conclusion atoms.
    * Unexpected content outside the three blocks is an explicit error.
    */
  def parseRuleset(text: String): Ruleset = {
    val noComments = stripComments(text)
    val prefices = collection.mutable.Map.empty[String, String]
    val prefB = block(noComments, "Prefices")
    prefB.map(_._1).foreach { body =>
      """(\S+)\s*:\s*<([^>]*)>""".r.findAllMatchIn(body).foreach { m =>
        prefices(m.group(1)) = m.group(2)
      }
    }
    val rulesB = block(noComments, "Rules").getOrElse(
      throw new IllegalArgumentException("ruleset: no Rules { … } block"))
    val axiomsB = block(noComments, "Axioms")
    // Nothing but the recognized blocks may appear at top level.
    locally {
      val sb = new StringBuilder(noComments)
      (Seq(rulesB._2) ++ prefB.map(_._2) ++ axiomsB.map(_._2)).foreach {
        case (a, b) => (a until b).foreach(k => sb.setCharAt(k, ' '))
      }
      val residue = sb.toString.trim
      require(residue.isEmpty,
        s"ruleset: unexpected content outside Prefices/Rules/Axioms blocks: " +
          residue.linesIterator.find(_.trim.nonEmpty).getOrElse("").trim)
    }
    def expandDtype(tok: String): String =
      if (tok.startsWith("<") && tok.endsWith(">")) tok.substring(1, tok.length - 1)
      else {
        val Array(pfx, local) = tok.split(":", 2)
        prefices.getOrElse(pfx, throw new IllegalArgumentException(
          s"ruleset: undeclared prefix '$pfx' in datatype $tok")) + local
      }
    def term(tok: String): Term = tok match {
      case t if t.startsWith("\"") =>
        val close = { // the closing quote of the lexical part
          var i = 1; var c = -1
          while (i < t.length && c < 0) {
            if (t.charAt(i) == '\\') i += 2
            else { if (t.charAt(i) == '"') c = i; i += 1 }
          }
          require(c > 0, s"ruleset: bad literal $t"); c
        }
        val lex = unescape(t.substring(1, close))
        val suffix = t.substring(close + 1)
        if (suffix.isEmpty) Lit(RdfTerm.str(lex))
        else if (suffix.startsWith("@")) Lit(RdfTerm.lang(lex, suffix.substring(1)))
        else if (suffix.startsWith("^^")) Lit(RdfTerm.typed(lex, expandDtype(suffix.substring(2))))
        else throw new IllegalArgumentException(s"ruleset: bad literal suffix in $t")
      case t if t.matches("[+-]?[0-9]+") => Lit(RdfTerm.typed(t, Rdf.XsdInteger))
      case t if t.matches("""[+-]?[0-9]*\.?[0-9]+[eE][+-]?[0-9]+""") =>
        Lit(RdfTerm.typed(t, Rdf.XsdDouble))
      case t if t.matches("""[+-]?[0-9]*\.[0-9]+""") =>
        Lit(RdfTerm.typed(t, Rdf.XsdDecimal))
      case t if t.startsWith("<") && t.endsWith(">") =>
        Iri(t.substring(1, t.length - 1))
      case t if t.contains(":") =>
        val Array(pfx, local) = t.split(":", 2)
        Iri(prefices.getOrElse(pfx, throw new IllegalArgumentException(
          s"ruleset: undeclared prefix '$pfx' in $t")) + local)
      case t if t.matches("[A-Za-z_][A-Za-z0-9_]*") => Var(t)
      case t => throw new IllegalArgumentException(s"ruleset: bad term $t")
    }
    def atom(line: String): RuleAtom = {
      val toks = tokenize(line)
      require(toks.length == 3, s"ruleset: atom needs 3 terms: $line")
      RuleAtom(term(toks(0)), term(toks(1)), term(toks(2)))
    }
    val out = collection.mutable.ListBuffer.empty[Rule]
    val cons = collection.mutable.ListBuffer.empty[Consistency]
    var name: String = null
    var isCons = false
    var prem = collection.mutable.ListBuffer.empty[RuleAtom]
    var conc = collection.mutable.ListBuffer.empty[RuleAtom]
    var inConc = false
    def flush(): Unit = if (name != null) {
      if (isCons) cons += Consistency(name, prem.toList, conc.toList)
      else out += Rule(name, prem.toList, conc.toList)
      prem = collection.mutable.ListBuffer.empty
      conc = collection.mutable.ListBuffer.empty
      inConc = false
    }
    rulesB._1.linesIterator.map(_.trim).filter(_.nonEmpty).foreach {
      case l if l.startsWith("Id:") =>
        flush(); name = l.stripPrefix("Id:").trim; isCons = false
        require(name.nonEmpty, "ruleset: empty rule id")
      case l if l.startsWith("Consistency:") => // r15: GraphDB .pie checks
        flush(); name = l.stripPrefix("Consistency:").trim; isCons = true
        require(name.nonEmpty, "ruleset: empty consistency id")
      case l if l.matches("-{3,}") =>
        require(name != null, "ruleset: separator before any Id:")
        require(!inConc, s"ruleset: two separators in rule $name")
        inConc = true
      case l =>
        require(name != null, s"ruleset: atom before any Id: — $l")
        if (inConc) conc += atom(l) else prem += atom(l)
    }
    flush()
    require(out.nonEmpty || cons.nonEmpty, "ruleset: no rules")
    val axioms = axiomsB.map(_._1).toSeq
      .flatMap(_.linesIterator.map(_.trim).filter(_.nonEmpty))
      .map { l =>
        val a = atom(l)
        (a.s, a.p, a.o) match {
          case (Iri(s), Iri(p), o) =>
            val ot = o match {
              case Iri(v) => RdfTerm.iri(v)
              case Lit(t) => t
              case Var(v) => throw new IllegalArgumentException(
                s"ruleset: axiom must be ground — variable $v in: $l")
            }
            Quad(Rdf.DefaultGraph, s, p, ot)
          case _ => throw new IllegalArgumentException(
            s"ruleset: axiom must be ground (IRI subject/predicate): $l")
        }
      }
    Ruleset(out.toList, axioms, cons.toList)
  }

  /** Rules-only view (axioms dropped) — the pre-r15 API. */
  def parse(text: String): Seq[Rule] = parseRuleset(text).rules

  // --------------------------------------------------------- evaluation

  /** Constant term struct column for a parsed RdfTerm (literal axioms /
    * literal atom constants). Struct equality in Spark treats two null
    * fields as equal, so `col("o") === termCol(t)` is exactly sameTerm.
    */
  private def termCol(t: RdfTerm): Column =
    struct(lit(t.kind).cast("tinyint").as("kind"), lit(t.value).as("value"),
      t.dtype.map(lit(_)).getOrElse(lit(null)).cast("string").as("dtype"),
      t.lang.map(lit(_)).getOrElse(lit(null)).cast("string").as("lang"),
      t.num.map(lit(_)).getOrElse(lit(null)).cast("double").as("num"))

  /** Node term struct for a subject string (IRI or `_:` bnode). */
  private def nodeTerm(c: Column): Column =
    when(c.startsWith("_:"),
      struct(lit(Rdf.KindBlank).cast("tinyint").as("kind"), c.as("value"),
        lit(null).cast("string").as("dtype"),
        lit(null).cast("string").as("lang"),
        lit(null).cast("double").as("num")))
      .otherwise(graft.sources.DirectMapper.iriTerm(c))

  /** Bindings frame of one premise atom over `facts`: one column per
    * variable, every value a TERM STRUCT (uniform join/term equality
    * across positions). Constant positions filter; a repeated variable
    * inside one atom filters on equality.
    */
  private def atomBindings(facts: DataFrame, a: RuleAtom): DataFrame = {
    var df = facts
    var bind = List.empty[(String, Column)]
    def handle(t: Term, raw: Column, asTerm: Column => Column,
        constFilter: Term => Column): Unit = t match {
      case Var(n) =>
        bind.find(_._1 == n) match {
          case Some((_, c)) => df = df.filter(c === asTerm(raw))
          case None => bind ::= (n -> asTerm(raw))
        }
      case c => df = df.filter(constFilter(c))
    }
    handle(a.s, col("s"), nodeTerm,
      { case Iri(v) => col("s") === v; case t => sys.error(s"bad subject $t") })
    handle(a.p, col("p"), graft.sources.DirectMapper.iriTerm,
      { case Iri(v) => col("p") === v; case t => sys.error(s"bad predicate $t") })
    handle(a.o, col("o"), identity, {
      case Iri(v) => col("o.kind") === Rdf.KindIri && col("o.value") === v
      case Lit(t) => col("o") === termCol(t) // sameTerm struct equality
      case t => sys.error(s"bad object $t")
    })
    df.select(bind.reverse.map { case (n, c) => c.as(n) }: _*)
  }

  /** One rule firing with premise `di` reading `delta` and the rest
    * reading `full` — the semi-naive split. Returns derived QUADS.
    */
  private def fire(rule: Rule, full: DataFrame, delta: DataFrame,
      di: Int): Seq[DataFrame] = {
    val sols = rule.premises.zipWithIndex.map { case (a, i) =>
      atomBindings(if (i == di) delta else full, a)
    }.reduceLeft { (l, r) =>
      val shared = l.columns.toSeq.intersect(r.columns.toSeq)
      if (shared.isEmpty) l.crossJoin(r) // rare: disconnected premises
      else l.join(r, shared)
    }
    rule.conclusions.map { c =>
      val s = c.s match {
        case Var(n) => sols(n).getField("value")
        case Iri(v) => lit(v)
        case Lit(t) => sys.error(s"literal subject $t") // parse-rejected
      }
      val sOk = c.s match { // a literal binding cannot be a subject
        case Var(n) => sols(n).getField("kind") =!= Rdf.KindLiteral
        case _ => lit(true)
      }
      val p = c.p match {
        case Var(n) => sols(n).getField("value")
        case Iri(v) => lit(v)
        case Lit(t) => sys.error(s"literal predicate $t") // parse-rejected
      }
      val pOk = c.p match {
        case Var(n) => sols(n).getField("kind") === Rdf.KindIri
        case _ => lit(true)
      }
      val o = c.o match {
        case Var(n) => sols(n)
        case Iri(v) => graft.sources.DirectMapper.iriTerm(lit(v))
        case Lit(t) => termCol(t)
      }
      sols.filter(sOk && pOk).select(lit(Rdf.DefaultGraph).as("graph"),
        s.as("s"), p.as("p"), o.as("o"))
    }
  }

  /** PROOF frames for the proof plugin ([[Proof.explanations]]): for each
    * (rule, conclusion atom), a frame of single-step applications over
    * the closed `store` — conclusion columns `cs`/`cp`/`co` plus the
    * matched premise QUADS as `a{i}_s/p/o/g` antecedent columns, arity =
    * premise count. The join tree is the same shape as [[fire]] (constant
    * positions filter, shared variables join), but each premise keeps its
    * matched quad so the explanation can show WHAT fired.
    */
  private[inference] def proofFrames(store: DataFrame,
      rules: Seq[Rule]): Seq[(String, DataFrame, Int)] =
    rules.flatMap { rule =>
      val n = rule.premises.size
      val joined = rule.premises.zipWithIndex.map { case (a, i) =>
        var df = store
        var bind = List.empty[(String, Column)]
        def handle(t: Term, raw: Column, asTerm: Column => Column,
            constFilter: Term => Column): Unit = t match {
          case Var(nm) =>
            bind.find(_._1 == nm) match {
              case Some((_, c)) => df = df.filter(c === asTerm(raw))
              case None => bind ::= (nm -> asTerm(raw))
            }
          case c => df = df.filter(constFilter(c))
        }
        handle(a.s, col("s"), nodeTerm,
          { case Iri(v) => col("s") === v; case t => sys.error(s"bad subject $t") })
        handle(a.p, col("p"), graft.sources.DirectMapper.iriTerm,
          { case Iri(v) => col("p") === v; case t => sys.error(s"bad predicate $t") })
        handle(a.o, col("o"), identity, {
          case Iri(v) => col("o.kind") === Rdf.KindIri && col("o.value") === v
          case Lit(t) => col("o") === termCol(t)
          case t => sys.error(s"bad object $t")
        })
        df.select(bind.reverse.map { case (nm, c) => c.as(nm) } ++ Seq(
          col("s").as(s"a${i + 1}_s"), col("p").as(s"a${i + 1}_p"),
          col("o").as(s"a${i + 1}_o"), col("graph").as(s"a${i + 1}_g")): _*)
      }.reduceLeft { (l, r) =>
        val shared = l.columns.toSeq.intersect(r.columns.toSeq)
        if (shared.isEmpty) l.crossJoin(r) else l.join(r, shared)
      }
      rule.conclusions.map { c =>
        var out = joined
        val cs = c.s match {
          case Var(nm) =>
            out = out.filter(
              col(nm).getField("kind") =!= Rdf.KindLiteral)
            col(nm).getField("value")
          case Iri(v) => lit(v)
          case Lit(t) => sys.error(s"literal subject $t") // parse-rejected
        }
        val cp = c.p match {
          case Var(nm) =>
            out = out.filter(col(nm).getField("kind") === Rdf.KindIri)
            col(nm).getField("value")
          case Iri(v) => lit(v)
          case Lit(t) => sys.error(s"literal predicate $t")
        }
        val co = c.o match {
          case Var(nm) => col(nm)
          case Iri(v) => graft.sources.DirectMapper.iriTerm(lit(v))
          case Lit(t) => termCol(t)
        }
        (rule.name, out.select(Seq(cs.as("cs"), cp.as("cp"), co.as("co")) ++
          (1 to n).flatMap(i => Seq(col(s"a${i}_s"), col(s"a${i}_p"),
            col(s"a${i}_o"), col(s"a${i}_g"))): _*), n)
      }
    }

  /** Topological rule order when the ruleset is NON-RECURSIVE: rule A
    * precedes B when a conclusion predicate of A can feed a premise of B.
    * Any variable predicate (in premise or conclusion position) is
    * conservatively recursive — it could match anything. None on a cycle.
    */
  private[graft] def stratify(rules: Seq[Rule]): Option[Seq[Rule]] = {
    def preds(atoms: Seq[RuleAtom]): Option[Set[String]] = {
      val ps = atoms.map(_.p)
      if (ps.exists(_.isInstanceOf[Var])) None
      else Some(ps.collect { case Iri(v) => v }.toSet)
    }
    val info = rules.map(r => (preds(r.premises), preds(r.conclusions)))
    if (info.exists(i => i._1.isEmpty || i._2.isEmpty)) return None
    val feeds = Array.tabulate(rules.length, rules.length) { (a, b) =>
      info(a)._2.get.intersect(info(b)._1.get).nonEmpty
    }
    // Kahn's algorithm over the rule graph
    val indeg = Array.tabulate(rules.length)(b =>
      rules.indices.count(a => a != b && feeds(a)(b)))
    if (rules.indices.exists(i => feeds(i)(i))) return None // self-loop
    val order = collection.mutable.ArrayBuffer.empty[Int]
    val ready = collection.mutable.Queue(
      rules.indices.filter(indeg(_) == 0): _*)
    while (ready.nonEmpty) {
      val a = ready.dequeue()
      order += a
      rules.indices.foreach { b =>
        if (b != a && feeds(a)(b)) { indeg(b) -= 1
          if (indeg(b) == 0) ready += b }
      }
    }
    if (order.length == rules.length) Some(order.map(rules).toSeq) else None
  }

  /** Materialize `quads` under `rules` to the unique minimal fixpoint.
    * A NON-RECURSIVE ruleset (acyclic predicate dependencies, all
    * predicates constant) evaluates STRATIFIED — each rule fires exactly
    * once in topological order, no fixpoint rounds, no empty-delta
    * closing round; anything else runs the semi-naive loop (see object
    * doc for the scale shape). Output = input ∪ derived, distinct,
    * default graph for derived facts.
    */
  def materialize(spark: SparkSession, quads: DataFrame, rules: Seq[Rule],
      maxIters: Int = 64): DataFrame =
    materializeRuleset(spark, quads, Ruleset(rules, Nil), maxIters)

  /** Ruleset materialization: ground AXIOMS join the store as facts
    * before the closure (GraphDB inserts `.pie` axiomatic triples at
    * repository init), then the rules close as usual.
    */
  def materializeRuleset(spark: SparkSession, quads: DataFrame,
      ruleset: Ruleset, maxIters: Int = 64): DataFrame = {
    val withAxioms =
      if (ruleset.axioms.isEmpty) quads
      else quads.unionAll(graft.sources.GraphUpdate.quadsDf(spark, ruleset.axioms))
    materializeRules(withAxioms, ruleset.rules, maxIters)
  }

  /** Premise solutions over the full store — the rule-firing join tree
    * with every position reading `facts`.
    */
  private def solutions(facts: DataFrame, premises: Seq[RuleAtom]): DataFrame =
    premises.map(atomBindings(facts, _)).reduceLeft { (l, r) =>
      val shared = l.columns.toSeq.intersect(r.columns.toSeq)
      if (shared.isEmpty) l.crossJoin(r) else l.join(r, shared)
    }

  /** VIOLATIONS of one consistency rule against a (closed) store: the
    * distinct premise solutions (one term-struct column per PREMISE
    * variable) that do not satisfy every conclusion atom — for a
    * conclusion-free rule, every solution. A conclusion variable unbound
    * by the premises is EXISTENTIAL: the position joins unconstrained
    * ("some such fact exists"). Conclusion existence matches ANY graph,
    * the same scoping as premise matching. Empty result = consistent.
    */
  def violations(facts: DataFrame, c: Consistency): DataFrame = {
    val sols = solutions(facts, c.premises).distinct()
    if (c.conclusions.isEmpty) return sols
    var ok = sols
    c.conclusions.foreach { a =>
      var factsK = facts.select(col("s").as("__cs"), col("p").as("__cp"),
        col("o").as("__co"))
      var keys = List.empty[String]
      var okK = ok
      // subject: bound var → key on its value (a literal binding can
      // never be a subject → filtered out of `ok`, i.e. a violation);
      // constant → filter facts; free var → unconstrained
      a.s match {
        case Var(n) if c.bound(n) =>
          okK = okK.filter(okK(n).getField("kind") =!= Rdf.KindLiteral)
            .withColumn("__cs", col(n).getField("value"))
          keys ::= "__cs"
        case Iri(v) => factsK = factsK.filter(col("__cs") === v)
        case _ => // free existential / (Lit impossible: parse-rejected)
      }
      a.p match {
        case Var(n) if c.bound(n) =>
          okK = okK.filter(okK(n).getField("kind") === Rdf.KindIri)
            .withColumn("__cp", col(n).getField("value"))
          keys ::= "__cp"
        case Iri(v) => factsK = factsK.filter(col("__cp") === v)
        case _ =>
      }
      a.o match {
        case Var(n) if c.bound(n) =>
          okK = okK.withColumn("__co", col(n))
          keys ::= "__co"
        case Iri(v) => factsK = factsK.filter(
          col("__co.kind") === Rdf.KindIri && col("__co.value") === v)
        case Lit(t) => factsK = factsK.filter(col("__co") === termCol(t))
        case _ =>
      }
      ok =
        if (keys.isEmpty) { // fully constant/existential conclusion
          if (factsK.isEmpty) ok.limit(0) else ok
        } else okK.join(factsK.select(keys.map(col): _*).distinct(),
          keys, "left_semi").drop(keys: _*)
    }
    sols.except(ok)
  }

  private def materializeRules(quads: DataFrame,
      rules: Seq[Rule], maxIters: Int): DataFrame =
    graft.exec.Generations.scope { gen =>
      val (all0, n0) = gen.cut(quads.distinct())
      stratify(rules) match {
        case Some(order) =>
          var all = all0
          order.foreach { r =>
            fire(r, all, all, 0).reduceOption(_.unionAll(_)).foreach { d =>
              val fresh = d.distinct()
                .join(all, Seq("graph", "s", "p", "o"), "left_anti")
              all = gen.advance(all.unionAll(fresh), all)
            }
          }
          all
        case None => loop(gen, all0, all0, n0, rules, maxIters,
          deltaIsAll = true)
      }
    }

  /** INCREMENTAL insert: `closed` is already a fixpoint, `added` the new
    * facts — semi-naive restarts with delta = added, so the work is
    * ∝ derivations TOUCHING the insert, never a re-close of the store
    * (sound for any monotone Datalog: closure(closure(A) ∪ D) =
    * closure(A ∪ D), the same identity the RDFS incremental path uses).
    * Deletes still force re-materialization from the asserted set — a
    * derived fact may lose its last support.
    */
  def materializeIncremental(spark: SparkSession, closed: DataFrame,
      added: DataFrame, rules: Seq[Rule], maxIters: Int = 64): DataFrame =
    graft.exec.Generations.scope { gen =>
      val (fresh, nFresh) = gen.cut(added.distinct()
        .join(closed, Seq("graph", "s", "p", "o"), "left_anti"))
      if (nFresh == 0) closed
      else loop(gen, gen.cut(closed.unionAll(fresh))._1, fresh, nFresh,
        rules, maxIters, deltaIsAll = false)
    }

  /** Semi-naive rounds to the fixpoint; `delta0` has `n0` rows. */
  private def loop(gen: graft.exec.Generations, all0: DataFrame,
      delta0: DataFrame, n0: Long, rules: Seq[Rule], maxIters: Int,
      deltaIsAll: Boolean): DataFrame = {
    var all = all0
    var delta = delta0
    var nDelta = n0
    var iter = 0
    while (iter < maxIters && nDelta > 0) {
      val derived = rules.flatMap { r =>
        // when delta == all (round 0 of a full materialize), ONE firing
        // position covers every derivation; otherwise the delta must
        // visit each premise position
        val positions =
          if (iter == 0 && deltaIsAll) Seq(0) else r.premises.indices
        positions.flatMap(i => fire(r, all, delta, i))
      }.reduceOption(_.unionAll(_)) match {
        case None => return all
        case Some(d) => d.distinct()
      }
      val (fresh, nFresh) = gen.cut(derived.join(all,
        Seq("graph", "s", "p", "o"), "left_anti"))
      if (nFresh > 0) all = gen.advance(all.unionAll(fresh), all, delta)
      delta = fresh
      nDelta = nFresh
      iter += 1
    }
    if (iter == maxIters && nDelta > 0)
      throw new IllegalStateException(
        s"custom ruleset: no fixpoint within $maxIters rounds")
    all
  }
}
