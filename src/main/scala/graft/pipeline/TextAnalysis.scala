package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for LLM training-data pipelines (north-star ops,
  * BASELINE.json): language ID, quality scoring, token counting, document
  * fingerprinting. All pure `functions._` Column combinators — whole-stage
  * codegen end to end, no UDFs, so each scales to 100 TB as a single narrow
  * map over the corpus.
  */
object TextAnalysis {

  /** Whitespace token count (the cheap tokenizer). */
  def tokenCount(text: Column): Column =
    when(length(trim(text)) === 0, lit(0L))
      .otherwise(size(split(trim(text), "\\s+")).cast("long"))

  /** BPE-ish subword count: word-boundary regex segments + digits + punct,
    * approximating a byte-pair tokenizer's granularity without a vocab.
    */
  def subwordCount(text: Column): Column =
    size(regexp_extract_all(text, lit("[A-Za-z]{1,4}|[0-9]|[^A-Za-z0-9\\s]"), lit(0))).cast("long")

  /** Ratio helpers (0.0 when the document is empty). */
  private def ratio(num: Column, den: Column): Column =
    when(den > 0, num.cast("double") / den.cast("double")).otherwise(lit(0.0))

  def alphaRatio(text: Column): Column =
    ratio(length(regexp_replace(text, "[^A-Za-z]", "")), length(text))
  def digitRatio(text: Column): Column =
    ratio(length(regexp_replace(text, "[^0-9]", "")), length(text))
  def punctRatio(text: Column): Column =
    ratio(length(regexp_replace(text, "[^.,;:!?'\"()\\[\\]-]", "")), length(text))
  def upperRatio(text: Column): Column =
    ratio(length(regexp_replace(text, "[^A-Z]", "")), length(text))
  def whitespaceRatio(text: Column): Column =
    ratio(length(text) - length(regexp_replace(text, "\\s", "")), length(text))
  def meanWordLen(text: Column): Column =
    ratio(length(regexp_replace(text, "\\s+", "")), tokenCount(text))

  /** Stopword hit-rate against a tiny English core list — a strong cheap
    * English-fluency signal.
    */
  val enStopwords = Seq("the", "and", "of", "to", "in", "is", "that", "it",
    "for", "was", "with", "his", "her", "this", "have", "not", "are", "but")
  def stopwordRatio(text: Column): Column = {
    val pat = enStopwords.mkString("(?i)\\b(", "|", ")\\b")
    ratio(regexp_count(text, lit(pat)), tokenCount(text))
  }

  /** Composite quality score in [0,1]: fluent prose scores high; symbol soup,
    * ALL-CAPS, and digit dumps score low.
    */
  def qualityScore(text: Column): Column = {
    val s = alphaRatio(text) * 0.5 +
      least(stopwordRatio(text) * lit(2.0), lit(1.0)) * 0.3 +
      (lit(1.0) - upperRatio(text)) * 0.1 +
      (lit(1.0) - least(digitRatio(text) * lit(4.0), lit(1.0))) * 0.1
    round(s, 4)
  }

  /** Marker-word counts per language — deterministic, SQL-expressible n-gram
    * heuristic (the oracle replicates it 1:1 in DuckDB).
    */
  private def markerCount(text: Column, words: Seq[String]): Column =
    regexp_count(lower(text), lit(words.mkString("\\b(", "|", ")\\b")))
  val langMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to", "with", "that", "this", "for"),
    "de" -> Seq("der", "die", "das", "und", "nicht", "ist", "ein", "mit"),
    "fr" -> Seq("le", "la", "les", "et", "est", "une", "dans", "pour"),
    "es" -> Seq("el", "los", "las", "es", "una", "para", "como", "pero"))

  /** Predicted language: arg-max of marker counts with fixed tie-break order
    * (first listed wins), "und" (undetermined) when nothing matches.
    */
  def langId(text: Column): Column = {
    val counts = langMarkers.map { case (l, ws) => (l, markerCount(text, ws)) }
    val best = counts.map(_._2).reduce(greatest(_, _))
    counts.foldRight(lit("und")) { case ((l, c), rest) =>
      when(best > 0 && c === best, lit(l)).otherwise(rest)
    }
  }

  /** Content fingerprint: MD5 of case-folded, punctuation-stripped,
    * whitespace-collapsed text — robust to formatting-only edits.
    */
  def fingerprint(text: Column): Column =
    md5(trim(regexp_replace(regexp_replace(lower(text), "[^a-z0-9\\s]", ""), "\\s+", " ")))

  /** Overlapping token-window chunking — the embed-stage shape: each doc
    * becomes windows of `size` whitespace tokens every `stride` tokens
    * (overlap = size - stride keeps context across boundaries). One narrow
    * projection + explode of the start offsets; text reassembly and
    * hashing happen AFTER the explode (codegen'd per chunk row).
    * Output: (id, start, n_tok, chunk) rows.
    */
  def chunk(df: DataFrame, id: String, text: String,
      width: Int = 64, stride: Int = 48): DataFrame = {
    require(width > 0 && stride > 0)
    val toks = filter(split(trim(col(text)), "\\s+"), t => length(t) > 0)
    df.select(col(id), toks.as("_toks"))
      .filter(size(col("_toks")) > 0)
      .select(col(id), col("_toks"),
        explode(sequence(lit(0), size(col("_toks")) - 1, lit(stride))).as("start"))
      .select(col(id), col("start"),
        slice(col("_toks"), col("start") + 1, lit(width)).as("_w"))
      .select(col(id), col("start").cast("int").as("start"),
        size(col("_w")).cast("int").as("n_tok"),
        array_join(col("_w"), " ").as("chunk"))
  }

  /** End-to-end quality gate (the keep-list stage of a training-data
    * pipeline): a document survives iff it is in the target language, its
    * composite quality score clears `minQuality`, and its duplicate-trigram
    * fraction stays under `maxTriDup`. Composes the scoring operators —
    * one pass for the per-row scores plus the repetition join.
    */
  def qualityGate(df: DataFrame, id: String, text: String,
      lang: String = "en", minQuality: Double = 0.62,
      maxTriDup: Double = 0.05): DataFrame =
    df.filter(gateCol(col(text), lang, minQuality, maxTriDup)).select(col(id))

  /** The duplicate-trigram fraction of ONE text value as a column — the
    * SAME arithmetic as [[repetitionMetrics]] (n_tg = tokens-2, d_tg =
    * distinct trigrams, 1 - d/n as exact-int double division) but as a
    * per-row array kernel: no explode, no window, no join, so it runs
    * stateless on a STREAM and collapses the batch gate to one scan.
    */
  def dupTrigramFracCol(text: Column): Column = {
    val toks = filter(split(lower(trim(text)), "\\W+"), t => length(t) > 0)
    val n = (size(toks) - 2).cast("double")
    // the trigram array builds only inside the n > 0 branch (CaseWhen is
    // lazy at runtime — sequence(0, -1) would error on short docs)
    val tg = transform(sequence(lit(0), size(toks) - 3), i =>
      concat_ws(" ", element_at(toks, i + 1), element_at(toks, i + 2),
        element_at(toks, i + 3)))
    when(n > 0,
      lit(1.0) - size(array_distinct(tg)).cast("double") / n)
      .otherwise(lit(0.0))
  }

  /** The full keep predicate of [[qualityGate]] as ONE codegen'd column —
    * language id, composite quality and the per-row duplicate-trigram
    * fraction. Stateless, so the STREAMING ingest gate applies it
    * unchanged ([[graft.streaming.StreamIngest.qualityGateStream]]).
    */
  def gateCol(text: Column, lang: String = "en", minQuality: Double = 0.62,
      maxTriDup: Double = 0.05): Column =
    langId(text) === lang && qualityScore(text) >= minQuality &&
      dupTrigramFracCol(text) < maxTriDup

  /** PII redaction: emails, IPv4 addresses and long digit runs (phone/ID
    * shaped) become typed placeholder tokens. Pure codegen'd
    * `regexp_replace` chain — streams at scan speed; patterns are written
    * in the RE2-safe subset (no backrefs/lookaround) so the same regexes
    * run identically in Spark (Java regex) and the DuckDB oracle (RE2).
    * Order matters: emails first (an email contains digit runs), then
    * IPs, then bare digit runs.
    */
  def redact(text: Column): Column = {
    val email = regexp_replace(text,
      "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>")
    val ip = regexp_replace(email,
      "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b", "<IP>")
    regexp_replace(ip, "\\b[0-9][0-9 ()+-]{6,}[0-9]\\b", "<NUM>")
  }

  /** Repetition quality metrics (the Gopher/MassiveText repetition rules):
    * fraction of duplicate word trigrams and fraction of duplicate
    * non-empty lines per document — high values flag boilerplate/spam for
    * the quality-filter stage. Trigrams form via a window `lead` over
    * exploded token positions (codegen'd; one shuffle per doc key), both
    * fractions are integer-ratio doubles (identical in any engine).
    */
  def repetitionMetrics(df: DataFrame, id: String, text: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = filter(split(lower(trim(col(text))), "\\W+"), t => length(t) > 0)
    val w = Window.partitionBy(id).orderBy("i")
    val tri = df.select(col(id), posexplode_outer(toks).as(Seq("i", "tok")))
      .select(col(id), col("i"), concat_ws(" ", col("tok"),
        lead(col("tok"), 1).over(w), lead(col("tok"), 2).over(w)).as("tg"),
        lead(col("tok"), 2).over(w).isNotNull.as("full"))
      .filter(col("full"))
      .groupBy(col(id)).agg(count(lit(1)).as("n_tg"),
        countDistinct(col("tg")).as("d_tg"))
    val lines = df.select(col(id),
        explode_outer(filter(transform(split(col(text), "\n"), l => trim(l)),
          l => length(l) > 0)).as("line"))
      .groupBy(col(id)).agg(count(col("line")).as("n_ln"),
        countDistinct(col("line")).as("d_ln"))
    df.select(col(id)).join(tri, Seq(id), "left_outer")
      .join(lines, Seq(id), "left_outer")
      .select(col(id),
        // when() evaluates the division branch lazily — no ANSI
        // divide-by-zero on docs with no trigrams/lines
        when(col("n_tg") > 0,
          lit(1.0) - col("d_tg").cast("double") / col("n_tg").cast("double"))
          .otherwise(lit(0.0)).as("dup_trigram_frac"),
        when(col("n_ln") > 0,
          lit(1.0) - col("d_ln").cast("double") / col("n_ln").cast("double"))
          .otherwise(lit(0.0)).as("dup_line_frac"))
  }

  /** Winnowing fingerprints (Schleimer/Wilkerson/Aiken, SIGMOD '03 — the
    * MOSS rolling-hash document fingerprint): hash every character `k`-gram
    * of the normalized text, then keep the MINIMUM hash of each sliding
    * window of `w` consecutive k-gram hashes. Guarantee: two documents
    * sharing any substring of length >= w+k-1 share a fingerprint, so the
    * (doc, fp) set drives substring-level near-dup candidate generation the
    * same way MinHash bands drive set-level candidates.
    *
    * Scale shape: explode the k-gram positions (codegen'd substr/md5 per
    * row — a nested `transform` over the position array was measured 50×
    * slower here, the interpreted-HOF pitfall from round 1), then a
    * windowed MIN per doc. One shuffle on the doc id (positions of one doc
    * co-locate), one more for the DISTINCT; pairing on `fp` afterwards is
    * an equi-join, never all-pairs. The k-gram hash is the repo's
    * oracle-replayable 60-bit md5 (`('0x'||substr(md5(g),1,15))::BIGINT`
    * in DuckDB — same trick as `Dedup.md5TokenHash`).
    *
    * Docs whose normalized text is shorter than w+k-1 produce no
    * fingerprints (they have no full window; exact/fingerprint dedup covers
    * them).
    */
  def winnow(df: DataFrame, id: String, text: String,
      k: Int = 8, w: Int = 4): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val norm = col("_norm")
    val grams = df
      .select(col(id), trim(regexp_replace(regexp_replace(lower(col(text)),
        "[^a-z0-9\\s]", ""), "\\s+", " ")).as("_norm"))
      .filter(length(norm) >= k + w - 1)
      .select(col(id), norm,
        explode(sequence(lit(1), length(norm) - (k - 1))).as("i"))
      .select(col(id), col("i"),
        conv(substring(md5(norm.substr(col("i"), lit(k))), 1, 15), 16, 10)
          .cast("bigint").as("h"))
    val win = Window.partitionBy(id).orderBy("i").rowsBetween(0, w - 1)
    val whole = Window.partitionBy(id)
    grams
      .select(col(id), col("i"), min(col("h")).over(win).as("fp"),
        count(lit(1)).over(whole).as("_n"))
      .filter(col("i") <= col("_n") - (w - 1))
      .select(col(id), col("fp")).distinct()
  }

  /** VOCABULARY INDUCTION — exact top-k corpus token frequencies (the
    * seed vocabulary of tokenizer training and the unigram table of
    * quality-filter LMs). One explode + one hash aggregate + a
    * TakeOrdered top-k: the canonical distributed wordcount, no global
    * sort materialized. Deterministic tie-break on the token itself.
    */
  def vocab(df: DataFrame, text: String, k: Int = 50): DataFrame = {
    require(k > 0)
    df.select(explode(filter(split(lower(trim(col(text))), "\\W+"),
        t => length(t) > 0)).as("token"))
      .groupBy(col("token"))
      .agg(count(lit(1)).cast("bigint").as("n"))
      .orderBy(col("n").desc, col("token"))
      .limit(k)
  }

  /** SEQUENCE PACKING — assign each document its training-sequence index
    * under concatenate-then-cut packing (the standard LLM pretraining
    * shape: shard documents are concatenated in id order and sliced into
    * fixed `seqLen`-token windows; a document belongs to the sequence its
    * first token lands in). Emits (id, shard, tok_start, seq).
    *
    * Scale shape: the window partitions by SHARD — the parallel unit of a
    * real packing job (one output file per shard); no global ordering is
    * ever materialized. A single-sequence-space pack over the whole corpus
    * would instead range-partition by id and reconcile per-partition token
    * offsets (the zipWithIndex trick) — same arithmetic, two passes.
    */
  /** LM-fluency scoring (the CCNet-style language-model quality filter,
    * engine-portable): an add-one-smoothed BIGRAM model is trained on the
    * corpus itself — `P(w2|w1) = (c(w1,w2)+1) / (c(w1)+V)` — and each
    * document scores the MEAN scaled probability of its bigrams. Log-free
    * by design: every contribution is the integer-rational
    * `floor(1e6·(c2+1)/(c1+V))`, so the per-doc sum is an order-free
    * integer and the DuckDB oracle replays it bit-exactly (the same trick
    * as the BM25 integer idf). Low scores = incoherent token sequences —
    * the fluency cut of a pretraining pipeline.
    *
    * Shape at scale: two count aggregates over the exploded token stream
    * (bigram + unigram, both partial+final), one broadcast-able join of
    * doc bigrams against the model counts, one per-doc aggregate. V (the
    * vocabulary size) is a single collected scalar.
    */
  def lmFluency(df: DataFrame, id: String, text: String): DataFrame = {
    // Bigram rows straight from the per-doc token array — ONE narrow
    // projection (r18 optimization, guide §2.4): the previous
    // positional-postings SELF-JOIN on (doc, pos+1) shuffled the whole
    // token stream twice (plus sort) to pair tokens that sit ADJACENT in
    // the same array. Tokenization is [[FullText.positionalPostings]]'s,
    // verbatim, so the (doc, w1, w2) multiset is identical.
    val toks = df.select(col(id).as("doc"),
      filter(split(lower(trim(col(text))), "\\W+"),
        t => length(t) > 0).as("_t"))
    // arrays_zip of the two shifted slices, NOT a transform(sequence(...))
    // lambda: higher-order functions evaluate interpreted (CodegenFallback)
    // and measured 3-4× the per-row cost of these codegen'd builtins.
    val bi = toks.filter(size(col("_t")) >= 2)
      .select(col("doc"), explode(arrays_zip(
        slice(col("_t"), lit(1), size(col("_t")) - 1),
        slice(col("_t"), lit(2), size(col("_t")) - 1))).as("bg"))
      .select(col("doc"), col("bg.0").as("w1"), col("bg.1").as("w2"))
    val c2 = bi.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c2"))
    // unigram model: vocabulary-sized aggregate, cut once, so V is the
    // cut's row count instead of a separate full-corpus distinct+count
    graft.exec.Generations.scope { gen =>
      val (c1, v) = gen.cut(toks.select(explode(col("_t")).as("w1c"))
        .groupBy(col("w1c")).agg(count(lit(1)).as("c1")))
      bi.join(c2, Seq("w1", "w2"))
        .join(c1, col("w1") === col("w1c"))
        .select(col("doc"),
          floor((col("c2") + 1) * lit(1000000.0) / (col("c1") + lit(v.toDouble)))
            .cast("bigint").as("s"))
        .groupBy(col("doc"))
        .agg(sum(col("s")).cast("bigint").as("total"),
          count(lit(1)).cast("bigint").as("n_bigrams"))
        .select(col("doc"), col("n_bigrams"), col("total"),
          round(col("total").cast("double") / col("n_bigrams"), 4).as("fluency"))
    }
  }

  def pack(df: DataFrame, id: String, text: String, shard: String,
      seqLen: Int = 2048): DataFrame = {
    require(seqLen > 0)
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(shard).orderBy(id)
      .rowsBetween(Window.unboundedPreceding, -1)
    df.select(col(id), col(shard), tokenCount(col(text)).as("_tok"))
      .select(col(id), col(shard),
        coalesce(sum(col("_tok")).over(w), lit(0L)).as("tok_start"))
      .select(col(id), col(shard), col("tok_start").cast("bigint").as("tok_start"),
        floor(col("tok_start") / seqLen).cast("bigint").as("seq"))
  }
}
