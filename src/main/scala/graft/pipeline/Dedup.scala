package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.exec.Generations

/** Deduplication operators for training-data pipelines (north-star ops).
  *
  * Scale posture: every variant is shuffle-minimal —
  *   - exact / fingerprint dedup: ONE hash-aggregate (map-side partial).
  *   - MinHash+LSH: signatures are a narrow map (no shuffle); the only
  *     shuffle is the band-bucket self-join, whose cost is bounded by bucket
  *     sizes (near-linear for non-degenerate corpora). A frequency cap drops
  *     degenerate buckets (stop-shingles) instead of exploding quadratically.
  *   - SimHash: narrow map to a 64-bit key, then bucket-join on key.
  *   - n-gram Jaccard verify: only over LSH candidates, never all pairs.
  * All signature math is `functions._` expressions (codegen), no UDFs.
  */
object Dedup {

  // ------------------------------------------------------------- exact

  /** Exact duplicate groups by content hash; `keep_id` = min id (stable). */
  def exactGroups(df: DataFrame, id: String, text: String): DataFrame =
    df.groupBy(md5(col(text)).as("h"))
      .agg(min(col(id)).as("keep_id"), count(lit(1)).as("n"))

  /** Drop exact duplicates, keeping the smallest id per content hash. */
  def dropExact(df: DataFrame, id: String, text: String): DataFrame =
    df.join(exactGroups(df, id, text).select(col("keep_id").as(id)), Seq(id), "left_semi")

  /** Normalized-content duplicate groups (formatting-robust). */
  def fingerprintGroups(df: DataFrame, id: String, text: String): DataFrame =
    df.groupBy(TextAnalysis.fingerprint(col(text)).as("fp"))
      .agg(min(col(id)).as("keep_id"), count(lit(1)).as("n"))

  // ------------------------------------------------------------- shingles

  /** Word n-gram shingles as a deduplicated array column — the
    * [[graft.functions.WordShingles]] native kernel (one pass per row).
    */
  def shingles(text: Column, n: Int = 3): Column =
    graft.functions.WordShingles(text, n)

  /** Distinct (doc, shingle) ROWS for a whole corpus: the per-row shingle
    * kernel + `explode` — a single NARROW projection. (Earlier rounds used
    * posexplode + a `lead` window + global `distinct()`: two wide shuffles
    * and a per-doc sort before the rows could be written; the kernel dedups
    * per doc, which is exactly what the global distinct did, since rows are
    * keyed by doc.) Shingle strings are bit-identical to before — see the
    * kernel's tokenization contract.
    */
  def shingleRows(df: DataFrame, id: String, text: String, n: Int = 3): DataFrame =
    df.select(col(id).as("doc"),
      explode(graft.functions.WordShingles(col(text), n)).as("shingle"))

  // ------------------------------------------------------------- minhash

  /** Deterministic permutation constants for minhash (fixed seed → results
    * reproducible across runs; required by the verify harness). `private[graft]`
    * so [[graft.OracleSql]] can interpolate the SAME constants into the DuckDB
    * oracle.
    */
  private[graft] val Prime = 2038074743L
  private[graft] def perm(k: Int): (Long, Long) = {
    val rnd = new scala.util.Random(42L + k)
    (math.abs(rnd.nextLong()) % Prime + 1, math.abs(rnd.nextLong()) % Prime)
  }

  /** Shingle hash variants (both map to [0, Prime); h,a,b < Prime keeps
    * `h*a+b` < 2^63 — no overflow in either engine):
    *   - [[xxShingleHash]]: xxhash64 — fastest, Spark-only. Default for the
    *     LSH pairs pipeline, whose correctness gate is the FINAL true-jaccard
    *     pair set (hash-independent).
    *   - [[md5ShingleHash]]: first 15 md5 hex digits — ~3 s dearer per 10⁶
    *     shingles but computable in DuckDB too, so the signature TABLE
    *     operator's oracle replays signatures bit-for-bit.
    */
  private[graft] def xxShingleHash(c: Column): Column = abs(xxhash64(c)) % Prime
  private[graft] def md5ShingleHash(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast("bigint") % Prime

  /** Per-document k-permutation MinHash signatures, computed by exploding
    * shingles and running k `min` aggregates — k simple codegen'd aggregates
    * with map-side partial combine (NOT k array-transform expressions, which
    * blow up the Catalyst plan and evaluate interpreted). Output:
    * (doc, sig: array<bigint>). Documents with no shingles get sig = [Prime]*k.
    */
  def minhashSignatures(df: DataFrame, id: String, text: String, k: Int = 32,
      shingleHash: Column => Column = xxShingleHash): DataFrame =
    minhashSignaturesFrom(df, id, shingleRows(df, id, text), k, shingleHash)

  /** Signatures from PRECOMPUTED (doc, shingle) rows — lets one shingle
    * pass (materialized once) feed both the signature job and the
    * exact-Jaccard verify ([[minhashDedupPairs]]): the corpus is tokenized
    * once, not once per stage.
    */
  def minhashSignaturesFrom(df: DataFrame, id: String, shRows: DataFrame,
      k: Int = 32, shingleHash: Column => Column = xxShingleHash): DataFrame = {
    val sh = shRows.withColumn("h", shingleHash(col("shingle")))
    val mins = (0 until k).map { i =>
      val (a, b) = perm(i)
      coalesce(min((col("h") * a + b) % Prime), lit(Prime)).as(s"m$i")
    }
    val sigs = sh.groupBy(col("doc")).agg(mins.head, mins.tail: _*)
      .select(col("doc"), array((0 until k).map(i => col(s"m$i")): _*).as("sig"))
    // documents with no shingles (shorter than n tokens) still get a signature
    val empty = array(Seq.fill(k)(lit(Prime)): _*)
    df.select(col(id).as("doc")).join(sigs, Seq("doc"), "left_outer")
      .select(col("doc"), coalesce(col("sig"), empty).as("sig"))
  }

  /** doc → (band, bandHash) pairs for LSH banding (bands × rowsPerBand = k). */
  def lshBands(sig: Column, bands: Int, rowsPerBand: Int): Column =
    array((0 until bands).map { b =>
      struct(lit(b).as("band"), hash(slice(sig, b * rowsPerBand + 1, rowsPerBand)).as("bh"))
    }: _*)

  /** MinHash-LSH candidate pairs with estimated Jaccard from signature
    * agreement, filtered at `threshold`. `maxBucket` caps degenerate buckets
    * (the skew guard at scale).
    */
  def minhashPairs(df: DataFrame, id: String, text: String, k: Int = 32,
      bands: Int = 8, threshold: Double = 0.5, maxBucket: Int = 200): DataFrame = {
    // Signatures are the expensive narrow stage, read by three downstream
    // consumers — cut once.
    val sigs = Generations.cut(minhashSignatures(df, id, text, k))
    minhashPairsFromSigs(sigs, k, bands, threshold, maxBucket)
  }

  /** Banded candidate generation from a MATERIALIZED signature table. */
  def minhashPairsFromSigs(sigs: DataFrame, k: Int = 32, bands: Int = 8,
      threshold: Double = 0.5, maxBucket: Int = 200): DataFrame = {
    val r = k / bands
    val banded = sigs.select(col("doc"),
        explode(lshBands(col("sig"), bands, r)).as("b"))
      .select(col("doc"), col("b.band"), col("b.bh"))
    // Skew guard: drop degenerate buckets (stop-shingle pile-ups) instead of
    // letting one bucket go quadratic. Bucket sizes are a small aggregate —
    // broadcast-joined back (a count-window over the full table would sort-
    // shuffle everything for the same answer).
    val okBuckets = banded.groupBy(col("band"), col("bh"))
      .agg(count(lit(1)).as("bucket_n"))
      .filter(col("bucket_n") <= maxBucket)
      .select(col("band"), col("bh"))
    val capped = banded.join(broadcast(okBuckets), Seq("band", "bh"))
      .select(col("doc"), col("band"), col("bh"))
    val l = capped.alias("l"); val rr = capped.alias("r")
    // Dedup candidates on bare (a,b) BEFORE touching signature arrays, then
    // join signatures back (small relation) for the estimate.
    val cand = l.join(rr, col("l.band") === col("r.band") && col("l.bh") === col("r.bh") &&
        col("l.doc") < col("r.doc"))
      .select(col("l.doc").as("a"), col("r.doc").as("b"))
      .distinct()
    val withSigs = cand
      .join(sigs.select(col("doc").as("a"), col("sig").as("siga")), Seq("a"))
      .join(sigs.select(col("doc").as("b"), col("sig").as("sigb")), Seq("b"))
    val estSim = size(filter(zip_with(col("siga"), col("sigb"), (x, y) => x === y),
      (e: Column) => e)).cast("double") / lit(k)
    withSigs.select(col("a"), col("b"), round(estSim, 4).as("est_jaccard"))
      .filter(col("est_jaccard") >= threshold)
  }

  // ------------------------------------------------------------- simhash

  /** 60-bit md5 token hash — same value DuckDB computes as
    * `('0x' || substr(md5(tok), 1, 15))::BIGINT`, so the SimHash oracle
    * replays keys bit-for-bit (the [[md5ShingleHash]] trick, minus the
    * modulus: SimHash needs the raw bit pattern).
    */
  // a VAL (stable function identity): simhashes routes `tokenHash eq
  // md5TokenHash` onto the one-pass kernel
  private[graft] val md5TokenHash: Column => Column =
    c => conv(substring(md5(c), 1, 15), 16, 10).cast("bigint")
  private[graft] val xxTokenHash: Column => Column = xxhash64(_)

  /** Per-document SimHash (majority vote per bit) — the ONE-PASS
    * [[graft.functions.SimHash]] kernel: a narrow projection, NO explode
    * and NO per-doc aggregate shuffle (the r11 analog of the shingle
    * kernel win; the previous explode+groupBy path survives as
    * [[simhashesAgg]] and the kernel is unit-asserted bit-identical to
    * it for both token hashes). Output: (doc, sh: bigint).
    *
    * Default: 64-bit xxhash64 (fastest). The oracle-replicable variant is
    * `(nbits = 60, md5 = true)`.
    */
  def simhashes(df: DataFrame, id: String, text: String, nbits: Int = 64,
      tokenHash: Column => Column = xxTokenHash): DataFrame =
    // route the two known hash kinds onto the kernel; an exotic custom
    // hash falls back to the aggregate path
    if ((tokenHash eq md5TokenHash) || (tokenHash eq xxTokenHash))
      df.select(col(id).as("doc"),
        graft.functions.SimHash(col(text), nbits,
          md5Hash = tokenHash eq md5TokenHash).as("sh"))
    else simhashesAgg(df, id, text, nbits, tokenHash)

  /** The explode + nbits-bit-count-aggregate SimHash path (one shuffle) —
    * kept as the kernel's differential oracle and for custom token hashes.
    */
  def simhashesAgg(df: DataFrame, id: String, text: String, nbits: Int = 64,
      tokenHash: Column => Column = xxhash64(_)): DataFrame = {
    val toks = filter(split(lower(trim(col(text))), "\\W+"), t => length(t) > 0)
    val exploded = df.select(col(id).as("doc"), explode_outer(toks).as("tok"))
      .withColumn("h", tokenHash(col("tok")))
    val aggs = count(col("h")).as("ntok") +:
      (0 until nbits).map(i => sum(shiftright(col("h"), i).bitwiseAND(1)).as(s"b$i"))
    val counted = exploded.groupBy(col("doc")).agg(aggs.head, aggs.tail: _*)
    val sh = (0 until nbits).map { i =>
      when(col(s"b$i") * 2 > col("ntok"), shiftleft(lit(1L), i)).otherwise(lit(0L))
    }.reduce[Column](_ + _)
    counted.select(col("doc"), sh.as("sh"))
  }

  /** Near-dup pairs by SimHash with MULTI-PROBE banding: the `nbits`-bit key
    * is split into `bands` equal sub-keys; by pigeonhole, any pair within
    * hamming distance `maxHamming ≤ bands - 1` collides on at least one
    * band, so a per-band equi-join (never all-pairs) generates a complete
    * candidate set, and an exact popcount `bit_count(sha XOR shb)` verifies.
    * Candidates are deduped on bare (a, b) before the verify expression —
    * the same shape as [[minhashPairs]], and every stage is plain SQL in
    * both engines (the oracle replays bands + popcount).
    *
    * Output: (a, b, hamming) for pairs with hamming ≤ maxHamming.
    */
  def simhashPairs(df: DataFrame, id: String, text: String, nbits: Int = 64,
      tokenHash: Column => Column = xxhash64(_), maxHamming: Int = 3,
      bands: Int = 4): DataFrame =
    simhashKeyPairs(simhashes(df, id, text, nbits, tokenHash),
      nbits, maxHamming, bands)

  /** Banded pairing over a precomputed (doc, sh) SimHash key table — split
    * out so the band/verify logic is unit-testable on hand-crafted keys.
    */
  def simhashKeyPairs(keyed: DataFrame, nbits: Int, maxHamming: Int,
      bands: Int): DataFrame = {
    require(bands > 1 && nbits % bands == 0,
      s"nbits ($nbits) must split evenly into bands ($bands)")
    require(maxHamming < bands,
      s"pigeonhole guarantee needs maxHamming ($maxHamming) < bands ($bands)")
    val w = nbits / bands
    require(w < 63, s"band width $w would overflow the mask")
    val mask = (1L << w) - 1L
    val banded = keyed.select(col("doc"), col("sh"), explode(array(
      (0 until bands).map { b =>
        struct(lit(b).as("band"),
          shiftright(col("sh"), b * w).bitwiseAND(lit(mask)).as("bk"))
      }: _*)).as("b"))
      .select(col("doc"), col("sh"), col("b.band"), col("b.bk"))
    val l = banded.select(col("doc").as("a"), col("sh").as("sha"),
      col("band"), col("bk"))
    val r = banded.select(col("doc").as("b"), col("sh").as("shb"),
      col("band"), col("bk"))
    // A pair can collide on several bands — dedup BEFORE the popcount.
    val cand = l.join(r, Seq("band", "bk")).filter(col("a") < col("b"))
      .select(col("a"), col("b"), col("sha"), col("shb")).distinct()
    cand
      .select(col("a"), col("b"),
        bit_count(col("sha").bitwiseXOR(col("shb"))).cast("bigint").as("hamming"))
      .filter(col("hamming") <= maxHamming)
  }

  // ------------------------------------------------------------- jaccard

  /** Exact n-gram Jaccard over candidate pairs (or all pairs of a small set).
    * `pairs` must have columns (a, b); df provides (id, text).
    */
  def jaccardVerify(df: DataFrame, pairs0: DataFrame, id: String, text: String,
      n: Int = 3): DataFrame = {
    // Only shingle documents that actually appear in a candidate pair — the
    // verify stage must stay proportional to |candidates|, not |corpus| —
    // and run the set intersection as row joins (codegen) rather than
    // interpreted array_intersect. The candidate set (often an LSH DAG,
    // referenced 3×) and the shingle rows (read twice) are cut once.
    val pairs = Generations.cut(pairs0)
    val ids = pairs.select(col("a").as("doc"))
      .unionAll(pairs.select(col("b").as("doc"))).distinct()
    val sh = Generations.cut(
      shingleRows(df.join(ids, col(id) === col("doc"), "left_semi"), id, text, n))
    jaccardVerifyCore(pairs, sh)
  }

  /** Verify from PRECOMPUTED (doc, shingle) rows (already materialized):
    * restricts to candidate docs with a semi-join instead of re-tokenizing
    * the corpus ([[minhashDedupPairs]]).
    */
  def jaccardVerifyFromShingles(shRows: DataFrame, pairs0: DataFrame): DataFrame = {
    val pairs = Generations.cut(pairs0)
    val ids = pairs.select(col("a").as("doc"))
      .unionAll(pairs.select(col("b").as("doc"))).distinct()
    jaccardVerifyCore(pairs, shRows.join(ids, Seq("doc"), "left_semi"))
  }

  /** Shared verify tail: exact intersection/union as codegen'd row joins
    * over candidate-doc shingle rows — cost ∝ candidates, never corpus².
    */
  private def jaccardVerifyCore(pairs: DataFrame, sh: DataFrame): DataFrame = {
    val sizes = sh.groupBy(col("doc")).agg(count(lit(1)).as("sz"))
    val inter = pairs
      .join(sh.select(col("doc").as("a"), col("shingle")), Seq("a"))
      .join(sh.select(col("doc").as("b"), col("shingle")), Seq("b", "shingle"))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("inter"))
    pairs
      .join(inter, Seq("a", "b"), "left_outer")
      .join(sizes.select(col("doc").as("a"), col("sz").as("sa")), Seq("a"), "left_outer")
      .join(sizes.select(col("doc").as("b"), col("sz").as("sb")), Seq("b"), "left_outer")
      .select(col("a"), col("b"), {
        val i = coalesce(col("inter"), lit(0L)).cast("double")
        val u = coalesce(col("sa"), lit(0L)) + coalesce(col("sb"), lit(0L)) -
          coalesce(col("inter"), lit(0L))
        round(i / greatest(u, lit(1L)).cast("double"), 4).as("jaccard")
      })
  }

  /** One-pass LSH near-dup pipeline (r10): the corpus is SHINGLED ONCE —
    * the materialized (doc, shingle) rows feed both the signature job and
    * the exact-Jaccard verify, where previously each stage re-tokenized
    * the documents from scratch. Semantically identical to
    * `minhashPairs(...)` then `jaccardVerify(...)`; the saving is one full
    * tokenize+posexplode pass over the corpus.
    */
  def minhashDedupPairs(df: DataFrame, id: String, text: String, k: Int = 32,
      bands: Int = 8, estThreshold: Double = 0.2, threshold: Double = 0.5,
      maxBucket: Int = 200, n: Int = 3): DataFrame = {
    val sh = Generations.cut(shingleRows(df, id, text, n))
    val sigs = Generations.cut(minhashSignaturesFrom(df, id, sh, k))
    val cand = minhashPairsFromSigs(sigs, k, bands, estThreshold, maxBucket)
    jaccardVerifyFromShingles(sh, cand.select(col("a"), col("b")))
      .filter(col("jaccard") >= threshold)
  }

  /** Near-dup CLUSTER RESOLUTION: the verified LSH pairs form a graph whose
    * connected components are the duplicate clusters — each doc labels with
    * the component's MIN doc id (GraphX's connectedComponents invariant),
    * i.e. the cluster's canonical keep id. The pipeline step after pair
    * generation in a training-data dedup: keep one representative per
    * cluster, drop the rest.
    *
    * Scale: the pair graph is ∝ near-duplicates (thousands per million
    * docs), NOT the corpus — GraphX's Pregel CC over it is a rounding error
    * next to the LSH job, and the 100 TB corpus itself never enters the
    * graph.
    */
  def dupClusters(df: DataFrame, id: String, text: String, k: Int = 32,
      bands: Int = 8, estThreshold: Double = 0.2, threshold: Double = 0.5,
      maxBucket: Int = 200, n: Int = 3): DataFrame = {
    val pairs = minhashDedupPairs(df, id, text, k, bands, estThreshold,
      threshold, maxBucket, n)
    val spark = df.sparkSession
    import spark.implicits._
    // GraphX vertex ids are Long: a non-numeric doc_id try_casts to null
    // here, so fail fast with the actual contract instead of an NPE inside
    // Edge (or ANSI's generic CAST_INVALID_INPUT).
    val edges = pairs.select(col("a").try_cast("long"), col("b").try_cast("long"))
      .as[(java.lang.Long, java.lang.Long)].rdd
      .map { case (a, b) =>
        require(a != null && b != null,
          "dupClusters: doc ids must be numeric (castable to long) — " +
            "GraphX vertex ids are Long; map string ids to a surrogate first")
        org.apache.spark.graphx.Edge(a.longValue, b.longValue, ())
      }
    org.apache.spark.graphx.Graph.fromEdges(edges, ())
      .connectedComponents().vertices.toDF("doc", "cluster")
  }

  // ------------------------------------------------------------- embeddings

  /** Dot product of two double-array columns (sequential fold — deterministic
    * left-to-right accumulation, matching a sequential oracle bit-for-bit).
    * NOTE: Spark evaluates higher-order functions interpreted (not codegen),
    * so pair-wise work should fold ONCE per pair — normalize vectors per ROW
    * first ([[normalized]]) and take a single dot per pair.
    */
  def dot(x: Column, y: Column): Column =
    aggregate(zip_with(x, y, (p, q) => p * q), lit(0.0), (acc, v) => acc + v)

  /** L2-normalized copy of a float-array column (one fold per row). */
  def normalized(vec: Column): Column = {
    val d = transform(vec, x => x.cast("double"))
    val nrm = sqrt(aggregate(transform(d, x => x * x), lit(0.0), (acc, v) => acc + v))
    transform(d, x => when(nrm > 0, x / nrm).otherwise(lit(0.0)))
  }

  /** Cosine similarity of two float-array columns. For pairwise workloads
    * prefer `dot(normalized, normalized)` — see [[normalized]].
    */
  def cosine(a: Column, b: Column): Column = {
    val ad = transform(a, x => x.cast("double"))
    val bd = transform(b, x => x.cast("double"))
    val denom = sqrt(dot(ad, ad)) * sqrt(dot(bd, bd))
    when(denom > 0, dot(ad, bd) / denom).otherwise(lit(0.0))
  }

  /** Sequential left-to-right dot product — a NATIVE codegen'd Catalyst
    * expression ([[graft.functions.DotProduct]]).
    *
    * Measured alternatives for dense pairwise vector math at 125k pairs × 64
    * dims: interpreted `aggregate`/`zip_with` folds ≈ 19 s; posexplode +
    * broadcast-join + hash-agg ≈ 47 s; a compiled Scala UDF ≈ sub-second.
    * The native expression removes the UDF's remaining per-row Seq[Double]
    * deserialization/boxing and keeps the loop inside WHOLE-STAGE CODEGEN.
    * Accumulation order (index-ascending) matches a sequential oracle
    * bit-for-bit.
    */
  def dotUdf(a: Column, b: Column): Column =
    graft.functions.VectorExpressions.dot(a, b)

  /** Embedding near-duplicate pairs above a cosine threshold — EXACT
    * (all pairs, unlike LSH candidates) and fully distributed via block
    * decomposition: rows are hashed into `blocks` groups, the B-row block
    * table is self-joined (B² /2 tiny rows — a broadcast nested loop), and
    * each task runs a tight double-array kernel over one block pair. No
    * driver collect, no O(n²·d) bytes through a join: total work is the
    * inherent O(n²·d) flops but no single node ever holds more than two
    * blocks. Size `blocks` so a block (≈ n·d·8/B bytes) fits a task — at
    * 100 TB-scale corpora prefer the approximate LSH path
    * ([[Similarity.lshTopK]]) and use this kernel as its verify stage.
    *
    * The per-pair accumulation is index-ascending, matching a sequential
    * oracle bit-for-bit (see [[dotUdf]]).
    */
  def cosineNearDupPairs(df: DataFrame, id: String, vec: String,
      threshold: Double, blocks: Int = 16): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val byBlock = df
      .select(col(id).cast("long"), transform(col(vec), x => x.cast("double")))
      .as[(Long, Array[Double])]
      .map { case (i, v) =>
        var s = 0.0; var k = 0
        while (k < v.length) { s += v(k) * v(k); k += 1 }
        (java.lang.Math.floorMod(i, blocks.toLong).toInt, (i, v, math.sqrt(s)))
      }
      .groupByKey(_._1)
      .mapGroups((blk, it) => (blk, it.map(_._2).toArray))
    val l = byBlock.alias("bl"); val r = byBlock.alias("br")
    val pairs = l.joinWith(r, col("bl._1") <= col("br._1"))
      .flatMap { case ((bi, xs), (bj, ys)) =>
        val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Double)]
        var p = 0
        while (p < xs.length) {
          val (ia, va, na) = xs(p)
          var q = 0
          while (q < ys.length) {
            val (ib, vb, nb) = ys(q)
            // same block: emit each unordered pair once (ia < ib); cross
            // blocks: every (x ∈ bi, y ∈ bj) crossing is a distinct pair.
            if (if (bi == bj) ia < ib else true) {
              var s = 0.0; var k = 0
              while (k < va.length) { s += va(k) * vb(k); k += 1 }
              val denom = na * nb
              val c = if (denom > 0) s / denom else 0.0
              // pre-filter with slack; the authoritative round-4 threshold
              // comparison happens in the Column expression below.
              if (c >= threshold - 1e-4)
                out += ((math.min(ia, ib), math.max(ia, ib), c))
            }
            q += 1
          }
          p += 1
        }
        out.iterator
      }.toDF("a", "b", "cos0")
    pairs.filter(round(col("cos0"), 4) >= threshold)
      .select(col("a"), col("b"), round(col("cos0"), 4).as("cos"))
  }

  /** Embedding near-dup pairs via sign-LSH BANDING + exact cosine verify —
    * the CORPUS-SCALE path that [[cosineNearDupPairs]] (the exact all-pairs
    * kernel) is documented as the verify stage of. The `planes` sign bits
    * (md5-derived hyperplanes, [[Similarity.planeWeight]]) split into
    * `bands` sub-keys; pairs colliding on ≥ 1 band become candidates
    * (deduped on bare (a,b) before vectors join back), then the EXACT
    * cosine decides. Cost ∝ candidates, never all-pairs. Approximate by
    * design: a pair whose keys differ in every band is missed — recall
    * rises with bands and falls with threshold (measured in the spec
    * against the exact kernel); precision is 1 (exact verify).
    */
  def cosineLshPairs(df: DataFrame, id: String, vec: String,
      threshold: Double, planes: Int = 16, bands: Int = 4,
      dim: Int = 64): DataFrame = {
    require(bands > 0 && planes % bands == 0,
      s"planes ($planes) must split evenly into bands ($bands)")
    val w = planes / bands
    val mask = (1L << w) - 1L
    // dimension enforced IN the plan (raise_error per offending row), not by
    // an eager first-row collect: a lazy builder must not fire a Spark job,
    // and a single-row check would miss a ragged column anyway.
    val dimChecked = when(size(col(vec)) === dim, col(vec)).otherwise(
      raise_error(concat(lit(s"cosineLshPairs dim=$dim but embedding has "),
        size(col(vec)).cast("string"), lit(" elements"))))
    val c = df.select(col(id).cast("long").as("doc"),
        transform(dimChecked, x => x.cast("double")).as("v"))
      .withColumn("key", Similarity.lshKey(col("v"), planes, dim))
    val banded = c.select(col("doc"), explode(array((0 until bands).map { b =>
        struct(lit(b).as("band"),
          shiftright(col("key"), b * w).bitwiseAND(lit(mask)).as("bk"))
      }: _*)).as("b"))
      .select(col("doc"), col("b.band"), col("b.bk"))
    val cand = banded.alias("l").join(banded.alias("r"),
        col("l.band") === col("r.band") && col("l.bk") === col("r.bk") &&
          col("l.doc") < col("r.doc"))
      .select(col("l.doc").as("a"), col("r.doc").as("b")).distinct()
    val vecs = c.select(col("doc"), col("v"),
      sqrt(aggregate(transform(col("v"), x => x * x), lit(0.0),
        (acc, x) => acc + x)).as("n"))
    cand
      .join(vecs.select(col("doc").as("a"), col("v").as("va"),
        col("n").as("na")), Seq("a"))
      .join(vecs.select(col("doc").as("b"), col("v").as("vb"),
        col("n").as("nb")), Seq("b"))
      .select(col("a"), col("b"),
        when(col("na") * col("nb") > 0,
          dotUdf(col("va"), col("vb")) / (col("na") * col("nb")))
          .otherwise(lit(0.0)).as("cos0"))
      .filter(round(col("cos0"), 4) >= threshold)
      .select(col("a"), col("b"), round(col("cos0"), 4).as("cos"))
  }

  /** End-to-end near-dup REMOVAL — the pass a training-data pipeline
    * actually runs: MinHash-LSH candidates → exact n-gram Jaccard verify →
    * connected components over the dup graph → keep the smallest id per
    * cluster plus every unpaired doc. Components come from the semi-naive
    * closure over the (|dup-pairs|-sized, symmetric) edge set — corpus-scale
    * data never enters the fixpoint, so the clustering cost scales with the
    * number of DUPLICATES, not the corpus.
    */
  def dedupKeep(df: DataFrame, id: String, text: String, k: Int = 32,
      bands: Int = 8, candThreshold: Double = 0.2,
      jaccardMin: Double = 0.5): DataFrame = {
    val spark = df.sparkSession
    val cand = minhashPairs(df, id, text, k, bands, candThreshold)
    val pairs = jaccardVerify(df, cand.select("a", "b"), id, text)
      .filter(col("jaccard") >= jaccardMin).select(col("a"), col("b"))
    val edges = pairs.select(col("a").as("src"), col("b").as("dst"))
      .unionAll(pairs.select(col("b").as("src"), col("a").as("dst")))
    // symmetric edges → the closure reaches the whole component (and the
    // node itself via its 2-cycle), so min(dst) per src IS the component
    // representative; anything above its rep is a duplicate to drop
    val reach = graft.paths.PropertyPaths.closure(spark, edges)
    val drops = reach.groupBy(col("src"))
      .agg(min(col("dst")).as("rep"))
      .filter(col("rep") < col("src"))
      .select(col("src").as(id))
    df.join(drops, Seq(id), "left_anti").select(col(id))
  }

  /** INCREMENTAL exact dedup of a new batch against an existing corpus —
    * the other pass production pipelines run constantly: which newly
    * crawled documents are verbatim already-seen? At 100 TB the seen side
    * is far too big to broadcast, but a BLOOM FILTER of its fingerprints
    * is megabytes: build it in one pass over `seen`, prefilter the new
    * batch with the (FP-only, never FN) membership test, and run the
    * exact join ONLY for the bloom hits — the anti-join's shuffle shrinks
    * from |new| to |probable duplicates|. The final output is EXACT (the
    * verify join removes bloom false positives), so the result equals a
    * plain anti-join and the oracle replays it directly.
    *
    * Fingerprint = md5 of the trimmed text ([[fingerprints]]' exact-dup
    * key). `expectedSeen`/`fpp` size the filter (Spark's stat.bloomFilter
    * — a broadcast literal, no shuffle on the probe side).
    */
  def incrementalNew(newDf: DataFrame, seenDf: DataFrame, id: String,
      text: String, expectedSeen: Long = 1000000L,
      fpp: Double = 0.01): DataFrame = {
    val fp = (t: Column) => md5(trim(t))
    val seenFp = seenDf.select(fp(col(text)).as("fp"))
    val bloom = seenFp.stat.bloomFilter("fp", math.max(expectedSeen,
      1000L), fpp)
    val spark = newDf.sparkSession
    val bloomB = spark.sparkContext.broadcast(bloom)
    val mightMatch = udf((s: String) => s != null && bloomB.value
      .mightContainString(s))
    val newFp = newDf.select(col(id), fp(col(text)).as("fp"))
    val hits = newFp.filter(mightMatch(col("fp")))
    // exact verify only for bloom hits; misses are DEFINITELY new
    val dups = hits.join(seenFp.distinct(), Seq("fp"), "left_semi")
    newFp.join(dups.select(col(id)), Seq(id), "left_anti")
      .select(col(id))
  }

  /** Benchmark DECONTAMINATION: flag corpus documents sharing any token
    * n-gram with the evaluation set — the step every training-data pipeline
    * runs so the model is not graded on memorized training text (real
    * pipelines use 13-grams; the parameter is `n`).
    *
    * Scale shape: the benchmark side is SMALL by definition (an eval suite
    * is thousands of documents, the corpus is billions), so its distinct
    * grams BROADCAST and the corpus side is one narrow shingle projection
    * + a map-side broadcast join — the 100 TB corpus is never shuffled.
    * Output: (id, hit_grams) for contaminated documents only (the drop
    * list; grams are distinct per doc via the shingle kernel).
    */
  def contamination(corpus: DataFrame, bench: DataFrame, id: String,
      text: String, n: Int = 13): DataFrame = {
    val benchGrams = bench
      .select(explode(shingles(col(text), n)).as("gram")).distinct()
    corpus
      .select(col(id), explode(shingles(col(text), n)).as("gram"))
      .join(broadcast(benchGrams), Seq("gram"))
      .groupBy(col(id))
      .agg(count(lit(1)).cast("bigint").as("hit_grams"))
  }

  /** EXACT SUBSTRING dedup spans (the Lee et al. 2021 "Deduplicating
    * Training Data" operation, fixed-window variant): every `l`-token
    * window occurring in >= `minDocs` DISTINCT documents marks its span;
    * overlapping/adjacent marked spans merge per document. Output one row
    * per merged span: (doc, span_start, span_end) in TOKEN offsets,
    * half-open — the cut list a training pipeline applies before
    * tokenization. (Lee et al. use suffix arrays for any-length matches >=
    * a threshold; fixed `l`-windows find exactly the matches of length >=
    * l — same spans, merge-equivalent — as relational operators.)
    *
    * Scale shape: windows ∝ corpus tokens (one narrow projection), the
    * duplicate-gram filter is one hash aggregate keyed by gram, marked
    * spans ∝ DUPLICATED windows only, and the merge is a per-doc window
    * (partitioned by doc — never a global sort). At 100 TB the gram join
    * key would be xxhash64(gram) with an exact verify on the collisions;
    * kept as text here so the oracle replays byte-exactly.
    */
  /** WITHIN-document repeated-span trimming (r15) — the self-repetition
    * cleanup pass a training pipeline runs before the cross-doc dedups:
    * an `l`-token window recurring INSIDE one document marks every
    * occurrence AFTER the gram's first as removable; overlapping marks
    * merge per doc, and the document reassembles from the surviving
    * tokens (the tokenizer-normalized stream — byte-exact trimming would
    * need original offsets, out of scope and documented). Complements
    * [[duplicatedSpans]] (cross-document) with the in-document case
    * (generation loops, boilerplate stutter).
    *
    * Output: (doc, kept, n_trimmed) — the trimmed token text and the
    * number of tokens removed.
    *
    * Scale shape: windows ∝ corpus tokens; the first-occurrence rank is
    * a (doc, gram)-keyed window (one shuffle — the key is fine-grained,
    * no hot reducer); merged marks ∝ REPEATED windows only; reassembly
    * joins the per-doc span LIST (merged spans are few and disjoint)
    * back to the doc row and filters tokens with one codegen'd
    * higher-order expression — never a token×span join.
    */
  def trimRepeatedSpans(df: DataFrame, id: String, text: String,
      l: Int = 8): DataFrame = {
    require(l >= 1)
    val toks = df.select(col(id).cast("long").as("doc"),
      filter(split(lower(trim(col(text))), "\\W+"),
        t => length(t) > 0).as("_t"))
    val wins = toks.filter(size(col("_t")) >= l)
      .select(col("doc"), posexplode(expr(
        s"transform(sequence(0, size(_t) - $l), " +
          s"i -> array_join(slice(_t, i + 1, $l), ' '))")))
      .select(col("doc"), col("pos").cast("long").as("start"),
        // 100 TB posture (shared with [[duplicatedSpans]]): the
        // first-occurrence window keys on xxhash64(gram), not the raw
        // 8-token string — the shuffle row carries 8 bytes where the
        // joined gram text is ~50-100. A WITHIN-document 64-bit collision
        // (≲ tokens²/2⁶⁵ per doc) trims a non-repeated span; acceptably
        // improbable, and the trim is lossy-by-contract anyway.
        xxhash64(col("col")).as("ghash"))
    val wg = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc"), col("ghash"))
    val dups = wins
      .withColumn("_f0", min(col("start")).over(wg))
      .filter(col("start") > col("_f0"))
      .select(col("doc"), col("start"), (col("start") + l).as("end"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc")).orderBy(col("start"), col("end"))
    val spans = dups
      .withColumn("_pmax", max(col("end")).over(w.rowsBetween(
        org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)))
      .withColumn("_new",
        when(col("_pmax").isNull || col("start") > col("_pmax"), 1)
          .otherwise(0))
      .withColumn("_grp", sum(col("_new")).over(w))
      .groupBy(col("doc"), col("_grp"))
      .agg(min(col("start")).as("ss"), max(col("end")).as("se"))
      .groupBy(col("doc"))
      .agg(sort_array(collect_list(struct(col("ss"), col("se"))))
        .as("_spans"))
    toks.join(spans, Seq("doc"), "left")
      .select(col("doc"),
        array_join(expr(
          """filter(
            |  zip_with(_t, sequence(0, size(_t) - 1), (t, i) ->
            |    IF(_spans IS NULL OR NOT exists(_spans,
            |         s -> i >= s.ss AND i < s.se), t, NULL)),
            |  x -> x IS NOT NULL)""".stripMargin), " ").as("kept"),
        coalesce(expr(
          "aggregate(_spans, 0L, (acc, s) -> acc + s.se - s.ss)"),
          lit(0L)).as("n_trimmed"))
  }

  def duplicatedSpans(df: DataFrame, id: String, text: String,
      l: Int = 8, minDocs: Int = 2): DataFrame = {
    require(l >= 1 && minDocs >= 2)
    val toks = df.select(col(id).cast("long").as("doc"),
      filter(split(lower(trim(col(text))), "\\W+"),
        t => length(t) > 0).as("_t"))
    val wins = toks.filter(size(col("_t")) >= l)
      .select(col("doc"), posexplode(expr(
        s"transform(sequence(0, size(_t) - $l), " +
          s"i -> array_join(slice(_t, i + 1, $l), ' '))")))
      .select(col("doc"), col("pos").cast("long").as("start"),
        // 100 TB posture (r16 — previously documented, now applied, the
        // [[trimRepeatedSpans]] discipline): the gram-count aggregate and
        // the dup-gram semi-join both key on xxhash64(gram) — 8 bytes per
        // shuffle row instead of the joined l-token text. A CROSS-corpus
        // collision (~grams²/2⁶⁵) marks a non-duplicated span; acceptably
        // improbable for a lossy-by-contract cleanup pass.
        xxhash64(col("col")).as("ghash"))
    val dupGrams = wins.groupBy(col("ghash"))
      .agg(countDistinct(col("doc")).as("_nd"))
      .filter(col("_nd") >= minDocs).select(col("ghash"))
    val hits = wins.join(dupGrams, Seq("ghash"))
      .select(col("doc"), col("start"), (col("start") + l).as("end"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc")).orderBy(col("start"), col("end"))
    hits
      .withColumn("_pmax", max(col("end")).over(w.rowsBetween(
        org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)))
      .withColumn("_new",
        when(col("_pmax").isNull || col("start") > col("_pmax"), 1)
          .otherwise(0))
      .withColumn("_grp", sum(col("_new")).over(w))
      .groupBy(col("doc"), col("_grp"))
      .agg(min(col("start")).as("span_start"), max(col("end")).as("span_end"))
      .select(col("doc"), col("span_start"), col("span_end"))
  }
}
