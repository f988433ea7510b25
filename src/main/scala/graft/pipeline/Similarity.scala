package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.exec.Generations

/** Approximate-nearest-neighbor search over an embedding column
  * (`Array[Float]`) — north-star similarity-search operators.
  *
  *   - [[bruteTopK]]: exact cosine top-k. The query side is broadcast (it is
  *     small by construction); the corpus streams through one narrow
  *     map + per-query top-k (window row_number → Spark's WindowGroupLimit
  *     pushes the rank filter down, so no full sort of the cross product).
  *   - [[lshTopK]]: random-hyperplane LSH — corpus is bucketed by sign-bit
  *     key (narrow map + one shuffle by key), queries probe only their bucket.
  *     The 100 TB path: bucket count scales with corpus size, per-bucket work
  *     stays constant; recall tunes with `planes`/`probes`.
  *
  * Vector math is `functions._` fold expressions — deterministic
  * left-to-right accumulation, no UDF. Since Spark evaluates higher-order
  * functions interpreted, vectors are L2-normalized ONCE per row and each
  * pair costs a single dot-product fold.
  */
object Similarity {

  /** Deterministic pseudo-random hyperplanes: component j of plane p is an
    * md5-derived INTEGER in [-10000, 10000] (scaling doesn't change the sign,
    * so the unit normalization is skipped). md5 rather than Murmur so the
    * DuckDB oracle computes the IDENTICAL weight as
    * `('0x' || substr(md5(p || ',' || j), 1, 15))::BIGINT % 20001 - 10000` —
    * the whole LSH search becomes oracle-replayable. Weights are computed
    * once on the driver and inlined as literals: zero per-row hashing.
    */
  private[graft] def planeWeight(p: Int, j: Int): Double = {
    val hex = java.security.MessageDigest.getInstance("MD5")
      .digest(s"$p,$j".getBytes("UTF-8")).map("%02x".format(_)).mkString
    (java.lang.Long.parseLong(hex.substring(0, 15), 16) % 20001 - 10000).toDouble
  }

  /** Sign-bit LSH key of a `dim`-dimensional vector under `planes`
    * hyperplanes: one sequential dot product per plane against a literal
    * weight array (left-to-right accumulation, matching the oracle's).
    *
    * CONTRACT: `dim` must equal the embedding dimension. The weights are
    * inlined as literals (zero per-row hashing), so a shorter vector would
    * silently hash on a prefix — [[lshTopK]] guards this with a one-row
    * dimension probe rather than a per-row check in the hot path.
    */
  def lshKey(vec: Column, planes: Int, dim: Int): Column =
    (0 until planes).map { p =>
      val w = array((0 until dim).map(j => lit(planeWeight(p, j))): _*)
      when(Dedup.dotUdf(vec, w) >= 0, shiftleft(lit(1L), p)).otherwise(lit(0L))
    }.reduce[Column](_ + _)

  private[pipeline] def prepared(df: DataFrame, id: String, vec: String,
      idAs: String, vAs: String, nAs: String): DataFrame = {
    val ad = transform(col(vec), x => x.cast("double"))
    val nrm = sqrt(aggregate(transform(ad, x => x * x), lit(0.0), (acc, v) => acc + v))
    df.select(col(id).as(idAs), ad.as(vAs), nrm.as(nAs))
  }

  private[pipeline] def cosPair: Column = {
    val denom = col("_nq") * col("_nc")
    when(denom > 0, Dedup.dotUdf(col("_vq"), col("_vc")) / denom).otherwise(lit(0.0))
  }

  private[pipeline] def rankAndTake(scored: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy("query_id")
      .orderBy(col("cos0").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), round(col("cos0"), 4).as("cos"),
        col("rank"))
  }

  /** Exact top-k cosine neighbors for each query vector. */
  def bruteTopK(corpus: DataFrame, queries: DataFrame, id: String, vec: String,
      k: Int, excludeSelf: Boolean = true): DataFrame = {
    val q = broadcast(prepared(queries, id, vec, "query_id", "_vq", "_nq"))
    val c = prepared(corpus, id, vec, "neighbor_id", "_vc", "_nc")
    val scored = q.join(c,
        if (excludeSelf) col("query_id") =!= col("neighbor_id") else lit(true))
      .select(col("query_id"), col("neighbor_id"), cosPair.as("cos0"))
    rankAndTake(scored, k)
  }

  /** Quantization scale for the IVF coarse quantizer: components become
    * `floor(x * quantScale)` — integer-valued doubles, so every Lloyd's sum
    * is EXACT (magnitudes stay far below 2^53) and therefore independent of
    * partitioning/accumulation order. That makes the learned quantizer — and
    * hence the whole IVF search — bit-deterministic and replayable by the
    * DuckDB oracle (same trick as the scaled-integer PageRank).
    */
  val ivfQuantScale: Double = 1e6

  /** IVF (inverted-file) ANN top-k: a k-means coarse quantizer partitions the
    * corpus into `nlist` posting lists; each query scores ONLY the `nprobe`
    * nearest lists (≈ nprobe/nlist of brute-force work). The 100 TB path:
    * Lloyd's iterations are the standard Spark k-means shape — assignment is
    * a broadcast-centroid join + per-row argmin, the update a (cid, j)
    * groupBy-sum — nothing but the nlist centroid vectors ever sits on the
    * driver, and posting lists are plain partitioned rows.
    *
    * Determinism: the quantizer runs on scalar-quantized vectors (see
    * [[ivfQuantScale]]); seeding is the `nlist` smallest ids with cid = rank;
    * centroid update is `floor(exact-integer-sum / count)` (double division
    * of exact values — both engines round identically); argmin ties break on
    * cid. Final candidate SCORING still uses the original full-precision
    * vectors, so result quality is unchanged — only the bucketing is
    * quantized, which is standard IVF practice.
    */
  private[pipeline] def ivfQuant(v: Column): Column =
    transform(v, x => floor(x * lit(ivfQuantScale)).cast("double"))

  /** Lloyd's training over a prepared corpus frame carrying the quantized
    * `_vi` column → the PINNED (cid, _cv) centroid frame (nlist tiny rows
    * collected to the driver after every step — left lazy, each downstream
    * probe would re-execute the whole Lloyd's lineage). Deterministic
    * seeding: the nlist smallest ids, cid = rank.
    */
  private[pipeline] def ivfTrain(c: DataFrame, idCol: String, nlist: Int,
      iters: Int): DataFrame = {
    val spark = c.sparkSession
    import spark.implicits._
    def pin(d: DataFrame): DataFrame =
      d.select(col("cid"), col("_cv")).as[(Long, Seq[Double])]
        .collect().toSeq.sortBy(_._1).toDF("cid", "_cv")
    var cents = c.orderBy(col(idCol).asc).limit(nlist)
      .select(col("_vi")).as[Seq[Double]].collect().toSeq
      .zipWithIndex.map { case (v, i) => (i.toLong, v) }.toDF("cid", "_cv")
    for (_ <- 1 to iters) {
      val assigned = ivfNearest(c, cents, "_vi", 1)
      cents = pin(assigned
        .select(col("cid"), posexplode(col("_vi")).as(Seq("j", "x")))
        .groupBy("cid", "j")
        .agg((floor(sum(col("x")) / count(lit(1)))).cast("double").as("m"))
        .groupBy("cid").agg(array_sort(collect_list(struct(col("j"), col("m")))).as("jm"))
        .select(col("cid"), transform(col("jm"), s => s.getField("m")).as("_cv")))
    }
    cents
  }

  /** The per-row nearest-centroid id as ONE codegen'd column: iterate the
    * centroids in cid order, replace only on STRICT cosine improvement —
    * exactly [[ivfNearest]]'s (sim desc, cid asc) tie order, with no
    * window, no shuffle, no join. All dot/norm inputs are exact integers
    * in quantized space, so the argmax is bit-identical in any engine.
    */
  private[pipeline] def nearestCidCol(vcol: Column,
      cents: Seq[(Long, Seq[Double])], niCol: Option[Column] = None): Column = {
    // `ni` appears once per centroid sim — when the caller precomputes it
    // as its OWN projection attribute (r18 optimization), the interpreted
    // aggregate fold runs once per row instead of nlist times (interpreted
    // HOFs get no codegen subexpression elimination, and CollapseProject
    // keeps a non-cheap multi-referenced alias as a separate Project).
    val ni = niCol.getOrElse(sqrt(aggregate(transform(vcol, x => x * x),
      lit(0.0), (a, x) => a + x)))
    def simTo(cv: Seq[Double]): Column = {
      val cn = math.sqrt(cv.map(x => x * x).sum)
      if (cn == 0) lit(0.0)
      else when(ni > 0, Dedup.dotUdf(vcol, typedLit(cv)) / (ni * lit(cn)))
        .otherwise(lit(0.0))
    }
    // array_max over (sim, -cid) structs: lexicographic struct order gives
    // max sim then max(-cid) = SMALLEST cid on ties — the (sim desc,
    // cid asc) order — and evaluates each sim exactly once. (A
    // when/otherwise fold would reference its accumulator twice per step:
    // 2^nlist expression copies.)
    val entries = cents.sortBy(_._1).map { case (cid, cv) =>
      struct(simTo(cv).as("sim"), lit(-cid).as("ncid"))
    }
    -array_max(array(entries: _*)).getField("ncid")
  }

  /** Attach the `n` nearest centroid ids by quantized-space cosine (argmin
    * over the broadcast centroid rows; all dot/norm inputs are exact
    * integers, so `_sim` is bit-identical in any engine). The hot n = 1
    * case (every training/assignment step) runs as the [[nearestCidCol]]
    * map-only fold — a window over a corpus-sized cross join is a full
    * shuffle the assignment never needed.
    */
  private[pipeline] def ivfNearest(d: DataFrame, cents: DataFrame,
      vcol: String, n: Int): DataFrame = {
    if (n == 1) {
      val cs = cents.select(col("cid").cast("long"), col("_cv"))
        .collect().map(r => (r.getLong(0), r.getSeq[Double](1).toSeq)).toSeq
      if (cs.isEmpty) return d.withColumn("cid", lit(null).cast("long"))
        .filter(lit(false))
      // precompute the row norm once (see nearestCidCol's niCol doc)
      return d
        .withColumn("_niv", sqrt(aggregate(transform(col(vcol), x => x * x),
          lit(0.0), (a, x) => a + x)))
        .withColumn("cid", nearestCidCol(col(vcol), cs, Some(col("_niv"))))
        .drop("_niv")
    }
    val w = Window.partitionBy(d.columns.head)
      .orderBy(col("_sim").desc, col("cid").asc)
    val vn = sqrt(aggregate(transform(col(vcol), x => x * x), lit(0.0), (a, v) => a + v))
    val withNorm = cents.withColumn("_cn",
      sqrt(aggregate(transform(col("_cv"), x => x * x), lit(0.0), (a, v) => a + v)))
    d.join(broadcast(withNorm), lit(true))
      .withColumn("_sim", when(vn * col("_cn") > 0,
        Dedup.dotUdf(col(vcol), col("_cv")) / (vn * col("_cn")))
        .otherwise(lit(0.0)))
      .withColumn("_r", row_number().over(w))
      .filter(col("_r") <= n)
      .drop("_cv", "_cn", "_sim", "_r")
  }

  /** The probed-queries frame: each query with its nprobe nearest cids. */
  private[pipeline] def ivfProbed(cents: DataFrame, queries: DataFrame,
      id: String, vec: String, nprobe: Int): DataFrame =
    ivfNearest(
      prepared(queries, id, vec, "query_id", "_vq", "_nq")
        .withColumn("_qi", ivfQuant(col("_vq"))), cents, "_qi", nprobe)

  /** Score probed queries against their hit posting lists on
    * FULL-precision vectors; per-query top-k.
    */
  private[pipeline] def ivfScore(lists: DataFrame, probed: DataFrame,
      k: Int): DataFrame = {
    val scored = broadcast(probed).join(lists, Seq("cid"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"), cosPair.as("cos0"))
      .distinct()
    rankAndTake(scored, k)
  }

  /** Probe side shared by the ad-hoc and persisted-index paths: nprobe
    * nearest lists per query, candidates scored on FULL-precision vectors,
    * per-query top-k.
    */
  private[pipeline] def ivfProbe(lists: DataFrame, cents: DataFrame,
      queries: DataFrame, id: String, vec: String, k: Int,
      nprobe: Int): DataFrame =
    ivfScore(lists, ivfProbed(cents, queries, id, vec, nprobe), k)

  def ivfTopK(corpus: DataFrame, queries: DataFrame, id: String, vec: String,
      k: Int, nlist: Int = 16, nprobe: Int = 4, iters: Int = 3): DataFrame = {
    val c = prepared(corpus, id, vec, "neighbor_id", "_vc", "_nc")
      .withColumn("_vi", ivfQuant(col("_vc")))
    val cents = ivfTrain(c, "neighbor_id", nlist, iters)
    val lists = ivfNearest(c, cents, "_vi", 1) // (neighbor_id,_vc,_nc,_vi,cid)
    ivfProbe(lists, cents, queries, id, vec, k, nprobe)
  }

  /** PRODUCT-QUANTIZATION ANN top-k (the compression half of IVF-PQ,
    * Jégou et al. 2011): the quantized D-dim vector splits into `m`
    * subvectors and each subspace trains its OWN `ksub`-codeword quantizer
    * with the shared deterministic Lloyd's ([[ivfTrain]] — same seeding,
    * same integer centroid means). A corpus vector then encodes as m small
    * codes: at 100 TB that is the memory story (m bytes instead of D
    * floats per vector — the codebooks are m·ksub·(D/m) doubles,
    * driver-pinned like IVF centroids), and scoring is ADC — each query
    * computes ONE dot per (subspace, codeword) up front (the distance
    * table, m·ksub dots), after which every candidate costs m table
    * LOOKUPS instead of D multiplies.
    *
    * The reported score is the cosine of the query's quantized vector
    * against the RECONSTRUCTION (concatenated codewords) — the documented
    * PQ approximation. Everything is integer-valued-double arithmetic
    * (exact sums, order-independent), ties break on (cos desc,
    * neighbor_id asc), so the DuckDB oracle replays training + encoding +
    * ADC bit-for-bit.
    */
  def pqTopK(corpus: DataFrame, queries: DataFrame, id: String, vec: String,
      k: Int, m: Int = 4, ksub: Int = 8, iters: Int = 2): DataFrame = {
    // the training loop re-reads the quantized corpus per iteration and
    // the encode once more — cut it once
    val c0 = Generations.cut(
      prepared(corpus, id, vec, "neighbor_id", "_vc", "_nc")
        .withColumn("_vi", ivfQuant(col("_vc"))))
    val dim = c0.select(size(col("_vi"))).limit(1).collect().headOption
      .map(_.getInt(0)).getOrElse(throw new IllegalArgumentException(
        "pqTopK: empty corpus — nothing to train codebooks on"))
    require(dim % m == 0, s"dim $dim not divisible into m=$m subspaces")
    val sub = dim / m
    val books = pqTrainJoint(c0, m, sub, ksub, iters)
    val coded = c0.select(col("neighbor_id") +:
      (0 until m).map(mi =>
        pqCodeCol(pqSubvec(col("_vi"), mi, sub), books(mi)).as(s"_c$mi")): _*)
      .withColumn("_rn", pqRnCol(books))
    val q1 = pqQueryFrame(
      prepared(queries, id, vec, "query_id", "_vq", "_nq")
        .withColumn("_qi", ivfQuant(col("_vq"))), books, sub)
    val scored = broadcast(q1)
      .join(coded, col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"), pqAdcCos(books).as("cos0"))
    rankAndTake(scored, k)
  }

  /** IVF-PQ ANN top-k (Jégou et al. 2011 — the full composition): the
    * coarse IVF quantizer partitions the corpus into `nlist` posting
    * lists; a query probes its `nprobe` nearest lists; candidates inside
    * a probed list score by PQ ADC (reconstruction cosine from the m
    * per-subspace codebooks, trained on the RAW vectors — the
    * non-residual variant, documented). At 100 TB this is the standard
    * billion-vector serving shape: posting lists prune the candidate set
    * to ~nprobe/nlist of the corpus AND each candidate costs m table
    * lookups on m-byte codes instead of D float multiplies. All
    * deterministic-integer arithmetic; the DuckDB oracle replays coarse
    * training, probing, PQ training, encoding and ADC bit-for-bit.
    */
  def ivfPqTopK(corpus: DataFrame, queries: DataFrame, id: String,
      vec: String, k: Int, nlist: Int = 8, nprobe: Int = 3,
      coarseIters: Int = 3, m: Int = 4, ksub: Int = 8,
      pqIters: Int = 2): DataFrame = {
    val c0 = Generations.cut(
      prepared(corpus, id, vec, "neighbor_id", "_vc", "_nc")
        .withColumn("_vi", ivfQuant(col("_vc"))))
    val dim = c0.select(size(col("_vi"))).limit(1).collect().headOption
      .map(_.getInt(0)).getOrElse(throw new IllegalArgumentException(
        "ivfPqTopK: empty corpus — nothing to train codebooks on"))
    require(dim % m == 0, s"dim $dim not divisible into m=$m subspaces")
    val sub = dim / m
    val coarse = ivfTrain(c0, "neighbor_id", nlist, coarseIters)
    val books = pqTrainJoint(c0, m, sub, ksub, pqIters)
    // the stored index row: coarse list id + m PQ codes (+ the literal
    // reconstruction norm) — never the vector itself
    val coded = ivfNearest(c0, coarse, "_vi", 1)
      .select(col("neighbor_id") +: col("cid") +:
        (0 until m).map(mi =>
          pqCodeCol(pqSubvec(col("_vi"), mi, sub), books(mi)).as(s"_c$mi")): _*)
      .withColumn("_rn", pqRnCol(books))
    // probed queries: one row per (query, probed list), each carrying the
    // query's ADC table (m·ksub dots — query-sized work)
    val probed = ivfProbed(coarse, queries, id, vec, nprobe)
    val q1 = pqQueryFrame(probed, books, sub, extra = Seq(col("cid")))
    val scored = broadcast(q1).join(coded, Seq("cid"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"), pqAdcCos(books).as("cos0"))
    rankAndTake(scored, k)
  }

  /** Batch-train PQ codebooks for [[encodePq]] — m books of ksub
    * codewords, the bounded driver collect of the IVF posture.
    */
  def trainedBooks(corpus: DataFrame, id: String, vec: String, m: Int = 4,
      ksub: Int = 8, iters: Int = 2): Seq[Seq[(Long, Seq[Double])]] = {
    val c0 = Generations.cut(
      prepared(corpus, id, vec, "neighbor_id", "_vc", "_nc")
        .withColumn("_vi", ivfQuant(col("_vc"))))
    try {
      val dim = c0.select(size(col("_vi"))).limit(1).collect().headOption
        .map(_.getInt(0)).getOrElse(throw new IllegalArgumentException(
          "trainedBooks: empty corpus — nothing to train codebooks on"))
      require(dim % m == 0, s"dim $dim not divisible into m=$m subspaces")
      pqTrainJoint(c0, m, dim / m, ksub, iters)
    } finally Generations.release(c0)
  }

  /** STREAM-safe PQ encoding against batch-trained codebooks: each code
    * is a pure column fold over LITERAL codewords — no state, no join,
    * no window — so it applies unchanged to a STREAMING DataFrame. This
    * is the PQ index-MAINTENANCE path (the [[assignToCentroids]] analog):
    * vectors arriving on a stream compress to m codes per micro-batch
    * against fixed codebooks, no retrain in the hot path; codes are
    * bit-identical to the batch [[pqTopK]] encoding by construction.
    * Output: (vec_id, code0 … code{m-1}).
    */
  def encodePq(df: DataFrame, id: String, vec: String,
      books: Seq[Seq[(Long, Seq[Double])]]): DataFrame = {
    val sub = books.head.head._2.size
    val d = prepared(df, id, vec, "vec_id", "_v", "_n")
      .withColumn("_vi", ivfQuant(col("_v")))
    d.select(col("vec_id") +: books.zipWithIndex.map { case (b, mi) =>
      pqCodeCol(pqSubvec(col("_vi"), mi, sub), b).as(s"code$mi") }: _*)
  }

  private[pipeline] def pqSubvec(v: Column, mi: Int, sub: Int): Column =
    slice(v, mi * sub + 1, sub)

  /** Per-subspace codebooks, trained JOINTLY: the m subspaces are
    * independent k-means problems, but running them as one exploded
    * (row, mi) frame means each Lloyd's iteration is ONE pass over the
    * corpus regardless of m (assignment = broadcast join + window per
    * (row, mi); means = one (mi, cid, j) aggregate) — m× less scan
    * traffic than training the subspaces serially, same numbers
    * (identical seeding, argmax order, integer means per subspace).
    */
  private[pipeline] def pqTrainJoint(c0: DataFrame, m: Int, sub: Int,
      ksub: Int, iters: Int): Seq[Seq[(Long, Seq[Double])]] = {
    val spark = c0.sparkSession
    import spark.implicits._
    val sfn = c0.select(col("neighbor_id"), posexplode(
        array((0 until m).map(mi => pqSubvec(col("_vi"), mi, sub)): _*))
        .as(Seq("mi", "_sv")))
      .withColumn("_ni", sqrt(aggregate(transform(col("_sv"), x => x * x),
        lit(0.0), (a, x) => a + x)))
    def pin(d: DataFrame): Seq[(Int, Long, Seq[Double])] =
      d.select(col("mi").cast("int"), col("cid"), col("_cv"))
        .as[(Int, Long, Seq[Double])].collect().toSeq.sortBy(t => (t._1, t._2))
    def centsDf(cs: Seq[(Int, Long, Seq[Double])]): DataFrame =
      cs.toDF("mi", "cid", "_cv").withColumn("_cn",
        sqrt(aggregate(transform(col("_cv"), x => x * x),
          lit(0.0), (a, x) => a + x)))
    def nearest(cents: DataFrame): DataFrame = {
      val w = Window.partitionBy("neighbor_id", "mi")
        .orderBy(col("_sim").desc, col("cid").asc)
      sfn.join(broadcast(cents), Seq("mi"))
        .withColumn("_sim", when(col("_ni") * col("_cn") > 0,
          Dedup.dotUdf(col("_sv"), col("_cv")) / (col("_ni") * col("_cn")))
          .otherwise(lit(0.0)))
        .withColumn("_r", row_number().over(w))
        .filter(col("_r") <= 1)
        .select(col("neighbor_id"), col("mi"), col("cid"))
    }
    val seedW = Window.partitionBy("mi").orderBy(col("neighbor_id").asc)
    var cents: Seq[(Int, Long, Seq[Double])] = pin(
      sfn.withColumn("_r", row_number().over(seedW)).filter(col("_r") <= ksub)
        .select(col("mi"), (col("_r") - 1).cast("long").as("cid"),
          col("_sv").as("_cv")))
    for (_ <- 1 to iters) {
      val assigned = nearest(centsDf(cents)).join(sfn, Seq("neighbor_id", "mi"))
      cents = pin(assigned
        .select(col("mi"), col("cid"), posexplode(col("_sv")).as(Seq("j", "x")))
        .groupBy("mi", "cid", "j")
        .agg(floor(sum(col("x")) / count(lit(1))).cast("double").as("mn"))
        .groupBy("mi", "cid")
        .agg(array_sort(collect_list(struct(col("j"), col("mn")))).as("jm"))
        .select(col("mi"), col("cid"),
          transform(col("jm"), s => s.getField("mn")).as("_cv")))
    }
    (0 until m).map(mi =>
      cents.collect { case (`mi`, cid, cv) => (cid, cv) }.sortBy(_._1))
  }

  /** Encode one subvector — strict-improvement fold over LITERAL
    * codewords (the assignToCentroids fold: equal sims keep the smaller
    * code, matching ivfNearest's (sim desc, cid asc) order).
    */
  private[pipeline] def pqCodeCol(sv: Column,
      book: Seq[(Long, Seq[Double])]): Column = {
    val ni = sqrt(aggregate(transform(sv, x => x * x), lit(0.0), (a, x) => a + x))
    def simTo(cv: Seq[Double]): Column = {
      val cn = math.sqrt(cv.map(x => x * x).sum)
      if (cn == 0) lit(0.0)
      else when(ni > 0, Dedup.dotUdf(sv, typedLit(cv)) / (ni * lit(cn)))
        .otherwise(lit(0.0))
    }
    val first = struct(simTo(book.head._2).as("sim"),
      lit(book.head._1).as("cid"))
    book.tail.foldLeft(first) { case (acc, (cid, cv)) =>
      val s = simTo(cv)
      when(s > acc.getField("sim"),
        struct(s.as("sim"), lit(cid).as("cid"))).otherwise(acc)
    }.getField("cid")
  }

  /** Reconstruction norm from the `_c*` code columns: per-codeword squared
    * norms are literals indexed by the code — no vector math per row after
    * encoding.
    */
  private[pipeline] def pqRnCol(books: Seq[Seq[(Long, Seq[Double])]]): Column =
    sqrt(books.zipWithIndex.map { case (book, mi) =>
      val sq = book.map { case (cid, cv) => cid -> cv.map(x => x * x).sum }.toMap
      book.map { case (cid, _) =>
        when(col(s"_c$mi") === cid, lit(sq(cid)))
      }.foldRight(lit(0.0): Column)((w, acc) => w.otherwise(acc))
    }.reduce(_ + _))

  /** Query side of ADC: `_qni` (full quantized norm) + one `_t{mi}` dot
    * TABLE per subspace (m·ksub dots per query row — query-sized work).
    */
  private[pipeline] def pqQueryFrame(q0: DataFrame,
      books: Seq[Seq[(Long, Seq[Double])]], sub: Int,
      extra: Seq[Column] = Nil): DataFrame = {
    val qni = sqrt(aggregate(transform(col("_qi"), x => x * x),
      lit(0.0), (a, x) => a + x))
    val qTabs = books.zipWithIndex.map { case (book, mi) =>
      array(book.map { case (_, cv) =>
        Dedup.dotUdf(pqSubvec(col("_qi"), mi, sub), typedLit(cv)) }: _*)
        .as(s"_t$mi")
    }
    q0.select(col("query_id") +: qni.as("_qni") +: (extra ++ qTabs): _*)
  }

  /** The per-pair ADC cosine: m table LOOKUPS keyed by code position in
    * the sorted book, over the query's `_t*` tables and the corpus row's
    * `_c*` codes / `_rn` norm.
    */
  private[pipeline] def pqAdcCos(books: Seq[Seq[(Long, Seq[Double])]]): Column = {
    val adcDot = books.zipWithIndex.map { case (book, mi) =>
      val pos = book.map(_._1).zipWithIndex.toMap
      book.map { case (cid, _) =>
        when(col(s"_c$mi") === cid,
          element_at(col(s"_t$mi"), pos(cid) + 1))
      }.foldRight(lit(0.0): Column)((w, acc) => w.otherwise(acc))
    }.reduce(_ + _)
    when(col("_qni") * col("_rn") > 0, adcDot / (col("_qni") * col("_rn")))
      .otherwise(lit(0.0))
  }

  /** STREAM-safe nearest-centroid assignment: the centroid frame is
    * driver-pinned (nlist rows, the IVF posture) and the argmax unrolls to
    * a pure COLUMN fold — no window, no join — so it applies unchanged to
    * a STREAMING DataFrame. This is the index-MAINTENANCE path: posting
    * lists grow per micro-batch against batch-trained centroids, no
    * retrain in the hot path. Ties resolve to the smallest cid (the same
    * (sim desc, cid asc) order as [[ivfNearest]], replayed by iterating
    * in cid order and replacing only on STRICT improvement).
    */
  def assignToCentroids(df: DataFrame, id: String, vec: String,
      cents: Seq[(Long, Seq[Double])]): DataFrame = {
    val d = prepared(df, id, vec, "vec_id", "_v", "_n")
      .withColumn("_vi", ivfQuant(col("_v")))
      .withColumn("_niv", sqrt(aggregate(transform(col("_vi"), x => x * x),
        lit(0.0), (a, x) => a + x)))
    d.select(col("vec_id"),
      nearestCidCol(col("_vi"), cents, Some(col("_niv"))).as("cid"))
  }

  /** Batch-train centroids and collect them for [[assignToCentroids]] —
    * nlist rows, the documented bounded collect.
    */
  def trainedCentroids(corpus: DataFrame, id: String, vec: String,
      nlist: Int = 8, iters: Int = 3): Seq[(Long, Seq[Double])] = {
    val c = prepared(corpus, id, vec, "a", "_vc", "_nc")
      .withColumn("_vi", ivfQuant(col("_vc")))
    val spark = corpus.sparkSession
    import spark.implicits._
    ivfTrain(c, "a", nlist, iters).as[(Long, Seq[Double])].collect().toSeq
  }

  /** SemDeDup-shaped SEMANTIC dedup (cluster-then-pairwise): deterministic
    * k-means clusters (the IVF trainer — same seeding, same integer
    * centroid arithmetic, so the DuckDB oracle replays it), then EXACT
    * pairwise cosine restricted to each cluster; pairs at or above `tau`
    * are the semantic duplicates. Pairwise cost is Σ|cluster|², never
    * corpus² — the posture that makes embedding-level dedup feasible at
    * corpus scale. Near-dups straddling two clusters are missed by
    * construction (the technique's documented recall tradeoff; raise
    * nlist→nprobe-style multi-assignment if that matters).
    */
  def semanticDupPairs(corpus: DataFrame, id: String, vec: String,
      tau: Double, nlist: Int = 8, iters: Int = 3): DataFrame = {
    val c = prepared(corpus, id, vec, "a", "_vc", "_nc")
      .withColumn("_vi", ivfQuant(col("_vc")))
    val cents = ivfTrain(c, "a", nlist, iters)
    // cut the assignment once: both join sides read it, and lazily each
    // would re-run the full prepare+assign pass (profiled as the two
    // largest stages of the query)
    val assigned = Generations.cut(ivfNearest(c, cents, "_vi", 1).drop("_vi"))
    val l = assigned.select(col("cid"), col("a"), col("_vc"), col("_nc"))
    val r = assigned.select(col("cid"), col("a").as("b"),
      col("_vc").as("_vq"), col("_nc").as("_nq"))
    l.join(r, Seq("cid")).filter(col("a") < col("b"))
      .select(col("a"), col("b"), cosPair.as("cos0"))
      .filter(col("cos0") >= tau)
      .select(col("a"), col("b"), round(col("cos0"), 4).as("cos"))
  }

  /** The keep-list complement: every id that is not the HIGHER side of a
    * semantic dup pair (SemDeDup keeps one representative per dup set —
    * lowest id here, deterministic).
    */
  def semanticKeep(corpus: DataFrame, id: String, vec: String, tau: Double,
      nlist: Int = 8, iters: Int = 3): DataFrame = {
    val pairs = semanticDupPairs(corpus, id, vec, tau, nlist, iters)
    corpus.select(col(id)).join(pairs.select(col("b").as(id)), Seq(id),
      "left_anti")
  }

  /** Scalar int8 quantization with a per-vector max-abs scale: component j
    * becomes `floor(x_j * 127/maxabs + 0.5)` (round-half-up) in [-127, 127].
    * The 100 TB storage/bandwidth lever: embeddings shrink 4× (int8 vs
    * float32), so scans, shuffles and cache working sets shrink 4× while
    * quantized cosine stays within ~1% of exact for typical embeddings.
    * Kept as integer-VALUED doubles so [[Dedup.dotUdf]] (codegen'd) scores
    * pairs directly; every dot is an exact integer sum (≤ 127²·dim ≪ 2^53),
    * hence bit-identical in any engine/partitioning — the DuckDB oracle
    * replays the whole search.
    */
  def quantize(vec: Column): Column = {
    val ad = transform(vec, x => x.cast("double"))
    val maxabs = aggregate(ad, lit(0.0), (a, v) => greatest(a, abs(v)))
    val scale = when(maxabs > 0, lit(127.0) / maxabs).otherwise(lit(0.0))
    transform(ad, x => floor(x * scale + lit(0.5)).cast("double"))
  }

  /** Brute-force top-k over int8-quantized vectors — same shape as
    * [[bruteTopK]] (broadcast queries, narrow corpus scan, per-query
    * window top-k) but every pair costs an int8 dot and the corpus side
    * moves 4× fewer bytes. Use when exact float recall isn't required and
    * IVF/LSH bucketing isn't warranted.
    */
  def quantTopK(corpus: DataFrame, queries: DataFrame, id: String, vec: String,
      k: Int, excludeSelf: Boolean = true): DataFrame = {
    def prep(df: DataFrame, idAs: String, vAs: String, nAs: String) = {
      val qv = quantize(col(vec))
      df.select(col(id).as(idAs), qv.as(vAs),
        sqrt(aggregate(transform(qv, x => x * x), lit(0.0), (a, v) => a + v)).as(nAs))
    }
    val q = broadcast(prep(queries, "query_id", "_vq", "_nq"))
    val c = prep(corpus, "neighbor_id", "_vc", "_nc")
    val scored = q.join(c,
        if (excludeSelf) col("query_id") =!= col("neighbor_id") else lit(true))
      .select(col("query_id"), col("neighbor_id"), cosPair.as("cos0"))
    rankAndTake(scored, k)
  }

  /** LSH-bucketed ANN top-k: probe the query's bucket plus `probes`
    * single-bit-flip neighbor buckets for recall.
    */
  def lshTopK(corpus: DataFrame, queries: DataFrame, id: String, vec: String,
      k: Int, planes: Int = 12, probes: Int = 0, dim: Int = 64): DataFrame = {
    // one-row probe: a dim mismatch would silently bucket on a prefix of
    // components (dotUdf truncates to the shorter operand)
    corpus.select(size(col(vec)).as("d")).limit(1).collect().foreach { r =>
      require(r.getInt(0) == dim,
        s"lshTopK dim=$dim but embedding dimension is ${r.getInt(0)}")
    }
    val c = prepared(corpus, id, vec, "neighbor_id", "_vc", "_nc")
      .withColumn("bucket", lshKey(col("_vc"), planes, dim))
    val q0 = prepared(queries, id, vec, "query_id", "_vq", "_nq")
      .withColumn("bucket0", lshKey(col("_vq"), planes, dim))
    val probeKeys = array((lit(0L) +: (0 until probes).map(b =>
      shiftleft(lit(1L), b))).map(f => col("bucket0").bitwiseXOR(f)): _*)
    val q = broadcast(q0.select(col("query_id"), col("_vq"), col("_nq"),
      explode(array_distinct(probeKeys)).as("bucket")))
    val scored = q.join(c, Seq("bucket"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"), cosPair.as("cos0"))
      .distinct()
    rankAndTake(scored, k)
  }

  /** Per-label embedding CENTROIDS (k-means init / prototype classifier /
    * the IVF coarse codebook refresh): posexplode to (label, pos, v), one
    * hash aggregate, re-usable as a `dim`-row-per-label table. Summation
    * runs in DECIMAL(20,10) — exact and ORDER-INDEPENDENT, so the result
    * is bit-stable under any partitioning and replayable by the SQL
    * oracle (a double sum would drift with aggregation order at scale).
    */
  def labelCentroids(df: DataFrame, label: String, vec: String): DataFrame =
    df.select(col(label), posexplode(col(vec)).as(Seq("pos", "v")))
      .groupBy(col(label), col("pos"))
      .agg(sum(col("v").cast("double").cast("decimal(20,10)")).as("s"),
        count(lit(1)).as("n"))
      .select(col(label), col("pos").cast("int").as("pos"),
        round(col("s").cast("double") / col("n"), 4).as("c"))
}
