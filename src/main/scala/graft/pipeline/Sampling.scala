package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic sampling for training-data pipelines.
  *
  * `rand()`-based sampling is irreproducible across runs/partitionings and
  * unverifiable; hashing the ROW KEY against a threshold gives a Bernoulli
  * sample that is (a) stable under re-partitioning and re-runs, (b) the
  * same rows on a 1000-executor cluster as on local[1], (c) replayable by
  * the DuckDB oracle, and (d) consistent across tables — sampling two
  * tables by the same key keeps them join-compatible (the classic
  * "sample users, keep all their events" trick).
  */
object Sampling {

  private def hash60(c: Column): Column =
    conv(substring(md5(c.cast("string")), 1, 15), 16, 10).cast("bigint")

  private val Space = math.pow(2.0, 60)

  /** Keep rows whose key hashes below `fraction` of the space. */
  def hashSample(df: DataFrame, keyCol: String, fraction: Double): DataFrame = {
    require(fraction >= 0 && fraction <= 1)
    // threshold is a LONG literal — the comparison is integer-exact
    df.filter(hash60(col(keyCol)) < lit((fraction * Space).toLong))
  }

  /** Deterministic train/val/test split: the key's hash position in the
    * space assigns each row to exactly ONE named bucket (fractions must sum
    * to ≤ 1; any remainder is dropped — explicit holdout). The split is
    * disjoint and exhaustive over the listed fractions, stable under
    * re-partitioning and re-runs, identical on any cluster size, and
    * join-consistent: splitting two tables by the same key puts a user and
    * ALL their events in the same split — the property random `rand()`
    * splits famously violate (train/test leakage through joined tables).
    * Output: the input plus a `split` column.
    */
  def split(df: DataFrame, keyCol: String,
      fractions: Seq[(String, Double)]): DataFrame = {
    val h = hash60(col(keyCol))
    val expr0 = splitBounds(fractions).reverse
      .foldLeft(lit(null).cast("string")) { case (acc, (name, hi)) =>
        when(h < lit(hi), lit(name)).otherwise(acc)
      }
    df.withColumn("split", expr0)
  }

  /** The integer hash-space thresholds [[split]] compares against — shared
    * with the DuckDB oracle (interpolated as literals), so the two engines
    * can never disagree on a boundary row through FP drift in the
    * cumulative sums.
    */
  private[graft] def splitBounds(
      fractions: Seq[(String, Double)]): Seq[(String, Long)] = {
    require(fractions.nonEmpty && fractions.forall(_._2 >= 0) &&
      fractions.map(_._2).sum <= 1.0 + 1e-9,
      s"split fractions must be non-negative and sum to <= 1: $fractions")
    val cum = fractions.scanLeft(0.0) { case (acc, (_, f)) => acc + f }.tail
    fractions.map(_._1).zip(cum.map(hi => (hi * Space).toLong))
  }

  /** Per-stratum fractions (e.g. downsample dominant classes): rows whose
    * stratum is absent from `fractions` are DROPPED (explicit is safer
    * than silently keeping a class the caller forgot to list).
    */
  def stratifiedHashSample(df: DataFrame, keyCol: String, stratumCol: String,
      fractions: Map[String, Double]): DataFrame = {
    val thr = fractions.foldLeft(lit(-1L)) { case (acc, (s, f)) =>
      when(col(stratumCol) === s, lit((f * Space).toLong)).otherwise(acc)
    }
    df.filter(hash60(col(keyCol)) < thr)
  }

  /** DOMAIN-CAPPED sampling: keep at most `cap` rows per domain, chosen by
    * hash rank (the per-domain quota step of corpus mixing — no single
    * crawl source may dominate the training mix). Hash rank, not
    * first-seen, so the kept rows are a uniform sample of the domain and
    * stable under re-partitioning; the key itself breaks hash ties.
    *
    * Scale note: rank-per-domain is a window — fine when each domain fits
    * an executor's sort spill. For a pathological mega-domain, prefilter
    * with [[hashSample]] at fraction ≈ k·cap/|domain| first (keeps the
    * same lowest-hash rows with overwhelming probability), then rank the
    * survivors; the window arithmetic is unchanged.
    */
  def domainCap(df: DataFrame, keyCol: String, domainCol: String,
      cap: Int): DataFrame = {
    require(cap > 0)
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(domainCol)
      .orderBy(hash60(col(keyCol)), col(keyCol))
    df.withColumn("_rk", row_number().over(w))
      .filter(col("_rk") <= cap).drop("_rk")
  }

  /** TEMPERATURE-scaled domain mixing (the multilingual-LM α-sampling
    * shape, α = 1/2): domain d receives
    * `quota_d = budget · w_d div Σ_e w_e` with `w_d = ⌊√n_d⌋`, so small
    * domains are up-weighted relative to their raw share (the unigram-
    * smoothing rationale of XLM-R-style corpus mixing), and contributes
    * its quota_d lowest-hash-rank rows. All arithmetic after the integer
    * square root is INTEGER (order-free sums, `div` truncation) — the
    * engine-portable posture shared with [[importanceWeights]] — and
    * `⌊√n⌋` replays as `floor(sqrt(n))` exactly for every domain count
    * below 2^52 (IEEE sqrt is correctly rounded in both engines, so the
    * floor can only disagree where n's own double shadow rounds).
    *
    * Scale shape: the quota table is domains-sized (broadcast); the
    * per-domain rank rides the same InferWindowGroupLimit two-stage
    * quota as [[clusterCap]] — the CONSTANT `rk <= maxQuota` conjunct is
    * what the optimizer pushes below the exchange as a partial group
    * limit (a variable-quota-only filter would defeat it), the
    * per-domain `rk <= quota_d` then trims exactly. No reducer ever
    * sorts more than maxQuota·numPartitions rows per domain.
    */
  def temperatureQuota(df: DataFrame, keyCol: String, domainCol: String,
      budget: Long): DataFrame = {
    require(budget > 0)
    val counts = df.groupBy(col(domainCol))
      .agg(count(lit(1)).as("_n"))
    val wd = counts.select(col(domainCol),
      floor(sqrt(col("_n").cast("double"))).cast("bigint").as("_w"))
    val wsum = wd.agg(sum(col("_w")).as("_ws")) // 1 row, exact integer
    val quotas = wd.crossJoin(broadcast(wsum))
      .select(col(domainCol),
        expr(s"(CAST($budget AS DECIMAL(38,0)) * _w) div _ws")
          .cast("bigint").as("_quota"))
    // empty input → empty result (the max over zero domains is NULL;
    // coalesce instead of crashing getLong on it)
    val maxQ = quotas.agg(coalesce(max(col("_quota")), lit(0L)))
      .head().getLong(0)
    if (maxQ == 0L) return df.limit(0)
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(domainCol))
      .orderBy(hash60(col(keyCol)), col(keyCol))
    df.join(broadcast(quotas), Seq(domainCol))
      .withColumn("_rk", row_number().over(w))
      .filter(col("_rk") <= lit(maxQ))
      .filter(col("_rk") <= col("_quota"))
      .drop("_rk", "_quota")
  }

  /** CLUSTER-BALANCED sampling (the diversity-quota step of corpus
    * curation — DataComp/SemDeDup-adjacent): k-means-cluster the
    * embeddings with the shared deterministic Lloyd's
    * ([[graft.pipeline.Similarity]] — same seeding, same integer
    * arithmetic, so the oracle replays it), then keep at most `cap`
    * vectors per cluster by hash rank — [[domainCap]]'s quota logic with
    * learned clusters as the domains, so no single semantic region
    * dominates the mix. Returns (vec_id, cid) for the kept rows.
    *
    * Scale shape: training is the IVF posture (nlist-row driver state),
    * assignment a map-only column fold. The quota LOOKS like a dangerous
    * window — nlist is small by construction, so a naive per-`cid` sort
    * would funnel the whole corpus into nlist reducer tasks (at 100 TB,
    * eight tasks each sorting ~12.5 TB). The `row_number() <= cap` filter
    * shape is exactly what Spark's InferWindowGroupLimit rewrites, and the
    * PHYSICAL plan (pinned by PlanSpec, recorded in PLANS.md) is the safe
    * two-stage quota:
    *
    *   WindowGroupLimit [cid] rank<=cap, Partial   ← map-side, per input
    *   Exchange hashpartitioning(cid)                 partition: ≤ cap
    *   WindowGroupLimit [cid] rank<=cap, Final        rows/cid survive
    *   Window row_number() over (cid)
    *
    * i.e. the pre-cap per (cid, input-partition) runs BELOW the exchange —
    * lossless, because a cluster's global lowest-`cap` hash ranks draw at
    * most `cap` rows from any single input partition — so the shuffle
    * carries ≤ cap·numPartitions rows per cluster and no reducer ever
    * sorts corpus/nlist rows. The map-side sort is per input partition
    * (corpus/P rows, the same work any shuffle's sort side does). Writing
    * the pre-cap manually (a second window keyed (cid, pid)) would ADD a
    * full-corpus shuffle for the same bound, so the single window + pinned
    * plan is the 100 TB shape.
    */
  def clusterCap(corpus: DataFrame, id: String, vec: String, cap: Int,
      nlist: Int = 8, iters: Int = 3): DataFrame = {
    require(cap > 0)
    val cents = graft.pipeline.Similarity.trainedCentroids(
      corpus, id, vec, nlist, iters)
    val assigned = graft.pipeline.Similarity.assignToCentroids(
      corpus, id, vec, cents)
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("cid"))
      .orderBy(hash60(col("vec_id")), col("vec_id"))
    assigned.withColumn("_rk", row_number().over(w))
      .filter(col("_rk") <= cap).drop("_rk")
  }

  /** DSIR-shaped IMPORTANCE weighting for data mixing (Xie et al. 2023,
    * "Data Selection for Language Models via Importance Resampling"):
    * score every corpus document by how target-like its hashed-unigram
    * distribution is, so a mixing step can resample raw data toward a
    * target domain. Features are md5-hashed token buckets (B of them);
    * the per-bucket weight is the add-one-smoothed likelihood RATIO
    *   w_b = floor(1e6 · (tc_b+1)·(rN+B) / ((tN+B)·(rc_b+1)))
    * (tc/rc = target/raw bucket counts, tN/rN = totals) — kept as an
    * integer RATIONAL instead of a log, the lmFluency trick, so the
    * per-doc mean is an order-free integer sum any engine replays
    * bit-exactly (DSIR's log-ratio sum would drift across libm
    * implementations). Per doc: score = floor(Σ_tokens w_bucket / ntok).
    *
    * Scale shape: two bucket-count aggregates (B-sized results, broadcast
    * back), one narrow token projection joined map-side to the B-row
    * weight table, one per-doc sum — the corpus shuffles only doc-keyed
    * partial aggregates. DECIMAL(38,0) intermediates: at corpus scale the
    * cross-products exceed 64 bits long before they exceed 128.
    */
  def importanceWeights(corpus: DataFrame, target: DataFrame, id: String,
      text: String, buckets: Int = 64): DataFrame = {
    require(buckets >= 2)
    val toks = (d: DataFrame) => d.select(col(id).cast("long").as("doc"),
      explode(filter(
        org.apache.spark.sql.functions.split(lower(trim(col(text))), "\\W+"),
        t => length(t) > 0)).as("tok"))
      .select(col("doc"),
        (conv(substring(md5(col("tok")), 1, 15), 16, 10).cast("bigint")
          % buckets).as("b"))
    // Pre-aggregate the corpus token stream to (doc, bucket, cnt) ONCE
    // (r18 optimization, guide §2.3 "aggregate before you shuffle"): the
    // raw-count aggregate AND the final per-doc score both derive from it,
    // where previously each re-ran the full tokenize+md5 pass; it is cut
    // (≤ B rows per doc, far smaller than the token stream) so one pass
    // feeds both. The score is unchanged: Σ_tokens w_bucket = Σ_b cnt_b·w_b
    // and ntok = Σ_b cnt_b — exact integer/decimal sums commute.
    val docB = graft.exec.Generations.cut(toks(corpus)
      .groupBy(col("doc"), col("b")).agg(count(lit(1)).as("cnt")))
    val rawCnt = docB.groupBy(col("b")).agg(sum(col("cnt")).as("rc"))
    val tgtCnt = toks(target).groupBy(col("b")).agg(count(lit(1)).as("tc"))
    val totals = rawCnt.agg(sum(col("rc")).as("rN")).crossJoin(
      tgtCnt.agg(sum(col("tc")).as("tN")))
    // B-row weight table (every bucket 0..B-1, absent counts are 0)
    val spark = corpus.sparkSession
    import spark.implicits._
    val allB = (0L until buckets.toLong).toDF("b")
    // `div` (IntegralDivide), NOT floor(a / b): decimal `/` rounds
    // HALF_UP at scale 6 BEFORE the floor, so a ratio within ~5e-7 below
    // an integer would round up and floor one too high — while the DuckDB
    // oracle's HUGEINT `//` truncates exactly. `div` truncates on the
    // exact decimal quotient, which equals `//` for the non-negative
    // operands here — bit-exact replay for ALL inputs.
    val wtab = allB
      .join(rawCnt, Seq("b"), "left_outer")
      .join(tgtCnt, Seq("b"), "left_outer")
      .crossJoin(broadcast(totals))
      .select(col("b"),
        ((coalesce(col("tc"), lit(0L)) + 1).cast("decimal(38,0)") *
          (col("rN") + buckets).cast("decimal(38,0)") * 1000000L).as("_num"),
        ((col("tN") + buckets).cast("decimal(38,0)") *
          (coalesce(col("rc"), lit(0L)) + 1).cast("decimal(38,0)")).as("_den"))
      .select(col("b"), expr("_num div _den").cast("decimal(38,0)").as("w"))
    docB.join(broadcast(wtab), Seq("b"))
      .groupBy(col("doc"))
      .agg(sum(col("w") * col("cnt")).as("_s"),
        sum(col("cnt")).cast("decimal(38,0)").as("_c"))
      .select(col("doc"), expr("_s div _c").cast("bigint").as("score"))
  }
}
