package graft.graph

import org.apache.spark.graphx.{Edge, Graph}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.exec.Generations
import graft.model.Rdf

/** GraphX bridge for whole-graph analytics (BASELINE.json `spark_approach`:
  * "GraphX for analytics queries"; SURVEY §2.9 G5 note).
  *
  * Pinpoint traversal stays in the relational compiler (joins + semi-naive
  * closure); WHOLE-GRAPH algorithms — connected components, PageRank,
  * degree distributions — map the quad store's IRI-object edges onto a
  * GraphX property graph. Vertex ids are 64-bit hashes of the IRIs (stable,
  * distributed, no driver-side dictionary); the id→IRI mapping rides along
  * as a vertex attribute DataFrame.
  */
object GraphAnalytics {

  /** IRI→IRI edges of the quad store (optionally restricted to predicates). */
  def edgeDF(quads: DataFrame, predicates: Seq[String] = Nil): DataFrame = {
    val base = quads.filter(col("o.kind") === Rdf.KindIri &&
      col("p") =!= Rdf.RdfType)
    val filtered =
      if (predicates.isEmpty) base else base.filter(col("p").isin(predicates: _*))
    filtered.select(col("s").as("src"), col("o.value").as("dst"), col("p"))
  }

  /** Build the GraphX graph + the vertex-id dictionary. */
  def build(quads: DataFrame, predicates: Seq[String] = Nil): (Graph[String, String], DataFrame) = {
    val spark = quads.sparkSession
    val e = edgeDF(quads, predicates)
    val verts = e.select(col("src").as("iri")).unionAll(e.select(col("dst")))
      .distinct()
      .withColumn("vid", xxhash64(col("iri")))
    val vertexRDD = verts.select("vid", "iri").rdd
      .map(r => (r.getLong(0), r.getString(1)))
    val edgeRDD = e.select(xxhash64(col("src")).as("sv"), xxhash64(col("dst")).as("dv"), col("p"))
      .rdd.map(r => Edge(r.getLong(0), r.getLong(1), r.getString(2)))
    (Graph(vertexRDD, edgeRDD), verts)
  }

  /** Connected components over chosen predicates → (iri, component) rows;
    * the component label is normalized to the MIN member IRI (deterministic,
    * oracle-friendly — GraphX's raw label is a min vertex-id hash).
    */
  def connectedComponents(quads: DataFrame, predicates: Seq[String] = Nil): DataFrame = {
    val spark = quads.sparkSession
    import spark.implicits._
    val (g, verts) = build(quads, predicates)
    val cc = g.connectedComponents().vertices
      .map { case (vid, comp) => (vid, comp) }.toDF("vid", "comp")
    val labeled = cc.join(verts, Seq("vid")).select(col("iri"), col("comp"))
    val compLabel = labeled.groupBy("comp").agg(min(col("iri")).as("component"))
    labeled.join(compLabel, Seq("comp")).select(col("iri"), col("component"))
  }

  /** PageRank → (iri, rank) rows. */
  def pageRank(quads: DataFrame, predicates: Seq[String] = Nil,
      tol: Double = 0.001): DataFrame = {
    val spark = quads.sparkSession
    import spark.implicits._
    val (g, verts) = build(quads, predicates)
    val pr = g.pageRank(tol).vertices.map { case (vid, r) => (vid, r) }.toDF("vid", "rank")
    pr.join(verts, Seq("vid")).select(col("iri"), col("rank"))
  }

  /** Deterministic fixed-iteration PageRank in SCALED-INTEGER arithmetic
    * (rank × 10⁸ as BIGINT): contributions use integer division, so the
    * result is bit-identical regardless of partitioning or summation order —
    * unlike double-precision PageRank (GraphX or otherwise), whose per-vertex
    * sums are association-dependent. That makes this variant ORACLE-CHECKABLE
    * (the DuckDB oracle unrolls the same k iterations) while staying a pure
    * DataFrame pipeline: per iteration one shuffle (groupBy dst) + one join.
    *
    * r₀ = 1; rₜ₊₁(v) = 0.15 + 0.85 · Σ_{u→v} rₜ(u)/outdeg(u), every product
    * and division floored at scale 10⁻⁸.
    */
  def pageRankFixed(quads: DataFrame, predicates: Seq[String] = Nil,
      iters: Int = 3): DataFrame = {
    val Scale = 100000000L // 1e8
    val e = edgeDF(quads, predicates).select(col("src"), col("dst"))
    val verts = e.select(col("src").as("iri")).unionAll(e.select(col("dst")))
      .distinct()
    val outdeg = e.groupBy(col("src")).agg(count(lit(1)).as("d"))
    // Deliberately NOT persisted: the function builds a LAZY plan, so a
    // persist would have to outlive this call — a cached RDD leaked per call
    // in a long-lived session. Within the caller's single action, the three
    // references to this identical join subtree dedupe via Spark's exchange
    // reuse (ReusedExchange), so the cache would buy nothing anyway.
    val edges = e.join(outdeg, Seq("src"))
    val ranks = Generations.scope { gen =>
      var r = verts.select(col("iri"), lit(Scale).as("r"))
      for (i <- 0 until iters) {
        val contrib = edges.join(r.withColumnRenamed("iri", "src"), Seq("src"))
          .select(col("dst"), expr("r div d").as("c"))
          .groupBy(col("dst")).agg(sum(col("c")).as("csum"))
        r = verts.join(contrib.withColumnRenamed("dst", "iri"), Seq("iri"), "left_outer")
          .select(col("iri"), expr(
            s"CAST(${15L * Scale / 100} AS BIGINT) + " +
              "(85 * coalesce(csum, CAST(0 AS BIGINT))) div 100").as("r"))
        // High-iteration runs: cut the lineage every 8 rounds (analyzer depth
        // grows per iteration), releasing the previous cut once the new one
        // materializes — at most ONE cut RDD is ever live, and none at all at
        // the default iters=3.
        if ((i + 1) % 8 == 0 && i != iters - 1) r = gen.advance(r, r)
      }
      r
    }
    // The scaled-integer rank is exact; ONE final double division (same
    // constant both engines) needs no rounding to hash-match.
    ranks.select(col("iri"), (col("r").cast("double") / lit(1e8)).as("rank"))
  }

  /** In/out degree per IRI — plain DataFrame aggregation (no GraphX needed,
    * shown here as the cheap alternative for degree-style analytics).
    */
  def degrees(quads: DataFrame, predicates: Seq[String] = Nil): DataFrame = {
    val e = edgeDF(quads, predicates)
    val out = e.groupBy(col("src").as("iri")).agg(count(lit(1)).as("out_deg"))
    val in = e.groupBy(col("dst").as("iri")).agg(count(lit(1)).as("in_deg"))
    out.join(in, Seq("iri"), "full_outer")
      .select(col("iri"), coalesce(col("out_deg"), lit(0L)).as("out_deg"),
        coalesce(col("in_deg"), lit(0L)).as("in_deg"))
  }

  /** Co-occurrence edges: items sharing a group become (src,dst) pairs
    * (src < dst). Pair count is C(k,2) per group — quadratic in group
    * size — so groups above `maxGroup` are EXCLUDED (the `Dedup.maxBucket`
    * skew-cap pattern): one pathological group (an order with 10k items, a
    * crawl bucket with 1M docs) would otherwise emit ~50M/500B pairs and
    * own the stage. Callers replaying this in SQL must apply the same
    * HAVING cap.
    */
  def coOccurrenceEdges(df: DataFrame, group: String, item: String,
      maxGroup: Int = 1000): DataFrame = {
    val ok = df.groupBy(col(group)).agg(count(lit(1)).as("_k"))
      .filter(col("_k") <= maxGroup).select(col(group))
    // no broadcast hint: the eligible-group list scales with the data —
    // AQE picks broadcast when it happens to be small
    val base = df.join(ok, group)
    base.as("a").join(base.as("b"),
        col(s"a.$group") === col(s"b.$group") &&
          col(s"a.$item") < col(s"b.$item"))
      .select(col(s"a.$item").cast("bigint").as("src"),
        col(s"b.$item").cast("bigint").as("dst"))
  }

  /** Per-vertex triangle counts over an undirected simple graph given as
    * (src, dst) LONG pairs. Edges are canonicalized (src<dst) and deduped
    * here, then GraphX's TriangleCount runs its set-intersection pass —
    * exact counts, fully distributed (the classic alternative, a 3-way
    * edge self-join, is what the DuckDB oracle replays). Vertices with no
    * triangle report 0.
    */
  def triangleCounts(edges: DataFrame): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val canon = edges
      .select(least(col("src"), col("dst")).as("u"),
        greatest(col("src"), col("dst")).as("v"))
      .filter(col("u") =!= col("v")).distinct()
    val g = Graph.fromEdgeTuples(
      canon.rdd.map(r => (r.getLong(0), r.getLong(1))), defaultValue = 0)
    val tc = org.apache.spark.graphx.lib.TriangleCount.runPreCanonicalized(g)
    tc.vertices.toDF("vid", "n_tri")
      .select(col("vid"), col("n_tri").cast("bigint").as("n_tri"))
  }

  /** BFS hop distances from `source` over an UNDIRECTED graph given as
    * (src, dst) LONG pairs, bounded by `maxDepth` — the pinpoint
    * shortest-path complement to the whole-graph GraphX ops. Semi-naive:
    * each round joins only the FRONTIER (vertices first reached last
    * round) against the edges, anti-joins the visited set, and cuts
    * lineage ([[graft.exec.Generations]]) so the plan stays
    * flat; per-round cost is |frontier ⋈ edges|, never |visited| × edges.
    * Early-exits when the frontier drains. Returns (v, dist) with the
    * minimum hop count ≤ maxDepth per reachable vertex.
    */
  def bfsDepths(edges: DataFrame, source: Long, maxDepth: Int = 4): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val und0 = edges.select(col("src"), col("dst"))
      .unionAll(edges.select(col("dst").as("src"), col("src").as("dst")))
      .filter(col("src") =!= col("dst")).distinct()
    Generations.scope { gen =>
      // materialize once — the edge lineage must not re-execute per round
      val (und, _) = gen.cut(und0)
      var (visited, fn) = gen.cut(Seq((source, 0L)).toDF("v", "dist"))
      var frontier = visited
      var depth = 0
      while (depth < maxDepth && fn > 0) {
        depth += 1
        val (next, nn) = gen.cut(
          frontier.join(und, frontier("v") === und("src"))
            .select(und("dst").as("v")).distinct()
            .join(visited, Seq("v"), "left_anti")
            .select(col("v"), lit(depth.toLong).as("dist")))
        visited = gen.cut(visited.unionAll(next))._1
        frontier = next; fn = nn
      }
      visited
    }
  }

  /** COST-BOUNDED weighted single-source shortest paths: min path cost to
    * every vertex reachable within total cost `maxCost`, over undirected
    * positive-INTEGER-weighted edges (src, dst, w) — semi-naive
    * Bellman-Ford: each round relaxes only the vertices improved last
    * round; with w >= 1 the loop terminates in <= maxCost rounds. Exact
    * and deterministic (integer sums, min aggregate), so the SQL oracle
    * replays it as a state-bounded recursive walk. The cost bound is what
    * makes this the 100 TB shape: state ∝ the cost-ball around the
    * source, never the whole graph.
    */
  def ssspWeighted(edges: DataFrame, source: Long, maxCost: Long): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    require(maxCost >= 0)
    val BcastLimit = 500000L
    def bc(df: DataFrame, n: Long): DataFrame =
      if (n <= BcastLimit) broadcast(df) else df
    Generations.scope { gen =>
      // materialize the edge set ONCE — its lineage (often an expensive
      // self-join) must not re-execute every relaxation round
      val (und, _) = gen.cut(edges.select(col("src"), col("dst"), col("w"))
        .unionAll(edges.select(col("dst").as("src"), col("src").as("dst"), col("w")))
        .filter(col("src") =!= col("dst"))
        .groupBy("src", "dst").agg(min(col("w")).as("w"))) // parallel edges: keep cheapest
      var (best, bestN) = gen.cut(Seq((source, 0L)).toDF("v", "dist"))
      var frontier = best
      var frontierN = bestN
      var go = true
      while (go && frontierN > 0) {
        // broadcast the frontier: the edge set never shuffles per round
        val cand = bc(frontier, frontierN).join(und, frontier("v") === und("src"))
          .select(und("dst").as("v"), (frontier("dist") + und("w")).as("dist"))
          .filter(col("dist") <= maxCost)
          .groupBy("v").agg(min(col("dist")).as("dist"))
        val (improved, impN) = gen.cut(cand.alias("c")
          .join(bc(best, bestN).alias("b"), Seq("v"), "left_outer")
          .filter(col("b.dist").isNull || col("c.dist") < col("b.dist"))
          .select(col("v"), col("c.dist").as("dist")))
        if (impN == 0) go = false
        else {
          // lineage cut WITHOUT a count job: |best ∪ improved| ≤ bestN + impN
          // and the count only feeds the broadcast bound, so the upper bound
          // keeps decisions safe and saves one job per relaxation round
          best = gen.cutLazy(best.join(bc(improved, impN), Seq("v"), "left_anti")
            .unionAll(improved))
          bestN = bestN + impN
          frontier = improved; frontierN = impN
        }
      }
      best
    }
  }

  /** k-CORE decomposition: the maximal subgraph in which every vertex has
    * degree ≥ k, by iterative peeling — each round drops vertices whose
    * degree fell below k and restricts the edge set to survivors (two
    * semi-joins, broadcast-able vertex set), until a fixpoint. Returns
    * `(v, deg)` with each core vertex's WITHIN-core degree. Deterministic
    * (a unique k-core exists); rounds ∝ peeling depth, each round one
    * aggregate + one filtered edge set, lineage-cut like [[bfsDepths]].
    * `maxRounds` guards the oracle contract: the SQL replay unrolls a
    * FIXED number of peels (idempotent once converged), so convergence
    * must land inside it — exceeding it throws rather than diverging
    * silently.
    */
  def kCore(edges: DataFrame, k: Int, maxRounds: Int = 12): DataFrame =
    Generations.scope { gen =>
      val (und0, _) = gen.cut(edges.select(col("src"), col("dst"))
        .unionAll(edges.select(col("dst").as("src"), col("src").as("dst")))
        .filter(col("src") =!= col("dst")).distinct())
      var cur = und0
      var prev = -1L
      var rounds = 0
      var deg = cur.groupBy(col("src")).agg(count(lit(1)).as("deg"))
      var (keep, n) = gen.cut(deg.filter(col("deg") >= k).select(col("src").as("v")))
      while (n != prev) {
        rounds += 1
        require(rounds <= maxRounds,
          s"kCore: no fixpoint within $maxRounds rounds — raise maxRounds " +
            "(and the oracle's unroll depth)")
        prev = n
        // no broadcast hint: the survivor set starts graph-sized — AQE
        // downgrades to broadcast as peeling shrinks it
        cur = gen.cut(cur
          .join(keep, cur("src") === keep("v"), "left_semi")
          .join(keep, cur("dst") === keep("v"), "left_semi"))._1
        deg = cur.groupBy(col("src")).agg(count(lit(1)).as("deg"))
        val kn = gen.cut(deg.filter(col("deg") >= k).select(col("src").as("v")))
        keep = kn._1; n = kn._2
      }
      deg.filter(col("deg") >= k)
        .select(col("src").as("v"), col("deg").cast("bigint").as("deg"))
    }
}
