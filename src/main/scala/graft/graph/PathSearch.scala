package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.exec.Generations

/** Graph Path Search — the GraphDB Graph-Path-Search plugin analog (the
  * 10.7 binary the reference ships, `Dockerfile:2`, exposes the
  * `http://www.ontotext.com/path#` SERVICE namespace: `path:findPath`
  * between a `path:sourceNode` and a `path:destinationNode`, exporting
  * per-edge bindings). The SPARQL surface lives in
  * [[graft.algebra.Compiler]] (`SERVICE path:search { … }` compiles to
  * these searches); this object is the engine.
  *
  * Searches run over a directed EDGE view `(src, p, dst)` — in the SPARQL
  * surface, every default-graph triple with a resource object by default,
  * or (r14) the solutions of a nested wildcard graph pattern that defines
  * a restricted/composite edge set. All three
  * modes are DETERMINISTIC so a SQL oracle replays them exactly: paths
  * order by (hop length, then the path's element array compared
  * element-wise — node₀, pred₁, node₁, …), and `path_idx` numbers that
  * order; "the" shortest path is the first path of that order.
  *
  * Scale shape: semi-naive frontier loops like
  * [[GraphAnalytics.bfsDepths]] — each round joins only the frontier
  * against the (once-materialized) edge view and cuts lineage, with
  * superseded generations released eagerly. `shortestPath` prunes to ONE
  * candidate path per visited vertex (state ∝ visited vertices — the
  * min-array prefix of the overall min path is itself a per-vertex min,
  * so pruning is exact). `allPaths` necessarily carries every live simple
  * path (the OUTPUT complexity of all-paths enumeration), bounded by
  * `maxLen ≤ 16`; at 100 TB the edge view persists partitioned by `src`
  * so the tiny-frontier joins broadcast and prune.
  */
object PathSearch {

  val Ns = "http://www.ontotext.com/path#"
  /** The SERVICE endpoint IRI the compiler intercepts. */
  val ServiceIri: String = Ns + "search"

  /** Exploded-edge schema shared by [[allPaths]] and [[shortestPath]]:
    * (path_idx, plen, edge_idx, start, pred, end) — one row per edge of
    * each qualifying path, `plen` = the path's hop count.
    */
  private def emptyResult(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    Seq.empty[(Long, Long, Long, String, String, String)]
      .toDF("path_idx", "plen", "edge_idx", "start", "pred", "end")
  }

  /** Broadcast `df` when its known row count is frontier-sized; above the
    * bound fall back to the shuffle join (a 100 TB frontier must not be
    * collected to the driver). Row count alone is a poor byte proxy for
    * DEEP frontiers — each row carries nodes/path arrays that grow
    * linearly with depth — so the bound shrinks with `width` (the per-row
    * array length, 1 for plain vertex sets): the admitted broadcast stays
    * ~constant bytes at every depth instead of growing 16× by the hop cap.
    */
  private val BroadcastRows = 100000L
  private def maybeBroadcast(df: DataFrame, n: Long, width: Int = 1): DataFrame =
    if (n <= BroadcastRows / math.max(1, width)) broadcast(df) else df

  /** INDEX-LOOKUP pruning for small frontiers: a broadcast-frontier join
    * still SCANS the whole edge set every hop — at 26.5M cached edges
    * that is the entire per-hop cost (~1.5 s × hops) for a walk whose
    * frontier is a handful of nodes. When the frontier is small, collect
    * its distinct node ids (the frontier is already a counted, persisted
    * cut — the collect is a cheap local job) and pre-filter
    * `src IN (nodes)`: the persisted edge index is SORTED by src, so the
    * columnar cache's per-batch min/max stats prune all but the touched
    * batches and the hop becomes a point lookup instead of a scan — the
    * only shape that survives a 100 TB edge set. Above the bound the
    * filter is skipped (a huge IN list would cost more than it saves);
    * the plain scan-join still answers.
    */
  private val LookupRows = 8192L
  private def frontierEdges(edges: DataFrame, frontier: DataFrame,
      fn: Long): DataFrame =
    if (fn > LookupRows) edges
    else {
      // A literal IN list — not a broadcast semi-join — is deliberate:
      // only literal predicates reach the cached batches' min/max stats
      // and the persisted index's row-group filters; a semi-join frame
      // prunes nothing and degrades the hop back to a full scan. The
      // per-hop analysis cost of the list is bounded by LookupRows (the
      // optimizer folds it to a single InSet node) and is the measured
      // 4× win, not a regression. Null ends (an unbound optional hop)
      // cannot be frontier nodes — drop them before the driver collect.
      val ends = frontier.select(col("end"))
        .filter(col("end").isNotNull).distinct()
        .collect().map(_.getString(0)).toSeq
      if (ends.isEmpty) edges.limit(0)
      else edges.filter(col("src").isin(ends: _*))
    }

  /** The edge SET the search walks. `assumeSet` skips the distinct AND
    * the columnar re-cache when the caller hands an already-deduplicated,
    * already-materialized frame (the catalog's checkpointed
    * `resourceEdgeSet`) — re-shuffling the store per query would charge
    * the store build to every path search. Bidirectional mode always
    * dedups: forward and reversed copies can collide.
    */
  private def edgeView(edges0: DataFrame, bidirectional: Boolean,
      gen: Generations, assumeSet: Boolean): DataFrame = {
    val base = edges0.select(col("src"), col("p"), col("dst"))
      // self-loops can never sit on a simple path
      .filter(col("src") =!= col("dst"))
    // post-distinct per-partition sort on src: the cached batches get
    // tight src min/max stats, so the frontier lookup's IN filter prunes
    // cached batches the same way it prunes the persisted index's row
    // groups — without it the hash-scattered batches all overlap and
    // every hop scans the whole cache
    if (bidirectional)
      gen.cache(base.unionAll(
        edges0.select(col("dst").as("src"), col("p"), col("src").as("dst"))
          .filter(col("src") =!= col("dst"))).distinct()
        .sortWithinPartitions("src"))
    else if (assumeSet) base
    else gen.cache(base.distinct().sortWithinPartitions("src"))
  }

  /** Number qualifying paths by (length, element-wise path array) and
    * explode each into per-edge rows. The single-partition window is
    * OUTPUT-sized (qualifying paths only), never graph-sized.
    */
  private def explodePaths(pathsDf: DataFrame): DataFrame = {
    val w = Window.orderBy(size(col("path")), col("path"))
    pathsDf
      .withColumn("path_idx", (row_number().over(w) - 1).cast("long"))
      .withColumn("plen", ((size(col("path")) - 1) / 2).cast("long"))
      .select(col("path_idx"), col("plen"), posexplode(expr(
        "transform(sequence(0, int((size(path)-3)/2)), i -> " +
          "struct(path[2*i] as start, path[2*i+1] as pred, path[2*i+2] as end))")))
      .select(col("path_idx"), col("plen"), col("pos").cast("long").as("edge_idx"),
        col("col.start"), col("col.pred"), col("col.end"))
  }

  /** Every SIMPLE (node-repetition-free) directed path `source → dest` of
    * hop length ≤ `maxLen`, exploded to edges (see [[explodePaths]] for
    * the deterministic `path_idx` order). `source == dest` or an
    * unreachable destination yield an empty result (a zero-length path has
    * no edges to export — GraphDB's path exports are per-edge bindings).
    */
  def allPaths(edges0: DataFrame, source: String, dest: String, maxLen: Int,
      bidirectional: Boolean = false, assumeSet: Boolean = false): DataFrame = {
    val spark = edges0.sparkSession
    import spark.implicits._
    require(maxLen >= 1 && maxLen <= 16,
      s"path search: maxPathLength must be in 1..16, got $maxLen")
    if (source == dest) return emptyResult(edges0)
    Generations.scope { gen =>
      val edges = edgeView(edges0, bidirectional, gen, assumeSet)
      // frontier rows: (end, nodes — the cycle guard, path — nodes+preds)
      var (frontier, fn) = gen.cut(Seq((source, Seq(source), Seq(source)))
        .toDF("end", "nodes", "path"))
      val hits = collection.mutable.ArrayBuffer[DataFrame]()
      var depth = 0
      while (depth < maxLen && fn > 0) {
        depth += 1
        val fr = maybeBroadcast(frontier, fn, width = depth)
        val hop = frontierEdges(edges, frontier, fn)
        val (ext, _) = gen.cut(hop.join(fr, fr("end") === hop("src"))
          .filter(!array_contains(col("nodes"), col("dst")))
          .select(col("dst").as("end"),
            concat(col("nodes"), array(col("dst"))).as("nodes"),
            concat(col("path"), array(col("p"), col("dst"))).as("path")))
        hits += ext.filter(col("end") === lit(dest)).select(col("path"))
        // a simple path through dest cannot return to dest — stop extending
        val cutF = gen.cut(ext.filter(col("end") =!= lit(dest)))
        frontier = cutF._1; fn = cutF._2
      }
      val all = hits.reduceOption(_.unionAll(_))
        .getOrElse(Seq.empty[Seq[String]].toDF("path"))
      gen.cut(explodePaths(all))._1
    }
  }

  /** THE shortest directed path `source → dest` within `maxLen` hops —
    * the (length, path-array)-minimal one, so the answer is unique and
    * deterministic. Same exploded-edge schema (`path_idx` = 0); empty when
    * unreachable within the bound or `source == dest`.
    *
    * Pruned BFS: per round, extensions drop already-visited targets
    * (first-reach depth IS the minimum hop count) and collapse to the
    * element-wise MIN path array per new vertex — exact, because array
    * comparison is decided inside the equal-length prefix region, so the
    * overall minimum path extends a per-vertex minimum prefix. State is
    * ∝ visited vertices, never the number of paths.
    */
  def shortestPath(edges0: DataFrame, source: String, dest: String,
      maxLen: Int, bidirectional: Boolean = false,
      assumeSet: Boolean = false): DataFrame = {
    val spark = edges0.sparkSession
    import spark.implicits._
    require(maxLen >= 1 && maxLen <= 16,
      s"path search: maxPathLength must be in 1..16, got $maxLen")
    if (source == dest) return emptyResult(edges0)
    Generations.scope { gen =>
      val edges = edgeView(edges0, bidirectional, gen, assumeSet)
      var (visited, vn) = gen.cut(Seq(source).toDF("v"))
      var (frontier, fn) = gen.cut(Seq((source, Seq(source))).toDF("end", "path"))
      var result: DataFrame = null
      var depth = 0
      while (result == null && depth < maxLen && fn > 0) {
        depth += 1
        val fr = maybeBroadcast(frontier, fn, width = depth)
        val hop = frontierEdges(edges, frontier, fn)
        val (ext, _) = gen.cut(hop.join(fr, fr("end") === hop("src"))
          .join(maybeBroadcast(visited, vn), col("dst") === visited("v"),
            "left_anti")
          .select(col("dst").as("end"),
            concat(col("path"), array(col("p"), col("dst"))).as("path")))
        val destPath = ext.filter(col("end") === lit(dest))
          .agg(min(col("path")).as("path")).filter(col("path").isNotNull)
        if (!destPath.isEmpty) result = destPath
        else {
          val (nxt, nn) = gen.cut(ext.groupBy(col("end"))
            .agg(min(col("path")).as("path")))
          val cutV = gen.cut(visited.unionAll(nxt.select(col("end").as("v"))))
          visited = cutV._1; vn = cutV._2
          frontier = nxt; fn = nn
        }
      }
      if (result == null) emptyResult(edges0)
      else gen.cut(explodePaths(result))._1
    }
  }

  /** Minimum hop distance `source → dest` within `maxLen` (the
    * `path:distance` mode): a 1-row (`dist`) result, empty when
    * unreachable within the bound; `source == dest` → 0. Runs the pruned
    * [[shortestPath]] BFS (the path it carries is the proof).
    */
  def shortestDistance(edges0: DataFrame, source: String, dest: String,
      maxLen: Int, bidirectional: Boolean = false,
      assumeSet: Boolean = false): DataFrame = {
    val spark = edges0.sparkSession
    import spark.implicits._
    if (source == dest) return Seq(0L).toDF("dist")
    shortestPath(edges0, source, dest, maxLen, bidirectional, assumeSet)
      .select(col("plen").as("dist")).distinct()
  }
}
