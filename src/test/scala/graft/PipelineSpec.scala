package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.pipeline._

/** Specs for the training-data pipeline operators (north-star ops) with
  * driver-side brute-force oracles on sf0.001.
  */
class PipelineSpec extends AnyFunSuite {
  import TestSpark.{spark, sf}
  lazy val docs = spark.read.parquet(s"$sf/documents.parquet")
  lazy val emb = spark.read.parquet(s"$sf/embeddings.parquet")

  // --- brute-force oracle: exact 3-gram jaccard computed driver-side ---
  lazy val shingleSets: Map[Long, Set[String]] =
    docs.select("doc_id", "text").collect().map { r =>
      val toks = r.getString(1).trim.toLowerCase.split("\\W+")
      val sh = if (toks.length < 3) Set.empty[String]
      else toks.sliding(3).map(_.mkString(" ")).toSet
      r.getLong(0) -> sh
    }.toMap
  lazy val bruteDupPairs: Set[(Long, Long)] = {
    val ids = shingleSets.keys.toSeq.sorted
    (for {
      i <- ids; j <- ids if i < j
      inter = shingleSets(i).intersect(shingleSets(j)).size
      union = shingleSets(i).union(shingleSets(j)).size
      if union > 0 && inter.toDouble / union >= 0.5
    } yield (i, j)).toSet
  }

  test("minhash LSH + jaccard verify finds exactly the true near-dup pairs") {
    val cand = Dedup.minhashPairs(docs, "doc_id", "text", k = 32, bands = 8,
      threshold = 0.2)
    val verified = Dedup.jaccardVerify(docs, cand.select("a", "b"), "doc_id", "text")
      .filter(col("jaccard") >= 0.5)
      .collect().map(r => (r.getLong(1), r.getLong(0))).map(t => (t._2, t._1)).toSet
    assert(verified.map(p => (math.min(p._1, p._2), math.max(p._1, p._2))) == bruteDupPairs)
    assert(bruteDupPairs.nonEmpty) // data has planted near-dups
  }

  test("dedup spills nothing to the driver's temp dir; answers unchanged") {
    // the engine names every temp dir it makes graft_*; other processes
    // sharing the temp dir are left out of the comparison
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
    def entries() = Option(tmp.list()).toSet.flatten.filter(_.startsWith("graft"))
    val before = entries()
    val cand = Dedup.minhashPairs(docs, "doc_id", "text", k = 32, bands = 8,
      threshold = 0.2)
    val verified = Dedup.jaccardVerify(docs, cand.select("a", "b"), "doc_id", "text")
      .filter(col("jaccard") >= 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val onePass = Dedup.minhashDedupPairs(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val pairs = (ps: Set[(Long, Long)]) =>
      ps.map(p => (math.min(p._1, p._2), math.max(p._1, p._2)))
    assert(pairs(verified) == bruteDupPairs)
    assert(pairs(onePass) == bruteDupPairs)
    assert(entries() -- before == Set.empty)
  }

  test("dedupKeep: one representative (min id) per near-dup cluster survives") {
    val kept = Dedup.dedupKeep(docs, "doc_id", "text")
      .collect().map(_.getLong(0)).toSet
    // driver-side ground truth: union-find over the brute dup pairs
    val parent = collection.mutable.Map[Long, Long]()
    def find(x: Long): Long =
      if (parent.getOrElse(x, x) == x) x
      else { val r = find(parent(x)); parent(x) = r; r }
    bruteDupPairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val all = shingleSets.keys.toSet
    val expectKept = all.filter(d => find(d) == d)
    assert(kept == expectKept)
    assert(kept.size < all.size) // something was actually dropped
  }

  test("exact dedup: groups + dropExact are consistent") {
    import spark.implicits._
    val withDups = docs.select("doc_id", "text")
      .unionAll(docs.select(($"doc_id" + 100000).as("doc_id"), $"text").limit(10))
    val groups = Dedup.exactGroups(withDups, "doc_id", "text")
    assert(groups.filter($"n" > 1).count() == 10)
    val kept = Dedup.dropExact(withDups, "doc_id", "text")
    assert(kept.count() == docs.count()) // one survivor per content
    assert(kept.filter($"doc_id" >= 100000).count() == 0) // min-id kept
  }

  test("simhash: identical text → identical key; near-dup pairs collide") {
    val sh = Dedup.simhashes(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // identical docs would share keys; near-dups (jaccard ≥0.9 here) should
    // have SMALL hamming distance — ≪ the ~32 expected for unrelated docs
    bruteDupPairs.foreach { case (a, b) =>
      val ham = java.lang.Long.bitCount(sh(a) ^ sh(b))
      assert(ham <= 16, s"pair ($a,$b) hamming=$ham")
    }
  }

  test("simhash multi-probe pairs: banding finds EVERY pair with hamming <= " +
    "maxHamming (incl. 1-bit flips), never hamming > maxHamming") {
    import spark.implicits._
    // hand-crafted 60-bit keys: 11 is 1 bit from 10; 12 is 3 bits from 11
    // (bits 1,2 vs bit 0 — all inside band 0: exactly ONE band collides);
    // 13 is 4 bits from 10, all in band 0, so bands 1-3 DO collide — a
    // candidate the popcount verify must reject; 14 differs in every band.
    val kv = Seq(
      10L -> 0L,                      // 000…0000
      11L -> 1L,                      // hamming(10,11) = 1
      12L -> 6L,                      // 0110 → hamming(11,12) = 3
      13L -> 15L,                     // 1111 → hamming(10,13) = 4
      14L -> ((1L << 60) - 1L))       // all-ones
    val got = Dedup.simhashKeyPairs(kv.toDF("doc", "sh"),
        nbits = 60, maxHamming = 3, bands = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    // brute-force truth over the 5 keys
    val want = (for {
      (a, ka) <- kv; (b, kb) <- kv if a < b
      h = java.lang.Long.bitCount(ka ^ kb) if h <= 3
    } yield (a, b) -> h.toLong).toMap
    assert(got == want)
    assert(got.contains((10L, 11L)) && got((10L, 11L)) == 1L) // 1-bit flip IS paired
    assert(got.contains((11L, 12L)) && got((11L, 12L)) == 3L) // bound is inclusive
    assert(!got.contains((10L, 13L))) // hamming 4: candidate, verify rejects
    // end-to-end over real text: results equal the brute-force definition
    val shMap = Dedup.simhashes(docs, "doc_id", "text", nbits = 60,
      tokenHash = Dedup.md5TokenHash)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val wantText = (for {
      (a, ka) <- shMap.toSeq; (b, kb) <- shMap.toSeq if a < b
      h = java.lang.Long.bitCount(ka ^ kb) if h <= 3
    } yield (a, b) -> h.toLong).toMap
    val gotText = Dedup.simhashPairs(docs, "doc_id", "text", nbits = 60,
      tokenHash = Dedup.md5TokenHash, maxHamming = 3, bands = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(gotText == wantText)
    assert(gotText.nonEmpty) // the corpus has near-dups; multi-probe finds them
  }

  test("trimRepeatedSpans (r15): in-doc window repeats after the first " +
    "occurrence are cut, overlapping marks merge, clean docs pass through") {
    import spark.implicits._
    val docs = Seq(
      // "a b c" recurs: the second occurrence (positions 4..6) trims
      (1L, "a b c x a b c y"),
      // generation loop: "go go go go go" — windows at 1,2 duplicate
      // window at 0 -> merged span [1,5), kept "go z w"
      (2L, "go go go go go z w"),
      (3L, "all tokens unique here")
    ).toDF("doc_id", "text")
    val got = Dedup.trimRepeatedSpans(docs, "doc_id", "text", l = 3)
      .select("doc", "kept", "n_trimmed").as[(Long, String, Long)]
      .collect().map { case (k, v, n) => k -> ((v, n)) }.toMap
    assert(got(1L) == ("a b c x y", 3L), got(1L))
    assert(got(2L) == ("go z w", 4L), got(2L))
    assert(got(3L) == ("all tokens unique here", 0L))
  }

  test("RRF hybrid fusion: rank-only scores, fixed fold order, one-leg " +
    "documents keep a NULL rank on the other leg (r15)") {
    import spark.implicits._
    // text leg ranks docs 1,2,3; vec leg ranks 3,4 — doc 3 is in both
    val tleg = Seq((1L, 1), (2L, 2), (3L, 3)).toDF("doc", "rank")
    val vleg = Seq((3L, 1), (4L, 2)).toDF("doc", "rank")
    val fused = Retrieval.rrf(Seq("text" -> tleg, "vec" -> vleg), k0 = 60,
      k = 10).collect().map(r => (r.getLong(0),
        Option(r.get(1)), Option(r.get(2)), r.getDouble(3))).toList
    val byDoc = fused.map(t => t._1 -> t).toMap
    assert(byDoc.keySet == Set(1L, 2L, 3L, 4L))
    // doc 3: both legs → 1/63 + 1/61; tops the fused order
    assert(byDoc(3L)._4 == 1.0 / 63 + 1.0 / 61)
    assert(fused.head._1 == 3L)
    // doc 4: vec-only → NULL text rank, score 1/62
    assert(byDoc(4L)._2.isEmpty && byDoc(4L)._4 == 1.0 / 62)
    // doc 1: text-only → NULL vec rank, score 1/61
    assert(byDoc(1L)._3.isEmpty && byDoc(1L)._4 == 1.0 / 61)
    // ranked(): deterministic 1-based positions, ties on the second key
    val leg = Seq((5L, 10L), (6L, 10L), (7L, 20L)).toDF("doc", "score")
    val ranked = Retrieval.ranked(leg, col("score").desc, col("doc").asc)
      .select("doc", "rank").as[(Long, Int)].collect().toMap
    assert(ranked == Map(7L -> 1, 5L -> 2, 6L -> 3))
    // r16 contract guard: the unpartitioned rank window REFUSES a leg
    // whose plan cannot statically bound its rows (a file scan has no
    // maxRows) — an unbounded frame would single-partition-sort a corpus
    val corpus = emb.select(col("vec_id").as("doc"),
      lit(1.0).as("score"))
    intercept[IllegalArgumentException] {
      Retrieval.ranked(corpus, col("score").desc)
    }
    // a limit upstream restores the static bound
    assert(Retrieval.ranked(corpus.limit(5), col("score").desc)
      .count() == 5)
  }

  test("bruteTopK matches a driver-side exact ranking") {
    val vecs = emb.select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      while (i < a.length) {
        dot += a(i).toDouble * b(i).toDouble
        na += a(i).toDouble * a(i).toDouble; nb += b(i).toDouble * b(i).toDouble
        i += 1
      }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    val got = Similarity.bruteTopK(emb, emb.filter(col("vec_id") === 0), "vec_id",
      "embedding", k = 5).collect()
      .sortBy(_.getInt(3)).map(_.getLong(1))
    val expect = vecs.toSeq.filter(_._1 != 0L)
      .map { case (id, v) => (id, cos(vecs(0L), v)) }
      .sortBy { case (id, c) => (-c, id) }.take(5).map(_._1)
    assert(got.toSeq == expect)
  }

  test("quantTopK: int8 cosines within 2% of exact; high overlap with brute") {
    val brute = Similarity.bruteTopK(emb, emb.filter(col("vec_id") < 5), "vec_id",
      "embedding", k = 5).collect()
    val quant = Similarity.quantTopK(emb, emb.filter(col("vec_id") < 5), "vec_id",
      "embedding", k = 5).collect()
    val bruteCos = brute.map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // quantization error bound: per-pair cosine drift stays small
    quant.foreach { r =>
      bruteCos.get((r.getLong(0), r.getLong(1))).foreach { exact =>
        assert(math.abs(r.getDouble(2) - exact) < 0.02,
          s"quantized cos ${r.getDouble(2)} vs exact $exact")
      }
    }
    // ranking mostly survives quantization: >= 3 of top-5 shared per query
    val bSets = brute.groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet)
    val qSets = quant.groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet)
    bSets.foreach { case (q, bs) => assert((bs & qSets(q)).size >= 3) }
  }

  test("lshTopK returns ≤k well-formed rows whose cosines match brute") {
    val brute = Similarity.bruteTopK(emb, emb.filter(col("vec_id") < 5), "vec_id",
      "embedding", k = 5).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val lsh = Similarity.lshTopK(emb, emb.filter(col("vec_id") < 5), "vec_id",
      "embedding", k = 5, planes = 8, probes = 4).collect()
    assert(lsh.nonEmpty)
    val perQuery = lsh.groupBy(_.getLong(0))
    perQuery.foreach { case (_, rows) =>
      assert(rows.length <= 5)
      assert(rows.map(_.getInt(3)).sorted.sameElements(1 to rows.length))
    }
  }

  test("ivfTopK probes only its lists; returned cosines agree with brute") {
    val brute = Similarity.bruteTopK(emb, emb.filter(col("vec_id") < 5), "vec_id",
      "embedding", k = 5).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val ivf = Similarity.ivfTopK(emb, emb.filter(col("vec_id") < 5), "vec_id",
      "embedding", k = 5, nlist = 4, nprobe = 2, iters = 2).collect()
    assert(ivf.nonEmpty)
    val perQuery = ivf.groupBy(_.getLong(0))
    perQuery.foreach { case (_, rows) =>
      assert(rows.length <= 5)
      assert(rows.map(_.getInt(3)).sorted.sameElements(1 to rows.length))
    }
    // any (query, neighbor) pair IVF shares with brute must score identically
    ivf.foreach { r =>
      brute.get((r.getLong(0), r.getLong(1)))
        .foreach(b => assert(math.abs(b - r.getDouble(2)) < 1e-9))
    }
  }

  test("pqTopK: ADC ranking is deterministic, k rows per query, and the " +
    "approximation recalls brute top-k neighbors (r12 cont.)") {
    val q = emb.filter(col("vec_id") < 5)
    val pq = Similarity.pqTopK(emb, q, "vec_id", "embedding",
      k = 5, m = 4, ksub = 8, iters = 2).collect()
    assert(pq.nonEmpty)
    val perQuery = pq.groupBy(_.getLong(0))
    perQuery.foreach { case (_, rows) =>
      assert(rows.length == 5)
      assert(rows.map(_.getInt(3)).sorted.sameElements(1 to 5))
      rows.foreach(r => assert(r.getDouble(2) >= -1.0001 && r.getDouble(2) <= 1.0001))
    }
    // determinism: a second run reproduces the ranking exactly
    val pq2 = Similarity.pqTopK(emb, q, "vec_id", "embedding",
      k = 5, m = 4, ksub = 8, iters = 2).collect()
    assert(pq.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq ==
      pq2.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq)
    // approximation quality floor: the reconstruction-cosine top-5 should
    // overlap the exact top-5 for most queries (guards a broken codebook
    // or table lookup; PQ with 8 codes x 4 subspaces is coarse by design)
    val brute = Similarity.bruteTopK(emb, q, "vec_id", "embedding", k = 5)
      .collect().groupBy(_.getLong(0))
      .map { case (qid, rs) => qid -> rs.map(_.getLong(1)).toSet }
    val overlap = perQuery.map { case (qid, rs) =>
      rs.map(_.getLong(1)).toSet.intersect(brute(qid)).size }.sum
    assert(overlap >= 3, s"ADC overlap $overlap too low")
  }

  test("ivfPqTopK: candidates come from probed lists only; shared pairs " +
    "score identically to pure PQ ADC (r12 cont.)") {
    val q = emb.filter(col("vec_id") < 5)
    val pq = Similarity.pqTopK(emb, q, "vec_id", "embedding",
      k = 5, m = 4, ksub = 8, iters = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val ivfpq = Similarity.ivfPqTopK(emb, q, "vec_id", "embedding",
      k = 5, nlist = 4, nprobe = 2, coarseIters = 2, m = 4, ksub = 8,
      pqIters = 2).collect()
    assert(ivfpq.nonEmpty)
    ivfpq.groupBy(_.getLong(0)).foreach { case (_, rows) =>
      assert(rows.length <= 5)
      assert(rows.map(_.getInt(3)).sorted.sameElements(1 to rows.length))
    }
    // the ADC score of any pair IVF-PQ shares with pure PQ is identical
    // (same codebooks, same tables — IVF only prunes candidates)
    ivfpq.foreach { r =>
      pq.get((r.getLong(0), r.getLong(1)))
        .foreach(p => assert(math.abs(p - r.getDouble(2)) < 1e-9))
    }
  }

  test("cosineLshPairs: exact-verify subset of the all-pairs kernel; " +
    "recall at the measured band-collision rate") {
    val exact = Dedup.cosineNearDupPairs(emb, "vec_id", "embedding", 0.42)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.cosineLshPairs(emb, "vec_id", "embedding", 0.42)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh.subsetOf(exact)) // precision 1: every emitted pair is verified
    assert(lsh.nonEmpty)
    // sign-LSH recall at threshold 0.42 (~65°) with 4x4-bit bands is
    // partial by design; the floor guards against a broken banding
    val recall = lsh.size.toDouble / exact.size
    assert(recall >= 0.2, s"recall $recall over ${exact.size} exact pairs")
  }

  test("cosineNearDupPairs: block kernel matches driver brute force, stays distributed") {
    val vecs = emb.select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    def r4(d: Double): Double =
      BigDecimal(d).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      val denom = math.sqrt(na) * math.sqrt(nb)
      if (denom > 0) dot / denom else 0.0
    }
    val ids = vecs.keys.toSeq.sorted
    val expect = (for {
      i <- ids; j <- ids if i < j
      c = r4(cos(vecs(i), vecs(j))) if c >= 0.42
    } yield (i, j) -> c).toMap
    val df = Dedup.cosineNearDupPairs(emb, "vec_id", "embedding", 0.42)
    val got = df.collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(got == expect)
    assert(expect.nonEmpty)
    // scale posture: the corpus must NOT be collected into the plan — round-1
    // regression was a driver-side collect + LocalTableScan-equivalent.
    assert(!df.queryExecution.executedPlan.toString.contains("LocalTableScan"))
  }

  test("text analysis: counts, language id, fingerprint invariance") {
    import spark.implicits._
    val df = Seq(
      (1L, "the cat and the dog sat on the mat"),
      (2L, "der hund und die katze ist nicht ein tier mit"),
      (3L, ""),
      (4L, "   "),
      (5L, "Hello,   World! Hello —  WORLD.")).toDF("id", "text")
    val got = df.select($"id", TextAnalysis.tokenCount($"text").as("tok"),
      TextAnalysis.langId($"text").as("lang"),
      TextAnalysis.fingerprint($"text").as("fp")).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getString(2), r.getString(3))).toMap
    assert(got(1L)._1 == 9 && got(1L)._2 == "en")
    assert(got(2L)._2 == "de")
    assert(got(3L)._1 == 0 && got(3L)._2 == "und")
    assert(got(4L)._1 == 0)
    // fingerprint ignores case/punct/spacing: "hello world hello world"
    val fpA = got(5L)._3
    val fpB = df.sparkSession.range(1)
      .select(TextAnalysis.fingerprint(lit("hello world hello world")).as("fp"))
      .collect()(0).getString(0)
    assert(fpA == fpB)
  }

  test("chunking: overlapping windows cover every token, tail is shorter") {
    import spark.implicits._
    val doc = Seq((1L, (1 to 10).map(i => s"t$i").mkString(" "))).toDF("doc_id", "text")
    val rows = TextAnalysis.chunk(doc, "doc_id", "text", width = 4, stride = 3)
      .collect().map(r => (r.getInt(1), r.getInt(2), r.getString(3))).sortBy(_._1)
    assert(rows.map(_._1).toSeq == Seq(0, 3, 6, 9)) // starts every stride
    assert(rows.head == ((0, 4, "t1 t2 t3 t4")))
    assert(rows(1)._3 == "t4 t5 t6 t7") // overlap of width - stride = 1
    assert(rows.last == ((9, 1, "t10"))) // short tail
    // empty docs produce no chunks
    val none = TextAnalysis.chunk(Seq((2L, "  ")).toDF("doc_id", "text"),
      "doc_id", "text")
    assert(none.count() == 0)
  }

  test("redact masks emails/IPs/digit runs; repetition metrics flag boilerplate") {
    import spark.implicits._
    val out = Seq("contact bob.smith+x@example.co.uk or 10.0.255.1, tel 089 123 4567 x")
      .toDF("text").select(TextAnalysis.redact($"text")).collect()(0).getString(0)
    assert(out == "contact <EMAIL> or <IP>, tel <NUM> x", out)
    // short digit runs and plain words survive
    val keep = Seq("room 42 on floor 3").toDF("text")
      .select(TextAnalysis.redact($"text")).collect()(0).getString(0)
    assert(keep == "room 42 on floor 3")
    val docs = Seq(
      (1L, "spam spam spam spam spam spam"), // one distinct trigram, 4 total
      (2L, "all words here are fully distinct tokens friend"),
      (3L, "line one\nline one\nline two"),
      (4L, "")).toDF("doc_id", "text")
    val m = TextAnalysis.repetitionMetrics(docs, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    assert(m(1L)._1 == 0.75) // 4 trigrams, 1 distinct
    assert(m(2L)._1 == 0.0)
    assert(m(3L)._2 == 1.0 - 2.0 / 3.0) // 3 lines, 2 distinct
    assert(m(4L) == (0.0, 0.0))
  }

  test("split: disjoint exhaustive buckets, repartition-stable; " +
    "under-1 fractions leave a null holdout; bad fractions rejected") {
    val fr = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)
    val d = Sampling.split(docs.select("doc_id"), "doc_id", fr)
    assert(d.filter(col("split").isNull).count() == 0) // fractions sum to 1
    val byId = d.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(byId.size == docs.count())
    // stable under repartitioning — identical assignment per key
    val d2 = Sampling.split(docs.select("doc_id").repartition(7), "doc_id", fr)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(d2 == byId)
    // rough proportions (md5 is uniform; 500 docs → loose bound)
    assert(byId.values.count(_ == "train").toDouble / byId.size > 0.7)
    assert(byId.values.toSet == Set("train", "val", "test"))
    // explicit holdout: remainder of the space is a null split
    val hold = Sampling.split(docs.select("doc_id"), "doc_id",
      Seq("train" -> 0.5))
    assert(hold.filter(col("split").isNull).count() > 0)
    intercept[IllegalArgumentException](
      Sampling.split(docs, "doc_id", Seq("a" -> 0.9, "b" -> 0.2)))
  }

  test("hash sampling: deterministic under repartitioning, join-consistent") {
    import spark.implicits._
    val df = (1L to 5000L).map(i => (i, s"u${i % 500}")).toDF("id", "user")
    val a = graft.pipeline.Sampling.hashSample(df, "user", 0.2)
      .collect().map(_.getLong(0)).toSet
    val b = graft.pipeline.Sampling.hashSample(df.repartition(17), "user", 0.2)
      .collect().map(_.getLong(0)).toSet
    assert(a == b && a.nonEmpty && a.size < 5000)
    // sampling by the same key keeps tables join-compatible: every sampled
    // row's user also survives in a second table sampled by user
    val users = (0 until 500).map(i => s"u$i").toDF("user")
    val su = graft.pipeline.Sampling.hashSample(users, "user", 0.2)
      .collect().map(_.getString(0)).toSet
    val sampledUsers = graft.pipeline.Sampling.hashSample(df, "user", 0.2)
      .collect().map(_.getString(1)).toSet
    assert(sampledUsers == su)
    // fraction ~ population share (Bernoulli over 500 users)
    assert(math.abs(su.size - 100) < 40, s"sampled ${su.size} of 500")
  }

  test("KMV sketch: exact below k, within 3 sigma above k, merge-stable") {
    import spark.implicits._
    val small = (1 to 100).map(_.toString).toDF("v")
    val exact = graft.pipeline.Sketches.kmvDistinct(small, "v", k = 256).collect()(0)
    assert(exact.getLong(0) == 100) // cardinality < k → degenerate exact
    val big = (1 to 20000).map(_.toString).toDF("v")
    val est = graft.pipeline.Sketches.kmvDistinct(big, "v", k = 256)
      .collect()(0).getLong(0)
    // stderr ~ n/sqrt(k-2) ≈ 1255 at n=20000; 3 sigma band
    assert(math.abs(est - 20000) < 3800, s"est $est")
    // duplicates don't move the estimate (distinct-hash semantics)
    val dup = big.unionAll(big).unionAll(big)
    val est2 = graft.pipeline.Sketches.kmvDistinct(dup, "v", k = 256)
      .collect()(0).getLong(0)
    assert(est2 == est)
  }

  test("salted agg equals plain agg; salted join equals plain join") {
    import spark.implicits._
    val df = Seq.tabulate(1000)(i =>
      (if (i % 10 == 0) "HOT" else s"k${i % 7}", i.toDouble, i * 2.0))
      .toDF("k", "q", "p")
    val salted = graft.pipeline.Skew.saltedAgg(df, "k",
      Seq(("q", "sum"), ("q", "count"), ("p", "max")), salts = 8)
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getLong(2), r.getDouble(3))).toMap
    val plain = df.groupBy("k").agg(sum("q"), count("q"), max("p"))
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getLong(2), r.getDouble(3))).toMap
    assert(salted == plain)
    // salted join: hot key replicated per salt, cold path untouched
    val probe = Seq.tabulate(200)(i => (if (i % 2 == 0) 1L else (i % 5).toLong, s"p$i"))
      .toDF("k", "pv")
    val build = Seq((0L, "b0"), (1L, "b1"), (2L, "b2"), (3L, "b3"), (4L, "b4"))
      .toDF("k", "bv")
    val sj = graft.pipeline.Skew.saltedJoin(probe, build, "k", hotKeys = Seq(1L), salts = 4)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).sorted
    val pj = probe.join(build, "k")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).sorted
    assert(sj.toSeq == pj.toSeq)
  }

  test("winnow: shared substring >= w+k-1 chars guarantees a shared fingerprint") {
    import spark.implicits._
    val shared = "a quick brown fox jumps over the lazy dog" // >> 11 chars
    val df = Seq(
      (1L, s"PREFIX ONE $shared SUFFIX ALPHA"),
      (2L, s"totally different opener $shared and another tail"),
      (3L, "no overlap with anything else whatsoever here"),
      (4L, "tiny")).toDF("doc_id", "text")
    val fps = TextAnalysis.winnow(df, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).groupBy(_._1)
      .view.mapValues(_.map(_._2).toSet).toMap
    // winnowing guarantee (SWA '03): docs 1 and 2 share a fingerprint
    assert((fps(1L) & fps(2L)).nonEmpty)
    // doc 3 shares nothing with 1 (different content)
    assert((fps(1L) & fps.getOrElse(3L, Set.empty[Long])).isEmpty)
    // doc 4 is below the w+k-1 minimum → no fingerprints at all
    assert(!fps.contains(4L))
    // deterministic: same input, same fingerprint set
    val again = TextAnalysis.winnow(df, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toSet
    assert(again == fps.toSeq.flatMap { case (d, s) => s.map(d -> _) }.toSet)
  }

  test("multimodal: plumbing preserves ids; stub decode is deterministic") {
    val media = Multimodal.toMediaTable(docs.limit(20), "doc_id", "text")
    val dec1 = Multimodal.decodeAndFeaturize(media).collect()
      .map(r => r.getLong(0) -> (r.getInt(4), r.getInt(5))).toMap
    val dec2 = Multimodal.decodeAndFeaturize(media).collect()
      .map(r => r.getLong(0) -> (r.getInt(4), r.getInt(5))).toMap
    assert(dec1 == dec2 && dec1.size == 20)
    val frames = Multimodal.sampleFrames(media)
    assert(frames.count() > 0)
    assert(frames.groupBy("media_id").count().agg(max("count")).collect()(0).getLong(0) <= 8)
  }

  test("full-text search: conjunctive postings match equals brute force; " +
    "postings are unique with tf >= 1") {
    val terms = Seq("window", "merge", "scan")
    val got = FullText.search(docs, "doc_id", "text", terms).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val brute = docs.select("doc_id", "text").collect().flatMap { r =>
      val toks = r.getString(1).trim.toLowerCase.split("\\W+").filter(_.nonEmpty)
      val tf = toks.groupBy(identity).map { case (k, v) => k -> v.length }
      if (terms.forall(tf.contains)) Some(r.getLong(0) -> terms.map(tf(_)).sum.toLong)
      else None
    }.toMap
    assert(got == brute && got.nonEmpty)
    val p = FullText.postings(docs, "doc_id", "text")
    assert(p.filter(col("tf") < 1).count() == 0)
    assert(p.groupBy("term", "doc").count().filter(col("count") > 1).count() == 0)
  }

  test("full-text phrase + ranked search match driver-side brute force") {
    def toks(t: String): Array[String] =
      t.trim.toLowerCase.split("\\W+").filter(_.nonEmpty)
    val corpus = docs.select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> toks(r.getString(1))).toMap
    // phrase: sliding-window count of the exact word sequence
    val phrase = Seq("window", "join")
    val wantPhrase = corpus.flatMap { case (id, ts) =>
      val n = if (ts.length < phrase.size) 0L
      else ts.sliding(phrase.size).count(_.sameElements(phrase)).toLong
      if (n > 0) Some(id -> n) else None
    }
    val gotPhrase = FullText.phraseSearch(docs, "doc_id", "text", phrase)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(gotPhrase == wantPhrase && gotPhrase.nonEmpty)
    // ranked: integer idf weighting replayed driver-side
    val terms = Seq("window", "merge", "scan")
    val n = corpus.size.toLong
    val tf = corpus.map { case (id, ts) =>
      id -> terms.map(t => t -> ts.count(_ == t).toLong).toMap
    }
    val dfT = terms.map(t => t -> tf.values.count(_(t) > 0).toLong).toMap
    val wantScores = tf.flatMap { case (id, m) =>
      val s = terms.map(t => if (m(t) > 0) m(t) * ((n * 1000000L) / dfT(t)) else 0L).sum
      if (s > 0) Some(id -> s) else None
    }
    val wantTop = wantScores.toSeq.sortBy { case (id, s) => (-s, id) }.take(10)
    val gotTop = FullText.rankedSearch(docs, "doc_id", "text", terms, k = 10)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toSeq
    assert(gotTop == wantTop)
  }

  test("Profiling guards: q outside (0,1] rejected; empty/all-null column and " +
    "zero-profileable-column table return empty, schema intact") {
    import spark.implicits._
    val df = Seq(1.0, 2.0, 3.0).toDF("v")
    intercept[IllegalArgumentException] {
      Profiling.quantiles(df, "v", Seq(0.0, 0.5)) // rank 0 never exists
    }
    intercept[IllegalArgumentException] {
      Profiling.quantiles(df, "v", Seq(0.5, 1.1))
    }
    // q = 1.0 is the max element — legal
    assert(Profiling.quantiles(df, "v", Seq(1.0)).collect()(0).getDouble(1) == 3.0)
    val empty = Profiling.quantiles(Seq.empty[Double].toDF("v"), "v", Seq(0.5))
    assert(empty.columns.toSeq == Seq("q", "value") && empty.count() == 0)
    val allNull = Profiling.quantiles(
      Seq[Option[Double]](None, None).toDF("v"), "v", Seq(0.5))
    assert(allNull.count() == 0)
    val noProfileable = Profiling.columnStats(Seq(Tuple1(Seq(1.0))).toDF("arr"))
    assert(noProfileable.columns.toSeq ==
      Seq("column", "nulls", "n_distinct", "min_val", "max_val"))
    assert(noProfileable.count() == 0)
  }

  test("streaming dedup: a replayed slice collapses to the batch distinct") {
    val ev = spark.read.parquet(s"$sf/events.parquet")
    val dup = ev.unionAll(ev.filter(col("event_id") % 5 === 0))
    val tmp = java.nio.file.Files.createTempDirectory("graft_duptest")
    dup.write.mode("overwrite").parquet(s"$tmp/events.parquet")
    val deduped = graft.streaming.StreamIngest.dedupStream(spark, tmp.toString)
    assert(deduped.count() == ev.count()) // every replayed row dropped
    assert(deduped.groupBy("event_id").count()
      .filter(col("count") > 1).count() == 0)
  }

  test("FullTextIndex: persisted-index queries equal the corpus-path " +
    "results for search / ranked / phrase / prefix; n is stored") {
    val idx = FullTextIndex.build(docs, "doc_id", "text", "ftsidx_eq")
    assert(idx.n == docs.count())
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSet
    val terms = Seq("window", "merge", "scan")
    assert(rows(idx.search(terms)) ==
      rows(FullText.search(docs, "doc_id", "text", terms)))
    // ranked is ordered — compare as sequences
    assert(idx.rankedSearch(terms, 10).collect().map(_.toSeq).toSeq ==
      FullText.rankedSearch(docs, "doc_id", "text", terms, 10)
        .collect().map(_.toSeq).toSeq)
    assert(rows(idx.phraseSearch(Seq("window", "join"))) ==
      rows(FullText.phraseSearch(docs, "doc_id", "text", Seq("window", "join"))))
    assert(rows(idx.prefixSearch("s")) ==
      rows(FullText.prefixSearch(docs, "doc_id", "text", "s")))
    assert(rows(idx.fuzzySearch("sow", 1)) ==
      rows(FullText.fuzzySearch(docs, "doc_id", "text", "sow", 1)))
    assert(idx.fuzzySearch("sow", 1).count() > 0)
    assert(rows(idx.orSearch(Seq("window", "merge"))) ==
      rows(FullText.orSearch(docs, "doc_id", "text", Seq("window", "merge"))))
    assert(rows(idx.booleanSearch(Seq("merge", "scan"), Seq("window"))) ==
      rows(FullText.booleanSearch(docs, "doc_id", "text",
        Seq("merge", "scan"), Seq("window"))))
    assert(rows(idx.wildcardSearch("w*ow")) ==
      rows(FullText.wildcardSearch(docs, "doc_id", "text", "w*ow")))
    // prefix range excludes terms outside [s, t): 'scan' in, 'row'/'table' out
    val ps = idx.prefixSearch("sc").collect()
    assert(ps.nonEmpty)
  }

  test("proximity nearSearch matches driver-side brute force; corpus and " +
    "persisted-index paths agree") {
    def toks(t: String): Array[String] =
      t.trim.toLowerCase.split("\\W+").filter(_.nonEmpty)
    val corpus = docs.select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> toks(r.getString(1))).toMap
    val (a, b, slop) = ("window", "scan", 3)
    val want = corpus.flatMap { case (id, ts) =>
      val pa = ts.zipWithIndex.collect { case (t, i) if t == a => i }
      val pb = ts.zipWithIndex.collect { case (t, i) if t == b => i }
      val n = (for (i <- pa; j <- pb if math.abs(i - j) <= slop) yield 1).size
      if (n > 0) Some(id -> n.toLong) else None
    }
    val got = FullText.nearSearch(docs, "doc_id", "text", a, b, slop)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == want && got.nonEmpty)
    val idx = FullTextIndex.build(docs, "doc_id", "text", "ftsidx_near_t")
    val gotIdx = idx.nearSearch(a, b, slop)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(gotIdx == want)
  }

  test("full-text OR / boolean / wildcard match driver-side brute force") {
    def toks(t: String): Array[String] =
      t.trim.toLowerCase.split("\\W+").filter(_.nonEmpty)
    val corpus = docs.select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> toks(r.getString(1))).toMap
    // OR: any of the terms; n_terms = distinct matches, score = total tf
    val orTerms = Seq("window", "merge")
    val wantOr = corpus.flatMap { case (id, ts) =>
      val tfs = orTerms.map(t => ts.count(_ == t).toLong).filter(_ > 0)
      if (tfs.nonEmpty) Some(id -> (tfs.size.toLong, tfs.sum)) else None
    }
    val gotOr = FullText.orSearch(docs, "doc_id", "text", orTerms)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(gotOr == wantOr && gotOr.nonEmpty)
    // boolean: all must terms, none of the mustNot terms
    val wantBool = corpus.flatMap { case (id, ts) =>
      val m = Seq("merge", "scan").map(t => ts.count(_ == t).toLong)
      if (m.forall(_ > 0) && !ts.contains("window")) Some(id -> m.sum) else None
    }
    val gotBool = FullText.booleanSearch(docs, "doc_id", "text",
        Seq("merge", "scan"), Seq("window"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(gotBool == wantBool && gotBool.nonEmpty)
    // boolean must be a strict subset of the conjunctive result
    val conj = FullText.search(docs, "doc_id", "text", Seq("merge", "scan"))
      .collect().map(_.getLong(0)).toSet
    assert(gotBool.keySet.subsetOf(conj) && gotBool.size < conj.size)
    // wildcard w*ow: regex-equivalent on the token set
    val re = "w.*ow".r
    val wantWild = corpus.flatMap { case (id, ts) =>
      val hits = ts.filter(t => re.pattern.matcher(t).matches())
      if (hits.nonEmpty)
        Some(id -> (hits.distinct.length.toLong, hits.length.toLong))
      else None
    }
    val gotWild = FullText.wildcardSearch(docs, "doc_id", "text", "w*ow")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(gotWild == wantWild && gotWild.nonEmpty)
    // ? is exactly-one-char: s?an matches scan, not san
    assert(FullText.wildcardToLike("s?an") == "s_an")
    assert(FullText.wildcardToLike("a_b*") == "a\\_b%")
    intercept[IllegalArgumentException] {
      FullText.wildcardSearch(docs, "doc_id", "text", "scan") // no wildcard
    }
  }

  test("BM25 ranked search matches a driver-side replica; index path " +
    "equals corpus path") {
    def toks(t: String): Array[String] =
      t.trim.toLowerCase.split("\\W+").filter(_.nonEmpty)
    val corpus = docs.select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> toks(r.getString(1)))
    val qs = Seq("window", "merge", "scan")
    val n = corpus.length.toLong
    val total = corpus.map(_._2.length.toLong).sum
    val dfT = qs.map(q => q -> corpus.count(_._2.contains(q)).toLong).toMap
    val want = corpus.flatMap { case (id, ts) =>
      val dl = ts.length.toLong
      val cs = qs.flatMap { q =>
        val tf = ts.count(_ == q).toLong
        if (tf == 0) None else {
          val idf = (n * 1000000L) / dfT(q)
          val norm = 0.75 * dl.toDouble * n.toDouble / total.toDouble
          val denom = tf.toDouble + 1.2 * (0.25 + norm)
          Some(math.floor(idf.toDouble * (tf.toDouble * 2.2) / denom *
            1000000.0).toLong)
        }
      }
      if (cs.isEmpty) None else Some(id -> cs.sum)
    }.sortBy { case (id, s) => (-s, id) }.take(10).toSeq
    val got = FullText.bm25Search(docs, "doc_id", "text", qs, k = 10)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toSeq
    assert(got == want && got.nonEmpty)
    // the persisted-index path is identical and fires no stat jobs
    val idx = FullTextIndex.build(docs, "doc_id", "text", "ftsidx_bm25_t")
    val gotIdx = idx.bm25Search(qs, k = 10)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toSeq
    assert(gotIdx == got)
    assert(idx.totalTokens == total && idx.n == n)
  }

  test("pointInRing: ray-cast against an L-shape matches a driver-side " +
    "crossing count; polygonJoin finds exactly the inside points") {
    import spark.implicits._
    // L-shape: notch cut from the top-right (vertices at .x5 offsets)
    val ringPts = Seq((-6.55, 52.95), (-6.15, 52.95), (-6.15, 53.25),
      (-6.35, 53.25), (-6.35, 53.55), (-6.55, 53.55), (-6.55, 52.95))
    def inside(x: Double, y: Double): Boolean = {
      var c = 0
      ringPts.sliding(2).foreach { case Seq((ax, ay), (bx, by)) =>
        if (((ay > y) != (by > y)) && x < (bx - ax) * (y - ay) / (by - ay) + ax)
          c += 1
      }
      c % 2 == 1
    }
    val pts = for { i <- 0 to 9; j <- 0 to 6 }
      yield (i.toLong * 10 + j, -6.0 - i * 0.1, 53.0 + j * 0.1)
    val df = pts.toDF("pid", "lon", "lat")
    val wkt = "POLYGON ((" + ringPts.map(p => s"${p._1} ${p._2}")
      .mkString(", ") + "))"
    val got = df.filter(graft.functions.SparqlFunctions.pointInRing(
        col("lon"), col("lat"),
        graft.functions.SparqlFunctions.wktRingText(lit(wkt))))
      .collect().map(_.getLong(0)).toSet
    val want = pts.filter(p => inside(p._2, p._3)).map(_._1).toSet
    assert(got == want && want.nonEmpty && want.size < pts.size)
    // the distributed join path agrees, and the notch is respected
    // (an envelope-only join would include notch points)
    val polys = Seq((7L, wkt)).toDF("aid", "w")
      .select(col("aid"),
        graft.functions.SparqlFunctions.wktRingText(col("w")).as("ring"))
    val joined = GeoSpatial.polygonJoin(df, polys, cellSize = 0.1)
      .collect().map(_.getLong(1)).toSet
    assert(joined == want)
    val notch = pts.filter(p => p._2 > -6.35 && p._2 < -6.15 &&
      p._3 > 53.25 && p._3 < 53.55).map(_._1)
    assert(notch.nonEmpty && notch.forall(!joined.contains(_)))
  }

  test("polygon×polygon predicates: within/intersects/overlaps/touches/" +
    "equals/crosses decide the constructed cases; polygonIntersectsJoin " +
    "equals the brute-force cross join exactly once") {
    import spark.implicits._
    val F = graft.functions.SparqlFunctions
    def sq(x1: Double, y1: Double, x2: Double, y2: Double): String =
      s"POLYGON (($x1 $y1, $x2 $y1, $x2 $y2, $x1 $y2, $x1 $y1))"
    val L = "POLYGON ((-6.55 52.95, -6.15 52.95, -6.15 53.25, " +
      "-6.35 53.25, -6.35 53.55, -6.55 53.55, -6.55 52.95))"
    val cases = Seq(
      // (name, a, b, within, intersects, overlaps, touches, equals)
      ("contained", sq(-6.48, 53.02, -6.42, 53.08), L,
        true, true, false, false, false),
      ("crossing", sq(-6.48, 53.52, -6.42, 53.58), L,
        false, true, true, false, false),
      ("notch-straddle", sq(-6.28, 53.22, -6.22, 53.28), L,
        false, true, true, false, false),
      ("disjoint", sq(-6.08, 53.02, -6.02, 53.08), L,
        false, false, false, false, false),
      ("shared-edge", sq(-6.48, 53.02, -6.42, 53.08),
        sq(-6.42, 53.02, -6.36, 53.08), false, true, false, true, false),
      ("shared-corner", sq(-6.48, 53.02, -6.42, 53.08),
        sq(-6.42, 53.08, -6.36, 53.14), false, true, false, true, false),
      ("rotated-equal", sq(-6.48, 53.02, -6.42, 53.08),
        "POLYGON ((-6.42 53.08, -6.48 53.08, -6.48 53.02, -6.42 53.02, " +
          "-6.42 53.08))", true, true, false, false, true))
    val df = cases.map(c => (c._1, c._2, c._3))
      .toDF("name", "wa", "wb")
      .select(col("name"),
        F.sfWithin(F.strT(col("wa")), F.strT(col("wb")))
          .getField("value").as("w"),
        F.sfIntersects(F.strT(col("wa")), F.strT(col("wb")))
          .getField("value").as("i"),
        F.sfOverlaps(F.strT(col("wa")), F.strT(col("wb")))
          .getField("value").as("o"),
        F.sfTouches(F.strT(col("wa")), F.strT(col("wb")))
          .getField("value").as("t"),
        F.sfEquals(F.strT(col("wa")), F.strT(col("wb")))
          .getField("value").as("e"),
        F.sfCrosses(F.strT(col("wa")), F.strT(col("wb")))
          .getField("value").as("c"))
      .collect().map(r => r.getString(0) ->
        (r.getString(1), r.getString(2), r.getString(3), r.getString(4),
          r.getString(5), r.getString(6))).toMap
    cases.foreach { c =>
      val got = df(c._1)
      val want = (c._4.toString, c._5.toString, c._6.toString,
        c._7.toString, c._8.toString, "false")
      assert(got == want, s"case ${c._1}: got $got want $want")
    }
    // join path: every pair decided by ringsIntersect appears EXACTLY once
    val as = (0 until 10).map { d =>
      (d.toLong, sq(-6.0 - d * 0.1 - 0.08, 53.02, -6.0 - d * 0.1 - 0.02, 53.08))
    }.toDF("aid", "w").select(col("aid"), F.wktRingText(col("w")).as("ring"))
    val bs = (0 until 5).map { r =>
      (r.toLong, sq(-6.0 - 2 * r * 0.1 - 0.09, 53.05,
        -6.0 - 2 * r * 0.1 - 0.01, 53.65))
    }.toDF("bid", "w").select(col("bid"), F.wktRingText(col("w")).as("ring"))
    val joined = GeoSpatial.polygonIntersectsJoin(as, bs, cellSize = 0.1)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val brute = as.withColumnRenamed("ring", "aring")
      .crossJoin(bs.withColumnRenamed("ring", "bring"))
      .filter(F.ringsIntersect(col("aring"), col("bring")))
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    assert(joined.toSet == brute && joined.length == joined.toSet.size)
    assert(brute == (0 until 5).map(r => (2L * r, r.toLong)).toSet)
  }

  test("multi-geometries: component decomposition, exists/forall dispatch, " +
    "envelope/boundary accessors, multiPolygonIntersectsJoin = brute force") {
    import spark.implicits._
    val F = graft.functions.SparqlFunctions
    def sq(x1: Double, y1: Double, x2: Double, y2: Double): String =
      s"POLYGON (($x1 $y1, $x2 $y1, $x2 $y2, $x1 $y2, $x1 $y1))"
    val L = "POLYGON ((-6.55 52.95, -6.15 52.95, -6.15 53.25, " +
      "-6.35 53.25, -6.35 53.55, -6.55 53.55, -6.55 52.95))"
    val cases = Seq(
      // (name, a, b, within, intersects)
      // both points inside the L -> within AND intersects
      ("mp-both-in", "MULTIPOINT ((-6.48 53.02), (-6.42 53.48))", L,
        true, true),
      // one in, one out -> intersects only (forall fails, exists holds)
      ("mp-one-in", "MULTIPOINT ((-6.48 53.02), (-6.02 53.02))", L,
        false, true),
      // both out -> neither
      ("mp-none", "MULTIPOINT ((-6.02 53.02), (-6.08 53.48))", L,
        false, false),
      // unparenthesized MULTIPOINT form
      ("mp-bare", "MULTIPOINT (-6.48 53.02, -6.42 53.48)", L, true, true),
      // multipolygon: one component crosses the L's boundary
      ("mpl-crossing",
        "MULTIPOLYGON (((-6.48 53.52, -6.42 53.52, -6.42 53.58, " +
          "-6.48 53.58, -6.48 53.52)), ((-6.08 53.02, -6.02 53.02, " +
          "-6.02 53.08, -6.08 53.08, -6.08 53.02)))", L, false, true),
      // geometrycollection of a contained point and a disjoint square
      ("gc-mixed", "GEOMETRYCOLLECTION (POINT (-6.48 53.02), " +
        s"${sq(-6.08, 53.02, -6.02, 53.08)})", L, false, true),
      // simple geometry against a MULTIPOLYGON right side
      ("pt-vs-mpl", "POINT (-6.05 53.05)",
        s"MULTIPOLYGON (((-6.08 53.02, -6.02 53.02, -6.02 53.08, " +
          "-6.08 53.08, -6.08 53.02)), ((-6.28 53.22, -6.22 53.22, " +
          "-6.22 53.28, -6.28 53.28, -6.28 53.22)))", true, true))
    val got = cases.map(c => (c._1, c._2, c._3)).toDF("name", "wa", "wb")
      .select(col("name"),
        F.sfWithin(F.strT(col("wa")), F.strT(col("wb")))
          .getField("value").as("w"),
        F.sfIntersects(F.strT(col("wa")), F.strT(col("wb")))
          .getField("value").as("i"),
        F.sfDisjoint(F.strT(col("wa")), F.strT(col("wb")))
          .getField("value").as("d"))
      .collect().map(r => r.getString(0) ->
        (r.getString(1), r.getString(2), r.getString(3))).toMap
    cases.foreach { c =>
      val want = (c._4.toString, c._5.toString, (!c._5).toString)
      assert(got(c._1) == want, s"case ${c._1}: got ${got(c._1)} want $want")
    }
    // sfEquals: same component set listed in a different order is equal;
    // edge-set polygon equality rejects a different polygonization
    val eqGot = Seq(
      ("mp-reorder", "MULTIPOINT ((-6.1 53.1), (-6.2 53.2))",
        "MULTIPOINT ((-6.2 53.2), (-6.1 53.1))", true),
      ("mp-diff", "MULTIPOINT ((-6.1 53.1), (-6.2 53.2))",
        "MULTIPOINT ((-6.2 53.2), (-6.3 53.3))", false),
      // same 4 vertices, different edge sets: square vs "bowtie" ordering
      ("poly-bowtie", sq(-6.4, 53.0, -6.2, 53.2),
        "POLYGON ((-6.4 53.0, -6.2 53.2, -6.4 53.2, -6.2 53.0, -6.4 53.0))",
        false))
    eqGot.foreach { c =>
      val r = Seq((c._2, c._3)).toDF("wa", "wb")
        .select(F.sfEquals(F.strT(col("wa")), F.strT(col("wb")))
          .getField("value")).head().getString(0)
      assert(r == c._4.toString, s"case ${c._1}: got $r want ${c._4}")
    }
    // envelope / boundary accessors
    val acc = Seq(("MULTIPOINT ((-6.4 53.0), (-6.2 53.2))",
      sq(-6.4, 53.0, -6.2, 53.2), "LINESTRING (-6.4 53.0, -6.2 53.0, -6.2 53.2, -6.4 53.2)"))
      .toDF("w", "unused1", "unused2")
      .select(F.geoEnvelope(F.strT(col("w"))).getField("value").as("env"),
        F.geoBoundary(F.strT(lit(sq(-6.4, 53.0, -6.2, 53.2))))
          .getField("value").as("pb"),
        F.geoBoundary(F.strT(lit("LINESTRING (-6.4 53.0, -6.2 53.2)")))
          .getField("value").as("lb"),
        F.geoBoundary(F.strT(lit("POINT (-6.4 53.0)")))
          .getField("value").as("ptb")).head()
    assert(acc.getString(0) == "POLYGON ((-6.4 53.0, -6.2 53.0, " +
      "-6.2 53.2, -6.4 53.2, -6.4 53.0))", s"envelope: ${acc.getString(0)}")
    assert(acc.getString(1) == "LINESTRING (-6.4 53.0, -6.2 53.0, " +
      "-6.2 53.2, -6.4 53.2, -6.4 53.0)", s"poly boundary: ${acc.getString(1)}")
    assert(acc.getString(2) == "MULTIPOINT ((-6.4 53.0), (-6.2 53.2))",
      s"line boundary: ${acc.getString(2)}")
    assert(acc.getString(3) == "GEOMETRYCOLLECTION EMPTY",
      s"point boundary: ${acc.getString(3)}")
    // degenerate envelope (single point) collapses to POINT
    val envPt = Seq("MULTIPOINT ((-6.4 53.0), (-6.4 53.0))").toDF("w")
      .select(F.geoEnvelope(F.strT(col("w"))).getField("value")).head().getString(0)
    assert(envPt == "POINT (-6.4 53.0)", s"degenerate envelope: $envPt")
    // multi-polygon join path: exactly-once id pairs, equal to brute force
    val as = (0 until 10).map { d =>
      val d2 = (d + 3) % 10
      (d.toLong, sq(-6.0 - d * 0.1 - 0.08, 53.02, -6.0 - d * 0.1 - 0.02, 53.08),
        sq(-6.0 - d2 * 0.1 - 0.08, 53.02, -6.0 - d2 * 0.1 - 0.02, 53.08))
    }.toDF("aid", "w1", "w2").select(col("aid"),
      array(F.wktRingText(col("w1")), F.wktRingText(col("w2"))).as("rings"))
    val bs = (0 until 5).map { r =>
      (r.toLong, sq(-6.0 - 2 * r * 0.1 - 0.09, 53.05,
        -6.0 - 2 * r * 0.1 - 0.01, 53.65))
    }.toDF("bid", "w").select(col("bid"),
      array(F.wktRingText(col("w"))).as("rings"))
    val joined = GeoSpatial.multiPolygonIntersectsJoin(as, bs, cellSize = 0.1)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val want = (0 until 10).flatMap { d =>
      val digits = Set(d, (d + 3) % 10)
      (0 until 5).filter(r => digits.contains(2 * r)).map(r => (d.toLong, r.toLong))
    }.toSet
    assert(joined.toSet == want && joined.length == joined.toSet.size,
      s"got ${joined.toSet} want $want")
  }

  test("Egenhofer/RCC8 families, getSRID, CRS-prefixed literals, distance " +
    "units") {
    import spark.implicits._
    val F = graft.functions.SparqlFunctions
    def sq(x1: Double, y1: Double, x2: Double, y2: Double): String =
      s"POLYGON (($x1 $y1, $x2 $y1, $x2 $y2, $x1 $y2, $x1 $y1))"
    val A = sq(0, 0, 10, 10)
    val cases = Seq(
      // (name, a, b, ehContains, ehCovers, ehMeet, ehOverlap, ehEquals,
      //  rcc8tppB_in_A, rcc8ntppB_in_A)
      ("strict-inside", A, sq(2, 2, 8, 8),
        true, false, false, false, false, false, true),
      ("shared-edge-inside", A, sq(0, 0, 5, 10),
        false, true, false, false, false, true, false),
      ("neighbors", A, sq(10, 0, 20, 10),
        false, false, true, false, false, false, false),
      ("overlapping", A, sq(5, 5, 15, 15),
        false, false, false, true, false, false, false),
      ("rotated-equal", A,
        "POLYGON ((10 10, 0 10, 0 0, 10 0, 10 10))",
        false, false, false, false, true, false, false),
      ("disjoint", A, sq(20, 20, 30, 30),
        false, false, false, false, false, false, false))
    val got = cases.map(c => (c._1, c._2, c._3)).toDF("name", "wa", "wb")
      .select(col("name"),
        F.ehContains(F.strT(col("wa")), F.strT(col("wb")))
          .getField("value").as("cont"),
        F.ehCovers(F.strT(col("wa")), F.strT(col("wb")))
          .getField("value").as("cov"),
        F.ehMeet(F.strT(col("wa")), F.strT(col("wb")))
          .getField("value").as("meet"),
        F.ehOverlap(F.strT(col("wa")), F.strT(col("wb")))
          .getField("value").as("ov"),
        F.ehEquals(F.strT(col("wa")), F.strT(col("wb")))
          .getField("value").as("eq"),
        F.rcc8tpp(F.strT(col("wb")), F.strT(col("wa")))
          .getField("value").as("tpp"),
        F.rcc8ntpp(F.strT(col("wb")), F.strT(col("wa")))
          .getField("value").as("ntpp"),
        F.rcc8ntppi(F.strT(col("wa")), F.strT(col("wb")))
          .getField("value").as("ntppi"),
        F.ehInside(F.strT(col("wb")), F.strT(col("wa")))
          .getField("value").as("inside"))
      .collect().map(r => r.getString(0) -> r).toMap
    cases.foreach { c =>
      val r = got(c._1)
      val want = Seq(c._4, c._5, c._6, c._7, c._8, c._9, c._10)
        .map(_.toString)
      val have = Seq(r.getString(1), r.getString(2), r.getString(3),
        r.getString(4), r.getString(5), r.getString(6), r.getString(7))
      assert(have == want, s"case ${c._1}: got $have want $want")
      // converse laws: ntppi(a,b) == ntpp(b,a); inside(b,a) == contains(a,b)
      assert(r.getString(8) == r.getString(7), s"ntppi mismatch ${c._1}")
      assert(r.getString(9) == r.getString(1), s"inside mismatch ${c._1}")
    }
    // getSRID: default CRS84 for bare WKT, embedded IRI wins; CRS-prefixed
    // literals parse identically to bare ones in the predicates
    val srid = Seq(
      ("POINT (1 2)",
        "<http://www.opengis.net/def/crs/EPSG/0/4326> POINT (3 3)", A))
      .toDF("bare", "prefixed", "poly")
      .select(F.getSRID(F.strT(col("bare"))).getField("value").as("s1"),
        F.getSRID(F.strT(col("prefixed"))).getField("value").as("s2"),
        F.sfWithin(F.strT(col("prefixed")), F.strT(col("poly")))
          .getField("value").as("w"))
      .collect().head
    assert(srid.getString(0) == "http://www.opengis.net/def/crs/OGC/1.3/CRS84")
    assert(srid.getString(1) == "http://www.opengis.net/def/crs/EPSG/0/4326")
    assert(srid.getString(2) == "true")
    // distance units: km = m/1000, mile = m/1609.344; unknown unit -> error
    val uom = "http://www.opengis.net/def/uom/OGC/1.0/"
    val d = Seq(("POINT (-6.26 53.35)", "POINT (-6.25 53.34)"))
      .toDF("a", "b")
      .select(
        F.geoDistance(F.strT(col("a")), F.strT(col("b")))
          .getField("num").as("m"),
        F.geoDistanceUom(F.strT(col("a")), F.strT(col("b")),
          F.iriT(lit(uom + "kilometre"))).getField("num").as("km"),
        F.geoDistanceUom(F.strT(col("a")), F.strT(col("b")),
          F.iriT(lit(uom + "mile"))).getField("num").as("mi"),
        F.geoDistanceUom(F.strT(col("a")), F.strT(col("b")),
          F.iriT(lit(uom + "furlong"))).as("bad"))
      .collect().head
    assert(math.abs(d.getDouble(1) - d.getDouble(0) / 1000.0) < 1e-9)
    assert(math.abs(d.getDouble(2) - d.getDouble(0) / 1609.344) < 1e-9)
    assert(d.isNullAt(3) || d.getStruct(3).isNullAt(1))
  }

  test("geometry constructors: convexHull (polygon/collinear/point), " +
    "point buffer 32-gon, convex clip, disjoint union") {
    import spark.implicits._
    val F = graft.functions.SparqlFunctions
    val row = Seq((
      "MULTIPOINT ((0.0 0.0), (4.0 0.0), (4.0 4.0), (0.0 4.0), (2.0 2.0))",
      "LINESTRING (0.0 0.0, 1.0 1.0, 3.0 3.0)",
      "POINT (7.0 8.0)",
      "POLYGON ((0.0 0.0, 4.0 0.0, 4.0 4.0, 0.0 4.0, 0.0 0.0))",
      "POLYGON ((2.0 -1.0, 6.0 -1.0, 6.0 5.0, 2.0 5.0, 2.0 -1.0))",
      "POLYGON ((9.0 9.0, 10.0 9.0, 10.0 10.0, 9.0 10.0, 9.0 9.0))"))
      .toDF("mp", "ln", "pt", "sq", "clip", "far")
    val got = row.select(
      F.geoConvexHull(F.strT(col("mp"))).getField("value").as("hull"),
      F.geoConvexHull(F.strT(col("ln"))).getField("value").as("lin"),
      F.geoConvexHull(F.strT(col("pt"))).getField("value").as("pnt"),
      F.geoIntersection(F.strT(col("sq")), F.strT(col("clip")))
        .getField("value").as("clipres"),
      F.geoIntersection(F.strT(col("sq")), F.strT(col("far")))
        .getField("value").as("clipempty"),
      F.geoUnion(F.strT(col("sq")), F.strT(col("far")))
        .getField("value").as("un"),
      F.geoUnion(F.strT(col("sq")), F.strT(col("clip"))).as("unbad"),
      F.geoBuffer(F.strT(col("pt")), F.numT(lit(1.0)),
        F.iriT(lit("http://www.opengis.net/def/uom/OGC/1.0/degree")))
        .getField("value").as("buf")).collect().head
    // interior point dropped, CCW ring from leftmost-lowest
    assert(got.getString(0) ==
      "POLYGON ((0.0 0.0, 4.0 0.0, 4.0 4.0, 0.0 4.0, 0.0 0.0))")
    // collinear collapses to the extreme segment; single point stays POINT
    assert(got.getString(1) == "LINESTRING (0.0 0.0, 3.0 3.0)")
    assert(got.getString(2) == "POINT (7.0 8.0)")
    // convex clip: overlap rectangle [2,4]x[0,4]
    assert(got.getString(3) ==
      "POLYGON ((2.0 0.0, 4.0 0.0, 4.0 4.0, 2.0 4.0, 2.0 0.0))")
    assert(got.getString(4) == "POLYGON EMPTY")
    // disjoint union wraps; overlapping union DISSOLVES through the
    // Greiner–Hormann overlay (r11 — previously an error)
    assert(got.getString(5).startsWith("MULTIPOLYGON (("))
    assert(got.getStruct(6).getString(1) == "POLYGON ((0.0 0.0, 2.0 0.0, " +
      "2.0 -1.0, 6.0 -1.0, 6.0 5.0, 2.0 5.0, 2.0 4.0, 0.0 4.0, 0.0 0.0))")
    // buffer: 32-gon, closed (33 vertices), east-most vertex at x+r
    val buf = got.getString(7)
    assert(buf.startsWith("POLYGON ((8.0 8.0, "))
    assert(buf.split(",").length == 33)
  }

  test("r10 ADVICE fixes: plain-decimal WKT output, CRS-prefixed multi " +
    "dispatch, zero-arg CONCAT, dupClusters id contract") {
    import spark.implicits._
    val F = graft.functions.SparqlFunctions
    // Buffer vertices near the origin land below 1e-3; the serializer must
    // emit plain decimals (no scientific notation) or downstream coordinate
    // regexes truncate them.
    val buf = Seq(Tuple1("POINT (0.0 0.0)")).toDF("pt")
      .select(F.geoBuffer(F.strT(col("pt")), F.numT(lit(0.001)),
        F.iriT(lit("http://www.opengis.net/def/uom/OGC/1.0/degree")))
        .getField("value").as("buf"))
      .collect().head.getString(0)
    assert(!buf.contains("E") && !buf.contains("e"),
      s"scientific notation leaked into WKT: $buf")
    // CRS-prefixed MULTIPOINT must take the component-wise path: the point
    // (3 3) is inside the triangle's ENVELOPE but outside the ring, so the
    // single-geometry envelope fallback would wrongly say within.
    val tri = "POLYGON ((0.0 0.0, 4.0 0.0, 0.0 4.0, 0.0 0.0))"
    val crs = "<http://www.opengis.net/def/crs/OGC/1.3/CRS84> " +
      "MULTIPOINT ((3.0 3.0))"
    val w = Seq((crs, "MULTIPOINT ((3.0 3.0))", tri)).toDF("pre", "bare", "tri")
      .select(
        F.sfWithin(F.strT(col("pre")), F.strT(col("tri")))
          .getField("value").as("pw"),
        F.sfWithin(F.strT(col("bare")), F.strT(col("tri")))
          .getField("value").as("bw"))
      .collect().head
    assert(w.getString(0) == "false" && w.getString(1) == "false")
    // CONCAT() with zero args is the empty simple literal, not an error.
    val c = Seq(Tuple1(1)).toDF("x")
      .select(F.concatF(Seq.empty).getField("value").as("c")).collect().head
    assert(c.getString(0) == "")
    // Non-numeric doc ids must fail fast with the contract message, not NPE.
    val sdocs = Seq(
      ("a", "the quick brown fox jumps over the lazy dog again and again"),
      ("b", "the quick brown fox jumps over the lazy dog again and again"))
      .toDF("doc_id", "text")
    val e = intercept[Exception] {
      Dedup.dupClusters(sdocs, "doc_id", "text").collect()
    }
    def msgs(t: Throwable): List[String] =
      if (t == null) Nil else Option(t.getMessage).toList ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("numeric")), msgs(e).mkString(" | "))
  }

  test("multi-geometry sfWithin: union-coverage straddle is within " +
    "(r10 VERDICT wrong-answer edge)") {
    import spark.implicits._
    val F = graft.functions.SparqlFunctions
    // two edge-adjacent squares forming the union rectangle [0,4]x[0,2]
    val mp = "MULTIPOLYGON (((0.0 0.0, 2.0 0.0, 2.0 2.0, 0.0 2.0, 0.0 0.0))," +
      " ((2.0 0.0, 4.0 0.0, 4.0 2.0, 2.0 2.0, 2.0 0.0)))"
    val cases = Seq(
      // straddles both components, inside the union -> NOW true
      ("POLYGON ((1.0 0.5, 3.0 0.5, 3.0 1.5, 1.0 1.5, 1.0 0.5))", "true"),
      // pokes out past x=4 -> false
      ("POLYGON ((3.0 0.5, 5.0 0.5, 5.0 1.5, 3.0 1.5, 3.0 0.5))", "false"),
      // line straddling the shared boundary, inside the union -> true
      ("LINESTRING (0.5 1.0, 3.5 1.0)", "true"),
      // line exiting below -> false
      ("LINESTRING (0.5 1.0, 3.5 -1.0)", "false"),
      // single component containment still works through the old path
      ("POLYGON ((0.5 0.5, 1.5 0.5, 1.5 1.5, 0.5 1.5, 0.5 0.5))", "true"),
      // point in each half + point on the shared boundary
      ("MULTIPOINT ((1.0 1.0), (3.0 1.0), (2.0 1.0))", "true"))
    val got = cases.toDF("wa", "want")
      .select(col("want"),
        F.sfWithin(F.strT(col("wa")), F.strT(lit(mp)))
          .getField("value").as("got"))
      .collect()
    got.foreach(r => assert(r.getString(1) == r.getString(0),
      s"want ${r.getString(0)} got ${r.getString(1)}"))
  }

  test("polygon with interior rings (r12 cont.): POINT membership is " +
    "even-odd parity over all rings; exact ring kernels REFUSE holes; " +
    "holedPolygonJoin drops in-hole points") {
    import spark.implicits._
    val F = graft.functions.SparqlFunctions
    // unit square with a centered half-size hole
    val holed = "POLYGON ((0.0 0.0, 4.0 0.0, 4.0 4.0, 0.0 4.0, 0.0 0.0)," +
      " (1.0 1.0, 3.0 1.0, 3.0 3.0, 1.0 3.0, 1.0 1.0))"
    val cases = Seq(
      ("POINT (0.5 0.5)", "true"),   // between exterior and hole
      ("POINT (2.0 2.0)", "false"),  // inside the hole -> OUT
      ("POINT (5.0 2.0)", "false"),  // outside the exterior
      ("POINT (1.0 2.0)", "true"))   // on the hole boundary -> boundary-in
    val got = cases.toDF("wa", "want")
      .select(col("want"),
        F.sfWithin(F.strT(col("wa")), F.strT(lit(holed)))
          .getField("value").as("got"),
        F.sfIntersects(F.strT(col("wa")), F.strT(lit(holed)))
          .getField("value").as("goti"))
      .collect()
    got.foreach { r =>
      assert(r.getString(1) == r.getString(0),
        s"within: want ${r.getString(0)} got ${r.getString(1)}")
      assert(r.getString(2) == r.getString(0),
        s"intersects: want ${r.getString(0)} got ${r.getString(2)}")
    }
    // the exact polygon×polygon kernel refuses a holed operand loudly
    // (never a silent exterior-only answer)
    val sq = "POLYGON ((0.2 0.2, 0.8 0.2, 0.8 0.8, 0.2 0.8, 0.2 0.2))"
    val e = intercept[Exception] {
      Seq((sq, holed)).toDF("a", "b")
        .select(F.sfWithin(F.strT(col("a")), F.strT(col("b"))))
        .collect()
    }
    assert(e.getMessage.contains("holes") ||
      Option(e.getCause).exists(_.getMessage.contains("holes")))
    // multi-geometry dispatch (review fix): the union fallback carries
    // ALL rings, so a MULTIPOINT component inside the hole is NOT within
    val mv = Seq(
      ("MULTIPOINT ((0.5 0.5), (3.5 3.5))", "true"),  // both in the band
      ("MULTIPOINT ((0.5 0.5), (2.0 2.0))", "false")) // second in the hole
      .toDF("wa", "want")
      .select(col("want"), F.sfWithin(F.strT(col("wa")), F.strT(lit(holed)))
        .getField("value").as("got")).collect()
    mv.foreach(r => assert(r.getString(1) == r.getString(0),
      s"multi-union: want ${r.getString(0)} got ${r.getString(1)}"))
    // a holed component INSIDE a MULTIPOLYGON refuses loudly (the depth-1
    // decomposition would silently mangle it)
    val holedMulti = "MULTIPOLYGON (((0.0 0.0, 4.0 0.0, 4.0 4.0, 0.0 4.0, 0.0 0.0)," +
      " (1.0 1.0, 3.0 1.0, 3.0 3.0, 1.0 3.0, 1.0 1.0)))"
    val em = intercept[Exception] {
      Seq(Tuple1("POINT (2.0 2.0)")).toDF("wa")
        .select(F.sfWithin(F.strT(col("wa")), F.strT(lit(holedMulti))))
        .collect()
    }
    assert(em.getMessage.contains("holes") ||
      Option(em.getCause).exists(_.getMessage.contains("holes")))
    // the spatial join: grid join on the exterior envelope, parity verify
    val pts = Seq((1L, 0.5, 0.5), (2L, 2.0, 2.0), (3L, 5.0, 2.0))
      .toDF("pid", "lon", "lat")
    val polys = Seq(Tuple1(7L)).toDF("aid")
      .select(col("aid"), F.wktRingsText(lit(holed)).as("rings"))
    val joined = graft.pipeline.GeoSpatial
      .holedPolygonJoin(pts, polys, cellSize = 1.0)
      .select("pid").collect().map(_.getLong(0)).toSet
    assert(joined == Set(1L))
  }

  test("geof:relate matches the canonical DE-9IM patterns: equals, " +
    "within, overlaps, touches, disjoint (polygon family)") {
    import spark.implicits._
    val F = graft.functions.SparqlFunctions
    val A = "POLYGON ((0.0 0.0, 4.0 0.0, 4.0 4.0, 0.0 4.0, 0.0 0.0))"
    val inner = "POLYGON ((1.0 1.0, 2.0 1.0, 2.0 2.0, 1.0 2.0, 1.0 1.0))"
    val over = "POLYGON ((2.0 1.0, 6.0 1.0, 6.0 3.0, 2.0 3.0, 2.0 1.0))"
    val touch = "POLYGON ((4.0 0.0, 8.0 0.0, 8.0 4.0, 4.0 4.0, 4.0 0.0))"
    val far = "POLYGON ((9.0 9.0, 10.0 9.0, 10.0 10.0, 9.0 10.0, 9.0 9.0))"
    val equalsP = "TFFFTFFFT"
    val withinP = "T*F**F***"
    val overlapsP = "T*T***T**"
    val touchesP = "F***T****"
    val disjointP = "FF*FF****"
    val cases = Seq(
      (A, A, equalsP, "true"), (A, over, equalsP, "false"),
      (inner, A, withinP, "true"), (A, inner, withinP, "false"),
      (A, over, overlapsP, "true"), (inner, A, overlapsP, "false"),
      (A, touch, touchesP, "true"), (A, over, touchesP, "false"),
      (A, far, disjointP, "true"), (A, touch, disjointP, "false"))
    val got = cases.toDF("wa", "wb", "pat", "want")
      .select(col("want"), col("pat"),
        F.geoRelate(F.strT(col("wa")), F.strT(col("wb")),
          F.strT(col("pat"))).getField("value").as("got"))
      .collect()
    got.foreach(r => assert(r.getString(2) == r.getString(0),
      s"pattern ${r.getString(1)}: got ${r.getString(2)}"))
    // malformed pattern or non-polygon input is an error (null value)
    val bad = Seq((A, "POINT (1.0 1.0)")).toDF("wa", "pt").select(
      F.geoRelate(F.strT(col("wa")), F.strT(col("wa")),
        F.strT(lit("TTT"))).as("shortPat"),
      F.geoRelate(F.strT(col("wa")), F.strT(col("pt")),
        F.strT(lit("T*F**FFF*"))).as("nonPoly")).collect().head
    assert(bad.isNullAt(0) || bad.getStruct(0).isNullAt(1))
    assert(bad.isNullAt(1) || bad.getStruct(1).isNullAt(1))
  }

  test("geof:transform (r15): CRS84 <-> EPSG:4326 swaps axis order both " +
    "ways; identity normalizes; unknown CRS pairs error") {
    import spark.implicits._
    val F = graft.functions.SparqlFunctions
    val Epsg = "http://www.opengis.net/def/crs/EPSG/0/4326"
    val Crs84 = "http://www.opengis.net/def/crs/OGC/1.3/CRS84"
    val pt = "POINT (-6.26 53.34)"
    val line = s"<$Epsg> LINESTRING (53.34 -6.26, 53.35 -6.25)"
    val r = Seq(1).toDF("k").select(
      F.geoTransform(F.strT(lit(pt)), F.iriT(lit(Epsg)))
        .getField("value").as("to4326"),
      F.geoTransform(F.strT(lit(line)), F.iriT(lit(Crs84)))
        .getField("value").as("toCrs84"),
      F.geoTransform(F.strT(lit(pt)), F.iriT(lit(Crs84)))
        .getField("value").as("ident"),
      F.geoTransform(F.strT(lit(pt)),
        F.iriT(lit("http://www.opengis.net/def/crs/EPSG/0/2157")))
        .getField("value").as("itm"),
      F.geoTransform(F.strT(lit(pt)),
        F.iriT(lit("http://www.opengis.net/def/crs/EPSG/0/27700")))
        .getField("value").as("unknown")
    ).collect().head
    assert(r.getString(0) == s"<$Epsg> POINT (53.34 -6.26)", r.getString(0))
    assert(r.getString(1) == "LINESTRING (-6.26 53.34, -6.25 53.35)",
      r.getString(1))
    assert(r.getString(2) == pt)
    // r16: ITM is now ANSWERED via the Krüger kernel...
    assert(r.getString(3).startsWith(
      "<http://www.opengis.net/def/crs/EPSG/0/2157> POINT ("), r.getString(3))
    // ...and r17 answers 29902 too (Tm65Datum); OSGB still refuses
    // (needs the OSTN15 grid files)
    assert(r.isNullAt(4))
  }

  test("geodesic measures (r15): a Dublin-scale 0.01-degree square has " +
    "metre-true area/perimeter; a 2-point line equals geof:distance " +
    "exactly; holes subtract; uom divides") {
    import spark.implicits._
    val F = graft.functions.SparqlFunctions
    val sq = "POLYGON ((-6.26 53.34, -6.25 53.34, -6.25 53.35, -6.26 53.35, -6.26 53.34))"
    val holed = "POLYGON ((-6.26 53.34, -6.25 53.34, -6.25 53.35, -6.26 53.35, -6.26 53.34), " +
      "(-6.258 53.342, -6.252 53.342, -6.252 53.348, -6.258 53.348, -6.258 53.342))"
    val line = "LINESTRING (-6.26 53.34, -6.25 53.35)"
    val a = "POINT (-6.26 53.34)"
    val b = "POINT (-6.25 53.35)"
    val km = "http://www.opengis.net/def/uom/OGC/1.0/kilometre"
    val r = Seq(1).toDF("k").select(
      F.geoMetricArea(F.strT(lit(sq))).getField("num").as("area"),
      F.geoMetricPerimeter(F.strT(lit(sq))).getField("num").as("perim"),
      F.geoMetricArea(F.strT(lit(holed))).getField("num").as("holedArea"),
      F.geoMetricLength(F.strT(lit(line))).getField("num").as("lineLen"),
      F.geoDistance(F.strT(lit(a)), F.strT(lit(b))).getField("num").as("dist"),
      F.geoAreaUom(F.strT(lit(sq)), F.iriT(lit(km))).getField("num").as("areaKm2"),
      F.geoMetricArea(F.strT(lit(a))).getField("num").as("ptArea")
    ).collect().head
    // closed-form check: height = R*dPhi, width = R*cos(midLat)*dLam,
    // spherical-excess area matches the product within (0.01 deg)^2 terms
    val R = 6371008.8
    val rad = math.Pi / 180.0
    val height = R * (0.01 * rad)
    val width = R * math.cos(53.345 * rad) * (0.01 * rad)
    assert(math.abs(r.getDouble(0) / (width * height) - 1.0) < 1e-3,
      s"area ${r.getDouble(0)} vs ${width * height}")
    assert(math.abs(r.getDouble(1) / (2.0 * (width + height)) - 1.0) < 1e-3)
    // hole (0.006 x 0.006 deg) subtracts ~36% of the square
    assert(r.getDouble(2) < r.getDouble(0) * 0.70 &&
      r.getDouble(2) > r.getDouble(0) * 0.58)
    // a 2-point LINESTRING is EXACTLY geof:distance (same kernel formula)
    assert(r.getDouble(3) == r.getDouble(4))
    // uom kilometre divides area by 1000^2 exactly
    assert(r.getDouble(5) == r.getDouble(0) / (1000.0 * 1000.0))
    // non-areal geometry: area 0 (JTS convention, like the planar form)
    assert(r.getDouble(6) == 0.0)
  }

  test("geof:distance between non-point geometries (r15): containment " +
    "and crossings are 0; disjoint pairs take the min haversine over " +
    "vertex/segment candidates; vertex-vertex equals the point kernel " +
    "exactly") {
    import spark.implicits._
    val F = graft.functions.SparqlFunctions
    val sq = "POLYGON ((-6.30 53.30, -6.25 53.30, -6.25 53.40, -6.30 53.40, -6.30 53.30))"
    val inP = "POINT (-6.27 53.35)"
    val eastP = "POINT (-6.10 53.35)" // due east: nearest is the edge foot
    val neP = "POINT (-6.20 53.45)"   // north-east: nearest is corner (-6.25 53.40)
    val corner = "POINT (-6.25 53.40)"
    val overlap = "POLYGON ((-6.27 53.35, -6.20 53.35, -6.20 53.45, -6.27 53.45, -6.27 53.35))"
    val line = "LINESTRING (-6.40 53.30, -6.40 53.40)" // west, parallel edge
    val r = Seq(1).toDF("k").select(
      F.geoDistance(F.strT(lit(sq)), F.strT(lit(inP))).getField("num").as("zin"),
      F.geoDistance(F.strT(lit(sq)), F.strT(lit(overlap))).getField("num").as("zov"),
      F.geoDistance(F.strT(lit(sq)), F.strT(lit(eastP))).getField("num").as("dfoot"),
      F.geoDistance(F.strT(lit("POINT (-6.25 53.35)")), F.strT(lit(eastP)))
        .getField("num").as("dref"),
      F.geoDistance(F.strT(lit(sq)), F.strT(lit(neP))).getField("num").as("dcorner"),
      F.geoDistance(F.strT(lit(corner)), F.strT(lit(neP))).getField("num").as("dcref"),
      F.geoDistance(F.strT(lit(sq)), F.strT(lit(line))).getField("num").as("dline"),
      F.geoDistance(F.strT(lit("POINT (-6.30 53.40)")),
        F.strT(lit("POINT (-6.40 53.40)"))).getField("num").as("dlref")
    ).collect().head
    assert(r.getDouble(0) == 0.0 && r.getDouble(1) == 0.0)
    // east point: perpendicular foot on the right edge at the same
    // latitude — agrees with the point kernel to sub-mm (planar foot)
    assert(math.abs(r.getDouble(2) - r.getDouble(3)) < 1e-3,
      s"${r.getDouble(2)} vs ${r.getDouble(3)}")
    // north-east point: nearest is the corner VERTEX — exactly the
    // point-kernel distance (same haversine, same doubles)
    assert(r.getDouble(4) == r.getDouble(5))
    // parallel line west: on the SPHERE the nearest approach between two
    // meridian-parallel segments is at their HIGHEST latitude (smaller
    // cos), i.e. the top corners — not the midpoint
    assert(math.abs(r.getDouble(6) - r.getDouble(7)) < 1e-3,
      s"${r.getDouble(6)} vs ${r.getDouble(7)}")
    // MULTI/holed inputs refuse (null num -> null term)
    val bad = Seq(1).toDF("k").select(
      F.geoDistance(F.strT(lit(sq)), F.strT(lit(
        "MULTIPOINT ((-6.1 53.3), (-6.2 53.4))"))).as("m")).collect().head
    assert(bad.isNullAt(0) || bad.getStruct(0).isNullAt(1))
  }

  test("convex polygon buffer: Minkowski-sum envelope, arc vertex count, " +
    "non-convex error; every input vertex at distance r from the hull") {
    import spark.implicits._
    val F = graft.functions.SparqlFunctions
    val deg = "http://www.opengis.net/def/uom/OGC/1.0/degree"
    val sq = "POLYGON ((0.0 0.0, 4.0 0.0, 4.0 4.0, 0.0 4.0, 0.0 0.0))"
    val ell = "POLYGON ((0.0 0.0, 4.0 0.0, 4.0 1.0, 1.0 1.0, 1.0 4.0, 0.0 4.0, 0.0 0.0))"
    val got = Seq((sq, ell)).toDF("sq", "ell").select(
      F.geoBuffer(F.strT(col("sq")), F.numT(lit(1.0)), F.iriT(lit(deg)))
        .getField("value").as("buf"),
      F.geoBuffer(F.strT(col("ell")), F.numT(lit(1.0)), F.iriT(lit(deg)))
        .as("bad")).collect().head
    val buf = got.getString(0)
    assert(buf.startsWith("POLYGON (("))
    val pts = "(-?[0-9.]+) (-?[0-9.]+)".r.findAllMatchIn(buf)
      .map(m => (m.group(1).toDouble, m.group(2).toDouble)).toSeq.dropRight(1)
    // envelope = input envelope expanded by exactly r on every side
    assert(math.abs(pts.map(_._1).min - -1.0) < 1e-9)
    assert(math.abs(pts.map(_._2).min - -1.0) < 1e-9)
    assert(math.abs(pts.map(_._1).max - 5.0) < 1e-9)
    assert(math.abs(pts.map(_._2).max - 5.0) < 1e-9)
    // 4 edges x 2 offset endpoints, each corner arc = 90deg at 2pi/32
    // granularity = 8 sub-arcs -> 9 points incl. both endpoints, shared
    // endpoints dedup: 4 * (9) = 36 distinct vertices
    assert(pts.length == 36, s"${pts.length}")
    // every buffer vertex is at distance r from SOME input vertex or edge
    val ring = Seq((0.0, 0.0), (4.0, 0.0), (4.0, 4.0), (0.0, 4.0))
    def distToRing(p: (Double, Double)): Double =
      (0 until 4).map { i =>
        val a = ring(i); val b = ring((i + 1) % 4)
        val (dx, dy) = (b._1 - a._1, b._2 - a._2)
        val t = math.max(0.0, math.min(1.0,
          ((p._1 - a._1) * dx + (p._2 - a._2) * dy) / (dx * dx + dy * dy)))
        math.hypot(p._1 - (a._1 + t * dx), p._2 - (a._2 + t * dy))
      }.min
    pts.foreach(p => assert(math.abs(distToRing(p) - 1.0) < 1e-9, s"$p"))
    // non-convex polygon buffer ANSWERS since r14 (mitred reflex trims —
    // GeoOverlayEdgeSpec pins the L-shape area analytically); here just
    // pin that it answers with a polygon instead of refusing
    assert(!got.isNullAt(1) && !got.getStruct(1).isNullAt(1))
    assert(got.getStruct(1).getString(1).startsWith("POLYGON (("))
  }

  test("incremental bloom dedup equals the plain anti-join (exact after " +
    "verify) and keeps every genuinely-new doc") {
    import org.apache.spark.sql.functions.{md5, trim => trimF}
    val seen = docs.filter(col("doc_id") % 3 === 0)
    val got = Dedup.incrementalNew(docs, seen, "doc_id", "text")
      .collect().map(_.getLong(0)).toSet
    val want = docs.select(col("doc_id"), md5(trimF(col("text"))).as("fp"))
      .join(seen.select(md5(trimF(col("text"))).as("fp")).distinct(),
        Seq("fp"), "left_anti")
      .select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(got == want && got.nonEmpty && got.size < docs.count())
  }

  test("multi-geometry touches/overlaps/crosses dispatch component-wise " +
    "with union-aware interiors (r11)") {
    import spark.implicits._
    val F = graft.functions.SparqlFunctions
    // edge-adjacent two-square multi covering [0,4]x[0,2]
    val mp = "MULTIPOLYGON (((0.0 0.0, 2.0 0.0, 2.0 2.0, 0.0 2.0, 0.0 0.0))," +
      " ((2.0 0.0, 4.0 0.0, 4.0 2.0, 2.0 2.0, 2.0 0.0)))"
    val cases = Seq(
      // shares only the x=4 edge with comp2 -> touches, not overlaps
      ("POLYGON ((4.0 0.0, 6.0 0.0, 6.0 2.0, 4.0 2.0, 4.0 0.0))",
        "true", "false", "false"),
      // crosses comp2's right edge -> overlaps, not touches
      ("POLYGON ((3.0 0.5, 5.0 0.5, 5.0 1.5, 3.0 1.5, 3.0 0.5))",
        "false", "true", "false"),
      // fully inside the union straddling both comps -> within: neither
      // touches nor overlaps (contained, not partially overlapping)
      ("POLYGON ((1.0 0.5, 3.0 0.5, 3.0 1.5, 1.0 1.5, 1.0 0.5))",
        "false", "false", "false"),
      // line exiting the union -> crosses
      ("LINESTRING (3.0 1.0, 5.0 1.0)", "false", "false", "true"),
      // line entirely inside the union (straddles the shared boundary):
      // within, NOT crosses
      ("LINESTRING (0.5 1.0, 3.5 1.0)", "false", "false", "false"),
      // disjoint -> none
      ("POLYGON ((9.0 9.0, 10.0 9.0, 10.0 10.0, 9.0 10.0, 9.0 9.0))",
        "false", "false", "false"))
    val got = cases.map(c => (c._1, c._2, c._3, c._4))
      .toDF("wa", "wt", "wo", "wc")
      .select(col("wt"), col("wo"), col("wc"),
        F.sfTouches(F.strT(col("wa")), F.strT(lit(mp)))
          .getField("value").as("t"),
        F.sfOverlaps(F.strT(col("wa")), F.strT(lit(mp)))
          .getField("value").as("o"),
        F.sfCrosses(F.strT(col("wa")), F.strT(lit(mp)))
          .getField("value").as("c"),
        col("wa"))
      .collect()
    got.foreach { r =>
      assert(r.getString(3) == r.getString(0),
        s"touches ${r.getString(6)}: got ${r.getString(3)}")
      assert(r.getString(4) == r.getString(1),
        s"overlaps ${r.getString(6)}: got ${r.getString(4)}")
      assert(r.getString(5) == r.getString(2),
        s"crosses ${r.getString(6)}: got ${r.getString(5)}")
    }
  }

  test("Greiner–Hormann overlay: non-convex clip, crossing union, " +
    "difference, symDifference, containment/degenerate posture") {
    import spark.implicits._
    val F = graft.functions.SparqlFunctions
    val sq = "POLYGON ((0.0 0.0, 4.0 0.0, 4.0 4.0, 0.0 4.0, 0.0 0.0))"
    val bx = "POLYGON ((2.0 1.0, 6.0 1.0, 6.0 3.0, 2.0 3.0, 2.0 1.0))"
    val ell = "POLYGON ((0.0 0.0, 4.0 0.0, 4.0 1.0, 1.0 1.0, 1.0 4.0, 0.0 4.0, 0.0 0.0))"
    val probe = "POLYGON ((0.5 0.5, 2.0 0.5, 2.0 3.0, 0.5 3.0, 0.5 0.5))"
    val inner = "POLYGON ((1.0 1.0, 2.0 1.0, 2.0 2.0, 1.0 2.0, 1.0 1.0))"
    val far = "POLYGON ((9.0 9.0, 10.0 9.0, 10.0 10.0, 9.0 10.0, 9.0 9.0))"
    val sharedEdge = "POLYGON ((4.0 0.0, 8.0 0.0, 8.0 4.0, 4.0 4.0, 4.0 0.0))"
    def g(c: String) = F.strT(col(c))
    val row = Seq((sq, bx, ell, probe, inner, far, sharedEdge))
      .toDF("sq", "bx", "ell", "probe", "inner", "far", "shared")
    val got = row.select(
      F.geoIntersection(g("ell"), g("probe")).getField("value").as("clip"),
      F.geoUnion(g("sq"), g("bx")).getField("value").as("un"),
      F.geoDifference(g("sq"), g("bx")).getField("value").as("diff"),
      F.geoSymDifference(g("sq"), g("bx")).getField("value").as("sym"),
      F.geoDifference(g("sq"), g("inner")).as("hole"),
      F.geoDifference(g("sq"), g("far")).getField("value").as("djdiff"),
      F.geoDifference(g("inner"), g("sq")).getField("value").as("swallowed"),
      F.geoDifference(g("sq"), g("shared")).as("degen"),
      F.geoSymDifference(g("sq"), g("far")).getField("value").as("djsym"))
      .collect().head
    // non-convex L clipped by a rectangle across its notch -> smaller L
    assert(got.getString(0) == "POLYGON ((0.5 0.5, 2.0 0.5, 2.0 1.0, " +
      "1.0 1.0, 1.0 3.0, 0.5 3.0, 0.5 0.5))")
    // crossing squares dissolve into one ring
    assert(got.getString(1) == "POLYGON ((0.0 0.0, 4.0 0.0, 4.0 1.0, " +
      "6.0 1.0, 6.0 3.0, 4.0 3.0, 4.0 4.0, 0.0 4.0, 0.0 0.0))")
    // A minus the crossing box is the L remainder
    assert(got.getString(2) == "POLYGON ((0.0 0.0, 4.0 0.0, 4.0 1.0, " +
      "2.0 1.0, 2.0 3.0, 4.0 3.0, 4.0 4.0, 0.0 4.0, 0.0 0.0))")
    // symDifference = both one-sided remainders as a MULTIPOLYGON
    assert(got.getString(3) == "MULTIPOLYGON (((0.0 0.0, 4.0 0.0, " +
      "4.0 1.0, 2.0 1.0, 2.0 3.0, 4.0 3.0, 4.0 4.0, 0.0 4.0, 0.0 0.0)), " +
      "((4.0 1.0, 6.0 1.0, 6.0 3.0, 4.0 3.0, 4.0 1.0)))")
    // B strictly inside A: A keeps its exterior, B becomes an interior
    // ring (r12 cont. — answered, no longer refused)
    assert(got.getStruct(4).getString(1) == "POLYGON ((0.0 0.0, 4.0 0.0, " +
      "4.0 4.0, 0.0 4.0, 0.0 0.0), (1.0 1.0, 2.0 1.0, 2.0 2.0, 1.0 2.0, " +
      "1.0 1.0))")
    // disjoint difference -> A verbatim (canonicalized)
    assert(got.getString(5) == sq)
    // A inside B -> fully clipped away
    assert(got.getString(6) == "POLYGON EMPTY")
    // shared-edge contact (r12): interiors disjoint -> A unchanged
    assert(got.getStruct(7).getString(1) == sq)
    // disjoint symDifference -> exact MULTIPOLYGON of both
    assert(got.getString(8) == "MULTIPOLYGON (((0.0 0.0, 4.0 0.0, " +
      "4.0 4.0, 0.0 4.0, 0.0 0.0)), ((9.0 9.0, 10.0 9.0, 10.0 10.0, " +
      "9.0 10.0, 9.0 9.0)))")
  }

  test("overlay degenerate contact (r12): shared edges dissolve in union, " +
      "T-touch stitches, vertex-touch stays two components, " +
      "touching-inscribed difference pinches out, equality collapses") {
    import spark.implicits._
    val F = graft.functions.SparqlFunctions
    val sq = "POLYGON ((0.0 0.0, 4.0 0.0, 4.0 4.0, 0.0 4.0, 0.0 0.0))"
    val adj = "POLYGON ((4.0 0.0, 8.0 0.0, 8.0 4.0, 4.0 4.0, 4.0 0.0))"
    val tb = "POLYGON ((4.0 1.0, 6.0 1.0, 6.0 3.0, 4.0 3.0, 4.0 1.0))"
    val vt = "POLYGON ((4.0 4.0, 5.0 4.0, 5.0 5.0, 4.0 5.0, 4.0 4.0))"
    val ct = "POLYGON ((0.0 0.0, 2.0 0.0, 2.0 2.0, 0.0 2.0, 0.0 0.0))"
    def g(c: String) = F.strT(col(c))
    val row = Seq((sq, adj, tb, vt, ct))
      .toDF("sq", "adj", "tb", "vt", "ct")
    val got = row.select(
      F.geoUnion(g("sq"), g("adj")).getField("value").as("unAdj"),
      F.geoIntersection(g("sq"), g("adj")).getField("value").as("inAdj"),
      F.geoUnion(g("sq"), g("tb")).getField("value").as("unT"),
      F.geoSymDifference(g("sq"), g("vt")).getField("value").as("symV"),
      F.geoDifference(g("sq"), g("vt")).getField("value").as("diffV"),
      F.geoDifference(g("sq"), g("ct")).getField("value").as("diffC"),
      F.geoUnion(g("sq"), g("ct")).getField("value").as("unC"),
      F.geoIntersection(g("sq"), g("ct")).getField("value").as("inC"),
      F.geoDifference(g("sq"), g("sq")).getField("value").as("diffEq"),
      F.geoUnion(g("sq"), g("sq")).getField("value").as("unEq"))
      .collect().head
    // edge-adjacent squares: union dissolves the shared edge (the
    // refinement vertices stay as collinear points), intersection empty
    assert(got.getString(0) == "POLYGON ((0.0 0.0, 4.0 0.0, 8.0 0.0, " +
      "8.0 4.0, 4.0 4.0, 0.0 4.0, 0.0 0.0))")
    assert(got.getString(1) == "POLYGON EMPTY")
    // T-touch along part of the right edge: union stitches one ring
    assert(got.getString(2) == "POLYGON ((0.0 0.0, 4.0 0.0, 4.0 1.0, " +
      "6.0 1.0, 6.0 3.0, 4.0 3.0, 4.0 4.0, 0.0 4.0, 0.0 0.0))")
    // vertex-touch: two components; difference leaves A verbatim
    assert(got.getString(3) == "MULTIPOLYGON (((0.0 0.0, 4.0 0.0, " +
      "4.0 4.0, 0.0 4.0, 0.0 0.0)), ((4.0 4.0, 5.0 4.0, 5.0 5.0, " +
      "4.0 5.0, 4.0 4.0)))")
    assert(got.getString(4) == sq)
    // corner-inscribed square: difference pinches out the notch (no hole)
    assert(got.getString(5) == "POLYGON ((0.0 2.0, 2.0 2.0, 2.0 0.0, " +
      "4.0 0.0, 4.0 4.0, 0.0 4.0, 0.0 2.0))")
    // union keeps the refinement's collinear contact vertices (same
    // posture as the dissolved shared edge above)
    assert(got.getString(6) == "POLYGON ((0.0 0.0, 2.0 0.0, 4.0 0.0, " +
      "4.0 4.0, 0.0 4.0, 0.0 2.0, 0.0 0.0))")
    // intersection of the convex pair routes through ConvexClip first
    // (pre-existing path) — its canonical rotation differs from the
    // overlay's but the ring is the inscribed square
    assert(got.getString(7) ==
      "POLYGON ((0.0 2.0, 0.0 0.0, 2.0 0.0, 2.0 2.0, 0.0 2.0))")
    // identical rings
    assert(got.getString(8) == "POLYGON EMPTY")
    assert(got.getString(9) == sq)
  }

  test("stream-stream join equals the batch self-join (sf0.001 events)") {
    val got = graft.streaming.StreamIngest.pairJoin(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val ev = spark.read.parquet(s"$sf/events.parquet")
    val a = ev.select(col("user_id"), col("event_id").as("a_id"),
      col("ts").as("a_ts"))
    val b = ev.select(col("user_id").as("ub"), col("event_id").as("b_id"),
      col("ts").as("b_ts"))
    val want = a.join(b, col("user_id") === col("ub") &&
        col("b_ts") >= col("a_ts") &&
        col("b_ts") <= col("a_ts") + expr("INTERVAL 30 minutes") &&
        col("a_id") < col("b_id"))
      .select("user_id", "a_id", "b_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == want && got.nonEmpty)
  }

  test("contamination flags exactly the docs sharing a 4-gram with the " +
      "bench set; bench docs and clean docs are absent") {
    val bench = docs.filter(col("doc_id") % 7 === 0)
    val corpus = docs.filter(col("doc_id") % 7 =!= 0)
    val got = Dedup.contamination(corpus, bench, "doc_id", "text", n = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // driver-side oracle: distinct 4-grams per doc, set-intersect
    val grams: Map[Long, Set[String]] =
      docs.select("doc_id", "text").collect().map { r =>
        val toks = r.getString(1).trim.toLowerCase.split("\\W+", -1)
        val g = if (toks.length < 4) Set.empty[String]
        else toks.sliding(4).map(_.mkString(" ")).toSet
        r.getLong(0) -> g
      }.toMap
    val benchGrams = grams.filter(_._1 % 7 == 0).values.flatten.toSet
    val want = grams.collect {
      case (id, g) if id % 7 != 0 && g.intersect(benchGrams).nonEmpty =>
        id -> g.intersect(benchGrams).size.toLong
    }
    assert(got == want)
    assert(got.nonEmpty) // planted near-dups make some contamination certain
  }

  test("pack: tok_start is the running token sum per shard in id order; " +
      "seq boundaries are exact multiples of seqLen") {
    val got = TextAnalysis.pack(docs, "doc_id", "text", "source", seqLen = 100)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    val toks: Map[Long, Long] = docs.select("doc_id", "text").collect().map { r =>
      val t = r.getString(1).trim
      r.getLong(0) -> (if (t.isEmpty) 0L else t.split("\\s+").length.toLong)
    }.toMap
    val bySrc = got.groupBy(_._2)
    assert(bySrc.nonEmpty)
    bySrc.foreach { case (_, rows) =>
      var run = 0L
      rows.sortBy(_._1).foreach { case (id, _, start, seq) =>
        assert(start == run, s"doc $id tok_start")
        assert(seq == start / 100, s"doc $id seq")
        run += toks(id)
      }
    }
  }

  test("domainCap keeps at most cap rows per domain, the lowest-hash keys, " +
      "stable under repartitioning") {
    val capped = Sampling.domainCap(docs.select("source", "doc_id"),
      "doc_id", "source", 3)
    val got = capped.collect().map(r => (r.getString(0), r.getLong(1))).toSet
    val gotShuffled = Sampling.domainCap(
      docs.select("source", "doc_id").repartition(7), "doc_id", "source", 3)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(got == gotShuffled)
    val perDomain = got.groupBy(_._1).view.mapValues(_.size).toMap
    assert(perDomain.values.forall(_ <= 3) && perDomain.values.exists(_ == 3))
    // lowest-hash check: recompute the md5-prefix hash driver-side
    def h(id: Long): BigInt =
      BigInt(java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes).map("%02x".format(_)).mkString
        .take(15), 16)
    val all = docs.select("source", "doc_id").collect()
      .map(r => (r.getString(0), r.getLong(1)))
    all.groupBy(_._1).foreach { case (src, rows) =>
      val want = rows.map(_._2).sortBy(id => (h(id), id)).take(3).toSet
      assert(got.collect { case (s, id) if s == src => id }.toSet == want, src)
    }
  }

  test("temperatureQuota: isqrt quotas fill with the lowest-hash keys, " +
      "small domains up-weighted vs raw share, stable under " +
      "repartitioning") {
    val d = docs.select("source", "doc_id")
    val budget = 20L
    val got = Sampling.temperatureQuota(d, "doc_id", "source", budget)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    val gotShuffled = Sampling.temperatureQuota(
      d.repartition(7), "doc_id", "source", budget)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(got == gotShuffled)
    // replay the quota arithmetic driver-side
    val all = d.collect().map(r => (r.getString(0), r.getLong(1)))
    val counts = all.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    val wts = counts.view.mapValues(n => math.sqrt(n.toDouble).toLong).toMap
    val ws = wts.values.sum
    val quota = wts.view.mapValues(w => budget * w / ws).toMap
    def h(id: Long): BigInt =
      BigInt(java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes).map("%02x".format(_)).mkString
        .take(15), 16)
    all.groupBy(_._1).foreach { case (src, rows) =>
      val want = rows.map(_._2).sortBy(id => (h(id), id))
        .take(quota(src).toInt).toSet
      assert(got.collect { case (s, id) if s == src => id }.toSet == want, src)
    }
    // α = 1/2 up-weights the tail: the smallest domain's kept share of
    // its quota-sum exceeds its raw corpus share
    val smallest = counts.minBy(_._2)._1
    val kept = got.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    if (quota(smallest) > 0 && quota(smallest) <= counts(smallest))
      assert(kept.getOrElse(smallest, 0L).toDouble / kept.values.sum >=
        counts(smallest).toDouble / counts.values.sum,
        s"$kept vs $counts")
    // empty input returns empty (r15: the null max no longer crashes)
    val empty = Sampling.temperatureQuota(
      d.limit(0), "doc_id", "source", budget)
    assert(empty.count() == 0)
    assert(empty.columns.toSeq == d.columns.toSeq)
  }

  test("SimHash kernel is bit-identical to the batch explode+groupBy path " +
      "for BOTH token hashes (md5 and xxhash64)") {
    for (md5 <- Seq(true, false)) {
      val hashFn: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
        if (md5) Dedup.md5TokenHash else org.apache.spark.sql.functions.xxhash64(_)
      val batch = Dedup.simhashesAgg(docs, "doc_id", "text", nbits = 60,
        tokenHash = hashFn)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val kernel = docs.select(col("doc_id"),
        graft.functions.SimHash(col("text"), 60, md5Hash = md5).as("sh"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(kernel == batch, s"md5=$md5")
    }
  }

  test("streaming simhash pairs equal the batch band join (sf0.001 docs)") {
    val stream = graft.streaming.StreamIngest.simhashPairsStream(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val batch = Dedup.simhashPairs(docs, "doc_id", "text", nbits = 60,
      tokenHash = Dedup.md5TokenHash, maxHamming = 3, bands = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(stream == batch)
    assert(batch.nonEmpty) // planted near-dups collide
  }

  test("analyzer: 'running' matches 'run' both directions; stopwords drop; " +
      "analyzed phrase aligns across a removed stopword") {
    val spark2 = spark
    import spark2.implicits._
    // the stemmer itself, on the canonical examples
    val stems = Analyzer.analyzeQuery(spark,
      Seq("running", "runs", "run", "merges", "merging", "merge",
        "sorted", "sorts", "quickly", "agreed", "agree", "flies",
        "the", "a", "with"))
    assert(stems == Seq("run", "run", "run", "merg", "merg", "merg",
      "sort", "sort", "quick", "agree", "agree", "fly"))

    val crafted = Seq(
      (1L, "the dogs were running over the hill"),
      (2L, "a dog can run up a hill"),
      (3L, "cats sleep all day"),
      (4L, "he runs the fast scan quickly")).toDF("doc_id", "text")
    // query-side inflection finds corpus base forms and vice versa
    def hits(terms: String*): Set[Long] =
      FullText.analyzedSearch(crafted, "doc_id", "text", terms)
        .collect().map(_.getLong(0)).toSet
    assert(hits("running") == Set(1L, 2L, 4L))
    assert(hits("run") == Set(1L, 2L, 4L))
    assert(hits("dogs", "hills") == Set(1L, 2L))
    assert(hits("sleeping") == Set(3L))

    // analyzed persisted index agrees with the corpus path and analyzes
    // query terms automatically (flag round-trips through the stats row)
    val idx = FullTextIndex.build(crafted, "doc_id", "text",
      "ftstem_test_idx", analyzed = true)
    assert(idx.analyzed)
    assert(idx.search(Seq("running")).collect().map(_.getLong(0)).toSet ==
      Set(1L, 2L, 4L))
    // phrase across a removed stopword: "running over the hill" →
    // [run, over, hill] — positions re-based on the surviving sequence
    assert(idx.phraseSearch(Seq("running", "over", "the", "hill"))
      .collect().map(_.getLong(0)).toSet == Set(1L))

    // unanalyzed index keeps surface forms: "running" does NOT match "run"
    val raw = FullTextIndex.build(crafted, "doc_id", "text", "ftstem_raw_idx")
    assert(!raw.analyzed)
    assert(raw.search(Seq("running")).collect().map(_.getLong(0)).toSet ==
      Set(1L))
  }

  test("streaming simhash TTL: an expired bucket drops its state (no pair " +
      "across the horizon); a live bucket still pairs; a hot bucket caps") {
    val spark2 = spark
    import spark2.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val mem = MemoryStream[(Long, String, java.sql.Timestamp)]
    def t(min: Long) = new java.sql.Timestamp(min * 60000L)
    val textA = "the quick brown fox jumps over the lazy dog again and again"
    val pairs = graft.streaming.StreamIngest.simhashPairsOf(
      mem.toDF.toDF("doc_id", "text", "ts"),
      eventTime = Some("ts"), watermark = "10 minutes", ttlMs = 10 * 60000L)
    val q = pairs.writeStream.outputMode("append").format("memory")
      .queryName("ttl_out").start()
    try {
      mem.addData((1L, textA, t(0)))
      q.processAllAvailable()
      // advance the watermark far past doc 1's TTL…
      mem.addData((2L, "completely different content words entirely unrelated", t(1000)))
      q.processAllAvailable()
      // …then one more batch so the timed-out bucket is actually invoked+removed
      mem.addData((3L, "another unrelated set of words to tick the clock", t(1001)))
      q.processAllAvailable()
      // doc 4 is IDENTICAL to doc 1 — only state expiry can prevent the pair
      mem.addData((4L, textA, t(1002)))
      q.processAllAvailable()
      // control: identical docs WITHIN the TTL do pair
      mem.addData((10L, textA + " control run", t(2000)))
      q.processAllAvailable()
      mem.addData((11L, textA + " control run", t(2001)))
      q.processAllAvailable()
    } finally q.stop()
    val out = spark.table("ttl_out").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(!out.contains((1L, 4L)), "pair across the expired horizon leaked")
    assert(out.contains((10L, 11L)), "within-TTL pair must still emit")

    // hot-bucket cap: identical docs beyond maxBucket stop emitting pairs
    // and the state releases its signature list
    val mem2 = MemoryStream[(Long, String, java.sql.Timestamp)]
    val capped = graft.streaming.StreamIngest.simhashPairsOf(
      mem2.toDF.toDF("doc_id", "text", "ts"), maxBucket = 3)
    val q2 = capped.writeStream.outputMode("append").format("memory")
      .queryName("cap_out").start()
    try {
      mem2.addData((1L to 10L).map(i => (i, textA, t(i))): _*)
      q2.processAllAvailable()
    } finally q2.stop()
    val cappedPairs = spark.table("cap_out").collect()
      .map(r => (r.getLong(0), r.getLong(1))).distinct
    // only pairs among the first 3 arrivals (per band) survive the cap
    assert(cappedPairs.forall { case (a, b) => a <= 3 && b <= 3 })
    assert(cappedPairs.nonEmpty)
  }

  test("ssspWeighted: exact min costs on a hand graph, cost bound prunes") {
    val spark2 = spark
    import spark2.implicits._
    // 1 -2- 2 -2- 3 ; 1 -5- 3 ; 3 -9- 4  (undirected)
    val edges = Seq((1L, 2L, 2L), (2L, 3L, 2L), (1L, 3L, 5L), (3L, 4L, 9L))
      .toDF("src", "dst", "w")
    val got = graft.graph.GraphAnalytics.ssspWeighted(edges, 1L, maxCost = 8)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // dist(3) = 4 via 2 (not 5 direct); 4 unreachable within 8 (4+9>8)
    assert(got == Map(1L -> 0L, 2L -> 2L, 3L -> 4L))
    val wide = graft.graph.GraphAnalytics.ssspWeighted(edges, 1L, maxCost = 20)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(wide == Map(1L -> 0L, 2L -> 2L, 3L -> 4L, 4L -> 13L))
  }

  test("vocab: exact top-k token frequencies with deterministic tie-break") {
    val got = TextAnalysis.vocab(docs, "text", k = 10)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val counts = docs.select("text").collect()
      .flatMap(_.getString(0).trim.toLowerCase.split("\\W+")).filter(_.nonEmpty)
      .groupBy(identity).view.mapValues(_.length.toLong).toSeq
    val want = counts.sortBy { case (t, n) => (-n, t) }.take(10)
    assert(got.toSeq == want)
  }

  test("labelCentroids: decimal-exact mean per (label, pos), stable under " +
      "repartitioning") {
    val a = Similarity.labelCentroids(emb, "label", "embedding").collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getDouble(2)).toMap
    val b = Similarity.labelCentroids(emb.repartition(13), "label", "embedding")
      .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getDouble(2)).toMap
    assert(a == b) // bit-identical under any partitioning
    // spot-check one cell against a driver-side mean
    val rows = emb.select("label", "embedding").collect()
      .map(r => (r.getInt(0), r.getSeq[Float](1)))
    val (lbl, _) = rows.head
    val vals = rows.filter(_._1 == lbl).map(_._2.head.toDouble)
    val mean = BigDecimal(vals.map(v => BigDecimal(v).setScale(10,
      BigDecimal.RoundingMode.HALF_UP)).sum.toDouble / vals.length)
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(math.abs(a((lbl, 0)) - mean) < 1e-9)
  }

  test("semantic dedup: within-cluster pairs are a subset of the exact " +
      "all-pairs dups, and the keep-list drops exactly the higher ids") {
    val all = graft.pipeline.Dedup.cosineNearDupPairs(emb, "vec_id",
      "embedding", 0.42).select("a", "b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val sem = graft.pipeline.Similarity.semanticDupPairs(emb, "vec_id",
      "embedding", 0.42).select("a", "b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(sem.subsetOf(all), "cluster-restricted pairs must be exact dups")
    val keep = graft.pipeline.Similarity.semanticKeep(emb, "vec_id",
      "embedding", 0.42).select("vec_id").collect().map(_.getLong(0)).toSet
    val dropped = sem.map(_._2)
    assert(keep == emb.select("vec_id").collect().map(_.getLong(0)).toSet -- dropped)
  }

  test("stream-safe centroid assignment equals the batch IVF argmax") {
    val cents = graft.pipeline.Similarity.trainedCentroids(
      emb, "vec_id", "embedding")
    val streamSafe = graft.pipeline.Similarity.assignToCentroids(
      emb, "vec_id", "embedding", cents)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // every vector assigns exactly once; all nlist clusters are used at
    // this scale; re-running is bit-identical (the driver oracle proves
    // equality with the batch Lloyd's assignment relationally)
    assert(streamSafe.size == emb.count())
    assert(streamSafe.values.toSet.size > 1)
    val again = graft.pipeline.Similarity.assignToCentroids(
      emb, "vec_id", "embedding", cents)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(streamSafe == again)
  }

  test("streaming windowed agg equals batch groupBy (sf0.001 events)") {
    // `ts` is a naive TIMESTAMP (NTZ) — collected values are LocalDateTime,
    // so compare with the generic getter on both sides.
    val streamRes = graft.streaming.StreamIngest.runWindowedCounts(spark, sf)
      .select(col("window_start"), col("event_type"), col("n"))
      .collect().map(r => (r.get(0), r.getString(1)) -> r.getLong(2)).toMap
    val batch = spark.read.parquet(s"$sf/events.parquet")
      .groupBy(date_trunc("hour", col("ts").cast("timestamp")).as("w"),
        col("event_type"))
      .agg(count(lit(1)).as("n"))
      .collect().map(r => (r.get(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(streamRes == batch)
  }

  test("duplicatedSpans: cross-doc l-token windows mark spans, overlapping " +
      "and adjacent spans merge, within-doc repeats alone never mark") {
    import spark.implicits._
    val docs = Seq(
      // docs 1 and 2 share the 10-token run "a b c d e f g h i j" at
      // different offsets -> 3 overlapping 8-windows each, merged to one
      // span of 10 tokens
      (1L, "a b c d e f g h i j x1 y1 z1 w1"),
      (2L, "p2 q2 a b c d e f g h i j r2"),
      // doc 3 repeats ITS OWN 8-gram twice but shares it with no one:
      // count(DISTINCT doc) = 1 -> no span
      (3L, "k l m n o p q r k l m n o p q r"),
      // doc 4 is too short for any window
      (4L, "short doc")).toDF("doc_id", "text")
    val got = graft.pipeline.Dedup.duplicatedSpans(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == Set((1L, 0L, 10L), (2L, 2L, 12L)), got)
    // adjacent spans merge: two separate shared 8-gram regions that touch
    val touch = Seq(
      (1L, "a1 b1 c1 d1 e1 f1 g1 h1 a2 b2 c2 d2 e2 f2 g2 h2"),
      (2L, "a1 b1 c1 d1 e1 f1 g1 h1 zz"),
      (3L, "a2 b2 c2 d2 e2 f2 g2 h2 yy")).toDF("doc_id", "text")
    val got2 = graft.pipeline.Dedup.duplicatedSpans(touch, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got2 == Set((1L, 0L, 16L), (2L, 0L, 8L), (3L, 0L, 8L)), got2)
  }

  test("importanceWeights: target-vocabulary docs outscore off-target " +
      "docs; scores are repartition-stable integers") {
    import spark.implicits._
    val corpus = Seq(
      (1L, "alpha beta alpha gamma"),
      (2L, "alpha beta beta alpha"),
      (3L, "delta epsilon zeta eta"),
      (4L, "delta delta epsilon zeta")).toDF("doc_id", "text")
    val target = corpus.filter(col("doc_id") <= 2)
    val got = graft.pipeline.Sampling.importanceWeights(
      corpus, target, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // docs 1-2 are drawn from the target vocabulary: strictly higher
    assert(Seq(1L, 2L).map(got).min > Seq(3L, 4L).map(got).max, got)
    val again = graft.pipeline.Sampling.importanceWeights(
      corpus.repartition(7), target, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == again)
  }

  test("histTopK sparse semantics: a (query, doc) pair sharing no nonzero " +
      "bucket never ranks (r12 ADVICE: dense score-0 rows)") {
    import spark.implicits._
    // doc 1 overlaps the query's bucket 0; docs 2 and 3 occupy disjoint
    // buckets (doc 3 is all-zero — an empty payload)
    val corpus = Seq(
      (1L, Seq(2L, 0L, 0L, 0L)),
      (2L, Seq(0L, 5L, 0L, 0L)),
      (3L, Seq(0L, 0L, 0L, 0L))).toDF("media_id", "hist")
    val queries = Seq((10L, Seq(3L, 0L, 0L, 1L))).toDF("media_id", "hist")
    val got = Multimodal.histTopK(corpus, queries, k = 5)
      .select("qid", "doc", "score").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // only doc 1 shares a nonzero bucket: 2*3 = 6; docs 2, 3 must be ABSENT
    assert(got == Set((10L, 1L, 6L)), got)
  }
}
