package graft.operators

import java.nio.file.Files

import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._

import graft.SparkSpec

class SearchSuite extends SparkSpec with AdaptiveSparkPlanHelper {
  import spark.implicits._

  private val corpus = Seq(
    (1L, "spark scan spark join"),
    (2L, "join join join filter filter"),
    (3L, "spark"),
    (4L, "scan filter scan filter scan filter scan filter"),
    (5L, "unrelated words only here")
  ).toDF("doc_id", "text")

  /** Independent scalar reimplementation of the documented formula. */
  private def expectedScores(
      docs: Seq[(Long, String)], terms: Seq[String],
      k1: Double = 1.2, b: Double = 0.75): Map[Long, (Double, Long)] = {
    val toks = docs.map { case (id, t) => id -> t.split("\\s+").filter(_.nonEmpty).toSeq }.toMap
    val n = docs.size.toDouble
    val avgdl = toks.values.map(_.size).sum * 1.0 / n
    docs.flatMap { case (id, _) =>
      val contribs = terms.distinct.flatMap { term =>
        val tf = toks(id).count(_ == term).toDouble
        if (tf == 0) None else {
          val df = docs.count { case (i, _) => toks(i).contains(term) }.toDouble
          val idf = math.floor(math.log((n - df + 0.5) / (df + 0.5) + 1.0) * 1e4) / 1e4
          val dl = toks(id).size.toDouble
          Some(math.floor(
            idf * (tf * (k1 + 1.0) / (tf + k1 * ((1.0 - b) + b * dl / avgdl))) * 1e8).toLong)
        }
      }
      if (contribs.isEmpty) None
      else Some(id -> (contribs.sum / 1e8, contribs.size.toLong))
    }.toMap
  }

  test("bm25TopK matches an independent scalar implementation exactly") {
    val docs = corpus.as[(Long, String)].collect().toSeq
    val exp = expectedScores(docs, Seq("spark", "filter"))
    val got = Search.bm25TopK(corpus, "doc_id", "text", Seq("spark", "filter"), k = 10)
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getLong(2))).toMap
    assert(got == exp)
  }

  test("ranking is score-desc with doc-id tiebreak, truncated at k") {
    val top = Search.bm25TopK(corpus, "doc_id", "text", Seq("spark", "filter"), k = 2)
      .collect().map(_.getLong(0)).toSeq
    val docs = corpus.as[(Long, String)].collect().toSeq
    val exp = expectedScores(docs, Seq("spark", "filter")).toSeq
      .sortBy { case (id, (s, _)) => (-s, id) }.take(2).map(_._1)
    assert(top == exp)
  }

  test("duplicate query terms do not double-count") {
    val a = Search.bm25TopK(corpus, "doc_id", "text", Seq("spark", "spark"), k = 10)
    val b = Search.bm25TopK(corpus, "doc_id", "text", Seq("spark"), k = 10)
    assertSameRows(a, b)
  }

  test("persisted index serves the same result as the inline scan") {
    val dir = Files.createTempDirectory("bm25idx").toString
    Search.buildBm25Index(corpus, "doc_id", "text", dir)
    val inline = Search.bm25TopK(corpus, "doc_id", "text", Seq("spark", "filter"), k = 10)
    val served = Search.bm25SearchIndex(spark, dir, Seq("spark", "filter"), k = 10)
    assertSameRows(inline, served)
  }

  test("bm25SearchIndex refuses an index without the current format stamp") {
    val dir = Files.createTempDirectory("bm25unstamped").toString
    Search.buildBm25Index(corpus, "doc_id", "text", dir)
    restampSegments(dir)
    val e = intercept[IllegalStateException] {
      Search.bm25SearchIndex(spark, dir, Seq("spark"), k = 5)
    }
    assert(e.getMessage.contains(dir) && e.getMessage.contains("unstamped") &&
      e.getMessage.contains(s"expected format ${graft.sources.IndexIO.FormatVersion}") &&
      e.getMessage.contains("rebuild"), e.getMessage)
    // appends refuse too: a delta never extends a chain of another format
    intercept[IllegalStateException] {
      Search.appendToBm25Index(corpus, "doc_id", "text", dir)
    }
  }

  test("compactToLexicalIndex rejects equal-count SET divergence of the chains") {
    val bdir = Files.createTempDirectory("lexdiv_b").toString
    val pdir = Files.createTempDirectory("lexdiv_p").toString
    val odir = Files.createTempDirectory("lexdiv_o").toString
    Search.buildBm25Index(corpus, "doc_id", "text", bdir)
    Search.buildPositionalIndex(corpus, "doc_id", "text", pdir)
    // one delete on EACH chain but to DIFFERENT ids: live counts stay
    // equal while the doc sets diverge — the exact mode a count-only
    // check waves through (and the inner lengths join would then
    // silently drop the positional-only doc)
    Search.deleteFromBm25Index(spark, bdir, Seq(1L).toDF("doc_id"), "doc_id")
    Search.deleteFromPositionalIndex(spark, pdir, Seq(2L).toDF("doc_id"), "doc_id")
    val e = intercept[IllegalArgumentException] {
      Search.compactToLexicalIndex(spark, bdir, pdir, odir)
    }
    assert(e.getMessage.contains("diverged"), e.getMessage)
  }

  test("index probe pushes the term filter into the postings scan") {
    val dir = Files.createTempDirectory("bm25idx2").toString
    Search.buildBm25Index(corpus, "doc_id", "text", dir)
    val plan = Search.bm25SearchIndex(spark, dir, Seq("spark"), k = 5)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("term"),
      s"term filter not pushed to parquet:\n$plan")
  }

  test("bm25 serving never reads the lengths table (dl rides the postings)") {
    val dir = Files.createTempDirectory("bm25dl").toString
    Search.buildBm25Index(corpus, "doc_id", "text", dir)
    // dl is denormalized into every posting row, so the serving plan
    // touches ONLY the pruned postings buckets + the one-row stats —
    // at corpus scale the per-query lengths join was the bottleneck
    val plan = Search.bm25SearchIndex(spark, dir, Seq("spark"), k = 5)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("/lengths"),
      s"serving plan still scans the lengths table:\n$plan")
    // the unified lexical layout serves the same way
    val dir2 = Files.createTempDirectory("lexdl").toString
    Search.buildLexicalIndex(corpus, "doc_id", "text", dir2)
    val plan2 = Search.bm25SearchIndex(spark, dir2, Seq("spark"), k = 5)
      .queryExecution.executedPlan.toString
    assert(!plan2.contains("/lengths"),
      s"unified serving plan still scans the lengths table:\n$plan2")
  }

  test("top-k plans as TakeOrderedAndProject, not a global sort") {
    val plan = Search.bm25TopK(corpus, "doc_id", "text", Seq("spark"), k = 3)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), s"no top-k operator in:\n$plan")
  }

  test("tombstone delete: serving == BM25 over the remaining corpus, no rebuild") {
    val dir = Files.createTempDirectory("bm25del").toString
    Search.buildBm25Index(corpus, "doc_id", "text", dir)
    Search.deleteFromBm25Index(spark, dir,
      Seq(1L, 4L).toDF("doc_id"), "doc_id")
    val remaining = corpus.filter(!$"doc_id".isin(1L, 4L))
    val served = Search.bm25SearchIndex(spark, dir, Seq("spark", "filter"), k = 10)
    // deleting docs shifts df, N, and avgdl — the full rescore over the
    // remaining corpus is the ground truth
    assertSameRows(
      Search.bm25TopK(remaining, "doc_id", "text", Seq("spark", "filter"), k = 10),
      served)
    assert(!served.collect().map(_.getLong(0)).contains(1L))
    // double-delete of an already-dead id must not subtract stats twice
    Search.deleteFromBm25Index(spark, dir, Seq(1L).toDF("doc_id"), "doc_id")
    val stats = spark.read.parquet(
      graft.sources.IndexIO.resolve(spark, dir) + "/stats").head()
    assert(stats.getLong(0) == 3L, s"n_docs ${stats.getLong(0)} after double delete")
    // compaction drops dead rows physically; results identical
    val before = rowSet(Search.bm25SearchIndex(spark, dir, Seq("spark", "filter"), k = 10))
    Search.compactBm25Index(spark, dir)
    assert(graft.sources.IndexIO.segments(spark, dir).length == 1)
    assert(rowSet(Search.bm25SearchIndex(spark, dir, Seq("spark", "filter"), k = 10)) == before)
    // the compacted postings physically exclude the tombstoned docs
    val live = spark.read.parquet(
      graft.sources.IndexIO.resolve(spark, dir) + "/postings")
      .select("doc_id").distinct().as[Long].collect().toSet
    assert(!live.contains(1L) && !live.contains(4L))
  }

  // ---- batched BM25 -------------------------------------------------------

  test("bm25TopKBatch == per-query bm25TopK for every query in the batch") {
    val batch = Seq(
      (10L, Seq("spark", "filter")),
      (11L, Seq("join")),
      (12L, Seq("spark", "spark", "unseen")) // dup term counts once
    ).toDF("query_id", "terms")
    val got = Search.bm25TopKBatch(corpus, batch,
        "doc_id", "text", "query_id", "terms", k = 3)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
      .groupBy(_._1).view.mapValues(_.map(t => (t._2, t._3, t._4)).toSet).toMap
    val expected = Map(
      10L -> Seq("spark", "filter"),
      11L -> Seq("join"),
      12L -> Seq("spark", "unseen")
    ).map { case (q, terms) =>
      q -> Search.bm25TopK(corpus, "doc_id", "text", terms, k = 3)
        .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2))).toSet
    }
    assert(got == expected)
  }

  test("bm25TopKBatch plans a per-query rank-limit, not a global sort") {
    val batch = Seq((0L, Seq("spark"))).toDF("query_id", "terms")
    val plan = Search.bm25TopKBatch(corpus, batch,
        "doc_id", "text", "query_id", "terms", k = 2)
      .queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"), s"no rank-limit pushdown in:\n$plan")
  }

  // ---- hybrid RRF ---------------------------------------------------------

  private val vectors = Seq(
    (1L, Array(1.0f, 0.0f, 0.0f)),
    (2L, Array(0.9f, 0.1f, 0.0f)),
    (3L, Array(0.0f, 1.0f, 0.0f)),
    (4L, Array(0.0f, 0.0f, 1.0f)),
    (5L, Array(0.7f, 0.7f, 0.0f))
  ).toDF("vec_id", "embedding")

  /** Independent scalar RRF over the documented rank rules. */
  private def expectedRrf(
      terms: Seq[String], qv: Array[Double],
      k: Int, fetchK: Int, rrfK: Int): Seq[(Long, Double, Option[Int], Option[Int])] = {
    val docs = corpus.as[(Long, String)].collect().toSeq
    val lexRanks = expectedScores(docs, terms).toSeq
      .sortBy { case (id, (s, _)) => (-s, id) }.take(fetchK)
      .zipWithIndex.map { case ((id, _), i) => id -> (i + 1) }.toMap
    val qn = math.sqrt(qv.map(x => x * x).sum)
    val vecs = vectors.as[(Long, Array[Float])].collect().toSeq
    val vecRanks = vecs.map { case (id, v) =>
      val dot = v.map(_.toDouble).zip(qv).map { case (a, b) => a * b }.sum
      val cn = math.sqrt(v.map(x => x.toDouble * x).sum)
      id -> math.floor(dot / (qn * cn) * 1e4).toLong
    }.sortBy { case (id, g) => (-g, id) }.take(fetchK)
      .zipWithIndex.map { case ((id, _), i) => id -> (i + 1) }.toMap
    (lexRanks.keySet ++ vecRanks.keySet).toSeq.map { id =>
      val rrf = lexRanks.get(id).map(r => 1.0 / (rrfK + r)).getOrElse(0.0) +
        vecRanks.get(id).map(r => 1.0 / (rrfK + r)).getOrElse(0.0)
      (id, rrf, lexRanks.get(id), vecRanks.get(id))
    }.sortBy { case (id, r, _, _) => (-r, id) }.take(k)
      .map { case (id, r, lr, vr) =>
        // output score is floored onto the 1e-6 grid (engine-portable)
        (id, math.floor(r * 1e6) / 1e6, lr, vr)
      }
  }

  test("hybridRrfTopK matches an independent scalar RRF implementation") {
    val qv = Array(1.0, 0.0, 0.0)
    val got = Search.hybridRrfTopK(
        corpus, vectors, "doc_id", "text", "vec_id", "embedding",
        Seq("spark", "filter"), qv, k = 5, fetchK = 5, rrfK = 60)
      .collect().map(r => (
        r.getLong(0), r.getDouble(1),
        if (r.isNullAt(2)) None else Some(r.getInt(2)),
        if (r.isNullAt(3)) None else Some(r.getInt(3))))
      .toSeq
    assert(got == expectedRrf(Seq("spark", "filter"), qv, k = 5, fetchK = 5, rrfK = 60))
  }

  test("hybridRrfTopK: single-list docs carry one null rank and one term") {
    // doc 5 has none of the query terms but a strong vector match; doc 4
    // matches lexically ("filter") with an orthogonal vector outside the
    // dense fetchK=2 cut
    val got = Search.hybridRrfTopK(
        corpus, vectors, "doc_id", "text", "vec_id", "embedding",
        Seq("filter"), Array(0.8, 0.75, 0.0), k = 5, fetchK = 2)
      .collect().map(r => r.getLong(0) -> (r.isNullAt(2), r.isNullAt(3))).toMap
    assert(got(5L) == (true, false), s"doc 5 should be dense-only: $got")
    assert(got(4L) == (false, true), s"doc 4 should be lexical-only: $got")
  }

  test("hybridRrfTopK excludes zero-norm candidate vectors from the dense list") {
    val vecsWithZero = vectors.union(
      Seq((6L, Array(0.0f, 0.0f, 0.0f))).toDF("vec_id", "embedding"))
    val got = Search.hybridRrfTopK(
        corpus, vecsWithZero, "doc_id", "text", "vec_id", "embedding",
        Seq("spark"), Array(-1.0, 0.0, 0.0), k = 10, fetchK = 10)
      .collect().map(r => (r.getLong(0), if (r.isNullAt(3)) None else Some(r.getInt(3))))
      .toMap
    // every real vector has cosine in [-1, 0] vs the negated query; the
    // zero-norm row would have NaN->0 and outrank them all if unfiltered
    assert(!got.contains(6L), s"zero-norm vector ranked: $got")
    assert(got(4L).nonEmpty, "orthogonal (cosine 0) vector should still rank")
  }

  test("rrfFuse fuses three lists and matches the scalar rule") {
    val a = Seq((1L, 1), (2L, 2), (3L, 3)).toDF("id", "rank")
    val b = Seq((2L, 1), (4L, 2)).toDF("id", "rank")
    val c = Seq((3L, 1), (1L, 2), (4L, 3)).toDF("id", "rank")
    val got = Search.rrfFuse(Seq("a" -> a, "b" -> b, "c" -> c), "id", k = 4, rrfK = 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val scalar = Map(
      1L -> (1.0 / 11 + 1.0 / 12), 2L -> (1.0 / 12 + 1.0 / 11),
      3L -> (1.0 / 13 + 1.0 / 11), 4L -> (1.0 / 12 + 1.0 / 13))
    val expect = scalar.toSeq.sortBy { case (id, s) => (-s, id) }
      .map { case (id, s) => (id, math.floor(s * 1e6) / 1e6) }
    assert(got == expect)
    assert(Search.rrfFuse(Seq("a" -> a, "b" -> b), "id", k = 4)
      .columns.toSeq == Seq("id", "rrf_score", "a_rank", "b_rank"))
  }

  test("rrfFuse honors a custom rank column name") {
    val a = Seq((1L, 1), (2L, 2)).toDF("id", "pos")
    val got = Search.rrfFuse(Seq("a" -> a), "id", k = 2, rrfK = 0, rankCol = "pos")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got == Seq((1L, 1.0), (2L, 0.5)))
  }

  test("rrfFuse rejects collisions and malformed inputs") {
    val a = Seq((1L, 1)).toDF("id", "rank")
    intercept[IllegalArgumentException] { // duplicate names
      Search.rrfFuse(Seq("a" -> a, "a" -> a), "id", k = 1)
    }
    intercept[IllegalArgumentException] { // id col collides with output
      Search.rrfFuse(Seq("a" -> Seq((1L, 1)).toDF("rrf_score", "rank")),
        "rrf_score", k = 1)
    }
    intercept[IllegalArgumentException] { // missing rank column
      Search.rrfFuse(Seq("a" -> Seq((1L, 1)).toDF("id", "pos")), "id", k = 1)
    }
    intercept[IllegalArgumentException] { // bad k
      Search.rrfFuse(Seq("a" -> a), "id", k = 0)
    }
  }

  test("bm25TopKBatch fails loudly on a null/empty terms array") {
    val qs = Seq((0L, Seq("spark")), (1L, Seq.empty[String])).toDF("query_id", "terms")
    val ex = intercept[Exception] {
      Search.bm25TopKBatch(corpus, qs, "doc_id", "text", "query_id", "terms", k = 3)
        .collect()
    }
    assert(ex.getMessage.contains("bm25TopKBatch") ||
      Option(ex.getCause).exists(_.getMessage.contains("bm25TopKBatch")),
      s"unexpected error: $ex")
  }

  test("hybridRrfTopKIndexed with exhaustive probes == the scan form") {
    // a corpus big enough that cells are non-trivial: 120 vectors on a
    // deterministic 8-dim lattice (dim divisible by the m=4 PQ split)
    val n = 120
    val corpus = (0 until n).map { i =>
      (i.toLong, Array.tabulate(8)(d => math.sin(i * 0.37 + d * 1.3).toFloat))
    }.toDF("vec_id", "embedding")
    val docs = (0 until n).map { i =>
      (i.toLong, if (i % 3 == 0) "spark filter scan" else "unrelated words")
    }.toDF("doc_id", "text")
    val qv = (0 until 8).map(d => math.cos(d * 0.9)).toArray
    val idx = Files.createTempDirectory("hybrid_idx").toString
    SimilaritySearch.buildIvfPqIndex(corpus, "vec_id", "embedding", idx,
      nCentroids = 4, m = 4, kCodes = 16)
    val scan = Search.hybridRrfTopK(
        docs, corpus.filter(col("vec_id") =!= 7), "doc_id", "text",
        "vec_id", "embedding", Seq("spark", "scan"), qv, k = 15, fetchK = 20)
      .collect().toSeq
    // exhaustive nProbe (= nCentroids) + a shortlist covering the whole
    // corpus: cell pruning and ADC error both vanish, so the dense leg
    // is exactly the brute list and the fused outputs must be identical
    val indexed = Search.hybridRrfTopKIndexed(
        spark, docs, idx, "doc_id", "text", Seq("spark", "scan"), qv,
        k = 15, fetchK = 20, nProbe = 4, kShortlist = n,
        excludeIds = Seq(7L))
      .collect().toSeq
    assert(indexed == scan)
  }

  test("hybridRrfTopKIndexed never scans the corpus vectors (index-only dense leg)") {
    val n = 40
    val corpus = (0 until n).map { i =>
      (i.toLong, Array.tabulate(8)(d => math.sin(i + d).toFloat))
    }.toDF("vec_id", "embedding")
    val dir = Files.createTempDirectory("hybrid_scan_guard")
    val corpusPath = dir.resolve("corpus.parquet").toString
    corpus.write.parquet(corpusPath)
    val idx = dir.resolve("idx").toString
    SimilaritySearch.buildIvfPqIndex(
      spark.read.parquet(corpusPath), "vec_id", "embedding", idx,
      nCentroids = 2, m = 4, kCodes = 8)
    val plan = Search.hybridRrfTopKIndexed(
        spark, corpus.select(col("vec_id").as("doc_id"), lit("spark").as("text")),
        idx, "doc_id", "text", Seq("spark"), Array.fill(8)(1.0), k = 5)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("corpus.parquet"),
      s"dense leg read the corpus instead of the index:\n$plan")
  }

  test("hybridRrfTopKBothIndexed == the scan form; corpus never in the plan") {
    val n = 120
    val corpus = (0 until n).map { i =>
      (i.toLong, Array.tabulate(8)(d => math.sin(i * 0.37 + d * 1.3).toFloat))
    }.toDF("vec_id", "embedding")
    val docs = (0 until n).map { i =>
      (i.toLong, if (i % 3 == 0) "spark filter scan" else "unrelated words")
    }.toDF("doc_id", "text")
    val qv = (0 until 8).map(d => math.cos(d * 0.9)).toArray
    val dir = Files.createTempDirectory("hybrid_both")
    val docsPath = dir.resolve("docs.parquet").toString
    docs.write.parquet(docsPath)
    val annIdx = dir.resolve("ann").toString
    val lexIdx = dir.resolve("lex").toString
    SimilaritySearch.buildIvfPqIndex(corpus, "vec_id", "embedding", annIdx,
      nCentroids = 4, m = 4, kCodes = 16)
    Search.buildBm25Index(spark.read.parquet(docsPath), "doc_id", "text",
      lexIdx)
    val scan = Search.hybridRrfTopK(
        docs, corpus.filter(col("vec_id") =!= 7), "doc_id", "text",
        "vec_id", "embedding", Seq("spark", "scan"), qv, k = 15, fetchK = 20)
      .collect().toSeq
    // both legs served: BM25 index over the same live corpus gives the
    // identical lexical grid list; exhaustive probes + covering
    // shortlist make the dense list the brute list — fused outputs are
    // therefore identical to the full scan form
    val served = Search.hybridRrfTopKBothIndexed(
      spark, lexIdx, annIdx, Seq("spark", "scan"), qv,
      k = 15, fetchK = 20, nProbe = 4, kShortlist = n, excludeIds = Seq(7L))
    assert(served.collect().toSeq == scan)
    // the serving plan reads ONLY the two artifacts — never the
    // documents parquet (the r13 verdict's one `weak` component)
    val plan = served.queryExecution.executedPlan.toString
    assert(!plan.contains("docs.parquet"),
      s"lexical leg read the corpus instead of the BM25 index:\n$plan")
  }

  test("phraseTopK counts exact adjacent occurrences only") {
    val docs = Seq(
      (1L, "spark scan spark scan spark"), // "spark scan" twice
      (2L, "scan spark"),                  // reversed — no match
      (3L, "spark x scan"),                // gap — no match
      (4L, "spark scan"),                  // once
      (5L, "")
    ).toDF("doc_id", "text")
    val got = Search.phraseTopK(docs, "doc_id", "text", Seq("spark", "scan"), k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == Seq((1L, 2L), (4L, 1L)))
  }

  test("phraseTopK handles repeated phrase tokens") {
    val docs = Seq(
      (1L, "a b a b a"), // "a b a" at starts 0 and 2
      (2L, "a b b a")
    ).toDF("doc_id", "text")
    val got = Search.phraseTopK(docs, "doc_id", "text", Seq("a", "b", "a"), k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == Seq((1L, 2L)))
    // single-token phrase degenerates to term frequency
    val one = Search.phraseTopK(docs, "doc_id", "text", Seq("a"), k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(one == Seq((1L, 3L), (2L, 2L)))
  }

  test("bm25TopKPrf: expansion recovers vocabulary-mismatch docs") {
    // docs 1-3 match the query AND all carry 'embedding'; doc 4 is
    // phrased entirely in the corpus's own vocabulary (no query term)
    // and is invisible to raw BM25 — the expansion must recover it
    val docs = Seq(
      (1L, "vector search embedding index"),
      (2L, "vector store embedding lookup"),
      (3L, "vector db embedding shard"),
      (4L, "embedding embedding retrieval"),
      (5L, "unrelated text entirely")).toDF("doc_id", "text")
    val raw = Search.bm25TopK(docs, "doc_id", "text", Seq("vector"), k = 10)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(raw == Set(1L, 2L, 3L))
    val prf = Search.bm25TopKPrf(docs, "doc_id", "text", Seq("vector"),
        k = 10, feedbackK = 3, expandTerms = 1)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // 'embedding' is the top distinct-doc-frequency feedback term
    // (3 of 3 docs) — doc 4 now scores
    assert(prf == Set(1L, 2L, 3L, 4L))
    // expandTerms = 0 degenerates to plain bm25TopK
    val zero = Search.bm25TopKPrf(docs, "doc_id", "text", Seq("vector"),
        k = 10, feedbackK = 3, expandTerms = 0)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(zero == raw)
  }

  test("phraseTopKBatch == per-phrase phraseTopK; empty phrases raise") {
    val docs = Seq(
      (1L, "spark scan spark scan spark"),
      (2L, "scan spark"),
      (3L, "spark x scan"),
      (4L, "a b a b a"),
      (5L, "")
    ).toDF("doc_id", "text")
    val phrases = Seq(
      (10L, Seq("spark", "scan")),
      (11L, Seq("a", "b", "a")),
      (12L, Seq("scan")))
    val batch = Search.phraseTopKBatch(docs, phrases.toDF("query_id", "phrase"),
        "doc_id", "text", "query_id", "phrase", k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val loop = phrases.flatMap { case (q, p) =>
      Search.phraseTopK(docs, "doc_id", "text", p, k = 10)
        .collect().map(r => (q, r.getLong(0), r.getLong(1)))
    }.toSet
    assert(batch == loop)
    assert(batch.nonEmpty)
    // a null/empty phrase fails loudly instead of vanishing
    val bad = Seq((1L, Seq.empty[String])).toDF("query_id", "phrase")
    val e = intercept[Exception] {
      Search.phraseTopKBatch(docs, bad, "doc_id", "text",
        "query_id", "phrase", k = 10).collect()
    }
    assert(e.getMessage.contains("null/empty phrase") ||
      Option(e.getCause).exists(_.getMessage.contains("null/empty phrase")))
  }

  test("phraseSearchIndexBatch == inline batch; phraseSnippets windows clamp") {
    val docs = Seq(
      (1L, "spark scan spark scan spark"),
      (2L, "scan spark"),
      (3L, "one two three spark scan four five six"),
      (4L, "a b a b a")
    ).toDF("doc_id", "text")
    val phrases = Seq(
      (10L, Seq("spark", "scan")),
      (11L, Seq("a", "b", "a"))).toDF("query_id", "phrase")
    val p = java.nio.file.Files.createTempDirectory("posidx_batch").toString
    Search.buildPositionalIndex(docs, "doc_id", "text", p)
    val inline = Search.phraseTopKBatch(docs, phrases, "doc_id", "text",
        "query_id", "phrase", k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val served = Search.phraseSearchIndexBatch(spark, p, phrases,
        "query_id", "phrase", k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(served == inline && served.nonEmpty)
    // snippets: first occurrence, window clamps at the doc start, full
    // context in the middle
    val sn = Search.phraseSnippets(docs, "doc_id", "text",
        Seq("spark", "scan"), context = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
      .toSet
    assert(sn == Set(
      (1L, 0L, 2L, "spark scan spark scan"),            // clamped left
      (3L, 3L, 1L, "two three spark scan four five")))  // full window
  }

  test("positional index serves the same phrase results as the inline scan") {
    val docs = Seq(
      (1L, "spark scan spark scan"),
      (2L, "scan spark scan spark scan"),
      (3L, "spark scan filter")
    ).toDF("doc_id", "text")
    val idx = Files.createTempDirectory("pos_idx").toString
    Search.buildPositionalIndex(docs, "doc_id", "text", idx)
    val inline = Search.phraseTopK(docs, "doc_id", "text", Seq("spark", "scan"), k = 10)
      .collect().toSeq
    val served = Search.phraseSearchIndex(spark, idx, Seq("spark", "scan"), k = 10)
      .collect().toSeq
    assert(served == inline)
  }

  test("positional index probe pushes the term filter into the postings scan") {
    val docs = Seq((1L, "spark scan filter join sort")).toDF("doc_id", "text")
    val idx = Files.createTempDirectory("pos_idx_push").toString
    Search.buildPositionalIndex(docs, "doc_id", "text", idx)
    val plan = Search.phraseSearchIndex(spark, idx, Seq("spark", "scan"), k = 5)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("In(term"),
      s"term filter not pushed to the postings scan:\n$plan")
  }

  test("phrase retrievers reject empty phrases and bad k") {
    val docs = Seq((1L, "x")).toDF("doc_id", "text")
    intercept[IllegalArgumentException] {
      Search.phraseTopK(docs, "doc_id", "text", Nil, k = 1)
    }
    intercept[IllegalArgumentException] {
      Search.phraseTopK(docs, "doc_id", "text", Seq("x"), k = 0)
    }
    intercept[IllegalArgumentException] {
      Search.phraseSearchIndex(spark, "/nonexistent", Nil, k = 1)
    }
  }

  test("distinctiveTerms: exact integer tf-idf scores, rank order, minTf prune") {
    val docs = Seq(
      (1, "a", "Apple apple common"),
      (2, "a", "apple banana common"),
      (3, "b", "banana banana common common")
    ).toDF("doc_id", "source", "text")
    val out = Search.distinctiveTerms(docs, "doc_id", "text", "source",
        topK = 2, minTf = 1)
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toSet
    // group a: apple tf=3 df=2 -> 1500000; common tf=2 df=3 -> 666666
    // group b: banana tf=2 df=2 -> 1000000; common tf=2 df=3 -> 666666
    assert(out == Set(
      ("a", "apple", 3L, 2L, 1500000L),
      ("a", "common", 2L, 3L, 666666L),
      ("b", "banana", 2L, 2L, 1000000L),
      ("b", "common", 2L, 3L, 666666L)))
    // minTf=2 prunes group-a banana (tf=1) before it could ever rank
    val pruned = Search.distinctiveTerms(docs, "doc_id", "text", "source",
        topK = 3, minTf = 2)
      .filter(col("source") === "a").collect().map(_.getString(1)).toSet
    assert(pruned == Set("apple", "common"))
    intercept[IllegalArgumentException] {
      Search.distinctiveTerms(docs, "doc_id", "text", "source", topK = 0)
    }
  }

  test("bm25 append: build 3 + append 2 == one-shot build over all 5") {
    val dir = Files.createTempDirectory("bm25app").toString
    Search.buildBm25Index(corpus.filter($"doc_id" <= 3), "doc_id", "text",
      dir)
    Search.appendToBm25Index(corpus.filter($"doc_id" > 3), "doc_id", "text",
      dir)
    // identical serving to a one-shot build: stats are additive, df
    // resolves across the chain at query time
    assertSameRows(
      Search.bm25TopK(corpus, "doc_id", "text", Seq("spark", "filter"), k = 10),
      Search.bm25SearchIndex(spark, dir, Seq("spark", "filter"), k = 10))
    val stats = spark.read.parquet(
      graft.sources.IndexIO.resolve(spark, dir) + "/stats").head()
    assert(stats.getLong(0) == 5L, s"n_docs ${stats.getLong(0)} after append")
    // delete composes with the appended chain (corrects the merged
    // stats), and compact collapses it to one physically-live segment
    Search.deleteFromBm25Index(spark, dir, Seq(4L).toDF("doc_id"), "doc_id")
    val remaining = corpus.filter($"doc_id" =!= 4L)
    assertSameRows(
      Search.bm25TopK(remaining, "doc_id", "text", Seq("spark", "filter"), k = 10),
      Search.bm25SearchIndex(spark, dir, Seq("spark", "filter"), k = 10))
    Search.compactBm25Index(spark, dir)
    assert(graft.sources.IndexIO.segments(spark, dir).length == 1)
    assertSameRows(
      Search.bm25TopK(remaining, "doc_id", "text", Seq("spark", "filter"), k = 10),
      Search.bm25SearchIndex(spark, dir, Seq("spark", "filter"), k = 10))
    // an empty batch is a no-op, not a new version
    val v0 = graft.sources.IndexIO.resolve(spark, dir)
    Search.appendToBm25Index(corpus.filter($"doc_id" > 100), "doc_id", "text", dir)
    assert(graft.sources.IndexIO.resolve(spark, dir) == v0)
  }

  test("bm25 delete-then-append: layout probe survives a tombstone-only segment") {
    // a delete publishes tombstones + stats but NO postings table, so the
    // append must read what it needs through the chain, never from the
    // latest version dir (regression: threw path-not-found here,
    // breaking the documented composition)
    val dir = Files.createTempDirectory("bm25delapp").toString
    Search.buildBm25Index(corpus.filter($"doc_id" <= 3), "doc_id", "text",
      dir)
    Search.deleteFromBm25Index(spark, dir, Seq(2L).toDF("doc_id"), "doc_id")
    Search.appendToBm25Index(corpus.filter($"doc_id" > 3), "doc_id", "text",
      dir)
    val live = corpus.filter($"doc_id" =!= 2L)
    assertSameRows(
      Search.bm25TopK(live, "doc_id", "text", Seq("spark", "filter"), k = 10),
      Search.bm25SearchIndex(spark, dir, Seq("spark", "filter"), k = 10))
  }

  test("lexical delete-then-append: layout probe survives a tombstone-only segment") {
    val dir = Files.createTempDirectory("lexdelapp").toString
    Search.buildLexicalIndex(corpus.filter($"doc_id" <= 3), "doc_id", "text",
      dir)
    // the stats-correcting delete: BOTH legs stay exact after the append
    Search.deleteFromBm25Index(spark, dir, Seq(2L).toDF("doc_id"), "doc_id")
    Search.appendToLexicalIndex(corpus.filter($"doc_id" > 3), "doc_id", "text",
      dir)
    val live = corpus.filter($"doc_id" =!= 2L)
    assertSameRows(
      Search.bm25TopK(live, "doc_id", "text", Seq("spark", "filter"), k = 10),
      Search.bm25SearchIndex(spark, dir, Seq("spark", "filter"), k = 10))
    assertSameRows(
      Search.phraseTopK(live, "doc_id", "text", Seq("scan", "filter"), k = 10),
      Search.phraseSearchIndex(spark, dir, Seq("scan", "filter"), k = 10))
    // a POSITIONAL delete publishes tombstones with neither postings nor
    // stats: the append must still resolve the prior stats from
    // the chain (regression: both reads threw on the latest version
    // dir). Phrase scoring is stats-independent, so it stays exact; the
    // BM25 leg serves with stats as-of the last stats-publishing op by
    // documented contract, so only its liveness is asserted here.
    val dir2 = Files.createTempDirectory("lexdelapp_pos").toString
    Search.buildLexicalIndex(corpus.filter($"doc_id" <= 3), "doc_id", "text",
      dir2)
    Search.deleteFromPositionalIndex(spark, dir2, Seq(2L).toDF("doc_id"), "doc_id")
    Search.appendToLexicalIndex(corpus.filter($"doc_id" > 3), "doc_id", "text",
      dir2)
    assertSameRows(
      Search.phraseTopK(live, "doc_id", "text", Seq("scan", "filter"), k = 10),
      Search.phraseSearchIndex(spark, dir2, Seq("scan", "filter"), k = 10))
    assert(Search.bm25SearchIndex(spark, dir2, Seq("spark", "filter"), k = 10)
      .collect().map(_.getLong(0)).toSet == Set(1L, 3L, 4L))
  }

  test("positional append: served phrase results == inline scan over the union") {
    val dir = Files.createTempDirectory("posapp").toString
    Search.buildPositionalIndex(corpus.filter($"doc_id" <= 2), "doc_id", "text",
      dir)
    Search.appendToPositionalIndex(corpus.filter($"doc_id" > 2), "doc_id", "text",
      dir)
    assertSameRows(
      Search.phraseTopK(corpus, "doc_id", "text", Seq("scan", "filter"), k = 10),
      Search.phraseSearchIndex(spark, dir, Seq("scan", "filter"), k = 10))
    // tombstone delete + compact keep the identity with the shrunk corpus
    Search.deleteFromPositionalIndex(spark, dir, Seq(4L).toDF("doc_id"), "doc_id")
    val remaining = corpus.filter($"doc_id" =!= 4L)
    assertSameRows(
      Search.phraseTopK(remaining, "doc_id", "text", Seq("scan", "filter"), k = 10),
      Search.phraseSearchIndex(spark, dir, Seq("scan", "filter"), k = 10))
    Search.compactPositionalIndex(spark, dir)
    assert(graft.sources.IndexIO.segments(spark, dir).length == 1)
    assertSameRows(
      Search.phraseTopK(remaining, "doc_id", "text", Seq("scan", "filter"), k = 10),
      Search.phraseSearchIndex(spark, dir, Seq("scan", "filter"), k = 10))
    val live = spark.read.parquet(
      graft.sources.IndexIO.resolve(spark, dir) + "/postings")
      .select("doc_id").distinct().as[Long].collect().toSet
    assert(!live.contains(4L))
    // empty batch is a no-op
    val v0 = graft.sources.IndexIO.resolve(spark, dir)
    Search.appendToPositionalIndex(corpus.filter($"doc_id" > 100), "doc_id", "text", dir)
    assert(graft.sources.IndexIO.resolve(spark, dir) == v0)
  }

  test("unified lexical index serves BM25, phrase, and the fused hybrid") {
    val dir = Files.createTempDirectory("lexuni").toString
    Search.buildLexicalIndex(corpus, "doc_id", "text", dir)
    // BM25 serving prunes positions — identical to the inline scan
    assertSameRows(
      Search.bm25TopK(corpus, "doc_id", "text", Seq("spark", "filter"), k = 10),
      Search.bm25SearchIndex(spark, dir, Seq("spark", "filter"), k = 10))
    // phrase serving prunes tf — identical to the inline scan
    assertSameRows(
      Search.phraseTopK(corpus, "doc_id", "text", Seq("scan", "filter"), k = 10),
      Search.phraseSearchIndex(spark, dir, Seq("scan", "filter"), k = 10))
    // fused hybrid == scalar RRF of the two leg rank lists
    val docs = corpus.as[(Long, String)].collect().toSeq
    val lexRanks = expectedScores(docs, Seq("spark", "filter")).toSeq
      .sortBy { case (id, (s, _)) => (-s, id) }
      .zipWithIndex.map { case ((id, _), i) => id -> (i + 1) }.toMap
    val phraseCounts = docs.map { case (id, t) =>
      val toks = t.split("\\s+").filter(_.nonEmpty)
      id -> toks.sliding(2).count(_.sameElements(Array("scan", "filter")))
    }.filter(_._2 > 0)
    val phraseRanks = phraseCounts.sortBy { case (id, n) => (-n, id) }
      .zipWithIndex.map { case ((id, _), i) => id -> (i + 1) }.toMap
    val expect = (lexRanks.keySet ++ phraseRanks.keySet).toSeq.map { id =>
      val rrf = lexRanks.get(id).map(r => 1.0 / (60 + r)).getOrElse(0.0) +
        phraseRanks.get(id).map(r => 1.0 / (60 + r)).getOrElse(0.0)
      (id, math.floor(rrf * 1e6) / 1e6)
    }.sortBy { case (id, r) => (-r, id) }.take(5)
    val got = Search.hybridLexicalPhraseTopK(spark, dir,
        Seq("spark", "filter"), Seq("scan", "filter"), k = 5, fetchK = 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got == expect)
    // append lifecycle: additive stats, chain-resolved df, positions ride along
    val dir2 = Files.createTempDirectory("lexuni2").toString
    Search.buildLexicalIndex(corpus.filter($"doc_id" <= 3), "doc_id", "text",
      dir2)
    Search.appendToLexicalIndex(corpus.filter($"doc_id" > 3), "doc_id", "text",
      dir2)
    assertSameRows(
      Search.bm25SearchIndex(spark, dir, Seq("spark", "filter"), k = 10),
      Search.bm25SearchIndex(spark, dir2, Seq("spark", "filter"), k = 10))
    assertSameRows(
      Search.phraseSearchIndex(spark, dir, Seq("scan", "filter"), k = 10),
      Search.phraseSearchIndex(spark, dir2, Seq("scan", "filter"), k = 10))
  }

  test("unified lexical index: delete + compact keep BOTH retrievers green") {
    val dir = Files.createTempDirectory("lexuni_del").toString
    Search.buildLexicalIndex(corpus, "doc_id", "text", dir)
    // deleteFromBm25Index works unchanged on the unified layout (the
    // artifact carries lengths + stats), and the tombstone chain
    // applies to BOTH serving paths
    Search.deleteFromBm25Index(spark, dir, Seq(4L).toDF("doc_id"), "doc_id")
    val remaining = corpus.filter($"doc_id" =!= 4L)
    assertSameRows(
      Search.bm25TopK(remaining, "doc_id", "text", Seq("spark", "filter"), k = 10),
      Search.bm25SearchIndex(spark, dir, Seq("spark", "filter"), k = 10))
    assertSameRows(
      Search.phraseTopK(remaining, "doc_id", "text", Seq("scan", "filter"), k = 10),
      Search.phraseSearchIndex(spark, dir, Seq("scan", "filter"), k = 10))
    // compactBm25Index rewrites the full postings schema, so the
    // positional payload survives compaction
    Search.compactBm25Index(spark, dir)
    assert(graft.sources.IndexIO.segments(spark, dir).length == 1)
    assert(spark.read.parquet(
        graft.sources.IndexIO.resolve(spark, dir) + "/postings")
      .columns.contains("positions"))
    assertSameRows(
      Search.phraseTopK(remaining, "doc_id", "text", Seq("scan", "filter"), k = 10),
      Search.phraseSearchIndex(spark, dir, Seq("scan", "filter"), k = 10))
  }

  test("compactToLexicalIndex merges separate BM25 + positional chains") {
    val bm = Files.createTempDirectory("lexmerge_bm").toString
    val pos = Files.createTempDirectory("lexmerge_pos").toString
    val out = Files.createTempDirectory("lexmerge_out").toString
    Search.buildBm25Index(corpus.filter($"doc_id" <= 3), "doc_id", "text", bm)
    Search.buildPositionalIndex(corpus.filter($"doc_id" <= 3), "doc_id", "text",
      pos)
    // lockstep appends, then one consolidation compact
    Search.appendToBm25Index(corpus.filter($"doc_id" > 3), "doc_id", "text", bm)
    Search.appendToPositionalIndex(corpus.filter($"doc_id" > 3), "doc_id", "text", pos)
    Search.compactToLexicalIndex(spark, bm, pos, out)
    assert(graft.sources.IndexIO.segments(spark, out).length == 1)
    assertSameRows(
      Search.bm25TopK(corpus, "doc_id", "text", Seq("spark", "filter"), k = 10),
      Search.bm25SearchIndex(spark, out, Seq("spark", "filter"), k = 10))
    assertSameRows(
      Search.phraseTopK(corpus, "doc_id", "text", Seq("scan", "filter"), k = 10),
      Search.phraseSearchIndex(spark, out, Seq("scan", "filter"), k = 10))
    // diverged chains (delete applied to one side only) fail loudly
    Search.deleteFromPositionalIndex(spark, pos, Seq(2L).toDF("doc_id"), "doc_id")
    intercept[IllegalArgumentException] {
      Search.compactToLexicalIndex(spark, bm, pos,
        Files.createTempDirectory("lexmerge_bad").toString)
    }
  }

  test("hybridRrfTopK rejects bad arguments") {
    intercept[IllegalArgumentException] {
      Search.hybridRrfTopK(corpus, vectors, "doc_id", "text", "vec_id",
        "embedding", Seq("spark"), Array.empty[Double], k = 1)
    }
    intercept[IllegalArgumentException] {
      Search.hybridRrfTopK(corpus, vectors, "doc_id", "text", "vec_id",
        "embedding", Seq("spark"), Array(Double.NaN), k = 1)
    }
    intercept[IllegalArgumentException] {
      Search.hybridRrfTopK(corpus, vectors, "doc_id", "text", "vec_id",
        "embedding", Seq("spark"), Array(0.0, 0.0), k = 1)
    }
    intercept[IllegalArgumentException] {
      Search.hybridRrfTopK(corpus, vectors, "doc_id", "text", "vec_id",
        "embedding", Seq("spark"), Array(1.0), k = 5, fetchK = 0)
    }
  }
}
