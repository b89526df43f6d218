package graft.operators

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
import org.apache.spark.sql.functions._

import graft.SparkSpec

class DecontaminateSuite extends SparkSpec with AdaptiveSparkPlanHelper {
  import spark.implicits._

  private val train = Seq(
    (1L, "a b c d e f"),        // shares "b c d" + "c d e" + "b c d e" windows with eval 10
    (2L, "x y z w q r"),        // no overlap
    (3L, "c d e zz yy"),        // shares "c d e" with eval 10
    (4L, "one two")             // too short for n=3: no shingles
  ).toDF("doc_id", "text")

  private val evalSet = Seq(
    (10L, "b c d e"),
    (11L, "completely different words here")
  ).toDF("doc_id", "text")

  test("ngramOverlap flags exactly the docs sharing an n-gram, with exact counts") {
    val out = Decontaminate.ngramOverlap(train, evalSet, "doc_id", "text", n = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .sortBy(_._1)
    // doc 1: shingles {abc,bcd,cde,def} (4); eval has {bcd,cde} → 2 shared
    // doc 3: shingles {cde,dezz,zzyy...} → exactly "c d e" shared (1 of 3)
    assert(out.toSeq == Seq(
      (1L, 2L, 4L, 0.5),
      (3L, 1L, 3L, 0.3333)))
  }

  test("clean corpus and sub-n docs produce no rows") {
    val clean = train.filter($"doc_id" === 2L || $"doc_id" === 4L)
    assert(Decontaminate.ngramOverlap(clean, evalSet, "doc_id", "text", n = 3).count() == 0)
  }

  test("pairs attribute the contamination to the right eval doc") {
    val pairs = Decontaminate.ngramOverlapPairs(train, evalSet, "doc_id", "text", n = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(p => (p._1, p._2))
    assert(pairs.toSeq == Seq((1L, 10L, 2L), (3L, 10L, 1L)))
  }

  test("contaminationReport rolls pairs up per eval item") {
    // with the suite fixture: eval doc 10 is hit by train docs 1
    // (2 shared shingles) and 3 (1 shared) — one report row
    val rep = Decontaminate.contaminationReport(
        train, evalSet, "doc_id", "text", n = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rep.toSeq == Seq((10L, 2L, 3L, 2L)))
    // a clean eval set reports nothing
    val clean = train.filter($"doc_id" === 2L || $"doc_id" === 4L)
    assert(Decontaminate.contaminationReport(
      clean, evalSet, "doc_id", "text", n = 3).count() == 0)
  }

  test("eval side broadcasts (the 100 TB-corpus plan shape)") {
    val plan = Decontaminate.ngramOverlap(train, evalSet, "doc_id", "text", n = 3)
      .queryExecution.executedPlan
    assert(collectBroadcasts(plan).nonEmpty, s"no broadcast exchange in:\n$plan")
  }

  test("broadcastEval=false still returns identical rows") {
    val a = Decontaminate.ngramOverlap(train, evalSet, "doc_id", "text", n = 3, broadcastEval = false)
    val b = Decontaminate.ngramOverlap(train, evalSet, "doc_id", "text", n = 3)
    assertSameRows(a.orderBy("doc_id"), b.orderBy("doc_id"))
  }

  test("bloom prefilter path is output-identical to the exact path") {
    val a = Decontaminate.ngramOverlapBloom(train, evalSet, "doc_id", "text", n = 3)
    val b = Decontaminate.ngramOverlap(train, evalSet, "doc_id", "text", n = 3)
    assertSameRows(a.orderBy("doc_id"), b.orderBy("doc_id"))
  }

  test("bloom false positives die in the exact confirm (adversarial fpp)") {
    // a near-useless filter (fpp 0.5) floods the confirm join with
    // false candidates on a 200-doc clean corpus; output must still be
    // exactly the exact path's
    val bigTrain = (train.collect().map(r => (r.getLong(0), r.getString(1))) ++
      (100L until 300L).map(i => (i, s"clean doc ${i} body ${i * 7} tail ${i * 13} pad end")))
      .toSeq.toDF("doc_id", "text")
    val a = Decontaminate.ngramOverlapBloom(bigTrain, evalSet, "doc_id", "text",
      n = 3, fpp = 0.5)
    val b = Decontaminate.ngramOverlap(bigTrain, evalSet, "doc_id", "text", n = 3)
    assertSameRows(a.orderBy("doc_id"), b.orderBy("doc_id"))
  }

  test("kernel-side xxhash64 equals the codegen expression (seed 42, UTF-8)") {
    val strs = Seq("", "a", "b c d", "unicode: é ü 漢字", "tok_123_456", " spaces  ")
    val viaExpr = strs.toDF("s").select(xxhash64($"s")).collect().map(_.getLong(0))
    val viaKernel = strs.map(Decontaminate.sparkXxhash64)
    assert(viaExpr.toSeq == viaKernel, s"expr=${viaExpr.toSeq} kernel=$viaKernel")
  }

  test("containment catches an eval item embedded in a long doc where Jaccard fails") {
    val longDoc = (1 to 200).map(i => s"w$i").mkString(" ") + " b c d e " +
      (201 to 400).map(i => s"w$i").mkString(" ")
    val tr = Seq((50L, longDoc)).toDF("doc_id", "text")
    val out = Decontaminate.containmentPairs(tr, evalSet, "doc_id", "text",
        n = 3, minContainment = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
    // eval 10 = "b c d e": both its shingles {bcd, cde} occur in the page
    assert(out.toSeq == Seq((50L, 10L, 2L, 2L, 1.0)))
    // while symmetric Jaccard on the same pair is ~2/400 — far below any
    // dedup threshold (the geometry this operator exists for)
    val jac = Dedup.ngramJaccardJoin(
      tr, "doc_id", "text",
      evalSet.filter($"doc_id" === 10L), "doc_id", "text", n = 3, threshold = 0.0)
    val j = jac.collect()(0).getAs[Double]("jaccard")
    assert(j < 0.02, s"jaccard unexpectedly high: $j")
  }

  test("containment respects the threshold and counts per eval item") {
    val out = Decontaminate.containmentPairs(train, evalSet, "doc_id", "text",
        n = 3, minContainment = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(4))).sortBy(p => (p._1, p._2))
    // eval 10 has 2 shingles; doc 1 contains both (1.0), doc 3 one (0.5)
    assert(out.toSeq == Seq((1L, 10L, 1.0), (3L, 10L, 0.5)))
  }

  test("applyEvalIndexCdc: one marked segment; replay cannot re-apply the retraction") {
    val evalA = Seq((100L, "the quick brown fox jumps over the lazy dog"))
      .toDF("doc_id", "text")
    val evalB = Seq((101L, "pack my box with five dozen liquor jugs"))
      .toDF("doc_id", "text")
    val evalC = Seq((102L, "sphinx of black quartz judge my vow today"))
      .toDF("doc_id", "text")
    val idx = java.nio.file.Files.createTempDirectory("graft_eval_cdc1_").toString
    Decontaminate.buildEvalIndex(evalA.union(evalB), "text", idx, n = 3)
    val segs0 = graft.sources.IndexIO.segments(spark, idx).length
    // one CDC batch: add evalC, withdraw evalB — a single atomic segment
    Decontaminate.applyEvalIndexCdc(evalC, evalB, "text", idx,
      marker = Some("b1-atom"))
    assert(graft.sources.IndexIO.segments(spark, idx).length == segs0 + 1,
      "adds+withdrawals must publish exactly ONE segment")
    assert(graft.sources.IndexIO.segmentMarkers(spark, idx).contains("b1-atom"))
    def liveHashes() = Decontaminate.evalIndexHashes(spark, idx)
      .as[Long].collect().toSet
    def oneShot(df: org.apache.spark.sql.DataFrame) = {
      val d = java.nio.file.Files.createTempDirectory("graft_eval_os_").toString
      Decontaminate.buildEvalIndex(df, "text", d, n = 3)
      Decontaminate.evalIndexHashes(spark, d).as[Long].collect().toSet
    }
    val expected = oneShot(evalA.union(evalC))
    assert(liveHashes() == expected)
    // crash-replay with the live marker: skipped as a whole — the
    // round-17 two-publish form would re-run the unmarked retraction
    // and zero hashes evalA still needs
    val applied = graft.streaming.Streaming.applyIndexBatch(
      spark, idx, "b1-atom") { fail("bootstrap must not run") } {
      Decontaminate.applyEvalIndexCdc(evalC, evalB, "text", idx,
        marker = Some("b1-atom"))
    }
    assert(!applied)
    assert(liveHashes() == expected)
    Decontaminate.compactEvalIndex(spark, idx)
    assert(liveHashes() == expected)
  }

  test("evalIndexHashes refuses an index without the current format stamp") {
    val evalA = Seq((100L, "the quick brown fox jumps over the lazy dog"))
      .toDF("doc_id", "text")
    val idx = java.nio.file.Files.createTempDirectory("graft_eval_unstamped_").toString
    Decontaminate.buildEvalIndex(evalA, "text", idx, n = 3)
    restampSegments(idx)
    val e = intercept[IllegalStateException] {
      Decontaminate.evalIndexHashes(spark, idx)
    }
    assert(e.getMessage.contains(idx) && e.getMessage.contains("unstamped") &&
      e.getMessage.contains(s"expected format ${graft.sources.IndexIO.FormatVersion}") &&
      e.getMessage.contains("rebuild"), e.getMessage)
  }

  private def collectBroadcasts(plan: SparkPlan): Seq[SparkPlan] =
    collectWithSubqueries(plan) { case b: BroadcastExchangeExec => b }
}
