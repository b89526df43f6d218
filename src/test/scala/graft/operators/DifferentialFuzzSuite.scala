package graft.operators

import java.sql.Timestamp
import java.time.Duration

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkSpec

/** Seeded differential fuzzing of the join operators against their
  * naive forms — the reference's cross-implementation-oracle technique
  * (test/test_ops.py:37-48) pushed across types, magnitudes, and
  * tolerances in one sweep. Every rewrite (bucketed band join, range
  * exec routing, unbounded as-of) must agree with the plain Catalyst
  * plan on every generated input, including extreme magnitudes and
  * duplicate-heavy keys.
  */
class DifferentialFuzzSuite extends SparkSpec {
  import spark.implicits._

  private val rounds = 8

  test("FuzzyJoin.numeric == naive across magnitudes/types/tolerances") {
    val rnd = new scala.util.Random(101)
    for (round <- 0 until rounds) {
      val tol = math.pow(10, rnd.nextInt(6) - 2) * (rnd.nextDouble() + 0.1)
      val magnitude = math.pow(10, rnd.nextInt(8))
      def vals(n: Int) = (0 until n).map(_ =>
        (rnd.nextGaussian() * magnitude * 0.01).round * tol / 2 + rnd.nextGaussian())
      val l = vals(50).zipWithIndex.map(_.swap).toDF("lid", "v")
      val r = vals(40).zipWithIndex.map { case (v, i) => (i + 100, v) }.toDF("rid", "w")
      val fast = FuzzyJoin.numeric(l, r, tol, leftOn = Some("v"), rightOn = Some("w"))
      val naive = FuzzyJoin.naive(l, r, tol, leftOn = Some("v"), rightOn = Some("w"))
      assert(rowSet(fast.select("lid", "rid")) == rowSet(naive.select("lid", "rid")),
        s"round $round tol=$tol magnitude=$magnitude")
    }
  }

  test("FuzzyJoin integral path == BigInt ground truth at random long magnitudes") {
    val rnd = new scala.util.Random(202)
    for (round <- 0 until rounds) {
      val shift = rnd.nextInt(62)
      val base = (rnd.nextLong() >> shift) << shift // varied magnitude
      val spread = math.max(10L, math.abs(base) >> 40)
      def vals(n: Int) = (0 until n).map(_ => base + rnd.nextLong(2 * spread + 1) - spread)
      val tol = rnd.nextDouble() * spread
      val lv = vals(40).zipWithIndex.map(_.swap)
      val rv = vals(40).zipWithIndex.map { case (v, i) => (i + 100, v) }
      val tolL = math.max(0L, math.floor(tol).toLong)
      val expected = (for {
        (li, a) <- lv; (ri, b) <- rv
        if (BigInt(a) - BigInt(b)).abs <= tolL
      } yield Seq(li.toString, ri.toString)).toSet
      if (tol >= 1) { // operator requires tol > 0 and floor >= 1 to be meaningful
        val out = FuzzyJoin.numeric(
          lv.toDF("lid", "v"), rv.toDF("rid", "w"), tol,
          leftOn = Some("v"), rightOn = Some("w"))
        assert(rowSet(out.select("lid", "rid")) == expected,
          s"round $round base=$base tol=$tol")
      }
    }
  }

  test("FuzzyJoin.decimal == driver-side BigDecimal ground truth") {
    val rnd = new scala.util.Random(303)
    for (round <- 0 until rounds) {
      val scale = rnd.nextInt(4)
      def dec(): java.math.BigDecimal =
        new java.math.BigDecimal(rnd.nextLong(2000000) - 1000000)
          .movePointLeft(scale).setScale(scale)
      val tol = new java.math.BigDecimal(rnd.nextLong(500) + 1).movePointLeft(scale)
        .setScale(scale)
      val lv = (0 until 40).map(i => (i, dec()))
      val rv = (0 until 40).map(i => (i + 100, dec()))
      val expected = (for {
        (li, a) <- lv; (ri, b) <- rv
        if a.subtract(b).abs.compareTo(tol) <= 0
      } yield Seq(li.toString, ri.toString)).toSet
      val dt = DecimalType(12, scale)
      val l = lv.toDF("lid", "v").withColumn("v", col("v").cast(dt))
      val r = rv.toDF("rid", "w").withColumn("w", col("w").cast(dt))
      val out = FuzzyJoin.decimal(l, r, tol, leftOn = Some("v"), rightOn = Some("w"))
      assert(rowSet(out.select("lid", "rid")) == expected, s"round $round scale=$scale")
    }
  }

  test("FuzzyJoin.time == driver-side ground truth on epoch micros") {
    val rnd = new scala.util.Random(404)
    for (round <- 0 until rounds) {
      val base = 1700000000000000L + rnd.nextLong(100000000000L)
      val tolUs = rnd.nextLong(100000000L) + 1
      def ts(n: Int) = (0 until n).map(_ => base + rnd.nextLong(4 * tolUs) - 2 * tolUs)
      val lv = ts(40).zipWithIndex.map(_.swap)
      val rv = ts(40).zipWithIndex.map { case (v, i) => (i + 100, v) }
      val expected = (for {
        (li, a) <- lv; (ri, b) <- rv; if math.abs(a - b) <= tolUs
      } yield Seq(li.toString, ri.toString)).toSet
      def toDf(vs: Seq[(Int, Long)], id: String, c: String) =
        vs.toDF(id, "__us").withColumn(c, timestamp_micros(col("__us"))).drop("__us")
      val out = FuzzyJoin.time(
        toDf(lv, "lid", "v"), toDf(rv, "rid", "w"),
        Duration.ofNanos(tolUs * 1000), leftOn = Some("v"), rightOn = Some("w"))
      assert(rowSet(out.select("lid", "rid")) == expected, s"round $round tolUs=$tolUs")
    }
  }

  test("IneqJoin == plain non-equi join for random data and all operators") {
    val rnd = new scala.util.Random(505)
    for (round <- 0 until rounds) {
      val how = Seq("<", "<=", ">=", ">")(rnd.nextInt(4))
      val dup = rnd.nextInt(5) + 1 // duplicate-heavy keys sometimes
      def vals(n: Int) = (0 until n).map(_ => (rnd.nextInt(30) / dup).toDouble)
      val l = vals(60).zipWithIndex.map(_.swap).toDF("lid", "v")
      val r = vals(50).zipWithIndex.map { case (v, i) => (i + 100, v) }.toDF("rid", "w")
      val out = IneqJoin(l, r, how, leftOn = Some("v"), rightOn = Some("w"))
      val cond = how match {
        case "<" => col("v") < col("w")
        case "<=" => col("v") <= col("w")
        case ">=" => col("v") >= col("w")
        case ">" => col("v") > col("w")
      }
      val naive = l.join(r, cond, "inner")
      assert(rowSet(out.select("lid", "rid")) == rowSet(naive.select("lid", "rid")),
        s"round $round how=$how dup=$dup")
    }
  }

  test("ThetaJoin Column and UDF forms == crossJoin + filter") {
    val rnd = new scala.util.Random(606)
    for (round <- 0 until rounds) {
      val m = rnd.nextInt(7) + 2
      val l = (0 until 40).map(i => (i, rnd.nextInt(100))).toDF("lid", "a")
      val r = (0 until 30).map(i => (i + 100, rnd.nextInt(100))).toDF("rid", "b")
      val exprForm = ThetaJoin(l, r, (x, y) => x % m === y % m,
        leftOn = Some("a"), rightOn = Some("b"))
      val udfForm = ThetaJoin.udf[Int, Int](l, r, (x: Int, y: Int) => x % m == y % m,
        leftOn = Some("a"), rightOn = Some("b"))
      val naive = l.crossJoin(r).filter(col("a") % m === col("b") % m)
      val want = rowSet(naive.select("lid", "rid"))
      assert(rowSet(exprForm.select("lid", "rid")) == want, s"round $round m=$m expr")
      assert(rowSet(udfForm.select("lid", "rid")) == want, s"round $round m=$m udf")
    }
  }

  test("AsOfJoin.unbounded == window-computed ground truth on random data") {
    val rnd = new scala.util.Random(707)
    for (round <- 0 until rounds) {
      val spreadPow = rnd.nextInt(4) + 1
      val spread = math.pow(10, spreadPow).toInt
      val ls = (0 until 70).map(i => (i, rnd.nextInt(spread)))
      val rs = (0 until 35).map(i => (1000 + i, rnd.nextInt(spread)))
      for (dir <- Seq("backward", "forward")) {
        val backward = dir == "backward"
        val expected = ls.flatMap { case (lid, v) =>
          val cand = if (backward) rs.filter(_._2 <= v) else rs.filter(_._2 >= v)
          if (cand.isEmpty) None
          else {
            val bw = if (backward) cand.map(_._2).max else cand.map(_._2).min
            val ties = cand.filter(_._2 == bw).map(_._1)
            Some(Seq(lid.toString, (if (backward) ties.max else ties.min).toString))
          }
        }.toSet
        val out = AsOfJoin.unbounded(
          ls.toDF("lid", "v"), rs.toDF("rid", "w"), rightId = "rid",
          leftOn = Some("v"), rightOn = Some("w"), direction = dir)
        assert(rowSet(out.select("lid", "rid")) == expected, s"round $round $dir")
      }
    }
  }

  test("AsOfJoin.time == scalar model across directions and tolerances") {
    val rnd = new scala.util.Random(909)
    val base = Timestamp.valueOf("2024-01-01 00:00:00").getTime
    def ts(off: Long) = new Timestamp(base + off)
    for (round <- 0 until rounds) {
      val horizonMs = 1000L * (1 + rnd.nextInt(500))
      val tolMs = 1L + rnd.nextInt(60000)
      // duplicate-heavy timestamps: collisions exercise every tie rule
      val ls = (0 until 50).map(i => (i, ts(rnd.between(0L, horizonMs))))
      val rs = (0 until 30).map(i => (100 + i, ts(rnd.between(0L, horizonMs))))
      for (dir <- Seq("nearest", "backward", "forward")) {
        val expected = ls.flatMap { case (lid, lt) =>
          val cand = rs.filter { case (_, rt) =>
            val d = lt.getTime - rt.getTime
            dir match {
              case "nearest"  => math.abs(d) <= tolMs
              case "backward" => d >= 0 && d <= tolMs
              case "forward"  => d <= 0 && -d <= tolMs
            }
          }
          if (cand.isEmpty) None
          else {
            // documented tie chain: smallest |delta|, earlier right ts,
            // smallest rightId
            val best = cand.minBy { case (rid, rt) =>
              (math.abs(lt.getTime - rt.getTime), rt.getTime, rid.toLong) }
            Some(Seq(lid.toString, best._1.toString))
          }
        }.toSet
        val out = AsOfJoin.time(ls.toDF("lid", "lts"), rs.toDF("rid", "rts"),
          Duration.ofMillis(tolMs), rightId = "rid",
          leftOn = Some("lts"), rightOn = Some("rts"), direction = dir)
        assert(rowSet(out.select("lid", "rid")) == expected,
          s"round $round $dir tol=${tolMs}ms")
      }
    }
  }

  test("IncrementalPacker over random ragged id-ordered splits == packGreedy") {
    val rnd = new scala.util.Random(313)
    for (round <- 0 until rounds) {
      val n = 30 + rnd.nextInt(40)
      val docs = (0L until n.toLong).map(i => (i, 1L + rnd.nextInt(50)))
      val maxLen = 32L + rnd.nextInt(96)
      val chunkW = 5 + rnd.nextInt(12)
      val chunkE = expr(s"doc_id div $chunkW")
      val bounds = ((0 until 1 + rnd.nextInt(4)).map(_ => rnd.nextInt(n)) ++ Seq(0, n))
        .distinct.sorted
      val packer = new Packing.IncrementalPacker("doc_id", "n_tokens", maxLen, chunkE)
      val got = bounds.sliding(2).flatMap { case Seq(a, b) =>
        packer.addBatch(docs.slice(a, b).toDF("doc_id", "n_tokens")).collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      }.toSet
      val oneShot = Packing.packGreedy(docs.toDF("doc_id", "n_tokens"),
          "doc_id", "n_tokens", maxLen, chunkE)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
      assert(got == oneShot,
        s"round $round maxLen=$maxLen chunkW=$chunkW bounds=$bounds")
    }
  }

  test("BM25 index chain (build + appends + delete) == one-shot scan, random corpora") {
    // the stats-additivity and chain-resolved-df claims under MANY
    // segments and random splits — the single fixed-split spec can't
    // catch an ordering assumption here
    val rnd = new scala.util.Random(1717)
    val vocab = Vector("alpha", "beta", "gamma", "delta", "run", "jump",
      "spark", "scan", "fil", "ter")
    for (round <- 0 until 3) {
      val n = 20 + rnd.nextInt(20)
      val docs = (0L until n.toLong).map { i =>
        (i, Seq.fill(1 + rnd.nextInt(12))(vocab(rnd.nextInt(vocab.size))).mkString(" "))
      }
      val df = docs.toDF("doc_id", "text")
      val dir = java.nio.file.Files.createTempDirectory(s"bm25fuzz$round").toString
      // random 3-way split: build the first, append the other two
      val cut1 = 1 + rnd.nextInt(n - 2)
      val cut2 = cut1 + 1 + rnd.nextInt(n - cut1 - 1)
      Search.buildBm25Index(df.filter($"doc_id" < cut1), "doc_id", "text",
        dir)
      Search.appendToBm25Index(df.filter($"doc_id" >= cut1 && $"doc_id" < cut2),
        "doc_id", "text", dir)
      Search.appendToBm25Index(df.filter($"doc_id" >= cut2), "doc_id", "text",
        dir)
      val terms = Seq.fill(2 + rnd.nextInt(2))(vocab(rnd.nextInt(vocab.size))).distinct
      assertSameRows(
        Search.bm25TopK(df, "doc_id", "text", terms, k = 10),
        Search.bm25SearchIndex(spark, dir, terms, k = 10))
      // delete a random subset across segments, serve again
      val dead = (0 until 1 + rnd.nextInt(4)).map(_ => rnd.nextInt(n).toLong).distinct
      Search.deleteFromBm25Index(spark, dir, dead.toDF("doc_id"), "doc_id")
      assertSameRows(
        Search.bm25TopK(df.filter(!$"doc_id".isin(dead: _*)), "doc_id", "text",
          terms, k = 10),
        Search.bm25SearchIndex(spark, dir, terms, k = 10))
    }
  }

  test("DSIR: in-row serving == groupBy scorer == appended chain, random corpora") {
    // the three score paths (batch groupBy, dense-array in-row, chain-
    // summed profiles) must agree EXACTLY — the fixed-corpus spec can't
    // catch a bucket-collision or smoothing-denominator assumption that
    // only random vocab shapes and bucket counts expose
    val rnd = new scala.util.Random(4242)
    val vocab = Vector("alpha", "beta", "gamma", "delta", "run", "jump",
      "spark", "scan", "fil", "ter", "zz", "q")
    for (round <- 0 until 3) {
      val buckets = Seq(64, 257, 1024)(round) // incl. a prime
      val n = 20 + rnd.nextInt(20)
      val docs = (0L until n.toLong).map { i =>
        (i, Seq.fill(rnd.nextInt(14))(vocab(rnd.nextInt(vocab.size))).mkString(" "))
      }
      val df = docs.toDF("doc_id", "text")
      val target = df.filter($"doc_id" % 4 === 0)
      val grouped = Dsir.importanceScoreAgainst(
        df, "doc_id", "text", target, "text", buckets)
      // in-row: same grid longs summed in the row
      val ratio = Dsir.ratioArray(
        Dsir.ngramProfile(target, "text", buckets),
        Dsir.ngramProfile(df, "text", buckets), buckets)
      val inRow = df
        .select($"doc_id", Dsir.scoreInRow($"text", ratio, buckets).as("s"))
        .filter($"s.n_ngrams" > 0)
        .select($"doc_id", $"s.n_ngrams".as("n_ngrams"), $"s.logw".as("logw"))
      assertSameRows(grouped.orderBy("doc_id"), inRow.orderBy("doc_id"))
      // chain: random 3-way raw split, build + 2 appends
      val dir = java.nio.file.Files.createTempDirectory(s"dsirfuzz$round").toString
      val cut1 = 1 + rnd.nextInt(n - 2)
      val cut2 = cut1 + 1 + rnd.nextInt(n - cut1 - 1)
      Dsir.buildDsirIndex(target, "text",
        df.filter($"doc_id" < cut1), "text", buckets, dir)
      Dsir.appendToDsirIndex(
        df.filter($"doc_id" >= cut1 && $"doc_id" < cut2), "text", dir)
      Dsir.appendToDsirIndex(df.filter($"doc_id" >= cut2), "text", dir)
      val (tp, rp) = Dsir.dsirIndexProfiles(spark, dir)
      assertSameRows(
        grouped.orderBy("doc_id"),
        Dsir.importanceScore(df, "doc_id", "text", tp, rp, buckets)
          .orderBy("doc_id"))
    }
  }

  test("Streaming.asOfJoin batch plan == brute-force model on random data") {
    import graft.streaming.Streaming
    import Streaming.AsOfEvent
    val rnd = new scala.util.Random(808)
    val base = Timestamp.valueOf("2024-01-01 00:00:00").getTime
    def t(offSec: Int) = new Timestamp(base + offSec * 1000L)
    for (round <- 0 until rounds) {
      val horizon = 1 + rnd.nextInt(3000)
      val tolSec = 1 + rnd.nextInt(120)
      // duplicate-heavy: few keys, colliding timestamps included
      val probes = (0 until 60).map(i =>
        AsOfEvent(rnd.nextInt(4).toLong, t(rnd.nextInt(horizon)), 100 + i))
      val refs = (0 until 40).map(i =>
        AsOfEvent(rnd.nextInt(4).toLong, t(rnd.nextInt(horizon)), 500 + i))
      val expected = probes.flatMap { p =>
        val cand = refs.filter(r => r.key == p.key &&
          !r.ts.after(p.ts) && p.ts.getTime - r.ts.getTime <= tolSec * 1000L)
        if (cand.isEmpty) None
        else {
          val best = cand.maxBy(r => (r.ts.getTime, r.id))
          Some((p.key, p.id, best.id))
        }
      }.toSet
      val out = Streaming.asOfJoin(
          probes.toDS(), refs.toDS(), Duration.ofSeconds(tolSec))
        .collect().map(m => (m.key, m.probe_id, m.ref_id)).toSet
      assert(out == expected, s"round $round tol=${tolSec}s horizon=${horizon}s")
    }
  }

  /** Random word-salad docs with heavy phrase reuse — the adversarial
    * shape for the round-6 curation operators.
    */
  private def randomDocs(rnd: scala.util.Random, n: Int): Seq[(Long, String)] = {
    val vocab = Array("alpha", "beta", "gamma", "delta", "eps", "zeta", "eta", "theta")
    val phrases = Array.fill(4)(Array.fill(6)(vocab(rnd.nextInt(vocab.length))).mkString(" "))
    (0L until n.toLong).map { i =>
      val parts = (0 until 1 + rnd.nextInt(4)).map { _ =>
        if (rnd.nextBoolean()) phrases(rnd.nextInt(phrases.length))
        else Array.fill(3 + rnd.nextInt(5))(vocab(rnd.nextInt(vocab.length))).mkString(" ")
      }
      (i, parts.mkString(" "))
    }
  }

  test("maskRepeatedWindows == scalar reference on phrase-reusing corpora") {
    val rnd = new scala.util.Random(404)
    for (round <- 0 until rounds) {
      val k = 3 + rnd.nextInt(3)
      val docs = randomDocs(rnd, 25)
      // scalar reference: global first-occurrence scan in (id, pos) order
      val toks = docs.map { case (id, t) => id -> t.split("\\s+").filter(_.nonEmpty) }
      val seen = scala.collection.mutable.Set[String]()
      val expected = toks.flatMap { case (id, ts) =>
        val masked = Array.fill(ts.length)(false)
        (0 to ts.length - k).foreach { i =>
          val w = ts.slice(i, i + k).mkString(" ")
          if (!seen.add(w)) (i until i + k).foreach(masked(_) = true)
        }
        val kept = ts.indices.filterNot(masked).map(ts)
        if (kept.isEmpty) None else Some(id -> kept.mkString(" "))
      }.toMap
      val got = Dedup.maskRepeatedWindows(docs.toDF("doc_id", "text"), "doc_id", "text", k)
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(got == expected, s"round $round k=$k")
    }
  }

  test("mixSourcesTemperature == scalar replica exactly, across alphas and shapes") {
    val rnd = new scala.util.Random(707)
    val buckets = 10000
    def md5Bucket(id: Long): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8"))
      val hex = d.map(b => f"${b & 0xff}%02x").mkString.substring(0, 8)
      java.lang.Long.parseLong(hex, 16) % buckets
    }
    for (round <- 0 until rounds) {
      val nSources = 1 + rnd.nextInt(4)
      val rows = (0 until nSources).flatMap { s =>
        val size = 5 + rnd.nextInt(120)
        (0 until size).map(i => (s * 100000L + i, s"src$s"))
      }
      val alpha = Seq(0.0, 0.3, 0.7, 1.0, 1.5)(rnd.nextInt(5))
      val total = 50L + rnd.nextInt(400)
      val got = Sampling.mixSourcesTemperature(
          rows.toDF("id", "src"), "src", "id", alpha, total)
        .groupBy("id").count().collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      // scalar replica of the documented arithmetic
      val counts = rows.groupBy(_._2).view.mapValues(_.size.toLong).toMap
      val wScaled = counts.map { case (s, n) =>
        s -> math.floor(math.pow(n.toDouble, alpha) * 10000).toLong
      }
      val z = wScaled.values.sum
      val expected = rows.flatMap { case (id, s) =>
        val f = total.toDouble * (wScaled(s).toDouble / z.toDouble) / counts(s).toDouble
        val full = math.floor(f).toLong
        val thr = math.floor((f - math.floor(f)) * buckets).toLong
        val c = full + (if (md5Bucket(id) < thr) 1L else 0L)
        if (c > 0) Some(id -> c) else None
      }.toMap
      assert(got == expected, s"round $round alpha=$alpha total=$total")
    }
  }

  test("mixSourcesTemperatureWeighted == scalar replica; zero-mass sources drop") {
    val rnd = new scala.util.Random(808)
    val buckets = 10000
    def md5Bucket(id: Long): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8"))
      java.lang.Long.parseLong(
        d.map(b => f"${b & 0xff}%02x").mkString.substring(0, 8), 16) % buckets
    }
    for (round <- 0 until rounds) {
      val nSources = 2 + rnd.nextInt(3)
      val rows = (0 until nSources).flatMap { s =>
        val size = 5 + rnd.nextInt(80)
        // one source is all-zero-weight: it must vanish from the output
        (0 until size).map(i =>
          (s * 100000L + i, s"src$s", if (s == 0) 0L else 1L + rnd.nextInt(200)))
      }
      val alpha = Seq(0.0, 0.5, 1.0)(rnd.nextInt(3))
      val budget = 2000L + rnd.nextInt(30000)
      val got = Sampling.mixSourcesTemperatureWeighted(
          rows.toDF("id", "src", "wt"), "src", "id", col("wt"), alpha, budget)
        .groupBy("id").count().collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      val mass = rows.groupBy(_._2).view.mapValues(_.map(_._3).sum).toMap
        .filter(_._2 > 0)
      val wScaled = mass.map { case (s, n) =>
        s -> math.floor(math.pow(n.toDouble, alpha) * 10000).toLong
      }
      val z = wScaled.values.sum
      val expected = rows.filter(r => mass.contains(r._2)).flatMap { case (id, s, _) =>
        val f = budget.toDouble * (wScaled(s).toDouble / z.toDouble) / mass(s).toDouble
        val full = math.floor(f).toLong
        val thr = math.floor((f - math.floor(f)) * buckets).toLong
        val c = full + (if (md5Bucket(id) < thr) 1L else 0L)
        if (c > 0) Some(id -> c) else None
      }.toMap
      assert(got == expected, s"round $round alpha=$alpha budget=$budget")
      assert(!got.keys.exists(_ < 100000L), s"round $round: zero-mass source leaked")
    }
  }

  test("packGreedy invariants: every doc exactly once, bins never overflow, fills consistent") {
    val rnd = new scala.util.Random(505)
    for (round <- 0 until rounds) {
      val maxLen = 50L + rnd.nextInt(200)
      val docs = (0L until 80L).map(i => (i, 1L + rnd.nextInt(90)))
      val chunkSize = 7 + rnd.nextInt(20)
      val out = Packing.packGreedy(docs.toDF("doc_id", "n_tokens"), "doc_id", "n_tokens",
          maxLen, expr(s"doc_id div $chunkSize"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      assert(out.map(_._1).sorted.toSeq == docs.map(_._1), s"round $round: docs lost or duplicated")
      val byTok = docs.toMap
      out.groupBy(o => (o._2, o._3)).foreach { case ((chunk, bin), rows) =>
        val total = rows.map(o => byTok(o._1)).sum
        assert(rows.map(_._4).max == total, s"round $round bin ($chunk,$bin) fill mismatch")
        // a bin over maxLen is only legal as a single oversized doc
        assert(total <= maxLen || rows.length == 1,
          s"round $round bin ($chunk,$bin) overflows with ${rows.length} docs")
      }
    }
  }

  test("decontaminate counts == scalar shingle-set arithmetic") {
    val rnd = new scala.util.Random(606)
    for (round <- 0 until rounds) {
      val n = 2 + rnd.nextInt(3)
      val docs = randomDocs(rnd, 30)
      val (evalSet, train) = docs.partition(_._1 % 4 == 0)
      def shingleSet(t: String) =
        t.split("\\s+").filter(_.nonEmpty).sliding(n).filter(_.length == n)
          .map(_.mkString(" ")).toSet
      val evalShingles = evalSet.flatMap(d => shingleSet(d._2)).toSet
      val expected = train.flatMap { case (id, t) =>
        val sh = shingleSet(t)
        val shared = sh.count(evalShingles.contains)
        if (sh.isEmpty || shared == 0) None
        else Some(id -> (shared.toLong, sh.size.toLong))
      }.toMap
      val got = Decontaminate.ngramOverlap(
          train.toDF("doc_id", "text"), evalSet.toDF("doc_id", "text"),
          "doc_id", "text", n)
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
      assert(got == expected, s"round $round n=$n")
    }
  }

  test("bm25TopK == scalar model over random corpora and query sets") {
    val rnd = new scala.util.Random(808)
    val k1 = 1.2; val b = 0.75
    for (round <- 0 until rounds) {
      val docs = randomDocs(rnd, 20)
      val vocab = Array("alpha", "beta", "gamma", "delta", "eps")
      val terms = (0 until 1 + rnd.nextInt(3)).map(_ => vocab(rnd.nextInt(vocab.length))).distinct
      val toks = docs.map { case (id, t) => id -> t.split("\\s+").filter(_.nonEmpty).toSeq }.toMap
      val n = docs.size.toDouble
      val avgdl = toks.values.map(_.size).sum * 1.0 / n
      val expected = docs.flatMap { case (id, _) =>
        val contribs = terms.flatMap { term =>
          val tf = toks(id).count(_ == term).toDouble
          if (tf == 0) None else {
            val df = docs.count { case (i, _) => toks(i).contains(term) }.toDouble
            val idf = math.floor(math.log((n - df + 0.5) / (df + 0.5) + 1.0) * 1e4) / 1e4
            val dl = toks(id).size.toDouble
            Some(math.floor(
              idf * (tf * (k1 + 1.0) / (tf + k1 * ((1.0 - b) + b * dl / avgdl))) * 1e8).toLong)
          }
        }
        if (contribs.isEmpty) None else Some(id -> (contribs.sum / 1e8, contribs.size.toLong))
      }.toMap
      val got = Search.bm25TopK(docs.toDF("doc_id", "text"), "doc_id", "text", terms, k = 50)
        .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getLong(2))).toMap
      assert(got == expected, s"round $round terms=$terms")
    }
  }

  test("LangModel.scoreAgainst == scalar model with a held-out scoring set") {
    val rnd = new scala.util.Random(909)
    for (round <- 0 until rounds) {
      val all = randomDocs(rnd, 24)
      val (train, score) = all.partition(_._1 % 3 != 0)
      def toks(t: String) = t.split("\\s+").filter(_.nonEmpty).toSeq
      val uni = train.flatMap(d => toks(d._2)).groupBy(identity).map { case (w, g) => w -> g.size.toLong }
      val bi = train.flatMap(d => toks(d._2).sliding(2).filter(_.size == 2).map(p => (p(0), p(1))))
        .groupBy(identity).map { case (p, g) => p -> g.size.toLong }
      val v = uni.size.toLong
      val expected = score.flatMap { case (id, t) =>
        val pairs = toks(t).sliding(2).filter(_.size == 2).map(p => (p(0), p(1))).toSeq
        if (pairs.isEmpty) None
        else {
          val lps = pairs.map { p =>
            math.floor(math.log(
              (bi.getOrElse(p, 0L) + 1.0) / (uni.getOrElse(p._1, 0L) + v)) * 1e4).toLong
          }
          Some(id -> (pairs.size.toLong, math.floor(lps.sum * 1.0 / pairs.size) / 1e4))
        }
      }.toMap
      val got = LangModel.scoreAgainst(
          train.toDF("doc_id", "text"), score.toDF("doc_id", "text"), "doc_id", "text")
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
      assert(got == expected, s"round $round")
    }
  }

  test("bloom decontamination == exact path on random corpora, even with a lying filter") {
    val rnd = new scala.util.Random(808)
    for (round <- 0 until 6) {
      val docs = randomDocs(rnd, 40)
      val (evalSet, train) = docs.partition(_._1 % 4 == 0)
      val n = 2 + rnd.nextInt(3)
      val fpp = Seq(1e-5, 1e-2, 0.5)(round % 3) // incl. near-useless filter
      val exact = Decontaminate.ngramOverlap(
        train.toDF("doc_id", "text"), evalSet.toDF("doc_id", "text"), "doc_id", "text", n)
      val bloom = Decontaminate.ngramOverlapBloom(
        train.toDF("doc_id", "text"), evalSet.toDF("doc_id", "text"), "doc_id", "text", n, fpp)
      assert(rowSet(bloom) == rowSet(exact), s"round $round n=$n fpp=$fpp")
    }
  }

  test("containmentPairs == scalar recompute on random corpora") {
    val rnd = new scala.util.Random(909)
    for (round <- 0 until 6) {
      val docs = randomDocs(rnd, 30)
      val (evalSet, train) = docs.partition(_._1 % 3 == 0)
      val n = 2 + rnd.nextInt(2)
      val minC = Seq(0.0, 0.3, 0.6)(round % 3)
      def sh(t: String) = t.trim.split("\\s+").filter(_.nonEmpty).sliding(n)
        .filter(_.length == n).map(_.mkString(" ")).toSet
      val expected = (for {
        (tid, tt) <- train; (eid, et) <- evalSet
        ts = sh(tt); es = sh(et)
        if es.nonEmpty
        shared = (ts & es).size.toLong
        if shared > 0
        c = math.floor(shared * 10000.0 / es.size) / 10000.0
        if c >= minC
      } yield (tid, eid, shared, es.size.toLong, c)).toSet
      val got = Decontaminate.containmentPairs(
          train.toDF("doc_id", "text"), evalSet.toDF("doc_id", "text"),
          "doc_id", "text", n, minContainment = minC)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getDouble(4))).toSet
      assert(got == expected, s"round $round n=$n minC=$minC")
    }
  }

  private def scalarBucket(id: Long, buckets: Int): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(id.toString.getBytes("UTF-8")).map("%02x".format(_)).mkString
    java.lang.Long.parseLong(hex.substring(0, 8), 16) % buckets
  }

  test("mixSources == scalar recompute with identical threshold arithmetic") {
    val rnd = new scala.util.Random(1010)
    for (round <- 0 until 6) {
      val sources = Seq("a", "b", "c")
      val rows = (0 until 300 + rnd.nextInt(300)).map { i =>
        (rnd.nextLong(1000000L), sources(rnd.nextInt(3)))
      }.distinctBy(_._1)
      val w = {
        val raw = sources.map(_ -> (0.1 + rnd.nextDouble())).toMap
        val tot = raw.values.sum
        raw.map { case (k, v) => k -> v / tot }
      }
      val counts = rows.groupBy(_._2).map { case (s, g) => s -> g.size.toLong }
      val t = counts.map { case (s, cnt) => cnt / w(s) }.min
      val thr = counts.map { case (s, cnt) => s -> math.floor(t * w(s) / cnt * 10000).toLong }
      val expected = rows.filter { case (id, s) => scalarBucket(id, 10000) < thr(s) }.toSet
      val got = Sampling.mixSources(rows.toDF("id", "src"), "src", "id", w)
        .select("id", "src").collect().map(r => (r.getLong(0), r.getString(1))).toSet
      assert(got == expected, s"round $round w=$w")
    }
  }

  test("globalShuffleRank == scalar (md5, id) rank across bucket counts and id shapes") {
    val rnd = new scala.util.Random(1111)
    for (round <- 0 until 6) {
      val ids = (0 until 200 + rnd.nextInt(400)).map(_ =>
        rnd.nextLong()).distinct // full-range longs, incl. negatives
      val buckets = Seq(1, 7, 64, 1024)(round % 4)
      val md = java.security.MessageDigest.getInstance("MD5")
      def hex(l: Long) = md.digest(l.toString.getBytes("UTF-8")).map("%02x".format(_)).mkString
      val expected = ids.sortBy(id => (hex(id), id)).zipWithIndex
        .map { case (id, r) => id -> r.toLong }.toMap
      val got = Sampling.globalShuffleRank(
          ids.map(Tuple1(_)).toDF("id"), "id", buckets = buckets)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == expected, s"round $round buckets=$buckets n=${ids.size}")
    }
  }

  test("minhashLshJoin == ngramJaccardJoin on near-verbatim planted dups (fuzz)") {
    val rnd = new scala.util.Random(515)
    for (round <- 0 until rounds) {
      val docs = randomDocs(rnd, 24)
      // batch = phrase-heavy rewrites of corpus docs: planted overlaps
      // land at high jaccard, noise pairs scatter below the threshold
      val corpus = docs.zipWithIndex.map { case ((_, t), i) => (1000L + i, t) }
      val batch = docs.zipWithIndex.map { case ((_, t), i) =>
        (2000L + i, if (i % 3 == 0) t else t.split(" ").drop(1).mkString(" ") + " omega")
      }
      val exact = Dedup.ngramJaccardJoin(
          batch.toDF("doc_id", "text"), "doc_id", "text",
          corpus.toDF("doc_id", "text"), "doc_id", "text",
          n = 3, threshold = 0.7)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val lsh = Dedup.minhashLshJoin(
          batch.toDF("doc_id", "text"), "doc_id", "text",
          corpus.toDF("doc_id", "text"), "doc_id", "text",
          n = 3, numHashes = 128, bands = 32, threshold = 0.7)
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      assert(lsh.toSet.subsetOf(exact), s"round $round: false positive")
      assert(lsh.length == lsh.toSet.size, s"round $round: pair duplicated")
      // at threshold 0.7 and 32x4 banding, detection prob >= 1-(1-0.7^4)^32
      // ~ 0.9998 per pair AND is deterministic — identical-text pairs
      // (every i % 3 == 0) share all bands and can never be missed
      val certain = exact.filter { case (b, c) => (b - 2000) == (c - 1000) && (b - 2000) % 3 == 0 }
      assert(certain.subsetOf(lsh.toSet), s"round $round: missed identical pair")
    }
  }

  test("index dedup == in-memory cross-corpus join at high threshold") {
    val rnd = new scala.util.Random(707)
    for (round <- 0 until 4) {
      val docs = randomDocs(rnd, 30)
      val (corpus, delta) = docs.partition(_._1 % 2 == 0)
      val dir = java.nio.file.Files.createTempDirectory(s"mhfuzz$round").toString
      Dedup.buildMinhashIndex(corpus.toDF("doc_id", "text"), "doc_id", "text", dir, n = 3)
      val viaIndex = Dedup.dedupAgainstMinhashIndex(
          spark, delta.toDF("doc_id", "text"), "doc_id", "text", dir, threshold = 0.9)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val exact = Dedup.ngramJaccardJoin(
          delta.toDF("doc_id", "text"), "doc_id", "text",
          corpus.toDF("doc_id", "text"), "doc_id", "text", n = 3, threshold = 0.9)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(viaIndex == exact, s"round $round")
    }
  }

  test("decontaminateGate == ngramOverlap complement on random corpora") {
    val rnd = new scala.util.Random(808)
    for (round <- 0 until rounds) {
      val n = 2 + rnd.nextInt(3)
      val corpus = randomDocs(rnd, 30)
      val evalSet = randomDocs(rnd, 6).map { case (i, t) => (i + 1000, t) }
      val corpusDf = corpus.toDF("doc_id", "text")
      val evalDf = evalSet.toDF("doc_id", "text")
      val kept = graft.streaming.Streaming.decontaminateGate(
          spark, corpusDf, "doc_id", "text", evalDf, "text", n = n)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      val flagged = graft.operators.Decontaminate.ngramOverlap(
          corpusDf, evalDf, "doc_id", "text", n = n)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(kept == corpus.map(_._1).toSet -- flagged, s"round $round n=$n")
      // nonzero threshold: the documented EXACT-ratio rule (not the
      // floored audit value) decides, against the batch stats
      val thr = Seq(0.1, 0.25, 0.5)(rnd.nextInt(3))
      val keptT = graft.streaming.Streaming.decontaminateGate(
          spark, corpusDf, "doc_id", "text", evalDf, "text", n = n,
          maxContamination = thr)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      val stats = graft.operators.Decontaminate.ngramOverlap(
          corpusDf, evalDf, "doc_id", "text", n = n)
        .select("doc_id", "n_shared", "n_shingles").collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
      val expectT = corpus.map(_._1).filter { id =>
        stats.get(id) match {
          case None => true // unflagged: 0 shared
          case Some((sh, tot)) => sh * 10000 <= tot * math.round(thr * 10000)
        }
      }.toSet
      assert(keptT == expectT, s"round $round n=$n thr=$thr")
    }
  }

  test("sampleToTokenBudget == scalar prefix reference across random shapes") {
    val rnd = new scala.util.Random(909)
    def h(i: Long) =
      java.security.MessageDigest.getInstance("MD5")
        .digest(i.toString.getBytes("UTF-8")).map("%02x".format(_)).mkString
    for (round <- 0 until rounds) {
      val nDocs = 20 + rnd.nextInt(200)
      val docs = (0 until nDocs).map(i => (i.toLong, rnd.nextInt(40).toLong))
      val budget = rnd.nextLong(math.max(docs.map(_._2).sum, 1L))
      val buckets = 1 + rnd.nextInt(32)
      var acc = 0L
      val expect = docs.sortBy { case (i, _) => (h(i), i) }.flatMap { case (i, t) =>
        acc += t; if (acc <= budget) Some(i -> acc) else None
      }.toMap
      val got = Sampling.sampleToTokenBudget(
          docs.toDF("id", "toks"), "id", col("toks"), budget, buckets)
        .select("id", "cum_tokens").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == expect, s"round $round docs=$nDocs budget=$budget buckets=$buckets")
    }
  }

  test("topFraction + quantileLabels == global-rank replica across shapes") {
    val rnd = new scala.util.Random(808)
    def h(i: Long) =
      java.security.MessageDigest.getInstance("MD5")
        .digest(i.toString.getBytes("UTF-8")).map("%02x".format(_)).mkString
    for (round <- 0 until rounds) {
      val nGroups = 1 + rnd.nextInt(5)
      val nRows = 30 + rnd.nextInt(300)
      val tieDensity = 1 + rnd.nextInt(12) // scores drawn from [0, tieDensity)
      val rows = (0 until nRows).map(i =>
        (i.toLong, s"g${rnd.nextInt(nGroups)}", rnd.nextInt(tieDensity).toLong))
      val df = rows.toDF("id", "grp", "sc").repartition(1 + rnd.nextInt(8))
      val nu = rnd.nextInt(5).toLong
      val de = (1 + rnd.nextInt(7)).toLong
      val byGroup = rows.groupBy(_._2)
      def ranked(g: Seq[(Long, String, Long)]) =
        g.sortBy { case (id, _, sc) => (-sc, h(id), id) }
      // top-fraction replica
      val wantTop = byGroup.flatMap { case (_, g) =>
        ranked(g).take((g.size * nu / de).toInt).map(_._1)
      }.toSet
      val gotTop = Sampling.topFractionPerGroup(df, "grp", "id", $"sc", nu, de)
        .select("id").collect().map(_.getLong(0)).toSet
      assert(gotTop == wantTop, s"round $round frac=$nu/$de ties=$tieDensity")
      // label replica with a random second cut above the first
      val nu2 = nu + 1 + rnd.nextInt(3)
      val cuts = Seq((nu, de), (math.min(nu2, de), de))
      val labels = Seq("a", "b", "c")
      val wantLbl = byGroup.flatMap { case (_, g) =>
        ranked(g).zipWithIndex.map { case ((id, _, _), i) =>
          val r = i + 1L
          id -> cuts.zip(labels.init)
            .collectFirst { case ((cn, cd), l) if r * cd <= g.size * cn => l }
            .getOrElse(labels.last)
        }
      }.toMap
      val gotLbl = Sampling
        .quantileLabelsPerGroup(df, "grp", "id", $"sc", cuts, labels)
        .select("id", "bucket").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(gotLbl == wantLbl, s"round $round cuts=$cuts ties=$tieDensity")
    }
  }

  test("multiclass NB batch == serving kernel == scalar replica on random corpora") {
    val rnd = new scala.util.Random(1001)
    val words = Vector("alpha", "beta", "gamma", "delta", "Übel", "数据",
      "x", "yy", "zzz", "shared", "común", "mot")
    for (round <- 0 until 4) {
      val nClasses = 2 + rnd.nextInt(3)
      val classes = (0 until nClasses).map(c => s"c$c")
      val docs = (0 until 20 + rnd.nextInt(40)).map { i =>
        val t = (0 until (1 + rnd.nextInt(10)))
          .map(_ => words(rnd.nextInt(words.length))).mkString(" ")
        (i.toLong, t, classes(rnd.nextInt(nClasses)))
      }
      // every class inhabited
      val fixed = classes.zipWithIndex.map { case (c, i) =>
        (1000L + i, s"seed$i word", c)
      } ++ docs
      val df = fixed.toDF("id", "text", "lbl")
      val batch = QualityClassifier.predictMulticlass(df, "id", "text", "lbl")
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      // scalar replica
      def toks(t: String) = t.trim.split("\\s+").filter(_.nonEmpty).toSeq
      val cnt = scala.collection.mutable.Map.empty[(String, String), Long]
      for ((_, t, l) <- fixed; w <- toks(t))
        cnt((l, w)) = cnt.getOrElse((l, w), 0L) + 1
      val sorted = classes.sorted
      val nC = sorted.map(c => c -> cnt.filter(_._1._1 == c).values.sum).toMap
      val v = fixed.flatMap(r => toks(r._2)).distinct.size.toLong
      val dC = sorted.map(c => c -> fixed.count(_._3 == c).toLong).toMap
      def g(x: Double) = math.floor(math.log(x) * 10000).toLong
      val want = fixed.flatMap { case (id, t, _) =>
        val ws = toks(t)
        if (ws.isEmpty) None
        else Some(id -> sorted.map { c =>
          (c, ws.map(w => g((cnt.getOrElse((c, w), 0L) + 1.0) / (nC(c) + v))).sum
            + g(dC(c).toDouble / fixed.size))
        }.minBy { case (c, s) => (-s, c) }._1)
      }.toMap
      assert(batch == want, s"round $round classes=$nClasses")
      // serving at cutoff 1 == batch
      val p = java.nio.file.Files.createTempDirectory(s"nbmcf$round").toString
      QualityClassifier.buildNbMulticlassIndex(df, "text", "lbl", p, minCount = 1)
      val m = QualityClassifier.loadNbMulticlassModel(spark, p)
      val served = QualityClassifier.predictWithModel(df, "id", "text", m)
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(served == batch, s"round $round serving")
    }
  }

  test("NB serving kernel == batch scorer at cutoff 1 on random unicode corpora") {
    val rnd = new scala.util.Random(909)
    val words = Vector("the", "cat", "Übel", "döner", "数据", "x1", "spam",
      "buy", "ok", "😀", "zz", "prose")
    for (round <- 0 until 4) {
      val nDocs = 12 + rnd.nextInt(30)
      val docs = (0 until nDocs).map { i =>
        val t = (0 until (1 + rnd.nextInt(14)))
          .map(_ => words(rnd.nextInt(words.length))).mkString(" ")
        (i.toLong, t, rnd.nextBoolean())
      }
      // guarantee both classes
      val fixed = ((0L, "the cat", true)) +: ((1L, "spam buy", false)) +: docs.drop(2)
      val df = fixed.toDF("id", "text", "lbl")
      val p = java.nio.file.Files.createTempDirectory(s"nbfuzz$round").toString
      QualityClassifier.buildNbIndex(df, "text", col("lbl"), p, minCount = 1)
      val m = QualityClassifier.loadNbModel(spark, p)
      def rows(d: DataFrame) = d.collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2), r.getBoolean(3))))
        .toMap
      val batch = rows(QualityClassifier.score(df, "id", "text", col("lbl")))
      val served = rows(QualityClassifier.scoreWithModel(df, "id", "text", m))
      assert(served == batch, s"round $round")
    }
  }
}
