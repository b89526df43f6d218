package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

/** The benchmark's own tests. Run with `python3 perfbench/run.py --self-test`;
  * exits non-zero if any test fails.
  */
object SelfTest {
  private var failures = 0

  private def test(name: String)(body: => Unit): Unit =
    try { body; println(s"ok   $name") }
    catch { case e: Throwable => failures += 1; println(s"FAIL $name: $e") }

  private def same[T](got: T, want: T): Unit =
    if (got != want) throw new AssertionError(s"got $got, want $want")

  def main(args: Array[String]): Unit = {
    test("tail is the highest percentile with at least 10 samples beyond it") {
      val xs = (1 to 100).map(_.toDouble)
      same(Stats.tail(xs), Some((90.0, 90.0)))
      same((1 to 100).count(_ > 90), 10)
      // 40 samples: rank 30, p75
      same(Stats.tail((1 to 40).map(_.toDouble).reverse), Some((75.0, 30.0)))
      same(Stats.tail((1 to 11).map(_.toDouble)), Some((100.0 / 11, 1.0)))
      same(Stats.tail((1 to 10).map(_.toDouble)), None)
    }

    test("median") {
      same(Stats.median(Seq(3.0, 1.0, 2.0)), 2.0)
      same(Stats.median(Seq(4.0, 1.0, 2.0, 3.0)), 2.5)
    }

    test("self time subtracts the union of nested child spans") {
      def s(id: Int, parent: Int, layer: String, a: Long, b: Long) =
        Span(id, parent, s"s$id", layer, a, b, "t")
      val spans = Seq(
        s(0, -1, "harness", 0, 100),
        s(1, 0, "operators", 10, 40),
        s(2, 0, "execution", 30, 60), // overlaps span 1: union 10..60
        s(3, 1, "sources", 15, 25),
        s(4, 0, "execution", 90, 120)) // clipped to the parent's end
      val self = Tracer.selfTimes(spans)
      same(self(0), 100L - 50 - 10)
      same(self(1), 30L - 10)
      same(self(3), 10L)
      same(Tracer.selfByLayer(spans)("execution"), 60L)
      same(Tracer.unionLength(Seq((0L, 10L), (5L, 15L), (20L, 30L), (30L, 31L))), 26L)
    }

    test("closed-form ineq cardinality") {
      same(Gen.refIneqCount(3000, 3000, 1500), 7874250L)
      for ((a, b, l) <- Seq((5, 5, 2), (7, 4, 3), (6, 9, 6), (10, 10, 0))) {
        val (left, right) = Gen.refIneq(11L, a, b, l)
        val brute = (for (x <- left; y <- right if x < y) yield 1L).sum
        same(Gen.refIneqCount(a, b, l), brute)
        same(Gen.lessPairs(left, right).rows, brute)
      }
    }

    test("exact-dedup key ignores case and whitespace runs") {
      same(Gen.normalized("  Ab\t cD  e "), "ab cd e")
    }

    test("generators are deterministic in the seed") {
      def corpus(seed: Long) = Gen.corpus(seed, "t",
        Gen.CorpusSpec(originals = 50, exactRate = 0.2, nearRate = 0.3, farRate = 0.2,
          junkRate = 0.1))
      same(corpus(7), corpus(7))
      assert(corpus(7) != corpus(8), "different seeds gave the same corpus")
      same(Gen.refIneq(3L, 100, 100, 50).productIterator.map(_.asInstanceOf[Array[Long]].toSeq).toSeq,
        Gen.refIneq(3L, 100, 100, 50).productIterator.map(_.asInstanceOf[Array[Long]].toSeq).toSeq)
      same(Gen.normals(Gen.rng(5L, "x"), 10, 0.0).toSeq, Gen.normals(Gen.rng(5L, "x"), 10, 0.0).toSeq)
    }

    test("injected near duplicates sit above the threshold, far variants below") {
      val docs = Gen.corpus(3L, "t", Gen.CorpusSpec(originals = 200, exactRate = 0.0,
        nearRate = 0.5, farRate = 0.5, junkRate = 0.0))
      val byId = docs.map(d => d.id -> d).toMap
      def shingles(t: String) = Gen.tokens(t).sliding(3).map(_.mkString(" ")).toSet
      def jaccard(a: String, b: String) = {
        val (x, y) = (shingles(a), shingles(b))
        (x & y).size.toDouble / (x | y).size
      }
      for (d <- docs if d.kind == Gen.NearDup) {
        assert(jaccard(d.text, byId(d.origin).text) >= 0.75, s"near dup ${d.id} too far")
        assert(Gen.normalized(d.text) != Gen.normalized(byId(d.origin).text),
          s"near dup ${d.id} is an exact copy")
      }
      for (d <- docs if d.kind == Gen.FarVariant)
        assert(jaccard(d.text, byId(d.origin).text) <= 0.4, s"far variant ${d.id} too close")
    }

    test("listener attributes jobs by job group first, then by time") {
      import org.apache.spark.scheduler.{JobSucceeded, SparkListenerJobEnd, SparkListenerJobStart}
      val l = new LayerListener
      def job(id: Int, group: Option[String], start: Long): Unit = {
        val props = new java.util.Properties
        group.foreach(props.setProperty("spark.jobGroup.id", _))
        l.onJobStart(SparkListenerJobStart(id, start, Nil, props))
        l.onJobEnd(SparkListenerJobEnd(id, start + 5, JobSucceeded))
      }
      // traced ops 3 (100..200 ms) and 5 (300..400 ms); op 4 is untraced
      job(0, Some(LayerListener.group(3)), 150)
      job(1, Some(LayerListener.group(4)), 200) // untraced op, at op 3's end
      job(2, Some("a-streaming-query"), 310) // another thread's job: by time
      job(3, None, 250) // between ops: dropped
      job(4, Some(LayerListener.group(5)), 450) // its own group, late start
      val c = l.attribute(IndexedSeq((3, 100L, 200L), (5, 300L, 400L)))
      same(c.map(_.jobs), IndexedSeq(1L, 2L))
    }

    test("driver digest equals Spark's digest of the same rows") {
      val spark = SparkSession.builder().master("local[2]")
        .config("spark.ui.enabled", "false").getOrCreate()
      try {
        import spark.implicits._
        val rows = Seq((1L, "a b"), (2L, "c"), (3L, ""), (3L, ""))
        val acc = new Digest.Acc
        rows.foreach { case (i, t) => acc.addRow(i, t) }
        same(Digest.of(rows.toDF("i", "t"), col("i"), col("t")), acc.result)
        val pairs = Seq((1L, 2L), (2L, 1L), (5L, -7L))
        val pacc = new Digest.Acc
        pairs.foreach { case (a, b) => pacc.addPair(a, b) }
        same(Digest.of(pairs.toDF("a", "b"), col("a"), col("b")), pacc.result)
        same(Digest.of(Seq.empty[(Long, Long)].toDF("a", "b"), col("a"), col("b")), Digest(0, 0, 0))
      } finally spark.stop()
    }

    if (failures > 0) {
      println(s"$failures test(s) failed")
      sys.exit(1)
    }
    println("all tests passed")
  }
}
