package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.{Search, SimilaritySearch}
import graft.sources.IndexIO
import graft.streaming.Streaming

/** `index_serve_mixed`: set-up builds a BM25 index and an IVF index over
  * a seeded corpus; the timed loop then mixes top-k reads
  * (`Search.bm25SearchIndex`, `SimilaritySearch.searchIvf`, k = 20) with
  * CDC write batches of adds and deletes, applied by two streaming
  * maintainers (`Streaming.maintainBm25IndexCdc` and
  * `Streaming.maintainIvfIndexCdc`, which appends through
  * `appendToIvfIndex`), both compacting on a segment-count cadence.
  * A read is short, so driver/metadata work and job scheduling dominate
  * it; writes run beside reads so that a read speed-up bought with
  * slower publishing or compaction shows up in the write latencies.
  *
  * Every read checks read-your-writes: it targets a document the latest
  * write added (which must be returned) and one it deleted (which must
  * not be).
  */
final class IndexServeMixed(spark: SparkSession, seed: Long, dir: Path) extends Workload {
  import IndexServeMixed._
  import spark.implicits._

  def classes: Seq[String] = Classes

  private val r = Gen.rng(seed, "index")
  private val centers = Array.fill(Centers)(Gen.normals(r, Dim, 0.0))
  private val live = mutable.LinkedHashMap.empty[Long, (String, Array[Double])]
  private var nextId = 0L
  private var added: IndexedSeq[Long] = IndexedSeq.empty
  private var deleted: IndexedSeq[Long] = IndexedSeq.empty
  private var base: Path = _
  private var bm25, ivf: String = _
  private var stream: MemoryStream[(Long, String, String, Seq[Double])] = _
  private var queries: Seq[StreamingQuery] = Nil

  private var deletedVecs: Map[Long, Array[Double]] = Map.empty
  private var lastUserBytes = 0L

  // traced rounds only: sources and streaming layer measurements
  private val resolveMs, segmentsMs, segmentCounts, batchMs = mutable.ArrayBuffer.empty[Double]
  private var bytesWritten, userBytes, batches, compactions, writes = 0L
  private var beforeFiles: Map[String, Long] = Map.empty
  private var beforeSegs = 0
  private var beforeBatches = 0L

  private def newDoc(): (Long, String, Array[Double]) = {
    val id = nextId
    nextId += 1
    // a skewed vocabulary (small word ids are common) plus one term
    // unique to the doc, so every doc is findable by exact term
    val words = Array.fill(DocLen)(Gen.word(r.nextInt(1 + r.nextInt(Vocab))))
    (id, (words :+ s"u$id").mkString(" "),
      Gen.clusteredVectors(r, 1, Dim, centers, Noise).head)
  }

  private def docBytes(text: String): Long = text.getBytes("UTF-8").length + 8L * Dim + 8L

  def setup(): Unit = {
    base = Files.createTempDirectory(dir, "index-")
    bm25 = base.resolve("bm25").toString
    ivf = base.resolve("ivf").toString
    val docs = Seq.fill(InitialDocs)(newDoc())
    docs.foreach { case (id, t, v) => live(id) = (t, v) }
    val parts = spark.sparkContext.defaultParallelism
    Search.buildBm25Index(
      spark.sparkContext.parallelize(docs.map(d => (d._1, d._2)), parts).toDF("doc_id", "text"),
      "doc_id", "text", bm25)
    SimilaritySearch.buildIvfIndex(
      spark.sparkContext.parallelize(docs.map(d => (d._1, d._3.toSeq)), parts).toDF("doc_id", "vec"),
      "doc_id", "vec", ivf, nCentroids = Centers, iters = KMeansIters)
    implicit val ctx = spark.sqlContext
    stream = MemoryStream[(Long, String, String, Seq[Double])]
    val feed = stream.toDF().toDF("doc_id", "status", "text", "vec")
    queries = Seq(
      Streaming.maintainBm25IndexCdc(feed.select("doc_id", "status", "text"),
        "doc_id", "status", "text", bm25, base.resolve("ck-bm25").toString,
        compactEvery = CompactEvery),
      Streaming.maintainIvfIndexCdc(feed.select("doc_id", "status", "vec"),
        "doc_id", "status", "vec", ivf, base.resolve("ck-ivf").toString,
        nCentroids = Centers, iters = KMeansIters, compactEvery = CompactEvery))
  }

  private def write(): Op = {
    val adds = IndexedSeq.fill(BatchAdds)(newDoc())
    val ids = live.keys.toIndexedSeq
    val dels = IndexedSeq.fill(BatchDeletes)(ids(r.nextInt(ids.length))).distinct
    val delVecs = dels.map(id => id -> live(id)._2).toMap
    Op("cdc_write", (adds.length + dels.length).toLong, () => {
      stream.addData(adds.map { case (id, t, v) => (id, "added", t, v.toSeq) } ++
        dels.map(id => (id, "removed", null: String, null: Seq[Double])))
      queries.foreach(_.processAllAvailable())
      adds.foreach { case (id, t, v) => live(id) = (t, v) }
      dels.foreach(live.remove)
      added = adds.map(_._1)
      deleted = dels
      deletedVecs = delVecs
      lastUserBytes = adds.map(a => docBytes(a._2)).sum + 8L * dels.length
      () => Check(adds.length + dels.length, queries.forall(_.exception.isEmpty))
    }, layer = "streaming")
  }

  private def checkRead(got: Seq[Long], present: Option[Long], absent: Long): Check =
    Check(got.length,
      got.length == K && present.forall(got.contains) && !got.contains(absent),
      s"${got.length} results, present $present, absent $absent: $got")

  private def bm25Read(i: Int): Op = Op("bm25_read", 1L, () => {
    val (a, d) = (added(i % added.length), deleted(i % deleted.length))
    val out = Search.bm25SearchIndex(spark, bm25, Seq(s"u$a", s"u$d", Gen.word(0), Gen.word(1)), K)
    () => checkRead(out.select("doc_id").as[Long].collect().toSeq, Some(a), d)
  })

  /** Reads alternate by `i` between an added doc's vector (it must come
    * back) and a deleted doc's vector (it must not).
    */
  private def ivfRead(i: Int): Op = Op("ivf_read", 1L, () => {
    val (a, d) = (added(i % added.length), deleted(i % deleted.length))
    val v = if (i % 2 == 0) live(a)._2 else deletedVecs(d)
    val q = Seq((0L, v.toSeq)).toDF("qid", "vec")
    val out = SimilaritySearch.searchIvf(spark, ivf, q, "qid", "vec", K)
    () => checkRead(out.select("neighbor_id").as[Long].collect().toSeq,
      if (i % 2 == 0) Some(a) else None, d)
  })

  private var rounds = 0

  /** A write adds a delete and an append segment to each index's chain,
    * so with [[CompactEvery]] = 4 every second write also compacts: a
    * cycle of two rounds holds exactly one compaction per index.
    */
  override def roundsPerCycle: Int = 2

  /** One write, then reads that target what it added and deleted. */
  def round(): Seq[Op] = {
    rounds += 1
    write() +: (0 until ReadsPerWrite).flatMap(i => Seq(bm25Read(i), ivfRead(rounds + i)))
  }

  override def beforeTraced(op: Op, t: Tracer): Unit = op.cls match {
    case "cdc_write" =>
      beforeFiles = files()
      beforeSegs = segmentTotal()
      beforeBatches = batchIds()
    case cls =>
      val path = if (cls == "bm25_read") bm25 else ivf
      resolveMs += timedMs(t.span("IndexIO.resolve", "sources")(IndexIO.resolve(spark, path)))
      var segs = 0
      segmentsMs += timedMs(t.span("IndexIO.segments", "sources") {
        segs = IndexIO.segments(spark, path).length
      })
      segmentCounts += segs
  }

  override def afterTraced(op: Op, latencyMs: Double): Unit = if (op.cls == "cdc_write") {
    val after = files()
    bytesWritten += after.collect { case (f, n) if !beforeFiles.get(f).contains(n) => n }.sum
    userBytes += lastUserBytes
    if (segmentTotal() < beforeSegs) compactions += 1
    batches += batchIds() - beforeBatches
    batchMs += latencyMs
    writes += 1
  }

  private def timedMs(body: => Unit): Double = {
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e6
  }

  private def files(): Map[String, Long] =
    Seq(bm25, ivf).flatMap { p =>
      Files.walk(Path.of(p)).iterator().asScala.filter(Files.isRegularFile(_))
        .map(f => f.toString -> Files.size(f)).toSeq
    }.toMap

  private def segmentTotal(): Int = Seq(bm25, ivf).map(IndexIO.segments(spark, _).length).sum

  private def batchIds(): Long =
    queries.map(q => Option(q.lastProgress).map(_.batchId).getOrElse(-1L)).sum

  override def layerMetrics(): Map[String, Double] = {
    def med(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Stats.median(xs)
    val liveBytes = live.values.map { case (t, _) => docBytes(t) }.sum
    Map(
      "sources.resolve_ms" -> med(resolveMs.toSeq),
      "sources.segments_ms" -> med(segmentsMs.toSeq),
      "sources.segment_count" -> med(segmentCounts.toSeq),
      "sources.bytes_written" -> (if (writes == 0) 0.0 else bytesWritten.toDouble / writes),
      "sources.write_amp" -> (if (userBytes == 0) 0.0 else bytesWritten.toDouble / userBytes),
      "sources.space_amp" -> files().values.sum.toDouble / liveBytes,
      "streaming.batch_ms" -> med(batchMs.toSeq),
      "streaming.batches" -> (if (writes == 0) 0.0 else batches.toDouble / writes),
      "streaming.compactions" -> (if (writes == 0) 0.0 else compactions.toDouble / writes))
  }

  /** IVF top-k recall against exact cosine top-k over the final live
    * corpus, for a seeded batch of query vectors.
    */
  def recall(): Double = {
    val qs = Gen.clusteredVectors(Gen.rng(seed, "recall"), RecallQueries, Dim, centers, Noise)
    val qdf = qs.indices.map(i => (i.toLong, qs(i).toSeq)).toDF("qid", "vec")
    val got = SimilaritySearch.searchIvf(spark, ivf, qdf, "qid", "vec", K)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect()
      .groupBy(_._1).map { case (q, ns) => q -> ns.map(_._2).toSet }
    val docs = live.toIndexedSeq
    val hits = qs.indices.map { i =>
      val exact = docs.map { case (id, (_, v)) => (Gen.cosine(qs(i), v), id) }
        .sortBy(p => (-p._1, p._2)).take(K).map(_._2)
      exact.count(got.getOrElse(i.toLong, Set.empty[Long]))
    }
    hits.sum.toDouble / (K * qs.length)
  }

  def close(): Unit = {
    queries.foreach(_.stop())
    if (base != null) deleteTree(base)
  }

  private def deleteTree(p: Path): Unit =
    if (Files.exists(p)) Files.walk(p).iterator().asScala.toSeq.reverse.foreach(Files.delete)
}

object IndexServeMixed {
  val Classes: Seq[String] = Seq("bm25_read", "ivf_read", "cdc_write")
  // corpus shape and traffic mix: assumptions, not measured traffic (see
  // the README's "Assumed traffic and inputs")
  val InitialDocs = 1000
  val DocLen = 30
  val Vocab = 2000
  val Dim = 32
  val Centers = 16
  val Noise = 0.5
  val KMeansIters = 3
  val K = 20
  val BatchAdds = 20
  val BatchDeletes = 5
  val ReadsPerWrite = 1
  val CompactEvery = 4
  val RecallQueries = 50
}
