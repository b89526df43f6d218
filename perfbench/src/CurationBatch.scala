package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions
import graft.operators.{BpeTokenizer, Dedup, Packing}

/** `curation_batch`: an LLM-data curation pipeline over seeded corpora
  * with a known injected duplicate structure ([[Gen.corpus]]). There are
  * two corpora, a low and a high near-duplicate section, because
  * candidate generation's work grows with how much the inputs overlap.
  * Each section runs the whole pipeline on its own, in alternate rounds,
  * and every step is timed as its own class per section
  * (`minhash_lsh_low`, `minhash_lsh_high`, ...), so the cost of each
  * rate shows separately. Steps: PII scrub + quality filter
  * (`functions` kernels), `Dedup.exact`, `Dedup.minhashLsh`,
  * `Dedup.connectedComponents`, `Dedup.keepBestByComponent`, BPE token
  * counting and `Packing.packGreedy`. Heavy in jobs, shuffles and
  * expression work; never touches the range-join plans or `IndexIO`. At
  * these sizes (well under its `localThreshold`) `connectedComponents`
  * solves the component graph on the driver, not by iterated shuffles.
  */
final class CurationBatch(spark: SparkSession, seed: Long) extends Workload {
  import CurationBatch._

  def classes: Seq[String] = Classes

  /** One loaded section and the digests of its BPE steps, which depend
    * on the tokenizer set-up trains.
    */
  private final class Loaded(val name: String, val truth: Truth, val raw: DataFrame) {
    var tokens, packed: Digest = _
  }

  private var loaded: Seq[Loaded] = Nil
  private var merges: Seq[(String, String)] = Nil
  private val wordCounts = scala.collection.mutable.HashMap.empty[String, Long]
  private var injected = 0L
  private var found = 0L
  private var rounds = 0

  def setup(): Unit = {
    import spark.implicits._
    loaded = Sections.map { case (name, spec) =>
      val docs = Gen.corpus(seed, name, spec)
      val raw = spark.sparkContext
        .parallelize(docs.map(d => (d.id, d.text, d.q)), spark.sparkContext.defaultParallelism)
        .toDF("doc_id", "text", "q")
      raw.cache().count()
      new Loaded(name, truth(seed, name), raw)
    }
    // the tokenizer is a trained model, shared by both sections: fit once
    // here, like an index
    merges = BpeTokenizer.trainBpe(loaded.map(_.raw).reduce(_ union _), "text",
      trainWords = 2048, numMerges = 128)
  }

  /** Replays the trained merges over each section's curated docs. */
  override def expect(): Unit = loaded.foreach { s =>
    val curated = s.truth.curatedDocs.map(d => d.id -> bpeCount(d.text))
    s.tokens = Digest.ofRows(curated.map { case (id, t) => Seq(id, t) })
    s.packed = Digest.ofRows(Gen.packGreedy(curated, PackLen, _ / PackChunk)
      .map { case (id, c, bin, fill) => Seq(id, c, bin, fill) })
  }

  private def bpeCount(text: String): Long =
    Gen.tokens(text).map(w =>
      wordCounts.getOrElseUpdate(w, Gen.bpeWordCount(Gen.hexBytes(w), merges).toLong)).sum

  private def check(df: DataFrame, expect: Digest, cols: String*): Check = {
    val got = Digest.of(df, cols.map(col): _*)
    Check(got.rows, got == expect, s"got $got, expected $expect")
  }

  /** The seven pipeline steps over one section. Each step caches its
    * output so the next step starts from materialized input; the step's
    * action is the digest that both fills the cache and checks the rows.
    */
  private def pipeline(s: Loaded): Seq[Op] = {
    val t = s.truth
    var cleaned, deduped, pairs, comps, best, tokenized: DataFrame = null
    def keep(df: DataFrame): DataFrame = df.cache()
    def cls(step: String) = s"${step}_${s.name}"
    val n = t.docs.length.toLong
    val m = t.dedupedDocs.length.toLong
    Seq(
      Op(cls("clean_filter"), n, () => {
        cleaned = keep(s.raw
          .select(col("doc_id"), col("q"), TextFunctions.scrubPii(col("text")).as("text"))
          .filter(TextFunctions.tokenCount(col("text")) >= 20 &&
            TextFunctions.topTokenRatio(col("text")) < 0.3))
        () => check(cleaned, t.cleaned, "doc_id", "text")
      }),
      Op(cls("dedup_exact"), n, () => {
        deduped = keep(Dedup.exact(cleaned, "text", "doc_id"))
        () => check(deduped, t.deduped, "doc_id")
      }),
      Op(cls("minhash_lsh"), m, () => {
        pairs = keep(Dedup.minhashLsh(deduped, "doc_id", "text", threshold = Threshold)
          .select("doc_a", "doc_b"))
        () => {
          val got = pairs.collect().map(r => (r.getLong(0), r.getLong(1)))
          val hits = got.count(t.injectedPairs)
          injected += t.injectedPairs.size
          found += hits
          // verification is exact, so a pair outside the injected set is
          // wrong; a missed injected pair is LSH recall (and shows again
          // in the component digests below)
          Check(got.length, hits == got.length && got.distinct.length == got.length,
            s"${got.length - hits} pairs outside the injected set")
        }
      }),
      Op(cls("components"), m, () => {
        comps = keep(Dedup.connectedComponents(pairs, "doc_a", "doc_b"))
        () => check(comps, t.components, "id", "component")
      }),
      Op(cls("keep_best"), m, () => {
        best = keep(Dedup.keepBestByComponent(pairs, "doc_a", "doc_b", deduped, "doc_id", "q"))
        () => check(best, t.best, "component", "keep_id")
      }),
      Op(cls("bpe_tokenize"), m, () => {
        val losers = comps.join(best.select(col("keep_id").as("id")), Seq("id"), "left_anti")
          .select(col("id").as("doc_id"))
        tokenized = keep(deduped.join(losers, Seq("doc_id"), "left_anti").select(col("doc_id"),
          BpeTokenizer.bpeTokenCount(col("text"), merges).cast("long").as("tokens")))
        () => check(tokenized, s.tokens, "doc_id", "tokens")
      }),
      Op(cls("pack"), m, () => {
        val packed = Packing.packGreedy(tokenized, "doc_id", "tokens", PackLen,
          floor(col("doc_id") / PackChunk).cast("long"))
        () => {
          val chk = check(packed, s.packed, "doc_id", "chunk", "bin", "bin_fill")
          Seq(cleaned, deduped, pairs, comps, best, tokenized).foreach(_.unpersist())
          chk
        }
      }))
  }

  /** A cycle is one round per section, so every cycle times both rates;
    * the warm-up runs both sections too.
    */
  override def roundsPerCycle: Int = Sections.length
  override def warmupRounds: Int = Sections.length

  def round(): Seq[Op] = {
    val s = loaded(rounds % loaded.length)
    rounds += 1
    pipeline(s)
  }

  def recall(): Double = if (injected == 0) 0.0 else found.toDouble / injected

  def close(): Unit = loaded.foreach(_.raw.unpersist())
}

object CurationBatch {
  val Steps: Seq[String] = Seq("clean_filter", "dedup_exact", "minhash_lsh", "components",
    "keep_best", "bpe_tokenize", "pack")

  /** Two sections of the same number of originals, at a low and a high
    * near-duplicate rate. The rates are assumptions, not measurements of
    * a real corpus (see the README).
    */
  val Sections: Seq[(String, Gen.CorpusSpec)] = Seq(
    "low" -> Gen.CorpusSpec(originals = 300, exactRate = 0.02, nearRate = 0.05,
      farRate = 0.05, junkRate = 0.05),
    "high" -> Gen.CorpusSpec(originals = 300, exactRate = 0.10, nearRate = 0.30,
      farRate = 0.20, junkRate = 0.05))

  val Classes: Seq[String] = for (step <- Steps; (sec, _) <- Sections) yield s"${step}_$sec"
  val Threshold = 0.6
  val PackLen = 2048L
  val PackChunk = 1000L

  /** A section's generated docs and the outputs every step up to the
    * tokenizer must produce, all derived from the injected ground truth
    * without graft's code.
    */
  final class Truth(val docs: IndexedSeq[Gen.Doc]) {
    private val cleanedDocs = docs.map(d => d.copy(text = Gen.scrub(d.text)))
      .filter(d => Gen.passesQuality(d.text))
    // the smallest id per normalized text survives exact dedup
    val dedupedDocs: IndexedSeq[Gen.Doc] = {
      val keep = cleanedDocs.groupBy(d => Gen.normalized(d.text)).values.map(_.map(_.id).min).toSet
      cleanedDocs.filter(d => keep(d.id))
    }
    val injectedPairs: Set[(Long, Long)] =
      dedupedDocs.filter(_.kind == Gen.NearDup).map(d => (d.origin, d.id)).toSet
    private val comps = Gen.components(injectedPairs.toSeq)
    private val q = dedupedDocs.map(d => d.id -> d.q).toMap
    // per component: highest q, ties to the smaller id
    private val keepers = comps.toSeq.groupBy(_._2).toSeq.map { case (comp, members) =>
      comp -> members.map(_._1).maxBy(id => (q(id), -id))
    }
    private val keepIds = keepers.map(_._2).toSet
    /** The docs that reach the tokenizer. */
    val curatedDocs: IndexedSeq[Gen.Doc] =
      dedupedDocs.filter(d => !comps.contains(d.id) || keepIds(d.id))

    val cleaned: Digest = Digest.ofRows(cleanedDocs.map(d => Seq(d.id, d.text)))
    val deduped: Digest = Digest.ofRows(dedupedDocs.map(d => Seq(d.id)))
    val components: Digest = Digest.ofRows(comps.map { case (id, c) => Seq(id, c) })
    val best: Digest = Digest.ofRows(keepers.map { case (c, id) => Seq(c, id) })
  }

  private val truths = scala.collection.mutable.HashMap.empty[(Long, String), Truth]

  /** Computing the truth is the harness's own work, not the program's
    * set-up, so it runs once per seed and section (the first call, from
    * [[Workload.prepare]]) and set-up samples reuse it.
    */
  def truth(seed: Long, section: String): Truth = truths.getOrElseUpdate((seed, section),
    new Truth(Gen.corpus(seed, section, Sections.toMap.apply(section))))

  def expectations(seed: Long): Unit = Sections.foreach { case (sec, _) => truth(seed, sec) }
}
