package perfbench

import java.time.Duration

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{AsOfJoin, FuzzyJoin, IneqJoin, IntervalJoin, ThetaJoin}

/** `nonequi_join`: graft's range-join kernels on seeded synthetic tables.
  *
  * Phase 1 replays the reference's published BASELINE queries at their
  * published sizes (fuzzy 10k × 10k from N(−2,1) and N(2,1), tol 0.1;
  * ineq and theta over A = B = 3000 integers overlapping in L = 1500,
  * `<`). Phase 2 runs scaled band, inequality, interval and as-of joins
  * with millions of output rows; the inequality join runs in a session
  * with broadcast disabled so that `ShuffledRangeJoinExec` carries it.
  * Time goes to executor compute in the range-join plans with few jobs;
  * `sources` and `streaming` are never touched.
  */
final class NonEquiJoin(spark: SparkSession, seed: Long) extends Workload {
  import NonEquiJoin._

  def classes: Seq[String] = Classes

  private val cpus = spark.sparkContext.defaultParallelism
  private val noBroadcast = {
    val s = spark.newSession()
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s
  }
  override def extraSessions: Seq[SparkSession] = Seq(noBroadcast)
  private var ops: Seq[Op] = Nil
  private val cached = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
  private var expectedRows = 0L
  private var matchedRows = 0L

  private def keep(df: DataFrame): DataFrame = { df.cache(); cached += df; df }

  private def table(s: SparkSession, id: String, v: String, vals: Array[Long]): DataFrame = {
    import s.implicits._
    keep(s.sparkContext.parallelize(vals.indices.map(i => (i.toLong, vals(i))), cpus).toDF(id, v))
  }

  private def tableD(id: String, v: String, vals: Array[Double]): DataFrame = {
    import spark.implicits._
    keep(spark.sparkContext.parallelize(vals.indices.map(i => (i.toLong, vals(i))), cpus)
      .toDF(id, v))
  }

  /** A table of epoch-microsecond keys as a timestamp column. */
  private def timestamps(id: String, v: String, vals: Array[Long]): DataFrame = {
    import spark.implicits._
    keep(spark.sparkContext.parallelize(vals.indices.map(i => (i.toLong, vals(i))), cpus)
      .toDF(id, v).withColumn(v, timestamp_micros(col(v))))
  }

  private def intervals(id: String, s: String, e: String, starts: Array[Long],
      lens: Array[Long]): DataFrame = {
    import spark.implicits._
    keep(spark.sparkContext
      .parallelize(starts.indices.map(i => (i.toLong, starts(i), starts(i) + lens(i))), cpus)
      .toDF(id, s, e))
  }

  private def pairOp(cls: String, inputRows: Long, expect: Digest)(join: => DataFrame): Op =
    Op(cls, inputRows, () => {
      val out = join
      () => {
        val got = Digest.of(out, col("lid"), col("rid"))
        expectedRows += expect.rows
        matchedRows += math.min(got.rows, expect.rows)
        Check(got.rows, got == expect, s"got $got, expected $expect")
      }
    })

  def setup(): Unit = {
    val in = NonEquiJoin.generate(seed)
    val expect = NonEquiJoin.expectations(seed)
    import in._
    val fuzzyL = tableD("lid", "lv", fl)
    val fuzzyR = tableD("rid", "rv", fr)
    val ineqL = table(spark, "lid", "lv", il)
    val ineqR = table(spark, "rid", "rv", ir)
    val bandL = tableD("lid", "lv", bl)
    val bandR = tableD("rid", "rv", br)
    val timeL = timestamps("lid", "lt", tl)
    val timeR = timestamps("rid", "rt", tr)
    val shL = table(noBroadcast, "lid", "lv", sl)
    val shR = table(noBroadcast, "rid", "rv", sr)
    val ivL = intervals("lid", "ls", "le", ls, ll)
    val ivR = intervals("rid", "rs", "re", rs, rl)
    val asL = timestamps("lid", "lt", al)
    val asR = timestamps("rid", "rt", ar)
    cached.foreach(_.count())

    ops = Seq(
      pairOp("ref_fuzzy", 2L * RefFuzzyRows, expect("ref_fuzzy"))(
        FuzzyJoin.numeric(fuzzyL, fuzzyR, RefFuzzyTol, leftOn = Some("lv"), rightOn = Some("rv"))),
      pairOp("ref_ineq", RefA + RefB, expect("ref_ineq"))(
        IneqJoin(ineqL, ineqR, "<", leftOn = Some("lv"), rightOn = Some("rv"))),
      // theta with the ineq predicate: its output must equal ineq's
      pairOp("ref_theta", RefA + RefB, expect("ref_ineq"))(
        ThetaJoin(ineqL, ineqR, (a, b) => a < b, leftOn = Some("lv"), rightOn = Some("rv"))),
      pairOp("band", 2L * BandRows, expect("band"))(
        FuzzyJoin.numeric(bandL, bandR, BandTol, leftOn = Some("lv"), rightOn = Some("rv"))),
      pairOp("band_time", 2L * BandRows, expect("band_time"))(
        FuzzyJoin.time(timeL, timeR, Duration.ofNanos(TimeTolUs * 1000),
          leftOn = Some("lt"), rightOn = Some("rt"))),
      pairOp("ineq_shuffled", 2L * IneqRows, expect("ineq_shuffled"))(
        IneqJoin(shL, shR, "<", leftOn = Some("lv"), rightOn = Some("rv"))),
      pairOp("interval", 2L * IntervalRows, expect("interval"))(
        IntervalJoin.numeric(ivL, ivR, "ls", "le", "rs", "re", IntervalMaxLen.toDouble)),
      pairOp("asof", 2L * AsofRows, expect("asof"))(
        AsOfJoin.time(asL, asR, Duration.ofNanos(AsofTolUs * 1000), rightId = "rid",
          leftOn = Some("lt"), rightOn = Some("rt"), direction = "nearest")))
  }

  def round(): Seq[Op] = ops

  def recall(): Double = if (expectedRows == 0) 0.0 else matchedRows.toDouble / expectedRows

  def close(): Unit = cached.foreach(_.unpersist())
}

object NonEquiJoin {

  /** The generated join inputs (l* left, r* right keys of each op). */
  final class Inputs(seed: Long) {
    // phase 1: the reference's published queries
    val fl: Array[Double] = Gen.normals(Gen.rng(seed, "ref_fuzzy_l"), RefFuzzyRows, -2.0)
    val fr: Array[Double] = Gen.normals(Gen.rng(seed, "ref_fuzzy_r"), RefFuzzyRows, 2.0)
    val (il, ir) = Gen.refIneq(seed, RefA, RefB, RefL)
    // phase 2: scaled joins
    val bl: Array[Double] = Gen.uniformDoubles(Gen.rng(seed, "band_l"), BandRows, BandRange)
    val br: Array[Double] = Gen.uniformDoubles(Gen.rng(seed, "band_r"), BandRows, BandRange)
    val tl: Array[Long] = Gen.uniformLongs(Gen.rng(seed, "time_l"), BandRows, TimeRangeUs).map(_ + Epoch)
    val tr: Array[Long] = Gen.uniformLongs(Gen.rng(seed, "time_r"), BandRows, TimeRangeUs).map(_ + Epoch)
    val sl: Array[Long] = Gen.uniformLongs(Gen.rng(seed, "ineq_l"), IneqRows, 1L << 40)
    val sr: Array[Long] = Gen.uniformLongs(Gen.rng(seed, "ineq_r"), IneqRows, 1L << 40)
    private val ivr = Gen.rng(seed, "interval")
    val ls: Array[Long] = Gen.uniformLongs(ivr, IntervalRows, IntervalRange)
    val ll: Array[Long] = Gen.uniformLongs(ivr, IntervalRows, IntervalMaxLen)
    val rs: Array[Long] = Gen.uniformLongs(ivr, IntervalRows, IntervalRange)
    val rl: Array[Long] = Gen.uniformLongs(ivr, IntervalRows, IntervalMaxLen)
    private val asr = Gen.rng(seed, "asof")
    // left keys ≡ 0 and right keys ≡ 1 (mod 4), right keys distinct:
    // a left key is never equidistant from two right keys
    val al: Array[Long] = Gen.uniformLongs(asr, AsofRows, AsofSlots).map(s => Epoch + 4 * s)
    val ar: Array[Long] = {
      val seen = scala.collection.mutable.LinkedHashSet.empty[Long]
      while (seen.size < AsofRows) seen += asr.nextLong(AsofSlots)
      seen.toArray.map(s => Epoch + 4 * s + 1)
    }
  }

  def generate(seed: Long): Inputs = new Inputs(seed)

  private val expected = scala.collection.mutable.HashMap.empty[Long, Map[String, Digest]]

  /** Expected output digest per op. Computing them is the harness's own
    * work, not the program's set-up, so it runs once per seed (the first
    * call) and set-up samples reuse it.
    */
  def expectations(seed: Long): Map[String, Digest] = expected.getOrElseUpdate(seed, {
    val in = generate(seed)
    import in._
    val ineq = Gen.lessPairs(il, ir)
    require(ineq.rows == Gen.refIneqCount(RefA, RefB, RefL),
      s"reference ineq oracle ${ineq.rows} != closed form")
    def ends(s: Array[Long], l: Array[Long]) = s.indices.map(i => s(i) + l(i)).toArray
    Map(
      "ref_fuzzy" -> Gen.bandPairs(fl, fr, RefFuzzyTol),
      "ref_ineq" -> ineq,
      "band" -> Gen.bandPairs(bl, br, BandTol),
      "band_time" -> Gen.bandPairsLong(tl, tr, TimeTolUs),
      "ineq_shuffled" -> Gen.lessPairs(sl, sr),
      "interval" -> Gen.intervalPairs(ls, ends(ls, ll), rs, ends(rs, rl)),
      "asof" -> Gen.asofNearestPairs(al, ar, AsofTolUs))
  })

  val Classes: Seq[String] = Seq("ref_fuzzy", "ref_ineq", "ref_theta", "band", "band_time",
    "ineq_shuffled", "interval", "asof")

  // published BASELINE sizes
  val RefFuzzyRows = 10000
  val RefFuzzyTol = 0.1
  val RefA = 3000
  val RefB = 3000
  val RefL = 1500

  // scaled joins: small inputs, each emitting one to two million rows
  val BandRows = 50000
  val BandRange = 1.0e6
  val BandTol = 240.0
  val Epoch = 1700000000000000L
  val TimeRangeUs = 86400L * 1000000L
  val TimeTolUs = 20L * 1000000L
  val IneqRows = 2000
  val IntervalRows = 50000
  val IntervalRange = 10000000L
  val IntervalMaxLen = 4000L
  val AsofRows = 50000
  val AsofSlots = 5000000L
  val AsofTolUs = 200L
}
