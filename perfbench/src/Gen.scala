package perfbench

import java.util.SplittableRandom

import scala.collection.mutable

/** Seeded input generators and the expectations the output gate checks
  * against. Everything here is plain Scala on the driver: no Spark and
  * none of graft's code, so an expectation never shares a code path with
  * the operator it checks. The same `(seed, salt)` always yields the
  * same values.
  */
object Gen {

  def rng(seed: Long, salt: String): SplittableRandom =
    new SplittableRandom(seed * 0x9e3779b97f4a7c15L ^ salt.hashCode.toLong)

  def normals(r: SplittableRandom, n: Int, mean: Double): Array[Double] = {
    // Box-Muller: SplittableRandom has no nextGaussian
    Array.fill(n) {
      val u = 1.0 - r.nextDouble()
      val v = r.nextDouble()
      mean + math.sqrt(-2.0 * math.log(u)) * math.cos(2 * math.Pi * v)
    }
  }

  def uniformDoubles(r: SplittableRandom, n: Int, max: Double): Array[Double] =
    Array.fill(n)(r.nextDouble() * max)

  def uniformLongs(r: SplittableRandom, n: Int, max: Long): Array[Long] =
    Array.fill(n)(r.nextLong(max))

  def shuffled(r: SplittableRandom, xs: Array[Long]): Array[Long] = {
    val a = xs.clone()
    for (i <- a.indices.reverse) {
      val j = r.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
    }
    a
  }

  // ---- non-equi joins --------------------------------------------------

  /** The reference's ineq benchmark tables: left holds the integers
    * `[b, b + a)`, right `[b + a - l, b + a - l + bSize)`, so exactly `l`
    * values overlap; `b` and the row order come from the seed.
    */
  def refIneq(seed: Long, a: Int, bSize: Int, l: Int): (Array[Long], Array[Long]) = {
    val r = rng(seed, "ref_ineq")
    val base = r.nextLong(1L << 40)
    val left = Array.tabulate(a)(i => base + i)
    val right = Array.tabulate(bSize)(i => base + a - l + i)
    (shuffled(r, left), shuffled(r, right))
  }

  /** Closed-form `|{(x, y) : x < y}|` for [[refIneq]]'s tables:
    * A·B + C(L,2) − L² (7,874,250 at the published A = B = 3000,
    * L = 1500).
    */
  def refIneqCount(a: Long, b: Long, l: Long): Long = a * b + l * (l - 1) / 2 - l * l

  /** Pairs (i, j) with |left(i) − right(j)| <= tol, in double arithmetic
    * exactly as `abs(l − r) <= tol` evaluates in Spark.
    */
  def bandPairs(left: Array[Double], right: Array[Double], tol: Double): Digest = {
    val order = right.indices.sortBy(right(_)).toArray
    val sorted = order.map(right(_))
    val acc = new Digest.Acc
    var i = 0
    while (i < left.length) {
      val l = left(i)
      // widen the search window by an ulp-scale margin, then apply the
      // exact predicate
      var j = lowerBound(sorted, l - tol - 1e-9 * (1 + math.abs(l)))
      while (j < sorted.length && sorted(j) <= l + tol + 1e-9 * (1 + math.abs(l))) {
        if (math.abs(l - sorted(j)) <= tol) acc.addPair(i, order(j))
        j += 1
      }
      i += 1
    }
    acc.result
  }

  /** Pairs (i, j) with |left(i) − right(j)| <= tol on longs. */
  def bandPairsLong(left: Array[Long], right: Array[Long], tol: Long): Digest = {
    val order = right.indices.sortBy(right(_)).toArray
    val sorted = order.map(right(_))
    val acc = new Digest.Acc
    for (i <- left.indices) {
      var j = lowerBoundL(sorted, left(i) - tol)
      while (j < sorted.length && sorted(j) <= left(i) + tol) {
        acc.addPair(i, order(j)); j += 1
      }
    }
    acc.result
  }

  /** Pairs (i, j) with left(i) < right(j). */
  def lessPairs(left: Array[Long], right: Array[Long]): Digest = {
    val order = right.indices.sortBy(right(_)).toArray
    val sorted = order.map(right(_))
    val acc = new Digest.Acc
    for (i <- left.indices) {
      var j = lowerBoundL(sorted, left(i) + 1)
      while (j < sorted.length) { acc.addPair(i, order(j)); j += 1 }
    }
    acc.result
  }

  /** Pairs of closed intervals that overlap: ls <= re && rs <= le. */
  def intervalPairs(ls: Array[Long], le: Array[Long], rs: Array[Long], re: Array[Long]): Digest = {
    val maxLen = rs.indices.map(j => re(j) - rs(j)).max
    val order = rs.indices.sortBy(rs(_)).toArray
    val sorted = order.map(rs(_))
    val acc = new Digest.Acc
    for (i <- ls.indices) {
      var j = lowerBoundL(sorted, ls(i) - maxLen)
      while (j < sorted.length && sorted(j) <= le(i)) {
        if (re(order(j)) >= ls(i)) acc.addPair(i, order(j))
        j += 1
      }
    }
    acc.result
  }

  /** As-of "nearest" pairs: each left row with its nearest right row
    * within tol. Callers generate keys so that no two right rows tie
    * (left keys ≡ 0 and right keys ≡ 1 mod 4, right keys distinct).
    */
  def asofNearestPairs(left: Array[Long], right: Array[Long], tol: Long): Digest = {
    val order = right.indices.sortBy(right(_)).toArray
    val sorted = order.map(right(_))
    val acc = new Digest.Acc
    for (i <- left.indices) {
      val j = lowerBoundL(sorted, left(i))
      val cands = Seq(j - 1, j).filter(k => k >= 0 && k < sorted.length)
        .map(k => (math.abs(sorted(k) - left(i)), k))
        .filter(_._1 <= tol)
      if (cands.nonEmpty) acc.addPair(i, order(cands.min._2))
    }
    acc.result
  }

  private def lowerBound(a: Array[Double], x: Double): Int = {
    var lo = 0; var hi = a.length
    while (lo < hi) { val m = (lo + hi) >>> 1; if (a(m) < x) lo = m + 1 else hi = m }
    lo
  }

  private def lowerBoundL(a: Array[Long], x: Long): Int = {
    var lo = 0; var hi = a.length
    while (lo < hi) { val m = (lo + hi) >>> 1; if (a(m) < x) lo = m + 1 else hi = m }
    lo
  }

  // ---- text corpora ----------------------------------------------------

  /** A letters-only vocabulary word: no regex of the PII scrub can match
    * it and it never collides with an injected token.
    */
  def word(i: Int): String = {
    val sb = new StringBuilder("w")
    var v = i
    while ({ sb += ('a' + v % 26).toChar; v /= 26; v > 0 }) ()
    sb.toString
  }

  sealed trait Kind
  case object Original extends Kind
  case object ExactCopy extends Kind
  case object NearDup extends Kind
  case object FarVariant extends Kind
  case object Short extends Kind
  case object Spam extends Kind

  final case class Doc(id: Long, text: String, q: Long, kind: Kind, origin: Long)

  final case class CorpusSpec(originals: Int, exactRate: Double, nearRate: Double,
      farRate: Double, junkRate: Double, docLen: Int = 60, vocab: Int = 20000)

  /** A corpus with a known injected duplicate structure. Per original,
    * independently: an exact copy (whitespace and case changed, so only
    * a normalized fingerprint matches it), a near duplicate (1 or 2 token
    * substitutions at least 3 positions apart, each replacing 3 of the
    * docLen − 2 word 3-shingles: Jaccard >= 0.81 with its original at
    * docLen 60, so 128-hash/32-band LSH misses it with probability
    * ~1e-8), a far variant (the first half shared, the rest new:
    * Jaccard ~0.32, never a duplicate but often an LSH candidate). Junk docs (too short, or one token repeated)
    * must be dropped by the quality filter; some docs carry an email or
    * a 9-digit number that the PII scrub replaces. Derived docs always
    * get larger ids than their original.
    */
  def corpus(seed: Long, salt: String, spec: CorpusSpec): IndexedSeq[Doc] = {
    val r = rng(seed, "corpus-" + salt)
    def tok() = word(r.nextInt(spec.vocab))
    def pii(ts: Array[String]): Array[String] = {
      val u = r.nextDouble()
      if (u < 0.1) ts.updated(r.nextInt(ts.length), s"${tok()}@${tok()}.com")
      else if (u < 0.2) ts.updated(r.nextInt(ts.length), (100000000 + r.nextInt(900000000)).toString)
      else ts
    }
    val origs = (0 until spec.originals).map(_ => pii(Array.fill(spec.docLen)(tok())))
    val out = mutable.ArrayBuffer.empty[Doc]
    var nextId = 0L
    def add(ts: Array[String], kind: Kind, origin: Long, sep: String = " "): Long = {
      val id = nextId
      nextId += 1
      out += Doc(id, ts.mkString(sep), r.nextLong(1000000L) * 1000000L + id, kind, origin)
      id
    }
    val origIds = origs.map(ts => add(ts, Original, -1))
    for ((ts, oid) <- origs.zip(origIds)) {
      if (r.nextDouble() < spec.exactRate)
        add(ts.map(t => if (r.nextBoolean()) t.toUpperCase else t), ExactCopy, oid, "  ")
      if (r.nextDouble() < spec.nearRate) {
        val k = 1 + r.nextInt(2)
        val slots = ts.length / 3
        val picked = mutable.LinkedHashSet.empty[Int]
        while (picked.size < k) picked += 1 + 3 * r.nextInt(slots - 1)
        // a substitute never equals the token it replaces, so a near
        // duplicate is never an exact copy
        def other(t: String): String = Iterator.continually(tok()).dropWhile(_ == t).next()
        add(ts.zipWithIndex.map { case (t, i) => if (picked(i)) other(t) else t }, NearDup, oid)
      }
      if (r.nextDouble() < spec.farRate)
        add(ts.take(ts.length / 2) ++ Array.fill(ts.length - ts.length / 2)(tok()), FarVariant, oid)
    }
    val junk = (spec.originals * spec.junkRate).toInt
    for (i <- 0 until junk) {
      if (i % 2 == 0) add(Array.fill(10)(tok()), Short, -1)
      else {
        val w = tok()
        add(Array.tabulate(spec.docLen)(j => if (j % 5 < 2) w else tok()), Spam, -1)
      }
    }
    out.toIndexedSeq
  }

  /** The PII scrub's rewrite, restated with the same three patterns. */
  def scrub(text: String): String =
    text.replaceAll("https?://\\S+", "<URL>")
      .replaceAll("[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>")
      .replaceAll("[0-9]{7,}", "<NUM>")

  def tokens(text: String): Array[String] = text.split("\\s+").filter(_.nonEmpty)

  /** The exact-dedup key: whitespace-collapsed, lower-cased text. */
  def normalized(text: String): String = text.trim.replaceAll("\\s+", " ").toLowerCase

  /** The quality filter's rule: >= 20 tokens and no token above 30 %. */
  def passesQuality(text: String): Boolean = {
    val ts = tokens(text)
    ts.length >= 20 && ts.groupBy(identity).values.map(_.length).max.toDouble / ts.length < 0.3
  }

  /** Components of an undirected edge list, each node labelled with the
    * smallest id of its component (union-find).
    */
  def components(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val root = find(p); parent(x) = root; root }
    }
    for ((a, b) <- edges) {
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }
    parent.keys.map(k => k -> find(k)).toMap
  }

  /** BPE token count of one whitespace-free word: merges applied in rank
    * order, each merging every adjacent (left, right) occurrence from
    * left to right. Merges are hex byte strings as the trainer emits.
    */
  def bpeWordCount(wordHex: Array[String], merges: Seq[(String, String)]): Int = {
    var toks = wordHex
    for ((l, rr) <- merges if toks.length > 1) {
      val out = mutable.ArrayBuffer.empty[String]
      var i = 0
      while (i < toks.length) {
        if (i + 1 < toks.length && toks(i) == l && toks(i + 1) == rr) { out += l + rr; i += 2 }
        else { out += toks(i); i += 1 }
      }
      toks = out.toArray
    }
    toks.length
  }

  def hexBytes(w: String): Array[String] = w.getBytes("UTF-8").map(b => f"${b & 0xff}%02X")

  /** Greedy in-order packing per chunk: a doc that does not fit opens
    * the next bin. Returns (id, chunk, bin, fill) rows.
    */
  def packGreedy(docs: Seq[(Long, Long)], maxLen: Long, chunkOf: Long => Long)
      : Seq[(Long, Long, Long, Long)] =
    docs.groupBy(d => chunkOf(d._1)).toSeq.flatMap { case (c, ds) =>
      var bin = 0L
      var fill = 0L
      var first = true
      ds.sortBy(_._1).map { case (id, toks) =>
        if (!first && fill + toks > maxLen) { bin += 1; fill = 0L }
        first = false
        fill += toks
        (id, c, bin, fill)
      }
    }

  // ---- vectors ---------------------------------------------------------

  /** `n` vectors around `centers` Gaussian cluster centres. */
  def clusteredVectors(r: SplittableRandom, n: Int, dim: Int, centers: Array[Array[Double]],
      noise: Double): Array[Array[Double]] =
    Array.fill(n) {
      val c = centers(r.nextInt(centers.length))
      val g = normals(r, dim, 0.0)
      Array.tabulate(dim)(d => c(d) + noise * g(d))
    }

  def cosine(a: Array[Double], b: Array[Double]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < a.length) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
    dot / math.sqrt(na * nb)
  }
}
