package graft.functions

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Text-analysis scalar kernels: tokenization, shingling (incl. edge
  * cases the dedup operators depend on), quality/stopword/punctuation
  * scores, language ID, fingerprinting.
  */
class TextFunctionsSuite extends SparkSpec {
  import spark.implicits._

  private def one(text: String) = Seq(Tuple1(text)).toDF("text")

  test("tokens split on any whitespace run and drop empties") {
    val out = one("  the  quick\tbrown\n fox ")
      .select(TextFunctions.tokens($"text")).collect()(0).getSeq[String](0)
    assert(out == Seq("the", "quick", "brown", "fox"))
  }

  test("tokenize (JVM kernel) agrees with tokens (column expr) on whitespace edge cases") {
    // the imperative kernels (shingles, window spans) index token
    // POSITIONS that must line up with posexplode(tokens(...)) — pin
    // the two tokenizers together on every whitespace shape
    val cases = Seq(
      null, "", " ", "   ", "\t", "\n", "\f\r",
      "a", " a ", "a b", "a  b", "\ta\tb\t", "a\nb", " \n a \t b \r ",
      "one two three", "x y", // NBSP is NOT \s — must stay one token
      "trailing  ", "  leading", "mixed \t\n mixed",
      // C0 controls outside \s are TOKEN BYTES, at the edges too: a
      // String.trim-style <= 0x20 edge strip would detach them where
      // split(trim(text), \s+) — Spark and the DuckDB oracles — keeps
      // them attached (the round-12 serving-kernel alignment fix)
      "\u0001abc", "abc\u0001", "\u0002\u0001abc def\u001f",
      "\u0007 a \u0007", "\u0001", "\u000ea\u0001b", " \u0001x ")
    for (txt <- cases) {
      // tokens(null) is a null array and tokenize(null) an empty one —
      // both explode to zero rows, the shape every kernel consumes
      val viaExpr = Option(one(txt)
        .select(TextFunctions.tokens($"text")).collect()(0).getSeq[String](0))
        .getOrElse(Seq.empty)
      val viaKernel = TextFunctions.tokenize(txt).toSeq
      assert(viaExpr == viaKernel, s"text=${Option(txt).map("`" + _ + "`")}")
    }
  }

  test("native ShinglesExpr == String-kernel distinctShingles on adversarial inputs") {
    val rnd = new scala.util.Random(4242)
    val seps = Array(" ", "\t", "\n", "", "\f", "\r", "  ", " \t ")
    val atoms = Array("a", "word", "é", "漢字", "x y", "", "Ünïcødé",
      "emoji😀", "123", "a.b,c")
    def randomText(): String = {
      val parts = (0 until rnd.nextInt(12)).map { _ =>
        if (rnd.nextInt(4) == 0) seps(rnd.nextInt(seps.length))
        else atoms(rnd.nextInt(atoms.length))
      }
      val pad = if (rnd.nextBoolean()) " " else " \t"
      pad + parts.mkString("") + (if (rnd.nextBoolean()) " " else "\n")
    }
    val cases = Seq(null, "", " ", "", "a", "a b c") ++ (0 until 300).map(_ => randomText())
    for (n <- 1 to 4; txt <- cases) {
      // codegen path (whole-stage projection over a DataFrame)
      val viaExpr = Option(one(txt)
        .select(TextFunctions.shingles($"text", n)).collect()(0).getSeq[String](0))
        .getOrElse(Seq.empty)
      // interpreted path (direct kernel eval on the UTF8String form)
      val ad = ShinglesKernel.compute(
        if (txt == null) null else org.apache.spark.unsafe.types.UTF8String.fromString(txt), n)
      val viaEval = (0 until ad.numElements())
        .map(i => ad.getUTF8String(i).toString)
      // reference String kernel
      val viaKernel = TextFunctions.distinctShingles(txt, n).toSeq
      assert(viaExpr == viaKernel, s"codegen: n=$n text=${Option(txt).map("`" + _ + "`")}")
      assert(viaEval == viaKernel, s"eval: n=$n text=${Option(txt).map("`" + _ + "`")}")
    }
  }

  test("WindowHashesExpr: positions align with tokenize, hashes equal xxhash64(window)") {
    import org.apache.spark.sql.GraftInternals.{toColumn, toExpression}
    val rnd = new scala.util.Random(777)
    val vocab = Array("a", "bb", "word", "é漢", "x,y", "z.")
    val texts = Seq(null, "", "  ", "a b", " a  b\tc \n d ") ++ (0 until 60).map { _ =>
      (0 until rnd.nextInt(9)).map(_ => vocab(rnd.nextInt(vocab.length)))
        .mkString(Seq(" ", "\t", "\n  ")(rnd.nextInt(3)))
    }
    for (k <- 1 to 3; txt <- texts) {
      val got = one(txt).select(
          explode(toColumn(WindowHashesExpr(toExpression($"text"), k))).as("w"))
        .select($"w.pos", $"w.h").collect().map(r => (r.getInt(0), r.getLong(1))).toSeq
      val toks = TextFunctions.tokenize(txt)
      val windows = if (toks.length < k) Seq.empty
        else (0 to toks.length - k).map(i => (i, toks.slice(i, i + k).mkString(" ")))
      val expected = if (windows.isEmpty) Seq.empty else {
        val hs = windows.map(_._2).toDF("s").select(xxhash64($"s"))
          .collect().map(_.getLong(0))
        windows.map(_._1).zip(hs)
      }
      assert(got == expected, s"k=$k text=${Option(txt).map("`" + _ + "`")}")
    }
  }

  test("shingles: consecutive n-grams, distinct, first-occurrence order") {
    val out = one("a b c d a b c d")
      .select(TextFunctions.shingles($"text", 3)).collect()(0).getSeq[String](0)
    assert(out == Seq("a b c", "b c d", "c d a", "d a b"))
  }

  test("shingles: fewer than n tokens yields an empty array, not null") {
    for (txt <- Seq("", "   ", "one two")) {
      val out = one(txt)
        .select(TextFunctions.shingles($"text", 3)).collect()(0).getSeq[String](0)
      assert(out == Seq.empty, s"text=`$txt`")
    }
  }

  test("tokenCount and avgTokenLen") {
    val row = one("ab cdef ghi")
      .select(
        TextFunctions.tokenCount($"text"),
        TextFunctions.avgTokenLen($"text")).collect()(0)
    assert(row.getInt(0) == 3)
    assert(math.abs(row.getDouble(1) - 3.0) < 1e-12) // (2+4+3)/3
  }

  test("punctRatio counts only .,!?;: characters") {
    val row = one("ab.,!?;:xy") // 6 punct of 10 chars
      .select(TextFunctions.punctRatio($"text")).collect()(0)
    assert(math.abs(row.getDouble(0) - 0.6) < 1e-12)
  }

  test("stopwordRatio is case-insensitive over the provided list") {
    val row = one("The cat AND dog")
      .select(TextFunctions.stopwordRatio($"text", TextFunctions.EnglishStopwords))
      .collect()(0)
    assert(math.abs(row.getDouble(0) - 0.5) < 1e-12) // the, and
  }

  test("qualityScore stays within [0, 1] and rewards natural text") {
    val rows = Seq(
      Tuple1("The quick brown fox jumps over the lazy dog and runs on to the hills in a day"),
      Tuple1("!!! ??? ;;; ::: ,,,, ...")).toDF("text")
      .select(TextFunctions.qualityScore($"text")).collect()
    val natural = rows(0).getDouble(0)
    val noise = rows(1).getDouble(0)
    assert(natural >= 0 && natural <= 1 && noise >= 0 && noise <= 1)
    assert(natural > noise)
  }

  test("langId picks marker-dominant language; CJK short-circuits") {
    val cases = Seq(
      "the cat and the dog of a house" -> "en",
      "el perro y la casa de los gatos que" -> "es",
      "der hund und die katze ist nicht da" -> "de",
      "le chien et la maison est que les" -> "fr",
      "中文文本处理引擎" -> "zh",
      "xyzzy plugh qwerty" -> "und")
    cases.foreach { case (txt, want) =>
      val got = one(txt).select(TextFunctions.langId($"text")).collect()(0).getString(0)
      assert(got == want, s"langId(`$txt`) = $got, want $want")
    }
  }

  test("fingerprint normalizes case and whitespace runs") {
    val df = Seq(
      (1, "Hello   World"),
      (2, "hello world"),
      (3, "  HELLO\tWORLD  "),
      (4, "different")).toDF("id", "text")
    val fps = df.select($"id", TextFunctions.fingerprint($"text").as("fp"))
      .collect().map(r => r.getInt(0) -> r.getString(1)).toMap
    assert(fps(1) == fps(2) && fps(2) == fps(3))
    assert(fps(4) != fps(1))
    assert(fps(1).matches("[0-9a-f]{32}"))
  }

  test("tokenEstimate is deterministic and length-driven") {
    val row = one("abcdefgh, ok!") // 13 trimmed chars -> ceil(13/4)=4; 2 punct (, !)
      .select(TextFunctions.tokenEstimate($"text")).collect()(0)
    assert(row.getLong(0) == 6L)
  }

  test("extractHtml: drops chrome whole, decodes entities in order, collapses whitespace") {
    val cases = Seq(
      // script/style payloads vanish whole, even with raw < inside
      ("<p>a</p><script>if (1 < 2) { x(\"&\"); }</script><style>p{}</style>b", "a b"),
      // attributes with > inside quotes are NOT handled (regex subset) — tag
      // ends at the first >, the rest surfaces; pin that documented limit
      ("<a href=\"x\">link</a> tail", "link tail"),
      // comments drop, including multi-line
      ("pre<!-- c1\nc2 -->post", "pre post"),
      // entity decode order: &amp;lt; is the LITERAL &lt;, never <
      ("&amp;lt;tag&gt; &quot;q&quot; &apos;a&#39; &nbsp;x", "&lt;tag> \"q\" 'a' x"),
      // adjacent block tags don't fuse words; runs collapse
      ("<div>one</div><div>two</div>", "one two"),
      // case-insensitive tags and entities
      ("<SCRIPT>x</SCRIPT><B>bold</B> &AMP;", "bold &"),
      // plain text with no markup is just whitespace-normalized
      ("  a\t b\r\nc  ", "a b c"),
      ("", "")).toDF("text", "want")
    val got = cases.select(TextFunctions.extractHtml($"text").as("got"), $"want")
      .collect()
    got.foreach(r => assert(r.getString(0) == r.getString(1),
      s"got '${r.getString(0)}' want '${r.getString(1)}'"))
  }

  test("compressionRatio: repetition compresses, prose doesn't, bounds hold") {
    val nav = ("Home | About | Contact | Login\n" * 50)
    val prose = "The committee reviewed seventeen distinct proposals during " +
      "the autumn session, rejecting most on procedural grounds while " +
      "advancing three toward a floor vote despite vocal opposition."
    val rows = Seq(("nav", nav), ("prose", prose), ("empty", ""),
      ("null", null.asInstanceOf[String]))
      .toDF("k", "text")
      .select($"k", TextFunctions.compressionRatio($"text").as("r"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(rows("nav") < 0.15, rows.toString)       // diffuse repetition
    assert(rows("prose") > 0.4, rows.toString)      // natural text
    assert(rows("nav") < rows("prose"))
    assert(rows("empty") == 1.0 && rows("null") == 1.0)
    rows.values.foreach(v => assert(v > 0.0 && v <= 1.5, rows.toString))
    // grid-valued and deterministic across evaluations
    val again = one(nav).select(TextFunctions.compressionRatio($"text"))
      .collect()(0).getDouble(0)
    assert(again == rows("nav") && (again * 10000).isWhole)
  }

  test("cleanLines: C4 keep rules — words, terminal punctuation, boilerplate markers") {
    val cases = Seq(
      // prose survives; nav (no punct), cookie banner, short line drop
      ("Real prose stays right here.\nHome | About\nThis uses cookie consent.\nok.",
        "Real prose stays right here."),
      // quotes and !/? count as terminal; case-insensitive markers
      ("He said \"stay tuned.\"\nEnable JAVASCRIPT now please.\nIs this kept today?",
        "He said \"stay tuned.\"\nIs this kept today?"),
      // privacy policy / terms of use markers
      ("See our privacy policy today.\nRead the terms of use first.\nNormal line kept here.",
        "Normal line kept here."),
      // whitespace-only and empty lines vanish; surviving order preserved
      ("  \nFirst good line stays.\n\nSecond good line stays.\n   ",
        "First good line stays.\nSecond good line stays."),
      // nothing survives -> empty string
      ("Home | About\nok.", ""),
      ("", "")).toDF("text", "want")
    val got = cases.select(TextFunctions.cleanLines($"text").as("got"), $"want")
      .collect()
    got.foreach(r => assert(r.getString(0) == r.getString(1),
      s"got '${r.getString(0)}' want '${r.getString(1)}'"))
  }

  test("gopherFlags: each rule trips independently on a crafted doc") {
    def flags(t: String, minWords: Int = 3) =
      one(t).select(TextFunctions.gopherFlags($"text", minWords = minWords).as("g"))
        .select("g.*").collect()(0)
    // clean prose: all rules pass
    val ok = flags("the cat and that dog have fun with all of them be good")
    assert(ok.getBoolean(6), ok.toString)
    // too few words
    assert(flags("of the", minWords = 3).getBoolean(1) == false)
    // mean word length out of [3,10]: single-char words
    val short = flags("a b c d e f g h i j the of")
    assert(!short.getBoolean(2), short.toString)
    // symbol-heavy: hashes + ellipses >= 10% of words
    val sym = flags("the # cat # and # dog ... run ... far ... #")
    assert(!sym.getBoolean(3), sym.toString)
    // non-alphabetic words dominate
    val num = flags("111 222 333 444 555 the of 666 777 888")
    assert(!num.getBoolean(4), num.toString)
    // only one distinct stopword (repeated) fails the >= 2 distinct rule
    val stop = flags("the the the quick brown foxes jumping quickly")
    assert(!stop.getBoolean(5), stop.toString)
    // boundary: exactly 10*symbols == words fails the strict <
    val edge = flags("# one two three four five six seven eight nine")
    assert(!edge.getBoolean(3), edge.toString)
  }

  test("canonicalizeUrl: case, ports, utm params, fragments, bare paths, passthrough") {
    val cases = Seq(
      ("HTTP://Example.COM:80/Path?a=1#frag", "http://example.com/Path?a=1"),
      ("https://Host.com:443/", "https://host.com"),
      // non-default port survives; path case untouched
      ("http://h.com:8080/CaseSensitive", "http://h.com:8080/CaseSensitive"),
      // https keeps :80 (not its default)
      ("https://h.com:80/x", "https://h.com:80/x"),
      // utm: leading with successor, inner, trailing, lone
      ("http://h.com/p?utm_s=1&a=2", "http://h.com/p?a=2"),
      ("http://h.com/p?a=1&utm_s=2&b=3", "http://h.com/p?a=1&b=3"),
      ("http://h.com/p?a=1&utm_s=2", "http://h.com/p?a=1"),
      ("http://h.com/p?utm_s=2", "http://h.com/p"),
      ("http://h.com/p?utm_a=1&utm_b=2&c=3", "http://h.com/p?c=3"),
      ("http://h.com/p?utm_a=1&utm_b=2", "http://h.com/p"),
      // param order preserved — canonicalization must not reorder
      ("http://h.com/p?b=2&a=1", "http://h.com/p?b=2&a=1"),
      // no scheme: trimmed passthrough
      ("  not-a-url/path  ", "not-a-url/path"),
      ("ftp://Mixed.Case/X", "ftp://mixed.case/X")).toDF("url", "want")
    val got = cases.select(TextFunctions.canonicalizeUrl($"url").as("got"), $"want")
      .collect()
    got.foreach(r => assert(r.getString(0) == r.getString(1),
      s"got '${r.getString(0)}' want '${r.getString(1)}'"))
  }

  test("scrubPii masks URLs, emails, and long digit runs — and nothing else") {
    val cases = Seq(
      (1, "mail me at jo.doe+x@sub.example.org today",
        "mail me at <EMAIL> today"),
      (2, "see https://a.b/c?d=e#f and http://plain.com",
        "see <URL> and <URL>"),
      (3, "call 12345678 ext 123456", // 8 digits masked, 6 kept
        "call <NUM> ext 123456"),
      (4, "url with creds http://user@host.com/p stays one token",
        "url with creds <URL> stays one token"),
      (5, "clean text, nothing to hide", "clean text, nothing to hide")
    ).toDF("id", "text", "want")
    val got = cases.select($"id", TextFunctions.scrubPii($"text").as("got"), $"want")
      .collect()
    got.foreach(r => assert(r.getString(1) == r.getString(2), s"case ${r.getInt(0)}"))
  }

  test("foldConfusables: homoglyphs fold to ASCII, spoofed fingerprints collide") {
    // Cyrillic Р/а/у/с/е/а + em-dash + curly quotes + NBSP + ZWSP
    val spoofed = "Рау — “сtrеаm” x​y"
    val out = one(spoofed)
      .select(TextFunctions.foldConfusables($"text")).collect()(0).getString(0)
    assert(out == "Pay - \"ctream\" xy")
    // the adversarial-dedup claim: a Latin doc and its homoglyph spoof
    // share NO fingerprint raw, but collide after folding
    val latin = "the stream processor handles events"
    val spoof2 = latin.replace("e", "е").replace("o", "о") + "​"
    val df = Seq((1L, latin), (2L, spoof2)).toDF("id", "text")
    val raw = df.select(
        TextFunctions.fingerprint($"text").as("f")).distinct().count()
    assert(raw == 2)
    val folded = df.select(TextFunctions.fingerprint(
        TextFunctions.foldConfusables($"text")).as("f")).distinct().count()
    assert(folded == 1)
    // plain ASCII passes through untouched
    val ascii = "nothing to fold here: 'quotes' \"fine\" - dash"
    assert(one(ascii).select(TextFunctions.foldConfusables($"text"))
      .collect()(0).getString(0) == ascii)
  }

  test("scrubReport counts follow the scrub cascade exactly") {
    val cases = Seq(
      // an email INSIDE a URL is swallowed by the URL pass: counts as
      // URL only (the cascade rule that makes report == scrub)
      (1, "creds http://user@host.com/p and jo@x.org", 1L, 1L, 0L),
      (2, "see https://a.b/c?d=1234567890 call 99887766", 1L, 0L, 1L),
      (3, "clean text, nothing to hide", 0L, 0L, 0L),
      (4, "a@b.co b@c.io 12345678 123456", 0L, 2L, 1L)
    ).toDF("id", "text", "u", "e", "n")
    val out = cases.select($"id",
        TextFunctions.scrubReport($"text").as("r"), $"u", $"e", $"n")
      .selectExpr("id", "r.n_urls", "r.n_emails", "r.n_nums", "u", "e", "n")
      .collect()
    out.foreach { r =>
      assert((r.getLong(1), r.getLong(2), r.getLong(3)) ==
        (r.getLong(4), r.getLong(5), r.getLong(6)), s"case ${r.getInt(0)}")
    }
    // mutual consistency: zero counts iff scrub leaves text unchanged
    val joint = cases.select($"text",
        TextFunctions.scrubReport($"text").as("r"),
        TextFunctions.scrubPii($"text").as("s"))
      .collect()
    joint.foreach { r =>
      val untouched = r.getString(0) == r.getString(2)
      val zero = r.getStruct(1).getLong(0) + r.getStruct(1).getLong(1) +
        r.getStruct(1).getLong(2) == 0
      assert(untouched == zero)
    }
  }

  test("lines splits on newline, trims, and drops empties") {
    val row = one("  first line \n\n second \n   \nthird")
      .select(TextFunctions.lines($"text")).collect()(0)
    assert(row.getSeq[String](0) == Seq("first line", "second", "third"))
  }

  test("dupLineRatio counts repeated lines within one document") {
    val r = Seq(
      (1, "a\nb\na\na"),   // 4 lines, 2 distinct -> 0.5
      (2, "x\ny\nz"),      // no repeats -> 0.0
      (3, "only"),         // single line -> 0.0
      (4, "")              // no lines -> 0.0 (guarded)
    ).toDF("id", "text")
      .select($"id", TextFunctions.dupLineRatio($"text").as("r"))
      .collect().map(x => x.getInt(0) -> x.getDouble(1)).toMap
    assert(r(1) == 0.5 && r(2) == 0.0 && r(3) == 0.0 && r(4) == 0.0)
  }

  test("topTokenRatio is the most frequent token's share") {
    val r = Seq(
      (1, "spam spam spam ham"), // 3/4
      (2, "all words differ here"),
      (3, "   ")                 // empty -> 0.0 (guarded)
    ).toDF("id", "text")
      .select($"id", TextFunctions.topTokenRatio($"text").as("r"))
      .collect().map(x => x.getInt(0) -> x.getDouble(1)).toMap
    assert(r(1) == 0.75 && r(2) == 0.25 && r(3) == 0.0)
  }

  test("normalizeNfc composes decomposed sequences; idempotent on composed text") {
    val r = Seq(
      (1, "École naïve"), // decomposed: E+◌́, i+◌̈
      (2, "École naïve"),   // already composed
      (3, "plain ascii")
    ).toDF("id", "text")
      .select($"id", TextFunctions.normalizeNfc($"text").as("t"))
      .collect().map(x => x.getInt(0) -> x.getString(1)).toMap
    assert(r(1) == "École naïve")
    assert(r(2) == "École naïve")
    assert(r(3) == "plain ascii")
  }

  test("winnowing guarantee: shared substrings >= k+w-1 chars share a fingerprint") {
    val shared = "the exact same boilerplate sentence"
    val docs = Seq(
      (1, s"unique preamble one $shared and a distinct tail here"),
      (2, s"totally different opening $shared closing words vary"),
      (3, "no overlap with anything else in this corpus at all")
    ).toDF("id", "text")
    val fps = docs.select($"id", TextFunctions.winnowedFingerprints($"text").as("f"))
      .collect().map(r => r.getInt(0) -> r.getSeq[Long](1).toSet).toMap
    assert((fps(1) intersect fps(2)).nonEmpty, "shared substring produced no common fingerprint")
    // and fingerprints are selective: the unrelated doc shares (almost)
    // nothing — allow tiny incidental overlap from short common words
    assert((fps(1) intersect fps(3)).size <= fps(1).size / 4)
  }

  test("winnowedFingerprints: short docs yield none; deterministic across calls") {
    val docs = Seq((1, "tiny"), (2, "exactly8"), (3, "this one is long enough for windows"))
      .toDF("id", "text")
    val fps = docs.select($"id", TextFunctions.winnowedFingerprints($"text", k = 4, w = 5).as("f"))
      .collect().map(r => r.getInt(0) -> r.getSeq[Long](1)).toMap
    assert(fps(1).isEmpty)          // < k+w-1 = 8 chars of hashes... 4 chars -> 1 hash < w
    assert(fps(2).size == 1)        // 8 chars -> 5 hashes -> exactly one full window
    assert(fps(3).nonEmpty)
    val again = docs.select($"id", TextFunctions.winnowedFingerprints($"text", k = 4, w = 5).as("f"))
      .collect().map(r => r.getInt(0) -> r.getSeq[Long](1)).toMap
    assert(again == fps)
  }

  test("stripAccents folds to base letters, DuckDB strip_accents semantics") {
    val r = Seq(
      (1, "École naïve ü"),
      (2, "École"),          // decomposed input folds too
      (3, "no accents at all")
    ).toDF("id", "text")
      .select($"id", TextFunctions.stripAccents($"text").as("t"))
      .collect().map(x => x.getInt(0) -> x.getString(1)).toMap
    assert(r(1) == "Ecole naive u")
    assert(r(2) == "Ecole")
    assert(r(3) == "no accents at all")
  }

  test("termPostings on a non-string column fails at analysis") {
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      Seq(1, 2).toDF("n")
        .select(TextFunctions.termPostings(col("n"), withPositions = false))
    }
    assert(e.getMessage.contains("graft_term_postings"), e.getMessage)
  }

  test("termPostings: differential vs the posexplode->groupBy aggregate it replaces") {
    // the index builds replaced `posexplode(tokens) -> groupBy(term,
    // doc).agg(count, sort_array(collect_list(pos)))` with the
    // row-local TermPostingsExpr fold — pin the two on whitespace and
    // repetition edge cases, including null/empty docs (both shapes
    // emit zero posting rows for those)
    val docs = Seq(
      (1L, "a b a c b a"),
      (2L, "  x\ty x  "),
      (3L, "single"),
      (4L, ""),
      (5L, null.asInstanceOf[String]),
      (6L, "dup dup dup dup"),
      (7L, "\u0001edge a \u0001edge")).toDF("doc_id", "text")
    val viaAgg = docs
      .select(col("doc_id"),
        posexplode(TextFunctions.tokens(col("text"))).as(Seq("pos", "term")))
      .groupBy("term", "doc_id")
      .agg(count(lit(1)).as("tf"),
        sort_array(collect_list(col("pos"))).as("positions"))
      .orderBy("doc_id", "term")
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getSeq[Int](3).toList))
    val viaKernel = docs
      .select(col("doc_id"),
        explode(TextFunctions.termPostings(col("text"),
          withPositions = true)).as("p"))
      .select(col("p.term").as("term"), col("doc_id"),
        col("p.tf").as("tf"), col("p.positions").as("positions"))
      .orderBy("doc_id", "term")
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getSeq[Int](3).toList))
    assert(viaKernel.toSeq == viaAgg.toSeq)
    assert(viaAgg.nonEmpty)
    // the tf-only form agrees and carries no positions field
    val tfOnly = docs
      .select(col("doc_id"),
        explode(TextFunctions.termPostings(col("text"),
          withPositions = false)).as("p"))
      .select(col("p.term"), col("doc_id"), col("p.tf"))
      .orderBy("doc_id", "term")
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(tfOnly.toSeq == viaAgg.map(t => (t._1, t._2, t._3)).toSeq)
  }
}
