package graft.ext

import graft.TestSpark
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class HygieneSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val bench = Seq(
    "alpha beta gamma delta epsilon zeta eta theta iota kappa", // 10 tokens
    "short eval answer" // < n tokens: whole text is its one gram
  ).toDF("text")

  private val corpus = Seq(
    // = benchmark doc: all 3 of its 8-grams shared
    (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
    // wrapped copy: interior 8-grams of the benchmark text survive
    (2L, "xx yy alpha beta gamma delta epsilon zeta eta theta iota kappa zz"),
    // shares only 7 consecutive benchmark tokens -> no shared 8-gram
    (3L, "alpha beta gamma delta epsilon zeta eta novel words here today"),
    // exactly the short benchmark entry (clamped whole-doc gram matches)
    (4L, "short eval answer"),
    // contains the short benchmark text but is long: no whole-doc gram
    (5L, "short eval answer plus many more tokens beyond the gram window"),
    (6L, "completely unrelated content with no overlap whatsoever at all")
  ).toDF("doc_id", "text")

  test("Decontam.flag: exact, wrapped, and short-exact docs flag; partial overlap does not") {
    val got = Decontam.flag(corpus, "text", "doc_id", bench, "text", n = 8)
      .select("doc_id", "n_hits", "contaminated")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(2)))).toMap
    assert(got(1L) === ((3L, true)), "benchmark member: all 3 grams hit")
    assert(got(2L)._1 >= 1L && got(2L)._2, "wrapped copy must flag via interior grams")
    assert(got(3L) === ((0L, false)), "7-token overlap is below the 8-gram bar")
    assert(got(4L) === ((1L, true)), "short benchmark entry caught by clamped gram")
    assert(got(5L) === ((0L, false)), "long doc has no whole-doc gram")
    assert(got(6L) === ((0L, false)))
  }

  test("Decontam.clean: anti-join keeps exactly the unflagged docs") {
    val kept = Decontam.clean(corpus, "text", "doc_id", bench, "text", n = 8)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept === Set(3L, 5L, 6L))
  }

  test("Decontam.flagInline: identical results to flag, with a join-free " +
      "single-projection plan (no exchange at all)") {
    val viaJoin = Decontam.flag(corpus, "text", "doc_id", bench, "text", n = 8)
      .select("doc_id", "n_hits", "contaminated")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).sortBy(_._1)
    val inline = Decontam.flagInline(corpus, "text", "doc_id", bench, "text", n = 8)
      .select("doc_id", "n_hits", "contaminated")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).sortBy(_._1)
    assert(inline.toSeq === viaJoin.toSeq)
    val plan = Decontam.flagInline(corpus, "text", "doc_id", bench, "text", n = 8)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange") && !plan.contains("Join"),
      s"flagInline must be one stateless projection\n$plan")
    val kept = Decontam.cleanInline(corpus, "text", "doc_id", bench, "text", n = 8)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept === Set(3L, 5L, 6L))
  }

  test("Decontam: gram probe is a broadcast join — the corpus side never shuffles") {
    val plan = Decontam.hits(corpus, "text", "doc_id", bench, "text", n = 8)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"expected broadcast probe\n$plan")
  }

  test("removeBoilerplate: corpus-frequent lines strip everywhere, unique lines stay in order") {
    val df = Seq(
      (1L, "unique opening\nCLICK HERE\nreal content one\nCLICK HERE"),
      (2L, "CLICK HERE\nreal content two"),
      (3L, "real content three"),
      (4L, "CLICK HERE\nCLICK HERE") // all boilerplate -> empty text
    ).toDF("doc_id", "text")
    // "CLICK HERE" occurs 5 times corpus-wide (within-doc repeats count)
    val got = TextAnalysis.removeBoilerplate(df, "text", "doc_id", minCount = 3)
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got(1L) === (("unique opening\nreal content one", 2L, 2L)))
    assert(got(2L) === (("real content two", 1L, 1L)))
    assert(got(3L) === (("real content three", 1L, 0L)))
    assert(got(4L) === (("", 0L, 2L)))
  }

  test("chunk: windows overlap by stride, clamp at the end, short docs yield one chunk") {
    val df = Seq(
      (1L, "a b c d e f g"), // 7 tokens, size 4 stride 2 -> starts 0,2,4(clamped? extra=3 -> chunks ceil(3/2)+1=3)
      (2L, "x y"),           // shorter than size -> one chunk
      (3L, " ")              // no tokens -> dropped
    ).toDF("doc_id", "text")
    val got = TextAnalysis.chunk(df, "text", "doc_id", chunkSize = 4, stride = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> ((r.getString(2), r.getLong(3))))
      .toMap
    assert(got === Map(
      (1L, 0L) -> (("a b c d", 4L)),
      (1L, 1L) -> (("c d e f", 4L)),
      (1L, 2L) -> (("e f g", 3L)), // clamped final window
      (2L, 0L) -> (("x y", 2L))))
  }

  test("tfidfTopTerms: frequent-here-rare-elsewhere wins; ranks deterministic") {
    val df = Seq(
      (1L, "zebra zebra zebra common common"),
      (2L, "common other other"),
      (3L, "common plain")
    ).toDF("doc_id", "text")
    val got = TextAnalysis.tfidfTopTerms(df, "text", "doc_id", k = 1)
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    // zebra: tf 3, df 1 -> dominates doc 1 over common (tf 2, df 3)
    assert(got(1L) === "zebra")
    assert(got(2L) === "other")
    // doc 3: common (tf 1, df 3) vs plain (tf 1, df 1) -> plain
    assert(got(3L) === "plain")
  }

  test("piiScan: planted PII counted per family and redacted in precedence order") {
    val df = Seq(
      (1L, "email me at a.b@c.org now"),
      (2L, "ip 10.0.0.1 card 1234567890123456 call +44 20 7946 0958 ok"),
      (3L, "clean text no pii")
    ).toDF("doc_id", "text")
    val got = TextAnalysis.piiScan(df, "text", "doc_id")
      .collect().map(r => r.getLong(0) -> r).toMap

    assert(got(1L).getAs[Long]("n_emails") === 1L)
    assert(got(1L).getAs[Boolean]("has_pii"))
    assert(got(1L).getAs[String]("redacted_text") === "email me at <email> now")

    assert(got(2L).getAs[Long]("n_ipv4") === 1L)
    assert(got(2L).getAs[Long]("n_digit_runs") === 1L)
    // the 16-digit run is ALSO phone-shaped: families scan independently
    assert(got(2L).getAs[Long]("n_phones") === 2L)
    assert(got(2L).getAs[String]("redacted_text") ===
      "ip <ip> card <digits> call <phone> ok")

    assert(got(3L).getAs[Boolean]("has_pii") === false)
    assert(got(3L).getAs[String]("redacted_text") === "clean text no pii")
  }

  test("htmlClean: blocks die whole, tags strip, entities single-decode") {
    val df = Seq(
      (1L, "<p>Hello <b>world</b></p><script>if (a < b) alert('x');</script> bye"),
      (2L, "Tom &amp; Jerry &amp;lt; &quot;quoted&quot;&nbsp;end"),
      (3L, "<STYLE media=\"all\">p { color: red }</STYLE>plain"),
      (4L, "no markup at all")
    ).toDF("doc_id", "text")
    val got = TextAnalysis.htmlClean(df, "text", "doc_id")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got(1L) === "Hello world bye",
      "script block must vanish even though it contains an unescaped '<'")
    // &amp;lt; decodes ONCE to &lt; — never twice to '<'
    assert(got(2L) === "Tom & Jerry &lt; \"quoted\" end")
    assert(got(3L) === "plain", "style block dies case-insensitively")
    assert(got(4L) === "no markup at all")
  }

  test("bm25Search: hand-computed exact rational scores") {
    // doc 1 = "a a b" (tf_a=2, dl=3), doc 2 = "a c" (tf_a=1, dl=2);
    // N=2, T=5, query {a} with df=2:
    //   doc1: 22e6*2*5*1 // ((10*5*2 + 3*5 + 9*3*2) * 5) = 2.2e8 // 845  = 260355
    //   doc2: 22e6*1*5*1 // ((10*5*1 + 3*5 + 9*2*2) * 5) = 1.1e8 // 505  = 217821
    val df = Seq((1L, "a A b"), (2L, "a c")).toDF("doc_id", "text")
    val got = TextAnalysis.bm25Search(df, "text", "doc_id", Seq("a"), k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.toSeq === Seq((1L, 260355L, 1L), (2L, 217821L, 1L)))
  }

  test("bm25Index / bm25SearchIndex: union of doc-disjoint increments " +
      "serves exactly what direct search computes; postings carry dl") {
    val df = Seq((1L, "a A b"), (2L, "a c"), (3L, "b b a")).toDF("doc_id", "text")
    val direct = TextAnalysis.bm25Search(df, "text", "doc_id", Seq("a", "b"), k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    // Two doc-disjoint increments, merged by plain union.
    val ix = TextAnalysis.bm25Index(
        df.where(col("doc_id") < 3), "text", "doc_id")
      .unionAll(TextAnalysis.bm25Index(
        df.where(col("doc_id") >= 3), "text", "doc_id"))
    val served = TextAnalysis.bm25SearchIndex(ix, "doc_id", Seq("a", "b"), k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(served === direct)
    // The index relation itself: dl is the doc's TOTAL token count on
    // every posting row of that doc.
    val dls = TextAnalysis.bm25Index(df, "text", "doc_id")
      .select("doc_id", "dl").distinct().orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(dls.toSeq === Seq((1L, 3L), (2L, 2L), (3L, 3L)))
  }

  test("bm25Search: top-k plans as TakeOrderedAndProject, no global sort; " +
      "dl rides the tf aggregate, not a second full-corpus window shuffle") {
    val docs = graft.Tables.documents(spark, graft.TestSpark.sf0001)
    val plan = TextAnalysis.bm25Search(docs, "text", "doc_id",
        Seq("spark", "join"), k = 5)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan)
    // NO windows at all: df per query term is a broadcast-joined
    // partial aggregate (skew-safe — a term in half the corpus must not
    // co-locate its postings in one task), and dl rides the tf
    // aggregate as a group constant rather than a per-doc window.
    val windows = plan.linesIterator.filter(_.contains("Window ")).toSeq
    assert(windows.isEmpty,
      s"expected no Window operators:\n$plan")
    assert(plan.contains("partial_count"), plan)
    // doc-keyed exchanges: the (query-sized) final score groupBy and the
    // corpus-scalar distinct — NOT a third from a pre-filter dl window
    val docShuffles = plan.linesIterator.count(l =>
      l.contains("Exchange hashpartitioning(doc_id") && !l.contains("term"))
    assert(docShuffles <= 2, s"extra doc-keyed shuffle (dl window?):\n$plan")
  }

  test("pseudonymize: deterministic keyed tokens, null passthrough, salt rotation") {
    import spark.implicits._
    val df = Seq((1L, Some("alice")), (2L, Some("bob")), (3L, None),
      (4L, Some("alice"))).toDF("id", "name")
    def run(salt: String) =
      TextAnalysis.pseudonymize(df, Seq("name"), salt)
        .collect().map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    val a = run("s1")
    assert(a(1L) === a(4L), "same value + salt => same token")
    assert(a(1L) !== a(2L))
    assert(a(3L).isEmpty, "null stays null")
    assert(a(1L).get.matches("[0-9a-f]{64}"))
    assert(run("s2")(1L) !== a(1L), "salt rotation breaks linkability")
  }

  test("maskTokens: deterministic, pct bounds exact, empty doc safe") {
    import spark.implicits._
    val df = Seq((7L, "one two three four five"), (8L, "   "), (9L, "solo"))
      .toDF("doc_id", "text")
    def run(pct: Int) = TextAnalysis.maskTokens(df, "text", "doc_id", pct)
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    val none = run(0)
    assert(none(7L) === (("one two three four five", 5L, 0L)))
    assert(none(8L) === (("", 0L, 0L)), "whitespace-only doc yields empty")
    val all = run(100)
    assert(all(7L) === (("<mask> <mask> <mask> <mask> <mask>", 5L, 5L)))
    assert(all(9L) === (("<mask>", 1L, 1L)))
    val some = run(15)
    assert(some === run(15), "same inputs, same masks — no RNG state")
    val (txt, n, m) = some(7L)
    assert(m === txt.split(" ").count(_ == "<mask>"),
      "n_masked must agree with the rebuilt text")
    assert(n === 5L)
  }

  test("urlParse: components extracted; www stripped once; malformed -> empty") {
    import spark.implicits._
    val df = Seq(
      (1L, "https://WWW.Example.COM/a/b?q=1#frag"),
      (2L, "http://plain.org"),
      (3L, "ftp://www.www.deep.net/x"),
      (4L, "not a url at all")).toDF("id", "url")
    val got = TextAnalysis.urlParse(df, "url")
      .select("id", "scheme", "host", "domain", "path")
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getString(2), r.getString(3), r.getString(4)))).toMap
    assert(got(1L) === (("https", "www.example.com", "example.com", "/a/b")))
    assert(got(2L) === (("http", "plain.org", "plain.org", "")))
    assert(got(3L) === (("ftp", "www.www.deep.net", "www.deep.net", "/x")))
    assert(got(4L) === (("", "", "", "")))
  }

  test("sentences: terminal-run split, blank parts dropped, indices " +
      "renumber survivors, exact counts") {
    import graft.ext.TextAnalysis
    val df = Seq(
      (1L, "One two. Three!  Four five?went on"),
      (2L, "No terminator here"),
      (3L, "Ends hard. ! .  ")
    ).toDF("doc_id", "text")
    val got = TextAnalysis.sentences(df, "text", "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        r.getLong(3), r.getLong(4)))
    assert(got.toSeq === Seq(
      // "Four five?went on": '?' not followed by space -> no split there.
      (1L, 1L, "One two", 7L, 2L),
      (1L, 2L, "Three", 5L, 1L),
      (1L, 3L, "Four five?went on", 17L, 3L),
      (2L, 1L, "No terminator here", 18L, 3L),
      (3L, 1L, "Ends hard", 9L, 2L)))
  }

  test("gopherQuality: each rule rejects its own violation, a normal doc " +
      "passes, metrics are exact") {
    import graft.ext.TextAnalysis
    val goodWords = (1 to 60).map(i => s"word$i").mkString(" ")
    // Five lines: tab and CR inside words' whitespace, '-' and '•'
    // bullets after leading spaces, a "..." line with trailing spaces,
    // '#', THE/the/and as stop words, and a non-ASCII word.
    val handCounted =
      "THE cat\tsat on the mat.\r\n" +
        "  - first item\n" +
        "   • second über item\n" +
        "and so it went...   \n" +
        "#tag 42"
    val good = s"the cat sat of that mat and $goodWords"
    val df = Seq(
      (1L, good),                                    // passes everything
      (2L, "the of " + (1 to 10).map(_ => "word").mkString(" ")), // <50 words
      (3L, good + " " + Seq.fill(60)("#").mkString(" ")), // symbol flood + short words
      (4L, good.split(" ").map(w => s"- $w\n").mkString), // all bullet lines
      (5L, good + " " + (1 to 70).map(_ => "12345").mkString(" ")), // <80% alpha
      (6L, handCounted)
    ).toDF("doc_id", "text")
    val got = TextAnalysis.gopherQuality(df, "text", "doc_id")
      .collect().map(r => r.getLong(0) -> r.getBoolean(9)).toMap
    assert(got(1L), "baseline doc must pass")
    assert(!got(2L), "word-count floor")
    assert(!got(3L), "symbol-to-word ratio")
    assert(!got(4L), "bullet-line ratio")
    assert(!got(5L), "alpha-word ratio")
    // metric spot-check on doc 1: 67 words, 4 distinct stop hits
    val m = TextAnalysis.gopherQuality(df, "text", "doc_id")
      .where(col("doc_id") === 1L).collect()(0)
    assert(m.getLong(1) === 67L)       // n_words
    assert(m.getLong(8) === 4L)        // n_stop_hits (the, of, that, and)
    val h = TextAnalysis.gopherQuality(df, "text", "doc_id")
      .where(col("doc_id") === 6L).collect()(0)
    val metrics = h.toSeq.slice(1, 9)
    assert(metrics === Seq(
      19L, // n_words: 6 + 3 + 4 + 4 + 2 per line
      63L, // sum_word_len: 18 + 10 + 15 + 14 + 6 non-whitespace chars
      2L,  // n_symbols: one '#', one "..."
      5L,  // n_lines
      2L,  // n_bullet_lines: "  - first", "   • second"
      1L,  // n_ellipsis_lines: "went...   " (the CR line ends in '\r')
      16L, // n_alpha_words: all but "-", "•", "42"
      2L)) // n_stop_hits: the (THE, the), and
    assert(!h.getBoolean(9), "19 words is under the 50-word floor")
  }

  test("pmiBigrams: exact integer score, collocation beats frequent-but-" +
      "independent pair, multiplicity counted, short docs safe") {
    import graft.ext.TextAnalysis
    // "new york" always adjacent (collocation); "the cat" adjacent but
    // 'the' is everywhere, diluting its score. One-token doc must not
    // blow up the bigram expression.
    val df = Seq(
      (1L, "new york new york new york"),
      (2L, "the cat the dog the cat the bird"),
      (3L, "x")
    ).toDF("doc_id", "text")
    val got = TextAnalysis.pmiBigrams(df, "text", minCo = 2L)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    // Corpus: T = 15 tokens. new:3 york:3, co(new,york)=3 (adjacent runs),
    // score = 3*15*1e6 div 9 = 5_000_000. the:4 cat:2, co(the,cat)=2,
    // score = 2*15*1e6 div 8 = 3_750_000.
    assert(got(("new", "york")) === ((3L, 3L, 3L, 5000000L)))
    assert(got(("the", "cat")) === ((2L, 4L, 2L, 3750000L)))
    // york->new bridges repetitions: co=2 ("york new" twice).
    assert(got(("york", "new"))._1 === 2L)
  }

  test("lmScore: add-one-smoothed bigram terms, pruning floor, short docs drop") {
    // corpus: a:3 b:3 c:1 solo:1 -> V=4; bigrams (a,b):3 (b,a):1 (b,c):1
    val docs = Seq((1L, "a b a b"), (2L, "a b c"), (3L, "solo"))
      .toDF("doc_id", "text")

    // minCount=1: P(b|a) term = (3+1)e9 div (3+4) = 571428571;
    // P(a|b) = P(c|b) = (1+1)e9 div (3+4) = 285714285.
    val full = TextAnalysis.lmScore(docs, "text", "doc_id", docs, "text")
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(full.toSeq === Seq(
      (1L, 3L, 1428571427L, 476190475L),
      (2L, 2L, 857142856L, 428571428L))) // doc 3 has no bigrams

    // minCount=2 prunes (b,a)/(b,c): they fall to the smoothing floor
    // (0+1)e9 div (3+4) = 142857142.
    val pruned = TextAnalysis.lmScore(docs, "text", "doc_id", docs, "text",
        minCount = 2L)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getLong(3)))
    assert(pruned.toSeq === Seq(
      (1L, 1285714284L, 428571428L),
      (2L, 714285713L, 357142856L)))

    // Scoring a doc with entirely unseen words: every bigram takes
    // (0+1)*1e9 div (0+V).
    val alien = Seq((9L, "x y z")).toDF("doc_id", "text")
    val got = TextAnalysis.lmScore(alien, "text", "doc_id", docs, "text")
      .collect().head
    assert(got.getLong(3) === 1000000000L / 4)
  }

  test("UnicodeNormalize: NFC composes, NFKC also folds compatibility forms") {
    // raw is DECOMPOSED at the byte level (e+U+0301, A+U+030A) plus
    // compatibility chars: ligature U+FB01, circled one U+2460,
    // full-width A U+FF21 — it renders like the NFC expectation below
    // but is byte-distinct (od -c this file to audit).
    val raw = "é Å ﬁ ① Ａ ascii"
    val df = Seq((1L, raw)).toDF("id", "t")

    val nfc = TextAnalysis.unicodeNormalize(df, "t", "id", "NFC")
      .collect().head.getString(1)
    // Combining pairs compose; compatibility chars survive NFC.
    assert(nfc === "é Å ﬁ ① Ａ ascii")

    val nfkc = TextAnalysis.unicodeNormalize(df, "t", "id", "NFKC")
      .collect().head.getString(1)
    // NFKC additionally folds: fi-ligature -> "fi", circled-one -> "1",
    // full-width A -> "A".
    assert(nfkc === "é Å fi 1 A ascii")

    // Already-normalized ASCII passes through unchanged (fast path).
    val plain = Seq((1L, "plain ascii")).toDF("id", "t")
    assert(TextAnalysis.unicodeNormalize(plain, "t", "id", "NFKC")
      .collect().head.getString(1) === "plain ascii")

    // NULL stays NULL (nullSafeEval contract).
    val withNull = Seq((1L, null.asInstanceOf[String])).toDF("id", "t")
    assert(TextAnalysis.unicodeNormalize(withNull, "t", "id", "NFC")
      .collect().head.isNullAt(1))
  }

  test("c4Clean: published line and page rules, each firing independently") {
    val good = "This line has more than five words total."
    val pages = Seq(
      // 3 good sentences -> kept; short/unpunctuated/javascript lines drop
      (1L, s"$good\ntiny line.\nno terminal punctuation here\n" +
        s"Mentions of JavaScript should drop this whole line.\n$good\n$good"),
      // only 2 sentences survive the line filter -> page dropped
      (2L, s"$good\n$good"),
      // badword as a word (case-insensitive, punctuation-stripped)
      (3L, s"$good\n$good\n$good\nWe clearly said BadWord, regrettably."),
      // badword only as substring of a longer word: NOT a hit
      (4L, s"$good\n$good\n$good\nThe notbadwordish token is fine."),
      // lorem ipsum phrase and curly brace page rules
      (5L, s"$good\n$good\n$good\nLOREM IPSUM dolor sit amet today."),
      (6L, s"$good\n$good\n$good\nif (x) { y(); }"))
      .toDF("doc_id", "page")
    val out = TextAnalysis.c4Clean(pages, "page", "doc_id",
        badwords = Seq("badword"))
      .collect().sortBy(_.getLong(0)).map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getBoolean(4), r.getBoolean(5), r.getBoolean(6), r.getBoolean(8)))
    // (id, n_lines, n_kept, n_sentences, badword, lorem, brace, kept)
    assert(out(0) === ((1L, 6L, 3L, 3L, false, false, false, true)))
    assert(out(1) === ((2L, 2L, 2L, 2L, false, false, false, false)))
    assert(out(2) === ((3L, 4L, 4L, 4L, true, false, false, false)))
    assert(out(3) === ((4L, 4L, 4L, 4L, false, false, false, true)))
    assert(out(4) === ((5L, 4L, 4L, 4L, false, true, false, false)))
    assert(out(5) === ((6L, 4L, 3L, 3L, false, false, true, false)))
  }

  test("RobotsAllowed: RFC group selection, longest match, ties, idioms") {
    def ok(robots: String, path: String, agent: String = "graftbot") =
      graft.functions.RobotsAllowed.allowed(robots, path, agent)
    // Longest-prefix match: Allow carve-out inside a Disallow.
    val carve = "User-agent: *\nDisallow: /p\nAllow: /p/ok\n"
    assert(!ok(carve, "/p/x") && ok(carve, "/p/ok/x") && ok(carve, "/q"))
    // Specific-agent group OVERRIDES the star group entirely.
    val specific = "User-agent: graftbot\nDisallow: /\n\n" +
      "User-agent: *\nAllow: /\n"
    assert(!ok(specific, "/anything"))
    assert(ok(specific, "/anything", agent = "otherbot"))
    // Equal-length tie resolves to allow.
    assert(ok("User-agent: *\nDisallow: /a\nAllow: /a\n", "/a/x"))
    // Empty Disallow is the allow-all idiom; no rules at all allows.
    assert(ok("User-agent: *\nDisallow:\n", "/x"))
    assert(ok("", "/x"))
    // RFC 9309 special characters: * matches any run (including /),
    // trailing $ anchors the pattern end to the path end.
    assert(!ok("User-agent: *\nDisallow: /*.pdf\n", "/doc.pdf"))
    assert(!ok("User-agent: *\nDisallow: /*.pdf\n", "/a/b/doc.pdfx")) // unanchored
    assert(!ok("User-agent: *\nDisallow: /*.pdf$\n", "/a/b/doc.pdf"))
    assert(ok("User-agent: *\nDisallow: /*.pdf$\n", "/a/doc.pdfx")) // $ enforced
    assert(!ok("User-agent: *\nDisallow: /private*\n", "/private-x/y"))
    assert(ok("User-agent: *\nDisallow: /private*\n", "/pub/private"))
    // Exact-match anchor without wildcard.
    val exact = "User-agent: *\nDisallow: /onlythis$\n"
    assert(!ok(exact, "/onlythis") && ok(exact, "/onlythis/sub"))
    // Multi-star greedy scan; specificity = pattern octet length.
    assert(!ok("User-agent: *\nDisallow: /a*/b*/c\n", "/a1/b2/c3"))
    assert(ok("User-agent: *\nDisallow: /a*/b*/c\n", "/a1/c3/b2"))
    val wild = "User-agent: *\nDisallow: /dl\nAllow: /dl/*.html$\n"
    assert(!ok(wild, "/dl/x.pdf") && ok(wild, "/dl/x.html"))
    // Comments, blank lines, key case, agent case, unknown keys.
    val messy = "# policy\nUSER-AGENT: GraftBot\nCrawl-delay: 5\n" +
      "DISALLOW: /secret # private\n"
    assert(!ok(messy, "/secret/x") && ok(messy, "/open"))
    // Consecutive user-agent lines share one group.
    val shared = "User-agent: a\nUser-agent: graftbot\nDisallow: /b\n"
    assert(!ok(shared, "/b/x") && ok(shared, "/c"))
  }

  test("urlCanonicalize: each rule pinned; relative and junk input yields NULL") {
    import spark.implicits._
    val got = TextAnalysis.urlCanonicalize(Seq(
        (1L, "HTTP://WWW.Ex.COM:80/A/B/?utm_source=x&b=2&a=1#frag"),
        (2L, "https://ex.com:443"),
        (3L, "https://ex.com:8443/p?gclid=1&z=9&y=8"),
        (4L, "http://ex.com/"),
        (5L, "not a url"),
        (6L, "/relative/only")).toDF("id", "url"), "url")
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(got(1L) === "http://ex.com/A/B?a=1&b=2")
    assert(got(2L) === "https://ex.com/") // default port, empty path -> /
    assert(got(3L) === "https://ex.com:8443/p?y=8&z=9") // non-default port kept
    assert(got(4L) === "http://ex.com/") // root slash kept
    assert(got(5L) === null && got(6L) === null)
    // Idempotence: canonicalizing a canonical URL is the identity.
    val twice = TextAnalysis.urlCanonicalize(
      Seq((1L, got(1L))).toDF("id", "url"), "url")
      .head().getString(2)
    assert(twice === got(1L))
  }

  test("nbClassify: separable vocabularies classify correctly; merge equals retrain") {
    import spark.implicits._
    val train = Seq(
      (1L, "good", "alpha beta gamma alpha beta"),
      (2L, "good", "beta gamma delta alpha"),
      (3L, "bad", "spam junk noise spam junk"),
      (4L, "bad", "junk noise spam noise")).toDF("doc_id", "label", "text")
    val (tok, cls) = TextAnalysis.nbCounts(train, "text", "label")
    val probe = Seq(
      (10L, "alpha beta gamma"),
      (11L, "spam junk junk noise")).toDF("doc_id", "text")
    val got = TextAnalysis.nbClassify(probe, "text", "doc_id", tok, cls)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got === Map(10L -> "good", 11L -> "bad"))
    // Incremental: disjoint batches merged must reproduce the retrain
    // decision AND scores exactly (counts are additive).
    val (tokM, clsM) = TextAnalysis.nbMerge(
      TextAnalysis.nbCounts(train.where($"doc_id" <= 2), "text", "label"),
      TextAnalysis.nbCounts(train.where($"doc_id" > 2), "text", "label"))
    val full = TextAnalysis.nbClassify(probe, "text", "doc_id", tok, cls)
      .collect().map(_.toSeq).toSet
    val merged = TextAnalysis.nbClassify(probe, "text", "doc_id", tokM, clsM)
      .collect().map(_.toSeq).toSet
    assert(full === merged)
    // A doc of pure out-of-vocabulary tokens still gets a deterministic
    // decision (uniform smoothing mass, label-asc tiebreak).
    val oov = TextAnalysis.nbClassify(
        Seq((20L, "zzz qqq")).toDF("doc_id", "text"), "text", "doc_id",
        tok, cls)
      .collect().map(r => r.getString(1))
    assert(oov.toSeq === Seq("bad")) // "bad" < "good" on equal scores
  }

  test("nbSaveModel / nbClassifyFromModel: persist→load→classify equals " +
      "the direct path; the serve plan carries no localCheckpoint scan") {
    import spark.implicits._
    val ref = Seq(
      ("good", "clean prose with many words of quality"),
      ("good", "another clean well formed document"),
      ("bad", "spam spam buy now spam"),
      ("bad", "buy buy spam now")).toDF("lang", "text")
    val docs = Seq(
      (1L, "clean prose document"), (2L, "buy spam now"),
      (3L, "words of quality prose"), (4L, "zzz unseen tokens only"))
      .toDF("doc_id", "text")
    val (tok, cls) = TextAnalysis.nbCounts(ref, "text", "lang")
    val direct = TextAnalysis.nbClassify(docs, "text", "doc_id", tok, cls)
      .orderBy("doc_id").collect().map(_.toSeq).toSeq
    val root = java.nio.file.Files.createTempDirectory("graft_nbspec_")
      .resolve("m").toString
    TextAnalysis.nbSaveModel(root, tok, cls)
    val served = TextAnalysis.nbClassifyFromModel(spark, root, docs,
      "text", "doc_id")
    assert(served.orderBy("doc_id").collect().map(_.toSeq).toSeq === direct)
    // pinned placement: no per-call measurement checkpoint in the plan
    val plan = served.queryExecution.optimizedPlan.toString
    assert(!plan.toLowerCase.contains("logicalrdd"),
      s"serve plan should read parquet, not a checkpointed RDD\n$plan")
  }

  // ------------------------------------------- fill-in-the-middle

  test("fimTransform: reassembly recovers the original text, rate " +
      "bounds hold, SPM reorders the same cuts") {
    val docs = Seq(
      (0L, "the quick brown fox jumps over the lazy dog"),
      (1L, "pack my box with five dozen liquor jugs"),
      (2L, ""), // empty: all three segments empty
      (3L, "a"),
      (42L, "sphinx of black quartz judge my vow")).toDF("doc_id", "text")
    val all = TextAnalysis.fimTransform(docs, "text", "doc_id",
        ratePpm = 1000000L, seed = 7L)
      .orderBy("doc_id").collect()
    assert(all.forall(_.getAs[Boolean]("fim")))
    val orig = docs.orderBy("doc_id").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    all.foreach { r =>
      val t = r.getAs[String]("fim_text")
      assert(t.startsWith("<|fim_prefix|>"), t)
      val body = t.stripPrefix("<|fim_prefix|>")
      val Array(pre, rest) = body.split("\\Q<|fim_suffix|>\\E", 2)
      val Array(suf, mid) = rest.split("\\Q<|fim_middle|>\\E", 2)
      assert(pre + mid + suf === orig(r.getAs[Long]("doc_id")))
    }
    // rate 0: pure passthrough
    val none = TextAnalysis.fimTransform(docs, "text", "doc_id",
        ratePpm = 0L, seed = 7L).orderBy("doc_id").collect()
    assert(none.forall(r => !r.getAs[Boolean]("fim")))
    assert(none.map(_.getAs[String]("fim_text")).toSeq ===
      docs.orderBy("doc_id").collect().map(_.getString(1)).toSeq)
    // SPM: same cuts, suffix-first order
    val spmRows = TextAnalysis.fimTransform(docs, "text", "doc_id",
        ratePpm = 1000000L, seed = 7L, spm = true)
      .orderBy("doc_id").collect()
    spmRows.foreach { r =>
      val t = r.getAs[String]("fim_text")
      assert(t.startsWith("<|fim_suffix|>"), t)
      val body = t.stripPrefix("<|fim_suffix|>")
      val Array(suf, rest) = body.split("\\Q<|fim_prefix|>\\E", 2)
      val Array(pre, mid) = rest.split("\\Q<|fim_middle|>\\E", 2)
      assert(pre + mid + suf === orig(r.getAs[Long]("doc_id")))
    }
    // membership at a partial rate matches the shared sampling hash
    val part = TextAnalysis.fimTransform(docs, "text", "doc_id",
        ratePpm = 300000L, seed = 7L).collect()
    val thr = 300000L * 2147483647L / 1000000L
    part.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      val ks = (BigInt(2654435761L) * 8 mod BigInt(2147483647L)).toLong
      val h = ((id % 2147483647L) * ks + 7L) % 2147483647L
      assert(r.getAs[Boolean]("fim") === (h < thr))
    }
  }

  // ------------------------------------- per-set contamination report

  test("contaminationReport: per-eval-set doc hits, gram hits, and " +
      "corpus ppm; shared grams count toward both sets") {
    // 4-token grams at n=4; doc 1 overlaps setA, doc 2 overlaps both
    val corpus = Seq(
      (1L, "alpha beta gamma delta tail"),
      (2L, "shared one two three words"),
      (3L, "totally clean document here")).toDF("doc_id", "text")
    val bench = Seq(
      ("A", "alpha beta gamma delta"),
      ("A", "shared one two three"),
      ("B", "shared one two three")).toDF("eval_set", "text")
    val got = Decontam.contaminationReport(corpus, "text", "doc_id",
        bench, "text", "eval_set", n = 4)
      .orderBy("eval_set").collect()
      .map(r => (r.getAs[String]("eval_set"), r.getAs[Long]("n_docs_hit"),
        r.getAs[Long]("n_gram_hits"), r.getAs[Long]("contaminated_ppm")))
    // setA: docs 1 and 2 hit, one shared gram each (2/3 corpus);
    // setB: doc 2 only (1/3) — the shared gram counted toward both sets
    assert(got.toSeq === Seq(
      ("A", 2L, 2L, 2000000L / 3),
      ("B", 1L, 1L, 1000000L / 3)))
    // a clean eval set reports 0, it does not vanish
    val withClean = Decontam.contaminationReport(corpus, "text", "doc_id",
        bench.union(Seq(("C", "zero overlap set entirely"))
          .toDF("eval_set", "text")),
        "text", "eval_set", n = 4)
      .orderBy("eval_set").collect()
      .map(r => (r.getAs[String]("eval_set"), r.getAs[Long]("n_docs_hit"),
        r.getAs[Long]("contaminated_ppm")))
    assert(withClean.toSeq === Seq(("A", 2L, 2000000L / 3),
      ("B", 1L, 1000000L / 3), ("C", 0L, 0L)))
  }

  test("contaminationCurve: one tagged scan equals contaminationReport " +
      "run per n; (set, n) pairs with no matches report 0") {
    val corpus = Seq(
      (1L, "alpha beta gamma delta tail words beyond the overlap zone"),
      (2L, "shared one two three words only partially overlapping here"),
      (3L, "totally clean document here with nothing in common at all"))
      .toDF("doc_id", "text")
    val bench = Seq(
      ("A", "alpha beta gamma delta tail words beyond"),
      ("A", "shared one two three"),
      ("B", "shared one two three"),
      ("C", "zero overlap set entirely")).toDF("eval_set", "text")
    val ns = Seq(2, 4, 7)
    val curve = Decontam.contaminationCurve(corpus, "text", "doc_id",
        bench, "text", "eval_set", ns)
      .orderBy("eval_set", "n").collect()
      .map(r => (r.getAs[String]("eval_set"), r.getAs[Long]("n"),
        r.getAs[Long]("n_docs_hit"), r.getAs[Long]("n_gram_hits"),
        r.getAs[Long]("contaminated_ppm")))
    val perN = ns.flatMap { n =>
      Decontam.contaminationReport(corpus, "text", "doc_id",
          bench, "text", "eval_set", n = n).collect()
        .map(r => (r.getAs[String]("eval_set"), n.toLong,
          r.getAs[Long]("n_docs_hit"), r.getAs[Long]("n_gram_hits"),
          r.getAs[Long]("contaminated_ppm")))
    }.sortBy(t => (t._1, t._2))
    assert(curve.toSeq === perN)
    // the decay is real on this fixture: set A matches at every n up
    // to 7 (7-token verbatim run), set B dies past its 4-token overlap
    def hit(set: String, n: Long) =
      curve.find(t => t._1 == set && t._2 == n).get._3
    assert(hit("A", 2L) > 0 && hit("A", 7L) > 0)
    assert(hit("B", 4L) > 0 && hit("B", 7L) === 0L)
    assert(ns.forall(n => hit("C", n.toLong) === 0L),
      "a clean set reports 0 at every n, it does not vanish")
  }

  test("saveSetIndex: eval sets APPEND mid-stream — overlapping " +
      "increments re-distinct, new sets accrete, kind/n guards fail fast") {
    val corpus = Seq(
      (1L, "alpha beta gamma delta tail"),
      (2L, "shared one two three words"),
      (3L, "totally clean document here")).toDF("doc_id", "text")
    val root = java.nio.file.Files.createTempDirectory("graft_setix_")
      .resolve("ix").toString
    // increment 1: set A only
    Decontam.saveSetIndex(root,
      Seq(("A", "alpha beta gamma delta"), ("A", "shared one two three"))
        .toDF("eval_set", "text"), "text", "eval_set", n = 4)
    // increment 2: a NEW set B plus an OVERLAPPING re-delivery of an A row
    Decontam.saveSetIndex(root,
      Seq(("B", "shared one two three"), ("A", "shared one two three"))
        .toDF("eval_set", "text"), "text", "eval_set", n = 4)
    val fromIx = Decontam.contaminationReportFromIndex(spark, root,
        corpus, "text", "doc_id")
      .orderBy("eval_set").collect()
      .map(r => (r.getAs[String]("eval_set"), r.getAs[Long]("n_docs_hit"),
        r.getAs[Long]("n_gram_hits"), r.getAs[Long]("contaminated_ppm")))
    // equals the direct report over the merged benchmark: the overlap
    // re-distincts instead of double-counting A's gram hits
    assert(fromIx.toSeq === Seq(
      ("A", 2L, 2L, 2000000L / 3),
      ("B", 1L, 1L, 1000000L / 3)))
    // the labeled index also serves the UNLABELED flag path
    val flagged = Decontam.flagFromIndex(spark, root, corpus, "text",
        "doc_id").orderBy("doc_id").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Boolean]("contaminated")))
    assert(flagged.toSeq === Seq((1L, true), (2L, true), (3L, false)))
    // guards: wrong n, wrong kind, unlabeled index into the set serve
    val benchA = Seq(("A", "alpha beta gamma delta")).toDF("eval_set", "text")
    intercept[IllegalArgumentException] {
      Decontam.saveSetIndex(root, benchA, "text", "eval_set", n = 5)
    }
    intercept[IllegalArgumentException] {
      Decontam.saveIndex(root, benchA, "text", n = 4)
    }
    val plainRoot = java.nio.file.Files.createTempDirectory("graft_plainix_")
      .resolve("ix").toString
    Decontam.saveIndex(plainRoot, benchA, "text", n = 4)
    intercept[IllegalArgumentException] {
      Decontam.loadSetIndex(spark, plainRoot)
    }
  }

  // ----------------------------------------------- span corruption

  test("spanCorrupt: sentinels number in order, reassembly recovers " +
      "the original tokens, unmasked docs pass through") {
    // 20 tokens -> 3 blocks of 8/8/4 at the default grid
    val words = (1 to 20).map(i => s"w$i")
    val docs = Seq((5L, words.mkString(" ")), (6L, ""))
      .toDF("doc_id", "text")
    val got = TextAnalysis.spanCorrupt(docs, "text", "doc_id",
        blockTokens = 8, spanTokens = 3, ratePct = 25)
      .orderBy("doc_id").collect()
    val r5 = got(0)
    // replicate the draw: block j masked iff (id*K + j*40503)%100 < 25
    val masked = (0 until 3).filter(j =>
      (5L * 2654435761L + j * 40503L) % 100 < 25)
    assert(r5.getAs[Long]("n_spans") === masked.length.toLong)
    val corrupted = r5.getAs[String]("corrupted").split(" ").toSeq
    val targets = r5.getAs[String]("targets")
    // each masked block j lost exactly its first 3 tokens to targets
    masked.zipWithIndex.foreach { case (j, n) =>
      val span = (1 to 3).map(o => s"w${j * 8 + o}").mkString(" ")
      assert(targets.contains(s"<extra_id_$n> $span"), targets)
      assert(corrupted.contains(s"<extra_id_$n>"))
      (1 to 3).foreach(o => assert(!corrupted.contains(s"w${j * 8 + o}")))
    }
    // reassembly: substituting each sentinel's span back recovers all
    val restored = masked.zipWithIndex.foldLeft(
        r5.getAs[String]("corrupted")) { case (acc, (j, n)) =>
      acc.replace(s"<extra_id_$n>",
        (1 to 3).map(o => s"w${j * 8 + o}").mkString(" "))
    }
    assert(restored === words.mkString(" "))
    // empty doc: empty outputs
    assert(got(1).getAs[String]("corrupted") === "")
    assert(got(1).getAs[Long]("n_spans") === 0L)
  }

  test("spanCorrupt: linear sentinel numbering survives a 100k-token " +
      "document (the old per-block re-filter was O(blocks^2))") {
    // 100k tokens -> 12,500 blocks; the quadratic shape evaluated
    // ~156M draw predicates for this one row
    val n = 100000
    val words = (1 to n).map(i => s"w$i")
    val docs = Seq((7L, words.mkString(" "))).toDF("doc_id", "text")
    val t0 = System.nanoTime()
    val r = TextAnalysis.spanCorrupt(docs, "text", "doc_id").head()
    val wallSec = (System.nanoTime() - t0) / 1e9
    val nBlocks = (n + 7) / 8
    val masked = (0 until nBlocks).filter(j =>
      Math.floorMod(7L * 2654435761L + j * 40503L, 100L) < 25)
    assert(r.getAs[Long]("n_spans") === masked.length.toLong)
    // sentinel numbering: first and last selected block carry the
    // first and last sentinel ids, spans hold the blocks' first 3 toks
    val targets = r.getAs[String]("targets")
    assert(targets.startsWith(s"<extra_id_0> w${masked.head * 8 + 1} " +
      s"w${masked.head * 8 + 2} w${masked.head * 8 + 3}"))
    assert(targets.endsWith(s"<extra_id_${masked.length - 1}> " +
      s"w${masked.last * 8 + 1} w${masked.last * 8 + 2} " +
      s"w${masked.last * 8 + 3}"))
    // generous linearity guard: the quadratic path took minutes here
    assert(wallSec < 60.0, s"spanCorrupt took ${wallSec}s on 100k tokens")
  }

  test("spanCorrupt + maskTokens: negative ids draw via pmod instead " +
      "of silently masking every block") {
    val words = (1 to 160).map(i => s"w$i").mkString(" ")
    val span = TextAnalysis.spanCorrupt(
        Seq((-7L, words)).toDF("doc_id", "text"), "text", "doc_id")
      .head()
    // 20 blocks at 25%: pmod keeps the rate near a quarter — the old
    // negative remainder made every draw < 25 (all 20 blocks masked)
    val expectSpan = (0 until 20).count(j =>
      Math.floorMod(-7L * 2654435761L + j * 40503L, 100L) < 25)
    assert(span.getAs[Long]("n_spans") === expectSpan.toLong)
    assert(span.getAs[Long]("n_spans") < 20L)
    val mask = TextAnalysis.maskTokens(
        Seq((-7L, words)).toDF("doc_id", "text"), "text", "doc_id", 25)
      .head()
    val expectMask = (1 to 160).count(p =>
      Math.floorMod(-7L * 2654435761L + p * 40503L, 100L) < 25)
    assert(mask.getAs[Long]("n_masked") === expectMask.toLong)
    assert(mask.getAs[Long]("n_masked") < 160L)
  }

  // ------------------------------------------------- SFT rendering

  test("renderSft: loss span selects exactly response + end sentinel") {
    val df = Seq((1L, "what is spark", "a distributed engine"),
        (2L, "empty answer", ""))
      .toDF("id", "p", "r")
    val got = TextAnalysis.renderSft(df, "id", col("p"), col("r"),
        system = "sys").orderBy("id").collect()
    got.zip(Seq((1L, "what is spark", "a distributed engine"),
        (2L, "empty answer", ""))).foreach { case (row, (_, p, r)) =>
      val text = row.getAs[String]("sft_text")
      assert(text ===
        s"<|system|>sys<|user|>$p<|assistant|>$r<|end|>")
      val s0 = row.getAs[Long]("loss_start").toInt
      val e0 = row.getAs[Long]("loss_end").toInt
      // [loss_start, loss_end) 1-based == response + end sentinel
      assert(text.substring(s0 - 1, e0 - 1) === r + "<|end|>")
      // nothing of the response leaks before the span
      assert(text.substring(0, s0 - 1).endsWith("<|assistant|>"))
    }
  }

  test("renderSftTokens: token spans select the tail; the whitespace " +
      "boundary convention makes split == whole tokenization") {
    val docs = Seq((1L, "the quick brown fox jumps over a lazy dog"))
      .toDF("doc_id", "text")
    val merges = graft.ext.Bpe.collectMerges(
      graft.ext.Bpe.learnMerges(docs, "text", numMerges = 8))
    def tok(c: org.apache.spark.sql.Column) =
      graft.functions.GraftFunctions.bpeTokenize(c, merges)
    // word-boundary split: response carries its leading space
    val good = TextAnalysis.renderSftTokens(docs, "doc_id",
      lit("the quick"), lit(" brown fox"), system = "s",
      tokenizer = tok).head()
    val toks = good.getAs[scala.collection.Seq[String]]("sft_tokens")
    val s0 = good.getAs[Long]("loss_start_tok").toInt
    val e0 = good.getAs[Long]("loss_end_tok").toInt
    assert(good.getAs[Long]("n_tokens") === toks.length.toLong)
    // the loss span is exactly the tail's tokens: response + end tok
    val tailToks = spark.range(1)
      .select(tok(lit(" brown fox<|end|>")).as("t"))
      .head().getAs[scala.collection.Seq[String]]("t")
    assert(toks.slice(s0 - 1, e0 - 1) === tailToks)
    // convention HOLDS: concatenated halves == whole-string tokens
    val whole = spark.range(1)
      .select(tok(lit(good.getAs[String]("sft_text"))).as("t"))
      .head().getAs[scala.collection.Seq[String]]("t")
    assert(toks === whole)
    // convention VIOLATED (response fused onto the sentinel): the
    // emitted spans still index sft_tokens correctly, but the artifact
    // no longer equals whole-string tokenization — the documented trap
    val bad = TextAnalysis.renderSftTokens(docs, "doc_id",
      lit("the quick"), lit("brown fox"), system = "s",
      tokenizer = tok).head()
    val badToks = bad.getAs[scala.collection.Seq[String]]("sft_tokens")
    val badWhole = spark.range(1)
      .select(tok(lit(bad.getAs[String]("sft_text"))).as("t"))
      .head().getAs[scala.collection.Seq[String]]("t")
    assert(badToks !== badWhole)
  }

  test("renderDpoPairsTokens: both completions share the head token " +
      "prefix; divergence starts exactly at loss_start_tok") {
    val docs = Seq((1L, "x")).toDF("doc_id", "text")
    val merges = graft.ext.Bpe.collectMerges(
      graft.ext.Bpe.learnMerges(
        Seq((1L, "aa bb cc dd")).toDF("doc_id", "text"),
        "text", numMerges = 4))
    def tok(c: org.apache.spark.sql.Column) =
      graft.functions.GraftFunctions.bpeTokenize(c, merges)
    val row = TextAnalysis.renderDpoPairsTokens(docs, "doc_id",
      lit("aa bb"), lit(" cc dd"), lit(" dd cc"), system = "s",
      tokenizer = tok).head()
    val ch = row.getAs[scala.collection.Seq[String]]("chosen_tokens")
    val rj = row.getAs[scala.collection.Seq[String]]("rejected_tokens")
    val s0 = row.getAs[Long]("loss_start_tok").toInt
    assert(ch.take(s0 - 1) === rj.take(s0 - 1))
    assert(ch.slice(s0 - 1, ch.length) !==
      rj.slice(s0 - 1, rj.length))
    assert(row.getAs[Long]("chosen_loss_end_tok") === ch.length + 1L)
    assert(row.getAs[Long]("rejected_loss_end_tok") === rj.length + 1L)
  }

  test("renderDpoPairs: both sides share the prompt prefix, spans " +
      "select response + end sentinel on each side") {
    val df = Seq((1L, "why", "good answer", "bad"))
      .toDF("id", "p", "good", "bad")
    val r = TextAnalysis.renderDpoPairs(df, "id", col("p"), col("good"),
        col("bad"), system = "s").collect()(0)
    val ct = r.getAs[String]("chosen_text")
    val rt = r.getAs[String]("rejected_text")
    assert(ct === "<|system|>s<|user|>why<|assistant|>good answer<|end|>")
    assert(rt === "<|system|>s<|user|>why<|assistant|>bad<|end|>")
    val s0 = r.getAs[Long]("loss_start").toInt
    assert(ct.substring(0, s0 - 1) === rt.substring(0, s0 - 1))
    assert(ct.substring(s0 - 1,
      r.getAs[Long]("chosen_loss_end").toInt - 1) === "good answer<|end|>")
    assert(rt.substring(s0 - 1,
      r.getAs[Long]("rejected_loss_end").toInt - 1) === "bad<|end|>")
  }

  // --------------------------------------------- classifier report

  test("classifierReport: exact counts and ppm ratios, zero-pred and " +
      "zero-truth classes report 0") {
    val truth = Seq((1L, "a"), (2L, "a"), (3L, "b"), (4L, "b"), (5L, "c"))
      .toDF("id", "y")
    // preds: a right, a wrong->b, b right, b wrong->d, c wrong->a
    val pred = Seq((1L, "a"), (2L, "b"), (3L, "b"), (4L, "d"), (5L, "a"))
      .toDF("id", "yhat")
    val got = TextAnalysis.classifierReport(pred, "id", "yhat",
        truth, "y")
      .orderBy("label").collect()
      .map(r => (r.getAs[String]("label"), r.getAs[Long]("n_true"),
        r.getAs[Long]("n_pred"), r.getAs[Long]("n_correct"),
        r.getAs[Long]("precision_ppm"), r.getAs[Long]("recall_ppm"),
        r.getAs[Long]("f1_ppm"))).toSeq
    val pA = 1000000L / 2; val rA = 1000000L / 2
    val pB = 1000000L / 2; val rB = 1000000L / 2
    assert(got === Seq(
      ("a", 2L, 2L, 1L, pA, rA, 2 * pA * rA / (pA + rA)),
      ("b", 2L, 2L, 1L, pB, rB, 2 * pB * rB / (pB + rB)),
      ("c", 1L, 0L, 0L, 0L, 0L, 0L),   // zero predictions
      ("d", 0L, 1L, 0L, 0L, 0L, 0L))) // zero truth rows
  }

  // --------------------------------------------- tokenizer fertility

  test("tokenizerFertility: exact-integer per-language ratios") {
    val docs = Seq(
      (1L, "en", "aa bb"), (2L, "en", "cccc"), (3L, "fr", "dd dd dd"))
      .toDF("doc_id", "lang", "text")
    val counts = Seq((1L, 3L), (2L, 2L), (3L, 5L))
      .toDF("doc_id", "n_tokens")
    val got = TextAnalysis.tokenizerFertility(docs, "text", "doc_id",
        col("lang"), counts)
      .orderBy("lang").collect()
    assert(got.map(_.getAs[String]("lang")).toSeq === Seq("en", "fr"))
    val en = got(0); val fr = got(1)
    assert(en.getAs[Long]("n_docs") === 2L)
    assert(en.getAs[Long]("n_tokens") === 5L)
    assert(en.getAs[Long]("n_words") === 3L)
    assert(en.getAs[Long]("n_chars") === 9L)
    assert(en.getAs[Long]("fertility_ppm") === 5000000L / 3L)
    assert(en.getAs[Long]("chars_per_token_ppm") === 9000000L / 5L)
    assert(fr.getAs[Long]("n_words") === 3L)
    assert(fr.getAs[Long]("fertility_ppm") === 5000000L / 3L)
    assert(fr.getAs[Long]("chars_per_token_ppm") === 8000000L / 5L)
  }

  test("tokenizerFertility: all-whitespace stratum and zero-token " +
      "tokenizer report 0 ppm, not NULL") {
    val docs = Seq(
      (1L, "ws", "   "),          // n_words = 0 for the whole stratum
      (2L, "zt", "aa bb"))        // tokenizer emits 0 tokens
      .toDF("doc_id", "lang", "text")
    val counts = Seq((1L, 4L), (2L, 0L)).toDF("doc_id", "n_tokens")
    val got = TextAnalysis.tokenizerFertility(docs, "text", "doc_id",
        col("lang"), counts)
      .orderBy("lang").collect()
    val ws = got(0); val zt = got(1)
    assert(ws.getAs[String]("lang") === "ws")
    assert(ws.getAs[Long]("n_words") === 0L)
    assert(!ws.isNullAt(ws.fieldIndex("fertility_ppm")))
    assert(ws.getAs[Long]("fertility_ppm") === 4000000L) // div by max(0,1)
    assert(zt.getAs[Long]("n_tokens") === 0L)
    assert(!zt.isNullAt(zt.fieldIndex("chars_per_token_ppm")))
    assert(zt.getAs[Long]("chars_per_token_ppm") === 5000000L)
  }

  test("renderSft: loss spans hold in code points when the system " +
      "prompt contains non-BMP characters") {
    // U+1F642 is two UTF-16 units but ONE code point — the span unit
    // Spark's length()/substring use
    val df = Seq((1L, "q", "ans")).toDF("id", "p", "r")
    val row = TextAnalysis.renderSft(df, "id", col("p"), col("r"),
        system = "sys🙂").head()
    val text = row.getAs[String]("sft_text")
    val s0 = row.getAs[Long]("loss_start").toInt
    val e0 = row.getAs[Long]("loss_end").toInt
    // extract [s0, e0) in CODE POINTS and compare
    def cpSub(s: String, from1: Int, until1: Int): String = {
      val b = s.offsetByCodePoints(0, from1 - 1)
      val e = s.offsetByCodePoints(0, until1 - 1)
      s.substring(b, e)
    }
    assert(cpSub(text, s0, e0) === "ans<|end|>")
    assert(cpSub(text, 1, s0).endsWith("<|assistant|>"))
  }
}
