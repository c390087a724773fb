package graft.ext

import graft.functions.GraftFunctions
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Text-analysis operators for a training-data pipeline (BASELINE.json
  * north star): token/char/punct statistics, quality scoring, language
  * identification, document fingerprinting. All are narrow per-row
  * projections — no shuffle, full whole-stage codegen, so they stream at
  * scan speed over any corpus size.
  */
object TextAnalysis {

  /** Whitespace-delimited token count (a BPE-ish proxy also splits
    * punctuation; see `bpeTokenCount`). */
  def tokenCount(c: Column): Column =
    size(regexp_extract_all(c, lit("[^\\s]+"), lit(0))).cast(LongType)

  /** Count of word-ish subtokens under a BPE-flavored pre-tokenization:
    * word pieces, numbers, and single punctuation marks each count. */
  def bpeTokenCount(c: Column): Column =
    size(regexp_extract_all(c, lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"), lit(0)))
      .cast(LongType)

  def charCount(c: Column): Column = length(c).cast(LongType)

  def punctCount(c: Column): Column =
    length(c) - length(regexp_replace(c, "[.,;:!?]", "")) cast LongType

  def digitCount(c: Column): Column =
    length(c) - length(regexp_replace(c, "[0-9]", "")) cast LongType

  /** Per-document statistics frame. */
  def stats(df: DataFrame, text: String, id: String): DataFrame =
    df.select(
      col(id),
      charCount(col(text)).as("n_chars"),
      tokenCount(col(text)).as("n_tokens"),
      bpeTokenCount(col(text)).as("n_bpe_tokens"),
      punctCount(col(text)).as("n_punct"),
      digitCount(col(text)).as("n_digits"))

  /** Quality gate in pure integer arithmetic (ratio thresholds expressed
    * as cross-multiplications so no floating point is involved):
    *   - length in [minChars, maxChars]
    *   - at least minTokens tokens
    *   - punctuation <= 10% of characters
    *   - digits <= 30% of characters
    *   - mean token length in [2, 15] chars
    */
  def qualityFlag(text: Column,
      minChars: Int = 50, maxChars: Int = 100000, minTokens: Int = 5): Column = {
    val chars = charCount(text)
    val tokens = tokenCount(text)
    val punct = punctCount(text)
    val digits = digitCount(text)
    chars.between(minChars, maxChars) &&
      (tokens >= minTokens) &&
      (punct * 10 <= chars) &&
      (digits * 10 <= chars * 3) &&
      (chars <= tokens * 16) && (chars >= tokens * 2)
  }

  def quality(df: DataFrame, text: String, id: String): DataFrame =
    df.select(col(id), qualityFlag(col(text)).as("is_quality"))

  /** The Gopher quality rules (Rae et al. 2021, "Scaling Language
    * Models", table A1 — the published heuristics most 100 TB corpus
    * filters start from), in pure integer arithmetic so the verdict
    * replays bit-identically: every ratio threshold is a
    * cross-multiplication, never a float division.
    *
    *   - word count in [50, 100000]
    *   - mean word length in [3, 10] chars (3·n ≤ Σlen ≤ 10·n)
    *   - symbol-to-word ratio: (# '#' + # '...') ≤ 0.1·words
    *   - ≤ 90% of lines start with a bullet ('-', '*', '•')
    *   - ≤ 30% of lines end with an ellipsis
    *   - ≥ 80% of words contain at least one alphabetic character
    *   - contains at least 2 of the 8 Gopher stop words
    *
    * Output: one row per doc with every rule's inputs (so a failing doc
    * is diagnosable) plus the `is_quality` verdict, all read from ONE
    * evaluation of the fused [[graft.functions.GopherQuality]] kernel (a
    * single codegen'd pass over the document's bytes). One narrow
    * projection — no shuffle, no join; run it BEFORE dedup so junk
    * never enters the signature passes. */
  def gopherQuality(df: DataFrame, text: String, id: String,
      minWords: Long = 50L, maxWords: Long = 100000L,
      minStopHits: Long = 2L): DataFrame =
    df.select(col(id), GraftFunctions.gopherQuality(col(text), minWords,
        maxWords, minStopHits).as("__gopher"))
      .select(col(id), col("__gopher.*"))

  /** The Gopher verdict (word ceiling 100000) as a row predicate — the
    * kernel's `is_quality`, one evaluation per row, inside whole-stage
    * codegen. The inline quality filter of [[Curation.curateKept]],
    * [[Curation.curateStream]] and [[Curation.curateCrawl]]; null text
    * is dropped. */
  private[ext] def gopherKeep(text: Column, minWords: Long,
      minStopHits: Long): Column =
    GraftFunctions.gopherQuality(text, minWords, 100000L, minStopHits)
      .getField("is_quality")

  /** C4-style page cleaning (Raffel et al. 2020, the published heuristics
    * behind the Colossal Clean Crawled Corpus; cf. reference
    * box_ingest.py:88 which has no corpus hygiene at all). Line level:
    * keep only lines that end in terminal punctuation (. ! ? "), contain
    * at least `minLineWords` words, and do not mention "javascript".
    * Page level: keep only pages whose CLEANED text still has at least
    * `minSentences` sentences ([.!?] marks) and whose RAW page has no
    * word from `badwords`, no "lorem ipsum" phrase, and no curly brace.
    *
    * One stateless narrow projection per document — no shuffle, no join;
    * the badword list rides inside the plan as a literal array (the
    * published list is ~400 words — trivially literal-sized). At 100 TB
    * this runs at scan speed and composes with [[Curation.curate]] or
    * any stream (stateless => streaming-safe unchanged).
    *
    * Returns one row per input doc: line/sentence tallies, the per-rule
    * page verdict components, the cleaned text, and `is_kept`.
    */
  def c4Clean(df: DataFrame, text: String, id: String,
      badwords: Seq[String], minLineWords: Int = 5,
      minSentences: Int = 3): DataFrame = {
    val t = col(text)
    val lines = split(t, "\n")
    val kept = filter(lines, l =>
      substring(l, -1, 1).isin(".", "!", "?", "\"") &&
        size(filter(split(l, "\\s+"), w => length(w) > 0)) >= minLineWords &&
        !contains(lower(l), lit("javascript")))
    df.select(col(id), t.as("__page"), lines.as("__lines"), kept.as("__kept"))
      .select(
        col(id),
        size(col("__lines")).cast(LongType).as("n_lines"),
        size(col("__kept")).cast(LongType).as("n_kept"),
        array_join(col("__kept"), "\n").as("clean_text"),
        arrays_overlap(
          filter(split(lower(col("__page")), "[^a-z0-9]+"),
            w => length(w) > 0),
          lit(badwords.map(_.toLowerCase).toArray)).as("has_badword"),
        contains(lower(col("__page")), lit("lorem ipsum")).as("has_lorem"),
        contains(col("__page"), lit("{")).as("has_brace"))
      .withColumn("n_sentences",
        (length(col("clean_text")) -
          length(regexp_replace(col("clean_text"), "[.!?]", "")))
          .cast(LongType))
      .withColumn("is_kept",
        col("n_sentences") >= minSentences && !col("has_badword") &&
          !col("has_lorem") && !col("has_brace"))
      .select(col(id), col("n_lines"), col("n_kept"), col("n_sentences"),
        col("has_badword"), col("has_lorem"), col("has_brace"),
        col("clean_text"), col("is_kept"))
  }

  /** 64-bit rolling-hash document fingerprint (custom codegen'd Catalyst
    * expression — graft.functions.RollingFingerprint). Equal fingerprints
    * => byte-identical text (mod 2^64 collisions). */
  def fingerprint(df: DataFrame, text: String, id: String): DataFrame =
    df.select(col(id), GraftFunctions.fingerprint(col(text)).as("fingerprint"))

  // ------------------------------------------------------------ lang id

  /** Tiny deterministic stopword profiles (public common-word lists). A
    * real deployment swaps in character-n-gram models; the operator shape
    * (broadcast profiles, one codegen'd projection, argmax) is what
    * matters at 100 TB.
    */
  private[graft] val StopwordProfiles: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to", "in", "is", "that", "it", "was", "for"),
    "es" -> Seq("el", "la", "de", "que", "y", "en", "un", "los", "por", "con"),
    "de" -> Seq("der", "die", "und", "das", "ist", "von", "mit", "den", "nicht", "ein"),
    "fr" -> Seq("le", "la", "et", "les", "des", "un", "une", "du", "est", "pour"),
    "it" -> Seq("il", "di", "che", "la", "per", "un", "in", "del", "una", "con"))

  /** Language-ID by stopword hit counting: score(lang) = #tokens that are
    * in that language's stopword set; argmax wins, "und" (undetermined)
    * when no profile scores. One pass: tokens array is computed once,
    * each profile scores via a size(array_intersect-like filter).
    */
  def langIdCol(text: Column): Column = {
    // Token array bound once per row via the outer lambda (each profile's
    // filter() would otherwise re-run split+lower — cf. Dedup.shingleCol).
    def best(tokens: Column): Column = {
      val scored = StopwordProfiles.map { case (lang, words) =>
        struct(
          size(filter(tokens, t => t.isInCollection(words))).as("score"),
          lit(lang).as("lang"))
      }
      val b = greatest(scored: _*)
      when(b.getField("score") > 0, b.getField("lang")).otherwise(lit("und"))
    }
    element_at(transform(array(split(lower(text), "\\s+")), best(_)), 1)
  }

  def langId(df: DataFrame, text: String, id: String): DataFrame =
    df.select(col(id), langIdCol(col(text)).as("lang_pred"))

  /** Mixed-language document SEGMENTATION — the CCNet discipline of
    * classifying language below the document level, so a document that
    * switches language mid-way (quoted sources, code-switching forum
    * threads, boilerplate in a second language) can be split and each
    * piece routed to its language's pipeline instead of the whole doc
    * taking the majority label ([[langId]]'s reading) or being dropped.
    * Sentences ([[sentences]]' splitter) are labeled with the stopword
    * argmax ([[langIdCol]] — same profiles, same tie-break), then
    * CONSECUTIVE same-language sentences collapse into segments by
    * run-length numbering: a lag-comparison break flag and its running
    * sum over the (doc, sent_idx) window — the gaps-and-islands shape
    * (q49's transitions pattern).
    *
    * Scale shape: one narrow sentence explode, then ONE doc-keyed
    * exchange shared by both window functions and the final per-segment
    * aggregation (same partitioning key) — nothing corpus-global; the
    * window's per-partition unit is a document's sentence list, bounded
    * by document length.
    *
    * Output: (id, seg_idx 1-based, lang, first_sent_idx, n_sentences,
    * n_tokens) — one row per segment, in document order. */
  def langSegments(df: DataFrame, text: String, id: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(id)).orderBy(col("sent_idx"))
    sentences(df, text, id)
      .select(col(id), col("sent_idx"), col("n_tokens"),
        langIdCol(col("sentence")).as("lang"))
      // first sentence: lag is NULL, the === yields NULL, otherwise(1)
      // opens the first segment — IS DISTINCT FROM semantics given
      // lang is never null ('und' is the no-score fallback)
      .withColumn("__brk",
        when(lag(col("lang"), 1).over(w) === col("lang"), 0L)
          .otherwise(1L))
      .withColumn("seg_idx", sum(col("__brk")).over(w))
      .groupBy(col(id), col("seg_idx"), col("lang"))
      .agg(min(col("sent_idx")).as("first_sent_idx"),
        count(lit(1)).as("n_sentences"),
        sum(col("n_tokens")).as("n_tokens"))
  }

  // ------------------------------------------------------- normalization

  /** Training-corpus text normalization: lowercase, mask URLs and email
    * addresses with placeholder tokens, collapse whitespace runs, trim.
    * Pure regexp projection — narrow, codegen'd, scan-speed. The regexes
    * avoid lookarounds/backreferences so RE2-based engines (the DuckDB
    * oracle) replay them byte-identically. */
  private val UrlRe = "https?://\\S+"
  private val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"

  def normalizeCol(text: Column): Column =
    trim(regexp_replace(
      regexp_replace(
        regexp_replace(lower(text), UrlRe, "<url>"),
        EmailRe, "<email>"),
      "\\s+", " "))

  def normalize(df: DataFrame, text: String, id: String): DataFrame =
    df.select(col(id), normalizeCol(col(text)).as("norm_text"))

  /** Unicode normalization (UAX #15). Run upstream of fingerprinting /
    * shingling / BPE / decontamination: those all key on raw bytes, and
    * a corpus mixing composed and decomposed forms (OCR output, PDF
    * extraction with compatibility ligatures or full-width forms)
    * silently splits what should be one key. NFC for byte-stable
    * display text; NFKC to also fold compatibility variants (ﬁ→fi,
    * ①→1, full-width→ASCII) ahead of tokenization. One codegen'd
    * projection; the expression's fast path skips allocation for
    * already-normalized (e.g. pure-ASCII) rows, so the bulk of a web
    * corpus passes through at scan speed. */
  def unicodeNormalize(df: DataFrame, text: String, id: String,
      form: String = "NFC"): DataFrame =
    df.select(col(id),
      graft.functions.GraftFunctions.unicodeNormalize(col(text), form)
        .as("norm_text"))

  // ------------------------------------------------------------ chunking

  /** Overlapping token-window chunking — the RAG/context-window prep
    * pass: each document yields windows of `size` tokens starting every
    * `stride` tokens (stride < size ⇒ overlap). A pure narrow
    * projection (token array bound once per row, windows sliced from
    * it), so it streams at scan speed; the last window clamps at the
    * document end, and documents shorter than `size` yield one chunk.
    * Output: (id, chunk_id, chunk_text, n_chunk_tokens). */
  def chunk(df: DataFrame, text: String, id: String,
      chunkSize: Int = 256, stride: Int = 128): DataFrame = {
    require(chunkSize > 0 && stride > 0 && stride <= chunkSize,
      s"chunkSize=$chunkSize stride=$stride (stride must be in 1..chunkSize)")
    val toks = filter(split(lower(col(text)), "\\s+"), t => length(t) > 0)
    val chunksExpr = flatten(transform(
      array(toks), // bind the token array once (cf. Dedup.shingleCol)
      ts => transform(
        sequence(lit(0),
          floor((greatest(size(ts) - chunkSize, lit(0)) + stride - 1)
            .cast(DoubleType) / stride).cast(IntegerType)),
        i => struct(
          concat_ws(" ", slice(ts, i * stride + 1, lit(chunkSize)))
            .as("chunk_text"),
          least(size(ts) - i * stride, lit(chunkSize)).as("n_chunk_tokens")))))
    df.where(size(toks) > 0)
      .select(col(id), posexplode(chunksExpr))
      .select(col(id), col("pos").cast(LongType).as("chunk_id"),
        col("col.chunk_text"), col("col.n_chunk_tokens").cast(LongType)
          .as("n_chunk_tokens"))
  }

  // --------------------------------------------------------------- tfidf

  /** Top distinctive terms per document by tf-idf. Scoring uses the
    * linear inverse-frequency form score = tf/df, computed as the EXACT
    * integer `tf * 10^12 div df` — floating-point log-idf scores differ
    * at the ulp between engines, which would make cross-engine ranks
    * unverifiable; tf/df orders by the same "frequent here, rare
    * elsewhere" signal. df counts documents (each (doc, term) pair once).
    *
    * Plan: tokenize+explode (narrow) → (doc, term, tf) hash aggregate
    * (shuffle 1) → df per term as a partial-aggregated
    * `groupBy(term).count()` joined back — the (doc, term) rows are
    * already distinct, so count(*) IS the distinct document count. NOT
    * a count window over the term: a window co-locates every row of a
    * term in one task with no map-side combine, so one stop word is a
    * straggler task on a real corpus, and AQE skew handling splits
    * joins, not windows (shuffle 2, skew-splittable) → per-doc top-k
    * via rank window (shuffle 3, bounded by WindowGroupLimit; the doc
    * key is naturally bounded by document length). */
  def tfidfTopTerms(df: DataFrame, text: String, id: String,
      k: Int = 3): DataFrame = {
    val toks = filter(split(lower(col(text)), "\\s+"), t => length(t) > 0)
    val tf = df.select(col(id), explode(toks).as("term"))
      .groupBy(col(id), col("term"))
      .agg(count(lit(1)).as("tf"))
    val termDf = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val wDoc = org.apache.spark.sql.expressions.Window.partitionBy(col(id))
      .orderBy(col("score").desc, col("term").asc)
    tf
      .join(termDf, "term")
      .withColumn("score", expr("tf * 1000000000000L div df"))
      .withColumn("rank", row_number().over(wDoc))
      .where(col("rank") <= k)
      .select(col(id), col("rank").cast(LongType).as("rank"),
        col("term"), col("tf"), col("df"), col("score"))
  }

  /** Sentence segmentation: split on terminal-punctuation runs followed
    * by whitespace (`[.!?]+\s+` — dialect-portable: no lookbehind, so
    * Java regex and RE2/DuckDB agree; the terminator itself is consumed,
    * the standard trade of the regex splitter). Emits one row per
    * non-blank sentence with its 1-based index and exact char/token
    * counts — the unit the per-sentence dedup, quality, and chunking
    * passes want. One narrow explode; no shuffle. */
  def sentences(df: DataFrame, text: String, id: String): DataFrame = {
    val parts = filter(split(col(text), "[.!?]+\\s+"),
      s => length(trim(s)) > 0)
    df.select(col(id),
        posexplode(parts).as(Seq("__i", "sentence")))
      .select(col(id), (col("__i") + 1).cast(LongType).as("sent_idx"),
        trim(col("sentence")).as("sentence"))
      .withColumn("n_chars", length(col("sentence")).cast(LongType))
      .withColumn("n_tokens", tokenCount(col("sentence")))
  }

  /** Bigram collocation mining by PMI order: adjacent token pairs
    * scored by co·T / (na·nb) — the EXPONENTIAL of pointwise mutual
    * information, which orders identically (log is monotone) while
    * staying exact-integer: `score_e6 = co·T·10⁶ div (na·nb)` with T
    * the corpus token count and na/nb unigram counts WITH multiplicity.
    * Float log-PMI differs at the ulp between engines (same reasoning
    * as [[tfidfTopTerms]]). A score over 10⁶ means the pair co-occurs
    * more than independence predicts — a collocation ("new york"), not
    * a coincidence. The `minCo` floor kills the hapax pairs whose PMI
    * is spuriously maximal (the classic PMI failure mode).
    *
    * Plan: tokenize once, explode bigrams (narrow) → one bigram
    * aggregate; unigram counts via a second linear aggregate joined
    * co-partitioned on each word; T broadcast as a one-row frame.
    * Overflow bound: co·T·10⁶ needs co·T < 9.2·10¹² in BIGINT — at a
    * larger corpus, raise minCo and drop the 10⁶ scale first.
    *
    * Output: (w1, w2, co, n1, n2, score_e6), top `topK` by
    * (score_e6 desc, w1, w2) — or all pairs when topK = 0. */
  def pmiBigrams(df: DataFrame, text: String,
      minCo: Long = 5L, topK: Int = 0): DataFrame = {
    val toks = filter(split(lower(col(text)), "\\s+"), t => length(t) > 0)
    // Bigrams keep multiplicity (counts, not sets) — tokenGramsCol-style
    // outer binding so the split runs once per row.
    // A <2-token doc must yield [] — sequence(1, 0) would walk BACKWARDS
    // and element_at(ts, 0) throws, hence the explicit size guard.
    val bigrams = flatten(transform(array(toks), ts =>
      when(size(ts) >= 2,
        transform(sequence(lit(1), size(ts) - 1),
          i => struct(element_at(ts, i).as("w1"),
            element_at(ts, i + 1).as("w2"))))
        .otherwise(array().cast("array<struct<w1:string,w2:string>>"))))
    val uni = df.select(explode(toks).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("n"))
    val total = uni.agg(sum(col("n")).as("t"))
    val co = df.select(explode(bigrams).as("b"))
      .select(col("b.w1").as("w1"), col("b.w2").as("w2"))
      .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("co"))
      .where(col("co") >= minCo)
    val scored = co
      .join(uni.select(col("w").as("w1"), col("n").as("n1")), "w1")
      .join(uni.select(col("w").as("w2"), col("n").as("n2")), "w2")
      .crossJoin(broadcast(total))
      .select(col("w1"), col("w2"), col("co"), col("n1"), col("n2"),
        expr("co * t * 1000000L div (n1 * n2)").as("score_e6"))
    if (topK > 0)
      scored.orderBy(desc("score_e6"), col("w1"), col("w2")).limit(topK)
    else scored
  }

  /** Statistical-LM in-distribution scoring — the CCNet perplexity-
    * filter shape with exact-integer arithmetic: train an add-one-
    * smoothed bigram model on a reference corpus, then score each
    * document by the MEAN smoothed conditional probability of its
    * adjacent-token bigrams,
    *
    *   P(w2|w1) = (c(w1,w2) + 1) / (c(w1) + V)
    *   score_e9 = (Σ over doc bigrams of (c₁₂+1)·10⁹ div (c₁+V)) div n
    *
    * — higher means more in-distribution w.r.t. the reference (the
    * filtering signal CCNet gets from KenLM perplexity; this orders by
    * mean probability instead of mean log-probability so every step
    * stays BIGINT: float log differs at the ulp between engines, and
    * float sums depend on partition order — see [[pmiBigrams]]).
    *
    * Plan: one linear pass over the reference for bigram + unigram
    * counts (`minCount` prunes rare bigrams so a web-scale model
    * shrinks to a broadcastable head; pruned/unseen bigrams still
    * score via the smoothing floor 10⁹/(c₁+V)), one narrow explode of
    * the scored docs, two gram joins, one final per-doc aggregate.
    * Overflow bound: (c₁₂+1)·10⁹ needs c₁₂ < 9.2·10⁹; for a corpus
    * where a bigram tops that, lower `scale` first.
    *
    * Output: (id, n_bigrams, sum_e9, score_e9); documents with fewer
    * than two tokens have no bigrams and are dropped. */
  def lmScore(docs: DataFrame, text: String, id: String,
      ref: DataFrame, refText: String, minCount: Long = 1L,
      scale: Long = 1000000000L): DataFrame = {
    val (uni, co) = lmCounts(ref, refText)
    lmScoreModel(docs, text, id, uni, co, minCount, scale)
  }

  private def lmToks(t: String) =
    filter(split(lower(col(t)), "\\s+"), x => length(x) > 0)

  private def lmBigrams(t: String) = flatten(transform(array(lmToks(t)), ts =>
    when(size(ts) >= 2,
      transform(sequence(lit(1), size(ts) - 1),
        i => struct(element_at(ts, i).as("w1"),
          element_at(ts, i + 1).as("w2"))))
      .otherwise(array().cast("array<struct<w1:string,w2:string>>"))))

  /** The LM's trainable state as two MERGEABLE count frames:
    * (unigrams (w, c1), bigrams (w1, w2, c12)). Counts are additive,
    * so a persisted model absorbs a new ingest batch via [[lmMerge]]
    * — no corpus re-scan, the d15/c9 incremental pattern. Pruning
    * (`minCount`) happens at SCORING time, not here: a pruned model
    * is no longer additive. */
  def lmCounts(ref: DataFrame, refText: String): (DataFrame, DataFrame) = {
    val uni = ref.select(explode(lmToks(refText)).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("c1"))
    val co = ref.select(explode(lmBigrams(refText)).as("b"))
      .select(col("b.w1").as("w1"), col("b.w2").as("w2"))
      .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c12"))
    (uni, co)
  }

  /** Merge two LM models: counts add. Equality with full retraining is
    * exact (the t27 gate pins it against the t26 oracle). */
  def lmMerge(a: (DataFrame, DataFrame),
      b: (DataFrame, DataFrame)): (DataFrame, DataFrame) = (
    a._1.union(b._1).groupBy(col("w")).agg(sum(col("c1")).as("c1")),
    a._2.union(b._2).groupBy(col("w1"), col("w2"))
      .agg(sum(col("c12")).as("c12")))

  /** Scoring half of [[lmScore]], against an explicit (possibly
    * incrementally-built) model. */
  def lmScoreModel(docs: DataFrame, text: String, id: String,
      uniModel: DataFrame, coModel: DataFrame, minCount: Long = 1L,
      scale: Long = 1000000000L): DataFrame = {
    require(minCount >= 1L, s"minCount=$minCount")
    require(scale >= 1L, s"scale=$scale")
    val uni = uniModel
    val vocab = uni.agg(count(lit(1)).as("v"))
    val co = coModel.where(col("c12") >= minCount)

    docs.select(col(id), explode(lmBigrams(text)).as("b"))
      .select(col(id), col("b.w1").as("w1"), col("b.w2").as("w2"))
      .join(co, Seq("w1", "w2"), "left")
      .join(uni.select(col("w").as("w1"), col("c1")), Seq("w1"), "left")
      .crossJoin(broadcast(vocab))
      .select(col(id),
        expr(s"(coalesce(c12, 0L) + 1L) * ${scale}L" +
          " div (coalesce(c1, 0L) + v)").as("term"))
      .groupBy(col(id))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("term")).as("sum_e9"))
      .withColumn("score_e9", expr("sum_e9 div n_bigrams"))
  }

  // ------------------------------------------ Kneser–Ney trigram LM

  private def lmTrigrams(t: String) = flatten(transform(array(lmToks(t)), ts =>
    when(size(ts) >= 3,
      transform(sequence(lit(1), size(ts) - 2),
        i => struct(element_at(ts, i).as("w1"),
          element_at(ts, i + 1).as("w2"),
          element_at(ts, i + 2).as("w3"))))
      .otherwise(array()
        .cast("array<struct<w1:string,w2:string,w3:string>>"))))

  /** The interpolated-Kneser–Ney trigram LM's trainable state as ONE
    * mergeable count frame (w1, w2, w3, c3). Counts are additive —
    * [[knMerge]] absorbs a new ingest batch with no corpus re-scan —
    * because EVERY lower-order Kneser–Ney statistic (continuation
    * counts N1+(·w2w3), distinct-successor counts N1+(w1w2·), the
    * continuation unigram N1+(·w3)) is DERIVED from this relation at
    * scoring time: pre-computed distinct counts would not merge.
    * Pruning likewise happens at scoring time (`minCount` on
    * [[knScoreModel]]) — a pruned model is no longer additive. */
  def knCounts(ref: DataFrame, refText: String): DataFrame =
    ref.select(explode(lmTrigrams(refText)).as("t"))
      .select(col("t.w1").as("w1"), col("t.w2").as("w2"),
        col("t.w3").as("w3"))
      .groupBy(col("w1"), col("w2"), col("w3"))
      .agg(count(lit(1)).as("c3"))

  /** Merge two trigram models: counts add; equality with full
    * retraining is exact (the t41 gate pins it against the t40
    * oracle). */
  def knMerge(a: DataFrame, b: DataFrame): DataFrame =
    a.union(b).groupBy(col("w1"), col("w2"), col("w3"))
      .agg(sum(col("c3")).as("c3"))

  /** EXACT decremental unlearning for the trigram LM — the
    * right-to-be-forgotten leg for count-based MODELS (the persisted
    * indexes got marker-based takedown; a model distilled from removed
    * documents must forget them too, and because [[knCounts]]' state
    * is purely additive the removal is an exact SUBTRACTION, not a
    * retrain): subtract the removed documents' trigram counts and drop
    * rows at zero. The result equals [[knCounts]] over the remaining
    * corpus BIT-FOR-BIT — every derived Kneser–Ney statistic
    * (continuation counts, distinct successors) re-derives at scoring
    * time from the reduced frame, so [[knScoreModel]] serves exactly
    * as a fresh model would (the t58 gate pins it against the oracle
    * over the remaining corpus). One pass over the REMOVED documents
    * only — corpus-scale cost is never paid.
    *
    * Premise (every takedown's): `removed` is a subset of what was
    * trained — its documents' exact text as ingested. Removing text
    * never trained leaves spurious or cancelled counts (the additive
    * algebra cannot tell the difference); the model-vs-remaining
    * equality is the caller's contract to keep. Note the rebuild rule
    * for NON-additive models: a pruned model (minCount applied), a BPE
    * merge table, or any order-dependent artifact cannot unlearn by
    * subtraction — retrain those. */
  def knRemove(model: DataFrame, removed: DataFrame,
      refText: String): DataFrame =
    knMerge(model,
      knCounts(removed, refText)
        .select(col("w1"), col("w2"), col("w3"),
          (col("c3") * lit(-1L)).as("c3")))
      .where(col("c3") > 0)

  /** Interpolated Kneser–Ney trigram scoring (Kneser & Ney 1995; Chen
    * & Goodman 1999's interpolated form) — the CCNet-grade upgrade of
    * [[lmScore]]'s add-one bigram model, with the same exact-BIGINT
    * replayability contract: probabilities are e12 fixed-point longs
    * and every division is a floor `div` in a PINNED evaluation order,
    * so two engines agree bit-for-bit (float KN products differ at the
    * ulp).
    *
    * With discount D = dNum/dDen (default 3/4), all integers:
    *
    *   Pcont(w3)    = N1+(·w3)·S div N1+(··)
    *   P2(w3|w2)    = (max(dDen·N1+(·w2w3) − dNum, 0)·S
    *                   + dNum·N1+(w2·)·Pcont(w3)) div (dDen·N1+(·w2·))
    *   P3(w3|w1w2)  = (max(dDen·c3 − dNum, 0)·S
    *                   + dNum·N1+(w1w2·)·P2(w3|w2)) div (dDen·c2)
    *
    * where c2(w1,w2) = Σ_w3 c3 and every N1+ statistic is a distinct
    * count over the (optionally `minCount`-pruned) trigram relation —
    * the standard continuation-count formulation, which also makes the
    * whole model derivable from the single additive [[knCounts]]
    * frame. Unseen (w1,w2) context backs off wholly to P2; unseen w2
    * context to Pcont; a w3 never seen as a continuation scores 0
    * (the interpolation mass already absorbed the discount, so no
    * extra +1 floor is needed for ordering-resolution scoring).
    *
    * Plan: the model compiles to four derived count frames + one
    * scalar (all bounded by the distinct-trigram count, shuffled once
    * each); the scored corpus explodes to one row per trigram and
    * joins them — model-sized sides, broadcastable when they fit, AQE
    * skew-splittable when not; the corpus side shuffles only for the
    * final per-doc aggregate.
    *
    * Overflow bounds (all BIGINT, ENFORCED at call time by an eager
    * model-sized validation aggregate — which also fails fast on a
    * model left empty by pruning, where bsz = 0 would otherwise turn
    * every score silently null): every
    * intermediate is count·scale·discount-digit shaped, so at the
    * default scale = 10^12 EVERY count the formulas touch — c3, the
    * per-context sum c2, the continuation count cn2, AND the
    * distinct-successor counts nw2/n3d (the binding ones on web-scale
    * text, where a stop word's distinct-successor count grows with the
    * vocabulary) — must stay under ~2.3·10⁶ (2⁶³ / (dDen·scale)), and
    * a single document must have fewer than ~9.2·10⁶ trigrams or
    * sum_e12 itself wraps. Training on a corpus whose hottest word has
    * more distinct neighbors than that needs a smaller `scale` (terms
    * only need ordering resolution — the [[lmScore]] rule): scale
    * 10^9 lifts every count bound ×1000.
    *
    * Output: (id, n_trigrams, sum_e12, score_e12); documents with
    * fewer than three tokens have no trigrams and are dropped. */
  def knScoreModel(docs: DataFrame, text: String, id: String,
      triModel: DataFrame, minCount: Long = 1L,
      dNum: Long = 3L, dDen: Long = 4L,
      scale: Long = 1000000000000L): DataFrame = {
    require(minCount >= 1L, s"minCount=$minCount")
    require(dDen >= 1L && dNum >= 0L && dNum < dDen,
      s"discount $dNum/$dDen outside [0, 1)")
    require(scale >= 1L, s"scale=$scale")
    // The pruned model feeds SIX derived frames (ctx/cont/mid/uni, the
    // validation aggregate, the scoring joins); materializing it once
    // keeps the upstream subtree — often a full-corpus knCounts — from
    // re-executing per consumer. Model-sized rows, so the checkpoint
    // is small (same storage caveat as Packing.groupRank).
    val tri = Scale.materialize(triModel.where(col("c3") >= minCount))
    val ctx = tri.groupBy(col("w1"), col("w2"))
      .agg(sum(col("c3")).as("c2"), count(lit(1)).as("n3d"))
    val cont = tri.groupBy(col("w2"), col("w3"))
      .agg(count(lit(1)).as("cn2"))
    val mid = cont.groupBy(col("w2"))
      .agg(sum(col("cn2")).as("n2mid"), count(lit(1)).as("nw2"))
    val uni = cont.groupBy(col("w3")).agg(count(lit(1)).as("cn1"))
    // Fail-fast model validation, ONE eager action (4 model-sized
    // aggregates unioned): an empty pruned model would make bsz = 0
    // and every division below NULL — every document would silently
    // score null instead of erroring; and the scaladoc's overflow
    // bound on the counts the formulas touch (c3, c2, cn2, nw2, n3d ≲
    // 2⁶³/(dDen·scale)) is enforced here instead of trusted. bsz then
    // rides the plan as a LITERAL — one broadcast cross join gone.
    // NOTE (r18): an A/B ran this collect with AQE scoped OFF to fold
    // its 9 AQE stage-jobs into one — and REGRESSED: without AQE's
    // partition coalescing the four branch exchanges execute at the
    // full shuffle-partition width and every (mostly empty) task pays
    // ~0.2 s DESERIALIZING the ~1.2 MB task binary (t40 profile: 21 s
    // task / 1.8 s wall across the chk stages, vs ~0.5 s with AQE).
    // The 9-job shape with coalescing is the cheaper one; reverted.
    val chk = tri
      .agg(count(lit(1)).as("a"), coalesce(max(col("c3")), lit(0L)).as("b"))
      .unionAll(ctx.agg(coalesce(max(col("c2")), lit(0L)),
        coalesce(max(col("n3d")), lit(0L))))
      .unionAll(cont.agg(count(lit(1)),
        coalesce(max(col("cn2")), lit(0L))))
      .unionAll(mid.agg(coalesce(max(col("nw2")), lit(0L)), lit(0L)))
      .collect()
    val bsz = chk(2).getLong(0)
    require(chk(0).getLong(0) > 0L && bsz > 0L,
      s"knScoreModel: trigram model is empty after minCount=$minCount " +
        "pruning — every score would be null; train on more text or " +
        "lower minCount")
    val bound = Long.MaxValue / (dDen * scale)
    val maxCount = Seq(chk(0).getLong(1), chk(1).getLong(0),
      chk(1).getLong(1), chk(2).getLong(1), chk(3).getLong(0)).max
    require(maxCount <= bound,
      s"knScoreModel: a model count reaches $maxCount > overflow bound " +
        s"$bound at scale=$scale (2^63 / (dDen*scale)) — use a smaller " +
        "scale (terms only need ordering resolution)")

    // tri is materialized with its measured size, and ctx/cont/mid/uni
    // are group-bys of it, so the planner broadcasts all five model
    // sides on its own whenever they fit autoBroadcastJoinThreshold
    // (the scoring pass is then ONE codegen stage over the exploded
    // trigrams); a web-scale model keeps the shuffle joins.
    docs.select(col(id), explode(lmTrigrams(text)).as("t"))
      .select(col(id), col("t.w1").as("w1"), col("t.w2").as("w2"),
        col("t.w3").as("w3"))
      .join(tri, Seq("w1", "w2", "w3"), "left")
      .join(ctx, Seq("w1", "w2"), "left")
      .join(cont, Seq("w2", "w3"), "left")
      .join(mid, Seq("w2"), "left")
      .join(uni, Seq("w3"), "left")
      .withColumn("bsz", lit(bsz))
      .withColumn("pcont",
        expr(s"coalesce(cn1, 0L) * ${scale}L div bsz"))
      .withColumn("p2", expr(
        s"""CASE WHEN n2mid IS NULL THEN pcont ELSE
           | (greatest(${dDen}L * coalesce(cn2, 0L) - ${dNum}L, 0L)
           |    * ${scale}L
           |  + ${dNum}L * nw2 * pcont) div (${dDen}L * n2mid) END"""
          .stripMargin))
      .withColumn("term", expr(
        s"""CASE WHEN c2 IS NULL THEN p2 ELSE
           | (greatest(${dDen}L * coalesce(c3, 0L) - ${dNum}L, 0L)
           |    * ${scale}L
           |  + ${dNum}L * n3d * p2) div (${dDen}L * c2) END"""
          .stripMargin))
      .groupBy(col(id))
      .agg(count(lit(1)).as("n_trigrams"), sum(col("term")).as("sum_e12"))
      .withColumn("score_e12", expr("sum_e12 div n_trigrams"))
  }

  /** Train-and-score convenience over an explicit reference corpus —
    * [[knCounts]] + [[knScoreModel]]. */
  def knScore(docs: DataFrame, text: String, id: String,
      ref: DataFrame, refText: String, minCount: Long = 1L,
      dNum: Long = 3L, dDen: Long = 4L,
      scale: Long = 1000000000000L): DataFrame =
    knScoreModel(docs, text, id, knCounts(ref, refText), minCount,
      dNum, dDen, scale)

  /** Importance scoring for data selection — the DSIR shape (importance
    * resampling toward a target distribution) with exact-integer
    * arithmetic: estimate per-token importance ratios between a TARGET
    * exemplar corpus (what you want more of) and the RAW corpus being
    * selected from, both as add-one-smoothed unigram models over the
    * union vocabulary,
    *
    *   z(w)  = (c_t(w)+1)·(N_r+V)·scale div ((c_r(w)+1)·(N_t+V))
    *   score = (Σ over doc tokens of z(w)) div n_tokens
    *
    * score_e6 > 10⁶ means the document looks more like the target than
    * like the raw background. DSIR hashes n-grams to bound the model;
    * here the same bound comes from the models being |union vocab|-row
    * count frames (prune upstream if needed) — and every step is
    * BIGINT, so selection is replayable bit-exactly (float products of
    * probability ratios would differ at the ulp between engines).
    * Overflow bound: (c_t+1)·(N_r+V)·scale must stay under 2⁶³ — at
    * web scale drop `scale` first (terms only need ordering
    * resolution). Feed the result to
    * [[Sampling.weightedSampleE6]] to complete score → resample.
    *
    * Output: (id, n_tokens, score_e6); empty-token docs drop. */
  def importanceScore(docs: DataFrame, text: String, id: String,
      target: DataFrame, targetText: String,
      raw: DataFrame = null, rawText: String = null,
      scale: Long = 1000000L): DataFrame = {
    require(scale >= 1L, s"scale=$scale")
    val (rawDf, rawCol) =
      if (raw == null) (docs, text) else (raw, rawText)
    def toks(t: String) =
      filter(split(lower(col(t)), "\\s+"), x => length(x) > 0)
    val cT = target.select(explode(toks(targetText)).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("ct"))
    val cR = rawDf.select(explode(toks(rawCol)).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("cr"))
    val model = cT.join(cR, Seq("w"), "full_outer")
      .select(col("w"), coalesce(col("ct"), lit(0L)).as("ct"),
        coalesce(col("cr"), lit(0L)).as("cr"))
    val totals = model.agg(sum(col("ct")).as("nt"), sum(col("cr")).as("nr"),
      count(lit(1)).as("v"))
    docs.select(col(id), explode(toks(text)).as("w"))
      .join(model, Seq("w"), "left")
      .crossJoin(broadcast(totals))
      .select(col(id),
        expr(s"(coalesce(ct, 0L) + 1L) * (nr + v) * ${scale}L" +
          " div ((coalesce(cr, 0L) + 1L) * (nt + v))").as("z"))
      .groupBy(col(id))
      .agg(count(lit(1)).as("n_tokens"), sum(col("z")).as("sum_z"))
      .select(col(id), col("n_tokens"),
        expr("sum_z div n_tokens").as("score_e6"))
  }

  /** The BM25 lexical INDEX: one (id, term, tf, dl) row per posting —
    * the index-time half of the index/serve split a 100 TB retrieval
    * corpus requires (re-tokenizing the corpus per query, as
    * [[bm25Search]]'s convenience form does, is a scan per query; the
    * index is built once, appended forever, served cheaply). Because
    * dl (the document's token count) is denormalized per posting and
    * every corpus statistic the scorer needs (df, N, T) derives from
    * the postings at query time, the index is MERGEABLE BY PLAIN UNION
    * under the document-atomic contract: each document's text arrives
    * whole in one batch (the same contract st22's KN stream and every
    * file-granular ingest satisfies). No recompute, no shuffle — an
    * append IS the merge. Persist/append with ordinary parquet
    * write/read; [[bm25SearchIndex]] serves from any union of
    * increments. For the managed lifecycle — commit marker, TAKEDOWN
    * (right-to-be-forgotten) with exact N/T/df accounting, replay
    * absorption, compaction — use [[Bm25Index]], which persists this
    * same relation. */
  def bm25Index(df: DataFrame, text: String, id: String): DataFrame = {
    val toks = filter(split(lower(col(text)), "\\s+"), t => length(t) > 0)
    // dl rides the tf aggregate as a group constant — computing it as a
    // sum window over the whole (doc, term) frame would cost a second
    // full-corpus shuffle before the query filter.
    df.select(col(id), size(toks).cast(LongType).as("dl"),
        explode(toks).as("term"))
      .groupBy(col(id), col("term"))
      .agg(count(lit(1)).as("tf"), max(col("dl")).as("dl"))
  }

  /** Corpus-scalar sidecar for a [[bm25Index]] increment: ONE row
    * (n_docs, n_toks) over the raw documents — the two scalars the
    * scorer needs beyond the postings. Both are ADDITIVE under the
    * document-atomic contract (each document arrives whole in one
    * increment), so the sidecar merges exactly like the index itself:
    * by plain union — [[bm25SearchIndex]] sums whatever increments it
    * is handed. Persisting this one-row frame next to each postings
    * increment is what keeps the serve path postings-free for N/T: the
    * round-9 form re-aggregated the ENTIRE postings relation per query
    * call to derive them — a full-index scan per search at 100 TB. */
  def bm25Stats(df: DataFrame, text: String, id: String): DataFrame = {
    val toks = filter(split(lower(col(text)), "\\s+"), t => length(t) > 0)
    df.select(size(toks).cast(LongType).as("dl"))
      .where(col("dl") > 0)
      .agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("n_toks"))
  }

  /** BM25 top-k retrieval in one call — [[bm25Index]] composed with
    * [[bm25SearchIndex]] (identical plan: Catalyst fuses the index
    * projection into the scan, so the convenience form pays nothing
    * over the split). Corpus scalars come from [[bm25Stats]] over the
    * raw documents — one narrow aggregate, cheaper than the distinct
    * count over exploded postings it replaces. Scoring contract
    * documented on [[bm25SearchIndex]]. */
  def bm25Search(df: DataFrame, text: String, id: String,
      query: Seq[String], k: Int = 10): DataFrame =
    bm25SearchIndex(bm25Index(df, text, id), id, query, k,
      stats = bm25Stats(df, text, id))

  /** Query-time half: BM25 top-k for a bag-of-terms query (k1 = 1.2,
    * b = 0.75 — the Robertson/Okapi defaults) over a prebuilt
    * [[bm25Index]] relation (or any union of increments). Scoring is
    * EXACT rational arithmetic scaled to an integer, for the same
    * reason as [[tfidfTopTerms]]: float BM25 differs at the ulp
    * between engines. With k1 = 6/5 and b = 3/4, per matched
    * (doc, term):
    *
    *   tfPart = (11/5·tf) / (tf + 3/10 + 9/10·dl·N/T)
    *          = 22·tf·T / (10·T·tf + 3·T + 9·dl·N)   (×10T throughout)
    *   idf    = (N − df + 1/2) / (df + 1/2)          (linear: the LOG of
    *            the classic idf is float-unstable cross-engine; the
    *            linear form keeps the same "rarer ⇒ bigger" signal)
    *          = (2·(N − df) + 1) / (2·df + 1)        (×2 throughout)
    *   score  = 10^6 · tfPart · idf, floor-divided as DECIMAL(38,0)
    *
    * where dl = doc token count, N = docs with ≥1 token, T = corpus
    * token count. Doc score = integer sum over matched query terms.
    *
    * Plan: the postings (already tf-aggregated, dl as a group constant)
    * FILTER to query terms (everything after is query-sized) → df per
    * term via a broadcast-joined partial aggregate (skew-safe: no
    * per-term row co-location) → corpus scalars via broadcast cross
    * join → per-doc sum + top-k, which plans as TakeOrderedAndProject
    * — no global sort. The t42 gate pins the persisted-index roundtrip
    * against the t11 direct-search oracle.
    *
    * `stats`: the [[bm25Stats]] sidecar (any union of one-row
    * increments — they are summed here, a stats-sized aggregate), so
    * N/T never touch the postings and the ONLY postings subtree in the
    * serve plan is the query-term-filtered one. Pass it on every real
    * serve path: the `stats = null` fallback derives the scalars by
    * aggregating the WHOLE index per call — correct, but a full-index
    * scan per query at scale; it exists so an index relation with a
    * lost sidecar remains servable. */
  def bm25SearchIndex(index: DataFrame, id: String,
      query: Seq[String], k: Int = 10,
      stats: DataFrame = null): DataFrame = {
    require(query.nonEmpty, "bm25Search: query must be non-empty")
    val dec = DecimalType(38, 0)
    def d(c: Column): Column = c.cast(dec)
    val tf = index
    val corpus =
      if (stats != null)
        stats.agg(sum(col("n_docs")).as("n_docs"),
          sum(col("n_toks")).as("n_toks"))
      else tf.groupBy().agg(
        countDistinct(col(id)).as("n_docs"), sum(col("tf")).as("n_toks"))
    val qs = query.map(_.toLowerCase(java.util.Locale.ROOT))
    val qtf = tf.where(col("term").isin(qs: _*))
    // df per query term: partial-aggregated count joined back, broadcast
    // by construction (≤ |query| rows). The count-window form co-located
    // every posting of a term in one task — a query term present in half
    // the corpus was a straggler; this shape map-side-combines the count
    // and leaves the posting frame unshuffled until the per-doc agg.
    val qdf = broadcast(qtf.groupBy(col("term"))
      .agg(count(lit(1)).as("df")))
    qtf
      .join(qdf, "term")
      .crossJoin(broadcast(corpus))
      .withColumn("num",
        d(lit(22000000L)) * d(col("tf")) * d(col("n_toks")) *
          (d(lit(2)) * (d(col("n_docs")) - d(col("df"))) + d(lit(1))))
      .withColumn("den",
        (d(lit(10)) * d(col("n_toks")) * d(col("tf")) +
          d(lit(3)) * d(col("n_toks")) +
          d(lit(9)) * d(col("dl")) * d(col("n_docs"))) *
          (d(lit(2)) * d(col("df")) + d(lit(1))))
      .withColumn("term_score", expr("num div den"))
      .groupBy(col(id))
      .agg(sum(col("term_score")).as("score"),
        count(lit(1)).cast(LongType).as("n_terms"))
      .orderBy(col("score").desc, col(id).asc)
      .limit(k)
      .select(col(id), col("score").cast(LongType).as("score"), col("n_terms"))
  }

  /** Multi-query BM25 top-k — the training-set-scale twin of
    * [[bm25SearchIndex]]: queries arrive as a RELATION of (qid, term)
    * rows (a DPR-style mining pass scores a query per training
    * example, a set as large as the corpus — the shape the
    * driver-side `Seq[String]` API cannot serve), and every query's
    * top-k comes out of ONE plan over ONE pass of the term-filtered
    * postings. Scoring integers are identical to the single-query
    * path per (qid, doc, term) — same k1/b rationals, same scaled
    * floor division — so each query's list equals its own
    * [[bm25SearchIndex]] call row-for-row (the s32 gate pins it
    * against a per-query oracle replay).
    *
    * Plan shape: `index` arrives ALREADY term-filtered by the caller
    * (the persisted path filters to the query vocabulary before
    * markers — [[graft.ext.Bm25Index.searchMany]]); df per term and
    * the corpus scalars are computed once for the whole batch (df is
    * query-independent — it counts docs per term over the live index,
    * exactly as the single-query path does); the only per-query work
    * is the (postings ⋈ queries) term join, the per-(qid, doc) sum,
    * and a qid-partitioned rank window — candidate-sized, never
    * corpus × queries. Hot query terms skew the term join; AQE's
    * skew-join splitting handles it (the join is an exchange join by
    * construction once `queries` outgrows the broadcast threshold).
    *
    * Duplicate (qid, term) rows are SET-deduped first — the same bag
    * semantics as the single-query `isin`. Output: (qid, id, score,
    * n_terms, lex_rank) with lex_rank 1..k per qid (score desc, id
    * asc — the deterministic tie-break every ranked list here uses). */
  def bm25SearchIndexMany(index: DataFrame, id: String,
      queries: DataFrame, k: Int = 10,
      stats: DataFrame = null): DataFrame = {
    require(k >= 1, s"bm25SearchIndexMany: k=$k")
    val dec = DecimalType(38, 0)
    def d(c: Column): Column = c.cast(dec)
    val qterms = queries
      .select(col("qid"), lower(col("term")).as("term")).distinct()
    val corpus =
      if (stats != null)
        stats.agg(sum(col("n_docs")).as("n_docs"),
          sum(col("n_toks")).as("n_toks"))
      else index.groupBy().agg(
        countDistinct(col(id)).as("n_docs"), sum(col("tf")).as("n_toks"))
    // df once per TERM for the whole batch (query-independent), via the
    // same partial-aggregated shape as the single-query path
    val qdf = index.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val ranked = index
      .join(qterms, "term")
      .join(qdf, "term")
      .crossJoin(broadcast(corpus))
      .withColumn("num",
        d(lit(22000000L)) * d(col("tf")) * d(col("n_toks")) *
          (d(lit(2)) * (d(col("n_docs")) - d(col("df"))) + d(lit(1))))
      .withColumn("den",
        (d(lit(10)) * d(col("n_toks")) * d(col("tf")) +
          d(lit(3)) * d(col("n_toks")) +
          d(lit(9)) * d(col("dl")) * d(col("n_docs"))) *
          (d(lit(2)) * d(col("df")) + d(lit(1))))
      .withColumn("term_score", expr("num div den"))
      .groupBy(col("qid"), col(id))
      .agg(sum(col("term_score")).as("score"),
        count(lit(1)).cast(LongType).as("n_terms"))
      .withColumn("lex_rank", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("qid"))
          .orderBy(col("score").desc, col(id).asc)).cast(LongType))
      .where(col("lex_rank") <= k)
    ranked.select(col("qid"), col(id),
      col("score").cast(LongType).as("score"), col("n_terms"),
      col("lex_rank"))
  }

  /** Strip HTML/markup down to visible text (the C4/CommonCrawl-style
    * pre-clean): drop <script>/<style> blocks wholesale, remove all
    * remaining tags, single-decode the six ubiquitous entities (&amp;
    * LAST, so "&amp;lt;" correctly yields "&lt;" and never
    * double-decodes), then collapse whitespace. Every pattern is
    * RE2-compatible (no backreferences) so the DuckDB oracle replays the
    * transform byte-for-byte; all steps are codegen'd regexp_replace —
    * narrow, shuffle-free, scan-speed at any corpus size. */
  def htmlCleanCol(text: Column): Column = {
    val noBlocks = regexp_replace(
      regexp_replace(text, "(?is)<script[^>]*>.*?</script>", " "),
      "(?is)<style[^>]*>.*?</style>", " ")
    val noTags = regexp_replace(noBlocks, "(?s)<[^>]*>", " ")
    val decoded = regexp_replace(regexp_replace(regexp_replace(
      regexp_replace(regexp_replace(regexp_replace(noTags,
        "&lt;", "<"), "&gt;", ">"), "&quot;", "\""),
        "&#39;", "'"), "&nbsp;", " "), "&amp;", "&")
    trim(regexp_replace(decoded, "\\s+", " "))
  }

  def htmlClean(df: DataFrame, text: String, id: String): DataFrame =
    df.select(col(id), htmlCleanCol(col(text)).as("clean_text"))

  // ------------------------------------------------- boilerplate removal

  /** Cross-document line-level dedup (the C4/RefinedWeb boilerplate
    * pass): a line occurring at least `minCount` times across the WHOLE
    * corpus (cookie banners, nav menus, "subscribe" calls) is removed
    * from every document; surviving lines are reassembled in their
    * original order. Frequency counts every occurrence (a doc repeating
    * its own line contributes each copy).
    *
    * Plan shape: explode lines (narrow) → hot-line relation as a
    * partial-aggregated `groupBy(line).count()` FILTERED to count >=
    * minCount → LEFT join back on the line → regroup per document and
    * reassemble via sorted collect. The count is map-side combined, so
    * a cookie banner occurring in half the corpus reduces to one row
    * per map task instead of co-locating every copy in one window task
    * (hot boilerplate lines are precisely the Zipfian head, and AQE
    * skew handling splits joins, not windows). The hot-line relation is
    * the small side by construction — only lines repeated >= minCount
    * times survive — so the join usually broadcasts and the corpus
    * frame reaches the per-doc regroup with no line-keyed shuffle.
    *
    * Output: (id, clean_text, n_lines_kept, n_lines_removed). A document
    * whose every line is boilerplate keeps an empty clean_text.
    */
  def removeBoilerplate(df: DataFrame, text: String, id: String,
      minCount: Int = 3): DataFrame = {
    val lines = df.select(col(id), posexplode(split(col(text), "\n")))
      .withColumnRenamed("col", "line")
    val hot = lines.groupBy(col("line"))
      .agg(count(lit(1)).as("cnt"))
      .where(col("cnt") >= minCount)
    lines
      .join(hot, Seq("line"), "left")
      .groupBy(col(id))
      .agg(
        array_sort(collect_list(
          when(col("cnt").isNull, struct(col("pos"), col("line")))))
          .as("kept"),
        sum(when(col("cnt").isNotNull, 1L).otherwise(0L)).as("n_lines_removed"))
      .select(col(id),
        array_join(transform(col("kept"), k => k.getField("line")), "\n")
          .as("clean_text"),
        size(col("kept")).cast(LongType).as("n_lines_kept"),
        col("n_lines_removed"))
  }

  // ---------------------------------------------------------------- pii

  /** PII patterns, chosen to be regex-dialect-portable: greedy character
    * classes only, no alternation (Java regex is leftmost-FIRST, RE2 is
    * leftmost-LONGEST — alternation is where they diverge), no
    * lookarounds/backreferences. The DuckDB oracle replays these
    * byte-identically. IPv4 deliberately accepts >255 octets (range
    * checks need alternation); phone-shaped runs also match long digit
    * IDs — both standard over-matching for a redaction pass, where a
    * false positive costs a masked token and a false negative leaks PII. */
  private val Ipv4Re = "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"
  private val DigitRunRe = "[0-9]{9,}"
  private val PhoneRe = "\\+?[0-9][0-9() -]{6,}[0-9]"

  private def countRe(c: Column, re: String): Column =
    size(regexp_extract_all(c, lit(re), lit(0))).cast(LongType)

  /** Redaction with masks applied in precedence order (email → ipv4 →
    * long digit runs → phone), each step seeing the previous step's
    * output; the placeholders contain no digits, so later patterns can
    * never re-match inside an earlier mask. */
  def redactCol(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(
          regexp_replace(text, EmailRe, "<email>"),
          Ipv4Re, "<ip>"),
        DigitRunRe, "<digits>"),
      PhoneRe, "<phone>")

  /** Per-document PII scan + redaction: match counts per pattern family
    * (each an independent scan of the RAW text — families may overlap,
    * e.g. a 16-digit card number counts as both a digit run and a
    * phone-shaped run), an aggregate flag, and the redacted text. A
    * narrow codegen'd projection — streams at scan speed. */
  def piiScan(df: DataFrame, text: String, id: String): DataFrame =
    df.select(
        col(id),
        countRe(col(text), EmailRe).as("n_emails"),
        countRe(col(text), Ipv4Re).as("n_ipv4"),
        countRe(col(text), DigitRunRe).as("n_digit_runs"),
        countRe(col(text), PhoneRe).as("n_phones"),
        redactCol(col(text)).as("redacted_text"))
      .select(col(id), col("n_emails"), col("n_ipv4"), col("n_digit_runs"),
        col("n_phones"),
        (col("n_emails") + col("n_ipv4") + col("n_digit_runs") +
          col("n_phones") > 0).as("has_pii"),
        col("redacted_text"))

  // --------------------------------------------------------- repetition

  /** Within-document repetition metrics (the published Gopher/RefinedWeb
    * rule family): duplicate-line fraction and most-frequent-word-2-gram
    * share, with the flag in integer cross-multiplication (no floats).
    * Line metrics are a narrow array projection; the 2-gram mode is an
    * explode + count + max — ONE shuffle on (doc, gram) with map-side
    * combine, which is also the exact-count plan you'd run at 100 TB
    * (the in-row HOF alternative is O(tokens²) interpreted per doc).
    * Flag: >30% duplicate lines OR top 2-gram covering >20% of 2-grams.
    */
  def repetition(df: DataFrame, text: String, id: String): DataFrame = {
    val lines = filter(split(col(text), "\n"), l => trim(l) =!= "")
    val lineMetrics = df.select(
      col(id),
      size(lines).cast(LongType).as("n_lines"),
      (size(lines) - size(array_distinct(lines))).cast(LongType).as("n_dup_lines"))
    val toks = regexp_extract_all(col(text), lit("[^\\s]+"), lit(0))
    val grams = df.select(col(id), toks.as("__t"))
      .select(col(id), explode(zip_with(
        slice(col("__t"), lit(1), greatest(size(col("__t")) - 1, lit(0))),
        slice(col("__t"), lit(2), greatest(size(col("__t")) - 1, lit(0))),
        (a, b) => concat(a, lit(" "), b))).as("g"))
    val gramTop = grams.groupBy(col(id), col("g")).count()
      .groupBy(col(id))
      .agg(max(col("count")).as("top_2gram_n"), sum(col("count")).as("n_2grams"))
    lineMetrics.join(gramTop, Seq(id), "left")
      .select(col(id), col("n_lines"), col("n_dup_lines"),
        coalesce(col("n_2grams"), lit(0L)).as("n_2grams"),
        coalesce(col("top_2gram_n"), lit(0L)).as("top_2gram_n"),
        ((col("n_dup_lines") * 10 > col("n_lines") * 3) ||
          (coalesce(col("n_2grams"), lit(0L)) > 0 &&
            coalesce(col("top_2gram_n"), lit(0L)) * 5 > col("n_2grams")))
          .as("is_repetitive"))
  }

  // ------------------------------------------------ script detection

  /** Unicode-script profile for corpus language routing: per document,
    * character counts for Latin / Cyrillic / Greek / CJK / digits and
    * the dominant script. Complements [[langIdCol]] (token-frequency
    * heuristic, Latin-alphabet languages) with the codepoint-range
    * signal that separates writing SYSTEMS — the first split a
    * multilingual 100 TB corpus makes before any per-language model.
    *
    * Ranges are written as literal codepoint classes, not named
    * \p{script} classes, because the names differ between regex
    * dialects (Java `\p{IsCyrillic}` vs RE2 `\p{Cyrillic}`) while
    * explicit ranges behave identically — same portability discipline
    * as the PII regexes. CJK here = the unified-ideograph block plus
    * kana; coverage is the common blocks, not exhaustive Unicode.
    * Narrow codegen'd projection, no shuffle.
    */
  def scriptProfile(df: DataFrame, text: String, id: String): DataFrame = {
    val t = col(text)
    val lat = countRe(t, "[A-Za-z]")
    val cyr = countRe(t, "[Ѐ-ӿ]")
    val grk = countRe(t, "[Ͱ-Ͽ]")
    val cjk = countRe(t, "[぀-ヿ一-鿿]")
    df.select(
        col(id),
        lat.as("n_latin"), cyr.as("n_cyrillic"), grk.as("n_greek"),
        cjk.as("n_cjk"), countRe(t, "[0-9]").as("n_digit"))
      .withColumn("main_script",
        when(col("n_latin") >= col("n_cyrillic") &&
            col("n_latin") >= col("n_greek") && col("n_latin") >= col("n_cjk"),
            lit("latin"))
          .when(col("n_cyrillic") >= col("n_greek") &&
            col("n_cyrillic") >= col("n_cjk"), lit("cyrillic"))
          .when(col("n_greek") >= col("n_cjk"), lit("greek"))
          .otherwise(lit("cjk")))
  }

  // ------------------------------------------------- span corruption

  /** Deterministic token masking for denoising/MLM-style training-data
    * prep: each whitespace token is replaced by `maskTok` when its
    * pseudo-random draw falls under `pct` percent. The draw is pure
    * integer arithmetic over (doc id, 1-based token position) —
    * (id·2654435761 + pos·40503) mod 100, with mod as `pmod` so a
    * NEGATIVE id cannot produce an always-below-threshold negative
    * remainder — so the corruption is (a) reproducible run-over-run
    * with no RNG state, (b) independent of partitioning, and (c)
    * replayable by any engine; a seeded `rand()` is none of those.
    * Narrow HOF projection, no explode, no shuffle.
    * Emits (id, masked_text, n_tokens, n_masked). */
  def maskTokens(
      df: DataFrame, text: String, id: String, pct: Int,
      maskTok: String = "<mask>"): DataFrame = {
    require(pct >= 0 && pct <= 100, "pct in [0, 100]")
    val ts = filter(split(col(text), "\\s+"), t => length(t) > 0)
    def draw(pos: Column): Column =
      pmod(col(id) * 2654435761L + pos * 40503L, lit(100L))
    val base = df.select(col(id), ts.as("__ts"))
    val masked = array_join(
      zip_with(col("__ts"),
        sequence(lit(1), greatest(size(col("__ts")), lit(1))),
        (t, i) => when(draw(i) < pct, lit(maskTok)).otherwise(t)),
      " ")
    val nMasked = size(filter(
      sequence(lit(1), greatest(size(col("__ts")), lit(1))),
      i => draw(i) < pct))
    base.select(
      col(id),
      when(size(col("__ts")) === 0, lit("")).otherwise(masked)
        .as("masked_text"),
      size(col("__ts")).cast("long").as("n_tokens"),
      when(size(col("__ts")) === 0, lit(0L))
        .otherwise(nMasked.cast("long")).as("n_masked"))
  }

  // -------------------------------------- span corruption (T5/UL2)

  /** Span-corruption objective transform (Raffel et al. 2020, T5; the
    * R-denoiser of UL2): mask short token spans and emit
    * (corrupted input, targets) where each masked span is replaced by
    * a numbered sentinel in the input and spelled out after the same
    * sentinel in the targets. Deterministic and layout-independent —
    * the mask decision for block j of document id is the same integer
    * draw as [[maskTokens]] (`(id·K + j·40503) mod 100 < ratePct`),
    * so a retried partition or a replaying engine derives identical
    * corruption.
    *
    * Span placement uses a fixed block grid (every `blockTokens`
    * tokens; a selected block masks its first `spanTokens` tokens):
    * non-overlap holds by construction, which is what makes the
    * transform expressible as a pure per-row projection — no
    * sequential scan over positions, no state, codegen'd HOFs only.
    * Sentinels are numbered in document order (`<extra_id_0>`,
    * `<extra_id_1>`, …) exactly like the published checkpoint
    * vocabularies expect — the running "selected blocks before j"
    * count is one codegen'd prefix pass
    * ([[graft.functions.PrefixCountsTrue]]), so per-row cost is
    * LINEAR in blocks (a nested re-filter per block would make a 100k-
    * token book ~156M predicate evaluations for that one row). A
    * ~12.5% default token-mask budget (3 of every 8-token block at 25%
    * block rate ≈ 9%) mirrors the paper's 15% at mean span 3. Narrow
    * projection: zero shuffle. Id-range contract (shared with
    * [[maskTokens]], whose oracle pins the same draw): ids must be
    * nonnegative (enforced via `pmod`, so a negative id can no longer
    * silently mask every block) and id·2654435761 must not overflow
    * Long, i.e. id < ~3.4·10⁹ — any denser id space should fingerprint
    * first. */
  def spanCorrupt(df: DataFrame, text: String, id: String,
      blockTokens: Int = 8, spanTokens: Int = 3,
      ratePct: Int = 25): DataFrame = {
    require(blockTokens >= 1 && spanTokens >= 1 &&
      spanTokens <= blockTokens, s"blocks=$blockTokens span=$spanTokens")
    require(ratePct >= 0 && ratePct <= 100, s"ratePct=$ratePct")
    val b = blockTokens; val l = spanTokens
    def drawLt(j: Column): Column =
      pmod(col(id) * lit(2654435761L) + j.cast("long") * lit(40503L),
        lit(100L)) < lit(ratePct)
    def sentinel(n: Column): Column =
      concat(lit("<extra_id_"), n.cast("string"), lit(">"))
    // Staged projections bind the token array, the block grid, and the
    // prefix counts as COLUMNS before any HOF uses them: a subtree
    // inside a lambda that does not depend on the lambda variable is
    // re-evaluated PER ELEMENT (cf. gramsCol), which is exactly the
    // O(blocks²) cliff this layout removes — inside the lambdas below,
    // every outer value is a bound reference, read in O(1).
    val withTs = df.select(col(id),
      filter(split(col(text), "\\s+"), t => length(t) > 0).as("__ts"))
    val nBlocks =
      floor((size(col("__ts")).cast("double") + (b - 1)) / b).cast("int")
    val withBlocks = withTs.select(col(id), col("__ts"),
      sequence(lit(0), greatest(nBlocks, lit(1)) - 1).as("__blocks"))
    // Exclusive prefix counts of the selection flags: sentIdx(j) =
    // number of selected blocks before j, in ONE linear pass.
    val withPs = withBlocks.select(col(id), col("__ts"), col("__blocks"),
      graft.functions.GraftFunctions.prefixCountsTrue(
        transform(col("__blocks"), j => drawLt(j))).as("__ps"))
    def sentIdx(j: Column): Column = element_at(col("__ps"), j + 1)
    val ts = col("__ts")
    val blocks = col("__blocks")
    val nTok = size(ts)
    val corrupted = array_join(flatten(transform(blocks, j =>
      when(drawLt(j),
        concat(array(sentinel(sentIdx(j))),
          slice(ts, j * b + l + 1, lit(b - l))))
        .otherwise(slice(ts, j * b + 1, lit(b))))), " ")
    val targets = array_join(flatten(transform(
      filter(blocks, j => drawLt(j)), j =>
        concat(array(sentinel(sentIdx(j))), slice(ts, j * b + 1, lit(l))))),
      " ")
    val nSpans = size(filter(blocks, j => drawLt(j))).cast("long")
    withPs.select(col(id),
      when(nTok === 0, lit("")).otherwise(corrupted).as("corrupted"),
      when(nTok === 0, lit("")).otherwise(targets).as("targets"),
      when(nTok === 0, lit(0L)).otherwise(nSpans).as("n_spans"))
  }

  // ------------------------------------------------ SFT data prep

  /** Supervised-fine-tuning template rendering with loss-span
    * offsets — the SFT-pipeline step between curation and packing:
    * each (prompt, response) pair becomes one training string in a
    * fixed chat template, plus the 1-based character span
    * [loss_start, loss_end) the trainer computes loss on (the
    * response and the end sentinel; system/user/markup are masked —
    * the standard completion-only-loss recipe). Offsets are exact
    * integer arithmetic over the same lengths both engines see, so
    * the whole artifact hash-replays; downstream tokenization maps
    * char spans to token spans. Pure narrow codegen'd projection.
    *
    * Template: sys·system·usr·prompt·asst·response·end, loss on
    * response·end. */
  def renderSft(df: DataFrame, id: String, prompt: Column,
      response: Column, system: String,
      sysTok: String = "<|system|>", userTok: String = "<|user|>",
      asstTok: String = "<|assistant|>", endTok: String = "<|end|>")
      : DataFrame = {
    val sftText = concat(lit(sysTok), lit(system), lit(userTok), prompt,
      lit(asstTok), response, lit(endTok))
    // literal segments measured in CODE POINTS (cpLen), matching
    // Spark's length()/substring semantics — String.length would count
    // UTF-16 units and shift the spans when a sentinel or the system
    // prompt contains non-BMP characters
    val head = lit(cpLen(sysTok + system + userTok)) +
      length(prompt).cast("long") + lit(cpLen(asstTok))
    df.select(col(id), sftText.as("sft_text"),
      (head + 1L).as("loss_start"),
      (head + 1L + length(response).cast("long") +
        lit(cpLen(endTok))).as("loss_end"))
  }

  /** Code-point length of a literal template segment — the unit Spark's
    * `length()`/`substring` use (Java `String.length` counts UTF-16
    * units and disagrees beyond the BMP). */
  private def cpLen(s: String): Long =
    s.codePointCount(0, s.length).toLong

  /** Preference-pair rendering for DPO/reward-model training
    * (Rafailov et al. 2023): each (prompt, chosen, rejected) triple
    * becomes TWO template strings sharing the identical prompt
    * prefix — the pair a preference loss consumes — plus the loss
    * spans. Because both completions share the prefix, loss_start is
    * common and only the ends differ; spans are the same exact
    * integer arithmetic as [[renderSft]]. One narrow projection (no
    * self-join of the pair sides), zero shuffle at any scale. */
  def renderDpoPairs(df: DataFrame, id: String, prompt: Column,
      chosen: Column, rejected: Column, system: String,
      sysTok: String = "<|system|>", userTok: String = "<|user|>",
      asstTok: String = "<|assistant|>", endTok: String = "<|end|>")
      : DataFrame = {
    def tmpl(resp: Column): Column =
      concat(lit(sysTok), lit(system), lit(userTok), prompt,
        lit(asstTok), resp, lit(endTok))
    // code-point segment lengths, same contract as [[renderSft]]
    val head = lit(cpLen(sysTok + system + userTok)) +
      length(prompt).cast("long") + lit(cpLen(asstTok))
    df.select(col(id),
      tmpl(chosen).as("chosen_text"), tmpl(rejected).as("rejected_text"),
      (head + 1L).as("loss_start"),
      (head + 1L + length(chosen).cast("long") +
        lit(cpLen(endTok))).as("chosen_loss_end"),
      (head + 1L + length(rejected).cast("long") +
        lit(cpLen(endTok))).as("rejected_loss_end"))
  }

  /** [[renderSft]] composed with a tokenizer to emit TOKEN-unit loss
    * spans — what a trainer actually consumes (character spans need a
    * second offset-mapping pass at load time; emitting
    * (loss_start_tok, loss_end_tok) here makes the rendered artifact
    * directly packable). `tokenizer` maps a STRING column to its
    * ARRAY<STRING> token column (e.g. [[Bpe.tokenize]]'s underlying
    * `GraftFunctions.bpeTokenize(_, merges)`, or a unigram serve).
    *
    * The head (template prefix through the assistant sentinel) and the
    * tail (response + end sentinel) tokenize INDEPENDENTLY and
    * `sft_tokens` is their concatenation, so the span arithmetic is
    * exact by construction: loss_start_tok = |head tokens| + 1,
    * loss_end_tok = |head| + |tail| + 1 (1-based, end-exclusive — the
    * character-span convention of [[renderSft]] carried to tokens).
    *
    * BOUNDARY CONTRACT: `sft_tokens` equals tokenizing the whole
    * `sft_text` iff the head/tail boundary is a tokenizer word
    * boundary. The whitespace-presplit tokenizers here (BPE, unigram)
    * merge only within whitespace-delimited words, so the convention
    * that guarantees it is: the response starts with whitespace (or
    * the assistant sentinel ends with it). A response fused directly
    * onto `<|assistant|>` makes "...|>firstword" ONE word whose
    * subword split differs from the two halves' — the spec pins both
    * directions. Pure narrow projection either way; the emitted spans
    * always index `sft_tokens` correctly.
    *
    * Output: (id, sft_text, sft_tokens, loss_start_tok, loss_end_tok,
    * n_tokens). */
  def renderSftTokens(df: DataFrame, id: String, prompt: Column,
      response: Column, system: String, tokenizer: Column => Column,
      sysTok: String = "<|system|>", userTok: String = "<|user|>",
      asstTok: String = "<|assistant|>", endTok: String = "<|end|>")
      : DataFrame = {
    val head = concat(lit(sysTok), lit(system), lit(userTok), prompt,
      lit(asstTok))
    val tail = concat(response, lit(endTok))
    df.select(col(id), concat(head, tail).as("sft_text"),
        tokenizer(head).as("__ht"), tokenizer(tail).as("__tt"))
      .select(col(id), col("sft_text"),
        concat(col("__ht"), col("__tt")).as("sft_tokens"),
        (size(col("__ht")) + 1).cast("long").as("loss_start_tok"),
        (size(col("__ht")) + size(col("__tt")) + 1).cast("long")
          .as("loss_end_tok"),
        (size(col("__ht")) + size(col("__tt"))).cast("long")
          .as("n_tokens"))
  }

  /** [[renderDpoPairs]] with TOKEN-unit spans — the same head/tail
    * split as [[renderSftTokens]], with the head tokenized ONCE and
    * shared by both completions (the pair property a preference loss
    * relies on: identical prompt-prefix tokens, divergence only at
    * loss_start_tok). Same boundary contract. */
  def renderDpoPairsTokens(df: DataFrame, id: String, prompt: Column,
      chosen: Column, rejected: Column, system: String,
      tokenizer: Column => Column,
      sysTok: String = "<|system|>", userTok: String = "<|user|>",
      asstTok: String = "<|assistant|>", endTok: String = "<|end|>")
      : DataFrame = {
    val head = concat(lit(sysTok), lit(system), lit(userTok), prompt,
      lit(asstTok))
    df.select(col(id),
        concat(head, chosen, lit(endTok)).as("chosen_text"),
        concat(head, rejected, lit(endTok)).as("rejected_text"),
        tokenizer(head).as("__ht"),
        tokenizer(concat(chosen, lit(endTok))).as("__ct"),
        tokenizer(concat(rejected, lit(endTok))).as("__rt"))
      .select(col(id), col("chosen_text"), col("rejected_text"),
        concat(col("__ht"), col("__ct")).as("chosen_tokens"),
        concat(col("__ht"), col("__rt")).as("rejected_tokens"),
        (size(col("__ht")) + 1).cast("long").as("loss_start_tok"),
        (size(col("__ht")) + size(col("__ct")) + 1).cast("long")
          .as("chosen_loss_end_tok"),
        (size(col("__ht")) + size(col("__rt")) + 1).cast("long")
          .as("rejected_loss_end_tok"))
  }

  /** Classifier evaluation report — per-class support, prediction
    * count, hits, and exact-integer precision/recall/F1 in ppm
    * (F1 from the ppm-scaled harmonic mean, 2·p·r div (p+r)): the
    * quality-filter audit a curation pipeline runs before trusting a
    * classifier to route terabytes ([[nbClassify]] → this report →
    * threshold/mixing decisions). Two class-count-sized partial
    * aggregates outer-joined — the corpus is scanned once, the join
    * sides are |classes| rows. Classes with zero predictions (or
    * zero truth rows) report 0, not null, so the report is total. */
  def classifierReport(pred: DataFrame, id: String, predCol: String,
      truth: DataFrame, truthCol: String): DataFrame = {
    val joined = pred.select(col(id), col(predCol).as("__pred"))
      .join(truth.select(col(id), col(truthCol).as("__truth")), Seq(id))
    val byTruth = joined.groupBy(col("__truth").as("label"))
      .agg(count(lit(1)).cast("long").as("n_true"),
        sum(when(col("__pred") === col("__truth"), 1L).otherwise(0L))
          .as("n_correct"))
    val byPred = joined.groupBy(col("__pred").as("label"))
      .agg(count(lit(1)).cast("long").as("n_pred"))
    classifierReportFromCounts(byTruth, byPred)
  }

  /** [[classifierReport]]'s finisher over ADDITIVE count increments:
    * `byTruth` (label, n_true, n_correct) and `byPred` (label, n_pred)
    * may hold many rows per label (one per increment — counts over
    * doc-disjoint batches are additive, so an eval maintained under a
    * stream just unions its per-batch counts and re-sums here). The
    * stream-maintained twin of the evaluation, same contract as the
    * BM25 stats sidecar. */
  def classifierReportFromCounts(byTruth: DataFrame,
      byPred: DataFrame): DataFrame = {
    import org.apache.spark.sql.graftbridge.ColumnBridge.{column, expression}
    def idiv(a: Column, b: Column): Column = column(
      org.apache.spark.sql.catalyst.expressions.IntegralDivide(
        expression(a), expression(b)))
    val t = byTruth.groupBy(col("label"))
      .agg(sum(col("n_true")).as("n_true"),
        sum(col("n_correct")).as("n_correct"))
    val pr = byPred.groupBy(col("label"))
      .agg(sum(col("n_pred")).as("n_pred"))
    val p = idiv(col("n_correct") * lit(1000000L),
      greatest(col("n_pred"), lit(1L)))
    val r = idiv(col("n_correct") * lit(1000000L),
      greatest(col("n_true"), lit(1L)))
    t.join(pr, Seq("label"), "full_outer")
      .select(col("label"),
        coalesce(col("n_true"), lit(0L)).as("n_true"),
        coalesce(col("n_pred"), lit(0L)).as("n_pred"),
        coalesce(col("n_correct"), lit(0L)).as("n_correct"))
      .select(col("label"), col("n_true"), col("n_pred"), col("n_correct"),
        p.as("precision_ppm"), r.as("recall_ppm"),
        when(p + r === 0L, lit(0L))
          .otherwise(idiv(lit(2L) * p * r, p + r)).as("f1_ppm"))
  }

  // ------------------------------------------- tokenizer evaluation

  /** Tokenizer fertility report — the standard tokenizer-evaluation
    * table (SentencePiece's own eval metric; Rust & al. ACL 2021 tie
    * fertility to downstream quality): per language, exact-integer
    * tokens-per-word and chars-per-token ratios in ppm. Tokenizer-
    * AGNOSTIC: `tokenCounts` is any (id, n_tokens) relation — BPE
    * ([[graft.ext.Bpe.tokenize]]), unigram-LM, or a served external
    * vocabulary — so one report compares candidate tokenizers over the
    * same corpus. Ratios use IntegralDivide on 10⁶-scaled sums (no
    * float path), so the report hash-replays cross-engine. Shape: one
    * narrow projection + one join keyed by id + a languages-sized
    * aggregate — corpus scanned once, never shuffled beyond the
    * partial agg. */
  def tokenizerFertility(docs: DataFrame, text: String, id: String,
      lang: Column, tokenCounts: DataFrame): DataFrame = {
    import org.apache.spark.sql.graftbridge.ColumnBridge.{column, expression}
    def idiv(a: Column, b: Column): Column = column(
      org.apache.spark.sql.catalyst.expressions.IntegralDivide(
        expression(a), expression(b)))
    val words = size(filter(split(col(text), "\\s+"), t => length(t) > 0))
    docs.select(col(id), lang.as("lang"),
        length(col(text)).cast("long").as("__chars"),
        words.cast("long").as("__words"))
      .join(tokenCounts.select(col(id), col("n_tokens")), Seq(id))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("n_tokens"),
        sum(col("__words")).as("n_words"),
        sum(col("__chars")).as("n_chars"))
      .select(col("lang"), col("n_docs"), col("n_tokens"), col("n_words"),
        col("n_chars"),
        // greatest(..., 1) keeps the report TOTAL: a stratum of
        // all-whitespace docs (n_words = 0) or a tokenizer emitting 0
        // tokens reports 0 ppm, not NULL (or an ANSI-mode error)
        idiv(col("n_tokens") * lit(1000000L),
          greatest(col("n_words"), lit(1L))).as("fertility_ppm"),
        idiv(col("n_chars") * lit(1000000L),
          greatest(col("n_tokens"), lit(1L))).as("chars_per_token_ppm"))
  }

  // ---------------------------------------- fill-in-the-middle (FIM)

  /** Fill-in-the-middle transformation (Bavarian et al. 2022,
    * "Efficient Training of Language Models to Fill in the Middle"):
    * rewrite a hash-selected fraction of documents as
    * prefix/middle/suffix with the middle moved to the end, so an
    * autoregressive LM learns infilling from plain left-to-right
    * training. Membership and both cut offsets come from the shared
    * content-keyed sampling hash ([[Sampling.bucketOf]] at seed,
    * seed+1, seed+2), so the transform is reproducible across runs,
    * layouts, and engines — the same contract as every sampling gate,
    * and exactly what a restartable 100 TB preprocessing job needs
    * (a retried partition re-derives identical splits).
    *
    * Formats (the paper's two orders, sentinel tokens caller-pinned):
    *  - PSM: pre · prefix · suf · suffix · mid · middle
    *  - SPM: suf · suffix · pre · prefix · mid · middle
    * Cut offsets are uniform over [0, len] via mod(len+1) — mod bias
    * is ≤ len/M ≈ 1e-6 at document lengths, and exactness-of-replay is
    * the contract here, not unbiasedness to the last ulp. Documents
    * not selected pass through with `fim = false` and the original
    * text. Pure narrow codegen'd projection — zero shuffle at any
    * scale; character offsets (not token offsets) per the paper's
    * character-level splitting.
    */
  def fimTransform(df: DataFrame, text: String, id: String,
      ratePpm: Long, seed: Long = 0L, spm: Boolean = false,
      preTok: String = "<|fim_prefix|>", sufTok: String = "<|fim_suffix|>",
      midTok: String = "<|fim_middle|>"): DataFrame = {
    require(ratePpm >= 0L && ratePpm <= 1000000L, s"ratePpm=$ratePpm")
    val n = length(col(text)).cast("long")
    // integer ppm threshold: floor(ratePpm · M / 1e6) — no float edge
    val thr = java.math.BigInteger.valueOf(ratePpm)
      .multiply(java.math.BigInteger.valueOf(Sampling.M))
      .divide(java.math.BigInteger.valueOf(1000000L)).longValueExact()
    val member = Sampling.bucketOf(col(id), seed) < lit(thr)
    val c1 = Sampling.bucketOf(col(id), seed + 1) % (n + lit(1L))
    val c2 = Sampling.bucketOf(col(id), seed + 2) % (n + lit(1L))
    val lo = least(c1, c2)
    val hi = greatest(c1, c2)
    val pre = col(text).substr(lit(1), lo.cast("int"))
    val mid = col(text).substr((lo + 1L).cast("int"), (hi - lo).cast("int"))
    val suf = col(text).substr((hi + 1L).cast("int"), (n - hi).cast("int"))
    val out =
      if (spm) concat(lit(sufTok), suf, lit(preTok), pre, lit(midTok), mid)
      else concat(lit(preTok), pre, lit(sufTok), suf, lit(midTok), mid)
    df.select(col(id), member.as("fim"),
      when(member, out).otherwise(col(text)).as("fim_text"))
  }

  // ----------------------------------------------- pseudonymization

  /** Deterministic keyed pseudonymization of identifier columns: each
    * listed column is replaced in place by the lowercase-hex SHA-256 of
    * salt || value (NULL stays NULL). Same value + same salt => same
    * token, so joins and group-bys on the pseudonym still line up
    * across tables pseudonymized with the same salt, while the raw
    * identifier never leaves the cluster — the GDPR-style complement to
    * [[redactCol]]'s in-text masking. Narrow codegen'd projection (one
    * hash per cell, no shuffle); rotate the salt between releases to
    * break cross-release linkability.
    */
  def pseudonymize(df: DataFrame, cols: Seq[String], salt: String): DataFrame =
    cols.foldLeft(df)((d, c) =>
      d.withColumn(c,
        when(col(c).isNull, lit(null).cast(StringType))
          .otherwise(sha2(concat(lit(salt), col(c).cast(StringType)), 256))))

  // --------------------------------------------------- url parsing

  /** URL structure columns for per-domain corpus curation (domain
    * mixing weights, per-site caps, blocklists): adds `scheme`, `host`
    * (lowercased authority), `domain` (host minus one leading "www."),
    * and `path`. Dialect-portable regexes — character classes only, no
    * alternation-with-lookaround — same Java==RE2 discipline as the PII
    * scanners; a malformed URL yields empty strings, never an error.
    * Narrow codegen'd projection. */
  def urlParse(df: DataFrame, urlCol: String): DataFrame = {
    val u = col(urlCol)
    val host = lower(regexp_extract(u, "^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]*)", 1))
    df
      .withColumn("scheme",
        lower(regexp_extract(u, "^([a-zA-Z][a-zA-Z0-9+.-]*)://", 1)))
      .withColumn("host", host)
      .withColumn("domain", regexp_replace(host, "^www\\.", ""))
      .withColumn("path",
        regexp_extract(u, "^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*([^?#]*)", 1))
  }

  /** URL canonicalization for crawl-scale dedup keys: two spellings of
    * the same resource must collapse to one string BEFORE exact/host
    * dedup, or every near-dup pipeline sees phantom distincts. Rules
    * (the standard crawl-frontier set, each SQL-replayable):
    * fragment dropped; scheme and host lowercased; default ports (:80
    * http, :443 https) stripped; leading `www.` stripped; ONE trailing
    * path slash stripped (root `/` kept, empty path becomes `/`);
    * tracking params (`utm_*`, `gclid`, `fbclid`, `msclkid`, `ref`)
    * dropped; surviving query params sorted bytewise. Path CASE is
    * preserved (paths are case-sensitive per RFC 3986; hosts are not).
    * One stateless narrow projection — scan speed, no regex lookbehind
    * (RE2-portable, like every dialect-shared pattern here). */
  def urlCanonicalize(df: DataFrame, urlCol: String): DataFrame = {
    val noFrag = regexp_replace(col(urlCol), "#.*$", "")
    val scheme = lower(regexp_extract(noFrag,
      "^([a-zA-Z][a-zA-Z0-9+.-]*)://", 1))
    val hostPort = lower(regexp_extract(noFrag,
      "^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]*)", 1))
    val dePorted = when(scheme === "http", regexp_replace(hostPort, ":80$", ""))
      .when(scheme === "https", regexp_replace(hostPort, ":443$", ""))
      .otherwise(hostPort)
    val host = regexp_replace(dePorted, "^www\\.", "")
    val rawPath = regexp_extract(noFrag,
      "^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*([^?#]*)", 1)
    val path = when(rawPath === "", lit("/"))
      .when(length(rawPath) > 1, regexp_replace(rawPath, "/$", ""))
      .otherwise(rawPath)
    val query = regexp_extract(noFrag, "\\?([^#]*)", 1)
    val kept = array_sort(filter(split(query, "&"), p =>
      p =!= "" && !p.rlike("^(utm_[A-Za-z0-9_]*|gclid|fbclid|msclkid|ref)=")))
    val canon = concat(scheme, lit("://"), host, path,
      when(size(kept) > 0, concat(lit("?"), array_join(kept, "&")))
        .otherwise(lit("")))
    df.withColumn("url_canon",
      when(scheme === "" || host === "", null).otherwise(canon))
  }

  /** robots.txt compliance column (functions.RobotsAllowed — codegen'd,
    * the RFC 9309 prefix subset): `allowed` per (robots body, URL path)
    * pair for `agent`. A NULL robots body is the absent-file case and
    * allows (coalesced to the empty no-rules document before the
    * expression). The crawl-frontier compliance filter: join fetched
    * URLs to their host's robots body, keep the allowed rows. */
  def robotsFilter(df: DataFrame, robotsCol: String, pathCol: String,
      agent: String): DataFrame =
    df.withColumn("allowed", GraftFunctions.robotsAllowed(
      coalesce(col(robotsCol), lit("")), col(pathCol), agent))

  /** Sitemap URL extraction: every `<loc>` entry of a sitemap XML
    * document, with its position — one stateless narrow projection
    * (regexp over the XML text; sitemaps are flat by spec, a real
    * nested sitemap-index recurses through the same extraction). The
    * discovery side of the crawl frontier, next to [[robotsFilter]]'s
    * compliance side. */
  def sitemapUrls(df: DataFrame, xmlCol: String, id: String): DataFrame =
    df.select(col(id),
        posexplode(regexp_extract_all(col(xmlCol),
          lit("<loc>\\s*([^<]*?)\\s*</loc>"), lit(1))))
      .select(col(id), col("pos").cast(LongType).as("pos"),
        col("col").as("url"))

  // ------------------------------------- supervised quality classifier

  /** Trainable state of the class-conditional unigram classifier (the
    * multinomial Naive-Bayes shape): per-class token counts and
    * per-class total token counts — both ADDITIVE, so a persisted model
    * absorbs a new labeled batch via [[nbMerge]] with no corpus re-scan
    * (the d15/c9/t27 incremental pattern). Tokenization is [[lmScore]]'s
    * (lowercased whitespace tokens), so the two in-distribution scorers
    * share a vocabulary convention. */
  def nbCounts(ref: DataFrame, refText: String,
      label: String): (DataFrame, DataFrame) = {
    val tok = ref.select(col(label).as("label"),
      explode(lmToks(refText)).as("w"))
    (tok.groupBy(col("label"), col("w")).agg(count(lit(1)).as("c")),
      tok.groupBy(col("label")).agg(count(lit(1)).as("n")))
  }

  /** Additive merge of two [[nbCounts]] models. */
  def nbMerge(a: (DataFrame, DataFrame),
      b: (DataFrame, DataFrame)): (DataFrame, DataFrame) = (
    a._1.union(b._1).groupBy(col("label"), col("w"))
      .agg(sum(col("c")).as("c")),
    a._2.union(b._2).groupBy(col("label")).agg(sum(col("n")).as("n")))

  /** EXACT decremental unlearning for the NB classifier ([[knRemove]]'s
    * contract on the two-frame model): subtract the removed documents'
    * [[nbCounts]] and drop zeroed rows — a (label, token) whose count
    * hits zero disappears (shrinking V exactly as a fresh model would),
    * a label whose token total hits zero disappears from the decision.
    * Result == [[nbCounts]] over the remaining corpus bit-for-bit; one
    * pass over the REMOVED documents only. Same subset premise as
    * [[knRemove]]. */
  def nbRemove(model: (DataFrame, DataFrame), removed: DataFrame,
      refText: String, label: String): (DataFrame, DataFrame) = {
    val (dTok, dCls) = nbCounts(removed, refText, label)
    val merged = nbMerge(model,
      (dTok.select(col("label"), col("w"), (col("c") * lit(-1L)).as("c")),
        dCls.select(col("label"), (col("n") * lit(-1L)).as("n"))))
    (merged._1.where(col("c") > 0), merged._2.where(col("n") > 0))
  }

  /** Persist an [[nbCounts]] model as a loadable classifier index —
    * the AnnIndex/bm25Index pattern applied to the NB classifier: the
    * serve-many deployment shape where training happens once (or
    * incrementally via [[nbMerge]] + append) and classification calls
    * stop re-aggregating the reference corpus AND stop re-measuring
    * the model per call. The placement measurement ([[nbClassify]]'s
    * auto mode runs it as an eager Scale.materialize per call — the t29
    * regression) is taken ONCE here and saved in the meta sidecar;
    * [[nbClassifyFromModel]] reads three model-sized parquet frames
    * and pins the placement from the saved estimate. */
  def nbSaveModel(root: String, tokenCounts: DataFrame,
      classCounts: DataFrame): Unit = {
    tokenCounts.write.mode("errorifexists").parquet(s"$root/tok.parquet")
    classCounts.write.mode("errorifexists").parquet(s"$root/cls.parquet")
    tokenCounts.sparkSession.read.parquet(s"$root/tok.parquet")
      .agg(count(lit(1)).as("rows"),
        coalesce(sum(length(col("w"))), lit(0L)).as("wbytes"))
      .write.mode("errorifexists").parquet(s"$root/meta.parquet")
  }

  /** [[nbRemove]] applied IN PLACE to a model persisted by
    * [[nbSaveModel]] — the takedown leg for the serve-many classifier
    * deployment: subtract the removed documents' counts, re-derive the
    * size-estimate meta (the broadcast-placement decision must track
    * the SHRUNK model), and swap all three tables via
    * [[graft.io.StagedSwap]] (never zero copies on disk; rollback on
    * failure). [[nbClassifyFromModel]] then serves exactly as a model
    * freshly trained on the remaining corpus (the t59 gate pins it
    * against the oracle over the remaining corpus). Cost: one pass
    * over the removed documents + a model-sized rewrite — never a
    * corpus re-scan. */
  def nbRemoveFromModel(spark: org.apache.spark.sql.SparkSession,
      root: String, removed: DataFrame, refText: String,
      label: String): Unit = {
    val (tok, cls) = nbRemove(
      (spark.read.parquet(s"$root/tok.parquet"),
        spark.read.parquet(s"$root/cls.parquet")),
      removed, refText, label)
    val staging = s"$root/.unlearn-${java.util.UUID.randomUUID()}"
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    try {
      tok.write.parquet(s"$staging/tok.parquet")
      cls.write.parquet(s"$staging/cls.parquet")
      spark.read.parquet(s"$staging/tok.parquet")
        .agg(count(lit(1)).as("rows"),
          coalesce(sum(length(col("w"))), lit(0L)).as("wbytes"))
        .write.parquet(s"$staging/meta.parquet")
    } catch { case e: Throwable =>
      fs.delete(new org.apache.hadoop.fs.Path(staging), true)
      throw e
    }
    graft.io.StagedSwap.swapIn(fs, root, staging,
      Seq("tok.parquet", "cls.parquet", "meta.parquet"))
  }

  /** Classify against a model persisted by [[nbSaveModel]]: loads the
    * postings-free model frames, derives the broadcast decision from
    * the SAVED size estimate (same 64 B/row + token-bytes formula and
    * threshold rule as [[nbClassify]]'s auto mode — a pinned
    * placement, so no per-call checkpoint or measurement job), and
    * scores identically to the direct path. */
  def nbClassifyFromModel(spark: org.apache.spark.sql.SparkSession,
      root: String, docs: DataFrame, text: String, id: String,
      scale: Long = 1000000000L): DataFrame = {
    val tok = spark.read.parquet(s"$root/tok.parquet")
    val cls = spark.read.parquet(s"$root/cls.parquet")
    val meta = spark.read.parquet(s"$root/meta.parquet").head
    val threshold = broadcastThresholdBytes(spark)
    val fits = threshold > 0 &&
      meta.getLong(0) * 64L + meta.getLong(1) <= threshold
    nbClassify(docs, text, id, tok, cls, scale,
      broadcastModel = Some(fits))
  }

  /** spark.sql.autoBroadcastJoinThreshold as bytes (shared by
    * [[nbClassify]]'s auto mode and [[nbClassifyFromModel]]). */
  private[graft] def broadcastThresholdBytes(
      spark: org.apache.spark.sql.SparkSession): Long =
    spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
      .stripSuffix("b").stripSuffix("B") match {
        case s if s.endsWith("k") || s.endsWith("K") =>
          s.dropRight(1).toLong << 10
        case s if s.endsWith("m") || s.endsWith("M") =>
          s.dropRight(1).toLong << 20
        case s if s.endsWith("g") || s.endsWith("G") =>
          s.dropRight(1).toLong << 30
        case s => s.toLong
      }

  /** Classify documents against an [[nbCounts]] model — the supervised
    * member of the quality-filter family (Gopher heuristics are
    * hand-written rules, [[lmScore]] is unsupervised in-distribution
    * perplexity; this learns a labeled decision, e.g. lang-id or a
    * good/bad quality classifier trained on curated-vs-crawl slices).
    *
    * Log-free exact-BIGINT scoring, the [[lmScore]] trick applied
    * class-conditionally: score(doc, class) = mean over doc tokens of
    * Laplace-smoothed (c(w,class)+1)·scale div (n_class + V), V = union
    * vocabulary size. Every term is a floor division of BIGINTs, so the
    * whole decision — scores AND argmax — replays bit-exactly in any
    * ANSI engine (no float logs, no rounding ties). Class priors are
    * deliberately uniform: the mean-term form already normalizes by doc
    * length, and at corpus scale the token likelihood dominates.
    *
    * Plan shape: the (label, token, count) model is BROADCAST when it
    * fits — a trained NB model is reference-set-sized (the same
    * MBs-vs-TBs premise as decontamination), and broadcasting it makes
    * the token join a map-side hash probe, so the exploded corpus is
    * never shuffled on the Zipf-skewed token key; per-(doc, class)
    * partial sums aggregate map-side, the candidate frame is docs ×
    * classes (classes are a constant), and the argmax is a per-doc
    * window with a pinned (score desc, label asc) tiebreak. Nothing is
    * ever all-pairs and no data row reaches the driver.
    *
    * `broadcastModel = None` (the default) picks the placement from the
    * MEASURED model size: one eager metadata-cheap aggregate over the
    * model relation (rows + token bytes — NOT the corpus) estimates the
    * in-memory hash-relation footprint, and the model is broadcast iff
    * that fits `spark.sql.autoBroadcastJoinThreshold`. An oversized
    * model — where a forced broadcast would OOM the driver and every
    * executor — falls back to the shuffle join (AQE skew-splittable).
    * `Some(true)`/`Some(false)` pin the placement (A/Bs, tests).
    */
  def nbClassify(docs: DataFrame, text: String, id: String,
      tokenCounts: DataFrame, classCounts: DataFrame,
      scale: Long = 1000000000L,
      broadcastModel: Option[Boolean] = None): DataFrame = {
    require(scale >= 1L, s"scale=$scale")
    // Auto mode MEASURES the model, so it would otherwise execute the
    // model-building aggregation twice (once for the size probe, once
    // in the join); Scale.materialize runs it exactly once —
    // a model is reference-set-sized, so the checkpoint is small.
    val tokenCountsEff =
      if (broadcastModel.isEmpty) tokenCounts.transform(Scale.materialize)
      else tokenCounts
    val doBroadcast = broadcastModel.getOrElse {
      val threshold = broadcastThresholdBytes(docs.sparkSession)
      if (threshold <= 0) false
      else {
        // ~48 bytes/row of UnsafeRow + hash-relation overhead beyond
        // the 2 longs and the token bytes themselves.
        val r = tokenCountsEff
          .agg(count(lit(1)).as("rows"),
            coalesce(sum(length(col("w"))), lit(0L)).as("wbytes"))
          .head()
        r.getLong(0) * 64L + r.getLong(1) <= threshold
      }
    }
    val vocab = tokenCountsEff.select(col("w")).distinct()
      .agg(count(lit(1)).as("v"))
    val docToks = docs.select(col(id), explode(lmToks(text)).as("w"))
    val docLen = docToks.groupBy(col(id)).agg(count(lit(1)).as("n_toks"))
    val found = docToks.join(
        if (doBroadcast) broadcast(tokenCountsEff) else tokenCountsEff,
        Seq("w"))
      .join(broadcast(classCounts), Seq("label"))
      .crossJoin(broadcast(vocab))
      .select(col(id), col("label"),
        expr(s"(c + 1L) * ${scale}L div (n + v)").as("term"))
      .groupBy(col(id), col("label"))
      .agg(sum(col("term")).as("found_sum"),
        count(lit(1)).as("found_n"))
    val scored = docLen.where(col("n_toks") > 0)
      .crossJoin(broadcast(classCounts))
      .crossJoin(broadcast(vocab))
      .join(found, Seq(id, "label"), "left")
      .select(col(id), col("label"), col("n_toks"),
        (coalesce(col("found_sum"), lit(0L)) +
          (col("n_toks") - coalesce(col("found_n"), lit(0L))) *
            expr(s"${scale}L div (n + v)")).as("sum_term"))
      .withColumn("score_e9", expr("sum_term div n_toks"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(id)).orderBy(col("score_e9").desc, col("label").asc)
    scored.withColumn("rn", row_number().over(w))
      .where(col("rn") === 1)
      .select(col(id), col("label").as("pred"), col("score_e9"))
  }
}
