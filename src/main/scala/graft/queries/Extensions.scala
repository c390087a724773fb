package graft.queries

import graft.Tables
import graft.ext.{Dedup, Multimodal, Scale, Similarity, TextAnalysis}
import graft.streaming.EventStream
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Gate queries for the LLM-pipeline extension operators. Where the
  * semantics are ANSI-SQL-expressible the DuckDB oracle replays them
  * (text stats, quality, exact dedup, sessionization, brute-force KNN
  * ranks); LSH/stub-based operators are checked rows-only, over inputs
  * with deterministically planted near-duplicates so a correct
  * implementation provably returns rows.
  */
object ExtensionQueries {

  // ------------------------------------------------------------- text

  def textStats(s: SparkSession, d: String): DataFrame =
    TextAnalysis.stats(Tables.documents(s, d), "text", "doc_id").orderBy("doc_id")

  private val textStatsOracle =
    """SELECT doc_id,
      | CAST(length(text) AS BIGINT) AS n_chars,
      | CAST(len(regexp_extract_all(text, '[^\s]+')) AS BIGINT) AS n_tokens,
      | CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS BIGINT) AS n_bpe_tokens,
      | CAST(length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')) AS BIGINT) AS n_punct,
      | CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS BIGINT) AS n_digits
      |FROM documents ORDER BY doc_id""".stripMargin

  def textQuality(s: SparkSession, d: String): DataFrame =
    TextAnalysis.quality(Tables.documents(s, d), "text", "doc_id").orderBy("doc_id")

  private val textQualityOracle =
    """SELECT doc_id,
      | (chars BETWEEN 50 AND 100000) AND tokens >= 5
      |  AND punct * 10 <= chars AND digits * 10 <= chars * 3
      |  AND chars <= tokens * 16 AND chars >= tokens * 2 AS is_quality
      |FROM (
      | SELECT doc_id, length(text) AS chars,
      |  len(regexp_extract_all(text, '[^\s]+')) AS tokens,
      |  length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')) AS punct,
      |  length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS digits
      | FROM documents) t ORDER BY doc_id""".stripMargin

  def langId(s: SparkSession, d: String): DataFrame =
    TextAnalysis.langId(Tables.documents(s, d), "text", "doc_id").orderBy("doc_id")

  /** The stopword-profile (score, lang) struct list as DuckDB SQL over
    * a token-list column `ts` — ONE builder shared by every oracle that
    * replays the argmax (t3 per document, t56 per sentence), so the
    * replay cannot drift between them. */
  private def stopwordStructsSql: String =
    TextAnalysis.StopwordProfiles.map { case (lang, words) =>
      val set = words.map(w => s"'$w'").mkString(", ")
      s"{'score': len(list_filter(ts, t -> t IN ($set))), 'lang': '$lang'}"
    }.mkString(",\n      |   ")

  /** DuckDB replay of the stopword-argmax: same struct-lexicographic
    * tie-break (max score, then max lang code) via list_sort of
    * (score, lang) structs. */
  private val langIdOracle: String = {
    val structs = stopwordStructsSql
    s"""WITH toks AS (
      | SELECT doc_id, string_split_regex(lower(text), '\\s+') AS ts FROM documents),
      |scored AS (SELECT doc_id, [$structs] AS ss FROM toks)
      |SELECT doc_id,
      | CASE WHEN list_sort(ss)[-1].score > 0 THEN list_sort(ss)[-1].lang
      |  ELSE 'und' END AS lang_pred
      |FROM scored ORDER BY doc_id""".stripMargin
  }

  /** t56: mixed-language document segmentation
    * (TextAnalysis.langSegments) — per-sentence stopword-argmax lang-id
    * collapsed into consecutive same-language runs. The synthetic corpus
    * is one-language per doc, so docs < 30 get a PLANTED Spanish tail
    * sentence (the plantedDocs discipline): those documents must split
    * into at least two segments with the tail labeled 'es', while
    * unplanted docs collapse to their natural runs. The oracle replays
    * sentence split, per-sentence argmax (the t3 struct-sort replay),
    * and the gaps-and-islands run numbering end to end. */
  def langSegmentsGate(s: SparkSession, d: String): DataFrame = {
    val planted = Tables.documents(s, d).select(col("doc_id"),
      when(col("doc_id") < 30,
        concat(col("text"), lit(". el la de que y en un los por con")))
        .otherwise(col("text")).as("text"))
    TextAnalysis.langSegments(planted, "text", "doc_id")
      .orderBy("doc_id", "seg_idx")
  }

  private val langSegmentsOracle: String = {
    val structs = stopwordStructsSql
    s"""WITH docs AS (
      | SELECT doc_id,
      |  CASE WHEN doc_id < 30
      |   THEN text || '. el la de que y en un los por con'
      |   ELSE text END AS text
      | FROM documents),
      |f AS (
      | SELECT doc_id,
      |  list_transform(
      |    list_filter(string_split_regex(text, '[.!?]+\\s+'),
      |      x -> len(trim(x)) > 0),
      |    x -> trim(x)) AS ss
      | FROM docs),
      |u AS (
      | SELECT doc_id,
      |  CAST(unnest(range(1, len(ss) + 1)) AS BIGINT) AS sent_idx,
      |  unnest(ss) AS sentence
      | FROM f),
      |l AS (
      | SELECT doc_id, sent_idx,
      |  CAST(len(regexp_extract_all(sentence, '[^\\s]+')) AS BIGINT)
      |    AS n_tokens,
      |  string_split_regex(lower(sentence), '\\s+') AS ts
      | FROM u),
      |p AS (
      | SELECT doc_id, sent_idx, n_tokens,
      |  CASE WHEN list_sort([$structs])[-1].score > 0
      |   THEN list_sort([$structs])[-1].lang ELSE 'und' END AS lang
      | FROM l),
      |b AS (
      | SELECT doc_id, sent_idx, n_tokens, lang,
      |  CASE WHEN lag(lang) OVER (PARTITION BY doc_id ORDER BY sent_idx)
      |   IS DISTINCT FROM lang THEN 1 ELSE 0 END AS brk
      | FROM p),
      |g AS (
      | SELECT doc_id, sent_idx, n_tokens, lang,
      |  sum(brk) OVER (PARTITION BY doc_id ORDER BY sent_idx) AS seg_idx
      | FROM b)
      |SELECT doc_id, CAST(seg_idx AS BIGINT) AS seg_idx, lang,
      | CAST(min(sent_idx) AS BIGINT) AS first_sent_idx,
      | count(*) AS n_sentences, CAST(sum(n_tokens) AS BIGINT) AS n_tokens
      |FROM g GROUP BY doc_id, seg_idx, lang
      |ORDER BY doc_id, seg_idx""".stripMargin
  }

  def fingerprints(s: SparkSession, d: String): DataFrame =
    TextAnalysis.fingerprint(Tables.documents(s, d), "text", "doc_id").orderBy("doc_id")

  /** DuckDB replay of the 64-bit rolling hash (h = h*31 + byte over UTF-8
    * bytes): HUGEINT accumulate mod 2^64, then two's-complement fold to
    * signed BIGINT. Codepoint == byte holds because the corpus is ASCII
    * (verified); a non-ASCII corpus would need a byte-level oracle. */
  private val fingerprintOracle =
    """SELECT doc_id,
      | CAST(CASE WHEN m >= 9223372036854775808::HUGEINT
      |   THEN m - 18446744073709551616::HUGEINT ELSE m END AS BIGINT) AS fingerprint
      |FROM (
      | SELECT doc_id,
      |  list_reduce(
      |    list_prepend(1125899906842597::HUGEINT,
      |      list_transform(range(1, length(text)+1), i -> ord(text[i])::HUGEINT)),
      |    (h, c) -> (h * 31 + c) % 18446744073709551616::HUGEINT) AS m
      | FROM documents) ORDER BY doc_id""".stripMargin

  // ------------------------------------------------------------ dedup

  /** documents ∪ near-identical copies of doc_id < 25 (id + 100000) — a
    * deterministic corpus where near-dup detectors must fire. */
  private[queries] def plantedDocs(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
    val dups = docs.where(col("doc_id") < 25).select(
      (col("doc_id") + 100000).as("doc_id"),
      concat(col("text"), lit(" zz")).as("text"))
    docs.union(dups)
  }

  private[queries] def plantedEmbeddings(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
    val dups = e.where(col("vec_id") < 25).select(
      (col("vec_id") + 100000).as("vec_id"),
      col("embedding"))
    e.union(dups)
  }

  /** Incremental dedup of a new batch against an existing corpus'
    * fingerprint relation (Dedup.incrementalExact — the corpus text is
    * never re-read). Corpus = docs < 400; batch = docs >= 300 (the
    * 300-399 overlap must drop) plus re-keyed copies of docs >= 450
    * (within-batch dups, first id wins). Oracle replays with raw text
    * equality — identical because the 64-bit fingerprint is injective
    * on the gate corpus (collisions would hash-mismatch loudly). */
  def dedupIncremental(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
    val corpusFps = docs.where(col("doc_id") < 400)
      .select(graft.functions.GraftFunctions.fingerprint(col("text")).as("fp"))
    val batch = docs.where(col("doc_id") >= 300)
      .union(docs.where(col("doc_id") >= 450)
        .select((col("doc_id") + 1000).as("doc_id"), col("text")))
    Dedup.incrementalExact(corpusFps, batch, "text", "doc_id")
      .select(col("doc_id"))
      .orderBy("doc_id")
  }

  private val dedupIncrementalOracle =
    """WITH corpus AS (SELECT text FROM documents WHERE doc_id < 400),
      |batch AS (
      | SELECT doc_id, text FROM documents WHERE doc_id >= 300
      | UNION ALL
      | SELECT doc_id + 1000 AS doc_id, text FROM documents
      | WHERE doc_id >= 450),
      |firsts AS (
      | SELECT doc_id FROM (
      |  SELECT doc_id, text, min(doc_id) OVER (PARTITION BY text) AS k
      |  FROM batch) t
      | WHERE doc_id = k AND text NOT IN (SELECT text FROM corpus))
      |SELECT doc_id FROM firsts ORDER BY doc_id""".stripMargin

  def dedupExact(s: SparkSession, d: String): DataFrame =
    Dedup.exactGroups(
      plantedDocs(s, d).union(plantedDocs(s, d).where(col("doc_id") < 10)),
      "text", "doc_id")
      .orderBy("keep_id")

  private val dedupExactOracle =
    """WITH planted AS (
      | SELECT doc_id, text FROM documents
      | UNION ALL
      | SELECT doc_id + 100000 AS doc_id, text || ' zz' AS text FROM documents WHERE doc_id < 25),
      |corpus AS (
      | SELECT * FROM planted
      | UNION ALL
      | SELECT * FROM planted WHERE doc_id < 10)
      |SELECT text, CAST(min(doc_id) AS BIGINT) AS keep_id, count(*) AS n_copies
      |FROM corpus GROUP BY text ORDER BY keep_id""".stripMargin

  def dedupMinHash(s: SparkSession, d: String): DataFrame =
    Dedup.minHashPairs(plantedDocs(s, d), "text", "doc_id").orderBy("id_a", "id_b")

  /** Exact all-pairs char-5-shingle Jaccard >= 0.8 — the semantic contract
    * of minHashPairs. Replayable because the LSH candidate stage has
    * (verified) recall 1.0 on this gate corpus: every qualifying pair
    * shares at least one of the 8 bands, so the exact-verify stage sees
    * it and emits the same exact Jaccard the oracle computes. A recall
    * miss would surface here as a row-count diff — that is the point.
    *
    * The pair intersection is the EXPLODED-shingle equi-join (count of
    * shared distinct shingles per pair), not per-pair list_intersect:
    * identical values for every pair sharing >= 1 shingle, and a
    * 0-intersection pair can never reach the 0.8 filter — while the
    * all-pairs list_intersect form cost ~25s of the driver's DuckDB
    * budget PER ORACLE at sf0.01 (r14 oracle profile; this family was
    * 167s of the 215s compare leg). */
  private val dedupMinHashOracle =
    """WITH planted AS (
      | SELECT doc_id, text FROM documents
      | UNION ALL
      | SELECT doc_id + 100000 AS doc_id, text || ' zz' AS text FROM documents WHERE doc_id < 25),
      |sh AS (
      | SELECT doc_id,
      |  list_distinct(list_transform(
      |    range(1, greatest(length(lower(text)) - 5, 0) + 2),
      |    i -> substr(lower(text), i, 5))) AS s
      | FROM planted),
      |ex AS (SELECT doc_id, len(s) AS n, unnest(s) AS g FROM sh),
      |pairs AS (
      | SELECT a.doc_id AS id_a, b.doc_id AS id_b,
      |  CAST(count(*) AS DOUBLE) AS inter,
      |  any_value(a.n) AS na, any_value(b.n) AS nb
      | FROM ex a JOIN ex b ON a.g = b.g AND a.doc_id < b.doc_id
      | GROUP BY 1, 2)
      |SELECT id_a, id_b, inter / (na + nb - inter) AS jaccard
      |FROM pairs WHERE inter / (na + nb - inter) >= 0.8
      |ORDER BY id_a, id_b""".stripMargin

  /** End-to-end corpus dedup: near-dup pairs feed the greedy keeper
    * (drop every doc duplicating a lower id) — the actual "dedup my
    * training corpus" operation, not just pair detection. */
  def dedupPipeline(s: SparkSession, d: String): DataFrame = {
    val docs = plantedDocs(s, d)
    val pairs = Dedup.minHashPairs(docs, "text", "doc_id")
    Dedup.dropFromPairs(docs, "doc_id", pairs)
      .select(col("doc_id"))
      .orderBy("doc_id")
  }

  private[queries] val dedupPipelineOracle =
    """WITH planted AS (
      | SELECT doc_id, text FROM documents
      | UNION ALL
      | SELECT doc_id + 100000 AS doc_id, text || ' zz' AS text FROM documents WHERE doc_id < 25),
      |sh AS (
      | SELECT doc_id,
      |  list_distinct(list_transform(
      |    range(1, greatest(length(lower(text)) - 5, 0) + 2),
      |    i -> substr(lower(text), i, 5))) AS s
      | FROM planted),
      |ex AS (SELECT doc_id, len(s) AS n, unnest(s) AS g FROM sh),
      |pairs AS (
      | SELECT a.doc_id AS id_a, b.doc_id AS id_b,
      |  CAST(count(*) AS DOUBLE) AS inter,
      |  any_value(a.n) AS na, any_value(b.n) AS nb
      | FROM ex a JOIN ex b ON a.g = b.g AND a.doc_id < b.doc_id
      | GROUP BY 1, 2),
      |dropped AS (
      | SELECT DISTINCT id_b FROM pairs WHERE inter / (na + nb - inter) >= 0.8)
      |SELECT doc_id FROM planted WHERE doc_id NOT IN (SELECT id_b FROM dropped)
      |ORDER BY doc_id""".stripMargin

  /** d23: near-dup detection against a PERSISTED index — the lifecycle
    * split every other serving family already has (ANN s9, decontam
    * d20, BM25 t42, NB t44) applied to MinHash-LSH dedup. Deployment
    * shape: the curated corpus is indexed once (build + an append
    * increment, exercising both write paths), then a new crawl batch is
    * flagged against it without re-pairing the corpus with itself. The
    * serve is LSH candidates (key-hash postings join) + exact verify
    * over stored sorted shingle fingerprints; the oracle replays the
    * SEMANTIC contract — exact cross-pairs shingle jaccard >= 0.8
    * between the arrivals and the whole indexed corpus (the d2 recall
    * argument: a band-miss surfaces as a row diff). */
  def nearDupIndexGate(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
    val root = java.nio.file.Files.createTempDirectory("graft_d23_")
      .resolve("nd_idx").toString
    Dedup.saveMinHashIndex(root, docs.where(col("doc_id") % 2 === 0),
      "text", "doc_id")
    Dedup.appendMinHashIndex(root, docs.where(col("doc_id") % 2 === 1),
      "text", "doc_id")
    val arrivals = docs.where(col("doc_id") < 25).select(
      (col("doc_id") + 100000).as("doc_id"),
      concat(col("text"), lit(" zz")).as("text"))
    Dedup.flagAgainstIndex(s, root, arrivals, "text", "doc_id")
      .orderBy("doc_id", "dup_of")
  }

  /** Exact cross-pairs char-5-shingle jaccard between the arrivals and
    * every indexed document — the semantic contract of the indexed
    * serve, independent of LSH/fingerprint machinery (hashed-set counts
    * equal string-set counts under the injective-or-loudly-wrong
    * contract; a collision or band recall miss hash-mismatches). */
  private[queries] val nearDupIndexOracle =
    """WITH arr AS (
      | SELECT doc_id + 100000 AS doc_id, text || ' zz' AS text
      | FROM documents WHERE doc_id < 25),
      |shi AS (
      | SELECT doc_id,
      |  list_distinct(list_transform(
      |    range(1, greatest(length(lower(text)) - 5, 0) + 2),
      |    i -> substr(lower(text), i, 5))) AS s
      | FROM documents),
      |sha AS (
      | SELECT doc_id,
      |  list_distinct(list_transform(
      |    range(1, greatest(length(lower(text)) - 5, 0) + 2),
      |    i -> substr(lower(text), i, 5))) AS s
      | FROM arr),
      |exi AS (SELECT doc_id, len(s) AS n, unnest(s) AS g FROM shi),
      |exa AS (SELECT doc_id, len(s) AS n, unnest(s) AS g FROM sha),
      |pairs AS (
      | SELECT a.doc_id AS doc_id, i.doc_id AS dup_of,
      |  CAST(count(*) AS DOUBLE) AS inter,
      |  any_value(a.n) AS na, any_value(i.n) AS nb
      | FROM exa a JOIN exi i ON a.g = i.g AND a.doc_id <> i.doc_id
      | GROUP BY 1, 2)
      |SELECT doc_id, dup_of, inter / (na + nb - inter) AS jaccard
      |FROM pairs WHERE inter / (na + nb - inter) >= 0.8
      |ORDER BY doc_id, dup_of""".stripMargin

  /** st36: flag-at-ingest against the persisted near-dup index — the
    * d23 serve under an arrival stream. The index opens ONCE
    * ([[graft.ext.Dedup.openMinHashIndex]] — the one-row meta never
    * re-reads per batch); each micro-batch (two parquet files,
    * maxFilesPerTrigger=1) pays only its own band projection, the
    * postings join, and the candidate-pruned fingerprint verify.
    * Per-arrival independence (a doc's flags depend only on its own
    * shingles + the static index) makes the appended union equal the
    * batch serve — the same oracle pins both. */
  def nearDupIndexStream(s: SparkSession, d: String): DataFrame = {
    val base = java.nio.file.Files.createTempDirectory("graft_st36_")
    val root = base.resolve("nd_idx").toString
    val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
    Dedup.saveMinHashIndex(root, docs, "text", "doc_id")
    val conf = Dedup.openMinHashIndex(s, root)
    val adir = base.resolve("arrivals").toString
    val outDir = base.resolve("flagged").toString
    docs.where(col("doc_id") < 25).select(
        (col("doc_id") + 100000).as("doc_id"),
        concat(col("text"), lit(" zz")).as("text"))
      .repartition(2).write.mode("overwrite").parquet(adir)
    val stream = s.readStream
      .schema(StructType(Seq(
        StructField("doc_id", LongType),
        StructField("text", org.apache.spark.sql.types.StringType))))
      .option("maxFilesPerTrigger", 1)
      .parquet(adir)
    val q = stream.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        Dedup.flagAgainstIndex(s, root, conf, batch, "text", "doc_id")
          .write.mode("append").parquet(outDir)
        ()
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(300000)
    q.stop()
    s.read.parquet(outDir).orderBy("doc_id", "dup_of")
  }

  /** d24: the near-dup index COMPACTION lifecycle (the s29 contract
    * applied to the MinHash index): build + append as d23, then REPLAY
    * the append (an at-least-once delivery duplicating fps/posting
    * rows), compact — which dedups both tables physically and
    * coalesces the per-append file accretion — and serve the same
    * arrivals. The serve contract is exact (compacted == uncompacted
    * bit-for-bit, and the replay is absorbed), so the gate replays
    * against the SAME semantic oracle as d23. */
  def nearDupIndexCompact(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
    val root = java.nio.file.Files.createTempDirectory("graft_d24_")
      .resolve("nd_idx").toString
    Dedup.saveMinHashIndex(root, docs.where(col("doc_id") % 2 === 0),
      "text", "doc_id")
    val odd = docs.where(col("doc_id") % 2 === 1)
    Dedup.appendMinHashIndex(root, odd, "text", "doc_id")
    Dedup.appendMinHashIndex(root, odd, "text", "doc_id") // replayed batch
    Dedup.compactMinHashIndex(s, root, targetPartitions = 1)
    val arrivals = docs.where(col("doc_id") < 25).select(
      (col("doc_id") + 100000).as("doc_id"),
      concat(col("text"), lit(" zz")).as("text"))
    Dedup.flagAgainstIndex(s, root, arrivals, "text", "doc_id")
      .orderBy("doc_id", "dup_of")
  }

  /** d26: near-dup index DELETION (takedown): index the full corpus,
    * delete the odd half ([[graft.ext.Dedup.deleteFromMinHashIndex]] —
    * marker table, postings untouched until compact), then flag the
    * d23 arrivals. A deleted document must never be flagged as `dup_of`
    * — the oracle replays exact cross-pairs jaccard against the EVEN
    * half only, so a marker leak at any serve stage is a row diff.
    * The serve runs once pre-compact (markers anti-joined) and the
    * spec additionally pins post-compact equality. */
  def nearDupIndexDelete(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
    val root = java.nio.file.Files.createTempDirectory("graft_d26_")
      .resolve("nd_idx").toString
    Dedup.saveMinHashIndex(root, docs, "text", "doc_id")
    Dedup.deleteFromMinHashIndex(root,
      docs.where(col("doc_id") % 2 === 1).select(col("doc_id")), "doc_id")
    val arrivals = docs.where(col("doc_id") < 25).select(
      (col("doc_id") + 100000).as("doc_id"),
      concat(col("text"), lit(" zz")).as("text"))
    Dedup.flagAgainstIndex(s, root, arrivals, "text", "doc_id")
      .orderBy("doc_id", "dup_of")
  }

  private[queries] val nearDupIndexDeleteOracle =
    """WITH arr AS (
      | SELECT doc_id + 100000 AS doc_id, text || ' zz' AS text
      | FROM documents WHERE doc_id < 25),
      |shi AS (
      | SELECT doc_id,
      |  list_distinct(list_transform(
      |    range(1, greatest(length(lower(text)) - 5, 0) + 2),
      |    i -> substr(lower(text), i, 5))) AS s
      | FROM documents WHERE doc_id % 2 = 0),
      |sha AS (
      | SELECT doc_id,
      |  list_distinct(list_transform(
      |    range(1, greatest(length(lower(text)) - 5, 0) + 2),
      |    i -> substr(lower(text), i, 5))) AS s
      | FROM arr),
      |exi AS (SELECT doc_id, len(s) AS n, unnest(s) AS g FROM shi),
      |exa AS (SELECT doc_id, len(s) AS n, unnest(s) AS g FROM sha),
      |pairs AS (
      | SELECT a.doc_id AS doc_id, i.doc_id AS dup_of,
      |  CAST(count(*) AS DOUBLE) AS inter,
      |  any_value(a.n) AS na, any_value(i.n) AS nb
      | FROM exa a JOIN exi i ON a.g = i.g AND a.doc_id <> i.doc_id
      | GROUP BY 1, 2)
      |SELECT doc_id, dup_of, inter / (na + nb - inter) AS jaccard
      |FROM pairs WHERE inter / (na + nb - inter) >= 0.8
      |ORDER BY doc_id, dup_of""".stripMargin

  def dedupSimHash(s: SparkSession, d: String): DataFrame =
    Dedup.simHashPairs(plantedDocs(s, d), "text", "doc_id").orderBy("id_a", "id_b")

  def dedupNgram(s: SparkSession, d: String): DataFrame =
    Dedup.ngramJaccardPairs(plantedDocs(s, d), "text", "doc_id").orderBy("id_a", "id_b")

  /** Prefix-filtered variant: the SEMANTIC contract is identical to d4
    * (exact pairs with jaccard >= 0.5), so it replays against the same
    * brute-force oracle — what changes is the plan (only each doc's
    * rarest (ng − ⌈t·ng⌉ + 1) grams are indexed; see
    * Dedup.prefixJaccardPairs). */
  def dedupPrefix(s: SparkSession, d: String): DataFrame =
    Dedup.prefixJaccardPairs(plantedDocs(s, d), "text", "doc_id")
      .orderBy("id_a", "id_b")

  /** The inverted-index n-gram join is EXACT (every pair sharing >=1 gram
    * is scored with its true Jaccard), so DuckDB can replay it fully. The
    * gram construction mirrors Spark's: index i over
    * 0..max(n_tokens-3, 0), gram = space-join of tokens[i..i+2] clamped.
    */
  private val dedupNgramOracle =
    """WITH planted AS (
      | SELECT doc_id, text FROM documents
      | UNION ALL
      | SELECT doc_id + 100000 AS doc_id, text || ' zz' AS text FROM documents WHERE doc_id < 25),
      |toks AS (
      | SELECT doc_id,
      |  list_filter(string_split_regex(lower(text), '\s+'), t -> len(t) > 0) AS ts
      | FROM planted),
      |grams AS (
      | SELECT doc_id,
      |  list_distinct(list_transform(
      |    range(1, greatest(len(ts) - 3, 0) + 2),
      |    i -> array_to_string(ts[i:i+2], ' '))) AS gs
      | FROM toks),
      |inv AS (SELECT doc_id, len(gs) AS ng, unnest(gs) AS gram FROM grams),
      |pairs AS (
      | SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.ng AS na, b.ng AS nb,
      |        CAST(count(*) AS DOUBLE) AS shared
      | FROM inv a JOIN inv b ON a.gram = b.gram AND a.doc_id < b.doc_id
      | GROUP BY 1, 2, 3, 4)
      |SELECT id_a, id_b, shared / (na + nb - shared) AS jaccard
      |FROM pairs WHERE shared / (na + nb - shared) >= 0.5
      |ORDER BY id_a, id_b""".stripMargin

  /** ids only: LSH recall is exactly 1.0 here (identical vectors agree on
    * every sign bit, so every band collides; the max natural pairwise
    * cosine in this corpus is ~0.51, far under the 0.95 threshold), which
    * makes the exact all-pairs oracle replayable. The cosine VALUE is
    * excluded: accumulation width (float vs double) differs per engine.
    */
  def dedupEmbedding(s: SparkSession, d: String): DataFrame =
    Dedup.embeddingPairs(plantedEmbeddings(s, d), "embedding", "vec_id", dim = 64)
      .select("id_a", "id_b")
      .orderBy("id_a", "id_b")

  private val dedupEmbeddingOracle =
    """WITH planted AS (
      | SELECT vec_id, embedding FROM embeddings
      | UNION ALL
      | SELECT vec_id + 100000 AS vec_id, embedding FROM embeddings WHERE vec_id < 25)
      |SELECT a.vec_id AS id_a, b.vec_id AS id_b
      |FROM planted a JOIN planted b ON a.vec_id < b.vec_id
      |WHERE list_cosine_similarity(a.embedding, b.embedding) >= 0.95
      |ORDER BY id_a, id_b""".stripMargin

  /** SemDedup-style cluster dedup over planted embeddings: identical
    * vectors land in the same cluster deterministically (same cosine to
    * every centroid, same id tiebreak), so every planted copy drops and
    * every natural vector survives (max natural pairwise cosine ~0.51,
    * far under 0.95). The oracle replays the ENTIRE pipeline — hash-
    * sampled centroids, argmax assignment, in-cluster pairs, greedy
    * drop — because the centroid sample key is ANSI-expressible (as s2).
    */
  def semDedup(s: SparkSession, d: String): DataFrame =
    Dedup.semDedup(plantedEmbeddings(s, d), "embedding", "vec_id", nlist = 20)
      .select(col("cid").as("vec_id"), col("cluster_id"))
      .orderBy("vec_id")

  private val semDedupOracle =
    """WITH planted AS (
      | SELECT vec_id, embedding FROM embeddings
      | UNION ALL
      | SELECT vec_id + 100000 AS vec_id, embedding FROM embeddings WHERE vec_id < 25),
      |c AS (SELECT vec_id AS cid, embedding AS v FROM planted),
      |cent AS (
      | SELECT cid AS centroid_id, v AS cv FROM (
      |  SELECT cid, v, row_number() OVER (
      |    ORDER BY (cid * 2654435761) % 2147483647, cid) AS rn FROM c) t
      | WHERE rn <= 20),
      |assigned AS (
      | SELECT cid, v, centroid_id AS cluster_id FROM (
      |  SELECT c.cid, c.v, cent.centroid_id, row_number() OVER (
      |    PARTITION BY c.cid
      |    ORDER BY list_cosine_similarity(c.v, cent.cv) DESC, cent.centroid_id) AS rn
      |  FROM c CROSS JOIN cent) t
      | WHERE rn = 1),
      |dropped AS (
      | SELECT DISTINCT b.cid AS id_b
      | FROM assigned a JOIN assigned b
      |   ON a.cluster_id = b.cluster_id AND a.cid < b.cid
      | WHERE list_cosine_similarity(a.v, b.v) >= 0.95)
      |SELECT cid AS vec_id, cluster_id
      |FROM assigned WHERE cid NOT IN (SELECT id_b FROM dropped)
      |ORDER BY vec_id""".stripMargin

  /** Latest order per customer — upsert-compaction via max_by partial
    * aggregation (one candidate per key per partition crosses the
    * shuffle, versus the row_number window the oracle uses, which
    * shuffles every row — same answer, different scale shape). */
  def latestByKey(s: SparkSession, d: String): DataFrame =
    Dedup.latestByKey(Tables.orders(s, d),
        keys = Seq("o_custkey"), order = Seq("o_orderdate", "o_orderkey"))
      .orderBy("o_custkey")

  private val latestByKeyOracle =
    """SELECT o_custkey, o_orderkey, o_orderstatus, o_totalprice,
      | o_orderdate, o_orderpriority
      |FROM (SELECT *, row_number() OVER (PARTITION BY o_custkey
      |       ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn FROM orders) t
      |WHERE rn = 1 ORDER BY o_custkey""".stripMargin

  /** Connected components over a deterministic chain graph (edges
    * vec_id→vec_id+1 wherever vec_id%10<3 ⇒ 4-node chains {10k..10k+3}):
    * min-label propagation must converge to the chain head. The oracle
    * replays reachability with a recursive CTE — transitivity itself is
    * what's checked, which the greedy pair-drop cannot express. */
  def dedupComponents(s: SparkSession, d: String): DataFrame = {
    val ids = Tables.embeddings(s, d).select(col("vec_id"))
    val pairs = ids.where(col("vec_id") % 10 < 3)
      .select(col("vec_id").as("id_a"), (col("vec_id") + 1).as("id_b"))
    Dedup.connectedComponents(pairs).orderBy("id")
  }

  private val dedupComponentsOracle =
    """WITH RECURSIVE pairs AS (
      | SELECT vec_id AS a, vec_id + 1 AS b FROM embeddings WHERE vec_id % 10 < 3),
      |edges AS (SELECT a, b FROM pairs UNION SELECT b, a FROM pairs),
      |reach AS (
      | SELECT a AS id, a AS r FROM edges
      | UNION
      | SELECT e.b, reach.r FROM reach JOIN edges e ON e.a = reach.id)
      |SELECT id, min(r) AS component FROM reach GROUP BY id ORDER BY id""".stripMargin

  /** pk11: contrastive-batch construction under dedup constraints
    * (Packing.contrastiveBatches) — near-dup cluster members must never
    * share a batch, or in-batch negative sampling draws false
    * negatives. Clusters come from the d10 chain fixture's connected
    * components (4-node chains), singletons keep their own id; with 16
    * batches the constraint is satisfiable and the modular assignment
    * is deterministic, so the oracle replays components (recursive
    * CTE), the cluster join, and the (cluster + i − 1) mod 16
    * arithmetic end to end. */
  def contrastiveBatchesGate(s: SparkSession, d: String): DataFrame = {
    val ids = Tables.embeddings(s, d).select(col("vec_id"))
    val pairs = ids.where(col("vec_id") % 10 < 3)
      .select(col("vec_id").as("id_a"), (col("vec_id") + 1).as("id_b"))
    val comp = Dedup.connectedComponents(pairs)
    val members = ids.join(comp, ids("vec_id") === comp("id"), "left")
      .select(col("vec_id").as("id"),
        coalesce(col("component"), col("vec_id")).as("cluster"))
    graft.ext.Packing.contrastiveBatches(members, "id", "cluster",
        nBatches = 16)
      .orderBy("id")
  }

  private val contrastiveBatchesOracle =
    """WITH RECURSIVE pairs AS (
      | SELECT vec_id AS a, vec_id + 1 AS b FROM embeddings WHERE vec_id % 10 < 3),
      |edges AS (SELECT a, b FROM pairs UNION SELECT b, a FROM pairs),
      |reach AS (
      | SELECT a AS id, a AS r FROM edges
      | UNION
      | SELECT e.b, reach.r FROM reach JOIN edges e ON e.a = reach.id),
      |comp AS (SELECT id, min(r) AS component FROM reach GROUP BY id),
      |members AS (
      | SELECT e.vec_id AS id, coalesce(c.component, e.vec_id) AS cluster
      | FROM embeddings e LEFT JOIN comp c ON c.id = e.vec_id),
      |rn AS (
      | SELECT id, cluster,
      |  row_number() OVER (PARTITION BY cluster ORDER BY id) AS i
      | FROM members)
      |SELECT id, cluster, CAST((cluster + i - 1) % 16 AS BIGINT) AS batch_id
      |FROM rn ORDER BY id""".stripMargin

  /** Connected components over LONG chains (edges vec_id→vec_id+1 within
    * each block of 50 ⇒ 50-node chains, diameter 49): the large-star/
    * small-star alternation must converge in O(log n) rounds where plain
    * min-label propagation would need one round per hop. Same
    * recursive-CTE reachability oracle as d10 — the semantics don't
    * change with the algorithm, only the round complexity does. */
  def dedupComponentsChain(s: SparkSession, d: String): DataFrame = {
    val ids = Tables.embeddings(s, d).select(col("vec_id"))
    val pairs = ids.where(col("vec_id") % 50 < 49)
      .select(col("vec_id").as("id_a"), (col("vec_id") + 1).as("id_b"))
    Dedup.connectedComponentsStar(pairs, maxIter = 20).orderBy("id")
  }

  private val dedupComponentsChainOracle =
    """WITH RECURSIVE pairs AS (
      | SELECT vec_id AS a, vec_id + 1 AS b FROM embeddings WHERE vec_id % 50 < 49),
      |edges AS (SELECT a, b FROM pairs UNION SELECT b, a FROM pairs),
      |reach AS (
      | SELECT a AS id, a AS r FROM edges
      | UNION
      | SELECT e.b, reach.r FROM reach JOIN edges e ON e.a = reach.id)
      |SELECT id, min(r) AS component FROM reach GROUP BY id ORDER BY id""".stripMargin

  /** Directed containment pairs at 95% (Dedup.containmentPairs): every
    * planted copy CONTAINS its original exactly (C = 1.0 — all the
    * original's grams survive the append), while Jaccard-style symmetric
    * scores dilute; long docs also contain their own planted variant.
    * Full inverted-index replay, both directions. */
  def dedupContainment(s: SparkSession, d: String): DataFrame =
    Dedup.containmentPairs(plantedDocs(s, d), "text", "doc_id",
        thresholdPct = 95)
      .orderBy("id_a", "id_b")

  private val dedupContainmentOracle =
    """WITH planted AS (
      | SELECT doc_id, text FROM documents
      | UNION ALL
      | SELECT doc_id + 100000 AS doc_id, text || ' zz' AS text
      | FROM documents WHERE doc_id < 25),
      |toks AS (
      | SELECT doc_id,
      |  list_filter(string_split_regex(lower(text), '\s+'), t -> len(t) > 0) AS ts
      | FROM planted),
      |grams AS (
      | SELECT doc_id,
      |  list_distinct(list_transform(
      |    range(1, greatest(len(ts) - 3, 0) + 2),
      |    i -> array_to_string(ts[i:i+2], ' '))) AS gs
      | FROM toks),
      |inv AS (SELECT doc_id, len(gs) AS ng, unnest(gs) AS gram FROM grams),
      |pairs AS (
      | SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.ng AS na, b.ng AS nb,
      |        count(*) AS shared
      | FROM inv a JOIN inv b ON a.gram = b.gram AND a.doc_id < b.doc_id
      | GROUP BY 1, 2, 3, 4),
      |dir AS (
      | SELECT id_a, id_b, na AS nc, shared FROM pairs
      | UNION ALL
      | SELECT id_b, id_a, nb, shared FROM pairs)
      |SELECT id_a, id_b, CAST(shared AS DOUBLE) / nc AS containment
      |FROM dir WHERE shared * 100 >= 95 * nc
      |ORDER BY id_a, id_b""".stripMargin

  /** Keep-BEST transitive dedup (Dedup.dropFromPairsKeepBest): 10-node
    * chains where the champion is the max pseudo-quality (vec_id·37 mod
    * 101), min-id on ties — deliberately NOT the min-id the plain drop
    * would keep. Oracle: recursive-CTE components + per-component
    * ranking. */
  def dedupKeepBest(s: SparkSession, d: String): DataFrame = {
    val df = Tables.embeddings(s, d)
      .select(col("vec_id"), pmod(col("vec_id") * 37, lit(101)).as("q"))
    val pairs = df.where(col("vec_id") % 10 < 9)
      .select(col("vec_id").as("id_a"), (col("vec_id") + 1).as("id_b"))
    Dedup.dropFromPairsKeepBest(df, "vec_id", pairs, col("q"))
      .orderBy("vec_id")
  }

  private val dedupKeepBestOracle =
    """WITH RECURSIVE qv AS (
      | SELECT vec_id, (vec_id * 37) % 101 AS q FROM embeddings),
      |pairs AS (
      | SELECT vec_id AS a, vec_id + 1 AS b FROM embeddings
      | WHERE vec_id % 10 < 9),
      |edges AS (SELECT a, b FROM pairs UNION SELECT b, a FROM pairs),
      |reach AS (
      | SELECT a AS id, a AS r FROM edges
      | UNION
      | SELECT e.b, reach.r FROM reach JOIN edges e ON e.a = reach.id),
      |comp AS (SELECT id, min(r) AS component FROM reach GROUP BY id),
      |champ AS (
      | SELECT id FROM (
      |  SELECT comp.id, row_number() OVER (PARTITION BY component
      |    ORDER BY qv.q DESC, comp.id) AS rn
      |  FROM comp JOIN qv ON qv.vec_id = comp.id) WHERE rn = 1)
      |SELECT vec_id, q FROM qv
      |WHERE vec_id NOT IN (SELECT id FROM comp)
      |UNION ALL
      |SELECT qv.vec_id, qv.q FROM qv JOIN champ ON champ.id = qv.vec_id
      |ORDER BY vec_id""".stripMargin

  // ------------------------------------------------------- similarity

  private def corpus(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d).select(col("vec_id").as("cid"), col("embedding").as("cvec"))

  private def queriesDf(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d).where(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))

  /** Rank-only output: cosine values are float-accumulation-sensitive
    * across engines, the ordering is not (random embeddings, gaps ≫ ulp).
    */
  def knnBruteForce(s: SparkSession, d: String): DataFrame =
    Similarity.bruteForceTopK(corpus(s, d), queriesDf(s, d), k = 5)
      .select(col("query_id"), col("rank"), col("corpus_id"))
      .orderBy("query_id", "rank")

  private val knnOracle =
    """SELECT query_id, rank, corpus_id FROM (
      | SELECT q.vec_id AS query_id, c.vec_id AS corpus_id,
      |  CAST(row_number() OVER (
      |    PARTITION BY q.vec_id
      |    ORDER BY list_cosine_similarity(q.embedding, c.embedding) DESC, c.vec_id) AS BIGINT) AS rank
      | FROM embeddings q JOIN embeddings c ON c.vec_id <> q.vec_id
      | WHERE q.vec_id < 10) t
      |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin

  /** s20: hard-negative mining (Similarity.hardNegatives, the DPR
    * recipe) — top-5 most-similar CROSS-LABEL neighbors per query
    * vector; rank-only output under the s1 ordering-stability
    * contract. */
  def hardNegativesGate(s: SparkSession, d: String): DataFrame =
    Similarity.hardNegatives(
        Tables.embeddings(s, d).select(col("vec_id").as("cid"),
          col("embedding").as("cvec"), col("label").as("clab")),
        Tables.embeddings(s, d).where(col("vec_id") < 10)
          .select(col("vec_id").as("qid"), col("embedding").as("qvec"),
            col("label").as("qlab")),
        k = 5)
      .select(col("query_id"), col("rank"), col("corpus_id"))
      .orderBy("query_id", "rank")

  /** s21: hard-negative mining served from the PERSISTED IVF-PQ index
    * (AnnIndex.mineHardNegatives) — the training-set-scale shape: the
    * query side is a distributed relation (never broadcast, PlanSpec
    * pins it), probes come from the codegen'd TopCentroids projection,
    * and the cross-label filter applies before the ADC rerank cut. At
    * full probing (nprobe = nlist = 20) with rerank wider than the
    * corpus the mined answer must equal s20's brute-force cross-label
    * oracle exactly. */
  def minedNegativesGate(s: SparkSession, d: String): DataFrame = {
    val root = java.nio.file.Files.createTempDirectory("graft_s21_")
      .resolve("ann_index").toString
    graft.ext.AnnIndex.buildIvfPq(corpus(s, d), dim = 64, nlist = 20,
      root = root, m = 8, codes = 16, refineIters = 2)
    graft.ext.AnnIndex.mineHardNegatives(s, root,
        Tables.embeddings(s, d).where(col("vec_id") < 10)
          .select(col("vec_id").as("qid"), col("embedding").as("qvec"),
            col("label").as("qlab")),
        Tables.embeddings(s, d).select(col("vec_id").as("cid"),
          col("label").as("clab")),
        k = 5, nprobe = 20, rerank = 2100)
      .select(col("query_id"), col("rank"), col("corpus_id"))
      .orderBy("query_id", "rank")
  }

  private val hardNegativesOracle =
    """SELECT query_id, rank, corpus_id FROM (
      | SELECT q.vec_id AS query_id, c.vec_id AS corpus_id,
      |  CAST(row_number() OVER (
      |    PARTITION BY q.vec_id
      |    ORDER BY list_cosine_similarity(q.embedding, c.embedding) DESC, c.vec_id) AS BIGINT) AS rank
      | FROM embeddings q JOIN embeddings c ON c.label <> q.label
      | WHERE q.vec_id < 10) t
      |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin

  /** Radius search (ext Similarity.rangeSearch): every neighbor within
    * cosine >= 0.2 — the SET of qualifying pairs compared (ids only,
    * the s1 rank-not-score discipline); both engines accumulate the
    * dot product sequentially in double, and the threshold sits far
    * from any realized similarity's ulp neighborhood on this corpus. */
  def rangeSearch(s: SparkSession, d: String): DataFrame =
    Similarity.rangeSearch(corpus(s, d), queriesDf(s, d), minCosine = 0.2)
      .select(col("query_id"), col("corpus_id"))
      .orderBy("query_id", "corpus_id")

  private val rangeSearchOracle =
    """SELECT q.vec_id AS query_id, c.vec_id AS corpus_id
      |FROM embeddings q JOIN embeddings c ON c.vec_id <> q.vec_id
      |WHERE q.vec_id < 10
      | AND list_cosine_similarity(q.embedding, c.embedding) >= 0.2
      |ORDER BY query_id, corpus_id""".stripMargin

  /** Hybrid BM25 + dense retrieval fused by reciprocal-rank fusion
    * (Similarity.hybridTopK): one external query — terms for the
    * lexical side, embedding vec_id 3 for the dense side (doc ids and
    * vec ids are aligned in the synthetic corpus). rrf_e9 is exact
    * integer (1e9 div (60 + rank) per list), so the gate hash-matches;
    * the component ranks carry the s1/t11 ordering-stability
    * contracts. */
  def hybridRrf(s: SparkSession, d: String): DataFrame =
    Similarity.hybridTopK(Tables.documents(s, d), "text", "doc_id",
        termQuery = Seq("spark", "hash", "join"),
        corpus = corpus(s, d),
        queryVec = queriesDf(s, d).where(col("qid") === 3),
        k = 10, kLex = 50, kDense = 50)
      .orderBy("doc_id")

  /** s15: the hybrid SERVE path — same fusion as s14 but the dense
    * list comes from the IVF tier (Similarity.ivfTopK at nprobe =
    * nlist, which probes every bucket and therefore equals brute force
    * exactly — the s5 contract), composed through
    * Similarity.hybridFromLists. Same oracle as s14: swapping the
    * dense retriever at exact settings must change nothing. */
  def hybridRrfIvf(s: SparkSession, d: String): DataFrame = {
    val dense = Similarity.ivfTopK(corpus(s, d),
        queriesDf(s, d).where(col("qid") === 3), k = 50,
        nlist = 20, nprobe = 20, excludeSelf = false)
      .select(col("corpus_id").as("doc_id"), col("rank").as("dense_rank"))
    Similarity.hybridFromLists(
        Similarity.bm25RankedList(Tables.documents(s, d), "text", "doc_id",
          Seq("spark", "hash", "join"), kLex = 50),
        dense, "doc_id", k = 10)
      .orderBy("doc_id")
  }

  /** s16: the ANN ladder's RECALL EVALUATION (Similarity.recallReport)
    * — per-query recall@5 of the genuinely-approximate IVF tier
    * (nlist 20, nprobe 5: probes 25% of buckets, the s2 settings)
    * against exact brute force. Recall is exact integer ppm, and BOTH
    * component pipelines are ANSI-replayable (the s2 centroid-hash
    * contract), so the tuning metric itself hash-matches — no float
    * tolerance anywhere. */
  def annRecall(s: SparkSession, d: String): DataFrame =
    Similarity.recallReport(
        Similarity.ivfTopK(corpus(s, d), queriesDf(s, d), k = 5,
          nlist = 20, nprobe = 5),
        Similarity.bruteForceTopK(corpus(s, d), queriesDf(s, d), k = 5))
      .orderBy("query_id")

  private val annRecallOracle =
    """WITH c AS (SELECT vec_id AS cid, embedding AS v FROM embeddings),
      |q AS (SELECT cid AS qid, v AS qv FROM c WHERE cid < 10),
      |cent AS (
      | SELECT cid AS centroid_id, v AS cv FROM (
      |  SELECT cid, v, row_number() OVER (
      |    ORDER BY (cid * 2654435761) % 2147483647, cid) AS rn FROM c) t
      | WHERE rn <= 20),
      |assigned AS (
      | SELECT cid, v, centroid_id FROM (
      |  SELECT c.cid, c.v, cent.centroid_id, row_number() OVER (
      |    PARTITION BY c.cid
      |    ORDER BY list_cosine_similarity(c.v, cent.cv) DESC, cent.centroid_id) AS rn
      |  FROM c CROSS JOIN cent) t
      | WHERE rn = 1),
      |probes AS (
      | SELECT qid, qv, centroid_id FROM (
      |  SELECT q.qid, q.qv, cent.centroid_id, row_number() OVER (
      |    PARTITION BY q.qid
      |    ORDER BY list_cosine_similarity(q.qv, cent.cv) DESC, cent.centroid_id) AS rn
      |  FROM q CROSS JOIN cent) t
      | WHERE rn <= 5),
      |ivf AS (
      | SELECT qid AS query_id, cid AS corpus_id FROM (
      |  SELECT qid, cid, row_number() OVER (
      |    PARTITION BY qid
      |    ORDER BY list_cosine_similarity(qv, v) DESC, cid) AS rank
      |  FROM probes JOIN assigned USING (centroid_id)
      |  WHERE cid <> qid) t
      | WHERE rank <= 5),
      |brute AS (
      | SELECT query_id, corpus_id FROM (
      |  SELECT q.qid AS query_id, c.cid AS corpus_id, row_number() OVER (
      |    PARTITION BY q.qid
      |    ORDER BY list_cosine_similarity(q.qv, c.v) DESC, c.cid) AS rank
      |  FROM q JOIN c ON c.cid <> q.qid) t
      | WHERE rank <= 5),
      |hit AS (
      | SELECT b.query_id, count(*) AS n_hit
      | FROM brute b JOIN ivf i
      |  ON i.query_id = b.query_id AND i.corpus_id = b.corpus_id
      | GROUP BY 1),
      |kk AS (SELECT query_id, count(*) AS k FROM brute GROUP BY 1)
      |SELECT kk.query_id, CAST(kk.k AS BIGINT) AS k,
      | CAST(coalesce(hit.n_hit, 0) AS BIGINT) AS n_hit,
      | CAST(coalesce(hit.n_hit, 0) * 1000000 // kk.k AS BIGINT) AS recall_ppm
      |FROM kk LEFT JOIN hit USING (query_id) ORDER BY query_id""".stripMargin

  /** s28: ANN recall CURVE over nprobe ∈ {1, 2, 5, 10, 20} in ONE
    * corpus pass (Similarity.recallCurve — the d22 multi-n trick
    * applied to the s16 recall measurement): every tier's candidate
    * set is a prefix of the same probe order, so one serve at
    * nprobe=20 with probe-rank tags derives the whole tuning curve.
    * Per (query, nprobe) recall in exact integer ppm; non-decreasing
    * in nprobe per query by construction (spec pins it). The oracle
    * replays the ranked probe list, the tier join, each tier's top-k,
    * and the recall fold end to end. */
  def annRecallCurve(s: SparkSession, d: String): DataFrame =
    Similarity.recallCurve(corpus(s, d), queriesDf(s, d), k = 5,
        nlist = 20, nprobes = Seq(1, 2, 5, 10, 20))
      .orderBy("query_id", "nprobe")

  private val annRecallCurveOracle =
    """WITH c AS (SELECT vec_id AS cid, embedding AS v FROM embeddings),
      |q AS (SELECT cid AS qid, v AS qv FROM c WHERE cid < 10),
      |cent AS (
      | SELECT cid AS centroid_id, v AS cv FROM (
      |  SELECT cid, v, row_number() OVER (
      |    ORDER BY (cid * 2654435761) % 2147483647, cid) AS rn FROM c) t
      | WHERE rn <= 20),
      |assigned AS (
      | SELECT cid, v, centroid_id FROM (
      |  SELECT c.cid, c.v, cent.centroid_id, row_number() OVER (
      |    PARTITION BY c.cid
      |    ORDER BY list_cosine_similarity(c.v, cent.cv) DESC, cent.centroid_id) AS rn
      |  FROM c CROSS JOIN cent) t
      | WHERE rn = 1),
      |probes AS (
      | SELECT qid, qv, centroid_id, rn AS prank FROM (
      |  SELECT q.qid, q.qv, cent.centroid_id, row_number() OVER (
      |    PARTITION BY q.qid
      |    ORDER BY list_cosine_similarity(q.qv, cent.cv) DESC, cent.centroid_id) AS rn
      |  FROM q CROSS JOIN cent) t
      | WHERE rn <= 20),
      |tiers AS (SELECT unnest([1, 2, 5, 10, 20]) AS nprobe),
      |cand AS (
      | SELECT p.qid, a.cid, list_cosine_similarity(p.qv, a.v) AS sim,
      |  p.prank
      | FROM probes p JOIN assigned a USING (centroid_id)
      | WHERE a.cid <> p.qid),
      |ivf AS (
      | SELECT qid, cid, nprobe FROM (
      |  SELECT cd.qid, cd.cid, t.nprobe, row_number() OVER (
      |    PARTITION BY cd.qid, t.nprobe ORDER BY cd.sim DESC, cd.cid) AS rank
      |  FROM cand cd JOIN tiers t ON cd.prank <= t.nprobe) x
      | WHERE rank <= 5),
      |brute AS (
      | SELECT query_id, corpus_id FROM (
      |  SELECT q.qid AS query_id, c.cid AS corpus_id, row_number() OVER (
      |    PARTITION BY q.qid
      |    ORDER BY list_cosine_similarity(q.qv, c.v) DESC, c.cid) AS rank
      |  FROM q JOIN c ON c.cid <> q.qid) t
      | WHERE rank <= 5),
      |hit AS (
      | SELECT b.query_id, i.nprobe, count(*) AS n_hit
      | FROM brute b JOIN ivf i
      |  ON i.qid = b.query_id AND i.cid = b.corpus_id
      | GROUP BY 1, 2),
      |kk AS (SELECT query_id, count(*) AS k FROM brute GROUP BY 1)
      |SELECT kk.query_id, CAST(t.nprobe AS BIGINT) AS nprobe,
      | CAST(kk.k AS BIGINT) AS k,
      | CAST(coalesce(h.n_hit, 0) AS BIGINT) AS n_hit,
      | CAST(coalesce(h.n_hit, 0) * 1000000 // kk.k AS BIGINT)
      |   AS recall_ppm
      |FROM kk CROSS JOIN tiers t
      |LEFT JOIN hit h ON h.query_id = kk.query_id AND h.nprobe = t.nprobe
      |ORDER BY kk.query_id, t.nprobe""".stripMargin

  /** s24: FULL retrieval-quality evaluation (Similarity.evalRetrieval)
    * — recall/precision/MRR/MAP@10 of the genuinely-approximate IVF
    * tier (nlist 20, nprobe 5 — the s2/s16 serve settings) against
    * exact brute-force top-3 judgments. Every metric is an exact
    * integer ppm derived from RANKS (the ordering-stability contract
    * s1 pins), so the whole evaluation report hash-matches an oracle
    * that re-derives the IVF probe, the exact judgments, and the
    * metric folds end to end — the s16 recall gate widened to the
    * standard IR panel. */
  def retrievalEval(s: SparkSession, d: String): DataFrame =
    Similarity.evalRetrieval(
        Similarity.ivfTopK(corpus(s, d), queriesDf(s, d), k = 10,
          nlist = 20, nprobe = 5),
        Similarity.bruteForceTopK(corpus(s, d), queriesDf(s, d), k = 3),
        kEval = 10)
      .orderBy("query_id")

  private[queries] val retrievalEvalOracle =
    """WITH c AS (SELECT vec_id AS cid, embedding AS v FROM embeddings),
      |q AS (SELECT cid AS qid, v AS qv FROM c WHERE cid < 10),
      |cent AS (
      | SELECT cid AS centroid_id, v AS cv FROM (
      |  SELECT cid, v, row_number() OVER (
      |    ORDER BY (cid * 2654435761) % 2147483647, cid) AS rn FROM c) t
      | WHERE rn <= 20),
      |assigned AS (
      | SELECT cid, v, centroid_id FROM (
      |  SELECT c.cid, c.v, cent.centroid_id, row_number() OVER (
      |    PARTITION BY c.cid
      |    ORDER BY list_cosine_similarity(c.v, cent.cv) DESC, cent.centroid_id) AS rn
      |  FROM c CROSS JOIN cent) t
      | WHERE rn = 1),
      |probes AS (
      | SELECT qid, qv, centroid_id FROM (
      |  SELECT q.qid, q.qv, cent.centroid_id, row_number() OVER (
      |    PARTITION BY q.qid
      |    ORDER BY list_cosine_similarity(q.qv, cent.cv) DESC, cent.centroid_id) AS rn
      |  FROM q CROSS JOIN cent) t
      | WHERE rn <= 5),
      |ivf AS (
      | SELECT qid AS query_id, cid AS corpus_id, rank FROM (
      |  SELECT qid, cid, row_number() OVER (
      |    PARTITION BY qid
      |    ORDER BY list_cosine_similarity(qv, v) DESC, cid) AS rank
      |  FROM probes JOIN assigned USING (centroid_id)
      |  WHERE cid <> qid) t
      | WHERE rank <= 10),
      |brute AS (
      | SELECT query_id, corpus_id FROM (
      |  SELECT q.qid AS query_id, c.cid AS corpus_id, row_number() OVER (
      |    PARTITION BY q.qid
      |    ORDER BY list_cosine_similarity(q.qv, c.v) DESC, c.cid) AS rank
      |  FROM q JOIN c ON c.cid <> q.qid) t
      | WHERE rank <= 3),
      |hs AS (
      | SELECT i.query_id, i.rank, row_number() OVER (
      |   PARTITION BY i.query_id ORDER BY i.rank) AS j
      | FROM ivf i JOIN brute b
      |  ON b.query_id = i.query_id AND b.corpus_id = i.corpus_id),
      |agg AS (
      | SELECT query_id, count(*) AS n_hit, min(rank) AS first_rank,
      |  sum(j * 1000000 // rank) AS ap_num
      | FROM hs GROUP BY 1),
      |nr AS (SELECT query_id, count(*) AS n_rel FROM brute GROUP BY 1)
      |SELECT nr.query_id, CAST(nr.n_rel AS BIGINT) AS n_rel,
      | CAST(coalesce(a.n_hit, 0) AS BIGINT) AS n_hit,
      | CAST(coalesce(a.n_hit, 0) * 1000000 // nr.n_rel AS BIGINT)
      |   AS recall_ppm,
      | CAST(coalesce(a.n_hit, 0) * 1000000 // 10 AS BIGINT)
      |   AS precision_ppm,
      | CAST(coalesce(1000000 // a.first_rank, 0) AS BIGINT) AS rr_ppm,
      | CAST(coalesce(a.ap_num // nr.n_rel, 0) AS BIGINT) AS ap_ppm
      |FROM nr LEFT JOIN agg a USING (query_id)
      |ORDER BY query_id""".stripMargin

  /** s25: margin-based bitext mining (Similarity.marginMine — Artetxe
    * & Schwenk's ratio margin, the CCMatrix recipe): sources = even
    * vec_ids, targets = odd, k = 4 neighborhoods on each side,
    * forward-top-1 candidates kept at margin ≥ 1.05. PAIR-ONLY output
    * (the s1 rank-only rule: raw cosine/margin doubles are
    * float-accumulation-sensitive across engines; the margin VALUES
    * are spec-verified against a driver-side replica, the kept SET is
    * what the gate pins — threshold decisions sit far above ulp
    * noise on non-adversarial data, the d5 threshold contract). */
  def bitextMargin(s: SparkSession, d: String): DataFrame = {
    val e = graft.Tables.embeddings(s, d)
    Similarity.marginMine(
        e.where(col("vec_id") % 2 === 0)
          .select(col("vec_id").as("sid"), col("embedding").as("svec")),
        e.where(col("vec_id") % 2 === 1)
          .select(col("vec_id").as("tid"), col("embedding").as("tvec")),
        k = 4, minMargin = 1.05)
      .select(col("src_id"), col("tgt_id"))
      .orderBy("src_id")
  }

  private[queries] val bitextMarginOracle =
    """WITH c AS (SELECT vec_id AS id, embedding AS v FROM embeddings),
      |s AS (SELECT id AS sid, v AS sv FROM c WHERE id % 2 = 0),
      |t AS (SELECT id AS tid, v AS tv FROM c WHERE id % 2 = 1),
      |fwd AS (
      | SELECT sid, tid, cos, rank FROM (
      |  SELECT s.sid, t.tid, list_cosine_similarity(s.sv, t.tv) AS cos,
      |   row_number() OVER (PARTITION BY s.sid
      |     ORDER BY list_cosine_similarity(s.sv, t.tv) DESC, t.tid) AS rank
      |  FROM s CROSS JOIN t) x WHERE rank <= 4),
      |bwd AS (
      | SELECT tid, sid, cos, rank FROM (
      |  SELECT t.tid, s.sid, list_cosine_similarity(t.tv, s.sv) AS cos,
      |   row_number() OVER (PARTITION BY t.tid
      |     ORDER BY list_cosine_similarity(t.tv, s.sv) DESC, s.sid) AS rank
      |  FROM t CROSS JOIN s) x WHERE rank <= 4),
      |ss AS (SELECT sid, sum(CAST(cos AS DECIMAL(38,18))) AS ssum
      | FROM fwd GROUP BY 1),
      |ts AS (SELECT tid, sum(CAST(cos AS DECIMAL(38,18))) AS tsum
      | FROM bwd GROUP BY 1),
      |best AS (SELECT sid, tid, cos FROM fwd WHERE rank = 1)
      |SELECT b.sid AS src_id, b.tid AS tgt_id
      |FROM best b JOIN ss USING (sid) JOIN ts USING (tid)
      |WHERE b.cos * 8.0 / CAST(ss.ssum + ts.tsum AS DOUBLE) >= 1.05
      |ORDER BY src_id""".stripMargin

  /** s26: bitext mining AT TRAINING-CORPUS SCALE — the s25 fold with
    * BOTH directions served from persisted IVF-PQ indexes through the
    * distributed-query tier (AnnIndex.mineTopK: the s21 serve shape
    * without the label filter — neither side is ever broadcast or
    * collected, so source and target corpora can both be
    * training-corpus-sized). At full probing with rerank covering the
    * candidates the served lists equal brute force exactly, so the
    * kept pair set must hash-match the s25 oracle — the s20→s21
    * equality pattern applied to pair mining. */
  def bitextMarginIndexed(s: SparkSession, d: String): DataFrame = {
    val e = graft.Tables.embeddings(s, d)
    val src = e.where(col("vec_id") % 2 === 0)
      .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
    val tgt = e.where(col("vec_id") % 2 === 1)
      .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
    val base = java.nio.file.Files.createTempDirectory("graft_s26_")
    val srcRoot = base.resolve("src_idx").toString
    val tgtRoot = base.resolve("tgt_idx").toString
    graft.ext.AnnIndex.buildIvfPq(src, dim = 64, nlist = 8,
      root = srcRoot, m = 8, codes = 16)
    graft.ext.AnnIndex.buildIvfPq(tgt, dim = 64, nlist = 8,
      root = tgtRoot, m = 8, codes = 16)
    val fwd = graft.ext.AnnIndex.mineTopK(s, tgtRoot,
      src.select(col("cid").as("qid"), col("cvec").as("qvec")),
      k = 4, nprobe = 8, rerank = 5000)
    val bwd = graft.ext.AnnIndex.mineTopK(s, srcRoot,
      tgt.select(col("cid").as("qid"), col("cvec").as("qvec")),
      k = 4, nprobe = 8, rerank = 5000)
    Similarity.marginFromLists(fwd, bwd, k = 4, minMargin = 1.05)
      .select(col("src_id"), col("tgt_id"))
      .orderBy("src_id")
  }

  /** s27: bitext mining at REAL pruned serve settings, reported as
    * measured kept-pair recall vs the s25 full-probing answer — the
    * s22/s23 recall-ladder discipline applied to pair MINING: each
    * side indexes at the capacity rule (nlist = ⌊√N⌋ of that side,
    * nprobe = max(1, nlist/4) — the s19/s23 knobs), both directions
    * serve through AnnIndex.mineTopK at rerank 100, and the margin
    * fold keeps pairs at the s25 threshold. The report is ONE row
    * (n_exact, n_approx, n_hit, recall_ppm) whose oracle replays BOTH
    * tiers end to end — the pruned PQ pipelines, the count-aware
    * margin folds, the exact s25 answer, and the recall join — so the
    * measurement itself is hash-exact. An eager floor guards the
    * number: this pipeline is exact-integer end to end over a fixed
    * corpus, so a breach is a code regression, not noise. */
  def bitextMinedRecall(s: SparkSession, d: String): DataFrame = {
    val e = graft.Tables.embeddings(s, d)
    val src = e.where(col("vec_id") % 2 === 0)
      .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
    val tgt = e.where(col("vec_id") % 2 === 1)
      .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
    val base = java.nio.file.Files.createTempDirectory("graft_s27_")
    val srcRoot = base.resolve("src_idx").toString
    val tgtRoot = base.resolve("tgt_idx").toString
    def knobs(n: Long): (Int, Int) = {
      val nlist = math.max(1, math.floor(math.sqrt(n.toDouble)).toInt)
      (nlist, math.max(1, nlist / 4))
    }
    val (nlistS, nprobeS) = knobs(src.count())
    val (nlistT, nprobeT) = knobs(tgt.count())
    graft.ext.AnnIndex.buildIvfPq(src, dim = 64, nlist = nlistS,
      root = srcRoot, m = 8, codes = 16)
    graft.ext.AnnIndex.buildIvfPq(tgt, dim = 64, nlist = nlistT,
      root = tgtRoot, m = 8, codes = 16)
    val fwd = graft.ext.AnnIndex.mineTopK(s, tgtRoot,
      src.select(col("cid").as("qid"), col("cvec").as("qvec")),
      k = 4, nprobe = nprobeT, rerank = 100)
    val bwd = graft.ext.AnnIndex.mineTopK(s, srcRoot,
      tgt.select(col("cid").as("qid"), col("cvec").as("qvec")),
      k = 4, nprobe = nprobeS, rerank = 100)
    val approx = Similarity.marginFromLists(fwd, bwd, k = 4,
      minMargin = 1.05).select(col("src_id"), col("tgt_id"))
    val exact = Similarity.marginMine(
      src.select(col("cid").as("sid"), col("cvec").as("svec")),
      tgt.select(col("cid").as("tid"), col("cvec").as("tvec")),
      k = 4, minMargin = 1.05).select(col("src_id"), col("tgt_id"))
    val report = exact.agg(count(lit(1)).as("n_exact"))
      .crossJoin(approx.agg(count(lit(1)).as("n_approx")))
      .crossJoin(exact.join(approx, Seq("src_id", "tgt_id"), "left_semi")
        .agg(count(lit(1)).as("n_hit")))
      .select(col("n_exact"), col("n_approx"), col("n_hit"),
        expr("n_hit * 1000000L div n_exact").as("recall_ppm"))
      .transform(Scale.materialize)
    // measured kept-pair recall at the pruned knobs: 385869 ppm
    // (sf0.001: 71/184 exact pairs survive, 197 mined) and 465517 ppm
    // (sf0.01: 81/174, 206 mined) — in line with the s22/s23 mined
    // ladder at the same rule; the floor sits conservatively below
    // both readings
    val m = report.head
    require(m.getAs[Long]("recall_ppm") >= 300000L,
      s"bitextMinedRecall: kept-pair recall ${m.getAs[Long]("recall_ppm")}" +
        " ppm fell below the 300000 ppm floor — the pruned mining serve" +
        " regressed")
    report
  }

  /** ONE pruned IVF-PQ serve replay shared by the MINED oracles
    * (s20/s22/s23 — `crossLabel = true` adds the DPR cross-label
    * filter) and the unlabeled mineTopK replays (s27) — the round-13
    * dedup of two 50-line near-copies that would otherwise drift
    * apart. `corpusSql` yields (cid, v[, label]); `querySql`
    * (qid, qv[, qlab]) and may reference the corpus CTE `c`; knob SQL
    * is evaluated against `c`. Output: (query_id, corpus_id, cos,
    * rank), rank <= `k`. */
  private[queries] def ivfPqServeSql(corpusSql: String, querySql: String,
      nlist: String, nprobe: String, rerank: String, k: String,
      crossLabel: Boolean): String = {
    val qlabSel = if (crossLabel) ", qlab" else ""
    val qlabPass = if (crossLabel) ", q.qlab" else ""
    val labelJoin =
      if (crossLabel) "\n | JOIN c cl ON cl.cid = e.cid\n | WHERE cl.label <> p.qlab"
      else ""
    s"""WITH c AS ($corpusSql),
      |q AS ($querySql),
      |cent AS (
      | SELECT cid AS centroid_id, v AS cv FROM (
      |  SELECT cid, v, row_number() OVER (
      |    ORDER BY (cid * 2654435761) % 2147483647, cid) AS rn FROM c) t
      | WHERE rn <= $nlist),
      |assigned AS (
      | SELECT cid, centroid_id FROM (
      |  SELECT c.cid, cent.centroid_id, row_number() OVER (
      |    PARTITION BY c.cid
      |    ORDER BY list_cosine_similarity(c.v, cent.cv) DESC, cent.centroid_id) AS rn
      |  FROM c CROSS JOIN cent) t
      | WHERE rn = 1),
      |cb AS (
      | SELECT rn - 1 AS code, v FROM (
      |  SELECT v, row_number() OVER (
      |    ORDER BY (cid * 2654435761) % 2147483647, cid) AS rn FROM c) t
      | WHERE rn <= 16),
      |ms AS (SELECT unnest(range(0, 8)) AS mi),
      |enc AS (
      | SELECT cid, mi, code FROM (
      |  SELECT c.cid, ms.mi, cb.code, row_number() OVER (
      |    PARTITION BY c.cid, ms.mi
      |    ORDER BY list_aggregate(list_transform(range(1, 9), j ->
      |      (CAST(c.v[ms.mi * 8 + j] AS DOUBLE) - CAST(cb.v[ms.mi * 8 + j] AS DOUBLE))
      |      * (CAST(c.v[ms.mi * 8 + j] AS DOUBLE) - CAST(cb.v[ms.mi * 8 + j] AS DOUBLE))),
      |      'sum'), cb.code) AS rn
      |  FROM c CROSS JOIN ms CROSS JOIN cb) t
      | WHERE rn = 1),
      |probes AS (
      | SELECT qid, qv$qlabSel, centroid_id FROM (
      |  SELECT q.qid, q.qv$qlabPass, cent.centroid_id, row_number() OVER (
      |    PARTITION BY q.qid
      |    ORDER BY list_cosine_similarity(q.qv, cent.cv) DESC, cent.centroid_id) AS rn
      |  FROM q CROSS JOIN cent) t
      | WHERE rn <= $nprobe),
      |adc AS (
      | SELECT e.cid, p.qid,
      |  sum(list_aggregate(list_transform(range(1, 9), j ->
      |    CAST(p.qv[e.mi * 8 + j] AS DOUBLE) * CAST(cb.v[e.mi * 8 + j] AS DOUBLE)),
      |    'sum')) AS score
      | FROM probes p
      | JOIN assigned a USING (centroid_id)
      | JOIN enc e ON e.cid = a.cid
      | JOIN cb USING (code)$labelJoin
      | GROUP BY e.cid, p.qid),
      |cand AS (
      | SELECT qid, cid FROM (
      |  SELECT qid, cid,
      |   row_number() OVER (PARTITION BY qid ORDER BY score DESC, cid) AS rn
      |  FROM adc) t WHERE rn <= $rerank)
      |SELECT query_id, corpus_id, cos, rank FROM (
      | SELECT ca.qid AS query_id, ca.cid AS corpus_id,
      |  list_cosine_similarity(q.qv, c.v) AS cos,
      |  CAST(row_number() OVER (PARTITION BY ca.qid
      |    ORDER BY list_cosine_similarity(q.qv, c.v) DESC, ca.cid) AS BIGINT) AS rank
      | FROM cand ca JOIN c ON c.cid = ca.cid JOIN q ON q.qid = ca.qid) t
      |WHERE rank <= $k""".stripMargin
  }

  /** Directional pruned mineTopK replay for the s27 oracle —
    * [[ivfPqServeSql]] without the label filter. */
  private def prunedMineTopKSql(corpusSql: String, querySql: String,
      nlist: String, nprobe: String, rerank: String, k: String): String =
    ivfPqServeSql(corpusSql, querySql, nlist, nprobe, rerank, k,
      crossLabel = false)

  private lazy val bitextMinedRecallOracle: String = {
    val srcSql = "SELECT vec_id AS cid, embedding AS v FROM embeddings" +
      " WHERE vec_id % 2 = 0"
    val tgtSql = "SELECT vec_id AS cid, embedding AS v FROM embeddings" +
      " WHERE vec_id % 2 = 1"
    val srcQ = "SELECT vec_id AS qid, embedding AS qv FROM embeddings" +
      " WHERE vec_id % 2 = 0"
    val tgtQ = "SELECT vec_id AS qid, embedding AS qv FROM embeddings" +
      " WHERE vec_id % 2 = 1"
    val nlistSql = "(SELECT CAST(floor(sqrt(count(*))) AS BIGINT) FROM c)"
    val nprobeSql =
      "(SELECT greatest(1, CAST(floor(sqrt(count(*))) AS BIGINT) // 4) FROM c)"
    val fwdSql = prunedMineTopKSql(tgtSql, srcQ, nlistSql, nprobeSql,
      "100", "4")
    val bwdSql = prunedMineTopKSql(srcSql, tgtQ, nlistSql, nprobeSql,
      "100", "4")
    s"""WITH fwd AS ($fwdSql),
      |bwd AS ($bwdSql),
      |ss AS (SELECT query_id AS sid, sum(CAST(cos AS DECIMAL(38,18))) AS ssum,
      |  count(*) AS scnt FROM fwd GROUP BY 1),
      |ts AS (SELECT query_id AS tid, sum(CAST(cos AS DECIMAL(38,18))) AS tsum,
      |  count(*) AS tcnt FROM bwd GROUP BY 1),
      |best AS (SELECT query_id AS sid, corpus_id AS tid, cos
      |  FROM fwd WHERE rank = 1),
      |approx AS (
      | SELECT b.sid AS src_id, b.tid AS tgt_id
      | FROM best b JOIN ss USING (sid) JOIN ts USING (tid)
      | WHERE b.cos * CAST(ss.scnt + ts.tcnt AS DOUBLE)
      |   / CAST(ss.ssum + ts.tsum AS DOUBLE) >= 1.05),
      |exact AS ($bitextMarginOracle),
      |hit AS (
      | SELECT count(*) AS n_hit FROM exact e
      | JOIN approx a ON a.src_id = e.src_id AND a.tgt_id = e.tgt_id)
      |SELECT CAST((SELECT count(*) FROM exact) AS BIGINT) AS n_exact,
      | CAST((SELECT count(*) FROM approx) AS BIGINT) AS n_approx,
      | CAST(n_hit AS BIGINT) AS n_hit,
      | CAST(n_hit * 1000000 // (SELECT count(*) FROM exact) AS BIGINT)
      |   AS recall_ppm
      |FROM hit""".stripMargin
  }

  /** s17: hybrid retrieval AT SCALE SETTINGS — same fusion as s14/s15
    * but the dense list comes from the IVF tier at nprobe 5 < nlist 20
    * (genuinely approximate, the real serve configuration). No
    * tolerance contract is needed: the multiplicative-hash centroid
    * sample keeps the WHOLE approximate pipeline ANSI-replayable, so
    * the fused list hash-matches an oracle that re-derives BM25, the
    * IVF probe, and the integer RRF fold end to end. Closes the
    * round-9 "hybrid at scale" backlog item exactly. */
  def hybridRrfApprox(s: SparkSession, d: String): DataFrame = {
    val dense = Similarity.ivfTopK(corpus(s, d),
        queriesDf(s, d).where(col("qid") === 3), k = 50,
        nlist = 20, nprobe = 5, excludeSelf = false)
      .select(col("corpus_id").as("doc_id"), col("rank").as("dense_rank"))
    Similarity.hybridFromLists(
        Similarity.bm25RankedList(Tables.documents(s, d), "text", "doc_id",
          Seq("spark", "hash", "join"), kLex = 50),
        dense, "doc_id", k = 10)
      .orderBy("doc_id")
  }

  /** s18: per-tier RECALL FLOOR gates for the QUANTIZED serve tiers at
    * their REAL serve settings — the empirical speed/recall ladder a
    * 100 TB deployment tunes against, measured (not assumed) for every
    * lossy tier: IVF-PQ (s8's nprobe 5 / rerank 20), IVF-SQ8 (s13's
    * settings), and flat SQ8 (s12's rerank cut). s16 established the
    * recall METRIC for the IVF tier; this pins the quantized tiers,
    * each against the same brute-force top-5, and ENFORCES a per-tier
    * mean-recall floor eagerly (an index whose recall collapses fails
    * the gate even before the hash compare — the regression a quantizer
    * bug causes first). Both pipelines stay ANSI-replayable, so the
    * recall numbers themselves hash-match the oracle, which re-derives
    * all three approximate lists, the exact list, and the integer ppm
    * recall end to end. Scale shape: recall is computed on RESULT
    * lists (Q·k rows), never corpora — the report is broadcast-scale
    * regardless of corpus size. */
  def recallFloors(s: SparkSession, d: String): DataFrame = {
    val c = corpus(s, d)
    val q = queriesDf(s, d)
    // one exact list serves all three tier comparisons: Q·k rows
    val brute = Scale.materialize(Similarity.bruteForceTopK(c, q, k = 5))
    def rep(tier: String, approx: DataFrame): DataFrame =
      Similarity.recallReport(approx, brute)
        .select(lit(tier).as("tier"), col("query_id"), col("k"),
          col("n_hit"), col("recall_ppm"))
    val report = rep("ivfpq", Similarity.ivfPqTopK(c, q, k = 5, dim = 64,
        nlist = 20, nprobe = 5, m = 8, codes = 16, rerank = 20))
      .unionAll(rep("ivfsq8", Similarity.ivfSq8TopK(c, q, k = 5,
        nlist = 20, nprobe = 5, rerank = 20)))
      .unionAll(rep("sq8", Similarity.sq8TopK(c, q, k = 5, rerank = 20)))
      .orderBy("tier", "query_id")
      .transform(Scale.materialize)
    // Floors: conservative bounds under the MEASURED mean recall at
    // sf0.001/0.01/0.1 (exact-integer pipelines — recall per SF is
    // deterministic, so a breach is a code regression, not noise).
    // Measured means: sq8 1.0M ppm at every SF (flat scan + exact
    // rerank loses nothing at these settings); ivfsq8 460k-600k;
    // ivfpq 140k-400k, DECAYING with corpus size — the ladder's
    // central tuning fact: at fixed nlist=20 the buckets grow with
    // the corpus while nprobe=5 and rerank=20 stay fixed, so a real
    // deployment must scale nlist ~ sqrt(N) (and nprobe with it) to
    // hold recall; this gate measures that decay instead of assuming
    // the tier "works".
    val floors = Map("ivfpq" -> 100000L, "ivfsq8" -> 400000L,
      "sq8" -> 950000L)
    val means = report.groupBy(col("tier"))
      .agg(sum(col("recall_ppm")).as("s"), count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1) / r.getLong(2))
      .toMap
    floors.foreach { case (tier, floor) =>
      require(means.getOrElse(tier, 0L) >= floor,
        s"recallFloors: tier '$tier' mean recall " +
          s"${means.getOrElse(tier, 0L)} ppm fell below the $floor ppm " +
          "floor — the quantized serve path regressed")
    }
    report
  }

  /** s19: IVF-PQ recall at CAPACITY-SCALED settings — the follow-on to
    * s18's measured decay: at fixed nlist the tier degrades as the
    * corpus grows, so a real deployment scales nlist ~ sqrt(N) (and
    * the probe budget with it). This gate derives nlist =
    * floor(sqrt(N)) and nprobe = max(1, nlist/4) FROM THE CORPUS
    * ITSELF (both engines compute the same IEEE sqrt — correctly
    * rounded, so the floor is deterministic), serves IVF-PQ at those
    * settings, and pins per-query recall@5 vs brute force, plus an
    * eager mean-recall floor ABOVE the fixed-settings tier's worst
    * reading — scaling the knobs must actually recover recall. The
    * oracle replays the whole pipeline with the knobs as scalar
    * subqueries of the same corpus. */
  def recallScaled(s: SparkSession, d: String): DataFrame = {
    val c = corpus(s, d)
    val q = queriesDf(s, d)
    val n = c.count()
    val nlist = math.max(1, math.floor(math.sqrt(n.toDouble)).toInt)
    val nprobe = math.max(1, nlist / 4)
    val report = Similarity.recallReport(
        Similarity.ivfPqTopK(c, q, k = 5, dim = 64, nlist = nlist,
          nprobe = nprobe, m = 8, codes = 16, rerank = 100),
        Similarity.bruteForceTopK(c, q, k = 5))
      .orderBy("query_id")
      .transform(Scale.materialize)
    val m = report.agg(sum(col("recall_ppm")).as("s"),
      count(lit(1)).as("n")).head
    val mean = m.getLong(0) / m.getLong(1)
    // measured: 580k (sf0.001, nlist 14), 440k (sf0.01, nlist 45),
    // 420k (sf0.1, nlist 144) — roughly SF-stable across a 100x corpus
    // (rerank 100 pays the 16-code codebook's ADC coarseness), vs the
    // fixed-settings tier's 400k -> 140k collapse (SCALEPROBE_r10
    // recall_ladder)
    require(mean >= 300000L,
      s"recallScaled: mean recall $mean ppm under the 300000 floor — " +
        "the capacity-scaled serve path regressed")
    report
  }

  private val scaledNlistSql =
    "(SELECT CAST(floor(sqrt(count(*))) AS BIGINT) FROM c)"
  private val scaledNprobeSql =
    "(SELECT greatest(1, CAST(floor(sqrt(count(*))) AS BIGINT) // 4) FROM c)"

  private lazy val recallScaledOracle =
    s"""WITH brute AS (SELECT query_id, corpus_id FROM ($knnOracle) b),
       |kk AS (SELECT query_id, count(*) AS k FROM brute GROUP BY 1)
       |SELECT query_id, CAST(kk.k AS BIGINT) AS k,
       | CAST(coalesce(h.n_hit, 0) AS BIGINT) AS n_hit,
       | CAST(coalesce(h.n_hit, 0) * 1000000 // kk.k AS BIGINT)
       |   AS recall_ppm
       |FROM kk LEFT JOIN (
       | SELECT b.query_id, count(*) AS n_hit FROM brute b
       | JOIN (${ivfPqOracleWith(scaledNlistSql, scaledNprobeSql, "100")}) a
       |  ON a.query_id = b.query_id AND a.corpus_id = b.corpus_id
       | GROUP BY 1) h USING (query_id)
       |ORDER BY query_id""".stripMargin

  private def tierRecallSql(tier: String, approxSql: String): String =
    s"""SELECT '$tier' AS tier, kk.query_id, kk.k, coalesce(h.n_hit, 0) AS n_hit
       |FROM kk LEFT JOIN (
       | SELECT b.query_id, count(*) AS n_hit FROM brute b
       | JOIN ($approxSql) a
       |  ON a.query_id = b.query_id AND a.corpus_id = b.corpus_id
       | GROUP BY 1) h USING (query_id)""".stripMargin

  private[queries] lazy val recallFloorsOracle =
    s"""WITH brute AS (SELECT query_id, corpus_id FROM ($knnOracle) b),
       |kk AS (SELECT query_id, count(*) AS k FROM brute GROUP BY 1)
       |SELECT tier, query_id, CAST(k AS BIGINT) AS k,
       | CAST(n_hit AS BIGINT) AS n_hit,
       | CAST(n_hit * 1000000 // k AS BIGINT) AS recall_ppm
       |FROM (${tierRecallSql("ivfpq", knnIvfPqOracle)}
       |UNION ALL ${tierRecallSql("ivfsq8", knnIvfSq8Oracle)}
       |UNION ALL ${tierRecallSql("sq8", knnSq8Oracle)}) t
       |ORDER BY tier, query_id""".stripMargin

  private val hybridRrfApproxOracle =
    """WITH toks AS (
      | SELECT doc_id, unnest(list_filter(
      |   string_split_regex(lower(text), '\s+'), t -> len(t) > 0)) AS term
      | FROM documents),
      |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
      |dld AS (
      | SELECT doc_id, term, tf, sum(tf) OVER (PARTITION BY doc_id) AS dl
      | FROM tf),
      |c AS (
      | SELECT CAST(count(DISTINCT doc_id) AS HUGEINT) AS n,
      |        CAST(sum(tf) AS HUGEINT) AS t FROM tf),
      |q AS (
      | SELECT doc_id, term, CAST(tf AS HUGEINT) AS tf,
      |        CAST(dl AS HUGEINT) AS dl,
      |        CAST(count(*) OVER (PARTITION BY term) AS HUGEINT) AS df
      | FROM dld WHERE term IN ('spark', 'hash', 'join')),
      |sc AS (
      | SELECT doc_id,
      |  (22000000 * tf * t * (2 * (n - df) + 1))
      |   // ((10 * t * tf + 3 * t + 9 * dl * n) * (2 * df + 1)) AS term_score
      | FROM q, c),
      |lexall AS (
      | SELECT doc_id, sum(term_score) AS score FROM sc GROUP BY doc_id),
      |lex AS (
      | SELECT doc_id, CAST(row_number() OVER (
      |   ORDER BY score DESC, doc_id) AS BIGINT) AS lex_rank
      | FROM lexall ORDER BY score DESC, doc_id LIMIT 50),
      |cvec AS (SELECT vec_id AS cid, embedding AS v FROM embeddings),
      |cent AS (
      | SELECT cid AS centroid_id, v AS cv FROM (
      |  SELECT cid, v, row_number() OVER (
      |    ORDER BY (cid * 2654435761) % 2147483647, cid) AS rn FROM cvec) t
      | WHERE rn <= 20),
      |assigned AS (
      | SELECT cid, v, centroid_id FROM (
      |  SELECT cvec.cid, cvec.v, cent.centroid_id, row_number() OVER (
      |    PARTITION BY cvec.cid
      |    ORDER BY list_cosine_similarity(cvec.v, cent.cv) DESC, cent.centroid_id) AS rn
      |  FROM cvec CROSS JOIN cent) t
      | WHERE rn = 1),
      |qv3 AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings
      |        WHERE vec_id = 3),
      |probes AS (
      | SELECT qid, qv, centroid_id FROM (
      |  SELECT qv3.qid, qv3.qv, cent.centroid_id, row_number() OVER (
      |    ORDER BY list_cosine_similarity(qv3.qv, cent.cv) DESC, cent.centroid_id) AS rn
      |  FROM qv3 CROSS JOIN cent) t
      | WHERE rn <= 5),
      |dense AS (
      | SELECT doc_id, dense_rank FROM (
      |  SELECT cid AS doc_id, CAST(row_number() OVER (
      |    ORDER BY list_cosine_similarity(qv, v) DESC, cid) AS BIGINT) AS dense_rank
      |  FROM probes JOIN assigned USING (centroid_id)) t
      | WHERE dense_rank <= 50),
      |fused AS (
      | SELECT coalesce(lex.doc_id, dense.doc_id) AS doc_id,
      |  lex.lex_rank, dense.dense_rank,
      |  coalesce(1000000000 // (60 + lex.lex_rank), 0)
      |   + coalesce(1000000000 // (60 + dense.dense_rank), 0) AS rrf_e9
      | FROM lex FULL JOIN dense ON lex.doc_id = dense.doc_id)
      |SELECT doc_id, CAST(rrf_e9 AS BIGINT) AS rrf_e9, lex_rank, dense_rank
      |FROM (SELECT * FROM fused ORDER BY rrf_e9 DESC, doc_id LIMIT 10) z
      |ORDER BY doc_id""".stripMargin

  private[queries] val hybridRrfOracle =
    """WITH toks AS (
      | SELECT doc_id, unnest(list_filter(
      |   string_split_regex(lower(text), '\s+'), t -> len(t) > 0)) AS term
      | FROM documents),
      |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
      |dld AS (
      | SELECT doc_id, term, tf, sum(tf) OVER (PARTITION BY doc_id) AS dl
      | FROM tf),
      |c AS (
      | SELECT CAST(count(DISTINCT doc_id) AS HUGEINT) AS n,
      |        CAST(sum(tf) AS HUGEINT) AS t FROM tf),
      |q AS (
      | SELECT doc_id, term, CAST(tf AS HUGEINT) AS tf,
      |        CAST(dl AS HUGEINT) AS dl,
      |        CAST(count(*) OVER (PARTITION BY term) AS HUGEINT) AS df
      | FROM dld WHERE term IN ('spark', 'hash', 'join')),
      |sc AS (
      | SELECT doc_id,
      |  (22000000 * tf * t * (2 * (n - df) + 1))
      |   // ((10 * t * tf + 3 * t + 9 * dl * n) * (2 * df + 1)) AS term_score
      | FROM q, c),
      |lexall AS (
      | SELECT doc_id, sum(term_score) AS score FROM sc GROUP BY doc_id),
      |lex AS (
      | SELECT doc_id, CAST(row_number() OVER (
      |   ORDER BY score DESC, doc_id) AS BIGINT) AS lex_rank
      | FROM lexall ORDER BY score DESC, doc_id LIMIT 50),
      |dense AS (
      | SELECT doc_id, dense_rank FROM (
      |  SELECT cc.vec_id AS doc_id, CAST(row_number() OVER (
      |    ORDER BY list_cosine_similarity(qq.embedding, cc.embedding) DESC,
      |    cc.vec_id) AS BIGINT) AS dense_rank
      |  FROM embeddings cc,
      |   (SELECT embedding FROM embeddings WHERE vec_id = 3) qq) t
      | WHERE dense_rank <= 50),
      |fused AS (
      | SELECT coalesce(lex.doc_id, dense.doc_id) AS doc_id,
      |  lex.lex_rank, dense.dense_rank,
      |  coalesce(1000000000 // (60 + lex.lex_rank), 0)
      |   + coalesce(1000000000 // (60 + dense.dense_rank), 0) AS rrf_e9
      | FROM lex FULL JOIN dense ON lex.doc_id = dense.doc_id)
      |SELECT doc_id, CAST(rrf_e9 AS BIGINT) AS rrf_e9, lex_rank, dense_rank
      |FROM (SELECT * FROM fused ORDER BY rrf_e9 DESC, doc_id LIMIT 10) z
      |ORDER BY doc_id""".stripMargin

  /** s31: hybrid RRF served ENTIRELY from the persisted indexes
    * ([[graft.ext.Similarity.hybridFromPersisted]]) — the production
    * retrieval shape that closes the r15/r16 capability gap: the
    * lexical side comes from a pre-opened [[graft.ext.Bm25Index]]
    * handle (build → open → append → TAKEDOWN all through the handle,
    * the t60 staleness discipline) and the dense side from a
    * pre-opened [[graft.ext.AnnIndex]] IVF-PQ handle with its own
    * takedown markers — BOTH sides have deletions applied
    * (doc_id/vec_id % 7 == 1, a modulus no other gate uses), and the
    * fused top-10 must hash-match the oracle's RRF over a fresh BM25
    * ranking and a fresh exact-cosine ranking each restricted to the
    * REMAINING corpus: a marker leak on either side (candidates, df,
    * the N/T stats fold, the encoded-table anti-join) is a row diff.
    * Dense side exact by the s9 full-probing contract (nprobe = nlist,
    * rerank ≥ corpus). PlanSpec pins the serve plan: term filter
    * pushed to the postings scan, both marker tables broadcast
    * anti-joined, never shuffled. */
  def hybridPersisted(s: SparkSession, d: String): DataFrame = {
    val base = java.nio.file.Files.createTempDirectory("graft_s31_")
    val bmRoot = base.resolve("bm25_idx").toString
    val annRoot = base.resolve("ann_idx").toString
    val docs = Tables.documents(s, d)
    graft.ext.Bm25Index.build(bmRoot, docs.where(col("doc_id") < 250),
      "text", "doc_id")
    graft.ext.AnnIndex.buildIvfPq(corpus(s, d), dim = 64, nlist = 20,
      root = annRoot, m = 8, codes = 16, refineIters = 2)
    val bm = graft.ext.Bm25Index.open(s, bmRoot)
    val ann = graft.ext.AnnIndex.open(s, annRoot)
    bm.append(docs.where(col("doc_id") >= 250), "text", "doc_id")
    bm.delete(docs.where(col("doc_id") % 7 === 1).select(col("doc_id")),
      "doc_id")
    graft.ext.AnnIndex.deleteFromIvfPq(s, annRoot,
      Tables.embeddings(s, d).where(col("vec_id") % 7 === 1)
        .select(col("vec_id").as("cid")))
    Similarity.hybridFromPersisted(bm, ann, Seq("spark", "hash", "join"),
        queriesDf(s, d).where(col("qid") === 3),
        nprobe = 20, rerank = 2100)
      .orderBy("doc_id")
  }

  /** The s14 oracle with BOTH component corpora restricted to the
    * remaining (post-takedown) rows — text-derived from
    * [[hybridRrfOracle]] with eager guards so a reworded base oracle
    * cannot silently un-restrict a side (the t57 pattern). */
  private lazy val hybridPersistedOracle = {
    val lexCut = hybridRrfOracle.replace("FROM documents)",
      "FROM documents WHERE doc_id % 7 <> 1)")
    require(lexCut != hybridRrfOracle, "s31 oracle: lexical corpus " +
      "restriction failed to apply — hybridRrfOracle text changed?")
    val bothCut = lexCut.replace("FROM embeddings cc,",
      "FROM (SELECT vec_id, embedding FROM embeddings " +
        "WHERE vec_id % 7 <> 1) cc,")
    require(bothCut != lexCut, "s31 oracle: dense corpus restriction " +
      "failed to apply — hybridRrfOracle text changed?")
    bothCut
  }

  /** The s32 query batch: five queries, each a 2-term lexical side
    * ('spark' + one frequent synthetic-vocab word) and the embedding
    * of vec_id = qid as the dense side. Shared by the gate and its
    * oracle text so they cannot drift. */
  private val mineTermQueries: Seq[(Long, String)] = {
    val w = Seq("row", "batch", "scan", "column", "filter")
    (0 until 5).flatMap(q => Seq(q.toLong -> "spark", q.toLong -> w(q)))
  }

  /** s32: hybrid retrieval MINING from both persisted indexes
    * ([[graft.ext.Similarity.hybridMineFromPersisted]] — the
    * training-set-scale closure of s31): FIVE queries flow as
    * relations through the batch lexical serve
    * (Bm25Index.searchMany, one pass of the vocabulary-filtered live
    * postings) and the distributed dense mining path
    * (AnnIndex.mineTopK — bucket joins, queries never broadcast),
    * with takedowns applied on BOTH indexes (doc_id/vec_id % 8 == 3,
    * a modulus no other gate uses), fused per query by exact-integer
    * RRF. Every query's 10-deep fused list must hash-match the
    * oracle's per-query replay over the remaining corpora — a marker
    * leak, a batch-df divergence from per-query df, or a rank window
    * crossing query boundaries is a row diff. Dense side exact by the
    * s9 full-probing contract. */
  def hybridMinePersisted(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_s32_")
    val bmRoot = base.resolve("bm25_idx").toString
    val annRoot = base.resolve("ann_idx").toString
    val docs = Tables.documents(s, d)
    graft.ext.Bm25Index.build(bmRoot, docs, "text", "doc_id")
    graft.ext.AnnIndex.buildIvfPq(corpus(s, d), dim = 64, nlist = 20,
      root = annRoot, m = 8, codes = 16, refineIters = 2)
    val bm = graft.ext.Bm25Index.open(s, bmRoot)
    val ann = graft.ext.AnnIndex.open(s, annRoot)
    bm.delete(docs.where(col("doc_id") % 8 === 3).select(col("doc_id")),
      "doc_id")
    graft.ext.AnnIndex.deleteFromIvfPq(s, annRoot,
      Tables.embeddings(s, d).where(col("vec_id") % 8 === 3)
        .select(col("vec_id").as("cid")))
    Similarity.hybridMineFromPersisted(bm, ann,
        mineTermQueries.toDF("qid", "term"),
        Tables.embeddings(s, d).where(col("vec_id") < 5)
          .select(col("vec_id").as("qid"), col("embedding").as("qvec")),
        nprobe = 20, rerank = 2100, k = 10)
      .orderBy("qid", "doc_id")
  }

  private lazy val hybridMineOracle = {
    val values = mineTermQueries
      .map { case (q, t) => s"($q, '$t')" }.mkString(", ")
    s"""WITH qt AS (SELECT * FROM (VALUES $values) AS v(qid, term)),
       |toks AS (
       | SELECT doc_id, unnest(list_filter(
       |   string_split_regex(lower(text), '\\s+'), t -> len(t) > 0)) AS term
       | FROM documents WHERE doc_id % 8 <> 3),
       |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
       |dld AS (
       | SELECT doc_id, term, tf, sum(tf) OVER (PARTITION BY doc_id) AS dl
       | FROM tf),
       |c AS (
       | SELECT CAST(count(DISTINCT doc_id) AS HUGEINT) AS n,
       |        CAST(sum(tf) AS HUGEINT) AS t FROM tf),
       |q AS (
       | SELECT doc_id, term, CAST(tf AS HUGEINT) AS tf,
       |        CAST(dl AS HUGEINT) AS dl,
       |        CAST(count(*) OVER (PARTITION BY term) AS HUGEINT) AS df
       | FROM dld WHERE term IN (SELECT term FROM qt)),
       |sc AS (
       | SELECT qt.qid, q.doc_id,
       |  (22000000 * tf * t * (2 * (n - df) + 1))
       |   // ((10 * t * tf + 3 * t + 9 * dl * n) * (2 * df + 1)) AS term_score
       | FROM q JOIN qt USING (term), c),
       |agg AS (
       | SELECT qid, doc_id, sum(term_score) AS score FROM sc GROUP BY 1, 2),
       |lex AS (
       | SELECT qid, doc_id, lex_rank FROM (
       |  SELECT qid, doc_id, CAST(row_number() OVER (
       |    PARTITION BY qid ORDER BY score DESC, doc_id) AS BIGINT)
       |    AS lex_rank
       |  FROM agg) t WHERE lex_rank <= 50),
       |dense AS (
       | SELECT qid, doc_id, dense_rank FROM (
       |  SELECT qq.vec_id AS qid, cc.vec_id AS doc_id,
       |   CAST(row_number() OVER (PARTITION BY qq.vec_id
       |     ORDER BY list_cosine_similarity(qq.embedding, cc.embedding)
       |       DESC, cc.vec_id) AS BIGINT) AS dense_rank
       |  FROM embeddings qq, embeddings cc
       |  WHERE qq.vec_id < 5 AND cc.vec_id % 8 <> 3) t
       | WHERE dense_rank <= 50),
       |fused AS (
       | SELECT coalesce(lex.qid, dense.qid) AS qid,
       |  coalesce(lex.doc_id, dense.doc_id) AS doc_id,
       |  lex.lex_rank, dense.dense_rank,
       |  coalesce(1000000000 // (60 + lex.lex_rank), 0)
       |   + coalesce(1000000000 // (60 + dense.dense_rank), 0) AS rrf_e9
       | FROM lex FULL JOIN dense
       |  ON lex.qid = dense.qid AND lex.doc_id = dense.doc_id),
       |rkf AS (
       | SELECT qid, doc_id, rrf_e9, lex_rank, dense_rank,
       |  CAST(row_number() OVER (PARTITION BY qid
       |    ORDER BY rrf_e9 DESC, doc_id) AS BIGINT) AS rrf_rank
       | FROM fused)
       |SELECT CAST(qid AS BIGINT) AS qid, doc_id,
       | CAST(rrf_e9 AS BIGINT) AS rrf_e9, lex_rank, dense_rank, rrf_rank
       |FROM rkf WHERE rrf_rank <= 10 ORDER BY qid, doc_id""".stripMargin
  }

  /** Per-label mean embedding (class prototypes): exact scaled-integer
    * sums make the doubles bit-identical to the DuckDB replay — see
    * Vectors.groupCentroids' scaladoc for the shuffle audit. */
  def groupCentroids(s: SparkSession, d: String): DataFrame =
    graft.ext.Vectors.groupCentroids(
        Tables.embeddings(s, d), "label", "embedding")
      .orderBy("label", "dim")

  private val groupCentroidsOracle =
    """WITH e AS (
      | SELECT label, unnest(range(0, len(embedding))) AS dim, embedding
      | FROM embeddings),
      |s AS (
      | SELECT label, dim, count(*) AS n,
      |  sum(CAST(round(CAST(embedding[dim + 1] AS DOUBLE) * 1000000.0)
      |      AS HUGEINT)) AS ssum
      | FROM e GROUP BY label, dim)
      |SELECT label, dim, n,
      | CAST(ssum AS DOUBLE) / 1000000.0 / CAST(n AS DOUBLE) AS mean
      |FROM s ORDER BY label, dim""".stripMargin

  def knnIvf(s: SparkSession, d: String): DataFrame =
    Similarity.ivfTopK(corpus(s, d), queriesDf(s, d), k = 5, nlist = 20, nprobe = 5)
      .select(col("query_id"), col("rank"), col("corpus_id"))
      .orderBy("query_id", "rank")

  /** Full replay of the IVF pipeline — possible because the centroid
    * sample key is the ANSI-expressible multiplicative hash (see
    * Similarity.ivfTopK): DuckDB re-derives centroids, assignment
    * (argmax cosine, centroid_id tiebreak), nprobe probing, and the
    * final in-bucket top-k. Ranks (not cosines) are compared, as in s1.
    */
  private val knnIvfOracle =
    """WITH c AS (SELECT vec_id AS cid, embedding AS v FROM embeddings),
      |q AS (SELECT cid AS qid, v AS qv FROM c WHERE cid < 10),
      |cent AS (
      | SELECT cid AS centroid_id, v AS cv FROM (
      |  SELECT cid, v, row_number() OVER (
      |    ORDER BY (cid * 2654435761) % 2147483647, cid) AS rn FROM c) t
      | WHERE rn <= 20),
      |assigned AS (
      | SELECT cid, v, centroid_id FROM (
      |  SELECT c.cid, c.v, cent.centroid_id, row_number() OVER (
      |    PARTITION BY c.cid
      |    ORDER BY list_cosine_similarity(c.v, cent.cv) DESC, cent.centroid_id) AS rn
      |  FROM c CROSS JOIN cent) t
      | WHERE rn = 1),
      |probes AS (
      | SELECT qid, qv, centroid_id FROM (
      |  SELECT q.qid, q.qv, cent.centroid_id, row_number() OVER (
      |    PARTITION BY q.qid
      |    ORDER BY list_cosine_similarity(q.qv, cent.cv) DESC, cent.centroid_id) AS rn
      |  FROM q CROSS JOIN cent) t
      | WHERE rn <= 5),
      |cand AS (
      | SELECT qid, cid, list_cosine_similarity(qv, v) AS sim
      | FROM probes JOIN assigned USING (centroid_id)
      | WHERE cid <> qid)
      |SELECT query_id, rank, corpus_id FROM (
      | SELECT qid AS query_id, cid AS corpus_id,
      |  CAST(row_number() OVER (PARTITION BY qid ORDER BY sim DESC, cid) AS BIGINT) AS rank
      | FROM cand) t
      |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin

  /** Lloyd-refined IVF under FULL probing: refinement moves centroids
    * (not ANSI-replayable cheaply), but with nprobe = nlist every bucket
    * is searched, so the result must equal exact KNN whatever the
    * centroids are — the whole refined pipeline (Lloyd rounds, exact
    * decimal means, assignment, probing) runs inside the plan and the
    * brute-force oracle checks the end result hash-exactly. Recall
    * improvement per nprobe is covered by KMeansRefineSpec. */
  def knnIvfRefined(s: SparkSession, d: String): DataFrame =
    Similarity.ivfTopK(corpus(s, d), queriesDf(s, d), k = 5, nlist = 20,
        nprobe = 20, refineIters = 2)
      .select(col("query_id"), col("rank"), col("corpus_id"))
      .orderBy("query_id", "rank")

  /** Flat SQ8 (int8 scalar quantization) top-k (ext Similarity.sq8TopK):
    * per-dimension [min,max] stats, byte encode, asymmetric
    * reconstruction-dot scan, rerank-20 exact-cosine cut to top-5. */
  def knnSq8(s: SparkSession, d: String): DataFrame =
    Similarity.sq8TopK(corpus(s, d), queriesDf(s, d), k = 5, rerank = 20)
      .select(col("query_id"), col("rank"), col("corpus_id"))
      .orderBy("query_id", "rank")

  /** Full replay of the SQ8 pipeline: DuckDB re-derives the per-dim
    * min/max stats, the affine byte codes (round clamped to 0..255),
    * the ADC reconstruction dots (ascending-j double sums, the same
    * term form and order as the codegen'd loop), the rerank cut, and
    * the exact-cosine re-rank. Ranks compared, as in s1/s6. */
  private val knnSq8Oracle =
    """WITH c AS (SELECT vec_id AS cid, embedding AS v FROM embeddings),
      |q AS (SELECT cid AS qid, v AS qv FROM c WHERE cid < 10),
      |dims AS (SELECT unnest(range(1, 65)) AS j),
      |st AS (
      | SELECT j, min(CAST(v[j] AS DOUBLE)) AS mn, max(CAST(v[j] AS DOUBLE)) AS mx
      | FROM c CROSS JOIN dims GROUP BY j),
      |mm AS (
      | SELECT list(mn ORDER BY j) AS mns, list(mx ORDER BY j) AS mxs FROM st),
      |enc AS (
      | SELECT cid, list_transform(range(1, 65), j ->
      |   LEAST(255, GREATEST(0, CAST(round(
      |     (CAST(v[j] AS DOUBLE) - mns[j]) * 255 / (mxs[j] - mns[j])) AS BIGINT)))) AS code
      | FROM c CROSS JOIN mm),
      |adc AS (
      | SELECT e.cid, q.qid,
      |  list_aggregate(list_transform(range(1, 65), j ->
      |    CAST(q.qv[j] AS DOUBLE) *
      |    (mns[j] + CAST(e.code[j] AS DOUBLE) * ((mxs[j] - mns[j]) / 255))),
      |    'sum') AS score
      | FROM enc e CROSS JOIN q CROSS JOIN mm
      | WHERE e.cid <> q.qid),
      |cand AS (
      | SELECT qid, cid FROM (
      |  SELECT qid, cid,
      |   row_number() OVER (PARTITION BY qid ORDER BY score DESC, cid) AS rn
      |  FROM adc) t WHERE rn <= 20)
      |SELECT query_id, rank, corpus_id FROM (
      | SELECT ca.qid AS query_id, ca.cid AS corpus_id,
      |  CAST(row_number() OVER (PARTITION BY ca.qid
      |    ORDER BY list_cosine_similarity(q.qv, c.v) DESC, ca.cid) AS BIGINT) AS rank
      | FROM cand ca JOIN c ON c.cid = ca.cid JOIN q ON q.qid = ca.qid) t
      |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin

  def knnPq(s: SparkSession, d: String): DataFrame =
    Similarity.pqTopK(corpus(s, d), queriesDf(s, d), k = 5, dim = 64,
        m = 8, codes = 16, rerank = 20)
      .select(col("query_id"), col("rank"), col("corpus_id"))
      .orderBy("query_id", "rank")

  /** Full replay of the PQ pipeline: DuckDB re-derives the hash-sampled
    * codebook, the per-subspace L2 encode (first-minimum code), the ADC
    * scores (double dots in ascending-j order), the rerank-candidate
    * cut, and the exact-cosine re-rank. Ranks (not scores) are compared,
    * as in s1 — float gaps ≫ ulp on random embeddings. */
  private val knnPqOracle =
    """WITH c AS (SELECT vec_id AS cid, embedding AS v FROM embeddings),
      |q AS (SELECT cid AS qid, v AS qv FROM c WHERE cid < 10),
      |cb AS (
      | SELECT rn - 1 AS code, v FROM (
      |  SELECT v, row_number() OVER (
      |    ORDER BY (cid * 2654435761) % 2147483647, cid) AS rn FROM c) t
      | WHERE rn <= 16),
      |ms AS (SELECT unnest(range(0, 8)) AS mi),
      |enc AS (
      | SELECT cid, mi, code FROM (
      |  SELECT c.cid, ms.mi, cb.code, row_number() OVER (
      |    PARTITION BY c.cid, ms.mi
      |    ORDER BY list_aggregate(list_transform(range(1, 9), j ->
      |      (CAST(c.v[ms.mi * 8 + j] AS DOUBLE) - CAST(cb.v[ms.mi * 8 + j] AS DOUBLE))
      |      * (CAST(c.v[ms.mi * 8 + j] AS DOUBLE) - CAST(cb.v[ms.mi * 8 + j] AS DOUBLE))),
      |      'sum'), cb.code) AS rn
      |  FROM c CROSS JOIN ms CROSS JOIN cb) t
      | WHERE rn = 1),
      |adc AS (
      | SELECT e.cid, q.qid,
      |  sum(list_aggregate(list_transform(range(1, 9), j ->
      |    CAST(q.qv[e.mi * 8 + j] AS DOUBLE) * CAST(cb.v[e.mi * 8 + j] AS DOUBLE)),
      |    'sum')) AS score
      | FROM enc e JOIN cb USING (code) CROSS JOIN q
      | WHERE e.cid <> q.qid
      | GROUP BY e.cid, q.qid),
      |cand AS (
      | SELECT qid, cid FROM (
      |  SELECT qid, cid,
      |   row_number() OVER (PARTITION BY qid ORDER BY score DESC, cid) AS rn
      |  FROM adc) t WHERE rn <= 20)
      |SELECT query_id, rank, corpus_id FROM (
      | SELECT ca.qid AS query_id, ca.cid AS corpus_id,
      |  CAST(row_number() OVER (PARTITION BY ca.qid
      |    ORDER BY list_cosine_similarity(q.qv, c.v) DESC, ca.cid) AS BIGINT) AS rank
      | FROM cand ca JOIN c ON c.cid = ca.cid JOIN q ON q.qid = ca.qid) t
      |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin

  /** Composed IVF-PQ under FULL probing with a rerank cut wider than the
    * corpus: every bucket is probed and every ADC candidate survives to
    * the exact float re-rank, so the whole composed pipeline
    * (Lloyd-refined centroids, NearestCentroid assignment, probing, PQ
    * encode, ADC, re-rank) must equal exact KNN whatever the centroids
    * and codebook quantize to — the brute-force oracle checks the end
    * result hash-exactly (the s5 pattern, now through the PQ path too).
    * Realistic pruning is hash-verified by s8's full replay. */
  def knnIvfPq(s: SparkSession, d: String): DataFrame =
    Similarity.ivfPqTopK(corpus(s, d), queriesDf(s, d), k = 5, dim = 64,
        nlist = 20, nprobe = 20, m = 8, codes = 16, rerank = 2100,
        refineIters = 2)
      .select(col("query_id"), col("rank"), col("corpus_id"))
      .orderBy("query_id", "rank")

  /** Composed IVF-SQ8 under REAL pruning (nprobe 5 of nlist 20) — the
    * in-bucket scorer of s8's architecture swapped from PQ to int8
    * scalar codes; full DuckDB replay of centroids, assignment, probes,
    * SQ8 encode/ADC, rerank cut, and exact re-rank. */
  def knnIvfSq8(s: SparkSession, d: String): DataFrame =
    Similarity.ivfSq8TopK(corpus(s, d), queriesDf(s, d), k = 5,
        nlist = 20, nprobe = 5, rerank = 20)
      .select(col("query_id"), col("rank"), col("corpus_id"))
      .orderBy("query_id", "rank")

  private val knnIvfSq8Oracle =
    """WITH c AS (SELECT vec_id AS cid, embedding AS v FROM embeddings),
      |q AS (SELECT cid AS qid, v AS qv FROM c WHERE cid < 10),
      |cent AS (
      | SELECT cid AS centroid_id, v AS cv FROM (
      |  SELECT cid, v, row_number() OVER (
      |    ORDER BY (cid * 2654435761) % 2147483647, cid) AS rn FROM c) t
      | WHERE rn <= 20),
      |assigned AS (
      | SELECT cid, centroid_id FROM (
      |  SELECT c.cid, cent.centroid_id, row_number() OVER (
      |    PARTITION BY c.cid
      |    ORDER BY list_cosine_similarity(c.v, cent.cv) DESC, cent.centroid_id) AS rn
      |  FROM c CROSS JOIN cent) t
      | WHERE rn = 1),
      |dims AS (SELECT unnest(range(1, 65)) AS j),
      |st AS (
      | SELECT j, min(CAST(v[j] AS DOUBLE)) AS mn, max(CAST(v[j] AS DOUBLE)) AS mx
      | FROM c CROSS JOIN dims GROUP BY j),
      |mm AS (
      | SELECT list(mn ORDER BY j) AS mns, list(mx ORDER BY j) AS mxs FROM st),
      |enc AS (
      | SELECT cid, list_transform(range(1, 65), j ->
      |   LEAST(255, GREATEST(0, CAST(round(
      |     (CAST(v[j] AS DOUBLE) - mns[j]) * 255 / (mxs[j] - mns[j])) AS BIGINT)))) AS code
      | FROM c CROSS JOIN mm),
      |probes AS (
      | SELECT qid, qv, centroid_id FROM (
      |  SELECT q.qid, q.qv, cent.centroid_id, row_number() OVER (
      |    PARTITION BY q.qid
      |    ORDER BY list_cosine_similarity(q.qv, cent.cv) DESC, cent.centroid_id) AS rn
      |  FROM q CROSS JOIN cent) t
      | WHERE rn <= 5),
      |adc AS (
      | SELECT e.cid, p.qid,
      |  list_aggregate(list_transform(range(1, 65), j ->
      |    CAST(p.qv[j] AS DOUBLE) *
      |    (mns[j] + CAST(e.code[j] AS DOUBLE) * ((mxs[j] - mns[j]) / 255))),
      |    'sum') AS score
      | FROM probes p
      | JOIN assigned a USING (centroid_id)
      | JOIN enc e ON e.cid = a.cid
      | CROSS JOIN mm
      | WHERE e.cid <> p.qid),
      |cand AS (
      | SELECT qid, cid FROM (
      |  SELECT qid, cid,
      |   row_number() OVER (PARTITION BY qid ORDER BY score DESC, cid) AS rn
      |  FROM adc) t WHERE rn <= 20)
      |SELECT query_id, rank, corpus_id FROM (
      | SELECT ca.qid AS query_id, ca.cid AS corpus_id,
      |  CAST(row_number() OVER (PARTITION BY ca.qid
      |    ORDER BY list_cosine_similarity(q.qv, c.v) DESC, ca.cid) AS BIGINT) AS rank
      | FROM cand ca JOIN c ON c.cid = ca.cid JOIN q ON q.qid = ca.qid) t
      |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin

  def knnIvfPqReplay(s: SparkSession, d: String): DataFrame =
    Similarity.ivfPqTopK(corpus(s, d), queriesDf(s, d), k = 5, dim = 64,
        nlist = 20, nprobe = 5, m = 8, codes = 16, rerank = 20)
      .select(col("query_id"), col("rank"), col("corpus_id"))
      .orderBy("query_id", "rank")

  /** PERSISTED IVF-PQ index (AnnIndex): build writes centroids +
    * codebook + encoded corpus to disk; the serve path reads ONLY the
    * index (no rebuild, no re-encode). Full probing + corpus-wide
    * rerank makes the served result exact, so the brute-force oracle
    * pins the whole build→persist→load→serve cycle hash-exactly. */
  def knnIvfPqIndex(s: SparkSession, d: String): DataFrame = {
    val root = java.nio.file.Files.createTempDirectory("graft_s9_")
      .resolve("ann_index").toString
    graft.ext.AnnIndex.buildIvfPq(corpus(s, d), dim = 64, nlist = 20,
      root = root, m = 8, codes = 16, refineIters = 2)
    graft.ext.AnnIndex.queryIvfPq(s, root, queriesDf(s, d), k = 5,
        nprobe = 20, rerank = 2100)
      .select(col("query_id"), col("rank"), col("corpus_id"))
      .orderBy("query_id", "rank")
  }

  /** Incremental index append: build on the even-id half only, append
    * the odd half encoded with the SAVED centroids/codebook (one narrow
    * pass over the new rows — the existing encoded table is untouched).
    * Under full probing + corpus-wide rerank the served result must
    * still equal exact KNN over the WHOLE corpus, whatever the
    * even-half-only centroids quantize to. */
  def knnIvfPqAppend(s: SparkSession, d: String): DataFrame = {
    val root = java.nio.file.Files.createTempDirectory("graft_s10_")
      .resolve("ann_index").toString
    val c = corpus(s, d)
    graft.ext.AnnIndex.buildIvfPq(c.where(col("cid") % 2 === 0), dim = 64,
      nlist = 20, root = root, m = 8, codes = 16, refineIters = 2)
    graft.ext.AnnIndex.appendIvfPq(s, root, c.where(col("cid") % 2 === 1))
    graft.ext.AnnIndex.queryIvfPq(s, root, queriesDf(s, d), k = 5,
        nprobe = 20, rerank = 2100)
      .select(col("query_id"), col("rank"), col("corpus_id"))
      .orderBy("query_id", "rank")
  }

  /** s30: index DELETION (takedown / right-to-be-forgotten — the
    * removal leg of the persisted-index lifecycle): build on the full
    * corpus, [[graft.ext.AnnIndex.deleteFromIvfPq]] every third vector
    * (marker table, no rebuild, no re-encode), then serve at FULL
    * probing with a corpus-wide rerank — the answer must equal exact
    * brute-force KNN over the REMAINING corpus (the oracle replays
    * cosine top-k with the deleted ids excluded; a deleted vector
    * surviving any serve stage surfaces as a row diff). Queries that
    * are themselves deleted remain valid queries — deletion removes a
    * vector from the INDEX, not from the caller's query set. */
  def knnIvfPqDelete(s: SparkSession, d: String): DataFrame = {
    val root = java.nio.file.Files.createTempDirectory("graft_s30_")
      .resolve("ann_index").toString
    graft.ext.AnnIndex.buildIvfPq(corpus(s, d), dim = 64, nlist = 20,
      root = root, m = 8, codes = 16, refineIters = 2)
    graft.ext.AnnIndex.deleteFromIvfPq(s, root,
      Tables.embeddings(s, d).where(col("vec_id") % 3 === 0)
        .select(col("vec_id").as("cid")))
    graft.ext.AnnIndex.queryIvfPq(s, root, queriesDf(s, d), k = 5,
        nprobe = 20, rerank = 2100)
      .select(col("query_id"), col("rank"), col("corpus_id"))
      .orderBy("query_id", "rank")
  }

  private val knnDeleteOracle =
    """SELECT query_id, rank, corpus_id FROM (
      | SELECT q.vec_id AS query_id, c.vec_id AS corpus_id,
      |  CAST(row_number() OVER (
      |    PARTITION BY q.vec_id
      |    ORDER BY list_cosine_similarity(q.embedding, c.embedding) DESC, c.vec_id) AS BIGINT) AS rank
      | FROM embeddings q JOIN embeddings c
      |   ON c.vec_id <> q.vec_id AND c.vec_id % 3 <> 0
      | WHERE q.vec_id < 10) t
      |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin

  /** s29: index COMPACTION closes the persisted-index lifecycle
    * (build → append → compact → serve): build on the even half,
    * append the odd half (encoded with the even-half centroids — the
    * s10 drift scenario), then [[graft.ext.AnnIndex.compactIvfPq]]
    * re-trains centroids + codebook from the index's own vectors and
    * re-encodes in place. Because the samples are hash-ordered (arrival-
    * order-independent), the compacted index is bit-identical to a
    * fresh build on the union — so the gate serves at REAL pruned
    * settings (nprobe 5 of nlist 20, rerank 20) and must hash-match
    * the s8 inline-pipeline replay, a far stronger pin than the
    * full-probing equality: the oracle re-derives the exact pruned
    * candidate sets the compacted index yields. */
  def knnIvfPqCompact(s: SparkSession, d: String): DataFrame = {
    val root = java.nio.file.Files.createTempDirectory("graft_s29_")
      .resolve("ann_index").toString
    val c = corpus(s, d)
    graft.ext.AnnIndex.buildIvfPq(c.where(col("cid") % 2 === 0), dim = 64,
      nlist = 20, root = root, m = 8, codes = 16, refineIters = 2)
    graft.ext.AnnIndex.appendIvfPq(s, root, c.where(col("cid") % 2 === 1))
    graft.ext.AnnIndex.compactIvfPq(s, root, nlist = 20, m = 8,
      codes = 16, refineIters = 0, targetPartitions = 4)
    graft.ext.AnnIndex.queryIvfPq(s, root, queriesDf(s, d), k = 5,
        nprobe = 5, rerank = 20)
      .select(col("query_id"), col("rank"), col("corpus_id"))
      .orderBy("query_id", "rank")
  }

  /** Streaming ANN serve: the persisted-index twin of the reference's
    * poll-a-folder pattern for similarity workloads — queries ARRIVE as
    * a stream (two parquet files, maxFilesPerTrigger=1 forces at least
    * two micro-batches) and each micro-batch is served via foreachBatch
    * against the UNCHANGED on-disk index through ONE pre-opened
    * handle (AnnIndex.queryIvfPq over AnnIndex.Opened — zero per-batch
    * metadata jobs; the broadcast-probe plan is the right shape for
    * small query batches). Per-query results are independent
    * of batch placement and exact under full probing, so the combined
    * appended output must equal the batch serve — the same brute-force
    * oracle as s9 pins it. */
  def annServeStream(s: SparkSession, d: String): DataFrame = {
    val base = java.nio.file.Files.createTempDirectory("graft_st14_")
    val root = base.resolve("ann_index").toString
    graft.ext.AnnIndex.buildIvfPq(corpus(s, d), dim = 64, nlist = 20,
      root = root, m = 8, codes = 16, refineIters = 2)
    val idx = graft.ext.AnnIndex.open(s, root)
    val qdir = base.resolve("queries").toString
    val outDir = base.resolve("served").toString
    queriesDf(s, d).repartition(2).write.mode("overwrite").parquet(qdir)
    val src = s.readStream
      .schema(StructType(Seq(
        StructField("qid", LongType),
        StructField("qvec", ArrayType(FloatType)))))
      .option("maxFilesPerTrigger", 1)
      .parquet(qdir)
    val q = src.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        graft.ext.AnnIndex.queryIvfPq(idx, batch, k = 5,
            nprobe = 20, rerank = 2100, excludeSelf = true)
          .write.mode("append").parquet(outDir)
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(300000)
    q.stop()
    s.read.parquet(outDir)
      .select(col("query_id"), col("rank"), col("corpus_id"))
      .orderBy("query_id", "rank")
  }

  /** Write `df` as ONE parquet file into `dir` with a pinned
    * modification time — FileStreamSource orders new files by
    * timestamp, so distinct pinned mtimes make the micro-batch order
    * deterministic (st36's arrival gates dodge ordering via per-row
    * independence; the takedown stream CANNOT: its serves read index
    * state mutated by earlier batches). */
  private def writeOneFile(df: DataFrame, dir: java.nio.file.Path,
      name: String, mtime: Long): Unit = {
    val tmp = java.nio.file.Files.createTempDirectory("graft_onefile_")
    df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    val listing = java.nio.file.Files.list(tmp)
    val part = try listing
        .filter(p => p.getFileName.toString.startsWith("part-"))
        .findFirst().get()
      finally listing.close()
    java.nio.file.Files.createDirectories(dir)
    val dst = dir.resolve(name)
    java.nio.file.Files.move(part, dst)
    dst.toFile.setLastModified(mtime)
    // drop the crc/_SUCCESS leftovers with the temp dir itself — purely
    // cosmetic, so committer residue (e.g. a non-empty _temporary dir
    // from a retried task) must never fail the gate: best-effort only
    try {
      val rest = java.nio.file.Files.list(tmp)
      try rest.filter(p => !java.nio.file.Files.isDirectory(p))
        .forEach(p => java.nio.file.Files.deleteIfExists(p))
      finally rest.close()
      java.nio.file.Files.deleteIfExists(tmp)
    } catch { case _: java.io.IOException => () }
    ()
  }

  /** st37: TAKEDOWN MID-STREAM — the lifecycle leg no other st-gate
    * exercises: [[graft.ext.AnnIndex.appendIvfPq]] AND
    * [[graft.ext.AnnIndex.deleteFromIvfPq]] fire BETWEEN micro-batch
    * serves through ONE pre-[[graft.ext.AnnIndex.open]]ed handle, so a
    * stale `Opened` view of the encoded table (the exact place a cached
    * relation would hide) is a row diff. Batch 1's queries serve
    * against the build-time corpus (the even half); its foreachBatch
    * then appends the odd half and takes down every `cid % 4 == 0`;
    * batch 2's queries must see the mutated index — `Opened.encoded`
    * re-resolves the live view per plan, markers anti-joined. The
    * append + delete run in EVERY batch (an at-least-once replay by
    * construction): duplicated encoded rows collapse in the
    * TopKAggregator serve dedup, replayed markers distinct at read —
    * so the repetition is invisible, which is itself part of the pin.
    * Full probing + rerank ≥ corpus make each serve exact, so the
    * appended union hash-matches a two-leg brute-force oracle over
    * (even) then (all minus takedowns). Batch ORDER is pinned by file
    * mtimes (see [[writeOneFile]]). */
  def annTakedownStream(s: SparkSession, d: String): DataFrame = {
    val base = java.nio.file.Files.createTempDirectory("graft_st37_")
    val root = base.resolve("ann_index").toString
    val c = corpus(s, d)
    graft.ext.AnnIndex.buildIvfPq(c.where(col("cid") % 2 === 0), dim = 64,
      nlist = 20, root = root, m = 8, codes = 16, refineIters = 2)
    val idx = graft.ext.AnnIndex.open(s, root)
    val odd = c.where(col("cid") % 2 === 1)
    val doomed = c.where(col("cid") % 4 === 0).select("cid")
    val qdir = base.resolve("queries")
    val outDir = base.resolve("served").toString
    val emb = Tables.embeddings(s, d)
    val now = System.currentTimeMillis()
    writeOneFile(emb.where(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec")),
      qdir, "b1.parquet", now - 120000)
    writeOneFile(emb.where(col("vec_id") >= 5 && col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec")),
      qdir, "b2.parquet", now - 60000)
    val src = s.readStream
      .schema(StructType(Seq(
        StructField("qid", LongType),
        StructField("qvec", ArrayType(FloatType)))))
      .option("maxFilesPerTrigger", 1)
      .parquet(qdir.toString)
    val q = src.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        graft.ext.AnnIndex.queryIvfPq(idx, batch, k = 5,
            nprobe = 20, rerank = 2100, excludeSelf = true)
          .write.mode("append").parquet(outDir)
        graft.ext.AnnIndex.appendIvfPq(idx, odd)
        graft.ext.AnnIndex.deleteFromIvfPq(s, root, doomed)
        ()
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(300000)
    q.stop()
    s.read.parquet(outDir)
      .select(col("query_id"), col("rank"), col("corpus_id"))
      .orderBy("query_id", "rank")
  }

  private val annTakedownStreamOracle =
    """SELECT query_id, rank, corpus_id FROM (
      | SELECT q.vec_id AS query_id, c.vec_id AS corpus_id,
      |  CAST(row_number() OVER (
      |    PARTITION BY q.vec_id
      |    ORDER BY list_cosine_similarity(q.embedding, c.embedding) DESC, c.vec_id) AS BIGINT) AS rank
      | FROM embeddings q JOIN embeddings c
      |   ON c.vec_id <> q.vec_id AND c.vec_id % 2 = 0
      | WHERE q.vec_id < 5
      | UNION ALL
      | SELECT q.vec_id AS query_id, c.vec_id AS corpus_id,
      |  CAST(row_number() OVER (
      |    PARTITION BY q.vec_id
      |    ORDER BY list_cosine_similarity(q.embedding, c.embedding) DESC, c.vec_id) AS BIGINT) AS rank
      | FROM embeddings q JOIN embeddings c
      |   ON c.vec_id <> q.vec_id AND c.vec_id % 4 <> 0
      | WHERE q.vec_id >= 5 AND q.vec_id < 10) t
      |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin

  /** st38: BM25 takedown MID-STREAM — [[annTakedownStream]]'s contract
    * on the lexical index: documents ARRIVE as a stream, and every
    * micro-batch appends its increment, (re-)delivers the SAME takedown
    * set, and serves a fixed query tagged with its batch id. Batch 0's
    * takedown includes ids whose documents HAVEN'T ARRIVED yet — their
    * markers carry dl NULL (nothing to correct) until batch 1's
    * re-delivered delete upgrades them (max(dl) at read), so the gate
    * pins the idempotent-AND-monotone replay property end-to-end:
    * batch 0 must score the remaining corpus of what has arrived,
    * batch 1 the remaining corpus of everything — df, dl, N, T exact
    * at each point. Batch order pinned by file mtimes ([[writeOneFile]]).
    * Oracle: two bm25 replay legs over the respective remaining
    * corpora, batch-tagged and unioned. */
  def bm25TakedownStream(s: SparkSession, d: String): DataFrame = {
    val base = java.nio.file.Files.createTempDirectory("graft_st38_")
    val root = base.resolve("bm25_idx").toString
    val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
    graft.ext.Bm25Index.build(root, docs.where(col("doc_id") < 200),
      "text", "doc_id")
    val doomed = docs.where(col("doc_id") % 5 === 0).select("doc_id")
    val adir = base.resolve("arrivals")
    val outDir = base.resolve("served").toString
    val now = System.currentTimeMillis()
    writeOneFile(docs.where(col("doc_id") >= 200 && col("doc_id") < 350),
      adir, "b1.parquet", now - 120000)
    writeOneFile(docs.where(col("doc_id") >= 350),
      adir, "b2.parquet", now - 60000)
    val src = s.readStream
      .schema(StructType(Seq(
        StructField("doc_id", LongType),
        StructField("text", org.apache.spark.sql.types.StringType))))
      .option("maxFilesPerTrigger", 1)
      .parquet(adir.toString)
    val q = src.writeStream
      .foreachBatch { (batch: DataFrame, bid: Long) =>
        graft.ext.Bm25Index.append(root, batch, "text", "doc_id")
        graft.ext.Bm25Index.delete(s, root, doomed, "doc_id")
        graft.ext.Bm25Index.search(s, root,
            query = Seq("spark", "hash", "join"), k = 10)
          .withColumn("batch", lit(bid))
          .write.mode("append").parquet(outDir)
        ()
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(300000)
    q.stop()
    s.read.parquet(outDir)
      .select(col("batch"), col("doc_id"), col("score"), col("n_terms"))
      .orderBy("batch", "doc_id")
  }

  private def bm25LegOver(pred: String, batch: Int): String = {
    val base = HygieneQueries.bm25Oracle
    val withPred = base.replace("FROM documents)",
      s"FROM documents WHERE $pred)")
    require(withPred != base,
      "st38 oracle: corpus restriction failed — bm25Oracle text changed?")
    val tagged = withPred.replace(
      "SELECT doc_id, CAST(sum(term_score) AS BIGINT) AS score,",
      s"SELECT CAST($batch AS BIGINT) AS batch, doc_id, " +
        "CAST(sum(term_score) AS BIGINT) AS score,")
    require(tagged != withPred,
      "st38 oracle: batch tagging failed — bm25Oracle text changed?")
    tagged
  }

  private lazy val bm25TakedownStreamOracle =
    s"""SELECT * FROM (
      |${bm25LegOver("doc_id < 350 AND doc_id % 5 <> 0", 0)}) l0
      |UNION ALL
      |SELECT * FROM (
      |${bm25LegOver("doc_id % 5 <> 0", 1)}) l1
      |ORDER BY batch, doc_id""".stripMargin

  /** st32: retrieval-quality evaluation MAINTAINED under a query
    * stream, served from the PERSISTED index — the st14 serve shape
    * composed with the s24 metric fold, with nothing corpus-sized paid
    * per micro-batch (the round-12 weak mark): the IVF-PQ index is
    * built ONCE before the stream ([[graft.ext.AnnIndex.buildIvfPq]],
    * refineIters = 0 so the centroid set IS ivfTopK's hash sample),
    * the exact judgments are a STATIC qrels relation computed once and
    * materialized (a deployment's qrels are a fixed table, not a
    * per-batch brute-force recompute), and each arriving micro-batch
    * (two parquet files, maxFilesPerTrigger=1 forces at least two) is
    * served through one pre-[[graft.ext.AnnIndex.open]]ed handle via
    * [[graft.ext.AnnIndex.mineTopK]] — the per-batch plan touches only
    * the encoded index table and the qrels parquet, never the corpus
    * or the centroid table (PlanSpec pins it).
    *
    * Gate contract: serving at the s24 probe settings (nprobe 5 of
    * nlist 20) with `rerank` = corpus count makes the ADC stage a pure
    * pass-through, so the served lists equal the inline
    * `Similarity.ivfTopK` tier bit-for-bit (same hash-sampled
    * centroids, same nearest-centroid assignment, same double-
    * accumulated cosine, same id-ascending tie-breaks) and the
    * appended per-query metric rows must equal the s24 batch
    * evaluation row-for-row — the s24 oracle pins it. A real
    * deployment sets the usual bounded rerank budget; the equality
    * setting is what makes the gate an exact hash. */
  def retrievalEvalStream(s: SparkSession, d: String): DataFrame = {
    val base = java.nio.file.Files.createTempDirectory("graft_st32_")
    val root = base.resolve("ann_index").toString
    val qrelsDir = base.resolve("qrels").toString
    val qdir = base.resolve("queries").toString
    val outDir = base.resolve("evald").toString
    val c = corpus(s, d)
    graft.ext.AnnIndex.buildIvfPq(c, dim = 64, nlist = 20, root = root,
      m = 8, codes = 16, refineIters = 0)
    Similarity.bruteForceTopK(c, queriesDf(s, d), k = 3)
      .select(col("query_id"), col("corpus_id"))
      .write.mode("overwrite").parquet(qrelsDir)
    val rerankAll = c.count().toInt
    val idx = graft.ext.AnnIndex.open(s, root)
    queriesDf(s, d).repartition(2).write.mode("overwrite").parquet(qdir)
    val src = s.readStream
      .schema(StructType(Seq(
        StructField("qid", LongType),
        StructField("qvec", ArrayType(FloatType)))))
      .option("maxFilesPerTrigger", 1)
      .parquet(qdir)
    val q = src.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val b = batch.cache()
        val served = graft.ext.AnnIndex.mineTopK(idx, b, k = 10,
          nprobe = 5, rerank = rerankAll, excludeSelf = true)
        val qrels = s.read.parquet(qrelsDir)
          .join(b.select(col("qid").as("query_id")),
            Seq("query_id"), "left_semi")
        graft.ext.Similarity.evalRetrieval(served, qrels, kEval = 10)
          .write.mode("append").parquet(outDir)
        b.unpersist()
        ()
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(300000)
    q.stop()
    s.read.parquet(outDir).orderBy("query_id")
  }

  /** st35: bitext mining MAINTAINED under a source stream — the st32
    * serving discipline applied to the s26 pair miner. The deployment
    * shape: the target corpus is a fixed reference (indexed once), and
    * source documents ARRIVE over time; each arriving batch must mine
    * its pairs without re-serving anything corpus-sized. The margin
    * fold splits at exactly that seam ([[graft.ext.Similarity
    * .marginFromSums]]): a source's kept pair depends only on its OWN
    * forward top-k list plus the target-side neighborhood sums — and
    * those sums come from the target→source direction over the FULL
    * source corpus, which is fixed in this fixture, so they are a
    * STATIC relation computed once before the stream (one
    * [[graft.ext.AnnIndex.mineTopK]] serve folded by
    * [[graft.ext.Similarity.tgtNeighborhoodSums]] and materialized —
    * the qrels pattern). Per micro-batch (two parquet files,
    * maxFilesPerTrigger=1 forces at least two): one forward mineTopK
    * through the pre-opened target-index handle + the static-sums join
    * — no source-corpus scan, no backward re-serve, no centroid or
    * metadata job (PlanSpec pins the per-batch plan).
    *
    * Gate contract: per-source independence makes the appended union
    * equal the batch answer whatever the batch placement, and full
    * probing with covering rerank makes the served lists exact — so
    * the combined kept-pair set must hash-match the same s25 oracle
    * that pins the batch miners. */
  def bitextMineStream(s: SparkSession, d: String): DataFrame = {
    val base = java.nio.file.Files.createTempDirectory("graft_st35_")
    val e = graft.Tables.embeddings(s, d)
    val src = e.where(col("vec_id") % 2 === 0)
      .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
    val tgt = e.where(col("vec_id") % 2 === 1)
      .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
    val srcRoot = base.resolve("src_idx").toString
    val tgtRoot = base.resolve("tgt_idx").toString
    graft.ext.AnnIndex.buildIvfPq(src, dim = 64, nlist = 8,
      root = srcRoot, m = 8, codes = 16)
    graft.ext.AnnIndex.buildIvfPq(tgt, dim = 64, nlist = 8,
      root = tgtRoot, m = 8, codes = 16)
    val sumsDir = base.resolve("tgt_sums").toString
    graft.ext.Similarity.tgtNeighborhoodSums(
        graft.ext.AnnIndex.mineTopK(s, srcRoot,
          tgt.select(col("cid").as("qid"), col("cvec").as("qvec")),
          k = 4, nprobe = 8, rerank = 5000))
      .write.mode("overwrite").parquet(sumsDir)
    val tgtIdx = graft.ext.AnnIndex.open(s, tgtRoot)
    val sdir = base.resolve("src_stream").toString
    val outDir = base.resolve("mined").toString
    src.repartition(2).write.mode("overwrite").parquet(sdir)
    val stream = s.readStream
      .schema(StructType(Seq(
        StructField("cid", LongType),
        StructField("cvec", ArrayType(FloatType)))))
      .option("maxFilesPerTrigger", 1)
      .parquet(sdir)
    val q = stream.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val fwd = graft.ext.AnnIndex.mineTopK(tgtIdx,
          batch.select(col("cid").as("qid"), col("cvec").as("qvec")),
          k = 4, nprobe = 8, rerank = 5000, excludeSelf = false)
        graft.ext.Similarity.marginFromSums(fwd,
            s.read.parquet(sumsDir), minMargin = 1.05)
          .select(col("src_id"), col("tgt_id"))
          .write.mode("append").parquet(outDir)
        ()
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(300000)
    q.stop()
    s.read.parquet(outDir).orderBy("src_id")
  }

  /** STREAMING index maintenance: the persisted IVF-PQ index absorbs a
    * vector INGEST stream — build on the even-id half, then the odd
    * half arrives as a file stream (two parquet files,
    * maxFilesPerTrigger=1: at least two separate append micro-batches,
    * each encoding ONLY its new rows with the saved centroids/codebook
    * via foreachBatch) — and a post-stream serve under full probing
    * must still equal exact KNN over the WHOLE corpus (the s10 batch
    * append contract, held across micro-batch boundaries). */
  def knnIvfPqStreamAppend(s: SparkSession, d: String): DataFrame = {
    val base = java.nio.file.Files.createTempDirectory("graft_st17_")
    val root = base.resolve("ann_index").toString
    val c = corpus(s, d)
    graft.ext.AnnIndex.buildIvfPq(c.where(col("cid") % 2 === 0), dim = 64,
      nlist = 20, root = root, m = 8, codes = 16, refineIters = 2)
    val vdir = base.resolve("vectors").toString
    c.where(col("cid") % 2 === 1).repartition(2)
      .write.mode("overwrite").parquet(vdir)
    val src = s.readStream
      .schema(StructType(Seq(
        StructField("cid", LongType),
        StructField("cvec", ArrayType(FloatType)))))
      .option("maxFilesPerTrigger", 1)
      .parquet(vdir)
    val idx = graft.ext.AnnIndex.open(s, root)
    val q = src.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        graft.ext.AnnIndex.appendIvfPq(idx, batch)
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(300000)
    q.stop()
    graft.ext.AnnIndex.queryIvfPq(s, root, queriesDf(s, d), k = 5,
        nprobe = 20, rerank = 2100)
      .select(col("query_id"), col("rank"), col("corpus_id"))
      .orderBy("query_id", "rank")
  }

  /** Full replay of the composed IVF-PQ pipeline at REALISTIC pruning
    * (nprobe=5 of nlist=20, rerank=20): DuckDB re-derives the
    * hash-sampled centroids, the argmax-cosine assignment (s2's CTEs),
    * the hash-sampled codebook and per-subspace L2 encode (s6's CTEs),
    * then ADC-scores ONLY pairs whose assigned centroid is probed by the
    * query, applies the rerank cut, and exact-cosine re-ranks the
    * survivors. Ranks (not scores) are compared, as in s1/s2/s6. */
  /** The full IVF-PQ replay with the three serve knobs as SQL
    * fragments — "20"/"5"/"20" reproduces the s8 oracle verbatim;
    * s19 passes corpus-derived scalar subqueries (nlist ~ sqrt(N)). */
  private def ivfPqOracleWith(nlist: String, nprobe: String,
      rerank: String): String =
    s"""WITH c AS (SELECT vec_id AS cid, embedding AS v FROM embeddings),
      |q AS (SELECT cid AS qid, v AS qv FROM c WHERE cid < 10),
      |cent AS (
      | SELECT cid AS centroid_id, v AS cv FROM (
      |  SELECT cid, v, row_number() OVER (
      |    ORDER BY (cid * 2654435761) % 2147483647, cid) AS rn FROM c) t
      | WHERE rn <= $nlist),
      |assigned AS (
      | SELECT cid, centroid_id FROM (
      |  SELECT c.cid, cent.centroid_id, row_number() OVER (
      |    PARTITION BY c.cid
      |    ORDER BY list_cosine_similarity(c.v, cent.cv) DESC, cent.centroid_id) AS rn
      |  FROM c CROSS JOIN cent) t
      | WHERE rn = 1),
      |cb AS (
      | SELECT rn - 1 AS code, v FROM (
      |  SELECT v, row_number() OVER (
      |    ORDER BY (cid * 2654435761) % 2147483647, cid) AS rn FROM c) t
      | WHERE rn <= 16),
      |ms AS (SELECT unnest(range(0, 8)) AS mi),
      |enc AS (
      | SELECT cid, mi, code FROM (
      |  SELECT c.cid, ms.mi, cb.code, row_number() OVER (
      |    PARTITION BY c.cid, ms.mi
      |    ORDER BY list_aggregate(list_transform(range(1, 9), j ->
      |      (CAST(c.v[ms.mi * 8 + j] AS DOUBLE) - CAST(cb.v[ms.mi * 8 + j] AS DOUBLE))
      |      * (CAST(c.v[ms.mi * 8 + j] AS DOUBLE) - CAST(cb.v[ms.mi * 8 + j] AS DOUBLE))),
      |      'sum'), cb.code) AS rn
      |  FROM c CROSS JOIN ms CROSS JOIN cb) t
      | WHERE rn = 1),
      |probes AS (
      | SELECT qid, qv, centroid_id FROM (
      |  SELECT q.qid, q.qv, cent.centroid_id, row_number() OVER (
      |    PARTITION BY q.qid
      |    ORDER BY list_cosine_similarity(q.qv, cent.cv) DESC, cent.centroid_id) AS rn
      |  FROM q CROSS JOIN cent) t
      | WHERE rn <= $nprobe),
      |adc AS (
      | SELECT e.cid, p.qid,
      |  sum(list_aggregate(list_transform(range(1, 9), j ->
      |    CAST(p.qv[e.mi * 8 + j] AS DOUBLE) * CAST(cb.v[e.mi * 8 + j] AS DOUBLE)),
      |    'sum')) AS score
      | FROM probes p
      | JOIN assigned a USING (centroid_id)
      | JOIN enc e ON e.cid = a.cid
      | JOIN cb USING (code)
      | WHERE e.cid <> p.qid
      | GROUP BY e.cid, p.qid),
      |cand AS (
      | SELECT qid, cid FROM (
      |  SELECT qid, cid,
      |   row_number() OVER (PARTITION BY qid ORDER BY score DESC, cid) AS rn
      |  FROM adc) t WHERE rn <= $rerank)
      |SELECT query_id, rank, corpus_id FROM (
      | SELECT ca.qid AS query_id, ca.cid AS corpus_id,
      |  CAST(row_number() OVER (PARTITION BY ca.qid
      |    ORDER BY list_cosine_similarity(q.qv, c.v) DESC, ca.cid) AS BIGINT) AS rank
      | FROM cand ca JOIN c ON c.cid = ca.cid JOIN q ON q.qid = ca.qid) t
      |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin

  private lazy val knnIvfPqOracle = ivfPqOracleWith("20", "5", "20")

  /** Full replay of [[graft.ext.AnnIndex.mineHardNegatives]] at REAL
    * pruning (nprobe 5 of nlist 20, rerank 20): the s8 IVF-PQ pipeline
    * with the cross-label filter applied BEFORE the rerank cut (the
    * mining contract) instead of the self-exclusion clause — a query
    * that is a corpus row drops itself via its own label. */
  private lazy val minedIvfPqOracle =
    minedIvfPqOracleWith("20", "5", "20")

  private def minedIvfPqOracleWith(nlist: String, nprobe: String,
      rerank: String): String =
    s"""SELECT query_id, rank, corpus_id FROM (
      |${ivfPqServeSql(
          "SELECT vec_id AS cid, embedding AS v, label FROM embeddings",
          "SELECT cid AS qid, v AS qv, label AS qlab FROM c WHERE cid < 10",
          nlist, nprobe, rerank, "5", crossLabel = true)}) z
      |ORDER BY query_id, rank""".stripMargin

  /** s22: mined hard negatives at REAL mining settings (nprobe 5 of
    * nlist 20, rerank 20 — the pruned serve a training run would use),
    * reported as measured recall@5 vs the s20 brute-force cross-label
    * answer: the s18 recall-ladder discipline applied to mining. The
    * oracle replays BOTH sides fully (the mined IVF-PQ pipeline with
    * label-before-rerank, and the exact mining answer) and recomputes
    * the recall join, so even the measurement is hash-exact. An eager
    * floor guards the mean: mining recall collapsing is a code
    * regression, not noise (exact-integer pipeline). */
  def minedNegativesRecall(s: SparkSession, d: String): DataFrame = {
    val root = java.nio.file.Files.createTempDirectory("graft_s22_")
      .resolve("ann_index").toString
    graft.ext.AnnIndex.buildIvfPq(corpus(s, d), dim = 64, nlist = 20,
      root = root, m = 8, codes = 16)
    val queries = Tables.embeddings(s, d).where(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"),
        col("label").as("qlab"))
    val mined = graft.ext.AnnIndex.mineHardNegatives(s, root, queries,
      Tables.embeddings(s, d).select(col("vec_id").as("cid"),
        col("label").as("clab")),
      k = 5, nprobe = 5, rerank = 20)
    val brute = Similarity.hardNegatives(
      Tables.embeddings(s, d).select(col("vec_id").as("cid"),
        col("embedding").as("cvec"), col("label").as("clab")),
      queries, k = 5)
    val report = Similarity.recallReport(mined, brute)
      .orderBy("query_id").transform(Scale.materialize)
    // measured mean recall: 440k ppm (sf0.001), 360k (sf0.01) — in
    // line with the s18 ivfpq tier at the same knobs (400k→140k decay
    // family); individual queries can read 0 when their cross-label
    // neighbors all live in unprobed buckets — that is what the
    // nprobe/recall trade IS, and why s19 scales nlist with the
    // corpus. Floor set conservatively below both mean readings.
    val m = report.agg(sum(col("recall_ppm")).as("s"),
      count(lit(1)).as("n")).head
    require(m.getLong(0) / m.getLong(1) >= 300000L,
      s"minedNegativesRecall: mean recall ${m.getLong(0) / m.getLong(1)} " +
        "ppm fell below the 300000 ppm floor — the mining serve regressed")
    report
  }

  /** s23: mined recall at CAPACITY-SCALED knobs — the s19 rule applied
    * to the mining workload: nlist = ⌊√N⌋ and nprobe = max(1, nlist/4)
    * derived FROM THE CORPUS ITSELF (both engines compute the same
    * correctly-rounded IEEE sqrt), rerank 100, recall@5 vs the s20
    * brute cross-label answer — pinning that the capacity rule holds
    * for cross-label mining, not just plain serving. Oracle replays
    * both sides with the knobs as scalar subqueries of the corpus. */
  def minedRecallScaled(s: SparkSession, d: String): DataFrame = {
    val root = java.nio.file.Files.createTempDirectory("graft_s23_")
      .resolve("ann_index").toString
    val n = corpus(s, d).count()
    val nlist = math.max(1, math.floor(math.sqrt(n.toDouble)).toInt)
    val nprobe = math.max(1, nlist / 4)
    graft.ext.AnnIndex.buildIvfPq(corpus(s, d), dim = 64, nlist = nlist,
      root = root, m = 8, codes = 16)
    val queries = Tables.embeddings(s, d).where(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"),
        col("label").as("qlab"))
    val mined = graft.ext.AnnIndex.mineHardNegatives(s, root, queries,
      Tables.embeddings(s, d).select(col("vec_id").as("cid"),
        col("label").as("clab")),
      k = 5, nprobe = nprobe, rerank = 100)
    val brute = Similarity.hardNegatives(
      Tables.embeddings(s, d).select(col("vec_id").as("cid"),
        col("embedding").as("cvec"), col("label").as("clab")),
      queries, k = 5)
    val report = Similarity.recallReport(mined, brute)
      .orderBy("query_id").transform(Scale.materialize)
    // measured mean recall: 560k ppm (sf0.001), 420k (sf0.01) vs the
    // fixed-knob s22 tier's 440k/360k — scaling the knobs with the
    // corpus recovers recall for mining as s19 pinned for serving
    // (recall per SF is deterministic: exact-integer pipelines over the
    // fixed corpus, so a floor breach is a code regression, not noise).
    val m = report.agg(sum(col("recall_ppm")).as("s"),
      count(lit(1)).as("n")).head
    require(m.getLong(0) / m.getLong(1) >= 400000L,
      s"minedRecallScaled: mean recall ${m.getLong(0) / m.getLong(1)} " +
        "ppm fell below the 400000 ppm floor — capacity-scaled mining " +
        "regressed")
    report
  }

  private lazy val minedRecallScaledOracle =
    s"""WITH brute AS (
      |  SELECT query_id, corpus_id FROM ($hardNegativesOracle) b),
      |kk AS (SELECT query_id, count(*) AS k FROM brute GROUP BY 1)
      |SELECT query_id, CAST(kk.k AS BIGINT) AS k,
      | CAST(coalesce(h.n_hit, 0) AS BIGINT) AS n_hit,
      | CAST(coalesce(h.n_hit, 0) * 1000000 // kk.k AS BIGINT)
      |   AS recall_ppm
      |FROM kk LEFT JOIN (
      | SELECT b.query_id, count(*) AS n_hit FROM brute b
      | JOIN (${minedIvfPqOracleWith(scaledNlistSql, scaledNprobeSql,
          "100")}) a
      |  ON a.query_id = b.query_id AND a.corpus_id = b.corpus_id
      | GROUP BY 1) h USING (query_id)
      |ORDER BY query_id""".stripMargin

  private lazy val minedNegativesRecallOracle =
    s"""WITH brute AS (
      |  SELECT query_id, corpus_id FROM ($hardNegativesOracle) b),
      |kk AS (SELECT query_id, count(*) AS k FROM brute GROUP BY 1)
      |SELECT query_id, CAST(k AS BIGINT) AS k,
      | CAST(coalesce(n_hit, 0) AS BIGINT) AS n_hit,
      | CAST(coalesce(n_hit, 0) * 1000000 // k AS BIGINT) AS recall_ppm
      |FROM kk LEFT JOIN (
      | SELECT b.query_id, count(*) AS n_hit FROM brute b
      | JOIN ($minedIvfPqOracle) a
      |  ON a.query_id = b.query_id AND a.corpus_id = b.corpus_id
      | GROUP BY 1) h USING (query_id)
      |ORDER BY query_id""".stripMargin

  def knnLsh(s: SparkSession, d: String): DataFrame =
    Similarity.lshTopK(corpus(s, d), queriesDf(s, d), k = 5, dim = 64, bits = 5)
      .select(col("query_id"), col("rank"), col("corpus_id"))
      .orderBy("query_id", "rank")

  /** Full replay: the Gaussian hyperplanes are deterministic seeded
    * CONSTANTS of the algorithm (like the hash seed), embedded as
    * double literals; DuckDB then computes the sign-pattern buckets,
    * Hamming-1 multi-probe, and cosine ranks itself. Double literals
    * round-trip exactly (shortest-repr parsing), and dot products are
    * sequential double accumulation in both engines, so sign
    * agreement is exact away from |dot| ~ ulp (Gaussian dots are O(1)).
    * Ranks (not cosines) are compared, as in s1. */
  private val knnLshOracle: String = {
    val ps = Dedup.planes(64, 5, 42L)
    val bucketExpr = (0 until 5).map(i =>
      s"(CASE WHEN list_dot_product(v, ${ps(i).mkString("[", ",", "]")}) > 0" +
        s" THEN ${1 << i} ELSE 0 END)").mkString("\n      |  + ")
    s"""WITH c AS (
      | SELECT vec_id AS cid, embedding AS v,
      |  $bucketExpr AS bucket
      | FROM embeddings),
      |q AS (SELECT cid AS qid, v AS qv, bucket FROM c WHERE cid < 10),
      |probes AS (
      | SELECT qid, qv, unnest([bucket, xor(bucket, 1), xor(bucket, 2),
      |   xor(bucket, 4), xor(bucket, 8), xor(bucket, 16)]) AS bucket
      | FROM q),
      |cand AS (
      | SELECT qid, cid, list_cosine_similarity(qv, v) AS sim
      | FROM probes JOIN c USING (bucket) WHERE cid <> qid)
      |SELECT query_id, rank, corpus_id FROM (
      | SELECT qid AS query_id, cid AS corpus_id,
      |  CAST(row_number() OVER (PARTITION BY qid ORDER BY sim DESC, cid) AS BIGINT) AS rank
      | FROM cand) t
      |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin
  }

  // ------------------------------------------------------- multimodal

  /** Feature VALUES are checked by ExtSpec (the stub codec's rolling-hash
    * floats aren't ANSI-SQL-expressible); the gate hash-checks everything
    * else — id/type/byte/frame counts and the feature shape — with the
    * decode still in the plan (size(feature) forces it). */
  def multimodalFeatures(s: SparkSession, d: String): DataFrame = {
    val media = Multimodal.fromText(Tables.documents(s, d), "doc_id", "text")
    Multimodal.extractFeatures(Multimodal.toDataset(s, media), dim = 8)
      .toDF()
      .select(col("media_id"), col("media_type"), col("n_bytes"),
        col("n_frames"), size(col("feature")).cast(LongType).as("feat_dim"))
      .orderBy("media_id")
  }

  private val multimodalOracle =
    """SELECT CAST(doc_id AS BIGINT) AS media_id, 'image' AS media_type,
      | CAST(strlen(text) AS BIGINT) AS n_bytes,
      | CAST(least(4, strlen(text)) AS BIGINT) AS n_frames,
      | CAST(8 AS BIGINT) AS feat_dim
      |FROM documents ORDER BY media_id""".stripMargin

  /** Batched distributed resize (ext Multimodal.resize): every payload
    * resampled to 8x8 with metadata updated — the normalize-all-images
    * pass. Metadata replays in SQL; the pixel math itself is pinned
    * byte-exact in ExtSpec (the stub codec is deterministic). */
  def multimodalResize(s: SparkSession, d: String): DataFrame = {
    val media = Multimodal.fromText(Tables.documents(s, d), "doc_id", "text")
    Multimodal.resize(Multimodal.toDataset(s, media), w = 8, h = 8)
      .toDF()
      .select(col("media_id"), col("media_type"),
        col("width").cast(LongType).as("width"),
        col("height").cast(LongType).as("height"),
        length(col("content")).cast(LongType).as("n_bytes"))
      .orderBy("media_id")
  }

  private val multimodalResizeOracle =
    """SELECT CAST(doc_id AS BIGINT) AS media_id, 'image' AS media_type,
      | CAST(8 AS BIGINT) AS width, CAST(8 AS BIGINT) AS height,
      | CAST(64 AS BIGINT) AS n_bytes
      |FROM documents ORDER BY media_id""".stripMargin

  /** REAL header parsing (functions.ImageHeaderParse, no stub): each doc
    * is planted as a PNG/JPEG/GIF/BMP payload (round-robin by id; every
    * other BMP stored top-down with negative height) whose dimensions
    * are an arithmetic function of doc_id — the parser walks the actual
    * container bytes while the oracle re-derives format and dims from
    * doc_id alone, never seeing a byte. Agreement means the byte-level
    * construction and the byte-level parse invert each other. */
  def imageDimsGate(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val media = Tables.documents(s, d).select(col("doc_id")).as[Long]
      .map { id =>
        val w = (id % 500 + 1).toInt
        val h = (id * 7 % 500 + 1).toInt
        val bytes = (id % 4) match {
          case 0L => Multimodal.SyntheticImages.png(w, h)
          case 1L => Multimodal.SyntheticImages.jpeg(w, h)
          case 2L => Multimodal.SyntheticImages.gif(w, h)
          case _ => Multimodal.SyntheticImages.bmp(w, h, topDown = id % 8 == 3)
        }
        (id, bytes)
      }.toDF("media_id", "content")
    Multimodal.imageDims(media, "content")
      .select(col("media_id"), col("format"), col("width"), col("height"))
      .orderBy("media_id")
  }

  private val imageDimsOracle =
    """SELECT doc_id AS media_id,
      | CASE doc_id % 4 WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg'
      |  WHEN 2 THEN 'gif' ELSE 'bmp' END AS format,
      | CAST(doc_id % 500 + 1 AS INTEGER) AS width,
      | CAST((doc_id * 7) % 500 + 1 AS INTEGER) AS height
      |FROM documents ORDER BY media_id""".stripMargin

  /** REAL audio/video header parsing (functions.MediaHeaderParse): each
    * doc planted as a WAV/MP4/FLAC payload (round-robin by id) whose
    * duration/rate/channels/dims are arithmetic in doc_id — WAV duration
    * is implied by the PCM data-chunk byte count, FLAC by the 36-bit
    * total-samples field, MP4 by mvhd duration/timescale; the oracle
    * re-derives everything from doc_id without seeing a byte. */
  def mediaMetaGate(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import Multimodal.SyntheticMedia
    val media = Tables.documents(s, d).select(col("doc_id")).as[Long]
      .map { id =>
        val bytes = (id % 3) match {
          case 0L =>
            val ch = 1 + (id % 2).toInt
            val durMs = ((id % 97) + 1).toInt * 10
            SyntheticMedia.wav(8000, ch, 16 * ch * durMs) // byteRate/1000=16·ch
          case 1L =>
            SyntheticMedia.mp4(((id % 89) + 1).toInt * 10,
              (id % 320 + 16).toInt, (id * 3 % 240 + 16).toInt)
          case _ =>
            SyntheticMedia.flac(16000, 1 + (id % 8).toInt,
              ((id % 50) + 1) * 1600L) // 1600 samples @16kHz = 100 ms
        }
        (id, bytes)
      }.toDF("media_id", "content")
    Multimodal.mediaMeta(media, "content")
      .select(col("media_id"), col("format"), col("duration_ms"),
        col("sample_rate"), col("channels"), col("width"), col("height"))
      .orderBy("media_id")
  }

  private val mediaMetaOracle =
    """SELECT doc_id AS media_id,
      | CASE doc_id % 3 WHEN 0 THEN 'wav' WHEN 1 THEN 'mp4'
      |  ELSE 'flac' END AS format,
      | CAST(CASE doc_id % 3 WHEN 0 THEN (doc_id % 97 + 1) * 10
      |  WHEN 1 THEN (doc_id % 89 + 1) * 10
      |  ELSE (doc_id % 50 + 1) * 100 END AS BIGINT) AS duration_ms,
      | CAST(CASE doc_id % 3 WHEN 0 THEN 8000 WHEN 2 THEN 16000
      |  END AS INTEGER) AS sample_rate,
      | CAST(CASE doc_id % 3 WHEN 0 THEN 1 + doc_id % 2
      |  WHEN 2 THEN 1 + doc_id % 8 END AS INTEGER) AS channels,
      | CAST(CASE WHEN doc_id % 3 = 1 THEN doc_id % 320 + 16
      |  END AS INTEGER) AS width,
      | CAST(CASE WHEN doc_id % 3 = 1 THEN doc_id * 3 % 240 + 16
      |  END AS INTEGER) AS height
      |FROM documents ORDER BY media_id""".stripMargin

  /** PDF catalog scan (ext Multimodal.pdfMeta): every doc planted as a
    * REAL COS-text PDF whose version/page-count/encryption/
    * linearization/truncation are arithmetic in doc_id — the parser
    * walks actual PDF bytes (header tolerance, /Type /Page boundary
    * check so /Pages never counts, trailer probes) while the oracle
    * re-derives every field from doc_id alone. Every 13th doc is junk
    * (must yield NULLs, proving non-PDF payloads can't poison the
    * triage pass). */
  def pdfMetaGate(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val media = Tables.documents(s, d).select(col("doc_id")).as[Long]
      .map { id =>
        val bytes =
          if (id % 13 == 0) s"plain text payload $id".getBytes
          else Multimodal.SyntheticDocs.pdf(
            pages = (id % 30 + 1).toInt,
            version = s"1.${id % 8}",
            encrypted = id % 7 == 0,
            linearized = id % 5 == 0,
            truncated = id % 11 == 0)
        (id, bytes)
      }.toDF("media_id", "content")
    Multimodal.pdfMeta(media, "content")
      // Booleans cast to INTEGER: a NULL BOOLEAN stringifies differently
      // across the compare harness's two readers (None vs NaN); NULL
      // INTEGER is NaN on both.
      .select(col("media_id"), col("pdf_version"), col("pages"),
        col("encrypted").cast(IntegerType).as("encrypted"),
        col("linearized").cast(IntegerType).as("linearized"),
        col("well_formed").cast(IntegerType).as("well_formed"))
      .orderBy("media_id")
  }

  private val pdfMetaOracle =
    """SELECT doc_id AS media_id,
      | CASE WHEN doc_id % 13 = 0 THEN NULL
      |  ELSE '1.' || (doc_id % 8) END AS pdf_version,
      | CAST(CASE WHEN doc_id % 13 = 0 THEN NULL
      |  ELSE doc_id % 30 + 1 END AS INTEGER) AS pages,
      | CAST(CASE WHEN doc_id % 13 = 0 THEN NULL
      |  ELSE CAST(doc_id % 7 = 0 AS INTEGER) END AS INTEGER) AS encrypted,
      | CAST(CASE WHEN doc_id % 13 = 0 THEN NULL
      |  ELSE CAST(doc_id % 5 = 0 AS INTEGER) END AS INTEGER) AS linearized,
      | CAST(CASE WHEN doc_id % 13 = 0 THEN NULL
      |  ELSE CAST(doc_id % 11 <> 0 AS INTEGER) END AS INTEGER) AS well_formed
      |FROM documents ORDER BY media_id""".stripMargin

  /** PDF text extraction (ext Multimodal.pdfText): every doc planted as
    * a REAL multi-page uncompressed PDF whose page strings — parens and
    * backslashes included, exercising the COS escape grammar both when
    * writing and when decoding — are arithmetic in doc_id; every 13th
    * doc is junk (NULL) and every 7th is encrypted (empty string, its
    * strings would be ciphertext). The oracle re-derives the joined
    * text from doc_id alone. */
  def pdfTextGate(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val media = Tables.documents(s, d).select(col("doc_id")).as[Long]
      .map { id =>
        val bytes =
          if (id % 13 == 0) s"not a pdf $id".getBytes
          else {
            val nPages = (id % 3 + 1).toInt
            val texts = (0 until nPages).map(p =>
              s"Doc $id page $p (copy\\$p) end")
            Multimodal.SyntheticDocs.pdf(pages = nPages,
              encrypted = id % 7 == 0, pageTexts = texts)
          }
        (id, bytes)
      }.toDF("media_id", "content")
    Multimodal.pdfText(media, "content")
      .select("media_id", "pdf_text")
      .orderBy("media_id")
  }

  private val pdfTextOracle =
    """SELECT doc_id AS media_id,
      | CASE WHEN doc_id % 13 = 0 THEN NULL
      |  WHEN doc_id % 7 = 0 THEN ''
      |  ELSE concat_ws(' ',
      |   'Doc ' || doc_id || ' page 0 (copy\0) end',
      |   CASE WHEN doc_id % 3 >= 1
      |    THEN 'Doc ' || doc_id || ' page 1 (copy\1) end' END,
      |   CASE WHEN doc_id % 3 = 2
      |    THEN 'Doc ' || doc_id || ' page 2 (copy\2) end' END)
      | END AS pdf_text
      |FROM documents ORDER BY media_id""".stripMargin

  /** Content-defined chunk dedup (ext Dedup.chunkPairs): documents plus
    * every 6th doc re-embedded inside novel WRAP/TAIL bytes at a
    * DIFFERENT offset — the gear boundaries must resync inside the
    * embedded segment so planted pairs share interior chunks, and any
    * organic ≥16-byte chunk the synthetic corpus genuinely repeats
    * across docs must be found identically by the engine and the
    * pinned independent Python replay of the published FastCDC rule
    * (tools/gen_cdc_oracle.py). */
  def chunkDedup(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
    val corpus = docs.union(docs.where(col("doc_id") % 6 === 0).select(
      (col("doc_id") + 300000).as("doc_id"),
      concat(lit("WRAP"), col("doc_id"), lit(" "), col("text"),
        lit(" TAILTAILTAIL")).as("text")))
    Dedup.chunkPairs(
        corpus.select(col("doc_id"), col("text").cast(BinaryType).as("bytes")),
        "bytes", "doc_id")
      .orderBy("id_a", "id_b")
  }

  /** Audio activity triage (ext Multimodal.audioActivity): every doc
    * planted as a REAL mono 16-bit PCM WAV whose loud/silent windows
    * are arithmetic in doc_id (window i of doc id is amplitude 1000 iff
    * (id+i)%3=0, else digital silence) — the RIFF walk, PCM decode and
    * exact-integer windowed energy must recover exactly the activity
    * pattern the oracle re-derives from doc_id without hearing a
    * sample. */
  def audioActivityGate(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val media = Tables.documents(s, d).select(col("doc_id")).as[Long]
      .map { id =>
        val nW = (id % 20 + 4).toInt
        val samples = new Array[Short](nW * 800) // 100ms windows @ 8kHz
        var w = 0
        while (w < nW) {
          if ((id + w) % 3 == 0) {
            var k = 0
            while (k < 800) { samples(w * 800 + k) = 1000; k += 1 }
          }
          w += 1
        }
        (id, Multimodal.SyntheticMedia.wavPcm(8000, samples))
      }.toDF("media_id", "content")
    Multimodal.audioActivity(media, "content", windowMs = 100,
        threshold = 500)
      .select("media_id", "sample_rate", "n_windows", "n_active",
        "active_ms")
      .orderBy("media_id")
  }

  private val audioActivityOracle =
    """SELECT doc_id AS media_id,
      | CAST(8000 AS INTEGER) AS sample_rate,
      | CAST(doc_id % 20 + 4 AS INTEGER) AS n_windows,
      | CAST(len(list_filter(range(0, doc_id % 20 + 4),
      |   i -> (doc_id + i) % 3 = 0)) AS INTEGER) AS n_active,
      | CAST(len(list_filter(range(0, doc_id % 20 + 4),
      |   i -> (doc_id + i) % 3 = 0)) * 100 AS BIGINT) AS active_ms
      |FROM documents ORDER BY media_id""".stripMargin

  /** Perceptual image near-dup (ext Multimodal.imageNearDup): every doc
    * becomes a REAL 9×8 gradient BMP whose dHash equals a 64-bit
    * avalanche of its id by construction (each row walks ±8 per bit, so
    * the decode→pool→compare pipeline must invert the construction
    * bit-exactly); every 5th doc re-renders its group base's image with
    * exactly 3 bit-flips. The planted pairs — and ONLY those — sit
    * within Hamming 8, so the full decode+banding+verify pipeline must
    * recover exactly the (base, base+4, 3) relation the oracle derives
    * from doc_id arithmetic without seeing a pixel. Images alternate
    * bottom-up/top-down byte order, pinning row-order normalization
    * inside the gate itself. */
  def imageNearDupGate(s: SparkSession, d: String): DataFrame = {
    // The BMP corpus is MATERIALIZED to parquet once per sf dir and read
    // back, so bench/probe timings measure the operator (decode → dHash
    // → banding → verify), not per-row fixture rendering + GC — the
    // round-8 probe read 13.4x at 10x data and all of it was fixture
    // generation sitting inside the timed path. Deterministic content
    // (id-derived) makes the cached dir safely reusable.
    val media = s.read.parquet(imageFixture(s, d))
    Multimodal.imageNearDup(media, "media_id", "content", maxDist = 8)
      .orderBy("id_a", "id_b")
  }

  /** Renders the m5 BMP corpus for `d` to a content-stable temp dir on
    * first use (atomic publish via rename; losers of a cross-process
    * race reuse the winner's dir). Returns the parquet path.
    *
    * A data dir that CARRIES a `media.parquet` table of its own is used
    * as-is instead (same (media_id, content) schema): GenScale's zipf
    * mode writes a dup-heavy one (~40% byte-identical payloads) so the
    * scale probes exercise the hot-bucket cap end-to-end. The driver
    * testdata dirs carry none, so gate correctness derives the
    * deterministic fixture below unchanged. */
  private[queries] def imageFixture(s: SparkSession, d: String): String = {
    val provided = java.nio.file.Paths.get(d, "media.parquet")
    if (java.nio.file.Files.exists(provided)) return provided.toString
    import s.implicits._
    val key = java.lang.Long.toHexString(
      d.hashCode.toLong << 32 | Tables.documents(s, d).count())
    val dir = java.nio.file.Paths.get(
      sys.props("java.io.tmpdir"), s"graft_m5_media_$key")
    if (!java.nio.file.Files.exists(dir.resolve("_SUCCESS"))) {
      val tmp = java.nio.file.Files.createTempDirectory("graft_m5_build_")
      Tables.documents(s, d).select(col("doc_id")).as[Long]
        .map { id =>
          val base = id - id % 5
          val raw = Multimodal.SyntheticImages.avalanche(
            if (id % 5 == 4) base else id)
          val sig =
            if (id % 5 == 4) raw ^ ((1L << 1) | (1L << 20) | (1L << 40))
            else raw
          (id, Multimodal.SyntheticImages.bmpGradient(sig, topDown = id % 2 == 1))
        }.toDF("media_id", "content")
        .write.mode("overwrite").parquet(tmp.resolve("out").toString)
      Fixtures.publish(tmp, tmp.resolve("out"), dir, "_SUCCESS")
    }
    dir.toString
  }

  private val imageNearDupOracle =
    """SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(3 AS INTEGER) AS hamming
      |FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 4
      |WHERE a.doc_id % 5 = 0
      |ORDER BY id_a, id_b""".stripMargin

  // ------------------------------------------------ scale mechanics

  /** Salted two-phase aggregation must be value-identical to the plain
    * groupBy (the salt only splits hot keys across reducers). */
  def saltedAgg(s: SparkSession, d: String): DataFrame =
    graft.ext.Scale.saltedAgg(
      Tables.events(s, d), col("event_type"), count(lit(1)), c => sum(c))
      .select(col("k").as("event_type"), col("value").cast(LongType).as("n"))
      .orderBy("event_type")

  private val saltedAggOracle =
    """SELECT event_type, count(*) AS n
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  /** Skew report (ext Scale.skewReport): exact hot-key counts, integer
    * share in millionths, and the pinned ⌈n·parts/total⌉ salt
    * recommendation. */
  def skewReport(s: SparkSession, d: String): DataFrame =
    graft.ext.Scale.skewReport(Tables.events(s, d), Seq("event_type"),
      parts = 32, topK = 5)

  private val skewReportOracle =
    """WITH c AS (SELECT event_type, count(*) AS n FROM events GROUP BY 1),
      |t AS (SELECT count(*) AS total FROM events)
      |SELECT event_type, n, total,
      | n * 1000000 // total AS share_e6,
      | (n * 32 + total - 1) // total AS salt
      |FROM c, t ORDER BY n DESC, event_type LIMIT 5""".stripMargin

  /** Zone-map pruned read (ext Scale.zoneMap/prunedRead): lineitem laid
    * out range-partitioned on l_orderkey into 8 parquet files, then read
    * back pruned by FOOTER statistics to the files that can contain the
    * bottom-quarter key range. Pruning must be invisible in the answer —
    * the oracle filters the ORIGINAL table, never seeing the layout; the
    * files-actually-skipped assertion lives in ScaleSpec. */
  def zoneMapPrune(s: SparkSession, d: String): DataFrame = {
    val dir = java.nio.file.Files.createTempDirectory("graft_sc6_").toString
    val li = Tables.lineitem(s, d)
    li.repartitionByRange(8, col("l_orderkey"))
      .sortWithinPartitions("l_orderkey")
      .write.mode("overwrite").parquet(dir)
    val hi = li.agg(max("l_orderkey")).head().getLong(0) / 4
    graft.ext.Scale.prunedRead(s, dir, "l_orderkey", 1L, hi)
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"),
        Relational.dsum(col("l_quantity")).as("sum_qty"),
        countDistinct(col("l_orderkey")).as("n_orders"))
      .orderBy("l_returnflag")
  }

  private val zoneMapPruneOracle =
    """SELECT l_returnflag, count(*) AS n,
      | CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      | count(DISTINCT l_orderkey) AS n_orders
      |FROM lineitem
      |WHERE l_orderkey BETWEEN 1
      |  AND (SELECT max(l_orderkey) // 4 FROM lineitem)
      |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** Bloom-indexed point lookup (ext Scale.writeBloomIndexed): lineitem
    * rewritten with footer bloom filters on l_partkey (the
    * high-cardinality unclustered column where min/max pruning is
    * useless), then an equality probe against the hottest part — the
    * reader applies the blooms to skip row groups; the answer must
    * equal the plain filter on the original table. */
  def bloomPointLookup(s: SparkSession, d: String): DataFrame = {
    val dir = java.nio.file.Files.createTempDirectory("graft_sc7_").toString
    val li = Tables.lineitem(s, d)
      .select("l_orderkey", "l_partkey", "l_quantity")
    graft.ext.Scale.writeBloomIndexed(li.repartition(4), dir,
      Seq("l_partkey"), expectedNdv = 200000L)
    val probe = li.agg(max("l_partkey")).head().getLong(0)
    s.read.parquet(dir).where(col("l_partkey") === probe)
      .groupBy(col("l_partkey"))
      .agg(count(lit(1)).as("n"),
        Relational.dsum(col("l_quantity")).as("sum_qty"),
        countDistinct(col("l_orderkey")).as("n_orders"))
  }

  private val bloomPointLookupOracle =
    """SELECT l_partkey, count(*) AS n,
      | CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      | count(DISTINCT l_orderkey) AS n_orders
      |FROM lineitem
      |WHERE l_partkey = (SELECT max(l_partkey) FROM lineitem)
      |GROUP BY l_partkey""".stripMargin

  /** Incremental zone-map maintenance (ext Scale.zoneMapIncremental):
    * lineitem's bottom-half key range written and harvested into a zone
    * map, then the top half APPENDED and the map refreshed
    * incrementally — only the new files' footers are read; the gate
    * aggregates the refreshed map per key-range batch, which must equal
    * what DuckDB computes from the rows themselves (the map is exact
    * because each batch is range-clustered). Incremental==full equality
    * and the trusted-prev/dropped-file semantics are pinned in
    * ScaleSpec. */
  def zoneMapIncrementalGate(s: SparkSession, d: String): DataFrame = {
    val dir = java.nio.file.Files.createTempDirectory("graft_sc9_").toString
    val li = Tables.lineitem(s, d)
    val mid = li.agg(max("l_orderkey")).head().getLong(0) / 2
    li.where(col("l_orderkey") <= mid)
      .repartitionByRange(4, col("l_orderkey"))
      .sortWithinPartitions("l_orderkey")
      .write.mode("overwrite").parquet(dir)
    // Materialize the first harvest BEFORE the append lands (the map a
    // previous refresh persisted), so the refresh below provably cannot
    // have re-read the old footers for these stats.
    val prev = graft.ext.Scale.zoneMap(s, dir, Seq("l_orderkey"))
      .transform(Scale.materialize)
    li.where(col("l_orderkey") > mid)
      .repartitionByRange(4, col("l_orderkey"))
      .sortWithinPartitions("l_orderkey")
      .write.mode("append").parquet(dir)
    graft.ext.Scale.zoneMapIncremental(s, dir, Seq("l_orderkey"), prev)
      .withColumn("batch",
        when(col("max_long") <= mid, lit("low")).otherwise(lit("high")))
      .groupBy(col("batch"))
      .agg(sum(col("num_rows")).as("n_rows"),
        min(col("min_long")).as("min_key"),
        max(col("max_long")).as("max_key"))
      .orderBy("batch")
  }

  private val zoneMapIncrementalOracle =
    """WITH mm AS (SELECT max(l_orderkey) // 2 AS mid FROM lineitem)
      |SELECT CASE WHEN l_orderkey <= mid THEN 'low' ELSE 'high' END AS batch,
      | count(*) AS n_rows, min(l_orderkey) AS min_key,
      | max(l_orderkey) AS max_key
      |FROM lineitem, mm GROUP BY 1 ORDER BY 1""".stripMargin

  /** Page-level pruned read (ext Scale.pageIndex/prunedReadByPages):
    * lineitem laid out range-partitioned and sorted on l_orderkey with
    * 500-row parquet pages, then read back pruned by the footers'
    * COLUMN INDEXES (PARQUET-1201 per-page min/max) to the files whose
    * pages can contain a mid-range key band. Page pruning must be
    * invisible in the answer — the oracle filters the original rows;
    * the strictly-finer-than-row-group-stats demonstration (gap
    * layout) lives in ScaleSpec. */
  def pagePrunedRead(s: SparkSession, d: String): DataFrame = {
    val dir = java.nio.file.Files.createTempDirectory("graft_sc10_").toString
    val hc = s.sparkContext.hadoopConfiguration
    val prevLimit = hc.get("parquet.page.row.count.limit")
    hc.set("parquet.page.row.count.limit", "500")
    val li = Tables.lineitem(s, d)
    try {
      li.repartitionByRange(8, col("l_orderkey"))
        .sortWithinPartitions("l_orderkey")
        .write.mode("overwrite").parquet(dir)
    } finally {
      if (prevLimit == null) hc.unset("parquet.page.row.count.limit")
      else hc.set("parquet.page.row.count.limit", prevLimit)
    }
    val top = li.agg(max("l_orderkey")).head().getLong(0)
    graft.ext.Scale.prunedReadByPages(s, dir, "l_orderkey",
        top / 3, top / 2)
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"),
        Relational.dsum(col("l_quantity")).as("sum_qty"),
        countDistinct(col("l_orderkey")).as("n_orders"))
      .orderBy("l_returnflag")
  }

  private val pagePrunedReadOracle =
    """WITH mm AS (SELECT max(l_orderkey) AS top FROM lineitem)
      |SELECT l_returnflag, count(*) AS n,
      | CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      | count(DISTINCT l_orderkey) AS n_orders
      |FROM lineitem, mm
      |WHERE l_orderkey BETWEEN top // 3 AND top // 2
      |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** Bucketed-table join: pay the shuffle at write time, join for free
    * at read time (exchange-free plan asserted in ScaleSpec); results
    * must match the direct join of the source parquet. */
  def bucketedJoin(s: SparkSession, d: String): DataFrame = {
    import graft.sink.TableRef
    val o = TableRef("graft", "verify", "sc2_orders")
    val c = TableRef("graft", "verify", "sc2_customer")
    Seq(o, c).foreach(r => s.sql(s"DROP TABLE IF EXISTS ${r.qualified}"))
    graft.ext.Scale.writeBucketed(
      Tables.orders(s, d).withColumn("custkey", col("o_custkey")), o, "custkey", 8)
    graft.ext.Scale.writeBucketed(
      Tables.customer(s, d).withColumn("custkey", col("c_custkey")), c, "custkey", 8)
    graft.ext.Scale.bucketedJoin(s, o, c, "custkey")
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast(DecimalType(18, 2))).cast(DoubleType).as("total"))
      .orderBy("c_mktsegment")
  }

  private val bucketedJoinOracle =
    """SELECT c_mktsegment, count(*) AS n_orders,
      | CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin

  /** Z-order clustering of orders on (o_custkey, o_orderkey): the gate
    * replays the exact 16-bit-per-dim Morton value (data-derived
    * min/max, integer bucketing, bit interleave) for the 100 smallest
    * z-values. The SQL interleave terms are generated to mirror
    * Scale.zValueOf's positions: dim 0 at odd bits, dim 1 at even. */
  def zOrder(s: SparkSession, d: String): DataFrame =
    graft.ext.Scale.zOrderBy(
        Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey")),
        Seq("o_custkey", "o_orderkey"), bits = 16, numPartitions = Some(8))
      .orderBy(col("z_value"), col("o_orderkey"))
      .limit(100)

  private val zOrderOracle = {
    val terms = (for {
      (bcol, off) <- Seq(("b1", 1), ("b2", 0))
      i <- 0 until 16
    } yield s"((($bcol >> $i) & 1) << ${2 * i + off})").mkString(" | ")
    s"""WITH mm AS (
       | SELECT min(o_custkey) AS mn1, max(o_custkey) AS mx1,
       |        min(o_orderkey) AS mn2, max(o_orderkey) AS mx2 FROM orders),
       |b AS (
       | SELECT o_orderkey, o_custkey,
       |  CAST(o_custkey - mn1 AS BIGINT) * 65536 // (mx1 - mn1 + 1) AS b1,
       |  CAST(o_orderkey - mn2 AS BIGINT) * 65536 // (mx2 - mn2 + 1) AS b2
       | FROM orders, mm)
       |SELECT o_orderkey, o_custkey, CAST($terms AS BIGINT) AS z_value
       |FROM b ORDER BY z_value, o_orderkey LIMIT 100""".stripMargin
  }

  /** Bloom-pruned join: lineitem (big probe side) against the ~2% of
    * orders over 400k total price (selective build side, "too big to
    * broadcast" stand-in). The bloom prefilter drops non-matching
    * lineitems before the shuffle; the join then removes the false
    * positives, so the result replays the PLAIN join exactly — the
    * oracle knows nothing about the filter. */
  def bloomJoin(s: SparkSession, d: String): DataFrame = {
    val big = Tables.lineitem(s, d)
    val small = Tables.orders(s, d).where(col("o_totalprice") > 400000)
    graft.ext.Scale.bloomPrunedJoin(
        big, small, "l_orderkey", "o_orderkey", expectedItems = 10000)
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_items"),
        sum(col("l_extendedprice").cast(DecimalType(18, 2)))
          .cast(DoubleType).as("revenue"))
      .orderBy("o_orderpriority")
  }

  private val bloomJoinOracle =
    """SELECT o_orderpriority, count(*) AS n_items,
      | CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |WHERE o_totalprice > 400000
      |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  // -------------------------------------------------------- streaming

  def sessionizeBatch(s: SparkSession, d: String): DataFrame =
    EventStream.sessionize(Tables.events(s, d))
      .orderBy("user_id", "session_id")

  private val sessionizeOracle =
    """SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
      | count(*) AS n_events, min(ts) AS session_start, max(ts) AS session_end
      |FROM (
      | SELECT user_id, ts, event_id,
      |  sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |    ROWS UNBOUNDED PRECEDING) AS session_id
      | FROM (
      |  SELECT user_id, ts, event_id,
      |   CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
      |    OR epoch_us(ts) - epoch_us(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)) > 1800000000
      |   THEN 1 ELSE 0 END AS new_session
      |  FROM events) t) t2
      |GROUP BY user_id, session_id
      |ORDER BY user_id, session_id""".stripMargin

  // --------------------------------------- normalization + repetition

  def textNormalize(s: SparkSession, d: String): DataFrame =
    TextAnalysis.normalize(Tables.documents(s, d), "text", "doc_id").orderBy("doc_id")

  private val textNormalizeOracle =
    """SELECT doc_id,
      | trim(regexp_replace(regexp_replace(regexp_replace(lower(text),
      |   'https?://\S+', '<url>', 'g'),
      |   '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<email>', 'g'),
      |   '\s+', ' ', 'g')) AS norm_text
      |FROM documents ORDER BY doc_id""".stripMargin

  def textRepetition(s: SparkSession, d: String): DataFrame =
    TextAnalysis.repetition(Tables.documents(s, d), "text", "doc_id").orderBy("doc_id")

  private val textRepetitionOracle =
    """WITH lines AS (
      | SELECT doc_id, list_filter(string_split_regex(text, '\n'),
      |   l -> trim(l) <> '') AS ls FROM documents),
      |lm AS (SELECT doc_id, CAST(len(ls) AS BIGINT) AS n_lines,
      |  CAST(len(ls) - len(list_distinct(ls)) AS BIGINT) AS n_dup_lines FROM lines),
      |toks AS (SELECT doc_id, regexp_extract_all(text, '[^\s]+') AS ts FROM documents),
      |grams AS (SELECT doc_id,
      |  unnest(list_transform(range(1, len(ts)), i -> ts[i] || ' ' || ts[i+1])) AS g
      | FROM toks),
      |gc AS (SELECT doc_id, g, count(*) AS c FROM grams GROUP BY 1, 2),
      |gt AS (SELECT doc_id, max(c) AS top_n, sum(c) AS n_g FROM gc GROUP BY 1)
      |SELECT lm.doc_id, n_lines, n_dup_lines,
      | CAST(coalesce(n_g, 0) AS BIGINT) AS n_2grams,
      | CAST(coalesce(top_n, 0) AS BIGINT) AS top_2gram_n,
      | (n_dup_lines * 10 > n_lines * 3) OR
      |  (coalesce(n_g, 0) > 0 AND coalesce(top_n, 0) * 5 > n_g) AS is_repetitive
      |FROM lm LEFT JOIN gt ON lm.doc_id = gt.doc_id
      |ORDER BY lm.doc_id""".stripMargin

  def defs: Seq[QueryDef] = Seq(
    QueryDef("t1_text_stats", textStats, Some(textStatsOracle)),
    QueryDef("t2_text_quality", textQuality, Some(textQualityOracle)),
    QueryDef("t3_lang_id", langId, Some(langIdOracle)),
    QueryDef("t56_lang_segments", langSegmentsGate, Some(langSegmentsOracle)),
    QueryDef("t4_fingerprint", fingerprints, Some(fingerprintOracle)),
    QueryDef("t5_text_normalize", textNormalize, Some(textNormalizeOracle)),
    QueryDef("t6_text_repetition", textRepetition, Some(textRepetitionOracle)),
    QueryDef("d1_dedup_exact", dedupExact, Some(dedupExactOracle)),
    QueryDef("d15_dedup_incremental", dedupIncremental,
      Some(dedupIncrementalOracle)),
    QueryDef("d2_dedup_minhash", dedupMinHash, Some(dedupMinHashOracle), bench = true),
    QueryDef("d23_neardup_index", nearDupIndexGate, Some(nearDupIndexOracle),
      bench = true),
    QueryDef("st36_neardup_index_stream", nearDupIndexStream,
      Some(nearDupIndexOracle)),
    QueryDef("d24_neardup_index_compact", nearDupIndexCompact,
      Some(nearDupIndexOracle)),
    QueryDef("d26_neardup_index_delete", nearDupIndexDelete,
      Some(nearDupIndexDeleteOracle)),
    QueryDef("d3_dedup_simhash", dedupSimHash, Some(PinnedOracles.d3SimHash)),
    QueryDef("d4_dedup_ngram", dedupNgram, Some(dedupNgramOracle)),
    QueryDef("d19_chunk_dedup", chunkDedup, Some(PinnedOracles.d19ChunkPairs)),
    QueryDef("d16_dedup_prefix", dedupPrefix, Some(dedupNgramOracle), bench = true),
    QueryDef("d6_dedup_pipeline", dedupPipeline, Some(dedupPipelineOracle)),
    QueryDef("d5_dedup_embedding", dedupEmbedding, Some(dedupEmbeddingOracle)),
    QueryDef("d9_dedup_semantic", semDedup, Some(semDedupOracle)),
    QueryDef("d10_dedup_components", dedupComponents, Some(dedupComponentsOracle)),
    QueryDef("pk11_contrastive_batches", contrastiveBatchesGate,
      Some(contrastiveBatchesOracle)),
    QueryDef("d17_dedup_keep_best", dedupKeepBest, Some(dedupKeepBestOracle)),
    QueryDef("d18_containment", dedupContainment, Some(dedupContainmentOracle)),
    QueryDef("d12_components_chain", dedupComponentsChain, Some(dedupComponentsChainOracle)),
    QueryDef("d11_latest_by_key", latestByKey, Some(latestByKeyOracle)),
    QueryDef("s1_knn_bruteforce", knnBruteForce, Some(knnOracle), bench = true),
    QueryDef("s20_hard_negatives", hardNegativesGate, Some(hardNegativesOracle)),
    QueryDef("s21_mined_negatives", minedNegativesGate,
      Some(hardNegativesOracle)),
    QueryDef("s22_mined_recall", minedNegativesRecall,
      Some(minedNegativesRecallOracle)),
    QueryDef("s23_mined_recall_scaled", minedRecallScaled,
      Some(minedRecallScaledOracle)),
    QueryDef("s2_knn_ivf", knnIvf, Some(knnIvfOracle)),
    QueryDef("s5_knn_ivf_refined", knnIvfRefined, Some(knnOracle)),
    QueryDef("s3_knn_lsh", knnLsh, Some(knnLshOracle), bench = true),
    QueryDef("s6_knn_pq", knnPq, Some(knnPqOracle)),
    QueryDef("s12_knn_sq8", knnSq8, Some(knnSq8Oracle)),
    QueryDef("s13_knn_ivfsq8", knnIvfSq8, Some(knnIvfSq8Oracle)),
    QueryDef("s7_knn_ivfpq", knnIvfPq, Some(knnOracle), bench = true),
    QueryDef("s8_knn_ivfpq_replay", knnIvfPqReplay, Some(knnIvfPqOracle)),
    QueryDef("s9_knn_ivfpq_index", knnIvfPqIndex, Some(knnOracle)),
    QueryDef("st14_ann_serve_stream", annServeStream, Some(knnOracle)),
    QueryDef("st37_ann_takedown_stream", annTakedownStream,
      Some(annTakedownStreamOracle)),
    QueryDef("st38_bm25_takedown_stream", bm25TakedownStream,
      Some(bm25TakedownStreamOracle)),
    QueryDef("s11_range_search", rangeSearch, Some(rangeSearchOracle)),
    QueryDef("s14_hybrid_rrf", hybridRrf, Some(hybridRrfOracle)),
    QueryDef("s15_hybrid_ivf", hybridRrfIvf, Some(hybridRrfOracle)),
    QueryDef("s16_ann_recall", annRecall, Some(annRecallOracle)),
    QueryDef("s28_recall_curve", annRecallCurve, Some(annRecallCurveOracle),
      bench = true),
    QueryDef("s24_retrieval_eval", retrievalEval, Some(retrievalEvalOracle)),
    QueryDef("s25_bitext_margin", bitextMargin, Some(bitextMarginOracle)),
    QueryDef("s26_bitext_indexed", bitextMarginIndexed,
      Some(bitextMarginOracle)),
    QueryDef("s27_bitext_mined_recall", bitextMinedRecall,
      Some(bitextMinedRecallOracle)),
    QueryDef("st32_retrieval_eval_stream", retrievalEvalStream,
      Some(retrievalEvalOracle)),
    QueryDef("st35_bitext_mine_stream", bitextMineStream,
      Some(bitextMarginOracle)),
    QueryDef("s18_recall_floors", recallFloors, Some(recallFloorsOracle)),
    QueryDef("s19_recall_scaled", recallScaled, Some(recallScaledOracle)),
    QueryDef("s17_hybrid_approx", hybridRrfApprox, Some(hybridRrfApproxOracle)),
    QueryDef("s31_hybrid_persisted", hybridPersisted,
      Some(hybridPersistedOracle)),
    QueryDef("s32_hybrid_mine", hybridMinePersisted,
      Some(hybridMineOracle)),
    QueryDef("st17_ann_index_stream", knnIvfPqStreamAppend, Some(knnOracle)),
    QueryDef("s10_knn_ivfpq_append", knnIvfPqAppend, Some(knnOracle)),
    QueryDef("s29_index_compact", knnIvfPqCompact, Some(knnIvfPqOracle)),
    QueryDef("s30_index_delete", knnIvfPqDelete, Some(knnDeleteOracle)),
    QueryDef("s4_group_centroids", groupCentroids, Some(groupCentroidsOracle)),
    QueryDef("m1_multimodal_features", multimodalFeatures, Some(multimodalOracle)),
    QueryDef("m2_multimodal_resize", multimodalResize, Some(multimodalResizeOracle)),
    QueryDef("m3_image_dims", imageDimsGate, Some(imageDimsOracle)),
    QueryDef("m4_media_meta", mediaMetaGate, Some(mediaMetaOracle)),
    QueryDef("m5_image_neardup", imageNearDupGate, Some(imageNearDupOracle), bench = true),
    QueryDef("m6_pdf_meta", pdfMetaGate, Some(pdfMetaOracle)),
    QueryDef("m7_audio_activity", audioActivityGate, Some(audioActivityOracle)),
    QueryDef("m8_pdf_text", pdfTextGate, Some(pdfTextOracle)),
    QueryDef("sc1_salted_agg", saltedAgg, Some(saltedAggOracle)),
    QueryDef("sc2_bucketed_join", bucketedJoin, Some(bucketedJoinOracle), serial = true),
    QueryDef("sc3_bloom_join", bloomJoin, Some(bloomJoinOracle)),
    QueryDef("sc4_zorder", zOrder, Some(zOrderOracle)),
    QueryDef("sc5_skew_report", skewReport, Some(skewReportOracle), bench = true),
    QueryDef("sc6_zonemap_prune", zoneMapPrune, Some(zoneMapPruneOracle)),
    QueryDef("sc7_bloom_pointlookup", bloomPointLookup,
      Some(bloomPointLookupOracle)),
    QueryDef("sc9_zonemap_incremental", zoneMapIncrementalGate,
      Some(zoneMapIncrementalOracle)),
    QueryDef("sc10_page_pruned_read", pagePrunedRead,
      Some(pagePrunedReadOracle), serial = true),
    QueryDef("st1_sessionize", sessionizeBatch, Some(sessionizeOracle), bench = true))
}
