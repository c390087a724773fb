package graft.queries

import graft.Tables
import graft.ext.{Decontam, SubstringDedup, TextAnalysis}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Gate queries for the corpus-hygiene operators: benchmark
  * decontamination (n-gram overlap against an eval set) and PII
  * scan/redaction. Both are fully ANSI/RE2-replayable, so the DuckDB
  * oracle hash-checks exact values. PII is PLANTED deterministically
  * (the synthetic corpus contains none), mirroring the planted-dup
  * pattern of the dedup gates.
  */
object HygieneQueries {

  // ---------------------------------------------------- decontamination

  /** Corpus = documents ∪ planted contaminated copies: every 20th doc
    * reappears (id + 200000) wrapped in novel filler, so it shares all
    * its interior 8-grams with the benchmark without being byte-equal. */
  private[queries] def decontamCorpus(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
    docs.union(docs.where(col("doc_id") % 20 === 0).select(
      (col("doc_id") + 200000).as("doc_id"),
      concat(lit("novel preamble "), col("text"), lit(" novel epilogue"))
        .as("text")))
  }

  /** Benchmark = the texts of every 20th document (stands in for an eval
    * set); flag every corpus doc sharing an 8-gram with it. The benchmark
    * docs flag themselves (full self-overlap) and the planted wrapped
    * copies flag through their interior grams — both exact-replayed. */
  def decontamFlag(s: SparkSession, d: String): DataFrame =
    Decontam.flag(
        decontamCorpus(s, d), "text", "doc_id",
        Tables.documents(s, d).where(col("doc_id") % 20 === 0).select(col("text")),
        "text", n = 8)
      .select(col("doc_id"), col("n_hits"), col("contaminated"))
      .orderBy("doc_id")

  private[queries] val decontamOracle =
    """WITH corpus AS (
      | SELECT doc_id, text FROM documents
      | UNION ALL
      | SELECT doc_id + 200000 AS doc_id,
      |        'novel preamble ' || text || ' novel epilogue' AS text
      | FROM documents WHERE doc_id % 20 = 0),
      |bench AS (SELECT text FROM documents WHERE doc_id % 20 = 0),
      |btoks AS (
      | SELECT list_filter(string_split_regex(lower(text), '\s+'),
      |   t -> len(t) > 0) AS ts FROM bench),
      |bgrams AS (
      | SELECT DISTINCT unnest(list_distinct(list_transform(
      |   range(1, greatest(len(ts) - 8, 0) + 2),
      |   i -> array_to_string(ts[i:i+7], ' ')))) AS gram
      | FROM btoks),
      |ctoks AS (
      | SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'),
      |   t -> len(t) > 0) AS ts FROM corpus),
      |cgrams AS (
      | SELECT doc_id, unnest(list_distinct(list_transform(
      |   range(1, greatest(len(ts) - 8, 0) + 2),
      |   i -> array_to_string(ts[i:i+7], ' ')))) AS gram
      | FROM ctoks),
      |hits AS (
      | SELECT doc_id, count(*) AS n_hits
      | FROM cgrams JOIN bgrams USING (gram) GROUP BY doc_id)
      |SELECT c.doc_id, CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
      | h.doc_id IS NOT NULL AS contaminated
      |FROM corpus c LEFT JOIN hits h ON c.doc_id = h.doc_id
      |ORDER BY c.doc_id""".stripMargin

  /** d21: per-eval-set contamination report
    * (Decontam.contaminationReport) — the d7 benchmark split into two
    * labeled eval sets (%40 → evalA, the rest → evalB); per set: docs
    * hit, distinct gram hits, contaminated fraction of the corpus in
    * ppm. The one-aggregate "is the corpus clean" view hides WHICH
    * benchmark is compromised — this is the per-benchmark number.
    *
    * Since r14 the gate runs the HASHED probe (contaminationReportHashed
    * — 8-byte gram keys, no per-gram string assembly; 5-6× the string
    * probe at 1.5M docs, SCALEPROBE_r14): counts equal the string probe
    * absent an xxhash64 collision, and the oracle still replays STRING
    * gram semantics, so a collision at gate scale would surface as a
    * row diff. The exact-contract operator (contaminationReport) stays
    * published for callers that need it. */
  def contaminationReportGate(s: SparkSession, d: String): DataFrame = {
    val bench = Tables.documents(s, d).where(col("doc_id") % 20 === 0)
      .select(when(col("doc_id") % 40 === 0, lit("evalA"))
        .otherwise(lit("evalB")).as("eval_set"), col("text"))
    Decontam.contaminationReportHashed(decontamCorpus(s, d), "text",
        "doc_id", bench, "text", "eval_set", n = 8)
      .orderBy("eval_set")
  }

  private[queries] val contaminationReportOracle =
    """WITH corpus AS (
      | SELECT doc_id, text FROM documents
      | UNION ALL
      | SELECT doc_id + 200000 AS doc_id,
      |        'novel preamble ' || text || ' novel epilogue' AS text
      | FROM documents WHERE doc_id % 20 = 0),
      |bench AS (
      | SELECT CASE WHEN doc_id % 40 = 0 THEN 'evalA' ELSE 'evalB' END
      |   AS eval_set, text
      | FROM documents WHERE doc_id % 20 = 0),
      |btoks AS (
      | SELECT eval_set, list_filter(string_split_regex(lower(text), '\s+'),
      |   t -> len(t) > 0) AS ts FROM bench),
      |bgrams AS (
      | SELECT DISTINCT eval_set, unnest(list_distinct(list_transform(
      |   range(1, greatest(len(ts) - 8, 0) + 2),
      |   i -> array_to_string(ts[i:i+7], ' ')))) AS gram
      | FROM btoks),
      |ctoks AS (
      | SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'),
      |   t -> len(t) > 0) AS ts FROM corpus),
      |cgrams AS (
      | SELECT doc_id, unnest(list_distinct(list_transform(
      |   range(1, greatest(len(ts) - 8, 0) + 2),
      |   i -> array_to_string(ts[i:i+7], ' ')))) AS gram
      | FROM ctoks),
      |hits AS (
      | SELECT b.eval_set, c.doc_id
      | FROM cgrams c JOIN bgrams b USING (gram)),
      |per AS (
      | SELECT eval_set, CAST(count(DISTINCT doc_id) AS BIGINT)
      |   AS n_docs_hit, CAST(count(*) AS BIGINT) AS n_gram_hits
      | FROM hits GROUP BY 1),
      |tot AS (SELECT count(*) AS n FROM corpus)
      |SELECT eval_set, n_docs_hit, n_gram_hits,
      | CAST(n_docs_hit * 1000000 // greatest(tot.n, 1) AS BIGINT)
      |   AS contaminated_ppm
      |FROM per CROSS JOIN tot ORDER BY eval_set""".stripMargin

  /** d22: MULTI-n contamination curve (Decontam.contaminationCurve) —
    * the memorization-audit sweep over gram lengths n ∈ {4, 8, 13} on
    * the d21 fixtures (planted verbatim wraps; benchmark split into
    * evalA/evalB): short grams over-flag boilerplate, long grams miss
    * paraphrase, the decay across n is the signal auditors read. ONE
    * corpus scan covers all three lengths (tagged gram explode). The
    * oracle replays each n's gram derivation and unions the hits.
    *
    * Since r14 the gate runs the HASHED one-scan curve
    * (contaminationCurveHashed — gram length mixed into the key via
    * per-n seeds, single flat long explode; 5-6× the string curve at
    * 1.5M docs, SCALEPROBE_r14). Same contract note as d21: the oracle
    * replays string semantics, a collision surfaces as a row diff. */
  def contaminationCurveGate(s: SparkSession, d: String): DataFrame = {
    val bench = Tables.documents(s, d).where(col("doc_id") % 20 === 0)
      .select(when(col("doc_id") % 40 === 0, lit("evalA"))
        .otherwise(lit("evalB")).as("eval_set"), col("text"))
    Decontam.contaminationCurveHashed(decontamCorpus(s, d), "text",
        "doc_id", bench, "text", "eval_set", ns = Seq(4, 8, 13))
      .orderBy("eval_set", "n")
  }

  private[queries] val contaminationCurveOracle: String = {
    def hitsFor(n: Int) =
      s"""SELECT b.eval_set, $n AS n, c.doc_id
         |FROM (SELECT doc_id, unnest(list_distinct(list_transform(
         |    range(1, greatest(len(ts) - $n, 0) + 2),
         |    i -> array_to_string(ts[i:i+${n - 1}], ' ')))) AS gram
         |  FROM ctoks) c
         |JOIN (SELECT DISTINCT eval_set, unnest(list_distinct(list_transform(
         |    range(1, greatest(len(ts) - $n, 0) + 2),
         |    i -> array_to_string(ts[i:i+${n - 1}], ' ')))) AS gram
         |  FROM btoks) b USING (gram)""".stripMargin
    s"""WITH corpus AS (
      | SELECT doc_id, text FROM documents
      | UNION ALL
      | SELECT doc_id + 200000 AS doc_id,
      |        'novel preamble ' || text || ' novel epilogue' AS text
      | FROM documents WHERE doc_id % 20 = 0),
      |bench AS (
      | SELECT CASE WHEN doc_id % 40 = 0 THEN 'evalA' ELSE 'evalB' END
      |   AS eval_set, text
      | FROM documents WHERE doc_id % 20 = 0),
      |btoks AS (
      | SELECT eval_set, list_filter(string_split_regex(lower(text), '\\s+'),
      |   t -> len(t) > 0) AS ts FROM bench),
      |ctoks AS (
      | SELECT doc_id, list_filter(string_split_regex(lower(text), '\\s+'),
      |   t -> len(t) > 0) AS ts FROM corpus),
      |hits AS (
      |${Seq(4, 8, 13).map(hitsFor).mkString("\nUNION ALL\n")}),
      |per AS (
      | SELECT eval_set, n, CAST(count(DISTINCT doc_id) AS BIGINT)
      |   AS n_docs_hit, CAST(count(*) AS BIGINT) AS n_gram_hits
      | FROM hits GROUP BY 1, 2),
      |allk AS (
      | SELECT eval_set, n
      | FROM (SELECT DISTINCT eval_set FROM bench)
      | CROSS JOIN (SELECT unnest([4, 8, 13]) AS n)),
      |tot AS (SELECT count(*) AS nc FROM corpus)
      |SELECT allk.eval_set, CAST(allk.n AS BIGINT) AS n,
      | CAST(coalesce(per.n_docs_hit, 0) AS BIGINT) AS n_docs_hit,
      | CAST(coalesce(per.n_gram_hits, 0) AS BIGINT) AS n_gram_hits,
      | CAST(coalesce(per.n_docs_hit, 0) * 1000000
      |   // greatest(tot.nc, 1) AS BIGINT) AS contaminated_ppm
      |FROM allk LEFT JOIN per ON per.eval_set = allk.eval_set
      |  AND per.n = allk.n
      |CROSS JOIN tot
      |ORDER BY allk.eval_set, allk.n""".stripMargin
  }

  /** d20: decontamination served from a PERSISTED benchmark index — two
    * OVERLAPPING benchmark increments (the full eval set, then its
    * %40 slice again — every gram of the second append already exists)
    * appended to the same index root; flagging from the merged index
    * must equal the direct single-benchmark flag exactly, proving both
    * the roundtrip and that the serve-side re-distinct keeps
    * overlapping increments from double-counting hits. Same oracle as
    * d7. */
  def decontamFromIndex(s: SparkSession, d: String): DataFrame = {
    val bench = Tables.documents(s, d).where(col("doc_id") % 20 === 0)
    val root = java.nio.file.Files.createTempDirectory("graft_d20_")
      .resolve("ix").toString
    Decontam.saveIndex(root, bench.select(col("text")), "text", n = 8)
    Decontam.saveIndex(root,
      bench.where(col("doc_id") % 40 === 0).select(col("text")), "text", n = 8)
    Decontam.flagFromIndex(s, root, decontamCorpus(s, d), "text", "doc_id")
      .select(col("doc_id"), col("n_hits"), col("contaminated"))
      .orderBy("doc_id")
  }

  /** d25: the decontam index COMPACTION lifecycle — d20's overlapping
    * increments (which store duplicate gram rows the serve re-distincts
    * on every read) compacted to one distinct, single-file gram table
    * in place, then served. compact(build + appends) ==
    * build(union) as a row set, so the same d7 oracle pins the serve
    * after the swap. */
  def decontamIndexCompact(s: SparkSession, d: String): DataFrame = {
    val bench = Tables.documents(s, d).where(col("doc_id") % 20 === 0)
    val root = java.nio.file.Files.createTempDirectory("graft_d25_")
      .resolve("ix").toString
    Decontam.saveIndex(root, bench.select(col("text")), "text", n = 8)
    Decontam.saveIndex(root,
      bench.where(col("doc_id") % 40 === 0).select(col("text")), "text", n = 8)
    Decontam.compactIndex(s, root, targetPartitions = 1)
    Decontam.flagFromIndex(s, root, decontamCorpus(s, d), "text", "doc_id")
      .select(col("doc_id"), col("n_hits"), col("contaminated"))
      .orderBy("doc_id")
  }

  /** d27: eval-set REMOVAL from the persisted decontam index (a
    * benchmark retired or re-licensed): index both labeled sets, remove
    * evalB ([[graft.ext.Decontam.removeSetFromIndex]] — staged rewrite,
    * same swap machinery as compaction), then serve the per-set report.
    * The result must equal a report against an index that never
    * contained evalB — one evalA row, evalB absent both from the counts
    * AND from the all-sets frame (the removed set must not linger as a
    * zero row: its grams are gone, so is its identity). */
  def decontamIndexRemove(s: SparkSession, d: String): DataFrame = {
    val bench = Tables.documents(s, d).where(col("doc_id") % 20 === 0)
      .select(when(col("doc_id") % 40 === 0, lit("evalA"))
        .otherwise(lit("evalB")).as("eval_set"), col("text"))
    val root = java.nio.file.Files.createTempDirectory("graft_d27_")
      .resolve("ix").toString
    Decontam.saveSetIndex(root, bench, "text", "eval_set", n = 8)
    Decontam.removeSetFromIndex(s, root, "evalB")
    Decontam.contaminationReportFromIndex(s, root, decontamCorpus(s, d),
      "text", "doc_id").orderBy("eval_set")
  }

  private val decontamIndexRemoveOracle =
    """WITH corpus AS (
      | SELECT doc_id, text FROM documents
      | UNION ALL
      | SELECT doc_id + 200000 AS doc_id,
      |        'novel preamble ' || text || ' novel epilogue' AS text
      | FROM documents WHERE doc_id % 20 = 0),
      |bench AS (
      | SELECT 'evalA' AS eval_set, text
      | FROM documents WHERE doc_id % 40 = 0),
      |btoks AS (
      | SELECT eval_set, list_filter(string_split_regex(lower(text), '\s+'),
      |   t -> len(t) > 0) AS ts FROM bench),
      |bgrams AS (
      | SELECT DISTINCT eval_set, unnest(list_distinct(list_transform(
      |   range(1, greatest(len(ts) - 8, 0) + 2),
      |   i -> array_to_string(ts[i:i+7], ' ')))) AS gram
      | FROM btoks),
      |ctoks AS (
      | SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'),
      |   t -> len(t) > 0) AS ts FROM corpus),
      |cgrams AS (
      | SELECT doc_id, unnest(list_distinct(list_transform(
      |   range(1, greatest(len(ts) - 8, 0) + 2),
      |   i -> array_to_string(ts[i:i+7], ' ')))) AS gram
      | FROM ctoks),
      |hits AS (
      | SELECT b.eval_set, c.doc_id
      | FROM cgrams c JOIN bgrams b USING (gram)),
      |per AS (
      | SELECT eval_set, CAST(count(DISTINCT doc_id) AS BIGINT)
      |   AS n_docs_hit, CAST(count(*) AS BIGINT) AS n_gram_hits
      | FROM hits GROUP BY 1),
      |tot AS (SELECT count(*) AS n FROM corpus)
      |SELECT eval_set, n_docs_hit, n_gram_hits,
      | CAST(n_docs_hit * 1000000 // greatest(tot.n, 1) AS BIGINT)
      |   AS contaminated_ppm
      |FROM per CROSS JOIN tot ORDER BY eval_set""".stripMargin

  /** The end-to-end decontaminated corpus (anti-join of the same hits). */
  def decontamClean(s: SparkSession, d: String): DataFrame =
    Decontam.clean(
        decontamCorpus(s, d), "text", "doc_id",
        Tables.documents(s, d).where(col("doc_id") % 20 === 0).select(col("text")),
        "text", n = 8)
      .select(col("doc_id"))
      .orderBy("doc_id")

  private[queries] val decontamCleanOracle =
    """WITH corpus AS (
      | SELECT doc_id, text FROM documents
      | UNION ALL
      | SELECT doc_id + 200000 AS doc_id,
      |        'novel preamble ' || text || ' novel epilogue' AS text
      | FROM documents WHERE doc_id % 20 = 0),
      |bench AS (SELECT text FROM documents WHERE doc_id % 20 = 0),
      |btoks AS (
      | SELECT list_filter(string_split_regex(lower(text), '\s+'),
      |   t -> len(t) > 0) AS ts FROM bench),
      |bgrams AS (
      | SELECT DISTINCT unnest(list_distinct(list_transform(
      |   range(1, greatest(len(ts) - 8, 0) + 2),
      |   i -> array_to_string(ts[i:i+7], ' ')))) AS gram
      | FROM btoks),
      |ctoks AS (
      | SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'),
      |   t -> len(t) > 0) AS ts FROM corpus),
      |cgrams AS (
      | SELECT doc_id, unnest(list_distinct(list_transform(
      |   range(1, greatest(len(ts) - 8, 0) + 2),
      |   i -> array_to_string(ts[i:i+7], ' ')))) AS gram
      | FROM ctoks)
      |SELECT doc_id FROM corpus
      |WHERE doc_id NOT IN (
      | SELECT DISTINCT doc_id FROM cgrams JOIN bgrams USING (gram))
      |ORDER BY doc_id""".stripMargin

  // ------------------------------------------------------------- pii

  /** Documents with deterministically planted PII: every 7th doc gains
    * emails, every 11th IPv4s, every 13th a phone, every 17th a 16-digit
    * card-like run (docs hit by several rules gain several suffixes). */
  private def piiCorpus(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).select(
      col("doc_id"),
      concat(
        col("text"),
        when(col("doc_id") % 7 === 0,
          lit(" contact alice.smith@example.com or bob@test.org")).otherwise(lit("")),
        when(col("doc_id") % 11 === 0,
          lit(" server at 192.168.1.77 and 10.0.0.3")).otherwise(lit("")),
        when(col("doc_id") % 13 === 0,
          lit(" call +1 555 867 5309 x9")).otherwise(lit("")),
        when(col("doc_id") % 17 === 0,
          lit(" card 4111111111111111 end")).otherwise(lit(""))).as("text"))

  def piiScan(s: SparkSession, d: String): DataFrame =
    TextAnalysis.piiScan(piiCorpus(s, d), "text", "doc_id")
      .orderBy("doc_id")

  private val piiOracle =
    """WITH corpus AS (
      | SELECT doc_id, text
      |  || CASE WHEN doc_id % 7 = 0
      |     THEN ' contact alice.smith@example.com or bob@test.org' ELSE '' END
      |  || CASE WHEN doc_id % 11 = 0
      |     THEN ' server at 192.168.1.77 and 10.0.0.3' ELSE '' END
      |  || CASE WHEN doc_id % 13 = 0
      |     THEN ' call +1 555 867 5309 x9' ELSE '' END
      |  || CASE WHEN doc_id % 17 = 0
      |     THEN ' card 4111111111111111 end' ELSE '' END AS text
      | FROM documents),
      |counted AS (
      | SELECT doc_id,
      |  CAST(len(regexp_extract_all(text,
      |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
      |  CAST(len(regexp_extract_all(text,
      |    '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b')) AS BIGINT) AS n_ipv4,
      |  CAST(len(regexp_extract_all(text, '[0-9]{9,}')) AS BIGINT) AS n_digit_runs,
      |  CAST(len(regexp_extract_all(text, '\+?[0-9][0-9() -]{6,}[0-9]')) AS BIGINT) AS n_phones,
      |  regexp_replace(
      |   regexp_replace(
      |    regexp_replace(
      |     regexp_replace(text,
      |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<email>', 'g'),
      |     '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b', '<ip>', 'g'),
      |    '[0-9]{9,}', '<digits>', 'g'),
      |   '\+?[0-9][0-9() -]{6,}[0-9]', '<phone>', 'g') AS redacted_text
      | FROM corpus)
      |SELECT doc_id, n_emails, n_ipv4, n_digit_runs, n_phones,
      | n_emails + n_ipv4 + n_digit_runs + n_phones > 0 AS has_pii,
      | redacted_text
      |FROM counted ORDER BY doc_id""".stripMargin

  // ------------------------------------------------ boilerplate removal

  /** Every 5th document gains two planted boilerplate lines (~100
    * corpus-wide occurrences each — far over minCount=3); the line pass
    * must strip exactly those from every carrier while leaving natural
    * lines (corpus-unique) alone. Exact DuckDB replay. */
  def lineDedup(s: SparkSession, d: String): DataFrame = {
    val corpus = Tables.documents(s, d).select(
      col("doc_id"),
      concat(col("text"),
        when(col("doc_id") % 5 === 0,
          lit("\nsubscribe to our newsletter today\nall rights reserved"))
          .otherwise(lit(""))).as("text"))
    TextAnalysis.removeBoilerplate(corpus, "text", "doc_id", minCount = 3)
      .orderBy("doc_id")
  }

  private val lineDedupOracle =
    """WITH corpus AS (
      | SELECT doc_id, text ||
      |  CASE WHEN doc_id % 5 = 0
      |   THEN chr(10) || 'subscribe to our newsletter today'
      |     || chr(10) || 'all rights reserved'
      |   ELSE '' END AS text
      | FROM documents),
      |lx AS (
      | SELECT doc_id, unnest(list_transform(range(1, len(ls) + 1),
      |   i -> {'pos': i, 'line': ls[i]})) AS u
      | FROM (SELECT doc_id, string_split(text, chr(10)) AS ls FROM corpus)),
      |cnt AS (
      | SELECT doc_id, u.pos AS pos, u.line AS line,
      |  count(*) OVER (PARTITION BY u.line) AS c
      | FROM lx)
      |SELECT doc_id,
      | array_to_string(list_transform(
      |   list_sort(coalesce(list({'pos': pos, 'line': line})
      |     FILTER (WHERE c < 3), [])),
      |   x -> x.line), chr(10)) AS clean_text,
      | CAST(count(*) FILTER (WHERE c < 3) AS BIGINT) AS n_lines_kept,
      | CAST(count(*) FILTER (WHERE c >= 3) AS BIGINT) AS n_lines_removed
      |FROM cnt GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // ------------------------------------------------------------ chunking

  /** 32-token windows, stride 16 (50% overlap), over every document. */
  def chunking(s: SparkSession, d: String): DataFrame =
    TextAnalysis.chunk(Tables.documents(s, d), "text", "doc_id",
        chunkSize = 32, stride = 16)
      .orderBy("doc_id", "chunk_id")

  private val chunkingOracle =
    """WITH toks AS (
      | SELECT doc_id,
      |  list_filter(string_split_regex(lower(text), '\s+'), t -> len(t) > 0) AS ts
      | FROM documents),
      |cx AS (
      | SELECT doc_id, unnest(list_transform(
      |   range(0, CAST(floor((greatest(len(ts) - 32, 0) + 15) / 16.0) AS BIGINT) + 1),
      |   i -> {'cid': i,
      |         'txt': array_to_string(ts[i*16+1 : i*16+32], ' '),
      |         'n': least(len(ts) - i*16, 32)})) AS u
      | FROM toks WHERE len(ts) > 0)
      |SELECT doc_id, CAST(u.cid AS BIGINT) AS chunk_id, u.txt AS chunk_text,
      | CAST(u.n AS BIGINT) AS n_chunk_tokens
      |FROM cx ORDER BY doc_id, chunk_id""".stripMargin

  // --------------------------------------------------------------- tfidf

  /** Top-3 distinctive terms per document (exact integer tf/df score —
    * see TextAnalysis.tfidfTopTerms for why not float log-idf). */
  def tfidf(s: SparkSession, d: String): DataFrame =
    TextAnalysis.tfidfTopTerms(Tables.documents(s, d), "text", "doc_id", k = 3)
      .orderBy("doc_id", "rank")

  private val tfidfOracle =
    """WITH tf AS (
      | SELECT doc_id, tok AS term, count(*) AS tf FROM (
      |  SELECT doc_id, unnest(list_filter(
      |    string_split_regex(lower(text), '\s+'), t -> len(t) > 0)) AS tok
      |  FROM documents) t GROUP BY doc_id, tok),
      |x AS (
      | SELECT doc_id, term, tf, count(*) OVER (PARTITION BY term) AS df
      | FROM tf),
      |r AS (
      | SELECT doc_id, term, tf, df, tf * 1000000000000 // df AS score,
      |  row_number() OVER (PARTITION BY doc_id
      |    ORDER BY tf * 1000000000000 // df DESC, term) AS rank
      | FROM x)
      |SELECT doc_id, CAST(rank AS BIGINT) AS rank, term,
      | CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df,
      | CAST(score AS BIGINT) AS score
      |FROM r WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin

  // ----------------------------------------------------------- html clean

  /** Documents wrapped in deterministic markup (tags on all, a script
    * block on every 3rd, entities on every 4th): the cleaner must
    * recover the visible text byte-for-byte vs the DuckDB replay. */
  def htmlClean(s: SparkSession, d: String): DataFrame = {
    val corpus = Tables.documents(s, d).select(
      col("doc_id"),
      concat(
        lit("<html><BODY class=\"main\"><p>"), col("text"), lit("</p>"),
        when(col("doc_id") % 3 === 0,
          lit("<script type=\"text/javascript\">var x = 1 < 2;</script>"))
          .otherwise(lit("")),
        when(col("doc_id") % 4 === 0,
          lit("<p>Tom &amp; Jerry say &quot;hi&quot; &#39;n&#39; wave &lt;here&gt;&nbsp;twice</p>"))
          .otherwise(lit("")),
        lit("</body></html>")).as("text"))
    TextAnalysis.htmlClean(corpus, "text", "doc_id").orderBy("doc_id")
  }

  private val htmlCleanOracle =
    """WITH corpus AS (
      | SELECT doc_id, '<html><BODY class="main"><p>' || text || '</p>'
      |  || CASE WHEN doc_id % 3 = 0
      |     THEN '<script type="text/javascript">var x = 1 < 2;</script>' ELSE '' END
      |  || CASE WHEN doc_id % 4 = 0
      |     THEN '<p>Tom &amp; Jerry say &quot;hi&quot; &#39;n&#39; wave &lt;here&gt;&nbsp;twice</p>'
      |     ELSE '' END
      |  || '</body></html>' AS text
      | FROM documents)
      |SELECT doc_id, trim(regexp_replace(
      | regexp_replace(regexp_replace(regexp_replace(regexp_replace(
      |  regexp_replace(regexp_replace(regexp_replace(
      |   regexp_replace(regexp_replace(text,
      |    '(?is)<script[^>]*>.*?</script>', ' ', 'g'),
      |    '(?is)<style[^>]*>.*?</style>', ' ', 'g'),
      |   '(?s)<[^>]*>', ' ', 'g'),
      |  '&lt;', '<', 'g'), '&gt;', '>', 'g'), '&quot;', '"', 'g'),
      |  '&#39;', chr(39), 'g'), '&nbsp;', ' ', 'g'), '&amp;', '&', 'g'),
      | '\s+', ' ', 'g')) AS clean_text
      |FROM corpus ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- bm25

  /** BM25 top-10 documents for the query {spark, hash, join} (exact
    * rational scoring — see TextAnalysis.bm25Search). */
  def bm25(s: SparkSession, d: String): DataFrame =
    TextAnalysis.bm25Search(Tables.documents(s, d), "text", "doc_id",
      query = Seq("spark", "hash", "join"), k = 10)

  /** t43: RAG passage retrieval — BM25 over CHUNKS instead of whole
    * documents (TextAnalysis.chunk at the t9 window/stride feeding
    * bm25Search keyed by doc_id·2³² + chunk_id — collision-free for
    * any doc under 2³² chunks ≈ 68 G tokens, unlike a small decimal
    * multiplier that would silently merge postings of a ≥16 k-token
    * document's chunk 1000 with the next doc's chunk 0): the
    * retrieval-unit granularity shift every RAG pipeline performs,
    * composed from two gate-proven stages with zero new operator code.
    * The oracle replays chunking AND chunk-level BM25 end to end. */
  def chunkSearch(s: SparkSession, d: String): DataFrame = {
    // Packed-key overflow guard: doc_id ≥ 2^31 would wrap the Long and
    // silently COLLIDE postings across documents. The guard lives in
    // the key expression itself (a dropped check column would be
    // pruned away by the optimizer and never evaluated); promote to a
    // struct/string key if this shape ever outgrows the bound.
    val packedKey = when(col("doc_id").between(0L, 2147483647L),
        col("doc_id") * 4294967296L + col("chunk_id"))
      .otherwise(raise_error(lit(
        "chunkSearch: doc_id outside [0, 2^31) overflows the packed chunk_key")))
    val chunks = TextAnalysis.chunk(Tables.documents(s, d), "text",
        "doc_id", chunkSize = 32, stride = 16)
      .select(packedKey.as("chunk_key"), col("chunk_text"))
    TextAnalysis.bm25Search(chunks, "chunk_text", "chunk_key",
      query = Seq("spark", "hash", "join"), k = 10)
  }

  private val chunkSearchOracle =
    """WITH toks0 AS (
      | SELECT doc_id,
      |  list_filter(string_split_regex(lower(text), '\s+'), t -> len(t) > 0) AS ts
      | FROM documents),
      |cx AS (
      | SELECT doc_id, unnest(list_transform(
      |   range(0, CAST(floor((greatest(len(ts) - 32, 0) + 15) / 16.0) AS BIGINT) + 1),
      |   i -> {'cid': i,
      |         'txt': array_to_string(ts[i*16+1 : i*16+32], ' ')})) AS u
      | FROM toks0 WHERE len(ts) > 0),
      |toks AS (
      | SELECT doc_id * 4294967296 + u.cid AS chunk_key,
      |  unnest(list_filter(string_split_regex(lower(u.txt), '\s+'),
      |    t -> len(t) > 0)) AS term
      | FROM cx),
      |tf AS (SELECT chunk_key, term, count(*) AS tf FROM toks GROUP BY 1, 2),
      |dld AS (
      | SELECT chunk_key, term, tf, sum(tf) OVER (PARTITION BY chunk_key) AS dl
      | FROM tf),
      |c AS (
      | SELECT CAST(count(DISTINCT chunk_key) AS HUGEINT) AS n,
      |        CAST(sum(tf) AS HUGEINT) AS t FROM tf),
      |q AS (
      | SELECT chunk_key, term, CAST(tf AS HUGEINT) AS tf,
      |        CAST(dl AS HUGEINT) AS dl,
      |        CAST(count(*) OVER (PARTITION BY term) AS HUGEINT) AS df
      | FROM dld WHERE term IN ('spark', 'hash', 'join')),
      |sc AS (
      | SELECT chunk_key,
      |  (22000000 * tf * t * (2 * (n - df) + 1))
      |   // ((10 * t * tf + 3 * t + 9 * dl * n) * (2 * df + 1)) AS term_score
      | FROM q, c)
      |SELECT chunk_key, CAST(sum(term_score) AS BIGINT) AS score,
      | count(*) AS n_terms
      |FROM sc GROUP BY chunk_key
      |ORDER BY score DESC, chunk_key LIMIT 10""".stripMargin

  /** t42: the index/serve split — two disjoint corpus halves indexed
    * as separate parquet APPENDS (union-is-merge under the
    * document-atomic contract), each with its one-row
    * [[TextAnalysis.bm25Stats]] sidecar appended the same way, read
    * back, served with corpus scalars from the MERGED SIDECAR — the
    * serve plan never re-aggregates the postings for N/T. Must equal
    * t11's direct-search oracle exactly: the persisted roundtrip, the
    * increment union, and the sidecar-vs-recompute scalar source
    * change nothing about the scoring integers. */
  def bm25FromIndex(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val root = java.nio.file.Files.createTempDirectory("graft_t42_")
    val ixDir = root.resolve("ix").toString
    val statsDir = root.resolve("ix_stats").toString
    val lo = docs.where(col("doc_id") < 250)
    val hi = docs.where(col("doc_id") >= 250)
    TextAnalysis.bm25Index(lo, "text", "doc_id")
      .write.mode("overwrite").parquet(ixDir)
    TextAnalysis.bm25Stats(lo, "text", "doc_id")
      .write.mode("overwrite").parquet(statsDir)
    TextAnalysis.bm25Index(hi, "text", "doc_id")
      .write.mode("append").parquet(ixDir)
    TextAnalysis.bm25Stats(hi, "text", "doc_id")
      .write.mode("append").parquet(statsDir)
    TextAnalysis.bm25SearchIndex(s.read.parquet(ixDir), "doc_id",
      query = Seq("spark", "hash", "join"), k = 10,
      stats = s.read.parquet(statsDir))
  }

  private[queries] val bm25Oracle =
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
      |s AS (
      | SELECT doc_id,
      |  (22000000 * tf * t * (2 * (n - df) + 1))
      |   // ((10 * t * tf + 3 * t + 9 * dl * n) * (2 * df + 1)) AS term_score
      | FROM q, c)
      |SELECT doc_id, CAST(sum(term_score) AS BIGINT) AS score,
      | count(*) AS n_terms
      |FROM s GROUP BY doc_id
      |ORDER BY score DESC, doc_id LIMIT 10""".stripMargin

  /** t57: the BM25 persisted-index TAKEDOWN lifecycle
    * ([[graft.ext.Bm25Index]] — build → append → delete → serve): the
    * corpus lands as two increments, every doc_id divisible by 3 is
    * taken down (markers with the docs' dl captured, no rebuild), and
    * the serve must equal a direct BM25 search over the REMAINING
    * corpus integer-for-integer — df, dl, and the N/T corpus scalars
    * (folded as a marker-sized negative stats increment) must all
    * reflect the removal, so a marker leak at ANY serve stage (the
    * candidate anti-join, the df aggregate, the stats fold) is a row
    * diff against the oracle. The spec additionally pins pre/post-
    * compact serve equality and replayed-append absorption. */
  def bm25IndexTakedown(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val root = java.nio.file.Files.createTempDirectory("graft_t57_")
      .resolve("bm25_idx").toString
    graft.ext.Bm25Index.build(root, docs.where(col("doc_id") < 250),
      "text", "doc_id")
    graft.ext.Bm25Index.append(root, docs.where(col("doc_id") >= 250),
      "text", "doc_id")
    graft.ext.Bm25Index.delete(s, root,
      docs.where(col("doc_id") % 3 === 0).select(col("doc_id")), "doc_id")
    graft.ext.Bm25Index.search(s, root,
      query = Seq("spark", "hash", "join"), k = 10)
  }

  /** The t11/t42 oracle over the remaining (post-takedown) corpus. */
  private[queries] val bm25TakedownOracle = {
    val restricted = bm25Oracle.replace("FROM documents)",
      "FROM documents WHERE doc_id % 3 <> 0)")
    require(restricted != bm25Oracle, "bm25 takedown oracle: corpus " +
      "restriction failed to apply — bm25Oracle text changed?")
    restricted
  }

  /** t60: the pre-opened BM25 serve handle
    * ([[graft.ext.Bm25Index.open]]) — the stale-handle trap st37 pins
    * for ANN, in batch form: the handle opens while only the FIRST
    * increment exists, then the append AND the takedown both flow
    * through it, and the final serve (same handle) must equal a direct
    * BM25 search over the remaining corpus integer-for-integer — a
    * handle that snapshotted ANY table at open time (postings, stats,
    * markers) is a row diff. Takedown set (%5==2) deliberately differs
    * from t57's (%3==0) so the two gates cannot mask each other. */
  def bm25OpenedServe(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val root = java.nio.file.Files.createTempDirectory("graft_t60_")
      .resolve("bm25_idx").toString
    graft.ext.Bm25Index.build(root, docs.where(col("doc_id") < 250),
      "text", "doc_id")
    val ix = graft.ext.Bm25Index.open(s, root)
    ix.append(docs.where(col("doc_id") >= 250), "text", "doc_id")
    ix.delete(docs.where(col("doc_id") % 5 === 2).select(col("doc_id")),
      "doc_id")
    ix.search(query = Seq("spark", "hash", "join"), k = 10)
  }

  /** The t61 query batch, shared by the gate and its oracle text so
    * the two cannot drift: ten 2-term queries, each 'spark' plus one
    * frequent synthetic-vocab word. */
  private val manyQueryTerms: Seq[(Long, String)] = {
    val w = Seq("row", "batch", "scan", "column", "filter",
      "merge", "vector", "stream", "window", "sort")
    (0 until 10).flatMap(q => Seq(q.toLong -> "spark", q.toLong -> w(q)))
  }

  /** t61: MULTI-QUERY serve from the persisted BM25 index
    * ([[graft.ext.Bm25Index.searchMany]] — the training-set-scale
    * lexical twin of AnnIndex.mineTopK): ten (qid, term) queries flow
    * through ONE plan over one pass of the term-filtered live
    * postings, with a takedown (%9==2 — a modulus no other gate uses)
    * applied mid-lifecycle through the same pre-opened handle. Every
    * query's 5-deep ranked list must equal a fresh per-query BM25 over
    * the remaining corpus integer-for-integer — df computed once for
    * the batch must equal per-query df, the shared N/T marker fold
    * must land in every query's normalization, and the qid-partitioned
    * rank window must reproduce each query's (score desc, doc_id)
    * tie-break. The spec additionally pins batch == per-query serve
    * and pushdown-mode == semi-join-mode equality. */
  def bm25SearchManyPersisted(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, d)
    val root = java.nio.file.Files.createTempDirectory("graft_t61_")
      .resolve("bm25_idx").toString
    graft.ext.Bm25Index.build(root, docs.where(col("doc_id") < 250),
      "text", "doc_id")
    val ix = graft.ext.Bm25Index.open(s, root)
    ix.append(docs.where(col("doc_id") >= 250), "text", "doc_id")
    ix.delete(docs.where(col("doc_id") % 9 === 2).select(col("doc_id")),
      "doc_id")
    ix.searchMany(manyQueryTerms.toDF("qid", "term"), k = 5)
      .orderBy("qid", "doc_id")
  }

  private[queries] val bm25ManyOracle = {
    val values = manyQueryTerms
      .map { case (q, t) => s"($q, '$t')" }.mkString(", ")
    s"""WITH qt AS (SELECT * FROM (VALUES $values) AS v(qid, term)),
       |toks AS (
       | SELECT doc_id, unnest(list_filter(
       |   string_split_regex(lower(text), '\\s+'), t -> len(t) > 0)) AS term
       | FROM documents WHERE doc_id % 9 <> 2),
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
       | SELECT qid, doc_id, sum(term_score) AS score,
       |  count(*) AS n_terms
       | FROM sc GROUP BY 1, 2),
       |rk AS (
       | SELECT qid, doc_id, score, n_terms, row_number() OVER (
       |   PARTITION BY qid ORDER BY score DESC, doc_id) AS lex_rank
       | FROM agg)
       |SELECT CAST(qid AS BIGINT) AS qid, doc_id,
       | CAST(score AS BIGINT) AS score,
       | CAST(n_terms AS BIGINT) AS n_terms,
       | CAST(lex_rank AS BIGINT) AS lex_rank
       |FROM rk WHERE lex_rank <= 5 ORDER BY qid, doc_id""".stripMargin
  }

  private[queries] val bm25OpenedOracle = {
    val restricted = bm25Oracle.replace("FROM documents)",
      "FROM documents WHERE doc_id % 5 <> 2)")
    require(restricted != bm25Oracle, "bm25 opened-serve oracle: corpus " +
      "restriction failed to apply — bm25Oracle text changed?")
    restricted
  }

  // ------------------------------------------------- substring dedup

  /** Corpus for the exact-substring dedup gates: every 10th document
    * gains the same 12-token trailing passage, so those 50 documents
    * share a long duplicated run (plus whatever 6-grams the synthetic
    * texts naturally repeat across documents — also deterministic). */
  private def dupSpanCorpus(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).select(
      col("doc_id"),
      when(col("doc_id") % 10 === 0,
        concat(col("text"), lit(
          " lorem shared passage alpha beta gamma delta epsilon zeta eta theta iota")))
        .otherwise(col("text")).as("text"))

  /** Maximal cross-document duplicated token spans, k = 6. hashed=false
    * so the DuckDB oracle replays the gram text exactly; SubstringSpec
    * asserts the hashed fingerprint path is span-identical. */
  def dupSpans(s: SparkSession, d: String): DataFrame =
    SubstringDedup.duplicateSpans(dupSpanCorpus(s, d), "text", "doc_id",
        k = 6, hashed = false)
      .orderBy("doc_id", "span_start")

  private val dupSpanGramsCte =
    """WITH corpus AS (
      | SELECT doc_id, CASE WHEN doc_id % 10 = 0 THEN text ||
      |   ' lorem shared passage alpha beta gamma delta epsilon zeta eta theta iota'
      |  ELSE text END AS text FROM documents),
      |toksl AS (
      | SELECT doc_id, list_filter(string_split_regex(text, '\s+'),
      |   t -> len(t) > 0) AS ts FROM corpus),
      |rawg AS (
      | SELECT doc_id, len(ts) AS n, unnest(list_transform(
      |   range(1, greatest(len(ts) - 6, 0) + 2),
      |   i -> struct_pack(pos := i, gram := array_to_string(ts[i:i+5], ' ')))) AS g
      | FROM toksl),
      |starts AS (
      | SELECT doc_id, g.pos AS pos, least(g.pos + 5, n) AS e, g.gram AS gram
      | FROM rawg),
      |dup AS (
      | SELECT gram FROM (SELECT DISTINCT doc_id, gram FROM starts)
      | GROUP BY gram HAVING count(*) >= 2),
      |ds AS (SELECT s.doc_id, s.pos, s.e FROM starts s JOIN dup USING (gram))""".stripMargin

  private val dupSpansOracle = dupSpanGramsCte +
    """,
      |isl AS (
      | SELECT doc_id, pos, e,
      |  CASE WHEN pos <= coalesce(max(e) OVER (
      |     PARTITION BY doc_id ORDER BY pos
      |     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |   THEN 0 ELSE 1 END AS nw
      | FROM ds),
      |isl2 AS (
      | SELECT doc_id, pos, e, sum(nw) OVER (
      |   PARTITION BY doc_id ORDER BY pos
      |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
      | FROM isl)
      |SELECT doc_id, min(pos) AS span_start, max(e) AS span_end
      |FROM isl2 GROUP BY doc_id, island ORDER BY doc_id, span_start""".stripMargin

  /** The corpus with every duplicated span removed (whitespace-normalized
    * rebuild; "" when a document was entirely duplicated). */
  def dupSpanClean(s: SparkSession, d: String): DataFrame =
    SubstringDedup.removeDuplicateSpans(dupSpanCorpus(s, d), "text", "doc_id",
        k = 6, hashed = false)
      .orderBy("doc_id")

  private val dupSpanCleanOracle = dupSpanGramsCte +
    """,
      |toks AS (
      | SELECT doc_id, unnest(list_transform(ts,
      |   (t, i) -> struct_pack(pos := i, tok := t))) AS tk
      | FROM toksl),
      |kept AS (
      | SELECT t.doc_id, t.tk.pos AS pos, t.tk.tok AS tok FROM toks t
      | WHERE NOT EXISTS (SELECT 1 FROM ds
      |   WHERE ds.doc_id = t.doc_id AND t.tk.pos BETWEEN ds.pos AND ds.e)),
      |agg AS (
      | SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS clean_text
      | FROM kept GROUP BY doc_id)
      |SELECT c.doc_id, coalesce(a.clean_text, '') AS clean_text
      |FROM corpus c LEFT JOIN agg a ON c.doc_id = a.doc_id
      |ORDER BY c.doc_id""".stripMargin

  // ------------------------------------------------- pseudonymization

  /** Keyed SHA-256 pseudonymization of customer identifier columns
    * (TextAnalysis.pseudonymize): deterministic tokens, exact replay. */
  def pseudonymizeGate(s: SparkSession, d: String): DataFrame =
    TextAnalysis.pseudonymize(Tables.customer(s, d),
        Seq("c_name", "c_mktsegment"), salt = "graft-salt")
      .select("c_custkey", "c_name", "c_mktsegment")
      .orderBy("c_custkey")

  private val pseudonymizeOracle =
    """SELECT c_custkey,
      | sha256('graft-salt' || c_name) AS c_name,
      | sha256('graft-salt' || c_mktsegment) AS c_mktsegment
      |FROM customer ORDER BY c_custkey""".stripMargin

  // ------------------------------------------------------ url parsing

  /** Documents with deterministically planted URLs (7 rotating hosts,
    * uppercase WWW to exercise case-folding + www-strip, query strings
    * to exercise path truncation); urlParse must recover every
    * component vs the same regexes replayed in DuckDB. */
  def urlStats(s: SparkSession, d: String): DataFrame = {
    val corpus = Tables.documents(s, d).select(
      col("doc_id"),
      concat(lit("https://WWW.site"), col("doc_id") % 7,
        lit(".example.com/p/"), col("doc_id"), lit("?ref=x&y=2")).as("url"))
    TextAnalysis.urlParse(corpus, "url")
      .select("doc_id", "scheme", "host", "domain", "path")
      .orderBy("doc_id")
  }

  private val urlStatsOracle =
    """WITH c AS (SELECT doc_id,
      |  'https://WWW.site' || (doc_id % 7) || '.example.com/p/'
      |   || doc_id || '?ref=x&y=2' AS url
      | FROM documents)
      |SELECT doc_id,
      | lower(regexp_extract(url, '^([a-zA-Z][a-zA-Z0-9+.-]*)://', 1)) AS scheme,
      | lower(regexp_extract(url,
      |   '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]*)', 1)) AS host,
      | regexp_replace(lower(regexp_extract(url,
      |   '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]*)', 1)), '^www\.', '') AS domain,
      | regexp_extract(url,
      |   '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*([^?#]*)', 1) AS path
      |FROM c ORDER BY doc_id""".stripMargin

  /** URL canonicalization (ext TextAnalysis.urlCanonicalize): four
    * rotating dirt shapes — uppercase scheme/host + default port +
    * tracking params + unsorted query + fragment + trailing slash;
    * default https port; tracking-only query; missing path — each must
    * collapse to the canonical spelling, replayed rule-for-rule in the
    * oracle. */
  def urlCanonGate(s: SparkSession, d: String): DataFrame = {
    val k = col("doc_id") % 7
    val corpus = Tables.documents(s, d).select(col("doc_id"),
      when(col("doc_id") % 4 === 0,
        concat(lit("HTTP://WWW.Site"), k,
          lit(".Example.COM:80/A/B/?utm_source=x&b=2&a=1#frag")))
      .when(col("doc_id") % 4 === 1,
        concat(lit("https://Site"), k, lit(".example.com:443/")))
      .when(col("doc_id") % 4 === 2,
        concat(lit("https://www.site"), k, lit(".example.com/p/"),
          col("doc_id"), lit("?fbclid=z&ref=tw")))
      .otherwise(concat(lit("http://site"), k, lit(".example.com")))
      .as("url"))
    TextAnalysis.urlCanonicalize(corpus, "url")
      .select("doc_id", "url_canon")
      .orderBy("doc_id")
  }

  private val urlCanonOracle =
    """WITH c AS (SELECT doc_id,
      |  CASE doc_id % 4
      |   WHEN 0 THEN 'HTTP://WWW.Site' || (doc_id % 7)
      |    || '.Example.COM:80/A/B/?utm_source=x&b=2&a=1#frag'
      |   WHEN 1 THEN 'https://Site' || (doc_id % 7) || '.example.com:443/'
      |   WHEN 2 THEN 'https://www.site' || (doc_id % 7)
      |    || '.example.com/p/' || doc_id || '?fbclid=z&ref=tw'
      |   ELSE 'http://site' || (doc_id % 7) || '.example.com'
      |  END AS url FROM documents),
      |s1 AS (SELECT doc_id, regexp_replace(url, '#.*$', '') AS u FROM c),
      |parts AS (SELECT doc_id,
      |  lower(regexp_extract(u, '^([a-zA-Z][a-zA-Z0-9+.-]*)://', 1)) AS scheme,
      |  lower(regexp_extract(u,
      |    '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]*)', 1)) AS hostport,
      |  regexp_extract(u,
      |    '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*([^?#]*)', 1) AS rawpath,
      |  regexp_extract(u, '\?([^#]*)', 1) AS q
      | FROM s1),
      |norm AS (SELECT doc_id, scheme,
      |  regexp_replace(
      |    CASE WHEN scheme = 'http' THEN regexp_replace(hostport, ':80$', '')
      |         WHEN scheme = 'https' THEN regexp_replace(hostport, ':443$', '')
      |         ELSE hostport END, '^www\.', '') AS host,
      |  CASE WHEN rawpath = '' THEN '/'
      |       WHEN len(rawpath) > 1 THEN regexp_replace(rawpath, '/$', '')
      |       ELSE rawpath END AS path,
      |  array_to_string(list_sort(list_filter(string_split(q, '&'),
      |    p -> p <> '' AND NOT regexp_matches(p,
      |      '^(utm_[A-Za-z0-9_]*|gclid|fbclid|msclkid|ref)='))), '&') AS qs
      | FROM parts)
      |SELECT doc_id, scheme || '://' || host || path ||
      |  CASE WHEN qs <> '' THEN '?' || qs ELSE '' END AS url_canon
      |FROM norm ORDER BY doc_id""".stripMargin

  /** robots.txt compliance (ext TextAnalysis.robotsFilter): hosts serve
    * REAL robots bodies — host 0 blocks the agent via a specific-agent
    * group (which must override its allow-all star group), the rest
    * carry a Disallow with a LONGER Allow carve-out plus a wildcard
    * Disallow of `/p/` + `*.pdf$` (RFC 9309 `*`/`$` special
    * characters) — and
    * paths rotate through blocked / carved-out / pdf / open shapes. The
    * RFC longest-match, wildcard and group-selection rules must
    * reproduce the arithmetic decision the oracle derives without
    * parsing a byte. */
  def robotsGate(s: SparkSession, d: String): DataFrame = {
    val k = col("doc_id") % 7
    val robots = when(k === 0,
      lit("User-agent: graftbot\nDisallow: /\n\n" +
        "User-agent: *\nAllow: /\n"))
      .otherwise(lit("# host policy\nUser-agent: *\n" +
        "Disallow: /p/blocked\nAllow: /p/blocked/ok\n" +
        "Disallow: /p/*.pdf$\nCrawl-delay: 5\n"))
    val path = when(col("doc_id") % 3 === 0,
        concat(lit("/p/blocked/"), col("doc_id")))
      .when(col("doc_id") % 5 === 0,
        concat(lit("/p/blocked/ok/"), col("doc_id")))
      .when(col("doc_id") % 11 === 0,
        concat(lit("/p/files/"), col("doc_id"), lit(".pdf")))
      .otherwise(concat(lit("/p/open/"), col("doc_id")))
    val corpus = Tables.documents(s, d).select(col("doc_id"),
      robots.as("robots"), path.as("path"))
    TextAnalysis.robotsFilter(corpus, "robots", "path", "graftbot")
      .select("doc_id", "allowed")
      .orderBy("doc_id")
  }

  private val robotsOracle =
    """SELECT doc_id,
      | doc_id % 7 <> 0 AND doc_id % 3 <> 0
      |   AND NOT (doc_id % 5 <> 0 AND doc_id % 11 = 0) AS allowed
      |FROM documents ORDER BY doc_id""".stripMargin

  /** Sitemap URL extraction (ext TextAnalysis.sitemapUrls): every doc
    * carries a real urlset XML with two <loc> entries (the second
    * whitespace-padded, which must trim); the oracle re-derives both
    * from doc_id. */
  def sitemapGate(s: SparkSession, d: String): DataFrame = {
    val k = col("doc_id") % 7
    val xml = concat(
      lit("<?xml version=\"1.0\"?><urlset><url><loc>https://site"), k,
      lit(".example.com/p/"), col("doc_id"),
      lit("</loc></url><url><loc>  https://site"), k,
      lit(".example.com/about\n</loc></url></urlset>"))
    TextAnalysis.sitemapUrls(
        Tables.documents(s, d).select(col("doc_id"), xml.as("xml")),
        "xml", "doc_id")
      .orderBy("doc_id", "pos")
  }

  private val sitemapOracle =
    """SELECT doc_id, CAST(0 AS BIGINT) AS pos,
      | 'https://site' || (doc_id % 7) || '.example.com/p/' || doc_id AS url
      |FROM documents
      |UNION ALL
      |SELECT doc_id, CAST(1 AS BIGINT) AS pos,
      | 'https://site' || (doc_id % 7) || '.example.com/about' AS url
      |FROM documents
      |ORDER BY doc_id, pos""".stripMargin

  // --------------------------------------------------- script profile

  /** Documents with planted non-Latin passages: every 13th doc becomes
    * pure Cyrillic (dominant-script flip), every 5th/7th/11th gains a
    * Cyrillic/CJK/Greek suffix (mixed-script counts). */
  private def scriptCorpus(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).select(
      col("doc_id"),
      when(col("doc_id") % 13 === 0,
        lit(" привет мир это тест привет мир это тест привет мир"))
        .otherwise(concat(col("text"),
          when(col("doc_id") % 5 === 0, lit(" привет мир")).otherwise(lit("")),
          when(col("doc_id") % 7 === 0, lit(" 你好 世界 こんにちは"))
            .otherwise(lit("")),
          when(col("doc_id") % 11 === 0, lit(" γειά σου κόσμε"))
            .otherwise(lit("")))).as("text"))

  def scriptProfileGate(s: SparkSession, d: String): DataFrame =
    TextAnalysis.scriptProfile(scriptCorpus(s, d), "text", "doc_id")
      .orderBy("doc_id")

  private val scriptOracle =
    """WITH corpus AS (
      | SELECT doc_id, CASE WHEN doc_id % 13 = 0
      |  THEN ' привет мир это тест привет мир это тест привет мир'
      |  ELSE text
      |   || CASE WHEN doc_id % 5 = 0 THEN ' привет мир' ELSE '' END
      |   || CASE WHEN doc_id % 7 = 0 THEN ' 你好 世界 こんにちは' ELSE '' END
      |   || CASE WHEN doc_id % 11 = 0 THEN ' γειά σου κόσμε' ELSE '' END
      |  END AS text FROM documents),
      |counts AS (
      | SELECT doc_id,
      |  CAST(len(regexp_extract_all(text, '[A-Za-z]')) AS BIGINT) AS n_latin,
      |  CAST(len(regexp_extract_all(text, '[Ѐ-ӿ]')) AS BIGINT) AS n_cyrillic,
      |  CAST(len(regexp_extract_all(text, '[Ͱ-Ͽ]')) AS BIGINT) AS n_greek,
      |  CAST(len(regexp_extract_all(text, '[぀-ヿ一-鿿]')) AS BIGINT) AS n_cjk,
      |  CAST(len(regexp_extract_all(text, '[0-9]')) AS BIGINT) AS n_digit
      | FROM corpus)
      |SELECT doc_id, n_latin, n_cyrillic, n_greek, n_cjk, n_digit,
      | CASE WHEN n_latin >= n_cyrillic AND n_latin >= n_greek
      |        AND n_latin >= n_cjk THEN 'latin'
      |      WHEN n_cyrillic >= n_greek AND n_cyrillic >= n_cjk
      |        THEN 'cyrillic'
      |      WHEN n_greek >= n_cjk THEN 'greek'
      |      ELSE 'cjk' END AS main_script
      |FROM counts ORDER BY doc_id""".stripMargin

  // ------------------------------------------------- novelty scoring

  /** Rare-gram novelty per document: distinct 3-grams with corpus
    * df = 1 (SubstringDedup.noveltyScore, exact integer counts;
    * hashed=false for the text replay, SubstringSpec covers hashed). */
  def novelty(s: SparkSession, d: String): DataFrame =
    SubstringDedup.noveltyScore(Tables.documents(s, d), "text", "doc_id",
        k = 3, hashed = false)
      .orderBy("doc_id")

  private val noveltyOracle =
    """WITH toksl AS (
      | SELECT doc_id, list_filter(string_split_regex(text, '\s+'),
      |   t -> len(t) > 0) AS ts FROM documents),
      |g AS (SELECT DISTINCT doc_id, gram FROM (
      | SELECT doc_id, unnest(list_transform(
      |   range(1, greatest(len(ts) - 3, 0) + 2),
      |   i -> array_to_string(ts[i:i+2], ' '))) AS gram FROM toksl)),
      |dfc AS (SELECT gram, count(*) AS df FROM g GROUP BY 1)
      |SELECT doc_id, count(*) AS n_grams,
      | CAST(sum(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_novel
      |FROM g JOIN dfc USING (gram)
      |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // --------------------------------------------------- token masking

  /** Deterministic 15% token masking (TextAnalysis.maskTokens) — the
    * integer-arithmetic draw replays exactly in DuckDB. */
  def maskGate(s: SparkSession, d: String): DataFrame =
    TextAnalysis.maskTokens(Tables.documents(s, d), "text", "doc_id",
        pct = 15)
      .orderBy("doc_id")

  private val maskOracle =
    """WITH toksl AS (
      | SELECT doc_id, list_filter(string_split_regex(text, '\s+'),
      |   t -> len(t) > 0) AS ts FROM documents)
      |SELECT doc_id,
      | CASE WHEN len(ts) = 0 THEN '' ELSE array_to_string(
      |   list_transform(ts, (t, i) ->
      |     CASE WHEN (doc_id * 2654435761 + i * 40503) % 100 < 15
      |       THEN '<mask>' ELSE t END), ' ') END AS masked_text,
      | CAST(len(ts) AS BIGINT) AS n_tokens,
      | CAST(len(list_filter(range(1, len(ts) + 1),
      |   i -> (doc_id * 2654435761 + i * 40503) % 100 < 15)) AS BIGINT)
      |   AS n_masked
      |FROM toksl ORDER BY doc_id""".stripMargin

  /** t45: fill-in-the-middle transform (TextAnalysis.fimTransform,
    * Bavarian et al. 2022) at 30% / PSM / seed 7 — membership and both
    * character cuts come from the shared integer sampling hash, so the
    * whole rewrite replays exactly in DuckDB (the corpus is ASCII:
    * char offsets agree across engines — TESTDATA note). */
  def fimGate(s: SparkSession, d: String): DataFrame =
    TextAnalysis.fimTransform(Tables.documents(s, d), "text", "doc_id",
        ratePpm = 300000L, seed = 7L)
      .orderBy("doc_id")

  // ks(seed) = 2654435761·(seed+1) mod (2^31−1) for seeds 7/8/9;
  // threshold = 300000·M div 1e6 = 644245094
  private val fimOracle =
    """WITH h AS (
      | SELECT doc_id, text, length(text) AS n,
      |  ((doc_id % 2147483647) * 1908133265 + 7) % 2147483647 AS hm,
      |  ((doc_id % 2147483647) * 267601732 + 8) % 2147483647 AS h1,
      |  ((doc_id % 2147483647) * 774553846 + 9) % 2147483647 AS h2
      | FROM documents),
      |c AS (
      | SELECT doc_id, text, n, hm < 644245094 AS fim,
      |  least(h1 % (n + 1), h2 % (n + 1)) AS lo,
      |  greatest(h1 % (n + 1), h2 % (n + 1)) AS hi
      | FROM h)
      |SELECT doc_id, fim,
      | CASE WHEN fim THEN '<|fim_prefix|>' || substr(text, 1, CAST(lo AS INT))
      |   || '<|fim_suffix|>' || substr(text, CAST(hi + 1 AS INT), CAST(n - hi AS INT))
      |   || '<|fim_middle|>' || substr(text, CAST(lo + 1 AS INT), CAST(hi - lo AS INT))
      |  ELSE text END AS fim_text
      |FROM c ORDER BY doc_id""".stripMargin

  /** Top-25 bigram collocations by exact-integer PMI order (ext
    * TextAnalysis.pmiBigrams — score co·T·10⁶ div (n1·n2), the
    * exponential of PMI, float-free). */
  def pmi(s: SparkSession, d: String): DataFrame =
    TextAnalysis.pmiBigrams(Tables.documents(s, d), "text",
      minCo = 5L, topK = 25)

  private val pmiOracle =
    """WITH toks AS (
      | SELECT doc_id,
      |  list_filter(string_split_regex(lower(text), '\s+'),
      |    t -> len(t) > 0) AS ts
      | FROM documents),
      |uni AS (
      | SELECT w, count(*) AS n
      | FROM (SELECT unnest(ts) AS w FROM toks) GROUP BY 1),
      |tot AS (SELECT sum(n) AS t FROM uni),
      |big AS (
      | SELECT unnest(ts[1:len(ts) - 1]) AS w1,
      |        unnest(ts[2:len(ts)]) AS w2
      | FROM toks WHERE len(ts) >= 2),
      |co AS (
      | SELECT w1, w2, count(*) AS co FROM big GROUP BY 1, 2
      | HAVING count(*) >= 5)
      |SELECT co.w1, co.w2, co.co, a.n AS n1, b.n AS n2,
      | CAST(co.co * tot.t * 1000000 // (a.n * b.n) AS BIGINT) AS score_e6
      |FROM co JOIN uni a ON a.w = co.w1 JOIN uni b ON b.w = co.w2
      |CROSS JOIN tot
      |ORDER BY score_e6 DESC, co.w1, co.w2 LIMIT 25""".stripMargin

  /** Gopher quality rules (ext TextAnalysis.gopherQuality) — every rule
    * input and the verdict, all exact-integer. */
  def gopher(s: SparkSession, d: String): DataFrame =
    TextAnalysis.gopherQuality(Tables.documents(s, d), "text", "doc_id")
      .orderBy("doc_id")

  private val gopherOracle =
    """WITH w AS (
      | SELECT doc_id, text AS t,
      |  list_filter(string_split_regex(text, '\s+'),
      |    x -> len(x) > 0) AS ws,
      |  list_filter(string_split(text, chr(10)),
      |    l -> len(ltrim(l)) > 0) AS ls
      | FROM documents),
      |m AS (
      | SELECT doc_id,
      |  CAST(len(ws) AS BIGINT) AS n_words,
      |  CAST(length(regexp_replace(t, '\s', '', 'g')) AS BIGINT)
      |    AS sum_word_len,
      |  CAST((length(t) - length(regexp_replace(t, '#', '', 'g')))
      |   + (length(t) - length(regexp_replace(t, '\.\.\.', '', 'g'))) // 3
      |   AS BIGINT) AS n_symbols,
      |  CAST(len(ls) AS BIGINT) AS n_lines,
      |  CAST(len(list_filter(ls, l -> ltrim(l) LIKE '-%'
      |    OR ltrim(l) LIKE '*%' OR ltrim(l) LIKE '•%')) AS BIGINT)
      |    AS n_bullet_lines,
      |  CAST(len(list_filter(ls, l -> rtrim(l) LIKE '%...')) AS BIGINT)
      |    AS n_ellipsis_lines,
      |  CAST(len(list_filter(ws, x -> regexp_matches(x, '[A-Za-z]')))
      |    AS BIGINT) AS n_alpha_words,
      |  CAST(len(list_intersect(
      |    list_distinct(list_transform(ws, x -> lower(x))),
      |    ['the','be','to','of','and','that','have','with'])) AS BIGINT)
      |    AS n_stop_hits
      | FROM w)
      |SELECT *,
      | n_words BETWEEN 50 AND 100000
      |  AND sum_word_len >= n_words * 3 AND sum_word_len <= n_words * 10
      |  AND n_symbols * 10 <= n_words
      |  AND n_bullet_lines * 10 <= n_lines * 9
      |  AND n_ellipsis_lines * 10 <= n_lines * 3
      |  AND n_alpha_words * 10 >= n_words * 8
      |  AND n_stop_hits >= 2 AS is_quality
      |FROM m ORDER BY doc_id""".stripMargin

  /** Sentence segmentation (ext TextAnalysis.sentences): one row per
    * non-blank sentence with index and exact counts. */
  def sentencesGate(s: SparkSession, d: String): DataFrame =
    TextAnalysis.sentences(Tables.documents(s, d), "text", "doc_id")
      .orderBy("doc_id", "sent_idx")

  private val sentencesOracle =
    """WITH f AS (
      | SELECT doc_id,
      |  list_transform(
      |    list_filter(string_split_regex(text, '[.!?]+\s+'),
      |      x -> len(trim(x)) > 0),
      |    x -> trim(x)) AS ss
      | FROM documents),
      |u AS (
      | SELECT doc_id,
      |  CAST(unnest(range(1, len(ss) + 1)) AS BIGINT) AS sent_idx,
      |  unnest(ss) AS sentence
      | FROM f)
      |SELECT doc_id, sent_idx, sentence,
      | CAST(length(sentence) AS BIGINT) AS n_chars,
      | CAST(len(regexp_extract_all(sentence, '[^\s]+')) AS BIGINT)
      |   AS n_tokens
      |FROM u ORDER BY doc_id, sent_idx""".stripMargin

  // ------------------------------------------- Unicode normalization

  /** Unicode NFC normalization (ext TextAnalysis.unicodeNormalize,
    * functions.UnicodeNormalize). The synthetic corpus is pure ASCII —
    * already NFC — so the gate plants a decomposed prefix on every row
    * (e + combining acute, A + combining ring, the ﬁ ligature, a
    * circled digit) and normalizes the concatenation: composition must
    * fuse the combining sequences (é, Å) and leave the compatibility
    * characters alone (they only fold under NFKC, which is spec-pinned
    * — DuckDB ships no nfkc function to replay it). n_chars counts
    * post-NFC codepoints, pinning that composition really shortened
    * the string on both engines. */
  def unicodeNfc(s: SparkSession, d: String): DataFrame = {
    val planted = concat(
      lit("é Å ﬁ ① | "),
      substring(col("text"), 1, 24))
    Tables.documents(s, d)
      .select(col("doc_id"),
        graft.functions.GraftFunctions.unicodeNormalize(planted, "NFC")
          .as("nfc_text"))
      .withColumn("n_chars", length(col("nfc_text")).cast("long"))
      .orderBy("doc_id")
  }

  private val unicodeNfcOracle =
    """SELECT doc_id,
      | nfc_normalize(e'é Å ﬁ ① | '
      |   || substr(text, 1, 24)) AS nfc_text,
      | CAST(length(nfc_normalize(e'é Å ﬁ ① | '
      |   || substr(text, 1, 24))) AS BIGINT) AS n_chars
      |FROM documents ORDER BY doc_id""".stripMargin

  // ------------------------------------------------ LM scoring (CCNet)

  /** Bigram-LM in-distribution scoring, self-trained on the document
    * corpus with minCount=2 so both the pruned-model path and the
    * smoothing floor are exercised (hapax bigrams fall back to
    * (0+1)·10⁹/(c₁+V)). Exact integer end to end — the oracle replays
    * model training AND scoring. */
  def lmScoreGate(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    TextAnalysis.lmScore(docs, "text", "doc_id", docs, "text", minCount = 2L)
      .orderBy("doc_id")
  }

  private val lmScoreOracle =
    """WITH toks AS (
      | SELECT doc_id,
      |  list_filter(string_split_regex(lower(text), '\s+'),
      |    t -> len(t) > 0) AS ts
      | FROM documents),
      |uni AS (
      | SELECT w, CAST(count(*) AS BIGINT) AS c1
      | FROM (SELECT unnest(ts) AS w FROM toks) GROUP BY 1),
      |v AS (SELECT CAST(count(*) AS BIGINT) AS vsz FROM uni),
      |big AS (
      | SELECT doc_id, unnest(ts[1:len(ts) - 1]) AS w1,
      |        unnest(ts[2:len(ts)]) AS w2
      | FROM toks WHERE len(ts) >= 2),
      |co AS (
      | SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12
      | FROM big GROUP BY 1, 2 HAVING count(*) >= 2),
      |terms AS (
      | SELECT b.doc_id,
      |  (coalesce(co.c12, 0) + 1) * 1000000000
      |    // (coalesce(u.c1, 0) + v.vsz) AS term
      | FROM big b
      | LEFT JOIN co ON b.w1 = co.w1 AND b.w2 = co.w2
      | LEFT JOIN uni u ON u.w = b.w1
      | CROSS JOIN v)
      |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
      | CAST(sum(term) AS BIGINT) AS sum_e9,
      | CAST(sum(term) // count(*) AS BIGINT) AS score_e9
      |FROM terms GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** Incremental LM training: counts from two disjoint corpus halves
    * merged (TextAnalysis.lmMerge) must score identically to the
    * full-corpus model — same oracle as t26, the d15/c9 incremental
    * equality pattern. */
  def lmIncrementalGate(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val lo = docs.where(col("doc_id") < 250)
    val hi = docs.where(col("doc_id") >= 250)
    val (uni, co) = TextAnalysis.lmMerge(
      TextAnalysis.lmCounts(lo, "text"),
      TextAnalysis.lmCounts(hi, "text"))
    TextAnalysis.lmScoreModel(docs, "text", "doc_id", uni, co,
        minCount = 2L)
      .orderBy("doc_id")
  }

  /** t40: interpolated Kneser–Ney TRIGRAM scoring (TextAnalysis
    * .knScore), self-trained on the corpus with minCount=2 so hapax
    * trigrams prune out and every backoff branch (unseen trigram in a
    * seen context, wholly-unseen context → bigram-continuation, →
    * continuation-unigram) is exercised. Exact e12 fixed-point BIGINT
    * end to end — the oracle replays model derivation AND the pinned
    * floor-division evaluation order. */
  def knScoreGate(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    TextAnalysis.knScore(docs, "text", "doc_id", docs, "text",
        minCount = 2L)
      .orderBy("doc_id")
  }

  /** Shared CTE prefix for the Kneser–Ney oracles: self-trained
    * minCount=2 trigram model + the pinned floor-division term chain,
    * ending at `terms` (doc_id, term). Consumed by t40/t41/st22 (score
    * aggregate) and p5 (per-language ntile over the scores). */
  /** The KN trigram scoring chain as a WITH-body fragment over any
    * source relation carrying (doc_id, text) — reused verbatim by the
    * t40/p5/p7 oracles (src = documents) and composed after the
    * curation chain by p8 (src = the curated CTE). Ends at `terms`. */
  private[queries] def knTermsBody(src: String): String =
    s"""toks AS (
      | SELECT doc_id,
      |  list_filter(string_split_regex(lower(text), '\\s+'),
      |    t -> len(t) > 0) AS ts
      | FROM $src),""".stripMargin + knTermsTail

  private[queries] lazy val knTermsCte = "WITH " + knTermsBody("documents")

  // lazy: knTermsCte's initializer runs knTermsBody, which reads this
  // before the object's later vals would otherwise be initialized
  private lazy val knTermsTail =
    """
      |tri0 AS (
      | SELECT doc_id, unnest(ts[1:len(ts) - 2]) AS w1,
      |        unnest(ts[2:len(ts) - 1]) AS w2,
      |        unnest(ts[3:len(ts)]) AS w3
      | FROM toks WHERE len(ts) >= 3),
      |tri AS (
      | SELECT w1, w2, w3, CAST(count(*) AS BIGINT) AS c3
      | FROM tri0 GROUP BY 1, 2, 3 HAVING count(*) >= 2),
      |ctx AS (
      | SELECT w1, w2, CAST(sum(c3) AS BIGINT) AS c2,
      |        CAST(count(*) AS BIGINT) AS n3d
      | FROM tri GROUP BY 1, 2),
      |cont AS (
      | SELECT w2, w3, CAST(count(*) AS BIGINT) AS cn2
      | FROM tri GROUP BY 1, 2),
      |mid AS (
      | SELECT w2, CAST(sum(cn2) AS BIGINT) AS n2mid,
      |        CAST(count(*) AS BIGINT) AS nw2
      | FROM cont GROUP BY 1),
      |uni AS (
      | SELECT w3, CAST(count(*) AS BIGINT) AS cn1 FROM cont GROUP BY 1),
      |b AS (SELECT CAST(count(*) AS BIGINT) AS bsz FROM cont),
      |j AS (
      | SELECT t0.doc_id, tri.c3, ctx.c2, ctx.n3d, cont.cn2,
      |        mid.n2mid, mid.nw2, uni.cn1, b.bsz
      | FROM tri0 t0
      | LEFT JOIN tri ON t0.w1 = tri.w1 AND t0.w2 = tri.w2
      |   AND t0.w3 = tri.w3
      | LEFT JOIN ctx ON t0.w1 = ctx.w1 AND t0.w2 = ctx.w2
      | LEFT JOIN cont ON t0.w2 = cont.w2 AND t0.w3 = cont.w3
      | LEFT JOIN mid ON t0.w2 = mid.w2
      | LEFT JOIN uni ON t0.w3 = uni.w3
      | CROSS JOIN b),
      |l0 AS (
      | SELECT *, coalesce(cn1, 0) * 1000000000000 // bsz AS pcont
      | FROM j),
      |l1 AS (
      | SELECT *, CASE WHEN n2mid IS NULL THEN pcont ELSE
      |   (greatest(4 * coalesce(cn2, 0) - 3, 0) * 1000000000000
      |    + 3 * nw2 * pcont) // (4 * n2mid) END AS p2
      | FROM l0),
      |terms AS (
      | SELECT doc_id, CASE WHEN c2 IS NULL THEN p2 ELSE
      |   (greatest(4 * coalesce(c3, 0) - 3, 0) * 1000000000000
      |    + 3 * n3d * p2) // (4 * c2) END AS term
      | FROM l1)""".stripMargin

  private lazy val knScoreSelect =
    """
      |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_trigrams,
      | CAST(sum(term) AS BIGINT) AS sum_e12,
      | CAST(sum(term) // count(*) AS BIGINT) AS score_e12
      |FROM terms GROUP BY doc_id ORDER BY doc_id""".stripMargin

  private[queries] lazy val knScoreOracle = knTermsCte + knScoreSelect

  /** t58 oracle: the t40 replay over the REMAINING corpus only. */
  private[queries] lazy val knUnlearnOracle = "WITH " + knTermsBody(
    "(SELECT doc_id, text FROM documents WHERE doc_id % 3 <> 0)") +
    knScoreSelect

  /** t41: incremental KN training — trigram counts from two disjoint
    * corpus halves merged (TextAnalysis.knMerge) must score
    * identically to the full-corpus model; every continuation /
    * distinct-successor statistic re-derives from the merged additive
    * frame. Same oracle as t40 (the t27/c9 incremental-equality
    * pattern). */
  def knIncrementalGate(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val tri = TextAnalysis.knMerge(
      TextAnalysis.knCounts(docs.where(col("doc_id") < 250), "text"),
      TextAnalysis.knCounts(docs.where(col("doc_id") >= 250), "text"))
    TextAnalysis.knScoreModel(docs, "text", "doc_id", tri, minCount = 2L)
      .orderBy("doc_id")
  }

  /** t58: EXACT MODEL UNLEARNING for the trigram LM
    * ([[graft.ext.TextAnalysis.knRemove]] — the right-to-be-forgotten
    * leg for count-based models, completing what the persisted-index
    * takedowns started): train on the full corpus, SUBTRACT every
    * doc_id divisible by 3 (one pass over the removed docs, no
    * retrain), score the remaining corpus. Must equal the t40 replay
    * over the remaining corpus integer-for-integer — every derived
    * Kneser–Ney statistic (continuation counts, distinct successors,
    * the minCount pruning) re-derives from the reduced additive frame,
    * so a single leftover or cancelled count is a row diff. */
  def knUnlearnGate(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val tri = TextAnalysis.knRemove(
      TextAnalysis.knCounts(docs, "text"),
      docs.where(col("doc_id") % 3 === 0), "text")
    TextAnalysis.knScoreModel(docs.where(col("doc_id") % 3 =!= 0),
        "text", "doc_id", tri, minCount = 2L)
      .orderBy("doc_id")
  }

  // --------------------------------------------- supervised classifier

  /** Class-conditional unigram classifier (ext TextAnalysis.nbClassify)
    * trained on documents' lang labels and applied to the same corpus —
    * the full train→score→argmax decision replays in exact BIGINT
    * arithmetic in the oracle (Laplace-smoothed mean term, floor
    * divisions, pinned score-desc/label-asc tiebreak). */
  def nbClassifyGate(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val (tok, cls) = TextAnalysis.nbCounts(docs, "text", "lang")
    TextAnalysis.nbClassify(docs, "text", "doc_id", tok, cls)
      .orderBy("doc_id")
  }

  /** t44: the classifier INDEX/SERVE split — train once, persist the
    * model (TextAnalysis.nbSaveModel: counts + a one-row measured-size
    * meta), then classify from the LOADED model. The serve path never
    * re-aggregates the reference corpus and never re-measures the
    * model (the saved estimate pins the broadcast placement — the t29
    * auto mode's per-call checkpoint+measure job is gone on this
    * shape). Same oracle as t29: persist→load→serve must change
    * nothing about the exact-BIGINT decision. Benched as the
    * serve-many twin of t29. */
  def nbFromModelGate(s: SparkSession, d: String): DataFrame = {
    // The model is TRAINED AND PERSISTED once per sf dir (the m5
    // fixture pattern: atomic publish, losers of a race reuse the
    // winner's dir) so bench timings measure the SERVE path — load +
    // classify — which is the whole point of the split; training cost
    // is t29's number. Every run still exercises persist→load.
    TextAnalysis.nbClassifyFromModel(s, nbModelFixture(s, d),
        Tables.documents(s, d), "text", "doc_id")
      .orderBy("doc_id")
  }

  /** Train-and-save the t44 NB model for `d` on first use; returns the
    * model root. Content-stable key (path, corpus row count). */
  private[queries] def nbModelFixture(s: SparkSession, d: String): String = {
    val docs = Tables.documents(s, d)
    val key = java.lang.Long.toHexString(
      d.hashCode.toLong << 32 | docs.count())
    val dir = java.nio.file.Paths.get(
      sys.props("java.io.tmpdir"), s"graft_t44_nb_$key")
    if (!java.nio.file.Files.exists(dir.resolve("meta.parquet"))) {
      val tmp = java.nio.file.Files.createTempDirectory("graft_t44_build_")
      val model = tmp.resolve("nb_model")
      val (tok, cls) = TextAnalysis.nbCounts(docs, "text", "lang")
      TextAnalysis.nbSaveModel(model.toString, tok, cls)
      // meta.parquet is written LAST by nbSaveModel, so its presence
      // under the published dir implies a complete model.
      Fixtures.publish(tmp, model, dir, "meta.parquet")
    }
    dir.toString
  }

  /** Incremental-equals-retrain for the classifier: two disjoint count
    * batches merged via nbMerge must reproduce the full-corpus decision
    * — same oracle as t29 (the t27 pattern). */
  def nbIncrementalGate(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val (tok, cls) = TextAnalysis.nbMerge(
      TextAnalysis.nbCounts(docs.where(col("doc_id") % 2 === 0), "text", "lang"),
      TextAnalysis.nbCounts(docs.where(col("doc_id") % 2 === 1), "text", "lang"))
    TextAnalysis.nbClassify(docs, "text", "doc_id", tok, cls)
      .orderBy("doc_id")
  }

  /** Shared CTE prefix for the NB oracles: train on documents' lang
    * labels, score every (doc, label), rank by (score desc, label asc)
    * — ends at `r` (doc_id, label/pred, score_e9, rn). Consumed by
    * t29/t30 (argmax row) and p6 (mixture over predictions). */
  private[queries] val nbPredCte =
    """WITH toks AS (
      | SELECT doc_id, lang,
      |  list_filter(string_split_regex(lower(text), '\s+'),
      |    t -> len(t) > 0) AS ts
      | FROM documents),
      |dt AS (SELECT doc_id, unnest(ts) AS w FROM toks),
      |tok AS (
      | SELECT lang AS label, w, CAST(count(*) AS BIGINT) AS c
      | FROM (SELECT lang, unnest(ts) AS w FROM toks) GROUP BY 1, 2),
      |cls AS (
      | SELECT lang AS label, CAST(count(*) AS BIGINT) AS n
      | FROM (SELECT lang, unnest(ts) AS w FROM toks) GROUP BY 1),
      |v AS (SELECT CAST(count(DISTINCT w) AS BIGINT) AS v FROM tok),
      |dlen AS (
      | SELECT doc_id, CAST(len(ts) AS BIGINT) AS n_toks
      | FROM toks WHERE len(ts) > 0),
      |found AS (
      | SELECT dt.doc_id, tok.label,
      |  CAST(sum((tok.c + 1) * 1000000000 // (cls.n + v.v)) AS BIGINT)
      |    AS found_sum,
      |  CAST(count(*) AS BIGINT) AS found_n
      | FROM dt JOIN tok ON dt.w = tok.w
      | JOIN cls ON cls.label = tok.label
      | CROSS JOIN v
      | GROUP BY 1, 2),
      |scored AS (
      | SELECT dlen.doc_id, cls.label,
      |  (coalesce(found.found_sum, 0)
      |   + (dlen.n_toks - coalesce(found.found_n, 0))
      |     * (1000000000 // (cls.n + v.v))) // dlen.n_toks AS score_e9
      | FROM dlen CROSS JOIN cls CROSS JOIN v
      | LEFT JOIN found
      |  ON found.doc_id = dlen.doc_id AND found.label = cls.label),
      |r AS (
      | SELECT doc_id, label AS pred, score_e9,
      |  row_number() OVER (PARTITION BY doc_id
      |    ORDER BY score_e9 DESC, label ASC) AS rn
      | FROM scored)""".stripMargin

  private val nbClassifyOracle = nbPredCte +
    """
      |SELECT doc_id, pred, CAST(score_e9 AS BIGINT) AS score_e9
      |FROM r WHERE rn = 1 ORDER BY doc_id""".stripMargin

  /** t59: EXACT MODEL UNLEARNING for the PERSISTED NB classifier
    * ([[graft.ext.TextAnalysis.nbRemoveFromModel]] — [[knUnlearnGate]]'s
    * contract on the serve-many deployment shape): train on the full
    * corpus, persist (counts + measured-size meta), SUBTRACT every
    * doc_id divisible by 3 in place (StagedSwap of all three tables,
    * meta re-derived so the broadcast placement tracks the shrunk
    * model), classify the remaining corpus from the swapped model.
    * Must equal the t29 replay over the remaining corpus — a zeroed
    * (label, token) must vanish (V shrinks exactly as a fresh model's
    * would), so one leftover count shifts every smoothed score and is
    * a row diff. */
  def nbUnlearnGate(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val root = java.nio.file.Files.createTempDirectory("graft_t59_")
      .resolve("nb_model").toString
    val (tok, cls) = TextAnalysis.nbCounts(docs, "text", "lang")
    TextAnalysis.nbSaveModel(root, tok, cls)
    TextAnalysis.nbRemoveFromModel(s, root,
      docs.where(col("doc_id") % 3 === 0), "text", "lang")
    TextAnalysis.nbClassifyFromModel(s, root,
        docs.where(col("doc_id") % 3 =!= 0), "text", "doc_id")
      .orderBy("doc_id")
  }

  /** t59 oracle: the t29 replay over the remaining corpus only. */
  private val nbUnlearnOracle = {
    val restricted = nbClassifyOracle.replace("FROM documents)",
      "FROM documents WHERE doc_id % 3 <> 0)")
    require(restricted != nbClassifyOracle, "nb unlearn oracle: corpus " +
      "restriction failed to apply — nbPredCte text changed?")
    restricted
  }

  /** t51: rank-normalized quality-signal blending
    * (Curation.blendScores) — two commensurable-ized signals (length
    * rank at weight 3, token-count rank at weight 1) combined as an
    * exact integer weighted mean; ranks via the distributed
    * whole-table groupRank, ties by id, full DuckDB replay. */
  def scoreBlendGate(s: SparkSession, d: String): DataFrame =
    graft.ext.Curation.blendScores(Tables.documents(s, d), "doc_id",
        Seq((col("n_chars"), 3L),
          (TextAnalysis.tokenCount(col("text")), 1L)))
      .orderBy("doc_id")

  private val scoreBlendOracle =
    """WITH t AS (
      | SELECT doc_id, n_chars,
      |  CAST(len(regexp_extract_all(text, '[^\s]+')) AS BIGINT) AS ntok
      | FROM documents),
      |r1 AS (
      | SELECT doc_id, (row_number() OVER (ORDER BY n_chars, doc_id) - 1)
      |   * 1000000 // greatest(count(*) OVER () - 1, 1) AS n0 FROM t),
      |r2 AS (
      | SELECT doc_id, (row_number() OVER (ORDER BY ntok, doc_id) - 1)
      |   * 1000000 // greatest(count(*) OVER () - 1, 1) AS n1 FROM t)
      |SELECT t.doc_id,
      | CAST((r1.n0 * 3 + r2.n1 * 1) // 4 AS BIGINT) AS blend_ppm
      |FROM t JOIN r1 USING (doc_id) JOIN r2 USING (doc_id)
      |ORDER BY doc_id""".stripMargin

  /** t49: span-corruption objective (TextAnalysis.spanCorrupt, the
    * T5/UL2 denoiser prep) at the defaults — 8-token block grid, 3-token
    * spans, 25% block rate; mask draws are the t19 integer family, so
    * input/targets/sentinel numbering replay exactly in DuckDB. */
  def spanCorruptGate(s: SparkSession, d: String): DataFrame =
    TextAnalysis.spanCorrupt(Tables.documents(s, d), "text", "doc_id")
      .orderBy("doc_id")

  private val spanCorruptOracle = {
    val m = "(doc_id * 2654435761 + %s * 40503) %% 100 < 25"
    val mj = m.format("j"); val mbj = m.format("bj")
    s"""WITH toksl AS (
      | SELECT doc_id, list_filter(string_split_regex(text, '\\s+'),
      |   t -> len(t) > 0) AS ts FROM documents),
      |b AS (
      | SELECT doc_id, ts,
      |  CAST(ceil(len(ts) / 8.0) AS INT) AS nb FROM toksl)
      |SELECT doc_id,
      | CASE WHEN len(ts) = 0 THEN '' ELSE
      |  array_to_string(flatten(list_transform(range(0, nb), j ->
      |   CASE WHEN $mj
      |    THEN list_concat(
      |      ['<extra_id_' || CAST(len(list_filter(range(0, nb),
      |         bj -> bj < j AND $mbj)) AS VARCHAR) || '>'],
      |      ts[j*8+4 : (j+1)*8])
      |    ELSE ts[j*8+1 : (j+1)*8] END)), ' ') END AS corrupted,
      | CASE WHEN len(ts) = 0 THEN '' ELSE
      |  coalesce(array_to_string(flatten(list_transform(
      |   list_filter(range(0, nb), j -> $mj), j ->
      |    list_concat(
      |      ['<extra_id_' || CAST(len(list_filter(range(0, nb),
      |         bj -> bj < j AND $mbj)) AS VARCHAR) || '>'],
      |      ts[j*8+1 : j*8+3]))), ' '), '') END AS targets,
      | CASE WHEN len(ts) = 0 THEN 0 ELSE
      |  CAST(len(list_filter(range(0, nb), j -> $mj)) AS BIGINT)
      |  END AS n_spans
      |FROM b ORDER BY doc_id""".stripMargin
  }

  /** t47: SFT template rendering (TextAnalysis.renderSft) — each doc
    * becomes a chat-template training string with the exact loss span
    * [loss_start, loss_end): chars 1–40 stand in for the prompt, the
    * tail for the response (the corpus has no natural turn boundary;
    * the op under test is the template + offset arithmetic). */
  def sftRenderGate(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val n = length(col("text"))
    val prompt = col("text").substr(lit(1), least(lit(40), n))
    val response = col("text").substr(lit(41), greatest(n - 40, lit(0)))
    TextAnalysis.renderSft(docs, "doc_id", prompt, response,
        system = "You are a helpful assistant.")
      .orderBy("doc_id")
  }

  // head = len(sys sentinel+system+user sentinel) + len(prompt) +
  // len(assistant sentinel) = 10+28+8 + len(prompt) + 13
  private val sftRenderOracle =
    """WITH c AS (
      | SELECT doc_id,
      |  substr(text, 1, 40) AS p,
      |  CASE WHEN length(text) > 40 THEN substr(text, 41) ELSE '' END AS r
      | FROM documents)
      |SELECT doc_id,
      | '<|system|>You are a helpful assistant.<|user|>' || p
      |   || '<|assistant|>' || r || '<|end|>' AS sft_text,
      | CAST(59 + length(p) + 1 AS BIGINT) AS loss_start,
      | CAST(59 + length(p) + 1 + length(r) + 7 AS BIGINT) AS loss_end
      |FROM c ORDER BY doc_id""".stripMargin

  /** t52: SFT rendering with TOKEN-unit loss spans
    * (TextAnalysis.renderSftTokens ∘ the t23/t24-pinned BPE tokenizer)
    * — the t47 render chained through the tokenizer a trainer actually
    * consumes. The prompt/response split is at a WORD boundary (first
    * 5 whitespace words / the rest with its leading space), the
    * convention under which head and tail tokenize independently of
    * each other (the sentinel-boundary contract renderSftTokens
    * documents and the spec pins both ways). Oracle = independent
    * Python replay of the whole chain (merge learning → template →
    * head/tail tokenization → span arithmetic), pinned as a literal. */
  def sftTokenSpansGate(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val merges = graft.ext.Bpe.collectMerges(
      graft.ext.Bpe.learnMerges(docs, "text", numMerges = 24))
    val words = filter(split(col("text"), "\\s+"), t => length(t) > 0)
    val prompt = array_join(slice(words, 1, 5), " ")
    val rest = array_join(
      slice(words, lit(6), greatest(size(words) - 5, lit(0))), " ")
    val response = when(size(words) > 5, concat(lit(" "), rest))
      .otherwise(lit(""))
    TextAnalysis.renderSftTokens(docs, "doc_id", prompt, response,
        system = "You are a helpful assistant.",
        tokenizer = c => graft.functions.GraftFunctions.bpeTokenize(c, merges))
      .select(col("doc_id"), col("loss_start_tok"), col("loss_end_tok"),
        col("n_tokens"))
      .orderBy("doc_id")
  }

  /** t53: DPO preference-pair rendering with TOKEN-unit spans
    * (TextAnalysis.renderDpoPairsTokens ∘ the pinned BPE) — t52's
    * preference twin: chosen = the word-boundary response, rejected =
    * its words reversed (t50's deterministic corruption), the head
    * tokenized ONCE and shared by both completions. Oracle = the same
    * independent Python replay, pinned. */
  def dpoTokenSpansGate(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val merges = graft.ext.Bpe.collectMerges(
      graft.ext.Bpe.learnMerges(docs, "text", numMerges = 24))
    val words = filter(split(col("text"), "\\s+"), t => length(t) > 0)
    val prompt = array_join(slice(words, 1, 5), " ")
    val restArr = slice(words, lit(6), greatest(size(words) - 5, lit(0)))
    val chosen = when(size(words) > 5,
      concat(lit(" "), array_join(restArr, " "))).otherwise(lit(""))
    val rejected = when(size(words) > 5,
      concat(lit(" "), array_join(reverse(restArr), " "))).otherwise(lit(""))
    TextAnalysis.renderDpoPairsTokens(docs, "doc_id", prompt, chosen,
        rejected, system = "You are a helpful assistant.",
        tokenizer = c => graft.functions.GraftFunctions.bpeTokenize(c, merges))
      .select(col("doc_id"), col("loss_start_tok"),
        col("chosen_loss_end_tok"), col("rejected_loss_end_tok"))
      .orderBy("doc_id")
  }

  /** t50: DPO preference-pair rendering (TextAnalysis.renderDpoPairs)
    * — prompt = chars 1–40, chosen = the tail, rejected = the tail
    * with word order reversed (a deterministic corruption standing in
    * for the real rejected completion; the op under test is the
    * shared-prefix pair template + span arithmetic). */
  def dpoPairsGate(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val n = length(col("text"))
    val prompt = col("text").substr(lit(1), least(lit(40), n))
    val response = col("text").substr(lit(41), greatest(n - 40, lit(0)))
    val rejected = array_join(
      reverse(filter(split(response, "\\s+"), t => length(t) > 0)), " ")
    TextAnalysis.renderDpoPairs(docs, "doc_id", prompt, response,
        rejected, system = "You are a helpful assistant.")
      .orderBy("doc_id")
  }

  private val dpoPairsOracle =
    """WITH c AS (
      | SELECT doc_id,
      |  substr(text, 1, 40) AS p,
      |  CASE WHEN length(text) > 40 THEN substr(text, 41) ELSE '' END AS r
      | FROM documents),
      |c2 AS (
      | SELECT doc_id, p, r,
      |  coalesce(array_to_string(list_reverse(
      |    list_filter(string_split_regex(r, '\s+'), t -> len(t) > 0)),
      |    ' '), '') AS rj
      | FROM c)
      |SELECT doc_id,
      | '<|system|>You are a helpful assistant.<|user|>' || p
      |   || '<|assistant|>' || r || '<|end|>' AS chosen_text,
      | '<|system|>You are a helpful assistant.<|user|>' || p
      |   || '<|assistant|>' || rj || '<|end|>' AS rejected_text,
      | CAST(59 + length(p) + 1 AS BIGINT) AS loss_start,
      | CAST(59 + length(p) + 1 + length(r) + 7 AS BIGINT)
      |   AS chosen_loss_end,
      | CAST(59 + length(p) + 1 + length(rj) + 7 AS BIGINT)
      |   AS rejected_loss_end
      |FROM c2 ORDER BY doc_id""".stripMargin

  /** t48: classifier evaluation report
    * (TextAnalysis.classifierReport) over the t29 classifier's
    * self-classification — per-class support / predictions / hits and
    * exact-integer precision/recall/F1 in ppm. Oracle extends the
    * shared NB prediction CTE with the same two aggregates. */
  def classifierEvalGate(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val (tok, cls) = TextAnalysis.nbCounts(docs, "text", "lang")
    val pred = TextAnalysis.nbClassify(docs, "text", "doc_id", tok, cls)
    TextAnalysis.classifierReport(pred, "doc_id", "pred",
        docs.select(col("doc_id"), col("lang")), "lang")
      .orderBy("label")
  }

  private[queries] val classifierEvalOracle = nbPredCte +
    """,
      |pr AS (SELECT doc_id, pred FROM r WHERE rn = 1),
      |j AS (
      | SELECT pr.doc_id, pr.pred, d.lang AS truth
      | FROM pr JOIN documents d USING (doc_id)),
      |bt AS (
      | SELECT truth AS label, CAST(count(*) AS BIGINT) AS n_true,
      |  CAST(sum(CASE WHEN pred = truth THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_correct
      | FROM j GROUP BY 1),
      |bp AS (
      | SELECT pred AS label, CAST(count(*) AS BIGINT) AS n_pred
      | FROM j GROUP BY 1),
      |m AS (
      | SELECT coalesce(bt.label, bp.label) AS label,
      |  coalesce(n_true, 0) AS n_true, coalesce(n_pred, 0) AS n_pred,
      |  coalesce(n_correct, 0) AS n_correct
      | FROM bt FULL OUTER JOIN bp ON bt.label = bp.label)
      |SELECT label, n_true, n_pred, n_correct,
      | p AS precision_ppm, r AS recall_ppm,
      | CAST(CASE WHEN p + r = 0 THEN 0
      |   ELSE 2 * p * r // (p + r) END AS BIGINT) AS f1_ppm
      |FROM (
      | SELECT label, n_true, n_pred, n_correct,
      |  CAST(n_correct * 1000000 // greatest(n_pred, 1) AS BIGINT) AS p,
      |  CAST(n_correct * 1000000 // greatest(n_true, 1) AS BIGINT) AS r
      | FROM m)
      |ORDER BY label""".stripMargin

  // --------------------------------------------------- BPE tokenizer

  /** BPE vocabulary induction over the document corpus (Bpe.learnMerges,
    * Sennrich et al. 2016): 24 merges learned from the word-frequency
    * table. The merge loop is iterative, so the oracle is a pinned
    * VALUES literal from an independent Python replay of the paper
    * (tools/gen_bpe_oracle.py — the d3 pinned-oracle pattern). */
  def bpeMerges(s: SparkSession, d: String): DataFrame =
    graft.ext.Bpe.learnMerges(Tables.documents(s, d), "text", numMerges = 24)
      .orderBy("rank")

  /** End-to-end tokenizer training + serving: learn the 24 merges, then
    * tokenize the whole corpus with them in one codegen'd pass
    * (Bpe.tokenize) and emit per-doc subword token counts. */
  def bpeTokenCounts(s: SparkSession, d: String): DataFrame = {
    val merges = graft.ext.Bpe.collectMerges(
      graft.ext.Bpe.learnMerges(Tables.documents(s, d), "text", numMerges = 24))
    graft.ext.Bpe.tokenize(Tables.documents(s, d), "text", merges)
      .select(col("doc_id"),
        size(col("bpe_tokens")).cast("long").as("n_tokens"))
      .orderBy("doc_id")
  }

  /** t46: tokenizer fertility report (TextAnalysis.tokenizerFertility)
    * over the t23/t24 BPE tokenizer — per-language exact-integer
    * tokens-per-word and chars-per-token in ppm. Oracle wraps the
    * pinned independent-Python t24 per-doc counts, so the report's
    * provenance chain is: independent BPE replay → per-doc counts →
    * pure-SQL aggregate. */
  def tokenizerFertilityGate(s: SparkSession, d: String): DataFrame = {
    val merges = graft.ext.Bpe.collectMerges(
      graft.ext.Bpe.learnMerges(Tables.documents(s, d), "text", numMerges = 24))
    val counts = graft.ext.Bpe.tokenize(Tables.documents(s, d), "text", merges)
      .select(col("doc_id"),
        size(col("bpe_tokens")).cast("long").as("n_tokens"))
    TextAnalysis.tokenizerFertility(Tables.documents(s, d), "text",
        "doc_id", col("lang"), counts)
      .orderBy("lang")
  }

  private[queries] def tokenizerFertilityOracle: String =
    s"""WITH counts AS (SELECT doc_id, n_tokens
      | FROM (${PinnedOracles.t24BpeTokenCounts}) pinned),
      |d AS (SELECT doc_id, lang, length(text) AS n_chars,
      | len(list_filter(string_split_regex(text, '\\s+'),
      |   t -> len(t) > 0)) AS n_words
      | FROM documents)
      |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
      | CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
      | CAST(sum(n_words) AS BIGINT) AS n_words,
      | CAST(sum(n_chars) AS BIGINT) AS n_chars,
      | CAST(sum(n_tokens) * 1000000 // greatest(sum(n_words), 1)
      |   AS BIGINT) AS fertility_ppm,
      | CAST(sum(n_chars) * 1000000 // greatest(sum(n_tokens), 1)
      |   AS BIGINT) AS chars_per_token_ppm
      |FROM d JOIN counts USING (doc_id)
      |GROUP BY lang ORDER BY lang""".stripMargin

  /** t38: BPE-dropout serving (Bpe.tokenizeDropout, Provilkov et al.
    * ACL 2020): learn the same 24 merges as t23, then dropout-segment
    * the whole corpus in one codegen'd pass (p=0.1, seed=42) and emit
    * per-document token counts. Each merge site's coin is a
    * deterministic XXH64 draw, so the stochastic epoch pins to a hash
    * gate; a new seed resamples the corpus (the augmentation
    * contract). Oracle: pinned VALUES from
    * tools/gen_bpe_dropout_oracle.py. */
  def bpeDropoutCounts(s: SparkSession, d: String): DataFrame = {
    val merges = graft.ext.Bpe.collectMerges(
      graft.ext.Bpe.learnMerges(Tables.documents(s, d), "text", numMerges = 24))
    graft.ext.Bpe.tokenizeDropout(Tables.documents(s, d), "text", merges,
        dropoutPpm = 100000, seed = 42L)
      .select(col("doc_id"),
        size(col("bpe_dropout_tokens")).cast("long").as("n_tokens"))
      .orderBy("doc_id")
  }

  // --------------------------------------------- unigram-LM tokenizer

  /** Unigram-LM vocabulary induction over the document corpus
    * (Unigram.train, Kudo ACL 2018 with exact-integer hard-Viterbi EM):
    * seed substring candidates, EM, and prune to a 45-piece vocabulary.
    * The EM/prune loop is iterative, so the oracle is a pinned VALUES
    * literal from an independent Python replay
    * (tools/gen_unigram_oracle.py — the t23 pinned-oracle pattern). */
  def unigramVocab(s: SparkSession, d: String): DataFrame =
    graft.ext.Unigram.train(Tables.documents(s, d), "text",
        vocabSize = 45, maxPieceLen = 6, seedSize = 800)
      .orderBy("piece")

  /** End-to-end unigram tokenizer training + serving: train the
    * 45-piece vocabulary, then segment the whole corpus with it in one
    * codegen'd exact-Viterbi pass (Unigram.tokenize) and emit per-doc
    * token counts. */
  def unigramTokenCounts(s: SparkSession, d: String): DataFrame = {
    val vocab = graft.ext.Unigram.collectVocab(
      graft.ext.Unigram.train(Tables.documents(s, d), "text",
        vocabSize = 45, maxPieceLen = 6, seedSize = 800))
    graft.ext.Unigram.tokenize(Tables.documents(s, d), "text", vocab,
        maxPieceLen = 6)
      .select(col("doc_id"),
        size(col("unigram_tokens")).cast("long").as("n_tokens"))
      .orderBy("doc_id")
  }

  /** t54: BPE served from a PERSISTED model (Bpe.saveModel/loadModel —
    * the tokenizer's index/serve split, cf. t44's NB model): train the
    * t23 merge table, save it, tokenize the corpus from the LOADED
    * model. Must equal the inline-trained t24 counts exactly — the
    * persisted round-trip (including merge-rank order) changes
    * nothing. */
  def bpeFromModel(s: SparkSession, d: String): DataFrame = {
    val root = java.nio.file.Files.createTempDirectory("graft_t54_")
      .resolve("bpe_model").toString
    graft.ext.Bpe.saveModel(s, root, graft.ext.Bpe.collectMerges(
      graft.ext.Bpe.learnMerges(Tables.documents(s, d), "text",
        numMerges = 24)))
    graft.ext.Bpe.tokenize(Tables.documents(s, d), "text",
        graft.ext.Bpe.loadModel(s, root))
      .select(col("doc_id"),
        size(col("bpe_tokens")).cast("long").as("n_tokens"))
      .orderBy("doc_id")
  }

  /** t55: unigram-LM tokenizer served from a PERSISTED model
    * (Unigram.saveModel/loadModel, maxPieceLen pinned in the meta
    * sidecar): must equal the inline-trained t35 counts exactly. */
  def unigramFromModel(s: SparkSession, d: String): DataFrame = {
    val root = java.nio.file.Files.createTempDirectory("graft_t55_")
      .resolve("unigram_model").toString
    graft.ext.Unigram.saveModel(s, root, graft.ext.Unigram.collectVocab(
      graft.ext.Unigram.train(Tables.documents(s, d), "text",
        vocabSize = 45, maxPieceLen = 6, seedSize = 800)),
      maxPieceLen = 6)
    val (vocab, mpl) = graft.ext.Unigram.loadModel(s, root)
    graft.ext.Unigram.tokenize(Tables.documents(s, d), "text", vocab,
        maxPieceLen = mpl)
      .select(col("doc_id"),
        size(col("unigram_tokens")).cast("long").as("n_tokens"))
      .orderBy("doc_id")
  }

  /** t36: SOFT-EM unigram training (Unigram.trainSoft — the published
    * SentencePiece objective, full forward-backward expectation) under
    * the board's one explicit TOLERANCE contract: the trained float
    * scores join against the pinned independent-Python replay
    * (PinnedOracles.t36SoftVocab) and each piece must agree within
    * 1e-6 absolute; the piece set must match exactly (full-outer join
    * — an extra or missing piece breaks the row count). The oracle is
    * the pinned relation with within_tol = TRUE everywhere. */
  def unigramVocabSoft(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val got = graft.ext.Unigram.trainSoft(Tables.documents(s, d), "text",
      vocabSize = 45, maxPieceLen = 6, seedSize = 800)
    val pinned = PinnedOracles.t36SoftVocab.toDF("piece", "score_e9")
    got.join(pinned, Seq("piece"), "full_outer")
      .select(col("piece"), col("score_e9"),
        (col("score").isNotNull && col("score_e9").isNotNull &&
          abs(col("score") - col("score_e9").cast("double") / 1e9) <= 1e-6)
          .as("within_tol"))
      .orderBy("piece")
  }

  /** t37: subword-regularization SAMPLING serving
    * (Unigram.sampleTokenize, Kudo ACL 2018 §3 l-best sampling): train
    * the same 45-piece vocabulary as t35, then sample-segment the whole
    * corpus in one codegen'd pass (nbest=4, alpha=1, seed=42) and emit
    * the corpus-wide sampled-token histogram. Sampling is a pure
    * function of (word, occurrence ordinal, seed) through XXH64 draws
    * reduced over exact integer weights, so the stochastic epoch pins
    * to a hash gate like any deterministic operator — and a new seed
    * resamples the corpus (the augmentation contract). Oracle: pinned
    * VALUES from tools/gen_unigram_sample_oracle.py. */
  def unigramSampleCounts(s: SparkSession, d: String): DataFrame = {
    val vocab = graft.ext.Unigram.collectVocab(
      graft.ext.Unigram.train(Tables.documents(s, d), "text",
        vocabSize = 45, maxPieceLen = 6, seedSize = 800))
    graft.ext.Unigram.sampleTokenize(Tables.documents(s, d), "text", vocab,
        maxPieceLen = 6, nbest = 4, alpha = 1, seed = 42L)
      .select(explode(col("unigram_sample_tokens")).as("token"))
      .groupBy("token").agg(count(lit(1)).as("n"))
      .orderBy("token")
  }

  /** t39: FRACTIONAL-alpha sampling serving — the same l-best sampler
    * as t37 at SentencePiece's published default exponent SHAPE
    * (alpha = 0.1, expressed as the rational 1/10): weights are the
    * floor integer 10th roots of the integer-alpha weights, so the
    * flatter distribution samples exactly and the gate stays a hash
    * gate (no float tolerance — both engines floor the same big-int
    * root). Oracle: pinned VALUES from
    * tools/gen_unigram_frac_oracle.py. */
  def unigramFracAlphaCounts(s: SparkSession, d: String): DataFrame = {
    val vocab = graft.ext.Unigram.collectVocab(
      graft.ext.Unigram.train(Tables.documents(s, d), "text",
        vocabSize = 45, maxPieceLen = 6, seedSize = 800))
    graft.ext.Unigram.sampleTokenize(Tables.documents(s, d), "text", vocab,
        maxPieceLen = 6, nbest = 4, alpha = 1, seed = 42L, alphaDen = 10)
      .select(explode(col("unigram_sample_tokens")).as("token"))
      .groupBy("token").agg(count(lit(1)).as("n"))
      .orderBy("token")
  }

  // ------------------------------------------------------- C4 filters

  /** Planted multi-line "pages" for the C4 cleaning gate: the synthetic
    * corpus is single-line and punctuation-free, so each doc is wrapped
    * into a page that exercises every published rule — a good sentence
    * line, a too-short line, a no-terminal-punctuation line, a
    * javascript line (every 7th doc, which also drops that page below
    * the 3-sentence floor), and page-level curly-brace / lorem-ipsum /
    * badword plants (every 11th/13th/17th). Both engines build the page
    * from the same deterministic expression. */
  private def c4Pages(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).select(col("doc_id"),
      concat(
        substring(col("text"), 1, 100), lit(".\n"),
        lit("too short.\n"),
        substring(col("text"), 101, 100), lit(" no punct end\n"),
        when(col("doc_id") % 7 === 0,
          lit("Please enable javascript to continue."))
          .otherwise(concat(substring(col("text"), 1, 60), lit("!"))),
        lit("\nThis is a perfectly fine closing sentence."),
        when(col("doc_id") % 11 === 0,
          lit("\nvar f = function() { return 1; }")).otherwise(lit("")),
        when(col("doc_id") % 13 === 0,
          lit("\nLorem ipsum dolor sit amet, consectetur adipiscing elit."))
          .otherwise(lit("")),
        when(col("doc_id") % 17 === 0,
          lit("\nThis sentence mentions the badword seriously today."))
          .otherwise(lit(""))).as("page"))

  /** C4 heuristic cleaning over the planted pages (TextAnalysis.c4Clean,
    * the published Raffel et al. rules). Fully SQL-replayable: the
    * oracle rebuilds the pages and re-runs every line and page rule. */
  def c4Filters(s: SparkSession, d: String): DataFrame =
    TextAnalysis.c4Clean(c4Pages(s, d), "page", "doc_id",
        badwords = Seq("badword"))
      .orderBy("doc_id")

  private val c4Oracle =
    """WITH pages AS (
      | SELECT doc_id,
      |  substr(text, 1, 100) || '.' || chr(10) ||
      |  'too short.' || chr(10) ||
      |  substr(text, 101, 100) || ' no punct end' || chr(10) ||
      |  CASE WHEN doc_id % 7 = 0 THEN 'Please enable javascript to continue.'
      |       ELSE substr(text, 1, 60) || '!' END ||
      |  chr(10) || 'This is a perfectly fine closing sentence.' ||
      |  CASE WHEN doc_id % 11 = 0
      |       THEN chr(10) || 'var f = function() { return 1; }' ELSE '' END ||
      |  CASE WHEN doc_id % 13 = 0
      |       THEN chr(10) || 'Lorem ipsum dolor sit amet, consectetur adipiscing elit.'
      |       ELSE '' END ||
      |  CASE WHEN doc_id % 17 = 0
      |       THEN chr(10) || 'This sentence mentions the badword seriously today.'
      |       ELSE '' END AS page
      | FROM documents),
      |ls AS (
      | SELECT doc_id, page, string_split(page, chr(10)) AS lines FROM pages),
      |k AS (
      | SELECT doc_id, page,
      |  CAST(len(lines) AS BIGINT) AS n_lines,
      |  list_filter(lines, l ->
      |    right(l, 1) IN ('.', '!', '?', '"')
      |    AND len(regexp_extract_all(l, '[^\s]+')) >= 5
      |    AND NOT contains(lower(l), 'javascript')) AS kept
      | FROM ls),
      |f AS (
      | SELECT doc_id, page, n_lines,
      |  CAST(len(kept) AS BIGINT) AS n_kept,
      |  array_to_string(kept, chr(10)) AS clean_text,
      |  len(list_intersect(regexp_extract_all(lower(page), '[a-z0-9]+'),
      |      ['badword'])) > 0 AS has_badword,
      |  contains(lower(page), 'lorem ipsum') AS has_lorem,
      |  contains(page, '{') AS has_brace
      | FROM k),
      |g AS (
      | SELECT *, CAST(len(clean_text) -
      |   len(regexp_replace(clean_text, '[.!?]', '', 'g')) AS BIGINT)
      |   AS n_sentences
      | FROM f)
      |SELECT doc_id, n_lines, n_kept, n_sentences,
      | has_badword, has_lorem, has_brace, clean_text,
      | (n_sentences >= 3 AND NOT has_badword AND NOT has_lorem
      |  AND NOT has_brace) AS is_kept
      |FROM g ORDER BY doc_id""".stripMargin

  def defs: Seq[QueryDef] = Seq(
    QueryDef("d7_decontam_flag", decontamFlag, Some(decontamOracle)),
    QueryDef("d8_decontam_clean", decontamClean, Some(decontamCleanOracle)),
    QueryDef("d20_decontam_index", decontamFromIndex, Some(decontamOracle)),
    QueryDef("d25_decontam_index_compact", decontamIndexCompact,
      Some(decontamOracle)),
    QueryDef("d27_decontam_index_remove", decontamIndexRemove,
      Some(decontamIndexRemoveOracle)),
    QueryDef("d21_contamination_report", contaminationReportGate,
      Some(contaminationReportOracle)),
    QueryDef("d22_contamination_curve", contaminationCurveGate,
      Some(contaminationCurveOracle), bench = true),
    QueryDef("t7_pii_scan", piiScan, Some(piiOracle)),
    QueryDef("t8_line_dedup", lineDedup, Some(lineDedupOracle)),
    QueryDef("t9_chunking", chunking, Some(chunkingOracle)),
    QueryDef("t10_tfidf", tfidf, Some(tfidfOracle)),
    QueryDef("t11_bm25_search", bm25, Some(bm25Oracle)),
    QueryDef("t42_bm25_index", bm25FromIndex, Some(bm25Oracle)),
    QueryDef("t57_bm25_index_takedown", bm25IndexTakedown,
      Some(bm25TakedownOracle)),
    QueryDef("t61_bm25_search_many", bm25SearchManyPersisted,
      Some(bm25ManyOracle)),
    QueryDef("t60_bm25_opened_serve", bm25OpenedServe,
      Some(bm25OpenedOracle)),
    QueryDef("t43_chunk_search", chunkSearch, Some(chunkSearchOracle)),
    QueryDef("t12_html_clean", htmlClean, Some(htmlCleanOracle)),
    QueryDef("d13_dup_spans", dupSpans, Some(dupSpansOracle), bench = true),
    QueryDef("d14_dup_span_clean", dupSpanClean, Some(dupSpanCleanOracle)),
    QueryDef("t15_pseudonymize", pseudonymizeGate, Some(pseudonymizeOracle)),
    QueryDef("t16_url_parse", urlStats, Some(urlStatsOracle)),
    QueryDef("t17_script_profile", scriptProfileGate, Some(scriptOracle)),
    QueryDef("t18_novelty", novelty, Some(noveltyOracle)),
    QueryDef("t19_mask_tokens", maskGate, Some(maskOracle)),
    QueryDef("t45_fim_transform", fimGate, Some(fimOracle), bench = true),
    QueryDef("t20_pmi_bigrams", pmi, Some(pmiOracle)),
    QueryDef("t21_gopher_quality", gopher, Some(gopherOracle)),
    QueryDef("t22_sentences", sentencesGate, Some(sentencesOracle)),
    QueryDef("t28_c4_filters", c4Filters, Some(c4Oracle)),
    QueryDef("t25_unicode_nfc", unicodeNfc, Some(unicodeNfcOracle)),
    QueryDef("t26_lm_score", lmScoreGate, Some(lmScoreOracle), bench = true),
    QueryDef("t27_lm_incremental", lmIncrementalGate, Some(lmScoreOracle)),
    QueryDef("t40_kneser_ney", knScoreGate, Some(knScoreOracle)),
    QueryDef("t41_kn_incremental", knIncrementalGate, Some(knScoreOracle)),
    QueryDef("t58_kn_unlearn", knUnlearnGate, Some(knUnlearnOracle)),
    QueryDef("t59_nb_unlearn", nbUnlearnGate, Some(nbUnlearnOracle)),
    QueryDef("t31_url_canonical", urlCanonGate, Some(urlCanonOracle)),
    QueryDef("t32_robots", robotsGate, Some(robotsOracle)),
    QueryDef("t33_sitemap", sitemapGate, Some(sitemapOracle)),
    QueryDef("t29_nb_classify", nbClassifyGate, Some(nbClassifyOracle), bench = true),
    QueryDef("t30_nb_incremental", nbIncrementalGate, Some(nbClassifyOracle)),
    QueryDef("t44_nb_from_model", nbFromModelGate, Some(nbClassifyOracle),
      bench = true),
    QueryDef("t23_bpe_merges", bpeMerges, Some(PinnedOracles.t23BpeMerges)),
    QueryDef("t24_bpe_token_counts", bpeTokenCounts,
      Some(PinnedOracles.t24BpeTokenCounts)),
    QueryDef("t46_tokenizer_fertility", tokenizerFertilityGate,
      Some(tokenizerFertilityOracle)),
    QueryDef("t47_sft_render", sftRenderGate, Some(sftRenderOracle)),
    QueryDef("t49_span_corruption", spanCorruptGate,
      Some(spanCorruptOracle)),
    QueryDef("t50_dpo_pairs", dpoPairsGate, Some(dpoPairsOracle)),
    QueryDef("t52_sft_token_spans", sftTokenSpansGate,
      Some(PinnedOracles.t52SftTokenSpans)),
    QueryDef("t53_dpo_token_spans", dpoTokenSpansGate,
      Some(PinnedOracles.t53DpoTokenSpans)),
    QueryDef("t54_bpe_from_model", bpeFromModel,
      Some(PinnedOracles.t24BpeTokenCounts)),
    QueryDef("t55_unigram_from_model", unigramFromModel,
      Some(PinnedOracles.t35UnigramTokenCounts)),
    QueryDef("t51_score_blend", scoreBlendGate, Some(scoreBlendOracle)),
    QueryDef("t48_classifier_eval", classifierEvalGate,
      Some(classifierEvalOracle)),
    QueryDef("t34_unigram_vocab", unigramVocab,
      Some(PinnedOracles.t34UnigramVocab)),
    QueryDef("t36_unigram_soft", unigramVocabSoft,
      Some(PinnedOracles.t36SoftVocabSql)),
    QueryDef("t37_unigram_sample", unigramSampleCounts,
      Some(PinnedOracles.t37SampleCounts)),
    QueryDef("t38_bpe_dropout", bpeDropoutCounts,
      Some(PinnedOracles.t38DropoutCounts)),
    QueryDef("t39_unigram_frac", unigramFracAlphaCounts,
      Some(PinnedOracles.t39FracCounts)),
    QueryDef("t35_unigram_token_counts", unigramTokenCounts,
      Some(PinnedOracles.t35UnigramTokenCounts)))
}
