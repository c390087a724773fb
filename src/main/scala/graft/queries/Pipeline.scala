package graft.queries

import graft.Tables
import graft.ext.{Packing, Profile, TextAnalysis}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Gate queries for the pipeline-bookkeeping operators: sequence packing
  * (distributed prefix sum — offsets are a pure function of the global
  * (id, tokens) order, so the single-node window-sum oracle replays them
  * exactly regardless of partitioning) and one-pass column profiling.
  */
object PipelineQueries {

  /** Concat-and-chunk packing of documents into 1024-token sequences. */
  def packing(s: SparkSession, d: String): DataFrame =
    Packing.packConcat(Tables.documents(s, d), "doc_id",
        TextAnalysis.tokenCount(col("text")), seqLen = 1024)
      .orderBy("doc_id")

  /** pk4: materialized packed training sequences (Packing.packSequences)
    * — the actual trainer artifact: whitespace tokens of every document
    * laid end-to-end in doc_id order, one row per 256-token sequence,
    * tokens in stream order (last sequence short). Full replay: the
    * oracle re-derives global positions with a window prefix sum +
    * zipped unnest and groups by position DIV 256. */
  def packedSequences(s: SparkSession, d: String): DataFrame =
    Packing.packSequences(Tables.documents(s, d), "doc_id",
        filter(split(col("text"), "\\s+"), t => length(t) > 0),
        seqLen = 256)
      // the hash compare cannot sort array-valued cells (driver
      // limitation) — flatten the sequence to its exact text; content
      // is still verified token-for-token in order
      .select(col("seq_id"), col("n_tokens"),
        array_join(col("token_ids"), " ").as("seq_text"))
      .orderBy("seq_id")

  private val packedSequencesOracle =
    """WITH toks AS (
      | SELECT doc_id, list_filter(string_split_regex(text, '\s+'),
      |   t -> len(t) > 0) AS ts
      | FROM documents),
      |nz AS (SELECT doc_id, ts, len(ts) AS n FROM toks WHERE len(ts) > 0),
      |off AS (
      | SELECT doc_id, ts, sum(n) OVER (ORDER BY doc_id) - n AS so FROM nz),
      |pos AS (
      | SELECT so + unnest(range(0, len(ts))) AS gpos, unnest(ts) AS tok
      | FROM off)
      |SELECT CAST(gpos // 256 AS BIGINT) AS seq_id,
      | CAST(count(*) AS BIGINT) AS n_tokens,
      | array_to_string(list(tok ORDER BY gpos), ' ') AS seq_text
      |FROM pos GROUP BY 1 ORDER BY 1""".stripMargin

  /** pk5: example-level no-straddle packing (Packing.packExamples) —
    * the SFT layout: whitespace token counts, shards of ~4096 tokens,
    * next-fit into 512-token sequences within each shard. The oracle
    * replays the full chain: window prefix sum → shard DIV → a
    * RECURSIVE CTE folding the next-fit remainder through each shard's
    * id-ordered examples (next-fit is sequential by nature — the
    * recursion IS the semantics). */
  def packedExamples(s: SparkSession, d: String): DataFrame =
    Packing.packExamples(Tables.documents(s, d), "doc_id",
        TextAnalysis.tokenCount(col("text")), seqLen = 512,
        shardTokens = 4096L)
      .orderBy("doc_id")

  private val packedExamplesOracle =
    """WITH RECURSIVE toks AS (
      | SELECT doc_id, CAST(len(regexp_extract_all(text, '[^\s]+'))
      |   AS BIGINT) AS n
      | FROM documents),
      |nz AS (SELECT doc_id, n FROM toks WHERE n > 0),
      |off AS (
      | SELECT doc_id, n, sum(n) OVER (ORDER BY doc_id) - n AS so FROM nz),
      |sh AS (
      | SELECT doc_id, n, so // 4096 AS shard_id,
      |  row_number() OVER (PARTITION BY so // 4096 ORDER BY doc_id) AS rn
      | FROM off),
      |f AS (
      | SELECT shard_id, rn, doc_id, n,
      |  CAST(0 AS BIGINT) AS seq,
      |  CASE WHEN n >= 512 THEN 512 ELSE n END AS used
      | FROM sh WHERE rn = 1
      | UNION ALL
      | SELECT s.shard_id, s.rn, s.doc_id, s.n,
      |  CASE WHEN s.n > 512 - f.used THEN f.seq + 1 ELSE f.seq END,
      |  CASE WHEN s.n > 512 - f.used
      |       THEN (CASE WHEN s.n >= 512 THEN 512 ELSE s.n END)
      |       ELSE f.used + s.n END
      | FROM f JOIN sh s ON s.shard_id = f.shard_id AND s.rn = f.rn + 1)
      |SELECT doc_id, n AS n_tokens, CAST(shard_id AS BIGINT) AS shard_id,
      | seq AS seq_in_shard, n > 512 AS oversize
      |FROM f ORDER BY doc_id""".stripMargin

  /** p10: the SFT data pipeline END TO END — template rendering with
    * TOKEN-unit loss spans (t52's exact chain: word-boundary
    * prompt/response split, renderSftTokens through the pinned BPE)
    * feeding example-level NO-STRADDLE packing (pk5's chain: prefix-sum
    * shards, in-shard next-fit at 512 tokens): the two halves a
    * post-training data run actually chains, composed and gated as
    * one. The oracle chains the t52 pinned per-example token counts
    * (independent Python replay of the tokenizer) into pk5's
    * recursive next-fit fold — provenance: pinned Python → window
    * prefix sum → recursive CTE. */
  def sftPipeline(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val merges = graft.ext.Bpe.collectMerges(
      graft.ext.Bpe.learnMerges(docs, "text", numMerges = 24))
    val words = filter(split(col("text"), "\\s+"), t => length(t) > 0)
    val prompt = array_join(slice(words, 1, 5), " ")
    val rest = array_join(
      slice(words, lit(6), greatest(size(words) - 5, lit(0))), " ")
    val response = when(size(words) > 5, concat(lit(" "), rest))
      .otherwise(lit(""))
    val rendered = TextAnalysis.renderSftTokens(docs, "doc_id", prompt,
      response, system = "You are a helpful assistant.",
      tokenizer = c => graft.functions.GraftFunctions.bpeTokenize(c, merges))
    Packing.packExamples(rendered, "doc_id", col("n_tokens"),
        seqLen = 512, shardTokens = 4096L)
      .orderBy("doc_id")
  }

  private def sftPipelineOracle =
    s"""WITH RECURSIVE counts AS (
      | SELECT doc_id, n_tokens AS n
      | FROM (${PinnedOracles.t52SftTokenSpans}) pinned),
      |off AS (
      | SELECT doc_id, n, sum(n) OVER (ORDER BY doc_id) - n AS so
      | FROM counts WHERE n > 0),
      |sh AS (
      | SELECT doc_id, n, so // 4096 AS shard_id,
      |  row_number() OVER (PARTITION BY so // 4096 ORDER BY doc_id) AS rn
      | FROM off),
      |f AS (
      | SELECT shard_id, rn, doc_id, n,
      |  CAST(0 AS BIGINT) AS seq,
      |  CASE WHEN n >= 512 THEN 512 ELSE n END AS used
      | FROM sh WHERE rn = 1
      | UNION ALL
      | SELECT s.shard_id, s.rn, s.doc_id, s.n,
      |  CASE WHEN s.n > 512 - f.used THEN f.seq + 1 ELSE f.seq END,
      |  CASE WHEN s.n > 512 - f.used
      |       THEN (CASE WHEN s.n >= 512 THEN 512 ELSE s.n END)
      |       ELSE f.used + s.n END
      | FROM f JOIN sh s ON s.shard_id = f.shard_id AND s.rn = f.rn + 1)
      |SELECT doc_id, n AS n_tokens, CAST(shard_id AS BIGINT) AS shard_id,
      | seq AS seq_in_shard, n > 512 AS oversize
      |FROM f ORDER BY doc_id""".stripMargin

  /** pk7: packed SUBWORD sequences through the PERSISTED tokenizer —
    * the trainer-final composition (tokenize → pack): the BPE model is
    * trained on the FULL corpus and saved (t54's contract), then the
    * doc_id < 50 slice tokenizes from the LOADED model and
    * Packing.packSequences cuts the subword stream every 256 tokens.
    * The slice bounds the pinned literal; the model does not shrink
    * with it. Oracle = independent Python replay of the whole chain
    * (merge learning → subword tokenization → concat-and-chunk),
    * pinned. Gate flattens to seq_text per the pk4 array-cell rule. */
  def packedSubwords(s: SparkSession, d: String): DataFrame = {
    val root = java.nio.file.Files.createTempDirectory("graft_pk7_")
      .resolve("bpe_model").toString
    graft.ext.Bpe.saveModel(s, root, graft.ext.Bpe.collectMerges(
      graft.ext.Bpe.learnMerges(Tables.documents(s, d), "text",
        numMerges = 24)))
    val merges = graft.ext.Bpe.loadModel(s, root)
    Packing.packSequences(
        Tables.documents(s, d).where(col("doc_id") < 50),
        "doc_id",
        graft.functions.GraftFunctions.bpeTokenize(col("text"), merges),
        seqLen = 256)
      .select(col("seq_id"), col("n_tokens"),
        array_join(col("token_ids"), " ").as("seq_text"))
      .orderBy("seq_id")
  }

  /** pk8: packing-efficiency report over the pk5 layout
    * (Packing.packingReport) — realized sequences vs the
    * ceil(total/seqLen) floor, fill rate of allocated capacity
    * (oversize counts as full), oversize population; exact integers.
    * Oracle wraps the pk5 recursive replay in the same two-level
    * aggregate. */
  def packingReportGate(s: SparkSession, d: String): DataFrame =
    Packing.packingReport(
      Packing.packExamples(Tables.documents(s, d), "doc_id",
        TextAnalysis.tokenCount(col("text")), seqLen = 512,
        shardTokens = 4096L),
      seqLen = 512)

  private def packingReportOracle =
    s"""WITH base AS ($packedExamplesOracle),
      |per AS (
      | SELECT shard_id, seq_in_shard,
      |  CAST(count(*) AS BIGINT) AS n_ex,
      |  CAST(sum(n_tokens) AS BIGINT) AS toks,
      |  max(oversize) AS over
      | FROM base GROUP BY 1, 2)
      |SELECT CAST(sum(n_ex) AS BIGINT) AS n_examples,
      | CAST(sum(toks) AS BIGINT) AS n_tokens_total,
      | CAST(count(*) AS BIGINT) AS n_sequences,
      | CAST(sum(CASE WHEN over THEN 1 ELSE 0 END) AS BIGINT)
      |   AS n_oversize,
      | CAST((sum(toks) + 511) // 512 AS BIGINT) AS min_sequences,
      | CAST(sum(least(toks, 512)) * 1000000
      |   // greatest(count(*) * 512, 1) AS BIGINT) AS fill_ppm
      |FROM per""".stripMargin

  /** pk9: PADDED inference batch packing (Packing.packBatches) — the
    * dynamic-batching serving layout: whitespace token counts, global
    * (length DESC, id) order via the distributed two-phase rank,
    * 128-row rank shards, in-shard padded next-fit at 1024 PADDED
    * tokens / 8 rows (a batch costs rows × its longest member — the
    * rectangle an accelerator allocates). The oracle replays the whole
    * chain: window rank → shard DIV → a recursive CTE folding
    * (rows, running max) through each shard's rank-ordered rows with
    * the same integer-division capacity test. */
  def packedBatches(s: SparkSession, d: String): DataFrame =
    Packing.packBatches(Tables.documents(s, d), "doc_id",
        TextAnalysis.tokenCount(col("text")), maxTokens = 1024L,
        maxRows = 8, shardRows = 128L)
      .orderBy("doc_id")

  private def packedBatchesOracleWith(shardRows: String): String =
    // Replay of the padded next-fit fill WITHOUT the per-row recursive
    // fold (SCALEPROBE_r15: the row fold was ~6 s of DuckDB time per
    // evaluation and rode inside pk9/pk10/st34/pr8): within a shard
    // sorted n DESC the batch's running max IS its first member's n, so
    // the size of the batch starting at a row is closed-form —
    // m <= 1024 // k  <=>  k <= 1024 // m for positive ints, hence
    // size = least(8, greatest(1024 // m, 1)) — and only the batch
    // STARTS need the recursion (one chain hop per batch, all shards in
    // lockstep), with members re-derived by range expansion. Verified
    // row-identical to the per-row fold at both SFs before the swap.
    s"""WITH RECURSIVE toks AS (
      | SELECT doc_id, CAST(len(regexp_extract_all(text, '[^\\s]+'))
      |   AS BIGINT) AS n
      | FROM documents),
      |nz AS (SELECT doc_id, n FROM toks WHERE n > 0),
      |rk AS (
      | SELECT doc_id, n,
      |  row_number() OVER (ORDER BY n DESC, doc_id) - 1 AS r
      | FROM nz),
      |sh AS (
      | SELECT doc_id, n, r // $shardRows AS shard_id,
      |  r % $shardRows + 1 AS srn
      | FROM rk),
      |sz AS (
      | SELECT shard_id, srn,
      |  least(8, greatest(1024 // n, 1)) AS cap
      | FROM sh),
      |cnt AS (SELECT shard_id, count(*) AS nrows FROM sh GROUP BY 1),
      |starts AS (
      | SELECT shard_id, CAST(1 AS BIGINT) AS srn, CAST(0 AS BIGINT) AS b
      | FROM cnt
      | UNION ALL
      | SELECT s.shard_id, s.srn + z.cap, s.b + 1
      | FROM starts s
      | JOIN sz z ON z.shard_id = s.shard_id AND z.srn = s.srn
      | JOIN cnt c ON c.shard_id = s.shard_id
      | WHERE s.srn + z.cap <= c.nrows),
      |members AS (
      | SELECT st.shard_id, st.b,
      |  unnest(range(st.srn, st.srn + z.cap)) AS srn
      | FROM starts st
      | JOIN sz z ON z.shard_id = st.shard_id AND z.srn = st.srn)
      |SELECT sh.doc_id, sh.n AS n_tokens,
      | CAST(sh.shard_id AS BIGINT) AS shard_id,
      | m.b AS batch_in_shard, sh.n > 1024 AS oversize
      |FROM sh JOIN members m
      | ON m.shard_id = sh.shard_id AND m.srn = sh.srn
      |ORDER BY doc_id""".stripMargin

  private[queries] val packedBatchesOracle = packedBatchesOracleWith("128")

  /** pk10: padding-efficiency report over the pk9 layout
    * (Packing.batchReportWithBoundary) — padded tokens actually
    * allocated vs the real token mass, waste in exact ppm,
    * batch/oversize counts, PLUS the realized shard-boundary cost:
    * the same fold replayed as ONE shard and the padded-token delta
    * reported as boundary_waste_ppm (the documented one-underfilled-
    * batch-per-shard bound, measured). Oracle wraps the pk9 recursive
    * replay in the same two-level aggregate twice — once at 128-row
    * shards, once single-shard — and recomputes the delta. */
  def batchReportGate(s: SparkSession, d: String): DataFrame =
    Packing.batchReportWithBoundary(Tables.documents(s, d), "doc_id",
      TextAnalysis.tokenCount(col("text")), maxTokens = 1024L,
      maxRows = 8, shardRows = 128L)

  private def batchAggSql(baseSql: String): String =
    s"""WITH base AS ($baseSql),
      |pb AS (
      | SELECT shard_id, batch_in_shard,
      |  CAST(count(*) AS BIGINT) AS nn,
      |  CAST(max(n_tokens) AS BIGINT) AS mx,
      |  CAST(sum(n_tokens) AS BIGINT) AS realt,
      |  max(oversize) AS over
      | FROM base GROUP BY 1, 2)
      |SELECT CAST(sum(nn) AS BIGINT) AS n_rows,
      | CAST(count(*) AS BIGINT) AS n_batches,
      | CAST(sum(CASE WHEN over THEN 1 ELSE 0 END) AS BIGINT)
      |   AS n_oversize,
      | CAST(sum(realt) AS BIGINT) AS real_tokens,
      | CAST(sum(nn * mx) AS BIGINT) AS padded_tokens,
      | CAST((sum(nn * mx) - sum(realt)) * 1000000
      |   // greatest(sum(nn * mx), 1) AS BIGINT) AS padding_ppm
      |FROM pb""".stripMargin

  private[queries] def batchReportOracle =
    s"""WITH rep AS (${batchAggSql(packedBatchesOracle)}),
      |srep AS (
      | SELECT padded_tokens AS single_padded_tokens
      | FROM (${batchAggSql(packedBatchesOracleWith("1000000000"))}) s)
      |SELECT rep.*, srep.single_padded_tokens,
      | CAST((rep.padded_tokens - srep.single_padded_tokens) * 1000000
      |   // greatest(srep.single_padded_tokens, 1) AS BIGINT)
      |   AS boundary_waste_ppm
      |FROM rep, srep""".stripMargin

  /** pk6: dense global sequence ids over the pk5 layout
    * (Packing.renumberSequences) — the loader-facing numbering: rank of
    * (shard_id, seq_in_shard) over the distinct sequence pairs via the
    * two-phase groupRank, joined back. Oracle = the pk5 recursive
    * replay plus a dense_rank window. */
  def renumberedExamples(s: SparkSession, d: String): DataFrame =
    Packing.renumberSequences(
        Packing.packExamples(Tables.documents(s, d), "doc_id",
          TextAnalysis.tokenCount(col("text")), seqLen = 512,
          shardTokens = 4096L))
      .select(col("doc_id"), col("shard_id"), col("seq_in_shard"),
        col("seq_id"))
      .orderBy("doc_id")

  private def renumberedExamplesOracle =
    s"""WITH base AS ($packedExamplesOracle)
      |SELECT doc_id, shard_id, seq_in_shard,
      | CAST(dense_rank() OVER (ORDER BY shard_id, seq_in_shard) - 1
      |   AS BIGINT) AS seq_id
      |FROM base ORDER BY doc_id""".stripMargin

  /** End-to-end curation pipeline (ext Curation): quality filter →
    * exact dedup → decontamination → temperature mixing → sharding,
    * over a corpus with PLANTED exact duplicates (every 10th doc
    * reappears at id+100000 — dedup must drop the copy, min-id wins)
    * and planted contaminated wraps (every 20th at id+200000 — the d7
    * pattern; decontam drops them AND the benchmark originals). The
    * thresholds (minWords=30, minStopHits=1) are tuned to the
    * synthetic corpus so the quality stage splits it nontrivially.
    * The oracle replays all five stages in one CTE chain. */
  private[queries] def curationCorpus(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), col("text"), col("lang"))
    docs
      .union(docs.where(col("doc_id") % 10 === 0).select(
        (col("doc_id") + 100000).as("doc_id"), col("text"), col("lang")))
      .union(docs.where(col("doc_id") % 20 === 0).select(
        (col("doc_id") + 200000).as("doc_id"),
        concat(lit("novel preamble "), col("text"), lit(" novel epilogue"))
          .as("text"),
        col("lang")))
  }

  def curationE2e(s: SparkSession, d: String): DataFrame = {
    val bench = Tables.documents(s, d)
      .where(col("doc_id") % 20 === 0).select(col("text"))
    graft.ext.Curation.curate(curationCorpus(s, d), "text", "doc_id",
        col("lang"), bench, "text", minWords = 30L, minStopHits = 1L)
      .orderBy("doc_id")
  }

  /** p4: the p1 pipeline with the fuzzy near-dup stage ON (the form
    * real pretraining curation runs — a user following p1 alone ships
    * near-duplicates). Corpus plants EXACT dups (%10 → +100000, same
    * text) and NEAR dups (%15 with n_chars >= 150 → +300000, ' zz'
    * appended — ≥150 chars keeps the pair Jaccard ≳ 0.95, far above
    * both the 0.8 threshold and the 8-band LSH recall cliff, so the
    * brute-force oracle and the LSH candidate set agree exactly). The
    * oracle replays the WHOLE chain: Gopher quality → min-id exact
    * dedup → all-pairs shingle Jaccard + recursive-CTE reachability +
    * min-component keep → decontamination → temperature mixing →
    * prefix-sum sharding. */
  private def curationNearDupCorpus(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), col("text"), col("lang"), col("n_chars"))
    docs.select("doc_id", "text", "lang")
      .union(docs.where(col("doc_id") % 10 === 0).select(
        (col("doc_id") + 100000).as("doc_id"), col("text"), col("lang")))
      .union(docs.where(col("doc_id") % 15 === 0 && col("n_chars") >= 150)
        .select((col("doc_id") + 300000).as("doc_id"),
          concat(col("text"), lit(" zz")).as("text"), col("lang")))
  }

  /** p5: CCNet-style perplexity bucketing (Curation.perplexityBuckets)
    * — self-trained minCount=2 Kneser–Ney trigram scores split into 3
    * equal-population tiers per language (head/middle/tail) by ntile
    * over the total order (score_e12 desc, doc_id). Exact-integer
    * scores + ANSI ntile on a total order ⇒ hash gate. */
  def pplBuckets(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val tri = TextAnalysis.knCounts(docs, "text")
    graft.ext.Curation.perplexityBuckets(docs, "text", "doc_id",
        col("lang"), tri, nBuckets = 3, minCount = 2L)
      .orderBy("doc_id")
  }

  private[queries] val pplBucketsOracle = HygieneQueries.knTermsCte +
    """,
      |scored AS (
      | SELECT doc_id, sum(term) // count(*) AS score_e12
      | FROM terms GROUP BY doc_id)
      |SELECT d.doc_id, d.lang, CAST(s.score_e12 AS BIGINT) AS score_e12,
      | CAST(ntile(3) OVER (PARTITION BY d.lang
      |   ORDER BY s.score_e12 DESC, d.doc_id) AS BIGINT) AS bucket
      |FROM documents d JOIN scored s USING (doc_id)
      |ORDER BY d.doc_id""".stripMargin

  /** p7: curriculum sharding (Curation.curriculumShards) — KN quality
    * tiers cut into token-balanced shards in curriculum order (bucket
    * asc, score desc, id), so shard 0..k stream the cleanest data. The
    * oracle replays tiers, the curriculum total order, the prefix sum,
    * and the shard cut. */
  def curriculumShards(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    graft.ext.Curation.curriculumShards(docs, "text", "doc_id",
        col("lang"), TextAnalysis.knCounts(docs, "text"),
        shardTokens = 2048L, nBuckets = 3, minCount = 2L)
      .orderBy("doc_id")
  }

  private[queries] val curriculumShardsOracle = HygieneQueries.knTermsCte +
    """,
      |scored AS (
      | SELECT doc_id, sum(term) // count(*) AS score_e12
      | FROM terms GROUP BY doc_id),
      |tiered AS (
      | SELECT d.doc_id, d.lang, s.score_e12,
      |  CAST(ntile(3) OVER (PARTITION BY d.lang
      |    ORDER BY s.score_e12 DESC, d.doc_id) AS BIGINT) AS bucket,
      |  CAST(len(regexp_extract_all(d.text, '[^\s]+')) AS BIGINT)
      |    AS n_tokens
      | FROM documents d JOIN scored s USING (doc_id)),
      |o AS (
      | SELECT doc_id, lang, bucket, n_tokens,
      |  sum(n_tokens) OVER (ORDER BY bucket, score_e12 DESC, doc_id
      |    ROWS UNBOUNDED PRECEDING) AS eo
      | FROM tiered WHERE n_tokens > 0)
      |SELECT doc_id, lang, bucket, n_tokens,
      | CAST((eo - n_tokens) // 2048 AS BIGINT) AS shard_id
      |FROM o ORDER BY doc_id""".stripMargin

  /** p6: classifier-routed mixing (Curation.classifiedMixture) — NB
    * predictions route documents into classes, the mixture plan prices
    * each predicted class's token supply against the target ppm. The
    * oracle replays the whole chain: NB train/score/argmax in e9
    * integers, then the exact min-bottleneck mixture arithmetic. */
  def classifiedMixture(s: SparkSession, d: String): DataFrame =
    graft.ext.Curation.classifiedMixture(Tables.documents(s, d), "text",
        "doc_id", "lang", col("n_chars"),
        targetPpm = Map("en" -> 400000L, "de" -> 200000L, "es" -> 200000L,
          "fr" -> 100000L, "zh" -> 100000L))
      .orderBy("source")

  private val classifiedMixtureOracle = HygieneQueries.nbPredCte +
    """,
      |preds AS (SELECT doc_id, pred FROM r WHERE rn = 1),
      |w AS (SELECT * FROM (VALUES ('en', 400000), ('de', 200000),
      |  ('es', 200000), ('fr', 100000), ('zh', 100000)) AS t(source, w)),
      |agg AS (
      | SELECT p.pred AS source, CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(sum(d.n_chars) AS BIGINT) AS tokens_total
      | FROM preds p JOIN documents d USING (doc_id) GROUP BY 1),
      |tt AS (
      | SELECT min(tokens_total * 1000000 // w.w) AS T
      | FROM agg JOIN w USING (source))
      |SELECT a.source, a.n_docs, a.tokens_total,
      | CAST(CASE WHEN w.w IS NULL THEN 0
      |  ELSE LEAST(1000000,
      |   ((w.w * tt.T // 1000000) * 1000000) // a.tokens_total) END
      |  AS BIGINT) AS rate_ppm
      |FROM agg a LEFT JOIN w USING (source) CROSS JOIN tt
      |ORDER BY a.source""".stripMargin

  def curationNearDup(s: SparkSession, d: String): DataFrame = {
    val bench = Tables.documents(s, d)
      .where(col("doc_id") % 20 === 0).select(col("text"))
    graft.ext.Curation.curate(curationNearDupCorpus(s, d), "text", "doc_id",
        col("lang"), bench, "text", minWords = 30L, minStopHits = 1L,
        nearDup = Some(graft.ext.Dedup.MinHashConfig()))
      .orderBy("doc_id")
  }

  /** The quality → exact-dedup → near-dup-CC → decontam chain of the
    * planted near-dup corpus as a WITH-body fragment ending at `k3`
    * (the curated survivors) — shared by the p4 oracle (which appends
    * its temperature-mixing + sharding tail) and the p8 oracle (which
    * appends KN tiers, the epoch-capped realization, curriculum
    * sharding, and the manifest). */
  private lazy val nearDupKeptCtes =
    """corpus AS (
      | SELECT doc_id, text, lang FROM documents
      | UNION ALL
      | SELECT doc_id + 100000 AS doc_id, text, lang
      | FROM documents WHERE doc_id % 10 = 0
      | UNION ALL
      | SELECT doc_id + 300000 AS doc_id, text || ' zz' AS text, lang
      | FROM documents WHERE doc_id % 15 = 0 AND n_chars >= 150),
      |w AS (
      | SELECT doc_id, text, lang, text AS t,
      |  list_filter(string_split_regex(text, '\s+'),
      |    x -> len(x) > 0) AS ws,
      |  list_filter(string_split(text, chr(10)),
      |    l -> len(ltrim(l)) > 0) AS ls
      | FROM corpus),
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
      | FROM w),
      |q AS (
      | SELECT doc_id FROM m
      | WHERE n_words BETWEEN 30 AND 100000
      |  AND sum_word_len >= n_words * 3 AND sum_word_len <= n_words * 10
      |  AND n_symbols * 10 <= n_words
      |  AND n_bullet_lines * 10 <= n_lines * 9
      |  AND n_ellipsis_lines * 10 <= n_lines * 3
      |  AND n_alpha_words * 10 >= n_words * 8
      |  AND n_stop_hits >= 1),
      |k1 AS (SELECT c.* FROM corpus c JOIN q USING (doc_id)),
      |reps AS (SELECT min(doc_id) AS doc_id FROM k1 GROUP BY text),
      |k2 AS (SELECT k1.* FROM k1 JOIN reps USING (doc_id)),
      |sh AS (
      | SELECT doc_id,
      |  list_distinct(list_transform(
      |    range(1, greatest(length(lower(text)) - 5, 0) + 2),
      |    i -> substr(lower(text), i, 5))) AS s
      | FROM k2 WHERE length(text) > 0),
      |shx AS (SELECT doc_id, len(s) AS n, unnest(s) AS g FROM sh),
      |nd AS (
      | SELECT id_a, id_b FROM (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
      |   CAST(count(*) AS DOUBLE) AS inter,
      |   any_value(a.n) AS na, any_value(b.n) AS nb
      |  FROM shx a JOIN shx b ON a.g = b.g AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2)
      | WHERE inter / (na + nb - inter) >= 0.8),
      |edges AS (
      | SELECT id_a AS a, id_b AS b FROM nd
      | UNION SELECT id_b, id_a FROM nd),
      |reach AS (
      | SELECT a AS id, a AS r FROM edges
      | UNION
      | SELECT e.b, reach.r FROM reach JOIN edges e ON e.a = reach.id),
      |comp AS (SELECT id, min(r) AS component FROM reach GROUP BY id),
      |k2b AS (
      | SELECT k2.* FROM k2 LEFT JOIN comp ON k2.doc_id = comp.id
      | WHERE comp.id IS NULL OR comp.component = k2.doc_id),
      |btoks AS (
      | SELECT list_filter(string_split_regex(lower(text), '\s+'),
      |   t -> len(t) > 0) AS ts
      | FROM documents WHERE doc_id % 20 = 0),
      |bgrams AS (
      | SELECT DISTINCT unnest(list_distinct(list_transform(
      |   range(1, greatest(len(ts) - 8, 0) + 2),
      |   i -> array_to_string(ts[i:i+7], ' ')))) AS gram
      | FROM btoks),
      |ctoks AS (
      | SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'),
      |   t -> len(t) > 0) AS ts FROM k2b),
      |cgrams AS (
      | SELECT doc_id, unnest(list_distinct(list_transform(
      |   range(1, greatest(len(ts) - 8, 0) + 2),
      |   i -> array_to_string(ts[i:i+7], ' ')))) AS gram
      | FROM ctoks),
      |hits AS (
      | SELECT DISTINCT cg.doc_id FROM cgrams cg
      | JOIN bgrams USING (gram)),
      |k3 AS MATERIALIZED (
      | SELECT k2b.* FROM k2b LEFT JOIN hits h ON k2b.doc_id = h.doc_id
      | WHERE h.doc_id IS NULL)""".stripMargin

  private lazy val curationNearDupOracle =
    "WITH RECURSIVE " + nearDupKeptCtes + """,
      |cnt AS (SELECT lang, CAST(count(*) AS BIGINT) AS n FROM k3 GROUP BY lang),
      |mn AS (SELECT CAST(min(n) AS DOUBLE) AS nmin FROM cnt),
      |r AS (
      | SELECT lang, sqrt(nmin / CAST(n AS DOUBLE)) AS rate FROM cnt, mn),
      |k4 AS (
      | SELECT k3.* FROM k3 JOIN r ON k3.lang = r.lang
      | WHERE ((k3.doc_id % 2147483647) * ((2654435761 * 1) % 2147483647) + 0)
      |       % 2147483647 < CAST(floor(rate * 2147483647) AS BIGINT)),
      |t AS (
      | SELECT doc_id, lang,
      |  CAST(len(regexp_extract_all(text, '[^\s]+')) AS BIGINT) AS n_tokens
      | FROM k4),
      |o AS (
      | SELECT doc_id, lang, n_tokens,
      |  sum(n_tokens) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING)
      |    - n_tokens AS start_offset
      | FROM t WHERE n_tokens > 0)
      |SELECT doc_id, lang, n_tokens,
      | CAST(start_offset // 2048 AS BIGINT) AS shard_id
      |FROM o ORDER BY doc_id""".stripMargin

  /** p8: the END-TO-END PRETRAINING-RUN composition — every stage a
    * real training export chains, in trainer order, over the planted
    * near-dup corpus, with the WHOLE artifact (per-copy shard rows +
    * the per-shard manifest) hash-replayed by one oracle:
    *
    *   1. curate with near-dup ON (p4's front half: Gopher quality →
    *      min-id exact dedup → MinHash LSH + transitive component keep
    *      → decontamination) at temperature alpha = 1 — mixing is NOT
    *      curation's thinning here but the explicit epoch-capped stage
    *      below, as a real run prices it;
    *   2. KN perplexity tiers self-trained on the CURATED corpus (p5);
    *   3. epoch-capped mixture plan over the curated per-language token
    *      supply (sm14), REALIZED by replication (whole copies +
    *      hash-Bernoulli fractional copy, copy_id numbered);
    *   4. token-balanced curriculum shards cut over the REALIZED
    *      stream — order (bucket, score desc, id, copy) via the
    *      distributed prefix sum (p7/pk2);
    *   5. per-shard manifest joined onto every row (the loader
    *      sidecar);
    *   6. partitioned parquet export (partitionBy shard_id) and
    *      read-back — the artifact is checked AFTER the roundtrip.
    *
    * Output: one row per (doc, copy): (doc_id, lang, bucket, copy_id,
    * n_tokens, shard_id, shard_docs, shard_tokens). */
  def pretrainRun(s: SparkSession, d: String): DataFrame = {
    import graft.ext.{Curation, Dedup, Packing, Sampling}
    val corpus = curationNearDupCorpus(s, d)
    val bench = Tables.documents(s, d)
      .where(col("doc_id") % 20 === 0).select(col("text"))
    // Kept corpus DIRECTLY from the curation prefix (quality → exact
    // dedup → near-dup → decontam): this composition mixes at alpha = 1
    // (temperature mixing keeps every row; the epoch-capped stage below
    // is the priced mixture) and re-shards in curriculum order, so the
    // old full-curate call computed a temperature pass, an eager
    // two-phase shard assignment and its totals collect only to throw
    // them away and semi-join the ids back onto the corpus. curateKept
    // returns the same surviving rows (original columns — exact dedup
    // keeps the min-id row whole) with none of that tail: 5 fewer SQL
    // roots / ~14 fewer jobs at sf0.1, row-identical by construction.
    // The curated corpus feeds three stages (KN training + scoring,
    // the mixture supply, the realization) — materialize it once.
    val docs8 = Curation.curateKept(corpus, "text", "doc_id",
        bench, "text", minWords = 30L, minStopHits = 1L,
        nearDup = Some(Dedup.MinHashConfig()))
      .transform(graft.ext.Scale.materialize)
    val tiers = Curation.perplexityBuckets(docs8, "text", "doc_id",
      col("lang"), TextAnalysis.knCounts(docs8, "text"),
      nBuckets = 3, minCount = 2L)
    val tok = TextAnalysis.tokenCount(col("text"))
    val realized = Sampling.mixtureSampleEpochs(docs8, col("lang"),
      col("doc_id"), tok,
      targetPpm = Map("en" -> 400000L, "de" -> 200000L, "es" -> 200000L,
        "fr" -> 100000L, "zh" -> 100000L),
      capE6 = Map("en" -> 2000000L), seed = 5L)
    val keyed = realized
      .join(tiers.select(col("doc_id"), col("score_e12"), col("bucket")),
        Seq("doc_id"))
      .withColumn("__p8_key", struct(col("bucket"),
        (-col("score_e12")).as("ns"), col("doc_id"), col("copy_id")))
    val sharded = Packing.shardByTokens(keyed, "__p8_key", tok,
        shardTokens = 2048L,
        carry = Seq("doc_id", "lang", "bucket", "copy_id"))
      .select(col("doc_id"), col("lang"), col("bucket"),
        col("copy_id").cast("long").as("copy_id"), col("n_tokens"),
        col("shard_id"))
    // Per-shard manifest columns via ONE shard-keyed window in the
    // write pass itself, not shardManifest + broadcast join: the join
    // form re-evaluated the sharding tail a second time to build the
    // broadcast (its own 4-job chain in the r18 profile) and at real
    // scale a manifest relation (one row per ~2048-token shard) is
    // corpus-proportional — far past any broadcast cap. The window's
    // shard-keyed exchange also clusters the write, so the dynamic
    // partitionBy needs no extra sort and emits one file per shard.
    // Same rows: shard_docs/shard_tokens are exact per-shard count/sum
    // either way (the shardManifest operator and its gates are
    // unchanged).
    val wSh = org.apache.spark.sql.expressions.Window
      .partitionBy(col("shard_id"))
    val outDir = java.nio.file.Files.createTempDirectory("graft_p8_")
      .resolve("export").toString
    sharded
      .withColumn("shard_docs", count(lit(1)).over(wSh))
      .withColumn("shard_tokens", sum(col("n_tokens")).over(wSh))
      .write.partitionBy("shard_id").mode("overwrite").parquet(outDir)
    s.read.parquet(outDir)
      .select(col("doc_id"), col("lang"), col("bucket"), col("copy_id"),
        col("n_tokens"), col("shard_id").cast("long").as("shard_id"),
        col("shard_docs"), col("shard_tokens"))
      .orderBy("doc_id", "copy_id")
  }

  private lazy val pretrainRunOracle =
    "WITH RECURSIVE " + nearDupKeptCtes + "," +
    HygieneQueries.knTermsBody("k3") + """,
      |scored AS (
      | SELECT doc_id, sum(term) // count(*) AS score_e12
      | FROM terms GROUP BY doc_id),
      |tiered AS (
      | SELECT k.doc_id, k.lang, s.score_e12,
      |  CAST(ntile(3) OVER (PARTITION BY k.lang
      |    ORDER BY s.score_e12 DESC, k.doc_id) AS BIGINT) AS bucket,
      |  CAST(len(regexp_extract_all(k.text, '[^\s]+')) AS BIGINT)
      |    AS n_tokens
      | FROM k3 k JOIN scored s USING (doc_id)),
      |wts AS (SELECT * FROM (VALUES ('en', 400000, 2000000),
      |  ('de', 200000, 1000000), ('es', 200000, 1000000),
      |  ('fr', 100000, 1000000), ('zh', 100000, 1000000))
      |  AS t(source, w, e)),
      |agg AS (
      | SELECT lang AS source, sum(n_tokens) AS tok
      | FROM tiered GROUP BY 1),
      |tt AS (SELECT min(tok * e // w.w) AS T
      | FROM agg JOIN wts w USING (source)),
      |rates AS (
      | SELECT a.source,
      |  LEAST(e, ((w.w * tt.T // 1000000) * 1000000) // a.tok) AS rate_ppm
      | FROM agg a JOIN wts w USING (source) CROSS JOIN tt),
      |rk AS (
      | SELECT t.*, r.rate_ppm // 1000000 +
      |  CASE WHEN ((t.doc_id % 2147483647) * ((2654435761 * 6) % 2147483647)
      |        + 5) % 2147483647 % 1000000 < r.rate_ppm % 1000000
      |   THEN 1 ELSE 0 END AS k
      | FROM tiered t JOIN rates r ON r.source = t.lang),
      |copies AS (
      | SELECT rk.*, unnest(range(1, CAST(k + 1 AS BIGINT))) AS copy_id
      | FROM rk WHERE k >= 1),
      |o AS (
      | SELECT doc_id, lang, bucket, copy_id, n_tokens,
      |  sum(n_tokens) OVER (
      |    ORDER BY bucket, score_e12 DESC, doc_id, copy_id
      |    ROWS UNBOUNDED PRECEDING) AS eo
      | FROM copies WHERE n_tokens > 0),
      |shardrows AS (
      | SELECT doc_id, lang, bucket, CAST(copy_id AS BIGINT) AS copy_id,
      |  n_tokens, CAST((eo - n_tokens) // 2048 AS BIGINT) AS shard_id
      | FROM o),
      |man AS (
      | SELECT shard_id, CAST(count(*) AS BIGINT) AS shard_docs,
      |  CAST(sum(n_tokens) AS BIGINT) AS shard_tokens
      | FROM shardrows GROUP BY 1)
      |SELECT s.doc_id, s.lang, s.bucket, s.copy_id, s.n_tokens,
      | s.shard_id, m.shard_docs, m.shard_tokens
      |FROM shardrows s JOIN man m USING (shard_id)
      |ORDER BY s.doc_id, s.copy_id""".stripMargin

  /** Corpus data card over the same planted curation corpus: one exact
    * row — volume, duplication, language spread, quality yield,
    * contamination — every number independently re-derived by the
    * oracle. */
  def dataCard(s: SparkSession, d: String): DataFrame = {
    val bench = Tables.documents(s, d)
      .where(col("doc_id") % 20 === 0).select(col("text"))
    graft.ext.Curation.dataCard(curationCorpus(s, d), "text", "doc_id",
      col("lang"), bench, "text", minWords = 30L, minStopHits = 1L)
  }

  private val dataCardOracle =
    """WITH corpus AS (
      | SELECT doc_id, text, lang FROM documents
      | UNION ALL
      | SELECT doc_id + 100000 AS doc_id, text, lang
      | FROM documents WHERE doc_id % 10 = 0
      | UNION ALL
      | SELECT doc_id + 200000 AS doc_id,
      |  'novel preamble ' || text || ' novel epilogue' AS text, lang
      | FROM documents WHERE doc_id % 20 = 0),
      |tok AS (
      | SELECT doc_id, text, lang,
      |  CAST(len(regexp_extract_all(text, '[^\s]+')) AS BIGINT) AS toks
      | FROM corpus),
      |g AS (
      | SELECT text, CAST(count(*) AS BIGINT) AS n,
      |  CAST(sum(toks) AS BIGINT) AS gtoks
      | FROM tok GROUP BY text),
      |dup AS (
      | SELECT CAST(sum(n) AS BIGINT) AS n_docs,
      |  CAST(count(*) AS BIGINT) AS n_distinct_texts,
      |  CAST(sum(CASE WHEN n > 1 THEN n - 1 ELSE 0 END) AS BIGINT)
      |    AS n_exact_dup_docs,
      |  CAST(sum(gtoks) AS BIGINT) AS n_tokens
      | FROM g),
      |lg AS (
      | SELECT CAST(count(DISTINCT lang) AS BIGINT) AS n_langs FROM corpus),
      |w AS (
      | SELECT doc_id, text AS t,
      |  list_filter(string_split_regex(text, '\s+'),
      |    x -> len(x) > 0) AS ws,
      |  list_filter(string_split(text, chr(10)),
      |    l -> len(ltrim(l)) > 0) AS ls
      | FROM corpus),
      |qual AS (
      | SELECT CAST(count(*) AS BIGINT) AS n_quality_docs FROM w
      | WHERE CAST(len(ws) AS BIGINT) BETWEEN 30 AND 100000
      |  AND length(regexp_replace(t, '\s', '', 'g')) >= len(ws) * 3
      |  AND length(regexp_replace(t, '\s', '', 'g')) <= len(ws) * 10
      |  AND ((length(t) - length(regexp_replace(t, '#', '', 'g')))
      |   + (length(t) - length(regexp_replace(t, '\.\.\.', '', 'g'))) // 3)
      |   * 10 <= len(ws)
      |  AND len(list_filter(ls, l -> ltrim(l) LIKE '-%'
      |    OR ltrim(l) LIKE '*%' OR ltrim(l) LIKE '•%')) * 10
      |    <= len(ls) * 9
      |  AND len(list_filter(ls, l -> rtrim(l) LIKE '%...')) * 10
      |    <= len(ls) * 3
      |  AND len(list_filter(ws, x -> regexp_matches(x, '[A-Za-z]'))) * 10
      |    >= len(ws) * 8
      |  AND len(list_intersect(
      |    list_distinct(list_transform(ws, x -> lower(x))),
      |    ['the','be','to','of','and','that','have','with'])) >= 1),
      |btoks AS (
      | SELECT list_filter(string_split_regex(lower(text), '\s+'),
      |   t -> len(t) > 0) AS ts
      | FROM documents WHERE doc_id % 20 = 0),
      |bgrams AS (
      | SELECT DISTINCT unnest(list_distinct(list_transform(
      |   range(1, greatest(len(ts) - 8, 0) + 2),
      |   i -> array_to_string(ts[i:i+7], ' ')))) AS gram
      | FROM btoks),
      |cgrams AS (
      | SELECT doc_id, unnest(list_distinct(list_transform(
      |   range(1, greatest(len(ts) - 8, 0) + 2),
      |   i -> array_to_string(ts[i:i+7], ' ')))) AS gram
      | FROM (SELECT doc_id,
      |   list_filter(string_split_regex(lower(text), '\s+'),
      |     t -> len(t) > 0) AS ts FROM corpus)),
      |contam AS (
      | SELECT CAST(count(DISTINCT cg.doc_id) AS BIGINT)
      |   AS n_contaminated_docs
      | FROM cgrams cg JOIN bgrams USING (gram))
      |SELECT dup.n_docs, dup.n_distinct_texts, dup.n_exact_dup_docs,
      | dup.n_tokens, lg.n_langs, qual.n_quality_docs,
      | contam.n_contaminated_docs
      |FROM dup, lg, qual, contam""".stripMargin

  /** pr7: training-READINESS card (Curation.readinessCard) — the pr6
    * datasheet extended with the measurement families that postdate it,
    * each input being the EXACT relation its own gate pins: the d21
    * per-eval-set contamination report, the t46 tokenizer-fertility
    * report, the t48 classifier evaluation, and the s18 recall-floor
    * ladder. One row: worst-case contamination / fertility / class-F1
    * / recall in exact ppm. Oracle = full replay, compounding the four
    * gates' own oracle queries (incl. the pinned-Python BPE counts)
    * into the same one-row aggregate. */
  def readinessCard(s: SparkSession, d: String): DataFrame =
    graft.ext.Curation.readinessCard(
      HygieneQueries.contaminationReportGate(s, d),
      HygieneQueries.tokenizerFertilityGate(s, d),
      HygieneQueries.classifierEvalGate(s, d),
      ExtensionQueries.recallFloors(s, d))

  private val readinessCardOracle =
    s"""SELECT
      | (SELECT CAST(count(*) AS BIGINT) FROM
      |   (${HygieneQueries.contaminationReportOracle}) c) AS n_eval_sets,
      | (SELECT CAST(coalesce(sum(CASE WHEN n_docs_hit > 0 THEN 1
      |     ELSE 0 END), 0) AS BIGINT) FROM
      |   (${HygieneQueries.contaminationReportOracle}) c)
      |   AS n_contaminated_sets,
      | (SELECT CAST(coalesce(max(contaminated_ppm), 0) AS BIGINT) FROM
      |   (${HygieneQueries.contaminationReportOracle}) c)
      |   AS worst_contamination_ppm,
      | (SELECT CAST(count(*) AS BIGINT) FROM
      |   (${HygieneQueries.tokenizerFertilityOracle}) f) AS n_langs,
      | (SELECT CAST(coalesce(max(fertility_ppm), 0) AS BIGINT) FROM
      |   (${HygieneQueries.tokenizerFertilityOracle}) f)
      |   AS worst_fertility_ppm,
      | (SELECT CAST(coalesce(min(f1_ppm), 0) AS BIGINT) FROM
      |   (${HygieneQueries.classifierEvalOracle}) k) AS min_class_f1_ppm,
      | (SELECT CAST(coalesce(sum(recall_ppm), 0)
      |     // greatest(count(*), 1) AS BIGINT) FROM
      |   (${ExtensionQueries.recallFloorsOracle}) r) AS mean_recall_ppm,
      | (SELECT CAST(coalesce(min(recall_ppm), 0) AS BIGINT) FROM
      |   (${ExtensionQueries.recallFloorsOracle}) r) AS min_recall_ppm
      |""".stripMargin

  /** pr8: SERVING-readiness card (Curation.servingCard) — the pr7
    * pattern applied to the serving/eval families that postdate it:
    * the s24 retrieval evaluation (query count, MAP / mean-recall /
    * MRR in exact ppm), the s25 bitext mining yield (kept pairs per
    * source in ppm), and the pk10 padded-batch accounting (batch
    * count, padding waste). One row; oracle = full replay compounding
    * the three gates' own oracle queries into the same one-row
    * aggregate. */
  def servingCardGate(s: SparkSession, d: String): DataFrame =
    graft.ext.Curation.servingCard(
      ExtensionQueries.retrievalEval(s, d),
      ExtensionQueries.bitextMargin(s, d),
      Tables.embeddings(s, d).where(col("vec_id") % 2 === 0),
      Packing.batchReport(
        Packing.packBatches(Tables.documents(s, d), "doc_id",
          TextAnalysis.tokenCount(col("text")), maxTokens = 1024L,
          maxRows = 8, shardRows = 128L)))

  private def servingCardOracle =
    // Each replayed gate oracle is hoisted into a MATERIALIZED CTE and
    // referenced by every scalar that needs it — the pre-r15 form
    // inlined the retrieval-eval block (an IVF serve + brute-force KNN
    // + IR metrics) FOUR times and the bitext block three, and DuckDB
    // evaluated each scalar subquery independently: 8.5 s of the
    // compare leg for one one-row gate (SCALEPROBE_r15 A/B: 8.5 s →
    // ~1.6 s, value-identical by construction and verified row-for-row
    // at both SFs before the swap).
    s"""WITH e AS MATERIALIZED (${ExtensionQueries.retrievalEvalOracle}),
      |m AS MATERIALIZED (${ExtensionQueries.bitextMarginOracle}),
      |b AS MATERIALIZED ($batchReportOracle)
      |SELECT
      | (SELECT CAST(count(*) AS BIGINT) FROM e) AS n_queries,
      | (SELECT CAST(coalesce(sum(ap_ppm), 0)
      |     // greatest(count(*), 1) AS BIGINT) FROM e) AS map_ppm,
      | (SELECT CAST(coalesce(sum(recall_ppm), 0)
      |     // greatest(count(*), 1) AS BIGINT) FROM e) AS mean_recall_ppm,
      | (SELECT CAST(coalesce(sum(rr_ppm), 0)
      |     // greatest(count(*), 1) AS BIGINT) FROM e) AS mrr_ppm,
      | (SELECT CAST(count(*) AS BIGINT) FROM m) AS n_mined_pairs,
      | CAST((SELECT count(*) FROM m) * 1000000
      |   // greatest((SELECT count(*) FROM embeddings
      |     WHERE vec_id % 2 = 0), 1) AS BIGINT) AS bitext_yield_ppm,
      | (SELECT n_batches FROM b) AS n_batches,
      | (SELECT padding_ppm FROM b) AS padding_ppm
      |""".stripMargin

  private val curationOracle =
    """WITH corpus AS (
      | SELECT doc_id, text, lang FROM documents
      | UNION ALL
      | SELECT doc_id + 100000 AS doc_id, text, lang
      | FROM documents WHERE doc_id % 10 = 0
      | UNION ALL
      | SELECT doc_id + 200000 AS doc_id,
      |  'novel preamble ' || text || ' novel epilogue' AS text, lang
      | FROM documents WHERE doc_id % 20 = 0),
      |w AS (
      | SELECT doc_id, text, lang, text AS t,
      |  list_filter(string_split_regex(text, '\s+'),
      |    x -> len(x) > 0) AS ws,
      |  list_filter(string_split(text, chr(10)),
      |    l -> len(ltrim(l)) > 0) AS ls
      | FROM corpus),
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
      | FROM w),
      |q AS (
      | SELECT doc_id FROM m
      | WHERE n_words BETWEEN 30 AND 100000
      |  AND sum_word_len >= n_words * 3 AND sum_word_len <= n_words * 10
      |  AND n_symbols * 10 <= n_words
      |  AND n_bullet_lines * 10 <= n_lines * 9
      |  AND n_ellipsis_lines * 10 <= n_lines * 3
      |  AND n_alpha_words * 10 >= n_words * 8
      |  AND n_stop_hits >= 1),
      |k1 AS (SELECT c.* FROM corpus c JOIN q USING (doc_id)),
      |reps AS (SELECT min(doc_id) AS doc_id FROM k1 GROUP BY text),
      |k2 AS (SELECT k1.* FROM k1 JOIN reps USING (doc_id)),
      |btoks AS (
      | SELECT list_filter(string_split_regex(lower(text), '\s+'),
      |   t -> len(t) > 0) AS ts
      | FROM documents WHERE doc_id % 20 = 0),
      |bgrams AS (
      | SELECT DISTINCT unnest(list_distinct(list_transform(
      |   range(1, greatest(len(ts) - 8, 0) + 2),
      |   i -> array_to_string(ts[i:i+7], ' ')))) AS gram
      | FROM btoks),
      |ctoks AS (
      | SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'),
      |   t -> len(t) > 0) AS ts FROM k2),
      |cgrams AS (
      | SELECT doc_id, unnest(list_distinct(list_transform(
      |   range(1, greatest(len(ts) - 8, 0) + 2),
      |   i -> array_to_string(ts[i:i+7], ' ')))) AS gram
      | FROM ctoks),
      |hits AS (
      | SELECT DISTINCT cg.doc_id FROM cgrams cg
      | JOIN bgrams USING (gram)),
      |k3 AS (
      | SELECT k2.* FROM k2 LEFT JOIN hits h ON k2.doc_id = h.doc_id
      | WHERE h.doc_id IS NULL),
      |cnt AS (SELECT lang, CAST(count(*) AS BIGINT) AS n FROM k3 GROUP BY lang),
      |mn AS (SELECT CAST(min(n) AS DOUBLE) AS nmin FROM cnt),
      |r AS (
      | SELECT lang, sqrt(nmin / CAST(n AS DOUBLE)) AS rate FROM cnt, mn),
      |k4 AS (
      | SELECT k3.* FROM k3 JOIN r ON k3.lang = r.lang
      | WHERE ((k3.doc_id % 2147483647) * ((2654435761 * 1) % 2147483647) + 0)
      |       % 2147483647 < CAST(floor(rate * 2147483647) AS BIGINT)),
      |t AS (
      | SELECT doc_id, lang,
      |  CAST(len(regexp_extract_all(text, '[^\s]+')) AS BIGINT) AS n_tokens
      | FROM k4),
      |o AS (
      | SELECT doc_id, lang, n_tokens,
      |  sum(n_tokens) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING)
      |    - n_tokens AS start_offset
      | FROM t WHERE n_tokens > 0)
      |SELECT doc_id, lang, n_tokens,
      | CAST(start_offset // 2048 AS BIGINT) AS shard_id
      |FROM o ORDER BY doc_id""".stripMargin

  /** Token-balanced shard assignment at a 2048-token budget, plus the
    * per-shard manifest as a second gate. */
  def sharding(s: SparkSession, d: String): DataFrame =
    Packing.shardByTokens(Tables.documents(s, d), "doc_id",
        TextAnalysis.tokenCount(col("text")), shardTokens = 2048)
      .orderBy("doc_id")

  private val shardingOracle =
    """WITH t AS (
      | SELECT doc_id,
      |  CAST(len(regexp_extract_all(text, '[^\s]+')) AS BIGINT) AS n_tokens
      | FROM documents),
      |o AS (
      | SELECT doc_id, n_tokens,
      |  sum(n_tokens) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING)
      |    - n_tokens AS start_offset
      | FROM t WHERE n_tokens > 0)
      |SELECT doc_id, n_tokens, CAST(start_offset AS BIGINT) AS start_offset,
      | CAST(start_offset // 2048 AS BIGINT) AS shard_id
      |FROM o ORDER BY doc_id""".stripMargin

  def shardManifest(s: SparkSession, d: String): DataFrame =
    Packing.shardManifest(
        Packing.shardByTokens(Tables.documents(s, d), "doc_id",
          TextAnalysis.tokenCount(col("text")), shardTokens = 2048))
      .orderBy("shard_id")

  private val shardManifestOracle =
    """WITH t AS (
      | SELECT doc_id,
      |  CAST(len(regexp_extract_all(text, '[^\s]+')) AS BIGINT) AS n_tokens
      | FROM documents),
      |o AS (
      | SELECT doc_id, n_tokens,
      |  sum(n_tokens) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING)
      |    - n_tokens AS start_offset
      | FROM t WHERE n_tokens > 0)
      |SELECT CAST(start_offset // 2048 AS BIGINT) AS shard_id,
      | CAST(count(*) AS BIGINT) AS n_docs,
      | CAST(sum(n_tokens) AS BIGINT) AS n_tokens
      |FROM o GROUP BY 1 ORDER BY shard_id""".stripMargin

  private val packingOracle =
    """WITH t AS (
      | SELECT doc_id,
      |  CAST(len(regexp_extract_all(text, '[^\s]+')) AS BIGINT) AS n_tokens
      | FROM documents),
      |o AS (
      | SELECT doc_id, n_tokens,
      |  sum(n_tokens) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS end_off
      | FROM t WHERE n_tokens > 0)
      |SELECT doc_id, n_tokens,
      | CAST(end_off - n_tokens AS BIGINT) AS start_offset,
      | CAST(floor((end_off - n_tokens) / 1024.0) AS BIGINT) AS seq_first,
      | CAST(floor((end_off - 1) / 1024.0) AS BIGINT) AS seq_last
      |FROM o ORDER BY doc_id""".stripMargin

  /** One-pass exact profile of the customer table. */
  def profile(s: SparkSession, d: String): DataFrame =
    Profile.describe(Tables.customer(s, d)).orderBy("column")

  private val profileOracle = {
    def num(c: String) =
      s"""SELECT '$c' AS "column", count(*) AS n,
         | count(*) - count($c) AS n_nulls,
         | count(DISTINCT $c) AS n_distinct,
         | CAST(min($c) AS DOUBLE) AS min_num, CAST(max($c) AS DOUBLE) AS max_num,
         | CAST(NULL AS VARCHAR) AS min_str, CAST(NULL AS VARCHAR) AS max_str
         |FROM customer""".stripMargin
    def str(c: String) =
      s"""SELECT '$c' AS "column", count(*) AS n,
         | count(*) - count($c) AS n_nulls,
         | count(DISTINCT $c) AS n_distinct,
         | CAST(NULL AS DOUBLE) AS min_num, CAST(NULL AS DOUBLE) AS max_num,
         | min($c) AS min_str, max($c) AS max_str
         |FROM customer""".stripMargin
    Seq(num("c_custkey"), str("c_name"), num("c_nationkey"),
      num("c_acctbal"), str("c_mktsegment"))
      .mkString("SELECT * FROM (\n", "\nUNION ALL\n", "\n) t ORDER BY \"column\"")
  }

  /** Exact 16-bin equi-width histogram of order totals in integer cents
    * (Profile.histogram — exact integer bin arithmetic, two passes, no
    * sort; empty bins absent by contract). */
  def histogram(s: SparkSession, d: String): DataFrame =
    // floor, not cast: o_totalprice is DOUBLE and double->long casts
    // truncate in Spark but round in DuckDB; floor is portable.
    Profile.histogram(Tables.orders(s, d), floor(col("o_totalprice") * 100), 16)
      .orderBy("bin")

  private val histogramOracle =
    """WITH x AS (
      | SELECT CAST(floor(o_totalprice * 100) AS BIGINT) AS x FROM orders),
      |mm AS (SELECT min(x) AS mn, max(x) AS mx FROM x),
      |b AS (SELECT x, (x - mn) * 16 AS num, mx - mn + 1 AS span FROM x, mm)
      |SELECT (num - num % span) // span AS bin, count(*) AS n,
      | min(x) AS lo, max(x) AS hi
      |FROM b GROUP BY 1 ORDER BY bin""".stripMargin

  /** Per-segment winsorization of customer balances in cents, 5th/95th
    * exact discrete percentiles (Profile.winsorize). */
  def winsorize(s: SparkSession, d: String): DataFrame =
    Profile.winsorize(Tables.customer(s, d), Seq("c_mktsegment"),
        floor(col("c_acctbal") * 100), pLoPct = 5, pHiPct = 95)
      .select("c_custkey", "c_mktsegment", "x_e", "win_lo", "win_hi",
        "clipped")
      .orderBy("c_custkey")

  private val winsorizeOracle =
    """WITH x AS (
      | SELECT c_custkey, c_mktsegment,
      |  CAST(floor(c_acctbal * 100) AS BIGINT) AS x_e FROM customer),
      |r AS (
      | SELECT *, count(*) OVER (PARTITION BY c_mktsegment) AS n,
      |  row_number() OVER (PARTITION BY c_mktsegment ORDER BY x_e) AS rn
      | FROM x),
      |k AS (
      | SELECT *,
      |  greatest((n*5 + 99 - (n*5 + 99) % 100) // 100, 1) AS klo,
      |  greatest((n*95 + 99 - (n*95 + 99) % 100) // 100, 1) AS khi
      | FROM r),
      |v AS (
      | SELECT *,
      |  max(CASE WHEN rn = klo THEN x_e END)
      |    OVER (PARTITION BY c_mktsegment) AS win_lo,
      |  max(CASE WHEN rn = khi THEN x_e END)
      |    OVER (PARTITION BY c_mktsegment) AS win_hi
      | FROM k)
      |SELECT c_custkey, c_mktsegment, x_e, win_lo, win_hi,
      | least(greatest(x_e, win_lo), win_hi) AS clipped
      |FROM v ORDER BY c_custkey""".stripMargin

  /** Keyed snapshot diff (Cdc.diff): before = orders; after drops %170
    * keys, bumps %100 prices, inserts re-keyed %500 rows. Emits only
    * the delta rows with their change_type. */
  def tableDiff(s: SparkSession, d: String): DataFrame = {
    val before = Tables.orders(s, d)
    val k = col("o_orderkey")
    val after = before.where(k % 170 =!= 0)
      .withColumn("o_totalprice",
        when(k % 100 === 0, col("o_totalprice") + 1)
          .otherwise(col("o_totalprice")))
      .unionByName(before.where(k % 500 === 0)
        .withColumn("o_orderkey", k + 10000000L))
    graft.ext.Cdc.diff(before, after, Seq("o_orderkey"))
      .orderBy("o_orderkey")
  }

  private val tableDiffOracle =
    """WITH ch AS (
      | SELECT o_orderkey, CASE
      |   WHEN o_orderkey % 170 = 0 THEN 'removed'
      |   WHEN o_orderkey % 100 = 0 THEN 'changed' END AS change_type
      | FROM orders
      | UNION ALL
      | SELECT o_orderkey + 10000000, 'added' FROM orders
      | WHERE o_orderkey % 500 = 0)
      |SELECT o_orderkey, change_type FROM ch
      |WHERE change_type IS NOT NULL
      |ORDER BY o_orderkey""".stripMargin

  // ------------------------------------------------- table maintenance

  /** Small-file compaction: a deliberately fragmented table (12-way
    * repartitioned append) compacts to fewer files with byte-identical
    * content — the require asserts the file count actually dropped, the
    * oracle hash-checks the rows. */
  def compaction(s: SparkSession, d: String): DataFrame = {
    import graft.sink.{TableRef, TableSink}
    val ref = TableRef("graft", "verify", "c1_orders")
    s.sql(s"DROP TABLE IF EXISTS ${ref.qualified}")
    s.sql(s"DROP TABLE IF EXISTS ${ref.qualified}__compact_tmp")
    TableSink.append(Tables.orders(s, d).repartition(12), ref)
    val before = s.table(ref.qualified).inputFiles.length
    TableSink.compact(s, ref)
    val after = s.table(ref.qualified).inputFiles.length
    require(after < before, s"compaction must shrink files: $before -> $after")
    s.table(ref.qualified).drop("process_dt", "process_date")
      .orderBy("o_orderkey")
  }

  private val compactionOracle =
    """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
      | o_orderdate, o_orderpriority
      |FROM orders ORDER BY o_orderkey""".stripMargin

  /** Schema evolution: the second batch brings a column the table has
    * never seen; old rows must read it as NULL, new rows carry it. */
  def schemaEvolution(s: SparkSession, d: String): DataFrame = {
    import graft.sink.{TableRef, TableSink}
    val ref = TableRef("graft", "verify", "c2_orders")
    s.sql(s"DROP TABLE IF EXISTS ${ref.qualified}")
    val o = Tables.orders(s, d)
    TableSink.append(o.where(col("o_orderkey") % 2 === 0), ref)
    TableSink.appendEvolved(
      o.where(col("o_orderkey") % 2 === 1)
        .withColumn("batch_tag", lit("b2")), ref)
    s.table(ref.qualified).drop("process_dt", "process_date")
      .orderBy("o_orderkey")
  }

  private val schemaEvolutionOracle =
    """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
      | o_orderdate, o_orderpriority,
      | CASE WHEN o_orderkey % 2 = 1 THEN 'b2' END AS batch_tag
      |FROM orders ORDER BY o_orderkey""".stripMargin

  // ---------------------------------------------------- quality / CDC

  /** Data-quality constraint report over orders (ext Quality.check):
    * row-local checks fuse into one scan; uniqueness adds one keyed
    * aggregate; the FK check one broadcast anti join. One constraint
    * (the narrowed priority whitelist) intentionally FAILS so the gate
    * proves violation counting, not just all-zeroes. */
  def qualityCheck(s: SparkSession, d: String): DataFrame = {
    import graft.ext.Quality._
    check(Tables.orders(s, d), Seq(
      Unique(Seq("o_orderkey")),
      NotNull("o_custkey"),
      AcceptedValues("o_orderstatus", Seq("O", "F", "P")),
      AcceptedValues("o_orderpriority",
        Seq("1-URGENT", "2-HIGH", "3-MEDIUM")),
      NullRateBelow("o_totalprice", 0.1),
      RefIntegrity("o_custkey", Tables.customer(s, d), "c_custkey")))
  }

  private val qualityOracle =
    """SELECT "constraint", CAST(violations AS BIGINT) AS violations,
      | violations = 0 AS pass
      |FROM (
      | SELECT 'unique(o_orderkey)' AS "constraint",
      |  (SELECT coalesce(sum(n - 1), 0) FROM (
      |    SELECT count(*) AS n FROM orders GROUP BY o_orderkey
      |    HAVING count(*) > 1)) AS violations
      | UNION ALL SELECT 'not_null(o_custkey)',
      |  (SELECT count(*) FROM orders WHERE o_custkey IS NULL)
      | UNION ALL SELECT 'accepted_values(o_orderstatus)',
      |  (SELECT count(*) FROM orders WHERE o_orderstatus IS NOT NULL
      |   AND o_orderstatus NOT IN ('O','F','P'))
      | UNION ALL SELECT 'accepted_values(o_orderpriority)',
      |  (SELECT count(*) FROM orders WHERE o_orderpriority IS NOT NULL
      |   AND o_orderpriority NOT IN ('1-URGENT','2-HIGH','3-MEDIUM'))
      | UNION ALL SELECT 'null_rate(o_totalprice<=0.1)',
      |  (SELECT greatest(0, count(*) FILTER (o_totalprice IS NULL)
      |    - CAST(floor(count(*) * 0.1) AS BIGINT)) FROM orders)
      | UNION ALL SELECT 'ref_integrity(o_custkey)',
      |  (SELECT count(*) FROM orders o WHERE o_custkey IS NOT NULL
      |   AND NOT EXISTS (SELECT 1 FROM customer c
      |                   WHERE c.c_custkey = o.o_custkey))
      |) t ORDER BY "constraint"""".stripMargin

  /** MERGE (upsert/delete) application (ext Cdc.mergeUpsert): a change
    * batch derived deterministically from orders — full-row updates
    * (+1 price on keys %100=0), inserts (shifted keys for %1000=0),
    * deletes (%170=0) — applied in one full-outer join. */
  /** Partition-pruned MERGE (Cdc.mergeUpsertPruned): orders staged into
    * a table partitioned by priority; a change batch of updates +
    * inserts merges with only the touched partitions rewritten. The
    * final table must equal a plain full merge — replayed in DuckDB.
    * PipelineOpsSpec additionally asserts untouched partitions' files
    * are byte-identical after the merge. */
  def mergePruned(s: SparkSession, d: String): DataFrame = {
    val tbl = "graft_verify.c5_orders"
    s.sql("CREATE DATABASE IF NOT EXISTS graft_verify")
    Seq(tbl, tbl + "__merge_stage").foreach(t =>
      s.sql(s"DROP TABLE IF EXISTS $t"))
    val base = Tables.orders(s, d)
    base.write.partitionBy("o_orderpriority").format("parquet")
      .saveAsTable(tbl)
    val k = col("o_orderkey")
    val upd = base.where(k % 100 === 0)
      .withColumn("o_totalprice", col("o_totalprice") + 1000)
    val ins = base.where(k % 500 === 0)
      .withColumn("o_orderkey", k + 10000000L)
      .withColumn("o_orderstatus", lit("N"))
      .withColumn("o_totalprice", lit(1.5))
    graft.ext.Cdc.mergeUpsertPruned(tbl, upd.unionByName(ins),
      keys = Seq("o_orderkey"), partCol = "o_orderpriority")
    s.table(tbl)
      .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority")
      .orderBy("o_orderkey")
  }

  private val mergePrunedOracle =
    """WITH ch AS (
      | SELECT o_orderkey, o_custkey, o_orderstatus,
      |  o_totalprice + 1000 AS o_totalprice, o_orderdate, o_orderpriority
      | FROM orders WHERE o_orderkey % 100 = 0
      | UNION ALL
      | SELECT o_orderkey + 10000000, o_custkey, 'N', 1.5,
      |  o_orderdate, o_orderpriority
      | FROM orders WHERE o_orderkey % 500 = 0)
      |SELECT o_orderkey, o_custkey, o_orderstatus,
      | CAST(o_totalprice AS DOUBLE) AS o_totalprice,
      | o_orderdate, o_orderpriority
      |FROM (
      | SELECT * FROM ch
      | UNION ALL
      | SELECT * FROM orders b
      | WHERE NOT EXISTS (SELECT 1 FROM ch WHERE ch.o_orderkey = b.o_orderkey))
      |ORDER BY o_orderkey""".stripMargin

  def mergeUpsert(s: SparkSession, d: String): DataFrame = {
    val base = Tables.orders(s, d)
    val k = col("o_orderkey")
    val upd = base.where(k % 100 === 0 && k % 170 =!= 0)
      .withColumn("o_totalprice", col("o_totalprice") + 1)
      .withColumn("is_delete", lit(false))
    val ins = base.where(k % 1000 === 0)
      .withColumn("o_orderkey", k + 100000000L)
      .withColumn("is_delete", lit(false))
    val del = base.where(k % 170 === 0)
      .withColumn("is_delete", lit(true))
    graft.ext.Cdc.mergeUpsert(base,
        upd.unionByName(ins).unionByName(del),
        keys = Seq("o_orderkey"), deleteCol = Some("is_delete"))
      .orderBy("o_orderkey")
  }

  private val mergeOracle =
    """WITH ch AS (
      | SELECT o_orderkey, o_custkey, o_orderstatus,
      |  o_totalprice + 1 AS o_totalprice, o_orderdate, o_orderpriority,
      |  FALSE AS is_delete
      | FROM orders WHERE o_orderkey % 100 = 0 AND o_orderkey % 170 <> 0
      | UNION ALL
      | SELECT o_orderkey + 100000000, o_custkey, o_orderstatus,
      |  o_totalprice, o_orderdate, o_orderpriority, FALSE
      | FROM orders WHERE o_orderkey % 1000 = 0
      | UNION ALL
      | SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
      |  o_orderdate, o_orderpriority, TRUE
      | FROM orders WHERE o_orderkey % 170 = 0)
      |SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
      | o_orderdate, o_orderpriority
      |FROM orders b
      |WHERE NOT EXISTS (SELECT 1 FROM ch WHERE ch.o_orderkey = b.o_orderkey)
      |UNION ALL
      |SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
      | o_orderdate, o_orderpriority
      |FROM ch WHERE NOT is_delete
      |ORDER BY o_orderkey""".stripMargin

  /** Equi-depth bucketing (ext Profile.equiDepthBuckets): order totals
    * in cents into 10 per-priority quantile buckets via the pinned
    * (rn−1)·k div n formula (NOT ntile — its tie placement is not
    * replayable), summarized per bucket. */
  def equidepth(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d).withColumn("cents",
      round(col("o_totalprice") * 100).cast("long"))
    graft.ext.Profile.equiDepthBuckets(o, Seq("o_orderpriority"),
        col("cents"), k = 10, tiebreak = Seq("o_orderkey"))
      .groupBy(col("o_orderpriority"), col("bucket"))
      .agg(count(lit(1)).as("n"), min(col("cents")).as("lo"),
        max(col("cents")).as("hi"))
      .orderBy("o_orderpriority", "bucket")
  }

  private val equidepthOracle =
    """WITH x AS (
      | SELECT o_orderpriority, o_orderkey,
      |  CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      | FROM orders),
      |r AS (
      | SELECT o_orderpriority, cents,
      |  row_number() OVER (PARTITION BY o_orderpriority
      |    ORDER BY cents, o_orderkey) AS rn,
      |  count(*) OVER (PARTITION BY o_orderpriority) AS n
      | FROM x)
      |SELECT o_orderpriority,
      | CAST((rn - 1) * 10 // n AS INT) AS bucket,
      | count(*) AS n, min(cents) AS lo, max(cents) AS hi
      |FROM r GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** Median absolute deviation per priority (ext Profile.mad): exact
    * discrete lower-median of cents and of |cents − median|, replayed
    * with the same rank arithmetic in DuckDB. */
  def madGate(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d).withColumn("cents",
      round(col("o_totalprice") * 100).cast("long"))
    graft.ext.Profile.mad(o, Seq("o_orderpriority"), col("cents"))
      .orderBy("o_orderpriority")
  }

  private val madOracle =
    """WITH x AS (
      | SELECT o_orderpriority AS k,
      |  CAST(round(o_totalprice * 100) AS BIGINT) AS v
      | FROM orders),
      |m AS (
      | SELECT k, v, n,
      |  max(CASE WHEN rn = greatest((n * 50 + 99) // 100, 1)
      |      THEN v END) OVER (PARTITION BY k) AS med
      | FROM (
      |  SELECT k, v, count(*) OVER (PARTITION BY k) AS n,
      |   row_number() OVER (PARTITION BY k ORDER BY v) AS rn
      |  FROM x)),
      |d AS (
      | SELECT k, n, med, abs(v - med) AS dev,
      |  row_number() OVER (PARTITION BY k ORDER BY abs(v - med)) AS rn2
      | FROM m)
      |SELECT k AS o_orderpriority, max(n) AS n, max(med) AS median,
      | max(CASE WHEN rn2 = greatest((n * 50 + 99) // 100, 1)
      |     THEN dev END) AS mad
      |FROM d GROUP BY k ORDER BY k""".stripMargin

  /** SCD Type 2 dimension maintenance (ext Cdc.scdType2) over a
    * customer dimension: one batch carrying changed attributes (%7),
    * redundant no-op rows (%11), stale out-of-order rows (%13, dropped),
    * and brand-new keys — plus pre-existing CLOSED history rows that
    * must pass through untouched. The oracle constructs the expected
    * post-batch history branch by branch. */
  /** The c7/c10 SCD2 fixture: (initial dimension, one update batch)
    * planting every scdType2 path — real change (k%7), redundant feed
    * (k%11), stale out-of-order ts (k%13), and brand-new keys. */
  private def scd2Fixture(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    val c = Tables.customer(s, d)
      .select(col("c_custkey"), col("c_mktsegment"), col("c_acctbal"))
    val k = col("c_custkey")
    val bal = col("c_acctbal")
    def ts(v: String) = lit(v).cast("timestamp")
    val dim = c.where(k < 100)
      .select(k, col("c_mktsegment"),
        (bal - 50).cast("decimal(15,2)").as("c_acctbal"),
        ts("2019-01-01").as("valid_from"), ts("2020-01-01").as("valid_to"))
      .unionByName(c.select(k, col("c_mktsegment"), bal,
        ts("2020-01-01").as("valid_from"),
        lit(null).cast("timestamp").as("valid_to")))
    val updates = c.where(k % 7 === 0)
      .select(k, col("c_mktsegment"),
        (bal + 100).cast("decimal(15,2)").as("c_acctbal"),
        ts("2021-06-01").as("ts"))
      .unionByName(c.where(k % 7 =!= 0 && k % 11 === 0)
        .select(k, col("c_mktsegment"), bal, ts("2021-06-01").as("ts")))
      .unionByName(c.where(k % 7 =!= 0 && k % 11 =!= 0 && k % 13 === 0)
        .select(k, col("c_mktsegment"),
          (bal - 999).cast("decimal(15,2)").as("c_acctbal"),
          ts("2019-06-01").as("ts")))
      .unionByName(c.where(k <= 50)
        .select((k + 1000000L).as("c_custkey"),
          lit("NEWSEG").as("c_mktsegment"), bal, ts("2021-06-01").as("ts")))
    (dim, updates)
  }

  def scd2(s: SparkSession, d: String): DataFrame = {
    val (dim, updates) = scd2Fixture(s, d)
    graft.ext.Cdc.scdType2(dim, updates, keys = Seq("c_custkey"), tsCol = "ts")
      .orderBy("c_custkey", "valid_from")
  }

  private val scd2Oracle =
    """WITH cust AS (
      | SELECT c_custkey, c_mktsegment, c_acctbal FROM customer)
      |SELECT c_custkey, c_mktsegment,
      | CAST(c_acctbal - 50 AS DECIMAL(15,2)) AS c_acctbal,
      | TIMESTAMP '2019-01-01' AS valid_from,
      | TIMESTAMP '2020-01-01' AS valid_to
      |FROM cust WHERE c_custkey < 100
      |UNION ALL
      |SELECT c_custkey, c_mktsegment, c_acctbal,
      | TIMESTAMP '2020-01-01', TIMESTAMP '2021-06-01'
      |FROM cust WHERE c_custkey % 7 = 0
      |UNION ALL
      |SELECT c_custkey, c_mktsegment,
      | CAST(c_acctbal + 100 AS DECIMAL(15,2)),
      | TIMESTAMP '2021-06-01', NULL
      |FROM cust WHERE c_custkey % 7 = 0
      |UNION ALL
      |SELECT c_custkey, c_mktsegment, c_acctbal,
      | TIMESTAMP '2020-01-01', NULL
      |FROM cust WHERE c_custkey % 7 <> 0
      |UNION ALL
      |SELECT c_custkey + 1000000, 'NEWSEG', c_acctbal,
      | TIMESTAMP '2021-06-01', NULL
      |FROM cust WHERE c_custkey <= 50
      |ORDER BY c_custkey, valid_from""".stripMargin

  /** Versioned SCD2 composition (Cdc.scdType2Versioned): v1 = the
    * initial dimension committed through VersionedTable; one SCD2 batch
    * commits v2. The gate reads BOTH versions back — v1 must still be
    * the untouched initial dimension after the v2 write (snapshot
    * isolation by construction), and v2 must equal the plain scdType2
    * result the c7 gate pins. */
  def scd2Versioned(s: SparkSession, d: String): DataFrame = {
    val (dim, updates) = scd2Fixture(s, d)
    val root = java.nio.file.Files.createTempDirectory("graft_c10_")
      .resolve("dim_history").toString
    val v1n = graft.sink.VersionedTable.write(dim, root)
    require(v1n == 1, s"expected initial commit v1, got v$v1n")
    val v2n = graft.ext.Cdc.scdType2Versioned(s, root, updates,
      keys = Seq("c_custkey"), tsCol = "ts")
    require(v2n == 2, s"expected SCD2 commit v2, got v$v2n")
    val v1 = graft.sink.VersionedTable.read(s, root, 1)
    val v2 = graft.sink.VersionedTable.read(s, root, 2)
    v1.withColumn("version", lit(1))
      .unionByName(v2.withColumn("version", lit(2)))
      .select(col("version"), col("c_custkey"), col("c_mktsegment"),
        col("c_acctbal"), col("valid_from"), col("valid_to"))
      .orderBy("version", "c_custkey", "valid_from")
  }

  private val scd2VersionedOracle =
    """WITH cust AS (
      | SELECT c_custkey, c_mktsegment, c_acctbal FROM customer)
      |SELECT 1 AS version, c_custkey, c_mktsegment,
      | CAST(c_acctbal - 50 AS DECIMAL(15,2)) AS c_acctbal,
      | TIMESTAMP '2019-01-01' AS valid_from,
      | TIMESTAMP '2020-01-01' AS valid_to
      |FROM cust WHERE c_custkey < 100
      |UNION ALL
      |SELECT 1, c_custkey, c_mktsegment, c_acctbal,
      | TIMESTAMP '2020-01-01', NULL
      |FROM cust
      |UNION ALL
      |SELECT 2, c_custkey, c_mktsegment,
      | CAST(c_acctbal - 50 AS DECIMAL(15,2)),
      | TIMESTAMP '2019-01-01', TIMESTAMP '2020-01-01'
      |FROM cust WHERE c_custkey < 100
      |UNION ALL
      |SELECT 2, c_custkey, c_mktsegment, c_acctbal,
      | TIMESTAMP '2020-01-01', TIMESTAMP '2021-06-01'
      |FROM cust WHERE c_custkey % 7 = 0
      |UNION ALL
      |SELECT 2, c_custkey, c_mktsegment,
      | CAST(c_acctbal + 100 AS DECIMAL(15,2)),
      | TIMESTAMP '2021-06-01', NULL
      |FROM cust WHERE c_custkey % 7 = 0
      |UNION ALL
      |SELECT 2, c_custkey, c_mktsegment, c_acctbal,
      | TIMESTAMP '2020-01-01', NULL
      |FROM cust WHERE c_custkey % 7 <> 0
      |UNION ALL
      |SELECT 2, c_custkey + 1000000, 'NEWSEG', c_acctbal,
      | TIMESTAMP '2021-06-01', NULL
      |FROM cust WHERE c_custkey <= 50
      |ORDER BY version, c_custkey, valid_from""".stripMargin

  /** Incremental min/max maintenance (ext Incremental.partialsMinMax):
    * extremes merged across three arbitrary batch splits must equal the
    * full recompute — the same monoid invariant as c4, extended to the
    * order statistics a watermark dashboard tracks. */
  def incrementalMinMax(s: SparkSession, d: String): DataFrame = {
    import graft.ext.Incremental
    val o = Tables.orders(s, d)
    val cents = round(col("o_totalprice") * 100)
      .cast(org.apache.spark.sql.types.LongType)
    val keys = Seq("o_orderpriority")
    val batches = Seq(
      o.where(col("o_orderkey") % 3 === 0),
      o.where(col("o_orderkey") % 3 === 1),
      o.where(col("o_orderkey") % 3 === 2))
      .map(b => Incremental.partialsMinMax(b, keys, cents))
    val merged = Incremental.mergeMinMax(batches, keys)
    Incremental.finalizeAvg(merged, keys)
      .join(merged.select(col("o_orderpriority"),
        col("min_cents"), col("max_cents")), keys)
      .orderBy("o_orderpriority")
  }

  private val incrementalMinMaxOracle =
    """SELECT o_orderpriority, count(*) AS n,
      | CAST(sum(cents) AS BIGINT) AS sum_cents,
      | CAST(sum(cents) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avg_cents,
      | min(cents) AS min_cents, max(cents) AS max_cents
      |FROM (SELECT o_orderpriority,
      |       CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      |      FROM orders)
      |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  /** Versioned-table time travel (sink VersionedTable): v1 is the raw
    * nation table, v2 the same table after a MERGE that rewrites half
    * the comments. Reading v1 AFTER v2 was committed must still return
    * the original rows — snapshot isolation — and the latest read must
    * equal v2. The gate emits all three reads tagged, so the oracle
    * replays time travel from the source parquet alone. */
  def timeTravel(s: SparkSession, d: String): DataFrame = {
    val root = s"${sys.props("java.io.tmpdir")}/graft_c8_" +
      java.util.UUID.randomUUID().toString
    import graft.sink.VersionedTable
    val v1 = Tables.nation(s, d)
    VersionedTable.write(v1, root)
    val changes = v1.where(col("n_nationkey") % 2 === 0)
      .withColumn("n_name", concat(lit("UPD_"), col("n_name")))
    val v2 = graft.ext.Cdc.mergeUpsert(
      VersionedTable.read(s, root), changes, keys = Seq("n_nationkey"))
    VersionedTable.write(v2, root)
    def tagged(v: Int, tag: String) =
      VersionedTable.read(s, root, v).withColumn("snap", lit(tag))
    tagged(1, "v1")
      .unionByName(tagged(2, "v2"))
      .unionByName(VersionedTable.read(s, root).withColumn("snap", lit("latest")))
      .orderBy("snap", "n_nationkey")
  }

  private val timeTravelOracle =
    """WITH v2 AS (
      | SELECT n_nationkey,
      |  CASE WHEN n_nationkey % 2 = 0 THEN 'UPD_' || n_name
      |       ELSE n_name END AS n_name,
      |  n_regionkey
      | FROM nation)
      |SELECT n_nationkey, n_name, n_regionkey, 'v1' AS snap FROM nation
      |UNION ALL
      |SELECT n_nationkey, n_name, n_regionkey, 'v2' FROM v2
      |UNION ALL
      |SELECT n_nationkey, n_name, n_regionkey, 'latest' FROM v2
      |ORDER BY snap, n_nationkey""".stripMargin

  /** Schema drift between two batches of the customer feed (ext
    * Quality.schemaDiff — metadata only, no rows scanned): the new
    * batch drops c_mktsegment, adds c_tier, and retypes c_acctbal to
    * string. The oracle pins the expected drift rows; unchanged and
    * nullability-only columns must NOT appear. */
  def schemaDrift(s: SparkSession, d: String): DataFrame = {
    val before = Tables.customer(s, d)
    val after = before
      .drop("c_mktsegment")
      .withColumn("c_tier", lit(1))
      .withColumn("c_acctbal", col("c_acctbal").cast("string"))
    graft.ext.Quality.schemaDiff(before, after).orderBy("column")
  }

  private val schemaDriftOracle =
    """SELECT * FROM (VALUES
      | ('c_acctbal', 'double', 'string', 'type_changed'),
      | ('c_mktsegment', 'string', NULL, 'removed'),
      | ('c_tier', NULL, 'int', 'added'))
      | AS t("column", before_type, after_type, change)
      |ORDER BY "column"""".stripMargin

  /** Incremental aggregate maintenance (ext Incremental): history
    * partials merged with a new-batch partial must equal a full
    * recompute — the oracle IS that full recompute in another engine. */
  def incrementalAgg(s: SparkSession, d: String): DataFrame = {
    import graft.ext.Incremental
    val o = Tables.orders(s, d)
    val cents = round(col("o_totalprice") * 100)
      .cast(org.apache.spark.sql.types.LongType)
    val cutoff = lit("2001-01-01").cast("timestamp")
    val keys = Seq("o_orderpriority")
    val state = Incremental.partials(
      o.where(col("o_orderdate") < cutoff), keys, cents)
    val batch = Incremental.partials(
      o.where(col("o_orderdate") >= cutoff), keys, cents)
    Incremental.finalizeAvg(Incremental.merge(Seq(state, batch), keys), keys)
      .orderBy("o_orderpriority")
  }

  private val incrementalOracle =
    """SELECT o_orderpriority, count(*) AS n,
      | CAST(sum(cents) AS BIGINT) AS sum_cents,
      | CAST(sum(cents) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avg_cents
      |FROM (SELECT o_orderpriority,
      |       CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      |      FROM orders)
      |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  /** Web-crawl curation e2e (ext Curation.curateCrawl): REAL WARC
    * shards — every doc a response record, every 4th doc ALSO fetched
    * under a dirty spelling of the same URL (uppercase host, default
    * port, www, tracking param, fragment) — through HTTP split,
    * canonical-URL dedup (the dirty twins must collapse), a
    * 50-per-host cap, Gopher quality on the body, and token-balanced
    * shard assignment. The oracle replays every stage from documents
    * alone: the dup drops reduce to identity, the cap to a host
    * row_number, quality to the Gopher CTE over substr(text,1,200),
    * sharding to the prefix sum — one hash over the WHOLE composition. */
  /** The p2/p3 WARC fixture: every doc a response record, every 4th
    * doc also fetched under a dirty spelling of the same URL; parsed
    * back to (doc_id, url, body) through the engine's own WARC reader. */
  private def crawlRecords(s: SparkSession, d: String): DataFrame =
    graft.io.Warc.httpParts(
        graft.io.Warc.read(s, warcFixture(s, d) + "/*.warc")
          .where(col("warc_type") === "response"))
      .select(
        regexp_extract(col("record_id"), "urn:doc:(\\d+)", 1)
          .cast(org.apache.spark.sql.types.LongType).as("doc_id"),
        col("target_uri").as("url"),
        col("http_body").as("body"))

  /** Writes the p2/p3 WARC shards for `d` to a content-stable temp dir
    * on first use (published by [[Fixtures.publish]]: losers of a race
    * reuse the winner's dir) — shard
    * WRITING collects documents to the driver, which belongs in
    * fixture setup, not inside the timed query. Returns the dir. */
  private def warcFixture(s: SparkSession, d: String): String = {
    import java.nio.file.Files
    val key = java.lang.Long.toHexString(
      d.hashCode.toLong << 32 | Tables.documents(s, d).count())
    val dir = java.nio.file.Paths.get(
      sys.props("java.io.tmpdir"), s"graft_p2_warc_$key")
    if (!Files.exists(dir.resolve("shard1.warc"))) {
      val tmp = Files.createTempDirectory("graft_p2_build_")
      val docs = Tables.documents(s, d).select("doc_id", "text").collect()
        .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
      def rec(id: Long, uri: String, body: String): String =
        graft.io.Warc.writeRecord("response", s"<urn:doc:$id>", uri,
          "2024-01-01T00:00:00Z",
          "HTTP/1.1 200 OK\r\nContent-Type: text/plain\r\n\r\n" + body)
      def shard(rows: Seq[(Long, String)], name: String): Unit = {
        val sb = new StringBuilder
        sb.append(graft.io.Warc.writeRecord("warcinfo", "<urn:graft:info>",
          "", "2024-01-01T00:00:00Z", "software: graft-fixture\r\n"))
        rows.foreach { case (id, text) =>
          val k = id % 7
          val body = text.take(200)
          sb.append(rec(id, s"https://site$k.example.com/p/$id", body))
          if (id % 4 == 0)
            sb.append(rec(id + 500000,
              s"HTTPS://WWW.Site$k.Example.COM:443/p/$id?utm_source=dup#frag",
              body))
        }
        Files.write(tmp.resolve(name),
          sb.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      }
      val (even, odd) = docs.toSeq.partition(_._1 % 2 == 0)
      shard(even, "shard0.warc")
      shard(odd, "shard1.warc")
      // shard1 is written LAST, so its presence marks a complete dir.
      Fixtures.publish(tmp, tmp, dir, "shard1.warc")
    }
    dir.toString
  }

  def crawlCurationE2e(s: SparkSession, d: String): DataFrame =
    graft.ext.Curation.curateCrawl(crawlRecords(s, d), "doc_id", "url",
        "body", maxPerHost = 50)
      .orderBy("doc_id")

  /** Pipeline funnel observability (ext Curation.crawlFunnel): one
    * exact row of survivor counts per stage boundary over the same
    * WARC fixture — the oracle independently re-derives every stage
    * count (records incl. dirty twins, dedup identity, least(n,cap)
    * per host, the Gopher CTE, the prefix-sum totals). */
  def crawlFunnelGate(s: SparkSession, d: String): DataFrame =
    graft.ext.Curation.crawlFunnel(crawlRecords(s, d), "doc_id", "url",
      "body", maxPerHost = 50)

  private val crawlFunnelOracle =
    """WITH capped AS (
      | SELECT doc_id, substr(text, 1, 200) AS body,
      |  row_number() OVER (
      |    PARTITION BY doc_id % 7 ORDER BY doc_id) AS rn
      | FROM documents),
      |c2 AS (SELECT doc_id, body FROM capped WHERE rn <= 50),
      |w AS (
      | SELECT doc_id, body, body AS t,
      |  list_filter(string_split_regex(body, '\s+'),
      |    x -> len(x) > 0) AS ws,
      |  list_filter(string_split(body, chr(10)),
      |    l -> len(ltrim(l)) > 0) AS ls
      | FROM c2),
      |q AS (
      | SELECT doc_id, body FROM w
      | WHERE CAST(len(ws) AS BIGINT) BETWEEN 20 AND 100000
      |  AND length(regexp_replace(t, '\s', '', 'g')) >= len(ws) * 3
      |  AND length(regexp_replace(t, '\s', '', 'g')) <= len(ws) * 10
      |  AND ((length(t) - length(regexp_replace(t, '#', '', 'g')))
      |   + (length(t) - length(regexp_replace(t, '\.\.\.', '', 'g'))) // 3)
      |   * 10 <= len(ws)
      |  AND len(list_filter(ls, l -> ltrim(l) LIKE '-%'
      |    OR ltrim(l) LIKE '*%' OR ltrim(l) LIKE '•%')) * 10
      |    <= len(ls) * 9
      |  AND len(list_filter(ls, l -> rtrim(l) LIKE '%...')) * 10
      |    <= len(ls) * 3
      |  AND len(list_filter(ws, x -> regexp_matches(x, '[A-Za-z]'))) * 10
      |    >= len(ws) * 8
      |  AND len(list_intersect(
      |    list_distinct(list_transform(ws, x -> lower(x))),
      |    ['the','be','to','of','and','that','have','with'])) >= 1),
      |t AS (
      | SELECT doc_id,
      |  CAST(len(regexp_extract_all(body, '[^\s]+')) AS BIGINT) AS n_tokens
      | FROM q),
      |o AS (
      | SELECT doc_id, n_tokens,
      |  sum(n_tokens) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING)
      |    - n_tokens AS start_offset
      | FROM t WHERE n_tokens > 0)
      |SELECT
      | (SELECT count(*) FROM documents)
      |  + (SELECT count(*) FROM documents WHERE doc_id % 4 = 0)
      |  AS n_records,
      | (SELECT count(*) FROM documents) AS n_after_url_dedup,
      | (SELECT CAST(sum(least(n, 50)) AS BIGINT) FROM
      |  (SELECT count(*) AS n FROM documents GROUP BY doc_id % 7))
      |  AS n_after_host_cap,
      | (SELECT count(*) FROM q) AS n_after_quality,
      | (SELECT count(*) FROM o) AS n_docs_sharded,
      | (SELECT CAST(sum(n_tokens) AS BIGINT) FROM o) AS n_tokens_total,
      | (SELECT CAST(max(start_offset // 2048) + 1 AS BIGINT) FROM o)
      |  AS n_shards""".stripMargin

  private val crawlCurationOracle =
    """WITH capped AS (
      | SELECT doc_id, 'site' || (doc_id % 7) || '.example.com' AS host,
      |  substr(text, 1, 200) AS body,
      |  row_number() OVER (
      |    PARTITION BY doc_id % 7 ORDER BY doc_id) AS rn
      | FROM documents),
      |c2 AS (SELECT doc_id, host, body FROM capped WHERE rn <= 50),
      |w AS (
      | SELECT doc_id, host, body, body AS t,
      |  list_filter(string_split_regex(body, '\s+'),
      |    x -> len(x) > 0) AS ws,
      |  list_filter(string_split(body, chr(10)),
      |    l -> len(ltrim(l)) > 0) AS ls
      | FROM c2),
      |m AS (
      | SELECT doc_id, host, body,
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
      | FROM w),
      |q AS (
      | SELECT doc_id, host, body FROM m
      | WHERE n_words BETWEEN 20 AND 100000
      |  AND sum_word_len >= n_words * 3 AND sum_word_len <= n_words * 10
      |  AND n_symbols * 10 <= n_words
      |  AND n_bullet_lines * 10 <= n_lines * 9
      |  AND n_ellipsis_lines * 10 <= n_lines * 3
      |  AND n_alpha_words * 10 >= n_words * 8
      |  AND n_stop_hits >= 1),
      |t AS (
      | SELECT doc_id, host,
      |  CAST(len(regexp_extract_all(body, '[^\s]+')) AS BIGINT) AS n_tokens
      | FROM q),
      |o AS (
      | SELECT doc_id, host, n_tokens,
      |  sum(n_tokens) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING)
      |    - n_tokens AS start_offset
      | FROM t WHERE n_tokens > 0)
      |SELECT doc_id, host, n_tokens,
      | CAST(start_offset AS BIGINT) AS start_offset,
      | CAST(start_offset // 2048 AS BIGINT) AS shard_id
      |FROM o ORDER BY doc_id""".stripMargin

  /** Threshold sweep (ext Quality.thresholdSweep): precision/recall of
    * "n_chars >= cut predicts lang = 'en'" at five cuts — the op is
    * score-agnostic; the gate pins the exact-integer counting and ppm
    * arithmetic against the row-level oracle. */
  def thresholdSweep(s: SparkSession, d: String): DataFrame =
    graft.ext.Quality.thresholdSweep(Tables.documents(s, d),
        col("n_chars"), col("lang") === lit("en"),
        cuts = Seq(100L, 200L, 300L, 400L, 500L))
      .orderBy("cut")

  private val thresholdSweepOracle =
    """WITH cuts AS (SELECT unnest([100, 200, 300, 400, 500]) AS cut),
      |d AS (SELECT n_chars AS s, (lang = 'en') AS p FROM documents)
      |SELECT cut,
      | CAST(sum(CASE WHEN s >= cut AND p THEN 1 ELSE 0 END) AS BIGINT) AS tp,
      | CAST(sum(CASE WHEN s >= cut AND NOT p THEN 1 ELSE 0 END) AS BIGINT) AS fp,
      | CAST(sum(CASE WHEN s < cut AND p THEN 1 ELSE 0 END) AS BIGINT) AS fn,
      | CAST(CASE WHEN sum(CASE WHEN s >= cut AND p THEN 1 ELSE 0 END) +
      |           sum(CASE WHEN s >= cut AND NOT p THEN 1 ELSE 0 END) = 0
      |  THEN 0 ELSE sum(CASE WHEN s >= cut AND p THEN 1 ELSE 0 END) * 1000000
      |   // (sum(CASE WHEN s >= cut AND p THEN 1 ELSE 0 END) +
      |       sum(CASE WHEN s >= cut AND NOT p THEN 1 ELSE 0 END)) END
      |  AS BIGINT) AS precision_ppm,
      | CAST(CASE WHEN sum(CASE WHEN s >= cut AND p THEN 1 ELSE 0 END) +
      |           sum(CASE WHEN s < cut AND p THEN 1 ELSE 0 END) = 0
      |  THEN 0 ELSE sum(CASE WHEN s >= cut AND p THEN 1 ELSE 0 END) * 1000000
      |   // (sum(CASE WHEN s >= cut AND p THEN 1 ELSE 0 END) +
      |       sum(CASE WHEN s < cut AND p THEN 1 ELSE 0 END)) END
      |  AS BIGINT) AS recall_ppm
      |FROM d CROSS JOIN cuts
      |GROUP BY cut ORDER BY cut""".stripMargin

  /** p9: in-context-pretraining ordering (Similarity.semanticOrder,
    * Shi et al. 2023) — sign-LSH bucket order + distributed
    * prefix-sum context groups of 16 docs; the full hyperplane →
    * order → group pipeline replays in SQL (the s3 plane-literal
    * pattern). */
  def incontextOrder(s: SparkSession, d: String): DataFrame =
    graft.ext.Similarity.semanticOrder(
        Tables.embeddings(s, d).select(col("vec_id").as("cid"),
          col("embedding").as("cvec")),
        dim = 64, ctxDocs = 16, bits = 8)
      .orderBy("vec_id")

  private val incontextOrderOracle: String = {
    val ps = graft.ext.Dedup.planes(64, 8, 42L)
    val bucketExpr = (0 until 8).map(i =>
      s"(CASE WHEN list_dot_product(v, ${ps(i).mkString("[", ",", "]")}) > 0" +
        s" THEN ${1 << i} ELSE 0 END)").mkString("\n      |  + ")
    s"""WITH c AS (
      | SELECT vec_id, CAST($bucketExpr AS BIGINT) AS bucket
      | FROM (SELECT vec_id, embedding AS v FROM embeddings)),
      |o AS (
      | SELECT vec_id, bucket,
      |  row_number() OVER (ORDER BY bucket, vec_id) AS rn
      | FROM c)
      |SELECT vec_id, bucket, CAST((rn - 1) // 16 AS BIGINT) AS ctx_group
      |FROM o ORDER BY vec_id""".stripMargin
  }

  def defs: Seq[QueryDef] = Seq(
    QueryDef("pk1_sequence_packing", packing, Some(packingOracle)),
    QueryDef("pk4_packed_sequences", packedSequences,
      Some(packedSequencesOracle)),
    QueryDef("pk5_packed_examples", packedExamples,
      Some(packedExamplesOracle)),
    QueryDef("p10_sft_pipeline", sftPipeline, Some(sftPipelineOracle)),
    QueryDef("pk6_renumbered_examples", renumberedExamples,
      Some(renumberedExamplesOracle)),
    QueryDef("pk7_packed_subwords", packedSubwords,
      Some(PinnedOracles.pk7PackedSubwords)),
    QueryDef("pk8_packing_report", packingReportGate,
      Some(packingReportOracle)),
    QueryDef("pk9_inference_batches", packedBatches,
      Some(packedBatchesOracle), bench = true),
    QueryDef("pk10_batch_report", batchReportGate,
      Some(batchReportOracle)),
    QueryDef("p9_incontext_order", incontextOrder,
      Some(incontextOrderOracle), bench = true),
    QueryDef("p2_crawl_curation_e2e", crawlCurationE2e,
      Some(crawlCurationOracle), bench = true),
    QueryDef("p3_crawl_funnel", crawlFunnelGate, Some(crawlFunnelOracle)),
    QueryDef("p1_curation_e2e", curationE2e, Some(curationOracle),
      bench = true),
    QueryDef("p5_ppl_buckets", pplBuckets, Some(pplBucketsOracle),
      bench = true),
    QueryDef("p6_classified_mixing", classifiedMixture,
      Some(classifiedMixtureOracle)),
    QueryDef("p7_curriculum_shards", curriculumShards,
      Some(curriculumShardsOracle), bench = true),
    QueryDef("p8_pretrain_run", pretrainRun, Some(pretrainRunOracle),
      bench = true),
    QueryDef("p4_curation_neardup", curationNearDup,
      Some(curationNearDupOracle), bench = true),
    QueryDef("pr6_data_card", dataCard, Some(dataCardOracle)),
    QueryDef("pr8_serving_card", servingCardGate,
      Some(servingCardOracle)),
    QueryDef("pr7_readiness_card", readinessCard,
      Some(readinessCardOracle)),
    QueryDef("pk2_shard_assign", sharding, Some(shardingOracle)),
    QueryDef("pk3_shard_manifest", shardManifest, Some(shardManifestOracle)),
    QueryDef("pr1_profile", profile, Some(profileOracle)),
    QueryDef("pr2_histogram", histogram, Some(histogramOracle)),
    QueryDef("pr3_winsorize", winsorize, Some(winsorizeOracle)),
    QueryDef("c1_compaction", compaction, Some(compactionOracle), serial = true),
    QueryDef("c2_schema_evolution", schemaEvolution, Some(schemaEvolutionOracle), serial = true),
    QueryDef("dq3_threshold_sweep", thresholdSweep,
      Some(thresholdSweepOracle)),
    QueryDef("dq1_quality_check", qualityCheck, Some(qualityOracle)),
    QueryDef("dq2_schema_drift", schemaDrift, Some(schemaDriftOracle)),
    QueryDef("c8_time_travel", timeTravel, Some(timeTravelOracle), serial = true),
    QueryDef("c9_incremental_minmax", incrementalMinMax,
      Some(incrementalMinMaxOracle), serial = true),
    QueryDef("c3_merge_upsert", mergeUpsert, Some(mergeOracle), serial = true),
    QueryDef("c5_merge_pruned", mergePruned, Some(mergePrunedOracle), serial = true),
    QueryDef("c6_table_diff", tableDiff, Some(tableDiffOracle), serial = true),
    QueryDef("c7_scd2", scd2, Some(scd2Oracle), serial = true),
    QueryDef("c10_scd2_versioned", scd2Versioned, Some(scd2VersionedOracle), serial = true),
    QueryDef("pr4_equidepth", equidepth, Some(equidepthOracle), bench = true),
    QueryDef("pr5_mad", madGate, Some(madOracle)),
    QueryDef("c4_incremental_agg", incrementalAgg, Some(incrementalOracle), serial = true))
}
