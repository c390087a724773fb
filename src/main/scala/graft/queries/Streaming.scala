package graft.queries

import graft.Tables
import graft.streaming.EventStream
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Structured-Streaming gate queries: each runs a real stream (file
  * source, AvailableNow trigger) to a memory sink inside the query fn and
  * returns the materialized result, so the DuckDB oracle checks STREAMING
  * output against batch SQL semantics — watermarks, windows, and custom
  * state included.
  */
object StreamingQueries {

  private def runToTable(spark: SparkSession, name: String,
      build: DataFrame => DataFrame, mode: String, dir: String): DataFrame = {
    spark.catalog.dropTempView(name)
    val q = build(EventStream.source(spark, dir))
      .writeStream
      .format("memory")
      .queryName(name)
      .outputMode(mode)
      .trigger(Trigger.AvailableNow())
      .start()
    require(q.awaitTermination(300000), "stream gate timed out")
    q.stop()
    spark.table(name)
  }

  /** Tumbling 1-hour windowed aggregation with watermark — the streaming
    * twin of q13; on a finite AvailableNow input, complete-mode output
    * must equal the batch plan exactly. */
  def hourlyStream(s: SparkSession, d: String): DataFrame =
    runToTable(s, "st2_hourly_out", EventStream.hourlyCounts, "complete", d)
      .orderBy("hour", "event_type")

  private val hourlyOracle =
    """SELECT date_trunc('hour', ts) AS hour, event_type, count(*) AS n,
      | CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
      |FROM events GROUP BY 1, 2 ORDER BY hour, event_type""".stripMargin

  /** flatMapGroupsWithState sessionization: every CLOSED session must
    * match batch gaps-and-islands sessionize in ids, counts, and bounds.
    * Each user's final session may legitimately stay open on a finite
    * stream (the watermark never passes its end + gap), so both sides
    * exclude the per-user maximum session id — the batch-side window
    * filter in the oracle, a join against the batch plan here. Any
    * missed, duplicated, or renumbered session still diverges (the
    * round-1 counter-reset bug would fail this gate). */
  def sessionizeStream(s: SparkSession, d: String): DataFrame = {
    val streamed = runToTable(s, "st3_sessions_out",
      df => EventStream.sessionizeStream(df).toDF(), "append", d)
    val lastPerUser = EventStream.sessionize(Tables.events(s, d))
      .groupBy(col("user_id").as("lu_user"))
      .agg(max(col("session_id")).as("lu_last"))
    streamed
      .join(lastPerUser,
        col("user_id") === col("lu_user") && col("session_id") === col("lu_last"),
        "left_anti")
      .orderBy("user_id", "session_id")
  }

  private val sessionizeStreamOracle =
    """SELECT user_id, session_id, n_events, session_start, session_end
      |FROM (
      | SELECT *, max(session_id) OVER (PARTITION BY user_id) AS last_sid
      | FROM (
      |  SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
      |   count(*) AS n_events, min(ts) AS session_start, max(ts) AS session_end
      |  FROM (
      |   SELECT user_id, ts, event_id,
      |    sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |      ROWS UNBOUNDED PRECEDING) AS session_id
      |   FROM (
      |    SELECT user_id, ts, event_id,
      |     CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
      |      OR epoch_us(ts) - epoch_us(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)) > 1800000000
      |     THEN 1 ELSE 0 END AS new_session
      |    FROM events) t) t2
      |  GROUP BY user_id, session_id) agg) flagged
      |WHERE session_id <> last_sid
      |ORDER BY user_id, session_id""".stripMargin

  /** Streaming file-source ingest (the reference's poll-a-folder loop,
    * native): render customer to CSV, stream it through ValidateAndSplit
    * into a managed table with AvailableNow, read the table back. Same
    * oracle as the batch i-path — streaming and batch ingest must agree.
    */
  def streamIngest(s: SparkSession, d: String): DataFrame = {
    import graft.schema.TableMeta
    import graft.sink.TableRef
    val tmp = java.nio.file.Files.createTempDirectory("graft_st4_")
    val srcDir = tmp.resolve("src")
    Tables.customer(s, d).coalesce(1).write
      .option("header", true).mode("overwrite").csv(srcDir.toString)

    val meta = TableMeta.fromMetadata(
      Seq(
        "c_custkey"    -> "int",
        "c_name"       -> "string",
        "c_nationkey"  -> "int",
        "c_acctbal"    -> "float",
        "c_mktsegment" -> "string"),
      nonNullableFields = Seq("c_custkey"))
    val ref = TableRef("graft", "verify", "st4_customer")
    Seq(ref.qualified, ref.errorSibling.qualified).foreach(t =>
      s.sql(s"DROP TABLE IF EXISTS $t"))
    val q = graft.streaming.FileIngestStream.start(
      s, srcDir.toString, meta, ref, pathGlob = "part-*.csv",
      checkpoint = Some(tmp.resolve("ckpt").toString))
    require(q.awaitTermination(300000), "stream gate timed out")
    q.stop()
    s.table(ref.qualified).drop("process_dt", "process_date").orderBy("c_custkey")
  }

  private val streamIngestOracle =
    """SELECT CAST(c_custkey AS BIGINT) AS c_custkey, c_name,
      | CAST(c_nationkey AS BIGINT) AS c_nationkey,
      | CAST(c_acctbal AS DOUBLE) AS c_acctbal, c_mktsegment
      |FROM customer ORDER BY c_custkey""".stripMargin

  /** Stream-stream interval join (purchase attribution): both sides are
    * real streams over the same file source; emitted matches on a finite
    * AvailableNow input must equal the batch range join exactly. */
  def streamStreamJoin(s: SparkSession, d: String): DataFrame =
    runToTable(s, "st5_attr_out",
      df => EventStream.purchaseAttribution(df), "append", d)
      .orderBy("p_id", "s_id")

  private val streamStreamOracle =
    """SELECT p.user_id, p.event_id AS p_id, p.ts AS p_ts,
      | s.event_id AS s_id, s.ts AS s_ts
      |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
      |JOIN (SELECT * FROM events WHERE event_type = 'signup') s
      | ON p.user_id = s.user_id
      | AND s.ts <= p.ts AND s.ts >= p.ts - INTERVAL 60 MINUTES
      |ORDER BY p_id, s_id""".stripMargin

  /** Streaming exact dedup on (user_id, event_type): the emitted key set
    * from the state-store dedup must equal batch DISTINCT (the key-only
    * projection makes the set arrival-order-independent — see
    * EventStream.dedupStream). */
  def dedupStream(s: SparkSession, d: String): DataFrame =
    runToTable(s, "st6_dedup_out",
      df => EventStream.dedupStream(df, Seq("user_id", "event_type")),
      "append", d)
      .orderBy("user_id", "event_type")

  private val dedupStreamOracle =
    """SELECT DISTINCT user_id, event_type FROM events
      |ORDER BY user_id, event_type""".stripMargin

  /** Streaming NEAR-dup dedup (NearDupStream.dropCandidates): the planted
    * near-dup corpus streams file-by-file (maxFilesPerTrigger=1, so LSH
    * bucket state genuinely carries across micro-batches); the distinct
    * emitted drop set, anti-joined back onto the corpus, must equal the
    * batch minHashPairs→dropFromPairs kept set (the d6 pipeline), which
    * the oracle recomputes as exact all-pairs shingle Jaccard. The drop
    * set is arrival-order independent (the higher id of a verified pair
    * drops whichever side arrived first), so the repartitioned two-file
    * split cannot flake the gate. */
  def nearDupStream(s: SparkSession, d: String): DataFrame = {
    val planted = ExtensionQueries.plantedDocs(s, d)
    val tmp = java.nio.file.Files.createTempDirectory("graft_st11_").toString
    planted.repartition(2).write.mode("overwrite").parquet(tmp)
    val name = "st11_neardup_out"
    s.catalog.dropTempView(name)
    val src = s.readStream
      .schema(org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("text",
          org.apache.spark.sql.types.StringType))))
      .option("maxFilesPerTrigger", 1)
      .parquet(tmp)
    val q = graft.streaming.NearDupStream.dropCandidates(src, "text", "doc_id")
      .toDF("doc_id")
      .writeStream.format("memory").queryName(name)
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    require(q.awaitTermination(300000), "stream gate timed out")
    q.stop()
    val drops = s.table(name).distinct()
    planted.join(drops, Seq("doc_id"), "left_anti")
      .select(col("doc_id")).orderBy("doc_id")
  }

  /** Decontaminate-at-ingest (Decontam.cleanInline): the planted
    * contaminated corpus streams through the join-free benchmark-gram
    * probe — a STATELESS narrow projection, so the streaming result
    * must equal the batch d8 clean set row-for-row with no state store
    * involved at all. The benchmark gram set is collected once at plan
    * time and ships inside the codegen'd expression. */
  def decontamStream(s: SparkSession, d: String): DataFrame = {
    val corpus = HygieneQueries.decontamCorpus(s, d)
    val tmp = java.nio.file.Files.createTempDirectory("graft_st12_").toString
    corpus.repartition(2).write.mode("overwrite").parquet(tmp)
    val name = "st12_decontam_out"
    s.catalog.dropTempView(name)
    val src = s.readStream
      .schema(org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("text",
          org.apache.spark.sql.types.StringType))))
      .option("maxFilesPerTrigger", 1)
      .parquet(tmp)
    val bench = graft.Tables.documents(s, d)
      .where(col("doc_id") % 20 === 0).select(col("text"))
    val q = graft.ext.Decontam.cleanInline(src, "text", "doc_id", bench, "text", n = 8)
      .select(col("doc_id"))
      .writeStream.format("memory").queryName(name)
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    require(q.awaitTermination(300000), "stream gate timed out")
    q.stop()
    s.table(name).orderBy("doc_id")
  }

  /** Tokenize-at-ingest (Unigram.tokenize over a document stream): the
    * vocabulary is trained in BATCH (the one corpus pass + driver EM),
    * then ships inside the codegen'd exact-Viterbi expression — a
    * STATELESS narrow projection, so the streaming per-doc token counts
    * must equal the batch t35 gate row-for-row against the same pinned
    * oracle, with no state store involved. This is the serving split a
    * real pipeline runs: train offline, tokenize on the ingest path. */
  def tokenizeStream(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
    val tmp = java.nio.file.Files.createTempDirectory("graft_st18_").toString
    docs.repartition(2).write.mode("overwrite").parquet(tmp)
    val vocab = graft.ext.Unigram.collectVocab(
      graft.ext.Unigram.train(Tables.documents(s, d), "text",
        vocabSize = 45, maxPieceLen = 6, seedSize = 800))
    val name = "st18_tokenize_out"
    s.catalog.dropTempView(name)
    val src = s.readStream
      .schema(org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("text",
          org.apache.spark.sql.types.StringType))))
      .option("maxFilesPerTrigger", 1)
      .parquet(tmp)
    val q = graft.ext.Unigram.tokenize(src, "text", vocab, maxPieceLen = 6)
      .select(col("doc_id"),
        size(col("unigram_tokens")).cast("long").as("n_tokens"))
      .writeStream.format("memory").queryName(name)
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    require(q.awaitTermination(300000), "stream gate timed out")
    q.stop()
    s.table(name).orderBy("doc_id")
  }

  /** st31: SFT RENDER-at-ingest from the PERSISTED tokenizer model —
    * the post-training data path made continuous: the BPE model is
    * trained and saved once (t54's Bpe.saveModel), documents ARRIVE as
    * a stream, and each micro-batch renders its chat templates with
    * exact TOKEN-unit loss spans (renderSftTokens — a stateless narrow
    * projection, so batch boundaries cannot change a single span).
    * The streamed output must hash-match t52's batch render against
    * the same pinned independent-Python oracle. */
  def sftRenderStream(s: SparkSession, d: String): DataFrame = {
    val root = java.nio.file.Files.createTempDirectory("graft_st31_")
      .resolve("bpe_model").toString
    graft.ext.Bpe.saveModel(s, root, graft.ext.Bpe.collectMerges(
      graft.ext.Bpe.learnMerges(Tables.documents(s, d), "text",
        numMerges = 24)))
    val merges = graft.ext.Bpe.loadModel(s, root)
    val srcDir = stageTwoHalves(
      Tables.documents(s, d).select(col("doc_id"), col("text")),
      "doc_id", "graft_st31_src_")
    val name = "st31_sft_render_out"
    s.catalog.dropTempView(name)
    val src = s.readStream
      .schema(docTextSchema)
      .option("maxFilesPerTrigger", 1)
      .option("latestFirst", "false")
      .parquet(srcDir)
    val words = filter(split(col("text"), "\\s+"), t => length(t) > 0)
    val prompt = array_join(slice(words, 1, 5), " ")
    val rest = array_join(
      slice(words, lit(6), greatest(size(words) - 5, lit(0))), " ")
    val response = when(size(words) > 5, concat(lit(" "), rest))
      .otherwise(lit(""))
    val q = graft.ext.TextAnalysis.renderSftTokens(src, "doc_id", prompt,
        response, system = "You are a helpful assistant.",
        tokenizer = c =>
          graft.functions.GraftFunctions.bpeTokenize(c, merges))
      .select(col("doc_id"), col("loss_start_tok"), col("loss_end_tok"),
        col("n_tokens"))
      .writeStream.format("memory").queryName(name)
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    require(q.awaitTermination(300000), "st31: render stream timed out")
    q.stop()
    s.table(name).orderBy("doc_id")
  }

  /** Sample-tokenize-at-ingest (Unigram.sampleTokenize over a document
    * stream): the subword-regularization epoch on the ingest path. The
    * sampling expression is STATELESS — each word's draw is a pure
    * function of (word, occurrence ordinal within its row, seed) — so
    * micro-batch boundaries and file arrival order cannot change a
    * single draw, and the streamed corpus histogram must equal the
    * batch t37 gate against the same pinned oracle. That is the
    * reproducible-epoch contract surviving the move from batch to
    * streaming; only the token-histogram aggregation carries state
    * (vocab-bounded, complete mode). */
  def sampleTokenizeStream(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
    val tmp = java.nio.file.Files.createTempDirectory("graft_st21_").toString
    docs.repartition(2).write.mode("overwrite").parquet(tmp)
    val vocab = graft.ext.Unigram.collectVocab(
      graft.ext.Unigram.train(Tables.documents(s, d), "text",
        vocabSize = 45, maxPieceLen = 6, seedSize = 800))
    val name = "st21_sample_tokenize_out"
    s.catalog.dropTempView(name)
    val src = s.readStream
      .schema(org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("text",
          org.apache.spark.sql.types.StringType))))
      .option("maxFilesPerTrigger", 1)
      .parquet(tmp)
    val q = graft.ext.Unigram.sampleTokenize(src, "text", vocab,
        maxPieceLen = 6, nbest = 4, alpha = 1, seed = 42L)
      .select(explode(col("unigram_sample_tokens")).as("token"))
      .groupBy("token").agg(count(lit(1)).as("n"))
      .writeStream.format("memory").queryName(name)
      .outputMode("complete").trigger(Trigger.AvailableNow()).start()
    require(q.awaitTermination(300000), "stream gate timed out")
    q.stop()
    s.table(name).orderBy("token")
  }

  /** Zone-map maintenance under a file-ingest stream
    * (Scale.zoneMapIncremental per micro-batch): lineitem's bottom-half
    * key range streams in as micro-batch 0 and the top half as
    * micro-batch 1 (file source, one file per trigger); each batch
    * appends to the table and REFRESHES the persisted zone map — the
    * first batch harvests fully, every later batch touches only its
    * own newly landed files' footers (the trust-prev semantics are
    * pinned in ScaleSpec). The final map, aggregated per key-range
    * batch, must equal what DuckDB computes from the rows themselves —
    * the sc9 gate's check, now produced by streaming index upkeep. */
  def zoneMapStream(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d).select(col("l_orderkey"))
    val mid = li.agg(max("l_orderkey")).head().getLong(0) / 2
    val srcDir = java.nio.file.Files.createTempDirectory("graft_st19_src_")
    val tableDir = java.nio.file.Files.createTempDirectory("graft_st19_tbl_")
      .toString
    li.where(col("l_orderkey") <= mid).coalesce(1)
      .sortWithinPartitions("l_orderkey")
      .write.mode("overwrite").parquet(srcDir.toString + "/b0")
    li.where(col("l_orderkey") > mid).coalesce(1)
      .sortWithinPartitions("l_orderkey")
      .write.mode("overwrite").parquet(srcDir.toString + "/b1")
    // One flat source dir: move the data files up so the file stream
    // sees exactly two files, in name order b0 then b1.
    Seq("b0", "b1").foreach { b =>
      val sub = new java.io.File(srcDir.toString + "/" + b)
      val part = sub.listFiles().filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.move(part.toPath,
        java.nio.file.Paths.get(srcDir.toString, b + ".parquet"))
      sub.listFiles().foreach(_.delete()); sub.delete()
    }
    var mapSoFar: DataFrame = null
    val src = s.readStream
      .schema(org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("l_orderkey",
          org.apache.spark.sql.types.LongType))))
      .option("maxFilesPerTrigger", 1)
      .option("latestFirst", "false")
      .parquet(srcDir.toString)
    val q = src.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        batch.coalesce(1).write.mode("append").parquet(tableDir)
        mapSoFar =
          (if (mapSoFar == null)
             graft.ext.Scale.zoneMap(s, tableDir, Seq("l_orderkey"))
           else graft.ext.Scale.zoneMapIncremental(s, tableDir,
             Seq("l_orderkey"), mapSoFar))
          .transform(graft.ext.Scale.materialize)
        ()
      }
      .trigger(Trigger.AvailableNow()).start()
    require(q.awaitTermination(300000), "stream gate timed out")
    q.stop()
    mapSoFar
      .withColumn("batch",
        when(col("max_long") <= mid, lit("low")).otherwise(lit("high")))
      .groupBy(col("batch"))
      .agg(sum(col("num_rows")).as("n_rows"),
        min(col("min_long")).as("min_key"),
        max(col("max_long")).as("max_key"))
      .orderBy("batch")
  }

  /** st20: the sm13 mixture plan MAINTAINED under ingest — per-source
    * token supplies are additive, so each micro-batch folds its own
    * (sources-sized) supply aggregate into the running relation via
    * [[graft.ext.Sampling.mergeSupplies]] and the final plan derives
    * from the merged increments alone (no corpus re-scan, the sc9/st19
    * incremental pattern applied to the data-mix decision). The oracle
    * recomputes the plan from the FULL documents table — merged
    * increments must equal the full recompute exactly (integer
    * arithmetic, no order sensitivity). */
  def mixtureStream(s: SparkSession, d: String): DataFrame = {
    val supplies = foldParquetStream(s,
      stageTwoHalves(Tables.documents(s, d).select(
          col("doc_id"), col("source"), col("n_chars")),
        "doc_id", "graft_st20_src_"),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("source",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("n_chars",
          org.apache.spark.sql.types.LongType))))(
      batch => graft.ext.Sampling.mixtureSupplies(
        batch, col("source"), col("n_chars")))(
      graft.ext.Sampling.mergeSupplies)
    graft.ext.Sampling.mixturePlanFromSupplies(supplies,
        targetPpm = Map("src0" -> 500000L, "src1" -> 300000L,
          "src2" -> 150000L, "src3" -> 50000L))
      .orderBy("source")
  }

  /** st27: the EPOCH-CAPPED mixture plan (sm14's
    * [[graft.ext.Sampling.mixturePlanEpochsFromSupplies]]) maintained
    * under ingest — identical supply fold to st20 (supplies are
    * additive whatever the cap), only the plan derivation changes:
    * src0 may repeat up to 3 epochs, so it pins a LARGER total than
    * the no-repeat plan and the other sources' rates rise to match.
    * The oracle recomputes the capped plan from the full documents
    * table; merged increments must equal it exactly. */
  def epochMixtureStream(s: SparkSession, d: String): DataFrame = {
    val supplies = foldParquetStream(s,
      stageTwoHalves(Tables.documents(s, d).select(
          col("doc_id"), col("source"), col("n_chars")),
        "doc_id", "graft_st27_src_"),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("source",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("n_chars",
          org.apache.spark.sql.types.LongType))))(
      batch => graft.ext.Sampling.mixtureSupplies(
        batch, col("source"), col("n_chars")))(
      graft.ext.Sampling.mergeSupplies)
    graft.ext.Sampling.mixturePlanEpochsFromSupplies(supplies,
        targetPpm = Map("src0" -> 500000L, "src1" -> 300000L,
          "src2" -> 150000L, "src3" -> 50000L),
        capE6 = Map("src0" -> 3000000L))
      .orderBy("source")
  }

  /** Stage a frame as two half-corpus parquet FILES (split on the
    * median of `idCol`, one file per half at the source-dir root) —
    * the fixture every maintained-state streaming gate ingests with
    * maxFilesPerTrigger=1 so each half arrives as its own micro-batch.
    * Shared by st20/st22/st23 (and anything after them): the
    * write-coalesce-move-part staging dance lives HERE only. */
  private def stageTwoHalves(df: DataFrame, idCol: String,
      prefix: String): String = {
    val mid = df.agg(max(idCol)).head().getLong(0) / 2
    val srcDir = java.nio.file.Files.createTempDirectory(prefix)
    df.where(col(idCol) <= mid).coalesce(1)
      .write.mode("overwrite").parquet(srcDir.toString + "/b0")
    df.where(col(idCol) > mid).coalesce(1)
      .write.mode("overwrite").parquet(srcDir.toString + "/b1")
    Seq("b0", "b1").foreach { b =>
      val sub = new java.io.File(srcDir.toString + "/" + b)
      val part = sub.listFiles().filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.move(part.toPath,
        java.nio.file.Paths.get(srcDir.toString, b + ".parquet"))
      sub.listFiles().foreach(_.delete()); sub.delete()
    }
    srcDir.toString
  }

  /** Drive a file-source stream over `srcDir` (one file per
    * micro-batch, oldest first), folding each batch's INCREMENT into
    * the running state via the additive MERGE; returns the final
    * state. The localCheckpoint per fold keeps the state's lineage
    * O(1) in the number of batches — the shared fold scaffold of the
    * maintained-state family (st20/st22/st23). */
  private def foldParquetStream(s: SparkSession, srcDir: String,
      schema: org.apache.spark.sql.types.StructType)(
      inc: DataFrame => DataFrame)(
      merge: (DataFrame, DataFrame) => DataFrame): DataFrame = {
    var state: DataFrame = null
    val src = s.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", 1)
      .option("latestFirst", "false")
      .parquet(srcDir)
    val q = src.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val i = inc(batch)
        state = (if (state == null) i else merge(state, i))
          .transform(graft.ext.Scale.materialize)
        ()
      }
      .trigger(Trigger.AvailableNow()).start()
    // A timed-out await would return a PARTIALLY-merged state and the
    // gate would be silently wrong — fail loudly instead.
    require(q.awaitTermination(300000), "foldParquetStream: fold timed out")
    q.stop()
    state
  }

  /** [[foldParquetStream]] for a PAIR of additively-merged states —
    * the index + stats-sidecar shape (st23 folds the BM25 postings AND
    * the one-row corpus-scalar sidecar under the same micro-batches,
    * exactly as a persisted deployment appends both per increment). */
  private def foldParquetStream2(s: SparkSession, srcDir: String,
      schema: org.apache.spark.sql.types.StructType)(
      inc: DataFrame => (DataFrame, DataFrame))(
      mergeA: (DataFrame, DataFrame) => DataFrame,
      mergeB: (DataFrame, DataFrame) => DataFrame): (DataFrame, DataFrame) = {
    var a: DataFrame = null
    var b: DataFrame = null
    val src = s.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", 1)
      .option("latestFirst", "false")
      .parquet(srcDir)
    val q = src.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val (ia, ib) = inc(batch)
        a = graft.ext.Scale.materialize(if (a == null) ia else mergeA(a, ia))
        b = graft.ext.Scale.materialize(if (b == null) ib else mergeB(b, ib))
        ()
      }
      .trigger(Trigger.AvailableNow()).start()
    require(q.awaitTermination(300000), "foldParquetStream2: fold timed out")
    q.stop()
    (a, b)
  }

  private val docTextSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("doc_id",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("text",
      org.apache.spark.sql.types.StringType)))

  private def foldKnModelFromStream(s: SparkSession, d: String): DataFrame =
    foldParquetStream(s,
      stageTwoHalves(Tables.documents(s, d).select(col("doc_id"), col("text")),
        "doc_id", "graft_st22_src_"),
      docTextSchema)(
      batch => graft.ext.TextAnalysis.knCounts(batch, "text"))(
      graft.ext.TextAnalysis.knMerge)

  /** st22: the Kneser–Ney trigram model MAINTAINED under ingest — the
    * t41 additive-counts contract driven by a real file stream: each
    * micro-batch contributes its own trigram count frame
    * ([[graft.ext.TextAnalysis.knCounts]]), folded into the running
    * model via [[graft.ext.TextAnalysis.knMerge]]; scoring the corpus
    * against the streamed model must equal full retraining (t40's
    * oracle) because EVERY continuation/distinct-successor statistic
    * derives from the merged frame at scoring time. */
  def knStream(s: SparkSession, d: String): DataFrame =
    graft.ext.TextAnalysis.knScoreModel(
        Tables.documents(s, d), "text", "doc_id",
        foldKnModelFromStream(s, d), minCount = 2L)
      .orderBy("doc_id")

  /** st24: "model streams, buckets batch" — the p5 perplexity tiers
    * derived from the STREAM-maintained KN model (st22's fold) instead
    * of a batch retrain. Tier cuts need the global per-language order,
    * so bucketing itself stays a batch pass; the expensive trainable
    * state is what streams. Must hash-match p5's full-recompute
    * oracle. */
  def pplBucketsStream(s: SparkSession, d: String): DataFrame =
    graft.ext.Curation.perplexityBuckets(Tables.documents(s, d), "text",
        "doc_id", col("lang"), foldKnModelFromStream(s, d), nBuckets = 3,
        minCount = 2L)
      .orderBy("doc_id")

  /** st26: "model streams, shards batch" — p7's curriculum shards cut
    * from the STREAM-maintained KN model (st22's fold). The shard cut
    * is a global prefix sum over the (bucket, score desc, id) order, so
    * like st24's tier cuts it stays a batch pass; what streams is the
    * trainable model state. Must hash-match p7's full-recompute
    * oracle. */
  def curriculumShardsStream(s: SparkSession, d: String): DataFrame =
    graft.ext.Curation.curriculumShards(Tables.documents(s, d), "text",
        "doc_id", col("lang"), foldKnModelFromStream(s, d),
        shardTokens = 2048L, nBuckets = 3, minCount = 2L)
      .orderBy("doc_id")

  /** st23: the BM25 lexical index MAINTAINED under ingest — each
    * micro-batch contributes its own posting frame
    * ([[graft.ext.TextAnalysis.bm25Index]]) and the merge is a plain
    * UNION (documents arrive whole per batch, so increments are
    * doc-disjoint: no recompute, no shuffle — an append IS the merge).
    * Serving from the streamed index must equal t11's direct search
    * over the full corpus. */
  def bm25Stream(s: SparkSession, d: String): DataFrame = {
    val (ix, stats) = foldBm25IndexFromStream(s, d)
    graft.ext.TextAnalysis.bm25SearchIndex(ix,
      "doc_id", query = Seq("spark", "hash", "join"), k = 10,
      stats = stats)
  }

  /** (postings, stats-sidecar) both maintained under the stream: each
    * micro-batch contributes its own postings increment AND its own
    * one-row corpus-scalar increment; both merges are plain unions
    * (doc-atomic batches — see TextAnalysis.bm25Stats). */
  private def foldBm25IndexFromStream(
      s: SparkSession, d: String): (DataFrame, DataFrame) =
    foldParquetStream2(s,
      stageTwoHalves(Tables.documents(s, d).select(col("doc_id"), col("text")),
        "doc_id", "graft_st23_src_"),
      docTextSchema)(
      batch => (graft.ext.TextAnalysis.bm25Index(batch, "text", "doc_id"),
        graft.ext.TextAnalysis.bm25Stats(batch, "text", "doc_id")))(
      _.unionAll(_), _.unionAll(_))

  /** st25: hybrid RRF serving where BOTH component indexes are
    * STREAM-MAINTAINED — the lexical postings fold under a documents
    * stream (st23's union-is-merge) while the dense side builds a
    * persisted IVF-PQ index on half the vectors and stream-appends the
    * rest (st17's shape), queried at exact settings (nprobe = nlist,
    * rerank ≥ corpus). The fused result must hash-match the s14 oracle
    * computed from the full static corpus: maintaining both indexes
    * under ingest changes nothing about what the serve path returns. */
  def hybridServeStream(s: SparkSession, d: String): DataFrame = {
    val (lexIx, lexStats) = foldBm25IndexFromStream(s, d)
    val base = java.nio.file.Files.createTempDirectory("graft_st25_")
    val root = base.resolve("ann_index").toString
    val c = Tables.embeddings(s, d)
      .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
    graft.ext.AnnIndex.buildIvfPq(c.where(col("cid") % 2 === 0), dim = 64,
      nlist = 20, root = root, m = 8, codes = 16, refineIters = 2)
    val vdir = base.resolve("vectors").toString
    c.where(col("cid") % 2 === 1).repartition(2)
      .write.mode("overwrite").parquet(vdir)
    val src = s.readStream
      .schema(org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("cid",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("cvec",
          org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.FloatType)))))
      .option("maxFilesPerTrigger", 1)
      .parquet(vdir)
    val idx = graft.ext.AnnIndex.open(s, root)
    val q = src.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        graft.ext.AnnIndex.appendIvfPq(idx, batch)
      }
      .trigger(Trigger.AvailableNow()).start()
    require(q.awaitTermination(300000),
      "hybridServeStream: index-append stream timed out")
    q.stop()
    val dense = graft.ext.AnnIndex.queryIvfPq(s, root,
        c.where(col("cid") === 3)
          .select(col("cid").as("qid"), col("cvec").as("qvec")),
        k = 50, nprobe = 20, rerank = 2100, excludeSelf = false)
      .select(col("corpus_id").as("doc_id"), col("rank").as("dense_rank"))
    graft.ext.Similarity.hybridFromLists(
        graft.ext.Similarity.bm25RankedListFromIndex(lexIx, "doc_id",
          Seq("spark", "hash", "join"), kLex = 50, stats = lexStats),
        dense, "doc_id", k = 10)
      .orderBy("doc_id")
  }

  /** st28: the decontamination benchmark index MAINTAINED under an
    * eval-set stream — eval sets accrete over time, so each micro-batch
    * APPENDS its gram increment to the persisted index
    * ([[graft.ext.Decontam.saveIndex]]; merge is the append itself,
    * with the serve-side re-distinct absorbing overlap), and flagging
    * the corpus from the streamed index must equal d7's direct
    * single-pass flag. The st17/AnnIndex persisted-append shape applied
    * to the hygiene family. */
  def decontamIndexStream(s: SparkSession, d: String): DataFrame = {
    val bench = Tables.documents(s, d).where(col("doc_id") % 20 === 0)
      .select(col("doc_id"), col("text"))
    val srcDir = stageTwoHalves(bench, "doc_id", "graft_st28_src_")
    val root = java.nio.file.Files.createTempDirectory("graft_st28_ix_")
      .resolve("ix").toString
    val src = s.readStream
      .schema(docTextSchema)
      .option("maxFilesPerTrigger", 1)
      .option("latestFirst", "false")
      .parquet(srcDir)
    val q = src.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        graft.ext.Decontam.saveIndex(root, batch, "text", n = 8)
        ()
      }
      .trigger(Trigger.AvailableNow()).start()
    require(q.awaitTermination(300000), "st28: index stream timed out")
    q.stop()
    graft.ext.Decontam.flagFromIndex(s, root,
        HygieneQueries.decontamCorpus(s, d), "text", "doc_id")
      .select(col("doc_id"), col("n_hits"), col("contaminated"))
      .orderBy("doc_id")
  }

  private val docSetTextSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("doc_id",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("eval_set",
      org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("text",
      org.apache.spark.sql.types.StringType)))

  /** st30: the per-eval-set contamination report MAINTAINED under
    * streams on BOTH sides — eval sets accrete into the persisted
    * SET-LABELED index (two micro-batch appends, the st28 composition
    * with labels kept), then the CORPUS arrives in doc-disjoint
    * micro-batches and each batch folds its per-set
    * (n_docs_hit, n_gram_hits) increments and its row-count increment
    * against the completed index (counts over doc-disjoint batches are
    * additive — the st29 confusion-count contract applied to
    * contamination accounting). The finished report must hash-match
    * d21's direct single-pass report over the same corpus/benchmark. */
  def contaminationReportStream(s: SparkSession, d: String): DataFrame = {
    val bench = Tables.documents(s, d).where(col("doc_id") % 20 === 0)
      .select(col("doc_id"),
        when(col("doc_id") % 40 === 0, lit("evalA"))
          .otherwise(lit("evalB")).as("eval_set"),
        col("text"))
    val ixSrc = stageTwoHalves(bench, "doc_id", "graft_st30_ix_src_")
    val root = java.nio.file.Files.createTempDirectory("graft_st30_ix_")
      .resolve("ix").toString
    val src = s.readStream
      .schema(docSetTextSchema)
      .option("maxFilesPerTrigger", 1)
      .option("latestFirst", "false")
      .parquet(ixSrc)
    val q = src.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        graft.ext.Decontam.saveSetIndex(root, batch, "text", "eval_set",
          n = 8)
        ()
      }
      .trigger(Trigger.AvailableNow()).start()
    require(q.awaitTermination(300000), "st30: index stream timed out")
    q.stop()

    // materialize the gram relation ONCE per index version: the fold
    // joins it into every micro-batch, and re-reading + re-distincting
    // the index per batch is per-batch latency a long-running stream
    // should not pay
    val (grams0, n) = graft.ext.Decontam.loadSetIndex(s, root)
    val grams = graft.ext.Scale.materialize(grams0)
    val corpusSrc = stageTwoHalves(HygieneQueries.decontamCorpus(s, d),
      "doc_id", "graft_st30_c_src_")
    val (perSet, total) = foldParquetStream2(s, corpusSrc, docTextSchema)(
      batch => graft.ext.Decontam.contaminationCounts(batch, "text",
        "doc_id", grams, n))(_.unionAll(_), _.unionAll(_))
    graft.ext.Decontam.contaminationReportFromCounts(perSet,
        grams.select(col("eval_set")).distinct(), total)
      .orderBy("eval_set")
  }

  /** st33: the MULTI-n contamination curve MAINTAINED under a corpus
    * stream — st30's fold with the d22 sweep: the tagged
    * (n, eval_set, gram) relation materializes ONCE per benchmark
    * version (localCheckpoint — re-deriving three gram lengths per
    * micro-batch is per-batch latency a long-running stream should
    * not pay), the corpus arrives in doc-disjoint micro-batches, and
    * each batch folds its per-(set, n) count increments plus its
    * row-count increment. Counts are additive per (set, n) — the
    * finished curve must hash-match d22's direct one-scan report. */
  def contaminationCurveStream(s: SparkSession, d: String): DataFrame = {
    val ns = Seq(4, 8, 13)
    val bench = Tables.documents(s, d).where(col("doc_id") % 20 === 0)
      .select(when(col("doc_id") % 40 === 0, lit("evalA"))
        .otherwise(lit("evalB")).as("eval_set"), col("text"))
    // hashed probe relation since r14, matching the d22 gate's switch
    // (same oracle pins both — counts equal string semantics absent a
    // surfaced-as-row-diff collision)
    val grams = graft.ext.Scale.materialize(graft.ext.Decontam
      .curveGramsHashed(bench, "text", "eval_set", ns))
    val corpusSrc = stageTwoHalves(HygieneQueries.decontamCorpus(s, d),
      "doc_id", "graft_st33_c_src_")
    val (perSetN, total) = foldParquetStream2(s, corpusSrc, docTextSchema)(
      batch => graft.ext.Decontam.contaminationCurveCountsHashed(batch,
        "text", "doc_id", grams, ns))(_.unionAll(_), _.unionAll(_))
    graft.ext.Decontam.contaminationCurveFromCounts(perSetN,
        grams.select(col("eval_set")).distinct(), ns, total)
      .orderBy("eval_set", "n")
  }

  /** st34: padded inference batching MAINTAINED under a request stream
    * — an inference service accretes requests, but the pk9 layout is a
    * pure function of the GLOBAL (n_tokens desc, id) order, so what
    * streams is the BOOKKEEPING: each micro-batch tokenizes ONLY its
    * arriving documents (the text is read once, at arrival — never
    * re-scanned) and folds its 16-byte (doc_id, n_tokens) rows into
    * the additive ledger (the st29/st30 union-is-merge discipline;
    * zero-token rows drop at the fold, the packBatches contract).
    * Cutting a serving layout then runs Packing.packBatches over the
    * LEDGER alone — no text column anywhere near the rank or the fold
    * — and must equal the pk9 batch layout over the union row-for-row
    * (membership and order are pure functions of (id, n_tokens): the
    * packBatches determinism contract). The pk9 oracle pins it. */
  def packedBatchesStream(s: SparkSession, d: String): DataFrame = {
    val srcDir = stageTwoHalves(
      Tables.documents(s, d).select(col("doc_id"), col("text")),
      "doc_id", "graft_st34_src_")
    val ledger = foldParquetStream(s, srcDir, docTextSchema)(batch =>
      batch.select(col("doc_id"),
          graft.ext.TextAnalysis.tokenCount(col("text")).cast("long")
            .as("n_tokens"))
        .where(col("n_tokens") > 0))(_.unionAll(_))
    graft.ext.Packing.packBatches(ledger, "doc_id", col("n_tokens"),
        maxTokens = 1024L, maxRows = 8, shardRows = 128L)
      .orderBy("doc_id")
  }

  private val docTextLangSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("doc_id",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("text",
      org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("lang",
      org.apache.spark.sql.types.StringType)))

  /** st29: classifier evaluation MAINTAINED under an eval stream —
    * online model monitoring: predictions per micro-batch come from
    * the FIXED persisted NB model (t44's fixture), and the per-class
    * confusion counts (n_true, n_correct / n_pred) are ADDITIVE over
    * doc-disjoint batches, so the running state is just the unioned
    * count increments (the bm25Stats union-is-merge contract applied
    * to evaluation). The final report re-sums and must hash-match
    * t48's direct full-corpus evaluation — the persisted model equals
    * inline training (t44), and additive counts equal one-pass
    * counting. */
  def classifierEvalStream(s: SparkSession, d: String): DataFrame = {
    val root = HygieneQueries.nbModelFixture(s, d)
    val srcDir = stageTwoHalves(
      Tables.documents(s, d).select(col("doc_id"), col("text"), col("lang")),
      "doc_id", "graft_st29_src_")
    val (byTruth, byPred) = foldParquetStream2(s, srcDir,
      docTextLangSchema)(
      { batch =>
        val pred = graft.ext.TextAnalysis.nbClassifyFromModel(s, root,
          batch, "text", "doc_id")
        val j = pred.select(col("doc_id"), col("pred"))
          .join(batch.select(col("doc_id"), col("lang")), Seq("doc_id"))
        (j.groupBy(col("lang").as("label"))
            .agg(count(lit(1)).cast("long").as("n_true"),
              sum(when(col("pred") === col("lang"), 1L).otherwise(0L))
                .as("n_correct")),
          j.groupBy(col("pred").as("label"))
            .agg(count(lit(1)).cast("long").as("n_pred")))
      })(_.unionAll(_), _.unionAll(_))
    graft.ext.TextAnalysis.classifierReportFromCounts(byTruth, byPred)
      .orderBy("label")
  }

  private val mixtureStreamOracle =
    """WITH w AS (SELECT * FROM (VALUES ('src0', 500000), ('src1', 300000),
      |  ('src2', 150000), ('src3', 50000)) AS t(source, w)),
      |agg AS (
      | SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(sum(n_chars) AS BIGINT) AS tokens_total
      | FROM documents GROUP BY source),
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

  private val epochMixtureStreamOracle =
    """WITH w AS (SELECT * FROM (VALUES ('src0', 500000, 3000000),
      |  ('src1', 300000, 1000000), ('src2', 150000, 1000000),
      |  ('src3', 50000, 1000000)) AS t(source, w, e)),
      |agg AS (
      | SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(sum(n_chars) AS BIGINT) AS tokens_total
      | FROM documents GROUP BY source),
      |tt AS (
      | SELECT min(tokens_total * e // w.w) AS T
      | FROM agg JOIN w USING (source))
      |SELECT a.source, a.n_docs, a.tokens_total,
      | CAST(CASE WHEN w.w IS NULL THEN 0
      |  ELSE LEAST(w.e,
      |   ((w.w * tt.T // 1000000) * 1000000) // a.tokens_total) END
      |  AS BIGINT) AS rate_ppm
      |FROM agg a LEFT JOIN w USING (source) CROSS JOIN tt
      |ORDER BY a.source""".stripMargin

  private val zoneMapStreamOracle =
    """WITH mm AS (SELECT max(l_orderkey) // 2 AS mid FROM lineitem)
      |SELECT CASE WHEN l_orderkey <= mid THEN 'low' ELSE 'high' END AS batch,
      | count(*) AS n_rows, min(l_orderkey) AS min_key,
      | max(l_orderkey) AS max_key
      |FROM lineitem, mm GROUP BY 1 ORDER BY 1""".stripMargin

  /** Stream-static enrichment: the streaming events join a broadcast
    * static user→segment dimension per micro-batch (stateless — nothing
    * buffered, unlike the stream-stream join), then a complete-mode
    * per-segment count must equal the batch aggregate. */
  def streamStaticJoin(s: SparkSession, d: String): DataFrame = {
    val dim = Tables.events(s, d).select(col("user_id")).distinct()
      .withColumn("segment", pmod(col("user_id"), lit(5)))
    runToTable(s, "st7_enrich_out",
      df => EventStream.enrich(df, dim, Seq("user_id"))
        .groupBy("segment").agg(count(lit(1)).as("n")),
      "complete", d)
      .orderBy("segment")
  }

  private val streamStaticOracle =
    """SELECT user_id % 5 AS segment, count(*) AS n
      |FROM events GROUP BY 1 ORDER BY segment""".stripMargin

  /** Streaming materialized upsert view (EventStream.upsertLatestStream):
    * a pre-seeded keyed table absorbs the event stream via
    * latestByKey-compact + newer-wins MERGE per micro-batch. The seed
    * plants all three merge paths: stale rows for users 0-2 (must be
    * OVERWRITTEN by newer stream rows), absent users 3-9 (must INSERT),
    * and key 9999 never touched by the stream (must SURVIVE). */
  def streamUpsert(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val tbl = "st8_upsert_tbl"
    Seq(tbl, tbl + "__upsert_tmp").foreach(t =>
      s.sql(s"DROP TABLE IF EXISTS $t"))
    val stale = java.sql.Timestamp.valueOf("1990-01-01 00:00:00")
    val seed = Seq(
      (0L, -1L, stale, "seed", -99.0),
      (1L, -1L, stale, "seed", -99.0),
      (2L, -1L, stale, "seed", -99.0),
      (9999L, -1L, stale, "keeper", -99.0))
      .toDF("user_id", "event_id", "ts", "event_type", "value")
    seed.write.mode("overwrite").format("parquet").saveAsTable(tbl)
    val ckpt = java.nio.file.Files.createTempDirectory("graft_st8_")
      .resolve("ckpt")
    val q = EventStream.upsertLatestStream(
        EventStream.source(s, d).where(col("user_id") < 10)
          .select("user_id", "event_id", "ts", "event_type", "value"),
        tbl, keys = Seq("user_id"), order = Seq("ts", "event_id"))
      .option("checkpointLocation", ckpt.toString)
      .trigger(Trigger.AvailableNow())
      .start()
    require(q.awaitTermination(300000), "stream gate timed out")
    q.stop()
    s.table(tbl).select("user_id", "event_id", "event_type", "value")
      .orderBy("user_id")
  }

  private val streamUpsertOracle =
    """WITH ev AS (SELECT * FROM events WHERE user_id < 10),
      |latest AS (
      | SELECT user_id, event_id, event_type, value FROM (
      |  SELECT user_id, event_id, event_type, value,
      |   row_number() OVER (PARTITION BY user_id
      |     ORDER BY ts DESC, event_id DESC) AS rn
      |  FROM ev) WHERE rn = 1)
      |SELECT user_id, event_id, event_type, value FROM latest
      |UNION ALL
      |SELECT 9999, -1, 'keeper', -99.0
      |ORDER BY user_id""".stripMargin

  /** Streaming hourly distinct users (EventStream.hourlyDistinctUsers):
    * per-hour user cardinalities are in HLL++ sparse range at gate
    * scale, so the streamed estimate must land within 5% of the exact
    * batch count (k1-style bounds gate over a real stream). */
  def streamDistinct(s: SparkSession, d: String): DataFrame = {
    val streamed = runToTable(s, "st9_distinct_out",
      df => EventStream.hourlyDistinctUsers(df), "complete", d)
    val exact = Tables.events(s, d)
      .groupBy(date_trunc("hour", col("ts")).as("hour"))
      .agg(countDistinct(col("user_id")).as("n_exact"))
    exact.join(streamed, Seq("hour"))
      .select(col("hour"), col("n_exact"),
        (abs(col("nd_est") - col("n_exact")) <=
          col("n_exact").cast("double") * 0.05).as("ok_est"))
      .orderBy("hour")
  }

  private val streamDistinctOracle =
    """SELECT date_trunc('hour', ts) AS hour,
      | CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact,
      | TRUE AS ok_est
      |FROM events GROUP BY 1 ORDER BY hour""".stripMargin

  /** Streaming per-window quantile sketches (EventStream.hourlyQuantiles):
    * each streamed estimate must sit at a plausible DISCRETE rank in
    * the exact batch distribution — p50 within ranks [0.4n, 0.6n], p90
    * within [0.8n, 0.97n] — tested by counting values <= / < the
    * estimate and cross-multiplying. No interpolated value bands:
    * sparse hours here have single-digit n, where an interpolated band
    * is narrower than one rank step and flaps (st9's bounds pattern,
    * for the KLL-style sketch instead of HLL). */
  def streamQuantiles(s: SparkSession, d: String): DataFrame = {
    val streamed = runToTable(s, "st10_quant_out",
      df => EventStream.hourlyQuantiles(df), "complete", d)
    val ev = Tables.events(s, d)
      .select(date_trunc("hour", col("ts")).as("hour"), col("value"))
    def cnt(c: org.apache.spark.sql.Column) = sum(when(c, 1L).otherwise(0L))
    ev.join(streamed, Seq("hour"))
      .groupBy("hour")
      .agg(count(lit(1)).as("n"),
        cnt(col("value") <= col("p50_est")).as("le50"),
        cnt(col("value") < col("p50_est")).as("lt50"),
        cnt(col("value") <= col("p90_est")).as("le90"),
        cnt(col("value") < col("p90_est")).as("lt90"))
      .select(col("hour"),
        (col("le50") * 10 >= col("n") * 4 &&
          col("lt50") * 10 <= col("n") * 6).as("ok_p50"),
        (col("le90") * 10 >= col("n") * 8 &&
          col("lt90") * 100 <= col("n") * 97).as("ok_p90"))
      .orderBy("hour")
  }

  private val streamQuantilesOracle =
    """SELECT date_trunc('hour', ts) AS hour, TRUE AS ok_p50,
      | TRUE AS ok_p90
      |FROM events GROUP BY 1 ORDER BY hour""".stripMargin

  /** Curate-at-ingest (Curation.curateStream): quality filter + content-
    * fingerprint dedup state + inline decontamination over a streamed
    * corpus with planted re-deliveries (every 10th doc's row appears
    * TWICE — the same file polled twice; the state store must admit it
    * once) and planted contaminated wraps (every 20th at id+200000 —
    * must not surface). Two files → two micro-batches, so dedup is
    * exercised across batch boundaries, not just within one. */
  def curateStream(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
    val corpus = docs
      .union(docs.where(col("doc_id") % 10 === 0))
      .union(docs.where(col("doc_id") % 20 === 0).select(
        (col("doc_id") + 200000).as("doc_id"),
        concat(lit("novel preamble "), col("text"), lit(" novel epilogue"))
          .as("text")))
    val tmp = java.nio.file.Files.createTempDirectory("graft_st13_").toString
    corpus.repartition(2).write.mode("overwrite").parquet(tmp)
    val name = "st13_curate_out"
    s.catalog.dropTempView(name)
    val src = s.readStream
      .schema(org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("text",
          org.apache.spark.sql.types.StringType))))
      .option("maxFilesPerTrigger", 1)
      .parquet(tmp)
    val bench = Tables.documents(s, d)
      .where(col("doc_id") % 20 === 0).select(col("text"))
    val q = graft.ext.Curation.curateStream(src, "text", "doc_id",
        bench, "text", minWords = 30L, minStopHits = 1L)
      .select(col("doc_id"))
      .writeStream.format("memory").queryName(name)
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    require(q.awaitTermination(300000), "stream gate timed out")
    q.stop()
    s.table(name).orderBy("doc_id")
  }

  private val curateStreamOracle =
    """WITH corpus AS (
      | SELECT DISTINCT doc_id, text FROM (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id, text FROM documents WHERE doc_id % 10 = 0
      |  UNION ALL
      |  SELECT doc_id + 200000 AS doc_id,
      |   'novel preamble ' || text || ' novel epilogue' AS text
      |  FROM documents WHERE doc_id % 20 = 0)),
      |w AS (
      | SELECT doc_id, text, text AS t,
      |  list_filter(string_split_regex(text, '\s+'),
      |    x -> len(x) > 0) AS ws,
      |  list_filter(string_split(text, chr(10)),
      |    l -> len(ltrim(l)) > 0) AS ls
      | FROM corpus),
      |q AS (
      | SELECT doc_id, text FROM w
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
      |     t -> len(t) > 0) AS ts FROM q)),
      |hits AS (
      | SELECT DISTINCT cg.doc_id FROM cgrams cg JOIN bgrams USING (gram))
      |SELECT q.doc_id FROM q LEFT JOIN hits h ON q.doc_id = h.doc_id
      |WHERE h.doc_id IS NULL ORDER BY q.doc_id""".stripMargin

  /** Lenient JSON-lines ingest AS A STREAM — crawl ingest in practice:
    * the same PERMISSIVE corrupt-capture contract as the batch
    * i18 gate (one mangled line = one quarantined row, never a failed
    * micro-batch), over two fixture files forced into separate
    * micro-batches. The streamed good-row set must equal the batch
    * parse — same oracle as i18. */
  def corruptJsonStream(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    val tmp = java.nio.file.Files.createTempDirectory("graft_st15_")
    val rows = graft.Tables.documents(s, d).select("doc_id", "lang")
      .collect().sortBy(_.getLong(0))
    def write(name: String, part: Array[org.apache.spark.sql.Row]): Unit = {
      val lines = part.map { r =>
        val id = r.getLong(0)
        if (id % 9 == 0) s"""{"doc_id": $id, "lang": OOPS"""
        else s"""{"doc_id": $id, "lang": "${r.getString(1)}"}"""
      }
      java.nio.file.Files.write(tmp.resolve(name),
        String.join("\n", lines: _*)
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    }
    val (even, odd) = rows.partition(_.getLong(0) % 2 == 0)
    write("a.jsonl", even)
    write("b.jsonl", odd)
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("lang", StringType),
      StructField("_corrupt", StringType)))
    val name = "st15_json_out"
    s.catalog.dropTempView(name)
    val q = s.readStream.schema(schema)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt")
      .option("maxFilesPerTrigger", 1)
      .json(tmp.toString)
      .where(col("_corrupt").isNull)
      .select("doc_id", "lang")
      .writeStream.format("memory").queryName(name)
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    require(q.awaitTermination(300000), "stream gate timed out")
    q.stop()
    s.table(name).orderBy("doc_id")
  }

  private val corruptJsonStreamOracle =
    """SELECT doc_id, lang FROM documents
      |WHERE doc_id % 9 <> 0 ORDER BY doc_id""".stripMargin

  /** Streaming windowed top-k (EventStream.hourlyTopK): exact top-3
    * event types per hour with the pinned (count desc, key asc) order —
    * complete-mode output over the finite AvailableNow input must equal
    * the batch window ranking. */
  def windowedTopK(s: SparkSession, d: String): DataFrame =
    runToTable(s, "st16_topk_out",
      df => EventStream.hourlyTopK(df, "event_type", k = 3),
      "complete", d)
      .orderBy("hour", "rank")

  private val windowedTopKOracle =
    """WITH c AS (
      | SELECT date_trunc('hour', ts) AS hour, event_type, count(*) AS n
      | FROM events GROUP BY 1, 2),
      |r AS (
      | SELECT hour, event_type AS key, CAST(n AS BIGINT) AS n,
      |  CAST(row_number() OVER (PARTITION BY hour
      |    ORDER BY n DESC, event_type) AS BIGINT) AS rank
      | FROM c)
      |SELECT hour, rank, key, n FROM r WHERE rank <= 3
      |ORDER BY hour, rank""".stripMargin

  def defs: Seq[QueryDef] = Seq(
    QueryDef("st15_corrupt_json_stream", corruptJsonStream,
      Some(corruptJsonStreamOracle)),
    QueryDef("st16_windowed_topk", windowedTopK, Some(windowedTopKOracle)),
    QueryDef("st13_curate_stream", curateStream, Some(curateStreamOracle)),
    QueryDef("st10_stream_quantiles", streamQuantiles, Some(streamQuantilesOracle)),
    QueryDef("st9_stream_distinct", streamDistinct, Some(streamDistinctOracle)),
    QueryDef("st8_stream_upsert", streamUpsert, Some(streamUpsertOracle), serial = true),
    QueryDef("st2_hourly_stream", hourlyStream, Some(hourlyOracle)),
    QueryDef("st6_dedup_stream", dedupStream, Some(dedupStreamOracle)),
    QueryDef("st11_neardup_stream", nearDupStream,
      Some(ExtensionQueries.dedupPipelineOracle)),
    QueryDef("st12_decontam_stream", decontamStream,
      Some(HygieneQueries.decontamCleanOracle)),
    QueryDef("st18_tokenize_stream", tokenizeStream,
      Some(PinnedOracles.t35UnigramTokenCounts)),
    QueryDef("st21_sample_tokenize_stream", sampleTokenizeStream,
      Some(PinnedOracles.t37SampleCounts)),
    QueryDef("st19_zonemap_stream", zoneMapStream, Some(zoneMapStreamOracle)),
    QueryDef("st20_mixture_stream", mixtureStream, Some(mixtureStreamOracle)),
    QueryDef("st27_epoch_mixture_stream", epochMixtureStream,
      Some(epochMixtureStreamOracle)),
    QueryDef("st29_classifier_eval_stream", classifierEvalStream,
      Some(HygieneQueries.classifierEvalOracle)),
    QueryDef("st30_contamination_report_stream", contaminationReportStream,
      Some(HygieneQueries.contaminationReportOracle)),
    QueryDef("st33_contamination_curve_stream", contaminationCurveStream,
      Some(HygieneQueries.contaminationCurveOracle)),
    QueryDef("st34_padded_batches_stream", packedBatchesStream,
      Some(PipelineQueries.packedBatchesOracle)),
    QueryDef("st31_sft_render_stream", sftRenderStream,
      Some(PinnedOracles.t52SftTokenSpans)),
    QueryDef("st28_decontam_index_stream", decontamIndexStream,
      Some(HygieneQueries.decontamOracle)),
    QueryDef("st22_kn_stream", knStream,
      Some(HygieneQueries.knScoreOracle)),
    QueryDef("st23_bm25_stream", bm25Stream,
      Some(HygieneQueries.bm25Oracle)),
    QueryDef("st24_ppl_buckets_stream", pplBucketsStream,
      Some(PipelineQueries.pplBucketsOracle)),
    QueryDef("st26_curriculum_stream", curriculumShardsStream,
      Some(PipelineQueries.curriculumShardsOracle)),
    QueryDef("st25_hybrid_serve_stream", hybridServeStream,
      Some(ExtensionQueries.hybridRrfOracle)),
    QueryDef("st7_stream_static_join", streamStaticJoin, Some(streamStaticOracle)),
    QueryDef("st5_stream_stream_join", streamStreamJoin, Some(streamStreamOracle)),
    QueryDef("st3_sessionize_stream", sessionizeStream, Some(sessionizeStreamOracle)),
    QueryDef("st4_stream_ingest", streamIngest, Some(streamIngestOracle), serial = true))
}
