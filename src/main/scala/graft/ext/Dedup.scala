package graft.ext

import graft.functions.GraftFunctions
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Deduplication operators for a training-data pipeline, each built as a
  * bounded-shuffle plan that survives 100 TB:
  *
  *  - exact: hash-groupBy on the dedup key (one shuffle).
  *  - MinHash + LSH: per-row signature (narrow) → banding → one shuffle on
  *    (band, bandHash) → candidate pairs → exact-Jaccard verify. Never
  *    compares all N² pairs; cost is O(N·H) hashing + pairs-per-bucket.
  *  - SimHash: per-row 64-bit signature (narrow) → 16-bit chunk banding
  *    (Hamming ≤ 3 ⇒ some 16-bit quarter is equal, pigeonhole) → verify
  *    with bit_count(xor).
  *  - n-gram Jaccard: inverted index on token n-grams (explode + one
  *    shuffle) → pair counting → Jaccard from carried set sizes.
  *  - embedding cosine: random-hyperplane LSH bucket join → verify with
  *    the codegen'd FloatCosine expression.
  */
object Dedup {

  // ----------------------------------------------------------- exact

  /** Exact dedup: first-seen row per key set (min id as representative). */
  def exact(df: DataFrame, cols: Seq[String]): DataFrame =
    df.dropDuplicates(cols)

  /** Exact-dup groups with the kept representative: (key cols, keep_id, n). */
  def exactGroups(df: DataFrame, text: String, id: String): DataFrame =
    df.groupBy(col(text))
      .agg(min(col(id)).as("keep_id"), count(lit(1)).as("n_copies"))

  /** Latest record per key — upsert-compaction over an append-only
    * table (the "current state" view of a changelog). One aggregation
    * with `max_by` over an order struct: partial aggregates keep a
    * single candidate row per key per partition, so the shuffle carries
    * one row per (key, partition) — versus the window/row_number
    * formulation, which shuffles EVERY row and sorts each key group.
    * `order` columns break ties in sequence (pass a monotonic id last
    * for full determinism). */
  def latestByKey(df: DataFrame, keys: Seq[String],
      order: Seq[String]): DataFrame = {
    require(order.nonEmpty, "latestByKey needs at least one ordering column")
    val payload = df.columns.filterNot(keys.contains)
    df.groupBy(keys.map(col): _*)
      .agg(max_by(struct(payload.map(col): _*),
        struct(order.map(col): _*)).as("__latest"))
      .select(keys.map(col) ++ payload.map(c => col(s"__latest.`$c`").as(c)): _*)
  }

  /** Fingerprint-based exact dedup: groups by the 64-bit rolling hash
    * instead of the full text — the shuffle carries 8 bytes per doc, not
    * the document body. */
  def byFingerprint(df: DataFrame, text: String, id: String): DataFrame =
    df.select(col(id), GraftFunctions.fingerprint(col(text)).as("fp"))
      .groupBy(col("fp"))
      .agg(min(col(id)).as("keep_id"), count(lit(1)).as("n_copies"))

  /** Incremental exact dedup: filter a NEW batch against an existing
    * corpus WITHOUT reprocessing the corpus — the shape of daily ingest
    * into an already-deduplicated 100 TB collection. The corpus is
    * represented solely by its 8-byte fingerprint relation (`fp`
    * column, maintained across runs); the batch (1) dedups internally
    * by fingerprint (first id wins), then (2) anti-joins the corpus
    * fingerprints. Returns the surviving batch rows with their `fp`
    * appended — union that projection onto the fingerprint table to
    * complete the increment.
    *
    * Cost: one fingerprint scan of the BATCH, one batch-sized groupBy,
    * one anti-join against the fingerprint relation — the corpus text
    * is never read. At 100 TB the fingerprint table is ~0.1% of corpus
    * bytes; bucket it on `fp` to make the recurring anti-join
    * exchange-free on the corpus side (Scale.writeBucketed).
    */
  def incrementalExact(
      corpusFps: DataFrame, batch: DataFrame, text: String, id: String)
      : DataFrame = {
    val withFp = batch.withColumn("fp", GraftFunctions.fingerprint(col(text)))
    val firstPerFp = withFp
      .groupBy(col("fp")).agg(min(col(id)).as("__keep"))
    withFp
      .join(firstPerFp,
        withFp("fp") === firstPerFp("fp") && col(id) === col("__keep"))
      .drop("__keep").drop(firstPerFp("fp"))
      .join(corpusFps.select(col("fp")), Seq("fp"), "left_anti")
  }

  // ----------------------------------------------------------- minhash

  /** LSH tuning: the implied similarity threshold is ~(1/bands)^(1/r)
    * with r = numHashes/bands rows per band. bands=8, r=8 puts it at
    * ~0.77 — matched to the 0.8 default `threshold`. (bands=16, r=4
    * would put it at 0.5 and flood the verify stage with J≈0.2
    * candidates: ~2% of ALL pairs on a shared-vocabulary corpus.) */
  final case class MinHashConfig(
      shingleSize: Int = 5,
      numHashes: Int = 64,
      bands: Int = 8,
      threshold: Double = 0.8,
      maxBucketSize: Int = 4096) {
    require(numHashes % bands == 0, "bands must divide numHashes")
    def rowsPerBand: Int = numHashes / bands
  }

  /** Pick the band count whose implied LSH threshold (1/b)^(1/r) sits
    * closest to the target similarity — the tuning the MinHashConfig
    * scaladoc walks through, as a function. Scans the divisors of
    * `numHashes` (there are O(log n) of them; this is driver-side
    * arithmetic, no data involved). More bands = lower implied
    * threshold = more candidates: when two divisors tie, the SMALLER
    * band count wins, keeping the verify stage lean. */
  def planBands(numHashes: Int, threshold: Double): Int = {
    require(numHashes >= 1, s"numHashes=$numHashes")
    require(threshold > 0 && threshold < 1, s"threshold=$threshold")
    (1 to numHashes).filter(numHashes % _ == 0)
      .minBy { b =>
        val implied = math.pow(1.0 / b, b.toDouble / numHashes)
        (math.abs(implied - threshold), b)
      }
  }

  /** Distinct character k-shingles of the lowercased text. The lowered
    * string is bound ONCE per row as the outer lambda variable: writing
    * `lower(text)` directly inside the window lambda re-evaluates the
    * (interpreted, collation-aware) lowercase per shingle — ~300x per
    * document, which profiling showed dominating the whole verify stage. */
  private[graft] def shingleCol(text: Column, k: Int): Column =
    array_distinct(flatten(transform(
      array(lower(text)),
      t => transform(
        sequence(lit(0), greatest(length(t) - k, lit(0))),
        i => t.substr(i + 1, lit(k))))))

  /** Keep only rows whose bucket holds 2..maxBucket members, via a
    * codegen'd count window over the bucket key. In any LSH scheme the
    * vast majority of buckets are singletons; dropping them BEFORE the
    * collect_list aggregation matters because ObjectHashAggregate falls
    * back to slow sort-based mode past ~128 groups per task (a corpus-
    * sized group count), which measured ~8x the cost of the whole rest
    * of the pipeline. The window shares the downstream groupBy's hash
    * partitioning, so it adds no extra shuffle — and the upstream
    * (signature computation, the expensive part of the LSH paths) stays
    * referenced exactly once in the plan.
    *
    * ONLY for hash-valued bucket keys (minhash band hashes, simhash
    * chunks, LSH bucket ids): those are uniform by construction, so the
    * window's every-row-of-a-key-in-one-task shape cannot straggle
    * (byte-identical floods are the documented exception — run exact
    * dedup first). NATURAL keys (grams, terms, lines) are Zipfian and
    * must use [[keepHotBucketsSkewSafe]] instead.
    */
  private def keepHotBuckets(withBucket: DataFrame, keyCols: Seq[String],
      maxBucket: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keyCols.map(col): _*)
    withBucket
      .withColumn("__bucket_n", count(lit(1)).over(w))
      .where(col("__bucket_n").between(2, maxBucket))
      .drop("__bucket_n")
  }

  /** Skew-safe twin of [[keepHotBuckets]] for NATURAL bucket keys
    * (token grams, terms, lines — Zipfian by nature): the member count
    * is a partial-aggregated `groupBy(key).count()` joined back, NOT a
    * count window. A window co-locates EVERY row of a key in one task
    * with no map-side combine, so one stop-word gram in half the corpus
    * is a straggler task AQE cannot split (its skew handling splits
    * joins, not windows). Here the hot key reduces map-side to one row
    * per task; the join back is a plain equi-join AQE can skew-split —
    * and since the 2..maxBucket filter runs on the COUNTS side, the
    * surviving-bucket relation is usually small enough to broadcast, in
    * which case the corpus-sized frame is filtered map-side with no
    * key-keyed shuffle at all, and the downstream groupBy reshuffles
    * only surviving, size-capped buckets. Cost: the upstream frame is
    * referenced twice in the plan (once for counts, once as the join
    * probe) — for the gram paths that upstream is one codegen'd
    * explode, cheap against the straggler it removes. */
  private def keepHotBucketsSkewSafe(withBucket: DataFrame,
      keyCols: Seq[String], maxBucket: Int): DataFrame = {
    val keep = withBucket
      .groupBy(keyCols.map(col): _*)
      .agg(count(lit(1)).as("__bucket_n"))
      .where(col("__bucket_n").between(2, maxBucket))
      .drop("__bucket_n")
    withBucket.join(keep, keyCols)
  }

  /** Sorted in-bucket pair expansion, shared by every pair operator here:
    * (bucket key cols, element cols) → one row per in-bucket pair, with
    * columns `<e>_a`, `<e>_b` per element column e, a before b in sort
    * order (the id column leads, so id_a <= id_b). A payload (signature,
    * vector, set size) rides with its id, so the verify needs no join
    * back. Grouping + expansion replaces the classic bucket SELF-JOIN:
    * one scan and one shuffle instead of two scans (each recomputing
    * signatures) and a join. The caller filters `kept` to hot buckets
    * first ([[keepHotBuckets]] or [[keepHotBucketsSkewSafe]]): a bucket
    * of B docs yields B²/2 pairs, so a flood of byte-identical docs would
    * otherwise blow up any LSH plan; run exact dedup
    * (`exactGroups`/`byFingerprint`) first. The expansion is the
    * codegen'd `SortedIdPairs` kernel, so the `Generate` stays inside
    * whole-stage codegen; a lone element column is collected bare, so
    * id-only buckets sort and pair plain longs. */
  private def inBucketPairs(kept: DataFrame, keyCols: Seq[String],
      elemCols: Seq[String]): DataFrame = {
    val bare = elemCols.size == 1
    val elem = if (bare) col(elemCols.head) else struct(elemCols.map(col): _*)
    def side(s: String) = elemCols.map(e =>
      col(if (bare) s"p.$s" else s"p.$s.$e").as(s"${e}_$s"))
    kept
      .groupBy(keyCols.map(col): _*)
      .agg(sort_array(collect_list(elem)).as("es"))
      .select(explode(GraftFunctions.sortedIdPairs(col("es"))).as("p"))
      .select(side("a") ++ side("b"): _*)
  }

  /** Distinct (id_a, id_b) pairs of ids sharing a bucket of at most
    * `maxBucket` members: [[inBucketPairs]] over the hot buckets.
    *
    * `skewSafe = true` routes the 2..maxBucket filter through
    * [[keepHotBucketsSkewSafe]] — required when keyCols are natural
    * (Zipfian) keys rather than uniform hashes.
    *
    * `expandWide = true` materializes the kept postings through an
    * explicit key-repartition to the session shuffle width BEFORE the
    * expansion groupBy (guide §2.3: the pair explosion is CPU-bound,
    * not byte-bound). Rationale, from the r17 runtime diagnosis: the
    * expansion's own exchange is ENSURE_REQUIREMENTS-origin, and in
    * the d16/d23 plan shape (expansion subtree nested under a
    * broadcast-stage re-plan) Spark 4.1.2's AQE coalesce floors its
    * read at minPartitionSize EVEN over an upstream numbered
    * repartition — one task computing hundreds of thousands of pairs
    * from a sub-MB posting shuffle. Routing the repartition through
    * [[Scale.materialize]] makes it the ROOT of its own query execution
    * (where REPARTITION_BY_NUM is always respected — r17 verified the
    * isolated shape) and hands the groupBy a LogicalRDD already
    * hash-partitioned on the bucket key, so no coalescable exchange
    * exists between the postings and the expansion. Cost: one
    * postings-sized Scale.materialize — callers gate it on MEASURED
    * input smallness (the AQE-collapse regime), so a corpus-scale run
    * skips the extra materialization it doesn't need. */
  private[graft] def bucketPairs(withBucket: DataFrame, keyCols: Seq[String],
      idCol: String, maxBucket: Int,
      skewSafe: Boolean = false, expandWide: Boolean = false): DataFrame = {
    val kept0 =
      (if (skewSafe) keepHotBucketsSkewSafe(withBucket, keyCols, maxBucket)
       else keepHotBuckets(withBucket, keyCols, maxBucket))
    val kept =
      if (!expandWide) kept0
      else {
        val width = math.max(
          withBucket.sparkSession.sparkContext.defaultParallelism,
          withBucket.sparkSession.sessionState.conf.numShufflePartitions)
        Scale.materialize(kept0.repartition(width, keyCols.map(col): _*))
      }
    inBucketPairs(kept, keyCols, Seq(idCol))
      .select(col(s"${idCol}_a").as("id_a"), col(s"${idCol}_b").as("id_b"))
      .distinct()
  }

  /** Near-duplicate pairs (id_a < id_b, jaccard >= threshold).
    * Signatures come from the codegen'd MinHashSignature expression (one
    * pass over the bytes per doc); candidates from in-bucket expansion
    * (see bucketPairs — one shuffle, no self-join); the exact shingle-set
    * Jaccard verify materializes shingle arrays only for LSH candidate
    * rows — the full corpus never carries an exploded shingle column. */
  def minHashPairs(df: DataFrame, text: String, id: String,
      conf: MinHashConfig = MinHashConfig()): DataFrame = {
    val r = conf.rowsPerBand
    // NO Scale.fanOut here (r18 A/B): widening the signature input
    // looked like the d13/s7 pattern but REGRESSED p4 (sig+explode
    // task time 0.2 s @ 1 task -> 13.5 s @ 32; wall 3.99 -> 4.42) —
    // the round-robin exchange lands between the scan and the fused
    // sig/band projection and the per-row work re-inflates. The sig
    // pass here is already cheap relative to the verify stage.
    val sigs = df
      // Empty-text precondition, NOT .where(sig.isNotNull): a filter on
      // the signature itself gets pushed below the projection and the
      // codegen'd MinHash pass runs twice per row (once in the scan
      // filter, once in the project). length() is what the null case
      // means anyway (no shingles).
      .where(length(col(text)) > 0)
      .select(col(id).as("doc_id"),
        GraftFunctions.minhashSig(lower(col(text)), conf.shingleSize, conf.numHashes)
          .as("sig"))
    // Fused band hashing (BandHashes, r18): one codegen'd node per row
    // instead of the array(bands x xxhash64(slice(...))) form — same
    // hashes bit for bit (pinned by OptimizedInternalsSpec), no
    // per-band slice allocation, and a plan the tasks deserialize in
    // O(1) instead of O(bands) nodes.
    val bands = sigs.select(
      col("doc_id"),
      posexplode(GraftFunctions.bandHashes(col("sig"), conf.bands, r)))
      .withColumnRenamed("pos", "band")
      .withColumnRenamed("col", "band_hash")

    val cand = bucketPairs(bands, Seq("band", "band_hash"), "doc_id",
      conf.maxBucketSize)

    // Verify stage, shaped so the expensive candidate pipeline above is
    // referenced exactly ONCE in the plan (a cand/candIds/candSets
    // formulation reads it three times, and exchange reuse does not
    // reliably deduplicate the copies): explode each pair into its two
    // member ids, join the text table once, shingle only the joined
    // (candidate) rows, and regroup per pair. The Jaccard filter then
    // only touches materialized arrays — nothing for Catalyst to push
    // into a join condition and re-evaluate.
    val side = cand.select(col("id_a"), col("id_b"),
      explode(array(col("id_a"), col("id_b"))).as("doc_id"))
    val texts = df.select(col(id).as("doc_id"), col(text).as("t"))
    side.join(texts, "doc_id")
      .groupBy(col("id_a"), col("id_b"))
      .agg(
        first(when(col("doc_id") === col("id_a"), col("t")), ignoreNulls = true).as("t_a"),
        first(when(col("doc_id") === col("id_b"), col("t")), ignoreNulls = true).as("t_b"))
      .withColumn("jaccard",
        GraftFunctions.shingleJaccard(col("t_a"), col("t_b"), conf.shingleSize))
      .where(col("jaccard") >= conf.threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** Greedy dedup from pairs: drop every doc that duplicates a lower id.
    * NOT transitive: in a chain A~B~C with A̸~C, B drops (pairs with A)
    * and C drops (pairs with B) — but a chain A~B, B~C where only the
    * MIDDLE element was detected against each end still keeps both ends.
    * Use [[dropFromPairsTransitive]] when chains must collapse to one
    * representative per connected component. */
  def dropFromPairs(df: DataFrame, id: String, pairs: DataFrame): DataFrame =
    df.join(pairs.select(col("id_b").as(id)).distinct(), Seq(id), "left_anti")

  // ------------------------------------- persisted MinHash-LSH index

  /** Persist a MinHash-LSH near-dup index at `root` — the index/serve
    * lifecycle split ([[graft.ext.AnnIndex]], Decontam.saveIndex,
    * bm25Index) applied to near-duplicate detection. The deployment
    * shape: the curated corpus is indexed ONCE; every new crawl
    * snapshot / ingest batch is then flagged against it
    * ([[flagAgainstIndex]]) without re-pairing the corpus with itself —
    * at 100 TB the all-corpus [[minHashPairs]] pass is the expensive
    * build, and incremental arrivals must not repeat it.
    *
    * Layout under `root` (plain parquet, single-writer — the engine's
    * standard sink contract):
    *
    *   buckets.parquet    (band, band_hash, doc_id) — the LSH postings
    *   fps.parquet        (doc_id, fps ARRAY<BIGINT>) — sorted xxhash64
    *                       shingle fingerprints for the exact verify
    *   tombstones.parquet (band, band_hash) — buckets retired by the
    *                       flood cap (empty at build unless the build
    *                       itself caps; grown by appends, see below)
    *   meta.parquet       (shingle_k, num_hashes, bands, threshold,
    *                       max_bucket) — one row, pinned at first save,
    *                       written LAST: its presence is the index's
    *                       commit marker ([[openMinHashIndex]] reads it
    *                       first, so a torn build is unreadable, not
    *                       silently partial)
    *
    * The verify side stores 8-byte shingle fingerprints, not text (the
    * d16 trick): jaccard over the hashed sets equals string-set jaccard
    * under the injective-or-loudly-wrong contract, and the serve's
    * per-candidate work is an allocation-free sorted-long merge.
    * Empty-text rows are excluded (no shingles — the [[minHashPairs]]
    * precondition). Oversized-bucket capping applies at build (a
    * byte-identical flood belongs in exact dedup first — the
    * [[bucketPairs]] contract) AND across [[appendMinHashIndex]]
    * increments: an append that pushes a bucket's distinct-doc count
    * past `maxBucketSize` tombstones the bucket, so a hot shingle
    * pattern arriving over many streamed appends cannot grow a posting
    * list unboundedly and flood the serve join. */
  def saveMinHashIndex(root: String, df: DataFrame, text: String,
      id: String, conf: MinHashConfig = MinHashConfig()): Unit = {
    val spark = df.sparkSession
    import spark.implicits._
    writeIndexRows(root, df, text, id, conf, "errorifexists", cap = true)
    // empty tombstone table so serve/append never special-case a fresh
    // index (build-time capping DROPS over-cap rows rather than
    // tombstoning the key: appends may refill such a bucket up to the
    // cap — candidates there are still exact-verified, and the count
    // accounting re-tombstones it the moment it crosses again)
    spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        StructType(Seq(StructField("band", IntegerType),
          StructField("band_hash", LongType))))
      .write.mode("errorifexists").parquet(s"$root/tombstones.parquet")
    // meta LAST — the commit marker (ADVICE r13: a meta-first build
    // that failed mid-way blocked the retry on the leftover meta and
    // left a half-written root that opened as a valid empty index)
    Seq((conf.shingleSize, conf.numHashes, conf.bands, conf.threshold,
        conf.maxBucketSize))
      .toDF("shingle_k", "num_hashes", "bands", "threshold", "max_bucket")
      .write.mode("errorifexists").parquet(s"$root/meta.parquet")
  }

  /** Append new documents to a persisted near-dup index: encode with
    * the PINNED knobs (band hashes must match the existing postings or
    * collisions silently never happen), RE-CAP the touched buckets, and
    * append to both tables.
    *
    * Cross-increment re-capping (the r13 watch-item): for every bucket
    * the increment touches, the DISTINCT-doc count over (existing
    * postings ∪ increment) is measured — one column-pruned scan of the
    * postings table, restricted by a broadcast semi-join on the
    * increment's own bucket keys (increment-sized, so always
    * broadcastable). Buckets crossing `maxBucketSize` are tombstoned:
    * their increment rows are not written, and [[flagAgainstIndex]]
    * anti-joins the (tiny, broadcast) tombstone set so rows appended
    * BEFORE the crossing stop generating candidates too. Distinct-doc
    * counting makes the accounting replay-safe: an at-least-once
    * delivery that re-appends an increment cannot double-count a doc
    * into a premature tombstone. Counts use the postings table itself
    * rather than a separate cumulative-counts sidecar — one slim scan
    * per append; a counts cache is the optimization path if append
    * cadence ever makes that scan the bottleneck.
    *
    * Torn-append semantics (write order: fps, then postings, then
    * tombstones): a failure after the fps write leaves the increment
    * invisible (no postings — arrivals simply not yet flaggable), never
    * postings whose verify fingerprints are missing (the silent
    * candidate-drop ADVICE r13 flagged). The safe recovery is to retry
    * the whole append: duplicate fps/posting rows are absorbed by the
    * serve's distinct discipline ([[flagAgainstIndex]]) and physically
    * removed by [[compactMinHashIndex]]. */
  def appendMinHashIndex(root: String, df: DataFrame, text: String,
      id: String): Unit =
    appendMinHashIndex(root, df, text, id,
      openMinHashIndex(df.sparkSession, root))

  /** [[appendMinHashIndex]] with the knobs pre-[[openMinHashIndex]]ed —
    * zero per-call metadata jobs (the streamed-ingest shape). */
  def appendMinHashIndex(root: String, df: DataFrame, text: String,
      id: String, conf: MinHashConfig): Unit = {
    val spark = df.sparkSession
    val tombs = readTombstones(spark, root)
    // Three consumers read the increment's postings (the touched-key
    // probe inside the tombstone count, the union side of that same
    // count, and the final write) — without a cut each one replans the
    // codegen'd minhashSig pass over the whole increment, the append's
    // single largest term. Materialize it once; increment-sized rows,
    // so the checkpoint is batch-sized, not index-sized.
    // fanOut before the signature pass (the write-path rationale in
    // writeIndexRows; the r18 profile read the append's fps write as a
    // ~0.9 s single-task stage at gate scale).
    val wide = Scale.fanOut(df)
    val incBands = Scale.materialize(bandsOf(wide, text, id, conf)
      .join(broadcast(tombs), Seq("band", "band_hash"), "left_anti"))
    val touched = incBands.select(col("band"), col("band_hash")).distinct()
    // distinct-doc union count per touched bucket; the broadcast
    // semi-join keeps the postings scan restricted to increment keys
    val newTombRows = spark.read.parquet(s"$root/buckets.parquet")
      .join(broadcast(touched), Seq("band", "band_hash"), "left_semi")
      .select(col("band"), col("band_hash"), col("doc_id"))
      .union(incBands.select(col("band"), col("band_hash"), col("doc_id")))
      .distinct()
      .groupBy(col("band"), col("band_hash"))
      .agg(count(lit(1)).as("__n"))
      .where(col("__n") > conf.maxBucketSize)
      .select(col("band"), col("band_hash"))
      .collect()
    val newTombs = spark.createDataFrame(
      spark.sparkContext.parallelize(newTombRows.toIndexedSeq, 1),
      StructType(Seq(StructField("band", IntegerType),
        StructField("band_hash", LongType))))
    fpsOf(wide, text, id, conf)
      .write.mode("append").parquet(s"$root/fps.parquet")
    incBands.join(broadcast(newTombs), Seq("band", "band_hash"), "left_anti")
      .write.mode("append").parquet(s"$root/buckets.parquet")
    if (newTombRows.nonEmpty)
      newTombs.write.mode("append").parquet(s"$root/tombstones.parquet")
  }

  /** Read the pinned knobs of a persisted near-dup index — the
    * driver-side "open" step: a long-lived server (the st36 streaming
    * foreachBatch loop) loads the one-row meta ONCE and passes it to
    * every [[flagAgainstIndex]] serve, so the per-batch plan touches
    * only the postings and fingerprint tables. */
  def openMinHashIndex(spark: org.apache.spark.sql.SparkSession,
      root: String): MinHashConfig = {
    // leftover .old-* backups mean a compact crashed MID-SWAP and the
    // live tables may mix generations — fail loudly (StagedSwap doc)
    graft.io.StagedSwap.assertNotTorn(
      new org.apache.hadoop.fs.Path(root)
        .getFileSystem(spark.sparkContext.hadoopConfiguration),
      root, "MinHashIndex")
    val m = spark.read.parquet(s"$root/meta.parquet").head
    MinHashConfig(m.getAs[Int]("shingle_k"), m.getAs[Int]("num_hashes"),
      m.getAs[Int]("bands"), m.getAs[Double]("threshold"),
      m.getAs[Int]("max_bucket"))
  }


  /** The (band, band_hash, doc_id) posting rows of `df` under `conf` —
    * the one codegen'd minhashSig pass per doc, shared by build, append
    * and serve so the three can never drift. */
  private def bandsOf(df: DataFrame, text: String, id: String,
      conf: MinHashConfig): DataFrame = {
    val r = conf.rowsPerBand
    df.where(length(col(text)) > 0)
      .select(col(id).as("doc_id"),
        GraftFunctions.minhashSig(lower(col(text)), conf.shingleSize,
          conf.numHashes).as("sig"))
      .select(col("doc_id"),
        // fused band hashing — see minHashPairs
        posexplode(GraftFunctions.bandHashes(col("sig"), conf.bands, r)))
      .withColumnRenamed("pos", "band")
      .withColumnRenamed("col", "band_hash")
  }

  /** The (doc_id, fps) verify rows — sorted 8-byte shingle fingerprints. */
  private def fpsOf(df: DataFrame, text: String, id: String,
      conf: MinHashConfig): DataFrame =
    df.where(length(col(text)) > 0)
      .select(col(id).as("doc_id"),
        GraftFunctions.sortedGramHashes(
          shingleCol(col(text), conf.shingleSize)).as("fps"))

  /** Delete documents from a persisted near-dup index (takedown /
    * right-to-be-forgotten): ids append to a `deletes.parquet` marker
    * table; [[flagAgainstIndex]] anti-joins the markers at the postings
    * read (a deleted doc can never be a candidate, effective
    * immediately), and [[compactMinHashIndex]] removes its postings and
    * fingerprints physically and clears the markers. Idempotent under
    * replay (markers distinct'd at read). Bucket TOMBSTONES are not
    * recomputed on delete: a bucket retired by a flood stays retired
    * even if some flood members are later taken down — conservative, a
    * property of the corpus history (re-cap decisions replay forward,
    * never backward). Takedown lists are broadcast-small by premise —
    * ENFORCED by [[graft.io.TakedownGuard]]: serve paths fail loudly
    * once the marker table outgrows `graft.takedown.maxMarkerBytes`,
    * pointing at [[compactMinHashIndex]].
    * `ids`: a one-column frame; `id` names the column. */
  def deleteFromMinHashIndex(root: String, ids: DataFrame,
      id: String): Unit =
    // coalesce(1): broadcast-small by premise; one file per call, not
    // a shuffle-partition fan (marker reads pay per-file footers)
    ids.select(col(id).as("doc_id")).distinct().coalesce(1)
      .write.mode("append").parquet(s"$root/deletes.parquet")

  /** The delete markers; empty frame when none exist (common case and
    * every pre-r14 index — one driver-side FS existence check, so the
    * no-deletions serve plan is unchanged). */
  private def readDeletes(spark: org.apache.spark.sql.SparkSession,
      root: String, guard: Boolean = true): Option[DataFrame] = {
    val p = new org.apache.hadoop.fs.Path(s"$root/deletes.parquet")
    if (p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)) {
      // loud enforcement of the broadcast-small marker premise on SERVE
      // paths — see TakedownGuard. Compaction passes guard=false: it is
      // the operation the guard tells the operator to run, and its
      // anti-join is one shuffle in a full-rewrite job, not a
      // per-query broadcast.
      if (guard) graft.io.TakedownGuard.check(spark, p, "MinHashIndex")
      Some(spark.read.parquet(p.toString).select("doc_id").distinct())
    } else None
  }

  /** The tombstoned bucket keys; empty frame when the table is missing
    * (an index persisted before tombstones existed still serves). */
  private def readTombstones(spark: org.apache.spark.sql.SparkSession,
      root: String): DataFrame = {
    val p = new org.apache.hadoop.fs.Path(s"$root/tombstones.parquet")
    if (p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p))
      spark.read.parquet(p.toString).select(col("band"), col("band_hash"))
    else spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(StructField("band", IntegerType),
        StructField("band_hash", LongType))))
  }

  private def writeIndexRows(root: String, df: DataFrame, text: String,
      id: String, conf: MinHashConfig, mode: String, cap: Boolean): Unit = {
    // Scale.fanOut (§2.3): the MinHash-signature and fingerprint-sort
    // passes below are CPU-bound and the build corpus often arrives as
    // 1-2 byte-sized splits — the r18 d23 profile read both write jobs
    // as ~1 s single-task stages. No-op once the scan has >= cores
    // splits, so a 100 TB build keeps its natural (file-sized) output
    // layout; at gate scale the extra small files cost footer-reads,
    // which the A/B prices against the widened compute.
    val wide = Scale.fanOut(df)
    val bands = bandsOf(wide, text, id, conf)
    // Cap via a count WINDOW, not a groupBy+join self-reference: band
    // hashes are uniform keys (the keepHotBuckets argument — no hot
    // bucket to straggle a window task), and the join formulation would
    // plan the codegen'd minhashSig pass over the full corpus TWICE
    // (exchange reuse does not reliably deduplicate the copies).
    // Unlike bucketPairs the filter keeps singletons: they are the
    // postings future arrivals probe.
    val capped =
      if (cap) {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("band"), col("band_hash"))
        bands.withColumn("__n", count(lit(1)).over(w))
          .where(col("__n") <= conf.maxBucketSize).drop("__n")
      } else bands
    // fps BEFORE postings (ADVICE r13): a failure between the two jobs
    // must leave postings absent (increment invisible, retry-safe), not
    // postings whose verify fingerprints the serve join silently drops
    fpsOf(wide, text, id, conf).write.mode(mode).parquet(s"$root/fps.parquet")
    capped.write.mode(mode).parquet(s"$root/buckets.parquet")
  }

  /** Compact a persisted near-dup index IN PLACE: drop the duplicate
    * fps/posting rows that at-least-once (replayed) appends accrete,
    * physically remove residual postings of tombstoned buckets (rows
    * appended before the bucket crossed the cap — serve-invisible via
    * the tombstone anti-join, but still scanned), and rewrite both
    * corpus-sized tables coalesced to `targetPartitions` files when
    * > 0 (append cadence otherwise accretes one file set per
    * micro-batch). Tombstones and meta are carried over unchanged — a
    * retired bucket stays retired (the flood that killed it is a
    * property of the corpus, not of file layout).
    *
    * The serve contract is EXACT: [[flagAgainstIndex]] against the
    * compacted index equals the uncompacted serve bit-for-bit (the
    * serve already ignores everything compaction removes — the d24
    * gate and spec pin it). Swap is [[graft.io.StagedSwap]]: live
    * tables renamed aside, rolled back on failure, staging kept for
    * recovery. Re-[[openMinHashIndex]] after a compact is NOT needed —
    * the knobs never change (unlike [[AnnIndex.compactIvfPq]], which
    * re-trains). */
  def compactMinHashIndex(spark: org.apache.spark.sql.SparkSession,
      root: String, targetPartitions: Int = 0): Unit = {
    // open() first: reading meta asserts the index is committed
    openMinHashIndex(spark, root)
    val tombs = readTombstones(spark, root)
    val deletes = readDeletes(spark, root, guard = false)
    def undeleted(df: DataFrame): DataFrame =
      deletes.fold(df)(del =>
        df.join(broadcast(del), Seq("doc_id"), "left_anti"))
    def sized(df: DataFrame): DataFrame =
      if (targetPartitions > 0) df.coalesce(targetPartitions) else df
    val staging = s"$root/.compact-${java.util.UUID.randomUUID()}"
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    try {
      sized(undeleted(spark.read.parquet(s"$root/fps.parquet"))
          .dropDuplicates("doc_id"))
        .write.parquet(s"$staging/fps.parquet")
      sized(undeleted(spark.read.parquet(s"$root/buckets.parquet")
          .join(broadcast(tombs), Seq("band", "band_hash"), "left_anti"))
          .distinct())
        .write.parquet(s"$staging/buckets.parquet")
    } catch { case e: Throwable =>
      fs.delete(new org.apache.hadoop.fs.Path(staging), true)
      throw e
    }
    graft.io.StagedSwap.swapIn(fs, root, staging,
      Seq("fps.parquet", "buckets.parquet"))
    // takedown markers are now physical — clear AFTER the swap (a crash
    // in between leaves markers for rows that no longer exist: the
    // serve anti-join is then a no-op, never wrong)
    fs.delete(new org.apache.hadoop.fs.Path(s"$root/deletes.parquet"), true)
  }

  /** Flag new documents that near-duplicate a persisted index: compute
    * the arrivals' band hashes with the pinned knobs, join the postings
    * on (band, band_hash) — a key-hash equi-join, both sides
    * distributed, uniform keys by construction (band hashes, the
    * [[keepHotBuckets]] argument) so AQE has no hot key to split —
    * then exact-verify each DISTINCT candidate (new, indexed) pair by
    * sorted-fingerprint merge against `fps.parquet` (read ONLY for
    * candidate rows — column-pruned, never corpus-wide materialized).
    * Per-arrival independence: a document's flags depend only on its
    * own shingles and the static index, so micro-batched serves union
    * to the batch answer (the st36 gate contract).
    *
    * Output: (doc_id, dup_of, jaccard) for every indexed doc whose
    * exact shingle jaccard with the arrival reaches the pinned
    * threshold; `doc_id == dup_of` pairs are dropped (re-serving an
    * already-indexed doc must not flag itself). Same recall contract
    * as [[minHashPairs]]: LSH candidates, exact verify — a qualifying
    * pair missed by every band is a recall miss the d23 oracle
    * surfaces as a row diff. */
  def flagAgainstIndex(spark: org.apache.spark.sql.SparkSession,
      root: String, newDocs: DataFrame, text: String,
      id: String): DataFrame =
    flagAgainstIndex(spark, root, openMinHashIndex(spark, root), newDocs,
      text, id)

  /** [[flagAgainstIndex]] with the knobs pre-[[openMinHashIndex]]ed —
    * zero per-call metadata jobs (the serve-loop shape). */
  def flagAgainstIndex(spark: org.apache.spark.sql.SparkSession,
      root: String, conf: MinHashConfig, newDocs: DataFrame, text: String,
      id: String): DataFrame = {
    val r = conf.rowsPerBand
    // One logical projection referenced by two branches — column
    // pruning hands each branch ONLY its term: the candidate branch
    // computes the minhash signature (fingerprints pruned away), the
    // verify branch the fingerprints (signature pruned away). Keeping
    // the fingerprint array OUT of the band explode matters: it would
    // otherwise ride every one of the `bands` rows per arrival through
    // the postings exchange — a bands× duplication of the largest
    // column for no use before the verify join.
    val arrivals = newDocs.where(length(col(text)) > 0)
      .select(col(id).as("__new_id"),
        GraftFunctions.minhashSig(lower(col(text)), conf.shingleSize,
          conf.numHashes).as("sig"),
        GraftFunctions.sortedGramHashes(
          shingleCol(col(text), conf.shingleSize)).as("__new_fps"))
    val newBands = arrivals.select(
      col("__new_id"),
      // fused band hashing — see minHashPairs; MUST match the persisted
      // postings' hashes, which BandHashes' bit-identity guarantees
      posexplode(GraftFunctions.bandHashes(col("sig"), conf.bands, r)))
      .withColumnRenamed("pos", "band")
      .withColumnRenamed("col", "band_hash")
    // tombstone anti-join (tiny, broadcast): postings of a bucket that
    // crossed the flood cap AFTER some of its rows were appended are
    // still on disk until the next compact — they must not generate
    // candidates (bounded serve cost is the cap's whole contract).
    // Delete markers likewise (takedowns, [[deleteFromMinHashIndex]]) —
    // only when any exist, so the no-deletions plan is unchanged.
    val postings0 = spark.read.parquet(s"$root/buckets.parquet")
      .join(broadcast(readTombstones(spark, root)),
        Seq("band", "band_hash"), "left_anti")
    val postings = readDeletes(spark, root).fold(postings0)(del =>
      postings0.join(broadcast(del), Seq("doc_id"), "left_anti"))
    val cand = newBands
      .join(postings, Seq("band", "band_hash"))
      .where(col("__new_id") =!= col("doc_id"))
      .select(col("__new_id"), col("doc_id").as("__idx_id"))
      .dropDuplicates("__new_id", "__idx_id")
    cand
      .join(arrivals.select(col("__new_id"), col("__new_fps")),
        Seq("__new_id"))
      .join(spark.read.parquet(s"$root/fps.parquet")
        .select(col("doc_id").as("__idx_id"), col("fps").as("__idx_fps")),
        Seq("__idx_id"))
      .select(col("__new_id"), col("__idx_id"),
        GraftFunctions.sortedLongIntersectCount(
          col("__new_fps"), col("__idx_fps")).cast("double").as("__inter"),
        size(col("__new_fps")).as("__na"), size(col("__idx_fps")).as("__nb"))
      .select(col("__new_id").as("doc_id"), col("__idx_id").as("dup_of"),
        (col("__inter") / (col("__na") + col("__nb") - col("__inter")))
          .as("jaccard"))
      .where(col("jaccard") >= conf.threshold)
      // flag-sized distinct: an at-least-once writer that re-appended a
      // doc id leaves duplicate fps rows, whose verify-join fanout would
      // otherwise emit each flag once per copy (identical values — the
      // distinct absorbs the duplication where it is cheap, the
      // decontam-index re-distinct discipline applied at the output)
      .dropDuplicates("doc_id", "dup_of")
  }

  /** Connected components of the near-dup pair graph by min-label
    * propagation: every node starts labeled with its own id; each round
    * every node takes the minimum label among itself and its neighbors;
    * convergence (no label changed) is reached within graph-diameter
    * rounds. Near-dup graphs are piles of small dense clusters, so the
    * diameter — and the round count — is small; `maxIter` bounds the
    * pathological long-chain case. For high-diameter graphs use
    * [[connectedComponentsStar]], which converges in O(log n)-ish rounds
    * regardless of diameter (it is also the default inside
    * [[dropFromPairsTransitive]]).
    *
    * Each round is one join + one aggregate (two shuffles on id-shaped
    * keys); `Scale.materialize` truncates the plan each round so iteration
    * N doesn't replan rounds 1..N-1 — the classic iterative-DataFrame
    * trap. Output: (id, component) for every id appearing in `pairs`,
    * component = min id reachable. */
  def connectedComponents(pairs: DataFrame, a: String = "id_a",
      b: String = "id_b", maxIter: Int = 20): DataFrame = {
    val edges = pairs.select(col(a).as("src"), col(b).as("dst"))
      .union(pairs.select(col(b).as("src"), col(a).as("dst")))
      .distinct()
      .persist()
    try {
      var labels = edges.select(col("src").as("id")).distinct()
        .withColumn("label", col("id"))
        .transform(Scale.materialize)
      var converged = false
      var i = 0
      while (!converged && i < maxIter) {
        val msgs = edges
          .join(labels.withColumnRenamed("id", "src"), Seq("src"))
          .select(col("dst").as("id"), col("label"))
        val next = labels.union(msgs)
          .groupBy(col("id")).agg(min(col("label")).as("label"))
          .transform(Scale.materialize)
        converged = next.as("n")
          .join(labels.select(col("id"), col("label").as("old")), Seq("id"))
          .where(col("label") =!= col("old"))
          .isEmpty
        labels = next
        i += 1
      }
      require(converged, s"connectedComponents: no fixpoint within $maxIter rounds")
      labels.select(col("id"), col("label").as("component"))
    } finally edges.unpersist()
  }

  /** Connected components by alternating LARGE-STAR / SMALL-STAR rounds
    * (Kiveris et al., "Connected Components in MapReduce and Beyond",
    * SoCC 2014): the production-scale algorithm whose round count is
    * O(log n)-ish in the component size, NOT the graph diameter — a
    * 10^6-node chain converges in ~20 rounds where min-label propagation
    * ([[connectedComponents]]) needs 10^6.
    *
    * Invariant: the edge set is kept oriented large→small and evolves
    * toward a star forest where every node points at its component
    * minimum. Each round:
    *  - large-star: for every node x (seen from both edge orientations),
    *    every STRICTLY LARGER neighbor y is re-pointed at
    *    m = min(Γ(x) ∪ x) — hooks whole subtrees under low ids;
    *  - small-star: for every node u over its SMALLER neighbors v,
    *    all of {u} ∪ Γ(v) re-point at min(Γ(u)) — flattens local chains.
    * Both steps preserve connectivity (each replaced edge stays in the
    * same component) and never create an edge outside the component, so
    * the fixed point is exactly the min-rooted star forest.
    *
    * Plan shape per round: each step is ONE count-window over a node key
    * (same hash partitioning as the shuffle it rides) + a narrow
    * projection — no join-back; `Scale.materialize` truncates lineage per
    * round. The convergence probe (set equality against the previous
    * round) is two id-keyed jobs on the star-forest-sized edge set.
    *
    * Output: (id, component) for every id appearing in `pairs`,
    * component = min id reachable — identical contract (and results) to
    * [[connectedComponents]]. */
  def connectedComponentsStar(pairs: DataFrame, a: String = "id_a",
      b: String = "id_b", maxIter: Int = 50): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
    val allIds = pairs.select(col(a).as("id"))
      .union(pairs.select(col(b).as("id")))
      .distinct()
      .transform(Scale.materialize)
    var edges = pairs
      .select(greatest(col(a), col(b)).as("u"), least(col(a), col(b)).as("v"))
      .where(col("u") =!= col("v"))
      .distinct()
      .transform(Scale.materialize)
    var converged = edges.isEmpty
    var i = 0
    while (!converged && i < maxIter) {
      // Large-star: x's neighborhood from both orientations; every
      // neighbor above x re-points at the neighborhood minimum.
      val nbrs = edges.select(col("u").as("x"), col("v").as("y"))
        .union(edges.select(col("v").as("x"), col("u").as("y")))
      val ls = nbrs
        .withColumn("m", least(min(col("y")).over(w.partitionBy("x")), col("x")))
        .where(col("y") > col("x"))
        .select(col("y").as("u"), col("m").as("v"))
        .distinct()
      // Small-star: u's smaller neighbors (all of them, in the oriented
      // set) plus u itself re-point at the minimum neighbor.
      val withM = ls.withColumn("m", min(col("v")).over(w.partitionBy("u")))
      val next = withM.select(col("v").as("nu"), col("m").as("nv"))
        .union(withM.select(col("u").as("nu"), col("m").as("nv")))
        .where(col("nu") =!= col("nv"))
        .select(col("nu").as("u"), col("nv").as("v"))
        .distinct()
        .transform(Scale.materialize)
      converged = next.count() == edges.count() && next.except(edges).isEmpty
      edges = next
      i += 1
    }
    require(converged, s"connectedComponentsStar: no fixpoint within $maxIter rounds")
    // Fixed point is a star forest: members point at the root; roots
    // (and nodes seen only in self-loop pairs) label themselves.
    val labels = edges.select(col("u").as("id"), col("v").as("component"))
      .union(edges.select(col("v").as("id"), col("v").as("component")))
      .distinct()
    allIds.join(labels, Seq("id"), "left")
      .select(col("id"), coalesce(col("component"), col("id")).as("component"))
  }

  /** Components of the pair graph with a BOUNDED driver fast path: a
    * verified near-dup pair relation is typically millions of times
    * smaller than its corpus, yet the large-star/small-star rounds
    * cost a fixed handful of Spark jobs + checkpoints per round —
    * measured 4.2 s for a 416-pair graph at sf0.1, pure scheduling.
    * Pair sets that fit `smallLimit` rows (LongType ids only) collect
    * to the driver and run union-find with min-id representatives —
    * the identical (id, component = min id) relation, in milliseconds,
    * and the downstream anti-join broadcasts it. Larger relations (or
    * non-long ids) take the distributed O(log n) rounds unchanged.
    * NOTE: runs an eager bounded collect at call time. */
  private[graft] def componentsFor(pairs: DataFrame, a: String = "id_a",
      b: String = "id_b", smallLimit: Int = 1 << 18): DataFrame = {
    val spark = pairs.sparkSession
    val longIds =
      pairs.schema(a).dataType == org.apache.spark.sql.types.LongType &&
      pairs.schema(b).dataType == org.apache.spark.sql.types.LongType
    if (!longIds) return connectedComponentsStar(pairs, a, b)
    val head = pairs.select(col(a), col(b)).limit(smallLimit + 1).collect()
    if (head.length > smallLimit) connectedComponentsStar(pairs, a, b)
    else {
      val parent = scala.collection.mutable.HashMap.empty[Long, Long]
      def find(x: Long): Long = {
        var r = x
        while (parent(r) != r) r = parent(r)
        var c = x
        while (parent(c) != r) { val n = parent(c); parent(c) = r; c = n }
        r
      }
      head.foreach { r =>
        val u = r.getLong(0); val v = r.getLong(1)
        parent.getOrElseUpdate(u, u)
        parent.getOrElseUpdate(v, v)
        val ru = find(u); val rv = find(v)
        // Attach the larger root under the smaller: every root stays
        // the minimum of its component, matching the star rounds.
        if (ru != rv) parent(math.max(ru, rv)) = math.min(ru, rv)
      }
      import spark.implicits._
      parent.keysIterator.map(x => (x, find(x))).toSeq
        .toDF("id", "component")
    }
  }

  /** Transitive dedup: collapse every connected component of the pair
    * graph to its minimum id (components via [[componentsFor]] —
    * diameter-safe distributed rounds, driver union-find when the pair
    * set is metadata-sized). Rows not appearing in any pair keep
    * themselves. */
  def dropFromPairsTransitive(df: DataFrame, id: String,
      pairs: DataFrame): DataFrame = {
    val drop = componentsFor(pairs)
      .where(col("id") =!= col("component"))
      .select(col("id").as(id))
    df.join(drop, Seq(id), "left_anti")
  }

  /** Transitive dedup keeping the BEST row per duplicate cluster — the
    * production form of [[dropFromPairsTransitive]]: min-id keep is
    * arbitrary, but a corpus pipeline wants the longest / highest-
    * quality / most-recent copy to survive (pass that as `score`; ties
    * break to the smallest id so the choice replays). Rows in no pair
    * keep themselves, untouched.
    *
    * Plan: components from the same large-star/small-star rounds, then
    * ONE keyed aggregate picks each component's champion via `max_by`
    * partial aggregation — one candidate per component per partition
    * crosses the shuffle (the [[latestByKey]] shape), never a
    * collected cluster. The final membership check is an id-keyed semi
    * join. Everything is linear in the pair set + corpus. */
  def dropFromPairsKeepBest(df: DataFrame, id: String,
      pairs: DataFrame, score: Column): DataFrame = {
    val comp = componentsFor(pairs)
      .select(col("id").as(id), col("component"))
    val member = df.join(comp, Seq(id))
    val champions = member
      .groupBy(col("component"))
      .agg(max_by(col(id), struct(score, col(id) * -1)).as(id))
      .select(col(id))
    val loners = df.join(comp.select(col(id)), Seq(id), "left_anti")
    loners.unionByName(df.join(champions, Seq(id), "left_semi"))
  }

  // ----------------------------------------------------------- simhash

  /** 64-bit SimHash over whitespace tokens: per-bit majority vote of the
    * token hashes, folded into one long (codegen'd SimHashSignature —
    * stays narrow AND inside whole-stage codegen). */
  private[ext] def simHashCol(text: Column): Column =
    GraftFunctions.simhashSig(lower(text))

  /** Near-duplicate pairs by SimHash Hamming distance <= maxDist (default
    * 3). LSH property (pigeonhole): distance <= d over 64 bits ⇒ at least
    * one of d+1 disjoint chunks matches exactly, so candidates come from a
    * chunk equi-join, not N². Chunk count derives from maxDist — a caller
    * asking for distance 6 gets 7 ~9-bit chunks, keeping recall exact
    * (the fixed 4x16 layout would silently miss pairs past distance 3). */
  def simHashPairs(df: DataFrame, text: String, id: String,
      maxDist: Int = 3, maxBucketSize: Int = 4096): DataFrame = {
    val sigs = df.select(col(id).as("doc_id"), simHashCol(col(text)).as("sig"))
    hammingPairs64(sigs, maxDist, maxBucketSize)
  }

  /** Near-duplicate pairs over ANY 64-bit signature relation
    * (`doc_id`, `sig`) by Hamming distance <= maxDist — the pigeonhole
    * chunk machinery behind [[simHashPairs]], reused as-is by the
    * perceptual image near-dup path ([[Multimodal.imageNearDup]]): the
    * signature family changes, the candidate-generation plan does not.
    *
    * Two plans by radius (recall EXACT in both — the ExtSpec brute-force
    * check runs one radius of each):
    *
    *  - maxDist <= 3: the simple pigeonhole (d+1 disjoint chunks, one
    *    must match exactly). Chunks stay >= 16 bits wide, so bucket
    *    depth ~ N/2^16 and the in-bucket pair expansion is effectively
    *    linear.
    *  - 4 <= maxDist <= 8: the d+1-chunk layout would shrink chunks to
    *    12..7 bits (<= 4096 distinct values), and bucket depth — hence
    *    candidate PAIRS — grows as (N/2^w)^2 per value: the r16 10x
    *    probe read m5 (radius 8, 7-bit chunks) at 16x for 10x data.
    *    The generalized pigeonhole fixes the exponent: 3 chunks of
    *    21/21/22 bits, where distance <= d guarantees SOME chunk
    *    differs by <= e = ceil((d+1)/3)-1 <= 2 bits — and two values
    *    within 2 bits share a MIDPOINT within 1 bit of each
    *    (2 = 1+1, 1 = 1+0, 0 = 0+0), so EVERY row emits the <= 1-bit
    *    ball of each chunk value (22/23 masks per chunk) and near
    *    pairs meet in a common-variant bucket keyed by a 21-bit
    *    value. The quadratic term persists (random collisions within
    *    chunk distance 2: ~232/2^21 per chunk pair) but its
    *    coefficient drops ~2^14 vs the 7-bit layout; the price is a
    *    ~7x larger — LINEAR — emit/shuffle term (66 rows/signature vs
    *    9), the right trade everywhere past toy corpora. Past ~10^8
    *    signatures even that collision floor re-surfaces: the knob at
    *    that scale is a LONGER signature (128/256-bit), not a
    *    different join.
    *  - maxDist 9..16: the SAME generalized plan with the ball radius
    *    derived from the pigeonhole bound (r16 verdict item 8 — these
    *    radii used to fall back to the simple layout, whose 4..6-bit
    *    chunks are quadratic past toy corpora): some chunk differs by
    *    <= t = floor(d/3) <= 5, caught by symmetric ball(r) expansion
    *    with r = ceil(t/2) (two values within 2r share a midpoint
    *    within r). Arms grow to 232 masks/chunk at r = 2 (d <= 14)
    *    and 1562 at r = 3 (d = 15..16), and the random-collision
    *    coefficient grows with |ball(2r)|/2^21 (~0.4% at 2r = 4,
    *    ~3.9% at 2r = 6) — the linear emit term dominates to ~10^6
    *    signatures, past which the honest knob is a LONGER signature.
    *    Radii >= 9 on 64-bit signatures remain near-dup-semantics
    *    smell (the doc'd caveat stands); they just no longer dispatch
    *    to a quadratic plan. */
  private[ext] def hammingPairs64(sigs: DataFrame,
      maxDist: Int, maxBucketSize: Int): DataFrame = {
    require(maxDist >= 0 && maxDist <= 16,
      s"maxDist=$maxDist: past 16 of 64 bits, 'near'-duplicate has no " +
        "meaning and no banding scheme beats a longer signature")
    if (maxDist >= 4) hammingPairsExpanded(sigs, maxDist, maxBucketSize)
    else hammingPairsNarrow(sigs, maxDist, maxBucketSize)
  }

  /** Generalized-pigeonhole plan (see [[hammingPairs64]] doc): 3 wide
    * chunks, SYMMETRIC <= r-bit variant enumeration (r = 1 for radii
    * 4..8, 2 for 9..14, 3 for 15..16) via ONE explode of a literal
    * (chunk, mask) array — the signature projection is referenced once
    * (the m5 PlanSpec pin), everything before the bucket window is
    * codegen'd arithmetic, and the in-bucket pairing (all pairs,
    * canonicalized, verified, distinct'd) is the same machinery as the
    * narrow plan — a pair within chunk distance 2r meets in its
    * midpoint's bucket (possibly in several buckets; the final
    * distinct collapses them, exactly as chunk multi-match does in
    * the narrow plan). */
  private def hammingPairsExpanded(sigs: DataFrame,
      maxDist: Int, maxBucketSize: Int): DataFrame = {
    val m = 3
    val bounds = (0 to m).map(i => i * 64 / m)
    def width(i: Int) = bounds(i + 1) - bounds(i)
    // pigeonhole: some chunk differs by <= t; symmetric ball(r)
    // expansion meets in a midpoint bucket whenever 2r >= t
    val t = maxDist / 3
    val r = (t + 1) / 2
    // ball(r) masks per chunk: every mask of popcount <= r (identity +
    // each 1..r-bit flip set); r = 1 reproduces the original 22/23-arm
    // layout exactly
    def ballMasks(w: Int): Seq[Long] =
      (0 to r).flatMap(k => (0 until w).combinations(k)
        .map(_.foldLeft(0L)((acc, b) => acc | (1L << b))).toSeq)
    val arms: Seq[(Int, Long)] = for {
      i <- 0 until m
      mk <- ballMasks(width(i))
    } yield (i, mk)
    def cv(i: Int) = shiftrightunsigned(col("sig"), bounds(i))
      .bitwiseAND(lit((1L << width(i)) - 1))
    val cvExpr = (1 until m).foldLeft(when(col("chunk") === 0, cv(0))) {
      (acc, i) => acc.when(col("chunk") === i, cv(i))
    }
    val rows = sigs
      .select(col("doc_id"), col("sig"), explode(typedLit(arms)).as("cm"))
      .select(col("doc_id"), col("sig"),
        col("cm._1").as("chunk"), col("cm._2").as("mk"))
      .select(col("doc_id"), col("sig"), col("chunk"),
        cvExpr.bitwiseXOR(col("mk")).as("chunk_val"))
    // two arms of one doc can share a midpoint bucket: drop self-pairs
    hammingVerify(inBucketPairs(
        keepHotBuckets(rows, Seq("chunk", "chunk_val"), maxBucketSize),
        Seq("chunk", "chunk_val"), Seq("doc_id", "sig")), maxDist)
      .where(col("id_a") =!= col("id_b"))
  }

  /** Simple-pigeonhole plan (see [[hammingPairs64]] doc). */
  private def hammingPairsNarrow(sigs: DataFrame,
      maxDist: Int, maxBucketSize: Int): DataFrame = {
    val k = maxDist + 1
    val bounds = (0 to k).map(i => i * 64 / k) // chunk i = bits [b(i), b(i+1))
    val chunkExprs = (0 until k).map { i =>
      val lo = bounds(i)
      val w = bounds(i + 1) - lo
      val mask = if (w >= 64) -1L else (1L << w) - 1
      struct(lit(i).as("chunk"),
        shiftrightunsigned(col("sig"), lo).bitwiseAND(lit(mask)).as("chunk_val"))
    }
    val chunks = sigs.select(col("doc_id"), col("sig"), inline(array(chunkExprs: _*)))
    // The signature rides in the bucket element, so the Hamming verify
    // needs no join back.
    hammingVerify(inBucketPairs(
        keepHotBuckets(chunks, Seq("chunk", "chunk_val"), maxBucketSize),
        Seq("chunk", "chunk_val"), Seq("doc_id", "sig")), maxDist)
  }

  /** Both Hamming plans' verify over [[inBucketPairs]] output: distance
    * of the two signatures, a pair once however many buckets it met in. */
  private def hammingVerify(pairs: DataFrame, maxDist: Int): DataFrame =
    pairs
      .select(col("doc_id_a").as("id_a"), col("doc_id_b").as("id_b"),
        bit_count(col("sig_a").bitwiseXOR(col("sig_b"))).as("hamming"))
      .where(col("hamming") <= maxDist)
      .distinct()

  // ----------------------------------------- content-defined chunking

  /** Chunk-level overlap pairs via content-defined chunking
    * (functions.CdcChunks — FastCDC gear boundaries, so identical
    * segments at DIFFERENT offsets in different payloads still produce
    * identical interior chunks): the BINARY-level member of the dedup
    * family, for blob corpora where text shingling does not apply
    * (media payloads, crawl snapshots, container layers).
    *
    * Plan: one codegen'd chunking pass, distinct (doc, fp) set
    * semantics, then the standard inverted-index in-bucket expansion
    * with the hot cap every LSH path here uses — a chunk held by more
    * than `maxDocsPerChunk` payloads (the all-zeros block, a shared
    * header) is dropped from the index rather than contributing
    * O(n²) pairs. Emits (id_a, id_b, shared_chunks, shared_bytes)
    * with id_a < id_b, `minShared` filtering one-chunk noise.
    */
  def chunkPairs(df: DataFrame, bytesCol: String, id: String,
      avgBits: Int = 6, minSize: Int = 16, maxSize: Int = 256,
      maxDocsPerChunk: Int = 4096, minShared: Int = 2): DataFrame = {
    val chunks = df.select(col(id).as("doc_id"),
        explode(GraftFunctions.cdcChunks(col(bytesCol), avgBits, minSize,
          maxSize)).as("c"))
      .select(col("doc_id"), col("c.fp").as("fp"), col("c.len").as("len"))
      .groupBy(col("doc_id"), col("fp"))
      .agg(max(col("len")).as("len")) // set semantics per (doc, chunk)
    inBucketPairs(keepHotBuckets(chunks, Seq("fp"), maxDocsPerChunk),
        Seq("fp"), Seq("doc_id", "len"))
      .groupBy(col("doc_id_a").as("id_a"), col("doc_id_b").as("id_b"))
      .agg(count(lit(1)).as("shared_chunks"),
        sum(col("len_a")).as("shared_bytes"))
      .where(col("shared_chunks") >= minShared)
  }

  // ------------------------------------------------------ ngram jaccard

  /** Token n-gram Jaccard similarity join: pairs with jaccard >= threshold
    * found via an inverted index on the gram. Set sizes ride along so
    * Jaccard needs no second join.
    *
    * Grams held by more than `maxDocsPerGram` documents are dropped from
    * the index (via the bounded heavy-gram table — see
    * [[gramPairSharedCounts]]): a
    * corpus-common trigram with df = 10^6 would otherwise contribute
    * ~10^12 candidate pairs on its own — the quadratic blowup that kills
    * this plan at scale. Effect on results: exact below the cap; above
    * it, a hot gram stops counting toward `shared`, so pairs whose
    * overlap is mostly corpus-stopword grams score lower and may fall
    * under the threshold (a recall trade documented here, acceptable
    * because grams that common carry no near-dup signal). Singleton
    * grams are pruned by the same window — they can never produce a
    * pair. */
  /** Bounded heavy-gram df table over a (doc_id, grams, n_grams) frame:
    * top-`hotCap` grams by document frequency, (df desc, gram asc)
    * tiebreak pinned. Grams are per-doc-distinct, so count = df. The
    * top-K is partial-aggregated and partially ordered — the exchange
    * carries ≤ hotCap rows per partition, never the gram relation —
    * and ≤ hotCap rows of metadata reach the driver (the
    * centroid/codebook pattern). Shared by d16's rarest-first order
    * and d4/d18's cap decision. NOTE: runs an eager job at
    * DataFrame-construction time. */
  private def boundedGramDf(grams: DataFrame, hotCap: Int): Array[(String, Long)] =
    grams.select(explode(col("grams")).as("gram"))
      .groupBy(col("gram")).agg(count(lit(1)).as("df"))
      .orderBy(desc("df"), asc("gram")).limit(hotCap)
      .collect().map(r => (r.getString(0), r.getLong(1)))

  /** [[boundedGramDf]] over the HASHED gram frame (`ghashes`
    * ARRAY<BIGINT>) — the d4/d18 path never materializes gram strings
    * at all, so its bounded heavy-gram table is (hash, df). The df-cap
    * decision is a membership test; which key representation it uses
    * is irrelevant to completeness (equal-df ties at the table
    * boundary order differently than the string table, but the
    * `complete` check only reads the minimum df). */
  private def boundedHashDf(grams: DataFrame, hotCap: Int): Array[(Long, Long)] =
    grams.select(explode(col("ghashes")).as("gram"))
      .groupBy(col("gram")).agg(count(lit(1)).as("df"))
      .orderBy(desc("df"), asc("gram")).limit(hotCap)
      .collect().map(r => (r.getLong(0), r.getLong(1)))

  /** Distinct token n-grams of the lowercased text. The token array is
    * bound once per row as the outer lambda variable — referencing it
    * inside the index lambda would re-run split+lower+filter once per
    * gram (cf. shingleCol). */
  private[graft] def tokenGramsCol(text: Column, n: Int): Column =
    // Codegen'd TokenNGrams, semantics identical to the interpreted
    // HOF composite it replaced (see the expression's scaladoc): one
    // JVM pass per doc instead of a per-gram interpreted lambda tree,
    // and plans that reference the gram frame several times (d16) stop
    // paying a corpus pass per reference.
    GraftFunctions.tokenNGrams(text, n)

  /** Shared d4/d18 candidate machinery: undirected pairs (id_a < id_b)
    * with their exact shared-gram counts and both set sizes, from an
    * inverted index on the token n-gram with the df CAP decided by the
    * d16-style BOUNDED heavy-gram table instead of a per-gram
    * aggregate+join:
    *
    *   - one partial-aggregated top-`hotCap` (gram, df) pass (the
    *     exchange carries ≤ hotCap rows per partition, not the gram
    *     relation) collects the only grams the cap decision can ever
    *     drop — "is this gram over the cap" is a MEMBERSHIP test, and
    *     the bounded table answers it exactly whenever its minimum df
    *     ≤ cap (then every gram outside the table is under the cap);
    *   - the drop is a map-side codegen'd InSet filter on the exploded
    *     frame — no gram-keyed count shuffle, no join back;
    *   - singleton pruning (a gram in one doc can never pair) folds
    *     into the collect_list aggregate as a post-agg size filter, so
    *     the whole candidate build pays ONE corpus-sized exchange.
    *
    * When the corpus is so flood-ridden that > hotCap grams exceed the
    * cap (the table cannot prove completeness), falls back to the
    * exact skew-safe aggregate+join — correctness never depends on the
    * bound. */
  private def gramPairSharedCounts(grams: DataFrame,
      maxDocsPerGram: Int, hotCap: Int): DataFrame = {
    // The gram frame arrives HASHED (`ghashes` — TokenNGramHashes, r14:
    // no per-gram string assembly anywhere in the path, the term the
    // x300 decontam probe measured dominating gram pipelines), and the
    // corpus-sized exchange carries the 8-byte keys: shared counts come
    // from bucket CO-OCCURRENCE (key identity), so the hash is
    // sufficient — the d16/byFingerprint injective-or-loudly-wrong
    // contract (a 64-bit collision between two grams of the same
    // candidate pair would inflate `shared` and hash-mismatch the
    // gate, not silently pass).
    val inv = grams.select(col("doc_id"), col("n_grams"),
      explode(col("ghashes")).as("gram"))
    val hot = boundedHashDf(grams, hotCap)
    val complete = hot.length < hotCap || hot.last._2 <= maxDocsPerGram
    val pruned =
      if (!complete) keepHotBucketsSkewSafe(inv, Seq("gram"), maxDocsPerGram)
      else {
        val overCap = hot.filter(_._2 > maxDocsPerGram).map(_._1)
        if (overCap.isEmpty) inv
        else inv.where(!col("gram").isInCollection(overCap))
      }
    // Singleton buckets (kept when the cap decision needed no count)
    // expand to zero pairs.
    inBucketPairs(pruned, Seq("gram"), Seq("doc_id", "n_grams"))
      .groupBy(col("doc_id_a").as("id_a"), col("doc_id_b").as("id_b"),
        col("n_grams_a").as("na"), col("n_grams_b").as("nb"))
      .agg(count(lit(1)).as("shared"))
  }

  def ngramJaccardPairs(df: DataFrame, text: String, id: String,
      n: Int = 3, threshold: Double = 0.5,
      maxDocsPerGram: Int = 4096, hotCap: Int = 65536): DataFrame = {
    val grams = df.select(col(id).as("doc_id"),
        GraftFunctions.tokenNGramHashes(col(text), n).as("ghashes"))
      .where(size(col("ghashes")) > 0)
      .withColumn("n_grams", size(col("ghashes")))
    gramPairSharedCounts(grams, maxDocsPerGram, hotCap)
      .withColumn("shared", col("shared").cast(DoubleType))
      .withColumn("jaccard", col("shared") / (col("na") + col("nb") - col("shared")))
      .where(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** Directed CONTAINMENT pairs — the asymmetric near-dup relation
    * Jaccard misses: C(A→B) = |grams(A) ∩ grams(B)| / |grams(A)|. A
    * short document quoted wholesale inside a long one scores ~1.0 here
    * while its Jaccard is tiny (the denominators differ), so this is
    * the quote/subset detector that complements [[ngramJaccardPairs]];
    * [[graft.ext.SubstringDedup]] finds the exact spans, this finds the
    * RELATION cheaply at corpus scale. Emits (id_a, id_b, containment)
    * with id_a the CONTAINED side, both directions evaluated per
    * candidate pair, threshold in integer percent (cross-multiplied —
    * no float compare).
    *
    * Plan: identical to the d4 inverted-index path (bounded hot-gram
    * table for the df cap, ONE corpus-sized gram exchange, in-bucket
    * expansion — see [[gramPairSharedCounts]]) — only the final
    * projection differs: each undirected candidate splits into its two
    * directed scores. Same quadratic-blowup guard, same exactness
    * below the cap. */
  def containmentPairs(df: DataFrame, text: String, id: String,
      n: Int = 3, thresholdPct: Int = 80,
      maxDocsPerGram: Int = 4096, hotCap: Int = 65536): DataFrame = {
    require(thresholdPct >= 1 && thresholdPct <= 100,
      s"thresholdPct out of range: $thresholdPct")
    val grams = df.select(col(id).as("doc_id"),
        GraftFunctions.tokenNGramHashes(col(text), n).as("ghashes"))
      .where(size(col("ghashes")) > 0)
      .withColumn("n_grams", size(col("ghashes")))
    val undirected = gramPairSharedCounts(grams, maxDocsPerGram, hotCap)
    undirected
      .select(col("id_a"), col("id_b"), col("na").as("n_contained"),
        col("shared"))
      .unionAll(undirected.select(col("id_b").as("id_a"),
        col("id_a").as("id_b"), col("nb").as("n_contained"), col("shared")))
      .where(col("shared") * 100 >= lit(thresholdPct) * col("n_contained"))
      .select(col("id_a"), col("id_b"),
        (col("shared").cast(DoubleType) / col("n_contained"))
          .as("containment"))
  }

  /** Prefix-filtered token n-gram Jaccard join (PPJoin family, Xiao et
    * al. WWW'08): EXACT pairs with jaccard >= thresholdPct/100, but the
    * inverted index holds only each document's PREFIX — its
    * (ng − ⌈t·ng⌉ + 1) rarest grams under a global (df, gram) order —
    * instead of all ng grams. The prefix theorem guarantees any pair
    * meeting the threshold shares at least one prefix gram, so unlike
    * [[ngramJaccardPairs]]' df-cap this loses NO recall; corpus-common
    * grams sort LAST and fall outside almost every prefix, which is
    * exactly where the classic plan's quadratic hot buckets live. At
    * t = 0.8 the index (and the candidate surface that drives the
    * join cost) shrinks ~5x; stopword-gram floods cost nothing.
    *
    * Plan: the global gram order comes from a BOUNDED heavy-gram table
    * — one partial-aggregated top-`hotCap` df aggregation, collected
    * driver-side (≤ hotCap rows of metadata, the centroid/codebook
    * pattern) and shipped into the codegen'd
    * [[GraftFunctions.rarestFirstSort]] projection. The prefix theorem
    * needs only a CONSISTENT total order shared by all docs, and by
    * Zipf the candidate surface is governed by where the heavy grams
    * sort (last) — which the table captures exactly; the rare tail
    * orders among itself by bytes. This removes BOTH corpus-sized
    * shuffles the exact-df formulation pays (the df join against the
    * exploded frame and the doc-keyed regroup): per-doc ordering and
    * the prefix slice are narrow projections straight off the gram
    * scan, and it is skew-safe by construction — no per-gram row
    * co-location anywhere (the count aggregate is map-side combined;
    * the bucket filter uses the aggregate+join shape of
    * keepHotBucketsSkewSafe). Then in-bucket candidate expansion over
    * the exploded prefix (no self-join), and the exact verify joins
    * the candidate pairs back against the (doc, grams) frame —
    * candidates only; the corpus never carries an exploded gram column
    * into a join. The threshold test is cross-multiplied integer
    * arithmetic; the reported jaccard is the exact ratio.
    *
    * `maxDocsPerGram` > 0 additionally caps candidate buckets (belt and
    * braces for adversarial corpora at low thresholds; unlike the d4
    * cap it only ever drops CANDIDATES that other prefix grams usually
    * re-find). 0 = exact, the default.
    */
  def prefixJaccardPairs(df: DataFrame, text: String, id: String,
      n: Int = 3, thresholdPct: Int = 50,
      maxDocsPerGram: Int = 0, hotCap: Int = 65536): DataFrame = {
    require(thresholdPct >= 1 && thresholdPct <= 100,
      s"thresholdPct out of range: $thresholdPct")
    require(hotCap >= 1, s"hotCap out of range: $hotCap")
    // The (doc_id, grams, ng) frame is read by FOUR subtrees — the
    // heavy-gram aggregate, the prefix projection, and both verify
    // sides — and gram derivation is the operator's single largest
    // term (round-7 measurement: ~45% of wall). Materialize it ONCE so
    // the corpus pays one gram pass instead of four.
    // Scale.fanOut (the r17 d13 fix, §2.3): gram derivation, the
    // rarest-first sort and the fingerprint sort are CPU-bound narrow
    // passes, and the gate corpus arrives as 1-2 byte-sized splits —
    // floor the checkpoint's parallelism at the core count so every
    // downstream narrow pass runs wide (no-op once the scan has >=
    // cores splits).
    val grams = Scale.materialize(Scale.fanOut(
        df.select(col(id).as("doc_id"), col(text)))
      .select(col("doc_id"), tokenGramsCol(col(text), n).as("grams"))
      .where(size(col("grams")) > 0)
      .withColumn("ng", size(col("grams"))))
    // Bounded heavy-gram table: per-doc-distinct grams, so count = df.
    // Broadcast, not an expression payload: a 65536-entry table baked
    // into the expression rode in EVERY task binary (~1.2 MB, ~0.1 s
    // deserialization per task on every d16 stage — r18 profile).
    val hot = df.sparkSession.sparkContext.broadcast(
      boundedGramDf(grams, hotCap))
    // Rarest-first global order + ⌈t·ng⌉ prefix, all narrow.
    val ordered = grams
      .withColumn("gsorted",
        GraftFunctions.rarestFirstSort(col("grams"), hot))
      .withColumn("plen",
        col("ng") - expr(s"(($thresholdPct * ng + 99) div 100)") + 1)
    val prefix = ordered
      .select(col("doc_id"),
        explode(slice(col("gsorted"), lit(1), col("plen"))).as("gram"))
    val cap = if (maxDocsPerGram > 0) maxDocsPerGram else Int.MaxValue
    // Wide expansion only in the AQE-collapse regime, gated on the
    // MEASURED gram-checkpoint size (the kept prefix postings are
    // strictly smaller): when the postings shuffle is small enough
    // that AQE's minPartitionSize floor would run the pair explosion
    // on 1-2 of the cluster's cores, pre-partition + cut them so the
    // expansion reads a pre-hashed LogicalRDD instead (bucketPairs
    // expandWide doc). A corpus-scale run (grams ≫ the floor budget)
    // keeps the plain path — no extra materialization.
    val sess = df.sparkSession
    val collapseBudget =
      sess.sparkContext.defaultParallelism.toLong * 4L *
        sess.sessionState.conf.getConf(org.apache.spark.sql.internal.SQLConf
          .COALESCE_PARTITIONS_MIN_PARTITION_SIZE)
    val expandWide =
      grams.queryExecution.optimizedPlan.stats.sizeInBytes <= collapseBudget
    val cand0 = bucketPairs(prefix, Seq("gram"), "doc_id", cap,
      skewSafe = true, expandWide = expandWide)
    // Same regime, same fix for the VERIFY input: the deduped candidate
    // shuffle is a few MB however many pairs it holds, so AQE's floor
    // hands the merge-intersect verify (the operator's dominant term)
    // 2-3 of the cluster's cores. Checkpoint it pre-widened; the plain
    // path at scale is untouched. Hash-keyed on id_a (NOT round-robin:
    // keyless repartition pays a per-partition sort for determinism),
    // which also pre-aligns the first verify join's probe side.
    val cand =
      if (!expandWide) cand0
      else Scale.materialize(cand0.repartition(math.max(
        sess.sparkContext.defaultParallelism,
        sess.sessionState.conf.numShufflePartitions), col("id_a")))
    // Verify with the codegen'd sorted-merge intersect, NOT
    // array_intersect: a low threshold makes the prefix filter weak
    // (plen ≈ ng/2 at t=0.5), so candidates outnumber surviving pairs
    // ~1000:1 on template-heavy corpora and the per-pair hash set
    // array_intersect builds dominated the whole operator (measured 2.4s
    // of d16's 3.9s warm time at sf0.1). sort_array is paid once per
    // DOC side; the merge scan is allocation-free per pair.
    // The verify sides carry SORTED 8-byte gram fingerprints, not gram
    // text: the two candidate joins shuffle ~8 bytes per gram and the
    // per-pair merge compares longs (SortedXxhash64Array /
    // SortedLongIntersectCount — byFingerprint's injective-or-loudly-
    // wrong contract; a 64-bit collision between two grams of the same
    // candidate pair would hash-mismatch the gate, not silently pass).
    val sortedGrams = grams
      .select(col("doc_id"),
        GraftFunctions.sortedGramHashes(col("grams")).as("grams"),
        col("ng"))
    cand
      .join(sortedGrams.select(col("doc_id").as("id_a"), col("grams").as("ga"),
        col("ng").as("na")), "id_a")
      .join(sortedGrams.select(col("doc_id").as("id_b"), col("grams").as("gb"),
        col("ng").as("nb")), "id_b")
      // PPJoin LENGTH filter ahead of the merge intersect: jaccard >= t
      // forces 100·min(na, nb) >= t·max(na, nb) (shared <= min and must
      // cover t of the union), so size-mismatched candidates skip the
      // per-pair gram scan entirely — zero recall loss, ~24% of the
      // gate corpus' candidates (412k -> 312k measured at sf0.1) never
      // reach the operator's dominant term.
      .where(least(col("na"), col("nb")) * 100 >=
        greatest(col("na"), col("nb")) * thresholdPct)
      .withColumn("shared",
        GraftFunctions.sortedLongIntersectCount(col("ga"), col("gb")))
      .where(col("shared") * 100 >=
        lit(thresholdPct) * (col("na") + col("nb") - col("shared")))
      .select(col("id_a"), col("id_b"),
        (col("shared").cast(DoubleType) /
          (col("na") + col("nb") - col("shared"))).as("jaccard"))
  }

  // ------------------------------------------ semantic (cluster) dedup

  /** Cluster assignment for semantic dedup: each vector goes to the
    * nearest (max cosine, centroid-id tiebreak) of `nlist` centroids
    * drawn as a deterministic hash-ordered sample of the corpus — the
    * same ANSI-replayable multiplicative-hash key as
    * [[Similarity.ivfTopK]], so an independent engine can replay the
    * whole assignment (the d9 gate oracle does; it replays
    * refineIters = 0). `refineIters` Lloyd rounds
    * ([[Similarity.refineCentroids]]) tighten the clusters — fewer
    * boundary-straddling near-dup pairs missed per nlist. Output:
    * (cid, cluster_id, cvec). One broadcast of the centroid table, one
    * narrow pass over the corpus, one aggregation. */
  def clusterAssign(df: DataFrame, vec: String, id: String,
      nlist: Int, refineIters: Int = 0): DataFrame = {
    val c = df.select(col(id).as("cid"), col(vec).as("cvec"))
    val sampled = c
      .orderBy(pmod(col("cid") * lit(2654435761L), lit(2147483647L)), col("cid"))
      .limit(nlist)
      .select(col("cid").as("centroid_id"), col("cvec").as("centroid_vec"))
    val centroids =
      if (refineIters > 0) Similarity.refineCentroids(c, sampled, refineIters)
      else sampled
    c.crossJoin(broadcast(centroids))
      .select(col("cid"), col("cvec"), col("centroid_id"),
        GraftFunctions.cosine(col("cvec"), col("centroid_vec")).as("csim"))
      .groupBy(col("cid"))
      .agg(
        max_by(col("centroid_id"), struct(col("csim"), -col("centroid_id")))
          .as("cluster_id"),
        first(col("cvec")).as("cvec"))
  }

  /** SemDedup-style semantic dedup: cluster the embedding space, compare
    * pairs only WITHIN a cluster, and greedily drop every vector that
    * near-duplicates (cosine >= threshold) a lower id in its cluster.
    * Versus [[embeddingPairs]] (hyperplane LSH), the cluster route
    * matches the published SemDedup recipe and gives tunable bucket
    * sizes: pick `nlist ≈ N / targetClusterSize` so the in-cluster pair
    * expansion stays ~targetClusterSize² per cluster. Recall is scoped
    * to clusters by design — near-dups straddling a cluster boundary are
    * missed (the published trade; raise nlist recall via LSH instead).
    * Clusters above `maxClusterSize` are skipped like every other capped
    * bucket here. Output: kept (cid, cluster_id) rows. */
  def semDedup(df: DataFrame, vec: String, id: String, nlist: Int,
      threshold: Double = 0.95, maxClusterSize: Int = 4096,
      refineIters: Int = 0): DataFrame = {
    val assigned = clusterAssign(df, vec, id, nlist, refineIters)
    val pairs = inBucketPairs(
        keepHotBuckets(assigned, Seq("cluster_id"), maxClusterSize),
        Seq("cluster_id"), Seq("cid", "cvec"))
      .select(col("cid_b").as("id_b"),
        GraftFunctions.cosine(col("cvec_a"), col("cvec_b")).as("cosine"))
      .where(col("cosine") >= threshold)
    assigned
      .join(pairs.select(col("id_b").as("cid")).distinct(), Seq("cid"), "left_anti")
      .select(col("cid"), col("cluster_id"))
  }

  // ----------------------------------------------- embedding near-dup

  /** Deterministic random hyperplanes (seeded; no runtime randomness).
    * Public so oracle builders can embed the exact plane constants. */
  def planes(dim: Int, nPlanes: Int, seed: Long = 42L): Array[Array[Double]] = {
    val rnd = new scala.util.Random(seed)
    Array.fill(nPlanes)(Array.fill(dim)(rnd.nextGaussian()))
  }

  /** Sign-bit signature of an ARRAY<FLOAT> against literal hyperplanes,
    * as an array of `bands` ints (8 planes per band). Cosine-similar
    * vectors agree on most sign bits, so near-dups collide in some band.
    * Codegen'd single pass (HyperplaneSig); the composite
    * aggregate(zip_with(...)) form pays bands*8*dim interpreted lambda
    * evaluations per row. */
  private def bandSigCol(vec: Column, dim: Int, bands: Int, seed: Long): Column =
    GraftFunctions.hyperplaneSig(vec, planes(dim, bands * 8, seed), bands)

  /** Near-duplicate embedding pairs (cosine >= threshold), LSH-bucketed:
    * one shuffle on (band, 8-bit signature), verify with FloatCosine. */
  def embeddingPairs(df: DataFrame, vec: String, id: String, dim: Int,
      threshold: Double = 0.95, bands: Int = 8, seed: Long = 42L,
      maxBucketSize: Int = 4096): DataFrame = {
    val sigs = df.select(col(id).as("vid"), col(vec).as("v"))
      .withColumn("bands", bandSigCol(col("v"), dim, bands, seed))
    val buckets = sigs.select(col("vid"), col("v"), posexplode(col("bands")))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "sig")
    // The vectors ride in the bucket element, so the cosine verify needs
    // no join.
    inBucketPairs(keepHotBuckets(buckets, Seq("band", "sig"), maxBucketSize),
        Seq("band", "sig"), Seq("vid", "v"))
      .select(col("vid_a").as("id_a"), col("vid_b").as("id_b"),
        col("v_a").as("va"), col("v_b").as("vb"))
      .distinct()
      .withColumn("cosine", GraftFunctions.cosine(col("va"), col("vb")))
      .where(col("cosine") >= threshold)
      .select(col("id_a"), col("id_b"), col("cosine"))
  }
}
