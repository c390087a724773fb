package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Sequence packing for LLM training: lay every document end-to-end in a
  * deterministic global order and cut the concatenated token stream every
  * `seqLen` tokens (the standard concat-and-chunk layout). The output
  * maps each document to its global token offset and the range of
  * training sequences it lands in — the bookkeeping a downstream
  * tokenizer shard needs to emit its sequences independently.
  *
  * The core is a GLOBAL prefix sum over token counts. The naive form —
  * `sum().over(Window.orderBy(id))` with no partition key — collapses
  * the whole corpus into ONE window task, the textbook scale-killer, so
  * this implements the classic two-phase distributed prefix sum instead:
  *
  *  1. range-repartition + sort by `id` (Spark's orderBy machinery — a
  *     real distributed sort);
  *  2. per-partition token totals to the driver (one row PER PARTITION —
  *     metadata-sized, like a range sampler, not a data collect);
  *  3. each partition's base offset (the exclusive prefix over partition
  *     totals) rejoins via a literal map keyed by partition id, and a
  *     per-partition window finishes the sum locally.
  *
  * Offsets depend only on the global (id, tokens) order, which is total
  * for unique ids — the partition layout cannot change the answer, and
  * the whole computation is replayable as a single-node window sum (the
  * pk1 gate oracle).
  */
object Packing {

  /** Per-document packing positions.
    * Output: (id, n_tokens, start_offset, seq_first, seq_last) — a doc
    * spans sequences seq_first..seq_last (inclusive); docs straddle cuts
    * by design in concat-and-chunk. Zero-token documents are dropped
    * (they occupy no stream positions). */
  def packConcat(df: DataFrame, id: String, tokenCount: Column,
      seqLen: Int, numPartitions: Int = 0): DataFrame = {
    require(seqLen > 0, s"seqLen=$seqLen")
    withOffsets(df, id, tokenCount, numPartitions) { counted =>
      counted.select(col(id), col("n_tokens"),
        (col("end_offset") - col("n_tokens")).as("start_offset"),
        floor((col("end_offset") - col("n_tokens")) / seqLen).as("seq_first"),
        floor((col("end_offset") - 1) / seqLen).as("seq_last"))
    }
  }

  /** Token-balanced SHARD assignment — the training-export layout pass:
    * documents in deterministic `id` order are cut into contiguous
    * shards of ~`shardTokens` tokens each (shard = the document's start
    * offset DIV the budget, so every shard holds the docs whose packed
    * stream positions fall in one budget window; a doc straddling a
    * boundary goes to the shard its FIRST token lands in, keeping
    * shards within one document of the budget). Downstream writers
    * emit one file per shard (`.repartition(col("shard_id"))` then
    * partitionBy), giving the near-equal-size shuffle-shard files a
    * trainer's data loader expects, with membership a pure function of
    * (id, tokens) — reshardable and resumable at any scale. Integer
    * DIV, not float floor: offsets near 2^53 would round wrong in a
    * double. Same two-phase distributed prefix sum as [[packConcat]];
    * replayable by a single window sum (the pk2 gate oracle). */
  def shardByTokens(df: DataFrame, id: String, tokenCount: Column,
      shardTokens: Long, numPartitions: Int = 0,
      carry: Seq[String] = Nil): DataFrame = {
    require(shardTokens > 0, s"shardTokens=$shardTokens")
    withOffsets(df, id, tokenCount, numPartitions, carry) { counted =>
      counted.select(col(id) +: carry.map(col) :+ col("n_tokens") :+
          (col("end_offset") - col("n_tokens")).as("start_offset"): _*)
        .withColumn("shard_id",
          expr(s"start_offset DIV ${shardTokens}L"))
    }
  }

  /** MATERIALIZE the packed training sequences — the final artifact a
    * trainer loads, not just the [[packConcat]] bookkeeping: lay every
    * document's tokens end-to-end in `id` order and emit one row per
    * `seqLen`-token training sequence, tokens in stream order (the
    * last sequence may be short; concat-and-chunk keeps no padding).
    *
    * Plan shape: the two-phase prefix sum assigns each document its
    * global start offset with the token ARRAY riding the range
    * exchange as a carry column (one corpus-data shuffle — inherent:
    * the artifact's rows are token-stream slices, not document
    * slices); then posexplode derives each token's global position
    * (narrow), and one hash exchange on seq_id = position DIV seqLen
    * groups each sequence's tokens. Sequence ids are uniform over the
    * stream by construction, so the grouping key cannot be hot however
    * skewed the documents. Within-sequence order is recovered by
    * sorting the (position, token) pairs INSIDE each row — a bounded
    * seqLen-sized sort, never a global one.
    *
    * Output: (seq_id, n_tokens, token_ids ARRAY<STRING>), seq_id
    * 0-based in stream order. Zero-token documents occupy no
    * positions (the [[packConcat]] contract). */
  def packSequences(df: DataFrame, id: String, tokens: Column,
      seqLen: Int, numPartitions: Int = 0): DataFrame = {
    require(seqLen > 0, s"seqLen=$seqLen")
    val staged = df.select(col(id), tokens.as("__toks"))
    withOffsets(staged, id, size(col("__toks")).cast("long"),
        numPartitions, carry = Seq("__toks")) { counted =>
      counted
        .select((col("end_offset") - col("n_tokens")).as("__so"),
          posexplode(col("__toks")).as(Seq("__p", "__tok")))
        .select((col("__so") + col("__p")).as("__gpos"), col("__tok"))
        .groupBy(ldiv(col("__gpos"), lit(seqLen.toLong)).as("seq_id"))
        .agg(count(lit(1)).as("n_tokens"),
          transform(array_sort(collect_list(
            struct(col("__gpos"), col("__tok")))), p => p("__tok"))
            .as("token_ids"))
    }
  }

  /** EXAMPLE-level (no-straddle) sequence packing — the SFT/preference
    * training layout, where an example must occupy ONE training
    * sequence whole (a rendered conversation leaking across sequence
    * boundaries corrupts its loss span), unlike [[packConcat]]'s
    * concat-and-chunk where straddling is by design:
    *
    *  1. [[shardByTokens]] cuts the corpus into contiguous
    *     ~`shardTokens` id-ordered shards (the two-phase distributed
    *     prefix sum — no single-task term);
    *  2. WITHIN each shard, examples pack greedily in id order by
    *     next-fit into capacity-`seqLen` sequences — next-fit is
    *     inherently sequential (each boundary depends on the running
    *     remainder; NOT a prefix sum), so it runs as one codegen'd
    *     in-row pass ([[graft.functions.NextFitSeqIdx]]) over the
    *     shard's collected (id, n_tokens) list. Shards are
    *     token-bounded, so the collected array is bounded by
    *     ~shardTokens rows — the same bounded-group contract as the
    *     d16 heavy-gram order.
    *
    * Determinism: membership and order are pure functions of
    * (id, tokens), so the layout is reshardable and replayable — the
    * pk5 gate recursive-CTE-replays the next-fit fold per shard.
    * Sequence ids are (shard_id, seq_in_shard); [[renumberSequences]]
    * derives the dense global seq_id when a trainer needs one. The
    * shard boundary costs at most ONE underfilled sequence per shard
    * (next-fit restarts there), so the packing-efficiency loss vs a
    * global sequential pass is bounded by ~seqLen/shardTokens — size
    * `shardTokens` tens of sequences wide and the waste is percents.
    * An example longer than `seqLen` occupies a sequence alone
    * (`oversize = true`) — the caller truncates or drops. Zero-token
    * examples are dropped (the [[packConcat]] contract).
    *
    * Output: (id, n_tokens, shard_id, seq_in_shard, oversize). */
  def packExamples(df: DataFrame, id: String, tokenCount: Column,
      seqLen: Int, shardTokens: Long, numPartitions: Int = 0): DataFrame = {
    require(seqLen > 0, s"seqLen=$seqLen")
    require(shardTokens >= seqLen,
      s"packExamples: shardTokens=$shardTokens < seqLen=$seqLen — a " +
        "shard must hold at least one full sequence")
    val sharded = shardByTokens(df, id, tokenCount, shardTokens,
      numPartitions)
    val packed = sharded
      .groupBy(col("shard_id"))
      .agg(sort_array(collect_list(struct(col(id), col("n_tokens"))))
        .as("__es"))
      .select(col("shard_id"),
        posexplode(zip_with(
          col("__es"),
          graft.functions.GraftFunctions.nextFitSeqIdx(
            transform(col("__es"), e => e("n_tokens")), seqLen.toLong),
          (e, s) => struct(e(id).as("id"), e("n_tokens").as("n"),
            s.as("seq")))))
      .select(col("col.id").as(id), col("col.n").as("n_tokens"),
        col("shard_id"), col("col.seq").cast("long").as("seq_in_shard"),
        (col("col.n") > seqLen.toLong).as("oversize"))
    packed
  }

  /** Dense GLOBAL sequence numbering for a [[packExamples]] layout:
    * adds `seq_id` = the 0-based rank of (shard_id, seq_in_shard) in
    * lexicographic order — what a data loader indexes by. The rank runs
    * over the DISTINCT sequence pairs (a |sequences|-sized relation,
    * ≪ examples) via the two-phase [[groupRank]], then joins back on
    * the pair — examples of one sequence stay together, nothing
    * corpus-sized sorts globally. */
  def renumberSequences(packed: DataFrame): DataFrame = {
    val seqs = packed.select(col("shard_id"), col("seq_in_shard"))
      .distinct()
      .withColumn("__g", lit(1))
    val ranked = groupRank(seqs, Seq("__g"),
        Seq(col("shard_id"), col("seq_in_shard")))
      .select(col("shard_id"), col("seq_in_shard"),
        (col("gr_rank") - 1L).as("seq_id"))
    packed.join(ranked, Seq("shard_id", "seq_in_shard"))
  }

  /** Packing-efficiency report for a [[packExamples]] layout — the
    * exact-integer one-row summary that quantifies what the next-fit
    * policy and the shard boundaries cost vs the information-theoretic
    * floor: realized sequence count vs ceil(total/seqLen), fill rate
    * of the capacity actually allocated, and the oversize population.
    * Two aggregates (per-sequence, then totals) — report-sized, never
    * the corpus. fill_ppm counts an oversize sequence as full (its
    * overflow is truncated downstream, not stored capacity). */
  def packingReport(packed: DataFrame, seqLen: Int): DataFrame = {
    require(seqLen > 0, s"seqLen=$seqLen")
    import org.apache.spark.sql.graftbridge.ColumnBridge.{column, expression}
    def idiv(a: Column, b: Column): Column = column(
      org.apache.spark.sql.catalyst.expressions.IntegralDivide(
        expression(a), expression(b)))
    val perSeq = packed.groupBy(col("shard_id"), col("seq_in_shard"))
      .agg(count(lit(1)).as("__n_ex"), sum(col("n_tokens")).as("__toks"),
        max(col("oversize")).as("__over"))
    perSeq.agg(
        sum(col("__n_ex")).as("n_examples"),
        sum(col("__toks")).as("n_tokens_total"),
        count(lit(1)).as("n_sequences"),
        sum(when(col("__over"), 1L).otherwise(0L)).as("n_oversize"),
        sum(least(col("__toks"), lit(seqLen.toLong))).as("__filled"))
      .select(col("n_examples"), col("n_tokens_total"),
        col("n_sequences"), col("n_oversize"),
        idiv(col("n_tokens_total") + (seqLen - 1),
          lit(seqLen.toLong)).as("min_sequences"),
        idiv(coalesce(col("__filled"), lit(0L)) * lit(1000000L),
          greatest(col("n_sequences") * seqLen, lit(1L))).as("fill_ppm"))
  }

  /** Length-aware PADDED batch packing — the inference/eval serving
    * layout (dynamic batching): rows pad to their batch's longest
    * member, so a batch of n rows with max length L allocates n·L
    * tokens whatever the real lengths are. Packing similar lengths
    * together is what keeps that rectangle tight, so:
    *
    *  1. rows rank globally by (n_tokens DESC, id) — the published
    *     sort-by-length recipe — via the two-phase [[groupRank]]
    *     (distributed; no single-task sort);
    *  2. contiguous `shardRows`-row rank windows form shards (pure
    *     arithmetic on the rank — no second shuffle);
    *  3. WITHIN each shard, rows fold greedily in rank order into
    *     batches capped at `maxTokens` PADDED tokens and `maxRows`
    *     rows ([[graft.functions.PaddedNextFitIdx]] — one codegen'd
    *     in-row pass over the shard's bounded list, the
    *     [[packExamples]] next-fit contract with the padded-cost
    *     capacity test).
    *
    * Determinism: membership and order are pure functions of
    * (id, tokens) — reshardable, replayable (the pk9 gate
    * recursive-CTE-replays the fold per shard). The shard boundary
    * costs at most one underfilled batch per shard. A row longer than
    * `maxTokens` sits in a batch alone with `oversize = true` (the
    * caller truncates or drops). Zero-token rows are dropped (the
    * [[packConcat]] contract).
    *
    * Output: (id, n_tokens, shard_id, batch_in_shard, oversize). */
  def packBatches(df: DataFrame, id: String, tokenCount: Column,
      maxTokens: Long, maxRows: Int, shardRows: Long = 4096L,
      numPartitions: Int = 0): DataFrame = {
    require(maxTokens > 0, s"packBatches: maxTokens=$maxTokens")
    require(maxRows > 0, s"packBatches: maxRows=$maxRows")
    require(shardRows >= maxRows,
      s"packBatches: shardRows=$shardRows < maxRows=$maxRows — a shard " +
        "must hold at least one full batch")
    import org.apache.spark.sql.graftbridge.ColumnBridge.{column, expression}
    def idiv(a: Column, b: Column): Column = column(
      org.apache.spark.sql.catalyst.expressions.IntegralDivide(
        expression(a), expression(b)))
    val counted = df
      .select(col(id), tokenCount.cast("long").as("n_tokens"))
      .where(col("n_tokens") > 0)
      .withColumn("__g", lit(1))
    val ranked = groupRank(counted, Seq("__g"),
        Seq(col("n_tokens").desc, col(id)),
        numPartitions = numPartitions)
      .select(col(id), col("n_tokens"), (col("gr_rank") - 1L).as("__r"))
    val sharded = ranked
      .withColumn("shard_id", idiv(col("__r"), lit(shardRows)))
    sharded.groupBy(col("shard_id"))
      .agg(sort_array(collect_list(
        struct(col("__r"), col(id), col("n_tokens")))).as("__bs"))
      .select(col("shard_id"),
        posexplode(zip_with(
          col("__bs"),
          graft.functions.GraftFunctions.paddedNextFitIdx(
            transform(col("__bs"), e => e("n_tokens")), maxTokens, maxRows),
          (e, b) => struct(e(id).as("id"), e("n_tokens").as("n"),
            b.as("b")))))
      .select(col("col.id").as(id), col("col.n").as("n_tokens"),
        col("shard_id"), col("col.b").cast("long").as("batch_in_shard"),
        (col("col.n") > maxTokens).as("oversize"))
  }

  /** Padding-efficiency report for a [[packBatches]] layout — the
    * exact-integer one-row summary of what dynamic batching saves:
    * padded tokens actually allocated (Σ per-batch rows·max_len) vs
    * the real token mass, the waste in ppm of the allocation, batch
    * and oversize counts. Two aggregates (per-batch, then totals) —
    * report-sized, never the corpus. */
  def batchReport(packed: DataFrame): DataFrame = {
    import org.apache.spark.sql.graftbridge.ColumnBridge.{column, expression}
    def idiv(a: Column, b: Column): Column = column(
      org.apache.spark.sql.catalyst.expressions.IntegralDivide(
        expression(a), expression(b)))
    val perBatch = packed.groupBy(col("shard_id"), col("batch_in_shard"))
      .agg(count(lit(1)).as("__n"), max(col("n_tokens")).as("__mx"),
        sum(col("n_tokens")).as("__real"),
        max(col("oversize")).as("__over"))
    perBatch.agg(
        sum(col("__n")).as("n_rows"),
        count(lit(1)).as("n_batches"),
        sum(when(col("__over"), 1L).otherwise(0L)).as("n_oversize"),
        sum(col("__real")).as("real_tokens"),
        sum(col("__n") * col("__mx")).as("padded_tokens"))
      .select(col("n_rows"), col("n_batches"), col("n_oversize"),
        col("real_tokens"), col("padded_tokens"),
        idiv((col("padded_tokens") - col("real_tokens")) * 1000000L,
          greatest(col("padded_tokens"), lit(1L))).as("padding_ppm"))
  }

  /** [[batchReport]] plus the REALIZED shard-boundary cost: the same
    * one-row padding report for the `shardRows`-sharded layout, joined
    * with a single-shard replay of the identical fold, and the delta as
    * `boundary_waste_ppm` = ⌊(padded_sharded − padded_single) · 1e6 /
    * padded_single⌋ — the documented "at most one underfilled batch per
    * shard" bound turned into a measurement. Within each shard the fold
    * consumes the SAME global (length desc, id) rank order, so the
    * sharded layout is exactly the single-shard fold with extra breaks
    * forced at shard boundaries; the delta isolates what those breaks
    * cost and reads exactly 0 once one shard holds everything (the
    * spec pins it). The delta CAN be negative: next-fit is a
    * heuristic, and a forced break occasionally beats it (measured
    * −2010 ppm on a 200-doc fixture at 8-row shards) — hence FLOOR
    * division, explicitly, so the ppm is engine-replayable on negative
    * values too (SQL `//` floors where Spark's `div` truncates).
    *
    * Scale note: the single-shard replay folds ALL rows through one
    * bounded in-row list, so this is a gate/dev-scale MEASUREMENT
    * harness for tuning `shardRows` on a sample — the production layout
    * path stays [[packBatches]] + [[batchReport]], whose per-shard
    * state never exceeds `shardRows`. */
  def batchReportWithBoundary(df: DataFrame, id: String,
      tokenCount: Column, maxTokens: Long, maxRows: Int,
      shardRows: Long = 4096L, numPartitions: Int = 0): DataFrame = {
    import org.apache.spark.sql.graftbridge.ColumnBridge.{column, expression}
    def idiv(a: Column, b: Column): Column = column(
      org.apache.spark.sql.catalyst.expressions.IntegralDivide(
        expression(a), expression(b)))
    val sharded = batchReport(packBatches(df, id, tokenCount, maxTokens,
      maxRows, shardRows, numPartitions))
    val single = batchReport(packBatches(df, id, tokenCount, maxTokens,
        maxRows, shardRows = Long.MaxValue, numPartitions))
      .select(col("padded_tokens").as("single_padded_tokens"))
    val num = (col("padded_tokens") - col("single_padded_tokens")) *
      1000000L
    val den = greatest(col("single_padded_tokens"), lit(1L))
    // exact floor division: pmod's remainder is non-negative, so
    // (num - pmod) is exactly divisible and idiv of it equals ⌊num/den⌋
    // for either sign of num
    sharded.crossJoin(single)
      .withColumn("boundary_waste_ppm", idiv(num - pmod(num, den), den))
  }

  /** Contrastive-training batch assignment under DEDUP constraints: two
    * members of the same near-dup cluster must never share a batch —
    * in-batch negatives are sampled from the rest of the batch, and a
    * near-duplicate of the anchor sampled as its "negative" is a FALSE
    * negative that actively corrupts the contrastive objective (the
    * DPR/SimCLR batch-construction hygiene rule). `members` is
    * (id, cluster) — cluster from [[Dedup.connectedComponents]] over
    * near-dup pairs, singletons carrying their own id.
    *
    * Assignment is pure modular arithmetic, deterministic and
    * replayable: member i (1-based, id-ordered) of cluster c goes to
    * batch (c + i − 1) mod nBatches — consecutive distinct batches per
    * cluster, and the cluster id itself is the rotation offset so
    * clusters spread instead of piling their heads on batch 0. The
    * constraint is satisfiable iff every cluster has ≤ nBatches
    * members; the operator CHECKS that eagerly (one partial-aggregated
    * count job) and fails fast naming the violation rather than
    * silently wrapping a cluster onto itself — split the offending
    * cluster or raise nBatches (an oversized near-dup cluster is
    * usually an exact-dup flood that belongs in [[Dedup.exactGroups]]
    * first).
    *
    * Scale shape: the only window is cluster-keyed (bounded by cluster
    * size — near-dup clusters are small piles, the
    * [[Dedup.connectedComponents]] premise), the offset needs no
    * global rank, and the guard aggregates map-side. One exchange on
    * the cluster key. The eager guard costs one extra evaluation of
    * the `members` lineage, column-pruned to the cluster key — persist
    * `members` first if deriving it is expensive.
    *
    * Output: (id, cluster, batch_id), batch_id in [0, nBatches). */
  def contrastiveBatches(members: DataFrame, id: String, cluster: String,
      nBatches: Int): DataFrame = {
    require(nBatches >= 1, s"contrastiveBatches: nBatches=$nBatches")
    // coalesce: zero groups aggregate max to NULL — an empty members
    // frame trivially satisfies the constraint
    val biggest = members.groupBy(col(cluster))
      .agg(count(lit(1)).as("__n"))
      .agg(coalesce(max(col("__n")), lit(0L))).head.getLong(0)
    require(biggest <= nBatches,
      s"contrastiveBatches: largest cluster has $biggest members but " +
        s"only nBatches=$nBatches batches exist — every member needs its " +
        "own batch; split the cluster (exact-dedup first?) or raise " +
        "nBatches")
    val w = Window.partitionBy(col(cluster)).orderBy(col(id))
    members.select(col(id), col(cluster),
      pmod(col(cluster) + row_number().over(w) - 1,
        lit(nBatches.toLong)).as("batch_id"))
  }

  /** Per-shard manifest for a [[shardByTokens]] result: exact doc and
    * token counts per shard — the sidecar a loader checks before
    * streaming a shard. A |shards|-row aggregate, never the corpus. */
  def shardManifest(sharded: DataFrame): DataFrame =
    sharded.groupBy(col("shard_id"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("n_tokens"))

  /** Two-phase distributed prefix sum shared by [[packConcat]] /
    * [[shardByTokens]]: hands `body` a frame (id, n_tokens, end_offset)
    * with end_offset = inclusive global running total in `id` order. */
  private def withOffsets(df: DataFrame, id: String, tokenCount: Column,
      numPartitions: Int, carry: Seq[String] = Nil)
      (body: DataFrame => DataFrame): DataFrame = {
    val spark = df.sparkSession
    val nPart =
      if (numPartitions > 0) numPartitions
      else spark.sessionState.conf.numShufflePartitions
    // Materialized ONCE, eagerly: both the phase-2 totals collect and
    // the caller's eventual execution of the returned (lazy) frame read
    // these partitions. The previous persist + finally-unpersist
    // scaffold defeated itself here — unpersist ran when this function
    // RETURNED, before the caller ever executed the result, so the
    // whole input subtree re-evaluated on the final pass (measured 2x
    // on p7, whose input is the full KN scoring chain). Scale.materialize
    // cuts lineage, so however expensive the input, it runs exactly
    // once; the checkpointed rows are narrow (id, carry, n_tokens).
    // Storage follows Scale.materialize: local blocks (pinned until
    // the checkpoint scope's release, lost on executor loss) unless a
    // checkpoint dir is set.
    val counted = Scale.materialize(df
      .select(col(id) +: carry.map(col) :+
        tokenCount.cast("long").as("n_tokens"): _*)
      .where(col("n_tokens") > 0)
      .repartitionByRange(nPart, col(id))
      .sortWithinPartitions(col(id))
      .withColumn("__pid", spark_partition_id()))
    // Phase 2: one row per partition — metadata, not data.
    val totals = counted.groupBy(col("__pid"))
      .agg(sum(col("n_tokens")).as("t"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val bases = (0 until nPart).scanLeft(0L) {
      case (acc, p) => acc + totals.getOrElse(p, 0L)
    }
    // Phase 3: base(pid) as a literal lookup + local window.
    val baseExpr = element_at(
      map((0 until nPart).flatMap(p =>
        Seq(lit(p), lit(bases(p)))): _*), col("__pid"))
    val w = Window.partitionBy(col("__pid")).orderBy(col(id))
    body(counted
      .withColumn("end_offset", baseExpr + sum(col("n_tokens")).over(w)))
  }

  /** Total number of full-or-partial sequences the packed stream cuts
    * into (ceil of total tokens / seqLen). */
  def sequenceCount(packed: DataFrame, seqLen: Int): Long = {
    val total = packed.agg(sum(col("n_tokens"))).head.getLong(0)
    (total + seqLen - 1) / seqLen
  }

  /** Exact positive-long floor division as a Column — `(a − a%b) / b`
    * stays bit-exact because the numerator is exactly divisible and an
    * IEEE division whose true quotient is an integer below 2^53 rounds
    * to it exactly. Avoids the string round-trip of `expr("a DIV b")`
    * on anonymous columns. Both operands must be ≥ 0 with b > 0. */
  private def ldiv(a: Column, b: Column): Column =
    ((a - pmod(a, b)) / b).cast("long")

  /** ANSI `ntile(k)` reconstructed from a (rank, groupSize) pair: with
    * q = n div k and r = n mod k, the first r tiles take q+1 rows and
    * the rest take q (the front-loaded remainder every ANSI engine
    * implements). Deriving the tile from the RANK instead of calling
    * `ntile` lets the rank come from [[groupRank]]'s distributed
    * machinery while replaying bit-identically against a single-node
    * `ntile` over the same total order — the p5/p7 oracle contract.
    * The q = 0 case (n < k, every tile is one row) resolves in the
    * first branch (head = n covers every rank), so the q-divisor of
    * the second branch is ≥ 1 whenever it is evaluated. */
  def ntileFromRank(rank: Column, n: Column, k: Int): Column = {
    require(k >= 1, s"ntileFromRank: k=$k")
    val q = ldiv(n, lit(k.toLong))
    val r = pmod(n, lit(k.toLong))
    val head = r * (q + 1L)
    when(rank <= head, ldiv(rank - 1L, q + 1L) + 1L)
      .otherwise(r + ldiv(rank - head - 1L, q) + 1L)
  }

  /** Distributed per-group dense RANK over a total order — the
    * scale-safe replacement for `row_number().over(Window.partitionBy
    * (group).orderBy(order))` when group cardinality is LOW: that
    * window's required clustering puts every row of a group into ONE
    * task (AQE cannot split a window partition — its skew handling
    * applies to joins, not required child distributions), so a corpus
    * that is 40% one language sorts 40% of itself in a single task.
    * This generalizes [[packConcat]]'s two-phase prefix sum to ranks:
    *
    *  1. range-repartition by (group…, order…) — a real distributed
    *     sort placement, so each group's rows occupy a contiguous run
    *     of partitions and within-group order is respected ACROSS
    *     partitions;
    *  2. per-(partition, group) row counts to the driver — bounded by
    *     nPart + |groups| − 1 rows (ranges are contiguous), metadata
    *     not data; if that exceeds `maxGroupStats` the group key is
    *     high-cardinality, per-group tasks are small, and the plain
    *     window is the RIGHT plan — it is used as the fallback;
    *  3. each (partition, group)'s base rank (rows of the group in
    *     earlier partitions) and the group total rejoin via a
    *     broadcast stats frame, and a per-(partition, group) window
    *     finishes the rank locally — max task ≤ one range partition,
    *     whatever the group skew.
    *
    * The rank depends only on the global (group, order) total order
    * (make `order` total within a group — id tiebreak — or ties land
    * nondeterministically), so partition layout cannot change the
    * answer and a single-node window replays it exactly.
    *
    * The phase-1 frame is materialized ONCE via [[Scale.materialize]]
    * — REQUIRED for correctness, not a cache: the range sampler is
    * nondeterministic, so without it phase 2's counts and the final
    * pass could see different partition boundaries and the bases would
    * be wrong. Local blocks by default (pinned until
    * [[Scale.releaseLocalCheckpoints]] or the scope's release, lost on
    * executor failure); reliable files when a checkpoint dir is set —
    * [[Scale.withReliableCheckpoints]] scopes the dir and cleans them.
    *
    * Output: the input columns plus `gr_rank` (1-based rank within the
    * group under `order`) and `gr_n` (group row count). */
  def groupRank(df: DataFrame, group: Seq[String], order: Seq[Column],
      numPartitions: Int = 0, maxGroupStats: Int = 1 << 18): DataFrame = {
    require(group.nonEmpty, "groupRank: need at least one group column")
    require(order.nonEmpty, "groupRank: need an order")
    Seq("gr_rank", "gr_n", "__gr_pid").foreach(n =>
      require(!df.columns.exists(_.equalsIgnoreCase(n)),
        s"groupRank: input already has a column named '$n'"))
    val spark = df.sparkSession
    val nPart =
      if (numPartitions > 0) numPartitions
      else spark.sessionState.conf.numShufflePartitions
    val gc = group.map(col)
    val parted = Scale.materialize(df
      .repartitionByRange(nPart, gc ++ order: _*)
      .withColumn("__gr_pid", spark_partition_id()))
    val stats = parted
      .groupBy(col("__gr_pid") +: gc: _*)
      .agg(count(lit(1)).as("__gr_c"))
      .limit(maxGroupStats + 1)
      .collect()
    if (stats.length > maxGroupStats) {
      // High-cardinality group key: per-group stats are no longer
      // metadata and per-group window tasks are small anyway.
      val w = Window.partitionBy(gc: _*)
      parted.drop("__gr_pid")
        .withColumn("gr_rank",
          row_number().over(w.orderBy(order: _*)).cast("long"))
        .withColumn("gr_n", count(lit(1)).over(w))
    } else {
      val k = group.length
      import scala.jdk.CollectionConverters._
      val statRows: Seq[org.apache.spark.sql.Row] = stats
        .groupBy(r => (1 to k).map(r.get).toList)
        .valuesIterator.flatMap { rs =>
          val sorted = rs.sortBy(_.getInt(0))
          val n = sorted.map(_.getLong(k + 1)).sum
          sorted.scanLeft(0L)((acc, r) => acc + r.getLong(k + 1))
            .zip(sorted).map { case (base, r) =>
              org.apache.spark.sql.Row.fromSeq(
                r.getInt(0) +: (1 to k).map(r.get) :+ base :+ n)
            }
        }.toSeq
      val gFields = group.map(parted.schema(_))
      val statsSchema = org.apache.spark.sql.types.StructType(
        org.apache.spark.sql.types.StructField("__gr_pid2",
          org.apache.spark.sql.types.IntegerType, nullable = false) +:
        gFields.zipWithIndex.map { case (f, i) =>
          org.apache.spark.sql.types.StructField(s"__gr_g$i",
            f.dataType, f.nullable) } :+
        org.apache.spark.sql.types.StructField("__gr_base",
          org.apache.spark.sql.types.LongType, nullable = false) :+
        org.apache.spark.sql.types.StructField("gr_n",
          org.apache.spark.sql.types.LongType, nullable = false))
      val statsDf = spark.createDataFrame(statRows.asJava, statsSchema)
      // Null-safe equality: a null group value is a group like any
      // other for ranking (it sorts first), and a plain === would
      // silently drop its rows at the join.
      val cond = (col("__gr_pid") === col("__gr_pid2")) &&
        group.zipWithIndex.map { case (g, i) =>
          col(g) <=> col(s"__gr_g$i") }.reduce(_ && _)
      val w = Window.partitionBy(col("__gr_pid") +: gc: _*)
        .orderBy(order: _*)
      parted.join(broadcast(statsDf), cond)
        .withColumn("gr_rank",
          col("__gr_base") + row_number().over(w))
        .drop("__gr_pid" +: "__gr_pid2" +: "__gr_base" +:
          group.indices.map(i => s"__gr_g$i"): _*)
    }
  }
}
