package graft.ext

import graft.functions.GraftFunctions
import org.apache.spark.sql.{DataFrame, Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Approximate-nearest-neighbor search over an ARRAY<FLOAT> embedding
  * column.
  *
  * Baseline: brute-force cosine top-k — broadcast the (small) query set,
  * stream the corpus once, and reduce with a top-k AGGREGATOR instead of a
  * window: the partial aggregate keeps only k rows per query per
  * partition, so the shuffle carries Q·k·partitions rows, not the Q·N
  * rows a row_number() window would move.
  *
  * Scale path: IVF (inverted-file) index — corpus assigned to its nearest
  * of `nlist` seeded centroids (one narrow pass), queries probe the
  * `nprobe` closest centroid buckets only, cutting compared candidates by
  * ~nlist/nprobe at equal recall for clustered data.
  */
object Similarity {

  final case class Scored(id: Long, score: Double)

  /** Order-insensitive, capacity-k merge aggregator. Keeps a sorted list
    * capped at k; ties broken by id for determinism.
    *
    * Duplicate OBSERVATIONS — the same (id, score) seen twice — collapse
    * to one slot. In a clean pipeline each candidate id reaches a group
    * once, so this changes nothing; under an at-least-once upstream (a
    * replayed [[AnnIndex.appendIvfPq]] micro-batch duplicating encoded
    * rows) it is what makes every persisted-index serve replay to the
    * exactly-once answer instead of burning top-k slots on copies —
    * the same absorb-at-serve discipline as the decontam re-distinct
    * and [[Dedup.flagAgainstIndex]]'s output dropDuplicates (spec:
    * ReplayedAppendSpec). Two DIFFERENT rows that tie on (score, id)
    * cannot exist (id is the row key in every caller), so a collapse
    * is always a true duplicate. */
  final class TopKAggregator(k: Int)
      extends Aggregator[Scored, scala.collection.mutable.ArrayBuffer[Scored],
        Seq[Scored]] {
    // Buffer is a SORTED ArrayBuffer (best-first under (-score, id)),
    // not the previous immutable List: the list insert paid O(size)
    // for `length`, `last` AND the span walk on EVERY row — O(rows·k)
    // total, which at s7's rerank = 2100 over its ~20k ADC rows was a
    // measured 1.3 s single-task stage. Here the common case (row
    // worse than the current kth) rejects in O(1) off the last
    // element, and an accepted row pays one binary search + one
    // arraycopy insert. The kept SET and final order are identical:
    // same total order, same adjacent-duplicate (id, score) dedup —
    // the serve paths' absorb-replayed-postings contract — so the
    // result is partition-layout-independent exactly as before.
    private def ord: Ordering[Scored] =
      Ordering.by(s => (-s.score, s.id))
    override def zero: scala.collection.mutable.ArrayBuffer[Scored] =
      scala.collection.mutable.ArrayBuffer.empty[Scored]
    override def reduce(buf: scala.collection.mutable.ArrayBuffer[Scored],
        a: Scored): scala.collection.mutable.ArrayBuffer[Scored] =
      insert(buf, a)
    override def merge(b1: scala.collection.mutable.ArrayBuffer[Scored],
        b2: scala.collection.mutable.ArrayBuffer[Scored])
        : scala.collection.mutable.ArrayBuffer[Scored] =
      b2.foldLeft(b1)(insert)
    private def insert(buf: scala.collection.mutable.ArrayBuffer[Scored],
        a: Scored): scala.collection.mutable.ArrayBuffer[Scored] = {
      val n = buf.length
      if (n >= k && ord.lteq(buf(n - 1), a)) buf
      else {
        // binary search for the first index whose element sorts >= a
        var lo = 0
        var hi = n
        while (lo < hi) {
          val mid = (lo + hi) >>> 1
          if (ord.lt(buf(mid), a)) lo = mid + 1 else hi = mid
        }
        // equal elements sort adjacent, so a duplicate of `a` — if any —
        // is exactly the element at the insertion point
        if (lo < n && buf(lo).id == a.id && buf(lo).score == a.score) buf
        else {
          buf.insert(lo, a)
          if (buf.length > k) buf.remove(k)
          buf
        }
      }
    }
    override def finish(
        r: scala.collection.mutable.ArrayBuffer[Scored]): Seq[Scored] =
      r.toSeq
    override def bufferEncoder
        : Encoder[scala.collection.mutable.ArrayBuffer[Scored]] =
      Encoders.kryo[scala.collection.mutable.ArrayBuffer[Scored]]
    override def outputEncoder: Encoder[Seq[Scored]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Scored]]()
  }

  /** Exact top-k by cosine for every query vector.
    * queries: (qid BIGINT, qvec ARRAY<FLOAT>) — must be broadcast-small.
    * corpus:  (cid BIGINT, cvec ARRAY<FLOAT>).
    * Output: (query_id, corpus_id, cosine, rank) with rank 1..k.
    */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      excludeSelf: Boolean = true): DataFrame = {
    val spark = corpus.sparkSession
    val topk = udaf(new TopKAggregator(k), Encoders.product[Scored])
    // NO Scale.fanOut here (r18 closing A/B): widening the corpus ahead
    // of the Q x N scoring pass looked like the s7 ADC pattern but
    // REGRESSED both bench consumers of this path in clean full-protocol
    // windows (s1 0.245 -> 0.510, s28 ground truth 0.673 -> 0.962 vs the
    // round-start baseline) — at gate size the round-robin exchange
    // costs more than the widened cosine pass saves, and at corpus
    // scale the scan already has >= cores splits so the widen is a
    // no-op there anyway. The s7 sites keep theirs: the ADC/rerank
    // per-row work is an order of magnitude heavier.
    val joined = corpus.crossJoin(broadcast(queries))
      .where(if (excludeSelf) col("cid") =!= col("qid") else lit(true))
      .select(col("qid"),
        col("cid"),
        GraftFunctions.cosine(col("qvec"), col("cvec")).as("sim"))
    joined
      .groupBy(col("qid"))
      .agg(topk(col("cid"), col("sim")).as("top"))
      .select(col("qid").as("query_id"), posexplode(col("top")))
      .select(col("query_id"),
        col("col.id").as("corpus_id"),
        col("col.score").as("cosine"),
        (col("pos") + 1).cast(LongType).as("rank"))
  }

  /** Hard-negative mining for contrastive / retriever training
    * (Karpukhin et al. 2020 "Dense Passage Retrieval": the strongest
    * negatives are the retriever's own most-similar non-matches): for
    * every query vector, the k most-cosine-similar corpus vectors whose
    * label DIFFERS from the query's — i.e. top-k restricted to
    * cross-label pairs. Same execution shape as [[bruteForceTopK]]
    * (broadcast query batch, one corpus scan, capacity-k partial
    * aggregate so the shuffle carries Q·k·partitions rows); the label
    * test rides the same codegen'd projection as the cosine, so the
    * exclusion is free. This shape requires a BROADCAST-SMALL query
    * batch; mining negatives for a training-set-sized query relation
    * (the real DPR recipe) is [[AnnIndex.mineHardNegatives]] — the
    * persisted-index serve with the query side distributed and the
    * label filter applied before the rerank cut, same mining contract
    * (rank by similarity among cross-label rows), gated equal to this
    * operator at full probing (s20/s21).
    *
    * NULL-label semantics (pinned, same as
    * [[AnnIndex.mineHardNegatives]]): the cross-label test is SQL `<>`
    * — NULL on either side filters the pair out, so a NULL-`qlab`
    * query mines nothing and a NULL-`clab` corpus row is never mined.
    * Conservative by design (an unlabeled row might be a positive);
    * map NULLs to a sentinel label first to opt them in.
    *
    * queries: (qid BIGINT, qvec ARRAY<FLOAT>, qlab) — broadcast-small.
    * corpus:  (cid BIGINT, cvec ARRAY<FLOAT>, clab).
    * Output: (query_id, corpus_id, cosine, rank) with rank 1..k. */
  def hardNegatives(corpus: DataFrame, queries: DataFrame,
      k: Int): DataFrame = {
    val topk = udaf(new TopKAggregator(k), Encoders.product[Scored])
    corpus.crossJoin(broadcast(queries))
      .where(col("clab") =!= col("qlab"))
      .select(col("qid"), col("cid"),
        GraftFunctions.cosine(col("qvec"), col("cvec")).as("sim"))
      .groupBy(col("qid"))
      .agg(topk(col("cid"), col("sim")).as("top"))
      .select(col("qid").as("query_id"), posexplode(col("top")))
      .select(col("query_id"),
        col("col.id").as("corpus_id"),
        col("col.score").as("cosine"),
        (col("pos") + 1).cast(LongType).as("rank"))
  }

  /** Radius (range) search — ALL corpus neighbors within a cosine
    * threshold, the dual of top-k: retrieval wants "the k best", but
    * dedup gates, recall audits, and near-duplicate sweeps want "every
    * vector at least this similar", where k is unknowable in advance.
    * One broadcast of the query batch, a codegen'd cosine per pair, a
    * scan-speed filter — no aggregation state at all, so the shuffle
    * carries exactly the matching rows. The result SET is stable to
    * engine float quirks as long as `minCosine` is not adversarially
    * placed within ulps of a realized similarity (both engines
    * accumulate the dot sequentially in double). */
  def rangeSearch(corpus: DataFrame, queries: DataFrame,
      minCosine: Double, excludeSelf: Boolean = true): DataFrame =
    corpus.crossJoin(broadcast(queries))
      .where(if (excludeSelf) col("cid") =!= col("qid") else lit(true))
      .select(col("qid").as("query_id"), col("cid").as("corpus_id"),
        GraftFunctions.cosine(col("qvec"), col("cvec")).as("cosine"))
      .where(col("cosine") >= minCosine)

  /** Random-hyperplane LSH bucketed top-k: corpus vectors land in one of
    * 2^bits buckets keyed by the sign pattern of `bits` seeded Gaussian
    * hyperplane dot products (the codegen'd HyperplaneSig expression d5
    * also uses — one fused pass per row); queries probe their own bucket
    * plus every Hamming-distance-1 neighbor (multi-probe, bits+1
    * buckets), then rank probed candidates by exact cosine.
    *
    * Random hyperplanes rather than raw component signs: real embedding
    * spaces are anisotropic (mass concentrates along a few directions,
    * components are correlated), and axis-aligned sign buckets then
    * collapse most of the corpus into a handful of buckets — the skew
    * defeats the whole point of bucketing. A seeded Gaussian projection
    * is rotation-invariant, so bucket occupancy tracks the angular
    * spread of the data regardless of which axes carry the mass.
    *
    * Scale shape: ONE shuffle of the corpus on bucket id, queries fan out
    * ×(bits+1); candidate volume is ~N·(bits+1)/2^bits per query versus N
    * for brute force. Unlike the IVF path there is no centroid table to
    * learn or broadcast — the bucket function is a pure expression, so
    * build cost is a narrow codegen'd projection.
    *
    * Choosing `bits` at scale: the shuffle key has only 2^bits distinct
    * values, so 2^bits must be ≫ the shuffle parallelism or most reducers
    * sit idle and each bucket is huge (the default bits=5 → 32 buckets
    * suits tests, NOT a 1000-executor cluster). Size it from the corpus:
    * 2^bits ≈ N / desired-candidates-per-query, e.g. bits≈20 for 10^9
    * vectors at ~1k candidates — candidate work per query shrinks by
    * 2^bits while probe fan-out grows only linearly (bits+1), and AQE
    * coalesces any small buckets. Recall at high bits relies on the
    * Hamming-1 multi-probe; raise k-side probing (or union multiple
    * independent plane sets) before dropping bits if recall is short.
    */
  def lshTopK(corpus: DataFrame, queries: DataFrame, k: Int, dim: Int,
      bits: Int = 5, excludeSelf: Boolean = true, seed: Long = 42L): DataFrame = {
    require(bits >= 1 && bits <= 30, s"bits=$bits out of range")
    val topk = udaf(new TopKAggregator(k), Encoders.product[Scored])

    val ps = Dedup.planes(dim, bits, seed)
    def bucketOf(vec: org.apache.spark.sql.Column) =
      element_at(GraftFunctions.hyperplaneSig(vec, ps, bands = 1, width = bits), 1)

    val bucketed = corpus.withColumn("bucket", bucketOf(col("cvec")))
    val probes = queries
      .withColumn("qbucket", bucketOf(col("qvec")))
      .select(col("qid"), col("qvec"), explode(array(
        col("qbucket") +: (0 until bits).map(i =>
          col("qbucket").bitwiseXOR(lit(1 << i))): _*)).as("bucket"))

    val candidates = probes.join(bucketed, "bucket")
      .where(if (excludeSelf) col("cid") =!= col("qid") else lit(true))
      .select(col("qid"), col("cid"),
        GraftFunctions.cosine(col("qvec"), col("cvec")).as("sim"))
    candidates
      .groupBy(col("qid"))
      .agg(topk(col("cid"), col("sim")).as("top"))
      .select(col("qid").as("query_id"), posexplode(col("top")))
      .select(col("query_id"),
        col("col.id").as("corpus_id"),
        col("col.score").as("cosine"),
        (col("pos") + 1).cast(LongType).as("rank"))
  }

  /** In-context-pretraining document ordering (Shi et al. 2023,
    * "In-Context Pretraining: Language Modeling Beyond Document
    * Boundaries"): long-context training wants semantically RELATED
    * documents adjacent in the training stream, so attention across
    * document boundaries sees coherent context. The paper's exact
    * method walks a kNN graph (inherently sequential); the scalable
    * stand-in here sorts by sign-LSH bucket — documents whose
    * embeddings agree on `bits` hyperplane signs are adjacent, and
    * integer bucket order keeps 1-bit-near buckets close — then cuts
    * fixed-size context groups of `ctxDocs` documents with the
    * two-phase distributed prefix sum ([[Packing.shardByTokens]] at
    * unit weight). No kNN graph, no global single-task sort, one
    * range exchange: the 100 TB shape. Deterministic in (seed, bits),
    * and the whole pipeline (hyperplane signs → order → groups)
    * replays in ANSI SQL.
    *
    * corpus: (cid BIGINT, cvec ARRAY<FLOAT>).
    * Output: (vec_id, bucket, ctx_group). */
  def semanticOrder(corpus: DataFrame, dim: Int, ctxDocs: Int,
      bits: Int = 8, seed: Long = 42L): DataFrame = {
    require(ctxDocs > 0, s"ctxDocs=$ctxDocs")
    require(bits >= 1 && bits <= 30, s"bits=$bits out of range")
    val ps = Dedup.planes(dim, bits, seed)
    val bucket = element_at(
      GraftFunctions.hyperplaneSig(col("cvec"), ps, bands = 1,
        width = bits), 1)
    val keyed = corpus
      .withColumn("bucket", bucket.cast("long"))
      .withColumn("__so_key", struct(col("bucket"), col("cid")))
    Packing.shardByTokens(keyed, "__so_key", lit(1L), ctxDocs.toLong,
        carry = Seq("cid", "bucket"))
      .select(col("cid").as("vec_id"), col("bucket"),
        col("shard_id").as("ctx_group"))
  }

  /** Lloyd (k-means) refinement of a centroid table over a corpus:
    * `iters` rounds of assign-to-nearest-cosine (broadcast centroids +
    * max_by — the exact plan the IVF build pass uses) followed by an
    * exact-mean update ([[Vectors.groupCentroids]]' scaled-integer
    * decimal sums, so the means — and therefore the refined centroids —
    * are bit-deterministic across partitionings and runs). Clusters that
    * lose all members keep their previous centroid. A FIXED iteration
    * count, not a convergence probe: determinism and a bounded number of
    * corpus passes matter more than squeezing the last Lloyd step.
    *
    * Scale shape per round: one narrow corpus pass against a broadcast
    * centroid table, one partial-aggregated shuffle of
    * O(nlist × D × partitions) mean cells, one broadcast-sized join.
    * The corpus is never shuffled. `Scale.materialize` truncates the
    * per-round lineage (iterative-DataFrame trap).
    *
    * Why bother at 100 TB: hash-sampled centroids are valid but
    * unrefined — recall-per-nprobe is materially worse than after a few
    * Lloyd rounds, which is the difference between nprobe=8 and
    * nprobe=64 doing the same job over a petabyte-scale index.
    */
  def refineCentroids(corpus: DataFrame, centroids: DataFrame,
      iters: Int): DataFrame = {
    var cent = centroids
    for (_ <- 0 until iters) {
      val assigned = corpus.crossJoin(broadcast(cent))
        .select(col("cid"), col("cvec"), col("centroid_id"),
          GraftFunctions.cosine(col("cvec"), col("centroid_vec")).as("csim"))
        .groupBy(col("cid"))
        .agg(max_by(col("centroid_id"),
            struct(col("csim"), -col("centroid_id"))).as("centroid_id"),
          first(col("cvec")).as("cvec"))
      val means = Vectors.groupCentroids(assigned, "centroid_id", "cvec")
        .groupBy(col("centroid_id"))
        .agg(transform(array_sort(collect_list(struct(col("dim"), col("mean")))),
          s => s.getField("mean").cast(FloatType)).as("new_vec"))
      cent = cent.join(means, Seq("centroid_id"), "left")
        .select(col("centroid_id"),
          coalesce(col("new_vec"), col("centroid_vec")).as("centroid_vec"))
        .transform(Scale.materialize)
    }
    cent
  }

  /** Product-quantization (PQ) top-k with exact re-rank — the
    * memory-compression ANN path: at 100 TB the full float corpus cannot
    * sit hot, but m single-byte codes per vector (a 32× shrink at
    * dim=64, m=8) can.
    *
    * Pipeline:
    *  1. Codebook = `codes` corpus vectors chosen by the deterministic
    *     ANSI-replayable multiplicative hash (same key as [[ivfTopK]]'s
    *     centroid sample), each split into m subspace slices. Collected
    *     once to the driver: codes × dim doubles, an LSH-plane-sized
    *     algorithm constant, never data-scale.
    *  2. Encode (the only stage touching every row): codegen'd
    *     [[graft.functions.PqEncode]] maps each vector to its m nearest
    *     sub-codebook entries (L2, first-minimum tiebreak) in one narrow
    *     pass — no shuffle, scan speed.
    *  3. Queries precompute a flat ADC lookup table (codegen'd
    *     [[graft.functions.PqLut]], once per broadcast query row), so
    *     scoring a pair ([[graft.functions.PqAdc]]) costs m table adds
    *     instead of a dim-wide dot — the asymmetric-distance trick that
    *     makes PQ candidate generation ~dim/m× cheaper than brute force.
    *  4. Top-`rerank` ADC candidates per query (capacity-bounded
    *     aggregator — Q·rerank·partitions rows cross the shuffle), then
    *     exact float cosine re-ranks the candidates via broadcast joins
    *     (the corpus is never shuffled) and keeps the final k.
    *
    * Recall < 1 by construction (quantization error can push a true
    * neighbor below the rerank cut); raise `rerank` or `codes` before m.
    */
  def pqTopK(corpus: DataFrame, queries: DataFrame, k: Int, dim: Int,
      m: Int = 8, codes: Int = 16, rerank: Int = 20,
      excludeSelf: Boolean = true): DataFrame = {
    require(dim % m == 0, s"pqTopK: dim=$dim not divisible by m=$m")
    require(rerank >= k, s"pqTopK: rerank=$rerank < k=$k")
    val subDim = dim / m

    val sampled = corpus
      .orderBy(pmod(col("cid") * lit(2654435761L), lit(2147483647L)), col("cid"))
      .limit(codes)
      .select(col("cvec")).collect()
    require(sampled.length == codes, s"pqTopK: corpus smaller than codes=$codes")
    val codebook: Array[Array[Array[Double]]] = Array.tabulate(m) { mi =>
      sampled.map(_.getSeq[Float](0)
        .slice(mi * subDim, (mi + 1) * subDim).map(_.toDouble).toArray)
    }

    val encoded = corpus.select(col("cid"),
      GraftFunctions.pqEncode(col("cvec"), codebook).as("codes"))
    val luts = queries.select(col("qid"),
      GraftFunctions.pqLut(col("qvec"), codebook).as("lut"))

    val topR = udaf(new TopKAggregator(rerank), Encoders.product[Scored])
    val candidates = encoded.crossJoin(broadcast(luts))
      .where(if (excludeSelf) col("cid") =!= col("qid") else lit(true))
      .select(col("qid"), col("cid"),
        GraftFunctions.pqAdc(col("codes"), col("lut"), codes).as("adc"))
      .groupBy(col("qid"))
      .agg(topR(col("cid"), col("adc")).as("top"))
      .select(col("qid"), explode(col("top.id")).as("cid"))

    exactRerank(corpus, queries, candidates, k)
  }


  /** Per-dimension [min, max] corpus stats for SQ8 quantization: one
    * partial-aggregated posexplode pass, 2·dim doubles collected
    * (bounded metadata, the centroid/codebook pattern). */
  private def sq8Stats(corpus: DataFrame): (Array[Double], Array[Double]) = {
    val stats = corpus
      .select(posexplode(col("cvec")).as(Seq("pos", "x")))
      .groupBy(col("pos"))
      .agg(min(col("x").cast(DoubleType)).as("mn"),
        max(col("x").cast(DoubleType)).as("mx"))
      .collect().map(r => (r.getInt(0), r.getDouble(1), r.getDouble(2)))
      .sortBy(_._1)
    (stats.map(_._2), stats.map(_._3))
  }

  /** Shared exact-cosine re-rank epilogue of every quantized ANN path:
    * join the (small, broadcast) candidate list back to raw corpus
    * vectors and queries, score with the codegen'd cosine, keep top-k
    * per query with the (score desc, id) capacity-bounded aggregator —
    * the corpus side stays narrow, nothing data-sized shuffles. */
  private def exactRerank(corpus: DataFrame, queries: DataFrame,
      candidates: DataFrame, k: Int): DataFrame = {
    val topk = udaf(new TopKAggregator(k), Encoders.product[Scored])
    // Scale.fanOut (§2.3): the cosine + bounded top-k pass is CPU-bound
    // and a 1-2-split corpus runs it single-task; no-op at scale.
    Scale.fanOut(corpus).join(broadcast(candidates), Seq("cid"))
      .join(broadcast(queries), Seq("qid"))
      .select(col("qid"), col("cid"),
        GraftFunctions.cosine(col("qvec"), col("cvec")).as("sim"))
      .groupBy(col("qid"))
      .agg(topk(col("cid"), col("sim")).as("top"))
      .select(col("qid").as("query_id"), posexplode(col("top")))
      .select(col("query_id"),
        col("col.id").as("corpus_id"),
        col("col.score").as("cosine"),
        (col("pos") + 1).cast(LongType).as("rank"))
  }

  /** Scalar-quantized (SQ8, FAISS terminology) top-k — the
    * 4x-compression tier between raw floats and [[pqTopK]]: each
    * dimension is affinely quantized to one byte against per-dimension
    * corpus [min, max] stats, so the ADC scan reads a quarter of the
    * bytes at far better fidelity than PQ's m-byte codes (256 levels
    * PER DIMENSION vs per-subspace centroids). The standard serving
    * ladder is SQ8 when memory budget allows, PQ when it doesn't.
    *
    * Scale shape — the corpus is NEVER shuffled:
    *  1. Stats: one partial-aggregated posexplode min/max per dimension
    *     (2·dim doubles collected — bounded metadata, the
    *     centroid/codebook pattern).
    *  2. Encode: one narrow codegen'd pass ([[GraftFunctions.sq8Encode]])
    *     to a dim-byte BINARY column.
    *  3. ADC: broadcast the (small) query batch, score codes in place
    *     with the fused reconstruction dot ([[GraftFunctions.sq8Adc]]);
    *     top-`rerank` per query via the capacity-bounded aggregator, so
    *     only Q·rerank·partitions rows cross the one shuffle.
    *  4. Exact float cosine re-rank of the candidates via broadcast
    *     joins, keep k.
    *
    * Composes with IVF exactly as PQ does (swap the in-bucket scorer);
    * kept flat here as the mid-tier reference point. Recall < 1 by
    * construction; raise `rerank` first.
    */
  def sq8TopK(corpus: DataFrame, queries: DataFrame, k: Int,
      rerank: Int = 20, excludeSelf: Boolean = true): DataFrame = {
    require(rerank >= k, s"sq8TopK: rerank=$rerank < k=$k")
    val (mins, maxs) = sq8Stats(corpus)

    val encoded = corpus.select(col("cid"),
      GraftFunctions.sq8Encode(col("cvec"), mins, maxs).as("codes"))

    val topR = udaf(new TopKAggregator(rerank), Encoders.product[Scored])
    val candidates = encoded.crossJoin(broadcast(queries))
      .where(if (excludeSelf) col("cid") =!= col("qid") else lit(true))
      .select(col("qid"), col("cid"),
        GraftFunctions.sq8Adc(col("codes"), col("qvec"), mins, maxs).as("adc"))
      .groupBy(col("qid"))
      .agg(topR(col("cid"), col("adc")).as("top"))
      .select(col("qid"), explode(col("top.id")).as("cid"))

    exactRerank(corpus, queries, candidates, k)
  }

  /** Composed IVF-PQ top-k — the 100 TB ANN architecture: IVF pruning
    * decides WHICH vectors are scored, PQ compression decides HOW CHEAPLY,
    * and an exact float re-rank repairs quantization error on the
    * survivors. Neither half alone scales: flat PQ ([[pqTopK]]) still
    * ADC-scans the whole corpus per query batch, and raw IVF ([[ivfTopK]])
    * reranks full float vectors inside every probed bucket.
    *
    * Index build — ONE narrow codegen'd pass, the corpus is NEVER
    * shuffled:
    *  1. Centroids: `nlist` corpus rows by the deterministic
    *     ANSI-replayable multiplicative hash (same key as [[ivfTopK]]),
    *     optionally polished with `refineIters` Lloyd rounds
    *     ([[refineCentroids]] — better recall-per-nprobe at scale).
    *     Collected to the driver: nlist × dim doubles, an
    *     algorithm-sized constant like the PQ codebook.
    *  2. Codebook: `codes` hash-sampled rows split into `m` subspaces
    *     (exactly [[pqTopK]]'s — the s6/s8 oracles replay it).
    *  3. `corpus.select(cid, nearest_centroid(cvec), pq_encode(cvec))` —
    *     both [[graft.functions.NearestCentroid]] and
    *     [[graft.functions.PqEncode]] are codegen'd scalar expressions,
    *     so the build is scan-speed with zero exchanges. In a real
    *     deployment this frame is what you persist, partitioned by
    *     `centroid_id`: probing then becomes partition pruning and the
    *     hot index is m bytes/vector instead of 4·dim.
    *
    * Query — per broadcast-small query batch:
    *  4. Probe the `nprobe` best centroids per query and precompute the
    *     flat ADC LUT ([[graft.functions.PqLut]], once per query row).
    *  5. Join the PROBES (Q·nprobe rows) broadcast against the encoded
    *     corpus — the big side again stays un-shuffled — and ADC-score
    *     only rows inside probed buckets ([[graft.functions.PqAdc]],
    *     m table adds per pair, ~nlist/nprobe fewer pairs than flat PQ).
    *  6. Capacity-`rerank` aggregator cuts candidates (Q·rerank·partitions
    *     rows cross the only data-bearing shuffle), then exact cosine over
    *     the raw floats of survivors (broadcast id join) keeps the top k.
    *
    * Recall < 1 by construction (a true neighbor can sit in an unprobed
    * bucket, or quantization error can push it below the rerank cut);
    * raise nprobe first, then rerank. With nprobe = nlist AND
    * rerank ≥ corpus size the result equals [[bruteForceTopK]] exactly —
    * the s7 gate pins that, while the s8 gate replays the whole composed
    * pipeline (assignment, probing, encode, ADC cut, re-rank) in an
    * independent engine at realistic nprobe/rerank.
    */
  def ivfPqTopK(corpus: DataFrame, queries: DataFrame, k: Int, dim: Int,
      nlist: Int, nprobe: Int, m: Int = 8, codes: Int = 16, rerank: Int = 20,
      excludeSelf: Boolean = true, refineIters: Int = 0): DataFrame = {
    require(dim % m == 0, s"ivfPqTopK: dim=$dim not divisible by m=$m")
    require(rerank >= k, s"ivfPqTopK: rerank=$rerank < k=$k")
    require(nprobe >= 1 && nprobe <= nlist,
      s"ivfPqTopK: nprobe=$nprobe out of range [1, $nlist]")
    val subDim = dim / m
    val hashKey = pmod(col("cid") * lit(2654435761L), lit(2147483647L))

    val sampled = hashSampleCentroids(corpus, nlist)
    val centroidsDf =
      if (refineIters > 0) refineCentroids(corpus, sampled, refineIters)
      else sampled
    val centRows = centroidsDf.orderBy("centroid_id").collect()
    require(centRows.length == nlist,
      s"ivfPqTopK: corpus smaller than nlist=$nlist")
    val centIds = centRows.map(_.getLong(0))
    val centVecs = centRows.map(_.getSeq[Float](1).map(_.toDouble).toArray)

    val sampledCb = corpus.orderBy(hashKey, col("cid"))
      .limit(codes).select(col("cvec")).collect()
    require(sampledCb.length == codes,
      s"ivfPqTopK: corpus smaller than codes=$codes")
    val codebook: Array[Array[Array[Double]]] = Array.tabulate(m) { mi =>
      sampledCb.map(_.getSeq[Float](0)
        .slice(mi * subDim, (mi + 1) * subDim).map(_.toDouble).toArray)
    }

    // Index build: one narrow pass, no data-keyed exchange. fanOut
    // floors the CPU-bound assign/encode/ADC chain at the core count
    // (the r18 s7 profile read it as a 1.3 s single-task stage on the
    // 1-split gate corpus); no-op once the scan has >= cores splits.
    val encoded = Scale.fanOut(corpus).select(col("cid"),
      GraftFunctions.nearestCentroid(col("cvec"), centIds, centVecs)
        .as("centroid_id"),
      GraftFunctions.pqEncode(col("cvec"), codebook).as("codes"))

    // Probe: nprobe best centroids per query, LUT computed once per query.
    val probeAgg = udaf(new TopKAggregator(nprobe), Encoders.product[Scored])
    val probes = queries.crossJoin(broadcast(centroidsDf))
      .select(col("qid"), col("qvec"), col("centroid_id"),
        GraftFunctions.cosine(col("qvec"), col("centroid_vec")).as("psim"))
      .groupBy(col("qid"))
      .agg(probeAgg(col("centroid_id"), col("psim")).as("top"),
        first(col("qvec")).as("qvec"))
      .select(col("qid"),
        GraftFunctions.pqLut(col("qvec"), codebook).as("lut"),
        explode(col("top.id")).as("centroid_id"))

    // ADC scan restricted to probed buckets; probes broadcast, corpus narrow.
    val topR = udaf(new TopKAggregator(rerank), Encoders.product[Scored])
    val candidates = encoded.join(broadcast(probes), Seq("centroid_id"))
      .where(if (excludeSelf) col("cid") =!= col("qid") else lit(true))
      .select(col("qid"), col("cid"),
        GraftFunctions.pqAdc(col("codes"), col("lut"), codes).as("adc"))
      .groupBy(col("qid"))
      .agg(topR(col("cid"), col("adc")).as("top"))
      .select(col("qid"), explode(col("top.id")).as("cid"))

    // Exact re-rank of survivors over raw floats; corpus side stays narrow.
    exactRerank(corpus, queries, candidates, k)
  }

  /** Composed IVF-SQ8 top-k: IVF pruning decides WHICH vectors are
    * scored, int8 scalar quantization decides HOW CHEAPLY — the same
    * architecture as [[ivfPqTopK]] with the in-bucket scorer swapped
    * from PQ codes (m bytes, per-subspace centroids) to SQ8 codes (dim
    * bytes, 256 levels PER dimension): 4x the code size of m=8 PQ but
    * far better fidelity, so the rerank cut can run tighter. This is
    * the serving ladder's memory/recall midpoint; stats are 2·dim
    * doubles vs a PQ codebook. Index build is one narrow pass (assign
    * + encode fused), probes broadcast, corpus never shuffled, exact
    * float rerank on survivors. */
  def ivfSq8TopK(corpus: DataFrame, queries: DataFrame, k: Int,
      nlist: Int, nprobe: Int, rerank: Int = 20,
      excludeSelf: Boolean = true): DataFrame = {
    require(rerank >= k, s"ivfSq8TopK: rerank=$rerank < k=$k")
    require(nprobe >= 1 && nprobe <= nlist,
      s"ivfSq8TopK: nprobe=$nprobe out of range [1, $nlist]")
    val centroidsDf = hashSampleCentroids(corpus, nlist)
    val centRows = centroidsDf.orderBy("centroid_id").collect()
    require(centRows.length == nlist,
      s"ivfSq8TopK: corpus smaller than nlist=$nlist")
    val centIds = centRows.map(_.getLong(0))
    val centVecs = centRows.map(_.getSeq[Float](1).map(_.toDouble).toArray)

    val (mins, maxs) = sq8Stats(corpus)

    // Index build: assign + encode in ONE narrow pass, no data-keyed
    // exchange; fanOut as in ivfPqTopK.
    val encoded = Scale.fanOut(corpus).select(col("cid"),
      GraftFunctions.nearestCentroid(col("cvec"), centIds, centVecs)
        .as("centroid_id"),
      GraftFunctions.sq8Encode(col("cvec"), mins, maxs).as("codes"))

    val probeAgg = udaf(new TopKAggregator(nprobe), Encoders.product[Scored])
    val probes = queries.crossJoin(broadcast(centroidsDf))
      .select(col("qid"), col("qvec"), col("centroid_id"),
        GraftFunctions.cosine(col("qvec"), col("centroid_vec")).as("psim"))
      .groupBy(col("qid"))
      .agg(probeAgg(col("centroid_id"), col("psim")).as("top"),
        first(col("qvec")).as("qvec"))
      .select(col("qid"), col("qvec"), explode(col("top.id")).as("centroid_id"))

    val topR = udaf(new TopKAggregator(rerank), Encoders.product[Scored])
    val candidates = encoded.join(broadcast(probes), Seq("centroid_id"))
      .where(if (excludeSelf) col("cid") =!= col("qid") else lit(true))
      .select(col("qid"), col("cid"),
        GraftFunctions.sq8Adc(col("codes"), col("qvec"), mins, maxs).as("adc"))
      .groupBy(col("qid"))
      .agg(topR(col("cid"), col("adc")).as("top"))
      .select(col("qid"), explode(col("top.id")).as("cid"))

    exactRerank(corpus, queries, candidates, k)
  }

  /** IVF top-k: probe only the `nprobe` nearest centroid buckets.
    * Centroids are a deterministic hash-ordered sample of the corpus,
    * optionally refined with `refineIters` Lloyd rounds
    * ([[refineCentroids]] — better recall-per-nprobe; 0 keeps the raw
    * sample, which is what the s2 gate oracle replays). The sample key
    * is a Knuth multiplicative hash
    * `pmod(cid * 2654435761, 2147483647)` with cid as tiebreak — chosen
    * over xxhash64 because it is ANSI-SQL-expressible, so an independent
    * engine can replay the whole IVF pipeline (the s2 gate oracle does).
    * Caveat: for cid > ~3.4e9 the int64 product wraps on the JVM where
    * strict engines overflow — ids that large should be pre-folded.
    * Returns the same schema as bruteForceTopK; recall < 1.0 by
    * construction.
    */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      nlist: Int, nprobe: Int, excludeSelf: Boolean = true,
      refineIters: Int = 0): DataFrame = {
    val topk = udaf(new TopKAggregator(k), Encoders.product[Scored])

    val sampled = hashSampleCentroids(corpus, nlist)
    val centroids =
      if (refineIters > 0) refineCentroids(corpus, sampled, refineIters)
      else sampled
    val assigned = assignToCentroids(corpus, centroids)
    val probes = rankedProbes(queries, centroids, nprobe).drop("prank")

    // Search only within probed buckets.
    val candidates = probes.join(assigned, "centroid_id")
      .where(if (excludeSelf) col("cid") =!= col("qid") else lit(true))
      .select(col("qid"),
        col("cid"),
        GraftFunctions.cosine(col("qvec"), col("cvec")).as("sim"))
    candidates
      .groupBy(col("qid"))
      .agg(topk(col("cid"), col("sim")).as("top"))
      .select(col("qid").as("query_id"), posexplode(col("top")))
      .select(col("query_id"),
        col("col.id").as("corpus_id"),
        col("col.score").as("cosine"),
        (col("pos") + 1).cast(LongType).as("rank"))
  }

  /** Hybrid lexical + dense retrieval fused by reciprocal-rank fusion
    * (Cormack, Clarke & Buettcher, SIGIR 2009): BM25 over the text
    * corpus and cosine top-k over the embedding corpus each produce a
    * ranked list, and a document's fused score is
    *
    *   rrf_e9 = Σ_lists scale div (rrfK + rank)     (missing ⇒ 0)
    *
    * in EXACT integer arithmetic — RRF consumes only RANKS, never the
    * incomparable raw scores, which is both why it needs no score
    * normalization across systems (the published argument for it) and
    * why the result is hash-gateable: ranks are integers, so the fused
    * ordering is bit-identical on any engine whose component rankings
    * agree (the s1/t11 rank-stability contracts).
    *
    * `queries` is ONE external query: a term list for the BM25 side and
    * a one-row (qid, qvec) frame for the dense side. The component
    * retrievals keep their own scale shapes (bm25Search's broadcast
    * df/corpus scalars, bruteForceTopK's partial top-k aggregator) and
    * each returns ≤ kLex/kDense rows, so the fusion join is over two
    * bounded lists — broadcast by construction, nothing corpus-sized
    * moves after the component top-ks.
    *
    * Output: (id, rrf_e9, lex_rank, dense_rank) — top `k` by
    * (rrf_e9 desc, id); null rank = absent from that component list. */
  def hybridTopK(docs: DataFrame, text: String, id: String,
      termQuery: Seq[String], corpus: DataFrame, queryVec: DataFrame,
      k: Int = 10, kLex: Int = 50, kDense: Int = 50,
      rrfK: Long = 60L, scale: Long = 1000000000L): DataFrame = {
    require(kDense >= 1, s"hybridTopK: kDense=$kDense")
    // ENFORCED, not just documented: a multi-row queryVec would emit
    // kDense ranks per query, and dropping query_id below would fuse
    // duplicate ids with conflicting ranks into a silently-corrupt
    // top-k. The check is one eager job over a ≤2-row limit of the
    // (broadcast-small by contract) query frame.
    val nq = queryVec.limit(2).count()
    require(nq == 1L,
      s"hybridTopK: queryVec must contain exactly ONE query row, got " +
        s"${if (nq == 0) "0" else ">= 2"}; for multi-query fusion call " +
        "hybridFromLists per query")
    hybridFromLists(
      bm25RankedList(docs, text, id, termQuery, kLex),
      bruteForceTopK(corpus, queryVec, kDense, excludeSelf = false)
        .select(col("corpus_id").as(id), col("rank").as("dense_rank")),
      id, k, rrfK, scale)
  }

  /** The lexical component list for [[hybridFromLists]]: BM25 top-kLex
    * as (id, lex_rank). Re-deriving the rank with a window over
    * bm25Search's OUTPUT is a single-partition sort of ≤ kLex rows —
    * bounded, not a corpus sort. */
  def bm25RankedList(docs: DataFrame, text: String, id: String,
      termQuery: Seq[String], kLex: Int): DataFrame = {
    require(kLex >= 1, s"bm25RankedList: kLex=$kLex")
    rankLex(TextAnalysis.bm25Search(docs, text, id, termQuery, kLex), id)
  }

  /** [[bm25RankedList]] served from a prebuilt/streamed
    * [[TextAnalysis.bm25Index]] relation instead of raw documents.
    * `stats` is the [[TextAnalysis.bm25Stats]] sidecar (union of
    * increments) — pass it on every real serve path so the corpus
    * scalars never re-aggregate the postings (contract on
    * [[TextAnalysis.bm25SearchIndex]]). */
  def bm25RankedListFromIndex(index: DataFrame, id: String,
      termQuery: Seq[String], kLex: Int,
      stats: DataFrame = null): DataFrame = {
    require(kLex >= 1, s"bm25RankedListFromIndex: kLex=$kLex")
    rankLex(TextAnalysis.bm25SearchIndex(index, id, termQuery, kLex,
      stats = stats), id)
  }

  /** Rank a TOP-K list (the bm25Search/bm25SearchIndex output, ≤ kLex
    * rows by contract) by (score desc, id asc). The k-bound is now
    * STRUCTURAL: the list collapses into ONE sorted in-row array
    * (collect_list + sort_array — bounded by k, the same in-row
    * discipline as the d16 heavy-gram order) and posexplode numbers
    * it, instead of the previous `row_number().over(Window.orderBy)`
    * global window — which computed the same ranks but relied on the
    * un-enforced k-bound invariant and spammed every serve path with
    * WindowExec "No Partition Defined" warnings (r17 verdict #3: the
    * spam masks real ones). score is LongType (integer BM25), so the
    * (-score, id) struct sort is exactly (score desc, id asc). */
  private def rankLex(scored: DataFrame, id: String): DataFrame =
    scored
      .agg(sort_array(collect_list(
        struct((-col("score")).as("__ns"), col(id).as("__id")))).as("__a"))
      .select(posexplode(col("__a")).as(Seq("__p", "__e")))
      .select(col("__e.__id").as(id),
        (col("__p") + 1).cast(LongType).as("lex_rank"))

  /** RRF fusion over ANY two ranked lists — the serve-path decoupling:
    * the dense list can come from [[bruteForceTopK]] (the hybridTopK
    * convenience), or from any tier of the ANN ladder
    * ([[ivfTopK]]/[[ivfPqTopK]]/SQ8 — at exact settings like
    * nprobe = nlist the fusion stays hash-gateable, the s15 gate; at
    * recall < 1 settings the fused list inherits the component's
    * tolerance contract). `lex` must carry (id, lex_rank), `dense`
    * (id, dense_rank), both rank-1-best; either may be empty. */
  def hybridFromLists(lex: DataFrame, dense: DataFrame, id: String,
      k: Int = 10, rrfK: Long = 60L,
      scale: Long = 1000000000L): DataFrame = {
    require(k >= 1 && rrfK >= 0L && scale >= 1L,
      s"hybridFromLists: bad params k=$k rrfK=$rrfK scale=$scale")
    lex.join(dense, Seq(id), "full_outer")
      .withColumn("rrf_e9",
        expr(s"coalesce(${scale}L div (${rrfK}L + lex_rank), 0L) + " +
          s"coalesce(${scale}L div (${rrfK}L + dense_rank), 0L)"))
      .orderBy(col("rrf_e9").desc, col(id))
      .limit(k)
      .select(col(id), col("rrf_e9"), col("lex_rank"), col("dense_rank"))
  }

  /** Hybrid RRF retrieval served ENTIRELY from the two persisted index
    * families — the production serve shape: the lexical list comes from
    * a pre-opened [[Bm25Index.Opened]] handle (query-term-filtered
    * postings scan, takedown markers broadcast-anti-joined, N/T folded
    * as the marker-sized negative stats increment — the t57/t60
    * contract) and the dense list from a pre-opened
    * [[AnnIndex.Opened]] handle (nprobe-pruned ADC scan over the
    * encoded table, its own delete markers anti-joined — the s30
    * contract). NOTHING corpus-shaped is rebuilt, re-tokenized, or
    * re-encoded per query; both component serves read only their
    * persisted index, and takedowns on EITHER side are reflected in
    * the fused list (a taken-down document can contribute neither
    * rank).
    *
    * Exactness contract, inherited per side: the lexical list always
    * equals fresh BM25 over the remaining corpus (integer scoring);
    * the dense list is exact at nprobe = nlist with rerank ≥ the live
    * corpus size (the s9 full-probing equality) — the s31 gate pins
    * the fused list hash-exactly at those settings against a
    * remaining-corpus oracle — and at pruned settings the fusion
    * inherits the ANN tier's recall-tolerance contract
    * ([[hybridFromLists]] doc).
    *
    * Scale shape: both serves are index-only and query-sized after
    * their pruned scans; the fusion itself is [[hybridFromLists]]'s
    * bounded full-outer join over ≤ kLex + kDense rows. `queryVec` is
    * ONE (qid, qvec) row — enforced eagerly, same trap as
    * [[hybridTopK]]. Output (doc_id, rrf_e9, lex_rank, dense_rank). */
  def hybridFromPersisted(bm25: Bm25Index.Opened, ann: AnnIndex.Opened,
      termQuery: Seq[String], queryVec: DataFrame,
      nprobe: Int, rerank: Int, k: Int = 10,
      kLex: Int = 50, kDense: Int = 50,
      rrfK: Long = 60L, scale: Long = 1000000000L): DataFrame = {
    require(kLex >= 1 && kDense >= 1,
      s"hybridFromPersisted: kLex=$kLex kDense=$kDense")
    val nq = queryVec.limit(2).count()
    require(nq == 1L,
      s"hybridFromPersisted: queryVec must contain exactly ONE query " +
        s"row, got ${if (nq == 0) "0" else ">= 2"}; for multi-query " +
        "fusion call hybridFromLists per query")
    val lex = rankLex(bm25.search(termQuery, kLex), "doc_id")
    // excludeSelf=false: hybrid fuses an EXTERNAL query's two views of
    // the corpus — a corpus vector that happens to share the query's id
    // is still a legitimate dense hit (the s14 convention)
    val dense = AnnIndex.queryIvfPq(ann, queryVec, kDense, nprobe,
        rerank, excludeSelf = false)
      .select(col("corpus_id").as("doc_id"), col("rank").as("dense_rank"))
    hybridFromLists(lex, dense, "doc_id", k, rrfK, scale)
  }

  /** Hybrid retrieval MINING at training-set scale, served from both
    * persisted indexes — [[hybridFromPersisted]] for a DISTRIBUTED
    * query relation: `termQueries` (qid, term) rows feed the batch
    * lexical serve ([[Bm25Index.Opened.searchMany]] — one pass of the
    * vocabulary-filtered live postings for every query at once) and
    * `vecQueries` (qid, qvec) rows feed [[AnnIndex.mineTopK]] (the
    * never-broadcast bucket-join dense path), so the "queries" can be
    * the training corpus itself — the DPR shape where every training
    * example mines its own fused candidate list. Takedowns on either
    * index apply to every query's list, exactly as in the single-query
    * serve.
    *
    * Fusion is per-qid RRF in exact integer arithmetic: both component
    * lists are ≤ k-deep PER QUERY, so the full-outer join and the
    * qid-partitioned rank window move Q·(kLex + kDense) rows — query-
    * set-linear, never corpus × queries. Exactness inherits per side
    * (lexical always exact; dense exact at nprobe = nlist with
    * rerank ≥ live corpus — the s32 gate pins the fused output
    * hash-exactly at those settings against per-query remaining-corpus
    * oracles; pruned settings inherit the ANN tier's recall
    * tolerance).
    *
    * Output: (qid, doc_id, rrf_e9, lex_rank, dense_rank, rrf_rank),
    * rrf_rank 1..k per qid by (rrf_e9 desc, doc_id). */
  def hybridMineFromPersisted(bm25: Bm25Index.Opened,
      ann: AnnIndex.Opened, termQueries: DataFrame,
      vecQueries: DataFrame, nprobe: Int, rerank: Int, k: Int = 10,
      kLex: Int = 50, kDense: Int = 50, rrfK: Long = 60L,
      scale: Long = 1000000000L, pushDownTerms: Int = 1000): DataFrame = {
    require(k >= 1 && kLex >= 1 && kDense >= 1 && rrfK >= 0L && scale >= 1L,
      s"hybridMineFromPersisted: bad params k=$k kLex=$kLex " +
        s"kDense=$kDense rrfK=$rrfK scale=$scale")
    val lex = bm25.searchMany(termQueries, kLex, pushDownTerms)
      .select(col("qid"), col("doc_id"), col("lex_rank"))
    val dense = AnnIndex.mineTopK(ann, vecQueries, kDense, nprobe,
        rerank, excludeSelf = false)
      .select(col("query_id").as("qid"), col("corpus_id").as("doc_id"),
        col("rank").as("dense_rank"))
    lex.join(dense, Seq("qid", "doc_id"), "full_outer")
      .withColumn("rrf_e9",
        expr(s"coalesce(${scale}L div (${rrfK}L + lex_rank), 0L) + " +
          s"coalesce(${scale}L div (${rrfK}L + dense_rank), 0L)"))
      .withColumn("rrf_rank", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("qid"))
          .orderBy(col("rrf_e9").desc, col("doc_id").asc))
        .cast(org.apache.spark.sql.types.LongType))
      .where(col("rrf_rank") <= k)
      .select(col("qid"), col("doc_id"), col("rrf_e9"),
        col("lex_rank"), col("dense_rank"), col("rrf_rank"))
  }

  /** Index-tuning recall evaluation: per-query recall@k of an
    * approximate result list against the exact one — THE metric every
    * nlist/nprobe/rerank knob on the ANN ladder is tuned by. Both
    * inputs carry (query_id, corpus_id) result rows (ranks/scores
    * ignored — recall is a SET measure); `exact` defines both the
    * query universe and k (its per-query row count), so a query the
    * approximate tier missed entirely still reports, at recall 0.
    *
    * Output: (query_id, k, n_hit, recall_ppm) with recall in exact
    * integer parts-per-million (n_hit * 1e6 div k) — hash-gateable,
    * no float tolerance.
    *
    * Scale shape: both inputs are RESULT lists (Q·k rows, bounded by
    * the component top-ks), not corpora — the semi-join and the two
    * Q-row aggregates are broadcast-scale no matter the corpus size
    * behind them. */
  def recallReport(approx: DataFrame, exact: DataFrame): DataFrame = {
    val hits = exact.select(col("query_id"), col("corpus_id"))
      .join(approx.select(col("query_id"), col("corpus_id")),
        Seq("query_id", "corpus_id"), "left_semi")
      .groupBy(col("query_id")).agg(count(lit(1)).as("n_hit"))
    exact.groupBy(col("query_id")).agg(count(lit(1)).as("k"))
      .join(hits, Seq("query_id"), "left_outer")
      .select(col("query_id"), col("k"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"),
        expr("coalesce(n_hit, 0L) * 1000000L div k").as("recall_ppm"))
  }

  /** Deterministic hash-ordered centroid sample shared by every inline
    * IVF build (the ANSI-replayable Knuth multiplicative hash — see
    * [[ivfTopK]]'s scaladoc for the choice): (centroid_id,
    * centroid_vec). One implementation so s2/s16/s28 (and every oracle
    * replaying `(cid * 2654435761) % 2147483647`) stay in lockstep by
    * construction. */
  private[ext] def hashSampleCentroids(corpus: DataFrame,
      nlist: Int): DataFrame =
    corpus
      .orderBy(pmod(col("cid") * lit(2654435761L), lit(2147483647L)),
        col("cid"))
      .limit(nlist)
      .select(col("cid").as("centroid_id"), col("cvec").as("centroid_vec"))

  /** Best-centroid assignment (max cosine, lowest-id tie) of every
    * corpus row against a broadcast centroid table — one narrow pass +
    * one aggregation: (cid, centroid_id, cvec). */
  private[ext] def assignToCentroids(corpus: DataFrame,
      centroids: DataFrame): DataFrame =
    corpus.crossJoin(broadcast(centroids))
      .select(col("cid"), col("cvec"), col("centroid_id"),
        GraftFunctions.cosine(col("cvec"), col("centroid_vec")).as("csim"))
      .groupBy(col("cid"))
      .agg(max_by(col("centroid_id"),
          struct(col("csim"), -col("centroid_id"))).as("centroid_id"),
        first(col("cvec")).as("cvec"))

  /** Ranked probe list per query — (qid, qvec, prank, centroid_id)
    * with prank 1-based best-first (cosine desc, centroid_id asc):
    * the nprobe bucket selection, rank kept so tiered consumers
    * ([[recallCurve]]) can prefix-slice it; [[ivfTopK]] drops it. */
  private[ext] def rankedProbes(queries: DataFrame, centroids: DataFrame,
      nprobe: Int): DataFrame = {
    val probeAgg = udaf(new TopKAggregator(nprobe), Encoders.product[Scored])
    queries.crossJoin(broadcast(centroids))
      .select(col("qid"), col("qvec"), col("centroid_id"),
        GraftFunctions.cosine(col("qvec"), col("centroid_vec")).as("psim"))
      .groupBy(col("qid"))
      .agg(probeAgg(col("centroid_id"), col("psim")).as("top"),
        first(col("qvec")).as("qvec"))
      .select(col("qid"), col("qvec"), posexplode(col("top.id")))
      .select(col("qid"), col("qvec"), (col("pos") + 1).as("prank"),
        col("col").as("centroid_id"))
  }

  /** ANN recall CURVE over nprobe tiers in ONE corpus pass — the d22
    * multi-n trick applied to the s16/s18 recall measurement: tuning
    * nprobe by running the serve once per candidate value scans the
    * corpus |tiers| times, but every tier's candidate set is a PREFIX
    * of the same probe order, so one serve at max(nprobes) with each
    * bucket tagged by its probe rank derives every tier's top-k from
    * the same scan. Per (query, nprobe): the exact-vs-approx hit count
    * and recall in integer ppm (hash-gateable; recall is non-decreasing
    * in nprobe per query by construction — the spec pins it).
    *
    * Plan: one corpus assignment pass (broadcast centroid table — the
    * ivfTopK build, refineIters 0 so the whole pipeline stays
    * ANSI-replayable), one bucket join against the ranked probe list,
    * one |tiers|-tagged explode of the candidate rows (each corpus row
    * sits in exactly ONE bucket, so a candidate appears once per query
    * before tagging), one (qid, tier) top-k aggregate, and
    * result-list-sized recall joins. The brute-force judgment side is
    * the same single corpus pass every recall gate already pays.
    *
    * Output: (query_id, nprobe, k, n_hit, recall_ppm), one row per
    * query × tier (a tier that missed everything still reports 0). */
  def recallCurve(corpus: DataFrame, queries: DataFrame, k: Int,
      nlist: Int, nprobes: Seq[Int],
      excludeSelf: Boolean = true): DataFrame = {
    require(nprobes.nonEmpty && nprobes.distinct.size == nprobes.size &&
      nprobes.forall(np => np >= 1 && np <= nlist),
      s"recallCurve: nprobes=$nprobes must be distinct values in [1, $nlist]")
    val maxProbe = nprobes.max
    val exact = bruteForceTopK(corpus, queries, k, excludeSelf)
      .select(col("query_id"), col("corpus_id"))

    val centroids = hashSampleCentroids(corpus, nlist)
    val assigned = assignToCentroids(corpus, centroids)
    val probes = rankedProbes(queries, centroids, maxProbe)

    val tierArr = array(nprobes.map(np => lit(np.toLong)): _*)
    val cand = probes.join(assigned, "centroid_id")
      .where(if (excludeSelf) col("cid") =!= col("qid") else lit(true))
      .select(col("qid"), col("cid"),
        GraftFunctions.cosine(col("qvec"), col("cvec")).as("sim"),
        explode(filter(tierArr, np => np >= col("prank"))).as("nprobe"))

    val topk = udaf(new TopKAggregator(k), Encoders.product[Scored])
    val approx = cand.groupBy(col("qid"), col("nprobe"))
      .agg(topk(col("cid"), col("sim")).as("top"))
      .select(col("qid").as("query_id"), col("nprobe"),
        explode(col("top.id")).as("corpus_id"))

    val hits = exact
      .join(approx, Seq("query_id", "corpus_id"))
      .groupBy(col("query_id"), col("nprobe"))
      .agg(count(lit(1)).as("n_hit"))
    val spark = corpus.sparkSession
    import spark.implicits._
    val tiers = nprobes.map(_.toLong).toDF("nprobe")
    exact.groupBy(col("query_id")).agg(count(lit(1)).as("k"))
      .crossJoin(broadcast(tiers))
      .join(hits, Seq("query_id", "nprobe"), "left_outer")
      .select(col("query_id"), col("nprobe"), col("k"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"),
        expr("coalesce(n_hit, 0L) * 1000000L div k").as("recall_ppm"))
  }

  /** Full retrieval-quality evaluation — the standard IR metric trio
    * (recall@k, precision@k, MRR, MAP) per query, each in EXACT integer
    * parts-per-million so the report itself hash-gates with no float
    * tolerance (every division is an integer ppm floor; MAP's
    * per-position precision terms floor individually before averaging,
    * documented as the ppm-floor variant of Buckley's AP):
    *
    *  - recall_ppm    = n_hit · 1e6 div n_rel
    *  - precision_ppm = n_hit · 1e6 div kEval
    *  - rr_ppm        = 1e6 div (rank of first relevant), 0 if none
    *  - ap_ppm        = (Σ_j j · 1e6 div r_j) div n_rel over the sorted
    *                    relevant ranks r_1 < … < r_(n_hit), j = 1-based
    *
    * `results` carries (query_id, corpus_id, rank); rows past `kEval`
    * are ignored (evaluate @k). `qrels` carries the relevant
    * (query_id, corpus_id) pairs and defines the query universe — a
    * query the retriever missed entirely still reports, all-zero.
    * nDCG is deliberately absent: its log2 discount is not
    * exactly replayable across engines; the rank-reciprocal family
    * above covers the tuning signal with exact arithmetic.
    *
    * Scale shape: both inputs are RESULT/JUDGMENT lists (Q·k rows),
    * never corpora — the semi-join, the per-query sorted-rank list
    * (≤ kEval elements), and the Q-row aggregates are bounded by the
    * component top-ks no matter the corpus behind them. */
  def evalRetrieval(results: DataFrame, qrels: DataFrame,
      kEval: Int): DataFrame = {
    require(kEval > 0, s"evalRetrieval: kEval=$kEval")
    // Both inputs dedupe defensively: duplicate judgment rows would
    // inflate n_rel (deflating recall/AP), and a duplicate result doc
    // could push n_hit past n_rel (recall_ppm > 1e6). A repeated result
    // doc keeps its BEST rank — the standard trec_eval reading. Both
    // deduped frames are still list-sized (Q·k rows at most).
    val res = results.where(col("rank") <= kEval)
      .groupBy(col("query_id"), col("corpus_id"))
      .agg(min(col("rank")).as("rank"))
    val rel = qrels.select(col("query_id"), col("corpus_id")).distinct()
    val perHit = res
      .join(rel, Seq("query_id", "corpus_id"), "left_semi")
      .groupBy(col("query_id"))
      .agg(count(lit(1)).as("n_hit"),
        min(col("rank")).as("__first"),
        sort_array(collect_list(col("rank"))).as("__hr"))
    rel.groupBy(col("query_id")).agg(count(lit(1)).as("n_rel"))
      .join(perHit, Seq("query_id"), "left_outer")
      .select(col("query_id"), col("n_rel"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"),
        expr("coalesce(n_hit, 0L) * 1000000L div n_rel").as("recall_ppm"),
        expr(s"coalesce(n_hit, 0L) * 1000000L div ${kEval}L")
          .as("precision_ppm"),
        expr("coalesce(1000000L div __first, 0L)").as("rr_ppm"),
        expr("""coalesce(aggregate(transform(__hr,
            (r, i) -> (CAST(i AS BIGINT) + 1L) * 1000000L div r),
          0L, (a, x) -> a + x) div n_rel, 0L)""").as("ap_ppm"))
  }

  /** Margin-based parallel-pair mining (Artetxe & Schwenk 2019,
    * "Margin-based Parallel Corpus Mining with Multilingual Sentence
    * Embeddings" — the bitext-mining recipe behind CCMatrix/LASER):
    * a raw cosine threshold cannot separate translations from merely
    * related sentences because embedding-space density varies by
    * region, so each candidate pair's cosine is NORMALIZED by its two
    * endpoints' neighborhoods — the RATIO margin
    *
    *   margin(x, y) = cos(x, y) / ((avgNNk(x) + avgNNk(y)) / 2)
    *
    * where avgNNk(v) is the mean cosine of v's k nearest neighbors on
    * the OTHER side. Candidates are each source's forward top-1 target
    * (`mutual = true` additionally requires the pair to be the
    * target's backward top-1 — the paper's intersection strategy);
    * pairs at margin ≥ `minMargin` are emitted.
    *
    * Determinism (hash-gate contract): the k neighbor cosines sum in
    * DECIMAL(38,18) — exact and order-free, so the margin's
    * denominator never depends on aggregation order; the final
    * margin = cosine · (cnt_s + cnt_t) / (sums as double) — exact
    * integer counts, = cosine · 2k when both lists are full — is one
    * double product and one double division of bit-identical inputs
    * on both engines.
    *
    * Scale shape: both directions run the capacity-k top-k aggregate
    * over ONE pass of the other side (the [[bruteForceTopK]] contract
    * — the smaller side broadcast); at corpus×corpus scale swap each
    * direction for the persisted-index serve
    * ([[AnnIndex.mineHardNegatives]]'s distributed-query shape) — the
    * margin fold downstream is unchanged, it only consumes (query_id,
    * corpus_id, cosine, rank) lists.
    *
    * src: (sid BIGINT, svec ARRAY<FLOAT>); tgt: (tid, tvec).
    * Output: (src_id, tgt_id, cosine, margin) for kept pairs. */
  def marginMine(src: DataFrame, tgt: DataFrame, k: Int,
      minMargin: Double, mutual: Boolean = false): DataFrame = {
    require(k > 0, s"marginMine: k=$k")
    marginFromLists(
      bruteForceTopK(
        tgt.select(col("tid").as("cid"), col("tvec").as("cvec")),
        src.select(col("sid").as("qid"), col("svec").as("qvec")),
        k, excludeSelf = false),
      bruteForceTopK(
        src.select(col("sid").as("cid"), col("svec").as("cvec")),
        tgt.select(col("tid").as("qid"), col("tvec").as("qvec")),
        k, excludeSelf = false),
      k, minMargin, mutual)
  }

  /** The [[marginMine]] fold DECOUPLED from the retrieval tier: both
    * inputs are (query_id, corpus_id, cosine, rank) top-k lists —
    * `fwd` source→target, `bwd` target→source — from ANY serve
    * (brute force for the broadcast-small tier, the persisted-index
    * distributed-query serve [[AnnIndex.mineTopK]] for corpus×corpus
    * mining; the hybridFromLists pattern applied to margins). The fold
    * itself only touches result lists: two per-endpoint decimal sums,
    * the forward-top-1 candidate set, and one scan-speed margin
    * filter — bounded by the component top-ks whatever corpus sits
    * behind them.
    *
    * Short lists are handled: the normalizer is the POOLED mean of the
    * two neighborhoods — cosine · (|fwd list| + |bwd list|) /
    * (Σfwd + Σbwd) — using each endpoint's ACTUAL list length, so a
    * query with fewer than `k` neighbors (corpus smaller than k, or a
    * truncated served list) divides by its real count instead of
    * inflating the margin with a phantom `k` denominator. When both
    * lists carry exactly k rows (the usual serve) this is bit-identical
    * to the paper's cosine · 2k / (Σfwd + Σbwd). */
  def marginFromLists(fwd: DataFrame, bwd: DataFrame, k: Int,
      minMargin: Double, mutual: Boolean = false): DataFrame = {
    // `k` is VALIDATION-ONLY since the count-aware normalizer: the
    // margin divides by each list's actual length, so the value no
    // longer shapes the fold — it documents the k the lists were
    // served with and keeps the marginMine pass-through signature.
    require(k > 0, s"marginFromLists: k=$k")
    marginFromSums(fwd, tgtNeighborhoodSums(bwd), minMargin,
      bwdBest =
        if (!mutual) None
        else Some(bwd.where(col("rank") === 1)
          .select(col("query_id").as("tid"), col("corpus_id").as("sid"))))
  }

  /** The backward-direction neighborhood statistics of the margin fold,
    * MATERIALIZABLE: (tid, __tsum DECIMAL(38,18), __tcnt) per target
    * from its (query_id, corpus_id, cosine, rank) top-k list. In a
    * serving deployment where the target corpus is fixed and sources
    * arrive over time (an ingest stream mined against a reference
    * corpus — st35's shape), this is computed ONCE from one
    * target→source serve and persisted; each arriving source batch then
    * folds margins against the static sums via [[marginFromSums]]
    * without ever re-serving the backward direction. The decimal sums
    * keep the fold order-free, so the materialized relation is exactly
    * what [[marginFromLists]] would derive inline. */
  def tgtNeighborhoodSums(bwd: DataFrame): DataFrame = {
    val dec = DecimalType(38, 18)
    bwd.groupBy(col("query_id").as("tid"))
      .agg(sum(col("cosine").cast(dec)).as("__tsum"),
        count(lit(1)).as("__tcnt"))
  }

  /** The margin fold with the backward neighborhoods PRE-AGGREGATED —
    * [[marginFromLists]] split at its natural seam: `fwd` is the
    * forward top-k lists of the sources at hand (batch-local under a
    * stream — each source's margin depends only on its own list), and
    * `tgtSums` is the static (tid, __tsum, __tcnt) relation from
    * [[tgtNeighborhoodSums]]. `bwdBest` (the backward rank-1 pairs,
    * equally static) enables mutual mode. Bit-identical to
    * [[marginFromLists]] on the same lists — the decimal sums and the
    * count-aware normalizer are unchanged, only WHEN the backward
    * aggregation runs moves. */
  def marginFromSums(fwd: DataFrame, tgtSums: DataFrame,
      minMargin: Double, bwdBest: Option[DataFrame] = None): DataFrame = {
    val dec = DecimalType(38, 18)
    val srcSum = fwd.groupBy(col("query_id").as("sid"))
      .agg(sum(col("cosine").cast(dec)).as("__ssum"),
        count(lit(1)).as("__scnt"))
    val best = fwd.where(col("rank") === 1)
      .select(col("query_id").as("sid"), col("corpus_id").as("tid"),
        col("cosine"))
    val candidates =
      bwdBest.fold(best)(bb => best.join(bb, Seq("sid", "tid"), "left_semi"))
    candidates
      .join(srcSum, Seq("sid"))
      .join(tgtSums, Seq("tid"))
      .select(col("sid").as("src_id"), col("tid").as("tgt_id"),
        col("cosine"),
        (col("cosine") * (col("__scnt") + col("__tcnt")).cast("double") /
          (col("__ssum") + col("__tsum")).cast("double")).as("margin"))
      .where(col("margin") >= minMargin)
  }
}
