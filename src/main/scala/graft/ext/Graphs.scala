package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed graph analytics over plain edge DataFrames — triangle
  * counting and PageRank, the two relationship-structure primitives a
  * training-data pipeline reaches for once near-dup PAIRS become a
  * GRAPH (dedup clusters, citation/link graphs for quality signals,
  * co-occurrence networks). Reference analogue: none — its surface
  * hands SQL text to Spark (box_export.py:36); these are the canned
  * iterative/structural plans that SQL surface cannot express in one
  * statement.
  *
  * Both operators take edges as (src, dst) rows — compose with
  * [[Dedup.minHashPairs]] / [[Analytics.cooccurrence]] output or any
  * relational edge construction.
  */
object Graphs {

  /** Per-node triangle counts via degree-ordered orientation (the
    * classical O(m^1.5) bound): each undirected edge is stored ONCE,
    * directed from its lower-(degree, id) endpoint to its higher one.
    * Every triangle {x, y, z} (in orientation order) is then found
    * exactly once, as the wedge (x→y, x→z) closed by the edge y→z.
    *
    * Scale shape: wedge expansion is the only superlinear step and the
    * orientation bounds it — a node generates wedges only from its
    * OUT-edges, and the degree orientation caps out-degree at O(√m)
    * (a celebrity node with 10^6 neighbours points INTO itself from
    * ~all of them and fans out to almost none, so the 10^12-wedge
    * blowup of the naive per-node expansion never materializes). The
    * closing check is one equi-join against the oriented edge list —
    * no 3-way self-join of the raw edges. Input direction and
    * duplicate/self edges are normalized away first.
    *
    * The wedge frame is still Θ(Σ d_out²) rows and MOST wedges never
    * close (triangles ≪ wedges on any sparse graph), yet the closing
    * semi-join would shuffle every one of them on (y, z). A broadcast
    * BLOOM filter over the normalized edge set — built in one
    * partial-aggregated scan of the RAW pairs, duplicates harmless,
    * no distinct shuffle — drops non-closing wedges MAP-SIDE before
    * that exchange, cutting the one superlinear shuffle to
    * ~triangles + fpp·wedges bytes (the sf1 probe measured the wedge
    * exchange as g1's entire cost envelope). False positives are
    * re-checked by the exact semi-join; false negatives cannot occur,
    * so the result is exact at any fpp. `closeBloomFpp = 0` disables
    * the pre-filter (plan-shape A/Bs).
    *
    * NOTE: the call is not lazy like a plain DataFrame transform — the
    * distinct edge set and the oriented edge list are EAGERLY
    * materialized (they feed five downstream references; the r16 10x
    * probe measured the un-materialized plan re-running the upstream
    * basket self-join repeatedly, 64 -> 33 s from the two cuts), and
    * with the pre-filter on the bloom build is a third eager job over
    * the cached set.
    *
    * Output: (node, n_triangles), the `topK` nodes by
    * (n_triangles desc, node) — or all nodes when topK = 0.
    */
  def triangleCounts(edges: DataFrame, src: String, dst: String,
      topK: Int = 0, closeBloomFpp: Double = 0.03): DataFrame = {
    val rawPairs = edges.select(
        least(col(src), col(dst)).as("u"), greatest(col(src), col(dst)).as("v"))
      .where(col("u").isNotNull && col("v").isNotNull && col("u") =!= col("v"))
    // The edge relation feeds FIVE downstream references (degree table,
    // bloom build + sizing, both wedge arms, the closing semi-join) and
    // its upstream is often expensive (g1's input is a basket
    // self-join) — materialize it once instead of re-deriving it per
    // reference. The r16 10x probe measured the un-materialized plan
    // re-running the self-join + distinct repeatedly: 64.1 -> 33.3 s
    // at 6M-row lineitem from these two checkpoints alone (and 6.2 ->
    // 5.0 s at the bench scale). 16 bytes/edge.
    val e = Scale.materialize(rawPairs.distinct())
    val deg = e.select(col("u").as("node"))
      .unionAll(e.select(col("v").as("node")))
      .groupBy("node").agg(count(lit(1)).as("d"))
    // Orientation rank rides along as a (degree, id) struct; struct
    // comparison is lexicographic, giving the total order directly.
    // Degree attachment and the wedge/closing joins below all take
    // SHUFFLED-HASH hints (guide §3.1): sort-merge — the planner default
    // — SORTS every input, and the wedge frame is the one superlinear
    // relation in the plan (Θ(Σ d_out²) rows); sorting it, and sorting
    // the edge frame three times, dominated the r17 g1 stage profile
    // (22.8 s + 14.4 s of task time in the two SMJ stages). Build sides
    // are the degree table / oriented edge list — per-partition
    // edge-linear, never wedge-sized, so the hash relations stay
    // bounded at any scale where partition counts track data volume.
    val ranked = e
      .join(deg.select(col("node").as("u"), struct(col("d"), col("node")).as("ru"))
        .hint("shuffle_hash"), "u")
      .join(deg.select(col("node").as("v"), struct(col("d"), col("node")).as("rv"))
        .hint("shuffle_hash"), "v")
    // referenced three times (two wedge arms + closure); same 16 B/edge.
    // Partitioned AND sorted by the wedge-join key BEFORE the cut
    // (guide §2.4 — share one exchange): a materialized frame declares
    // the partitioning and ordering it was written with, so BOTH wedge
    // arms read an already-hash(a)-partitioned, a-sorted relation and
    // the self-join plans with ZERO exchanges and ZERO sorts — the r17
    // plan paid one exchange + one sort per arm on the same frame.
    // One edge-sized exchange + in-partition sort here replaces two of
    // each there; core-count partitioning, as pinned for g2's rounds.
    val p = edges.sparkSession.sparkContext.defaultParallelism
    val oriented = Scale.materialize(ranked.select(
        when(col("ru") < col("rv"), col("u")).otherwise(col("v")).as("a"),
        when(col("ru") < col("rv"), col("v")).otherwise(col("u")).as("b"),
        when(col("ru") < col("rv"), col("rv")).otherwise(col("ru")).as("rb"))
      .repartition(p, col("a"))
      .sortWithinPartitions("a"))
    // The wedge SELF-join stays sort-merge deliberately: an A/B with a
    // shuffle_hash hint read 22.8 -> 24.4 s of stage task time (+2.2 s
    // GC) — the per-task hash relation over an arm of the edge list
    // costs more than sorting the arms, because the join's OUTPUT
    // (wedges) dwarfs both inputs either way. With the pre-sorted
    // checkpoint above, the SMJ's arm sorts vanish outright. The merge
    // hint keeps that shape when the measured edge list is small
    // enough to broadcast.
    val wedges = oriented.select(col("a"), col("b").as("y"), col("rb").as("ry"))
      .join(oriented.select(col("a"), col("b").as("z"), col("rb").as("rz"))
        .hint("merge"), "a")
      .where(col("ry") < col("rz"))
      .select(col("a").as("x"), col("y"), col("z"))
    // Map-side non-closing-wedge drop: membership is on the UNDIRECTED
    // pair, so the canonical (least, greatest) key built from raw pairs
    // equals the oriented (y, z) probe — orientation always directs the
    // id-normalized edge the same way for a fixed degree table.
    val prefiltered =
      if (closeBloomFpp <= 0.0) wedges
      else {
        // sized and built from the MATERIALIZED distinct edge set (the
        // bloom's content is set-valued anyway): before the checkpoint
        // this count re-ran the whole upstream join once just to size
        // the filter
        val nPairs = math.max(e.count(), 1L)
        // multi-column key form: the probe runs once per RAW wedge
        // (tens of millions of evaluations), so it must not pay a
        // per-row struct materialization — xxhash64 folds the two
        // longs directly in codegen
        val bloom = Scale.keyBloomCols(e,
          Seq(col("u"), col("v")), nPairs, closeBloomFpp)
        wedges.where(Scale.mightContainKeyCols(bloom,
          Seq(least(col("y"), col("z")), greatest(col("y"), col("z")))))
      }
    // The closing check probes the (bloom-prefiltered) wedge stream
    // against the edge list: shuffled-hash keeps the WEDGE side stream-
    // only — the sort-merge default sorted it, and it is the largest
    // relation in the whole query.
    val triangles = prefiltered.join(
      oriented.select(col("a").as("y"), col("b").as("z")).hint("shuffle_hash"),
      Seq("y", "z"), "left_semi")
    val counts = triangles
      .select(explode(array(col("x"), col("y"), col("z"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("n_triangles"))
    if (topK > 0) counts.orderBy(desc("n_triangles"), col("node")).limit(topK)
    else counts
  }

  /** PageRank with EXACT fixed-point integer arithmetic: ranks live as
    * BIGINT multiples of 1/SCALE (SCALE = 10^12) and every division is
    * a truncating integer `div`, so the result is bit-identical across
    * engines, partitionings, and replays — no float accumulation order
    * to disagree on. Per iteration, with d = dampingPct/100:
    *
    *   contrib(u) = rank(u) div outdeg(u)
    *   rank'(v)   = (100-dampingPct)·SCALE div (100·N)
    *                + dampingPct·Σ_{u→v} contrib(u) div 100
    *
    * Dangling nodes (outdeg 0) simply leak their mass — ranks no longer
    * sum to SCALE, which is fine for the RANKING use and keeps the
    * recurrence local (the mass-redistribution variant needs a global
    * scalar per round). Truncation loses < outdeg(u) units per node per
    * round — at SCALE = 10^12 that is noise, and it is the SAME noise
    * everywhere.
    *
    * Scale shape: each iteration is ONE join of the edge list against
    * the (one row per node) rank frame on the source key — both sides
    * hash-partitioned on that key, the edge side once up front and
    * reused every round — plus one partial-aggregated groupBy on dst.
    * State per node is a single long; `Scale.materialize` per round
    * truncates the growing lineage exactly as
    * [[Dedup.connectedComponents]] does. Total work: O(iters · m).
    *
    * Output: (node, rank_e12), top `topK` by (rank_e12 desc, node) —
    * or all nodes when topK = 0.
    */
  def pageRank(edges: DataFrame, src: String, dst: String,
      iters: Int = 5, dampingPct: Int = 85, topK: Int = 0): DataFrame = {
    require(iters >= 1 && iters <= 100, s"iters out of range: $iters")
    require(dampingPct >= 0 && dampingPct <= 100,
      s"dampingPct out of range: $dampingPct")
    val one = 1000000000000L // SCALE: rank units per 1.0
    // Iteration partitioning is pinned to an EXPLICIT count: an iterative
    // job re-pays every shuffle per round, so letting session-level AQE
    // sizing (high initialPartitionNum) float it multiplies per-round
    // task overhead by iters — measured 2x on the g2 bench when the
    // session moved to AQE-sized shuffles. A real cluster pins its graph
    // partitioning once up front for the same reason; rank rows are
    // node-sized (a long each), so core-count partitions never spill.
    val p = edges.sparkSession.sparkContext.defaultParallelism
    // The static frames ship as partition-preserving materializations,
    // not .cache() (r18): (a) an InMemoryRelation drags its full build
    // lineage into every task binary of every per-round stage — the
    // r18 profile read a fixed ~0.3 s/task across the ~30 tiny
    // per-round stages, more task time than the joins' real work —
    // while a LogicalRDD scan serializes to a few KB; (b) the
    // materialized frame KEEPS its hashpartitioning, so every
    // per-round join reads co-partitioned inputs with ZERO exchanges:
    // the transpose aggregation's single shuffle is all that remains
    // per round. Blocks are freed by the ContextCleaner when the
    // frames go unreachable.
    val e = Scale.materialize(edges
      .select(col(src).as("__s"), col(dst).as("__d"))
      .where(col("__s").isNotNull && col("__d").isNotNull)
      .distinct()
      .repartition(p, col("__s")))
    val nodes = Scale.materialize(e.select(col("__s").as("node"))
      .unionAll(e.select(col("__d").as("node")))
      .distinct()
      .repartition(p, col("node")))
    // Out-degrees are a pure function of the static edge set — computed
    // once (not re-aggregated from e every round as before r17: 5
    // rounds paid 5 degree aggregations + 5 extra joins). e is already
    // hash(__s, p)-partitioned, so the aggregation is exchange-free
    // and its output keeps that partitioning for the per-round join.
    val outdeg = Scale.materialize(e.groupBy(col("__s"))
      .agg(count(lit(1)).as("__od")))
    locally {
      val n = nodes.count()
      require(n > 0, "pageRank: empty graph")
      val base = (100L - dampingPct) * one / (100L * n)
      var ranks = nodes.withColumn("__r", lit(one / n))
      for (_ <- 1 to iters) {
        // contrib(u) = rank(u) div outdeg(u) is a function of the NODE,
        // so it is computed on the node-sized frame (one div per node,
        // not per edge) and the edge join ships one long per row.
        // Both joins take SHUFFLED-HASH hints (guide §3.1): the node-
        // sized build sides fit per-partition at any scale that fits
        // the cluster, while the default sort-merge re-SORTED the
        // static cached edge frame every round — sorts that dominated
        // the g2 bench profile. The left join's build side (per-node
        // contribution sums) is likewise node-sized.
        val perNode = ranks
          .join(outdeg.hint("shuffle_hash"),
            ranks("node") === outdeg("__s"))
          .select(col("node").as("__s"), expr("__r div __od").as("__c"))
        val contrib = e
          .join(perNode.hint("shuffle_hash"), "__s")
          .select(col("__d").as("node"), col("__c"))
          .groupBy("node").agg(sum(col("__c")).as("__in"))
        ranks = nodes.join(contrib.hint("shuffle_hash"), Seq("node"), "left")
          .select(col("node"),
            (lit(base) +
              expr(s"($dampingPct * coalesce(__in, 0L)) div 100")).as("__r"))
          // the round's output is already hash(node, p)-partitioned
          // (streamed side of the left join), and preserving that
          // through the materialization is what makes the NEXT round's
          // first join exchange-free.
          .transform(Scale.materialize)
      }
      val out = ranks.select(col("node"), col("__r").as("rank_e12"))
      if (topK > 0) out.orderBy(desc("rank_e12"), col("node")).limit(topK)
      else out
    }
  }

  /** k-core decomposition by iterative peeling (Seidman 1983): delete
    * every node of degree < k, recompute, repeat to the fixpoint — the
    * surviving subgraph is the maximal one where every node keeps at
    * least k neighbors. In corpus curation this is the link-graph
    * quality filter: pages outside a modest core are disproportionately
    * spam/orphans (the same role the Gopher rules play for text).
    *
    * Plan shape per round: one degree aggregation (two narrow unions of
    * the edge frame, one shuffle on node) and two anti-joins of the
    * edge frame against the (usually tiny, broadcast) doomed-node set;
    * `Scale.materialize` truncates lineage per round, same as every
    * iterative fixed-point here. Peeling removes at least one node per
    * round on a non-converged graph, but real graphs shed whole
    * shells per round — rounds in practice are O(core number), with
    * `maxIter` guarding the adversarial chain. Like
    * [[pageRank]], the iteration pins core-count partitioning rather
    * than inheriting session-level AQE sizing.
    *
    * Output: (node, degree) of the k-core subgraph — degree counted
    * WITHIN the core, every degree >= k. Empty when no k-core exists.
    */
  /** Synchronous label propagation (Raghavan et al. 2007) for community
    * detection over an undirected graph — the deterministic variant:
    * every node starts labeled with its own id; each round EVERY node
    * simultaneously adopts the most frequent label among its neighbors,
    * ties broken by the smallest label. Fixed `iters` synchronous
    * rounds: the asynchronous update schedule of the original paper is
    * nondeterministic by construction, and a replayable engine pins the
    * deterministic choice (same trade as pageRank's fixed-point rounds).
    *
    * Plan per round: one join of the (undirected, deduped) edge
    * relation against the label frame on the neighbor key, a counted
    * groupBy, and an exact argmax via max(struct(count, -label)) — all
    * shuffles keyed on node ids, `Scale.materialize` cutting the
    * iterative lineage (the same discipline as [[pageRank]]/[[kCore]]).
    * Nothing is ever all-pairs; cost per round is O(edges) shuffled.
    * Returns (node, lbl) for every non-isolated node.
    */
  def labelPropagation(edges: DataFrame, src: String, dst: String,
      iters: Int): DataFrame = {
    require(iters >= 1 && iters <= 50, s"iters out of range: $iters")
    val p = edges.sparkSession.sparkContext.defaultParallelism
    val e0 = edges.select(col(src).as("u"), col(dst).as("v"))
      .where(col("u").isNotNull && col("v").isNotNull && col("u") =!= col("v"))
    val und = e0.unionAll(e0.select(col("v").as("u"), col("u").as("v")))
      .distinct()
      .repartition(p, col("u"))
      .transform(Scale.materialize)
    var labels = und.select(col("u").as("node")).distinct()
      .select(col("node"), col("node").as("lbl"))
      .transform(Scale.materialize)
    for (_ <- 1 to iters) {
      labels = und
        .join(labels.select(col("node").as("v"), col("lbl")), Seq("v"))
        .groupBy(col("u"), col("lbl")).agg(count(lit(1)).as("cnt"))
        .groupBy(col("u"))
        .agg(max(struct(col("cnt").as("c"), (-col("lbl")).as("nl"))).as("m"))
        .select(col("u").as("node"), (-col("m.nl")).as("lbl"))
        .transform(Scale.materialize)
    }
    labels
  }

  def kCore(edges: DataFrame, src: String, dst: String, k: Int,
      maxIter: Int = 100): DataFrame = {
    require(k >= 1, s"k out of range: $k")
    val p = edges.sparkSession.sparkContext.defaultParallelism
    var e = edges
      .select(least(col(src), col(dst)).as("u"), greatest(col(src), col(dst)).as("v"))
      .where(col("u").isNotNull && col("v").isNotNull && col("u") =!= col("v"))
      .distinct()
      .repartition(p, col("u"))
      .transform(Scale.materialize)
    var converged = false
    var i = 0
    while (!converged && i < maxIter) {
      val deg = e.select(col("u").as("node"))
        .unionAll(e.select(col("v").as("node")))
        .groupBy("node").agg(count(lit(1)).as("d"))
      val doomed = deg.where(col("d") < k).select("node")
      if (doomed.isEmpty) converged = true
      else {
        e = e
          .join(doomed.withColumnRenamed("node", "u"), Seq("u"), "left_anti")
          .join(doomed.withColumnRenamed("node", "v"), Seq("v"), "left_anti")
          .transform(Scale.materialize)
        i += 1
      }
    }
    require(converged, s"kCore: no fixpoint within $maxIter rounds")
    e.select(col("u").as("node"))
      .unionAll(e.select(col("v").as("node")))
      .groupBy("node").agg(count(lit(1)).as("degree"))
  }
}
