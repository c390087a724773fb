package graft.queries

import graft.TestSpark
import graft.functions.{GopherQuality, SortedIdPairs}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.HigherOrderFunction
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.{FilterExec, GenerateExec, InputAdapter, RDDScanExec, SortExec, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}
import org.apache.spark.sql.execution.joins.{HashJoin, SortMergeJoinExec}
import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan regression tests: the scale properties the queries claim
  * in their Scaladoc (pushdown reaching the scan, dimension broadcasts,
  * top-k instead of global sort, rank-limit pushdown into the window)
  * asserted against the actual planner output, so a refactor that
  * silently de-optimizes a plan fails CI rather than surfacing as a
  * 100 TB regression.
  */
class PlanSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val sf = TestSpark.sf0001

  private def planOf(df: DataFrame): SparkPlan =
    df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }

  private def planString(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  /** Every node of a physical plan, descending through adaptive
    * wrappers, query stages and reused exchanges. */
  private def nodesOf(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodesOf(a.executedPlan)
    case s: QueryStageExec => s +: nodesOf(s.plan)
    case r: ReusedExchangeExec => r +: nodesOf(r.child)
    case _ => p +: p.children.flatMap(nodesOf)
  }

  /** Physical plans of the eager materializations `body` runs (the
    * checkpoint executions a QueryExecutionListener reports). */
  private def materializationPlans(expected: Int)(body: => Unit): Seq[SparkPlan] = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      def onSuccess(name: String,
          qe: org.apache.spark.sql.execution.QueryExecution, ns: Long): Unit =
        if (name == "localCheckpoint" || name == "checkpoint")
          seen.add(qe.executedPlan)
      def onFailure(name: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      body
      // listener delivery is asynchronous
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (seen.size < expected && System.nanoTime() < deadline)
        Thread.sleep(20)
    } finally spark.listenerManager.unregister(listener)
    import scala.jdk.CollectionConverters._
    seen.asScala.toSeq
  }

  test("q6 scan: range predicates are pushed to the parquet reader and columns pruned") {
    val df = Relational.q6ForecastRevenue(spark, sf)
    val s = planString(df)
    assert(s.contains("PushedFilters: ["), s)
    assert(s.contains("l_shipdate"), "filter on l_shipdate should push down")
    // projection pruning: the scan must not read l_orderkey etc.
    val readSchema = s.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("l_orderkey"), readSchema)
    assert(readSchema.contains("l_extendedprice"), readSchema)
  }

  test("q3/q5 joins: dimension sides broadcast, fact join is the only shuffle join") {
    val s5 = planString(Relational.q5LocalSupplier(spark, sf))
    assert(s5.contains("BroadcastHashJoin"), s5)
    // exactly one non-broadcast (shuffled) join: lineitem⋈orders
    val shuffled = s5.linesIterator.count(l =>
      l.contains("SortMergeJoin") || l.contains("ShuffledHashJoin"))
    assert(shuffled <= 1, s"expected <=1 shuffled join, got $shuffled\n$s5")
  }

  test("q2 top-k: TakeOrderedAndProject, never a global sort") {
    val s = planString(Relational.q2TopOrders(spark, sf))
    assert(s.contains("TakeOrderedAndProject"), s)
  }

  test("q7 ranking: WindowGroupLimit bounds per-key state before the filter") {
    val s = planString(Relational.q7TopOrdersPerCustomer(spark, sf))
    assert(s.contains("WindowGroupLimit"), s)
  }

  test("q1 aggregation: partial (map-side) aggregate before the exchange") {
    val s = planString(Relational.q1PricingSummary(spark, sf))
    val i = s.indexOf("HashAggregate")
    val j = s.indexOf("Exchange")
    assert(i >= 0 && j >= 0, s)
    // final HashAggregate above Exchange above partial HashAggregate
    assert(s.indexOf("HashAggregate", j) > j,
      s"expected a partial aggregate below the exchange\n$s")
  }

  test("s1 knn: query side broadcast — corpus is never shuffled") {
    val df = graft.queries.ExtensionQueries.knnBruteForce(spark, sf)
    val s = planString(df)
    assert(s.contains("BroadcastNestedLoopJoin") || s.contains("BroadcastExchange"), s)
  }

  test("validate/split: one scan feeds both outputs, no shuffle on the ingest path") {
    val meta = graft.schema.TableMeta.fromMetadata(
      Seq("l_orderkey" -> "int", "l_quantity" -> "float"),
      nonNullableFields = Seq("l_orderkey"))
    val raw = graft.Tables.lineitem(spark, sf).selectExpr(
      "CAST(l_orderkey AS STRING) AS l_orderkey",
      "CAST(l_quantity AS STRING) AS l_quantity")
    val split = graft.validate.ValidateAndSplit(raw, meta)
    val sv = planString(split.valid)
    assert(!sv.contains("Exchange"), s"validation must stay narrow\n$sv")
  }

  test("d2 minhash: single signature scan — no bucket self-join, no recomputation") {
    val df = graft.queries.ExtensionQueries.dedupMinHash(spark, sf)
    val s = planString(df)
    // the LSH candidate pipeline must appear exactly once: one minhash
    // projection per union branch (2), never duplicated by a self-join
    // or by multiple consumers of the candidate set
    val sigCount = s.linesIterator.count(_.contains("minhashsignature"))
    assert(sigCount == 2, s"expected 2 minhash projections (union branches), got $sigCount\n$s")
    assert(!s.contains("CartesianProduct"), s)
  }

  test("s3 lsh knn: corpus bucketed once; probes join on the bucket key") {
    val df = graft.queries.ExtensionQueries.knnLsh(spark, sf)
    val s = planString(df)
    // bucket equi-join (shuffled or broadcast), never an all-pairs join
    assert(!s.contains("BroadcastNestedLoopJoin") && !s.contains("CartesianProduct"),
      s"LSH knn must not degenerate to all-pairs\n$s")
  }

  test("st4-shape streaming ingest plan: validation stays narrow on the stream") {
    // the batch twin of the foreachBatch body — no Exchange anywhere
    val meta = graft.schema.TableMeta.fromMetadata(
      Seq("c_custkey" -> "int", "c_name" -> "string"),
      nonNullableFields = Seq("c_custkey"))
    val raw = graft.Tables.customer(spark, sf).selectExpr(
      "CAST(c_custkey AS STRING) AS c_custkey", "c_name")
    val split = graft.validate.ValidateAndSplit(raw, meta)
    assert(!planString(split.invalid).contains("Exchange"))
  }

  test("q29 range join: bucketed equi join, never nested-loop/cartesian") {
    val s = planString(Relational2.q29RangeJoin(spark, sf))
    assert(!s.contains("BroadcastNestedLoopJoin") && !s.contains("CartesianProduct"),
      s"range join must ride the bucketed equi path\n$s")
    assert(s.contains("Join"), s)
  }

  test("process_date partitioning: static pruning and DPP reach the scan") {
    import org.apache.spark.sql.functions._
    val spark0 = spark
    import spark0.implicits._
    val ref = graft.sink.TableRef("plan", "part", "orders_p")
    spark.sql(s"DROP TABLE IF EXISTS ${ref.qualified}")
    graft.sink.TableSink.append(
      graft.Tables.orders(spark, sf).select("o_orderkey", "o_totalprice"), ref)
    // the table is hive-partitioned by ingestion date
    assert(spark.sql(s"SHOW PARTITIONS ${ref.qualified}").count() >= 1)
    val t = spark.table(ref.qualified)
    // static: a date-bounded read prunes directories at PLANNING time —
    // the predicate lands in PartitionFilters, not the data filter
    val s1 = planString(t.where(col("process_date") === current_date()))
    assert(s1.linesIterator.exists(l =>
      l.contains("PartitionFilters") && l.contains("process_date")), s1)
    // dynamic: joining against a filtered date dimension must plant a
    // dynamicpruning subquery on the partitioned scan (DPP), so only the
    // dimension-selected dates' directories are read at 100 TB. The dim
    // must be file-backed: a filtered LocalRelation is constant-folded
    // away before the PartitionPruning rule looks for a selective filter.
    val dimPath = java.nio.file.Files.createTempDirectory("dpp_dim_").toString
    Seq(("keep", java.time.LocalDate.now()),
      ("old", java.time.LocalDate.now().minusDays(7))).toDF("tag", "d")
      .write.mode("overwrite").parquet(dimPath)
    val dim = spark.read.parquet(dimPath)
    val joined = t.join(dim.where(col("tag") === "keep"),
      col("process_date") === col("d"))
    val s2 = joined.queryExecution.executedPlan.toString
    assert(s2.toLowerCase.contains("dynamicpruning"),
      s"expected a DPP filter on the partitioned scan\n$s2")
  }

  test("q30 correlated subqueries: fully decorrelated to joins — no per-row subplans") {
    val s = planString(Relational3.q30CorrelatedSubqueries(spark, sf))
    // scalar-count subqueries become aggregated outer joins; EXISTS /
    // NOT EXISTS become semi / anti joins. Nothing may survive as an
    // uncorrelated-per-row InSubquery/ScalarSubquery execution node.
    assert(!s.contains("ScalarSubquery"), s"subquery not decorrelated\n$s")
    val t = s.toLowerCase
    assert(t.contains("leftsemi") || t.contains("left semi"), s)
    assert(t.contains("leftanti") || t.contains("left anti"), s)
  }

  test("q32 explode + top-k: TakeOrderedAndProject with partial aggregation") {
    val s = planString(Relational3.q32TokenFrequencies(spark, sf))
    assert(s.contains("TakeOrderedAndProject"), s"top-20 must not global-sort\n$s")
    assert(s.contains("Generate"), s)
    val j = s.indexOf("Exchange")
    assert(j >= 0 && s.indexOf("HashAggregate", j) > j,
      s"expected map-side partial aggregate below the exchange\n$s")
  }

  test("d9 semantic dedup: centroid table broadcast; corpus shuffled only for assignment/clusters") {
    val df = graft.queries.ExtensionQueries.semDedup(spark, sf)
    val s = planString(df)
    assert(s.contains("BroadcastExchange") || s.contains("BroadcastNestedLoopJoin"),
      s"centroids must broadcast\n$s")
    assert(!s.contains("CartesianProduct"), s)
  }

  test("substring dedup removal: every join is an equi-join — no range/nested-loop") {
    val df = graft.ext.SubstringDedup.removeDuplicateSpans(
      graft.Tables.documents(spark, sf), "text", "doc_id", k = 6)
    val s = planString(df)
    assert(!s.contains("CartesianProduct"), s)
    assert(!s.contains("BroadcastNestedLoopJoin"), s)
  }

  test("funnel: probe joins stay on the user key — no cartesian anywhere") {
    val df = graft.ext.Analytics.funnel(graft.Tables.events(spark, sf),
      "user_id", "event_type", "ts", Seq("signup", "view", "purchase"),
      windowSeconds = 3600)
    val s = planString(df)
    assert(!s.contains("CartesianProduct"), s)
    assert(!s.contains("BroadcastNestedLoopJoin"), s)
  }

  test("winsorize: one exchange on the group keys feeds sort, windows, and output") {
    import org.apache.spark.sql.functions._
    val df = graft.ext.Profile.winsorize(graft.Tables.customer(spark, sf),
      Seq("c_mktsegment"), floor(col("c_acctbal") * 100), 5, 95)
    val s = planString(df)
    val nExchanges = s.linesIterator.count(_.trim.startsWith("+- Exchange")) +
      s.linesIterator.count(_.trim.startsWith("Exchange"))
    assert(nExchanges <= 1, s"expected a single shuffle, got $nExchanges:\n$s")
    assert(!s.contains("CartesianProduct"), s)
  }

  test("rolling anomaly: single window pipeline, no join-back of the event table") {
    val df = graft.ext.TimeSeries.rollingAnomaly(graft.Tables.events(spark, sf),
      Seq("event_type"), "ts", "value", nPrior = 24, k = 3, minObs = 12,
      tiebreak = Seq("event_id"))
    val s = planString(df)
    assert(!s.contains("Join"), s"anomaly plan must not join:\n$s")
  }

  test("triangles: wedge expansion and closure are equi-joins — no " +
      "cartesian, no nested loop") {
    val s = planString(AnalyticsQueries.triangles(spark, sf))
    assert(!s.contains("CartesianProduct"), s)
    assert(!s.contains("BroadcastNestedLoopJoin"), s)
  }

  test("g1 triangles: the wedge sort-merge join reads both checkpointed " +
      "arms directly — no Exchange or Sort between join and scan") {
    val plan = planOf(AnalyticsQueries.triangles(spark, sf))
    val smjs = nodesOf(plan).collect { case j: SortMergeJoinExec => j }
    assert(smjs.size === 1, s"expected the one wedge SMJ\n$plan")
    smjs.head.children.foreach { arm =>
      val below = nodesOf(arm)
      assert(below.exists(_.isInstanceOf[RDDScanExec]),
        s"wedge arm must read the checkpointed edge list\n$arm")
      assert(!below.exists(n => n.isInstanceOf[Exchange] ||
          n.isInstanceOf[SortExec]),
        s"wedge arm re-shuffles or re-sorts the checkpoint\n$arm")
    }
  }

  test("g2 pagerank: every per-round join reads hash-partitioned " +
      "checkpoints; the transpose aggregation's exchange is the only one") {
    val iters = 5 // AnalyticsQueries.pagerank
    val rounds = materializationPlans(expected = 3 + iters) {
      AnalyticsQueries.pagerank(spark, sf).collect()
    }.filter(p => nodesOf(p).exists(_.isInstanceOf[HashJoin]))
    assert(rounds.size === iters, "expected one join plan per round")
    rounds.foreach { round =>
      val nodes = nodesOf(round)
      val scans = nodes.collect { case s: RDDScanExec => s }
      assert(scans.nonEmpty, s"round must read checkpoints\n$round")
      scans.foreach(s => assert(
        s.outputPartitioning.isInstanceOf[HashPartitioning],
        s"round reads an unkeyed checkpoint: ${s.simpleString(200)}\n$round"))
      val exchanges = nodes.collect { case e: Exchange => e }
      assert(exchanges.size === 1,
        s"expected only the transpose exchange\n$round")
    }
  }

  test("item CF: pair expansion joins on the user key only; partial " +
      "aggregation below the pair exchange") {
    val s = planString(AnalyticsQueries.itemCf(spark, sf))
    assert(!s.contains("CartesianProduct"), s)
    assert(!s.contains("BroadcastNestedLoopJoin"), s)
    assert(s.contains("partial_count") || s.contains("partial count"),
      s"pair counts must partial-aggregate before the exchange:\n$s")
  }

  test("transitions: one exchange on the user key; totals ride a window " +
      "over the matrix, no join-back of the event stream") {
    val df = graft.ext.Analytics.transitions(graft.Tables.events(spark, sf),
      "user_id", "event_type", "ts", tiebreak = Seq("event_id"))
    val s = planString(df)
    assert(!s.contains("Join"), s"transition matrix must not join:\n$s")
  }

  test("equi-depth buckets: one exchange on the group keys, no join") {
    import org.apache.spark.sql.functions._
    val df = graft.ext.Profile.equiDepthBuckets(
      graft.Tables.orders(spark, sf), Seq("o_orderpriority"),
      col("o_totalprice"), 10, Seq("o_orderkey"))
    val s = planString(df)
    val nExchanges = s.linesIterator.count(_.trim.startsWith("+- Exchange")) +
      s.linesIterator.count(_.trim.startsWith("Exchange"))
    assert(nExchanges <= 1, s"expected a single shuffle, got $nExchanges:\n$s")
    assert(!s.contains("Join"), s)
  }

  test("scd2: closed history bypasses the join (union above it); the " +
      "current-slice join is an equi-join") {
    val s = planString(PipelineQueries.scd2(spark, sf))
    assert(!s.contains("CartesianProduct"), s)
    assert(!s.contains("BroadcastNestedLoopJoin"), s)
    assert(s.contains("Union"), s"closed rows must union back:\n$s")
  }

  test("prefix jaccard: candidate verify joins on doc ids — no " +
      "cartesian, no nested loop") {
    val s = planString(ExtensionQueries.dedupPrefix(spark, sf))
    assert(!s.contains("CartesianProduct"), s)
    assert(!s.contains("BroadcastNestedLoopJoin"), s)
  }

  // A count window partitioned by a corpus-drawn key (gram/term/line)
  // co-locates EVERY row of a hot key in one task with no map-side
  // combine — a Zipfian straggler AQE cannot split (its skew handling
  // splits joins, not windows). These plans must compute document
  // frequency as a partial-aggregated groupBy joined back instead.
  // "Window [" matches the Window exec node only (WindowGroupLimit
  // prints as "WindowGroupLimit [" and never matches this substring).
  private def windowCount(s: String): Int =
    s.sliding("Window [".length).count(_ == "Window [")

  test("skew-safe document frequency: df is a partial-aggregated count " +
      "joined back — no per-gram/term/line count windows") {
    // d16 prefix jaccard: zero windows; partial agg below the exchange.
    // Assert the AT-SCALE plan: prefixJaccardPairs' expandWide gate
    // fires at test scale (the gram checkpoint is tiny) and hides the
    // posting-cap aggregate behind a Scale.cut checkpoint, so shrink
    // the AQE minPartitionSize budget for this one call — the gate then
    // takes the corpus-scale plain path and the full plan is visible.
    val minPartKey = "spark.sql.adaptive.coalescePartitions.minPartitionSize"
    val prevMinPart = spark.conf.getOption(minPartKey)
    val d16 =
      try {
        spark.conf.set(minPartKey, "1b")
        planString(ExtensionQueries.dedupPrefix(spark, sf))
      } finally prevMinPart match {
        case Some(v) => spark.conf.set(minPartKey, v)
        case None => spark.conf.unset(minPartKey)
      }
    assert(windowCount(d16) === 0, d16)
    assert(d16.contains("partial_count"), d16)
    // d4 ngram jaccard / d18 containment: zero windows.
    val d4 = planString(ExtensionQueries.dedupNgram(spark, sf))
    assert(windowCount(d4) === 0, d4)
    assert(d4.contains("partial_count"), d4)
    // t10 tfidf: exactly the per-doc rank window survives (doc keys are
    // bounded by document length — not a corpus-frequency key).
    val t10 = planString(HygieneQueries.tfidf(spark, sf))
    assert(windowCount(t10) === 1, t10)
    assert(t10.contains("partial_count"), t10)
    // t8 boilerplate removal: zero windows; the hot-line relation is
    // the join's build side.
    val t8 = planString(HygieneQueries.lineDedup(spark, sf))
    assert(windowCount(t8) === 0, t8)
    assert(t8.contains("partial_count"), t8)
  }

  test("AnnIndex serve: the ADC scan prunes the raw-vector column — only " +
      "the rerank reads cvec") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_annplan_")
      .resolve("idx").toString
    val vecs = (0L until 64L).map { i =>
      val r = new scala.util.Random(i)
      (i, Array.fill(16)(r.nextFloat() - 0.5f))
    }
    graft.ext.AnnIndex.buildIvfPq(vecs.toDF("cid", "cvec"), dim = 16,
      nlist = 4, root = root, m = 4, codes = 8)
    val queries = vecs.take(2).toDF("qid", "qvec")
    val served = graft.ext.AnnIndex.queryIvfPq(spark, root, queries,
      k = 3, nprobe = 2, rerank = 8)
    val s = planString(served)
    // two scans of encoded.parquet: the ADC scan must read ONLY
    // (cid, centroid_id, codes); the rerank scan reads (cid, cvec)
    val readSchemas = s.linesIterator.filter(l =>
      l.contains("ReadSchema") && l.contains("codes")).toSeq
    assert(readSchemas.nonEmpty, s)
    readSchemas.foreach(rs => assert(!rs.contains("cvec"),
      s"ADC scan must not read the raw-vector column:\n$rs"))
  }

  test("image near-dup: chunk equi-join candidates — no cartesian, one " +
      "codegen'd signature pass") {
    import spark.implicits._
    val imgs = (1L to 8L).map(i => (i,
      graft.ext.Multimodal.SyntheticImages.bmpGradient(
        graft.ext.Multimodal.SyntheticImages.avalanche(i)))).toDF("id", "content")
    val s = planString(
      graft.ext.Multimodal.imageNearDup(imgs, "id", "content", maxDist = 8))
    assert(!s.contains("CartesianProduct"), s)
    assert(!s.contains("BroadcastNestedLoopJoin"), s)
    // ONE dhash evaluation site: the signature is computed in a single
    // projection, not once per chunk arm.
    assert(s.sliding("dhash64".length).count(_ == "dhash64") <= 2, s)
  }

  test("nbClassify: model rides one token-keyed equi-join; class totals " +
      "and vocab broadcast as scalars") {
    val docs = graft.Tables.documents(spark, sf)
    val (tok, cls) = graft.ext.TextAnalysis.nbCounts(docs, "text", "lang")
    val s = planString(
      graft.ext.TextAnalysis.nbClassify(docs, "text", "doc_id", tok, cls))
    assert(!s.contains("CartesianProduct"), s)
    // The ONLY nested-loop joins are the deliberate broadcast CROSS
    // joins of the scalar-sized class-totals and vocab frames; a
    // non-cross BNLJ would mean a real join degenerated.
    s.linesIterator.filter(_.contains("BroadcastNestedLoopJoin"))
      .foreach(l => assert(l.contains("Cross"), l))
    assert(s.contains("BroadcastExchange"), s)
  }

  test("nbClassify adaptive placement: identical results both ways; an " +
      "oversized model (tiny threshold) flips the token join to shuffle") {
    val docs = graft.Tables.documents(spark, sf)
    val (tok, cls) = graft.ext.TextAnalysis.nbCounts(docs, "text", "lang")
    def run(b: Option[Boolean]) = graft.ext.TextAnalysis
      .nbClassify(docs, "text", "doc_id", tok, cls, broadcastModel = b)
    // Pinned placements must be value-identical (the placement is a
    // physical choice, never a semantic one).
    val bro = run(Some(true)).collect().map(_.toSeq).toSet
    val shf = run(Some(false)).collect().map(_.toSeq).toSet
    assert(bro === shf)
    def nBroadcast(s: String) =
      s.sliding("BroadcastExchange".length).count(_ == "BroadcastExchange")
    // Auto under the default threshold: this model is KBs → broadcast.
    val autoBig = planString(run(None))
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val old = spark.conf.get(key)
    spark.conf.set(key, "1")
    try {
      // Auto with a threshold the model cannot fit: the model join must
      // fall back to a shuffle (one fewer broadcast exchange), and the
      // answer must not move.
      val small = run(None)
      assert(nBroadcast(planString(small)) < nBroadcast(autoBig))
      assert(small.collect().map(_.toSeq).toSet === bro)
    } finally spark.conf.set(key, old)
  }

  test("d4/d18: bounded-table df cap — ONE gram-keyed exchange, no " +
      "per-gram count join in the candidate build") {
    val docs = graft.Tables.documents(spark, sf)
      .select(org.apache.spark.sql.functions.col("doc_id"),
        org.apache.spark.sql.functions.col("text"))
    def gramExchanges(s: String): Int =
      s.linesIterator.count(l =>
        l.contains("Exchange hashpartitioning(gram"))
    // The exact-df formulation paid a gram-keyed count aggregate AND the
    // join back per candidate subtree; the bounded-table cap leaves
    // exactly the one unavoidable bucket aggregation. d18's directed
    // union references the candidate subtree twice in the STATIC plan
    // (ReuseExchange collapses them at runtime), hence its bound is 2.
    val d4 = planString(
      graft.ext.Dedup.ngramJaccardPairs(docs, "text", "doc_id"))
    assert(gramExchanges(d4) === 1, d4.linesIterator
      .filter(_.contains("hashpartitioning(gram")).mkString("\n"))
    assert(!d4.contains("SortMergeJoin [gram"), d4)
    val d18 = planString(
      graft.ext.Dedup.containmentPairs(docs, "text", "doc_id"))
    assert(gramExchanges(d18) <= 2, d18.linesIterator
      .filter(_.contains("hashpartitioning(gram")).mkString("\n"))
    assert(!d18.contains("SortMergeJoin [gram"), d18)
  }

  test("chunk dedup: inverted-index pairing is all equi-joins/aggregates " +
      "— no cartesian") {
    val docs = graft.Tables.documents(spark, sf)
      .selectExpr("doc_id", "cast(text as binary) as bytes")
    val s = planString(graft.ext.Dedup.chunkPairs(docs, "bytes", "doc_id"))
    assert(!s.contains("CartesianProduct"), s)
    assert(!s.contains("BroadcastNestedLoopJoin"), s)
  }

  test("crawl curation: url/host-keyed shuffles only — no cartesian, " +
      "no global sort below the prefix sum") {
    import spark.implicits._
    val recs = (1L to 40L).map(i =>
      (i, s"https://site${i % 3}.example.com/p/$i",
        ("word " * 30) + "the end.")).toDF("id", "url", "body")
    val s = planString(graft.ext.Curation.curateCrawl(
      recs, "id", "url", "body", maxPerHost = 10))
    assert(!s.contains("CartesianProduct"), s)
    assert(!s.contains("BroadcastNestedLoopJoin"), s)
  }

  /** Every node of `p` with whether it runs inside a whole-stage codegen
    * stage, descending through adaptive wrappers, query stages and
    * reused exchanges. */
  private def stagedNodes(p: SparkPlan, inStage: Boolean = false)
      : Seq[(SparkPlan, Boolean)] = p match {
    case a: AdaptiveSparkPlanExec => stagedNodes(a.executedPlan)
    case q: QueryStageExec => stagedNodes(q.plan)
    case r: ReusedExchangeExec => stagedNodes(r.child)
    case w: WholeStageCodegenExec => stagedNodes(w.child, inStage = true)
    case i: InputAdapter => stagedNodes(i.child)
    case _ => (p, inStage) +: p.children.flatMap(stagedNodes(_, inStage))
  }

  /** Every filter in `p` whose condition calls the Gopher kernel, with
    * whether it runs inside a whole-stage codegen stage. */
  private def gopherFilters(p: SparkPlan): Seq[(FilterExec, Boolean)] =
    stagedNodes(p).collect {
      case (f: FilterExec, inStage)
          if f.condition.exists(_.isInstanceOf[GopherQuality]) => (f, inStage)
    }

  /** Final physical plans of every execution a run of `body`'s frame goes
    * through: the eager jobs the operator cuts, then the frame itself,
    * run through the noop sink so adaptive stages are final (AQE applies
    * codegen per query stage, so the plan before execution cannot be
    * read for it). */
  private def plansOf(body: => DataFrame): Seq[SparkPlan] = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      def onSuccess(name: String,
          qe: org.apache.spark.sql.execution.QueryExecution, ns: Long): Unit =
        seen.add(qe.executedPlan)
      def onFailure(name: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      body.write.format("noop").mode("overwrite").save()
      org.apache.spark.sql.graftbridge.SessionBridge
        .waitUntilEmpty(spark.sparkContext)
    } finally spark.listenerManager.unregister(listener)
    import scala.jdk.CollectionConverters._
    seen.asScala.toSeq
  }

  test("curation quality filters: one Gopher kernel call per row inside " +
      "whole-stage codegen, no lambdas (curateKept, curateStream, " +
      "curateCrawl); one call per row in the metrics report") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val docs = graft.Tables.documents(spark, sf)
      .select(col("doc_id"), col("text"))
    val bench = docs.where(col("doc_id") % 20 === 0).select(col("text"))
    val recs = (1L to 40L).map(i =>
      (i, s"https://site${i % 3}.example.com/p/$i",
        ("word " * 30) + "the end.")).toDF("doc_id", "url", "body")
    val sites = Seq(
      "curateKept" -> plansOf(graft.ext.Curation.curateKept(
        docs, "text", "doc_id", bench, "text")),
      "curateStream" -> plansOf(graft.ext.Curation.curateStream(
        docs, "text", "doc_id", bench, "text")),
      "curateCrawl" -> plansOf(graft.ext.Curation.curateCrawl(
        recs, "doc_id", "url", "body", maxPerHost = 10)))
    for ((site, plans) <- sites) {
      val found = plans.flatMap(gopherFilters(_))
      assert(found.size === 1,
        s"$site: expected one quality filter\n${plans.mkString("\n")}")
      val (f, inStage) = found.head
      assert(inStage, s"$site: the quality filter runs outside codegen\n$f")
      assert(f.condition.collect { case g: GopherQuality => g }.size === 1,
        s"$site: the kernel must run once per row\n$f")
      assert(!f.condition.exists(_.isInstanceOf[HigherOrderFunction]) &&
        !f.toString.toLowerCase.contains("lambdafunction"),
        s"$site: interpreted lambdas in the quality filter\n$f")
    }
    // the metrics report reads its nine columns from one kernel call
    val report = graft.ext.TextAnalysis.gopherQuality(docs, "text", "doc_id")
      .queryExecution.optimizedPlan
    val calls = report.collect { case n => n.expressions }.flatten
      .flatMap(_.collect { case g: GopherQuality => g })
    assert(calls.size === 1, s"gopherQuality report\n$report")
  }

  test("pair operators: the in-bucket pair expansion runs inside " +
      "whole-stage codegen (minhash, simhash narrow and expanded, chunk, " +
      "ngram jaccard, semantic and embedding pairs)") {
    import org.apache.spark.sql.functions._
    import graft.ext.Dedup
    // planted copies, so every operator has hot buckets and no stage is
    // replaced by an empty relation before its plan is final
    val docs = ExtensionQueries.plantedDocs(spark, sf)
    val vecs = ExtensionQueries.plantedEmbeddings(spark, sf)
    val ops = Seq(
      "minHashPairs" -> Dedup.minHashPairs(docs, "text", "doc_id"),
      "simHashPairs maxDist 3" ->
        Dedup.simHashPairs(docs, "text", "doc_id", maxDist = 3),
      "simHashPairs maxDist 8" ->
        Dedup.simHashPairs(docs, "text", "doc_id", maxDist = 8),
      "chunkPairs" -> Dedup.chunkPairs(
        docs.select(col("doc_id"), col("text").cast("binary").as("bytes")),
        "bytes", "doc_id"),
      "ngramJaccardPairs" -> Dedup.ngramJaccardPairs(docs, "text", "doc_id"),
      "semDedup" -> Dedup.semDedup(vecs, "embedding", "vec_id", nlist = 4),
      "embeddingPairs" ->
        Dedup.embeddingPairs(vecs, "embedding", "vec_id", dim = 64))
    for ((op, frame) <- ops) {
      val plans = plansOf(frame)
      val expansions = plans.flatMap(stagedNodes(_)).collect {
        case (g: GenerateExec, inStage)
            if g.generator.exists(_.isInstanceOf[SortedIdPairs]) => inStage
      }
      assert(expansions.nonEmpty,
        s"$op: no pair-kernel Generate\n${plans.mkString("\n")}")
      assert(expansions.forall(identity),
        s"$op: the pair expansion runs outside codegen\n${plans.mkString("\n")}")
    }
  }

  test("whole-stage codegen covers the custom expressions (no CodegenFallback gap)") {
    import org.apache.spark.sql.functions._
    val df = graft.Tables.documents(spark, sf).select(
      graft.functions.GraftFunctions.fingerprint(col("text")).as("fp"),
      graft.functions.GraftFunctions.simhashSig(col("text")).as("sh"))
    val s = planString(df)
    // "*(n)" marks operators compiled into a WholeStageCodegen stage; the
    // Project carrying the custom expressions must be inside one
    val projLine = s.linesIterator.find(_.contains("rollingfingerprint")).getOrElse("")
    assert(projLine.contains("*("), s)
  }

  test("round-11 expressions (PrefixCountsTrue, TopCentroids) stay " +
      "inside whole-stage codegen") {
    import org.apache.spark.sql.functions._
    // no HOFs in the projection: transform() is itself CodegenFallback
    // and would evict the whole Project from codegen regardless of the
    // expressions under test
    val df = graft.Tables.embeddings(spark, sf).select(
      graft.functions.GraftFunctions.topCentroids(col("embedding"),
        Array(1L, 2L), Array(Array.fill(64)(0.1), Array.fill(64)(-0.1)),
        2).as("tc"),
      graft.functions.GraftFunctions.prefixCountsTrue(
        array(element_at(col("embedding"), 1) > 0f,
          element_at(col("embedding"), 2) > 0f)).as("ps"))
    val s = planString(df)
    val line = s.linesIterator
      .find(_.toLowerCase.contains("topcentroids")).getOrElse("")
    assert(line.contains("*("), s)
    val line2 = s.linesIterator
      .find(_.toLowerCase.contains("prefixcountstrue")).getOrElse("")
    assert(line2.contains("*("), s)
  }

  test("stochastic tokenizer serving (unigram sampling, BPE-dropout) " +
      "stays inside whole-stage codegen") {
    import org.apache.spark.sql.functions._
    val df = graft.Tables.documents(spark, sf).select(
      graft.functions.GraftFunctions.unigramSampleTokenize(
        col("text"), Seq("a" -> 2L, "b" -> 1L), 3, 4, 1, 42L).as("u"),
      graft.functions.GraftFunctions.bpeDropoutTokenize(
        col("text"), Seq(("a", "b")), 100000, 42L).as("bd"))
    val s = planString(df)
    val line = s.linesIterator
      .find(_.toLowerCase.contains("unigramsampletokenize")).getOrElse("")
    assert(line.contains("*("), s)
    val line2 = s.linesIterator
      .find(_.toLowerCase.contains("bpedropouttokenize")).getOrElse("")
    assert(line2.contains("*("), s)
  }

  test("bm25 serve with stats sidecar: corpus scalars never touch the " +
      "postings — every postings scan is query-term-filtered") {
    import graft.ext.TextAnalysis
    import org.apache.spark.sql.functions.col
    val docs = graft.Tables.documents(spark, sf)
    val root = java.nio.file.Files.createTempDirectory("graft_planspec_bm25_")
    val ixDir = root.resolve("ix").toString
    val stDir = root.resolve("stats").toString
    TextAnalysis.bm25Index(docs, "text", "doc_id")
      .write.mode("overwrite").parquet(ixDir)
    TextAnalysis.bm25Stats(docs, "text", "doc_id")
      .write.mode("overwrite").parquet(stDir)
    val served = TextAnalysis.bm25SearchIndex(spark.read.parquet(ixDir),
      "doc_id", Seq("spark", "hash"), k = 10,
      stats = spark.read.parquet(stDir))
    val s = planString(served)
    // the round-9 corpus-scalar subtree was count(distinct doc_id) over
    // the UNFILTERED index — with the sidecar there is no distinct
    // aggregate anywhere in the serve plan
    assert(!s.toLowerCase.contains("distinct"), s)
    // and both surviving postings scans carry the pushed term filter
    val ixScans = s.linesIterator.filter(l =>
      l.contains("FileScan") && l.contains("/ix")).toSeq
    assert(ixScans.nonEmpty, s)
    ixScans.foreach(l =>
      assert(l.contains("In(term") || l.contains("term#"), l))
    // the one-row stats scan is the ONLY unfiltered scan
    assert(s.linesIterator.exists(l =>
      l.contains("FileScan") && l.contains("/stats")), s)
  }

  test("p5 perplexity buckets: no window partitioned by lang alone — " +
      "the tier rank is the distributed (pid, lang) form") {
    val df = PipelineQueries.pplBuckets(spark, sf)
    val windows = df.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window =>
        w.partitionSpec.map(_.sql.toLowerCase)
    }
    windows.foreach { spec =>
      assert(!(spec.size == 1 && spec.head.contains("lang")),
        s"single-task per-language window survived: $spec")
    }
    // and the rank window that IS there is co-keyed by the partition id
    assert(windows.exists(_.exists(_.contains("__gr_pid"))),
      s"expected the distributed rank window, got $windows")
  }

  test("objective/template transforms (FIM, span corruption, SFT, DPO) " +
      "are single-stage narrow scans — no Exchange in any plan") {
    import org.apache.spark.sql.functions._
    import graft.ext.TextAnalysis
    val docs = graft.Tables.documents(spark, sf)
    val n = length(col("text"))
    val prompt = col("text").substr(lit(1), least(lit(40), n))
    val response = col("text").substr(lit(41), greatest(n - 40, lit(0)))
    Seq[DataFrame](
      TextAnalysis.fimTransform(docs, "text", "doc_id", 300000L, 7L),
      TextAnalysis.spanCorrupt(docs, "text", "doc_id"),
      TextAnalysis.renderSft(docs, "doc_id", prompt, response, "s"),
      TextAnalysis.renderDpoPairs(docs, "doc_id", prompt, response,
        reverse(response), "s")
    ).foreach { df =>
      val s = planString(df)
      assert(!s.contains("Exchange"),
        s"transform must stay narrow\n$s")
    }
  }

  test("s21 mined hard negatives: the query side is NEVER broadcast — " +
      "every join is a keyed shuffle join, probes are a narrow projection") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_s21plan_")
      .resolve("idx").toString
    val vecs = (0L until 64L).map { i =>
      val r = new scala.util.Random(i)
      (i, Array.fill(16)(r.nextFloat() - 0.5f), s"lab${i % 3}")
    }
    graft.ext.AnnIndex.buildIvfPq(
      vecs.map(v => (v._1, v._2)).toDF("cid", "cvec"), dim = 16,
      nlist = 4, root = root, m = 4, codes = 8)
    val mined = graft.ext.AnnIndex.mineHardNegatives(spark, root,
      vecs.toDF("qid", "qvec", "qlab"),
      vecs.map(v => (v._1, v._3)).toDF("cid", "clab"),
      k = 3, nprobe = 2, rerank = 8)
    val s = planString(mined)
    // training-set-scale contract: the query relation is a first-class
    // distributed side — a BroadcastExchange anywhere means a side of
    // this plan stops scaling with the corpus
    assert(!s.contains("BroadcastExchange"),
      s"mined negatives must not broadcast any side\n$s")
    assert(!s.contains("CartesianProduct") &&
      !s.contains("BroadcastNestedLoopJoin"),
      s"mined negatives must join on keys only\n$s")
    // the probe list comes from the TopCentroids projection, not a
    // crossJoin against a centroid relation: 'centroids.parquet' never
    // appears as a scan in the serve plan
    assert(!s.contains("centroids.parquet"),
      s"probe step must not scan the centroid table\n$s")
  }

  test("mineTopK (s26 serve): the mined-negatives exchange contract — " +
      "no broadcast of either side, key joins only, no centroid scan") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_planmtk_")
      .resolve("idx").toString
    val vecs = (0L until 40L).map { i =>
      val r = new scala.util.Random(i.toInt)
      (i, Array.fill(16)(r.nextFloat() - 0.5f))
    }
    graft.ext.AnnIndex.buildIvfPq(vecs.toDF("cid", "cvec"), dim = 16,
      nlist = 4, root = root, m = 4, codes = 8)
    val served = graft.ext.AnnIndex.mineTopK(spark, root,
      vecs.map(v => (v._1 + 1000L, v._2)).toDF("qid", "qvec"),
      k = 3, nprobe = 2, rerank = 8)
    val s = planString(served)
    assert(!s.contains("BroadcastExchange"),
      s"mineTopK must not broadcast any side\n$s")
    assert(!s.contains("CartesianProduct") &&
      !s.contains("BroadcastNestedLoopJoin"),
      s"mineTopK must join on keys only\n$s")
    assert(!s.contains("centroids.parquet"),
      s"probe step must not scan the centroid table\n$s")
  }

  test("st32 per-batch serve: the streamed retrieval eval touches ONLY " +
      "the encoded index table and the static qrels relation — no " +
      "corpus, centroid, meta, or codebook scan in the per-batch plan") {
    import org.apache.spark.sql.functions._
    val base = java.nio.file.Files.createTempDirectory("graft_st32plan_")
    val root = base.resolve("idx").toString
    val corpus = graft.Tables.embeddings(spark, sf)
      .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
    graft.ext.AnnIndex.buildIvfPq(corpus, dim = 64, nlist = 4,
      root = root, m = 4, codes = 8)
    val qrelsDir = base.resolve("qrels").toString
    val qdir = base.resolve("queries").toString
    corpus.where(col("cid") < 4)
      .select(col("cid").as("query_id"), (col("cid") + 1).as("corpus_id"))
      .write.parquet(qrelsDir)
    corpus.where(col("cid") < 4)
      .select(col("cid").as("qid"), col("cvec").as("qvec"))
      .write.parquet(qdir)
    // the st32 foreachBatch body, verbatim: a pre-opened handle serves
    // the batch (here: the streamed query parquet), qrels joins in from
    // its materialized relation
    val idx = graft.ext.AnnIndex.open(spark, root)
    val batch = spark.read.parquet(qdir)
    val served = graft.ext.AnnIndex.mineTopK(idx, batch, k = 3,
      nprobe = 2, rerank = 8, excludeSelf = true)
    val qrels = spark.read.parquet(qrelsDir)
      .join(batch.select(col("qid").as("query_id")),
        Seq("query_id"), "left_semi")
    val s = planString(
      graft.ext.Similarity.evalRetrieval(served, qrels, kEval = 3))
    Seq("embeddings.parquet", "centroids.parquet", "meta.parquet",
        "codebook.parquet").foreach { f =>
      assert(!s.contains(f), s"per-batch plan must not scan $f\n$s")
    }
    assert(s.contains("encoded.parquet"),
      s"serve must come from the encoded index table\n$s")
  }

  test("st35 per-batch mine: the streamed bitext fold touches ONLY the " +
      "target encoded table and the static tgt-sums relation — no " +
      "source corpus, no backward re-serve, no centroid/meta/codebook " +
      "scan in the per-batch plan") {
    import org.apache.spark.sql.functions._
    val base = java.nio.file.Files.createTempDirectory("graft_st35plan_")
    val tgtRoot = base.resolve("tgt_idx").toString
    val e = graft.Tables.embeddings(spark, sf)
    val tgt = e.where(col("vec_id") % 2 === 1)
      .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
    graft.ext.AnnIndex.buildIvfPq(tgt, dim = 64, nlist = 4,
      root = tgtRoot, m = 4, codes = 8)
    val sumsDir = base.resolve("tgt_sums").toString
    // static backward sums (any shape works for the plan assert)
    tgt.select(col("cid").as("tid"),
        col("cid").cast("decimal(38,18)").as("__tsum"),
        lit(4L).as("__tcnt"))
      .write.parquet(sumsDir)
    val qdir = base.resolve("batch").toString
    e.where(col("vec_id") % 2 === 0 && col("vec_id") < 8)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      .write.parquet(qdir)
    // the st35 foreachBatch body, verbatim: pre-opened handle serves the
    // batch forward, static sums join in from their materialized relation
    val idx = graft.ext.AnnIndex.open(spark, tgtRoot)
    val batch = spark.read.parquet(qdir)
    val fwd = graft.ext.AnnIndex.mineTopK(idx, batch, k = 3,
      nprobe = 4, rerank = 100, excludeSelf = false)
    val s = planString(graft.ext.Similarity.marginFromSums(fwd,
      spark.read.parquet(sumsDir), minMargin = 1.05))
    Seq("embeddings.parquet", "centroids.parquet", "meta.parquet",
        "codebook.parquet", "src_idx").foreach { f =>
      assert(!s.contains(f), s"per-batch plan must not scan $f\n$s")
    }
    assert(s.contains("encoded.parquet"),
      s"the forward serve must come from the encoded index table\n$s")
    assert(s.contains("tgt_sums"),
      s"the backward side must be the static sums relation\n$s")
  }

  test("st36 per-batch flag: the streamed near-dup serve touches ONLY " +
      "the index postings and fingerprint tables — no meta re-read, no " +
      "corpus scan, no cartesian in the per-batch plan") {
    import org.apache.spark.sql.functions._
    val base = java.nio.file.Files.createTempDirectory("graft_st36plan_")
    val root = base.resolve("nd_idx").toString
    val docs = graft.Tables.documents(spark, sf)
      .select(col("doc_id"), col("text"))
    graft.ext.Dedup.saveMinHashIndex(root, docs, "text", "doc_id")
    val conf = graft.ext.Dedup.openMinHashIndex(spark, root)
    val bdir = base.resolve("batch").toString
    docs.where(col("doc_id") < 5)
      .select((col("doc_id") + 100000).as("doc_id"), col("text"))
      .write.parquet(bdir)
    // the st36 foreachBatch body, verbatim: pre-opened knobs, serve the
    // arriving batch against the persisted postings + fingerprints
    val batch = spark.read.parquet(bdir)
    val s = planString(graft.ext.Dedup.flagAgainstIndex(spark, root, conf,
      batch, "text", "doc_id"))
    Seq("documents.parquet", "meta.parquet").foreach { f =>
      assert(!s.contains(f), s"per-batch plan must not scan $f\n$s")
    }
    assert(s.contains("buckets.parquet") && s.contains("fps.parquet"),
      s"serve must come from the persisted postings + fingerprints\n$s")
    assert(s.contains("tombstones.parquet"),
      s"the flood-cap tombstone anti-join is part of the pinned serve " +
        s"plan (r14 cross-increment re-cap) — tiny table, broadcast\n$s")
    assert(!s.contains("CartesianProduct") &&
      !s.contains("BroadcastNestedLoopJoin"),
      s"flag serve must join on keys only\n$s")
  }

  test("pk4/pk5 packing: only bookkeeping-keyed hash exchanges " +
      "(__pid / seq grouping / shard_id), map-side partial collect, " +
      "no broadcast or cartesian anywhere") {
    import org.apache.spark.sql.functions._
    val docs = graft.Tables.documents(spark, sf)
    val toks = filter(split(col("text"), "\\s+"), t => length(t) > 0)
    val s4 = planString(graft.ext.Packing.packSequences(
      docs, "doc_id", toks, seqLen = 256))
    val s5 = planString(graft.ext.Packing.packExamples(
      docs, "doc_id", size(toks).cast("long"), seqLen = 512,
      shardTokens = 4096L))
    Seq(("pk4", s4), ("pk5", s5)).foreach { case (n, s) =>
      assert(!s.contains("CartesianProduct") &&
        !s.contains("BroadcastNestedLoopJoin") &&
        !s.contains("BroadcastExchange"), s"$n must join nothing\n$s")
      // every hash exchange is keyed by packing bookkeeping, never by
      // document/token content
      s.linesIterator.filter(_.contains("Exchange hashpartitioning"))
        .foreach(l => assert(l.contains("__pid") ||
          l.contains("_groupingexpression") || l.contains("seq_id") ||
          l.contains("shard_id"),
          s"$n: content-keyed hash shuffle found: $l\n$s"))
      // the per-group collect is partial-aggregated before its exchange
      assert(s.contains("partial_collect_list"), s"$n\n$s")
    }
  }

  test("pk9 padded batches: the pk4/pk5 exchange contract — rank-keyed " +
      "bookkeeping shuffles only, no broadcast/cartesian, no " +
      "whole-corpus single-task window") {
    import org.apache.spark.sql.functions._
    val docs = graft.Tables.documents(spark, sf)
    val toks = size(filter(split(col("text"), "\\s+"),
      t => length(t) > 0)).cast("long")
    val s = planString(graft.ext.Packing.packBatches(
      docs, "doc_id", toks, maxTokens = 1024L, maxRows = 8,
      shardRows = 128L))
    assert(!s.contains("CartesianProduct") &&
      !s.contains("BroadcastNestedLoopJoin"), s"pk9 must join on keys\n$s")
    // the ONLY broadcast allowed is groupRank's metadata-sized
    // per-partition base rejoin (a LocalTableScan of driver-computed
    // stats, one row per partition) — never a scanned relation
    var from = 0
    while ({ val i = s.indexOf("BroadcastExchange", from); from = i + 1
        i >= 0 }) {
      val window = s.substring(from, math.min(s.length, from + 400))
      assert(window.contains("LocalTableScan"),
        s"pk9: broadcast of a non-metadata relation\n$window\n$s")
    }
    // the global (length DESC, id) order is the two-phase rank (its
    // phase-1 range sort sits behind the localCheckpoint, so the
    // visible plan starts at Scan ExistingRDD); the rank window is
    // keyed by the physical partition id, never an empty partition
    // spec over the whole corpus
    assert(s.contains("windowspecdefinition(__gr_pid"),
      s"expected the rank window keyed by __gr_pid\n$s")
    assert(!s.contains("windowspecdefinition(n_tokens") &&
      !s.contains("windowspecdefinition(doc_id"),
      s"whole-corpus window found\n$s")
    s.linesIterator.filter(_.contains("Exchange hashpartitioning"))
      .foreach(l => assert(l.contains("__pid") ||
        l.contains("__gr_pid") ||
        l.contains("_groupingexpression") || l.contains("shard_id"),
        s"pk9: content-keyed hash shuffle found: $l\n$s"))
    assert(s.contains("partial_collect_list"), s"pk9\n$s")
  }

  test("p9 semantic order: exactly one range exchange over the corpus " +
      "(the two-phase rank), embeddings never hash-shuffled") {
    val df = PipelineQueries.incontextOrder(spark, sf)
    val s = planString(df)
    assert(s.contains("Exchange rangepartitioning"),
      s"expected a range exchange\n$s")
    // the only hash exchange allowed is the prefix-sum's __pid-keyed
    // re-route of the already-checkpointed NARROW (key, carry, count)
    // frame — never a content-keyed shuffle of the embeddings
    s.linesIterator.filter(_.contains("Exchange hashpartitioning"))
      .foreach(l => assert(l.contains("__pid"),
        s"content-keyed hash shuffle found: $l\n$s"))
    assert(!s.contains("cvec"),
      s"embeddings must not survive into the exchanged frame\n$s")
  }

  test("Bm25Index.search: term filter pushed to the postings scan; " +
      "no-deletions plan carries no anti-join; markers broadcast " +
      "anti-joined once deletions exist") {
    import spark.implicits._
    val docs = Seq(
      (1L, "spark hash join tables"),
      (2L, "the quick brown fox"),
      (3L, "hash join spark again"))
      .toDF("doc_id", "text")
    val root = java.nio.file.Files.createTempDirectory("graft_planbm25_")
      .resolve("idx").toString
    graft.ext.Bm25Index.build(root, docs, "text", "doc_id")

    val clean = planString(
      graft.ext.Bm25Index.search(spark, root, Seq("spark", "join")))
    // the query-term filter must reach the parquet reader: everything
    // downstream is query-sized only if the scan is
    assert(clean.contains("PushedFilters: [In(term"),
      s"term filter not pushed to the postings scan\n$clean")
    assert(!clean.contains("LeftAnti"),
      s"no-deletions serve must carry no marker anti-join\n$clean")
    assert(!clean.contains("deletes.parquet"),
      s"no-deletions serve must not read a marker table\n$clean")

    graft.ext.Bm25Index.delete(spark, root, Seq(1L).toDF("doc_id"),
      "doc_id")
    val del = planString(
      graft.ext.Bm25Index.search(spark, root, Seq("spark", "join")))
    assert(del.contains("PushedFilters: [In(term"),
      s"pushdown lost on the deletions path\n$del")
    assert(del.contains("BroadcastHashJoin") && del.contains("LeftAnti"),
      s"markers must anti-join BROADCAST, never shuffled\n$del")
  }

  test("s31 hybrid persisted serve: term filter pushed to the postings " +
      "scan; takedown markers broadcast anti-joined on BOTH sides") {
    val df = ExtensionQueries.hybridPersisted(spark, sf)
    val s = planString(df)
    // the lexical subtree stays query-sized only if the term filter
    // reaches the postings parquet reader
    assert(s.contains("PushedFilters: [In(term"),
      s"term filter not pushed to the postings scan\n$s")
    // two marker tables are live (BM25 doc_id markers, ANN cid
    // markers) — both must anti-join as broadcasts, never shuffled
    val antis = s.linesIterator.filter(_.contains("LeftAnti")).toList
    assert(antis.size >= 2,
      s"expected BM25 + ANN marker anti-joins, found ${antis.size}\n$s")
    antis.foreach(l => assert(l.contains("BroadcastHashJoin"),
      s"marker anti-join not broadcast: $l\n$s"))
  }
}
