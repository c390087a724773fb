package graft.ext

import graft.TestSpark
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class PackingSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def docs = Seq(
    (1L, 700L), (2L, 700L), (3L, 100L), (4L, 0L), (5L, 2500L), (6L, 48L)
  ).toDF("doc_id", "toks")

  test("packConcat: offsets are the exact prefix sum; straddling docs span sequences") {
    val got = Packing.packConcat(docs, "doc_id", col("toks"), seqLen = 1024)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(got.toSeq === Seq(
      (1L, 700L, 0L, 0L, 0L),       // [0, 700)    in seq 0
      (2L, 700L, 700L, 0L, 1L),     // [700, 1400) straddles the 1024 cut
      (3L, 100L, 1400L, 1L, 1L),
      // doc 4 (zero tokens) occupies no positions and is dropped
      (5L, 2500L, 1500L, 1L, 3L),   // spans seqs 1,2,3
      (6L, 48L, 4000L, 3L, 3L)))
    assert(Packing.sequenceCount(
      Packing.packConcat(docs, "doc_id", col("toks"), 1024), 1024) === 4L)
  }

  test("packConcat: result is independent of input partitioning AND of numPartitions") {
    def run(df: org.apache.spark.sql.DataFrame, nPart: Int) =
      Packing.packConcat(df, "doc_id", col("toks"), 1024, numPartitions = nPart)
        .orderBy("doc_id").collect().map(_.toSeq).toSeq
    val a = run(docs.repartition(7), 2)
    val b = run(docs.repartition(1), 5)
    val c = run(docs.coalesce(1), 3)
    assert(a === b && b === c)
  }

  test("packConcat plan: no global single-task window — the window is per-partition") {
    val plan = Packing.packConcat(docs, "doc_id", col("toks"), 1024)
      .queryExecution.executedPlan.toString
    // a Window with an empty partition spec would run in one task; ours
    // must partition by the physical partition id
    val windowLines = plan.linesIterator.filter(_.contains("Window")).toSeq
    assert(windowLines.nonEmpty && windowLines.forall(_.contains("__pid")),
      s"window must be keyed by __pid\n$plan")
  }

  test("shardByTokens: contiguous budget windows, straddlers go to their " +
      "first token's shard, manifest is exact") {
    val got = Packing.shardByTokens(docs, "doc_id", col("toks"), shardTokens = 1000)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getAs[Long]("shard_id")))
    // offsets: 0, 700, 1400, (dropped), 1500, 4000
    assert(got.toSeq === Seq((1L, 0L), (2L, 0L), (3L, 1L), (5L, 1L), (6L, 4L)))

    val manifest = Packing.shardManifest(
        Packing.shardByTokens(docs, "doc_id", col("toks"), 1000))
      .orderBy("shard_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(manifest.toSeq === Seq((0L, 2L, 1400L), (1L, 2L, 2600L), (4L, 1L, 48L)))

    // Layout independence.
    def run(nPart: Int) =
      Packing.shardByTokens(docs.repartition(nPart), "doc_id", col("toks"),
        1000).orderBy("doc_id").collect().map(_.toSeq).toSeq
    assert(run(7) === run(1))
  }

  test("packSequences: tokens laid end-to-end in id order, straddlers " +
      "split across sequences, short tail kept, empty docs dropped, " +
      "partitioning-independent") {
    val spark0 = spark
    import spark0.implicits._
    import org.apache.spark.sql.functions._
    val df = Seq(
      (1L, Seq("a", "b", "c")),   // fills seq 0 (len 4) with doc 2's d
      (2L, Seq("d", "e")),        // d ends seq 0, e starts seq 1
      (3L, Seq.empty[String]),    // no positions
      (4L, Seq("f", "g", "h", "i", "j"))) // e f g i -> wait, id order
      .toDF("id", "toks")
    def run(nIn: Int) = graft.ext.Packing
      .packSequences(df.repartition(nIn), "id", col("toks"), seqLen = 4)
      .orderBy("seq_id").collect()
      .map(r => (r.getLong(0), r.getLong(1),
        r.getAs[scala.collection.Seq[String]](2).toSeq))
    val got = run(3)
    // stream: a b c d | e f g h | i j
    assert(got.toSeq === Seq(
      (0L, 4L, Seq("a", "b", "c", "d")),
      (1L, 4L, Seq("e", "f", "g", "h")),
      (2L, 2L, Seq("i", "j"))))
    assert(run(1).toSeq === got.toSeq)
    assert(run(7).toSeq === got.toSeq)
  }

  test("packExamples: no example straddles a sequence, greedy next-fit " +
      "in id order, overlong examples sit alone and flag, " +
      "partitioning-independent") {
    val spark0 = spark
    import spark0.implicits._
    import org.apache.spark.sql.functions._
    // counts: 3,4,5 fill seq0 (3+4=7<=10, +5 would be 12) etc.; 11 is
    // oversize; 10 fills a sequence exactly
    val df = Seq((1L, 3L), (2L, 4L), (3L, 5L), (4L, 11L), (5L, 10L),
        (6L, 2L), (7L, 0L))
      .toDF("id", "n")
    def run(nIn: Int) = graft.ext.Packing.packExamples(
        df.repartition(nIn), "id", col("n"), seqLen = 10,
        shardTokens = 100L)
      .orderBy("id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(3),
        r.getBoolean(4)))
    val got = run(3)
    // one shard (35 tokens < 100): seq0 = {1,2}, seq1 = {3}? next-fit:
    // 3 (used 3), 4 (used 7), 5 > 3 left -> seq1 (used 5), 11 > 5 left
    // -> seq2 alone (oversize, saturates), 10 -> seq3 (exact fill),
    // 2 -> seq4; id 7 (0 tokens) dropped
    assert(got.toSeq === Seq(
      (1L, 3L, 0L, false), (2L, 4L, 0L, false), (3L, 5L, 1L, false),
      (4L, 11L, 2L, true), (5L, 10L, 3L, false), (6L, 2L, 4L, false)))
    assert(run(1).toSeq === got.toSeq)
    assert(run(7).toSeq === got.toSeq)
    // the no-straddle invariant, stated directly: per-(shard, seq)
    // token sums never exceed seqLen unless the sequence is one
    // oversize example
    val sums = graft.ext.Packing.packExamples(df, "id", col("n"),
        seqLen = 10, shardTokens = 100L)
      .groupBy(col("shard_id"), col("seq_in_shard"))
      .agg(sum(col("n_tokens")).as("s"), count(lit(1)).as("c"),
        max(col("oversize")).as("o"))
      .collect()
    sums.foreach { r =>
      assert(r.getLong(2) <= 10L || (r.getLong(3) === 1L &&
        r.getBoolean(4)), r.toString)
    }
  }

  test("Profile.describe: one row per column with exact stats") {
    val df = Seq(
      (Some(1L), Some("a"), Some(1.5)),
      (Some(2L), None, Some(-2.5)),
      (Some(2L), Some("c"), None)
    ).toDF("k", "s", "v")
    val got = Profile.describe(df).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(got("k").getAs[Long]("n") === 3L)
    assert(got("k").getAs[Long]("n_nulls") === 0L)
    assert(got("k").getAs[Long]("n_distinct") === 2L)
    assert(got("k").getAs[Double]("min_num") === 1.0)
    assert(got("k").getAs[Double]("max_num") === 2.0)
    assert(got("s").getAs[Long]("n_nulls") === 1L)
    assert(got("s").getAs[String]("min_str") === "a")
    assert(got("s").getAs[String]("max_str") === "c")
    assert(got("v").getAs[Long]("n_nulls") === 1L)
    assert(got("v").getAs[Double]("min_num") === -2.5)
    assert(got("v").getAs[Double]("max_num") === 1.5)
    assert(got("v").isNullAt(got("v").fieldIndex("min_str")))
  }

  // --------------------------------------------- distributed group rank

  /** Skewed frame: 80% of rows in one group, plus a null group and a
    * singleton — the language-mix shape the distributed rank exists
    * for. Values collide on purpose; id is the tiebreak. */
  private def rankFrame = {
    val rows = (1L to 80L).map(i => (i, Option("en"), i % 7)) ++
      (81L to 95L).map(i => (i, Option("fr"), i % 3)) ++
      Seq((96L, Option("zz"), 5L), (97L, None, 1L), (98L, None, 1L))
    rows.toDF("id", "lang", "score")
  }

  private def windowRanks(df: org.apache.spark.sql.DataFrame) = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy("lang")
    df.withColumn("gr_rank", row_number().over(
        w.orderBy(col("score").desc, col("id"))).cast("long"))
      .withColumn("gr_n", count(lit(1)).over(w))
      .orderBy("id").collect().map(_.toSeq).toSeq
  }

  test("groupRank: equals the single-node window on a skewed frame " +
      "(null group included), under any partitioning/numPartitions") {
    val want = windowRanks(rankFrame)
    def run(nIn: Int, nPart: Int) =
      Packing.groupRank(rankFrame.repartition(nIn), Seq("lang"),
          Seq(col("score").desc, col("id")), numPartitions = nPart)
        .select("id", "lang", "score", "gr_rank", "gr_n")
        .orderBy("id").collect().map(_.toSeq).toSeq
    assert(run(7, 4) === want)
    assert(run(1, 9) === want)
    assert(run(5, 1) === want)
  }

  test("batchReportWithBoundary: boundary_waste_ppm is the exact " +
      "sharded-vs-single padded delta, positive under tight shards, " +
      "and shrinks to 0 once one shard holds everything") {
    val r = new scala.util.Random(7)
    val df = (1L to 200L).map(i => (i, 1L + r.nextInt(60)))
      .toDF("doc_id", "toks")
    def rep(sr: Long) = Packing.batchReportWithBoundary(df, "doc_id",
      col("toks"), maxTokens = 120L, maxRows = 4, shardRows = sr).head
    val (r8, r64, rAll) = (rep(8L), rep(64L), rep(100000L))
    // the single-shard replay is independent of the sharding knob
    val single = r8.getAs[Long]("single_padded_tokens")
    assert(r64.getAs[Long]("single_padded_tokens") === single)
    assert(rAll.getAs[Long]("single_padded_tokens") === single)
    // the column IS the delta, in exact FLOOR-division ppm of the
    // single layout (floor, not truncation: the delta can be negative —
    // next-fit is a heuristic and a forced break occasionally beats it —
    // and SQL `//` floors where a plain div would truncate)
    Seq(r8, r64, rAll).foreach { row =>
      val want = Math.floorDiv(
        (row.getAs[Long]("padded_tokens") - single) * 1000000L, single)
      assert(row.getAs[Long]("boundary_waste_ppm") === want)
    }
    // tight shards (8 rows per shard, 4-row batches) show a measurable
    // boundary effect (this fixture: negative — the forced breaks beat
    // greedy); widening the shard shrinks its magnitude; one shard = 0
    val (w8, w64, wAll) = (r8.getAs[Long]("boundary_waste_ppm"),
      r64.getAs[Long]("boundary_waste_ppm"),
      rAll.getAs[Long]("boundary_waste_ppm"))
    assert(w8 !== 0L, "expected a nonzero boundary effect at shardRows=8")
    assert(math.abs(w8) >= math.abs(w64),
      s"boundary magnitude must not grow with shardRows: |$w8| < |$w64|")
    assert(wAll === 0L, s"single shard must read 0, got $wAll")
  }

  test("checkpointDir knob: reliable path is value-identical to the " +
      "local path, files live under the dir and are cleaned on scope " +
      "exit; releaseLocalCheckpoints frees the local-path blocks") {
    val want = windowRanks(rankFrame)
    val dir = java.nio.file.Files.createTempDirectory("graft_relck_")
      .resolve("ck").toString
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // the caller's dir PRE-EXISTS with unrelated content: the scope
    // must not claim it (the r11 advice finding — a recursive delete
    // of the whole dir destroyed pre-existing caller data)
    fs.mkdirs(p)
    val sentinel = new org.apache.hadoop.fs.Path(dir, "caller_data.txt")
    fs.create(sentinel, true).close()
    val priorCk = spark.sparkContext.getCheckpointDir
    val (got, pc) = Scale.withReliableCheckpoints(spark, dir) {
      // the scope dir is a UNIQUE subdir of dir
      val ck = spark.sparkContext.getCheckpointDir
      assert(ck.exists(_.contains(dir.stripSuffix("/") + "/graft-ckpt-")),
        s"scope dir $ck must be a subdirectory of $dir")
      val rank = Packing.groupRank(rankFrame, Seq("lang"),
          Seq(col("score").desc, col("id")), numPartitions = 4)
        .select("id", "lang", "score", "gr_rank", "gr_n")
        .orderBy("id").collect().map(_.toSeq).toSeq
      // the reliable checkpoint wrote real files under the scope dir
      val sp = new org.apache.hadoop.fs.Path(ck.get)
      assert(fs.exists(sp) &&
        fs.listStatus(sp).nonEmpty, "expected checkpoint files under dir")
      val pc = Packing.packConcat(rankFrame, "id", col("score") + 1,
          seqLen = 5)
        .orderBy("id").collect().map(_.toSeq).toSeq
      (rank, pc)
    }
    // packConcat on the local path, same values as the reliable one
    val pcLocal = Packing.packConcat(rankFrame, "id", col("score") + 1,
        seqLen = 5)
      .orderBy("id").collect().map(_.toSeq).toSeq
    assert(pc === pcLocal)
    assert(got === want)
    // scope exit removed the scope's own subdirectory — and ONLY it:
    // the caller's pre-existing file survives, no graft-ckpt leftover
    assert(fs.exists(sentinel),
      "withReliableCheckpoints must not delete pre-existing caller data")
    assert(!fs.listStatus(p).exists(
        _.getPath.getName.startsWith("graft-ckpt-")),
      "withReliableCheckpoints must remove its scope subdirectory")
    // the prior checkpoint dir is restored (component-wise: the public
    // setter nests one UUID level under the restored root)
    (priorCk, spark.sparkContext.getCheckpointDir) match {
      case (None, after) => assert(after.isEmpty,
        s"expected checkpoint dir cleared, got $after")
      case (Some(before), after) =>
        val root = before.stripSuffix("/")
        assert(after.exists(a => a == root ||
            a.startsWith(root + "/")),
          s"expected checkpoint dir under $before, got $after")
    }
    // the local path pinned blocks; explicit release frees them all
    val persisted0 = spark.sparkContext.getPersistentRDDs.size
    assert(persisted0 > 0, "local-path checkpoints should be pinned")
    val released = Scale.releaseLocalCheckpoints()
    assert(released > 0)
    assert(spark.sparkContext.getPersistentRDDs.size < persisted0)
  }

  test("scopedCheckpoints: a scope's pinned frames are invisible to the " +
      "global releaseLocalCheckpoints and freed only by its own " +
      "release (r11 advice: concurrent pipelines must not interfere)") {
    Scale.releaseLocalCheckpoints() // drain any global leftovers
    val (ranked, scope) = Scale.scopedCheckpoints { s =>
      val r = Packing.groupRank(rankFrame, Seq("lang"),
        Seq(col("score").desc, col("id")), numPartitions = 4)
      (r, s)
    }
    // another pipeline's global release must NOT kill this scope's
    // phase-1 blocks while `ranked` is still lazy...
    assert(Scale.releaseLocalCheckpoints() === 0,
      "global release must not see scope-pinned frames")
    // ...so the scoped frame still executes correctly afterwards
    val got = ranked.select("id", "lang", "score", "gr_rank", "gr_n")
      .orderBy("id").collect().map(_.toSeq).toSeq
    assert(got === windowRanks(rankFrame))
    // the scope's own release frees its blocks
    assert(scope.release() > 0)
    assert(scope.release() === 0, "release is idempotent")
  }

  test("packBatches: equals a single-node padded next-fit replica on " +
      "(length DESC, id) order, under any partitioning; caps respected; " +
      "oversize alone; zero-token rows dropped") {
    val rows = (0L until 300L).map(i => (i, ((i * 37) % 240) + 1))
      .map { case (id, n) => (id, if (id == 7L) 5000L else n) } ++ // oversize
      Seq((900L, 0L)) // zero-token: dropped
    val maxTokens = 1024L
    val maxRows = 8
    val shardRows = 64
    // single-node replica of the padded next-fit over the global
    // (n DESC, id) order, restarting per shardRows-row shard
    val sorted = rows.filter(_._2 > 0).sortBy { case (id, n) => (-n, id) }
    val want = sorted.zipWithIndex
      .groupBy(_._2 / shardRows)
      .flatMap { case (shard, grp) =>
        var b = -1L; var cnt = 0; var mx = 0L
        grp.sortBy(_._2).map { case ((id, n), _) =>
          val nm = math.max(mx, n)
          val fits = b >= 0 && cnt < maxRows && nm <= maxTokens / (cnt + 1)
          if (!fits) { b += 1; cnt = 0; mx = 0L }
          cnt += 1; mx = math.max(mx, n)
          id -> (n, shard.toLong, b, n > maxTokens)
        }
      }
    def run(nPart: Int) = Packing.packBatches(
        rows.toDF("id", "toks").repartition(nPart), "id", col("toks"),
        maxTokens, maxRows, shardRows.toLong)
      .collect()
      .map(r => r.getAs[Long]("id") -> ((r.getAs[Long]("n_tokens"),
        r.getAs[Long]("shard_id"), r.getAs[Long]("batch_in_shard"),
        r.getAs[Boolean]("oversize"))))
      .toMap
    val got = run(7)
    assert(got === want)
    assert(run(1) === want)
    assert(!got.contains(900L), "zero-token rows must be dropped")
    // caps: per batch, rows <= maxRows and padded cost <= maxTokens
    // unless the batch is a lone oversize row
    got.groupBy { case (_, (_, sh, b, _)) => (sh, b) }.foreach {
      case (_, members) =>
        val ns = members.values.map(_._1)
        assert(members.size <= maxRows)
        assert(members.size * ns.max <= maxTokens ||
          (members.size == 1 && ns.head > maxTokens))
    }
    // the oversize row sits alone and flags
    val overBatch = got(7L)
    assert(overBatch._4 === true)
    assert(got.count { case (_, (_, sh, b, _)) =>
      (sh, b) == (overBatch._2, overBatch._3) } === 1)
  }

  test("batchReport: exact padded/real accounting on a hand example") {
    val packed = Seq(
      // batch (0,0): rows 10,8 -> padded 2*10=20, real 18
      (1L, 10L, 0L, 0L, false), (2L, 8L, 0L, 0L, false),
      // batch (0,1): lone oversize 40 -> padded 40, real 40
      (3L, 40L, 0L, 1L, true),
      // batch (1,0): rows 5,5,4 -> padded 15, real 14
      (4L, 5L, 1L, 0L, false), (5L, 5L, 1L, 0L, false),
      (6L, 4L, 1L, 0L, false))
      .toDF("id", "n_tokens", "shard_id", "batch_in_shard", "oversize")
    val got = Packing.batchReport(packed).collect()(0)
    assert(got.getAs[Long]("n_rows") === 6L)
    assert(got.getAs[Long]("n_batches") === 3L)
    assert(got.getAs[Long]("n_oversize") === 1L)
    assert(got.getAs[Long]("real_tokens") === 72L)
    assert(got.getAs[Long]("padded_tokens") === 75L)
    assert(got.getAs[Long]("padding_ppm") === (75L - 72L) * 1000000L / 75L)
  }

  test("groupRank: high-cardinality fallback path is value-identical") {
    val want = windowRanks(rankFrame)
    val got = Packing.groupRank(rankFrame, Seq("lang"),
        Seq(col("score").desc, col("id")), numPartitions = 4,
        maxGroupStats = 2) // force the fallback (stats rows > 2)
      .select("id", "lang", "score", "gr_rank", "gr_n")
      .orderBy("id").collect().map(_.toSeq).toSeq
    assert(got === want)
  }

  test("groupRank: crossover boundary — many medium groups agree on " +
      "both sides of maxGroupStats (round-10 backlog probe)") {
    // 400 groups × 5 rows: group stats are no longer tiny but rank
    // totals must be identical whichever path the threshold picks.
    val rows = (0L until 2000L).map(i => (i, s"g${i % 400}", (i * 7) % 13))
    val df = rows.toDF("id", "lang", "score").repartition(8)
    val want = windowRanks(df)
    // stats rows = |(pid, group)| pairs; bracket the realized count so
    // one run takes the broadcast path and one the window fallback.
    def run(cap: Int) =
      Packing.groupRank(df, Seq("lang"),
          Seq(col("score").desc, col("id")), numPartitions = 8,
          maxGroupStats = cap)
        .select("id", "lang", "score", "gr_rank", "gr_n")
        .orderBy("id").collect().map(_.toSeq).toSeq
    assert(run(1 << 18) === want) // broadcast path (default cap)
    assert(run(1) === want)       // forced window fallback
  }

  test("groupRank plan: no window partitioned by the group alone — " +
      "the rank window is keyed by the physical partition id") {
    val df = Packing.groupRank(rankFrame, Seq("lang"),
      Seq(col("score").desc, col("id")), numPartitions = 4)
    val windows = df.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window =>
        w.partitionSpec.map(_.sql.toLowerCase)
    }
    assert(windows.nonEmpty)
    windows.foreach { spec =>
      assert(spec.exists(_.contains("__gr_pid")),
        s"window must be co-keyed by __gr_pid, got $spec")
    }
  }

  test("Profile *Dist variants equal the windowed originals on a " +
      "2-group skewed frame (incl. a whole-table single group)") {
    // 90% of rows in one group — the shape the Dist variants exist for
    val rows = (1L to 90L).map(i => ("big", i % 11, i)) ++
      (91L to 100L).map(i => ("sml", i % 4, i))
    val df = rows.toDF("g", "v", "id").repartition(6)
    def sortedRows(d: org.apache.spark.sql.DataFrame) =
      d.orderBy("id").collect().map(_.toSeq).toSeq
    // equi-depth: identical buckets
    val edW = Profile.equiDepthBuckets(df, Seq("g"), col("v"), 4, Seq("id"))
      .select("g", "v", "id", "bucket")
    val edD = Profile.equiDepthBucketsDist(df, Seq("g"), col("v"), 4, Seq("id"))
      .select("g", "v", "id", "bucket")
    assert(sortedRows(edD) === sortedRows(edW))
    // winsorize: identical clip bounds and clipped values
    val wW = Profile.winsorize(df, Seq("g"), col("v"), 10, 90)
      .select("g", "id", "x_e", "win_lo", "win_hi", "clipped")
    val wD = Profile.winsorizeDist(df, Seq("g"), col("v"), 10, 90)
      .select("g", "id", "x_e", "win_lo", "win_hi", "clipped")
    assert(wD.orderBy("id").collect().map(_.toSeq).toSeq ===
      wW.orderBy("id").collect().map(_.toSeq).toSeq)
    // mad: identical per-group (n, median, mad)
    val mW = Profile.mad(df, Seq("g"), col("v"))
      .orderBy("g").collect().map(_.toSeq).toSeq
    val mD = Profile.madDist(df, Seq("g"), col("v"))
      .orderBy("g").collect().map(_.toSeq).toSeq
    assert(mD === mW)
    // whole-table call (ONE group): the windowed original's worst case
    val oneW = Profile.equiDepthBuckets(df.withColumn("c", lit(1)),
      Seq("c"), col("v"), 3, Seq("id")).select("id", "bucket")
    val oneD = Profile.equiDepthBucketsDist(df.withColumn("c", lit(1)),
      Seq("c"), col("v"), 3, Seq("id")).select("id", "bucket")
    assert(sortedRows(oneD) === sortedRows(oneW))
  }

  test("contrastiveBatches: same-cluster members never share a batch, " +
      "assignment is deterministic, oversized clusters fail fast") {
    // clusters: {0,1,2,3} (one 4-pile), {10,11} (pair), singletons 20..29
    val members = (Seq((0L, 0L), (1L, 0L), (2L, 0L), (3L, 0L),
      (10L, 10L), (11L, 10L)) ++ (20L to 29L).map(i => (i, i)))
      .toDF("id", "cluster")
    val got = Packing.contrastiveBatches(members, "id", "cluster",
      nBatches = 4).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.length === 16)
    assert(got.forall(t => t._3 >= 0 && t._3 < 4))
    // the hygiene rule: per cluster, batches are pairwise distinct
    got.groupBy(_._2).foreach { case (c, ms) =>
      assert(ms.map(_._3).distinct.length === ms.length,
        s"cluster $c put two members in one batch")
    }
    // deterministic modular form: member i of cluster c -> (c + i - 1) % B
    val want = got.map { case (id, c, _) => (id, c) }.groupBy(_._2)
      .toSeq.flatMap { case (c, ms) =>
        ms.map(_._1).sorted.zipWithIndex.map { case (id, i) =>
          (id, c, (c + i) % 4) }
      }.sortBy(_._1)
    assert(got.sortBy(_._1).toSeq === want)
    // a 5-pile cannot fit 4 batches: fail fast, not silent wrap
    val flood = (0L until 5L).map(i => (i, 0L)).toDF("id", "cluster")
    val e = intercept[IllegalArgumentException] {
      Packing.contrastiveBatches(flood, "id", "cluster", nBatches = 4)
    }
    assert(e.getMessage.contains("largest cluster"))
  }

  test("ntileFromRank: matches ANSI ntile for every (n, k) in a grid") {
    for (n <- Seq(1, 2, 3, 4, 5, 7, 10, 23); k <- Seq(1, 2, 3, 4, 5, 8, 30)) {
      val df = (1 to n).map(i => (i.toLong, i.toLong)).toDF("id", "x")
      val w = org.apache.spark.sql.expressions.Window.orderBy(col("id"))
      val got = df
        .withColumn("rank", row_number().over(w).cast("long"))
        .withColumn("n", lit(n.toLong))
        .withColumn("want", ntile(k).over(w).cast("long"))
        .withColumn("gotTile", Packing.ntileFromRank(col("rank"), col("n"), k))
        .where(col("want") =!= col("gotTile"))
        .count()
      assert(got === 0L, s"ntile mismatch at n=$n k=$k")
    }
  }
}
