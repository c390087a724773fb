package graft.ext

import graft.TestSpark
import graft.sink.TableRef
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.{RDDScanExec, SortExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class ScaleSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("saltedJoin: salt is retry-deterministic (content-derived)") {
    // The salt must be a pure function of row content: an id-based salt
    // (monotonically_increasing_id) changes when a map task is recomputed
    // after a shuffle-fetch failure, re-routing rows between reducers
    // mid-join — duplicated/lost rows at scale. Re-evaluating the salted
    // frame must therefore yield identical (row, salt) assignments.
    val left = (1 to 200).map(i => ((i % 7).toLong, i.toLong)).toDF("k", "v")
    def saltsOf = Scale.saltedJoin(
        left, Seq((0L, "x")).toDF("rk", "n"), "k", "rk", saltFactor = 8)
      .collect().map(r => (r.getLong(1), r.getLong(0))).toSet
    assert(saltsOf === saltsOf)
    val salts = left.repartition(13)
      .withColumn("__salt", pmod(xxhash64(left.columns.map(col): _*), lit(8)))
      .collect().map(r => (r.getLong(1), r.getLong(2))).toMap
    val saltsAgain = left.repartition(3)
      .withColumn("__salt", pmod(xxhash64(left.columns.map(col): _*), lit(8)))
      .collect().map(r => (r.getLong(1), r.getLong(2))).toMap
    assert(salts === saltsAgain, "salt must not depend on physical layout")
  }

  test("saltedJoin: same result as plain join under heavy key skew") {
    // 10k rows of one hot key + a tail, joined to a 100-row dim
    val left = ((1 to 10000).map(i => (1L, i.toLong)) ++
      (1 to 500).map(i => ((i % 100).toLong, i.toLong)))
      .toDF("k", "v")
    val right = (0 until 100).map(i => (i.toLong, s"dim$i")).toDF("rk", "name")
    val plain = left.join(right, $"k" === $"rk")
      .groupBy("k").agg(count(lit(1)).as("n"), countDistinct("name").as("d"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted
    val salted = Scale.saltedJoin(left, right, "k", "rk", saltFactor = 8)
      .groupBy("k").agg(count(lit(1)).as("n"), countDistinct("name").as("d"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted
    assert(salted === plain)
  }

  test("saltedAgg: map-typed columns are skipped by the content salt, not fatal") {
    // xxhash64 rejects MapType at analysis time; the salt must hash the
    // remaining columns instead of failing the whole aggregation.
    val df = Seq((1L, 10L, Map("a" -> 1)), (1L, 20L, Map("b" -> 2)),
        (2L, 5L, Map("c" -> 3)))
      .toDF("k", "v", "m")
    val got = Scale.saltedAgg(df, col("k"), sum(col("v")), c => sum(c))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(1L -> 30L, 2L -> 5L))
  }

  test("saltedAgg: two-phase sum equals direct aggregation") {
    val df = ((1 to 5000).map(_ => ("hot", 1L)) ++
      (1 to 100).map(i => (s"k$i", i.toLong))).toDF("k", "v")
    val direct = df.groupBy("k").agg(sum("v").as("value"))
      .collect().map(r => (r.getString(0), r.getLong(1))).sorted
    val salted = Scale.saltedAgg(df, col("k"), sum(col("v")), c => sum(c))
      .collect().map(r => (r.getString(0), r.getLong(1))).sorted
    assert(salted === direct)
  }

  test("saltedAgg: content salt splits a hot key even from ONE input partition") {
    // A spark_partition_id() salt degrades to a single partial when the
    // hot key's rows all sit in one input partition (e.g. the input was
    // just shuffled on that key). The content-derived salt must still
    // fan the key out across salts — and stay correct.
    val df = (1 to 4000).map(i => ("hot", i.toLong)).toDF("k", "v")
      .repartition(1)
    val partials = df.groupBy(col("k").as("k0"),
        pmod(xxhash64(df.columns.map(col): _*), lit(16)).as("salt"))
      .count().collect()
    assert(partials.length > 8,
      s"content salt must spread a single-partition hot key, got ${partials.length} partials")
    val got = Scale.saltedAgg(df, col("k"), sum(col("v")), c => sum(c))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(got === Seq(("hot", (1 to 4000).map(_.toLong).sum)))
  }

  test("bucketed tables: equi-join on the bucket column plans with zero exchanges") {
    val a = TableRef("dev", "bucketed", "orders_b")
    val b = TableRef("dev", "bucketed", "lineitem_b")
    Scale.writeBucketed(
      graft.Tables.orders(spark, TestSpark.sf0001)
        .select("o_orderkey", "o_totalprice"), a, "o_orderkey", 4)
    Scale.writeBucketed(
      graft.Tables.lineitem(spark, TestSpark.sf0001)
        .select(col("l_orderkey").as("o_orderkey"), col("l_quantity")), b, "o_orderkey", 4)
    // at 100 TB neither side broadcasts; force that condition here
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = Scale.bucketedJoin(spark, a, b, "o_orderkey")
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), s"bucketed join must be exchange-free\n$plan")
      assert(joined.count() > 0)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("bloomPrunedJoin: exact plain-join result, real pruning, codegen'd probe") {
    import spark.implicits._
    // 20k probe rows over 2k keys; build side keeps 50 keys — a selective
    // join where ~97.5% of probe rows can be dropped before the shuffle.
    // spark.range, not toDF: a LocalRelation would have the filter folded
    // away eagerly by ConvertToLocalRelation and the plan assert below
    // would see nothing
    val big = spark.range(1, 20001)
      .select((col("id") % 2000).as("bk"), col("id").as("v"))
    val small = (0 until 2000 by 40).map(i => (i.toLong, s"dim$i")).toDF("sk", "name")
    val plain = big.join(small, $"bk" === $"sk")
      .select("bk", "v", "name").collect().map(_.toString).sorted
    val pruned = Scale.bloomPrunedJoin(big, small, "bk", "sk", expectedItems = 50)
      .select("bk", "v", "name")
    assert(pruned.collect().map(_.toString).sorted === plain.toSeq,
      "bloom pruning must never change the join result (fp rows die in the join)")
    // the probe is the codegen'd broadcast-blob expression (r18: the
    // blob ships as a Broadcast handle, not a plan-embedded literal)
    assert(pruned.queryExecution.executedPlan.toString
      .contains("bloommightcontainbc"))
    // effectiveness: the prefilter alone keeps close to the true 1/40
    // match fraction (plus fpp), far below the full 20k
    val bloom = Scale.keyBloom(small, small("sk"), expectedItems = 50)
    val kept = big.where(Scale.mightContainKey(bloom, big("bk"))).count()
    assert(kept >= 500 && kept < 3000, s"expected ~500 rows past the filter, got $kept")
  }

  test("zValueOf: hand-computed Morton codes at 2 bits") {
    import spark.implicits._
    // range [0,3] at 2 bits → bucket == value; dim 0 at odd bit
    // positions, dim 1 at even: (x=3,y=1) → 0b1011 = 11; (x=1,y=3) → 0b0111 = 7
    val df = Seq((3L, 1L), (1L, 3L), (0L, 0L), (3L, 3L)).toDF("x", "y")
    val got = df.select(col("x"), col("y"),
        Scale.zValueOf(Seq(col("x"), col("y")), Seq(0L, 0L), Seq(3L, 3L), bits = 2)
          .as("z"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got((3L, 1L)) === 11L)
    assert(got((1L, 3L)) === 7L)
    assert(got((0L, 0L)) === 0L)
    assert(got((3L, 3L)) === 15L)
  }

  test("zOrderBy: a narrow band on EITHER dimension touches few partitions") {
    import spark.implicits._
    // 64x64 grid → 16 range partitions on the z-value. Lexicographic
    // (x, y) sort would spread any narrow y-band across ALL partitions;
    // z-order keeps both dimensions clustered (~sqrt scaling).
    val grid = (for { x <- 0 until 64; y <- 0 until 64 } yield (x.toLong, y.toLong))
      .toDF("x", "y")
    val z = Scale.zOrderBy(grid, Seq("x", "y"), bits = 6, numPartitions = Some(16))
      .withColumn("pid", spark_partition_id())
      .cache()
    try {
      def partsTouched(c: String) =
        z.where(col(c).between(30, 33)).select("pid").distinct().count()
      assert(partsTouched("x") <= 8, s"x-band touched ${partsTouched("x")}/16 partitions")
      assert(partsTouched("y") <= 8, s"y-band touched ${partsTouched("y")}/16 partitions")
      // and the z_value is what zValueOf says (spot check one row)
      val one = z.where(col("x") === 3 && col("y") === 1).select("z_value")
        .head().getLong(0)
      val direct = grid.where(col("x") === 3 && col("y") === 1)
        .select(Scale.zValueOf(Seq(col("x"), col("y")), Seq(0L, 0L),
          Seq(63L, 63L), bits = 6))
        .head().getLong(0)
      assert(one === direct)
    } finally z.unpersist()
  }

  test("skewReport: exact counts, integer share, pinned salt formula") {
    import spark.implicits._
    // 60 rows of "hot", 30 of "warm", 10 of "cold"; parts=10.
    val df = (Seq.fill(60)("hot") ++ Seq.fill(30)("warm") ++
      Seq.fill(10)("cold")).toDF("k")
    val got = Scale.skewReport(df, Seq("k"), parts = 10, topK = 2)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    // hot: share 600000, salt ceil(60*10/100)=6; warm: 300000, salt 3.
    assert(got.toSeq === Seq(
      ("hot", 60L, 100L, 600000L, 6L),
      ("warm", 30L, 100L, 300000L, 3L)))
  }

  test("bloomPrunedJoin: null probe keys are dropped, like the inner join") {
    import spark.implicits._
    val big = Seq((Some(1L), "a"), (None, "n"), (Some(2L), "b"))
      .toDF("bk", "v")
    val small = Seq((1L, "x"), (2L, "y")).toDF("sk", "name")
    val got = Scale.bloomPrunedJoin(big, small, "bk", "sk", expectedItems = 10)
      .select("v", "name").as[(String, String)].collect().sorted
    assert(got.toSeq === Seq(("a", "x"), ("b", "y")))
  }

  // ---------------------------------------------------------- zone maps

  private def zoneFixture(): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft_zm_").toString
    (0 until 4000).map(i =>
        (i.toLong, (i % 97).toDouble, f"s${i % 13}%02d"))
      .toDF("k", "x", "s")
      .repartitionByRange(8, col("k")).sortWithinPartitions("k")
      .write.mode("overwrite").parquet(dir)
    dir
  }

  test("zoneMap: footer stats equal per-file min/max recomputed from data") {
    val dir = zoneFixture()
    // Compare by basename: input_file_name() and Hadoop Path.toString
    // render the file: scheme differently for the same local file.
    val base = (f: String) => f.substring(f.lastIndexOf('/') + 1)
    val fromData = spark.read.parquet(dir)
      .groupBy(input_file_name().as("file"))
      .agg(min("k").as("mn"), max("k").as("mx"), count(lit(1)).as("n"))
      .collect()
      .map(r => base(r.getString(0)) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    val zm = Scale.zoneMap(spark, dir, Seq("k", "x", "s"))
    val fromFooters = zm.where(col("column") === "k")
      .groupBy("file")
      .agg(min("min_long").as("mn"), max("max_long").as("mx"),
        sum("num_rows").as("n"))
      .collect()
      .map(r => base(r.getString(0)) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    assert(fromFooters === fromData)
    // Typed stats land in their typed columns for double and string cols.
    val xr = zm.where(col("column") === "x")
      .agg(min("min_dbl"), max("max_dbl")).head()
    assert(xr.getDouble(0) === 0.0 && xr.getDouble(1) === 96.0)
    val sr = zm.where(col("column") === "s")
      .agg(min("min_str"), max("max_str")).head()
    assert(sr.getString(0) === "s00" && sr.getString(1) === "s12")
    // A column absent from the files yields all-NULL stats (kept rows).
    val ghost = Scale.zoneMap(spark, dir, Seq("nope"))
    assert(ghost.count() === 8)
    assert(ghost.where(col("min_long").isNotNull
      .or(col("min_dbl").isNotNull).or(col("min_str").isNotNull)).count() === 0)
  }

  test("zoneMap: Hive-partitioned layout indexes nested files; hidden dirs " +
      "skipped; prunedRead prunes partitioned tables") {
    val dir = java.nio.file.Files.createTempDirectory("graft_zmp_").toString
    (0 until 4000).map(i => (i.toLong, i.toLong % 4))
      .toDF("k", "p")
      .repartitionByRange(8, col("k")).sortWithinPartitions("k")
      .write.mode("overwrite").partitionBy("p").parquet(dir)
    // Plant junk a naive recursive walk would index: a file inside a
    // hidden staging directory.
    val staged = java.nio.file.Paths.get(dir, "_temporary", "0")
    java.nio.file.Files.createDirectories(staged)
    java.nio.file.Files.write(staged.resolve("junk.parquet"), Array[Byte](1))
    val zm = Scale.zoneMap(spark, dir, Seq("k"))
    assert(zm.where(col("file").contains("_temporary")).count() === 0)
    // Every data row is covered and the global range is intact.
    val tot = zm.agg(sum("num_rows"), min("min_long"), max("max_long")).head()
    assert(tot.getLong(0) === 4000 && tot.getLong(1) === 0
      && tot.getLong(2) === 3999)
    // prunedRead on the partitioned layout: exact result, fewer files.
    val pruned = Scale.prunedRead(spark, dir, "k", 100, 199)
    assert(pruned.select("k").collect().map(_.getLong(0)).sorted.toSeq
      === (100L to 199L))
  }

  test("zoneMapIncremental: refresh equals full re-harvest; existing " +
      "files are trusted from prev; dropped files leave the map") {
    val dir = java.nio.file.Files.createTempDirectory("graft_zmi_").toString
    (0 until 2000).map(i => (i.toLong, i.toDouble))
      .toDF("k", "x")
      .repartitionByRange(4, col("k")).sortWithinPartitions("k")
      .write.mode("overwrite").parquet(dir)
    val prev = Scale.zoneMap(spark, dir, Seq("k")).localCheckpoint()
    (2000 until 4000).map(i => (i.toLong, i.toDouble))
      .toDF("k", "x")
      .repartitionByRange(4, col("k")).sortWithinPartitions("k")
      .write.mode("append").parquet(dir)
    val inc = Scale.zoneMapIncremental(spark, dir, Seq("k"), prev)
      .localCheckpoint()
    // Collect the full re-harvest NOW: it captured its file list at
    // construction and re-evaluating it after the deletion below would
    // (correctly) fail on the missing file.
    val fullRows = Scale.zoneMap(spark, dir, Seq("k")).collect().toSet
    assert(inc.collect().toSet === fullRows)

    // Trust-prev semantics: a deliberately mutated stat for an existing
    // file must flow through the refresh untouched — proof the refresh
    // never re-opened that footer (immutable-data-file assumption).
    val poisoned = prev.withColumn("min_long",
      when(col("row_group") === 0, lit(-999L)).otherwise(col("min_long")))
      .localCheckpoint()
    val incPoisoned = Scale.zoneMapIncremental(spark, dir, Seq("k"), poisoned)
    assert(incPoisoned.where(col("min_long") === -999L).count()
      === prev.where(col("row_group") === 0).count())

    // Compaction/GC: delete one first-batch file; its entries drop out
    // and nothing else is re-harvested or lost.
    val victim = prev.select("file").head().getString(0)
    val victimPath = new java.net.URI(
      if (victim.startsWith("file:")) victim else s"file:$victim").getPath
    java.nio.file.Files.delete(java.nio.file.Paths.get(victimPath))
    val afterDrop = Scale.zoneMapIncremental(spark, dir, Seq("k"), inc)
    assert(afterDrop.where(col("file") === victim).count() === 0)
    assert(afterDrop.collect().toSet
      === fullRows.filter(_.getString(0) != victim))
  }

  test("pageIndex: per-page bounds partition each row group exactly") {
    val dir = java.nio.file.Files.createTempDirectory("graft_pgi_").toString
    val hc = spark.sparkContext.hadoopConfiguration
    val prevLimit = hc.get("parquet.page.row.count.limit")
    hc.set("parquet.page.row.count.limit", "100")
    try {
      (0L until 1000L).map(i => (i, s"s$i")).toDF("k", "s")
        .coalesce(1).sortWithinPartitions("k")
        .write.mode("overwrite").parquet(dir)
    } finally {
      if (prevLimit == null) hc.unset("parquet.page.row.count.limit")
      else hc.set("parquet.page.row.count.limit", prevLimit)
    }
    val pi = Scale.pageIndex(spark, dir, Seq("k")).collect()
      .sortBy(r => (r.getAs[Int]("row_group"), r.getAs[Int]("page")))
    assert(pi.length >= 5, "page.row.count.limit=100 must yield many pages")
    assert(pi.forall(_.getAs[Int]("page") >= 0),
      "column index present on every chunk")
    // Pages tile the key space: row spans sum to the row count and each
    // page's [min,max] brackets exactly its rows (data written sorted).
    assert(pi.map(_.getAs[Long]("row_count")).sum === 1000L)
    pi.foreach { r =>
      val first = r.getAs[Long]("first_row")
      val rows = r.getAs[Long]("row_count")
      assert(r.getAs[Long]("min_long") === first &&
        r.getAs[Long]("max_long") === first + rows - 1)
    }
  }

  test("pageIndexIncremental: refresh equals full re-harvest and trusts " +
      "existing files from prev") {
    val dir = java.nio.file.Files.createTempDirectory("graft_pgin_").toString
    (0L until 500L).map(i => (i, i)).toDF("k", "v")
      .coalesce(1).sortWithinPartitions("k")
      .write.mode("overwrite").parquet(dir)
    val prev = Scale.pageIndex(spark, dir, Seq("k")).localCheckpoint()
    (500L until 1000L).map(i => (i, i)).toDF("k", "v")
      .coalesce(1).sortWithinPartitions("k")
      .write.mode("append").parquet(dir)
    val inc = Scale.pageIndexIncremental(spark, dir, Seq("k"), prev)
    val full = Scale.pageIndex(spark, dir, Seq("k"))
    assert(inc.collect().toSet === full.collect().toSet)
    // Poisoned-prev: an existing file's stat flows through untouched —
    // the refresh never re-opened that footer.
    val poisoned = prev.withColumn("min_long", lit(-7L)).localCheckpoint()
    val incP = Scale.pageIndexIncremental(spark, dir, Seq("k"), poisoned)
    assert(incP.where(col("min_long") === -7L).count() === prev.count())
  }

  test("prunedReadByPages: a key gap inside one row group prunes the " +
      "file at page granularity where row-group stats cannot") {
    val dir = java.nio.file.Files.createTempDirectory("graft_pgr_").toString
    val hc = spark.sparkContext.hadoopConfiguration
    val prevLimit = hc.get("parquet.page.row.count.limit")
    hc.set("parquet.page.row.count.limit", "100")
    try {
      // One file per key band, each with an interior gap: file 0 holds
      // keys 0..999 and 3000..3999 (gap 1000..2999), file 1 holds
      // 10000..10999 and 13000..13999, ... Row-group stats straddle the
      // gap; 100-row pages bound each side tightly.
      val rows = for {
        band <- 0 until 4
        i <- (0L until 1000L) ++ (3000L until 4000L)
      } yield (band * 10000L + i, band)
      rows.toDF("k", "band")
        .repartition(4, col("band")).sortWithinPartitions("k")
        .write.mode("overwrite").parquet(dir)
    } finally {
      if (prevLimit == null) hc.unset("parquet.page.row.count.limit")
      else hc.set("parquet.page.row.count.limit", prevLimit)
    }
    // Predicate inside band 0's gap: row-group pruning keeps band 0's
    // file (its range 0..3999 covers 1500..2500); page pruning drops
    // every file.
    val inGap = Scale.prunedReadByPages(spark, dir, "k", 1500L, 2500L)
    assert(inGap.count() === 0)
    assert(Scale.prunedRead(spark, dir, "k", 1500L, 2500L)
      .inputFiles.length >= 1, "row-group stats cannot prune the gap")
    assert(inGap.inputFiles.length === 0 ||
      inGap.count() === 0) // schema-preserving empty read has no files
    // Predicate hitting one band's populated half: exactly that file.
    val hit = Scale.prunedReadByPages(spark, dir, "k", 13200L, 13400L)
    assert(hit.inputFiles.length === 1)
    assert(hit.agg(count(lit(1)), min(col("k")), max(col("k"))).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).head
      === ((201L, 13200L, 13400L)))
  }

  test("clusteringReport: sorted layout scores clustered, shuffled " +
      "layout scores unclustered") {
    val dir = java.nio.file.Files.createTempDirectory("graft_clr_").toString
    val hc = spark.sparkContext.hadoopConfiguration
    val prevLimit = hc.get("parquet.page.row.count.limit")
    hc.set("parquet.page.row.count.limit", "100")
    try {
      // k sorted (clustered); r = bit-reversed k (anti-clustered).
      (0L until 4000L).map(i => (i, java.lang.Long.reverse(i) >>> 32))
        .toDF("k", "r")
        .repartitionByRange(4, col("k")).sortWithinPartitions("k")
        .write.mode("overwrite").parquet(dir)
    } finally {
      if (prevLimit == null) hc.unset("parquet.page.row.count.limit")
      else hc.set("parquet.page.row.count.limit", prevLimit)
    }
    val rep = Scale.clusteringReport(spark, dir, Seq("k", "r"))
      .collect().map(r => r.getAs[String]("column") -> r).toMap
    val kRow = rep("k"); val rRow = rep("r")
    assert(kRow.getAs[Long]("n_pages") >= 8)
    assert(kRow.getAs[Double]("avg_width_frac") < 0.1,
      "sorted column: narrow pages")
    assert(kRow.getAs[Double]("overlap_frac") < 0.1,
      "sorted column: no adjacent overlap")
    assert(rRow.getAs[Double]("avg_width_frac") > 0.5,
      "anti-clustered column: pages span most of the range")
    assert(rRow.getAs[Double]("overlap_frac") > 0.5,
      "anti-clustered column: adjacent pages overlap")
  }

  test("planReport: counts shuffles, broadcasts, join kinds and top-k") {
    import spark.implicits._
    val big = (1 to 1000).map(i => (i.toLong % 50, i.toLong)).toDF("k", "v")
    val dim = (0L until 50L).map(i => (i, s"d$i")).toDF("k", "name")
    // Broadcast join + aggregation + top-k: no shuffle join, a
    // TakeOrderedAndProject instead of a global sort.
    val r = Scale.planReport(
      big.join(broadcast(dim), "k")
        .groupBy("name").agg(sum("v").as("s"))
        .orderBy(desc("s")).limit(5))
    assert(r("broadcast_hash_joins") === 1)
    assert(r("sort_merge_joins") === 0)
    assert(r("cartesian_products") === 0)
    assert(r("take_ordered") === 1)
    assert(r("shuffle_exchanges") >= 1) // the aggregation exchange
    // A forced shuffle join reads as one.
    val r2 = Scale.planReport(big.join(dim.hint("merge"), "k"))
    assert(r2("sort_merge_joins") === 1)
  }

  test("writeBloomIndexed: footer blooms present on requested columns only; " +
      "point lookups exact") {
    val dir = java.nio.file.Files.createTempDirectory("graft_bloom_").toString
    val df = (0 until 5000).map(i => (i.toLong * 7919 % 100003, s"v$i"))
      .toDF("k", "v")
    Scale.writeBloomIndexed(df, dir, Seq("k"), expectedNdv = 5000)
    // Footer check: bloom offset recorded for k, absent for v.
    import org.apache.hadoop.fs.Path
    val conf = spark.sparkContext.hadoopConfiguration
    val file = new java.io.File(dir).listFiles()
      .filter(f => f.getName.endsWith(".parquet")).head
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new Path(file.toString), conf))
    try {
      val cols = reader.getFooter.getBlocks.get(0).getColumns
      val byName = (0 until cols.size).map(i =>
        cols.get(i).getPath.toDotString -> cols.get(i)).toMap
      assert(byName("k").getBloomFilterOffset >= 0,
        "bloom filter missing on indexed column")
      assert(byName("v").getBloomFilterOffset < 0,
        "bloom filter unexpectedly present on unindexed column")
    } finally reader.close()
    // Point lookup correctness through the bloom-indexed layout.
    val probe = 3L * 7919 % 100003
    val got = spark.read.parquet(dir).where(col("k") === probe)
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(got.toSeq === Seq((probe, "v3")))
    assert(spark.read.parquet(dir).where(col("k") === 999999L).count() === 0)
  }

  test("prunedRead: exact filtered result while opening a fraction of the files") {
    val dir = zoneFixture()
    val allFiles = spark.read.parquet(dir).inputFiles.length
    assert(allFiles === 8)
    val pruned = Scale.prunedRead(spark, dir, "k", 1000L, 1999L)
    // Answer-equality with the unpruned filtered read.
    val expect = spark.read.parquet(dir).where(col("k").between(1000, 1999))
      .collect().map(_.toSeq).toSet
    assert(pruned.collect().map(_.toSeq).toSet === expect)
    // The range spans 1000 of 4000 range-partitioned keys: at most 3 of
    // the 8 files can overlap it (boundary files included), and pruning
    // must actually have skipped most of the directory.
    val opened = pruned.inputFiles.length
    assert(opened >= 1 && opened <= 3, s"opened $opened of $allFiles files")
    // A range outside every footer's bounds opens nothing and returns
    // an empty frame with the data schema intact.
    val none = Scale.prunedRead(spark, dir, "k", 1000000L, 2000000L)
    assert(none.count() === 0)
    assert(none.schema.fieldNames.toSeq === Seq("k", "x", "s"))
  }

  test("fanOut: widens a below-parallelism frame, passes a wide one through") {
    val target = spark.sparkContext.defaultParallelism
    // On a single-core runner a 1-partition input is NOT below target,
    // so the widen branch would never execute and the test is vacuous.
    assume(target > 1, "widen branch needs defaultParallelism > 1")
    // One-partition CPU-heavy-shaped input: fanOut must spread it.
    val narrow = spark.range(0, 1000, 1, numPartitions = 1)
      .select(col("id"), concat(lit("doc "), col("id")).as("text"))
    val widened = Scale.fanOut(narrow)
    assert(widened.rdd.getNumPartitions === target,
      "below-parallelism input must widen to defaultParallelism")
    // Content preserved exactly (round-robin is a pure redistribution).
    assert(widened.collect().map(_.toSeq).toSet ===
      narrow.collect().map(_.toSeq).toSet)
    // An input already at/above parallelism is returned unchanged —
    // the 100-TB-scan case must not pay a repartition.
    val wide = spark.range(0, 1000, 1, numPartitions = target + 3).toDF()
    assert(Scale.fanOut(wide) eq wide,
      "at-or-above-parallelism input must pass through untouched")
  }

  test("keyBloomCols: multi-column build/probe agree, no false negatives") {
    val present = (0 until 300).map(i => (s"host$i", i.toLong))
    val df = present.toDF("h", "p")
    val bloom = Scale.keyBloomCols(df, Seq(col("h"), col("p")),
      expectedItems = 300)
    // Every inserted composite key must probe true (blooms never have
    // false negatives) via the same xxhash64(cols...) the build used.
    val hits = df.where(Scale.mightContainKeyCols(bloom, Seq(col("h"), col("p"))))
      .count()
    assert(hits === 300L)
    // Disjoint keys are mostly rejected (fpp 0.03 over 300 probes
    // leaves generous slack); this fails loudly if probe and build
    // ever hash different column arities.
    val absent = (0 until 300).map(i => (s"other$i", (i + 1000000).toLong))
      .toDF("h", "p")
    val fps = absent
      .where(Scale.mightContainKeyCols(bloom, Seq(col("h"), col("p"))))
      .count()
    assert(fps <= 60L, s"false-positive count $fps is way over fpp=0.03")
  }

  /** The scan over a materialized frame, with the RDD it reads. */
  private def scanOf(df: org.apache.spark.sql.DataFrame): RDDScanExec =
    df.queryExecution.sparkPlan.collectFirst { case s: RDDScanExec => s }
      .getOrElse(fail(s"not RDD-backed:\n${df.queryExecution.sparkPlan}"))

  /** The physical plan with exchanges and sort elision applied. */
  private def planOf(df: org.apache.spark.sql.DataFrame): SparkPlan =
    df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }

  test("materialize: a kept repartition(p, col) is declared exactly — " +
      "same count as the RDD, rows placed by that hash, no re-shuffle") {
    val df = (0L until 1000L).toDF("k").withColumn("v", col("k") % 7)
    val m = Scale.materialize(df.repartition(5, col("v")))
    val scan = scanOf(m)
    scan.outputPartitioning match {
      case h: HashPartitioning =>
        assert(h.numPartitions === 5)
        assert(h.numPartitions === scan.rdd.getNumPartitions)
      case other => fail(s"expected hashpartitioning(v, 5), got $other")
    }
    assert(m.where(spark_partition_id() =!= pmod(hash(col("v")), lit(5)))
      .count() === 0L, "a row sits outside its declared hash partition")
    val agg = planOf(m.groupBy("v").count())
    assert(agg.collect { case e: Exchange => e }.isEmpty,
      s"aggregation on the declared key must not re-shuffle\n$agg")
  }

  test("materialize: an AQE-coalesced groupBy never declares the " +
      "pre-coalesce partition count") {
    val shuffleParts = spark.sessionState.conf.numShufflePartitions
    val m = Scale.materialize(spark.range(0, 1000)
      .groupBy((col("id") % 3).as("g")).count())
    val scan = scanOf(m)
    val n = scan.rdd.getNumPartitions
    assert(n < shuffleParts,
      s"precondition: AQE should coalesce $shuffleParts tiny partitions")
    scan.outputPartitioning match {
      case h: HashPartitioning => assert(h.numPartitions === n)
      case other => assert(other.numPartitions === n, s"$other")
    }
  }

  test("materialize: ordering is declared only for a sorted input") {
    val df = (0L until 500L).map(i => (i * 7919 % 500, i)).toDF("k", "v")
    val sorted = Scale.materialize(
      df.repartition(4, col("k")).sortWithinPartitions("k"))
    val ordering = scanOf(sorted).outputOrdering
    assert(ordering.map(_.child.references.map(_.name).toSeq) ===
      Seq(Seq("k")), s"$ordering")
    val resort = planOf(sorted.sortWithinPartitions("k"))
    assert(resort.collect { case s: SortExec => s }.isEmpty,
      s"a sort on the declared order must be elided\n$resort")
    val unsorted = Scale.materialize(df.repartition(4, col("k")))
    assert(scanOf(unsorted).outputOrdering.isEmpty)
  }

  test("materialize: measured bytes let the planner broadcast a frame " +
      "whose optimizer estimate is over the threshold") {
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prior = spark.conf.getOption(key)
    spark.conf.set(key, (1L << 20).toString)
    try {
      // estimate: the full 8 MB range (filters do not shrink it);
      // measured: 50 rows
      val small = spark.range(0, 1000000).where(col("id") < 50).toDF()
      val probe = spark.range(0, 5000000).toDF()
      def hasBhj(df: org.apache.spark.sql.DataFrame): Boolean =
        planOf(df).collect { case j: BroadcastHashJoinExec => j }.nonEmpty
      assert(!hasBhj(probe.join(small, "id")),
        "precondition: the estimate alone must not broadcast")
      val m = Scale.materialize(small)
      val measured = m.queryExecution.optimizedPlan.stats.sizeInBytes
      assert(measured > 0 && measured < (1L << 20), s"measured $measured")
      val joined = probe.join(m, "id")
      assert(hasBhj(joined),
        s"expected an un-hinted BroadcastHashJoin\n${planOf(joined)}")
    } finally prior match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("materialize: scope release frees the local blocks") {
    assert(spark.sparkContext.getCheckpointDir.isEmpty,
      "precondition: local storage")
    val (m, scope) = Scale.scopedCheckpoints { s =>
      (Scale.materialize(spark.range(0, 100).toDF("x")), s)
    }
    val id = scanOf(m).rdd.id
    assert(spark.sparkContext.getPersistentRDDs.contains(id))
    assert(m.count() === 100L)
    assert(scope.release() === 1)
    assert(!spark.sparkContext.getPersistentRDDs.contains(id))
  }

  test("library operators never change shared session state: a second " +
      "thread sees the caller's AQE flag and checkpoint dir throughout") {
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L), (2L, 4L),
      (4L, 5L), (5L, 1L)).toDF("src", "dst")
    val ranked = (0L until 200L).map(i => (i, if (i % 3 == 0) "a" else "b"))
      .toDF("id", "lang")
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    val dir = spark.sparkContext.getCheckpointDir
    val seen = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    @volatile var done = false
    val poller = new Thread(() => {
      while (!done) {
        val a = spark.conf.get("spark.sql.adaptive.enabled")
        if (a != aqe) seen.add(s"spark.sql.adaptive.enabled=$a")
        val d = spark.sparkContext.getCheckpointDir
        if (d != dir) seen.add(s"checkpoint dir=$d")
        Thread.sleep(1)
      }
    })
    poller.start()
    try {
      Graphs.triangleCounts(edges, "src", "dst").collect()
      Graphs.pageRank(edges, "src", "dst", iters = 3).collect()
      Packing.groupRank(ranked, Seq("lang"), Seq(col("id")),
        numPartitions = 4).collect()
    } finally {
      done = true
      poller.join()
    }
    assert(seen.isEmpty, s"another thread saw shared state change: $seen")
  }
}
