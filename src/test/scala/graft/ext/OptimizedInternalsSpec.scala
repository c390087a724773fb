package graft.ext

import graft.TestSpark
import graft.functions.GraftFunctions
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Focused tests for internals rewritten in the r18 optimization round:
  * the ArrayBuffer-backed TopKAggregator (O(1) reject, binary-search
  * insert) and the broadcast-payload expressions (RarestFirstSort,
  * GramHitCount) that replaced plan-embedded constant tables. Each
  * test pins the SEMANTIC contract the rewrite must preserve, against
  * a brute-force reference. */
class OptimizedInternalsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def reference(rows: Seq[Similarity.Scored], k: Int)
      : Seq[Similarity.Scored] =
    rows.distinct.sortBy(s => (-s.score, s.id)).take(k)

  test("TopKAggregator: kept set, order and dedup match brute force") {
    val rnd = new scala.util.Random(7)
    // Scores drawn from a SMALL set so ties (and exact duplicates,
    // which the aggregator must collapse per its replayed-postings
    // absorb contract) actually occur.
    val rows = (0 until 5000).map { _ =>
      Similarity.Scored(rnd.nextInt(800).toLong, rnd.nextInt(40) / 8.0)
    }
    for (k <- Seq(1, 3, 100)) {
      val agg = new Similarity.TopKAggregator(k)
      // Drive reduce/merge directly across simulated partitions so the
      // merge path (foldLeft over a sorted buffer) is exercised too.
      val parts = rows.grouped(611).map { chunk =>
        chunk.foldLeft(agg.zero)(agg.reduce)
      }.toSeq
      val merged = parts.reduceLeft(agg.merge)
      assert(agg.finish(merged) === reference(rows, k), s"k=$k")
    }
  }

  test("TopKAggregator: result is partition-layout-independent") {
    val rnd = new scala.util.Random(11)
    val rows = (0 until 2000).map { _ =>
      Similarity.Scored(rnd.nextInt(300).toLong, rnd.nextInt(20) / 4.0)
    }
    val agg = new Similarity.TopKAggregator(25)
    def run(chunkSize: Int): Seq[Similarity.Scored] =
      agg.finish(rows.grouped(chunkSize)
        .map(c => c.foldLeft(agg.zero)(agg.reduce)).reduceLeft(agg.merge))
    assert(run(2000) === run(7))
    assert(run(2000) === reference(rows, 25))
  }

  test("rarestFirstSort(broadcast): hot-table order, absent grams rarest") {
    // hot table: df counts; absent grams are rarer than any listed one
    // and must sort FIRST (ties broken by gram text) — the prefix
    // filter's selectivity depends on exactly this order.
    val hot = spark.sparkContext.broadcast(
      Array(("the", 100L), ("quick", 10L), ("fox", 10L), ("dog", 3L)))
    try {
      val out = Seq(Seq("the", "quick", "zebra", "dog", "fox"))
        .toDF("grams")
        .select(GraftFunctions.rarestFirstSort(col("grams"), hot).as("g"))
        .head().getSeq[String](0)
      // zebra (absent) first, then dog (3), then fox/quick (10, text
      // tie-break), then the (100).
      assert(out === Seq("zebra", "dog", "fox", "quick", "the"))
    } finally hot.destroy()
  }

  test("gramHitCount(broadcast): counts membership hits exactly") {
    val bench = spark.sparkContext.broadcast(Array("a b", "c d", "e f"))
    try {
      val out = Seq(
        (1L, Seq("a b", "x y", "c d", "c d")),
        (2L, Seq("x y")),
        (3L, Seq.empty[String]))
        .toDF("id", "grams")
        .select(col("id"), GraftFunctions.gramHitCount(col("grams"), bench))
        .collect().map(r => (r.getLong(0), r.getInt(1))).toMap
      // duplicates in the INPUT count each time (the probe is per-gram)
      assert(out === Map(1L -> 3, 2L -> 0, 3L -> 0))
    } finally bench.destroy()
  }

  test("bandHashes: bit-identical to the xxhash64(lit(b), slice(...)) form") {
    // The fused expression replaces the SQL form at every LSH banding
    // site; persisted index postings and candidate recall depend on the
    // hashes being EXACTLY equal, so pin it against the original
    // expression over random signatures at several (bands, r) shapes.
    val rnd = new scala.util.Random(3)
    val sigs = (0 until 50).map(i => (i.toLong, Seq.fill(64)(rnd.nextLong())))
      .toDF("id", "sig")
    for ((bands, r) <- Seq((8, 8), (16, 4), (1, 64))) {
      val fused = sigs.select(col("id"),
          GraftFunctions.bandHashes(col("sig"), bands, r).as("bh"))
        .collect().map(x => x.getLong(0) -> x.getSeq[Long](1)).toMap
      val sql = sigs.select(col("id"),
          array((0 until bands).map(b =>
            xxhash64(lit(b), slice(col("sig"), b * r + 1, r))): _*).as("bh"))
        .collect().map(x => x.getLong(0) -> x.getSeq[Long](1)).toMap
      assert(fused === sql, s"bands=$bands r=$r")
    }
  }

  /** The interpreted SQL form the pair kernel replaced, kept as its
    * differential oracle. */
  private def sqlPairs(es: org.apache.spark.sql.Column) =
    flatten(transform(es, (x, i) =>
      transform(slice(es, i + lit(2), size(es)),
        y => struct(x.as("a"), y.as("b")))))

  /** (bucket -> pairs) of the kernel and of the SQL form over the `es`
    * column of `buckets`, both as arrays and exploded through a
    * `Generate` (bucket -> pairs in position order). */
  private def pairForms(buckets: DataFrame) = {
    val es = col("es")
    def arrays(f: org.apache.spark.sql.Column) =
      buckets.select(col("b"), f.as("p")).collect()
        .map(r => r.getLong(0) -> r.getSeq[org.apache.spark.sql.Row](1)).toMap
    def exploded(f: org.apache.spark.sql.Column) =
      buckets.select(col("b"), posexplode(f)).collect()
        .groupBy(_.getLong(0)).map { case (b, rs) =>
          b -> rs.sortBy(_.getInt(1)).map(_.getStruct(2)).toSeq }
    ((arrays(GraftFunctions.sortedIdPairs(es)), arrays(sqlPairs(es))),
      (exploded(GraftFunctions.sortedIdPairs(es)), exploded(sqlPairs(es))))
  }

  test("sortedIdPairs: identical pairs AND order vs the " +
      "flatten(transform(slice...struct)) form") {
    // The fused expression replaces the SQL lambda tree in every
    // in-bucket pair expansion; the pair SET drives every pair operator
    // (minhash candidates, prefix/ngram jaccard, Hamming, chunk,
    // semantic and embedding pairs), so pin values and order against
    // the original expression, including the empty and single-element
    // buckets (both must expand to zero rows).
    val rnd = new scala.util.Random(11)
    val buckets = Seq(
      Seq.empty[Long],
      Seq(7L),
      Seq(1L, 2L),
      (0 until 37).map(_ => rnd.nextLong()).sorted,
      (0 until 5).map(_ => 42L).toSeq // duplicate ids still pair
    ).zipWithIndex.map { case (ids, i) => (i.toLong, ids) }
      .toDF("b", "es")
    val ((fused, sql), (fusedX, sqlX)) = pairForms(buckets)
    assert(fused === sql)
    assert(fusedX === sqlX)
    // schema parity: the element type passes through unchanged
    val elem = buckets.select(GraftFunctions.sortedIdPairs(col("es")).as("p"))
      .schema.head.dataType.asInstanceOf[org.apache.spark.sql.types.ArrayType]
      .elementType.asInstanceOf[org.apache.spark.sql.types.StructType]
    assert(elem.fieldNames.toSeq === Seq("a", "b"))
    assert(elem.fields.forall(_.dataType ==
      org.apache.spark.sql.types.LongType))
    // a null element is loudly wrong, never paired
    val nulls = Seq((0L, Seq[java.lang.Long](1L, null, 3L))).toDF("b", "es")
    intercept[Exception](
      nulls.select(GraftFunctions.sortedIdPairs(col("es"))).collect())
  }

  test("sortedIdPairs over struct elements: identical pairs AND order vs " +
      "the SQL form, for every payload the pair operators carry") {
    // Buckets built the way the pair operators build them: many buckets
    // in one frame through sort_array(collect_list(struct(...))), so a
    // kernel that reused an input row across buckets would show as a
    // wrong payload. Sizes 0..12 cover the empty and single-element
    // buckets; ids repeat within a bucket.
    val rnd = new scala.util.Random(29)
    val sizes = Seq.fill(120)(rnd.nextInt(13))
    val total = sizes.map(n => n * (n - 1) / 2).sum
    // (bucket, id, payload) rows; an empty bucket is one all-null row,
    // which the `when` below keeps out of its (then empty) list
    def rows[T](payload: => T) = sizes.zipWithIndex.flatMap { case (n, b) =>
      if (n == 0) Seq((b.toLong, Option.empty[Long], Option.empty[T]))
      else Seq.fill(n)((b.toLong, Some(rnd.nextInt(8).toLong), Option(payload)))
    }
    for ((name, df) <- Seq(
        "bigint" -> rows(rnd.nextLong()).toDF("b", "id", "payload"),
        "array<float>" -> rows(Seq.fill(rnd.nextInt(4))(rnd.nextFloat()))
          .toDF("b", "id", "payload"),
        "string with null fields" -> rows(
          if (rnd.nextInt(3) == 0) null else s"s${rnd.nextInt(5)}")
          .toDF("b", "id", "payload"))) {
      val buckets = df.groupBy(col("b"))
        .agg(sort_array(collect_list(when(col("id").isNotNull,
          struct(col("id"), col("payload"))))).as("es"))
      val ((fused, sql), (fusedX, sqlX)) = pairForms(buckets)
      assert(fused.size === sizes.size, name)
      assert(fused === sql, name)
      assert(fusedX === sqlX, name)
      assert(fused.values.map(_.size).sum === total, name)
    }
  }

  test("gopherQuality kernel: all eight metrics and the verdict match " +
      "the SQL form on adversarial text") {
    // The fused kernel replaced the regex-split/lambda form at every
    // quality filter; kept sets depend on each metric being EXACTLY
    // equal, so pin all eight plus the verdict against that form over
    // seeded random text built from the characters where the two could
    // part: every Java \s (tab, CR, VT, FF), non-\s spaces (NBSP),
    // '#', dot runs, bullets after leading spaces, non-ASCII letters
    // whose case mapping is special (İ, the Kelvin sign), surrogate
    // pairs and upper/mixed-case stop words.
    val rnd = new scala.util.Random(20260419)
    val words = Seq("the", "THE", "The", "of", "OF", "and", "AND", "that",
      "tHaT", "be", "BE", "to", "have", "HAVE", "with", "WITH", "word",
      "cat", "x", "ab", "a1", "12345", "İ", "İTHE", "\u212Aey", "caf\u00e9",
      "\ud83d\ude00", "w\ud83d\ude00rd", "#", "##", "#tag", ".", "..",
      "...", "....", "end...", "•", "-", "*", "-item", "•x")
    val seps = Seq(" ", " ", " ", "  ", "\t", "\r", "\u000b", "\f", "\n",
      "\n", "\r\n", " \n ", "\n  ", "\n- ", "\n  • ", "\n* ", "... \n",
      "...  \n", "\u00a0", "")
    def doc(): String = {
      val prose = rnd.nextBoolean()
      val n = if (prose) 20 + rnd.nextInt(60) else rnd.nextInt(25)
      val sb = new StringBuilder
      if (rnd.nextInt(4) == 0) sb ++= seps(rnd.nextInt(seps.size))
      (0 until n).foreach { _ =>
        sb ++= (if (prose && rnd.nextInt(3) > 0)
          Seq("the", "of", "word", "cat", "with", "sat")(rnd.nextInt(6))
        else words(rnd.nextInt(words.size)))
        sb ++= (if (prose && rnd.nextInt(4) > 0) " "
          else seps(rnd.nextInt(seps.size)))
      }
      sb.toString
    }
    val texts: Seq[String] = Seq(null, "", "   ", "\n\n", "...", "\n...  ",
      " - a\n", "•") ++ Seq.fill(3000)(doc())
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("id", "text")
    // gopherQuality's defaults, p8's pretraining thresholds, and a
    // lenient set that lets random text pass and exercises the word
    // ceiling.
    for ((minW, maxW, minS) <- Seq((50L, 100000L, 2L), (30L, 100000L, 1L),
        (2L, 60L, 0L))) {
      def rows(f: DataFrame) = f.collect()
        .map(r => r.getLong(0) -> r.toSeq.drop(1)).toMap
      val fused = rows(TextAnalysis.gopherQuality(df, "text", "id",
        minW, maxW, minS))
      val sql = rows(GopherSqlForm.quality(df, "text", "id", minW, maxW, minS))
      val diff = sql.keys.toSeq.sorted.filter(k => fused(k) != sql(k))
      def shown(t: String) = Option(t).fold("null")(_.take(80).flatMap(c =>
        if (c < ' ') "\\x" + c.toInt.toHexString else c.toString))
      assert(diff.isEmpty, s"($minW,$maxW,$minS): ${diff.size} docs differ, " +
        diff.take(3).map(k => s"'${shown(texts(k.toInt))}': " +
          s"kernel ${fused(k)} sql ${sql(k)}").mkString("; "))
      val verdicts = sql.values.map(_.last).toSet
      assert(verdicts === Set(null, true, false),
        s"($minW,$maxW,$minS): the corpus must reach every verdict")
      assert(fused(0L).forall(_ == null), "null text yields null metrics")
    }
  }

  test("bloom probe via broadcast blob: no false negatives, fp-bounded") {
    val keys = (0L until 500L).toDF("k")
    val blob = Scale.keyBloom(keys, col("k"), expectedItems = 500)
    val hits = (0L until 500L).toDF("k")
      .where(Scale.mightContainKey(blob, col("k"))).count()
    assert(hits === 500L,
      "bloom filters must never report a false negative")
    // Disjoint keys are mostly rejected (fpp 0.03 over 500 probes
    // leaves generous slack) — fails loudly if the broadcast-shipped
    // blob and the probe ever disagree on the hash.
    val fps = (1000000L until 1000500L).toDF("k")
      .where(Scale.mightContainKey(blob, col("k"))).count()
    assert(fps <= 100L, s"false-positive count $fps is way over fpp=0.03")
  }
}
