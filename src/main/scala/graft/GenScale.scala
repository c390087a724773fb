package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Scale-probe data generator (dev tooling, like [[Bench]]/[[Verify]]):
  * replicates a driver-generated testdata dir N× with key remapping, so
  * the bench set can be probed at ~10× the largest provided SF and a
  * super-linear surprise (skew, AQE misfire, candidate blow-up) shows up
  * before a real cluster finds it.
  *
  * Referential integrity is preserved per key domain: copy `i` shifts
  * every key by `i × (max(key)+1)` consistently across fact and
  * dimension (orders.o_custkey moves with customer.c_custkey, lineitem
  * moves with orders/part/supplier). region/nation are fixed-size TPC-H
  * dims and are copied once. events shift event_id/user_id so the
  * session/graph workloads scale as independent subgraphs — exactly how
  * 10× more users would look. documents shift doc_id AND rotate a
  * 10-letter alphabet per copy (lengths, token shapes, and within-copy
  * near-dup structure preserved; cross-copy shingle Jaccard ~0), so the
  * LSH dedup workloads scale by corpus size instead of drowning in
  * artificial cross-copy duplicate buckets. embeddings shift vec_id only
  * (the benched ANN queries are capacity-bounded top-k — duplicate
  * vectors across copies cannot blow them up).
  *
  * `zipf` mode (4th arg) makes the replicated corpus SKEW-ADVERSARIAL
  * — the hot-key hazards a crawl-scale corpus actually has, which the
  * alphabet-rotated replication deliberately avoids:
  *   - a fixed stop-phrase appended to ~40% of documents → one word
  *     3-gram (and its char shingles) in 40% of the corpus, stressing
  *     every df/gram path (d4/d16/d18 gram tables, t10 tf-idf df, t29
  *     NB token join, d13 substring seeds);
  *   - doc_id remapped so ~30% of ids are ≡ 0 (mod 7) → p2's
  *     `site{doc_id%7}` host derivation puts 30% of pages on ONE host
  *     (per-host cap / window partition hot key). Injective: hot ids
  *     map to id*7, the rest to id*7 + 1 + (id mod 6);
  *   - ~40% of events remapped to event_type 'click' → sc1's salted
  *     group-by key carries ~52% of rows;
  *   - ~30% of orders remapped to o_custkey 1 → one hot customer in
  *     every orders⋈customer join (q3/q4/q7 band);
  *   - ~20% of lineitems remapped to l_partkey 1 → a celebrity node in
  *     the co-purchase graph (g1 wedge orientation / g2 rank mass).
  * Selection is by deterministic hash of the row's own id, so every
  * copy skews identically and re-runs reproduce. Correctness gates
  * never read probe dirs — the zipf corpus exists to measure
  * task-time skew, not to hash-match oracles.
  *
  *   - ~90% of documents remapped to lang 'en' → the per-language
  *     quantile-tier hazard (p5/p7 distributed rank max-task bound).
  *
  * Usage: runMain graft.GenScale <srcSfDir> <outDir> <copies> [zipf]
  *        [table1,table2,...]   (5th arg restricts generated tables)
  */
object GenScale {

  /** 10 rotations of a 10-letter alphabet: copy i translates letter j to
    * letter (j+i)%10 — identity for copy 0. */
  private val alphabet = "aeiousnrtl"

  /** Distinct alphabet PERMUTATION per copy, extending the rotation
    * family past 10 copies (the 30x probe): copies 0-9 rotate, 10-19
    * rotate the REVERSED alphabet (reversal inverts the cyclic order,
    * so none collides with a pure rotation), 20-29 rotate the
    * adjacent-pair-swapped alphabet. Any permutation preserves
    * lengths, token shapes, and within-copy near-dup structure while
    * keeping cross-copy texts distinct — the replication contract. */
  private def perm(i: Int): String = {
    val base = (i / 10) % 3 match {
      case 1 => alphabet.reverse
      case 2 => alphabet.grouped(2).map(_.reverse).mkString
      case _ => alphabet
    }
    val r = i % 10
    base.drop(r) + base.take(r)
  }

  /** The hot stop-phrase: existing-vocabulary words so it tokenizes like
    * the rest of the corpus; 3 repeats make its word 3-grams and char
    * shingles heavy without dominating any document's length. */
  private val hotPhrase = " the sort table the sort table the sort table"

  /** Deterministic per-row coin: true for ~pct% of ids. */
  private def coin(id: org.apache.spark.sql.Column, pct: Int) =
    pmod(hash(id), lit(100)) < lit(pct)

  def main(args: Array[String]): Unit = {
    val (srcDir, outDir, copiesStr) = (args(0), args(1), args(2))
    val zipf = args.length > 3 && args(3) == "zipf"
    val copies = copiesStr.toInt
    require(copies >= 1 && copies <= 30,
      s"copies must be 1..30 (distinct text permutations)")
    require((0 until copies).map(perm).distinct.size == copies,
      "alphabet permutations must be pairwise distinct")
    // Optional 5th arg: comma-separated table subset (the 30x probe
    // generates only the tables its queries read — documents+lineitem
    // at 30x sf0.1 is ~2 GB; all eight would waste the disk budget).
    val onlyTables: Option[Set[String]] =
      if (args.length > 4) Some(args(4).split(",").map(_.trim).toSet)
      else None
    def wanted(name: String): Boolean = onlyTables.forall(_.contains(name))
    val spark = Probe.session("graft-genscale")

    def tbl(name: String): DataFrame =
      spark.read.parquet(s"$srcDir/$name.parquet")
    def off(df: DataFrame, key: String): Long =
      df.agg(max(col(key))).head.getLong(0) + 1L

    // Offsets are LAZY: a table-subset run (or a chained probe dir
    // holding only the subset) must not read tables it never writes.
    lazy val custOff = off(tbl("customer"), "c_custkey")
    lazy val suppOff = off(tbl("supplier"), "s_suppkey")
    lazy val partOff = off(tbl("part"), "p_partkey")
    lazy val ordOff  = off(tbl("orders"), "o_orderkey")
    lazy val evOff   = off(tbl("events"), "event_id")
    lazy val userOff = off(tbl("events"), "user_id")
    lazy val docOff  = off(tbl("documents"), "doc_id")
    lazy val vecOff  = off(tbl("embeddings"), "vec_id")

    /** Union `copies` shifted replicas; `shift` maps (df, copyIndex). */
    def replicate(name: String)(shift: (DataFrame, Int) => DataFrame): Unit =
      if (wanted(name)) {
        val src = tbl(name)
        val out = (0 until copies).map(i => shift(src, i))
          .reduce(_.unionByName(_))
        out.write.mode("overwrite").parquet(s"$outDir/$name.parquet")
        println(s"[genscale] $name x$copies written")
      }

    // fixed-size dims: one copy
    Seq("region", "nation").filter(wanted).foreach { n =>
      tbl(n).write.mode("overwrite").parquet(s"$outDir/$n.parquet")
      println(s"[genscale] $n copied")
    }
    replicate("customer")((df, i) =>
      df.withColumn("c_custkey", col("c_custkey") + lit(i * custOff)))
    replicate("supplier")((df, i) =>
      df.withColumn("s_suppkey", col("s_suppkey") + lit(i * suppOff)))
    replicate("part")((df, i) =>
      df.withColumn("p_partkey", col("p_partkey") + lit(i * partOff)))
    replicate("orders")((df, i) => {
      val shifted = df
        .withColumn("o_orderkey", col("o_orderkey") + lit(i * ordOff))
        .withColumn("o_custkey", col("o_custkey") + lit(i * custOff))
      if (!zipf) shifted
      else shifted.withColumn("o_custkey",
        when(coin(col("o_orderkey"), 30), lit(1L)).otherwise(col("o_custkey")))
    })
    replicate("lineitem")((df, i) => {
      val shifted = df
        .withColumn("l_orderkey", col("l_orderkey") + lit(i * ordOff))
        .withColumn("l_partkey", col("l_partkey") + lit(i * partOff))
        .withColumn("l_suppkey", col("l_suppkey") + lit(i * suppOff))
      if (!zipf) shifted
      else shifted.withColumn("l_partkey",
        when(coin(col("l_orderkey") * lit(31L) + col("l_partkey"), 20),
          lit(1L)).otherwise(col("l_partkey")))
    })
    // ts stays a raw nanos long: Tables.events floor-divides it the same
    // way whether the column arrived annotated TIMESTAMP(NANOS) or plain
    // INT64, so the probe dir is read by the identical code path.
    replicate("events")((df, i) => {
      val shifted = df
        .withColumn("event_id", col("event_id") + lit(i * evOff))
        .withColumn("user_id", col("user_id") + lit(i * userOff))
      if (!zipf) shifted
      else shifted.withColumn("event_type",
        when(coin(col("event_id"), 40), lit("click"))
          .otherwise(col("event_type")))
    })
    replicate("documents")((df, i) => {
      val shifted = df
        .withColumn("doc_id", col("doc_id") + lit(i * docOff))
        .withColumn("text", translate(col("text"), alphabet, perm(i)))
      if (!zipf) shifted
      else shifted
        // Language skew: ~90% of the corpus lands on ONE language —
        // the per-language quantile-tier hazard (p5/p7's distributed
        // rank must bound its max task under exactly this mix).
        .withColumn("lang",
          when(coin(col("doc_id") * lit(23L), 85), lit("en"))
            .otherwise(col("lang")))
        // Hot stop-phrase in ~40% of docs (n_chars kept consistent —
        // several text ops trust it as length metadata).
        .withColumn("text",
          when(coin(col("doc_id"), 40), concat(col("text"), lit(hotPhrase)))
            .otherwise(col("text")))
        .withColumn("n_chars",
          when(coin(col("doc_id"), 40),
            col("n_chars") + lit(hotPhrase.length.toLong))
            .otherwise(col("n_chars")))
        // Host skew: ~30% of ids land on residue 0 mod 7 (p2's host
        // key). id → id*7 + r is injective for r in [0, 6].
        .withColumn("doc_id",
          when(coin(col("doc_id") * lit(17L), 30), col("doc_id") * lit(7L))
            .otherwise(col("doc_id") * lit(7L) + lit(1L) +
              pmod(col("doc_id"), lit(6L))))
    })
    replicate("embeddings")((df, i) => {
      val shifted = df.withColumn("vec_id", col("vec_id") + lit(i * vecOff))
      if (!zipf) shifted
      // Semantic-cluster skew: ~90% of vectors collapse onto ONE
      // dominant direction (a constant positive vector, so every hot
      // row draws the same hyperplane signs), with a tiny per-id
      // jitter on the first component to keep vectors distinct. This
      // is the p9 in-context-ordering hazard by construction: sign-LSH
      // bucketing exists to GROUP semantic neighbors, so a semantically
      // clustered corpus makes one hot bucket — the probe measures
      // whether the range-partitioned order bounds its max task anyway.
      else shifted.withColumn("embedding",
        when(coin(col("vec_id") * lit(13L), 90),
          concat(
            array((pmod(col("vec_id"), lit(97L)).cast("float") /
              lit(1000.0f)) + lit(0.5f)),
            slice(array_repeat(lit(0.9f), 63), 1, 63))
            .cast("array<float>")) // SQL float division widens to double
          .otherwise(col("embedding")))
    })

    // Dup-heavy media table (zipf only): the image-corpus hot-key
    // hazard a crawl actually has — recrawled/hotlinked BYTE-IDENTICAL
    // payloads — which the id-derived m5 fixture deliberately lacks.
    // 40% of rows (dense rank % 5 in {1, 2}) share ONE payload, so
    // every chunk bucket of that dHash floods past the m5 cap and the
    // probe can watch keepHotBuckets engage; ranks % 5 == {0, 4} keep
    // the fixture's planted 3-bit-flip near-dup pairs (dense ranks
    // make the pair partner always present, which the zipf id remap's
    // sparse id space would not). The m5 gate reads this table via
    // the imageFixture media.parquet override (its flood-vs-cap effect
    // sizes are in SCALEPROBE_r17.json `image_dup_flood_vs_cap`).
    // Dense rank via one single-partition window:
    // dev tooling over row counts this box generates, not a prod path.
    if (zipf) {
      import spark.implicits._
      val w = org.apache.spark.sql.expressions.Window.orderBy("doc_id")
      spark.read.parquet(s"$outDir/documents.parquet")
        .select(col("doc_id"))
        .withColumn("mid", row_number().over(w).cast("long") - 1L)
        .select(col("doc_id"), col("mid")).as[(Long, Long)]
        .map { case (docId, mid) =>
          val img = graft.ext.Multimodal.SyntheticImages
          val content =
            if (mid % 5 == 1 || mid % 5 == 2)
              img.bmpGradient(0x5DEECE66DL, topDown = false) // the flood
            else {
              val base = mid - mid % 5
              val raw = img.avalanche(if (mid % 5 == 4) base else mid)
              val sig =
                if (mid % 5 == 4) raw ^ ((1L << 1) | (1L << 20) | (1L << 40))
                else raw
              img.bmpGradient(sig, topDown = mid % 2 == 1)
            }
          (docId, content)
        }.toDF("media_id", "content")
        .write.mode("overwrite").parquet(s"$outDir/media.parquet")
      println("[genscale] media written (zipf dup-heavy: 40% one payload)")
    }

    spark.stop()
  }
}
