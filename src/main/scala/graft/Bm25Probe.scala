package graft

import org.apache.spark.sql.functions._

/** Scale probe for the persisted BM25 index (dev tooling, the
  * NearDupProbe protocol): on a GenScale documents chain, measure the
  * lifecycle costs separately —
  *
  *   1. BUILD: postings + stats over the whole corpus (the
  *      once-per-corpus tokenize/aggregate pass);
  *   2. APPEND: a ~1% increment (must be increment-sized);
  *   3. SEARCH: a 3-term query, clean (the per-query recurring cost —
  *      the question is whether it stays query-term-sized as the
  *      index grows, i.e. the pushed term filter is doing its job);
  *   4. DELETE: takedown of 0.5% of the corpus (pays one
  *      marker-restricted postings scan for the dl lookup);
  *   5. SEARCH again with markers (the anti-join + negative-stats
  *      overhead — should be unmeasurable).
  *
  * Usage: runMain graft.Bm25Probe <corpusDir> [rounds] [smallDeletes]
  *
  * `smallDeletes` > 0 adds the DELETE-CADENCE section (VERDICT r16
  * item 4, mirroring NearDupProbe's smallAppends): that many
  * consecutive ~0.05%-of-corpus takedowns through one opened handle,
  * each timed — the per-call cost is the marker-restricted postings
  * scan the dl lookup pays (Bm25Index.delete), so the ladder measures
  * whether a busy takedown cadence should batch its ids per call
  * (K scans vs 1) or whether per-call is fine at the deployment's
  * rate. Effect sizes (marker rows added per call) print next to the
  * timings.
  */
object Bm25Probe {

  def main(args: Array[String]): Unit = {
    val corpusDir = args(0)
    val rounds = if (args.length > 1) args(1).toInt else 2
    val smallDeletes = if (args.length > 2) args(2).toInt else 0
    val spark = Probe.session("graft-bm25-probe")

    val docs = Tables.documents(spark, corpusDir)
      .select(col("doc_id"), col("text"))
    val base = docs.where(col("doc_id") % 100 =!= 0)
    val increment = docs.where(col("doc_id") % 100 === 0)
      .select((col("doc_id") + 1000000000L).as("doc_id"), col("text"))
    println(s"[bm25-probe] corpus=${docs.count()} docs")
    val query = Seq("spark", "hash", "join")

    def timed(what: String)(f: => Unit): Unit = {
      val (_, wall, sk) = Probe.timed(f)
      println(f"[bm25-probe] $what wall=$wall%.2f s$sk")
    }

    for (_ <- 1 to rounds) {
      val root = java.nio.file.Files
        .createTempDirectory("graft_bm25probe_").resolve("idx").toString
      timed("build(99%)") {
        graft.ext.Bm25Index.build(root, base, "text", "doc_id")
      }
      timed("append(1%)") {
        graft.ext.Bm25Index.append(root, increment, "text", "doc_id")
      }
      timed("search(clean)") {
        graft.ext.Bm25Index.search(spark, root, query, k = 10)
          .write.format("noop").mode("overwrite").save()
      }
      timed("delete(0.5%)") {
        // % 200 === 1, NOT 0: ids divisible by 100 are excluded from
        // `base` and re-keyed in `increment`, so a %200==0 takedown set
        // would intersect the index NOWHERE and the delete/marker-serve
        // steps would measure a no-op (the round-15 review catch)
        graft.ext.Bm25Index.delete(spark, root,
          docs.where(col("doc_id") % 200 === 1).select(col("doc_id")),
          "doc_id")
      }
      // Effect size NEXT TO the timings (the probe-design rule the
      // %200==1 comment above works around once): a takedown set whose
      // id arithmetic drifts off the index measures a believable no-op
      // — marker count, dl coverage, and the query-term posting rows
      // the serve will actually suppress make that self-evident here.
      locally {
        val markers = spark.read.parquet(s"$root/deletes.parquet")
          .groupBy(col("doc_id")).agg(max(col("dl")).as("dl"))
        val nMark = markers.count()
        val nDlKnown = markers.where(col("dl").isNotNull).count()
        val suppressed = spark.read.parquet(s"$root/postings.parquet")
          .where(col("term").isin(query: _*))
          .join(broadcast(markers.select("doc_id")), Seq("doc_id"),
            "left_semi")
          .count()
        println(s"[bm25-probe] takedown effect: markers=$nMark " +
          s"dl_known=$nDlKnown query_term_rows_suppressed=$suppressed" +
          (if (nMark == 0 || suppressed == 0)
            "  <-- NO-OP TAKEDOWN: timings below measure nothing" else ""))
      }
      timed("search(with markers)") {
        graft.ext.Bm25Index.search(spark, root, query, k = 10)
          .write.format("noop").mode("overwrite").save()
      }
      timed("compact") {
        graft.ext.Bm25Index.compact(spark, root,
          targetPartitions =
            spark.conf.get("spark.sql.shuffle.partitions").toInt)
      }
      timed("search(post-compact)") {
        graft.ext.Bm25Index.search(spark, root, query, k = 10)
          .write.format("noop").mode("overwrite").save()
      }
      // Pre-opened handle A/B (r16): N repeated serves through the
      // static entry (2 driver-side FS checks per call) vs one Opened
      // handle (checks paid once at open). On local FS the delta is
      // expected to be ~noise — the handle's win is object-store RPCs
      // and code ergonomics, and an honest probe should SAY so.
      val serveReps = 5
      timed(s"serve x$serveReps (static entry)") {
        (1 to serveReps).foreach { _ =>
          graft.ext.Bm25Index.search(spark, root, query, k = 10)
            .write.format("noop").mode("overwrite").save()
        }
      }
      val opened = graft.ext.Bm25Index.open(spark, root)
      timed(s"serve x$serveReps (pre-opened handle)") {
        (1 to serveReps).foreach { _ =>
          opened.search(query, k = 10)
            .write.format("noop").mode("overwrite").save()
        }
      }

      // DELETE-CADENCE ladder (r16 item 4): K consecutive small
      // takedowns, each paying its own marker-restricted dl-lookup
      // postings scan. Disjoint ~0.05% slices (residues 3, 7, 11, ...
      // mod 2000 — all odd, so none re-hits the %200==1 set above or
      // the re-keyed increment) with per-call effect sizes; a batched
      // single call over the union closes the A/B: K scans vs one.
      if (smallDeletes > 0) {
        def slice(j: Int) = docs
          .where(col("doc_id") % 2000 === (3 + 4 * j))
          .select(col("doc_id"))
        // the compact above DROPPED the marker table — read 0 for a
        // missing path rather than crashing the cadence baseline
        def markerCount(): Long = {
          val p = new org.apache.hadoop.fs.Path(s"$root/deletes.parquet")
          if (p.getFileSystem(spark.sparkContext.hadoopConfiguration)
              .exists(p)) spark.read.parquet(p.toString).count()
          else 0L
        }
        var markerRows = markerCount()
        for (j <- 0 until smallDeletes) {
          val ids = slice(j)
          timed(f"delete-cadence call ${j + 1}/$smallDeletes") {
            opened.delete(ids, "doc_id")
          }
          val now = markerCount()
          println(s"[bm25-probe] cadence effect: +${now - markerRows} " +
            s"marker rows (requested ${ids.count()})" +
            (if (now == markerRows)
              "  <-- NO-OP DELETE: slice missed the index" else ""))
          markerRows = now
        }
        timed(s"delete-cadence batched x$smallDeletes (one call, " +
            "union of equal-sized fresh slices)") {
          opened.delete(
            (smallDeletes until 2 * smallDeletes).map(slice)
              .reduce(_ unionByName _), "doc_id")
        }
        timed("search(after cadence)") {
          opened.search(query, k = 10)
            .write.format("noop").mode("overwrite").save()
        }
      }
    }
    spark.stop()
  }
}
