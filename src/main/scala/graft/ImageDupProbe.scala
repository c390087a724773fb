package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Scale probe for the image near-dup hot-bucket cap (dev tooling, the
  * Bm25Probe protocol): on a GenScale zipf dir carrying the dup-heavy
  * `media.parquet` (~40% of payloads BYTE-IDENTICAL — the recrawl/
  * hotlink flood a crawl-scale image corpus actually has), measure
  * [[graft.ext.Multimodal.imageNearDup]] with the production cap and
  * print the effect sizes next to the timing (the probe-design rule):
  *
  *   - the flood's size and its would-be pair count C(g, 2) — what the
  *     cap PREVENTS;
  *   - pairs actually emitted, split into flood-member pairs (must be
  *     0 once the flood exceeds the cap: keepHotBuckets drops its
  *     buckets whole) and genuine planted near-dup pairs (must
  *     SURVIVE — the cap must not eat recall on the rest);
  *   - whether the cap actually engaged (flood > cap), so a mis-sized
  *     corpus measures a believable no-op loudly.
  *
  * `uncapped=1` re-times with the cap lifted — only sane at 1x scale
  * (the flood's in-bucket expansion is quadratic BY DESIGN; that blow-
  * up is the measurement).
  *
  * Usage: runMain graft.ImageDupProbe <corpusDir> [uncapped(0|1)]
  */
object ImageDupProbe {

  def main(args: Array[String]): Unit = {
    val corpusDir = args(0)
    val uncapped = args.length > 1 && args(1) == "1"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-imagedup-probe")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val skew = new StageSkewListener
    spark.sparkContext.addSparkListener(skew)

    val mediaPath = s"$corpusDir/media.parquet"
    require(java.nio.file.Files.exists(java.nio.file.Paths.get(mediaPath)),
      s"ImageDupProbe: $mediaPath missing - generate the corpus with " +
        "GenScale zipf mode (it writes the dup-heavy media table)")
    val media = spark.read.parquet(mediaPath)

    // ---- effect sizes BEFORE the timings: what is there to measure?
    val groups = media
      .groupBy(xxhash64(col("content")).as("h"))
      .agg(count(lit(1)).as("n"))
      .where(col("n") > 1).orderBy(col("n").desc)
      .limit(5).collect()
    val flood = if (groups.isEmpty) 0L else groups.head.getLong(1)
    val cap = 4096L // imageNearDup's default maxBucketSize
    val n = media.count()
    println(s"[imagedup-probe] rows=$n largest_identical_payload=$flood " +
      s"cap=$cap would_be_flood_pairs=${flood * (flood - 1) / 2}" +
      (if (flood <= cap)
        "  <-- FLOOD UNDER CAP: the capped run below measures nothing"
       else ""))

    def timed(what: String)(f: => Long): Long = {
      skew.reset()
      val t0 = System.nanoTime()
      val out = f
      val wall = (System.nanoTime() - t0) / 1e9
      val sk = skew.worst().map { case (mx, med, r) =>
        f" max_task=${mx / 1000.0}%.2f s median=${med / 1000.0}%.2f s ratio=$r%.2f"
      }.getOrElse(" (no >=8-task stage reached 200 ms)")
      println(f"[imagedup-probe] $what wall=$wall%.2f s pairs=$out$sk")
      out
    }

    // flood membership by payload identity: a pair is flood-internal
    // iff both sides carry the hot payload's hash
    def floodSplit(pairs: org.apache.spark.sql.DataFrame): (Long, Long) = {
      val hot = media.select(col("media_id"),
        xxhash64(col("content")).as("h"))
      val hotIds = groups.headOption.map(_.getLong(0)) match {
        case Some(h) => hot.where(col("h") === h).select("media_id")
        case None => hot.where(lit(false)).select("media_id")
      }
      val fl = pairs
        .join(broadcast(hotIds.withColumnRenamed("media_id", "id_a")),
          Seq("id_a"), "left_semi")
        .join(broadcast(hotIds.withColumnRenamed("media_id", "id_b")),
          Seq("id_b"), "left_semi")
        .count()
      (pairs.count(), fl)
    }

    // the eager Scale.materialize IS the materialization — it must sit
    // INSIDE the timed block or the wall measures a cached count (the
    // probe-design trap this file exists to avoid)
    var capped: org.apache.spark.sql.DataFrame = null
    timed("neardup(capped)") {
      capped = graft.ext.Multimodal
        .imageNearDup(media, "media_id", "content", maxDist = 8)
        .transform(graft.ext.Scale.materialize)
      capped.count()
    }
    val (total, fl) = floodSplit(capped)
    println(s"[imagedup-probe] capped effect: pairs=$total " +
      s"flood_internal=$fl planted_or_chance=${total - fl}" +
      (if (flood > cap && fl > 0)
        "  <-- CAP FAILED: flood pairs leaked through" else "") +
      (if (total - fl == 0)
        "  <-- NO SURVIVING PAIRS: planted structure missing?" else ""))

    if (uncapped) {
      var free: org.apache.spark.sql.DataFrame = null
      timed("neardup(uncapped)") {
        free = graft.ext.Multimodal.imageNearDup(media, "media_id",
          "content", maxDist = 8, maxBucketSize = Int.MaxValue)
          .transform(graft.ext.Scale.materialize)
        free.count()
      }
      val (ft, ffl) = floodSplit(free)
      println(s"[imagedup-probe] uncapped effect: pairs=$ft " +
        s"flood_internal=$ffl (the quadratic term the cap removes)")
    }
    spark.stop()
  }
}
