package graft

import org.apache.spark.sql.functions._

/** Scale probe for the persisted near-dup index (dev tooling, like
  * [[DecontamProbe]]): measures the two lifecycle costs separately on a
  * GenScale documents chain —
  *
  *   1. BUILD: `Dedup.saveMinHashIndex` over the whole corpus dir (the
  *      once-per-corpus cost: one minhash-signature pass for the
  *      postings + one shingle-fingerprint pass for the verify table);
  *   2. SERVE: `Dedup.flagAgainstIndex` for an arrival batch of ~1% of
  *      the corpus (re-keyed `doc_id % 100 == 0` rows with the planted
  *      " zz" suffix, so every arrival has a guaranteed near-dup hit
  *      and the verify stage does real work), timed via noop write
  *      with stage-skew capture (the DecontamProbe protocol — a
  *      count() would let Catalyst prune the serve subtree).
  *
  * The serve is the deployment-recurring cost; the probe's question is
  * whether it stays arrival-sized + candidate-sized as the INDEX grows
  * (the postings join is key-uniform, so no hot bucket; the verify
  * join is candidate-pruned), or whether an index-sized term sneaks
  * in.
  *
  * Usage: runMain graft.NearDupProbe <corpusDir> [rounds] [smallAppends]
  *
  * `smallAppends` > 0 adds the STREAMING-CADENCE section (VERDICT r14
  * item 7): that many ~0.05%-of-corpus appends through one opened
  * handle, each timed, next to an increment-only BUILD of the same
  * rows to a throwaway dir (≈ what an append without the re-cap scan
  * would cost) — the delta isolates the per-append re-cap term, and
  * K × delta is what a cumulative per-bucket counts sidecar would save
  * at that cadence.
  */
object NearDupProbe {

  def main(args: Array[String]): Unit = {
    val corpusDir = args(0)
    val rounds = if (args.length > 1) args(1).toInt else 2
    val smallAppends = if (args.length > 2) args(2).toInt else 0
    val spark = Probe.session("graft-neardup-probe")

    val corpus = Tables.documents(spark, corpusDir)
      .select(col("doc_id"), col("text"))
    val arrivals = corpus.where(col("doc_id") % 100 === 0)
      .select((col("doc_id") + 1000000000L).as("doc_id"),
        concat(col("text"), lit(" zz")).as("text"))
    println(s"[neardup-probe] corpus=${corpus.count()} docs " +
      s"arrivals=${arrivals.count()} (1% re-keyed near-dups)")

    for (round <- 1 to rounds) {
      val root = java.nio.file.Files
        .createTempDirectory("graft_ndprobe_").resolve("idx").toString
      val (_, buildWall, buildSk) = Probe.timed {
        graft.ext.Dedup.saveMinHashIndex(root, corpus, "text", "doc_id")
      }
      println(f"[neardup-probe] build wall=$buildWall%.2f s$buildSk")

      val conf = graft.ext.Dedup.openMinHashIndex(spark, root)

      // r14: append now RE-CAPS touched buckets (one column-pruned
      // postings scan restricted by a broadcast semi-join on the
      // increment's keys) — measure that scan's cost vs index size
      val increment = corpus.where(col("doc_id") % 100 === 50)
        .select((col("doc_id") + 2000000000L).as("doc_id"), col("text"))
      val (_, appendWall, appendSk) = Probe.timed {
        graft.ext.Dedup.appendMinHashIndex(root, increment, "text",
          "doc_id", conf)
      }
      println(f"[neardup-probe] append(1%%, re-capped) wall=$appendWall%.2f s$appendSk")

      val (flags, serveWall, serveSk) = Probe.timed {
        val f = graft.ext.Dedup.flagAgainstIndex(spark, root, conf,
          arrivals, "text", "doc_id")
        f.write.format("noop").mode("overwrite").save()
        f
      }
      val n = flags.count()
      println(f"[neardup-probe] serve wall=$serveWall%.2f s flags=$n$serveSk")

      // r14 takedown overhead: delete 0.5% of the corpus (markers) and
      // re-serve — the delta is the broadcast anti-join's cost on the
      // postings read
      graft.ext.Dedup.deleteFromMinHashIndex(root,
        corpus.where(col("doc_id") % 200 === 0).select(col("doc_id")),
        "doc_id")
      val (flagsDel, delWall, delSk) = Probe.timed {
        val f = graft.ext.Dedup.flagAgainstIndex(spark, root, conf,
          arrivals, "text", "doc_id")
        f.write.format("noop").mode("overwrite").save()
        f
      }
      val nd = flagsDel.count()
      println(f"[neardup-probe] serve+takedown(0.5%%) wall=$delWall%.2f s " +
        f"flags=$nd$delSk")

      if (smallAppends > 0) {
        // streaming cadence: many SMALL appends through the same opened
        // handle — per-append wall vs the increment-only build cost
        for (i <- 0 until smallAppends) {
          val inc = corpus.where(col("doc_id") % 2000 === i)
            .select((col("doc_id") + 3000000000L + i * 10000000L)
              .as("doc_id"), col("text"))
          // baseline: the same rows as a fresh BUILD to a throwaway dir
          // (two narrow passes + cap window over increment-sized data —
          // an append WITHOUT the re-cap scan costs about this)
          val throwaway = java.nio.file.Files
            .createTempDirectory("graft_ndprobe_inc_").resolve("t").toString
          val (_, baseWall, _) = Probe.timed {
            graft.ext.Dedup.saveMinHashIndex(throwaway, inc, "text", "doc_id")
          }
          val (_, incWall, _) = Probe.timed {
            graft.ext.Dedup.appendMinHashIndex(root, inc, "text", "doc_id",
              conf)
          }
          println(f"[neardup-probe] small-append #$i wall=$incWall%.2f s " +
            f"increment-only-build=$baseWall%.2f s " +
            f"recap-term≈${incWall - baseWall}%.2f s")
        }
      }
    }
    spark.stop()
  }
}
