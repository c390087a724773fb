package graft

import org.apache.spark.sql.functions._

/** Files-skipped evidence for z-order clustering (dev tooling, the
  * Bm25Probe protocol — VERDICT r16 item 7): sc4/sc6/sc10 gate the
  * zoneMap/zOrderBy MECHANICS; this probe measures the 100 TB CLAIM —
  * that a Morton layout lets a range predicate on EITHER dimension
  * prune ~sqrt-fraction of files, where a lexicographic (a, b) sort
  * prunes only on `a` and touches every file for a `b` predicate.
  *
  * Protocol: write the same lineitem rows twice at `files` files each —
  * lexicographic (l_partkey, l_suppkey) range-sort vs
  * [[graft.ext.Scale.zOrderBy]] on the same two columns — then for a
  * selective band on EACH dimension report, per layout: files kept by
  * the zone-map keep-list (the [[graft.ext.Scale.prunedRead]] rule),
  * the pruned-read wall, and the matched row count (the effect size:
  * identical across layouts or the probe measured different queries).
  *
  * Usage: runMain graft.ZOrderProbe <sfDir> [files] [bandPct] [dimA] [dimB]
  *
  * Default dims (l_partkey, l_suppkey) are CORRELATED in the synthetic
  * data (suppkey derives from partkey), so the lex layout partially
  * prunes the second dim too — run a second pass with an independent
  * pair (l_partkey, l_orderkey) for the uncorrelated-dimension case
  * the z-order claim is really about.
  */
object ZOrderProbe {

  def main(args: Array[String]): Unit = {
    val src = args(0)
    val nFiles = if (args.length > 1) args(1).toInt else 64
    val bandPct = if (args.length > 2) args(2).toInt else 2
    val dimA = if (args.length > 3) args(3) else "l_partkey"
    val dimB = if (args.length > 4) args(4) else "l_suppkey"
    val spark = Probe.session("graft-zorder-probe")

    val li = spark.read.parquet(s"$src/lineitem.parquet")
      .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
        col("l_quantity"))
    val (aMax, bMax) = {
      val r = li.agg(max(dimA), max(dimB)).head
      (r.getLong(0), r.getLong(1))
    }
    val base = java.nio.file.Files.createTempDirectory("graft_zorder_")
    val lexDir = base.resolve("lex").toString
    val zDir = base.resolve("zorder").toString

    val (_, wLex, _) = Probe.timed {
      li.repartitionByRange(nFiles, col(dimA), col(dimB))
        .sortWithinPartitions(dimA, dimB)
        .write.parquet(lexDir)
    }
    val (_, wZ, _) = Probe.timed {
      graft.ext.Scale.zOrderBy(li, Seq(dimA, dimB),
          bits = 16, numPartitions = Some(nFiles))
        .drop("z_value").write.parquet(zDir)
    }
    println(f"[zorder-probe] rows=${li.count()} files=$nFiles " +
      f"write_lex=$wLex%.1f s write_z=$wZ%.1f s (layout cost, paid once)")

    // the prunedRead keep-list rule, re-derived here to COUNT it
    def kept(dir: String, column: String, lo: Long, hi: Long): (Long, Long) = {
      val zm = graft.ext.Scale.zoneMap(spark, dir, Seq(column))
      val total = zm.select("file").distinct().count()
      val keep = zm.groupBy(col("file"))
        .agg(max(when(col("min_long").isNull.or(col("max_long").isNull), 1)
            .otherwise(0)).as("unknown"),
          max(when(col("max_long") >= lo && col("min_long") <= hi, 1)
            .otherwise(0)).as("hit"))
        .where(col("unknown") === 1 || col("hit") === 1)
        .count()
      (total, keep)
    }

    for ((column, maxV) <- Seq(dimA -> aMax, dimB -> bMax)) {
      val lo = maxV * 40 / 100
      val hi = lo + math.max(1L, maxV * bandPct / 100) - 1
      for ((name, dir) <- Seq("lex" -> lexDir, "zorder" -> zDir)) {
        val (total, keep) = kept(dir, column, lo, hi)
        val (rows, wall, _) = Probe.timed {
          graft.ext.Scale.prunedRead(spark, dir, column, lo, hi).count()
        }
        println(f"[zorder-probe] $name%-6s $column band [$lo,$hi]: " +
          f"files_kept=$keep/$total " +
          f"(skipped ${100.0 * (total - keep) / total}%.0f%%) " +
          f"pruned_read=$wall%.2f s rows=$rows" +
          (if (rows == 0) "  <-- NO-OP BAND: predicate matched nothing"
           else ""))
      }
    }
    spark.stop()
  }
}
