package graft

import org.apache.spark.sql.functions._

/** Dev probe for [[graft.ext.AnnIndex.mineHardNegatives]] at
  * training-set scale (tooling, like [[Probe]]): builds a persisted
  * IVF-PQ index over an embeddings dir, then mines hard negatives with
  * the QUERY SET = THE WHOLE CORPUS — the |Q| = |C| shape the
  * broadcast-query hardNegatives cannot serve, at capacity-scaled
  * nlist = ⌊√N⌋ (the s19 rule).
  *
  * Usage: runMain graft.ProbeMine <embDir> [k] [nprobe] [rerank]
  */
object ProbeMine {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val k = if (args.length > 1) args(1).toInt else 4
    val nprobeArg = if (args.length > 2) args(2).toInt else 0
    val rerank = if (args.length > 3) args(3).toInt else 32
    val spark = Probe.session("graft-probe-mine")
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val n = emb.count()
    val nlist = math.max(1, math.floor(math.sqrt(n.toDouble)).toInt)
    val nprobe = if (nprobeArg > 0) nprobeArg else math.max(1, nlist / 16)
    val root = java.nio.file.Files.createTempDirectory("graft_minprobe_")
      .resolve("idx").toString
    val (_, tBuild, _) = Probe.timed {
      graft.ext.AnnIndex.buildIvfPq(
        emb.select(col("vec_id").as("cid"), col("embedding").as("cvec")),
        dim = 64, nlist = nlist, root = root, m = 8, codes = 16)
    }
    val (_, tMine, _) = Probe.timed {
      graft.ext.AnnIndex.mineHardNegatives(spark, root,
          emb.select(col("vec_id").as("qid"), col("embedding").as("qvec"),
            col("label").as("qlab")),
          emb.select(col("vec_id").as("cid"), col("label").as("clab")),
          k = k, nprobe = nprobe, rerank = rerank)
        .write.format("noop").mode("overwrite").save()
    }
    println(f"[probe-mine] n=$n nlist=$nlist nprobe=$nprobe rerank=$rerank " +
      f"k=$k build=$tBuild%.2f s mine=$tMine%.2f s")
    spark.stop()
  }
}
