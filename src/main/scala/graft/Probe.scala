package graft

import org.apache.spark.sql.SparkSession

/** Dev probe runner (tooling, like [[Bench]]/[[GenScale]]): run named
  * gate queries against an arbitrary data dir, fully materialize
  * through the noop sink, and print wall time + result row count —
  * the single-query harness scale probes use when the full Bench
  * protocol (warm-up, min-of-three, disk floor) is not the question.
  *
  * Usage: runMain graft.Probe <sfDir> <gate1> [gate2 ...]
  */
object Probe {

  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val names = args.drop(1)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-probe")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // SPARK_GRAFT_CHECKPOINT_DIR switches every Scale.materialize in the
    // probed queries from local blocks to RELIABLE checkpoint files (the
    // cluster deployment's configuration) — the g1/g2 multi-TB
    // checkpoint-cost A/B runs the same gate with and without it.
    sys.env.get("SPARK_GRAFT_CHECKPOINT_DIR")
      .foreach(spark.sparkContext.setCheckpointDir)
    val skew = new StageSkewListener
    spark.sparkContext.addSparkListener(skew)
    names.zipWithIndex.foreach { case (n, i) =>
      val fn = SparkEntry.queries(n)
      skew.reset()
      // ONE materialization: the row count rides the noop pass as an
      // observed metric instead of a second fn() execution — gates with
      // setup side effects (temp index builds, recall-floor requires)
      // must run their setup exactly once per probe (r11 advice), and
      // the old second pass also doubled probe cost.
      val obs = org.apache.spark.sql.Observation(s"probe_${n}_$i")
      val t0 = System.nanoTime()
      fn(spark, dir)
        .observe(obs, org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1)).as("rows"))
        .write.format("noop").mode("overwrite").save()
      val wall = (System.nanoTime() - t0) / 1e9
      val sk = skew.worst()
        .map { case (mx, med, r) =>
          f" max_task=${mx / 1000.0}%.2f s median=${med / 1000.0}%.2f s " +
            f"ratio=$r%.2f" }
        .getOrElse(" (no >=8-task stage reached 200 ms)")
      val rows = obs.get("rows").asInstanceOf[Long]
      println(f"[probe] $n wall=$wall%.2f s rows=$rows$sk")
    }
    spark.stop()
  }
}
