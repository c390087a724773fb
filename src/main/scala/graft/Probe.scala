package graft

import org.apache.spark.sql.SparkSession

/** Dev probe runner (tooling, like [[Bench]]/[[GenScale]]): run named
  * gate queries against an arbitrary data dir, fully materialize
  * through the noop sink, and print wall time, result row count and
  * the worst stage's task skew — the single-query harness scale probes
  * use when the full Bench protocol (warm-up, min-of-three, disk floor)
  * is not the question.
  *
  * A `[probe]` wall is a cold-JVM first run with no warm-up, so on small
  * inputs it is mostly class loading and JIT: at sf0.01 on 4 cores,
  * `d2_dedup_minhash` reads wall=7.62 s here against 0.74 s from
  * [[StageProfile]] after one warm-up pass. Read it for rows, skew and
  * "does it run"; time with [[StageProfile]] or [[Bench]].
  *
  * [[session]] is also the local session, with a [[Trace]] attached,
  * that [[StageProfile]], [[Plans]] and [[GenScale]] run on, and
  * [[timed]] the timer `StageProfile` reads its wall from.
  *
  * Usage: runMain graft.Probe <sfDir> <gate1> [gate2 ...]
  */
object Probe {

  private var current: Trace = _

  /** The [[Trace]] attached by the last [[session]] call. */
  private[graft] def trace: Trace = current

  /** A local session on `SPARK_GRAFT_CPUS` cores (default 32) with as
    * many shuffle partitions, UTC, the UI off, WARN logging and a
    * [[Trace]] attached. `nanosAsLong` lets parquet `TIMESTAMP(NANOS)`
    * columns read at all; it touches no other column type. */
  private[graft] def session(app: String): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(app)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    current = new Trace(spark.sparkContext)
    spark.sparkContext.addSparkListener(current)
    spark
  }

  /** Run `body` on a fresh trace: its result, its wall seconds and the
    * skew note of the stages it ran. */
  private[graft] def timed[T](body: => T): (T, Double, String) = {
    current.reset()
    val t0 = System.nanoTime()
    val out = body
    val wall = (System.nanoTime() - t0) / 1e9
    (out, wall, current.skew())
  }

  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val names = args.drop(1)
    val spark = session("graft-probe")
    names.zipWithIndex.foreach { case (n, i) =>
      val fn = SparkEntry.queries(n)
      // ONE materialization: the row count rides the noop pass as an
      // observed metric instead of a second fn() execution — gates with
      // setup side effects (temp index builds, recall-floor requires)
      // must run their setup exactly once per probe (r11 advice), and
      // the old second pass also doubled probe cost.
      val obs = org.apache.spark.sql.Observation(s"probe_${n}_$i")
      val (_, wall, sk) = timed {
        fn(spark, dir)
          .observe(obs, org.apache.spark.sql.functions.count(
            org.apache.spark.sql.functions.lit(1)).as("rows"))
          .write.format("noop").mode("overwrite").save()
      }
      val rows = obs.get("rows").asInstanceOf[Long]
      println(f"[probe] $n wall=$wall%.2f s rows=$rows$sk")
    }
    spark.stop()
  }
}
