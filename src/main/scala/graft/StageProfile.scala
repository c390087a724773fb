package graft

/** Dev stage profiler (tooling, like [[Probe]]/[[Plans]]): run a named
  * gate once after an optional warm-up pass and print its [[Trace]]
  * report — every job with its gap and wall, and the most expensive
  * stages with task time, input/shuffle bytes and row counts.
  *
  * Usage: runMain graft.StageProfile <sfDir> <gate> [warmups=1]
  */
object StageProfile {

  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val name = args(1)
    val warmups = if (args.length > 2) args(2).toInt else 1
    val spark = Probe.session("graft-stageprofile")
    val fn = SparkEntry.queries(name)
    (1 to warmups).foreach { _ =>
      fn(spark, dir).write.format("noop").mode("overwrite").save()
    }
    val (_, wall, _) = Probe.timed {
      fn(spark, dir).write.format("noop").mode("overwrite").save()
    }
    println(f"[profile] $name wall=$wall%.2f s")
    println(Probe.trace.report())
    spark.stop()
  }
}
