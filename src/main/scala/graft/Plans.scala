package graft

/** Dev plan dumper (tooling, like [[Probe]]): run named gate queries
  * against a data dir and write each one's `.explain("formatted")`
  * physical plan to `<outDir>/<gate>_<suffix>.txt` — the before/after
  * plan evidence an optimization round commits alongside its numbers.
  * The query FUNCTION executes (gates with index-build side effects do
  * their setup), but the returned frame is only explained, never
  * materialized, so the dump costs setup + planning, not the query.
  *
  * Usage: runMain graft.Plans <sfDir> <outDir> <suffix> <gate1> [gate2 ...]
  */
object Plans {

  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val outDir = java.nio.file.Paths.get(args(1))
    val suffix = args(2)
    val names = args.drop(3)
    java.nio.file.Files.createDirectories(outDir)
    val spark = Probe.session("graft-plans")
    names.foreach { n =>
      val fn = SparkEntry.queries(n)
      val plan = fn(spark, dir).queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      java.nio.file.Files.write(
        outDir.resolve(s"${n}_$suffix.txt"),
        plan.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      println(s"[plans] wrote ${n}_$suffix.txt (${plan.length} chars)")
    }
    spark.stop()
  }
}
