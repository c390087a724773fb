package graft

import org.apache.spark.sql.functions._

/** Scale-probe for the decontamination family with a FIXED benchmark
  * (dev tooling, like [[GenScale]]/[[Probe]]): the d21/d22 GATES derive
  * their benchmark FROM the corpus (`doc_id % 20`), so replaying them
  * on a GenScale-replicated dir grows the benchmark with the corpus and
  * violates the benchmark-sized-broadcast premise the family's
  * scaladocs claim — the round-12 probe honestly recorded a skewed
  * ratio that was a FIXTURE artifact, not an operator defect. The
  * deployment shape is the opposite: eval sets are MBs and fixed while
  * corpora grow. This probe pins the benchmark to `benchDir` (the
  * un-replicated sf dir, doc_id % 20 with the evalA/evalB split — the
  * gate's benchmark exactly) and scans the corpus from `corpusDir`
  * (a GenScale chain), so wall-clock vs corpus size measures the
  * operator under its documented premise.
  *
  * Usage: runMain graft.DecontamProbe <corpusDir> <benchDir> [rounds]
  * Prints one line per round per operator: d21 (single n=8 report) and
  * d22 (n ∈ {4, 8, 13} curve in one scan), with worst-stage task skew.
  */
object DecontamProbe {

  def main(args: Array[String]): Unit = {
    val corpusDir = args(0)
    val benchDir = args(1)
    val rounds = if (args.length > 2) args(2).toInt else 2
    val spark = Probe.session("graft-decontam-probe")

    val corpus = Tables.documents(spark, corpusDir)
      .select(col("doc_id"), col("text"))
    val bench = Tables.documents(spark, benchDir)
      .where(col("doc_id") % 20 === 0)
      .select(when(col("doc_id") % 40 === 0, lit("evalA"))
        .otherwise(lit("evalB")).as("eval_set"), col("text"))
    println(s"[decontam-probe] corpus=${corpus.count()} docs " +
      s"benchmark=${bench.count()} docs (FIXED from $benchDir)")

    for (_ <- 1 to rounds) {
      Seq[(String, () => org.apache.spark.sql.DataFrame)](
        "d21_report_fixed_bench" -> (() =>
          graft.ext.Decontam.contaminationReport(corpus, "text", "doc_id",
            bench, "text", "eval_set")),
        "d21_report_HASHED" -> (() =>
          graft.ext.Decontam.contaminationReportHashed(corpus, "text",
            "doc_id", bench, "text", "eval_set")),
        "d22_curve_fixed_bench" -> (() =>
          graft.ext.Decontam.contaminationCurve(corpus, "text", "doc_id",
            bench, "text", "eval_set", ns = Seq(4, 8, 13))),
        "d22_curve_HASHED" -> (() =>
          graft.ext.Decontam.contaminationCurveHashed(corpus, "text",
            "doc_id", bench, "text", "eval_set", ns = Seq(4, 8, 13)))
      ).foreach { case (name, df) =>
        // noop WRITE, not count(): the report's left join from the
        // eval-set relation is key-unique, so a count() lets Catalyst
        // eliminate the whole corpus-scan subtree (measured 0.4 s
        // "scans" of a corpus whose raw gram explode costs 12 s) — the
        // write materializes every column, like Bench's protocol. The
        // skew note is taken before the row count, a second execution
        // (pruned to a benchmark-sized probe) whose stages must not
        // displace the timed write's skew reading.
        val (frame, wall, sk) = Probe.timed {
          val f = df()
          f.write.format("noop").mode("overwrite").save()
          f
        }
        val n = frame.count()
        println(f"[decontam-probe] $name wall=$wall%.2f s rows=$n$sk")
      }
    }
    spark.stop()
  }

}
