package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The Gopher quality metrics and verdict as plain Spark SQL — regex
  * splits, `regexp_replace` and higher-order lambdas — the form the
  * fused [[graft.functions.GopherQuality]] kernel replaced. Kept as the
  * differential oracle the kernel is pinned against. */
object GopherSqlForm {

  /** The eight metric expressions, named. */
  def metricCols(t: Column): Seq[(String, Column)] = {
    val words = filter(split(t, "\\s+"), w => length(w) > 0)
    val lines = filter(split(t, "\n"), l => length(ltrim(l)) > 0)
    val stops = Seq("the", "be", "to", "of", "and", "that", "have", "with")
    Seq(
      "n_words" -> size(words).cast(LongType),
      "sum_word_len" ->
        length(regexp_replace(t, "\\s", "")).cast(LongType),
      "n_symbols" ->
        ((length(t) - length(regexp_replace(t, "#", ""))) +
          (length(t) - length(regexp_replace(t, "\\.\\.\\.", ""))) / 3)
          .cast(LongType),
      "n_lines" -> size(lines).cast(LongType),
      "n_bullet_lines" -> size(filter(lines, l =>
        ltrim(l).startsWith("-") || ltrim(l).startsWith("*") ||
          ltrim(l).startsWith("•"))).cast(LongType),
      "n_ellipsis_lines" ->
        size(filter(lines, l => rtrim(l).endsWith("..."))).cast(LongType),
      "n_alpha_words" ->
        size(filter(words, w => w.rlike("[A-Za-z]"))).cast(LongType),
      "n_stop_hits" -> size(array_intersect(
        transform(words, lower _), lit(stops.toArray))).cast(LongType))
  }

  /** The verdict over the named metric columns. */
  def verdict(minWords: Long, maxWords: Long, minStopHits: Long): Column =
    col("n_words").between(minWords, maxWords) &&
      col("sum_word_len") >= col("n_words") * 3 &&
      col("sum_word_len") <= col("n_words") * 10 &&
      col("n_symbols") * 10 <= col("n_words") &&
      col("n_bullet_lines") * 10 <= col("n_lines") * 9 &&
      col("n_ellipsis_lines") * 10 <= col("n_lines") * 3 &&
      col("n_alpha_words") * 10 >= col("n_words") * 8 &&
      col("n_stop_hits") >= minStopHits

  /** `TextAnalysis.gopherQuality`'s frame, computed the SQL way. */
  def quality(df: DataFrame, text: String, id: String, minWords: Long,
      maxWords: Long, minStopHits: Long): DataFrame =
    df.select(col(id) +: metricCols(col(text)).map { case (n, c) => c.as(n) }: _*)
      .withColumn("is_quality", verdict(minWords, maxWords, minStopHits))
}
