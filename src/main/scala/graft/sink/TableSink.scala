package graft.sink

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Three-level table reference (reference: box_ingest.py:125, :164 —
  * `{catalog}.{schema}.{table}`; hardcoded 'development'.'eda_gc_raw'
  * at box_ingest.py:182-183). Catalog/schema collapse to one Spark
  * namespace: `<catalog>_<schema>` database in the session catalog
  * (no external metastore in this environment).
  */
final case class TableRef(catalog: String, schema: String, name: String) {
  def database: String = s"${catalog}_${schema}"
  def qualified: String = s"$database.$name"
  def errorSibling: TableRef = copy(name = s"${name}_error")
}

/** Append-only table sink (reference: box_ingest.py:124-129, O21/O22).
  *
  * The reference writes Delta; its only Delta usage is `mode("append")`
  * `.saveAsTable` — with no MERGE/time-travel exercised, a parquet
  * provider is semantically equivalent (SURVEY §7; no Delta jars in
  * /opt/spark/jars). Every write stamps `process_dt` with the reference's
  * exact expression `from_utc_timestamp(current_timestamp(),
  * 'Asia/Shanghai')` (box_ingest.py:126).
  */
object TableSink {

  val ProcessDtCol = "process_dt"

  /** Partition column: the DATE of `process_dt`. Ingested tables are
    * hive-partitioned by ingestion day, so date-bounded reads (the
    * dominant access pattern for append-only raw tables — "yesterday's
    * load", backfill windows, retention sweeps) prune to the matching
    * directories at PLANNING time instead of scanning all history; joins
    * against a filtered date dimension prune dynamically (DPP). Daily
    * granularity keeps partition counts sane at scale (365/year, each
    * holding that day's appends) — never partition by the raw timestamp,
    * which would create one directory per write. */
  val DateCol = "process_date"

  def processDt = processDtOf(current_timestamp())

  /** The `process_dt` of the instant `utc`. */
  private[sink] def processDtOf(utc: Column): Column =
    from_utc_timestamp(utc, "Asia/Shanghai").as(ProcessDtCol)

  /** Fixed error-table schema (box_ingest.py:116-119, :126). */
  val ErrorSchema: StructType = StructType(Seq(
    StructField("record", StringType),
    StructField("error_type", StringType),
    StructField(ProcessDtCol, TimestampType)))

  def ensureDatabase(spark: SparkSession, ref: TableRef): Unit =
    spark.sql(s"CREATE DATABASE IF NOT EXISTS `${ref.database}`")

  /** O21: append with ingestion timestamp, partitioned by its date.
    * A table we create is partitioned by [[DateCol]]; appends to a
    * pre-existing table conform to ITS layout (the copy-mode contract
    * lets callers create unpartitioned targets up front — O22). The
    * database is created only with the table: an existing table implies
    * its database. */
  def append(df: DataFrame, ref: TableRef): Unit = {
    val stamped = df.withColumn(ProcessDtCol, processDt)
    val spark = stamped.sparkSession
    val exists = spark.catalog.tableExists(ref.qualified)
    if (!exists) ensureDatabase(spark, ref)
    val partitioned = !exists || spark.table(ref.qualified).columns.contains(DateCol)
    if (partitioned)
      stamped.withColumn(DateCol, to_date(col(ProcessDtCol)))
        .write.mode("append").format("parquet")
        .partitionBy(DateCol).saveAsTable(ref.qualified)
    else // pre-created unpartitioned target (copy-mode contract): match it
      stamped.write.mode("append").format("parquet").saveAsTable(ref.qualified)
  }

  /** Append with SCHEMA EVOLUTION — the contract long-lived raw tables
    * need: batch columns the table has never seen are added via
    * `ALTER TABLE ADD COLUMNS` (existing parquet files simply read them
    * as NULL — no rewrite), and table columns the batch lacks null-fill.
    * Same-name columns cast to the table's type (a genuine type conflict
    * surfaces as a cast-analysis error rather than corrupting files).
    * Metadata-only on the table side: no data file is ever rewritten. */
  def appendEvolved(df: DataFrame, ref: TableRef): Unit = {
    val spark = df.sparkSession
    if (!spark.catalog.tableExists(ref.qualified)) { append(df, ref); return }
    val existing = spark.table(ref.qualified).schema
      .map(_.name.toLowerCase).toSet
    val newCols = df.schema.filterNot(f => existing.contains(f.name.toLowerCase))
    if (newCols.nonEmpty) {
      val ddl = newCols
        .map(f => s"`${f.name.replace("`", "``")}` ${f.dataType.sql}")
        .mkString(", ")
      spark.sql(s"ALTER TABLE ${ref.qualified} ADD COLUMNS ($ddl)")
    }
    append(toTable(df, ref, identity), ref)
  }

  /** Compact a managed parquet table's files — the operational answer to
    * the small-file problem every append-heavy sink develops (each
    * micro-batch/ingest run lands its own part files; scans then pay a
    * task per tiny file). Rewrites the table into ceil(bytes/targetBytes)
    * files: partitioned tables repartition on the partition column so
    * each date's rows land contiguously (one file per date per task),
    * unpartitioned tables repartition evenly. The rewrite stages into a
    * sibling table then drop+renames — readers mid-swap see the old or
    * the new table, never a half-written directory; content is
    * byte-for-byte the same rows (the c1 gate hash-checks this).
    * Caveat: the drop+rename pair is not atomic in the session catalog —
    * run compaction in the ingest maintenance window, as fleets do. */
  def compact(spark: SparkSession, ref: TableRef,
      targetBytes: Long = 128L << 20): Unit = {
    import org.apache.hadoop.fs.Path
    val src = spark.table(ref.qualified)
    val hconf = spark.sparkContext.hadoopConfiguration
    val totalBytes = src.inputFiles.map { f =>
      val p = new Path(new java.net.URI(f))
      p.getFileSystem(hconf).getFileStatus(p).getLen
    }.sum
    val n = math.max(1L, (totalBytes + targetBytes - 1) / targetBytes).toInt
    val tmp = ref.copy(name = ref.name + "__compact_tmp")
    spark.sql(s"DROP TABLE IF EXISTS ${tmp.qualified}")
    val hasDate = src.columns.contains(DateCol)
    val redistributed =
      if (hasDate) src.repartition(n, col(DateCol)) else src.repartition(n)
    val writer = redistributed.write.mode("overwrite").format("parquet")
    (if (hasDate) writer.partitionBy(DateCol) else writer)
      .saveAsTable(tmp.qualified)
    spark.sql(s"DROP TABLE ${ref.qualified}")
    spark.sql(s"ALTER TABLE ${tmp.qualified} RENAME TO ${ref.qualified}")
    // Two post-swap metadata repairs: (1) catalog partition entries can
    // keep their pre-rename absolute locations (the moved-away tmp dir),
    // so re-sync them from the table's directory; (2) the pre-swap reads
    // populated the session file-status cache for the table's path with
    // the now-deleted old files — refresh it.
    if (hasDate)
      spark.sql(s"MSCK REPAIR TABLE ${ref.qualified} SYNC PARTITIONS")
    spark.catalog.refreshTable(ref.qualified)
  }

  /** O22 copy mode: conform an arbitrary incoming frame to the target
    * table's schema minus `process_dt`, casting through string exactly as
    * the reference does (`astype(str)` then target types,
    * box_ingest.py:163-168), ready for [[append]].
    */
  def conform(df: DataFrame, ref: TableRef): DataFrame =
    toTable(df, ref, _.cast(StringType))

  /** `df` projected onto the table's columns minus `process_dt` /
    * `process_date`: each matched by lower-cased name (the first of
    * several case variants wins), passed through `pre`, then cast to
    * the table's type; a column `df` lacks null-fills. */
  private def toTable(df: DataFrame, ref: TableRef,
      pre: Column => Column): DataFrame = {
    val target = df.sparkSession.table(ref.qualified).schema
      .filterNot(f => f.name.equalsIgnoreCase(ProcessDtCol) ||
        f.name.equalsIgnoreCase(DateCol))
    val byLower = df.columns.reverse.map(c => c.toLowerCase -> c).toMap
    df.select(target.map { f =>
      byLower.get(f.name.toLowerCase) match {
        case Some(in) =>
          pre(col(s"`${in.replace("`", "``")}`")).cast(f.dataType).as(f.name)
        case None => lit(null).cast(f.dataType).as(f.name)
      }
    }: _*)
  }
}
