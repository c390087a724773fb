package graft.sink

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import java.sql.Timestamp
import java.time.Instant
import scala.jdk.CollectionConverters._

/** An audit flush as a Spark write job — `createDataFrame`, the
  * `process_dt` expression, `to_date` and a `saveAsTable` append — the
  * form the driver-written [[AuditLog.Buffer]] flush replaced. Kept as
  * the differential oracle that flush is pinned against. */
object AuditSparkForm {

  /** Appends `(job_action, log_info, logged at)` rows of `owner` to
    * `ref`'s audit table. */
  def append(spark: SparkSession, ref: TableRef, owner: String,
      rows: Seq[(String, String, Instant)]): Unit = {
    val table = ref.copy(name = AuditLog.TableName).qualified
    val stamped = spark.createDataFrame(
        rows.map { case (a, i, at) => Row(owner, a, i, Timestamp.from(at)) }.asJava,
        AuditLog.Schema.add("logged_at", TimestampType))
      .coalesce(1)
      .select(AuditLog.Schema.fieldNames.map(col).toSeq :+
        TableSink.processDtOf(col("logged_at")): _*)
    val exists = spark.catalog.tableExists(table)
    if (!exists) TableSink.ensureDatabase(spark, ref)
    if (!exists || spark.table(table).columns.contains(TableSink.DateCol))
      stamped.withColumn(TableSink.DateCol, to_date(col(TableSink.ProcessDtCol)))
        .write.mode("append").format("parquet")
        .partitionBy(TableSink.DateCol).saveAsTable(table)
    else stamped.write.mode("append").format("parquet").saveAsTable(table)
  }
}
