package graft.sink

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.slf4j.LoggerFactory
import java.sql.Timestamp
import java.time.Instant
import java.time.temporal.ChronoUnit
import scala.collection.mutable.ListBuffer
import scala.jdk.CollectionConverters._

/** Audit-log sink (reference: box_ingest.py:13-20, box_export.py:10-17).
  *
  * The reference INSERTs one row per pipeline action into
  * `box_ingestion_log(task_owner, job_action, log_info, process_dt)` via an
  * f-string SQL INSERT — injectable by any file name containing a quote
  * (box_ingest.py:15-17). Here rows are parameterized DataFrame appends:
  * same table, same columns, no SQL text. A [[AuditLog.Buffer]] holds rows
  * on the driver and writes them in one append per flush; each row keeps
  * the instant it was logged as its `process_dt`, so `ORDER BY process_dt`
  * gives the order the rows were logged in.
  */
object AuditLog {

  val TableName = "box_ingestion_log"

  private val log = LoggerFactory.getLogger(getClass)

  val Schema: StructType = StructType(Seq(
    StructField("task_owner", StringType),
    StructField("job_action", StringType),
    StructField("log_info", StringType)))

  private val LoggedAt = "logged_at"

  /** One row, written at once. */
  def logTask(
      spark: SparkSession,
      ref: TableRef,
      owner: String,
      action: String,
      info: String): Unit = {
    val buffer = new Buffer(spark, ref, owner)
    buffer.add(action, info)
    buffer.flush()
  }

  /** Audit rows of one owner, held until [[flush]]. */
  final class Buffer(spark: SparkSession, ref: TableRef, owner: String) {
    private val rows = ListBuffer.empty[Row]
    private var last = Instant.EPOCH

    def size: Int = rows.size

    def add(action: String, info: String): Unit = {
      // Mirrors the reference's logging.info + print side channel
      // (box_ingest.py:19-20) on slf4j, at the moment of the action.
      log.info(s"$action: $info")
      // Strictly increasing at the table's microsecond precision, so two
      // rows logged within one tick still sort in the order logged.
      val now = Instant.now().truncatedTo(ChronoUnit.MICROS)
      last = if (now.isAfter(last)) now else last.plus(1, ChronoUnit.MICROS)
      rows += Row(owner, action, info, Timestamp.from(last))
    }

    /** Writes every held row in one append, as one task and one file.
      * The rows are dropped whether the append succeeds or throws. */
    def flush(): Unit = if (rows.nonEmpty) {
      try {
        val df = spark.createDataFrame(rows.asJava, Schema.add(LoggedAt, TimestampType))
          .coalesce(1)
        TableSink.appendStamped(
          df.select(Schema.fieldNames.map(col).toSeq :+
            TableSink.processDtOf(col(LoggedAt)): _*),
          ref.copy(name = TableName))
      } finally rows.clear()
    }
  }
}
