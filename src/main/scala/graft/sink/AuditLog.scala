package graft.sink

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.catalog.CatalogTable
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{DateFormatter, DateTimeUtils}
import org.apache.spark.sql.graftbridge.TableFileBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.slf4j.LoggerFactory
import java.time.Instant
import java.time.temporal.ChronoUnit
import java.util.UUID
import scala.collection.mutable.ListBuffer
import scala.util.Try
import scala.util.control.NonFatal

/** Audit-log sink (reference: box_ingest.py:13-20, box_export.py:10-17).
  *
  * The reference INSERTs one row per pipeline action into
  * `box_ingestion_log(task_owner, job_action, log_info, process_dt)` via an
  * f-string SQL INSERT — injectable by any file name containing a quote
  * (box_ingest.py:15-17). Here rows are parameterized values: same table,
  * same columns, no SQL text. A [[AuditLog.Buffer]] holds rows on the
  * driver; each row keeps the instant it was logged as its `process_dt`,
  * so `ORDER BY process_dt` gives the order the rows were logged in.
  *
  * A flush runs no Spark job. The driver writes the held rows itself, one
  * parquet file per `process_date` partition they fall in, through the
  * writer Spark's own parquet writes use. Durability contract: a flush's
  * rows are visible when it returns. Each file is written under a
  * dot-prefixed name, which file listing skips; its partition is then
  * registered, and only then is the file renamed into place. A crash
  * mid-flush leaves at most a registered partition without the new file
  * and an invisible in-progress file, never a half-written visible file
  * or published rows in an unregistered partition. Each file appears
  * whole in one rename; a flush that spans two partitions (only across
  * Asia/Shanghai midnight) renames its two files one after the other,
  * after both are written and registered.
  */
object AuditLog {

  val TableName = "box_ingestion_log"

  private val log = LoggerFactory.getLogger(getClass)

  val Schema: StructType = StructType(Seq(
    StructField("task_owner", StringType),
    StructField("job_action", StringType),
    StructField("log_info", StringType)))

  /** The data columns a table must hold, matched by lower-cased name. */
  private val Columns: Map[String, DataType] =
    (Schema.fields.map(f => f.name -> f.dataType) :+
      (TableSink.ProcessDtCol -> TimestampType)).toMap

  /** Audit rows of one owner, held until [[flush]]. */
  final class Buffer(spark: SparkSession, ref: TableRef, owner: String) {
    /** (job_action, log_info, logged-at microseconds since the epoch) */
    private val rows = ListBuffer.empty[(String, String, Long)]
    private var last = Instant.EPOCH

    def add(action: String, info: String): Unit = add(action, info, Instant.now())

    /** [[add]] of an action that happened at `at`. */
    private[sink] def add(action: String, info: String, at: Instant): Unit = {
      // Mirrors the reference's logging.info + print side channel
      // (box_ingest.py:19-20) on slf4j, at the moment of the action.
      log.info(s"$action: $info")
      // Strictly increasing at the table's microsecond precision, so two
      // rows logged within one tick still sort in the order logged.
      val now = at.truncatedTo(ChronoUnit.MICROS)
      last = if (now.isAfter(last)) now else last.plus(1, ChronoUnit.MICROS)
      rows += ((action, info, DateTimeUtils.instantToMicros(last)))
    }

    /** Writes every held row, one file per partition they fall in, and
      * returns one `audit log failed` error per row a failed write lost.
      * The rows are dropped whether the write succeeds or fails. */
    def flush(): Seq[String] = if (rows.isEmpty) Nil else {
      val held = rows.toList
      rows.clear()
      try { write(spark, ref.copy(name = TableName), owner, held); Nil }
      catch { case NonFatal(e) => held.map(_ => s"audit log failed: ${e.getMessage}") }
    }
  }

  /** The audit table, created partitioned by `process_date` if missing.
    * A pre-created table may order its columns freely and may be
    * unpartitioned; it must be parquet and hold exactly the audit
    * columns, as an append by name requires. */
  private def auditTable(spark: SparkSession, ref: TableRef): CatalogTable = {
    val t = TableFileBridge.table(spark, ref.database, ref.name).getOrElse {
      TableSink.ensureDatabase(spark, ref)
      spark.sql(s"CREATE TABLE IF NOT EXISTS ${ref.qualified} (task_owner STRING, " +
        s"job_action STRING, log_info STRING, ${TableSink.ProcessDtCol} TIMESTAMP_LTZ, " +
        s"${TableSink.DateCol} DATE) USING parquet PARTITIONED BY (${TableSink.DateCol})")
      TableFileBridge.table(spark, ref.database, ref.name).get
    }
    def check(ok: Boolean, why: => String): Unit =
      if (!ok) throw new IllegalStateException(s"audit table ${ref.qualified}: $why")
    check(t.provider.exists(_.equalsIgnoreCase("parquet")),
      s"provider ${t.provider.getOrElse("none")} is not parquet")
    check(t.partitionColumnNames.forall(_.equalsIgnoreCase(TableSink.DateCol)) &&
      t.partitionSchema.forall(f => f.dataType == DateType || f.dataType == StringType),
      s"partitioned by ${t.partitionSchema.simpleString}, not a date ${TableSink.DateCol}")
    check(t.dataSchema.map(f => f.name.toLowerCase -> f.dataType).toMap == Columns,
      s"columns ${t.dataSchema.simpleString} are not the audit columns")
    t
  }

  private def write(spark: SparkSession, ref: TableRef, owner: String,
      held: Seq[(String, String, Long)]): Unit = {
    val t = auditTable(spark, ref)
    val zone = DateTimeUtils.getZoneId(spark.conf.get("spark.sql.session.timeZone"))
    // process_dt as from_utc_timestamp(logged_at, 'Asia/Shanghai'), and its
    // partition as to_date(process_dt) in the session time zone.
    val stamped = held.map { case (action, info, at) =>
      (action, info, DateTimeUtils.fromUTCTime(at, "Asia/Shanghai")) }
    val groups: Seq[(Option[Map[String, String]], Seq[(String, String, Long)])] =
      t.partitionColumnNames.headOption match {
        case None => Seq(None -> stamped)
        case Some(dateCol) =>
          val fmt = DateFormatter()
          stamped.groupBy(r => DateTimeUtils.microsToDays(r._3, zone)).toSeq.sortBy(_._1)
            .map { case (day, rs) => Some(Map(dateCol -> fmt.format(day))) -> rs }
      }
    val ownerStr = UTF8String.fromString(owner)
    def row(r: (String, String, Long)): InternalRow = new GenericInternalRow(
      t.dataSchema.fieldNames.map(_.toLowerCase match {
        case "task_owner" => ownerStr
        case "job_action" => UTF8String.fromString(r._1)
        case "log_info" => UTF8String.fromString(r._2)
        case _ => r._3
      }))

    val root = new Path(t.location)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val name = s"part-00000-${UUID.randomUUID()}.c000"
    val pending = ListBuffer.empty[Path]
    var published = false
    try {
      val staged = groups.map { case (spec, rs) =>
        val dir = spec.fold(root)(TableFileBridge.partitionDir(spark, t, _))
        val file = TableFileBridge.writeParquet(spark, t, dir, "." + name, rs.iterator.map(row))
        pending += file
        (spec, dir, file)
      }
      staged.foreach { case (spec, dir, _) =>
        spec.foreach(TableFileBridge.registerPartition(spark, t, _, dir)) }
      staged.foreach { case (_, dir, file) =>
        val target = new Path(dir, file.getName.stripPrefix("."))
        if (!fs.rename(file, target))
          throw new java.io.IOException(s"could not publish $target")
        pending -= file
        published = true
      }
    } finally {
      pending.foreach(f => Try(fs.delete(f, false)))
      if (published) TableFileBridge.refresh(spark, t)
    }
  }
}
