package graft.sink

import graft.TestSpark
import graft.api.{Export, ExportConfig, ExportFormat}
import org.apache.hadoop.fs.Path
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.graftbridge.{SessionBridge, TableFileBridge}
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}
import java.time.Instant
import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._

/** The driver-written audit flush against [[AuditSparkForm]], the Spark
  * write job it replaced: the same rows in the same table, read back. */
class AuditLogSpec extends AnyFunSuite {
  implicit lazy val spark: SparkSession = TestSpark.spark

  private type Logged = (String, String, Instant)

  /** An audit table ref for the flush under test and one for the oracle,
    * both dropped. */
  private def fresh(name: String): (TableRef, TableRef) = {
    val refs = (TableRef("aud", s"${name}_ours", "t"), TableRef("aud", s"${name}_oracle", "t"))
    Seq(refs._1, refs._2).foreach(r => spark.sql(s"DROP TABLE IF EXISTS ${table(r)}"))
    refs
  }

  private def table(ref: TableRef) = ref.copy(name = AuditLog.TableName).qualified

  private def flush(ref: TableRef, rows: Seq[Logged]): Unit = {
    val buffer = new AuditLog.Buffer(spark, ref, "tester")
    rows.foreach { case (a, i, at) => buffer.add(a, i, at) }
    val errors = buffer.flush()
    assert(errors.isEmpty, errors)
  }

  /** Each batch flushed through the buffer and appended by the oracle. */
  private def both(refs: (TableRef, TableRef), batches: Seq[Logged]*): Unit =
    batches.foreach { rows =>
      flush(refs._1, rows)
      AuditSparkForm.append(spark, refs._2, "tester", rows)
    }

  private def rows(ref: TableRef): Seq[Row] =
    spark.table(table(ref)).orderBy(TableSink.ProcessDtCol).collect().toSeq

  private def assertSame(refs: (TableRef, TableRef)): Unit = {
    val (ours, oracle) = (spark.table(table(refs._1)), spark.table(table(refs._2)))
    assert(ours.schema === oracle.schema)
    assert(rows(refs._1) === rows(refs._2))
  }

  private def location(ref: TableRef): Path =
    new Path(TableFileBridge.table(spark, ref.database, AuditLog.TableName).get.location)

  /** In-progress files (and their checksums) anywhere under the table. */
  private def inProgress(ref: TableRef): Seq[String] = {
    val walk = Files.walk(Paths.get(location(ref).toUri))
    try walk.iterator().asScala.map(_.getFileName.toString)
      .filter(n => n.startsWith("..part-") ||
        (n.startsWith(".part-") && !n.endsWith(".crc"))).toSeq
    finally walk.close()
  }

  private def partitions(ref: TableRef): Seq[String] =
    spark.sql(s"SHOW PARTITIONS ${table(ref)}").collect().map(_.getString(0)).toSeq

  // Asia/Shanghai midnight of 2026-03-02 is 2026-03-01T16:00:00Z.
  private val beforeMidnight = Instant.parse("2026-03-01T15:59:59.999998Z")
  private def at(micros: Long) = beforeMidnight.plusNanos(micros * 1000)

  test("a flush that straddles Asia/Shanghai midnight writes one file to " +
      "each of two partitions, with the rows of the Spark form") {
    val refs = fresh("midnight")
    both(refs, Seq(("Created temp directory", "/tmp/x", at(0)),
      ("Downloaded file", "a.csv", at(1)), ("File processed", "a.csv", at(2)),
      ("Ingest completed", "1 files", at(3))))
    assertSame(refs)
    assert(partitions(refs._1) === Seq("process_date=2026-03-01", "process_date=2026-03-02"))
    assert(partitions(refs._1) === partitions(refs._2))
    val files = spark.table(table(refs._1)).inputFiles.toSeq
    assert(files.map(f => new Path(f).getParent.getName).sorted ===
      Seq("process_date=2026-03-01", "process_date=2026-03-02"), files)
    assert(files.forall(f => new Path(f).getName.matches("part-00000-.*\\.c000\\.snappy\\.parquet")),
      files)
    // the file holds the columns Spark's writer puts in a partitioned file
    assert(spark.read.parquet(files.head).schema ===
      spark.read.parquet(spark.table(table(refs._2)).inputFiles.head).schema)
    assert(inProgress(refs._1).isEmpty)
  }

  test("null log_info, quotes, commas and non-ASCII text read back as the " +
      "Spark form writes them") {
    val refs = fresh("text")
    both(refs, Seq(("File processing failed", null, at(-100)),
      ("Downloaded file", "it's \"quoted\", with, commas", at(-99)),
      ("File processed", "données_日本語_ü.csv\nline two", at(-98))))
    assertSame(refs)
    assert(rows(refs._1).head.isNullAt(2))
  }

  test("read after write in one session: the next read lists a flush's " +
      "file after the table's listing was cached") {
    val refs = fresh("cached")
    both(refs, Seq(("Created temp directory", "/tmp/x", at(-10))))
    assert(spark.table(table(refs._1)).count() === 1)
    assert(spark.table(table(refs._1)).inputFiles.length === 1)
    both(refs, Seq(("Downloaded file", "a.csv", at(-9)), ("File processed", "a.csv", at(-8))),
      Seq(("Ingest completed", "1 files", at(5))))
    assert(spark.table(table(refs._1)).count() === 4)
    // one file per partition a flush touches: 1 + 1 + 1
    assert(spark.table(table(refs._1)).inputFiles.length === 3)
    assertSame(refs)
  }

  test("a pre-created unpartitioned audit table gets one file per flush") {
    val refs = fresh("flat")
    Seq(refs._1, refs._2).foreach { r =>
      TableSink.ensureDatabase(spark, r)
      spark.sql(s"CREATE TABLE ${table(r)} (task_owner STRING, job_action STRING, " +
        "log_info STRING, process_dt TIMESTAMP) USING parquet")
    }
    both(refs, Seq(("Downloaded file", "a.csv", at(0)), ("File processed", "a.csv", at(3))),
      Seq(("Ingest completed", "1 files", at(4))))
    assertSame(refs)
    assert(spark.table(table(refs._1)).inputFiles.length === 2)
  }

  test("a pre-created audit table with reordered columns is matched by name") {
    val refs = fresh("reordered")
    Seq(refs._1, refs._2).foreach { r =>
      TableSink.ensureDatabase(spark, r)
      spark.sql(s"CREATE TABLE ${table(r)} (log_info STRING, process_dt TIMESTAMP, " +
        "job_action STRING, task_owner STRING, process_date DATE) USING parquet " +
        "PARTITIONED BY (process_date)")
    }
    both(refs, Seq(("Downloaded file", "a.csv", at(0)), ("File processed", "a.csv", at(3))))
    assertSame(refs)
    assert(spark.table(table(refs._1)).columns.toSeq ===
      Seq("log_info", "process_dt", "job_action", "task_owner", "process_date"))
  }

  test("a failed flush reports audit log failed, leaves no in-progress file, " +
      "and the next flush works") {
    val (ref, _) = fresh("failed")
    TableSink.ensureDatabase(spark, ref)
    spark.sql(s"CREATE TABLE ${table(ref)} (task_owner STRING, job_action STRING, " +
      "log_info STRING, process_dt TIMESTAMP) USING csv")
    spark.range(2).createOrReplaceTempView("audit_failed_src")
    val dir = Files.createTempDirectory("audit_failed_")
    def runExport() = Export.execute(ExportConfig("tester", "SELECT * FROM audit_failed_src",
      dir.toString, "out.csv", format = ExportFormat.Csv, manifest = true, logTable = ref))
    val failed = runExport()
    assert(failed.rows === 2)
    assert(failed.errors.nonEmpty && failed.errors.forall(_.startsWith("audit log failed")),
      failed.errors)
    assert(inProgress(ref).isEmpty)
    spark.sql(s"DROP TABLE ${table(ref)}")
    val ok = runExport()
    assert(ok.ok, ok.errors)
    // the manifest row and the exported row land in one file
    assert(spark.table(table(ref)).orderBy("process_dt").select("job_action")
      .collect().map(_.getString(0)).toSeq === Seq("Exported manifest", "Exported file"))
    assert(spark.table(table(ref)).inputFiles.length === 1)
  }

  test("a flush that fails after staging a file removes it and registers " +
      "no partition") {
    val (ref, _) = fresh("staged")
    flush(ref, Seq(("Created temp directory", "/tmp/x", at(-5))))
    // A plain file where the next day's partition directory would go: the
    // first day's file is staged, the second day's write fails.
    val blocker = new Path(location(ref), "process_date=2026-03-02")
    val fs = blocker.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.create(blocker).close()
    val buffer = new AuditLog.Buffer(spark, ref, "tester")
    buffer.add("Downloaded file", "a.csv", at(-4))
    buffer.add("Ingest completed", "1 files", at(4))
    val errors = buffer.flush()
    assert(errors.size === 2 && errors.forall(_.startsWith("audit log failed")), errors)
    assert(inProgress(ref).isEmpty)
    assert(partitions(ref) === Seq("process_date=2026-03-01"))
    assert(spark.table(table(ref)).count() === 1)
    fs.delete(blocker, false)
    flush(ref, Seq(("Ingest completed", "1 files", at(5))))
    assert(spark.table(table(ref)).count() === 2)
    assert(partitions(ref) === Seq("process_date=2026-03-01", "process_date=2026-03-02"))
  }

  test("a flush starts no Spark job, whether it creates the table or not") {
    val (ref, _) = fresh("nojob")
    val sc = spark.sparkContext
    val jobs = new AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    SessionBridge.waitUntilEmpty(sc)
    sc.addSparkListener(listener)
    try {
      flush(ref, Seq(("Created temp directory", "/tmp/x", at(-1)), ("Ingest completed", "0 files", at(1))))
      flush(ref, Seq(("Ingest completed", "0 files", at(2))))
      SessionBridge.waitUntilEmpty(sc)
    } finally sc.removeSparkListener(listener)
    assert(jobs.get === 0)
    assert(spark.table(table(ref)).count() === 3)
  }
}
