package graft.api

import graft.TestSpark
import graft.io.Xlsx
import graft.schema.TableMeta
import graft.sink.TableRef
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files
import java.util.zip.{ZipEntry, ZipOutputStream}
import scala.jdk.CollectionConverters._

class IngestExportSpec extends AnyFunSuite {
  implicit lazy val spark: org.apache.spark.sql.SparkSession = TestSpark.spark

  private val meta = TableMeta.fromMetadata(
    Seq("id" -> "int", "amount" -> "float", "note" -> "string"),
    nonNullableFields = Seq("id"))

  private def freshRef(name: String) = {
    val ref = TableRef("t", "est", name)
    Seq(ref.qualified, ref.errorSibling.qualified,
        s"${ref.database}.box_ingestion_log").foreach(t =>
      spark.sql(s"DROP TABLE IF EXISTS $t"))
    ref
  }

  test("ingest csv: validate path fills main, _error, and audit tables") {
    val dir = Files.createTempDirectory("ing_")
    Files.writeString(dir.resolve("data_1.csv"),
      "id,amount,note\n1,2.5,ok\n,3.0,missing-id\n2,bad,bad-amount\n3,,null-amount-ok\n")
    Files.writeString(dir.resolve("skipme.txt"), "nope")
    val ref = freshRef("v1")
    val report = Ingest.execute(IngestConfig(
      "tester", ref, dir.toString, "data_.*\\.csv",
      metadata = Some(meta), justCopy = false))
    assert(report.ok, report.errors.mkString("; "))
    assert(report.processedFiles === Seq("data_1.csv"))
    assert(report.validRows === 2 && report.invalidRows === 2)

    val main = spark.table(ref.qualified)
    assert(main.columns.toSeq === Seq("id", "amount", "note", "process_dt", "process_date"))
    assert(main.count() === 2)
    val errs = spark.table(ref.errorSibling.qualified)
      .select("error_type").collect().map(_.getString(0)).sorted
    assert(errs === Array(
      "Null value in non-nullable column: id",
      "Type mismatch for column: amount"))
    val log = spark.table(s"${ref.database}.box_ingestion_log")
    assert(log.count() >= 3) // temp dir + download + processed + completed
  }

  /** (action, files, valid, invalid) of the run's one completion row
    * in the audit log. */
  private def completionRow(ref: TableRef): (String, Long, Long, Long) = {
    val rows = spark.table(s"${ref.database}.box_ingestion_log")
      .where("job_action LIKE 'Ingest completed%'")
      .select("job_action", "log_info").collect()
    assert(rows.length === 1, rows.mkString("; "))
    val Counts = """(\d+) files, (\d+) valid, (\d+) invalid rows""".r
    rows.head.getString(1) match {
      case Counts(f, v, i) => (rows.head.getString(0), f.toLong, v.toLong, i.toLong)
      case other => fail(s"unparseable completion row: $other")
    }
  }

  test("ingest report agrees with the audit log: validate mode with " +
      "planted invalid rows") {
    val dir = Files.createTempDirectory("ing_agree_")
    Files.writeString(dir.resolve("data_1.csv"),
      "id,amount,note\n1,2.5,ok\n,3.0,missing-id\n2,bad,bad-amount\n3,,ok\n")
    Files.writeString(dir.resolve("data_2.csv"),
      "id,amount,note\n4,1.0,ok\n5,2.0,ok\nx,1.0,bad-id\n6,3.0,ok\n")
    val ref = freshRef("agree1")
    val report = Ingest.execute(IngestConfig(
      "tester", ref, dir.toString, "data_.*\\.csv",
      metadata = Some(meta), justCopy = false))
    assert(report.ok, report.errors.mkString("; "))
    assert((report.processedFiles.size, report.validRows, report.invalidRows)
      === ((2, 5L, 3L)))
    assert(completionRow(ref) === (("Ingest completed",
      report.processedFiles.size.toLong, report.validRows, report.invalidRows)))
  }

  test("ingest report agrees with the audit log: one unreadable file") {
    val dir = Files.createTempDirectory("ing_agree_bad_")
    Files.writeString(dir.resolve("data_1.csv"),
      "id,amount,note\n1,2.5,ok\n,3.0,missing-id\n")
    Files.write(dir.resolve("data_2.xlsx"), "not a workbook".getBytes)
    val ref = freshRef("agree2")
    val report = Ingest.execute(IngestConfig(
      "tester", ref, dir.toString, "data_.*",
      metadata = Some(meta), justCopy = false))
    assert(!report.ok && report.errors.exists(_.contains("data_2.xlsx")),
      report.errors.mkString("; "))
    assert(report.processedFiles === Seq("data_1.csv"))
    assert((report.validRows, report.invalidRows) === ((1L, 1L)))
    assert(completionRow(ref) === (("Ingest completed with errors",
      report.processedFiles.size.toLong, report.validRows, report.invalidRows)))
  }

  test("ingest report counts follow the writes: a failed _error append " +
      "keeps the rows the main append landed") {
    val dir = Files.createTempDirectory("ing_errside_")
    Files.writeString(dir.resolve("data_1.csv"),
      "id,amount,note\n1,2.5,ok\n,3.0,missing-id\n2,1.0,ok\n")
    val ref = freshRef("errside")
    // An _error table whose schema no split frame fits: its append fails
    // after the main append has landed.
    spark.sql(s"CREATE DATABASE IF NOT EXISTS `${ref.database}`")
    spark.sql(s"CREATE TABLE ${ref.errorSibling.qualified} (x INT) USING parquet")
    val report = Ingest.execute(IngestConfig(
      "tester", ref, dir.toString, "data_.*\\.csv",
      metadata = Some(meta), justCopy = false))
    assert(report.errors.exists(_.contains("data_1.csv")), report.errors.mkString("; "))
    assert(spark.table(ref.qualified).count() === report.validRows)
    assert(report.validRows === 2L)
    assert(completionRow(ref) === (("Ingest completed with errors",
      report.processedFiles.size.toLong, report.validRows, report.invalidRows)))
  }

  test("ingest a header-only csv: both observed counts read 0") {
    val dir = Files.createTempDirectory("ing_empty_")
    Files.writeString(dir.resolve("data_1.csv"), "id,amount,note\n")
    val ref = freshRef("empty")
    val report = Ingest.execute(IngestConfig(
      "tester", ref, dir.toString, "data_.*\\.csv",
      metadata = Some(meta), justCopy = false))
    assert(report.ok, report.errors.mkString("; "))
    assert((report.processedFiles, report.validRows, report.invalidRows)
      === ((Seq("data_1.csv"), 0L, 0L)))
  }

  /** `body`'s result and the call site of every job it starts: its SQL
    * execution's description (jobs run on a pool thread carry no user
    * frame in their stages'), else its result stage's name. */
  private def jobSites[T](body: => T): (T, Seq[String]) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
    import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
    val sc = spark.sparkContext
    val execSites = scala.collection.concurrent.TrieMap.empty[Long, String]
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[(String, Option[Long])]()
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart => execSites(s.executionId) = s.description
        case _ =>
      }
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.add((e.stageInfos.maxBy(_.stageId).name, Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.sql.execution.id"))).map(_.toLong)))
    }
    sc.addSparkListener(listener)
    val result = try {
      val r = body
      org.apache.spark.sql.graftbridge.SessionBridge.waitUntilEmpty(sc)
      r
    } finally sc.removeSparkListener(listener)
    (result, jobs.asScala.toSeq.map { case (stage, exec) =>
      exec.flatMap(execSites.get).getOrElse(stage) })
  }

  test("ingest job budget: each file runs only its read, append and audit " +
      "jobs; audit rows keep their call order") {
    val dir = Files.createTempDirectory("ing_budget_")
    Files.writeString(dir.resolve("data_1.csv"),
      "id,amount,note\n1,2.5,ok\n,3.0,missing-id\n2,1.0,ok\n")
    Files.writeString(dir.resolve("data_2.csv"),
      "id,amount,note\n3,1.0,ok\nx,1.0,bad-id\n")
    val ref = freshRef("budget")
    val conf = IngestConfig("tester", ref, dir.toString, "data_.*\\.csv",
      metadata = Some(meta), justCopy = false)
    val (first, sites) = jobSites(Ingest.execute(conf))
    assert(first.ok, first.errors.mkString("; "))
    assert((first.validRows, first.invalidRows) === ((3L, 2L)))
    assert(!sites.exists(_.startsWith("count")), sites.mkString("; "))
    // 2 files x (header + inference read), then one batch: the main
    // append and the _error append. The audit flushes run no job.
    assert(sites.size <= 6, sites.mkString("; "))

    val log = s"${ref.database}.box_ingestion_log"
    assert(spark.table(log).orderBy("process_dt").select("job_action")
      .collect().map(_.getString(0)).toSeq === Seq(
        "Created temp directory", "Downloaded file", "Downloaded file",
        "File processed", "File processed", "Ingest completed"))

    // A second run appends to the tables the first created: the report
    // carries exactly the rows each table gained.
    def counts = (spark.table(ref.qualified).count(),
      spark.table(ref.errorSibling.qualified).count())
    val (main0, err0) = counts
    val second = Ingest.execute(conf)
    assert(second.ok, second.errors.mkString("; "))
    val (main1, err1) = counts
    assert((second.validRows, second.invalidRows) === ((main1 - main0, err1 - err0)))
    assert((second.validRows, second.invalidRows) === ((3L, 2L)))
  }

  test("ingest batch failure: a failed main append fails every file of its " +
      "batch and skips the batch's _error append") {
    val dir = Files.createTempDirectory("ing_batchfail_")
    Files.writeString(dir.resolve("data_1.csv"), "id,amount,note\n1,2.5,ok\n,3.0,missing-id\n")
    Files.writeString(dir.resolve("data_2.csv"), "id,amount,note\n2,1.0,ok\n")
    val ref = freshRef("batchfail")
    // A main table whose schema no split frame fits.
    spark.sql(s"CREATE DATABASE IF NOT EXISTS `${ref.database}`")
    spark.sql(s"CREATE TABLE ${ref.qualified} (x INT) USING parquet")
    val report = Ingest.execute(IngestConfig(
      "tester", ref, dir.toString, "data_.*\\.csv",
      metadata = Some(meta), justCopy = false))
    assert(Seq("data_1.csv", "data_2.csv").forall(f =>
      report.errors.exists(_.startsWith(s"process $f: "))), report.errors.mkString("; "))
    assert((report.processedFiles, report.validRows, report.invalidRows) === ((Nil, 0L, 0L)))
    assert(!spark.catalog.tableExists(ref.errorSibling.qualified))
    assert(spark.table(ref.qualified).count() === 0L)
    val failed = spark.table(s"${ref.database}.box_ingestion_log")
      .where("job_action = 'File processing failed'").count()
    assert(failed === 2L)
    assert(completionRow(ref) === (("Ingest completed with errors",
      report.processedFiles.size.toLong, report.validRows, report.invalidRows)))
  }

  test("ingest batch with one bad copy-mode file: only that file fails, " +
      "the others land once") {
    val dir = Files.createTempDirectory("ing_onebad_")
    Files.writeString(dir.resolve("data_1.csv"), "id,amount,note\n1,2.5,ok\n2,1.0,ok\n")
    Files.writeString(dir.resolve("data_2.csv"), "id,amount,note\n3,1.0,ok\nbad,1.0,bad-id\n")
    Files.writeString(dir.resolve("data_3.csv"), "id,amount,note\n4,4.0,ok\n")
    val ref = freshRef("onebad")
    spark.sql(s"CREATE DATABASE IF NOT EXISTS `${ref.database}`")
    spark.sql(s"""CREATE TABLE ${ref.qualified}
      (id BIGINT, amount DOUBLE, note STRING, process_dt TIMESTAMP) USING parquet""")
    val report = Ingest.execute(IngestConfig("tester", ref, dir.toString, "data_.*\\.csv"))
    assert(report.errors.size === 1 && report.errors.head.startsWith("process data_2.csv: "),
      report.errors.mkString("; "))
    assert((report.processedFiles.toSet, report.validRows, report.invalidRows) ===
      ((Set("data_1.csv", "data_3.csv"), 3L, 0L)))
    assert(spark.table(ref.qualified).select("id").collect().map(_.getLong(0)).sorted ===
      Array(1L, 2L, 4L))
    val actions = spark.table(s"${ref.database}.box_ingestion_log")
      .groupBy("job_action").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert((actions("File processed"), actions("File processing failed")) === ((2L, 1L)))
    assert(completionRow(ref) === (("Ingest completed with errors",
      report.processedFiles.size.toLong, report.validRows, report.invalidRows)))
  }

  test("ingest batch with a page that fails at write time: only that file " +
      "fails, the new tables hold the others") {
    val dir = Files.createTempDirectory("ing_badpage_")
    Files.writeString(dir.resolve("data_1.csv"), "id,amount,note\n1,2.5,ok\n,3.0,missing-id\n")
    // A parquet file whose footer reads but whose first page header is
    // zeroed: the read plans, and fails only when the append runs it.
    val pq = Files.createTempDirectory("ing_badpage_pq_").resolve("out")
    spark.range(3).selectExpr("cast(id as int) id", "1.5 amount", "'pq' note")
      .coalesce(1).write.parquet(pq.toString)
    val listing = Files.list(pq)
    val part = try listing.iterator().asScala.find(_.toString.endsWith(".parquet")).get
      finally listing.close()
    val bytes = Files.readAllBytes(part)
    java.util.Arrays.fill(bytes, 4, 36, 0.toByte)
    Files.write(dir.resolve("data_2.parquet"), bytes)
    val ref = freshRef("badpage")
    val report = Ingest.execute(IngestConfig(
      "tester", ref, dir.toString, "data_.*", metadata = Some(meta), justCopy = false))
    assert(report.errors.size === 1 && report.errors.head.startsWith("process data_2.parquet: "),
      report.errors.mkString("; "))
    assert((report.processedFiles, report.validRows, report.invalidRows) ===
      ((Seq("data_1.csv"), 1L, 1L)))
    assert(spark.table(ref.qualified).count() === 1L)
    assert(spark.table(ref.errorSibling.qualified).count() === 1L)
    assert(completionRow(ref) === (("Ingest completed with errors",
      report.processedFiles.size.toLong, report.validRows, report.invalidRows)))
  }

  /** A folder of every leaf kind the reader handles, with more leaf files
    * than the test session's cores so that a folder run writes at least
    * two batches: name → bytes. */
  private def mixedFolder(): Seq[(String, Array[Byte])] = {
    def utf8(s: String) = s.getBytes("UTF-8")
    val zip = new java.io.ByteArrayOutputStream()
    val z = new ZipOutputStream(zip)
    Seq("z_inner_1.csv" -> "id,amount,note\n30,3.5,zipped\nbad,1.0,bad-id\n",
        "z_inner_2.csv" -> "id,amount,note\n31,4.5,zipped-too\n").foreach { case (n, c) =>
      z.putNextEntry(new ZipEntry(n)); z.write(utf8(c)); z.closeEntry()
    }
    z.close()
    val tgz = new java.io.ByteArrayOutputStream()
    val gz = new java.util.zip.GZIPOutputStream(tgz)
    graft.io.Tar.write(gz, Seq(
      "t_inner_1.csv" -> utf8("id,amount,note\n40,1.0,tarred\n,2.0,no-id\n"),
      "t_inner_2.csv" -> utf8("id,amount,note\n41,2.0,tarred-too\n")))
    gz.close()
    val xlsx = new java.io.ByteArrayOutputStream()
    Xlsx.write(xlsx, "data", Seq("id", "amount", "note"),
      Iterator(Seq("50", "5.25", "sheet"), Seq("51", "oops", "bad-amount")))
    Seq(
      "a_quoted.csv" -> utf8("id,amount,note\n1,1.5,\"two\nlines\"\n2,,ok\n,9.0,no-id\n"),
      "b_lines.json" -> utf8("{\"id\":10,\"amount\":1.0,\"note\":\"jl\"}\n" +
        "{\"id\":null,\"amount\":2.0,\"note\":\"null-id\"}\n"),
      "c_array.json" -> utf8("""[{"id": 11, "amount": 3.0, "note": "arr"},
        |{"id": 12, "amount": 4.0, "note": "arr2"}]""".stripMargin),
      "d_columns.json" -> utf8("""{"id": {"0": 13, "1": 14},
        |"amount": {"0": 5.0, "1": 6.0}, "note": {"0": "col", "1": "col2"}}""".stripMargin),
      "e_bundle.zip" -> zip.toByteArray,
      "f_bundle.tgz" -> tgz.toByteArray,
      "g_book.xlsx" -> xlsx.toByteArray,
      "h_drift.csv" -> utf8(" ID ,Amount, NOTE \n60,6.0,drift\n61,x,bad-amount\n"),
      "i_broken.xlsx" -> utf8("not a workbook"),
      "j_notes.txt" -> utf8("skipped"))
  }

  /** Rows of `table` without the append's timestamp columns, as a
    * multiset; an absent table holds none. */
  private def rowBag(table: String, cols: String*): Map[String, Int] =
    if (!spark.catalog.tableExists(table)) Map.empty
    else {
      val df = spark.table(table)
      val keep = if (cols.nonEmpty) cols
        else df.columns.toSeq.filterNot(Set("process_dt", "process_date"))
      df.selectExpr(keep.map(c => s"`$c`"): _*).collect().toSeq
        .map(_.toSeq.mkString("\u0001")).groupBy(identity).map { case (k, v) => k -> v.size }
    }

  private def sumBags(bags: Seq[Map[String, Int]]): Map[String, Int] =
    bags.flatten.groupBy(_._1).map { case (k, v) => k -> v.map(_._2).sum }

  /** The files a run's errors name. */
  private def failedFiles(r: IngestReport): Set[String] =
    r.errors.map(_.stripPrefix("process ").takeWhile(_ != ':')).toSet

  /** Ingests the mixed folder once and each of its files alone (batches
    * of one file), and checks the folder run against the union of the
    * single-file runs; the files named by `failed` fail in both.
    * `prepare` sets up a run's fresh tables. */
  private def folderEqualsSingles(tag: String, justCopy: Boolean, failed: Set[String])(
      prepare: TableRef => Unit): Unit = {
    val files = mixedFolder()
    def run(name: String, content: Seq[(String, Array[Byte])]) = {
      val dir = Files.createTempDirectory(s"ing_${name}_")
      content.foreach { case (n, b) => Files.write(dir.resolve(n), b) }
      val ref = freshRef(name)
      prepare(ref)
      ref -> Ingest.execute(IngestConfig("tester", ref, dir.toString,
        ".*\\.(csv|json|zip|tgz|xlsx|txt)", metadata = Some(meta), justCopy = justCopy,
        sourceFileCol = Some("_src")))
    }
    // The runs share one audit table, which each run's fresh tables drop:
    // the folder runs last so that its audit rows stay.
    val singles = files.zipWithIndex.map { case (f, i) => run(s"${tag}_one$i", Seq(f)) }
    val (ref, folder) = run(s"${tag}_all", files)
    // Every leaf but the unreadable one reaches a batch.
    assert(folder.processedFiles.size + (failed - "i_broken.xlsx").size >
      spark.sparkContext.defaultParallelism, "the folder run must write more than one batch")

    assert(rowBag(ref.qualified) ===
      sumBags(singles.map { case (r, _) => rowBag(r.qualified) }))
    assert(rowBag(ref.errorSibling.qualified, "record", "error_type") ===
      sumBags(singles.map { case (r, _) => rowBag(r.errorSibling.qualified, "record", "error_type") }))
    assert(folder.processedFiles.toSet === singles.flatMap(_._2.processedFiles).toSet)
    assert(folder.processedFiles.size === singles.map(_._2.processedFiles.size).sum)
    assert((folder.validRows, folder.invalidRows) ===
      ((singles.map(_._2.validRows).sum, singles.map(_._2.invalidRows).sum)))
    assert(folder.errors.size === failed.size && failedFiles(folder) === failed,
      folder.errors.mkString("; "))
    assert(singles.map(r => failedFiles(r._2)).reduce(_ ++ _) === failed)
    val auditLog = spark.table(s"${ref.database}.box_ingestion_log")
    val processedRows = auditLog.where("job_action = 'File processed'").select("log_info")
      .collect().map(_.getString(0)).toSeq
    assert(processedRows.sorted === folder.processedFiles.sorted)
    assert(auditLog.where("job_action = 'File processing failed'").count() === failed.size.toLong)
    assert(completionRow(ref) === (("Ingest completed with errors",
      folder.processedFiles.size.toLong, folder.validRows, folder.invalidRows)))
  }

  test("ingest folder equals its per-file ingests: validate mode, two batches") {
    folderEqualsSingles("fold_v", justCopy = false, Set("i_broken.xlsx"))(_ => ())
  }

  test("ingest folder equals its per-file ingests: copy mode, two batches") {
    // The files with a planted id or amount that the typed target cannot
    // hold fail their cast, in the folder run as alone.
    folderEqualsSingles("fold_c", justCopy = true,
        Set("i_broken.xlsx", "z_inner_1.csv", "g_book.xlsx", "h_drift.csv")) { ref =>
      spark.sql(s"CREATE DATABASE IF NOT EXISTS ${ref.database}")
      spark.sql(s"""CREATE TABLE ${ref.qualified}
        (id BIGINT, amount DOUBLE, note STRING, _src STRING, process_dt TIMESTAMP)
        USING parquet""")
    }
  }

  test("ingest provenance: rows carry their source file; zip members use inner names") {
    val dir = Files.createTempDirectory("ing_prov_")
    Files.writeString(dir.resolve("plain.csv"), "id,amount,note\n1,1.0,a\n")
    val zipPath = dir.resolve("batch.zip")
    val zos = new ZipOutputStream(Files.newOutputStream(zipPath))
    zos.putNextEntry(new ZipEntry("inner_a.csv"))
    zos.write("id,amount,note\n2,2.0,b\n,9.9,bad-row\n".getBytes)
    zos.closeEntry()
    zos.putNextEntry(new ZipEntry("inner_b.csv"))
    zos.write("id,amount,note\n3,3.0,c\n".getBytes)
    zos.closeEntry()
    zos.close()
    val ref = freshRef("prov1")
    val report = Ingest.execute(IngestConfig(
      "tester", ref, dir.toString, ".*\\.(csv|zip)",
      metadata = Some(meta), justCopy = false,
      sourceFileCol = Some("_src_file")))
    assert(report.ok, report.errors.mkString("; "))
    val got = spark.table(ref.qualified)
      .select("id", "_src_file").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got === Map(
      1L -> "plain.csv", 2L -> "inner_a.csv", 3L -> "inner_b.csv"))
    // the _error sibling carries lineage too
    val errSrc = spark.table(ref.errorSibling.qualified)
      .select("_src_file").collect().map(_.getString(0)).toSeq
    assert(errSrc === Seq("inner_a.csv"))
  }

  test("ingest zip: recursive extraction processes csv and json inside") {
    val dir = Files.createTempDirectory("ingz_")
    val zip = dir.resolve("bundle_1.zip")
    val z = new ZipOutputStream(Files.newOutputStream(zip))
    z.putNextEntry(new ZipEntry("a.csv"))
    z.write("id,amount,note\n10,1.0,from-csv\n".getBytes); z.closeEntry()
    z.putNextEntry(new ZipEntry("nested/b.json"))
    z.write("""[{"id": 11, "amount": 2.0, "note": "from-json"}]""".getBytes)
    z.closeEntry(); z.close()
    val ref = freshRef("vzip")
    val report = Ingest.execute(IngestConfig(
      "tester", ref, dir.toString, "bundle_.*\\.zip",
      metadata = Some(meta), justCopy = false))
    assert(report.ok, report.errors.mkString("; "))
    assert(report.validRows === 2)
    val notes = spark.table(ref.qualified).select("note")
      .collect().map(_.getString(0)).sorted
    assert(notes === Array("from-csv", "from-json"))
  }

  test("ingest xlsx: sheet selection + skipRows through the real reader") {
    val dir = Files.createTempDirectory("ingx_")
    val out = Files.newOutputStream(dir.resolve("book_1.xlsx"))
    Xlsx.write(out, "data", Seq("junk1"),
      Iterator(Seq("junk2"), Seq("id"), Seq("junk-should-not-appear")))
    out.close()
    // two leading junk rows then header-only content: use a realistic one
    val out2 = Files.newOutputStream(dir.resolve("book_2.xlsx"))
    Xlsx.write(out2, "data", Seq("skip this", null),
      Iterator(Seq("ID", "Amount"), Seq("5", "1.25"), Seq("6", "2.5")))
    out2.close()
    val ref = freshRef("vxlsx")
    val report = Ingest.execute(IngestConfig(
      "tester", ref, dir.toString, "book_2\\.xlsx",
      sheetName = Some("data"), skipRows = 1,
      metadata = Some(TableMeta.fromMetadata(
        Seq("id" -> "int", "amount" -> "float"), Seq("id"))),
      justCopy = false))
    assert(report.ok, report.errors.mkString("; "))
    assert(report.validRows === 2 && report.invalidRows === 0)
    assert(spark.table(ref.qualified).select("id")
      .collect().map(_.getLong(0)).sorted === Array(5L, 6L))
  }

  test("ingest copy mode conforms to existing target schema") {
    val ref = freshRef("vcopy")
    spark.sql(s"CREATE DATABASE IF NOT EXISTS ${ref.database}")
    spark.sql(s"""CREATE TABLE ${ref.qualified}
      (id BIGINT, amount DOUBLE, note STRING, process_dt TIMESTAMP)
      USING parquet""")
    val dir = Files.createTempDirectory("ingc_")
    // extra column dropped, missing column -> NULL, case-insensitive match
    Files.writeString(dir.resolve("copy_1.csv"),
      "ID,extra,AMOUNT\n7,zzz,1.5\n8,zzz,2.5\n")
    val report = Ingest.execute(IngestConfig(
      "tester", ref, dir.toString, "copy_.*\\.csv", justCopy = true))
    assert(report.ok, report.errors.mkString("; "))
    val rows = spark.table(ref.qualified).orderBy("id").collect()
    assert(rows.map(_.getLong(0)).toSeq === Seq(7L, 8L))
    assert(rows.forall(_.isNullAt(2))) // note absent from file -> NULL
  }

  test("ingest latest=true picks newest matching file; delete removes source") {
    val dir = Files.createTempDirectory("ingl_")
    val f1 = dir.resolve("feed_1.csv"); Files.writeString(f1, "id,amount,note\n1,1.0,old\n")
    val f2 = dir.resolve("feed_2.csv"); Files.writeString(f2, "id,amount,note\n2,2.0,new\n")
    Files.setLastModifiedTime(f1, java.nio.file.attribute.FileTime.fromMillis(1000))
    Files.setLastModifiedTime(f2, java.nio.file.attribute.FileTime.fromMillis(2000))
    val ref = freshRef("vlatest")
    val report = Ingest.execute(IngestConfig(
      "tester", ref, dir.toString, "feed_.*\\.csv",
      metadata = Some(meta), justCopy = false, latest = true, delete = true))
    assert(report.ok, report.errors.mkString("; "))
    assert(report.processedFiles === Seq("feed_2.csv"))
    assert(Files.exists(f1) && !Files.exists(f2)) // only the ingested one deleted
  }

  test("ingest via HadoopStore: same pipeline, Hadoop FileSystem source") {
    // The reference's source is a REMOTE object folder (box_ingest.py:37-83);
    // HadoopStore is the cluster-real second impl (s3a/abfs/hdfs URIs all
    // resolve through the same API). The whole validate path plus latest
    // selection and post-ingest delete must run unchanged against it.
    val dir = Files.createTempDirectory("ingh_")
    val f1 = dir.resolve("h_1.csv"); Files.writeString(f1, "id,amount,note\n1,1.0,old\n")
    val f2 = dir.resolve("h_2.csv")
    Files.writeString(f2, "id,amount,note\n2,2.0,new\n,9.9,bad-row\n")
    Files.setLastModifiedTime(f1, java.nio.file.attribute.FileTime.fromMillis(1000))
    Files.setLastModifiedTime(f2, java.nio.file.attribute.FileTime.fromMillis(2000))
    val ref = freshRef("vhadoop")
    val report = Ingest.execute(IngestConfig(
      "tester", ref, dir.toString, "h_.*\\.csv",
      metadata = Some(meta), justCopy = false, latest = true, delete = true),
      store = new graft.io.HadoopStore)
    assert(report.ok, report.errors.mkString("; "))
    assert(report.processedFiles === Seq("h_2.csv"))
    assert(report.validRows === 1 && report.invalidRows === 1)
    assert(Files.exists(f1) && !Files.exists(f2))
    assert(spark.table(ref.qualified).select("note")
      .collect().map(_.getString(0)).toSeq === Seq("new"))
  }

  test("export: sql -> xlsx -> reader roundtrip with rename and overwrite") {
    spark.range(3).selectExpr("id", "id * 1.5 AS v", "concat('r', id) AS label")
      .createOrReplaceTempView("exp_src")
    val dir = Files.createTempDirectory("exp_")
    val conf = ExportConfig(
      "tester", "SELECT id, v, label FROM exp_src ORDER BY id",
      dir.toString, "res.xlsx", sheetName = "out",
      columnMapping = Map("LABEL" -> "name"), // case-insensitive key
      logTable = TableRef("t", "est", "exp"))
    val r1 = Export.execute(conf)
    assert(r1.ok && r1.rows === 3)
    val r2 = Export.execute(conf) // overwrite, not append
    assert(r2.ok)
    val rows = Xlsx.read(dir.resolve("res.xlsx"), Some("out"), 0)
    assert(rows.head === Seq(Some("id"), Some("v"), Some("name")))
    assert(rows.size === 4)
    assert(rows(1) === Seq(Some("0"), Some("0.0"), Some("r0")))
  }

  test("export orc: columnar roundtrip under the configured name; rows counted in-pass") {
    spark.range(4).selectExpr("id", "id * 2 AS dbl", "concat('o', id) AS tag")
      .createOrReplaceTempView("orc_src")
    val dir = Files.createTempDirectory("exp_orc_")
    val r = Export.execute(ExportConfig(
      "tester", "SELECT id, dbl, tag FROM orc_src",
      dir.toString, "res.orc", format = ExportFormat.Orc,
      codec = Some("gzip"), // ignored for columnar, like Parquet/Xlsx
      logTable = TableRef("t", "est", "exporc")))
    assert(r.ok && r.rows === 4)
    val back = spark.read.orc(dir.resolve("res.orc").toString)
      .orderBy("id").collect()
    assert(back.map(_.getLong(1)).toSeq === Seq(0L, 2L, 4L, 6L))
    assert(back.map(_.getString(2)).toSeq === Seq("o0", "o1", "o2", "o3"))
  }

  test("export parquet closes its part-lookup and cleanup directory streams") {
    val fds = new java.io.File("/proc/self/fd")
    assume(fds.isDirectory, "needs /proc/self/fd")
    spark.range(2).createOrReplaceTempView("fd_src")
    val dir = Files.createTempDirectory("exp_fds_")
    val conf = ExportConfig("tester", "SELECT id FROM fd_src", dir.toString,
      "res.parquet", format = ExportFormat.Parquet,
      logTable = TableRef("t", "est", "expfds"))
    assert(Export.execute(conf).ok) // warm-up: the log table and its reader
    val n = 12
    val before = fds.list().length
    (1 to n).foreach(_ => assert(Export.execute(conf).rows === 2))
    assert(fds.list().length - before < n)
  }

  test("export csv: RFC-4180 escaping survives a Spark-reader roundtrip") {
    import spark.implicits._
    Seq((1L, Some("plain"), "a"), (2L, Some("has,comma"), "b"),
        (3L, Some("has \"quote\""), "c"), (4L, Some("multi\nline"), "d"),
        (5L, None, "e"))
      .toDF("id", "tricky", "tag")
      .createOrReplaceTempView("csv_src")
    val dir = Files.createTempDirectory("exp_csv_")
    val r = Export.execute(ExportConfig(
      "tester", "SELECT id, tricky, tag FROM csv_src ORDER BY id",
      dir.toString, "res.csv", format = ExportFormat.Csv,
      logTable = TableRef("t", "est", "expcsv")))
    assert(r.ok && r.rows === 5)
    val back = spark.read
      .option("header", true).option("multiLine", true).option("escape", "\"")
      .csv(dir.resolve("res.csv").toString)
      .orderBy("id").collect()
    assert(back.map(_.getString(1)).toSeq ===
      Seq("plain", "has,comma", "has \"quote\"", "multi\nline", null))
  }

  test("export manifest sidecar: rows, columns, format recorded next to the artifact") {
    import spark.implicits._
    Seq((1L, "x"), (2L, "y"), (3L, "z")).toDF("id", "val")
      .createOrReplaceTempView("mani_src")
    val dir = Files.createTempDirectory("exp_mani_")
    val r = Export.execute(ExportConfig(
      "tester", "SELECT id, val AS renamed FROM mani_src ORDER BY id",
      dir.toString, "res.csv", format = ExportFormat.Csv,
      manifest = true,
      logTable = TableRef("t", "est", "expmani")))
    assert(r.ok && r.rows === 3)
    val body = Files.readString(dir.resolve("res.csv.manifest.json"))
    assert(body.contains("\"rows\": 3"), body)
    assert(body.contains("\"file\": \"res.csv\""), body)
    assert(body.contains("\"renamed\""), body)
    assert(body.contains("\"codec\": null"), body)
    // valid JSON by the same parser the driver uses downstream
    val parsed = spark.read.json(
      Seq(body).toDS()).collect().head
    assert(parsed.getAs[Long]("rows") === 3L)
    assert(parsed.getAs[Seq[String]]("columns") === Seq("id", "renamed"))
  }

  test("export csv/jsonl with gzip codec: compressed bytes, Spark reads them back") {
    import spark.implicits._
    Seq((1L, "alpha"), (2L, "has,comma"), (3L, "plain"))
      .toDF("id", "s").createOrReplaceTempView("gz_src")
    val dir = Files.createTempDirectory("exp_gz_")
    val rc = Export.execute(ExportConfig(
      "tester", "SELECT id, s FROM gz_src ORDER BY id",
      dir.toString, "res.csv.gz", format = ExportFormat.Csv,
      codec = Some("gzip"), logTable = TableRef("t", "est", "expgz")))
    assert(rc.ok && rc.rows === 3)
    val magic = Files.readAllBytes(dir.resolve("res.csv.gz")).take(2)
    assert(magic(0) == 0x1f.toByte && magic(1) == 0x8b.toByte, "gzip magic bytes")
    // Spark's csv reader decompresses .gz transparently
    val backCsv = spark.read.option("header", true).option("escape", "\"")
      .csv(dir.resolve("res.csv.gz").toString).orderBy("id").collect()
    assert(backCsv.map(_.getString(1)).toSeq === Seq("alpha", "has,comma", "plain"))

    val rj = Export.execute(ExportConfig(
      "tester", "SELECT id, s FROM gz_src ORDER BY id",
      dir.toString, "res.jsonl.gz", format = ExportFormat.JsonLines,
      codec = Some("gzip"), logTable = TableRef("t", "est", "expgz")))
    assert(rj.ok && rj.rows === 3)
    val backJson = spark.read.json(dir.resolve("res.jsonl.gz").toString)
      .orderBy("id").collect()
    assert(backJson.map(_.getString(1)).toSeq === Seq("alpha", "has,comma", "plain"))
  }

  test("export xlsx with extra sheets: two-sheet roundtrip via the reader") {
    spark.range(3).selectExpr("id", "concat('a', id) AS s")
      .createOrReplaceTempView("ms_main")
    spark.range(2).selectExpr("id * 10 AS k").createOrReplaceTempView("ms_extra")
    val dir = Files.createTempDirectory("exp_ms_")
    val r = Export.execute(ExportConfig(
      "tester", "SELECT id, s FROM ms_main ORDER BY id",
      dir.toString, "res.xlsx", sheetName = "main",
      extraSheets = Seq("extra" -> "SELECT k FROM ms_extra ORDER BY k"),
      logTable = TableRef("t", "est", "expms")))
    assert(r.ok && r.rows === 5, r.errors.mkString("; "))
    val main = Xlsx.read(dir.resolve("res.xlsx"), Some("main"), 0)
    assert(main.head === Seq(Some("id"), Some("s")) && main.size === 4)
    assert(main(2) === Seq(Some("1"), Some("a1")))
    val extra = Xlsx.read(dir.resolve("res.xlsx"), Some("extra"), 0)
    assert(extra === Seq(Seq(Some("k")), Seq(Some("0")), Seq(Some("10"))))
    // default sheet pick (first in workbook order) is the main sheet
    assert(Xlsx.read(dir.resolve("res.xlsx"), None, 0).head ===
      Seq(Some("id"), Some("s")))
  }

  test("export xlsx rejects duplicate sheet names (report, not throw)") {
    spark.range(1).createOrReplaceTempView("dup_src")
    val r = Export.execute(ExportConfig(
      "tester", "SELECT * FROM dup_src", Files.createTempDirectory("expd_").toString,
      "x.xlsx", sheetName = "s1", extraSheets = Seq("s1" -> "SELECT * FROM dup_src"),
      logTable = TableRef("t", "est", "expd")))
    assert(!r.ok && r.errors.exists(_.contains("duplicate sheet")))
  }

  test("export failure is swallowed into the report (E2 semantics)") {
    val r = Export.execute(ExportConfig(
      "tester", "SELECT * FROM table_that_does_not_exist",
      Files.createTempDirectory("expf_").toString, "x.xlsx",
      logTable = TableRef("t", "est", "expf")))
    assert(!r.ok && r.errors.exists(_.contains("export failed")))
  }

  test("export job budget: a csv export runs no saveAsTable job, and its " +
      "manifest and exported rows land in one audit file") {
    import spark.implicits._
    Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "s").createOrReplaceTempView("budget_src")
    val ref = TableRef("t", "est_budget", "x")
    spark.sql(s"DROP TABLE IF EXISTS ${ref.database}.box_ingestion_log")
    val dir = Files.createTempDirectory("exp_budget_")
    val (r, sites) = jobSites(Export.execute(ExportConfig(
      "tester", "SELECT id, s FROM budget_src ORDER BY id", dir.toString, "res.csv",
      format = ExportFormat.Csv, manifest = true, logTable = ref)))
    assert(r.ok && r.rows === 3, r.errors.mkString("; "))
    assert(sites.nonEmpty && !sites.exists(_.contains("saveAsTable")), sites.mkString("; "))
    val log = spark.table(s"${ref.database}.box_ingestion_log")
    assert(log.orderBy("process_dt").select("job_action").collect().map(_.getString(0)).toSeq
      === Seq("Exported manifest", "Exported file"))
    assert(log.inputFiles.length === 1)
  }
}
