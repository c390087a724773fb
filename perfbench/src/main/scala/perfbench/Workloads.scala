package perfbench

import graft.api._
import graft.ext.{Curation, Dedup}
import graft.io.{FileSelect, FormatReader, LocalStore, Xlsx}
import graft.sink.{TableRef, TableSink}
import graft.validate.ValidateAndSplit
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import java.util.SplittableRandom
import scala.collection.mutable.ListBuffer
import scala.jdk.CollectionConverters._
import scala.util.hashing.MurmurHash3

final class Ctx(val spark: SparkSession, val work: Path, val seed: Long)

/** One iteration's outcome. `seconds` covers only the library's public
  * calls; checks and teardown run outside it. `units` are the rows or
  * documents the calls processed; `attempted`/`failed` count operations
  * (input files, export calls or curate calls). */
final case class Iter(seconds: Double, units: Long, attempted: Int,
    failed: Int, problems: Seq[String], storedPerInputByte: Double,
    layers: Map[String, Double])

abstract class Workload(ctx: Ctx) {
  implicit protected val spark: SparkSession = ctx.spark

  /** Writes the workload's inputs into `dir` from the seed alone. */
  def generate(dir: Path): Unit

  /** One-off preparation over the first generated inputs. */
  def prepare(): Unit = ()

  /** Runs, checks and tears down iteration `i` in a fresh namespace. */
  def iterate(i: Int, trace: Option[Trace]): Iter

  protected var input: Path = _

  /** Keeps the first generated folder as the input every iteration reads. */
  protected def keepFirst(dir: Path): Boolean = {
    val first = input == null
    if (first) input = dir
    first
  }

  /** Times `body` (the library calls of one iteration) under the
    * iteration span when traced. */
  protected def timed[A](trace: Option[Trace])(body: => A): (Double, A) = {
    val t0 = System.nanoTime()
    val a = traced(trace, "iteration")(body)
    ((System.nanoTime() - t0) / 1e9, a)
  }

  protected def traced[A](trace: Option[Trace], name: String)(body: => A): A =
    trace.fold(body)(_.span(name)(body))

  protected def dropDatabase(db: String): Unit =
    spark.sql(s"DROP DATABASE IF EXISTS `$db` CASCADE")

  protected def databaseDir(db: String): Path =
    Paths.get(new java.net.URI(spark.catalog.getDatabase(db).locationUri))

  /** The layers every workload reports: the engine's counters over the
    * jobs of the iteration span, and each module's job-busy time. */
  protected def sparkLayers(t: Trace, outputFiles: Long): Map[String, Double] = {
    val root = t.lastSpan("iteration")
    val js = t.jobsUnder(root)
    val busy = Trace.busy(js)
    val byModule = js.groupBy(t.moduleOf)
    val moduleBusy = Trace.Modules.map(m =>
      s"layer.$m.busy_s" -> Trace.busy(byModule.getOrElse(m, Nil))).toMap
    Map(
      "spark.jobs" -> js.size.toDouble,
      "spark.stages" -> js.map(_.stages).sum.toDouble,
      "spark.tasks" -> js.map(_.tasks).sum.toDouble,
      "spark.job_busy_s" -> busy,
      "spark.driver_gap_s" -> (root.seconds - busy),
      "spark.task_run_s" -> js.map(_.runMs).sum / 1000.0,
      "spark.task_deser_s" -> js.map(_.deserMs).sum / 1000.0,
      "spark.task_gc_s" -> js.map(_.gcMs).sum / 1000.0,
      "spark.shuffle_read_bytes" -> js.map(_.shuffleRead).sum.toDouble,
      "spark.shuffle_write_bytes" -> js.map(_.shuffleWrite).sum.toDouble,
      "spark.spill_bytes" -> js.map(_.spill).sum.toDouble,
      "spark.output_files" -> outputFiles.toDouble,
      "spark.output_bytes" -> js.map(_.outBytes).sum.toDouble,
      "trace.unattributed_jobs" ->
        byModule.getOrElse(Trace.Unattributed, Nil).size.toDouble,
      "trace.accounted_share" ->
        (moduleBusy.values.sum + root.seconds - busy) / root.seconds
    ) ++ moduleBusy
  }
}

object Workload {
  def fileCount(dir: Path): Long =
    if (!Files.exists(dir)) 0L
    else {
      val walk = Files.walk(dir)
      try walk.filter(p => Files.isRegularFile(p) &&
        !p.getFileName.toString.startsWith(".")).count()
      finally walk.close()
    }

  def listFiles(dir: Path): Seq[Path] = {
    val ls = Files.list(dir)
    try ls.iterator().asScala.toSeq.sortBy(_.toString) finally ls.close()
  }

  def deleteTree(dir: Path): Unit = if (Files.exists(dir)) {
    val walk = Files.walk(dir)
    try walk.sorted(java.util.Comparator.reverseOrder[Path]())
      .forEach(p => Files.deleteIfExists(p))
    finally walk.close()
  }

  /** Order-independent digest of a folder's file contents (names
    * ignored), to prove the generator is a function of the seed. */
  def contentDigest(dir: Path): Long = {
    val walk = Files.walk(dir)
    try walk.iterator().asScala.filter(p => Files.isRegularFile(p) &&
        !p.getFileName.toString.startsWith("."))
      .map(p => MurmurHash3.bytesHash(Files.readAllBytes(p)).toLong).sum
    finally walk.close()
  }

  /** Order-independent digest of rendered rows: (count, wrapped sum of a
    * 64-bit hash per row). */
  final case class RowDigest(rows: Long, hash: Long)
  def rowDigest(rows: Iterator[String]): RowDigest = {
    var n = 0L
    var h = 0L
    rows.foreach { s =>
      n += 1
      h += (MurmurHash3.stringHash(s, 0x2b1d).toLong << 32) ^
        (MurmurHash3.stringHash(s, 0x5f3a) & 0xffffffffL)
    }
    RowDigest(n, h)
  }
  def rowText(r: Row): String =
    r.toSeq.map(v => if (v == null) "" else v.toString).mkString("\u0001")
}

/** `Ingest.execute` in validate mode over one folder of generated files. */
final class IngestWorkload(ctx: Ctx, files: Seq[Gen.FileSpec]) extends Workload(ctx) {
  import Workload._
  private val Regex = ".*\\.(csv|json|zip)"
  private var expect: Gen.IngestExpect = _
  private var leafFiles: Seq[Path] = Nil

  def generate(dir: Path): Unit = {
    val e = Gen.writeOrders(dir, ctx.seed, files, corruptShare = 0.02)
    if (keepFirst(dir)) expect = e
  }

  def iterate(i: Int, trace: Option[Trace]): Iter = {
    val ref = TableRef("bench", s"ingest$i", "orders")
    val conf = IngestConfig("perfbench", ref, input.toString, Regex,
      metadata = Some(Gen.OrdersMeta), justCopy = false)
    val (secs, report) = timed(trace)(traced(trace, "Ingest.execute")(Ingest.execute(conf)))

    val problems = ListBuffer.empty[String]
    problems ++= report.errors
    def want(what: String, got: Any, exp: Any): Unit =
      if (got != exp) problems += s"$what: got $got, expected $exp"
    want("processed files", report.processedFiles.size, expect.leafFiles)
    want("valid rows", report.validRows, expect.validRows)
    want("invalid rows", report.invalidRows, expect.invalidRows)
    val d = spark.sql(s"SELECT ${Gen.KeyDigest.sql("o_orderkey")} FROM ${ref.qualified}")
      .head()
    want("main table key digest",
      Gen.KeyDigest(d.getLong(0), d.getLong(1), d.getLong(2)), expect.validKeys)
    want("_error rows", spark.table(ref.errorSibling.qualified).count(), expect.invalidRows)
    val audit = s"${ref.database}.box_ingestion_log"
    want("audit 'Ingest completed' rows",
      spark.sql(s"SELECT log_info FROM $audit WHERE job_action = 'Ingest completed'")
        .collect().map(_.getString(0)).toSeq,
      Seq(s"${report.processedFiles.size} files, ${report.validRows} valid, " +
        s"${report.invalidRows} invalid rows"))

    val dbDir = databaseDir(ref.database)
    val stored = Gen.folderBytes(dbDir).toDouble / expect.inputBytes
    val layers = trace.fold(Map.empty[String, Double]) { t =>
      val leaf = expect.leafFiles.toDouble
      val root = t.lastSpan("Ingest.execute")
      val js = t.jobsUnder(root)
      def of(m: String) = js.filter(j => t.moduleOf(j) == m)
      val auditRows = spark.table(audit).count()
      sparkLayers(t, fileCount(dbDir)) ++ Map(
        "api.ingest.jobs_per_file" -> js.size / leaf,
        "api.ingest.recount_jobs" ->
          of("api").count(j => t.callSite(j)._1.startsWith("count")).toDouble,
        "api.ingest.driver_gap_s" -> (root.seconds - Trace.busy(js)),
        "io.spool_s" -> spoolSeconds(t),
        "io.read_s" -> Trace.busy(of("io")),
        "io.read_jobs_per_file" -> of("io").size / leaf,
        "validate.s" -> validateSeconds(t),
        "validate.invalid_share" ->
          report.invalidRows.toDouble / (report.validRows + report.invalidRows),
        "sink.append_s" -> Trace.busy(of("sink")),
        "sink.append_calls_per_file" -> of("sink").flatMap(_.execId).distinct.size / leaf,
        "sink.files_per_input_file" -> fileCount(dbDir) / leaf,
        "sink.audit_s" -> Trace.busy(of("sink.audit")),
        "sink.audit_rows_per_file" -> auditRows / leaf)
    }
    dropDatabase(ref.database)
    val fileErrors = report.errors.size
    val failed =
      if (problems.size > fileErrors) expect.leafFiles
      else math.min(fileErrors, expect.leafFiles)
    Iter(secs, expect.validRows + expect.invalidRows, expect.leafFiles, failed,
      problems.toSeq, stored, layers)
  }

  /** The spool step on its own: list, match and copy every matched file,
    * through the same public store API `Ingest` spools with. */
  private def spoolSeconds(t: Trace): Double = {
    val tmp = Files.createTempDirectory("perfbench_spool_")
    try t.span("probe.spool") {
      val store = new LocalStore
      FileSelect.matching(store.list(input.toString), Regex).foreach { st =>
        val in = store.open(input.toString, st.name)
        try Files.copy(in, tmp.resolve(st.name)) finally in.close()
      }
    } finally deleteTree(tmp)
    t.lastSpan("probe.spool").seconds
  }

  /** Validate-and-split on its own: both split sides of every input file,
    * evaluated over the already-parsed (cached) frame. */
  private def validateSeconds(t: Trace): Double = {
    if (leafFiles.isEmpty) leafFiles = extractedLeaves()
    leafFiles.map { f =>
      FormatReader.read(spark, f) match {
        case FormatReader.Parsed(df) =>
          val raw = df.persist(StorageLevel.MEMORY_AND_DISK)
          try {
            raw.count()
            val split = ValidateAndSplit(raw, Gen.OrdersMeta)
            t.span("probe.validate") {
              split.valid.write.format("noop").mode("overwrite").save()
              split.invalid.write.format("noop").mode("overwrite").save()
            }
            t.lastSpan("probe.validate").seconds
          } finally raw.unpersist()
        case other => throw new IllegalStateException(s"$f: $other")
      }
    }.sum
  }

  private def extractedLeaves(): Seq[Path] = {
    val dir = ctx.work.resolve("leaves")
    listFiles(input).flatMap { p =>
      if (p.toString.endsWith(".zip")) {
        val in = Files.newInputStream(p)
        try graft.io.Zip.extractAll(in, dir.resolve(p.getFileName.toString))
        finally in.close()
      } else Seq(p)
    }
  }
}

/** `Export.execute` to csv, gzip JSON-lines, parquet and xlsx over source
  * tables that set-up wrote through `TableSink.append`, one append per
  * generated file. */
final class ExportWorkload(ctx: Ctx, orderFiles: Int, ordersPerFile: Int,
    customerFiles: Int, customersPerFile: Int) extends Workload(ctx) {
  import Workload._

  private val Orders = TableRef("bench", "src", "orders")
  private val Customer = TableRef("bench", "src", "customer")
  private val OrdersSchema = StructType(Seq(
    StructField("o_orderkey", LongType), StructField("o_custkey", LongType),
    StructField("o_orderstatus", StringType), StructField("o_totalprice", DoubleType),
    StructField("o_orderdate", DateType), StructField("o_orderpriority", StringType)))
  private val CustomerSchema = StructType(Seq(
    StructField("c_custkey", LongType), StructField("c_name", StringType),
    StructField("c_nation", StringType), StructField("c_acctbal", DoubleType)))

  private final case class Call(file: String, format: ExportFormat,
      codec: Option[String], sql: String)
  private val O = Orders.qualified
  private val C = Customer.qualified
  private val exact = "CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(24,2))"
  private val Calls = Seq(
    Call("priority_status.csv", ExportFormat.Csv, None,
      s"SELECT o_orderpriority, o_orderstatus, count(*) AS n, $exact AS total " +
        s"FROM $O GROUP BY o_orderpriority, o_orderstatus"),
    Call("urgent_orders.jsonl.gz", ExportFormat.JsonLines, Some("gzip"),
      s"SELECT o.o_orderkey, o.o_orderdate, c.c_name, c.c_nation, o.o_totalprice " +
        s"FROM $O o JOIN $C c ON o.o_custkey = c.c_custkey " +
        "WHERE o.o_orderpriority IN ('1-URGENT', '2-HIGH')"),
    Call("nation_year.parquet", ExportFormat.Parquet, None,
      s"SELECT c.c_nation, year(o.o_orderdate) AS yr, count(*) AS n, $exact AS total " +
        s"FROM $O o JOIN $C c ON o.o_custkey = c.c_custkey GROUP BY c.c_nation, yr"),
    Call("orders.xlsx", ExportFormat.Xlsx, None,
      s"SELECT o_orderkey, o_custkey, o_orderstatus, o_orderpriority, o_orderdate, " +
        s"o_totalprice FROM $O"))

  private var expected: Map[String, RowDigest] = Map.empty
  private var sourceBytes = 0L
  private var scanFiles = 0L

  def generate(dir: Path): Unit = {
    Files.createDirectories(dir)
    val r = new SplittableRandom(ctx.seed)
    var key = 1L
    (0 until orderFiles).foreach { f =>
      val sb = new java.lang.StringBuilder(Gen.OrderCols.mkString(",")).append('\n')
      (0 until ordersPerFile).foreach { _ =>
        sb.append(Gen.csvLine(Gen.order(r, key, corruptShare = 0))).append('\n')
        key += 1 + r.nextInt(3)
      }
      Files.write(dir.resolve(f"orders_$f%03d.csv"), sb.toString.getBytes(UTF_8))
    }
    (0 until customerFiles).foreach { f =>
      Files.write(dir.resolve(f"customer_$f%03d.csv"),
        Gen.customerCsv(r, 1 + f * customersPerFile, 1 + (f + 1) * customersPerFile)
          .getBytes(UTF_8))
    }
    keepFirst(dir)
  }

  override def prepare(): Unit = {
    listFiles(input).foreach { p =>
      val orders = p.getFileName.toString.startsWith("orders_")
      TableSink.append(spark.read.option("header", true)
          .schema(if (orders) OrdersSchema else CustomerSchema).csv(p.toString),
        if (orders) Orders else Customer)
    }
    val files = Seq(Orders, Customer).flatMap(t => spark.table(t.qualified).inputFiles)
    scanFiles = files.size
    sourceBytes = files.map(f => Files.size(Paths.get(new java.net.URI(f)))).sum
    // The source tables never change after this point, so one direct
    // collect per call is the reference every iteration's artifact meets.
    expected = Calls.map { c =>
      val df = spark.sql(c.sql)
      c.file -> rowDigest(
        if (c.format == ExportFormat.JsonLines) df.toJSON.collect().iterator
        else df.collect().iterator.map(rowText))
    }.toMap
  }

  def iterate(i: Int, trace: Option[Trace]): Iter = {
    val folder = ctx.work.resolve("export").resolve(s"it$i")
    val logTable = TableRef("bench", s"export$i", "export_log")
    val (secs, reports) = timed(trace)(Calls.map { c =>
      c -> traced(trace, "Export.execute")(Export.execute(ExportConfig("perfbench",
        c.sql, folder.toString, c.file, logTable = logTable, format = c.format,
        codec = c.codec)))
    })

    val failures = reports.map { case (c, rep) =>
      val exp = expected(c.file)
      val got = artifactDigest(folder.resolve(c.file), c.format)
      val p = ListBuffer.empty[String]
      p ++= rep.errors.map(e => s"${c.file}: $e")
      if (got != exp) p += s"${c.file}: artifact digest $got, direct collect $exp"
      if (rep.rows != exp.rows) p += s"${c.file}: report rows ${rep.rows}, expected ${exp.rows}"
      p.toSeq
    }
    val stored = Gen.folderBytes(folder).toDouble / sourceBytes
    val layers = trace.fold(Map.empty[String, Double]) { t =>
      val root = t.lastSpan("iteration")
      val calls = t.subtree(root).filter(_.name == "Export.execute")
      sparkLayers(t, fileCount(folder)) ++ Map(
        "sink.scan_files" -> scanFiles.toDouble,
        "api.export.jobs_per_call" -> t.jobsUnder(root).size.toDouble / calls.size,
        "api.export.driver_stream_s" ->
          calls.map(s => s.seconds - Trace.busy(t.jobsUnder(s))).sum)
    }
    deleteTree(folder)
    dropDatabase(logTable.database)
    Iter(secs, reports.map(_._2.rows).sum, Calls.size, failures.count(_.nonEmpty),
      failures.flatten, stored, layers)
  }

  private def artifactDigest(path: Path, format: ExportFormat): RowDigest =
    if (!Files.exists(path)) RowDigest(-1, 0)
    else format match {
      case ExportFormat.Csv =>
        rowDigest(Files.readAllLines(path, UTF_8).asScala.iterator.drop(1)
          .map(_.split(",", -1).mkString("\u0001")))
      case ExportFormat.JsonLines =>
        val in = new java.io.BufferedReader(new java.io.InputStreamReader(
          new java.util.zip.GZIPInputStream(Files.newInputStream(path)), UTF_8))
        try rowDigest(in.lines().iterator().asScala) finally in.close()
      case ExportFormat.Xlsx =>
        val rows = Xlsx.read(path, None, 0)
        val n = rows.head.size
        rowDigest(rows.iterator.drop(1).map(r =>
          (0 until n).map(k => r.lift(k).flatten.getOrElse("")).mkString("\u0001")))
      case _ =>
        rowDigest(spark.read.parquet(path.toString).collect().iterator.map(rowText))
    }
}

/** `Curation.curateKept` with MinHash near-dup over a generated corpus
  * with planted exact and near duplicates; the benchmark writes the kept
  * corpus as parquet. */
final class CurateWorkload(ctx: Ctx, originals: Int) extends Workload(ctx) {
  import Workload._
  private var corpus: Gen.Corpus = _
  private var keptDigest: Option[Gen.KeyDigest] = None

  def generate(dir: Path): Unit = {
    val c = Gen.corpus(ctx.seed, originals, exactShare = 0.10, nearShare = 0.05,
      benchDocs = 15)
    val docs = c.docs.map { case (id, t, l) => Row(id, t, l) }
    spark.createDataFrame(docs.asJava, StructType(Seq(
        StructField("doc_id", LongType), StructField("text", StringType),
        StructField("lang", StringType))))
      .coalesce(1).write.parquet(dir.resolve("docs").toString)
    spark.createDataFrame(c.bench.map(Row(_)).asJava,
        StructType(Seq(StructField("text", StringType))))
      .coalesce(1).write.parquet(dir.resolve("bench").toString)
    Gen.writeExpected(dir, "documents" -> c.docs.size,
      "exact_duplicate_ids" -> c.exactDupIds, "near_duplicate_ids" -> c.nearDupIds)
    if (keepFirst(dir)) corpus = c
  }

  def iterate(i: Int, trace: Option[Trace]): Iter = {
    val out = ctx.work.resolve("curate").resolve(s"it$i")
    val docs = spark.read.parquet(input.resolve("docs").toString)
    val bench = spark.read.parquet(input.resolve("bench").toString)
    val (secs, _) = timed(trace) {
      val kept = traced(trace, "Curation.curateKept")(Curation.curateKept(
        docs, "text", "doc_id", bench, "text", nearDup = Some(Dedup.MinHashConfig())))
      traced(trace, "kept.write")(kept.write.parquet(out.toString))
    }

    val ids = spark.read.parquet(out.toString).select("doc_id").collect().map(_.getLong(0))
    val problems = ListBuffer.empty[String]
    val survivors = ids.toSet.intersect(corpus.exactDupIds.toSet)
    if (survivors.nonEmpty)
      problems += s"${survivors.size} planted exact duplicates survived, e.g. ${survivors.head}"
    if (ids.distinct.length != ids.length) problems += "kept ids repeat"
    val digest = ids.foldLeft(Gen.KeyDigest.empty)(_ add _)
    if (keptDigest.exists(_ != digest))
      problems += s"kept-id digest $digest differs from the first iteration's ${keptDigest.get}"
    keptDigest = Some(digest)
    val n = corpus.docs.size
    val stored = Gen.folderBytes(out).toDouble / Gen.folderBytes(input.resolve("docs"))
    val layers = trace.fold(Map.empty[String, Double]) { t =>
      val ext = t.jobsUnder(t.lastSpan("iteration")).filter(t.moduleOf(_) == "ext")
      sparkLayers(t, fileCount(out)) ++ Map(
        "ext.eager_jobs" -> ext.size.toDouble,
        "ext.task_run_s" -> ext.map(_.runMs).sum / 1000.0,
        "ext.shuffle_write_bytes" -> ext.map(_.shuffleWrite).sum.toDouble,
        "ext.kept_share" -> ids.length.toDouble / n,
        "ext.cached_rdds_left" -> spark.sparkContext.getPersistentRDDs.size.toDouble)
    }
    deleteTree(out)
    // Materializations the pipeline leaves cached would carry memory
    // pressure into the next iteration; release them outside the timing.
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    Iter(secs, n, 1, if (problems.isEmpty) 0 else 1, problems.toSeq, stored, layers)
  }
}
