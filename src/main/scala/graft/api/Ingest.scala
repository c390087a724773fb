package graft.api

import graft.io._
import graft.schema.TableMeta
import graft.sink.{AuditLog, TableSink, TableRef}
import graft.validate.ValidateAndSplit
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions.{count, lit}
import org.apache.spark.storage.StorageLevel
import java.nio.file.{Files, Path}
import scala.collection.mutable.ListBuffer
import scala.util.control.NonFatal

/** Typed mirror of the reference's `execute_ingest` kwargs
  * (box_ingest.py:180-195). `folder` is an ObjectStore folder (local dir
  * here, cloud folder behind another store impl).
  */
final case class IngestConfig(
    taskOwner: String,
    table: TableRef,
    folder: String,
    fileNameRegex: String,
    sheetName: Option[String] = None,
    /** pandas `sheet_name=None` semantics (the reference passes the
      * kwarg verbatim to pd.read_excel, box_ingest.py:152-156): read
      * EVERY sheet of an xlsx, tagged with a `_sheet` provenance column
      * and unioned by header name. Mutually exclusive with sheetName. */
    allSheets: Boolean = false,
    metadata: Option[TableMeta] = None,
    latest: Boolean = false,
    justCopy: Boolean = true,
    delete: Boolean = false,
    skipRows: Int = 0,
    encoding: Option[String] = None,
    /** When set, every ingested row gains this column carrying the name
      * of the file it came from (for zip members, the extracted inner
      * name) — distributed-native lineage replacing grep-the-audit-log.
      * Applied to the valid AND `_error` sides post-validation; in copy
      * mode the target table must already carry the column or the
      * conform projection drops it (documented O22 semantics). */
    sourceFileCol: Option[String] = None) {
  require(!(allSheets && sheetName.isDefined),
    "allSheets and sheetName are mutually exclusive")
}

/** What actually happened — the reference only exposes this via audit-log
  * rows (E1 swallows every exception, box_ingest.py:194-195); we keep the
  * log-only failure mode AND return a typed report.
  */
final case class IngestReport(
    processedFiles: Seq[String],
    validRows: Long,
    invalidRows: Long,
    errors: Seq[String]) {
  def ok: Boolean = errors.isEmpty
}

/** Ingest orchestration (reference O29 / E1):
  * list → regex match → (latest?) → spool → per-file: unzip? → parse →
  * copy-mode conform | validate+split → per batch: append main/_error
  * tables → (delete?) → audit log at each step. Never throws.
  *
  * Each leaf file is read, parsed and split by itself, so schema
  * inference, read errors and corrupt-file isolation stay per file. The
  * split frames of up to `defaultParallelism` leaf files, in processing
  * order, form a batch that is written with one append per target table:
  * the union of the batch's main sides, then the union of its `_error`
  * sides. A batch's rows of one table therefore share that append's
  * `process_dt`. Row counts are observed per file on the appends
  * themselves. If a table's union append fails, each file's side of that
  * table is appended alone, so only the files whose own append fails are
  * reported failed (a copy-mode value that its target column's type
  * cannot hold, a corrupt page found at write time); their later appends
  * are not attempted, and counts of the appends that landed stay in the
  * report. A table whose union append landed is not written again.
  *
  * Audit rows are buffered and flushed after each batch's appends and
  * once when the run ends; a flush is a driver-written file with no Spark
  * job, and its rows are visible when it returns. `File processed` rows
  * are logged after their batch's appends. A run that dies keeps every
  * audit row logged before the end of the last batch it wrote.
  */
object Ingest {

  /** A parsed leaf file waiting for its batch's appends: `sides` maps each
    * target table, in append order, to the frame it gets; `raw` is the
    * persisted frame those frames read. */
  private final case class Leaf(name: String, raw: DataFrame, sides: Seq[(TableRef, DataFrame)])

  /** Appends the union of `frames` to `table` and returns each frame's row
    * count, observed on the write itself. */
  private def appendCounted(frames: Seq[DataFrame], table: TableRef): Seq[Long] = {
    val obs = frames.map(_ => Observation())
    TableSink.append(frames.zip(obs).map { case (df, o) => df.observe(o, count(lit(1)).as("n")) }
      .reduce(_ unionByName _), table)
    obs.map(_.get("n").asInstanceOf[Long])
  }

  def execute(conf: IngestConfig, store: ObjectStore = new LocalStore)(
      implicit spark: SparkSession): IngestReport = {
    val errors = ListBuffer.empty[String]
    val processed = ListBuffer.empty[String]
    var validRows = 0L
    var invalidRows = 0L

    val audit = new AuditLog.Buffer(spark, conf.table, conf.taskOwner)
    def log(action: String, info: String): Unit = audit.add(action, info)

    // One batch fills the cores once: every file is at least one write task.
    val batchSize = spark.sparkContext.defaultParallelism
    val batch = ListBuffer.empty[Leaf]

    /** Appends the batch, one table at a time in the order the sides
      * name them, and logs the outcome of each of its files. */
    def writeBatch(): Unit = if (batch.nonEmpty) {
      val leaves = batch.toList
      batch.clear()
      var live = leaves
      def fail(l: Leaf, e: Throwable): Unit = {
        errors += s"process ${l.name}: ${e.getMessage}"
        log("File processing failed", s"${l.name}: ${e.getMessage}")
      }
      try {
        leaves.flatMap(_.sides.map(_._1)).distinct.foreach { table =>
          // Each count lands as soon as its append does, so a failed later
          // append cannot hide rows this table now holds.
          def add(n: Seq[Long]): Unit =
            if (table == conf.table) validRows += n.sum else invalidRows += n.sum
          def frames(ls: Seq[Leaf]) = ls.flatMap(_.sides.collect { case (`table`, df) => df })
          val writers = live.filter(l => frames(Seq(l)).nonEmpty)
          if (writers.nonEmpty) try add(appendCounted(frames(writers), table))
          catch { case NonFatal(e) =>
            // Find the files that fail on their own; the others land alone.
            val failed = if (writers.size == 1) { fail(writers.head, e); writers }
              else writers.filterNot { l =>
                try { add(appendCounted(frames(Seq(l)), table)); true }
                catch { case NonFatal(e1) => fail(l, e1); false }
              }
            live = live.filterNot(failed.contains)
          }
        }
        live.foreach { l => processed += l.name; log("File processed", l.name) }
      } finally {
        leaves.foreach(_.raw.unpersist())
        errors ++= audit.flush()
      }
    }

    // Per-run spool dir, removed in finally (the reference rmtree's its
    // /tmp/box/<table> dir per run, box_ingest.py:51-53; leaking it would
    // accumulate a full copy of every ingested file on the driver).
    var tmp: Path = null
    try {
      tmp = Files.createTempDirectory(s"graft_ingest_${conf.table.name}_")
      log("Created temp directory", tmp.toString)

      // O1-O3: list, anchored-regex match, optionally latest-only.
      val matched0 = FileSelect.matching(store.list(conf.folder), conf.fileNameRegex)
      val matched = if (conf.latest) FileSelect.latest(matched0).toSeq else matched0
      if (matched.isEmpty)
        log("No files found", s"regex ${conf.fileNameRegex} in ${conf.folder}")

      // O4: spool (no-op cost for LocalStore; real download for remotes).
      val spooled: Seq[Path] = matched.flatMap { st =>
        try {
          val dest = tmp.resolve(st.name)
          val in = store.open(conf.folder, st.name)
          try Files.copy(in, dest) finally in.close()
          log("Downloaded file", st.name)
          Some(dest)
        } catch { case NonFatal(e) =>
          errors += s"download ${st.name}: ${e.getMessage}"
          log("Download failed", s"${st.name}: ${e.getMessage}")
          None
        }
      }

      /** The frames one parsed leaf file appends, by target table. */
      def sidesOf(raw: DataFrame, fname: String): Seq[(TableRef, DataFrame)] = {
        def prov(df: DataFrame) =
          conf.sourceFileCol.fold(df)(c => df.withColumn(c, lit(fname)))
        if (conf.justCopy) // O22: conform to target schema minus process_dt.
          Seq(conf.table -> TableSink.conform(prov(raw), conf.table))
        else {
          val meta = conf.metadata.getOrElse(throw new IllegalArgumentException(
            "metadata required when justCopy=false"))
          val split = ValidateAndSplit(raw, meta)
          Seq(conf.table -> prov(split.valid),                  // O21
            conf.table.errorSibling -> prov(split.invalid))
        }
      }

      def processFile(path: Path): Unit = {
        val fname = path.getFileName.toString
        try {
          val lower = fname.toLowerCase
          if (lower.endsWith(".zip")) {
            // O5: spool-extract and recurse into every extracted file.
            val dest = Files.createTempDirectory(tmp, "unzipped_")
            val in = Files.newInputStream(path)
            val extracted = try Zip.extractAll(in, dest) finally in.close()
            log("Unzipped file", s"$fname -> ${extracted.size} files")
            extracted.foreach(processFile)
            return
          }
          if (lower.endsWith(".tar") || lower.endsWith(".tar.gz") ||
              lower.endsWith(".tgz")) {
            // O5 extension: tarballs recurse exactly like zips (gzip
            // rides the JDK stream; tar is graft.io.Tar's ustar reader).
            val dest = Files.createTempDirectory(tmp, "untarred_")
            val raw = Files.newInputStream(path)
            val in = if (lower.endsWith(".tar")) raw
                     else new java.util.zip.GZIPInputStream(raw)
            val extracted = try Tar.extractAll(in, dest) finally in.close()
            log("Untarred file", s"$fname -> ${extracted.size} files")
            extracted.foreach(processFile)
            return
          }
          FormatReader.read(spark, path, conf.sheetName, conf.skipRows,
              conf.encoding, allSheets = conf.allSheets) match {
            case FormatReader.Unsupported(reason) =>
              log("Skipped file", s"$fname: $reason") // O9: log-and-skip
            case FormatReader.Parsed(raw0) =>
              // O10 happens inside ValidateAndSplit; for copy mode conform
              // handles names. Cache: both split sides scan this frame.
              val raw = raw0.persist(StorageLevel.MEMORY_AND_DISK)
              try batch += Leaf(fname, raw, sidesOf(raw, fname))
              catch { case NonFatal(e) => raw.unpersist(); throw e }
          }
        } catch { case NonFatal(e) =>
          errors += s"process $fname: ${e.getMessage}"
          log("File processing failed", s"$fname: ${e.getMessage}")
        }
        if (batch.size >= batchSize) writeBatch()
      }

      spooled.foreach(processFile)
      writeBatch()

      // O24: optional post-ingest source cleanup of the matched names.
      if (conf.delete) matched.foreach { st =>
        try { store.delete(conf.folder, st.name); log("Deleted file", st.name) }
        catch { case NonFatal(e) => errors += s"delete ${st.name}: ${e.getMessage}" }
      }

      log(if (errors.isEmpty) "Ingest completed" else "Ingest completed with errors",
        s"${processed.size} files, $validRows valid, $invalidRows invalid rows")
    } catch { case NonFatal(e) =>
      errors += s"ingest failed: ${e.getMessage}"
      log("Ingest failed", e.getMessage) // E1: failure is log-only
    } finally {
      batch.foreach(_.raw.unpersist()) // only left by a fatal error
      errors ++= audit.flush()
      if (tmp != null) try {
        val walk = Files.walk(tmp)
        try walk.sorted(java.util.Comparator.reverseOrder[Path]())
          .forEach(p => Files.deleteIfExists(p))
        finally walk.close()
      } catch { case NonFatal(e) =>
        errors += s"spool cleanup: ${e.getMessage}"
      }
    }
    IngestReport(processed.toSeq, validRows, invalidRows, errors.toSeq)
  }
}
