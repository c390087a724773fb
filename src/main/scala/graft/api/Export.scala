package graft.api

import graft.io.{LocalStore, ObjectStore, Xlsx}
import graft.sink.{AuditLog, TableRef}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, count, lit}
import scala.collection.mutable.ListBuffer
import scala.util.control.NonFatal

/** Export artifact format. The reference writes xlsx only
  * (box_export.py:42-46); csv / json-lines / parquet extend the surface
  * for consumers that are pipelines rather than spreadsheets. The text
  * formats stream row-at-a-time from `toLocalIterator` (the product is
  * ONE shareable named file, so a single writer is the contract, and the
  * driver holds one partition at a time); parquet rides Spark's own
  * writer — a single write task — and the resulting part file is then
  * uploaded by name. */
sealed trait ExportFormat
object ExportFormat {
  case object Xlsx extends ExportFormat
  case object Csv extends ExportFormat
  case object JsonLines extends ExportFormat
  case object Parquet extends ExportFormat
  case object Orc extends ExportFormat
}

/** Typed mirror of the reference's `execute_export` kwargs
  * (box_export.py:71-82). `logTable` carries the catalog/schema the audit
  * rows land in (the reference hardcodes development.eda_gc_raw at
  * box_export.py:73-74).
  *
  * Extensions beyond the reference surface:
  *  - `codec`: "gzip" | "deflate" | "zstd" compresses Csv/JsonLines
  *    output streams (JDK codecs for gzip/deflate, zstd-jni for zstd;
  *    name the file *.gz / *.zz / *.zst yourself). Ignored
  *    for Parquet/Orc (internally compressed) and Xlsx (a zip already).
  *  - `extraSheets`: additional (sheetName -> SQL) pairs for Xlsx —
  *    each query streams into its own worksheet after the main one
  *    (the reference's sheet_name kwarg writes exactly one sheet).
  */
final case class ExportConfig(
    taskOwner: String,
    query: String,
    folder: String,
    fileName: String,
    sheetName: String = "Sheet1",
    columnMapping: Map[String, String] = Map.empty,
    logTable: TableRef = TableRef("development", "eda_gc_raw", "export"),
    format: ExportFormat = ExportFormat.Xlsx,
    codec: Option[String] = None,
    extraSheets: Seq[(String, String)] = Nil,
    /** When true, a `<fileName>.manifest.json` sidecar uploads after the
      * artifact: row count, output columns, format, codec — the
      * machine-readable completeness handshake a downstream consumer
      * checks instead of re-counting the artifact. */
    manifest: Boolean = false)

final case class ExportReport(rows: Long, errors: Seq[String]) {
  def ok: Boolean = errors.isEmpty
}

/** Export orchestration (reference O25-O28, O30 / E2): run arbitrary SQL,
  * rename columns, stream to xlsx, upload (create-or-overwrite by name).
  *
  * Two scale fixes over the reference: columns are renamed BEFORE
  * collection (a projection, box_export.py:38-41 renames in pandas), and
  * rows stream through `toLocalIterator` instead of a full `toPandas()`
  * materialization (box_export.py:37) — the driver holds one partition,
  * not the result set.
  *
  * A call's audit rows (the manifest row, then the exported or failed
  * row) are held in one [[AuditLog.Buffer]] and flushed once when the
  * call ends, as one driver-written file with no Spark job; a failed
  * flush adds `audit log failed` to the report's errors.
  */
object Export {

  def execute(conf: ExportConfig, store: ObjectStore = new LocalStore)(
      implicit spark: SparkSession): ExportReport = {
    val errors = ListBuffer.empty[String]
    val audit = new AuditLog.Buffer(spark, conf.logTable, conf.taskOwner)
    def log(action: String, info: String): Unit = audit.add(action, info)

    var rows = 0L
    try {
      val df = spark.sql(conf.query) // O25: the full Spark SQL surface
      // O26: case-insensitive rename, as a projection not a collect.
      val mapping = conf.columnMapping.map { case (k, v) => k.toLowerCase -> v }
      val renamed = df.select(df.columns.map { c =>
        col(s"`${c.replace("`", "``")}`")
          .as(mapping.getOrElse(c.toLowerCase, c))
      }: _*)
      val header = renamed.columns.toSeq
      conf.format match {
        case ExportFormat.Xlsx =>
          // Main sheet streams the renamed query; extraSheets each run
          // their own SQL, lazily per sheet (one partition at a time).
          def counting(it: java.util.Iterator[org.apache.spark.sql.Row]) =
            new Iterator[Seq[Any]] {
              def hasNext = it.hasNext
              def next() = { rows += 1; it.next().toSeq }
            }
          val extra = conf.extraSheets.map { case (name, sql) =>
            Xlsx.SheetSource(name, spark.sql(sql).columns.toSeq,
              () => counting(spark.sql(sql).toLocalIterator()))
          }
          store.putOverwrite(conf.folder, conf.fileName, out => {
            Xlsx.writeSheets(out, // O27 (+ multi-sheet extension)
              Xlsx.SheetSource(conf.sheetName, header,
                () => counting(renamed.toLocalIterator())) +: extra)
          }) // O28: upsert-by-name

        case ExportFormat.Csv =>
          store.putOverwrite(conf.folder, conf.fileName, out => {
            val cOut = wrapCodec(out, conf.codec)
            val w = new java.io.BufferedWriter(new java.io.OutputStreamWriter(
              cOut, java.nio.charset.StandardCharsets.UTF_8))
            w.write(header.map(csvField).mkString(",")); w.write("\n")
            val it = renamed.toLocalIterator()
            while (it.hasNext) {
              rows += 1
              w.write(it.next().toSeq.map {
                case null => ""
                case v    => csvField(v.toString)
              }.mkString(","))
              w.write("\n")
            }
            w.flush()
            finishCodec(cOut)
          })

        case ExportFormat.JsonLines =>
          store.putOverwrite(conf.folder, conf.fileName, out => {
            val cOut = wrapCodec(out, conf.codec)
            val w = new java.io.BufferedWriter(new java.io.OutputStreamWriter(
              cOut, java.nio.charset.StandardCharsets.UTF_8))
            val it = renamed.toJSON.toLocalIterator()
            while (it.hasNext) { rows += 1; w.write(it.next()); w.write("\n") }
            w.flush()
            finishCodec(cOut)
          })

        case ExportFormat.Parquet | ExportFormat.Orc =>
          // Spark's writer produces the bytes (a single write task via
          // coalesce(1)); the Observation counts rows in the SAME pass, and
          // the part file is uploaded under the configured name. Both
          // columnar formats are internally compressed, so `codec` is
          // ignored like Xlsx.
          import java.nio.file.Files
          import scala.jdk.CollectionConverters._
          val fmt = if (conf.format == ExportFormat.Orc) "orc" else "parquet"
          val obs = org.apache.spark.sql.Observation()
          val tmp = Files.createTempDirectory(s"graft_export_${fmt}_")
          try {
            renamed
              .observe(obs, org.apache.spark.sql.functions.count(
                org.apache.spark.sql.functions.lit(1)).as("n"))
              .coalesce(1)
              .write.mode("overwrite").format(fmt).save(tmp.toString)
            val listing = Files.list(tmp)
            val part = try listing.iterator().asScala
                .find(_.getFileName.toString.startsWith("part-"))
                .getOrElse(throw new IllegalStateException(s"no $fmt part written"))
              finally listing.close()
            store.putOverwrite(conf.folder, conf.fileName,
              out => Files.copy(part, out))
            rows = obs.get("n").asInstanceOf[Long]
          } finally {
            val leftovers = Files.list(tmp)
            try leftovers.iterator().asScala.foreach(Files.deleteIfExists(_))
            finally leftovers.close()
            Files.deleteIfExists(tmp)
          }
      }
      if (conf.manifest) {
        def js(s: String) = "\"" + s.flatMap {
          case '"' => "\\\""; case '\\' => "\\\\"
          case c if c < ' ' => f"\\u${c.toInt}%04x"
          case c => c.toString
        } + "\""
        val body =
          s"""{"file": ${js(conf.fileName)}, "format": ${js(conf.format.toString)}, """ +
            s""""codec": ${conf.codec.fold("null")(js)}, "rows": $rows, """ +
            s""""columns": [${header.map(js).mkString(", ")}]}"""
        store.putOverwrite(conf.folder, conf.fileName + ".manifest.json",
          out => out.write(body.getBytes(java.nio.charset.StandardCharsets.UTF_8)))
        log("Exported manifest", s"${conf.fileName}.manifest.json")
      }
      log("Exported file", s"${conf.fileName}: $rows rows")
    } catch { case NonFatal(e) =>
      errors += s"export failed: ${e.getMessage}"
      log("Export failed", e.getMessage)
    } finally errors ++= audit.flush()
    ExportReport(rows, errors.toSeq)
  }

  /** Stream codecs for the driver-streamed text formats. The upload byte
    * stream is wrapped, not a temp file — compression is in-flight. gzip
    * and deflate ride the JDK; zstd rides the zstd-jni already on every
    * Spark classpath (it backs parquet/shuffle compression) and is what
    * a bulk hand-off actually ships — ~gzip ratios at several times the
    * throughput. closeFrameOnFlush lets [[finishCodec]] end the zstd
    * frame without closing the store's stream (the JDK codecs' finish()
    * contract). */
  private def wrapCodec(out: java.io.OutputStream,
      codec: Option[String]): java.io.OutputStream = codec match {
    case None => out
    case Some("gzip") => new java.util.zip.GZIPOutputStream(out)
    case Some("deflate") => new java.util.zip.DeflaterOutputStream(out)
    case Some("zstd") =>
      new com.github.luben.zstd.ZstdOutputStream(out).setCloseFrameOnFlush(true)
    case Some(other) => throw new IllegalArgumentException(
      s"unsupported export codec '$other' (gzip, deflate, zstd)")
  }

  /** Codec streams buffer internally; finish the frame/trailer without
    * closing the underlying store stream. */
  private def finishCodec(out: java.io.OutputStream): Unit = out match {
    case z: com.github.luben.zstd.ZstdOutputStream => z.flush()
    case d: java.util.zip.DeflaterOutputStream => d.finish()
    case _ => ()
  }

  /** RFC-4180 field escaping: quote when the value holds a comma, quote,
    * or line break; quotes double inside. */
  private def csvField(s: String): String =
    if (s.exists(c => c == ',' || c == '"' || c == '\n' || c == '\r'))
      "\"" + s.replace("\"", "\"\"") + "\""
    else s

  /** Distributed partitioned export — the scale path the single-named-
    * file contract above deliberately is not: every executor writes its
    * own files under `dir/<col>=<value>/...` via Spark's writer
    * (`partitionBy` + csv/json/parquet), so the export is as parallel
    * as the final stage and the driver never sees a row. Use for bulk
    * hand-offs (downstream Spark/DuckDB/warehouse loaders all read
    * hive-partitioned layouts); use [[execute]] when the consumer wants
    * ONE named artifact (xlsx/csv attachment). Returns the exact row
    * count, observed on the write itself (no second scan). */
  def exportPartitioned(
      df: org.apache.spark.sql.DataFrame, dir: String, format: String,
      partitionCols: Seq[String], codec: Option[String] = None): Long = {
    require(Seq("csv", "json", "parquet").contains(format),
      s"unsupported format: $format")
    val obs = org.apache.spark.sql.Observation()
    var w = df.observe(obs, count(lit(1)).as("rows"))
      .write.mode("overwrite").partitionBy(partitionCols: _*)
    if (format == "csv") w = w.option("header", true)
    codec.foreach(c => w = w.option("compression", c))
    w.format(format).save(dir)
    obs.get("rows").asInstanceOf[Long]
  }
}
