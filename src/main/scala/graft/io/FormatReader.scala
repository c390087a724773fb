package graft.io

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import java.nio.file.Path
import scala.jdk.CollectionConverters._

/** Format dispatch (reference O6-O9, box_ingest.py:148-159): csv / json /
  * xlsx|xlsm are parsed, anything else is rejected with a reason. CSV and
  * JSON go through Spark's distributed readers with schema inference
  * (mirroring pandas inference); xlsx is materialized driver-side exactly
  * like the reference (openpyxl is also driver-side). parquet / orc are
  * an extension beyond the reference surface (native vectorized readers,
  * schema carried in the file).
  */
object FormatReader {

  sealed trait ReadResult
  final case class Parsed(df: DataFrame) extends ReadResult
  final case class Unsupported(reason: String) extends ReadResult

  /** @param encoding charset for CSV sources (e.g. "ISO-8859-1" for a
    *   latin-1 extract). Default UTF-8 — a DEVIATION from the reference,
    *   whose pd.read_csv sniffs encodings heuristically; an explicit
    *   charset beats a guess that silently mojibakes (FIXTURES.md). Other
    *   formats carry their own encoding (JSON is UTF-8 by spec, xlsx XML
    *   declares it, parquet/orc are binary). */
  def read(spark: SparkSession, file: Path,
      sheetName: Option[String] = None, skipRows: Int = 0,
      encoding: Option[String] = None,
      allSheets: Boolean = false): ReadResult = {
    val name = file.getFileName.toString.toLowerCase
    val ext = name.drop(name.lastIndexOf('.') + 1)
    ext match {
      case "csv" =>
        // pd.read_csv parses quoted fields spanning lines by DEFAULT;
        // Spark only under multiLine=true, which disables input
        // splitting (whole file → one task). So pay for parity only
        // when needed: a quoted newline exists iff some physical line
        // carries an ODD number of double quotes. False positives (a
        // stray quote in a malformed file) merely cost splitting, never
        // correctness.
        Parsed(spark.read
          .option("header", true)
          .option("inferSchema", true)
          .option("encoding", encoding.getOrElse("UTF-8"))
          .option("multiLine", hasOddQuoteLine(file))
          .csv(file.toString))
      case "json" =>
        // The reference's pd.read_json (box_ingest.py:150-151) accepts
        // three shapes: a whole-document array of records (its default
        // orientation), line-delimited records, and a column-oriented
        // single object {"col": {"label": value, ...}, ...}. A JSON-lines
        // file under multiLine would silently yield only its FIRST
        // record, and a column-oriented document under the lines reader
        // mis-parses as one struct-valued record — so sniff the document
        // shape byte-wise before choosing the reader.
        sniffJson(file) match {
          case JsonShape.ArrayDoc =>
            Parsed(spark.read.option("multiLine", true).json(file.toString))
          case JsonShape.Lines =>
            Parsed(spark.read.json(file.toString))
          case JsonShape.Columns =>
            Parsed(fromColumnOrientedJson(spark, file))
        }
      case "xlsx" | "xlsm" =>
        if (allSheets) Parsed(fromXlsxAllSheets(spark, file, skipRows))
        else Parsed(fromXlsx(spark, file, sheetName, skipRows))
      // Columnar formats — an extension beyond the reference's csv/json/
      // excel surface (box_ingest.py:148-159): batches landed by other
      // pipelines arrive as parquet/orc, and both ride Spark's native
      // vectorized readers with the schema carried in the file.
      case "parquet" =>
        Parsed(spark.read.parquet(file.toString))
      case "orc" =>
        Parsed(spark.read.orc(file.toString))
      // Avro object containers (see io.Avro): sync-marker-aligned input
      // splits, writer schema pinned from the first header — no
      // spark-avro datasource on this classpath.
      case "avro" =>
        Parsed(Avro.read(spark, file.toString))
      // Fixed-width text (pandas read_fwf's default mode): column
      // boundaries inferred from the character positions that are blank
      // in every sampled line. Mainframe/ERP extracts still arrive in
      // this shape; see fromFwf for the inference contract.
      case "fwf" =>
        Parsed(fromFwf(spark, file))
      case other =>
        Unsupported(s"Unsupported file type: .$other")
    }
  }

  /** Lenient JSON-lines read for crawl-grade inputs: malformed lines are
    * CAPTURED, never fatal and never silently dropped. PERMISSIVE parse
    * against an explicit schema with a corrupt-record column; returns
    * (good rows, corrupt raw lines). The reference's pd.read_json throws
    * on the first bad byte — at 100 TB a single mangled line must cost
    * one quarantined row, not the batch. The frame is cached before the
    * split: Spark disallows filtering on the corrupt column alone
    * straight off the scan (internal-column restriction), and the cache
    * also makes the two returned frames one parse, not two. */
  def fromJsonLenient(spark: SparkSession, path: String,
      schema: org.apache.spark.sql.types.StructType): (DataFrame, DataFrame) = {
    require(!schema.fieldNames.contains("_corrupt"),
      "fromJsonLenient: schema may not already contain _corrupt")
    val withCorrupt = schema.add("_corrupt",
      org.apache.spark.sql.types.StringType)
    val raw = spark.read.schema(withCorrupt)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt")
      .json(path)
      .cache()
    (raw.where(col("_corrupt").isNull).drop("_corrupt"),
      raw.where(col("_corrupt").isNotNull).select(col("_corrupt").as("raw")))
  }

  private[io] object JsonShape extends Enumeration {
    val ArrayDoc, Lines, Columns = Value
  }
  private type JsonShape = JsonShape.Value

  /** True when some physical line of `file` holds an odd number of `"`
    * bytes. One streaming byte pass on the driver (the file is already
    * local), stopping at the first such line. A line ends at `\n` or `\r`:
    * counting a `\r\n` pair as two ends adds only an empty line, which has
    * no quotes. Byte 0x22 is `"` in UTF-8 and in every ASCII-compatible
    * charset, so the decision needs no decoding. */
  private[io] def hasOddQuoteLine(file: Path): Boolean = {
    val in = java.nio.file.Files.newInputStream(file)
    try {
      val buf = new Array[Byte](1 << 16)
      var odd = false
      var n = in.read(buf)
      while (n != -1) {
        var i = 0
        while (i < n) {
          val b = buf(i)
          if (b == '"') odd = !odd
          else if ((b == '\n' || b == '\r') && odd) return true
          i += 1
        }
        n = in.read(buf)
      }
      odd
    } finally in.close()
  }

  /** Byte-level shape sniff. '[' first => whole-document array. '{' first:
    * scan the first top-level value (tracking string/escape state and
    * brace depth); if the document holds exactly ONE top-level value whose
    * first member value is itself an object, that is pandas' "columns"
    * orientation; otherwise treat as line-delimited records. The scan is a
    * single streaming pass with O(1) state — no materialization — and for
    * the common json-lines case it stops at the end of the first line.
    */
  private[io] def sniffJson(file: Path): JsonShape = {
    val in = new java.io.BufferedInputStream(
      java.nio.file.Files.newInputStream(file))
    try {
      var b = in.read()
      while (b != -1 && Character.isWhitespace(b)) b = in.read()
      if (b == '[') return JsonShape.ArrayDoc
      if (b != '{') return JsonShape.Lines
      // inside the first top-level object
      var depth = 1
      var inString = false
      var escaped = false
      var firstValueIsObject = false
      var firstValueSeen = false
      b = in.read()
      while (b != -1 && depth > 0) {
        if (inString) {
          if (escaped) escaped = false
          else if (b == '\\') escaped = true
          else if (b == '"') inString = false
        } else b match {
          case '"'       => inString = true
          case '{' | '[' => depth += 1
          case '}' | ']' => depth -= 1
          case ':' =>
            if (depth == 1 && !firstValueSeen) {
              // peek the first non-ws byte of the first member value
              var v = in.read()
              while (v != -1 && Character.isWhitespace(v)) v = in.read()
              if (v == -1) return JsonShape.Lines
              firstValueIsObject = v == '{'
              firstValueSeen = true
              if (v == '{' || v == '[') depth += 1
              else if (v == '"') inString = true
            }
          case _ => ()
        }
        b = in.read()
      }
      // single top-level value => nothing but whitespace may remain
      var t = in.read()
      while (t != -1 && Character.isWhitespace(t)) t = in.read()
      if (t == -1 && firstValueIsObject) JsonShape.Columns else JsonShape.Lines
    } finally in.close()
  }

  /** Column-oriented JSON (`pd.read_json` "columns" orientation,
    * box_ingest.py:150-151): a single object whose members are columns,
    * each keyed by row label. Read the whole document with the multiLine
    * reader (one row, one struct per column), then pivot distributively:
    * explode one struct per row label. Row labels are the union across
    * columns (pandas semantics — absent labels become null), ordered
    * numerically when all-numeric. Per-column output type is the tightest
    * common type of that column's label fields (all-equal wins, numeric
    * mix widens to double, anything else strings — pandas object dtype).
    */
  private def fromColumnOrientedJson(spark: SparkSession, file: Path): DataFrame = {
    val raw = spark.read.option("multiLine", true).json(file.toString)
    val cols: Seq[(String, StructType)] = raw.schema.fields.toSeq.map {
      case StructField(n, st: StructType, _, _) => (n, st)
      case f => throw new IllegalArgumentException(
        s"column-oriented JSON: member '${f.name}' is not an object")
    }
    val labels: Seq[String] = {
      val all = cols.flatMap(_._2.fieldNames).distinct
      if (all.nonEmpty && all.forall(_.matches("-?\\d+")))
        all.sortBy(_.toLong)
      else all.sorted
    }
    def common(ts: Seq[DataType]): DataType =
      if (ts.distinct.lengthCompare(1) == 0) ts.head
      else if (ts.forall(_.isInstanceOf[NumericType])) DoubleType
      else StringType
    val outType: Map[String, DataType] = cols.map { case (n, st) =>
      n -> common(labels.flatMap(l =>
        st.fields.find(_.name == l).map(_.dataType)))
    }.toMap
    val rowStructs: Seq[Column] = labels.map { l =>
      struct(cols.map { case (n, st) =>
        val v = if (st.fieldNames.contains(l)) col(n).getField(l)
                else lit(null)
        v.cast(outType(n)).as(n)
      }: _*)
    }
    raw.select(explode(array(rowStructs: _*)).as("__row"))
      .select(col("__row.*"))
  }

  /** Xlsx rows -> all-string DataFrame: header from the first (post-skip)
    * row, like pandas read_excel; empty header cells become _cN. Types are
    * resolved later by validation casts / copy-mode conformance, which is
    * where the reference resolves them too.
    */
  private def fromXlsx(spark: SparkSession, file: Path,
      sheetName: Option[String], skipRows: Int): DataFrame =
    xlsxRowsToDf(spark, Xlsx.read(file, sheetName, skipRows))

  /** pandas `sheet_name=None` mode (the reference passes sheet_name
    * verbatim to pd.read_excel, box_ingest.py:152-156): every sheet is
    * read with its own header row, tagged with a `_sheet` provenance
    * column, and unioned BY NAME — sheets whose headers differ
    * contribute null for columns they lack, so a workbook of monthly
    * tabs with a drifting column set still lands as one relation. */
  private def fromXlsxAllSheets(spark: SparkSession, file: Path,
      skipRows: Int): DataFrame = {
    val dfs = Xlsx.readAllSheets(file, skipRows).flatMap { case (name, rows) =>
      val df = xlsxRowsToDf(spark, rows)
      if (df.columns.isEmpty) None // empty sheet contributes nothing
      else Some(df.withColumn("_sheet", lit(name)))
    }
    if (dfs.isEmpty)
      spark.createDataFrame(new java.util.ArrayList[Row](), StructType(Nil))
    else dfs.reduce(_.unionByName(_, allowMissingColumns = true))
  }

  private def xlsxRowsToDf(spark: SparkSession,
      all: Seq[Seq[Option[String]]]): DataFrame = {
    if (all.isEmpty)
      return spark.createDataFrame(
        new java.util.ArrayList[Row](), StructType(Nil))
    val header = all.head.zipWithIndex.map {
      case (Some(h), _) => h
      case (None, i)    => s"_c$i"
    }
    val n = header.length
    val rows = all.tail.map { r =>
      Row.fromSeq((0 until n).map(i =>
        r.lift(i).flatten.orNull))
    }
    spark.createDataFrame(rows.asJava,
      StructType(header.map(h => StructField(h, StringType, nullable = true))))
  }

  /** Fixed-width reader, pandas-read_fwf-style inference: a character
    * position is a SEPARATOR iff it is blank (or past end-of-line) in
    * every one of the first `inferLines` lines; fields are the maximal
    * runs between separator columns, named from the header line. The
    * INFERENCE reads only the bounded sample on the driver (the file is
    * already staged locally, like xlsx); the PARSE is distributed —
    * Spark's csv reader with an unlikely delimiter yields one
    * whole-line column per row with the header consumed, and each field
    * is a codegen'd substring+trim. All columns come out as nullable
    * strings (blank → NULL): the validate path owns typing, exactly as
    * for csv ingest. Lines shorter than a field's start simply yield
    * NULL for it.
    *
    * Post-sample lines are VALIDATED against the inferred layout, not
    * trusted: a line past the first `inferLines` whose non-blank chars
    * reach an inferred separator position (or that is wider than every
    * sampled line) would be silently truncated by the fixed substrings —
    * instead the parse raises a descriptive error naming the line, which
    * the ingest orchestrator's per-file catch routes to the failure log
    * (O29 log-only error path). Widen `inferLines` (surfaced through
    * [[read]]) when a ragged extract legitimately needs a larger sample. */
  private[io] def fromFwf(spark: SparkSession, file: Path,
      inferLines: Int = 100): DataFrame = {
    val src = scala.io.Source.fromFile(file.toFile, "UTF-8")
    val sample = try src.getLines().take(inferLines).toVector
      finally src.close()
    require(sample.nonEmpty && sample.head.trim.nonEmpty,
      s"fwf: empty file or blank header: $file")
    val width = sample.map(_.length).max
    val isSep = (0 until width).map(p =>
      sample.forall(l => p >= l.length || l.charAt(p) == ' '))
    val specs = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]
    var p = 0
    while (p < width) {
      if (!isSep(p)) {
        val start = p
        while (p < width && !isSep(p)) p += 1
        specs += ((start, p))
      } else p += 1
    }
    require(specs.nonEmpty, s"fwf: no data columns inferred: $file")
    val names = specs.map { case (s, e) =>
      sample.head.slice(s, math.min(e, sample.head.length)).trim
    }
    require(names.forall(_.nonEmpty),
      s"fwf: header slice empty for a column: $file")
    import org.apache.spark.sql.functions.{col => c, length => len,
      substring, trim, when, assert_true, concat, lit}
    // Layout guard: a line is consistent with the inferred layout iff it
    // is no wider than the sample and every separator position it covers
    // is blank. One anchored regex, one alternation branch per run
    // prefix (the line may legitimately end inside any run).
    val runs = {
      val buf = scala.collection.mutable.ArrayBuffer.empty[(Boolean, Int)]
      var i = 0
      while (i < width) {
        val f = !isSep(i); val start = i
        while (i < width && isSep(i) != f) i += 1
        buf += ((f, i - start))
      }
      buf.toVector
    }
    val layoutPat = {
      val alts = scala.collection.mutable.ArrayBuffer.empty[String]
      var prefix = ""
      runs.foreach { case (isField, l) =>
        val cls = if (isField) "." else " "
        alts += s"(?:$prefix$cls{0,$l})"
        prefix += s"$cls{$l}"
      }
      alts.mkString("^(?:", "|", ")$")
    }
    // U+0001 never occurs in text extracts, so each row surfaces as one
    // whole-line column; quoting is disabled so a '"' at line start
    // stays verbatim.
    val one = spark.read
      .option("header", true).option("delimiter", "\u0001")
      .option("quote", "\u0000")
      .csv(file.toString)
    val line = c(s"`${one.columns.head}`")
    one
      .filter(assert_true(line.isNull || line.rlike(layoutPat),
        concat(lit(s"fwf: line violates the layout inferred from the first " +
          s"$inferLines lines of $file (non-blank at a separator column or " +
          s"wider than $width chars): "), line)).isNull)
      .select(specs.zip(names).map { case ((s, e), n) =>
        val raw = trim(substring(line, s + 1, e - s))
        when(len(raw) > 0, raw).as(n)
      }.toSeq: _*)
  }
}
