package graft.validate

import graft.schema.{FieldSpec, TableMeta}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Distributed validate-and-split (reference: box_ingest.py:85-122).
  *
  * The reference walks every row in driver-local pandas
  * (`iterrows()`, box_ingest.py:88), accumulating per-row error strings and
  * splitting into (valid, invalid). Here the same semantics are one
  * narrow, shuffle-free projection: per declared column we compute a typed
  * cast plus an error expression, collect errors into an array, and derive
  * both output sides from the single error column. No data ever touches
  * the driver. The error list is `filter(array(errs…), e => e.isNotNull)`,
  * an interpreted higher-order function (`CodegenFallback`), so the
  * operators that evaluate it run outside whole-stage codegen.
  *
  * Error classes (messages per box_ingest.py:96-119):
  *   - "Missing column: X"                    (box_ingest.py:96-97)
  *   - "Null value in non-nullable column: X" (box_ingest.py:98-100)
  *   - "Type mismatch for column: X"          (box_ingest.py:103-112)
  *
  * Cast accept-grammar is pinned in FIXTURES.md (pandas leniency is not
  * reproducible; deviations documented there):
  *   int:       optional-sign digit string; integral numeric
  *   float:     anything Spark can cast to double
  *   date:      yyyy-MM-dd | yyyy/MM/dd | MM/dd/yyyy | yyyy-MM-dd HH:mm:ss
  *   timestamp: strictly yyyy-MM-dd HH:mm:ss (box_ingest.py:110)
  *   string:    anything non-null
  *
  * Parity nuance (SURVEY §2 O13): the reference *omits* nullable-null
  * columns from the output dict per row; relationally they are NULL here.
  *
  * Invalid records are stored as JSON (`to_json(struct(*))`), not Python
  * `str(dict)` repr (box_ingest.py:117) — semantic, not byte, parity.
  */
object ValidateAndSplit {

  val DateFormats: Seq[String] =
    Seq("yyyy-MM-dd", "yyyy/MM/dd", "MM/dd/yyyy", "yyyy-MM-dd HH:mm:ss")
  val TimestampFormat: String = "yyyy-MM-dd HH:mm:ss"

  final case class Split(valid: DataFrame, invalid: DataFrame)

  /** A user-defined row-level constraint evaluated on the TYPED values
    * (post-cast), extending the reference's fixed three error classes
    * with domain rules (ranges, enums, cross-column relations). The
    * predicate receives a resolver from declared (lowercased) field
    * name to its typed column and must evaluate TRUE for the row to
    * pass; a NULL result counts as a violation, so predicates over
    * nullable fields should null-guard explicitly (`c.isNull || c >= 0`
    * to accept nulls). Violations append "Rule violated: <name>" to the
    * same error accumulator — still one narrow codegen'd projection,
    * still zero shuffles. */
  final case class RowRule(name: String, predicate: (String => Column) => Column)

  /** Errors column name used internally; never escapes the operator. */
  private val ErrCol = "__graft_errs"

  def apply(raw: DataFrame, meta: TableMeta): Split = apply(raw, meta, Nil)

  def apply(raw: DataFrame, meta: TableMeta, rules: Seq[RowRule]): Split = {
    // O10: strip whitespace from header names (box_ingest.py:160).
    val df = raw.toDF(raw.columns.map(_.trim): _*)
    // O11: case-insensitive column resolution (box_ingest.py:89-90).
    val byLower: Map[String, String] =
      df.columns.reverse.map(c => c.toLowerCase -> c).toMap

    // Each declared field's input column (if any) and its typed value,
    // built once and shared by the type-mismatch check, the rule
    // resolver and the valid projection.
    val perField: Seq[(FieldSpec, Option[String], Column)] =
      meta.fields.map { f =>
        val in = byLower.get(f.outName)
        val typed = in.fold(lit(null).cast(f.dataType))(i =>
          castedOrNull(col(quoted(i)), df.schema(i).dataType, f))
        (f, in, typed)
      }

    // One error expression per declared field (null => no error).
    val errExprs: Seq[Column] = perField.map {
      case (f, None, _) =>
        // O12: constant per file — reference re-checks per row
        // (box_ingest.py:96-97); the answer is the same for every row.
        // Messages carry the DECLARED-case name (reference interpolates the
        // metadata key itself, box_ingest.py:96-119); outName is only for
        // resolution and output naming.
        lit(s"Missing column: ${f.name}")
      case (f, Some(in), typed) =>
        val c = col(quoted(in))
        val nullErr =
          if (f.nullable) lit(null).cast(StringType)
          else when(c.isNull, lit(s"Null value in non-nullable column: ${f.name}"))
        val castErr = when(c.isNotNull && typed.isNull,
          lit(s"Type mismatch for column: ${f.name}"))
        coalesce(nullErr, castErr)
    }

    // Typed view of every declared field, for rule predicates.
    val typedByName: Map[String, Column] =
      perField.map { case (f, _, typed) => f.outName -> typed }.toMap
    def resolve(name: String): Column =
      typedByName.getOrElse(name.toLowerCase,
        throw new IllegalArgumentException(
          s"RowRule references undeclared field: $name"))
    val ruleErrs: Seq[Column] = rules.map { r =>
      when(!coalesce(r.predicate(resolve), lit(false)),
        lit(s"Rule violated: ${r.name}"))
    }

    val withErrs = df.withColumn(
      ErrCol,
      filter(array(errExprs ++ ruleErrs: _*), e => e.isNotNull))

    val validCols: Seq[Column] =
      perField.map { case (f, _, typed) => typed.as(f.outName) }

    val valid = withErrs
      .where(size(col(ErrCol)) === 0)
      .select(validCols: _*)

    // O20: invalid rows stringified with the error list joined by "; "
    // (box_ingest.py:115-119).
    val invalid = withErrs
      .where(size(col(ErrCol)) > 0)
      .select(
        to_json(struct(df.columns.map(c => col(quoted(c))): _*)).as("record"),
        concat_ws("; ", col(ErrCol)).as("error_type"))

    Split(valid, invalid)
  }

  /** Typed value, or NULL when the input can't be converted. Works under
    * ANSI or non-ANSI mode: every conversion is gated or try_-based, so it
    * never throws at runtime.
    */
  private[graft] def castedOrNull(c: Column, inType: DataType, f: FieldSpec): Column =
    (f.dataType, inType) match {
      // ---- int (reference int(v), box_ingest.py:103-104) ----
      case (LongType, _: ByteType | _: ShortType | _: IntegerType | _: LongType) =>
        c.cast(LongType)
      case (LongType, _: FloatType | _: DoubleType | _: DecimalType) =>
        // integral numerics only ("3.5" rejected, 3.0 accepted — FIXTURES)
        when(c === floor(c), c.cast(LongType))
      case (LongType, StringType) =>
        // digits-only gate, decimal(20,0) intermediate so bigint overflow
        // yields NULL (=> type-mismatch error) instead of an ANSI throw
        val t = trim(c)
        val d = when(t.rlike("^[+-]?\\d{1,19}$"), t.cast(DecimalType(20, 0)))
        when(d.between(Long.MinValue, Long.MaxValue), d.cast(LongType))
      case (LongType, _) => lit(null).cast(LongType)

      // ---- float (reference float(v), box_ingest.py:105-106) ----
      case (DoubleType, _: NumericType) => c.cast(DoubleType)
      case (DoubleType, StringType) =>
        val t = trim(c)
        when(t.rlike("^[+-]?(\\d+(\\.\\d*)?|\\.\\d+)([eE][+-]?\\d+)?$"),
          t.cast(DoubleType))
      case (DoubleType, _) => lit(null).cast(DoubleType)

      // ---- date (reference pd.to_datetime(v).date(), box_ingest.py:107-108) ----
      case (DateType, DateType)      => c
      case (DateType, TimestampType) => c.cast(DateType)
      case (DateType, StringType) =>
        coalesce(DateFormats.map(fmt => try_to_timestamp(trim(c), lit(fmt))): _*)
          .cast(DateType)
      case (DateType, _) => lit(null).cast(DateType)

      // ---- timestamp (strict single format, box_ingest.py:109-110) ----
      case (TimestampType, TimestampType) => c
      case (TimestampType, DateType)      => c.cast(TimestampType)
      case (TimestampType, StringType) =>
        try_to_timestamp(trim(c), lit(TimestampFormat))
      case (TimestampType, _) => lit(null).cast(TimestampType)

      // ---- string (reference str(v), box_ingest.py:111-112) ----
      case (StringType, _) => c.cast(StringType)

      case _ => lit(null).cast(f.dataType)
    }

  private def quoted(name: String): String = s"`${name.replace("`", "``")}`"
}
