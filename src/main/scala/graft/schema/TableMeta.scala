package graft.schema

import org.apache.spark.sql.types._

/** Declared field spec — mirrors the reference's metadata dict entries
  * (reference: data_ingestion_tool/box_ingest.py:93-112; README.md:49).
  *
  * Type names follow the reference's accepted strings: "int", "float",
  * "date", "timestamp", anything else => string
  * (box_ingest.py:103-112).
  */
final case class FieldSpec(name: String, typeName: String, nullable: Boolean) {
  /** Normalized (lowercased, trimmed) output column name — the reference
    * emits validated rows keyed by `col.lower()` (box_ingest.py:89,:93).
    */
  def outName: String = name.trim.toLowerCase

  def dataType: DataType = typeName.trim.toLowerCase match {
    case "int"       => LongType
    case "float"     => DoubleType
    case "date"      => DateType
    case "timestamp" => TimestampType
    case _           => StringType
  }
}

/** A declared table schema: ordered fields, each with its nullability.
  *
  * The reference models this as `Dict[col -> type]` with a magic key
  * `"non_nullable_fields": List[str]` (box_ingest.py:93-94, :171). Here it
  * is a typed structure; `fromMetadata` accepts the dict-shaped form.
  */
final case class TableMeta(fields: Seq[FieldSpec])

object TableMeta {
  /** Build from the reference's metadata-dict shape: an ordered list of
    * (column -> type string) plus the non-nullable column list. Column
    * matching downstream is case-insensitive (box_ingest.py:89-90).
    */
  def fromMetadata(
      metadata: Seq[(String, String)],
      nonNullableFields: Seq[String] = Nil): TableMeta = {
    val nn = nonNullableFields.map(_.trim.toLowerCase).toSet
    TableMeta(metadata.map { case (name, tpe) =>
      FieldSpec(name, tpe, nullable = !nn.contains(name.trim.toLowerCase))
    })
  }
}
