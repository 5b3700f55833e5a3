package graft.core

/** The engine's column type system: VStream wire type (+ MySQL column
  * type string) → logical type.
  *
  * Behavior mirrors the reference's type resolution
  * (src/main/java/io/debezium/connector/vitess/VitessType.java:94-217):
  * text-typed BLOB/VARBINARY/BINARY become strings, enum/set carry their
  * allowed values, UINT64/DECIMAL stay precise-by-string, unknown types
  * are opaque.
  */
sealed trait GraftType

object GraftType {
  case object Int16Type extends GraftType
  case object Int32Type extends GraftType
  case object Int64Type extends GraftType
  case object Float32 extends GraftType
  case object Float64 extends GraftType
  /** Unsigned 64-bit; default mode keeps the precise string. */
  case object UInt64 extends GraftType
  /** MySQL DECIMAL — precise-by-string (the reference default exposes
    * decimals as strings too unless decimal.handling.mode says otherwise). */
  case object DecimalStr extends GraftType
  /** MySQL DECIMAL under decimal.handling.mode=precise: typed with the
    * precision/scale parsed from the column definition (the wire FieldDef
    * carries columnLength/decimals), so downstream extraction gets a real
    * DecimalType(p,s) without a hand-written from_json schema. */
  final case class DecimalT(precision: Int, scale: Int) extends GraftType
  case object Text extends GraftType
  case object Json extends GraftType
  case object Bytes extends GraftType
  final case class Bits(length: Int) extends GraftType
  /** Decoded to its label. */
  final case class Enum(values: Seq[String], stringValued: Boolean) extends GraftType
  /** Decoded to its comma-joined labels. */
  final case class SetT(values: Seq[String], stringValued: Boolean) extends GraftType
  case object DateT extends GraftType
  /** TIME(p): Spark has no time-of-day type; emit micros since midnight. */
  final case class TimeT(precision: Int) extends GraftType
  /** DATETIME(p): wall-clock, no zone. */
  final case class DatetimeT(precision: Int) extends GraftType
  /** TIMESTAMP(p): UTC instant. */
  final case class TimestampT(precision: Int) extends GraftType
  case object YearT extends GraftType
  /** Unknown wire type: opaque bytes, included only when configured. */
  case object Unknown extends GraftType

  private def columnTypeMatches(columnType: String, prefix: String): Boolean = {
    val u = columnType.toUpperCase
    u == prefix || u.startsWith(prefix + "(")
  }

  private def columnTypeMatchesAny(columnType: String, prefixes: String*): Boolean =
    prefixes.exists(columnTypeMatches(columnType, _))

  /** Resolve a FIELD event's wire type. `columnType` is the MySQL column
    * definition (e.g. "enum('a','b')", "text"); `isEnumSetStringValue` is
    * true during the copy phase, when the server sends enum/set values as
    * label strings instead of index/bitmask. */
  private val DecimalDef = "(?i)decimal\\((\\d+)(?:,(\\d+))?\\)".r

  /** Precision/scale of a DECIMAL column: parsed from the column
    * definition (`decimal(13,4)`), falling back to the wire
    * columnLength/decimals when the definition is bare. */
  def decimalPrecisionScale(columnType: String, columnLength: Int, decimals: Int): (Int, Int) =
    columnType match {
      case DecimalDef(p, s) => (p.toInt, Option(s).map(_.toInt).getOrElse(0))
      case _ => (math.max(columnLength, 1), decimals)
    }

  def resolve(
      wireType: String,
      columnType: String = "",
      columnLength: Int = 0,
      decimals: Int = 0,
      isEnumSetStringValue: Boolean = false,
      decimalPrecise: Boolean = false): GraftType = wireType match {
    case "INT8" | "UINT8" | "INT16" => Int16Type
    case "UINT16" | "INT24" | "UINT24" | "INT32" => Int32Type
    case "YEAR" => YearT
    case "UINT32" | "INT64" => Int64Type
    case "UINT64" => UInt64
    case "FLOAT32" => Float32
    case "FLOAT64" => Float64
    case "DECIMAL" =>
      if (decimalPrecise) {
        val (p, sc) = decimalPrecisionScale(columnType, columnLength, decimals)
        DecimalT(p, sc)
      } else DecimalStr
    case "ENUM" => Enum(parseEnumOrSetValues(columnType), isEnumSetStringValue)
    case "SET" => SetT(parseEnumOrSetValues(columnType), isEnumSetStringValue)
    case "BLOB" =>
      if (columnTypeMatchesAny(columnType, "TINYTEXT", "TEXT", "MEDIUMTEXT", "LONGTEXT")) Text
      else Bytes
    case "VARBINARY" =>
      if (columnTypeMatches(columnType, "VARCHAR")) Text else binaryOrTextual(columnType, isEnumSetStringValue)
    case "BINARY" => binaryOrTextual(columnType, isEnumSetStringValue)
    case "VARCHAR" | "CHAR" | "TEXT" => Text
    case "JSON" => Json
    case "TIME" => TimeT(decimals)
    case "DATE" => DateT
    case "DATETIME" => DatetimeT(decimals)
    case "TIMESTAMP" => TimestampT(decimals)
    case "BIT" => Bits(columnLength)
    case _ => Unknown
  }

  /** BINARY/VARBINARY columns whose MySQL column type is textual (CHAR /
    * ENUM / SET with a binary charset) decode as their textual type. */
  private def binaryOrTextual(columnType: String, stringValued: Boolean): GraftType =
    if (columnTypeMatches(columnType, "CHAR")) Text
    else if (columnTypeMatches(columnType, "ENUM")) Enum(parseEnumOrSetValues(columnType), stringValued)
    else if (columnTypeMatches(columnType, "SET")) SetT(parseEnumOrSetValues(columnType), stringValued)
    else Bytes

  /** Parse `enum('m','l','xl')` / `set('a','b')` definitions; a doubled
    * `''` inside a value is an escaped single quote. */
  def parseEnumOrSetValues(definition: String): Seq[String] = {
    if (definition == null || definition.isEmpty) return Nil
    val values = Vector.newBuilder[String]
    val sb = new StringBuilder
    var collecting = false
    var i = 0
    val chars = definition.toCharArray
    while (i < chars.length) {
      if (chars(i) == '\'') {
        if (i + 1 < chars.length && chars(i + 1) == '\'' && collecting) {
          sb.append('\''); i += 1
        } else {
          if (collecting) { values += sb.toString(); sb.setLength(0) }
          collecting = !collecting
        }
      } else if (collecting) sb.append(chars(i))
      i += 1
    }
    values.result()
  }
}

/** MySQL column flags carried on FIELD events (public MySQL protocol
  * constants). */
object ColumnFlags {
  val NotNull: Long = 1L
  val PriKey: Long = 1L << 1
  val UniqueKey: Long = 1L << 2

  def isNotNull(flags: Long): Boolean = (flags & NotNull) != 0
  def isPrimaryKey(flags: Long): Boolean = (flags & PriKey) != 0
  def isUniqueKey(flags: Long): Boolean = (flags & UniqueKey) != 0
}

/** One column of a stream-inferred table schema. */
final case class ColumnMeta(
    name: String,
    graftType: GraftType,
    optional: Boolean,
    primaryKey: Boolean,
    uniqueKey: Boolean)

object ColumnMeta {
  /** Column names must be real: Vitess's schema-reload bug surfaces as
    * anonymized `@1`, `@2`… names — fail fast (reference:
    * VStreamOutputMessageDecoder.java:456-470). */
  def validateName(name: String): Unit = {
    require(name != null && name.nonEmpty, "empty column name")
    require(!(name.startsWith("@") && name.drop(1).forall(_.isDigit)),
      s"anonymized column name '$name' indicates upstream schema reload failure")
  }

  def of(name: String, graftType: GraftType, flags: Long): ColumnMeta = {
    validateName(name)
    ColumnMeta(name, graftType,
      optional = !ColumnFlags.isNotNull(flags),
      primaryKey = ColumnFlags.isPrimaryKey(flags),
      uniqueKey = ColumnFlags.isUniqueKey(flags))
  }
}

/** Table identity: (shard, keyspace, table) — each shard keeps an
  * independent schema copy (reference: VitessDatabaseSchema.java:115-117). */
final case class TableRef(shard: String, keyspace: String, table: String) {
  def qualified: String = s"$keyspace.$table"
}

/** One table's stream-inferred schema. Key = PK columns; fallback = the
  * first single-column unique key (reference:
  * VStreamOutputMessageDecoder.resolveTable, :402-449). */
final case class TableMeta(ref: TableRef, columns: Seq[ColumnMeta]) {
  def keyColumns: Seq[String] = {
    val pks = columns.filter(_.primaryKey).map(_.name)
    if (pks.nonEmpty) pks
    else columns.find(_.uniqueKey).map(_.name).toSeq
  }
}
