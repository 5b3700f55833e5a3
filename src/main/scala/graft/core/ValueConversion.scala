package graft.core

import java.nio.charset.StandardCharsets
import java.time.format.{DateTimeFormatterBuilder, DateTimeFormatter}
import java.time.temporal.ChronoField
import java.time.{Duration, LocalDate, LocalDateTime, ZoneOffset}
import java.util.regex.Pattern

/** Raw wire bytes → typed Scala values, with the reference's exact edge
  * semantics (zero-date sentinels, enum index→label, set bitmask→csv,
  * uint64 wraparound, negative/fractional TIME).
  *
  * Behavior mirrors src/main/java/io/debezium/connector/vitess/
  * VitessValueConverter.java:226-543 and connection/
  * ReplicationMessageColumnValueResolver.java:24-61. Pure functions so
  * they back both the row decoder and the Catalyst expressions in
  * graft.functions.
  */
object ValueConversion {

  val Uint64Correction: BigDecimal = BigDecimal("18446744073709551616")

  /** How unsigned 64-bit integers are exposed. */
  sealed trait UInt64Mode
  object UInt64Mode {
    case object AsString extends UInt64Mode
    case object AsLong extends UInt64Mode
    /** Exact: negative wire values (two's-complement wraparound) are
      * corrected by +2^64 into DECIMAL(20,0). */
    case object AsPrecise extends UInt64Mode
  }

  /** binary.handling.mode (reference: Debezium BinaryHandlingMode wired
    * through VitessValueConverter): raw bytes, base64 text, or hex text. */
  sealed trait BinaryMode
  object BinaryMode {
    case object Bytes extends BinaryMode
    case object Base64 extends BinaryMode
    case object Hex extends BinaryMode
  }

  /** decimal.handling.mode (reference: Debezium DecimalHandlingMode wired
    * through VitessValueConverter): precise DECIMAL(p,s), plain string
    * (this engine's default), or lossy double. */
  sealed trait DecimalMode
  object DecimalMode {
    case object AsString extends DecimalMode
    case object Precise extends DecimalMode
    case object AsDouble extends DecimalMode
  }

  /** time.precision.mode (reference: VitessConnectorConfig.java:493-514 —
    * adaptive_time_microseconds default, connect = millisecond epoch
    * values, isostring passes the raw temporal string through unchanged;
    * `adaptive` is rejected). */
  sealed trait TemporalMode
  object TemporalMode {
    case object AdaptiveMicros extends TemporalMode
    case object ConnectMillis extends TemporalMode
    case object IsoString extends TemporalMode
  }

  /** User-facing handling-mode bundle, the engine's analogue of the
    * reference's type-handling configs
    * (VitessConnectorConfig.java:123-186 `bigint.unsigned.handling.mode`,
    * Debezium `binary.handling.mode`, :482-514 `time.precision.mode`).
    * Parsed from the same option names on the `vitess-cdc` source and the
    * batch pipeline. */
  final case class TypeModes(
      uint64: UInt64Mode = UInt64Mode.AsString,
      binary: BinaryMode = BinaryMode.Bytes,
      temporal: TemporalMode = TemporalMode.AdaptiveMicros,
      decimal: DecimalMode = DecimalMode.AsString,
      // override.datetime.to.nullable: zero-date sentinels on NOT NULL
      // temporal columns become SQL NULL instead of the epoch fallback
      // (reference VitessConnectorConfig.java override.datetime.to.nullable)
      datetimeToNullable: Boolean = false,
      // include.unknown.datatypes: false (reference default) omits
      // unknown-typed fields from the record; true keeps them as an
      // opaque binary representation (VitessConnectorConfig.java:367-376)
      includeUnknown: Boolean = false)

  object TypeModes {
    val default: TypeModes = TypeModes()

    def parse(
        uint64: Option[String],
        binary: Option[String],
        temporal: Option[String],
        decimal: Option[String] = None,
        datetimeToNullable: Option[String] = None,
        includeUnknown: Option[String] = None): TypeModes = TypeModes(
      uint64.map {
        case "string"  => UInt64Mode.AsString
        case "long"    => UInt64Mode.AsLong
        case "precise" => UInt64Mode.AsPrecise
        case other => throw new IllegalArgumentException(
          s"bigint.unsigned.handling.mode must be string|long|precise, got $other")
      }.getOrElse(UInt64Mode.AsString),
      binary.map {
        case "bytes"  => BinaryMode.Bytes
        case "base64" => BinaryMode.Base64
        case "hex"    => BinaryMode.Hex
        case other => throw new IllegalArgumentException(
          s"binary.handling.mode must be bytes|base64|hex, got $other")
      }.getOrElse(BinaryMode.Bytes),
      temporal.map {
        case "adaptive_time_microseconds" => TemporalMode.AdaptiveMicros
        case "connect"                    => TemporalMode.ConnectMillis
        case "isostring"                  => TemporalMode.IsoString
        case other => throw new IllegalArgumentException(
          // the reference rejects plain `adaptive` the same way
          // (VitessConnectorConfig.java:482-514)
          s"time.precision.mode must be adaptive_time_microseconds|connect|isostring, got $other")
      }.getOrElse(TemporalMode.AdaptiveMicros),
      decimal.map {
        case "string"  => DecimalMode.AsString
        case "precise" => DecimalMode.Precise
        case "double"  => DecimalMode.AsDouble
        case other => throw new IllegalArgumentException(
          s"decimal.handling.mode must be string|precise|double, got $other")
      }.getOrElse(DecimalMode.AsString),
      datetimeToNullable.exists(_.toBoolean),
      includeUnknown.exists(_.toBoolean))
  }

  def bytesToHex(b: Array[Byte]): String = {
    val sb = new StringBuilder(b.length * 2)
    b.foreach(x => sb.append(f"${x & 0xff}%02x"))
    sb.toString()
  }

  /** Negative longs seen on the wire for UINT64 are wrapped values. */
  def correctUnsignedBigint(v: BigDecimal): BigDecimal =
    if (v < 0) v + Uint64Correction else v

  /** 1-based enum index → label; out-of-range (including MySQL's invalid
    * value 0) → empty string. */
  def enumToString(options: Seq[String], index: Int): String = {
    val i = index - 1
    if (i >= 0 && i < options.size) options(i) else ""
  }

  /** SET bitmask → comma-joined labels in definition order; bits beyond
    * the definition are dropped. */
  def setToString(options: Seq[String], bitmask: Long): String = {
    val sb = new StringBuilder
    var indexes = bitmask
    var index = 0
    while (indexes != 0L) {
      // the separator is tied to an EMITTED label: appending it before
      // the bounds check left dangling commas for out-of-range bits
      if ((indexes & 1L) == 1L && index < options.size) {
        if (sb.nonEmpty) sb.append(',')
        sb.append(options(index))
      }
      index += 1
      indexes = indexes >>> 1
    }
    sb.toString()
  }

  private val DatePattern = Pattern.compile("([0-9]*)-([0-9]*)-([0-9]*)")
  private val TimePattern = Pattern.compile("(\\-?[0-9]*):([0-9]*)(:([0-9]*))?(\\.([0-9]*))?")
  // any zero month OR zero day is the MySQL zero-date sentinel family
  // (NO_ZERO_IN_DATE off permits '2020-05-00'), matching parseDate's rule
  private val ZeroMonthDay = Pattern.compile("^\\d{4}-(00-\\d{2}|\\d{2}-00).*$")

  private val TimestampFormatter: DateTimeFormatter = new DateTimeFormatterBuilder()
    .append(DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss"))
    .optionalStart()
    .appendFraction(ChronoField.NANO_OF_SECOND, 0, 9, true)
    .optionalEnd()
    .toFormatter()

  /** DATE string → LocalDate; zero month or day (the MySQL `0000-00-00`
    * sentinel family) → None. Year 0 alone is representable and kept. */
  def parseDate(s: String): Option[LocalDate] = {
    val m = DatePattern.matcher(s)
    require(m.matches(), s"Unexpected format for DATE column: $s")
    val (y, mo, d) = (m.group(1).toInt, m.group(2).toInt, m.group(3).toInt)
    if (mo == 0 || d == 0) None else Some(LocalDate.of(y, mo, d))
  }

  /** TIME string → Duration; supports negative values and fractional
    * seconds up to nanos, and hours beyond 23 (MySQL TIME is a duration,
    * range ±838:59:59). */
  def parseTime(s: String): Duration = {
    val m = TimePattern.matcher(s)
    require(m.matches(), s"Unexpected format for TIME column: $s")
    val negative = s.nonEmpty && s.charAt(0) == '-'
    val hours = m.group(1).toLong
    val minutes = m.group(2).toLong
    val seconds = Option(m.group(4)).map(_.toLong).getOrElse(0L)
    val nanos = Option(m.group(6)).map(f => f.padTo(9, '0').toLong).getOrElse(0L)
    val d =
      if (hours >= 0)
        Duration.ofHours(hours).plusMinutes(minutes).plusSeconds(seconds).plusNanos(nanos)
      else
        Duration.ofHours(hours).minusMinutes(minutes).minusSeconds(seconds).minusNanos(nanos)
    if (negative && !d.isNegative) d.negated() else d
  }

  /** TIME → microseconds since midnight (Spark has no time-of-day type). */
  def timeToMicros(s: String): Long = {
    val d = parseTime(s)
    d.getSeconds * 1000000L + d.getNano / 1000L
  }

  /** DATETIME string → wall-clock LocalDateTime; `yyyy-00-00…` → None. */
  def parseDatetime(s: String): Option[LocalDateTime] =
    if (ZeroMonthDay.matcher(s).matches()) None
    else Some(LocalDateTime.parse(s, TimestampFormatter))

  /** TIMESTAMP string (VStream emits UTC wall-clock text) → epoch micros;
    * zero-date sentinel → None. */
  def parseTimestampUtcMicros(s: String): Option[Long] =
    parseDatetime(s).map { ldt =>
      val inst = ldt.toInstant(ZoneOffset.UTC)
      inst.getEpochSecond * 1000000L + inst.getNano / 1000L
    }

  /** TIMESTAMP string → ISO-8601 UTC (`2020-02-13T01:02:03Z`), the
    * reference's ZonedTimestamp representation. */
  def timestampToIsoUtc(s: String): Option[String] =
    parseDatetime(s).map(_.atZone(ZoneOffset.UTC).format(DateTimeFormatter.ISO_OFFSET_DATE_TIME))

  /** BIT(1) → boolean; BIT(N>1) stays bytes. Wire value is a big-endian
    * byte array. */
  def bitToBoolean(bytes: Array[Byte]): Boolean =
    bytes.nonEmpty && bytes(bytes.length - 1) != 0

  /** Zero-date sentinel on a NOT NULL column: the reference delivers the
    * epoch fallback instead of null (VitessValueConverter.java:505-543 —
    * Debezium convertValue's fallback for non-optional columns). Only
    * temporal types collapse non-null raw values to None. */
  def epochFallback(tpe: GraftType): Option[Any] = tpe match {
    case GraftType.DateT        => Some(LocalDate.ofEpochDay(0))
    case _: GraftType.DatetimeT => Some(LocalDateTime.ofEpochSecond(0, 0, ZoneOffset.UTC))
    case _: GraftType.TimestampT => Some(0L)
    case _ => None
  }

  /** Decode one raw column value per its resolved type. Returns the
    * engine-native Scala value for that type.
    * `None` means SQL NULL (zero-date sentinel collapse). */
  def decode(
      tpe: GraftType,
      raw: Array[Byte],
      uint64Mode: UInt64Mode = UInt64Mode.AsString,
      binaryMode: BinaryMode = BinaryMode.Bytes,
      temporalMode: TemporalMode = TemporalMode.AdaptiveMicros,
      decimalMode: DecimalMode = DecimalMode.AsString): Option[Any] = {
    if (raw == null) return None
    def str = new String(raw, StandardCharsets.UTF_8)
    def bin(b: Array[Byte]): Any = binaryMode match {
      case BinaryMode.Bytes  => b
      case BinaryMode.Base64 => java.util.Base64.getEncoder.encodeToString(b)
      case BinaryMode.Hex    => bytesToHex(b)
    }
    val iso = temporalMode == TemporalMode.IsoString
    tpe match {
      case GraftType.Int16Type => Some(str.toShort)
      case GraftType.Int32Type | GraftType.YearT => Some(str.toInt)
      case GraftType.Int64Type => Some(str.toLong)
      case GraftType.Float32 => Some(str.toFloat)
      case GraftType.Float64 => Some(str.toDouble)
      case GraftType.UInt64 =>
        uint64Mode match {
          case UInt64Mode.AsString => Some(str)
          case UInt64Mode.AsLong => Some(java.lang.Long.parseUnsignedLong(str))
          case UInt64Mode.AsPrecise => Some(correctUnsignedBigint(BigDecimal(str)))
        }
      case GraftType.DecimalStr =>
        decimalMode match {
          case DecimalMode.AsDouble => Some(str.toDouble)
          case _ => Some(str)
        }
      // typed decimal (decimal.handling.mode=precise): the wire text is
      // exact decimal, BigDecimal preserves its scale into the JSON number
      case _: GraftType.DecimalT => Some(BigDecimal(str))
      case GraftType.Text | GraftType.Json => Some(str)
      case GraftType.Bytes | GraftType.Unknown => Some(bin(raw))
      case GraftType.Bits(len) => if (len == 1) Some(bitToBoolean(raw)) else Some(bin(raw))
      case e: GraftType.Enum =>
        if (e.stringValued) Some(str) else Some(enumToString(e.values, str.toInt))
      case st: GraftType.SetT =>
        if (st.stringValued) Some(str) else Some(setToString(st.values, str.toLong))
      // isostring mode passes raw temporal text through unchanged
      // (reference ReplicationMessageColumnValueResolver.java:63-73);
      // connect mode truncates to millisecond epoch values
      case GraftType.DateT => if (iso) Some(str) else parseDate(str)
      case _: GraftType.TimeT =>
        if (iso) Some(str)
        else temporalMode match {
          case TemporalMode.ConnectMillis => Some(timeToMicros(str) / 1000L)
          case _ => Some(timeToMicros(str))
        }
      case _: GraftType.DatetimeT =>
        if (iso) Some(str)
        else temporalMode match {
          case TemporalMode.ConnectMillis =>
            parseDatetime(str).map(_.toInstant(ZoneOffset.UTC).toEpochMilli)
          case _ => parseDatetime(str)
        }
      case _: GraftType.TimestampT =>
        if (iso) Some(str)
        else temporalMode match {
          case TemporalMode.ConnectMillis => parseTimestampUtcMicros(str).map(_ / 1000L)
          case _ => parseTimestampUtcMicros(str)
        }
    }
  }
}
