package graft.streaming

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import graft.core._
import java.util.Base64
import scala.jdk.CollectionConverters._

/** The engine's change-event ADT: the 9 VStream event kinds the reference
  * decodes (reference: src/main/java/io/debezium/connector/vitess/
  * connection/VStreamOutputMessageDecoder.java:57-92). Events arrive on a
  * per-shard totally-ordered feed; the JSON-lines codec below is the
  * simulated wire format used by fixtures and the `vitess-cdc` source.
  */
sealed trait VEvent { def shard: String }

final case class BeginEvent(shard: String, keyspace: String) extends VEvent
final case class CommitEvent(shard: String, keyspace: String, timestampSec: Long) extends VEvent
final case class FieldEvent(
    shard: String,
    keyspace: String,
    table: String, // qualified "keyspace.table" as on the wire
    fields: Seq[FieldDef],
    enumSetStringValues: Boolean) extends VEvent
final case class RowEvent(
    shard: String,
    keyspace: String,
    table: String,
    changes: Seq[RowChange]) extends VEvent
final case class VgtidEvent(shard: String, vgtid: Vgtid) extends VEvent
final case class DdlEvent(shard: String, keyspace: String, statement: String, timestampSec: Long = 0L) extends VEvent
final case class HeartbeatEvent(shard: String) extends VEvent
final case class OtherEvent(shard: String) extends VEvent
final case class CopyCompletedEvent(shard: String) extends VEvent

/** One column definition from a FIELD event (protobuf Query.Field). */
final case class FieldDef(
    name: String,
    wireType: String,
    columnType: String,
    columnLength: Int,
    decimals: Int,
    flags: Long)

/** Packed row: per-column byte lengths (-1 = SQL NULL) + concatenated
  * value bytes (protobuf Query.Row). */
final case class PackedRow(lengths: Seq[Long], values: Array[Byte]) {

  /** Slice into per-column raw bytes; `None` = NULL. Column-count mismatch
    * against the schema is the caller's check (reference:
    * VStreamOutputMessageDecoder.resolveColumns, :298-329). */
  def slice: Seq[Option[Array[Byte]]] = {
    val out = Vector.newBuilder[Option[Array[Byte]]]
    var offset = 0
    lengths.foreach { len =>
      if (len < 0) out += None
      else {
        // copyOfRange would silently ZERO-PAD past the source end — a
        // truncated wire row must surface as a length mismatch here, not
        // as NUL-embedded text or a parse error far from the cause.
        // Compare in Long BEFORE narrowing: a 64-bit wire length like
        // 2^32+5 would wrap to 5 via toInt and pass an Int-domain check.
        if (offset.toLong + len > values.length)
          throw new IllegalStateException(
            s"corrupt packed row: lengths sum past the value bytes " +
              s"(need ${offset.toLong + len}, have ${values.length})")
        val l = len.toInt
        out += Some(java.util.Arrays.copyOfRange(values, offset, offset + l))
        offset += l
      }
    }
    out.result()
  }

  override def equals(o: Any): Boolean = o match {
    case p: PackedRow => p.lengths == lengths && java.util.Arrays.equals(p.values, values)
    case _ => false
  }
  override def hashCode(): Int = lengths.hashCode * 31 + java.util.Arrays.hashCode(values)
}

object PackedRow {
  /** Build from typed column texts (the inverse of slice, for fixtures). */
  def of(cols: Seq[Option[String]]): PackedRow = {
    val bytess = cols.map(_.map(_.getBytes("UTF-8")))
    PackedRow(
      bytess.map(_.map(_.length.toLong).getOrElse(-1L)),
      bytess.flatten.flatten.toArray)
  }
}

/** before/after pair; the op is derived from which sides are present
  * (reference: VStreamOutputMessageDecoder.java:152-178). */
final case class RowChange(before: Option[PackedRow], after: Option[PackedRow]) {
  def op: String = (before, after) match {
    case (None, Some(_))    => "c" // insert
    case (Some(_), Some(_)) => "u" // update
    case (Some(_), None)    => "d" // delete
    case (None, None)       => throw new IllegalStateException("row change with no sides")
  }
}

/** DDL statement classification: comment-strip then match
  * `(CREATE|ALTER|TRUNCATE|DROP|RENAME) TABLE <name>`; RENAME maps to
  * ALTER, unrecognized statements to ALTER on `<UNKNOWN>` (reference:
  * connection/DdlMetadataExtractor.java:26-93). */
object DdlMetadata {
  private val Comments = "(?s)/\\*.*?\\*/|--.*?(\\r?\\n|$)|#.*?(\\r?\\n|$)".r
  private val TableOp =
    "(?i)\\b(CREATE|ALTER|TRUNCATE|DROP|RENAME)\\s+TABLE\\s+(?:IF\\s+(?:NOT\\s+)?EXISTS\\s+)?([`\"']?[\\w$]+[`\"']?(?:\\.[`\"']?[\\w$]+[`\"']?)*)".r

  final case class Extracted(operation: String, table: String)

  def extract(statement: String): Extracted = {
    val clean = Comments.replaceAllIn(statement, " ").trim
    TableOp.findFirstMatchIn(clean) match {
      case Some(m) =>
        val op = m.group(1).toUpperCase match {
          case "RENAME" => "ALTER"
          case other    => other
        }
        // Qualified names keep only the table part (reference
        // DdlMetadataExtractor.java:56-61: parts[1] after split on '.').
        val raw = m.group(2).replaceAll("[`\"']", "")
        val table = if (raw.contains(".")) raw.split("\\.")(1) else raw
        Extracted(op, table)
      case None => Extracted("ALTER", "<UNKNOWN>")
    }
  }
}

/** JSON-lines codec for the simulated VStream feed. One event per line:
  * {{{
  * {"type":"BEGIN","shard":"0","keyspace":"ks"}
  * {"type":"FIELD","shard":"0","keyspace":"ks","table":"ks.t1",
  *  "fields":[{"name":"id","wireType":"INT64","columnType":"bigint(20)",
  *             "columnLength":20,"decimals":0,"flags":49667}]}
  * {"type":"ROW","shard":"0","keyspace":"ks","table":"ks.t1",
  *  "changes":[{"after":{"lengths":[1,2],"values":"MTQy"}}]}
  * {"type":"VGTID","shard":"0","vgtid":[{"keyspace":"ks","shard":"0","gtid":"MySQL56/h:1-2"}]}
  * {"type":"COMMIT","shard":"0","keyspace":"ks","ts":1700000000}
  * }}}
  */
object VEventJson {
  private val mapper = new ObjectMapper()

  def write(e: VEvent): String = {
    val o = mapper.createObjectNode()
    e match {
      case BeginEvent(s, ks) =>
        o.put("type", "BEGIN"); o.put("shard", s); o.put("keyspace", ks)
      case CommitEvent(s, ks, ts) =>
        o.put("type", "COMMIT"); o.put("shard", s); o.put("keyspace", ks); o.put("ts", ts)
      case FieldEvent(s, ks, t, fields, ess) =>
        o.put("type", "FIELD"); o.put("shard", s); o.put("keyspace", ks); o.put("table", t)
        if (ess) o.put("enumSetStringValues", true)
        val fs = o.putArray("fields")
        fields.foreach { f =>
          val fo = fs.addObject()
          fo.put("name", f.name); fo.put("wireType", f.wireType)
          fo.put("columnType", f.columnType); fo.put("columnLength", f.columnLength)
          fo.put("decimals", f.decimals); fo.put("flags", f.flags)
        }
      case RowEvent(s, ks, t, changes) =>
        o.put("type", "ROW"); o.put("shard", s); o.put("keyspace", ks); o.put("table", t)
        val cs = o.putArray("changes")
        changes.foreach { c =>
          val co = cs.addObject()
          c.before.foreach(p => writePacked(co.putObject("before"), p))
          c.after.foreach(p => writePacked(co.putObject("after"), p))
        }
      case VgtidEvent(s, v) =>
        o.put("type", "VGTID"); o.put("shard", s)
        o.set[JsonNode]("vgtid", mapper.readTree(v.json))
        ()
      case DdlEvent(s, ks, stmt, ts) =>
        o.put("type", "DDL"); o.put("shard", s); o.put("keyspace", ks); o.put("statement", stmt)
        o.put("ts", ts)
      case HeartbeatEvent(s)     => o.put("type", "HEARTBEAT"); o.put("shard", s)
      case OtherEvent(s)         => o.put("type", "OTHER"); o.put("shard", s)
      case CopyCompletedEvent(s) => o.put("type", "COPY_COMPLETED"); o.put("shard", s)
    }
    mapper.writeValueAsString(o)
  }

  private def writePacked(o: com.fasterxml.jackson.databind.node.ObjectNode, p: PackedRow): Unit = {
    val ls = o.putArray("lengths")
    p.lengths.foreach(ls.add)
    o.put("values", Base64.getEncoder.encodeToString(p.values)); ()
  }

  def read(line: String): VEvent = {
    // ROW lines dominate a row-heavy stream (and carry the fattest
    // payloads); a token-streaming parse skips the per-line tree build —
    // the same hot-loop trade as SlicePackedRow vs per-row reflection
    if (line.startsWith("{\"type\":\"ROW\"")) return readRow(line)
    val n = mapper.readTree(line)
    def s(k: String): String = Option(n.get(k)).map(_.asText()).getOrElse("")
    n.get("type").asText() match {
      case "BEGIN"  => BeginEvent(s("shard"), s("keyspace"))
      case "COMMIT" => CommitEvent(s("shard"), s("keyspace"), Option(n.get("ts")).map(_.asLong()).getOrElse(0L))
      case "FIELD" =>
        FieldEvent(s("shard"), s("keyspace"), s("table"),
          n.get("fields").elements().asScala.map { f =>
            FieldDef(
              f.get("name").asText(),
              f.get("wireType").asText(),
              Option(f.get("columnType")).map(_.asText()).getOrElse(""),
              Option(f.get("columnLength")).map(_.asInt()).getOrElse(0),
              Option(f.get("decimals")).map(_.asInt()).getOrElse(0),
              Option(f.get("flags")).map(_.asLong()).getOrElse(0L))
          }.toVector,
          Option(n.get("enumSetStringValues")).exists(_.asBoolean()))
      case "ROW" => readRow(line)
      case "VGTID" =>
        VgtidEvent(s("shard"), VgtidJson.readNode(n.get("vgtid")))
      case "DDL" =>
        DdlEvent(s("shard"), s("keyspace"), s("statement"),
          Option(n.get("ts")).map(_.asLong()).getOrElse(0L))
      case "HEARTBEAT"      => HeartbeatEvent(s("shard"))
      case "OTHER"          => OtherEvent(s("shard"))
      case "COPY_COMPLETED" => CopyCompletedEvent(s("shard"))
      case other            => throw new IllegalArgumentException(s"unknown event type $other")
    }
  }

  /** Token-streaming parse of a ROW wire line, the one ROW parser. Keys
    * match by name, so a line whose keys are out of writer order (which
    * `read` routes through its tree branch) parses the same. */
  private def readRow(line: String): RowEvent = {
    import com.fasterxml.jackson.core.JsonToken
    val p = mapper.getFactory.createParser(line)
    var shard = ""; var ks = ""; var table = ""
    val changes = Vector.newBuilder[RowChange]
    try {
      require(p.nextToken() == JsonToken.START_OBJECT, s"bad ROW line: $line")
      while (p.nextToken() != JsonToken.END_OBJECT) {
        p.currentName() match {
          case "shard" => p.nextToken(); shard = p.getText
          case "keyspace" => p.nextToken(); ks = p.getText
          case "table" => p.nextToken(); table = p.getText
          case "changes" =>
            require(p.nextToken() == JsonToken.START_ARRAY, "changes must be an array")
            while (p.nextToken() != JsonToken.END_ARRAY) { // at one change's START_OBJECT
              var before: Option[PackedRow] = None
              var after: Option[PackedRow] = None
              while (p.nextToken() != JsonToken.END_OBJECT) {
                val side = p.currentName()
                require(p.nextToken() == JsonToken.START_OBJECT, s"bad $side row")
                var lengths = Vector.empty[Long]
                var values = Array.emptyByteArray
                while (p.nextToken() != JsonToken.END_OBJECT) {
                  p.currentName() match {
                    case "lengths" =>
                      require(p.nextToken() == JsonToken.START_ARRAY, "lengths must be an array")
                      val lb = Vector.newBuilder[Long]
                      while (p.nextToken() != JsonToken.END_ARRAY) lb += p.getLongValue
                      lengths = lb.result()
                    case "values" =>
                      p.nextToken(); values = Base64.getDecoder.decode(p.getText)
                    case _ => p.nextToken(); p.skipChildren(); ()
                  }
                }
                val row = PackedRow(lengths, values)
                if (side == "before") before = Some(row)
                else if (side == "after") after = Some(row)
              }
              changes += RowChange(before, after)
            }
          case _ => p.nextToken(); p.skipChildren(); ()
        }
      }
    } finally p.close()
    RowEvent(shard, ks, table, changes.result())
  }
}
