package graft.core

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import scala.jdk.CollectionConverters._

/** Multi-shard resumable stream position (the engine's streaming Offset).
  *
  * Matches the reference's VGTID value object and JSON wire format
  * (reference: src/main/java/io/debezium/connector/vitess/Vgtid.java:26-230,
  * TablePrimaryKeys.java:33-58) so checkpoints are interoperable:
  *
  * {{{
  * [{"keyspace":"ks","shard":"-80","gtid":"MySQL56/host:1-100","table_p_ks":[
  *    {"table_name":"t1","lastpk":{"fields":[{"name":"id","type":"INT64",
  *     "charset":63,"flags":49667}],"rows":[{"lengths":["2"],"values":"OTk="}]}}]}]
  * }}}
  *
  * The JSON string is cached at construction (the reference does the same,
  * Vgtid.java:41-42) because every emitted record embeds it.
  */
final case class Vgtid(shardGtids: Seq[ShardGtid]) {
  @transient lazy val json: String = VgtidJson.write(this)

  private lazy val byShard: Map[String, ShardGtid] = {
    // shard-name lookup is only well-defined within one keyspace (the
    // engine streams a single keyspace, like one reference connector);
    // two keyspaces reusing a shard name would silently resolve to
    // whichever entry mapped last — refuse instead
    val grouped = shardGtids.groupBy(_.shard)
    grouped.find(_._2.map(_.keyspace).distinct.size > 1).foreach { case (sh, sgs) =>
      throw new IllegalStateException(
        s"VGTID holds shard '$sh' under multiple keyspaces " +
          s"(${sgs.map(_.keyspace).distinct.mkString(", ")}) — shard-name " +
          "lookup is ambiguous; stream one keyspace per source")
    }
    shardGtids.map(sg => sg.shard -> sg).toMap
  }

  def shardGtid(shard: String): Option[ShardGtid] = byShard.get(shard)

  /** Copy phase is triggered by an empty gtid or in-flight per-table
    * lastPK progress (reference: Vgtid.java:116-123). */
  def willTriggerVStreamCopy: Boolean =
    shardGtids.exists(sg => sg.gtid == Vgtid.EmptyGtid || sg.tablePKs.nonEmpty)

  /** Single-shard projection used by the use-local-vgtid transform
    * (reference: Vgtid.java:125-127). */
  def localVgtid(shard: String): Vgtid =
    Vgtid(shardGtids.filter(_.shard == shard))

  def isEmpty: Boolean = shardGtids.isEmpty
}

object Vgtid {
  val CurrentGtid = "current"
  val EmptyGtid = ""

  def of(json: String): Vgtid = VgtidJson.read(json)

  def of(shardGtids: ShardGtid*): Vgtid = Vgtid(shardGtids.toVector)
}

/** Position of one shard: keyspace, shard name, GTID string, and (during
  * the copy phase) per-table last-seen primary keys. */
final case class ShardGtid(
    keyspace: String,
    shard: String,
    gtid: String,
    tablePKs: Seq[TableLastPk] = Nil) {

  /** A real GTID or copy progress — not the `''`/`current` start of a
    * shard that has seen no transaction. */
  def hasPosition: Boolean =
    (gtid != Vgtid.EmptyGtid && gtid != Vgtid.CurrentGtid) || tablePKs.nonEmpty
}

/** Copy-phase progress for one table: the schema of the PK columns and the
  * last PK row streamed, so a restart resumes the table scan mid-way. */
final case class TableLastPk(tableName: String, fields: Seq[PkField], rows: Seq[PkRow])

final case class PkField(name: String, typeName: String, charset: Int, flags: Option[Int])

/** Packed row: decimal-string lengths + base64 concatenated values
  * (protobuf JSON encoding of Query.Row). */
final case class PkRow(lengths: Seq[String], values: String)

/** Ordering of same-shard stream positions INCLUDING copy-phase progress
  * (SURVEY hard part (d)): primary order is GTID rank; at equal rank a
  * position still carrying per-table lastPK progress sorts before one
  * that has none (copy finished).
  *
  * Multi-table rule (reference Vgtid.java:44-83,
  * TablePrimaryKeys.java:33-58 — the VGTID carries one `table_p_ks`
  * entry per table whose copy is still in flight, and a completed
  * table's entry is removed): walk the union of table names in order.
  * A table absent on exactly one side finished copying there, so that
  * side is later; a table present on both compares by lastpk progress.
  *
  * Per-table lastpk ordering honours the PK field type carried in the
  * position: numeric-text PKs (VStream sends numbers as decimal text)
  * compare by exact numeric value (negatives and DECIMAL text included);
  * any other type (e.g. VARCHAR PKs, reference
  * TablePrimaryKeys.java:127-437) orders by plain bytes — length-first
  * would put "b" before "ab". */
object CopyProgress {

  private def rankOf(gtid: String): BigDecimal =
    if (gtid == Vgtid.EmptyGtid || gtid == Vgtid.CurrentGtid) BigDecimal(0)
    else Rank.of(gtid)

  private val NumericPkTypes = Set(
    "INT8", "UINT8", "INT16", "UINT16", "INT24", "UINT24",
    "INT32", "UINT32", "INT64", "UINT64", "DECIMAL")

  /** Per-column values of the lastpk row, split by the carried
    * `lengths` (protobuf Query.Row semantics: a negative length is SQL
    * NULL). Ignoring the lengths and comparing the concatenated bytes
    * would misorder every composite PK — (1,95) concatenates to "195"
    * and sorts after (2,5)="25". */
  private def decodedPkCols(t: TableLastPk): Seq[Option[String]] = {
    val row = t.rows.headOption
    val bytes = java.util.Base64.getDecoder.decode(row.map(_.values).getOrElse(""))
    var off = 0
    row.map(_.lengths).getOrElse(Nil).map { ls =>
      val l = ls.toLong
      if (l < 0) None
      else {
        // fail loud on a corrupt/truncated lastpk — a silently clamped
        // prefix would compare (and so order copy progress) on garbage;
        // same contract as PackedRow.slice, Long compare before narrowing
        if (off.toLong + l > bytes.length)
          throw new IllegalStateException(
            s"corrupt lastpk for ${t.tableName}: column lengths sum past " +
              s"the value bytes (need ${off.toLong + l}, have ${bytes.length})")
        val n = l.toInt
        val s = new String(bytes, off, n, "UTF-8")
        off += n
        Some(s)
      }
    }
  }

  private def compareLastPk(ta: TableLastPk, tb: TableLastPk): Int = {
    val (as, bs) = (decodedPkCols(ta), decodedPkCols(tb))
    val n = math.max(as.length, bs.length)
    var i = 0
    while (i < n) {
      val (ca, cb) = (as.lift(i).flatten, bs.lift(i).flatten)
      val c = (ca, cb) match {
        case (None, None) => 0
        case (None, _)    => -1 // SQL NULLs order first
        case (_, None)    => 1
        case (Some(va), Some(vb)) =>
          // Declared evidence decides the comparison domain. A side with
          // NO field metadata (e.g. a checkpoint round-trip that dropped
          // fields) abstains: against a numeric declaration or another
          // metaless side, numeric text must order numerically ("9" <
          // "10"), but a POSITIVE non-numeric declaration on either side
          // wins — a VARCHAR PK orders by bytes even when the other side
          // lost its metadata, because that is the order VStream copy
          // actually paginated in.
          val declA = ta.fields.lift(i).map(f => NumericPkTypes(f.typeName))
          val declB = tb.fields.lift(i).map(f => NumericPkTypes(f.typeName))
          def cmpNumeric: Option[Int] =
            // exact numeric order — lexicographic would misorder
            // negatives ("-5" vs "4") and DECIMAL text ("-12.00" vs "3.00")
            try Some(BigDecimal(va).compare(BigDecimal(vb)))
            catch { case _: NumberFormatException => None }
          (declA, declB) match {
            case (Some(false), _) | (_, Some(false)) => va.compareTo(vb)
            case _ => cmpNumeric.getOrElse(va.compareTo(vb))
          }
      }
      if (c != 0) return c
      i += 1
    }
    0
  }

  /** < 0 when `a` is earlier than `b`, 0 when equal, > 0 when later. */
  def compare(a: ShardGtid, b: ShardGtid): Int = {
    val byRank = rankOf(a.gtid).compare(rankOf(b.gtid))
    if (byRank != 0) byRank
    else (a.tablePKs.isEmpty, b.tablePKs.isEmpty) match {
      case (true, true)   => 0
      case (true, false)  => 1 // a finished copying, b still in flight
      case (false, true)  => -1
      case (false, false) =>
        val am = a.tablePKs.map(t => t.tableName -> t).toMap
        val bm = b.tablePKs.map(t => t.tableName -> t).toMap
        val names = (am.keySet ++ bm.keySet).toSeq.sorted
        var res = 0
        val it = names.iterator
        while (res == 0 && it.hasNext) {
          val n = it.next()
          (am.get(n), bm.get(n)) match {
            case (Some(ta), Some(tb)) => res = compareLastPk(ta, tb)
            case (Some(_), None)      => res = -1 // b already finished table n
            case (None, Some(_))      => res = 1 // a already finished table n
            case (None, None)         => ()
          }
        }
        res
    }
  }
}

/** Hand-rolled Jackson codec: field names and ordering match the reference
  * wire format exactly (keyspace, shard, gtid, table_p_ks). */
object VgtidJson {
  private val mapper = new ObjectMapper()

  def write(v: Vgtid): String = {
    val arr = mapper.createArrayNode()
    v.shardGtids.foreach { sg =>
      val o = arr.addObject()
      o.put("keyspace", sg.keyspace)
      o.put("shard", sg.shard)
      o.put("gtid", sg.gtid)
      val pks = o.putArray("table_p_ks")
      sg.tablePKs.foreach { t =>
        val to = pks.addObject()
        to.put("table_name", t.tableName)
        val lastpk = to.putObject("lastpk")
        val fields = lastpk.putArray("fields")
        t.fields.foreach { f =>
          val fo = fields.addObject()
          fo.put("name", f.name)
          fo.put("type", f.typeName)
          fo.put("charset", f.charset)
          f.flags.foreach(fl => fo.put("flags", fl))
        }
        val rows = lastpk.putArray("rows")
        t.rows.foreach { r =>
          val ro = rows.addObject()
          val ls = ro.putArray("lengths")
          r.lengths.foreach(ls.add)
          ro.put("values", r.values)
        }
      }
    }
    mapper.writeValueAsString(arr)
  }

  def read(json: String): Vgtid = readNode(mapper.readTree(json))

  /** Parse from an already-materialized JSON tree — the event decoder has
    * one in hand, and a serialize-then-reparse round trip per VGTID event
    * (one per transaction) is pure decode-path overhead. */
  def readNode(root: JsonNode): Vgtid = {
    require(root != null && root.isArray, s"vgtid json must be an array, got: $root")
    Vgtid(root.elements().asScala.map(readShardGtid).toVector)
  }

  private def readShardGtid(n: JsonNode): ShardGtid = {
    val pks = Option(n.get("table_p_ks")).filter(_.isArray)
      .map(_.elements().asScala.map(readTablePk).toVector)
      .getOrElse(Vector.empty)
    ShardGtid(
      keyspace = n.get("keyspace").asText(),
      shard = n.get("shard").asText(),
      gtid = Option(n.get("gtid")).map(_.asText()).getOrElse(""),
      tablePKs = pks)
  }

  private def readTablePk(n: JsonNode): TableLastPk = {
    val lastpk = Option(n.get("lastpk"))
    def arr(parent: Option[JsonNode], key: String): Iterator[JsonNode] =
      parent.flatMap(p => Option(p.get(key))).filter(_.isArray)
        .map(_.elements().asScala).getOrElse(Iterator.empty)
    TableLastPk(
      tableName = n.get("table_name").asText(),
      fields = arr(lastpk, "fields").map { f =>
        PkField(
          f.get("name").asText(),
          f.get("type").asText(),
          Option(f.get("charset")).map(_.asInt()).getOrElse(0),
          Option(f.get("flags")).map(_.asInt()))
      }.toVector,
      rows = arr(lastpk, "rows").map { r =>
        PkRow(
          Option(r.get("lengths")).filter(_.isArray)
            .map(_.elements().asScala.map(_.asText()).toVector).getOrElse(Vector.empty),
          Option(r.get("values")).map(_.asText()).getOrElse(""))
      }.toVector)
  }
}
