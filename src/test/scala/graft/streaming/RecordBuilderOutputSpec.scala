package graft.streaming

import com.fasterxml.jackson.databind.ObjectMapper
import graft.core._
import org.scalatest.funsuite.AnyFunSuite

/** Envelope fixture for the byte-level output pin: every GraftType, SQL
  * NULL, a zero date on a NOT NULL column, a dropped unknown-type column,
  * an unknown-type primary key, mask / truncate / exclude rules (one on a
  * key column), and a FIELD change mid-stream. Rendered one record per
  * line as `op|table|before|after|key|vgtid|restart_vgtid|tx_id|epoch`. */
object RecordBuilderOutputFixture {
  private def f(name: String, wire: String, colType: String, flags: Long = 0L,
      len: Int = 0, dec: Int = 0): FieldDef = FieldDef(name, wire, colType, len, dec, flags)
  private val Pk = ColumnFlags.NotNull | ColumnFlags.PriKey

  val allTypesV1: Seq[FieldDef] = Seq(
    f("id", "INT64", "bigint(20)", Pk, 20),
    f("i16", "INT8", "tinyint(4)"),
    f("i32", "INT32", "int(11)"),
    f("f32", "FLOAT32", "float"),
    f("f64", "FLOAT64", "double"),
    f("u64", "UINT64", "bigint(20) unsigned"),
    f("dec", "DECIMAL", "decimal(10,2)", 0L, 10, 2),
    f("txt", "VARCHAR", "varchar(64)"),
    f("js", "JSON", "json"),
    f("blob", "BLOB", "blob"),
    f("bit1", "BIT", "bit(1)", 0L, 1),
    f("bits", "BIT", "bit(12)", 0L, 12),
    f("en", "ENUM", "enum('s','m','l')"),
    f("st", "SET", "set('a','b','c')"),
    f("d", "DATE", "date"),
    f("d_nn", "DATE", "date", ColumnFlags.NotNull),
    f("tm", "TIME", "time(6)", 0L, 0, 6),
    f("dt", "DATETIME", "datetime(3)", 0L, 0, 3),
    f("ts", "TIMESTAMP", "timestamp(6)", 0L, 0, 6),
    f("yr", "YEAR", "year(4)"),
    f("geo", "GEOMETRY", "geometry"),
    f("masked", "VARCHAR", "varchar(32)"),
    f("trunc", "VARCHAR", "varchar(32)"),
    f("secret", "VARCHAR", "varchar(32)"))

  // evolution: `geo` dropped, `i32` widened to BIGINT, `extra` appended
  val allTypesV2: Seq[FieldDef] =
    allTypesV1.filterNot(_.name == "geo").map { fd =>
      if (fd.name == "i32") f("i32", "INT64", "bigint(20)") else fd
    } :+ f("extra", "VARCHAR", "varchar(8)")

  private val fullRow: Seq[Option[String]] = Seq(
    "1", "-7", "2147483647", "1.5", "2.25", "18446744073709551615", "12.34",
    "say \"hi\"\ttab é 😀 </script> \\", """{"a":[1,2]}""", "\u0001\u0002ab",
    "\u0001", "\u000fÿ", "2", "5", "2024-02-29", "2024-01-31", "12:34:56.5",
    "2024-01-02 03:04:05.678", "2024-01-02 03:04:05.123456", "2024", "POINT",
    "card-4111", "abcdef", "hunter2").map(Some(_))

  private val nullRow: Seq[Option[String]] =
    allTypesV1.map(_ => None).updated(0, Some("2")).updated(15, Some("0000-00-00"))

  private val updatedRow: Seq[Option[String]] =
    fullRow.updated(2, Some("-1")).updated(7, Some("second")).updated(22, Some("ab"))

  private val v2Row: Seq[Option[String]] = Seq(
    "3", "1", "9223372036854775807", "-0.0", "1.0E-10", "0", "-0.50", "", "null", "",
    "\u0000", "\u0000\u0000", "9", "0", "0001-01-01", "1999-12-31", "-838:59:59",
    "2024-12-31 23:59:59.999", "1970-01-01 00:00:00", "1901", "m",
    "x", "wxyz", "zz").map(Some(_))

  val unknownPk: Seq[FieldDef] = Seq(
    f("id", "GEOMETRY", "geometry", Pk), f("name", "VARCHAR", "varchar(8)"))
  val exclPk: Seq[FieldDef] = Seq(
    f("id", "INT64", "bigint(20)", Pk, 20), f("v", "VARCHAR", "varchar(8)"))
  val precise: Seq[FieldDef] = Seq(
    f("id", "INT64", "bigint(20)", Pk, 20),
    f("dec", "DECIMAL", "decimal(20,6)", 0L, 20, 6),
    f("geo", "GEOMETRY", "geometry"))

  val rules: ColumnRules = ColumnRules(
    excludeList = Seq("ks\\.all_types\\.secret", "ks\\.excl_pk\\.id"),
    truncate = Seq("ks\\.all_types\\.trunc" -> 3),
    mask = Seq("ks\\.all_types\\.masked" -> 4))
  val preciseModes: ValueConversion.TypeModes = ValueConversion.TypeModes(
    decimal = ValueConversion.DecimalMode.Precise, includeUnknown = true)

  private def row(cols: Seq[Option[String]]): Option[PackedRow] = Some(PackedRow.of(cols))
  private def field(table: String, defs: Seq[FieldDef]) =
    FieldEvent("0", "ks", s"ks.$table", defs, enumSetStringValues = false)
  private def rows(table: String, changes: RowChange*) = RowEvent("0", "ks", s"ks.$table", changes)
  private def tx(seq: Long)(body: VEvent*): Seq[VEvent] =
    (BeginEvent("0", "ks") +: body) ++ Seq(
      VgtidEvent("0", Vgtid(Seq(ShardGtid("ks", "0", s"MySQL56/feed:1-$seq")))),
      CommitEvent("0", "ks", 1700000000L + seq))

  val rulesFeed: Seq[VEvent] =
    tx(1)(
      field("all_types", allTypesV1),
      rows("all_types", RowChange(None, row(fullRow)), RowChange(None, row(nullRow)))) ++
    tx(2)(
      rows("all_types", RowChange(row(fullRow), row(updatedRow)), RowChange(row(nullRow), None)),
      field("unknown_pk", unknownPk),
      rows("unknown_pk", RowChange(None, row(Seq(Some("\u0001\u0002"), Some("a")))),
        RowChange(None, row(Seq(Some("\u0001\u0003"), None)))),
      field("excl_pk", exclPk),
      rows("excl_pk", RowChange(None, row(Seq(Some("7"), Some("v7")))))) ++
    tx(3)(
      field("all_types", allTypesV2),
      rows("all_types", RowChange(None, row(v2Row)))) ++
    // identical FIELD resend keeps the registry's existing schema
    tx(4)(
      field("all_types", allTypesV2),
      rows("all_types", RowChange(row(v2Row), None)))

  val preciseFeed: Seq[VEvent] =
    tx(1)(
      field("precise", precise),
      rows("precise",
        RowChange(None, row(Seq(Some("1"), Some("123.450000"), Some("ÿ\u0000")))),
        RowChange(None, row(Seq(Some("2"), None, None)))))

  def render(r: ChangeRecord): String =
    Seq(r.op, r.table, r.before.orNull, r.after.orNull, r.key.orNull,
      r.vgtid, r.restartVgtid, r.txId.orNull, r.epoch).mkString("|")

  def build(feed: Seq[VEvent], rules: ColumnRules, modes: ValueConversion.TypeModes): Seq[ChangeRecord] = {
    val rb = new RecordBuilder(new SchemaRegistry(modes), ShardTxStep.fresh("0"),
      columnRules = rules, typeModes = modes)
    TransactionAssembler.assemble(feed.iterator).flatMap(rb.onTransaction).toVector
  }

  def records(): Seq[ChangeRecord] =
    build(rulesFeed, rules, ValueConversion.TypeModes.default) ++
      build(preciseFeed, ColumnRules.none, preciseModes)
}

class RecordBuilderOutputSpec extends AnyFunSuite {
  import RecordBuilderOutputFixture._

  // single-shard positions: tx `seq`'s VGTID JSON, its restart offset
  // (the previous transaction's, `[]` before the first), tx id and epoch
  private def at(seq: Int) =
    s"""[{"keyspace":"ks","shard":"0","gtid":"MySQL56/feed:1-$seq","table_p_ks":[]}]"""
  private def pos(seq: Int): String =
    s"|${at(seq)}|${if (seq == 1) "[]" else at(seq - 1)}|MySQL56/feed:1-$seq|0"

  // the before / after / key JSON and positions the envelope builder has
  // always emitted for this fixture; any byte of drift changes every
  // oracle hash
  private val golden: Seq[String] = Seq(
    """c|all_types|null|{"id":1,"i16":-7,"i32":2147483647,"f32":1.5,"f64":2.25,"u64":"18446744073709551615","dec":"12.34","txt":"say \"hi\"\ttab é 😀 </script> \\","js":"{\"a\":[1,2]}","blob":"AQJhYg==","bit1":true,"bits":"D8O/","en":"m","st":"a,c","d":"2024-02-29","d_nn":"2024-01-31","tm":45296500000,"dt":"2024-01-02T03:04:05.678","ts":1704164645123456,"yr":2024,"masked":"****","trunc":"abc"}|{"id":1}""" + pos(1),
    """c|all_types|null|{"id":2,"i16":null,"i32":null,"f32":null,"f64":null,"u64":null,"dec":null,"txt":null,"js":null,"blob":null,"bit1":null,"bits":null,"en":null,"st":null,"d":null,"d_nn":"1970-01-01","tm":null,"dt":null,"ts":null,"yr":null,"masked":null,"trunc":null}|{"id":2}""" + pos(1),
    """u|all_types|{"id":1,"i16":-7,"i32":2147483647,"f32":1.5,"f64":2.25,"u64":"18446744073709551615","dec":"12.34","txt":"say \"hi\"\ttab é 😀 </script> \\","js":"{\"a\":[1,2]}","blob":"AQJhYg==","bit1":true,"bits":"D8O/","en":"m","st":"a,c","d":"2024-02-29","d_nn":"2024-01-31","tm":45296500000,"dt":"2024-01-02T03:04:05.678","ts":1704164645123456,"yr":2024,"masked":"****","trunc":"abc"}|{"id":1,"i16":-7,"i32":-1,"f32":1.5,"f64":2.25,"u64":"18446744073709551615","dec":"12.34","txt":"second","js":"{\"a\":[1,2]}","blob":"AQJhYg==","bit1":true,"bits":"D8O/","en":"m","st":"a,c","d":"2024-02-29","d_nn":"2024-01-31","tm":45296500000,"dt":"2024-01-02T03:04:05.678","ts":1704164645123456,"yr":2024,"masked":"****","trunc":"ab"}|{"id":1}""" + pos(2),
    """d|all_types|{"id":2,"i16":null,"i32":null,"f32":null,"f64":null,"u64":null,"dec":null,"txt":null,"js":null,"blob":null,"bit1":null,"bits":null,"en":null,"st":null,"d":null,"d_nn":"1970-01-01","tm":null,"dt":null,"ts":null,"yr":null,"masked":null,"trunc":null}|null|{"id":2}""" + pos(2),
    """c|unknown_pk|null|{"id":"AQI=","name":"a"}|{"id":"AQI="}""" + pos(2),
    """c|unknown_pk|null|{"id":"AQM=","name":null}|{"id":"AQM="}""" + pos(2),
    """c|excl_pk|null|{"v":"v7"}|{"id":null}""" + pos(2),
    """c|all_types|null|{"id":3,"i16":1,"i32":9223372036854775807,"f32":-0.0,"f64":1.0E-10,"u64":"0","dec":"-0.50","txt":"","js":"null","blob":"","bit1":false,"bits":"AAA=","en":"","st":"","d":"0001-01-01","d_nn":"1999-12-31","tm":-3020399000000,"dt":"2024-12-31T23:59:59.999","ts":0,"yr":1901,"masked":"****","trunc":"x","extra":"zz"}|{"id":3}""" + pos(3),
    """d|all_types|{"id":3,"i16":1,"i32":9223372036854775807,"f32":-0.0,"f64":1.0E-10,"u64":"0","dec":"-0.50","txt":"","js":"null","blob":"","bit1":false,"bits":"AAA=","en":"","st":"","d":"0001-01-01","d_nn":"1999-12-31","tm":-3020399000000,"dt":"2024-12-31T23:59:59.999","ts":0,"yr":1901,"masked":"****","trunc":"x","extra":"zz"}|null|{"id":3}""" + pos(4),
    """c|precise|null|{"id":1,"dec":123.450000,"geo":"w78A"}|{"id":1}""" + pos(1),
    """c|precise|null|{"id":2,"dec":null,"geo":null}|{"id":2}""" + pos(1))

  test("before, after and key JSON are byte-identical to the pinned envelope output") {
    val got = records().map(render)
    got.zip(golden).zipWithIndex.foreach { case ((g, want), i) =>
      assert(g == want, s"record $i")
    }
    assert(got.size == golden.size)
  }

  test("consecutive rows carry their own JSON, never a neighbour's buffer contents") {
    val mapper = new ObjectMapper()
    val afters = records().flatMap(_.after)
    afters.sliding(2).foreach { case Seq(a, b) =>
      // each string parses as exactly one object with nothing trailing
      val p = mapper.getFactory.createParser(b)
      assert(p.readValueAsTree[com.fasterxml.jackson.databind.JsonNode]().isObject)
      assert(p.nextToken() == null, s"trailing content in $b")
      assert(!b.startsWith(a) || a == b, s"$b repeats $a")
    }
  }
}
