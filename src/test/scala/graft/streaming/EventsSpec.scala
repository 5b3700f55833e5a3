package graft.streaming

import graft.core._
import org.scalatest.funsuite.AnyFunSuite

object Fixtures {
  // t1 (id BIGINT pk, int_col INT) — mirrors the reference's
  // TestHelper.SETUP_TABLES_STMT (src/test/java/.../TestHelper.java:111-113)
  val t1Fields = Seq(
    FieldDef("id", "INT64", "bigint(20)", 20, 0, ColumnFlags.NotNull | ColumnFlags.PriKey),
    FieldDef("int_col", "INT32", "int(11)", 11, 0, 0L))

  def vgtid(seq: Long): Vgtid = Vgtid(Seq(ShardGtid("ks", "0", s"MySQL56/feed:1-$seq")))

  def insertTx(seq: Long, id: Long, intCol: Option[Int]): Seq[VEvent] = Seq(
    BeginEvent("0", "ks"),
    FieldEvent("0", "ks", "ks.t1", t1Fields, enumSetStringValues = false),
    RowEvent("0", "ks", "ks.t1", Seq(
      RowChange(None, Some(PackedRow.of(Seq(Some(id.toString), intCol.map(_.toString))))))),
    VgtidEvent("0", vgtid(seq)),
    CommitEvent("0", "ks", 1700000000L + seq))
}

class EventsSpec extends AnyFunSuite {
  import Fixtures._

  test("packed row slice: lengths -1 is NULL, bytes partition exactly") {
    val p = PackedRow.of(Seq(Some("142"), None, Some("x")))
    assert(p.lengths == Seq(3L, -1L, 1L))
    val cols = p.slice
    assert(cols(0).map(new String(_)).contains("142"))
    assert(cols(1).isEmpty)
    assert(cols(2).map(new String(_)).contains("x"))
  }

  test("packed row slice: truncated value bytes fail loudly, never zero-pad") {
    // lengths claim 5 bytes but only 2 arrived: copyOfRange would have
    // silently padded with NULs and let the corruption decode as data
    val corrupt = PackedRow(Seq(5L), "ab".getBytes("UTF-8"))
    val err = intercept[IllegalStateException] { corrupt.slice }
    assert(err.getMessage.contains("corrupt packed row"))
  }

  test("packed row slice: a 64-bit wire length never wraps through toInt") {
    // 2^32 + 2 narrows to 2 via toInt — an Int-domain bounds check would
    // pass and silently mis-slice; the Long-domain check must throw
    val wrap = PackedRow(Seq((1L << 32) + 2L), "ab".getBytes("UTF-8"))
    val err = intercept[IllegalStateException] { wrap.slice }
    assert(err.getMessage.contains("corrupt packed row"))
  }

  test("row change op derivation") {
    val r = PackedRow.of(Seq(Some("1")))
    assert(RowChange(None, Some(r)).op == "c")
    assert(RowChange(Some(r), Some(r)).op == "u")
    assert(RowChange(Some(r), None).op == "d")
  }

  test("event json round-trip for every kind") {
    val events: Seq[VEvent] = Seq(
      BeginEvent("0", "ks"),
      FieldEvent("0", "ks", "ks.t1", t1Fields, enumSetStringValues = true),
      RowEvent("0", "ks", "ks.t1", Seq(
        RowChange(Some(PackedRow.of(Seq(Some("1"), None))), Some(PackedRow.of(Seq(Some("2"), Some("3"))))))),
      VgtidEvent("0", vgtid(9)),
      DdlEvent("0", "ks", "ALTER TABLE t1 ADD COLUMN c INT"),
      HeartbeatEvent("0"),
      OtherEvent("0"),
      CopyCompletedEvent("0"),
      CommitEvent("0", "ks", 1700000042L))
    events.foreach { e =>
      assert(VEventJson.read(VEventJson.write(e)) == e, s"round-trip failed for $e")
    }
    // keys out of writer order ("changes" first, "type" last) still read
    // as the same ROW event
    val reordered = """{"changes":[{"before":{"lengths":[1,-1],"values":"MQ=="},""" +
      """"after":{"lengths":[1,1],"values":"MjM="}}],"table":"ks.t1","keyspace":"ks",""" +
      """"shard":"0","type":"ROW"}"""
    assert(VEventJson.read(reordered) == events(2))
  }

  test("ddl metadata extraction with comments, rename→alter, unknown") {
    assert(DdlMetadata.extract("CREATE TABLE foo (id int)") == DdlMetadata.Extracted("CREATE", "foo"))
    // qualified name keeps only the table part (reference DdlMetadataExtractor.java:56-61)
    assert(DdlMetadata.extract("/* c */ ALTER TABLE `ks`.`t1` ADD c int") ==
      DdlMetadata.Extracted("ALTER", "t1"))
    assert(DdlMetadata.extract("-- x\nDROP TABLE IF EXISTS t2") == DdlMetadata.Extracted("DROP", "t2"))
    assert(DdlMetadata.extract("RENAME TABLE a TO b").operation == "ALTER")
    assert(DdlMetadata.extract("TRUNCATE TABLE big") == DdlMetadata.Extracted("TRUNCATE", "big"))
    // non-table-DDL statements are unknown (reference matches only the 5 ops)
    assert(DdlMetadata.extract("OPTIMIZE TABLE x") == DdlMetadata.Extracted("ALTER", "<UNKNOWN>"))
    assert(DdlMetadata.extract("FLUSH LOGS") == DdlMetadata.Extracted("ALTER", "<UNKNOWN>"))
  }
}

class TransactionAssemblerSpec extends AnyFunSuite {
  import Fixtures._

  test("assembles a complete BEGIN..COMMIT with its vgtid") {
    val txs = TransactionAssembler.assemble(insertTx(5, 10, Some(7)).iterator).toVector
    assert(txs.size == 1)
    assert(txs.head.vgtid.contains(vgtid(5)))
    assert(txs.head.txId.contains("MySQL56/feed:1-5"))
    assert(txs.head.commitTsSec == 1700000005L)
  }

  test("transaction spanning responses: no flush until COMMIT, trailing buffer dropped") {
    val partial = insertTx(5, 10, Some(7)).dropRight(1) // no COMMIT
    assert(TransactionAssembler.assemble(partial.iterator).toVector.isEmpty)
  }

  test("COMMIT without BEGIN is an invariant violation") {
    intercept[IllegalStateException] {
      TransactionAssembler.assemble(Iterator(CommitEvent("0", "ks", 0L))).toVector
    }
  }

  test("duplicate BEGIN mid-transaction is an error, but copy-phase restart is allowed") {
    val bad = Seq(
      BeginEvent("0", "ks"),
      RowEvent("0", "ks", "ks.t1", Nil),
      BeginEvent("0", "ks"))
    intercept[IllegalStateException] {
      TransactionAssembler.assemble(bad.iterator).toVector
    }
    // copy phase: BEGIN, FIELD [,VGTID], BEGIN …
    val copy = Seq(
      BeginEvent("0", "ks"),
      FieldEvent("0", "ks", "ks.t1", t1Fields, enumSetStringValues = true),
      VgtidEvent("0", vgtid(1)),
      BeginEvent("0", "ks"),
      FieldEvent("0", "ks", "ks.t1", t1Fields, enumSetStringValues = true),
      RowEvent("0", "ks", "ks.t1", Seq(RowChange(None, Some(PackedRow.of(Seq(Some("1"), Some("2"))))))),
      VgtidEvent("0", vgtid(2)),
      CommitEvent("0", "ks", 1L))
    val txs = TransactionAssembler.assemble(copy.iterator).toVector
    assert(txs.size == 1)
    assert(txs.head.vgtid.contains(vgtid(2)))
    // the dropped VGTID still moved the shard: it heads the restarted
    // transaction's events, so a record builder steps it
    assert(txs.head.events.take(2) == Seq(VgtidEvent("0", vgtid(1)), BeginEvent("0", "ks")))
  }

  test("DDL and heartbeat outside a transaction flush immediately with last vgtid") {
    val events = insertTx(3, 1, None) ++ Seq(
      DdlEvent("0", "ks", "ALTER TABLE t1 ADD c INT"),
      HeartbeatEvent("0"))
    val txs = TransactionAssembler.assemble(events.iterator).toVector
    assert(txs.size == 3)
    assert(txs(1).events.head.isInstanceOf[DdlEvent])
    assert(txs(2).events.head.isInstanceOf[HeartbeatEvent])
    // a flush has no VGTID of its own; its records stand at the shard's
    // last position, the one the builder's step holds
    assert(txs(1).vgtid.isEmpty && txs(2).vgtid.isEmpty)
    val rb = new RecordBuilder(new SchemaRegistry, ShardTxStep.fresh("0"))
    val flushed = txs.flatMap(rb.onTransaction).drop(1)
    assert(flushed.map(_.op) == Seq("ddl", "heartbeat"))
    assert(flushed.forall(r => r.vgtid == vgtid(3).json && r.restartVgtid == vgtid(3).json))
    assert(flushed.head.txId.contains("MySQL56/feed:1-3"))
  }

  test("ROW outside a transaction is an error") {
    intercept[IllegalStateException] {
      TransactionAssembler.assemble(Iterator(
        RowEvent("0", "ks", "ks.t1", Nil))).toVector
    }
  }
}

class RecordBuilderSpec extends AnyFunSuite {
  import Fixtures._

  private def build(events: Seq[VEvent], boundaries: Boolean = false): Seq[ChangeRecord] = {
    val registry = new SchemaRegistry
    val rb = new RecordBuilder(registry, ShardTxStep.fresh("0"), boundaries)
    TransactionAssembler.assemble(events.iterator).flatMap(rb.onTransaction).toVector
  }

  test("insert produces a 'c' record with typed json payload and pk key") {
    val recs = build(insertTx(5, 10, Some(7)))
    assert(recs.size == 1)
    val r = recs.head
    assert(r.op == "c" && r.table == "t1" && r.keyspace == "ks" && r.shard == "0")
    assert(r.before.isEmpty)
    assert(r.after.contains("""{"id":10,"int_col":7}"""))
    assert(r.key.contains("""{"id":10}"""))
    assert(r.txId.contains("MySQL56/feed:1-5"))
    assert(r.rank.contains("5"))
    assert(r.epoch == 0)
    assert(r.tsMs == (1700000005L * 1000))
  }

  test("update and delete carry both/only-before sides") {
    val events = Seq(
      BeginEvent("0", "ks"),
      FieldEvent("0", "ks", "ks.t1", t1Fields, enumSetStringValues = false),
      RowEvent("0", "ks", "ks.t1", Seq(
        RowChange(Some(PackedRow.of(Seq(Some("1"), Some("2")))), Some(PackedRow.of(Seq(Some("1"), Some("3"))))),
        RowChange(Some(PackedRow.of(Seq(Some("9"), None))), None))),
      VgtidEvent("0", vgtid(6)),
      CommitEvent("0", "ks", 1L))
    val recs = build(events)
    assert(recs.map(_.op) == Seq("u", "d"))
    assert(recs.head.before.contains("""{"id":1,"int_col":2}"""))
    assert(recs.head.after.contains("""{"id":1,"int_col":3}"""))
    assert(recs.head.totalOrder == 1 && recs(1).totalOrder == 2)
    assert(recs.head.collectionOrder == 1 && recs(1).collectionOrder == 2) // same table
    assert(recs(1).after.isEmpty)
    assert(recs(1).key.contains("""{"id":9}""")) // key from before side on delete
  }

  test("null column decodes to json null") {
    val recs = build(insertTx(1, 5, None))
    assert(recs.head.after.contains("""{"id":5,"int_col":null}"""))
  }

  test("epoch advances across host change; rank tracks gtid sum") {
    val events =
      insertTx(5, 1, Some(1)) ++
        (Seq(
          BeginEvent("0", "ks"),
          RowEvent("0", "ks", "ks.t1", Seq(RowChange(None, Some(PackedRow.of(Seq(Some("2"), Some("2"))))))),
          VgtidEvent("0", Vgtid(Seq(ShardGtid("ks", "0", "MySQL56/other:1-3")))),
          CommitEvent("0", "ks", 2L)))
    val recs = build(events)
    assert(recs.map(_.epoch) == Seq(0L, 1L)) // host set changed feed→other
    assert(recs.map(_.rank) == Seq(Some("5"), Some("3")))
  }

  test("transaction boundary records wrap the DML when enabled") {
    val recs = build(insertTx(2, 1, Some(1)), boundaries = true)
    assert(recs.map(_.op) == Seq("begin", "c", "end"))
    assert(recs.last.totalOrder == 1) // event count
  }

  test("ddl record carries extracted metadata") {
    val events = insertTx(2, 1, Some(1)) :+ DdlEvent("0", "ks", "ALTER TABLE t1 ADD c INT")
    val recs = build(events)
    val ddl = recs.last
    assert(ddl.op == "ddl" && ddl.table == "t1")
    assert(ddl.after.exists(_.contains("\"operation\":\"ALTER\"")))
  }

  test("restart vgtid rotates: records of tx N carry tx N-1's position") {
    // mirrors VitessOffsetContextTest rotate/reset semantics
    val recs = build(insertTx(5, 1, Some(1)) ++ insertTx(6, 2, Some(2)), boundaries = true)
    assert(recs.map(_.op) == Seq("begin", "c", "end", "begin", "c", "end"))
    // tx 1: no prior position → restart offset empty until COMMIT
    assert(recs(0).restartVgtid == "[]" && recs(1).restartVgtid == "[]")
    assert(recs(2).restartVgtid == vgtid(5).json) // end record: own position (reset)
    // tx 2: DML records carry tx 1's position; end carries tx 2's
    assert(recs(3).restartVgtid == vgtid(5).json)
    assert(recs(4).restartVgtid == vgtid(5).json)
    assert(recs(4).vgtid == vgtid(6).json) // source.vgtid = current tx
    assert(recs(5).restartVgtid == vgtid(6).json)

    // a bare VGTID (a filtered transaction's position) then a DDL flush
    // between them: the shard's position at the boundary before tx 2 is
    // the bare VGTID, for the DDL and for tx 2's records alike
    val moved = build(insertTx(5, 1, Some(1)) ++
      Seq(VgtidEvent("0", vgtid(6)), DdlEvent("0", "ks", "ALTER TABLE t1 ADD c INT")) ++
      insertTx(7, 2, Some(2)), boundaries = true)
    assert(moved.map(_.op) == Seq("begin", "c", "end", "ddl", "begin", "c", "end"))
    val ddl = moved(3)
    assert(ddl.vgtid == vgtid(6).json && ddl.restartVgtid == vgtid(6).json)
    assert(ddl.txId.contains("MySQL56/feed:1-6"))
    assert(moved(4).restartVgtid == vgtid(6).json && moved(5).restartVgtid == vgtid(6).json)
    assert(moved(5).vgtid == vgtid(7).json)
    assert(moved(6).restartVgtid == vgtid(7).json)
  }

  test("per-table collection order is independent; total order is global") {
    val t2Fields = Seq(
      FieldDef("id", "INT64", "bigint(20)", 20, 0, ColumnFlags.NotNull | ColumnFlags.PriKey))
    val events = Seq(
      BeginEvent("0", "ks"),
      FieldEvent("0", "ks", "ks.t1", t1Fields, enumSetStringValues = false),
      FieldEvent("0", "ks", "ks.t2", t2Fields, enumSetStringValues = false),
      RowEvent("0", "ks", "ks.t1", Seq(RowChange(None, Some(PackedRow.of(Seq(Some("1"), Some("1"))))))),
      RowEvent("0", "ks", "ks.t2", Seq(RowChange(None, Some(PackedRow.of(Seq(Some("2"))))))),
      RowEvent("0", "ks", "ks.t1", Seq(RowChange(None, Some(PackedRow.of(Seq(Some("3"), Some("3"))))))),
      VgtidEvent("0", vgtid(7)),
      CommitEvent("0", "ks", 1L))
    val recs = build(events)
    assert(recs.map(_.totalOrder) == Seq(1L, 2L, 3L))
    assert(recs.map(_.collectionOrder) == Seq(1L, 1L, 2L)) // t1=1, t2=1, t1=2
  }

  test("DML transaction without a VGTID event is dropped, but its FIELD survives") {
    val events = Seq(
      BeginEvent("0", "ks"),
      FieldEvent("0", "ks", "ks.t1", t1Fields, enumSetStringValues = false),
      RowEvent("0", "ks", "ks.t1", Seq(RowChange(None, Some(PackedRow.of(Seq(Some("1"), Some("2"))))))),
      CommitEvent("0", "ks", 1L))
    assert(build(events).isEmpty)
    // the server sends FIELD once per stream per table: the dropped
    // window's schema must still register, or the NEXT transaction's
    // rows (no FIELD resent) die with "ROW for unknown table"
    val followUp = events ++ Seq(
      BeginEvent("0", "ks"),
      RowEvent("0", "ks", "ks.t1", Seq(RowChange(None, Some(PackedRow.of(Seq(Some("9"), Some("42"))))))),
      VgtidEvent("0", vgtid(2)),
      CommitEvent("0", "ks", 2L))
    val recs = build(followUp)
    assert(recs.count(_.op == "c") == 1)
  }

  test("DDL inside an open transaction is emitted with the transaction, in order") {
    val events = Seq(
      BeginEvent("0", "ks"),
      FieldEvent("0", "ks", "ks.t1", t1Fields, enumSetStringValues = false),
      RowEvent("0", "ks", "ks.t1", Seq(RowChange(None, Some(PackedRow.of(Seq(Some("1"), Some("2"))))))),
      DdlEvent("0", "ks", "ALTER TABLE t1 ADD c INT", 42L),
      VgtidEvent("0", vgtid(8)),
      CommitEvent("0", "ks", 99L))
    val recs = build(events)
    assert(recs.map(_.op) == Seq("c", "ddl"))
    assert(recs.forall(_.tsMs == 99000L)) // tx commit time, not 0
  }

  test("standalone DDL carries its own event timestamp") {
    val events = insertTx(2, 1, Some(1)) :+ DdlEvent("0", "ks", "DROP TABLE t1", 1700000099L)
    val recs = build(events)
    assert(recs.last.op == "ddl")
    assert(recs.last.tsMs == 1700000099L * 1000)
  }

  test("composite primary key: key json carries all pk columns in order") {
    val fields = Seq(
      FieldDef("k1", "INT64", "bigint(20)", 20, 0, ColumnFlags.NotNull | ColumnFlags.PriKey),
      FieldDef("k2", "VARCHAR", "varchar(8)", 8, 0, ColumnFlags.NotNull | ColumnFlags.PriKey),
      FieldDef("v", "INT32", "int(11)", 11, 0, 0L))
    val events = Seq(
      BeginEvent("0", "ks"),
      FieldEvent("0", "ks", "ks.ck", fields, enumSetStringValues = false),
      RowEvent("0", "ks", "ks.ck", Seq(
        RowChange(None, Some(PackedRow.of(Seq(Some("7"), Some("ab"), Some("1"))))))),
      VgtidEvent("0", vgtid(1)),
      CommitEvent("0", "ks", 1L))
    val recs = build(events)
    assert(recs.head.key.contains("""{"k1":7,"k2":"ab"}"""))
  }

  test("no primary key: unique key fallback, else key is absent") {
    val uniqueFields = Seq(
      FieldDef("u", "INT64", "bigint(20)", 20, 0, ColumnFlags.NotNull | ColumnFlags.UniqueKey),
      FieldDef("v", "INT32", "int(11)", 11, 0, 0L))
    val noKeyFields = Seq(
      FieldDef("a", "INT32", "int(11)", 11, 0, 0L),
      FieldDef("b", "INT32", "int(11)", 11, 0, 0L))
    val events = Seq(
      BeginEvent("0", "ks"),
      FieldEvent("0", "ks", "ks.uq", uniqueFields, enumSetStringValues = false),
      FieldEvent("0", "ks", "ks.nk", noKeyFields, enumSetStringValues = false),
      RowEvent("0", "ks", "ks.uq", Seq(RowChange(None, Some(PackedRow.of(Seq(Some("5"), Some("1"))))))),
      RowEvent("0", "ks", "ks.nk", Seq(RowChange(None, Some(PackedRow.of(Seq(Some("2"), Some("3"))))))),
      VgtidEvent("0", vgtid(1)),
      CommitEvent("0", "ks", 1L))
    val recs = build(events)
    assert(recs(0).key.contains("""{"u":5}""")) // unique-key fallback
    assert(recs(1).key.isEmpty) // keyless table: no key struct
  }

  test("anonymized @N column names fail fast (Vitess schema-reload bug)") {
    val bad = Seq(FieldDef("@1", "INT64", "bigint(20)", 20, 0, 0L))
    intercept[IllegalArgumentException] {
      build(Seq(
        BeginEvent("0", "ks"),
        FieldEvent("0", "ks", "ks.t1", bad, enumSetStringValues = false),
        VgtidEvent("0", vgtid(1)),
        CommitEvent("0", "ks", 1L)))
    }
  }

  test("row for unknown table fails fast") {
    val events = Seq(
      BeginEvent("0", "ks"),
      RowEvent("0", "ks", "ks.t9", Seq(RowChange(None, Some(PackedRow.of(Seq(Some("1"))))))),
      VgtidEvent("0", vgtid(1)),
      CommitEvent("0", "ks", 1L))
    intercept[IllegalStateException](build(events))
  }

  test("column count mismatch fails fast") {
    val events = Seq(
      BeginEvent("0", "ks"),
      FieldEvent("0", "ks", "ks.t1", t1Fields, enumSetStringValues = false),
      RowEvent("0", "ks", "ks.t1", Seq(RowChange(None, Some(PackedRow.of(Seq(Some("1"))))))),
      VgtidEvent("0", vgtid(1)),
      CommitEvent("0", "ks", 1L))
    intercept[IllegalArgumentException](build(events))
  }
}
