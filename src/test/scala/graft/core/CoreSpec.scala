package graft.core

import org.scalatest.funsuite.AnyFunSuite

class VgtidSpec extends AnyFunSuite {
  val json =
    """[{"keyspace":"ks","shard":"-80","gtid":"MySQL56/0224:1-1513","table_p_ks":[]},""" +
      """{"keyspace":"ks","shard":"80-","gtid":"MySQL56/0224:1-1513","table_p_ks":[]}]"""

  test("json round-trip preserves shard gtids") {
    val v = Vgtid.of(json)
    assert(v.shardGtids.map(_.shard) == Seq("-80", "80-"))
    assert(v.shardGtids.head.keyspace == "ks")
    assert(Vgtid.of(v.json) == v)
  }

  test("json round-trip with lastpk copy progress") {
    val v = Vgtid(Seq(ShardGtid("ks", "0", "MySQL56/h:1-10", Seq(
      TableLastPk("t1",
        fields = Seq(PkField("id", "INT64", 63, Some(49667))),
        rows = Seq(PkRow(Seq("2"), "OTk=")))))))
    val back = Vgtid.of(v.json)
    assert(back == v)
    assert(back.shardGtids.head.tablePKs.head.rows.head.values == "OTk=")
  }

  test("copy phase trigger: empty gtid or pending lastpk") {
    assert(Vgtid(Seq(ShardGtid("ks", "0", ""))).willTriggerVStreamCopy)
    assert(Vgtid(Seq(ShardGtid("ks", "0", "MySQL56/h:1", Seq(
      TableLastPk("t1", Nil, Nil))))).willTriggerVStreamCopy)
    assert(!Vgtid(Seq(ShardGtid("ks", "0", "MySQL56/h:1"))).willTriggerVStreamCopy)
  }

  test("local vgtid keeps only the record's shard") {
    val v = Vgtid.of(json)
    assert(v.localVgtid("-80").shardGtids.map(_.shard) == Seq("-80"))
  }

  test("copy-progress ordering: multi-table in-flight and text PKs") {
    def lp(t: String, v: String, tpe: String = "INT64"): TableLastPk =
      TableLastPk(t, Seq(PkField("id", tpe, 63, None)),
        if (v.isEmpty) Nil
        else Seq(PkRow(Seq(v.length.toString),
          java.util.Base64.getEncoder.encodeToString(v.getBytes("UTF-8")))))
    def pos(pks: TableLastPk*): ShardGtid =
      ShardGtid("ks", "0", "MySQL56/h:1-1", pks.toVector)
    // a table absent on exactly one side finished copying there → later
    assert(CopyProgress.compare(pos(lp("t1", "2"), lp("t2", "")), pos(lp("t2", "1"))) < 0)
    assert(CopyProgress.compare(pos(lp("t2", "9")), pos(lp("t1", "1"), lp("t2", ""))) > 0)
    // same table set → the in-flight table's lastpk decides
    assert(CopyProgress.compare(
      pos(lp("t1", "2"), lp("t2", "")), pos(lp("t1", "10"), lp("t2", ""))) < 0)
    // not-yet-started (no lastpk row) sorts before any progress
    assert(CopyProgress.compare(
      pos(lp("t1", ""), lp("t2", "")), pos(lp("t1", "1"), lp("t2", ""))) < 0)
    // numeric-text PKs order by exact numeric value: 9 < 10
    assert(CopyProgress.compare(pos(lp("t", "9")), pos(lp("t", "10"))) < 0)
    // signed and DECIMAL text too: -5 < 4, -12.00 < 3.00 (length-first
    // ordering would invert both)
    assert(CopyProgress.compare(pos(lp("t", "-5")), pos(lp("t", "4"))) < 0)
    assert(CopyProgress.compare(
      pos(lp("t", "-12.00", "DECIMAL")), pos(lp("t", "3.00", "DECIMAL"))) < 0)
    assert(CopyProgress.compare(
      pos(lp("t", "3.00", "DECIMAL")), pos(lp("t", "-12.00", "DECIMAL"))) > 0)
    // VARCHAR PKs order lexicographically: "ab" < "b" despite being longer
    assert(CopyProgress.compare(
      pos(lp("t", "ab", "VARCHAR")), pos(lp("t", "b", "VARCHAR"))) < 0)
    assert(CopyProgress.compare(
      pos(lp("t", "b", "VARCHAR")), pos(lp("t", "ab", "VARCHAR"))) > 0)
  }

  test("reads reference-shaped json without table_p_ks") {
    val v = Vgtid.of("""[{"keyspace":"ks","shard":"0","gtid":"current"}]""")
    assert(v.shardGtids.head.gtid == "current")
  }

  test("copy-progress ordering: composite PKs compare per column, not concatenated") {
    def b64(s: String) = java.util.Base64.getEncoder.encodeToString(s.getBytes("UTF-8"))
    def lp2(a: String, bv: String): TableLastPk =
      TableLastPk("t",
        Seq(PkField("a", "INT64", 63, None), PkField("b", "INT64", 63, None)),
        Seq(PkRow(Seq(a.length.toString, bv.length.toString), b64(a + bv))))
    def pos(pk: TableLastPk) = ShardGtid("ks", "0", "MySQL56/h:1-1", Seq(pk))
    // (1,95) < (2,5): the concatenated strings "195" vs "25" invert this
    assert(CopyProgress.compare(pos(lp2("1", "95")), pos(lp2("2", "5"))) < 0)
    assert(CopyProgress.compare(pos(lp2("2", "5")), pos(lp2("1", "95"))) > 0)
    // first column ties → second decides numerically
    assert(CopyProgress.compare(pos(lp2("7", "9")), pos(lp2("7", "10"))) < 0)
    // a NULL column (length -1) orders first
    val withNull = TableLastPk("t",
      Seq(PkField("a", "INT64", 63, None), PkField("b", "INT64", 63, None)),
      Seq(PkRow(Seq("1", "-1"), b64("7"))))
    assert(CopyProgress.compare(pos(withNull), pos(lp2("7", "0"))) < 0)
  }

  test("copy-progress ordering: one side metadata-less still compares numerically") {
    def b64(s: String) = java.util.Base64.getEncoder.encodeToString(s.getBytes("UTF-8"))
    // a checkpoint round-trip that drops fields must not flip "9" vs
    // "10" to lexicographic order against a fields-carrying position
    def withMeta(v: String) = TableLastPk("t",
      Seq(PkField("id", "INT64", 63, None)),
      Seq(PkRow(Seq(v.length.toString), b64(v))))
    def noMeta(v: String) = TableLastPk("t", Nil,
      Seq(PkRow(Seq(v.length.toString), b64(v))))
    def pos(pk: TableLastPk) = ShardGtid("ks", "0", "MySQL56/h:1-1", Seq(pk))
    assert(CopyProgress.compare(pos(noMeta("9")), pos(withMeta("10"))) < 0)
    assert(CopyProgress.compare(pos(withMeta("10")), pos(noMeta("9"))) > 0)
    // one side declares numeric, the other declares nothing per-column
    // but both values parse → numeric
    assert(CopyProgress.compare(pos(withMeta("9")), pos(noMeta("10"))) < 0)
    // non-numeric values still fall back to byte order
    assert(CopyProgress.compare(pos(noMeta("ab")), pos(withMeta("b"))) < 0)
    // a POSITIVE non-numeric declaration wins over a metaless side:
    // VARCHAR "9"/"10" paginated in byte order ("10" < "9"), and a
    // dropped-metadata checkpoint must not flip it to numeric
    def varcharMeta(v: String) = TableLastPk("t",
      Seq(PkField("id", "VARCHAR", 253, None)),
      Seq(PkRow(Seq(v.length.toString), b64(v))))
    assert(CopyProgress.compare(pos(noMeta("10")), pos(varcharMeta("9"))) < 0)
    assert(CopyProgress.compare(pos(varcharMeta("9")), pos(noMeta("10"))) > 0)
  }

  test("copy-progress ordering: corrupt lastpk (lengths past value bytes) is loud") {
    def b64(s: String) = java.util.Base64.getEncoder.encodeToString(s.getBytes("UTF-8"))
    // declared length 5 over 2 value bytes: a silent clamp would compare
    // copy progress on a truncated prefix
    val corrupt = TableLastPk("t",
      Seq(PkField("id", "INT64", 63, None)),
      Seq(PkRow(Seq("5"), b64("42"))))
    val ok = TableLastPk("t",
      Seq(PkField("id", "INT64", 63, None)),
      Seq(PkRow(Seq("2"), b64("43"))))
    def pos(pk: TableLastPk) = ShardGtid("ks", "0", "MySQL56/h:1-1", Seq(pk))
    val err = intercept[IllegalStateException] {
      CopyProgress.compare(pos(corrupt), pos(ok))
    }
    assert(err.getMessage.contains("corrupt lastpk"))
  }

  test("vgtid: same shard name under two keyspaces is ambiguous and loud") {
    val v = Vgtid(Seq(
      ShardGtid("ks1", "-80", "MySQL56/h:1-1"),
      ShardGtid("ks2", "-80", "MySQL56/h:1-2")))
    val err = intercept[IllegalStateException] { v.shardGtid("-80") }
    assert(err.getMessage.contains("multiple keyspaces"))
  }
}

class TxMetadataSpec extends AnyFunSuite {
  test("gtid parse: multi-host ranges and single positions") {
    val g = Gtid.parse("MySQL56/host1:1-123,host2:5")
    assert(g.version == "MySQL56")
    assert(g.hosts == Set("host1", "host2"))
    assert(g.sequenceValues == Seq("123", "5"))
  }

  test("gtid parse: MariaDB flavor (domain-server identity, last seg = seq)") {
    val g = Gtid.parse("MariaDB/0-54610504-45")
    assert(g.version == "MariaDB")
    assert(g.hosts == Set("0-54610504"))
    assert(g.sequenceValues == Seq("45"))
  }

  test("rank is the sum of per-host max sequences") {
    assert(Rank.of("MySQL56/host1:1-123,host2:5") == BigDecimal(128))
    assert(Rank.of("MySQL56/h:1-99999999999999999999") == BigDecimal("99999999999999999999"))
  }

  test("gtid parse: multi-interval sets rank by the LAST interval's end") {
    // replication gaps: host:1-100:105-110 is strictly ahead of host:1-108
    assert(Rank.of("MySQL56/h:1-100:105-110") == BigDecimal(110))
    assert(Rank.of("MySQL56/h:1-100:105-110") > Rank.of("MySQL56/h:1-108"))
    val g = Gtid.parse("MySQL56/h:1-100:105-110,k:7")
    assert(g.sequenceValues == Seq("110", "7"))
  }

  test("epoch: overridden → overridden keeps epoch") {
    assert(EpochProvider.epochForGtid(3, "current", "") == 3)
  }

  test("epoch: overridden → standard increments") {
    assert(EpochProvider.epochForGtid(3, "current", "MySQL56/h:1-5") == 4)
  }

  test("epoch: standard → overridden throws") {
    intercept[IllegalStateException] {
      EpochProvider.epochForGtid(0, "MySQL56/h:1-5", "current")
    }
  }

  test("epoch: host superset keeps epoch, host loss increments") {
    assert(EpochProvider.epochForGtid(1, "MySQL56/a:1-5", "MySQL56/a:1-9,b:2") == 1)
    assert(EpochProvider.epochForGtid(1, "MySQL56/a:1-9,b:2", "MySQL56/b:3") == 2)
    assert(EpochProvider.epochForGtid(1, "MySQL56/a:1-5", "MySQL56/b:1-5") == 2)
  }

  test("shard epoch map json round-trip is sorted") {
    val m = ShardEpochMap.fromJson("""{"80-":1,"-80":0}""")
    assert(m.json == """{"-80":0,"80-":1}""")
    assert(m.get("80-").contains(1L))
  }

  test("shard lineage: child inherits max overlapping parent epoch + 1") {
    val parents = ShardEpochMap.fromJson("""{"-80":2,"80-":5}""")
    assert(ShardLineage.inheritedEpoch("-40", parents) == 3) // overlaps -80 only
    assert(ShardLineage.inheritedEpoch("40-c0", parents) == 6) // overlaps both
    assert(ShardLineage.inheritedEpoch("-", parents) == 6) // full range overlaps all
  }

  test("shard lineage: no overlap → epoch 0") {
    val parents = ShardEpochMap.fromJson("""{"-40":7}""")
    assert(ShardLineage.inheritedEpoch("40-80", parents) == 0)
  }

  test("shard lineage: invalid range rejected") {
    intercept[IllegalArgumentException] {
      ShardLineage.inheritedEpoch("80-40", ShardEpochMap.empty)
    }
  }

  test("generation change bumps all epochs (upgrade and rollback)") {
    val m = ShardEpochMap.fromJson("""{"0":4}""")
    assert(EpochProvider.applyGeneration(m, 1, 2).get("0").contains(5L))
    assert(EpochProvider.applyGeneration(m, 2, 1).get("0").contains(5L))
    assert(EpochProvider.applyGeneration(m, 2, 2).get("0").contains(4L))
  }

  test("shard tx step: a position steps the epoch and orders by (epoch, rank)") {
    def at(gtid: String) = ShardGtid("ks", "0", gtid)
    val s0 = ShardTxStep.fresh("0")
    val s1 = s0.onPosition(at("MySQL56/a:1-10"))
    assert(s1.epoch == 0 && Rank.of(s1.sg.gtid) == BigDecimal(10)) // leaving empty keeps the epoch
    val s2 = s1.onPosition(at("MySQL56/a:1-12"))
    assert(s2.epoch == 0 && s2.after(s1) && !s1.after(s2))
    val s3 = s2.onPosition(at("MySQL56/b:3"))
    assert(s3.epoch == 1 && Rank.of(s3.sg.gtid) == BigDecimal(3)) // host set changed → new epoch
    assert(s3.after(s2), "a lower rank in a later epoch is still later")
    val x = ShardTxStep(at("MySQL56/a:1-2,b:1-2"), 0)
    assert(x.onPosition(at("MySQL56/b:1-1")) == x, "a GTID set inside the position is history")
    assert(s3.onPosition(s3.sg) == s3, "an unchanged position is a no-op")
  }

  test("shard tx step: the heartbeat baseline moves on the first commit and each interval") {
    val s0 = ShardTxStep.fresh("0")
    assert(s0.onCommit(5000L, 0L) == s0) // interval 0 = NOOP
    val s1 = s0.onCommit(5000L, 2000L)
    assert(s1.hbMs == 5000L) // the first commit seeds the baseline
    assert(s1.onCommit(6000L, 2000L) == s1) // inside the interval
    assert(s1.onCommit(7000L, 2000L).hbMs == 7000L)
  }
}

class VitessTypesSpec extends AnyFunSuite {
  import GraftType._

  test("integer widening matrix") {
    assert(resolve("INT8") == Int16Type)
    assert(resolve("UINT8") == Int16Type)
    assert(resolve("INT16") == Int16Type)
    assert(resolve("UINT16") == Int32Type)
    assert(resolve("INT24") == Int32Type)
    assert(resolve("INT32") == Int32Type)
    assert(resolve("UINT32") == Int64Type)
    assert(resolve("INT64") == Int64Type)
    assert(resolve("UINT64") == UInt64)
    assert(resolve("FLOAT32") == Float32)
    assert(resolve("FLOAT64") == Float64)
    assert(resolve("DECIMAL") == DecimalStr)
    assert(resolve("YEAR") == YearT)
  }

  test("decimal.handling.mode=precise resolves a typed DECIMAL(p,s)") {
    import org.apache.spark.sql.types.DecimalType
    // default: precise-by-string
    assert(GraftType.resolve("DECIMAL", "decimal(13,4)", 13, 4) == GraftType.DecimalStr)
    // precise: typed with precision/scale parsed from the definition
    val t = GraftType.resolve("DECIMAL", "decimal(13,4)", 13, 4, decimalPrecise = true)
    assert(t == GraftType.DecimalT(13, 4))
    assert(t.sparkType == DecimalType(13, 4))
    // bare definition falls back to wire columnLength/decimals
    assert(GraftType.resolve("DECIMAL", "", 11, 2, decimalPrecise = true) ==
      GraftType.DecimalT(11, 2))
    // decode keeps exact text scale as BigDecimal; double mode is lossy
    val raw = "12345.6700".getBytes("UTF-8")
    assert(ValueConversion.decode(GraftType.DecimalT(13, 4), raw) ==
      Some(BigDecimal("12345.6700")))
    assert(ValueConversion.decode(GraftType.DecimalStr, raw,
      decimalMode = ValueConversion.DecimalMode.AsDouble) == Some(12345.67))
    assert(ValueConversion.decode(GraftType.DecimalStr, raw) == Some("12345.6700"))
  }

  test("textual BLOB and binary VARCHAR disambiguation") {
    assert(resolve("BLOB", "TEXT") == Text)
    assert(resolve("BLOB", "longtext") == Text)
    assert(resolve("BLOB", "blob") == Bytes)
    assert(resolve("VARBINARY", "VARCHAR(32)") == Text)
    assert(resolve("VARBINARY", "VARBINARY(32)") == Bytes)
    assert(resolve("BINARY", "CHAR(2)") == Text)
    assert(resolve("BINARY", "BINARY(2)") == Bytes)
  }

  test("enum/set resolution: index-valued streaming, string-valued in copy phase") {
    resolve("ENUM", "enum('s','m','l')") match {
      case Enum(vs, stringValued) => assert(vs == Seq("s", "m", "l") && !stringValued)
      case other => fail(s"unexpected $other")
    }
    resolve("SET", "set('a','b')", isEnumSetStringValue = true) match {
      case SetT(vs, stringValued) => assert(vs == Seq("a", "b") && stringValued)
      case other => fail(s"unexpected $other")
    }
    // binary-charset enum arrives as wire type BINARY with enum column type
    resolve("BINARY", "enum('x','y')") match {
      case Enum(vs, _) => assert(vs == Seq("x", "y"))
      case other => fail(s"unexpected $other")
    }
  }

  test("enum definition parser handles escaped quotes") {
    assert(parseEnumOrSetValues("enum('m','l','xl')") == Seq("m", "l", "xl"))
    assert(parseEnumOrSetValues("enum('a''b','c')") == Seq("a'b", "c"))
    assert(parseEnumOrSetValues("") == Nil)
  }

  test("temporal and bit resolution carry precision/length") {
    assert(resolve("TIME", decimals = 4) == TimeT(4))
    assert(resolve("DATETIME", decimals = 2) == DatetimeT(2))
    assert(resolve("TIMESTAMP", decimals = 6) == TimestampT(6))
    assert(resolve("BIT", columnLength = 1) == Bits(1))
    assert(resolve("BIT", columnLength = 8) == Bits(8))
    assert(resolve("GEOMETRY") == Unknown)
  }

  test("column flags decode and anonymized-name rejection") {
    val c = ColumnMeta.of("id", Int64Type, ColumnFlags.NotNull | ColumnFlags.PriKey)
    assert(!c.optional && c.primaryKey)
    intercept[IllegalArgumentException](ColumnMeta.of("@1", Int64Type, 0))
    intercept[IllegalArgumentException](ColumnMeta.of("", Int64Type, 0))
  }

  test("key resolution: PK preferred, else first single-column unique key") {
    val ref = TableRef("0", "ks", "t")
    val pk = TableMeta(ref, Seq(
      ColumnMeta("id", Int64Type, optional = false, primaryKey = true, uniqueKey = false),
      ColumnMeta("u", Int32Type, optional = true, primaryKey = false, uniqueKey = true)))
    assert(pk.keyColumns == Seq("id"))
    val uq = TableMeta(ref, Seq(
      ColumnMeta("a", Int64Type, optional = true, primaryKey = false, uniqueKey = false),
      ColumnMeta("b", Int32Type, optional = true, primaryKey = false, uniqueKey = true),
      ColumnMeta("c", Int32Type, optional = true, primaryKey = false, uniqueKey = true)))
    assert(uq.keyColumns == Seq("b"))
    assert(TableMeta(ref, Nil).keyColumns.isEmpty)
  }
}

class ValueConversionSpec extends AnyFunSuite {
  import ValueConversion._

  test("uint64 wraparound correction") {
    assert(correctUnsignedBigint(BigDecimal(-1)) == BigDecimal("18446744073709551615"))
    assert(correctUnsignedBigint(BigDecimal(5)) == BigDecimal(5))
  }

  test("enum index→label; invalid index → empty string") {
    val opts = Seq("small", "medium", "large")
    assert(enumToString(opts, 3) == "large")
    assert(enumToString(opts, 0) == "")
    assert(enumToString(opts, 4) == "")
  }

  test("set bitmask→csv: 'a,c' has mask 5") {
    val opts = Seq("a", "b", "c", "d")
    assert(setToString(opts, 5L) == "a,c")
    assert(setToString(opts, 0L) == "")
    assert(setToString(opts, 15L) == "a,b,c,d")
    assert(setToString(Seq("a"), 2L) == "") // bit beyond definition dropped
    // out-of-range bits drop WITHOUT a dangling separator
    assert(setToString(Seq("a"), 5L) == "a")      // bits 0,2 → just "a"
    assert(setToString(Seq("a"), 6L) == "")       // bits 1,2 both out of range
    assert(setToString(Seq("a", "b"), 13L) == "a") // bits 0,2,3 → "a", no comma
  }

  test("date: zero month/day → null, year 0 kept") {
    assert(parseDate("2020-02-11").map(_.toString).contains("2020-02-11"))
    assert(parseDate("0000-00-00").isEmpty)
    assert(parseDate("2020-00-01").isEmpty)
    assert(parseDate("0000-01-01").map(_.toString).contains("0000-01-01"))
    intercept[IllegalArgumentException](parseDate("garbage"))
  }

  test("time: negative, fractional, >24h") {
    assert(timeToMicros("01:02:03") == (1 * 3600 + 2 * 60 + 3) * 1000000L)
    assert(timeToMicros("-01:00:00") == -3600000000L)
    assert(timeToMicros("00:00:01.5") == 1500000L)
    assert(timeToMicros("838:59:59") == (838 * 3600 + 59 * 60 + 59) * 1000000L)
  }

  test("datetime: zero sentinel → null; fractional seconds parse") {
    assert(parseDatetime("2020-02-12 01:02:03").map(_.toString).contains("2020-02-12T01:02:03"))
    assert(parseDatetime("0000-00-00 00:00:00").isEmpty)
    // zero day OR zero month alone is the same sentinel family
    // (NO_ZERO_IN_DATE off permits both) — None, like the DATE path
    assert(parseDatetime("2020-05-00 10:00:00").isEmpty)
    assert(parseDatetime("2020-00-05 10:00:00").isEmpty)
    assert(parseDatetime("2020-02-12 01:02:03.123456").exists(_.getNano == 123456000))
  }

  test("timestamp: UTC ISO string and epoch micros") {
    assert(timestampToIsoUtc("2020-02-13 01:02:03").contains("2020-02-13T01:02:03Z"))
    assert(parseTimestampUtcMicros("1970-01-01 00:00:01").contains(1000000L))
    assert(parseTimestampUtcMicros("0000-00-00 00:00:00").isEmpty)
  }

  test("bit(1) → boolean") {
    assert(bitToBoolean(Array[Byte](1)))
    assert(!bitToBoolean(Array[Byte](0)))
  }

  test("decode dispatches by resolved type") {
    import GraftType._
    def b(s: String) = s.getBytes("UTF-8")
    assert(decode(Int16Type, b("42")).contains(42.toShort))
    assert(decode(Int64Type, null).isEmpty)
    assert(decode(Enum(Seq("s", "m", "l"), stringValued = false), b("2")).contains("m"))
    assert(decode(Enum(Seq("s", "m", "l"), stringValued = true), b("m")).contains("m"))
    assert(decode(SetT(Seq("a", "b", "c", "d"), stringValued = false), b("5")).contains("a,c"))
    assert(decode(DateT, b("0000-00-00")).isEmpty)
    // default mode is STRING (reference VitessConnectorConfig.java:471-473)
    assert(decode(UInt64, b("18446744073709551615")).contains("18446744073709551615"))
    assert(decode(UInt64, b("-1"), UInt64Mode.AsPrecise).contains(BigDecimal("18446744073709551615")))
    assert(decode(UInt64, b("123"), UInt64Mode.AsLong).contains(123L))
  }

  test("temporal precision matrix: fractional seconds across modes") {
    import GraftType._
    def b(s: String) = s.getBytes("UTF-8")
    // TIME fractional digits 0..6 (reference temporal-types test matrix)
    assert(decode(TimeT(0), b("10:00:00")).contains(36000000000L))
    assert(decode(TimeT(1), b("10:00:00.1")).contains(36000100000L))
    assert(decode(TimeT(3), b("10:00:00.123")).contains(36000123000L))
    assert(decode(TimeT(6), b("10:00:00.123456")).contains(36000123456L))
    // negative fractional TIME keeps the sign on the fraction
    assert(decode(TimeT(3), b("-00:00:00.5")).contains(-500000L))
    // DATETIME with fraction round-trips through LocalDateTime
    assert(decode(DatetimeT(6), b("2021-06-07 08:09:10.123456"))
      .contains(java.time.LocalDateTime.parse("2021-06-07T08:09:10.123456")))
    // TIMESTAMP fraction lands in the micros
    assert(decode(TimestampT(3), b("1970-01-01 00:00:00.001")).contains(1000L))
    // connect mode truncates micros to millis
    assert(decode(TimestampT(6), b("1970-01-01 00:00:00.000999"),
      temporalMode = TemporalMode.ConnectMillis).contains(0L))
  }

  test("zero-date epoch fallback types") {
    import GraftType._
    assert(ValueConversion.epochFallback(DateT).contains(java.time.LocalDate.ofEpochDay(0)))
    assert(ValueConversion.epochFallback(DatetimeT(0))
      .contains(java.time.LocalDateTime.ofEpochSecond(0, 0, java.time.ZoneOffset.UTC)))
    assert(ValueConversion.epochFallback(TimestampT(0)).contains(0L))
    assert(ValueConversion.epochFallback(Text).isEmpty) // non-temporal: no fallback
  }

  test("binary handling modes: bytes, base64, hex") {
    import GraftType._
    def b(s: String) = s.getBytes("UTF-8")
    assert(decode(Bytes, b("AB")).exists(_.asInstanceOf[Array[Byte]].sameElements(b("AB"))))
    assert(decode(Bytes, b("AB"), binaryMode = BinaryMode.Base64).contains("QUI="))
    assert(decode(Bytes, b("AB"), binaryMode = BinaryMode.Hex).contains("4142"))
    // BIT(1) still decodes to boolean regardless of binary mode
    assert(decode(Bits(1), Array[Byte](1), binaryMode = BinaryMode.Hex).contains(true))
    assert(decode(Bits(8), Array[Byte](0x0f), binaryMode = BinaryMode.Hex).contains("0f"))
  }

  test("connect temporal mode truncates to millisecond epoch values") {
    import GraftType._
    def b(s: String) = s.getBytes("UTF-8")
    assert(decode(TimeT(3), b("01:00:00.5"), temporalMode = TemporalMode.ConnectMillis)
      .contains(3600500L))
    assert(decode(DatetimeT(0), b("2021-01-02 03:04:05"), temporalMode = TemporalMode.ConnectMillis)
      .contains(1609556645000L))
    assert(decode(TimestampT(0), b("2021-01-02 03:04:05"), temporalMode = TemporalMode.ConnectMillis)
      .contains(1609556645000L))
    // zero-date still collapses to None before the mode applies
    assert(decode(DatetimeT(0), b("2024-00-00 00:00:00"), temporalMode = TemporalMode.ConnectMillis).isEmpty)
  }

  test("isostring temporal mode passes raw strings through") {
    import GraftType._
    def b(s: String) = s.getBytes("UTF-8")
    assert(decode(DateT, b("2020-02-29"), temporalMode = TemporalMode.IsoString).contains("2020-02-29"))
    assert(decode(TimeT(0), b("-01:30:15"), temporalMode = TemporalMode.IsoString).contains("-01:30:15"))
    assert(decode(DatetimeT(0), b("2021-01-02 03:04:05"), temporalMode = TemporalMode.IsoString)
      .contains("2021-01-02 03:04:05"))
    assert(decode(TimestampT(0), b("0000-00-00 00:00:00"), temporalMode = TemporalMode.IsoString)
      .contains("0000-00-00 00:00:00")) // zero-date survives in iso mode
  }
}
