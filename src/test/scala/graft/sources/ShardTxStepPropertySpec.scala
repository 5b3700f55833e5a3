package graft.sources

import graft.core._
import graft.streaming._
import java.nio.file.Files
import org.apache.spark.sql.catalyst.InternalRow
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** The driver's offset fold and the partition reader step one
  * [[ShardTxStep]] over the same lines. Over random single-shard feeds —
  * host-set changes (rank drops included), bare VGTIDs, DDL flushes,
  * empty transactions, heartbeat events and a copy phase with lastpk
  * progress — every safe boundary the fold publishes must hold the
  * state the reader reaches over the same prefix, and a window cut at
  * that boundary must not change a record. No streaming query: the fold
  * and the reader run directly over a feed file. Seeded, so a failure
  * reproduces. */
class ShardTxStepPropertySpec extends AnyFunSuite {

  private val IntervalMs = 2000L

  private val fields = Seq(
    FieldDef("id", "INT64", "bigint(20)", 20, 0, ColumnFlags.NotNull | ColumnFlags.PriKey),
    FieldDef("v", "VARCHAR", "varchar(32)", 32, 0, 0L))

  private sealed trait Item
  private case object Dml extends Item
  private case object EmptyTx extends Item
  private case object BareVgtid extends Item
  private case object SameVgtid extends Item // a bare VGTID repeating the position
  private case object Ddl extends Item
  private case object Heartbeat extends Item
  private case object Failover extends Item // new host set: epoch bump, rank drop
  private case object AddHost extends Item // host superset: same epoch

  private val item: Gen[Item] = Gen.frequency(
    8 -> Dml, 2 -> EmptyTx, 2 -> BareVgtid, 1 -> SameVgtid, 1 -> Ddl,
    1 -> Heartbeat, 2 -> Failover, 1 -> AddHost)

  private val feedGen: Gen[(Int, Seq[(Item, Int)])] = for {
    copyTxs <- Gen.choose(0, 3)
    n <- Gen.choose(3, 20)
    items <- Gen.listOfN(n, Gen.zip(item, Gen.choose(0, 3))) // (kind, commit-time step in s)
  } yield (copyTxs, items)

  /** Render a generated feed: GTID sets only grow within a host set, so
    * positions are monotone by (epoch, rank); a failover restarts the
    * sequence on fresh hosts. */
  private def render(copyTxs: Int, items: Seq[(Item, Int)]): Seq[VEvent] = {
    var hosts = Vector("h0")
    var seqs = Map("h0" -> 1L)
    var nextHost = 1
    var ts = 1700000000L
    var id = 0L
    def gtid: String = "MySQL56/" + hosts.sorted.map(h => s"$h:1-${seqs(h)}").mkString(",")
    def advance(): String = {
      val h = hosts((seqs.values.sum % hosts.size).toInt)
      seqs += h -> (seqs(h) + 1)
      gtid
    }
    def vgtid(g: String, pks: Seq[TableLastPk] = Nil) =
      VgtidEvent("s0", Vgtid(Seq(ShardGtid("ks", "s0", g, pks))))
    def row(): RowEvent = {
      id += 1
      RowEvent("s0", "ks", "ks.t1", Seq(
        RowChange(None, Some(PackedRow.of(Seq(Some(id.toString), Some(s"v$id")))))))
    }
    def lastPk(k: Long) = Seq(TableLastPk("t1", Seq(PkField("id", "INT64", 63, None)),
      Seq(PkRow(Seq(k.toString.length.toString),
        java.util.Base64.getEncoder.encodeToString(k.toString.getBytes("UTF-8"))))))
    val field = FieldEvent("s0", "ks", "ks.t1", fields, enumSetStringValues = false)
    var fieldSent = copyTxs > 0
    val copy = (1 to copyTxs).flatMap { _ =>
      Seq(BeginEvent("s0", "ks"), field, row(), vgtid(gtid, lastPk(id)), CommitEvent("s0", "ks", ts))
    } ++ (if (copyTxs > 0) Seq(CopyCompletedEvent("s0")) else Nil)
    val stream = items.zipWithIndex.flatMap { case ((kind, dt), i) =>
      ts += dt
      kind match {
        case Dml =>
          val head = if (fieldSent) Seq(BeginEvent("s0", "ks")) else Seq(BeginEvent("s0", "ks"), field)
          fieldSent = true
          head ++ Seq(row(), vgtid(advance()), CommitEvent("s0", "ks", ts))
        case EmptyTx => Seq(BeginEvent("s0", "ks"), vgtid(advance()), CommitEvent("s0", "ks", ts))
        case BareVgtid => Seq(vgtid(advance()))
        case SameVgtid => if (copyTxs == 0 && i == 0) Nil else Seq(vgtid(gtid))
        case Ddl => Seq(DdlEvent("s0", "ks", s"ALTER TABLE t1 COMMENT 'c$i'", ts))
        case Heartbeat => Seq(HeartbeatEvent("s0"))
        case Failover =>
          hosts = Vector(s"h$nextHost"); seqs += s"h$nextHost" -> 1L; nextHost += 1
          Nil
        case AddHost =>
          hosts :+= s"h$nextHost"; seqs += s"h$nextHost" -> 1L; nextHost += 1
          Nil
      }
    }
    copy ++ stream
  }

  private def forAll(cases: Int)(f: ((Int, Seq[(Item, Int)])) => Unit): Unit =
    (0 until cases).foreach { i =>
      feedGen.apply(Gen.Parameters.default, Seed(i.toLong)).foreach(f)
    }

  private val fresh = ShardTxStep(ShardGtid("ks", "s0", Vgtid.EmptyGtid), 0L)

  /** Every cursor the fold publishes over the whole feed, in order. */
  private def foldCursors(file: String): Seq[ShardCursor] = {
    val seed = ShardCursor(0L, fresh, Map.empty, 0L)
    val fold = new TxBoundaryFold("s0", "ks", seed, fresh, IntervalMs, Long.MaxValue)
    val slice = new FeedSlice(file, 0L)
    val out = Vector.newBuilder[ShardCursor]
    try {
      var line = slice.readLine()
      while (line != null) {
        fold.onLine(line, slice.position)
        if (fold.safe.pos == slice.position) out += fold.safe
        line = slice.readLine()
      }
    } finally slice.close()
    out.result()
  }

  /** One reader segment from cursor `from` to cursor `to`, as the
    * planner builds it: records (op, after, vgtid, epoch, rank, ts) and
    * the reader's final step. */
  private def read(file: String, from: ShardCursor, to: ShardCursor)
      : (Seq[(String, String, String, Long, String, Long)], ShardTxStep) = {
    val p = VitessCdcPartition(
      "s0", "ks", file, from.step, to.step, emitBoundaries = false,
      tableFilter = TableFilter.acceptAll, heartbeatIntervalMs = IntervalMs,
      startByte = from.pos, endByte = to.pos,
      schemaLines = from.schemas.values.toSeq)
    val r = new VitessCdcPartitionReader(p, FileFeedTransport(new java.io.File(file).getParent, true))
    val out = Vector.newBuilder[(String, String, String, Long, String, Long)]
    try {
      while (r.next()) {
        val row: InternalRow = r.get()
        def str(i: Int) = Option(row.getUTF8String(i)).map(_.toString).orNull
        out += ((str(3), str(5), str(8), row.getLong(11), str(12), row.getLong(7)))
      }
    } finally r.close()
    (out.result(), r.step)
  }

  test("the fold's cursor equals the reader's state at every safe boundary; cuts change no record") {
    val dir = graft.TempDirs.reclaimOnExit(Files.createTempDirectory("shardtxstep"))
    var epochsSeen = Set.empty[Long]
    var boundaries = 0
    forAll(200) { case (copyTxs, items) =>
      val events = render(copyTxs, items)
      val file = dir.resolve("s0.jsonl")
      Files.writeString(file, events.map(VEventJson.write).mkString("", "\n", "\n"))
      val f = file.toString
      val start = ShardCursor(0L, fresh, Map.empty, 0L)
      val cursors = foldCursors(f)
      val last = cursors.last
      val (whole, wholeStep) = read(f, start, last)
      assert(wholeStep == last.step, s"whole feed: $items")
      cursors.foreach { c =>
        val (head, headStep) = read(f, start, c)
        assert(headStep == c.step, s"prefix to byte ${c.pos} of $copyTxs copy txs + $items")
        val (tail, tailStep) = read(f, c, last)
        assert(tailStep == last.step, s"suffix from byte ${c.pos}: $items")
        assert(head ++ tail == whole, s"cut at byte ${c.pos} changed records: $items")
        boundaries += 1
      }
      epochsSeen ++= cursors.map(_.step.epoch)
    }
    // the generator reaches the cases the rules exist for
    assert(epochsSeen.max >= 3, s"epochs seen: $epochsSeen")
    assert(boundaries > 1000, s"only $boundaries boundaries checked")
  }
}
