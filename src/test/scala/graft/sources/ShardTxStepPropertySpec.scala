package graft.sources

import graft.core._
import graft.streaming._
import java.nio.file.Files
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** The driver's offset fold and the partition reader step one
  * [[ShardTxStep]] over the same lines. Over random single-shard feeds —
  * host-set changes (rank drops included), DML at a replica's GTID set
  * that drops a host yet lies inside the current one, bare VGTIDs, DDL
  * flushes, empty transactions, heartbeat events and a copy phase with
  * lastpk progress — every safe boundary the fold publishes must hold the
  * state the reader reaches over the same prefix, a window cut at that
  * boundary must not change any column of any record, and a batch ending
  * there must emit its per-batch heartbeat at that state. The batch
  * pipeline (`CdcPipeline`) must give the uncut reader's records. No
  * streaming query: the fold, the reader and the pipeline run directly
  * over a feed file. Seeded, so a failure reproduces. */
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
  // DML from a replica missing transactions: its GTID set drops a host yet
  // lies inside the current one, so it moves the position but keeps the epoch
  private case object Replica extends Item

  private val item: Gen[Item] = Gen.frequency(
    8 -> Dml, 2 -> EmptyTx, 2 -> BareVgtid, 1 -> SameVgtid, 1 -> Ddl,
    1 -> Heartbeat, 2 -> Failover, 1 -> AddHost, 2 -> Replica)

  private val feedGen: Gen[(Int, Seq[(Item, Int)])] = for {
    copyTxs <- Gen.choose(0, 3)
    n <- Gen.choose(3, 20)
    items <- Gen.listOfN(n, Gen.zip(item, Gen.choose(0, 3))) // (kind, commit-time step in s)
  } yield (copyTxs, items)

  // replica transactions rendered so far (the generator must reach them)
  private var replicaTxs = 0

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
    def dml(g: String): Seq[VEvent] = {
      val head = if (fieldSent) Seq(BeginEvent("s0", "ks")) else Seq(BeginEvent("s0", "ks"), field)
      fieldSent = true
      head ++ Seq(row(), vgtid(g), CommitEvent("s0", "ks", ts))
    }
    val stream = items.zipWithIndex.flatMap { case ((kind, dt), i) =>
      ts += dt
      kind match {
        case Dml => dml(advance())
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
        case Replica if hosts.size > 1 =>
          replicaTxs += 1
          dml("MySQL56/" + hosts.sorted.tail.map(h => s"$h:1-${seqs(h)}").mkString(","))
        case Replica => Nil
      }
    }
    copy ++ stream
  }

  private def forAll(cases: Int)(f: ((Int, Seq[(Item, Int)])) => Unit): Unit =
    (0 until cases).foreach { i =>
      feedGen.apply(Gen.Parameters.default, Seed(i.toLong)).foreach(f)
    }

  private val fresh = ShardTxStep(ShardGtid("ks", "s0", Vgtid.EmptyGtid), 0L)

  /** Every cursor the fold publishes over the whole feed from `seed`, in
    * order. */
  private def foldCursors(file: String, seed: ShardCursor = ShardCursor(0L, fresh, Map.empty))
      : Seq[ShardCursor] = {
    val fold = new TxBoundaryFold("s0", seed, IntervalMs, Long.MaxValue)
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
    * planner builds it: every column of every record, and the reader's
    * final step. */
  private def read(file: String, from: ShardCursor, to: ShardCursor, perBatch: Boolean = false)
      : (Seq[Seq[Any]], ShardTxStep) = {
    val p = VitessCdcPartition("s0", file, from, to.pos, batchHeartbeat = perBatch)
    val t = FileFeedTransport(new java.io.File(file).getParent, true)
    val r = new VitessCdcPartitionReader(
      p, VitessCdcReaderFactory(t, heartbeatIntervalMs = IntervalMs))
    val out = Vector.newBuilder[Seq[Any]]
    try while (r.next()) out += r.get().toSeq(VitessCdc.Schema)
    finally r.close()
    (out.result(), r.step)
  }

  /** The columns in which the first differing record of `a` and `b` differ. */
  private def diff(a: Seq[Seq[Any]], b: Seq[Seq[Any]]): String =
    a.zipAll(b, Nil, Nil).collectFirst { case (x, y) if x != y =>
      if (x.isEmpty || y.isEmpty) "record count"
      else VitessCdc.Schema.fieldNames.zip(x.zip(y)).collect {
        case (name, (u, v)) if u != v => s"$name: $u vs $v"
      }.mkString("; ")
    }.getOrElse("")

  /** Write `events` as the feed file `s0.jsonl` in `dir`; its wire lines. */
  private def writeFeed(dir: java.nio.file.Path, events: Seq[VEvent]): Seq[String] = {
    val lines = events.map(VEventJson.write)
    Files.writeString(dir.resolve("s0.jsonl"), lines.mkString("", "\n", "\n"))
    lines
  }

  /** Fold feed `f` from `start` and read it whole and cut at every safe
    * boundary: the fold's cursor must equal the reader's state there, a
    * batch ending there must emit its heartbeat at that cursor, and the
    * cut must change no record. The fold's cursors. */
  private def checkCuts(f: String, start: ShardCursor, what: => String): Seq[ShardCursor] = {
    val cursors = foldCursors(f, start)
    val last = cursors.last
    val (whole, wholeStep) = read(f, start, last)
    assert(wholeStep == last.step, s"whole feed: $what")
    cursors.foreach { c =>
      val (batch, headStep) = read(f, start, c, perBatch = true)
      assert(headStep == c.step, s"prefix to byte ${c.pos} of $what")
      // a batch ending at c: one heartbeat last, at c's position and epoch
      val head =
        if (c.step.sg.gtid == Vgtid.EmptyGtid) batch
        else {
          val hb = batch.last
          assert(hb(3).toString == "heartbeat" && hb(7) == 0L, s"no batch heartbeat at ${c.pos}")
          assert(hb(1).toString == c.step.sg.keyspace && hb(8).toString == Vgtid(Seq(c.step.sg)).json &&
            hb(11) == c.step.epoch,
            s"batch heartbeat at byte ${c.pos}: ${hb(1)} ${hb(8)} epoch ${hb(11)}, offset ${c.step}: $what")
          batch.init
        }
      val (tail, tailStep) = read(f, c, last)
      assert(tailStep == last.step, s"suffix from byte ${c.pos}: $what")
      assert(head ++ tail == whole,
        s"cut at byte ${c.pos} changed records (${diff(head ++ tail, whole)}): $what")
    }
    cursors
  }

  test("the fold's cursor equals the reader's state at every safe boundary; cuts change no record") {
    val dir = graft.TempDirs.reclaimOnExit(Files.createTempDirectory("shardtxstep"))
    var epochsSeen = Set.empty[Long]
    var boundaries = 0
    forAll(200) { case (copyTxs, items) =>
      writeFeed(dir, render(copyTxs, items))
      val cursors = checkCuts(dir.resolve("s0.jsonl").toString, ShardCursor(0L, fresh, Map.empty),
        s"$copyTxs copy txs + $items")
      boundaries += cursors.size
      epochsSeen ++= cursors.map(_.step.epoch)
    }
    // the generator reaches the cases the rules exist for
    assert(epochsSeen.max >= 3, s"epochs seen: $epochsSeen")
    assert(replicaTxs > 20, s"only $replicaTxs replica transactions")
    assert(boundaries > 1000, s"only $boundaries boundaries checked")
  }

  test("a shard seeded at another keyspace than its feed's takes each VGTID event's own entry") {
    // the source seeds a shard new to its offset at the `keyspace` option;
    // from the first VGTID on, the fold and the reader both carry the
    // event's entry, so every offset, split cursor and per-batch heartbeat
    // names the feed's keyspace
    val dir = graft.TempDirs.reclaimOnExit(Files.createTempDirectory("shardtxkeyspace"))
    val start = ShardCursor(0L, ShardTxStep(ShardGtid("other", "s0", Vgtid.EmptyGtid), 0L), Map.empty)
    forAll(40) { case (copyTxs, items) =>
      writeFeed(dir, render(copyTxs, items))
      val cursors = checkCuts(dir.resolve("s0.jsonl").toString, start, s"$copyTxs copy txs + $items")
      cursors.filter(_.step.sg.gtid != Vgtid.EmptyGtid).foreach { c =>
        assert(c.step.sg.keyspace == "ks", s"cursor at byte ${c.pos}: ${c.step}")
      }
    }
  }

  test("the batch pipeline gives the uncut reader's records, interval heartbeats aside") {
    val dir = graft.TempDirs.reclaimOnExit(Files.createTempDirectory("shardtxpipeline"))
    var records = 0
    forAll(200) { case (copyTxs, items) =>
      val lines = writeFeed(dir, render(copyTxs, items))
      val f = dir.resolve("s0.jsonl").toString
      val (whole, _) = read(f, ShardCursor(0L, fresh, Map.empty), foldCursors(f).last)
      // an interval heartbeat carries its transaction's keyspace; a feed
      // heartbeat event's record carries none
      val streamed = whole.filterNot(r => r(3).toString == "heartbeat" && r(1).toString.nonEmpty)
      val feed = lines.zipWithIndex.map { case (l, i) => FeedLine("s0", i.toLong, l) }
      val batch = CdcPipeline.processPartition(
        feed.iterator.buffered, emitBoundaries = false, TableFilter.acceptAll)
        .map(r => VitessCdc.toInternalRow(r).toSeq(VitessCdc.Schema)).toVector
      assert(batch == streamed,
        s"pipeline differs from the reader (${diff(batch, streamed)}): $copyTxs copy txs + $items")
      records += batch.size
    }
    assert(records > 1000, s"only $records records compared")
  }
}
