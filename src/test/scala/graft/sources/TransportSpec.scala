package graft.sources

import graft.core._
import graft.streaming._
import java.nio.file.Files
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.read.PartitionReader
import org.scalatest.funsuite.AnyFunSuite

/** Pins the transport seam contract: the engine above VStreamTransport
  * must not care HOW events arrive or what a position means — only that
  * positions are resumable and line-aligned. A gRPC VTGate transport is
  * a drop-in exactly to the extent this holds, so the spec drives the
  * REAL partition reader through a non-file transport whose positions
  * are line indices (not bytes) and demands identical records. */
class TransportSpec extends AnyFunSuite {

  /** Minimal alternate transport: events live in memory, positions are
    * LINE INDICES — deliberately a different position scheme from the
    * file feed's byte offsets, since the engine may assume only that
    * positions resume, align to lines and share `size`'s units. */
  private final class InMemoryTransport(feeds: Map[String, Seq[String]])
      extends VStreamTransport {
    override def listShards(): Seq[(String, String)] =
      feeds.keys.toSeq.sorted.map(s => s -> s)
    override def open(locator: String, from: Long, to: Long): VStreamSlice =
      new VStreamSlice {
        private val all = feeds(locator)
        private val end = math.min(to, all.size.toLong)
        private var idx = math.min(from, all.size.toLong)
        override def readLine(): String =
          if (idx >= end) null else { val l = all(idx.toInt); idx += 1; l }
        override def position: Long = idx
        override def close(): Unit = ()
      }
    override def size(locator: String): Long = feeds(locator).size.toLong
  }

  private val t1Fields = Seq(
    FieldDef("id", "INT64", "bigint(20)", 20, 0, ColumnFlags.NotNull | ColumnFlags.PriKey),
    FieldDef("v", "VARCHAR", "varchar(32)", 32, 0, 0L))

  private def insertTx(shard: String, seq: Long, id: Long, v: String): Seq[VEvent] = Seq(
    BeginEvent(shard, "ks"),
    FieldEvent(shard, "ks", "ks.t1", t1Fields, enumSetStringValues = false),
    RowEvent(shard, "ks", "ks.t1", Seq(
      RowChange(None, Some(PackedRow.of(Seq(Some(id.toString), Some(v))))))),
    VgtidEvent(shard, Vgtid(Seq(ShardGtid("ks", shard, s"MySQL56/feed:1-$seq")))),
    CommitEvent(shard, "ks", 1700000000L + seq))

  private def partition(startGtid: String, startPos: Long, endPos: Long): VitessCdcPartition =
    VitessCdcPartition(
      "s0", "s0",
      ShardCursor(startPos, ShardTxStep(ShardGtid("ks", "s0", startGtid), 0L), Map.empty),
      endPos, batchHeartbeat = false)

  private def drain(r: PartitionReader[InternalRow]): Seq[(String, String, String, Long)] = {
    val out = scala.collection.mutable.Buffer.empty[(String, String, String, Long)]
    while (r.next()) {
      val row = r.get()
      def str(i: Int) = Option(row.getUTF8String(i)).map(_.toString).orNull
      out += ((str(3), str(2), str(5), row.getLong(11))) // (op, table, after, epoch)
    }
    r.close()
    out.toSeq
  }

  test("an in-memory transport with line-index positions is a drop-in for the file feed") {
    val events = (1L to 3L).flatMap(i => insertTx("s0", i, i, s"a$i"))
    val lines = events.map(VEventJson.write)

    // file-feed ground truth
    val dir = graft.TempDirs.reclaimOnExit(Files.createTempDirectory("transportspec"))
    Files.writeString(dir.resolve("s0.jsonl"), lines.mkString("", "\n", "\n"))
    val fileT = FileFeedTransport(dir.toString, excludeEmptyShards = true)
    assert(fileT.listShards().map(_._1) == Seq("s0"))
    val p = partition(Vgtid.EmptyGtid, 0L, Long.MaxValue)
    val viaFile = drain(VitessCdcReaderFactory(fileT).createReader(
      p.copy(file = dir.resolve("s0.jsonl").toString)))

    // same events through the in-memory transport
    val memT = new InMemoryTransport(Map("s0" -> lines))
    assert(memT.listShards() == Seq("s0" -> "s0"))
    val viaMem = drain(VitessCdcReaderFactory(memT).createReader(p))

    assert(viaFile.nonEmpty, "fixture must decode to records")
    assert(viaMem == viaFile, "transport choice must not change the record stream")
  }

  test("opaque positions: a line-index seek resumes mid-stream exactly like a byte seek") {
    val events = (1L to 3L).flatMap(i => insertTx("s0", i, i, s"a$i"))
    val lines = events.map(VEventJson.write)
    val memT = new InMemoryTransport(Map("s0" -> lines))
    // each tx is 5 wire lines; resume from position 5 = after tx 1, with
    // the matching start GTID the offset would carry
    val p = partition("MySQL56/feed:1-1", 5L, Long.MaxValue)
    val resumed = drain(VitessCdcReaderFactory(memT).createReader(p))
    assert(resumed.map(_._1) == Seq("c", "c"), s"txs 2 and 3 only: $resumed")
    assert(resumed.flatMap(r => Option(r._3)).mkString.contains("a2"))
    assert(!resumed.flatMap(r => Option(r._3)).mkString.contains("\"a1\""))
  }
}
