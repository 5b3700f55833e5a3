package graft.sources

/** Transport seam for the `vitess-cdc` source (SURVEY §2.1 S1).
  *
  * Everything above this trait — offset fold, transaction assembly,
  * decode, epoch tracking — consumes only (wire line, resumable
  * position) pairs, so the transport that produces them is swappable.
  * The in-repo implementation is [[FileFeedTransport]] (a directory of
  * append-only per-shard JSONL feeds); a live gRPC VTGate transport
  * (reference connection/VitessReplicationConnection.java:107-343 —
  * async VStream with channel keepalive/max-message tuning :374-385)
  * drops in by implementing these three methods:
  *
  *  - `listShards` enumerates the shard topology (the gRPC analogue is
  *    the SHOW VITESS_SHARDS round-trip, VitessMetadata.java:201-216);
  *  - `open` yields one shard's events from a position, and `size`
  *    reports its high-water position. Positions are resumable,
  *    line-aligned and in `size`'s units (byte offsets for a staged
  *    feed, an event counter for a server-side resume): the engine
  *    subtracts them for the byte caps, `lagBytes` and split sizes.
  *
  * The contract is line-oriented (each event rendered in the VEventJson
  * wire form) so the driver's prefix prefilter keeps working without
  * parsing every event; a protobuf transport renders events to the same
  * form — the per-event cost is trivial next to a network hop.
  */
trait VStreamTransport extends Serializable {
  /** (shard name, locator) pairs for the current topology. The locator
    * is an opaque string handed back to `open` (file path, or a target
    * string like `keyspace/shard@tablet_type` for gRPC). */
  def listShards(): Seq[(String, String)]

  /** Open one shard's event stream at `from`, stopping before `to`. */
  def open(locator: String, from: Long, to: Long): VStreamSlice

  /** Current high-water position of one shard's stream, in the units of
    * `open`'s positions (file size for the file feed). Trigger planning
    * measures each shard's new work as `size - position`. */
  def size(locator: String): Long

  /** Release any live resources (channels, consumer threads). The file
    * feed holds none; the gRPC transport closes its channel + staging
    * writers. Called from the stream's stop(). */
  def close(): Unit = ()
}

/** A bounded, positioned slice of one shard's event stream. `position`
  * must always point at an event boundary safe to resume from — never
  * inside a torn event. */
trait VStreamSlice extends AutoCloseable {
  /** Next complete wire line, or null when the slice is exhausted. */
  def readLine(): String

  /** Resumable position immediately after the last returned line. */
  def position: Long

  def lines: Iterator[String] =
    Iterator.continually(readLine()).takeWhile(_ != null)
}

/** The simulated-VStream transport: one append-only `<shard>.jsonl`
  * file per shard under `path`; positions are byte offsets, and a
  * half-written trailing line is never surfaced (see FeedSlice). */
final case class FileFeedTransport(path: String, excludeEmptyShards: Boolean)
    extends VStreamTransport {
  import java.nio.file.{Files, Paths}
  import scala.jdk.CollectionConverters._

  /** F5: shards with no events are excluded from planning by default
    * (reference getNonEmptyShards, VitessMetadata.java:201-216). */
  override def listShards(): Seq[(String, String)] = {
    val listing = Files.list(Paths.get(path))
    try {
      listing.iterator().asScala
        .filter(_.getFileName.toString.endsWith(".jsonl"))
        .filter(p => !excludeEmptyShards || Files.size(p) > 0)
        .map(p => p.getFileName.toString.stripSuffix(".jsonl") -> p.toString)
        .toSeq.sortBy(_._1)
    } finally listing.close()
  }

  override def open(locator: String, from: Long, to: Long): VStreamSlice =
    new FeedSlice(locator, from, to)

  override def size(locator: String): Long = Files.size(Paths.get(locator))
}
