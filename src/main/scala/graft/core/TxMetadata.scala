package graft.core

import com.fasterxml.jackson.databind.ObjectMapper
import scala.collection.immutable.TreeMap
import scala.jdk.CollectionConverters._

/** Transaction-ordering metadata: GTID parsing, per-transaction rank, and
  * per-shard epoch tracking. Pure functions + immutable state so the same
  * logic runs inside a streaming state operator, a Catalyst expression, or
  * a unit test unchanged.
  *
  * Behavior mirrors the reference's txmetadata package
  * (src/main/java/io/debezium/connector/vitess/pipeline/txmetadata/):
  * Gtid.java:57-80, VitessRankProvider.java:12-19,
  * VitessEpochProvider.java:45-81, ShardLineage.java:26-44,
  * ShardEpochMap.java:38-49.
  */
final case class Gtid(version: String, hostSeqs: Seq[(String, String)]) {
  def hosts: Set[String] = hostSeqs.map(_._1).toSet
  def sequenceValues: Seq[String] = hostSeqs.map(_._2)
  def isHostSetSupersetOf(other: Gtid): Boolean = other.hosts.subsetOf(hosts)

  /** This set lies inside `other`'s: each of its hosts is in `other`, at a
    * sequence no higher — it was executed before `other`. */
  def containedIn(other: Gtid): Boolean = {
    val seqs = other.hostSeqs.toMap
    hostSeqs.forall { case (h, s) => seqs.get(h).exists(o => BigDecimal(s) <= BigDecimal(o)) }
  }
}

object Gtid {
  /** Parse `MySQL56/host1:1-123,host2:5` → version + host set + per-host
    * max sequence (last number of each range). */
  def parse(transactionId: String): Gtid = {
    val slash = transactionId.indexOf('/')
    val version = if (slash >= 0) transactionId.substring(0, slash) else ""
    val body = if (slash >= 0) transactionId.substring(slash + 1) else transactionId
    val parts = body.split(",").toIndexedSeq
    val hostSeqs = parts.map { p =>
      val hp = p.split(":")
      if (hp.length >= 2) {
        // MySQL56 form: host:1-100:105-110 — replication gaps produce
        // MULTIPLE intervals per host; the per-host sequence is the end
        // of the LAST interval (reading only the first would rank
        // 1-100:105-110 below 1-108 although it is strictly ahead)
        val positions = hp.last.split("-")
        (hp(0), positions.last)
      } else {
        // MariaDB form: domain-server-sequence
        val segs = p.split("-")
        require(segs.length >= 2, s"malformed GTID component: $p")
        (segs.init.mkString("-"), segs.last)
      }
    }
    Gtid(version, hostSeqs)
  }
}

object Rank {
  /** Transaction rank = sum of per-host max sequence values; monotone per
    * (shard, epoch), enabling cross-restart total order. Exact BigDecimal
    * (sequence values can exceed Long). */
  def of(transactionId: String): BigDecimal =
    Gtid.parse(transactionId).sequenceValues
      .foldLeft(BigDecimal(0))((acc, s) => acc + BigDecimal(s))
}

/** Immutable shard→epoch map with the reference's JSON round-trip
  * (sorted keys, `{"-80":0,"80-":1}`). */
final case class ShardEpochMap(map: TreeMap[String, Long]) {
  def get(shard: String): Option[Long] = map.get(shard)
  def put(shard: String, epoch: Long): ShardEpochMap = ShardEpochMap(map.updated(shard, epoch))
  def incrementAll: ShardEpochMap = ShardEpochMap(map.transform((_, v) => v + 1))
  def json: String = {
    val m = new ObjectMapper()
    val node = m.createObjectNode()
    map.foreach { case (k, v) => node.put(k, v) }
    m.writeValueAsString(node)
  }
}

object ShardEpochMap {
  val empty: ShardEpochMap = ShardEpochMap(TreeMap.empty[String, Long])
  def init(shards: Seq[String]): ShardEpochMap =
    ShardEpochMap(TreeMap.from(shards.map(_ -> 0L)))
  def fromJson(json: String): ShardEpochMap = {
    val node = new ObjectMapper().readTree(json)
    ShardEpochMap(TreeMap.from(
      node.properties().asScala.map(e => e.getKey -> e.getValue.asLong())))
  }
}

/** Epoch inheritance across reshards: a new shard's epoch is
  * max(overlapping parents' epochs) + 1; no parents → 0. Shard names are
  * hex key ranges `lower-upper` with empty bounds meaning ±infinity. */
object ShardLineage {
  private val NegInf = "\u0000"
  private val PosInf = "\uffff"

  private final case class Range(lower: String, upper: String) {
    require(lower < upper, s"Invalid shard range [$lower,$upper)")
    def overlaps(o: Range): Boolean = lower < o.upper && upper > o.lower
  }

  private def rangeOf(shard: String): Range = {
    val parts = shard.toLowerCase.split("-")
    val lower = if (parts.length < 1 || parts(0).isEmpty) NegInf else parts(0)
    val upper = if (parts.length != 2 || parts(1).isEmpty) PosInf else parts(1)
    Range(lower, upper)
  }

  def inheritedEpoch(shard: String, epochs: ShardEpochMap): Long = {
    val r = rangeOf(shard)
    val parentMax = epochs.map.foldLeft(-1L) { case (acc, (s, e)) =>
      if (rangeOf(s).overlaps(r)) math.max(acc, e) else acc
    }
    parentMax + 1
  }

  private val KeyRangePattern = "^[0-9a-fA-F]*-[0-9a-fA-F]*$".r

  /** True iff `outer`'s keyrange PROPERLY contains `inner`'s — i.e.
    * `inner` is a reshard descendant of `outer`. Only meaningful for
    * keyrange-named shards ("-", "-80", "40-c0"); names without a
    * keyrange shape ("0", "s1") cannot stand in a reshard lineage and
    * always answer false. */
  def properlyContains(outer: String, inner: String): Boolean =
    KeyRangePattern.matches(outer) && KeyRangePattern.matches(inner) && {
      val o = rangeOf(outer)
      val i = rangeOf(inner)
      o.lower <= i.lower && i.upper <= o.upper && o != i
    }
}

/** Epoch state machine. An epoch increments when the GTID host set is not
  * a superset of the previous one (server restart / failover), or on the
  * first real transaction after an overridden (`current`/empty) position.
  * Standard→overridden transition is a protocol violation.
  */
object EpochProvider {
  private[core] def isOverridden(gtid: String): Boolean =
    gtid == Vgtid.CurrentGtid || gtid == Vgtid.EmptyGtid

  def epochForGtid(previousEpoch: Long, previousGtid: String, gtid: String): Long =
    (isOverridden(previousGtid), isOverridden(gtid)) match {
      case (true, true)  => previousEpoch
      case (true, false) => previousEpoch + 1
      case (false, true) =>
        throw new IllegalStateException(
          s"Current GTID cannot be override value if previous is standard: prev=$previousGtid cur=$gtid")
      case (false, false) =>
        if (Gtid.parse(gtid).isHostSetSupersetOf(Gtid.parse(previousGtid))) previousEpoch
        else previousEpoch + 1
    }

  /** Generation bump: any generation change (upgrade or rollback)
    * increments every shard's epoch once. */
  def applyGeneration(epochs: ShardEpochMap, lastGeneration: Long, configGeneration: Long): ShardEpochMap =
    if (configGeneration != lastGeneration) epochs.incrementAll else epochs
}

/** One shard's per-transaction state — its position, epoch and
  * interval-heartbeat baseline — and the three rules that move it. Two
  * callers step this one value over the same feed: the driver's offset
  * fold (`TxBoundaryFold`) and `RecordBuilder`, which the partition
  * reader and the batch pipeline both run. So a batch or split cut (which
  * carries exactly this state) cannot change rows or epochs (reference:
  * VitessOrderedTransactionContext.java).
  *
  *  - Epoch rule: [[EpochProvider.epochForGtid]] applies on every change
  *    of the shard's GTID, in feed order — bare VGTIDs and empty
  *    transactions included. Leaving an overridden (`current`/empty)
  *    start position keeps the epoch, and so does a GTID set inside the
  *    current one.
  *  - Order rule: a position is after another by (epoch, [[CopyProgress]]).
  *    Rank (A2) is monotone only within one epoch: a failover to a
  *    lower-ranked GTID set is still later, in a higher epoch. Only an
  *    explicit start position is resolved by it; batches are byte windows.
  *  - Heartbeat rule: the baseline moves on a COMMIT of a transaction with
  *    a position that is the first one or at least the interval past it
  *    (H1).
  */
final case class ShardTxStep(sg: ShardGtid, epoch: Long, hbMs: Long = ShardTxStep.NoBaseline) {

  /** Epoch rule: this shard's VGTID moved to `next`. The position is
    * always the last one seen, so a cut that carries this step resumes
    * with the state an uncut read has there. A GTID set that loses hosts
    * yet lies inside this one was executed before it — a replica behind
    * the primary, or history read from an explicit start — not a
    * failover, so it keeps the epoch. */
  def onPosition(next: ShardGtid): ShardTxStep =
    if (next.gtid == sg.gtid || EpochProvider.isOverridden(sg.gtid)) copy(sg = next)
    else {
      val e = EpochProvider.epochForGtid(epoch, sg.gtid, next.gtid)
      if (e != epoch && Gtid.parse(next.gtid).containedIn(Gtid.parse(sg.gtid))) copy(sg = next)
      else copy(sg = next, epoch = e)
    }

  /** Order rule: this position is strictly later than `other`'s. */
  def after(other: ShardTxStep): Boolean =
    epoch > other.epoch || (epoch == other.epoch && CopyProgress.compare(sg, other.sg) > 0)

  /** Heartbeat rule: an admitted COMMIT at `tsMs`; called by the fold and
    * by `RecordBuilder`, which emits the heartbeat record. */
  def onCommit(tsMs: Long, intervalMs: Long): ShardTxStep =
    if (intervalMs > 0 && (hbMs == ShardTxStep.NoBaseline || tsMs - hbMs >= intervalMs))
      copy(hbMs = tsMs)
    else this
}

object ShardTxStep {
  val NoBaseline: Long = Long.MinValue

  /** A shard before its first transaction: empty GTID, epoch 0. */
  def fresh(shard: String): ShardTxStep = ShardTxStep(ShardGtid("", shard, Vgtid.EmptyGtid), 0L)
}

/** The old per-shard context's entry point, kept because the benchmark's
  * `RecordBuilder` layer pass (perfbench/Layers.scala) still calls it: a
  * fresh [[ShardTxStep]] for the one shard it names. */
object OrderedTxContext {
  def initial(shards: Seq[String]): ShardTxStep = ShardTxStep.fresh(shards.head)
}
