package perfbench

import java.io.{BufferedOutputStream, File, FileOutputStream, OutputStream}
import java.nio.charset.StandardCharsets.US_ASCII
import java.util.{Base64, SplittableRandom}
import scala.collection.mutable.ArrayBuffer

/** The benchmark's input generator. It is a component of its own: it
  * shares no code with the program under test and writes only plain
  * inputs — VStream feed files in the JSON-lines wire format, and
  * parquet tables. Everything it makes is a pure function of the seed.
  *
  * It also returns what the program should produce from those inputs
  * (record counts, content sums, final per-key state), so each workload
  * can check the program's output against the generator's own model.
  */
object Gen {
  val Keyspace = "ks"

  final case class Col(name: String, wire: String, colType: String, len: Int, dec: Int, flags: Long)
  private val NotNull = 1L
  private val PriKey = 2L

  val OrdersCols: Seq[Col] = Seq(
    Col("o_orderkey", "INT64", "bigint(20)", 20, 0, NotNull | PriKey),
    Col("o_custkey", "INT64", "bigint(20)", 20, 0, NotNull),
    Col("o_orderstatus", "CHAR", "char(1)", 1, 0, NotNull),
    Col("o_totalprice", "DECIMAL", "decimal(15,2)", 15, 2, NotNull),
    Col("o_orderdate", "DATE", "date", 10, 0, NotNull),
    Col("o_orderpriority", "CHAR", "char(15)", 15, 0, NotNull),
    Col("o_clerk", "CHAR", "char(15)", 15, 0, NotNull),
    Col("o_shippriority", "INT32", "int(11)", 11, 0, NotNull),
    Col("o_comment", "VARCHAR", "varchar(79)", 79, 0, NotNull))

  /** The 16-column TPC-H lineitem, keyed by (l_orderkey, l_linenumber). */
  val LineitemCols: Seq[Col] = Seq(
    Col("l_orderkey", "INT64", "bigint(20)", 20, 0, NotNull | PriKey),
    Col("l_partkey", "INT64", "bigint(20)", 20, 0, NotNull),
    Col("l_suppkey", "INT64", "bigint(20)", 20, 0, NotNull),
    Col("l_linenumber", "INT32", "int(11)", 11, 0, NotNull | PriKey),
    Col("l_quantity", "DECIMAL", "decimal(15,2)", 15, 2, NotNull),
    Col("l_extendedprice", "DECIMAL", "decimal(15,2)", 15, 2, NotNull),
    Col("l_discount", "DECIMAL", "decimal(15,2)", 15, 2, NotNull),
    Col("l_tax", "DECIMAL", "decimal(15,2)", 15, 2, NotNull),
    Col("l_returnflag", "CHAR", "char(1)", 1, 0, NotNull),
    Col("l_linestatus", "CHAR", "char(1)", 1, 0, NotNull),
    Col("l_shipdate", "DATE", "date", 10, 0, NotNull),
    Col("l_commitdate", "DATE", "date", 10, 0, NotNull),
    Col("l_receiptdate", "DATE", "date", 10, 0, NotNull),
    Col("l_shipinstruct", "CHAR", "char(25)", 25, 0, NotNull),
    Col("l_shipmode", "CHAR", "char(10)", 10, 0, NotNull),
    Col("l_comment", "VARCHAR", "varchar(44)", 44, 0, NotNull))

  // ------------------------------------------------------------ values

  /** The random stream `stream` of `seed`. Seeds are hashed first, so
    * neighbouring seeds give unrelated streams. */
  private def rng(seed: Long, stream: Int): SplittableRandom =
    new SplittableRandom(new SplittableRandom(seed * 31 + stream).nextLong())

  private val Words = Array(
    "furiously", "carefully", "quickly", "slyly", "blithely", "final", "regular",
    "express", "pending", "ironic", "special", "bold", "even", "unusual", "silent",
    "deposits", "requests", "accounts", "packages", "foxes", "ideas", "theodolites",
    "pinto", "beans", "instructions", "dependencies", "excuses", "platelets", "asymptotes",
    "courts", "dolphins", "sleep", "wake", "haggle", "nag", "use", "boost", "affix",
    "detect", "integrate", "among", "above", "across", "against", "along", "around")
  private val Priorities = Array("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val Instructs = Array("DELIVER IN PERSON", "COLLECT COD", "NONE", "TAKE BACK RETURN")
  private val Modes = Array("REG AIR", "AIR", "RAIL", "SHIP", "TRUCK", "MAIL", "FOB")
  private val EpochDay1992 = java.time.LocalDate.of(1992, 1, 1).toEpochDay

  private def comment(r: SplittableRandom, maxLen: Int): String = {
    val sb = new StringBuilder
    val target = 10 + r.nextInt(maxLen - 10)
    while (sb.length < target) {
      if (sb.nonEmpty) sb.append(' ')
      sb.append(Words(r.nextInt(Words.length)))
    }
    sb.setLength(math.min(sb.length, maxLen))
    sb.toString
  }
  private def date(day: Long): String = java.time.LocalDate.ofEpochDay(EpochDay1992 + day).toString
  private def cents(c: Long): String = f"${c / 100}%d.${c % 100}%02d"

  /** One order row (column texts in OrdersCols order) and its price in cents. */
  final case class Order(key: Long, cust: Long, status: String, priceCents: Long,
      day: Long, prio: String, clerk: Int, comment: String) {
    def texts: Array[String] = Array(key.toString, cust.toString, status, cents(priceCents),
      date(day), prio, f"Clerk#$clerk%09d", "0", comment)
  }
  private def order(r: SplittableRandom, key: Long): Order =
    Order(key, 1 + r.nextInt(15000), if (r.nextBoolean()) "O" else "F",
      90000L + r.nextLong(50000000L), r.nextInt(2400), Priorities(r.nextInt(5)),
      1 + r.nextInt(1000), comment(r, 79))

  final case class Lineitem(order: Long, line: Int, texts: Array[String], priceCents: Long)
  private def lineitem(r: SplittableRandom, o: Order, line: Int): Lineitem = {
    val qty = 1 + r.nextInt(50)
    val price = qty * (90000L + r.nextInt(110000))
    val ship = o.day + 1 + r.nextInt(121)
    Lineitem(o.key, line, Array(
      o.key.toString, (1 + r.nextInt(20000)).toString, (1 + r.nextInt(1000)).toString,
      line.toString, s"$qty.00", cents(price), s"0.0${r.nextInt(10)}", s"0.0${r.nextInt(9)}",
      if (r.nextBoolean()) "R" else "N", if (r.nextBoolean()) "O" else "F",
      date(ship), date(o.day + 30 + r.nextInt(61)), date(ship + 1 + r.nextInt(30)),
      Instructs(r.nextInt(4)), Modes(r.nextInt(7)), comment(r, 44)), price)
  }

  // ------------------------------------------------------------- wire

  private val b64 = Base64.getEncoder

  private def packed(texts: Array[String]): String = {
    val sb = new StringBuilder("{\"lengths\":[")
    var i = 0
    var total = 0
    while (i < texts.length) {
      if (i > 0) sb.append(',')
      sb.append(texts(i).length); total += texts(i).length; i += 1
    }
    val bytes = new Array[Byte](total)
    var off = 0
    texts.foreach { t => t.getBytes(0, t.length, bytes, off); off += t.length }
    sb.append("],\"values\":\"").append(b64.encodeToString(bytes)).append("\"}").toString
  }

  def beginLine(shard: String): String =
    s"""{"type":"BEGIN","shard":"$shard","keyspace":"$Keyspace"}"""
  def commitLine(shard: String, ts: Long): String =
    s"""{"type":"COMMIT","shard":"$shard","keyspace":"$Keyspace","ts":$ts}"""
  def vgtidLine(shard: String, seq: Long): String =
    s"""{"type":"VGTID","shard":"$shard","vgtid":[{"keyspace":"$Keyspace","shard":"$shard","gtid":"MySQL56/src$shard:1-$seq"}]}"""
  def fieldLine(shard: String, table: String, cols: Seq[Col]): String =
    cols.map { c =>
      s"""{"name":"${c.name}","wireType":"${c.wire}","columnType":"${c.colType}","columnLength":${c.len},"decimals":${c.dec},"flags":${c.flags}}"""
    }.mkString(s"""{"type":"FIELD","shard":"$shard","keyspace":"$Keyspace","table":"$Keyspace.$table","fields":[""", ",", "]}")
  /** A ROW event; each change is (before, after), either side may be null. */
  def rowLine(shard: String, table: String, changes: Seq[(Array[String], Array[String])]): String =
    changes.map { case (b, a) =>
      Seq(Option(b).map(t => "\"before\":" + packed(t)), Option(a).map(t => "\"after\":" + packed(t)))
        .flatten.mkString("{", ",", "}")
    }.mkString(s"""{"type":"ROW","shard":"$shard","keyspace":"$Keyspace","table":"$Keyspace.$table","changes":[""", ",", "]}")

  /** An append-only shard feed file `<shard>.jsonl`; tracks the byte
    * position after each write, as the source's offsets count it. */
  final class ShardWriter(dir: File, val shard: String, buffered: Boolean) {
    private val raw = new FileOutputStream(new File(dir, s"$shard.jsonl"), true)
    private val out: OutputStream = if (buffered) new BufferedOutputStream(raw, 1 << 20) else raw
    var pos: Long = new File(dir, s"$shard.jsonl").length()
    var txSeq: Long = 0L
    /** Write one transaction's lines in a single write; returns the end position. */
    def writeTx(lines: Seq[String]): Long = {
      val sb = new StringBuilder
      lines.foreach(l => sb.append(l).append('\n'))
      val bytes = sb.toString.getBytes(US_ASCII)
      out.write(bytes)
      if (!buffered) out.flush()
      pos += bytes.length
      pos
    }
    def close(): Unit = out.close()
  }

  /** BEGIN [FIELD…] ROW… VGTID COMMIT for the writer's next transaction. */
  def txLines(w: ShardWriter, fields: Seq[String], rows: Seq[String]): Seq[String] = {
    w.txSeq += 1
    (beginLine(w.shard) +: fields) ++ rows ++
      Seq(vgtidLine(w.shard, w.txSeq), commitLine(w.shard, 1700000000L + w.txSeq))
  }

  // ------------------------------------------------------ expectations

  /** What a correct change log of a feed holds: per table and op, the
    * record count and content sums over fields the generator chose. */
  final class Expect {
    val sums = scala.collection.mutable.TreeMap.empty[String, Long]
    def add(k: String, v: Long): Unit = sums(k) = sums.getOrElse(k, 0L) + v
    def order(op: String, o: Order): Unit = {
      add(s"orders.$op.n", 1); add(s"orders.$op.key", o.key); add(s"orders.$op.cust", o.cust)
      add(s"orders.$op.cents", o.priceCents); add(s"orders.$op.comment_len", o.comment.length)
    }
    def lineitem(op: String, l: Lineitem): Unit = {
      add(s"lineitem.$op.n", 1); add(s"lineitem.$op.key", l.order * 8 + l.line)
      add(s"lineitem.$op.cents", l.priceCents); add(s"lineitem.$op.comment_len", l.texts(15).length)
    }
  }

  // ------------------------------------------------------- cdc_backlog

  final case class BacklogFeed(
      dir: File, shards: Seq[String], hotShard: String,
      txEnds: Map[String, Array[Long]], expect: Expect, transactions: Long, records: Long)

  /** One transaction per order (the order row plus its 1-7 lineitem
    * rows, about 4 on average) over 8 shards by orderkey; shard "0" is
    * hot and carries about 40% of the transactions. */
  def backlog(dir: File, seed: Long, nOrders: Int, nShards: Int = 8,
      hotShare: Double = 0.4): BacklogFeed = {
    dir.mkdirs()
    val r = rng(seed, 1)
    val shards = (0 until nShards).map(_.toString)
    val writers = shards.map(s => s -> new ShardWriter(dir, s, buffered = true)).toMap
    val ends = shards.map(s => s -> ArrayBuffer.empty[Long]).toMap
    val expect = new Expect
    val ordersField = shards.map(s => s -> fieldLine(s, "orders", OrdersCols)).toMap
    val lineField = shards.map(s => s -> fieldLine(s, "lineitem", LineitemCols)).toMap
    var records = 0L
    var i = 0
    while (i < nOrders) {
      val o = order(r, 1L + 4L * i + r.nextInt(4))
      val shard =
        if (r.nextDouble() < hotShare) shards.head else shards(1 + r.nextInt(nShards - 1))
      val lines = (1 to 1 + r.nextInt(7)).map(n => lineitem(r, o, n))
      val w = writers(shard)
      val fields = if (w.txSeq == 0) Seq(ordersField(shard), lineField(shard)) else Nil
      val rows = Seq(
        rowLine(shard, "orders", Seq((null, o.texts))),
        rowLine(shard, "lineitem", lines.map(l => (null, l.texts))))
      ends(shard) += w.writeTx(txLines(w, fields, rows))
      expect.order("c", o)
      lines.foreach(expect.lineitem("c", _))
      records += 1 + lines.size
      i += 1
    }
    writers.values.foreach(_.close())
    BacklogFeed(dir, shards, shards.head, ends.map { case (k, v) => k -> v.toArray },
      expect, nOrders.toLong, records)
  }

  // ---------------------------------------------------------- cdc_tail

  /** Single-row orders transactions for the open-loop tail: shard
    * round-robin, fresh keys from `firstKey`. */
  final class TailSource(seed: Long) {
    private val r = rng(seed, 2)
    private var next = 0L
    /** (shard, lines) of the next transaction for `w`. */
    def nextTx(w: ShardWriter): Seq[String] = {
      next += 1
      txLines(w, Nil, Seq(rowLine(w.shard, "orders", Seq((null, order(r, next).texts)))))
    }
    def schema(shard: String): String = fieldLine(shard, "orders", OrdersCols)
  }

  // ----------------------------------------------------- batch rebuild

  final case class RebuildFeed(
      dir: File, // the FeedLine rows as `shard<TAB>seq<TAB>line` text, one file per shard
      live: Map[Long, Order], // generator's final per-key state
      records: Long)

  /** An orders feed heavy on updates and deletes over 4 even shards
    * (key % 4): each key is written about 4 times (an insert, then
    * updates), and about 10% of keys end with a delete. Versions of all
    * keys interleave in a seeded order that keeps each key's own order. */
  def rebuild(dir: File, seed: Long, nKeys: Int, nShards: Int = 4): RebuildFeed = {
    dir.mkdirs()
    val r = rng(seed, 3)
    val shards = (0 until nShards).map(_.toString)
    val writes = Array.fill(nKeys)(3 + r.nextInt(3)) // 3..5 writes, 4 on average
    val deleted = Array.fill(nKeys)(r.nextDouble() < 0.1)
    val tokens = new Array[Int](writes.sum)
    var t = 0
    for (k <- 0 until nKeys; _ <- 0 until writes(k)) { tokens(t) = k; t += 1 }
    for (j <- tokens.length - 1 to 1 by -1) { // seeded Fisher-Yates
      val x = r.nextInt(j + 1); val tmp = tokens(j); tokens(j) = tokens(x); tokens(x) = tmp
    }
    val state = new Array[Order](nKeys)
    val done = new Array[Int](nKeys)
    val seqs = Array.fill(nShards)(0L)
    val outs = shards.map(s => new BufferedOutputStream(new FileOutputStream(new File(dir, s"$s.tsv")), 1 << 20))
    tokens.foreach { k =>
      val key = k + 1L
      val s = (key % nShards).toInt
      val shard = shards(s)
      done(k) += 1
      val before = state(k)
      val change: (Array[String], Array[String]) =
        if (before == null) { state(k) = order(r, key); (null, state(k).texts) }
        else if (done(k) == writes(k) && deleted(k)) { state(k) = null; (before.texts, null) }
        else {
          val o = order(r, key).copy(cust = before.cust)
          state(k) = o; (before.texts, o.texts)
        }
      seqs(s) += 1
      val fields = if (seqs(s) == 1) Seq(fieldLine(shard, "orders", OrdersCols)) else Nil
      val lines = (beginLine(shard) +: fields) ++ Seq(
        rowLine(shard, "orders", Seq(change)),
        vgtidLine(shard, seqs(s)),
        commitLine(shard, 1700000000L + seqs(s)))
      val sb = new StringBuilder
      lines.zipWithIndex.foreach { case (l, i) =>
        sb.append(shard).append('\t').append(seqs(s) * 8 + i).append('\t').append(l).append('\n') }
      outs(s).write(sb.toString.getBytes(US_ASCII))
    }
    outs.foreach(_.close())
    val live = state.iterator.filter(_ != null).map(o => o.key -> o).toMap
    RebuildFeed(dir, live, tokens.length.toLong)
  }


  // ------------------------------------------------------ corpus dedup

  final case class Doc(id: Long, text: String, lang: String, source: String)
  final case class Corpus(
      docs: IndexedSeq[Doc],
      exactGroups: Seq[Seq[Long]], // each: an original and its planted exact copies
      lowQuality: Set[Long],
      plain: Set[Long]) // neither planted copies nor copied

  /** `nBase` synthetic documents (Zipf-distributed words from a generated
    * vocabulary), plus planted exact duplicates (10%), near-duplicates
    * (10%, about 4% of words replaced) and low-quality documents (8%:
    * too short, or one phrase repeated). Clusters hold 2-3 documents. */
  def corpus(seed: Long, nBase: Int): Corpus = {
    val r = rng(seed, 4)
    val vocab = Array.tabulate(4000) { i =>
      val rr = new SplittableRandom(i * 7919L + 17)
      val len = 3 + rr.nextInt(7)
      (0 until len).map(_ => ('a' + rr.nextInt(26)).toChar).mkString
    }
    // Zipf(1) sampling by inverse CDF over the vocabulary ranks
    val cdf = { val w = vocab.indices.map(i => 1.0 / (i + 1)); val s = w.sum; w.scanLeft(0.0)(_ + _ / s).tail.toArray }
    def word(): String = {
      val u = r.nextDouble()
      var lo = 0; var hi = cdf.length - 1
      while (lo < hi) { val m = (lo + hi) / 2; if (cdf(m) < u) lo = m + 1 else hi = m }
      vocab(lo)
    }
    def text(nWords: Int): Array[String] = Array.fill(nWords)(word())
    val docs = ArrayBuffer.empty[Doc]
    val exact = ArrayBuffer.empty[Seq[Long]]
    val low = scala.collection.mutable.Set.empty[Long]
    val plain = scala.collection.mutable.Set.empty[Long]
    var id = 0L
    def add(words: Array[String]): Long = {
      id += 1
      docs += Doc(id, words.mkString(" "), "en", s"src${r.nextInt(5)}")
      id
    }
    // a fixed number of documents of each kind, at seeded places: the
    // corpus size does not depend on the seed
    val kinds = new Array[Int](nBase)
    val cut = Array(0.05, 0.10, 0.20, 0.24, 0.28).map(f => (f * nBase).toInt)
    for (i <- 0 until nBase) kinds(i) = cut.count(_ <= i)
    for (j <- nBase - 1 to 1 by -1) {
      val x = r.nextInt(j + 1); val tmp = kinds(j); kinds(j) = kinds(x); kinds(x) = tmp
    }
    kinds.foreach { kind =>
      val base = text(60 + r.nextInt(240))
      val orig = add(base)
      kind match {
        case 0 | 1 => // one or two exact copies
          exact += orig +: (0 to kind).map(_ => add(base))
        case 2 => // near copy: about 4% of words replaced
          val edited = base.map(w => if (r.nextDouble() < 0.04) word() else w)
          add(edited)
        case 3 => // too short
          low += add(text(3 + r.nextInt(5)))
        case 4 => // one phrase repeated
          val phrase = text(4)
          low += add(Array.fill(20 + r.nextInt(20))(phrase).flatten)
        case _ => plain += orig
      }
    }
    Corpus(docs.toIndexedSeq, exact.toSeq, low.toSet, plain.toSet)
  }

  /** The documents as `doc_id<TAB>text<TAB>lang<TAB>source` lines. */
  def writeTsv(c: Corpus, file: File): Unit = {
    file.getParentFile.mkdirs()
    val out = new BufferedOutputStream(new FileOutputStream(file), 1 << 20)
    try c.docs.foreach(d => out.write(s"${d.id}\t${d.text}\t${d.lang}\t${d.source}\n".getBytes(US_ASCII)))
    finally out.close()
  }
}
