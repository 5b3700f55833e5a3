package graft.sources

import graft.core._
import graft.streaming._
import java.nio.file.Files
import java.util.concurrent.TimeUnit
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import org.sparkproject.connect.grpc.{
  Metadata, Server, ServerCall, ServerCallHandler, ServerInterceptor, ServerInterceptors,
  ServerServiceDefinition
}
import org.sparkproject.connect.grpc.inprocess.InProcessServerBuilder
import org.sparkproject.connect.grpc.stub.{ServerCalls, StreamObserver}
import scala.jdk.CollectionConverters._
import graft.tools.SpecErrors.messages

/** End-to-end coverage of the gRPC VStream transport against an
  * in-process mock VTGate: wire-codec round-trips, request construction
  * (flags / filter rules / vgtid / tablet type, reference
  * VitessReplicationConnection.java:302-338), channel config consumption
  * (headers, credentials), staging + resume semantics, and the full
  * engine path (readStream → grpc transport → staging → DataFrame). */
class GrpcTransportSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[2]")
      .appName("grpc-transport-spec")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

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

  /** One-VARCHAR-column QueryResult, the shape vtgate's SHOW commands
    * return (each row one value). */
  private def showResult(values: String*): VtWire.QueryResultModel =
    VtWire.QueryResultModel(
      Seq(FieldDef("Tables", "VARCHAR", "varchar(255)", 255, 0, 0L)),
      values.map(v => PackedRow.of(Seq(Some(v)))))

  /** Multi-column QueryResult (SHOW VITESS_TABLETS shape). */
  private def gridResult(rows: Seq[Seq[String]]): VtWire.QueryResultModel =
    VtWire.QueryResultModel(
      rows.headOption.toSeq.flatten.zipWithIndex.map { case (_, i) =>
        FieldDef(s"c$i", "VARCHAR", "varchar(255)", 255, 0, 0L)
      },
      rows.map(r => PackedRow.of(r.map(Option(_)))))

  /** In-process VTGate double: records decoded requests + call metadata,
    * serves `script(request)` as one response per transaction; metadata
    * SQL over the Execute RPC is answered by `sqlScript`. */
  private final class MockVtgate(
      name: String,
      script: VtWire.VStreamRequestModel => Seq[Seq[VEvent]],
      sqlScript: PartialFunction[String, VtWire.QueryResultModel] = PartialFunction.empty) {
    @volatile var requests: Vector[VtWire.VStreamRequestModel] = Vector.empty
    @volatile var sqlRequests: Vector[VtWire.ExecuteRequestModel] = Vector.empty
    @volatile var lastHeaders: Map[String, String] = Map.empty

    private val handler = new ServerCalls.ServerStreamingMethod[Array[Byte], Array[Byte]] {
      override def invoke(request: Array[Byte], obs: StreamObserver[Array[Byte]]): Unit = {
        val req = VtWire.decodeVStreamRequest(request)
        requests = requests :+ req
        script(req).foreach(batch => obs.onNext(VtWire.encodeVStreamResponse(batch)))
        obs.onCompleted()
      }
    }
    private val executeHandler = new ServerCalls.UnaryMethod[Array[Byte], Array[Byte]] {
      override def invoke(request: Array[Byte], obs: StreamObserver[Array[Byte]]): Unit = {
        val req = VtWire.decodeExecuteRequest(request)
        sqlRequests = sqlRequests :+ req
        // strip the workload-name comment the client prepends
        val sql = req.sql.replaceAll("^/\\*.*?\\*/\\s*", "")
        val resp =
          if (sqlScript.isDefinedAt(sql)) VtWire.ExecuteResponseModel(None, Some(sqlScript(sql)))
          else VtWire.ExecuteResponseModel(Some(s"unsupported query: $sql"), None)
        obs.onNext(VtWire.encodeExecuteResponse(resp))
        obs.onCompleted()
      }
    }
    private val headerCapture = new ServerInterceptor {
      override def interceptCall[ReqT, RespT](
          call: ServerCall[ReqT, RespT],
          headers: Metadata,
          next: ServerCallHandler[ReqT, RespT]): ServerCall.Listener[ReqT] = {
        lastHeaders = headers.keys().asScala
          .filterNot(_.endsWith("-bin"))
          .map(k => k -> headers.get(Metadata.Key.of(k, Metadata.ASCII_STRING_MARSHALLER)))
          .toMap
        next.startCall(call, headers)
      }
    }
    val server: Server = InProcessServerBuilder.forName(name).directExecutor()
      .addService(ServerInterceptors.intercept(
        ServerServiceDefinition.builder("vtgateservice.Vitess")
          .addMethod(VtGrpc.VStreamMethod, ServerCalls.asyncServerStreamingCall(handler))
          .addMethod(VtGrpc.ExecuteMethod, ServerCalls.asyncUnaryCall(executeHandler))
          .build(),
        headerCapture))
      .build().start()
    def close(): Unit = { server.shutdownNow(); () }
  }

  test("wire codec round-trips every event kind, packed rows, and copy lastpk") {
    val lastPk = TableLastPk(
      "t1",
      Seq(PkField("id", "INT64", 63, Some(49667))),
      Seq(PkRow(Seq("2"), java.util.Base64.getEncoder.encodeToString("42".getBytes))))
    val events: Seq[VEvent] = Seq(
      BeginEvent("s0", "ks"),
      FieldEvent("s0", "ks", "ks.t1", t1Fields, enumSetStringValues = true),
      RowEvent("s0", "ks", "ks.t1", Seq(
        RowChange(None, Some(PackedRow.of(Seq(Some("1"), None)))), // NULL column
        RowChange(Some(PackedRow.of(Seq(Some("1"), Some("old")))),
          Some(PackedRow.of(Seq(Some("1"), Some("new"))))),
        RowChange(Some(PackedRow.of(Seq(Some("9"), Some("gone")))), None))),
      VgtidEvent("s0", Vgtid(Seq(
        ShardGtid("ks", "s0", "MySQL56/h:1-5", Seq(lastPk)),
        ShardGtid("ks", "s1", "MySQL56/h:1-7")))),
      DdlEvent("s0", "ks", "ALTER TABLE t1 ADD COLUMN c INT", 1700000009L),
      CommitEvent("s0", "ks", 1700000001L),
      HeartbeatEvent("s0"),
      CopyCompletedEvent("s0"),
      OtherEvent("s0"))
    val decoded = VtWire.decodeVStreamResponse(VtWire.encodeVStreamResponse(events))
    assert(decoded == events)
  }

  test("request carries reference flags, filter rules, tablet type, and initial vgtid") {
    val srv = new MockVtgate("vt-req", _ => (1L to 2L).map(i => insertTx("s0", i, i, s"v$i")))
    val staging = graft.TempDirs.reclaimOnExit(Files.createTempDirectory("grpcstage1"))
    val transport = VStreamGrpcTransport(staging.toString, GrpcConfig(
      target = "inprocess:vt-req",
      keyspace = "ks",
      shards = Seq("s0"),
      tabletType = "RDONLY",
      stopOnReshard = true,
      streamKeyspaceHeartbeats = true,
      heartbeatSeconds = 30,
      cells = Seq("zone1", "zone2"),
      cellPreference = "preferred",
      tabletOrder = "REPLICA,RDONLY",
      includeReshardJournalEvents = true,
      includeTables = Seq("t1", "orders"),
      tablesToCopy = Seq("t1"),
      excludeKeyspaceFromTableName = true,
      headers = Map("x-envoy-upstream" -> "vtgate-1"),
      username = Some("dbz"),
      password = Some("secret")))
    try {
      transport.listShards() // starts the feeder
      transport.awaitStreamCompleted(10000)
      val req = srv.requests.head
      assert(req.tabletType == VtWire.TabletType.byName("RDONLY"))
      assert(req.flags.stopOnReshard)
      assert(req.flags.streamKeyspaceHeartbeats)
      assert(req.flags.heartbeatIntervalSec == 30)
      assert(req.flags.tablesToCopy == Seq("t1"))
      assert(req.flags.excludeKeyspaceFromTableName)
      // tablet-selection flags reach the wire (vtgate.proto fields 4/5/6/8)
      assert(req.flags.cells == "zone1,zone2")
      assert(req.flags.cellPreference == "preferred")
      assert(req.flags.tabletOrder == "REPLICA,RDONLY")
      assert(req.flags.includeReshardJournalEvents)
      // one rule per included table with the planbuilder select form
      assert(req.rules == Seq(
        "t1" -> "select * from `t1`", "orders" -> "select * from `orders`"))
      // fresh staging: empty gtid → server-side copy phase trigger
      assert(req.vgtid == Vgtid(Seq(ShardGtid("ks", "s0", ""))))
      // channel extras arrived: headers interceptor + static auth metadata
      assert(srv.lastHeaders.get("x-envoy-upstream").contains("vtgate-1"))
      assert(srv.lastHeaders.get("username").contains("dbz"))
      assert(srv.lastHeaders.get("password").contains("secret"))
      // events staged in wire-line form, readable by the file mechanics
      val slice = transport.open(staging.resolve("s0.jsonl").toString, 0L, Long.MaxValue)
      val lines = try slice.lines.toVector finally slice.close()
      assert(lines.size == 10) // 2 transactions × 5 events
      assert(VEventJson.read(lines.head) == BeginEvent("s0", "ks"))
    } finally { transport.close(); srv.close() }
  }

  test("readStream with an explicit vgtid starts the VStream there, not at ''") {
    val start = Vgtid(Seq(ShardGtid("ks", "s0", "MySQL56/feed:1-2")))
    val srv = new MockVtgate("vt-req-start", req =>
      // the server sends only what follows the requested position
      if (req.vgtid == start) (3L to 4L).map(i => insertTx("s0", i, i, s"v$i")) else Nil)
    val staging = graft.TempDirs.reclaimOnExit(Files.createTempDirectory("grpcstagestart"))
    val ckpt = graft.TempDirs.reclaimOnExit(Files.createTempDirectory("grpcckptstart"))
    val q = spark.readStream.format("vitess-cdc")
      .option("path", staging.toString)
      .option("transport", "grpc")
      .option("vtgate.target", "inprocess:vt-req-start")
      .option("shard", "s0")
      .option("keyspace", "ks")
      .option("vgtid", start.json)
      .load()
      .writeStream.format("memory").queryName("grpc_req_start")
      .option("checkpointLocation", ckpt.toString).start()
    try {
      val deadline = System.currentTimeMillis() + 20000
      var n = -1L
      while (n != 2L && System.currentTimeMillis() < deadline) {
        q.processAllAvailable()
        n = spark.sql("SELECT count(*) FROM grpc_req_start WHERE op = 'c'").collect()(0).getLong(0)
        if (n != 2L) Thread.sleep(50)
      }
    } finally { q.stop(); srv.close() }
    assert(srv.requests.head.vgtid == start)
    val ids = spark.sql("SELECT CAST(get_json_object(after, '$.id') AS LONG) " +
      "FROM grpc_req_start WHERE op = 'c' ORDER BY 1").collect().map(_.getLong(0)).toSeq
    assert(ids == Seq(3L, 4L))
  }

  test("restart resumes the server stream from the last staged vgtid, exactly once") {
    def txs(from: Long, to: Long) = (from to to).map(i => insertTx("s0", i, i, s"v$i"))
    val srv = new MockVtgate("vt-resume", req => {
      val sg = req.vgtid.shardGtid("s0").get
      if (sg.gtid == Vgtid.EmptyGtid) txs(1, 3)
      else {
        assert(sg.gtid == "MySQL56/feed:1-3") // resume carries staged progress
        txs(4, 5)
      }
    })
    val staging = graft.TempDirs.reclaimOnExit(Files.createTempDirectory("grpcstage2"))
    def cfg = GrpcConfig("inprocess:vt-resume", "ks", Seq("s0"))
    val first = VStreamGrpcTransport(staging.toString, cfg)
    try { first.listShards(); first.awaitStreamCompleted(10000) } finally first.close()
    val second = VStreamGrpcTransport(staging.toString, cfg)
    try { second.listShards(); second.awaitStreamCompleted(10000) } finally second.close()
    assert(srv.requests.size == 2)
    val slice = new FeedSlice(staging.resolve("s0.jsonl").toString, 0L)
    val lines = try slice.lines.toVector finally slice.close()
    srv.close()
    assert(lines.size == 25) // 5 transactions × 5 events, no replay
    val ids = lines.map(VEventJson.read).collect {
      case RowEvent(_, _, _, changes) =>
        new String(changes.head.after.get.slice.head.get, "UTF-8")
    }
    assert(ids == Seq("1", "2", "3", "4", "5"))
  }

  test("retriable stream error: reconnect resumes from last staged vgtid, exactly once") {
    import org.sparkproject.connect.grpc.Status
    def txs(from: Long, to: Long) = (from to to).map(i => insertTx("s0", i, i, s"v$i"))
    // hand-built mock (not MockVtgate): serve 1-2 then die UNAVAILABLE;
    // on the resumed request serve 3-5 and complete
    @volatile var requests = Vector.empty[VtWire.VStreamRequestModel]
    val handler = new ServerCalls.ServerStreamingMethod[Array[Byte], Array[Byte]] {
      override def invoke(request: Array[Byte], obs: StreamObserver[Array[Byte]]): Unit = {
        val req = VtWire.decodeVStreamRequest(request)
        requests = requests :+ req
        val sg = req.vgtid.shardGtid("s0").get
        if (sg.gtid == Vgtid.EmptyGtid) {
          txs(1, 2).foreach(tx => obs.onNext(VtWire.encodeVStreamResponse(tx)))
          obs.onError(Status.UNAVAILABLE.withDescription("vtgate bounced").asRuntimeException())
        } else {
          assert(sg.gtid == "MySQL56/feed:1-2") // resume carries staged progress
          txs(3, 5).foreach(tx => obs.onNext(VtWire.encodeVStreamResponse(tx)))
          obs.onCompleted()
        }
      }
    }
    val server = InProcessServerBuilder.forName("vt-retry2").directExecutor()
      .addService(ServerServiceDefinition.builder("vtgateservice.Vitess")
        .addMethod(VtGrpc.VStreamMethod, ServerCalls.asyncServerStreamingCall(handler))
        .build())
      .build().start()
    val staging = graft.TempDirs.reclaimOnExit(Files.createTempDirectory("grpcstage5"))
    val transport = VStreamGrpcTransport(staging.toString, GrpcConfig("inprocess:vt-retry2", "ks", Seq("s0")))
    try {
      transport.listShards()
      transport.awaitStreamCompleted(15000)
      assert(requests.size == 2)
      val slice = new FeedSlice(staging.resolve("s0.jsonl").toString, 0L)
      val lines = try slice.lines.toVector finally slice.close()
      val ids = lines.map(VEventJson.read).collect {
        case RowEvent(_, _, _, changes) =>
          new String(changes.head.after.get.slice.head.get, "UTF-8")
      }
      assert(ids == Seq("1", "2", "3", "4", "5")) // no loss, no replay
    } finally { transport.close(); server.shutdownNow(); () }
  }

  /** Assert a staged feed is transaction-well-formed: BEGIN/COMMIT
    * balanced (no BEGIN-while-open — the sequence TransactionAssembler
    * rejects permanently) and each insert id staged exactly once. */
  private def assertWellFormedFeed(lines: Seq[String], expectedIds: Seq[String]): Unit = {
    var open = false
    lines.map(VEventJson.read).foreach {
      case _: BeginEvent =>
        assert(!open, "BEGIN while a transaction is open — corrupt staging feed")
        open = true
      case _: CommitEvent =>
        assert(open, "COMMIT with no open transaction")
        open = false
      case _ =>
    }
    assert(!open, "feed ends inside a transaction")
    val ids = lines.map(VEventJson.read).collect {
      case RowEvent(_, _, _, changes) =>
        new String(changes.head.after.get.slice.head.get, "UTF-8")
    }
    assert(ids == expectedIds)
  }

  test("disconnect mid-transaction: partial tx never staged, replay appends cleanly") {
    import org.sparkproject.connect.grpc.Status
    // serve tx1 complete, then the FIRST HALF of tx2 (BEGIN/FIELD/ROW,
    // no VGTID/COMMIT) in its own response, then die UNAVAILABLE; the
    // resumed request must carry tx1's vgtid (nothing of tx2 staged) and
    // gets tx2+tx3 complete
    @volatile var requests = Vector.empty[VtWire.VStreamRequestModel]
    val handler = new ServerCalls.ServerStreamingMethod[Array[Byte], Array[Byte]] {
      override def invoke(request: Array[Byte], obs: StreamObserver[Array[Byte]]): Unit = {
        val req = VtWire.decodeVStreamRequest(request)
        requests = requests :+ req
        val sg = req.vgtid.shardGtid("s0").get
        if (sg.gtid == Vgtid.EmptyGtid) {
          obs.onNext(VtWire.encodeVStreamResponse(insertTx("s0", 1, 1, "v1")))
          obs.onNext(VtWire.encodeVStreamResponse(insertTx("s0", 2, 2, "v2").take(3)))
          obs.onError(Status.UNAVAILABLE.withDescription("vtgate died mid-tx").asRuntimeException())
        } else {
          assert(sg.gtid == "MySQL56/feed:1-1",
            s"resume must not advance past the last COMPLETE transaction, got ${sg.gtid}")
          obs.onNext(VtWire.encodeVStreamResponse(insertTx("s0", 2, 2, "v2")))
          obs.onNext(VtWire.encodeVStreamResponse(insertTx("s0", 3, 3, "v3")))
          obs.onCompleted()
        }
      }
    }
    val server = InProcessServerBuilder.forName("vt-midtx").directExecutor()
      .addService(ServerServiceDefinition.builder("vtgateservice.Vitess")
        .addMethod(VtGrpc.VStreamMethod, ServerCalls.asyncServerStreamingCall(handler))
        .build())
      .build().start()
    val staging = graft.TempDirs.reclaimOnExit(Files.createTempDirectory("grpcstage6"))
    val transport = VStreamGrpcTransport(staging.toString, GrpcConfig("inprocess:vt-midtx", "ks", Seq("s0")))
    try {
      transport.listShards()
      transport.awaitStreamCompleted(15000)
      assert(requests.size == 2)
      val slice = new FeedSlice(staging.resolve("s0.jsonl").toString, 0L)
      val lines = try Iterator.continually(slice.readLine()).takeWhile(_ != null).toVector finally slice.close()
      assert(lines.size == 15) // 3 complete transactions × 5 events; no partial-tx residue
      assertWellFormedFeed(lines, Seq("1", "2", "3"))
    } finally { transport.close(); server.shutdownNow(); () }
  }

  test("restart over a crash-torn staging file truncates back to the last tx boundary") {
    // simulate an OS-level crash that persisted tx1 complete plus a
    // complete-LINE prefix of tx2 (BEGIN/FIELD/ROW, no COMMIT): the new
    // feeder must truncate the partial tx and resume from tx1's vgtid
    val staging = graft.TempDirs.reclaimOnExit(Files.createTempDirectory("grpcstage7"))
    val torn = (insertTx("s0", 1, 1, "v1") ++ insertTx("s0", 2, 2, "v2").take(3))
      .map(VEventJson.write).mkString("", "\n", "\n")
    Files.write(staging.resolve("s0.jsonl"), torn.getBytes("UTF-8"))
    @volatile var requests = Vector.empty[VtWire.VStreamRequestModel]
    val srv = new MockVtgate("vt-torn", req => {
      requests = requests :+ req
      val sg = req.vgtid.shardGtid("s0").get
      assert(sg.gtid == "MySQL56/feed:1-1",
        s"resume must ignore the truncated partial transaction, got ${sg.gtid}")
      Seq(insertTx("s0", 2, 2, "v2"), insertTx("s0", 3, 3, "v3"))
    })
    val transport = VStreamGrpcTransport(staging.toString, GrpcConfig("inprocess:vt-torn", "ks", Seq("s0")))
    try {
      transport.listShards()
      transport.awaitStreamCompleted(10000)
      assert(requests.size == 1)
      val slice = new FeedSlice(staging.resolve("s0.jsonl").toString, 0L)
      val lines = try Iterator.continually(slice.readLine()).takeWhile(_ != null).toVector finally slice.close()
      assert(lines.size == 15)
      assertWellFormedFeed(lines, Seq("1", "2", "3"))
    } finally { transport.close(); srv.close() }
  }

  test("bounded backward tail scan finds the last staged vgtid without a full read") {
    val dir = graft.TempDirs.reclaimOnExit(Files.createTempDirectory("tailscan"))
    def vl(shard: String, seq: Long): String =
      VEventJson.write(VgtidEvent(shard, Vgtid(Seq(ShardGtid("ks", shard, s"MySQL56/feed:1-$seq")))))
    def rl(shard: String, i: Long): String =
      VEventJson.write(HeartbeatEvent(shard))

    // dense vgtids: the answer sits in the first 64 KiB window
    val dense = dir.resolve("dense.jsonl")
    Files.writeString(dense,
      (1L to 500L).flatMap(i => Seq(vl("s0", i), rl("s0", i))).mkString("", "\n", "\n"))
    assert(GrpcFeeder.lastStagedVgtid(dense, "s0")
      .contains(ShardGtid("ks", "s0", "MySQL56/feed:1-500")))

    // sparse: ONE vgtid at the head, then >256 KiB of other lines — the
    // scan must widen past several windows and still find it
    val sparse = dir.resolve("sparse.jsonl")
    val filler = (1L to 4000L).map(i => rl("s0", i) + "x" * 80)
    Files.writeString(sparse, (vl("s0", 7) +: filler).mkString("", "\n", "\n"))
    assert(Files.size(sparse) > 256L * 1024)
    assert(GrpcFeeder.lastStagedVgtid(sparse, "s0")
      .contains(ShardGtid("ks", "s0", "MySQL56/feed:1-7")))

    // torn tail: bytes after the last newline must be ignored
    val torn = dir.resolve("torn.jsonl")
    Files.writeString(torn, vl("s0", 3) + "\n" + vl("s0", 9).dropRight(5))
    assert(GrpcFeeder.lastStagedVgtid(torn, "s0")
      .contains(ShardGtid("ks", "s0", "MySQL56/feed:1-3")))

    // a vgtid for ANOTHER shard only → None for s0; empty file → None
    val other = dir.resolve("other.jsonl")
    Files.writeString(other, vl("s1", 4) + "\n")
    assert(GrpcFeeder.lastStagedVgtid(other, "s0").isEmpty)
    val empty = dir.resolve("empty.jsonl")
    Files.createFile(empty)
    assert(GrpcFeeder.lastStagedVgtid(empty, "s0").isEmpty)
  }

  test("close before listShards never starts the feeder") {
    // target is a name no server listens on: if close() lazily built the
    // channel and subscribed, the feeder would surface a failure
    val staging = graft.TempDirs.reclaimOnExit(Files.createTempDirectory("grpcstage8"))
    val transport = VStreamGrpcTransport(staging.toString, GrpcConfig("inprocess:vt-nobody", "ks", Seq("s0")))
    transport.close() // must be a no-op
    assert(Files.list(staging).count() == 0) // no staging files created either
  }

  test("execute wire codec round-trips request, query result, and error response") {
    val req = VtWire.ExecuteRequestModel("SHOW TABLES", "ks:-80@RDONLY", autocommit = true)
    assert(VtWire.decodeExecuteRequest(VtWire.encodeExecuteRequest(req)) == req)
    val plain = VtWire.ExecuteRequestModel("SHOW DATABASES")
    assert(VtWire.decodeExecuteRequest(VtWire.encodeExecuteRequest(plain)) == plain)
    val result = VtWire.QueryResultModel(
      Seq(FieldDef("Tables_in_ks", "VARCHAR", "varchar(255)", 255, 0, 0L)),
      Seq(PackedRow.of(Seq(Some("t1"))), PackedRow.of(Seq(None)))) // incl. NULL
    val ok = VtWire.ExecuteResponseModel(None, Some(result))
    assert(VtWire.decodeExecuteResponse(VtWire.encodeExecuteResponse(ok)) == ok)
    val err = VtWire.ExecuteResponseModel(Some("target: ks.-80: vttablet down"), None)
    assert(VtWire.decodeExecuteResponse(VtWire.encodeExecuteResponse(err)) == err)
  }

  test("no shard list: topology discovered via SHOW VITESS_SHARDS over Execute") {
    val srv = new MockVtgate(
      "vt-discover",
      req => {
        // each discovered shard streams one insert
        req.vgtid.shardGtids.map(_.shard).sorted.zipWithIndex.map {
          case (sh, i) => insertTx(sh, i + 1L, i + 1L, s"v$sh")
        }
      },
      { case "SHOW VITESS_SHARDS LIKE 'ks/%'" => showResult("ks/-80", "ks/80-") })
    val staging = graft.TempDirs.reclaimOnExit(Files.createTempDirectory("grpcstage9"))
    val transport = VStreamGrpcTransport(staging.toString,
      GrpcConfig("inprocess:vt-discover", "ks")) // no shards configured
    try {
      val shards = transport.listShards().map(_._1)
      assert(shards == Seq("-80", "80-"))
      transport.awaitStreamCompleted(10000)
      // the stream request subscribed BOTH discovered shards from empty gtids
      assert(srv.requests.head.vgtid == Vgtid(Seq(
        ShardGtid("ks", "-80", ""), ShardGtid("ks", "80-", ""))))
      // one staging file per discovered shard, 5 events each
      Seq("-80", "80-").foreach { sh =>
        val slice = new FeedSlice(staging.resolve(s"$sh.jsonl").toString, 0L)
        val lines = try Iterator.continually(slice.readLine()).takeWhile(_ != null).toVector finally slice.close()
        assert(lines.size == 5, s"shard $sh")
      }
    } finally { transport.close(); srv.close() }
  }

  test("exclude.empty.shards: discovery via SHOW VITESS_TABLETS serving rows") {
    val srv = new MockVtgate(
      "vt-tablets",
      req => Seq(insertTx("-80", 1, 1, "v1")),
      {
        case "SHOW VITESS_TABLETS" => gridResult(Seq(
          Seq("cell1", "ks", "-80", "PRIMARY", "SERVING", "alias1", "host1", "[]"),
          Seq("cell1", "other_ks", "80-", "PRIMARY", "SERVING", "alias2", "host2", "[]")))
      })
    val staging = graft.TempDirs.reclaimOnExit(Files.createTempDirectory("grpcstage10"))
    val transport = VStreamGrpcTransport(staging.toString,
      GrpcConfig("inprocess:vt-tablets", "ks", excludeEmptyShards = true))
    try {
      // only the tablet row of THIS keyspace counts (reference
      // getNonEmptyShards filters on the keyspace column)
      assert(transport.listShards().map(_._1) == Seq("-80"))
      transport.awaitStreamCompleted(10000)
    } finally { transport.close(); srv.close() }
  }

  test("regex include rules expand to concrete tables via SHOW TABLES") {
    val srv = new MockVtgate(
      "vt-regex",
      req => Seq(insertTx("s0", 1, 1, "v1")),
      { case "SHOW TABLES FROM `ks`" => showResult("orders", "orderlines", "t1", "customers") })
    val staging = graft.TempDirs.reclaimOnExit(Files.createTempDirectory("grpcstage11"))
    val transport = VStreamGrpcTransport(staging.toString, GrpcConfig(
      "inprocess:vt-regex", "ks", shards = Seq("s0"),
      includeTables = Seq("/order.*", "t1")))
    try {
      transport.listShards()
      transport.awaitStreamCompleted(10000)
      // reference VitessReplicationConnection.java:316-327: the server
      // sees one concrete select-rule per matched table, no regex rules
      assert(srv.requests.head.rules == Seq(
        "orders" -> "select * from `orders`",
        "orderlines" -> "select * from `orderlines`",
        "t1" -> "select * from `t1`"))
    } finally { transport.close(); srv.close() }
  }

  test("shard-targeted SHOW TABLES rides a session target with autocommit") {
    val srv = new MockVtgate(
      "vt-target",
      req => Seq(insertTx("-80", 1, 1, "v1")),
      {
        case "SHOW VITESS_TABLETS" => gridResult(Seq(
          Seq("cell1", "ks", "-80", "PRIMARY", "SERVING", "a", "h", "[]")))
        case "SHOW TABLES" => showResult("orders", "t1")
      })
    val staging = graft.TempDirs.reclaimOnExit(Files.createTempDirectory("grpcstage12"))
    val transport = VStreamGrpcTransport(staging.toString, GrpcConfig(
      "inprocess:vt-target", "ks", excludeEmptyShards = true,
      includeTables = Seq("/^t.*")))
    try {
      transport.listShards()
      transport.awaitStreamCompleted(10000)
      assert(srv.requests.head.rules == Seq("t1" -> "select * from `t1`"))
      // the SHOW TABLES call targeted the discovered non-empty shard
      // (reference execute(query, shard): target string + autocommit)
      val showTables = srv.sqlRequests.find(_.sql.endsWith("SHOW TABLES")).get
      assert(showTables.targetString == "ks:-80@MASTER")
      assert(showTables.autocommit)
    } finally { transport.close(); srv.close() }
  }

  test("readStream with transport=grpc and no shard option self-discovers") {
    val srv = new MockVtgate(
      "vt-e2e-disc",
      req => {
        val sg = req.vgtid.shardGtid("s0").get
        if (sg.gtid == Vgtid.EmptyGtid) (1L to 3L).map(i => insertTx("s0", i, i, s"v$i"))
        else Nil
      },
      { case "SHOW VITESS_SHARDS LIKE 'ks/%'" => showResult("ks/s0") })
    val staging = graft.TempDirs.reclaimOnExit(Files.createTempDirectory("grpcstage13"))
    val ckpt = graft.TempDirs.reclaimOnExit(Files.createTempDirectory("grpcckpt13"))
    val q = spark.readStream.format("vitess-cdc")
      .option("path", staging.toString)
      .option("transport", "grpc")
      .option("vtgate.target", "inprocess:vt-e2e-disc")
      .option("keyspace", "ks")
      .load()
      .writeStream.format("memory").queryName("grpc_e2e_disc")
      .option("checkpointLocation", ckpt.toString).start()
    try {
      val deadline = System.currentTimeMillis() + 20000
      var n = -1L
      while (n != 3L && System.currentTimeMillis() < deadline) {
        q.processAllAvailable()
        n = spark.sql("SELECT count(*) FROM grpc_e2e_disc WHERE op = 'c'").collect()(0).getLong(0)
        if (n != 3L) Thread.sleep(50)
      }
      assert(n == 3L)
    } finally { q.stop(); srv.close() }
  }

  test("multi-stream ingest: one VStream per shard group, per-stream resume after a kill") {
    import org.sparkproject.connect.grpc.Status
    // 4 shards, maxStreams=2 → round-robin groups (s0,s2) and (s1,s3),
    // each subscribed by its OWN concurrent VStream. The (s1,s3) stream
    // dies UNAVAILABLE after one tx per shard; its reconnect must carry
    // ONLY that group's staged vgtids and must not disturb the other
    // stream's subscription.
    @volatile var requests = Vector.empty[VtWire.VStreamRequestModel]
    val handler = new ServerCalls.ServerStreamingMethod[Array[Byte], Array[Byte]] {
      override def invoke(request: Array[Byte], obs: StreamObserver[Array[Byte]]): Unit = {
        val req = VtWire.decodeVStreamRequest(request)
        synchronized { requests = requests :+ req }
        val group = req.vgtid.shardGtids.map(_.shard).sorted
        group match {
          case Seq("s0", "s2") =>
            Seq("s0", "s2").foreach { sh =>
              (1L to 2L).foreach(i => obs.onNext(VtWire.encodeVStreamResponse(insertTx(sh, i, i, s"$sh-v$i"))))
            }
            obs.onCompleted()
          case Seq("s1", "s3") if req.vgtid.shardGtids.forall(_.gtid == Vgtid.EmptyGtid) =>
            Seq("s1", "s3").foreach { sh =>
              obs.onNext(VtWire.encodeVStreamResponse(insertTx(sh, 1, 1, s"$sh-v1")))
            }
            obs.onError(Status.UNAVAILABLE.withDescription("group stream died").asRuntimeException())
          case Seq("s1", "s3") =>
            // resumed request: exactly this group's staged progress
            assert(req.vgtid.shardGtids.map(sg => sg.shard -> sg.gtid).toMap ==
              Map("s1" -> "MySQL56/feed:1-1", "s3" -> "MySQL56/feed:1-1"))
            Seq("s1", "s3").foreach { sh =>
              obs.onNext(VtWire.encodeVStreamResponse(insertTx(sh, 2, 2, s"$sh-v2")))
            }
            obs.onCompleted()
          case other => fail(s"unexpected stream group: $other")
        }
      }
    }
    val server = InProcessServerBuilder.forName("vt-multi").directExecutor()
      .addService(ServerServiceDefinition.builder("vtgateservice.Vitess")
        .addMethod(VtGrpc.VStreamMethod, ServerCalls.asyncServerStreamingCall(handler))
        .build())
      .build().start()
    val staging = graft.TempDirs.reclaimOnExit(Files.createTempDirectory("grpcstage14"))
    val transport = VStreamGrpcTransport(staging.toString, GrpcConfig(
      "inprocess:vt-multi", "ks", shards = Seq("s0", "s1", "s2", "s3"), maxStreams = 2))
    try {
      transport.listShards()
      transport.awaitStreamCompleted(15000)
      assert(requests.size == 3) // 2 initial streams + 1 per-group reconnect
      // every stream request covered exactly its round-robin group
      assert(requests.map(_.vgtid.shardGtids.map(_.shard).sorted).toSet ==
        Set(Seq("s0", "s2"), Seq("s1", "s3")))
      Seq("s0" -> 2, "s1" -> 2, "s2" -> 2, "s3" -> 2).foreach { case (sh, txs) =>
        val slice = new FeedSlice(staging.resolve(s"$sh.jsonl").toString, 0L)
        val lines = try Iterator.continually(slice.readLine()).takeWhile(_ != null).toVector finally slice.close()
        assert(lines.size == txs * 5, s"shard $sh")
        assertWellFormedFeed(lines, (1 to txs).map(_.toString))
      }
    } finally { transport.close(); server.shutdownNow(); () }
  }

  test("real socket transport: loopback netty server, tuned channel options consumed") {
    import org.sparkproject.connect.grpc.netty.NettyServerBuilder
    @volatile var requests = Vector.empty[VtWire.VStreamRequestModel]
    val handler = new ServerCalls.ServerStreamingMethod[Array[Byte], Array[Byte]] {
      override def invoke(request: Array[Byte], obs: StreamObserver[Array[Byte]]): Unit = {
        requests = requests :+ VtWire.decodeVStreamRequest(request)
        (1L to 3L).foreach(i => obs.onNext(VtWire.encodeVStreamResponse(insertTx("s0", i, i, s"v$i"))))
        obs.onCompleted()
      }
    }
    val server = NettyServerBuilder.forPort(0)
      .addService(ServerServiceDefinition.builder("vtgateservice.Vitess")
        .addMethod(VtGrpc.VStreamMethod, ServerCalls.asyncServerStreamingCall(handler))
        .build())
      .build().start()
    val staging = graft.TempDirs.reclaimOnExit(Files.createTempDirectory("grpcstage4"))
    // host:port target exercises the REAL channel builder with the
    // reference's tuning knobs (keepalive, max inbound, load balancing)
    val transport = VStreamGrpcTransport(staging.toString, GrpcConfig(
      target = s"127.0.0.1:${server.getPort}",
      keyspace = "ks",
      shards = Seq("s0"),
      keepaliveMs = Some(180000L),
      maxInboundMessageSize = Some(4194304),
      loadBalancingPolicy = Some("round_robin")))
    try {
      transport.listShards()
      transport.awaitStreamCompleted(15000)
      assert(requests.size == 1)
      val slice = transport.open(staging.resolve("s0.jsonl").toString, 0L, Long.MaxValue)
      val lines = try slice.lines.toVector finally slice.close()
      assert(lines.size == 15) // 3 transactions × 5 events over a real socket
    } finally { transport.close(); server.shutdownNow(); () }
  }

  test("live reshard: child shards adopted mid-stream, nothing dropped") {
    // parent "-" streams 2 txs, then a reshard happens server-side: the
    // SAME subscription starts streaming children "-80" / "80-" (their
    // own txs plus a multi-shard VGTID naming both). The worker must
    // adopt the children — open feed files, stage every event, extend
    // its resume set — never silently drop them (the pre-round-7 bug).
    val childVgtid = Vgtid(Seq(
      ShardGtid("ks", "-80", "MySQL56/feed:1-3"),
      ShardGtid("ks", "80-", "MySQL56/feed:1-3")))
    val srv = new MockVtgate("vt-reshard", _ => Seq(
      insertTx("-", 1, 1, "p1"),
      insertTx("-", 2, 2, "p2"),
      insertTx("-80", 3, 3, "c1"),
      insertTx("80-", 3, 4, "c2"),
      Seq(VgtidEvent("", childVgtid)))) // shard-less multi-shard VGTID path
    val staging = graft.TempDirs.reclaimOnExit(Files.createTempDirectory("grpcreshard"))
    val transport = VStreamGrpcTransport(staging.toString,
      GrpcConfig("inprocess:vt-reshard", "ks", Seq("-")))
    try {
      transport.listShards() // starts the feeder on the parent-only topology
      transport.awaitStreamCompleted(10000)
      // topology now includes the adopted children
      assert(transport.listShards().map(_._1) == Seq("-", "-80", "80-"))
      def feedLines(sh: String): Vector[String] = {
        val slice = new FeedSlice(staging.resolve(s"$sh.jsonl").toString, 0L)
        try slice.lines.toVector finally slice.close()
      }
      assertWellFormedFeed(feedLines("-"), Seq("1", "2"))
      assertWellFormedFeed(feedLines("-80"), Seq("3"))
      assertWellFormedFeed(feedLines("80-"), Seq("4"))
      // the shard-less VGTID was staged per-shard into both children
      assert(feedLines("-80").count(_.contains("feed:1-3")) == 2) // tx vgtid + broadcast
      // both children flushed a VGTID, so their unknown-resume markers
      // are gone — a crash from here resumes from the staged position
      assert(!Files.exists(staging.resolve("-80.adopted")))
      assert(!Files.exists(staging.resolve("80-.adopted")))
    } finally { transport.close(); srv.close() }
  }

  test("adopted child with no staged VGTID fails the restart loudly, never re-copies") {
    // crash scenario: a live reshard adopted child "-80" (durable
    // .adopted marker) but the connection died before any VGTID for it
    // was flushed — the restarted feeder cannot know a safe resume
    // position ('' would VStream-copy the child's whole history over
    // the parents' feeds; 'current' would skip the unstaged window), so
    // subscribing must throw, not guess.
    val staging = graft.TempDirs.reclaimOnExit(Files.createTempDirectory("grpcadoptednopos"))
    Files.createFile(staging.resolve("-80.jsonl")) // adopted feed, no VGTID yet
    Files.createFile(staging.resolve("-80.adopted"))
    val transport = VStreamGrpcTransport(staging.toString,
      GrpcConfig("inprocess:vt-adopted-unused", "ks", Seq("-80")))
    try {
      val err = intercept[IllegalStateException] { transport.listShards() }
      assert(messages(err).exists(_.contains("adopted from a live reshard")))
    } finally transport.close()
  }

  test("transaction-scoped event without shard attribution fails loudly") {
    // optional proto fields: a server that omits keyspace/shard on
    // BEGIN would have the group fan the event to every shard's feed
    // (misattributed lines + inTx corruption) — refuse instead
    val srv = new MockVtgate("vt-noshard", _ => Seq(
      Seq(BeginEvent("", "ks"))))
    val staging = graft.TempDirs.reclaimOnExit(Files.createTempDirectory("grpcnoshard"))
    val transport = VStreamGrpcTransport(staging.toString,
      GrpcConfig("inprocess:vt-noshard", "ks", Seq("s0", "s1")))
    try {
      // the in-process server can fail the worker before listShards's own
      // ensureRunning check, so the error may surface from either call
      val err = intercept[IllegalStateException] {
        transport.listShards()
        transport.awaitStreamCompleted(10000)
      }
      assert(messages(err).exists(_.contains("without shard attribution")))
    } finally { transport.close(); srv.close() }
  }

  test("vtgate.target parsing: portless says so, IPv6 literal parses at the last colon") {
    val noPort = intercept[IllegalArgumentException] {
      GrpcChannels.build(GrpcConfig("localhost", "ks", Seq("s0")))
    }
    assert(noPort.getMessage.contains("vtgate.target must be host:port"))
    val badPort = intercept[IllegalArgumentException] {
      GrpcChannels.build(GrpcConfig("localhost:abc", "ks", Seq("s0")))
    }
    assert(badPort.getMessage.contains("port must be numeric"))
    // IPv6 splits at the LAST colon, not the first
    val ch = GrpcChannels.build(GrpcConfig("[::1]:15991", "ks", Seq("s0")))
    try assert(ch != null) finally { ch.shutdownNow(); () }
  }

  test("unknown tablet.type fails the subscription, never silently targets the primary") {
    val staging = graft.TempDirs.reclaimOnExit(Files.createTempDirectory("grpctablettypo"))
    val transport = VStreamGrpcTransport(staging.toString,
      GrpcConfig("inprocess:vt-typo-unused", "ks", Seq("s0"), tabletType = "REPLCA"))
    try {
      val err = intercept[IllegalArgumentException] { transport.listShards() }
      assert(err.getMessage.contains("tablet.type must be one of"))
    } finally transport.close()
  }

  test("restart with a pre-reshard shard list fails fast, never replays children") {
    // a previous run adopted child "-80"; restarting with the stale
    // parent-only list would make the server replay the child's history
    // (via the reshard journal) into a feed that already holds it
    val staging = graft.TempDirs.reclaimOnExit(Files.createTempDirectory("grpcstale"))
    Files.writeString(staging.resolve("-80.jsonl"),
      insertTx("-80", 1, 1, "c1").map(VEventJson.write).mkString("", "\n", "\n"))
    val transport = VStreamGrpcTransport(staging.toString,
      GrpcConfig("inprocess:vt-stale-unused", "ks", Seq("-")))
    val err = intercept[IllegalArgumentException] { transport.listShards() }
    assert(err.getMessage.contains("reshard child"))
    // a DISJOINT extra staged shard is not a conflict (non-keyrange
    // names can't stand in a reshard lineage at all)
    val staging2 = graft.TempDirs.reclaimOnExit(Files.createTempDirectory("grpcstale2"))
    Files.createFile(staging2.resolve("s9.jsonl"))
    GrpcTopology.requireNoStaleParentConfig(staging2.toString, Seq("s0"))
  }

  test("retired reshard parents stay listed for read continuity") {
    // post-reshard restart: children configured (as discovery would
    // return), the parent's staged history still on disk — listShards
    // must surface ALL THREE files (the reading engine's reshard
    // machinery needs parent history next to the children), while the
    // feeder only subscribes to the children
    val srv = new MockVtgate("vt-retired", req => {
      val mine = req.vgtid.shardGtids.map(_.shard)
      assert(mine.sorted == Seq("-80", "80-"), s"must not subscribe the parent: $mine")
      mine.map(sh => insertTx(sh, 2, 2, s"$sh-new"))
    })
    val staging = graft.TempDirs.reclaimOnExit(Files.createTempDirectory("grpcretired"))
    Files.writeString(staging.resolve("-.jsonl"),
      insertTx("-", 1, 1, "old").map(VEventJson.write).mkString("", "\n", "\n"))
    val transport = VStreamGrpcTransport(staging.toString,
      GrpcConfig("inprocess:vt-retired", "ks", Seq("-80", "80-")))
    try {
      val listed = transport.listShards()
      assert(listed.map(_._1) == Seq("-", "-80", "80-"))
      transport.awaitStreamCompleted(10000)
      // parent feed untouched, children staged fresh
      val slice = new FeedSlice(staging.resolve("-.jsonl").toString, 0L)
      val parentLines = try slice.lines.toVector finally slice.close()
      assertWellFormedFeed(parentLines, Seq("1"))
    } finally { transport.close(); srv.close() }
  }

  test("live reshard under stop.on.reshard fails loudly, never drops") {
    val srv = new MockVtgate("vt-reshard-stop", _ => Seq(
      insertTx("-", 1, 1, "p1"),
      insertTx("-80", 2, 2, "c1"))) // server SHOULD have stopped instead
    val staging = graft.TempDirs.reclaimOnExit(Files.createTempDirectory("grpcreshardstop"))
    val transport = VStreamGrpcTransport(staging.toString,
      GrpcConfig("inprocess:vt-reshard-stop", "ks", Seq("-"), stopOnReshard = true))
    try {
      // with a direct-executor server the failure can surface during
      // the feeder-starting listShards call itself
      val err = intercept[IllegalStateException] {
        transport.listShards()
        transport.awaitStreamCompleted(10000)
      }
      assert(messages(err).exists(_.contains("stop.on.reshard")))
    } finally { transport.close(); srv.close() }
  }

  test("a shard owned by another worker is a misroute: loud failure, no drop") {
    // two workers (one per shard); s0's subscription serves one good tx,
    // then a misrouted s1 event, then MORE s0 txs — nothing after the
    // failure may reach the durable feed (a later COMMIT must not flush
    // a partial transaction)
    val srv = new MockVtgate("vt-misroute", req => {
      val mine = req.vgtid.shardGtids.map(_.shard)
      if (mine == Seq("s0"))
        Seq(insertTx("s0", 1, 1, "good"), insertTx("s1", 1, 1, "bad"),
          insertTx("s0", 2, 2, "after-failure"))
      else Seq(insertTx("s1", 1, 1, "ok"))
    })
    val staging = graft.TempDirs.reclaimOnExit(Files.createTempDirectory("grpcmisroute"))
    val transport = VStreamGrpcTransport(staging.toString,
      GrpcConfig("inprocess:vt-misroute", "ks", Seq("s0", "s1"), maxStreams = 2))
    try {
      val err = intercept[IllegalStateException] {
        transport.listShards()
        transport.awaitStreamCompleted(10000)
      }
      assert(messages(err).exists(_.contains("misroute")))
      // pre-failure tx staged whole; post-failure txs never staged
      val slice = new FeedSlice(staging.resolve("s0.jsonl").toString, 0L)
      val lines = try slice.lines.toVector finally slice.close()
      assertWellFormedFeed(lines, Seq("1"))
      assert(!lines.exists(_.contains("after-failure")))
    } finally { transport.close(); srv.close() }
  }

  test("tx buffer spills past the cap and streams back byte-identical") {
    val dir = graft.TempDirs.reclaimOnExit(Files.createTempDirectory("txspill"))
    val spill = dir.resolve("s0.spill")
    val buf = new GrpcFeeder.TxBuffer(spill, capBytes = 64)
    val lines = (1 to 50).map(i => s"""{"k":"line-$i","pad":"${"x" * 20}"}""")
    lines.foreach(buf.add)
    assert(buf.spilled, "a 50-line buffer over a 64-byte cap must spill")
    assert(Files.exists(spill))
    val out = new java.io.ByteArrayOutputStream()
    buf.flushInto(out)
    assert(out.toString("UTF-8") == lines.mkString("", "\n", "\n"))
    assert(!Files.exists(spill), "flush must reclaim the spill file")
    assert(buf.isEmpty)
    // reset path: spill again, then drop (reconnect) — file reclaimed
    lines.foreach(buf.add)
    assert(buf.spilled)
    buf.reset()
    assert(!Files.exists(spill) && buf.isEmpty)
  }

  test("a transaction larger than the buffer cap stages intact via spill") {
    val big = "v" * 300
    val srv = new MockVtgate("vt-spill", _ =>
      (1L to 3L).map(i => insertTx("s0", i, i, big)))
    val staging = graft.TempDirs.reclaimOnExit(Files.createTempDirectory("grpcspill"))
    val transport = VStreamGrpcTransport(staging.toString,
      GrpcConfig("inprocess:vt-spill", "ks", Seq("s0"), maxBufferedTxBytes = 256))
    try {
      transport.listShards()
      transport.awaitStreamCompleted(10000)
      val slice = new FeedSlice(staging.resolve("s0.jsonl").toString, 0L)
      val lines = try slice.lines.toVector finally slice.close()
      assertWellFormedFeed(lines, Seq("1", "2", "3"))
      assert(!Files.exists(staging.resolve("s0.spill")), "spill reclaimed on flush")
    } finally { transport.close(); srv.close() }
  }

  test("feeder.mode=executors: workers run as spark tasks over shared staging") {
    val srv = new MockVtgate("vt-exec", req => {
      val mine = req.vgtid.shardGtids.map(_.shard)
      mine.flatMap(sh => (1L to 2L).map(i => insertTx(sh, i, i, s"$sh-$i")))
    })
    val staging = graft.TempDirs.reclaimOnExit(Files.createTempDirectory("grpcexec"))
    val transport = VStreamGrpcTransport(staging.toString,
      GrpcConfig("inprocess:vt-exec", "ks", Seq("s0", "s1"),
        maxStreams = 2, feederMode = "executors"))
    try {
      // starts the background job: one long-running task per shard group
      assert(transport.listShards().map(_._1) == Seq("s0", "s1"))
      transport.awaitStreamCompleted(30000)
      Seq("s0", "s1").foreach { sh =>
        val slice = new FeedSlice(staging.resolve(s"$sh.jsonl").toString, 0L)
        val lines = try slice.lines.toVector finally slice.close()
        assertWellFormedFeed(lines, Seq("1", "2"))
      }
    } finally { transport.close(); srv.close() }
    // close() leaves the stop marker; a fresh transport clears it on start
    assert(Files.exists(staging.resolve(GrpcFeederMain.StopMarker)))
  }

  test("external per-host feeder processes: two JVMs, kill + restart, exactly once") {
    import org.sparkproject.connect.grpc.netty.NettyServerBuilder
    // a REAL socket server so separate JVMs can reach it; the s1 script
    // stalls after 3 txs (stream held open) so the kill lands mid-stream
    val handler = new ServerCalls.ServerStreamingMethod[Array[Byte], Array[Byte]] {
      override def invoke(request: Array[Byte], obs: StreamObserver[Array[Byte]]): Unit = {
        val req = VtWire.decodeVStreamRequest(request)
        val sg = req.vgtid.shardGtids.head
        sg.shard match {
          case "s0" =>
            (1L to 2L).foreach(i => obs.onNext(VtWire.encodeVStreamResponse(insertTx("s0", i, i, s"a$i"))))
            obs.onCompleted()
          case "s1" if sg.gtid == Vgtid.EmptyGtid =>
            (1L to 3L).foreach(i => obs.onNext(VtWire.encodeVStreamResponse(insertTx("s1", i, i, s"b$i"))))
          // no onCompleted: stream stays open until the process is killed
          case "s1" =>
            assert(sg.gtid == "MySQL56/feed:1-3", s"resume carried ${sg.gtid}")
            (4L to 5L).foreach(i => obs.onNext(VtWire.encodeVStreamResponse(insertTx("s1", i, i, s"b$i"))))
            obs.onCompleted()
          case other => fail(s"unexpected shard $other")
        }
      }
    }
    val server = NettyServerBuilder.forPort(0)
      .addService(ServerServiceDefinition.builder("vtgateservice.Vitess")
        .addMethod(VtGrpc.VStreamMethod, ServerCalls.asyncServerStreamingCall(handler))
        .build())
      .build().start()
    val staging = graft.TempDirs.reclaimOnExit(Files.createTempDirectory("grpcext"))
    def props(shard: String): String = {
      val p = Files.createTempFile("feeder", ".properties")
      Files.writeString(p,
        s"vtgate.target=127.0.0.1:${server.getPort}\nkeyspace=ks\nshards=$shard\n")
      p.toString
    }
    val java = System.getProperty("java.home") + "/bin/java"
    val cp = System.getProperty("java.class.path")
    def spawn(propsFile: String): Process = {
      val log = Files.createTempFile("feeder", ".log").toFile
      new ProcessBuilder(java, "-cp", cp, "graft.sources.GrpcFeederMain",
        staging.toString, propsFile)
        .redirectOutput(log).redirectErrorStream(true)
        .start()
    }
    def stagedIds(sh: String): Seq[String] = {
      val p = staging.resolve(s"$sh.jsonl")
      if (!Files.exists(p)) return Nil
      val slice = new FeedSlice(p.toString, 0L)
      try slice.lines.toVector.map(VEventJson.read).collect {
        case RowEvent(_, _, _, changes) =>
          new String(changes.head.after.get.slice.head.get, "UTF-8")
      } finally slice.close()
    }
    try {
      val pA = spawn(props("s0"))
      val pB = spawn(props("s1"))
      // worker A (own JVM) completes its stream and exits clean
      assert(pA.waitFor(60, TimeUnit.SECONDS) && pA.exitValue() == 0,
        "feeder process A should complete")
      // worker B staged its 3 txs and is stalled mid-stream: kill -9 it
      val deadline = System.currentTimeMillis() + 60000
      while (stagedIds("s1") != Seq("1", "2", "3") && System.currentTimeMillis() < deadline)
        Thread.sleep(50)
      assert(stagedIds("s1") == Seq("1", "2", "3"), "B staged its first wave")
      pB.destroyForcibly()
      pB.waitFor(30, TimeUnit.SECONDS)
      // restart B: it must resume FROM ITS OWN STAGED VGTID (the server
      // asserts the carried gtid) and complete — exactly-once end to end
      val pB2 = spawn(props("s1"))
      assert(pB2.waitFor(60, TimeUnit.SECONDS) && pB2.exitValue() == 0,
        "restarted feeder process B should complete")
      assert(stagedIds("s0") == Seq("1", "2"))
      assert(stagedIds("s1") == Seq("1", "2", "3", "4", "5")) // no loss, no replay
      val slice = new FeedSlice(staging.resolve("s1.jsonl").toString, 0L)
      val lines = try slice.lines.toVector finally slice.close()
      assertWellFormedFeed(lines, Seq("1", "2", "3", "4", "5"))
    } finally { server.shutdownNow(); () }
  }

  test("full engine path: readStream over the grpc transport, oracle-grade rows") {
    val srv = new MockVtgate("vt-e2e", req => {
      val sg = req.vgtid.shardGtid("s0").get
      if (sg.gtid == Vgtid.EmptyGtid) (1L to 4L).map(i => insertTx("s0", i, i, s"v$i"))
      else Nil
    })
    val staging = graft.TempDirs.reclaimOnExit(Files.createTempDirectory("grpcstage3"))
    val ckpt = graft.TempDirs.reclaimOnExit(Files.createTempDirectory("grpcckpt3"))
    val q = spark.readStream.format("vitess-cdc")
      .option("path", staging.toString)
      .option("transport", "grpc")
      .option("vtgate.target", "inprocess:vt-e2e")
      .option("shard", "s0")
      .option("keyspace", "ks")
      .load()
      .writeStream.format("memory").queryName("grpc_e2e")
      .option("checkpointLocation", ckpt.toString).start()
    try {
      // the feeder stages asynchronously; poll until the sink converges
      val deadline = System.currentTimeMillis() + 20000
      var n = -1L
      while (n != 4L && System.currentTimeMillis() < deadline) {
        q.processAllAvailable()
        n = spark.sql("SELECT count(*) FROM grpc_e2e WHERE op = 'c'").collect()(0).getLong(0)
        if (n != 4L) Thread.sleep(50)
      }
    } finally q.stop()
    srv.close()
    val rows = spark.sql(
      "SELECT CAST(get_json_object(after, '$.id') AS LONG) AS id, vgtid FROM grpc_e2e ORDER BY id")
      .collect()
    assert(rows.map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L, 4L))
    assert(rows.last.getString(1).contains("MySQL56/feed:1-4"))
  }
}
