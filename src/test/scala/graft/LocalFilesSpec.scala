package graft

import graft.core.{ColumnFlags, ShardGtid, Vgtid}
import graft.operators.Sink
import graft.streaming._
import java.io.FileNotFoundException
import java.net.URI
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, StandardOpenOption}
import java.util.EnumSet
import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{CreateFlag, FileContext, FileSystem, FsConstants, LocalFileSystem, Options, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, get_json_object}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** `LocalFiles`: graft sessions put `file:` on the nio file systems for
  * both Hadoop APIs, a streaming query then forks no process from Hadoop,
  * and the nio classes leave the same files, modes and renames behind as
  * the stock `LocalFileSystem` and `LocalFs`. */
class LocalFilesSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = Tables.session("local-files-spec", "2")
    spark.sparkContext.setLogLevel("WARN")
    // FileSystem.get keeps one instance per scheme and user for the whole
    // JVM, whatever the conf it is given, and every suite shares this JVM:
    // an earlier suite may have cached the stock LocalFileSystem. Emptying
    // the cache makes the next FileSystem.get build `file:` from this
    // session's conf, as in a program whose first session is a graft one.
    FileSystem.closeAll()
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def tmp(prefix: String): java.nio.file.Path =
    TempDirs.reclaimOnExit(Files.createTempDirectory(prefix))

  private val fields = Seq(FieldDef("id", "INT64", "bigint(20)", 20, 0, ColumnFlags.PriKey))

  /** Appends one single-row transaction per id to shard 0's feed file. */
  private def appendFeed(dir: java.nio.file.Path, ids: Seq[Long]): Unit = {
    val events = ids.flatMap(id => Seq(
      BeginEvent("0", "ks"),
      FieldEvent("0", "ks", "ks.t1", fields, enumSetStringValues = false),
      RowEvent("0", "ks", "ks.t1", Seq(RowChange(None, Some(PackedRow.of(Seq(Some(id.toString))))))),
      VgtidEvent("0", Vgtid(Seq(ShardGtid("ks", "0", s"MySQL56/feed:1-$id")))),
      CommitEvent("0", "ks", 1700000000L + id)))
    Files.writeString(dir.resolve("0.jsonl"), events.map(VEventJson.write).mkString("", "\n", "\n"),
      StandardOpenOption.CREATE, StandardOpenOption.APPEND)
  }

  /** The processes started while `body` runs whose stack passes through
    * Hadoop, each as its command line, counted by a JDK Flight Recorder
    * recording of `jdk.ProcessStart`. */
  private def hadoopForks(body: => Unit): Seq[String] = {
    val rec = new Recording()
    try {
      rec.enable("jdk.ProcessStart").withStackTrace()
      rec.start()
      try body finally rec.stop()
      val dump = tmp("forks").resolve("forks.jfr")
      rec.dump(dump)
      RecordingFile.readAllEvents(dump).asScala.toSeq.filter { e =>
        Option(e.getStackTrace).exists(_.getFrames.asScala
          .exists(_.getMethod.getType.getName.startsWith("org.apache.hadoop")))
      }.map(_.getString("command"))
    } finally rec.close()
  }

  private def unixMode(p: java.nio.file.Path): Int =
    Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff

  private def octal(mode: String): Int = Integer.parseInt(mode, 8)

  /** The stock and the nio file systems, each for both Hadoop APIs. */
  private def stockAndNio(conf: Configuration): Seq[(String, FileSystem, FileContext)] = {
    def init(fs: FileSystem): FileSystem = { fs.initialize(FsConstants.LOCAL_FS_URI, conf); fs }
    Seq(
      ("stock", init(new LocalFileSystem), FileContext.getLocalFSFileContext(conf)),
      ("nio", init(new NioLocalFileSystem),
        FileContext.getFileContext(new NioLocalFs(FsConstants.LOCAL_FS_URI, conf), conf)))
  }

  test("a graft session resolves file: to the nio classes for FileSystem and FileContext") {
    val conf = spark.sessionState.newHadoopConf()
    assert(FileSystem.get(URI.create("file:///"), conf).getClass == classOf[NioLocalFileSystem])
    assert(FileContext.getFileContext(conf).getDefaultFileSystem.getClass == classOf[NioLocalFs])
  }

  test("a vitess-cdc query into Sink.streamByTopic forks no process from Hadoop over 3 triggers") {
    val feed = tmp("forkfeed")
    appendFeed(feed, 1L to 3L)
    var triggers = 0
    val forks = hadoopForks {
      val records = spark.readStream.format("vitess-cdc")
        .option("path", feed.toString).option("max.txs.per.trigger", "1").load()
      val q = Sink.streamByTopic(records, Sink.TopicConfig("graft"), tmp("forkout").toString,
        tmp("forkckpt").toString)
      try q.processAllAvailable() finally q.stop()
      triggers = q.recentProgress.count(_.numInputRows > 0)
    }
    assert(triggers == 3)
    assert(forks.isEmpty, s"${forks.size} processes forked from Hadoop: ${forks.distinct.mkString("; ")}")
  }

  test("file and directory modes match the stock file systems under the default and a 077 umask") {
    for (umask <- Seq(None, Some("077"))) {
      val conf = new Configuration()
      umask.foreach(conf.set("fs.permissions.umask-mode", _))
      val modes = stockAndNio(conf).map { case (name, fs, fc) =>
        val root = tmp(s"modes-$name")
        def at(rel: String) = new Path(root.resolve(rel).toUri)
        fs.create(at("fs-file")).close()
        fs.mkdirs(at("fs-dir/sub"))
        fc.create(at("fc-file"), EnumSet.of(CreateFlag.CREATE)).close()
        fc.mkdir(at("fc-dir/sub"), FsPermission.getDirDefault, true)
        val walk = Files.walk(root)
        try walk.iterator().asScala.filter(_ != root)
          .map(p => root.relativize(p).toString -> unixMode(p)).toMap
        finally walk.close()
      }
      assert(modes(0) == modes(1), s"umask $umask")
      val (file, dir) = if (umask.isEmpty) (octal("644"), octal("755")) else (octal("600"), octal("700"))
      assert(Seq("fs-file", ".fs-file.crc", "fc-file", ".fc-file.crc").map(modes(1)) == Seq.fill(4)(file))
      assert(Seq("fs-dir", "fs-dir/sub", "fc-dir", "fc-dir/sub").map(modes(1)) == Seq.fill(4)(dir))
    }
  }

  test("a FileContext rename with OVERWRITE replaces its target and its checksum") {
    for ((name, _, fc) <- stockAndNio(new Configuration())) {
      val root = tmp(s"rename-$name")
      val (src, dst) = (new Path(root.resolve("src").toUri), new Path(root.resolve("dst").toUri))
      for ((p, text) <- Seq(src -> "new", dst -> "old, longer")) {
        val out = fc.create(p, EnumSet.of(CreateFlag.CREATE))
        try out.write(text.getBytes(UTF_8)) finally out.close()
      }
      fc.rename(src, dst, Options.Rename.OVERWRITE)
      assert(!fc.util.exists(src), name)
      // reading through the checksummed file system checks dst against its .crc
      val in = fc.open(dst)
      try assert(new String(in.readAllBytes(), UTF_8) == "new", name) finally in.close()
    }
  }

  test("getFileLinkStatus throws FileNotFoundException on a missing path and reports a real symlink") {
    val root = tmp("links")
    val target = Files.writeString(root.resolve("target"), "x")
    val link = Files.createSymbolicLink(root.resolve("link"), target)
    val missing = new Path(root.resolve("absent").toString)
    for ((name, fs, fc) <- stockAndNio(new Configuration())) {
      intercept[FileNotFoundException](fs.getFileLinkStatus(missing))
      intercept[FileNotFoundException](fc.getFileLinkStatus(missing))
      assert(fs.getFileLinkStatus(new Path(link.toString)).isSymlink, name)
      assert(fc.getFileLinkStatus(new Path(link.toString)).getSymlink.toUri.getPath == target.toString, name)
      assert(!fs.getFileLinkStatus(new Path(target.toString)).isSymlink, name)
    }
  }

  test("a query whose checkpoint is a symlink to a directory stops, restarts and resumes exactly once") {
    val feed = tmp("linkfeed")
    val out = tmp("linkout")
    val ckptDir = tmp("linkckpt")
    val ckpt = Files.createSymbolicLink(tmp("linkroot").resolve("ckpt"), ckptDir)
    def drain(): Unit = {
      val q = Sink.streamByTopic(spark.readStream.format("vitess-cdc").option("path", feed.toString).load(),
        Sink.TopicConfig("graft"), out.toString, ckpt.toString)
      try q.processAllAvailable() finally q.stop()
    }
    appendFeed(feed, 1L to 2L)
    drain()
    appendFeed(feed, 3L to 4L)
    drain()
    val ids = spark.read.parquet(out.toString).filter(col("op") === "c")
      .select(get_json_object(col("after"), "$.id").cast("long")).collect().map(_.getLong(0)).sorted.toSeq
    assert(ids == Seq(1L, 2L, 3L, 4L))
    assert(Files.isDirectory(ckptDir.resolve("offsets")) && Files.isDirectory(ckptDir.resolve("commits")))
  }

  test("a mode with the sticky bit still goes through Hadoop's own chmod") {
    val dir = new Path(tmp("sticky").toUri)
    val fs = stockAndNio(new Configuration())(1)._2
    val forks = hadoopForks(fs.setPermission(dir, new FsPermission(octal("1755").toShort)))
    assert(forks.nonEmpty)
    assert(unixMode(java.nio.file.Paths.get(dir.toUri)) == octal("1755"))
  }
}
