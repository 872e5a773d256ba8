package graft

import java.net.URI
import java.nio.file.{Files, LinkOption}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileContext, FileStatus, FileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.config.{PipelineSpec, TestdataCatalog}
import graft.operators.Similarity
import graft.sinks.{ForkFreeLocalFileSystem, ForkFreeLocalFs, ForkFreeRawLocalFileSystem}
import graft.sources.ParquetSourceResolver

/** The fork-free `file:` filesystem: the same answers as Hadoop's stock
  * RawLocalFileSystem, bound for both client APIs by the session, and no
  * process start anywhere on the engine's local write paths.
  */
class LocalFsSpec extends SparkSuite {

  private def init(fs: FileSystem): FileSystem = {
    fs.initialize(URI.create("file:///"), new Configuration()); fs
  }
  private lazy val stock = init(new RawLocalFileSystem)
  private lazy val forkFree = init(new ForkFreeRawLocalFileSystem)

  private def mode(p: java.nio.file.Path): Int =
    Files.getAttribute(p, "unix:mode", LinkOption.NOFOLLOW_LINKS).asInstanceOf[Int] & 0xfff

  /** Every field a caller can read, or the exception it gets instead. */
  private def describe(status: => FileStatus): Any =
    try {
      val s = status
      (s.getPath, s.getLen, s.isDirectory, s.isSymlink,
        if (s.isSymlink) s.getSymlink else null, s.getReplication, s.getBlockSize,
        s.getModificationTime, s.getOwner, s.getGroup, s.getPermission)
    } catch { case e: java.io.IOException => (e.getClass, e.getMessage) }

  test("permission bits after create and mkdirs match stock, sticky-bit and setgid directories included") {
    val base = tempDirPath("graft_localfs_perm")
    val setgid = base.resolve("setgid"); Files.createDirectory(setgid)
    assert(new ProcessBuilder("chmod", "2775", setgid.toString).start().waitFor() == 0)
    def layout(fs: FileSystem, root: java.nio.file.Path): Seq[(String, Int)] = {
      val r = new Path(root.toUri)
      fs.create(new Path(r, "a/b/file.bin")).close()
      fs.create(new Path(r, "c/own.bin"), new FsPermission("640"), true, 4096,
        1.toShort, 1L << 20, null).close()
      fs.mkdirs(new Path(r, "d/e"))
      // create and mkdirs mask the sticky bit away; only setPermission sets it
      fs.mkdirs(new Path(r, "sticky"))
      fs.setPermission(new Path(r, "sticky"), new FsPermission(Integer.parseInt("1777", 8).toShort))
      fs.mkdirs(new Path(r, "plain"), new FsPermission("750"))
      fs.setPermission(new Path(r, "a/b/file.bin"), new FsPermission("604"))
      val under = setgid.resolve(root.getFileName.toString)
      fs.mkdirs(new Path(under.resolve("sub").toString))
      (Files.walk(root).iterator.asScala.toSeq ++ Files.walk(under).iterator.asScala.toSeq)
        .map(p => (p.toString.replace(root.toString, "R").replace(under.toString, "S"), mode(p)))
        .sorted
    }
    val want = layout(stock, base.resolve("stock"))
    val got = layout(forkFree, base.resolve("forkfree"))
    assert(got == want)
    // the fixture reaches every fallback: a sticky bit and an inherited setgid
    assert(want.exists { case (p, m) => p == "R/sticky" && (m & 0x200) != 0 }, want)
    assert(want.exists { case (p, m) => p == "S/sub" && (m & 0x400) != 0 }, want)
  }

  test("getFileStatus, getFileLinkStatus and listStatus match stock for a file, a directory, a symlink, a dangling symlink and a missing path") {
    val base = tempDirPath("graft_localfs_status")
    val file = base.resolve("file.txt"); Files.write(file, "x".getBytes("UTF-8"))
    val dir = base.resolve("dir"); Files.createDirectory(dir)
    Files.write(dir.resolve("inner"), "yy".getBytes("UTF-8"))
    val link = base.resolve("link"); Files.createSymbolicLink(link, file)
    val dangling = base.resolve("dangling")
    Files.createSymbolicLink(dangling, base.resolve("gone"))
    val missing = base.resolve("missing")
    for (p <- Seq(file, dir, link, dangling, missing);
         path <- Seq(new Path(p.toString), new Path(p.toUri))) {
      assert(describe(forkFree.getFileStatus(path)) == describe(stock.getFileStatus(path)),
        s"getFileStatus($path)")
      assert(describe(forkFree.getFileLinkStatus(path)) == describe(stock.getFileLinkStatus(path)),
        s"getFileLinkStatus($path)")
    }
    for (p <- Seq(file, dir, link, base)) {
      def listed(fs: FileSystem) = fs.listStatus(new Path(p.toUri)).toSeq
        .map(s => describe(s)).sortBy(_.toString)
      assert(listed(forkFree) == listed(stock), s"listStatus($p)")
    }
    assert(stock.getFileLinkStatus(new Path(link.toString)).isSymlink)
    assert(stock.getFileLinkStatus(new Path(dangling.toString)).isSymlink)
  }

  test("the session binds file: to the fork-free classes for FileSystem and FileContext; a stock binding is reported") {
    val conf = spark.sessionState.newHadoopConf()
    val local = URI.create("file:///")
    assert(FileSystem.get(local, conf).isInstanceOf[ForkFreeLocalFileSystem])
    assert(FileContext.getFileContext(local, conf).getDefaultFileSystem
      .isInstanceOf[ForkFreeLocalFs])
    val site = "graft_session.local_fs"
    val before = graft.observe.Fallbacks.count(site)
    GraftSession.get("4")
    assert(graft.observe.Fallbacks.count(site) == before, "the test session resolves stock classes")
    val stale = new Configuration(conf)
    stale.set("fs.AbstractFileSystem.file.impl", "org.apache.hadoop.fs.local.LocalFs")
    GraftSession.checkLocalFs(stale)
    assert(graft.observe.Fallbacks.count(site) == before + 1)
  }

  test("no process starts around a stateful micro-batch, a snapshot upsert, a knn append and a shingle append") {
    val ss = spark
    import ss.implicits._
    val base = tempDir("graft_localfs_nofork")
    val emb = spark.read.parquet(s"${sf()}/embeddings.parquet")
      .filter(col("vec_id") < 160)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
      .coalesce(1)
    Similarity.buildIndex(emb.filter(col("vec_id") < 120), "vec_id", "embedding",
      "quantized", s"$base/knn")
    val docs = spark.read.parquet(s"${sf()}/documents.parquet")
    graft.operators.Dedup.shingleIndex(docs.filter(col("doc_id") < 40), "doc_id", "text", 3)
      .write.parquet(s"$base/hist.parquet")
    docs.filter(col("doc_id") >= 40 && col("doc_id") < 60).write.parquet(s"$base/batch.parquet")
    def snapshotBatch(rows: Seq[(Long, Long, String)]) =
      spark.createDataFrame(rows.map { case (k, ver, v) => (k, k % 2, ver, v) })
        .toDF("k", "bucket", "ver", "v")
    graft.sinks.BatchSink.upsertSnapshot(spark, s"$base/snap",
      snapshotBatch(Seq((1L, 1L, "a"), (2L, 1L, "b"))), Seq("k"), Seq("ver"), Seq("bucket"))
    val input = MemoryStream[Long](ss, 2)
    val q = input.toDF().toDF("user_id").groupBy("user_id").count()
      .writeStream.format("memory").queryName("nofork_counts")
      .option("checkpointLocation", s"$base/ckpt").outputMode("update").start()
    try {
      input.addData(1L, 2L, 2L); q.processAllAvailable()
      // Spark's executor-metrics getter runs `getconf PAGESIZE` once per JVM,
      // at whichever heartbeat comes first: take that one-off up front
      Class.forName("org.apache.spark.executor.ProcfsMetricsGetter$")
        .getField("MODULE$").get(null)
      val started = processStarts {
        input.addData(2L, 3L); q.processAllAvailable()
        graft.sinks.BatchSink.upsertSnapshot(spark, s"$base/snap",
          snapshotBatch(Seq((1L, 2L, "a2"), (3L, 1L, "c"))), Seq("k"), Seq("ver"), Seq("bucket"))
        Similarity.appendIndex(emb.filter(col("vec_id") >= 120), "vec_id", "embedding",
          s"$base/knn")
        graft.pipeline.Interpreter.values(graft.pipeline.Interpreter.build(
          spark, PipelineSpec.fromJson(
            s"""{"id":"nofork","processingMode":"SIMPLE_STREAM",
               |"sourceTopic":{"name":"batch","keyClass":"java.lang.Long"},
               |"transform":[{"op":"shingle_index_append","column":"text",
               |  "idColumn":"doc_id","shingleSize":3,
               |  "historyPath":"$base/hist.parquet"}],
               |"outputTopic":{"enabled":true,"name":"nofork-out"}}""".stripMargin),
          new ParquetSourceResolver(base, TestdataCatalog))).collect()
      }
      assert(started.isEmpty, s"processes started: ${started.mkString("; ")}")
      assert(spark.table("nofork_counts").as[(Long, Long)].collect().contains((2L, 3L)))
    } finally q.stop()
  }

  /** Commands of every process the JVM started while `body` ran (JFR). */
  private def processStarts(body: => Unit): Seq[String] = {
    val rec = new jdk.jfr.Recording()
    rec.enable("jdk.ProcessStart").withStackTrace()
    rec.start()
    try body finally rec.stop()
    val out = tempDirPath("graft_localfs_jfr").resolve("starts.jfr")
    try {
      rec.dump(out)
      jdk.jfr.consumer.RecordingFile.readAllEvents(out).asScala.toSeq
        .filter(_.getEventType.getName == "jdk.ProcessStart")
        .map(e => e.getString("command") + " at " + e.getStackTrace.getFrames.asScala
          .take(12).map(f => s"${f.getMethod.getType.getName}.${f.getMethod.getName}")
          .mkString(" < "))
    } finally rec.close()
  }
}
