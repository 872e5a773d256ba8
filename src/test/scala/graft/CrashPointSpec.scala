package graft

import java.util.concurrent.atomic.AtomicLong

import org.apache.hadoop.fs.{FileUtil, Path}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.config.TransformOp
import graft.operators.Similarity

/** The local filesystem under the `crash://` scheme, dying at a chosen
  * point: once [[CrashFS.arm]]ed with n, the first n create/rename/delete
  * calls succeed and every later one throws — a process killed right
  * after its n-th filesystem mutation, Spark's task-side writes included.
  */
class CrashFS extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("crash:///")
  override def create(f: Path, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long,
      progress: org.apache.hadoop.util.Progressable) = {
    CrashFS.tick(); super.create(f, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def create(f: Path, permission: org.apache.hadoop.fs.permission.FsPermission,
      overwrite: Boolean, bufferSize: Int, replication: Short, blockSize: Long,
      progress: org.apache.hadoop.util.Progressable) = {
    CrashFS.tick()
    super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def rename(src: Path, dst: Path): Boolean = {
    CrashFS.tick(); super.rename(src, dst)
  }
  override def delete(p: Path, recursive: Boolean): Boolean = {
    CrashFS.tick(); super.delete(p, recursive)
  }
  // plain statuses: the local ones load permissions lazily through a
  // file: URI, which this scheme's paths are not
  private def plain(st: org.apache.hadoop.fs.FileStatus) =
    new org.apache.hadoop.fs.FileStatus(st.getLen, st.isDirectory,
      st.getReplication, st.getBlockSize, st.getModificationTime, st.getPath)
  override def getFileStatus(f: Path): org.apache.hadoop.fs.FileStatus =
    plain(super.getFileStatus(f))
  override def listStatus(f: Path): Array[org.apache.hadoop.fs.FileStatus] =
    super.listStatus(f).map(plain)
}

object CrashFS {
  private val calls = new AtomicLong(0)
  @volatile private var limit = Long.MaxValue
  def tick(): Unit =
    if (calls.incrementAndGet() > limit) throw new java.io.IOException("crash point")
  /** Allow `n` more mutating calls, then die. */
  def arm(n: Long): Unit = { calls.set(0); limit = n }
  /** Back to a healthy filesystem; returns the calls made since [[arm]]. */
  def disarm(): Long = { limit = Long.MaxValue; calls.get() }
}

/** One table-driven crash-point check for every stored-artifact write
  * verb: run the verb once to count its filesystem mutations, then for
  * EVERY prefix of them, kill the verb right after it, read the artifact
  * (it must equal the pre-verb or the post-verb state), retry the verb on
  * the plain filesystem, and require the post-verb state. A verb that
  * swaps a partitioned store one partition at a time is checked per
  * partition: each must read as before or after, and none may vanish.
  */
class CrashPointSpec extends SparkSuite {
  spark.sparkContext.hadoopConfiguration.set("fs.crash.impl", classOf[CrashFS].getName)

  private def fs = new Path("/").getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** A verb under test: `setup` builds the pre-verb artifact at a plain
    * path; `verb` runs on a path (plain or crash://); `observe` reads a
    * plain path's logical state (healing it first where the artifact's
    * documented readers do). With `perLeaf`, `observe` returns a map from
    * partition directory to that partition's state.
    */
  private case class Case(name: String, setup: String => Unit,
      verb: String => Unit, observe: String => Any, perLeaf: Boolean = false)

  private def beforeOrAfter(c: Case, killed: Any, pre: Any, post: Any): Boolean =
    if (!c.perLeaf) killed == pre || killed == post
    else {
      def leaves(a: Any) = a.asInstanceOf[Map[String, Any]]
      val (k, a, b) = (leaves(killed), leaves(pre), leaves(post))
      a.keySet.subsetOf(k.keySet) && k.forall { case (leaf, st) =>
        a.get(leaf).contains(st) || b.get(leaf).contains(st) }
    }

  private def copy(src: String, dst: String): Unit = {
    fs.delete(new Path(dst), true)
    assert(FileUtil.copy(fs, new Path(src), fs, new Path(dst), false,
      spark.sparkContext.hadoopConfiguration))
  }

  private def awaitIdle(): Unit = {
    val tracker = spark.sparkContext.statusTracker
    while (tracker.getActiveJobIds.nonEmpty || tracker.getActiveStageIds.nonEmpty)
      Thread.sleep(20)
  }

  private def check(c: Case): Unit = {
    val base = tempDir(s"graft_crash_${c.name}")
    val template = s"$base/template"
    c.setup(template)
    val pre = c.observe(template)
    copy(template, s"$base/clean")
    CrashFS.arm(Long.MaxValue)
    c.verb(s"crash://$base/clean")
    val total = CrashFS.disarm()
    val post = c.observe(s"$base/clean")
    assert(pre != post, s"${c.name}: fixture must change the artifact")
    assert(total > 0, s"${c.name}: the verb made no filesystem mutation")
    // a kill inside best-effort code (the width pin) is swallowed, not
    // fatal: the verb then completes without it, which the checks cover
    val deaths = (0L until total).count { n =>
      val work = s"$base/w$n"
      copy(template, work)
      CrashFS.arm(n)
      val died = try { c.verb(s"crash://$work"); false }
        catch { case scala.util.control.NonFatal(_) => true }
      CrashFS.disarm()
      awaitIdle()
      val killed = c.observe(work)
      assert(beforeOrAfter(c, killed, pre, post),
        s"${c.name}: killed after $n of $total mutations, the artifact " +
          s"reads as neither the pre- nor the post-verb state: $killed")
      c.verb(work)
      assert(c.observe(work) == post,
        s"${c.name}: the retry after a kill at $n of $total mutations " +
          "did not converge to the post-verb state")
      fs.delete(new Path(work), true)
      died
    }
    assert(deaths > 0, s"${c.name}: no kill point was fatal")
  }

  private lazy val emb = spark.read.parquet(s"${sf()}/embeddings.parquet")
    .filter(col("vec_id") < 160)
    .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
    .coalesce(1)
  private lazy val queries = emb.filter(col("vec_id") < 3)

  private def knnState(idx: String) = {
    val meta = Similarity.readIndexMeta(spark, idx)
    (Similarity.indexedTopK(queries, "vec_id", "embedding", 10, idx)
        .select("query_id", "rank", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet,
      meta.n_rows, Similarity.livePostings(spark, idx, meta).count())
  }

  test("knn append, delete and compact: a kill after ANY filesystem mutation reads as before or after, and the retry converges") {
    val oldRows = emb.filter(col("vec_id") < 120)
    val newRows = emb.filter(col("vec_id") >= 120)
    check(Case("knn_append",
      idx => Similarity.buildIndex(oldRows, "vec_id", "embedding", "quantized", idx),
      idx => Similarity.appendIndex(newRows, "vec_id", "embedding", idx),
      knnState))
    check(Case("knn_delete",
      idx => Similarity.buildIndex(emb, "vec_id", "embedding", "quantized", idx),
      idx => Similarity.deleteIndex(emb.filter(col("vec_id").between(3, 40)),
        "vec_id", idx),
      knnState))
    check(Case("knn_compact",
      idx => {
        Similarity.buildIndex(oldRows, "vec_id", "embedding", "quantized", idx)
        Similarity.appendIndex(newRows, "vec_id", "embedding", idx)
        Similarity.deleteIndex(emb.filter(col("vec_id").between(3, 40)), "vec_id", idx)
      },
      idx => Similarity.compactIndex(spark, idx),
      // compaction is search-invariant: its state is the committed layout
      idx => (knnState(idx), Similarity.readIndexMeta(spark, idx).generation)))
  }

  private lazy val docs = spark.read.parquet(s"${sf()}/documents.parquet")
    .filter(col("doc_id") < 60).coalesce(1)

  private def shingleVerb(op: String => TransformOp, df: DataFrame = docs) =
    (hist: String) => {
      graft.pipeline.Interpreter.applyTransform(df, op(hist), None, "crash").collect()
      ()
    }
  private def append(hist: String) = TransformOp.ShingleIndexAppend(
    column = "text", idColumn = "doc_id", shingleSize = 3, historyPath = hist)
  private def retract(hist: String) =
    TransformOp.ShingleIndexRetract(idColumn = "doc_id", historyPath = hist)
  private def compact(hist: String) = TransformOp.ShingleIndexCompact(historyPath = hist)

  /** A shingle history's logical state: its committed manifest and the ids
    * a screen sees — for a plain history, its rows minus the older format's
    * pending retractions. A killed adoption is rolled forward first, as
    * every verb does.
    */
  private def historyState(hist: String): Any = {
    graft.operators.ShingleHistory.recover(fs, hist)
    val root = new Path(hist)
    val m = graft.sinks.Commit.readManifest(fs, root,
      classOf[graft.operators.ShingleHistory.Manifest]).map(_._2).filter(_.fence != null)
    val rows =
      if (m.isDefined) graft.operators.ShingleHistory.screenRows(spark, hist, 3, "crash")
      else {
        val gone = Seq(s"$hist/_tombstones.parquet", s"$hist/gen=0/_tombstones.parquet")
          .filter(t => fs.exists(new Path(t)))
          .map(t => spark.read.parquet(s"$t/*.parquet"))
        gone.foldLeft(spark.read.parquet(hist))(_.join(_, Seq("id"), "left_anti"))
      }
    (m, rows.select("id").collect().map(_.getLong(0)).sorted.toSeq)
  }

  private def plainHistory(hist: String, upTo: Long = 60L): Unit =
    graft.operators.Dedup.shingleIndex(docs.filter(col("doc_id") < upTo),
      "doc_id", "text", 3).write.parquet(hist)

  test("shingle append, retract and adoption: a kill after ANY filesystem mutation reads as before or after, and the retry converges") {
    // adoption alone (a retraction matching nothing) of a plain history
    // carrying the older format's retractions
    check(Case("shingle_adopt",
      hist => {
        plainHistory(hist)
        docs.filter(col("doc_id") % 4 === 0).select(col("doc_id").as("id"))
          .write.parquet(s"$hist/_tombstones.parquet")
      },
      shingleVerb(retract, docs.filter(col("doc_id") < 0)),
      historyState))
    check(Case("shingle_append",
      hist => { plainHistory(hist, 40L); shingleVerb(compact)(hist) },
      shingleVerb(append, docs.filter(col("doc_id") >= 40)),
      historyState))
    check(Case("shingle_retract",
      hist => { plainHistory(hist); shingleVerb(compact)(hist) },
      shingleVerb(retract, docs.filter(col("doc_id") % 4 === 0)),
      historyState))
  }

  /** The staged-swap artifacts' readers heal first (Commit.recover is what
    * every writer runs before reading); `depth` is the partition depth.
    */
  private def healed(p: String, depth: Int): Path = {
    graft.sinks.Commit.recover(fs, new Path(p), depth)
    new Path(p)
  }

  test("shingle compact and flat snapshot upsert: a kill after ANY filesystem mutation recovers to before or after, and the retry converges") {
    check(Case("shingle_compact",
      hist => {
        plainHistory(hist, 40L)
        shingleVerb(append, docs.filter(col("doc_id") >= 40))(hist)
        shingleVerb(retract, docs.filter(col("doc_id") % 4 === 0))(hist)
      },
      shingleVerb(compact),
      historyState))

    def batch(rows: Seq[(Long, Long, String)]): DataFrame =
      spark.createDataFrame(rows).toDF("k", "ver", "v").coalesce(1)
    check(Case("snapshot_upsert",
      snap => graft.sinks.BatchSink.upsertSnapshot(spark, snap,
        batch((1L to 20L).map(k => (k, 1L, s"a$k"))), Seq("k"), Seq("ver")),
      snap => graft.sinks.BatchSink.upsertSnapshot(spark, snap,
        batch(Seq((3L, 2L, "b3"), (7L, 0L, "stale"), (30L, 1L, "new"))),
        Seq("k"), Seq("ver")),
      snap => {
        healed(snap, 0)
        spark.read.parquet(snap).collect()
          .map(r => (r.getLong(0), r.getString(2))).sorted.toSeq
      }))
  }
  test("partitioned snapshot upsert and snapshot compaction: a kill after ANY filesystem mutation recovers to before or after, and the retry converges") {
    def rows(p: String) = spark.read.parquet(p).collect()
      .map(r => (r.getAs[Long]("k"), r.getAs[String]("v"))).sorted.toSeq
    // a partitioned store's state per partition directory: its rows, and
    // with `files` its data-file count (compaction changes no row)
    def partitions(files: Boolean)(p: String): Any = {
      val root = healed(p, 1)
      graft.sinks.Commit.leafPartitionDirs(fs, root, 1).map { rel =>
        rel -> (rows(s"$p/$rel"),
          if (files) graft.sinks.Commit.dataFiles(fs, new Path(root, rel)).size else 0)
      }.toMap
    }
    def bucketed(rows: Seq[(Long, Long, String)]): DataFrame =
      spark.createDataFrame(rows.map { case (k, ver, v) => (k, k % 4, ver, v) })
        .toDF("k", "bucket", "ver", "v").coalesce(1)
    // the delta touches two stored buckets and creates a third
    check(Case("snapshot_upsert_partitioned",
      snap => graft.sinks.BatchSink.upsertSnapshot(spark, snap,
        bucketed((0L until 12L).filter(_ % 4 != 3).map(k => (k, 1L, s"a$k"))),
        Seq("k"), Seq("ver"), Seq("bucket")),
      snap => graft.sinks.BatchSink.upsertSnapshot(spark, snap,
        bucketed(Seq((1L, 2L, "b1"), (4L, 0L, "stale"), (8L, 2L, "b8"),
          (3L, 1L, "new"))),
        Seq("k"), Seq("ver"), Seq("bucket")),
      partitions(files = false), perLeaf = true))
    // flat compaction with a key sort: its one swap covers every window —
    // a torn staging write, a kill between the renames, a stale aside
    // beside the installed store
    check(Case("snapshot_compact_flat",
      snap => spark.createDataFrame((1L to 40L).map(k => (k, 1L, s"v$k")))
        .toDF("k", "ver", "v").repartition(4).write.parquet(snap),
      snap => graft.sinks.BatchSink.compactSnapshot(spark, snap, sortCols = Seq("k")),
      snap => {
        val root = healed(snap, 0)
        (rows(snap), graft.sinks.Commit.dataFiles(fs, root).size)
      }))
    // partitioned z-order compaction: two fragmented buckets swapped one at
    // a time (a kill between them leaves one compacted), one healthy bucket
    check(Case("snapshot_compact_partitioned",
      snap => {
        val frag = (0L until 24L).filter(_ % 3 != 0).map(k => (k, k % 3, k * 7 % 24, s"v$k"))
        spark.createDataFrame(frag).toDF("k", "bucket", "u", "v").repartition(3)
          .write.partitionBy("bucket").parquet(snap)
        spark.createDataFrame((0L until 24L).filter(_ % 3 == 0).map(k => (k, k * 7 % 24, s"v$k")))
          .toDF("k", "u", "v").coalesce(1).write.parquet(s"$snap/bucket=0")
      },
      snap => graft.sinks.BatchSink.compactSnapshot(spark, snap, Seq("bucket"),
        zOrderCols = Seq("k", "u")),
      partitions(files = true), perLeaf = true))
  }
}
