package graft.sinks

import com.fasterxml.jackson.databind.{DeserializationFeature, ObjectMapper}
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}

/** The one commit protocol every stored artifact shares (snapshot sink,
  * shingle history, knn index). Two primitives:
  *
  *  - a STAGED DIRECTORY SWAP for data that readers open directly as a
  *    plain parquet directory (snapshots): a rewrite is
  *    staged under `<path>.staging`, and [[install]] moves the live copy
  *    aside to `<path>.old` before renaming the staged copy in — per
  *    partition directory when the data is hive-partitioned. The live data
  *    is never deleted before its replacement exists, so every crash
  *    window leaves either `<path>` or its aside recoverable, and
  *    [[recover]] (run at the top of every writer) heals it;
  *  - a NUMBERED MANIFEST for artifact state the engine reads itself
  *    (knn index geometry, the shingle history's width and row count, and
  *    both artifacts' [[Generations]] fences):
  *    `<path>/_manifest/N.json`, written by the driver to a temp file and
  *    renamed into place, so a manifest is either absent or complete. The
  *    highest readable N is the committed state; older manifests are
  *    pruned after each commit. Bulky state written once per build
  *    (centroids, hyperplanes) goes in a [[writeSidecar]] file the
  *    manifest names, so later commits write scalars only.
  *
  * The appendable artifacts (knn postings, shingle history) build their
  * generation protocol on the manifest ([[Generations]]).
  *
  * Single-writer contract: one maintainer per artifact; nothing here
  * guards concurrent writers. The underscore-prefixed `_manifest`
  * directory is invisible to plain parquet reads of the artifact.
  */
object Commit {

  // ------------------------------------------------ staged directory swap

  /** Where a rewrite of `path` is staged before [[install]]. */
  def staging(path: String): String = path + ".staging"

  private def asideOf(cur: Path) = new Path(cur.toString + ".old")
  private def stagingOf(cur: Path) = new Path(staging(cur.toString))

  /** Heal an interrupted [[install]] at `cur` BEFORE reading it. A live
    * copy moved aside whose replacement never landed is restored —
    * wholesale, or per hive-partition leaf `depth` levels deep; an aside
    * left after a completed install is just the prior version and is
    * dropped, as is any staging leftover (never trusted: its write may
    * itself have been the casualty). A FLAT aside with `cur` absent is
    * restored wholesale at any depth — it is the only surviving copy, and
    * the caller's layout guard then refuses it with instructions. Returns
    * whether `cur` exists afterwards.
    */
  def recover(fs: FileSystem, cur: Path, depth: Int): Boolean = {
    val aside = asideOf(cur)
    var curExists = fs.exists(cur)
    if (fs.exists(aside)) {
      val rels = if (depth == 0) Nil else leafPartitionDirs(fs, aside, depth)
      if (!curExists && rels.isEmpty) {
        require(fs.rename(aside, cur), s"cannot restore $aside to $cur")
        curExists = true
      } else {
        rels.foreach { rel =>
          val target = new Path(cur, rel)
          if (!fs.exists(target)) {
            fs.mkdirs(target.getParent)
            require(fs.rename(new Path(aside, rel), target),
              s"cannot restore $aside/$rel to $target")
            curExists = true
          }
        }
        fs.delete(aside, true)
      }
    }
    val staged = stagingOf(cur)
    if (fs.exists(staged)) fs.delete(staged, true)
    curExists
  }

  /** Install the staged rewrite of `cur`: with `rels` empty (or `cur`
    * absent) the whole staged directory replaces `cur`; otherwise only
    * the listed partition leaves (relative `a=1/b=x` paths) are swapped,
    * each moved aside before its replacement is renamed in. Two renames
    * per unit, atomic per rename on HDFS-like filesystems. `retainAside`
    * keeps the replaced data under `<cur>.old` as a grace window for slow
    * readers; the next [[recover]] drops it.
    */
  def install(fs: FileSystem, cur: Path, rels: Seq[String],
      retainAside: Boolean): Unit = {
    val aside = asideOf(cur)
    val staged = stagingOf(cur)
    if (rels.isEmpty || !fs.exists(cur)) {
      if (fs.exists(cur)) require(fs.rename(cur, aside), s"cannot move $cur aside")
      require(fs.rename(staged, cur), s"cannot install $staged as $cur")
    } else {
      rels.foreach { rel =>
        val target = new Path(cur, rel)
        if (fs.exists(target)) {
          val asideDir = new Path(aside, rel)
          fs.mkdirs(asideDir.getParent)
          require(fs.rename(target, asideDir), s"cannot move $target aside")
        }
        fs.mkdirs(target.getParent)
        require(fs.rename(new Path(staged, rel), target),
          s"cannot install $staged/$rel as $target")
      }
      fs.delete(staged, true) // leftover _SUCCESS marker and empty dirs
    }
    if (!retainAside) fs.delete(aside, true)
  }

  /** Relative paths (`a=1/b=x`) of the hive-partition leaf directories
    * exactly `depth` levels under `root`; Nil when `root` is absent.
    */
  def leafPartitionDirs(fs: FileSystem, root: Path, depth: Int): Seq[String] = {
    def recurse(p: Path, d: Int, prefix: String): Seq[String] =
      if (d == 0) Seq(prefix)
      else fs.listStatus(p).toSeq
        .filter(s => s.isDirectory && s.getPath.getName.contains("="))
        .flatMap(s => recurse(s.getPath, d - 1,
          if (prefix.isEmpty) s.getPath.getName else s"$prefix/${s.getPath.getName}"))
    if (!fs.exists(root)) Nil else recurse(root, depth, "")
  }

  /** Drop a dead write job's scratch under `dir` before appending to it:
    * Hadoop's output committer keeps a killed job's committed task files
    * under `_temporary`, and the NEXT append job's commit would merge them
    * into the output (duplicated rows). Single-writer contract: no live
    * job owns it.
    */
  def clearScratch(fs: FileSystem, dir: Path): Unit = {
    fs.delete(new Path(dir, "_temporary"), true)
    ()
  }

  private def hidden(name: String) = name.startsWith("_") || name.startsWith(".")

  /** The data files under `dir` (recursive; hidden `_`/`.` files AND
    * directories skipped — the file set Spark's parquet reader sees); Nil
    * when `dir` is absent.
    */
  def dataFiles(fs: FileSystem, dir: Path): Seq[FileStatus] =
    if (!fs.exists(dir)) Nil
    else fs.listStatus(dir).toSeq.flatMap { st =>
      if (hidden(st.getPath.getName)) Nil
      else if (st.isDirectory) dataFiles(fs, st.getPath)
      else Seq(st)
    }

  /** Row count of a parquet directory from its FOOTERS — driver-side
    * metadata reads, parallel over files, no Spark job and no data scan.
    * Hidden (`_`/`.`) files AND directories are skipped, exactly the file
    * set Spark's parquet reader sees (`_manifest`, `_tombstones`,
    * `_temporary` are not data). -1 when `dir` is absent.
    */
  def footerRowCount(conf: Configuration, dir: Path): Long = {
    val fs = dir.getFileSystem(conf)
    if (!fs.exists(dir)) return -1L
    import scala.jdk.CollectionConverters._
    dataFiles(fs, dir).asJava.parallelStream().mapToLong { st =>
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(st, conf))
      try r.getRecordCount finally r.close()
    }.sum()
  }

  // ---------------------------------------------------- numbered manifest

  /** JSON codec for manifest bodies (case classes with Option fields). */
  val json: ObjectMapper = {
    val m = new ObjectMapper()
    m.registerModule(DefaultScalaModule)
    m.configure(DeserializationFeature.FAIL_ON_UNKNOWN_PROPERTIES, false)
    m
  }

  private val ManifestName = "(\\d+)\\.json".r

  /** The `_manifest` directory of an artifact rooted at `root`. */
  def manifestDir(root: Path): Path = new Path(root, "_manifest")

  private def listed(fs: FileSystem, dir: Path): Seq[FileStatus] =
    if (!fs.exists(dir)) Nil else fs.listStatus(dir).toSeq

  /** The numbered manifests in a listing, newest first. */
  private def numbered(files: Seq[FileStatus]): Seq[(Long, FileStatus)] =
    files.flatMap(st => st.getPath.getName match {
      case ManifestName(n) if st.isFile => Some((n.toLong, st))
      case _                           => None
    }).sortBy(-_._1)

  /** A manifest's listing signature (number:length:mtime): changes with
    * every commit, rebuilds included — the memo key for state derived
    * from the committed manifest.
    */
  private def sigOf(n: Long, st: FileStatus) =
    s"$n:${st.getLen}:${st.getModificationTime}"

  /** The newest manifest's signature ("absent" when there is none) — one
    * directory listing, no read.
    */
  def manifestSig(fs: FileSystem, root: Path): String =
    numbered(listed(fs, manifestDir(root))).headOption
      .fold("absent") { case (n, st) => sigOf(n, st) }

  /** The committed state: the highest-numbered manifest that parses as
    * `cls`, with its signature; None when no manifest is readable.
    */
  def readManifest[T](fs: FileSystem, root: Path, cls: Class[T]): Option[(String, T)] =
    numbered(listed(fs, manifestDir(root))).iterator.flatMap { case (n, st) =>
      scala.util.Try {
        val in = fs.open(st.getPath)
        try json.readValue(in: java.io.InputStream, cls) finally in.close()
      }.toOption.map(sigOf(n, st) -> _)
    }.nextOption()

  /** Commit `body` as the next manifest: write a temp file, rename it to
    * `N.json` (N = highest existing + 1), then prune older manifests and
    * stray temp files. A crash before the rename leaves the previous
    * manifest authoritative; after it, the new one. Returns the new
    * manifest's signature.
    */
  def writeManifest(fs: FileSystem, root: Path, body: AnyRef): String = {
    val dir = manifestDir(root)
    val before = listed(fs, dir)
    val existing = numbered(before)
    val n = existing.headOption.fold(0L)(_._1 + 1)
    val tmp = new Path(dir, s".$n.json.tmp")
    val out = fs.create(tmp, true)
    try json.writeValue(out: java.io.OutputStream, body) finally out.close()
    val dest = new Path(dir, s"$n.json")
    require(fs.rename(tmp, dest), s"cannot commit manifest $dest")
    (existing.map(_._2) ++ before.filter(_.getPath.getName.endsWith(".json.tmp")))
      .foreach(st => fs.delete(st.getPath, false))
    sigOf(n, fs.getFileStatus(dest))
  }

  /** Write bulky once-per-build state (a matrix of doubles) as the binary
    * sidecar `name` inside `_manifest`; the manifest committed after it
    * names the file. An unreferenced sidecar (a build killed before its
    * manifest) is invisible and goes with the next rebuild.
    */
  def writeSidecar(fs: FileSystem, root: Path, name: String,
      rows: Seq[Seq[Double]]): Unit = {
    val out = new java.io.DataOutputStream(new java.io.BufferedOutputStream(
      fs.create(new Path(manifestDir(root), name), true)))
    try {
      out.writeInt(rows.length)
      rows.foreach { r => out.writeInt(r.length); r.foreach(out.writeDouble) }
    } finally out.close()
  }

  def readSidecar(fs: FileSystem, root: Path, name: String): Seq[Seq[Double]] = {
    val in = new java.io.DataInputStream(new java.io.BufferedInputStream(
      fs.open(new Path(manifestDir(root), name))))
    try Seq.fill(in.readInt())(Seq.fill(in.readInt())(in.readDouble()))
    finally in.close()
  }
}
