package graft.operators

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.internal.Logging
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, StructField, StructType}

import graft.sinks.{Commit, Exec, Generations, Reads}

/** The stored shingle history ([[Dedup.shingleIndex]] rows: id, sh, n,
  * shingle_size) that `dedup_near historyPath` screens against, and its
  * maintenance verbs — on the generation protocol the knn index runs
  * ([[Generations]]):
  *
  *  - a history written as PLAIN parquet (the `shingle_index` op's sink,
  *    `Dedup.shingleIndex(...).write`) has no manifest. A screen reads it
  *    as it is — a plain read plus the distinct-width check — and writes
  *    nothing; the first maintenance verb ADOPTS it as generation 0 (two
  *    directory renames, `<p>` → `<p>.adopt` → `<p>/gen=0`, whatever the
  *    file count) and commits its first manifest;
  *  - a MAINTAINED history keeps rows under `<p>/gen=N/`, tombstones under
  *    `<p>/_tombstones/gen=N/` and `<p>/_manifest/N.json` with the width,
  *    the row count and the fence, so the screen's width check and the
  *    pending-retraction advisory are closed-form;
  *  - an entry of `<p>` the committed layout does not account for (a plain
  *    parquet append into a maintained history) is refused loudly at the
  *    next screen or verb, from one top-level listing — never read, never
  *    dropped.
  */
object ShingleHistory extends Logging {

  private val Columns = Seq("id", "sh", "n", "shingle_size")

  /** A maintained history's manifest body: the pinned width (0 = an empty
    * history, no width yet), the rows its committed generations hold
    * (retracted rows included until a compact drops them), and the fence.
    */
  case class Manifest(shingle_size: Int, history_rows: Long,
      fence: Generations.Fence)

  /** The older engine's pending-retraction side file (plain ids). */
  private val LegacyTombs = "_tombstones.parquet"

  private def layout(p: String) = Generations.Layout(p, s"$p/_tombstones")

  private def fsOf(spark: SparkSession, p: String) =
    new Path(p).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def hidden(name: String) = name.startsWith("_") || name.startsWith(".")

  /** The committed manifest; None for a plain history (a width pin written
    * by an older engine carries no fence and reads as None).
    */
  private def manifest(fs: FileSystem, p: String): Option[Manifest] =
    Commit.readManifest(fs, new Path(p), classOf[Manifest]).map(_._2)
      .filter(_.fence != null)

  /** (active retracted ids, history rows) of a maintained history; None for
    * a plain one. One listing and one small manifest read, no Spark job.
    */
  def pendingRetractions(spark: SparkSession, p: String): Option[(Long, Long)] =
    manifest(fsOf(spark, p), p).map(m => (m.fence.tomb_rows, m.history_rows))

  /** A plain history's preflight: the shingle-frame columns, and ONE
    * width over the DISTINCT values (a mis-widthed append would hide behind
    * a sampled row; cast-tolerant, so a hand-built BIGINT or null width is
    * this config error, not a ClassCastException). 0 = an empty history.
    */
  private def plainWidth(df: DataFrame, p: String, where: String): Int = {
    val missing = Columns.filterNot(df.columns.contains)
    require(missing.isEmpty,
      s"[$where] historyPath '$p' is not a shingle_index artifact: " +
        s"missing column(s) ${missing.mkString(", ")} (found: " +
        s"${df.columns.mkString(", ")}). Build the history artifact with " +
        "the shingle_index op (or Dedup.shingleIndex) at publish time")
    val widths = Exec.run(df)(_.select(col("shingle_size").cast("int"))
      .distinct().limit(3).collect().toSeq)
      .map(r => if (r.isNullAt(0)) None else Some(r.getInt(0)))
    require(!widths.contains(None),
      s"[$where] historyPath '$p' carries null (or non-numeric) " +
        "shingle_size values — the artifact's width is unreadable; " +
        "rebuild it with the shingle_index op")
    val distinct = widths.flatten.sorted
    require(distinct.size <= 1,
      s"[$where] historyPath '$p' mixes shingle widths " +
        s"(${distinct.mkString(", ")}) — an appended publish used a " +
        "different shingleSize, and its rows can never collide with the " +
        "batch's shingles (they would silently screen as novel). Rebuild " +
        "the artifact at one width")
    distinct.headOption.getOrElse(0)
  }

  private def requireWidth(stored: Int, declared: Int, p: String,
      where: String): Unit =
    require(stored == 0 || stored == declared,
      s"[$where] declared shingleSize=$declared does not match " +
        s"historyPath '$p' (built with shingle_size=$stored) — declare " +
        s"shingleSize=$stored, or rebuild the artifact with shingle_index " +
        "(mismatched shingle widths never collide: the screen would " +
        "silently pass everything as novel)")

  /** Refuse what a maintained history's committed layout does not account
    * for. Hidden entries (`_manifest`, `_tombstones`, `_SUCCESS`, a killed
    * job's `_temporary`) and `gen=N` directories are the layout; anything
    * else was written outside the verbs.
    */
  private def requireAccounted(fs: FileSystem, p: String, where: String): Unit =
    fs.listStatus(new Path(p)).foreach { st =>
      val n = st.getPath.getName
      require(hidden(n) || (st.isDirectory && n.matches("gen=\\d+")),
        s"[$where] historyPath '$p' holds ${st.getPath}, which its committed " +
          "layout does not account for (rows live in the gen=N directories " +
          "the maintenance verbs write) — it is neither read nor dropped. " +
          "Move it out of the history and publish its rows with " +
          "shingle_index_append")
    }

  /** The history rows a screen sees (id, sh, n, shingle_size): a plain
    * history as it is, after the distinct-width check; a maintained one
    * gen-fenced and tombstone-screened ([[Generations.live]]). Writes
    * nothing.
    */
  def screenRows(spark: SparkSession, p: String, declared: Int,
      where: String): DataFrame = {
    val fs = fsOf(spark, p)
    manifest(fs, p) match {
      case Some(m) =>
        requireAccounted(fs, p, where)
        requireWidth(m.shingle_size, declared, p, where)
        Generations.live(spark, layout(p), m.fence)
      case None =>
        // (`gen` only appears inside a killed adoption's window)
        val df = Reads.parquet(spark, p).drop("gen")
        requireWidth(plainWidth(df, p, where), declared, p, where)
        require(Seq(LegacyTombs, s"gen=0/$LegacyTombs")
            .forall(t => !fs.exists(new Path(p, t))),
          s"[$where] historyPath '$p' carries pending retractions in the " +
            s"older $LegacyTombs format — run a shingle maintenance verb on " +
            "it once (shingle_index_compact drops the retracted rows; " +
            "shingle_index_append/retract carry the set over) before " +
            "screening")
        df
    }
  }

  private def aside(p: String) = new Path(p + ".adopt")

  /** Roll a killed adoption forward: a plain history moved aside (the
    * only copy) goes into `gen=0`.
    */
  private[graft] def recover(fs: FileSystem, p: String): Unit =
    if (fs.exists(aside(p))) {
      fs.mkdirs(new Path(p))
      require(fs.rename(aside(p), new Path(p, "gen=0")),
        s"cannot move ${aside(p)} into $p/gen=0")
    }

  /** Every verb's first step: the committed manifest, ADOPTING a plain
    * history as generation 0 first — the older format's `_tombstones.parquet`
    * is carried over as tombstone generation 0 (it kills every adopted row
    * of its ids), never dropped. A kill anywhere in the adoption is rolled
    * forward by the next verb: [[recover]], then a partial carry-over is
    * swept and redone.
    */
  private def open(spark: SparkSession, p: String,
      where: String): (FileSystem, Manifest) = {
    val fs = fsOf(spark, p)
    val root = new Path(p)
    val gen0 = new Path(root, "gen=0")
    recover(fs, p)
    val l = layout(p)
    val m = manifest(fs, p) match {
      case Some(m) => m.copy(fence = Generations.schemed(spark, l, m.fence))
      case None =>
        val moved = fs.exists(gen0)
        val plain = Reads.parquet(spark, if (moved) gen0.toString else p)
        val width = plainWidth(plain, p, where)
        if (!moved) {
          require(fs.rename(root, aside(p)), s"cannot move $root aside")
          recover(fs, p)
        }
        // the adopted rows read back as they were, plus the int `gen`
        val base = Generations.Fence(schema = Some(Reads.readBack(
          StructType(plain.schema.filterNot(_.name == "gen") :+
            StructField("gen", IntegerType)), Seq("gen")).json))
        Generations.sweep(fs, l, base)
        val legacy = new Path(gen0, LegacyTombs)
        val legacyParts =
          if (!fs.exists(legacy)) Nil
          else fs.listStatus(legacy).toSeq.map(_.getPath)
            .filter(f => !hidden(f.getName) && f.getName.endsWith(".parquet"))
        val fence =
          if (legacyParts.isEmpty) base
          else Generations.tombstone(fs, l, base,
            Generations.live(spark, l, base).select("id").join(
              Reads.parquet(spark, legacyParts.map(_.toString)).select("id"),
              Seq("id"), "left_semi"))._3
        val adopted = Manifest(width,
          Commit.footerRowCount(spark.sessionState.newHadoopConf(), gen0), fence)
        Commit.writeManifest(fs, root, adopted)
        // the older format's side files are committed state now, or stale
        Seq(legacy, Commit.manifestDir(gen0)).foreach(fs.delete(_, true))
        logInfo(s"[$where] adopted the plain shingle history at $p as " +
          s"generation 0 (${adopted.history_rows} rows, width $width, " +
          s"${fence.tomb_rows} carried-over retractions)")
        adopted
    }
    requireAccounted(fs, p, where)
    (fs, m)
  }

  /** shingle_index_append: the batch's rows as ONE new generation, written,
    * counted and content-signed in one job. A retry of the last committed
    * batch and an empty batch commit nothing. Returns (appended docs,
    * history rows).
    */
  def append(docs: DataFrame, idCol: String, textCol: String, width: Int,
      p: String, where: String): (Long, Long) = {
    val (fs, m) = open(docs.sparkSession, p, where)
    requireWidth(m.shingle_size, width, p, where)
    val l = layout(p)
    Generations.sweep(fs, l, m.fence)
    val obs = Observation()
    Exec.run(docs)(d => Generations.signed(Dedup.shingleIndex(d, idCol, textCol, width), obs)
      .withColumn("gen", lit(m.fence.generation + 1))
      .write.mode("append").partitionBy("gen").parquet(p))
    val (n, sig) = Generations.signature(obs)
    m.fence.appended(n, sig).filter(_ => n > 0) match {
      case Some(f) =>
        val rows = m.history_rows + n
        Commit.writeManifest(fs, new Path(p), Manifest(width, rows, f))
        (n, rows)
      case None =>
        // retract what a retry of the committed batch just wrote again
        Generations.sweep(fs, l, m.fence)
        (0L, m.history_rows)
    }
  }

  /** shingle_index_retract: ONE tombstone generation of the batch ids that
    * still have live rows; a committed retract's retry matches nothing and
    * commits nothing. Returns (newly retracted docs, active retracted docs,
    * history rows).
    */
  def retract(ids: DataFrame, idCol: String, p: String,
      where: String): (Long, Long, Long) = {
    val (fs, m) = open(ids.sparkSession, p, where)
    val l = layout(p)
    Generations.sweep(fs, l, m.fence)
    val live = Generations.live(ids.sparkSession, l, m.fence)
    val batch = ids.select(col(idCol).cast(live.schema("id").dataType).as("id"))
    val (_, newly, f) = Generations.tombstone(fs, l, m.fence,
      live.select("id").join(batch, Seq("id"), "left_semi"))
    if (newly > 0) Commit.writeManifest(fs, new Path(p), m.copy(fence = f))
    (newly, f.tomb_rows, m.history_rows)
  }

  /** shingle_index_compact: fold the live generations into one
    * ([[Generations.fold]]) — range-partitioned and sorted by id, 128 MB a
    * file — physically dropping retracted rows and clearing the
    * tombstones. A single generation with no retractions and no more files
    * than it needs is left as it is. Returns (width, history rows, data
    * files before, data files after).
    */
  def compact(spark: SparkSession, p: String, retainFolded: Boolean,
      where: String): (Int, Long, Long, Long) = {
    val (fs, m) = open(spark, p, where)
    val f = m.fence
    def files(g: Int) = Commit.dataFiles(fs, new Path(p, s"gen=$g"))
    val before = (f.base_gen to f.generation).flatMap(files)
    val needed = math.max(1L,
      (before.map(_.getLen).sum + (128L << 20) - 1) / (128L << 20))
    if (f.base_gen == f.generation && !f.tombsActive && before.size <= needed) {
      Generations.sweep(fs, layout(p), f)
      return (m.shingle_size, m.history_rows, before.size, before.size)
    }
    val rows = Generations.fold(spark, fs, layout(p), f, "", Columns,
        retainFolded) { (live, g) =>
      // sorted by (gen, id): the partitioned writer's required ordering is
      // met, so per-doc row groups stay contiguous
      live.repartitionByRange(needed.toInt, col("id"))
        .select(g +: Columns.map(col): _*).sortWithinPartitions("gen", "id")
        .write.mode("append").partitionBy("gen").parquet(p)
    } { (folded, rows) =>
      Commit.writeManifest(fs, new Path(p), Manifest(m.shingle_size, rows, folded))
    }
    (m.shingle_size, rows, before.size, files(f.generation + 1).size)
  }
}
