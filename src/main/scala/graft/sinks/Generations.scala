package graft.sinks

import com.fasterxml.jackson.databind.annotation.JsonDeserialize
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.internal.Logging
import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, StructField, StructType}

/** The generation protocol of every APPENDABLE stored artifact (the knn
  * index's postings, the shingle history) — the reference's compacted-topic
  * model (last write wins, a tombstone deletes, compaction folds) kept as
  * immutable per-batch deltas under a manifest fence, with idempotent
  * replay (the D-Streams recovery model):
  *
  *  - rows live under `data/gen=N/`, tombstones `(id, upto)` under
  *    `tombs/gen=N/`; the artifact's [[Commit]] manifest carries the
  *    [[Fence]];
  *  - a reader ([[live]]) sees data generations `[base_gen, generation]`
  *    minus the rows an ACTIVE tombstone generation `[tomb_base,
  *    tomb_gen]` kills; a tombstone kills only rows with `gen <= upto`
  *    (the data generation committed when it was written), so an id
  *    published again after its deletion is live;
  *  - a verb writes its generation ABOVE the fence and commits by writing
  *    the next manifest: a kill before the manifest rename leaves an
  *    invisible orphan, which [[sweep]] (every verb's first step) deletes;
  *  - an append records its batch's content signature (`batch_sig`), so a
  *    retry of the last committed batch no-ops ([[Fence.appended]]);
  *  - [[fold]] copies the live rows into one new generation and commits
  *    `generation = base_gen =` that generation with the tombstones
  *    cleared; the folded directories go after the commit.
  *
  * Single-writer contract, as [[Commit]].
  */
object Generations extends Logging {

  /** The committed fence of a generation-fenced artifact. The field names
    * are the knn manifest's (`AnnIndexMeta` carries them flat).
    */
  case class Fence(generation: Int = 0, base_gen: Int = 0,
      tomb_gen: Int = -1, tomb_base: Int = 0, tomb_rows: Long = 0L,
      @JsonDeserialize(contentAs = classOf[java.lang.Long])
      batch_sig: Option[Long] = None,
      // the data generations' read schema (Spark JSON, `gen` included) —
      // what lets [[live]] read without an inference job. None on a
      // manifest written before the key existed: [[schemed]] infers it
      schema: Option[String] = None) {
    def tombsActive: Boolean = tomb_gen >= tomb_base

    /** The fence after appending a batch of `n` rows with signature `sig`
      * as generation + 1; None when it is a retry of the last committed
      * append. (Two deliberate consecutive appends of a bit-identical id
      * set read as a retry by design — give rows fresh ids.) An empty
      * append keeps the previous signature, so the retry identity of the
      * last REAL batch survives it.
      */
    def appended(n: Long, sig: Long): Option[Fence] =
      if (n > 0 && batch_sig.contains(sig)) None
      else Some(copy(generation = generation + 1,
        batch_sig = if (n > 0) Some(sig) else batch_sig))
  }

  /** Where an artifact keeps its data and tombstone generations. */
  case class Layout(data: String, tombs: String)

  /** Row bar under which the active tombstone set is BROADCAST into the
    * anti-join (map-side — the right plan for ordinary takedown lists);
    * above it the screen is a plain shuffle anti-join, so a mass takedown
    * between compactions costs one exchange instead of an unbounded
    * broadcast on every read. 1M (id, upto) rows ≈ 16 MB serialized.
    * Query-time-overridable (a plan-shape knob, not artifact state) via
    * `spark.graft.knn.tombBroadcastMaxRows`, for every generation-fenced
    * artifact.
    */
  private val TombBroadcastMaxRows = 1_000_000L

  private val GenDir = "gen=(\\d+)".r

  /** Observation metric read with a zero-default for the AQE empty-prune
    * window: when a runtime stage is proven EMPTY, AQE's empty-relation
    * propagation can replace the plan subtree holding the CollectMetrics
    * node, so the observation's metrics never surface. That prune fires
    * only when zero rows flowed through the observed point — exactly what
    * the default encodes. Every default taken is still logged and counted
    * (`Fallbacks`, site `generations.observed_or`) so a metric lost any
    * other way cannot pass as an empty answer.
    */
  def observedOr[T](obs: Observation, key: String, default: T): T =
    obs.get.get(key).fold {
      graft.observe.Fallbacks.record("generations.observed_or",
        s"observation metric '$key' did not surface; using $default")
      default
    }(_.asInstanceOf[T])

  /** Generations `[lo, hi]` of `dir` under `schema` (`gen` included): one
    * listing, then the committed `gen=N` directories are read by name, so
    * an underscore-named root never meets Spark's hidden-path filter (and
    * its "All paths were ignored" WARN) and orphans are never listed.
    */
  private def gens(spark: SparkSession, dir: String, lo: Int, hi: Int,
      schema: StructType): DataFrame = {
    val paths = genDirs(spark, dir, lo, hi)
    if (paths.isEmpty)
      Reads.known(spark, schema, Seq(dir)).filter(col("gen") >= lo && col("gen") <= hi)
    else Reads.known(spark, schema, paths, Map("basePath" -> dir))
  }

  private def genDirs(spark: SparkSession, dir: String, lo: Int, hi: Int): Seq[String] = {
    val root = new Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    (if (fs.exists(root)) fs.listStatus(root).toSeq else Nil)
      .map(_.getPath).filter(_.getName match {
        case GenDir(n) => n.toInt >= lo && n.toInt <= hi
        case _         => false
      }).map(_.toString)
  }

  /** Artifacts whose schema-less manifest has been reported once. */
  private val inferredWarned = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** `f` with its data schema filled in. A manifest written before the
    * schema key existed infers it from the committed generations — as the
    * reads always did, counted (`Fallbacks`, site `reads.schema_inferred`;
    * one WARN per artifact) — and the verb committing the returned fence
    * records it.
    */
  def schemed(spark: SparkSession, l: Layout, f: Fence): Fence =
    if (f.schema.isDefined) f
    else {
      graft.observe.Fallbacks.record("reads.schema_inferred",
        s"the manifest of ${l.data} records no data schema: inferring it " +
          "with a Spark job, as before, until the artifact's next commit records it",
        warn = inferredWarned.add(l.data))
      val paths = genDirs(spark, l.data, f.base_gen, f.generation)
      val df =
        if (paths.isEmpty) Reads.parquet(spark, l.data)
        else Reads.parquet(spark, paths, Map("basePath" -> l.data))
      f.copy(schema = Some(df.schema.json))
    }

  /** The read schema of the data generations (`gen` included). */
  def dataSchema(spark: SparkSession, l: Layout, f: Fence): StructType =
    Reads.fromJson(schemed(spark, l, f).schema.get)

  /** The tombstone generations' read schema: [[tombstone]] writes the
    * data's `id` and an int `upto`, partitioned by `gen`.
    */
  private[graft] def tombSchema(data: StructType): StructType =
    Reads.readBack(StructType(Seq(data("id"),
      StructField("upto", IntegerType), StructField("gen", IntegerType))), Seq("gen"))

  /** The rows a reader may see: gen-fenced to the committed range and
    * anti-joined against the ACTIVE tombstone set (broadcast below the
    * [[TombBroadcastMaxRows]] bar, read from the fence's `tomb_rows` — no
    * probe job), both read under the fence's schema. The `gen` column is
    * dropped on the way out.
    */
  def live(spark: SparkSession, l: Layout, f: Fence): DataFrame = {
    val schema = dataSchema(spark, l, f)
    val fenced = gens(spark, l.data, f.base_gen, f.generation, schema)
    val screened =
      if (!f.tombsActive) fenced
      else {
        val bar = spark.conf.getOption("spark.graft.knn.tombBroadcastMaxRows")
          .map(_.toLong).getOrElse(TombBroadcastMaxRows)
        val tombs0 = gens(spark, l.tombs, f.tomb_base, f.tomb_gen, tombSchema(schema))
          .select(col("id").as("__tid"), col("upto").as("__tupto"))
        val tombs =
          if (f.tomb_rows <= bar) broadcast(tombs0)
          else {
            logInfo(s"live: ${f.tomb_rows} active tombstone rows at " +
              s"${l.tombs} exceed the broadcast bar ($bar) — shuffle " +
              "anti-join route (compact to fold the set away)")
            tombs0
          }
        fenced.join(tombs,
          fenced("id") === col("__tid") && fenced("gen") <= col("__tupto"),
          "left_anti")
      }
    screened.drop("gen")
  }

  /** Delete what the fence does not cover: a killed write job's scratch
    * ([[Commit.clearScratch]]) and every generation directory outside the
    * committed ranges — a crashed verb's orphans above, a finished fold's
    * copies below. Readers never see either, but a retry would duplicate
    * an orphan the moment its own write committed.
    */
  def sweep(fs: FileSystem, l: Layout, f: Fence): Unit = {
    prune(fs, new Path(l.data), f.base_gen, f.generation)
    prune(fs, new Path(l.tombs), f.tomb_base, f.tomb_gen)
  }

  private def prune(fs: FileSystem, dir: Path, lo: Int, hi: Int): Unit = {
    Commit.clearScratch(fs, dir)
    if (fs.exists(dir)) fs.listStatus(dir).foreach { st =>
      st.getPath.getName match {
        case GenDir(n) if n.toInt < lo || n.toInt > hi => fs.delete(st.getPath, true)
        case _ => ()
      }
    }
  }

  /** `df` (with an `id` column) observed during its one write pass: row
    * count `n`, the order-independent content hash `h` (bit_xor: an id-hash
    * SUM overflows long under ANSI mode), and the caller's `extra` metrics.
    */
  def signed(df: DataFrame, obs: Observation, extra: Column*): DataFrame =
    df.observe(obs, count(lit(1)).as("n"),
      coalesce(expr("bit_xor(xxhash64(id))"), lit(0L)).as("h") +: extra: _*)

  /** (rows, signature) of a [[signed]] pass — the append retry identity. */
  def signature(obs: Observation): (Long, Long) = {
    val n = observedOr(obs, "n", 0L)
    (n, observedOr(obs, "h", 0L) * 31L + n)
  }

  /** Write ONE tombstone generation for `matched` (live rows whose ids go;
    * an `id` column): the distinct ids with `upto` = the committed data
    * generation, the matched row count and the distinct id count observed
    * in the same job. Returns (matched rows, distinct ids, fence to
    * commit); the fence drops the append retry identity, so publishing the
    * last appended batch again after a deletion is an append, not a
    * retry. With nothing matched nothing is committed and no trace is
    * left — a tombstone for an id with no live row can never kill anything,
    * which is also what makes a committed deletion's retry a no-op.
    */
  def tombstone(fs: FileSystem, l: Layout, f: Fence,
      matched: DataFrame): (Long, Long, Fence) = {
    val gen = math.max(f.tomb_gen + 1, f.tomb_base)
    // DISTINCT aggregates are not allowed inside observed metrics: two
    // plain counts bracket the dedup
    val pObs = Observation()
    val dObs = Observation()
    matched.select("id")
      .observe(pObs, count(lit(1)).as("p"))
      .distinct()
      .observe(dObs, count(lit(1)).as("d"))
      .select(lit(gen).as("gen"), col("id"), lit(f.generation).as("upto"))
      .write.mode("append").partitionBy("gen").parquet(l.tombs)
    val rows = observedOr(pObs, "p", 0L)
    if (rows == 0L) {
      // the empty partitioned write landed no gen directory, but it may
      // have created the tombstone root
      val t = new Path(l.tombs)
      if (fs.exists(t) && !fs.listStatus(t).exists(_.getPath.getName.startsWith("gen=")))
        fs.delete(t, true)
      (0L, 0L, f)
    } else {
      val ids = observedOr(dObs, "d", 0L)
      (rows, ids, f.copy(tomb_gen = gen, tomb_base = math.min(f.tomb_base, gen),
        tomb_rows = f.tomb_rows + ids, batch_sig = None))
    }
  }

  /** Fold the live rows into generation + 1. `write` gets the live frame
    * (observed) and the new `gen` column and writes the copy under
    * `l.data`; an EMPTY fold writes one schema-only file (columns
    * `emptyCols`) at `gen=N/emptyLeaf` instead, mirroring the layout, so
    * the folded artifact stays readable. The copy's FOOTER count must equal
    * the observed live count before `commit(fence, rows)` — a mismatch
    * aborts with the old artifact intact. The commit advances the data
    * fence and clears the tombstones at once; the folded directories go
    * after it, or with the next [[sweep]] when `retainFolded` keeps them
    * for in-flight readers that listed them before the commit.
    */
  def fold(spark: SparkSession, fs: FileSystem, l: Layout, f: Fence,
      emptyLeaf: String, emptyCols: Seq[String], retainFolded: Boolean)(
      write: (DataFrame, Column) => Unit)(commit: (Fence, Long) => Unit): Long = {
    sweep(fs, l, f)
    val newGen = f.generation + 1
    val obs = Observation()
    val rows0 = live(spark, l, f)
    write(rows0.observe(obs, count(lit(1)).as("rows")), lit(newGen).as("gen"))
    val rows = observedOr(obs, "rows", 0L)
    val genDir = new Path(l.data, s"gen=$newGen")
    // dynamic partitioning writes nothing for zero rows
    if (rows == 0L && !fs.exists(genDir))
      rows0.select(emptyCols.map(col): _*).limit(0).write.mode("overwrite")
        .parquet((genDir.toString +: Some(emptyLeaf).filter(_.nonEmpty).toSeq).mkString("/"))
    val copied = Commit.footerRowCount(spark.sessionState.newHadoopConf(), genDir)
    require(copied == rows,
      s"fold: consolidated generation $genDir holds $copied rows but the " +
        s"committed range holds $rows — aborting before the commit (the " +
        "artifact reads unchanged; the next sweep retracts the orphan)")
    val folded = f.copy(generation = newGen, base_gen = newGen,
      tomb_base = f.tomb_gen + 1, tomb_rows = 0L)
    commit(folded, rows)
    if (!retainFolded) sweep(fs, l, folded)
    rows
  }
}
