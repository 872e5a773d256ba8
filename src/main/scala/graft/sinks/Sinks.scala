package graft.sinks

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

import graft.config.{OutputTopic, PipelineSpec}
import graft.pipeline.Interpreter
import graft.sources.SourceResolver

/** Sink layer — R15 (topic write) + R18 (topic provisioning/DDL).
  *
  * The reference provisions the output Kafka topic via AdminClient with
  * partitions/replication/retention and `cleanup.policy=compact` when
  * `retentionMs == -1` (service/TopicProvisioner.java:22-55), then writes with
  * config-resolved serdes (DynamicTopologyBuilder.java:61-74). Batch-mode
  * analogue: a table directory with a descriptor file; compaction ≅ the sink
  * being a latest-per-key table, partitions ≅ output file parallelism.
  * Kafka-mode streaming uses graft.streaming.KafkaSink (same record shape).
  */
trait TopicProvisioner {
  def provision(topic: OutputTopic): Unit
}

/** Filesystem provisioner: creates the table dir and writes a descriptor
  * capturing the reference's topic DDL knobs (tolerates pre-existence, like
  * TopicProvisioner.java:48-53 tolerates TopicExistsException).
  */
class DirProvisioner(baseDir: String) extends TopicProvisioner {
  override def provision(topic: OutputTopic): Unit = {
    val dir = Paths.get(baseDir, topic.name)
    Files.createDirectories(dir)
    val compacted = topic.retentionMs.contains(-1L)
    val desc =
      s"""{"name":"${topic.name}","partitions":${topic.partitions.getOrElse(3)},
         |"replicationFactor":${topic.replicationFactor.getOrElse(1: Short)},
         |"retentionMs":${topic.retentionMs.getOrElse(-2L)},"compacted":$compacted}"""
        .stripMargin.replace("\n", "")
    Files.writeString(dir.resolve("_graft_topic.json"), desc)
  }
}

/** Minimal admin SPI the Kafka provisioner drives. Separating "what to
  * provision" (KafkaTopicProvisioner, unit-testable) from "how to reach a
  * broker" (this trait) lets the provisioning logic be tested without
  * kafka-clients on the classpath — absent in this environment — while
  * [[TopicAdmin.reflective]] binds to the real AdminClient when a deployment
  * has the connector jars.
  */
trait TopicAdmin extends AutoCloseable {
  /** Create the topic; implementations MUST tolerate an already-existing
    * topic (the reference swallows TopicExistsException,
    * TopicProvisioner.java:48-53).
    */
  def createTopic(name: String, partitions: Int, replicationFactor: Short,
      configs: Map[String, String]): Unit
}

object TopicAdmin {
  /** Reflective binding to org.apache.kafka.clients.admin.AdminClient, so the
    * engine itself carries no kafka-clients dependency. Only callable in a
    * deployment with the Kafka client jars on the runtime classpath.
    */
  def reflective(bootstrapServers: String): TopicAdmin = new TopicAdmin {
    private val adminClass = Class.forName("org.apache.kafka.clients.admin.AdminClient")
    private val newTopicClass = Class.forName("org.apache.kafka.clients.admin.NewTopic")
    private val client = {
      val props = new java.util.Properties()
      props.put("bootstrap.servers", bootstrapServers)
      adminClass.getMethod("create", classOf[java.util.Properties]).invoke(null, props)
    }
    override def createTopic(name: String, partitions: Int, replicationFactor: Short,
        configs: Map[String, String]): Unit = {
      val nt = newTopicClass
        .getConstructor(classOf[String], java.lang.Integer.TYPE, java.lang.Short.TYPE)
        .newInstance(name, Int.box(partitions), Short.box(replicationFactor))
      newTopicClass.getMethod("configs", classOf[java.util.Map[_, _]])
        .invoke(nt, scala.jdk.CollectionConverters.MapHasAsJava(configs).asJava)
      val result = adminClass.getMethod("createTopics", classOf[java.util.Collection[_]])
        .invoke(client, java.util.List.of(nt))
      try {
        val fut = result.getClass.getMethod("all").invoke(result)
        fut.getClass.getMethod("get").invoke(fut)
      } catch {
        // reflective invocation wraps the KafkaFuture's ExecutionException;
        // walk the cause chain for the tolerated already-exists case
        case e: Throwable
            if Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(8)
              .exists(_.getClass.getName.endsWith("TopicExistsException")) => ()
      }
    }
    override def close(): Unit = adminClass.getMethod("close").invoke(client)
  }
}

/** Kafka topic provisioner ≅ service/TopicProvisioner.java:22-55: partitions
  * and replication from the output-topic config (reference defaults 3 / 1),
  * `retention.ms` from retentionMs, and retentionMs == -1 → a compacted
  * topic (`cleanup.policy=compact`) instead of a retention setting.
  */
class KafkaTopicProvisioner(admin: () => TopicAdmin) extends TopicProvisioner {
  override def provision(topic: OutputTopic): Unit = {
    val configs =
      if (topic.retentionMs.contains(-1L)) Map("cleanup.policy" -> "compact")
      else topic.retentionMs.map(ms => "retention.ms" -> ms.toString).toMap
    val a = admin()
    try a.createTopic(topic.name, topic.partitions.getOrElse(3),
      topic.replicationFactor.getOrElse(1: Short), configs)
    finally a.close()
  }
}

object BatchSink extends org.apache.spark.internal.Logging {
  /** R15: write the pipeline output in Kafka record shape (key string +
    * JSON value) honoring the declared partition count and the spec's
    * physical layout (OutputTopic.partitionBy / zOrderBy /
    * targetFileBytes — X24/X27 declarable). Gated on `outputTopic.enabled`
    * like DynamicTopologyBuilder.java:62.
    */
  def write(df: DataFrame, topic: OutputTopic, baseDir: String,
      provisioner: TopicProvisioner): Boolean = {
    if (!topic.enabled) return false
    provisioner.provision(topic)
    val missing = (topic.partitionBy ++ topic.zOrderBy).filterNot(df.columns.contains)
    require(missing.isEmpty,
      s"${topic.name}: layout columns not in the pipeline output: " +
        s"${missing.mkString(", ")} (have: ${df.columns.mkString(", ")})")
    val dest = s"$baseDir/${topic.name}/data"
    val parts = topic.partitions.getOrElse(3)
    // targetFileBytes → file count from the optimized plan's size estimate
    // (pre-compression upper bound: a granularity knob, not an exact size)
    def fileCount(frame: DataFrame): Int = topic.targetFileBytes.fold(parts) { t =>
      val est = frame.queryExecution.optimizedPlan.stats.sizeInBytes
      // clamp in BigInt space BEFORE narrowing: stats on join-heavy plans
      // can be astronomically large, and .toInt on the raw quotient would
      // wrap modulo 2^32 to an arbitrary (possibly negative) file count
      ((est + t - 1) / BigInt(t)).min(BigInt(100000)).max(BigInt(1)).toInt
    }
    Exec.sink(df) { df =>
      if (topic.zOrderBy.nonEmpty) {
        // X27 through config: cluster FIRST (the shared Scale.zCluster
        // kernel — z-value computed on the raw columns, dropped after the
        // range+sort), THEN shape for the sink; the kafka projection is
        // narrow, so it preserves the clustered partitioning and order, and
        // no synthetic column ever approaches the JSON value
        Interpreter.toKafkaShape(graft.operators.Scale.zCluster(
            df, topic.zOrderBy, fileCount(df)))
          .write.mode("overwrite").parquet(dest)
      } else if (topic.partitionBy.nonEmpty) {
        // X24 through config: hive-partitioned topic data — the partition
        // columns ride OUTSIDE the JSON as physical columns and become
        // directories on write (they stay inside the JSON too: layout is
        // not a serde change). Repartition BY the layout columns so each
        // directory receives ~one file set, not one file per task.
        Interpreter.toKafkaShape(df, carry = topic.partitionBy)
          .repartition(parts, topic.partitionBy.map(col): _*)
          .write.mode("overwrite").partitionBy(topic.partitionBy: _*).parquet(dest)
      } else {
        Interpreter.toKafkaShape(df).repartition(fileCount(df))
          .write.mode("overwrite").parquet(dest)
      }
    }
    true
  }

  /** KTable write side: apply a changelog batch to a stored parquet
    * snapshot — union the stored rows with the changes, keep latest per key,
    * swap the result in. Spark cannot overwrite a path it is reading, so the
    * merge writes to a staging directory and installs it under the
    * [[Commit]] rename-aside swap: the old data stays readable until the
    * swap, and a crash between the renames is restored on the next call.
    * Replaying a batch re-merges the same versions to the same result
    * (last-write-wins idempotence). The first call (no snapshot yet) just
    * materializes the changes' latest view.
    *
    * The merge works on the store's LEAVES. A flat store (`partitionCols`
    * empty) has one leaf, its root, so every batch rewrites the whole table
    * — fine for dimension-sized snapshots. A store hive-partitioned on
    * `partitionCols` has one leaf per partition directory, and a batch
    *
    *  1. collects the partition tuples it touches
    *     (`changes.select(partitionCols).distinct()`),
    *  2. reads ONLY those directories of the stored snapshot (by path, with
    *     `basePath`: untouched partitions are neither listed nor opened),
    *  3. merges latest-per-key over |touched slice| + |changes|,
    *  4. swaps ONLY the touched directories, two renames each.
    *
    * So a daily delta against a 100 TB snapshot costs its partitions, not
    * the table. A batch touching more than [[WarnTouchedPartitions]] still
    * merges in one pass, and logs one WARN with the count and the rename
    * cost: on the recurring cadence that usually means the layout is finer
    * than the delta.
    *
    * REQUIREMENT: `partitionCols` must be functionally determined by `keys`
    * (e.g. [[keyBucket]], a key-range band, or a date that is part of the
    * key) — otherwise a key's new version can land in a different partition
    * than its stored one and latest-per-key cannot be resolved within a
    * partition. A derived bucket column must be computed by the WRITER.
    *
    * Returns the post-merge row count of the rewritten leaves: the whole
    * snapshot when flat, the touched partitions when partitioned (a full
    * count would rescan the data the partitioned layout exists to skip).
    *
    * CONCURRENCY CONTRACT: single writer — nothing guards two concurrent
    * upserts racing the renames; it is designed for the one-at-a-time
    * foreachBatch loop (StreamRunner.startSnapshotSink). Readers: the swap
    * leaves a transient window where a leaf (`path`, or one partition
    * directory) does not exist — an external reader hitting it should
    * retry; deployments needing always-consistent concurrent readers want a
    * manifest-based table format as the sink instead.
    */
  def upsertSnapshot(spark: org.apache.spark.sql.SparkSession, path: String,
      changes: DataFrame, keys: Seq[String], orderCols: Seq[String],
      partitionCols: Seq[String] = Nil): Long = {
    require(partitionCols.forall(changes.columns.contains),
      s"changes frame is missing partition columns: " +
        partitionCols.filterNot(changes.columns.contains).mkString(", "))
    requireMergeColumns(changes, keys, orderCols)
    // Hadoop FileSystem API, not java.nio: the snapshot lives wherever
    // Spark writes (hdfs://, s3a://, file:) — local-only path ops would
    // silently treat a remote snapshot as absent and clobber it
    val cur = new org.apache.hadoop.fs.Path(path)
    val fs = cur.getFileSystem(spark.sessionState.newHadoopConf())
    // crash recovery BEFORE reading: an interrupted swap is restored (a
    // flat aside with cur absent wholesale at any depth, so the layout
    // guard refuses it with instructions rather than deleting the only
    // surviving copy)
    val exists = Commit.recover(fs, cur, partitionCols.size)
    if (exists) requireLayout(fs, cur, partitionCols)
    // the stored leaves this batch merges into; a touched partition
    // without a directory yet holds no stored rows
    val stored =
      if (partitionCols.isEmpty) { if (exists) Seq(path) else Nil }
      else {
        // touched partitions as the writer names their directories: each
        // partition column cast to string (under the session time zone)
        val touched = changes.select(partitionCols.map(col(_).cast("string")): _*)
          .distinct().collect()
        if (touched.isEmpty) return 0L // empty micro-batch: snapshot unchanged
        if (touched.length > WarnTouchedPartitions)
          logWarning(s"[$path] changelog batch touches ${touched.length} " +
            s"partitions (> $WarnTouchedPartitions): merging in one pass, then " +
            s"~${2L * touched.length} sequential renames to swap them in. On a " +
            "recurring cadence this means partitionCols is finer than the " +
            "delta; coarsen it (DEPLOY.md, Snapshot sink)")
        if (!exists) Nil
        else touched.toSeq.map { r =>
          new org.apache.hadoop.fs.Path(cur, partitionCols.indices.map(i =>
            org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
              .getPartitionPathString(partitionCols(i), r.getString(i))).mkString("/"))
        }.filter(fs.exists).map(_.toString)
      }
    // allowMissingColumns: lenient schema evolution, matching the
    // reference's schema-on-read posture (SerdeFactory.java:30 — unknown
    // fields ignored, missing fields null). A changelog gaining a column
    // widens the rewritten leaves (history rows carry null); a column the
    // changelog stopped sending survives as null on the new versions. Key
    // and order columns are guarded above — silently nulling THEM would
    // corrupt the merge. The partition columns re-inferred from directory
    // names are aligned back to the changelog's types before the union.
    val merged = graft.sources.Tables.latestPerKey(
      if (stored.isEmpty) changes
      else partitionCols.foldLeft(readLeaves(spark, path, stored, partitionCols)) {
        (d, c) => d.withColumn(c, col(c).cast(changes.schema(c).dataType))
      }.unionByName(changes, allowMissingColumns = true),
      keys, orderCols)
    val staged = new org.apache.hadoop.fs.Path(Commit.staging(path))
    merged.write.mode("overwrite").partitionBy(partitionCols: _*)
      .parquet(staged.toString)
    val n = Commit.footerRowCount(spark.sessionState.newHadoopConf(), staged)
    Commit.install(fs, cur,
      if (partitionCols.isEmpty) Nil
      else Commit.leafPartitionDirs(fs, staged, partitionCols.size),
      retainAside = false)
    if (partitionCols.isEmpty) Reads.remember(spark, path, merged.schema)
    n
  }

  /** Rewrite a snapshot store's data files toward ~`targetBytes` each
    * WITHOUT changing a single row — the small-files maintenance pass a
    * per-micro-batch snapshot sink accumulates toward (each partitioned
    * upsert adds a fresh file set to every touched partition; Kafka solves
    * the same growth with log compaction). Layout-only: keys/versions are
    * untouched, so it needs no merge columns.
    *
    * Protocol: the SAME [[Commit]] staged swap as [[upsertSnapshot]], over
    * the same leaves (a flat store's root, or each partition directory) —
    * a crash mid-compact leaves exactly the states the next upsert's (or
    * compact's) [[Commit.recover]] already heals, and the single-writer
    * contract is shared: run it between batches of the one snapshot writer
    * (see `startSnapshotSink(compactEvery = ...)`), never concurrently with
    * it.
    *
    * ONLY leaves whose file count exceeds what `targetBytes` calls for are
    * rewritten, each swapped in on its own — a healthy partition's files
    * are not even opened (their listing is; at tens of thousands of
    * partitions that is one `listStatus` per leaf). Returns the number of
    * data files removed (0 = store already compact).
    *
    * `sortCols` (typically the store key) range-partitions + sorts the
    * rewritten files so each covers a DISJOINT key range — a compaction
    * that merely coalesces DESTROYS whatever footer min/max pruning the
    * store had accumulated on its key, turning every later point/range
    * lookup into a full scan of the compacted files. `zOrderCols` (2+
    * numeric columns) clusters by the Morton interleave instead
    * (Scale.zValue), preserving multi-dimensional footer pruning; the two
    * are mutually exclusive.
    */
  def compactSnapshot(spark: org.apache.spark.sql.SparkSession, path: String,
      partitionCols: Seq[String] = Nil,
      targetBytes: Long = 128L << 20,
      sortCols: Seq[String] = Nil,
      zOrderCols: Seq[String] = Nil,
      retainAside: Boolean = false): Long = {
    import org.apache.hadoop.fs.{Path => HPath}
    require(targetBytes >= 1, "targetBytes must be positive")
    require(sortCols.isEmpty || zOrderCols.isEmpty,
      "sortCols and zOrderCols are mutually exclusive layouts")

    // the compacted rewrite of one leaf: plain coalesce when no layout is
    // declared, range+sort for key-disjoint files, z-value range+sort for
    // multi-dim clustering (min/max from one tiny agg over the leaf being
    // rewritten — same pass writeZOrdered pays)
    def rewritten(df: org.apache.spark.sql.DataFrame, needed: Int) =
      if (zOrderCols.nonEmpty)
        graft.operators.Scale.zCluster(df, zOrderCols, needed)
      else if (sortCols.nonEmpty)
        df.repartitionByRange(needed, sortCols.map(col): _*)
          .sortWithinPartitions(sortCols.map(col): _*)
      else df.repartition(needed)
    val cur = new HPath(path)
    val fs = cur.getFileSystem(spark.sessionState.newHadoopConf())
    val staged = new HPath(Commit.staging(path))
    // a leaf's directory: the root itself for a flat store ("")
    def leaf(root: HPath, rel: String) = if (rel.isEmpty) root else new HPath(root, rel)
    def dataFiles(dir: HPath) = fs.listStatus(dir).filter(s => s.isFile &&
      !s.getPath.getName.startsWith("_") && !s.getPath.getName.startsWith("."))
    def neededFiles(bytes: Long) =
      math.max(1L, (bytes + targetBytes - 1) / targetBytes)
    // same recovery and layout guard as the upsert — a partitioned store
    // reaching the flat path would silently no-op (its root holds
    // directories, not data files)
    require(Commit.recover(fs, cur, partitionCols.size),
      s"no snapshot at $path to compact")
    requireLayout(fs, cur, partitionCols)
    // stage every over-fragmented leaf, then swap just those. The
    // partition columns live in the directory names, so they are dropped
    // before the rewrite
    val compacted = Commit.leafPartitionDirs(fs, cur, partitionCols.size).flatMap { rel =>
      val files = dataFiles(leaf(cur, rel))
      val needed = neededFiles(files.map(_.getLen).sum)
      if (files.length <= needed) None
      else {
        val rows = readLeaves(spark, path, Seq(leaf(cur, rel).toString), partitionCols)
          .drop(partitionCols: _*)
        rewritten(rows, needed.toInt)
          .write.mode("overwrite").parquet(leaf(staged, rel).toString)
        Some((rel, files.length, rows.schema))
      }
    }
    // a flat store's leaf "" swaps the whole root. retainAside: the
    // pre-compaction data outlives the swap under `<path>.old` (a grace
    // window for recovery / slow readers pointed at it); the next
    // writer's recovery sweeps it
    if (compacted.nonEmpty) {
      Commit.install(fs, cur, compacted.map(_._1).filter(_.nonEmpty), retainAside)
      if (partitionCols.isEmpty) Reads.remember(spark, path, compacted.head._3)
    }
    compacted.map { case (rel, n, _) => n - dataFiles(leaf(cur, rel)).length }.sum.toLong
  }

  /** Above this many touched partitions an upsert logs one WARN (it still
    * merges in one pass). The touched-tuple collect, the per-directory
    * existence checks and read paths, and the post-merge swap are all
    * O(touched) DRIVER-side work, and the swap is O(touched) SEQUENTIAL
    * renames (two per partition; slower still on object stores where
    * "rename" is copy+delete) — ~8k renames at this bar, seconds on HDFS.
    */
  val WarnTouchedPartitions = 4096

  /** A path keeps one layout for life: it holds `k=v` directories iff
    * `partitionCols` is non-empty. Installing partition directories next to
    * a flat snapshot's part-files would corrupt the table, and a flat merge
    * of a partitioned one would rewrite and de-partition it (usually a
    * restart that lost the partitionCols argument). ONE top-level listing,
    * not a tree walk: this runs on every upsert.
    */
  private def requireLayout(fs: org.apache.hadoop.fs.FileSystem,
      cur: org.apache.hadoop.fs.Path, partitionCols: Seq[String]): Unit = {
    val partitioned = fs.listStatus(cur).exists(s =>
      s.isDirectory && s.getPath.getName.contains("="))
    require(partitioned == partitionCols.nonEmpty,
      if (partitioned) s"$cur holds a PARTITIONED snapshot; pass its " +
        "partitionCols (a flat merge would rewrite and de-partition it)"
      else s"$cur holds an unpartitioned snapshot; it cannot be converted " +
        "to partitions in place — rewrite it once with partitionBy, or " +
        "drop partitionCols")
  }

  /** Read stored leaves of the snapshot at `path`. A partitioned store is
    * read with `basePath` (keeping its partition columns) and mergeSchema:
    * a partition widens only when a batch touches it, so file schemas
    * differ across partitions, and inference sampling an old-schema file
    * would silently DROP an evolved column from the rewrite. The footer
    * read covers the given directories only. A flat store is rewritten
    * whole on every upsert, so it holds one schema and reads plain — under
    * the schema the previous rewrite recorded ([[Reads.remember]]) while
    * its listing is the one installed.
    */
  private def readLeaves(spark: org.apache.spark.sql.SparkSession, path: String,
      dirs: Seq[String], partitionCols: Seq[String]): DataFrame =
    Reads.parquet(spark, dirs,
      if (partitionCols.isEmpty) Map.empty
      else Map("basePath" -> path, "mergeSchema" -> "true"))

  /** Key-determined bucket column for the partitioned snapshot: a writer
    * computes `changes.withColumn("bucket", keyBucket(n, col(key)))` and
    * passes `partitionCols = Seq("bucket")`. Murmur3 `hash` is the stable
    * hash Spark's own HashPartitioning uses, so a key maps to the same
    * bucket on every batch — the functional-determinism requirement of the
    * partitioned upsert. Size n so a bucket is a few GB (DEPLOY.md).
    */
  def keyBucket(n: Int, keys: org.apache.spark.sql.Column*): org.apache.spark.sql.Column = {
    require(n >= 1, s"bucket count must be >= 1, got $n")
    pmod(hash(keys: _*), lit(n))
  }

  /** The lenient union (allowMissingColumns) must never be allowed to null
    * out the MERGE columns themselves: a changelog batch missing a key
    * column would collapse into one null-key group, and one missing an
    * order column would lose every new version to the stored rows — both
    * silently. Schema evolution is for payload columns only.
    */
  private def requireMergeColumns(changes: DataFrame, keys: Seq[String],
      orderCols: Seq[String]): Unit = {
    val missing = (keys ++ orderCols).filterNot(changes.columns.contains)
    require(missing.isEmpty,
      s"changes frame is missing key/order columns: ${missing.mkString(", ")} " +
        "(schema evolution applies to payload columns only)")
  }
}

/** End-to-end batch pipeline runner: spec → plan → sink (the full
  * buildAggregationTopology + start lifecycle in batch mode). `branches`
  * fan the output out to predicate-routed topics (KStream.split analogue);
  * the main outputTopic and every branch write from ONE built plan — the
  * pipeline computes once, each sink adds only its filter.
  */
object PipelineRunner {
  def runBatch(spark: SparkSession, spec: PipelineSpec, sources: SourceResolver,
      outBase: String): Seq[String] = {
    val df0 = Interpreter.build(spark, spec, sources)
    val enabledBranches = spec.branches.filter(_.outputTopic.enabled)
    // more than one sink consumes the same built frame → persist for the
    // fan-out (a derived frame recomputes per consuming action otherwise)
    val fanOut = enabledBranches.nonEmpty && spec.outputTopic.exists(_.enabled)
    val df = if (fanOut || enabledBranches.size > 1)
      df0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    else df0
    try {
      val provisioner = new DirProvisioner(outBase)
      val main = spec.outputTopic.filter(_.enabled).map { topic =>
        BatchSink.write(df, topic, outBase, provisioner)
        s"$outBase/${topic.name}/data"
      }
      val branched = enabledBranches.map { b =>
        BatchSink.write(df.filter(org.apache.spark.sql.functions.expr(b.predicate)),
          b.outputTopic, outBase, provisioner)
        s"$outBase/${b.outputTopic.name}/data"
      }
      main.toSeq ++ branched
    } finally if (df ne df0) { df.unpersist(); () }
  }

  /** The application.yml shape end-to-end: one config document, many
    * topologies, ONE SourceResolver — so every spec referencing a topic
    * shares the resolver's memoized table frame (the KTableRegistry
    * semantic, KTableRegistry.java:26-30: N topologies over one topic
    * materialize ONE KTable). Returns spec id → written sink paths.
    */
  def runAll(spark: SparkSession, specs: Seq[PipelineSpec],
      sources: SourceResolver, outBase: String): Map[String, Seq[String]] = {
    val ids = specs.map(_.id)
    require(ids.distinct.size == ids.size,
      s"duplicate pipeline ids: ${ids.mkString(", ")}")
    specs.map(s => s.id -> runBatch(spark, s, sources, outBase)).toMap
  }
}

/** R13 peek: the reference logs every record pass-through
  * (DynamicTopologyBuilder.java:51-55). Row-level logging is an anti-pattern
  * at any scale; the Spark-native observe() metric channel gives the same
  * "what flowed through here" signal for free (one aggregate per task, no
  * per-row cost, no plan change).
  */
object Peek {
  /** Attach a named observation counting rows (and null keys, the reference's
    * recurring debug concern). Read `obs.get` after an action completes.
    */
  def observed(df: DataFrame, name: String): (DataFrame, Observation) = {
    val obs = new Observation(name)
    val keyed = df.columns.contains(Interpreter.KeyCol)
    val metrics =
      if (keyed) Seq(count(lit(1)).as("rows"),
        count(when(col(Interpreter.KeyCol).isNull, 1)).as("null_keys"))
      else Seq(count(lit(1)).as("rows"))
    (df.observe(obs, metrics.head, metrics.tail: _*), obs)
  }
}
