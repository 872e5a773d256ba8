package graft.sinks

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
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
    true
  }

  /** KTable write side: apply a changelog batch to a stored parquet
    * snapshot — union existing + changes, keep latest-per-key, swap the
    * result in. Spark cannot overwrite a path it is reading, so the merge
    * writes to a staging directory and renames: the old snapshot stays
    * readable until the atomic-within-a-filesystem swap. First call (no
    * snapshot yet) just materializes the changes' latest view. Returns the
    * resulting snapshot row count. Snapshot cost is one latest-per-key
    * shuffle over |snapshot| + |changes| — at recurring cadence on 100 TB
    * pass `partitionCols` (see the partitioned overload below) so each
    * batch merges only the partitions its delta touches.
    *
    * CONCURRENCY CONTRACT (both modes): single writer — the swap protocol
    * has no guard against two concurrent upserts racing the renames; it is
    * designed for the one-at-a-time foreachBatch loop
    * (StreamRunner.startSnapshotSink). Readers: the swap leaves a transient
    * window where `path` (or, partitioned, an individual partition dir)
    * does not exist — an external reader hitting that window should retry;
    * deployments needing always-consistent concurrent readers want a
    * manifest-based table format as the sink instead.
    */
  def upsertSnapshot(spark: org.apache.spark.sql.SparkSession, path: String,
      changes: DataFrame, keys: Seq[String], orderCols: Seq[String]): Long = {
    requireMergeColumns(changes, keys, orderCols)
    // Hadoop FileSystem API, not java.nio: the snapshot lives wherever
    // Spark writes (hdfs://, s3a://, file:) — local-only path ops would
    // silently treat a remote snapshot as absent and clobber it
    val cur = new org.apache.hadoop.fs.Path(path)
    val fs = cur.getFileSystem(spark.sessionState.newHadoopConf())
    // crash recovery BEFORE reading (Commit.recover): a previous swap's
    // aside is restored or dropped, so the merge reads the last install
    val exists = Commit.recover(fs, cur, 0)
    // reverse layout guard (the partitioned overload has the mirror): a
    // partitioned snapshot fed through this flat path would be rewritten in
    // full AND converted to a flat layout — the silent 100 TB rewrite the
    // partitioned mode exists to avoid, usually a restart that lost the
    // partitionCols argument
    require(!exists || !fs.listStatus(cur).exists(s =>
        s.isDirectory && s.getPath.getName.contains("=")),
      s"$path holds a PARTITIONED snapshot; pass its partitionCols instead " +
        "of the flat upsert (a flat merge would rewrite and de-partition it)")
    // allowMissingColumns: lenient schema evolution, matching the
    // reference's schema-on-read posture (SerdeFactory.java:30 — unknown
    // fields ignored, missing fields null). A changelog gaining a column
    // widens the snapshot (history rows carry null); a column the changelog
    // stopped sending survives as null on the new versions. Key and order
    // columns are guarded above — silently nulling THEM would corrupt the
    // merge (a null key collapses the batch into one group; a null order
    // column loses every new version).
    val merged =
      if (exists)
        graft.sources.Tables.latestPerKey(
          spark.read.parquet(path).unionByName(changes, allowMissingColumns = true),
          keys, orderCols)
      else
        graft.sources.Tables.latestPerKey(changes, keys, orderCols)
    val staged = new org.apache.hadoop.fs.Path(Commit.staging(path))
    merged.write.mode("overwrite").parquet(staged.toString)
    val n = Commit.footerRowCount(spark.sessionState.newHadoopConf(), staged)
    // replaying the same batch after any crash re-merges the same versions
    // to the same result (last-write-wins idempotence)
    Commit.install(fs, cur, Nil, retainAside = false)
    n
  }

  /** Partition-pruned snapshot upsert — the 100 TB shape of the method
    * above. The snapshot is stored hive-partitioned on `partitionCols`;
    * each changelog batch
    *
    *  1. collects the partition tuples it touches
    *     (`changes.select(partitionCols).distinct()` — bounded by the batch,
    *     guarded at [[DefaultMaxTouchedPartitions]] /
    *     `graft.sink.maxTouchedPartitions`),
    *  2. reads ONLY those partitions' directories of the stored snapshot
    *     (`basePath` plus the touched leaf directories — untouched
    *     terabytes are neither listed nor opened, not even for the schema
    *     merge),
    *  3. merges latest-per-key over |touched snapshot slice| + |changes|,
    *  4. swaps ONLY the touched partition directories, each under the same
    *     [[Commit]] rename-aside protocol as the unpartitioned path (a crash
    *     between a partition's two renames is restored from its aside copy
    *     on the next call; replaying the batch re-merges to the same result).
    *
    * Untouched partitions' files are NOT rewritten — a daily delta against
    * a 100 TB snapshot costs |delta's partitions|, not a full-table rewrite.
    *
    * REQUIREMENT: `partitionCols` must be functionally determined by `keys`
    * (e.g. `pmod(hash(key), n)` buckets, a key-range band, or a date that is
    * part of the key) — otherwise a key's new version can land in a
    * different partition than its stored one and latest-per-key cannot be
    * resolved within a partition. A derived bucket column must be computed
    * by the WRITER (this method sees only the columns `changes` carries).
    *
    * Returns the post-merge row count of the TOUCHED partitions (a full
    * snapshot count would rescan the very data this method exists to skip).
    * Single-writer + reader-retry contract as documented on the
    * unpartitioned overload; here the transient gap is per partition dir,
    * so concurrent readers see mixed old/new partitions mid-swap.
    */
  def upsertSnapshot(spark: org.apache.spark.sql.SparkSession, path: String,
      changes: DataFrame, keys: Seq[String], orderCols: Seq[String],
      partitionCols: Seq[String]): Long = {
    if (partitionCols.isEmpty)
      return upsertSnapshot(spark, path, changes, keys, orderCols)
    require(partitionCols.forall(changes.columns.contains),
      s"changes frame is missing partition columns: " +
        partitionCols.filterNot(changes.columns.contains).mkString(", "))
    requireMergeColumns(changes, keys, orderCols)
    val cur = new org.apache.hadoop.fs.Path(path)
    val fs = cur.getFileSystem(spark.sessionState.newHadoopConf())
    // crash recovery BEFORE reading: restores any partition whose swap was
    // interrupted between its two renames — and a FLAT aside with cur
    // absent (the unpartitioned overload's crash window) wholesale, so the
    // layout guard below rejects the flat snapshot with instructions
    // rather than deleting the only surviving copy
    val exists = Commit.recover(fs, cur, partitionCols.size)

    // layout guard: installing partition directories next to a flat
    // snapshot's part-files would corrupt the table (double reads, undefined
    // pruning) — a path must stay in one layout for its lifetime. ONE
    // top-level listing, not a tree walk: this runs on every upsert and the
    // snapshot may hold tens of thousands of partition directories.
    require(!exists || fs.listStatus(cur).exists(s =>
        s.isDirectory && s.getPath.getName.contains("=")),
      s"$path holds an unpartitioned snapshot; the partitioned upsert cannot " +
        "convert it in place — rewrite it once with partitionBy, or keep " +
        "calling the unpartitioned overload")

    // touched partitions as the writer names their directories: each
    // partition column cast to string (under the session time zone)
    val touched = changes.select(partitionCols.map(col(_).cast("string")): _*)
      .distinct().collect()
    if (touched.isEmpty) return 0L // empty micro-batch: snapshot unchanged
    val maxTouched = maxTouchedPartitions(spark)
    if (touched.length > maxTouched) {
      // On the recurring changelog cadence this almost always means the
      // layout is finer than the delta — fail with instructions. The
      // sanctioned exception is a BULK BACKFILL (initial load, historical
      // re-ingest) that legitimately touches most of the table: with
      // graft.sink.mergeWaves=true it proceeds in sequential waves of
      // maxTouched partitions, so per-write planning (the pruning
      // disjunction) and the rename batch stay bounded while TOTAL swap
      // cost remains O(touched) — inherent to touching that many
      // partitions, not a property of the waves. Each wave recurses into
      // this method over the cached delta slice, so it inherits the full
      // crash-recovery + layout-guard + swap protocol; a crash mid-wave
      // recovers that wave's partitions on the next call and replaying the
      // batch re-merges idempotently (waves already applied are
      // last-write-wins no-ops).
      require(mergeWavesEnabled(spark),
        s"changelog batch touches ${touched.length} partitions (> " +
          s"$maxTouched) — usually the partitioning is finer than the " +
          "delta: coarsen partitionCols or raise " +
          "graft.sink.maxTouchedPartitions. For a legitimate bulk backfill " +
          "set graft.sink.mergeWaves=true to merge in bounded sequential " +
          "waves instead")
      logWarning(s"[$path] ${touched.length} touched partitions exceed the " +
        s"$maxTouched cap — merging in ${(touched.length + maxTouched - 1) / maxTouched} " +
        "sequential waves (graft.sink.mergeWaves=true)")
      val persisted = changes.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        return touched.grouped(maxTouched).foldLeft(0L) { (acc, wave) =>
          acc + upsertSnapshot(spark, path,
            persisted.filter(touchedPartitionPredicate(wave.toSeq, partitionCols)),
            keys, orderCols, partitionCols)
        }
      } finally { persisted.unpersist(); () }
    }

    // only the touched partitions' directories are listed and opened; a
    // touched partition without a directory yet holds no stored rows
    val touchedDirs = if (!exists) Seq.empty else touched.toSeq.map { r =>
      new org.apache.hadoop.fs.Path(cur, partitionCols.indices.map(i =>
        org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
          .getPartitionPathString(partitionCols(i), r.getString(i))).mkString("/"))
    }.filter(fs.exists)
    val merged =
      if (touchedDirs.isEmpty) graft.sources.Tables.latestPerKey(changes, keys, orderCols)
      else {
        // mergeSchema: schema evolution makes per-partition file schemas
        // heterogeneous (only touched partitions widen); without it, schema
        // inference can sample an old-schema file and a rewrite would
        // silently DROP an evolved column's data from the touched partition.
        // Its footer read covers the touched directories only; basePath
        // keeps their partition columns, whose re-inferred types are then
        // aligned back to the changelog's schema before the union.
        val slice = partitionCols.foldLeft(
          spark.read.option("basePath", path).option("mergeSchema", "true")
            .parquet(touchedDirs.map(_.toString): _*)) {
          (d, c) => d.withColumn(c, col(c).cast(changes.schema(c).dataType))
        }
        // lenient schema evolution as in the unpartitioned overload — only
        // TOUCHED partitions widen on this batch; untouched partitions widen
        // (with nulls) whenever a later delta touches them, and readers of a
        // mid-evolution snapshot should read with mergeSchema too
        graft.sources.Tables.latestPerKey(
          slice.unionByName(changes, allowMissingColumns = true), keys, orderCols)
      }
    val staged = new org.apache.hadoop.fs.Path(Commit.staging(path))
    merged.write.mode("overwrite").partitionBy(partitionCols: _*)
      .parquet(staged.toString)
    val n = Commit.footerRowCount(spark.sessionState.newHadoopConf(), staged)
    Commit.install(fs, cur, Commit.leafPartitionDirs(fs, staged, partitionCols.size),
      retainAside = false)
    n
  }

  /** Rewrite a snapshot store's data files toward ~`targetBytes` each
    * WITHOUT changing a single row — the small-files maintenance pass a
    * per-micro-batch snapshot sink accumulates toward (each partitioned
    * upsert adds a fresh file set to every touched partition; Kafka solves
    * the same growth with log compaction). Layout-only: keys/versions are
    * untouched, so it needs no merge columns.
    *
    * Protocol: the SAME [[Commit]] staged swap as [[upsertSnapshot]] — a
    * crash mid-compact leaves exactly the states the next upsert's (or
    * compact's) [[Commit.recover]] already heals, and the
    * single-writer contract is shared: run it between batches of the one
    * snapshot writer (see `startSnapshotSink(compactEvery = ...)`), never
    * concurrently with it.
    *
    * Partitioned stores compact per partition directory, each with its own
    * atomic swap, and ONLY directories whose file count exceeds what
    * `targetBytes` calls for — a healthy partition's files are not even
    * opened (their listing is; at tens of thousands of partitions that is
    * one `listStatus` per leaf, the same order of driver work as the
    * upsert's own pruning). Returns the number of data files removed
    * (0 = store already compact).
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

    // the compacted rewrite of one store slice: plain coalesce when no
    // layout is declared, range+sort for key-disjoint files, z-value
    // range+sort for multi-dim clustering (min/max from one tiny agg over
    // the slice being rewritten — same pass writeZOrdered pays)
    def rewritten(df: org.apache.spark.sql.DataFrame, needed: Int) =
      if (zOrderCols.nonEmpty)
        graft.operators.Scale.zCluster(df, zOrderCols, needed)
      else if (sortCols.nonEmpty)
        df.repartitionByRange(needed, sortCols.map(col): _*)
          .sortWithinPartitions(sortCols.map(col): _*)
      else df.repartition(needed)
    val cur = new HPath(path)
    val fs = cur.getFileSystem(spark.sessionState.newHadoopConf())
    val staged = Commit.staging(path)
    def dataFiles(dir: HPath) = fs.listStatus(dir).filter(s => s.isFile &&
      !s.getPath.getName.startsWith("_") && !s.getPath.getName.startsWith("."))
    def neededFiles(bytes: Long) =
      math.max(1L, (bytes + targetBytes - 1) / targetBytes)
    // same recovery as the upserts — including the flat-aside-with-cur-
    // absent window (the ONLY surviving copy after a flat upsert's crash):
    // restored wholesale, never deleted
    require(Commit.recover(fs, cur, partitionCols.size),
      s"no snapshot at $path to compact")
    val partitioned = fs.listStatus(cur).exists(s =>
      s.isDirectory && s.getPath.getName.contains("="))

    if (partitionCols.isEmpty) {
      // same layout guard as the flat upsert: a partitioned store reaching
      // the flat path would silently no-op (its root holds directories,
      // not data files) — fail with instructions instead
      require(!partitioned,
        s"$path holds a PARTITIONED snapshot; pass its partitionCols")
      val files = dataFiles(cur)
      val needed = neededFiles(files.map(_.getLen).sum)
      if (files.length <= needed) return 0L
      rewritten(spark.read.parquet(path), needed.toInt)
        .write.mode("overwrite").parquet(staged)
      // retainAside: the pre-compaction snapshot outlives the swap as
      // `<path>.old` (a grace window for recovery / slow readers pointed
      // at it); the next writer's recovery sweeps it
      Commit.install(fs, cur, Nil, retainAside)
      files.length - dataFiles(cur).length
    } else {
      require(partitioned,
        s"$path holds an unpartitioned snapshot; call compactSnapshot " +
          "without partitionCols")
      // per-directory compaction: stage every over-fragmented partition,
      // then swap just those (per-partition atomic renames)
      val compacted = Commit.leafPartitionDirs(fs, cur, partitionCols.size).flatMap { rel =>
        val dir = new HPath(cur, rel)
        val files = dataFiles(dir)
        val needed = neededFiles(files.map(_.getLen).sum)
        if (files.length <= needed) None
        else {
          // basePath keeps the partition columns on read; they are dropped
          // on write because in this layout their values live in the
          // directory name, not the files
          rewritten(spark.read.option("basePath", path).parquet(dir.toString)
              .drop(partitionCols: _*), needed.toInt)
            .write.mode("overwrite").parquet(new HPath(staged, rel).toString)
          Some(rel -> files.length)
        }
      }
      if (compacted.nonEmpty)
        Commit.install(fs, cur, compacted.map(_._1), retainAside)
      compacted.map { case (rel, n) => n - dataFiles(new HPath(cur, rel)).length }.sum.toLong
    }
  }

  /** A wave's slice of the changelog: the rows whose partition columns,
    * rendered as strings (the form `touched` is collected in), equal one
    * of the wave's tuples. The disjunction is reduced as a BALANCED tree:
    * a left-deep Or chain over thousands of legitimately-touched
    * partitions blows Catalyst's recursive transforms (StackOverflow) long
    * before the touched-partition cap trips. Package-visible so the cap's
    * planning cost is measurable in a test at exactly this shape.
    */
  private[graft] def touchedPartitionPredicate(
      touched: Seq[org.apache.spark.sql.Row], partitionCols: Seq[String]): Column = {
    def balancedOr(ps: Seq[Column]): Column =
      if (ps.size == 1) ps.head
      else balancedOr(ps.grouped(2).map(_.reduce(_ || _)).toSeq)
    balancedOr(touched.map { row =>
      partitionCols.zipWithIndex.map { case (c, i) =>
        col(c).cast("string") <=> lit(row.get(i)).cast("string")
      }.reduce(_ && _)
    })
  }

  /** Guard on how many partitions one changelog batch may touch — the
    * touched-tuple collect, the per-directory existence checks and read
    * paths, and the post-merge swap are all O(touched) DRIVER-side work,
    * and the swap is O(touched) SEQUENTIAL filesystem renames (two per
    * partition; slower still on object stores where "rename" is
    * copy+delete). At the 4096 default that is ~8k renames worst case —
    * seconds on HDFS — and a wave's slicing predicate analyzes+optimizes
    * in ~2 s cold (measured in SinksSpec).
    * A batch touching more partitions than this signals a layout finer
    * than the delta cadence: coarsen the bucketing (DEPLOY.md sizing) —
    * or raise `graft.sink.maxTouchedPartitions` in the session conf after
    * accepting the rename latency, which grows linearly.
    */
  val DefaultMaxTouchedPartitions = 4096

  /** Opt-in wave merge for deltas touching more than the cap — see the
    * touched-guard comment in the partitioned upsert. Off by default so the
    * cap keeps catching mis-sized layouts on the recurring cadence.
    */
  private def mergeWavesEnabled(spark: org.apache.spark.sql.SparkSession): Boolean =
    spark.conf.getOption("graft.sink.mergeWaves").exists(_.trim.toBoolean)

  private def maxTouchedPartitions(spark: org.apache.spark.sql.SparkSession): Int =
    spark.conf.getOption("graft.sink.maxTouchedPartitions").map { s =>
      val n = scala.util.Try(s.trim.toInt).getOrElse(throw new IllegalArgumentException(
        s"graft.sink.maxTouchedPartitions must be a positive integer, got '$s'"))
      require(n >= 1,
        s"graft.sink.maxTouchedPartitions must be a positive integer, got '$s'")
      n
    }.getOrElse(DefaultMaxTouchedPartitions)

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
