package graft.streaming

import org.apache.spark.internal.Logging
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery, Trigger}

import graft.config.{PipelineSpec, ProcessingMode, SchemaCatalog, TopicConfig}
import graft.config.{StateBounded, TransformOp, Windowed}
import graft.config.TransformOp.{DedupExact, DedupNear, Knn}
import graft.pipeline.Interpreter
import graft.sources.SourceResolver

/** Streaming execution of the SAME PipelineSpec the batch interpreter runs —
  * the engine's pipelines are resolver-agnostic logical plans, so "run it
  * streaming" is a different SourceResolver plus a writeStream, not a
  * different pipeline.
  *
  * Mode mapping (the KStream/KTable emission semantics):
  *  - SIMPLE_STREAM / JOIN_CHAIN (stream-rooted) → append mode: each input
  *    record emits one enriched record, like KStream.to().
  *  - AGGREGATION → update mode: each input emits the refreshed per-key
  *    value, like a KTable changelog (DynamicTopologyBuilder.java:203-221's
  *    intended count → toStream()).
  */
object StreamRunner extends Logging {

  def outputModeFor(spec: PipelineSpec): OutputMode = spec.processingMode match {
    // Session-window streaming aggregation is rejected by Spark in Update
    // mode (merging sessions can't be expressed as per-key upserts) — it
    // must run Append, emitting each session once finalized past the
    // watermark. PipelineSpec.validate guarantees the watermark exists.
    case ProcessingMode.Aggregation
        if spec.eventTime.exists(_.windowType == "session") => OutputMode.Append()
    case ProcessingMode.Aggregation => OutputMode.Update()
    // an UNBOUNDED dedup_exact transform (unboundedOk, no stateTtl) is a
    // streaming aggregation (min_by per dup group) — its emission is a
    // per-group changelog, and Append would reject the unwatermarked
    // aggregate outright. Reached only for the non-AGGREGATION modes (the
    // arms above win otherwise); stacking dedup_exact on a streaming
    // AGGREGATION spec is a chained stateful aggregation, which Spark
    // rejects at start in any mode.
    // UNBOUNDED STATE: the aggregation is unwatermarked BY DESIGN — a late
    // duplicate must still dedup against the whole history, so state keeps
    // one entry per distinct dupColumns group forever. On a long-running
    // high-cardinality stream that is a real memory commitment: budget the
    // state store for |distinct groups| (DEPLOY.md), bound the domain
    // upstream (window the spec), or declare stateTtl — which switches the
    // op to the TTL'd first-arrival form (flatMapGroupsWithState, Append
    // emission, state ∝ groups active within the TTL). build() logs the
    // unbounded commitment once per start so it is explicit, not
    // discovered from a state-store OOM.
    case _ if has(spec) { case t: DedupExact => t.stateTtl.isEmpty } =>
      OutputMode.Update()
    // session-windowed ops: same Spark restriction as session
    // AGGREGATION — merging sessions cannot be per-key upserts, so Append
    // (each session emits once, finalized past the watermark)
    case _ if has(spec) { case w: Windowed => w.windowed && w.session } =>
      OutputMode.Append()
    // a windowed op is a stateful aggregation whose emission is a per-cell
    // changelog (each micro-batch refreshes the touched (window, dims)
    // cells; the snapshot sink upserts them). Append would hold every cell
    // until its window passes the watermark — correct for fire-once
    // delivery, but it defeats the continuously-maintained-table semantics
    // these ops declare.
    case _ if has(spec) { case w: Windowed => w.windowed } => OutputMode.Update()
    // UNWINDOWED streaming knn (the unboundedOk escape hatch): an
    // unwatermarked per-query top-k aggregation — Append would reject it
    // at start exactly like unbounded dedup_exact; its emission is a
    // per-query changelog, so Update (round-18 review)
    case _ if has(spec) { case t: Knn => t.queryPath.isEmpty && !t.windowed } =>
      OutputMode.Update()
    case _ => OutputMode.Append()
  }

  /** Whether any transform of `spec` matches `p`. */
  private def has(spec: PipelineSpec)(p: PartialFunction[TransformOp, Boolean]): Boolean =
    spec.transform.exists(p.applyOrElse(_, (_: TransformOp) => false))

  /** Build the spec's plan; on a streaming frame also attach the R13 peek
    * channel as named observed metrics (`<spec.id>_peek`: row count +
    * null-key count per micro-batch, surfaced in every
    * StreamingQueryProgress). The reference peeks by logging each record
    * (DynamicTopologyBuilder.java:51-55) — per-row logging is an
    * anti-pattern at scale; observed metrics give the same signal for one
    * aggregate per task. Batch queries use sinks.Peek (Observation API)
    * instead: the Observation class does not support streaming Datasets.
    */
  def build(spark: SparkSession, spec: PipelineSpec, sources: SourceResolver): DataFrame = {
    val df = Interpreter.build(spark, spec, sources)
    import org.apache.spark.sql.functions.{col, count, lit, when}
    if (df.isStreaming && has(spec) { case t: DedupExact => t.stateTtl.isEmpty })
      logWarning(s"[${spec.id}] streaming dedup_exact keeps state per distinct " +
        "dup group with NO eviction (history-wide dedup semantics) — size the " +
        "state store for the group cardinality, or declare stateTtl; see " +
        "outputModeFor")
    if (df.isStreaming && has(spec) { case t: DedupNear => t.stateTtl.isEmpty })
      logWarning(s"[${spec.id}] streaming dedup_near keeps the LSH signature " +
        "index (8 + 8*numHashes bytes per doc) with NO eviction — budget " +
        "the state store for the full corpus, or declare stateTtl")
    if (!df.isStreaming) df
    else {
      val metrics = count(lit(1)).as("rows") +:
        (if (df.columns.contains(Interpreter.KeyCol))
          Seq(count(when(col(Interpreter.KeyCol).isNull, 1)).as("null_keys"))
        else Nil)
      df.observe(s"${spec.id}_peek", metrics.head, metrics.tail: _*)
    }
  }

  /** `branches` fan out to one streaming query per branch; the single-query
    * entry points below reject them rather than silently writing only the
    * main topic (behavioral parity with batch PipelineRunner.runBatch).
    */
  private def requireNoBranches(spec: PipelineSpec, entry: String): Unit =
    require(spec.branches.isEmpty,
      s"[${spec.id}] branches need one query per sink — use ${entry}Branches")

  /** A spec carrying a processing-time-TTL'd stateful op makes EVERY batch
    * "require another batch" (timer evaluation), so the engine runs
    * micro-batches continuously — with the default always-ready trigger
    * that is a busy loop (offset-log commits as fast as the FS can rename,
    * measured as a pegged core). Throttle timer evaluation to a bounded
    * cadence. Note: `processAllAvailable()` NEVER returns on such a query
    * (no-more-work is unreachable by design) — callers/tests must poll the
    * sink instead.
    */
  private def applyTrigger[T](spec: PipelineSpec,
      w: org.apache.spark.sql.streaming.DataStreamWriter[T])
      : org.apache.spark.sql.streaming.DataStreamWriter[T] =
    if (has(spec) { case t: StateBounded => t.stateTtl.isDefined })
      w.trigger(Trigger.ProcessingTime("500 milliseconds"))
    else w

  /** Run a windowed snapshot_drift monitor declared with
    * `baselineRefresh: "perBatch"`: the stateful cell stream is
    * plan-static ([[graft.pipeline.Interpreter.buildRefreshingMonitor]]),
    * and every micro-batch's refreshed cells are evaluated against a
    * FRESH read of the stored baseline inside foreachBatch — a weekly
    * merge fold republished to the baseline path lands on the NEXT batch,
    * no monitor restart. Evaluated rows APPEND to `path` as a parquet
    * changelog: each refreshed cell re-emits its metric rows, versioned
    * by `n_new` (the monitor's last-write-wins convention — readers take
    * the max-n_new row per (window_start, col_name, metric, category), or
    * read the log as the audit trail it is). Because the artifact is
    * re-read per batch, refreshes must be atomic swaps or new-path
    * republishes, same as every stored-artifact consumer — but unlike the
    * read-once binding, an in-place overwrite here breaks ONE batch at
    * worst, not the query (the next batch reads the settled files).
    */
  def startRefreshingMonitor(spark: SparkSession, spec: PipelineSpec,
      sources: SourceResolver, path: String,
      checkpoint: String): StreamingQuery = {
    requireNoBranches(spec, "startRefreshingMonitor")
    val (cells, eval) = graft.pipeline.Interpreter
      .buildRefreshingMonitor(spark, spec, sources)
    applyTrigger(spec, cells.writeStream
      .outputMode(OutputMode.Update())
      .option("checkpointLocation", checkpoint)
      // exactly-once: foreachBatch is at-least-once, so each batch's rows
      // land under a `batch=<checkpointed id>` leaf with OVERWRITE — a
      // crash-replayed batch rewrites its own leaf instead of appending
      // phantom duplicates to the changelog. Read `path` whole; the leaf
      // column rides along as the batch id
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, batchId: Long) =>
        if (!batch.isEmpty)
          eval(batch).write.mode("overwrite").parquet(s"$path/batch=$batchId")
        ()
      })
      .start()
  }

  /** Run a spec to an in-memory sink (tests / debugging). */
  def startMemory(spark: SparkSession, spec: PipelineSpec, sources: SourceResolver,
      queryName: String): StreamingQuery = {
    requireNoBranches(spec, "startMemory")
    applyTrigger(spec, Interpreter.values(build(spark, spec, sources))
      .writeStream.format("memory").queryName(queryName)
      .outputMode(outputModeFor(spec)))
      .start()
  }

  /** Stream a spec into a continuously-updated parquet SNAPSHOT: every
    * micro-batch upserts into the stored latest-per-key view via
    * [[graft.sinks.BatchSink.upsertSnapshot]] (foreachBatch — the
    * changelog-to-queryable-table loop: KTable semantics with a parquet
    * table any engine can read). `keys`/`orderCols` define last-write-wins;
    * a batch's STALE versions lose to the stored snapshot, so redelivery
    * and out-of-order batches are safe. Output mode follows the spec like
    * every other entry point — AGGREGATION specs stream their changelog in
    * Update mode and the upsert folds each emission (Append would reject
    * unwatermarked aggregations outright and delay watermarked ones until
    * finalization, defeating "continuously updated") — and exactly-once
    * reduces to upsert idempotence: replaying a batch after a crash
    * re-merges the same versions to the same result.
    *
    * `partitionCols` (optional) stores the snapshot hive-partitioned and
    * merges each micro-batch into ONLY the partitions it touches, in one
    * pass — the 100 TB posture; see BatchSink.upsertSnapshot for the
    * key-determinism requirement on the partition columns. The swap costs
    * two renames per touched partition; a batch touching more than
    * `BatchSink.WarnTouchedPartitions` logs one WARN with that cost
    * (DEPLOY.md, Snapshot sink).
    *
    * The layout arguments are checked at start() by the same
    * `SnapshotSpec.validate` a spec's snapshot block gets (`compactEvery`
    * 0 = never compact).
    */
  def startSnapshotSink(spark: SparkSession, spec: PipelineSpec,
      sources: SourceResolver, path: String, keys: Seq[String],
      orderCols: Seq[String], checkpoint: String,
      partitionCols: Seq[String] = Nil,
      compactEvery: Int = 0,
      compactZOrderBy: Seq[String] = Nil): StreamingQuery = {
    requireNoBranches(spec, "startSnapshotSink")
    // the spec path's refusals (empty keys or order columns, a one-column
    // or partition-overlapping zOrderBy, a negative compactEvery) hold for
    // programmatic callers too
    graft.config.SnapshotSpec(keys, orderCols, partitionCols,
      Some(compactEvery).filter(_ != 0), compactZOrderBy).validate(spec.id, path)
    val planned = build(spark, spec, sources)
    // fail at start(), not on the Nth micro-batch: a typo'd key/order/
    // layout column would otherwise launch cleanly and only kill the
    // long-running query at the first upsert (or worse, first compaction)
    val declared = Seq(
      "keyColumns" -> keys, "orderColumns" -> orderCols,
      "partitionBy" -> partitionCols, "zOrderBy" -> compactZOrderBy)
    val missing = declared.flatMap { case (what, cols) =>
      cols.filterNot(planned.columns.contains).map(c => s"$what:$c") }
    require(missing.isEmpty,
      s"[${spec.id}] snapshot sink declares columns absent from the built " +
        s"plan: ${missing.mkString(", ")} (plan columns: " +
        s"${planned.columns.mkString(", ")})")
    applyTrigger(spec, planned.writeStream
      .outputMode(outputModeFor(spec))
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, batchId: Long) =>
        graft.sinks.BatchSink.upsertSnapshot(
          spark, path, batch, keys, orderCols, partitionCols)
        // maintenance inside the single-writer loop: every upsert adds a
        // file set to each touched partition, so a long-running sink
        // accumulates small files — compact every N batches (0 = never).
        // batchId is the CHECKPOINTED id: a replayed batch re-compacts
        // idempotently (compaction changes no rows). Compacted files sort
        // by the store key (minus directory-encoded partition cols) — or
        // z-cluster by compactZOrderBy when declared — so maintenance
        // PRESERVES footer min/max pruning instead of coalescing it away.
        if (compactEvery > 0 && batchId % compactEvery == compactEvery - 1)
          graft.sinks.BatchSink.compactSnapshot(spark, path, partitionCols,
            sortCols =
              if (compactZOrderBy.nonEmpty) Nil
              else keys.filterNot(partitionCols.contains),
            zOrderCols = compactZOrderBy)
        ()
      })
      .start()
  }

  /** Declarative form of [[startSnapshotSink]]: everything comes from the
    * spec's `outputTopic.snapshot` block (keyColumns / orderColumns /
    * partitionBy / compactEvery — the `Materialized.as(stateStoreName)`
    * analogue), the store lives at `<baseDir>/<topic.name>/snapshot`, the
    * checkpoint beside it. One JSON document now declares the whole
    * KTable-materialization loop.
    */
  def startSpecSnapshot(spark: SparkSession, spec: PipelineSpec,
      sources: SourceResolver, baseDir: String): StreamingQuery = {
    val topic = spec.outputTopic.filter(_.enabled).getOrElse(
      throw new IllegalArgumentException(
        s"[${spec.id}] startSpecSnapshot needs an enabled outputTopic"))
    val snap = topic.snapshot.getOrElse(
      throw new IllegalArgumentException(
        s"[${spec.id}] outputTopic '${topic.name}' declares no snapshot block"))
    startSnapshotSink(spark, spec, sources,
      path = s"$baseDir/${topic.name}/snapshot",
      keys = snap.keyColumns, orderCols = snap.orderColumns,
      checkpoint = s"$baseDir/${topic.name}/ckpt",
      partitionCols = snap.partitionBy,
      compactEvery = snap.compactEvery.getOrElse(0),
      compactZOrderBy = snap.zOrderBy)
  }

  /** Branch fan-out to memory sinks: the main output under `queryName`, each
    * branch under `queryName_<topic>` (KStream.split semantics — a record
    * lands in every branch whose predicate it satisfies). One built plan,
    * one streaming query per sink (Structured Streaming's unit of sink).
    */
  def startMemoryBranches(spark: SparkSession, spec: PipelineSpec,
      sources: SourceResolver, queryName: String): Seq[StreamingQuery] = {
    val df = build(spark, spec, sources)
    import org.apache.spark.sql.functions.expr
    def start(frame: org.apache.spark.sql.DataFrame, name: String) =
      applyTrigger(spec, Interpreter.values(frame).writeStream.format("memory")
        .queryName(name).outputMode(outputModeFor(spec))).start()
    val main = spec.outputTopic.filter(_.enabled).map(_ => start(df, queryName)).toSeq
    main ++ spec.branches.filter(_.outputTopic.enabled).map(b =>
      start(df.filter(expr(b.predicate)), s"${queryName}_${b.outputTopic.name}"))
  }

  /** Run a spec to a Kafka topic sink (production path; requires the
    * spark-sql-kafka connector on the classpath). Provisions the output
    * topic first, like the reference's TopicProvisioner-before-start
    * lifecycle (TopicProvisioner.java:22-55); pass a custom provisioner to
    * override the default AdminClient binding.
    */
  def startKafka(spark: SparkSession, spec: PipelineSpec, sources: SourceResolver,
      bootstrapServers: String, checkpoint: String,
      provisioner: Option[graft.sinks.TopicProvisioner] = None): StreamingQuery = {
    requireNoBranches(spec, "startKafka")
    val topic = spec.outputTopic.filter(_.enabled).getOrElse(
      throw new IllegalArgumentException(s"[${spec.id}] no enabled outputTopic"))
    startKafkaSink(spark, spec, build(spark, spec, sources), topic,
      bootstrapServers, s"$checkpoint/${topic.name}", provisioner)
  }

  /** Branch fan-out to Kafka topics: main output plus one query per branch,
    * each with its own checkpoint subdirectory and provisioned topic.
    */
  def startKafkaBranches(spark: SparkSession, spec: PipelineSpec, sources: SourceResolver,
      bootstrapServers: String, checkpoint: String,
      provisioner: Option[graft.sinks.TopicProvisioner] = None): Seq[StreamingQuery] = {
    val df = build(spark, spec, sources)
    import org.apache.spark.sql.functions.expr
    val main = spec.outputTopic.filter(_.enabled).map(t =>
      startKafkaSink(spark, spec, df, t, bootstrapServers,
        s"$checkpoint/${t.name}", provisioner)).toSeq
    main ++ spec.branches.filter(_.outputTopic.enabled).map(b =>
      startKafkaSink(spark, spec, df.filter(expr(b.predicate)), b.outputTopic,
        bootstrapServers, s"$checkpoint/${b.outputTopic.name}", provisioner))
  }

  private def startKafkaSink(spark: SparkSession, spec: PipelineSpec,
      df: org.apache.spark.sql.DataFrame, topic: graft.config.OutputTopic,
      bootstrapServers: String, checkpoint: String,
      provisioner: Option[graft.sinks.TopicProvisioner]): StreamingQuery = {
    provisioner.getOrElse(new graft.sinks.KafkaTopicProvisioner(
      () => graft.sinks.TopicAdmin.reflective(bootstrapServers))).provision(topic)
    Interpreter.toKafkaShape(df)
      .writeStream.format("kafka")
      .option("kafka.bootstrap.servers", bootstrapServers)
      .option("topic", topic.name)
      .option("checkpointLocation", checkpoint)
      .outputMode(outputModeFor(spec))
      .trigger(Trigger.ProcessingTime("1 second"))
      .start()
  }
}

/** Streaming source resolver over file streams (parquet directories): the
  * stream side is `readStream`, while `table`/`globalTable` sides stay batch
  * snapshots — the stream–table join therefore plans as Spark's
  * stream–static join, which is exactly Kafka Streams' KStream⋈KTable
  * enrichment semantics (the table is the current materialized state).
  */
class FileStreamSourceResolver(dir: String, val catalog: SchemaCatalog,
    maxFilesPerTrigger: Int = 1) extends SourceResolver {
  override def dataDir: Option[String] = Some(dir)
  private val batch = new graft.sources.ParquetSourceResolver(dir, catalog)

  override def stream(spark: SparkSession, topic: TopicConfig): DataFrame = {
    // File streams need an explicit schema — the RAW one (nanos columns are
    // LongType pre-conversion); the nanos→micros projection layers on top,
    // identical to the batch path. File streams also require a DIRECTORY;
    // the testdata topics are single parquet files, so stage a symlink dir.
    val raw = spark.readStream
      .schema(batch.rawSchema(spark, topic))
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(stagedDir(topic.name))
    graft.sources.Sources.fixNanos(raw, catalog, topic.name)
  }

  // one staged symlink dir per topic, reused across stream() calls and
  // cleaned at JVM exit — creating a fresh temp dir per call leaked a
  // tmpdir per stream start in a long-lived app (round-6 advisor finding)
  private val staged = scala.collection.concurrent.TrieMap.empty[String, String]

  private def stagedDir(name: String): String = {
    import java.nio.file.{Files, Paths}
    val src = Paths.get(batch.path(name))
    if (Files.isDirectory(src)) src.toString
    else staged.getOrElseUpdate(name, {
      val d = Files.createTempDirectory(s"graft-stream-$name")
      Files.createSymbolicLink(d.resolve(s"$name.parquet"), src)
      d.toFile.deleteOnExit()
      d.resolve(s"$name.parquet").toFile.deleteOnExit()
      d.toString
    })
  }

  override def table(spark: SparkSession, topic: TopicConfig): DataFrame =
    batch.table(spark, topic)
}
