package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.config.PipelineSpec
import graft.sinks.{KafkaTopicProvisioner, Peek, PipelineRunner, TopicAdmin}
import graft.sources.ParquetSourceResolver

class SinksSpec extends SparkSuite {

  test("Kafka provisioner maps topic DDL knobs like the reference (R18)") {
    // stub admin records what the provisioner asked for
    val calls = scala.collection.mutable.ArrayBuffer
      .empty[(String, Int, Short, Map[String, String])]
    var closed = 0
    def stub() = new TopicAdmin {
      override def createTopic(name: String, partitions: Int, rf: Short,
          configs: Map[String, String]): Unit = calls += ((name, partitions, rf, configs))
      override def close(): Unit = closed += 1
    }
    val p = new KafkaTopicProvisioner(() => stub())

    // defaults: 3 partitions / RF 1, no configs (TopicProvisioner.java:27-35)
    p.provision(graft.config.OutputTopic(name = "t-default"))
    // explicit retention → retention.ms
    p.provision(graft.config.OutputTopic(name = "t-ret",
      retentionMs = Some(86400000L), partitions = Some(6), replicationFactor = Some(2: Short)))
    // retentionMs == -1 → compacted (TopicProvisioner.java:37-43)
    p.provision(graft.config.OutputTopic(name = "t-compact", retentionMs = Some(-1L)))

    assert(calls.toSeq == Seq(
      ("t-default", 3, 1: Short, Map.empty[String, String]),
      ("t-ret", 6, 2: Short, Map("retention.ms" -> "86400000")),
      ("t-compact", 3, 1: Short, Map("cleanup.policy" -> "compact"))))
    assert(closed == 3) // admin closed per provision even on success
  }

  test("end-to-end batch pipeline: spec → join → kafka-shaped sink with partitions (R15/R18)") {
    val out = tempDir("graft-sink")
    val spec = PipelineSpec.fromJson(
      """{"id":"orders-customer-enrichment","processingMode":"JOIN_CHAIN",
        |"sourceTopic":{"name":"orders","keyClass":"java.lang.Long"},
        |"joinOperations":[{"id":"customer-step","type":"INNER_JOIN",
        |  "initialSourceIsStream":true,
        |  "primaryKeyExtraction":{"source":"VALUE","fieldName":"o_custkey"},
        |  "enrichmentTopic":{"name":"customer","keyClass":"java.lang.Long"},
        |  "outputFieldsMapping":[
        |    {"source":"LEFT","sourceFieldName":"o_orderkey","outputFieldName":"order_id"},
        |    {"source":"RIGHT","sourceFieldName":"c_name","outputFieldName":"customer_name"}]}],
        |"outputTopic":{"enabled":true,"name":"enriched-orders","partitions":2,"retentionMs":-1}}"""
        .stripMargin)
    val path = PipelineRunner.runBatch(spark, spec,
      new ParquetSourceResolver(sf(), graft.config.TestdataCatalog), out)
    assert(path.nonEmpty)
    val written = spark.read.parquet(path.head)
    assert(written.columns.toSeq == Seq("key", "value"))
    val row = written.filter(col("key").isNotNull).limit(1)
      .select(from_json(col("value"),
        org.apache.spark.sql.types.StructType.fromDDL("order_id BIGINT, customer_name STRING"))
        .as("v")).select("v.order_id", "v.customer_name").head()
    assert(row.getLong(0) > 0 && row.getString(1).nonEmpty)
    // provisioner descriptor records the compaction sentinel (retentionMs=-1)
    val desc = new String(Files.readAllBytes(
      java.nio.file.Paths.get(out, "enriched-orders", "_graft_topic.json")))
    assert(desc.contains("\"compacted\":true") && desc.contains("\"partitions\":2"))
  }

  test("disabled output topic writes nothing (DynamicTopologyBuilder.java:62 gate)") {
    val out = tempDir("graft-sink2")
    val spec = PipelineSpec.fromJson(
      """{"id":"p","processingMode":"SIMPLE_STREAM",
        |"sourceTopic":{"name":"events","keyClass":"java.lang.Long"},
        |"outputTopic":{"enabled":false,"name":"nope"}}""".stripMargin)
    val path = PipelineRunner.runBatch(spark, spec,
      new ParquetSourceResolver(sf(), graft.config.TestdataCatalog), out)
    assert(path.isEmpty)
    assert(!Files.exists(java.nio.file.Paths.get(out, "nope")))
  }

  test("branches route the one built output to predicate-filtered topics (split)") {
    val out = tempDir("graft-sink3")
    val spec = PipelineSpec.fromJson(
      """{"id":"events-split","processingMode":"SIMPLE_STREAM",
        |"sourceTopic":{"name":"events","keyClass":"java.lang.Long"},
        |"outputTopic":{"enabled":true,"name":"events-all"},
        |"branches":[
        |  {"predicate":"event_type = 'error'",
        |   "outputTopic":{"enabled":true,"name":"events-errors"}},
        |  {"predicate":"value > 100",
        |   "outputTopic":{"enabled":true,"name":"events-big"}}]}""".stripMargin)
    val paths = PipelineRunner.runBatch(spark, spec,
      new ParquetSourceResolver(sf(), graft.config.TestdataCatalog), out)
    assert(paths.size == 3)
    val ev = spark.read.parquet(s"${sf()}/events.parquet")
    val all = spark.read.parquet(paths(0)).count()
    val errors = spark.read.parquet(paths(1)).count()
    val big = spark.read.parquet(paths(2)).count()
    assert(all == ev.count())
    assert(errors == ev.filter(col("event_type") === "error").count() && errors > 0)
    assert(big == ev.filter(col("value") > 100).count() && big > 0)
  }

  test("peek/observe reports row and null-key counts without changing data (R13)") {
    val ev = spark.read.parquet(s"${sf()}/events.parquet")
      .withColumn(graft.pipeline.Interpreter.KeyCol,
        when(col("event_id") % 10 === 0, lit(null)).otherwise(col("event_id")))
    val (observed, obs) = Peek.observed(ev, "peek_test")
    val n = observed.count()
    val m = obs.get
    assert(m("rows") == n)
    assert(m("null_keys").asInstanceOf[Long] > 0)
  }

  test("upsertSnapshot applies changelog batches last-write-wins; stale updates lose (R2 write side)") {
    val dir = tempDir("graft_upsert") + "/snap"
    def batch(rows: Seq[(Long, Long, String)]) =
      spark.createDataFrame(rows).toDF("k", "ver", "v")
    // first batch materializes the latest view
    val n1 = graft.sinks.BatchSink.upsertSnapshot(spark, dir,
      batch(Seq((1L, 1L, "a1"), (1L, 2L, "a2"), (2L, 1L, "b1"))), Seq("k"), Seq("ver"))
    assert(n1 == 2)
    // second batch: newer version for k=1, STALE version for k=2, new k=3
    val n2 = graft.sinks.BatchSink.upsertSnapshot(spark, dir,
      batch(Seq((1L, 3L, "a3"), (2L, 0L, "stale"), (3L, 1L, "c1"))), Seq("k"), Seq("ver"))
    assert(n2 == 3)
    val got = spark.read.parquet(dir).collect()
      .map(r => (r.getLong(0), r.getString(2))).toMap
    assert(got == Map(1L -> "a3", 2L -> "b1", 3L -> "c1"),
      s"stale change must not clobber the newer snapshot row: $got")
    // crash-window recovery: simulate a crash between the two swap renames
    // (snapshot moved aside, replacement never installed) — the next upsert
    // must restore the aside copy and merge against it, not start fresh
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    assert(fs.rename(new org.apache.hadoop.fs.Path(dir),
      new org.apache.hadoop.fs.Path(dir + ".old")))
    val n3 = graft.sinks.BatchSink.upsertSnapshot(spark, dir,
      batch(Seq((4L, 1L, "d1"))), Seq("k"), Seq("ver"))
    assert(n3 == 4, s"recovery lost the aside snapshot: $n3 rows")
    val recovered = spark.read.parquet(dir).collect()
      .map(r => (r.getLong(0), r.getString(2))).toMap
    assert(recovered == Map(1L -> "a3", 2L -> "b1", 3L -> "c1", 4L -> "d1"))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(dir + ".old")))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(dir + ".staging")))
    // schema evolution: a changelog gaining a column widens the snapshot,
    // history rows carry null (the reference's lenient schema-on-read
    // posture, SerdeFactory.java:30)
    val n5 = graft.sinks.BatchSink.upsertSnapshot(spark, dir,
      spark.createDataFrame(Seq((5L, 1L, "e1", "extra"))).toDF("k", "ver", "v", "w"),
      Seq("k"), Seq("ver"))
    assert(n5 == 5)
    val widened = spark.read.parquet(dir).collect()
      .map(r => (r.getAs[Long]("k"), Option(r.getAs[String]("w")))).toMap
    assert(widened(5L).contains("extra") && widened(1L).isEmpty,
      s"schema evolution must widen with nulls: $widened")

  }

  test("partitioned upsertSnapshot merges only touched partitions; untouched files untouched") {
    import org.apache.hadoop.fs.{Path => HPath}
    val dir = tempDir("graft_upsert_part") + "/snap"
    val fs = new HPath(dir).getFileSystem(spark.sessionState.newHadoopConf())
    // bucket is key-determined (k % 2) — the partitioned contract
    def batch(rows: Seq[(Long, Long, String)]) =
      spark.createDataFrame(rows.map { case (k, ver, v) => (k, k % 2, ver, v) })
        .toDF("k", "bucket", "ver", "v")
    // first batch: keys in both buckets
    val n1 = graft.sinks.BatchSink.upsertSnapshot(spark, dir,
      batch(Seq((1L, 1L, "a1"), (2L, 1L, "b1"), (4L, 1L, "d1"))),
      Seq("k"), Seq("ver"), Seq("bucket"))
    assert(n1 == 3)
    assert(fs.exists(new HPath(dir + "/bucket=0")) && fs.exists(new HPath(dir + "/bucket=1")))
    // fingerprint bucket=0's files (names + mtimes): the next batch touches
    // only bucket=1, so these files must not be rewritten
    def files(p: String) = fs.listStatus(new HPath(p)).toSeq
      .filter(_.isFile).map(s => (s.getPath.getName, s.getModificationTime)).sorted
    val before0 = files(dir + "/bucket=0")
    assert(before0.nonEmpty)
    // second batch: newer version for k=1 plus new k=5 — both bucket=1, so
    // only bucket=1 is merged (k=1 updated + k=5 inserted → 2 rows live there)
    val n2 = graft.sinks.BatchSink.upsertSnapshot(spark, dir,
      batch(Seq((1L, 2L, "a2"), (5L, 1L, "e1"))), Seq("k"), Seq("ver"), Seq("bucket"))
    assert(n2 == 2, s"touched-partition (bucket=1) row count after merge: $n2")
    assert(files(dir + "/bucket=0") == before0,
      "untouched partition bucket=0 was rewritten by a bucket=1-only delta")
    // stale update for k=1 must lose against the stored ver=2
    val n3 = graft.sinks.BatchSink.upsertSnapshot(spark, dir,
      batch(Seq((1L, 0L, "stale"))), Seq("k"), Seq("ver"), Seq("bucket"))
    assert(n3 == 2)
    val got = spark.read.parquet(dir).collect()
      .map(r => (r.getAs[Long]("k"), r.getAs[String]("v"))).toMap
    assert(got == Map(1L -> "a2", 2L -> "b1", 4L -> "d1", 5L -> "e1"), s"$got")
    // per-partition crash recovery: simulate a crash between bucket=1's two
    // swap renames (moved aside, replacement never installed)
    fs.mkdirs(new HPath(dir + ".old"))
    assert(fs.rename(new HPath(dir + "/bucket=1"), new HPath(dir + ".old/bucket=1")))
    val n4 = graft.sinks.BatchSink.upsertSnapshot(spark, dir,
      batch(Seq((2L, 2L, "b2"))), Seq("k"), Seq("ver"), Seq("bucket"))
    assert(n4 == 2, s"bucket=0 merge after recovery: $n4") // k=2,k=4 live in bucket=0
    val recovered = spark.read.parquet(dir).collect()
      .map(r => (r.getAs[Long]("k"), r.getAs[String]("v"))).toMap
    assert(recovered == Map(1L -> "a2", 2L -> "b2", 4L -> "d1", 5L -> "e1"),
      s"recovery lost the aside partition: $recovered")
    assert(!fs.exists(new HPath(dir + ".old")))
    assert(!fs.exists(new HPath(dir + ".staging")))
    // layout guard: a partitioned upsert must refuse a flat snapshot rather
    // than install partition dirs next to its part-files
    val flat = tempDir("graft_upsert_flat") + "/snap"
    graft.sinks.BatchSink.upsertSnapshot(spark, flat,
      batch(Seq((1L, 1L, "a1"))), Seq("k"), Seq("ver"))
    val e = intercept[IllegalArgumentException] {
      graft.sinks.BatchSink.upsertSnapshot(spark, flat,
        batch(Seq((2L, 1L, "b1"))), Seq("k"), Seq("ver"), Seq("bucket"))
    }
    assert(e.getMessage.contains("unpartitioned snapshot"))
    // merge-column guard: lenient schema evolution must never null out a
    // key or order column — a batch missing one is a misconfigured writer
    val e2 = intercept[IllegalArgumentException] {
      graft.sinks.BatchSink.upsertSnapshot(spark, flat,
        spark.createDataFrame(Seq((2L, "b1"))).toDF("k", "v"), Seq("k"), Seq("ver"))
    }
    assert(e2.getMessage.contains("key/order columns"))
  }

  test("compactSnapshot shrinks multi-file partitions, skips healthy ones, changes no rows") {
    import org.apache.hadoop.fs.{Path => HPath}
    val dir = tempDir("graft_compact_part") + "/snap"
    val fs = new HPath(dir).getFileSystem(spark.sessionState.newHadoopConf())
    def batch(rows: Seq[(Long, Long, String)]) =
      spark.createDataFrame(rows.map { case (k, ver, v) => (k, k % 2, ver, v) })
        .toDF("k", "bucket", "ver", "v")
    def files(p: String) = fs.listStatus(new HPath(p)).toSeq
      .filter(s => s.isFile && !s.getPath.getName.startsWith("_"))
      .map(s => (s.getPath.getName, s.getModificationTime)).sorted
    graft.sinks.BatchSink.upsertSnapshot(spark, dir,
      batch(Seq((1L, 1L, "a1"), (2L, 1L, "b1"), (3L, 1L, "c1"), (5L, 1L, "e1"))),
      Seq("k"), Seq("ver"), Seq("bucket"))
    // fragment bucket=1 in place (same rows, three files) — the shape a
    // long-running sink's many small merge writes accumulate toward
    locally {
      val p1 = dir + "/bucket=1"
      val tmp = new HPath(dir + ".frag")
      spark.read.option("basePath", dir).parquet(p1).drop("bucket")
        .repartition(3).write.parquet(tmp.toString)
      fs.listStatus(new HPath(p1)).filter(_.isFile)
        .foreach(s => fs.delete(s.getPath, false))
      fs.listStatus(tmp).filter(s => s.isFile &&
          !s.getPath.getName.startsWith("_"))
        .foreach(s => assert(fs.rename(s.getPath, new HPath(p1, s.getPath.getName))))
      fs.delete(tmp, true)
    }
    val before = spark.read.parquet(dir).collect()
      .map(r => (r.getAs[Long]("k"), r.getAs[Long]("bucket"), r.getAs[String]("v"))).toSet
    val healthy0 = files(dir + "/bucket=0")
    assert(files(dir + "/bucket=1").size > 1, "fixture: bucket=1 must be fragmented")
    val removed = graft.sinks.BatchSink.compactSnapshot(spark, dir, Seq("bucket"))
    assert(removed > 0, "compaction removed no files from a fragmented store")
    // one generous-budget file per fragmented partition; healthy partition
    // untouched down to file names and mtimes
    assert(files(dir + "/bucket=1").size == 1, s"${files(dir + "/bucket=1")}")
    assert(files(dir + "/bucket=0") == healthy0,
      "compaction rewrote a healthy partition")
    val after = spark.read.parquet(dir).collect()
      .map(r => (r.getAs[Long]("k"), r.getAs[Long]("bucket"), r.getAs[String]("v"))).toSet
    assert(after == before, "compaction changed the stored rows")
    // partition pruning still works on the compacted layout
    val pruned = spark.read.parquet(dir).filter(col("bucket") === 1L)
    assert(pruned.queryExecution.executedPlan.toString.contains("PartitionFilters"))
    // idempotent: a second pass is a no-op
    assert(graft.sinks.BatchSink.compactSnapshot(spark, dir, Seq("bucket")) == 0L)
    // the next upsert proceeds normally on the compacted store
    graft.sinks.BatchSink.upsertSnapshot(spark, dir,
      batch(Seq((1L, 2L, "a2"))), Seq("k"), Seq("ver"), Seq("bucket"))
    assert(spark.read.parquet(dir).filter(col("k") === 1L).head.getAs[String]("v") == "a2")
    // flat store: fragment by writing with many partitions, compact to one
    val flat = tempDir("graft_compact_flat") + "/snap"
    spark.createDataFrame((1 to 50).map(i => (i.toLong, 1L, s"v$i")))
      .toDF("k", "ver", "v").repartition(8)
      .write.parquet(flat)
    assert(files(flat).size > 1)
    val beforeFlat = spark.read.parquet(flat).count()
    assert(graft.sinks.BatchSink.compactSnapshot(spark, flat) > 0)
    assert(files(flat).size == 1 && spark.read.parquet(flat).count() == beforeFlat)
    assert(graft.sinks.BatchSink.compactSnapshot(spark, flat) == 0L)
    // layout guards in both directions, and a missing store fails fast
    intercept[IllegalArgumentException](
      graft.sinks.BatchSink.compactSnapshot(spark, flat, Seq("bucket")))
    intercept[IllegalArgumentException](
      graft.sinks.BatchSink.compactSnapshot(spark, dir)) // partitioned, no cols
    intercept[IllegalArgumentException](
      graft.sinks.BatchSink.compactSnapshot(spark, tempDir("graft_compact_none") + "/nope"))
  }

  test("flat upsert, partitioned upsert and compactSnapshot stay within their Spark job counts") {
    def batch(rows: Seq[(Long, Long, String)]) =
      spark.createDataFrame(rows.map { case (k, ver, v) => (k, k % 4, ver, v) })
        .toDF("k", "bucket", "ver", "v")
    val seed = batch((0L until 40L).map(k => (k, 1L, s"a$k")))
    val delta = batch(Seq((1L, 2L, "b1"), (5L, 2L, "b5"), (41L, 1L, "n41")))
    // steady state: each verb runs against a store that already exists
    val flat = tempDir("graft_jobs_flat") + "/snap"
    graft.sinks.BatchSink.upsertSnapshot(spark, flat, seed.drop("bucket"),
      Seq("k"), Seq("ver"))
    val flatJobs = jobsDuring(graft.sinks.BatchSink.upsertSnapshot(spark, flat,
      delta.drop("bucket"), Seq("k"), Seq("ver")))
    val part = tempDir("graft_jobs_part") + "/snap"
    graft.sinks.BatchSink.upsertSnapshot(spark, part, seed,
      Seq("k"), Seq("ver"), Seq("bucket"))
    val partJobs = jobsDuring(graft.sinks.BatchSink.upsertSnapshot(spark, part,
      delta, Seq("k"), Seq("ver"), Seq("bucket")))
    // compaction: fragmented flat and partitioned stores
    val fragFlat = tempDir("graft_jobs_cflat") + "/snap"
    seed.drop("bucket").repartition(6).write.parquet(fragFlat)
    val flatCompactJobs = jobsDuring(assert(graft.sinks.BatchSink.compactSnapshot(
      spark, fragFlat, sortCols = Seq("k")) > 0))
    val fragPart = tempDir("graft_jobs_cpart") + "/snap"
    seed.repartition(3).write.partitionBy("bucket").parquet(fragPart)
    val partCompactJobs = jobsDuring(assert(graft.sinks.BatchSink.compactSnapshot(
      spark, fragPart, Seq("bucket"), sortCols = Seq("k")) > 0))
    info(s"jobs: flat upsert $flatJobs, partitioned upsert $partJobs, " +
      s"flat compact $flatCompactJobs, partitioned compact $partCompactJobs")
    // the counts measured when the flat and partitioned upserts came to
    // share one body, the flat upsert's lowered by its job-free read of the
    // store it installed; a new probe job on any of these paths fails here
    assert(flatJobs <= FlatUpsertJobs && partJobs <= PartitionedUpsertJobs &&
      flatCompactJobs <= FlatCompactJobs && partCompactJobs <= PartitionedCompactJobs,
      s"flat upsert ran $flatJobs jobs (pin $FlatUpsertJobs), partitioned " +
        s"upsert $partJobs ($PartitionedUpsertJobs), flat compact " +
        s"$flatCompactJobs ($FlatCompactJobs), partitioned compact " +
        s"$partCompactJobs ($PartitionedCompactJobs)")
  }
  private val FlatUpsertJobs = 2
  private val PartitionedUpsertJobs = 5
  private val FlatCompactJobs = 3
  private val PartitionedCompactJobs = 12

  test("compactSnapshot sortCols keeps per-file key ranges DISJOINT (footer pruning preserved)") {
    import org.apache.hadoop.fs.{Path => HPath}
    val flat = tempDir("graft_compact_sorted") + "/snap"
    val fs = new HPath(flat).getFileSystem(spark.sessionState.newHadoopConf())
    // a store whose accumulated files interleave the key space — the shape
    // repeated upserts produce; a plain coalesce would KEEP the interleave
    spark.createDataFrame((1 to 400).map(i => (i.toLong, 1L, s"v$i")))
      .toDF("k", "ver", "v").repartition(8) // hash-partitioned: every file spans ~the full key range
      .write.parquet(flat)
    def dataFiles() = fs.listStatus(new HPath(flat)).toSeq
      .filter(s => s.isFile && !s.getPath.getName.startsWith("_")).map(_.getPath)
    val totalBytes = fs.listStatus(new HPath(flat)).filter(_.isFile).map(_.getLen).sum
    val before = spark.read.parquet(flat).collect()
      .map(r => (r.getLong(0), r.getString(2))).toSet
    // target ~4 output files so disjointness is tested across several
    val removed = graft.sinks.BatchSink.compactSnapshot(spark, flat,
      targetBytes = math.max(1L, totalBytes / 4), sortCols = Seq("k"))
    assert(removed > 0, "fixture: compaction must rewrite")
    val ranges = dataFiles().map { p =>
      val mm = spark.read.parquet(p.toString).agg(min("k"), max("k")).head()
      (mm.getLong(0), mm.getLong(1))
    }.sortBy(_._1)
    assert(ranges.size >= 2, s"want several output files, got $ranges")
    ranges.sliding(2).foreach { case Seq((_, hi), (lo, _)) =>
      assert(hi < lo, s"overlapping key ranges after sorted compaction: $ranges")
    case _ => }
    // rows unchanged, and the parquet footer stats (what the ranges above
    // measure) now let a point lookup skip all files but one
    val after = spark.read.parquet(flat).collect()
      .map(r => (r.getLong(0), r.getString(2))).toSet
    assert(after == before)
    // z-order layout: runs, preserves rows; exclusive with sortCols
    val zdir = tempDir("graft_compact_z") + "/snap"
    spark.createDataFrame((1 to 400).map(i => (i.toLong, (i * 37 % 400).toLong, s"v$i")))
      .toDF("x", "y", "v").repartition(8).write.parquet(zdir)
    val zBefore = spark.read.parquet(zdir).count()
    val zTotal = fs.listStatus(new HPath(zdir)).filter(_.isFile).map(_.getLen).sum
    assert(graft.sinks.BatchSink.compactSnapshot(spark, zdir,
      targetBytes = math.max(1L, zTotal / 4), zOrderCols = Seq("x", "y")) > 0)
    assert(spark.read.parquet(zdir).count() == zBefore)
    intercept[IllegalArgumentException](graft.sinks.BatchSink.compactSnapshot(
      spark, zdir, sortCols = Seq("x"), zOrderCols = Seq("x", "y")))
  }

  test("partitioned upsert READS only the touched partitions (pruning pinned on the executed plan)") {
    // The 100 TB claim of the partitioned sink is on the READ side: a
    // micro-batch merge must scan |touched partitions|, not |snapshot|.
    // SinksSpec already pins that untouched partitions aren't REWRITTEN;
    // this pins they aren't READ — nor even listed: the executed merge
    // plan's snapshot scan must be rooted at the touched directory alone
    // and open only its files.
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    val dir = tempDir("graft_upsert_prune") + "/snap"
    def batch(rows: Seq[(Long, Long, String)]) =
      spark.createDataFrame(rows.map { case (k, ver, v) => (k, k % 4, ver, v) })
        .toDF("k", "bucket", "ver", "v")
    // seed all four buckets
    graft.sinks.BatchSink.upsertSnapshot(spark, dir,
      batch(Seq((0L, 1L, "a"), (1L, 1L, "b"), (2L, 1L, "c"), (3L, 1L, "d"))),
      Seq("k"), Seq("ver"), Seq("bucket"))
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    def dataFiles(p: String): Int = fs.listStatus(new org.apache.hadoop.fs.Path(p))
      .count(s => s.isFile && !s.getPath.getName.startsWith("_"))
    val touchedBucketFiles = dataFiles(dir + "/bucket=1")
    // capture the merge's snapshot scan from the EXECUTED plan (AQE wraps
    // the tree in adaptive/stage nodes that hide children from collect)
    def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case q: QueryStageExec        => scans(q.plan)
      case f: FileSourceScanExec    => Seq(f)
      case other => other.children.flatMap(scans)
    }
    val captured = new java.util.concurrent.ConcurrentLinkedQueue[FileSourceScanExec]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit =
        scans(qe.executedPlan)
          .filter(_.relation.location.rootPaths.exists(_.toString.contains("/snap")))
          .foreach(captured.add)
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      // delta touches ONLY bucket=1 (k=1 update, k=5 insert; both k%4==1)
      graft.sinks.BatchSink.upsertSnapshot(spark, dir,
        batch(Seq((1L, 2L, "b2"), (5L, 1L, "e1"))), Seq("k"), Seq("ver"), Seq("bucket"))
      // the execution listener bus is asynchronous — wait for the capture
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (captured.isEmpty && System.nanoTime() < deadline) Thread.sleep(50)
      val scan = {
        assert(!captured.isEmpty, "merge produced no snapshot FileSourceScanExec")
        captured.peek()
      }
      assert(scan.relation.location.rootPaths.map(_.getName) == Seq("bucket=1"),
        s"snapshot slice scan is rooted at ${scan.relation.location.rootPaths} — " +
          "the merge lists more than the touched directory (full-snapshot scan at 100 TB)")
      assert(scan.metrics("numPartitions").value == 1,
        s"merge read ${scan.metrics("numPartitions").value} partition dirs for a " +
          "one-bucket delta — untouched directories were opened")
      assert(scan.metrics("numFiles").value == touchedBucketFiles,
        s"merge read ${scan.metrics("numFiles").value} files; bucket=1 holds " +
          s"$touchedBucketFiles — untouched partitions' files were read")
    } finally spark.listenerManager.unregister(listener)
  }

  test("partitioned upsert: a non-parquet file in an untouched partition does not fail a merge elsewhere") {
    val dir = tempDir("graft_upsert_foreign") + "/snap"
    def batch(rows: Seq[(Long, Long, String)]) =
      spark.createDataFrame(rows.map { case (k, ver, v) => (k, k % 2, ver, v) })
        .toDF("k", "bucket", "ver", "v")
    graft.sinks.BatchSink.upsertSnapshot(spark, dir,
      batch(Seq((1L, 1L, "a1"), (2L, 1L, "b1"))), Seq("k"), Seq("ver"), Seq("bucket"))
    // an operator's note dropped into bucket=0: not parquet, not hidden
    Files.write(java.nio.file.Paths.get(dir, "bucket=0", "NOTES.txt"),
      "not a parquet file".getBytes("UTF-8"))
    val n = graft.sinks.BatchSink.upsertSnapshot(spark, dir,
      batch(Seq((1L, 2L, "a2"), (3L, 1L, "c1"))), Seq("k"), Seq("ver"), Seq("bucket"))
    assert(n == 2, s"bucket=1 rows after the merge: $n")
    val bucket1 = spark.read.parquet(s"$dir/bucket=1").collect()
      .map(r => (r.getAs[Long]("k"), r.getAs[String]("v"))).toMap
    assert(bucket1 == Map(1L -> "a2", 3L -> "c1"), s"$bucket1")
  }

  test("partitioned upsert over random batches equals one-shot latestPerKey; replay idempotent") {
    // the KTable-sink equivalence law, over both layouts: any sequence of
    // changelog batches (with stale versions and immediate replays mixed
    // in) must converge to latestPerKey over the concatenation of
    // everything ingested — the same law the reference's RocksDB-backed
    // KTable provides. One batch is a backfill that touches every bucket;
    // in the partitioned layout, every partition a batch does not touch
    // keeps its files unrewritten
    import org.apache.hadoop.fs.{Path => HPath}
    for (partitionCols <- Seq(Seq("bucket"), Nil)) {
      val rng = new scala.util.Random(7)
      val dir = tempDir("graft_upsert_prop") + "/snap"
      val fs = new HPath(dir).getFileSystem(spark.sessionState.newHadoopConf())
      def files(): Map[String, Seq[(String, Long)]] =
        if (partitionCols.isEmpty || !fs.exists(new HPath(dir))) Map.empty
        else fs.listStatus(new HPath(dir)).toSeq.filter(_.isDirectory).map { d =>
          d.getPath.getName -> fs.listStatus(d.getPath).toSeq
            .map(s => (s.getPath.getName, s.getModificationTime)).sorted
        }.toMap
      val ingested = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, String)]
      var version = 0L
      var untouchedChecked = 0
      for (b <- 1 to 7) {
        val backfill = b == 4
        val rows = Seq.fill(if (backfill) 40 else 1 + rng.nextInt(8)) {
          val k = rng.nextInt(12).toLong
          version += 1
          // ~20% stale versions; the value is a pure function of (k, ver) so
          // an accidental (k, ver) tie cannot make "latest" ambiguous
          val v = if (rng.nextInt(5) == 0) math.max(1, version - 10) else version
          (k, k % 4, v, s"$k-$v")
        } ++ (if (backfill) (0L until 4L).map { k => version += 1; (k, k, version, s"$k-$version") }
              else Nil)
        ingested ++= rows
        val df = spark.createDataFrame(rows).toDF("k", "bucket", "ver", "v")
        val before = files()
        graft.sinks.BatchSink.upsertSnapshot(spark, dir, df,
          Seq("k"), Seq("ver"), partitionCols)
        if (b % 2 == 0) // redelivery: replaying the same batch must be a no-op
          graft.sinks.BatchSink.upsertSnapshot(spark, dir, df,
            Seq("k"), Seq("ver"), partitionCols)
        val touched = rows.map(r => s"bucket=${r._2}").toSet
        if (backfill && partitionCols.nonEmpty)
          assert(touched.size == 4, "fixture: the backfill must touch every bucket")
        val untouched = before -- touched
        untouchedChecked += untouched.size
        assert(untouched.forall { case (p, fp) => files().get(p).contains(fp) },
          s"${partitionCols.mkString} batch $b rewrote a partition it does not touch")
        val got = spark.read.parquet(dir).collect()
          .map(r => (r.getAs[Long]("k"), r.getAs[String]("v"))).toMap
        val want = graft.sources.Tables.latestPerKey(
          spark.createDataFrame(ingested.toSeq).toDF("k", "bucket", "ver", "v"),
          Seq("k"), Seq("ver")).collect()
          .map(r => (r.getAs[Long]("k"), r.getAs[String]("v"))).toMap
        assert(got == want,
          s"${partitionCols.mkString} batch $b diverged: got $got want $want")
      }
      if (partitionCols.nonEmpty)
        assert(untouchedChecked > 0, "fixture: no batch left a stored partition untouched")
    }
  }

  test("partitioned upsert: schema evolution survives re-touching; flat-crash aside is restored not deleted") {
    import org.apache.hadoop.fs.{Path => HPath}
    val dir = tempDir("graft_upsert_evo") + "/snap"
    val fs = new HPath(dir).getFileSystem(spark.sessionState.newHadoopConf())
    def b3(rows: Seq[(Long, Long, String)]) =
      spark.createDataFrame(rows.map { case (k, ver, v) => (k, k % 2, ver, v) })
        .toDF("k", "bucket", "ver", "v")
    graft.sinks.BatchSink.upsertSnapshot(spark, dir,
      b3(Seq((1L, 1L, "a1"), (2L, 1L, "b1"))), Seq("k"), Seq("ver"), Seq("bucket"))
    // batch 2 widens bucket=1 with column w
    graft.sinks.BatchSink.upsertSnapshot(spark, dir,
      spark.createDataFrame(Seq((3L, 1L, 1L, "c1", "wide")))
        .toDF("k", "bucket", "ver", "v", "w"),
      Seq("k"), Seq("ver"), Seq("bucket"))
    // batch 3 re-touches bucket=1 WITHOUT w: the slice read must merge the
    // heterogeneous file schemas, or w's data would be silently dropped in
    // the rewrite
    graft.sinks.BatchSink.upsertSnapshot(spark, dir,
      b3(Seq((5L, 1L, "e1"))), Seq("k"), Seq("ver"), Seq("bucket"))
    val w = spark.read.option("mergeSchema", "true").parquet(dir).collect()
      .map(r => (r.getAs[Long]("k"), Option(r.getAs[String]("w")))).toMap
    assert(w(3L).contains("wide"),
      s"evolved column lost when its partition was re-touched: $w")
    assert(w(5L).isEmpty && w(1L).isEmpty)
    // cross-layout crash: a FLAT aside (a flat upsert's crash window) with
    // cur absent must be restored, never deleted — then the layout guard
    // rejects the flat snapshot with instructions
    val flat2 = tempDir("graft_upsert_x") + "/snap"
    graft.sinks.BatchSink.upsertSnapshot(spark, flat2,
      spark.createDataFrame(Seq((1L, 1L, "a1"))).toDF("k", "ver", "v"), Seq("k"), Seq("ver"))
    assert(fs.rename(new HPath(flat2), new HPath(flat2 + ".old")))
    val e = intercept[IllegalArgumentException] {
      graft.sinks.BatchSink.upsertSnapshot(spark, flat2,
        spark.createDataFrame(Seq((2L, 0L, 1L, "b1"))).toDF("k", "bucket", "ver", "v"),
        Seq("k"), Seq("ver"), Seq("bucket"))
    }
    assert(e.getMessage.contains("unpartitioned snapshot"))
    // the only copy survived, restored to cur
    val restored = spark.read.parquet(flat2).collect()
      .map(r => (r.getAs[Long]("k"), r.getAs[String]("v"))).toMap
    assert(restored == Map(1L -> "a1"), s"flat aside was not restored: $restored")
    // reverse layout guard: a flat upsert must refuse a partitioned
    // snapshot (a restart that lost the partitionCols argument) rather than
    // silently rewrite and de-partition it
    val e3 = intercept[IllegalArgumentException] {
      graft.sinks.BatchSink.upsertSnapshot(spark, dir,
        b3(Seq((7L, 1L, "g1"))), Seq("k"), Seq("ver"))
    }
    assert(e3.getMessage.contains("PARTITIONED snapshot"))
  }
}
