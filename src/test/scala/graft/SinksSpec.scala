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

  test("compactSnapshot crash recovery: a kill in ANY swap window neither " +
      "loses nor doubles rows on rerun") {
    import org.apache.hadoop.fs.{FileUtil, Path => HPath}
    val conf = spark.sessionState.newHadoopConf()
    def copyDir(fs: org.apache.hadoop.fs.FileSystem, src: String, dst: String): Unit =
      assert(FileUtil.copy(fs, new HPath(src), fs, new HPath(dst), false, conf))
    def rows(p: String) = spark.read.parquet(p).collect()
      .map(r => (r.getAs[Long]("k"), r.getAs[String]("v"))).toSeq.sorted
    def mkFlat(name: String): (String, org.apache.hadoop.fs.FileSystem) = {
      val flat = tempDir(name) + "/snap"
      spark.createDataFrame((1 to 50).map(i => (i.toLong, s"v$i")))
        .toDF("k", "v").repartition(8).write.parquet(flat)
      (flat, new HPath(flat).getFileSystem(conf))
    }
    // window A — killed mid-staging-write: cur intact, .staging holds a
    // partial fileset (including an in-flight _temporary dir)
    locally {
      val (flat, fs) = mkFlat("graft_crash_a")
      val want = rows(flat)
      val staging = new HPath(flat + ".staging")
      fs.mkdirs(new HPath(staging, "_temporary/0"))
      val out = fs.create(new HPath(staging, "part-00000.parquet"))
      out.write(Array.fill(128)(0x7f.toByte)); out.close() // torn, unreadable
      assert(graft.sinks.BatchSink.compactSnapshot(spark, flat) > 0)
      assert(rows(flat) == want, "window-A rerun changed rows")
    }
    // window B — killed between the two renames: cur ABSENT, .old holds the
    // only live copy, .staging holds the full compacted rewrite. Recovery
    // must restore .old (never trust .staging — its write may itself have
    // been the casualty) and recompact from it.
    locally {
      val (flat, fs) = mkFlat("graft_crash_b")
      val want = rows(flat)
      copyDir(fs, flat, flat + ".staging")
      assert(fs.rename(new HPath(flat), new HPath(flat + ".old")))
      assert(!fs.exists(new HPath(flat)))
      assert(graft.sinks.BatchSink.compactSnapshot(spark, flat) > 0)
      assert(rows(flat) == want, "window-B rerun lost or doubled rows")
      assert(!fs.exists(new HPath(flat + ".old")) &&
        !fs.exists(new HPath(flat + ".staging")))
    }
    // window C — killed after install, before the aside delete: cur is the
    // compacted store, .old is a STALE full copy. Rerun must drop the stale
    // copy without re-merging it (doubling) and leave cur untouched.
    locally {
      val (flat, fs) = mkFlat("graft_crash_c")
      val want = rows(flat)
      assert(graft.sinks.BatchSink.compactSnapshot(spark, flat) > 0)
      copyDir(fs, flat, flat + ".old")
      assert(graft.sinks.BatchSink.compactSnapshot(spark, flat) == 0L)
      assert(rows(flat) == want, "window-C rerun changed rows")
      assert(!fs.exists(new HPath(flat + ".old")))
    }
    // partitioned store — killed mid-loop between a partition's two
    // renames: bucket=1 sits under .old, its staging rewrite exists, cur's
    // bucket=1 is ABSENT. The preamble must restore the aside copy per
    // partition, then compaction proceeds over the whole store.
    locally {
      val dir = tempDir("graft_crash_p") + "/snap"
      val fs = new HPath(dir).getFileSystem(conf)
      graft.sinks.BatchSink.upsertSnapshot(spark, dir,
        spark.createDataFrame((1 to 40).map(i =>
          (i.toLong, i.toLong % 2, 1L, s"v$i"))).toDF("k", "bucket", "ver", "v"),
        Seq("k"), Seq("ver"), Seq("bucket"))
      val want = spark.read.parquet(dir).collect()
        .map(r => (r.getAs[Long]("k"), r.getAs[Long]("bucket"),
          r.getAs[String]("v"))).toSeq.sorted
      copyDir(fs, dir + "/bucket=1", dir + ".staging/bucket=1")
      fs.mkdirs(new HPath(dir + ".old"))
      assert(fs.rename(new HPath(dir + "/bucket=1"), new HPath(dir + ".old/bucket=1")))
      assert(!fs.exists(new HPath(dir + "/bucket=1")))
      graft.sinks.BatchSink.compactSnapshot(spark, dir, Seq("bucket"))
      val got = spark.read.parquet(dir).collect()
        .map(r => (r.getAs[Long]("k"), r.getAs[Long]("bucket"),
          r.getAs[String]("v"))).toSeq.sorted
      assert(got == want, "partitioned mid-loop rerun lost or doubled rows")
      assert(!fs.exists(new HPath(dir + ".old")) &&
        !fs.exists(new HPath(dir + ".staging")))
      // the next upsert proceeds normally on the recovered store
      graft.sinks.BatchSink.upsertSnapshot(spark, dir,
        spark.createDataFrame(Seq((1L, 1L, 2L, "a2")))
          .toDF("k", "bucket", "ver", "v"),
        Seq("k"), Seq("ver"), Seq("bucket"))
      assert(spark.read.parquet(dir).filter(col("k") === 1L)
        .head.getAs[String]("v") == "a2")
    }
    // z-order compaction recovers through the same windows (window B, the
    // hairiest): clustering layout + crash recovery compose
    locally {
      val zdir = tempDir("graft_crash_z") + "/snap"
      val fs = new HPath(zdir).getFileSystem(conf)
      spark.createDataFrame((1 to 400).map(i =>
        (i.toLong, (i * 37 % 400).toLong, s"v$i"))).toDF("k", "u", "v")
        .repartition(8).write.parquet(zdir)
      val want = spark.read.parquet(zdir).collect()
        .map(r => (r.getAs[Long]("k"), r.getAs[Long]("u"),
          r.getAs[String]("v"))).toSeq.sorted
      copyDir(fs, zdir, zdir + ".staging")
      assert(fs.rename(new HPath(zdir), new HPath(zdir + ".old")))
      assert(graft.sinks.BatchSink.compactSnapshot(spark, zdir,
        zOrderCols = Seq("k", "u")) > 0)
      val got = spark.read.parquet(zdir).collect()
        .map(r => (r.getAs[Long]("k"), r.getAs[Long]("u"),
          r.getAs[String]("v"))).toSeq.sorted
      assert(got == want, "z-order window-B rerun lost or doubled rows")
    }
  }

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

  test("touched-partition predicate at the default cap plans in bounded time") {
    // DefaultMaxTouchedPartitions bounds driver-side work: the pruning
    // disjunction at the cap (~4 Catalyst nodes per tuple) must stay cheap
    // to analyze + optimize — this measures exactly the predicate shape the
    // merge builds, at the full cap, and bounds it. (Measured ~2 s at
    // 4096 tuples on local[4] cold; the 30 s assert absorbs CI noise while
    // still failing on the quadratic blowup this guards against.)
    import org.apache.spark.sql.functions.col
    val n = graft.sinks.BatchSink.DefaultMaxTouchedPartitions
    val touched = (0 until n).map(i => org.apache.spark.sql.Row(i.toLong))
    val pred = graft.sinks.BatchSink.touchedPartitionPredicate(touched, Seq("bucket"))
    val df = spark.range(16).withColumn("bucket", col("id") % 8)
    val t0 = System.nanoTime()
    val optimized = df.filter(pred).queryExecution.optimizedPlan
    val secs = (System.nanoTime() - t0) / 1e9
    info(f"predicate over $n touched partitions planned in $secs%.2f s")
    assert(optimized != null)
    assert(secs < 30.0,
      f"predicate over $n touched partitions took $secs%.1f s to plan — " +
        "lower the cap or chunk the merge into waves")
  }

  test("wave merge: over-cap backfill proceeds in bounded waves when opted in, fails fast otherwise") {
    import org.apache.hadoop.fs.{Path => HPath}
    val dir = tempDir("graft_upsert_wave") + "/snap"
    val fs = new HPath(dir).getFileSystem(spark.sessionState.newHadoopConf())
    def batch(rows: Seq[(Long, Long, String)]) =
      spark.createDataFrame(rows.map { case (k, ver, v) => (k, k % 4, ver, v) })
        .toDF("k", "bucket", "ver", "v")
    // seed all four buckets under the default cap
    graft.sinks.BatchSink.upsertSnapshot(spark, dir,
      batch(Seq((0L, 1L, "a1"), (1L, 1L, "b1"), (2L, 1L, "c1"), (3L, 1L, "d1"))),
      Seq("k"), Seq("ver"), Seq("bucket"))
    def files(p: String) = fs.listStatus(new HPath(p)).toSeq
      .filter(_.isFile).map(s => (s.getPath.getName, s.getModificationTime)).sorted
    val untouched = files(dir + "/bucket=0")
    // a "backfill" touching 3 buckets under a cap of 2: without the opt-in
    // it must fail fast with instructions, leaving the snapshot unchanged
    spark.conf.set("graft.sink.maxTouchedPartitions", "2")
    try {
      val backfill = batch(Seq((1L, 2L, "b2"), (2L, 0L, "stale"), (3L, 2L, "d2"),
        (5L, 1L, "f1"), (7L, 1L, "h1")))
      val e = intercept[IllegalArgumentException] {
        graft.sinks.BatchSink.upsertSnapshot(spark, dir, backfill,
          Seq("k"), Seq("ver"), Seq("bucket"))
      }
      assert(e.getMessage.contains("mergeWaves"))
      // opted in: two sequential waves, same converged result as one merge
      spark.conf.set("graft.sink.mergeWaves", "true")
      val n = graft.sinks.BatchSink.upsertSnapshot(spark, dir, backfill,
        Seq("k"), Seq("ver"), Seq("bucket"))
      assert(n == 5, s"waved merge row count over touched partitions: $n")
      val got = spark.read.parquet(dir).collect()
        .map(r => (r.getAs[Long]("k"), r.getAs[String]("v"))).toMap
      assert(got == Map(0L -> "a1", 1L -> "b2", 2L -> "c1", 3L -> "d2",
        5L -> "f1", 7L -> "h1"), s"$got")
      // bucket=0 was in no wave — its files must carry over unrewritten
      assert(files(dir + "/bucket=0") == untouched,
        "wave merge rewrote a partition no wave touched")
      assert(!fs.exists(new HPath(dir + ".old")) && !fs.exists(new HPath(dir + ".staging")))
      // replaying the whole backfill is a no-op (idempotence across waves)
      val n2 = graft.sinks.BatchSink.upsertSnapshot(spark, dir, backfill,
        Seq("k"), Seq("ver"), Seq("bucket"))
      assert(n2 == 5)
      assert(spark.read.parquet(dir).collect()
        .map(r => (r.getAs[Long]("k"), r.getAs[String]("v"))).toMap == got)
    } finally {
      spark.conf.unset("graft.sink.maxTouchedPartitions")
      spark.conf.unset("graft.sink.mergeWaves")
    }
  }

  test("partitioned upsert over random batches equals one-shot latestPerKey; replay idempotent") {
    // the KTable-sink equivalence law: any sequence of changelog batches
    // (with stale versions and immediate replays mixed in) must converge to
    // latestPerKey over the concatenation of everything ingested — the
    // same law the reference's RocksDB-backed KTable provides
    val rng = new scala.util.Random(7)
    val dir = tempDir("graft_upsert_prop") + "/snap"
    val ingested = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, String)]
    var version = 0L
    for (b <- 1 to 6) {
      val rows = Seq.fill(1 + rng.nextInt(20)) {
        val k = rng.nextInt(12).toLong
        version += 1
        // ~20% stale versions; the value is a pure function of (k, ver) so
        // an accidental (k, ver) tie cannot make "latest" ambiguous
        val v = if (rng.nextInt(5) == 0) math.max(1, version - 10) else version
        (k, k % 3, v, s"$k-$v")
      }
      ingested ++= rows
      val df = spark.createDataFrame(rows).toDF("k", "bucket", "ver", "v")
      graft.sinks.BatchSink.upsertSnapshot(spark, dir, df,
        Seq("k"), Seq("ver"), Seq("bucket"))
      if (b % 2 == 0) // redelivery: replaying the same batch must be a no-op
        graft.sinks.BatchSink.upsertSnapshot(spark, dir, df,
          Seq("k"), Seq("ver"), Seq("bucket"))
      val got = spark.read.parquet(dir).collect()
        .map(r => (r.getAs[Long]("k"), r.getAs[String]("v"))).toMap
      val want = graft.sources.Tables.latestPerKey(
        spark.createDataFrame(ingested.toSeq).toDF("k", "bucket", "ver", "v"),
        Seq("k"), Seq("ver")).collect()
        .map(r => (r.getAs[Long]("k"), r.getAs[String]("v"))).toMap
      assert(got == want, s"batch $b diverged: got $got want $want")
    }
  }

  test("wave merge preserves the equivalence law under randomized batches (cap=1: every merge waved)") {
    // the strongest wave pin: with the cap forced to 1, EVERY multi-bucket
    // batch splits into one wave per partition — the snapshot must still
    // converge to one-shot latestPerKey over everything ingested, with
    // stale versions and replays mixed in, exactly like the unwaved law
    val rng = new scala.util.Random(13)
    val dir = tempDir("graft_upsert_wave_prop") + "/snap"
    spark.conf.set("graft.sink.maxTouchedPartitions", "1")
    spark.conf.set("graft.sink.mergeWaves", "true")
    try {
      val ingested = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, String)]
      var version = 0L
      for (b <- 1 to 4) {
        val rows = Seq.fill(1 + rng.nextInt(16)) {
          val k = rng.nextInt(10).toLong
          version += 1
          val v = if (rng.nextInt(5) == 0) math.max(1, version - 8) else version
          (k, k % 3, v, s"$k-$v")
        }
        ingested ++= rows
        val df = spark.createDataFrame(rows).toDF("k", "bucket", "ver", "v")
        graft.sinks.BatchSink.upsertSnapshot(spark, dir, df,
          Seq("k"), Seq("ver"), Seq("bucket"))
        if (b % 2 == 0)
          graft.sinks.BatchSink.upsertSnapshot(spark, dir, df,
            Seq("k"), Seq("ver"), Seq("bucket"))
        val got = spark.read.parquet(dir).collect()
          .map(r => (r.getAs[Long]("k"), r.getAs[String]("v"))).toMap
        val want = graft.sources.Tables.latestPerKey(
          spark.createDataFrame(ingested.toSeq).toDF("k", "bucket", "ver", "v"),
          Seq("k"), Seq("ver")).collect()
          .map(r => (r.getAs[Long]("k"), r.getAs[String]("v"))).toMap
        assert(got == want, s"waved batch $b diverged: got $got want $want")
      }
    } finally {
      spark.conf.unset("graft.sink.maxTouchedPartitions")
      spark.conf.unset("graft.sink.mergeWaves")
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
    // cross-overload crash: a FLAT aside (the unpartitioned overload's crash
    // window) with cur absent must be restored, never deleted — then the
    // layout guard rejects the flat snapshot with instructions
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
    // reverse layout guard: the flat overload must refuse a partitioned
    // snapshot (a restart that lost the partitionCols argument) rather than
    // silently rewrite and de-partition it
    val e3 = intercept[IllegalArgumentException] {
      graft.sinks.BatchSink.upsertSnapshot(spark, dir,
        b3(Seq((7L, 1L, "g1"))), Seq("k"), Seq("ver"))
    }
    assert(e3.getMessage.contains("PARTITIONED snapshot"))
  }
}
