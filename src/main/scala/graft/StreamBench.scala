package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.observe.StreamMetrics

/** Streaming-throughput benchmark (dev/ops tool, ad hoc like [[Observe]]):
  * drives the real events fixture through representative STREAMING
  * topologies in micro-batches and reports measured rows/second — the
  * number the batch bench cannot see (R1/R13–R15's streaming leg is
  * correctness-pinned by the suite; this measures it). Metrics come from
  * [[graft.observe.StreamMetrics]] — the same listener a production
  * operator attaches — so the benchmark exercises the observability path
  * it reports through.
  *
  * Topologies (noop sink, so numbers measure the operators, not a sink),
  * each run under BOTH state-store providers (RocksDB — the DEPLOY.md
  * production prescription — and the default HDFS-backed heap store), so
  * the artifact carries the throughput and state-memory delta between them:
  *  - `passthrough`       stateless projection (floor: harness + decode cost)
  *  - `tumbling_agg`      watermarked 1h windows × event_type, update mode
  *  - `session_agg`       per-user 5-min-gap session windows (merge state)
  *
  * Data is fed from the driver in fixed-size chunks through MemoryStream
  * (one chunk ≈ one micro-batch): sf0.01's 100k events collect to ~10 MB —
  * a bounded, documented driver materialization in a DEV tool.
  *
  * usage: runMain graft.StreamBench [sfDir] [outJson] [chunkRows]
  */
/** Top-level and public: Catalyst's encoder codegen cannot access a
  * private nested case class (it falls back to interpreted projections,
  * which would quietly tax exactly the numbers this tool measures).
  */
final case class StreamBenchEvent(event_id: Long, ts: Timestamp,
    user_id: java.lang.Long, event_type: String, value: Double)

object StreamBench {
  private type Ev = StreamBenchEvent

  def main(args: Array[String]): Unit = {
    val sfDir = args.lift(0).getOrElse("/root/testdata/sf0.01")
    val base = Paths.get(sfDir).getFileName.toString
    val out = args.lift(1).getOrElse(s"bench_out/streambench-$base.json")
    val chunkRows = args.lift(2).map(_.toInt).getOrElse(10000)
    val spark = GraftSession.get()
    import spark.implicits._

    val rows: Array[StreamBenchEvent] = spark.read.parquet(s"$sfDir/events.parquet")
      .select(col("event_id"), col("ts").cast("timestamp").as("ts"),
        col("user_id"), col("event_type"), col("value"))
      .as[StreamBenchEvent].collect()
    System.err.println(s"[streambench] ${rows.length} events, chunks of $chunkRows")

    // session windows and flatMapGroupsWithState emit in APPEND mode only;
    // the update-legal topologies keep update (the changelog shape a
    // snapshot sink consumes)
    def topology(name: String, mode: String = "update")(
        build: DataFrame => DataFrame): String = {
      val sm = StreamMetrics.attach(spark)
      val input = MemoryStream[StreamBenchEvent](
        spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], 8)
      val qName = s"sb_${name}_${java.util.UUID.randomUUID().toString.take(8)}"
      val q = build(input.toDF()).writeStream.queryName(qName)
        .outputMode(mode).format("noop").start()
      val t0 = System.nanoTime()
      try {
        rows.grouped(chunkRows).foreach { chunk =>
          input.addData(chunk.toSeq); q.processAllAvailable()
        }
      } finally {
        q.stop()
      }
      val wallS = (System.nanoTime() - t0) / 1e9
      // the listener drains async — report() after stop() may still miss the
      // tail; totals below use the driven row count, batches are informative
      val rep = sm.report(qName)
      StreamMetrics.detach(spark, sm)
      val rps = rows.length / math.max(wallS, 1e-9)
      System.err.println(f"[streambench] $name%-14s ${rows.length} rows in " +
        f"$wallS%.1fs = ${rps / 1000}%.1fk rows/s (${rep.map(_.batches).getOrElse(0)} batches, " +
        s"state ${rep.map(_.lastStateRows).getOrElse(0L)} rows)")
      f""""$name":{"rows":${rows.length},"wall_s":$wallS%.3f,""" +
        f""""rows_per_sec":$rps%.0f,"batches":${rep.map(_.batches).getOrElse(0)},""" +
        s""""state_rows":${rep.map(_.lastStateRows).getOrElse(0L)},""" +
        s""""state_mem_bytes":${rep.map(_.maxStateMemBytes).getOrElse(0L)}}"""
    }

    // BOTH state-store providers, back to back (round-13 directive #5):
    //  - RocksDB is what DEPLOY.md prescribes for production keyed state
    //    (no per-entry JVM object tax; spill-to-disk instead of heap-bound
    //    state).
    //  - The HDFS-backed (default heap) leg is measured alongside so the
    //    artifact shows BOTH the throughput delta and the per-row state
    //    memory delta (heap snapshots keep every version's objects;
    //    RocksDB reports native memtable/block-cache bytes).
    // Both run with Spark's default checkpoint settings (checksums on) over
    // GraftSession's fork-free `file:` filesystem, so state and offset-log
    // commits cost syscalls, not process starts — the shipped configuration.
    // NOT benchmarked under either: the TTL'd first-arrival dedup
    // (StreamingDedup.exactFirstArrival) — its ProcessingTimeTimeout makes
    // Spark run CONTINUOUS no-data timeout-processing batches, so the
    // figure would count those batches' fixed commit cost rather than the
    // operator. Correctness (TTL expiry, restart recovery) is pinned in
    // StreamRunnerSpec / StreamingSpec.
    val providers = Seq(
      "rocksdb" -> ("org.apache.spark.sql.execution.streaming.state." +
        "RocksDBStateStoreProvider"),
      "hdfs_heap" -> ("org.apache.spark.sql.execution.streaming.state." +
        "HDFSBackedStateStoreProvider"))
    // stored baseline for the windowed drift MONITOR topology: a 16-dim
    // summary artifact built once from a synthetic static frame (the same
    // vector synthesis as the streaming side — the monitor's cost is the
    // VectorSumAgg fold + the broadcast dim-array join either way)
    val driftBaseline = {
      val r = spark.range(256).select(
        (col("id") % 97).cast("double").as("value"),
        (col("id") % 13).as("user_id"))
      val emb = array((0 until 16).map(i =>
        sin(col("value") * (i + 1) + col("user_id"))): _*)
      graft.operators.Drift.embeddingSummary(r.withColumn("emb", emb), "emb")
        .cache()
    }
    driftBaseline.count()
    // stored baselines for the round-18 SCALAR and PERCENTILE monitors:
    // built from the real events fixture (the production shape — a KB of
    // baseline rows broadcast against the stream)
    val eventsBatch = spark.read.parquet(s"$sfDir/events.parquet")
      .withColumn("ts", col("ts").cast("timestamp"))
    val scalarBaseline = graft.operators.Drift.scalarSummary(
      eventsBatch, Seq("value"), Seq("event_type")).cache()
    scalarBaseline.count()
    val qskBaseline = graft.operators.Profile.quantileSketches(
      eventsBatch, Seq("event_type"), "value").cache()
    qskBaseline.count()
    // stored ANN index for the STREAMING-knn topology (round 18): events
    // carry no vectors, so a deterministic 16-dim corpus is synthesized
    // and indexed ONCE at "crawl time" — the topology then measures the
    // per-event cost of the stream-static probe join + the (window, query)
    // top-k heap, which is the operator's whole streaming surface
    val knnIdx = Files.createTempDirectory("graft_streambench_knn")
      .resolve("idx").toString
    val knnCorpus = spark.range(2048).select(col("id").as("vec_id"),
      array((0 until 16).map(i =>
        sin(col("id") * (i + 1) / 7.0)): _*).as("emb"))
    graft.operators.Similarity.buildIndex(knnCorpus, "vec_id", "emb",
      "ivf", knnIdx, nCells = 16, nAssign = 2)
    val legs = providers.map { case (label, cls) =>
      spark.conf.set("spark.sql.streaming.stateStore.providerClass", cls)
      System.err.println(s"[streambench] provider: $label ($cls)")
      val results = Seq(
        topology("passthrough") { df =>
          df.select(col("event_id"), col("user_id"), col("event_type"),
            (col("value") * 2).as("v2"))
        },
        topology("tumbling_agg") { df =>
          df.withWatermark("ts", "1 hour")
            .groupBy(window(col("ts"), "1 hour"), col("event_type"))
            .agg(count(lit(1)).as("n"), sum(col("value")).as("sv"))
        },
        topology("session_agg", mode = "append") { df =>
          df.filter(col("user_id").isNotNull)
            .withWatermark("ts", "1 hour")
            .groupBy(session_window(col("ts"), "5 minutes"), col("user_id"))
            .agg(count(lit(1)).as("n"))
        },
        topology("embed_summary") { df =>
          // the X29 incrementally-maintained drift artifact (round 16):
          // events carry no vector column, so a deterministic 16-dim
          // vector is synthesized per event — the operator's cost is the
          // dim-proportional posexplode + per-(window, i) sums either way,
          // and the state is bounded at dim rows per open window
          val emb = array((0 until 16).map(i =>
            sin(col("value") * (i + 1) + col("user_id"))): _*)
          graft.operators.Drift.embeddingSummaryWindowed(
            df.withColumn("emb", emb).withWatermark("ts", "1 hour"),
            "emb", None, window(col("ts"), "1 hour"))
        },
        topology("windowed_drift") { df =>
          // the round-17 monitor: ONE VectorSumAgg stateful aggregation
          // per window cell (state = 16 doubles + 2 scalars per cell, vs
          // embed_summary's 16 ROWS per cell) + the broadcast baseline
          // join and metric math — the per-event cost this row measures
          val emb = array((0 until 16).map(i =>
            sin(col("value") * (i + 1) + col("user_id"))): _*)
          graft.operators.Drift.windowedEmbeddingDrift(
            df.withColumn("emb", emb).withWatermark("ts", "1 hour"),
            "emb", None, window(col("ts"), "1 hour"), driftBaseline,
            Map("centroid_shift" -> 0.5), Map.empty)
        },
        topology("scalar_monitor") { df =>
          // the round-18 scalar monitor: all-native per-cell aggs + the
          // broadcast baseline join — the cheapest monitor leg (state =
          // six scalars per (window, event_type) cell)
          graft.operators.Drift.windowedScalarDrift(
            df.withWatermark("ts", "1 hour"), Seq("value"),
            Seq("event_type"), window(col("ts"), "1 hour"), scalarBaseline,
            Map("value.mean" -> 1e9), Map.empty)
        },
        topology("quantile_monitor") { df =>
          // the round-18 percentile monitor: ONE mergeable quantile-sketch
          // aggregate per cell riding streaming state, estimates compared
          // against the stored X26 table per refresh
          graft.operators.Drift.windowedQuantileDrift(
            df.withWatermark("ts", "1 hour"), "value", Seq("event_type"),
            window(col("ts"), "1 hour"), qskBaseline, Seq(0.5, 0.9),
            Map.empty, Map.empty)
        },
        topology("streaming_knn") { df =>
          // the round-18 streaming retrieval leg: arriving events become
          // 16-dim query vectors probing the STORED ivf index (stream-
          // static join, no training or corpus scan) with one top-k heap
          // per (window, query) evicting past the watermark
          val qv = array((0 until 16).map(i =>
            sin(col("value") * (i + 1) + col("user_id"))): _*)
          graft.operators.Similarity.indexedTopK(
            df.withColumn("qv", qv).withWatermark("ts", "1 hour"),
            "event_id", "qv", 5, knnIdx,
            win = Some(("ts", window(col("ts"), "1 hour"))))
        })
      s""""$label":{"provider_class":"$cls",${results.mkString(",")}}"""
    }

    val json =
      s"""{"sf":"$sfDir","chunk_rows":$chunkRows,${legs.mkString(",")}}"""
    Files.createDirectories(Paths.get(out).toAbsolutePath.getParent)
    Files.write(Paths.get(out), json.getBytes(StandardCharsets.UTF_8))
    println(s"[streambench] wrote $out")
    spark.stop()
  }
}
