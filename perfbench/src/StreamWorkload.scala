package perfbench

import java.sql.Timestamp
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.config.{PipelineSpec, TestdataCatalog, TopicConfig}
import graft.pipeline.Interpreter
import graft.sources.{ParquetSourceResolver, SourceResolver}
import graft.streaming.StreamRunner

/** One replayed event. Top-level and public so Catalyst generates its
  * encoder instead of falling back to interpreted projections.
  */
final case class ReplayEvent(event_id: Long, ts: Timestamp, user_id: Long,
    event_type: String, value: Double, props: String)

/** A chunk the generator offered to one query. */
final case class Offered(chunk: Int, query: String, dueMs: Long, addedMs: Long,
    offset: Long, rows: Int, backlog: Boolean)

/** stream_microbatch: the three `events` topologies of application.yml, each
  * fed by its own in-process source. The measured window is a few rounds;
  * in each, one generator thread offers the same chunk to every query on a
  * fixed schedule (open loop), then a backlog is enqueued at once and timed
  * until every query has drained it. Each figure is the median over rounds
  * of its per-round value, so a short stretch of host contention moves one
  * round, not the result.
  */
final class StreamWorkload(ctx: Ctx) extends Workload {
  import ctx._
  private val ChunkRows = 250
  private val PeriodMs = 125L
  private val BacklogRows = 20000
  private val Rounds = 5
  private val WarmUpSeconds = 3.0
  /** Share of rows delivered late, each by at most MaxDelay positions. */
  private val LateShare = 0.1
  private val MaxDelay = 20
  private val Ids = Seq("events-passthrough", "events-windowed", "events-per-user")

  private val samples = tracer.samples
  private var base: Array[ReplayEvent] = Array.empty
  private var cursor = 0L
  private val rnd = new scala.util.Random(seed)
  private val classic = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
  private implicit val enc: org.apache.spark.sql.Encoder[ReplayEvent] =
    org.apache.spark.sql.Encoders.product[ReplayEvent]

  private var specs: Map[String, PipelineSpec] = Map.empty
  private var inputs: Map[String, MemoryStream[ReplayEvent]] = Map.empty
  private var queries: Map[String, StreamingQuery] = Map.empty
  private val fed = mutable.ArrayBuffer.empty[ReplayEvent]
  private var rep = -1
  private var chunkNo = 0
  private val offered = new ConcurrentLinkedQueue[Offered]()
  private val catchups = mutable.ArrayBuffer.empty[Double]
  private val lateMs = mutable.ArrayBuffer.empty[Double]

  private def snapshotPath = s"$work/stream-$rep/per-user/snapshot"

  /** The next `n` rows of the replay: the events table in ts order, shifted
    * by 30 days and by the table size on each wrap, with a seeded share of
    * rows held back a few positions (late, but within every watermark).
    */
  private def nextRows(n: Int): Seq[ReplayEvent] = {
    val out = (0 until n).map { i =>
      val k = cursor + i
      val cycle = k / base.length
      val e = base((k % base.length).toInt)
      e.copy(event_id = e.event_id + cycle * base.length,
        ts = new Timestamp(e.ts.getTime + cycle * 30L * 86400000L))
    }.toArray
    cursor += n
    // a row is held back at most once, so no row trails by more than MaxDelay
    val moved = new Array[Boolean](out.length)
    var i = 0
    while (i < out.length) {
      if (!moved(i) && rnd.nextDouble() < LateShare) {
        val j = math.min(out.length - 1, i + 1 + rnd.nextInt(MaxDelay))
        if (!moved(j)) {
          val t = out(i); out(i) = out(j); out(j) = t
          moved(i) = true; moved(j) = true
        }
      }
      i += 1
    }
    out.toSeq
  }

  private def resolverFor(input: MemoryStream[ReplayEvent]): SourceResolver =
    new SourceResolver {
      override def catalog = TestdataCatalog
      override def stream(s: SparkSession, topic: TopicConfig): DataFrame =
        tracer.call("sources", topic.name)(input.toDF())
      override def table(s: SparkSession, topic: TopicConfig): DataFrame =
        throw new IllegalArgumentException(s"no table side: ${topic.name}")
    }

  private def start(id: String, input: MemoryStream[ReplayEvent]): StreamingQuery = {
    val spec = specs(id)
    val r = resolverFor(input)
    tracer.call("streaming", s"start:$id") {
      if (id == "events-per-user")
        StreamRunner.startSnapshotSink(spark, spec, r, snapshotPath,
          Seq(Interpreter.KeyCol), Seq("count"), s"$work/stream-$rep/per-user/ckpt")
      else if (id == "events-windowed")
        // startMemory minus its final projection, which drops the group key
        // the final-state check needs
        StreamRunner.build(spark, spec, r).writeStream.format("memory")
          .queryName(memName(id)).outputMode(StreamRunner.outputModeFor(spec)).start()
      else StreamRunner.startMemory(spark, spec, r, memName(id))
    }
  }

  private def memName(id: String) = s"${id.replace('-', '_')}_$rep"

  private def feed(rows: Seq[ReplayEvent], dueMs: Long, backlog: Boolean): Unit = {
    val added = System.currentTimeMillis()
    inputs.foreach { case (id, in) =>
      val off = in.addData(rows).asInstanceOf[
        org.apache.spark.sql.execution.streaming.runtime.LongOffset].offset
      offered.add(Offered(chunkNo, id, dueMs, added, off, rows.size, backlog))
    }
    fed ++= rows
    chunkNo += 1
  }

  /** Wait (at most 2 s) until no query is mid-batch, so a backlog's drain
    * time does not include the tail of a no-data watermark batch.
    */
  private def settle(): Unit = {
    val until = System.currentTimeMillis() + 2000
    while (queries.values.exists(_.status.isTriggerActive) && System.currentTimeMillis() < until)
      Thread.sleep(10)
  }

  private def drainAll(): Unit =
    queries.foreach { case (id, q) => tracer.call("streaming", s"drain:$id")(q.processAllAvailable()) }

  override def setup(r: Int): Unit = {
    if (r == 0) {
      base = spark.read.parquet(s"$data/events.parquet").orderBy("ts", "event_id")
        .select(col("event_id"), col("ts").cast("timestamp"), col("user_id"),
          col("event_type"), col("value"), col("props"))
        .as[ReplayEvent].collect()
      specs = tracer.call("config", "bind")(
        PipelineSpec.listFromYaml(readText("examples/application.yml")))
        .filter(s => Ids.contains(s.id)).map(s => s.id -> s).toMap
      spark.conf.set("spark.sql.streaming.checkpointLocation", s"$work/checkpoints")
    }
    queries.values.foreach(_.stop())
    rep = r
    fed.clear()
    offered.clear()
    inputs = Ids.map(id => id -> MemoryStream[ReplayEvent](classic, 4)).toMap
    queries = Ids.map(id => id -> start(id, inputs(id))).toMap
    // warm-up: a few chunks, each drained before the next
    (0 until 2).foreach { _ =>
      feed(nextRows(ChunkRows), System.currentTimeMillis(), backlog = false)
      drainAll()
    }
    offered.clear()
  }

  /** A short open loop and one backlog, unrecorded: the first seconds of
    * the loop otherwise run measurably slower than the rest.
    */
  override def warmUp(): Unit = {
    playRound(WarmUpSeconds)
    tracer.samples.timings.clear()
    catchups.clear()
    lateMs.clear()
  }

  override def measure(seconds: Double): Unit = (0 until Rounds).foreach(_ => playRound(seconds / Rounds))

  /** An open loop of `seconds`, then one backlog. */
  private def playRound(seconds: Double): Unit = {
    val firstChunk = chunkNo
    val chunks = math.max(1, (seconds * 1000 / PeriodMs).toInt)
    val rows = (0 until chunks).map(_ => nextRows(ChunkRows))
    val backlog = nextRows(BacklogRows)
    val progressFrom = System.currentTimeMillis()
    // open loop: one generator thread, fixed schedule
    val t0 = System.currentTimeMillis() + PeriodMs
    val gen = new Thread(() => rows.zipWithIndex.foreach { case (c, i) =>
      val due = t0 + i * PeriodMs
      val wait = due - System.currentTimeMillis()
      if (wait > 0) Thread.sleep(wait)
      lateMs.synchronized { lateMs += (System.currentTimeMillis() - due).toDouble }
      feed(c, due, backlog = false)
    }, "perfbench-generator")
    tracer.unit = s"open-loop-$firstChunk"
    tracer.call("streaming", "open_loop") {
      gen.start()
      gen.join()
      drainAll()
    }
    // the open loops, start to drained, are the windows streaming.* covers;
    // kept with the samples so they reset with them
    samples.add("loop_from", progressFrom.toDouble)
    samples.add("loop_end", System.currentTimeMillis().toDouble)
    // catch-up: the backlog at once, timed until every query drained it
    settle()
    val c0 = System.nanoTime()
    feed(backlog, System.currentTimeMillis(), backlog = true)
    drainAll()
    val drainS = (System.nanoTime() - c0) / 1e9
    catchups += drainS
    samples.add("catchup_rows_per_s", BacklogRows / drainS)
    tracer.drain()
    latencies(progressFrom, firstChunk)
  }

  /** Per (chunk, query): from the chunk's due time to the end of the first
    * micro-batch whose end offset covers it. Adds every sample, and the
    * round's median and p90.
    */
  private def latencies(since: Long, firstChunk: Int): Unit = {
    val prog = tracer.progress.asScala.filter(p => p.endMs >= since).toSeq
      .groupBy(_.query).map { case (q, ps) => q -> ps.sortBy(_.batchId) }
    val offers = offered.asScala.filter(o => !o.backlog && o.chunk >= firstChunk).toSeq
    val perChunk = mutable.Map.empty[Int, Double]
    val ops = mutable.ArrayBuffer.empty[Double]
    offers.foreach { o =>
      prog.getOrElse(queries(o.query).id.toString, Nil).find(_.endOffset >= o.offset).foreach { p =>
        val lat = (p.endMs - o.dueMs).toDouble
        ops += lat
        samples.add("op", lat)
        samples.add(s"op.${o.query}", lat)
        perChunk(o.chunk) = math.max(perChunk.getOrElse(o.chunk, 0.0), lat)
      }
    }
    perChunk.values.foreach(v => samples.add("unit", v))
    samples.add("round.unit_p50", Stats.median(perChunk.values))
    samples.add("round.op_p50", Stats.median(ops))
    samples.add("round.op_p90", Stats.pct(ops, 90))
  }

  override def check(): Checked = {
    drainAll()
    tracer.unit = "check"
    val twinDir = s"$work/stream-twin"
    spark.createDataset(fed.toSeq).write.mode("overwrite").parquet(s"$twinDir/events.parquet")
    val twin = new ParquetSourceResolver(twinDir, TestdataCatalog)
    def batch(id: String) = Interpreter.values(Interpreter.build(spark, specs(id), twin))
    def bag(df: DataFrame): Set[String] =
      df.select(to_json(struct(df.columns.sorted.map(col): _*))).collect().map(_.getString(0)).toSet
    def bagCount(df: DataFrame): (Long, Set[String]) = (df.count(), bag(df))
    val notes = mutable.ArrayBuffer.empty[String]

    val pass = spark.table(memName("events-passthrough"))
    val passOk = bagCount(pass) == bagCount(batch("events-passthrough"))
    if (!passOk) notes += "events-passthrough: memory sink differs from its batch twin"

    // update mode: the memory sink holds every emission; counts and sums of
    // non-negative values only grow, so the final row per cell is the max
    val win = spark.table(memName("events-windowed"))
    val keys = win.columns.filterNot(c => c == "count" || c.startsWith("sum_"))
    // float sums differ in the last bits between merge orders
    def rounded(df: DataFrame) =
      df.select(win.columns.map(c => if (c == "sum_value") round(col(c), 6).as(c) else col(c)): _*)
    def batchWin = Interpreter.build(spark, specs("events-windowed"), twin)
    val winFinal = win.groupBy(keys.map(col): _*)
      .agg(max("count").as("count"), max("sum_value").as("sum_value"))
    val (winGot, winWant) = (bag(rounded(winFinal)), bag(rounded(batchWin)))
    val winOk = winGot == winWant
    if (!winOk) notes += "events-windowed: final memory sink differs from its batch twin: " +
      s"only streamed ${(winGot diff winWant).take(3)}, only batch ${(winWant diff winGot).take(3)}"

    val snap = spark.read.parquet(snapshotPath)
      .withColumnRenamed(Interpreter.KeyCol, "user_id")
    val perUserBatch = Interpreter.build(spark, specs("events-per-user"), twin)
      .withColumnRenamed(Interpreter.KeyCol, "user_id")
    val cols = perUserBatch.columns
    val snapOk = bagCount(snap.select(cols.map(col): _*)) == bagCount(perUserBatch)
    if (!snapOk) notes += "events-per-user: snapshot differs from its batch twin"
    val results = Seq(passOk, winOk, snapOk)
    Checked(results.size, results.count(!_), notes.toSeq :+
      s"fed ${fed.size} rows; snapshot rows ${snap.count()}")
  }

  override def endToEnd(): Map[String, Metric] = Map(
    "unit_ms_p50" -> Metric(Stats.median(samples.get("round.unit_p50")), "ms"),
    "op_ms_p50" -> Metric(Stats.median(samples.get("round.op_p50")), "ms"),
    "op_ms_p90" -> Metric(Stats.median(samples.get("round.op_p90")), "ms"),
    "rows_per_s" -> Metric(Stats.median(samples.get("catchup_rows_per_s")), "rows/s"))

  override def details(): Map[String, Any] = {
    val op = samples.get("op")
    Map(
      "offered_rows_per_s" -> ChunkRows * 1000.0 / PeriodMs,
      "chunk_rows" -> ChunkRows, "period_ms" -> PeriodMs, "backlog_rows" -> BacklogRows,
      "rounds" -> Rounds,
      "stream.latency_p50_ms" -> Stats.median(op),
      "stream.latency_p95_ms" -> Stats.pct(op, 95),
      "stream.latency_samples" -> op.size,
      "stream.latency_ms_by_query" -> Ids.map(id => id -> Stats.summary(samples.get(s"op.$id"))).toMap,
      "stream.catchup_rows_per_s" -> Stats.median(samples.get("catchup_rows_per_s")),
      "stream.round_latency_ms_p50" -> samples.get("round.unit_p50"),
      "catchup_drain_s" -> catchups.toSeq,
      "harness.generator_late_ms_p95" -> Stats.pct(lateMs.toSeq, 95),
      "fed_rows" -> fed.size)
  }

  override def layers(): Map[String, Metric] = {
    val units = math.max(1, samples.get("unit").size).toDouble
    val loops = samples.get("loop_from").zip(samples.get("loop_end"))
    val prog = tracer.progress.asScala
      .filter(p => loops.exists { case (from, end) => p.startMs >= from && p.startMs < end }).toSeq
    val names = Ids.map(id => id -> queries(id).id.toString)
    def phase(ps: Seq[Progress], k: String) = Stats.median(ps.map(_.durations.getOrElse(k, 0L).toDouble))
    def group(prefix: String, ps: Seq[Progress]): Map[String, Metric] = {
      val withData = ps.filter(_.inputRows > 0)
      Map(
        s"$prefix.batches" -> Metric(ps.size / units, "count"),
        s"$prefix.nodata_batch_frac" -> Metric(
          if (ps.isEmpty) 0.0 else ps.count(_.inputRows == 0).toDouble / ps.size, "frac"),
        s"$prefix.trigger_ms_p50" -> Metric(phase(withData, "triggerExecution"), "ms"),
        s"$prefix.add_batch_ms_p50" -> Metric(phase(withData, "addBatch"), "ms"),
        s"$prefix.wal_commit_ms_p50" -> Metric(phase(withData, "walCommit"), "ms"),
        s"$prefix.commit_offsets_ms_p50" -> Metric(phase(withData, "commitOffsets"), "ms"),
        s"$prefix.query_planning_ms_p50" -> Metric(phase(withData, "queryPlanning"), "ms"),
        s"$prefix.get_batch_ms_p50" -> Metric(phase(withData, "getBatch"), "ms"),
        s"$prefix.state_commit_ms_p50" -> Metric(
          Stats.median(withData.filter(_.stateful).map(_.stateCommitMs.toDouble)), "ms"),
        s"$prefix.state_rows" -> Metric(ps.map(_.stateRows).maxOption.getOrElse(0L).toDouble, "rows"),
        s"$prefix.state_mem_bytes" -> Metric(ps.map(_.stateMem).maxOption.getOrElse(0L).toDouble, "bytes"),
        s"$prefix.rows_per_batch_p50" -> Metric(Stats.median(withData.map(_.inputRows.toDouble)), "rows"),
        s"$prefix.backlog_rows_p95" -> Metric(Stats.pct(backlogs(ps), 95), "rows"))
    }
    group("streaming", prog) ++ names.flatMap { case (id, n) =>
      group(s"streaming.$id", prog.filter(_.query == n))
    } + ("harness.generator_late_ms_p95" -> Metric(Stats.pct(lateMs.toSeq, 95), "ms"))
  }

  /** Rows offered to a query and not yet processed when each batch of `ps`
    * started. A batch's predecessor is taken from all the query's batches,
    * so the first batch of a window does not count rows drained before it.
    */
  private def backlogs(ps: Seq[Progress]): Seq[Double] = {
    val offers = offered.asScala.toSeq
    val inWindow = ps.toSet
    Ids.flatMap { id =>
      val mine = offers.filter(_.query == id)
      val batches = tracer.progress.asScala.filter(_.query == queries(id).id.toString)
        .toSeq.sortBy(_.batchId)
      batches.zip(-1L +: batches.map(_.endOffset)).collect { case (p, prevEnd) if inWindow(p) =>
        mine.filter(o => o.addedMs <= p.startMs && o.offset > prevEnd).map(_.rows).sum.toDouble
      }
    }
  }

  override def close(): Unit = queries.values.foreach(_.stop())
}
