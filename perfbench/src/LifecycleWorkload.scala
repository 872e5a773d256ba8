package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.config.{PipelineSpec, TestdataCatalog, TopicConfig}
import graft.pipeline.Interpreter
import graft.sinks.{BatchSink, DirProvisioner}
import graft.sources.{ParquetSourceResolver, SourceResolver}

/** A SourceResolver that times each call into the wrapped resolver as the
  * `sources` layer, and serves each topic through the predicate `view`
  * holds for it (a day's ingest slice, the live set), if any.
  */
final class TimedResolver(inner: SourceResolver, tracer: Tracer) extends SourceResolver {
  var view: Map[String, Column] = Map.empty
  override def catalog = inner.catalog
  override def dataDir: Option[String] = inner.dataDir
  private def cut(topic: TopicConfig, df: => DataFrame) =
    tracer.call("sources", topic.name)(view.get(topic.name).fold(df)(df.filter))
  override def stream(spark: SparkSession, topic: TopicConfig): DataFrame =
    cut(topic, inner.stream(spark, topic))
  override def table(spark: SparkSession, topic: TopicConfig): DataFrame =
    cut(topic, inner.table(spark, topic))
}

/** artifact_lifecycle: examples/daily_maintenance.yml as a sequence of
  * simulated days over one knn index and one shingle history, kept in the
  * run's own directory. Each day screens a seeded ingest slice, publishes
  * the survivors, appends the day's vectors, takes down seeded live ids,
  * serves the filtered search and runs the scalar monitor; every third day
  * also compacts both artifacts. One maintainer, closed loop.
  *
  * The YAML's cadence is weekly compaction, but with one takedown generation
  * a day its own serve-filtered-search (planAudit: fail) refuses to build
  * from the fourth day on: four active tombstone generations trip the
  * knn_pending_tombstones audit. Compacting every third day is the longest
  * cadence under which no operation fails.
  */
final class LifecycleWorkload(ctx: Ctx) extends Workload {
  import ctx._
  private val DocsPerDay = 100
  private val VecsPerDay = 40
  private val TakedownsPerDay = 2
  private val Crawl = 400L
  private val K = 10
  private val CompactEvery = 3
  private val WriteVerbs = Set("shingle_index_append", "knn_index_append",
    "knn_index_delete", "shingle_index_retract", "knn_index_compact", "shingle_index_compact")

  private val samples = tracer.samples
  private val rnd = new scala.util.Random(seed)
  private var yaml = ""
  private var resolver: TimedResolver = _
  private var docTokens: Map[Long, Set[String]] = Map.empty
  private var vecs: Map[Long, (Array[Double], Int)] = Map.empty
  private var docSlices: Iterator[Seq[Long]] = Iterator.empty
  private var vecSlices: Iterator[Seq[Long]] = Iterator.empty
  private var eventDays = 30

  // live state of the artifacts, as the harness expects it
  private var dm = ""
  private val history = mutable.LinkedHashSet.empty[Long]
  private val retracted = mutable.Set.empty[Long]
  private val live = mutable.LinkedHashSet.empty[Long]
  private val deleted = mutable.Set.empty[Long]
  private var day = 0
  private var attempted = 0L
  private val failures = mutable.ArrayBuffer.empty[String]

  private def shingles(text: String): Set[String] =
    text.trim.split("\\s+").sliding(3).filter(_.length == 3).map(_.mkString(" ")).toSet

  private def jaccard(a: Set[String], b: Set[String]): Double =
    if (a.isEmpty && b.isEmpty) 1.0 else (a & b).size.toDouble / (a | b).size

  private def ids(xs: Iterable[Long]) = if (xs.isEmpty) "-1" else xs.mkString(", ")

  /** The checked-in YAML with its artifact root and takedown filters
    * pointed at this run's directory and this day's ids.
    */
  private def bind(takeVecs: Seq[Long], takeDocs: Seq[Long]): Map[String, PipelineSpec] =
    tracer.call("config", "bind") {
      val text = yaml.replace("/tmp/graft_examples/dm", dm)
        .replace("vec_id % 97 = 13", s"vec_id IN (${ids(takeVecs)})")
        .replace("doc_id % 97 = 13", s"doc_id IN (${ids(takeDocs)})")
        .replace("vec_id % 97 != 13", s"NOT vec_id IN (${ids(deleted)})")
      PipelineSpec.listFromYaml(text).map(s => s.id -> s).toMap
    }

  /** Build the spec (the verb runs here: maintenance verbs are eager) and
    * write its report topic. Returns the written topic path.
    */
  private def run(spec: PipelineSpec, verb: String, views: Map[String, Column],
      timed: Boolean): String = {
    resolver.view = views
    val out = s"$work/lc-out/day-$day"
    val t0 = System.nanoTime()
    tracer.call("operators", verb) {
      val df = tracer.call("pipeline", spec.id)(Interpreter.build(spark, spec, resolver))
      tracer.call("sinks", spec.id)(
        BatchSink.write(df, spec.outputTopic.get, out, new DirProvisioner(out)))
    }
    val ms = (System.nanoTime() - t0) / 1e6
    if (timed) {
      samples.add("op", ms)
      samples.add(if (WriteVerbs(verb)) "write" else "read", ms)
      attempted += 1
    }
    s"$out/${spec.outputTopic.get.name}/data"
  }

  private def freshArtifacts(rep: Int): Unit = {
    dm = s"$work/lc-$rep/dm"
    history.clear(); retracted.clear(); live.clear(); deleted.clear()
    val docs = spark.read.parquet(s"$data/documents.parquet")
    tracer.call("operators", "shingle_index") {
      graft.operators.Dedup.shingleIndex(docs.filter(col("doc_id") < Crawl), "doc_id", "text", 3)
        .write.mode("overwrite").parquet(s"$dm/doc_shingles")
    }
    tracer.call("operators", "scalar_summary") {
      graft.operators.Drift.scalarSummary(
        spark.read.parquet(s"$data/events.parquet").filter(col("user_id") < 8),
        Seq("value"), Seq("event_type"))
        .write.mode("overwrite").parquet(s"$dm/event_stats")
    }
    history ++= docTokens.keys.filter(_ < Crawl)
    live ++= vecs.keys.filter(_ < Crawl)
    run(bind(Nil, Nil)("crawl-build-index"), "knn_index", Map.empty, timed = false)
  }

  override def setup(rep: Int): Unit = {
    if (rep == 0) {
      yaml = readText("examples/daily_maintenance.yml")
      resolver = new TimedResolver(new ParquetSourceResolver(data, TestdataCatalog), tracer)
      docTokens = spark.read.parquet(s"$data/documents.parquet").select("doc_id", "text")
        .collect().map(r => r.getLong(0) -> shingles(r.getString(1))).toMap
      vecs = spark.read.parquet(s"$data/embeddings.parquet").collect().map { r =>
        r.getLong(0) -> (r.getSeq[Float](1).map(_.toDouble).toArray, r.getInt(2))
      }.toMap
      docSlices = rnd.shuffle(docTokens.keys.filter(_ >= Crawl).toSeq.sorted)
        .grouped(DocsPerDay).toSeq.iterator
      vecSlices = rnd.shuffle(vecs.keys.filter(_ >= Crawl).toSeq.sorted)
        .grouped(VecsPerDay).toSeq.iterator
      val ts = spark.read.parquet(s"$data/events.parquet").agg(min("ts"), max("ts")).head()
      eventDays = math.max(1, ((ts.getTimestamp(1).getTime - ts.getTimestamp(0).getTime) / 86400000L).toInt)
    }
    freshArtifacts(rep)
  }

  /** One full day on the fresh artifacts. Days keep getting faster for
    * about four days (JIT); one warm-up day takes the steepest part of that
    * off and keeps the run short.
    */
  override def warmUp(): Unit = oneDay(timed = false)

  private def oneDay(timed: Boolean): Double = {
    day += 1
    tracer.unit = s"day-$day"
    val docSlice = if (docSlices.hasNext) docSlices.next() else Nil
    val vecSlice = if (vecSlices.hasNext) vecSlices.next() else Nil
    require(docSlice.nonEmpty && vecSlice.nonEmpty, "ran out of ingest slices")
    // the history the screen sees, for the exact check after the day
    val screenedAgainst = history.filterNot(retracted).toSeq
    val t0 = System.nanoTime()

    // screen the ingest slice against the live history
    val specs0 = bind(Nil, Nil)
    val screenOut = run(specs0("daily-screen-ingest"), "shingle_screen",
      Map("documents" -> col("doc_id").isin(docSlice: _*)), timed)
    val novel = spark.read.parquet(screenOut).select(col("key").cast("long"))
      .collect().map(_.getLong(0)).toSet
    // publish the survivors, append the day's vectors
    run(specs0("daily-publish-survivors"), "shingle_index_append",
      Map("documents" -> col("doc_id").isin(novel.toSeq: _*)), timed)
    run(specs0("daily-ingest-vectors"), "knn_index_append",
      Map("embeddings" -> col("vec_id").isin(vecSlice: _*)), timed)
    history ++= novel
    live ++= vecSlice

    // takedowns of seeded live ids
    val takeVecs = rnd.shuffle(live.toSeq).take(TakedownsPerDay)
    val takeDocs = rnd.shuffle(history.filterNot(retracted).toSeq).take(TakedownsPerDay)
    val specs = bind(takeVecs, takeDocs)
    run(specs("takedown-vectors"), "knn_index_delete", Map.empty, timed)
    run(specs("takedown-docs"), "shingle_index_retract", Map.empty, timed)
    live --= takeVecs
    deleted ++= takeVecs
    retracted ++= takeDocs
    val specs2 = bind(takeVecs, takeDocs)
    // the compaction window: timed as its own verbs, not as part of the day
    val c0 = System.nanoTime()
    if (day % CompactEvery == 0) {
      run(specs2("weekly-index-compact"), "knn_index_compact", Map.empty, timed)
      run(specs2("weekly-shingle-compact"), "shingle_index_compact", Map.empty, timed)
    }
    val compactMs = (System.nanoTime() - c0) / 1e6

    // serve the filtered search over the live set; run the scalar monitor
    val searchOut = run(specs2("serve-filtered-search"), "knn_search",
      Map("embeddings" -> col("vec_id").isin(live.toSeq: _*)), timed)
    val served = spark.read.parquet(searchOut).select(col("value")).collect().map(_.getString(0))
    val d0 = (day % eventDays).toLong
    run(specs2("daily-scalar-monitor"), "snapshot_drift",
      Map("events" -> (col("ts") >= to_timestamp(lit(s"2024-01-01")) + make_dt_interval(lit(d0)) &&
        col("ts") < to_timestamp(lit(s"2024-01-01")) + make_dt_interval(lit(d0 + 1)))), timed)
    val elapsedMs = (System.nanoTime() - t0) / 1e6
    val dayMs = elapsedMs - compactMs

    if (timed) {
      val (files, bytes) = Proc.dirStats(s"$work/lc-out/day-$day")
      samples.add("sinks.output_files", files.toDouble)
      samples.add("sinks.output_bytes", bytes.toDouble)
      samples.add("unit", dayMs)
      samples.add("ingested_rows", (docSlice.size + vecSlice.size).toDouble)
      samples.add("elapsed_ms", elapsedMs)
      val expectNovel = docSlice.filter { d =>
        val s = docTokens(d)
        !screenedAgainst.exists(h => jaccard(s, docTokens(h)) >= 0.8)
      }.toSet
      if (novel != expectNovel) failures += s"day $day: screen kept ${novel.size} docs, " +
        s"exact Jaccard keeps ${expectNovel.size} (differ: ${(novel diff expectNovel) ++ (expectNovel diff novel)})"
      val (ok, why) = checkSearch(served)
      if (!ok) failures += s"day $day: search differs from exact top-$K: $why"
    }
    elapsedMs
  }

  /** The served neighbours of each query equal an exact cosine top-k over
    * the live vectors that pass the candidate filter.
    */
  private def checkSearch(served: Array[String]): (Boolean, String) = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val got = served.map(mapper.readTree).groupBy(n => n.get("query_id").asLong)
      .map { case (q, ns) => q -> ns.map(_.get("neighbor_id").asLong).toSet }
    val queries = vecs.keys.filter(_ < 5).toSeq.sorted
    def cos(a: Array[Double], b: Array[Double]) = {
      var d, na, nb = 0.0
      var i = 0
      while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      d / math.sqrt(na * nb)
    }
    val bad = queries.flatMap { q =>
      val qv = vecs(q)._1
      // a query never lists itself among its neighbours
      val exact = live.toSeq.filter(v => v != q && vecs(v)._2 < 4)
        .map(v => v -> cos(qv, vecs(v)._1)).sortBy(x => (-x._2, x._1)).take(K).map(_._1).toSet
      if (got.getOrElse(q, Set.empty) == exact) None
      else Some(s"query $q: served ${got.getOrElse(q, Set.empty).toSeq.sorted} exact ${exact.toSeq.sorted}")
    }
    (bad.isEmpty, bad.mkString("; "))
  }

  override def measure(seconds: Double): Unit = {
    // at least two days and one compaction window, so every verb is timed;
    // then stop where the next day would overrun most
    var spent = 0.0
    var days = 0
    var compacted = false
    while (days < 2 || !compacted || spent < seconds * 1000 - Stats.median(samples.get("unit")) / 2) {
      spent += oneDay(timed = true)
      days += 1
      compacted ||= day % CompactEvery == 0
    }
  }

  override def check(): Checked = Checked(attempted, failures.size, failures.toSeq)

  override def endToEnd(): Map[String, Metric] = {
    val op = samples.get("op")
    Map(
      "unit_ms_p50" -> Metric(Stats.median(samples.get("unit")), "ms"),
      "op_ms_p50" -> Metric(Stats.median(op), "ms"),
      "op_ms_p90" -> Metric(Stats.pct(op, 90), "ms"),
      // sustained ingest over the whole window, compactions included
      "rows_per_s" -> Metric(
        samples.get("ingested_rows").sum / (samples.get("elapsed_ms").sum / 1000), "rows/s"))
  }

  override def details(): Map[String, Any] = Map(
    "lifecycle.cycle_s_p50" -> Stats.median(samples.get("unit")) / 1000,
    "lifecycle.write_verb_ms_p50" -> Stats.median(samples.get("write")),
    "lifecycle.read_verb_ms_p50" -> Stats.median(samples.get("read")),
    "lifecycle.verb_ms" -> Stats.summary(samples.get("op")),
    "day_ms" -> samples.get("unit"), "last_day" -> day,
    "live_vectors" -> live.size, "history_docs" -> history.size,
    "retracted_docs" -> retracted.size)

  override def layers(): Map[String, Metric] = Map(
    "lifecycle.write_verb_ms_p50" -> Metric(Stats.median(samples.get("write")), "ms"),
    "lifecycle.read_verb_ms_p50" -> Metric(Stats.median(samples.get("read")), "ms"))
}
