package graft

import org.scalacheck.{Gen, Prop, Properties, Test}

import graft.config._
import graft.config.TransformOp._
import graft.pipeline.Interpreter
import graft.sources.ParquetSourceResolver

/** Config-surface fuzzing (round-11 directive #7): PipelineSpec is the
  * public API — a ~950-line declarative surface — so its two build-time
  * contracts are checked over GENERATED specs, not just the fixtures the
  * oracle queries happen to use:
  *
  *  (a) every INVALID spec fails AT BUILD TIME with an
  *      IllegalArgumentException whose message carries the spec id (the
  *      reference's posture: DynamicTopologyBuilder throws IAE before any
  *      topology starts — a config error must never surface as a mid-query
  *      AnalysisException or a first-micro-batch task death);
  *  (b) every VALID spec builds an ANALYZABLE plan (schema resolves; no
  *      latent AnalysisException behind a green validate()).
  *
  * Coverage is deliberately exhaustive-by-construction rather than
  * random-only: the invalid side enumerates one mutation per validation
  * class (every transform.op's required-field/range/duration/window rules,
  * join-chain + asOf rules, eventTime window rules, sink layout + snapshot
  * rules, mode rules), and the valid side has a generator per transform.op
  * and per join/window/sink combination class, with ScalaCheck randomizing
  * the knobs within each class.
  */
object SpecFuzzProperties extends Properties("specfuzz") {

  // each valid-side case builds + analyzes a real plan (~100ms); 8 random
  // knob-variations per class × ~30 classes is plenty — the CLASSES are
  // covered deterministically, ScalaCheck only varies knobs within them
  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(8)

  private lazy val spark = SparkSuite.spark
  private lazy val resolver =
    new ParquetSourceResolver("/root/testdata/sf0.001", TestdataCatalog)

  private val docsParquet = "/root/testdata/sf0.001/documents.parquet"
  private val embParquet = "/root/testdata/sf0.001/embeddings.parquet"

  private def topic(name: String) = TopicConfig(name, "java.lang.Long")

  private def simple(id: String, source: String, ops: TransformOp*): PipelineSpec =
    PipelineSpec(id = id, processingMode = ProcessingMode.SimpleStream,
      sourceTopic = topic(source), transform = ops.toSeq,
      outputTopic = Some(OutputTopic(enabled = true, name = s"$id-out")))

  /** (b): the spec validates and the built frame ANALYZES — resolving the
    * full schema forces analysis; a spec that validates but cannot analyze
    * is exactly the latent failure this property exists to catch.
    */
  private def analyzes(spec: PipelineSpec): Prop = {
    val df = Interpreter.build(spark, spec, resolver)
    Prop(df.queryExecution.analyzed.schema.nonEmpty) :| s"spec ${spec.id}"
  }

  /** (a): build rejects the spec at validate time, IAE, id in message. */
  private def rejected(spec: PipelineSpec): Boolean =
    try { Interpreter.build(spark, spec, resolver); false }
    catch {
      case e: IllegalArgumentException =>
        val ok = Option(e.getMessage).exists(_.contains(spec.id))
        if (!ok) println(s"specfuzz: IAE without id '${spec.id}': ${e.getMessage}")
        ok
      case e: Throwable =>
        println(s"specfuzz: ${spec.id} threw ${e.getClass.getSimpleName} " +
          s"instead of IllegalArgumentException: ${e.getMessage}")
        false
    }

  // ------------------------------------------------------------ shared gens

  private val posSmall = Gen.chooseNum(1, 10)
  private val fraction = Gen.chooseNum(0.05, 1.0)
  private val docCols =
    Gen.someOf(Seq("lang", "source")).map(_.toSeq).suchThat(_.nonEmpty)

  /** Windowed-form declaration for the sketch/top-k family on events.ts:
    * none / tumbling / sliding (slide divides every) / session.
    */
  private case class WindowDecl(timeColumn: Option[String], every: Option[String],
      slide: Option[String], windowType: Option[String], watermark: Option[String])
  private val windowDecls: Gen[WindowDecl] = Gen.oneOf(
    Gen.const(WindowDecl(None, None, None, None, None)),
    Gen.oneOf("30 minutes", "1 hour", "2 hours").map(e =>
      WindowDecl(Some("ts"), Some(e), None, None, Some("10 minutes"))),
    Gen.oneOf(2, 3, 4).map(div =>
      WindowDecl(Some("ts"), Some("1 hour"), Some(s"${60 / div} minutes"),
        None, Some("0 seconds"))),
    Gen.oneOf("20 minutes", "45 minutes").map(gap =>
      WindowDecl(Some("ts"), Some(gap), None, Some("session"), Some("5 minutes"))))

  // ------------------------------------------- valid transform.op generators

  property("valid dedup_exact analyzes") = Prop.forAll(docCols) { cols =>
    analyzes(simple("fz-dedup-exact", "documents", DedupExact(dupColumns = cols,
      tieBreak = "doc_id")))
  }

  property("valid quality_filter analyzes (any nonempty threshold subset)") =
    Prop.forAll(Gen.chooseNum(1, 7)) { mask =>
      analyzes(simple("fz-quality", "documents", QualityFilter(column = "text",
        minTokens = if ((mask & 1) != 0) Some(10L) else None,
        minAvgTokenLen = if ((mask & 2) != 0) Some(2.0) else None,
        maxAvgTokenLen = if ((mask & 4) != 0) Some(12.0) else None)))
    }

  property("valid redact_pii analyzes (column and expression forms)") =
    Prop.forAll(Gen.oneOf(true, false)) { viaExpr =>
      val op = if (viaExpr)
        RedactPii(expression = Some("concat(text, ' mail x@y.zz')"),
          outputField = Some("scrubbed"))
      else RedactPii(column = Some("text"))
      analyzes(simple("fz-redact", "documents", op))
    }

  property("valid dedup_near analyzes (banding arithmetic respected)") =
    Prop.forAll(Gen.chooseNum(1, 5), Gen.chooseNum(0.5, 0.95),
        Gen.oneOf(16, 32, 64)) { (sh, th, nb) =>
      analyzes(simple("fz-neardup", "documents", DedupNear(column = "text",
        idColumn = "doc_id",
        shingleSize = Some(sh), threshold = Some(th),
        numHashes = Some(nb * 4), bands = Some(nb))))
    }

  property("valid chunk analyzes (size >= stride >= 1)") =
    Prop.forAll(Gen.chooseNum(1, 64)) { size =>
      Prop.forAll(Gen.chooseNum(1, size)) { stride =>
        analyzes(simple("fz-chunk", "documents", Chunk(column = "text",
          idColumn = "doc_id",
          size = size, stride = stride)))
      }
    }

  property("valid contamination_screen analyzes") =
    Prop.forAll(Gen.chooseNum(1, 4)) { sh =>
      analyzes(simple("fz-contam", "documents", ContaminationScreen(column = "text",
        idColumn = "doc_id", shingleSize = sh,
        benchPath = docsParquet, benchFilter = Some("doc_id % 50 = 0"))))
    }

  property("valid lang_id / text_stats analyze") =
    Prop.forAll(Gen.oneOf("lang_id", "text_stats"),
        Gen.option(Gen.const("out_col"))) { (opName, out) =>
      analyzes(simple("fz-text", "documents",
        if (opName == "lang_id") LangId(column = "text", outputField = out)
        else TextStats(column = "text")))
    }

  property("valid stratified_sample analyzes") =
    Prop.forAll(docCols, posSmall) { (cols, interval) =>
      analyzes(simple("fz-sample", "documents", StratifiedSample(stratumColumns = cols,
        idColumn = "doc_id", interval = interval)))
    }

  property("valid weighted_mix analyzes") =
    Prop.forAll(fraction, Gen.chooseNum(0.0, 1.0)) { (w, dw) =>
      analyzes(simple("fz-mix", "documents", WeightedMix(column = "lang",
        idColumn = "doc_id",
        weights = Map("en" -> w), defaultWeight = Some(dw))))
    }

  property("valid top_k analyzes (global + all three window types)") =
    Prop.forAll(posSmall, windowDecls, Gen.oneOf(Nil, Seq("event_type"))) {
      (k, w, groups) =>
        analyzes(simple("fz-topk", "events", TopK(byColumn = "value",
          idColumn = "event_id", k = k, groupColumns = groups,
          timeColumn = w.timeColumn, every = w.every, slide = w.slide,
          windowType = w.windowType, watermark = w.watermark)))
    }

  property("valid heavy_hitters analyzes (global fraction / windowed count)") =
    Prop.forAll(windowDecls, fraction, Gen.chooseNum(1L, 20L)) { (w, mf, mc) =>
      val op =
        if (w.timeColumn.isDefined) HeavyHitters(column = "event_type",
          minCount = Some(mc), timeColumn = w.timeColumn, every = w.every,
          slide = w.slide, windowType = w.windowType, watermark = w.watermark)
        else HeavyHitters(column = "event_type", minFraction = Some(mf))
      analyzes(simple("fz-heavy", "events", op))
    }

  property("valid knn analyzes (all four methods)") =
    Prop.forAll(Gen.oneOf("exact", "quantized", "ivf", "lsh"), posSmall) {
      (method, k) =>
        analyzes(simple("fz-knn", "embeddings", Knn(column = "embedding",
          idColumn = "vec_id",
          k = k, method = Some(method),
          queryPath = Some(embParquet), queryFilter = Some("vec_id < 3"),
          dim = if (method == "lsh") Some(64) else None,
          nCells = if (method == "ivf") Some(8) else None)))
    }

  property("valid shingle_index analyzes; the stored artifact screens via dedup_near historyPath") =
    Prop.forAll(Gen.chooseNum(2, 4)) { k =>
      // build half the loop per case: the artifact frame analyzes, and a
      // screen declaration against a real stored artifact builds too
      val dir = java.nio.file.Files
        .createTempDirectory("graft_fz_shingles").toString
      graft.operators.Dedup.shingleIndex(
          spark.read.parquet(docsParquet), "doc_id", "text", k)
        .write.mode("overwrite").parquet(s"$dir/shingles.parquet")
      analyzes(simple("fz-shingle-screen", "documents",
        DedupNear(method = Some("jaccard"),
          column = "text", idColumn = "doc_id",
          shingleSize = Some(k), threshold = Some(0.8),
          historyPath = Some(s"$dir/shingles.parquet")))) &&
      analyzes(simple("fz-shingle-index", "documents",
        ShingleIndex(column = "text",
          idColumn = "doc_id", shingleSize = k)))
    }

  property("valid knn_index analyzes (all three storable methods)") =
    // knn_index is EAGER by design (the write is the op) — each case
    // trains/writes a real index over the sf0.001 fixture, so this
    // property also covers the build side end to end
    Prop.forAll(Gen.oneOf("quantized", "ivf", "lsh")) { method =>
      val dir = java.nio.file.Files
        .createTempDirectory("graft_fz_knn_index").toString
      analyzes(simple("fz-knn-index", "embeddings", KnnIndex(method = method,
        column = "embedding", idColumn = "vec_id",
        indexPath = s"$dir/idx",
        nCells = if (method == "ivf") Some(8) else None,
        dim = if (method == "lsh") Some(64) else None)))
    }

  property("valid knn_index_append analyzes (extends a stored index, all methods)") =
    // eager like knn_index: the case builds a real index over the low-id
    // half and the append declaration commits the rest as generation 1
    Prop.forAll(Gen.oneOf("quantized", "ivf", "lsh")) { method =>
      val dir = java.nio.file.Files
        .createTempDirectory("graft_fz_knn_append").toString
      graft.operators.Similarity.buildIndex(
        spark.read.parquet(embParquet).filter("vec_id < 30")
          .selectExpr("vec_id", "cast(embedding as array<double>) as embedding"),
        "vec_id", "embedding", method, s"$dir/idx",
        nCells = if (method == "ivf") 8 else 0,
        dim = if (method == "lsh") 64 else 0)
      analyzes(simple("fz-knn-append", "embeddings",
        KnnIndexAppend(column = "embedding", idColumn = "vec_id",
        indexPath = s"$dir/idx")))
    }

  property("valid filter analyzes (stage-ordered predicate)") =
    Prop.forAll(Gen.oneOf("value > 100", "event_type = 'purchase'",
        "user_id % 2 = 0 AND value IS NOT NULL")) { e =>
      analyzes(simple("fz-filter", "events",
        Filter(expression = e)))
    }

  property("valid parse_json analyzes (lenient and strict postures)") =
    Prop.forAll(Gen.oneOf[Option[String]](None, Some("PERMISSIVE"),
        Some("FAILFAST"))) { mode =>
      analyzes(simple("fz-parse", "events", ParseJson(column = "props",
        jsonSchema = "k INT",
        outputField = "props_v", parseMode = mode)))
    }

  property("valid knn_index_delete analyzes (tombstones a stored index, all methods)") =
    // eager like the other maintenance verbs: the case builds a real
    // index and the delete declaration commits the frame's ids as a
    // tombstone generation
    Prop.forAll(Gen.oneOf("quantized", "ivf", "lsh")) { method =>
      val dir = java.nio.file.Files
        .createTempDirectory("graft_fz_knn_delete").toString
      graft.operators.Similarity.buildIndex(
        spark.read.parquet(embParquet).filter("vec_id < 30")
          .selectExpr("vec_id", "cast(embedding as array<double>) as embedding"),
        "vec_id", "embedding", method, s"$dir/idx",
        nCells = if (method == "ivf") 8 else 0,
        dim = if (method == "lsh") 64 else 0)
      analyzes(simple("fz-knn-delete", "embeddings", KnnIndexDelete(idColumn = "vec_id",
        indexPath = s"$dir/idx")))
    }

  property("valid shingle_index_append analyzes (extends a stored artifact)") =
    Prop.forAll(Gen.chooseNum(2, 4)) { k =>
      // eager like shingle_index_append's contract: the case publishes a
      // real artifact over the low-id half, the append declaration extends
      // it with the batch's rows at the SAME pinned width
      val dir = java.nio.file.Files
        .createTempDirectory("graft_fz_shingle_append").toString
      graft.operators.Dedup.shingleIndex(
          spark.read.parquet(docsParquet).filter("doc_id < 30"),
          "doc_id", "text", k)
        .write.mode("overwrite").parquet(s"$dir/shingles.parquet")
      analyzes(simple("fz-shingle-append", "documents",
        ShingleIndexAppend(column = "text",
          idColumn = "doc_id", shingleSize = k,
          historyPath = s"$dir/shingles.parquet")))
    }

  property("valid shingle_index_retract analyzes (tombstones a stored artifact)") =
    Prop.forAll(Gen.chooseNum(2, 4)) { k =>
      // eager like the other maintenance verbs: the case publishes a real
      // artifact and the retract declaration tombstones the frame's ids
      val dir = java.nio.file.Files
        .createTempDirectory("graft_fz_shingle_retract").toString
      graft.operators.Dedup.shingleIndex(
          spark.read.parquet(docsParquet).filter("doc_id < 30"),
          "doc_id", "text", k)
        .write.mode("overwrite").parquet(s"$dir/shingles.parquet")
      analyzes(simple("fz-shingle-retract", "documents",
        ShingleIndexRetract(idColumn = "doc_id",
          historyPath = s"$dir/shingles.parquet")))
    }

  property("valid shingle_index_compact analyzes (folds a stored artifact's files)") =
    Prop.forAll(Gen.chooseNum(2, 4)) { k =>
      // eager like the other maintenance verbs: the case publishes a real
      // artifact and the compact declaration folds its file layout
      val dir = java.nio.file.Files
        .createTempDirectory("graft_fz_shingle_compact").toString
      graft.operators.Dedup.shingleIndex(
          spark.read.parquet(docsParquet).filter("doc_id < 30"),
          "doc_id", "text", k)
        .write.mode("overwrite").parquet(s"$dir/shingles.parquet")
      analyzes(simple("fz-shingle-compact", "documents",
        ShingleIndexCompact(historyPath = s"$dir/shingles.parquet")))
    }

  property("valid resample analyzes (whole-second grid)") =
    Prop.forAll(Gen.oneOf("30 seconds", "5 minutes", "1 hour"),
        // a cap BELOW the fixture's densest grid correctly fails loudly (the
        // dense-grid guard's whole contract, pinned in OperatorsSpec) — the
        // valid side declares caps comfortably above span/every
        Gen.option(Gen.chooseNum(100_000_000L, 1_000_000_000L))) { (every, cap) =>
      analyzes(simple("fz-resample", "events", Resample(idColumn = "user_id",
        timeColumn = "ts",
        valueColumns = Seq("value"), every = every,
        maxGridRowsPerKey = cap)))
    }

  property("valid profile analyzes (exact and approx)") =
    Prop.forAll(Gen.someOf(Seq("lang", "source", "n_chars")).suchThat(_.nonEmpty),
        Gen.oneOf(true, false)) { (cols, approx) =>
      analyzes(simple("fz-profile", "documents", Profile(columns = cols.toSeq,
        approx = approx)))
    }

  property("valid quantile_rollup analyzes (incl. windowed forms)") =
    Prop.forAll(Gen.nonEmptyListOf(Gen.chooseNum(0.0, 1.0)), windowDecls) {
      (qs0, w) =>
        // shrinking can hand back an empty list; an empty quantiles decl is
        // the invalid-side's territory, not this property's
        val qs = if (qs0.isEmpty) Seq(0.5) else qs0.distinct
        analyzes(simple("fz-quant", "events", QuantileRollup(column = "value",
          groupColumns = Seq("event_type"), quantiles = qs,
          timeColumn = w.timeColumn, every = w.every, slide = w.slide,
          windowType = w.windowType, watermark = w.watermark)))
    }

  property("valid distinct_rollup analyzes (incl. windowed forms)") =
    Prop.forAll(windowDecls, Gen.oneOf(false, true)) { (w, keep) =>
      analyzes(simple("fz-distinct", "events", DistinctRollup(column = "user_id",
        groupColumns = Seq("event_type"), keepSketch = keep,
        timeColumn = w.timeColumn, every = w.every, slide = w.slide,
        windowType = w.windowType, watermark = w.watermark)))
    }

  property("valid pack analyzes") =
    Prop.forAll(Gen.chooseNum(100L, 10000L)) { budget =>
      analyzes(simple("fz-pack", "documents", Pack(column = "n_chars", budget = budget,
        orderColumns = Seq("doc_id"))))
    }

  property("valid snapshot_drift analyzes (numeric / categorical / both)") =
    Prop.forAll(Gen.oneOf(
        (Seq("value"), Seq.empty[String]),
        (Seq.empty[String], Seq("event_type")),
        (Seq("value"), Seq("event_type"))),
        Gen.option(Gen.const("user_id IS NOT NULL"))) { case ((num, cat), cf) =>
      analyzes(simple("fz-drift", "events",
        SnapshotDrift(comparePath = Some("<dataDir>/events.parquet"),
          compareFilter = cf,
        numericColumns = num, categoricalColumns = cat)))
    }

  property("valid snapshot_drift embedding leg analyzes (global / grouped)") =
    Prop.forAll(Gen.option(Gen.const("label"))) { groupBy =>
      analyzes(simple("fz-embed-drift", "embeddings",
        SnapshotDrift(comparePath = Some("<dataDir>/embeddings.parquet"),
          compareFilter = Some("label < 8"),
          embeddingColumns = Seq("embedding"), embeddingGroupBy = groupBy)))
    }

  // stored-artifact fixtures for the embedding_summary family: tiny
  // summary parquets (global + grouped) written once per suite run — the
  // merge op's source frame must BE an artifact union, and the
  // summaryPath route needs a stored old side
  private lazy val artifactDir: String = {
    val dir = java.nio.file.Files.createTempDirectory("graft_fuzz_artifacts")
    val e = spark.read.parquet(embParquet)
    graft.operators.Drift.embeddingSummary(e, "embedding")
      .write.mode("overwrite").parquet(s"$dir/summary_global.parquet")
    graft.operators.Drift.embeddingSummary(e, "embedding", Some("label"))
      .write.mode("overwrite").parquet(s"$dir/summary_grouped.parquet")
    // a timestamped embeddings twin for the WINDOWED drift monitor (the
    // real embeddings fixture carries no event time)
    e.withColumn("ts", org.apache.spark.sql.functions.expr(
        "TIMESTAMP '2024-01-01 00:00:00' + " +
          "make_interval(0, 0, 0, 0, CAST(vec_id % 48 AS INT), 0, 0)"))
      .write.mode("overwrite").parquet(s"$dir/emb_ts.parquet")
    // baselines for the scalar / percentile windowed monitors
    val ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    graft.operators.Drift.scalarSummary(ev, Seq("value"), Seq("event_type"))
      .write.mode("overwrite").parquet(s"$dir/stats_grouped.parquet")
    graft.operators.Drift.scalarSummary(ev, Seq("value"), Nil)
      .write.mode("overwrite").parquet(s"$dir/stats_global.parquet")
    graft.operators.Profile.quantileSketches(ev, Seq("event_type"), "value")
      .write.mode("overwrite").parquet(s"$dir/qsketches.parquet")
    // a stored ivf index for the query-frame knn route
    graft.operators.Similarity.buildIndex(
      e.selectExpr("vec_id", "cast(embedding as array<double>) as embedding"),
      "vec_id", "embedding", "ivf", s"$dir/ivf_idx", nCells = 8, nAssign = 2)
    dir.toString
  }

  property("valid knn query-frame route analyzes (stored index; plain / windowed)") =
    Prop.forAll(Gen.oneOf(false, true)) { windowed =>
      val res = new ParquetSourceResolver(artifactDir, TestdataCatalog)
      val spec = simple("fz-knn-qframe",
        if (windowed) "emb_ts" else "embeddings",
        Knn(method = Some("ivf"),
          column = "embedding", idColumn = "vec_id", k = 5,
          indexPath = Some(s"$artifactDir/ivf_idx"),
          timeColumn = if (windowed) Some("ts") else None,
          every = if (windowed) Some("1 hour") else None))
      val df = Interpreter.build(spark, spec,
        if (windowed) res else resolver)
      Prop(df.queryExecution.analyzed.schema.nonEmpty) :| s"spec ${spec.id}"
    }

  property("valid embedding_summary analyzes (global / grouped)") =
    Prop.forAll(Gen.option(Gen.const("label"))) { g =>
      analyzes(simple("fz-embed-summary", "embeddings",
        EmbeddingSummary(column = "embedding",
          embeddingGroupBy = g)))
    }

  property("valid merge_embedding_summaries analyzes (global / grouped artifact)") =
    Prop.forAll(Gen.oneOf("summary_global", "summary_grouped")) { t =>
      val res = new ParquetSourceResolver(artifactDir, TestdataCatalog)
      val spec = simple("fz-merge-summaries", t,
        MergeEmbeddingSummaries())
      val df = Interpreter.build(spark, spec, res)
      Prop(df.queryExecution.analyzed.schema.nonEmpty) :| s"spec ${spec.id}"
    }

  property("valid snapshot_drift summaryPath route analyzes (global / grouped)") =
    Prop.forAll(Gen.oneOf(false, true)) { grouped =>
      val art = if (grouped) "summary_grouped" else "summary_global"
      analyzes(simple("fz-drift-summary", "embeddings",
        SnapshotDrift(summaryPath = Some(s"$artifactDir/$art.parquet"),
          embeddingColumns = Seq("embedding"),
          embeddingGroupBy = if (grouped) Some("label") else None)))
    }

  property("valid snapshot_drift windowed monitor analyzes (tumbling / sliding; bounds optional)") =
    Prop.forAll(Gen.oneOf(Option.empty[String], Some("30 minutes")),
        Gen.oneOf(false, true)) { (slide, bounded) =>
      val res = new ParquetSourceResolver(artifactDir, TestdataCatalog)
      val spec = simple("fz-windowed-drift", "emb_ts",
        SnapshotDrift(summaryPath = Some(s"$artifactDir/summary_global.parquet"),
          embeddingColumns = Seq("embedding"),
          timeColumn = Some("ts"), every = Some("1 hour"), slide = slide,
          maxAbsDelta = if (bounded) Map("centroid_shift" -> 0.5) else Map.empty))
      val df = Interpreter.build(spark, spec, res)
      Prop(df.queryExecution.analyzed.schema.nonEmpty) :| s"spec ${spec.id}"
    }

  property("valid scalar_summary analyzes (global / grouped / windowed)") =
    Prop.forAll(Gen.oneOf(Seq.empty[String], Seq("event_type")),
        Gen.oneOf(false, true)) { (dims, windowed) =>
      analyzes(simple("fz-scalar-summary", "events",
        ScalarSummary(columns = Seq("value"),
          groupColumns = dims,
          timeColumn = if (windowed) Some("ts") else None,
          every = if (windowed) Some("1 hour") else None)))
    }

  property("valid snapshot_drift windowed scalar monitor analyzes (statsPath; global / grouped baseline)") =
    Prop.forAll(Gen.oneOf(false, true), Gen.oneOf(false, true)) {
      (grouped, bounded) =>
        val art = if (grouped) "stats_grouped" else "stats_global"
        analyzes(simple("fz-scalar-monitor", "events",
          SnapshotDrift(statsPath = Some(s"$artifactDir/$art.parquet"),
            numericColumns = Seq("value"),
            groupColumns = if (grouped) Seq("event_type") else Nil,
            timeColumn = Some("ts"), every = Some("1 hour"),
            maxAbsDelta = if (bounded) Map("value.mean" -> 100.0) else Map.empty)))
    }

  property("valid snapshot_drift windowed quantile monitor analyzes (quantilePath)") =
    Prop.forAll(Gen.oneOf(false, true)) { bounded =>
      analyzes(simple("fz-quantile-monitor", "events",
        SnapshotDrift(quantilePath = Some(s"$artifactDir/qsketches.parquet"),
          groupColumns = Seq("event_type"), column = Some("value"),
          quantiles = Seq(0.5, 0.9),
          timeColumn = Some("ts"), every = Some("1 hour"),
          maxAbsDelta = if (bounded) Map("value.p50" -> 1000.0) else Map.empty)))
    }

  property("valid snapshot_drift batch statsPath route analyzes (global / grouped; both-sides-stored optional)") =
    Prop.forAll(Gen.oneOf(false, true), Gen.oneOf(false, true)) {
      (grouped, bothStored) =>
        val art = if (grouped) "stats_grouped" else "stats_global"
        analyzes(simple("fz-drift-stats", "events",
          SnapshotDrift(statsPath = Some(s"$artifactDir/$art.parquet"),
            newStatsPath =
              if (bothStored) Some(s"$artifactDir/$art.parquet") else None,
            numericColumns = Seq("value"),
            groupColumns = if (grouped) Seq("event_type") else Nil)))
    }

  property("valid merge_scalar_summaries analyzes (global / grouped shards)") =
    Prop.forAll(Gen.oneOf("stats_global", "stats_grouped")) { t =>
      val res = new ParquetSourceResolver(artifactDir, TestdataCatalog)
      val spec = simple("fz-merge-stats", t,
        MergeScalarSummaries())
      val df = Interpreter.build(spark, spec, res)
      Prop(df.queryExecution.analyzed.schema.nonEmpty) :| s"spec ${spec.id}"
    }

  property("valid knn_index_compact analyzes (single-gen no-op and post-append fold)") =
    Prop.forAll(Gen.oneOf(false, true)) { appended =>
      // eager like knn_index: the case builds a real index (and optionally
      // a second posting generation) and the compact declaration folds it
      val dir = java.nio.file.Files
        .createTempDirectory("graft_fz_knn_compact").toString
      val e = spark.read.parquet(embParquet)
        .selectExpr("vec_id", "cast(embedding as array<double>) as embedding")
      graft.operators.Similarity.buildIndex(e.filter("vec_id < 30"),
        "vec_id", "embedding", "quantized", s"$dir/idx")
      if (appended)
        graft.operators.Similarity.appendIndex(
          e.filter("vec_id >= 30 and vec_id < 40"), "vec_id", "embedding",
          s"$dir/idx")
      analyzes(simple("fz-knn-compact", "embeddings",
        KnnIndexCompact(indexPath = s"$dir/idx")))
    }

  property("valid transform CHAINS analyze (filter + multiple ops in order)") =
    Prop.forAll(Gen.chooseNum(10L, 50L), Gen.chooseNum(20, 60)) { (mt, size) =>
      val spec = simple("fz-chain", "documents",
        QualityFilter(column = "text",
          minTokens = Some(mt)),
        TextStats(column = "text"),
        Chunk(column = "text",
          idColumn = "doc_id", size = size, stride = size))
        .copy(filter = Some("n_chunk_tokens > 1"))
      analyzes(spec)
    }

  // ------------------------------------------ valid join / window / sink gens

  private def mapping(feature: Int): FieldMapping = feature match {
    case 0 => FieldMapping("LEFT", "o_orderkey", "order_id")
    case 1 => FieldMapping("RIGHT", "c_name", "customer_name")
    case 2 => FieldMapping("RIGHT", "missing_col", "warn_null") // warn-and-null
    case 3 => FieldMapping("RIGHT", "c_name", "name_or_default",
      defaultValue = Some("unknown"))
    case 4 => FieldMapping("LEFT", "", "computed",
      expression = Some("o_totalprice * 2"))
    case 5 => FieldMapping("RIGHT", "c_name", "upper_name",
      transformationFunction = Some("upper"))
  }

  property("valid join chains analyze (type x global x mapping features)") =
    Prop.forAll(Gen.oneOf(JoinType.Inner, JoinType.Left, JoinType.Outer),
        Gen.oneOf(true, false),
        Gen.someOf(0 to 5).suchThat(_.nonEmpty)) { (jt, global, features) =>
      val spec = PipelineSpec(id = "fz-join", processingMode = ProcessingMode.JoinChain,
        sourceTopic = topic("orders"),
        joinOperations = Seq(JoinOp(id = "s1", `type` = jt,
          initialSourceIsStream = true,
          primaryKeyExtraction = Some(KeyExtraction("VALUE", Some("o_custkey"))),
          enrichmentTopic = topic("customer"), global = global,
          outputFieldsMapping = features.toSeq.sorted.map(mapping))))
      analyzes(spec)
    }

  property("valid asOf steps analyze (both directions, filter, key field)") =
    Prop.forAll(Gen.oneOf("backward", "forward"),
        Gen.option(Gen.const("event_id % 10 = 0"))) { (dir, filt) =>
      val spec = PipelineSpec(id = "fz-asof", processingMode = ProcessingMode.JoinChain,
        sourceTopic = topic("events"),
        joinOperations = Seq(JoinOp(id = "t1", `type` = JoinType.Left,
          initialSourceIsStream = true,
          primaryKeyExtraction = Some(KeyExtraction("VALUE", Some("user_id"))),
          enrichmentTopic = topic("events"),
          asOf = Some(AsOfSpec("ts", "ts", direction = dir,
            enrichmentKeyField = Some("user_id"), enrichmentFilter = filt)),
          outputFieldsMapping = Seq(
            FieldMapping("LEFT", "event_id", "event_id"),
            FieldMapping("RIGHT", "value", "profile_value")))))
      analyzes(spec)
    }

  property("valid AGGREGATION windows analyze (tumbling/sliding/session x aggs)") =
    Prop.forAll(Gen.oneOf("tumbling", "sliding", "session"),
        Gen.oneOf(Seq(AggSpec("count")),
          Seq(AggSpec("sum", Some("value")), AggSpec("max", Some("value"))),
          Seq(AggSpec("avg", Some("value")), AggSpec("min", Some("value"))))) {
      (wt, aggs) =>
        val spec = PipelineSpec(id = "fz-agg",
          processingMode = ProcessingMode.Aggregation,
          sourceTopic = topic("events"),
          groupByKeyExtraction = Some(KeyExtraction("VALUE", Some("event_type"))),
          groupByKeyType = Some("java.lang.String"),
          aggregations = aggs,
          eventTime = Some(EventTimeSpec("ts", "1 hour", Some("10 minutes"),
            windowType = wt,
            slide = if (wt == "sliding") Some("30 minutes") else None)))
        analyzes(spec)
    }

  property("valid sink layouts validate (partitionBy/zOrder/sizing/snapshot)") =
    Prop.forAll(Gen.oneOf(0, 1, 2, 3, 4)) { variant =>
      val out = variant match {
        case 0 => OutputTopic(enabled = true, name = "fz-out",
          partitionBy = Seq("lang"))
        case 1 => OutputTopic(enabled = true, name = "fz-out",
          zOrderBy = Seq("doc_id", "n_chars"))
        case 2 => OutputTopic(enabled = true, name = "fz-out",
          targetFileBytes = Some(64L * 1024 * 1024))
        case 3 => OutputTopic(enabled = true, name = "fz-out",
          snapshot = Some(SnapshotSpec(Seq("doc_id"), Seq("n_chars"),
            partitionBy = Seq("lang"), compactEvery = Some(4))))
        case _ => OutputTopic(enabled = true, name = "fz-out",
          snapshot = Some(SnapshotSpec(Seq("doc_id"), Seq("n_chars"),
            zOrderBy = Seq("doc_id", "n_chars"))))
      }
      val spec = simple("fz-sink", "documents").copy(outputTopic = Some(out))
      analyzes(spec)
    }

  // --------------------------------------------------- invalid spec mutations

  /** One mutation per validation class. Each must throw IAE-with-id at
    * build. Kept deterministic and exhaustive: random sampling over a list
    * this heterogeneous would leave classes unvisited at any sane test
    * count.
    */
  private def invalidSpecs: Seq[(String, PipelineSpec)] = {
    def t(op: TransformOp) = simple("fz-bad", "documents", op)
    def te(op: TransformOp) = simple("fz-bad", "events", op)
    val joinBase = PipelineSpec(id = "fz-bad", processingMode = ProcessingMode.JoinChain,
      sourceTopic = topic("orders"),
      joinOperations = Seq(JoinOp(id = "j1", `type` = JoinType.Inner,
        enrichmentTopic = topic("customer"),
        primaryKeyExtraction = Some(KeyExtraction("VALUE", Some("o_custkey"))),
        outputFieldsMapping = Seq(FieldMapping("LEFT", "o_orderkey", "a")))))
    def oneJoin(f: JoinOp => JoinOp) =
      joinBase.copy(joinOperations = joinBase.joinOperations.map(f))
    val asOfOk = AsOfSpec("ts", "ts")
    def asOfJoin(a: AsOfSpec, jt: String = JoinType.Left,
        maps: Seq[FieldMapping] = Seq(FieldMapping("LEFT", "event_id", "e"),
          FieldMapping("RIGHT", "value", "v")),
        global: Boolean = false) =
      joinBase.copy(sourceTopic = topic("events"),
        joinOperations = Seq(JoinOp(id = "j1", `type` = jt, global = global,
          primaryKeyExtraction = Some(KeyExtraction("VALUE", Some("user_id"))),
          enrichmentTopic = topic("events"), asOf = Some(a),
          outputFieldsMapping = maps)))
    val aggBase = PipelineSpec(id = "fz-bad", processingMode = ProcessingMode.Aggregation,
      sourceTopic = topic("events"),
      groupByKeyExtraction = Some(KeyExtraction("VALUE", Some("event_type"))),
      groupByKeyType = Some("java.lang.String"))
    def et(e: EventTimeSpec) = aggBase.copy(eventTime = Some(e))
    def sink(o: OutputTopic) = simple("fz-bad", "documents").copy(outputTopic = Some(o))

    Seq(
      // mode / chain level
      "unknown processingMode" ->
        aggBase.copy(processingMode = "STREAM_TABLE_DUALITY"),
      "AGGREGATION without groupByKeyExtraction" ->
        aggBase.copy(groupByKeyExtraction = None),
      "JOIN_CHAIN without joinOperations" ->
        joinBase.copy(joinOperations = Nil),
      "join op without outputFieldsMapping" ->
        oneJoin(_.copy(outputFieldsMapping = Nil)),
      "mapping with neither sourceFieldName nor expression" ->
        oneJoin(_.copy(outputFieldsMapping = Seq(FieldMapping("LEFT", "", "a")))),
      "unknown transformationFunction" ->
        oneJoin(_.copy(outputFieldsMapping = Seq(FieldMapping("LEFT", "o_orderkey",
          "a", transformationFunction = Some("sha999"))))),
      // asOf rules
      "asOf on INNER join" -> asOfJoin(asOfOk, jt = JoinType.Inner),
      "asOf with global" -> asOfJoin(asOfOk, global = true),
      "asOf missing time columns" -> asOfJoin(AsOfSpec("", "ts")),
      "asOf bad direction" -> asOfJoin(asOfOk.copy(direction = "sideways")),
      "asOf empty snapshotPath" -> asOfJoin(asOfOk.copy(snapshotPath = Some(""))),
      "asOf expression mapping" -> asOfJoin(asOfOk, maps = Seq(
        FieldMapping("LEFT", "", "x", expression = Some("1+1")))),
      "asOf duplicate RIGHT outputs" -> asOfJoin(asOfOk, maps = Seq(
        FieldMapping("RIGHT", "value", "v"), FieldMapping("RIGHT", "props", "v"))),
      "asOf RIGHT output colliding with LEFT source" -> asOfJoin(asOfOk, maps = Seq(
        FieldMapping("LEFT", "event_id", "e"), FieldMapping("RIGHT", "value",
          "event_id"))),
      // eventTime rules
      "eventTime outside AGGREGATION" ->
        simple("fz-bad", "events").copy(eventTime =
          Some(EventTimeSpec("ts", "1 hour", Some("0 seconds")))),
      "unknown windowType" -> et(EventTimeSpec("ts", "1 hour", Some("0 seconds"),
        windowType = "hopping-ish")),
      "sliding without slide" -> et(EventTimeSpec("ts", "1 hour", Some("0 seconds"),
        windowType = "sliding")),
      "slide on non-sliding window" -> et(EventTimeSpec("ts", "1 hour",
        Some("0 seconds"), windowType = "tumbling", slide = Some("30 minutes"))),
      "window without watermark" -> et(EventTimeSpec("ts", "1 hour", None)),
      "unparseable window interval" -> et(EventTimeSpec("ts", "one hourish",
        Some("0 seconds"))),
      "month-based window interval" -> et(EventTimeSpec("ts", "1 month",
        Some("0 seconds"))),
      "zero window" -> et(EventTimeSpec("ts", "0 seconds", Some("0 seconds"))),
      "slide exceeding window" -> et(EventTimeSpec("ts", "1 hour", Some("0 seconds"),
        windowType = "sliding", slide = Some("2 hours"))),
      // sink layout + snapshot rules
      "partitionBy and zOrderBy together" -> sink(OutputTopic(enabled = true,
        name = "o", partitionBy = Seq("lang"), zOrderBy = Seq("doc_id", "n_chars"))),
      "single-column zOrderBy" -> sink(OutputTopic(enabled = true, name = "o",
        zOrderBy = Seq("doc_id"))),
      "duplicate layout columns" -> sink(OutputTopic(enabled = true, name = "o",
        partitionBy = Seq("lang", "lang"))),
      "nonpositive targetFileBytes" -> sink(OutputTopic(enabled = true, name = "o",
        targetFileBytes = Some(0L))),
      "targetFileBytes with partitionBy" -> sink(OutputTopic(enabled = true,
        name = "o", partitionBy = Seq("lang"), targetFileBytes = Some(1L << 20))),
      "partitionBy named key collides with sink shape" ->
        sink(OutputTopic(enabled = true, name = "o", partitionBy = Seq("key"))),
      "snapshot without keyColumns" -> sink(OutputTopic(enabled = true, name = "o",
        snapshot = Some(SnapshotSpec(Nil, Seq("n_chars"))))),
      "snapshot without orderColumns" -> sink(OutputTopic(enabled = true, name = "o",
        snapshot = Some(SnapshotSpec(Seq("doc_id"), Nil)))),
      "snapshot compactEvery zero" -> sink(OutputTopic(enabled = true, name = "o",
        snapshot = Some(SnapshotSpec(Seq("doc_id"), Seq("n_chars"),
          compactEvery = Some(0))))),
      "snapshot single-column zOrderBy" -> sink(OutputTopic(enabled = true,
        name = "o", snapshot = Some(SnapshotSpec(Seq("doc_id"), Seq("n_chars"),
          zOrderBy = Seq("doc_id"))))),
      "snapshot zOrderBy intersecting partitionBy" -> sink(OutputTopic(
        enabled = true, name = "o", snapshot = Some(SnapshotSpec(Seq("doc_id"),
          Seq("n_chars"), partitionBy = Seq("lang"),
          zOrderBy = Seq("lang", "n_chars"))))),
      "duplicate enabled sink names" -> simple("fz-bad", "documents").copy(
        outputTopic = Some(OutputTopic(enabled = true, name = "same")),
        branches = Seq(BranchSpec("doc_id > 0",
          OutputTopic(enabled = true, name = "same")))),
      // transform.op rules — one per op's validation class (split into a
      // second method: the single Seq outgrew the JVM 64KB method limit);
      // an omitted required field decodes as null (0 for a number)
      "planAudit bad mode" ->
        simple("fz-bad", "documents").copy(planAudit = Some("maybe"))) ++
    invalidTransformSpecs(t, te)
  }

  private def invalidTransformSpecs(
      t: TransformOp => PipelineSpec,
      te: TransformOp => PipelineSpec): Seq[(String, PipelineSpec)] = {
    Seq(
      "dedup_exact without tieBreak" ->
        t(DedupExact(dupColumns = Seq("lang"), tieBreak = null)),
      "quality_filter without thresholds" -> t(QualityFilter(column = "text")),
      "redact_pii expression without outputField" ->
        t(RedactPii(expression = Some("text"))),
      "dedup_near threshold out of range" -> t(DedupNear(column = "text",
        idColumn = "doc_id", shingleSize = Some(3),
        threshold = Some(1.5))),
      "dedup_near numHashes not multiple of bands" -> t(DedupNear(column = "text",
        idColumn = "doc_id",
        shingleSize = Some(3), threshold = Some(0.8),
        numHashes = Some(100), bands = Some(32))),
      "dedup_near bad stateTtl duration" -> t(DedupNear(column = "text",
        idColumn = "doc_id", shingleSize = Some(3),
        threshold = Some(0.8), stateTtl = Some("a fortnight-ish"))),
      "chunk stride exceeding size" -> t(Chunk(column = "text", idColumn = "doc_id",
        size = 10, stride = 20)),
      "contamination_screen without benchPath" -> t(ContaminationScreen(
        column = "text", idColumn = "doc_id", benchPath = null, shingleSize = 3)),
      "lang_id without column" -> t(LangId(column = null)),
      "text_stats without column" -> t(TextStats(column = null)),
      "stratified_sample zero interval" -> t(StratifiedSample(
        stratumColumns = Seq("lang"), idColumn = "doc_id", interval = 0)),
      "weighted_mix weight above one" -> t(WeightedMix(column = "lang",
        idColumn = "doc_id",
        weights = Map("en" -> 1.5))),
      "top_k zero k" -> t(TopK(byColumn = "n_chars",
        idColumn = "doc_id", k = 0)),
      "top_k slide not dividing every" -> te(TopK(byColumn = "value",
        idColumn = "event_id", k = 3,
        timeColumn = Some("ts"), every = Some("1 hour"),
        slide = Some("25 minutes"))),
      "top_k session with slide" -> te(TopK(byColumn = "value",
        idColumn = "event_id", k = 3,
        timeColumn = Some("ts"), every = Some("1 hour"),
        windowType = Some("session"), slide = Some("30 minutes"))),
      "top_k watermark without window" -> te(TopK(byColumn = "value",
        idColumn = "event_id", k = 3,
        watermark = Some("10 minutes"))),
      "top_k every without timeColumn" -> te(TopK(byColumn = "value",
        idColumn = "event_id", k = 3,
        every = Some("1 hour"))),
      "heavy_hitters global with minCount" -> te(HeavyHitters(column = "event_type",
        minCount = Some(5L))),
      "heavy_hitters windowed with minFraction" -> te(HeavyHitters(column = "event_type",
        timeColumn = Some("ts"), every = Some("1 hour"),
        minFraction = Some(0.1))),
      "heavy_hitters unknown windowType" -> te(HeavyHitters(column = "event_type",
        timeColumn = Some("ts"),
        every = Some("1 hour"), minCount = Some(3L),
        windowType = Some("jumping"))),
      "knn unknown method" -> te(Knn(column = "embedding", idColumn = "vec_id", k = 5,
        queryPath = Some(embParquet), method = Some("sublinear-magic"))),
      "knn lsh without dim" -> te(Knn(column = "embedding", idColumn = "vec_id", k = 5,
        queryPath = Some(embParquet), method = Some("lsh"))),
      "knn nonpositive nProbe" -> te(Knn(column = "embedding", idColumn = "vec_id", k = 5,
        queryPath = Some(embParquet), method = Some("ivf"), nProbe = Some(0))),
      "shingle_index without shingleSize (the artifact pins it)" -> te(
        ShingleIndex(column = "text", idColumn = "doc_id", shingleSize = 0)),
      "dedup_near historyPath with method=embedding (jaccard-only screen)" ->
        te(DedupNear(method = Some("embedding"),
          column = "embedding", idColumn = "vec_id",
          dim = Some(64), threshold = Some(0.8),
          historyPath = Some("/nowhere/shingles.parquet"))),
      "knn_index without indexPath" -> te(KnnIndex(method = "quantized",
        column = "embedding", idColumn = "vec_id", indexPath = null)),
      "knn_index_append without indexPath" -> te(KnnIndexAppend(
        column = "embedding", idColumn = "vec_id", indexPath = null)),
      "filter without expression" -> te(Filter(expression = null)),
      "knn_index attributeColumns with a reserved name" -> te(KnnIndex(
        method = "quantized", column = "embedding", idColumn = "vec_id",
        indexPath = "/tmp/idx", attributeColumns = Seq("gen"))),
      "shingle_index_retract without historyPath" ->
        te(ShingleIndexRetract(idColumn = "doc_id", historyPath = null)),
      "shingle_index_retract without idColumn" ->
        te(ShingleIndexRetract(idColumn = null, historyPath = "/tmp/hist")),
      "knn_index_delete without indexPath" ->
        te(KnnIndexDelete(idColumn = "vec_id", indexPath = null)),
      "knn_index_delete without idColumn" ->
        te(KnnIndexDelete(idColumn = null, indexPath = "/tmp/idx")),
      "knn_index_compact without indexPath" ->
        te(KnnIndexCompact(indexPath = null)),
      "snapshot_drift newStatsPath without statsPath" ->
        te(SnapshotDrift(numericColumns = Seq("value"),
          newStatsPath = Some("/nowhere/stats.parquet"))),
      "snapshot_drift batch statsPath without numericColumns" ->
        te(SnapshotDrift(statsPath = Some("/nowhere/stats.parquet"))),
      "snapshot_drift comparePath never read (statsPath covers the only leg)" ->
        te(SnapshotDrift(numericColumns = Seq("value"),
          statsPath = Some("/nowhere/stats.parquet"),
          comparePath = Some("/nowhere/old.parquet"))),
      "snapshot_drift duplicate numericColumns" ->
        te(SnapshotDrift(numericColumns = Seq("value", "value"),
          comparePath = Some("/nowhere/old.parquet"))),
      "snapshot_drift newSketchPath without sketchPath" ->
        te(SnapshotDrift(groupColumns = Seq("event_type"), column = Some("user_id"),
          numericColumns = Seq("value"),
          comparePath = Some("<dataDir>/events.parquet"),
          newSketchPath = Some("/nowhere/sketches.parquet"))),
      "snapshot_drift newQuantilePath without quantilePath" ->
        te(SnapshotDrift(groupColumns = Seq("event_type"), column = Some("value"),
          numericColumns = Seq("value"),
          comparePath = Some("<dataDir>/events.parquet"),
          newQuantilePath = Some("/nowhere/qsketches.parquet"))),
      "shingle_index_append without historyPath" -> te(ShingleIndexAppend(
        column = "text", idColumn = "doc_id", shingleSize = 3, historyPath = null)),
      "shingle_index_compact without historyPath" ->
        te(ShingleIndexCompact(historyPath = null)),
      "knn_index without method" -> te(KnnIndex(column = "embedding",
        idColumn = "vec_id", indexPath = "/nowhere/idx", method = null)),
      "knn_index method=exact (nothing to store)" -> te(KnnIndex(method = "exact",
        column = "embedding", idColumn = "vec_id",
        indexPath = "/nowhere/idx")),
      "knn_index ivf without nCells (the artifact pins geometry)" -> te(
        KnnIndex(method = "ivf",
          column = "embedding", idColumn = "vec_id",
          indexPath = "/nowhere/idx")),
      "knn_index lsh without dim" -> te(KnnIndex(method = "lsh", column = "embedding",
        idColumn = "vec_id", indexPath = "/nowhere/idx")),
      "knn method=exact with indexPath (the scan is the plan)" -> te(
        Knn(column = "embedding",
          idColumn = "vec_id", k = 5,
          queryPath = Some(embParquet), indexPath = Some("/nowhere/idx"))),
      "knn windowed form with queryPath (belongs to the query-frame route)" ->
        te(Knn(method = Some("ivf"),
          column = "embedding", idColumn = "vec_id", k = 5,
          queryPath = Some(embParquet), indexPath = Some("/nowhere/idx"),
          timeColumn = Some("ts"), every = Some("1 hour"))),
      "knn without queryPath or indexPath" -> te(Knn(column = "embedding",
        idColumn = "vec_id", k = 5)),
      "knn windowed quantized (two chained aggregations)" -> te(Knn(
        method = Some("quantized"), column = "embedding", idColumn = "vec_id", k = 5,
        indexPath = Some("/nowhere/idx"),
        timeColumn = Some("ts"), every = Some("1 hour")))) ++
    invalidParseAndFamilySpecs(t, te) ++
    invalidDriftSpecs(t, te)
  }

  // round-20 op/field rules, in a third method — the single Seq outgrew
  // the JVM 64KB method limit twice already
  private def invalidParseAndFamilySpecs(
      t: TransformOp => PipelineSpec,
      te: TransformOp => PipelineSpec): Seq[(String, PipelineSpec)] = {
    Seq(
      "parse_json without jsonSchema" ->
        t(ParseJson(column = "props", jsonSchema = null, outputField = "v")),
      "parse_json malformed jsonSchema DDL" -> t(ParseJson(column = "props",
        jsonSchema = "k INT,", outputField = "v")),
      "parse_json unknown parseMode" -> t(ParseJson(column = "props",
        jsonSchema = "k INT",
        outputField = "v", parseMode = Some("LENIENTISH"))),
      "parse_json dlqPath without DLQ mode" -> t(ParseJson(column = "props",
        jsonSchema = "k INT", outputField = "v",
        parseMode = Some("FAILFAST"), dlqPath = Some("/tmp/dlq"))),
      "parse_json DLQ mode without dlqPath" -> t(ParseJson(column = "props",
        jsonSchema = "k INT", outputField = "v",
        parseMode = Some("DLQ"))),
      "knn_index partitionByAttribute not in attributeColumns" -> t(
        KnnIndex(method = "quantized",
          column = "embedding", idColumn = "vec_id",
          indexPath = "/tmp/idx", attributeColumns = Seq("label"),
          partitionByAttribute = Some("lang"))))
  }

  private def invalidDriftSpecs(
      t: TransformOp => PipelineSpec,
      te: TransformOp => PipelineSpec): Seq[(String, PipelineSpec)] = {
    Seq(
      "snapshot_drift without comparePath" ->
        te(SnapshotDrift(numericColumns = Seq("value"))),
      "snapshot_drift without any columns" ->
        te(SnapshotDrift(comparePath = Some("<dataDir>/events.parquet"))),
      "snapshot_drift embeddingGroupBy without embeddingColumns" -> te(
        SnapshotDrift(comparePath = Some("<dataDir>/embeddings.parquet"),
          numericColumns = Seq("vec_id"),
          embeddingGroupBy = Some("label"))),
      "snapshot_drift summaryPath with several embeddingColumns" -> te(
        SnapshotDrift(summaryPath = Some("/nowhere/summary.parquet"),
          embeddingColumns = Seq("embedding", "embedding2"))),
      "snapshot_drift sketchPath without groupColumns/column" -> te(
        SnapshotDrift(sketchPath = Some("/nowhere/sketches.parquet"))),
      "windowed snapshot_drift without a stored baseline (the monitor never rescans raw old data)" ->
        te(SnapshotDrift(comparePath = Some("<dataDir>/embeddings.parquet"),
          embeddingColumns = Seq("embedding"),
          timeColumn = Some("ts"), every = Some("1 hour"))),
      "windowed snapshot_drift with TWO baselines (one leg per declaration)" ->
        te(SnapshotDrift(summaryPath = Some("/nowhere/summary.parquet"),
          statsPath = Some("/nowhere/stats.parquet"),
          embeddingColumns = Seq("embedding"),
          numericColumns = Seq("value"),
          timeColumn = Some("ts"), every = Some("1 hour"))),
      "windowed snapshot_drift summaryPath with a scalar leg mixed in" ->
        te(SnapshotDrift(summaryPath = Some("/nowhere/summary.parquet"),
          embeddingColumns = Seq("embedding"),
          numericColumns = Seq("value"),
          timeColumn = Some("ts"), every = Some("1 hour"))),
      "windowed snapshot_drift statsPath without numericColumns" ->
        te(SnapshotDrift(statsPath = Some("/nowhere/stats.parquet"),
          timeColumn = Some("ts"), every = Some("1 hour"))),
      "scalar_summary without columns" -> te(ScalarSummary(groupColumns = Seq("event_type"))),
      "snapshot_drift quantilePath without groupColumns/column" -> te(
        SnapshotDrift(quantilePath = Some("/nowhere/qsketches.parquet"),
          quantiles = Seq(0.5))),
      "snapshot_drift quantilePath without quantiles" -> te(
        SnapshotDrift(quantilePath = Some("/nowhere/qsketches.parquet"),
          groupColumns = Seq("event_type"), column = Some("value"))),
      "snapshot_drift quantilePath with out-of-range quantile" -> te(
        SnapshotDrift(quantilePath = Some("/nowhere/qsketches.parquet"),
          groupColumns = Seq("event_type"), column = Some("value"),
          quantiles = Seq(1.5))),
      "snapshot_drift rescanning leg without comparePath (artifact legs alone may omit it)" ->
        te(SnapshotDrift(summaryPath = Some("/nowhere/summary.parquet"),
          embeddingColumns = Seq("embedding"),
          numericColumns = Seq("value"))),
      "snapshot_drift comparePath with only artifact legs (path would never be read)" ->
        te(SnapshotDrift(comparePath = Some("<dataDir>/embeddings.parquet"),
          summaryPath = Some("/nowhere/summary.parquet"),
          embeddingColumns = Seq("embedding"))),
      "embedding_summary without column" -> te(
        EmbeddingSummary(column = null)),
      "snapshot_drift newSummaryPath without summaryPath" -> te(
        SnapshotDrift(comparePath = Some("<dataDir>/embeddings.parquet"),
          newSummaryPath = Some("/nowhere/new_summary.parquet"),
          embeddingColumns = Seq("embedding"))),
      "resample fractional-second every" -> te(Resample(idColumn = "user_id",
        timeColumn = "ts",
        valueColumns = Seq("value"), every = "500 milliseconds")),
      "resample month-based every" -> te(Resample(idColumn = "user_id", timeColumn = "ts",
        valueColumns = Seq("value"), every = "1 month")),
      "resample nonpositive maxGridRowsPerKey" -> te(Resample(idColumn = "user_id",
        timeColumn = "ts",
        valueColumns = Seq("value"), every = "1 hour",
        maxGridRowsPerKey = Some(0L))),
      "profile duplicate columns" -> t(Profile(columns = Seq("lang", "lang"))),
      "quantile_rollup quantile above one" -> te(QuantileRollup(column = "value",
        groupColumns = Seq("event_type"), quantiles = Seq(0.5, 1.2))),
      "quantile_rollup without quantiles" -> te(QuantileRollup(column = "value",
        groupColumns = Seq("event_type"))),
      "distinct_rollup without groupColumns" -> te(DistinctRollup(column = "user_id")),
      "distinct_rollup bad every duration" -> te(DistinctRollup(column = "user_id",
        groupColumns = Seq("event_type"), timeColumn = Some("ts"),
        every = Some("whenever"))),
      "pack zero budget" -> t(Pack(column = "n_chars",
        budget = 0L, orderColumns = Seq("doc_id"))),
      "pack without orderColumns" -> t(Pack(column = "n_chars", budget = 100L)))
  }

  /** Declarations no op class can express — an unknown op, a field of
    * another op — refused at DECODE with an IAE naming the spec id.
    */
  private def invalidDecodes: Seq[(String, String)] = Seq(
    "unknown transform op" -> """{"op":"transmogrify"}""",
    "knn_index_append with declared geometry (the artifact pins it)" ->
      """{"op":"knn_index_append","column":"embedding","idColumn":"vec_id",
        |"indexPath":"/nowhere/idx","nCells":8}""".stripMargin,
    "knn attributeColumns (a build-time declaration)" ->
      """{"op":"knn","column":"embedding","idColumn":"vec_id","k":10,
        |"queryPath":"/tmp/q","attributeColumns":["label"]}""".stripMargin,
    "knn_index candidateFilter (a search-time knob)" ->
      """{"op":"knn_index","method":"quantized","column":"embedding",
        |"idColumn":"vec_id","indexPath":"/tmp/idx",
        |"candidateFilter":"label < 4"}""".stripMargin,
    "shingle_index_retract with declared width (ids only)" ->
      """{"op":"shingle_index_retract","idColumn":"doc_id",
        |"historyPath":"/tmp/hist","shingleSize":3}""".stripMargin,
    "knn_index_delete with declared geometry (ids only)" ->
      """{"op":"knn_index_delete","idColumn":"vec_id","indexPath":"/tmp/idx",
        |"method":"ivf","nCells":8}""".stripMargin,
    "knn_index_compact with declared geometry (it only folds)" ->
      """{"op":"knn_index_compact","indexPath":"/nowhere/idx","nCells":8}""",
    "shingle_index_compact with a declared width (the artifact pins it)" ->
      """{"op":"shingle_index_compact","shingleSize":3,
        |"historyPath":"/nowhere/shingles.parquet"}""".stripMargin)

  property("every undecodable transform fails at decode with IAE naming the id") =
    Prop.all(invalidDecodes.map { case (desc, op) =>
      val json = s"""{"id":"fz-bad","processingMode":"SIMPLE_STREAM",
        |"sourceTopic":{"name":"documents"},"transform":[$op]}""".stripMargin
      val refused =
        try { PipelineSpec.fromJson(json); false }
        catch { case e: IllegalArgumentException => e.getMessage.contains("fz-bad") }
      Prop(refused) :| desc
    }: _*)

  property("every invalid spec class fails at build with IAE naming the id") =
    Prop.all(invalidSpecs.map { case (desc, spec) =>
      Prop(rejected(spec)) :| desc
    }: _*)
}
