package graft

import org.apache.spark.sql.functions._

import graft.config.{PipelineSpec, TestdataCatalog}
import graft.sources.ParquetSourceResolver

class InterpreterSpec extends SparkSuite {

  /** The committed manifest of a maintained shingle history, if any. */
  private def historyManifest(path: String) = {
    val root = new org.apache.hadoop.fs.Path(path)
    graft.sinks.Commit.readManifest(
      root.getFileSystem(spark.sparkContext.hadoopConfiguration), root,
      classOf[graft.operators.ShingleHistory.Manifest]).map(_._2)
      .filter(_.fence != null)
  }

  /** The shingle maintenance verbs and the screen, straight through
    * applyTransform against the history at `p`.
    */
  private def shingleAppend(df: org.apache.spark.sql.DataFrame, p: String) =
    graft.pipeline.Interpreter.applyTransform(df,
      graft.config.TransformOp.ShingleIndexAppend(column = "text",
        idColumn = "doc_id", shingleSize = 3, historyPath = p),
      None, "t-append").head()
  private def shingleRetract(df: org.apache.spark.sql.DataFrame, p: String) =
    graft.pipeline.Interpreter.applyTransform(df,
      graft.config.TransformOp.ShingleIndexRetract(idColumn = "doc_id",
        historyPath = p),
      None, "t-retract").head()
  private def shingleCompact(df: org.apache.spark.sql.DataFrame, p: String) =
    graft.pipeline.Interpreter.applyTransform(df,
      graft.config.TransformOp.ShingleIndexCompact(historyPath = p),
      None, "t-compact").head()
  private def shingleScreen(df: org.apache.spark.sql.DataFrame, p: String): Set[Long] =
    graft.pipeline.Interpreter.applyTransform(df,
        graft.config.TransformOp.DedupNear(method = Some("jaccard"),
          column = "text", idColumn = "doc_id",
          shingleSize = Some(3), threshold = Some(0.8),
          historyPath = Some(p)),
        None, "t-screen")
      .select("doc_id").collect().map(_.getLong(0)).toSet

  test("PipelineSpec JSON parse fills defaults and tolerates unknown fields") {
    val spec = PipelineSpec.fromJson(
      """{"id":"x","processingMode":"SIMPLE_STREAM",
        |"sourceTopic":{"name":"events"},
        |"someFutureField":123}""".stripMargin)
    assert(spec.sourceTopic.keyClass == "java.lang.String")
    assert(spec.joinOperations.isEmpty)
    assert(spec.outputTopic.isEmpty)
  }

  test("JOIN_CHAIN without joinOperations is a build-time error (ref :96-101)") {
    intercept[IllegalArgumentException] {
      PipelineSpec.fromJson(
        """{"id":"bad","processingMode":"JOIN_CHAIN",
          |"sourceTopic":{"name":"orders"}}""".stripMargin)
    }
  }

  test("simple stream is an identity copy") {
    val out = Queries.r01SimpleStream(spark, sf())
    val src = spark.read.parquet(s"${sf()}/events.parquet")
    assert(out.count() == src.count())
    assert(out.columns.toSet == Set("event_id", "ts", "user_id", "event_type", "value", "props"))
  }

  test("inner join chain matches a hand-built join") {
    val out = Queries.r05JoinChainInner(spark, sf())
    val o = spark.read.parquet(s"${sf()}/orders.parquet")
    val c = spark.read.parquet(s"${sf()}/customer.parquet")
    val expected = o.join(c, o("o_custkey") === c("c_custkey")).count()
    assert(out.count() == expected)
    assert(out.columns.toSeq == Seq("order_id", "total", "customer_name", "segment"))
  }

  test("missing declared field (c_phone) yields an all-null typed column — warn-and-null") {
    val out = Queries.r06JoinChainLeftNull(spark, sf())
    assert(out.filter(col("phone").isNotNull).count() == 0)
    assert(out.schema("phone").dataType.typeName == "string")
    // every declared output column is always present (DynamicPojoValueJoiner.java:62)
    assert(out.columns.toSeq == Seq("order_id", "total", "customer_name", "phone", "nation"))
  }

  test("left join preserves left rows; inner is a subset of left (multiset)") {
    val left = Queries.r06JoinChainLeftNull(spark, sf()).count()
    val o = spark.read.parquet(s"${sf()}/orders.parquet").count()
    assert(left == o) // all custkeys resolve in the synthetic data
  }

  test("AGGREGATION count matches groupBy") {
    val out = Queries.r11CountAgg(spark, sf())
    val ev = spark.read.parquet(s"${sf()}/events.parquet")
    val expected = ev.groupBy("user_id").count()
    assert(out.count() == expected.count())
    val got = out.orderBy("user_id").collect().map(r => (r.getLong(0), r.getLong(1)))
    val exp = expected.orderBy("user_id").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.sameElements(exp))
  }

  test("KEY-source extraction keeps the catalog key (DynamicPojoKeyExtractor KEY branch)") {
    val spec = graft.config.PipelineSpec(
      id = "key-branch", processingMode = graft.config.ProcessingMode.JoinChain,
      sourceTopic = graft.config.TopicConfig("orders", "java.lang.Long"),
      joinOperations = Seq(graft.config.JoinOp(
        id = "s1", `type` = graft.config.JoinType.Inner, initialSourceIsStream = true,
        // KEY source: record key stays the catalog key (o_orderkey), which
        // matches lineitem's first key column semantics — join on o_orderkey
        primaryKeyExtraction = Some(graft.config.KeyExtraction("KEY")),
        enrichmentTopic = graft.config.TopicConfig("orders", "java.lang.Long"),
        outputFieldsMapping = Seq(
          graft.config.FieldMapping("LEFT", "o_orderkey", "k"),
          graft.config.FieldMapping("RIGHT", "o_totalprice", "t")))))
    val out = graft.pipeline.Interpreter.values(graft.pipeline.Interpreter.build(
      spark, spec, new graft.sources.ParquetSourceResolver(sf(), graft.config.TestdataCatalog)))
    // self-join on own key: every order matches itself exactly once
    assert(out.count() == spark.read.parquet(s"${sf()}/orders.parquet").count())
  }

  test("invalid mapping source is a build-time error") {
    val spec = graft.config.PipelineSpec(
      id = "bad-src", processingMode = graft.config.ProcessingMode.JoinChain,
      sourceTopic = graft.config.TopicConfig("orders"),
      joinOperations = Seq(graft.config.JoinOp(
        id = "s1", `type` = graft.config.JoinType.Inner,
        primaryKeyExtraction = Some(graft.config.KeyExtraction("VALUE", Some("o_custkey"))),
        enrichmentTopic = graft.config.TopicConfig("customer"),
        outputFieldsMapping = Seq(graft.config.FieldMapping("MIDDLE", "x", "y")))))
    intercept[IllegalArgumentException] {
      graft.pipeline.Interpreter.build(spark, spec,
        new graft.sources.ParquetSourceResolver(sf(), graft.config.TestdataCatalog))
    }
  }

  test("declared keyClass types the join key (Integer table joined via Long serde)") {
    // r08 shape: both key columns are INTEGER but the enrichment declares
    // java.lang.Long — the join must compare under the declared serde type
    // (SerdeFactory.java:59-81) and still match.
    val out = Queries.r08TableTableLeft(spark, sf())
    val c = spark.read.parquet(s"${sf()}/customer.parquet")
    assert(out.count() == c.count()) // left-preserving
    val matched = out.filter(col("maybe_region").isNotNull).count()
    val expected = c.filter(col("c_nationkey").between(0, 4)).count()
    assert(matched == expected && matched > 0 && matched < c.count())
  }

  test("unsupported keyClass FQCN is a build-time error (serde dispatch table)") {
    intercept[IllegalArgumentException] {
      graft.pipeline.Interpreter.build(spark,
        PipelineSpec.fromJson(
          """{"id":"bad-kc","processingMode":"JOIN_CHAIN",
            |"sourceTopic":{"name":"orders","keyClass":"java.util.UUID"},
            |"joinOperations":[{"id":"s1","type":"INNER_JOIN",
            |  "enrichmentTopic":{"name":"customer","keyClass":"java.lang.Long"},
            |  "outputFieldsMapping":[
            |    {"source":"LEFT","sourceFieldName":"o_orderkey","outputFieldName":"k"}]}]}""".stripMargin),
        new graft.sources.ParquetSourceResolver(sf(), graft.config.TestdataCatalog))
    }
  }

  test("groupByKeyType casts the aggregation key (long user_id declared as Integer)") {
    val out = graft.pipeline.Interpreter.build(spark,
      PipelineSpec.fromJson(
        """{"id":"events-per-user-int","processingMode":"AGGREGATION",
          |"sourceTopic":{"name":"events","keyClass":"java.lang.Long"},
          |"groupByKeyExtraction":{"source":"VALUE","fieldName":"user_id"},
          |"groupByKeyType":"java.lang.Integer",
          |"stateStoreName":"s","outputTopic":{"enabled":true,"name":"o"}}""".stripMargin),
      new graft.sources.ParquetSourceResolver(sf(), graft.config.TestdataCatalog))
    assert(out.schema(graft.pipeline.Interpreter.KeyCol).dataType.typeName == "integer")
  }

  test("field mapping without sourceFieldName or expression is a build-time error") {
    intercept[IllegalArgumentException] {
      PipelineSpec.fromJson(
        """{"id":"bad-fm","processingMode":"JOIN_CHAIN",
          |"sourceTopic":{"name":"customer"},
          |"joinOperations":[{"id":"s1","type":"LEFT_JOIN",
          |  "enrichmentTopic":{"name":"region"},
          |  "outputFieldsMapping":[{"outputFieldName":"dangling"}]}]}""".stripMargin)
    }
  }

  test("defaultValue keeps the source column type (no silent string widening)") {
    val out = Queries.r10FieldMapping(spark, sf())
    assert(out.schema("double_bal").dataType.typeName == "double")
    assert(out.schema("region").dataType.typeName == "string")
    assert(out.filter(col("region") === "UNKNOWN").count() > 0)
    assert(out.filter(col("region").isNull).count() == 0)
  }

  test("full-outer step carries the join key from whichever side exists") {
    // right-only rows must keep a usable record key (the join key), not a
    // null __key that the next chain step or the Kafka sink would drop
    val out = graft.pipeline.Interpreter.build(spark,
      PipelineSpec.fromJson(
        """{"id":"outer-key","processingMode":"JOIN_CHAIN",
          |"sourceTopic":{"name":"region","keyClass":"java.lang.Integer"},
          |"joinOperations":[{"id":"s1","type":"OUTER_JOIN",
          |  "initialSourceIsStream":false,
          |  "primaryKeyExtraction":{"source":"VALUE","fieldName":"r_regionkey"},
          |  "enrichmentTopic":{"name":"customer","keyClass":"java.lang.Long"},
          |  "outputFieldsMapping":[
          |    {"source":"RIGHT","sourceFieldName":"c_custkey","outputFieldName":"custkey"}]}]}""".stripMargin),
      new graft.sources.ParquetSourceResolver(sf(), graft.config.TestdataCatalog))
    assert(out.filter(col(graft.pipeline.Interpreter.KeyCol).isNull).count() == 0)
    // a right-only row (custkey > 4) carries its own key
    val rightOnly = out.filter(col("custkey") > 4).limit(1).head()
    assert(rightOnly.getLong(out.columns.indexOf(graft.pipeline.Interpreter.KeyCol))
      == rightOnly.getLong(out.columns.indexOf("custkey")))
  }

  test("eventTime outside AGGREGATION mode is rejected at build time") {
    intercept[IllegalArgumentException] {
      PipelineSpec.fromJson(
        """{"id":"bad-et","processingMode":"SIMPLE_STREAM",
          |"sourceTopic":{"name":"events"},
          |"eventTime":{"column":"ts","window":"10 minutes"}}""".stripMargin)
    }
  }

  test("unknown processing mode rejected") {
    intercept[IllegalArgumentException] {
      PipelineSpec.fromJson(
        """{"id":"bad","processingMode":"NOPE","sourceTopic":{"name":"events"}}""")
    }
  }

  test("spec validation: transformationFunction, sliding slide, watermark, sink-name collisions") {
    def agg(extra: String) = PipelineSpec.fromJson(
      s"""{"id":"v","processingMode":"AGGREGATION",
         |"sourceTopic":{"name":"events","keyClass":"java.lang.Long"},
         |"groupByKeyExtraction":{"source":"VALUE","fieldName":"user_id"},
         |"groupByKeyType":"java.lang.Long"$extra}""".stripMargin)
    // unknown transformationFunction name → build-time error, not a UDF hole
    val e1 = intercept[IllegalArgumentException] {
      PipelineSpec.fromJson(
        """{"id":"v","processingMode":"JOIN_CHAIN",
          |"sourceTopic":{"name":"customer","keyClass":"java.lang.Long"},
          |"joinOperations":[{"id":"s","type":"LEFT_JOIN",
          |  "enrichmentTopic":{"name":"region"},
          |  "outputFieldsMapping":[{"source":"LEFT","sourceFieldName":"c_name",
          |    "outputFieldName":"o","transformationFunction":"exec"}]}]}""".stripMargin)
    }
    assert(e1.getMessage.contains("transformationFunction"))
    // sliding requires slide; slide requires sliding; windowing requires watermark
    intercept[IllegalArgumentException](agg(
      ""","eventTime":{"column":"ts","window":"10 minutes","watermark":"5 minutes","windowType":"sliding"}"""))
    intercept[IllegalArgumentException](agg(
      ""","eventTime":{"column":"ts","window":"10 minutes","watermark":"5 minutes","slide":"5 minutes"}"""))
    intercept[IllegalArgumentException](agg(
      ""","eventTime":{"column":"ts","window":"10 minutes"}"""))
    // duplicate sink topic names (main vs branch) would share a checkpoint
    intercept[IllegalArgumentException](agg(
      ""","outputTopic":{"enabled":true,"name":"t"},
         |"branches":[{"predicate":"1=1","outputTopic":{"enabled":true,"name":"t"}}]""".stripMargin))
    // slide must not exceed the window (events between hops would be lost)
    intercept[IllegalArgumentException](agg(
      ""","eventTime":{"column":"ts","window":"10 minutes","watermark":"5 minutes",
         |  "windowType":"sliding","slide":"15 minutes"}""".stripMargin))
    // interval strings parse at build time with the [id]-prefixed message
    val e2 = intercept[IllegalArgumentException](agg(
      ""","eventTime":{"column":"ts","window":"five minutes","watermark":"5 minutes"}"""))
    assert(e2.getMessage.contains("unparseable"))
    // the happy sliding path parses
    agg(""","eventTime":{"column":"ts","window":"10 minutes","watermark":"5 minutes",
         |  "windowType":"sliding","slide":"5 minutes"}""".stripMargin)
  }

  test("spec transform stage: config path equals the direct operator composition") {
    // quality_filter + dedup_exact declared in JSON must produce exactly the
    // rows the code path produces (x14's filter stage + X1)
    val specDf = Queries.r22SpecTransforms(spark, sf())
    val docs = spark.read.parquet(s"${sf()}/documents.parquet")
    val m = graft.operators.TextAnalysis.qualityMetrics(
      org.apache.spark.sql.functions.col("text")).toMap
    val direct = graft.operators.Dedup.exact(
      docs.filter(m("n_tokens") >= 12 &&
        org.apache.spark.sql.functions.round(m("avg_token_len"), 6).between(2.0, 12.0)),
      Seq("text"), "doc_id").select("doc_id", "lang", "source")
    val got = specDf.orderBy("doc_id").collect().toSeq
    assert(got.nonEmpty && got == direct.orderBy("doc_id").collect().toSeq)
    // the filter is non-vacuous (drops rows) and dedup keeps min doc_id reps
    assert(got.size < docs.count())
  }

  test("spec transform stage validation: unknown op, missing thresholds, missing redact target") {
    def spec(transform: String) = PipelineSpec.fromJson(
      s"""{"id":"t","processingMode":"SIMPLE_STREAM",
         |"sourceTopic":{"name":"documents","keyClass":"java.lang.Long"},
         |"transform":$transform}""".stripMargin)
    val e1 = intercept[IllegalArgumentException](spec("""[{"op":"drop_table"}]"""))
    assert(e1.getMessage.contains("unknown transform op"))
    // dedup without tieBreak would be nondeterministic — rejected
    intercept[IllegalArgumentException](spec("""[{"op":"dedup_exact","dupColumns":["text"]}]"""))
    // a quality filter with no thresholds is a misconfigured pass-through
    intercept[IllegalArgumentException](spec("""[{"op":"quality_filter","column":"text"}]"""))
    // expression-based redaction must name its output column
    intercept[IllegalArgumentException](spec("""[{"op":"redact_pii","expression":"'x'"}]"""))
    // near-dedup threshold must be a similarity in (0, 1]
    intercept[IllegalArgumentException](spec(
      """[{"op":"dedup_near","column":"text","idColumn":"doc_id","shingleSize":3,"threshold":1.5}]"""))
    // streaming-form LSH knobs: banding arithmetic needs bands | numHashes
    intercept[IllegalArgumentException](spec(
      """[{"op":"dedup_near","column":"text","idColumn":"doc_id","shingleSize":3,
        |  "threshold":0.5,"numHashes":100,"bands":32}]""".stripMargin))
    // chunk stride > size would silently drop tokens between windows
    intercept[IllegalArgumentException](spec(
      """[{"op":"chunk","column":"text","idColumn":"doc_id","size":10,"stride":20}]"""))
    // a contamination screen without its benchmark is unanswerable
    intercept[IllegalArgumentException](spec(
      """[{"op":"contamination_screen","column":"text","idColumn":"doc_id","shingleSize":3}]"""))
    // happy paths parse
    spec("""[{"op":"quality_filter","column":"text","minTokens":5},
           |{"op":"dedup_exact","dupColumns":["text"],"tieBreak":"doc_id"},
           |{"op":"dedup_near","column":"text","idColumn":"doc_id","shingleSize":3,"threshold":0.8},
           |{"op":"chunk","column":"text","idColumn":"doc_id","size":40,"stride":30},
           |{"op":"contamination_screen","column":"text","idColumn":"doc_id",
           |  "shingleSize":3,"benchPath":"/x/bench.parquet"},
           |{"op":"lang_id","column":"text"},
           |{"op":"text_stats","column":"text"},
           |{"op":"redact_pii","column":"text"}]""".stripMargin)
    // stateTtl feeds GroupState.setTimeoutDuration verbatim on executors —
    // an unparseable or non-positive duration must die HERE as a config
    // error, not as a task failure on the first micro-batch
    val eTtl = intercept[IllegalArgumentException](spec(
      """[{"op":"dedup_exact","dupColumns":["text"],"tieBreak":"doc_id",
        |  "stateTtl":"1 fortnight"}]""".stripMargin))
    assert(eTtl.getMessage.contains("stateTtl"))
    intercept[IllegalArgumentException](spec(
      """[{"op":"dedup_near","column":"text","idColumn":"doc_id","shingleSize":3,
        |  "threshold":0.5,"stateTtl":"-5 minutes"}]""".stripMargin))
    intercept[IllegalArgumentException](spec(
      """[{"op":"dedup_exact","dupColumns":["text"],"tieBreak":"doc_id",
        |  "stateTtl":"0 seconds"}]""".stripMargin))
    // a well-formed duration parses
    spec("""[{"op":"dedup_exact","dupColumns":["text"],"tieBreak":"doc_id",
           |  "stateTtl":"10 minutes"}]""".stripMargin)
    // projection ops still need their input column
    intercept[IllegalArgumentException](spec("""[{"op":"lang_id"}]"""))
    intercept[IllegalArgumentException](spec("""[{"op":"text_stats"}]"""))
    // sampling ops: missing interval / empty weights / out-of-range weight
    intercept[IllegalArgumentException](spec(
      """[{"op":"stratified_sample","stratumColumns":["lang"],"idColumn":"doc_id"}]"""))
    intercept[IllegalArgumentException](spec(
      """[{"op":"weighted_mix","column":"source","idColumn":"doc_id"}]"""))
    intercept[IllegalArgumentException](spec(
      """[{"op":"weighted_mix","column":"source","idColumn":"doc_id",
         |  "weights":{"src0":1.5}}]""".stripMargin))
    // whole-number JSON weights must parse (Jackson boxes them as Integer)
    spec("""[{"op":"weighted_mix","column":"source","idColumn":"doc_id",
           |  "weights":{"src0":1,"src1":0.5}}]""".stripMargin)
  }

  test("declarative asOf step equals the code-path X7 temporal join") {
    val viaSpec = Queries.r26SpecAsOf(spark, sf())
      .orderBy("event_id").collect().toSeq
    val direct = Queries.x7AsofJoin(spark, sf())
      .orderBy("event_id").collect().toSeq
    assert(viaSpec.nonEmpty && viaSpec == direct)
    // the enrichment is genuinely temporal: some events predate their key's
    // first profile version (null payload), some carry one
    assert(viaSpec.exists(_.isNullAt(3)) && viaSpec.exists(!_.isNullAt(3)))
  }

  test("declarative asOf forward direction equals the code-path asOfForward") {
    // same changelog slice as r26 (collision-free on (user_id, ts), which
    // is what makes the carried payload deterministic) with the inequality
    // reversed: each event picks up the NEXT profile version at-or-after it
    val viaSpec = graft.pipeline.Interpreter.values(graft.pipeline.Interpreter.build(
      spark, PipelineSpec.fromJson(
      """{"id":"profile-asof-fwd","processingMode":"JOIN_CHAIN",
        |"sourceTopic":{"name":"events","keyClass":"java.lang.Long"},
        |"joinOperations":[{"id":"fwd-step","type":"LEFT_JOIN",
        |  "initialSourceIsStream":true,
        |  "primaryKeyExtraction":{"source":"VALUE","fieldName":"user_id"},
        |  "enrichmentTopic":{"name":"events","keyClass":"java.lang.Long"},
        |  "asOf":{"leftTimeColumn":"ts","rightTimeColumn":"ts","direction":"forward",
        |    "enrichmentKeyField":"user_id","enrichmentFilter":"event_id % 10 = 0"},
        |  "outputFieldsMapping":[
        |    {"source":"LEFT","sourceFieldName":"event_id","outputFieldName":"event_id"},
        |    {"source":"RIGHT","sourceFieldName":"value","outputFieldName":"next_value"}]}],
        |"outputTopic":{"enabled":true,"name":"fwd-out"}}""".stripMargin),
      new ParquetSourceResolver(sf(), TestdataCatalog)))
      .orderBy("event_id").collect().toSeq
    val ev = graft.sources.Sources.fixNanos(
      spark.read.parquet(s"${sf()}/events.parquet"), TestdataCatalog, "events")
    val direct = graft.operators.AsOfJoin.asOfForward(
      ev.filter(col("user_id").isNotNull).select("event_id", "user_id", "ts"),
      ev.filter(col("event_id") % 10 === 0).select("user_id", "ts", "value"),
      key = "user_id", leftTs = "ts", rightTs = "ts",
      payload = Map("value" -> "next_value"))
      .select("event_id", "next_value")
      .orderBy("event_id").collect().toSeq
    assert(viaSpec.nonEmpty && viaSpec == direct)
  }

  test("asOf step validation: LEFT-only, no global/expression mappings, direction checked") {
    def spec(asOfJson: String, joinType: String = "LEFT_JOIN",
        extra: String = "") = PipelineSpec.fromJson(
      s"""{"id":"t","processingMode":"JOIN_CHAIN",
         |"sourceTopic":{"name":"events","keyClass":"java.lang.Long"},
         |"joinOperations":[{"id":"s","type":"$joinType",
         |  "enrichmentTopic":{"name":"events","keyClass":"java.lang.Long"},
         |  "asOf":$asOfJson,$extra
         |  "outputFieldsMapping":[
         |    {"source":"LEFT","sourceFieldName":"event_id","outputFieldName":"e"}]}]}"""
        .stripMargin)
    val ok = """{"leftTimeColumn":"ts","rightTimeColumn":"ts"}"""
    spec(ok) // happy path parses
    val e1 = intercept[IllegalArgumentException](spec(ok, joinType = "INNER_JOIN"))
    assert(e1.getMessage.contains("LEFT_JOIN"))
    val e2 = intercept[IllegalArgumentException](spec(ok, extra = """"global":true,"""))
    assert(e2.getMessage.contains("global"))
    intercept[IllegalArgumentException](spec(
      """{"leftTimeColumn":"ts","rightTimeColumn":"ts","direction":"sideways"}"""))
    intercept[IllegalArgumentException](spec(
      """{"leftTimeColumn":"","rightTimeColumn":"ts"}"""))
    // an OMITTED time column deserializes to null (creator property, no
    // default) — must be the same config error, not a NullPointerException
    // (round-8 advisor)
    val eNull = intercept[IllegalArgumentException](spec(
      """{"rightTimeColumn":"ts"}"""))
    assert(eNull.getMessage.contains("leftTimeColumn"))
    // streaming resolver → intentional batch-only rejection pointing at the
    // snapshot-loop alternative, not Spark's unsupported-window error
    val e3 = intercept[IllegalArgumentException] {
      graft.pipeline.Interpreter.build(spark, spec(ok),
        new graft.streaming.FileStreamSourceResolver(sf(), TestdataCatalog))
    }
    assert(e3.getMessage.contains("batch-only"))
  }

  test("asOf output-name collisions are config errors, not AnalysisExceptions") {
    // round-8 advisor: duplicate RIGHT outputs / RIGHT-vs-left collisions
    // used to surface as ambiguous-reference AnalysisExceptions deep in the
    // final select — every class must get an [id]-prefixed config error
    def spec(mappings: String) = PipelineSpec.fromJson(
      s"""{"id":"t","processingMode":"JOIN_CHAIN",
         |"sourceTopic":{"name":"events","keyClass":"java.lang.Long"},
         |"joinOperations":[{"id":"s","type":"LEFT_JOIN",
         |  "primaryKeyExtraction":{"source":"VALUE","fieldName":"user_id"},
         |  "enrichmentTopic":{"name":"events","keyClass":"java.lang.Long"},
         |  "asOf":{"leftTimeColumn":"ts","rightTimeColumn":"ts",
         |    "enrichmentKeyField":"user_id"},
         |  "outputFieldsMapping":[$mappings]}]}""".stripMargin)
    // RIGHT outputs repeating each other
    val e1 = intercept[IllegalArgumentException](spec(
      """{"source":"RIGHT","sourceFieldName":"value","outputFieldName":"v"},
        |{"source":"RIGHT","sourceFieldName":"ts","outputFieldName":"v"}""".stripMargin))
    assert(e1.getMessage.contains("outputFieldName"))
    // RIGHT output colliding with a LEFT mapping's source field
    val e2 = intercept[IllegalArgumentException](spec(
      """{"source":"LEFT","sourceFieldName":"event_id","outputFieldName":"e"},
        |{"source":"RIGHT","sourceFieldName":"value","outputFieldName":"event_id"}"""
        .stripMargin))
    assert(e2.getMessage.contains("collide"))
    // RIGHT output shadowing an UNMAPPED left input column — only knowable
    // at build time (schema needed); still a config error, at build()
    val e3 = intercept[IllegalArgumentException] {
      graft.pipeline.Interpreter.build(spark, spec(
        """{"source":"LEFT","sourceFieldName":"event_id","outputFieldName":"e"},
          |{"source":"RIGHT","sourceFieldName":"value","outputFieldName":"user_id"}"""
          .stripMargin),
        new ParquetSourceResolver(sf(), TestdataCatalog))
    }
    assert(e3.getMessage.contains("collide with left input"))
  }

  test("config top_k and heavy_hitters equal their code-path x12/x21 queries") {
    assert(Queries.r27SpecTopk(spark, sf()).orderBy("lang", "rank").collect().toSeq ==
      Queries.x12GroupTopk(spark, sf()).orderBy("lang", "rank").collect().toSeq)
    assert(Queries.r27SpecHeavy(spark, sf()).orderBy("item").collect().toSeq ==
      Queries.x21HeavyHitters(spark, sf()).orderBy("item").collect().toSeq)
  }

  test("top_k / heavy_hitters validation and batch-only posture") {
    def spec(transforms: String) = PipelineSpec.fromJson(
      s"""{"id":"t","processingMode":"SIMPLE_STREAM",
         |"sourceTopic":{"name":"documents","keyClass":"java.lang.Long"},
         |"transform":$transforms}""".stripMargin)
    intercept[IllegalArgumentException](spec(
      """[{"op":"top_k","byColumn":"n_chars","idColumn":"doc_id"}]""")) // no k
    intercept[IllegalArgumentException](spec(
      """[{"op":"top_k","k":0,"byColumn":"n_chars","idColumn":"doc_id"}]"""))
    intercept[IllegalArgumentException](spec(
      """[{"op":"top_k","k":3,"byColumn":"n_chars"}]""")) // no idColumn
    intercept[IllegalArgumentException](spec(
      """[{"op":"heavy_hitters","column":"text"}]""")) // no minFraction
    intercept[IllegalArgumentException](spec(
      """[{"op":"heavy_hitters","column":"text","minFraction":1.5}]"""))
    // streaming frame → intentional batch-only rejection, not a Spark
    // unsupported-operation chain at sink start
    val e = intercept[IllegalArgumentException] {
      graft.pipeline.Interpreter.build(spark, spec(
        """[{"op":"top_k","k":3,"byColumn":"n_chars","idColumn":"doc_id",
          |  "groupColumns":["lang"]}]""".stripMargin),
        new graft.streaming.FileStreamSourceResolver(sf(), TestdataCatalog))
    }
    assert(e.getMessage.contains("batch-only"))
  }

  test("config knn (exact and quantized) hash-equals the code-path x3_knn_exact") {
    val exact = Queries.x3KnnExact(spark, sf())
      .orderBy("query_id", "rank").collect().toSeq
    assert(exact.nonEmpty)
    assert(Queries.r28SpecKnn(spark, sf())
      .orderBy("query_id", "rank").collect().toSeq == exact)
    // the int8 sketch only proposes candidates; the re-rank restores
    // exactness, so the quantized config path matches the exact rows too
    assert(Queries.r28SpecKnnQuantized(spark, sf())
      .orderBy("query_id", "rank").collect().toSeq == exact)
  }

  test("config knn approximate methods, validation, batch-only posture") {
    def spec(transforms: String) = PipelineSpec.fromJson(
      s"""{"id":"t","processingMode":"SIMPLE_STREAM",
         |"sourceTopic":{"name":"embeddings","keyClass":"java.lang.Long"},
         |"transform":$transforms}""".stripMargin)
    def knn(extra: String) = spec(
      s"""[{"op":"knn","column":"embedding","idColumn":"vec_id","k":10,
         |  "queryPath":"${sf()}/embeddings.parquet",
         |  "queryFilter":"vec_id < 5"$extra}]""".stripMargin)
    // ivf and lsh run through the config path; both are approximate, so pin
    // recall against the exact top-k instead of row equality
    val exactPairs = Queries.x3KnnExact(spark, sf())
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    for (extra <- Seq(""","method":"ivf","nAssign":2""",
        ""","method":"lsh","dim":64""")) {
      val got = graft.pipeline.Interpreter.values(graft.pipeline.Interpreter
          .build(spark, knn(extra), new ParquetSourceResolver(sf(), TestdataCatalog)))
        .select("query_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val recall = got.intersect(exactPairs).size.toDouble / exactPairs.size
      assert(recall >= 0.8, s"config knn$extra recall $recall below 0.8")
    }
    // validation: each missing requirement is a parse-time config error
    intercept[IllegalArgumentException](spec(
      """[{"op":"knn","column":"embedding","idColumn":"vec_id",
        |  "queryPath":"q"}]""".stripMargin)) // no k
    intercept[IllegalArgumentException](spec(
      """[{"op":"knn","column":"embedding","idColumn":"vec_id","k":0,
        |  "queryPath":"q"}]""".stripMargin))
    intercept[IllegalArgumentException](spec(
      """[{"op":"knn","column":"embedding","idColumn":"vec_id","k":10}]""")) // no queryPath
    intercept[IllegalArgumentException](spec(
      """[{"op":"knn","column":"embedding","idColumn":"vec_id","k":10,
        |  "queryPath":"q","method":"hnsw"}]""".stripMargin)) // unknown method
    intercept[IllegalArgumentException](spec(
      """[{"op":"knn","column":"embedding","idColumn":"vec_id","k":10,
        |  "queryPath":"q","method":"lsh"}]""".stripMargin)) // lsh without dim
    // streaming frame → intentional batch-only rejection (the frame is the
    // corpus side; a top-k over an unbounded corpus never finalizes)
    val e = intercept[IllegalArgumentException] {
      graft.pipeline.Interpreter.build(spark, knn(""),
        new graft.streaming.FileStreamSourceResolver(sf(), TestdataCatalog))
    }
    assert(e.getMessage.contains("batch-only"))
  }

  test("config resample and profile equal their code-path x20/x16 queries") {
    assert(Queries.r29SpecResample(spark, sf())
      .orderBy("user_id", "grid_ts").collect().toSeq ==
      Queries.x20Resample(spark, sf())
        .orderBy("user_id", "grid_ts").collect().toSeq)
    assert(Queries.r29SpecProfile(spark, sf()).orderBy("col_name").collect().toSeq ==
      Queries.x16Profile(spark, sf()).orderBy("col_name").collect().toSeq)
  }

  test("config quantile_rollup estimates stay within 1% of rank vs exact per group") {
    val got = Queries.r29SpecQuantiles(spark, sf()).collect()
      .map(r => r.getString(0) -> Seq(r.getDouble(1), r.getDouble(2), r.getDouble(3)))
      .toMap
    val qs = Seq(0.5, 0.9, 0.99)
    val bandAggs = qs.zipWithIndex.flatMap { case (q, i) => Seq(
      expr(s"percentile(value, ${math.max(0.0, q - 0.01)})").as(s"lo$i"),
      expr(s"percentile(value, ${math.min(1.0, q + 0.01)})").as(s"hi$i")) }
    val bands = spark.read.parquet(s"${sf()}/events.parquet")
      .groupBy(col("event_type")).agg(bandAggs.head, bandAggs.tail: _*)
      .collect().map(r => r.getString(0) ->
        qs.indices.map(i => (r.getAs[Double](s"lo$i"), r.getAs[Double](s"hi$i")))).toMap
    assert(got.keySet == bands.keySet && got.nonEmpty)
    for ((g, es) <- got; (e, i) <- es.zipWithIndex) {
      val (lo, hi) = bands(g)(i)
      assert(e >= lo && e <= hi,
        s"group $g q=${qs(i)}: $e outside exact rank band [$lo, $hi]")
    }
  }

  test("windowed rollup estimates match exact per-window answers (batch form)") {
    // distinct: HLL per (hour, event_type) cell vs exact count(distinct) —
    // sf0.001 cells are small, so the HLL estimate must be exact
    val gotD = Queries.r32SpecWindowDistinct(spark, sf()).collect()
      .map(r => (r.getTimestamp(0), r.getString(1)) -> (r.getLong(2), r.getLong(3)))
      .toMap
    val exactD = spark.read.parquet(s"${sf()}/events.parquet")
      .groupBy(date_trunc("hour", col("ts")).as("w"), col("event_type"))
      .agg(countDistinct(col("user_id")).as("nd"), count(col("user_id")).as("nr"))
      .collect()
      .map(r => (r.getTimestamp(0), r.getString(1)) -> (r.getLong(2), r.getLong(3)))
      .toMap
    assert(gotD.nonEmpty && gotD == exactD,
      s"windowed HLL cells diverge from exact: ${gotD.toSet.diff(exactD.toSet)}")
    // quantile: the sketch's guarantee is RANK accuracy — the estimate's
    // rank among the cell's exact values must sit within ~1.5 positions of
    // q·n (±0.5 from the midpoint mass rule, ±1 from interpolation). A
    // percentage-of-rank band (the global r29 pin) is meaningless on
    // hour-sized cells of a handful of rows.
    val gotQ = Queries.r32SpecWindowQuantile(spark, sf()).collect()
      .map(r => (r.getTimestamp(0), r.getString(1)) -> Seq(r.getDouble(2), r.getDouble(3)))
      .toMap
    val qs = Seq(0.5, 0.9)
    val exactVals = spark.read.parquet(s"${sf()}/events.parquet")
      .groupBy(date_trunc("hour", col("ts")).as("w"), col("event_type"))
      .agg(sort_array(collect_list(col("value"))).as("vals"))
      .collect().map(r => (r.getTimestamp(0), r.getString(1)) ->
        r.getSeq[Double](2)).toMap
    assert(gotQ.keySet == exactVals.keySet && gotQ.nonEmpty)
    for ((cell, es) <- gotQ; (e, i) <- es.zipWithIndex) {
      val vals = exactVals(cell); val n = vals.size
      val below = vals.count(_ < e)       // e's rank is in [below, atMost]
      val atMost = vals.count(_ <= e)
      val target = qs(i) * n
      assert(below <= target + 1.5 && atMost >= target - 1.5,
        s"cell $cell q=${qs(i)}: estimate $e has rank in [$below, $atMost], " +
          s"target $target of $n — off by more than 1.5 positions")
    }
  }

  test("windowed-form declaration validation (sketch/top-k family)") {
    def spec(transform: String) = PipelineSpec.fromJson(
      s"""{"id":"wv","processingMode":"SIMPLE_STREAM",
         |"sourceTopic":{"name":"events","keyClass":"java.lang.Long"},
         |"transform":[$transform],
         |"outputTopic":{"enabled":true,"name":"wv-out"}}""".stripMargin)
        .validate()
    // timeColumn and every must come together
    val e1 = intercept[IllegalArgumentException](spec(
      """{"op":"top_k","k":2,"byColumn":"value","idColumn":"event_id",
        |"timeColumn":"ts"}""".stripMargin))
    assert(e1.getMessage.contains("timeColumn") && e1.getMessage.contains("every"))
    // watermark only rides on a declared window
    val e2 = intercept[IllegalArgumentException](spec(
      """{"op":"distinct_rollup","groupColumns":["event_type"],
        |"column":"user_id","watermark":"1 hour"}""".stripMargin))
    assert(e2.getMessage.contains("watermark"))
    // durations must parse positive and month-free
    val e3 = intercept[IllegalArgumentException](spec(
      """{"op":"quantile_rollup","groupColumns":["event_type"],"column":"value",
        |"quantiles":[0.5],"timeColumn":"ts","every":"1 month"}""".stripMargin))
    assert(e3.getMessage.contains("month-free"))
    // windowed heavy_hitters takes minCount, not minFraction — and vice versa
    val e4 = intercept[IllegalArgumentException](spec(
      """{"op":"heavy_hitters","column":"user_id","minFraction":0.1,
        |"timeColumn":"ts","every":"1 hour"}""".stripMargin))
    assert(e4.getMessage.contains("minCount"))
    val e5 = intercept[IllegalArgumentException](spec(
      """{"op":"heavy_hitters","column":"user_id","minCount":3}"""))
    assert(e5.getMessage.contains("minFraction"))
    // happy paths parse
    spec("""{"op":"top_k","k":2,"byColumn":"value","idColumn":"event_id",
      |"timeColumn":"ts","every":"1 hour","watermark":"10 minutes"}""".stripMargin)
    spec("""{"op":"heavy_hitters","column":"user_id","minCount":3,
      |"timeColumn":"ts","every":"1 hour"}""".stripMargin)
  }

  test("config chunk -> pack carries the x17 invariants and the record key") {
    val got = Queries.r31SpecPack(spark, sf())
    val chunks = graft.operators.TextAnalysis.chunk(
      spark.read.parquet(s"${sf()}/documents.parquet"), "doc_id", "text",
      size = 40, stride = 30)
    // every chunk packed exactly once
    assert(got.count() == chunks.count())
    assert(got.select("doc_id", "chunk_id").distinct().count() == chunks.count())
    // no pack over budget (except a single oversized chunk alone), slots
    // contiguous from 0 — the same invariants OperatorsSpec pins for x17
    val perPack = got.groupBy("pack_id").agg(
      sum(col("n_chunk_tokens")).as("toks"), count(lit(1)).as("n"),
      min(col("pack_slot")).as("lo"), max(col("pack_slot")).as("hi"))
    perPack.collect().foreach { r =>
      val (toks, n, lo, hi) = (r.getLong(1), r.getLong(2), r.getInt(3), r.getInt(4))
      assert(toks <= 256 || n == 1, s"pack ${r.getLong(0)}: $toks tokens in $n rows")
      assert(lo == 0 && hi == n - 1, s"pack ${r.getLong(0)}: slots not contiguous")
    }
    // pack is row-preserving: a topic sink still sees the chunk's doc key
    val out = tempDir("graft-pack-sink")
    val spec = PipelineSpec.fromJson(
      """{"id":"docs-packed","processingMode":"SIMPLE_STREAM",
        |"sourceTopic":{"name":"documents","keyClass":"java.lang.Long"},
        |"transform":[
        |  {"op":"chunk","column":"text","idColumn":"doc_id","size":40,"stride":30},
        |  {"op":"pack","column":"n_chunk_tokens","budget":256,
        |   "orderColumns":["doc_id","chunk_id"]}],
        |"outputTopic":{"enabled":true,"name":"doc-packs"}}""".stripMargin)
    val paths = graft.sinks.PipelineRunner.runBatch(spark, spec,
      new ParquetSourceResolver(sf(), TestdataCatalog), out)
    val written = spark.read.parquet(paths.head)
    assert(written.filter(col("key").isNull).count() == 0 && written.count() > 0)
    // validation: missing budget / order / token column are config errors
    def bad(t: String) = intercept[IllegalArgumentException](PipelineSpec.fromJson(
      s"""{"id":"t","processingMode":"SIMPLE_STREAM",
         |"sourceTopic":{"name":"documents"},"transform":[$t]}""".stripMargin))
    bad("""{"op":"pack","column":"n","orderColumns":["a"]}""")
    bad("""{"op":"pack","column":"n","budget":0,"orderColumns":["a"]}""")
    bad("""{"op":"pack","column":"n","budget":10}""")
    bad("""{"op":"pack","budget":10,"orderColumns":["a"]}""")
  }

  test("config distinct_rollup equals the code-path sketch table per group") {
    // HLL sketches are deterministic and merge-order independent, so the
    // config path must equal the direct Profile composition EXACTLY
    val direct = graft.operators.Profile.rollupDistinct(
      graft.operators.Profile.distinctSketches(
        spark.read.parquet(s"${sf()}/events.parquet")
          .select("event_id", "ts", "user_id", "event_type", "value", "props"),
        Seq("event_type"), "user_id"),
      Seq("event_type"))
      .select("event_type", "n_distinct", "n_rows")
      .orderBy("event_type").collect().toSeq
    val got = Queries.r30SpecDistinct(spark, sf())
      .orderBy("event_type").collect().toSeq
    assert(got.nonEmpty && got == direct)
    // and the estimates are within the HLL bound of exact
    val exact = spark.read.parquet(s"${sf()}/events.parquet")
      .groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    got.foreach { r =>
      val (t, est) = (r.getString(0), r.getLong(1))
      assert(math.abs(est - exact(t)).toDouble / exact(t) <= 0.05,
        s"type $t: $est vs exact ${exact(t)}")
    }
    // validation
    intercept[IllegalArgumentException](PipelineSpec.fromJson(
      """{"id":"t","processingMode":"SIMPLE_STREAM",
        |"sourceTopic":{"name":"events"},
        |"transform":[{"op":"distinct_rollup","column":"user_id"}]}""".stripMargin))
  }

  test("resample / profile / quantile_rollup validation and batch-only posture") {
    def spec(transforms: String) = PipelineSpec.fromJson(
      s"""{"id":"t","processingMode":"SIMPLE_STREAM",
         |"sourceTopic":{"name":"events","keyClass":"java.lang.Long"},
         |"transform":$transforms}""".stripMargin)
    intercept[IllegalArgumentException](spec(
      """[{"op":"resample","idColumn":"user_id","timeColumn":"ts",
        |  "valueColumns":["value"]}]""".stripMargin)) // no every
    intercept[IllegalArgumentException](spec(
      """[{"op":"resample","idColumn":"user_id","timeColumn":"ts",
        |  "valueColumns":["value"],"every":"1 parsec"}]""".stripMargin))
    intercept[IllegalArgumentException](spec(
      """[{"op":"resample","idColumn":"user_id","timeColumn":"ts",
        |  "valueColumns":["value"],"every":"2 months"}]""".stripMargin))
    intercept[IllegalArgumentException](spec(
      """[{"op":"resample","idColumn":"user_id","timeColumn":"ts",
        |  "valueColumns":["value"],"every":"500 milliseconds"}]""".stripMargin))
    intercept[IllegalArgumentException](spec(
      """[{"op":"profile","columns":[]}]"""))
    intercept[IllegalArgumentException](spec(
      """[{"op":"profile","columns":["a","a"]}]""")) // duplicate
    intercept[IllegalArgumentException](spec(
      """[{"op":"quantile_rollup","groupColumns":["event_type"],
        |  "column":"value"}]""".stripMargin)) // no quantiles
    intercept[IllegalArgumentException](spec(
      """[{"op":"quantile_rollup","groupColumns":["event_type"],
        |  "column":"value","quantiles":[1.5]}]""".stripMargin))
    // whole-number quantile literals survive Jackson's Integer boxing
    spec("""[{"op":"quantile_rollup","groupColumns":["event_type"],
           |  "column":"value","quantiles":[0.5,1]}]""".stripMargin)
    // all three are intentional batch-only rejections on a streaming frame
    for (t <- Seq(
        """[{"op":"resample","idColumn":"user_id","timeColumn":"ts",
          |  "valueColumns":["value"],"every":"30 minutes"}]""".stripMargin,
        """[{"op":"profile","columns":["value"]}]""",
        """[{"op":"quantile_rollup","groupColumns":["event_type"],
          |  "column":"value","quantiles":[0.5]}]""".stripMargin)) {
      val e = intercept[IllegalArgumentException] {
        graft.pipeline.Interpreter.build(spark, spec(t),
          new graft.streaming.FileStreamSourceResolver(sf(), TestdataCatalog))
      }
      assert(e.getMessage.contains("batch-only"), t)
    }
  }

  test("config sampling ops equal their code-path x9 queries") {
    assert(Queries.r25SpecSample(spark, sf()).orderBy("doc_id").collect().toSeq ==
      Queries.x9StratifiedSample(spark, sf()).orderBy("doc_id").collect().toSeq)
    assert(Queries.r25SpecMix(spark, sf()).orderBy("doc_id").collect().toSeq ==
      Queries.x9WeightedMix(spark, sf()).orderBy("doc_id").collect().toSeq)
  }

  test("config lang_id and text_stats equal their code-path x5 queries") {
    assert(Queries.r24SpecLangId(spark, sf()).orderBy("doc_id").collect().toSeq ==
      Queries.x5LangId(spark, sf()).orderBy("doc_id").collect().toSeq)
    assert(Queries.r24SpecTextStats(spark, sf()).orderBy("doc_id").collect().toSeq ==
      Queries.x5TextStats(spark, sf()).orderBy("doc_id").collect().toSeq)
  }

  test("config contamination screen equals the code-path x19 scores") {
    val specDf = Queries.r23SpecContamination(spark, sf())
      .orderBy("doc_id").collect().toSeq
    val direct = Queries.x19ContaminationStream(spark, sf())
      .orderBy("doc_id").collect().toSeq
    assert(specDf.nonEmpty && specDf == direct)
  }

  test("row-set-replacing transforms keep the record key routable to a topic sink") {
    // a chunk (or contamination) transform projects to its own schema; the
    // record key must be re-attached from idColumn so a spec that chains it
    // into an enabled topic sink writes keyed records instead of failing on
    // the sink's unresolved __key (round-7 advisor)
    val out = tempDir("graft-chunk-sink")
    val spec = PipelineSpec.fromJson(
      """{"id":"docs-chunked","processingMode":"SIMPLE_STREAM",
        |"sourceTopic":{"name":"documents","keyClass":"java.lang.Long"},
        |"transform":[{"op":"chunk","column":"text","idColumn":"doc_id",
        |  "size":40,"stride":30}],
        |"outputTopic":{"enabled":true,"name":"doc-chunks"}}""".stripMargin)
    val paths = graft.sinks.PipelineRunner.runBatch(spark, spec,
      new ParquetSourceResolver(sf(), TestdataCatalog), out)
    val written = spark.read.parquet(paths.head)
    assert(written.columns.toSeq == Seq("key", "value"))
    // keys are the chunk's document ids, not nulls
    val keyed = written.filter(org.apache.spark.sql.functions.col("key").isNotNull)
    assert(keyed.count() == written.count() && written.count() > 0)
    val v = written.limit(1).select(
      org.apache.spark.sql.functions.from_json(
        org.apache.spark.sql.functions.col("value"),
        org.apache.spark.sql.types.StructType.fromDDL(
          "doc_id BIGINT, chunk_id INT, chunk STRING, n_chunk_tokens INT")).as("v"),
      org.apache.spark.sql.functions.col("key"))
      .select("v.doc_id", "key").head()
    assert(v.getLong(0).toString == v.getString(1),
      "record key must carry the chunk's doc_id")
  }

  test("declarative plan audit: a clean plan builds under 'fail'; a nested-loop plan refuses with the rule named; 'warn' lets it through") {
    def knnSpec(mode: String) = PipelineSpec.fromJson(
      s"""{"id":"audited-knn","processingMode":"SIMPLE_STREAM",
         |"sourceTopic":{"name":"embeddings","keyClass":"java.lang.Long"},
         |"transform":[{"op":"knn","column":"embedding","idColumn":"vec_id",
         |  "k":5,"queryPath":"${sf()}/embeddings.parquet",
         |  "queryFilter":"vec_id < 3"}],
         |"planAudit":"$mode",
         |"outputTopic":{"enabled":true,"name":"knn-audited"}}""".stripMargin)
    val resolver = new ParquetSourceResolver(sf(), TestdataCatalog)

    // the corpus × broadcast-queries top-k scan is a BNLJ by design — under
    // "fail" the build must refuse and NAME the rule before any action runs
    val e = intercept[IllegalStateException] {
      graft.pipeline.Interpreter.build(spark, knnSpec("fail"), resolver)
    }
    assert(e.getMessage.contains("nested_loop_join") &&
      e.getMessage.contains("audited-knn"), e.getMessage)

    // "warn" logs and builds; the frame still computes
    assert(graft.pipeline.Interpreter.build(spark, knnSpec("warn"), resolver)
      .limit(1).count() == 1)

    // a broadcast-dim join chain audits clean under "fail"
    val clean = PipelineSpec.fromJson(
      """{"id":"audited-clean","processingMode":"JOIN_CHAIN",
        |"sourceTopic":{"name":"orders","keyClass":"java.lang.Long"},
        |"planAudit":"fail",
        |"joinOperations":[{"id":"j1","type":"INNER_JOIN","global":true,
        |  "enrichmentTopic":{"name":"customer","keyClass":"java.lang.Long"},
        |  "sourceKeyExtraction":{"source":"VALUE","fieldName":"o_custkey"},
        |  "enrichmentKeyExtraction":{"source":"VALUE","fieldName":"c_custkey"},
        |  "outputFieldsMapping":[
        |    {"sourceFieldName":"o_orderkey","outputFieldName":"order_id","source":"LEFT"},
        |    {"sourceFieldName":"c_name","outputFieldName":"customer","source":"RIGHT"}]}],
        |"outputTopic":{"enabled":true,"name":"audited-out"}}""".stripMargin)
    assert(graft.pipeline.Interpreter.build(spark, clean, resolver)
      .limit(1).count() == 1)

    // bad mode value → config error naming the field
    val bad = intercept[IllegalArgumentException] {
      PipelineSpec.fromJson(
        """{"id":"bad-audit","processingMode":"SIMPLE_STREAM",
          |"sourceTopic":{"name":"events"},"planAudit":"maybe"}""".stripMargin)
    }
    assert(bad.getMessage.contains("planAudit"), bad.getMessage)
  }

  test("dedup_near method=embedding through config equals the direct operator call; streaming is refused") {
    val resolver = new ParquetSourceResolver(sf(), TestdataCatalog)
    val spec = PipelineSpec.fromJson(
      """{"id":"embed-dedup","processingMode":"SIMPLE_STREAM",
        |"sourceTopic":{"name":"embeddings","keyClass":"java.lang.Long"},
        |"transform":[{"op":"dedup_near","method":"embedding",
        |  "idColumn":"vec_id","column":"embedding","dim":64,
        |  "threshold":0.9}],
        |"outputTopic":{"enabled":true,"name":"dedup-out"}}""".stripMargin)
    val fromSpec = graft.pipeline.Interpreter.values(
      graft.pipeline.Interpreter.build(spark, spec, resolver))
      .select("vec_id").collect().map(_.getLong(0)).toSet
    spark.catalog.clearCache()
    graft.operators.Dedup.releaseInternalCaches()
    val e = spark.read.parquet(s"${sf()}/embeddings.parquet")
    val pairs = graft.operators.Dedup.embeddingCosinePairs(
      e, "vec_id", "embedding", dim = 64, threshold = 0.9)
    val direct = graft.operators.Dedup.keepRepresentatives(e, "vec_id", pairs)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(fromSpec == direct && fromSpec.nonEmpty,
      s"config path kept ${fromSpec.size} reps, code path ${direct.size}")
    // embedding dedup is a batch construct — a streaming frame refuses
    val ss = spark
    import ss.implicits._
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Seq[Double])](ss, 2)
    val streamDf = input.toDF().toDF("vec_id", "embedding")
    val err = intercept[Exception] {
      graft.pipeline.Interpreter.applyTransform(
        streamDf, spec.transform.head, None, "s")
    }
    assert(err.getMessage.contains("method=jaccard only"), err.getMessage)
  }

  test("spec-declared drift gate fails the run on a violated bound; clean bounds pass with pass=true (r36)") {
    def gateSpec(bounds: String) = PipelineSpec.fromJson(
      s"""{"id":"drift-gate","processingMode":"SIMPLE_STREAM",
         |"sourceTopic":{"name":"events","keyClass":"java.lang.Long"},
         |"transform":[{"op":"snapshot_drift",
         |  "comparePath":"<dataDir>/events.parquet",
         |  "compareFilter":"CAST(ts AS TIMESTAMP) < TIMESTAMP '2024-01-16'",
         |  "numericColumns":["value"],"categoricalColumns":["event_type"],
         |  $bounds}],
         |"outputTopic":{"enabled":true,"name":"gate-out"}}""".stripMargin)
    val resolver = new ParquetSourceResolver(sf(), TestdataCatalog)
    // a bound the fixture violates (row_count doubles across the split):
    // ANY runner evaluating the frame gets the named violation — this is
    // how "nonzero run status on gate violation" needs no sink plumbing
    val e = intercept[Exception] {
      graft.pipeline.Interpreter.build(spark,
        gateSpec(""""maxAbsDelta":{"row_count":0}"""), resolver).collect()
    }
    assert(e.getMessage.contains("drift gate violated") &&
      e.getMessage.contains("value/row_count"), e.getMessage)
    // bounds the fixture satisfies: every row materializes with pass=true
    val rows = graft.pipeline.Interpreter.build(spark,
      gateSpec(""""maxAbsDelta":{"freq_l1":0.5},"maxRelDelta":{"row_count":1.2}"""),
      resolver).collect()
    assert(rows.nonEmpty && rows.forall(r => r.getBoolean(r.fieldIndex("pass"))))
    // a gate bound that is not a number is a config error, not a run error
    val bad = intercept[IllegalArgumentException] {
      gateSpec(""""maxAbsDelta":{"freq_l1":-0.5}""").validate()
    }
    assert(bad.getMessage.contains("must be >= 0"), bad.getMessage)
  }

  test("spec-declared histogram drift: gate on psi, invalid geometry is a config error (r37)") {
    def histSpec(hist: String, bounds: String) = PipelineSpec.fromJson(
      s"""{"id":"drift-hist","processingMode":"SIMPLE_STREAM",
         |"sourceTopic":{"name":"events","keyClass":"java.lang.Long"},
         |"transform":[{"op":"snapshot_drift",
         |  "comparePath":"<dataDir>/events.parquet",
         |  "compareFilter":"CAST(ts AS TIMESTAMP) < TIMESTAMP '2024-01-16'",
         |  "histograms":[$hist]$bounds}],
         |"outputTopic":{"enabled":true,"name":"hist-out"}}""".stripMargin)
    val resolver = new ParquetSourceResolver(sf(), TestdataCatalog)
    // an impossible psi bound (0 — any nonzero shift violates): the run
    // fails with the row named, through pure config
    val e = intercept[Exception] {
      graft.pipeline.Interpreter.build(spark,
        histSpec("""{"column":"value","lo":10.0,"hi":110.0,"bins":10}""",
          ""","maxAbsDelta":{"psi":0}"""), resolver).collect()
    }
    assert(e.getMessage.contains("drift gate violated") &&
      e.getMessage.contains("value/psi"), e.getMessage)
    // whole-number geometry crosses Jackson Integer-boxed into the Double
    // fields — must parse, validate, and run (the r37 fixture uses 10.0
    // literals; this pins the plain-integer spelling)
    val rows = graft.pipeline.Interpreter.build(spark,
      histSpec("""{"column":"value","lo":10,"hi":110,"bins":10}""", ""),
      resolver).collect()
    assert(rows.length == 13 &&
      rows.count(_.getString(1) == "psi") == 1, s"got ${rows.length} rows")
    // degenerate geometry is a config error at validate, not a run error
    val bad = intercept[IllegalArgumentException] {
      histSpec("""{"column":"value","lo":5,"hi":5,"bins":3}""", "").validate()
    }
    assert(bad.getMessage.contains("hi > lo"), bad.getMessage)
    val bad2 = intercept[IllegalArgumentException] {
      histSpec("""{"column":"value","lo":0,"hi":5,"bins":0}""", "").validate()
    }
    assert(bad2.getMessage.contains("bins must be >= 1"), bad2.getMessage)
  }

  test("stored-artifact drift: summaryPath routes equal the rescanning forms; schema mismatches are config errors (r40)") {
    val resolver = new ParquetSourceResolver(sf(), TestdataCatalog)
    val emb = spark.read.parquet(s"${sf()}/embeddings.parquet")
    val dir = tempDirPath("graft_artifact_route").toString
    graft.operators.Drift.embeddingSummary(
        emb.filter(col("label") < 8), "embedding", Some("label"))
      .write.mode("overwrite").parquet(s"$dir/grouped.parquet")
    def spec(body: String) = PipelineSpec.fromJson(
      s"""{"id":"art-drift","processingMode":"SIMPLE_STREAM",
         |"sourceTopic":{"name":"embeddings","keyClass":"java.lang.Long"},
         |"transform":[{"op":"snapshot_drift",$body}],
         |"outputTopic":{"enabled":true,"name":"art-out"}}""".stripMargin)
    // GROUPED route: stored-artifact report == the rescanning grouped form
    // (r40's oracle pins the global route; this pins the grouped one).
    // Equality is at ulp-scale tolerance, not bit-exact: the metrics
    // derive from distributed float SUMS, whose addition order follows
    // the physical plan shape around the aggregation (join strategy, AQE
    // coalescing), so the two routes can legitimately differ by ~1 ulp —
    // the declared contract is the 6-decimal zr6 rounding the r40/r41
    // oracles compare at, far above this tolerance.
    def key(r: org.apache.spark.sql.Row) =
      (r.getString(1), r.getString(2)) -> (r.getDouble(3), r.getDouble(4), r.getDouble(5))
    def close(a: Double, b: Double): Boolean =
      a == b || math.abs(a - b) <= 1e-9 * math.max(math.abs(a), math.abs(b))
    def sameRows(x: Map[(String, String), (Double, Double, Double)],
        y: Map[(String, String), (Double, Double, Double)]): Boolean =
      x.keySet == y.keySet && x.forall { case (k, (a1, a2, a3)) =>
        val (b1, b2, b3) = y(k)
        close(a1, b1) && close(a2, b2) && close(a3, b3)
      }
    val stored = graft.pipeline.Interpreter.build(spark, spec(
      s""""summaryPath":"$dir/grouped.parquet",
         |"embeddingColumns":["embedding"],"embeddingGroupBy":"label"""".stripMargin),
      resolver).collect().map(key).toMap
    val direct = graft.operators.Drift.embeddingDriftByGroup(
        emb.filter(col("label") < 8), emb, "embedding", "label")
      .collect().map(key).toMap
    assert(sameRows(stored, direct),
      s"stored-artifact route diverged:\n$stored\nvs\n$direct")
    // BOTH-SIDES-STORED (newSummaryPath): two historical crawls compared
    // artifact-vs-artifact — identical rows again, and the frame's
    // embedding column is never scanned by the leg
    graft.operators.Drift.embeddingSummary(emb, "embedding", Some("label"))
      .write.mode("overwrite").parquet(s"$dir/grouped_new.parquet")
    val bothStored = graft.pipeline.Interpreter.build(spark, spec(
      s""""summaryPath":"$dir/grouped.parquet",
         |"newSummaryPath":"$dir/grouped_new.parquet",
         |"embeddingColumns":["embedding"],"embeddingGroupBy":"label"""".stripMargin),
      resolver).collect().map(key).toMap
    assert(sameRows(bothStored, direct),
      s"both-sides-stored route diverged:\n$bothStored\nvs\n$direct")
    // form mismatches are config-grade errors naming the fix, never an
    // unresolved-column AnalysisException from inside the dim-row join
    val globalDecl = intercept[IllegalArgumentException] {
      graft.pipeline.Interpreter.build(spark, spec(
        s""""summaryPath":"$dir/grouped.parquet",
           |"embeddingColumns":["embedding"]""".stripMargin), resolver)
    }
    assert(globalDecl.getMessage.contains("WITH a stratum") &&
      globalDecl.getMessage.contains("[art-drift]"), globalDecl.getMessage)
    val notAnArtifact = intercept[IllegalArgumentException] {
      graft.pipeline.Interpreter.build(spark, spec(
        s""""summaryPath":"${sf()}/embeddings.parquet",
           |"embeddingColumns":["embedding"]""".stripMargin), resolver)
    }
    assert(notAnArtifact.getMessage.contains("not an embedding_summary artifact") &&
      notAnArtifact.getMessage.contains("dim_sum"), notAnArtifact.getMessage)
  }

  test("stored-artifact drift: sketchPath leg answers n_distinct drift from the X25 table without rescanning (r42 family)") {
    val resolver = new ParquetSourceResolver(sf(), TestdataCatalog)
    val ev = spark.read.parquet(s"${sf()}/events.parquet")
    val dir = tempDirPath("graft_sketch_route").toString
    // crawl N's profiling step already materializes this table (X25);
    // old side = the low-id user population, so the new snapshot's extra
    // users are REAL n_distinct drift (a time split would see every user
    // on both sides at this SF and the deltas would all be 0)
    graft.operators.Profile.distinctSketches(
        ev.filter(col("user_id") < 8), Seq("event_type"), "user_id")
      .write.mode("overwrite").parquet(s"$dir/sketches.parquet")
    val out = graft.pipeline.Interpreter.build(spark, PipelineSpec.fromJson(
      s"""{"id":"sketch-drift","processingMode":"SIMPLE_STREAM",
         |"sourceTopic":{"name":"events","keyClass":"java.lang.Long"},
         |"transform":[{"op":"snapshot_drift",
         |  "sketchPath":"$dir/sketches.parquet",
         |  "groupColumns":["event_type"],"column":"user_id"}],
         |"outputTopic":{"enabled":true,"name":"sketch-out"}}""".stripMargin),
      resolver).collect()
    // same estimates as the API form (HLL is order-insensitive, so the
    // stored old side matches a fresh build exactly), reshaped to the
    // gated report row shape
    val api = graft.operators.Drift.driftFromSketches(
        spark.read.parquet(s"$dir/sketches.parquet"),
        graft.operators.Profile.distinctSketches(ev, Seq("event_type"), "user_id"),
        Seq("event_type"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(out.nonEmpty && out.length == api.size)
    out.foreach { r =>
      assert(r.getString(0) == "user_id" && r.getString(1) == "n_distinct")
      val (o, n) = api(r.getString(2))
      assert(r.getDouble(3) == o.toDouble && r.getDouble(4) == n.toDouble &&
        r.getDouble(5) == (n - o).toDouble, s"cell ${r.getString(2)} diverged")
    }
    // the gate composes over the artifact leg like any other row
    val e = intercept[Exception] {
      graft.pipeline.Interpreter.build(spark, PipelineSpec.fromJson(
        s"""{"id":"sketch-gate","processingMode":"SIMPLE_STREAM",
           |"sourceTopic":{"name":"events","keyClass":"java.lang.Long"},
           |"transform":[{"op":"snapshot_drift",
           |  "sketchPath":"$dir/sketches.parquet",
           |  "groupColumns":["event_type"],"column":"user_id",
           |  "maxAbsDelta":{"n_distinct":0}}],
           |"outputTopic":{"enabled":true,"name":"sketch-gate-out"}}""".stripMargin),
        resolver).collect()
    }
    assert(e.getMessage.contains("drift gate violated") &&
      e.getMessage.contains("n_distinct"), e.getMessage)
    // a non-sketch parquet is refused with the missing columns named
    val bad = intercept[IllegalArgumentException] {
      graft.pipeline.Interpreter.build(spark, PipelineSpec.fromJson(
        s"""{"id":"sketch-bad","processingMode":"SIMPLE_STREAM",
           |"sourceTopic":{"name":"events","keyClass":"java.lang.Long"},
           |"transform":[{"op":"snapshot_drift",
           |  "sketchPath":"${sf()}/events.parquet",
           |  "groupColumns":["event_type"],"column":"user_id"}],
           |"outputTopic":{"enabled":true,"name":"sketch-bad-out"}}""".stripMargin),
        resolver)
    }
    assert(bad.getMessage.contains("not a distinct-sketch table") &&
      bad.getMessage.contains("sketch"), bad.getMessage)
  }

  test("declarative incremental-screen loop: shingle_index writes the artifact that dedup_near historyPath consumes") {
    // publish time: ONE spec snapshots the corpus's shingle sets; ingest
    // time: ONE spec screens the new batch for novelty against it — the
    // history is never re-tokenized (r46 family)
    val dir = tempDirPath("graft_shingle_loop").toString
    val docs = spark.read.parquet(s"${sf()}/documents.parquet")
    val cut = (docs.agg(max(col("doc_id"))).head().getLong(0) + 1L) * 4L / 5L
    docs.filter(col("doc_id") < cut)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    docs.filter(col("doc_id") >= cut)
      .write.mode("overwrite").parquet(s"$dir/docs_new.parquet")
    val res = new ParquetSourceResolver(dir, TestdataCatalog)
    val art = graft.pipeline.Interpreter.values(
      graft.pipeline.Interpreter.build(spark, PipelineSpec.fromJson(
        """{"id":"publish-shingles","processingMode":"SIMPLE_STREAM",
          |"sourceTopic":{"name":"documents","keyClass":"java.lang.Long"},
          |"transform":[{"op":"shingle_index","column":"text",
          |  "idColumn":"doc_id","shingleSize":3}],
          |"outputTopic":{"enabled":true,"name":"shingle-artifact"}}""".stripMargin),
        res))
    assert(art.columns.toSeq == Seq("id", "sh", "n", "shingle_size"))
    art.write.mode("overwrite").parquet(s"$dir/shingles.parquet")
    def screen(extra: String) = PipelineSpec.fromJson(
      s"""{"id":"screen-batch","processingMode":"SIMPLE_STREAM",
         |"sourceTopic":{"name":"docs_new","keyClass":"java.lang.Long"},
         |"transform":[{"op":"dedup_near","method":"jaccard","column":"text",
         |  "idColumn":"doc_id","threshold":0.8,
         |  "historyPath":"$dir/shingles.parquet"$extra}],
         |"outputTopic":{"enabled":true,"name":"novel-out"}}""".stripMargin)
    val novel = graft.pipeline.Interpreter.build(spark,
        screen(""","shingleSize":3"""), res)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val direct = graft.operators.Dedup.incrementalNovel(
        docs.filter(col("doc_id") >= cut), docs.filter(col("doc_id") < cut),
        "doc_id", "text", shingleSize = 3, threshold = 0.8)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(novel == direct && novel.nonEmpty,
      s"stored-history screen kept ${novel.size}, direct ${direct.size}")
    // a mismatched shingle width is refused with both values named — it
    // would silently pass EVERYTHING as novel
    val mismatch = intercept[IllegalArgumentException] {
      graft.pipeline.Interpreter.build(spark, screen(""","shingleSize":5"""), res)
    }
    assert(mismatch.getMessage.contains("shingleSize=5") &&
      mismatch.getMessage.contains("shingle_size=3"), mismatch.getMessage)
    // a non-artifact parquet is refused with the build hint named
    val bad = intercept[IllegalArgumentException] {
      graft.pipeline.Interpreter.build(spark, PipelineSpec.fromJson(
        s"""{"id":"screen-bad","processingMode":"SIMPLE_STREAM",
           |"sourceTopic":{"name":"docs_new","keyClass":"java.lang.Long"},
           |"transform":[{"op":"dedup_near","method":"jaccard","column":"text",
           |  "idColumn":"doc_id","shingleSize":3,"threshold":0.8,
           |  "historyPath":"$dir/docs_new.parquet"}],
           |"outputTopic":{"enabled":true,"name":"screen-bad-out"}}""".stripMargin),
        res)
    }
    assert(bad.getMessage.contains("not a shingle_index artifact"),
      bad.getMessage)
    // a MIXED-width artifact (a mis-widthed append into the publish loop)
    // is refused even when a lucky sample would have matched the declared
    // width — the foreign-width rows would silently screen as novel
    spark.read.parquet(s"$dir/shingles.parquet")
      .unionByName(graft.operators.Dedup.shingleIndex(
        docs.filter(col("doc_id") >= cut), "doc_id", "text", 5))
      .write.mode("overwrite").parquet(s"$dir/shingles_mixed.parquet")
    val mixed = intercept[IllegalArgumentException] {
      graft.pipeline.Interpreter.build(spark, PipelineSpec.fromJson(
        s"""{"id":"screen-mixed","processingMode":"SIMPLE_STREAM",
           |"sourceTopic":{"name":"docs_new","keyClass":"java.lang.Long"},
           |"transform":[{"op":"dedup_near","method":"jaccard","column":"text",
           |  "idColumn":"doc_id","shingleSize":3,"threshold":0.8,
           |  "historyPath":"$dir/shingles_mixed.parquet"}],
           |"outputTopic":{"enabled":true,"name":"screen-mixed-out"}}""".stripMargin),
        res)
    }
    assert(mixed.getMessage.contains("mixes shingle widths") &&
      mixed.getMessage.contains("3, 5"), mixed.getMessage)
  }

  test("declarative ANN index loop: knn_index writes the artifact that knn indexPath searches") {
    // crawl time: ONE spec trains and stores the index; query time: ONE
    // spec searches it — no re-training, no corpus re-hash, the whole X3
    // stored-artifact loop through config (the r44 family)
    val resolver = new ParquetSourceResolver(sf(), TestdataCatalog)
    val dir = tempDirPath("graft_knn_index_loop").toString
    val report = graft.pipeline.Interpreter.build(spark, PipelineSpec.fromJson(
      s"""{"id":"build-index","processingMode":"SIMPLE_STREAM",
         |"sourceTopic":{"name":"embeddings","keyClass":"java.lang.Long"},
         |"transform":[{"op":"knn_index","method":"ivf","column":"embedding",
         |  "idColumn":"vec_id","nCells":16,"nAssign":2,
         |  "indexPath":"$dir/ivf"}],
         |"outputTopic":{"enabled":true,"name":"index-report"}}""".stripMargin),
      resolver).collect()
    assert(report.length == 1 && report.head.getString(0) == "ivf" &&
      report.head.getLong(3) == report.head.getLong(2) * 2, report.mkString)
    val spec = (extra: String) => PipelineSpec.fromJson(
      s"""{"id":"search-index","processingMode":"SIMPLE_STREAM",
         |"sourceTopic":{"name":"embeddings","keyClass":"java.lang.Long"},
         |"transform":[{"op":"knn","method":"ivf","column":"embedding",
         |  "idColumn":"vec_id","k":10,"nProbe":6,
         |  "queryPath":"${sf()}/embeddings.parquet",
         |  "queryFilter":"vec_id < 3",
         |  "indexPath":"$dir/ivf"$extra}],
         |"outputTopic":{"enabled":true,"name":"knn-from-index"}}""".stripMargin)
    val stored = graft.pipeline.Interpreter.build(spark, spec(""), resolver)
      .select("query_id", "rank", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val e = spark.read.parquet(s"${sf()}/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
    val direct = graft.operators.Similarity.ivfTopK(e,
        e.filter(col("vec_id") < 3), "vec_id", "embedding", 10,
        nCells = 16, nProbe = 6, nAssign = 2)
      .select("query_id", "rank", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(stored == direct && stored.nonEmpty,
      "config stored-index route diverged from the direct operator")
    // declared geometry must MATCH the artifact — a silent divergence would
    // mean searching an index other than the one configured
    val mismatch = intercept[IllegalArgumentException] {
      graft.pipeline.Interpreter.build(spark, spec(""","nCells":32"""), resolver)
    }
    assert(mismatch.getMessage.contains("nCells=32") &&
      mismatch.getMessage.contains("built with nCells=16"), mismatch.getMessage)
    // declared method must match the stored one
    val wrongMethod = intercept[IllegalArgumentException] {
      graft.pipeline.Interpreter.build(spark, PipelineSpec.fromJson(
        s"""{"id":"wrong-method","processingMode":"SIMPLE_STREAM",
           |"sourceTopic":{"name":"embeddings","keyClass":"java.lang.Long"},
           |"transform":[{"op":"knn","method":"lsh","column":"embedding",
           |  "idColumn":"vec_id","k":10,
           |  "queryPath":"${sf()}/embeddings.parquet",
           |  "indexPath":"$dir/ivf"}],
           |"outputTopic":{"enabled":true,"name":"wrong-method-out"}}""".stripMargin),
        resolver)
    }
    assert(wrongMethod.getMessage.contains("stored method 'ivf'"),
      wrongMethod.getMessage)
    // staleness: a frame that diverged from the indexed corpus count draws
    // the warn finding (buildAudited surfaces it; planAudit:"fail" would
    // refuse)
    val staleSpec = PipelineSpec.fromJson(
      s"""{"id":"stale-index","processingMode":"SIMPLE_STREAM",
         |"sourceTopic":{"name":"embeddings","keyClass":"java.lang.Long"},
         |"transform":[{"op":"knn","method":"ivf","column":"embedding",
         |  "idColumn":"vec_id","k":10,
         |  "queryPath":"${sf()}/embeddings.parquet",
         |  "queryFilter":"vec_id < 3",
         |  "indexPath":"$dir/ivf_stale"}],
         |"outputTopic":{"enabled":true,"name":"stale-out"}}""".stripMargin)
    graft.operators.Similarity.buildIndex(
      e.filter(col("vec_id") < 100), "vec_id", "embedding", "ivf",
      s"$dir/ivf_stale", nCells = 8, nAssign = 2)
    val (_, findings) = graft.pipeline.Interpreter.buildAudited(
      spark, staleSpec, resolver)
    assert(findings.exists(f => f.rule == "knn_stale_index" &&
        f.detail.contains("100 corpus rows")),
      s"expected the staleness finding, got: ${findings.map(_.detail)}")
  }

  test("knn_index_append config path: report commits the batch; the stored knn route then sees the appended rows") {
    val e = spark.read.parquet(s"${sf()}/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
    val cut = e.agg(max(col("vec_id"))).head.getLong(0) / 2
    val dir = tempDirPath("graft_interp_knn_append").toString
    graft.operators.Similarity.buildIndex(e.filter(col("vec_id") <= cut),
      "vec_id", "embedding", "quantized", s"$dir/idx")
    val report = graft.pipeline.Interpreter.applyTransform(
      e.filter(col("vec_id") > cut),
      graft.config.TransformOp.KnnIndexAppend(column = "embedding",
        idColumn = "vec_id", indexPath = s"$dir/idx"),
      None, "t-append").head()
    assert(report.getString(0) == "quantized" &&
      report.getLong(3) == e.count(), report.toString)
    // the config-path stored search over the appended index == the direct
    // quantized scan over the FULL corpus (the append closed the gap the
    // staleness preflight would have flagged)
    def rows(df: org.apache.spark.sql.DataFrame): Set[(Long, Int, Long)] =
      df.select("query_id", "rank", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val out = graft.pipeline.Interpreter.build(spark, PipelineSpec.fromJson(
      s"""{"id":"knn-after-append","processingMode":"SIMPLE_STREAM",
         |"sourceTopic":{"name":"embeddings","keyClass":"java.lang.Long"},
         |"transform":[{"op":"knn","method":"quantized","column":"embedding",
         |  "idColumn":"vec_id","k":10,
         |  "queryPath":"${sf()}/embeddings.parquet",
         |  "queryFilter":"vec_id < 3","indexPath":"$dir/idx"}],
         |"outputTopic":{"enabled":true,"name":"knn-after-append-out"}}""".stripMargin),
      new ParquetSourceResolver(sf(), TestdataCatalog))
    val direct = graft.operators.Similarity.quantizedTopK(e,
      e.filter(col("vec_id") < 3), "vec_id", "embedding", 10)
    assert(rows(out) == rows(direct) && rows(out).nonEmpty,
      "stored route over the appended index diverged from the full-corpus scan")
  }

  test("shingle_index_append: appended history screens == from-raw; double append is verdict-invariant; foreign width refused") {
    val docs = spark.read.parquet(s"${sf()}/documents.parquet")
    val top = docs.agg(max(col("doc_id"))).head.getLong(0) + 1L
    val (cutA, cutB) = (top * 3 / 5, top * 4 / 5)
    val hist = docs.filter(col("doc_id") < cutA)
    val mid = docs.filter(col("doc_id") >= cutA && col("doc_id") < cutB)
    val batch = docs.filter(col("doc_id") >= cutB)
    val dir = tempDirPath("graft_interp_shingle_append").toString
    val p = s"$dir/shingles.parquet"
    graft.operators.Dedup.shingleIndex(hist, "doc_id", "text", 3)
      .write.mode("overwrite").parquet(p)
    def append(df: org.apache.spark.sql.DataFrame, width: Int = 3) =
      graft.pipeline.Interpreter.applyTransform(df,
        graft.config.TransformOp.ShingleIndexAppend(column = "text",
          idColumn = "doc_id", shingleSize = width, historyPath = p),
        None, "t-shingle-append")
    val rep = append(mid).head()
    assert(rep.getInt(0) == 3 && rep.getLong(1) == mid.count() &&
      rep.getLong(2) == hist.count() + mid.count(), rep.toString)
    def screen(): Set[Long] = graft.pipeline.Interpreter.applyTransform(batch,
        graft.config.TransformOp.DedupNear(method = Some("jaccard"),
          column = "text", idColumn = "doc_id",
          shingleSize = Some(3), threshold = Some(0.8),
          historyPath = Some(p)),
        None, "t-screen")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val survivors = screen()
    val fromRaw = graft.operators.Dedup.incrementalNovel(batch,
        docs.filter(col("doc_id") < cutB), "doc_id", "text", 3, 0.8)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(survivors == fromRaw && batch.count() > 0,
      "appended history diverged from the from-raw incremental screen")
    // retry-after-crash safety: a DOUBLE append must not change any verdict
    // (duplicated history rows only widen the candidate join, whose matches
    // feed a left_anti)
    append(mid)
    assert(screen() == survivors, "double append changed screen verdicts")
    // appending a foreign width is refused before it poisons the artifact
    val bad = intercept[IllegalArgumentException] { append(mid, width = 4) }
    assert(bad.getMessage.contains("shingleSize=4") &&
      bad.getMessage.contains("shingle_size=3"), bad.getMessage)
  }

  test("sketchPath leg excludes NULL dims on both sides (no vanished+newborn double-report)") {
    // a null-dim cell identical on both sides used to double-report —
    // vanished (new=0) AND newborn (old=0) — because driftFromSketches
    // joins dims null-unsafely, spuriously hard-failing an n_distinct
    // gate on unchanged data; the leg now filters nulls on BOTH sides
    // (summaryCore's null-stratum convention)
    val dir = tempDirPath("graft_sketch_nulldim").toString
    val ss = spark
    import ss.implicits._
    val rows = Seq(("a", 1L), ("a", 2L), (null, 3L), (null, 4L))
      .toDF("event_type", "user_id")
      .withColumn("event_id", col("user_id"))
    rows.write.mode("overwrite").parquet(s"$dir/events.parquet")
    graft.operators.Profile.distinctSketches(
        rows.filter(col("event_type").isNotNull), Seq("event_type"), "user_id")
      .unionByName(graft.operators.Profile.distinctSketches(
        rows.filter(col("event_type").isNull), Seq("event_type"), "user_id"))
      .write.mode("overwrite").parquet(s"$dir/sketches.parquet")
    val out = graft.pipeline.Interpreter.build(spark, PipelineSpec.fromJson(
      s"""{"id":"sketch-nulldim","processingMode":"SIMPLE_STREAM",
         |"sourceTopic":{"name":"events","keyClass":"java.lang.Long"},
         |"transform":[{"op":"snapshot_drift",
         |  "sketchPath":"$dir/sketches.parquet",
         |  "groupColumns":["event_type"],"column":"user_id",
         |  "maxAbsDelta":{"n_distinct":0}}],
         |"outputTopic":{"enabled":true,"name":"sketch-nulldim-out"}}""".stripMargin),
      new ParquetSourceResolver(dir, TestdataCatalog)).collect()
    // identical snapshots → one 'a' cell with zero delta; the null-dim
    // population is excluded, so the zero-delta gate HOLDS (it used to
    // raise on the phantom vanished/newborn pair)
    assert(out.length == 1 && out.head.getString(2) == "a" &&
      out.head.getDouble(5) == 0.0, out.mkString("; "))
  }

  test("declarative artifact loop: distinct_rollup keepSketch writes the X25 table that snapshot_drift sketchPath consumes") {
    // crawl N: ONE spec builds the stored sketch table (keepSketch keeps
    // the mergeable column the plain rollup drops); crawl N+1: ONE spec
    // answers n_distinct drift from it — the whole no-rescan loop through
    // config, no Scala
    val resolver = new ParquetSourceResolver(sf(), TestdataCatalog)
    val dir = tempDirPath("graft_sketch_loop").toString
    // crawl N is a genuinely different snapshot: the low-user-id half,
    // materialized as its own events table
    spark.read.parquet(s"${sf()}/events.parquet")
      .filter(col("user_id") < 8)
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val crawl = graft.pipeline.Interpreter.values(
      graft.pipeline.Interpreter.build(spark, PipelineSpec.fromJson(
        """{"id":"crawl-sketch","processingMode":"SIMPLE_STREAM",
          |"sourceTopic":{"name":"events","keyClass":"java.lang.Long"},
          |"transform":[{"op":"distinct_rollup","groupColumns":["event_type"],
          |  "column":"user_id","keepSketch":true}],
          |"outputTopic":{"enabled":true,"name":"crawl-sketch-out"}}""".stripMargin),
        new ParquetSourceResolver(dir, TestdataCatalog)))
    assert(crawl.columns.toSeq ==
      Seq("event_type", "sketch", "n_distinct", "n_rows"))
    crawl.write.mode("overwrite").parquet(s"$dir/sketches.parquet")
    val drift = graft.pipeline.Interpreter.build(spark, PipelineSpec.fromJson(
      s"""{"id":"drift-from-crawl","processingMode":"SIMPLE_STREAM",
         |"sourceTopic":{"name":"events","keyClass":"java.lang.Long"},
         |"transform":[{"op":"snapshot_drift",
         |  "sketchPath":"$dir/sketches.parquet",
         |  "groupColumns":["event_type"],"column":"user_id"}],
         |"outputTopic":{"enabled":true,"name":"drift-from-crawl-out"}}""".stripMargin),
      resolver).collect()
    // every event_type sees users 0-7 on the old side vs the full
    // population on the new — the drift is real and per-cell positive
    assert(drift.nonEmpty && drift.forall(r => r.getDouble(5) > 0),
      drift.mkString("; "))
    // the filter stage of the first spec is what narrowed the old side —
    // the sketch estimates are exact at this cardinality, so the old
    // values are exactly 8 distinct users per cell
    assert(drift.forall(r => r.getDouble(3) == 8.0), drift.mkString("; "))
  }

  test("declarative quantile-artifact loop: quantile_rollup keepSketch writes the X26 table that snapshot_drift quantilePath consumes") {
    // crawl N: ONE spec builds the stored quantile-sketch table; crawl
    // N+1: ONE spec answers per-cell percentile drift from it — the X26
    // analogue of the keepSketch/sketchPath loop, no Scala
    val resolver = new ParquetSourceResolver(sf(), TestdataCatalog)
    val dir = tempDirPath("graft_quantile_loop").toString
    spark.read.parquet(s"${sf()}/events.parquet")
      .filter(col("user_id") < 8)
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val crawl = graft.pipeline.Interpreter.values(
      graft.pipeline.Interpreter.build(spark, PipelineSpec.fromJson(
        """{"id":"crawl-quantiles","processingMode":"SIMPLE_STREAM",
          |"sourceTopic":{"name":"events","keyClass":"java.lang.Long"},
          |"transform":[{"op":"quantile_rollup","groupColumns":["event_type"],
          |  "column":"value","quantiles":[0.5, 0.9],"keepSketch":true}],
          |"outputTopic":{"enabled":true,"name":"crawl-quantiles-out"}}""".stripMargin),
        new ParquetSourceResolver(dir, TestdataCatalog)))
    assert(crawl.columns.toSeq ==
      Seq("event_type", "qsketch", "p50", "p90", "n_rows"))
    crawl.write.mode("overwrite").parquet(s"$dir/qsketches.parquet")
    val drift = graft.pipeline.Interpreter.build(spark, PipelineSpec.fromJson(
      s"""{"id":"drift-from-quantiles","processingMode":"SIMPLE_STREAM",
         |"sourceTopic":{"name":"events","keyClass":"java.lang.Long"},
         |"transform":[{"op":"snapshot_drift",
         |  "quantilePath":"$dir/qsketches.parquet",
         |  "groupColumns":["event_type"],"column":"value",
         |  "quantiles":[0.5, 0.9]}],
         |"outputTopic":{"enabled":true,"name":"drift-from-quantiles-out"}}""".stripMargin),
      resolver).collect()
    // one row per (cell, quantile), every metric a pNN label, values real
    val cells = drift.map(_.getString(2)).distinct
    assert(drift.nonEmpty && drift.length == cells.length * 2,
      drift.mkString("; "))
    assert(drift.forall(r => Set("p50", "p90")(r.getString(1))),
      drift.mkString("; "))
    // the old side equals the stored artifact's own estimates exactly
    // (rollupQuantiles over one stored cell is deterministic)
    val stored = graft.operators.Profile.rollupQuantiles(
        spark.read.parquet(s"$dir/qsketches.parquet"),
        Seq("event_type"), Seq(0.5, 0.9))
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    drift.foreach { r =>
      val (p50, p90) = stored(r.getString(2))
      val want = if (r.getString(1) == "p50") p50 else p90
      assert(r.getDouble(3) == want,
        s"old-side ${r.getString(2)}/${r.getString(1)} diverged from the artifact")
    }
    // IDENTICAL snapshots → zero delta on every row, so a zero-bound gate
    // holds; the same gate violates once the new side drifts
    val same = graft.pipeline.Interpreter.build(spark, PipelineSpec.fromJson(
      s"""{"id":"quantile-gate-same","processingMode":"SIMPLE_STREAM",
         |"sourceTopic":{"name":"events","keyClass":"java.lang.Long"},
         |"transform":[{"op":"snapshot_drift",
         |  "quantilePath":"$dir/qsketches.parquet",
         |  "groupColumns":["event_type"],"column":"value",
         |  "quantiles":[0.5, 0.9],
         |  "maxAbsDelta":{"p50":0,"p90":0}}],
         |"outputTopic":{"enabled":true,"name":"quantile-gate-out"}}""".stripMargin),
      new ParquetSourceResolver(dir, TestdataCatalog)).collect()
    assert(same.nonEmpty && same.forall(_.getBoolean(6)))
    val e = intercept[Exception] {
      graft.pipeline.Interpreter.build(spark, PipelineSpec.fromJson(
        s"""{"id":"quantile-gate-drift","processingMode":"SIMPLE_STREAM",
           |"sourceTopic":{"name":"events","keyClass":"java.lang.Long"},
           |"transform":[{"op":"snapshot_drift",
           |  "quantilePath":"$dir/qsketches.parquet",
           |  "groupColumns":["event_type"],"column":"value",
           |  "quantiles":[0.5, 0.9],
           |  "maxAbsDelta":{"p50":0,"p90":0}}],
           |"outputTopic":{"enabled":true,"name":"quantile-gate-out2"}}""".stripMargin),
        resolver).collect()
    }
    assert(e.getMessage.contains("drift gate violated"), e.getMessage)
    // a non-artifact parquet is refused with the keepSketch fix named
    val bad = intercept[IllegalArgumentException] {
      graft.pipeline.Interpreter.build(spark, PipelineSpec.fromJson(
        s"""{"id":"quantile-bad","processingMode":"SIMPLE_STREAM",
           |"sourceTopic":{"name":"events","keyClass":"java.lang.Long"},
           |"transform":[{"op":"snapshot_drift",
           |  "quantilePath":"${sf()}/events.parquet",
           |  "groupColumns":["event_type"],"column":"value",
           |  "quantiles":[0.5]}],
           |"outputTopic":{"enabled":true,"name":"quantile-bad-out"}}""".stripMargin),
        resolver)
    }
    assert(bad.getMessage.contains("not a quantile-sketch table") &&
      bad.getMessage.contains("keepSketch"), bad.getMessage)
  }

  test("summaryPath refuses a WINDOWED artifact (silent double-count) and names the merge fix") {
    val resolver = new ParquetSourceResolver(sf(), TestdataCatalog)
    val dir = tempDirPath("graft_windowed_artifact").toString
    val e = spark.read.parquet(s"${sf()}/embeddings.parquet")
      .withColumn("ts", expr("TIMESTAMP '2024-01-01 00:00:00' + " +
        "make_interval(0, 0, 0, 0, CAST(vec_id % 48 AS INT), 0, 0)"))
    graft.operators.Drift.embeddingSummaryWindowed(e, "embedding", None,
        org.apache.spark.sql.functions.window(col("ts"), "1 day"))
      .write.mode("overwrite").parquet(s"$dir/windowed.parquet")
    val err = intercept[IllegalArgumentException] {
      graft.pipeline.Interpreter.build(spark, PipelineSpec.fromJson(
        s"""{"id":"windowed-as-summary","processingMode":"SIMPLE_STREAM",
           |"sourceTopic":{"name":"embeddings","keyClass":"java.lang.Long"},
           |"transform":[{"op":"snapshot_drift",
           |  "summaryPath":"$dir/windowed.parquet",
           |  "embeddingColumns":["embedding"]}],
           |"outputTopic":{"enabled":true,"name":"bad-out"}}""".stripMargin),
        resolver)
    }
    assert(err.getMessage.contains("WINDOWED") &&
      err.getMessage.contains("merge_embedding_summaries"), err.getMessage)
    // the named fix WORKS: merge folds the windows out exactly, and the
    // merged artifact drifts identically to the one-shot summary route
    val mergeSpec = PipelineSpec.fromJson(
      """{"id":"fold-windows","processingMode":"SIMPLE_STREAM",
        |"sourceTopic":{"name":"windowed","keyClass":"java.lang.Long"},
        |"transform":[{"op":"merge_embedding_summaries"}],
        |"outputTopic":{"enabled":true,"name":"fold-out"}}""".stripMargin)
    val merged = graft.pipeline.Interpreter.values(graft.pipeline.Interpreter
      .build(spark, mergeSpec, new ParquetSourceResolver(dir, TestdataCatalog)))
    merged.write.mode("overwrite").parquet(s"$dir/merged.parquet")
    val viaMerged = graft.pipeline.Interpreter.build(spark, PipelineSpec.fromJson(
      s"""{"id":"drift-via-merged","processingMode":"SIMPLE_STREAM",
         |"sourceTopic":{"name":"embeddings","keyClass":"java.lang.Long"},
         |"transform":[{"op":"snapshot_drift",
         |  "summaryPath":"$dir/merged.parquet",
         |  "embeddingColumns":["embedding"]}],
         |"outputTopic":{"enabled":true,"name":"ok-out"}}""".stripMargin),
      resolver).collect().map(r => r.getString(1) -> r.getDouble(4)).toMap
    // old == new (same snapshot both sides) → every delta is exactly 0
    assert(viaMerged.values.forall(_ == 0.0), viaMerged.toString)
  }

  test("merge_embedding_summaries: a non-artifact source frame is refused with the missing columns named") {
    val resolver = new ParquetSourceResolver(sf(), TestdataCatalog)
    val e = intercept[IllegalArgumentException] {
      graft.pipeline.Interpreter.build(spark, PipelineSpec.fromJson(
        """{"id":"merge-bad","processingMode":"SIMPLE_STREAM",
          |"sourceTopic":{"name":"documents","keyClass":"java.lang.Long"},
          |"transform":[{"op":"merge_embedding_summaries"}],
          |"outputTopic":{"enabled":true,"name":"merge-bad-out"}}""".stripMargin),
        resolver)
    }
    assert(e.getMessage.contains("not an embedding_summary artifact") &&
      e.getMessage.contains("[merge-bad]"), e.getMessage)
  }

  test("batch statsPath drift: both-sides-stored == frame-scanned; a WINDOWED artifact is refused naming merge_scalar_summaries; the fix works") {
    val resolver = new ParquetSourceResolver(sf(), TestdataCatalog)
    val dir = tempDirPath("graft_batch_stats").toString
    val ev = spark.read.parquet(s"${sf()}/events.parquet")
    graft.operators.Drift.scalarSummary(
        ev.filter(col("user_id") < 8), Seq("value"), Seq("event_type"))
      .write.mode("overwrite").parquet(s"$dir/old_stats.parquet")
    graft.operators.Drift.scalarSummary(ev, Seq("value"), Seq("event_type"))
      .write.mode("overwrite").parquet(s"$dir/new_stats.parquet")
    def drift(extra: String): Map[(String, String), Double] =
      graft.pipeline.Interpreter.build(spark, PipelineSpec.fromJson(
        s"""{"id":"batch-stats","processingMode":"SIMPLE_STREAM",
           |"sourceTopic":{"name":"events","keyClass":"java.lang.Long"},
           |"transform":[{"op":"snapshot_drift",
           |  "statsPath":"$dir/old_stats.parquet",$extra
           |  "numericColumns":["value"],"groupColumns":["event_type"]}],
           |"outputTopic":{"enabled":true,"name":"batch-stats-out"}}""".stripMargin),
        resolver).collect()
        .filter(r => !r.isNullAt(5))
        .map(r => (r.getString(2), r.getString(1)) -> r.getDouble(5)).toMap
    val scanned = drift("")
    val stored = drift(s""""newStatsPath":"$dir/new_stats.parquet",""")
    assert(scanned == stored && scanned.nonEmpty,
      s"both-sides-stored diverged from the frame-scanned route:\n$scanned\nvs\n$stored")
    // a WINDOWED scalar_summary artifact is refused with the merge fix named
    graft.pipeline.Interpreter.applyTransform(ev,
        graft.config.TransformOp.ScalarSummary(columns = Seq("value"),
          groupColumns = Seq("event_type"), timeColumn = Some("ts"),
          every = Some("1 hour")),
        None, "t-win-stats")
      .write.mode("overwrite").parquet(s"$dir/win_stats.parquet")
    val err = intercept[IllegalArgumentException] {
      graft.pipeline.Interpreter.build(spark, PipelineSpec.fromJson(
        s"""{"id":"windowed-as-stats","processingMode":"SIMPLE_STREAM",
           |"sourceTopic":{"name":"events","keyClass":"java.lang.Long"},
           |"transform":[{"op":"snapshot_drift",
           |  "statsPath":"$dir/win_stats.parquet",
           |  "numericColumns":["value"],"groupColumns":["event_type"]}],
           |"outputTopic":{"enabled":true,"name":"bad-out"}}""".stripMargin),
        resolver)
    }
    assert(err.getMessage.contains("WINDOWED") &&
      err.getMessage.contains("merge_scalar_summaries"), err.getMessage)
    // the named fix WORKS: folding the window cells reproduces the global
    // artifact, and drifting against it equals the direct stored route
    val mergeSpec = PipelineSpec.fromJson(
      """{"id":"fold-stats","processingMode":"SIMPLE_STREAM",
        |"sourceTopic":{"name":"win_stats","keyClass":"java.lang.Long"},
        |"transform":[{"op":"merge_scalar_summaries"}],
        |"outputTopic":{"enabled":true,"name":"fold-out"}}""".stripMargin)
    graft.pipeline.Interpreter.values(graft.pipeline.Interpreter
        .build(spark, mergeSpec, new ParquetSourceResolver(dir, TestdataCatalog)))
      .write.mode("overwrite").parquet(s"$dir/folded_stats.parquet")
    val viaFolded = graft.pipeline.Interpreter.build(spark, PipelineSpec.fromJson(
      s"""{"id":"drift-via-folded","processingMode":"SIMPLE_STREAM",
         |"sourceTopic":{"name":"events","keyClass":"java.lang.Long"},
         |"transform":[{"op":"snapshot_drift",
         |  "statsPath":"$dir/folded_stats.parquet",
         |  "numericColumns":["value"],"groupColumns":["event_type"]}],
         |"outputTopic":{"enabled":true,"name":"ok-out"}}""".stripMargin),
      resolver).collect()
      .filter(r => !r.isNullAt(5))
      .map(r => (r.getString(2), r.getString(1)) -> r.getDouble(5)).toMap
    // folded == whole-corpus baseline; the frame is the same corpus → 0
    assert(viaFolded.values.forall(math.abs(_) < 1e-6), viaFolded.toString)
    // a declared column with no artifact rows is refused at build
    val absent = intercept[IllegalArgumentException] {
      graft.pipeline.Interpreter.build(spark, PipelineSpec.fromJson(
        s"""{"id":"absent-col","processingMode":"SIMPLE_STREAM",
           |"sourceTopic":{"name":"events","keyClass":"java.lang.Long"},
           |"transform":[{"op":"snapshot_drift",
           |  "statsPath":"$dir/old_stats.parquet",
           |  "numericColumns":["no_such_measure"],
           |  "groupColumns":["event_type"]}],
           |"outputTopic":{"enabled":true,"name":"bad-out"}}""".stripMargin),
        resolver)
    }
    assert(absent.getMessage.contains("no rows for declared numericColumns"),
      absent.getMessage)
  }

  test("a plain file appended into a maintained shingle history is refused at the next screen and verb, naming the file") {
    val dir = tempDirPath("graft_shingle_oob").toString
    val p = s"$dir/hist.parquet"
    val docs = spark.read.parquet(s"${sf()}/documents.parquet")
    graft.operators.Dedup.shingleIndex(docs.filter(col("doc_id") < 40),
        "doc_id", "text", 3)
      .write.mode("overwrite").parquet(p)
    shingleAppend(docs.filter(col("doc_id") >= 40 && col("doc_id") < 60), p)
    assert(historyManifest(p).exists(_.fence.generation == 1))
    // an out-of-band plain parquet append (even at the right width)
    graft.operators.Dedup.shingleIndex(
        docs.filter(col("doc_id") >= 60 && col("doc_id") < 70),
        "doc_id", "text", 3)
      .write.mode("append").parquet(p)
    val stray = new java.io.File(p).listFiles().toSeq
      .filter(f => f.isFile && f.getName.startsWith("part-"))
    assert(stray.nonEmpty)
    val batch = docs.filter(col("doc_id") >= 70)
    Seq(() => shingleScreen(batch, p), () => shingleAppend(batch, p),
        () => shingleRetract(batch, p), () => shingleCompact(batch, p))
      .foreach { verb =>
        val e = intercept[IllegalArgumentException](verb())
        assert(e.getMessage.contains(stray.head.getName) &&
          e.getMessage.contains("does not account for"), e.getMessage)
      }
  }

  test("a screen of a manifest-less shingle history leaves its directory byte-identical") {
    val dir = tempDirPath("graft_shingle_plain_screen").toString
    val p = s"$dir/hist.parquet"
    val docs = spark.read.parquet(s"${sf()}/documents.parquet")
    graft.operators.Dedup.shingleIndex(docs.filter(col("doc_id") < 40),
        "doc_id", "text", 3)
      .write.mode("overwrite").parquet(p)
    def tree(): Map[String, Seq[Byte]] = {
      import scala.jdk.CollectionConverters._
      scala.util.Using.resource(java.nio.file.Files.walk(java.nio.file.Paths.get(dir))) {
        _.iterator().asScala.toSeq.map { f =>
          f.toString.stripPrefix(dir) ->
            (if (java.nio.file.Files.isDirectory(f)) Seq.empty[Byte]
             else java.nio.file.Files.readAllBytes(f).toSeq)
        }.toMap
      }
    }
    val before = tree()
    assert(shingleScreen(docs.filter(col("doc_id") >= 40), p).nonEmpty)
    assert(tree() == before, "a screen must not write to a plain history")
  }

  test("a legacy _tombstones.parquet is never lost: the screen refuses it with a hint, the first verb carries it over, compact drops its rows") {
    val dir = tempDirPath("graft_shingle_legacy").toString
    val p = s"$dir/hist.parquet"
    val docs = spark.read.parquet(s"${sf()}/documents.parquet")
    val cut = (docs.agg(max(col("doc_id"))).head.getLong(0) + 1L) * 4L / 5L
    val hist = docs.filter(col("doc_id") < cut)
    val gone = hist.filter(col("doc_id") % 3 === 0)
    val batch = docs.filter(col("doc_id") >= cut)
    graft.operators.Dedup.shingleIndex(hist, "doc_id", "text", 3)
      .write.mode("overwrite").parquet(p)
    // the older engine's pending retractions: plain ids, one unmatched
    gone.select(col("doc_id").as("id"))
      .unionByName(spark.range(1).select(lit(-7L).as("id")))
      .write.parquet(s"$p/_tombstones.parquet")
    val refused = intercept[IllegalArgumentException](shingleScreen(batch, p))
    assert(refused.getMessage.contains("_tombstones.parquet") &&
      refused.getMessage.contains("shingle_index_compact"), refused.getMessage)
    val expected = graft.operators.Dedup.incrementalNovelPrepared(batch,
        "doc_id", "text", 3, 0.8,
        graft.operators.Dedup.shingleIndex(hist.filter(col("doc_id") % 3 =!= 0),
          "doc_id", "text", 3).drop("shingle_size"))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // any verb adopts the history; a retract of an unknown id commits
    // nothing of its own
    assert(shingleRetract(docs.filter(col("doc_id") < 0), p)
      .getAs[Long]("retracted_docs") == 0L)
    val m = historyManifest(p).get
    assert(m.fence.tomb_rows == gone.count() && m.history_rows == hist.count(),
      m.toString)
    assert(!new java.io.File(s"$p/gen=0/_tombstones.parquet").exists())
    assert(shingleScreen(batch, p) == expected)
    // the carried-over set folds away like any other
    val crep = shingleCompact(batch, p)
    assert(crep.getAs[Long]("history_rows") == hist.count() - gone.count(),
      crep.toString)
    assert(shingleScreen(batch, p) == expected)
  }

  test("shingle_index_append: an empty batch commits nothing; a retried batch no-ops; a normal append commits one generation") {
    val dir = tempDirPath("graft_shingle_append_gen").toString
    val p = s"$dir/hist.parquet"
    val docs = spark.read.parquet(s"${sf()}/documents.parquet")
    graft.operators.Dedup.shingleIndex(docs.filter(col("doc_id") < 40),
        "doc_id", "text", 3)
      .write.mode("overwrite").parquet(p)
    val batch = docs.filter(col("doc_id") >= 40 && col("doc_id") < 60)
    val rep = shingleAppend(batch, p)
    assert(rep.getLong(1) == batch.count() && rep.getLong(2) == 40L + batch.count(),
      rep.toString)
    val m = historyManifest(p).get
    assert(m.shingle_size == 3 && m.fence.generation == 1 &&
      m.history_rows == rep.getLong(2), m.toString)
    def gens(): Set[String] = new java.io.File(p).listFiles().toSeq
      .map(_.getName).filter(_.startsWith("gen=")).toSet
    assert(gens() == Set("gen=0", "gen=1"))
    // an EMPTY batch and a retry of the committed batch leave the manifest
    // and the generations as they were
    val none = shingleAppend(docs.filter(col("doc_id") < 0), p)
    val retry = shingleAppend(batch, p)
    assert(none.getLong(1) == 0L && retry.getLong(1) == 0L &&
      retry.getLong(2) == m.history_rows, retry.toString)
    assert(historyManifest(p).contains(m) && gens() == Set("gen=0", "gen=1"))
  }

  test("shingle_index_append and shingle_index_retract on a 40-doc history stay within their Spark job counts") {
    val dir = tempDirPath("graft_shingle_jobs").toString
    val p = s"$dir/hist.parquet"
    val docs = spark.read.parquet(s"${sf()}/documents.parquet")
    graft.operators.Dedup.shingleIndex(docs.filter(col("doc_id") < 40),
        "doc_id", "text", 3)
      .write.mode("overwrite").parquet(p)
    // adopt first: the pin is on the steady-state verbs
    shingleCompact(docs, p)
    val appendJobs = jobsDuring(shingleAppend(
      docs.filter(col("doc_id") >= 40 && col("doc_id") < 60), p))
    val retractJobs = jobsDuring(shingleRetract(docs.filter(col("doc_id") < 2), p))
    info(s"jobs: shingle_index_append $appendJobs, shingle_index_retract $retractJobs")
    // the counts measured once these small plans ran without adaptive
    // execution (graft.sinks.Exec; retract 3 -> 2: its tombstone write is
    // one job plus the tombstone set's broadcast); a new probe job in
    // either verb fails here
    assert(appendJobs <= AppendJobs && retractJobs <= RetractJobs,
      s"shingle_index_append ran $appendJobs jobs (pin $AppendJobs), " +
        s"shingle_index_retract $retractJobs (pin $RetractJobs)")
  }
  private val AppendJobs = 1
  private val RetractJobs = 2

  test("a shingle screen with pending retractions logs no data-source WARN (the tombstone set is read by file, not by underscore directory)") {
    val dir = tempDirPath("graft_shingle_warn").toString
    val docs = spark.read.parquet(s"${sf()}/documents.parquet")
    graft.operators.Dedup.shingleIndex(docs.filter(col("doc_id") < 40),
        "doc_id", "text", 3)
      .write.mode("overwrite").parquet(s"$dir/hist.parquet")
    shingleRetract(docs.filter(col("doc_id") < 10), s"$dir/hist.parquet")
    assert(historyManifest(s"$dir/hist.parquet").exists(_.fence.tombsActive))
    docs.filter(col("doc_id") >= 40)
      .write.mode("overwrite").parquet(s"$dir/batch.parquet")
    def screen(): Long =
      graft.pipeline.Interpreter.values(graft.pipeline.Interpreter.build(
        spark, PipelineSpec.fromJson(
          s"""{"id":"warn-screen","processingMode":"SIMPLE_STREAM",
             |"sourceTopic":{"name":"batch","keyClass":"java.lang.Long"},
             |"transform":[{"op":"dedup_near","method":"jaccard",
             |  "column":"text","idColumn":"doc_id","shingleSize":3,
             |  "threshold":0.8,"historyPath":"$dir/hist.parquet"}],
             |"outputTopic":{"enabled":true,"name":"warn-out"}}""".stripMargin),
        new ParquetSourceResolver(dir, TestdataCatalog))).count()
    import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
    val ctx = org.apache.logging.log4j.LogManager.getContext(false)
      .asInstanceOf[LoggerContext]
    val warns = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val capture = new org.apache.logging.log4j.core.appender.AbstractAppender(
        "graft-warn-capture", null, null, true,
        Array.empty[org.apache.logging.log4j.core.config.Property]) {
      // the data-source layer's WARNs (file discovery and reads); Spark's
      // BlockManager may WARN about a persisted block computed twice, a
      // scheduling race unrelated to how artifacts are read
      override def append(e: LogEvent): Unit =
        if (e.getLevel.isMoreSpecificThan(org.apache.logging.log4j.Level.WARN) &&
            e.getLoggerName.startsWith("org.apache.spark.sql.execution.datasources"))
          warns.add(s"${e.getLoggerName}: ${e.getMessage.getFormattedMessage}")
    }
    capture.start()
    ctx.getRootLogger.addAppender(capture)
    try screen()
    finally { ctx.getRootLogger.removeAppender(capture); capture.stop() }
    import scala.jdk.CollectionConverters._
    assert(warns.isEmpty, warns.asScala.mkString("\n"))
  }

  test("shingle_index_retract: retracted docs stop screening; compact drops them and clears tombstones; a re-published id is live") {
    val dir = tempDirPath("graft_shingle_retract").toString
    val docs = spark.read.parquet(s"${sf()}/documents.parquet")
    val cut = (docs.agg(max(col("doc_id"))).head.getLong(0) + 1L) * 4L / 5L
    val histDocs = docs.filter(col("doc_id") < cut)
    val retractedDocs = histDocs.filter(col("doc_id") % 3 === 0)
    graft.operators.Dedup.shingleIndex(histDocs, "doc_id", "text", 3)
      .write.mode("overwrite").parquet(s"$dir/hist.parquet")
    retractedDocs.write.mode("overwrite").parquet(s"$dir/takedown.parquet")
    docs.filter(col("doc_id") >= cut)
      .write.mode("overwrite").parquet(s"$dir/batch.parquet")
    def run(json: String) =
      graft.pipeline.Interpreter.values(graft.pipeline.Interpreter.build(
        spark, PipelineSpec.fromJson(json),
        new ParquetSourceResolver(dir, TestdataCatalog)))
    def screen(): Set[Long] = run(
      s"""{"id":"rt-screen","processingMode":"SIMPLE_STREAM",
         |"sourceTopic":{"name":"batch","keyClass":"java.lang.Long"},
         |"transform":[{"op":"dedup_near","method":"jaccard",
         |  "column":"text","idColumn":"doc_id","shingleSize":3,
         |  "threshold":0.8,"historyPath":"$dir/hist.parquet"}],
         |"outputTopic":{"enabled":true,"name":"rt-out"}}""".stripMargin)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    def retract() = run(
      s"""{"id":"rt-retract","processingMode":"SIMPLE_STREAM",
         |"sourceTopic":{"name":"takedown","keyClass":"java.lang.Long"},
         |"transform":[{"op":"shingle_index_retract","idColumn":"doc_id",
         |  "historyPath":"$dir/hist.parquet"}],
         |"outputTopic":{"enabled":true,"name":"rt-report"}}""".stripMargin)
      .head()
    // the from-raw expected survivors against the SHRUNK history — the
    // rebuild-without-those-rows oracle
    val expected = graft.operators.Dedup.incrementalNovelPrepared(
        docs.filter(col("doc_id") >= cut), "doc_id", "text", 3, 0.8,
        graft.operators.Dedup.shingleIndex(
          histDocs.filter(col("doc_id") % 3 =!= 0), "doc_id", "text", 3)
          .drop("shingle_size"))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val before = screen()
    val rep = retract()
    assert(rep.getAs[Long]("retracted_docs") == retractedDocs.count(),
      rep.toString)
    assert(screen() == expected,
      "the screen must behave as if retracted docs were never published")
    assert(before != expected,
      "fixture sanity: retraction must change at least one verdict")
    // idempotent: the committed retract's retry matches nothing live
    assert(retract().getAs[Long]("retracted_docs") == 0L)
    // re-publishing a retracted id makes it live again (compacted-topic
    // last-write-wins: the tombstone only kills rows up to its generation)
    def republish() = run(
      s"""{"id":"rt-republish","processingMode":"SIMPLE_STREAM",
         |"sourceTopic":{"name":"takedown","keyClass":"java.lang.Long"},
         |"transform":[{"op":"shingle_index_append","column":"text",
         |  "idColumn":"doc_id","shingleSize":3,
         |  "historyPath":"$dir/hist.parquet"}],
         |"outputTopic":{"enabled":true,"name":"rt-rep"}}""".stripMargin)
      .head()
    assert(republish().getAs[Long]("appended_docs") == retractedDocs.count())
    assert(screen() == before, "a re-published id must screen as live")
    // retracting again kills the re-published rows too
    assert(retract().getAs[Long]("retracted_docs") == retractedDocs.count())
    assert(screen() == expected)
    // compact physically drops the rows and clears the tombstones
    val preRows = historyManifest(s"$dir/hist.parquet").get.history_rows
    val crep = run(
      s"""{"id":"rt-compact","processingMode":"SIMPLE_STREAM",
         |"sourceTopic":{"name":"batch","keyClass":"java.lang.Long"},
         |"transform":[{"op":"shingle_index_compact",
         |  "historyPath":"$dir/hist.parquet"}],
         |"outputTopic":{"enabled":true,"name":"rt-cmp"}}""".stripMargin)
      .head()
    assert(crep.getAs[Long]("history_rows") < preRows, crep.toString)
    assert(!historyManifest(s"$dir/hist.parquet").get.fence.tombsActive)
    assert(!new java.io.File(s"$dir/hist.parquet/_tombstones").exists() ||
      new java.io.File(s"$dir/hist.parquet/_tombstones").list()
        .forall(!_.startsWith("gen=")),
      "compact must clear the tombstone generations")
    assert(spark.read.parquet(s"$dir/hist.parquet")
      .join(retractedDocs.select(col("doc_id").as("id")), Seq("id"), "left_semi")
      .count() == 0L, "compact must physically drop retracted rows")
    assert(screen() == expected,
      "retract -> compact -> screen must be verdict-identical")
    // after the compact, the retracted ids re-publish the same way
    republish()
    assert(screen() == before,
      "re-publish after compact must restore the original verdicts")
  }

  test("artifact-dims mismatch: a baseline built with MORE dims than declared is refused (stats / quantile / sketch)") {
    // the silent failure this guard closes: an artifact with extra dims
    // holds several rows per declared cell — the baseline join would match
    // all of them and duplicate every drift/monitor row
    val resolver = new ParquetSourceResolver(sf(), TestdataCatalog)
    val dir = tempDirPath("graft_artifact_dims").toString
    val ev = spark.read.parquet(s"${sf()}/events.parquet")
    graft.operators.Drift.scalarSummary(ev, Seq("value"), Seq("event_type"))
      .write.mode("overwrite").parquet(s"$dir/stats_grouped.parquet")
    graft.operators.Profile.quantileSketches(ev, Seq("event_type"), "value")
      .write.mode("overwrite").parquet(s"$dir/qsk_grouped.parquet")
    graft.operators.Profile.distinctSketches(ev, Seq("event_type"), "user_id")
      .write.mode("overwrite").parquet(s"$dir/hll_grouped.parquet")
    def refused(transform: String): String =
      intercept[IllegalArgumentException] {
        graft.pipeline.Interpreter.build(spark, PipelineSpec.fromJson(
          s"""{"id":"dims-mismatch","processingMode":"SIMPLE_STREAM",
             |"sourceTopic":{"name":"events","keyClass":"java.lang.Long"},
             |"transform":[$transform],
             |"outputTopic":{"enabled":true,"name":"dims-bad-out"}}""".stripMargin),
          resolver)
      }.getMessage
    // batch statsPath declared GLOBAL against the grouped artifact
    val m1 = refused(
      s"""{"op":"snapshot_drift","statsPath":"$dir/stats_grouped.parquet",
         |"numericColumns":["value"]}""".stripMargin)
    assert(m1.contains("beyond the declared groupColumns") &&
      m1.contains("event_type"), m1)
    // windowed scalar monitor, same mismatch
    val m2 = refused(
      s"""{"op":"snapshot_drift","statsPath":"$dir/stats_grouped.parquet",
         |"numericColumns":["value"],"timeColumn":"ts","every":"1 hour"}""".stripMargin)
    assert(m2.contains("beyond the declared groupColumns"), m2)
    // quantilePath with a COARSER declared dim set than the artifact's
    // (groupColumns must be non-empty for the quantile leg, so mismatch
    // via a different single dim)
    graft.operators.Profile.quantileSketches(
        ev.withColumn("src", col("event_type")),
        Seq("event_type", "src"), "value")
      .write.mode("overwrite").parquet(s"$dir/qsk_two_dims.parquet")
    val m3 = refused(
      s"""{"op":"snapshot_drift","quantilePath":"$dir/qsk_two_dims.parquet",
         |"groupColumns":["event_type"],"column":"value",
         |"quantiles":[0.5]}""".stripMargin)
    assert(m3.contains("beyond the declared groupColumns") &&
      m3.contains("src"), m3)
    // sketchPath, same rule
    graft.operators.Profile.distinctSketches(
        ev.withColumn("src", col("event_type")),
        Seq("event_type", "src"), "user_id")
      .write.mode("overwrite").parquet(s"$dir/hll_two_dims.parquet")
    val m4 = refused(
      s"""{"op":"snapshot_drift","sketchPath":"$dir/hll_two_dims.parquet",
         |"groupColumns":["event_type"],"column":"user_id"}""".stripMargin)
    assert(m4.contains("beyond the declared groupColumns") &&
      m4.contains("src"), m4)
    // the MATCHING declarations still build
    graft.pipeline.Interpreter.build(spark, PipelineSpec.fromJson(
      s"""{"id":"dims-ok","processingMode":"SIMPLE_STREAM",
         |"sourceTopic":{"name":"events","keyClass":"java.lang.Long"},
         |"transform":[{"op":"snapshot_drift",
         |  "statsPath":"$dir/stats_grouped.parquet",
         |  "numericColumns":["value"],"groupColumns":["event_type"]}],
         |"outputTopic":{"enabled":true,"name":"dims-ok-out"}}""".stripMargin),
      resolver)
  }

  test("shingle_index_compact: folds appended file sets, screen verdicts unchanged, pin refreshed; mixed-width refused") {
    val resolver = new ParquetSourceResolver(sf(), TestdataCatalog)
    val dir = tempDirPath("graft_shingle_compact").toString
    val docs = spark.read.parquet(s"${sf()}/documents.parquet")
    graft.operators.Dedup.shingleIndex(docs.filter(col("doc_id") < 30),
        "doc_id", "text", 3)
      .write.mode("overwrite").parquet(s"$dir/hist.parquet")
    // two appends -> three file sets
    Seq((30L, 50L), (50L, 70L)).foreach { case (lo, hiB) =>
      graft.operators.Dedup.shingleIndex(
          docs.filter(col("doc_id") >= lo && col("doc_id") < hiB),
          "doc_id", "text", 3)
        .write.mode("append").parquet(s"$dir/hist.parquet")
    }
    docs.filter(col("doc_id") >= 70)
      .write.mode("overwrite").parquet(s"$dir/docs_new.parquet")
    def screen(): Set[Long] =
      graft.pipeline.Interpreter.values(graft.pipeline.Interpreter.build(
        spark, PipelineSpec.fromJson(
          s"""{"id":"cmp-screen","processingMode":"SIMPLE_STREAM",
             |"sourceTopic":{"name":"docs_new","keyClass":"java.lang.Long"},
             |"transform":[{"op":"dedup_near","method":"jaccard",
             |  "column":"text","idColumn":"doc_id","shingleSize":3,
             |  "threshold":0.8,"historyPath":"$dir/hist.parquet"}],
             |"outputTopic":{"enabled":true,"name":"cmp-out"}}""".stripMargin),
        new ParquetSourceResolver(dir, TestdataCatalog)))
        .select("doc_id").collect().map(_.getLong(0)).toSet
    // data files, wherever the layout keeps them (top level when plain,
    // gen=N directories once maintained)
    def files(): Int = {
      def walk(f: java.io.File): Int =
        if (f.getName.startsWith("_") || f.getName.startsWith(".")) 0
        else if (f.isDirectory) f.listFiles().toSeq.map(walk).sum
        else 1
      new java.io.File(s"$dir/hist.parquet").listFiles().toSeq.map(walk).sum
    }
    val before = screen()
    val filesBefore = files()
    assert(filesBefore >= 3, s"fixture must fragment the layout: $filesBefore")
    val histRows = spark.read.parquet(s"$dir/hist.parquet").count()
    val rep = graft.pipeline.Interpreter.values(graft.pipeline.Interpreter
      .build(spark, PipelineSpec.fromJson(
        s"""{"id":"cmp-fold","processingMode":"SIMPLE_STREAM",
           |"sourceTopic":{"name":"documents","keyClass":"java.lang.Long"},
           |"transform":[{"op":"shingle_index_compact",
           |  "historyPath":"$dir/hist.parquet"}],
           |"outputTopic":{"enabled":true,"name":"fold-out"}}""".stripMargin),
        resolver)).head()
    assert(rep.getAs[Int]("shingle_size") == 3 &&
      rep.getAs[Long]("history_rows") == histRows &&
      rep.getAs[Long]("files_before") == filesBefore &&
      rep.getAs[Long]("files_after") < filesBefore, rep.toString)
    assert(files() == rep.getAs[Long]("files_after"))
    // the folded history screens identically, and its manifest pins the
    // width over the one folded generation
    assert(screen() == before, "compaction changed the screen verdicts")
    assert(historyManifest(s"$dir/hist.parquet").exists(m =>
        m.shingle_size == 3 && m.fence.base_gen == m.fence.generation),
      "compaction must commit the folded generation with the width")
    // a second compact has nothing to fold
    val again = graft.pipeline.Interpreter.values(graft.pipeline.Interpreter
      .build(spark, PipelineSpec.fromJson(
        s"""{"id":"cmp-again","processingMode":"SIMPLE_STREAM",
           |"sourceTopic":{"name":"documents","keyClass":"java.lang.Long"},
           |"transform":[{"op":"shingle_index_compact",
           |  "historyPath":"$dir/hist.parquet"}],
           |"outputTopic":{"enabled":true,"name":"again-out"}}""".stripMargin),
        resolver)).head()
    assert(again.getAs[Long]("files_after") == again.getAs[Long]("files_before") &&
      files() == again.getAs[Long]("files_after"), again.toString)
    assert(screen() == before)
    // an EMPTY artifact (a healthy state the screen blesses) compacts as
    // a no-width no-op report instead of a false corruption refusal
    graft.operators.Dedup.shingleIndex(docs.filter(lit(false)),
        "doc_id", "text", 3)
      .write.mode("overwrite").parquet(s"$dir/empty.parquet")
    val repEmpty = graft.pipeline.Interpreter.values(graft.pipeline
      .Interpreter.build(spark, PipelineSpec.fromJson(
        s"""{"id":"cmp-empty","processingMode":"SIMPLE_STREAM",
           |"sourceTopic":{"name":"documents","keyClass":"java.lang.Long"},
           |"transform":[{"op":"shingle_index_compact",
           |  "historyPath":"$dir/empty.parquet"}],
           |"outputTopic":{"enabled":true,"name":"empty-out"}}""".stripMargin),
        resolver)).head()
    assert(repEmpty.getAs[Int]("shingle_size") == 0 &&
      repEmpty.getAs[Long]("history_rows") == 0L, repEmpty.toString)
    // a mixed-width artifact is refused rather than baked in
    graft.operators.Dedup.shingleIndex(docs.filter(col("doc_id") < 30),
        "doc_id", "text", 3)
      .unionByName(graft.operators.Dedup.shingleIndex(
        docs.filter(col("doc_id") >= 70 && col("doc_id") < 80),
        "doc_id", "text", 4))
      .write.mode("overwrite").parquet(s"$dir/mixed.parquet")
    val err = intercept[IllegalArgumentException] {
      graft.pipeline.Interpreter.build(spark, PipelineSpec.fromJson(
        s"""{"id":"cmp-bad","processingMode":"SIMPLE_STREAM",
           |"sourceTopic":{"name":"documents","keyClass":"java.lang.Long"},
           |"transform":[{"op":"shingle_index_compact",
           |  "historyPath":"$dir/mixed.parquet"}],
           |"outputTopic":{"enabled":true,"name":"bad-out"}}""".stripMargin),
        resolver)
    }
    assert(err.getMessage.contains("mixes shingle widths"), err.getMessage)
  }

  test("both-sides-stored sketch and quantile legs equal the frame-scanned routes (neither raw snapshot touched)") {
    // the matrix-completing forms (round 18): newSketchPath /
    // newQuantilePath supply the NEW side's stored table, and the report
    // must equal the frame-scanned declaration — the sketch columns
    // parquet-round-trip byte-identically, so the estimates agree exactly
    val resolver = new ParquetSourceResolver(sf(), TestdataCatalog)
    val dir = tempDirPath("graft_both_stored").toString
    val ev = spark.read.parquet(s"${sf()}/events.parquet")
    graft.operators.Profile.distinctSketches(
        ev.filter(col("user_id") < 8), Seq("event_type"), "user_id")
      .write.mode("overwrite").parquet(s"$dir/hll_old.parquet")
    graft.operators.Profile.distinctSketches(ev, Seq("event_type"), "user_id")
      .write.mode("overwrite").parquet(s"$dir/hll_new.parquet")
    graft.operators.Profile.quantileSketches(
        ev.filter(col("user_id") < 8), Seq("event_type"), "value")
      .write.mode("overwrite").parquet(s"$dir/qsk_old.parquet")
    graft.operators.Profile.quantileSketches(ev, Seq("event_type"), "value")
      .write.mode("overwrite").parquet(s"$dir/qsk_new.parquet")
    def run(transform: String): Map[(String, String), Double] =
      graft.pipeline.Interpreter.values(graft.pipeline.Interpreter.build(
        spark, PipelineSpec.fromJson(
          s"""{"id":"both-stored","processingMode":"SIMPLE_STREAM",
             |"sourceTopic":{"name":"events","keyClass":"java.lang.Long"},
             |"transform":[$transform],
             |"outputTopic":{"enabled":true,"name":"both-out"}}""".stripMargin),
        resolver)).collect()
        .filter(r => !r.isNullAt(5))
        .map(r => (r.getString(2), r.getString(1)) -> r.getDouble(5)).toMap
    val sketchScanned = run(
      s"""{"op":"snapshot_drift","sketchPath":"$dir/hll_old.parquet",
         |"groupColumns":["event_type"],"column":"user_id"}""".stripMargin)
    val sketchStored = run(
      s"""{"op":"snapshot_drift","sketchPath":"$dir/hll_old.parquet",
         |"newSketchPath":"$dir/hll_new.parquet",
         |"groupColumns":["event_type"],"column":"user_id"}""".stripMargin)
    assert(sketchScanned == sketchStored && sketchScanned.nonEmpty,
      s"sketch both-stored diverged:\n$sketchScanned\nvs\n$sketchStored")
    val quantScanned = run(
      s"""{"op":"snapshot_drift","quantilePath":"$dir/qsk_old.parquet",
         |"groupColumns":["event_type"],"column":"value",
         |"quantiles":[0.5,0.9]}""".stripMargin)
    val quantStored = run(
      s"""{"op":"snapshot_drift","quantilePath":"$dir/qsk_old.parquet",
         |"newQuantilePath":"$dir/qsk_new.parquet",
         |"groupColumns":["event_type"],"column":"value",
         |"quantiles":[0.5,0.9]}""".stripMargin)
    assert(quantScanned == quantStored && quantScanned.nonEmpty,
      s"quantile both-stored diverged:\n$quantScanned\nvs\n$quantStored")
  }

  test("merge_scalar_summaries: a non-artifact source frame is refused with the missing columns named") {
    val resolver = new ParquetSourceResolver(sf(), TestdataCatalog)
    val e = intercept[IllegalArgumentException] {
      graft.pipeline.Interpreter.build(spark, PipelineSpec.fromJson(
        """{"id":"merge-stats-bad","processingMode":"SIMPLE_STREAM",
          |"sourceTopic":{"name":"documents","keyClass":"java.lang.Long"},
          |"transform":[{"op":"merge_scalar_summaries"}],
          |"outputTopic":{"enabled":true,"name":"merge-stats-bad-out"}}""".stripMargin),
        resolver)
    }
    assert(e.getMessage.contains("not a scalar_summary artifact union") &&
      e.getMessage.contains("[merge-stats-bad]"), e.getMessage)
  }

  test("<dataDir> against a resolver with no filesystem base fails at build with the spec-id prefix") {
    // the portability placeholder's failure mode (e.g. a Kafka-bound spec):
    // a prefixed IllegalArgumentException at build, per the global error
    // contract — never a mid-query path error
    val parquet = new ParquetSourceResolver(sf(), TestdataCatalog)
    val noBase = new graft.sources.SourceResolver {
      def stream(s: org.apache.spark.sql.SparkSession, t: graft.config.TopicConfig) =
        parquet.stream(s, t)
      def table(s: org.apache.spark.sql.SparkSession, t: graft.config.TopicConfig) =
        parquet.table(s, t)
      def catalog = TestdataCatalog
      // dataDir stays None — the trait default (the Kafka posture)
    }
    val spec = PipelineSpec.fromJson(
      """{"id":"portable-drift","processingMode":"SIMPLE_STREAM",
        |"sourceTopic":{"name":"events","keyClass":"java.lang.Long"},
        |"transform":[{"op":"snapshot_drift",
        |  "comparePath":"<dataDir>/events.parquet",
        |  "numericColumns":["value"]}],
        |"outputTopic":{"enabled":true,"name":"drift-out"}}""".stripMargin)
    val e = intercept[IllegalArgumentException] {
      graft.pipeline.Interpreter.build(spark, spec, noBase)
    }
    assert(e.getMessage.contains("[portable-drift]") &&
      e.getMessage.contains("<dataDir>"), e.getMessage)
    // the same spec against the parquet resolver builds and computes
    // (6 rows: the six numeric metrics; no categorical column declared)
    assert(graft.pipeline.Interpreter.build(spark, spec, parquet)
      .count() == 6)
  }

  test("YAML config binds to the same spec as JSON; a list document drives many topologies with unique ids") {
    val yaml =
      """id: yaml-chain
        |processingMode: JOIN_CHAIN
        |sourceTopic: {name: orders, keyClass: java.lang.Long}
        |joinOperations:
        |  - id: j1
        |    type: INNER_JOIN
        |    global: true
        |    enrichmentTopic: {name: customer, keyClass: java.lang.Long}
        |    sourceKeyExtraction: {source: VALUE, fieldName: o_custkey}
        |    enrichmentKeyExtraction: {source: VALUE, fieldName: c_custkey}
        |    outputFieldsMapping:
        |      - {sourceFieldName: o_orderkey, outputFieldName: order_id, source: LEFT}
        |      - {sourceFieldName: c_name, outputFieldName: customer, source: RIGHT}
        |someSpringManagedField: ignored
        |outputTopic: {enabled: true, name: yaml-out}
        |""".stripMargin
    val fromY = PipelineSpec.fromYaml(yaml)
    val fromJ = PipelineSpec.fromJson(
      """{"id":"yaml-chain","processingMode":"JOIN_CHAIN",
        |"sourceTopic":{"name":"orders","keyClass":"java.lang.Long"},
        |"joinOperations":[{"id":"j1","type":"INNER_JOIN","global":true,
        |  "enrichmentTopic":{"name":"customer","keyClass":"java.lang.Long"},
        |  "sourceKeyExtraction":{"source":"VALUE","fieldName":"o_custkey"},
        |  "enrichmentKeyExtraction":{"source":"VALUE","fieldName":"c_custkey"},
        |  "outputFieldsMapping":[
        |    {"sourceFieldName":"o_orderkey","outputFieldName":"order_id","source":"LEFT"},
        |    {"sourceFieldName":"c_name","outputFieldName":"customer","source":"RIGHT"}]}],
        |"outputTopic":{"enabled":true,"name":"yaml-out"}}""".stripMargin)
    assert(fromY == fromJ, "YAML and JSON must bind to identical specs")
    // and the YAML-bound spec actually builds and computes
    assert(graft.pipeline.Interpreter.build(spark, fromY,
      new ParquetSourceResolver(sf(), TestdataCatalog)).limit(1).count() == 1)

    val list = PipelineSpec.listFromYaml(
      """- {id: a, processingMode: SIMPLE_STREAM, sourceTopic: {name: events}}
        |- {id: b, processingMode: SIMPLE_STREAM, sourceTopic: {name: documents}}
        |""".stripMargin)
    assert(list.map(_.id) == Seq("a", "b"))
    val dup = intercept[IllegalArgumentException] {
      PipelineSpec.listFromYaml(
        """- {id: a, processingMode: SIMPLE_STREAM, sourceTopic: {name: events}}
          |- {id: a, processingMode: SIMPLE_STREAM, sourceTopic: {name: documents}}
          |""".stripMargin)
    }
    assert(dup.getMessage.contains("duplicate pipeline ids"), dup.getMessage)
  }

  test("whole-number YAML literals in weights, quantiles and drift bounds decode as Doubles") {
    // YAML `1` is an integer token; Jackson erases the element type of the
    // Map/Seq, so without contentAs these would arrive as boxed Integers and
    // throw at the first unbox (in validate or deep inside the build)
    val specs = PipelineSpec.listFromYaml(
      """- id: y-mix
        |  processingMode: SIMPLE_STREAM
        |  sourceTopic: {name: documents}
        |  transform:
        |    - {op: weighted_mix, column: lang, idColumn: doc_id,
        |       weights: {en: 1, de: 0}, defaultWeight: 0}
        |- id: y-quant
        |  processingMode: SIMPLE_STREAM
        |  sourceTopic: {name: events}
        |  transform:
        |    - {op: quantile_rollup, column: value, groupColumns: [event_type],
        |       quantiles: [0, 1]}
        |- id: y-drift
        |  processingMode: SIMPLE_STREAM
        |  sourceTopic: {name: events}
        |  transform:
        |    - {op: snapshot_drift, comparePath: "<dataDir>/events.parquet",
        |       numericColumns: [value], maxAbsDelta: {null_rate: 1}}
        |""".stripMargin)
    val resolver = new ParquetSourceResolver(sf(), TestdataCatalog)
    specs.foreach(s => assert(
      graft.pipeline.Interpreter.build(spark, s, resolver).collect().nonEmpty, s.id))
    val quant = graft.pipeline.Interpreter.build(spark, specs(1), resolver)
    assert(quant.columns.contains("p0") && quant.columns.contains("p100"),
      quant.columns.mkString(", "))
  }

  test("runAll: one YAML document drives many topologies over ONE shared source registry (KTableRegistry semantic)") {
    val resolver = new ParquetSourceResolver(sf(), TestdataCatalog)
    // the registry pin itself: repeated table() references share one frame
    val cust = graft.config.TopicConfig("customer", keyClass = "java.lang.Long")
    assert(resolver.table(spark, cust) eq resolver.table(spark, cust),
      "table() must memoize per topic (KTableRegistry.java:26-30 dedup)")

    val out = tempDir("graft_runall")
    val specs = PipelineSpec.listFromYaml(
      """- id: all-stream
        |  processingMode: SIMPLE_STREAM
        |  sourceTopic: {name: events}
        |  outputTopic: {enabled: true, name: all-events}
        |- id: all-chain
        |  processingMode: JOIN_CHAIN
        |  sourceTopic: {name: orders, keyClass: java.lang.Long}
        |  joinOperations:
        |    - id: j1
        |      type: INNER_JOIN
        |      global: true
        |      enrichmentTopic: {name: customer, keyClass: java.lang.Long}
        |      sourceKeyExtraction: {source: VALUE, fieldName: o_custkey}
        |      enrichmentKeyExtraction: {source: VALUE, fieldName: c_custkey}
        |      outputFieldsMapping:
        |        - {sourceFieldName: o_orderkey, outputFieldName: order_id, source: LEFT}
        |        - {sourceFieldName: c_name, outputFieldName: customer, source: RIGHT}
        |  outputTopic: {enabled: true, name: all-joined}
        |""".stripMargin)
    val paths = graft.sinks.PipelineRunner.runAll(spark, specs, resolver, out)
    assert(paths.keySet == Set("all-stream", "all-chain"))
    paths.values.flatten.foreach { p =>
      assert(spark.read.parquet(p).count() > 0, s"$p must hold rows")
    }
  }

  test("parse_json postures on a corrupt feed: PERMISSIVE nulls the malformed row, " +
      "FAILFAST raises (the reference's throw posture), DLQ drops it and dead-letters the payload") {
    // round-19 VERDICT #3 (the one missing §2A R16 half): the reference
    // THROWS on malformed input (JsonStringToObjectMapper.java:46-55) where
    // the lenient default silently nulls; DLQ is its named-but-
    // unimplemented dead-letter alternative (SerdeFactory.java:204-207).
    // A NULL input is not a reject under any posture (nothing to parse).
    val ss = spark
    import ss.implicits._
    val base = tempDir("graft_parsejson")
    Seq((1L, """{"k": 7}"""), (2L, """{"k": """),
        (3L, null.asInstanceOf[String]))
      .toDF("event_id", "props")
      .write.mode("overwrite").parquet(s"$base/raw.parquet")
    def run(posture: String): org.apache.spark.sql.DataFrame =
      graft.pipeline.Interpreter.values(graft.pipeline.Interpreter.build(
        spark, PipelineSpec.fromJson(
          s"""{"id":"pj","processingMode":"SIMPLE_STREAM",
             |"sourceTopic":{"name":"raw","keyClass":"java.lang.Long"},
             |"transform":[{"op":"parse_json","column":"props",
             |  "jsonSchema":"k INT","outputField":"v"$posture}],
             |"outputTopic":{"enabled":true,"name":"pj-out"}}""".stripMargin),
        new ParquetSourceResolver(base, TestdataCatalog)))
    def rows(df: org.apache.spark.sql.DataFrame): Set[(Long, Option[Any])] =
      df.select(col("event_id"), col("v.k")).collect()
        .map(r => (r.getLong(0), Option(r.get(1)))).toSet
    // lenient (default): the malformed row rides through with null fields
    assert(rows(run("")) ==
      Set((1L, Some(7)), (2L, None), (3L, None)))
    // strict: the query RAISES at execution on the malformed record
    val thrown = intercept[Throwable] {
      run(""","parseMode":"FAILFAST"""").collect()
    }
    def chain(t: Throwable): Seq[String] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(8)
        .map(x => Option(x.getMessage).getOrElse("")).toSeq
    assert(chain(thrown).exists(m => m.contains("Malformed") ||
      m.contains("FAILFAST")), chain(thrown).mkString(" | "))
    // DLQ: the malformed row is DROPPED from the output (the null input
    // is not — nothing to parse) and its raw payload is dead-lettered
    assert(rows(run(s""","parseMode":"DLQ","dlqPath":"$base/dlq"""")) ==
      Set((1L, Some(7)), (3L, None)))
    def dlqPayloads: Seq[String] = spark.read.parquet(s"$base/dlq")
      .select("payload").as[String].collect().toSeq
    assert(dlqPayloads == Seq("""{"k": """), dlqPayloads.toString)
    // REBUILD identity: the side-write runs at plan build, so a Doctor
    // preflight or retry builds the same spec again — the same batch's
    // rejects must land ONCE (content-keyed overwrite leaf), never append
    rows(run(s""","parseMode":"DLQ","dlqPath":"$base/dlq""""))
    assert(dlqPayloads == Seq("""{"k": """),
      s"a rebuild duplicated the dead-letter payloads: $dlqPayloads")
  }
}
