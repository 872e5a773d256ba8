package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.config.{PipelineSpec, TestdataCatalog}
import graft.operators.{Dedup, Multimodal, Scale, Similarity, TextAnalysis}
import graft.pipeline.Interpreter
import graft.sources.ParquetSourceResolver

/** The declared operator inventory (SURVEY.md §2A R1–R21 + §2B X1–X6) as
  * runnable queries over the driver testdata, each with a DuckDB oracle where
  * ANSI-SQL-expressible (the t2 correctness gate).
  *
  * Reference-surface queries (r*) run through the full config path —
  * JSON `PipelineSpec` → Jackson parse → Interpreter → DataFrame — so the
  * pipeline machinery itself is under test, not just hand-built plans.
  */
object Queries {

  /** Order-independent 2-decimal money sum: the per-row double product is
    * deterministic and the decimal(18,6) sum is exact, so the rounded
    * result cannot flip on a half-cent boundary when partitioning or plan
    * shape changes (q10 hit exactly that at sf0.01). Every oracle twin
    * carries the same CAST(... AS DECIMAL(18,6)) inside its sum.
    */
  private def moneySum(expr: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    round(sum(expr.cast("decimal(18,6)")), 2).cast("double")


  private def resolver(dir: String) = new ParquetSourceResolver(dir, TestdataCatalog)

  /** Run INDEPENDENT fixture writes concurrently (optimization guide §2.6:
    * actions are only sequential because driver code calls them
    * sequentially; overlapping lets the next job's tasks back-fill
    * executors freed by the current job's tail). Used only where the
    * writes touch disjoint output paths and share no lineage with each
    * other — the lifecycle chains' 2–3 corpus-split fixtures. Exceptions
    * propagate (first one wins) and the surviving siblings are INTERRUPTED
    * the moment the failure slot is set — their Spark actions abort at the
    * next interruptible wait instead of running a doomed query's remaining
    * fixture writes to completion. Threads are named (graft-fixture-N) so
    * a hung write is attributable in a thread dump.
    */
  private[graft] def concurrently(tasks: (() => Unit)*): Unit = {
    val failure = new java.util.concurrent.atomic.AtomicReference[Throwable]
    val threads = new java.util.concurrent.atomic.AtomicReference[Seq[Thread]](Nil)
    val started = tasks.zipWithIndex.map { case (t, i) =>
      val th = new Thread(() => {
        try t() catch {
          case e: Throwable =>
            if (failure.compareAndSet(null, e))
              threads.get().foreach { other =>
                if (other ne Thread.currentThread()) other.interrupt()
              }
        }
      }, s"graft-fixture-$i")
      th
    }
    threads.set(started)
    started.foreach(_.start())
    started.foreach(_.join())
    if (failure.get() != null) throw failure.get()
  }

  private def runSpec(spark: SparkSession, dir: String, json: String): DataFrame =
    Interpreter.values(Interpreter.build(spark, PipelineSpec.fromJson(json), resolver(dir)))

  /** Like runSpec but keeps the record key under the given column name
    * (aggregation outputs are keyed streams — R11 emits KStream[K, Long]).
    */
  private def runSpecKeyed(spark: SparkSession, dir: String, json: String,
      keyName: String): DataFrame =
    Interpreter.build(spark, PipelineSpec.fromJson(json), resolver(dir))
      .withColumnRenamed(Interpreter.KeyCol, keyName)

  // ---------------------------------------------------------------- R-surface

  /** R21/R13/R15 SIMPLE_STREAM: source → peek → sink identity copy. */
  def r01SimpleStream(spark: SparkSession, dir: String): DataFrame =
    runSpec(spark, dir,
      """{"id":"events-passthrough","processingMode":"SIMPLE_STREAM",
         |"sourceTopic":{"name":"events","keyClass":"java.lang.Long"},
         |"outputTopic":{"enabled":true,"name":"events-out"}}""".stripMargin)

  /** R2 KTable materialization: deterministic latest-per-key changelog view
    * of events keyed by user_id, ordered by (ts, event_id) — FIXTURES.md §C.
    */
  def r02TableLatest(spark: SparkSession, dir: String): DataFrame = {
    val ev = resolver(dir).stream(spark, graft.config.TopicConfig("events"))
    graft.sources.Tables.latestPerKey(ev, Seq("user_id"), Seq("ts", "event_id"))
      .select("user_id", "event_id", "ts", "event_type", "value")
  }

  /** R2 changelog HISTORY view (SCD2 validity intervals): every version of
    * every user's event state with effective_from/effective_to — the
    * temporal-table complement of [[r02TableLatest]] ("value at time T",
    * not just "value now"). Events are pre-reduced to one row per
    * (user, ts) so interval boundaries are deterministic.
    */
  def r02TableHistory(spark: SparkSession, dir: String): DataFrame = {
    val ev = resolver(dir).stream(spark, graft.config.TopicConfig("events"))
    val perTs = graft.sources.Tables.latestPerKey(ev, Seq("user_id", "ts"), Seq("event_id"))
    graft.sources.Tables.historyPerKey(perTs, Seq("user_id"), "ts")
      .select("user_id", "event_id", "ts", "event_type", "value",
        "effective_from", "effective_to")
  }

  /** R3 GlobalKTable: lineitem stream ⋈ broadcast part dim (global=true →
    * broadcast-hash join, the GlobalKTable analogue).
    */
  def r03GlobalJoin(spark: SparkSession, dir: String): DataFrame =
    runSpec(spark, dir,
      """{"id":"lineitem-part-global","processingMode":"JOIN_CHAIN",
         |"sourceTopic":{"name":"lineitem","keyClass":"java.lang.Long"},
         |"joinOperations":[{"id":"part-step","type":"INNER_JOIN",
         |  "initialSourceIsStream":true,"global":true,
         |  "primaryKeyExtraction":{"source":"VALUE","fieldName":"l_partkey"},
         |  "enrichmentTopic":{"name":"part","keyClass":"java.lang.Long"},
         |  "outputFieldsMapping":[
         |    {"source":"LEFT","sourceFieldName":"l_orderkey","outputFieldName":"orderkey"},
         |    {"source":"LEFT","sourceFieldName":"l_linenumber","outputFieldName":"linenumber"},
         |    {"source":"LEFT","sourceFieldName":"l_quantity","outputFieldName":"qty"},
         |    {"source":"RIGHT","sourceFieldName":"p_brand","outputFieldName":"brand"},
         |    {"source":"RIGHT","sourceFieldName":"p_retailprice","outputFieldName":"retail"}]}],
         |"outputTopic":{"enabled":true,"name":"lineitem-enriched"}}""".stripMargin)

  /** R4/R5/R9/R10 stream⋈table inner join with re-key (FIXTURES.md B2). */
  def r05JoinChainInner(spark: SparkSession, dir: String): DataFrame =
    runSpec(spark, dir,
      """{"id":"orders-customer-enrichment","processingMode":"JOIN_CHAIN",
         |"sourceTopic":{"name":"orders","keyClass":"java.lang.Long"},
         |"joinOperations":[{"id":"customer-step","type":"INNER_JOIN",
         |  "initialSourceIsStream":true,
         |  "primaryKeyExtraction":{"source":"VALUE","fieldName":"o_custkey"},
         |  "enrichmentTopic":{"name":"customer","keyClass":"java.lang.Long"},
         |  "outputFieldsMapping":[
         |    {"source":"LEFT","sourceFieldName":"o_orderkey","outputFieldName":"order_id"},
         |    {"source":"LEFT","sourceFieldName":"o_totalprice","outputFieldName":"total"},
         |    {"source":"RIGHT","sourceFieldName":"c_name","outputFieldName":"customer_name"},
         |    {"source":"RIGHT","sourceFieldName":"c_mktsegment","outputFieldName":"segment"}]}],
         |"outputTopic":{"enabled":true,"name":"enriched-orders"}}""".stripMargin)

  /** R6/R10 left join with warn-and-null on a missing declared field
    * (c_phone does not exist → typed null, DynamicPojoValueJoiner.java:58-63)
    * and a mid-chain re-key (FIXTURES.md B3).
    */
  def r06JoinChainLeftNull(spark: SparkSession, dir: String): DataFrame =
    runSpec(spark, dir,
      """{"id":"orders-customer-nation-left","processingMode":"JOIN_CHAIN",
         |"sourceTopic":{"name":"orders","keyClass":"java.lang.Long"},
         |"joinOperations":[
         | {"id":"customer-step","type":"LEFT_JOIN","initialSourceIsStream":true,
         |  "primaryKeyExtraction":{"source":"VALUE","fieldName":"o_custkey"},
         |  "enrichmentTopic":{"name":"customer","keyClass":"java.lang.Long"},
         |  "outputFieldsMapping":[
         |    {"source":"LEFT","sourceFieldName":"o_orderkey","outputFieldName":"order_id"},
         |    {"source":"LEFT","sourceFieldName":"o_totalprice","outputFieldName":"total"},
         |    {"source":"RIGHT","sourceFieldName":"c_name","outputFieldName":"customer_name"},
         |    {"source":"RIGHT","sourceFieldName":"c_phone","outputFieldName":"phone"},
         |    {"source":"RIGHT","sourceFieldName":"c_nationkey","outputFieldName":"nation_fk"}]},
         | {"id":"nation-step","type":"LEFT_JOIN","initialSourceIsStream":true,
         |  "primaryKeyExtraction":{"source":"VALUE","fieldName":"nation_fk"},
         |  "enrichmentTopic":{"name":"nation","keyClass":"java.lang.Integer"},
         |  "outputFieldsMapping":[
         |    {"source":"LEFT","sourceFieldName":"order_id","outputFieldName":"order_id"},
         |    {"source":"LEFT","sourceFieldName":"total","outputFieldName":"total"},
         |    {"source":"LEFT","sourceFieldName":"customer_name","outputFieldName":"customer_name"},
         |    {"source":"LEFT","sourceFieldName":"phone","outputFieldName":"phone"},
         |    {"source":"RIGHT","sourceFieldName":"n_name","outputFieldName":"nation"}]}],
         |"outputTopic":{"enabled":true,"name":"orders-left-enriched"}}""".stripMargin)

  /** R7/R8/R14 table-rooted chain: customer (table) ⋈ nation (table), keyed by
    * c_nationkey, final toStream (FIXTURES.md B4).
    */
  def r07TableTableJoin(spark: SparkSession, dir: String): DataFrame =
    runSpec(spark, dir,
      """{"id":"customer-nation-tt","processingMode":"JOIN_CHAIN",
         |"sourceTopic":{"name":"customer","keyClass":"java.lang.Long"},
         |"joinOperations":[{"id":"nation-step","type":"INNER_JOIN",
         |  "initialSourceIsStream":false,
         |  "primaryKeyExtraction":{"source":"VALUE","fieldName":"c_nationkey"},
         |  "enrichmentTopic":{"name":"nation","keyClass":"java.lang.Integer"},
         |  "outputFieldsMapping":[
         |    {"source":"LEFT","sourceFieldName":"c_custkey","outputFieldName":"custkey"},
         |    {"source":"LEFT","sourceFieldName":"c_name","outputFieldName":"name"},
         |    {"source":"LEFT","sourceFieldName":"c_acctbal","outputFieldName":"acctbal"},
         |    {"source":"RIGHT","sourceFieldName":"n_name","outputFieldName":"nation"}]}],
         |"outputTopic":{"enabled":true,"name":"customer-nation"}}""".stripMargin)

  /** R8 table–table LEFT join (DynamicTopologyBuilder.java:164-167): both
    * sides latest-per-key table views, left-preserving — customers whose
    * c_nationkey has no matching r_regionkey (most of them) keep a null
    * region. Also exercises keyClass typing (R19/serde fidelity): the
    * enrichment declares java.lang.Long while both key columns are INTEGER,
    * so the join compares under the declared serde type
    * (SerdeFactory.java:59-81).
    */
  def r08TableTableLeft(spark: SparkSession, dir: String): DataFrame =
    runSpec(spark, dir,
      """{"id":"customer-region-tt-left","processingMode":"JOIN_CHAIN",
         |"sourceTopic":{"name":"customer","keyClass":"java.lang.Long"},
         |"joinOperations":[{"id":"region-step","type":"LEFT_JOIN",
         |  "initialSourceIsStream":false,
         |  "primaryKeyExtraction":{"source":"VALUE","fieldName":"c_nationkey"},
         |  "enrichmentTopic":{"name":"region","keyClass":"java.lang.Long"},
         |  "outputFieldsMapping":[
         |    {"source":"LEFT","sourceFieldName":"c_custkey","outputFieldName":"custkey"},
         |    {"source":"LEFT","sourceFieldName":"c_name","outputFieldName":"name"},
         |    {"source":"RIGHT","sourceFieldName":"r_name","outputFieldName":"maybe_region"}]}],
         |"outputTopic":{"enabled":true,"name":"customer-region-left"}}""".stripMargin)

  /** R10 extended field mappings (the reference's own named future work,
    * AggregationDefinition.java:96): `defaultValue` fills left-join misses
    * with a typed constant instead of null, and `expression` computes an
    * output field from SQL over the joined row.
    */
  def r10FieldMapping(spark: SparkSession, dir: String): DataFrame =
    runSpec(spark, dir,
      """{"id":"customer-region-defaults","processingMode":"JOIN_CHAIN",
         |"sourceTopic":{"name":"customer","keyClass":"java.lang.Long"},
         |"joinOperations":[{"id":"region-step","type":"LEFT_JOIN",
         |  "initialSourceIsStream":false,
         |  "primaryKeyExtraction":{"source":"VALUE","fieldName":"c_nationkey"},
         |  "enrichmentTopic":{"name":"region","keyClass":"java.lang.Integer"},
         |  "outputFieldsMapping":[
         |    {"source":"LEFT","sourceFieldName":"c_custkey","outputFieldName":"custkey"},
         |    {"source":"RIGHT","sourceFieldName":"r_name","outputFieldName":"region",
         |     "defaultValue":"UNKNOWN"},
         |    {"outputFieldName":"double_bal","expression":"round(c_acctbal * 2.0, 2)"}]}],
         |"outputTopic":{"enabled":true,"name":"customer-region-defaults"}}""".stripMargin)

  /** R10 `transformationFunction` mapping (the last of the reference's three
    * named mapping extensions, AggregationDefinition.java:96): a whitelisted
    * named function applied to the mapped value — after defaultValue, so
    * defaults transform too.
    */
  def r10Transform(spark: SparkSession, dir: String): DataFrame =
    runSpec(spark, dir,
      """{"id":"customer-region-transforms","processingMode":"JOIN_CHAIN",
         |"sourceTopic":{"name":"customer","keyClass":"java.lang.Long"},
         |"joinOperations":[{"id":"region-step","type":"LEFT_JOIN",
         |  "initialSourceIsStream":false,
         |  "primaryKeyExtraction":{"source":"VALUE","fieldName":"c_nationkey"},
         |  "enrichmentTopic":{"name":"region","keyClass":"java.lang.Integer"},
         |  "outputFieldsMapping":[
         |    {"source":"LEFT","sourceFieldName":"c_custkey","outputFieldName":"custkey"},
         |    {"source":"LEFT","sourceFieldName":"c_name","outputFieldName":"name_upper",
         |     "transformationFunction":"upper"},
         |    {"source":"RIGHT","sourceFieldName":"r_name","outputFieldName":"region_lower",
         |     "defaultValue":"UNKNOWN","transformationFunction":"lower"},
         |    {"source":"LEFT","sourceFieldName":"c_mktsegment","outputFieldName":"segment_len",
         |     "transformationFunction":"length"}]}],
         |"outputTopic":{"enabled":true,"name":"customer-region-transforms"}}""".stripMargin)

  /** R9 three-step left-deep chain: orders → customer → nation → region. */
  def r09JoinChainMulti(spark: SparkSession, dir: String): DataFrame =
    runSpec(spark, dir,
      """{"id":"orders-3hop","processingMode":"JOIN_CHAIN",
         |"sourceTopic":{"name":"orders","keyClass":"java.lang.Long"},
         |"joinOperations":[
         | {"id":"s1","type":"INNER_JOIN","initialSourceIsStream":true,
         |  "primaryKeyExtraction":{"source":"VALUE","fieldName":"o_custkey"},
         |  "enrichmentTopic":{"name":"customer","keyClass":"java.lang.Long"},
         |  "outputFieldsMapping":[
         |    {"source":"LEFT","sourceFieldName":"o_orderkey","outputFieldName":"order_id"},
         |    {"source":"LEFT","sourceFieldName":"o_totalprice","outputFieldName":"total"},
         |    {"source":"RIGHT","sourceFieldName":"c_nationkey","outputFieldName":"nation_fk"}]},
         | {"id":"s2","type":"INNER_JOIN","initialSourceIsStream":true,
         |  "primaryKeyExtraction":{"source":"VALUE","fieldName":"nation_fk"},
         |  "enrichmentTopic":{"name":"nation","keyClass":"java.lang.Integer"},
         |  "outputFieldsMapping":[
         |    {"source":"LEFT","sourceFieldName":"order_id","outputFieldName":"order_id"},
         |    {"source":"LEFT","sourceFieldName":"total","outputFieldName":"total"},
         |    {"source":"RIGHT","sourceFieldName":"n_name","outputFieldName":"nation"},
         |    {"source":"RIGHT","sourceFieldName":"n_regionkey","outputFieldName":"region_fk"}]},
         | {"id":"s3","type":"INNER_JOIN","initialSourceIsStream":true,
         |  "primaryKeyExtraction":{"source":"VALUE","fieldName":"region_fk"},
         |  "enrichmentTopic":{"name":"region","keyClass":"java.lang.Integer"},
         |  "outputFieldsMapping":[
         |    {"source":"LEFT","sourceFieldName":"order_id","outputFieldName":"order_id"},
         |    {"source":"LEFT","sourceFieldName":"total","outputFieldName":"total"},
         |    {"source":"LEFT","sourceFieldName":"nation","outputFieldName":"nation"},
         |    {"source":"RIGHT","sourceFieldName":"r_name","outputFieldName":"region"}]}],
         |"outputTopic":{"enabled":true,"name":"orders-3hop-out"}}""".stripMargin)

  /** Full OUTER join — the type the reference's enum names as future work
    * ("add OUTER if needed", AggregationDefinition.java:42-46). Region keys
    * 0–4 against customer keys 1..N: region 0 survives left-only, custkeys
    * above 4 survive right-only, 1–4 match — all three outer-join row
    * classes are exercised.
    */
  def r08OuterJoin(spark: SparkSession, dir: String): DataFrame =
    runSpec(spark, dir,
      """{"id":"region-customer-outer","processingMode":"JOIN_CHAIN",
         |"sourceTopic":{"name":"region","keyClass":"java.lang.Integer"},
         |"joinOperations":[{"id":"outer-step","type":"OUTER_JOIN",
         |  "initialSourceIsStream":false,
         |  "primaryKeyExtraction":{"source":"VALUE","fieldName":"r_regionkey"},
         |  "enrichmentTopic":{"name":"customer","keyClass":"java.lang.Long"},
         |  "outputFieldsMapping":[
         |    {"source":"LEFT","sourceFieldName":"r_name","outputFieldName":"region_name"},
         |    {"source":"RIGHT","sourceFieldName":"c_custkey","outputFieldName":"custkey"},
         |    {"source":"RIGHT","sourceFieldName":"c_name","outputFieldName":"customer_name"}]}],
         |"outputTopic":{"enabled":true,"name":"region-customer-outer"}}""".stripMargin)

  /** Spec-level pre-sink filter on a SIMPLE_STREAM (the reference has no
    * filter/predicate operator anywhere — SURVEY §2A declared-absent).
    */
  def r21Filter(spark: SparkSession, dir: String): DataFrame =
    runSpec(spark, dir,
      """{"id":"events-filtered","processingMode":"SIMPLE_STREAM",
         |"sourceTopic":{"name":"events","keyClass":"java.lang.Long"},
         |"filter":"value > 100 AND event_type = 'purchase'",
         |"outputTopic":{"enabled":true,"name":"events-filtered"}}""".stripMargin)

  /** GLOBAL batch percentile drift (r53 — the dims-empty quantilePath
    * form, closing the last global/grouped asymmetry): corpus-wide
    * p50/p90 drift between the stored crawl-N sketch (one global row) and
    * the incoming snapshot — no dims declared, category NULL, one row per
    * quantile. Estimates → accuracy-contract row
    * (Accuracy.checkQuantileDriftGlobal: both sides within the X26
    * ±1%-of-rank bound, at every SF).
    */
  def r53SpecDriftQuantileGlobal(spark: SparkSession, dir: String): DataFrame = {
    val base = artifactBase(dir)
    graft.operators.Profile.quantileSketches(
        spark.read.parquet(s"$dir/events.parquet").filter(col("user_id") < 8),
        Nil, "value")
      .write.mode("overwrite").parquet(s"$base/event_qsk_gbatch.parquet")
    runSpec(spark, dir,
      s"""{"id":"drift-quantile-global","processingMode":"SIMPLE_STREAM",
         |"sourceTopic":{"name":"events","keyClass":"java.lang.Long"},
         |"transform":[{"op":"snapshot_drift",
         |  "quantilePath":"$base/event_qsk_gbatch.parquet",
         |  "column":"value","quantiles":[0.5, 0.9]}],
         |"outputTopic":{"enabled":true,"name":"drift-quantile-global-out"}}""".stripMargin)
      .select("col_name", "metric", "category",
        "old_value", "new_value", "delta")
  }

  /** The STAGE-ORDERED filter op (r53 — vs the spec-level `filter` field,
    * which applies after every transform): the same predicate as
    * r21_filter, declared as a transform stage — proving the two forms
    * agree where their placement cannot differ (a single filter). Its
    * real use is ordering: an ingest-batch cut ahead of a maintenance
    * verb, a serving view ahead of a knn (examples/daily_maintenance.yml).
    */
  def r53SpecFilterStage(spark: SparkSession, dir: String): DataFrame =
    runSpec(spark, dir,
      """{"id":"filter-stage","processingMode":"SIMPLE_STREAM",
         |"sourceTopic":{"name":"events","keyClass":"java.lang.Long"},
         |"transform":[{"op":"filter",
         |  "expression":"value > 100 AND event_type = 'purchase'"}],
         |"outputTopic":{"enabled":true,"name":"filter-stage-out"}}""".stripMargin)

  /** Spec-level TRANSFORM stage (round-7): the x14 pipeline's quality-filter
    * stage plus exact dedup, driven entirely from JSON config — the
    * reference's config-first essence (AggregationDefinition.java:7-130)
    * extended to the corpus X-operators. Thresholds are x14's exactly, so
    * this pins config path ≡ code path.
    */
  def r22SpecTransforms(spark: SparkSession, dir: String): DataFrame =
    runSpec(spark, dir,
      """{"id":"docs-quality-dedup","processingMode":"SIMPLE_STREAM",
         |"sourceTopic":{"name":"documents","keyClass":"java.lang.Long"},
         |"transform":[
         |  {"op":"quality_filter","column":"text","minTokens":12,
         |   "minAvgTokenLen":2.0,"maxAvgTokenLen":12.0},
         |  {"op":"dedup_exact","dupColumns":["text"],"tieBreak":"doc_id"}],
         |"outputTopic":{"enabled":true,"name":"docs-clean"}}""".stripMargin)
      .select("doc_id", "lang", "source")

  /** The FULL x14 training pipeline from pure JSON config: quality filter →
    * near-dup collapse (exact-Jaccard prefix-filtered pairs + CC
    * representatives) → overlapping chunking — the reference's config-first
    * essence carried all the way to the corpus pipeline. Same thresholds as
    * [[x14TrainingPipeline]], same DuckDB oracle (aliased), so config path ≡
    * code path is pinned at the hash level.
    */
  def r22SpecTraining(spark: SparkSession, dir: String): DataFrame =
    runSpec(spark, dir,
      """{"id":"training-from-config","processingMode":"SIMPLE_STREAM",
         |"sourceTopic":{"name":"documents","keyClass":"java.lang.Long"},
         |"transform":[
         |  {"op":"quality_filter","column":"text","minTokens":12,
         |   "minAvgTokenLen":2.0,"maxAvgTokenLen":12.0},
         |  {"op":"dedup_near","column":"text","idColumn":"doc_id",
         |   "shingleSize":3,"threshold":0.8},
         |  {"op":"chunk","column":"text","idColumn":"doc_id",
         |   "size":40,"stride":30}],
         |"outputTopic":{"enabled":true,"name":"training-chunks"}}""".stripMargin)

  /** Spec-level PII redaction (x22's scrub through JSON config): the contact
    * string is synthesized by the op's `expression` (the fixture corpus has
    * no real PII), then scrubbed by the chained-regexp redactor — identical
    * construction + replacement chain in the DuckDB oracle.
    */
  def r22SpecRedact(spark: SparkSession, dir: String): DataFrame =
    runSpec(spark, dir,
      """{"id":"customer-redact","processingMode":"SIMPLE_STREAM",
         |"sourceTopic":{"name":"customer","keyClass":"java.lang.Long"},
         |"transform":[{"op":"redact_pii","outputField":"redacted",
         |  "expression":"concat('Contact ', c_name, ' <', lower(replace(c_name, '#', '.')), '@example.com> or +1-555-', lpad(cast(c_custkey % 10000 as string), 4, '0'), ' from 192.168.', cast(c_custkey % 256 as string), '.', cast(c_nationkey as string), ' segment ', c_mktsegment)"}],
         |"outputTopic":{"enabled":true,"name":"customer-redacted"}}""".stripMargin)
      .select(col("c_custkey").as("custkey"), col("redacted"))

  /** Spec-level contamination screen (x19's zero-shuffle projection form
    * through JSON config): the benchmark is declared as a parquet path +
    * filter, compiled to broadcast shingle hashes at build time; the spec's
    * `filter` then carves the corpus side — per-row scores are unchanged by
    * scoring the bench docs too, and the post-transform filter keeps the
    * op's row-replacing output aligned with the x19 oracle. Hash-matches
    * the x19_contamination oracle (config path ≡ code path).
    */
  def r23SpecContamination(spark: SparkSession, dir: String): DataFrame =
    runSpec(spark, dir,
      s"""{"id":"contamination-from-config","processingMode":"SIMPLE_STREAM",
         |"sourceTopic":{"name":"documents","keyClass":"java.lang.Long"},
         |"transform":[{"op":"contamination_screen","column":"text",
         |  "idColumn":"doc_id","shingleSize":3,
         |  "benchPath":"$dir/documents.parquet","benchFilter":"doc_id < 20"}],
         |"filter":"doc_id >= 20",
         |"outputTopic":{"enabled":true,"name":"docs-contamination"}}""".stripMargin)

  /** Spec-level language ID (x5's marker-token heuristic through JSON
    * config) — hash-matches the x5_lang_id oracle.
    */
  def r24SpecLangId(spark: SparkSession, dir: String): DataFrame =
    runSpec(spark, dir,
      """{"id":"langid-from-config","processingMode":"SIMPLE_STREAM",
         |"sourceTopic":{"name":"documents","keyClass":"java.lang.Long"},
         |"transform":[{"op":"lang_id","column":"text","outputField":"lang_pred"}],
         |"outputTopic":{"enabled":true,"name":"docs-langid"}}""".stripMargin)
      .select("doc_id", "lang_pred")

  /** Spec-level text statistics (x5's quality metrics through JSON config)
    * — hash-matches the x5_text_stats oracle.
    */
  def r24SpecTextStats(spark: SparkSession, dir: String): DataFrame =
    runSpec(spark, dir,
      """{"id":"textstats-from-config","processingMode":"SIMPLE_STREAM",
         |"sourceTopic":{"name":"documents","keyClass":"java.lang.Long"},
         |"transform":[{"op":"text_stats","column":"text"}],
         |"outputTopic":{"enabled":true,"name":"docs-textstats"}}""".stripMargin)
      .select("doc_id", "n_chars", "n_tokens", "avg_token_len",
        "punct_ratio", "stopword_ratio", "n_lex_tokens")

  /** Spec-level stratified sampling (x9's deterministic class balancing
    * through JSON config) — hash-matches the x9_stratified_sample oracle.
    */
  def r25SpecSample(spark: SparkSession, dir: String): DataFrame =
    runSpec(spark, dir,
      """{"id":"sample-from-config","processingMode":"SIMPLE_STREAM",
         |"sourceTopic":{"name":"documents","keyClass":"java.lang.Long"},
         |"transform":[{"op":"stratified_sample","stratumColumns":["lang"],
         |  "idColumn":"doc_id","interval":5}],
         |"outputTopic":{"enabled":true,"name":"docs-sampled"}}""".stripMargin)
      .select("doc_id", "lang", "n_chars")

  /** Spec-level weighted source mix (x9's training-mixture reweighting
    * through JSON config) — hash-matches the x9_weighted_mix oracle.
    */
  def r25SpecMix(spark: SparkSession, dir: String): DataFrame =
    runSpec(spark, dir,
      """{"id":"mix-from-config","processingMode":"SIMPLE_STREAM",
         |"sourceTopic":{"name":"documents","keyClass":"java.lang.Long"},
         |"transform":[{"op":"weighted_mix","column":"source","idColumn":"doc_id",
         |  "weights":{"src0":1.0,"src1":0.5,"src2":0.25},"defaultWeight":0.1}],
         |"outputTopic":{"enabled":true,"name":"docs-mixed"}}""".stripMargin)
      .select("doc_id", "source", "lang", "n_chars")

  /** Declarative temporal enrichment (JoinOp.asOf — the versioned-KTable
    * stream join from pure JSON): every event picks up the profile version
    * valid AT its event time, from a filtered re-keyed changelog. Same
    * semantics, merge and DuckDB ASOF oracle as the code-path
    * [[x7AsofJoin]].
    */
  def r26SpecAsOf(spark: SparkSession, dir: String): DataFrame =
    runSpec(spark, dir,
      """{"id":"profile-asof","processingMode":"JOIN_CHAIN",
         |"sourceTopic":{"name":"events","keyClass":"java.lang.Long"},
         |"joinOperations":[{"id":"profile-step","type":"LEFT_JOIN",
         |  "initialSourceIsStream":true,
         |  "primaryKeyExtraction":{"source":"VALUE","fieldName":"user_id"},
         |  "enrichmentTopic":{"name":"events","keyClass":"java.lang.Long"},
         |  "asOf":{"leftTimeColumn":"ts","rightTimeColumn":"ts",
         |    "enrichmentKeyField":"user_id","enrichmentFilter":"event_id % 10 = 0"},
         |  "outputFieldsMapping":[
         |    {"source":"LEFT","sourceFieldName":"event_id","outputFieldName":"event_id"},
         |    {"source":"LEFT","sourceFieldName":"user_id","outputFieldName":"user_id"},
         |    {"source":"LEFT","sourceFieldName":"ts","outputFieldName":"ts"},
         |    {"source":"RIGHT","sourceFieldName":"value","outputFieldName":"profile_value"}]}],
         |"outputTopic":{"enabled":true,"name":"profile-enriched"}}""".stripMargin)

  /** Spec-level grouped top-k (x12's partial-aggregating heap through JSON
    * config) — hash-matches the x12_group_topk oracle.
    */
  def r27SpecTopk(spark: SparkSession, dir: String): DataFrame =
    runSpec(spark, dir,
      """{"id":"topk-from-config","processingMode":"SIMPLE_STREAM",
         |"sourceTopic":{"name":"documents","keyClass":"java.lang.Long"},
         |"transform":[{"op":"top_k","k":3,"byColumn":"n_chars",
         |  "idColumn":"doc_id","groupColumns":["lang"]}],
         |"outputTopic":{"enabled":true,"name":"docs-topk"}}""".stripMargin)
      .select("lang", "rank", "doc_id", "n_chars")

  /** Spec-level exact heavy hitters (x21's Misra–Gries + recount through
    * JSON config) — hash-matches the x21_heavy_hitters oracle.
    */
  def r27SpecHeavy(spark: SparkSession, dir: String): DataFrame =
    runSpec(spark, dir,
      """{"id":"heavy-from-config","processingMode":"SIMPLE_STREAM",
         |"sourceTopic":{"name":"documents","keyClass":"java.lang.Long"},
         |"transform":[{"op":"heavy_hitters","column":"text","tokenize":true,
         |  "minFraction":0.005}],
         |"outputTopic":{"enabled":true,"name":"docs-heavy"}}""".stripMargin)
      .select("item", "cnt")

  /** Spec-level exact similarity search (x3's brute-force cosine top-k
    * through JSON config; frame = corpus, queryPath = the query artifact) —
    * hash-matches the x3_knn_exact oracle.
    */
  def r28SpecKnn(spark: SparkSession, dir: String): DataFrame =
    runSpec(spark, dir,
      s"""{"id":"knn-from-config","processingMode":"SIMPLE_STREAM",
         |"sourceTopic":{"name":"embeddings","keyClass":"java.lang.Long"},
         |"transform":[{"op":"knn","column":"embedding","idColumn":"vec_id",
         |  "k":10,"queryPath":"$dir/embeddings.parquet",
         |  "queryFilter":"vec_id < 5"}],
         |"outputTopic":{"enabled":true,"name":"knn-out"}}""".stripMargin)
      .select("query_id", "rank", "neighbor_id", "cos")

  /** Spec-level quantized similarity search (int8 sketch + exact re-rank
    * through JSON config) — STILL hash-matches the exact oracle, because
    * the sketch only proposes candidates and the true cosine picks the
    * final k (same contract as x3_knn_quantized).
    */
  def r28SpecKnnQuantized(spark: SparkSession, dir: String): DataFrame =
    runSpec(spark, dir,
      s"""{"id":"knn-quantized-from-config","processingMode":"SIMPLE_STREAM",
         |"sourceTopic":{"name":"embeddings","keyClass":"java.lang.Long"},
         |"transform":[{"op":"knn","method":"quantized","column":"embedding",
         |  "idColumn":"vec_id","k":10,"refine":4,
         |  "queryPath":"$dir/embeddings.parquet",
         |  "queryFilter":"vec_id < 5"}],
         |"outputTopic":{"enabled":true,"name":"knn-quantized-out"}}""".stripMargin)
      .select("query_id", "rank", "neighbor_id", "cos")

  /** Spec-level resample (x20's regular-grid gap fill through JSON config;
    * simultaneous observations collapse by max, making the declared op
    * deterministic) — hash-matches the x20_resample oracle.
    */
  def r29SpecResample(spark: SparkSession, dir: String): DataFrame =
    runSpec(spark, dir,
      """{"id":"resample-from-config","processingMode":"SIMPLE_STREAM",
         |"sourceTopic":{"name":"events","keyClass":"java.lang.Long"},
         |"transform":[{"op":"resample","idColumn":"user_id","timeColumn":"ts",
         |  "valueColumns":["value"],"every":"30 minutes"}],
         |"outputTopic":{"enabled":true,"name":"events-resampled"}}""".stripMargin)
      .select("user_id", "grid_ts", "value")

  /** Spec-level column profile (x16's one-pass null/distinct audit through
    * JSON config) — hash-matches the x16_profile oracle.
    */
  def r29SpecProfile(spark: SparkSession, dir: String): DataFrame =
    runSpec(spark, dir,
      """{"id":"profile-from-config","processingMode":"SIMPLE_STREAM",
         |"sourceTopic":{"name":"documents","keyClass":"java.lang.Long"},
         |"transform":[{"op":"profile",
         |  "columns":["doc_id","text","lang","source","n_chars"]}],
         |"outputTopic":{"enabled":true,"name":"docs-profile"}}""".stripMargin)
      .select("col_name", "n_non_null", "n_distinct")

  /** Spec-level snapshot drift (X29 through JSON config): the source topic
    * is the NEW snapshot, `comparePath` + `compareFilter` select the OLD —
    * here the events table vs its own first half (the deterministic
    * fixture stand-in for "this crawl vs the last one"). `<dataDir>`
    * resolves against the bound data directory, so the spec is
    * environment-portable. Exact DuckDB oracle.
    */
  def r35SpecDrift(spark: SparkSession, dir: String): DataFrame =
    runSpec(spark, dir,
      """{"id":"drift-from-config","processingMode":"SIMPLE_STREAM",
         |"sourceTopic":{"name":"events","keyClass":"java.lang.Long"},
         |"transform":[{"op":"snapshot_drift",
         |  "comparePath":"<dataDir>/events.parquet",
         |  "compareFilter":"CAST(ts AS TIMESTAMP) < TIMESTAMP '2024-01-16'",
         |  "numericColumns":["value"],"categoricalColumns":["event_type"]}],
         |"outputTopic":{"enabled":true,"name":"events-drift"}}""".stripMargin)
      .select("col_name", "metric", "old_value", "new_value", "delta")

  /** Spec-level embedding drift + gate: `snapshot_drift` with
    * `embeddingColumns` through JSON config — old = the compareFilter'd
    * 8-cluster subset, new = the whole topic (two clusters APPEAR; the
    * centroid metrics are direction-symmetric, so this mirrors
    * [[x29EmbedDrift]]'s vanished-cluster fixture from the other side),
    * with bounds that hold so the gate's `pass` column rides along.
    */
  def r38SpecEmbedDrift(spark: SparkSession, dir: String): DataFrame =
    runSpec(spark, dir,
      """{"id":"embed-drift-from-config","processingMode":"SIMPLE_STREAM",
         |"sourceTopic":{"name":"embeddings","keyClass":"java.lang.Long"},
         |"transform":[{"op":"snapshot_drift",
         |  "comparePath":"<dataDir>/embeddings.parquet",
         |  "compareFilter":"label < 8",
         |  "embeddingColumns":["embedding"],
         |  "maxAbsDelta":{"centroid_shift":0.3,"mean_norm":0.001},
         |  "maxRelDelta":{"row_count":0.5}}],
         |"outputTopic":{"enabled":true,"name":"embed-drift"}}""".stripMargin)
      .select("col_name", "metric", "old_value", "new_value", "delta", "pass")

  /** Spec-level per-group embedding drift: `embeddingGroupBy` strata the
    * vector leg by cluster label through JSON config (old = the
    * compareFilter'd 8-cluster subset, new = all 10 — the two NEWBORN
    * clusters surface on their own `category` rows with shift 2.0). No
    * bounds: the per-group report is the diagnosis surface; a gate on it
    * would correctly refuse the newborn clusters.
    */
  def r39SpecEmbedDriftGroup(spark: SparkSession, dir: String): DataFrame =
    runSpec(spark, dir,
      """{"id":"embed-drift-by-group","processingMode":"SIMPLE_STREAM",
         |"sourceTopic":{"name":"embeddings","keyClass":"java.lang.Long"},
         |"transform":[{"op":"snapshot_drift",
         |  "comparePath":"<dataDir>/embeddings.parquet",
         |  "compareFilter":"label < 8",
         |  "embeddingColumns":["embedding"],
         |  "embeddingGroupBy":"label"}],
         |"outputTopic":{"enabled":true,"name":"embed-drift-by-group"}}""".stripMargin)
      .select("col_name", "metric", "category",
        "old_value", "new_value", "delta")

  /** Stable scratch base for stored-artifact fixtures, keyed by the bound
    * data directory so concurrent SF runs never cross-contaminate.
    * Artifacts are REBUILT on every call (≤ dim rows — negligible next to
    * the corpus scan that produces them) so stale content from an older
    * engine version can never poison a run.
    */
  private[graft] def artifactBase(dir: String): String = {
    val safe = dir.replaceAll("[^A-Za-z0-9._-]", "_")
    val p = java.nio.file.Paths.get(
      System.getProperty("java.io.tmpdir"), "graft_artifacts", safe)
    java.nio.file.Files.createDirectories(p)
    p.toString
  }

  /** Gate-granularity rounding for oracle-compared artifact sums: 6
    * decimals with the negative-zero normalization (the same discipline as
    * the embedding-drift deltas — below 1e-6 a per-dimension sum differs
    * only by summation order, and DuckDB's round() emits -0.0 for tiny
    * negatives, which hashes differently from 0.0).
    */
  private def zr6(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    when(round(c, 6) === 0, lit(0.0)).otherwise(round(c, 6))

  /** Spec-level STORED-ARTIFACT drift (the X29 no-rescan form through JSON
    * config): crawl time writes the old snapshot's ≤ dim-row
    * embedding_summary artifact; the drift declaration then carries
    * `summaryPath` INSTEAD of comparePath — the old snapshot is never
    * rescanned (the whole point at 100 TB), and the report hash-matches
    * the same oracle as the rescanning r38 twin because the summary is
    * exactly sufficient for every embedding-drift metric.
    */
  def r40SpecDriftSummary(spark: SparkSession, dir: String): DataFrame = {
    val art = s"${artifactBase(dir)}/embed_summary_old.parquet"
    graft.operators.Drift.embeddingSummary(
        spark.read.parquet(s"$dir/embeddings.parquet").filter(col("label") < 8),
        "embedding")
      .write.mode("overwrite").parquet(art)
    runSpec(spark, dir,
      s"""{"id":"drift-from-stored-summary","processingMode":"SIMPLE_STREAM",
         |"sourceTopic":{"name":"embeddings","keyClass":"java.lang.Long"},
         |"transform":[{"op":"snapshot_drift",
         |  "summaryPath":"$art",
         |  "embeddingColumns":["embedding"]}],
         |"outputTopic":{"enabled":true,"name":"drift-from-artifact"}}""".stripMargin)
      .select("col_name", "metric", "old_value", "new_value", "delta")
  }

  /** Spec-level embedding_summary (the crawl-time artifact step through
    * JSON config): REPLACES the row set with the per-dimension summary —
    * sink it to parquet and every later drift question about this snapshot
    * is a dim-row join ([[r40SpecDriftSummary]]). Oracle-exact on the
    * 6-dp-rounded sums (below that is summation-order noise, the
    * embedding-drift delta discipline).
    */
  def r41SpecEmbedSummary(spark: SparkSession, dir: String): DataFrame =
    runSpec(spark, dir,
      """{"id":"summary-from-config","processingMode":"SIMPLE_STREAM",
         |"sourceTopic":{"name":"embeddings","keyClass":"java.lang.Long"},
         |"transform":[{"op":"embedding_summary","column":"embedding"}],
         |"outputTopic":{"enabled":true,"name":"embed-summary"}}""".stripMargin)
      .select(col("i").cast("long").as("i"), zr6(col("dim_sum")).as("dim_sum"),
        zr6(col("norm_sum")).as("norm_sum"), col("n"))

  /** Spec-level merge_embedding_summaries (the artifact MAINTENANCE verb):
    * two shard summaries written at crawl time (the daily-artifact
    * discipline), stored as one dataset, declaratively folded by exact
    * summation — the merged artifact equals the one-shot global summary,
    * which is what the oracle computes from raw data. The source topic is
    * the stored artifact itself (unknown to the schema catalog — artifact
    * tables flow through the config path like any topic).
    */
  def r42SpecMergeSummaries(spark: SparkSession, dir: String): DataFrame = {
    val base = artifactBase(dir)
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
    graft.operators.Drift.embeddingSummary(
        e.filter(col("vec_id") % 2 === 0), "embedding")
      .unionByName(graft.operators.Drift.embeddingSummary(
        e.filter(col("vec_id") % 2 =!= 0), "embedding"))
      .write.mode("overwrite").parquet(s"$base/embed_summary_shards.parquet")
    val spec = PipelineSpec.fromJson(
      """{"id":"merge-summaries","processingMode":"SIMPLE_STREAM",
         |"sourceTopic":{"name":"embed_summary_shards","keyClass":"java.lang.Long"},
         |"transform":[{"op":"merge_embedding_summaries"}],
         |"outputTopic":{"enabled":true,"name":"merged-summary"}}""".stripMargin)
    Interpreter.values(Interpreter.build(spark, spec,
        new ParquetSourceResolver(base, TestdataCatalog)))
      .select(col("i").cast("long").as("i"), zr6(col("dim_sum")).as("dim_sum"),
        zr6(col("norm_sum")).as("norm_sum"), col("n"))
  }

  /** Declarative sketch-table drift — the `sketchPath` route through pure
    * config, Verify-visible: crawl N's stored X25 sketch table (here the
    * low-user-id population, the deterministic stand-in for an older
    * crawl) answers per-cell n_distinct drift against the incoming
    * snapshot without rescanning old raw data. The values are HLL
    * estimates, so the row is an ACCURACY CONTRACT (per-cell ±5% vs exact
    * on BOTH sides — Accuracy.checkSketchDrift), not a hash-match.
    */
  def r43SpecDriftSketch(spark: SparkSession, dir: String): DataFrame = {
    val base = artifactBase(dir)
    graft.operators.Profile.distinctSketches(
        spark.read.parquet(s"$dir/events.parquet").filter(col("user_id") < 8),
        Seq("event_type"), "user_id")
      .write.mode("overwrite").parquet(s"$base/event_sketches.parquet")
    runSpec(spark, dir,
      s"""{"id":"drift-from-sketches","processingMode":"SIMPLE_STREAM",
         |"sourceTopic":{"name":"events","keyClass":"java.lang.Long"},
         |"transform":[{"op":"snapshot_drift",
         |  "sketchPath":"$base/event_sketches.parquet",
         |  "groupColumns":["event_type"],"column":"user_id"}],
         |"outputTopic":{"enabled":true,"name":"drift-from-sketches-out"}}""".stripMargin)
      .select("col_name", "metric", "category",
        "old_value", "new_value", "delta")
  }

  /** Declarative quantile-table drift — the `quantilePath` route through
    * pure config, Verify-visible: crawl N's stored X26 quantile-sketch
    * table (the low-user-id population, the deterministic stand-in for an
    * older crawl) answers per-cell p50/p90 drift against the incoming
    * snapshot without rescanning old raw data — percentile movement is
    * the first drift signal, and unlike the histogram leg this needs no
    * declared bins. The values are centroid-sketch estimates, so the row
    * is an ACCURACY CONTRACT (each side's estimate within rank slack vs
    * exact order statistics — Accuracy.checkQuantileDrift), not a
    * hash-match.
    */
  def r45SpecDriftQuantile(spark: SparkSession, dir: String): DataFrame = {
    val base = artifactBase(dir)
    graft.operators.Profile.quantileSketches(
        spark.read.parquet(s"$dir/events.parquet").filter(col("user_id") < 8),
        Seq("event_type"), "value")
      .write.mode("overwrite").parquet(s"$base/event_qsketches.parquet")
    runSpec(spark, dir,
      s"""{"id":"drift-from-quantiles","processingMode":"SIMPLE_STREAM",
         |"sourceTopic":{"name":"events","keyClass":"java.lang.Long"},
         |"transform":[{"op":"snapshot_drift",
         |  "quantilePath":"$base/event_qsketches.parquet",
         |  "groupColumns":["event_type"],"column":"value",
         |  "quantiles":[0.5, 0.9]}],
         |"outputTopic":{"enabled":true,"name":"drift-from-quantiles-out"}}""".stripMargin)
      .select("col_name", "metric", "category",
        "old_value", "new_value", "delta")
  }

  /** Declarative INCREMENTAL near-dup screen (X2's stored-artifact route
    * through pure config): publish time writes the corpus's shingle_index
    * artifact (here the low-doc-id 4/5, the deterministic stand-in for
    * the existing history); ingest time screens the new batch against it
    * via dedup_near `historyPath` — the history is never re-tokenized,
    * and the result hash-matches the x2_incremental_novel oracle because
    * the stored shingle sets are exactly what jaccardPairsBetween builds
    * internally. The new batch rides in as its own stored table (the r42
    * artifact-as-source-topic pattern — an ingest batch IS its own table).
    */
  def r46SpecIncrementalScreen(spark: SparkSession, dir: String): DataFrame = {
    val base = artifactBase(dir)
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val cut = (docs.agg(max(col("doc_id"))).head.getLong(0) + 1L) * 4L / 5L
    concurrently(
      () => graft.operators.Dedup.shingleIndex(
          docs.filter(col("doc_id") < cut), "doc_id", "text", 3)
        .write.mode("overwrite").parquet(s"$base/doc_shingles.parquet"),
      () => docs.filter(col("doc_id") >= cut)
        .write.mode("overwrite").parquet(s"$base/docs_new.parquet"))
    val spec = PipelineSpec.fromJson(
      s"""{"id":"incremental-screen","processingMode":"SIMPLE_STREAM",
         |"sourceTopic":{"name":"docs_new","keyClass":"java.lang.Long"},
         |"transform":[{"op":"dedup_near","method":"jaccard",
         |  "column":"text","idColumn":"doc_id",
         |  "shingleSize":3,"threshold":0.8,
         |  "historyPath":"$base/doc_shingles.parquet"}],
         |"outputTopic":{"enabled":true,"name":"novel-docs"}}""".stripMargin)
    Interpreter.values(Interpreter.build(spark, spec,
        new ParquetSourceResolver(base, TestdataCatalog)))
      .select("doc_id", "lang", "source", "n_chars")
  }

  /** The shingle history's full maintenance lifecycle (r50,
    * knn compaction's text analogue): publish the first 3/5 as the
    * artifact, APPEND the next fifth declaratively, FOLD the accumulated
    * file sets with shingle_index_compact (a pure layout rewrite), then
    * screen the last fifth against the folded history — the verdicts
    * hash-match the same from-raw oracle as r46, proving the append and
    * the fold changed nothing the screen can see.
    */
  def r50SpecShingleCompact(spark: SparkSession, dir: String): DataFrame = {
    val base = artifactBase(dir)
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val hi = docs.agg(max(col("doc_id"))).head.getLong(0) + 1L
    val (c1, c2) = (hi * 3L / 5L, hi * 4L / 5L)
    concurrently(
      () => graft.operators.Dedup.shingleIndex(
          docs.filter(col("doc_id") < c1), "doc_id", "text", 3)
        .write.mode("overwrite").parquet(s"$base/doc_shingles_cmp.parquet"),
      () => docs.filter(col("doc_id") >= c1 && col("doc_id") < c2)
        .write.mode("overwrite").parquet(s"$base/docs_mid.parquet"),
      () => docs.filter(col("doc_id") >= c2)
        .write.mode("overwrite").parquet(s"$base/docs_new2.parquet"))
    def fromBase(json: String): DataFrame =
      Interpreter.values(Interpreter.build(spark, PipelineSpec.fromJson(json),
        new ParquetSourceResolver(base, TestdataCatalog)))
    fromBase(
      s"""{"id":"append-publish-2","processingMode":"SIMPLE_STREAM",
         |"sourceTopic":{"name":"docs_mid","keyClass":"java.lang.Long"},
         |"transform":[{"op":"shingle_index_append","column":"text",
         |  "idColumn":"doc_id","shingleSize":3,
         |  "historyPath":"$base/doc_shingles_cmp.parquet"}],
         |"outputTopic":{"enabled":true,"name":"append-report-2"}}""".stripMargin)
    fromBase(
      s"""{"id":"compact-history","processingMode":"SIMPLE_STREAM",
         |"sourceTopic":{"name":"docs_mid","keyClass":"java.lang.Long"},
         |"transform":[{"op":"shingle_index_compact",
         |  "historyPath":"$base/doc_shingles_cmp.parquet"}],
         |"outputTopic":{"enabled":true,"name":"compact-report"}}""".stripMargin)
    val spec = PipelineSpec.fromJson(
      s"""{"id":"screen-after-compact","processingMode":"SIMPLE_STREAM",
         |"sourceTopic":{"name":"docs_new2","keyClass":"java.lang.Long"},
         |"transform":[{"op":"dedup_near","method":"jaccard",
         |  "column":"text","idColumn":"doc_id",
         |  "shingleSize":3,"threshold":0.8,
         |  "historyPath":"$base/doc_shingles_cmp.parquet"}],
         |"outputTopic":{"enabled":true,"name":"novel-after-compact"}}""".stripMargin)
    Interpreter.values(Interpreter.build(spark, spec,
        new ParquetSourceResolver(base, TestdataCatalog)))
      .select("doc_id", "lang", "source", "n_chars")
  }

  /** Declarative STORED ANN index — the r44 family's hash-exact member:
    * crawl time builds the quantized index artifact through config
    * (knn_index writes int8 codes + vectors under indexPath), query time
    * searches it through config (knn + indexPath) — the corpus is never
    * re-trained, re-hashed, or re-quantized per query batch, and the
    * int8-propose / exact-re-rank contract keeps the stored route
    * hash-matching the x3 exact oracle (same argument as
    * r28_spec_knn_quantized, now with the sketch read from storage).
    */
  def r44SpecKnnIndex(spark: SparkSession, dir: String): DataFrame = {
    val base = artifactBase(dir)
    runSpec(spark, dir,
      s"""{"id":"build-knn-index","processingMode":"SIMPLE_STREAM",
         |"sourceTopic":{"name":"embeddings","keyClass":"java.lang.Long"},
         |"transform":[{"op":"knn_index","method":"quantized",
         |  "column":"embedding","idColumn":"vec_id",
         |  "indexPath":"$base/knn_quant"}],
         |"outputTopic":{"enabled":true,"name":"knn-index-report"}}""".stripMargin)
    runSpec(spark, dir,
      s"""{"id":"knn-from-stored-index","processingMode":"SIMPLE_STREAM",
         |"sourceTopic":{"name":"embeddings","keyClass":"java.lang.Long"},
         |"transform":[{"op":"knn","method":"quantized","column":"embedding",
         |  "idColumn":"vec_id","k":10,"refine":4,
         |  "queryPath":"<dataDir>/embeddings.parquet",
         |  "queryFilter":"vec_id < 5",
         |  "indexPath":"$base/knn_quant"}],
         |"outputTopic":{"enabled":true,"name":"knn-stored-out"}}""".stripMargin)
      .select("query_id", "rank", "neighbor_id", "cos")
  }

  /** Declarative stored IVF index — the r44 family's accuracy-contract
    * member: nCells sized √n per snapshot (the artifact pins geometry; the
    * declaration derives it once at crawl time, exactly how a production
    * build would), nProbe left to the measured nCells/3 contract.
    * Deterministic training makes stored == rebuilt EXACT, and recall@10
    * vs the exact sibling holds the 0.85 x3 bound — both measured by
    * Accuracy.checkKnnIndexStored at every SF.
    */
  def r44SpecKnnIvfStored(spark: SparkSession, dir: String): DataFrame = {
    val base = artifactBase(dir)
    val cells = ivfCellsFor(spark, dir)
    runSpec(spark, dir,
      s"""{"id":"build-ivf-index","processingMode":"SIMPLE_STREAM",
         |"sourceTopic":{"name":"embeddings","keyClass":"java.lang.Long"},
         |"transform":[{"op":"knn_index","method":"ivf","column":"embedding",
         |  "idColumn":"vec_id","nCells":$cells,"nAssign":2,
         |  "indexPath":"$base/knn_ivf"}],
         |"outputTopic":{"enabled":true,"name":"ivf-index-report"}}""".stripMargin)
    runSpec(spark, dir,
      s"""{"id":"knn-from-ivf-index","processingMode":"SIMPLE_STREAM",
         |"sourceTopic":{"name":"embeddings","keyClass":"java.lang.Long"},
         |"transform":[{"op":"knn","method":"ivf","column":"embedding",
         |  "idColumn":"vec_id","k":10,
         |  "queryPath":"<dataDir>/embeddings.parquet",
         |  "queryFilter":"vec_id < 5",
         |  "indexPath":"$base/knn_ivf"}],
         |"outputTopic":{"enabled":true,"name":"knn-ivf-stored-out"}}""".stripMargin)
      .select("query_id", "rank", "neighbor_id", "cos")
  }

  /** The √n IVF cell sizing (the FAISS guideline ivfTopK auto-applies),
    * derived ONCE per snapshot for the stored-index declarations — the
    * artifact pins geometry, so the derivation happens at build time, not
    * silently inside the operator. Clamped like the auto-sizer.
    */
  private[graft] def ivfCellsFor(spark: SparkSession, dir: String): Int = {
    val n = math.max(1L, spark.read.parquet(s"$dir/embeddings.parquet").count())
    math.min(1024, math.max(16, math.ceil(math.sqrt(n.toDouble)).toInt))
  }

  /** Declarative INCREMENTAL index maintenance (r47, the round-17
    * directive-#1 loop through pure config): crawl N builds the quantized
    * index over the low-id half (knn_index, the half riding in as its own
    * stored table — the r42/r46 pattern); crawl N+1 appends the new half
    * (knn_index_append — assigned with the STORED codes, no retraining,
    * one new posting generation, meta committed last); the stored-route
    * search then hash-matches the x3 exact oracle over the FULL corpus —
    * int8 codes are per-row state, so appended == rebuilt EXACTLY here.
    * The ivf/lsh appended contracts are Accuracy.checkKnnAppend's rows.
    */
  def r47SpecKnnAppend(spark: SparkSession, dir: String): DataFrame = {
    val base = artifactBase(dir)
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
    val cut = (e.agg(max(col("vec_id"))).head.getLong(0) + 1L) / 2L
    concurrently(
      () => e.filter(col("vec_id") < cut)
        .write.mode("overwrite").parquet(s"$base/emb_old.parquet"),
      () => e.filter(col("vec_id") >= cut)
        .write.mode("overwrite").parquet(s"$base/emb_new.parquet"))
    def fromBase(json: String): DataFrame =
      Interpreter.values(Interpreter.build(spark, PipelineSpec.fromJson(json),
        new ParquetSourceResolver(base, TestdataCatalog)))
    fromBase(
      s"""{"id":"build-index-crawl-n","processingMode":"SIMPLE_STREAM",
         |"sourceTopic":{"name":"emb_old","keyClass":"java.lang.Long"},
         |"transform":[{"op":"knn_index","method":"quantized",
         |  "column":"embedding","idColumn":"vec_id",
         |  "indexPath":"$base/knn_app"}],
         |"outputTopic":{"enabled":true,"name":"index-report"}}""".stripMargin)
    fromBase(
      s"""{"id":"append-crawl-n1","processingMode":"SIMPLE_STREAM",
         |"sourceTopic":{"name":"emb_new","keyClass":"java.lang.Long"},
         |"transform":[{"op":"knn_index_append",
         |  "column":"embedding","idColumn":"vec_id",
         |  "indexPath":"$base/knn_app"}],
         |"outputTopic":{"enabled":true,"name":"append-report"}}""".stripMargin)
    runSpec(spark, dir,
      s"""{"id":"knn-from-appended-index","processingMode":"SIMPLE_STREAM",
         |"sourceTopic":{"name":"embeddings","keyClass":"java.lang.Long"},
         |"transform":[{"op":"knn","method":"quantized","column":"embedding",
         |  "idColumn":"vec_id","k":10,"refine":4,
         |  "queryPath":"<dataDir>/embeddings.parquet",
         |  "queryFilter":"vec_id < 5",
         |  "indexPath":"$base/knn_app"}],
         |"outputTopic":{"enabled":true,"name":"knn-appended-out"}}""".stripMargin)
      .select("query_id", "rank", "neighbor_id", "cos")
  }

  /** Declarative INCREMENTAL ivf maintenance (r47's accuracy-contract
    * member): build over the low-id half with the √n geometry, append the
    * new half with the STORED centroids (no retraining), search at the
    * default probe fraction. Accuracy.checkKnnIvfAppend pins the 0.85
    * recall contract AND that probing all cells recovers the exact
    * neighbor set (no appended row can be lost, whatever the centroid
    * quality) at every SF.
    */
  def r47SpecKnnIvfAppend(spark: SparkSession, dir: String): DataFrame = {
    val base = artifactBase(dir)
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
    val cut = (e.agg(max(col("vec_id"))).head.getLong(0) + 1L) / 2L
    concurrently(
      () => e.filter(col("vec_id") < cut)
        .write.mode("overwrite").parquet(s"$base/emb_ivf_old.parquet"),
      () => e.filter(col("vec_id") >= cut)
        .write.mode("overwrite").parquet(s"$base/emb_ivf_new.parquet"))
    val cells = ivfCellsFor(spark, dir)
    def fromBase(json: String): DataFrame =
      Interpreter.values(Interpreter.build(spark, PipelineSpec.fromJson(json),
        new ParquetSourceResolver(base, TestdataCatalog)))
    fromBase(
      s"""{"id":"build-ivf-crawl-n","processingMode":"SIMPLE_STREAM",
         |"sourceTopic":{"name":"emb_ivf_old","keyClass":"java.lang.Long"},
         |"transform":[{"op":"knn_index","method":"ivf","column":"embedding",
         |  "idColumn":"vec_id","nCells":$cells,"nAssign":2,
         |  "indexPath":"$base/knn_ivf_app"}],
         |"outputTopic":{"enabled":true,"name":"ivf-index-report"}}""".stripMargin)
    fromBase(
      s"""{"id":"append-ivf-crawl-n1","processingMode":"SIMPLE_STREAM",
         |"sourceTopic":{"name":"emb_ivf_new","keyClass":"java.lang.Long"},
         |"transform":[{"op":"knn_index_append",
         |  "column":"embedding","idColumn":"vec_id",
         |  "indexPath":"$base/knn_ivf_app"}],
         |"outputTopic":{"enabled":true,"name":"ivf-append-report"}}""".stripMargin)
    runSpec(spark, dir,
      s"""{"id":"knn-from-appended-ivf","processingMode":"SIMPLE_STREAM",
         |"sourceTopic":{"name":"embeddings","keyClass":"java.lang.Long"},
         |"transform":[{"op":"knn","method":"ivf","column":"embedding",
         |  "idColumn":"vec_id","k":10,
         |  "queryPath":"<dataDir>/embeddings.parquet",
         |  "queryFilter":"vec_id < 5",
         |  "indexPath":"$base/knn_ivf_app"}],
         |"outputTopic":{"enabled":true,"name":"knn-ivf-appended-out"}}""".stripMargin)
      .select("query_id", "rank", "neighbor_id", "cos")
  }

  /** Declarative stored LSH index — the r47 family's third stored-route
    * contract member (quantized has the r44 hash-match, ivf the r44 recall
    * row): hyperplanes are seed-pinned and data-independent, so stored ==
    * rebuilt is EXACT (Accuracy.checkKnnLshStored pins it alongside the
    * 0.85 recall contract at every SF).
    */
  def r47SpecKnnLshStored(spark: SparkSession, dir: String): DataFrame = {
    val base = artifactBase(dir)
    runSpec(spark, dir,
      s"""{"id":"build-lsh-index","processingMode":"SIMPLE_STREAM",
         |"sourceTopic":{"name":"embeddings","keyClass":"java.lang.Long"},
         |"transform":[{"op":"knn_index","method":"lsh","column":"embedding",
         |  "idColumn":"vec_id","dim":64,"nTables":16,"planesPerTable":4,
         |  "indexPath":"$base/knn_lsh"}],
         |"outputTopic":{"enabled":true,"name":"lsh-index-report"}}""".stripMargin)
    runSpec(spark, dir,
      s"""{"id":"knn-from-lsh-index","processingMode":"SIMPLE_STREAM",
         |"sourceTopic":{"name":"embeddings","keyClass":"java.lang.Long"},
         |"transform":[{"op":"knn","method":"lsh","column":"embedding",
         |  "idColumn":"vec_id","k":10,
         |  "queryPath":"<dataDir>/embeddings.parquet",
         |  "queryFilter":"vec_id < 5",
         |  "indexPath":"$base/knn_lsh"}],
         |"outputTopic":{"enabled":true,"name":"knn-lsh-stored-out"}}""".stripMargin)
      .select("query_id", "rank", "neighbor_id", "cos")
  }

  /** Declarative SCALAR summary artifact (X29's numeric-leg build verb,
    * r48): one long-shape row per (dims cell, column) with the linear
    * state every exact numeric drift metric derives from — DuckDB-exact
    * (counts strict; sums at the float tier's 6-significant-digit
    * quantization, the embedding-summary precedent).
    */
  def r48SpecScalarSummary(spark: SparkSession, dir: String): DataFrame =
    runSpec(spark, dir,
      """{"id":"scalar-summary","processingMode":"SIMPLE_STREAM",
        |"sourceTopic":{"name":"events","keyClass":"java.lang.Long"},
        |"transform":[{"op":"scalar_summary","columns":["value"],
        |  "groupColumns":["event_type"]}],
        |"outputTopic":{"enabled":true,"name":"scalar-summary-out"}}""".stripMargin)
      .select(col("event_type"), col("col_name"), col("n_rows"),
        col("n_nonnull"), zr6(col("sum")).as("sum"),
        zr6(col("sumsq")).as("sumsq"), col("min"), col("max"))

  /** WINDOWED SCALAR drift MONITOR (r48, the round-17 directive-#2a spec
    * twin): per tumbling hour and event_type, the six exact numeric
    * metrics of that window's slice against the STORED scalar_summary
    * baseline (the user_id<8 slice standing in for crawl N) — the
    * declaration that also streams as ONE native stateful aggregation +
    * a broadcast baseline join (stream==batch across a restart pinned in
    * StreamRunnerSpec). DuckDB recomputes the identical per-window
    * metrics from raw data — exact, not an estimate.
    */
  def r48SpecScalarMonitor(spark: SparkSession, dir: String): DataFrame = {
    val base = artifactBase(dir)
    graft.operators.Drift.scalarSummary(
        spark.read.parquet(s"$dir/events.parquet").filter(col("user_id") < 8),
        Seq("value"), Seq("event_type"))
      .write.mode("overwrite").parquet(s"$base/event_stats.parquet")
    runSpec(spark, dir,
      s"""{"id":"scalar-monitor","processingMode":"SIMPLE_STREAM",
         |"sourceTopic":{"name":"events","keyClass":"java.lang.Long"},
         |"transform":[{"op":"snapshot_drift",
         |  "statsPath":"$base/event_stats.parquet",
         |  "numericColumns":["value"],"groupColumns":["event_type"],
         |  "timeColumn":"ts","every":"1 hour"}],
         |"outputTopic":{"enabled":true,"name":"scalar-monitor-out"}}""".stripMargin)
      .select(col("window_start"), col("col_name"), col("metric"),
        col("category"), zr6(col("old_value")).as("old_value"),
        zr6(col("new_value")).as("new_value"), col("delta"), col("n_new"))
  }

  /** WINDOWED PERCENTILE drift MONITOR (r48, directive #2b): per tumbling
    * hour and event_type, p50/p90 of that window's slice (one mergeable
    * sketch per cell — the X26 aggregate riding streaming state) against
    * the STORED quantile-sketch table's per-cell percentiles. Estimates →
    * accuracy-contract row (both sides' rank slack within the ±1%-of-rank
    * X26 bound, per cell, at every SF — Accuracy.checkQuantileMonitor).
    */
  def r48SpecQuantileMonitor(spark: SparkSession, dir: String): DataFrame = {
    val base = artifactBase(dir)
    graft.operators.Profile.quantileSketches(
        spark.read.parquet(s"$dir/events.parquet").filter(col("user_id") < 8),
        Seq("event_type"), "value")
      .write.mode("overwrite").parquet(s"$base/event_qsk_monitor.parquet")
    runSpec(spark, dir,
      s"""{"id":"quantile-monitor","processingMode":"SIMPLE_STREAM",
         |"sourceTopic":{"name":"events","keyClass":"java.lang.Long"},
         |"transform":[{"op":"snapshot_drift",
         |  "quantilePath":"$base/event_qsk_monitor.parquet",
         |  "groupColumns":["event_type"],"column":"value",
         |  "quantiles":[0.5, 0.9],
         |  "timeColumn":"ts","every":"1 hour"}],
         |"outputTopic":{"enabled":true,"name":"quantile-monitor-out"}}""".stripMargin)
      .select("window_start", "col_name", "metric", "category",
        "old_value", "new_value", "delta", "n_new")
  }

  /** Declarative filtered lsh search (r53, the filtered-search family's
    * lsh member): the stored lsh index carries the label attribute;
    * candidateFilter thins the buckets (lsh has no query-time widening
    * dial — the documented trade). Hyperplanes are data-independent, so
    * the filtered stored route equals lshTopK OVER THE FILTERED CORPUS
    * exactly — Accuracy.checkKnnFilteredLsh pins that equality, plus
    * no-leak, at every SF.
    */
  def r53SpecKnnFilteredLsh(spark: SparkSession, dir: String): DataFrame = {
    val base = artifactBase(dir)
    runSpec(spark, dir,
      s"""{"id":"build-attr-lsh","processingMode":"SIMPLE_STREAM",
         |"sourceTopic":{"name":"embeddings","keyClass":"java.lang.Long"},
         |"transform":[{"op":"knn_index","method":"lsh","column":"embedding",
         |  "idColumn":"vec_id","dim":64,"nTables":16,"planesPerTable":4,
         |  "attributeColumns":["label"],
         |  "indexPath":"$base/knn_attr_lsh"}],
         |"outputTopic":{"enabled":true,"name":"attr-lsh-report"}}""".stripMargin)
    runSpec(spark, dir,
      s"""{"id":"knn-filtered-lsh","processingMode":"SIMPLE_STREAM",
         |"sourceTopic":{"name":"embeddings","keyClass":"java.lang.Long"},
         |"transform":[{"op":"knn","method":"lsh","column":"embedding",
         |  "idColumn":"vec_id","k":10,
         |  "queryPath":"<dataDir>/embeddings.parquet",
         |  "queryFilter":"vec_id < 5",
         |  "candidateFilter":"label < 4",
         |  "indexPath":"$base/knn_attr_lsh"}],
         |"outputTopic":{"enabled":true,"name":"knn-filtered-lsh-out"}}""".stripMargin)
      .select("query_id", "rank", "neighbor_id", "cos")
  }

  /** Shared chain of the two MASS-DELETION contract rows (r54 — the
    * round-19 directive-#1 verb hardening): build the quantized index,
    * tombstone 40% OF THE CORPUS in one takedown batch (the GDPR-scale /
    * licensing-purge shape the broadcast screen could not survive at
    * 100 TB), then search through the stored route. `barRows` pins the
    * tombstone broadcast bar for the search build: the default (None)
    * keeps the 40% set under the bar → the BROADCAST anti-join route;
    * Some(0) forces every tombstone set past the bar → the SHUFFLE
    * anti-join route. Both rows hash-match the same
    * rebuild-without-those-rows exact oracle — route choice is a plan
    * shape, never a result.
    */
  private def knnMassDeleteChain(spark: SparkSession, dir: String,
      tag: String, barRows: Option[Long]): DataFrame = {
    val base = artifactBase(dir)
    // takedown fixture ∥ index build: disjoint outputs, no shared
    // lineage (§2.6)
    concurrently(
      () => spark.read.parquet(s"$dir/embeddings.parquet")
        .filter(col("vec_id") % 5 < 2).select(col("vec_id"))
        .write.mode("overwrite").parquet(s"$base/takedown_$tag.parquet"),
      () => runSpec(spark, dir,
        s"""{"id":"build-mass-$tag","processingMode":"SIMPLE_STREAM",
           |"sourceTopic":{"name":"embeddings","keyClass":"java.lang.Long"},
           |"transform":[{"op":"knn_index","method":"quantized",
           |  "column":"embedding","idColumn":"vec_id",
           |  "indexPath":"$base/knn_mass_$tag"}],
           |"outputTopic":{"enabled":true,"name":"mass-index-report"}}""".stripMargin))
    Interpreter.values(Interpreter.build(spark, PipelineSpec.fromJson(
      s"""{"id":"takedown-mass-$tag","processingMode":"SIMPLE_STREAM",
         |"sourceTopic":{"name":"takedown_$tag","keyClass":"java.lang.Long"},
         |"transform":[{"op":"knn_index_delete","idColumn":"vec_id",
         |  "indexPath":"$base/knn_mass_$tag"}],
         |"outputTopic":{"enabled":true,"name":"mass-del-report"}}""".stripMargin),
      new ParquetSourceResolver(base, TestdataCatalog)))
    // the broadcast-vs-shuffle decision is baked in at PLAN BUILD (the
    // livePostings cost rule reads the conf then), so pinning the conf
    // around the spec build is enough — execution later in Verify/Bench
    // keeps the chosen route
    barRows.foreach(b =>
      spark.conf.set("spark.graft.knn.tombBroadcastMaxRows", b.toString))
    try runSpec(spark, dir,
      s"""{"id":"knn-after-mass-$tag","processingMode":"SIMPLE_STREAM",
         |"sourceTopic":{"name":"embeddings","keyClass":"java.lang.Long"},
         |"transform":[{"op":"knn","method":"quantized","column":"embedding",
         |  "idColumn":"vec_id","k":10,"refine":4,
         |  "queryPath":"<dataDir>/embeddings.parquet",
         |  "queryFilter":"vec_id < 5",
         |  "indexPath":"$base/knn_mass_$tag"}],
         |"outputTopic":{"enabled":true,"name":"knn-mass-out"}}""".stripMargin)
      .select("query_id", "rank", "neighbor_id", "cos")
    finally barRows.foreach(_ =>
      spark.conf.unset("spark.graft.knn.tombBroadcastMaxRows"))
  }

  /** Mass deletion through the SHUFFLE anti-join route (the broadcast bar
    * forced to 0): the scale-survival half of the r54 contract — a
    * takedown set too big to broadcast still serves exact answers.
    */
  def r54SpecKnnMassDelete(spark: SparkSession, dir: String): DataFrame =
    knnMassDeleteChain(spark, dir, "shuf", Some(0L))

  /** The same mass deletion through the default BROADCAST route (the 40%
    * set stays under the 1M-row bar at test SFs): both routes hash-match
    * the same rebuild-minus oracle.
    */
  def r54SpecKnnMassDeleteBcast(spark: SparkSession, dir: String): DataFrame =
    knnMassDeleteChain(spark, dir, "bcast", None)

  /** PER-CATEGORY index family (r54 — round-19 directive #2, the
    * `knn_filter_low_selectivity` advisory's named remedy automated):
    * crawl time builds the quantized family partitioned on `label`
    * (one routed sub-index per category under `attr=<value>/`); query
    * time declares the equality candidateFilter `label = 3` — the search
    * ROUTES to the label-3 sub-index (full recall over the category's own
    * postings, no probe widening, no selectivity scan, advisory stood
    * down) and hash-matches the filtered-corpus exact oracle.
    */
  def r54SpecKnnPerCategory(spark: SparkSession, dir: String): DataFrame = {
    val base = artifactBase(dir)
    runSpec(spark, dir,
      s"""{"id":"build-category-family","processingMode":"SIMPLE_STREAM",
         |"sourceTopic":{"name":"embeddings","keyClass":"java.lang.Long"},
         |"transform":[{"op":"knn_index","method":"quantized",
         |  "column":"embedding","idColumn":"vec_id",
         |  "attributeColumns":["label"],
         |  "partitionByAttribute":"label",
         |  "indexPath":"$base/knn_family"}],
         |"outputTopic":{"enabled":true,"name":"family-report"}}""".stripMargin)
    runSpec(spark, dir,
      s"""{"id":"knn-per-category","processingMode":"SIMPLE_STREAM",
         |"sourceTopic":{"name":"embeddings","keyClass":"java.lang.Long"},
         |"transform":[{"op":"knn","method":"quantized","column":"embedding",
         |  "idColumn":"vec_id","k":10,"refine":4,
         |  "queryPath":"<dataDir>/embeddings.parquet",
         |  "queryFilter":"vec_id < 5",
         |  "candidateFilter":"label = 3",
         |  "indexPath":"$base/knn_family"}],
         |"outputTopic":{"enabled":true,"name":"knn-category-out"}}""".stripMargin)
      .select("query_id", "rank", "neighbor_id", "cos")
  }

  /** Conjunction ROUTING on the family (r54's second member): the
    * candidateFilter is `label = 3 AND id % 2 = 0` — the equality
    * conjunct routes to the label-3 sub-index and the RESIDUAL rides
    * down as the sub-search's filter (parquet-pushdown on the sub's
    * postings), so the standing "category AND secondary predicate"
    * shape pays only the category's scan. Hash-matches the
    * doubly-filtered exact oracle.
    */
  def r54SpecKnnCategoryResidual(spark: SparkSession, dir: String): DataFrame = {
    val base = artifactBase(dir)
    runSpec(spark, dir,
      s"""{"id":"build-category-family-res","processingMode":"SIMPLE_STREAM",
         |"sourceTopic":{"name":"embeddings","keyClass":"java.lang.Long"},
         |"transform":[{"op":"knn_index","method":"quantized",
         |  "column":"embedding","idColumn":"vec_id",
         |  "attributeColumns":["label"],
         |  "partitionByAttribute":"label",
         |  "indexPath":"$base/knn_family_res"}],
         |"outputTopic":{"enabled":true,"name":"family-res-report"}}""".stripMargin)
    runSpec(spark, dir,
      s"""{"id":"knn-category-residual","processingMode":"SIMPLE_STREAM",
         |"sourceTopic":{"name":"embeddings","keyClass":"java.lang.Long"},
         |"transform":[{"op":"knn","method":"quantized","column":"embedding",
         |  "idColumn":"vec_id","k":10,"refine":4,
         |  "queryPath":"<dataDir>/embeddings.parquet",
         |  "queryFilter":"vec_id < 5",
         |  "candidateFilter":"label = 3 AND id % 2 = 0",
         |  "indexPath":"$base/knn_family_res"}],
         |"outputTopic":{"enabled":true,"name":"knn-category-res-out"}}""".stripMargin)
      .select("query_id", "rank", "neighbor_id", "cos")
  }

  /** R16 STRICT parse mode (r54 — round-19 directive #3): the parse_json
    * stage under FAILFAST — the reference's throw posture
    * (JsonStringToObjectMapper.java:46-55) — over the clean events feed.
    * Same oracle as the lenient r16 row: on well-formed input the posture
    * changes nothing (the InterpreterSpec corrupt-fixture pins prove the
    * postures DIVERGE exactly on malformed input).
    */
  def r54SpecJsonStrict(spark: SparkSession, dir: String): DataFrame =
    runSpec(spark, dir,
      """{"id":"json-strict","processingMode":"SIMPLE_STREAM",
        |"sourceTopic":{"name":"events","keyClass":"java.lang.Long"},
        |"transform":[{"op":"parse_json","column":"props",
        |  "jsonSchema":"k INT","outputField":"props_v",
        |  "parseMode":"FAILFAST"}],
        |"outputTopic":{"enabled":true,"name":"json-strict-out"}}""".stripMargin)
      .select(col("event_id"), col("props_v.k").as("prop_k"))

  /** The DLQ posture's clean-data twin (r54): malformed rows would be
    * dropped and dead-lettered to dlqPath, but on the well-formed feed the
    * output is identical to the lenient row — and the dead-letter
    * directory holds zero payloads.
    */
  def r54SpecJsonDlq(spark: SparkSession, dir: String): DataFrame = {
    val base = artifactBase(dir)
    runSpec(spark, dir,
      s"""{"id":"json-dlq","processingMode":"SIMPLE_STREAM",
         |"sourceTopic":{"name":"events","keyClass":"java.lang.Long"},
         |"transform":[{"op":"parse_json","column":"props",
         |  "jsonSchema":"k INT","outputField":"props_v",
         |  "parseMode":"DLQ","dlqPath":"$base/json_dlq"}],
         |"outputTopic":{"enabled":true,"name":"json-dlq-out"}}""".stripMargin)
      .select(col("event_id"), col("props_v.k").as("prop_k"))
  }

  /** GLOBAL windowed percentile monitor (r52 — the round-18 VERDICT-#5
    * lift): dims-empty quantilePath monitoring, the corpus-wide p50/p90
    * per tumbling hour against a ONE-row global baseline sketch — no
    * dummy stratum needed. Estimates → accuracy-contract row (both
    * sides within the X26 ±1%-of-rank bound —
    * Accuracy.checkQuantileMonitorGlobal).
    */
  def r52SpecQuantileMonitorGlobal(spark: SparkSession, dir: String): DataFrame = {
    val base = artifactBase(dir)
    graft.operators.Profile.quantileSketches(
        spark.read.parquet(s"$dir/events.parquet").filter(col("user_id") < 8),
        Nil, "value")
      .write.mode("overwrite").parquet(s"$base/event_qsk_global.parquet")
    runSpec(spark, dir,
      s"""{"id":"quantile-monitor-global","processingMode":"SIMPLE_STREAM",
         |"sourceTopic":{"name":"events","keyClass":"java.lang.Long"},
         |"transform":[{"op":"snapshot_drift",
         |  "quantilePath":"$base/event_qsk_global.parquet",
         |  "column":"value","quantiles":[0.5, 0.9],
         |  "timeColumn":"ts","every":"1 hour"}],
         |"outputTopic":{"enabled":true,"name":"quantile-monitor-global-out"}}""".stripMargin)
      .select("window_start", "col_name", "metric", "category",
        "old_value", "new_value", "delta", "n_new")
  }

  /** BATCH scalar drift from the STORED artifact (r49 — the numeric leg's
    * no-rescan form, closing the follow-up the windowed monitor left
    * open): the old snapshot's scalar_summary artifact (the user_id<8
    * slice standing in for crawl N) answers per-(cell, metric) numeric
    * drift against the incoming snapshot — old raw data never rescanned,
    * and the groupColumns form gives per-stratum rows the rescanning leg
    * does not have. DuckDB recomputes the identical sum-derived metrics
    * from raw data — exact at the 6-dp gate granularity.
    */
  def r49SpecDriftStats(spark: SparkSession, dir: String): DataFrame = {
    val base = artifactBase(dir)
    graft.operators.Drift.scalarSummary(
        spark.read.parquet(s"$dir/events.parquet").filter(col("user_id") < 8),
        Seq("value"), Seq("event_type"))
      .write.mode("overwrite").parquet(s"$base/event_stats_batch.parquet")
    runSpec(spark, dir,
      s"""{"id":"drift-from-stats","processingMode":"SIMPLE_STREAM",
         |"sourceTopic":{"name":"events","keyClass":"java.lang.Long"},
         |"transform":[{"op":"snapshot_drift",
         |  "statsPath":"$base/event_stats_batch.parquet",
         |  "numericColumns":["value"],"groupColumns":["event_type"]}],
         |"outputTopic":{"enabled":true,"name":"drift-from-stats-out"}}""".stripMargin)
      .select(col("col_name"), col("metric"), col("category"),
        zr6(col("old_value")).as("old_value"),
        zr6(col("new_value")).as("new_value"), col("delta"))
  }

  /** Spec-level merge_scalar_summaries (the scalar artifact's MAINTENANCE
    * verb, mirroring r42's embedding merge): two shard summaries written
    * at crawl time, stored as one dataset, declaratively folded by exact
    * summation — the merged artifact equals the one-shot global summary,
    * which is what the oracle computes from raw data.
    */
  def r49SpecMergeStats(spark: SparkSession, dir: String): DataFrame = {
    val base = artifactBase(dir)
    val ev = spark.read.parquet(s"$dir/events.parquet")
    graft.operators.Drift.scalarSummary(
        ev.filter(col("user_id") % 2 === 0), Seq("value"), Seq("event_type"))
      .unionByName(graft.operators.Drift.scalarSummary(
        ev.filter(col("user_id") % 2 =!= 0), Seq("value"), Seq("event_type")))
      .write.mode("overwrite").parquet(s"$base/event_stats_shards.parquet")
    val spec = PipelineSpec.fromJson(
      """{"id":"merge-stats","processingMode":"SIMPLE_STREAM",
         |"sourceTopic":{"name":"event_stats_shards","keyClass":"java.lang.Long"},
         |"transform":[{"op":"merge_scalar_summaries"}],
         |"outputTopic":{"enabled":true,"name":"merged-stats"}}""".stripMargin)
    Interpreter.values(Interpreter.build(spark, spec,
        new ParquetSourceResolver(base, TestdataCatalog)))
      .select(col("event_type"), col("col_name"), col("n_rows"),
        col("n_nonnull"), zr6(col("sum")).as("sum"),
        zr6(col("sumsq")).as("sumsq"), col("min"), col("max"))
  }

  /** Compaction closes the append lifecycle (r49): build the quantized
    * index over the first third of the corpus, append the remaining two
    * thirds as TWO posting generations, declaratively FOLD them with
    * knn_index_compact (a pure copy — nothing re-assigned or re-ranked),
    * then search the compacted index: rank-for-rank hash-match against
    * the full-corpus exact oracle — the strongest "compaction lost,
    * duplicated and moved nothing" statement a row can make.
    */
  def r49SpecKnnCompact(spark: SparkSession, dir: String): DataFrame = {
    val base = artifactBase(dir)
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
    val hi = e.agg(max(col("vec_id"))).head.getLong(0) + 1L
    val (c1, c2) = (hi / 3L, 2L * hi / 3L)
    concurrently(
      () => e.filter(col("vec_id") < c1)
        .write.mode("overwrite").parquet(s"$base/emb_cmp_a.parquet"),
      () => e.filter(col("vec_id") >= c1 && col("vec_id") < c2)
        .write.mode("overwrite").parquet(s"$base/emb_cmp_b.parquet"),
      () => e.filter(col("vec_id") >= c2)
        .write.mode("overwrite").parquet(s"$base/emb_cmp_c.parquet"))
    def fromBase(json: String): DataFrame =
      Interpreter.values(Interpreter.build(spark, PipelineSpec.fromJson(json),
        new ParquetSourceResolver(base, TestdataCatalog)))
    fromBase(
      s"""{"id":"build-cmp-crawl-n","processingMode":"SIMPLE_STREAM",
         |"sourceTopic":{"name":"emb_cmp_a","keyClass":"java.lang.Long"},
         |"transform":[{"op":"knn_index","method":"quantized",
         |  "column":"embedding","idColumn":"vec_id",
         |  "indexPath":"$base/knn_cmp"}],
         |"outputTopic":{"enabled":true,"name":"cmp-index-report"}}""".stripMargin)
    Seq("emb_cmp_b", "emb_cmp_c").foreach { t =>
      fromBase(
        s"""{"id":"append-cmp-$t","processingMode":"SIMPLE_STREAM",
           |"sourceTopic":{"name":"$t","keyClass":"java.lang.Long"},
           |"transform":[{"op":"knn_index_append",
           |  "column":"embedding","idColumn":"vec_id",
           |  "indexPath":"$base/knn_cmp"}],
           |"outputTopic":{"enabled":true,"name":"cmp-append-report"}}""".stripMargin)
    }
    fromBase(
      s"""{"id":"compact-cmp","processingMode":"SIMPLE_STREAM",
         |"sourceTopic":{"name":"emb_cmp_a","keyClass":"java.lang.Long"},
         |"transform":[{"op":"knn_index_compact",
         |  "indexPath":"$base/knn_cmp"}],
         |"outputTopic":{"enabled":true,"name":"cmp-compact-report"}}""".stripMargin)
    runSpec(spark, dir,
      s"""{"id":"knn-from-compacted-index","processingMode":"SIMPLE_STREAM",
         |"sourceTopic":{"name":"embeddings","keyClass":"java.lang.Long"},
         |"transform":[{"op":"knn","method":"quantized","column":"embedding",
         |  "idColumn":"vec_id","k":10,"refine":4,
         |  "queryPath":"<dataDir>/embeddings.parquet",
         |  "queryFilter":"vec_id < 5",
         |  "indexPath":"$base/knn_cmp"}],
         |"outputTopic":{"enabled":true,"name":"knn-compacted-out"}}""".stripMargin)
      .select("query_id", "rank", "neighbor_id", "cos")
  }

  /** Declarative ARTIFACT ROW DELETION (r51 — the round-18 directive-#1
    * verb, closing the one remaining full-corpus recompute): crawl time
    * builds the quantized index; a takedown batch (every tenth id, riding
    * in as its own stored table — the r42/r46 pattern) commits ONE
    * tombstone generation via knn_index_delete; the stored-route search
    * then hash-matches the REBUILD-WITHOUT-THOSE-ROWS exact oracle —
    * no posting was touched, rewritten, or retrained, yet the deleted
    * rows are gone from every result. The ivf recall contract is
    * Accuracy.checkKnnIvfDelete's row; delete → compact → search
    * bit-identity and the crash pins live in OperatorsSpec.
    */
  def r51SpecKnnDelete(spark: SparkSession, dir: String): DataFrame = {
    val base = artifactBase(dir)
    // the takedown-batch fixture and the index build share no lineage
    // (disjoint outputs, both read the source corpus) — overlap them (§2.6)
    concurrently(
      () => spark.read.parquet(s"$dir/embeddings.parquet")
        .filter(col("vec_id") % 10 === 7).select(col("vec_id"))
        .write.mode("overwrite").parquet(s"$base/takedown.parquet"),
      () => runSpec(spark, dir,
        s"""{"id":"build-del-index","processingMode":"SIMPLE_STREAM",
           |"sourceTopic":{"name":"embeddings","keyClass":"java.lang.Long"},
           |"transform":[{"op":"knn_index","method":"quantized",
           |  "column":"embedding","idColumn":"vec_id",
           |  "indexPath":"$base/knn_del"}],
           |"outputTopic":{"enabled":true,"name":"del-index-report"}}""".stripMargin))
    Interpreter.values(Interpreter.build(spark, PipelineSpec.fromJson(
      s"""{"id":"takedown-batch","processingMode":"SIMPLE_STREAM",
         |"sourceTopic":{"name":"takedown","keyClass":"java.lang.Long"},
         |"transform":[{"op":"knn_index_delete","idColumn":"vec_id",
         |  "indexPath":"$base/knn_del"}],
         |"outputTopic":{"enabled":true,"name":"del-report"}}""".stripMargin),
      new ParquetSourceResolver(base, TestdataCatalog)))
    runSpec(spark, dir,
      s"""{"id":"knn-after-delete","processingMode":"SIMPLE_STREAM",
         |"sourceTopic":{"name":"embeddings","keyClass":"java.lang.Long"},
         |"transform":[{"op":"knn","method":"quantized","column":"embedding",
         |  "idColumn":"vec_id","k":10,"refine":4,
         |  "queryPath":"<dataDir>/embeddings.parquet",
         |  "queryFilter":"vec_id < 5",
         |  "indexPath":"$base/knn_del"}],
         |"outputTopic":{"enabled":true,"name":"knn-del-out"}}""".stripMargin)
      .select("query_id", "rank", "neighbor_id", "cos")
  }

  /** Declarative ivf deletion (r51's accuracy-contract member): build with
    * the √n geometry, tombstone every tenth id, search at the default
    * probe fraction. Accuracy.checkKnnIvfDelete pins recall@10 vs the
    * exact-minus-deleted oracle, that NO deleted id ever surfaces, and
    * that probing all cells recovers the exact-minus-deleted set EXACTLY
    * — at every SF.
    */
  def r51SpecKnnIvfDelete(spark: SparkSession, dir: String): DataFrame = {
    val base = artifactBase(dir)
    // takedown fixture ∥ (cell sizing + build): disjoint outputs, no
    // shared lineage (§2.6)
    concurrently(
      () => spark.read.parquet(s"$dir/embeddings.parquet")
        .filter(col("vec_id") % 10 === 7).select(col("vec_id"))
        .write.mode("overwrite").parquet(s"$base/takedown_ivf.parquet"),
      () => {
        val cells = ivfCellsFor(spark, dir)
        runSpec(spark, dir,
          s"""{"id":"build-del-ivf","processingMode":"SIMPLE_STREAM",
             |"sourceTopic":{"name":"embeddings","keyClass":"java.lang.Long"},
             |"transform":[{"op":"knn_index","method":"ivf","column":"embedding",
             |  "idColumn":"vec_id","nCells":$cells,"nAssign":2,
             |  "indexPath":"$base/knn_del_ivf"}],
             |"outputTopic":{"enabled":true,"name":"del-ivf-report"}}""".stripMargin)
        ()
      })
    Interpreter.values(Interpreter.build(spark, PipelineSpec.fromJson(
      s"""{"id":"takedown-ivf","processingMode":"SIMPLE_STREAM",
         |"sourceTopic":{"name":"takedown_ivf","keyClass":"java.lang.Long"},
         |"transform":[{"op":"knn_index_delete","idColumn":"vec_id",
         |  "indexPath":"$base/knn_del_ivf"}],
         |"outputTopic":{"enabled":true,"name":"del-ivf-rep"}}""".stripMargin),
      new ParquetSourceResolver(base, TestdataCatalog)))
    runSpec(spark, dir,
      s"""{"id":"knn-after-ivf-delete","processingMode":"SIMPLE_STREAM",
         |"sourceTopic":{"name":"embeddings","keyClass":"java.lang.Long"},
         |"transform":[{"op":"knn","method":"ivf","column":"embedding",
         |  "idColumn":"vec_id","k":10,
         |  "queryPath":"<dataDir>/embeddings.parquet",
         |  "queryFilter":"vec_id < 5",
         |  "indexPath":"$base/knn_del_ivf"}],
         |"outputTopic":{"enabled":true,"name":"knn-del-ivf-out"}}""".stripMargin)
      .select("query_id", "rank", "neighbor_id", "cos")
  }

  /** Declarative SHINGLE-HISTORY RETRACTION (r51's text member): publish
    * the low-id 4/5 as the history, RETRACT every third published doc
    * (the takedown list riding in as its own stored table), then screen
    * the last fifth — the verdicts hash-match the from-raw oracle
    * computed over the history WITHOUT the retracted docs, proving a
    * retracted doc can no longer suppress an arrival (as if never
    * published). The physical drop + clear lives in
    * shingle_index_compact (InterpreterSpec pins the full lifecycle).
    */
  def r51SpecShingleRetract(spark: SparkSession, dir: String): DataFrame = {
    val base = artifactBase(dir)
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val cut = (docs.agg(max(col("doc_id"))).head.getLong(0) + 1L) * 4L / 5L
    concurrently(
      () => graft.operators.Dedup.shingleIndex(
          docs.filter(col("doc_id") < cut), "doc_id", "text", 3)
        .write.mode("overwrite").parquet(s"$base/doc_shingles_rt.parquet"),
      () => docs.filter(col("doc_id") < cut && col("doc_id") % 3 === 0)
        .select(col("doc_id"))
        .write.mode("overwrite").parquet(s"$base/docs_takedown.parquet"),
      () => docs.filter(col("doc_id") >= cut)
        .write.mode("overwrite").parquet(s"$base/docs_new_rt.parquet"))
    def fromBase(json: String): DataFrame =
      Interpreter.values(Interpreter.build(spark, PipelineSpec.fromJson(json),
        new ParquetSourceResolver(base, TestdataCatalog)))
    fromBase(
      s"""{"id":"retract-takedown","processingMode":"SIMPLE_STREAM",
         |"sourceTopic":{"name":"docs_takedown","keyClass":"java.lang.Long"},
         |"transform":[{"op":"shingle_index_retract","idColumn":"doc_id",
         |  "historyPath":"$base/doc_shingles_rt.parquet"}],
         |"outputTopic":{"enabled":true,"name":"retract-report"}}""".stripMargin)
    fromBase(
      s"""{"id":"screen-after-retract","processingMode":"SIMPLE_STREAM",
         |"sourceTopic":{"name":"docs_new_rt","keyClass":"java.lang.Long"},
         |"transform":[{"op":"dedup_near","method":"jaccard",
         |  "column":"text","idColumn":"doc_id",
         |  "shingleSize":3,"threshold":0.8,
         |  "historyPath":"$base/doc_shingles_rt.parquet"}],
         |"outputTopic":{"enabled":true,"name":"novel-after-retract"}}""".stripMargin)
      .select("doc_id", "lang", "source", "n_chars")
  }

  /** Declarative ATTRIBUTE-FILTERED stored search (r52 — the round-18
    * directive-#2 verb): crawl time builds the quantized index WITH
    * attributeColumns (label rides every posting as a parquet-pushdown
    * predicate surface); query time declares candidateFilter "label < 4"
    * — the filter runs INSIDE the candidate stage, so the int8 propose
    * only ever sees filtered postings and the exact re-rank returns a
    * FULL k among the filtered corpus: the row hash-matches the
    * filtered-corpus exact oracle. The ivf widening contract is
    * Accuracy.checkKnnFiltered's row.
    */
  def r52SpecKnnFiltered(spark: SparkSession, dir: String): DataFrame = {
    val base = artifactBase(dir)
    runSpec(spark, dir,
      s"""{"id":"build-attr-index","processingMode":"SIMPLE_STREAM",
         |"sourceTopic":{"name":"embeddings","keyClass":"java.lang.Long"},
         |"transform":[{"op":"knn_index","method":"quantized",
         |  "column":"embedding","idColumn":"vec_id",
         |  "attributeColumns":["label"],
         |  "indexPath":"$base/knn_attr"}],
         |"outputTopic":{"enabled":true,"name":"attr-index-report"}}""".stripMargin)
    runSpec(spark, dir,
      s"""{"id":"knn-filtered","processingMode":"SIMPLE_STREAM",
         |"sourceTopic":{"name":"embeddings","keyClass":"java.lang.Long"},
         |"transform":[{"op":"knn","method":"quantized","column":"embedding",
         |  "idColumn":"vec_id","k":10,"refine":4,
         |  "queryPath":"<dataDir>/embeddings.parquet",
         |  "queryFilter":"vec_id < 5",
         |  "candidateFilter":"label < 4",
         |  "indexPath":"$base/knn_attr"}],
         |"outputTopic":{"enabled":true,"name":"knn-filtered-out"}}""".stripMargin)
      .select("query_id", "rank", "neighbor_id", "cos")
  }

  /** The DIRECT-route twin of [[r52SpecKnnFiltered]]: no stored index —
    * the frame is the corpus, candidateFilter narrows it before the exact
    * scan. Same oracle (the filter composes with every method; exact
    * stays exact on the filtered corpus).
    */
  def r52SpecKnnFilteredExact(spark: SparkSession, dir: String): DataFrame =
    runSpec(spark, dir,
      """{"id":"knn-filtered-direct","processingMode":"SIMPLE_STREAM",
        |"sourceTopic":{"name":"embeddings","keyClass":"java.lang.Long"},
        |"transform":[{"op":"knn","method":"exact","column":"embedding",
        |  "idColumn":"vec_id","k":10,
        |  "queryPath":"<dataDir>/embeddings.parquet",
        |  "queryFilter":"vec_id < 5",
        |  "candidateFilter":"label < 4"}],
        |"outputTopic":{"enabled":true,"name":"knn-filtered-direct-out"}}""".stripMargin)
      .select("query_id", "rank", "neighbor_id", "cos")

  /** Declarative filtered ivf search (r52's accuracy-contract member):
    * the stored ivf index carries the label attribute; candidateFilter
    * "label < 4" (~40%% selectivity) WIDENS nProbe by 1/selectivity so
    * the probed cells still surface the unfiltered candidate volume.
    * Accuracy.checkKnnFiltered pins: every query returns a FULL k, no
    * filtered-out neighbor leaks, recall@10 vs the filtered-corpus exact
    * oracle holds 0.85, and probing all cells recovers it exactly — at
    * every SF.
    */
  def r52SpecKnnFilteredIvf(spark: SparkSession, dir: String): DataFrame = {
    val base = artifactBase(dir)
    val cells = ivfCellsFor(spark, dir)
    runSpec(spark, dir,
      s"""{"id":"build-attr-ivf","processingMode":"SIMPLE_STREAM",
         |"sourceTopic":{"name":"embeddings","keyClass":"java.lang.Long"},
         |"transform":[{"op":"knn_index","method":"ivf","column":"embedding",
         |  "idColumn":"vec_id","nCells":$cells,"nAssign":2,
         |  "attributeColumns":["label"],
         |  "indexPath":"$base/knn_attr_ivf"}],
         |"outputTopic":{"enabled":true,"name":"attr-ivf-report"}}""".stripMargin)
    runSpec(spark, dir,
      s"""{"id":"knn-filtered-ivf","processingMode":"SIMPLE_STREAM",
         |"sourceTopic":{"name":"embeddings","keyClass":"java.lang.Long"},
         |"transform":[{"op":"knn","method":"ivf","column":"embedding",
         |  "idColumn":"vec_id","k":10,
         |  "queryPath":"<dataDir>/embeddings.parquet",
         |  "queryFilter":"vec_id < 5",
         |  "candidateFilter":"label < 4",
         |  "indexPath":"$base/knn_attr_ivf"}],
         |"outputTopic":{"enabled":true,"name":"knn-filtered-ivf-out"}}""".stripMargin)
      .select("query_id", "rank", "neighbor_id", "cos")
  }

  /** WINDOWED embedding_summary (the incrementally-maintained drift
    * artifact, batch-read-back form): one ≤ dim-row summary per tumbling
    * day, the declaration that also streams as one stateful aggregation
    * (stream-built == batch-built across a restart is pinned in
    * StreamRunnerSpec). Event times are synthesized deterministically from
    * vec_id (the embeddings fixture carries no timestamp); the same
    * arithmetic in the DuckDB oracle keeps the row exact. Goes through
    * the config-path dispatch (applyTransform), not the operator directly.
    */
  def x29EmbedSummaryWindow(spark: SparkSession, dir: String): DataFrame = {
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
      .withColumn("ts", expr("TIMESTAMP '2024-01-01 00:00:00' + " +
        "make_interval(0, 0, 0, 0, CAST(vec_id % 48 AS INT), 0, 0)"))
    Interpreter.applyTransform(e,
        graft.config.TransformOp.EmbeddingSummary(column = "embedding",
          timeColumn = Some("ts"), every = Some("1 day")),
        None, "x29-embed-summary-window")
      .select(col("window_start"), col("i").cast("long").as("i"),
        zr6(col("dim_sum")).as("dim_sum"), zr6(col("norm_sum")).as("norm_sum"),
        col("n"))
  }

  /** WINDOWED drift MONITOR (batch-read-back form): per tumbling day, the
    * four embedding-drift metrics of that day's slice against the STORED
    * baseline summary (the 8-cluster subset's artifact, built at "crawl
    * time") — the declaration that also streams as ONE VectorSumAgg
    * stateful aggregation + a broadcast baseline join (stream-built ==
    * batch-built across a restart is pinned in StreamRunnerSpec). Event
    * times are synthesized deterministically from vec_id (the
    * x29_embed_summary_window arithmetic); the DuckDB oracle recomputes
    * the identical per-window metrics from raw data.
    */
  def x29WindowedDrift(spark: SparkSession, dir: String): DataFrame = {
    val art = s"${artifactBase(dir)}/embed_baseline.parquet"
    graft.operators.Drift.embeddingSummary(
        spark.read.parquet(s"$dir/embeddings.parquet").filter(col("label") < 8),
        "embedding")
      .write.mode("overwrite").parquet(art)
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
      .withColumn("ts", expr("TIMESTAMP '2024-01-01 00:00:00' + " +
        "make_interval(0, 0, 0, 0, CAST(vec_id % 48 AS INT), 0, 0)"))
    Interpreter.applyTransform(e,
        graft.config.TransformOp.SnapshotDrift(
          summaryPath = Some(art), embeddingColumns = Seq("embedding"),
          timeColumn = Some("ts"), every = Some("1 day")),
        None, "x29-windowed-drift")
      // 6-dp on the compared values (the artifact-row discipline of
      // r41/r42): below that, per-window sums differ only by partial-
      // aggregation order between Spark and DuckDB
      .select(col("window_start"), col("col_name"), col("metric"),
        zr6(col("old_value")).as("old_value"),
        zr6(col("new_value")).as("new_value"), col("delta"))
  }

  /** X29 heavy-hitter drift: per-key frequency drift for the heavy keys of
    * a categorical column, Misra–Gries candidates + exact broadcast
    * recount per snapshot — the form that scales to UNBOUNDED key spaces
    * (the exact freq_l1 leg shuffles one row per distinct key; this one
    * never exceeds the sketch's ≤ k-row exchange). Exact DuckDB oracle:
    * the result equals the naive groupBy-both-sides form by the MG
    * superset guarantee.
    */
  def x29DriftHeavy(spark: SparkSession, dir: String): DataFrame = {
    val ev = spark.read.parquet(s"$dir/events.parquet")
      .withColumn("__t", col("ts").cast("timestamp"))
    val split = lit("2024-01-16").cast("timestamp")
    graft.operators.Drift.heavyHitterDrift(
      ev.filter(col("__t") < split), ev.filter(col("__t") >= split),
      "event_type", minFraction = 0.01)
  }

  /** X29 drift GATE through config (round-14 directive #2): the full
    * drift surface — exact numeric + categorical report, heavy-hitter
    * leg, and declarative per-metric bounds — in one spec. The bounds
    * hold on the fixture (the date split drifts mildly), so every row
    * carries pass = true; an injected collapse failing the gate is
    * pinned in InterpreterSpec (the raise-on-evaluate form fails any
    * runner with a named violation).
    */
  def r36SpecDriftGate(spark: SparkSession, dir: String): DataFrame =
    runSpec(spark, dir,
      """{"id":"drift-gate-from-config","processingMode":"SIMPLE_STREAM",
         |"sourceTopic":{"name":"events","keyClass":"java.lang.Long"},
         |"transform":[{"op":"snapshot_drift",
         |  "comparePath":"<dataDir>/events.parquet",
         |  "compareFilter":"CAST(ts AS TIMESTAMP) < TIMESTAMP '2024-01-16'",
         |  "numericColumns":["value"],"categoricalColumns":["event_type"],
         |  "heavyHitterColumns":["event_type"],"minFraction":0.01,
         |  "maxAbsDelta":{"null_rate":0.2,"freq_l1":0.5,"heavy_freq":0.2},
         |  "maxRelDelta":{"row_count":1.2,"mean":1.0}}],
         |"outputTopic":{"enabled":true,"name":"events-drift-gate"}}""".stripMargin)
      .select("col_name", "metric", "category",
        "old_value", "new_value", "delta", "pass")

  /** X29 histogram drift through config: the binned-distribution leg +
    * PSI declared as a `histograms` entry, gated on the standard PSI bar
    * (0.25 = major shift) and a per-bin fraction bound — both hold on the
    * fixture's mild date-split drift, so every row carries pass = true.
    * Old side = compareFilter'd first half, new side = the whole source
    * topic (the r35 convention).
    */
  def r37SpecDriftHist(spark: SparkSession, dir: String): DataFrame =
    runSpec(spark, dir,
      """{"id":"drift-hist-from-config","processingMode":"SIMPLE_STREAM",
         |"sourceTopic":{"name":"events","keyClass":"java.lang.Long"},
         |"transform":[{"op":"snapshot_drift",
         |  "comparePath":"<dataDir>/events.parquet",
         |  "compareFilter":"CAST(ts AS TIMESTAMP) < TIMESTAMP '2024-01-16'",
         |  "histograms":[{"column":"value","lo":10.0,"hi":110.0,"bins":10}],
         |  "maxAbsDelta":{"psi":0.25,"bin_frac":0.05}}],
         |"outputTopic":{"enabled":true,"name":"events-drift-hist"}}""".stripMargin)
      .select("col_name", "metric", "category",
        "old_value", "new_value", "delta", "pass")

  /** Spec-level quantile rollup (the mergeable percentile sketch through
    * JSON config; rows-only — estimates are engine-specific, accuracy
    * rank-pinned in InterpreterSpec against exact percentiles).
    */
  def r29SpecQuantiles(spark: SparkSession, dir: String): DataFrame =
    runSpec(spark, dir,
      """{"id":"quantiles-from-config","processingMode":"SIMPLE_STREAM",
         |"sourceTopic":{"name":"events","keyClass":"java.lang.Long"},
         |"transform":[{"op":"quantile_rollup","groupColumns":["event_type"],
         |  "column":"value","quantiles":[0.5,0.9,0.99]}],
         |"outputTopic":{"enabled":true,"name":"events-quantiles"}}""".stripMargin)
      .select("event_type", "p50", "p90", "p99", "n_rows")

  /** Spec-level HLL distinct rollup (the mergeable distinct-count sketch
    * through JSON config; rows-only — HLL estimates are engine-specific,
    * but DETERMINISTIC, so InterpreterSpec pins row equality against the
    * code-path sketch table).
    */
  def r30SpecDistinct(spark: SparkSession, dir: String): DataFrame =
    runSpec(spark, dir,
      """{"id":"distinct-from-config","processingMode":"SIMPLE_STREAM",
         |"sourceTopic":{"name":"events","keyClass":"java.lang.Long"},
         |"transform":[{"op":"distinct_rollup","groupColumns":["event_type"],
         |  "column":"user_id"}],
         |"outputTopic":{"enabled":true,"name":"events-distinct"}}""".stripMargin)
      .select("event_type", "n_distinct", "n_rows")

  /** Spec-level chunk → pack (x17's sequence packing through JSON config,
    * chained after the chunk stage — the declarative training-batch prep
    * pipeline; rows-only: pack ids are partition-local, invariants pinned
    * in InterpreterSpec).
    */
  def r31SpecPack(spark: SparkSession, dir: String): DataFrame =
    runSpec(spark, dir,
      """{"id":"pack-from-config","processingMode":"SIMPLE_STREAM",
         |"sourceTopic":{"name":"documents","keyClass":"java.lang.Long"},
         |"transform":[
         |  {"op":"chunk","column":"text","idColumn":"doc_id",
         |   "size":40,"stride":30},
         |  {"op":"pack","column":"n_chunk_tokens","budget":256,
         |   "orderColumns":["doc_id","chunk_id"]}],
         |"outputTopic":{"enabled":true,"name":"doc-packs"}}""".stripMargin)
      .select("doc_id", "chunk_id", "n_chunk_tokens", "pack_id", "pack_slot")

  /** Spec-level WINDOWED grouped top-k (the streaming-capable form of r27:
    * cells are (tumbling hour, event_type) instead of global, so heap state
    * is watermark-evictable on a stream; here built batch — identical
    * grouping by construction, so it gets a full exact oracle).
    */
  def r32SpecWindowTopk(spark: SparkSession, dir: String): DataFrame =
    runSpec(spark, dir,
      """{"id":"window-topk-from-config","processingMode":"SIMPLE_STREAM",
         |"sourceTopic":{"name":"events","keyClass":"java.lang.Long"},
         |"transform":[{"op":"top_k","k":3,"byColumn":"value",
         |  "idColumn":"event_id","groupColumns":["event_type"],
         |  "timeColumn":"ts","every":"1 hour"}],
         |"outputTopic":{"enabled":true,"name":"events-window-topk"}}""".stripMargin)
      .select("window_start", "event_type", "rank", "event_id", "value")

  /** Spec-level WINDOWED heavy hitters (exact per-window counts over an
    * absolute minCount — the single-aggregation shape that streams in
    * update mode; the global form's MG sketch exists only because an
    * unwindowed corpus doesn't bound the key domain). Exact → full oracle.
    */
  def r32SpecWindowHeavy(spark: SparkSession, dir: String): DataFrame =
    runSpec(spark, dir,
      """{"id":"window-heavy-from-config","processingMode":"SIMPLE_STREAM",
         |"sourceTopic":{"name":"events","keyClass":"java.lang.Long"},
         |"transform":[{"op":"heavy_hitters","column":"user_id","minCount":3,
         |  "timeColumn":"ts","every":"1 hour"}],
         |"outputTopic":{"enabled":true,"name":"events-window-heavy"}}""".stripMargin)
      .select("window_start", "item", "cnt")

  /** Spec-level WINDOWED HLL distinct rollup — the incrementally-maintained
    * sketch table (one mergeable HLL per (hour, event_type) cell; the same
    * spec streams into the snapshot sink, pinned stream==batch in
    * StreamRunnerSpec). Rows-only: HLL estimates are engine-specific;
    * the sketch column is dropped from the query row (binary artifact).
    */
  def r32SpecWindowDistinct(spark: SparkSession, dir: String): DataFrame =
    runSpec(spark, dir,
      """{"id":"window-distinct-from-config","processingMode":"SIMPLE_STREAM",
         |"sourceTopic":{"name":"events","keyClass":"java.lang.Long"},
         |"transform":[{"op":"distinct_rollup","groupColumns":["event_type"],
         |  "column":"user_id","timeColumn":"ts","every":"1 hour"}],
         |"outputTopic":{"enabled":true,"name":"events-window-distinct"}}""".stripMargin)
      .select("window_start", "event_type", "n_distinct", "n_rows")

  /** Spec-level WINDOWED quantile rollup — the percentile analogue of the
    * windowed distinct rollup (mergeable centroid sketch per cell,
    * estimates emitted per cell). Rows-only: sketch estimates are
    * engine-specific, rank accuracy pinned in InterpreterSpec.
    */
  def r32SpecWindowQuantile(spark: SparkSession, dir: String): DataFrame =
    runSpec(spark, dir,
      """{"id":"window-quantile-from-config","processingMode":"SIMPLE_STREAM",
         |"sourceTopic":{"name":"events","keyClass":"java.lang.Long"},
         |"transform":[{"op":"quantile_rollup","groupColumns":["event_type"],
         |  "column":"value","quantiles":[0.5,0.9],
         |  "timeColumn":"ts","every":"1 hour"}],
         |"outputTopic":{"enabled":true,"name":"events-window-quantile"}}""".stripMargin)
      .select("window_start", "event_type", "p50", "p90", "n_rows")

  /** Sliding variant of the windowed heavy hitters (r32): 1-hour windows
    * hopping every 15 minutes — each event lands in 4 overlapping cells.
    * Still exact per-cell counts, so it gets a full oracle (DuckDB
    * generates each event's 4 epoch-anchored window starts explicitly).
    */
  def r33SpecSlidingHeavy(spark: SparkSession, dir: String): DataFrame =
    runSpec(spark, dir,
      """{"id":"sliding-heavy-from-config","processingMode":"SIMPLE_STREAM",
         |"sourceTopic":{"name":"events","keyClass":"java.lang.Long"},
         |"transform":[{"op":"heavy_hitters","column":"user_id","minCount":3,
         |  "timeColumn":"ts","every":"1 hour","slide":"15 minutes"}],
         |"outputTopic":{"enabled":true,"name":"events-sliding-heavy"}}""".stripMargin)
      .select("window_start", "item", "cnt")

  /** Session-windowed grouped top-k (r33): cells are gap-merged sessions
    * per user (5-minute inactivity), top-2 events by value within each —
    * the per-session curation shape (e.g. best examples per browsing
    * burst). Exact, so it gets a full oracle (DuckDB sessionizes with the
    * same lag/sum break trick as the r11 session oracle).
    */
  def r33SpecSessionTopk(spark: SparkSession, dir: String): DataFrame =
    runSpec(spark, dir,
      """{"id":"session-topk-from-config","processingMode":"SIMPLE_STREAM",
         |"sourceTopic":{"name":"events","keyClass":"java.lang.Long"},
         |"transform":[{"op":"top_k","k":2,"byColumn":"value",
         |  "idColumn":"event_id","groupColumns":["user_id"],
         |  "timeColumn":"ts","every":"5 minutes","windowType":"session"}],
         |"outputTopic":{"enabled":true,"name":"events-session-topk"}}""".stripMargin)
      .filter(col("user_id").isNotNull)
      .select("window_start", "user_id", "rank", "event_id", "value")

  /** Sliding variant of the windowed HLL distinct rollup (r34 — the sketch
    * family's window-type triad, matching what r33 did for top-k/heavy):
    * 1-hour windows hopping every 15 minutes, one mergeable HLL per
    * (sliding cell, event_type). Each event lands in 4 overlapping cells —
    * state and emission scale by every/slide, the declared trade. Accuracy
    * contract: every cell's estimate within ±5% of the exact per-cell
    * distinct (Accuracy.checks), cell count oracle-checked.
    */
  def r34SpecSlidingDistinct(spark: SparkSession, dir: String): DataFrame =
    runSpec(spark, dir,
      """{"id":"sliding-distinct-from-config","processingMode":"SIMPLE_STREAM",
         |"sourceTopic":{"name":"events","keyClass":"java.lang.Long"},
         |"transform":[{"op":"distinct_rollup","groupColumns":["event_type"],
         |  "column":"user_id","timeColumn":"ts","every":"1 hour",
         |  "slide":"15 minutes"}],
         |"outputTopic":{"enabled":true,"name":"events-sliding-distinct"}}""".stripMargin)
      .select("window_start", "event_type", "n_distinct", "n_rows")

  /** Session-windowed quantile rollup (r34): per-user 5-minute-gap sessions
    * each carrying a mergeable centroid sketch of `value` — the
    * "percentiles per burst" shape (session_window + the native
    * QuantileSketchBuild aggregate, Append emission on streams). Accuracy
    * contract: every session's estimates within the rank-slack of the
    * session's exact order statistics, sessionized INDEPENDENTLY via the
    * lag/sum break walk — so the check also cross-pins Spark's
    * session_window merge rule; session count oracle-checked by the same
    * DuckDB walk the r33 session oracle uses.
    */
  def r34SpecSessionQuantile(spark: SparkSession, dir: String): DataFrame =
    runSpec(spark, dir,
      """{"id":"session-quantile-from-config","processingMode":"SIMPLE_STREAM",
         |"sourceTopic":{"name":"events","keyClass":"java.lang.Long"},
         |"transform":[{"op":"quantile_rollup","groupColumns":["user_id"],
         |  "column":"value","quantiles":[0.5,0.9],
         |  "timeColumn":"ts","every":"5 minutes","windowType":"session"}],
         |"outputTopic":{"enabled":true,"name":"events-session-quantile"}}""".stripMargin)
      .filter(col("user_id").isNotNull)
      .select("window_start", "user_id", "p50", "p90", "n_rows")

  /** Spec filter after AGGREGATION = HAVING semantics through the config
    * path (the predicate sees the aggregate output columns).
    */
  def r11Having(spark: SparkSession, dir: String): DataFrame =
    runSpecKeyed(spark, dir,
      """{"id":"events-per-user-having","processingMode":"AGGREGATION",
         |"sourceTopic":{"name":"events","keyClass":"java.lang.Long"},
         |"groupByKeyExtraction":{"source":"VALUE","fieldName":"user_id"},
         |"groupByKeyType":"java.lang.Long",
         |"filter":"count > 70",
         |"stateStoreName":"events-per-user-having-store",
         |"outputTopic":{"enabled":true,"name":"events-per-user-having"}}""".stripMargin,
      keyName = "user_id").withColumnRenamed("count", "cnt")

  /** R11/R12 AGGREGATION count by extracted key (FIXTURES.md B5). */
  def r11CountAgg(spark: SparkSession, dir: String): DataFrame =
    runSpecKeyed(spark, dir,
      """{"id":"events-per-user","processingMode":"AGGREGATION",
         |"sourceTopic":{"name":"events","keyClass":"java.lang.Long"},
         |"groupByKeyExtraction":{"source":"VALUE","fieldName":"user_id"},
         |"groupByKeyType":"java.lang.Long",
         |"stateStoreName":"events-per-user-store",
         |"outputTopic":{"enabled":true,"name":"events-per-user"}}""".stripMargin,
      keyName = "user_id").withColumnRenamed("count", "cnt")

  /** R11 generalized aggregation functions (sum/avg/min/max, the reference's
    * declared intent beyond the count stub, AggregationDefinition.java:38).
    */
  def r11AggMulti(spark: SparkSession, dir: String): DataFrame =
    runSpecKeyed(spark, dir,
      """{"id":"events-stats","processingMode":"AGGREGATION",
         |"sourceTopic":{"name":"events","keyClass":"java.lang.Long"},
         |"groupByKeyExtraction":{"source":"VALUE","fieldName":"event_type"},
         |"groupByKeyType":"java.lang.String",
         |"aggregations":[{"function":"count"},{"function":"sum","fieldName":"value"},
         |  {"function":"avg","fieldName":"value"},{"function":"min","fieldName":"value"},
         |  {"function":"max","fieldName":"value"}],
         |"stateStoreName":"events-stats-store",
         |"outputTopic":{"enabled":true,"name":"events-stats"}}""".stripMargin,
      keyName = "event_type").withColumnRenamed("count", "cnt")
      .withColumn("sum_value", round(col("sum_value"), 4))
      .withColumn("avg_value", round(col("avg_value"), 6))

  /** R11+X6 windowed AGGREGATION through the config path: the eventTime
    * extension adds a tumbling window (+ watermark when streaming) to the
    * spec-driven group-by — the scale-correct form of the reference's
    * unbounded per-key state store.
    */
  def r11WindowedAgg(spark: SparkSession, dir: String): DataFrame =
    runSpecKeyed(spark, dir,
      """{"id":"events-per-type-windowed","processingMode":"AGGREGATION",
         |"sourceTopic":{"name":"events","keyClass":"java.lang.Long"},
         |"groupByKeyExtraction":{"source":"VALUE","fieldName":"event_type"},
         |"groupByKeyType":"java.lang.String",
         |"aggregations":[{"function":"count"},{"function":"sum","fieldName":"value"}],
         |"eventTime":{"column":"ts","window":"10 minutes","watermark":"15 minutes"},
         |"stateStoreName":"events-windowed-store",
         |"outputTopic":{"enabled":true,"name":"events-windowed"}}""".stripMargin,
      keyName = "event_type").withColumnRenamed("count", "cnt")
      .withColumn("sum_value", round(col("sum_value"), 4))
      .select("window_start", "event_type", "cnt", "sum_value")

  /** R11+X6 session-windowed AGGREGATION through the config path
    * (`windowType: session`, window = inactivity gap): sessions merge while
    * events keep arriving within the gap — per-key sessionization as
    * declarative spec config.
    */
  def r11SessionAgg(spark: SparkSession, dir: String): DataFrame =
    runSpecKeyed(spark, dir,
      """{"id":"events-user-sessions","processingMode":"AGGREGATION",
         |"sourceTopic":{"name":"events","keyClass":"java.lang.Long"},
         |"groupByKeyExtraction":{"source":"VALUE","fieldName":"user_id"},
         |"groupByKeyType":"java.lang.Long",
         |"eventTime":{"column":"ts","window":"5 minutes","watermark":"15 minutes",
         |  "windowType":"session"},
         |"stateStoreName":"events-session-store",
         |"outputTopic":{"enabled":true,"name":"events-user-sessions"}}""".stripMargin,
      keyName = "user_id").withColumnRenamed("count", "cnt")
      .select(col("window_start").as("session_start"), col("user_id"), col("cnt"))

  /** R11+X6 sliding-windowed AGGREGATION through the config path
    * (`windowType: sliding`, `window` = width, `slide` = hop): each event
    * lands in window/slide overlapping windows — Spark's window(col, w, s)
    * with epoch-aligned starts.
    */
  def r11SlidingAgg(spark: SparkSession, dir: String): DataFrame =
    runSpecKeyed(spark, dir,
      """{"id":"events-per-type-sliding","processingMode":"AGGREGATION",
         |"sourceTopic":{"name":"events","keyClass":"java.lang.Long"},
         |"groupByKeyExtraction":{"source":"VALUE","fieldName":"event_type"},
         |"groupByKeyType":"java.lang.String",
         |"aggregations":[{"function":"count"},{"function":"sum","fieldName":"value"}],
         |"eventTime":{"column":"ts","window":"10 minutes","watermark":"15 minutes",
         |  "windowType":"sliding","slide":"5 minutes"},
         |"stateStoreName":"events-sliding-store",
         |"outputTopic":{"enabled":true,"name":"events-sliding"}}""".stripMargin,
      keyName = "event_type").withColumnRenamed("count", "cnt")
      .withColumn("sum_value", round(col("sum_value"), 4))
      .select("window_start", "event_type", "cnt", "sum_value")

  /** R16 JSON-string → object parse (JsonStringToObjectMapper ≅ from_json):
    * lenient mode — malformed/missing fields → null (SerdeFactory.java:30).
    */
  def r16JsonParse(spark: SparkSession, dir: String): DataFrame = {
    val ev = resolver(dir).stream(spark, graft.config.TopicConfig("events"))
    ev.select(col("event_id"),
      from_json(col("props"), org.apache.spark.sql.types.StructType.fromDDL("k INT")).getField("k").as("prop_k"))
  }

  /** R17 serde boundary round-trip: value → JSON → value must be lossless for
    * the engine's record model (to_json ∘ from_json = id on declared fields).
    */
  def r17SerdeRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val ev = resolver(dir).stream(spark, graft.config.TopicConfig("events"))
    val js = to_json(struct(col("user_id"), col("event_type")))
    ev.select(col("event_id"),
      from_json(js, org.apache.spark.sql.types.StructType.fromDDL("user_id BIGINT, event_type STRING")).as("v"))
      .select(col("event_id"), col("v.user_id").as("user_id"),
        col("v.event_type").as("event_type"))
  }

  /** R17/R19 generic-JSON value path: a topic with no declared value class
    * degrades to a string-keyed map (SerdeFactory.java:49-56 `Map<String,
    * Object>`) — `from_json` to MapType, field access by key lookup.
    */
  def r17GenericMap(spark: SparkSession, dir: String): DataFrame = {
    val ev = resolver(dir).stream(spark, graft.config.TopicConfig("events"))
    ev.select(col("event_id"),
      from_json(col("props"), org.apache.spark.sql.types.MapType(
        org.apache.spark.sql.types.StringType, org.apache.spark.sql.types.StringType))
        .as("m"))
      .select(col("event_id"), col("m").getItem("k").cast("int").as("prop_k"),
        size(map_keys(col("m"))).as("n_props"))
  }

  /** X5 quality filter: keep documents passing the standard cheap pretraining
    * filters (token count, mean token length, stopword floor) — the filter
    * composition a corpus pipeline runs before dedup.
    */
  /** The shared quality predicate (x5_quality_filter AND the x14 pipeline's
    * first stage — one definition so the two can't drift apart). Thresholds
    * chosen non-vacuous on the testdata: `n_tokens >= 12` removes ~2% of
    * docs at every SF (min is exactly 10), so the oracle actually pins the
    * filter dropping rows, per the non-vacuity discipline. Filter on the
    * ROUNDED avg — the oracles do too; filtering raw doubles and emitting
    * rounded ones would diverge at the boundary.
    */
  private def qualityPass(m: Map[String, org.apache.spark.sql.Column]): org.apache.spark.sql.Column =
    m("n_tokens") >= 12 && round(m("avg_token_len"), 6).between(2.0, 12.0)

  def x5QualityFilter(spark: SparkSession, dir: String): DataFrame = {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val m = TextAnalysis.qualityMetrics(col("text")).toMap
    docs.filter(qualityPass(m))
      .select(col("doc_id"), m("n_tokens").as("n_tokens"),
        round(m("avg_token_len"), 6).as("avg_token_len"),
        round(m("stopword_ratio"), 6).as("stopword_ratio"))
  }

  // ---------------------------------------------------------------- headline

  /** TPC-H Q1-shaped scan+agg (the flagship pricing-summary query). */
  def q1Agg(spark: SparkSession, dir: String): DataFrame = {
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
    li.filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        round(sum(col("l_quantity")), 4).as("sum_qty"),
        round(sum(col("l_extendedprice")), 4).as("sum_base_price"),
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 4).as("sum_disc_price"),
        round(avg(col("l_quantity")), 6).as("avg_qty"),
        round(avg(col("l_discount")), 6).as("avg_disc"),
        count(lit(1)).as("count_order"))
  }

  /** TPC-H Q3-shaped join+agg+top-N (shipping-priority style). */
  def q3TopRevenue(spark: SparkSession, dir: String): DataFrame = {
    val c = spark.read.parquet(s"$dir/customer.parquet")
    val o = spark.read.parquet(s"$dir/orders.parquet")
    val l = spark.read.parquet(s"$dir/lineitem.parquet")
    c.filter(col("c_mktsegment") === "BUILDING")
      .join(o, col("c_custkey") === col("o_custkey"))
      .join(l, col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("o_orderkey"), col("o_orderdate"))
      .agg(moneySum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"))
      .orderBy(col("revenue").desc, col("o_orderkey").asc)
      .limit(10)
  }

  /** TPC-H Q4-shaped EXISTS semi-join: count orders per priority in a date
    * range that have at least one returned lineitem. Exercises LeftSemi —
    * the one join type no other query covers: the orders side emits at most
    * once per match regardless of lineitem multiplicity, and the lineitem
    * side needs no aggregation/distinct before the join.
    */
  def q4OrderPriority(spark: SparkSession, dir: String): DataFrame = {
    val o = spark.read.parquet(s"$dir/orders.parquet")
    val l = spark.read.parquet(s"$dir/lineitem.parquet")
    o.filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1996-07-01").cast("timestamp"))
      .join(l.filter(col("l_returnflag") === "R"),
        col("o_orderkey") === col("l_orderkey"), "left_semi")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("order_count"))
  }

  /** TPC-H Q17-shaped correlated scalar subquery, run through the SQL
    * surface: revenue of line items whose quantity is below 20% of their
    * part's average. Exercises Catalyst's correlated-subquery decorrelation
    * (it rewrites to an aggregate + join — no per-row re-execution) — the
    * one query-construction path (correlated scalar subquery via
    * `spark.sql`) nothing else covers.
    */
  def q17SmallQty(spark: SparkSession, dir: String): DataFrame = {
    spark.read.parquet(s"$dir/lineitem.parquet").createOrReplaceTempView("graft_lineitem")
    spark.sql(
      """SELECT round(sum(l_extendedprice) / 7.0, 2) AS avg_yearly
        |FROM graft_lineitem l1
        |WHERE l_quantity < (SELECT 0.2 * avg(l_quantity) FROM graft_lineitem l2
        |                    WHERE l2.l_partkey = l1.l_partkey)""".stripMargin)
  }

  /** TPC-H Q5-shaped multi-join agg: revenue by nation where customer and
    * supplier share the nation (exercises supplier + all dims in one plan).
    */
  def q5NationRevenue(spark: SparkSession, dir: String): DataFrame = {
    val c = spark.read.parquet(s"$dir/customer.parquet")
    val o = spark.read.parquet(s"$dir/orders.parquet")
    val l = spark.read.parquet(s"$dir/lineitem.parquet")
    val s = spark.read.parquet(s"$dir/supplier.parquet")
    val n = spark.read.parquet(s"$dir/nation.parquet")
    val r = spark.read.parquet(s"$dir/region.parquet")
    c.join(o, col("c_custkey") === col("o_custkey"))
      .join(l, col("o_orderkey") === col("l_orderkey"))
      .join(s, col("l_suppkey") === col("s_suppkey") &&
        col("c_nationkey") === col("s_nationkey"))
      .join(n, col("s_nationkey") === col("n_nationkey"))
      .join(r, col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("n_name"))
      .agg(moneySum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"),
        count(lit(1)).as("n_items"))
  }

  /** TPC-H Q18-shaped "large orders": aggregate lineitems per order, keep
    * orders above a quantity threshold (HAVING), join customer detail back.
    * Exercises agg→filter-on-agg→join — the shape where a naive engine
    * re-scans; here the HAVING is a post-aggregation filter on one pass.
    */
  def q18LargeOrders(spark: SparkSession, dir: String): DataFrame = {
    val l = spark.read.parquet(s"$dir/lineitem.parquet")
    val o = spark.read.parquet(s"$dir/orders.parquet")
    val c = spark.read.parquet(s"$dir/customer.parquet")
    val big = l.groupBy(col("l_orderkey"))
      .agg(round(sum(col("l_quantity")), 4).as("total_qty"))
      .filter(col("total_qty") > 250)
    big.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .select(col("c_name"), col("o_orderkey").as("orderkey"),
        col("o_totalprice").as("totalprice"), col("total_qty"))
  }

  /** TPC-H Q22-flavored anti join: above-average-balance customers with no
    * BIG order (totalprice > 400k). Exercises the scalar aggregate subquery
    * (broadcast one-row cross) + left-anti join — at scale the anti join is
    * a hash join with only keys shuffled, never a NOT IN nested loop. The
    * totalprice predicate keeps the result non-vacuous on this fixture
    * (every customer HAS some order: the plain no-orders form compared
    * empty-vs-empty and pinned nothing; with it: 7 rows at sf0.001, 99 at
    * sf0.01).
    */
  def q22NoOrders(spark: SparkSession, dir: String): DataFrame = {
    val c = spark.read.parquet(s"$dir/customer.parquet")
    val o = spark.read.parquet(s"$dir/orders.parquet")
    val avgBal = c.agg(avg(col("c_acctbal")).as("avg_bal"))
    c.crossJoin(broadcast(avgBal))
      .filter(col("c_acctbal") > col("avg_bal"))
      .join(o.filter(col("o_totalprice") > 400000).select(col("o_custkey")),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .select(col("c_custkey").as("custkey"), col("c_name").as("name"),
        round(col("c_acctbal"), 2).as("acctbal"))
  }

  /** TPC-H Q7-shaped bilateral volume: revenue between two named nations by
    * ship year, in both directions. Exercises TWO instances of the same
    * dimension in one plan (supplier's nation and customer's nation are
    * separate aliases of `nation`) — the self-alias join no other query
    * covers — plus a disjunctive cross-dimension pair filter. The nation
    * filter is applied to each alias BEFORE its join, so only matching-
    * nation suppliers/customers reach the fact joins; both aliases
    * broadcast.
    */
  def q7NationVolume(spark: SparkSession, dir: String): DataFrame = {
    val l = spark.read.parquet(s"$dir/lineitem.parquet")
    val o = spark.read.parquet(s"$dir/orders.parquet")
    val c = spark.read.parquet(s"$dir/customer.parquet")
    val s = spark.read.parquet(s"$dir/supplier.parquet")
    val n = spark.read.parquet(s"$dir/nation.parquet")
    val pair = Seq("NATION_1", "NATION_2")
    val n1 = n.filter(col("n_name").isin(pair: _*))
      .select(col("n_nationkey").as("s_nk"), col("n_name").as("supp_nation"))
    val n2 = n.filter(col("n_name").isin(pair: _*))
      .select(col("n_nationkey").as("c_nk"), col("n_name").as("cust_nation"))
    s.join(n1, col("s_nationkey") === col("s_nk"))
      .join(l, col("s_suppkey") === col("l_suppkey"))
      .join(o, col("o_orderkey") === col("l_orderkey"))
      .join(c, col("c_custkey") === col("o_custkey"))
      .join(n2, col("c_nationkey") === col("c_nk"))
      .filter(col("supp_nation") =!= col("cust_nation"))
      .groupBy(col("supp_nation"), col("cust_nation"),
        year(col("l_shipdate")).as("yr"))
      .agg(moneySum(col("l_extendedprice") * (lit(1) - col("l_discount")))
        .as("revenue"))
  }

  /** TPC-H Q8-shaped market share: one nation's fraction of a region's
    * part-type revenue per order year. Exercises a per-group conditional
    * ratio (sum(CASE)/sum — q14 does it globally, this per group) over the
    * widest join in the suite (7 tables, two nation aliases). All dims
    * broadcast; the only exchange is the final year aggregation.
    */
  def q8MarketShare(spark: SparkSession, dir: String): DataFrame = {
    val l = spark.read.parquet(s"$dir/lineitem.parquet")
    val o = spark.read.parquet(s"$dir/orders.parquet")
    val c = spark.read.parquet(s"$dir/customer.parquet")
    val s = spark.read.parquet(s"$dir/supplier.parquet")
    val p = spark.read.parquet(s"$dir/part.parquet")
    val n = spark.read.parquet(s"$dir/nation.parquet")
    val r = spark.read.parquet(s"$dir/region.parquet")
    val custNation = n.select(col("n_nationkey").as("c_nk"), col("n_regionkey").as("c_rk"))
    val suppNation = n.select(col("n_nationkey").as("s_nk"), col("n_name").as("supp_nation"))
    val vol = col("l_extendedprice") * (lit(1) - col("l_discount"))
    p.filter(col("p_type") === "ECONOMY")
      .join(l, col("p_partkey") === col("l_partkey"))
      .join(s, col("s_suppkey") === col("l_suppkey"))
      .join(o, col("l_orderkey") === col("o_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .join(custNation, col("c_nationkey") === col("c_nk"))
      .join(r.filter(col("r_name") === "ASIA"), col("c_rk") === col("r_regionkey"))
      .join(suppNation, col("s_nationkey") === col("s_nk"))
      .groupBy(year(col("o_orderdate")).as("yr"))
      .agg(round(
        sum(when(col("supp_nation") === "NATION_3", vol).otherwise(lit(0.0))) / sum(vol),
        6).as("mkt_share"))
  }

  /** TPC-H Q10-shaped returned-item report: per-customer revenue lost to
    * returns in a quarter, top 20. The group-by keys include three carried
    * dimension attributes (name, nation) — the "wide group key" shape where
    * a naive engine double-shuffles; here they ride the custkey aggregation.
    */
  def q10Returns(spark: SparkSession, dir: String): DataFrame = {
    val l = spark.read.parquet(s"$dir/lineitem.parquet")
    val o = spark.read.parquet(s"$dir/orders.parquet")
    val c = spark.read.parquet(s"$dir/customer.parquet")
    val n = spark.read.parquet(s"$dir/nation.parquet")
    c.join(o.filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1996-07-01").cast("timestamp")),
        col("c_custkey") === col("o_custkey"))
      .join(l.filter(col("l_returnflag") === "R"),
        col("l_orderkey") === col("o_orderkey"))
      .join(n, col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("c_custkey").as("custkey"), col("c_name").as("name"),
        col("n_name").as("nation"))
      // decimal-cast BEFORE the sum: the per-row double product is
      // deterministic, and the decimal sum is exact and order-independent —
      // round(sum(double), 2) sat on a half-cent boundary here (378060.515)
      // and rounded differently than the oracle depending on reduction order
      .agg(moneySum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"))
      .orderBy(col("revenue").desc, col("custkey").asc)
      .limit(20)
  }

  /** TPC-H Q12-shaped late-shipment tally by order priority: lineitems
    * shipped more than 60 days after their order date. Exercises
    * timestamp + interval arithmetic inside a join predicate's CASE — the
    * date-math shape nothing else covers. `count(CASE)`/`count(*)` (not
    * sum) keeps both engines in BIGINT.
    */
  def q12LateLines(spark: SparkSession, dir: String): DataFrame = {
    val l = spark.read.parquet(s"$dir/lineitem.parquet")
    val o = spark.read.parquet(s"$dir/orders.parquet")
    o.join(l, col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("o_orderpriority").as("priority"))
      .agg(
        count(when(col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAYS"),
          lit(1))).as("late_count"),
        count(lit(1)).as("total_count"))
  }

  /** TPC-H Q13-shaped order-count distribution: how many customers placed
    * exactly k (non-urgent) orders, including k = 0. Exercises the outer
    * join with a filter in the ON clause (push it to WHERE and the
    * zero-order customers vanish — a classic semantics trap) followed by a
    * second aggregation over the first's result.
    */
  def q13OrderDist(spark: SparkSession, dir: String): DataFrame = {
    val c = spark.read.parquet(s"$dir/customer.parquet")
    val o = spark.read.parquet(s"$dir/orders.parquet")
    c.join(o, col("c_custkey") === col("o_custkey") &&
        col("o_orderpriority") =!= "1-URGENT", "left_outer")
      .groupBy(col("c_custkey"))
      .agg(count(col("o_orderkey")).as("c_count"))
      .groupBy(col("c_count"))
      .agg(count(lit(1)).as("custdist"))
  }

  /** TPC-H Q15-shaped top supplier: the supplier(s) with maximum quarterly
    * revenue. The revenue view is consumed twice (max probe + detail join),
    * so it is persisted — per-supplier aggregate rows, tiny — and the max
    * rides a one-row broadcast EQUALITY join (equi hash, not a nested
    * loop). Ties all surface, as in the spec's view formulation.
    */
  def q15TopSupplier(spark: SparkSession, dir: String): DataFrame = {
    val l = spark.read.parquet(s"$dir/lineitem.parquet")
    val s = spark.read.parquet(s"$dir/supplier.parquet")
    // registered like the dedup-internal caches so an embedding application
    // (which never calls clearCache) can release it via
    // Dedup.releaseInternalCaches once the result is consumed
    val rev = Dedup.registerCache(
      l.filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1996-07-01").cast("timestamp"))
        .groupBy(col("l_suppkey"))
        .agg(moneySum(col("l_extendedprice") * (lit(1) - col("l_discount")))
          .as("total_revenue"))
        .persist())
    val maxRev = rev.agg(max(col("total_revenue")).as("max_rev"))
    rev.join(broadcast(maxRev), col("total_revenue") === col("max_rev"))
      .join(s, col("s_suppkey") === col("l_suppkey"))
      .select(col("s_suppkey").as("suppkey"), col("s_name").as("name"),
        col("total_revenue"))
  }

  /** TPC-H Q2-shaped cheapest-supplier-per-part (the fixture has no
    * partsupp, so unit cost is derived: min observed
    * extendedprice/quantity per (part, supplier)). The per-part minimum
    * rides an unordered agg WINDOW over the already-aggregated cost frame —
    * one extra exchange on partkey, no self-join, no second lineitem scan —
    * then ties join back to part/supplier detail. Exact double equality
    * against the window min is safe: both values come from the same
    * in-engine aggregation.
    */
  def q2MinCostSupplier(spark: SparkSession, dir: String): DataFrame = {
    val l = spark.read.parquet(s"$dir/lineitem.parquet")
    val s = spark.read.parquet(s"$dir/supplier.parquet")
    val p = spark.read.parquet(s"$dir/part.parquet")
    val cost = l.groupBy(col("l_partkey"), col("l_suppkey"))
      .agg(min(col("l_extendedprice") / col("l_quantity")).as("unit_cost"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("l_partkey"))
    cost.withColumn("min_cost", min(col("unit_cost")).over(w))
      .filter(col("unit_cost") === col("min_cost"))
      .join(p.filter(col("p_size") <= 3), col("p_partkey") === col("l_partkey"))
      .join(s, col("s_suppkey") === col("l_suppkey"))
      .select(col("p_partkey").as("partkey"), col("s_name").as("supplier"),
        // round through decimal, not double: double round disagrees with
        // the oracle by 1 ulp at exact .00005 midpoints (one sf1 row sits
        // on one); decimal HALF_UP at a fixed scale is engine-independent
        round(col("unit_cost").cast("decimal(18,6)"), 4).cast("double")
          .as("unit_cost"))
  }

  /** TPC-H Q9-shaped product profit by nation and order year (the fixture
    * has no partsupp, so supply cost is proxied as 60% of the part's retail
    * price). Exercises an arithmetic measure combining columns from THREE
    * join inputs (lineitem price, part cost, order year) — every other agg
    * derives its measure from one table.
    */
  def q9ProductProfit(spark: SparkSession, dir: String): DataFrame = {
    val l = spark.read.parquet(s"$dir/lineitem.parquet")
    val o = spark.read.parquet(s"$dir/orders.parquet")
    val s = spark.read.parquet(s"$dir/supplier.parquet")
    val p = spark.read.parquet(s"$dir/part.parquet")
    val n = spark.read.parquet(s"$dir/nation.parquet")
    p.filter(col("p_type") === "PROMO")
      .join(l, col("p_partkey") === col("l_partkey"))
      .join(s, col("s_suppkey") === col("l_suppkey"))
      .join(o, col("o_orderkey") === col("l_orderkey"))
      .join(n, col("s_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name").as("nation"), year(col("o_orderdate")).as("yr"))
      .agg(moneySum(col("l_extendedprice") * (lit(1) - col("l_discount")) -
        lit(0.6) * col("p_retailprice") * col("l_quantity")).as("sum_profit"))
  }

  /** TPC-H Q16-shaped supplier diversity: distinct suppliers per part
    * (brand, type, size) bucket, one brand excluded, sizes from an IN list
    * (lineitem stands in for partsupp). Exercises count(DISTINCT) keyed by
    * attributes of the JOINED dim, with the dim filters pushed to its scan.
    */
  def q16SupplierDiversity(spark: SparkSession, dir: String): DataFrame = {
    val l = spark.read.parquet(s"$dir/lineitem.parquet")
    val p = spark.read.parquet(s"$dir/part.parquet")
    p.filter(col("p_brand") =!= "Brand#1" && col("p_size").isin(1, 4, 7))
      .join(l, col("p_partkey") === col("l_partkey"))
      .groupBy(col("p_brand").as("brand"), col("p_type").as("type"),
        col("p_size").as("size"))
      .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
  }

  /** TPC-H Q20-shaped dominant suppliers: suppliers shipping more than 15%
    * of a promo part's total volume. The per-part total rides a window sum
    * over the per-(supplier, part) aggregate — one exchange, no second
    * lineitem scan, no self-join — then a semi join keeps matching
    * suppliers once each.
    */
  def q20DominantSuppliers(spark: SparkSession, dir: String): DataFrame = {
    val l = spark.read.parquet(s"$dir/lineitem.parquet")
    val s = spark.read.parquet(s"$dir/supplier.parquet")
    val p = spark.read.parquet(s"$dir/part.parquet")
    val shipped = l.groupBy(col("l_suppkey"), col("l_partkey"))
      .agg(sum(col("l_quantity")).as("qty"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("l_partkey"))
    val dominant = shipped.withColumn("total_qty", sum(col("qty")).over(w))
      .join(p.filter(col("p_type") === "PROMO"), col("p_partkey") === col("l_partkey"))
      .filter(col("qty") > lit(0.15) * col("total_qty"))
      .select(col("l_suppkey"))
    s.join(dominant, col("s_suppkey") === col("l_suppkey"), "left_semi")
      .select(col("s_suppkey").as("suppkey"), col("s_name").as("name"))
  }

  /** TPC-H Q21-shaped sole-blame suppliers: per supplier, the multi-supplier
    * orders where it was the ONLY one with a returned lineitem. Exercises a
    * group-derived predicate (per-order distinct-supplier tallies computed
    * once, then joined back to the fact as a filter) and a conditional
    * count(DISTINCT) — the decorrelated form of Q21's EXISTS/NOT-EXISTS
    * pair. The per-order aggregate is corpus-keyed (one partial-aggregated
    * shuffle on orderkey, reused by the join on the same key — no second
    * shuffle under AQE's exchange reuse).
    */
  def q21SoleBlame(spark: SparkSession, dir: String): DataFrame = {
    val l = spark.read.parquet(s"$dir/lineitem.parquet")
    val s = spark.read.parquet(s"$dir/supplier.parquet")
    // Distinct-free formulation: ONE (orderkey, suppkey) pre-aggregation
    // replaces all three countDistincts of the naive form (each distinct
    // agg is an Expand ×2 + a wider exchange; measured 5.2s → this shape).
    // Every later count is a plain count over the already key-distinct
    // frame: per-order supplier tallies roll up from its grouping-key
    // prefix, and the final per-supplier numwait counts rows of the deduped
    // frame itself — the raw lineitem table is scanned exactly once.
    val os = l.groupBy(col("l_orderkey"), col("l_suppkey"))
      .agg(max(when(col("l_returnflag") === "R", 1).otherwise(0)).as("ret"))
    val o = os.groupBy(col("l_orderkey").as("__ok"))
      .agg(count(lit(1)).as("nsupp"), sum(col("ret")).as("nret"))
    os.filter(col("ret") === 1)
      .join(o, col("l_orderkey") === col("__ok"))
      .filter(col("nsupp") >= 2 && col("nret") === 1)
      .join(s, col("s_suppkey") === col("l_suppkey"))
      .groupBy(col("s_suppkey").as("suppkey"), col("s_name").as("name"))
      .agg(count(lit(1)).as("numwait"))
  }

  /** TPC-H Q11-shaped important stock: per-part shipped value from ONE
    * nation's suppliers, kept only where it exceeds a multiple of the
    * corpus-wide average (the fixture has no partsupp, so "stock value" is
    * shipped `extendedprice * quantity`). Exercises the group-vs-global
    * scalar HAVING shape: the per-part aggregate crosses a 1-row broadcast
    * average — no second lineitem scan rides the cross (the scalar side
    * reuses the grouped exchange under AQE), and the threshold is
    * average-relative, so the query is scale-invariant (an absolute
    * fraction of the total goes to zero rows as the corpus grows).
    */
  def q11ImportantStock(spark: SparkSession, dir: String): DataFrame = {
    val l = spark.read.parquet(s"$dir/lineitem.parquet")
    val s = spark.read.parquet(s"$dir/supplier.parquet")
    val n = spark.read.parquet(s"$dir/nation.parquet")
    val natSupp = s.join(broadcast(n.filter(col("n_name") === "NATION_8")),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"))
    // exact decimal sums + a division-free threshold: `value > 2·avg` is
    // compared as `value·nparts > 2·total`, all in decimal arithmetic, so
    // the inclusion decision cannot flip with partitioning/plan shape or
    // between Spark and DuckDB (the q10 half-cent class of bug — a raw
    // double sum against a strict `>` threshold is order-dependent)
    val v = l.join(broadcast(natSupp), col("l_suppkey") === col("s_suppkey"), "left_semi")
      .groupBy(col("l_partkey"))
      .agg(sum((col("l_extendedprice") * col("l_quantity")).cast("decimal(18,6)"))
        .as("value"))
    v.crossJoin(broadcast(
        v.agg(sum(col("value")).as("tot"), count(lit(1)).as("nparts"))))
      .filter(col("value") * col("nparts") > lit(2) * col("tot"))
      .select(col("l_partkey").as("partkey"),
        round(col("value"), 2).cast("double").as("value"))
  }

  /** Bloom-filter pre-shuffle join pruning (X18): lineitem is filtered by a
    * bloom sketch of the selective orders subset BEFORE any exchange, then
    * joined for real — result bit-identical to the plain join (the oracle),
    * false positives die in the join. The manual form of Spark's runtime
    * row-level filter, for when the optimizer's thresholds decline or the
    * build side is a pre-computed frame.
    */
  def x18BloomJoin(spark: SparkSession, dir: String): DataFrame = {
    val l = spark.read.parquet(s"$dir/lineitem.parquet")
    val o = spark.read.parquet(s"$dir/orders.parquet")
      .filter(col("o_totalprice") > 450000)
    Scale.bloomPrunedJoin(l, o, "l_orderkey", "o_orderkey",
        expectedItems = 1000 * 1000)
      .select(col("l_orderkey").as("orderkey"), col("l_linenumber").as("linenumber"),
        col("l_quantity").as("qty"), col("o_totalprice").as("totalprice"))
  }

  /** Set operations over keyed extracts: high-value purchasers who also hit
    * high-value errors (INTERSECT) minus very-high-value signups (EXCEPT).
    * Spark plans both as aggregated semi/anti joins — no
    * distinct-then-join-twice double shuffle. The value thresholds make the
    * extracts PROPER subsets of the user population (verified non-vacuous
    * at sf0.001 and sf0.01: 12/15 and 112/150 users) — bare event-type
    * extracts were full sets on this fixture, so the oracle compared empty
    * against empty and pinned nothing.
    */
  def x10SetOps(spark: SparkSession, dir: String): DataFrame = {
    val ev = spark.read.parquet(s"$dir/events.parquet")
    def users(t: String, minValue: Double) =
      ev.filter(col("event_type") === t && col("value") > minValue).select(col("user_id"))
    users("purchase", 20).intersect(users("error", 20)).except(users("signup", 200))
  }

  /** Exact distinct-count aggregation (the reference's "count, sum, reduce,
    * etc." generalization applied to distinct cardinality).
    */
  def r11CountDistinct(spark: SparkSession, dir: String): DataFrame = {
    val ev = spark.read.parquet(s"$dir/events.parquet")
    ev.groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("n_users"),
        count(lit(1)).as("cnt"))
  }

  /** Exact interpolated percentiles per group (`percentile` ≡ SQL-standard
    * continuous quantile). The exact form is the oracle; at 100 TB swap to
    * `approx_percentile` (t-digest sketch, engine-specific like HLL).
    */
  def x6Percentiles(spark: SparkSession, dir: String): DataFrame = {
    val ev = spark.read.parquet(s"$dir/events.parquet")
    ev.groupBy(col("event_type")).agg(
      round(expr("percentile(value, 0.5)"), 6).as("p50"),
      round(expr("percentile(value, 0.95)"), 6).as("p95"))
  }

  /** Running per-customer revenue in order-date order — the cumulative
    * window-analytics shape (frame: unbounded preceding → current row,
    * deterministic via the unique orderkey tie-break).
    */
  def x11RunningTotal(spark: SparkSession, dir: String): DataFrame = {
    val o = spark.read.parquet(s"$dir/orders.parquet")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("o_custkey")).orderBy(col("o_orderdate"), col("o_orderkey"))
    o.select(col("o_custkey").as("custkey"), col("o_orderkey").as("orderkey"),
      round(sum(col("o_totalprice")).over(w), 4).as("running_total"))
  }

  /** Lag/lead deltas: each order's price change vs the customer's previous
    * order and the gap to the next — the offset-window functions no other
    * query exercises (x11 covers running frames, this covers lag/lead).
    */
  def x11LagDelta(spark: SparkSession, dir: String): DataFrame = {
    val o = spark.read.parquet(s"$dir/orders.parquet")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("o_custkey")).orderBy(col("o_orderdate"), col("o_orderkey"))
    o.select(col("o_custkey").as("custkey"), col("o_orderkey").as("orderkey"),
      round(col("o_totalprice") - lag(col("o_totalprice"), 1).over(w), 4)
        .as("delta_prev"),
      round(lead(col("o_totalprice"), 1).over(w) - col("o_totalprice"), 4)
        .as("delta_next"))
  }

  /** Ranking-function coverage: order-value deciles (ntile) and percentile
    * position (percent_rank) per market segment — the binning a training
    * pipeline uses for difficulty/quality stratification.
    */
  def x11Deciles(spark: SparkSession, dir: String): DataFrame = {
    val o = spark.read.parquet(s"$dir/orders.parquet")
    val c = spark.read.parquet(s"$dir/customer.parquet")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("c_mktsegment")).orderBy(col("o_totalprice"), col("o_orderkey"))
    o.join(c, col("o_custkey") === col("c_custkey"))
      .select(col("o_orderkey").as("orderkey"), col("c_mktsegment").as("segment"),
        ntile(10).over(w).as("decile"),
        round(percent_rank().over(w), 6).as("pct_rank"))
  }

  /** HLL approximate distinct (the at-scale form of r11_count_distinct —
    * sketch-based, rows-only check since HLL estimates are engine-specific).
    */
  def x6ApproxDistinct(spark: SparkSession, dir: String): DataFrame = {
    val ev = spark.read.parquet(s"$dir/events.parquet")
    // rsd 0.02, not the 0.05 default: the accuracy contract pins ±5% and
    // the default's ±5% STANDARD error sits exactly on that boundary — the
    // round-12 sf1 probe measured 5.07% at 15k distinct. ProbeHll measured
    // rsd 0.02 at 0.4% actual error here (bias-corrected HLL++ beats its
    // worst-case σ at this cardinality) for ~1.6× less agg cost than 0.01;
    // the register block stays constant-size per group at any corpus scale,
    // which is the whole point of the sketch
    ev.groupBy(col("event_type"))
      .agg(approx_count_distinct(col("user_id"), 0.02).as("approx_users"))
  }

  /** X6 mergeable-sketch rollup (rows-only: HLL estimates are
    * engine-specific; OperatorsSpec pins ±5% of exact): the per-type
    * sketch table answers the GLOBAL distinct-user question by unioning
    * stored sketches — the raw table is scanned once, the rollup reads
    * |cells| sketch rows. The 100 TB pattern for "distinct X by any slice".
    */
  def x6SketchRollup(spark: SparkSession, dir: String): DataFrame = {
    // persisted: BOTH rollups read the sketch table from cache — without it
    // the per-type and global branches would each rebuild every sketch from
    // raw data, the exact double scan the stored-sketch pattern exists to
    // avoid (in production the sketch table is a written artifact)
    // registered for Dedup.releaseInternalCaches like every other
    // query-internal persist — embedding applications don't clearCache
    val sk = Dedup.registerCache(graft.operators.Profile.distinctSketches(
      spark.read.parquet(s"$dir/events.parquet"), Seq("event_type"), "user_id")
      .persist())
    val per = graft.operators.Profile.rollupDistinct(sk, Seq("event_type"))
    val global = graft.operators.Profile.rollupDistinct(sk, Nil)
      .select(lit("__all__").as("event_type"), col("n_distinct"), col("n_rows"))
    per.unionByName(global)
  }

  /** X6 mergeable QUANTILE-sketch rollup (rows-only: centroid estimates are
    * engine-specific; OperatorsSpec pins ±1% of rank vs exact): the
    * percentile analogue of [[x6SketchRollup]] — a stored per-type sketch
    * table answers the GLOBAL percentile question by merging sketch rows,
    * scanning raw data once. Spark has no storable percentile summary
    * (`percentile_approx` is complete-mode only), so this rides the custom
    * equi-weight centroid aggregator (functions/QuantileSketch.scala).
    */
  def x6QuantileRollup(spark: SparkSession, dir: String): DataFrame = {
    // persisted for the same reason as x6SketchRollup: both the per-type
    // and global rollups read the sketch table, which in production is a
    // written artifact, not a recomputation
    val sk = Dedup.registerCache(graft.operators.Profile.quantileSketches(
      spark.read.parquet(s"$dir/events.parquet"), Seq("event_type"), "value")
      .persist())
    val per = graft.operators.Profile.rollupQuantiles(
      sk, Seq("event_type"), Seq(0.5, 0.9, 0.99))
    val global = graft.operators.Profile.rollupQuantiles(
      sk, Nil, Seq(0.5, 0.9, 0.99))
      .select(lit("__all__").as("event_type"),
        col("p50"), col("p90"), col("p99"), col("n_rows"))
    per.unionByName(global)
  }

  /** X26 MERGE-side rollup at cell scale (the round-11 bench row): one
    * quantile sketch per ORDER (~150k cells at sf0.1), every stored cell
    * merged to global percentiles plus a half-coarse resketch level — the
    * path where the native QuantileSketchMerge aggregate earns its port
    * (one aggregate call per CELL; the udaf(Aggregator) form paid encoder
    * traffic on each). Rows-only: sketch estimates, rank-pinned in
    * OperatorsSpec at every rollup level.
    */
  def x6QuantileMerge(spark: SparkSession, dir: String): DataFrame = {
    val sk = Dedup.registerCache(graft.operators.Profile.quantileSketches(
      spark.read.parquet(s"$dir/lineitem.parquet"), Seq("l_orderkey"),
      "l_extendedprice").persist())
    // two merge shapes over the same stored cells: the terminal estimate
    // (|cells| → 1) and a resketch level (|cells| → |cells|/~100 coarser
    // cells → 1), the daily→monthly→global pattern
    val direct = graft.operators.Profile.rollupQuantiles(
      sk, Nil, Seq(0.5, 0.95, 0.99))
      .select(lit("direct").as("path"), col("p50"), col("p95"), col("p99"),
        col("n_rows"))
    val coarse = sk.groupBy((col("l_orderkey") % 1024).as("bucket"))
      .agg(graft.functions.QuantileSketch.mergeSketches(col("qsketch")).as("qsketch"),
        sum(col("n_rows")).as("n_rows"))
    val twoLevel = graft.operators.Profile.rollupQuantiles(
      coarse, Nil, Seq(0.5, 0.95, 0.99))
      .select(lit("two_level").as("path"), col("p50"), col("p95"), col("p99"),
        col("n_rows"))
    direct.unionByName(twoLevel)
  }

  /** X2 embedding-cosine near-dup via hyperplane LSH (rows-only: LSH recall
    * is probabilistic; the oracle-exact form is x3_cosine_pairs_exact).
    */
  def x2EmbedDup(spark: SparkSession, dir: String): DataFrame = {
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
    // maxTables raised from the 64 default: this query declares a LOW
    // threshold (0.4 — the weak-similarity regime where the hyperplane-LSH
    // candidate exponent ρ approaches 1), and holding the 0.9-recall
    // contract at sf1's 20k vectors needs L≈143 tables (the auto-sizer's
    // own formula; at 64 it clamped and the round-12 probe measured the
    // predicted 0.69 recall). 256 keeps the contract through ~100k rows —
    // and the operator still logs loudly when even that clamp binds,
    // pointing at the exact pair join as the full-recall alternative
    Dedup.embeddingCosinePairs(e, "vec_id", "embedding", dim = 64,
      nTables = 24, planesPerTable = 4, threshold = 0.4, maxTables = 256)
      .select(col("id1"), col("id2"), round(col("cos"), 6).as("cos"))
  }

  /** Grouped top-k selection (keep the k best documents per group — the
    * training-data curation primitive) via the partial-aggregating
    * [[graft.functions.TopK]] heap: each map partition ships at most k rows
    * per group through the exchange, vs the window form shuffling and
    * sorting EVERY row. Oracle is the window form — same result, different
    * (scale-correct) plan.
    */
  def x12GroupTopk(spark: SparkSession, dir: String): DataFrame = {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    docs.groupBy(col("lang"))
      .agg(graft.functions.TopK.topk(
        col("n_chars").cast("double"), col("doc_id"), 3).as("top"))
      .select(col("lang"), posexplode(col("top")).as(Seq("rank0", "p")))
      .select(col("lang"), (col("rank0") + 1).cast("int").as("rank"),
        col("p._2").as("doc_id"), col("p._1").cast("long").as("n_chars"))
  }

  /** X5 document chunking: fixed-size token windows with stride — the prep
    * step before embedding/training long documents (map-side only, no
    * shuffle; see [[graft.operators.TextAnalysis.chunk]]).
    */
  def x5Chunks(spark: SparkSession, dir: String): DataFrame =
    graft.operators.TextAnalysis.chunk(
      spark.read.parquet(s"$dir/documents.parquet"), "doc_id", "text",
      size = 40, stride = 30)

  /** End-to-end training-data pipeline (the composition this engine exists
    * for): quality filter → exact-Jaccard near-dup collapse (keep min-id
    * representative) → stride chunking. Every stage is individually
    * oracle-verified (x5_quality_filter, x2_dedup_collapse, x5_chunks); this
    * query pins that they COMPOSE — filters push below the dedup, the CC
    * loop runs over the filtered corpus only, chunking is map-side on the
    * survivors.
    *
    * The filtered (doc_id, text) frame is PERSISTED. Its consumers after
    * the round-5 jaccard rewrite: the single scan that populates
    * [[Dedup.jaccardPairs]]' internal sorted-shingle cache, and the
    * keep/chunk branch — each re-running the regex quality pass when
    * uncached. Measured at sf0.1 WITH the jaccard-internal cache in place:
    * 2.6–2.9s uncached vs 2.1–2.2s persisted, so the cache wins (the
    * round-4 no-cache measurement predates the internal cache and is no
    * longer the relevant comparison). MEMORY_AND_DISK (corpus-sized at
    * scale — spills, never OOMs), registered for
    * [[Dedup.releaseInternalCaches]].
    */
  def x14TrainingPipeline(spark: SparkSession, dir: String): DataFrame = {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val m = TextAnalysis.qualityMetrics(col("text")).toMap
    val filtered = Dedup.registerCache(
      docs.filter(qualityPass(m)).select("doc_id", "text")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val pairs = Dedup.jaccardPairs(filtered, "doc_id", "text",
      shingleSize = 3, threshold = 0.8)
    val kept = Dedup.keepRepresentatives(filtered, "doc_id", pairs)
    TextAnalysis.chunk(kept, "doc_id", "text", size = 40, stride = 30)
  }

  /** X9 weighted source-mix resampling: full weight for src0, half src1,
    * quarter src2, a 10% floor for the rest — the mixture-reweighting pass
    * a training pipeline runs after dedup. Deterministic (no seed), so the
    * oracle replays the identical floor arithmetic.
    */
  def x9WeightedMix(spark: SparkSession, dir: String): DataFrame = {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    TextAnalysis.weightedMix(docs.select("doc_id", "source", "lang", "n_chars"),
      "source", "doc_id",
      weights = Map("src0" -> 1.0, "src1" -> 0.5, "src2" -> 0.25),
      defaultWeight = 0.1)
  }

  /** X19 benchmark-contamination screen: distinct-shingle overlap of every
    * corpus doc (doc_id ≥ 20) against the "eval set" (doc_id < 20). The
    * fixture's planted near-dups surface as contamination 1.0 — the leak
    * the screen exists to catch.
    */
  def x19Contamination(spark: SparkSession, dir: String): DataFrame = {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    TextAnalysis.contamination(
      docs.filter(col("doc_id") >= 20), docs.filter(col("doc_id") < 20),
      "doc_id", "text", shingleSize = 3)
  }

  /** X19 projection-form contamination: identical scores to
    * [[x19Contamination]] with ZERO shuffles — the benchmark's hashes ride
    * into every task as one sorted array (`set_overlap_count`). Streaming-
    * legal (stateless projection); same oracle as the join form.
    */
  def x19ContaminationStream(spark: SparkSession, dir: String): DataFrame = {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val hashes = TextAnalysis.benchShingleHashes(
      docs.filter(col("doc_id") < 20), "text", shingleSize = 3)
    TextAnalysis.contaminationStream(docs.filter(col("doc_id") >= 20), hashes,
      "doc_id", "text", shingleSize = 3)
  }

  // -------------------------------------------------------------- extensions

  /** X1 exact dedup on full text content: one representative (min doc_id). */
  def x1ExactDedup(spark: SparkSession, dir: String): DataFrame = {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    Dedup.exact(docs.select("text", "doc_id", "n_chars"), Seq("text"), "doc_id")
      .select("doc_id", "text", "n_chars")
  }

  /** X1 group-representative dedup: deterministic winner per (lang, source). */
  def x1GroupRep(spark: SparkSession, dir: String): DataFrame = {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    Dedup.exact(docs.select("lang", "source", "doc_id", "n_chars"),
      Seq("lang", "source"), "doc_id")
  }

  /** X2 exact n-gram-Jaccard near-dup pairs (threshold 0.8, 3-word shingles).
    * Oracle-exact inverted-index formulation; the MinHash-LSH variant below is
    * the at-scale approximation of this same operator.
    */
  def x2JaccardPairs(spark: SparkSession, dir: String): DataFrame =
    Dedup.jaccardPairs(spark.read.parquet(s"$dir/documents.parquet"),
      "doc_id", "text", shingleSize = 3, threshold = 0.8)

  /** X2 incremental cross-snapshot dedup: the newest 20% of documents
    * screened against the older 80% — exact cross-set Jaccard pairs, the
    * existing corpus never self-joined. The 80% cut is a bounded driver
    * scalar (one max() aggregate), mirrored by a scalar subquery in the
    * oracle with identical integer arithmetic.
    */
  def x2Incremental(spark: SparkSession, dir: String): DataFrame = {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val cut = (docs.agg(max(col("doc_id"))).head.getLong(0) + 1L) * 4L / 5L
    Dedup.jaccardPairsBetween(
      docs.filter(col("doc_id") >= cut), docs.filter(col("doc_id") < cut),
      "doc_id", "text", shingleSize = 3, threshold = 0.8)
  }

  /** Novelty-filter composition of [[x2Incremental]]: the new docs that
    * survive cross-snapshot screening (anti join on the matched set).
    */
  def x2IncrementalNovel(spark: SparkSession, dir: String): DataFrame = {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val cut = (docs.agg(max(col("doc_id"))).head.getLong(0) + 1L) * 4L / 5L
    Dedup.incrementalNovel(
      docs.filter(col("doc_id") >= cut), docs.filter(col("doc_id") < cut),
      "doc_id", "text", shingleSize = 3, threshold = 0.8)
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
  }

  /** X2 stop-shingle-capped Jaccard (the 100 TB skew path of
    * [[x2JaccardPairs]]): drops shingles whose posting list exceeds the cap
    * before the self-join. No testdata shingle reaches df 50 (measured max 9
    * at sf0.001, 7 at sf0.01), so the capped branch must reproduce the exact
    * result bit-for-bit — the SAME DuckDB oracle pins the whole alternate
    * code path (the sorted-array frame rebuilt from the filtered postings,
    * then the shared prefix-filtered join) non-vacuously.
    */
  def x2JaccardCapped(spark: SparkSession, dir: String): DataFrame =
    Dedup.jaccardPairs(spark.read.parquet(s"$dir/documents.parquet"),
      "doc_id", "text", shingleSize = 3, threshold = 0.8, maxShinglePostings = 50)

  /** X2 capped-bucket candidate semantics, oracle-pinned EXACTLY: the
    * production cap ([[Dedup.capBuckets]], the LSH quadratic-skew defuser)
    * runs on hash buckets a SQL oracle cannot reproduce, so its oracle
    * queries exercise it only at cap=0/no-op. Here the SAME operator runs
    * over a deterministic, SQL-expressible bucketing with built-in skew —
    * bucket = ⌊log2(doc_id+1)⌋, so bucket b holds 2^b docs — and cap=16
    * DEMONSTRABLY drops every bucket of 32+ docs while keeping the small
    * ones (non-vacuous both ways at sf0.01+). The log2 is computed
    * integer-exactly via length(bin(x))-1 in BOTH engines: floor(log(2,x))
    * on doubles can land on 2.9999… for exact powers of two and flip the
    * bucket cross-engine.
    */
  def x2CappedBuckets(spark: SparkSession, dir: String): DataFrame = {
    val banded = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id").as("id"),
        (length(bin(col("doc_id") + 1)) - 1).cast("long").as("bucket"))
    val capped = Dedup.capBuckets(banded, Seq("bucket"), cap = 16)
    val a = capped.as("a"); val b = capped.as("b")
    a.join(b, col("a.bucket") === col("b.bucket") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id1"), col("b.id").as("id2"), col("a.bucket").as("bucket"))
  }

  /** X2 character-n-gram Jaccard near-dup (8-char shingles over normalized
    * text) — the near-dup form that works on whitespace-poor scripts, via
    * the same prefix-filtered join with [[TextAnalysis.chars]] plugged in.
    * Docs shorter than one full window are excluded on both sides (the
    * whole-list-hash edge is not SQL-expressible).
    *
    * Char grams NEED the stop-shingle cap: common 8-char sequences ("n the
    * ", "ing and") appear in hundreds of documents, and the uncapped
    * posting join is quadratic in that df (measured 24s+ at sf0.1 vs ~2s
    * capped) — at corpus scale it is THE difference between feasible and
    * not. The ORACLE applies the identical df cap, so the filtered-universe
    * jaccard is pinned exactly, not just rows-counted.
    */
  def x2JaccardChar(spark: SparkSession, dir: String): DataFrame = {
    // the filter derives from the SAME normalization the tokenizer uses, so
    // "at least one full window" can't drift from it (the oracle filters on
    // length of its normalized text, which equals the chars-array size by
    // construction) — filtering on the normalized LENGTH instead of
    // size(chars(...)) is therefore identical, and skips materializing the
    // per-row char array in the filter pass (the shingle pass builds it
    // exactly once, after the filter has dropped the short rows)
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .filter(length(TextAnalysis.normChars(col("text"))) >= 8)
    Dedup.jaccardPairs(docs, "doc_id", "text", shingleSize = 8, threshold = 0.75,
      maxShinglePostings = 30, tokenize = TextAnalysis.chars)
  }

  /** X2 end-to-end dedup: near-dup pairs → connected components → keep the
    * min-id representative per cluster (the collapse step that makes pair
    * detection an actual dedup).
    */
  def x2DedupCollapse(spark: SparkSession, dir: String): DataFrame = {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val pairs = Dedup.jaccardPairs(docs, "doc_id", "text", shingleSize = 3, threshold = 0.8)
    Dedup.keepRepresentatives(docs.select("doc_id", "n_chars"), "doc_id", pairs)
  }

  /** X2 end-to-end dedup via the SCALE path: MinHash-LSH candidate pairs →
    * connected components → keep the min-id representative. Rows-only by
    * design (LSH estimates Jaccard from signatures); the oracle-exact
    * variant of the same composition is x2_dedup_collapse. This is the
    * shape a 100 TB corpus dedup actually runs: banded candidates, never
    * an all-pairs or posting-list self-join.
    */
  def x2DedupCollapseLsh(spark: SparkSession, dir: String): DataFrame = {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val pairs = Dedup.minhashLshPairs(docs, "doc_id", "text",
      shingleSize = 3, numHashes = 128, bands = 32, threshold = 0.7)
    Dedup.keepRepresentatives(docs.select("doc_id", "n_chars"), "doc_id", pairs)
  }

  /** X2 MinHash-LSH near-dup (scale path; sketch-estimated Jaccard). */
  def x2MinhashLsh(spark: SparkSession, dir: String): DataFrame =
    Dedup.minhashLshPairs(spark.read.parquet(s"$dir/documents.parquet"),
      "doc_id", "text", shingleSize = 3, numHashes = 128, bands = 32, threshold = 0.7)

  /** X2 SimHash near-dup (Hamming ≤ 3 over 64-bit sketches). */
  def x2Simhash(spark: SparkSession, dir: String): DataFrame =
    // the VERIFIED form (candidates ∩ exact-Jaccard ≥ 0.8): raw hamming≤3
    // banding is a candidate generator, not a dedup verdict — false 64-bit
    // sketch collisions grow ∝ n² and its precision measured 0.27 at sf1
    // (round-12 probe). Verification is ∝ |candidates| and restores
    // precision 1.0 at every scale — see Dedup.simhashVerifiedPairs
    Dedup.simhashVerifiedPairs(spark.read.parquet(s"$dir/documents.parquet"),
      "doc_id", "text", maxHamming = 3, shingleSize = 3, threshold = 0.8)

  /** X3 exact all-pairs embedding cosine ≥ 0.4 (oracle-exact; LSH variant is
    * the 100 TB path).
    */
  def x3CosinePairsExact(spark: SparkSession, dir: String): DataFrame = {
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val a = e.as("a"); val b = e.as("b")
    a.join(b, col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("id1"), col("b.vec_id").as("id2"),
        graft.functions.VectorFunctions.cosine_sim(col("a.v"), col("b.v")).as("cos"))
      .filter(col("cos") >= 0.4)
      .select(col("id1"), col("id2"), round(col("cos"), 6).as("cos"))
  }

  /** X3 exact brute-force cosine top-k for a fixed query set (vec_id < 5). */
  def x3KnnExact(spark: SparkSession, dir: String): DataFrame = {
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
    Similarity.bruteForceTopK(e, e.filter(col("vec_id") < 5), "vec_id", "embedding", k = 10)
      .select(col("query_id"), col("rank"), col("neighbor_id"), round(col("cos"), 6).as("cos"))
  }

  /** X3 int8-quantized top-k with exact re-rank. Oracle-EXACT (same SQL as
    * x3_knn_exact): the sketch only proposes k·refine candidates, the true
    * cosine picks the final k, and the spec pins that the widened
    * candidate set never loses a true top-10 neighbor on this fixture —
    * so unlike IVF/LSH this approximate path still hash-matches DuckDB.
    */
  def x3KnnQuantized(spark: SparkSession, dir: String): DataFrame = {
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
    Similarity.quantizedTopK(e, e.filter(col("vec_id") < 5), "vec_id", "embedding",
        k = 10, refine = 4)
      .select(col("query_id"), col("rank"), col("neighbor_id"), round(col("cos"), 6).as("cos"))
  }

  /** X3 IVF-style ANN (approximate — rows-only check; recall measured in tests). */
  def x3AnnIvf(spark: SparkSession, dir: String): DataFrame = {
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
    // nCells/nProbe auto-sized (√n rule): the fixed 16/4 this query shipped
    // through round 11 held recall 0.9+ at sf0.1 but decayed to 0.78 at sf1
    // (1250 vectors/cell) — the round-12 scale-accuracy fix makes the cell
    // grid grow with the corpus, so the recall contract holds at any SF
    Similarity.ivfTopK(e, e.filter(col("vec_id") < 5), "vec_id", "embedding",
      k = 10, nAssign = 2)
  }

  /** X3 LSH-bucketed ANN (approximate — rows-only check; recall measured in
    * tests). The training-free alternative to [[x3AnnIvf]]: same query set
    * and k, hyperplane buckets instead of k-means cells.
    */
  def x3AnnLsh(spark: SparkSession, dir: String): DataFrame = {
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
    Similarity.lshTopK(e, e.filter(col("vec_id") < 5), "vec_id", "embedding",
      k = 10, dim = 64, nTables = 16, planesPerTable = 4)
  }

  /** X4 multimodal: blob table → stubbed decode → per-media features. */
  def x4Multimodal(spark: SparkSession, dir: String): DataFrame = {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    Multimodal.extractFeatures(Multimodal.asBlobTable(docs, "doc_id", "text"))
      .select("media_id", "mime", "n_bytes", "content_hash")
  }

  /** X4 resize contract: payload-size/metadata transform of the stub resize
    * kernel is oracle-checkable even though the codec is stubbed — the
    * byte-budget arithmetic and metadata rewrite are the real operator.
    */
  def x4Resize(spark: SparkSession, dir: String): DataFrame = {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    Multimodal.resizeStub(Multimodal.asBlobTable(docs, "doc_id", "text"), 160, 120)
      .select(col("media_id"), octet_length(col("payload")).cast("long").as("n_bytes"),
        col("meta.width").as("width"), col("meta.height").as("height"))
  }

  /** X4 frame-sampling shape over stub durations (one row per sampled frame). */
  def x4FrameSample(spark: SparkSession, dir: String): DataFrame = {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    Multimodal.sampleFrames(Multimodal.asBlobTable(docs, "doc_id", "text"), strideMs = 1000L)
      .select("media_id", "frame_ts_ms")
  }

  /** X5 text statistics (token counts, quality ratios). */
  def x5TextStats(spark: SparkSession, dir: String): DataFrame = {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val t = col("text")
    val m = TextAnalysis.qualityMetrics(t).toMap
    docs.select(col("doc_id"), m("n_chars").as("n_chars"), m("n_tokens").as("n_tokens"),
      round(m("avg_token_len"), 6).as("avg_token_len"),
      round(m("punct_ratio"), 6).as("punct_ratio"),
      round(m("stopword_ratio"), 6).as("stopword_ratio"),
      size(TextAnalysis.lexTokens(t)).cast("long").as("n_lex_tokens"))
  }

  /** X5 language ID (marker-token heuristic, deterministic tie-breaks). */
  def x5LangId(spark: SparkSession, dir: String): DataFrame = {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    docs.select(col("doc_id"), TextAnalysis.langId(col("text")).as("lang_pred"))
  }

  /** X5 document fingerprint (rolling hash, native expression; rows-only). */
  def x5Fingerprint(spark: SparkSession, dir: String): DataFrame = {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    docs.select(col("doc_id"), TextAnalysis.fingerprint(col("text")).as("fingerprint"))
  }

  /** X5 TF-IDF per (doc, term) — classic tf · ln(N/df). */
  def x5Tfidf(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.tfidf(spark.read.parquet(s"$dir/documents.parquet"), "doc_id", "text")

  /** X3 via the SQL surface: engine expressions registered as SQL functions
    * (GraftExtensions/GraftFunctions) driving a pure-SQL top-k ANN query.
    */
  def x3SqlKnn(spark: SparkSession, dir: String): DataFrame = {
    GraftFunctions.register(spark)
    spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
      .createOrReplaceTempView("graft_embeddings")
    spark.sql(
      """SELECT query_id, rank, neighbor_id, round(cos, 6) AS cos FROM (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |         cosine_sim(q.embedding, c.embedding) AS cos,
        |         row_number() OVER (PARTITION BY q.vec_id
        |           ORDER BY cosine_sim(q.embedding, c.embedding) DESC, c.vec_id ASC) AS rank
        |  FROM graft_embeddings q JOIN graft_embeddings c ON c.vec_id <> q.vec_id
        |  WHERE q.vec_id < 3)
        |WHERE rank <= 5""".stripMargin)
  }

  /** X6 tumbling-window aggregation over event time (batch form; the
    * streaming form with watermark is StreamingTables.windowedCounts).
    */
  def x6WindowAgg(spark: SparkSession, dir: String): DataFrame = {
    val ev = resolver(dir).stream(spark, graft.config.TopicConfig("events"))
    ev.groupBy(window(col("ts"), "10 minutes"), col("event_type"))
      .agg(count(lit(1)).as("cnt"), round(sum(col("value")), 4).as("sum_value"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("cnt"), col("sum_value"))
  }

  /** X6 session windows (5-minute gap) per user. */
  def x6SessionWindow(spark: SparkSession, dir: String): DataFrame = {
    val ev = resolver(dir).stream(spark, graft.config.TopicConfig("events"))
    ev.groupBy(session_window(col("ts"), "5 minutes"), col("user_id"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("session_window.start").as("session_start"), col("user_id"), col("cnt"))
  }

  /** X6 sliding windows (10-minute window, 5-minute slide): each event lands
    * in two overlapping windows.
    */
  def x6SlidingWindow(spark: SparkSession, dir: String): DataFrame = {
    val ev = resolver(dir).stream(spark, graft.config.TopicConfig("events"))
    ev.groupBy(window(col("ts"), "10 minutes", "5 minutes"), col("event_type"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("window.start").as("window_start"), col("event_type"), col("cnt"))
  }

  /** Explicit GROUPING SETS with grouping_id disambiguation: per-flag and
    * per-status marginals plus the grand total in one pass — arbitrary set
    * lists (not the rollup/cube hierarchies) and the grouping-id function,
    * which is how a consumer tells a real NULL group from a subtotal row.
    */
  def q6GroupingSets(spark: SparkSession, dir: String): DataFrame = {
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
    li.groupingSets(
        Seq(Seq(col("l_returnflag")), Seq(col("l_linestatus")), Seq()),
        col("l_returnflag"), col("l_linestatus"))
      .agg(grouping_id().as("gid"), count(lit(1)).as("cnt"),
        round(sum(col("l_quantity")), 4).as("sum_qty"))
  }

  /** TPC-H Q14-shaped conditional-aggregation ratio: promo revenue share in
    * a month — `sum(CASE ...)/sum(...)` in one aggregate pass (no second
    * scan, no join back), the standard shape for rate/share metrics.
    */
  def q14PromoShare(spark: SparkSession, dir: String): DataFrame = {
    val l = spark.read.parquet(s"$dir/lineitem.parquet")
    val p = spark.read.parquet(s"$dir/part.parquet")
    val rev = col("l_extendedprice") * (lit(1) - col("l_discount"))
    l.filter(col("l_shipdate") >= lit("1996-03-01").cast("timestamp") &&
        col("l_shipdate") < lit("1996-04-01").cast("timestamp"))
      .join(p, col("l_partkey") === col("p_partkey"))
      .agg(round(lit(100.0) *
        sum(when(col("p_type").startsWith("PROMO"), rev).otherwise(lit(0.0))) /
        sum(rev), 4).as("promo_revenue_pct"))
  }

  /** TPC-H Q19-shaped disjunctive-predicate join: revenue from three OR'd
    * (brand, size-range, quantity-range) branches — Catalyst must keep the
    * equi-key (partkey) join hash-based and evaluate the OR as a post-join
    * filter, not fall into a nested loop (covered by the PlanSpec sweep).
    */
  def q19DisjunctiveRevenue(spark: SparkSession, dir: String): DataFrame = {
    val l = spark.read.parquet(s"$dir/lineitem.parquet")
    val p = spark.read.parquet(s"$dir/part.parquet")
    val branch1 = col("p_brand") === "Brand#1" &&
      col("p_size").between(1, 15) && col("l_quantity").between(1, 11)
    val branch2 = col("p_brand") === "Brand#2" &&
      col("p_size").between(1, 25) && col("l_quantity").between(10, 20)
    val branch3 = col("p_brand") === "Brand#3" &&
      col("p_size").between(1, 35) && col("l_quantity").between(20, 30)
    l.join(p, col("l_partkey") === col("p_partkey"))
      .filter(branch1 || branch2 || branch3)
      .agg(moneySum(col("l_extendedprice") * (lit(1) - col("l_discount")))
        .as("revenue"))
  }

  /** Hierarchical rollup aggregation (subtotals + grand total). */
  def q6Rollup(spark: SparkSession, dir: String): DataFrame = {
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
    li.rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("cnt"), round(sum(col("l_quantity")), 4).as("sum_qty"))
  }

  /** Cube: all grouping-set combinations over (returnflag, linestatus) —
    * completes the grouping-sets surface next to [[q6Rollup]]'s hierarchy.
    */
  def q6Cube(spark: SparkSession, dir: String): DataFrame = {
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
    li.cube(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("cnt"), round(sum(col("l_quantity")), 4).as("sum_qty"))
  }

  /** Pivot: per-user event-type counts as columns (explicit value list →
    * deterministic schema, the scale-safe pivot form).
    */
  def x8Pivot(spark: SparkSession, dir: String): DataFrame = {
    val ev = resolver(dir).stream(spark, graft.config.TopicConfig("events"))
    ev.groupBy(col("user_id"))
      .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
      .agg(count(lit(1)))
      .na.fill(0L)
  }

  /** Unpivot (melt): the four lineitem measures to long form — the inverse
    * of [[x8Pivot]] and the normalize step feature pipelines run before
    * per-metric aggregation. Spark's native `unpivot` (map-only Expand, no
    * shuffle); keyed to a small order subset so the oracle compare stays
    * bounded.
    */
  def x8Unpivot(spark: SparkSession, dir: String): DataFrame = {
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
      .filter(col("l_orderkey") < 1000)
    li.unpivot(
      Array(col("l_orderkey"), col("l_linenumber")),
      Array(col("l_quantity"), col("l_extendedprice"), col("l_discount"), col("l_tax")),
      "measure", "value")
  }

  /** X15 bucketed range join: events matched to the 10-minute windows opened
    * by every 50th event of the same user. The direct BETWEEN theta-join is
    * a nested-loop at scale; [[graft.operators.RangeJoin.pointInInterval]]
    * turns it into an equi hash join on (time-bucket, user) plus an exact
    * refinement — the oracle IS the BETWEEN join, so the rewrite is pinned
    * result-identical (same discipline as x13_salted_join).
    */
  def x15RangeJoin(spark: SparkSession, dir: String): DataFrame = {
    val ev = resolver(dir).stream(spark, graft.config.TopicConfig("events"))
    val iv = ev.filter(col("event_id") % 50 === 0)
      .select(col("user_id"), col("event_id").as("iv_id"), col("ts").as("w_start"),
        (col("ts") + expr("INTERVAL 10 MINUTES")).as("w_end"))
    graft.operators.RangeJoin.pointInInterval(
      ev.select("event_id", "user_id", "ts"), iv,
      ts = "ts", start = "w_start", end = "w_end",
      bucketWidthSec = 600, keys = Seq("user_id"))
      .select(col("event_id"), col("iv_id"), col("user_id"))
  }

  /** X16 column profile: per-column non-null/distinct counts over documents
    * in one Expand pass — the data-quality summary run around every pipeline
    * stage.
    */
  def x16Profile(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Profile.columnStats(
      spark.read.parquet(s"$dir/documents.parquet"),
      Seq("doc_id", "text", "lang", "source", "n_chars"))

  /** X29 snapshot drift: exact per-column distribution drift between two
    * corpus snapshots — here the events table split at a fixed date (the
    * deterministic stand-in for crawl N vs crawl N+1): numeric drift on
    * `value` (count / null rate / mean / stddev / min / max as old, new,
    * delta rows) and the exact frequency-vector L1 distance on
    * `event_type`. The pre-retrain data-quality gate: a shifted value
    * distribution or collapsed category is caught before any GPU hours.
    */
  def x29Drift(spark: SparkSession, dir: String): DataFrame = {
    val ev = spark.read.parquet(s"$dir/events.parquet")
      .withColumn("__t", col("ts").cast("timestamp"))
    val split = lit("2024-01-16").cast("timestamp")
    graft.operators.Drift.driftReport(
      ev.filter(col("__t") < split), ev.filter(col("__t") >= split),
      Seq("value"), Seq("event_type"))
  }

  /** X29 binned-distribution drift + PSI: the same date split, exact
    * fixed-bin histogram fractions (10 bins over value ∈ [10, 110), plus
    * under/over bins — the fixture populates both) and the Population
    * Stability Index summary row. The ≤ nBins+2-row exchange per side is
    * the whole shuffle; the oracle computes identical bins (same IEEE
    * double expression) and the same ε-clamped PSI in DuckDB.
    */
  def x29DriftHist(spark: SparkSession, dir: String): DataFrame = {
    val ev = spark.read.parquet(s"$dir/events.parquet")
      .withColumn("__t", col("ts").cast("timestamp"))
    val split = lit("2024-01-16").cast("timestamp")
    graft.operators.Drift.histogramDrift(
      ev.filter(col("__t") < split), ev.filter(col("__t") >= split),
      "value", lo = 10.0, hi = 110.0, nBins = 10)
  }

  /** X29 embedding-distribution drift: the same snapshot discipline over a
    * VECTOR column — row count / mean L2 norm / centroid cosine-shift /
    * centroid L2 distance between two snapshots of the embeddings table
    * (new side drops cluster labels 8–9: the deterministic stand-in for a
    * vanished cluster or a re-embedded corpus). This is the drift the
    * scalar legs cannot see at all — every scalar column sits still while
    * the embedding distribution moves. One scan per side; the exchange is
    * ≤ dim rows regardless of corpus size.
    */
  def x29EmbedDrift(spark: SparkSession, dir: String): DataFrame = {
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
    graft.operators.Drift.embeddingDrift(
      e, e.filter(col("label") < 8), "embedding")
  }

  /** X29 per-group embedding drift: [[x29EmbedDrift]]'s fixture stratified
    * by cluster label — the report that answers WHICH slice moved. The
    * eight surviving clusters report `centroid_shift` exactly 0.0 on
    * their own rows while the two dropped ones carry the maximal 2.0 with
    * their exact vanished counts; the global form reports one diluted
    * 0.129 for the same snapshots.
    */
  def x29EmbedDriftGroup(spark: SparkSession, dir: String): DataFrame = {
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
    graft.operators.Drift.embeddingDriftByGroup(
      e, e.filter(col("label") < 8), "embedding", "label")
  }

  /** X21 exact heavy hitters: tokens appearing in ≥0.5% of the corpus's
    * token stream, with exact counts. Misra–Gries candidate sketch (bounded
    * map-side state, ≤k-row exchange) + exact broadcast recount — the
    * result is oracle-identical to the naive groupBy+HAVING, which is what
    * the DuckDB oracle runs.
    */
  def x21HeavyHitters(spark: SparkSession, dir: String): DataFrame = {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    // array form: the sketch ingests one token ARRAY per document (the
    // per-row udaf cost amortizes over the document length); result is
    // identical to the exploded-stream form, which OperatorsSpec pins
    graft.operators.Profile.heavyHittersFromArrays(
      docs.select(TextAnalysis.tokens(col("text")).as("toks")), "toks",
      minFraction = 0.005)
  }

  /** X22 PII redaction: contact-shaped text synthesized deterministically
    * from customer columns (the fixture corpus contains no PII, so the
    * query manufactures emails/phones/IPs the same way in both engines),
    * scrubbed by the chained-regexp redactor. Map-only — the oracle runs
    * the identical construction + replacement chain in DuckDB, pinning
    * cross-engine regex parity of the portable patterns.
    */
  def x22PiiRedact(spark: SparkSession, dir: String): DataFrame = {
    val c = spark.read.parquet(s"$dir/customer.parquet")
    val msg = concat(
      lit("Contact "), col("c_name"),
      lit(" <"), lower(regexp_replace(col("c_name"), "#", ".")), lit("@example.com>"),
      lit(" or +1-555-"), lpad((col("c_custkey") % 10000).cast("string"), 4, "0"),
      lit(" from 192.168."), (col("c_custkey") % 256).cast("string"),
      lit("."), col("c_nationkey").cast("string"),
      lit(" segment "), col("c_mktsegment"))
    c.select(col("c_custkey").as("custkey"),
      TextAnalysis.redactPii(msg).as("redacted"))
  }

  /** X23 within-document repetition metrics (Gopher-style quality
    * signals): duplicate-word fraction and top word/bigram fractions,
    * computed ZERO-shuffle per row (sorted-array max-run fold) — the
    * oracle computes the same numbers the flat way (explode + groupBy +
    * max), pinning that the per-row fold equals the relational form.
    */
  def x23Repetition(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.repetitionMetrics(
      spark.read.parquet(s"$dir/documents.parquet"), "doc_id", "text")

  /** X5 sequence packing: stride chunks greedily packed into 256-token bins
    * (per-partition first-fit — zero shuffle). Rows-only: pack ASSIGNMENT is
    * engine-specific (partition-local bins); the packing INVARIANTS (every
    * chunk exactly once, no bin over budget, slots contiguous) are pinned in
    * OperatorsSpec.
    */
  def x5Pack(spark: SparkSession, dir: String): DataFrame = {
    val chunks = TextAnalysis.chunk(
      spark.read.parquet(s"$dir/documents.parquet"), "doc_id", "text",
      size = 40, stride = 30)
    graft.operators.Packing.pack(chunks, "n_chunk_tokens", budget = 256,
      orderCols = Seq("doc_id", "chunk_id"))
      .select("doc_id", "chunk_id", "n_chunk_tokens", "pack_id", "pack_slot")
  }

  /** X9 deterministic stratified sample: every 5th document per language in
    * doc_id order — reproducible class-balancing subsample.
    */
  def x9StratifiedSample(spark: SparkSession, dir: String): DataFrame = {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    TextAnalysis.stratifiedSample(docs.select("doc_id", "lang", "n_chars"),
      Seq("lang"), "doc_id", interval = 5)
  }

  /** Skew-salted equi-join must be result-identical to the plain join —
    * salting splits a hot key's shuffle partition `saltFactor` ways without
    * changing semantics, so the plain join IS the oracle (the one case
    * where an at-scale rewrite is exactly SQL-checkable).
    */
  def x13SaltedJoin(spark: SparkSession, dir: String): DataFrame = {
    val l = spark.read.parquet(s"$dir/lineitem.parquet")
      .select("l_orderkey", "l_linenumber", "l_quantity")
    val o = spark.read.parquet(s"$dir/orders.parquet")
      .select("o_orderkey", "o_totalprice")
    graft.operators.Scale.saltedJoin(l, o, "l_orderkey", "o_orderkey", saltFactor = 8)
      .select(col("l_orderkey").as("orderkey"), col("l_linenumber").as("linenumber"),
        col("l_quantity").as("qty"), col("o_totalprice").as("totalprice"))
  }

  /** X7 as-of (temporal) join: each event enriched with the latest "profile
    * update" (a sampled event subset acting as a versioned changelog) at or
    * before its event time — versioned-KTable enrichment semantics. Oracle is
    * DuckDB's native ASOF LEFT JOIN.
    */
  def x7AsofJoin(spark: SparkSession, dir: String): DataFrame = {
    val ev = resolver(dir).stream(spark, graft.config.TopicConfig("events"))
    val updates = ev.filter(col("event_id") % 10 === 0)
      .select(col("user_id"), col("ts"), col("value"))
    graft.operators.AsOfJoin.asOf(
      ev.select("event_id", "user_id", "ts"), updates,
      key = "user_id", leftTs = "ts", rightTs = "ts",
      payload = Map("value" -> "profile_value"))
  }

  /** X7 forward as-of join (funnel conversion shape): each signup event
    * picks up the user's FIRST purchase at-or-after it — "next event after"
    * semantics, the mirror of the versioned-enrichment asOf. Purchases are
    * pre-reduced to one row per (user, ts) so the carried payload is
    * deterministic. Oracle: DuckDB ASOF LEFT JOIN with the inequality
    * reversed.
    */
  def x7AsofForward(spark: SparkSession, dir: String): DataFrame = {
    val ev = resolver(dir).stream(spark, graft.config.TopicConfig("events"))
    val s = ev.filter(col("event_type") === "signup")
      .select(col("event_id"), col("user_id"), col("ts"))
    val p = ev.filter(col("event_type") === "purchase")
      .groupBy(col("user_id"), col("ts")).agg(min(col("value")).as("value"))
    graft.operators.AsOfJoin.asOfForward(s, p,
      key = "user_id", leftTs = "ts", rightTs = "ts",
      payload = Map("value" -> "next_value"))
  }

  /** X20 time-series resampling: every user's value forward-filled onto a
    * 30-minute grid (gap filling). Observations are pre-reduced to one row
    * per (user, ts) so the carried value is deterministic; the leading grid
    * point of a user precedes their first observation → null (ASOF LEFT
    * semantics, mirrored by the oracle).
    */
  def x20Resample(spark: SparkSession, dir: String): DataFrame = {
    val ev = resolver(dir).stream(spark, graft.config.TopicConfig("events"))
    val obs = ev.groupBy(col("user_id"), col("ts")).agg(max(col("value")).as("value"))
    graft.operators.AsOfJoin.resample(obs, "user_id", "ts", Seq("value"), "30 minutes")
  }

  /** X20 at a 10×-denser grid (3-minute buckets, same data) with the
    * dense-grid guard declared — the probe that separates resample's
    * OUTPUT-VOLUME cost from algorithmic cost (round-11 directive #4:
    * x20_resample posts the worst scaling ratio because its output grows
    * with the data; this row grows output 10× while the input stays fixed,
    * so flat per-output-row cost here means the 6.75× sf1 ratio is volume,
    * not algorithm). Oracle-exact like x20.
    */
  def x20ResampleDense(spark: SparkSession, dir: String): DataFrame = {
    val ev = resolver(dir).stream(spark, graft.config.TopicConfig("events"))
    val obs = ev.groupBy(col("user_id"), col("ts")).agg(max(col("value")).as("value"))
    graft.operators.AsOfJoin.resample(obs, "user_id", "ts", Seq("value"), "3 minutes",
      maxGridRowsPerKey = 1000000L)
  }

  // ------------------------------------------------------------------ oracle

  /** DuckDB-dialect oracle SQL per query (same tables registered by name).
    * Column names/aliases match the Spark output exactly — the driver sorts
    * columns by name before hashing. Float aggregates are rounded identically
    * on both sides. `CAST(ts AS TIMESTAMP)` floors TIMESTAMP_NS → micros,
    * matching the engine's nanos handling (Sources.fixNanos).
    */
  /** Shared body of the two drift oracles — identical metric pipeline, the
    * only difference is the NEW-side CTE (x29 splits events at the fixed
    * date; the r35 spec twin's new side is the whole topic). One
    * implementation so a metric fix can never drift between the twins.
    */
  private def driftOracleSql(newCte: String): String =
    s"""WITH o AS (SELECT * FROM events WHERE CAST(ts AS TIMESTAMP) < TIMESTAMP '2024-01-16'),
       |n AS ($newCte),
       |oa AS (SELECT count(*)::DOUBLE AS cnt, count(value)::DOUBLE AS nn,
       |              count(event_type)::DOUBLE AS cnn,
       |              avg(value) AS mean, stddev_samp(value) AS sd,
       |              min(value)::DOUBLE AS mn, max(value)::DOUBLE AS mx FROM o),
       |na AS (SELECT count(*)::DOUBLE AS cnt, count(value)::DOUBLE AS nn,
       |              count(event_type)::DOUBLE AS cnn,
       |              avg(value) AS mean, stddev_samp(value) AS sd,
       |              min(value)::DOUBLE AS mn, max(value)::DOUBLE AS mx FROM n),
       |num AS (
       |  SELECT 'value' AS col_name, 'row_count' AS metric,
       |         oa.cnt AS old_value, na.cnt AS new_value, na.cnt - oa.cnt AS delta
       |  FROM oa, na
       |  UNION ALL SELECT 'value', 'null_rate', (oa.cnt - oa.nn) / oa.cnt,
       |         (na.cnt - na.nn) / na.cnt,
       |         (na.cnt - na.nn) / na.cnt - (oa.cnt - oa.nn) / oa.cnt FROM oa, na
       |  UNION ALL SELECT 'value', 'mean', oa.mean, na.mean, na.mean - oa.mean FROM oa, na
       |  UNION ALL SELECT 'value', 'stddev', oa.sd, na.sd, na.sd - oa.sd FROM oa, na
       |  UNION ALL SELECT 'value', 'min', oa.mn, na.mn, na.mn - oa.mn FROM oa, na
       |  UNION ALL SELECT 'value', 'max', oa.mx, na.mx, na.mx - oa.mx FROM oa, na
       |  UNION ALL SELECT 'event_type', 'null_rate', (oa.cnt - oa.cnn) / oa.cnt,
       |         (na.cnt - na.cnn) / na.cnt,
       |         (na.cnt - na.cnn) / na.cnt - (oa.cnt - oa.cnn) / oa.cnt FROM oa, na),
       |oc AS (SELECT event_type AS cat, count(*) AS cnt FROM o
       |       WHERE event_type IS NOT NULL GROUP BY 1),
       |nc AS (SELECT event_type AS cat, count(*) AS cnt FROM n
       |       WHERE event_type IS NOT NULL GROUP BY 1),
       |j AS (SELECT coalesce(oc.cnt, 0) AS ocnt, coalesce(nc.cnt, 0) AS ncnt
       |      FROM oc FULL OUTER JOIN nc USING (cat)),
       |cat AS (SELECT 'event_type' AS col_name, 'freq_l1' AS metric,
       |  (SELECT count(*) FROM j WHERE ocnt > 0)::DOUBLE AS old_value,
       |  (SELECT count(*) FROM j WHERE ncnt > 0)::DOUBLE AS new_value,
       |  -- zero-total guard mirrors Drift.driftReport: an empty side
       |  -- reports the maximal L1 (2.0), both empty reports 0.0
       |  CASE WHEN coalesce(sum(ncnt), 0) = 0 AND coalesce(sum(ocnt), 0) = 0 THEN 0.0
       |       WHEN coalesce(sum(ncnt), 0) = 0 OR coalesce(sum(ocnt), 0) = 0 THEN 2.0
       |       ELSE sum(abs(ncnt / (SELECT sum(ncnt)::DOUBLE FROM j)
       |        - ocnt / (SELECT sum(ocnt)::DOUBLE FROM j))) END AS delta FROM j)
       |SELECT * FROM num UNION ALL SELECT * FROM cat""".stripMargin

  /** Shared body of the heavy-hitter drift oracles: the naive
    * groupBy-both-sides form the sketch+recount path is exactly equal to
    * (MG superset guarantee + exact recount). Same newCte parameterization
    * as [[driftOracleSql]].
    */
  /** Shared body of the histogram-drift oracles ([[driftOracleSql]]'s
    * newCte parameterization): identical fixed-bin assignment — the same
    * IEEE double expression in both engines, so bin placement agrees
    * bit-for-bit — fractions per side, and the ε-clamped PSI summary.
    * Bin geometry is the x29_drift_hist declaration: value ∈ [10, 110),
    * 10 bins, ε = 1e-6.
    */
  private def histDriftOracleSql(newCte: String): String =
    s"""WITH o AS (SELECT * FROM events WHERE CAST(ts AS TIMESTAMP) < TIMESTAMP '2024-01-16'),
       |n AS ($newCte),
       |ob AS (SELECT least(greatest(CAST(floor((value - 10.0) / ((110.0 - 10.0) / 10)) AS BIGINT), -1), 10) AS bin,
       |              count(*) AS cnt FROM o
       |       WHERE value IS NOT NULL AND NOT isnan(value) GROUP BY 1),
       |nb AS (SELECT least(greatest(CAST(floor((value - 10.0) / ((110.0 - 10.0) / 10)) AS BIGINT), -1), 10) AS bin,
       |              count(*) AS cnt FROM n
       |       WHERE value IS NOT NULL AND NOT isnan(value) GROUP BY 1),
       |j AS (SELECT bin, coalesce(ob.cnt, 0) AS ocnt, coalesce(nb.cnt, 0) AS ncnt
       |      FROM ob FULL OUTER JOIN nb USING (bin)),
       |t AS (SELECT coalesce(sum(ocnt), 0) AS ot, coalesce(sum(ncnt), 0) AS nt FROM j),
       |f AS (SELECT bin,
       |        CASE WHEN ot = 0 THEN 0.0 ELSE ocnt::DOUBLE / ot END AS po,
       |        CASE WHEN nt = 0 THEN 0.0 ELSE ncnt::DOUBLE / nt END AS pn
       |      FROM j, t),
       |bins AS (SELECT 'value' AS col_name, 'bin_frac' AS metric,
       |  CASE WHEN bin = -1 THEN 'under' WHEN bin = 10 THEN 'over'
       |       ELSE 'b' || bin::VARCHAR END AS category,
       |  po AS old_value, pn AS new_value, pn - po AS delta FROM f),
       |psi AS (SELECT 'value' AS col_name, 'psi' AS metric, NULL::VARCHAR AS category,
       |  (SELECT ot FROM t)::DOUBLE AS old_value,
       |  (SELECT nt FROM t)::DOUBLE AS new_value,
       |  coalesce((SELECT sum((greatest(pn, 1e-6) - greatest(po, 1e-6)) *
       |            ln(greatest(pn, 1e-6) / greatest(po, 1e-6))) FROM f), 0.0) AS delta)
       |SELECT * FROM bins UNION ALL SELECT * FROM psi""".stripMargin

  private def heavyDriftOracleSql(newCte: String): String =
    s"""WITH o AS (SELECT * FROM events WHERE CAST(ts AS TIMESTAMP) < TIMESTAMP '2024-01-16'),
       |n AS ($newCte),
       |hoc AS (SELECT event_type AS category, count(*) AS c FROM o
       |        WHERE event_type IS NOT NULL GROUP BY 1),
       |hnc AS (SELECT event_type AS category, count(*) AS c FROM n
       |        WHERE event_type IS NOT NULL GROUP BY 1),
       |hj AS (SELECT category, coalesce(hoc.c, 0) AS ocnt, coalesce(hnc.c, 0) AS ncnt
       |       FROM hoc FULL OUTER JOIN hnc USING (category)),
       |ht AS (SELECT coalesce(sum(ocnt), 0) AS os, coalesce(sum(ncnt), 0) AS ns FROM hj)
       |SELECT 'event_type' AS col_name, 'heavy_freq' AS metric, category,
       |  CASE WHEN os = 0 THEN 0.0 ELSE ocnt::DOUBLE / os END AS old_value,
       |  CASE WHEN ns = 0 THEN 0.0 ELSE ncnt::DOUBLE / ns END AS new_value,
       |  CASE WHEN ns = 0 THEN 0.0 ELSE ncnt::DOUBLE / ns END -
       |  CASE WHEN os = 0 THEN 0.0 ELSE ocnt::DOUBLE / os END AS delta
       |FROM hj, ht
       |WHERE (os > 0 AND ocnt >= ceil(0.01 * os))
       |   OR (ns > 0 AND ncnt >= ceil(0.01 * ns))""".stripMargin

  /** Shared body of the embedding-drift oracles ([[driftOracleSql]]'s
    * parameterization, here over BOTH side CTEs — the operator twin drops
    * clusters on the new side, the spec twin drops them on the old side).
    * Mirrors [[graft.operators.Drift.embeddingDrift]] step for step:
    * per-row L2 norms ride the per-dimension unnest, per-dimension sums
    * full-outer join, one global fold derives all four metrics; deltas
    * rounded to 6 decimals with the −0 guard (gate-granularity clamping —
    * below 1e-6 the value is summation-order noise, not drift; unrounded
    * old/new doubles land in the compare's 6-significant-digit tier).
    */
  private def embedDriftOracleSql(oldCte: String, newCte: String): String =
    s"""WITH o AS ($oldCte),
       |n AS ($newCte),
       |oe AS (SELECT unnest(e)::DOUBLE AS v, unnest(range(len(e))) AS i,
       |         sqrt(list_sum(list_transform(e, x -> x::DOUBLE * x::DOUBLE))) AS nrm FROM o),
       |ne AS (SELECT unnest(e)::DOUBLE AS v, unnest(range(len(e))) AS i,
       |         sqrt(list_sum(list_transform(e, x -> x::DOUBLE * x::DOUBLE))) AS nrm FROM n),
       |od AS (SELECT i, sum(v) AS s, sum(nrm) AS nrmsum, count(*)::DOUBLE AS cnt FROM oe GROUP BY i),
       |nd AS (SELECT i, sum(v) AS s, sum(nrm) AS nrmsum, count(*)::DOUBLE AS cnt FROM ne GROUP BY i),
       |j AS (SELECT coalesce(od.s, 0) AS os, coalesce(nd.s, 0) AS ns,
       |             coalesce(od.nrmsum, 0) AS onrm, coalesce(nd.nrmsum, 0) AS nnrm,
       |             coalesce(od.cnt, 0) AS ocnt, coalesce(nd.cnt, 0) AS ncnt
       |      FROM od FULL OUTER JOIN nd USING (i)),
       |t AS (SELECT coalesce(max(ocnt), 0) AS onc, coalesce(max(ncnt), 0) AS nnc,
       |             coalesce(max(onrm), 0) AS onrm, coalesce(max(nnrm), 0) AS nnrm FROM j),
       |agg AS (SELECT
       |   coalesce(sum((CASE WHEN t.onc = 0 THEN 0.0 ELSE os / t.onc END) *
       |                (CASE WHEN t.nnc = 0 THEN 0.0 ELSE ns / t.nnc END)), 0) AS dot,
       |   coalesce(sum(pow(CASE WHEN t.onc = 0 THEN 0.0 ELSE os / t.onc END, 2)), 0) AS o2,
       |   coalesce(sum(pow(CASE WHEN t.nnc = 0 THEN 0.0 ELSE ns / t.nnc END, 2)), 0) AS n2,
       |   coalesce(sum(pow((CASE WHEN t.nnc = 0 THEN 0.0 ELSE ns / t.nnc END) -
       |                    (CASE WHEN t.onc = 0 THEN 0.0 ELSE os / t.onc END), 2)), 0) AS d2
       |   FROM j, t)
       |SELECT 'embedding' AS col_name, 'row_count' AS metric,
       |  t.onc AS old_value, t.nnc AS new_value,
       |  CASE WHEN round(t.nnc - t.onc, 6) = 0 THEN 0.0
       |       ELSE round(t.nnc - t.onc, 6) END AS delta FROM t
       |UNION ALL SELECT 'embedding', 'mean_norm',
       |  CASE WHEN t.onc = 0 THEN 0.0 ELSE t.onrm / t.onc END,
       |  CASE WHEN t.nnc = 0 THEN 0.0 ELSE t.nnrm / t.nnc END,
       |  CASE WHEN round((CASE WHEN t.nnc = 0 THEN 0.0 ELSE t.nnrm / t.nnc END)
       |                - (CASE WHEN t.onc = 0 THEN 0.0 ELSE t.onrm / t.onc END), 6) = 0 THEN 0.0
       |       ELSE round((CASE WHEN t.nnc = 0 THEN 0.0 ELSE t.nnrm / t.nnc END)
       |                - (CASE WHEN t.onc = 0 THEN 0.0 ELSE t.onrm / t.onc END), 6) END FROM t
       |UNION ALL SELECT 'embedding', 'centroid_shift', sqrt(agg.o2), sqrt(agg.n2),
       |  CASE WHEN round(CASE WHEN agg.o2 = 0 AND agg.n2 = 0 THEN 0.0
       |            WHEN agg.o2 = 0 OR agg.n2 = 0 THEN 2.0
       |            ELSE 1.0 - agg.dot / (sqrt(agg.o2) * sqrt(agg.n2)) END, 6) = 0 THEN 0.0
       |       ELSE round(CASE WHEN agg.o2 = 0 AND agg.n2 = 0 THEN 0.0
       |            WHEN agg.o2 = 0 OR agg.n2 = 0 THEN 2.0
       |            ELSE 1.0 - agg.dot / (sqrt(agg.o2) * sqrt(agg.n2)) END, 6) END FROM agg
       |UNION ALL SELECT 'embedding', 'centroid_l2', sqrt(agg.o2), sqrt(agg.n2),
       |  CASE WHEN round(sqrt(agg.d2), 6) = 0 THEN 0.0
       |       ELSE round(sqrt(agg.d2), 6) END FROM agg""".stripMargin

  /** Oracle for the windowed drift monitor's batch-read-back form
    * (x29_windowed_drift): per tumbling day (the synthesized vec_id%48
    * event times), the four embedding-drift metrics of that day's slice
    * against the label<8 baseline — the same conventions as
    * [[embedDriftOracleSql]] with a window grouping, 6-dp rounding on
    * every compared value (per-window sums are partial-aggregation-order
    * sensitive below that).
    */
  private val embedDriftWindowedOracleSql: String =
    """WITH b AS (SELECT embedding AS e FROM embeddings
      |           WHERE label < 8 AND embedding IS NOT NULL),
      |be AS (SELECT unnest(e)::DOUBLE AS v, unnest(range(len(e))) AS i,
      |         sqrt(list_sum(list_transform(e, x -> x::DOUBLE * x::DOUBLE))) AS nrm FROM b),
      |bd AS (SELECT i, sum(v) AS s, sum(nrm) AS nrmsum, count(*)::DOUBLE AS cnt
      |       FROM be GROUP BY i),
      |n AS (SELECT time_bucket(INTERVAL '1 day',
      |               TIMESTAMP '2024-01-01 00:00:00'
      |               + (vec_id % 48) * INTERVAL '1 hour') AS w, embedding AS e
      |      FROM embeddings WHERE embedding IS NOT NULL),
      |ne AS (SELECT w, unnest(e)::DOUBLE AS v, unnest(range(len(e))) AS i,
      |         sqrt(list_sum(list_transform(e, x -> x::DOUBLE * x::DOUBLE))) AS nrm FROM n),
      |nd AS (SELECT w, i, sum(v) AS s, sum(nrm) AS nrmsum,
      |         count(*)::DOUBLE AS cnt FROM ne GROUP BY w, i),
      |j AS (SELECT nd.w, coalesce(bd.s, 0) AS os, nd.s AS ns,
      |             coalesce(bd.nrmsum, 0) AS onrm, nd.nrmsum AS nnrm,
      |             coalesce(bd.cnt, 0) AS ocnt, nd.cnt AS ncnt
      |      FROM nd LEFT JOIN bd USING (i)),
      |t AS (SELECT w, coalesce(max(ocnt), 0) AS onc, coalesce(max(ncnt), 0) AS nnc,
      |             coalesce(max(onrm), 0) AS onrm, coalesce(max(nnrm), 0) AS nnrm
      |      FROM j GROUP BY w),
      |agg AS (SELECT w,
      |   coalesce(sum((CASE WHEN t.onc = 0 THEN 0.0 ELSE os / t.onc END) *
      |                (ns / t.nnc)), 0) AS dot,
      |   coalesce(sum(pow(CASE WHEN t.onc = 0 THEN 0.0 ELSE os / t.onc END, 2)), 0) AS o2,
      |   coalesce(sum(pow(ns / t.nnc, 2)), 0) AS n2,
      |   coalesce(sum(pow((ns / t.nnc) -
      |                (CASE WHEN t.onc = 0 THEN 0.0 ELSE os / t.onc END), 2)), 0) AS d2
      |   FROM j JOIN t USING (w) GROUP BY w),
      |z AS (SELECT t.w, t.onc, t.nnc, t.onrm, t.nnrm,
      |             agg.dot, agg.o2, agg.n2, agg.d2 FROM t JOIN agg USING (w))
      |SELECT w AS window_start, 'embedding' AS col_name,
      |  'row_count' AS metric,
      |  CASE WHEN round(onc, 6) = 0 THEN 0.0 ELSE round(onc, 6) END AS old_value,
      |  CASE WHEN round(nnc, 6) = 0 THEN 0.0 ELSE round(nnc, 6) END AS new_value,
      |  CASE WHEN round(nnc - onc, 6) = 0 THEN 0.0 ELSE round(nnc - onc, 6) END AS delta
      |FROM z
      |UNION ALL SELECT w, 'embedding', 'mean_norm',
      |  CASE WHEN round(CASE WHEN onc = 0 THEN 0.0 ELSE onrm / onc END, 6) = 0 THEN 0.0
      |       ELSE round(CASE WHEN onc = 0 THEN 0.0 ELSE onrm / onc END, 6) END,
      |  CASE WHEN round(nnrm / nnc, 6) = 0 THEN 0.0 ELSE round(nnrm / nnc, 6) END,
      |  CASE WHEN round((nnrm / nnc) -
      |         (CASE WHEN onc = 0 THEN 0.0 ELSE onrm / onc END), 6) = 0 THEN 0.0
      |       ELSE round((nnrm / nnc) -
      |         (CASE WHEN onc = 0 THEN 0.0 ELSE onrm / onc END), 6) END
      |FROM z
      |UNION ALL SELECT w, 'embedding', 'centroid_shift',
      |  CASE WHEN round(sqrt(o2), 6) = 0 THEN 0.0 ELSE round(sqrt(o2), 6) END,
      |  CASE WHEN round(sqrt(n2), 6) = 0 THEN 0.0 ELSE round(sqrt(n2), 6) END,
      |  CASE WHEN round(CASE WHEN o2 = 0 AND n2 = 0 THEN 0.0
      |            WHEN o2 = 0 OR n2 = 0 THEN 2.0
      |            ELSE 1.0 - dot / (sqrt(o2) * sqrt(n2)) END, 6) = 0 THEN 0.0
      |       ELSE round(CASE WHEN o2 = 0 AND n2 = 0 THEN 0.0
      |            WHEN o2 = 0 OR n2 = 0 THEN 2.0
      |            ELSE 1.0 - dot / (sqrt(o2) * sqrt(n2)) END, 6) END
      |FROM z
      |UNION ALL SELECT w, 'embedding', 'centroid_l2',
      |  CASE WHEN round(sqrt(o2), 6) = 0 THEN 0.0 ELSE round(sqrt(o2), 6) END,
      |  CASE WHEN round(sqrt(n2), 6) = 0 THEN 0.0 ELSE round(sqrt(n2), 6) END,
      |  CASE WHEN round(sqrt(d2), 6) = 0 THEN 0.0 ELSE round(sqrt(d2), 6) END
      |FROM z""".stripMargin

  /** Oracle for the embedding_summary ARTIFACT rows (r41 one-shot build,
    * r42 declarative shard merge — linearity makes both equal this direct
    * computation): per-dimension value sums + norm sum + count over
    * non-null vectors, mirroring [[graft.operators.Drift.embeddingSummary]]
    * with the 6-dp/−0 rounding of the compared query projections.
    */
  private val embedSummaryOracleSql: String =
    """WITH e AS (SELECT embedding AS e FROM embeddings WHERE embedding IS NOT NULL),
      |ee AS (SELECT unnest(e)::DOUBLE AS v, unnest(range(len(e))) AS i,
      |         sqrt(list_sum(list_transform(e, x -> x::DOUBLE * x::DOUBLE))) AS nrm FROM e)
      |SELECT i,
      |  CASE WHEN round(sum(v), 6) = 0 THEN 0.0 ELSE round(sum(v), 6) END AS dim_sum,
      |  CASE WHEN round(sum(nrm), 6) = 0 THEN 0.0 ELSE round(sum(nrm), 6) END AS norm_sum,
      |  count(*)::DOUBLE AS n
      |FROM ee GROUP BY i""".stripMargin

  /** Grouped form of [[embedDriftOracleSql]]: identical metric pipeline
    * per `category` stratum (the CTEs yield (category, e)); a stratum
    * present on one side only carries zeros on the other — the vanished/
    * newborn-cluster rows the grouped leg exists to surface.
    */
  private def embedDriftGroupOracleSql(oldCte: String, newCte: String): String =
    s"""WITH o AS ($oldCte),
       |n AS ($newCte),
       |oe AS (SELECT category, unnest(e)::DOUBLE AS v, unnest(range(len(e))) AS i,
       |         sqrt(list_sum(list_transform(e, x -> x::DOUBLE * x::DOUBLE))) AS nrm FROM o),
       |ne AS (SELECT category, unnest(e)::DOUBLE AS v, unnest(range(len(e))) AS i,
       |         sqrt(list_sum(list_transform(e, x -> x::DOUBLE * x::DOUBLE))) AS nrm FROM n),
       |od AS (SELECT category, i, sum(v) AS s, sum(nrm) AS nrmsum,
       |              count(*)::DOUBLE AS cnt FROM oe GROUP BY 1, 2),
       |nd AS (SELECT category, i, sum(v) AS s, sum(nrm) AS nrmsum,
       |              count(*)::DOUBLE AS cnt FROM ne GROUP BY 1, 2),
       |j AS (SELECT category, coalesce(od.s, 0) AS os, coalesce(nd.s, 0) AS ns,
       |             coalesce(od.nrmsum, 0) AS onrm, coalesce(nd.nrmsum, 0) AS nnrm,
       |             coalesce(od.cnt, 0) AS ocnt, coalesce(nd.cnt, 0) AS ncnt
       |      FROM od FULL OUTER JOIN nd USING (category, i)),
       |t AS (SELECT category, coalesce(max(ocnt), 0) AS onc, coalesce(max(ncnt), 0) AS nnc,
       |             coalesce(max(onrm), 0) AS onrm, coalesce(max(nnrm), 0) AS nnrm
       |      FROM j GROUP BY 1),
       |agg AS (SELECT j.category,
       |   coalesce(sum((CASE WHEN t.onc = 0 THEN 0.0 ELSE os / t.onc END) *
       |                (CASE WHEN t.nnc = 0 THEN 0.0 ELSE ns / t.nnc END)), 0) AS dot,
       |   coalesce(sum(pow(CASE WHEN t.onc = 0 THEN 0.0 ELSE os / t.onc END, 2)), 0) AS o2,
       |   coalesce(sum(pow(CASE WHEN t.nnc = 0 THEN 0.0 ELSE ns / t.nnc END, 2)), 0) AS n2,
       |   coalesce(sum(pow((CASE WHEN t.nnc = 0 THEN 0.0 ELSE ns / t.nnc END) -
       |                    (CASE WHEN t.onc = 0 THEN 0.0 ELSE os / t.onc END), 2)), 0) AS d2
       |   FROM j JOIN t USING (category) GROUP BY 1)
       |SELECT 'embedding' AS col_name, 'row_count' AS metric, category,
       |  onc AS old_value, nnc AS new_value,
       |  CASE WHEN round(nnc - onc, 6) = 0 THEN 0.0
       |       ELSE round(nnc - onc, 6) END AS delta FROM t
       |UNION ALL SELECT 'embedding', 'mean_norm', category,
       |  CASE WHEN onc = 0 THEN 0.0 ELSE onrm / onc END,
       |  CASE WHEN nnc = 0 THEN 0.0 ELSE nnrm / nnc END,
       |  CASE WHEN round((CASE WHEN nnc = 0 THEN 0.0 ELSE nnrm / nnc END)
       |                - (CASE WHEN onc = 0 THEN 0.0 ELSE onrm / onc END), 6) = 0 THEN 0.0
       |       ELSE round((CASE WHEN nnc = 0 THEN 0.0 ELSE nnrm / nnc END)
       |                - (CASE WHEN onc = 0 THEN 0.0 ELSE onrm / onc END), 6) END FROM t
       |UNION ALL SELECT 'embedding', 'centroid_shift', t.category, sqrt(agg.o2), sqrt(agg.n2),
       |  CASE WHEN round(CASE WHEN agg.o2 = 0 AND agg.n2 = 0 THEN 0.0
       |            WHEN agg.o2 = 0 OR agg.n2 = 0 THEN 2.0
       |            ELSE 1.0 - agg.dot / (sqrt(agg.o2) * sqrt(agg.n2)) END, 6) = 0 THEN 0.0
       |       ELSE round(CASE WHEN agg.o2 = 0 AND agg.n2 = 0 THEN 0.0
       |            WHEN agg.o2 = 0 OR agg.n2 = 0 THEN 2.0
       |            ELSE 1.0 - agg.dot / (sqrt(agg.o2) * sqrt(agg.n2)) END, 6) END
       |  FROM t JOIN agg USING (category)
       |UNION ALL SELECT 'embedding', 'centroid_l2', t.category, sqrt(agg.o2), sqrt(agg.n2),
       |  CASE WHEN round(sqrt(agg.d2), 6) = 0 THEN 0.0
       |       ELSE round(sqrt(agg.d2), 6) END
       |  FROM t JOIN agg USING (category)""".stripMargin

  private val oracles0: Map[String, String] = Map(
    "r01_simple_stream" ->
      """SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type, value, props
        |FROM events""".stripMargin,
    "r02_table_latest" ->
      """SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, event_type, value
        |FROM (SELECT *, row_number() OVER (PARTITION BY user_id
        |        ORDER BY CAST(ts AS TIMESTAMP) DESC, event_id DESC) AS rn FROM events)
        |WHERE rn = 1""".stripMargin,
    "r02_table_history" ->
      """WITH d AS (
        |  SELECT user_id, event_id, ts, event_type, value FROM (
        |    SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, event_type, value,
        |           row_number() OVER (PARTITION BY user_id, CAST(ts AS TIMESTAMP)
        |             ORDER BY event_id DESC) AS rn
        |    FROM events)
        |  WHERE rn = 1)
        |SELECT user_id, event_id, ts, event_type, value,
        |       ts AS effective_from,
        |       lead(ts) OVER (PARTITION BY user_id ORDER BY ts) AS effective_to
        |FROM d""".stripMargin,
    "r03_global_join" ->
      """SELECT l.l_orderkey AS orderkey, l.l_linenumber AS linenumber, l.l_quantity AS qty,
        |       p.p_brand AS brand, p.p_retailprice AS retail
        |FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey""".stripMargin,
    "r05_join_chain_inner" ->
      """SELECT o.o_orderkey AS order_id, o.o_totalprice AS total,
        |       c.c_name AS customer_name, c.c_mktsegment AS segment
        |FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey""".stripMargin,
    "r06_join_chain_left_null" ->
      """WITH s1 AS (
        |  SELECT o.o_orderkey AS order_id, o.o_totalprice AS total,
        |         c.c_name AS customer_name, CAST(NULL AS VARCHAR) AS phone,
        |         c.c_nationkey AS nation_fk
        |  FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey)
        |SELECT s1.order_id, s1.total, s1.customer_name, s1.phone, n.n_name AS nation
        |FROM s1 LEFT JOIN nation n ON s1.nation_fk = n.n_nationkey
        |WHERE s1.nation_fk IS NOT NULL""".stripMargin,
    "r07_table_table_join" ->
      """SELECT c.c_custkey AS custkey, c.c_name AS name, c.c_acctbal AS acctbal,
        |       n.n_name AS nation
        |FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey""".stripMargin,
    "r08_table_table_left" ->
      """SELECT c.c_custkey AS custkey, c.c_name AS name, r.r_name AS maybe_region
        |FROM customer c LEFT JOIN region r ON c.c_nationkey = r.r_regionkey""".stripMargin,
    "r10_field_mapping" ->
      """SELECT c.c_custkey AS custkey, coalesce(r.r_name, 'UNKNOWN') AS region,
        |       round(c.c_acctbal * 2.0, 2) AS double_bal
        |FROM customer c LEFT JOIN region r ON c.c_nationkey = r.r_regionkey""".stripMargin,
    "r10_transform" ->
      """SELECT c.c_custkey AS custkey, upper(c.c_name) AS name_upper,
        |       lower(coalesce(r.r_name, 'UNKNOWN')) AS region_lower,
        |       length(c.c_mktsegment) AS segment_len
        |FROM customer c LEFT JOIN region r ON c.c_nationkey = r.r_regionkey""".stripMargin,
    "r11_sliding_agg" ->
      """WITH e AS (SELECT event_type, value,
        |             time_bucket(INTERVAL '5 minutes', CAST(ts AS TIMESTAMP)) AS tb
        |           FROM events WHERE ts IS NOT NULL),
        |w AS (SELECT event_type, value, tb - i * INTERVAL '5 minutes' AS window_start
        |      FROM e CROSS JOIN (SELECT unnest([0, 1]) AS i) s)
        |SELECT window_start, event_type, count(*) AS cnt,
        |       round(sum(value), 4) AS sum_value
        |FROM w GROUP BY 1, 2""".stripMargin,
    "r08_outer_join" ->
      """SELECT r.r_name AS region_name, c.c_custkey AS custkey, c.c_name AS customer_name
        |FROM region r FULL JOIN customer c ON r.r_regionkey = c.c_custkey""".stripMargin,
    "r21_filter" ->
      """SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type, value, props
        |FROM events WHERE value > 100 AND event_type = 'purchase'""".stripMargin,
    "r22_spec_transforms" ->
      """WITH q AS (
        |  SELECT * FROM documents
        |  WHERE len(regexp_split_to_array(trim(text), '\s+')) >= 12
        |    AND round(length(regexp_replace(trim(text), '\s+', '', 'g'))::DOUBLE
        |      / len(regexp_split_to_array(trim(text), '\s+')), 6) BETWEEN 2.0 AND 12.0)
        |SELECT min(doc_id) AS doc_id, arg_min(lang, doc_id) AS lang,
        |       arg_min(source, doc_id) AS source
        |FROM q GROUP BY text""".stripMargin,
    "x2_capped_buckets" ->
      """WITH banded AS (
        |  SELECT doc_id AS id, length(bin(doc_id + 1)) - 1 AS bucket FROM documents),
        |sizes AS (SELECT bucket, count(*) AS sz FROM banded GROUP BY bucket),
        |capped AS (SELECT b.id, b.bucket FROM banded b
        |           JOIN sizes s ON b.bucket = s.bucket WHERE s.sz <= 16)
        |SELECT a.id AS id1, b.id AS id2, a.bucket AS bucket
        |FROM capped a JOIN capped b ON a.bucket = b.bucket AND a.id < b.id""".stripMargin,
    "r22_spec_redact" ->
      """WITH m AS (
        |  SELECT c_custkey AS custkey,
        |         'Contact ' || c_name || ' <' || lower(replace(c_name, '#', '.')) ||
        |         '@example.com> or +1-555-' || lpad(CAST(c_custkey % 10000 AS VARCHAR), 4, '0') ||
        |         ' from 192.168.' || CAST(c_custkey % 256 AS VARCHAR) || '.' ||
        |         CAST(c_nationkey AS VARCHAR) || ' segment ' || c_mktsegment AS msg
        |  FROM customer)
        |SELECT custkey,
        |  regexp_replace(regexp_replace(regexp_replace(regexp_replace(msg,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
        |    '\+[0-9][0-9 ().-]{6,}[0-9]', '[PHONE]', 'g'),
        |    '([0-9]{1,3}\.){3}[0-9]{1,3}', '[IP]', 'g'),
        |    '\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b', '[SSN]', 'g') AS redacted
        |FROM m""".stripMargin,
    "r11_having" ->
      """SELECT user_id, count(*) AS cnt FROM events
        |GROUP BY user_id HAVING count(*) > 70""".stripMargin,
    "r09_join_chain_multi" ->
      """SELECT o.o_orderkey AS order_id, o.o_totalprice AS total,
        |       n.n_name AS nation, r.r_name AS region
        |FROM orders o
        |JOIN customer c ON o.o_custkey = c.c_custkey
        |JOIN nation n ON c.c_nationkey = n.n_nationkey
        |JOIN region r ON n.n_regionkey = r.r_regionkey""".stripMargin,
    "r11_count_agg" ->
      "SELECT user_id, count(*) AS cnt FROM events GROUP BY user_id",
    "r11_agg_multi" ->
      """SELECT event_type, count(*) AS cnt, round(sum(value), 4) AS sum_value,
        |       round(avg(value), 6) AS avg_value, min(value) AS min_value,
        |       max(value) AS max_value
        |FROM events GROUP BY event_type""".stripMargin,
    "r11_windowed_agg" ->
      """SELECT time_bucket(INTERVAL '10 minutes', CAST(ts AS TIMESTAMP)) AS window_start,
        |       event_type, count(*) AS cnt, round(sum(value), 4) AS sum_value
        |FROM events WHERE ts IS NOT NULL GROUP BY 1, 2""".stripMargin,
    "r11_session_agg" ->
      """WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts FROM events
        |           WHERE ts IS NOT NULL),
        |m AS (SELECT user_id, ts,
        |        CASE WHEN lag(ts) OVER w IS NULL
        |               OR ts - lag(ts) OVER w >= INTERVAL '5 minutes' THEN 1 ELSE 0 END AS brk
        |      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        |s AS (SELECT user_id, ts, sum(brk) OVER (PARTITION BY user_id ORDER BY ts
        |        ROWS UNBOUNDED PRECEDING) AS sid FROM m)
        |SELECT min(ts) AS session_start, user_id, count(*) AS cnt
        |FROM s GROUP BY user_id, sid""".stripMargin,
    "r16_json_parse" ->
      """SELECT event_id, CAST(props::JSON->>'k' AS INTEGER) AS prop_k FROM events""",
    "r17_generic_map" ->
      """SELECT event_id, CAST(props::JSON->>'k' AS INTEGER) AS prop_k,
        |       CAST(len(json_keys(props::JSON)) AS INTEGER) AS n_props
        |FROM events""".stripMargin,
    "x5_quality_filter" ->
      """SELECT doc_id,
        |  CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_tokens,
        |  round(length(regexp_replace(trim(text), '\s+', '', 'g'))::DOUBLE
        |    / len(regexp_split_to_array(trim(text), '\s+')), 6) AS avg_token_len,
        |  round(len(list_filter(regexp_split_to_array(trim(text), '\s+'),
        |    t -> t IN ('the','a','an','of','to','and','in','is','it','that')))::DOUBLE
        |    / len(regexp_split_to_array(trim(text), '\s+')), 6) AS stopword_ratio
        |FROM documents
        |WHERE len(regexp_split_to_array(trim(text), '\s+')) >= 12
        |  AND round(length(regexp_replace(trim(text), '\s+', '', 'g'))::DOUBLE
        |    / len(regexp_split_to_array(trim(text), '\s+')), 6) BETWEEN 2.0 AND 12.0""".stripMargin,
    "r17_serde_roundtrip" ->
      "SELECT event_id, user_id, event_type FROM events",
    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus, round(sum(l_quantity), 4) AS sum_qty,
        |  round(sum(l_extendedprice), 4) AS sum_base_price,
        |  round(sum(l_extendedprice * (1 - l_discount)), 4) AS sum_disc_price,
        |  round(avg(l_quantity), 6) AS avg_qty, round(avg(l_discount), 6) AS avg_disc,
        |  count(*) AS count_order
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |GROUP BY l_returnflag, l_linestatus""".stripMargin,
    "q3_top_revenue" ->
      """SELECT o_orderkey, o_orderdate, revenue FROM (
        |  SELECT o.o_orderkey, o.o_orderdate,
        |         round(sum(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,6))), 2)::DOUBLE AS revenue
        |  FROM customer c
        |  JOIN orders o ON c.c_custkey = o.o_custkey
        |  JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        |  WHERE c.c_mktsegment = 'BUILDING'
        |  GROUP BY o.o_orderkey, o.o_orderdate)
        |ORDER BY revenue DESC, o_orderkey ASC LIMIT 10""".stripMargin,
    "q5_nation_revenue" ->
      """SELECT n.n_name, round(sum(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,6))), 2)::DOUBLE AS revenue,
        |       count(*) AS n_items
        |FROM customer c
        |JOIN orders o ON c.c_custkey = o.o_custkey
        |JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        |JOIN supplier s ON l.l_suppkey = s.s_suppkey AND c.c_nationkey = s.s_nationkey
        |JOIN nation n ON s.s_nationkey = n.n_nationkey
        |JOIN region r ON n.n_regionkey = r.r_regionkey
        |GROUP BY n.n_name""".stripMargin,
    "r11_count_distinct" ->
      """SELECT event_type, count(DISTINCT user_id) AS n_users, count(*) AS cnt
        |FROM events GROUP BY event_type""".stripMargin,
    "q18_large_orders" ->
      """SELECT c.c_name, o.o_orderkey AS orderkey, o.o_totalprice AS totalprice,
        |       b.total_qty
        |FROM (SELECT l_orderkey, round(sum(l_quantity), 4) AS total_qty
        |      FROM lineitem GROUP BY l_orderkey
        |      HAVING round(sum(l_quantity), 4) > 250) b
        |JOIN orders o ON b.l_orderkey = o.o_orderkey
        |JOIN customer c ON o.o_custkey = c.c_custkey""".stripMargin,
    "q22_no_orders" ->
      """SELECT c_custkey AS custkey, c_name AS name, round(c_acctbal, 2) AS acctbal
        |FROM customer c
        |WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer)
        |  AND NOT EXISTS (SELECT 1 FROM orders o
        |                  WHERE o.o_custkey = c.c_custkey
        |                    AND o.o_totalprice > 400000)""".stripMargin,
    "x10_set_ops" ->
      """SELECT user_id FROM events WHERE event_type = 'purchase' AND value > 20
        |INTERSECT
        |SELECT user_id FROM events WHERE event_type = 'error' AND value > 20
        |EXCEPT
        |SELECT user_id FROM events WHERE event_type = 'signup' AND value > 200""".stripMargin,
    "x6_percentiles" ->
      """SELECT event_type, round(quantile_cont(value, 0.5), 6) AS p50,
        |       round(quantile_cont(value, 0.95), 6) AS p95
        |FROM events GROUP BY event_type""".stripMargin,
    "x11_running_total" ->
      """SELECT o_custkey AS custkey, o_orderkey AS orderkey,
        |       round(sum(o_totalprice) OVER (PARTITION BY o_custkey
        |         ORDER BY o_orderdate, o_orderkey), 4) AS running_total
        |FROM orders""".stripMargin,
    "x13_salted_join" ->
      """SELECT l.l_orderkey AS orderkey, l.l_linenumber AS linenumber,
        |       l.l_quantity AS qty, o.o_totalprice AS totalprice
        |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey""".stripMargin,
    "x1_exact_dedup" ->
      """SELECT arg_min(doc_id, doc_id) AS doc_id, text,
        |       arg_min(n_chars, doc_id) AS n_chars
        |FROM documents GROUP BY text""".stripMargin,
    "x1_group_rep" ->
      """SELECT lang, source, arg_min(doc_id, doc_id) AS doc_id,
        |       arg_min(n_chars, doc_id) AS n_chars
        |FROM documents GROUP BY lang, source""".stripMargin,
    "x2_jaccard_pairs" ->
      """WITH sh AS (
        |  SELECT doc_id AS id,
        |    list_distinct(CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
        |      ELSE [array_to_string(toks[i:i+2], ' ') FOR i IN range(1, len(toks) - 1)] END) AS s
        |  FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks FROM documents)),
        |n AS (SELECT id, len(s) AS n FROM sh),
        |posts AS (SELECT id, unnest(s) AS tok FROM sh),
        |pairs AS (
        |  SELECT a.id AS id1, b.id AS id2, count(*) AS inter
        |  FROM posts a JOIN posts b ON a.tok = b.tok AND a.id < b.id GROUP BY 1, 2)
        |SELECT id1, id2, round(jaccard, 6) AS jaccard FROM (
        |  SELECT p.id1, p.id2, p.inter::DOUBLE / (n1.n + n2.n - p.inter) AS jaccard
        |  FROM pairs p JOIN n n1 ON p.id1 = n1.id JOIN n n2 ON p.id2 = n2.id)
        |WHERE jaccard >= 0.8""".stripMargin,
    "x2_incremental" ->
      """WITH cut AS (SELECT (max(doc_id) + 1) * 4 // 5 AS c FROM documents),
        |sh AS (
        |  SELECT doc_id AS id,
        |    list_distinct(CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
        |      ELSE [array_to_string(toks[i:i+2], ' ') FOR i IN range(1, len(toks) - 1)] END) AS s
        |  FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks FROM documents)),
        |n AS (SELECT id, len(s) AS n FROM sh),
        |posts AS (SELECT id, unnest(s) AS tok FROM sh),
        |pairs AS (
        |  SELECT a.id AS new_id, b.id AS old_id, count(*) AS inter
        |  FROM posts a JOIN posts b ON a.tok = b.tok
        |  WHERE a.id >= (SELECT c FROM cut) AND b.id < (SELECT c FROM cut)
        |  GROUP BY 1, 2)
        |SELECT new_id, old_id, round(jaccard, 6) AS jaccard FROM (
        |  SELECT p.new_id, p.old_id, p.inter::DOUBLE / (n1.n + n2.n - p.inter) AS jaccard
        |  FROM pairs p JOIN n n1 ON p.new_id = n1.id JOIN n n2 ON p.old_id = n2.id)
        |WHERE jaccard >= 0.8""".stripMargin,
    "x2_incremental_novel" ->
      """WITH cut AS (SELECT (max(doc_id) + 1) * 4 // 5 AS c FROM documents),
        |sh AS (
        |  SELECT doc_id AS id,
        |    list_distinct(CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
        |      ELSE [array_to_string(toks[i:i+2], ' ') FOR i IN range(1, len(toks) - 1)] END) AS s
        |  FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks FROM documents)),
        |n AS (SELECT id, len(s) AS n FROM sh),
        |posts AS (SELECT id, unnest(s) AS tok FROM sh),
        |dup AS (
        |  SELECT DISTINCT p.new_id FROM (
        |    SELECT a.id AS new_id, b.id AS old_id, count(*) AS inter
        |    FROM posts a JOIN posts b ON a.tok = b.tok
        |    WHERE a.id >= (SELECT c FROM cut) AND b.id < (SELECT c FROM cut)
        |    GROUP BY 1, 2) p
        |  JOIN n n1 ON p.new_id = n1.id JOIN n n2 ON p.old_id = n2.id
        |  WHERE p.inter::DOUBLE / (n1.n + n2.n - p.inter) >= 0.8)
        |SELECT doc_id, lang, source, n_chars FROM documents
        |WHERE doc_id >= (SELECT c FROM cut)
        |  AND doc_id NOT IN (SELECT new_id FROM dup)""".stripMargin,
    // the x2_incremental_novel walk with the RETRACTED history docs (every
    // third id below the cut) excluded from the old side — the screen
    // must behave as if they were never published
    "r51_spec_shingle_retract" ->
      """WITH cut AS (SELECT (max(doc_id) + 1) * 4 // 5 AS c FROM documents),
        |sh AS (
        |  SELECT doc_id AS id,
        |    list_distinct(CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
        |      ELSE [array_to_string(toks[i:i+2], ' ') FOR i IN range(1, len(toks) - 1)] END) AS s
        |  FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks FROM documents)),
        |n AS (SELECT id, len(s) AS n FROM sh),
        |posts AS (SELECT id, unnest(s) AS tok FROM sh),
        |dup AS (
        |  SELECT DISTINCT p.new_id FROM (
        |    SELECT a.id AS new_id, b.id AS old_id, count(*) AS inter
        |    FROM posts a JOIN posts b ON a.tok = b.tok
        |    WHERE a.id >= (SELECT c FROM cut) AND b.id < (SELECT c FROM cut)
        |      AND b.id % 3 <> 0
        |    GROUP BY 1, 2) p
        |  JOIN n n1 ON p.new_id = n1.id JOIN n n2 ON p.old_id = n2.id
        |  WHERE p.inter::DOUBLE / (n1.n + n2.n - p.inter) >= 0.8)
        |SELECT doc_id, lang, source, n_chars FROM documents
        |WHERE doc_id >= (SELECT c FROM cut)
        |  AND doc_id NOT IN (SELECT new_id FROM dup)""".stripMargin,
    "x2_dedup_collapse" ->
      """WITH RECURSIVE sh AS (
        |  SELECT doc_id AS id,
        |    list_distinct(CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
        |      ELSE [array_to_string(toks[i:i+2], ' ') FOR i IN range(1, len(toks) - 1)] END) AS s
        |  FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks FROM documents)),
        |n AS (SELECT id, len(s) AS n FROM sh),
        |posts AS (SELECT id, unnest(s) AS tok FROM sh),
        |prs AS (
        |  SELECT id1, id2 FROM (
        |    SELECT p.id1, p.id2, p.inter::DOUBLE / (n1.n + n2.n - p.inter) AS jaccard
        |    FROM (SELECT a.id AS id1, b.id AS id2, count(*) AS inter
        |          FROM posts a JOIN posts b ON a.tok = b.tok AND a.id < b.id GROUP BY 1, 2) p
        |    JOIN n n1 ON p.id1 = n1.id JOIN n n2 ON p.id2 = n2.id)
        |  WHERE jaccard >= 0.8),
        |edges AS (SELECT id1 AS a, id2 AS b FROM prs UNION ALL SELECT id2, id1 FROM prs),
        |reach(a, b) AS (
        |  SELECT a, b FROM edges
        |  UNION
        |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
        |comp AS (SELECT a AS id, least(a, min(b)) AS comp FROM reach GROUP BY a)
        |SELECT d.doc_id, d.n_chars FROM documents d
        |LEFT JOIN comp c ON d.doc_id = c.id
        |WHERE c.id IS NULL OR c.comp = d.doc_id""".stripMargin,
    "x14_training_pipeline" ->
      """WITH RECURSIVE filtered AS (
        |  SELECT doc_id, text FROM documents
        |  WHERE len(regexp_split_to_array(trim(text), '\s+')) >= 12
        |    AND round(length(regexp_replace(trim(text), '\s+', '', 'g'))::DOUBLE
        |      / len(regexp_split_to_array(trim(text), '\s+')), 6) BETWEEN 2.0 AND 12.0),
        |sh AS (
        |  SELECT doc_id AS id,
        |    list_distinct(CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
        |      ELSE [array_to_string(toks[i:i+2], ' ') FOR i IN range(1, len(toks) - 1)] END) AS s
        |  FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks FROM filtered)),
        |n AS (SELECT id, len(s) AS n FROM sh),
        |posts AS (SELECT id, unnest(s) AS tok FROM sh),
        |prs AS (
        |  SELECT id1, id2 FROM (
        |    SELECT p.id1, p.id2, p.inter::DOUBLE / (n1.n + n2.n - p.inter) AS jaccard
        |    FROM (SELECT a.id AS id1, b.id AS id2, count(*) AS inter
        |          FROM posts a JOIN posts b ON a.tok = b.tok AND a.id < b.id GROUP BY 1, 2) p
        |    JOIN n n1 ON p.id1 = n1.id JOIN n n2 ON p.id2 = n2.id)
        |  WHERE jaccard >= 0.8),
        |edges AS (SELECT id1 AS a, id2 AS b FROM prs UNION ALL SELECT id2, id1 FROM prs),
        |reach(a, b) AS (
        |  SELECT a, b FROM edges
        |  UNION
        |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
        |comp AS (SELECT a AS id, least(a, min(b)) AS comp FROM reach GROUP BY a),
        |kept AS (
        |  SELECT d.doc_id, d.text FROM filtered d
        |  LEFT JOIN comp c ON d.doc_id = c.id
        |  WHERE c.id IS NULL OR c.comp = d.doc_id),
        |t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
        |      FROM kept WHERE len(trim(text)) > 0),
        |i AS (SELECT doc_id, toks,
        |        unnest(range(0, greatest(0, (len(toks) - 40 + 29) // 30) + 1)) AS chunk_id
        |      FROM t)
        |SELECT doc_id, CAST(chunk_id AS INTEGER) AS chunk_id,
        |       array_to_string(toks[chunk_id * 30 + 1 : chunk_id * 30 + 40], ' ') AS chunk,
        |       least(40, len(toks) - chunk_id * 30) AS n_chunk_tokens
        |FROM i""".stripMargin,
    "x3_cosine_pairs_exact" ->
      """SELECT id1, id2, round(cos, 6) AS cos FROM (
        |  SELECT a.vec_id AS id1, b.vec_id AS id2,
        |         list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) AS cos
        |  FROM embeddings a, embeddings b WHERE a.vec_id < b.vec_id)
        |WHERE cos >= 0.4""".stripMargin,
    "x5_chunks" ->
      """WITH t AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
        |  FROM documents WHERE len(trim(text)) > 0),
        |i AS (SELECT doc_id, toks,
        |        unnest(range(0, greatest(0, (len(toks) - 40 + 29) // 30) + 1)) AS chunk_id
        |      FROM t)
        |SELECT doc_id, CAST(chunk_id AS INTEGER) AS chunk_id,
        |       array_to_string(toks[chunk_id * 30 + 1 : chunk_id * 30 + 40], ' ') AS chunk,
        |       least(40, len(toks) - chunk_id * 30) AS n_chunk_tokens
        |FROM i""".stripMargin,
    "x12_group_topk" ->
      """SELECT lang, rank, doc_id, n_chars FROM (
        |  SELECT lang, doc_id, n_chars,
        |         row_number() OVER (PARTITION BY lang
        |           ORDER BY n_chars DESC, doc_id ASC) AS rank
        |  FROM documents) WHERE rank <= 3""".stripMargin,
    "x3_knn_exact" ->
      """SELECT query_id, rank, neighbor_id, round(cos, 6) AS cos FROM (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |         list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]) AS cos,
        |         row_number() OVER (PARTITION BY q.vec_id
        |           ORDER BY list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]) DESC,
        |                    c.vec_id ASC) AS rank
        |  FROM embeddings q, embeddings c
        |  WHERE q.vec_id < 5 AND c.vec_id <> q.vec_id)
        |WHERE rank <= 10""".stripMargin,
    // the filtered-corpus exact top-k: the corpus side narrows to the
    // candidateFilter's predicate, the query side stays the external list
    "r52_spec_knn_filtered" ->
      """SELECT query_id, rank, neighbor_id, round(cos, 6) AS cos FROM (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |         list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]) AS cos,
        |         row_number() OVER (PARTITION BY q.vec_id
        |           ORDER BY list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]) DESC,
        |                    c.vec_id ASC) AS rank
        |  FROM embeddings q, embeddings c
        |  WHERE q.vec_id < 5 AND c.vec_id <> q.vec_id AND c.label < 4)
        |WHERE rank <= 10""".stripMargin,
    // the rebuild-without-those-rows exact top-k: the corpus side excludes
    // the tombstoned ids (every tenth), the query side is the external
    // query list (independent of deletion)
    "r51_spec_knn_delete" ->
      """SELECT query_id, rank, neighbor_id, round(cos, 6) AS cos FROM (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |         list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]) AS cos,
        |         row_number() OVER (PARTITION BY q.vec_id
        |           ORDER BY list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]) DESC,
        |                    c.vec_id ASC) AS rank
        |  FROM embeddings q, embeddings c
        |  WHERE q.vec_id < 5 AND c.vec_id <> q.vec_id AND c.vec_id % 10 <> 7)
        |WHERE rank <= 10""".stripMargin,
    // the MASS-deletion rebuild-minus oracle (40% of the corpus gone):
    // shared by the shuffle-route and broadcast-route rows — route choice
    // is a plan shape, never a result
    "r54_spec_knn_mass_delete" ->
      """SELECT query_id, rank, neighbor_id, round(cos, 6) AS cos FROM (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |         list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]) AS cos,
        |         row_number() OVER (PARTITION BY q.vec_id
        |           ORDER BY list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]) DESC,
        |                    c.vec_id ASC) AS rank
        |  FROM embeddings q, embeddings c
        |  WHERE q.vec_id < 5 AND c.vec_id <> q.vec_id AND c.vec_id % 5 >= 2)
        |WHERE rank <= 10""".stripMargin,
    // the per-category ROUTED search: exact top-k among the label-3
    // category only (the sub-index's whole corpus)
    "r54_spec_knn_per_category" ->
      """SELECT query_id, rank, neighbor_id, round(cos, 6) AS cos FROM (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |         list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]) AS cos,
        |         row_number() OVER (PARTITION BY q.vec_id
        |           ORDER BY list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]) DESC,
        |                    c.vec_id ASC) AS rank
        |  FROM embeddings q, embeddings c
        |  WHERE q.vec_id < 5 AND c.vec_id <> q.vec_id AND c.label = 3)
        |WHERE rank <= 10""".stripMargin,
    // conjunction routing: the equality routes to the label-3 sub-index,
    // the residual (even ids) filters inside it — the oracle is the
    // doubly-filtered exact top-k
    "r54_spec_knn_category_residual" ->
      """SELECT query_id, rank, neighbor_id, round(cos, 6) AS cos FROM (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |         list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]) AS cos,
        |         row_number() OVER (PARTITION BY q.vec_id
        |           ORDER BY list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]) DESC,
        |                    c.vec_id ASC) AS rank
        |  FROM embeddings q, embeddings c
        |  WHERE q.vec_id < 5 AND c.vec_id <> q.vec_id
        |    AND c.label = 3 AND c.vec_id % 2 = 0)
        |WHERE rank <= 10""".stripMargin,
    "x4_multimodal" ->
      """SELECT doc_id AS media_id, 'application/octet-stream' AS mime,
        |       CAST(n_chars AS BIGINT) AS n_bytes, md5(text) AS content_hash
        |FROM documents""".stripMargin,
    "x4_frame_sample" ->
      """SELECT doc_id AS media_id,
        |       unnest(range(0, greatest(n_chars * 10 - 1, 0) + 1, 1000)) AS frame_ts_ms
        |FROM documents""".stripMargin,
    // Mirrors resizeStub exactly: the byte budget runs on the UTF-8 payload
    // byte length (octet_length of the blob) while the stub width/height
    // derive from the CHARACTER length (asBlobTable meta), and the final
    // substr can only keep what exists (outer least; an empty payload stays
    // 0 bytes despite the greatest(1, …) floor in the budget).
    "x4_resize" ->
      """SELECT doc_id AS media_id,
        |  CAST(least(octet_length(encode(text)), greatest(1,
        |    octet_length(encode(text)) * 19200
        |      // greatest((length(text) % 640) * (length(text) % 480), 1)))
        |    AS BIGINT) AS n_bytes,
        |  CAST(160 AS INTEGER) AS width, CAST(120 AS INTEGER) AS height
        |FROM documents""".stripMargin,
    "x5_text_stats" ->
      """SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars,
        |  CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_tokens,
        |  round(length(regexp_replace(trim(text), '\s+', '', 'g'))::DOUBLE
        |    / len(regexp_split_to_array(trim(text), '\s+')), 6) AS avg_token_len,
        |  round((length(text) - length(regexp_replace(text, '[.,;:!?''"()\[\]{}-]', '', 'g')))::DOUBLE
        |    / length(text), 6) AS punct_ratio,
        |  round(len(list_filter(regexp_split_to_array(trim(text), '\s+'),
        |    t -> t IN ('the','a','an','of','to','and','in','is','it','that')))::DOUBLE
        |    / len(regexp_split_to_array(trim(text), '\s+')), 6) AS stopword_ratio,
        |  CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS BIGINT)
        |    AS n_lex_tokens
        |FROM documents""".stripMargin,
    "x5_lang_id" ->
      """WITH scores AS (
        |  SELECT doc_id,
        |    len(list_filter(toks, t -> t IN ('der','die','das','und','nicht','ist','ein','eine','mit','für'))) AS de,
        |    len(list_filter(toks, t -> t IN ('the','and','of','to','is','that','for','with','this','not'))) AS en,
        |    len(list_filter(toks, t -> t IN ('el','la','los','las','es','una','para','por','como','pero'))) AS es,
        |    len(list_filter(toks, t -> t IN ('le','les','des','est','une','dans','pour','que','pas','sur'))) AS fr,
        |    length(text) - length(regexp_replace(text, '[一-龥]', '', 'g')) AS zh
        |  FROM (SELECT doc_id, text, regexp_split_to_array(trim(lower(text)), '\s+') AS toks FROM documents))
        |SELECT doc_id, CASE
        |  WHEN greatest(de, en, es, fr, zh) <= 0 THEN 'und'
        |  WHEN de = greatest(de, en, es, fr, zh) THEN 'de'
        |  WHEN en = greatest(de, en, es, fr, zh) THEN 'en'
        |  WHEN es = greatest(de, en, es, fr, zh) THEN 'es'
        |  WHEN fr = greatest(de, en, es, fr, zh) THEN 'fr'
        |  ELSE 'zh' END AS lang_pred
        |FROM scores""".stripMargin,
    "x5_tfidf" ->
      """WITH terms AS (
        |  SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS term,
        |         len(regexp_split_to_array(trim(lower(text)), '\s+')) AS n_doc_tokens
        |  FROM documents),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM terms GROUP BY 1, 2),
        |dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        |n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents)
        |SELECT tf.doc_id, tf.term, tf.tf, dfreq.df,
        |       round(tf.tf * ln(n.n_docs::DOUBLE / dfreq.df), 6) AS tf_idf
        |FROM tf JOIN dfreq USING (term) CROSS JOIN n""".stripMargin,
    "x3_sql_knn" ->
      """SELECT query_id, rank, neighbor_id, round(cos, 6) AS cos FROM (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |         list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]) AS cos,
        |         row_number() OVER (PARTITION BY q.vec_id
        |           ORDER BY list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]) DESC,
        |                    c.vec_id ASC) AS rank
        |  FROM embeddings q, embeddings c
        |  WHERE q.vec_id < 3 AND c.vec_id <> q.vec_id)
        |WHERE rank <= 5""".stripMargin,
    "x6_window_agg" ->
      """SELECT time_bucket(INTERVAL '10 minutes', CAST(ts AS TIMESTAMP)) AS window_start,
        |       event_type, count(*) AS cnt, round(sum(value), 4) AS sum_value
        |FROM events GROUP BY 1, 2""".stripMargin,
    "x9_stratified_sample" ->
      """SELECT doc_id, lang, n_chars FROM (
        |  SELECT doc_id, lang, n_chars,
        |         row_number() OVER (PARTITION BY lang ORDER BY doc_id) AS rn
        |  FROM documents)
        |WHERE (rn - 1) % 5 = 0""".stripMargin,
    "x6_sliding_window" ->
      """SELECT ws AS window_start, event_type, count(*) AS cnt FROM (
        |  SELECT event_type, CAST(ts AS TIMESTAMP) AS t,
        |         unnest([time_bucket(INTERVAL '5 minutes', CAST(ts AS TIMESTAMP)),
        |                 time_bucket(INTERVAL '5 minutes', CAST(ts AS TIMESTAMP))
        |                   - INTERVAL '5 minutes']) AS ws
        |  FROM events)
        |WHERE t >= ws AND t < ws + INTERVAL '10 minutes'
        |GROUP BY ws, event_type""".stripMargin,
    "q19_disjunctive" ->
      """SELECT round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))), 2)::DOUBLE AS revenue
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
        |       AND l_quantity BETWEEN 1 AND 11)
        |   OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 25
        |       AND l_quantity BETWEEN 10 AND 20)
        |   OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 35
        |       AND l_quantity BETWEEN 20 AND 30)""".stripMargin,
    "q14_promo_share" ->
      """SELECT round(100.0 *
        |         sum(CASE WHEN p_type LIKE 'PROMO%'
        |             THEN l_extendedprice * (1 - l_discount) ELSE 0 END) /
        |         sum(l_extendedprice * (1 - l_discount)), 4) AS promo_revenue_pct
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE l_shipdate >= TIMESTAMP '1996-03-01 00:00:00'
        |  AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'""".stripMargin,
    "q6_gsets" ->
      """SELECT l_returnflag, l_linestatus,
        |       GROUPING(l_returnflag, l_linestatus) AS gid,
        |       count(*) AS cnt, round(sum(l_quantity), 4) AS sum_qty
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())""".stripMargin,
    "x11_deciles" ->
      """SELECT o_orderkey AS orderkey, c_mktsegment AS segment,
        |       ntile(10) OVER w AS decile,
        |       round(percent_rank() OVER w, 6) AS pct_rank
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |WINDOW w AS (PARTITION BY c_mktsegment
        |             ORDER BY o_totalprice, o_orderkey)""".stripMargin,
    "x11_lag_delta" ->
      """SELECT o_custkey AS custkey, o_orderkey AS orderkey,
        |       round(o_totalprice - lag(o_totalprice, 1) OVER w, 4) AS delta_prev,
        |       round(lead(o_totalprice, 1) OVER w - o_totalprice, 4) AS delta_next
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)""".stripMargin,
    "q6_rollup" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS cnt,
        |       round(sum(l_quantity), 4) AS sum_qty
        |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)""".stripMargin,
    "q6_cube" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS cnt,
        |       round(sum(l_quantity), 4) AS sum_qty
        |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)""".stripMargin,
    "x8_pivot" ->
      """SELECT user_id,
        |  count(*) FILTER (event_type = 'click') AS click,
        |  count(*) FILTER (event_type = 'error') AS error,
        |  count(*) FILTER (event_type = 'purchase') AS purchase,
        |  count(*) FILTER (event_type = 'signup') AS signup,
        |  count(*) FILTER (event_type = 'view') AS view
        |FROM events GROUP BY user_id""".stripMargin,
    "x2_jaccard_char" ->
      """WITH norm AS (SELECT doc_id, regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS t
        |              FROM documents),
        |ln AS (SELECT * FROM norm WHERE length(t) >= 8),
        |grams0 AS (SELECT DISTINCT doc_id, substring(t, i, 8) AS g
        |           FROM (SELECT doc_id, t,
        |                        unnest(generate_series(1, length(t) - 7)) AS i
        |                 FROM ln)),
        |keep AS (SELECT g FROM grams0 GROUP BY g HAVING count(*) <= 30),
        |grams AS (SELECT grams0.doc_id, grams0.g FROM grams0 JOIN keep USING (g)),
        |sizes AS (SELECT doc_id, count(*) AS n FROM grams GROUP BY doc_id),
        |inter AS (SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS i
        |          FROM grams a JOIN grams b ON a.g = b.g AND a.doc_id < b.doc_id
        |          GROUP BY a.doc_id, b.doc_id)
        |SELECT id1, id2,
        |       round(CAST(i AS DOUBLE) / (s1.n + s2.n - i), 6) AS jaccard
        |FROM inter
        |JOIN sizes s1 ON s1.doc_id = id1
        |JOIN sizes s2 ON s2.doc_id = id2
        |WHERE CAST(i AS DOUBLE) / (s1.n + s2.n - i) >= 0.75""".stripMargin,
    "x16_profile" ->
      """SELECT 'doc_id' AS col_name, count(doc_id) AS n_non_null,
        |       count(DISTINCT doc_id) AS n_distinct FROM documents
        |UNION ALL SELECT 'text', count(text), count(DISTINCT text) FROM documents
        |UNION ALL SELECT 'lang', count(lang), count(DISTINCT lang) FROM documents
        |UNION ALL SELECT 'source', count(source), count(DISTINCT source) FROM documents
        |UNION ALL SELECT 'n_chars', count(n_chars), count(DISTINCT n_chars)
        |FROM documents""".stripMargin,
    "x22_pii_redact" ->
      """WITH m AS (
        |  SELECT c_custkey AS custkey,
        |         'Contact ' || c_name || ' <' || lower(replace(c_name, '#', '.')) ||
        |         '@example.com> or +1-555-' || lpad(CAST(c_custkey % 10000 AS VARCHAR), 4, '0') ||
        |         ' from 192.168.' || CAST(c_custkey % 256 AS VARCHAR) || '.' ||
        |         CAST(c_nationkey AS VARCHAR) || ' segment ' || c_mktsegment AS msg
        |  FROM customer)
        |SELECT custkey,
        |  regexp_replace(regexp_replace(regexp_replace(regexp_replace(msg,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
        |    '\+[0-9][0-9 ().-]{6,}[0-9]', '[PHONE]', 'g'),
        |    '([0-9]{1,3}\.){3}[0-9]{1,3}', '[IP]', 'g'),
        |    '\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b', '[SSN]', 'g') AS redacted
        |FROM m""".stripMargin,
    "x23_repetition" ->
      """WITH toks AS (
        |  SELECT doc_id, CASE WHEN len(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
        |         ELSE regexp_split_to_array(trim(text), '\s+') END AS t
        |  FROM documents),
        |base AS (
        |  SELECT doc_id, CAST(len(t) AS BIGINT) AS n_words,
        |         len(t) - len(list_distinct(t)) AS dupn,
        |         [t[i] || ' ' || t[i+1] FOR i IN range(1, len(t))] AS b
        |  FROM toks),
        |wc AS (SELECT doc_id, w, count(*) AS c
        |       FROM (SELECT doc_id, unnest(t) AS w FROM toks) GROUP BY 1, 2),
        |topw AS (SELECT doc_id, max(c) AS mx FROM wc GROUP BY 1),
        |bc AS (SELECT doc_id, w, count(*) AS c
        |       FROM (SELECT doc_id, unnest(b) AS w FROM base) GROUP BY 1, 2),
        |topb AS (SELECT doc_id, max(c) AS mx FROM bc GROUP BY 1)
        |SELECT base.doc_id, n_words,
        |  CASE WHEN n_words = 0 THEN 0.0
        |       ELSE round(dupn::DOUBLE / n_words, 6) END AS dup_word_frac,
        |  CASE WHEN n_words = 0 THEN 0.0
        |       ELSE round(coalesce(topw.mx, 0)::DOUBLE / n_words, 6) END AS top_word_frac,
        |  CASE WHEN len(b) = 0 THEN 0.0
        |       ELSE round(coalesce(topb.mx, 0)::DOUBLE / len(b), 6) END AS top_bigram_frac
        |FROM base
        |LEFT JOIN topw ON base.doc_id = topw.doc_id
        |LEFT JOIN topb ON base.doc_id = topb.doc_id""".stripMargin,
    "x29_drift" ->
      driftOracleSql(
        "SELECT * FROM events WHERE CAST(ts AS TIMESTAMP) >= TIMESTAMP '2024-01-16'"),
    // r35: the spec form's old side is the compareFilter'd first half; the
    // NEW side is the whole source topic (the frame) — same metric pipeline
    "r35_spec_drift" -> driftOracleSql("SELECT * FROM events"),
    "x29_drift_heavy" ->
      heavyDriftOracleSql(
        "SELECT * FROM events WHERE CAST(ts AS TIMESTAMP) >= TIMESTAMP '2024-01-16'"),
    "x29_drift_hist" ->
      histDriftOracleSql(
        "SELECT * FROM events WHERE CAST(ts AS TIMESTAMP) >= TIMESTAMP '2024-01-16'"),
    // r37: spec twin — old = compareFilter'd first half, new = the whole
    // source topic; the declared bounds hold, so every row passes
    "r37_spec_drift_hist" ->
      s"""SELECT col_name, metric, category, old_value, new_value, delta,
         |       TRUE AS pass
         |FROM (${histDriftOracleSql("SELECT * FROM events")})""".stripMargin,
    "x29_embed_drift" ->
      embedDriftOracleSql(
        "SELECT embedding AS e FROM embeddings WHERE embedding IS NOT NULL",
        "SELECT embedding AS e FROM embeddings WHERE label < 8 AND embedding IS NOT NULL"),
    // r38: spec twin from the other side — old = the compareFilter'd
    // 8-cluster subset, new = the whole topic; declared bounds hold, so
    // the gate's pass column is uniformly true
    "r38_spec_embed_drift" ->
      s"""SELECT col_name, metric, old_value, new_value, delta, TRUE AS pass
         |FROM (${embedDriftOracleSql(
        "SELECT embedding AS e FROM embeddings WHERE label < 8 AND embedding IS NOT NULL",
        "SELECT embedding AS e FROM embeddings WHERE embedding IS NOT NULL")})""".stripMargin,
    "x29_embed_drift_group" ->
      embedDriftGroupOracleSql(
        "SELECT label::VARCHAR AS category, embedding AS e FROM embeddings WHERE embedding IS NOT NULL",
        "SELECT label::VARCHAR AS category, embedding AS e FROM embeddings WHERE label < 8 AND embedding IS NOT NULL"),
    // r39: spec twin of the grouped leg from the other side (newborn
    // clusters instead of vanished ones)
    "r39_spec_embed_drift_group" ->
      embedDriftGroupOracleSql(
        "SELECT label::VARCHAR AS category, embedding AS e FROM embeddings WHERE label < 8 AND embedding IS NOT NULL",
        "SELECT label::VARCHAR AS category, embedding AS e FROM embeddings WHERE embedding IS NOT NULL"),
    // r40: the stored-artifact route must answer IDENTICALLY to the
    // rescanning form — same oracle as r38's inner pipeline (old = the
    // 8-cluster subset whose summary was stored at crawl time, new = the
    // whole topic), no rescan on the engine side
    "r40_spec_drift_summary" ->
      embedDriftOracleSql(
        "SELECT embedding AS e FROM embeddings WHERE label < 8 AND embedding IS NOT NULL",
        "SELECT embedding AS e FROM embeddings WHERE embedding IS NOT NULL"),
    // r41/r42: the artifact itself (one-shot build, and the two-shard
    // declarative merge) against per-dimension sums computed from raw
    // data — 6-dp rounding absorbs summation-order noise, the same
    // discipline as the embedding-drift deltas
    "r41_spec_embed_summary" -> embedSummaryOracleSql,
    "r42_spec_merge_summaries" -> embedSummaryOracleSql,
    // windowed summary: same per-dimension sums per tumbling day, the
    // synthesized event time spelled with identical arithmetic
    "x29_embed_summary_window" ->
      """WITH e0 AS (SELECT TIMESTAMP '2024-01-01 00:00:00'
        |              + (vec_id % 48) * INTERVAL '1 hour' AS ts,
        |            embedding AS e
        |            FROM embeddings WHERE embedding IS NOT NULL),
        |ee AS (SELECT time_bucket(INTERVAL '1 day', ts) AS window_start,
        |         unnest(e)::DOUBLE AS v, unnest(range(len(e))) AS i,
        |         sqrt(list_sum(list_transform(e, x -> x::DOUBLE * x::DOUBLE))) AS nrm
        |       FROM e0)
        |SELECT window_start, i,
        |  CASE WHEN round(sum(v), 6) = 0 THEN 0.0 ELSE round(sum(v), 6) END AS dim_sum,
        |  CASE WHEN round(sum(nrm), 6) = 0 THEN 0.0 ELSE round(sum(nrm), 6) END AS norm_sum,
        |  count(*)::DOUBLE AS n
        |FROM ee GROUP BY 1, 2""".stripMargin,
    // the windowed drift MONITOR's batch-read-back form: per-day metrics
    // vs the stored label<8 baseline, identical conventions windowed
    "x29_windowed_drift" -> embedDriftWindowedOracleSql,
    // the scalar-summary ARTIFACT rows: plain grouped sums (linearity is
    // the point — the same aggregation backs the windowed maintained form)
    "r48_spec_scalar_summary" ->
      """SELECT event_type, 'value' AS col_name,
        |  count(*) AS n_rows, count(value) AS n_nonnull,
        |  CASE WHEN round(sum(value), 6) = 0 THEN 0.0
        |       ELSE round(sum(value), 6) END AS "sum",
        |  CASE WHEN round(sum(value * value), 6) = 0 THEN 0.0
        |       ELSE round(sum(value * value), 6) END AS sumsq,
        |  min(value) AS "min", max(value) AS "max"
        |FROM events WHERE event_type IS NOT NULL
        |GROUP BY event_type""".stripMargin,
    // the windowed SCALAR drift monitor: per (hour, event_type) cell, the
    // six exact numeric metrics vs the stored user_id<8 baseline — the
    // identical sum-derived formulas (stddev is the textbook sample form
    // with the negative-variance clamp), NULL for a side that cannot
    // compute (absent baseline cell, < 2 rows for stddev)
    "r48_spec_scalar_monitor" ->
      """WITH n AS (SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS w,
        |         event_type, count(*) AS n, count(value) AS nn,
        |         sum(value) AS s, sum(value * value) AS sq,
        |         min(value) AS mn, max(value) AS mx
        |       FROM events WHERE event_type IS NOT NULL GROUP BY 1, 2),
        |o AS (SELECT event_type, count(*) AS n, count(value) AS nn,
        |        sum(value) AS s, sum(value * value) AS sq,
        |        min(value) AS mn, max(value) AS mx
        |      FROM events WHERE event_type IS NOT NULL AND user_id < 8
        |      GROUP BY 1),
        |j AS (SELECT n.w, n.event_type, n.n, n.nn, n.s, n.sq, n.mn, n.mx,
        |        o.n AS bn, o.nn AS bnn, o.s AS bs, o.sq AS bsq,
        |        o.mn AS bmn, o.mx AS bmx
        |      FROM n LEFT JOIN o USING (event_type)),
        |m AS (SELECT w, event_type, ms.metric, n,
        |    CASE ms.metric
        |      WHEN 'row_count' THEN CAST(bn AS DOUBLE)
        |      WHEN 'null_rate' THEN CASE WHEN bn = 0 THEN NULL
        |        ELSE (bn - bnn) / CAST(bn AS DOUBLE) END
        |      WHEN 'mean' THEN CASE WHEN bnn = 0 THEN NULL ELSE bs / bnn END
        |      WHEN 'stddev' THEN CASE WHEN bnn IS NULL OR bnn < 2 THEN NULL
        |        ELSE sqrt(greatest((bsq - bs * bs / bnn) / (bnn - 1), 0.0)) END
        |      WHEN 'min' THEN bmn ELSE bmx END AS ov,
        |    CASE ms.metric
        |      WHEN 'row_count' THEN CAST(n AS DOUBLE)
        |      WHEN 'null_rate' THEN (n - nn) / CAST(n AS DOUBLE)
        |      WHEN 'mean' THEN CASE WHEN nn = 0 THEN NULL ELSE s / nn END
        |      WHEN 'stddev' THEN CASE WHEN nn IS NULL OR nn < 2 THEN NULL
        |        ELSE sqrt(greatest((sq - s * s / nn) / (nn - 1), 0.0)) END
        |      WHEN 'min' THEN mn ELSE mx END AS nv
        |  FROM j, (SELECT unnest(['row_count', 'null_rate', 'mean',
        |                          'stddev', 'min', 'max']) AS metric) ms)
        |SELECT w AS window_start, 'value' AS col_name, metric,
        |  CAST(event_type AS VARCHAR) AS category,
        |  CASE WHEN round(ov, 6) = 0 THEN 0.0 ELSE round(ov, 6) END AS old_value,
        |  CASE WHEN round(nv, 6) = 0 THEN 0.0 ELSE round(nv, 6) END AS new_value,
        |  CASE WHEN round(nv - ov, 6) = 0 THEN 0.0
        |       ELSE round(nv - ov, 6) END AS delta,
        |  CAST(n AS DOUBLE) AS n_new
        |FROM m""".stripMargin,
    // the BATCH stored scalar leg (r49): the same sum-derived metrics,
    // windowless, FULL-joined on the stratum so a vanished or newborn
    // cell surfaces with NULLs on its absent side
    "r49_spec_drift_stats" ->
      """WITH n AS (SELECT event_type, count(*) AS n, count(value) AS nn,
        |        sum(value) AS s, sum(value * value) AS sq,
        |        min(value) AS mn, max(value) AS mx
        |      FROM events WHERE event_type IS NOT NULL GROUP BY 1),
        |o AS (SELECT event_type, count(*) AS n, count(value) AS nn,
        |        sum(value) AS s, sum(value * value) AS sq,
        |        min(value) AS mn, max(value) AS mx
        |      FROM events WHERE event_type IS NOT NULL AND user_id < 8
        |      GROUP BY 1),
        |j AS (SELECT coalesce(n.event_type, o.event_type) AS event_type,
        |        n.n AS n, n.nn AS nn, n.s AS s, n.sq AS sq,
        |        n.mn AS mn, n.mx AS mx,
        |        o.n AS bn, o.nn AS bnn, o.s AS bs, o.sq AS bsq,
        |        o.mn AS bmn, o.mx AS bmx
        |      FROM o FULL JOIN n ON o.event_type = n.event_type),
        |m AS (SELECT event_type, ms.metric,
        |    CASE ms.metric
        |      WHEN 'row_count' THEN CAST(bn AS DOUBLE)
        |      WHEN 'null_rate' THEN CASE WHEN bn = 0 THEN NULL
        |        ELSE (bn - bnn) / CAST(bn AS DOUBLE) END
        |      WHEN 'mean' THEN CASE WHEN bnn = 0 THEN NULL ELSE bs / bnn END
        |      WHEN 'stddev' THEN CASE WHEN bnn IS NULL OR bnn < 2 THEN NULL
        |        ELSE sqrt(greatest((bsq - bs * bs / bnn) / (bnn - 1), 0.0)) END
        |      WHEN 'min' THEN bmn ELSE bmx END AS ov,
        |    CASE ms.metric
        |      WHEN 'row_count' THEN CAST(n AS DOUBLE)
        |      WHEN 'null_rate' THEN CASE WHEN n = 0 THEN NULL
        |        ELSE (n - nn) / CAST(n AS DOUBLE) END
        |      WHEN 'mean' THEN CASE WHEN nn = 0 THEN NULL ELSE s / nn END
        |      WHEN 'stddev' THEN CASE WHEN nn IS NULL OR nn < 2 THEN NULL
        |        ELSE sqrt(greatest((sq - s * s / nn) / (nn - 1), 0.0)) END
        |      WHEN 'min' THEN mn ELSE mx END AS nv
        |  FROM j, (SELECT unnest(['row_count', 'null_rate', 'mean',
        |                          'stddev', 'min', 'max']) AS metric) ms)
        |SELECT 'value' AS col_name, metric,
        |  CAST(event_type AS VARCHAR) AS category,
        |  CASE WHEN round(ov, 6) = 0 THEN 0.0 ELSE round(ov, 6) END AS old_value,
        |  CASE WHEN round(nv, 6) = 0 THEN 0.0 ELSE round(nv, 6) END AS new_value,
        |  CASE WHEN round(nv - ov, 6) = 0 THEN 0.0
        |       ELSE round(nv - ov, 6) END AS delta
        |FROM m""".stripMargin,
    // the r36 gate twin: scalar+freq report rows (null category) unioned
    // with the heavy rows, every row pass = true — the bounds hold on the
    // fixture; the violation path is exception-pinned in InterpreterSpec
    "r36_spec_drift_gate" ->
      s"""SELECT col_name, metric, NULL::VARCHAR AS category,
         |       old_value, new_value, delta, TRUE AS pass
         |FROM (${driftOracleSql("SELECT * FROM events")})
         |UNION ALL
         |SELECT col_name, metric, category, old_value, new_value, delta,
         |       TRUE AS pass
         |FROM (${heavyDriftOracleSql("SELECT * FROM events")})""".stripMargin,
    "x21_heavy_hitters" ->
      """WITH toks AS (
        |  SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS tok
        |  FROM documents WHERE len(trim(text)) > 0),
        |tot AS (SELECT count(*) AS n FROM toks)
        |SELECT tok AS item, count(*) AS cnt
        |FROM toks, tot
        |GROUP BY tok, n
        |HAVING count(*) >= ceil(0.005 * n)""".stripMargin,
    "q17_small_qty" ->
      """SELECT round(sum(l_extendedprice) / 7.0, 2) AS avg_yearly
        |FROM lineitem l1
        |WHERE l_quantity < (SELECT 0.2 * avg(l_quantity) FROM lineitem l2
        |                    WHERE l2.l_partkey = l1.l_partkey)""".stripMargin,
    "q4_order_priority" ->
      """SELECT o_orderpriority, count(*) AS order_count
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1996-07-01 00:00:00'
        |  AND EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
        |GROUP BY o_orderpriority""".stripMargin,
    "x8_unpivot" ->
      """SELECT l_orderkey, l_linenumber, 'l_quantity' AS measure, l_quantity AS value
        |FROM lineitem WHERE l_orderkey < 1000
        |UNION ALL
        |SELECT l_orderkey, l_linenumber, 'l_extendedprice', l_extendedprice
        |FROM lineitem WHERE l_orderkey < 1000
        |UNION ALL
        |SELECT l_orderkey, l_linenumber, 'l_discount', l_discount
        |FROM lineitem WHERE l_orderkey < 1000
        |UNION ALL
        |SELECT l_orderkey, l_linenumber, 'l_tax', l_tax
        |FROM lineitem WHERE l_orderkey < 1000""".stripMargin,
    "x15_range_join" ->
      """WITH iv AS (SELECT user_id, event_id AS iv_id,
        |                   CAST(ts AS TIMESTAMP) AS w_start,
        |                   CAST(ts AS TIMESTAMP) + INTERVAL '10 minutes' AS w_end
        |            FROM events WHERE event_id % 50 = 0)
        |SELECT e.event_id, iv.iv_id, e.user_id
        |FROM events e JOIN iv ON e.user_id = iv.user_id
        |  AND CAST(e.ts AS TIMESTAMP) >= iv.w_start
        |  AND CAST(e.ts AS TIMESTAMP) <= iv.w_end""".stripMargin,
    "x7_asof_join" ->
      """WITH u AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS uts, value AS profile_value
        |           FROM events WHERE event_id % 10 = 0)
        |SELECT e.event_id, e.user_id, CAST(e.ts AS TIMESTAMP) AS ts, u.profile_value
        |FROM events e ASOF LEFT JOIN u
        |  ON e.user_id = u.user_id AND CAST(e.ts AS TIMESTAMP) >= u.uts""".stripMargin,
    "x7_asof_forward" ->
      """WITH s AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts
        |           FROM events WHERE event_type = 'signup'),
        |p AS (SELECT user_id AS pu, CAST(ts AS TIMESTAMP) AS pts, min(value) AS next_value
        |      FROM events WHERE event_type = 'purchase' GROUP BY 1, 2)
        |SELECT s.event_id, s.user_id, s.ts, p.next_value
        |FROM s ASOF LEFT JOIN p ON s.user_id = p.pu AND s.ts <= p.pts""".stripMargin,
    "x6_session_window" ->
      """WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts FROM events),
        |m AS (SELECT user_id, ts,
        |        CASE WHEN lag(ts) OVER w IS NULL
        |               OR ts - lag(ts) OVER w >= INTERVAL '5 minutes' THEN 1 ELSE 0 END AS brk
        |      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        |s AS (SELECT user_id, ts, sum(brk) OVER (PARTITION BY user_id ORDER BY ts
        |        ROWS UNBOUNDED PRECEDING) AS sid FROM m)
        |SELECT min(ts) AS session_start, user_id, count(*) AS cnt
        |FROM s GROUP BY user_id, sid""".stripMargin,
    "q7_nation_volume" ->
      """SELECT supp_nation, cust_nation, yr, round(sum(CAST(volume AS DECIMAL(18,6))), 2)::DOUBLE AS revenue
        |FROM (SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        |             CAST(year(l.l_shipdate) AS INTEGER) AS yr,
        |             l.l_extendedprice * (1 - l.l_discount) AS volume
        |      FROM supplier s
        |      JOIN lineitem l ON s.s_suppkey = l.l_suppkey
        |      JOIN orders o ON o.o_orderkey = l.l_orderkey
        |      JOIN customer c ON c.c_custkey = o.o_custkey
        |      JOIN nation n1 ON s.s_nationkey = n1.n_nationkey
        |      JOIN nation n2 ON c.c_nationkey = n2.n_nationkey
        |      WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
        |         OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
        |GROUP BY supp_nation, cust_nation, yr""".stripMargin,
    "q8_market_share" ->
      """SELECT yr, round(sum(CASE WHEN nation = 'NATION_3' THEN volume ELSE 0 END)
        |                 / sum(volume), 6) AS mkt_share
        |FROM (SELECT CAST(year(o.o_orderdate) AS INTEGER) AS yr,
        |             l.l_extendedprice * (1 - l.l_discount) AS volume,
        |             n2.n_name AS nation
        |      FROM part p
        |      JOIN lineitem l ON p.p_partkey = l.l_partkey
        |      JOIN supplier s ON s.s_suppkey = l.l_suppkey
        |      JOIN orders o ON l.l_orderkey = o.o_orderkey
        |      JOIN customer c ON o.o_custkey = c.c_custkey
        |      JOIN nation n1 ON c.c_nationkey = n1.n_nationkey
        |      JOIN region r ON n1.n_regionkey = r.r_regionkey
        |      JOIN nation n2 ON s.s_nationkey = n2.n_nationkey
        |      WHERE r.r_name = 'ASIA' AND p.p_type = 'ECONOMY')
        |GROUP BY yr""".stripMargin,
    "q10_returns" ->
      """SELECT custkey, name, nation, revenue FROM (
        |  SELECT c.c_custkey AS custkey, c.c_name AS name, n.n_name AS nation,
        |         round(sum(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,6))), 2)::DOUBLE AS revenue
        |  FROM customer c
        |  JOIN orders o ON c.c_custkey = o.o_custkey
        |  JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        |  JOIN nation n ON c.c_nationkey = n.n_nationkey
        |  WHERE o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |    AND o.o_orderdate < TIMESTAMP '1996-07-01 00:00:00'
        |    AND l.l_returnflag = 'R'
        |  GROUP BY 1, 2, 3)
        |ORDER BY revenue DESC, custkey ASC LIMIT 20""".stripMargin,
    "q12_late_lines" ->
      """SELECT o.o_orderpriority AS priority,
        |       count(CASE WHEN l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
        |                  THEN 1 END) AS late_count,
        |       count(*) AS total_count
        |FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        |GROUP BY o.o_orderpriority""".stripMargin,
    "q13_order_dist" ->
      """SELECT c_count, count(*) AS custdist
        |FROM (SELECT c.c_custkey, count(o.o_orderkey) AS c_count
        |      FROM customer c LEFT JOIN orders o
        |        ON c.c_custkey = o.o_custkey AND o.o_orderpriority <> '1-URGENT'
        |      GROUP BY c.c_custkey)
        |GROUP BY c_count""".stripMargin,
    "q15_top_supplier" ->
      """WITH rev AS (SELECT l_suppkey,
        |                    round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))), 2)::DOUBLE AS total_revenue
        |             FROM lineitem
        |             WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |               AND l_shipdate < TIMESTAMP '1996-07-01 00:00:00'
        |             GROUP BY l_suppkey)
        |SELECT s.s_suppkey AS suppkey, s.s_name AS name, r.total_revenue
        |FROM supplier s JOIN rev r ON s.s_suppkey = r.l_suppkey
        |WHERE r.total_revenue = (SELECT max(total_revenue) FROM rev)""".stripMargin,
    "q2_min_cost_supplier" ->
      """WITH cost AS (SELECT l_partkey, l_suppkey,
        |                     min(l_extendedprice / l_quantity) AS unit_cost
        |              FROM lineitem GROUP BY 1, 2),
        |mc AS (SELECT l_partkey, min(unit_cost) AS min_cost FROM cost GROUP BY 1)
        |SELECT p.p_partkey AS partkey, s.s_name AS supplier,
        |       round(CAST(c.unit_cost AS DECIMAL(18,6)), 4)::DOUBLE AS unit_cost
        |FROM cost c
        |JOIN mc ON c.l_partkey = mc.l_partkey AND c.unit_cost = mc.min_cost
        |JOIN part p ON p.p_partkey = c.l_partkey
        |JOIN supplier s ON s.s_suppkey = c.l_suppkey
        |WHERE p.p_size <= 3""".stripMargin,
    "x18_bloom_join" ->
      """SELECT l.l_orderkey AS orderkey, l.l_linenumber AS linenumber,
        |       l.l_quantity AS qty, o.o_totalprice AS totalprice
        |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |WHERE o.o_totalprice > 450000""".stripMargin,
    "q9_product_profit" ->
      """SELECT nation, yr, round(sum(CAST(amount AS DECIMAL(18,6))), 2)::DOUBLE AS sum_profit
        |FROM (SELECT n.n_name AS nation, CAST(year(o.o_orderdate) AS INTEGER) AS yr,
        |             l.l_extendedprice * (1 - l.l_discount)
        |               - 0.6 * p.p_retailprice * l.l_quantity AS amount
        |      FROM part p
        |      JOIN lineitem l ON p.p_partkey = l.l_partkey
        |      JOIN supplier s ON s.s_suppkey = l.l_suppkey
        |      JOIN orders o ON o.o_orderkey = l.l_orderkey
        |      JOIN nation n ON s.s_nationkey = n.n_nationkey
        |      WHERE p.p_type = 'PROMO')
        |GROUP BY nation, yr""".stripMargin,
    "q16_supplier_diversity" ->
      """SELECT p.p_brand AS brand, p.p_type AS type, p.p_size AS size,
        |       count(DISTINCT l.l_suppkey) AS supplier_cnt
        |FROM part p JOIN lineitem l ON p.p_partkey = l.l_partkey
        |WHERE p.p_brand <> 'Brand#1' AND p.p_size IN (1, 4, 7)
        |GROUP BY p.p_brand, p.p_type, p.p_size""".stripMargin,
    "q20_dominant_suppliers" ->
      """WITH shipped AS (
        |  SELECT l_suppkey, l_partkey, sum(l_quantity) AS qty
        |  FROM lineitem GROUP BY l_suppkey, l_partkey),
        |tot AS (SELECT l_partkey, sum(qty) AS total_qty FROM shipped GROUP BY l_partkey)
        |SELECT s.s_suppkey AS suppkey, s.s_name AS name
        |FROM supplier s
        |WHERE s.s_suppkey IN (
        |  SELECT sh.l_suppkey FROM shipped sh
        |  JOIN tot t ON sh.l_partkey = t.l_partkey
        |  JOIN part p ON p.p_partkey = sh.l_partkey
        |  WHERE p.p_type = 'PROMO' AND sh.qty > 0.15 * t.total_qty)""".stripMargin,
    "q21_sole_blame" ->
      """WITH o AS (
        |  SELECT l_orderkey, count(DISTINCT l_suppkey) AS nsupp,
        |         count(DISTINCT CASE WHEN l_returnflag = 'R' THEN l_suppkey END) AS nret
        |  FROM lineitem GROUP BY l_orderkey)
        |SELECT s.s_suppkey AS suppkey, s.s_name AS name,
        |       count(DISTINCT l.l_orderkey) AS numwait
        |FROM supplier s
        |JOIN lineitem l ON s.s_suppkey = l.l_suppkey
        |JOIN o ON l.l_orderkey = o.l_orderkey
        |WHERE l.l_returnflag = 'R' AND o.nsupp >= 2 AND o.nret = 1
        |GROUP BY s.s_suppkey, s.s_name""".stripMargin,
    "q11_important_stock" ->
      """WITH v AS (
        |  SELECT l.l_partkey, sum(CAST(l.l_extendedprice * l.l_quantity AS DECIMAL(18,6))) AS value
        |  FROM lineitem l
        |  WHERE l.l_suppkey IN (
        |    SELECT s.s_suppkey FROM supplier s
        |    JOIN nation n ON s.s_nationkey = n.n_nationkey
        |    WHERE n.n_name = 'NATION_8')
        |  GROUP BY l.l_partkey),
        |t AS (SELECT sum(value) AS tot, count(*) AS nparts FROM v)
        |SELECT l_partkey AS partkey, CAST(round(value, 2) AS DOUBLE) AS value
        |FROM v, t WHERE value * nparts > 2 * tot""".stripMargin,
    "x19_contamination" ->
      """WITH sh AS (
        |  SELECT doc_id, list_distinct(CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
        |    ELSE [array_to_string(toks[i:i+2], ' ') FOR i IN range(1, len(toks) - 1)] END) AS s
        |  FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks FROM documents)),
        |bench AS (SELECT DISTINCT unnest(s) AS tok FROM sh WHERE doc_id < 20),
        |docs AS (SELECT doc_id, s FROM sh WHERE doc_id >= 20),
        |posts AS (SELECT doc_id, unnest(s) AS tok FROM docs),
        |m AS (SELECT p.doc_id, count(*) AS matched FROM posts p
        |      JOIN bench b ON p.tok = b.tok GROUP BY p.doc_id)
        |SELECT d.doc_id, CAST(len(d.s) AS INTEGER) AS n_shingles, coalesce(m.matched, 0) AS matched,
        |       round(coalesce(m.matched, 0)::DOUBLE / len(d.s), 6) AS contamination
        |FROM docs d LEFT JOIN m ON d.doc_id = m.doc_id""".stripMargin,
    "x9_weighted_mix" ->
      """SELECT doc_id, source, lang, n_chars FROM (
        |  SELECT doc_id, source, lang, n_chars,
        |         CAST(row_number() OVER (PARTITION BY source ORDER BY doc_id) AS DOUBLE) AS rn,
        |         CASE source WHEN 'src0' THEN 1.0 WHEN 'src1' THEN 0.5
        |                     WHEN 'src2' THEN 0.25 ELSE 0.1 END AS f
        |  FROM documents)
        |WHERE floor(rn * f) > floor((rn - 1) * f)""".stripMargin,
    "x20_resample" ->
      """WITH obs AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS t, max(value) AS value
        |             FROM events GROUP BY user_id, CAST(ts AS TIMESTAMP)),
        |b AS (SELECT user_id, time_bucket(INTERVAL '30 minutes', min(t)) AS t0, max(t) AS t1
        |      FROM obs GROUP BY user_id),
        |grid AS (SELECT user_id, unnest(generate_series(t0, t1, INTERVAL '30 minutes')) AS grid_ts
        |         FROM b)
        |SELECT g.user_id, g.grid_ts, o.value
        |FROM grid g ASOF LEFT JOIN obs o ON g.user_id = o.user_id AND g.grid_ts >= o.t""".stripMargin,
    "x20_resample_dense" ->
      """WITH obs AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS t, max(value) AS value
        |             FROM events GROUP BY user_id, CAST(ts AS TIMESTAMP)),
        |b AS (SELECT user_id, time_bucket(INTERVAL '3 minutes', min(t)) AS t0, max(t) AS t1
        |      FROM obs GROUP BY user_id),
        |grid AS (SELECT user_id, unnest(generate_series(t0, t1, INTERVAL '3 minutes')) AS grid_ts
        |         FROM b)
        |SELECT g.user_id, g.grid_ts, o.value
        |FROM grid g ASOF LEFT JOIN obs o ON g.user_id = o.user_id AND g.grid_ts >= o.t""".stripMargin
  )

  // the capped branch must reproduce the exact result on this data (no
  // shingle reaches the cap: measured max df 9) — same oracle, alternate
  // code path pinned non-vacuously. The quantized knn re-ranks its widened
  // candidate set with the exact cosine, so it too must reproduce the
  // exact top-k (recall of the candidate stage is pinned in OperatorsSpec).
  val oracles: Map[String, String] =
    oracles0 + ("x2_jaccard_capped" -> oracles0("x2_jaccard_pairs")) +
      // the mass-delete BROADCAST-route row shares the shuffle-route
      // row's rebuild-minus oracle (route choice is a plan shape)
      ("r54_spec_knn_mass_delete_bcast" ->
        oracles0("r54_spec_knn_mass_delete")) +
      // the strict and DLQ parse postures must be invisible on clean
      // input — the lenient r16 row's oracle verbatim
      ("r54_spec_json_strict" -> oracles0("r16_json_parse")) +
      ("r54_spec_json_dlq" -> oracles0("r16_json_parse")) +
      // the spec-driven training pipeline must hash-match the code-path x14
      ("r22_spec_training" -> oracles0("x14_training_pipeline")) +
      ("x3_knn_quantized" -> oracles0("x3_knn_exact")) +
      // the zero-shuffle projection form must score identically to the
      // join form — same oracle, alternate execution shape pinned
      ("x19_contamination_stream" -> oracles0("x19_contamination")) +
      // the config-declared screen must hash-match the code-path x19 too
      ("r23_spec_contamination" -> oracles0("x19_contamination")) +
      // config-declared text ops must hash-match their code-path queries
      ("r24_spec_langid" -> oracles0("x5_lang_id")) +
      ("r24_spec_textstats" -> oracles0("x5_text_stats")) +
      ("r25_spec_sample" -> oracles0("x9_stratified_sample")) +
      ("r25_spec_mix" -> oracles0("x9_weighted_mix")) +
      // the declarative temporal step must match the code-path ASOF oracle
      ("r26_spec_asof" -> oracles0("x7_asof_join")) +
      // config-declared curation primitives must hash-match their code paths
      ("r27_spec_topk" -> oracles0("x12_group_topk")) +
      ("r27_spec_heavy" -> oracles0("x21_heavy_hitters")) +
      // declarative similarity search must hash-match the x3 exact oracle —
      // including the quantized form, whose re-rank restores exactness
      ("r28_spec_knn" -> oracles0("x3_knn_exact")) +
      ("r28_spec_knn_quantized" -> oracles0("x3_knn_exact")) +
      // the STORED-index quantized route keeps the exact re-rank contract,
      // so reading the int8 sketch from the knn_index artifact instead of
      // quantizing per call still hash-matches the exact oracle
      ("r44_spec_knn_index" -> oracles0("x3_knn_exact")) +
      // the APPENDED quantized index keeps the exact re-rank contract too:
      // int8 codes are per-row state, so build-half + append-half search-
      // matches the full-corpus exact oracle rank for rank
      ("r47_spec_knn_append" -> oracles0("x3_knn_exact")) +
      // the COMPACTED quantized index folds the appended generations by
      // pure copy — the exact re-rank contract survives untouched
      ("r49_spec_knn_compact" -> oracles0("x3_knn_exact")) +
      // the declaratively MERGED scalar shards equal the one-shot global
      // artifact (the fold is linear), so they share its oracle
      ("r49_spec_merge_stats" -> oracles0("r48_spec_scalar_summary")) +
      // the DIRECT filtered route narrows the corpus before the exact
      // scan — the same filtered-corpus oracle as the stored route
      ("r52_spec_knn_filtered_exact" -> oracles0("r52_spec_knn_filtered")) +
      // the stage-ordered filter op applies the same predicate as the
      // spec-level filter field — same oracle (a single filter cannot
      // observe its own placement)
      ("r53_spec_filter_stage" -> oracles0("r21_filter")) +
      // the stored-shingle incremental screen reproduces the from-raw
      // cross-snapshot novelty filter exactly (the artifact IS the frame
      // jaccardPairsBetween builds internally)
      ("r46_spec_incremental_screen" -> oracles0("x2_incremental_novel")) +
      // the appended-then-COMPACTED history screens identically: the fold
      // is a pure layout rewrite, so the same from-raw oracle holds
      ("r50_spec_shingle_compact" -> oracles0("x2_incremental_novel")) +
      // declarative resample / profile must hash-match their code paths
      // (r29_spec_quantiles is rows-only: sketch estimates, rank-pinned)
      ("r29_spec_resample" -> oracles0("x20_resample")) +
      ("r29_spec_profile" -> oracles0("x16_profile")) +
      // windowed top-k / heavy hitters are EXACT per-window computations —
      // full oracles (tie-break mirrors x12: score DESC, id ASC; the
      // windowed rollups are sketch-estimating → rows-only, test-pinned)
      ("r32_spec_window_topk" ->
        """SELECT window_start, event_type, rank, event_id, value FROM (
          |  SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS window_start,
          |         event_type, event_id, value,
          |         row_number() OVER (
          |           PARTITION BY date_trunc('hour', CAST(ts AS TIMESTAMP)), event_type
          |           ORDER BY value DESC, event_id ASC) AS rank
          |  FROM events) WHERE rank <= 3""".stripMargin) +
      ("r32_spec_window_heavy" ->
        """SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS window_start,
          |       user_id AS item, count(*) AS cnt
          |FROM events WHERE user_id IS NOT NULL
          |GROUP BY 1, 2 HAVING count(*) >= 3""".stripMargin) +
      ("r33_spec_session_topk" ->
        // same gap-break sessionization as the q_session oracle (diff >=
        // gap starts a new session, matching Spark's session_window merge
        // rule); window_start = the session's first event time
        """WITH e AS (SELECT user_id, event_id, value, CAST(ts AS TIMESTAMP) AS t
          |           FROM events WHERE user_id IS NOT NULL),
          |m AS (SELECT *, CASE WHEN lag(t) OVER w IS NULL
          |               OR t - lag(t) OVER w >= INTERVAL '5 minutes'
          |             THEN 1 ELSE 0 END AS brk
          |      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY t)),
          |s AS (SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY t
          |        ROWS UNBOUNDED PRECEDING) AS sid FROM m),
          |g AS (SELECT user_id, sid, min(t) AS window_start
          |      FROM s GROUP BY 1, 2),
          |r AS (SELECT user_id, sid, event_id, value,
          |             row_number() OVER (PARTITION BY user_id, sid
          |               ORDER BY value DESC, event_id ASC) AS rank
          |      FROM s)
          |SELECT g.window_start, r.user_id, r.rank, r.event_id, r.value
          |FROM r JOIN g ON r.user_id = g.user_id AND r.sid = g.sid
          |WHERE r.rank <= 2""".stripMargin) +
      ("r33_spec_sliding_heavy" ->
        // Spark sliding semantics: event at T lands in windows with
        // epoch-anchored start in (T - 1 hour, T] at 15-minute steps —
        // i.e. the 4 starts time_bucket(15min, T) - {0,15,30,45} minutes
        """WITH e AS (SELECT CAST(ts AS TIMESTAMP) AS t, user_id FROM events
          |           WHERE user_id IS NOT NULL),
          |w AS (SELECT user_id,
          |             time_bucket(INTERVAL '15 minutes', t)
          |               - INTERVAL (s.i * 15) MINUTE AS ws
          |      FROM e, (SELECT unnest([0, 1, 2, 3]) AS i) s)
          |SELECT ws AS window_start, user_id AS item, count(*) AS cnt
          |FROM w GROUP BY 1, 2 HAVING count(*) >= 3""".stripMargin)

  /** name → implementation (SparkEntry.queries delegates here). */
  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "r01_simple_stream" -> r01SimpleStream _,
    "r02_table_latest" -> r02TableLatest _,
    "r03_global_join" -> r03GlobalJoin _,
    "r05_join_chain_inner" -> r05JoinChainInner _,
    "r06_join_chain_left_null" -> r06JoinChainLeftNull _,
    "r07_table_table_join" -> r07TableTableJoin _,
    "r08_table_table_left" -> r08TableTableLeft _,
    "r10_field_mapping" -> r10FieldMapping _,
    "r10_transform" -> r10Transform _,
    "r11_sliding_agg" -> r11SlidingAgg _,
    "r08_outer_join" -> r08OuterJoin _,
    "r21_filter" -> r21Filter _,
    "r22_spec_transforms" -> r22SpecTransforms _,
    "r22_spec_redact" -> r22SpecRedact _,
    "r22_spec_training" -> r22SpecTraining _,
    "r23_spec_contamination" -> r23SpecContamination _,
    "r24_spec_langid" -> r24SpecLangId _,
    "r24_spec_textstats" -> r24SpecTextStats _,
    "r25_spec_sample" -> r25SpecSample _,
    "r25_spec_mix" -> r25SpecMix _,
    "r26_spec_asof" -> r26SpecAsOf _,
    "r27_spec_topk" -> r27SpecTopk _,
    "r27_spec_heavy" -> r27SpecHeavy _,
    "r28_spec_knn" -> r28SpecKnn _,
    "r28_spec_knn_quantized" -> r28SpecKnnQuantized _,
    "r29_spec_resample" -> r29SpecResample _,
    "r29_spec_profile" -> r29SpecProfile _,
    "r29_spec_quantiles" -> r29SpecQuantiles _,
    "r30_spec_distinct" -> r30SpecDistinct _,
    "r31_spec_pack" -> r31SpecPack _,
    "r32_spec_window_topk" -> r32SpecWindowTopk _,
    "r32_spec_window_heavy" -> r32SpecWindowHeavy _,
    "r32_spec_window_distinct" -> r32SpecWindowDistinct _,
    "r32_spec_window_quantile" -> r32SpecWindowQuantile _,
    "r34_spec_sliding_distinct" -> r34SpecSlidingDistinct _,
    "r34_spec_session_quantile" -> r34SpecSessionQuantile _,
    "r33_spec_sliding_heavy" -> r33SpecSlidingHeavy _,
    "r33_spec_session_topk" -> r33SpecSessionTopk _,
    "r11_having" -> r11Having _,
    "r09_join_chain_multi" -> r09JoinChainMulti _,
    "r11_count_agg" -> r11CountAgg _,
    "r11_agg_multi" -> r11AggMulti _,
    "r11_windowed_agg" -> r11WindowedAgg _,
    "r11_session_agg" -> r11SessionAgg _,
    "r16_json_parse" -> r16JsonParse _,
    "r17_serde_roundtrip" -> r17SerdeRoundtrip _,
    "r17_generic_map" -> r17GenericMap _,
    "x5_quality_filter" -> x5QualityFilter _,
    "q1_agg" -> q1Agg _,
    "q3_top_revenue" -> q3TopRevenue _,
    "q5_nation_revenue" -> q5NationRevenue _,
    "r11_count_distinct" -> r11CountDistinct _,
    "q18_large_orders" -> q18LargeOrders _,
    "q22_no_orders" -> q22NoOrders _,
    "x10_set_ops" -> x10SetOps _,
    "x6_percentiles" -> x6Percentiles _,
    "x11_running_total" -> x11RunningTotal _,
    "x13_salted_join" -> x13SaltedJoin _,
    "x6_approx_distinct" -> x6ApproxDistinct _,
    "x2_embed_dup" -> x2EmbedDup _,
    "x1_exact_dedup" -> x1ExactDedup _,
    "x1_group_rep" -> x1GroupRep _,
    "x2_jaccard_pairs" -> x2JaccardPairs _,
    "x2_jaccard_char" -> x2JaccardChar _,
    "x2_jaccard_capped" -> x2JaccardCapped _,
    "x2_capped_buckets" -> x2CappedBuckets _,
    "x12_group_topk" -> x12GroupTopk _,
    "x5_chunks" -> x5Chunks _,
    "x14_training_pipeline" -> x14TrainingPipeline _,
    "x2_dedup_collapse" -> x2DedupCollapse _,
    "x2_dedup_collapse_lsh" -> x2DedupCollapseLsh _,
    "x2_minhash_lsh" -> x2MinhashLsh _,
    "x2_simhash" -> x2Simhash _,
    "x3_cosine_pairs_exact" -> x3CosinePairsExact _,
    "x3_knn_exact" -> x3KnnExact _,
    "x3_ann_ivf" -> x3AnnIvf _,
    "x3_ann_lsh" -> x3AnnLsh _,
    "x4_multimodal" -> x4Multimodal _,
    "x4_frame_sample" -> x4FrameSample _,
    "x4_resize" -> x4Resize _,
    "x5_text_stats" -> x5TextStats _,
    "x5_tfidf" -> x5Tfidf _,
    "x3_sql_knn" -> x3SqlKnn _,
    "x5_lang_id" -> x5LangId _,
    "x5_fingerprint" -> x5Fingerprint _,
    "x6_window_agg" -> x6WindowAgg _,
    "x6_session_window" -> x6SessionWindow _,
    "q4_order_priority" -> q4OrderPriority _,
    "q17_small_qty" -> q17SmallQty _,
    "x16_profile" -> x16Profile _,
    "x29_drift" -> x29Drift _,
    "r35_spec_drift" -> r35SpecDrift _,
    "x29_drift_heavy" -> x29DriftHeavy _,
    "x29_drift_hist" -> x29DriftHist _,
    "r37_spec_drift_hist" -> r37SpecDriftHist _,
    "r36_spec_drift_gate" -> r36SpecDriftGate _,
    "x29_embed_drift" -> x29EmbedDrift _,
    "r38_spec_embed_drift" -> r38SpecEmbedDrift _,
    "x29_embed_drift_group" -> x29EmbedDriftGroup _,
    "r39_spec_embed_drift_group" -> r39SpecEmbedDriftGroup _,
    "r40_spec_drift_summary" -> r40SpecDriftSummary _,
    "r41_spec_embed_summary" -> r41SpecEmbedSummary _,
    "r42_spec_merge_summaries" -> r42SpecMergeSummaries _,
    "x29_embed_summary_window" -> x29EmbedSummaryWindow _,
    "x29_windowed_drift" -> x29WindowedDrift _,
    "r43_spec_drift_sketch" -> r43SpecDriftSketch _,
    "r44_spec_knn_index" -> r44SpecKnnIndex _,
    "r44_spec_knn_ivf_stored" -> r44SpecKnnIvfStored _,
    "r47_spec_knn_append" -> r47SpecKnnAppend _,
    "r47_spec_knn_ivf_append" -> r47SpecKnnIvfAppend _,
    "r47_spec_knn_lsh_stored" -> r47SpecKnnLshStored _,
    "r48_spec_scalar_summary" -> r48SpecScalarSummary _,
    "r48_spec_scalar_monitor" -> r48SpecScalarMonitor _,
    "r48_spec_quantile_monitor" -> r48SpecQuantileMonitor _,
    "r49_spec_drift_stats" -> r49SpecDriftStats _,
    "r49_spec_merge_stats" -> r49SpecMergeStats _,
    "r49_spec_knn_compact" -> r49SpecKnnCompact _,
    "r45_spec_drift_quantile" -> r45SpecDriftQuantile _,
    "r46_spec_incremental_screen" -> r46SpecIncrementalScreen _,
    "r50_spec_shingle_compact" -> r50SpecShingleCompact _,
    "r51_spec_knn_delete" -> r51SpecKnnDelete _,
    "r51_spec_knn_ivf_delete" -> r51SpecKnnIvfDelete _,
    "r51_spec_shingle_retract" -> r51SpecShingleRetract _,
    "r52_spec_knn_filtered" -> r52SpecKnnFiltered _,
    "r52_spec_knn_filtered_exact" -> r52SpecKnnFilteredExact _,
    "r52_spec_knn_filtered_ivf" -> r52SpecKnnFilteredIvf _,
    "r52_spec_quantile_monitor_global" -> r52SpecQuantileMonitorGlobal _,
    "r53_spec_filter_stage" -> r53SpecFilterStage _,
    "r53_spec_drift_quantile_global" -> r53SpecDriftQuantileGlobal _,
    "r53_spec_knn_filtered_lsh" -> r53SpecKnnFilteredLsh _,
    "r54_spec_knn_mass_delete" -> r54SpecKnnMassDelete _,
    "r54_spec_knn_mass_delete_bcast" -> r54SpecKnnMassDeleteBcast _,
    "r54_spec_knn_per_category" -> r54SpecKnnPerCategory _,
    "r54_spec_knn_category_residual" -> r54SpecKnnCategoryResidual _,
    "r54_spec_json_strict" -> r54SpecJsonStrict _,
    "r54_spec_json_dlq" -> r54SpecJsonDlq _,
    "x21_heavy_hitters" -> x21HeavyHitters _,
    "x22_pii_redact" -> x22PiiRedact _,
    "x23_repetition" -> x23Repetition _,
    "x2_incremental" -> x2Incremental _,
    "x2_incremental_novel" -> x2IncrementalNovel _,
    "x6_sketch_rollup" -> x6SketchRollup _,
    "x6_quantile_rollup" -> x6QuantileRollup _,
    "x6_quantile_merge" -> x6QuantileMerge _,
    "x7_asof_forward" -> x7AsofForward _,
    "r02_table_history" -> r02TableHistory _,
    "x5_pack" -> x5Pack _,
    "x8_unpivot" -> x8Unpivot _,
    "x15_range_join" -> x15RangeJoin _,
    "x7_asof_join" -> x7AsofJoin _,
    "x6_sliding_window" -> x6SlidingWindow _,
    "q6_rollup" -> q6Rollup _,
    "q6_gsets" -> q6GroupingSets _,
    "q14_promo_share" -> q14PromoShare _,
    "q19_disjunctive" -> q19DisjunctiveRevenue _,
    "x11_lag_delta" -> x11LagDelta _,
    "x11_deciles" -> x11Deciles _,
    "q6_cube" -> q6Cube _,
    "x8_pivot" -> x8Pivot _,
    "x9_stratified_sample" -> x9StratifiedSample _,
    "q7_nation_volume" -> q7NationVolume _,
    "q8_market_share" -> q8MarketShare _,
    "q10_returns" -> q10Returns _,
    "q12_late_lines" -> q12LateLines _,
    "q13_order_dist" -> q13OrderDist _,
    "q15_top_supplier" -> q15TopSupplier _,
    "q2_min_cost_supplier" -> q2MinCostSupplier _,
    "x18_bloom_join" -> x18BloomJoin _,
    "x3_knn_quantized" -> x3KnnQuantized _,
    "q9_product_profit" -> q9ProductProfit _,
    "q16_supplier_diversity" -> q16SupplierDiversity _,
    "q20_dominant_suppliers" -> q20DominantSuppliers _,
    "q21_sole_blame" -> q21SoleBlame _,
    "q11_important_stock" -> q11ImportantStock _,
    "x19_contamination" -> x19Contamination _,
    "x19_contamination_stream" -> x19ContaminationStream _,
    "x9_weighted_mix" -> x9WeightedMix _,
    "x20_resample" -> x20Resample _,
    "x20_resample_dense" -> x20ResampleDense _
  )
}
