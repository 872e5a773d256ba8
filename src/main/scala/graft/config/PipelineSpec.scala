package graft.config

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.core.JsonParser
import com.fasterxml.jackson.databind.{DeserializationContext, DeserializationFeature,
  JsonDeserializer, JsonMappingException, ObjectMapper}
import com.fasterxml.jackson.databind.annotation.JsonDeserialize
import com.fasterxml.jackson.databind.deser.DeserializationProblemHandler
import com.fasterxml.jackson.databind.exc.InvalidTypeIdException
import com.fasterxml.jackson.module.scala.DefaultScalaModule

/** Declarative pipeline model — the Spark-native equivalent of the reference's
  * `AggregationDefinition` (config/AggregationDefinition.java:7-130).
  *
  * The reference binds this from JSON/YAML via Spring; here the same shape is a
  * plain case-class tree with a Jackson codec. Field names follow the reference
  * exactly so a user's existing JSON specs parse unchanged.
  */
object ProcessingMode {
  val JoinChain    = "JOIN_CHAIN"    // AggregationDefinition.java:37
  val Aggregation  = "AGGREGATION"   // AggregationDefinition.java:38
  val SimpleStream = "SIMPLE_STREAM" // AggregationDefinition.java:39
}

object JoinType {
  // AggregationDefinition.java:42-46 — the reference enum has INNER/LEFT
  // with an "add OUTER if needed" comment; OUTER_JOIN implements that.
  val Inner = "INNER_JOIN"
  val Left  = "LEFT_JOIN"
  val Outer = "OUTER_JOIN"
}

/** Mirror of TopicConfig (AggregationDefinition.java:49-53).
  * `keyClass` defaults to java.lang.String as in the reference (:51);
  * `valueClass == None` means generic JSON (SerdeFactory.java:49-56).
  */
case class TopicConfig(
    name: String,
    keyClass: String = "java.lang.String",
    valueClass: Option[String] = None)

/** Mirror of KeyExtractionConfig (AggregationDefinition.java:103-110).
  * source: "KEY" keeps the current key; "VALUE" pulls a named field
  * (DynamicPojoKeyExtractor.java:42-59).
  */
case class KeyExtraction(source: String, fieldName: Option[String] = None)

/** Mirror of JoinFieldMapping (AggregationDefinition.java:89-97), plus the
  * extensions the reference itself names as future work
  * (AggregationDefinition.java:96): `defaultValue` substitutes for a null or
  * missing source value, `expression` computes the output field from a
  * SQL expression over the joined row (overrides source/sourceFieldName),
  * and `transformationFunction` applies one whitelisted named function to
  * the mapped value (the reference names the field; the whitelist is ours —
  * an open SQL string here would be `expression` by another name).
  * A missing source field otherwise yields a typed null output column
  * (DynamicPojoValueJoiner.java:58-63 warn-and-null semantics).
  */
case class FieldMapping(source: String = "LEFT", sourceFieldName: String = "",
    outputFieldName: String, defaultValue: Option[String] = None,
    expression: Option[String] = None,
    transformationFunction: Option[String] = None) {
  def validate(where: String): Unit = {
    require(expression.isDefined || sourceFieldName.nonEmpty,
      s"[$where] field mapping '$outputFieldName' needs sourceFieldName or expression")
    transformationFunction.foreach(f => require(
      FieldMapping.transformations.contains(f),
      s"[$where] unknown transformationFunction '$f' (supported: " +
        s"${FieldMapping.transformations.keys.toSeq.sorted.mkString(", ")})"))
  }
}

object FieldMapping {
  import org.apache.spark.sql.{functions => F, Column}
  /** Named single-column transforms a spec may reference. All are
    * codegen'd builtins — a transform never forces a UDF into the join
    * projection.
    */
  val transformations: Map[String, Column => Column] = Map(
    "upper"  -> F.upper _,
    "lower"  -> F.lower _,
    "trim"   -> F.trim _,
    "ltrim"  -> ((c: Column) => F.ltrim(c)),
    "rtrim"  -> ((c: Column) => F.rtrim(c)),
    "length" -> ((c: Column) => F.length(c).cast("long")),
    "abs"    -> F.abs _,
    "round"  -> ((c: Column) => F.round(c, 0)),
    "floor"  -> ((c: Column) => F.floor(c)),
    "ceil"   -> ((c: Column) => F.ceil(c)))
}

/** Temporal (as-of) enrichment config for a join step — the declarative
  * form of the versioned-KTable stream join (Kafka Streams' versioned
  * stores: the join looks up the dimension version valid AT the stream
  * record's time, not the current head). No reference analogue (its joins
  * are head-only KTable lookups); the semantics are X7's
  * [[graft.operators.AsOfJoin]], which the step delegates to.
  *
  *  - `leftTimeColumn` / `rightTimeColumn`: event time on the stream side,
  *    version time on the changelog side.
  *  - `direction`: "backward" (default — latest version at-or-before the
  *    event, the enrichment shape) or "forward" (earliest at-or-after —
  *    funnel/next-event matching).
  *  - `enrichmentKeyField`: VALUE-field re-key of the changelog (a
  *    versioned store re-keyed to the join key); defaults to the topic's
  *    catalog key.
  *  - `enrichmentFilter`: SQL predicate carving the version rows out of
  *    the changelog (changelog topics often multiplex record kinds).
  *  - `snapshotPath`: read the versioned dimension from this parquet
  *    SNAPSHOT (the store a `startSnapshotSink` keyed by (key, versionTs)
  *    maintains) instead of the resolver's changelog. This is what makes
  *    the step STREAMING-legal: a static versioned snapshot joins
  *    stream-static per micro-batch (AsOfJoin.asOfSnapshot — per-key
  *    packed version arrays, no streaming sort), while the resolver
  *    changelog form is batch-only (the temporal merge windows over both
  *    full histories). The snapshot is listed when the query STARTS; a
  *    dimension updated while the query runs needs a restart (or the
  *    foreachBatch loop) to be seen — the KTable-loop recipe in
  *    StreamRunner.
  *
  * Without `snapshotPath`, an as-of step consumes the enrichment topic's
  * FULL changelog history (`stream`, never the latest-per-key `table`
  * view — a versioned join against only the head would be the plain join
  * by a slower route). Its join type must be LEFT_JOIN: every stream
  * record survives, with null payload before the first version (ASOF LEFT
  * semantics; filter afterwards for inner). The record key after the step
  * is the join key under the enrichment's declared keyClass.
  */
case class AsOfSpec(
    leftTimeColumn: String,
    rightTimeColumn: String,
    direction: String = "backward",
    enrichmentKeyField: Option[String] = None,
    enrichmentFilter: Option[String] = None,
    snapshotPath: Option[String] = None)

/** Mirror of JoinOperationConfig (AggregationDefinition.java:57-83).
  * `global = true` marks the enrichment table as a GlobalKTable analogue
  * (KTableRegistry.java:52-57) → broadcast join hint in Spark.
  * `asOf` switches the step to temporal enrichment — see [[AsOfSpec]].
  */
case class JoinOp(
    id: String,
    `type`: String, // INNER_JOIN | LEFT_JOIN
    initialSourceIsStream: Boolean = true,
    primaryKeyExtraction: Option[KeyExtraction] = None,
    enrichmentTopic: TopicConfig,
    outputFieldsMapping: Seq[FieldMapping] = Nil,
    global: Boolean = false,
    asOf: Option[AsOfSpec] = None)

/** Declarative snapshot-sink materialization — the config form of
  * [[graft.streaming.StreamRunner.startSnapshotSink]]'s parameters, the
  * analogue of the reference's `Materialized.as(stateStoreName)` (KTable
  * materialization is config there; here the materialization is a
  * continuously-upserted parquet table any engine can read).
  *
  *  - `keyColumns` / `orderColumns`: last-write-wins identity and version
  *    (orderColumns must be non-decreasing per key across emissions —
  *    e.g. a count, n_rows, or a version/timestamp column).
  *  - `partitionBy`: hive-partition the store; each micro-batch merges
  *    only the partitions it touches (the 100 TB posture).
  *  - `compactEvery`: run small-files maintenance every N batches
  *    (sorted by keyColumns, so footer pruning survives — see
  *    BatchSink.compactSnapshot).
  */
case class SnapshotSpec(
    keyColumns: Seq[String],
    orderColumns: Seq[String],
    partitionBy: Seq[String] = Nil,
    @JsonDeserialize(contentAs = classOf[java.lang.Integer])
    compactEvery: Option[Int] = None,
    // compaction layout override: cluster rewritten files by the Morton
    // interleave of these 2+ numeric columns instead of sorting by
    // keyColumns — for stores queried by multi-dim ranges rather than
    // point key lookups
    zOrderBy: Seq[String] = Nil) {
  def validate(where: String, topicName: String): Unit = {
    require(keyColumns.nonEmpty,
      s"[$where] $topicName: snapshot requires keyColumns (the upsert identity)")
    require(orderColumns.nonEmpty,
      s"[$where] $topicName: snapshot requires orderColumns (last-write-wins " +
        "needs an explicit version; emission order is not one)")
    require(compactEvery.forall(_ >= 1),
      s"[$where] $topicName: snapshot compactEvery must be >= 1")
    require(zOrderBy.isEmpty || zOrderBy.size >= 2,
      s"[$where] $topicName: snapshot zOrderBy needs at least two columns " +
        "(one column = the default key sort already provides it)")
    // partition columns live in DIRECTORY NAMES, not in the stored files —
    // a z-order over one would fail to resolve inside the compaction
    // rewrite, killing the streaming query on its Nth micro-batch
    require(zOrderBy.intersect(partitionBy).isEmpty,
      s"[$where] $topicName: snapshot zOrderBy cannot include partitionBy " +
        s"columns (${zOrderBy.intersect(partitionBy).mkString(", ")}): they " +
        "are directory-encoded, absent from the files compaction rewrites")
    // partitionBy columns must be DETERMINISTIC per key (part of the key,
    // or derived from it, e.g. a bucket column) — a key whose partition
    // value drifts between emissions escapes the partition-pruned merge.
    // Not statically checkable here; BatchSink documents the contract.
  }
}

/** Mirror of OutputTopicConfig (AggregationDefinition.java:112-130).
  * retentionMs == -1 → compacted topic (TopicProvisioner.java:37-43).
  *
  * The three layout fields extend the reference's physical-output knobs
  * (it stops at partition count) to the lake-sink dimension that matters
  * at 100 TB — directory pruning, multi-dim footer pruning, file sizing:
  *
  *  - `partitionBy`: hive-partition the topic data by these VALUE columns
  *    (low-cardinality — date/source/lang); a filter on them prunes whole
  *    directories at plan time (X24 declarable).
  *  - `zOrderBy`: cluster files by the Morton interleave of 2+ numeric
  *    value columns so parquet footer min/max prunes on EVERY clustered
  *    column (X27 declarable). Mutually exclusive with partitionBy.
  *  - `targetFileBytes`: size output files toward this many bytes each,
  *    estimated from the optimized plan's size statistic (pre-compression
  *    — on-disk files land smaller; the knob bounds file GRANULARITY, not
  *    exact size).
  */
case class OutputTopic(
    enabled: Boolean = true,
    name: String,
    retentionMs: Option[Long] = None,
    partitions: Option[Int] = None,
    replicationFactor: Option[Short] = None,
    partitionBy: Seq[String] = Nil,
    zOrderBy: Seq[String] = Nil,
    @JsonDeserialize(contentAs = classOf[java.lang.Long])
    targetFileBytes: Option[Long] = None,
    snapshot: Option[SnapshotSpec] = None) {

  def validateLayout(where: String): Unit = {
    snapshot.foreach(_.validate(where, name))
    require(partitionBy.isEmpty || zOrderBy.isEmpty,
      s"[$where] $name: partitionBy and zOrderBy are mutually exclusive " +
        "layouts (directory pruning vs multi-dim file clustering)")
    require(zOrderBy.isEmpty || zOrderBy.size >= 2,
      s"[$where] $name: zOrderBy needs at least two columns " +
        "(one column = a plain sort; use partitionBy or leave default)")
    require(partitionBy.distinct == partitionBy && zOrderBy.distinct == zOrderBy,
      s"[$where] $name: duplicate layout columns")
    require(targetFileBytes.forall(_ >= 1),
      s"[$where] $name: targetFileBytes must be positive")
    // the hive-partitioned writer derives per-directory files from the
    // repartition-by-layout-columns shape; a global byte target cannot
    // size individual directories — reject loudly rather than silently
    // ignore the declared knob
    require(targetFileBytes.isEmpty || partitionBy.isEmpty,
      s"[$where] $name: targetFileBytes is not supported with partitionBy " +
        "(per-directory file sizing needs per-partition statistics; use " +
        "partitions to bound writer tasks instead)")
    // partitionBy columns are CARRIED alongside the generated kafka-shape
    // key/value sink columns (toKafkaShape(df, carry)); a carried column
    // with either name would collide and only surface as an
    // ambiguous-reference AnalysisException at write time — reject at spec
    // build instead. zOrderBy is exempt: zCluster consumes the raw columns
    // and drops them before the sink shape, so no collision exists there
    // (and the events fixture legitimately z-orders its "value" column).
    val reserved = partitionBy.filter(Set("key", "value"))
    require(reserved.isEmpty,
      s"[$where] $name: partitionBy columns ${reserved.mkString(", ")} " +
        "collide with the sink's generated key/value record columns; " +
        "rename the pipeline output column before declaring it in partitionBy")
  }
}

/** One fixed-bin histogram declaration for `snapshot_drift`'s binned
  * distribution-drift leg: `bins` equal-width bins over [`lo`, `hi`),
  * plus automatic under/over bins for out-of-range mass. Emits one
  * `bin_frac` row per bin observed on either snapshot and one `psi`
  * summary row (Population Stability Index; gate it with
  * `maxAbsDelta: {"psi": 0.25}` — the standard "major shift" bar).
  */
case class HistogramSpec(
    column: String,
    lo: Double,
    hi: Double,
    bins: Int)

/** Predicate-routed output branch — the KStream.split()/branch() analogue
  * (the reference has no branch operator: SURVEY §2A declared-absent list).
  * Each branch filters the pipeline output with a SQL predicate and writes
  * to its own topic; branches are independent (a record can match several,
  * or none).
  */
case class BranchSpec(predicate: String, outputTopic: OutputTopic)

/** Aggregation beyond the reference's stubbed count
  * (DynamicTopologyBuilder.java:188-223 names "count, sum, reduce, etc.").
  */
case class AggSpec(function: String = "count", fieldName: Option[String] = None)

/** Event-time windowing for AGGREGATION mode — the extension that makes the
  * reference's unbounded per-key state store scale-correct on a stream:
  * with a window + watermark, streaming state is evicted past the watermark
  * instead of growing per key forever. Batch runs the same window grouping
  * (oracle-checkable). No reference analogue (it has no windowed operations
  * at all — SURVEY §2A declared-absent list).
  *
  * `windowType`: "tumbling" (default; `window` = width), "session"
  * (`window` = inactivity gap, windows merge while events keep arriving
  * within the gap), or "sliding" (`window` = width, `slide` = hop; each
  * event lands in `window / slide` overlapping windows).
  */
case class EventTimeSpec(column: String, window: String,
    watermark: Option[String] = None, windowType: String = "tumbling",
    slide: Option[String] = None)

/** Mirror of AggregationDefinition (config/AggregationDefinition.java:7-130). */
case class PipelineSpec(
    id: String,
    processingMode: String,
    sourceTopic: TopicConfig,
    sourceKeyExtraction: Option[KeyExtraction] = None,
    joinOperations: Seq[JoinOp] = Nil,
    groupByKeyExtraction: Option[KeyExtraction] = None,
    groupByKeyType: Option[String] = None,
    aggregations: Seq[AggSpec] = Nil,
    eventTime: Option[EventTimeSpec] = None,
    stateStoreName: Option[String] = None,
    // Spec-level transform stage (X-surface: dedup/quality/redaction),
    // applied in order between the mode build and `filter` — see TransformOp.
    transform: Seq[TransformOp] = Nil,
    // Pre-sink SQL predicate over the pipeline output (the reference has no
    // filter operator at all — SURVEY §2A declared-absent list; for an
    // AGGREGATION spec this is HAVING semantics).
    filter: Option[String] = None,
    // Declarative plan-hygiene gate (X28): "warn" logs PlanAudit warnings
    // for the built plan, "fail" refuses to build a plan carrying any —
    // the pre-flight check a config-driven pipeline runs before burning
    // cluster hours on a nested-loop join nobody intended. Batch frames
    // only (a streaming frame has no executable plan until start; the
    // streaming runner's observability is StreamMetrics).
    planAudit: Option[String] = None,
    outputTopic: Option[OutputTopic] = None,
    branches: Seq[BranchSpec] = Nil) {

  /** Build-time validation — the reference throws IllegalArgumentException for
    * the same conditions (DynamicTopologyBuilder.java:41-43, 96-101, 144-146).
    */
  def validate(): Unit = {
    require(planAudit.forall(Set("warn", "fail").contains),
      s"[$id] planAudit must be 'warn' or 'fail', got '${planAudit.get}'")
    processingMode match {
      case ProcessingMode.JoinChain =>
        require(joinOperations.nonEmpty, s"[$id] JOIN_CHAIN requires joinOperations")
        require(sourceTopic.name.nonEmpty, s"[$id] sourceTopic required")
        joinOperations.foreach { op =>
          require(op.outputFieldsMapping.nonEmpty, s"[$id/${op.id}] outputFieldsMapping required")
          op.outputFieldsMapping.foreach(_.validate(s"$id/${op.id}"))
          op.asOf.foreach { a =>
            val where = s"$id/${op.id}"
            require(op.`type` == JoinType.Left,
              s"[$where] an asOf step must be LEFT_JOIN (ASOF LEFT semantics: " +
                "every stream record survives; filter afterwards for inner)")
            require(!op.global,
              s"[$where] asOf steps do not support global (the temporal merge " +
                "is a per-key union-window, not a broadcast lookup)")
            // Option(..): Jackson deserializes an omitted creator property
            // to null (no default kicks in for required constructor params),
            // and null.nonEmpty is an NPE — the spec error must surface as
            // the [id]-prefixed message, not a blank NullPointerException
            require(Option(a.leftTimeColumn).exists(_.nonEmpty) &&
                Option(a.rightTimeColumn).exists(_.nonEmpty),
              s"[$where] asOf requires leftTimeColumn and rightTimeColumn")
            require(Set("backward", "forward").contains(a.direction),
              s"[$where] asOf direction must be 'backward' or 'forward', " +
                s"got '${a.direction}'")
            require(a.snapshotPath.forall(_.nonEmpty),
              s"[$where] asOf snapshotPath must be non-empty when present")
            require(op.outputFieldsMapping.forall(_.expression.isEmpty),
              s"[$where] expression mappings are not supported in asOf steps " +
                "(right columns exist only through the carried payload)")
            val rightSrcs = op.outputFieldsMapping
              .filter(_.source == "RIGHT").map(_.sourceFieldName)
            require(rightSrcs.distinct.size == rightSrcs.size,
              s"[$where] asOf RIGHT mappings must not repeat a sourceFieldName")
            // RIGHT output names become payload columns alongside ALL the
            // left frame's columns — a repeat (or a collision with a LEFT
            // mapping's source) yields duplicate columns and an opaque
            // ambiguous-reference AnalysisException instead of a config
            // error. Left columns beyond the declared mappings can only be
            // checked at build time (no schema here) — buildAsOfStep does.
            val rightOuts = op.outputFieldsMapping
              .filter(_.source == "RIGHT").map(_.outputFieldName)
            require(rightOuts.distinct.size == rightOuts.size,
              s"[$where] asOf RIGHT mappings must not repeat an outputFieldName")
            val leftSrcClash = rightOuts.toSet.intersect(op.outputFieldsMapping
              .filter(_.source == "LEFT").map(_.sourceFieldName).toSet)
            require(leftSrcClash.isEmpty,
              s"[$where] asOf RIGHT outputFieldName(s) " +
                s"${leftSrcClash.toSeq.sorted.mkString(", ")} collide with LEFT " +
                "mapping sourceFieldName(s) — rename the RIGHT output")
          }
        }
      case ProcessingMode.Aggregation =>
        require(groupByKeyExtraction.isDefined && groupByKeyType.isDefined,
          s"[$id] AGGREGATION requires groupByKeyExtraction and groupByKeyType")
      case ProcessingMode.SimpleStream => ()
      case other => throw new IllegalArgumentException(s"[$id] unknown processingMode $other")
    }
    // eventTime is consumed only by the aggregation builder — declaring it
    // elsewhere would be silently ignored, the opposite of what a user
    // bounding state intends, so reject it at build time.
    require(eventTime.isEmpty || processingMode == ProcessingMode.Aggregation,
      s"[$id] eventTime is only valid in AGGREGATION mode")
    eventTime.foreach { et =>
      require(Set("tumbling", "session", "sliding").contains(et.windowType),
        s"[$id] unknown windowType ${et.windowType}")
      require(et.windowType != "sliding" || et.slide.isDefined,
        s"[$id] windowType 'sliding' requires a slide interval")
      require(et.slide.isEmpty || et.windowType == "sliding",
        s"[$id] slide is only valid with windowType 'sliding'")
      // A windowed streaming aggregation without a watermark never evicts
      // state (and session windows refuse to start at all in Append mode) —
      // the spec is a latent streaming failure, so reject it up front.
      // Batch runs ignore the watermark; requiring it costs nothing there.
      require(et.watermark.isDefined,
        s"[$id] eventTime windowing requires a watermark (bounds streaming state)")
      // Parse every declared interval NOW — an unparseable string (or a
      // slide exceeding the window, which silently drops events between
      // hops) should fail with the [id]-prefixed build-time message every
      // other misconfiguration gets, not deep inside Spark analysis.
      def micros(what: String, s: String): Long = {
        // stringToInterval returns null (rather than throwing) for some
        // non-interval inputs — and a spec that omits the field entirely
        // deserializes it as a null String; both must fail with the same
        // [id]-prefixed message as a parse exception, not an NPE.
        val iv = try
          org.apache.spark.sql.catalyst.util.IntervalUtils.stringToInterval(
            org.apache.spark.unsafe.types.UTF8String.fromString(s))
        catch { case e: Exception => throw new IllegalArgumentException(
          s"[$id] unparseable $what interval '$s'", e) }
        require(iv != null, s"[$id] unparseable $what interval '$s'")
        require(iv.months == 0, s"[$id] $what interval '$s' must not use months")
        iv.days * 86_400_000_000L + iv.microseconds
      }
      val w = micros("window", et.window)
      // '0 seconds' parses fine and then fails (or degenerates) deep inside
      // Spark — reject it here. A zero WATERMARK is legal (process-time-exact
      // streams use it), so only window and slide must be strictly positive.
      require(w > 0, s"[$id] window ${et.window} must be a positive interval")
      et.watermark.foreach { wm =>
        require(micros("watermark", wm) >= 0,
          s"[$id] watermark $wm must not be negative")
      }
      et.slide.foreach { s =>
        val sm = micros("slide", s)
        require(sm > 0, s"[$id] slide $s must be a positive interval")
        require(sm <= w,
          s"[$id] slide ${et.slide.get} must not exceed window ${et.window}")
      }
    }
    transform.foreach(_.validate(id))
    // Every ENABLED sink topic (main + branches) derives its streaming query
    // name and checkpoint directory from the topic name — duplicates would
    // share a checkpoint and corrupt each other's offsets. Disabled topics
    // never start a sink, so they can't collide.
    val sinkNames = outputTopic.filter(_.enabled).map(_.name).toSeq ++
      branches.filter(_.outputTopic.enabled).map(_.outputTopic.name)
    require(sinkNames.distinct.size == sinkNames.size,
      s"[$id] duplicate output topic names: ${sinkNames.mkString(", ")}")
    (outputTopic.toSeq ++ branches.map(_.outputTopic)).foreach(_.validateLayout(id))
  }
}

object PipelineSpec {
  /** Per-op strictness under the lenient document posture: a field that
    * does not belong to its transform op is refused (it would otherwise be
    * silently ignored — `{op: filter, shingleSize: 3}` builds a filter);
    * every other unknown field keeps the schema-on-read leniency below.
    */
  private object StrictOps extends DeserializationProblemHandler {
    override def handleUnknownProperty(ctxt: DeserializationContext,
        p: JsonParser, deser: JsonDeserializer[_], beanOrClass: AnyRef,
        name: String): Boolean = {
      val cls = beanOrClass match { case c: Class[_] => c; case b => b.getClass }
      if (classOf[TransformOp].isAssignableFrom(cls)) {
        val fields = fieldsOf(cls)
        throw new IllegalArgumentException(s"${TransformOp.nameOf(cls)} " +
          s"takes no field '$name' (its fields: " +
          s"${if (fields.isEmpty) "none" else fields.mkString(", ")})")
      }
      false
    }
  }

  private def configured(m: ObjectMapper): ObjectMapper = {
    m.registerModule(DefaultScalaModule)
    // FAIL_ON_UNKNOWN_PROPERTIES=false matches the reference's lenient
    // schema-on-read (SerdeFactory.java:30).
    m.configure(DeserializationFeature.FAIL_ON_UNKNOWN_PROPERTIES, false)
    m.addHandler(StrictOps)
  }

  private val mapper: ObjectMapper = configured(new ObjectMapper())

  // The reference's AggregationDefinition binds from Spring YAML config in
  // practice (application.yml aggregation lists) — same object model, same
  // lenient unknown-field posture, only the syntax differs. Jackson's YAML
  // dataformat ships with Spark, so the binding costs one factory swap.
  private val yamlMapper: ObjectMapper = configured(new ObjectMapper(
    new com.fasterxml.jackson.dataformat.yaml.YAMLFactory()))

  /** The fields a transform op class decodes, in declaration order. */
  private[config] def fieldsOf(cls: Class[_]): Seq[String] =
    mapper.getDeserializationConfig.introspect(mapper.constructType(cls))
      .findProperties().asScala.map(_.getName).toSeq

  /** Decode, turning a transform op's decode-time refusal (an unknown op,
    * a field of another op) into the [id]-prefixed config error every
    * other misdeclaration gets.
    */
  private def decode[T](m: ObjectMapper, text: String, cls: Class[T]): T =
    try m.readValue(text, cls)
    catch {
      case e: JsonMappingException =>
        lazy val where = {
          val root = m.readTree(text)
          val spec = if (root.isArray && !e.getPath.isEmpty)
            root.path(e.getPath.get(0).getIndex) else root
          spec.path("id").asText("?")
        }
        e match {
          case t: InvalidTypeIdException if t.getBaseType != null &&
              t.getBaseType.isTypeOrSubTypeOf(classOf[TransformOp]) =>
            throw new IllegalArgumentException(s"[$where] unknown transform " +
              s"op '${t.getTypeId}' (supported: " +
              SpecSurface.transformOps.mkString(", ") + ")", e)
          case _ => e.getCause match {
            case iae: IllegalArgumentException =>
              throw new IllegalArgumentException(s"[$where] ${iae.getMessage}", e)
            case _ => throw e
          }
        }
    }

  def fromJson(json: String): PipelineSpec = {
    val spec = decode(mapper, json, classOf[PipelineSpec])
    spec.validate()
    spec
  }

  def fromYaml(yaml: String): PipelineSpec = {
    val spec = decode(yamlMapper, yaml, classOf[PipelineSpec])
    spec.validate()
    spec
  }

  /** A YAML document holding a LIST of specs (the application.yml shape:
    * one config file drives many topologies). Every spec validates; ids
    * must be unique — two topologies sharing an id would silently share
    * checkpoint/state paths downstream.
    */
  def listFromYaml(yaml: String): Seq[PipelineSpec] = {
    val specs = decode(yamlMapper, yaml, classOf[Array[PipelineSpec]]).toSeq
    specs.foreach(_.validate())
    val ids = specs.map(_.id)
    require(ids.distinct.size == ids.size,
      s"duplicate pipeline ids in config: ${ids.mkString(", ")}")
    specs
  }

  /** Either shape from one document — list or single, decided by the
    * PARSED node type, never by sniffing the first raw character (a `---`
    * document marker or a leading `# comment` would misroute a valid
    * config). Validation errors propagate from whichever binding matched.
    */
  def anyFromYaml(yaml: String): Seq[PipelineSpec] = {
    val node = yamlMapper.readTree(yaml)
    if (node != null && node.isArray) listFromYaml(yaml)
    else Seq(fromYaml(yaml))
  }
}
