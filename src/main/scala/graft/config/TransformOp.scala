package graft.config

import com.fasterxml.jackson.annotation.{JsonSubTypes, JsonTypeInfo}
import com.fasterxml.jackson.annotation.JsonSubTypes.{Type => Sub}
import com.fasterxml.jackson.databind.annotation.JsonDeserialize
import java.lang.{Double => JDouble, Integer => JInt, Long => JLong}

import TransformOp._

/** Spec-level transform stage — the corpus X-operators through the config
  * path. The reference's essence is config-driven pipelines
  * (AggregationDefinition.java:7-130 is the whole API), but the
  * training-data operators (dedup, quality filtering, PII redaction) were
  * code-only; this stage makes them declarable. Ops apply in declaration
  * order between the mode build and the pre-sink `filter`; each op's
  * semantics are documented under its heading in docs/SPEC_REFERENCE.md.
  *
  * One case class per op, decoded by the `op` property. Each class carries
  * only its own fields — a field of another op is refused at decode time
  * (PipelineSpec's mapper) — its own [[validate]] rules, and [[batchOnly]]:
  * the reason, derived from the declaration alone, that it cannot run on a
  * streaming frame. The Interpreter builds each op by matching on its type.
  *
  * Numeric fields carry `@JsonDeserialize(contentAs = ...)`: Jackson erases
  * the type parameter of Option/Seq/Map and would otherwise box a JSON
  * integer as java.lang.Integer inside an Option[Double] or Seq[Double],
  * blowing up at first unbox.
  *
  * A required field the JSON omits arrives as null (String) or 0 (a
  * number); `validate` turns both into the [id]-prefixed config error.
  */
@JsonTypeInfo(use = JsonTypeInfo.Id.NAME, include = JsonTypeInfo.As.PROPERTY,
  property = "op")
@JsonSubTypes(Array(
  new Sub(value = classOf[Filter], name = "filter"),
  new Sub(value = classOf[ParseJson], name = "parse_json"),
  new Sub(value = classOf[DedupExact], name = "dedup_exact"),
  new Sub(value = classOf[QualityFilter], name = "quality_filter"),
  new Sub(value = classOf[RedactPii], name = "redact_pii"),
  new Sub(value = classOf[DedupNear], name = "dedup_near"),
  new Sub(value = classOf[ShingleIndex], name = "shingle_index"),
  new Sub(value = classOf[ShingleIndexAppend], name = "shingle_index_append"),
  new Sub(value = classOf[ShingleIndexRetract], name = "shingle_index_retract"),
  new Sub(value = classOf[ShingleIndexCompact], name = "shingle_index_compact"),
  new Sub(value = classOf[Chunk], name = "chunk"),
  new Sub(value = classOf[ContaminationScreen], name = "contamination_screen"),
  new Sub(value = classOf[LangId], name = "lang_id"),
  new Sub(value = classOf[TextStats], name = "text_stats"),
  new Sub(value = classOf[StratifiedSample], name = "stratified_sample"),
  new Sub(value = classOf[WeightedMix], name = "weighted_mix"),
  new Sub(value = classOf[TopK], name = "top_k"),
  new Sub(value = classOf[HeavyHitters], name = "heavy_hitters"),
  new Sub(value = classOf[Knn], name = "knn"),
  new Sub(value = classOf[KnnIndex], name = "knn_index"),
  new Sub(value = classOf[KnnIndexAppend], name = "knn_index_append"),
  new Sub(value = classOf[KnnIndexDelete], name = "knn_index_delete"),
  new Sub(value = classOf[KnnIndexCompact], name = "knn_index_compact"),
  new Sub(value = classOf[Resample], name = "resample"),
  new Sub(value = classOf[Profile], name = "profile"),
  new Sub(value = classOf[QuantileRollup], name = "quantile_rollup"),
  new Sub(value = classOf[DistinctRollup], name = "distinct_rollup"),
  new Sub(value = classOf[Pack], name = "pack"),
  new Sub(value = classOf[SnapshotDrift], name = "snapshot_drift"),
  new Sub(value = classOf[ScalarSummary], name = "scalar_summary"),
  new Sub(value = classOf[EmbeddingSummary], name = "embedding_summary"),
  new Sub(value = classOf[MergeEmbeddingSummaries], name = "merge_embedding_summaries"),
  new Sub(value = classOf[MergeScalarSummaries], name = "merge_scalar_summaries")))
sealed trait TransformOp extends Product {
  /** The declared `op` name, read off the registration above. */
  final def op: String = nameOf(getClass)

  /** Config errors for this op's fields, [where]-prefixed. */
  def validate(where: String): Unit

  /** Why this declaration cannot run on a streaming frame, if it cannot —
    * checked once, before the op is built. Refusals that need runtime
    * facts (a stored index's method) stay with the build.
    */
  def batchOnly: Option[String] = None
}

/** The windowed form: declaring timeColumn + every switches the op from
  * global to per-window cells — the shape that runs on a stream with
  * bounded state (watermark required there), and on batch produces the
  * identical windowed table. `slide` makes the windows overlapping (it
  * must divide `every`: Spark anchors window starts at epoch mod slide);
  * `windowType: session` turns `every` into the inactivity gap (sessions
  * stream in Append mode only — merging sessions cannot be per-key
  * upserts).
  */
sealed trait Windowed extends TransformOp {
  def timeColumn: Option[String]
  def every: Option[String]
  def watermark: Option[String]
  def slide: Option[String]
  def windowType: Option[String]

  final def windowed: Boolean = timeColumn.isDefined
  final def session: Boolean = windowType.contains("session")

  /** timeColumn + every come together, watermark/slide/windowType only
    * ride on a declared window. Returns whether the op IS windowed.
    */
  protected def validateWindow(where: String): Boolean = {
    require(timeColumn.isDefined == every.isDefined,
      s"[$where] $op windowed form needs BOTH timeColumn and every " +
        "(the tumbling window column and width)")
    every.foreach(e => require(durationMicros(e).isDefined,
      s"[$where] $op every '$e' is not a positive month-free duration"))
    watermark.foreach { w =>
      require(windowed,
        s"[$where] $op watermark requires the windowed form (timeColumn + every)")
      // ZERO is legal — same posture as EventTimeSpec: a process-time-exact
      // stream declares '0 seconds' to mean "no lateness tolerated"
      require(fixedMicros(w).exists(_ >= 0),
        s"[$where] $op watermark '$w' is not a non-negative month-free duration")
    }
    windowType.foreach { wt =>
      require(windowed,
        s"[$where] $op windowType requires the windowed form (timeColumn + every)")
      require(Set("tumbling", "session")(wt),
        s"[$where] $op windowType '$wt' unknown (tumbling, session; " +
          "sliding is declared via slide)")
      require(wt != "session" || slide.isEmpty,
        s"[$where] $op session windows take no slide (the gap merges " +
          "variable-width cells; there is nothing to hop)")
    }
    slide.foreach { sl =>
      require(windowed,
        s"[$where] $op slide requires the windowed form (timeColumn + every)")
      require(durationMicros(sl).isDefined,
        s"[$where] $op slide '$sl' is not a positive month-free duration")
      for (w <- durationMicros(every.get); st <- durationMicros(sl))
        require(st <= w && w % st == 0,
          s"[$where] $op slide '$sl' must divide every '${every.get}' " +
            "(epoch-anchored overlapping windows; divisibility keeps the " +
            "windows-containing-T set closed-form)")
    }
    windowed
  }

  /** A window without a watermark never evicts state on a stream. */
  def windowBatchOnly: Option[String] =
    if (windowed && watermark.isEmpty) Some(s"streaming $op requires " +
      "watermark alongside timeColumn/every — unbounded window state is " +
      "the exact commitment the windowed form exists to avoid")
    else None

  /** The global (unwindowed) form is batch-only for the whole family. */
  protected def globalBatchOnly(message: String): Option[String] =
    if (windowed) windowBatchOnly else Some(message)
}

/** The two stateful streaming dedups: their state holds history, so a
  * stream must bound it (`stateTtl`, parsed here — a bad duration is a
  * config error, not a first-micro-batch task failure) or acknowledge the
  * unbounded form (`unboundedOk: true`).
  */
sealed trait StateBounded extends TransformOp {
  def stateTtl: Option[String]
  def unboundedOk: Boolean

  protected def validateTtl(where: String): Unit = stateTtl.foreach { s =>
    // the same arithmetic as GroupStateImpl's parseDuration (31-day
    // months, must come out strictly positive)
    val micros =
      try {
        val cal = org.apache.spark.sql.catalyst.util.IntervalUtils
          .stringToInterval(org.apache.spark.unsafe.types.UTF8String.fromString(s))
        cal.months * (31L * 24 * 3600 * 1000000L) +
          cal.days * (24L * 3600 * 1000000L) + cal.microseconds
      } catch { case scala.util.control.NonFatal(_) => -1L }
    require(micros > 0,
      s"[$where] $op stateTtl '$s' is not a positive duration " +
        "(examples: '10 minutes', '2 hours', '1 day')")
  }

  protected def unboundedState(message: String): Option[String] =
    if (stateTtl.isDefined || unboundedOk) None else Some(message)
}

object TransformOp {

  /** op name → class, in documentation order: the one registration that
    * decoding, [[SpecSurface]] and the unknown-op error all read.
    */
  val registered: Seq[(String, Class[_ <: TransformOp])] =
    classOf[TransformOp].getAnnotation(classOf[JsonSubTypes]).value.toSeq
      .map(t => t.name -> t.value.asSubclass(classOf[TransformOp]))

  private lazy val names: Map[Class[_], String] = registered.map(_.swap).toMap

  def nameOf(c: Class[_]): String = names(c)

  /** Microseconds of `s` when it parses as a month-free interval (months
    * are irregular — a window, watermark or grid step must be a fixed
    * span); None when it does not parse or uses months.
    */
  private[config] def fixedMicros(s: String): Option[Long] =
    try {
      val iv = org.apache.spark.sql.catalyst.util.IntervalUtils.stringToInterval(
        org.apache.spark.unsafe.types.UTF8String.fromString(s))
      if (iv.months == 0) Some(iv.days * 86_400_000_000L + iv.microseconds) else None
    } catch { case scala.util.control.NonFatal(_) => None }

  /** [[fixedMicros]] when strictly positive — the one parse the validators
    * and the Interpreter's windowed-state pricing read.
    */
  private[graft] def durationMicros(s: String): Option[Long] =
    fixedMicros(s).filter(_ > 0)

  private def given(fields: Any*): Boolean = fields.forall(_ != null)

  private def fractions(qs: Seq[Double]): Boolean =
    qs.forall(q => q >= 0.0 && q <= 1.0)

  private def duplicates(xs: Seq[String]): String =
    xs.diff(xs.distinct).distinct.mkString(", ")

  /** A SQL predicate applied at this point of the stage chain. */
  case class Filter(expression: String) extends TransformOp {
    def validate(where: String): Unit =
      require(given(expression),
        s"[$where] filter requires expression (a SQL predicate over the " +
          "stage's columns). The transform-stage form filters BEFORE the " +
          "following stages (an ingest-batch cut ahead of a maintenance " +
          "verb, a serving view ahead of a knn); the spec-level `filter` " +
          "field applies AFTER every transform")
  }

  /** JSON string `column` parsed against the struct DDL `jsonSchema` into
    * `outputField`; `parseMode` PERMISSIVE (default) / FAILFAST / DLQ
    * (malformed rows dropped, raw payloads written to `dlqPath`).
    */
  case class ParseJson(column: String, jsonSchema: String, outputField: String,
      parseMode: Option[String] = None, dlqPath: Option[String] = None)
      extends TransformOp {
    def validate(where: String): Unit = {
      require(given(column, jsonSchema, outputField),
        s"[$where] parse_json requires column (the JSON string), " +
          "jsonSchema (the parsed struct's DDL, e.g. \"k INT, name STRING\") " +
          "and outputField (the struct column appended)")
      require(scala.util.Try(
          org.apache.spark.sql.types.StructType.fromDDL(jsonSchema)).isSuccess,
        s"[$where] parse_json jsonSchema '$jsonSchema' is not valid " +
          "struct DDL (example: \"k INT, name STRING\")")
      require(parseMode.forall(Set("PERMISSIVE", "FAILFAST", "DLQ")),
        s"[$where] parse_json parseMode '${parseMode.getOrElse("")}' unknown " +
          "(PERMISSIVE — malformed input parses to null fields, the " +
          "reference's lenient default; FAILFAST — throw on the first " +
          "malformed record; DLQ — drop malformed rows from the output and " +
          "write their raw payloads to dlqPath)")
      require(parseMode.contains("DLQ") == dlqPath.isDefined,
        s"[$where] parse_json dlqPath and parseMode=DLQ go together: DLQ " +
          "needs the dead-letter directory, and a declared dlqPath under " +
          "any other mode would silently never be written")
    }
    override def batchOnly: Option[String] =
      if (!parseMode.contains("DLQ")) None
      else Some("parse_json parseMode=DLQ is batch-only (the dead-letter " +
        "side-write is an eager second sink a streaming stage cannot " +
        "fork); declare FAILFAST or PERMISSIVE on a stream")
  }

  /** One representative row per `dupColumns` group, min-`tieBreak` wins.
    * On a stream: an unwatermarked stateful aggregation (state per
    * distinct group forever) or, with `stateTtl`, TTL'd first-arrival.
    */
  case class DedupExact(dupColumns: Seq[String] = Nil, tieBreak: String,
      stateTtl: Option[String] = None, unboundedOk: Boolean = false)
      extends StateBounded {
    def validate(where: String): Unit = {
      validateTtl(where)
      require(dupColumns.nonEmpty && given(tieBreak),
        s"[$where] dedup_exact requires dupColumns and tieBreak")
    }
    override def batchOnly: Option[String] = unboundedState("streaming " +
      "dedup_exact holds one state entry per distinct dupColumns group " +
      "FOREVER; declare stateTtl (bounded first-arrival dedup, state " +
      "expires after idle TTL) or unboundedOk:true to acknowledge the " +
      "history-wide commitment")
  }

  /** Text quality thresholds on `column`: token-count floor and/or a band
    * on the 6-dp-rounded mean token length (at least one required).
    */
  case class QualityFilter(column: String,
      @JsonDeserialize(contentAs = classOf[JLong]) minTokens: Option[Long] = None,
      @JsonDeserialize(contentAs = classOf[JDouble]) minAvgTokenLen: Option[Double] = None,
      @JsonDeserialize(contentAs = classOf[JDouble]) maxAvgTokenLen: Option[Double] = None)
      extends TransformOp {
    def validate(where: String): Unit = {
      require(given(column), s"[$where] quality_filter requires column")
      require(minTokens.isDefined || minAvgTokenLen.isDefined ||
          maxAvgTokenLen.isDefined,
        s"[$where] quality_filter requires at least one threshold " +
          "(minTokens / minAvgTokenLen / maxAvgTokenLen)")
    }
  }

  /** PII scrub of `column` in place, or of `expression` into `outputField`. */
  case class RedactPii(column: Option[String] = None,
      expression: Option[String] = None, outputField: Option[String] = None)
      extends TransformOp {
    def validate(where: String): Unit =
      require(column.isDefined || (expression.isDefined && outputField.isDefined),
        s"[$where] redact_pii requires column, or expression with outputField")
  }

  /** Near-duplicate collapse: exact shingle Jaccard (`method` jaccard, the
    * default) or embedding cosine LSH (`method: embedding`, `dim` wide,
    * `nTables`/`planesPerTable` floors). `historyPath` screens the frame
    * against a stored shingle_index artifact. On a stream: the keyed-state
    * LSH index (`numHashes` in `bands` bands, `maxBucketDocs` skew cap).
    */
  case class DedupNear(column: String, idColumn: String,
      @JsonDeserialize(contentAs = classOf[JDouble]) threshold: Option[Double] = None,
      method: Option[String] = None,
      @JsonDeserialize(contentAs = classOf[JInt]) shingleSize: Option[Int] = None,
      @JsonDeserialize(contentAs = classOf[JInt]) numHashes: Option[Int] = None,
      @JsonDeserialize(contentAs = classOf[JInt]) bands: Option[Int] = None,
      @JsonDeserialize(contentAs = classOf[JInt]) maxBucketDocs: Option[Int] = None,
      @JsonDeserialize(contentAs = classOf[JInt]) dim: Option[Int] = None,
      @JsonDeserialize(contentAs = classOf[JInt]) nTables: Option[Int] = None,
      @JsonDeserialize(contentAs = classOf[JInt]) planesPerTable: Option[Int] = None,
      historyPath: Option[String] = None,
      stateTtl: Option[String] = None,
      unboundedOk: Boolean = false) extends StateBounded {
    def embedding: Boolean = method.contains("embedding")
    def validate(where: String): Unit = {
      validateTtl(where)
      require(given(column, idColumn),
        s"[$where] dedup_near requires column and idColumn")
      require(threshold.exists(t => t > 0.0 && t <= 1.0),
        s"[$where] dedup_near requires threshold in (0, 1]")
      val dm = method.getOrElse("jaccard")
      require(Set("jaccard", "embedding")(dm),
        s"[$where] dedup_near method '$dm' unknown " +
          "(supported: jaccard, embedding)")
      require(historyPath.isEmpty || dm == "jaccard",
        s"[$where] dedup_near historyPath (the stored shingle_index " +
          "artifact) is the exact-Jaccard incremental screen — " +
          "method=embedding has its own stored artifact (the knn_index " +
          "machinery); drop historyPath or declare method=jaccard")
      if (embedding) {
        // column is the vector column; dim drives the hyperplane matrix
        require(dim.exists(_ >= 1),
          s"[$where] dedup_near method=embedding requires dim >= 1 " +
            "(the embedding width)")
      } else {
        require(shingleSize.exists(_ >= 1),
          s"[$where] dedup_near requires shingleSize >= 1")
        // streaming-form knobs: the banding arithmetic needs bands | numHashes
        val nh = numHashes.getOrElse(128)
        val nb = bands.getOrElse(32)
        require(nh >= 1 && nb >= 1 && nh % nb == 0,
          s"[$where] dedup_near numHashes ($nh) must be a positive multiple " +
            s"of bands ($nb)")
        require(maxBucketDocs.forall(_ >= 1),
          s"[$where] dedup_near maxBucketDocs must be >= 1")
      }
    }
    override def batchOnly: Option[String] =
      if (embedding) Some("streaming dedup_near supports method=jaccard " +
        "only (the embedding path's multi-table hyperplane index and " +
        "exact-route decision are batch constructs); dedup the stored " +
        "batch snapshot instead")
      else if (historyPath.isDefined) Some("streaming dedup_near keeps its " +
        "own keyed-state LSH history — historyPath (the stored " +
        "shingle_index screen) is the BATCH incremental form; screen the " +
        "stored ingest batch instead")
      else unboundedState("streaming dedup_near holds the keyed-state LSH " +
        "signature index (8 + 8*numHashes bytes per ingested doc) FOREVER " +
        "without a TTL; declare stateTtl (idle buckets expire) or " +
        "unboundedOk:true to acknowledge the history-wide commitment")
  }

  /** Publish-time BUILD verb of the incremental screen: the row set
    * becomes the (id, sh, n, shingle_size) history artifact.
    */
  case class ShingleIndex(column: String, idColumn: String, shingleSize: Int)
      extends TransformOp {
    def validate(where: String): Unit = {
      require(given(column, idColumn),
        s"[$where] shingle_index requires column (the text) and idColumn")
      require(shingleSize >= 1,
        s"[$where] shingle_index requires shingleSize >= 1 (the artifact " +
          "pins it — the consuming dedup_near screen must declare the " +
          "same width)")
    }
    override def batchOnly: Option[String] = Some("shingle_index is " +
      "batch-only (it snapshots a complete corpus's shingle sets; the " +
      "streaming ingest screen is dedup_near's keyed-state form)")
  }

  /** Appends the batch's shingle rows to the stored artifact at
    * `historyPath` (same pinned width), replacing the rows with a report.
    */
  case class ShingleIndexAppend(column: String, idColumn: String,
      shingleSize: Int, historyPath: String) extends TransformOp {
    def validate(where: String): Unit = {
      require(given(column, idColumn),
        s"[$where] shingle_index_append requires column (the text) and " +
          "idColumn")
      require(shingleSize >= 1,
        s"[$where] shingle_index_append requires shingleSize >= 1 (must " +
          "match the stored artifact's pinned width — preflighted at build)")
      require(given(historyPath),
        s"[$where] shingle_index_append requires historyPath (the stored " +
          "shingle_index artifact to extend; to START an artifact use " +
          "shingle_index and sink its rows)")
    }
    override def batchOnly: Option[String] = Some("shingle_index_append is " +
      "batch-only (it extends the stored corpus history with a completed " +
      "ingest batch; the streaming ingest screen is dedup_near's " +
      "keyed-state form)")
  }

  /** Tombstones the frame's ids in the stored artifact at `historyPath`. */
  case class ShingleIndexRetract(idColumn: String, historyPath: String)
      extends TransformOp {
    def validate(where: String): Unit =
      require(given(idColumn, historyPath),
        s"[$where] shingle_index_retract requires idColumn (the frame is " +
          "the takedown id list — no text needed) and historyPath (the " +
          "stored artifact to tombstone)")
    override def batchOnly: Option[String] = Some("shingle_index_retract is " +
      "batch-only (it commits a completed takedown batch's tombstones; " +
      "retract the stored id list, not a stream)")
  }

  /** Folds the stored artifact's append files (and drops retracted rows);
    * `retainFolded` keeps the previous layout as the `<path>.old` aside.
    */
  case class ShingleIndexCompact(historyPath: String,
      retainFolded: Boolean = false) extends TransformOp {
    def validate(where: String): Unit =
      require(given(historyPath),
        s"[$where] shingle_index_compact requires historyPath (the stored " +
          "artifact whose accumulated append files to fold)")
    override def batchOnly: Option[String] = Some("shingle_index_compact is " +
      "batch-only (it rewrites a stored artifact's file layout; run it " +
      "between publish rounds)")
  }

  /** `size`-token windows of `column` every `stride` tokens; REPLACES the
    * row set (idColumn, chunk_id, chunk, n_chunk_tokens + the record key).
    */
  case class Chunk(column: String, idColumn: String, size: Int, stride: Int)
      extends TransformOp {
    def validate(where: String): Unit = {
      require(given(column, idColumn),
        s"[$where] chunk requires column and idColumn")
      require(size >= 1 && stride >= 1 && stride <= size,
        s"[$where] chunk requires size >= stride >= 1 " +
          "(stride > size would drop tokens)")
    }
  }

  /** Eval-leakage screen: the fraction of each row's `shingleSize`-word
    * shingles found in the benchmark parquet at `benchPath`
    * (`benchFilter` narrows it); REPLACES the row set.
    */
  case class ContaminationScreen(column: String, idColumn: String,
      benchPath: String, benchFilter: Option[String] = None, shingleSize: Int)
      extends TransformOp {
    def validate(where: String): Unit = {
      require(given(column, idColumn, benchPath),
        s"[$where] contamination_screen requires column, idColumn and benchPath")
      require(shingleSize >= 1,
        s"[$where] contamination_screen requires shingleSize >= 1")
    }
  }

  /** Language prediction of `column` as `outputField` (default lang_pred). */
  case class LangId(column: String, outputField: Option[String] = None)
      extends TransformOp {
    def validate(where: String): Unit =
      require(given(column), s"[$where] lang_id requires column")
  }

  /** Text quality metrics of `column` as appended columns. */
  case class TextStats(column: String) extends TransformOp {
    def validate(where: String): Unit =
      require(given(column), s"[$where] text_stats requires column")
  }

  /** Every `interval`-th row per stratum in stable `idColumn` order. */
  case class StratifiedSample(stratumColumns: Seq[String] = Nil,
      idColumn: String, interval: Int) extends TransformOp {
    def validate(where: String): Unit = {
      require(stratumColumns.nonEmpty && given(idColumn),
        s"[$where] stratified_sample requires stratumColumns and idColumn")
      require(interval >= 1,
        s"[$where] stratified_sample requires interval >= 1")
    }
    override def batchOnly: Option[String] = Some("stratified_sample is " +
      "batch-only (row_number window); use the hash-threshold form for " +
      "streams — see TextAnalysis.stratifiedSample")
  }

  /** Keep fraction `weights[stratum]` (unlisted: `defaultWeight`, 0.0) of
    * each `column` stratum in stable `idColumn` order.
    */
  case class WeightedMix(column: String, idColumn: String,
      @JsonDeserialize(contentAs = classOf[JDouble]) weights: Map[String, Double] = Map.empty,
      @JsonDeserialize(contentAs = classOf[JDouble]) defaultWeight: Option[Double] = None)
      extends TransformOp {
    def validate(where: String): Unit = {
      require(given(column, idColumn),
        s"[$where] weighted_mix requires column (the stratum) and idColumn")
      require(weights.nonEmpty,
        s"[$where] weighted_mix requires a non-empty weights map")
      require((weights.values ++ defaultWeight).forall(w => w >= 0 && w <= 1),
        s"[$where] weighted_mix weights must be fractions in [0, 1]")
    }
    override def batchOnly: Option[String] = Some("weighted_mix is " +
      "batch-only (row_number window); use the hash-threshold form for " +
      "streams — see TextAnalysis.weightedMix")
  }

  /** The `k` best rows per `groupColumns` group by `byColumn` descending,
    * ties on ascending `idColumn`, via the partial-aggregating heap.
    */
  case class TopK(byColumn: String, idColumn: String, k: Int,
      groupColumns: Seq[String] = Nil,
      timeColumn: Option[String] = None, every: Option[String] = None,
      watermark: Option[String] = None, slide: Option[String] = None,
      windowType: Option[String] = None) extends Windowed {
    def validate(where: String): Unit = {
      require(given(byColumn, idColumn),
        s"[$where] top_k requires byColumn and idColumn")
      require(k >= 1, s"[$where] top_k requires k >= 1")
      validateWindow(where)
    }
    override def batchOnly: Option[String] = globalBatchOnly("global top_k " +
      "is batch-only (unbounded heap state on a stream); declare " +
      "timeColumn + every + watermark for the windowed streaming form")
  }

  /** Items of `column` (whitespace tokens with `tokenize`) in at least
    * `minFraction` of rows (global: Misra–Gries + exact recount), or with
    * at least `minCount` occurrences per window (windowed).
    */
  case class HeavyHitters(column: String, tokenize: Boolean = false,
      @JsonDeserialize(contentAs = classOf[JDouble]) minFraction: Option[Double] = None,
      @JsonDeserialize(contentAs = classOf[JLong]) minCount: Option[Long] = None,
      timeColumn: Option[String] = None, every: Option[String] = None,
      watermark: Option[String] = None, slide: Option[String] = None,
      windowType: Option[String] = None) extends Windowed {
    def validate(where: String): Unit = {
      require(given(column), s"[$where] heavy_hitters requires column")
      if (validateWindow(where)) {
        // a per-window FRACTION needs the window total — a second
        // stateful aggregation a stream cannot chain
        require(minCount.exists(_ >= 1) && minFraction.isEmpty,
          s"[$where] windowed heavy_hitters requires minCount >= 1 " +
            "(and no minFraction — a per-window fraction needs the window " +
            "total, a second stateful aggregation)")
      } else {
        require(minFraction.exists(f => f > 0 && f <= 1) && minCount.isEmpty,
          s"[$where] global heavy_hitters requires minFraction in (0, 1] " +
            "(minCount belongs to the windowed form: declare timeColumn + every)")
      }
    }
    override def batchOnly: Option[String] = globalBatchOnly("global " +
      "heavy_hitters is batch-only (two passes: Misra-Gries sketch + exact " +
      "recount); declare timeColumn + every + watermark + minCount for the " +
      "windowed streaming form")
  }

  /** Similarity search. The frame is the CORPUS and `queryPath` the query
    * parquet (`method` exact / quantized / ivf / lsh), or — with
    * `indexPath` alone — the frame is the QUERY set scored against a
    * stored index (batch or streaming; windowed keys heaps per window).
    * `candidateFilter` predicates on corpus metadata inside the candidate
    * stage; `refine`, `nCells`/`nProbe`/`nAssign`, `nTables`/
    * `planesPerTable`, `dim` and `seed` are the family's geometry knobs.
    */
  case class Knn(column: String, idColumn: String, k: Int,
      method: Option[String] = None,
      queryPath: Option[String] = None, queryFilter: Option[String] = None,
      indexPath: Option[String] = None,
      candidateFilter: Option[String] = None,
      @JsonDeserialize(contentAs = classOf[JInt]) refine: Option[Int] = None,
      @JsonDeserialize(contentAs = classOf[JInt]) nCells: Option[Int] = None,
      @JsonDeserialize(contentAs = classOf[JInt]) nProbe: Option[Int] = None,
      @JsonDeserialize(contentAs = classOf[JInt]) nAssign: Option[Int] = None,
      @JsonDeserialize(contentAs = classOf[JInt]) nTables: Option[Int] = None,
      @JsonDeserialize(contentAs = classOf[JInt]) planesPerTable: Option[Int] = None,
      @JsonDeserialize(contentAs = classOf[JInt]) dim: Option[Int] = None,
      @JsonDeserialize(contentAs = classOf[JLong]) seed: Option[Long] = None,
      unboundedOk: Boolean = false,
      timeColumn: Option[String] = None, every: Option[String] = None,
      watermark: Option[String] = None, slide: Option[String] = None,
      windowType: Option[String] = None) extends Windowed {
    def validate(where: String): Unit = {
      require(given(column, idColumn),
        s"[$where] knn requires column (the vector) and idColumn")
      require(queryPath.isDefined || indexPath.isDefined,
        s"[$where] knn requires queryPath (the batch query artifact; the " +
          "frame is the corpus) — or indexPath ALONE for the query-frame " +
          "route, where the frame IS the query set (batch or streaming) " +
          "scored against the stored index")
      require(k >= 1, s"[$where] knn requires k >= 1")
      val m = method.getOrElse("exact")
      require(Set("exact", "quantized", "ivf", "lsh")(m),
        s"[$where] knn method '$m' unknown " +
          "(supported: exact, quantized, ivf, lsh)")
      // the windowed declaration keys the query-frame route's per-query
      // heaps by window; on the corpus-frame route it would be ignored
      require(timeColumn.isEmpty || (indexPath.isDefined && queryPath.isEmpty),
        s"[$where] knn windowed form (timeColumn + every) belongs to the " +
          "query-frame stored-index route — declare indexPath and drop " +
          "queryPath (the frame is then the query set)")
      require(timeColumn.isEmpty || !method.contains("quantized"),
        s"[$where] knn windowed form supports stored ivf/lsh indexes only " +
          "— quantized's int8-propose + exact-re-rank is two chained " +
          "aggregations (a batch construct); drop timeColumn or store an " +
          "ivf/lsh index")
      validateWindow(where)
      // with indexPath the stored artifact carries dim (and all geometry) —
      // a declared dim is then an optional cross-check against the meta
      if (m == "lsh" && indexPath.isEmpty) require(dim.exists(_ >= 1),
        s"[$where] knn method=lsh requires dim (the embedding width " +
          "drives the hyperplane matrix) unless indexPath supplies the " +
          "stored hyperplanes")
      require(indexPath.isEmpty || m != "exact",
        s"[$where] knn method=exact takes no indexPath — there is nothing " +
          "to store for an exact scan (the scan IS the plan); use " +
          "method=quantized for a stored 4x-smaller sketch index")
      require(refine.forall(_ >= 1), s"[$where] knn refine must be >= 1")
      Seq("nCells" -> nCells, "nProbe" -> nProbe, "nAssign" -> nAssign,
        "nTables" -> nTables, "planesPerTable" -> planesPerTable).foreach {
        case (n, v) => require(v.forall(_ >= 1), s"[$where] knn $n must be >= 1")
      }
    }
    override def batchOnly: Option[String] =
      if (queryPath.isDefined) Some("knn with queryPath is batch-only: the " +
        "frame is the CORPUS side, and a per-query top-k over an unbounded " +
        "corpus never finalizes; for streaming retrieval declare indexPath " +
        "WITHOUT queryPath — the frame is then the query stream, scored " +
        "against the stored index (with timeColumn + every + watermark so " +
        "heap state evicts)")
      else if (!windowed && !unboundedOk) Some("streaming knn holds one " +
        "top-k heap per DISTINCT query id in state forever without a " +
        "window — declare timeColumn + every + watermark (cells finalize " +
        "and evict past the watermark) or unboundedOk:true to acknowledge " +
        "the commitment")
      else windowBatchOnly
  }

  /** Crawl-time BUILD verb of the stored index: trains/hashes the corpus
    * once and writes the self-contained artifact at `indexPath`. Geometry
    * is DECLARED (the artifact pins it); `attributeColumns` are stored for
    * candidateFilter, `partitionByAttribute` builds routed sub-indexes.
    */
  case class KnnIndex(column: String, idColumn: String, indexPath: String,
      method: String,
      @JsonDeserialize(contentAs = classOf[JInt]) nCells: Option[Int] = None,
      @JsonDeserialize(contentAs = classOf[JInt]) nAssign: Option[Int] = None,
      @JsonDeserialize(contentAs = classOf[JInt]) nTables: Option[Int] = None,
      @JsonDeserialize(contentAs = classOf[JInt]) planesPerTable: Option[Int] = None,
      @JsonDeserialize(contentAs = classOf[JInt]) dim: Option[Int] = None,
      @JsonDeserialize(contentAs = classOf[JLong]) seed: Option[Long] = None,
      attributeColumns: Seq[String] = Nil,
      partitionByAttribute: Option[String] = None) extends TransformOp {
    def validate(where: String): Unit = {
      require(given(column, idColumn, indexPath),
        s"[$where] knn_index requires column (the vector), idColumn and " +
          "indexPath (the artifact directory to write)")
      require(given(method),
        s"[$where] knn_index requires method (quantized, ivf, lsh — exact " +
          "has no index to store: the scan is the plan)")
      require(Set("quantized", "ivf", "lsh")(method),
        s"[$where] knn_index method '$method' unknown (quantized, " +
          "ivf, lsh; exact has no index to store)")
      if (method == "ivf") {
        // an auto-sized build would derive different geometry per
        // snapshot, breaking stored==rebuilt reproducibility
        require(nCells.exists(_ >= 1),
          s"[$where] knn_index method=ivf requires nCells >= 1 (the " +
            "artifact pins geometry; ceil(sqrt(corpus rows)) is the " +
            "standard sizing)")
        require(nAssign.forall(a => a >= 1 && a <= nCells.get),
          s"[$where] knn_index nAssign must be in [1, nCells]")
      }
      if (method == "lsh") {
        require(dim.exists(_ >= 1),
          s"[$where] knn_index method=lsh requires dim (the embedding " +
            "width drives the hyperplane matrix)")
        require(nTables.forall(_ >= 1),
          s"[$where] knn_index nTables must be >= 1")
        require(planesPerTable.forall(p => p >= 1 && p <= 31),
          s"[$where] knn_index planesPerTable must be in [1, 31] (Int " +
            "bucket packing)")
      }
      val reservedAttr = Seq("id", "vec", "q", "gen", "cell", "tbl", "bucket")
        .filter(attributeColumns.contains)
      require(reservedAttr.isEmpty,
        s"[$where] knn_index attributeColumns may not use reserved index " +
          s"column name(s) ${reservedAttr.mkString(", ")}")
      require(attributeColumns.distinct == attributeColumns,
        s"[$where] knn_index attributeColumns has duplicates")
      require(partitionByAttribute.forall(attributeColumns.contains),
        s"[$where] knn_index partitionByAttribute " +
          s"'${partitionByAttribute.getOrElse("")}' must be one of " +
          "attributeColumns (the routed equality filter predicates on the " +
          "stored attribute)")
    }
    override def batchOnly: Option[String] = Some("knn_index is batch-only " +
      "(it trains and stores a complete corpus index at crawl time; index " +
      "the stored batch snapshot, not a stream)")
  }

  /** Commits the batch's vectors as one new posting generation of the
    * stored index, assigned with the STORED geometry (never retrained).
    */
  case class KnnIndexAppend(column: String, idColumn: String, indexPath: String)
      extends TransformOp {
    def validate(where: String): Unit =
      require(given(column, idColumn, indexPath),
        s"[$where] knn_index_append requires column (the vector), idColumn " +
          "and indexPath (the stored artifact to extend)")
    override def batchOnly: Option[String] = Some("knn_index_append is " +
      "batch-only (it extends a stored corpus index with a completed " +
      "ingest batch; append the stored batch snapshot, not a stream)")
  }

  /** Commits the frame's ids as one tombstone generation of the index. */
  case class KnnIndexDelete(idColumn: String, indexPath: String)
      extends TransformOp {
    def validate(where: String): Unit =
      require(given(idColumn, indexPath),
        s"[$where] knn_index_delete requires idColumn (the frame is the " +
          "takedown id list — no vectors needed) and indexPath (the " +
          "stored artifact to tombstone)")
    override def batchOnly: Option[String] = Some("knn_index_delete is " +
      "batch-only (it commits a completed takedown batch's tombstone " +
      "generation; delete the stored id list, not a stream)")
  }

  /** Folds the stored index's posting generations into one (a pure copy);
    * `retainFolded` leaves the folded generation directories in place.
    */
  case class KnnIndexCompact(indexPath: String, retainFolded: Boolean = false)
      extends TransformOp {
    def validate(where: String): Unit =
      require(given(indexPath),
        s"[$where] knn_index_compact requires indexPath (the stored " +
          "artifact whose accumulated append generations to fold)")
    override def batchOnly: Option[String] = Some("knn_index_compact is " +
      "batch-only (it rewrites a stored artifact's posting layout; run it " +
      "between ingest rounds)")
  }

  /** Per-`idColumn` regular grid every `every` (whole seconds) over
    * `timeColumn`, `valueColumns` forward-filled; `maxGridRowsPerKey`
    * fails loudly before a mis-declared `every` explodes the grid.
    */
  case class Resample(idColumn: String, timeColumn: String,
      valueColumns: Seq[String] = Nil, every: String,
      @JsonDeserialize(contentAs = classOf[JLong]) maxGridRowsPerKey: Option[Long] = None)
      extends TransformOp {
    def validate(where: String): Unit = {
      require(given(idColumn, timeColumn) && valueColumns.nonEmpty,
        s"[$where] resample requires idColumn (the series key), timeColumn " +
          "and valueColumns")
      require(given(every), s"[$where] resample requires every")
      // the arithmetic AsOfJoin.resample enforces, as a config error
      val micros = fixedMicros(every)
      require(micros.isDefined,
        s"[$where] resample every '$every' is unparseable or month-based " +
          "(months are irregular; use days)")
      require(micros.exists(us => us > 0 && us % 1_000_000L == 0),
        s"[$where] resample every '$every' must be a positive whole number " +
          "of seconds")
      require(maxGridRowsPerKey.forall(_ >= 1),
        s"[$where] resample maxGridRowsPerKey must be positive")
    }
    override def batchOnly: Option[String] = Some("resample is batch-only " +
      "(the grid needs each key's min/max time); for streams aggregate " +
      "into tumbling windows instead")
  }

  /** One-pass per-column audit of `columns` (HLL distinct with `approx`). */
  case class Profile(columns: Seq[String] = Nil, approx: Boolean = false)
      extends TransformOp {
    def validate(where: String): Unit = {
      require(columns.nonEmpty, s"[$where] profile requires columns")
      require(columns.distinct == columns,
        s"[$where] profile columns has duplicates: ${duplicates(columns)}")
    }
    override def batchOnly: Option[String] = Some("profile is batch-only " +
      "(global exact distinct counts); use windowed aggregations or " +
      "approx_count_distinct streams for live profiles")
  }

  /** Per-`groupColumns` percentile estimates of `column` at `quantiles`
    * via the mergeable centroid sketch; `keepSketch` keeps the sketch
    * column (the stored X26 artifact).
    */
  case class QuantileRollup(column: String, groupColumns: Seq[String] = Nil,
      @JsonDeserialize(contentAs = classOf[JDouble]) quantiles: Seq[Double] = Nil,
      keepSketch: Boolean = false,
      timeColumn: Option[String] = None, every: Option[String] = None,
      watermark: Option[String] = None, slide: Option[String] = None,
      windowType: Option[String] = None) extends Windowed {
    def validate(where: String): Unit = {
      require(given(column) && groupColumns.nonEmpty,
        s"[$where] quantile_rollup requires column (the measure) and " +
          "groupColumns")
      require(quantiles.nonEmpty,
        s"[$where] quantile_rollup requires quantiles")
      require(fractions(quantiles),
        s"[$where] quantile_rollup quantiles must be fractions in [0, 1]")
      validateWindow(where)
    }
    override def batchOnly: Option[String] = globalBatchOnly("global " +
      "quantile_rollup is batch-only (merging sketch state on a stream is " +
      "an unwatermarked aggregation); declare timeColumn + every + " +
      "watermark for the windowed streaming form")
  }

  /** Per-`groupColumns` HLL distinct count of `column`; `keepSketch` keeps
    * the mergeable sketch column (the stored X25 artifact).
    */
  case class DistinctRollup(column: String, groupColumns: Seq[String] = Nil,
      keepSketch: Boolean = false,
      timeColumn: Option[String] = None, every: Option[String] = None,
      watermark: Option[String] = None, slide: Option[String] = None,
      windowType: Option[String] = None) extends Windowed {
    def validate(where: String): Unit = {
      require(given(column) && groupColumns.nonEmpty,
        s"[$where] distinct_rollup requires column (the counted item) and " +
          "groupColumns")
      validateWindow(where)
    }
    override def batchOnly: Option[String] = globalBatchOnly("global " +
      "distinct_rollup is batch-only on the config path; declare " +
      "timeColumn + every + watermark for the windowed streaming form (an " +
      "incrementally-maintained sketch table)")
  }

  /** First-fit packing of rows into `budget`-token bins by `column`,
    * visited in `orderColumns` order per partition.
    */
  case class Pack(column: String, budget: Long, orderColumns: Seq[String] = Nil)
      extends TransformOp {
    def validate(where: String): Unit = {
      require(given(column),
        s"[$where] pack requires column (the per-row token count)")
      require(budget >= 1, s"[$where] pack requires budget >= 1")
      require(orderColumns.nonEmpty,
        s"[$where] pack requires orderColumns (the deterministic " +
          "within-partition visit order)")
    }
    override def batchOnly: Option[String] = Some("pack is batch-only " +
      "(partition-local running-bin state has no streaming analogue); " +
      "pack the stored batch output instead")
  }

  /** Drift of the frame (the NEW snapshot) against the OLD one at
    * `comparePath` (narrowed by `compareFilter`), leg by leg: numeric,
    * categorical, heavy-hitter (`minFraction`), histogram, embedding
    * (`embeddingGroupBy` strata) — or against stored artifacts that are
    * never rescanned: `summaryPath` / `statsPath` / `sketchPath` /
    * `quantilePath` for the old side, the `new*Path` twins for the new.
    * `maxAbsDelta` / `maxRelDelta` gate the run ("metric" or
    * "col_name.metric" keys). Windowed, it is the live per-window MONITOR
    * against exactly one stored baseline; `baselineRefresh: perBatch`
    * re-reads that baseline every micro-batch.
    */
  case class SnapshotDrift(
      comparePath: Option[String] = None,
      compareFilter: Option[String] = None,
      numericColumns: Seq[String] = Nil,
      categoricalColumns: Seq[String] = Nil,
      heavyHitterColumns: Seq[String] = Nil,
      @JsonDeserialize(contentAs = classOf[JDouble]) minFraction: Option[Double] = None,
      histograms: Seq[HistogramSpec] = Nil,
      embeddingColumns: Seq[String] = Nil,
      embeddingGroupBy: Option[String] = None,
      summaryPath: Option[String] = None,
      newSummaryPath: Option[String] = None,
      statsPath: Option[String] = None,
      newStatsPath: Option[String] = None,
      sketchPath: Option[String] = None,
      newSketchPath: Option[String] = None,
      quantilePath: Option[String] = None,
      newQuantilePath: Option[String] = None,
      groupColumns: Seq[String] = Nil,
      column: Option[String] = None,
      @JsonDeserialize(contentAs = classOf[JDouble]) quantiles: Seq[Double] = Nil,
      @JsonDeserialize(contentAs = classOf[JDouble]) maxAbsDelta: Map[String, Double] = Map.empty,
      @JsonDeserialize(contentAs = classOf[JDouble]) maxRelDelta: Map[String, Double] = Map.empty,
      baselineRefresh: Option[String] = None,
      timeColumn: Option[String] = None, every: Option[String] = None,
      watermark: Option[String] = None, slide: Option[String] = None,
      windowType: Option[String] = None) extends Windowed {
    def gated: Boolean = maxAbsDelta.nonEmpty || maxRelDelta.nonEmpty

    def validate(where: String): Unit = {
      require(numericColumns.nonEmpty || categoricalColumns.nonEmpty ||
          heavyHitterColumns.nonEmpty || histograms.nonEmpty ||
          embeddingColumns.nonEmpty || sketchPath.isDefined ||
          quantilePath.isDefined || statsPath.isDefined,
        s"[$where] snapshot_drift requires numericColumns, " +
          "categoricalColumns, heavyHitterColumns, histograms, " +
          "embeddingColumns, sketchPath, quantilePath and/or statsPath")
      // a duplicated measure would alias the same agg twice and die in an
      // ambiguous-column AnalysisException deep in the report build
      require(numericColumns.distinct == numericColumns,
        s"[$where] snapshot_drift numericColumns has duplicates: " +
          duplicates(numericColumns))
      // WINDOWED form: the per-window drift MONITOR evaluates each cell
      // against exactly ONE stored baseline — each leg's row shape and
      // state layout differ; several legs are several declarations
      val windowed = validateWindow(where)
      require(baselineRefresh.isEmpty || windowed,
        s"[$where] snapshot_drift baselineRefresh is a WINDOWED-monitor " +
          "knob (how the live monitor binds its stored baseline); the " +
          "batch form re-reads artifacts on every run already")
      require(baselineRefresh.forall(_ == "perBatch"),
        s"[$where] snapshot_drift baselineRefresh " +
          s"'${baselineRefresh.getOrElse("")}' unknown — the one supported " +
          "mode is \"perBatch\" (re-read the stored baseline every " +
          "micro-batch via StreamRunner.startRefreshingMonitor); omit the " +
          "field for the default read-once-at-start binding")
      if (windowed) validateMonitor(where)
      if (!windowed && statsPath.isDefined) {
        require(numericColumns.nonEmpty,
          s"[$where] batch snapshot_drift with statsPath is the stored " +
            "scalar leg — declare numericColumns (the measures; " +
            "groupColumns are the artifact dims, may be empty for a " +
            "global baseline)")
      }
      require(newStatsPath.isEmpty || statsPath.isDefined,
        s"[$where] snapshot_drift newStatsPath (the NEW side's stored " +
          "scalar summary) requires statsPath (the OLD side's) — the " +
          "both-sides-stored form compares two artifacts; to compare a " +
          "stored artifact against the live frame, declare statsPath alone")
      require(newSketchPath.isEmpty || sketchPath.isDefined,
        s"[$where] snapshot_drift newSketchPath (the NEW side's stored " +
          "sketch table) requires sketchPath (the OLD side's) — the " +
          "both-sides-stored form compares two artifacts; to sketch the " +
          "live frame, declare sketchPath alone")
      require(newQuantilePath.isEmpty || quantilePath.isDefined,
        s"[$where] snapshot_drift newQuantilePath (the NEW side's stored " +
          "quantile-sketch table) requires quantilePath (the OLD side's) " +
          "— the both-sides-stored form compares two artifacts; to sketch " +
          "the live frame, declare quantilePath alone")
      // comparePath is needed only by the legs that RESCAN old raw data —
      // and a declared comparePath no leg reads is refused, not ignored
      val rescans = !windowed && (
        (numericColumns.nonEmpty && statsPath.isEmpty) ||
        categoricalColumns.nonEmpty ||
        heavyHitterColumns.nonEmpty || histograms.nonEmpty ||
        (embeddingColumns.nonEmpty && summaryPath.isEmpty))
      require(comparePath.isDefined || !rescans,
        s"[$where] snapshot_drift requires comparePath (the OLD snapshot " +
          "parquet; the frame is the NEW snapshot) — only a purely " +
          "artifact-backed declaration (summaryPath / sketchPath / " +
          "quantilePath legs alone) may omit it")
      require(comparePath.isEmpty || rescans,
        s"[$where] snapshot_drift comparePath is declared but NO leg " +
          "rescans old raw data (every declared leg is artifact-backed " +
          "via summaryPath / statsPath / sketchPath / quantilePath) — " +
          "the path would never be read. " +
          "Drop comparePath, or declare a rescanning leg " +
          "(numericColumns without statsPath / categoricalColumns / " +
          "heavyHitterColumns / histograms, or embeddingColumns without " +
          "summaryPath)")
      summaryPath.foreach { _ =>
        require(embeddingColumns.size == 1,
          s"[$where] snapshot_drift summaryPath routes the embedding leg " +
            "through ONE stored embedding_summary artifact, which " +
            "summarizes exactly one vector column — declare exactly one " +
            s"embeddingColumns entry (got ${embeddingColumns.size})")
      }
      require(newSummaryPath.isEmpty || summaryPath.isDefined,
        s"[$where] snapshot_drift newSummaryPath (the NEW side's stored " +
          "summary) requires summaryPath (the OLD side's) — the " +
          "both-sides-stored form compares two artifacts; to compare a " +
          "stored artifact against the live frame, declare summaryPath " +
          "alone")
      sketchPath.foreach { _ =>
        require(groupColumns.nonEmpty && column.isDefined,
          s"[$where] snapshot_drift sketchPath (the stored distinct-" +
            "sketch table) requires groupColumns (the sketch dimensions) " +
            "and column (the counted item on the new snapshot)")
      }
      quantilePath.foreach { _ =>
        // groupColumns may be EMPTY — the GLOBAL percentile drift
        require(column.isDefined,
          s"[$where] snapshot_drift quantilePath (the stored quantile-" +
            "sketch table) requires column (the measure on the new " +
            "snapshot); groupColumns are the sketch dimensions and may " +
            "be empty for a GLOBAL baseline")
        require(quantiles.nonEmpty,
          s"[$where] snapshot_drift quantilePath requires quantiles " +
            "(the percentiles to compare)")
        require(fractions(quantiles),
          s"[$where] snapshot_drift quantiles must be fractions in [0, 1]")
      }
      histograms.foreach { h =>
        require(h.column.nonEmpty,
          s"[$where] snapshot_drift histogram entry needs a column")
        require(h.bins >= 1,
          s"[$where] snapshot_drift histogram '${h.column}' bins must be " +
            s">= 1, got ${h.bins}")
        require(h.hi > h.lo,
          s"[$where] snapshot_drift histogram '${h.column}' needs hi > lo, " +
            s"got [${h.lo}, ${h.hi})")
      }
      require(embeddingGroupBy.isEmpty || embeddingColumns.nonEmpty,
        s"[$where] snapshot_drift embeddingGroupBy needs embeddingColumns " +
          "to group")
      if (heavyHitterColumns.nonEmpty)
        require(minFraction.exists(f => f > 0 && f <= 1),
          s"[$where] snapshot_drift heavyHitterColumns requires " +
            "minFraction in (0, 1] (the heavy-key threshold)")
      // the two bound maps validate SEPARATELY: merged, a negative
      // maxAbsDelta could hide behind a valid same-key maxRelDelta
      Seq("maxAbsDelta" -> maxAbsDelta, "maxRelDelta" -> maxRelDelta).foreach {
        case (which, bs) => bs.foreach { case (k, v) =>
          require(v >= 0,
            s"[$where] snapshot_drift $which bound '$k' must be >= 0, got $v")
        }
      }
    }

    private def validateMonitor(where: String): Unit = {
      val declaredBaselines = Seq(
        "summaryPath" -> summaryPath.isDefined,
        "statsPath" -> statsPath.isDefined,
        "quantilePath" -> quantilePath.isDefined).filter(_._2).map(_._1)
      require(declaredBaselines.size == 1,
        s"[$where] windowed snapshot_drift (the per-window drift " +
          "monitor) requires exactly ONE stored baseline — summaryPath " +
          "(embedding leg), statsPath (scalar leg) or quantilePath " +
          "(percentile leg); the monitor compares each window cell " +
          "against a stored artifact, never against raw old data " +
          s"(declared: ${if (declaredBaselines.isEmpty) "none"
            else declaredBaselines.mkString(", ")})")
      require(categoricalColumns.isEmpty && heavyHitterColumns.isEmpty &&
          histograms.isEmpty && sketchPath.isEmpty &&
          newSummaryPath.isEmpty && newStatsPath.isEmpty &&
          newSketchPath.isEmpty && newQuantilePath.isEmpty &&
          comparePath.isEmpty,
        s"[$where] windowed snapshot_drift monitors exactly its " +
          "baseline's leg — categorical/heavy-hitter/histogram legs, " +
          "sketchPath, the new*Path both-sides-stored forms and " +
          "comparePath belong to the batch form (for windowed " +
          "categorical signals use the windowed sketch ops, which " +
          "maintain their own tables)")
      declaredBaselines.head match {
        case "summaryPath" =>
          require(embeddingColumns.nonEmpty && numericColumns.isEmpty,
            s"[$where] windowed snapshot_drift with summaryPath is the " +
              "EMBEDDING monitor — declare embeddingColumns (and no " +
              "numericColumns; the scalar monitor is statsPath)")
        case "statsPath" =>
          require(numericColumns.nonEmpty,
            s"[$where] windowed snapshot_drift with statsPath is the " +
              "SCALAR monitor — declare numericColumns (the measures; " +
              "groupColumns are the artifact dims, may be empty for a " +
              "global baseline)")
          require(embeddingColumns.isEmpty && embeddingGroupBy.isEmpty,
            s"[$where] windowed snapshot_drift with statsPath takes no " +
              "embedding leg (that monitor is summaryPath); strata ride " +
              "groupColumns, the artifact dims")
        case _ =>
          require(column.isDefined,
            s"[$where] windowed snapshot_drift with quantilePath is the " +
              "PERCENTILE monitor — declare column (the measure); " +
              "groupColumns are the stored sketch table's dims, and may " +
              "be empty for a GLOBAL baseline (corpus-wide percentiles " +
              "per window)")
          require(quantiles.nonEmpty && fractions(quantiles),
            s"[$where] windowed snapshot_drift with quantilePath " +
              "requires quantiles (fractions in [0, 1])")
          require(embeddingColumns.isEmpty && numericColumns.isEmpty,
            s"[$where] windowed snapshot_drift with quantilePath takes " +
              "no embedding or scalar leg (those monitors are " +
              "summaryPath / statsPath)")
      }
    }

    override def batchOnly: Option[String] =
      if (!windowed) Some("snapshot_drift is batch-only (it compares two " +
        "complete corpus snapshots; a stream has no final distribution to " +
        "compare — run it between ingest rounds on the materialized " +
        "snapshots; for a LIVE per-window monitor declare timeColumn + " +
        "every + watermark with summaryPath — the windowed streaming form)")
      // the ordinary build would bake the baseline read into the static
      // plan — silently the read-once semantics the declaration opted out of
      else if (baselineRefresh.contains("perBatch")) Some("snapshot_drift " +
        "baselineRefresh: \"perBatch\" on a stream must start through " +
        "StreamRunner.startRefreshingMonitor (the foreachBatch form that " +
        "re-reads the baseline each micro-batch); the ordinary entry " +
        "points bind the baseline once at query start")
      else windowBatchOnly
  }

  /** Crawl-time numeric summary artifact of `columns` (long-shape
    * n_rows/n_nonnull/sum/sumsq/min/max per `groupColumns` cell).
    */
  case class ScalarSummary(columns: Seq[String] = Nil,
      groupColumns: Seq[String] = Nil,
      timeColumn: Option[String] = None, every: Option[String] = None,
      watermark: Option[String] = None, slide: Option[String] = None,
      windowType: Option[String] = None) extends Windowed {
    def validate(where: String): Unit = {
      require(columns.nonEmpty,
        s"[$where] scalar_summary requires columns (the numeric measures " +
          "to summarize); optional groupColumns strata the artifact")
      require(columns.distinct == columns,
        s"[$where] scalar_summary columns has duplicates: ${duplicates(columns)}")
      validateWindow(where)
    }
    override def batchOnly: Option[String] = globalBatchOnly("global " +
      "scalar_summary is batch-only (one artifact per complete snapshot); " +
      "declare timeColumn + every + watermark for the windowed streaming " +
      "form (an incrementally-maintained summary table)")
  }

  /** Crawl-time embedding summary artifact of vector `column` (≤ dim rows,
    * per `embeddingGroupBy` stratum).
    */
  case class EmbeddingSummary(column: String,
      embeddingGroupBy: Option[String] = None,
      timeColumn: Option[String] = None, every: Option[String] = None,
      watermark: Option[String] = None, slide: Option[String] = None,
      windowType: Option[String] = None) extends Windowed {
    def validate(where: String): Unit = {
      require(given(column),
        s"[$where] embedding_summary requires column (the vector to " +
          "summarize); optional embeddingGroupBy strata the artifact")
      validateWindow(where)
    }
    override def batchOnly: Option[String] = globalBatchOnly("global " +
      "embedding_summary is batch-only (one artifact per complete snapshot); " +
      "declare timeColumn + every + watermark for the windowed streaming " +
      "form (an incrementally-maintained summary table)")
  }

  /** Folds a UNION of embedding_summary artifacts (grouped-ness inferred
    * from the schema).
    */
  case class MergeEmbeddingSummaries() extends TransformOp {
    def validate(where: String): Unit = ()
    override def batchOnly: Option[String] = Some("merge_embedding_summaries " +
      "is batch-only (it folds stored artifacts; maintain a LIVE summary " +
      "with the windowed embedding_summary form instead)")
  }

  /** Folds a UNION of scalar_summary artifacts (dims inferred from the
    * schema).
    */
  case class MergeScalarSummaries() extends TransformOp {
    def validate(where: String): Unit = ()
    override def batchOnly: Option[String] = Some("merge_scalar_summaries " +
      "is batch-only (it folds stored artifacts; maintain a LIVE summary " +
      "with the windowed scalar_summary form instead)")
  }
}
