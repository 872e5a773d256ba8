package graft.config

/** The machine-readable inventory of the declarative config surface — the
  * single source of truth that `docs/SPEC_REFERENCE.md` (the user-facing
  * reference), the unknown-op error and the SpecFuzzProperties coverage
  * check are all tested against (SpecSurfaceSpec): adding a transform op
  * or a config field without updating the doc — or documenting something
  * the code doesn't carry — fails the build instead of shipping drift.
  *
  * Everything here is DERIVED: the op list and each op's fields from the
  * [[TransformOp]] registration Jackson decodes with, the other config
  * case classes' fields reflectively (productElementNames of a minimal
  * instance), so none of it can lag the code.
  */
object SpecSurface {

  /** Every transform op, in documentation order. */
  val transformOps: Seq[String] = TransformOp.registered.map(_._1)

  /** op → the fields it decodes (a field outside this list is refused). */
  def opFields: Seq[(String, Seq[String])] = TransformOp.registered.map {
    case (op, cls) => op -> PipelineSpec.fieldsOf(cls)
  }

  /** knn method family members (PipelineSpec knn validation). */
  val knnMethods: Seq[String] = Seq("exact", "quantized", "ivf", "lsh")

  /** Config case-class name → its field names, reflectively derived. */
  def fields: Map[String, Seq[String]] = Map(
    "PipelineSpec" -> PipelineSpec(id = "s", processingMode = "SIMPLE_STREAM",
      sourceTopic = TopicConfig("t")).productElementNames.toSeq,
    "TopicConfig" -> TopicConfig("t").productElementNames.toSeq,
    "KeyExtraction" -> KeyExtraction("KEY").productElementNames.toSeq,
    "FieldMapping" -> FieldMapping(outputFieldName = "o")
      .productElementNames.toSeq,
    "JoinOp" -> JoinOp(id = "j", `type` = "INNER_JOIN",
      enrichmentTopic = TopicConfig("t")).productElementNames.toSeq,
    "AsOfSpec" -> AsOfSpec("lt", "rt").productElementNames.toSeq,
    "OutputTopic" -> OutputTopic(name = "o").productElementNames.toSeq,
    "SnapshotSpec" -> SnapshotSpec(Seq("k"), Seq("v")).productElementNames.toSeq,
    "BranchSpec" -> BranchSpec("true", OutputTopic(name = "o"))
      .productElementNames.toSeq,
    "AggSpec" -> AggSpec().productElementNames.toSeq,
    "HistogramSpec" -> HistogramSpec("c", 0.0, 1.0, 1).productElementNames.toSeq,
    "EventTimeSpec" -> EventTimeSpec("ts", "1 hour").productElementNames.toSeq)
}
