package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

import graft.config.{PipelineSpec, TestdataCatalog}
import graft.observe.PlanAudit
import graft.sources.ParquetSourceResolver

/** Pre-flight CLI: validate a pipeline config, build its plan against real
  * data, and report the plan-hygiene findings and input sizing BEFORE the
  * job is submitted to a cluster — the five-second check that catches a
  * typo'd field, an accidental nested-loop join, or a forgotten-broadcast
  * dim while it still costs nothing.
  *
  * usage: runMain graft.Doctor <spec.json|.yaml> <dataDir>
  *        [--audit-fail] [--run-gates]
  *
  *  - the spec file may hold ONE spec or a YAML/JSON LIST of specs (the
  *    application.yml shape) — every spec is checked;
  *  - exit 0 = every spec validates, builds, and (with --audit-fail) has
  *    zero audit warnings; exit 1 otherwise, with the failure printed
  *    per spec id;
  *  - `--run-gates` additionally EXECUTES batch specs that declare drift
  *    gate bounds (snapshot_drift maxAbsDelta/maxRelDelta) — the one
  *    preflight that must touch data, opted into explicitly because it
  *    scans both snapshots; a violated gate fails the spec with the
  *    violation named. Gate-less specs stay build-only;
  *  - streaming-mode specs validate and build, but plan audit applies to
  *    batch frames only (a streaming frame has no executable plan until
  *    start — [[graft.observe.StreamMetrics]] covers the live side).
  */
object Doctor {
  def main(args: Array[String]): Unit = sys.exit(run(args))

  def run(args: Array[String]): Int = {
    val failOnWarn = args.contains("--audit-fail")
    val runGates = args.contains("--run-gates")
    val positional = args.filterNot(_.startsWith("--"))
    if (positional.length != 2) {
      System.err.println(
        "usage: graft.Doctor <spec.json|.yaml> <dataDir> " +
          "[--audit-fail] [--run-gates]")
      return 2
    }
    val (specPath, dataDir) = (positional(0), positional(1))
    val text = Files.readString(Paths.get(specPath))
    val isYaml = specPath.endsWith(".yaml") || specPath.endsWith(".yml")

    val specs: Seq[PipelineSpec] =
      try {
        // list-vs-single decided by the parsed node type (anyFromYaml) —
        // raw-text sniffing misroutes `---` markers and leading comments.
        // JSON is a YAML subset, so one entry point handles both; only the
        // single-object JSON case keeps the JSON mapper for its error text.
        if (isYaml) PipelineSpec.anyFromYaml(text)
        else if (text.dropWhile(_.isWhitespace).startsWith("["))
          PipelineSpec.anyFromYaml(text)
        else Seq(PipelineSpec.fromJson(text))
      } catch { case e: Exception =>
        println(s"CONFIG INVALID: ${e.getMessage}")
        return 1
      }
    println(s"config OK: ${specs.size} spec(s) — ${specs.map(_.id).mkString(", ")}")

    val spark = doctorSession()
    val resolver = new ParquetSourceResolver(dataDir, TestdataCatalog)
    var failures = 0
    specs.foreach { spec =>
      println(s"\n=== ${spec.id} (${spec.processingMode}) ===")
      try {
        val (df, specFindings) =
          graft.pipeline.Interpreter.buildAudited(spark, spec, resolver)
        // spec-level findings (config-detectable traps — e.g. the
        // low-threshold embedding-LSH regime, the unbounded-categorical
        // drift leg) print here and count under --audit-fail like plan
        // warns. In practice they fire on BATCH specs: the streaming
        // declarations that would hit them (embedding dedup on a stream)
        // are refused at build and report BUILD FAILED instead
        specFindings.foreach(w =>
          println(s"  plan audit WARN: ${w.rule} — ${w.detail}"))
        if (df.isStreaming) {
          println("  builds OK (streaming — audit applies at start; attach StreamMetrics)")
          if (failOnWarn && specFindings.nonEmpty) failures += 1
        } else {
          val findings = PlanAudit.audit(df)
          val planWarns = findings.filter(_.severity == "warn")
          val leafBytes = findings.find(_.rule == "leaf_scan_bytes")
            .map(_.detail.toLong).getOrElse(0L)
          val exchanges = findings.find(_.rule == "exchanges")
            .map(_.detail).getOrElse("?")
          println(s"  builds OK: ${df.columns.length} columns, " +
            s"$exchanges exchange(s), input ~${leafBytes / 1024 / 1024} MiB")
          val suggested = math.max(32L, leafBytes / (128L * 1024 * 1024))
          println(s"  suggested spark.sql.shuffle.partitions at this input: ≥ $suggested")
          if (planWarns.isEmpty && specFindings.isEmpty)
            println("  plan audit: clean")
          else {
            planWarns.foreach(w => println(s"  plan audit WARN: ${w.rule} — ${w.detail}"))
            if (failOnWarn) failures += 1
          }
          val gates = spec.transform.collect {
            case t: graft.config.TransformOp.SnapshotDrift if t.gated => t }
          if (runGates && gates.nonEmpty) {
            // the drift frame is O(columns) rows; collect() (never count —
            // column pruning would drop the raising `pass` column)
            // evaluates every gate and throws the named violation
            val n = df.collect().length
            println(s"  drift gates: clean ($n rows checked)")
          }
        }
      } catch { case e: Exception =>
        println(s"  BUILD FAILED: ${e.getMessage}")
        failures += 1
      }
    }
    if (failures > 0) { println(s"\n$failures spec(s) failed preflight"); 1 }
    else { println("\npreflight OK"); 0 }
  }

  /** Doctor runs where a cluster session may not exist — a tiny local
    * session suffices (plans are built, never executed). Reuses an active
    * session when the caller (tests, a notebook) already has one.
    */
  private def doctorSession(): SparkSession =
    SparkSession.getActiveSession
      .orElse(SparkSession.getDefaultSession)
      .getOrElse(GraftSession.get("2"))
}
