package perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** Everything a workload needs from the command line and the session. */
final case class Ctx(spark: SparkSession, tracer: Tracer, repo: String,
    data: String, warmData: String, work: String, seed: Long, cpus: Int) {
  def readText(rel: String): String =
    new String(Files.readAllBytes(Paths.get(repo, rel)), "UTF-8")
}

/** Outcome of the output checks. */
final case class Checked(attempted: Long, failed: Long, notes: Seq[String])

trait Workload {
  /** One repetition of set-up: fixture load, bound specs, fresh artifacts. */
  def setup(rep: Int): Unit
  /** Warm-up after the last set-up, once (JIT, first jobs). */
  def warmUp(): Unit = ()
  /** Run the workload for about `seconds` of measured time. */
  def measure(seconds: Double): Unit
  /** Check every output; count attempted and failed operations. */
  def check(): Checked
  /** The end-to-end figures, without setup_s and retained_mb. */
  def endToEnd(): Map[String, Metric]
  /** Workload-specific figures for the detailed report. */
  def details(): Map[String, Any]
  /** Per-layer figures only this workload can compute. */
  def layers(): Map[String, Metric] = Map.empty
  def close(): Unit = ()
}

/** Command line:
  *   prepare <dataDir> <sf>
  *   run --workload W --seed N --seconds S --trace 0|1 --repo R --data D
  *       --warm-data D0 --work DIR --out FILE [--cpus C]
  */
object Main {
  def main(args: Array[String]): Unit = args.headOption match {
    case Some("prepare") =>
      val spark = graft.GraftSession.get(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"))
      try args.drop(1).grouped(2).foreach { case Array(dir, sf) =>
        DataGen.generate(spark, sf.toDouble, dir)
      } finally spark.stop()
    case Some("run") => run(args.drop(1).grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap)
    case _ =>
      System.err.println("usage: perfbench.Main prepare <dir> <sf>... | run --workload ...")
      sys.exit(2)
  }

  private def run(opt: Map[String, String]): Unit = {
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val cpus = opt.getOrElse("cpus", "4").toInt
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val work = opt("work")
    val spark = graft.GraftSession.get(cpus.toString)
    val sessionS = (System.currentTimeMillis() - jvmStart) / 1000.0
    val tracer = new Tracer(spark, traced)
    val ctx = Ctx(spark, tracer, opt("repo"), opt("data"), opt("warm-data"), work,
      opt("seed").toLong, cpus)
    val wl: Workload = opt("workload") match {
      case "stream_microbatch" => new StreamWorkload(ctx)
      case "artifact_lifecycle" => new LifecycleWorkload(ctx)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    // set-up is repeated and its median reported: one sample is too noisy
    val setupS = (0 until 3).map { i =>
      val t0 = System.nanoTime()
      wl.setup(i)
      (System.nanoTime() - t0) / 1e9
    }
    val setupLayerMs = Layers.LayerNames.map(l => l -> tracer.samples.get(s"setup.$l").sum).toMap
    val w0 = System.nanoTime()
    wl.warmUp()
    val warmS = (System.nanoTime() - w0) / 1e9
    val e2eSetup = sessionS + Stats.median(setupS) + warmS

    // Untraced timing always; with --trace 1 the first half is measured
    // untraced and the second half traced, to price the tracing itself.
    tracer.measuring = true
    val plainUnitMs = if (!traced) {
      wl.measure(seconds)
      0.0
    } else {
      wl.measure(seconds / 2)
      val plain = wl.endToEnd()("unit_ms_p50").value
      tracer.samples.timings.clear()
      tracer.enabled = true
      wl.measure(seconds / 2)
      tracer.enabled = false
      plain
    }
    val retainedMb = Proc.retainedMb()
    val c0 = System.nanoTime()
    val checked = wl.check()
    val checkS = (System.nanoTime() - c0) / 1e9
    tracer.drain()

    val e2e = wl.endToEnd() ++ Map(
      "setup_s" -> Metric(e2eSetup, "s"),
      "retained_mb" -> Metric(retainedMb, "MB"))
    val layerMetrics: Map[String, Metric] =
      if (!traced) Map.empty
      else {
        val tracedUnit = wl.endToEnd()("unit_ms_p50").value
        tracer.writeSpans(s"$work/trace/spans.jsonl")
        Layers.report(tracer) ++ wl.layers() ++ Map(
          "harness.tracing_overhead_frac" -> Metric(
            if (plainUnitMs > 0) tracedUnit / plainUnitMs - 1 else 0.0, "frac"))
      }
    val report = Map(
      "workload" -> opt("workload"), "seed" -> ctx.seed, "trace" -> traced,
      "cpus" -> cpus, "attempted" -> checked.attempted, "failed" -> checked.failed,
      "notes" -> checked.notes,
      "setup_reps_s" -> setupS, "session_s" -> sessionS, "warm_up_s" -> warmS, "check_s" -> checkS,
      "setup_layer_ms" -> setupLayerMs,
      "end_to_end" -> e2e.map { case (k, m) => k -> Map("value" -> m.value, "unit" -> m.unit) },
      "per_layer" -> layerMetrics.map { case (k, m) => k -> Map("value" -> m.value, "unit" -> m.unit) },
      "details" -> wl.details())
    Files.write(Paths.get(opt("out")), Json(report).getBytes("UTF-8"))
    wl.close()
    tracer.detach()
    spark.stop()
  }
}
