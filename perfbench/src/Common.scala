package perfbench

import scala.collection.mutable

/** JSON text of the report: maps, sequences, numbers and strings. */
object Json {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)
  def apply(v: Any): String = mapper.writeValueAsString(v)
}

object Stats {
  /** Linear-interpolated percentile (numpy's default), p in [0, 100]. */
  def pct(xs: Iterable[Double], p: Double): Double = {
    val s = xs.toArray.sorted
    if (s.isEmpty) 0.0
    else {
      val r = (s.length - 1) * p / 100.0
      val lo = math.floor(r).toInt
      val hi = math.ceil(r).toInt
      s(lo) + (s(hi) - s(lo)) * (r - lo)
    }
  }
  def median(xs: Iterable[Double]): Double = pct(xs, 50)

  /** The highest of the usual tail percentiles that still has at least ten
    * samples beyond it; p50 when there are fewer than twenty samples.
    */
  def tailPct(n: Int): Int =
    Seq(99, 95, 90, 75).find(p => n * (100 - p) / 100.0 >= 10).getOrElse(50)

  /** Median, tail and sample count of a set of timings. */
  def summary(xs: Iterable[Double]): Map[String, Any] = {
    val n = xs.size
    val t = tailPct(n)
    Map("p50" -> median(xs), s"p$t" -> pct(xs, t), "n" -> n, "tail_pct" -> t)
  }
}

/** The measured value of one metric. */
final case class Metric(value: Double, unit: String)

/** Collects named timing samples and counters during a run. */
final class Samples {
  val timings = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  def add(name: String, v: Double): Unit =
    timings.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += v
  def get(name: String): Seq[Double] = timings.get(name).map(_.toSeq).getOrElse(Nil)
}

object Proc {
  /** Memory the run still holds at the end of its measured window: heap in
    * use after a full collection, plus non-heap in use (metaspace, code
    * cache). Unlike the peak RSS, which the fixed heap size sets, this moves
    * with what the engine keeps alive (and includes the harness's own
    * fixture copies and expected outputs).
    */
  def retainedMb(): Double = {
    System.gc()
    val mem = java.lang.management.ManagementFactory.getMemoryMXBean
    (mem.getHeapMemoryUsage.getUsed + mem.getNonHeapMemoryUsage.getUsed) / 1048576.0
  }

  def dirStats(root: String): (Long, Long) = {
    val p = java.nio.file.Paths.get(root)
    if (!java.nio.file.Files.exists(p)) (0L, 0L)
    else {
      val s = java.nio.file.Files.walk(p)
      try {
        val files = s.filter(q => java.nio.file.Files.isRegularFile(q) &&
          q.getFileName.toString.startsWith("part-")).toArray
          .map(_.asInstanceOf[java.nio.file.Path])
        (files.length.toLong, files.map(f => java.nio.file.Files.size(f)).sum)
      } finally s.close()
    }
  }
}
