package graft.observe

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.LongAdder

/** JVM-wide tally of default paths taken: a site that substitutes a
  * default for a value it could not get logs a WARN and bumps its counter
  * here, so a run or a test can read how often that happened instead of
  * the default passing silently.
  */
object Fallbacks extends org.apache.spark.internal.Logging {
  private val counts = new ConcurrentHashMap[String, LongAdder]()

  /** Count one default taken at `site`; `warn = false` counts a repeat the
    * caller has already reported.
    */
  def record(site: String, message: String, warn: Boolean = true): Unit = {
    counts.computeIfAbsent(site, _ => new LongAdder).increment()
    if (warn) logWarning(s"[$site] $message")
  }

  def count(site: String): Long = Option(counts.get(site)).fold(0L)(_.sum)
}
