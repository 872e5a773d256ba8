package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one per JVM — Test/fork gives one). */
object SparkSuite {
  lazy val spark: SparkSession = GraftSession.get("4")
}

trait SparkSuite extends AnyFunSuite with BeforeAndAfterAll {
  def spark: SparkSession = SparkSuite.spark
  def sf(dir: String = "sf0.001"): String = s"/root/testdata/$dir"

  // Temp dirs are created through this helper and swept in afterAll — a
  // test run must leave no graft_* residue in java.io.tmpdir (round-7
  // advisor hygiene; deleteOnExit can't cover the trees the snapshot-sink
  // tests grow AFTER registration, a recursive sweep can).
  private val tempDirs = scala.collection.mutable.ArrayBuffer.empty[java.nio.file.Path]

  def tempDirPath(prefix: String): java.nio.file.Path = synchronized {
    val d = java.nio.file.Files.createTempDirectory(prefix)
    tempDirs += d
    d
  }

  def tempDir(prefix: String): String = tempDirPath(prefix).toString

  /** The number of Spark jobs started while `body` runs — the unit the
    * job-count pins are written in. Queued listener events are drained on
    * both sides, so jobs of earlier work are not counted and jobs of
    * `body` are not missed.
    */
  def jobsDuring(body: => Any): Int = {
    val sc = spark.sparkContext
    val n = new java.util.concurrent.atomic.AtomicInteger()
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        n.incrementAndGet(); ()
      }
    }
    org.apache.spark.graftbridge.ListenerBridge.drain(sc)
    sc.addSparkListener(l)
    try { body; org.apache.spark.graftbridge.ListenerBridge.drain(sc) }
    finally sc.removeSparkListener(l)
    n.get()
  }

  override protected def afterAll(): Unit = {
    try {
      val dirs = synchronized(tempDirs.toSeq)
      dirs.foreach { d =>
        if (java.nio.file.Files.exists(d))
          scala.util.Using.resource(java.nio.file.Files.walk(d)) { walk =>
            walk.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
              .forEach(p => { java.nio.file.Files.deleteIfExists(p); () })
          }
      }
    } finally super.afterAll()
  }
}
