package graft.sinks

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.{LeafNode, LocalRelation, LogicalPlan}
import org.apache.spark.sql.catalyst.trees.TreeNodeTag
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.internal.SQLConf

/** How the maintenance verbs' actions execute. Adaptive execution runs
  * every exchange, broadcast and cache materialisation of a plan as its
  * own Spark job and re-plans the rest after each one — on a maintenance
  * verb over kilobytes those per-stage barriers cost more than the work. A
  * plan whose inputs fit under the broadcast bar has nothing for AQE to
  * fix: every shuffle coalesces to one partition and every join broadcasts.
  *
  * Only the verbs go through here: their own actions (the generation
  * writes, the knn build and search probes, the monitor's collects) call
  * [[run]], and their output frames, marked by [[verbOutput]], reach it
  * through [[sink]]. The verbs' plans are the engine's own, and what they
  * add to their inputs before a shuffle is bounded (shingles per document,
  * probed cells per query). A pipeline's data plane never comes here: its
  * plans can grow past their inputs (an explode, a join) and keep AQE's
  * split of the shuffle by measured size. Nor does a verb fed by it: the
  * interpreter runs such a verb inside [[dataPlane]].
  *
  * [[run]] decides per action from the byte size of the leaves of the
  * frame's analyzed plan (subqueries included), with no filesystem call:
  *
  *  - a file relation: its file index's size, from the listing the read
  *    already did;
  *  - a local relation;
  *  - a cached relation: through the leaves of the plan it caches.
  *
  * When the total is at most `spark.sql.autoBroadcastJoinThreshold` (-1:
  * never), the action runs with adaptive execution off and one shuffle
  * partition, so the plan runs as one job plus its broadcasts. Larger
  * plans, and any plan with a leaf of unknown size, run under the session
  * conf. Each call decides on its own: a large action nested in a small
  * one's scope runs under the session conf.
  *
  * Spark reads the adaptive switch from the conf of the session a plan
  * belongs to, not from the thread's conf, so a small action runs on a
  * clone of the frame's session (one per session, its conf kept equal to
  * the session's but for the two settings, its query executions reported
  * to the session's listeners): `action` gets the frame rebound to that
  * clone, and every frame it derives from it plans there.
  */
object Exec {

  /** `action(df)` under the execution conf `df`'s inputs call for. */
  def run[T](df: DataFrame)(action: DataFrame => T): T = {
    val home = homeOf(df.sparkSession)
    val target = if (!inDataPlane.value && small(df, home)) smallSession(home) else home
    val frame =
      if (target eq df.sparkSession) df else Bridge.ofRows(target, df.queryExecution.analyzed)
    SQLConf.withExistingConf(target.sessionState.conf)(action(frame))
  }

  /** `df`, marked as a maintenance verb's output: [[sink]] writes it
    * through [[run]]. A frame derived from it is not marked.
    */
  def verbOutput(df: DataFrame): DataFrame = {
    df.queryExecution.analyzed.setTagValue(VerbOutput, ())
    df
  }

  /** `action(df)`: through [[run]] when `df` is a maintenance verb's
    * output, under the session conf otherwise.
    */
  def sink[T](df: DataFrame)(action: DataFrame => T): T =
    if (df.queryExecution.analyzed.getTagValue(VerbOutput).isDefined) run(df)(action)
    else action(df)

  private val VerbOutput = TreeNodeTag[Unit]("graft.verbOutput")

  /** `body` with every [[run]] in it under the session conf: a verb whose
    * input the data plane shaped (a join, an aggregation, a transform other
    * than a filter) can see that input grow past its sources.
    */
  def dataPlane[T](body: => T): T = inDataPlane.withValue(true)(body)

  private val inDataPlane = new scala.util.DynamicVariable(false)

  /** Whether `df`'s inputs are known to fit under `home`'s broadcast bar. A
    * plan kept adaptive only because a leaf's size is unknown is counted
    * (`Fallbacks`, site `exec.size_unknown`; one WARN per leaf class).
    */
  private def small(df: DataFrame, home: SparkSession): Boolean = {
    val conf = home.sessionState.conf
    val bar = conf.autoBroadcastJoinThreshold
    if (bar < 0) return false
    val sizes = leaves(df.queryExecution.analyzed).map(l => l -> leafBytes(l))
    if (sizes.flatMap(_._2).sum > bar) false
    else sizes.collectFirst { case (l, None) => l } match {
      case None => true
      case Some(l) =>
        graft.observe.Fallbacks.record("exec.size_unknown",
          s"a ${l.nodeName} leaf has no known size, so actions over it keep " +
            "adaptive execution whatever their inputs weigh",
          warn = warned.add(l.getClass.getName))
        false
    }
  }

  /** Leaf classes reported once. */
  private val warned = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  private def leaves(plan: LogicalPlan): Seq[LeafNode] =
    plan.collectWithSubqueries { case l: LeafNode => l }

  private def leafBytes(leaf: LeafNode): Option[BigInt] = leaf match {
    case r: LogicalRelation => r.relation match {
      case fs: HadoopFsRelation => Some(BigInt(fs.location.sizeInBytes))
      case _ => None
    }
    case r: LocalRelation => Some(r.computeStats().sizeInBytes)
    case r: InMemoryRelation =>
      val sizes = leaves(r.cacheBuilder.logicalPlan).map(leafBytes)
      if (sizes.forall(_.isDefined)) Some(sizes.flatten.sum) else None
    case _ => None
  }

  /** What a small plan's clone sets over its session's conf: what AQE's
    * coalescing turns a small plan's shuffles into.
    */
  private val SmallConf = Map(
    SQLConf.ADAPTIVE_EXECUTION_ENABLED.key -> "false",
    SQLConf.SHUFFLE_PARTITIONS.key -> "1")

  /** session -> its small clone, the most recently used last. Bounded: a
    * streaming query runs on a session of its own, so a long-lived driver
    * restarting queries would otherwise keep every one.
    */
  private val MaxClones = 16
  private val clones = new java.util.LinkedHashMap[SparkSession, SparkSession](16, 0.75f, true) {
    override def removeEldestEntry(e: java.util.Map.Entry[SparkSession, SparkSession]): Boolean =
      size > MaxClones
  }

  /** The session whose conf a frame of `s` answers to: `s`, or the session
    * `s` is the small clone of.
    */
  private def homeOf(s: SparkSession): SparkSession = clones.synchronized {
    clones.asScala.collectFirst { case (home, clone) if clone eq s => home }.getOrElse(s)
  }

  /** `home`'s small clone, its conf first brought level with `home`'s. */
  private def smallSession(home: SparkSession): SparkSession = {
    val clone = clones.synchronized {
      Option(clones.get(home)).getOrElse {
        val c = Bridge.cloneSession(home)
        clones.put(home, c)
        c
      }
    }
    val want = home.sessionState.conf.getAllConfs ++ SmallConf
    val conf = clone.sessionState.conf
    val have = conf.getAllConfs
    if (have != want) {
      (have.keySet -- want.keySet).foreach(conf.unsetConf)
      want.foreach { case (k, v) => if (!have.get(k).contains(v)) conf.setConfString(k, v) }
    }
    clone
  }
}
