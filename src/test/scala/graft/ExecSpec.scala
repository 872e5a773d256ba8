package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, AQEShuffleReadExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

import graft.config.{PipelineSpec, TestdataCatalog}
import graft.pipeline.Interpreter
import graft.sinks.{BatchSink, DirProvisioner, Exec}
import graft.sources.ParquetSourceResolver

/** [[Exec.run]]: an action over inputs under the broadcast bar runs with
  * adaptive execution off and one shuffle partition; anything else runs
  * under the session conf. [[BatchSink.write]] goes through it only for a
  * maintenance verb's output.
  */
class ExecSpec extends SparkSuite {

  private val Bar = "spark.sql.autoBroadcastJoinThreshold"

  /** Whether `p` (commands, cached plans and subqueries included) plans
    * adaptively anywhere.
    */
  private def adaptive(p: SparkPlan): Boolean = p match {
    case _: AdaptiveSparkPlanExec => true
    case s: InMemoryTableScanExec => adaptive(s.relation.cachedPlan)
    case _ =>
      (p.children ++ p.subqueries ++ p.innerChildren.collect { case c: SparkPlan => c })
        .exists(adaptive)
  }

  /** The partition counts of `p`'s adaptive shuffle reads: what AQE made
    * of each shuffle it could coalesce.
    */
  private def shuffleReads(p: SparkPlan): Seq[Int] = p match {
    case a: AdaptiveSparkPlanExec => shuffleReads(a.executedPlan)
    case r: AQEShuffleReadExec => r.partitionSpecs.size +: shuffleReads(r.child)
    case s: QueryStageExec => shuffleReads(s.plan)
    case _ => (p.children ++ p.innerChildren.collect { case c: SparkPlan => c })
      .flatMap(shuffleReads)
  }

  /** (action, executed plan) of every query execution `body` ends, as a
    * listener on the session hears them — small actions run on a clone of
    * the session, whose executions reach the session's listeners.
    */
  private def plans(body: => Any): Seq[(String, SparkPlan)] = {
    val seen = new ConcurrentLinkedQueue[(String, SparkPlan)]()
    val l = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = {
        seen.add((f, qe.executedPlan)); ()
      }
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = {
        seen.add((f, qe.executedPlan)); ()
      }
    }
    org.apache.spark.graftbridge.ListenerBridge.drain(spark.sparkContext)
    spark.listenerManager.register(l)
    try { body; org.apache.spark.graftbridge.ListenerBridge.drain(spark.sparkContext) }
    finally spark.listenerManager.unregister(l)
    seen.asScala.toSeq
  }

  /** (action, adaptive) of every query execution `body` ends. */
  private def executions(body: => Any): Seq[(String, Boolean)] =
    plans(body).map { case (f, p) => (f, adaptive(p)) }

  private def withBar[T](bar: String)(body: => T): T = withConf(Bar, bar)(body)

  private def withConf[T](key: String, value: String)(body: => T): T = {
    val old = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try body finally old.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  /** A small parquet input and a shuffle-plus-write over it. */
  private lazy val input: String = {
    val p = tempDir("graft_exec") + "/in"
    spark.range(0, 2000).select(col("id"), (col("id") % 7).as("k")).write.parquet(p)
    p
  }
  private def grouped(): DataFrame =
    spark.read.parquet(input).groupBy("k").agg(sum("id").as("s"))
  private def write(df: DataFrame): Unit =
    df.write.mode("overwrite").parquet(tempDir("graft_exec_out") + "/o")

  test("a shuffle-plus-write below the broadcast bar runs as one job, not adaptively") {
    val df = grouped()
    var jobs = 0
    val runs = executions { jobs = jobsDuring(Exec.run(df)(write)) }
    assert(runs.nonEmpty && runs.forall(!_._2), runs.toString)
    assert(jobs == 1, s"$jobs jobs")
  }

  test("above the bar, at a bar of -1 and over a leaf of unknown size the action stays adaptive") {
    // today's job count: the same write outside the helper
    val df = grouped()
    val today = jobsDuring(write(df))
    withBar("100") {
      var jobs = 0
      val runs = executions { jobs = jobsDuring(Exec.run(df)(write)) }
      assert(runs.nonEmpty && runs.forall(_._2), runs.toString)
      assert(jobs == today, s"$jobs jobs, $today outside the helper")
    }
    withBar("-1") {
      val runs = executions(Exec.run(df)(write))
      assert(runs.nonEmpty && runs.forall(_._2), runs.toString)
    }
    // a LogicalRDD without origin statistics: unknown size, counted
    val raw = spark.read.parquet(input)
    val rdd = spark.createDataFrame(raw.rdd, raw.schema).groupBy("k").agg(sum("id").as("s"))
    val before = graft.observe.Fallbacks.count("exec.size_unknown")
    val runs = executions(Exec.run(rdd)(write))
    assert(runs.nonEmpty && runs.forall(_._2), runs.toString)
    assert(graft.observe.Fallbacks.count("exec.size_unknown") == before + 1)
  }

  test("a large action nested in a small action's scope runs under the session conf") {
    val tiny = spark.createDataFrame(Seq((1, "a"), (2, "b"))).toDF("x", "y")
    val large = grouped()
    // between the two: the tiny local frame fits, the parquet input does not
    withBar("1000") {
      var inner = Seq.empty[(String, Boolean)]
      val outer = executions {
        Exec.run(tiny) { t =>
          inner = executions(Exec.run(large)(write))
          write(t.groupBy("y").count())
        }
      }
      assert(inner.nonEmpty && inner.forall(_._2), inner.toString)
      assert(outer.filterNot(inner.contains).exists(!_._2), outer.toString)
    }
  }

  test("a pipeline output under the bar that grows before its shuffle keeps AQE's split of the shuffle") {
    // 2000 input rows, a few KB, become 400,000 distinct groups before the
    // aggregation's shuffle: a data-plane frame, not a verb's output
    def grows(): DataFrame = spark.read.parquet(input)
      .select(col("id"), explode(sequence(lit(1), lit(200))).as("r"))
      .groupBy("id", "r").count().withColumn(Interpreter.KeyCol, col("id"))
    val out = tempDir("graft_exec_grow")
    val topic = graft.config.OutputTopic(name = "grows")
    def write(df: DataFrame): Seq[SparkPlan] =
      plans(BatchSink.write(df, topic, out, new DirProvisioner(out))).map(_._2)
    // a 16 KB advisory partition size stands in for a shuffle of more than
    // the session's 64 MB
    withConf("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16k") {
      val data = write(grows())
      assert(data.nonEmpty && data.forall(adaptive), data.toString)
      val reads = data.flatMap(shuffleReads)
      assert(reads.exists(_ > 1), s"the aggregation's shuffle was read as $reads partitions")
      // the same frame as a maintenance verb's output: one partition, no AQE
      val verb = write(Exec.verbOutput(grows()))
      assert(verb.nonEmpty && verb.forall(!adaptive(_)), verb.toString)
    }
  }

  test("the daily-maintenance verbs run no action adaptively") {
    val data = sf()
    val dm = tempDir("graft_exec_dm")
    val docs = spark.read.parquet(s"$data/documents.parquet")
    graft.operators.Dedup.shingleIndex(docs.filter(col("doc_id") < 400), "doc_id", "text", 3)
      .write.mode("overwrite").parquet(s"$dm/doc_shingles")
    graft.operators.Drift.scalarSummary(
        spark.read.parquet(s"$data/events.parquet").filter(col("user_id") < 8),
        Seq("value"), Seq("event_type"))
      .write.mode("overwrite").parquet(s"$dm/event_stats")
    val yaml = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("examples/daily_maintenance.yml")), "UTF-8")
      .replace("/tmp/graft_examples/dm", dm).replace("<dataDir>", data)
    val specs = PipelineSpec.listFromYaml(yaml).map(s => s.id -> s).toMap
    val resolver = new ParquetSourceResolver(data, TestdataCatalog)
    val out = tempDir("graft_exec_dm_out")
    // build, append, delete, filtered search, screen, publish, retract,
    // both compacts and the scalar monitor
    val order = Seq("crawl-build-index", "daily-ingest-vectors", "takedown-vectors",
      "serve-filtered-search", "daily-screen-ingest", "daily-publish-survivors",
      "takedown-docs", "weekly-index-compact", "weekly-shingle-compact",
      "daily-scalar-monitor")
    def run(id: String): Int = {
      var n = 0
      val runs = executions { n = jobsDuring(BatchSink.write(
        Interpreter.build(spark, specs(id), resolver),
        specs(id).outputTopic.get, out, new DirProvisioner(out))) }
      assert(runs.nonEmpty, id)
      assert(runs.forall(!_._2), s"$id ran adaptively: $runs")
      n
    }
    val jobs = order.map(id => id -> run(id)).toMap
    // the screen again, against the history its first run found plain and
    // the verbs since have adopted, appended to, retracted from and
    // compacted: the steady state of a daily screen
    val screenJobs = run("daily-screen-ingest")
    info(s"jobs per verb, report write included: $jobs; steady screen $screenJobs")
    // a transform other than a filter ahead of the verb: the verb's input
    // is the data plane's, and its actions and output write keep the
    // session conf
    val monitor = specs("daily-scalar-monitor")
    val prefixed = monitor.copy(transform =
      graft.config.TransformOp.RedactPii(column = Some("event_type")) +: monitor.transform)
    val prefixedRuns = executions(BatchSink.write(Interpreter.build(spark, prefixed, resolver),
      prefixed.outputTopic.get, out, new DirProvisioner(out)))
    assert(prefixedRuns.size > 1 && prefixedRuns.forall(_._2),
      s"the prefixed monitor ran an action without AQE: $prefixedRuns")
    // measured with every action one job plus its broadcasts: the delete's
    // tombstone write (the tombstone set's broadcast into the live read),
    // the search's staleness and selectivity counts and its broadcasts, the
    // screen's three broadcasts and its write
    assert(jobs("takedown-vectors") <= DeleteJobs &&
      jobs("serve-filtered-search") <= SearchJobs && screenJobs <= ScreenJobs,
      s"knn_index_delete ran ${jobs("takedown-vectors")} jobs (pin $DeleteJobs), " +
        s"filtered knn ${jobs("serve-filtered-search")} ($SearchJobs), " +
        s"dedup_near historyPath screen $screenJobs ($ScreenJobs)")
  }
  private val DeleteJobs = 3
  private val SearchJobs = 6
  private val ScreenJobs = 4
}
