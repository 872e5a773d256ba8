package graft

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileContext, FileSystem}
import org.apache.spark.sql.SparkSession

import graft.sinks.{ForkFreeLocalFileSystem, ForkFreeLocalFs}

/** Session bootstrap shared by Verify / Bench / tests — the R20 analogue
  * (KafkaStreamsConfig.java:31-47): one place for engine configuration.
  */
object GraftSession {
  // `file:` bindings for Hadoop's two client APIs: FileSystem (parquet
  // reads/writes, artifact commits, Commit manifests) and FileContext
  // (Spark's default checkpoint file manager: offset/commit logs, state
  // deltas, checkpoint checksums). Without native Hadoop the stock classes
  // fork chmod/readlink/ls for every create, mkdir and status check.
  private val LocalFsKey = "spark.hadoop.fs.file.impl"
  private val LocalFileContextKey = "spark.hadoop.fs.AbstractFileSystem.file.impl"

  def builder(cpus: String): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      // Allow shuffled-hash join where its size conditions hold instead of
      // always sorting both sides (optimization-guide §3.1/§9): the planner
      // still gates the choice on the build side fitting a per-partition
      // hash map, so this is a strictly-cheaper plan when taken and a no-op
      // when not. The AQE threshold additionally rewrites an already-
      // planned sort-merge join to shuffled-hash at runtime when every
      // post-shuffle partition is under the advisory size — measured
      // partition sizes, not estimates, so it scales with the data rather
      // than the local core count. MEASURED at sf1 (plans/r22/
      // shj_ab_sf1.txt, three runs per side): the rewrite fires on
      // q5_nation_revenue, 2.17-2.45 s off -> 1.88-2.23 s on.
      // x13_salted_join also switches to SHJ but shows no gain there
      // (3.79-5.44 s off, 3.89-4.51 s on); joins whose sides stay large
      // keep SMJ.
      .config("spark.sql.join.preferSortMergeJoin", "false")
      .config("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold", "64m")
      .config("spark.ui.enabled", "false")
      // Producers have shipped events.ts as BOTH parquet TIMESTAMP(NANOS)
      // and TIMESTAMP(MICROS) across dump generations. Spark's reader rejects
      // NANOS outright, so read it as raw long nanos; Sources.fixNanos then
      // dispatches on the arriving type (long-nanos / timestamp / ntz) and
      // normalizes to session-TZ micros at the source boundary. This flag is
      // inert when the file is already MICROS.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config(LocalFsKey, classOf[ForkFreeLocalFileSystem].getName)
      .config(LocalFileContextKey, classOf[ForkFreeLocalFs].getName)

  // Default parallelism matches the driver environment contract (local[32]);
  // SPARK_GRAFT_CPUS overrides. shuffle.partitions tracks the core count —
  // 200 default partitions on a 32-thread single node is pure scheduling
  // overhead at these scales.
  def get(cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")): SparkSession = {
    val spark = builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    checkLocalFs(spark.sessionState.newHadoopConf())
    spark
  }

  /** Hadoop caches one FileSystem per scheme, authority and user — not per
    * conf — so a `file:` FileSystem created before this session (or a
    * session built elsewhere) wins over the binding above. Say so. */
  private[graft] def checkLocalFs(conf: Configuration): Unit = {
    val local = java.net.URI.create("file:///")
    Seq(
      (classOf[ForkFreeLocalFileSystem], FileSystem.get(local, conf).getClass),
      (classOf[ForkFreeLocalFs],
        FileContext.getFileContext(local, conf).getDefaultFileSystem.getClass)
    ).foreach { case (want, got) =>
      if (got != want)
        graft.observe.Fallbacks.record("graft_session.local_fs",
          s"file: resolves to ${got.getName}, not ${want.getName}: the stock " +
            "local filesystem forks a process per create, mkdir and status check")
    }
  }
}
