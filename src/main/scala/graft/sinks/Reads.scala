package graft.sinks

import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{ByteType, DataType, IntegerType, LongType, ShortType, StructType}

/** The engine's one parquet reader. `spark.read.parquet(p)` resolves its
  * schema with a Spark job (`mergeSchemasInParallel` opens a footer on an
  * executor even with `mergeSchema` off) — on a small batch that job costs
  * more than the read it prepares. Every engine read passes the schema
  * whenever it is already known:
  *
  *  - [[known]]: the caller holds it — a generation-protocol artifact's
  *    committed manifest ([[Generations.Fence]]`.schema`);
  *  - [[parquet]]: a process-wide memo of Spark's OWN inference, keyed by
  *    the read (paths and options) and checked against the exact recursive
  *    listing signature (path, length and mtime of every file Spark would
  *    list) plus the session's parquet-inference confs. A miss — first
  *    read, any file changed, added or removed, a conf changed — infers
  *    exactly as `spark.read.parquet` does and replaces the entry;
  *  - [[remember]]: a writer installing a directory records the schema it
  *    wrote under the installed listing, so its own next read is a hit.
  *
  * A `mergeSchema` read is never memoized: it exists to see every file.
  */
object Reads {

  /** Read `paths` under a schema the caller already holds: no inference. */
  def known(spark: SparkSession, schema: StructType, paths: Seq[String],
      options: Map[String, String] = Map.empty): DataFrame =
    spark.read.schema(schema).options(options).parquet(paths: _*)

  /** `spark.read.options(options).parquet(paths)`, job-free when the exact
    * listing was read (or written by [[remember]]) before.
    */
  def parquet(spark: SparkSession, paths: Seq[String],
      options: Map[String, String] = Map.empty): DataFrame =
    if (options.get("mergeSchema").exists(_.toBoolean))
      spark.read.options(options).parquet(paths: _*)
    else {
      val key = (paths, options)
      // listed BEFORE inferring: a file landing in between makes the entry
      // a miss next time, never a stale hit
      val stamp = Stamp(listing(spark, paths), inferenceConfs(spark))
      Option(memo.get(key)).filter(_._1 == stamp) match {
        case Some((_, schema)) => known(spark, schema, paths, options)
        case None =>
          val df = spark.read.options(options).parquet(paths: _*)
          cappedPut(memo, key, (stamp, df.schema))
          df
      }
    }

  def parquet(spark: SparkSession, path: String): DataFrame =
    parquet(spark, Seq(path))

  /** A writer's record of the schema it just installed at `path` (a plain
    * read of `path` would infer it): the next [[parquet]] read of `path`
    * is a hit while the listing stays the one installed.
    */
  def remember(spark: SparkSession, path: String, written: StructType): Unit =
    cappedPut(memo, (Seq(path), Map.empty[String, String]), (Stamp(listing(spark, Seq(path)),
      inferenceConfs(spark)), readBack(written, Nil)))

  /** The schema Spark reads back from a parquet write of `written`
    * partitioned by `partitionCols`: the data columns (Spark keeps the
    * written schema in each file's footer) then the partition columns in
    * directory order, every field nullable. The engine partitions only by
    * small non-negative integers (generation, cell, table, bucket), which
    * directory-value inference reads as int whatever integral type wrote
    * them.
    */
  def readBack(written: StructType, partitionCols: Seq[String]): StructType =
    Bridge.asNullable(StructType(
      written.filterNot(f => partitionCols.contains(f.name)) ++
        partitionCols.map { c =>
          require(Seq(ByteType, ShortType, IntegerType, LongType).contains(written(c).dataType),
            s"partition column $c is ${written(c).dataType}, not a small integer")
          written(c).copy(dataType = IntegerType)
        }))

  def fromJson(s: String): StructType = DataType.fromJson(s).asInstanceOf[StructType]

  // ------------------------------------------------------------- the memo

  private case class Stamp(files: Seq[(String, Long, Long)], confs: Map[String, String])

  /** One entry per read (paths, options); a miss costs one inference job. */
  private val memo =
    new ConcurrentHashMap[(Seq[String], Map[String, String]), (Stamp, StructType)]

  /** The bound of the engine's driver-side memo maps (this reader's, the
    * knn index meta and selectivity memos): a long-lived driver serving
    * many paths must not grow them forever. The bound is a crude
    * clear-on-full rather than an LRU — each entry is a memo whose miss
    * costs one small job or listing, so a rare full flush is cheaper than
    * per-hit bookkeeping.
    */
  private val MemoMaxEntries = 1024
  private[graft] def cappedPut[K, V](m: ConcurrentHashMap[K, V], k: K, v: V): Unit = {
    if (m.size >= MemoMaxEntries) m.clear()
    m.put(k, v)
    ()
  }

  /** Session confs parquet schema inference reads. */
  private def inferenceConfs(spark: SparkSession): Map[String, String] =
    spark.conf.getAll.filter { case (k, _) =>
      k.startsWith("spark.sql.parquet.") || k.startsWith("spark.sql.legacy.parquet.") ||
        k == "spark.sql.caseSensitive" || k.startsWith("spark.sql.files.") ||
        k == "spark.sql.sources.partitionColumnTypeInference.enabled"
    }

  /** The names Spark's file index skips (InMemoryFileIndex): hidden `_`/`.`
    * entries except partition directories and parquet summary files.
    */
  private def listed(name: String): Boolean =
    !(((name.startsWith("_") && !name.contains("=")) || name.startsWith(".") ||
      name.endsWith("._COPYING_")) &&
      !name.startsWith("_common_metadata") && !name.startsWith("_metadata"))

  /** (path, length, mtime) of every file a read of `paths` would list —
    * globs expanded, directories walked; an absent path lists nothing (the
    * read then fails as it always did).
    */
  private def listing(spark: SparkSession, paths: Seq[String]): Seq[(String, Long, Long)] = {
    val conf = spark.sessionState.newHadoopConf()
    def walk(fs: FileSystem, st: FileStatus): Seq[(String, Long, Long)] =
      if (st.isDirectory)
        fs.listStatus(st.getPath).toSeq.filter(c => listed(c.getPath.getName))
          .sortBy(_.getPath.getName).flatMap(walk(fs, _))
      else Seq((st.getPath.toString, st.getLen, st.getModificationTime))
    paths.flatMap { p =>
      val path = new Path(p)
      val fs = path.getFileSystem(conf)
      Option(fs.globStatus(path)).fold(Seq.empty[(String, Long, Long)])(
        _.toSeq.flatMap(walk(fs, _)))
    }
  }
}
