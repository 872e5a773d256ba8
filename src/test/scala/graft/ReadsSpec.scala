package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.config.{TestdataCatalog, TopicConfig}
import graft.operators.{Dedup, ShingleHistory, Similarity}
import graft.sinks.{BatchSink, Commit, Generations, Reads}

/** The engine's one parquet reader (`graft.sinks.Reads`): every schema it
  * passes equals what `spark.read.parquet` infers — field order, types and
  * nullability — and returns the same rows; a changed file is never read
  * under a stale schema; an unchanged artifact resolves without a job.
  */
class ReadsSpec extends SparkSuite {

  private def fs = new Path("/").getFileSystem(spark.sparkContext.hadoopConfiguration)
  private def emb = spark.read.parquet(s"${sf()}/embeddings.parquet")
  private def docs = spark.read.parquet(s"${sf()}/documents.parquet")

  private def sortedJson(df: DataFrame): Seq[String] = df.toJSON.collect().toSeq.sorted

  private def assertSameRead(what: String, known: StructType, mine: DataFrame,
      plain: DataFrame): Unit = {
    assert(known == plain.schema, s"$what: passed\n${known.treeString}\n" +
      s"inferred\n${plain.schema.treeString}")
    assert(mine.schema == plain.schema && sortedJson(mine) == sortedJson(plain), what)
  }

  /** The committed data (and active tombstone) generations of `l`, read
    * under the manifest's schema, against a plain inferring read.
    */
  private def assertGenParity(l: Generations.Layout, f: Generations.Fence,
      what: String): Unit = {
    assert(f.schema.isDefined, s"$what: the manifest records no schema")
    def check(dir: String, lo: Int, hi: Int, schema: StructType): Unit = {
      val paths = (lo to hi).map(g => s"$dir/gen=$g").filter(p => fs.exists(new Path(p)))
      val opts = Map("basePath" -> dir)
      assertSameRead(s"$what $dir", schema, Reads.known(spark, schema, paths, opts),
        spark.read.options(opts).parquet(paths: _*))
    }
    val data = Generations.dataSchema(spark, l, f)
    check(l.data, f.base_gen, f.generation, data)
    if (f.tombsActive) check(l.tombs, f.tomb_base, f.tomb_gen, Generations.tombSchema(data))
  }

  private def knnLayout(p: String) =
    Generations.Layout(s"$p/index.parquet", s"$p/tombstones.parquet")
  private def assertKnnParity(p: String, what: String): Unit =
    assertGenParity(knnLayout(p), Similarity.readIndexMeta(spark, p).fence, what)

  private def historyManifest(p: String): ShingleHistory.Manifest =
    Commit.readManifest(fs, new Path(p), classOf[ShingleHistory.Manifest]).get._2
  private def assertShingleParity(p: String, what: String): Unit =
    assertGenParity(Generations.Layout(p, s"$p/_tombstones"),
      historyManifest(p).fence, what)

  test("knn postings and tombstones: the manifest schema equals Spark's inference after build, append, delete and compact, for every method and leaf layout") {
    // (method, nested): at this size every index stays flat under the
    // default rows-per-leaf bar; a bar of 1 nests ivf's cell directories
    Seq(("quantized", false), ("ivf", true), ("ivf", false), ("lsh", false)).foreach {
        case (method, nested) =>
      val p = tempDir(s"graft_reads_knn_$method${if (nested) "_nested" else ""}") + "/idx"
      if (nested) spark.conf.set("spark.graft.knn.partitionMinRowsPerLeaf", "1")
      try Similarity.buildIndex(emb.filter(col("vec_id") < 60), "vec_id", "embedding",
        method, p, nCells = 4, nTables = 2, planesPerTable = 2,
        attributeColumns = Seq("label"))
      finally spark.conf.unset("spark.graft.knn.partitionMinRowsPerLeaf")
      assertKnnParity(p, s"$method build")
      // the postings schema does not depend on the leaf layout
      if (method == "ivf")
        assert(Generations.dataSchema(spark, knnLayout(p), Similarity.readIndexMeta(spark, p)
          .fence)("cell").dataType == org.apache.spark.sql.types.IntegerType, s"nested=$nested")
      Similarity.appendIndex(emb.filter(col("vec_id") >= 60 && col("vec_id") < 80),
        "vec_id", "embedding", p)
      assertKnnParity(p, s"$method append")
      Similarity.deleteIndex(emb.filter(col("vec_id") < 3), "vec_id", p)
      assert(Similarity.readIndexMeta(spark, p).fence.tombsActive)
      assertKnnParity(p, s"$method delete")
      Similarity.compactIndex(spark, p)
      assertKnnParity(p, s"$method compact")
    }
    // a per-category family's one-pass sub-indexes record their own schema
    val fam = tempDir("graft_reads_knn_family") + "/idx"
    Similarity.buildIndex(emb.filter(col("label") < 3), "vec_id", "embedding",
      "quantized", fam, attributeColumns = Seq("label"),
      partitionByAttribute = Some("label"))
    val values = Similarity.readIndexMeta(spark, fam).part_values.get
    assert(values.nonEmpty)
    values.foreach(v => assertKnnParity(Similarity.subIndexPath(fam, v), s"family sub $v"))
  }

  test("shingle generations and tombstones: the manifest schema equals Spark's inference after adoption, append, retract and compact") {
    val p = tempDir("graft_reads_shingle") + "/hist.parquet"
    Dedup.shingleIndex(docs.filter(col("doc_id") < 30), "doc_id", "text", 3)
      .write.parquet(p)
    ShingleHistory.compact(spark, p, retainFolded = false, "reads") // adopts only
    assertShingleParity(p, "adoption")
    ShingleHistory.append(docs.filter(col("doc_id") >= 30 && col("doc_id") < 45),
      "doc_id", "text", 3, p, "reads")
    assertShingleParity(p, "append")
    ShingleHistory.retract(docs.filter(col("doc_id") < 3), "doc_id", p, "reads")
    assert(historyManifest(p).fence.tombsActive)
    assertShingleParity(p, "retract")
    ShingleHistory.compact(spark, p, retainFolded = false, "reads")
    assertShingleParity(p, "compact")
  }

  test("the flat snapshot store reads back without a job under the schema each upsert and compaction installed") {
    val p = tempDir("graft_reads_snap") + "/snap"
    def batch(ks: Range, ver: Long) =
      spark.createDataFrame(ks.map(k => (k.toLong, ver, s"v$k$ver"))).toDF("k", "ver", "v")
    def parity(what: String): Unit = {
      var df: DataFrame = null
      assert(jobsDuring { df = Reads.parquet(spark, p) } == 0, what)
      assertSameRead(what, df.schema, df, spark.read.parquet(p))
    }
    batch(0 until 20, 1L).repartition(4).write.parquet(p)
    assert(BatchSink.compactSnapshot(spark, p) > 0)
    parity("compaction")
    BatchSink.upsertSnapshot(spark, p, batch(10 until 30, 2L), Seq("k"), Seq("ver"))
    parity("upsert")
    // schema evolution: the batch gains a column, the rewrite widens
    BatchSink.upsertSnapshot(spark, p, batch(25 until 40, 3L).withColumn("w", lit(1.5)),
      Seq("k"), Seq("ver"))
    assert(Reads.parquet(spark, p).columns.contains("w"))
    parity("widening upsert")
  }

  test("a stats artifact or source file replaced out of band with an extra column shows it on the next read") {
    val dir = tempDir("graft_reads_stale")
    val stats = s"$dir/stats.parquet"
    spark.range(5).select(col("id"), (col("id") * 2).as("v")).write.parquet(stats)
    assert(Reads.parquet(spark, stats).columns.toSeq == Seq("id", "v"))
    assert(jobsDuring(Reads.parquet(spark, stats)) == 0) // unchanged: memo hit
    spark.range(5).select(col("id"), (col("id") * 2).as("v"), lit("x").as("extra"))
      .write.mode("overwrite").parquet(stats)
    assertSameRead("replaced stats", Reads.parquet(spark, stats).schema,
      Reads.parquet(spark, stats), spark.read.parquet(stats))
    assert(Reads.parquet(spark, stats).columns.toSeq == Seq("id", "v", "extra"))
    // a single-file topic overwritten in place, its mtime kept
    def partFile(df: DataFrame): java.nio.file.Path = {
      val out = tempDir("graft_reads_part")
      df.coalesce(1).write.mode("overwrite").parquet(s"$out/d")
      java.nio.file.Files.list(java.nio.file.Paths.get(s"$out/d")).toArray
        .map(_.asInstanceOf[java.nio.file.Path])
        .find(_.getFileName.toString.endsWith(".parquet")).get
    }
    val topicFile = java.nio.file.Paths.get(s"$dir/t.parquet")
    java.nio.file.Files.copy(partFile(spark.range(3).toDF("id")), topicFile)
    val resolver = new graft.sources.ParquetSourceResolver(dir, TestdataCatalog)
    assert(resolver.stream(spark, TopicConfig("t")).columns.toSeq == Seq("id"))
    val mtime = java.nio.file.Files.getLastModifiedTime(topicFile)
    java.nio.file.Files.copy(partFile(spark.range(3).toDF("id").withColumn("c", lit(7))),
      topicFile, java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    java.nio.file.Files.setLastModifiedTime(topicFile, mtime)
    val after = resolver.stream(spark, TopicConfig("t"))
    assert(after.columns.toSeq == Seq("id", "c") && after.collect().forall(_.getInt(1) == 7))
  }

  test("resolving a frame over an unchanged knn index, a maintained shingle history, a stats artifact and a source topic launches no Spark job") {
    val dir = tempDir("graft_reads_zero")
    val knn = s"$dir/idx"
    Similarity.buildIndex(emb.filter(col("vec_id") < 40), "vec_id", "embedding",
      "quantized", knn)
    Similarity.deleteIndex(emb.filter(col("vec_id") < 2), "vec_id", knn)
    val hist = s"$dir/hist.parquet"
    Dedup.shingleIndex(docs.filter(col("doc_id") < 20), "doc_id", "text", 3)
      .write.parquet(hist)
    ShingleHistory.retract(docs.filter(col("doc_id") < 2), "doc_id", hist, "zero")
    val stats = s"$dir/stats.parquet"
    graft.operators.Drift.scalarSummary(emb, Seq("vec_id"), Seq("label"))
      .write.parquet(stats)
    val resolver = new graft.sources.ParquetSourceResolver(sf(), TestdataCatalog)
    def resolve(): Unit = {
      Similarity.livePostings(spark, knn, Similarity.readIndexMeta(spark, knn))
      ShingleHistory.screenRows(spark, hist, 3, "zero")
      Reads.parquet(spark, stats)
      resolver.stream(spark, TopicConfig("events"))
      ()
    }
    resolve() // a plain-parquet read infers once
    assert(jobsDuring(resolve()) == 0)
  }

  /** Drop the schema key from the newest manifest at `root`, as an engine
    * before the key existed wrote it.
    */
  private def stripSchema(root: String, parent: String): Unit = {
    val dir = Commit.manifestDir(new Path(root))
    val newest = fs.listStatus(dir).map(_.getPath)
      .filter(_.getName.matches("\\d+\\.json")).maxBy(_.getName.stripSuffix(".json").toLong)
    val tree = scala.util.Using.resource(fs.open(newest))(in =>
      Commit.json.readTree(in: java.io.InputStream))
    tree.get(parent).asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
      .remove("schema")
    scala.util.Using.resource(fs.create(newest, true))(out =>
      Commit.json.writeValue(out: java.io.OutputStream, tree))
  }

  test("a manifest written without the schema key reads the same rows by inference, counts each read, and its next commit records the key") {
    val site = "reads.schema_inferred"
    val dir = tempDir("graft_reads_legacy")
    val knn = s"$dir/idx"
    Similarity.buildIndex(emb.filter(col("vec_id") < 40), "vec_id", "embedding",
      "quantized", knn)
    Similarity.deleteIndex(emb.filter(col("vec_id") < 2), "vec_id", knn)
    val knnRows = sortedJson(Similarity.livePostings(spark, knn,
      Similarity.readIndexMeta(spark, knn)))
    stripSchema(knn, "meta")
    val legacy = Similarity.readIndexMeta(spark, knn)
    assert(legacy.schema.isEmpty)
    val k0 = graft.observe.Fallbacks.count(site)
    assert(sortedJson(Similarity.livePostings(spark, knn, legacy)) == knnRows)
    assert(graft.observe.Fallbacks.count(site) > k0)
    Similarity.appendIndex(emb.filter(col("vec_id") >= 40 && col("vec_id") < 50),
      "vec_id", "embedding", knn)
    assert(Similarity.readIndexMeta(spark, knn).schema.isDefined)
    assertKnnParity(knn, "legacy knn after append")

    val hist = s"$dir/hist.parquet"
    Dedup.shingleIndex(docs.filter(col("doc_id") < 20), "doc_id", "text", 3)
      .write.parquet(hist)
    ShingleHistory.retract(docs.filter(col("doc_id") < 2), "doc_id", hist, "legacy")
    val histRows = sortedJson(ShingleHistory.screenRows(spark, hist, 3, "legacy"))
    stripSchema(hist, "fence")
    assert(historyManifest(hist).fence.schema.isEmpty)
    val s0 = graft.observe.Fallbacks.count(site)
    assert(sortedJson(ShingleHistory.screenRows(spark, hist, 3, "legacy")) == histRows)
    assert(graft.observe.Fallbacks.count(site) > s0)
    ShingleHistory.append(docs.filter(col("doc_id") >= 20 && col("doc_id") < 30),
      "doc_id", "text", 3, hist, "legacy")
    assert(historyManifest(hist).fence.schema.isDefined)
    assertShingleParity(hist, "legacy history after append")
  }
}
