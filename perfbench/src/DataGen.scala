package perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic fixture tables with the schemas of the project's test data
  * (FIXTURES.md §A) that the workloads read: events, documents and
  * embeddings. Every value is a pure function of (table, row id, column), via
  * xxhash64, so the files are identical whatever the partitioning. The
  * generator seed is fixed: a workload's `--seed` never changes the tables,
  * only what the workload derives from them (arrival order, day slices,
  * takedown ids).
  *
  * Row counts follow the project's scale factors: at sf 0.1 events has
  * 100k rows, documents 5k and embeddings 2k.
  */
object DataGen {
  val Version = "2"
  private val GenSeed = 42L

  /** Uniform double in [0, 1) from (salt, id, extra...). */
  private def u(salt: String, id: Column, extra: Column*): Column =
    pmod(xxhash64((lit(GenSeed) +: lit(salt) +: id +: extra): _*),
      lit(1000003L)).cast("double") / 1000003.0

  private def pick(values: Seq[String], x: Column): Column =
    element_at(array(values.map(lit): _*), (floor(x * values.size) + 1).cast("int"))

  private val Vocab = Seq("batch", "part", "spark", "line", "column", "order",
    "small", "sort", "fast", "value", "scan", "a", "hash", "slow", "group",
    "agg", "filter", "query", "big", "key", "window", "row", "table", "stream",
    "merge", "data", "the", "vector", "join", "customer", "index", "state")

  def generate(spark: SparkSession, sf: Double, dir: String): Unit = {
    val done = Paths.get(dir, "_DONE")
    if (Files.exists(done)) return
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    def n(base: Double, floor0: Long) = math.max(floor0, math.round(base * sf / 0.1))
    def write(name: String, df: DataFrame, files: Int): Unit =
      df.repartition(files).sortWithinPartitions(df.columns.head)
        .write.mode("overwrite").parquet(s"$dir/$name.parquet")

    val nEvents = n(100000, 1000)
    val nUsers = n(1500, 15)
    val nDocs = n(5000, 1500)
    val nVecs = n(2000, 1000)
    val id = col("id")

    // events: ascending ts over 30 days with sub-step jitter, so event_id
    // order and ts order agree
    val stepUs = 30L * 86400L * 1000000L / nEvents
    write("events", spark.range(0, nEvents).select(
      id.as("event_id"),
      timestamp_micros(lit(1704067200000000L) + id * stepUs +
        floor(u("et", id) * (stepUs - 1)).cast("long")).as("ts"),
      floor(u("eu", id) * nUsers).cast("long").as("user_id"),
      pick(Seq("view", "click", "purchase", "signup", "error"), u("ey", id)).as("event_type"),
      round(u("ev", id) * 200, 2).as("value"),
      format_string("{\"k\": %d}", floor(u("ek", id) * 100).cast("int")).as("props")), 1)

    // documents: 10..80 tokens from a 32-word vocabulary; one in six is a
    // one-token edit of an earlier document (near-duplicate at 3-shingles)
    val dupOf = when(u("dd", id) < 1.0 / 6 && id >= 10,
      id - 1 - floor(u("db", id) * 9).cast("long")).otherwise(id)
    val len = floor(u("dl", col("src")) * 71).cast("int") + 10
    val editAt = floor(u("dp", id) * col("len")).cast("int")
    val token = (i: Column) => element_at(array(Vocab.map(lit): _*),
      (floor(when(i === col("editAt") && col("src") =!= id, u("dx", id))
        .otherwise(u("dw", col("src"), i)) * Vocab.size) + 1).cast("int"))
    val text = array_join(transform(sequence(lit(0), col("len") - 1), i => token(i)), " ")
    write("documents", spark.range(0, nDocs)
      .withColumn("src", dupOf).withColumn("len", len).withColumn("editAt", editAt)
      .select(id.as("doc_id"), text.as("text"),
        pick(Seq("en", "de", "fr", "es", "zh"), u("dg", id)).as("lang"),
        concat(lit("src"), floor(u("dr", id) * 20).cast("int")).as("source"))
      .withColumn("n_chars", length(col("text")).cast("long")), 1)

    // embeddings: 64-dim, ten labelled clusters plus per-vector noise
    val label = floor(u("el", id) * 10).cast("int")
    val emb = transform(sequence(lit(0), lit(63)), i =>
      (u("ec", label.cast("long"), i) * 2 - 1 +
        (u("en1", id, i) + u("en2", id, i) + u("en3", id, i) - 1.5) * 0.6).cast("float"))
    write("embeddings", spark.range(0, nVecs).select(
      id.as("vec_id"), emb.as("embedding"), label.as("label")), 1)
    Files.write(done, Version.getBytes)
  }
}
