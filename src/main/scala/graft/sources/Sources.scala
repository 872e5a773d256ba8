package graft.sources

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.config.{SchemaCatalog, TopicConfig}

/** Source abstraction — the Spark-native equivalent of the reference's three
  * source shapes (SURVEY.md §2A R1–R3):
  *
  *  - `stream`      ≅ KStream from topic (DynamicTopologyBuilder.java:83-86)
  *  - `table`       ≅ KTable latest-per-key view (KTableRegistry.java:41-50)
  *  - `globalTable` ≅ GlobalKTable broadcast lookup (KTableRegistry.java:52-57)
  *
  * One trait, two implementations: parquet batch (the correctness oracle) and
  * Kafka Structured Streaming (graft.streaming.KafkaSources). All pipeline
  * logic is written against the trait so the same spec runs either way.
  */
trait SourceResolver {
  def stream(spark: SparkSession, topic: TopicConfig): DataFrame
  def table(spark: SparkSession, topic: TopicConfig): DataFrame
  def globalTable(spark: SparkSession, topic: TopicConfig): DataFrame =
    broadcast(table(spark, topic))
  def catalog: SchemaCatalog
  /** Base directory spec-level path fields (`queryPath`, `benchPath`,
    * `snapshotPath`, `comparePath`) may reference via the literal `<dataDir>` placeholder —
    * lets checked-in example configs stay environment-portable (the
    * round-13 review flagged an example hard-coding one machine's absolute
    * fixture path). None when the resolver has no filesystem base (Kafka).
    */
  def dataDir: Option[String] = None
}

/** The batch resolvers' table view: latest-per-key over the topic's
  * stream by the catalog's explicit order columns (FIXTURES.md §C) —
  * never file order; a topic without order columns is key-unique dims and
  * its view is the scan itself (no window shuffle — a dimension load must
  * not pay one at 100 TB). Memoized per topic, like KTableRegistry's
  * ConcurrentHashMap dedup (KTableRegistry.java:26-30): repeated
  * references share one DataFrame, so Catalyst sees one scan it can reuse.
  */
trait LatestPerKeyTables extends SourceResolver {
  private val tables = TrieMap.empty[String, DataFrame]

  override def table(spark: SparkSession, topic: TopicConfig): DataFrame =
    tables.getOrElseUpdate(topic.name, {
      val df = stream(spark, topic)
      val order = catalog.orderOf(topic.name)
      if (order.isEmpty) df
      else Tables.latestPerKey(df, catalog.keyOf(topic.name), order)
    })
}

/** Batch resolver over the driver-provisioned parquet tables; table views
  * are latest-per-key ([[LatestPerKeyTables]] — the reference's KTable is
  * last-write-wins per key, KTableRegistry.java:48).
  */
class ParquetSourceResolver(dir: String, val catalog: SchemaCatalog) extends LatestPerKeyTables {
  override def dataDir: Option[String] = Some(dir)
  def path(name: String) = s"$dir/$name.parquet"

  private def fixNanos(df: DataFrame, topicName: String): DataFrame =
    Sources.fixNanos(df, catalog, topicName)

  /** Raw (pre-conversion) schema of a topic's files — what a file-stream
    * reader must declare (nanos columns appear as LongType under
    * spark.sql.legacy.parquet.nanosAsLong).
    */
  def rawSchema(spark: SparkSession, topic: TopicConfig): org.apache.spark.sql.types.StructType =
    raw(spark, topic).schema

  /** The topic's files as they are; re-resolving an unchanged topic reuses
    * its inferred schema ([[graft.sinks.Reads]]).
    */
  private def raw(spark: SparkSession, topic: TopicConfig): DataFrame =
    graft.sinks.Reads.parquet(spark, path(topic.name))

  override def stream(spark: SparkSession, topic: TopicConfig): DataFrame =
    fixNanos(raw(spark, topic), topic.name)
}

/** Batch resolver over JSONL topic dumps (`<dir>/<topic>.jsonl`) — the
  * migration-path source: the reference's records ARE JSON on Kafka, so a
  * topic dump replayed through this resolver runs every existing spec
  * unchanged against files. Schema must be declared per topic (JSON carries
  * no types; schema-on-read inference would silently widen longs/doubles and
  * break serde fidelity) — pass the same `StructType`s the Kafka resolver
  * uses. Table views apply the identical latest-per-key convention as the
  * parquet resolver.
  */
class JsonSourceResolver(dir: String, val catalog: SchemaCatalog,
    schemas: Map[String, org.apache.spark.sql.types.StructType],
    // the deserialization-failure posture at the source boundary (R16):
    // "PERMISSIVE" (default) is the lenient Jackson analogue — malformed
    // records read as null fields (SerdeFactory.java:30); "FAILFAST"
    // matches the reference's throw posture (JsonStringToObjectMapper
    // .java:46-55 / SerdeFactory.java:208) — the read RAISES on the first
    // malformed record instead of silently nulling a corrupt ingest
    parseMode: String = "PERMISSIVE") extends LatestPerKeyTables {
  require(Set("PERMISSIVE", "FAILFAST")(parseMode),
    s"JsonSourceResolver parseMode '$parseMode' unknown (PERMISSIVE — " +
      "malformed records read as null fields; FAILFAST — the read raises " +
      "on the first malformed record)")
  override def dataDir: Option[String] = Some(dir)
  def path(name: String) = s"$dir/$name.jsonl"

  override def stream(spark: SparkSession, topic: TopicConfig): DataFrame = {
    val schema = schemas.getOrElse(topic.name,
      throw new IllegalArgumentException(s"no schema declared for JSON topic ${topic.name}"))
    // default posture: lenient Jackson (SerdeFactory.java:30) — unknown
    // fields dropped by the schema projection, missing/malformed fields →
    // null (PERMISSIVE); FAILFAST opts into the reference's throw posture
    spark.read.schema(schema)
      .option("mode", parseMode)
      // Spark's default JSON timestamp format is millisecond-precision —
      // a dump written with it silently truncates micros. Dumps must be
      // written with the same microsecond format (JsonSourceResolver
      // .TimestampFormat) or serde fidelity is lost.
      .option("timestampFormat", JsonSourceResolver.TimestampFormat)
      .json(path(topic.name))
  }
}

object JsonSourceResolver {
  /** Microsecond-precision timestamp format for JSONL dumps — use on BOTH
    * the write (`df.write.option("timestampFormat", ...)`) and read side.
    */
  val TimestampFormat = "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX"
}

/** Run pipeline specs over headered CSV topic dumps (`<dir>/<name>.csv`) —
  * the third batch interchange format next to parquet and JSONL, for
  * reference users whose topic archives are spreadsheet-era exports. Same
  * declared-schema posture as [[JsonSourceResolver]]: the catalog schema is
  * authoritative (no inference — inference flips empty/all-null columns to
  * string and reorders nothing deterministically), PERMISSIVE parsing maps
  * malformed fields to null (the reference's lenient-Jackson analogue), and
  * timestamps round-trip at microsecond precision via the shared format.
  */
class CsvSourceResolver(dir: String, val catalog: SchemaCatalog,
    schemas: Map[String, org.apache.spark.sql.types.StructType],
    // same deserialization-failure posture dial as [[JsonSourceResolver]]
    parseMode: String = "PERMISSIVE") extends LatestPerKeyTables {
  require(Set("PERMISSIVE", "FAILFAST")(parseMode),
    s"CsvSourceResolver parseMode '$parseMode' unknown (PERMISSIVE or " +
      "FAILFAST)")
  override def dataDir: Option[String] = Some(dir)
  def path(name: String) = s"$dir/$name.csv"

  override def stream(spark: SparkSession, topic: TopicConfig): DataFrame = {
    val schema = schemas.getOrElse(topic.name,
      throw new IllegalArgumentException(s"no schema declared for CSV topic ${topic.name}"))
    spark.read.schema(schema)
      .option("header", "true")
      .option("timestampFormat", JsonSourceResolver.TimestampFormat)
      .option("mode", parseMode)
      .csv(path(topic.name))
  }
}

/** Run pipeline specs over ORC topic dumps (`<dir>/<name>.orc`) — the
  * columnar interchange sibling of the parquet resolver, for reference
  * users whose archives live in ORC warehouses (Hive-era lakes). ORC is
  * self-describing, so unlike CSV/JSONL no declared schema is required:
  * file schema is authoritative, and predicate pushdown + column pruning
  * work exactly as for parquet (orc-core ships inside spark-sql). ORC's
  * TIMESTAMP is microsecond-safe on both sides of the write, so the
  * parquet nanos workaround does not apply here.
  */
class OrcSourceResolver(dir: String, val catalog: SchemaCatalog) extends LatestPerKeyTables {
  override def dataDir: Option[String] = Some(dir)
  def path(name: String) = s"$dir/$name.orc"

  override def stream(spark: SparkSession, topic: TopicConfig): DataFrame =
    spark.read.orc(path(topic.name))
}

object Sources {
  import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

  /** Normalize catalog-declared timestamp columns
    * (TopicSchema.nanosTimestampColumns) to session-TZ microsecond
    * TimestampType, dispatching on the type the file ACTUALLY arrived as —
    * a schema-on-read engine must tolerate producers changing physical
    * timestamp encodings between dumps:
    *
    *  - LongType          → raw int64 nanos (parquet TIMESTAMP(NANOS) read
    *                        under spark.sql.legacy.parquet.nanosAsLong);
    *                        floor-convert to micros.
    *  - TimestampType     → already micros; pass through.
    *  - TimestampNTZType  → parquet timestamp[us] with isAdjustedToUTC=false;
    *                        cast to session-TZ TimestampType (session TZ is
    *                        pinned to UTC in GraftSession, so the instant is
    *                        unchanged and oracle hashes stay stable).
    *  - anything else     → loud error naming topic+column — silently keeping
    *                        a string/double here would corrupt every
    *                        downstream window/asof/resample.
    *
    * Works on batch and streaming frames alike (pure projection).
    */
  def fixNanos(df: DataFrame, catalog: SchemaCatalog, topicName: String): DataFrame =
    catalog.nanosColumnsOf(topicName).foldLeft(df) { (d, c) =>
      if (!d.columns.contains(c)) d
      else d.schema(c).dataType match {
        case LongType         => d.withColumn(c, expr(s"timestamp_micros($c div 1000)"))
        case TimestampType    => d
        case TimestampNTZType => d.withColumn(c, col(c).cast(TimestampType))
        case other => throw new IllegalArgumentException(
          s"topic '$topicName' column '$c' is declared a timestamp but arrived as $other " +
            "(expected int64 nanos, TIMESTAMP, or TIMESTAMP_NTZ)")
      }
    }
}

object Tables {
  /** Deterministic latest-per-key changelog view (R2).
    *
    * `max_by(struct(*cols), struct(*order))` gives one shuffle with map-side
    * partial aggregation — at scale this beats the window-function form
    * (`row_number over (partition by key order by ord desc) = 1`), which
    * must shuffle ALL rows to the key's partition and sort them before
    * discarding everything but one. Partial agg keeps per-key state O(1)
    * per map task, so a 100 TB changelog reduces before the exchange.
    */
  def latestPerKey(df: DataFrame, keys: Seq[String], order: Seq[String]): DataFrame = {
    require(keys.nonEmpty, "latestPerKey requires key columns")
    require(order.nonEmpty, "latestPerKey requires explicit order columns (FIXTURES.md §C)")
    val valueCols = df.columns.filterNot(keys.contains).toSeq
    val ord = struct(order.map(col): _*)
    df.groupBy(keys.map(col): _*)
      .agg(max_by(struct(valueCols.map(col): _*), ord).as("__latest"))
      .select(keys.map(col) ++ valueCols.map(c => col(s"__latest.$c").as(c)): _*)
  }

  /** Window-function variant, kept for cases where the full winning *row*
    * (not just projected values) must survive with its original column order,
    * or where ties must break by an expression not embeddable in max_by.
    */
  def latestPerKeyWindow(df: DataFrame, keys: Seq[String], order: Seq[String]): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(order.map(c => col(c).desc): _*)
    df.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1).drop("__rn")
  }

  /** Changelog HISTORY view (SCD2 validity intervals): every version of
    * every key, with `effective_from` = its own ordering value and
    * `effective_to` = the NEXT version's (null for the current version).
    * [[latestPerKey]] answers "what is the value now"; this answers "what
    * was the value at time T" (join `T >= from AND (to IS NULL OR T < to)`)
    * — the temporal-table side of KTable semantics. One window over the
    * same (key, order) partitioning as the latest view; rows that share the
    * full ordering value are exact duplicates in changelog terms, so they
    * get a zero-width interval rather than being dropped (auditability).
    */
  def historyPerKey(df: DataFrame, keys: Seq[String], orderCol: String,
      tieBreak: Seq[String] = Nil): DataFrame = {
    require(keys.nonEmpty, "historyPerKey requires key columns")
    // ties on (key, orderCol) make WHICH duplicate becomes the open-ended
    // current version nondeterministic (lead() orders them arbitrarily) —
    // callers must either pre-reduce to one row per (key, orderCol) (the
    // r02 query does) or supply tieBreak columns that make the sort total
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col(orderCol).asc +: tieBreak.map(col(_).asc): _*)
    df.withColumn("effective_from", col(orderCol))
      .withColumn("effective_to", lead(col(orderCol), 1).over(w))
  }
}
