package graft.functions

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

/** Exact top-k aggregate: keeps the k best (score desc, id asc) pairs with
  * map-side partial aggregation. Compared to the window-function form
  * (`row_number() over (partition by q order by score desc)`), which must
  * shuffle and sort EVERY scored row, this shuffles at most k rows per map
  * partition per group — the difference between O(corpus) and O(k·partitions)
  * exchange volume for a 100 TB ANN sweep.
  *
  * Buffer is an amortized-trimmed array: appends until 4k, then compacts to
  * k, so per-row cost is O(1) amortized and merge is O(k log k).
  *
  * `distinctPairs = true` collapses exact-duplicate (score, id) pairs at
  * every compaction — for inputs where one logical item may be scored
  * several times with an identical score (IVF multiple assignment surfaces
  * a neighbor once per shared probed cell). This keeps dedup INSIDE the
  * partial aggregate: no pre-aggregation dropDuplicates exchange over the
  * corpus-sized scored relation. Sound because an evicted pair had ≥ k
  * distinct better pairs already buffered (which never leave), so a later
  * duplicate of it can never re-enter the true top-k.
  *
  * Implemented as a native Catalyst [[TypedImperativeAggregate]] — the same
  * port the quantile sketch got ([[QuantileSketchBuild]]): this aggregate
  * runs once per SCORED CORPUS ROW on every knn search path, and the former
  * `udaf(Aggregator)` wrapper paid the encoder boundary (InternalRow →
  * Scala tuple deserialization, immutable `Seq :+` buffer copies) on each
  * of those calls. This form reads the two child columns straight off the
  * input row and appends to one mutable buffer; the trim/finish kernels are
  * unchanged, so the surviving multiset — and therefore every result row —
  * is identical.
  */
final class TopKBuffer(val k: Int, val distinctPairs: Boolean) {
  // paired primitive arrays — the former ArrayBuffer[(Double, Long)] boxed
  // one tuple per SCORED ROW (the knn search hot path). Starts small and
  // grows: a buffer per group lives inside hash aggregation, so pre-sizing
  // to the 4k trim bound would allocate the worst case for every group.
  private[functions] var scores = new Array[Double](math.min(16, 4 * math.max(1, k)))
  private[functions] var ids = new Array[Long](scores.length)
  private[functions] var n = 0

  private def ensure(extra: Int): Unit = {
    val need = n + extra
    if (need > scores.length) {
      val cap = math.max(scores.length * 2, need)
      scores = java.util.Arrays.copyOf(scores, cap)
      ids = java.util.Arrays.copyOf(ids, cap)
    }
  }

  def add(score: Double, id: Long): Unit = {
    ensure(1)
    // distinct mode stores -0.0 as 0.0: the two are one score, and only
    // bit-identical pairs end up adjacent after the sort (see trimInPlace)
    scores(n) = if (distinctPairs) score + 0.0 else score
    ids(n) = id; n += 1
    if (n >= 4 * k) trimInPlace()
  }

  def mergeIn(other: TopKBuffer): Unit = {
    ensure(other.n)
    System.arraycopy(other.scores, 0, scores, n, other.n)
    System.arraycopy(other.ids, 0, ids, n, other.n)
    n += other.n
    trimInPlace()
  }

  /** Compaction: sort best-first ((score desc, id asc) — [[PairSort.topK]],
    * the exact order the former tuple Ordering imposed), collapse duplicate
    * pairs in distinct mode, keep the k best. Duplicates collapse by
    * primitive ==, which is the boxed tuple equality the former
    * `ArrayBuffer[(Double, Long)].distinct` used: NaN pairs never collapse,
    * and 0.0/-0.0 pairs do — the sort puts equal pairs side by side because
    * [[add]] stored -0.0 as 0.0. SketchProperties checks the result equals
    * that boxed distinct-then-sort-then-take reference over scores from
    * {NaN, ±0.0, ±1}, run on the same pairs with -0.0 read as 0.0 (the
    * boxed form kept whichever zero arrived first, so its order among
    * zero-score pairs depended on arrival order).
    */
  private def trimInPlace(): Unit = {
    PairSort.topK.sort(scores, ids, n)
    if (distinctPairs) {
      var out = 0; var i = 0
      while (i < n && out < k) {
        if (out == 0 || !(scores(out - 1) == scores(i) && ids(out - 1) == ids(i))) {
          scores(out) = scores(i); ids(out) = ids(i); out += 1
        }
        i += 1
      }
      n = out
    } else if (n > k) n = k
  }

  /** Final ordered top-k (score desc, id asc), duplicates collapsed only in
    * distinct-pairs mode. Non-mutating (operates on a copy).
    */
  def result(): Seq[(Double, Long)] = {
    val s = java.util.Arrays.copyOf(scores, n)
    val d = java.util.Arrays.copyOf(ids, n)
    PairSort.topK.sort(s, d, n)
    val out = new ArrayBuffer[(Double, Long)](math.min(n, k))
    var i = 0
    while (i < n && out.size < k) {
      if (!distinctPairs || out.isEmpty ||
          !(out.last._1 == s(i) && out.last._2 == d(i)))
        out += ((s(i), d(i)))
      i += 1
    }
    out.toSeq
  }
}

/** Native top-k aggregate expression; `TopK.topk` / `TopK.topkDistinct`
  * are the Column-level entry points.
  */
case class TopKAgg(scoreExpr: Expression, idExpr: Expression, k: Int,
    distinctPairs: Boolean,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[TopKBuffer]
  with org.apache.spark.sql.catalyst.trees.BinaryLike[Expression] {
  require(k >= 1, s"top-k size k must be >= 1, got $k")

  override def prettyName: String =
    if (distinctPairs) "topk_distinct" else "topk"
  override def nullable: Boolean = false
  // tuple-encoder field names (_1 score, _2 id) preserved from the previous
  // Aggregator form so every consumer's `col("top")(0)("_2")` access and
  // stored artifact reads are unchanged
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("_1", DoubleType, nullable = false),
    StructField("_2", LongType, nullable = false))), containsNull = false)
  override def left: Expression = scoreExpr
  override def right: Expression = idExpr
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    (scoreExpr.dataType, idExpr.dataType) match {
      case (DoubleType, LongType) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case (s, i) => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (double, bigint) inputs, got (${s.sql}, ${i.sql})")
    }

  override def createAggregationBuffer(): TopKBuffer =
    new TopKBuffer(k, distinctPairs)

  override def update(b: TopKBuffer, input: InternalRow): TopKBuffer = {
    val s = scoreExpr.eval(input)
    if (s != null) {
      val i = idExpr.eval(input)
      if (i != null) b.add(s.asInstanceOf[Double], i.asInstanceOf[Long])
    }
    b
  }

  override def merge(b: TopKBuffer, other: TopKBuffer): TopKBuffer = {
    b.mergeIn(other); b
  }

  override def eval(b: TopKBuffer): Any =
    new GenericArrayData(b.result().map { case (s, i) =>
      InternalRow(s, i): Any }.toArray)

  override def serialize(b: TopKBuffer): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(4 + 16 * b.n)
    bb.putInt(b.n)
    var i = 0
    while (i < b.n) { bb.putDouble(b.scores(i)); bb.putLong(b.ids(i)); i += 1 }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): TopKBuffer = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val m = bb.getInt
    val b = new TopKBuffer(k, distinctPairs)
    b.scores = new Array[Double](math.max(1, m))
    b.ids = new Array[Long](math.max(1, m))
    var i = 0
    while (i < m) { b.scores(i) = bb.getDouble; b.ids(i) = bb.getLong; i += 1 }
    b.n = m
    b
  }

  override def withNewMutableAggBufferOffset(o: Int): TopKAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): TopKAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(l: Expression, r: Expression): TopKAgg =
    copy(scoreExpr = l, idExpr = r)
}

object TopK {
  private def agg(score: Column, id: Column, k: Int, distinct: Boolean): Column =
    org.apache.spark.sql.graftbridge.Bridge.column(
      TopKAgg(
        org.apache.spark.sql.graftbridge.Bridge.expression(score.cast("double")),
        org.apache.spark.sql.graftbridge.Bridge.expression(id.cast("long")),
        k, distinct).toAggregateExpression())

  /** Column function: top-k of (score, id) structs per group.
    * Result: array<struct<_1: score, _2: id>> ordered best-first.
    */
  def topk(score: Column, id: Column, k: Int): Column =
    agg(score, id, k, distinct = false)

  /** topk over inputs that may repeat a (score, id) pair exactly (e.g. IVF
    * multi-assignment): duplicates collapse inside the partial aggregate.
    */
  def topkDistinct(score: Column, id: Column, k: Int): Column =
    agg(score, id, k, distinct = true)
}
