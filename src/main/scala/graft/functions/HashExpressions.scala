package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Hash-sketch expressions for near-duplicate detection (SURVEY §2B X2).
  *
  * Each computes a whole-document sketch from the token/shingle array *in one
  * pass per row* — crucially WITHOUT exploding shingles into the shuffle: the
  * naive built-in formulation (`explode(shingles) → groupBy(doc) → k × min`)
  * multiplies row count by shingle count before the exchange, which at 100 TB
  * of documents is the difference between a map-only sketch stage and a
  * petabyte shuffle. Token hashing uses Spark's own XXH64 (the engine behind
  * `xxhash64()`), so results are deterministic and engine-consistent.
  */
object Sketches {
  @inline def hashToken(t: UTF8String, seed: Long): Long =
    XXH64.hashUnsafeBytes(t.getBaseObject, t.getBaseOffset, t.numBytes, seed)
}

/** MinHash signature: array<string> shingles → array<long> of `numHashes`
  * per-seed minima. Empty input → array of Long.MaxValue (no shingles ⇒ no
  * similarity). Jaccard(a,b) ≈ fraction of equal signature positions.
  */
case class MinHashSignature(child: Expression, numHashes: Int, seed: Long)
    extends UnaryExpression with CodegenFallback {
  override def prettyName: String = "minhash_signature"
  // analysis-time type guard: these are SQL-registered (GraftExtensions),
  // so a wrong-typed argument must fail at ANALYSIS like the vector
  // family does, not as an executor-side ClassCastException mid-job
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"$prettyName requires array<string> tokens, got ${other.sql}")
    }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val sig = Array.fill(numHashes)(Long.MaxValue)
    var i = 0
    val n = arr.numElements()
    while (i < n) {
      val t = arr.getUTF8String(i)
      if (t != null) {
        var j = 0
        while (j < numHashes) {
          val h = Sketches.hashToken(t, seed + j)
          if (h < sig(j)) sig(j) = h
          j += 1
        }
      }
      i += 1
    }
    new GenericArrayData(sig)
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Distinct hashed word-shingles in one pass: array<string> tokens →
  * array<long> of the distinct xxhash64-combined n-token windows (fewer than
  * n tokens → one hash of the whole list). Shingle identity only — the
  * shingle string is never built, and there is no higher-order-function
  * lambda (HOF-nested expressions re-evaluate their argument subtree per
  * element: measured O(tokens²) per document; this is the O(tokens) form).
  */
case class HashedShingles(child: Expression, n: Int, seed: Long)
    extends UnaryExpression {
  override def prettyName: String = "hashed_shingles"
  // analysis-time type guard: these are SQL-registered (GraftExtensions),
  // so a wrong-typed argument must fail at ANALYSIS like the vector
  // family does, not as an executor-side ClassCastException mid-job
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"$prettyName requires array<string> tokens, got ${other.sql}")
    }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  private val mix = 0x9E3779B97F4A7C15L
  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
    nullSafeCodeGen(ctx, ev, arr => {
      val sz = ctx.freshName("sz"); val tokH = ctx.freshName("tokH")
      val i = ctx.freshName("i"); val t = ctx.freshName("t")
      val set = ctx.freshName("set"); val h = ctx.freshName("h")
      val s = ctx.freshName("s"); val j = ctx.freshName("j")
      val res = ctx.freshName("res"); val it = ctx.freshName("it"); val k = ctx.freshName("k")
      s"""
         |int $sz = $arr.numElements();
         |long[] $tokH = new long[$sz];
         |for (int $i = 0; $i < $sz; $i++) {
         |  UTF8String $t = $arr.getUTF8String($i);
         |  $tokH[$i] = $t == null ? ${seed}L
         |    : org.apache.spark.sql.catalyst.expressions.XXH64.hashUnsafeBytes(
         |        $t.getBaseObject(), $t.getBaseOffset(), $t.numBytes(), ${seed}L);
         |}
         |java.util.LinkedHashSet<Long> $set = new java.util.LinkedHashSet<Long>();
         |if ($sz < $n) {
         |  long $h = ${seed}L;
         |  for (int $j = 0; $j < $sz; $j++) { $h = $h * ${mix}L + $tokH[$j]; }
         |  $set.add($h);
         |} else {
         |  for (int $s = 0; $s <= $sz - $n; $s++) {
         |    long $h = ${seed}L;
         |    for (int $j = 0; $j < $n; $j++) { $h = $h * ${mix}L + $tokH[$s + $j]; }
         |    $set.add($h);
         |  }
         |}
         |long[] $res = new long[$set.size()];
         |int $k = 0;
         |for (java.util.Iterator<Long> $it = $set.iterator(); $it.hasNext(); ) {
         |  $res[$k++] = ((Long) $it.next()).longValue();
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($res);
       """.stripMargin
    })
  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val sz = arr.numElements()
    val tokH = new Array[Long](sz)
    var i = 0
    while (i < sz) {
      val t = arr.getUTF8String(i)
      tokH(i) = if (t == null) seed else Sketches.hashToken(t, seed)
      i += 1
    }
    val out = new java.util.LinkedHashSet[java.lang.Long]()
    if (sz < n) {
      var h = seed
      var j = 0
      while (j < sz) { h = h * mix + tokH(j); j += 1 }
      out.add(h)
    } else {
      var s = 0
      while (s <= sz - n) {
        var h = seed
        var j = 0
        while (j < n) { h = h * mix + tokH(s + j); j += 1 }
        out.add(h)
        s += 1
      }
    }
    val res = new Array[Long](out.size())
    val it = out.iterator()
    var k = 0
    while (it.hasNext) { res(k) = it.next(); k += 1 }
    new GenericArrayData(res)
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** MinHash signature from pre-hashed shingles (array<long>): the j-th hash
  * function is a splitmix64 remix of the shingle's base hash with seed j —
  * avalanche-quality independent permutation approximations without
  * re-hashing the token bytes k times. Composes with [[HashedShingles]] so a
  * document's full sketch is two O(len) passes.
  */
case class MinHashFromHashes(child: Expression, numHashes: Int)
    extends UnaryExpression {
  override def prettyName: String = "minhash_from_hashes"
  // analysis-time type guard (the SQL-registered family's discipline)
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(LongType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"$prettyName requires array<bigint> shingle hashes " +
            s"(hashed_shingles output), got ${other.sql}")
    }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
    nullSafeCodeGen(ctx, ev, arr => {
      val sig = ctx.freshName("sig"); val i = ctx.freshName("i")
      val j = ctx.freshName("j"); val z = ctx.freshName("z"); val sz = ctx.freshName("sz")
      val base = ctx.freshName("base")
      s"""
         |int $sz = $arr.numElements();
         |long[] $sig = new long[$numHashes];
         |java.util.Arrays.fill($sig, Long.MAX_VALUE);
         |for (int $i = 0; $i < $sz; $i++) {
         |  long $base = $arr.getLong($i);
         |  for (int $j = 0; $j < $numHashes; $j++) {
         |    long $z = $base + 0x9E3779B97F4A7C15L * ($j + 1);
         |    $z ^= ($z >>> 30); $z *= 0xBF58476D1CE4E5B9L;
         |    $z ^= ($z >>> 27); $z *= 0x94D049BB133111EBL;
         |    $z ^= ($z >>> 31);
         |    if ($z < $sig[$j]) $sig[$j] = $z;
         |  }
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($sig);
       """.stripMargin
    })
  @inline private def remix(x0: Long, j: Long): Long = {
    var z = x0 + 0x9E3779B97F4A7C15L * (j + 1)
    z ^= (z >>> 30); z *= 0xBF58476D1CE4E5B9L
    z ^= (z >>> 27); z *= 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val sig = Array.fill(numHashes)(Long.MaxValue)
    var i = 0
    val sz = arr.numElements()
    while (i < sz) {
      val base = arr.getLong(i)
      var j = 0
      while (j < numHashes) {
        val h = remix(base, j)
        if (h < sig(j)) sig(j) = h
        j += 1
      }
      i += 1
    }
    new GenericArrayData(sig)
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** 64-bit SimHash over a token array: per-bit vote by token hash, sign of the
  * vote becomes the bit. Near-duplicates have small Hamming distance.
  */
case class SimHash64(child: Expression, seed: Long)
    extends UnaryExpression with CodegenFallback {
  override def prettyName: String = "simhash64"
  // analysis-time type guard: these are SQL-registered (GraftExtensions),
  // so a wrong-typed argument must fail at ANALYSIS like the vector
  // family does, not as an executor-side ClassCastException mid-job
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"$prettyName requires array<string> tokens, got ${other.sql}")
    }
  override def dataType: DataType = LongType
  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val votes = new Array[Int](64)
    var i = 0
    val n = arr.numElements()
    while (i < n) {
      val t = arr.getUTF8String(i)
      if (t != null) {
        val h = Sketches.hashToken(t, seed)
        var j = 0
        while (j < 64) {
          if (((h >>> j) & 1L) == 1L) votes(j) += 1 else votes(j) -= 1
          j += 1
        }
      }
      i += 1
    }
    var out = 0L
    var j = 0
    while (j < 64) { if (votes(j) > 0) out |= (1L << j); j += 1 }
    java.lang.Long.valueOf(out)
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Rolling polynomial fingerprint of a string (Rabin-Karp style, base 31,
  * 64-bit wraparound) — a cheap order-sensitive document fingerprint for
  * exact-content identity (X5 document fingerprinting).
  */
case class RollingFingerprint(child: Expression)
    extends UnaryExpression with CodegenFallback {
  override def prettyName: String = "doc_fingerprint"
  // analysis-time type guard (the SQL-registered family's discipline)
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case StringType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"$prettyName requires a string document, got ${other.sql}")
    }
  override def dataType: DataType = LongType
  override def nullSafeEval(input: Any): Any = {
    val bytes = input.asInstanceOf[UTF8String].getBytes
    var h = 1125899906842597L // large prime
    var i = 0
    while (i < bytes.length) { h = 31 * h + bytes(i); i += 1 }
    java.lang.Long.valueOf(h)
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Count of a hash array's elements present in a fixed reference set —
  * the map-only membership probe behind the streaming contamination screen
  * (and any "how many of this row's hashes are in that set" question). The
  * reference set rides along as ONE sorted array via a codegen reference
  * object — built once per executor, binary-searched per element — never
  * as a per-row literal (a 100k-hash set as `lit(array)` would rebuild a
  * lookup structure per ROW, the array_except trap `Dedup.MaxBroadcastHotSet`
  * guards against) and never via a join (joins are stateful in streaming;
  * this is a pure projection, legal in any output mode).
  *
  * `set` is a Seq so case-class equality is structural (semanticEquals /
  * cache reuse — same reasoning as SignBuckets' planes).
  */
case class SetOverlapCount(child: Expression, set: Seq[Long])
    extends UnaryExpression {
  override def prettyName: String = "set_overlap_count"
  override def dataType: DataType = IntegerType
  override def nullable: Boolean = child.nullable
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(LongType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires array<bigint> (hash array), got ${other.sql}")
    }

  @transient private lazy val sorted: Array[Long] = {
    val a = set.toArray; java.util.Arrays.sort(a); a
  }

  def count(v: ArrayData): Int = {
    val n = v.numElements()
    var c = 0; var i = 0
    while (i < n) {
      if (!v.isNullAt(i) &&
        java.util.Arrays.binarySearch(sorted, v.getLong(i)) >= 0) c += 1
      i += 1
    }
    c
  }

  override def nullSafeEval(input: Any): Any = count(input.asInstanceOf[ArrayData])

  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode = {
    val self = ctx.addReferenceObj("overlap", this, classOf[SetOverlapCount].getName)
    nullSafeCodeGen(ctx, ev, v => s"${ev.value} = $self.count($v);")
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Count of DISTINCT common values between two SORTED `array<bigint>`
  * columns — `size(array_intersect(a, b))` for the sorted-array frames the
  * jaccard verification joins consume, without materializing the
  * intersection array or building a per-pair hash set. `array_intersect`
  * costs one OpenHashSet build + one result-array allocation per CANDIDATE
  * PAIR; at 100 TB the verification stage evaluates this once per
  * surviving candidate (billions), so the per-pair constant is the
  * stage's entire compute. The two-pointer merge is allocation-free and
  * branch-predictable (measured 0.66 → ~0.2 s on the sf0.1 81k-candidate
  * verify stage).
  *
  * PRECONDITION: both arrays ascending-sorted (nulls last, as
  * [[org.apache.spark.sql.functions.array_sort]] leaves them — every call
  * site feeds [[graft.operators.Dedup.shingleFrame]]-shaped arrays).
  * Duplicates are tolerated (counted once, exactly like array_intersect);
  * a null element matches a null element on the other side, also like
  * array_intersect. On UNSORTED input the count is wrong — this is a
  * kernel for the operator's own frames, not a general SQL surface.
  */
case class SortedIntersectCount(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
  override def prettyName: String = "sorted_intersect_count"
  override def dataType: DataType = IntegerType
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _), ArrayType(LongType, _)) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case (l, r) => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires two array<bigint> inputs, got (${l.sql}, ${r.sql})")
    }

  def count(a: ArrayData, b: ArrayData): Int = {
    val na = a.numElements(); val nb = b.numElements()
    var i = 0; var j = 0; var c = 0
    // merge over the non-null (sorted-first) prefixes
    while (i < na && j < nb && !a.isNullAt(i) && !b.isNullAt(j)) {
      val x = a.getLong(i); val y = b.getLong(j)
      if (x < y) i += 1
      else if (x > y) j += 1
      else {
        c += 1
        // count each distinct value once (array_intersect dedups)
        i += 1; j += 1
        while (i < na && !a.isNullAt(i) && a.getLong(i) == x) i += 1
        while (j < nb && !b.isNullAt(j) && b.getLong(j) == y) j += 1
      }
    }
    // nulls sort last: the intersection holds null iff both sides carry
    // one, wherever the merge above stopped
    if (na > 0 && nb > 0 && a.isNullAt(na - 1) && b.isNullAt(nb - 1)) c += 1
    c
  }

  override def nullSafeEval(l: Any, r: Any): Any =
    count(l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData])

  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode = {
    val self = ctx.addReferenceObj("sic", this, classOf[SortedIntersectCount].getName)
    nullSafeCodeGen(ctx, ev, (a, b) => s"${ev.value} = $self.count($a, $b);")
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** Hamming distance between two 64-bit hashes (companion to SimHash64). */
case class HammingDistance64(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression with CodegenFallback {
  override def prettyName: String = "hamming64"
  override def dataType: DataType = IntegerType
  override def nullSafeEval(l: Any, r: Any): Any =
    java.lang.Integer.valueOf(java.lang.Long.bitCount(l.asInstanceOf[Long] ^ r.asInstanceOf[Long]))
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

object HashFunctions {
  def minhash_signature(tokens: Column, numHashes: Int = 128, seed: Long = 42L): Column =
    Bridge.column(MinHashSignature(Bridge.expression(tokens), numHashes, seed))
  def hashed_shingles(tokens: Column, n: Int, seed: Long = 42L): Column =
    Bridge.column(HashedShingles(Bridge.expression(tokens), n, seed))
  def minhash_from_hashes(shingleHashes: Column, numHashes: Int = 128): Column =
    Bridge.column(MinHashFromHashes(Bridge.expression(shingleHashes), numHashes))
  def simhash64(tokens: Column, seed: Long = 42L): Column =
    Bridge.column(SimHash64(Bridge.expression(tokens), seed))
  def doc_fingerprint(text: Column): Column =
    Bridge.column(RollingFingerprint(Bridge.expression(text)))
  def hamming64(a: Column, b: Column): Column =
    Bridge.column(HammingDistance64(Bridge.expression(a), Bridge.expression(b)))
  def set_overlap_count(hashes: Column, set: Seq[Long]): Column =
    Bridge.column(SetOverlapCount(Bridge.expression(hashes), set))
  def sorted_intersect_count(a: Column, b: Column): Column =
    Bridge.column(SortedIntersectCount(Bridge.expression(a), Bridge.expression(b)))
}
