package graft

import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.unsafe.types.UTF8String
import org.scalacheck.{Gen, Prop, Properties}

import graft.functions.{HashedShingles, MinHashFromHashes, SimHash64}

/** Property tests on the sketch expressions, evaluated directly (no Spark
  * session needed — these are pure Catalyst expression kernels).
  */
object SketchProperties extends Properties("sketches") {

  private val word = Gen.oneOf("spark", "join", "table", "stream", "window",
    "filter", "hash", "sort", "merge", "scan", "row", "key", "data", "batch")
  private val tokensGen: Gen[List[String]] = Gen.listOfN(40, word)

  private def arr(tokens: Seq[String]): ArrayData =
    new GenericArrayData(tokens.map(t => UTF8String.fromString(t)).toArray[Any])

  private def shingleStrings(tokens: Seq[String], n: Int): Set[String] =
    if (tokens.size < n) Set(tokens.mkString(" "))
    else tokens.sliding(n).map(_.mkString(" ")).toSet

  private def hashedSet(tokens: Seq[String], n: Int): Seq[Long] = {
    val e = HashedShingles(org.apache.spark.sql.catalyst.expressions.Literal("x"), n, 42L)
    e.nullSafeEval(arr(tokens)).asInstanceOf[ArrayData].toLongArray().toSeq
  }

  property("hashed shingle count == distinct string shingle count") =
    Prop.forAll(tokensGen) { toks =>
      toks.isEmpty || hashedSet(toks, 3).size == shingleStrings(toks, 3).size
    }

  property("hashed shingles are deterministic and permutation-sensitive") =
    Prop.forAll(tokensGen) { toks =>
      toks.size < 4 || {
        val a = hashedSet(toks, 3).toSet
        val b = hashedSet(toks, 3).toSet
        val c = hashedSet(toks.reverse, 3).toSet
        a == b && (toks == toks.reverse || a != c || shingleStrings(toks, 3) == shingleStrings(toks.reverse, 3))
      }
    }

  property("minhash estimate within 0.25 of true jaccard (128 hashes)") =
    Prop.forAll(tokensGen, tokensGen) { (t1, t2) =>
      (t1.isEmpty || t2.isEmpty) || {
        val s1 = hashedSet(t1, 3).toSet
        val s2 = hashedSet(t2, 3).toSet
        val trueJ = s1.intersect(s2).size.toDouble / s1.union(s2).size
        val mh = MinHashFromHashes(org.apache.spark.sql.catalyst.expressions.Literal(1L), 128)
        val sig1 = mh.nullSafeEval(new GenericArrayData(s1.toArray)).asInstanceOf[ArrayData].toLongArray()
        val sig2 = mh.nullSafeEval(new GenericArrayData(s2.toArray)).asInstanceOf[ArrayData].toLongArray()
        val est = sig1.zip(sig2).count { case (x, y) => x == y }.toDouble / 128
        math.abs(est - trueJ) <= 0.25
      }
    }

  property("simhash of identical token lists is identical") =
    Prop.forAll(tokensGen) { toks =>
      val e = SimHash64(org.apache.spark.sql.catalyst.expressions.Literal("x"), 42L)
      e.nullSafeEval(arr(toks)) == e.nullSafeEval(arr(toks))
    }

  // ---- LangScores parity with the compositional form it replaced ----

  private val markers: Seq[Seq[String]] = graft.operators.TextAnalysis.langMarkers
    .sortBy(_._1).map(_._2)

  /** Reference semantics: split(trim(lower(text)), "\\s+") token hits per
    * marker set, plus a Han char count — the exact formulation langId used
    * before the one-pass scorer (and the DuckDB oracle's shape).
    */
  private def referenceScores(text: String): Seq[Int] = {
    val lowered = text.toLowerCase()
    val toks = lowered.trim match {
      case "" => Array.empty[String]
      case t  => t.split("\\s+")
    }
    val sets = markers.map(_.toSet)
    val hits = sets.map(s => toks.count(s.contains))
    val han = text.count(c => c >= '\u4e00' && c <= '\u9fa5')
    hits :+ han
  }

  private val textGen: Gen[String] = for {
    n <- Gen.chooseNum(0, 60)
    parts <- Gen.listOfN(n, Gen.oneOf(
      word, Gen.oneOf("the", "der", "el", "le", "les", "und", "THE", "Der"),
      Gen.oneOf(" ", "\t", "\n", "  "), Gen.oneOf("中文", "漢字", "¡hola!", "Straße")))
  } yield parts.mkString(" ")

  property("one-pass lang scorer matches the compositional tokenization semantics") =
    Prop.forAll(textGen) { text =>
      val e = graft.functions.LangScores(
        org.apache.spark.sql.catalyst.expressions.Literal("x"), markers)
      val got = e.score(UTF8String.fromString(text)).toIntArray().toSeq
      got == referenceScores(text)
    }

  // ---- sorted_intersect_count vs the set-intersection reference ----

  // null elements (None) too: the kernel must match array_intersect's null
  // handling wherever the non-null prefixes stop
  private val hashArr: Gen[List[Option[Long]]] = for {
    n <- Gen.chooseNum(0, 60)
    // small value domain so overlaps and duplicates actually occur
    v <- Gen.listOfN(n, Gen.frequency(
      9 -> Gen.chooseNum(-30L, 30L).map(Option(_)), 1 -> Gen.const(None)))
  } yield v

  // array_sort order: ascending, nulls last
  private def sortedArray(a: List[Option[Long]]): ArrayData =
    new GenericArrayData((a.flatten.sorted.map(Long.box) ++ a.filter(_.isEmpty).map(_ => null))
      .toArray[Any])

  property("sorted_intersect_count == |distinct set intersection| on sorted arrays") =
    Prop.forAll(hashArr, hashArr) { (a, b) =>
      val e = graft.functions.SortedIntersectCount(
        org.apache.spark.sql.catalyst.expressions.Literal(1L),
        org.apache.spark.sql.catalyst.expressions.Literal(1L))
      val got = e.count(sortedArray(a), sortedArray(b))
      got == a.toSet.intersect(b.toSet).size
    }

  // ---- TopK distinct-pairs mode (IVF multi-assignment dedup) ----

  private val pairGen: Gen[List[(Double, Long)]] = for {
    n <- Gen.chooseNum(0, 40)
    base <- Gen.listOfN(n, Gen.zip(Gen.chooseNum(0.0, 1.0), Gen.chooseNum(0L, 15L)))
    dups <- Gen.someOf(base) // re-emit a random subset, like extra LSH bands
    seed <- Gen.chooseNum(Long.MinValue, Long.MaxValue) // wide: vary orderings
  } yield new scala.util.Random(seed).shuffle(base ++ dups ++ dups)

  /** Run the aggregate buffer the way Spark would: partition the input,
    * update each partition's buffer from empty, then merge partials
    * pairwise, then finish.
    */
  private def run(k: Int, distinctPairs: Boolean,
      input: List[(Double, Long)], parts: Int): Seq[(Double, Long)] = {
    val partials = input.grouped(math.max(1, (input.size + parts - 1) / parts))
      .map { chunk =>
        val b = new graft.functions.TopKBuffer(k, distinctPairs)
        chunk.foreach { case (s, i) => b.add(s, i) }
        b
      }.toList
    val merged = new graft.functions.TopKBuffer(k, distinctPairs)
    partials.foreach(merged.mergeIn)
    merged.result()
  }

  property("topkDistinct over duplicated input == plain topk over deduped input") =
    Prop.forAll(pairGen, Gen.chooseNum(1, 8), Gen.chooseNum(1, 4)) { (pairs, k, parts) =>
      run(k, true, pairs, parts) == run(k, false, pairs.distinct, parts)
    }

  // degenerate scores: NaN and both zeros, few ids so the same pair recurs —
  // and recurs non-adjacently ((0.0,2), (0.0,3), (-0.0,2) interleave)
  private val degenerateGen: Gen[List[(Double, Long)]] = Gen.listOf(Gen.zip(
    Gen.oneOf(Double.NaN, 0.0, -0.0, 1.0, -1.0), Gen.chooseNum(0L, 3L)))

  /** The former boxed form: `ArrayBuffer[(Double, Long)].distinct` (tuple
    * equality: NaN != NaN, 0.0 == -0.0), sorted (score desc, id asc) under
    * the total Double order, first k.
    */
  private def boxedTopK(k: Int, pairs: List[(Double, Long)]): Seq[(Double, Long)] =
    pairs.to(scala.collection.mutable.ArrayBuffer).distinct.toSeq
      .sortBy(p => (-p._1, p._2))(
        Ordering.Tuple2(Ordering.Double.TotalOrdering, Ordering.Long))
      .take(k)

  property("topkDistinct == the boxed distinct-sort-take reference on NaN / ±0.0 scores") =
    // (0.0,2) and (-0.0,2) are one pair, but sort apart around (0.0,3)
    (Prop(run(8, true, List((0.0, 2L), (0.0, 3L), (-0.0, 2L)), 1).size == 2) :|
      "a non-adjacent 0.0/-0.0 pair of one id collapses") &&
    Prop.forAll(degenerateGen, Gen.chooseNum(1, 8), Gen.chooseNum(1, 4)) {
      (pairs, k, parts) =>
        val got = run(k, true, pairs, parts)
        // the reference reads -0.0 as 0.0: which zero it kept (and so its
        // order among zero-score pairs) depended on arrival order
        val want = boxedTopK(k, pairs.map { case (s, i) => (s + 0.0, i) })
        Prop(got.size == want.size && got.zip(want).forall { case (g, w) =>
          java.lang.Double.compare(g._1, w._1) == 0 && g._2 == w._2
        }) :| s"got $got, want $want"
    }

  // ------------------------------------------------------------ quantization

  private val vecGen: Gen[List[Double]] = for {
    n <- Gen.chooseNum(1, 96)
    v <- Gen.listOfN(n, Gen.chooseNum(-100.0, 100.0))
  } yield v

  private def quantize(v: Seq[Double]): org.apache.spark.sql.catalyst.InternalRow = {
    val e = graft.functions.QuantizeVec(
      org.apache.spark.sql.catalyst.expressions.Literal.create(
        v.toArray, org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.DoubleType)))
    e.nullSafeEval(new GenericArrayData(v.toArray[Any]))
      .asInstanceOf[org.apache.spark.sql.catalyst.InternalRow]
  }

  private def qcos(a: Seq[Double], b: Seq[Double]): Option[Double] = {
    val e = graft.functions.QuantizedCosine(
      org.apache.spark.sql.catalyst.expressions.Literal("x"),
      org.apache.spark.sql.catalyst.expressions.Literal("x"))
    Option(e.score(quantize(a), quantize(b))).map(_.asInstanceOf[Double])
  }

  private def cos(a: Seq[Double], b: Seq[Double]): Double = {
    val dot = a.zip(b).map { case (x, y) => x * y }.sum
    dot / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
  }

  property("quantized cosine within the int8 rounding bound of exact, any magnitude") =
    Prop.forAll(vecGen, vecGen) { (a0, b0) =>
      val n = math.min(a0.size, b0.size)
      val (a, b) = (a0.take(n), b0.take(n))
      val zeroA = a.forall(_ == 0.0); val zeroB = b.forall(_ == 0.0)
      qcos(a, b) match {
        case None => zeroA || zeroB // only zero-norm inputs may yield null
        case Some(q) =>
          // per-element error ≤ half-step 1/254 each side; cosine error is
          // bounded well under 0.03 for dims ≤ 96 (loose analytic bound)
          !zeroA && !zeroB && math.abs(q - cos(a, b)) <= 0.03
      }
    }

  property("quantization is scale-invariant up to boundary rounding (cosine ignores magnitude)") =
    Prop.forAll(vecGen, Gen.chooseNum(0.01, 1000.0)) { (v, s) =>
      v.forall(_ == 0.0) || {
        // x·s / (maxAbs·s/127) is not bit-identical to x / (maxAbs/127), so
        // an element sitting within an ulp of a rounding boundary may move
        // one bucket — the self-cosine then shifts by at most ~2/127 per
        // flipped element; 0.02 is the honest invariance bound, not 0
        val scaled = v.map(_ * s)
        (qcos(v, v), qcos(scaled, scaled)) match {
          case (Some(x), Some(y)) => math.abs(x - y) <= 0.02
          case _ => false
        }
      }
    }

  // --- Misra–Gries frequent-items sketch (FreqSketchAggregator) ---
  // skewed stream: a few hot items over a long uniform tail — the regime
  // the sketch exists for
  private val mgItem = Gen.frequency(
    (8, Gen.oneOf("hot1", "hot2", "hot3")),
    (5, Gen.chooseNum(0, 500).map(i => s"tail$i")))
  private val mgStream = Gen.listOfN(400, mgItem)
  private val mgK = Gen.chooseNum(2, 25)
  private val mgParts = Gen.chooseNum(1, 5)

  private def mgRun(items: List[String], k: Int, nParts: Int): Seq[(String, Long)] = {
    import graft.functions.MisraGries
    import scala.collection.mutable.ArrayBuffer
    val partials = items.grouped(math.max(1, items.size / nParts)).toList
      .map(_.foldLeft(ArrayBuffer.empty[(String, Long)])(
        (b, i) => MisraGries.append(b, i, k)))
    MisraGries.finish(
      partials.foldLeft(ArrayBuffer.empty[(String, Long)])(
        (b1, b2) => MisraGries.merge(b1, b2, k)), k)
  }

  property("MG summary keeps every item with count > n/(k+1), any partitioning") =
    Prop.forAll(mgStream, mgK, mgParts) { (items, k, nParts) =>
      val out = mgRun(items, k, nParts).map(_._1).toSet
      val truth = items.groupBy(identity).view.mapValues(_.size.toLong)
      val mustKeep = truth.filter(_._2 > items.size.toDouble / (k + 1)).keySet
      mustKeep.subsetOf(out)
    }

  property("MG summary is bounded by k with underestimating residual counts") =
    Prop.forAll(mgStream, mgK, mgParts) { (items, k, nParts) =>
      val out = mgRun(items, k, nParts)
      val truth = items.groupBy(identity).view.mapValues(_.size.toLong).toMap
      out.size <= k && out.forall { case (i, c) =>
        c >= 1 && c <= truth.getOrElse(i, 0L) &&
          truth(i) - c <= items.size.toDouble / (k + 1)
      }
    }

  property("MG summary is partitioning-invariant for the guaranteed hitters") =
    Prop.forAll(mgStream, mgK) { (items, k) =>
      val one = mgRun(items, k, 1).map(_._1).toSet
      val four = mgRun(items, k, 4).map(_._1).toSet
      val truth = items.groupBy(identity).view.mapValues(_.size.toLong)
      val mustKeep = truth.filter(_._2 > items.size.toDouble / (k + 1)).keySet
      mustKeep.subsetOf(one) && mustKeep.subsetOf(four)
    }
}
