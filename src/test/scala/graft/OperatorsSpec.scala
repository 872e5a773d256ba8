package graft

import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Similarity, TextAnalysis}

class OperatorsSpec extends SparkSuite {

  test("approx_count_distinct is within 5% of exact per group (x6_approx_distinct bound)") {
    // HLL estimates are engine-specific (hence rows-only in CORRECTNESS);
    // this pins the accuracy contract instead: per-group relative error vs
    // the exact distinct count. Deterministic — same data, same sketch.
    val ev = spark.read.parquet(s"${sf("sf0.01")}/events.parquet")
    val both = ev.groupBy("event_type").agg(
        countDistinct(col("user_id")).as("exact"),
        approx_count_distinct(col("user_id")).as("approx"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(both.nonEmpty)
    for ((g, exact, approx) <- both) {
      val err = math.abs(approx - exact).toDouble / exact
      assert(err <= 0.05, s"group $g: approx $approx vs exact $exact (err $err)")
    }
  }

  test("latest-per-key is deterministic and key-unique") {
    val ev = new graft.sources.ParquetSourceResolver(sf(), graft.config.TestdataCatalog)
      .stream(spark, graft.config.TopicConfig("events"))
    val latest = graft.sources.Tables.latestPerKey(ev, Seq("user_id"), Seq("ts", "event_id"))
    assert(latest.groupBy("user_id").count().filter(col("count") > 1).count() == 0)
    // agrees with the window-function formulation
    val win = graft.sources.Tables.latestPerKeyWindow(ev, Seq("user_id"), Seq("ts", "event_id"))
    val a = latest.select("user_id", "event_id").orderBy("user_id").collect().toSeq
    val b = win.select("user_id", "event_id").orderBy("user_id").collect().toSeq
    assert(a == b)
  }

  test("exact dedup: output key-distinct, representative is min tie-break") {
    val docs = spark.read.parquet(s"${sf()}/documents.parquet")
    val out = Dedup.exact(docs.select("lang", "source", "doc_id", "n_chars"),
      Seq("lang", "source"), "doc_id")
    assert(out.groupBy("lang", "source").count().filter(col("count") > 1).count() == 0)
    val exp = docs.groupBy("lang", "source").agg(min("doc_id").as("m"))
    val joined = out.join(exp, Seq("lang", "source"))
      .filter(col("doc_id") =!= col("m")).count()
    assert(joined == 0)
  }

  test("jaccard pairs: symmetric-free (id1<id2), all above threshold") {
    val pairs = Dedup.jaccardPairs(spark.read.parquet(s"${sf()}/documents.parquet"),
      "doc_id", "text", 3, 0.8).collect()
    assert(pairs.forall(r => r.getLong(0) < r.getLong(1)))
    assert(pairs.forall(r => r.getDouble(2) >= 0.8))
  }

  test("jaccard stop-shingle cap: boilerplate-only pairs drop, genuine near-dups survive") {
    val boiler = "all rights reserved copyright notice applies to this document"
    val docs = spark.createDataFrame(Seq(
      (1L, s"alpha beta gamma delta epsilon zeta eta theta $boiler"),
      (2L, s"alpha beta gamma delta epsilon zeta eta iota $boiler"),
      (3L, s"completely different words one $boiler"),
      (4L, s"some other entirely unrelated text two $boiler"),
      (5L, s"nothing in common here at all three $boiler"),
      (6L, s"yet another unrelated document four $boiler"))).toDF("doc_id", "text")
    def pairsOf(df: org.apache.spark.sql.DataFrame) =
      df.select("id1", "id2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val uncapped = pairsOf(Dedup.jaccardPairs(docs, "doc_id", "text", 3, 0.15))
    // boilerplate-internal shingles appear in all 6 docs → df=6 > cap=5
    val capped = pairsOf(Dedup.jaccardPairs(docs, "doc_id", "text", 3, 0.15,
      maxShinglePostings = 5))
    assert(uncapped.contains((3L, 4L)), "uncapped should pair boilerplate-only docs")
    assert(capped.contains((1L, 2L)), "genuine near-dup lost to the stop-shingle cap")
    assert(!capped.contains((3L, 4L)), "boilerplate-only pair survived the cap")
    // a cap no shingle reaches must reproduce the exact result, values included
    val exact = Dedup.jaccardPairs(docs, "doc_id", "text", 3, 0.15)
      .orderBy("id1", "id2").collect().toSeq
    val highCap = Dedup.jaccardPairs(docs, "doc_id", "text", 3, 0.15,
      maxShinglePostings = 100).orderBy("id1", "id2").collect().toSeq
    assert(exact == highCap)
    spark.catalog.clearCache() // release the capped branch's posting caches
  }

  test("LSH bucket cap: a degenerate identical-doc bucket is skipped, small buckets survive") {
    // 20 byte-identical docs → every band's bucket holds all 20 (a
    // quadratic bucket); plus one genuine near-dup pair in its own buckets.
    val mega = (1L to 20L).map(i => (i, "the quick brown fox jumps over the lazy dog again and again"))
    val pair = Seq(
      (100L, "completely separate content about distributed query engines at scale"),
      (101L, "completely separate content about distributed query engines at large scale"))
    val docs = spark.createDataFrame(mega ++ pair).toDF("doc_id", "text")
    def pairsOf(df: org.apache.spark.sql.DataFrame) =
      df.select("id1", "id2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val uncapped = pairsOf(Dedup.minhashLshPairs(docs, "doc_id", "text", 3, 128, 32, 0.5))
    val capped = pairsOf(Dedup.minhashLshPairs(docs, "doc_id", "text", 3, 128, 32, 0.5,
      maxBucketSize = 10))
    assert(uncapped.contains((1L, 2L)) && uncapped.contains((100L, 101L)))
    assert(capped.contains((100L, 101L)), "small-bucket pair lost to the cap")
    assert(!capped.exists(p => p._1 <= 20L && p._2 <= 20L),
      "over-cap bucket still emitted candidate pairs")
    // simhash takes the same knob
    val simCapped = pairsOf(Dedup.simhashPairs(docs, "doc_id", "text", 3, maxBucketSize = 10))
    assert(!simCapped.exists(p => p._1 <= 20L && p._2 <= 20L))
  }

  test("minhash-LSH finds the high-jaccard pairs (recall vs exact)") {
    val docs = spark.read.parquet(s"${sf()}/documents.parquet")
    val exact = Dedup.jaccardPairs(docs, "doc_id", "text", 3, 0.9)
      .select("id1", "id2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.minhashLshPairs(docs, "doc_id", "text", 3, 128, 32, 0.7)
      .select("id1", "id2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // every j≥0.9 pair must be recalled by 32-band LSH at est≥0.7
    assert(exact.subsetOf(lsh), s"missed: ${exact.diff(lsh)}")
  }

  test("simhash verified pairs: emitted ⊆ exact-jaccard set at every scale (round-12)") {
    // raw hamming≤3 banding is a candidate generator whose false-collision
    // count grows ∝ n² (precision measured 0.97 at sf0.01 → 0.27 at sf1);
    // the verified form filters candidates by exact shingle Jaccard, making
    // precision 1.0 BY CONSTRUCTION — pinned here as a subset relation
    // against the exact pair set, plus the hamming contract surviving.
    val docs = spark.read.parquet(s"${sf("sf0.01")}/documents.parquet")
    val verified = Dedup.simhashVerifiedPairs(docs, "doc_id", "text",
      maxHamming = 3, shingleSize = 3, threshold = 0.8)
    val rows = verified.collect()
    assert(rows.nonEmpty, "fixture lost its simhash near-dup pairs")
    assert(rows.forall(_.getAs[Number]("hamming").longValue() <= 3),
      "verified pair outside the declared hamming window")
    assert(rows.forall(_.getAs[Double]("jaccard") >= 0.8),
      "verified pair below the jaccard threshold")
    val emitted = rows.map(r => (r.getAs[Long]("id1"), r.getAs[Long]("id2"))).toSet
    val exact = Dedup.jaccardPairs(docs, "doc_id", "text", 3, 0.8)
      .select("id1", "id2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(emitted.subsetOf(exact),
      s"false positives survived verification: ${emitted.diff(exact).take(5)}")
  }

  test("embedding-LSH pair recall >= 0.9 vs exact cosine pairs at threshold 0.4") {
    // round-8 judge #7: the x2_embed_dup query is rows-only in the oracle
    // (LSH is probabilistic); this pins it to a correctness anchor — the
    // exact brute-force pair set (the x3_cosine_pairs_exact machinery) on
    // the same corpus at the same threshold. LSH verifies candidates with
    // the exact cosine, so precision is 1 by construction and recall is
    // the whole question.
    val e = spark.read.parquet(s"${sf()}/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val a = e.as("a"); val b = e.as("b")
    val exact = a.join(b, col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("id1"), col("b.vec_id").as("id2"),
        graft.functions.VectorFunctions.cosine_sim(col("a.v"), col("b.v")).as("cos"))
      .filter(col("cos") >= 0.4)
      .select("id1", "id2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // the same call shape as the x2_embed_dup query (auto-sized LSH);
    // autoRouteExact off — THIS test pins the sized-LSH path's recall (at
    // the fixture's tiny n the router would otherwise pick the exact join,
    // which the routing test below pins separately)
    val lsh = graft.operators.Dedup.embeddingCosinePairs(
      spark.read.parquet(s"${sf()}/embeddings.parquet"),
      "vec_id", "embedding", dim = 64, nTables = 24, planesPerTable = 4,
      threshold = 0.4, autoRouteExact = false)
      .select("id1", "id2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty, "fixture lost its >= 0.4 cosine pairs")
    assert(lsh.subsetOf(exact), s"LSH emitted non-pairs: ${lsh.diff(exact)}")
    val recall = lsh.intersect(exact).size.toDouble / exact.size
    assert(recall >= 0.9, s"embedding-LSH recall $recall below 0.9 " +
      s"(${exact.size} exact pairs, ${lsh.size} recalled)")
  }

  test("embedding dedup auto-routes to the exact pair join below the LSH break-even, identical output") {
    // a low-threshold TINY corpus (64 vectors — the fixture's 500 already
    // price LSH cheaper in the model) prices exact below the sized LSH
    // plan (round-14 directive: the sizer's own cost model decides) — the
    // plan must carry no LSH machinery and the result must equal brute
    // force
    val rng = new java.util.Random(11L)
    val e = spark.createDataFrame((0 until 64).map(i =>
      (i.toLong, Seq.fill(8)(rng.nextGaussian())))).toDF("vec_id", "embedding")
    val routed = graft.operators.Dedup.embeddingCosinePairs(
      e, "vec_id", "embedding", dim = 8, threshold = 0.4)
    val plan = routed.queryExecution.optimizedPlan.toString
    assert(!plan.contains("sign_buckets"),
      "tiny low-threshold corpus should have routed to the exact join")
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("id1", "id2", "cos").collect()
        .map(r => (r.getLong(0), r.getLong(1),
          math.round(r.getDouble(2) * 1e9))).toSet
    val exact = e.as("a").join(e.as("b"), col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("id1"), col("b.vec_id").as("id2"),
        graft.functions.VectorFunctions.cosine_sim(
          col("a.embedding"), col("b.embedding")).as("cos"))
      .filter(col("cos") >= 0.4)
    assert(pairs(routed) == pairs(exact) && pairs(routed).nonEmpty,
      "routed output diverged from the brute-force form")
    // the cost model itself: tiny n routes, large n does not (th 0.4)
    val small = graft.operators.Dedup.sizeLsh(50, 0.4, maxTables = 256)
    val large = graft.operators.Dedup.sizeLsh(1000000, 0.4, maxTables = 256)
    assert(graft.operators.Dedup.exactPairCostPerPoint(50) <= small.costPerPoint)
    assert(graft.operators.Dedup.exactPairCostPerPoint(1000000) > large.costPerPoint)
  }

  test("connected-components collapse: chain clusters resolve to one min-id rep") {
    // chain 1-2, 2-3 plus isolated pair 10-11: clusters {1,2,3} and {10,11}
    val pairs = spark.createDataFrame(Seq((2L, 3L), (1L, 2L), (10L, 11L)))
      .toDF("id1", "id2")
    val docs = spark.createDataFrame(
      Seq(1L, 2L, 3L, 5L, 10L, 11L).map(Tuple1(_))).toDF("doc_id")
    val kept = graft.operators.Dedup.keepRepresentatives(docs, "doc_id", pairs)
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(kept == Seq(1L, 5L, 10L))
  }

  test("hybrid CC: driver union-find and distributed loop produce identical labels") {
    // random pair sets with chains, stars, and merges — both paths must
    // yield the same (id -> min id of component) map. Multiple seeds and
    // densities: the first version of the driver path silently DROPPED
    // labels via a lazy keysIterator traversed during path-compression
    // writes, and only certain hash-table layouts exposed it — sparse
    // 2-element-component-heavy graphs (seed 7, n=500) reproduce that;
    // dense graphs (seed 99) did not.
    for ((seed, ids, n) <- Seq((99L, 60, 120), (7L, 500, 60), (1234L, 1000, 300))) {
      val rng = new scala.util.Random(seed)
      val pairSet = (0 until n).map { _ =>
        val a = rng.nextInt(ids).toLong; val b = rng.nextInt(ids).toLong
        (math.min(a, b), math.max(a, b))
      }.filter(p => p._1 != p._2).distinct
      val pairs = spark.createDataFrame(pairSet).toDF("id1", "id2")
      val local = graft.operators.Dedup.componentsFromPairs(pairs)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      val dist = graft.operators.Dedup.componentsFromPairs(pairs, localCcMaxPairs = 0)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      assert(local == dist, s"seed $seed: paths disagree: ${dist.toSet.diff(local.toSet)}")
      // every id appearing in any pair must carry a label
      val allIds = pairSet.flatMap(p => Seq(p._1, p._2)).toSet
      assert(local.keySet == allIds, s"seed $seed: labels missing ids " +
        s"${allIds.diff(local.keySet)}")
      // labels are component minima (every label maps to itself)
      local.values.foreach(c => assert(local(c) == c, s"seed $seed: label $c not a root"))
    }
  }

  test("connected components with reliable checkpoints (cluster fault-tolerance mode)") {
    val dir = tempDir("graft-ckpt-cc")
    spark.sparkContext.setCheckpointDir(dir)
    val pairs = spark.createDataFrame(Seq((2L, 3L), (1L, 2L), (10L, 11L)))
      .toDF("id1", "id2")
    // localCcMaxPairs = 0 forces the DISTRIBUTED loop — this test pins the
    // reliable-checkpoint machinery, which the driver path would bypass
    val comps = graft.operators.Dedup.componentsFromPairs(pairs, reliable = true,
        localCcMaxPairs = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(comps == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
  }

  test("LSH end-to-end collapse closely agrees with the exact-Jaccard collapse") {
    val exact = Queries.x2DedupCollapse(spark, sf())
      .collect().map(_.getLong(0)).toSet
    val lsh = Queries.x2DedupCollapseLsh(spark, sf())
      .collect().map(_.getLong(0)).toSet
    val docs = spark.read.parquet(s"${sf()}/documents.parquet").count()
    // both dedup something, and the scale path finds (at least) the clusters
    // the exact path does: est-jaccard 0.7 over-approximates exact 0.8, so
    // LSH keeps a subset-or-equal representative set, never misses a merge
    assert(exact.size < docs && lsh.size < docs)
    assert(lsh.subsetOf(exact), s"LSH kept non-representatives: ${lsh.diff(exact)}")
    assert(lsh.size >= exact.size - 5, s"LSH over-merged: ${exact.size} vs ${lsh.size}")
  }

  test("brute-force top-k: ranks are 1..k, scores non-increasing, no self-match") {
    val e = spark.read.parquet(s"${sf()}/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
    val out = Similarity.bruteForceTopK(e, e.filter(col("vec_id") < 3), "vec_id", "embedding", 5)
      .orderBy("query_id", "rank").collect()
    assert(out.length == 15)
    out.groupBy(_.getLong(0)).foreach { case (_, rows) =>
      val ranks = rows.map(_.getInt(1)).toSeq
      assert(ranks == (1 to 5))
      val scores = rows.sortBy(_.getInt(1)).map(_.getDouble(3)).toSeq
      assert(scores.zip(scores.tail).forall { case (x, y) => x >= y })
    }
    assert(out.forall(r => r.getLong(0) != r.getLong(2)))
  }

  test("IVF ANN with k-means centroids: recall@10 vs exact on the real embeddings") {
    // This table's top-10 "neighbors" sit at cosine 0.25–0.39 — essentially
    // scattered points, not cluster-mates. A quantizer upper-bound experiment
    // (numpy k-means, 5 restarts) caps SINGLE-assignment recall@10 at
    // ~0.5–0.8 for nProbe=4/16 here; nAssign=2 multiple assignment (each
    // vector indexed in its 2 nearest cells) breaks that cap — measured
    // 0.65→0.875 @ nProbe=4 and 0.86→0.96 @ nProbe=8 (8-query probe) — so
    // the bars sit just under the measured levels: 0.85 @ 4 probes and
    // 0.9 @ 8 (the old 0.8 bar left room for a regression from the
    // measured 0.875 to hide under it). The >=0.9 @ nProbe=4
    // single-assignment contract is asserted on genuinely clustered data in
    // the next test, where the IVF assumption actually holds.
    val e = spark.read.parquet(s"${sf()}/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
    val q = e.filter(col("vec_id") < 3)
    val exact = Similarity.bruteForceTopK(e, q, "vec_id", "embedding", 10)
      .select("query_id", "neighbor_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def recallAt(nProbe: Int): Double = {
      val ann = Similarity.ivfTopK(e, q, "vec_id", "embedding", 10, 16, nProbe, nAssign = 2)
        .select("query_id", "neighbor_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      exact.intersect(ann).size.toDouble / exact.size
    }
    val r4 = recallAt(4); val r8 = recallAt(8)
    assert(r4 >= 0.85, s"recall $r4 below 0.85 at nProbe=4 with nAssign=2")
    assert(r8 >= 0.9, s"recall $r8 below 0.9 at nProbe=8 with nAssign=2")
  }

  test("int8 quantized cosine tracks the exact cosine within the rounding bound") {
    val e = spark.read.parquet(s"${sf()}/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
    val a = e.select(col("vec_id").as("ida"), col("embedding").as("va"),
      graft.functions.VectorFunctions.quantize_vec(col("embedding")).as("qa"))
    val b = e.select(col("vec_id").as("idb"), col("embedding").as("vb"),
      graft.functions.VectorFunctions.quantize_vec(col("embedding")).as("qb"))
    val err = a.join(b, col("ida") < col("idb") && col("idb") < 50)
      .select(abs(
        graft.functions.VectorFunctions.quantized_cos(col("qa"), col("qb")) -
          graft.functions.VectorFunctions.cosine_sim(col("va"), col("vb"))).as("e"))
      .agg(max(col("e"))).head.getDouble(0)
    // per-element rounding is a half-step of 1/127 on each side; on these
    // unit vectors the observed max is well under 2e-2
    assert(err <= 0.02, s"quantized cosine error $err above the int8 bound")
    // self-similarity must survive quantization exactly enough to rank first
    val self = a.select(
      graft.functions.VectorFunctions.quantized_cos(col("qa"), col("qa")).as("s"))
      .agg(min(col("s"))).head.getDouble(0)
    assert(self >= 0.98, s"quantized self-cosine $self drifted")
  }

  test("quantized top-k with exact re-rank reproduces the exact top-k (the oracle contract)") {
    // the x3_knn_quantized oracle reuses x3_knn_exact's SQL, so the widened
    // candidate stage must never lose a true top-10 neighbor on this
    // fixture; assert it directly over a wider query set than the query uses
    val e = spark.read.parquet(s"${sf()}/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
    val q = e.filter(col("vec_id") < 8)
    val exact = Similarity.bruteForceTopK(e, q, "vec_id", "embedding", 10)
      .select("query_id", "rank", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val quant = Similarity.quantizedTopK(e, q, "vec_id", "embedding", 10, refine = 4)
      .select("query_id", "rank", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(quant == exact,
      s"quantized+rerank diverged from exact: missing ${exact.diff(quant).take(5)}, " +
        s"extra ${quant.diff(exact).take(5)}")
  }

  test("quantized struct survives a parquet round trip (store-then-score flow)") {
    // file sources force read schemas nullable; quantized_cos must accept
    // its own round-tripped column or Similarity.quantized is write-only
    val e = spark.read.parquet(s"${sf()}/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
      .limit(20)
    val dir = tempDir("graft-quant")
    try {
      graft.operators.Similarity.quantized(e, "embedding")
        .write.mode("overwrite").parquet(dir)
      val back = spark.read.parquet(dir)
      val n = back.as("a").join(back.as("b"), col("a.vec_id") < col("b.vec_id"))
        .select(graft.functions.VectorFunctions.quantized_cos(
          col("a.embedding"), col("b.embedding")).as("s"))
        .filter(col("s").isNotNull).count()
      assert(n == 20L * 19 / 2, s"round-tripped scoring lost rows: $n")
    } finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(java.nio.file.Paths.get(dir)).iterator().asScala
        .toSeq.reverse.foreach(java.nio.file.Files.deleteIfExists(_))
    }
  }

  test("quantize_vec handles zero vectors and dimension mismatches as null scores") {
    val df = spark.createDataFrame(Seq(
      (1L, Seq(0.0, 0.0, 0.0)),
      (2L, Seq(1.0, 2.0, -3.0)),
      (3L, Seq(1.0, 2.0)))).toDF("id", "v")
      .withColumn("q", graft.functions.VectorFunctions.quantize_vec(col("v")))
    val a = df.as("a"); val b = df.as("b")
    val scores = a.join(b, col("a.id") < col("b.id"))
      .select(col("a.id"), col("b.id"),
        graft.functions.VectorFunctions.quantized_cos(col("a.q"), col("b.q")).as("s"))
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.isNullAt(2))).toMap
    assert(scores((1L, 2L)), "zero-norm side must yield null, not NaN")
    assert(scores((2L, 3L)), "dimension mismatch must yield null")
    assert(scores((1L, 3L)), "zero norm beats dim check — still null")
  }

  test("contamination screen: identical doc scores 1.0, disjoint doc 0.0, every corpus doc reported") {
    val docs = spark.createDataFrame(Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),    // bench
      (10L, "the quick brown fox jumps over the lazy dog"),   // exact dup -> 1.0
      (11L, "completely different words entirely here now"),  // disjoint -> 0.0
      (12L, "the quick brown fox sat still today fine"),      // partial overlap
      (13L, "ab"))                                            // short doc: one whole-text shingle
    ).toDF("doc_id", "text")
    val out = graft.operators.TextAnalysis.contamination(
        docs.filter(col("doc_id") >= 10), docs.filter(col("doc_id") < 10),
        "doc_id", "text", shingleSize = 3)
      .collect().map(r => (r.getLong(0), r.getDouble(3))).toMap
    assert(out.keySet == Set(10L, 11L, 12L, 13L), "zero-matched docs must still be reported")
    assert(out(10L) == 1.0, s"exact dup scored ${out(10L)}")
    assert(out(11L) == 0.0, s"disjoint doc scored ${out(11L)}")
    assert(out(12L) > 0.0 && out(12L) < 1.0, s"partial overlap scored ${out(12L)}")
    assert(out(13L) == 0.0)
  }

  test("weighted mix keeps floor(n*w) rows per stratum, evenly spread, deterministically") {
    val docs = spark.read.parquet(s"${sf()}/documents.parquet")
      .select("doc_id", "source")
    val perStratum = docs.groupBy("source").count().collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    val out = graft.operators.TextAnalysis.weightedMix(docs, "source", "doc_id",
      Map("src0" -> 1.0, "src1" -> 0.5, "src2" -> 0.25), defaultWeight = 0.1)
    val kept = out.groupBy("source").count().collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    assert(kept("src0") == perStratum("src0"), "weight 1.0 must keep everything")
    assert(kept("src1") == perStratum("src1") / 2)
    assert(kept("src2") == perStratum("src2") / 4)
    assert(kept("src3") == (perStratum("src3") * 0.1).floor.toLong,
      s"default weight misapplied: ${kept("src3")} of ${perStratum("src3")}")
    // determinism: a second run selects the identical ids
    val out2 = graft.operators.TextAnalysis.weightedMix(docs, "source", "doc_id",
      Map("src0" -> 1.0, "src1" -> 0.5, "src2" -> 0.25), defaultWeight = 0.1)
    assert(out.exceptAll(out2).isEmpty && out2.exceptAll(out).isEmpty)
    val e = intercept[IllegalArgumentException] {
      graft.operators.TextAnalysis.weightedMix(docs, "source", "doc_id", Map("src0" -> 1.5))
    }
    assert(e.getMessage.contains("[0, 1]"))
  }

  test("projection-form contamination scores identically to the join form") {
    val docs = spark.read.parquet(s"${sf()}/documents.parquet")
    val corpus = docs.filter(col("doc_id") >= 20)
    val bench = docs.filter(col("doc_id") < 20)
    val joined = graft.operators.TextAnalysis.contamination(
      corpus, bench, "doc_id", "text", shingleSize = 3)
    val hashes = graft.operators.TextAnalysis.benchShingleHashes(bench, "text", 3)
    val projected = graft.operators.TextAnalysis.contaminationStream(
      corpus, hashes, "doc_id", "text", shingleSize = 3)
      .select("doc_id", "n_shingles", "matched", "contamination")
    assert(projected.exceptAll(joined).isEmpty && joined.exceptAll(projected).isEmpty,
      "projection form diverged from the join form")
  }

  test("IVF multi-assignment emits each (query, neighbor) at most once per rank list") {
    val e = spark.read.parquet(s"${sf()}/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
    val out = Similarity.ivfTopK(e, e.filter(col("vec_id") < 3), "vec_id", "embedding",
      10, 16, 8, nAssign = 3)
    val dups = out.groupBy("query_id", "neighbor_id").count()
      .filter(col("count") > 1).count()
    assert(dups == 0, "a neighbor claimed two ranks after multi-assignment")
  }

  test("snapshot drift: exact report catches an injected category collapse and value shift (X29)") {
    val oldDf = spark.createDataFrame((0 until 1000)
      .map(i => (i.toDouble / 100.0, if (i % 4 == 0) "rare" else "common")))
      .toDF("value", "event_type")
    // new snapshot: category 'rare' collapsed, values shifted +5, 10% nulls
    val newDf = spark.createDataFrame((0 until 1000)
      .map(i => (if (i % 10 == 0) None
                 else Some(i.toDouble / 100.0 + 5.0), "common")))
      .toDF("value", "event_type")
    val rep = graft.operators.Drift.driftReport(oldDf, newDf,
      Seq("value"), Seq("event_type"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r).toMap
    // old mean = avg(0..9.99) = 4.995; new mean = avg over the 900
    // non-null shifted values = 5.0 + 5 = 10.0 → delta 5.005
    val mean = rep(("value", "mean"))
    assert(math.abs(mean.getDouble(4) - 5.005) < 1e-9,
      s"mean delta ${mean.getDouble(4)} missed the +5 shift")
    assert(math.abs(rep(("value", "null_rate")).getDouble(4) - 0.1) < 1e-9,
      "null-rate delta missed the injected 10% nulls")
    val l1 = rep(("event_type", "freq_l1"))
    // p_old = (0.25 rare, 0.75 common), p_new = (0, 1) → L1 = 0.25 + 0.25
    assert(l1.getDouble(2) == 2.0 && l1.getDouble(3) == 1.0,
      "category counts missed the collapse")
    assert(math.abs(l1.getDouble(4) - 0.5) < 1e-9,
      s"freq L1 ${l1.getDouble(4)} != 0.5 for the 25%-mass collapse")
  }

  test("snapshot drift: categorical null-rate spike and full collapse are visible (X29)") {
    // a null-rate spike with UNCHANGED relative frequencies is invisible
    // to freq_l1 (the frequency leg excludes nulls by design) — the
    // categorical null_rate row is what catches it
    val oldDf = spark.createDataFrame((0 until 1000)
      .map(i => (i, Some(if (i % 4 == 0) "a" else "b"))))
      .toDF("id", "event_type")
    // 50% null; among the 500 non-null rows (odd i) the a:b split stays
    // 25:75 (i%8==1 → 125 of 500 are "a") — relative frequencies unchanged
    val spiked = spark.createDataFrame((0 until 1000)
      .map(i => (i, if (i % 2 == 0) None else Some(if (i % 8 == 1) "a" else "b"))))
      .toDF("id", "event_type")
    val rep = graft.operators.Drift.driftReport(oldDf, spiked, Nil, Seq("event_type"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r).toMap
    assert(math.abs(rep(("event_type", "null_rate")).getDouble(4) - 0.5) < 1e-9,
      "categorical null_rate row missed the 50% null spike")
    assert(math.abs(rep(("event_type", "freq_l1")).getDouble(4) - 0.0) < 1e-9,
      "unchanged relative frequencies should report zero L1")
    // a FULLY collapsed (all-null) new side must report the maximal L1
    // 2.0, not a divide-by-zero null
    val collapsed = spark.createDataFrame((0 until 1000)
      .map(i => (i, None: Option[String]))).toDF("id", "event_type")
    val rep2 = graft.operators.Drift.driftReport(oldDf, collapsed, Nil, Seq("event_type"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r).toMap
    val l1 = rep2(("event_type", "freq_l1"))
    assert(!l1.isNullAt(4) && l1.getDouble(4) == 2.0,
      s"all-null new side should report maximal drift 2.0, got ${l1.get(4)}")
    // both sides empty: no distribution on either side → 0.0 by convention
    val rep3 = graft.operators.Drift.driftReport(collapsed, collapsed, Nil, Seq("event_type"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r).toMap
    val l13 = rep3(("event_type", "freq_l1"))
    assert(!l13.isNullAt(4) && l13.getDouble(4) == 0.0,
      s"both-empty sides should report 0.0 drift, got ${l13.get(4)}")
  }

  test("heavy-hitter drift: vanished and newborn heavy keys surface with exact fractions (X29)") {
    // old: 30% "gone", 60% "stays", 10% singleton tail; new: "gone"
    // vanished, 40% "born" appeared, "stays" slipped to 50%
    val oldDf = spark.createDataFrame(
      (Seq.fill(300)("gone") ++ Seq.fill(600)("stays") ++
        (0 until 100).map(i => s"t$i")).map(Tuple1(_))).toDF("cat")
    val newDf = spark.createDataFrame(
      (Seq.fill(500)("stays") ++ Seq.fill(400)("born") ++
        (0 until 100).map(i => s"u$i")).map(Tuple1(_))).toDF("cat")
    val out = graft.operators.Drift.heavyHitterDrift(oldDf, newDf, "cat", 0.1)
      .collect().map(r => r.getString(2) ->
        (r.getDouble(3), r.getDouble(4), r.getDouble(5))).toMap
    assert(out.keySet == Set("gone", "stays", "born"),
      s"heavy set ${out.keySet} missed a vanished/newborn key or leaked tail")
    assert(out("gone") == ((0.3, 0.0, -0.3)), s"vanished key ${out("gone")}")
    assert(out("born") == ((0.0, 0.4, 0.4)), s"newborn key ${out("born")}")
    assert(math.abs(out("stays")._3 - (-0.1)) < 1e-12, s"shifted key ${out("stays")}")
  }

  test("histogram drift: exact bin placement, PSI formula, and a mean-preserving shape change (X29)") {
    def df(vs: Seq[Double]) =
      spark.createDataFrame(vs.map(Tuple1(_))).toDF("v")
    // bin placement: [10, 20), 2 bins of width 5 — lo lands in b0, hi in
    // over (half-open bins), out-of-range mass in under/over, nulls dropped
    val edges = spark.createDataFrame(Seq(
      Some(9.999), Some(10.0), Some(14.999), Some(15.0), Some(19.999),
      Some(20.0), Some(25.0), Some(16.0), None).map(Tuple1(_))).toDF("v")
    val placed = graft.operators.Drift.histogramDrift(
        edges, edges, "v", 10.0, 20.0, 2)
      .collect().map(r => Option(r.getString(2)).getOrElse("psi") ->
        (r.getDouble(3), r.getDouble(4))).toMap
    // every bin gets a DISTINCT fraction (1/8, 2/8, 3/8, 2/8 — b0 vs over
    // disambiguated by the under/b1 counts), so a placement swap cannot
    // cancel out: 9.999 → under, 10.0 → b0 (lo inclusive), 14.999 → b0,
    // 15.0/16.0/19.999 → b1 (hi exclusive), 20.0/25.0 → over, null dropped
    assert(placed("under")._1 == 0.125 && placed("b0")._1 == 0.25 &&
      placed("b1")._1 == 0.375 && placed("over")._1 == 0.25,
      s"bin placement wrong: $placed")
    assert(placed("psi") == ((8.0, 8.0)), "nulls leaked into the total")
    // PSI hand-check: old (0.5, 0.5) vs new (0.25, 0.75) over 2 bins =
    // (0.25−0.5)·ln(0.25/0.5) + (0.75−0.5)·ln(0.75/0.5); mean moves
    // 6.5 → 11.25 here, so ALSO pin a mean-preserving case below
    val out = graft.operators.Drift.histogramDrift(
        df(Seq(1, 2, 11, 12)), df(Seq(3, 13, 14, 15)), "v", 0.0, 20.0, 2)
      .collect().map(r => Option(r.getString(2)).getOrElse("psi") ->
        r.getDouble(5)).toMap
    val expected = -0.25 * math.log(0.5) + 0.25 * math.log(1.5)
    assert(math.abs(out("psi") - expected) < 1e-12,
      s"PSI ${out("psi")} != hand-computed $expected")
    assert(math.abs(out("b0") - -0.25) < 1e-12 &&
      math.abs(out("b1") - 0.25) < 1e-12, s"bin_frac deltas: $out")
    // the reason this leg exists: a shape change with UNCHANGED mean
    // (mass splits symmetrically outward) — mean delta is exactly 0,
    // PSI sees the split
    val uni = df(Seq.fill(100)(50.0))
    val bimod = df(Seq.fill(50)(25.0) ++ Seq.fill(50)(75.0))
    val meanDelta = graft.operators.Drift.driftReport(uni, bimod, Seq("v"), Nil)
      .filter(col("metric") === "mean").collect().head.getDouble(4)
    assert(meanDelta == 0.0, s"fixture broken: mean moved $meanDelta")
    val psi = graft.operators.Drift.histogramDrift(uni, bimod, "v", 0.0, 100.0, 4)
      .filter(col("metric") === "psi").collect().head.getDouble(5)
    assert(psi > 5.0, s"mean-preserving bimodal split scored PSI $psi — " +
      "the histogram leg exists to catch exactly this")
    // empty new side: clamped fractions give a large FINITE score that
    // gates; both sides empty reports (0, 0, 0.0)
    val empty = df(Nil)
    val collapsed = graft.operators.Drift.histogramDrift(
        df(Seq(1, 11)), empty, "v", 0.0, 20.0, 2)
      .filter(col("metric") === "psi").collect().head
    assert(collapsed.getDouble(3) == 2.0 && collapsed.getDouble(4) == 0.0 &&
      collapsed.getDouble(5) > 5.0 && !collapsed.getDouble(5).isInfinite,
      s"empty-side PSI row: $collapsed")
    val both = graft.operators.Drift.histogramDrift(
        empty, empty, "v", 0.0, 20.0, 2).collect()
    assert(both.length == 1 && both.head.getString(1) == "psi" &&
      both.head.getDouble(5) == 0.0, "both-empty should be one zero psi row")
    // gated composition: the PSI bound fails the job with the row named
    val e = intercept[Exception] {
      graft.operators.Drift.gated(
        graft.operators.Drift.histogramDrift(uni, bimod, "v", 0.0, 100.0, 4),
        Map("psi" -> 0.25), Map.empty).collect()
    }
    assert(e.getMessage.contains("drift gate violated") &&
      e.getMessage.contains("v/psi"), e.getMessage)
  }

  test("embedding drift: centroid shift/L2 hand-checks, null handling, empty-side convention (X29)") {
    def df(vs: Seq[Option[Seq[Float]]]) =
      spark.createDataFrame(vs.map(Tuple1(_))).toDF("e")
    def rows(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(r => r.getString(1) ->
        (r.getDouble(2), r.getDouble(3), r.getDouble(4))).toMap
    val ex = Some(Seq(1f, 0f)); val ey = Some(Seq(0f, 1f))
    // orthogonal centroids, unit vectors: shift = 1 − cos(90°) = 1,
    // L2 = √2; a null vector on the new side is excluded from count,
    // norm, and centroid alike
    val ortho = rows(graft.operators.Drift.embeddingDrift(
      df(Seq(ex, ex)), df(Seq(ey, ey, None)), "e"))
    assert(ortho("row_count") == ((2.0, 2.0, 0.0)), s"null leaked: $ortho")
    assert(ortho("mean_norm")._3 == 0.0 && ortho("mean_norm")._1 == 1.0)
    assert(ortho("centroid_shift")._3 == 1.0, s"orthogonal shift: $ortho")
    assert(math.abs(ortho("centroid_l2")._3 - math.sqrt(2)) < 1e-6)
    // identical snapshots: every delta is exactly 0.0 (the 6-decimal
    // rounding clamps summation-order noise, and −0 is normalized)
    val same = rows(graft.operators.Drift.embeddingDrift(
      df(Seq(ex, ey)), df(Seq(ex, ey)), "e"))
    assert(same.values.forall(_._3 == 0.0), s"identical snapshots: $same")
    // opposite centroids: shift = 1 − cos(180°) = 2 — same value as the
    // empty-side convention, maximal on the metric's [0, 2] range
    val opp = rows(graft.operators.Drift.embeddingDrift(
      df(Seq(ex)), df(Seq(Some(Seq(-1f, 0f)))), "e"))
    assert(opp("centroid_shift")._3 == 2.0, s"antipodal shift: $opp")
    // empty new side (all-null counts as empty): maximal shift 2.0,
    // zero counts/norms on the empty side; both-empty reports 0.0
    val gone = rows(graft.operators.Drift.embeddingDrift(
      df(Seq(ex, ey)), df(Seq(None)), "e"))
    assert(gone("row_count") == ((2.0, 0.0, -2.0)), s"empty new side: $gone")
    assert(gone("centroid_shift")._3 == 2.0 && gone("mean_norm")._2 == 0.0)
    val both = rows(graft.operators.Drift.embeddingDrift(
      df(Nil), df(Nil), "e"))
    assert(both("centroid_shift")._3 == 0.0 && both("row_count") == ((0.0, 0.0, 0.0)),
      s"both-empty: $both")
    // direction symmetry: the centroid metrics are metrics (shift/L2
    // deltas identical under snapshot swap), row_count/mean_norm deltas
    // negate — the same discipline the scalar report pins
    val ab = rows(graft.operators.Drift.embeddingDrift(
      df(Seq(ex, ex, ey)), df(Seq(ex, ey)), "e"))
    val ba = rows(graft.operators.Drift.embeddingDrift(
      df(Seq(ex, ey)), df(Seq(ex, ex, ey)), "e"))
    assert(ab("centroid_shift")._3 == ba("centroid_shift")._3 &&
      ab("centroid_l2")._3 == ba("centroid_l2")._3, s"$ab vs $ba")
    assert(ab("row_count")._3 == -ba("row_count")._3 &&
      ab("mean_norm")._3 == -ba("mean_norm")._3, s"$ab vs $ba")
    // scale invariance: multiplying every new-side vector by the same
    // positive constant leaves centroid_shift at 0.0 (it is angular —
    // exactly why it catches a re-embedding and IGNORES a benign global
    // rescale), while mean_norm catches the rescale itself
    val scaled = rows(graft.operators.Drift.embeddingDrift(
      df(Seq(ex, ey)), df(Seq(Some(Seq(3f, 0f)), Some(Seq(0f, 3f)))), "e"))
    assert(scaled("centroid_shift")._3 == 0.0, s"rescale moved the angle: $scaled")
    assert(scaled("mean_norm")._3 == 2.0, s"rescale invisible to mean_norm: $scaled")
    // gated composition: a centroid-shift bound fails the job by name
    val e = intercept[Exception] {
      graft.operators.Drift.gated(
        graft.operators.Drift.embeddingDrift(df(Seq(ex)), df(Seq(ey)), "e"),
        Map("centroid_shift" -> 0.5), Map.empty).collect()
    }
    assert(e.getMessage.contains("drift gate violated") &&
      e.getMessage.contains("e/centroid_shift"), e.getMessage)
  }

  test("embedding summary artifact: drift from STORED summaries equals direct drift (X29 100 TB form)") {
    // the no-rescan discipline (same as driftFromSketches over the X25
    // tables): write the ≤ dim-row summary at crawl time, and drift
    // between any two historical snapshots is a dim-row join of stored
    // artifacts. Pinned through a real parquet round-trip on real data;
    // deltas (6-decimal-rounded gate quantities) must agree exactly, the
    // unrounded centroid norms to double precision (the fold order over
    // the collected dimension cells may differ between runs)
    val emb = spark.read.parquet(s"${sf()}/embeddings.parquet")
    val o = emb; val n = emb.filter(col("label") < 8)
    def rows(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(r => r.getString(1) ->
        (r.getDouble(2), r.getDouble(3), r.getDouble(4))).toMap
    val direct = rows(graft.operators.Drift.embeddingDrift(o, n, "embedding"))
    val dir = java.nio.file.Files.createTempDirectory("graft_embed_summary").toString
    graft.operators.Drift.embeddingSummary(o, "embedding")
      .write.mode("overwrite").parquet(s"$dir/old")
    graft.operators.Drift.embeddingSummary(n, "embedding")
      .write.mode("overwrite").parquet(s"$dir/new")
    val stored = rows(graft.operators.Drift.embeddingDriftFromSummaries(
      spark.read.parquet(s"$dir/old"), spark.read.parquet(s"$dir/new"),
      "embedding"))
    assert(stored.keySet == direct.keySet && direct.size == 4)
    for ((m, (ov, nv, dl)) <- direct; (ov2, nv2, dl2) = stored(m)) {
      assert(dl2 == dl, s"$m delta: stored $dl2 != direct $dl")
      assert(math.abs(ov2 - ov) < 1e-9 && math.abs(nv2 - nv) < 1e-9,
        s"$m old/new drifted through storage: ($ov2,$nv2) vs ($ov,$nv)")
    }
    // the artifact is small enough to keep forever: one row per dimension
    val nrows = spark.read.parquet(s"$dir/old").count()
    assert(nrows == 64, s"summary should be dim rows, got $nrows")
    // summaries are LINEAR: shard the corpus, summarize each shard, merge
    // by summation — the merged artifact must drift identically to the
    // one-shot summary (daily crawls → weekly snapshot without a rescan)
    val shardA = graft.operators.Drift.embeddingSummary(
      o.filter(col("vec_id") % 2 === 0), "embedding")
    val shardB = graft.operators.Drift.embeddingSummary(
      o.filter(col("vec_id") % 2 =!= 0), "embedding")
    val merged = graft.operators.Drift.mergeEmbeddingSummaries(
      shardA.unionByName(shardB))
    val viaMerge = rows(graft.operators.Drift.embeddingDriftFromSummaries(
      merged, spark.read.parquet(s"$dir/new"), "embedding"))
    for ((m, (ov, nv, dl)) <- direct; (ov2, nv2, dl2) = viaMerge(m)) {
      assert(dl2 == dl, s"$m delta via merge: $dl2 != direct $dl")
      assert(math.abs(ov2 - ov) < 1e-9 && math.abs(nv2 - nv) < 1e-9,
        s"$m old/new drifted through the shard merge: ($ov2,$nv2) vs ($ov,$nv)")
    }
  }

  test("embedding summary excludes vectors with NaN/null ELEMENTS — one bad vector must not NaN-poison the drift gate") {
    // round-15 ADVICE: the scalar histogram leg filters NaN, the embedding
    // leg did not — a single NaN element turned every metric NaN (read as
    // a NULL-delta violation by gated, hard-failing the gate), and a null
    // element silently skewed mean_norm (counted in n, absent from
    // norm_sum). Both row kinds are now excluded like null vectors; their
    // absence still surfaces as row_count drift.
    val clean = Seq(Seq[java.lang.Float](1f, 0f), Seq[java.lang.Float](0f, 1f))
    val dirty = clean ++ Seq(
      Seq[java.lang.Float](Float.NaN, 1f),          // NaN element
      Seq[java.lang.Float](null, 1f))               // null element
    def df(rows: Seq[Seq[java.lang.Float]]) =
      spark.createDataFrame(rows.map(Tuple1(_))).toDF("e")
    val sum = graft.operators.Drift.embeddingSummary(df(dirty), "e")
      .collect().map(r => r.getInt(0) ->
        (r.getDouble(1), r.getDouble(2), r.getDouble(3))).toMap
    // only the two clean vectors contribute: n = 2 on every dimension row,
    // sums finite and equal to the clean-frame sums
    assert(sum.values.forall(_._3 == 2.0), s"bad vectors counted: $sum")
    assert(sum.values.forall { case (s, nrm, _) => !s.isNaN && !nrm.isNaN },
      s"NaN leaked into the summary: $sum")
    // end to end: dirty-vs-clean drift is finite everywhere, and the bad
    // vectors do NOT trip a centroid gate (same distribution), while the
    // row_count metric still sees them as excluded rows
    val report = graft.operators.Drift.gated(
      graft.operators.Drift.embeddingDrift(df(clean), df(dirty), "e"),
      Map("centroid_shift" -> 0.01), Map.empty)
    val rows = report.collect().map(r => r.getString(1) -> r.getDouble(4)).toMap
    assert(rows("row_count") == 0.0 && rows("centroid_shift") == 0.0,
      s"clean-vs-dirty should be identical after exclusion: $rows")
  }

  test("per-group embedding drift pinpoints the moved stratum; surviving groups report zero (X29)") {
    // the grouped leg's reason to exist: dropping clusters 8–9 moves the
    // GLOBAL centroid a diluted ~0.13, but per-label rows say exactly
    // which clusters vanished (shift 2.0, exact counts) while all eight
    // survivors sit at exactly 0.0 on every metric
    val emb = spark.read.parquet(s"${sf()}/embeddings.parquet")
    val out = graft.operators.Drift.embeddingDriftByGroup(
        emb, emb.filter(col("label") < 8), "embedding", "label")
      .collect().map(r => (r.getString(1), r.getString(2)) ->
        (r.getDouble(3), r.getDouble(4), r.getDouble(5))).toMap
    val labels = (0 to 9).map(_.toString)
    assert(out.keySet == labels.flatMap(l => Seq("row_count", "mean_norm",
      "centroid_shift", "centroid_l2").map(_ -> l)).toSet)
    for (l <- labels if l < "8") {
      assert(out(("centroid_shift", l))._3 == 0.0 &&
        out(("row_count", l))._3 == 0.0, s"survivor $l drifted: $out")
    }
    for (l <- Seq("8", "9")) {
      val (oldN, newN, d) = out(("row_count", l))
      assert(newN == 0.0 && d == -oldN && oldN > 0, s"vanished $l: $out")
      assert(out(("centroid_shift", l))._3 == 2.0,
        s"vanished $l should carry maximal shift: $out")
    }
    // the same snapshots through the UNGROUPED form: one diluted number —
    // the contrast that justifies the stratified report
    val global = graft.operators.Drift.embeddingDrift(
        emb, emb.filter(col("label") < 8), "embedding")
      .filter(col("metric") === "centroid_shift").collect().head.getDouble(4)
    assert(global > 0.05 && global < 0.5, s"global shift diluted to $global")
    // a NULL stratum is excluded (categorical-leg convention): null group
    // keys never join across sides, so keeping them would double-report
    // one population as vanished AND newborn
    val withNull = spark.createDataFrame(Seq(
      (Some("a"), Seq(1f, 0f)), (None: Option[String], Seq(0f, 1f))))
      .toDF("g", "e")
    val cats = graft.operators.Drift.embeddingDriftByGroup(
        withNull, withNull, "e", "g")
      .select("category").distinct().collect().map(_.getString(0)).toSet
    assert(cats == Set("a"), s"null stratum leaked into the report: $cats")
  }

  test("grouped windowed drift monitor: per-stratum cells match the snapshot form; a newborn stratum flags maximal shift (X29)") {
    // the grouped monitor's batch form against a baseline built from the
    // 8-cluster subset: for any single window holding ALL the data, each
    // (window, label) cell must equal embeddingDriftByGroup's row for that
    // label computed over the same populations — and labels 8/9 (absent
    // from the baseline) are NEWBORN: old side 0, centroid_shift 2.0,
    // pass=false under a shift bound while surviving labels pass
    val emb = spark.read.parquet(s"${sf()}/embeddings.parquet")
      .withColumn("ts", lit(java.sql.Timestamp.valueOf("2024-01-01 05:00:00")))
    val oldSide = emb.filter(col("label") < 8)
    val baseline = graft.operators.Drift.embeddingSummary(
      oldSide, "embedding", Some("label"))
    val out = graft.operators.Drift.windowedEmbeddingDrift(
        emb, "embedding", Some("label"),
        org.apache.spark.sql.functions.window(col("ts"), "1 day"), baseline,
        Map("centroid_shift" -> 0.5), Map.empty)
      .collect().map(r => (r.getString(2), r.getString(3)) ->
        (r.getDouble(4), r.getDouble(5), r.getDouble(6), r.getBoolean(8))).toMap
    val want = graft.operators.Drift.embeddingDriftByGroup(
        oldSide, emb, "embedding", "label")
      .collect().map(r => (r.getString(1), r.getString(2)) ->
        (r.getDouble(3), r.getDouble(4), r.getDouble(5))).toMap
    assert(out.keySet == want.keySet, s"cell sets diverged: ${out.keySet}")
    want.foreach { case (k, (o, n, d)) =>
      val (go, gn, gd, _) = out(k)
      assert(go == o && gn == n && gd == d, s"cell $k diverged: " +
        s"monitor ($go,$gn,$gd) vs snapshot form ($o,$n,$d)")
    }
    for (l <- Seq("8", "9")) {
      assert(out(("centroid_shift", l))._3 == 2.0 && !out(("centroid_shift", l))._4,
        s"newborn $l must flag maximal shift: ${out(("centroid_shift", l))}")
    }
    assert((0 to 7).forall(l => out(("centroid_shift", l.toString))._4),
      "surviving strata must pass the shift bound")
  }

  test("drift gate: a violated bound fails evaluation with a named violation; specific keys win (X29)") {
    val oldDf = spark.createDataFrame((0 until 1000)
      .map(i => (i, Some(if (i % 4 == 0) "a" else "b"))))
      .toDF("id", "event_type")
    val collapsed = spark.createDataFrame((0 until 1000)
      .map(i => (i, None: Option[String]))).toDF("id", "event_type")
    val rep = graft.operators.Drift.driftReport(oldDf, collapsed, Nil, Seq("event_type"))
    // injected collapse (freq_l1 = 2.0) against a 0.5 bound: the job fails
    // with the violation named — no runner-specific plumbing needed
    val e = intercept[Exception] {
      graft.operators.Drift.gated(rep, Map("freq_l1" -> 0.5), Map.empty).collect()
    }
    assert(e.getMessage.contains("drift gate violated") &&
      e.getMessage.contains("event_type/freq_l1"), e.getMessage)
    // a col-specific key overrides the bare-metric key (most specific wins)
    val ok = graft.operators.Drift.gated(rep,
      Map("event_type.freq_l1" -> 2.5, "freq_l1" -> 0.5,
        "null_rate" -> 1.5), Map.empty).collect()
    assert(ok.forall(_.getBoolean(5)), "clean bounds should pass every row")
    // no bounds declared → the report is returned unchanged (no pass col)
    assert(!graft.operators.Drift.gated(rep, Map.empty, Map.empty)
      .columns.contains("pass"))
  }

  test("snapshot drift is antisymmetric: swapping snapshots negates numeric deltas, preserves freq L1 (X29)") {
    // a structural consistency check across the whole metric surface on
    // real data: driftReport(new, old) must be driftReport(old, new) with
    // old/new columns swapped — numeric deltas negate exactly, the L1
    // distance (a metric) is direction-free
    val ev = spark.read.parquet(s"${sf()}/events.parquet")
      .withColumn("__t", col("ts").cast("timestamp"))
    val split = lit("2024-01-16").cast("timestamp")
    val o = ev.filter(col("__t") < split); val n = ev.filter(col("__t") >= split)
    def rows(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getDouble(2), r.getDouble(3), r.getDouble(4))).toMap
    val fwd = rows(graft.operators.Drift.driftReport(o, n, Seq("value"), Seq("event_type")))
    val rev = rows(graft.operators.Drift.driftReport(n, o, Seq("value"), Seq("event_type")))
    assert(fwd.keySet == rev.keySet && fwd.nonEmpty)
    fwd.foreach { case (k @ (_, metric), (ov, nv, d)) =>
      val (rov, rnv, rd) = rev(k)
      assert(rov == nv && rnv == ov, s"$k old/new did not swap")
      if (metric == "freq_l1") assert(math.abs(rd - d) < 1e-12, s"$k L1 not symmetric")
      else assert(math.abs(rd + d) < 1e-9, s"$k delta not antisymmetric: $d vs $rd")
    }
  }

  test("snapshot drift from STORED sketch tables tracks exact distinct drift within the HLL band (X29)") {
    // the 100 TB form: drift computed by merging the two snapshots' stored
    // mergeable HLL tables, never rescanning raw data — per-cell estimates
    // must stay within the sketch's ±5% pin of the exact distinct counts
    // on BOTH snapshots
    val ev = spark.read.parquet(s"${sf()}/events.parquet")
      .withColumn("__t", col("ts").cast("timestamp"))
    val split = lit("2024-01-16").cast("timestamp")
    val o = ev.filter(col("__t") < split); val n = ev.filter(col("__t") >= split)
    val drift = graft.operators.Drift.driftFromSketches(
      graft.operators.Profile.distinctSketches(o, Seq("event_type"), "user_id"),
      graft.operators.Profile.distinctSketches(n, Seq("event_type"), "user_id"),
      Seq("event_type")).collect()
    assert(drift.nonEmpty)
    def exact(df: org.apache.spark.sql.DataFrame) =
      df.groupBy("event_type").agg(countDistinct(col("user_id")).as("nd"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val eo = exact(o); val en = exact(n)
    drift.foreach { r =>
      val cell = r.getString(0)
      val (od, nd) = (r.getLong(1), r.getLong(2))
      assert(math.abs(od - eo.getOrElse(cell, 0L)) <= 0.05 * math.max(1L, eo.getOrElse(cell, 0L)),
        s"$cell old estimate $od vs exact ${eo.get(cell)}")
      assert(math.abs(nd - en.getOrElse(cell, 0L)) <= 0.05 * math.max(1L, en.getOrElse(cell, 0L)),
        s"$cell new estimate $nd vs exact ${en.get(cell)}")
      val rel = r.getDouble(3)
      assert(rel >= 0.0 && rel <= 1.0, s"rel_drift $rel out of [0,1]")
    }
  }

  test("IVF survives a corpus smaller than the requested cell/probe counts (round-13 review)") {
    // 4 distinct vectors: auto-sizing clamps nCells to 16 but kmeans can
    // only return 4 centroids, while auto nProbe asks for 6 —
    // probe/assign now clamp to the produced cell count (the old
    // query×centroid window rank degraded the same way) instead of
    // crashing NearestCells' nAssign require
    val tiny = spark.createDataFrame(
      (0 until 4).map(i => (i.toLong, Seq.tabulate(4)(j => if (j == i) 1.0 else 0.0))))
      .toDF("vec_id", "embedding")
    val res = Similarity.ivfTopK(tiny, tiny.filter(col("vec_id") === 0),
      "vec_id", "embedding", k = 2)
    assert(res.count() == 2, "tiny-corpus knn lost rows")
    // declared counts above the achievable cell count clamp the same way
    val res2 = Similarity.ivfTopK(tiny, tiny.filter(col("vec_id") === 0),
      "vec_id", "embedding", k = 2, nCells = 4, nProbe = 4, nAssign = 4)
    assert(res2.count() == 2)
  }

  test("embedding-LSH auto-sizer accepts widths past its 16-bit search bound (round-13 review)") {
    // planesPerTable = 20 previously produced an EMPTY (b, T, L) config
    // search (`20 to 16`) and crashed on cfgs.maxBy at construction; the
    // width bound now widens to the declaration and pinned probe counts
    // clamp to the width instead of filtering every config out
    val e = spark.read.parquet(s"${sf()}/embeddings.parquet")
    val df = Dedup.embeddingCosinePairs(e, "vec_id", "embedding", dim = 64,
      nTables = 4, planesPerTable = 20, threshold = 0.4, maxTables = 8,
      autoRouteExact = false) // pin the WIDTH SEARCH, not the exact route
    df.count() // construction and execution both survive
  }

  test("IVF ANN: recall@10 >= 0.9 at nProbe=4 on clustered data") {
    // 16 tight clusters of 30 unit vectors each (deterministic seed): every
    // query's true top-10 are cluster-mates, the workload IVF exists for.
    val rng = new java.util.Random(7L)
    val dim = 32
    val rows = (0 until 16).flatMap { c =>
      val center = Array.fill(dim)(rng.nextGaussian())
      val cn = math.sqrt(center.map(x => x * x).sum)
      val cu = center.map(_ / cn)
      (0 until 30).map { i =>
        val v = cu.zip(Array.fill(dim)(rng.nextGaussian() * 0.15)).map { case (x, e) => x + e }
        val n = math.sqrt(v.map(x => x * x).sum)
        (c * 30L + i, v.map(_ / n).toSeq)
      }
    }
    val e = spark.createDataFrame(rows).toDF("vec_id", "embedding")
    val q = e.filter(col("vec_id") % 30 === 0).limit(5)
    val exact = Similarity.bruteForceTopK(e, q, "vec_id", "embedding", 10)
      .select("query_id", "neighbor_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ann = Similarity.ivfTopK(e, q, "vec_id", "embedding", 10, 16, 4)
      .select("query_id", "neighbor_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = exact.intersect(ann).size.toDouble / exact.size
    assert(recall >= 0.9, s"recall $recall below 0.9 at nProbe=4 on clustered data")
  }

  test("IVF auto-sizing: undeclared nCells/nProbe follow the √n rule (round-12)") {
    // a FIXED 16-cell grid held recall 0.9+ at sf0.1 but decayed to 0.78 at
    // sf1 (1250 vectors/cell) — auto-sizing keeps cells ∝ √n so the probed
    // neighborhood (and recall) is scale-stable. Pinned at sf0.1: the auto
    // form must match or beat the old fixed 16/4 recall.
    val e = spark.read.parquet(s"${sf("sf0.1")}/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
    val q = e.filter(col("vec_id") < 5)
    val exact = Similarity.bruteForceTopK(e, q, "vec_id", "embedding", 10)
      .select("query_id", "neighbor_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def recallOf(ann: org.apache.spark.sql.DataFrame): Double = {
      val s = ann.select("query_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      exact.intersect(s).size.toDouble / exact.size
    }
    val fixed = recallOf(Similarity.ivfTopK(e, q, "vec_id", "embedding", 10,
      nCells = 16, nProbe = 4, nAssign = 2))
    val auto = recallOf(Similarity.ivfTopK(e, q, "vec_id", "embedding", 10,
      nAssign = 2))
    assert(auto >= 0.85, s"auto-sized recall $auto below the 0.85 contract")
    assert(auto >= fixed - 0.05,
      s"auto-sizing ($auto) lost recall vs the fixed grid ($fixed)")
  }

  test("LSH ANN: recall@10 vs exact on the real embeddings; wider buckets raise recall") {
    // Deterministic (seeded hyperplanes, fixed parquet): defaults
    // (16 tables × 4 planes) measure exactly 0.900 here; dropping to 3
    // planes per table (wider buckets, ~2× candidates) measures 1.000.
    // Bars sit below the measurements to absorb future testdata regen.
    val e = spark.read.parquet(s"${sf()}/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
    val q = e.filter(col("vec_id") < 3)
    val exact = Similarity.bruteForceTopK(e, q, "vec_id", "embedding", 10)
      .select("query_id", "neighbor_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def recallAt(nTables: Int, planes: Int): Double = {
      val ann = Similarity.lshTopK(e, q, "vec_id", "embedding", 10, 64, nTables, planes)
        .select("query_id", "neighbor_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      exact.intersect(ann).size.toDouble / exact.size
    }
    val r16x4 = recallAt(16, 4); val r16x3 = recallAt(16, 3)
    assert(r16x4 >= 0.85, s"recall $r16x4 below 0.85 at 16 tables × 4 planes")
    assert(r16x3 >= 0.95, s"recall $r16x3 below 0.95 at 16 tables × 3 planes")
    assert(r16x3 >= r16x4, "widening buckets must not lower recall on this data")
  }

  test("stored ANN index: indexedTopK == the direct path for all three methods (stored == rebuilt)") {
    // the X3 stored-artifact discipline: every index ingredient (int8
    // codes, k-means training, hyperplane generation) is deterministic, so
    // a search against the STORED index must reproduce the direct
    // train-per-call path EXACTLY — the property the r44 accuracy contract
    // re-checks at every SF
    val e = spark.read.parquet(s"${sf()}/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
    val q = e.filter(col("vec_id") < 3)
    val base = tempDirPath("graft_ann_index").toString
    def rows(df: org.apache.spark.sql.DataFrame): Set[(Long, Int, Long)] =
      df.select("query_id", "rank", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet

    val qRep = Similarity.buildIndex(e, "vec_id", "embedding", "quantized",
      s"$base/quant")
    assert(rows(Similarity.indexedTopK(q, "vec_id", "embedding", 10,
        s"$base/quant", refine = 4)) ==
      rows(Similarity.quantizedTopK(e, q, "vec_id", "embedding", 10, refine = 4)),
      "stored quantized index diverged from the direct path")
    // the build report verifies the write: quantized postings are 1:1
    val qr = qRep.head()
    assert(qr.getString(0) == "quantized" && qr.getInt(1) == 64 &&
      qr.getLong(2) == qr.getLong(3), qr.toString)

    // nAssign = 1 is single assignment: one posting per row, no
    // distinct-pairs collapse
    Seq(2, 1).foreach { a =>
      val iRep = Similarity.buildIndex(e, "vec_id", "embedding", "ivf",
        s"$base/ivf$a", nCells = 16, nAssign = a)
      assert(rows(Similarity.indexedTopK(q, "vec_id", "embedding", 10,
          s"$base/ivf$a", nProbe = 6)) ==
        rows(Similarity.ivfTopK(e, q, "vec_id", "embedding", 10,
          nCells = 16, nProbe = 6, nAssign = a)),
        s"stored ivf index (nAssign $a) diverged from the direct path")
      assert(iRep.head().getLong(3) == iRep.head().getLong(2) * a,
        "ivf assignment must emit exactly nAssign postings per row")
    }

    Similarity.buildIndex(e, "vec_id", "embedding", "lsh", s"$base/lsh",
      nTables = 16, planesPerTable = 4)
    assert(rows(Similarity.indexedTopK(q, "vec_id", "embedding", 10,
        s"$base/lsh")) ==
      rows(Similarity.lshTopK(e, q, "vec_id", "embedding", 10, 64,
        nTables = 16, planesPerTable = 4)),
      "stored lsh index diverged from the direct path")

    // meta round-trips the geometry (the knn preflight's reference)
    val meta = Similarity.readIndexMeta(spark, s"$base/ivf2")
    assert(meta.method == "ivf" && meta.n_cells.contains(16) &&
      meta.n_assign.contains(2) && meta.dim == 64 &&
      meta.vectors.exists(_.length == 16), meta.toString)
    // the manifest's JSON codec keeps the declared numeric widths (read
    // through the file, not the committed-meta memo)
    val lshPath = new org.apache.hadoop.fs.Path(s"$base/lsh")
    val (_, stored) = graft.sinks.Commit.readManifest(
      lshPath.getFileSystem(spark.sparkContext.hadoopConfiguration), lshPath,
      classOf[Similarity.IndexManifest]).get
    assert(stored.meta.seed.map(_ + 1L).contains(43L) &&
      stored.meta.n_tables.map(_ + 1).contains(17) &&
      stored.meta.vectors.isEmpty && stored.vectors_file.isDefined, stored.toString)
    // a non-index path is refused with the build hint named
    val bad = intercept[IllegalArgumentException] {
      Similarity.readIndexMeta(spark, s"${sf()}/embeddings.parquet")
    }
    assert(bad.getMessage.contains("knn_index"), bad.getMessage)
  }

  test("stored ANN index degenerate cases: clamped kmeans keeps stored == rebuilt; a killed rebuild reads as no-index") {
    // (1) a corpus with fewer distinct vectors than the declared nCells:
    // kmeans clamps the trained grid, and BOTH routes must derive their
    // auto-nProbe from the DECLARED nCells then clamp — deriving from the
    // clamped count made stored != rebuilt here (round-17 review)
    val e = spark.read.parquet(s"${sf()}/embeddings.parquet")
      .filter(col("vec_id") < 8)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
    val q = e.filter(col("vec_id") < 2)
    val base = tempDirPath("graft_ann_degenerate").toString
    graft.operators.Similarity.buildIndex(e, "vec_id", "embedding", "ivf",
      s"$base/tiny", nCells = 16, nAssign = 2)
    val meta = graft.operators.Similarity.readIndexMeta(spark, s"$base/tiny")
    assert(meta.n_cells.contains(16) && meta.vectors.exists(_.length <= 8),
      s"meta must pin the DECLARED geometry: $meta")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "rank", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(rows(graft.operators.Similarity.indexedTopK(q, "vec_id",
        "embedding", 5, s"$base/tiny")) ==
      rows(graft.operators.Similarity.ivfTopK(e, q, "vec_id", "embedding", 5,
        nCells = 16, nProbe = 0, nAssign = 2)),
      "clamped-grid stored route diverged from the direct path")
    // (2) the rebuild crash window: the manifest is retracted BEFORE
    // postings are touched, so any point of death leaves "no index here" —
    // never an old manifest over new postings (silently wrong neighbors)
    val manifest = graft.sinks.Commit.manifestDir(
      new org.apache.hadoop.fs.Path(s"$base/tiny"))
    val fs = manifest.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(manifest, true) // what a killed rebuild leaves behind
    val dead = intercept[IllegalArgumentException] {
      graft.operators.Similarity.readIndexMeta(spark, s"$base/tiny")
    }
    assert(dead.getMessage.contains("no readable index manifest"), dead.getMessage)
  }

  test("appendIndex: appended == full rebuild (quantized exact, lsh exact, ivf probed-all exact); report verifies the commit") {
    // the X3 incremental-maintenance contract (round-17 directive #1):
    // appending a batch with the STORED geometry must reproduce the full
    // rebuild wherever the index state is data-independent — per-row int8
    // codes (quantized) and seeded hyperplanes (lsh) — and for ivf, whose
    // centroids stay the ORIGINAL training's, probing every cell must
    // still recover the exact neighbor set (assignment covers the corpus;
    // only recall-at-partial-probe depends on centroid quality, which the
    // r47 accuracy row bounds at every SF)
    val e = spark.read.parquet(s"${sf()}/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
    val cut = e.agg(max(col("vec_id"))).head.getLong(0) / 2
    val oldHalf = e.filter(col("vec_id") <= cut)
    val newHalf = e.filter(col("vec_id") > cut)
    val q = e.filter(col("vec_id") < 3)
    val base = tempDirPath("graft_ann_append").toString
    def rows(df: org.apache.spark.sql.DataFrame): Set[(Long, Int, Long)] =
      df.select("query_id", "rank", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet

    Similarity.buildIndex(oldHalf, "vec_id", "embedding", "quantized", s"$base/q_inc")
    val rep = Similarity.appendIndex(newHalf, "vec_id", "embedding", s"$base/q_inc").head()
    // index_rows is the NEW generation's posting count (the O(batch)
    // write-landed recount — quantized is 1:1 row-to-posting)
    assert(rep.getString(0) == "quantized" && rep.getLong(2) == newHalf.count() &&
      rep.getLong(3) == e.count() && rep.getLong(4) == newHalf.count(), rep.toString)
    Similarity.buildIndex(e, "vec_id", "embedding", "quantized", s"$base/q_full")
    assert(rows(Similarity.indexedTopK(q, "vec_id", "embedding", 10, s"$base/q_inc")) ==
      rows(Similarity.indexedTopK(q, "vec_id", "embedding", 10, s"$base/q_full")),
      "quantized appended index diverged from the full rebuild")
    val m = Similarity.readIndexMeta(spark, s"$base/q_inc")
    assert(m.generation == 1 && m.n_rows == e.count(), m.toString)

    Similarity.buildIndex(oldHalf, "vec_id", "embedding", "lsh", s"$base/l_inc",
      nTables = 8, planesPerTable = 4)
    Similarity.appendIndex(newHalf, "vec_id", "embedding", s"$base/l_inc")
    Similarity.buildIndex(e, "vec_id", "embedding", "lsh", s"$base/l_full",
      nTables = 8, planesPerTable = 4)
    assert(rows(Similarity.indexedTopK(q, "vec_id", "embedding", 10, s"$base/l_inc")) ==
      rows(Similarity.indexedTopK(q, "vec_id", "embedding", 10, s"$base/l_full")),
      "lsh appended index diverged from the full rebuild (hyperplanes are seed-pinned)")

    Similarity.buildIndex(oldHalf, "vec_id", "embedding", "ivf", s"$base/i_inc",
      nCells = 8, nAssign = 2)
    Similarity.appendIndex(newHalf, "vec_id", "embedding", s"$base/i_inc")
    assert(rows(Similarity.indexedTopK(q, "vec_id", "embedding", 10,
        s"$base/i_inc", nProbe = 8)) ==
      rows(Similarity.bruteForceTopK(e, q, "vec_id", "embedding", 10)),
      "ivf appended index probed at ALL cells must recover the exact neighbors")
  }

  test("appendIndex crash windows: an uncommitted generation is invisible; kill/retry is idempotent; the meta swap never reads half-state") {
    val e = spark.read.parquet(s"${sf()}/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
    val cut = e.agg(max(col("vec_id"))).head.getLong(0) / 2
    val oldHalf = e.filter(col("vec_id") <= cut)
    val newHalf = e.filter(col("vec_id") > cut)
    val q = e.filter(col("vec_id") < 3)
    val base = tempDirPath("graft_ann_append_crash").toString
    val fs = new org.apache.hadoop.fs.Path(base)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def manifests(idx: String): Seq[String] =
      fs.listStatus(graft.sinks.Commit.manifestDir(
          new org.apache.hadoop.fs.Path(idx)))
        .map(_.getPath.getName).filter(_.endsWith(".json")).sorted.toSeq
    def rows(df: org.apache.spark.sql.DataFrame): Set[(Long, Int, Long)] =
      df.select("query_id", "rank", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet

    Similarity.buildIndex(oldHalf, "vec_id", "embedding", "quantized", s"$base/idx")
    val preMeta = Similarity.readIndexMeta(spark, s"$base/idx")
    val preRows = rows(Similarity.indexedTopK(q, "vec_id", "embedding", 10, s"$base/idx"))
    Similarity.appendIndex(newHalf, "vec_id", "embedding", s"$base/idx")
    val committed = rows(Similarity.indexedTopK(q, "vec_id", "embedding", 10, s"$base/idx"))
    assert(committed != preRows, "fixture must actually change the neighbor set")

    // (1) kill BEFORE the manifest commit: gen-1 postings exist but the
    // committed manifest still says generation 0 — the old index must read
    // bit-identically (the gen fence is static partition pruning, not trust)
    Similarity.commitMeta(spark, s"$base/idx", preMeta)
    assert(rows(Similarity.indexedTopK(q, "vec_id", "embedding", 10, s"$base/idx")) ==
      preRows, "an uncommitted posting generation leaked into the search")
    // (2) RETRY after the kill: the orphan generation is retracted first,
    // so the re-append commits exactly once — no duplicated postings
    Similarity.appendIndex(newHalf, "vec_id", "embedding", s"$base/idx")
    assert(rows(Similarity.indexedTopK(q, "vec_id", "embedding", 10, s"$base/idx")) ==
      committed, "kill/retry must converge to the committed append")
    val m = Similarity.readIndexMeta(spark, s"$base/idx")
    assert(m.n_rows == e.count() && m.generation == 1, m.toString)
    // no duplicate postings: quantized is 1:1 row-to-posting within the fence
    val visible = spark.read.parquet(s"$base/idx/index.parquet")
      .filter(col("gen") <= m.generation)
    assert(visible.count() == e.count() &&
      visible.select("id").distinct().count() == e.count(),
      "retry duplicated postings")

    // (3) the manifest commit's residual windows: (a) killed after the
    // temp file landed, before its rename — the torn/unrenamed temp file
    // is ignored and the committed manifest reads; (b) killed after the
    // rename, before the predecessor was pruned — the HIGHER manifest
    // reads, never the older one or "no index"
    val mdir = graft.sinks.Commit.manifestDir(
      new org.apache.hadoop.fs.Path(s"$base/idx"))
    def newestN(): Long = manifests(s"$base/idx").map(_.stripSuffix(".json").toLong).max
    // the unpruned predecessor: preMeta as the manifest just below the newest
    def unprunedPre(): Unit = {
      val older = fs.create(new org.apache.hadoop.fs.Path(mdir, s"${newestN() - 1}.json"))
      graft.sinks.Commit.json.writeValue(older: java.io.OutputStream,
        Similarity.IndexManifest(preMeta.copy(vectors = None), None))
      older.close()
    }
    val torn = fs.create(new org.apache.hadoop.fs.Path(mdir, s".${newestN() + 1}.json.tmp"))
    torn.write("{\"meta\":{\"method\":".getBytes); torn.close()
    unprunedPre()
    val recovered = Similarity.readIndexMeta(spark, s"$base/idx")
    assert(recovered.generation == 1 && recovered.n_rows == e.count(),
      recovered.toString)
    assert(rows(Similarity.indexedTopK(q, "vec_id", "embedding", 10, s"$base/idx")) ==
      committed, "the commit window must read as the committed index")
    // the next append commits generation 2 and prunes the leftovers
    Similarity.appendIndex(e.limit(0), "vec_id", "embedding", s"$base/idx")
    val promoted = Similarity.readIndexMeta(spark, s"$base/idx")
    assert(promoted.generation == 2 && promoted.n_rows == e.count(),
      promoted.toString)
    assert(manifests(s"$base/idx").size == 1 &&
      !fs.listStatus(mdir).exists(_.getPath.getName.endsWith(".tmp")),
      s"the commit must prune older manifests and temp files: ${manifests(s"$base/idx")}")

    // (4) the POST-COMMIT crash window (round-18 review): postings AND the
    // manifest committed, the verb killed before it returned — the retry
    // must recognize the batch as already committed (the meta's batch
    // signature) and NO-OP instead of duplicating it as a fresh generation
    val committedMeta = Similarity.readIndexMeta(spark, s"$base/idx")
    assert(committedMeta.batch_sig.isDefined, committedMeta.toString)
    unprunedPre()
    val retryRep = Similarity.appendIndex(newHalf, "vec_id", "embedding",
      s"$base/idx").head()
    assert(retryRep.getLong(2) == 0L,
      s"post-commit retry must no-op, not duplicate: $retryRep")
    val afterRetry = Similarity.readIndexMeta(spark, s"$base/idx")
    assert(afterRetry.n_rows == e.count() && afterRetry.generation == 2,
      afterRetry.toString)
    assert(rows(Similarity.indexedTopK(q, "vec_id", "embedding", 10, s"$base/idx")) ==
      committed, "post-commit retry changed the search results")

    // (5) an index in the pre-manifest format (a one-row meta parquet, no
    // _manifest) refuses append with the rebuild hint instead of being
    // read through a migration path
    val flat = s"$base/flat"
    spark.read.parquet(s"$base/idx/index.parquet").drop("gen")
      .write.mode("overwrite").parquet(s"$flat/index.parquet")
    val ss = spark
    import ss.implicits._
    Seq(preMeta.copy(vectors = None)).toDS().write.mode("overwrite")
      .parquet(s"$flat/meta.parquet")
    val old = intercept[IllegalArgumentException] {
      Similarity.appendIndex(newHalf, "vec_id", "embedding", flat)
    }
    assert(old.getMessage.contains("rebuild it once with knn_index"),
      old.getMessage)
  }

  test("compactIndex: fold is a pure copy (search bit-identical, all methods); meta pins; stale generations stay invisible and get swept") {
    val e = spark.read.parquet(s"${sf()}/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
    val hi = e.agg(max(col("vec_id"))).head.getLong(0) + 1L
    val (c1, c2) = (hi / 3, 2 * hi / 3)
    val (a, b, c) = (e.filter(col("vec_id") < c1),
      e.filter(col("vec_id") >= c1 && col("vec_id") < c2),
      e.filter(col("vec_id") >= c2))
    val q = e.filter(col("vec_id") < 3)
    val base = tempDirPath("graft_ann_compact").toString
    def rows(df: org.apache.spark.sql.DataFrame): Set[(Long, Int, Long)] =
      df.select("query_id", "rank", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val fs = new org.apache.hadoop.fs.Path(base)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def genDirs(idx: String): Set[String] =
      fs.listStatus(new org.apache.hadoop.fs.Path(s"$idx/index.parquet"))
        .map(_.getPath.getName).filter(_.startsWith("gen=")).toSet

    // quantized: three generations -> one; search results bit-identical
    Similarity.buildIndex(a, "vec_id", "embedding", "quantized", s"$base/q")
    Similarity.appendIndex(b, "vec_id", "embedding", s"$base/q")
    Similarity.appendIndex(c, "vec_id", "embedding", s"$base/q")
    val preMeta = Similarity.readIndexMeta(spark, s"$base/q")
    assert(preMeta.generation == 2 && preMeta.base_gen == 0, preMeta.toString)
    val pre = rows(Similarity.indexedTopK(q, "vec_id", "embedding", 10, s"$base/q"))
    val rep = Similarity.compactIndex(spark, s"$base/q").head()
    assert(rep.getString(0) == "quantized" && rep.getLong(2) == e.count() &&
      rep.getInt(3) == 3 && rep.getInt(4) == 3, rep.toString)
    assert(rows(Similarity.indexedTopK(q, "vec_id", "embedding", 10, s"$base/q")) ==
      pre, "compaction changed the quantized search results")
    val m = Similarity.readIndexMeta(spark, s"$base/q")
    assert(m.generation == 3 && m.base_gen == 3 && m.n_rows == e.count() &&
      m.batch_sig == preMeta.batch_sig,
      s"meta pins broken (n_rows/batch_sig must survive the fold): $m")
    // the folded directories are physically gone; no duplicated postings
    assert(genDirs(s"$base/q") == Set("gen=3"), genDirs(s"$base/q").toString)
    val visible = spark.read.parquet(s"$base/q/index.parquet")
    assert(visible.count() == e.count() &&
      visible.select("id").distinct().count() == e.count(),
      "the consolidated copy lost or duplicated postings")
    // retry after a completed compaction is a no-op
    val rep2 = Similarity.compactIndex(spark, s"$base/q").head()
    assert(rep2.getInt(3) == 0, s"retry must fold nothing: $rep2")

    // a STALE duplicate below base_gen (a compaction killed mid-cleanup)
    // stays invisible to the search, and BOTH maintenance verbs sweep it —
    // including the no-op compact retry, the natural rerun after that kill
    val idxP = new org.apache.hadoop.fs.Path(s"$base/q/index.parquet")
    def fakeStale(): Unit = {
      org.apache.hadoop.fs.FileUtil.copy(fs,
        new org.apache.hadoop.fs.Path(s"$idxP/gen=3"), fs,
        new org.apache.hadoop.fs.Path(s"$idxP/gen=0"), false,
        spark.sparkContext.hadoopConfiguration)
      ()
    }
    fakeStale()
    assert(genDirs(s"$base/q") == Set("gen=0", "gen=3"))
    assert(rows(Similarity.indexedTopK(q, "vec_id", "embedding", 10, s"$base/q")) ==
      pre, "a stale pre-base generation leaked into the search")
    val repRetry = Similarity.compactIndex(spark, s"$base/q").head()
    assert(repRetry.getInt(3) == 0 && !genDirs(s"$base/q").contains("gen=0"),
      "the no-op compact retry must sweep pre-base stale generations")
    fakeStale()
    Similarity.appendIndex(e.limit(0), "vec_id", "embedding", s"$base/q")
    assert(!genDirs(s"$base/q").contains("gen=0"),
      "the next append must sweep pre-base stale generations")

    // ivf: compacted == pre-compaction at every probe depth that matters
    // (probe-all == exact — the copy moved no posting to a different cell)
    Similarity.buildIndex(a, "vec_id", "embedding", "ivf", s"$base/i",
      nCells = 8, nAssign = 2)
    Similarity.appendIndex(b, "vec_id", "embedding", s"$base/i")
    Similarity.appendIndex(c, "vec_id", "embedding", s"$base/i")
    val preIvf = rows(Similarity.indexedTopK(q, "vec_id", "embedding", 10,
      s"$base/i", nProbe = 8))
    Similarity.compactIndex(spark, s"$base/i")
    assert(rows(Similarity.indexedTopK(q, "vec_id", "embedding", 10,
        s"$base/i", nProbe = 8)) == preIvf,
      "compaction changed the ivf search results")
    assert(preIvf == rows(Similarity.bruteForceTopK(e, q, "vec_id",
        "embedding", 10)),
      "compacted ivf probed at ALL cells must still recover the exact neighbors")

    // lsh: same bit-identity through the (tbl, bucket) layout
    Similarity.buildIndex(a, "vec_id", "embedding", "lsh", s"$base/l",
      nTables = 8, planesPerTable = 4)
    Similarity.appendIndex(b, "vec_id", "embedding", s"$base/l")
    Similarity.appendIndex(c, "vec_id", "embedding", s"$base/l")
    val preLsh = rows(Similarity.indexedTopK(q, "vec_id", "embedding", 10, s"$base/l"))
    Similarity.compactIndex(spark, s"$base/l")
    assert(rows(Similarity.indexedTopK(q, "vec_id", "embedding", 10, s"$base/l")) ==
      preLsh, "compaction changed the lsh search results")
  }

  test("compactIndex crash window: an uncommitted consolidated generation is invisible; the retry folds exactly once") {
    val e = spark.read.parquet(s"${sf()}/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
    val cut = e.agg(max(col("vec_id"))).head.getLong(0) / 2
    val q = e.filter(col("vec_id") < 3)
    val base = tempDirPath("graft_ann_compact_crash").toString
    def rows(df: org.apache.spark.sql.DataFrame): Set[(Long, Int, Long)] =
      df.select("query_id", "rank", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    Similarity.buildIndex(e.filter(col("vec_id") <= cut), "vec_id",
      "embedding", "quantized", s"$base/idx")
    Similarity.appendIndex(e.filter(col("vec_id") > cut), "vec_id",
      "embedding", s"$base/idx")
    val preMeta = Similarity.readIndexMeta(spark, s"$base/idx")
    val pre = rows(Similarity.indexedTopK(q, "vec_id", "embedding", 10, s"$base/idx"))
    // kill-BEFORE-the-meta-commit state, constructed exactly: the
    // consolidated copy (gen 2 = the committed postings re-written) exists
    // but the meta still reads generation 1 / base_gen 0 — searching with
    // the orphan present must NOT double-count (the gen fence)
    val committed = spark.read.parquet(s"$base/idx/index.parquet")
      .filter(col("gen") <= preMeta.generation).drop("gen")
    committed.withColumn("gen", lit(preMeta.generation + 1))
      .write.mode("append").partitionBy("gen").parquet(s"$base/idx/index.parquet")
    assert(rows(Similarity.indexedTopK(q, "vec_id", "embedding", 10, s"$base/idx")) ==
      pre, "an uncommitted consolidated generation leaked into the search")
    // the retry retracts the orphan and folds exactly once
    val rep = Similarity.compactIndex(spark, s"$base/idx").head()
    assert(rep.getInt(3) == 2, s"retry must fold the two committed gens: $rep")
    assert(rows(Similarity.indexedTopK(q, "vec_id", "embedding", 10, s"$base/idx")) ==
      pre, "kill/retry compaction changed the search results")
    val m = Similarity.readIndexMeta(spark, s"$base/idx")
    val vis = spark.read.parquet(s"$base/idx/index.parquet")
      .filter(col("gen") >= m.base_gen && col("gen") <= m.generation)
    assert(vis.count() == e.count() &&
      vis.select("id").distinct().count() == e.count(),
      "kill/retry compaction lost or duplicated postings")
  }

  test("deleteIndex: tombstoned rows vanish from search; delete is idempotent; compact drops them physically; re-append revives") {
    val e = spark.read.parquet(s"${sf()}/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
    val q = e.filter(col("vec_id") < 3)
    val gone = e.filter(col("vec_id") >= 100 && col("vec_id") < 130)
    val kept = e.filter(col("vec_id") < 100 || col("vec_id") >= 130)
    val base = tempDirPath("graft_ann_delete").toString
    def rows(df: org.apache.spark.sql.DataFrame): Set[(Long, Int, Long)] =
      df.select("query_id", "rank", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val exactKept = rows(Similarity.bruteForceTopK(kept, q, "vec_id",
      "embedding", 10))
    val exactFull = rows(Similarity.bruteForceTopK(e, q, "vec_id",
      "embedding", 10))
    assert(exactKept != exactFull,
      "fixture must make the deleted rows visible in the top-k")

    // quantized: post-delete search == rebuild-without-those-rows oracle
    Similarity.buildIndex(e, "vec_id", "embedding", "quantized", s"$base/q")
    val rep = Similarity.deleteIndex(gone, "vec_id", s"$base/q").head()
    assert(rep.getLong(2) == gone.count() &&
      rep.getLong(3) == e.count() - gone.count() && rep.getInt(4) == 0,
      rep.toString)
    assert(rows(Similarity.indexedTopK(q, "vec_id", "embedding", 10, s"$base/q")) ==
      exactKept, "deleted rows still surfaced as neighbors")
    // idempotent across the commit: the retry matches nothing live
    val rep2 = Similarity.deleteIndex(gone, "vec_id", s"$base/q").head()
    assert(rep2.getLong(2) == 0L &&
      rep2.getLong(3) == e.count() - gone.count(),
      s"a committed delete's retry must adjust nothing: $rep2")
    // an ORPHAN tombstone generation (a crashed delete) stays invisible
    gone.select(col("vec_id").as("id")).withColumn("gen", lit(9))
      .withColumn("upto", lit(99))
      .write.mode("append").partitionBy("gen")
      .parquet(s"$base/q/tombstones.parquet")
    assert(rows(Similarity.indexedTopK(q, "vec_id", "embedding", 10, s"$base/q")) ==
      exactKept, "an uncommitted tombstone generation changed the search")
    // compact DROPS the tombstoned rows physically and clears the set
    val crep = Similarity.compactIndex(spark, s"$base/q").head()
    assert(crep.getLong(2) == e.count() - gone.count(), crep.toString)
    val m = Similarity.readIndexMeta(spark, s"$base/q")
    assert(m.tomb_gen < m.tomb_base, s"compact must clear tombstones: $m")
    val fs = new org.apache.hadoop.fs.Path(base)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(
      s"$base/q/tombstones.parquet")) ||
      fs.listStatus(new org.apache.hadoop.fs.Path(
        s"$base/q/tombstones.parquet")).forall(s =>
          !s.getPath.getName.startsWith("gen=")),
      "compact must sweep the committed tombstone directories")
    val vis = spark.read.parquet(s"$base/q/index.parquet")
    assert(vis.count() == e.count() - gone.count() &&
      vis.select("id").distinct().count() == e.count() - gone.count(),
      "the fold must physically exclude tombstoned postings")
    assert(rows(Similarity.indexedTopK(q, "vec_id", "embedding", 10, s"$base/q")) ==
      exactKept, "delete -> compact -> search must be bit-identical")
    // RE-APPEND after deletion: the tombstones' upto fence (and here the
    // physical drop) means the revived rows are live again — compacted-
    // topic last-write-wins, not a permanent ban
    Similarity.appendIndex(gone, "vec_id", "embedding", s"$base/q")
    assert(rows(Similarity.indexedTopK(q, "vec_id", "embedding", 10, s"$base/q")) ==
      exactFull, "re-appended rows must be searchable again")
    assert(Similarity.readIndexMeta(spark, s"$base/q").n_rows == e.count())

    // re-append WITHOUT an intervening compact: tombstones kill only
    // postings up to their recorded generation, so the new generation's
    // postings survive the anti-join
    Similarity.buildIndex(e, "vec_id", "embedding", "quantized", s"$base/q2")
    Similarity.deleteIndex(gone, "vec_id", s"$base/q2")
    Similarity.appendIndex(gone, "vec_id", "embedding", s"$base/q2")
    assert(rows(Similarity.indexedTopK(q, "vec_id", "embedding", 10, s"$base/q2")) ==
      exactFull, "the upto fence must revive re-appended ids pre-compact")

    // ivf probed at all cells and lsh: deleted rows vanish there too
    Similarity.buildIndex(e, "vec_id", "embedding", "ivf", s"$base/i",
      nCells = 8, nAssign = 2)
    Similarity.deleteIndex(gone, "vec_id", s"$base/i")
    assert(rows(Similarity.indexedTopK(q, "vec_id", "embedding", 10,
      s"$base/i", nProbe = 8)) == exactKept,
      "ivf probed at all cells must equal the exact-minus-deleted oracle")
    Similarity.buildIndex(e, "vec_id", "embedding", "lsh", s"$base/l",
      nTables = 8, planesPerTable = 4)
    val preLsh = rows(Similarity.indexedTopK(q, "vec_id", "embedding", 10,
      s"$base/l"))
    Similarity.deleteIndex(gone, "vec_id", s"$base/l")
    val postLsh = rows(Similarity.indexedTopK(q, "vec_id", "embedding", 10,
      s"$base/l"))
    assert(postLsh.forall { case (_, _, n) =>
      n < 100L || n >= 130L }, "lsh search surfaced a deleted neighbor")
    Similarity.compactIndex(spark, s"$base/l")
    assert(rows(Similarity.indexedTopK(q, "vec_id", "embedding", 10,
      s"$base/l")) == postLsh, "lsh delete -> compact changed the search")
    // (no preLsh != postLsh sanity: lsh's bucketed top-10 may legitimately
    // never have surfaced the deleted ids — the no-deleted-neighbor and
    // compact-bit-identity asserts above are the contract)
    assert(preLsh.nonEmpty && postLsh.nonEmpty)
  }

  test("indexedTopK candidateFilter: filter inside the candidate stage == exact over the filtered corpus; widening, fallback, k contract") {
    val e = spark.read.parquet(s"${sf()}/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"),
        col("label"))
    val q = e.filter(col("vec_id") < 3)
    val base = tempDirPath("graft_ann_filter").toString
    def rows(df: org.apache.spark.sql.DataFrame): Set[(Long, Int, Long)] =
      df.select("query_id", "rank", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val exactFiltered = rows(Similarity.bruteForceTopK(
      e.filter(col("label") < 4), q, "vec_id", "embedding", 10))
    assert(exactFiltered != rows(Similarity.bruteForceTopK(e, q, "vec_id",
      "embedding", 10)), "fixture: the filter must change the top-k")

    // reserved attribute names refused at build
    val bad = intercept[IllegalArgumentException] {
      Similarity.buildIndex(e.withColumn("cell", col("label")), "vec_id",
        "embedding", "quantized", s"$base/bad",
        attributeColumns = Seq("cell"))
    }
    assert(bad.getMessage.contains("reserved"), bad.getMessage)

    // quantized + filter: exact on the filtered corpus (the int8 propose
    // runs over filtered postings only; the re-rank is exact) — and the
    // attribute columns survive append and compact
    val cut = (e.agg(max(col("vec_id"))).head.getLong(0) + 1L) / 2L
    Similarity.buildIndex(e.filter(col("vec_id") < cut), "vec_id",
      "embedding", "quantized", s"$base/q", attributeColumns = Seq("label"))
    Similarity.appendIndex(e.filter(col("vec_id") >= cut), "vec_id",
      "embedding", s"$base/q")
    assert(rows(Similarity.indexedTopK(q, "vec_id", "embedding", 10,
      s"$base/q", candidateFilter = Some("label < 4"))) == exactFiltered,
      "quantized filtered search must equal the filtered-corpus exact oracle")
    Similarity.compactIndex(spark, s"$base/q")
    assert(rows(Similarity.indexedTopK(q, "vec_id", "embedding", 10,
      s"$base/q", candidateFilter = Some("label < 4"))) == exactFiltered,
      "attributes must survive compaction")
    // an append batch LACKING a stored attribute column is refused
    val noAttr = intercept[IllegalArgumentException] {
      Similarity.appendIndex(e.drop("label").limit(5), "vec_id",
        "embedding", s"$base/q")
    }
    assert(noAttr.getMessage.contains("lacks"), noAttr.getMessage)

    // EXACT FALLBACK: a filter matching <= k*4 distinct rows routes to
    // the exact scan of the filtered postings — full recall guaranteed
    val tiny = "label = 3 AND id % 2 = 0"
    val tinyCorpus = e.filter(expr("label = 3 AND vec_id % 2 = 0"))
    val nTiny = tinyCorpus.count()
    assert(nTiny > 0 && nTiny <= 40, s"fixture: tiny filter matched $nTiny")
    assert(rows(Similarity.indexedTopK(q, "vec_id", "embedding", 10,
      s"$base/q", candidateFilter = Some(tiny))) ==
      rows(Similarity.bruteForceTopK(tinyCorpus, q, "vec_id",
        "embedding", 10)),
      "the tiny-filter fallback must equal the exact scan")

    // ivf + filter: widened probes keep the k contract and the recall
    // contract vs the FILTERED exact oracle; probed-all == filtered exact
    Similarity.buildIndex(e, "vec_id", "embedding", "ivf", s"$base/i",
      nCells = 16, nAssign = 2, attributeColumns = Seq("label"))
    val ivfF = Similarity.indexedTopK(q, "vec_id", "embedding", 10,
      s"$base/i", candidateFilter = Some("label < 4"))
    val perQuery = ivfF.groupBy("query_id").count().collect()
      .map(r => r.getLong(1)).toSet
    assert(perQuery == Set(10L),
      s"the k contract must survive filtering: got counts $perQuery")
    val ivfPairs = rows(ivfF).map(t => (t._1, t._3))
    val exactPairs = exactFiltered.map(t => (t._1, t._3))
    val recall = ivfPairs.intersect(exactPairs).size.toDouble / exactPairs.size
    assert(recall >= 0.85, s"filtered ivf recall $recall")
    val allowedIds = e.filter(col("label") < 4).select("vec_id")
      .collect().map(_.getLong(0)).toSet
    assert(ivfPairs.nonEmpty &&
      ivfPairs.forall { case (_, n) => allowedIds.contains(n) },
      "no filtered-out neighbor may leak into the results")
    assert(rows(Similarity.indexedTopK(q, "vec_id", "embedding", 10,
      s"$base/i", nProbe = 16, candidateFilter = Some("label < 4"))) ==
      exactFiltered, "probed-all filtered ivf must equal the filtered exact")

    // a filter referencing an UNSTORED column is refused with the hint
    Similarity.buildIndex(e, "vec_id", "embedding", "quantized", s"$base/n")
    val uncovered = intercept[IllegalArgumentException] {
      Similarity.indexedTopK(q, "vec_id", "embedding", 10, s"$base/n",
        candidateFilter = Some("label < 4")).collect()
    }
    assert(uncovered.getMessage.contains("does not store"),
      uncovered.getMessage)
  }

  test("deleteIndex: deleting every posting folds to a readable empty generation (round-18 ADVICE recoverability)") {
    // the committed range then holds ZERO live postings — the old
    // compaction wrote no gen directory, recounted -1, and aborted on
    // every retry; the empty fold now writes a schema-only marker leaf
    val e = spark.read.parquet(s"${sf()}/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
    val half = e.limit(50)
    val q = e.filter(col("vec_id") < 3)
    val base = tempDirPath("graft_ann_delete_all").toString
    def lifecycle(method: String, nCells: Int, dim: Int): Unit = {
      val p = s"$base/$method"
      Similarity.buildIndex(half, "vec_id", "embedding", method, p,
        nCells = nCells, dim = dim)
      Similarity.deleteIndex(half, "vec_id", p)
      val rep = Similarity.compactIndex(spark, p).head()
      assert(rep.getLong(2) == 0L, s"$method: $rep")
      val m = Similarity.readIndexMeta(spark, p)
      assert(m.n_rows == 0L && m.base_gen == m.generation &&
        m.tomb_gen < m.tomb_base, s"$method: $m")
      // the folded-empty index READS (the marker leaf) and searches to
      // zero rows — the true corpus state, not an error
      assert(Similarity.indexedTopK(q, "vec_id", "embedding", 5, p)
        .count() == 0L, s"$method: empty index must search to zero rows")
      // idempotent retry
      assert(Similarity.compactIndex(spark, p).head().getInt(3) == 0)
      // and the lifecycle continues: append new rows, search finds them
      Similarity.appendIndex(half, "vec_id", "embedding", p)
      assert(Similarity.indexedTopK(q, "vec_id", "embedding", 5, p)
        .count() > 0L, s"$method: post-empty append must be searchable")
    }
    lifecycle("quantized", 0, 0)
    lifecycle("ivf", 8, 0)
    lifecycle("lsh", 0, 64)
  }

  test("scalar summary: merge identity (sharded == one-shot) and windowed cells fold to the global artifact") {
    // linearity is the artifact's contract: per-shard summaries (and the
    // windowed table with its window column dropped) must fold EXACTLY to
    // the one-shot build — same pin as the embedding summary's
    val ev = spark.read.parquet(s"${sf()}/events.parquet")
    def keyOf(df: org.apache.spark.sql.DataFrame) = df
      .select(col("event_type"), col("col_name"), col("n_rows"),
        col("n_nonnull"), round(col("sum"), 6), round(col("sumsq"), 6),
        col("min"), col("max"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getDouble(4), r.getDouble(5), r.getDouble(6),
        r.getDouble(7))).toSet
    val direct = keyOf(graft.operators.Drift.scalarSummary(
      ev, Seq("value"), Seq("event_type")))
    val parts = Seq(ev.filter(col("user_id") % 2 === 0),
        ev.filter(col("user_id") % 2 =!= 0))
      .map(graft.operators.Drift.scalarSummary(_, Seq("value"), Seq("event_type")))
      .reduce(_.unionByName(_))
    val merged = keyOf(graft.operators.Drift.mergeScalarSummaries(
      parts, Seq("event_type")))
    assert(merged == direct && direct.nonEmpty,
      s"sharded merge $merged != one-shot $direct")
    // windowed cells (hourly) fold to the same global artifact
    val windowed = graft.pipeline.Interpreter.applyTransform(ev,
      graft.config.TransformOp.ScalarSummary(columns = Seq("value"),
        groupColumns = Seq("event_type"), timeColumn = Some("ts"),
        every = Some("1 hour")),
      None, "t-scalar-win")
    val fromCells = keyOf(graft.operators.Drift.mergeScalarSummaries(
      windowed.drop("window_start"), Seq("event_type")))
    assert(fromCells == direct,
      s"windowed fold $fromCells != one-shot $direct")
  }

  test("scalarDriftFromSummaries: hand-checked metrics, vanished/newborn cells read NULL, flat vs grouped shapes") {
    val ss = spark
    import ss.implicits._
    // old: cell A = {1, 3, null}; cell B = {10}. new: cell A = {2, 4};
    // cell C = {7} (B vanished, C newborn)
    val oldRaw = Seq(("A", Some(1.0)), ("A", Some(3.0)), ("A", None),
      ("B", Some(10.0))).toDF("g", "v")
    val newRaw = Seq(("A", Some(2.0)), ("A", Some(4.0)), ("C", Some(7.0)))
      .toDF("g", "v")
    val oldSum = graft.operators.Drift.scalarSummary(oldRaw, Seq("v"), Seq("g"))
    val newSum = graft.operators.Drift.scalarSummary(newRaw, Seq("v"), Seq("g"))
    val out = graft.operators.Drift
      .scalarDriftFromSummaries(oldSum, newSum, Seq("g"))
    assert(out.columns.toSeq == Seq("col_name", "metric", "category",
      "old_value", "new_value", "delta"), out.columns.mkString(", "))
    def cell(cat: String, metric: String): (Option[Double], Option[Double], Option[Double]) = {
      val r = out.filter(col("category") === cat && col("metric") === metric).head()
      def g(i: Int) = if (r.isNullAt(i)) None else Some(r.getDouble(i))
      (g(3), g(4), g(5))
    }
    // cell A: mean 2 -> 3, null_rate 1/3 -> 0, stddev sqrt(2) both sides
    assert(cell("A", "mean") == (Some(2.0), Some(3.0), Some(1.0)))
    assert(cell("A", "row_count") == (Some(3.0), Some(2.0), Some(-1.0)))
    val (onr, nnr, dnr) = cell("A", "null_rate")
    assert(math.abs(onr.get - 1.0 / 3) < 1e-9 && nnr.contains(0.0) &&
      math.abs(dnr.get + 1.0 / 3) < 1e-6, s"null_rate $onr $nnr $dnr")
    val (osd, nsd, _) = cell("A", "stddev")
    assert(math.abs(osd.get - math.sqrt(2)) < 1e-9 &&
      math.abs(nsd.get - math.sqrt(2)) < 1e-9)
    // vanished cell B: new side NULL throughout, delta NULL (violates a gate)
    assert(cell("B", "mean") == (Some(10.0), None, None))
    assert(cell("B", "row_count") == (Some(1.0), None, None))
    // stddev of a 1-row side is NULL even where the side exists
    assert(cell("B", "stddev") == (None, None, None))
    // newborn cell C: old side NULL throughout
    assert(cell("C", "mean") == (None, Some(7.0), None))
    assert(cell("C", "max") == (None, Some(7.0), None))
    // flat shape (no dims): no category column, same metric math globally
    val outFlat = graft.operators.Drift.scalarDriftFromSummaries(
      graft.operators.Drift.scalarSummary(oldRaw, Seq("v"), Nil),
      graft.operators.Drift.scalarSummary(newRaw, Seq("v"), Nil), Nil)
    assert(outFlat.columns.toSeq == Seq("col_name", "metric",
      "old_value", "new_value", "delta"))
    val flatMean = outFlat.filter(col("metric") === "mean").head()
    assert(math.abs(flatMean.getDouble(2) - 14.0 / 3) < 1e-9 &&
      math.abs(flatMean.getDouble(3) - 13.0 / 3) < 1e-9)
  }

  test("windowed drift monitor vs an EMPTY baseline artifact: every cell newborn, no crash") {
    // a zero-row summary still yields one null global-aggregate row — the
    // monitor must degrade to the zero baseline (row_count old 0, shift
    // 2.0), not NPE at build (round-17 review)
    val ss = spark
    import ss.implicits._
    val empty = graft.operators.Drift.embeddingSummary(
      Seq.empty[(Long, Seq[Float])].toDF("vec_id", "emb"), "emb")
    val data = Seq((1L, java.sql.Timestamp.valueOf("2024-01-01 05:00:00"),
      Seq(1f, 0f))).toDF("vec_id", "ts", "emb")
    val out = graft.operators.Drift.windowedEmbeddingDrift(
        data, "emb", None,
        org.apache.spark.sql.functions.window(col("ts"), "1 day"), empty)
      .collect().map(r => r.getString(2) -> (r.getDouble(3), r.getDouble(5))).toMap
    assert(out("row_count") == (0.0, 1.0) && out("centroid_shift")._2 == 2.0,
      s"empty baseline must read as all-newborn: $out")
  }

  test("LSH ANN emits each (query, neighbor) at most once and at most k rows per query") {
    // a pair can collide in several tables — the distinct-pairs heap must
    // collapse it inside the partial aggregate
    val e = spark.read.parquet(s"${sf()}/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
    val out = Similarity.lshTopK(e, e.filter(col("vec_id") < 3), "vec_id", "embedding",
      10, 64, 16, 4)
    val dups = out.groupBy("query_id", "neighbor_id").count()
      .filter(col("count") > 1).count()
    assert(dups == 0, "a neighbor claimed two ranks via multiple table collisions")
    val overK = out.groupBy("query_id").count().filter(col("count") > 10).count()
    assert(overK == 0, "a query emitted more than k rows")
  }

  test("LSH ANN: recall@10 >= 0.95 on clustered data") {
    // same 16-cluster generator as the IVF clustered test: cluster-mates sit
    // at cosine ≈0.95+, where hyperplane collision probability per table is
    // (1 − θ/π)^4 ≈ 0.66 and 16-table OR-amplification ≈ 1.0
    val rng = new java.util.Random(7L)
    val dim = 32
    val rows = (0 until 16).flatMap { c =>
      val center = Array.fill(dim)(rng.nextGaussian())
      val cn = math.sqrt(center.map(x => x * x).sum)
      val cu = center.map(_ / cn)
      (0 until 30).map { i =>
        val v = cu.zip(Array.fill(dim)(rng.nextGaussian() * 0.15)).map { case (x, e) => x + e }
        val n = math.sqrt(v.map(x => x * x).sum)
        (c * 30L + i, v.map(_ / n).toSeq)
      }
    }
    val e = spark.createDataFrame(rows).toDF("vec_id", "embedding")
    val q = e.filter(col("vec_id") % 30 === 0).limit(5)
    val exact = Similarity.bruteForceTopK(e, q, "vec_id", "embedding", 10)
      .select("query_id", "neighbor_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ann = Similarity.lshTopK(e, q, "vec_id", "embedding", 10, dim, 16, 4)
      .select("query_id", "neighbor_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = exact.intersect(ann).size.toDouble / exact.size
    assert(recall >= 0.95, s"recall $recall below 0.95 on clustered data")
  }

  test("prefix-filtered jaccard equals first-principles exact jaccard on random corpora") {
    // The prefix filter is a pruning THEOREM, not a heuristic — so fuzz it:
    // high-overlap random docs (tiny vocabulary), duplicates, empties, and
    // short docs where the prefix length clamps to 1, across thresholds
    // including 1.0. Expected values computed from first principles on the
    // driver (string shingle sets — collision-free ground truth).
    val rng = new scala.util.Random(1234L)
    val vocab = Array("alpha", "beta", "gamma", "delta", "eps", "zeta", "eta", "theta")
    val texts = (0L until 60L).map { i =>
      if (i % 17 == 0) (i, "")                       // empty docs drop out
      else if (i % 5 == 0 && i > 4) (i, null)        // null text drops out
      else (i, Seq.fill(rng.nextInt(28) + 2)(vocab(rng.nextInt(vocab.length))).mkString(" "))
    } ++ Seq((100L, "alpha beta gamma delta"), (101L, "alpha beta gamma delta")) // exact dup
    val docs = spark.createDataFrame(texts).toDF("doc_id", "text")
    // engine semantics: null text → no shingles (dropped); FEWER than n
    // tokens — including zero — → ONE shingle of the whole token list, so
    // two empty docs are jaccard-1.0 duplicates (identical content)
    def shingles(t: String): Set[String] = {
      if (t == null) return Set.empty
      val toks = t.trim.split("\\s+").filter(_.nonEmpty).toSeq
      if (toks.size < 3) Set(toks.mkString(" "))
      else toks.sliding(3).map(_.mkString(" ")).toSet
    }
    val sets = texts.map { case (id, t) => (id, shingles(t)) }.filter(_._2.nonEmpty)
    for (t <- Seq(0.3, 0.5, 0.8, 1.0)) {
      val expected = (for {
        (i1, s1) <- sets; (i2, s2) <- sets if i1 < i2
        inter = s1.intersect(s2).size if inter > 0
        j = inter.toDouble / (s1.size + s2.size - inter) if j >= t
      } yield ((i1, i2), j)).toMap
      val got = Dedup.jaccardPairs(docs, "doc_id", "text", 3, t)
        .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
      assert(got.keySet == expected.keySet,
        s"threshold $t: pair sets differ — missing ${expected.keySet -- got.keySet}, " +
          s"extra ${got.keySet -- expected.keySet}")
      expected.foreach { case (k, j) =>
        assert(math.abs(got(k) - j) < 1e-6, s"threshold $t pair $k: ${got(k)} vs $j")
      }
      spark.catalog.clearCache(); Dedup.releaseInternalCaches()
    }
  }

  test("range join: multi-bucket intervals, closed bounds, degenerate intervals, key scoping") {
    import java.sql.Timestamp
    def ts(s: String) = Timestamp.valueOf(s)
    val points = spark.createDataFrame(Seq(
      (1L, "a", ts("2024-01-01 00:00:00")),  // == start of ivA (closed)
      (2L, "a", ts("2024-01-01 00:25:00")),  // inside ivA, 2 buckets from start
      (3L, "a", ts("2024-01-01 00:30:00")),  // == end of ivA (closed)
      (4L, "a", ts("2024-01-01 00:30:01")),  // 1s past end → no match
      (5L, "b", ts("2024-01-01 00:10:00")),  // ivA's range but key b → ivB only
      (6L, "a", ts("2024-01-01 02:00:00"))   // matches nothing
    )).toDF("pid", "k", "ts")
    val intervals = spark.createDataFrame(Seq(
      ("A", "a", ts("2024-01-01 00:00:00"), ts("2024-01-01 00:30:00")), // spans 4 10-min buckets
      ("B", "b", ts("2024-01-01 00:05:00"), ts("2024-01-01 00:15:00")),
      ("C", "a", ts("2024-01-01 01:00:00"), ts("2024-01-01 00:50:00"))  // end < start → empty
    )).toDF("iv", "k", "w_start", "w_end")
    val out = graft.operators.RangeJoin.pointInInterval(
        points, intervals, "ts", "w_start", "w_end", bucketWidthSec = 600, keys = Seq("k"))
      .select("pid", "iv").collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(out == Set((1L, "A"), (2L, "A"), (3L, "A"), (5L, "B")))
    // exactly-once: a multi-bucket interval must not double-emit a match
    val cnt = graft.operators.RangeJoin.pointInInterval(
        points, intervals, "ts", "w_start", "w_end", bucketWidthSec = 600, keys = Seq("k"))
      .groupBy("pid", "iv").count().filter(col("count") > 1).count()
    assert(cnt == 0, "a (point, interval) match emitted more than once")
  }

  test("range join fuzz: random intervals agree with the theta-join across bucket widths") {
    // random points and intervals (including degenerate and multi-bucket
    // spans), joined at three very different bucket widths — the bucket
    // width must be a pure performance knob, never a semantics knob
    import java.sql.Timestamp
    val rng = new scala.util.Random(4242L)
    val base = Timestamp.valueOf("2024-06-01 00:00:00").getTime
    def ts(offsetSec: Long) = new Timestamp(base + offsetSec * 1000L)
    val points = spark.createDataFrame(
      (1L to 120L).map(i => (i, s"k${rng.nextInt(4)}", ts(rng.nextInt(7200))))
    ).toDF("pid", "k", "ts")
    val intervals = spark.createDataFrame(
      (1L to 40L).map { i =>
        val s = rng.nextInt(7200)
        // ~1/8 degenerate (end < start), rest spanning 0..1800s
        val e = if (i % 8 == 0) s - 60 else s + rng.nextInt(1800)
        (i, s"k${rng.nextInt(4)}", ts(s), ts(e))
      }
    ).toDF("iv", "k", "w_start", "w_end")
    val expected = points.join(intervals.withColumnRenamed("k", "k2"),
        col("k") === col("k2") && col("ts") >= col("w_start") && col("ts") <= col("w_end"))
      .select("pid", "iv").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(expected.nonEmpty, "fuzz generated no matches — vacuous")
    for (width <- Seq(7L, 600L, 86400L)) {
      val got = graft.operators.RangeJoin.pointInInterval(
          points, intervals, "ts", "w_start", "w_end", width, keys = Seq("k"))
        .select("pid", "iv").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == expected, s"width $width: missing ${expected -- got}, extra ${got -- expected}")
    }
  }

  test("range join agrees with the direct BETWEEN theta-join on real events") {
    val ev = new graft.sources.ParquetSourceResolver(sf(), graft.config.TestdataCatalog)
      .stream(spark, graft.config.TopicConfig("events"))
    val iv = ev.filter(col("event_id") % 50 === 0)
      .select(col("user_id").as("u2"), col("event_id").as("iv_id"),
        col("ts").as("w_start"), (col("ts") + expr("INTERVAL 10 MINUTES")).as("w_end"))
    val direct = ev.select("event_id", "user_id", "ts")
      .join(iv, col("user_id") === col("u2") &&
        col("ts") >= col("w_start") && col("ts") <= col("w_end"))
      .select("event_id", "iv_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val bucketed = Queries.all("x15_range_join")(spark, sf())
      .select("event_id", "iv_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(bucketed == direct)
  }

  test("sequence packing: every chunk packed once, no pack over budget, slots contiguous") {
    val chunks = TextAnalysis.chunk(
      spark.read.parquet(s"${sf()}/documents.parquet"), "doc_id", "text",
      size = 40, stride = 30)
    val budget = 256L
    val packed = graft.operators.Packing.pack(chunks, "n_chunk_tokens", budget,
      Seq("doc_id", "chunk_id"))
    // exactly-once: same multiset of (doc_id, chunk_id)
    assert(packed.count() == chunks.count())
    assert(packed.select("doc_id", "chunk_id").distinct().count() == chunks.count())
    val perPack = packed.groupBy("pack_id").agg(
        sum(col("n_chunk_tokens")).as("toks"), count(lit(1)).as("n"),
        min(col("pack_slot")).as("lo"), max(col("pack_slot")).as("hi"))
      .collect()
    perPack.foreach { r =>
      val (toks, n, lo, hi) = (r.getLong(1), r.getLong(2), r.getInt(3), r.getInt(4))
      // over-budget only as a single oversized chunk in its own pack
      assert(toks <= budget || n == 1, s"pack ${r.getLong(0)}: $toks tokens in $n chunks")
      assert(lo == 0 && hi == n - 1, s"pack ${r.getLong(0)}: slots not contiguous")
    }
    // multi-chunk packs must exist, else the test is vacuous (chunks are
    // ≤40 tokens against a 256 budget)
    assert(perPack.exists(_.getLong(2) > 1), "packing never combined chunks")
    // oversized rows get a bin of their own
    val tiny = spark.createDataFrame(Seq((1L, 10), (2L, 300), (3L, 10)))
      .toDF("id", "n")
    val t = graft.operators.Packing.pack(tiny.coalesce(1), "n", 256L, Seq("id"))
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getInt(3))).sortBy(_._1)
    assert(t.map(_._2).distinct.length == 3, s"oversized row shared a pack: ${t.toSeq}")
    // deterministic: identical input partitioning → identical assignment
    val again = graft.operators.Packing.pack(chunks, "n_chunk_tokens", budget,
        Seq("doc_id", "chunk_id"))
      .select("doc_id", "chunk_id", "pack_id", "pack_slot").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getInt(3))).toSet
    val first = packed
      .select("doc_id", "chunk_id", "pack_id", "pack_slot").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getInt(3))).toSet
    assert(again == first, "pack assignment not reproducible across runs")
  }

  test("sequence packing fuzz: invariants hold under random sizes, oversized rows, many partitions") {
    val rng = new scala.util.Random(31337L)
    val rows = (1L to 500L).map { i =>
      // mixed regime: mostly small, ~10% oversized (> budget), some exactly
      // at the budget boundary
      val n = if (i % 10 == 0) 256 + rng.nextInt(200)
        else if (i % 17 == 0) 256
        else 1 + rng.nextInt(120)
      (i, n)
    }
    val budget = 256L
    val df = spark.createDataFrame(rows).toDF("id", "n").repartition(7)
    val packed = graft.operators.Packing.pack(df, "n", budget, Seq("id"))
    assert(packed.count() == 500)
    assert(packed.select("id").distinct().count() == 500)
    val perPack = packed.groupBy("pack_id").agg(
        sum(col("n")).as("toks"), count(lit(1)).as("cnt"),
        min(col("pack_slot")).as("lo"), max(col("pack_slot")).as("hi"))
      .collect()
    perPack.foreach { r =>
      val (toks, cnt, lo, hi) = (r.getLong(1), r.getLong(2), r.getInt(3), r.getInt(4))
      assert(toks <= budget || cnt == 1, s"pack ${r.getLong(0)}: $toks in $cnt rows")
      assert(lo == 0 && hi == cnt - 1, s"pack ${r.getLong(0)}: slots not contiguous")
    }
    // oversized rows are always alone (an exactly-at-budget row fills its
    // pack, so it is alone too, but that is already covered by toks<=budget)
    val packCounts = packed.groupBy("pack_id").count()
    val oversizedShared = packed.filter(col("n") > budget)
      .join(packCounts, "pack_id")
      .filter(col("count") > 1).count()
    assert(oversizedShared == 0, "an oversized row shared a pack")
  }

  test("chunking: windows cover every token, no redundant suffix chunk, empty docs skipped") {
    val docs = spark.createDataFrame(Seq(
      (1L, "a b c d e f g"),   // 7 tokens, size 3 stride 2 → starts 0,2,4 (4+3 ≥ 7 stops)
      (2L, "x y"),             // single short chunk
      (3L, "   "),             // empty → no chunks
      (4L, "p q r s"))).toDF("doc_id", "text") // 4 tokens → starts 0,1·2 (2+3 ≥ 4? no: stop at 1)
    val out = TextAnalysis.chunk(docs, "doc_id", "text", size = 3, stride = 2)
      .orderBy("doc_id", "chunk_id")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2), r.getInt(3))).toSeq
    assert(out == Seq(
      (1L, 0, "a b c", 3), (1L, 1, "c d e", 3), (1L, 2, "e f g", 3),
      (2L, 0, "x y", 2),
      (4L, 0, "p q r", 3), (4L, 1, "r s", 2)))
    intercept[IllegalArgumentException](TextAnalysis.chunk(docs, "doc_id", "text", 2, 3))
  }

  test("langId prefers the marked language deterministically") {
    val df = spark.createDataFrame(Seq(
      (1L, "the cat and the dog is here"),
      (2L, "der hund und die katze ist nicht da"),
      (3L, "xyzzy qwerty"),
      (4L, ""))).toDF("id", "t")
    val got = df.select(col("id"), TextAnalysis.langId(col("t")).as("l"))
      .orderBy("id").collect().map(_.getString(1)).toSeq
    assert(got == Seq("en", "de", "und", "und"))
  }

  test("quality metrics: empty text is all-zero, no NaN/null") {
    val df = spark.createDataFrame(Seq((1L, ""), (2L, "Hello, world! This is fine.")))
      .toDF("doc_id", "text")
    val m = TextAnalysis.qualityMetrics(col("text")).toMap
    val rows = df.select(m("n_tokens"), m("avg_token_len"), m("punct_ratio"),
      m("stopword_ratio")).collect()
    assert(rows(0).getLong(0) == 0 && rows(0).getDouble(1) == 0.0)
    assert(!rows.exists(r => (1 to 3).exists(i => r.isNullAt(i) || r.getDouble(i).isNaN)))
    assert(rows(1).getLong(0) == 5)
  }

  test("mapPartitions decode equals the expression decode (X4 partition-iterator shape)") {
    val docs = spark.read.parquet(s"${sf()}/documents.parquet").limit(50)
    val media = graft.operators.Multimodal.asBlobTable(docs, "doc_id", "text")
    val a = graft.operators.Multimodal.extractFeatures(media)
      .select("media_id", "mime", "n_bytes", "content_hash")
      .orderBy("media_id").collect().toSeq
    val b = graft.operators.Multimodal.extractFeaturesPartitioned(media)
      .orderBy("media_id").collect().toSeq
    assert(a == b)
  }

  test("resize stub scales payload bytes by target/source area and rewrites meta (X4)") {
    val docs = spark.read.parquet(s"${sf()}/documents.parquet")
      .filter(col("n_chars") > 100).limit(20)
    val media = graft.operators.Multimodal.asBlobTable(docs, "doc_id", "text")
      .filter(col("meta.width") > 0 && col("meta.height") > 0)
    val resized = graft.operators.Multimodal.resizeStub(media, 64, 48)
    val joined = resized.as("r").join(media.as("m"), col("r.media_id") === col("m.media_id"))
    assert(joined.filter(col("r.meta.width") =!= 64 || col("r.meta.height") =!= 48).count() == 0)
    assert(joined.filter(length(col("r.payload")) > length(col("m.payload"))).count() == 0)
  }

  test("multimodal blob plumbing: payload bytes round-trip, frames sampled") {
    val docs = spark.read.parquet(s"${sf()}/documents.parquet").limit(10)
    val media = graft.operators.Multimodal.asBlobTable(docs, "doc_id", "text")
    val feats = graft.operators.Multimodal.extractFeatures(media)
    val j = feats.join(docs, feats("media_id") === docs("doc_id"))
      .filter(col("n_bytes") =!= length(col("text"))).count()
    assert(j == 0) // ASCII text: bytes == chars
    val frames = graft.operators.Multimodal.sampleFrames(media, 1000L)
    assert(frames.count() >= 10)
  }

  test("heavy hitters: sketch+recount equals naive groupBy+HAVING, any partitioning (X21)") {
    val toks = spark.read.parquet(s"${sf()}/documents.parquet")
      .select(explode(TextAnalysis.tokens(col("text"))).as("tok"))
    def naive(df: org.apache.spark.sql.DataFrame, f: Double) = {
      val n = df.count()
      df.groupBy(col("tok")).count()
        .filter(col("count") >= math.ceil(f * n))
        .select(col("tok").as("item"), col("count").as("cnt"))
    }
    for (parts <- Seq(1, 7)) {
      val in = toks.repartition(parts)
      val got = graft.operators.Profile.heavyHitters(in, "tok", 0.005)
        .collect().map(r => (r.getString(0), r.getLong(1))).sorted.toSeq
      val want = naive(in, 0.005)
        .collect().map(r => (r.getString(0), r.getLong(1))).sorted.toSeq
      assert(got == want, s"parts=$parts")
      assert(got.nonEmpty) // non-vacuous: the fixture has stopword-like hitters
    }
    // array form (one token array per document) must equal the exploded form
    val arrays = spark.read.parquet(s"${sf()}/documents.parquet")
      .select(TextAnalysis.tokens(col("text")).as("toks"))
    val viaArrays = graft.operators.Profile.heavyHittersFromArrays(arrays, "toks", 0.005)
      .collect().map(r => (r.getString(0), r.getLong(1))).sorted.toSeq
    val viaScalar = naive(toks, 0.005)
      .collect().map(r => (r.getString(0), r.getLong(1))).sorted.toSeq
    assert(viaArrays == viaScalar)
  }

  test("heavy hitters: nulls ignored, empty input yields empty result (X21)") {
    val withNulls = spark.createDataFrame(Seq(
      Tuple1(Option("a")), Tuple1(Option("a")), Tuple1(Option("a")), Tuple1(Option.empty[String]),
      Tuple1(Option("b")), Tuple1(Option.empty[String]))).toDF("tok")
    val hh = graft.operators.Profile.heavyHitters(withNulls, "tok", 0.5)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    // n counts non-null items only (4): threshold ceil(0.5*4)=2 → only "a"
    assert(hh == Seq(("a", 3L)))
    val empty = spark.createDataFrame(Seq.empty[Tuple1[String]]).toDF("tok")
    assert(graft.operators.Profile.heavyHitters(empty, "tok", 0.1).count() == 0)
  }

  test("incremental cross-snapshot pairs equal the cross slice of the full pair set (X2)") {
    val docs = spark.read.parquet(s"${sf()}/documents.parquet")
    val cut = (docs.agg(max(col("doc_id"))).head.getLong(0) + 1L) * 4L / 5L
    val full = Dedup.jaccardPairs(docs, "doc_id", "text", 3, 0.8)
      .filter(col("id1") < cut && col("id2") >= cut)
      .select(col("id2").as("new_id"), col("id1").as("old_id"), col("jaccard"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted.toSeq
    spark.catalog.clearCache(); Dedup.releaseInternalCaches()
    val newDocs = docs.filter(col("doc_id") >= cut)
    val oldDocs = docs.filter(col("doc_id") < cut)
    val inc = Dedup.jaccardPairsBetween(newDocs, oldDocs, "doc_id", "text", 3, 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted.toSeq
    assert(inc == full)
    assert(inc.nonEmpty) // non-vacuous at sf0.001: 9 cross pairs
    // novelty filter = new docs minus the matched new ids
    val novel = Dedup.incrementalNovel(newDocs, oldDocs, "doc_id", "text", 3, 0.8)
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    val matched = inc.map(_._1).toSet
    val allNew = newDocs.select(col("doc_id")).collect().map(_.getLong(0)).toSet
    assert(novel == allNew.diff(matched))
    // the storable-history path: shingle frame written to parquet and read
    // back must produce the identical pair set (the recurring-ingest flow)
    spark.catalog.clearCache(); Dedup.releaseInternalCaches()
    val dir = tempDir("graft_hist")
    Dedup.shingleFrame(oldDocs, "doc_id", "text", 3).write.mode("overwrite").parquet(dir)
    val prepared = Dedup.jaccardPairsBetweenPrepared(
      Dedup.shingleFrame(newDocs, "doc_id", "text", 3).persist(),
      spark.read.parquet(dir), 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted.toSeq
    assert(prepared == inc)
  }

  test("sketch-table rollup: merged HLL estimates within 5% of exact at every level (X6)") {
    val ev = spark.read.parquet(s"${sf()}/events.parquet")
    val sk = graft.operators.Profile.distinctSketches(ev, Seq("event_type"), "user_id")
    val per = graft.operators.Profile.rollupDistinct(sk, Seq("event_type"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    val exactPer = ev.groupBy(col("event_type")).agg(countDistinct(col("user_id")).as("n"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(per.keySet == exactPer.keySet)
    per.foreach { case (t, est) =>
      assert(math.abs(est - exactPer(t)).toDouble / exactPer(t) <= 0.05,
        s"type $t: estimate $est vs exact ${exactPer(t)}")
    }
    // the GLOBAL answer comes from unioning the stored per-type sketches —
    // raw data is not rescanned — and must still be within the bound
    val global = graft.operators.Profile.rollupDistinct(sk, Nil).head.getLong(0)
    val exactGlobal = ev.agg(countDistinct(col("user_id"))).head.getLong(0)
    assert(math.abs(global - exactGlobal).toDouble / exactGlobal <= 0.05,
      s"global estimate $global vs exact $exactGlobal")
    // the "stored artifact" claim is real: the sketch binary survives a
    // parquet write/read and the re-read table rolls up to the same answer
    val dir = tempDir("graft_sk")
    sk.write.mode("overwrite").parquet(dir)
    val reread = graft.operators.Profile.rollupDistinct(
      spark.read.parquet(dir), Nil).head.getLong(0)
    assert(reread == global, s"parquet round trip changed the estimate: $reread vs $global")
  }

  test("quantile-sketch rollup: merged estimates within 1% of rank vs exact at every level (X6)") {
    val ev = spark.read.parquet(s"${sf()}/events.parquet")
    val qs = Seq(0.5, 0.9, 0.99)
    // rank-error pin: the estimate for q must lie between the EXACT
    // (q-1%) and (q+1%) percentiles — the honest error metric for a
    // rank-space sketch (value-space error is data-scale-dependent)
    def bounds(df: org.apache.spark.sql.DataFrame, group: Seq[String]) = {
      val lo = qs.map(q => expr(s"percentile(value, ${math.max(0.0, q - 0.01)})"))
      val hi = qs.map(q => expr(s"percentile(value, ${math.min(1.0, q + 0.01)})"))
      val aggs = lo.zip(hi).zipWithIndex.flatMap { case ((l, h), i) =>
        Seq(l.as(s"lo$i"), h.as(s"hi$i")) }
      if (group.isEmpty) df.agg(aggs.head, aggs.tail: _*).withColumn("event_type", lit("__all__"))
      else df.groupBy(group.map(col): _*).agg(aggs.head, aggs.tail: _*)
    }
    val est = Queries.x6QuantileRollup(spark, sf())
      .collect().map(r => r.getString(0) -> Seq(r.getDouble(1), r.getDouble(2), r.getDouble(3))).toMap
    val bnd = (bounds(ev, Seq("event_type")).collect() ++ bounds(ev, Nil).collect())
      .map(r => r.getAs[String]("event_type") ->
        qs.indices.map(i => (r.getAs[Double](s"lo$i"), r.getAs[Double](s"hi$i")))).toMap
    assert(est.keySet == bnd.keySet && est.nonEmpty)
    for ((t, es) <- est; (e, i) <- es.zipWithIndex) {
      val (lo, hi) = bnd(t)(i)
      assert(e >= lo && e <= hi,
        s"type $t q=${qs(i)}: estimate $e outside exact rank band [$lo, $hi]")
    }
    // the stored-artifact claim is real: sketches survive a parquet
    // write/read, and a TWO-LEVEL rollup (per-type table → re-sketched
    // coarser sketch → estimate) stays inside the same rank band
    val sk = graft.operators.Profile.quantileSketches(ev, Seq("event_type"), "value")
    val dir = tempDir("graft_qsk")
    sk.write.mode("overwrite").parquet(dir)
    val coarse = spark.read.parquet(dir)
      .agg(graft.functions.QuantileSketch.mergeSketches(col("qsketch")).as("qsketch"))
    val twoLevel = graft.operators.Profile.rollupQuantiles(
      coarse.withColumn("n_rows", lit(0L)), Nil, qs).head()
    for (i <- qs.indices) {
      val (lo, hi) = bnd("__all__")(i)
      val e = twoLevel.getAs[Double](s"p${Seq("50", "90", "99")(i)}")
      assert(e >= lo && e <= hi,
        s"two-level q=${qs(i)}: $e outside [$lo, $hi]")
    }
  }

  test("x6_quantile_merge: both merge paths stay inside the 1%-of-rank band over per-order cells") {
    // the native merge aggregate's bench row (one sketch per order, ~1.5k
    // cells at sf0.001): the |cells|→1 estimate and the bucketed two-level
    // resketch must both land within 1% of rank of the exact percentiles
    val got = Queries.x6QuantileMerge(spark, sf()).collect()
      .map(r => r.getString(0) -> Seq(r.getDouble(1), r.getDouble(2), r.getDouble(3)))
      .toMap
    assert(got.keySet == Set("direct", "two_level"))
    val qs = Seq(0.5, 0.95, 0.99)
    val bandAggs = qs.zipWithIndex.flatMap { case (q, i) => Seq(
      expr(s"percentile(l_extendedprice, ${math.max(0.0, q - 0.01)})").as(s"lo$i"),
      expr(s"percentile(l_extendedprice, ${math.min(1.0, q + 0.01)})").as(s"hi$i")) }
    val b = spark.read.parquet(s"${sf()}/lineitem.parquet")
      .agg(bandAggs.head, bandAggs.tail: _*).head()
    for ((path, es) <- got; (e, i) <- es.zipWithIndex) {
      val (lo, hi) = (b.getAs[Double](s"lo$i"), b.getAs[Double](s"hi$i"))
      assert(e >= lo && e <= hi,
        s"$path q=${qs(i)}: $e outside exact rank band [$lo, $hi]")
    }
  }

  test("quantile-sketch kernel: compress preserves mass/order, estimate interpolates and clamps") {
    import graft.functions.QuantileSketch.{compress, estimate}
    // small inputs are only sorted, never smeared
    assert(compress(Seq((3.0, 1L), (1.0, 2L)), 4) == Seq((1.0, 2L), (3.0, 1L)))
    // compression preserves total mass and stays sorted and under the cap
    val big = (1 to 1000).map(i => (i.toDouble, 1L))
    val c = compress(big, 64)
    assert(c.size <= 64 && c.map(_._2).sum == 1000L)
    assert(c == c.sortBy(_._1))
    // a heavyweight centroid larger than the budget survives alone
    val heavy = compress(Seq((0.0, 1000L)) ++ (1 to 99).map(i => (i.toDouble, 1L)), 8)
    assert(heavy.exists { case (m, w) => m == 0.0 && w == 1000L })
    // estimate: empty → NaN; single centroid → its mean at any q;
    // extremes clamp to the outermost means; midpoints interpolate
    assert(estimate(Nil, 0.5).isNaN)
    assert(estimate(Seq((7.0, 5L)), 0.0) == 7.0 && estimate(Seq((7.0, 5L)), 1.0) == 7.0)
    val two = Seq((0.0, 1L), (10.0, 1L))
    assert(estimate(two, 0.0) == 0.0 && estimate(two, 1.0) == 10.0)
    assert(estimate(two, 0.5) == 5.0)
    // monotone in q over an uneven sketch
    val sk = Seq((0.0, 1L), (1.0, 10L), (2.0, 1L), (100.0, 3L))
    val es = Seq(0.0, 0.1, 0.25, 0.5, 0.75, 0.9, 1.0).map(estimate(sk, _))
    assert(es == es.sorted, s"not monotone: $es")
    // heavy-tie plateaus survive compression EXACTLY: a bucket of identical
    // values must emit that value, not sum(v*w)/w (48.95*3/3 is one ulp
    // high, which on tied data moves the estimate past the whole plateau's
    // rank mass — the r32 sf3 accuracy-sweep find). 25 distinct values ×
    // 120 repeats, budget forces ~multi-row buckets: every centroid whose
    // span sits inside one plateau must carry the exact plateau value, and
    // the p50 estimate must land exactly on its plateau.
    val plateau = (0 until 25).flatMap { i =>
      val v = 48.95 + i * 0.31
      Seq.fill(120)((v, 1L))
    }
    val pc = compress(scala.util.Random.shuffle(plateau), 256)
    val values = plateau.map(_._1).distinct.toSet
    val offPlateau = pc.filterNot { case (m, _) => values.contains(m) }
    assert(offPlateau.isEmpty,
      s"constant buckets drifted off their plateau value: $offPlateau")
    assert(values.contains(estimate(pc, 0.5)),
      s"p50 ${estimate(pc, 0.5)} is not a data value")
  }

  test("PII redaction: each rule fires, order protects emails, idempotent (X22)") {
    val cases = Seq(
      ("write to bob.smith+x@corp.example.org today", "write to [EMAIL] today"),
      ("call +44 (0) 20-7946 0958 now", "call [PHONE] now"),
      ("host 10.0.255.7 down", "host [IP] down"),
      ("ssn 123-45-6789 on file", "ssn [SSN] on file"),
      // email local part has digit runs — must become [EMAIL], not [PHONE]/[IP]
      ("id a.000111222@mail.example.com end", "id [EMAIL] end"),
      ("no pii here 12 34", "no pii here 12 34"))
    val df = spark.createDataFrame(cases).toDF("text", "want")
      .withColumn("got", TextAnalysis.redactPii(col("text")))
      .withColumn("got2", TextAnalysis.redactPii(col("got")))
    val bad = df.filter(col("got") =!= col("want") || col("got2") =!= col("got"))
      .collect()
    assert(bad.isEmpty, bad.mkString("\n"))
  }

  test("repetition metrics: hand-computed fractions, zero-shuffle plan (X23)") {
    val docs = spark.createDataFrame(Seq(
      (1L, "a a a b"),        // dup 2/4, top word 3/4, top bigram "a a" 2/3
      (2L, "x y z"),          // no repetition
      (3L, "w"),              // single token: no bigrams
      (4L, "")               // empty
    )).toDF("doc_id", "text")
    val m = graft.operators.TextAnalysis.repetitionMetrics(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4)))).toMap
    assert(m(1L) == ((4L, 0.5, 0.75, round6(2.0 / 3))))
    assert(m(2L) == ((3L, 0.0, round6(1.0 / 3), 0.5)))
    assert(m(3L) == ((1L, 0.0, 1.0, 0.0)))
    assert(m(4L) == ((0L, 0.0, 0.0, 0.0)))
    // per-row computation: no exchange anywhere in the plan
    val plan = graft.operators.TextAnalysis.repetitionMetrics(docs, "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
  }

  test("mass deletion: the tombstone screen is size-aware — shuffle anti-join past the " +
      "broadcast bar, broadcast under it, SAME results either way (rebuild-minus exact)") {
    // round-19 VERDICT #1: a GDPR-scale takedown between compactions must
    // not ship an unbounded broadcast to every executor on every search.
    // Route choice is a plan shape, never a result: both routes hash the
    // rebuild-without-those-rows oracle. The plan pin disables Spark's
    // auto-broadcast so the two routes are unambiguous: under the bar the
    // EXPLICIT broadcast() hint forces a BroadcastHashJoin LeftAnti even
    // at threshold -1; past the bar no hint is planted and the anti-join
    // plans as a shuffle join (at real scale Spark's own sizing governs).
    val e = spark.read.parquet(s"${sf()}/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
    val q = e.filter(col("vec_id") < 3)
    val gone = e.filter(col("vec_id") % 5 < 2) // 40% of the corpus
    val kept = e.filter(col("vec_id") % 5 >= 2)
    val base = tempDirPath("graft_ann_mass").toString
    def rows(df: org.apache.spark.sql.DataFrame): Set[(Long, Int, Long)] =
      df.select("query_id", "rank", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val oracle = rows(Similarity.bruteForceTopK(kept, q, "vec_id",
      "embedding", 10))
    Similarity.buildIndex(e, "vec_id", "embedding", "quantized", s"$base/m")
    Similarity.deleteIndex(gone, "vec_id", s"$base/m")
    val meta = Similarity.readIndexMeta(spark, s"$base/m")
    assert(meta.tomb_rows == gone.count(),
      s"tomb_rows must track the takedown set: $meta")
    def search() = Similarity.indexedTopK(q, "vec_id", "embedding", 10, s"$base/m")
    // the pin reads the ANTI-join lines only: the query-set broadcasts
    // (explicit hints by design) stay BroadcastHashJoin on both routes
    def antiLines(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.queryExecution.executedPlan.toString.linesIterator
        .filter(_.contains("LeftAnti")).toSeq
    val prevThresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      // BROADCAST route (default bar 1M rows): the hint survives threshold -1
      val bcast = search()
      val bLines = antiLines(bcast)
      assert(bLines.nonEmpty && bLines.forall(_.contains("BroadcastHashJoin")),
        bcast.queryExecution.executedPlan.toString)
      assert(rows(bcast) == oracle, "broadcast route diverged from oracle")
      // SHUFFLE route (bar forced to 0): no hint on the screen — with
      // auto-broadcast off the anti-join plans as a plain shuffle join
      spark.conf.set("spark.graft.knn.tombBroadcastMaxRows", "0")
      val shuf = search()
      val sLines = antiLines(shuf)
      assert(sLines.nonEmpty && sLines.forall(!_.contains("BroadcastHashJoin")),
        shuf.queryExecution.executedPlan.toString)
      assert(rows(shuf) == oracle, "shuffle route diverged from oracle")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThresh)
      spark.conf.unset("spark.graft.knn.tombBroadcastMaxRows")
    }
    // compact clears the bookkeeping with the fence
    Similarity.compactIndex(spark, s"$base/m")
    assert(Similarity.readIndexMeta(spark, s"$base/m").tomb_rows == 0L)
  }

  test("compactIndex retainFolded: folded generation directories outlive the commit " +
      "(in-flight readers keep their file lists); the next maintenance verb sweeps them") {
    // round-19 VERDICT #4: the DEPLOY caveat ("compaction can fail
    // in-flight readers; retry") turned into a declared grace window
    val e = spark.read.parquet(s"${sf()}/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
    val q = e.filter(col("vec_id") < 3)
    val base = tempDirPath("graft_ann_retain").toString
    def rows(df: org.apache.spark.sql.DataFrame): Set[(Long, Int, Long)] =
      df.select("query_id", "rank", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val hi = e.agg(max(col("vec_id"))).head.getLong(0) + 1L
    Similarity.buildIndex(e.filter(col("vec_id") < hi / 2), "vec_id",
      "embedding", "quantized", s"$base/r")
    Similarity.appendIndex(e.filter(col("vec_id") >= hi / 2), "vec_id",
      "embedding", s"$base/r")
    val fs = new org.apache.hadoop.fs.Path(base)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def gens: Set[String] = fs.listStatus(new org.apache.hadoop.fs.Path(
        s"$base/r/index.parquet")).map(_.getPath.getName)
      .filter(_.startsWith("gen=")).toSet
    assert(gens == Set("gen=0", "gen=1"))
    // an in-flight reader's file list, captured BEFORE the compact
    val preFiles = spark.read.parquet(s"$base/r/index.parquet")
      .inputFiles.toSet
    val pre = rows(Similarity.indexedTopK(q, "vec_id", "embedding", 10, s"$base/r"))
    Similarity.compactIndex(spark, s"$base/r", retainFolded = true)
    // the folded generations OUTLIVE the commit: every pre-compaction file
    // is still present and readable (the in-flight query finishes), while
    // new readers fence to the consolidated generation and match exactly
    assert(gens == Set("gen=0", "gen=1", "gen=2"), gens.toString)
    assert(preFiles.forall(f => fs.exists(new org.apache.hadoop.fs.Path(f))),
      "retainFolded must keep the pre-compaction file list readable")
    assert(rows(Similarity.indexedTopK(q, "vec_id", "embedding", 10, s"$base/r")) == pre)
    // the NEXT maintenance verb (a compact retry here) sweeps the retained
    // directories — the declared reclamation cadence
    Similarity.compactIndex(spark, s"$base/r")
    assert(gens == Set("gen=2"), gens.toString)
    assert(rows(Similarity.indexedTopK(q, "vec_id", "embedding", 10, s"$base/r")) == pre)
  }

  test("per-category index family: an equality candidateFilter routes to the sub-index " +
      "(exact recall, no widening); other predicates fall through; append refuses; delete cascades") {
    // round-19 VERDICT #2: the knn_filter_low_selectivity advisory's
    // named remedy automated
    val e = spark.read.parquet(s"${sf()}/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"),
        col("label"))
    val q = e.filter(col("vec_id") < 3).drop("label")
    val base = tempDirPath("graft_ann_family").toString
    def rows(df: org.apache.spark.sql.DataFrame): Set[(Long, Int, Long)] =
      df.select("query_id", "rank", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    Similarity.buildIndex(e, "vec_id", "embedding", "quantized",
      s"$base/f", attributeColumns = Seq("label"),
      partitionByAttribute = Some("label"))
    val meta = Similarity.readIndexMeta(spark, s"$base/f")
    assert(meta.part_attr.contains("label") &&
      meta.part_values.exists(_.contains("1")), meta.toString)
    val fs = new org.apache.hadoop.fs.Path(base)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    meta.part_values.get.foreach { v =>
      val sub = Similarity.readIndexMeta(spark,
        Similarity.subIndexPath(s"$base/f", v))
      assert(sub.method == "quantized" && sub.part_attr.isEmpty, sub.toString)
    }
    // ROUTED equality: exact recall over the category — the sub-index is
    // the category's whole corpus, scanned like any quantized index
    val routed = Similarity.indexedTopK(q, "vec_id", "embedding", 10,
      s"$base/f", candidateFilter = Some("label = 1"))
    assert(rows(routed) == rows(Similarity.bruteForceTopK(
      e.filter(col("label") === 1), q, "vec_id", "embedding", 10)))
    // CONJUNCTION routing: the equality conjunct picks the sub-index, the
    // RESIDUAL rides down as the sub-search's candidateFilter (the
    // standing "category AND secondary predicate" shape) — exact against
    // the doubly-filtered oracle
    val conj = Similarity.indexedTopK(q, "vec_id", "embedding", 10,
      s"$base/f", candidateFilter = Some("label = 1 AND id % 2 = 0"))
    assert(rows(conj) == rows(Similarity.bruteForceTopK(
      e.filter(col("label") === 1 && col("vec_id") % 2 === 0),
      q, "vec_id", "embedding", 10)))
    // NON-equality predicates fall through to the generic filtered path
    // over the top index — still exact against the filtered oracle
    val ranged = Similarity.indexedTopK(q, "vec_id", "embedding", 10,
      s"$base/f", candidateFilter = Some("label <= 1"))
    assert(rows(ranged) == rows(Similarity.bruteForceTopK(
      e.filter(col("label") <= 1), q, "vec_id", "embedding", 10)))
    // an OR (or a predicate with TWO competing equalities) must NOT route
    val ored = Similarity.indexedTopK(q, "vec_id", "embedding", 10,
      s"$base/f", candidateFilter = Some("label = 1 OR label = 2"))
    assert(rows(ored) == rows(Similarity.bruteForceTopK(
      e.filter(col("label") === 1 || col("label") === 2),
      q, "vec_id", "embedding", 10)))
    // a value the family has no sub-index for: zero matches, zero rows
    assert(Similarity.indexedTopK(q, "vec_id", "embedding", 10,
      s"$base/f", candidateFilter = Some("label = 999")).count() == 0L)
    // append refuses on a family (it would desynchronize routed searches)
    val err = intercept[IllegalArgumentException] {
      Similarity.appendIndex(e.limit(1), "vec_id", "embedding", s"$base/f")
    }
    assert(err.getMessage.contains("per-category family"), err.getMessage)
    // delete CASCADES to every sub-index: the routed search must never
    // serve a deleted row
    val victim = e.filter(col("label") === 1).select(col("vec_id")).limit(3)
    val victimIds = victim.collect().map(_.getLong(0)).toSet
    Similarity.deleteIndex(victim, "vec_id", s"$base/f")
    val afterDel = rows(Similarity.indexedTopK(q, "vec_id", "embedding", 10,
      s"$base/f", candidateFilter = Some("label = 1")))
    assert(afterDel == rows(Similarity.bruteForceTopK(
      e.filter(col("label") === 1 && !col("vec_id").isin(victimIds.toSeq: _*)),
      q, "vec_id", "embedding", 10)),
      "routed search served a deleted row (cascade failed)")
    // a REBUILD clears stale sub-indexes (the category set is data-derived)
    Similarity.buildIndex(e.filter(col("label") < 2), "vec_id", "embedding",
      "quantized", s"$base/f", attributeColumns = Seq("label"),
      partitionByAttribute = Some("label"))
    val meta2 = Similarity.readIndexMeta(spark, s"$base/f")
    assert(meta2.part_values.contains(Seq("0", "1")), meta2.toString)
    val subDirs = fs.listStatus(new org.apache.hadoop.fs.Path(s"$base/f"))
      .map(_.getPath.getName).filter(_.startsWith("attr=")).toSet
    assert(subDirs == Set("attr=0", "attr=1"),
      s"stale sub-indexes must die with the rebuild: $subDirs")
  }

  test("deleteIndex matching nothing on a fresh index leaves no tombstone or gen directory behind") {
    val e = spark.read.parquet(s"${sf()}/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
    val base = tempDirPath("graft_ann_delete_none").toString
    Similarity.buildIndex(e, "vec_id", "embedding", "quantized", s"$base/q")
    val rep = Similarity.deleteIndex(
      e.select((col("vec_id") + 1000000L).as("vec_id")), "vec_id", s"$base/q").head()
    assert(rep.getLong(2) == 0L && rep.getLong(3) == e.count(), rep.toString)
    val fs = new org.apache.hadoop.fs.Path(base)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$base/q/tombstones.parquet")),
      "a delete that matched nothing must leave no tombstone directory")
    assert(fs.listStatus(new org.apache.hadoop.fs.Path(s"$base/q/index.parquet"))
      .map(_.getPath.getName).filter(_.startsWith("gen=")).toSet == Set("gen=0"))
  }

  test("deleteIndex bookkeeping on a duplicate-id corpus: n_rows stays in corpus-row " +
      "units (matched postings over the method multiplicity)") {
    // round-19 ADVICE: build/append increment n_rows by raw row counts;
    // a distinct-id delete decrement would drift the staleness and
    // selectivity denominators on any corpus with duplicate ids
    val e = spark.read.parquet(s"${sf()}/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
      .filter(col("vec_id") < 50)
    val corpus = e.union(e) // every id twice
    val base = tempDirPath("graft_ann_dup").toString
    Similarity.buildIndex(corpus, "vec_id", "embedding", "ivf", s"$base/d",
      nCells = 4, nAssign = 2)
    assert(Similarity.readIndexMeta(spark, s"$base/d").n_rows == 100L)
    val rep = Similarity.deleteIndex(
      e.filter(col("vec_id") < 10).select("vec_id"), "vec_id", s"$base/d").head()
    // 10 ids × 2 corpus rows each — NOT 10 (the distinct-id drift)
    assert(rep.getLong(2) == 20L, rep.toString)
    assert(Similarity.readIndexMeta(spark, s"$base/d").n_rows == 80L)
  }

  test("exact-fallback determinism: an id re-appended with a different vector keeps " +
      "its MAX-scoring copy (the ivf/lsh collapse rule), never an arbitrary posting") {
    // round-19 ADVICE: the fallback's dropDuplicates kept an arbitrary
    // row per id — nondeterministic, and divergent from the main routes
    val ss = spark
    import ss.implicits._
    val base = tempDirPath("graft_ann_fallback").toString
    val corpus = Seq(
      (1L, Seq(0.0, 1.0, 0.0, 0.0), 7),
      (2L, Seq(0.6, 0.8, 0.0, 0.0), 7),
      (3L, Seq(0.0, 0.0, 1.0, 0.0), 5))
      .toDF("vec_id", "embedding", "label")
      .withColumn("embedding", col("embedding").cast("array<double>"))
    Similarity.buildIndex(corpus, "vec_id", "embedding", "quantized",
      s"$base/fb", attributeColumns = Seq("label"))
    // re-append id 1 with a DIFFERENT vector (no intervening delete):
    // both postings are live; the collapse must keep the max-cos copy
    Similarity.appendIndex(
      Seq((1L, Seq(1.0, 0.0, 0.0, 0.0), 7)).toDF("vec_id", "embedding", "label")
        .withColumn("embedding", col("embedding").cast("array<double>")),
      "vec_id", "embedding", s"$base/fb")
    val q = Seq((100L, Seq(1.0, 0.0, 0.0, 0.0))).toDF("vec_id", "embedding")
      .withColumn("embedding", col("embedding").cast("array<double>"))
    // label = 7 matches 2 distinct ids <= k×4 — the exact-fallback route
    val got = Similarity.indexedTopK(q, "vec_id", "embedding", 2,
        s"$base/fb", candidateFilter = Some("label = 7"))
      .select("rank", "neighbor_id", "cos").collect()
      .map(r => (r.getInt(0), r.getLong(1), round6(r.getDouble(2)))).toSet
    // neighbor 1's max-cos copy is the re-appended unit-x vector (cos 1),
    // not the build's orthogonal original (cos 0)
    assert(got == Set((1, 1L, 1.0), (2, 2L, 0.6)), got.toString)
  }

  test("posting leaf layout is scale-adaptive: flat below the rows-per-leaf bar, " +
      "nested when the bar is forced; appends and compactions follow the committed " +
      "layout and both routes serve identical rows (r21)") {
    val e = spark.read.parquet(s"${sf()}/embeddings.parquet")
      .select(col("vec_id"),
        col("embedding").cast("array<double>").as("embedding"))
    val cut = (e.agg(max(col("vec_id"))).head.getLong(0) + 1L) / 2L
    val old = e.filter(col("vec_id") < cut)
    val neu = e.filter(col("vec_id") >= cut)
    val q = e.filter(col("vec_id") < 3)
    val base = tempDirPath("graft_ann_layout").toString
    val fs = new org.apache.hadoop.fs.Path(base)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // leaf directory names across EVERY committed generation — uniform
    // depth is what parquet partition discovery requires
    def leafDirs(p: String): Set[String] = {
      val idx = new org.apache.hadoop.fs.Path(s"$p/index.parquet")
      fs.listStatus(idx).filter(_.isDirectory).map(_.getPath)
        .filter(_.getName.startsWith("gen="))
        .flatMap(g => fs.listStatus(g).filter(_.isDirectory)
          .map(_.getPath.getName)).toSet
    }
    def rows(df: org.apache.spark.sql.DataFrame): Set[(Long, Int, Long)] =
      df.select("query_id", "rank", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    // default bar (1024 expected rows per leaf): this corpus sits far
    // below it at 4 tables x 4 buckets -> FLAT gen-only layout
    Similarity.buildIndex(old, "vec_id", "embedding", "lsh", s"$base/flat",
      nTables = 4, planesPerTable = 2)
    assert(!leafDirs(s"$base/flat").exists(_.startsWith("tbl=")),
      s"expected flat postings below the bar: ${leafDirs(s"$base/flat")}")
    // bar forced to 0 reproduces the always-nested (at-scale) layout
    spark.conf.set("spark.graft.knn.partitionMinRowsPerLeaf", "0")
    try Similarity.buildIndex(old, "vec_id", "embedding", "lsh",
      s"$base/nested", nTables = 4, planesPerTable = 2)
    finally spark.conf.unset("spark.graft.knn.partitionMinRowsPerLeaf")
    assert(leafDirs(s"$base/nested").forall(_.startsWith("tbl=")) &&
      leafDirs(s"$base/nested").nonEmpty,
      s"expected nested postings at bar 0: ${leafDirs(s"$base/nested")}")
    // appends FOLLOW the committed layout (no mixed depths), bar unset
    Similarity.appendIndex(neu, "vec_id", "embedding", s"$base/flat")
    Similarity.appendIndex(neu, "vec_id", "embedding", s"$base/nested")
    assert(!leafDirs(s"$base/flat").exists(_.startsWith("tbl=")))
    assert(leafDirs(s"$base/nested").forall(_.startsWith("tbl=")))
    // identical postings -> identical candidates -> identical rows
    val fr = rows(Similarity.indexedTopK(q, "vec_id", "embedding", 5,
      s"$base/flat"))
    assert(fr == rows(Similarity.indexedTopK(q, "vec_id", "embedding", 5,
      s"$base/nested")), "flat and nested layouts must serve the same rows")
    // compaction preserves each index's committed layout and its rows
    Similarity.compactIndex(spark, s"$base/flat")
    Similarity.compactIndex(spark, s"$base/nested")
    assert(!leafDirs(s"$base/flat").exists(_.startsWith("tbl=")))
    assert(leafDirs(s"$base/nested").forall(_.startsWith("tbl=")))
    assert(fr == rows(Similarity.indexedTopK(q, "vec_id", "embedding", 5,
      s"$base/flat")), "compaction must not change the flat route's rows")
    assert(fr == rows(Similarity.indexedTopK(q, "vec_id", "embedding", 5,
      s"$base/nested")), "compaction must not change the nested route's rows")
  }

  test("driver memo maps stay bounded across many keys (cappedPut)") {
    // the driver memos (the reader's schema memo, the knn metaCache /
    // selCache) are JVM-global — a long-lived driver serving many paths
    // must not grow them forever; cappedPut is their shared clear-on-full
    // bound
    val m = new java.util.concurrent.ConcurrentHashMap[String, Int]
    (0 until 5000).foreach(i => graft.sinks.Reads.cappedPut(m, s"path-$i", i))
    assert(m.size <= 1024, s"memo map grew past its bound: ${m.size}")
    // the most recent entry always lands (a flush never loses the put)
    assert(m.containsKey("path-4999"))
  }

  private def round6(d: Double): Double = math.round(d * 1e6) / 1e6
}
