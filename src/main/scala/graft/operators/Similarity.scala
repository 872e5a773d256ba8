package graft.operators

import org.apache.spark.internal.Logging
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import com.fasterxml.jackson.databind.annotation.JsonDeserialize

import graft.functions.VectorFunctions
import graft.sinks.{Commit, Exec, Generations, Reads}
import graft.sinks.Generations.observedOr

/** Approximate-nearest-neighbor search over an embedding column
  * (SURVEY §2B X3).
  *
  * Two paths:
  *  - [[bruteForceTopK]] — exact: broadcast the (small) query set against the
  *    full corpus; one pass, no shuffle of the corpus itself. The correctness
  *    oracle, and at 100 TB still the right plan when queries ≪ corpus: the
  *    corpus is scanned once, map-side, and only (query, k) heads survive.
  *  - [[ivfTopK]] — IVF-style: partition the corpus into Voronoi cells around
  *    coarse centroids, probe only the closest `nProbe` cells per query
  *    (inverted-file indexing per Jégou et al. 2011, "Product quantization
  *    for nearest neighbor search" — coarse quantizer only, no PQ codes).
  *    Trades recall for a ~nProbe/nCells scan fraction.
  */
object Similarity extends Logging {

  /** Exact top-k cosine neighbors for each query vector. `queries` is expected
    * to be small (it is broadcast); ties break on neighbor id ascending for
    * determinism. Self-matches (same id) are excluded.
    *
    * The per-query top-k is a partial-aggregating [[graft.functions.TopK]]
    * heap, NOT a window sort: the corpus-sized scored relation never crosses
    * an exchange — each map partition ships at most k rows per query.
    */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int): DataFrame =
    rankRows(scored(corpus.select(col(idCol).as("id"), col(vecCol).as("vec")), Nil,
      queryFrame(queries, idCol, vecCol)), k, distinct = false)

  /** Deterministic sampled k-means (Lloyd) for the IVF coarse quantizer.
    * The sample is bounded (`sampleN` lowest-id vectors via a top-k take,
    * not a full sort) and the iterations run on the driver over that tiny
    * sample — at 100 TB this is a fixed ~1 MB collect + microseconds of CPU,
    * NOT a distributed k-means; the corpus itself is only ever touched by
    * the map-side cell assignment. Seeds are evenly spaced sample points;
    * an emptied cluster keeps its previous centroid.
    */
  /** @param countObs optional Observation collecting `n` = the corpus row
    *   count during the sampling scan (the top-k heap reads every row
    *   anyway) — lets the ivf build skip its separate full count() job.
    */
  private[operators] def kmeansCentroids(corpus: DataFrame, idCol: String, vecCol: String,
      nCells: Int, iters: Int = 15, sampleN: Int = 2048,
      countObs: Option[org.apache.spark.sql.Observation] = None): Array[Array[Double]] = {
    // Deterministic UNBIASED sample: top-N by id *hash*, not by id — ids are
    // usually assigned in ingest/time order, and the N lowest-id vectors
    // would model only the earliest slice of the corpus. Hash order is a
    // pseudo-random but reproducible permutation; the take is still a
    // bounded top-k heap, never a full sort.
    val base = corpus.select(col(idCol), col(vecCol).cast("array<double>"))
    val sampled: Array[Array[Double]] = Exec.run(base)(b => countObs.fold(b)(o =>
        b.observe(o, count(lit(1)).as("n")))
      .orderBy(xxhash64(col(idCol)), col(idCol)).limit(sampleN)
      .collect())
      .sortBy(r => String.valueOf(r.get(0))) // order-stable seeding start
      .map(_.getSeq[Double](1).toArray)
    require(sampled.nonEmpty, "kmeansCentroids needs a non-empty corpus")
    // guard against ragged input: k-means is only defined on one dimension
    val dim0 = sampled(0).length
    val sample = sampled.filter(_.length == dim0)
    val kk = math.min(nCells, sample.length)
    def d2(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { val d = a(i) - b(i); s += d * d; i += 1 }
      s
    }
    // Farthest-first seeding (deterministic k-means++ flavor): start from the
    // lowest-id sample vector, then repeatedly take the point farthest from
    // all chosen seeds. Spreads seeds across the data's actual extent —
    // measurably better cell coverage than evenly-spaced sample indices.
    val seeds = scala.collection.mutable.ArrayBuffer(sample(0))
    val minD = sample.map(v => d2(v, sample(0)))
    while (seeds.length < kk) {
      var best = 0; var bd = -1.0
      var j = 0
      while (j < sample.length) { if (minD(j) > bd) { bd = minD(j); best = j }; j += 1 }
      val s = sample(best)
      seeds += s
      j = 0
      while (j < sample.length) { minD(j) = math.min(minD(j), d2(sample(j), s)); j += 1 }
    }
    var centroids = seeds.toArray.map(_.clone())
    for (_ <- 0 until iters) {
      val sums = Array.fill(kk)(new Array[Double](sample(0).length))
      val counts = new Array[Int](kk)
      sample.foreach { v =>
        var best = 0; var bd = Double.MaxValue; var j = 0
        while (j < kk) { val d = d2(v, centroids(j)); if (d < bd) { bd = d; best = j }; j += 1 }
        counts(best) += 1
        var i = 0; while (i < v.length) { sums(best)(i) += v(i); i += 1 }
      }
      centroids = Array.tabulate(kk) { j =>
        if (counts(j) == 0) centroids(j)
        else {
          // Spherical k-means: the mean of unit vectors is re-normalized so
          // every centroid stays unit — then L2 ranking against centroids is
          // exactly cosine ranking (d² = 2 − 2·cos for unit vectors), which
          // is the metric the ANN search actually uses.
          val m = sums(j).map(_ / counts(j))
          val n = math.sqrt(m.map(x => x * x).sum)
          if (n == 0.0) centroids(j) else m.map(_ / n)
        }
      }
    }
    centroids
  }

  /** IVF (inverted-file) ANN: assign corpus vectors to their `nAssign`
    * nearest coarse centroids (map-side, centroids broadcast), then for each
    * query scan only the `nProbe` nearest cells. Centroids come from
    * [[kmeansCentroids]] — a deterministic sampled k-means — so cells
    * approximate the data's actual Voronoi structure instead of arbitrary
    * seed points.
    *
    * `nAssign > 1` is multiple assignment (Jégou et al. 2011 §V: index
    * boundary points in several cells): the inverted index grows ×nAssign
    * but recall on weakly-clustered data rises sharply, because a true
    * neighbor near a Voronoi boundary no longer hides in an unprobed cell.
    * The probe-side scan cost stays ~nProbe/nCells of the (larger) index.
    */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, idCol: String, vecCol: String,
      k: Int, nCells: Int = 0, nProbe: Int = 0, nAssign: Int = 1): DataFrame = {
    // AUTO-SIZING (nCells/nProbe <= 0; the round-12 scale-accuracy fix): a
    // FIXED cell count degrades recall as the corpus grows — 16 cells over
    // 2k vectors probe tight neighborhoods, the same 16 over 20k vectors
    // average 1250 vectors/cell and recall@10 measured 0.78 at 10× data.
    // The standard IVF sizing (FAISS guideline) keeps cells ∝ √n: nCells =
    // ⌈√n⌉ clamped to [16, 1024]. The clamp no longer bounds plan size
    // (assignment carries the centroid matrix as ONE reference-object
    // expression, see NearestCells) — what it bounds now is the DRIVER
    // k-means training cost (iters·sample·cells·dim ≈ 4 GFLOP at 1024
    // cells, a few seconds single-threaded). Past ~10⁶ rows declare nCells
    // (assignment and probing handle thousands of cells fine) and bring a
    // hierarchically-trained quantizer if √n cells are genuinely needed.
    // nProbe holds a FIXED fraction of the cells (1/3, ProbeIvf-measured:
    // recall 0.91-0.95 at that fraction with nAssign=2 across 2k and 20k
    // corpora, vs 0.66-0.82 at 1/8 and 1/4): on weakly-clustered data
    // recall tracks the probed fraction, so shrinking the fraction as cells
    // grow would re-create the very decay this sizing fixes. The scale win
    // is structural, not the fraction: per-cell posting lists stay √n-sized
    // (bounded scan units, no skew blowup), and on genuinely CLUSTERED
    // corpora — the workload IVF exists for — a declared nProbe far below
    // nCells/3 keeps full recall at a fraction of the scan (the clustered
    // pin in OperatorsSpec holds 0.9 at 4/16). The recall contract assumes
    // nAssign >= 2 (boundary points indexed twice).
    // The corpus count (an eager full-scan job) is only needed to derive an
    // UNDECLARED nCells; auto nProbe derives from nCells in [[probeAndRank]].
    val cells =
      if (nCells > 0) nCells
      else {
        val n = math.max(1L, corpus.count())
        val c0 = math.min(1024, math.max(16, math.ceil(math.sqrt(n.toDouble)).toInt))
        logInfo(s"ivfTopK auto-sized: nCells=$c0")
        c0
      }
    require(nAssign >= 1 && nAssign <= cells, "nAssign must be in [1, nCells]")
    // Seq-of-Seq (structural equality) so identically-parameterized
    // NearestCells expressions are semanticEquals — see SignBuckets.
    // kmeans may return fewer centroids than `cells` on a degenerate
    // corpus; the projection and the probe clamp to the trained count.
    val centroids = kmeansCentroids(corpus, idCol, vecCol, cells).map(_.toSeq).toSeq
    transientTopK(corpus, queries, idCol, vecCol, k, AnnIndexMeta("ivf", 0, 0L,
      Some(cells), Some(nAssign), None, None, None, Some(centroids)), nProbe = nProbe)
  }

  /** LSH-bucketed ANN top-k (the third X3 path, alongside brute-force and
    * IVF): multi-table random-hyperplane sign buckets (Charikar 2002;
    * OR-amplified across `nTables` tables per Indyk–Motwani 1998 — the same
    * scheme, seeds, and one-plan-node `SignBuckets` expression as
    * [[Dedup.embeddingCosinePairs]], so a pair collides if it shares ANY
    * table's bucket). Candidates are exact-cosine re-ranked through the
    * distinct-pairs [[graft.functions.TopK]] heap, which collapses a pair
    * colliding in several tables INSIDE the partial aggregate.
    *
    * vs IVF: no training pass (hyperplanes are data-independent — nothing to
    * sample, collect, or iterate), at the cost of data-oblivious buckets.
    * 100 TB shape: the corpus side is bucketed map-side and joined against
    * the BROADCAST bucketed query set — the corpus never crosses an
    * exchange; only the per-partition k-row heap heads do. A query sharing
    * no bucket with ≥k corpus vectors returns fewer than k rows (the
    * documented LSH recall trade; raise nTables or lower planesPerTable to
    * widen buckets).
    */
  def lshTopK(corpus: DataFrame, queries: DataFrame, idCol: String, vecCol: String,
      k: Int, dim: Int, nTables: Int = 16, planesPerTable: Int = 4,
      seed: Long = 42L): DataFrame =
    transientTopK(corpus, queries, idCol, vecCol, k, AnnIndexMeta("lsh", dim, 0L,
      None, None, Some(nTables), Some(planesPerTable), Some(seed),
      Some(Dedup.tablePlanes(dim, nTables, planesPerTable, seed))))

  /** Int8-quantized brute-force top-k with exact re-rank (X3 quantized
    * path). The corpus is scored against the broadcast query set on the
    * int8 [[graft.functions.QuantizedCosine]] sketch — 4× less memory
    * traffic per vector than float32, the lever that matters when the
    * corpus scan IS the cost — keeping `k * refine` candidates per query
    * in the partial-aggregating heap; candidates then rejoin their full
    * vectors and the EXACT cosine picks the final k, so the int8 rounding
    * error (≲1.6e-2 per score) only costs recall if a true neighbor falls
    * below rank k·refine on the sketch, which the spec pins against on the
    * fixture. At 100 TB the quantized column is what you STORE
    * (`quantized` below, one-time map pass); the exact re-rank join
    * touches only `|queries| · k · refine` rows.
    */
  def quantizedTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int, refine: Int = 4): DataFrame =
    transientTopK(corpus, queries, idCol, vecCol, k,
      AnnIndexMeta("quantized", 0, 0L, None, None, None, None, None, None), refine = refine)

  /** A search without a stored index: the corpus goes through the same
    * [[postings]] projection a build writes, in memory, and is searched by
    * the same [[probeAndRank]] as the stored index — so stored == rebuilt
    * holds by construction.
    */
  private def transientTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int, meta: AnnIndexMeta, nProbe: Int = 0,
      refine: Int = 4): DataFrame =
    probeAndRank(postings(corpus.select(col(idCol).as("id"), col(vecCol).as("vec")), meta),
      meta, queryFrame(queries, idCol, vecCol), k, nProbe, refine)

  /** The storage-side half of the quantized path: the input frame with its
    * vector column replaced by the int8 sketch struct — write THIS at
    * ingest and the ANN sweep reads a quarter of the bytes.
    */
  def quantized(df: DataFrame, vecCol: String): DataFrame =
    df.withColumn(vecCol, VectorFunctions.quantize_vec(col(vecCol)))

  /** All-pairs similarity above a threshold via hyperplane LSH (delegates to
    * Dedup.embeddingCosinePairs — same machinery, different intent).
    */
  def similarPairs(emb: DataFrame, idCol: String, vecCol: String, dim: Int,
      threshold: Double): DataFrame =
    Dedup.embeddingCosinePairs(emb, idCol, vecCol, dim, threshold = threshold)

  // ------------------------------------------------------ stored ANN index

  /** The shared (query_id, rank, neighbor_id, cos) tail: per-query heap
    * top-k over the scored candidate relation, exploded to ranked rows.
    * `distinct` collapses a (query, neighbor) pair surfacing through
    * several cells/tables INSIDE the partial aggregate (no dedup exchange
    * over the corpus-sized scored relation).
    */
  private def rankRows(scored: DataFrame, k: Int, distinct: Boolean,
      win: Option[org.apache.spark.sql.Column] = None): DataFrame = {
    val top =
      if (distinct) graft.functions.TopK.topkDistinct(col("cos"), col("neighbor_id"), k)
      else graft.functions.TopK.topk(col("cos"), col("neighbor_id"), k)
    // the optional window key is the STREAMING state lever: cells finalize
    // and evict past the watermark instead of one per-query heap living
    // forever; on batch the same grouping makes stream == batch testable
    val keys = win.map(_.as("__w")).toSeq :+ col("query_id")
    val lead = win.map(_ => col("__w.start").as("window_start")).toSeq :+
      col("query_id")
    val leadNames = win.map(_ => "window_start").toSeq :+ "query_id"
    scored.groupBy(keys: _*)
      .agg(top.as("top"))
      .select(lead :+ posexplode(col("top")).as(Seq("rank0", "p")): _*)
      .select(leadNames.map(col) ++ Seq(
        (col("rank0") + 1).cast("int").as("rank"),
        col("p._2").as("neighbor_id"), col("p._1").as("cos")): _*)
  }

  /** The query side of every search: (query_id, qv) scored in double, plus
    * the window's time column when the search is windowed.
    */
  private def queryFrame(queries: DataFrame, idCol: String, vecCol: String,
      win: Option[(String, org.apache.spark.sql.Column)] = None): DataFrame =
    queries.select(Seq(col(idCol).as("query_id"),
      col(vecCol).cast("array<double>").as("qv")) ++ win.map(w => col(w._1)): _*)

  /** Postings (`keys`, id, vec) scored by exact cosine against the probe
    * rows sharing their `keys` (every probe row when `keys` is empty),
    * self-matches excluded. The probe side is broadcast unless it is a
    * stream (Spark broadcasts the static side of a stream-static join on
    * its own sizing), so the corpus-sized side never crosses an exchange.
    */
  private def scored(index: DataFrame, keys: Seq[String], probes: DataFrame): DataFrame = {
    val c = index.select(keys.map(col) ++ Seq(col("id").as("neighbor_id"),
      col("vec").cast("array<double>").as("cv")): _*)
    val p = if (probes.isStreaming) probes else broadcast(probes)
    (if (keys.isEmpty) c.join(p, col("neighbor_id") =!= col("query_id"))
     else c.join(p, keys).filter(col("neighbor_id") =!= col("query_id")))
      .withColumn("cos", VectorFunctions.cosine_sim(col("qv"), col("cv")))
  }

  /** The one probe-and-rank per method, over a posting frame — a stored
    * index's live postings, or a corpus projected through [[postings]] in
    * memory — and the [[AnnIndexMeta]] holding its geometry. `q` is a
    * [[queryFrame]]. `selectivity` (filtered, live corpus rows) widens the
    * ivf probe of a filtered search.
    */
  private def probeAndRank(index: DataFrame, meta: AnnIndexMeta, q: DataFrame,
      k: Int, nProbe: Int, refine: Int,
      win: Option[(String, org.apache.spark.sql.Column)] = None,
      selectivity: Option[(Long, Long)] = None): DataFrame = meta.method match {
    case "quantized" =>
      require(!q.isStreaming && win.isEmpty,
        "indexedTopK over a quantized index is batch-only and unwindowed " +
          "(the int8 propose + exact re-rank is two chained " +
          "aggregations, which a stream cannot run) — store an ivf or " +
          "lsh index for streaming retrieval")
      // the int8 sketch proposes k * refine candidates per query; the
      // exact cosine over their full vectors picks the final k, so the
      // rounding error (≲1.6e-2 per score) only costs recall when a true
      // neighbor falls below rank k * refine on the sketch
      val qq = q.withColumn("qq", VectorFunctions.quantize_vec(col("qv")))
      val cands = index.select(col("id").as("neighbor_id"), col("q").as("cq"))
        .join(broadcast(qq.select(col("query_id"), col("qq"))),
          col("neighbor_id") =!= col("query_id"))
        .withColumn("acos", VectorFunctions.quantized_cos(col("qq"), col("cq")))
        .groupBy(col("query_id"))
        .agg(graft.functions.TopK.topk(col("acos"), col("neighbor_id"),
          k * refine).as("top"))
        .select(col("query_id"), explode(col("top")).as("p"))
        .select(col("query_id"), col("p._2").as("neighbor_id"))
      val rescored = cands
        .join(index.select(col("id").as("neighbor_id"),
          col("vec").cast("array<double>").as("cv")), "neighbor_id")
        .join(broadcast(q), "query_id")
        .withColumn("cos", VectorFunctions.cosine_sim(col("qv"), col("cv")))
      rankRows(rescored, k, distinct = false)
    case "ivf" =>
      val cents = meta.vectors.get
      val kk = cents.length
      // auto-nProbe derives from the DECLARED nCells (meta.n_cells) then
      // clamps to the trained count, so a kmeans that clamped the grid
      // still probes what was asked for. A candidateFilter WIDENS the
      // probe count by 1/selectivity (clamped to all cells): each probed
      // cell surfaces only ~sel of its postings, so probing base/sel cells
      // restores the unfiltered candidate volume — the k contract and the
      // recall contract both ride on candidate volume, not cell count.
      val baseProbe =
        if (nProbe > 0) nProbe
        else math.max(4, math.ceil(meta.n_cells.get / 3.0).toInt)
      val widened = selectivity.fold(baseProbe) { case (nf, nl) =>
        val sel = math.max(nf.toDouble / nl, 1.0 / kk)
        math.ceil(baseProbe / sel).toInt
      }
      if (widened > baseProbe)
        logInfo(s"indexedTopK: candidateFilter selectivity " +
          f"${selectivity.get._1.toDouble / selectivity.get._2}%.3f " +
          s"widened nProbe $baseProbe -> ${math.min(widened, kk)} of $kk cells")
      val probed = q.withColumn("cell",
        explode(VectorFunctions.nearest_cells(col("qv"), cents, math.min(widened, kk))))
      // multi-assignment surfaces one (query, neighbor) through several
      // probed cells with a bit-identical score
      rankRows(scored(index, Seq("cell"), probed), k,
        distinct = meta.n_assign.exists(_ > 1), win = win.map(_._2))
    case "lsh" =>
      val probed = q.select(col("*"), posexplode(VectorFunctions.sign_buckets(col("qv"),
        meta.vectors.get, meta.planes_per_table.get)).as(Seq("tbl", "bucket")))
      // a pair colliding in several tables collapses in the heap
      rankRows(scored(index, Seq("tbl", "bucket"), probed), k, distinct = true,
        win = win.map(_._2))
    case other => throw new IllegalArgumentException(s"unknown knn index method '$other'")
  }

  /** Build and STORE an ANN index artifact under `indexPath` — the X3
    * analogue of the drift family's stored-artifact discipline (the
    * reference's design is likewise build-once-reuse state:
    * KTableRegistry.java:41-50 registers materialized tables once and every
    * later lookup reuses them). Until this op, knn re-trained the k-means /
    * re-hashed the corpus ON EVERY query batch — at 100 TB that is the most
    * expensive recompute in the engine, paid for state that is fully
    * deterministic and reusable.
    *
    * Layout under `indexPath`:
    *  - `_manifest/N.json` — the committed [[AnnIndexMeta]] ([[Commit]]'s
    *    numbered manifest, written by the driver): method, dim, corpus row
    *    count, geometry, generation/tombstone fences; the data-dependent
    *    state (trained centroids for ivf / generated hyperplanes for lsh —
    *    a few hundred KB at most) sits in the `_manifest/vectors.bin`
    *    sidecar, written once per build and named by the manifest.
    *  - `index.parquet` — the postings ([[postings]]), carrying the full
    *    vectors so the index is SELF-CONTAINED (query time never rescans
    *    the corpus), under `gen=N` generation directories: quantized →
    *    (id, q int8-sketch, vec); ivf → (cell, id, vec); lsh → (tbl,
    *    bucket, id, vec). ivf/lsh postings are PARTITIONED BY cell or
    *    (tbl, bucket) only when the build clears the rows-per-leaf bar
    *    ([[shouldPartitionLeaves]]: at most 4096 leaves, each expected to
    *    hold `spark.graft.knn.partitionMinRowsPerLeaf` rows, default 1024);
    *    below it they stay flat, the leaf columns as plain data columns.
    *    The partition layout is the scale lever: a probe reads only its
    *    cells' directories (dynamic partition pruning through the
    *    broadcast probe join), so query cost tracks nProbe/nCells of the
    *    INDEX, not the corpus scan; below the bar the sliver directories
    *    would cost more than they prune. Appends and compactions follow
    *    the layout the build chose.
    *
    * Geometry is DECLARED, not auto-sized: the artifact pins it (an
    * auto-sized build would silently re-derive different geometry per
    * snapshot and break stored==rebuilt reproducibility). ivf training is
    * the same deterministic [[kmeansCentroids]] as the direct path, so a
    * rebuild over the same corpus yields the identical index — pinned in
    * tests and the r44 accuracy contract.
    *
    * Returns a one-row build report (method, dim, corpus_rows, index_rows)
    * — index_rows recounted from the written parquet (a metadata count),
    * so the report verifies the write landed.
    */
  def buildIndex(corpus: DataFrame, idCol: String, vecCol: String,
      method: String, indexPath: String, nCells: Int = 0, nAssign: Int = 2,
      nTables: Int = 16, planesPerTable: Int = 4, dim: Int = 0,
      seed: Long = 42L, attributeColumns: Seq[String] = Nil,
      partitionByAttribute: Option[String] = None): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    require(partitionByAttribute.forall(attributeColumns.contains),
      s"buildIndex partitionByAttribute '${partitionByAttribute.getOrElse("")}'" +
        " must be one of attributeColumns (the routed equality filter " +
        "predicates on the stored attribute)")
    // attribute columns ride the postings as plain data columns (metadata
    // the search can predicate on — candidateFilter); reserved layout
    // names would collide with the index's own columns
    val reserved = Set("id", "vec", "q", "gen", "cell", "tbl", "bucket")
    require(attributeColumns.forall(a => !reserved.contains(a)),
      s"buildIndex attributeColumns may not use reserved index column " +
        s"names (${reserved.mkString(", ")})")
    val c = corpus.select(col(idCol).as("id") +: col(vecCol).as("vec") +:
      attributeColumns.map(col): _*)
    val theDim =
      if (dim > 0) dim
      else Exec.run(c)(_.select(size(col("vec")).as("d")).limit(1).collect()).headOption
        .map(_.getInt(0))
        .getOrElse(throw new IllegalArgumentException(
          "buildIndex: corpus is empty and dim is undeclared — declare dim " +
            "(the embedding width) or index a non-empty snapshot " +
            "(round-17 ADVICE: the size probe has no row to read)"))
    // quantized has no leaf directories (leafCount == 1), so nothing before
    // the posting write needs the corpus row count — it is OBSERVED during
    // the write pass instead of a separate full count() job; ivf observes
    // it during the kmeans training scan (already a full corpus pass).
    // Only lsh still pays the count up front: it has no earlier full pass,
    // and the leaf-layout sizing needs n before the write.
    val n0 = if (method == "lsh") Exec.run(c)(_.count()) else -1L
    val meta0: AnnIndexMeta = method match {
      case "quantized" =>
        AnnIndexMeta("quantized", theDim, n0, None, None, None, None, None, None)
      case "ivf" =>
        require(nCells >= 1, "buildIndex method=ivf requires nCells >= 1 — " +
          "the artifact pins geometry (ceil(sqrt(corpus rows)) is the " +
          "standard sizing; auto-sizing here would break stored==rebuilt " +
          "reproducibility across snapshots)")
        require(nAssign >= 1 && nAssign <= nCells,
          s"buildIndex nAssign must be in [1, nCells], got $nAssign")
        val kmObs = org.apache.spark.sql.Observation()
        val cents = kmeansCentroids(corpus.select(col(idCol), col(vecCol)),
          idCol, vecCol, nCells, countObs = Some(kmObs)).map(_.toSeq).toSeq
        // meta stores the DECLARED geometry (what the user asked for and
        // what a consuming knn's preflight compares against); the trained
        // state speaks for itself via vectors.length. kmeans may clamp to
        // fewer centroids on a degenerate corpus — storing the clamped
        // numbers would (a) fail the preflight against the very values the
        // user declared and (b) make indexedTopK's auto-nProbe derive from
        // the clamped count where ivfTopK derives from the declared one,
        // breaking stored == rebuilt
        AnnIndexMeta("ivf", theDim, observedOr(kmObs, "n", 0L), Some(nCells),
          Some(nAssign), None, None, None, Some(cents))
      case "lsh" =>
        require(nTables >= 1 && planesPerTable >= 1 && planesPerTable <= 31,
          "buildIndex method=lsh needs nTables >= 1 and planesPerTable in [1, 31]")
        AnnIndexMeta("lsh", theDim, n0, None, None, Some(nTables),
          Some(planesPerTable), Some(seed),
          Some(Dedup.tablePlanes(theDim, nTables, planesPerTable, seed)))
      case other => throw new IllegalArgumentException(
        s"buildIndex method '$other' unknown (quantized, ivf, lsh; exact " +
          "has no index to store — the scan is the plan)")
    }
    val meta = meta0.copy(attr_cols =
      if (attributeColumns.nonEmpty) Some(attributeColumns) else None)
    val idxDir = s"$indexPath/index.parquet"
    // REBUILD crash ordering: retract the manifest BEFORE touching
    // postings — from this instant the path reads as "no index here"
    // (readIndexMeta fails loudly), so a build killed at ANY point can
    // never leave an old manifest paired with new postings (old centroids
    // resolving cells against a new partition domain would return
    // silently wrong neighbors). The manifest is committed LAST below; an
    // in-place rebuild is therefore destructive while it runs — build to a
    // fresh path and swap for zero-downtime republishes.
    // A previous incarnation's tombstones die with its manifest — the
    // rebuilt index starts with no deletions (its corpus IS the truth). A
    // previous incarnation's per-category SUB-INDEXES die too (the
    // category set is data-derived; a stale sub-directory would serve a
    // vanished category)
    val fs0 = hpath(indexPath).getFileSystem(spark.sparkContext.hadoopConfiguration)
    Seq(Commit.manifestDir(hpath(indexPath)), hpath(layoutOf(indexPath).tombs),
        hpath(s"$indexPath/_family_stage_postings"))
      .foreach(fs0.delete(_, true))
    if (fs0.exists(hpath(indexPath)))
      fs0.listStatus(hpath(indexPath)).foreach { st =>
        if (st.getPath.getName.startsWith("attr="))
          fs0.delete(st.getPath, true)
      }
    // leaf-layout decision is made HERE, once per index (appends and
    // compactions follow the committed depth): nest cell/bucket dirs only
    // when the corpus is big enough to amortize them — see
    // shouldPartitionLeaves
    val corpusObs =
      if (meta.n_rows < 0) Some(org.apache.spark.sql.Observation()) else None
    val cWrite = corpusObs.fold(c)(o => c.observe(o, count(lit(1)).as("n")))
    val (idxRows, schema) = writePostings(cWrite, meta, gen = 0, idxDir,
      overwrite = true,
      partitionLeaves = shouldPartitionLeaves(spark, meta, meta.n_rows))
    val n = corpusObs.fold(meta.n_rows)(observedOr(_, "n", 0L))
    // PER-CATEGORY sub-index family: one self-contained sub-index per
    // distinct attribute value, built with the SAME declared geometry under
    // `indexPath/attr=<value>/` — the routing target for an equality
    // candidateFilter (full recall at the sub-corpus scan cost, no probe
    // widening). The category set must be bounded (the drift-strata
    // discipline): each category is a directory, a meta, and a training
    // pass, so a high-cardinality attribute is refused loudly. Each
    // sub-build's corpus scan pushes the equality down to the source scan
    // (partition/row-group pruning pays most of the repeat). Built BEFORE
    // the top meta commits, so a crash mid-family still reads as "no index
    // here". NULL-valued rows join no category (an equality filter never
    // matches them); they stay searchable through the top index.
    val partVals: Option[Seq[String]] = partitionByAttribute.map { a =>
      // ONE job derives the category set, each category's row count, AND
      // each category's staging key (hex(xxhash64(value)) — filesystem-
      // safe, and produced by the SAME expression the staged write below
      // partitions on, so the driver's value→directory mapping and the
      // executors' directory names cannot disagree)
      val catRows = Exec.run(c)(_.filter(col(a).isNotNull)
        .groupBy(col(a).cast("string").as("__v"))
        .agg(count(lit(1)).as("n"))
        .select(col("__v"), col("n"), hex(xxhash64(col("__v"))).as("__ap"))
        .limit(MaxCategorySubIndexes + 1)
        .collect())
      require(catRows.length <= MaxCategorySubIndexes,
        s"buildIndex partitionByAttribute '$a' has more than " +
          s"$MaxCategorySubIndexes distinct values — a per-category family " +
          "needs a bounded category set (one sub-index per value); " +
          "partition on a coarser attribute or drop partitionByAttribute")
      val vals = catRows.map(_.getString(0)).sorted.toSeq
      val counts = catRows.map(r => r.getString(0) -> r.getLong(1)).toMap
      val hexOf = catRows.map(r => r.getString(0) -> r.getString(2)).toMap
      // ONE-PASS family build (quantized/lsh — per-row-deterministic
      // posting state, so every sub-index's postings are computable from
      // one shared corpus scan): stage ALL sub postings in one write
      // partitioned by the category key, then rename each staged directory
      // into its sub-index layout and commit its manifest driver-side.
      // The per-category loop below (kept for ivf, whose subs each train
      // their own centroids, and for any sub large enough to want leaf
      // directories — the staged write is flat) paid one corpus scan PLUS
      // count/write jobs PER CATEGORY: ~3 jobs × |categories| at any
      // scale, and without attribute-partitioned source data, |categories|
      // full corpus re-reads at 100 TB. Postings and manifests are
      // bit-equivalent to the loop's (same select lists, same geometry,
      // same flat layout the adaptive sizing picks for sub-sized corpora).
      val subWantsLeafDirs =
        vals.exists(v => shouldPartitionLeaves(spark, meta, counts(v)))
      val onePass = vals.nonEmpty && method != "ivf" && !subWantsLeafDirs &&
        hexOf.values.toSet.size == vals.length
      if (onePass) {
        val stageP = s"$indexPath/_family_stage_postings"
        val fc = c.filter(col(a).isNotNull)
          .withColumn("__ap", hex(xxhash64(col(a).cast("string"))))
        val staged = postings(fc, meta, "__ap" +: attributeColumns)
          .withColumn("gen", lit(0))
        Exec.run(staged)(_.write.mode("overwrite").partitionBy("__ap", "gen").parquet(stageP))
        // each renamed category directory reads as a flat gen-partitioned
        // index
        val subSchema = Reads.readBack(
          org.apache.spark.sql.types.StructType(
            staged.schema.filterNot(_.name == "__ap")), Seq("gen")).json
        vals.foreach { v =>
          val sub = subIndexPath(indexPath, v)
          fs0.delete(hpath(sub), true)
          fs0.mkdirs(hpath(sub))
          require(fs0.rename(hpath(s"$stageP/__ap=${hexOf(v)}"),
              hpath(s"$sub/index.parquet")),
            s"buildIndex: cannot install staged postings for category '$v'" +
              s" at $sub")
          commitBuild(spark, sub, meta.copy(n_rows = counts(v),
            schema = Some(subSchema)))
        }
        fs0.delete(hpath(stageP), true)
      } else vals.foreach { v =>
        buildIndex(corpus.filter(col(a).cast("string") === lit(v)), idCol,
          vecCol, method, subIndexPath(indexPath, v), nCells = nCells,
          nAssign = nAssign, nTables = nTables,
          planesPerTable = planesPerTable, dim = theDim, seed = seed,
          attributeColumns = attributeColumns)
      }
      vals
    }
    val metaFinal = meta.copy(n_rows = n, part_attr = partitionByAttribute,
      part_values = partVals, schema = Some(schema))
    // manifest LAST: a killed build leaves postings without a manifest,
    // which reads as "no index here" (readIndexMeta fails loudly) instead
    // of a silent half-index
    commitBuild(spark, indexPath, metaFinal)
    // idxRows is the Observation-measured posting count from the write
    // pass itself — the old full read-back count was a second pass over
    // the entire just-written index on every build
    logInfo(s"buildIndex wrote $method index to $indexPath: " +
      s"$n corpus rows -> $idxRows index rows (dim $theDim)" +
      partVals.fold("")(vs => s"; per-category family of ${vs.length} " +
        s"sub-indexes on ${partitionByAttribute.get}"))
    Seq((meta.method, meta.dim, n, idxRows))
      .toDF("method", "dim", "corpus_rows", "index_rows")
  }

  /** Bounded-cardinality bar for [[buildIndex]] partitionByAttribute — one
    * sub-index (directory + meta + training pass) per category value.
    */
  private[operators] val MaxCategorySubIndexes = 64

  /** Directory of the per-category sub-index for `value` — URL-encoded so
    * arbitrary category strings stay filesystem-safe.
    */
  private[graft] def subIndexPath(indexPath: String, value: String): String =
    s"$indexPath/attr=${java.net.URLEncoder.encode(value, "UTF-8")}"

  /** If `predicate` is exactly the equality `attr = <literal>` (either
    * operand order), the literal's string rendering — the per-category
    * routing key, matching [[buildIndex]]'s `cast("string")` rendering of
    * the category values. Anything else (conjunctions, ranges, IN, other
    * columns) is None: conjunctions route through [[equalityConjunct]],
    * the rest falls through to the generic filtered path.
    */
  private[graft] def equalityValue(predicate: String,
      attr: String): Option[String] =
    equalityConjunct(predicate, attr).collect { case (v, None) => v }

  /** Conjunction-aware routing split: when `predicate` is a conjunction
    * (or a lone equality) containing EXACTLY ONE equality on `attr`, the
    * equality's string-rendered value plus the RESIDUAL conjuncts' SQL
    * (None when the equality is the whole predicate) — the per-category
    * route for the standing "category AND secondary predicate" shape
    * ("lang = 'en' AND quality > 0.8"): the search runs on the value's
    * sub-index with the residual as its candidateFilter, so the category
    * scan is pruned to the sub-index even when more predicate remains.
    * Anything else (no equality on attr, two competing equalities, OR
    * trees) is None — the generic filtered path over the top index is
    * always correct.
    */
  private[graft] def equalityConjunct(predicate: String, attr: String,
      attrIsString: Boolean = false): Option[(String, Option[String])] = {
    import org.apache.spark.sql.catalyst.expressions.{And, EqualTo,
      Expression, Literal}
    import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
    def conjuncts(e: Expression): Seq[Expression] = e match {
      case And(l, r) => conjuncts(l) ++ conjuncts(r)
      case other     => Seq(other)
    }
    def attrEq(e: Expression): Option[(String, Boolean)] = e match {
      case EqualTo(a: UnresolvedAttribute, l: Literal)
        if a.name == attr => Option(l.value).map(v =>
          (String.valueOf(v), l.dataType ==
            org.apache.spark.sql.types.StringType))
      case EqualTo(l: Literal, a: UnresolvedAttribute)
        if a.name == attr => Option(l.value).map(v =>
          (String.valueOf(v), l.dataType ==
            org.apache.spark.sql.types.StringType))
      case _ => None
    }
    // the WHOLE split — parse AND residual .sql rendering — is fenced: an
    // unresolved conjunct whose .sql throws (or renders unparseable SQL)
    // must fall through to the always-correct generic path, never turn a
    // working filtered search into a hard failure (round-20 ADVICE)
    scala.util.Try {
      val parsed = org.apache.spark.sql.catalyst.parser.CatalystSqlParser
        .parseExpression(predicate)
      val cs = conjuncts(parsed)
      val (eqs, rest) = cs.partition(attrEq(_).isDefined)
      eqs match {
        case Seq(one) =>
          attrEq(one).flatMap { case (v, isStringLit) =>
            // COERCION GUARD (round-20 ADVICE): routing matches the
            // literal by its STRING rendering, but the generic path
            // evaluates the equality under SQL type coercion. The two can
            // only diverge when a NON-string literal meets a STRING
            // attribute column ("label = 3" coercing '03' to 3 would
            // match rows the label-'3' sub-index does not hold). A string
            // literal, or any literal against a non-string column, routes
            // safely: membership in the canonical part_values rendering
            // is then exactly the coerced equality's row set.
            if (!isStringLit && attrIsString) None
            else Some((v, if (rest.isEmpty) None
                else {
                  val r = rest.map(_.sql).mkString(" AND ")
                  // the rendered residual must itself re-parse — it
                  // becomes the sub-search's candidateFilter verbatim
                  org.apache.spark.sql.catalyst.parser.CatalystSqlParser
                    .parseExpression(r)
                  Some(r)
                }))
          }
        case _ => None
      }
    }.toOption.flatten
  }

  /** The routing decision both [[indexedTopK]] and the Interpreter's
    * audit preflight share: `predicate` routes to the per-category
    * sub-index for value `v` with an optional residual filter, under the
    * coercion guard evaluated against the index's STORED attribute type
    * (the manifest's postings schema). Keeping preflight and search on one
    * code path means the audit always prices the route the search
    * actually takes.
    */
  private[graft] def routedConjunct(spark: SparkSession, indexPath: String,
      meta: AnnIndexMeta, predicate: String): Option[(String, Option[String])] =
    meta.part_attr.flatMap { a =>
      equalityConjunct(predicate, a,
        attrIsString = storedAttrTypeIsString(spark, indexPath, meta, a))
        .filter { case (v, _) => meta.part_values.exists(_.contains(v)) }
    }

  /** Whether attribute column `attr` is stored as a STRING in the index
    * postings, from the committed manifest's postings schema. An
    * unreadable type reads as "string": the conservative direction (the
    * guard then refuses to route non-string literals, falling back to the
    * generic path, which is always correct).
    */
  private def storedAttrTypeIsString(spark: SparkSession, indexPath: String,
      meta: AnnIndexMeta, attr: String): Boolean =
    scala.util.Try(Generations.dataSchema(spark, layoutOf(indexPath),
      meta.fence)(attr).dataType == org.apache.spark.sql.types.StringType)
      .getOrElse(true)

  /** Memoized distinct-id count of the LIVE postings matching `filter` —
    * the filtered-search selectivity used for routing (exact fallback vs
    * probe widening) and priced by the audit preflight. Counting over
    * [[livePostings]] (generation-fenced, tombstone-screened) keeps the
    * preflight's predicted route consistent with the route the search
    * actually takes (a raw read would count orphaned generations and
    * deleted rows).
    *
    * The memo key is the meta FILE's listing signature (names + lengths +
    * modification times) — every maintenance commit rewrites the meta, so
    * appends/deletes/compacts invalidate naturally, and so does a REBUILD
    * or a republish-and-swap at the same path (whose meta fences reset to
    * their initial values and would alias under a fence-based key: the
    * stale previous-corpus count could suppress the probe widening the
    * new corpus needs). One live entry per (indexPath, filter) — a
    * superseded incarnation's entry is REPLACED, not retained, so the
    * cache stays bounded by the session's standing filters. The one
    * pushed-down (id, attrs)-column scan is paid once per (incarnation,
    * filter) — not once per preflight AND once per search build; the
    * signature itself is one driver-side file listing.
    */
  private val selCache =
    new java.util.concurrent.ConcurrentHashMap[(String, String),
      (String, Long)]
  private[graft] def filteredLiveIdCount(spark: SparkSession,
      indexPath: String, meta: AnnIndexMeta, filter: String): Long = {
    val sig = metaSig(spark, indexPath)
    val key = (indexPath, filter)
    val hit = selCache.get(key)
    if (hit != null && hit._1 == sig) hit._2
    else {
      val n = Exec.run(livePostings(spark, indexPath, meta))(
        _.filter(expr(filter)).select("id").distinct().count())
      Reads.cappedPut(selCache, key, (sig, n))
      n
    }
  }

  /** Directory-count bar for the index partition layout: past ~4k cell
    * directories the filesystem metadata cost outweighs pruning.
    */
  private val MaxPartitionedCells = 4096L

  /** Filtered-search fallback bar (× k): a candidateFilter matching at
    * most this many distinct corpus rows routes to an EXACT scan of the
    * filtered postings — at that size the scan costs less than one probe
    * batch and the k/recall contracts hold trivially, where widened
    * probes could still run dry.
    */
  private[operators] val ExactFallbackFactor = 4L

  /** Minimum expected posting rows per leaf directory for the cell/bucket
    * hive nesting to pay for itself (conf
    * `spark.graft.knn.partitionMinRowsPerLeaf`). Below it, a leaf holds a
    * metadata-dominated sliver of a file: a 2k-row lsh build used to fan
    * out into 256 directories × ~2 files of ~60 rows, and the build spent
    * 5 s on filesystem/commit overhead for 0.2 s of compute (r21 measured;
    * the directory listing then taxed every read-back too). At 100 TB the
    * same rule keeps the nesting ON — rows/leaf is enormous — so the DPP
    * pruning lever is unchanged exactly where it matters.
    */
  private val PartitionMinRowsPerLeafDefault = 1024L
  private def partitionMinRowsPerLeaf(spark: SparkSession): Long =
    spark.conf.getOption("spark.graft.knn.partitionMinRowsPerLeaf")
      .map(_.toLong).getOrElse(PartitionMinRowsPerLeafDefault)

  /** Leaf directory count of the method's hive nesting (1 = no nesting). */
  private def leafCount(meta: AnnIndexMeta): Long = meta.method match {
    case "ivf" => meta.n_cells.get.toLong
    case "lsh" => meta.n_tables.get.toLong * (1L << meta.planes_per_table.get)
    case _     => 1L
  }

  /** BUILD-time leaf-layout decision: nest cell/bucket directories only
    * when (a) the directory count is bounded ([[MaxPartitionedCells]]) and
    * (b) the corpus is large enough that each leaf amortizes its
    * filesystem cost ([[partitionMinRowsPerLeaf]] expected rows). The
    * decision is made ONCE per index (appends and compactions follow the
    * committed layout via [[leafPartitionedOnDisk]] — parquet partition
    * discovery requires a uniform directory depth across generations).
    */
  private def shouldPartitionLeaves(spark: SparkSession, meta: AnnIndexMeta,
      corpusRows: Long): Boolean = {
    val leaves = leafCount(meta)
    leaves > 1L && leaves <= MaxPartitionedCells &&
      corpusRows * postingMultiplicity(meta) >=
        leaves * partitionMinRowsPerLeaf(spark)
  }

  /** The COMMITTED leaf layout of an existing index: whether its posting
    * generations nest cell/bucket directories. One driver-side listing
    * (first `gen=*` directory's children); maintenance verbs must write
    * the same depth or partition discovery would see conflicting
    * structures mid-crash-window.
    */
  private def leafPartitionedOnDisk(spark: SparkSession,
      idxDir: String): Boolean = {
    val p = hpath(idxDir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.exists(p) && fs.listStatus(p).exists { st =>
      st.isDirectory && st.getPath.getName.startsWith("gen=") &&
        fs.listStatus(st.getPath).exists { ch =>
          ch.isDirectory && {
            val n = ch.getPath.getName
            n.startsWith("cell=") || n.startsWith("tbl=")
          }
        }
    }
  }

  /** The hive leaf columns of the method's postings (ivf cell, lsh
    * (tbl, bucket); quantized has none).
    */
  private def leafCols(method: String): Seq[String] = method match {
    case "ivf" => Seq("cell")
    case "lsh" => Seq("tbl", "bucket")
    case _     => Nil
  }

  /** The method's posting columns, leaf columns first. */
  private def postingCols(method: String): Seq[String] =
    leafCols(method) ++ (if (method == "quantized") Seq("id", "q", "vec") else Seq("id", "vec"))

  /** The one posting projection: `(id, vec)` rows become the method's
    * posting rows under `meta`'s geometry, the `carry` columns riding after
    * them — quantized (id, q int8-sketch, vec); ivf (cell, id, vec), one
    * row per assigned cell, the assignment clamped to the trained centroid
    * count (fewer cells than declared just means probing all of them); lsh
    * (tbl, bucket, id, vec), one row per table. Build, append, the
    * per-category family's one-pass staging and the transient searches all
    * project through here. Postings carry the full vector, so a probe
    * scores its candidates without rejoining the corpus.
    *
    * Cell assignment (like the query-side probe) is ONE
    * [[graft.functions.NearestCells]] node carrying the centroid matrix as
    * a codegen reference object: a literal-array argmin put nCells × dim
    * literal nodes into the plan, fell out of codegen and made assignment
    * time track plan size (measured 4.8× at 3× data). `cell` is written
    * as int, the type a leaf-partitioned read gives it, so the postings
    * schema does not depend on the layout.
    */
  private def postings(c: DataFrame, meta: AnnIndexMeta, carry: Seq[String] = Nil): DataFrame = {
    val tail = col("id") +: col("vec") +: carry.map(col)
    meta.method match {
      case "quantized" =>
        c.select(col("id") +: VectorFunctions.quantize_vec(col("vec")).as("q") +:
          col("vec") +: carry.map(col): _*)
      case "ivf" =>
        val assignN = math.min(meta.n_assign.get, meta.vectors.get.length)
        c.select(explode(VectorFunctions.nearest_cells(col("vec"), meta.vectors.get, assignN)
          .cast("array<int>")).as("cell") +: tail: _*)
      case "lsh" =>
        c.select(posexplode(VectorFunctions.sign_buckets(col("vec"), meta.vectors.get,
          meta.planes_per_table.get)).as(Seq("tbl", "bucket")) +: tail: _*)
    }
  }

  /** Write one posting generation — `gen` plus the posting columns — under
    * `idxDir` in the index's layout. `gen` is ALWAYS the FIRST partition
    * column — the crash-ordering lever: a generation only becomes visible
    * when the meta's `generation` advances to it (readers filter
    * `gen <= meta.generation`), and a crashed write's orphaned generation
    * is retracted by deleting ONE top-level `gen=N` directory. The leaf
    * directories (the DPP pruning lever) nest under it when
    * `partitionLeaves`, and the rows are then REPARTITIONED on the leaf
    * columns first: each leaf lands as one task's file instead of one file
    * PER MAP TASK per leaf, which at M map tasks × L leaves is an M×L
    * small-file explosion (guide §6). `tap` sees the frame the write
    * consumes.
    */
  private def writeGeneration(rows: DataFrame, method: String, partitionLeaves: Boolean,
      mode: String, idxDir: String, tap: DataFrame => DataFrame = identity): Unit = {
    val leaves = if (partitionLeaves) leafCols(method) else Nil
    tap(if (leaves.isEmpty) rows else rows.repartition(leaves.map(col): _*))
      .write.mode(mode).partitionBy("gen" +: leaves: _*).parquet(idxDir)
  }

  /** The posting write of [[buildIndex]] (gen 0, overwrite) and
    * [[appendIndex]] (gen g+1, append): the [[postings]] projection under
    * the META's pinned geometry, written by [[writeGeneration]] with the
    * build-time [[shouldPartitionLeaves]] layout. An append passes the
    * index's `recorded` postings schema and every posting column is cast
    * to its recorded type, so an index whose `cell` was written as bigint
    * stays uniform.
    *
    * Returns the posting row count, observed DURING the write pass
    * (org.apache.spark.sql.Observation) rather than by a read-back of the
    * written directory, and the postings' read schema, which the manifest
    * records.
    */
  private def writePostings(c: DataFrame, meta: AnnIndexMeta, gen: Int, idxDir: String,
      overwrite: Boolean, partitionLeaves: Boolean,
      recorded: Option[org.apache.spark.sql.types.StructType] = None): (Long, String) = {
    // declared attribute columns ride every posting as plain data columns
    // (the candidateFilter predicate surface — parquet-pushdown-able)
    val p = postings(c, meta, meta.attr_cols.getOrElse(Nil))
    val rows = p.select(lit(gen).as("gen") +: p.columns.toSeq.map(n =>
      recorded.fold(col(n))(s => col(n).cast(s(n).dataType).as(n))): _*)
    val obs = org.apache.spark.sql.Observation()
    Exec.run(rows)(r => writeGeneration(r, meta.method, partitionLeaves,
      if (overwrite) "overwrite" else "append", idxDir,
      w => w.observe(obs, count(lit(1)).as("rows"))))
    val parts = "gen" +: (if (partitionLeaves) leafCols(meta.method) else Nil)
    (observedOr(obs, "rows", 0L), Reads.readBack(rows.schema, parts).json)
  }

  /** INCREMENTAL index maintenance — append a batch of NEW vectors to a
    * stored [[buildIndex]] artifact without retraining or touching the
    * existing postings (the round-17 headline gap: the stored index was
    * the last full-corpus recompute in a daily ingest loop; the
    * reference's registry state is likewise incremental by design —
    * KTableRegistry.java:41-50 absorbs new records into a KTable, never
    * rebuilding from topic origin). The new rows are assigned with the
    * STORED geometry (meta pins centroids/hyperplanes/codes — no
    * retraining, so existing neighbors are bit-stable), written as ONE new
    * posting generation (a directory-local write: the hive layout means
    * only the new rows' cells' directories under `gen=N` are created), and
    * the meta is committed LAST with the advanced `generation` and
    * `n_rows`.
    *
    * Crash contract (pinned in OperatorsSpec):
    *  - killed ANYWHERE before the meta commit → the OLD index reads
    *    bit-identically (readers fence postings at `gen <= generation`,
    *    so the orphaned half-generation is invisible);
    *  - a RETRY first retracts orphan generations (one directory delete)
    *    — an append is therefore idempotent under kill/retry, never
    *    duplicating postings;
    *  - the meta commit itself is one manifest rename ([[commitMeta]]):
    *    every window reads as either the old or the new committed meta.
    *
    * Semantics per method: quantized/lsh appended == full-rebuild EXACTLY
    * (per-row codes / data-independent hyperplanes); ivf keeps the stored
    * centroids, so appended == rebuild-with-same-geometry exactly, while a
    * retrained rebuild may shift cells — the recall contract (r47) is the
    * accuracy gate there. Returns a one-row report; `index_rows` is
    * recounted from the committed generations, verifying the write landed.
    */
  def appendIndex(newRows: DataFrame, idCol: String, vecCol: String,
      indexPath: String): DataFrame = {
    val spark = newRows.sparkSession
    import spark.implicits._
    val meta = schemedMeta(spark, indexPath)
    // a per-category family's top and sub indexes must stay the SAME
    // corpus: appending to the top alone would leave every routed
    // (equality-filtered) search blind to the new rows. Until the family
    // grows an append protocol, the honest posture is a loud refusal —
    // rebuild the family (knn_index is the one verb that derives the
    // category set from the data)
    require(meta.part_attr.isEmpty,
      s"appendIndex: the index at '$indexPath' is a per-category family " +
        s"(partitionByAttribute=${meta.part_attr.getOrElse("")}) — appends " +
        "would desynchronize the routed sub-indexes from the top index; " +
        "rebuild the family with knn_index on the extended snapshot")
    val idxDir = s"$indexPath/index.parquet"
    val gl = layoutOf(indexPath)
    val stored = Generations.dataSchema(spark, gl, meta.fence)
    // appended postings must match the stored column types exactly or the
    // parquet read would mix schemas (e.g. array<float> vs array<double>);
    // declared attribute columns must arrive with the batch — an appended
    // row without them would read NULL under every candidateFilter
    val attrCols = meta.attr_cols.getOrElse(Nil)
    val missingAttrs = attrCols.filterNot(newRows.columns.contains)
    require(missingAttrs.isEmpty,
      s"appendIndex: the index at '$indexPath' stores attribute column(s) " +
        s"${attrCols.mkString(", ")} but the batch lacks " +
        s"${missingAttrs.mkString(", ")} — appended rows would read NULL " +
        "under every candidateFilter; supply the columns or rebuild " +
        "without attributeColumns")
    val c = newRows.select(
      col(idCol).cast(stored("id").dataType).as("id") +:
      col(vecCol).cast(stored("vec").dataType).as("vec") +:
      attrCols.map(a => col(a).cast(stored(a).dataType).as(a)): _*)
    val fs = indexFs(spark, indexPath)
    // retract a crashed predecessor's orphans and a completed compaction's
    // uncleaned folded generations (Generations.sweep)
    Generations.sweep(fs, gl, meta.fence)
    // The batch probe — count, the content SIGNATURE (the retry identity),
    // and the dim preflight bounds (min == max == meta.dim over non-null
    // vectors) — is OBSERVED during the write pass itself: ONE job over the
    // batch. The write therefore lands BEFORE validation; on a refused or
    // retried batch the just-written generation is retracted (the sweep)
    // with the meta untouched, so nothing becomes visible unless
    // validation passed and the meta advanced.
    val probeObs = org.apache.spark.sql.Observation()
    val cObserved = Generations.signed(c, probeObs,
      min(when(col("vec").isNotNull, size(col("vec")))).as("lo"),
      max(when(col("vec").isNotNull, size(col("vec")))).as("hi"))
    // follow the COMMITTED leaf layout (decided once at build time) —
    // mixed directory depths across generations would break partition
    // discovery
    val (idxRows, _) = writePostings(cObserved, meta, meta.generation + 1, idxDir,
      overwrite = false, partitionLeaves = leafPartitionedOnDisk(spark, idxDir),
      recorded = Some(stored))
    val (n, sig) = Generations.signature(probeObs)
    val loObs = observedOr[Any](probeObs, "lo", null)
    if (loObs != null) {
      val lo = loObs.asInstanceOf[Int]
      val hi = observedOr[Any](probeObs, "hi", null).asInstanceOf[Int]
      if (lo != meta.dim || hi != meta.dim) {
        // retract the orphan generation before refusing — the artifact
        // reads exactly as it did before the verb ran
        Generations.sweep(fs, gl, meta.fence)
        require(false,
          s"appendIndex: new rows carry dims $lo..$hi " +
            s"but the index at '$indexPath' pins dim ${meta.dim}")
      }
    }
    // RETRY IDENTITY: "postings AND manifest committed, the verb killed
    // before it returned" — a retry of that exact batch reads as
    // already-committed, retracts the generation it just wrote, and no-ops
    val updated = meta.fence.appended(n, sig) match {
      case Some(f) => meta.withFence(f).copy(n_rows = meta.n_rows + n)
      case None =>
        logWarning(s"appendIndex: batch signature matches the LAST committed " +
          s"append at $indexPath — treating as a retry of a completed append " +
          "(no-op)")
        Generations.sweep(fs, gl, meta.fence)
        return Seq((meta.method, meta.dim, 0L, meta.n_rows, 0L))
          .toDF("method", "dim", "appended_rows", "corpus_rows", "index_rows")
    }
    commitMeta(spark, indexPath, updated)
    // idxRows is the Observation-measured posting count from the write
    // pass — O(batch), no second pass over the appended generation
    logInfo(s"appendIndex committed gen ${updated.generation} at $indexPath: " +
      s"+$n corpus rows -> ${updated.n_rows} total ($idxRows new index rows)")
    Seq((meta.method, meta.dim, n, updated.n_rows, idxRows))
      .toDF("method", "dim", "appended_rows", "corpus_rows", "index_rows")
  }

  /** Fold a stored index's accumulated posting generations back into ONE —
    * the maintenance verb that completes the append lifecycle (every
    * [[appendIndex]] adds a generation; each probed cell then reads one
    * small file PER GENERATION, so a daily-append year degrades listing
    * and scan granularity ~365× even though total bytes are unchanged —
    * the LSM compaction argument). A PURE COPY: committed rows ride
    * through with their stored cells/buckets/codes (nothing is
    * re-assigned, re-trained or re-quantized), repartitioned on the
    * layout columns so each cell's accumulated small files land as one —
    * search results are bit-identical before and after, pinned in tests.
    *
    * Crash contract (the [[appendIndex]] discipline, extended downward):
    *  - the consolidated copy is written as generation `generation + 1` —
    *    invisible until its meta commits (the gen <= generation fence);
    *    killed before the commit, the OLD index reads bit-identically and
    *    the next maintenance verb retracts the orphan;
    *  - the meta commit ([[commitMeta]]) advances `generation` AND
    *    `base_gen` to the new generation together, so the folded
    *    duplicates below it become invisible ATOMICALLY with the copy
    *    becoming visible;
    *  - the folded directories are deleted AFTER the commit; killed
    *    mid-cleanup they stay invisible (base_gen fences them) and every
    *    later maintenance verb sweeps them ([[Generations.sweep]]).
    *
    * A single-generation index (or a retry landing after a completed
    * compaction) is a no-op — nothing to fold. `n_rows`, geometry and
    * `batch_sig` (the append retry identity) are preserved.
    *
    * `retainFolded` is the IN-FLIGHT-READER grace window: with it set,
    * the folded generation directories OUTLIVE the meta commit (they stay
    * invisible — the `base_gen` fence — but a long-running query that
    * listed its files before the commit can still read them to
    * completion instead of failing on a missing file). The NEXT
    * maintenance verb's sweep ([[Generations.sweep]], the first step of
    * every append/delete/compact — a compact retry included) reclaims the disk;
    * schedule compaction runs as that sweep cadence.
    *
    * On a PER-CATEGORY family the compact CASCADES to every sub-index
    * (same retention posture); the report row is the top index's.
    */
  def compactIndex(spark: SparkSession, indexPath: String,
      retainFolded: Boolean = false): DataFrame = {
    import spark.implicits._
    val meta = schemedMeta(spark, indexPath)
    // per-category family: fold every sub-index first (their report rows
    // are subsumed — the family compacts as one maintenance action)
    meta.part_values.getOrElse(Nil).foreach { v =>
      compactIndex(spark, subIndexPath(indexPath, v), retainFolded)
    }
    val idxDir = s"$indexPath/index.parquet"
    val fs = indexFs(spark, indexPath)
    val gl = layoutOf(indexPath)
    val f = meta.fence
    if (meta.base_gen == meta.generation && !f.tombsActive) {
      // one committed generation and no pending deletions (also: a retry
      // landing after a completed compaction) — nothing to fold, but STILL
      // sweep a predecessor's leftovers, which the natural retry (re-running
      // this very verb) must remove
      Generations.sweep(fs, gl, f)
      logInfo(s"compactIndex: index at $indexPath holds one committed " +
        s"generation (gen ${meta.generation}) — nothing to fold")
      return Seq((meta.method, meta.dim, meta.n_rows, 0, meta.generation))
        .toDF("method", "dim", "corpus_rows", "folded_generations",
          "generation")
    }
    // a PURE COPY of the live postings (fenced, minus active tombstones —
    // the fold is where deleted rows are physically dropped), repartitioned
    // on the layout columns so each cell's accumulated small files land as
    // one; an empty fold's marker mirrors the hive layout exactly (uniform
    // partition depth, so discovery never sees conflicting structures)
    // (a flat layout needs no repartition: read-coalescing packs the
    // accumulated small files into maxPartitionBytes-sized tasks, which IS
    // the compaction)
    val partLeaves = leafPartitionedOnDisk(spark, idxDir)
    val leaves = if (partLeaves) leafCols(meta.method) else Nil
    val cols = postingCols(meta.method) ++ meta.attr_cols.getOrElse(Nil)
    Generations.fold(spark, fs, gl, f, leaves.map(c => s"$c=0").mkString("/"),
        cols.filterNot(leaves.contains), retainFolded) { (live, g) =>
      writeGeneration(live.select(g +: cols.map(col): _*), meta.method, partLeaves,
        "append", idxDir)
    } { (folded, _) => commitMeta(spark, indexPath, meta.withFence(folded)) }
    val folded = meta.generation - meta.base_gen + 1
    val newGen = meta.generation + 1
    logInfo(s"compactIndex folded $folded generations at $indexPath into " +
      s"gen $newGen (${meta.n_rows} corpus rows" +
      (if (f.tombsActive) s"; dropped + cleared tombstone generations " +
        s"${meta.tomb_base}..${meta.tomb_gen}" else "") + ")" +
      (if (retainFolded) " — retainFolded: the folded generations outlive " +
        "this commit until the next maintenance verb's sweep" else ""))
    Seq((meta.method, meta.dim, meta.n_rows, folded, newGen))
      .toDF("method", "dim", "corpus_rows", "folded_generations",
        "generation")
  }

  /** Delete rows from a stored index by id — the takedown/opt-out verb
    * that completes the maintenance lifecycle (build → append → DELETE →
    * compact; round-18 VERDICT #1: a removal was the one remaining
    * full-corpus recompute). No posting is touched: the verb writes ONE
    * TOMBSTONE generation (the distinct ids, partitioned like the posting
    * generations under `tombstones.parquet/gen=N`) and commits the meta
    * with the advanced `tomb_gen` and the adjusted `n_rows` — readers
    * anti-join the fenced tombstone set (a broadcast, map-side) and
    * [[compactIndex]] physically drops tombstoned rows during its fold,
    * then clears the tombstones. The reference's table state deletes the
    * same way: a compacted topic's null payload tombstones the key until
    * log compaction drops it (TopicProvisioner.java:37-43 pins
    * cleanup.policy=compact; KTableRegistry.java:48 applies tombstones
    * last-write-wins).
    *
    * Each tombstone records `upto` = the posting generation committed at
    * delete time: it kills only postings with gen <= upto, so an id
    * RE-APPENDED after its deletion is live again (compacted-topic
    * last-write-wins, not a permanent ban), and compaction folds both
    * facts away cleanly.
    *
    * Crash contract (the [[appendIndex]] discipline): a tombstone
    * generation above the committed `tomb_gen` is invisible (readers
    * fence `tomb_base <= gen <= tomb_gen`); the retry retracts orphans
    * first; the meta commit is the same manifest rename. The verb is
    * idempotent ACROSS the commit too, without a signature: only ids with
    * >= 1 LIVE not-yet-tombstoned posting are written (an unmatched id's
    * tombstone could never kill anything — later appends outrank its
    * `upto` fence), so a retry of a committed delete matches nothing and
    * commits NOTHING — meta, tomb_rows and disk stay untouched.
    *
    * On a PER-CATEGORY family ([[buildIndex]] partitionByAttribute) the
    * delete CASCADES to every sub-index (a routed search must never serve
    * a deleted row); the report row is the top index's.
    *
    * Returns a one-row report (method, dim, deleted_rows, corpus_rows,
    * tombstone_gen); `deleted_rows` is computed from a column-pruned
    * (id, gen) scan of the index — never the corpus, never the vectors —
    * and counts CORPUS rows (live matched postings over the method's
    * per-row posting multiplicity), the same unit build/append increment
    * `n_rows` by, so the bookkeeping stays consistent even when the
    * corpus carried duplicate ids.
    */
  def deleteIndex(ids: DataFrame, idCol: String, indexPath: String): DataFrame = {
    val spark = ids.sparkSession
    import spark.implicits._
    val meta = schemedMeta(spark, indexPath)
    // persist the distinct batch only when a per-category family will
    // cascade it into every sub-index (multiple consumers); the plain
    // single-index delete consumes it exactly once — inside the one
    // observed tombstone-write job below
    val isFamily = meta.part_values.exists(_.nonEmpty)
    val d0 = ids.select(col(idCol).cast(Generations.dataSchema(spark,
        layoutOf(indexPath), meta.fence)("id").dataType).as("id"))
      .distinct()
    val d =
      if (isFamily)
        d0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      else d0
    try {
      // no up-front batch count() job: an empty batch falls through to the
      // zero-match no-op below (identical report frame)
      val fs = indexFs(spark, indexPath)
      val gl = layoutOf(indexPath)
      Generations.sweep(fs, gl, meta.fence)
      // PER-CATEGORY family: cascade the takedown into every sub-index
      // FIRST — a routed (equality-filtered) search reads ONLY its
      // sub-index, so a tombstone committed on the top index alone would
      // keep serving the deleted rows there. The cascade runs BEFORE the
      // top-index commit and UNCONDITIONALLY: sub-deletes are idempotent,
      // so a crash anywhere in the cascade is healed by retrying the verb.
      // Each sub writes only ITS OWN matched ids.
      meta.part_values.getOrElse(Nil).foreach { v =>
        deleteIndex(d, "id", subIndexPath(indexPath, v))
      }
      // LIVE postings matching the batch, in CORPUS-row units: each corpus
      // row produced exactly `mult` posting rows, so matched-posting-rows /
      // mult is the n_rows adjustment — exact even when the corpus carried
      // duplicate ids. A column-pruned scan of (id, gen); vectors never
      // read. NO broadcast hint on the batch side: Spark's own sizing
      // broadcasts a small list while a GDPR-scale batch rides a shuffle
      // semi-join.
      val (matchedPostings, matchedN, f) = Generations.tombstone(fs, gl,
        meta.fence, livePostings(spark, indexPath, meta)
          .select("id").join(d, Seq("id"), "left_semi"))
      if (matchedPostings == 0L) {
        logInfo(s"deleteIndex: no live postings match the id " +
          s"batch at $indexPath — no-op (nothing to tombstone)")
        return Seq((meta.method, meta.dim, 0L, meta.n_rows, meta.tomb_gen))
          .toDF("method", "dim", "deleted_rows", "corpus_rows",
            "tombstone_gen")
      }
      val removed = matchedPostings / postingMultiplicity(meta)
      val updated = meta.withFence(f).copy(n_rows = meta.n_rows - removed)
      commitMeta(spark, indexPath, updated)
      logInfo(s"deleteIndex committed tombstone gen ${f.tomb_gen} at " +
        s"$indexPath: $matchedN batch ids matched, $removed " +
        s"corpus rows removed -> ${updated.n_rows} corpus rows")
      Seq((meta.method, meta.dim, removed, updated.n_rows, f.tomb_gen))
        .toDF("method", "dim", "deleted_rows", "corpus_rows",
          "tombstone_gen")
    } finally { if (isFamily) d.unpersist(); () }
  }

  /** Posting rows per corpus row under the method's layout — quantized
    * writes one, ivf one per assigned cell (clamped to the trained count,
    * matching [[writePostings]]), lsh one per table. The unit converter
    * between posting-row counts and the meta's corpus-row `n_rows`.
    */
  private def postingMultiplicity(meta: AnnIndexMeta): Long = meta.method match {
    case "ivf" => math.min(meta.n_assign.get,
      meta.vectors.map(_.length).getOrElse(meta.n_assign.get)).toLong
    case "lsh" => meta.n_tables.get.toLong
    case _     => 1L
  }

  /** The index's generation layout: postings under `index.parquet`,
    * tombstones under `tombstones.parquet`.
    */
  private def layoutOf(indexPath: String) = Generations.Layout(
    s"$indexPath/index.parquet", s"$indexPath/tombstones.parquet")

  /** The postings a reader may see ([[Generations.live]]): gen-fenced to
    * the committed range and anti-joined against the active tombstones.
    */
  private[graft] def livePostings(spark: SparkSession, indexPath: String,
      meta: AnnIndexMeta): DataFrame =
    Generations.live(spark, layoutOf(indexPath), meta.fence)

  private def hpath(s: String) = new org.apache.hadoop.fs.Path(s)

  /** The manifest body of a stored index: the scalar [[AnnIndexMeta]]
    * (its `vectors` left empty) plus the name of the sidecar holding the
    * centroids/hyperplanes — written once per build, so appends, deletes
    * and compactions commit scalars only.
    */
  private[graft] case class IndexManifest(meta: AnnIndexMeta,
      vectors_file: Option[String])

  private val VectorsFile = "vectors.bin"

  private def indexFs(spark: SparkSession, indexPath: String) =
    hpath(indexPath).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Commit `m` as the index's next manifest ([[Commit.writeManifest]]:
    * temp file, rename, prune). Every crash window reads as either the
    * previous or the new committed meta; the postings and tombstones a
    * commit makes visible are always written before it. The memo is
    * pre-populated with what was just committed, so the next verb/search
    * in a chain skips the manifest read.
    */
  private[graft] def commitMeta(spark: SparkSession, indexPath: String,
      m: AnnIndexMeta): Unit = {
    val sig = Commit.writeManifest(indexFs(spark, indexPath), hpath(indexPath),
      IndexManifest(m.copy(vectors = None), m.vectors.map(_ => VectorsFile)))
    Reads.cappedPut(metaCache, indexPath, (sig, m))
  }

  /** A build's commit: the once-per-build vectors sidecar, then the
    * manifest naming it.
    */
  private def commitBuild(spark: SparkSession, indexPath: String,
      m: AnnIndexMeta): Unit = {
    m.vectors.foreach(Commit.writeSidecar(indexFs(spark, indexPath),
      hpath(indexPath), VectorsFile, _))
    commitMeta(spark, indexPath, m)
  }

  /** The index's manifest listing signature — the memo key of everything
    * derived from its committed state (one driver-side listing). Every
    * commit, rebuild or republish-and-swap changes it.
    */
  private def metaSig(spark: SparkSession, indexPath: String): String =
    Commit.manifestSig(indexFs(spark, indexPath), hpath(indexPath))

  /** Read a stored index's committed meta (the highest readable manifest,
    * vectors loaded from its sidecar); fails with a build-the-artifact
    * hint when `indexPath` holds no readable manifest — which includes an
    * index written in the pre-manifest format (a one-row parquet meta):
    * such indexes are refused, never migrated, and are rebuilt once.
    *
    * MEMOIZED on the manifest listing signature: one lifecycle chain
    * reads the same meta several times — the audit preflight, the search
    * build, each maintenance verb's own re-read — and the signature is one
    * driver-side listing.
    */
  private val metaCache =
    new java.util.concurrent.ConcurrentHashMap[String, (String, AnnIndexMeta)]
  def readIndexMeta(spark: org.apache.spark.sql.SparkSession,
      indexPath: String): AnnIndexMeta = {
    val sig = metaSig(spark, indexPath)
    val hit = metaCache.get(indexPath)
    if (hit != null && hit._1 == sig && sig != "absent") hit._2
    else {
      val fs = indexFs(spark, indexPath)
      val (manSig, man) = Commit.readManifest(fs, hpath(indexPath), classOf[IndexManifest])
        .getOrElse(throw new IllegalArgumentException(
          s"indexPath '$indexPath' has no readable index manifest " +
            "(_manifest/) — build the artifact with the knn_index op (or " +
            "Similarity.buildIndex) at crawl time; an index stored in the " +
            "older parquet-meta format is not read: rebuild it once with " +
            "knn_index"))
      val m = man.meta.copy(vectors =
        man.vectors_file.map(Commit.readSidecar(fs, hpath(indexPath), _)))
      Reads.cappedPut(metaCache, indexPath, (manSig, m))
      m
    }
  }

  /** A maintenance verb's view of the committed meta: its postings schema
    * filled in ([[Generations.schemed]]), so the verb's commit records it.
    */
  private def schemedMeta(spark: SparkSession, indexPath: String): AnnIndexMeta = {
    val m = readIndexMeta(spark, indexPath)
    m.withFence(Generations.schemed(spark, layoutOf(indexPath), m.fence))
  }

  /** Top-k search against a STORED index ([[buildIndex]]) — no training, no
    * corpus hashing, no corpus scan: the quantized sketch pass reads only
    * the index's (id, q) columns (the 4× memory-traffic win materialized in
    * storage), and the ivf/lsh probes read only the probed cells'
    * partitions. `nProbe` is a QUERY-time knob (recall vs scan fraction per
    * batch); geometry is the artifact's. Deterministic state (k-means,
    * hyperplanes, int8 codes) makes stored == rebuilt EXACT — pinned in
    * OperatorsSpec and the r44 accuracy contract.
    */
  def indexedTopK(queries: DataFrame, idCol: String, vecCol: String, k: Int,
      indexPath: String, nProbe: Int = 0, refine: Int = 4,
      win: Option[(String, org.apache.spark.sql.Column)] = None,
      candidateFilter: Option[String] = None): DataFrame = {
    val spark = queries.sparkSession
    val meta = readIndexMeta(spark, indexPath)
    // PER-CATEGORY ROUTING: on a partitioned family, a candidateFilter
    // that is the equality `part_attr = <value>` — alone, or as ONE
    // conjunct of an AND chain — routes to that value's sub-index: full
    // recall over the category's own (unthinned) cells, no probe widening
    // on the category dimension, no top-index selectivity scan. A lone
    // equality searches the sub-index unfiltered; a conjunction carries
    // its RESIDUAL predicate down as the sub-search's candidateFilter
    // (the sub-index stores the same attribute columns), so the standing
    // "category AND secondary predicate" shape pays only the category's
    // scan. A value the family has no sub-index for (or any
    // non-conjunctive shape) falls through to the generic filtered path
    // below — over the top index, which always coexists with the family.
    for (f <- candidateFilter;
         (v, residual) <- routedConjunct(spark, indexPath, meta, f)) {
      logInfo(s"indexedTopK: candidateFilter '$f' routes to per-category " +
        s"sub-index ${subIndexPath(indexPath, v)}" +
        residual.fold("")(r => s" with residual filter '$r'"))
      return indexedTopK(queries, idCol, vecCol, k,
        subIndexPath(indexPath, v), nProbe = nProbe, refine = refine,
        win = win, candidateFilter = residual)
    }
    // committed-generation fence: postings above the meta's generation are
    // a crashed append's orphans, postings below base_gen a completed
    // compaction's not-yet-cleaned duplicates — both stay invisible (gen
    // is the FIRST partition column, so the fence is static partition
    // pruning, not a data scan). Active tombstones ([[deleteIndex]]) are
    // anti-joined out map-side (a broadcast of the takedown set).
    val live = livePostings(spark, indexPath, meta)
    // ATTRIBUTE-FILTERED search (candidateFilter): the predicate runs over
    // the stored attribute columns INSIDE the candidate stage (pushed to
    // the posting scan), never as a post-filter of the k results — so the
    // k contract survives filtering. Guarantee-k routing: a filter
    // matching almost nothing makes every probed cell run dry, so (a) a
    // tiny filtered corpus (<= k × ExactFallbackFactor distinct rows)
    // falls back to an EXACT scan of the filtered postings — full recall
    // at negligible cost, and (b) ivf widens nProbe by 1/selectivity
    // (clamped to all cells) so the probed cells still surface ~the
    // unfiltered candidate volume. lsh has no query-time widening dial —
    // below the fallback bar it goes exact; above it the thinned buckets
    // are the documented recall trade.
    val (index, selectivity): (DataFrame, Option[(Long, Long)]) =
      candidateFilter match {
        case None => (live, None)
        case Some(f) =>
          val refs = org.apache.spark.sql.catalyst.parser.CatalystSqlParser
            .parseExpression(f).collect {
              case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
                a.name
            }.distinct
          val attrs = meta.attr_cols.getOrElse(Nil)
          // the corpus id is always stored — `id` is a legal reference
          val missing = refs.filterNot(n => attrs.contains(n) || n == "id")
          require(missing.isEmpty,
            s"candidateFilter references column(s) ${missing.mkString(", ")} " +
              s"the index at '$indexPath' does not store — rebuild with " +
              s"knn_index attributeColumns (stored: " +
              s"${if (attrs.isEmpty) "none" else attrs.mkString(", ")})")
          val filtered = live.filter(expr(f))
          // routing price: ONE pushed-down (id, attrs)-column scan counts
          // the filtered corpus; the live total is the meta's maintained
          // n_rows — no unfiltered scan. The count is MEMOIZED per
          // (indexPath, filter, generation fences) — the Doctor/audit
          // preflight measures the same selectivity, so a preflighted
          // standing filter pays the scan once per artifact generation,
          // not once per search build
          (filtered, Some((filteredLiveIdCount(spark, indexPath, meta, f),
            math.max(1L, meta.n_rows))))
      }
    // STREAMING query frames are first-class for ivf/lsh (the stored
    // artifact makes streaming retrieval a stream-static join + ONE
    // stateful top-k aggregation): `win` — (timeColumn, window
    // expression), the caller owns watermarking — keys the heap by
    // (window, query) so cells finalize and evict instead of living
    // forever. quantized is refused on a stream: its propose-then-re-rank
    // is TWO chained aggregations.
    val q = queryFrame(queries, idCol, vecCol, win)
    if (selectivity.exists(_._1 <= k.toLong * ExactFallbackFactor)) {
      // the filtered corpus is tiny — scan it exactly (full recall, the
      // honest k guarantee; the scan is k × ExactFallbackFactor rows ×
      // the broadcast query set, a rounding error next to any probe)
      require(!queries.isStreaming || meta.method != "quantized",
        "indexedTopK over a quantized index is batch-only — store an ivf " +
          "or lsh index for streaming retrieval")
      logInfo(s"indexedTopK: candidateFilter matches only " +
        s"${selectivity.get._1} of ${selectivity.get._2} corpus rows at " +
        s"$indexPath — exact scan of the filtered postings " +
        s"(<= ${k.toLong * ExactFallbackFactor} row fallback bar)")
      // postings may carry one row per (cell|table) assignment — and an id
      // re-appended with a DIFFERENT vector carries several distinct rows.
      // The distinct-pairs heap keeps the MAX-scoring copy per neighbor
      // (deterministic, and the same collapse rule as the ivf/lsh routes),
      // where a dropDuplicates would keep an arbitrary one
      rankRows(scored(index, Nil, q), k, distinct = true, win = win.map(_._2))
    } else probeAndRank(index, meta, q, k, nProbe, refine, win, selectivity)
  }
}

/** Geometry + provenance of a stored ANN index (the body of its
  * committed `_manifest/N.json`, see [[graft.sinks.Commit]]; `vectors`
  * lives in the build's sidecar). `n_cells`/`n_assign`/`n_tables`/
  * `planes_per_table`/`seed` are the DECLARED geometry — what the user
  * asked for, what a consuming knn's preflight compares declared values
  * against, and what auto-sizing arithmetic derives from; the trained
  * state's actual extent speaks for itself via `vectors.length` (kmeans
  * may clamp below the declared nCells on a degenerate corpus).
  * `vectors` carries the data-dependent state whose reuse is the
  * artifact's whole point — trained centroids (ivf) or generated
  * hyperplanes (lsh); absent for quantized (the int8 codes in the
  * postings ARE the state). `n_rows` is the indexed corpus row count, the
  * staleness reference the knn preflight compares against.
  */
case class AnnIndexMeta(method: String, dim: Int, n_rows: Long,
    // contentAs: the JSON codec must box Option[Int]/Option[Long] as the
    // declared width (erasure would otherwise guess from the number)
    @JsonDeserialize(contentAs = classOf[java.lang.Integer]) n_cells: Option[Int],
    @JsonDeserialize(contentAs = classOf[java.lang.Integer]) n_assign: Option[Int],
    @JsonDeserialize(contentAs = classOf[java.lang.Integer]) n_tables: Option[Int],
    @JsonDeserialize(contentAs = classOf[java.lang.Integer]) planes_per_table: Option[Int],
    @JsonDeserialize(contentAs = classOf[java.lang.Long]) seed: Option[Long],
    vectors: Option[Seq[Seq[Double]]],
    // the COMMITTED posting generation — the append crash-ordering fence:
    // readers only see postings with gen <= generation, so a build is gen 0
    // and every Similarity.appendIndex commit advances it by one
    generation: Int = 0,
    // content signature of the LAST committed append batch (count ⊕ id-hash
    // sum) — the retry-identity record that makes appendIndex idempotent
    // across the post-commit crash window (see appendIndex); None on builds
    @JsonDeserialize(contentAs = classOf[java.lang.Long]) batch_sig: Option[Long] = None,
    // the LOWEST live posting generation — compaction's fence: a
    // [[Similarity.compactIndex]] folds gens [base_gen, generation] into
    // one new generation and commits meta with base_gen == generation ==
    // that new gen, so the folded (now duplicate) generations below it
    // stay invisible to readers even before their directories are
    // physically cleaned up. Builds commit 0
    base_gen: Int = 0,
    // the tombstone fence ([[Similarity.deleteIndex]]): tombstone
    // generations [tomb_base, tomb_gen] are ACTIVE (anti-joined by every
    // reader; physically dropped + cleared by compaction, which commits
    // tomb_base = tomb_gen + 1). tomb_gen < tomb_base = no active
    // tombstones; builds commit (-1, 0)
    tomb_gen: Int = -1,
    tomb_base: Int = 0,
    // ATTRIBUTE columns stored alongside every posting (plain data
    // columns — the candidateFilter predicate surface, parquet-pushdown-
    // able at search time). None = the index carries vectors only and
    // filtered search is unavailable (rebuild with attributeColumns)
    attr_cols: Option[Seq[String]] = None,
    // ACTIVE tombstone row count (accumulated batch sizes since the last
    // compaction; cleared with the tombstone fence) — the closed-form
    // input to the broadcast-vs-shuffle anti-join cost rule in
    // [[Similarity.livePostings]] and the `knn_tombstone_fraction`
    // advisory: a mass takedown must not be BROADCAST into every search
    // (driver/executor OOM at scale), and past ~10% of the corpus the
    // anti-join tax says compact
    tomb_rows: Long = 0L,
    // PER-CATEGORY sub-index family ([[Similarity.buildIndex]]
    // partitionByAttribute): `part_attr` names the attribute column the
    // family is partitioned on; `part_values` pins the category values a
    // sub-index exists for (string-rendered — the directory names under
    // `indexPath/attr=<urlencoded value>/`). A search whose
    // candidateFilter is the equality `part_attr = <value>` routes to
    // that sub-index: full recall at the sub-corpus's scan cost, no
    // probe widening. None = a plain single index
    part_attr: Option[String] = None,
    part_values: Option[Seq[String]] = None,
    // the postings' read schema (Spark JSON, `gen` included) — readers
    // pass it instead of inferring it with a Spark job. None on an index
    // committed before the key existed; its next commit records it
    schema: Option[String] = None) {
  /** The generation fence these flat fields carry ([[Generations]]). */
  def fence: Generations.Fence = Generations.Fence(generation, base_gen,
    tomb_gen, tomb_base, tomb_rows, batch_sig, schema)
  def withFence(f: Generations.Fence): AnnIndexMeta = copy(generation = f.generation,
    base_gen = f.base_gen, tomb_gen = f.tomb_gen, tomb_base = f.tomb_base,
    tomb_rows = f.tomb_rows, batch_sig = f.batch_sig, schema = f.schema)
}
