package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Snapshot drift report (SURVEY §2B X29): per-column distribution drift
  * between two corpus snapshots — the data-quality gate a recurring
  * training-data pipeline runs between crawl N and crawl N+1 before
  * retraining on the new snapshot (a silently shifted value distribution,
  * a collapsed category, or a null-rate spike is cheaper to catch here
  * than in a loss curve).
  *
  * Two forms, matching the repo's exact/approximate split:
  *
  *  - [[driftReport]] — EXACT metrics, one aggregation pass per snapshot
  *    (no shuffle beyond the two partial-aggregated `agg`s; the result is
  *    O(columns) rows): per numeric column row count / null rate / mean /
  *    stddev / min / max, each reported as (old, new, delta); per
  *    categorical column a null_rate row (from the same scalar agg pass —
  *    the frequency leg filters nulls, so a null-rate spike would be
  *    invisible to `freq_l1` alone) plus the exact frequency-vector L1
  *    distance over non-null values (total-variation ×2 — one
  *    `groupBy(col)` per side over the category-cardinality key space,
  *    full outer joined). DuckDB-oracle exact (`x29_drift`).
  *  - [[driftFromSketches]] — the stored-artifact form for 100 TB
  *    pipelines: distinct-count drift from the MERGEABLE HLL sketch tables
  *    ([[Profile.distinctSketches]]) the pipeline already maintains per
  *    snapshot — raw data is never rescanned; two stored sketch rows per
  *    dimension cell are merged and compared. Accuracy-contract checked
  *    (per-cell HLL error vs exact on BOTH snapshots, ±5%).
  *
  * Scale posture: driftReport's numeric leg is two map-side-combined
  * aggregation jobs (one per snapshot) emitting one row each; the
  * categorical leg shuffles one row per DISTINCT category per side —
  * categorical drift is for bounded-cardinality columns (language, source,
  * event type; for unbounded key spaces use the sketch form's distinct
  * drift or heavy-hitter deltas). Nothing here ever joins the snapshots
  * row-wise.
  */
object Drift {

  /** Exact per-column drift between `oldDf` and `newDf`.
    *
    * Output rows: (col_name, metric, old_value, new_value, delta) with
    * delta = new − old, doubles throughout (counts cast). Metrics emitted
    * per numeric column: `row_count`, `null_rate`, `mean`, `stddev`,
    * `min`, `max`; per categorical column: `null_rate` (computed in the
    * same scalar agg pass — the frequency leg excludes nulls, so a
    * snapshot whose categories keep their relative frequencies but go 50%
    * null would otherwise report zero drift) and `freq_l1` (Σ_cat
    * |p_new(cat) − p_old(cat)| over non-null values, old/new column
    * carrying each side's distinct category count). A side whose
    * non-null total is zero (empty snapshot or fully collapsed column)
    * reports `freq_l1` as the maximal L1 distance 2.0 — the headline
    * collapse case must gate, not divide by zero; both sides empty
    * reports 0.0 (no distribution on either side). Column lists may
    * overlap.
    */
  def driftReport(oldDf: DataFrame, newDf: DataFrame,
      numericCols: Seq[String], categoricalCols: Seq[String]): DataFrame = {
    require(numericCols.nonEmpty || categoricalCols.nonEmpty,
      "driftReport needs at least one column")
    // a duplicated measure would alias the same agg twice and die in an
    // ambiguous-reference AnalysisException deep in the report build —
    // refuse at the precondition like Profile.columnStats does
    require(numericCols.distinct == numericCols,
      s"driftReport numericCols has duplicates: " +
        numericCols.diff(numericCols.distinct).distinct.mkString(", "))
    require(categoricalCols.distinct == categoricalCols,
      s"driftReport categoricalCols has duplicates: " +
        categoricalCols.diff(categoricalCols.distinct).distinct.mkString(", "))

    // one scalar-agg pass per snapshot covers BOTH column lists: the six
    // numeric metrics, and null_rate for categorical columns (their only
    // scalar metric; a column in both lists emits its null_rate once)
    def scalarSide(df: DataFrame): DataFrame = {
      val catOnly = categoricalCols.filterNot(numericCols.contains)
      val aggs = Seq(count(lit(1)).cast("double").as("__n")) ++
        numericCols.flatMap { c =>
          Seq(
            count(col(c)).cast("double").as(s"__nn_$c"),
            avg(col(c)).as(s"__mean_$c"),
            stddev_samp(col(c)).as(s"__sd_$c"),
            min(col(c)).cast("double").as(s"__min_$c"),
            max(col(c)).cast("double").as(s"__max_$c"))
        } ++
        catOnly.map(c => count(col(c)).cast("double").as(s"__nn_$c"))
      val one = df.agg(aggs.head, aggs.tail: _*)
      def nullRate(c: String) =
        struct(lit(c).as("col_name"), lit("null_rate").as("metric"),
          ((col("__n") - col(s"__nn_$c")) / col("__n")).as("value"))
      val stacked = numericCols.flatMap { c =>
        Seq(
          struct(lit(c).as("col_name"), lit("row_count").as("metric"),
            col("__n").as("value")),
          nullRate(c),
          struct(lit(c).as("col_name"), lit("mean").as("metric"),
            col(s"__mean_$c").as("value")),
          struct(lit(c).as("col_name"), lit("stddev").as("metric"),
            col(s"__sd_$c").as("value")),
          struct(lit(c).as("col_name"), lit("min").as("metric"),
            col(s"__min_$c").as("value")),
          struct(lit(c).as("col_name"), lit("max").as("metric"),
            col(s"__max_$c").as("value")))
      } ++ catOnly.map(nullRate)
      one.select(explode(array(stacked: _*)).as("p")).select(col("p.*"))
    }

    def catSide(df: DataFrame, c: String): DataFrame =
      df.filter(col(c).isNotNull).groupBy(col(c).as("cat"))
        .agg(count(lit(1)).as("cnt"))

    val scalar = Some(scalarSide(oldDf).as("o")
      .join(scalarSide(newDf).as("n"), Seq("col_name", "metric"), "full_outer")
      .select(col("col_name"), col("metric"),
        col("o.value").as("old_value"), col("n.value").as("new_value"),
        (col("n.value") - col("o.value")).as("delta")))

    val categorical = categoricalCols.map { c =>
      val o = catSide(oldDf, c); val n = catSide(newDf, c)
      // full outer on category: a vanished or newborn category contributes
      // its whole probability mass to the L1 distance
      val joined = o.as("o").join(n.as("n"), Seq("cat"), "full_outer")
        .select(coalesce(col("o.cnt"), lit(0L)).as("oc"),
          coalesce(col("n.cnt"), lit(0L)).as("nc"))
      joined.agg(
        sum(col("oc")).as("ot"), sum(col("nc")).as("nt"),
        count(when(col("oc") > 0, 1)).cast("double").as("ocats"),
        count(when(col("nc") > 0, 1)).cast("double").as("ncats"),
        // Σ |p_new − p_old| needs both totals — compute the fractions in a
        // second projection over the single aggregated row
        collect_list(struct(col("oc"), col("nc"))).as("cells"))
        .select(lit(c).as("col_name"), lit("freq_l1").as("metric"),
          col("ocats").as("old_value"), col("ncats").as("new_value"),
          // zero-total guard: a side with no non-null values has no
          // distribution — the maximal-drift convention (2.0) makes a
          // fully collapsed column GATE instead of dividing by zero
          // (null delta under default Spark, runtime error under ANSI)
          when(col("nt") === 0 && col("ot") === 0, lit(0.0))
            .when(col("nt") === 0 || col("ot") === 0, lit(2.0))
            .otherwise(aggregate(col("cells"), lit(0.0),
              (acc, cell) => acc +
                abs(cell.getField("nc") / col("nt") -
                  cell.getField("oc") / col("ot")))).as("delta"))
    }

    val parts = scalar.toSeq ++ categorical
    parts.reduce(_.unionByName(_))
  }

  /** Heavy-hitter frequency drift for UNBOUNDED categorical key spaces
    * (user ids, URLs, tokens) — where [[driftReport]]'s exact `freq_l1`
    * would shuffle one row per distinct key. One Misra–Gries candidate
    * aggregate per snapshot (bounded map-side state, ≤ k-row exchange —
    * [[graft.functions.FreqSketch]]), candidate sets unioned, then ONE
    * exact broadcast-pruned recount per side over the union — so a
    * vanished or newborn heavy key surfaces with its exact frequency on
    * BOTH sides, never paying a per-distinct-key shuffle.
    *
    * Output rows: (col_name, metric = "heavy_freq", category, old_value,
    * new_value, delta) where old/new_value are the key's exact fraction of
    * that side's non-null rows (0.0 when absent) and delta = new − old.
    * Kept keys: exact count ≥ ceil(minFraction · n) on at least one side —
    * the same exactness contract as [[Profile.heavyHitters]] (MG with
    * slack ≥ 2 guarantees the candidate union is a superset of both
    * sides' true heavy sets, so the recount+filter is oracle-exact).
    */
  def heavyHitterDrift(oldDf: DataFrame, newDf: DataFrame, c: String,
      minFraction: Double, slack: Int = 2): DataFrame = {
    val k = Profile.sketchSize(minFraction, slack)
    def cands(df: DataFrame): DataFrame =
      df.agg(graft.functions.FreqSketch.mgCandidates(col(c), k).as("__cands"))
        .select(explode(col("__cands")).as("__e"))
        .select(col("__e._1").as("category"))
    // the candidate UNION (≤ 2k rows by construction) broadcasts to both
    // recounts; each side's recount is ONE partial-aggregated pass over
    // the item stream that also yields the side TOTAL — non-candidates
    // fold into a single null-category bucket (the left-join marker), the
    // total is a window sum over the ≤ 2k+1-row counts frame, and the
    // bucket then drops. Two raw scans per snapshot (candidates +
    // recount) and zero one-row cross joins: the totals never cost a
    // third count-only scan or a BroadcastNestedLoopJoin in the plan.
    val union = cands(oldDf).unionByName(cands(newDf)).distinct()
      .withColumn("__hit", lit(true))
    def recount(df: DataFrame): DataFrame =
      df.select(col(c).as("category")).filter(col("category").isNotNull)
        .join(broadcast(union), Seq("category"), "left")
        .groupBy(when(col("__hit"), col("category")).as("category"))
        .agg(count(lit(1)).as("cnt"))
        .withColumn("__tot", sum(col("cnt")).over(
          org.apache.spark.sql.expressions.Window.partitionBy()))
        .filter(col("category").isNotNull)
    val joined = recount(oldDf)
      .withColumnRenamed("cnt", "ocnt").withColumnRenamed("__tot", "__on")
      .join(recount(newDf)
          .withColumnRenamed("cnt", "ncnt").withColumnRenamed("__tot", "__nn"),
        Seq("category"), "full_outer")
      .select(col("category"),
        coalesce(col("ocnt"), lit(0L)).as("ocnt"),
        coalesce(col("ncnt"), lit(0L)).as("ncnt"),
        // a side absent from the join for this key (or with zero heavy
        // candidates at all) contributes fraction 0.0 — totals coalesce
        // to 0 and the when-guards below keep the division safe
        coalesce(col("__on"), lit(0L)).as("__on"),
        coalesce(col("__nn"), lit(0L)).as("__nn"))
    joined.filter(
        (col("__on") > 0 && col("ocnt") >= ceil(lit(minFraction) * col("__on"))) ||
        (col("__nn") > 0 && col("ncnt") >= ceil(lit(minFraction) * col("__nn"))))
      .select(lit(c).as("col_name"), lit("heavy_freq").as("metric"),
        col("category"),
        when(col("__on") === 0, lit(0.0))
          .otherwise(col("ocnt") / col("__on")).as("old_value"),
        when(col("__nn") === 0, lit(0.0))
          .otherwise(col("ncnt") / col("__nn")).as("new_value"))
      .withColumn("delta", col("new_value") - col("old_value"))
  }

  /** Binned-distribution drift for a numeric column: exact fixed-bin
    * histogram fractions per snapshot plus the Population Stability Index
    * (PSI — the standard "has this feature shifted enough to block the
    * retrain" score; PSI < 0.1 stable, 0.1–0.25 moderate, > 0.25 major).
    * [[driftReport]]'s mean/stddev legs miss shape changes that preserve
    * moments (bimodal split, variance swap between tails); the histogram
    * sees them.
    *
    * Bins: `nBins` equal-width bins over [lo, hi), plus an `under` bin
    * (value < lo) and an `over` bin (value >= hi) so out-of-range mass is
    * reported, never dropped. Nulls (and NaNs on float columns) are
    * excluded — null drift is [[driftReport]]'s `null_rate` metric.
    *
    * Output rows ([[heavyHitterDrift]]-shaped, so [[gated]] composes):
    *  - one per bin observed on EITHER side: (col_name, metric =
    *    "bin_frac", category = "under" | "b0".."b<n-1>" | "over",
    *    old_value / new_value = that side's fraction of non-null rows in
    *    the bin, delta = new − old). Bins empty on both sides are absent.
    *  - one summary row: (col_name, "psi", null, old non-null count,
    *    new non-null count, delta = PSI) where PSI = Σ_bins
    *    (p_new − p_old) · ln(p_new / p_old) with each fraction clamped to
    *    ≥ `epsilon` (the standard guard — a bin empty on one side would
    *    otherwise send the score to ±∞). A side with zero non-null rows
    *    has every fraction clamped to epsilon, so an empty snapshot
    *    reports a large finite PSI (~ p·ln(1/ε) per occupied bin) and
    *    GATES rather than erroring.
    *
    * Scale posture: one partial-aggregated `groupBy(bin)` per snapshot —
    * the exchange is ≤ nBins + 2 rows per side regardless of row count —
    * then ONE global aggregate folds the joined bins into a single row
    * (totals + cell list) from which the bin rows and the PSI are both
    * derived by array expressions, so each snapshot is scanned exactly
    * once and nothing joins the snapshots row-wise. DuckDB-oracle exact
    * (`x29_drift_hist`): the bin expression is the same IEEE double
    * arithmetic in both engines, so bin assignment agrees bit-for-bit.
    */
  def histogramDrift(oldDf: DataFrame, newDf: DataFrame, c: String,
      lo: Double, hi: Double, nBins: Int,
      epsilon: Double = 1e-6): DataFrame = {
    require(nBins >= 1, s"histogramDrift nBins must be >= 1, got $nBins")
    require(hi > lo, s"histogramDrift needs hi > lo, got [$lo, $hi)")
    require(epsilon > 0 && epsilon < 1e-3,
      s"histogramDrift epsilon must be in (0, 1e-3), got $epsilon")
    val width = (hi - lo) / nBins
    def side(df: DataFrame, out: String): DataFrame = {
      val isFloaty = df.schema(c).dataType match {
        case org.apache.spark.sql.types.DoubleType |
             org.apache.spark.sql.types.FloatType => true
        case _ => false
      }
      val clean0 = df.filter(col(c).isNotNull)
      val clean = if (isFloaty) clean0.filter(!isnan(col(c))) else clean0
      clean.groupBy(
          least(greatest(floor((col(c) - lit(lo)) / lit(width)), lit(-1L)),
            lit(nBins.toLong)).as("bin"))
        .agg(count(lit(1)).as(out))
    }
    val j = side(oldDf, "ocnt").join(side(newDf, "ncnt"), Seq("bin"), "full_outer")
      .select(col("bin"),
        coalesce(col("ocnt"), lit(0L)).as("ocnt"),
        coalesce(col("ncnt"), lit(0L)).as("ncnt"))
    // ONE global aggregate folds the ≤ nBins+2 joined rows into a single
    // row carrying the totals (== each side's non-null count) AND the
    // cell list; the bin rows and the PSI summary are then both derived
    // from that row with array expressions — the same collect_list
    // pattern as driftReport's freq_l1. The naive alternative (bin-row
    // projection UNION a psi aggregate over the same join) plans the
    // whole bin-count join twice, scanning each snapshot twice; this
    // shape scans each snapshot exactly once.
    val one = j.agg(
      sum(col("ocnt")).as("__ot"), sum(col("ncnt")).as("__nt"),
      collect_list(struct(col("bin"), col("ocnt"), col("ncnt"))).as("cells"))
    def oFrac(cell: Column) = when(col("__ot") === 0, lit(0.0))
      .otherwise(cell.getField("ocnt") / col("__ot"))
    def nFrac(cell: Column) = when(col("__nt") === 0, lit(0.0))
      .otherwise(cell.getField("ncnt") / col("__nt"))
    val binStructs = transform(col("cells"), cell => struct(
      lit("bin_frac").as("metric"),
      when(cell.getField("bin") === -1L, lit("under"))
        .when(cell.getField("bin") === nBins.toLong, lit("over"))
        .otherwise(concat(lit("b"), cell.getField("bin").cast("string")))
        .as("category"),
      oFrac(cell).as("old_value"), nFrac(cell).as("new_value"),
      (nFrac(cell) - oFrac(cell)).as("delta")))
    // both snapshots empty of non-null values → cells is the empty array
    // (PSI fold yields its 0.0 seed) and the totals come back null,
    // coalesced to 0 — no rows on either side is "no distribution on
    // either side", the same convention as driftReport's freq_l1
    val psi = aggregate(col("cells"), lit(0.0), (acc, cell) => {
      val go = greatest(oFrac(cell), lit(epsilon))
      val gn = greatest(nFrac(cell), lit(epsilon))
      acc + (gn - go) * log(gn / go)
    })
    val psiStruct = struct(
      lit("psi").as("metric"), lit(null).cast("string").as("category"),
      coalesce(col("__ot").cast("double"), lit(0.0)).as("old_value"),
      coalesce(col("__nt").cast("double"), lit(0.0)).as("new_value"),
      psi.as("delta"))
    one.select(explode(concat(binStructs, array(psiStruct))).as("p"))
      .select(lit(c).as("col_name"), col("p.metric"), col("p.category"),
        col("p.old_value"), col("p.new_value"), col("p.delta"))
  }

  /** Embedding-distribution drift for a vector column (`array<float>` /
    * `array<double>`) between two snapshots — the drift the scalar legs
    * cannot see at all: a re-embedded corpus, a vanished cluster, or an
    * un-normalized model swap moves the embedding distribution while every
    * scalar column stays put. Metrics (driftReport row shape, so [[gated]]
    * composes directly):
    *
    *  - `row_count` — non-null vector count per side, delta = new − old.
    *  - `mean_norm` — average per-vector L2 norm (catches a model swap
    *    that stops unit-normalizing, or a precision change).
    *  - `centroid_shift` — 1 − cos(μ_old, μ_new) between the two mean
    *    vectors (old/new_value carry each centroid's norm). The headline
    *    metric: a vanished cluster or re-embedding moves the centroid
    *    even when norms and counts are unchanged.
    *  - `centroid_l2` — ‖μ_new − μ_old‖ (old/new_value again the centroid
    *    norms); the absolute-scale companion to the angular shift.
    *
    * Empty-side conventions mirror `freq_l1`: a side with no non-null
    * vectors has centroid 0, so `centroid_shift` reports the maximal 2.0
    * (both empty → 0.0) and `centroid_l2` degrades to the other side's
    * centroid norm. Deltas are rounded to 6 decimals (negative zero
    * normalized) — they are GATE quantities, and below 1e-6 the value is
    * summation-order noise at corpus scale, not drift; the rounding is
    * also what makes the metric oracle-portable (x29_embed_drift computes
    * the identical pipeline in DuckDB).
    *
    * Scale posture: ONE scan per snapshot — per-row norms ride the
    * `posexplode` (map-side combine collapses the ×dim row inflation to
    * ≤ dim partial rows per partition), the per-dimension sums of the two
    * sides full-outer join on dimension index (≤ dim rows), and one
    * global aggregate folds them into a single row from which all four
    * metrics derive by array expressions — the same fold shape as
    * [[histogramDrift]]. Nothing joins the snapshots row-wise; the
    * exchange is O(dim × partitions) regardless of corpus size. Assumes
    * uniform dimensionality (the embedding-column contract everywhere in
    * this engine — [[Similarity]] and [[Dedup]] assume it too).
    */
  def embeddingDrift(oldDf: DataFrame, newDf: DataFrame, c: String): DataFrame =
    embeddingDriftFromSummaries(
      embeddingSummary(oldDf, c), embeddingSummary(newDf, c), c)

  /** Per-snapshot embedding summary ARTIFACT: ≤ dim rows of
    * `(i, dim_sum, norm_sum, n)` — per-dimension value sums plus the
    * side's total row-norm sum and non-null vector count (the latter two
    * identical on every row: each vector contributes to every dimension
    * group exactly once, so the totals ride the same exchange instead of
    * a second scan). This is everything [[embeddingDrift]] needs from a
    * snapshot, in a few KB. Write it as plain parquet at crawl time and
    * feed two stored summaries to [[embeddingDriftFromSummaries]]: drift
    * between ANY two historical snapshots then costs a dim-row join, not
    * a 100 TB rescan — the same stored-artifact discipline as
    * [[driftFromSketches]] over the X25 HLL tables. Null vectors and
    * vectors containing NaN/null ELEMENTS are excluded (they would poison
    * the sums — see the inline note); their absence still shows up as
    * `row_count` drift. Composition identity
    * (drift-from-stored-summaries == direct [[embeddingDrift]], through a
    * parquet round-trip) is pinned in OperatorsSpec.
    */
  def embeddingSummary(df: DataFrame, c: String,
      groupBy: Option[String] = None): DataFrame =
    summaryCore(df, c, groupBy, None)

  /** WINDOWED form of [[embeddingSummary]] — the incrementally-maintained
    * summary table: one artifact row set per (tumbling window, stratum?)
    * cell. The summary aggregate is LINEAR (per-dimension sums + counts),
    * exactly the property that lets the X25/X26 sketch tables stream — so
    * on a watermarked streaming frame this is one stateful aggregation
    * (update mode emits each refreshed cell; the snapshot sink upserts it),
    * and on batch the identical grouping produces the identical table,
    * making stream-built == batch-built testable (StreamRunnerSpec). A
    * continuously-ingested corpus maintains its drift artifact this way
    * instead of re-summarizing the whole snapshot per crawl;
    * [[mergeEmbeddingSummaries]] over the stored window cells (window
    * column dropped) folds them EXACTLY into the global summary — the
    * windowed table is strictly more information than the global artifact.
    * `win` is the window expression (the caller owns watermarking — the
    * Interpreter's eventWindow does both from one declaration).
    */
  def embeddingSummaryWindowed(df: DataFrame, c: String,
      groupBy: Option[String], win: Column): DataFrame =
    summaryCore(df, c, groupBy, Some(win))

  private def summaryCore(df: DataFrame, c: String,
      groupBy: Option[String], win: Option[Column]): DataFrame = {
    val g = groupBy.map(gc => col(gc).cast("string").as("category")).toSeq
    val gk = groupBy.map(_ => col("category")).toSeq
    val w = win.map(_.as("__w")).toSeq
    val wk = win.map(_ => col("__w")).toSeq
    // a NULL stratum is excluded (the categorical frequency leg's
    // convention) — null group keys never join across sides (null ≠ null
    // in the full outer), so keeping them would double-report one
    // population as a vanished AND a newborn group
    val strat = groupBy.fold(df)(gc => df.filter(col(gc).isNotNull))
    // vectors carrying NaN or null ELEMENTS are excluded like the
    // histogram leg's isnan guard excludes scalar NaNs: one NaN element
    // would poison dim_sum/norm_sum and turn every drift metric NaN (read
    // as a NULL-delta violation by [[gated]] — a single bad vector
    // hard-failing the gate with delta=null), and a null element would
    // silently skew mean_norm (counted in n, absent from norm_sum). A
    // corrupt-vector RATE spike still surfaces: excluded rows move the
    // row_count metric (round-15 ADVICE)
    val agged = strat.filter(col(c).isNotNull &&
        !exists(col(c), x => x.isNull || isnan(x.cast("double"))))
      .select(w ++ g ++ Seq(col(c).as("__e"),
        sqrt(aggregate(col(c), lit(0.0),
          (a, x) => a + x.cast("double") * x.cast("double"))).as("__nrm")): _*)
      .select(wk ++ gk ++ Seq(col("__nrm"),
        posexplode(col("__e")).as(Seq("i", "v"))): _*)
      .groupBy(wk ++ gk :+ col("i"): _*)
      .agg(sum(col("v").cast("double")).as("dim_sum"),
        sum(col("__nrm")).as("norm_sum"),
        count(lit(1)).cast("double").as("n"))
    // windowed cells surface window_start first (the sketch-table
    // convention) — the struct stays internal
    win.fold(agged)(_ => agged.select(
      (col("__w.start").as("window_start") +: (gk :+ col("i"))) ++
        Seq(col("dim_sum"), col("norm_sum"), col("n")): _*))
  }

  /** Merge [[embeddingSummary]] artifacts by summation: the summary is
    * LINEAR (per-dimension value sums, norm sums, counts), so any
    * partition of a corpus — daily crawl artifacts into a weekly
    * snapshot, per-shard summaries into one — folds together without
    * touching raw data; the stored-sketch-table discipline (X25/X26) for
    * the embedding leg, except the merge here is exact, not an estimate.
    * `parts` is a union of summaries; `grouped` must match how they were
    * built. Merge-vs-direct identity is pinned in OperatorsSpec on real
    * data.
    */
  def mergeEmbeddingSummaries(parts: DataFrame,
      grouped: Boolean = false): DataFrame = {
    val keys = if (grouped) Seq("category", "i") else Seq("i")
    parts.groupBy(keys.map(col): _*)
      .agg(sum(col("dim_sum")).as("dim_sum"),
        sum(col("norm_sum")).as("norm_sum"),
        sum(col("n")).as("n"))
  }

  /** Per-GROUP embedding drift: the four [[embeddingDrift]] metrics per
    * value of a stratum column (language, source, cluster label …), with
    * the group surfaced as `category` (the heavy/histogram-leg column
    * convention, so [[gated]] bounds and the spec path compose
    * unchanged). The report that answers not just "did the embedding
    * distribution move" but WHICH slice moved: a vanished group shows
    * `row_count` → 0 and the maximal `centroid_shift` 2.0 on its own row
    * instead of diluting the global centroid. Exchange ≤ groups × dim
    * rows — point it at bounded-cardinality strata (same guidance as the
    * categorical leg).
    */
  def embeddingDriftByGroup(oldDf: DataFrame, newDf: DataFrame, c: String,
      groupCol: String): DataFrame =
    embeddingDriftFromSummaries(
      embeddingSummary(oldDf, c, Some(groupCol)),
      embeddingSummary(newDf, c, Some(groupCol)), c, grouped = true)

  /** [[embeddingDrift]] from two STORED [[embeddingSummary]] artifacts —
    * the no-rescan form; `c` only labels the output rows. `grouped` must
    * match how the summaries were built (a `category` column per side).
    */
  def embeddingDriftFromSummaries(oldSum: DataFrame, newSum: DataFrame,
      c: String, grouped: Boolean = false): DataFrame = {
    val keyCols = if (grouped) Seq("category", "i") else Seq("i")
    val gk = if (grouped) Seq(col("category")) else Nil
    def side(df: DataFrame, s: String, nrm: String, cnt: String): DataFrame =
      df.select(keyCols.map(col) ++ Seq(col("dim_sum").as(s),
        col("norm_sum").as(nrm), col("n").as(cnt)): _*)
    val j = side(oldSum, "os", "onrm", "ocnt")
      .join(side(newSum, "ns", "nnrm", "ncnt"), keyCols, "full_outer")
      .select(gk ++ Seq(
        coalesce(col("os"), lit(0.0)).as("os"),
        coalesce(col("ns"), lit(0.0)).as("ns"),
        coalesce(col("onrm"), lit(0.0)).as("onrm"),
        coalesce(col("nnrm"), lit(0.0)).as("nnrm"),
        coalesce(col("ocnt"), lit(0.0)).as("ocnt"),
        coalesce(col("ncnt"), lit(0.0)).as("ncnt")): _*)
    // ONE aggregate folds the ≤ dim joined rows (per group, when grouped)
    // into a single row (the histogramDrift shape); empty-on-both-sides
    // leaves the maxes null — coalesced to 0 below, the "no distribution
    // on either side" convention. groupBy() with no keys IS the global
    // single-row aggregate, so both forms share this one code path.
    val one = j.groupBy(gk: _*).agg(
      max(col("ocnt")).as("__on0"), max(col("ncnt")).as("__nn0"),
      max(col("onrm")).as("__onrm"), max(col("nnrm")).as("__nnrm"),
      collect_list(struct(col("os"), col("ns"))).as("cells"))
      .select(gk ++ Seq(coalesce(col("__on0"), lit(0.0)).as("__on"),
        coalesce(col("__nn0"), lit(0.0)).as("__nn"),
        coalesce(col("__onrm"), lit(0.0)).as("__onrm"),
        coalesce(col("__nnrm"), lit(0.0)).as("__nnrm"), col("cells")): _*)
    def om(cell: Column) = when(col("__on") === 0, lit(0.0))
      .otherwise(cell.getField("os") / col("__on"))
    def nm(cell: Column) = when(col("__nn") === 0, lit(0.0))
      .otherwise(cell.getField("ns") / col("__nn"))
    def fold(f: Column => Column) =
      aggregate(col("cells"), lit(0.0), (acc, cell) => acc + f(cell))
    val dot = fold(cell => om(cell) * nm(cell))
    val o2 = fold(cell => om(cell) * om(cell))
    val n2 = fold(cell => nm(cell) * nm(cell))
    val d2 = fold(cell => (nm(cell) - om(cell)) * (nm(cell) - om(cell)))
    val meanNormO = when(col("__on") === 0, lit(0.0))
      .otherwise(col("__onrm") / col("__on"))
    val meanNormN = when(col("__nn") === 0, lit(0.0))
      .otherwise(col("__nnrm") / col("__nn"))
    val shift = when(o2 === 0 && n2 === 0, lit(0.0))
      .when(o2 === 0 || n2 === 0, lit(2.0))
      .otherwise(lit(1.0) - dot / (sqrt(o2) * sqrt(n2)))
    val rows = array(
      struct(lit("row_count").as("metric"), col("__on").as("old_value"),
        col("__nn").as("new_value"),
        zround6(col("__nn") - col("__on")).as("delta")),
      struct(lit("mean_norm").as("metric"), meanNormO.as("old_value"),
        meanNormN.as("new_value"), zround6(meanNormN - meanNormO).as("delta")),
      struct(lit("centroid_shift").as("metric"), sqrt(o2).as("old_value"),
        sqrt(n2).as("new_value"), zround6(shift).as("delta")),
      struct(lit("centroid_l2").as("metric"), sqrt(o2).as("old_value"),
        sqrt(n2).as("new_value"), zround6(sqrt(d2)).as("delta")))
    one.select(gk :+ explode(rows).as("p"): _*)
      .select(Seq(lit(c).as("col_name"), col("p.metric")) ++ gk ++ Seq(
        col("p.old_value"), col("p.new_value"), col("p.delta")): _*)
  }

  /** Declarative drift GATE: append a `pass` column to a drift report
    * ([[driftReport]] / [[heavyHitterDrift]] shaped — any frame with
    * col_name/metric/old_value/delta) that FAILS THE JOB with a named
    * violation when any row's |delta| exceeds its bound. Bounds are keyed
    * by `"<col_name>.<metric>"` (most specific wins) or bare `"<metric>"`
    * (applies to every column); `absBounds` bound |delta| directly,
    * `relBounds` bound |delta| / max(|old_value|, 1e-12) — a relative
    * bound on a zero baseline treats ANY change as a violation (declare an
    * absolute bound for metrics that legitimately start at 0). A row with
    * a declared bound but a NULL delta also violates (a metric that can't
    * be computed must not silently pass its gate). Rows without a
    * matching bound pass.
    *
    * The raise-on-evaluate form means ANY runner — a batch sink write, a
    * Verify dump, `Doctor --run-gates` — gets a nonzero status from a
    * violated gate with zero runner-specific plumbing; the error message
    * names the column, metric, delta, and bound.
    */
  /** Bound lookup shared by [[gated]] and [[flagged]]: the row's matching
    * bound from a `"<col_name>.<metric>"` / bare `"<metric>"` keyed map
    * (most specific wins), or a null-typed column when the map is empty.
    */
  private def boundFor(bs: Map[String, Double]): Column =
    if (bs.isEmpty) lit(null).cast("double")
    else {
      val m = map(bs.toSeq.flatMap { case (k, v) =>
        Seq(lit(k), lit(v)) }: _*)
      coalesce(element_at(m, concat(col("col_name"), lit("."), col("metric"))),
        element_at(m, col("metric")))
    }

  /** The violation PREDICATE shared by [[gated]] (raise) and [[flagged]]
    * (boolean column): a row violates when a matching bound exists and its
    * |delta| exceeds it — or its delta (or, for relative bounds, its
    * old_value) is NULL, because a metric that can't be computed must not
    * silently pass its gate.
    */
  private def violation(absB: Column, relB: Column): Column = {
    val absViol = absB.isNotNull && (col("delta").isNull ||
      abs(col("delta")) > absB)
    val relViol = relB.isNotNull && (col("delta").isNull ||
      col("old_value").isNull ||
      abs(col("delta")) > relB * greatest(abs(col("old_value")), lit(1e-12)))
    absViol || relViol
  }

  /** The MONITOR form of [[gated]]: appends the same `pass` column but
    * never raises — a streaming drift monitor cannot usefully throw
    * mid-batch (the exception kills the query, not the offending window),
    * so violations surface as `pass = false` rows for the sink/alerting
    * side to route. The batch twin of a windowed declaration uses this
    * same form, keeping stream-built == batch-built testable.
    */
  def flagged(report: DataFrame, absBounds: Map[String, Double],
      relBounds: Map[String, Double]): DataFrame = {
    if (absBounds.isEmpty && relBounds.isEmpty) return report
    report.withColumn("pass",
      !violation(boundFor(absBounds), boundFor(relBounds)))
  }

  def gated(report: DataFrame, absBounds: Map[String, Double],
      relBounds: Map[String, Double]): DataFrame = {
    if (absBounds.isEmpty && relBounds.isEmpty) return report
    val absB = boundFor(absBounds); val relB = boundFor(relBounds)
    report.withColumn("pass",
      when(violation(absB, relB), raise_error(concat(
        lit("drift gate violated: "), col("col_name"), lit("/"), col("metric"),
        // a NULL delta is itself a violation (see absViol/relViol above) —
        // coalesce it like the bound legs, or the whole concat nulls out
        // and raise_error fires with an EMPTY message, losing the
        // "names the column, metric, delta, and bound" contract
        lit(" delta="), coalesce(format_number(col("delta"), 6), lit("null")),
        lit(" abs_bound="), coalesce(format_number(absB, 6), lit("-")),
        lit(" rel_bound="), coalesce(format_number(relB, 6), lit("-")))))
        .otherwise(lit(true)))
  }

  /** Distinct-count drift from the STORED mergeable HLL sketch tables of
    * two snapshots (build each with [[Profile.distinctSketches]] — one raw
    * scan per snapshot, typically already materialized by the profiling
    * step). Output: one row per dimension cell with both estimates and the
    * relative drift. Cells present in only one snapshot report the other
    * side as 0 (newborn/vanished cells ARE drift, not join losses).
    */
  /** WINDOWED embedding-drift MONITOR — the form that EVALUATES drift per
    * (tumbling/sliding/session window, stratum?) cell against a STORED
    * baseline [[embeddingSummary]] artifact, on a stream or on batch
    * (identical grouping → stream-built == batch-built, pinned across a
    * restart in StreamRunnerSpec). The windowed `embedding_summary` op
    * MAINTAINS the artifact incrementally; this op CLOSES the loop: each
    * window cell's four drift metrics (row_count / mean_norm /
    * centroid_shift / centroid_l2, the [[embeddingDrift]] conventions)
    * emit as update-mode rows the moment the cell refreshes — the live
    * "did this hour's crawl slice drift from the baseline" signal, without
    * ever rescanning the baseline corpus.
    *
    * Streaming shape: Spark refuses chained stateful aggregations, so the
    * cell summary is ONE [[graft.functions.VectorSumAgg]] aggregation per
    * (window, stratum) — per-dimension sums fold straight into cell state
    * (dim doubles per cell) — and everything after it is stateless: a
    * stream-static LEFT join against the ≤ groups-row reshaped baseline
    * (broadcast; a stratum missing from the baseline is NEWBORN — old side
    * zero, centroid_shift 2.0 — not a dropped row) and array-expression
    * metric math. Bounds surface as a `pass` COLUMN ([[flagged]] — a
    * stream cannot usefully raise mid-batch), never an exception.
    *
    * `baseline` must be an [[embeddingSummary]] artifact, grouped iff
    * `groupBy` is declared (callers preflight — the Interpreter reuses the
    * summaryPath schema check). `win` is the window expression (the caller
    * owns watermarking, same contract as [[embeddingSummaryWindowed]]).
    */
  def windowedEmbeddingDrift(df: DataFrame, c: String,
      groupBy: Option[String], win: Column, baseline: DataFrame,
      absBounds: Map[String, Double] = Map.empty,
      relBounds: Map[String, Double] = Map.empty): DataFrame =
    windowedEmbeddingEval(windowedEmbeddingCells(df, c, groupBy, win), c,
      groupBy.isDefined, baseline, absBounds, relBounds)

  /** The embedding monitor's STATEFUL half — one VectorSumAgg per
    * (window, stratum?) cell. Split for the `baselineRefresh: "perBatch"`
    * runner (the [[windowedScalarCells]] note);
    * windowedEmbeddingDrift == eval ∘ cells.
    */
  def windowedEmbeddingCells(df: DataFrame, c: String,
      groupBy: Option[String], win: Column): DataFrame = {
    val grouped = groupBy.isDefined
    val g = groupBy.map(gc => col(gc).cast("string").as("category")).toSeq
    // same row hygiene as summaryCore: null strata out (the null-stratum
    // convention), vectors with null/NaN elements out (they would poison
    // the sums; their absence still moves row_count)
    val clean = groupBy.fold(df)(gc => df.filter(col(gc).isNotNull))
      .filter(col(c).isNotNull &&
        !exists(col(c), x => x.isNull || isnan(x.cast("double"))))
      .select((win.as("__w") +: g) :+ col(c).cast("array<double>").as("__e"): _*)
      .withColumn("__nrm", sqrt(aggregate(col("__e"), lit(0.0),
        (a, x) => a + x * x)))
    val cellKeys = col("__w") +: (if (grouped) Seq(col("category")) else Nil)
    clean.groupBy(cellKeys: _*)
      .agg(graft.functions.VectorFunctions.vec_sum(col("__e")).as("__dims"),
        sum(col("__nrm")).as("__nnrm"),
        count(lit(1)).cast("double").as("__nn"))
  }

  /** The embedding monitor's STATELESS half: baseline reshape + join +
    * the four-metric math + gate flags over a cell table.
    */
  def windowedEmbeddingEval(agg: DataFrame, c: String, grouped: Boolean,
      baseline: DataFrame,
      absBounds: Map[String, Double] = Map.empty,
      relBounds: Map[String, Double] = Map.empty): DataFrame = {
    // baseline reshape (batch side, ≤ groups × dim rows in, ≤ groups rows
    // out): one row per stratum carrying the dim sums as an i-ordered
    // array + the norm sum and count (constant per stratum in the
    // artifact, so max() just picks them). struct array_sort orders by the
    // first field — i — ascending.
    val bk = if (grouped) Seq(col("category")) else Nil
    val baseRe = baseline.groupBy(bk: _*)
      .agg(
        transform(array_sort(collect_list(struct(col("i"), col("dim_sum")))),
          x => x.getField("dim_sum")).as("__bdims"),
        max(col("norm_sum")).as("__bnorm"),
        max(col("n")).as("__bn"))
    // grouped: a broadcast equi LEFT join on the stratum (≤ groups rows).
    // global: the baseline is exactly ONE row, so it rides in as LITERALS
    // collected once at build time — a constant-key join would fold to a
    // BroadcastNestedLoopJoin `on true` (the shape the plan audit exists
    // to flag), and literals keep the whole post-aggregation monitor a
    // map-side projection. The collect is ≤ dim doubles of a stored batch
    // artifact; an EMPTY artifact degrades to the zero baseline (every
    // cell newborn — the freq_l1 empty-side convention).
    val joined =
      if (grouped) agg.join(broadcast(baseRe), Seq("category"), "left")
      else {
        // a ZERO-ROW artifact still yields one global-aggregate row, with
        // the maxes null — filter it so the zero-baseline fallback below
        // actually fires (getDouble on the null would NPE)
        val r = graft.sinks.Exec.run(baseRe)(_.select(col("__bdims"), col("__bnorm"), col("__bn"))
          .collect().headOption.filterNot(_.isNullAt(2)))
        val (bdSeq, bnorm, bn) = r
          .map(x => (x.getSeq[Double](0), x.getDouble(1), x.getDouble(2)))
          .getOrElse((Seq.empty[Double], 0.0, 0.0))
        agg.withColumn("__bdims", typedLit(bdSeq))
          .withColumn("__bnorm", lit(bnorm)).withColumn("__bn", lit(bn))
      }
    // metric math over the two dim arrays — per-cell scalar work. A cell
    // with no baseline row (newborn stratum) reads old side as empty/zero.
    val on = coalesce(col("__bn"), lit(0.0))
    val bd = coalesce(col("__bdims"),
      org.apache.spark.sql.functions.array().cast("array<double>"))
    val nn = col("__nn")
    def foldSum(arr: Column): Column = aggregate(arr, lit(0.0), (a, x) => a + x)
    val o2 = when(on === 0, lit(0.0))
      .otherwise(foldSum(transform(bd, b => (b / on) * (b / on))))
    val n2 = foldSum(transform(col("__dims"), v => (v / nn) * (v / nn)))
    val dot = when(on === 0, lit(0.0))
      .otherwise(foldSum(zip_with(bd, col("__dims"),
        (b, v) => (b / on) * (v / nn))))
    val d2 = when(on === 0, n2)
      .otherwise(foldSum(zip_with(bd, col("__dims"),
        (b, v) => ((v / nn) - (b / on)) * ((v / nn) - (b / on)))))
    val meanNormO = when(on === 0, lit(0.0))
      .otherwise(coalesce(col("__bnorm"), lit(0.0)) / on)
    val meanNormN = col("__nnrm") / nn
    val shift = when(o2 === 0 && n2 === 0, lit(0.0))
      .when(o2 === 0 || n2 === 0, lit(2.0))
      .otherwise(lit(1.0) - dot / (sqrt(o2) * sqrt(n2)))
    val rows = array(
      struct(lit("row_count").as("metric"), on.as("old_value"),
        nn.as("new_value"), zround6(nn - on).as("delta")),
      struct(lit("mean_norm").as("metric"), meanNormO.as("old_value"),
        meanNormN.as("new_value"), zround6(meanNormN - meanNormO).as("delta")),
      struct(lit("centroid_shift").as("metric"), sqrt(o2).as("old_value"),
        sqrt(n2).as("new_value"), zround6(shift).as("delta")),
      struct(lit("centroid_l2").as("metric"), sqrt(o2).as("old_value"),
        sqrt(n2).as("new_value"), zround6(sqrt(d2)).as("delta")))
    val gk = if (grouped) Seq(col("category")) else Nil
    // n_new (the cell's new-side row count) rides on EVERY metric row: it
    // only grows as a cell absorbs rows, so it is the last-write-wins
    // version column a snapshot sink needs — the same convention as the
    // sketch tables' n_rows (a refreshed cell's rows must beat their
    // stored predecessors even when the metric itself moved down)
    val exploded = joined
      .select((col("__w.start").as("window_start") +: gk) ++
        Seq(nn.as("n_new"), explode(rows).as("p")): _*)
      .select(Seq(col("window_start"), lit(c).as("col_name"),
        col("p.metric")) ++ gk ++ Seq(col("p.old_value"),
        col("p.new_value"), col("p.delta"), col("n_new")): _*)
    flagged(exploded, absBounds, relBounds)
  }

  /** Percentile drift from the STORED mergeable quantile-sketch tables of
    * two snapshots (the X26 artifact — [[Profile.quantileSketches]] /
    * `quantile_rollup keepSketch`): per dimension cell, each side's
    * sketches roll up to the requested quantile estimates and the deltas
    * are emitted one row per (cell, quantile) — p50/p95/p99 movement is
    * the first drift signal a feature pipeline watches, and the stored
    * sketches answer it without declared bins or a rescan (the histogram
    * leg needs both). Raw data is never touched.
    *
    * Output: (dims..., metric = p50-style label, old_value, new_value,
    * delta), estimate accuracy the X26 contract (±1% of rank at the
    * default 256 centroids, re-checked per SF by the r45 accuracy row).
    * A cell present in only ONE snapshot reports the missing side (and
    * the delta) as NULL — a quantile of an absent population has no
    * value, and under a declared gate bound a NULL delta VIOLATES
    * ([[gated]]'s convention), so a vanished or newborn cell fails a
    * percentile gate loudly instead of fabricating a 0.
    */
  def driftFromQuantileSketches(oldSketches: DataFrame, newSketches: DataFrame,
      dims: Seq[String], quantiles: Seq[Double]): DataFrame = {
    require(quantiles.nonEmpty, "driftFromQuantileSketches needs quantiles")
    val labels = quantiles.map(graft.functions.QuantileSketch.colName)
    def side(sk: DataFrame, prefix: String): DataFrame =
      Profile.rollupQuantiles(sk, dims, quantiles)
        .select(dims.map(col) ++ labels.map(l => col(l).as(s"$prefix$l")): _*)
    // dims may be EMPTY — the GLOBAL form (corpus-wide percentile drift
    // between two crawls): each side's global rollup is EXACTLY one row
    // (a global aggregation emits one row even over an empty sketch set,
    // with NULL estimates — preserving the missing-side semantics), so
    // the degenerate full-outer is a one-row × one-row cross
    val j =
      if (dims.isEmpty)
        side(oldSketches, "__o_")
          .crossJoin(broadcast(side(newSketches, "__n_")))
      else side(oldSketches, "__o_").join(side(newSketches, "__n_"),
        dims, "full_outer")
    val rows = array(labels.map { l =>
      struct(lit(l).as("metric"),
        col(s"__o_$l").as("old_value"), col(s"__n_$l").as("new_value"),
        (col(s"__n_$l") - col(s"__o_$l")).as("delta"))
    }: _*)
    j.select(dims.map(col) :+ explode(rows).as("p"): _*)
      .select(dims.map(col) ++ Seq(col("p.metric"), col("p.old_value"),
        col("p.new_value"), col("p.delta")): _*)
  }

  // ------------------------------------------------ scalar-summary artifact

  /** Gate-granularity rounding shared by the monitors: 6 decimals with the
    * negative-zero normalization (below 1e-6 a delta is summation-order
    * noise, and DuckDB's round() emits -0.0 for tiny negatives, which
    * hashes differently from 0.0).
    */
  private def zround6(x: Column): Column =
    when(round(x, 6) === 0, lit(0.0)).otherwise(round(x, 6))

  /** Per-snapshot SCALAR summary artifact — the numeric legs' analogue of
    * [[embeddingSummary]]: one row per ((dims...) cell ×) declared column
    * carrying everything the exact numeric drift metrics derive from, in
    * LINEAR (exactly mergeable) form — `n_rows` (the cell's total row
    * count), `n_nonnull`, `sum`, `sumsq`, `min`, `max`. row_count /
    * null_rate / mean / stddev / min / max between any two snapshots (or
    * any window of one) then cost a KB-sized artifact read, never a
    * rescan. NULL dims cells are excluded (the null-stratum convention);
    * merge across shards/crawls is [[mergeScalarSummaries]] (plain
    * sums + min/max — exact, like the embedding summary's fold).
    */
  def scalarSummary(df: DataFrame, cols: Seq[String],
      dims: Seq[String]): DataFrame =
    scalarSummaryCore(df, cols, dims, None)

  /** WINDOWED form of [[scalarSummary]] — the incrementally-maintained
    * numeric summary table: one stateful aggregation per (tumbling window,
    * dims...) cell on a watermarked stream (native count/sum/min/max —
    * nothing custom rides the state store), the identical grouping on
    * batch. Same maintained-table pattern as the X25/X26 sketch tables.
    */
  def scalarSummaryWindowed(df: DataFrame, cols: Seq[String],
      dims: Seq[String], win: Column): DataFrame =
    scalarSummaryCore(df, cols, dims, Some(win))

  private def scalarSummaryCore(df: DataFrame, cols: Seq[String],
      dims: Seq[String], win: Option[Column]): DataFrame = {
    require(cols.nonEmpty, "scalarSummary needs at least one column")
    val strat =
      if (dims.isEmpty) df
      else df.filter(dims.map(col(_).isNotNull).reduce(_ && _))
    val aggs = Seq(count(lit(1)).as("__n")) ++ cols.flatMap { c =>
      val d = col(c).cast("double")
      Seq(count(col(c)).as(s"__nn_$c"), sum(d).as(s"__sum_$c"),
        sum(d * d).as(s"__sq_$c"), min(d).as(s"__min_$c"),
        max(d).as(s"__max_$c"))
    }
    val keys = win.map(_.as("__w")).toSeq ++ dims.map(col)
    val one = strat.groupBy(keys: _*).agg(aggs.head, aggs.tail: _*)
    // explode to the LONG shape (one row per column) AFTER the aggregation
    // — a stateless projection, so the streaming form stays one stateful agg
    val rows = cols.map { c =>
      struct(lit(c).as("col_name"), col(s"__nn_$c").as("n_nonnull"),
        col(s"__sum_$c").as("sum"), col(s"__sq_$c").as("sumsq"),
        col(s"__min_$c").as("min"), col(s"__max_$c").as("max"))
    }
    val outKeys =
      win.map(_ => col("__w.start").as("window_start")).toSeq ++ dims.map(col)
    val outNames = win.map(_ => "window_start").toSeq ++ dims
    one.select(outKeys ++ Seq(col("__n").as("n_rows"),
        explode(array(rows: _*)).as("p")): _*)
      .select(outNames.map(col) ++ Seq(
        col("p.col_name").as("col_name"), col("n_rows"), col("p.n_nonnull"),
        col("p.sum"), col("p.sumsq"), col("p.min"), col("p.max")): _*)
  }

  /** Merge [[scalarSummary]] artifacts (shards, daily crawls, window cells
    * with the window column dropped) by summation — the summary is linear,
    * so the fold is EXACT, mirroring [[mergeEmbeddingSummaries]].
    */
  def mergeScalarSummaries(parts: DataFrame, dims: Seq[String]): DataFrame =
    parts.groupBy((dims :+ "col_name").map(col): _*)
      .agg(sum(col("n_rows")).as("n_rows"),
        sum(col("n_nonnull")).as("n_nonnull"),
        sum(col("sum")).as("sum"), sum(col("sumsq")).as("sumsq"),
        min(col("min")).as("min"), max(col("max")).as("max"))

  /** The six exact numeric drift metrics derived from a [[scalarSummary]]
    * row's linear state — the same formulas (and names) as driftReport's
    * numeric leg: stddev is the textbook sample form with a
    * negative-variance clamp (pure rounding artifact); a side with no
    * rows (or < 2 for stddev) reports NULL, never a fabricated 0 — and an
    * ABSENT side's all-NULL inputs degrade every metric to NULL through
    * the same expressions (a NULL delta VIOLATES a declared gate bound,
    * the newborn/vanished-cell convention).
    */
  private def sumDerivedStats(n: Column, nn: Column, s: Column, sq: Column,
      mn: Column, mx: Column): Seq[(String, Column)] = Seq(
    "row_count" -> n.cast("double"),
    "null_rate" -> when(n === 0, lit(null).cast("double"))
      .otherwise((n - nn) / n),
    "mean" -> when(nn === 0, lit(null).cast("double")).otherwise(s / nn),
    // the guard must be the POSITIVE condition (nn >= 2 → compute): the
    // inverted `when(nn < 2, null).otherwise(...)` form routes an ABSENT
    // side's NULL nn into the otherwise branch, where greatest(NULL, 0.0)
    // SKIPS the null (Spark/SQL semantics) and fabricates stddev 0.0 —
    // caught by the vanished-cell hand-check; the negative-variance clamp
    // itself is a pure rounding artifact and stays
    "stddev" -> when(nn >= 2,
      sqrt(greatest((sq - s * s / nn) / (nn - 1), lit(0.0)))),
    "min" -> mn,
    "max" -> mx)

  /** BATCH scalar drift from STORED [[scalarSummary]] artifacts — the
    * numeric legs' no-rescan form (the scalar analogue of
    * [[embeddingDriftFromSummaries]], closing the follow-up the windowed
    * monitor left open): old side always a stored artifact, new side a
    * stored artifact or the frame's own one-scan summary, so drift
    * between any two snapshots costs a KB-sized artifact join. With
    * `dims` empty the output is the exact report's flat shape
    * (col_name, metric, old_value, new_value, delta); with dims it adds
    * the report's `category` column (the "/"-joined cell label) — one
    * row set per (cell, column, metric), a stratified numeric drift the
    * rescanning leg does not offer. FULL outer on (dims, col_name): a
    * vanished or newborn cell/column surfaces with NULL on its absent
    * side (NULL delta → VIOLATES a declared gate bound). Deltas are gate
    * quantities → 6-dp rounded; values stay raw.
    */
  def scalarDriftFromSummaries(oldSum: DataFrame, newSum: DataFrame,
      dims: Seq[String]): DataFrame = {
    def side(df: DataFrame, p: String): DataFrame =
      df.select((dims :+ "col_name").map(col) ++ Seq(
        col("n_rows").as(s"${p}n"), col("n_nonnull").as(s"${p}nn"),
        col("sum").as(s"${p}s"), col("sumsq").as(s"${p}sq"),
        col("min").as(s"${p}mn"), col("max").as(s"${p}mx")): _*)
    // USING-join on (dims, col_name) coalesces the keys, so a one-sided
    // cell keeps its identity columns
    val j = side(oldSum, "__o_").join(side(newSum, "__n_"),
      dims :+ "col_name", "full_outer")
    val oldStats = sumDerivedStats(col("__o_n"), col("__o_nn"), col("__o_s"),
      col("__o_sq"), col("__o_mn"), col("__o_mx"))
    val newStats = sumDerivedStats(col("__n_n"), col("__n_nn"), col("__n_s"),
      col("__n_sq"), col("__n_mn"), col("__n_mx"))
    val rows = array(newStats.zip(oldStats).map { case ((m, nv), (_, ov)) =>
      struct(lit(m).as("metric"), ov.as("old_value"), nv.as("new_value"),
        zround6(nv - ov).as("delta"))
    }: _*)
    val lead: Seq[Column] =
      if (dims.isEmpty) Seq(col("col_name"))
      else Seq(col("col_name"), concat_ws("/",
        dims.map(c => col(c).cast("string")): _*).as("category"))
    val leadNames = if (dims.isEmpty) Seq("col_name")
      else Seq("col_name", "category")
    j.select(lead :+ explode(rows).as("p"): _*)
      .select(leadNames.map(col).take(1) ++ Seq(col("p.metric")) ++
        leadNames.drop(1).map(col) ++ Seq(col("p.old_value"),
        col("p.new_value"), col("p.delta")): _*)
  }

  /** WINDOWED SCALAR drift MONITOR — the numeric-column analogue of
    * [[windowedEmbeddingDrift]] (round-17 directive #2a): each (window,
    * dims...) cell's row_count / null_rate / mean / stddev / min / max
    * evaluate against a STORED [[scalarSummary]] baseline the moment the
    * cell refreshes. Streaming shape: the cell summary is ONE stateful
    * aggregation (all native aggs); everything after is stateless — a
    * broadcast LEFT join against the ≤ cells × cols baseline rows on
    * (dims, col_name) and per-row metric math. A cell/column absent from
    * the baseline reads NULL on the old side (and a NULL delta VIOLATES a
    * declared bound — the quantile-leg newborn convention: a percentile or
    * mean of an absent population must gate loudly, not fabricate 0).
    * Bounds surface as a `pass` COLUMN ([[flagged]]); `n_new` (the cell's
    * total row count) rides every metric row as the last-write-wins
    * version column. Deltas are gate quantities → 6-dp rounded.
    */
  def windowedScalarDrift(df: DataFrame, cols: Seq[String], dims: Seq[String],
      win: Column, baseline: DataFrame,
      absBounds: Map[String, Double] = Map.empty,
      relBounds: Map[String, Double] = Map.empty): DataFrame =
    windowedScalarEval(windowedScalarCells(df, cols, dims, win), dims,
      baseline, absBounds, relBounds)

  /** The scalar monitor's STATEFUL half alone — the per-(window, dims)
    * cell summary (one native aggregation, the long col_name shape). The
    * split exists for the `baselineRefresh: "perBatch"` runner
    * ([[graft.streaming.StreamRunner.startRefreshingMonitor]]): the cell
    * stream is plan-static, and [[windowedScalarEval]] (stateless) runs
    * inside foreachBatch against a baseline re-read each batch, so a
    * refreshed artifact (a weekly merge_scalar_summaries fold republished
    * to a NEW path or atomically swapped) lands without a monitor
    * restart. Composition is the identity:
    * windowedScalarDrift == eval ∘ cells, so stream == batch holds by
    * construction for both refresh postures.
    */
  def windowedScalarCells(df: DataFrame, cols: Seq[String],
      dims: Seq[String], win: Column): DataFrame =
    scalarSummaryCore(df, cols, dims, Some(win))

  /** The scalar monitor's STATELESS half: broadcast baseline join +
    * metric math + gate flags over a cell table ([[windowedScalarCells]]
    * output — streaming state or a foreachBatch batch alike).
    */
  def windowedScalarEval(cells: DataFrame, dims: Seq[String],
      baseline: DataFrame,
      absBounds: Map[String, Double] = Map.empty,
      relBounds: Map[String, Double] = Map.empty): DataFrame = {
    val b = baseline.select((dims :+ "col_name").map(col) ++ Seq(
      col("n_rows").as("__bn"), col("n_nonnull").as("__bnn"),
      col("sum").as("__bsum"), col("sumsq").as("__bsq"),
      col("min").as("__bmin"), col("max").as("__bmax")): _*)
    val joined = cells.join(broadcast(b), dims :+ "col_name", "left")
    val newStats = sumDerivedStats(col("n_rows"), col("n_nonnull"),
      col("sum"), col("sumsq"), col("min"), col("max"))
    val oldStats = sumDerivedStats(col("__bn"), col("__bnn"), col("__bsum"),
      col("__bsq"), col("__bmin"), col("__bmax"))
    val rows = array(newStats.zip(oldStats).map { case ((m, nv), (_, ov)) =>
      struct(lit(m).as("metric"), ov.as("old_value"), nv.as("new_value"),
        zround6(nv - ov).as("delta"))
    }: _*)
    val cat: Column =
      if (dims.isEmpty) lit(null).cast("string")
      else concat_ws("/", dims.map(c => col(c).cast("string")): _*)
    val exploded = joined.select(col("window_start"), col("col_name"),
        cat.as("category"), col("n_rows").cast("double").as("n_new"),
        explode(rows).as("p"))
      .select(col("window_start"), col("col_name"), col("p.metric"),
        col("category"), col("p.old_value"), col("p.new_value"),
        col("p.delta"), col("n_new"))
    flagged(exploded, absBounds, relBounds)
  }

  /** WINDOWED PERCENTILE drift MONITOR — the quantilePath leg live
    * (round-17 directive #2b): each (window, dims...) cell builds ONE
    * mergeable quantile sketch (the X26 aggregate already rides streaming
    * state), estimates the declared percentiles statelessly, and compares
    * them against the STORED quantile-sketch table's per-cell estimates —
    * one row per (cell, quantile), accuracy the X26 ±1%-of-rank contract
    * on BOTH sides. Old raw data is never touched; a cell absent from the
    * baseline reports NULL old/delta (VIOLATES under a bound — the
    * newborn convention). Same streaming shape as the scalar monitor: one
    * stateful agg, then a broadcast baseline join and projections.
    */
  def windowedQuantileDrift(df: DataFrame, valueCol: String,
      dims: Seq[String], win: Column, oldSketches: DataFrame,
      quantiles: Seq[Double],
      absBounds: Map[String, Double] = Map.empty,
      relBounds: Map[String, Double] = Map.empty): DataFrame =
    windowedQuantileEval(
      windowedQuantileCells(df, valueCol, dims, win, quantiles),
      valueCol, dims, oldSketches, quantiles, absBounds, relBounds)

  /** The percentile monitor's STATEFUL half — one mergeable quantile
    * sketch per (window, dims) cell, estimates fanned out statelessly.
    * Split for the `baselineRefresh: "perBatch"` runner (the
    * [[windowedScalarCells]] note); windowedQuantileDrift == eval ∘ cells.
    */
  def windowedQuantileCells(df: DataFrame, valueCol: String,
      dims: Seq[String], win: Column, quantiles: Seq[Double]): DataFrame = {
    require(quantiles.nonEmpty, "windowedQuantileDrift needs quantiles")
    val labels = quantiles.map(graft.functions.QuantileSketch.colName)
    // dims may be EMPTY — the GLOBAL percentile monitor (a corpus-wide
    // p95 per window against a global baseline; round-18 VERDICT #5):
    // cells are windows alone, the baseline is the one-row global rollup,
    // and the join degenerates to a broadcast one-row attach that still
    // LEFT-joins (condition-form) so a missing baseline reads NULL-old
    // (the newborn convention), never drops the cell
    val noNull =
      if (dims.isEmpty) lit(true)
      else dims.map(col(_).isNotNull).reduce(_ && _)
    val g = df.filter(noNull)
      .groupBy(win.as("__w") +: dims.map(col): _*)
      .agg(graft.functions.QuantileSketch.sketch(
          col(valueCol).cast("double")).as("__qs"),
        count(col(valueCol)).as("__n"))
    // materialize the estimate array ONCE per cell (the windowed
    // quantile_rollup CSE note), then fan out per-quantile columns
    val withEst = g.withColumn("__est",
      graft.functions.QuantileSketch.estimateSketch(col("__qs"), quantiles))
    withEst.select(
      (col("__w.start").as("window_start") +: dims.map(col)) ++
        (col("__n") +: labels.zipWithIndex.map { case (l, i) =>
          col("__est").getItem(i).as(s"__n_$l") }): _*)
  }

  /** The percentile monitor's STATELESS half: old-sketch rollup +
    * broadcast join + per-quantile rows + gate flags over a cell table.
    */
  def windowedQuantileEval(cells: DataFrame, valueCol: String,
      dims: Seq[String], oldSketches: DataFrame, quantiles: Seq[Double],
      absBounds: Map[String, Double] = Map.empty,
      relBounds: Map[String, Double] = Map.empty): DataFrame = {
    val labels = quantiles.map(graft.functions.QuantileSketch.colName)
    val noNull =
      if (dims.isEmpty) lit(true)
      else dims.map(col(_).isNotNull).reduce(_ && _)
    val newSide = cells
    val oldEst = Profile.rollupQuantiles(
      oldSketches.filter(noNull), dims, quantiles)
    val b = oldEst.select(dims.map(col) ++
      labels.map(l => col(l).as(s"__o_$l")): _*)
    val joined =
      if (dims.isEmpty) newSide.join(broadcast(b), lit(true), "left")
      else newSide.join(broadcast(b), dims, "left")
    val rows = array(labels.map { l =>
      struct(lit(l).as("metric"), col(s"__o_$l").as("old_value"),
        col(s"__n_$l").as("new_value"),
        (col(s"__n_$l") - col(s"__o_$l")).as("delta"))
    }: _*)
    // the scalar monitor's convention: NULL category for the global form
    val cat: Column =
      if (dims.isEmpty) lit(null).cast("string")
      else concat_ws("/", dims.map(c => col(c).cast(
        org.apache.spark.sql.types.StringType)): _*)
    val exploded = joined.select(col("window_start"),
        lit(valueCol).as("col_name"), cat.as("category"),
        col("__n").cast("double").as("n_new"), explode(rows).as("p"))
      .select(col("window_start"), col("col_name"), col("p.metric"),
        col("category"), col("p.old_value"), col("p.new_value"),
        col("p.delta"), col("n_new"))
    flagged(exploded, absBounds, relBounds)
  }

  def driftFromSketches(oldSketches: DataFrame, newSketches: DataFrame,
      dims: Seq[String]): DataFrame = {
    val o = Profile.rollupDistinct(oldSketches, dims)
      .withColumnRenamed("n_distinct", "old_distinct")
    val n = Profile.rollupDistinct(newSketches, dims)
      .withColumnRenamed("n_distinct", "new_distinct")
    o.join(n, dims, "full_outer")
      .select(dims.map(col) ++ Seq(
        coalesce(col("old_distinct"), lit(0L)).as("old_distinct"),
        coalesce(col("new_distinct"), lit(0L)).as("new_distinct")): _*)
      .withColumn("rel_drift",
        when(col("old_distinct") === 0 && col("new_distinct") === 0, lit(0.0))
          .otherwise(abs(col("new_distinct") - col("old_distinct")) /
            greatest(col("old_distinct"), col("new_distinct")).cast("double")))
  }
}
