package graft

import java.io.{ByteArrayOutputStream, PrintStream}
import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions.col

/** Preflight CLI pins: a clean multi-spec YAML passes, an intentional
  * nested-loop spec fails under --audit-fail with the rule printed, and a
  * broken config reports the validation error instead of stack-tracing.
  */
class DoctorSpec extends SparkSuite {

  private def runDoctor(args: String*): (Int, String) = {
    val buf = new ByteArrayOutputStream()
    val code = Console.withOut(new PrintStream(buf, true, "UTF-8")) {
      Doctor.run(args.toArray)
    }
    (code, buf.toString("UTF-8"))
  }

  private def write(name: String, text: String): String = {
    val dir = tempDirPath("graft_doctor")
    val p = dir.resolve(name)
    Files.writeString(p, text)
    p.toString
  }

  test("Doctor: a clean multi-spec YAML list passes preflight with audit clean") {
    val p = write("ok.yaml",
      """- id: doc-stream
        |  processingMode: SIMPLE_STREAM
        |  sourceTopic: {name: events}
        |- id: doc-chain
        |  processingMode: JOIN_CHAIN
        |  sourceTopic: {name: orders, keyClass: java.lang.Long}
        |  joinOperations:
        |    - id: j1
        |      type: INNER_JOIN
        |      global: true
        |      primaryKeyExtraction: {source: VALUE, fieldName: o_custkey}
        |      enrichmentTopic: {name: customer, keyClass: java.lang.Long}
        |      outputFieldsMapping:
        |        - {sourceFieldName: o_orderkey, outputFieldName: order_id, source: LEFT}
        |""".stripMargin)
    val (code, out) = runDoctor(p, sf(), "--audit-fail")
    assert(code == 0, out)
    assert(out.contains("config OK: 2 spec(s)"), out)
    assert(out.contains("plan audit: clean"), out)
    assert(out.contains("preflight OK"), out)
  }

  test("Doctor: an intentional nested-loop spec fails under --audit-fail with the rule named") {
    val p = write("knn.yaml",
      s"""id: doc-knn
         |processingMode: SIMPLE_STREAM
         |sourceTopic: {name: embeddings, keyClass: java.lang.Long}
         |transform:
         |  - {op: knn, column: embedding, idColumn: vec_id, k: 5,
         |     queryPath: "${sf()}/embeddings.parquet", queryFilter: "vec_id < 3"}
         |""".stripMargin)
    val (code, out) = runDoctor(p, sf(), "--audit-fail")
    assert(code == 1, out)
    assert(out.contains("nested_loop_join"), out)
    // without the flag the same spec passes (warn-only)
    val (code2, out2) = runDoctor(p, sf())
    assert(code2 == 0 && out2.contains("plan audit WARN"), out2)
  }

  test("Doctor: a --- document marker and leading comments do not misroute list-vs-single binding") {
    val single = write("marker.yaml",
      """---
        |# a perfectly normal single-spec document
        |id: doc-marker
        |processingMode: SIMPLE_STREAM
        |sourceTopic: {name: events}
        |""".stripMargin)
    val (c1, o1) = runDoctor(single, sf(), "--audit-fail")
    assert(c1 == 0, o1)
    val list = write("commented-list.yaml",
      """# topologies for the batch tier
        |- {id: doc-a, processingMode: SIMPLE_STREAM, sourceTopic: {name: events}}
        |- {id: doc-b, processingMode: SIMPLE_STREAM, sourceTopic: {name: documents}}
        |""".stripMargin)
    val (c2, o2) = runDoctor(list, sf(), "--audit-fail")
    assert(c2 == 0 && o2.contains("config OK: 2 spec(s)"), o2)
  }

  test("examples/ preflight: every checked-in fixture passes Doctor against real data") {
    // The checked-in examples ARE part of the product surface (round-13
    // directive #7): a field rename, a transform-op change, or a plan
    // regression must fail the build, not wait for a user to paste a stale
    // example. Convention: *.warn.yml marks a fixture whose plan carries a
    // DOCUMENTED intentional audit warning (e.g. the knn broadcast scan) —
    // it preflights without --audit-fail but must still REPORT the warning
    // (an intentional-warning example must stay intentional); every other
    // fixture must be fully clean under --audit-fail.
    val dir = java.nio.file.Paths.get("examples")
    assert(java.nio.file.Files.isDirectory(dir), "examples/ directory missing")
    val fixtures = java.nio.file.Files.list(dir).iterator().asScala
      .map(_.toString).filter(p => p.endsWith(".yml") || p.endsWith(".yaml"))
      .toSeq.sorted
    assert(fixtures.nonEmpty, "no example fixtures found under examples/")
    // daily_maintenance.yml assumes crawl-time artifacts exist (its header
    // names them); the prep stands in for the crawl jobs so the fixture
    // can run its whole maintenance loop end to end at preflight
    locally {
      val docs = spark.read.parquet(s"${sf()}/documents.parquet")
      graft.operators.Dedup.shingleIndex(
          docs.filter(col("doc_id") < 400), "doc_id", "text", 3)
        .write.mode("overwrite")
        .parquet("/tmp/graft_examples/dm/doc_shingles")
      graft.operators.Drift.scalarSummary(
          spark.read.parquet(s"${sf()}/events.parquet")
            .filter(col("user_id") < 8), Seq("value"), Seq("event_type"))
        .write.mode("overwrite")
        .parquet("/tmp/graft_examples/dm/event_stats")
    }
    fixtures.foreach { p =>
      if (p.endsWith(".warn.yml") || p.endsWith(".warn.yaml")) {
        val (code, out) = runDoctor(p, sf())
        assert(code == 0, s"$p failed preflight:\n$out")
        assert(out.contains("plan audit WARN"),
          s"$p is marked .warn.yml but audited clean — drop the marker:\n$out")
      } else if (p.endsWith(".fail.yml") || p.endsWith(".fail.yaml")) {
        // *.fail.yml demonstrates the refuse-before-burn path END TO END
        // (round-14 directive #7): the fixture declares planAudit: "fail"
        // on a config-detectable trap, so Doctor must REFUSE it (exit 1)
        // with the spec-level finding named in the failure — before the
        // flagged stage ever executes. The traps are SCALE-AWARE (they
        // price threshold × corpus), so these fixtures preflight against
        // the sf1 rung where the regime is real — at toy scale the same
        // spec correctly prices feasible and would pass
        if (!Files.isDirectory(java.nio.file.Paths.get("testdata_sf1")))
          info(s"$p skipped — sf1 rung not generated on this machine")
        else {
          val (code, out) = runDoctor(p, "testdata_sf1")
          assert(code == 1,
            s"$p is marked .fail.yml but passed preflight — drop the marker:\n$out")
          assert(out.contains("plan audit:"),
            s"$p must be refused BY THE AUDIT GATE (a build crash for any " +
              s"other reason is a broken fixture, not a demonstration):\n$out")
        }
      } else {
        val (code, out) = runDoctor(p, sf(), "--audit-fail")
        assert(code == 0, s"$p failed preflight under --audit-fail:\n$out")
      }
    }
  }

  test("Doctor: pending tombstones and low-selectivity candidateFilters are priced at preflight") {
    // the round-19 maintenance advisories fire from the meta / one
    // attr-column scan BEFORE the search pays: an index carrying 4+
    // active tombstone generations owes a compact, and a standing filter
    // under 10% selectivity should become a per-category index
    val base = tempDir("graft_doctor_advice")
    val e = spark.read.parquet(s"${sf()}/embeddings.parquet")
      .selectExpr("vec_id", "cast(embedding as array<double>) as embedding",
        "label")
    graft.operators.Similarity.buildIndex(e, "vec_id", "embedding",
      "quantized", s"$base/idx", attributeColumns = Seq("label"))
    (0 until 4).foreach { i =>
      graft.operators.Similarity.deleteIndex(
        e.filter(col("vec_id") % 101 === i), "vec_id", s"$base/idx")
    }
    def spec(extra: String) = write(s"knn_adv${extra.hashCode}.json",
      s"""{"id":"knn-advice","processingMode":"SIMPLE_STREAM",
         |"sourceTopic":{"name":"embeddings","keyClass":"java.lang.Long"},
         |"transform":[{"op":"knn","method":"quantized","column":"embedding",
         |  "idColumn":"vec_id","k":10,
         |  "queryPath":"${sf()}/embeddings.parquet",
         |  "queryFilter":"vec_id < 3"$extra,
         |  "indexPath":"$base/idx"}],
         |"outputTopic":{"enabled":true,"name":"knn-advice-out"}}""".stripMargin)
    val (c1, o1) = runDoctor(spec(""), sf())
    assert(c1 == 0, o1)
    assert(o1.contains("knn_pending_tombstones") &&
      o1.contains("knn_index_compact"), o1)
    // a SELECTIVE standing filter (~5% of the corpus) draws the
    // selectivity advisory naming the per-category-index remedy
    val (c2, o2) = runDoctor(
      spec(""","candidateFilter":"label = 0 AND id % 2 = 0""""), sf())
    assert(c2 == 0, o2)
    assert(o2.contains("knn_filter_low_selectivity") &&
      o2.contains("PER-CATEGORY"), o2)
    // a healthy-selectivity filter (~40%) does NOT draw it
    val (c3, o3) = runDoctor(
      spec(""","candidateFilter":"label < 4""""), sf())
    assert(c3 == 0 && !o3.contains("knn_filter_low_selectivity"), o3)
  }

  test("Doctor: a MASS takedown prices knn_tombstone_fraction at preflight; " +
      "a per-category family stands the selectivity advisory down") {
    // round-20: (a) the tombstone-ROW fraction advisory — closed-form from
    // the meta — demands a compact NOW when the active takedown set passes
    // ~10% of the indexed rows (the generation-count advisory alone would
    // sleep through one giant batch); (b) partitionByAttribute is the
    // low-selectivity advisory's named remedy AUTOMATED, so an equality
    // filter a sub-index covers must NOT draw the advisory — the search
    // routes, full recall, no widening
    val base = tempDir("graft_doctor_mass")
    val e = spark.read.parquet(s"${sf()}/embeddings.parquet")
      .selectExpr("vec_id", "cast(embedding as array<double>) as embedding",
        "label")
    graft.operators.Similarity.buildIndex(e, "vec_id", "embedding",
      "quantized", s"$base/mass", attributeColumns = Seq("label"))
    graft.operators.Similarity.deleteIndex(
      e.filter(col("vec_id") % 5 < 2), "vec_id", s"$base/mass")
    def spec(idx: String, extra: String) = write(s"knn_m${(idx + extra).hashCode}.json",
      s"""{"id":"knn-mass","processingMode":"SIMPLE_STREAM",
         |"sourceTopic":{"name":"embeddings","keyClass":"java.lang.Long"},
         |"transform":[{"op":"knn","method":"quantized","column":"embedding",
         |  "idColumn":"vec_id","k":10,
         |  "queryPath":"${sf()}/embeddings.parquet",
         |  "queryFilter":"vec_id < 3"$extra,
         |  "indexPath":"$base/$idx"}],
         |"outputTopic":{"enabled":true,"name":"knn-mass-out"}}""".stripMargin)
    val (c1, o1) = runDoctor(spec("mass", ""), sf())
    assert(c1 == 0, o1)
    assert(o1.contains("knn_tombstone_fraction") &&
      o1.contains("knn_index_compact"), o1)
    // ONE tombstone generation — the count advisory must NOT be the one
    // carrying the warning (it needs 4+); the fraction advisory is
    assert(!o1.contains("knn_pending_tombstones"), o1)
    // a compact folds the set away and the advisory stands down
    graft.operators.Similarity.compactIndex(spark, s"$base/mass")
    val (c2, o2) = runDoctor(spec("mass", ""), sf())
    assert(c2 == 0 && !o2.contains("knn_tombstone_fraction"), o2)
    // per-category family on a robustly-selective attribute (~5% per
    // value): the equality filter ROUTES to the sub-index, so it draws NO
    // advisory — while the identical filter on a plain (non-partitioned)
    // index carrying the same attribute still prices under the 10% bar
    val e2 = e.withColumn("grp",
      org.apache.spark.sql.functions.expr("vec_id % 20"))
    graft.operators.Similarity.buildIndex(e2, "vec_id", "embedding",
      "quantized", s"$base/fam", attributeColumns = Seq("grp"),
      partitionByAttribute = Some("grp"))
    graft.operators.Similarity.buildIndex(e2, "vec_id", "embedding",
      "quantized", s"$base/plainb", attributeColumns = Seq("grp"))
    val (c4, o4) = runDoctor(
      spec("fam", ""","candidateFilter":"grp = 3""""), sf())
    assert(c4 == 0 && !o4.contains("knn_filter_low_selectivity"), o4)
    val (c5, o5) = runDoctor(
      spec("plainb", ""","candidateFilter":"grp = 3""""), sf())
    assert(c5 == 0 && o5.contains("knn_filter_low_selectivity"), o5)
  }

  test("Doctor: a heavy pending-retraction set on the screen's history warns at preflight") {
    // the knn tombstone advisory's text twin: a retraction set at 10% of
    // the history's rows prices the per-screen anti-join + held disk and
    // names the compact
    val base = tempDir("graft_doctor_retract")
    val docs = spark.read.parquet(s"${sf()}/documents.parquet")
    graft.operators.Dedup.shingleIndex(docs.filter(col("doc_id") < 100),
        "doc_id", "text", 3)
      .write.mode("overwrite").parquet(s"$base/hist")
    def screenSpec = write("retract_screen.json",
      s"""{"id":"rt-screen","processingMode":"SIMPLE_STREAM",
         |"sourceTopic":{"name":"documents","keyClass":"java.lang.Long"},
         |"transform":[{"op":"dedup_near","method":"jaccard",
         |  "column":"text","idColumn":"doc_id","shingleSize":3,
         |  "threshold":0.8,"historyPath":"$base/hist"}],
         |"outputTopic":{"enabled":true,"name":"rt-out"}}""".stripMargin)
    // no retractions -> clean
    val (c0, o0) = runDoctor(screenSpec, sf(), "--audit-fail")
    assert(c0 == 0 && !o0.contains("shingle_pending_retractions"), o0)
    // retract ~a third of the history -> the advisory fires
    graft.pipeline.Interpreter.applyTransform(docs.filter(col("doc_id") < 30),
      graft.config.TransformOp.ShingleIndexRetract(idColumn = "doc_id",
        historyPath = s"$base/hist"), None, "rt-takedown").collect()
    val (c1, o1) = runDoctor(screenSpec, sf())
    assert(c1 == 0, o1)
    assert(o1.contains("shingle_pending_retractions") &&
      o1.contains("shingle_index_compact"), o1)
  }

  test("Doctor: low-threshold embedding dedup over a large corpus warns at preflight; design regime passes") {
    // the one remaining 100 TB trap of round 13, now config-visible: a
    // dedup_near method=embedding declaration is priced through the LSH
    // auto-sizer against the input's size statistic BEFORE anything runs
    def spec(threshold: Double, planAudit: String = "") =
      s"""{"id":"embed-dedup","processingMode":"SIMPLE_STREAM",
         |"sourceTopic":{"name":"embeddings","keyClass":"java.lang.Long"},
         |$planAudit
         |"transform":[{"op":"dedup_near","method":"embedding",
         |  "idColumn":"vec_id","column":"embedding","dim":64,
         |  "threshold":$threshold}],
         |"outputTopic":{"enabled":true,"name":"dedup-out"}}""".stripMargin
    // sf1-scale corpus (20k vectors): threshold 0.4 sits in the
    // superlinear regime — holding 0.9 recall needs ~143 tables vs the 64
    // clamp. The fixture also declares planAudit:"fail", pinning the
    // composition: the spec-level finding refuses the build outright, so
    // Doctor reports it even WITHOUT --audit-fail. (One sizeable run —
    // building a dedup spec executes its collapse loop, so the test keeps
    // the expensive configuration to a single Doctor invocation.)
    assume(Files.isDirectory(java.nio.file.Paths.get("testdata_sf1")),
      "sf1 rung not generated on this machine")
    val low = write("embed_low.json", spec(0.4, """"planAudit":"fail","""))
    val (codeLow, outLow) = runDoctor(low, "testdata_sf1")
    assert(codeLow == 1, outLow)
    assert(outLow.contains("lsh_low_threshold_regime") &&
      outLow.contains("exact pair join"), outLow)
    // the design regime (>= ~0.9 cosine) audits clean at the same scale
    val hi = write("embed_hi.json", spec(0.95))
    val (codeHi, outHi) = runDoctor(hi, "testdata_sf1")
    assert(codeHi == 0, outHi)
    assert(!outHi.contains("lsh_low_threshold_regime"), outHi)
    // the sf10 combination — the x2_embed_dup scaling row's regime (the
    // one superlinear row of the sf10 rung for two rounds): at 200k
    // vectors × threshold 0.4 the declarative preflight REFUSES the build
    // before the collapse loop burns anything (round-17 directive #7: the
    // measured regime is now a fenced fixture, not a silent scale-killer;
    // BASELINE/DEPLOY document it as the accepted gated regime). Cheap:
    // fail-mode specAudit fires from the size statistic, pre-execution.
    if (Files.isDirectory(java.nio.file.Paths.get("testdata_sf10"))) {
      val sf10 = write("embed_low_sf10.json", spec(0.4, """"planAudit":"fail","""))
      val (code10, out10) = runDoctor(sf10, "testdata_sf10")
      assert(code10 == 1, out10)
      assert(out10.contains("lsh_low_threshold_regime"), out10)
    }
  }

  test("Doctor: snapshot_drift over an identifier-like categorical warns at preflight; a bounded enum audits clean") {
    // round-14 directive #4 — the OTHER config-detectable drift trap: the
    // exact freq_l1 leg shuffles one row per distinct category per side,
    // so a categoricalColumns entry pointed at an id-like key space grows
    // the exchange with the corpus. The declaration is priced by one HLL
    // probe of the compare snapshot; past the enum bar (10k) the finding
    // names the heavyHitterColumns alternative. Scale-aware like the LSH
    // regime check, so it pins against the sf1 rung (events: 15k distinct
    // user_id — past the bar; 5 distinct event_type — well under it).
    def spec(catCol: String, planAudit: String = "") =
      s"""{"id":"drift-card","processingMode":"SIMPLE_STREAM",
         |"sourceTopic":{"name":"events","keyClass":"java.lang.Long"},
         |$planAudit
         |"transform":[{"op":"snapshot_drift",
         |  "comparePath":"<dataDir>/events.parquet",
         |  "compareFilter":"CAST(ts AS TIMESTAMP) < TIMESTAMP '2024-01-16'",
         |  "categoricalColumns":["$catCol"]}],
         |"outputTopic":{"enabled":true,"name":"drift-out"}}""".stripMargin
    assume(Files.isDirectory(java.nio.file.Paths.get("testdata_sf1")),
      "sf1 rung not generated on this machine")
    // composition with planAudit:"fail" pinned, same as the LSH regime
    // test: the finding refuses the build outright, Doctor exits 1
    val bad = write("drift_userid.json", spec("user_id", """"planAudit":"fail","""))
    val (codeBad, outBad) = runDoctor(bad, "testdata_sf1")
    assert(codeBad == 1, outBad)
    assert(outBad.contains("drift_unbounded_categorical") &&
      outBad.contains("heavyHitterColumns"), outBad)
    // a genuine enum at the same scale audits clean under --audit-fail
    val ok = write("drift_eventtype.json", spec("event_type"))
    val (codeOk, outOk) = runDoctor(ok, "testdata_sf1", "--audit-fail")
    assert(codeOk == 0, outOk)
    assert(!outOk.contains("drift_unbounded_categorical"), outOk)
  }

  test("Doctor: embeddingGroupBy over an identifier-like stratum warns at preflight; a bounded one audits clean") {
    // the SAME per-distinct-key trap through the grouped embedding leg
    // (exchange = groups × dim rows per side): vec_id has 20k distinct
    // values at the sf1 rung — past the enum bar, so the declaration is
    // refused before the burn under planAudit:"fail" with the bounded-
    // stratum alternative named; label (10 clusters) audits clean
    def spec(groupCol: String, planAudit: String = "") =
      s"""{"id":"embed-drift-card","processingMode":"SIMPLE_STREAM",
         |"sourceTopic":{"name":"embeddings","keyClass":"java.lang.Long"},
         |$planAudit
         |"transform":[{"op":"snapshot_drift",
         |  "comparePath":"<dataDir>/embeddings.parquet",
         |  "compareFilter":"label < 8",
         |  "embeddingColumns":["embedding"],
         |  "embeddingGroupBy":"$groupCol"}],
         |"outputTopic":{"enabled":true,"name":"embed-drift-out"}}""".stripMargin
    assume(Files.isDirectory(java.nio.file.Paths.get("testdata_sf1")),
      "sf1 rung not generated on this machine")
    val bad = write("embed_drift_vecid.json", spec("vec_id", """"planAudit":"fail","""))
    val (codeBad, outBad) = runDoctor(bad, "testdata_sf1")
    assert(codeBad == 1, outBad)
    assert(outBad.contains("drift_unbounded_categorical") &&
      outBad.contains("embeddingGroupBy") &&
      outBad.contains("bounded stratum"), outBad)
    val ok = write("embed_drift_label.json", spec("label"))
    val (codeOk, outOk) = runDoctor(ok, "testdata_sf1", "--audit-fail")
    assert(codeOk == 0, outOk)
    assert(!outOk.contains("drift_unbounded_categorical"), outOk)
  }

  test("knn geometry preflight: a brute-force-cheaper lsh/ivf declaration warns; tight geometry audits clean") {
    // round-15 directive #4: knn method=lsh/ivf declarations get the same
    // config-level cost finding as dedup_near — closed-form from the
    // declared geometry, no data probe. The default lsh geometry (16
    // tables x 4 planes) re-ranks ~100% of a brute-force scan's cosine
    // work per query, so it MUST warn; 12 planes (16/4096 of the corpus)
    // must not. Same pair for a declared ivf probe fraction.
    def spec(body: String, planAudit: String = "") =
      s"""{"id":"knn-geom","processingMode":"SIMPLE_STREAM",
         |"sourceTopic":{"name":"embeddings","keyClass":"java.lang.Long"},
         |$planAudit
         |"transform":[{"op":"knn","column":"embedding","idColumn":"vec_id",
         |  "k":5,"queryPath":"<dataDir>/embeddings.parquet",
         |  "queryFilter":"vec_id < 3",$body}],
         |"outputTopic":{"enabled":true,"name":"knn-out"}}""".stripMargin
    // composition with planAudit:"fail" pinned like the other spec-level
    // findings: the declaration is refused before the index is built
    val lshBad = write("knn_lsh_wide.json",
      spec(""""method":"lsh","dim":64""", """"planAudit":"fail","""))
    val (codeLshBad, outLshBad) = runDoctor(lshBad, sf())
    assert(codeLshBad == 1, outLshBad)
    assert(outLshBad.contains("knn_brute_force_regime") &&
      outLshBad.contains("planesPerTable"), outLshBad)
    val lshOk = write("knn_lsh_tight.json",
      spec(""""method":"lsh","dim":64,"planesPerTable":12"""))
    val (codeLshOk, outLshOk) = runDoctor(lshOk, sf())
    assert(codeLshOk == 0, outLshOk)
    assert(!outLshOk.contains("knn_brute_force_regime"), outLshOk)
    val ivfBad = write("knn_ivf_wide.json",
      spec(""""method":"ivf","nCells":16,"nProbe":12"""))
    val (_, outIvfBad) = runDoctor(ivfBad, sf())
    assert(outIvfBad.contains("knn_brute_force_regime") &&
      outIvfBad.contains("nProbe"), outIvfBad)
    val ivfOk = write("knn_ivf_tight.json",
      spec(""""method":"ivf","nCells":64,"nProbe":8"""))
    val (_, outIvfOk) = runDoctor(ivfOk, sf())
    assert(!outIvfOk.contains("knn_brute_force_regime"), outIvfOk)
  }

  test("windowed-state pricing: a slide far under the window warns with both multipliers; a sane slide audits clean") {
    // round-16 directive #5: DEPLOY's live-cells formula as a build-time
    // finding — a 1-hour window sliding every 30 seconds with a 2-hour
    // watermark keeps (2h + 1h)/30s = 360 window generations live per dims
    // cell and writes each event into 120 cells; 15-minute slide (12
    // generations) is the designed regime and must not warn
    def spec(slide: String, planAudit: String = "") =
      s"""{"id":"win-state","processingMode":"SIMPLE_STREAM",
         |"sourceTopic":{"name":"events","keyClass":"java.lang.Long"},
         |$planAudit
         |"transform":[{"op":"distinct_rollup","groupColumns":["event_type"],
         |  "column":"user_id","timeColumn":"ts","every":"1 hour",
         |  "watermark":"2 hours","slide":"$slide"}],
         |"outputTopic":{"enabled":true,"name":"win-state-out"}}""".stripMargin
    val bad = write("win_state_bad.json",
      spec("30 seconds", """"planAudit":"fail","""))
    val (codeBad, outBad) = runDoctor(bad, sf())
    assert(codeBad == 1, outBad)
    assert(outBad.contains("windowed_state_amplification") &&
      outBad.contains("360") && outBad.contains("120"), outBad)
    val ok = write("win_state_ok.json", spec("15 minutes", """"planAudit":"fail","""))
    val (codeOk, outOk) = runDoctor(ok, sf())
    assert(codeOk == 0, outOk)
    assert(!outOk.contains("windowed_state_amplification"), outOk)
  }

  test("windowed-state pricing covers a sliding scalar_summary (every windowed op is priced)") {
    // the same 360-generation declaration on the scalar artifact op, which
    // the pricing used to skip: its per-cell buffers follow the same formula
    def spec(slide: String) =
      s"""{"id":"win-scalar","processingMode":"SIMPLE_STREAM",
         |"sourceTopic":{"name":"events","keyClass":"java.lang.Long"},
         |"planAudit":"fail",
         |"transform":[{"op":"scalar_summary","columns":["value"],
         |  "groupColumns":["event_type"],"timeColumn":"ts","every":"1 hour",
         |  "watermark":"2 hours","slide":"$slide"}],
         |"outputTopic":{"enabled":true,"name":"win-scalar-out"}}""".stripMargin
    val (codeBad, outBad) = runDoctor(write("win_scalar_bad.json",
      spec("30 seconds")), sf())
    assert(codeBad == 1, outBad)
    assert(outBad.contains("windowed_state_amplification") &&
      outBad.contains("windowed scalar_summary") && outBad.contains("360"), outBad)
    val (codeOk, outOk) = runDoctor(write("win_scalar_ok.json",
      spec("15 minutes")), sf())
    assert(codeOk == 0, outOk)
    assert(!outOk.contains("windowed_state_amplification"), outOk)
  }

  test("knn stored-index preflight: a stale index warns with both counts named; a fresh one audits clean") {
    // round-16 directive #1c: the staleness story — the artifact's meta
    // pins the indexed corpus row count; a frame whose count diverged
    // draws knn_stale_index (and planAudit:"fail" refuses the build)
    // ivf, not quantized: the quantized candidate stage's not-equal join is
    // the canonical nested_loop_join plan-audit fixture, and this test
    // needs planAudit:"fail" to refuse on the STALENESS finding alone
    val e = spark.read.parquet(s"${sf()}/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
    val dir = tempDirPath("graft_doctor_knn_index").toString
    graft.operators.Similarity.buildIndex(e, "vec_id", "embedding",
      "ivf", s"$dir/fresh", nCells = 8, nAssign = 2)
    graft.operators.Similarity.buildIndex(e.filter(col("vec_id") < 50),
      "vec_id", "embedding", "ivf", s"$dir/stale", nCells = 8, nAssign = 2)
    def spec(idx: String, planAudit: String = "") =
      s"""{"id":"knn-stored","processingMode":"SIMPLE_STREAM",
         |"sourceTopic":{"name":"embeddings","keyClass":"java.lang.Long"},
         |$planAudit
         |"transform":[{"op":"knn","method":"ivf","column":"embedding",
         |  "idColumn":"vec_id","k":5,
         |  "queryPath":"<dataDir>/embeddings.parquet",
         |  "queryFilter":"vec_id < 3","indexPath":"$idx"}],
         |"outputTopic":{"enabled":true,"name":"knn-stored-out"}}""".stripMargin
    val stale = write("knn_stale.json",
      spec(s"$dir/stale", """"planAudit":"fail","""))
    val (codeStale, outStale) = runDoctor(stale, sf())
    assert(codeStale == 1, outStale)
    assert(outStale.contains("knn_stale_index") &&
      outStale.contains("50 corpus rows"), outStale)
    val fresh = write("knn_fresh.json", spec(s"$dir/fresh", """"planAudit":"fail","""))
    val (codeFresh, outFresh) = runDoctor(fresh, sf())
    assert(codeFresh == 0, outFresh)
    assert(!outFresh.contains("knn_stale_index"), outFresh)
  }

  test("staleness-then-append: knn_index_append on the missing rows clears the stale-index refusal") {
    // the round-17 gap closed: the staleness preflight used to detect the
    // diverged corpus while offering only a full rebuild; the append verb
    // is the cheap remedy, and this fixture walks the whole loop —
    // refused stale → append the delta → the SAME spec passes
    val e = spark.read.parquet(s"${sf()}/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
    val dir = tempDirPath("graft_doctor_knn_append").toString
    graft.operators.Similarity.buildIndex(e.filter(col("vec_id") < 50),
      "vec_id", "embedding", "ivf", s"$dir/idx", nCells = 8, nAssign = 2)
    val specJson =
      s"""{"id":"knn-stale-append","processingMode":"SIMPLE_STREAM",
         |"sourceTopic":{"name":"embeddings","keyClass":"java.lang.Long"},
         |"planAudit":"fail",
         |"transform":[{"op":"knn","method":"ivf","column":"embedding",
         |  "idColumn":"vec_id","k":5,
         |  "queryPath":"<dataDir>/embeddings.parquet",
         |  "queryFilter":"vec_id < 3","indexPath":"$dir/idx"}],
         |"outputTopic":{"enabled":true,"name":"knn-stale-append-out"}}""".stripMargin
    val f = write("knn_stale_append.json", specJson)
    val (codeStale, outStale) = runDoctor(f, sf())
    assert(codeStale == 1 && outStale.contains("knn_stale_index") &&
      outStale.contains("knn_index_append"), outStale)
    graft.operators.Similarity.appendIndex(e.filter(col("vec_id") >= 50),
      "vec_id", "embedding", s"$dir/idx")
    val (codeAfter, outAfter) = runDoctor(f, sf())
    assert(codeAfter == 0, outAfter)
    assert(!outAfter.contains("knn_stale_index"), outAfter)
  }

  test("fragmented-then-compact: 8 live posting generations draw knn_fragmented_index; knn_index_compact clears the refusal") {
    // the compaction advisory closes the append lifecycle the way the
    // append verb closed staleness: the meta's generation fence prices
    // fragmentation closed-form (liveGens = generation − base_gen + 1, no
    // data probe), the finding names knn_index_compact, and running it
    // folds the generations and clears the refusal — results unchanged
    val e = spark.read.parquet(s"${sf()}/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
    val hi = e.agg(org.apache.spark.sql.functions.max(col("vec_id")))
      .head.getLong(0) + 1L
    val step = math.max(1L, hi / 8L)
    val dir = tempDirPath("graft_doctor_knn_compact").toString
    graft.operators.Similarity.buildIndex(e.filter(col("vec_id") < step),
      "vec_id", "embedding", "ivf", s"$dir/idx", nCells = 8, nAssign = 2)
    (1 until 8).foreach { i =>
      val lo = i * step
      val hiB = if (i == 7) hi else (i + 1) * step
      graft.operators.Similarity.appendIndex(
        e.filter(col("vec_id") >= lo && col("vec_id") < hiB),
        "vec_id", "embedding", s"$dir/idx")
    }
    val specJson =
      s"""{"id":"knn-fragmented","processingMode":"SIMPLE_STREAM",
         |"sourceTopic":{"name":"embeddings","keyClass":"java.lang.Long"},
         |"planAudit":"fail",
         |"transform":[{"op":"knn","method":"ivf","column":"embedding",
         |  "idColumn":"vec_id","k":5,
         |  "queryPath":"<dataDir>/embeddings.parquet",
         |  "queryFilter":"vec_id < 3","indexPath":"$dir/idx"}],
         |"outputTopic":{"enabled":true,"name":"knn-fragmented-out"}}""".stripMargin
    val f = write("knn_fragmented.json", specJson)
    val (codeFrag, outFrag) = runDoctor(f, sf())
    assert(codeFrag == 1 && outFrag.contains("knn_fragmented_index") &&
      outFrag.contains("knn_index_compact") && outFrag.contains("8 committed"),
      outFrag)
    // staleness must NOT also fire — the appends covered the whole corpus
    assert(!outFrag.contains("knn_stale_index"), outFrag)
    graft.operators.Similarity.compactIndex(spark, s"$dir/idx")
    val (codeAfter, outAfter) = runDoctor(f, sf())
    assert(codeAfter == 0, outAfter)
    assert(!outAfter.contains("knn_fragmented_index"), outAfter)
  }

  test("snapshot_drift preflight probe: a dual-declared column emits BOTH findings; the flag skips the probe") {
    // round-15 ADVICE pair: (1) a column declared under BOTH
    // categoricalColumns and embeddingGroupBy used to be probed once but
    // warned once — the categorical finding shadowed the stratum guidance;
    // both must surface, each naming its own remediation, and both must
    // say the probe prices only the compare side. (2) the probe is the one
    // build-time check that runs a Spark job, so plan-only orchestration
    // can switch it off (spark.graft.preflightProbe=false) and the build
    // must then carry zero findings for the same trap declaration.
    assume(Files.isDirectory(java.nio.file.Paths.get("testdata_sf1")),
      "sf1 rung not generated on this machine")
    val res = new graft.sources.ParquetSourceResolver(
      "testdata_sf1", graft.config.TestdataCatalog)
    val dual = graft.config.PipelineSpec.fromJson(
      """{"id":"dual-decl","processingMode":"SIMPLE_STREAM",
        |"sourceTopic":{"name":"embeddings","keyClass":"java.lang.Long"},
        |"transform":[{"op":"snapshot_drift",
        |  "comparePath":"<dataDir>/embeddings.parquet",
        |  "categoricalColumns":["vec_id"],
        |  "embeddingColumns":["embedding"],
        |  "embeddingGroupBy":"vec_id"}],
        |"outputTopic":{"enabled":true,"name":"dual-out"}}""".stripMargin)
    val (_, findings) = graft.pipeline.Interpreter.buildAudited(spark, dual, res)
    val details = findings.map(_.detail)
    assert(findings.size == 2 &&
      findings.forall(_.rule == "drift_unbounded_categorical"),
      s"expected both findings, got: $details")
    assert(details.exists(_.contains("categoricalColumns entry 'vec_id'")) &&
      details.exists(_.contains("embeddingGroupBy column 'vec_id'")),
      s"one of the dual findings lost its remediation: $details")
    assert(details.forall(_.contains("only the compare side is priced")),
      s"findings must disclose the one-sided probe: $details")
    spark.conf.set("spark.graft.preflightProbe", "false")
    try {
      val (_, none) = graft.pipeline.Interpreter.buildAudited(spark, dual, res)
      assert(none.isEmpty,
        s"preflightProbe=false must skip the probe, got: ${none.map(_.detail)}")
    } finally spark.conf.unset("spark.graft.preflightProbe")
  }

  test("Doctor --run-gates: a violated drift gate fails preflight with the violation named; clean gates pass") {
    def spec(bounds: String) =
      s"""{"id":"gate-check","processingMode":"SIMPLE_STREAM",
         |"sourceTopic":{"name":"events","keyClass":"java.lang.Long"},
         |"transform":[{"op":"snapshot_drift",
         |  "comparePath":"<dataDir>/events.parquet",
         |  "compareFilter":"CAST(ts AS TIMESTAMP) < TIMESTAMP '2024-01-16'",
         |  "numericColumns":["value"],"categoricalColumns":["event_type"],
         |  $bounds}],
         |"outputTopic":{"enabled":true,"name":"gate-out"}}""".stripMargin
    // without --run-gates the gated spec is build-only (no data touched)
    val violating = write("gate_bad.json",
      spec(""""maxAbsDelta":{"row_count":0}"""))
    val (codeBuildOnly, _) = runDoctor(violating, sf())
    assert(codeBuildOnly == 0, "gates must not run unless opted in")
    val (codeBad, outBad) = runDoctor(violating, sf(), "--run-gates")
    assert(codeBad == 1, outBad)
    assert(outBad.contains("drift gate violated") &&
      outBad.contains("value/row_count"), outBad)
    val passing = write("gate_ok.json",
      spec(""""maxAbsDelta":{"freq_l1":0.5},"maxRelDelta":{"row_count":1.2}"""))
    val (codeOk, outOk) = runDoctor(passing, sf(), "--run-gates")
    assert(codeOk == 0, outOk)
    assert(outOk.contains("drift gates: clean"), outOk)
  }

  test("Doctor: a broken config reports the validation error, not a stack trace") {
    val p = write("bad.yaml",
      """id: doc-bad
        |processingMode: JOIN_CHAIN
        |sourceTopic: {name: orders}
        |""".stripMargin)
    val (code, out) = runDoctor(p, sf())
    assert(code == 1, out)
    assert(out.contains("CONFIG INVALID") && out.contains("JOIN_CHAIN"), out)
  }
}
