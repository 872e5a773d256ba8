package graft

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

import graft.config.{PipelineSpec, SpecSurface, TransformOp}

/** Drift enforcement between the config surface, its user-facing reference
  * doc, and the spec fuzzer (round-13 directive #8): `SpecSurface` is the
  * single source of truth; this suite fails when
  *   - a TransformOp case class is not registered for decoding,
  *   - a transform op accepts a field of another op, or an omitted
  *     required field escapes as anything but the [id]-prefixed error,
  *   - `docs/SPEC_REFERENCE.md` documents a different op set than the code,
  *   - an op's field is absent from that op's section of the doc, or any
  *     other config field (reflectively enumerated) from the doc,
  *   - SpecFuzzProperties carries no valid-spec generator for a listed op.
  */
class SpecSurfaceSpec extends AnyFunSuite {

  private lazy val doc: String =
    Files.readString(Paths.get("docs/SPEC_REFERENCE.md"))

  private def spec(ops: String): String =
    s"""{"id":"spec","processingMode":"SIMPLE_STREAM",
       |"sourceTopic":{"name":"documents"},"transform":[$ops]}""".stripMargin

  private def refusal(json: String): String =
    intercept[IllegalArgumentException](PipelineSpec.fromJson(json)).getMessage

  test("every TransformOp case class is registered; unknown ops name the full list") {
    import scala.reflect.runtime.{universe => ru}
    val mirror = ru.runtimeMirror(getClass.getClassLoader)
    def leaves(c: ru.ClassSymbol): Set[ru.ClassSymbol] = {
      val subs = c.knownDirectSubclasses.map(_.asClass)
      if (subs.isEmpty) Set(c) else subs.flatMap(leaves)
    }
    val classes = leaves(mirror.classSymbol(classOf[TransformOp]))
      .map(c => mirror.runtimeClass(c): Class[_])
    assert(classes.size == 33 &&
      classes == TransformOp.registered.map(_._2: Class[_]).toSet)
    val unknown = refusal(spec("""{"op":"no_such_op"}"""))
    assert(unknown.startsWith("[spec] unknown transform op 'no_such_op'"))
    SpecSurface.transformOps.foreach(op => assert(unknown.contains(op),
      s"unknown-op error no longer lists '$op'"))
  }

  test("each op refuses a field that belongs only to other ops, naming both") {
    val fields = SpecSurface.opFields
    val foreign = fields.flatMap(_._2).distinct
    fields.foreach { case (op, own) =>
      val f = foreign.filterNot(own.contains).head
      val msg = refusal(spec(s"""{"op":"$op","$f":"x"}"""))
      assert(msg.startsWith(s"[spec] $op takes no field '$f'"), msg)
    }
    // the same strictness through YAML; fields of the spec itself stay lenient
    val yaml = intercept[IllegalArgumentException](PipelineSpec.fromYaml(
      """id: y
        |processingMode: SIMPLE_STREAM
        |someFutureField: 1
        |sourceTopic: {name: documents}
        |transform:
        |  - {op: filter, expression: "doc_id > 0", shingleSize: 3}
        |""".stripMargin)).getMessage
    assert(yaml.startsWith("[y] filter takes no field 'shingleSize'"), yaml)
  }

  test("an omitted required field is the [id]-prefixed config error, never an NPE") {
    SpecSurface.transformOps.foreach { op =>
      try PipelineSpec.fromJson(spec(s"""{"op":"$op"}"""))
      catch {
        case e: IllegalArgumentException =>
          assert(e.getMessage.contains(s"[spec] $op"), e.getMessage)
      }
    }
  }

  test("SPEC_REFERENCE.md op headings match SpecSurface.transformOps exactly, in order") {
    val headings = "(?m)^### ([a-z][a-z0-9_]*)$".r
      .findAllMatchIn(doc).map(_.group(1)).toSeq
    assert(headings == SpecSurface.transformOps,
      s"doc op headings drifted:\n  doc: $headings\n  code: ${SpecSurface.transformOps}")
  }

  test("every config field of every spec case class appears in SPEC_REFERENCE.md") {
    val missing = SpecSurface.fields.toSeq.sortBy(_._1).flatMap {
      case (cls, fieldNames) =>
        fieldNames.filterNot(f => doc.contains(s"`$f`")).map(f => s"$cls.$f")
    }
    assert(missing.isEmpty,
      s"undocumented config fields (add to docs/SPEC_REFERENCE.md): " +
        missing.mkString(", "))
  }

  test("every op's fields appear under that op's heading in SPEC_REFERENCE.md") {
    val missing = SpecSurface.opFields.flatMap { case (op, fields) =>
      val from = doc.indexOf(s"\n### $op\n")
      assert(from >= 0, s"no '### $op' heading")
      val next = "\n##".r.findFirstMatchIn(doc.substring(from + 1))
      val section = next.fold(doc.substring(from))(m => doc.substring(from, from + 1 + m.start))
      fields.filterNot(f => section.contains(s"`$f`")).map(f => s"$op.$f")
    }
    assert(missing.isEmpty,
      s"op fields undocumented in their op's section: ${missing.mkString(", ")}")
  }

  test("every spec-level audit finding is documented") {
    // the config-level preflight findings (lsh_low_threshold_regime,
    // drift_unbounded_categorical, …) are product surface: a user greps
    // the reference doc for the name Doctor printed — a finding that can
    // fire but isn't documented must fail the build (round-14 directive #8)
    graft.pipeline.Interpreter.specAuditFindings.foreach(f =>
      assert(doc.contains(s"`$f`"),
        s"spec audit finding '$f' missing from SPEC_REFERENCE.md"))
  }

  test("every knn method is documented") {
    SpecSurface.knnMethods.foreach(m => assert(doc.contains(s"`$m`"),
      s"knn method '$m' missing from SPEC_REFERENCE.md"))
  }

  test("every graft config key read in src/main is documented in DEPLOY.md or SPEC_REFERENCE.md, and every documented key is read") {
    import scala.jdk.CollectionConverters._
    // a key is spark.graft.<name> or graft.<section>.<name> whose section is
    // not one of the engine's packages (spark.graft.preflightProbe is a
    // key, graft.sinks.Commit is code)
    val packages = Files.list(Paths.get("src/main/scala/graft")).iterator().asScala
      .filter(Files.isDirectory(_)).map(_.getFileName.toString).toSet
    val key = "spark\\.graft\\.[A-Za-z0-9_.]*[A-Za-z0-9]|graft\\.[a-z][A-Za-z0-9]*\\.[A-Za-z0-9_.]*[A-Za-z0-9]"
    def keys(text: String, pattern: String): Set[String] =
      pattern.r.findAllMatchIn(text).map(m => m.group(m.groupCount))
        .filter(k => k.startsWith("spark.") || !packages(k.split('.')(1))).toSet
    val read = scala.util.Using.resource(Files.walk(Paths.get("src/main/scala"))) {
      _.iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq
    }.flatMap(f => keys(Files.readString(f), "\"(" + key + ")\"")).toSet
    val documented = Seq("DEPLOY.md", "docs/SPEC_REFERENCE.md")
      .flatMap(d => keys(Files.readString(Paths.get(d)), key)).toSet
    assert(read.nonEmpty && (read -- documented).isEmpty,
      s"config keys read but undocumented: ${(read -- documented).mkString(", ")}")
    assert((documented -- read).isEmpty,
      s"config keys documented but never read: ${(documented -- read).mkString(", ")}")
  }

  test("every engine parquet read in src/main goes through graft.sinks.Reads") {
    import scala.jdk.CollectionConverters._
    // the helper itself, and the fixture readers of the query catalogue,
    // the accuracy contracts and the bench mains: they read the provisioned
    // test tables, not engine state
    val exempt = Set("Reads.scala", "Queries.scala", "Accuracy.scala",
      "Bench.scala", "StreamBench.scala", "ScalingBench.scala")
    // a batch read chain from `.read` (not `.readStream`) to its terminal
    // format call, across lines
    val chain = ("\\.read\\b((?:(?!\\.read\\b)[\\s\\S])*?)" +
      "\\.(parquet|json|csv|orc|text|load|table)\\(").r
    val files = scala.util.Using.resource(Files.walk(Paths.get("src/main/scala"))) {
      _.iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq
    }
    val adHoc = files.filterNot(f => exempt(f.getFileName.toString)).flatMap { f =>
      val text = Files.readString(f)
      chain.findAllMatchIn(text).filter(m => m.group(2) == "parquet" ||
          (m.group(2) == "load" && m.group(1).contains("\"parquet\"")))
        .map(m => s"$f:${text.substring(0, m.start).count(_ == '\n') + 1}")
    }
    assert(files.exists(_.getFileName.toString == "Reads.scala") && adHoc.isEmpty,
      s"parquet reads outside graft.sinks.Reads (pass the schema it knows, or " +
        s"go through Reads.parquet): ${adHoc.mkString(", ")}")
  }

  test("SpecFuzzProperties carries a valid-spec generator property per op") {
    val names = SpecFuzzProperties.properties.map(_._1).toSeq
    val uncovered = SpecSurface.transformOps.filterNot(op =>
      names.exists(n => n.startsWith("specfuzz.valid") && n.contains(op)))
    assert(uncovered.isEmpty,
      s"ops with no 'valid …' fuzz generator: ${uncovered.mkString(", ")} " +
        s"(property names: ${names.mkString("; ")})")
  }
}
