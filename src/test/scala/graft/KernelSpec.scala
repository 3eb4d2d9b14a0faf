package graft

import graft.extract.Kernel
import graft.schema.{Doc, Span}
import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.{Gen, Prop, Test => SCTest}

/** Pure-kernel unit tests — no Spark. Analog of the reference's
  * per-operator suites (tests/transformer_cache.rs etc., SURVEY.md §5).
  */
class KernelSpec extends AnyFunSuite {

  private def check(p: Prop): Unit = {
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(200), p)
    assert(res.passed, res.status.toString)
  }

  test("normalizeText: CRLF -> LF, EOS sentinel strip, trim (inference.rs:178-183 semantics)") {
    assert(Kernel.normalizeText("a\r\nb") == "a\nb")
    assert(Kernel.normalizeText(s"  hi${Kernel.EosSentinel}  ") == "hi")
    assert(Kernel.normalizeText(s"x\r\n${Kernel.EosSentinel}\r\n") == "x")
    assert(Kernel.normalizeText("") == "")
  }

  test("boilerplate predicate: only markup spans, by link-density or keyword") {
    assert(Kernel.isBoilerplate("markup", "[home] [about] nav"))
    assert(Kernel.isBoilerplate("markup", "footer copyright 2024"))
    assert(Kernel.isBoilerplate("markup", "Subscribe now!"))
    assert(!Kernel.isBoilerplate("text", "[home] [about]")) // text never boiler
    assert(!Kernel.isBoilerplate("markup", "| a |\n| b |"))
  }

  test("linkDensity") {
    // half the tokens are links is boilerplate, a quarter is not
    assert(Kernel.isBoilerplate("markup", "[a] [b] c d"))
    assert(!Kernel.isBoilerplate("markup", "[a] b c d"))
    assert(!Kernel.isBoilerplate("markup", ""))
  }

  test("classify: figure beats everything; table; heading needs '# '") {
    assert(Kernel.classify(Span("media", "", "m", 0), "") == Some("figure"))
    assert(Kernel.classify(Span("text", "x", "m", 0), "x") == Some("figure"))
    assert(Kernel.classify(Span("markup", "", "", 0), "| a |\n| b |") == Some("table"))
    assert(Kernel.classify(Span("text", "", "", 0), "# H") == Some("heading"))
    assert(Kernel.classify(Span("text", "", "", 0), "###### deep") == Some("heading"))
    assert(Kernel.classify(Span("text", "", "", 0), "####### too deep") == Some("paragraph"))
    assert(Kernel.classify(Span("text", "", "", 0), "#nospace") == Some("paragraph"))
    assert(Kernel.classify(Span("text", "", "", 0), "") == None)
    assert(Kernel.classify(Span("markup", "", "", 0), "not a table") == None)
  }

  test("extract: reading order by offset, dense 0..n-1, stable tie-break") {
    val doc = Doc("d", Seq(
      Span("text", "b", "", 2), Span("text", "a", "", 1),
      Span("text", "tie2", "", 5), Span("text", "tie1", "", 5)))
    val e = Kernel.extract(doc)
    assert(e.spans.map(_.text) == Seq("a", "b", "tie2", "tie1"))
    assert(e.spans.map(_.order) == Seq(0, 1, 2, 3))
  }

  test("checksum is stable and order-sensitive") {
    val d = Kernel.extract(Doc("d", Seq(Span("text", "a", "", 1), Span("text", "b", "", 2))))
    val d2 = Kernel.extract(Doc("d", Seq(Span("text", "b", "", 1), Span("text", "a", "", 2))))
    assert(Kernel.checksum(d) == Kernel.checksum(d))
    assert(Kernel.checksum(d) != Kernel.checksum(d2))
  }

  // ScalaCheck properties (an improvement over the reference, SURVEY.md §5)
  private val genSpan: Gen[Span] = for {
    kind <- Gen.oneOf("text", "markup", "media")
    text <- Gen.oneOf("# Head", "plain body words", "[l1] [l2]", "| a |", "", "x\r\ny")
    ref  <- if (kind == "media") Gen.const("img://p/1") else Gen.const("")
    off  <- Gen.choose(0, 1000)
  } yield Span(kind, text, ref, off)

  private val genDoc: Gen[Doc] = for {
    id    <- Gen.identifier.map(_.take(8))
    spans <- Gen.listOfN(12, genSpan)
  } yield Doc(id, spans)

  test("property: extraction is rotation-invariant when offsets are unique") {
    check(Prop.forAll(genDoc, Gen.choose(0, 11)) { (doc, k) =>
      val uniq = doc.spans.zipWithIndex.map { case (s, i) => s.copy(offset = s.offset * 16 + i) }
      val d = doc.copy(spans = uniq)
      val rot = d.copy(spans = d.spans.drop(k) ++ d.spans.take(k))
      Kernel.extract(d).spans == Kernel.extract(rot).spans
    })
  }

  test("property: output order always dense 0..n-1; kinds in the contract set") {
    val kinds = Set("heading", "paragraph", "table", "figure")
    check(Prop.forAll(genDoc) { doc =>
      val e = Kernel.extract(doc)
      e.spans.map(_.order) == e.spans.indices.toSeq &&
        e.spans.forall(s => kinds.contains(s.kind))
    })
  }

  test("property: media_refs are conserved (every input media ref appears exactly once)") {
    check(Prop.forAll(genDoc) { doc =>
      val in = doc.spans.filter(s => s.media_ref.nonEmpty).map(_.media_ref)
      val out = Kernel.extract(doc).spans.filter(_.kind == "figure").map(_.media_ref)
      in.sorted == out.sorted
    })
  }
}
