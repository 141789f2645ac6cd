package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.kg.DocKernel
import graft.kg.Model.Segment
import graft.nlp.RuleNlp
import graft.text.HtmlSegmenter

/** Malformed pages must cost bounded work: context expansion keeps at most
  * `ContextHead + ContextTail` segments of an ancestor chain, so an unclosed
  * list 1,000 items deep parses like a 20-deep one. The outputs pinned here
  * are those of the unbounded expansion, which these shapes cannot tell
  * apart from the bounded one. */
class AdversarialSpec extends AnyFunSuite {

  private def triples(segs: Vector[Segment]): Set[(String, String, String)] =
    DocKernel.process("t", segs).map(t => (t.subj, t.pred, t.obj)).toSet

  /** A common CMS defect: every item left open, so each nests the next. */
  private def unclosedList(depth: Int): Vector[Segment] =
    HtmlSegmenter.segment("t", "<ul><li>We collect your email address" * depth)

  /** Per page, with a warm JIT ~0.4 s at depth 400 and ~1.2 s at depth
    * 1,000 on a 4-core x86 box; without the bound, depth 400 took ~27 s. */
  private val PageBoundMs = 5000L

  test("unclosed nested lists 400 and 1,000 deep emit one triple, each within the page bound") {
    Seq(400, 1000).foreach { depth =>
      val segs = unclosedList(depth)
      val t0 = System.nanoTime()
      val got = triples(segs)
      val ms = (System.nanoTime() - t0) / 1000000
      assert(got == Set(("we", "COLLECT", "email address")), s"depth $depth")
      assert(ms <= PageBoundMs, s"depth $depth took $ms ms")
    }
  }

  test("a 40-deep list under its intro keeps the intro's subject (root end of the chain)") {
    val items = (0 until 40).map { i =>
      "<ul><li>" + (if (i % 2 == 0) "email address" else "phone number")
    }.mkString
    val segs = HtmlSegmenter.segment("t",
      "<h1>Privacy</h1><p>We collect the following:</p>" + items)
    assert(triples(segs) == Set(
      ("we", "COLLECT", "email address"),
      ("we", "COLLECT", "phone number")))
  }

  test("40-deep nested headings over one statement keep its triple") {
    // HTML has six heading levels, so the chain is built as segments
    val headings = (0 until 40).map(i =>
      Segment("t", i, "HEADING", i - 1, s"Section ${i + 1} privacy")).toVector
    val segs = headings :+ Segment("t", 40, "TEXT", 39, "We collect your email address.")
    assert(triples(segs) == Set(("we", "COLLECT", "email address")))
  }

  test("context docs of a 1,000-deep list stay under the bound's token ceiling") {
    val segs = unclosedList(1000)
    val maxSegToks = segs.map(s => RuleNlp.tokenize(s.text)._1.length).max
    // every kept segment adds its tokens plus at most two join tokens
    val ceiling = (DocKernel.ContextHead + DocKernel.ContextTail) * (maxSegToks + 2)
    val longest = DocKernel.buildDocs(segs).map(_.toks.length).max
    assert(longest <= ceiling, s"$longest tokens > ceiling $ceiling")
  }
}
