package graft

import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite

import graft.gen.CorpusGen
import graft.kg.{DocKernel, GraphBuilder}
import graft.nlp.{Lexicon, RuleNlp}
import graft.text.{HtmlSegmenter, TextClean}

/** ScalaCheck properties (SURVEY.md §5 t3). */
class PropertySpec extends AnyFunSuite {

  private def forAll[A](g: Gen[A])(f: A => Boolean): Unit = {
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(100),
      Prop.forAll(g)(f))
    assert(res.passed, res.status.toString)
  }

  test("TextClean.clean is idempotent") {
    forAll(Gen.asciiPrintableStr) { s =>
      val once = TextClean.clean(s)
      TextClean.clean(once) == once
    }
  }

  test("dedupBySubstring is idempotent and never grows") {
    forAll(Gen.listOf(Gen.oneOf("a", "ab", "abc", "b c", "xyz", "x"))) { l =>
      val v = l.toVector
      val once = GraphBuilder.dedupBySubstring(v)
      GraphBuilder.dedupBySubstring(once) == once && once.size <= v.distinct.size
    }
  }

  test("lemma is a fixpoint after one application for vocabulary words") {
    (Lexicon.verbLemmas ++ Lexicon.stopWords).foreach { w =>
      assert(Lexicon.lemma(Lexicon.lemma(w)) == Lexicon.lemma(w))
    }
  }

  test("tokenize round-trips token text") {
    forAll(Gen.listOf(Gen.oneOf("we", "collect", "your", "email", "."))) { words =>
      val text = words.mkString(" ")
      val (toks, _) = RuleNlp.tokenize(text)
      toks.mkString("") == text.replace(" ", "")
    }
  }

  test("SUBSUM subgraph of any generated doc is a DAG") {
    forAll(Gen.choose(0, 400)) { i =>
      val gp = CorpusGen.genPage(i, 7L)
      gp.page.lang != "en" || {
        val segs = HtmlSegmenter.segment(gp.page.url, new String(gp.page.html, "UTF-8"))
        val sub = DocKernel.process(gp.page.url, segs)
          .filter(_.pred == "SUBSUM").map(t => t.subj -> t.obj)
        val adj = sub.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
        def reach(a: String, b: String, seen: Set[String]): Boolean =
          a == b || adj.getOrElse(a, Nil).exists(n => !seen(n) && reach(n, b, seen + n))
        !sub.exists { case (u, v) => reach(v, u, Set(v)) }
      }
    }
  }

  test("pattern DSL compiler: required chains, capture slots, token_map, WE and unknown names") {
    import graft.kg.Patterns.{compile, ImplicitWeArg, TokenMatcher}
    val Vector(share, collect) = compile(Seq(
      ("*VERB_SHARE_WITH:root|ccomp",
        Seq(":nsubj@E1", "!:dobj@DT", "with|to:prep,:pobj@E2"),
        Seq("SHARE", "E1", "DT", "E2|WE")),
      ("drink|soak",
        Seq("!in:prep,:pobj@DT", ":nsubj@E1", "of:prep,:pobj@DT"),
        Seq("COLLECT", "WE", "DT", "NOPE"))))
    // `*NAME` expands the token_map lexicon; no dep spec matches any dep
    assert(share.root == TokenMatcher(Lexicon.tokenMap("VERB_SHARE_WITH"), Set("root", "ccomp")))
    assert(share.root.lemmas.nonEmpty)
    assert(collect.root == TokenMatcher(Set("drink", "soak"), Set.empty))
    assert((share.id, collect.id) == ((0, 1)))
    // `!` marks a chain required
    assert(share.required == Set(1) && share.requiredMask == 2L)
    assert(collect.required == Set(0) && collect.requiredMask == 1L)
    // `@name` captures take slots in first-seen order; a repeated name
    // reuses its slot; an item without a capture gets -1
    assert(share.saveNames == Vector("E1", "DT", "E2"))
    assert(share.chains(0) == Vector(TokenMatcher(Set.empty, Set("nsubj")) -> 0))
    assert(share.chains(2) == Vector(TokenMatcher(Set("with", "to"), Set("prep")) -> -1,
      TokenMatcher(Set.empty, Set("pobj")) -> 2))
    assert(collect.saveNames == Vector("DT", "E1"))
    assert(collect.chains.map(_.map(_._2)) == Vector(Vector(-1, 0), Vector(1), Vector(-1, 0)))
    // transform args: `|` fallbacks, `WE` the implicit first party, an
    // unknown name -1
    assert(share.action == "SHARE" && collect.action == "COLLECT")
    assert(share.argSlots.map(_.toVector) == Vector(Vector(0), Vector(1), Vector(2, ImplicitWeArg)))
    assert(collect.argSlots.map(_.toVector) == Vector(Vector(ImplicitWeArg), Vector(0), Vector(-1)))
  }

  test("NOT_ and positive predicates partition the edge-type universe (SO5)") {
    import graft.kg.Model._
    assert(NegativeEdgeTypes.forall(_.startsWith("NOT_")))
    assert(PositiveEdgeTypes.intersect(NegativeEdgeTypes).isEmpty)
    assert(CollectEdgeTypes == PositiveEdgeTypes ++ NegativeEdgeTypes)
  }

  test("kernel never crashes on garbage HTML (fuzz)") {
    val frag = Gen.oneOf("<p>", "</p>", "<li>", "<ul>", "<h2>", "we", "collect",
      "email", "<", ">", "&amp;", "你好", "<script>x</script>", ":", ".", "<!--",
      "<div", "randomword", "\u0000", "é",
      // new token paths: contractions, bullets, partitives, abbreviations
      "don't", "won't", "n't", "'", "e.g.", "i.e.", "e.g", "* item", "1.",
      "a.", "some", "of", "such", "as", "for", "example", "-",
      // round-3-close mechanisms: clefts, exceptives, gerund preps,
      // negative inversion, additive PPs, Q-A fragments
      "It", "is", "that", "aside", "from", "except", "unless", "without",
      "At", "no", "time", "in", "addition", "to", "?", "before",
      "collecting", "including", "but", "not", "limited", "which")
    forAll(Gen.listOf(frag)) { parts =>
      val html = parts.mkString(" ")
      val segs = HtmlSegmenter.segment("fuzz", html)
      DocKernel.process("fuzz", segs) // must not throw
      true
    }
  }

  test("kernel is deterministic: same page → same triples") {
    (0 until 20).foreach { i =>
      val gp = CorpusGen.genPage(i, 42L)
      val segs = HtmlSegmenter.segment(gp.page.url, new String(gp.page.html, "UTF-8"))
      val a = DocKernel.process(gp.page.url, segs)
      val b = DocKernel.process(gp.page.url, segs)
      assert(a == b)
    }
  }
}
