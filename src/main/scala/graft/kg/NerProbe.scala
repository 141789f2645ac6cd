package graft.kg

import java.nio.charset.StandardCharsets.UTF_8

import graft.nlp.SemTrain

/** Dev tool: per-chunk trace of the mention-NER chain (span score →
  * category argmax → party scores) over the open holdout batch, plus a
  * closed-batch false-positive audit of the full kernel∪scorer∪NER union.
  * `sbt "runMain graft.kg.NerProbe"` */
object NerProbe {
  def main(args: Array[String]): Unit = {
    val models = MentionNer.fromResource
    val sem = SemanticScorer.fromResource
    val hSpan = new Array[Float](models.span.hidden)
    val hCat = new Array[Float](models.cat.hidden)

    Holdout.pages21.foreach { pg =>
      val segs = graft.text.HtmlSegmenter.segment(pg.url, new String(pg.html, UTF_8))
      val docs = DocKernel.buildDocs(segs.sortBy(_.segId))
      docs.foreach { d =>
        d.parses.foreach { p =>
          p.chunks.foreach { c =>
            val head = p.tokens(c.head)
            if (head.ner != "DATA" && head.ner != "ACTOR" &&
              MentionNer.spanCandidate(p, c)) {
              val sScore = models.span.forwardSparse(MentionNer.spanFeatures(p, c), hSpan)
              val words = (c.start until c.end)
                .filter(i => p.tokens(i).pos != "DET" && p.tokens(i).pos != "PUNCT")
                .map(i => p.tokens(i).text)
              val probs = models.cat.forwardSparseAll(MentionNer.catFeatures(words), hCat)
              val best = probs.indices.maxBy(probs)
              val surface = words.mkString(" ")
              println(f"PROBE ${pg.url.split('/').last}%-6s span=$sScore%.3f " +
                f"cat=${models.cat.labels(best)}%-28s p=${probs(best)}%.3f  '$surface'")
            }
          }
        }
      }
    }
    // party-gate trace for NER-accepted candidates
    Holdout.pages21.foreach { pg =>
      val cands = SemanticScorer.candidates(pg.url,
        new String(pg.html, UTF_8), Some(models))
      cands.filter(_.viaNer).foreach { cand =>
        val s = SemanticScorer.score(sem, cand)
        println(f"PARTY ${pg.url.split('/').last}%-6s ${cand.party}%-9s " +
          f"${cand.datum}%-28s score=$s%.3f")
      }
    }
    // closed-batch audit: does the NER union add false positives anywhere?
    Seq(("b1-20", SemTrain.goldDocs)).foreach { case (tag, gold) =>
      val pages = gold.map(_._1)
      val want = gold.flatMap(_._2).toSet
      val kernel = Holdout.predict(pages).toSet
      val withNer = kernel ++ SemReport.scorerTuples(pages, Some(models))
      val fps = (withNer -- want).toVector.sorted
      println(s"AUDIT $tag union fp=${fps.size}")
      fps.take(40).foreach(t => println(s"  FP $t"))
    }
  }
}
