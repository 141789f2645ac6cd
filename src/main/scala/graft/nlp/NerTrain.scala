package graft.nlp

import java.nio.charset.StandardCharsets.UTF_8

import graft.kg.MentionNer

/** Dev tool: trains the committed mention-NER fixtures
  * (`src/main/resources/graft/ner_span.bin` + `ner_cat.bin`).
  *
  * Training data is in-repo only, mirroring how the reference synthesizes
  * its NER training set from its own ontology templates
  * (models/named-entity-recognition/gen_ner_data.py:85-143):
  *   - SPAN head: every NP chunk of the CLOSED holdout batches (1-20) and
  *     the synthetic corpus, labeled positive iff the dictionary marked it
  *     a DATA mention. The standing OPEN batch (21) is NEVER read here —
  *     its row is zero-shot.
  *   - CATEGORY head: the phrase_map dictionary itself (surface →
  *     canonical datatype), so char-ngram kinship carries unseen surfaces
  *     onto their nearest category.
  *
  * Deterministic (seeded): re-running reproduces the committed bytes.
  * Prints train metrics plus a leave-every-7th-surface-out generalization
  * estimate for the category head (diagnostic only — the committed model
  * trains on the full dictionary).
  * `sbt "runMain graft.nlp.NerTrain"` */
object NerTrain {

  def spanRows(): Vector[(Array[(Int, Float)], Array[Float])] = {
    val pages = SemTrain.goldDocs.map(_._1) ++
      graft.gen.CorpusGen.corpus(150, 7L).filter(_.page.lang == "en").map(_.page)
    val indBase = MentionNer.HeadCharDim + MentionNer.WordDim
    pages.flatMap { pg =>
      val segs = graft.text.HtmlSegmenter.segment(pg.url, new String(pg.html, UTF_8))
      val docs = graft.kg.DocKernel.buildDocs(segs.sortBy(_.segId))
      docs.flatMap(_.parses.flatMap { p =>
        p.chunks.collect {
          case c if MentionNer.spanCandidate(p, c) =>
            val y = if (p.tokens(c.head).ner == "DATA") 1f else 0f
            (MentionNer.spanFeatures(p, c), Array(y))
        }
      })
    }.toVector.flatMap { case row @ (x, y) =>
      // ablated twin: the same example with its lexical (char-ngram + word
      // hash) features stripped, structure only — at inference a gap-datum
      // head's ngrams are exactly the features that are ABSENT, so the
      // model must also separate the classes from structure alone
      // ("We log your X after every sync" marks X a datum for ANY X)
      val structOnly = x.filter(_._1 >= indBase)
      if (structOnly.nonEmpty) Vector(row, (structOnly, y)) else Vector(row)
    }
  }

  def catRows(): (Vector[(Array[(Int, Float)], Array[Float])], Vector[String]) = {
    val table = graft.nlp.PhraseMapYaml.loaded.dataCanonical.toVector.sorted
    val labels = table.map(_._2).distinct.sorted
    val labelIx = labels.zipWithIndex.toMap
    val rows = table.map { case (surface, canon) =>
      val y = new Array[Float](labels.size)
      y(labelIx(canon)) = 1f
      (MentionNer.catFeatures(surface.split(' ').toSeq), y)
    }
    (rows, labels)
  }

  def main(args: Array[String]): Unit = {
    // ---- span head
    val span = spanRows()
    val pos = span.count(_._2(0) == 1f)
    println(s"NERTRAIN span rows=${span.size} positives=$pos")
    val spanModel = MlpModel.train(span, MentionNer.SpanDim, 16, Vector("datum"),
      epochs = 60, lr0 = 0.05f, decay = 0.997f, seed = 42L)
    locally {
      val h = new Array[Float](spanModel.hidden)
      var tp = 0; var fp = 0; var fn = 0
      span.foreach { case (x, y) =>
        val p = spanModel.forwardSparse(x, h) >= MentionNer.SpanThreshold
        if (p && y(0) == 1f) tp += 1 else if (p) fp += 1 else if (y(0) == 1f) fn += 1
      }
      println(f"NERTRAIN span train P=${tp.toDouble / math.max(1, tp + fp)}%.4f " +
        f"R=${tp.toDouble / math.max(1, tp + fn)}%.4f")
    }

    // ---- category head: leave-every-7th-out generalization estimate
    val (cat, labels) = catRows()
    println(s"NERTRAIN cat rows=${cat.size} labels=${labels.size}")
    locally {
      val hold = cat.indices.filter(_ % 7 == 3).toSet
      val tr = cat.indices.filterNot(hold).map(cat).toVector
      val m = MlpModel.train(tr, MentionNer.CatDim, 32, labels, epochs = 400,
        lr0 = 0.05f, decay = 0.997f, seed = 42L)
      val h = new Array[Float](m.hidden)
      var ok = 0
      hold.foreach { i =>
        val (x, y) = cat(i)
        val p = m.forwardSparseAll(x, h)
        val best = p.indices.maxBy(p)
        if (y(best) == 1f) ok += 1
      }
      println(f"NERTRAIN cat held-out-surface top1=${ok.toDouble / math.max(1, hold.size)}%.4f (${hold.size} surfaces)")
    }
    // lr 0.05 selected by a rotating dictionary-fold grid (COVERAGE.md
    // "Category-head selection"): mean held-out top-1 0.649 vs 0.614 at
    // 0.1; hidden 32 and the 3-4-gram/2048-dim featurization beat every
    // wider/denser variant
    val catModel = MlpModel.train(cat, MentionNer.CatDim, 32, labels, epochs = 400,
      lr0 = 0.05f, decay = 0.997f, seed = 42L)
    locally {
      val h = new Array[Float](catModel.hidden)
      var ok = 0
      cat.foreach { case (x, y) =>
        val p = catModel.forwardSparseAll(x, h)
        if (y(p.indices.maxBy(p)) == 1f) ok += 1
      }
      println(f"NERTRAIN cat train top1=${ok.toDouble / cat.size}%.4f")
    }

    Seq("ner_span.bin" -> spanModel, "ner_cat.bin" -> catModel).foreach { case (name, m) =>
      println(s"NERTRAIN wrote ${m.saveResource(name)}")
    }
  }
}
