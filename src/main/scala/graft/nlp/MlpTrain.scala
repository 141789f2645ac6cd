package graft.nlp

/** Dev tool: trains the committed purpose-MLP fixture by distilling the
  * keyword classifier over generated phrase data, then writes
  * `src/main/resources/graft/purpose_mlp.bin`. Deterministic (seeded):
  * re-running reproduces the committed bytes.
  * `sbt "runMain graft.nlp.MlpTrain"` */
object MlpTrain {

  def trainingPhrases: Vector[String] = {
    val corpus = graft.gen.CorpusGen.corpus(500, 42L)
      .flatMap(_.truth).flatMap(_.purposeTexts)
    val kw = Lexicon.purposeKeywords
    val templates = Vector(
      "for %s purposes", "for %s", "to support %s", "in order to %s",
      "%s and related activities", "to help with %s", "for the purpose of %s",
      "to %s our services", "so that we can %s")
    val fromKeywords = for {
      (_, words) <- kw.toVector
      w <- words.toVector
      t <- templates
    } yield t.format(w)
    val negatives = Vector(
      "for a limited period", "to the extent required", "for this purpose",
      "in some cases", "to you", "for more information", "at any time",
      "to do so", "for the avoidance of doubt", "in our discretion",
      "for such period", "to third countries", "for clarity")
    (corpus ++ fromKeywords ++ negatives).distinct.sorted
  }

  def main(args: Array[String]): Unit = {
    val labels = Lexicon.purposeKeywords.keys.toVector.sorted
    // distilled keyword labels over generated phrases PLUS the training
    // half of the hand-labeled set (true labels override the keyword
    // teacher on shared phrases); the held-out half touches no training
    val handTrain = PurposeLabels.train.toMap
    val generated = trainingPhrases.filterNot(handTrain.contains).map { p =>
      p -> graft.kg.Normalizer.classifyPurpose(p).toSet
    }
    // oversample the small hand-labeled half so its gradient signal is not
    // drowned by the ~2k generated examples
    val data = generated ++
      Vector.fill(8)(PurposeLabels.train).flatten
    val dim = 1024 + labels.size // hashed words + keyword indicators
    val rows = data.map { case (p, ls) =>
      (MlpModel.textFeatures(p, dim, labels), labels.map(l => if (ls(l)) 1f else 0f).toArray)
    }
    val model = MlpModel.train(rows, dim, hidden = 24, labels = labels, epochs = 500,
      lr0 = 0.08f, decay = 0.998f, seed = 42L)

    // exact-set train accuracy vs the keyword teacher
    val preds = model.forward(data.map(_._1))
    val correct = data.indices.count { ex =>
      val got = labels.indices.collect { case k if preds(ex)(k) >= 0.5 => labels(k) }.toSet
      got == data(ex)._2
    }
    println(s"MLPTRAIN examples=${data.size} exact-set accuracy=" +
      f"${correct.toDouble / data.size}%.4f")

    val path = model.saveResource("purpose_mlp.bin")
    println(s"MLPTRAIN wrote $path")
  }
}
