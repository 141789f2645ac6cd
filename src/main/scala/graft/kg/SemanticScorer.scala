package graft.kg

import graft.nlp.{Lexicon, MlpModel}
import graft.nlp.RuleNlp.Parse
import graft.kg.Normalizer.Mention

/** Learned semantic layer for OUT-OF-VOCABULARY predicates (round-4 VERDICT
  * next #1b): the measured rule-kernel frontier is idiomatic/figurative
  * data-handling language (holdout batches 9-10 zero-shot recall ~0.08),
  * exactly the slot the reference fills with its transformer NER + SetFit
  * models (poligrapher/utils.py:200-222). No ONNX runtime exists in this
  * container, so the slot is exercised the same way the purpose scorer is
  * (nlp/MlpScorer.scala): a committed, deterministically-trained hybrid MLP.
  *
  * Design: the DICTIONARY still finds datum mentions (that part of the
  * kernel generalizes — batch 10's misses all have in-vocabulary datums and
  * OOV *predicates*), so the scorer classifies (sentence, datum-mention,
  * candidate-party) → does this sentence assert the party holds the datum?
  * Features are party-conditioned STRUCTURAL indicators (datum-as-subject,
  * our-possessed destination NPs, store nouns, third-party actor subjects,
  * negation adjacency, counterfactual markers, unknown-predicate shapes) +
  * hashed sentence lemmas; the structure is what transfers to unseen verbs —
  * a bag of words alone cannot know "trickle into our warehouse" is ingress,
  * but datum-subject + into-our-store-NP can, for ANY verb.
  *
  * Trained by [[graft.nlp.SemTrain]] on ALL CLOSED holdout batches plus the
  * synthetic corpus; the standing OPEN batch (and any batch newer than it)
  * is NEVER seen in training or tuning — `kg_eval_semantic` reports that
  * batch's zero-shot row for kernel vs kernel ∪ scorer. SemTrain.goldDocs
  * is the authoritative list of what the committed sem_mlp.bin saw.
  */
object SemanticScorer {

  final case class Candidate(url: String, party: String, datum: String,
      dictDatum: Boolean, feats: Array[(Int, Float)],
      viaNer: Boolean = false)

  val HashDim = 512
  val IndicatorCount = 22
  /** party-conditioned indicator blocks: [hashed | we-block | 3rd-block] */
  val Dim: Int = HashDim + 2 * IndicatorCount

  private val StoreNouns = Set("record", "log", "database", "archive",
    "file", "ledger", "warehouse", "server", "model", "system", "crm",
    "list", "trail", "storage", "backup", "index", "registry", "desk",
    "store", "pipeline", "heatmap", "dataset")
  private val NegLemmas = Set("not", "never", "no", "nothing", "nobody",
    "none", "nor", "n't", "neither")
  private val CondLemmas = Set("would", "were", "should", "if", "unless",
    "might", "could")
  private val RetractLemmas = Set("stop", "cease", "discontinue", "end",
    "former", "formerly", "longer")

  /** Candidate tuples with sparse features for every DATA mention in the
    * page. Deliberately NO kernel-asserted feature: the training batches
    * are closed (kernel == truth there), so such a flag would be copied
    * verbatim and the model would add nothing zero-shot — the scorer must
    * learn structure → label, and the eval unions kernel ∪ scorer. */
  def candidates(url: String, html: String,
      ner: Option[MentionNer.Models] = None): Vector[Candidate] = {
    val segs = graft.text.HtmlSegmenter.segment(url, html)
    val docs = DocKernel.buildDocs(segs.sortBy(_.segId))
    val out = Vector.newBuilder[Candidate]
    docs.foreach { d =>
      d.parses.foreach { p =>
        p.chunks.foreach { c =>
          val head = p.tokens(c.head)
          def emit(terms: Set[String], dict: Boolean, viaNer: Boolean): Unit = {
            val ind = indicators(p, c)
            terms.foreach { datum =>
              Seq("we", "3rd-party").foreach { party =>
                val block = if (party == "we") HashDim else HashDim + IndicatorCount
                val sparse = Vector.newBuilder[(Int, Float)]
                // hashed sentence lemmas (shared across parties)
                val seen = scala.collection.mutable.HashSet.empty[Int]
                (p.start until p.end).foreach { i =>
                  val t = p.tokens(i)
                  if (t.pos != "PUNCT" && t.pos != "SPACE") {
                    val h = math.floorMod(
                      scala.util.hashing.MurmurHash3.stringHash(t.lemma), HashDim)
                    if (seen.add(h)) sparse += h -> 1f
                  }
                }
                ind.zipWithIndex.foreach { case (v, k) =>
                  if (v != 0f) sparse += (block + k) -> v
                }
                // dictionary-canonical datum indicator rides in slot 21
                if (dict) sparse += (block + 21) -> 1f
                out += Candidate(url, party, datum, dict, sparse.result().toArray, viaNer)
              }
            }
          }
          if (head.ner == "DATA" && head.pos != "PRON") {
            val m = Mention(d.toks.slice(c.start, c.end), c.head - c.start, "DATA")
            val terms = Normalizer.normalize(m, "DATA")
              .filterNot(_.startsWith("UNSPECIFIED")).filter(_.nonEmpty)
            val dict = {
              // canonical-dictionary hit vs bare stem fallback
              val stemOnly = terms.size == 1 && terms.head == m.stem &&
                !Normalizer.isCanonicalData(m.stem)
              !stemOnly
            }
            if (terms.nonEmpty) emit(terms, dict, viaNer = false)
          } else ner.foreach { models =>
            // the learned mention NER proposes datum spans the dictionary
            // missed; the category head names the canonical term and the
            // SAME party model scores the tuple (MentionNer scaladoc)
            MentionNer.propose(models, p, c)
              .foreach(datum => emit(Set(datum), dict = false, viaNer = true))
          }
        }
      }
    }
    out.result()
  }

  /** 22 structural indicators for (sentence, datum chunk); slot 21 is the
    * dictionary-canonical flag filled by `candidates`. */
  private def indicators(p: Parse, c: graft.nlp.RuleNlp.Chunk): Array[Float] = {
    val a = new Array[Float](IndicatorCount)
    def tokens: Range = p.start until p.end
    val inChunk = (i: Int) => i >= c.start && i < c.end
    // 0: datum is subject-ish (no VERB strictly before the chunk)
    if (!(p.start until c.start).exists(i => p.tokens(i).pos == "VERB")) a(0) = 1f
    // 1: our-possessed NP outside the datum chunk
    if (tokens.exists(i => !inChunk(i) && p.tokens(i).lemma == "our")) a(1) = 1f
    // 2: motion preposition followed closely by "our"
    tokens.foreach { i =>
      val l = p.tokens(i).lemma
      if ((l == "into" || l == "onto" || l == "in" || l == "to" || l == "on") &&
        (i + 1 until math.min(p.end, i + 4)).exists(j => p.tokens(j).lemma == "our"))
        a(2) = 1f
    }
    // 3: preposition followed (within the NP) by a store noun
    tokens.foreach { i =>
      if (p.tokens(i).pos == "ADP" &&
        (i + 1 until math.min(p.end, i + 5)).exists(j =>
          StoreNouns.contains(p.tokens(j).lemma)))
        a(3) = 1f
    }
    // 4: first-party pronoun present
    if (tokens.exists(i => p.tokens(i).lemma == "we" || p.tokens(i).lemma == "us"))
      a(4) = 1f
    // 5: second-person token outside the datum chunk
    if (tokens.exists(i => !inChunk(i) &&
      (p.tokens(i).lemma == "you" || p.tokens(i).lemma == "your"))) a(5) = 1f
    // 6: datum chunk opens with "your"
    if (c.start < c.end && p.tokens(c.start).lemma == "your") a(6) = 1f
    // 7/8: third-party actor chunk; 8 = it precedes the datum (subject-ish)
    p.chunks.foreach { ac =>
      val ah = p.tokens(ac.head)
      if (ah.ner == "ACTOR" && ah.pos != "PRON") {
        val am = Mention(p.tokens.slice(ac.start, ac.end), ac.head - ac.start, "ACTOR")
        val norm = Normalizer.normalize(am, "ACTOR")
        if (!norm.contains("we") && !norm.contains("you")) {
          a(7) = 1f
          if (ac.end <= c.start) a(8) = 1f
        } else if (norm.contains("we")) a(20) = 1f // first-party actor NP
      }
    }
    // 9: negation token anywhere; 10: within two tokens before the datum
    if (tokens.exists(i => NegLemmas.contains(p.tokens(i).lemma))) a(9) = 1f
    if ((math.max(p.start, c.start - 2) until c.start).exists(i =>
      NegLemmas.contains(p.tokens(i).lemma))) a(10) = 1f
    // 11: on-device locus ("your device", "locally", "on-device")
    tokens.foreach { i =>
      val t = p.tokens(i)
      if (t.lemma == "locally" || t.lemma == "on-device" ||
        (t.lemma == "device" && i > p.start && p.tokens(i - 1).lemma == "your"))
        a(11) = 1f
    }
    // 12: conditional / counterfactual marker
    if (tokens.exists(i => CondLemmas.contains(p.tokens(i).lemma))) a(12) = 1f
    // 13: passive shape after the datum (be-AUX then participle)
    if ((c.end until math.max(c.end, p.end - 1)).exists { i =>
      p.tokens(i).pos == "AUX" && p.tokens(i).lemma == "be" &&
        (i + 1 until math.min(p.end, i + 3)).exists(j => p.tokens(j).pos == "VERB")
    }) a(13) = 1f
    // 14: unknown predicate right after a subject-ish datum (OOV verb slot:
    // "sticks", "trickles" before restore, "lodges" — a non-dictionary
    // NOUN/VERB token directly after the chunk)
    if (a(0) == 1f && c.end < p.end) {
      val t = p.tokens(c.end)
      if ((t.pos == "NOUN" || t.pos == "VERB") && t.ner == "" &&
        !Lexicon.verbLemmas.contains(t.lemma)) a(14) = 1f
    }
    // 15: the sentence's root verb is a known pattern verb
    if (tokens.exists(i => p.tokens(i).pos == "VERB" &&
      Lexicon.tokenMap.values.exists(_.contains(p.tokens(i).lemma)))) a(15) = 1f
    // 16: "our" directly before a store noun
    tokens.foreach { i =>
      if (p.tokens(i).lemma == "our" &&
        (i + 1 until math.min(p.end, i + 3)).exists(j =>
          StoreNouns.contains(p.tokens(j).lemma))) a(16) = 1f
    }
    // 17: with/to + our-NP after the datum ("stays on file with our team")
    (c.end until p.end).foreach { i =>
      val l = p.tokens(i).lemma
      if ((l == "with" || l == "to") &&
        (i + 1 until math.min(p.end, i + 3)).exists(j => p.tokens(j).lemma == "our"))
        a(17) = 1f
    }
    // 18: retraction / discontinuation cue
    if (tokens.exists(i => RetractLemmas.contains(p.tokens(i).lemma))) a(18) = 1f
    // 19: clause-initial verb (imperative-ish: "Forget cookies")
    if (p.start < p.end && p.tokens(p.start).pos == "VERB") a(19) = 1f
    // 20 set above (first-party actor NP); 21 reserved for kernel flag
    a
  }

  /** Forward pass over candidates with the committed model; returns the
    * predicted tuples at the given threshold (0.5 = the raw sigmoid
    * midpoint; production augmentation uses the calibrated operating
    * point, KgPipeline.ScorerThreshold). */
  def predictTuples(model: MlpModel, cands: Vector[Candidate],
      threshold: Double = 0.5): Set[(String, String, String)] =
    cands.iterator.collect {
      case cand if score(model, cand) >= threshold => (cand.url, cand.party, cand.datum)
    }.toSet

  /** Scored tuples: each distinct (url, party, datum) with its MAX margin
    * over the mentions that proposed it — the score column a production
    * pipeline thresholds and audits (round-5 VERDICT wrong #1). */
  def scoredTuples(model: MlpModel, cands: Vector[Candidate]): Map[(String, String, String), Double] =
    cands.foldLeft(Map.empty[(String, String, String), Double]) { (acc, cand) =>
      val k = (cand.url, cand.party, cand.datum)
      val s = score(model, cand)
      if (acc.getOrElse(k, -1.0) >= s) acc else acc.updated(k, s)
    }

  /** Single-logit forward using MlpModel weights (labels = Vector("collect")). */
  def score(model: MlpModel, cand: Candidate): Double = {
    val h = new Array[Float](model.hidden)
    model.forwardSparse(cand.feats, h)
  }

  /** The committed trained model. */
  lazy val fromResource: MlpModel = MlpModel.loadResource("sem_mlp.bin")
}
