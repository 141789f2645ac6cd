package graft.kg

import graft.nlp.{Lexicon, MlpModel}
import graft.nlp.RuleNlp.{Chunk, Parse}

/** Learned mention NER — the datum-VOCABULARY half of the reference's
  * transformer slot (round-5 VERDICT next #1). The rule kernel's mention
  * detection is a dictionary trie, so a datum surface the dictionary never
  * anticipated ("blood sugar", "battery percentage") is structurally
  * unreachable by BOTH the kernel and the semantic scorer — batch 13/14
  * measured that boundary (combined R 0.087-0.417 on gap-datum batches vs
  * 0.70-0.83 in-dictionary), and batch 21 reproduces it under controlled
  * conditions (kernel 8/8 on in-dictionary controls, 0/17 on gap tuples).
  * The reference crosses it with a trained transformer NER that labels
  * unseen DATA spans (poligrapher/utils.py:200-222), trained on synthesized
  * span data (models/named-entity-recognition/gen_ner_data.py:85-143).
  *
  * No ONNX runtime exists in this container, so the slot follows the same
  * committed-hybrid-MLP pattern as the purpose and semantic scorers — two
  * heads, both trained deterministically by [[graft.nlp.NerTrain]] from
  * in-repo data only (batch 21 is NEVER read):
  *
  *   1. a SPAN detector: is this NP chunk a datum mention? — structural
  *      indicators (possessive intro, governing-verb class, destination
  *      vs theme position, store-noun/actor context) + hashed char-ngrams
  *      of the head + hashed chunk lemmas. Positives are the dictionary
  *      mentions of the closed batches + synthetic corpus; negatives every
  *      other NP chunk in the same parses. The structure is what
  *      generalizes: "We log your X after every sync" marks X a datum for
  *      ANY X.
  *   2. a CATEGORY classifier: which canonical datatype does the span name?
  *      — hashed char-ngrams + lemmas of the phrase, trained on the
  *      phrase_map dictionary itself (surface → canonical), so lexical
  *      kinship transfers ("blood sugar" ~ "blood oxygen" → health
  *      information; "battery percentage" ~ "battery level" → device
  *      information).
  *
  * Inference rides the semantic scorer's walk
  * ([[SemanticScorer.candidates]] with `withNer = true`): chunks the
  * dictionary already labels keep the dictionary path; chunks it does not,
  * the span head proposes, the category head names, and the committed
  * semantic MLP decides the party — so the full zero-shot chain
  * span → category → (party, datum) is learned end to end.
  */
object MentionNer {

  /** span-head feature layout */
  val HeadCharDim = 256
  val WordDim = 128
  val IndCount = 29
  val SpanDim: Int = HeadCharDim + WordDim + IndCount

  /** category-head feature layout */
  val CatCharDim = 1536
  val CatWordDim = 512
  val CatDim: Int = CatCharDim + CatWordDim

  private def hash(s: String, dim: Int, offset: Int): Int =
    offset + math.floorMod(scala.util.hashing.MurmurHash3.stringHash(s), dim)

  private def addCharNgrams(word: String, dim: Int, offset: Int,
      out: scala.collection.mutable.HashSet[Int]): Unit = {
    val w = "#" + word + "#"
    var n = 3
    while (n <= 4) {
      var i = 0
      while (i + n <= w.length) {
        out += hash(w.substring(i, i + n), dim, offset)
        i += 1
      }
      n += 1
    }
  }

  /** Phrase → sparse category features (shared by trainer and inference):
    * char 3-4-grams of each content lemma + the lemma unigrams + the full
    * phrase. */
  def catFeatures(words: Seq[String]): Array[(Int, Float)] = {
    val idx = scala.collection.mutable.HashSet.empty[Int]
    val lemmas = words.map(w => Lexicon.lemma(Lexicon.lower(w)))
    lemmas.foreach { l =>
      addCharNgrams(l, CatCharDim, 0, idx)
      idx += hash(l, CatWordDim, CatCharDim)
    }
    if (lemmas.length > 1)
      idx += hash(lemmas.mkString(" "), CatWordDim, CatCharDim)
    idx.toArray.sorted.map(_ -> 1f)
  }

  private lazy val storeNouns: Set[String] = Lexicon.tokenMap("STORE_NOUN")
  /** nominal heads that are time/extent expressions, not datums ("every
    * evening", "between seasons") — "time" itself stays out: dwell time /
    * wake-up time ARE datums */
  private val TimeNouns = Set("year", "month", "week", "day", "evening",
    "morning", "noon", "dawn", "night", "hour", "season", "spring", "summer",
    "winter", "autumn", "quarter", "minute", "second", "moment", "weekend")

  /** Is this chunk a candidate for the span head at all? (Shared by the
    * trainer's labeling walk and inference, so train and test
    * distributions match.) */
  def spanCandidate(p: Parse, c: Chunk): Boolean = {
    val head = p.tokens(c.head)
    head.pos == "NOUN" && head.ner != "ACTOR" &&
      !Normalizer.genericData.contains(Lexicon.lower(head.lemma)) &&
      head.text.exists(_.isLetter)
  }

  /** Structural + lexical sparse features for (sentence, chunk). NOTE: the
    * chunk's own ner is NEVER a feature — at inference the interesting
    * chunks are exactly the ones the dictionary did NOT label. */
  def spanFeatures(p: Parse, c: Chunk): Array[(Int, Float)] = {
    val idx = scala.collection.mutable.HashSet.empty[Int]
    val head = p.tokens(c.head)
    addCharNgrams(Lexicon.lower(head.lemma), HeadCharDim, 0, idx)
    (c.start until c.end).foreach { i =>
      val t = p.tokens(i)
      if (t.pos != "PUNCT" && t.pos != "DET")
        idx += hash(Lexicon.lower(t.lemma), WordDim, HeadCharDim)
    }
    val ind = new Array[Float](IndCount)
    val base = HeadCharDim + WordDim
    def lemmaAt(i: Int): String = p.tokens(i).lemma
    // 0/1: possessive intro — second person (datum signal) vs first/third
    if (c.start < c.end && (lemmaAt(c.start) == "your" || lemmaAt(c.start) == "my"))
      ind(0) = 1f
    if (c.start < c.end && (lemmaAt(c.start) == "our" || lemmaAt(c.start) == "its" ||
      lemmaAt(c.start) == "their")) ind(1) = 1f
    // 2: compound shape (multi-token, head-final)
    if (c.end - c.start >= 2 && c.head == c.end - 1) ind(2) = 1f
    // 3: plural head
    if (head.text.length > head.lemma.length &&
      Lexicon.endsWithIgnoreCase(head.text, "s")) ind(3) = 1f
    // 4-7: PP role — which preposition governs this chunk
    p.in(c.head).foreach { d =>
      if (d.dep == "obj" && d.from >= 0 && p.tokens(d.from).pos == "ADP") {
        val prep = p.tokens(d.from).lemma
        if (prep == "in" || prep == "into" || prep == "onto" || prep == "at")
          ind(4) = 1f // destination position (anti)
        else if (prep == "for" || prep == "of") ind(5) = 1f // extraction target
        else if (prep == "with") ind(6) = 1f
        else ind(7) = 1f
      }
    }
    // 8-11: grammatical role vs the governing verb's class
    p.in(c.head).foreach { d =>
      if (d.from >= 0 && p.tokens(d.from).pos == "VERB") {
        val vl = p.tokens(d.from).lemma
        val collectish = Patterns.collectishLemmas.contains(vl)
        if (d.dep == "subj") {
          ind(8) = 1f
          if (collectish) ind(9) = 1f
        } else if (d.dep == "obj") {
          ind(10) = 1f
          if (collectish) ind(11) = 1f
        }
      }
    }
    // 12: passive shape right after the chunk (be-AUX then participle)
    if ((c.end until math.min(p.end, c.end + 2)).exists { i =>
      p.tokens(i).pos == "AUX" && p.tokens(i).lemma == "be" &&
        (i + 1 until math.min(p.end, i + 3)).exists(j => p.tokens(j).pos == "VERB")
    }) ind(12) = 1f
    // 13: head is itself a store noun (anti)
    if (storeNouns.contains(head.lemma)) ind(13) = 1f
    // 14: head is a time/extent noun (anti)
    if (TimeNouns.contains(head.lemma)) ind(14) = 1f
    // 15: our + store noun elsewhere in the sentence (destination exists)
    (p.start until p.end - 1).foreach { i =>
      if (p.tokens(i).lemma == "our" &&
        (i + 1 until math.min(p.end, i + 4)).exists(j =>
          storeNouns.contains(p.tokens(j).lemma))) ind(15) = 1f
    }
    // 16: an ACTOR mention elsewhere in the sentence
    if (p.chunks.exists(ac => ac != c && p.tokens(ac.head).ner == "ACTOR"))
      ind(16) = 1f
    // 17: capitalized head mid-sentence (proper-noun-ish, anti)
    if (c.head > p.start && head.text.nonEmpty && head.text.head.isUpper)
      ind(17) = 1f
    // 18: digits in the chunk (anti)
    if ((c.start until c.end).exists(i => p.tokens(i).text.exists(_.isDigit)))
      ind(18) = 1f
    // 19-22: sentence-level verb classes present
    (p.start until p.end).foreach { i =>
      val t = p.tokens(i)
      if (t.pos == "VERB") {
        val l = t.lemma
        if (Lexicon.tokenMap("VERB_STORE").contains(l)) ind(19) = 1f
        if (Lexicon.tokenMap("VERB_COLLECT_FROM").contains(l)) ind(20) = 1f
        if (Lexicon.tokenMap("VERB_USE").contains(l)) ind(21) = 1f
        if (Lexicon.tokenMap("VERB_PROVIDE_TO").contains(l) ||
          Lexicon.tokenMap("VERB_SHARE_WITH").contains(l)) ind(22) = 1f
      }
    }
    // 23: universal quantifier opens the chunk ("every voiceprint")
    if (c.start < c.end && (lemmaAt(c.start) == "every" ||
      lemmaAt(c.start) == "each" || lemmaAt(c.start) == "all")) ind(23) = 1f
    // 24: subject followed by motion/residence prep toward our-NP
    if (ind(8) == 1f && c.end < p.end - 1) {
      (c.end until math.min(p.end, c.end + 3)).foreach { i =>
        val l = p.tokens(i).lemma
        if ((l == "in" || l == "into" || l == "onto" || l == "to") &&
          (i + 1 until math.min(p.end, i + 3)).exists(j => p.tokens(j).lemma == "our"))
          ind(24) = 1f
      }
    }
    // 25: second person present in the sentence
    if ((p.start until p.end).exists(i =>
      p.tokens(i).lemma == "you" || p.tokens(i).lemma == "your")) ind(25) = 1f
    // 26: first-party pronoun present
    if ((p.start until p.end).exists(i =>
      p.tokens(i).lemma == "we" || p.tokens(i).lemma == "us")) ind(26) = 1f
    // 27: chunk sits clause-initially (subject position before any verb)
    if (!(p.start until c.start).exists(i => p.tokens(i).pos == "VERB"))
      ind(27) = 1f
    // 28: agentive/instrument suffix on the head ("verifiers", "profiler",
    // "tracker" — actors and machinery, rarely datums; "identifier" is the
    // counter-example the model weighs through its char-ngrams)
    if (head.lemma.endsWith("er") || head.lemma.endsWith("or") ||
      head.lemma.endsWith("ist")) ind(28) = 1f
    var k = 0
    while (k < IndCount) {
      if (ind(k) != 0f) idx += (base + k)
      k += 1
    }
    idx.toArray.sorted.map(_ -> 1f)
  }

  /** span-detector and category models, committed by NerTrain. */
  final case class Models(span: MlpModel, cat: MlpModel)

  lazy val fromResource: Models =
    Models(MlpModel.loadResource("ner_span.bin"), MlpModel.loadResource("ner_cat.bin"))

  /** Operating point chosen on CLOSED batches by NerTrain (recorded in
    * COVERAGE.md): the span gate is deliberately conservative — the NER's
    * additions must not flood precision on in-dictionary text. The
    * category gate is a NORMALIZED share among the 46 class sigmoids (an
    * OOV surface's raw sigmoids are all small; what matters is whether one
    * category dominates the mass). */
  val SpanThreshold = 0.5
  val CatShareThreshold = 0.30

  /** Propose a canonical datum name for a chunk the dictionary did not
    * label, or None. */
  def propose(models: Models, p: Parse, c: Chunk): Option[String] = {
    if (!spanCandidate(p, c) || p.tokens(c.head).ner == "DATA") None
    else {
      val h = new Array[Float](models.span.hidden)
      if (models.span.forwardSparse(spanFeatures(p, c), h) < SpanThreshold) None
      else {
        val words = (c.start until c.end)
          .filter(i => p.tokens(i).pos != "DET" && p.tokens(i).pos != "PUNCT")
          .map(i => p.tokens(i).text)
        if (words.isEmpty) None
        else {
          val h2 = new Array[Float](models.cat.hidden)
          val probs = models.cat.forwardSparseAll(catFeatures(words), h2)
          var best = 0
          var sum = 0.0
          var k = 0
          while (k < probs.length) {
            if (probs(k) > probs(best)) best = k
            sum += probs(k)
            k += 1
          }
          val share = if (sum > 0) probs(best) / sum else 0.0
          if (share >= CatShareThreshold) Some(models.cat.labels(best)) else None
        }
      }
    }
  }
}
