package graft.nlp

import scala.collection.mutable.{ArrayBuffer, ListBuffer}

/** Deterministic rule-based NLP kernel (SURVEY.md U1-U3).
  *
  * Produces, per sentence, a *normalized* dependency graph in the same shape
  * the reference's `build_dependency_graph` rewrites spaCy parses into
  * (collection_annotator.py:25-191): deps `subj/obj/dative/prep/xcomp/ccomp/
  * relcl/acl/aux/root`, conjunct flattening, passive→active, per-node
  * negation flags. We synthesize that graph directly instead of going
  * through a full constituency/dependency parse — the annotator pattern DSL
  * then runs unchanged over it.
  *
  * Pure Scala, no models, fully deterministic — the per-doc kernel runs
  * inside `mapGroups`, one doc at a time, embarrassingly parallel.
  */
object RuleNlp {

  final case class Tok(
      i: Int, // index within doc
      text: String,
      lemma: String,
      var pos: String,
      var ner: String, // DATA | ACTOR | NN | ""
      ws: Boolean) // followed by whitespace

  /** Noun-phrase chunk: token span [start, end), head index, entity label. */
  final case class Chunk(start: Int, end: Int, head: Int, ner: String)

  final case class Dep(from: Int, to: Int, dep: String) // from = -1 for root

  final case class Parse(
      start: Int,
      end: Int, // token span [start, end) within doc
      tokens: Vector[Tok], // the whole doc's tokens (shared)
      chunks: Vector[Chunk],
      deps: Vector[Dep],
      neg: Set[Int],
      text: String,
      passiveVerbs: Set[Int] = Set.empty) { // verbs in agent-capable passive voice
    // adjacency as sentence-local arrays, not groupBy maps: the per-sentence
    // Map[Int, Vector[Dep]] pair (boxed keys + builders) was a top kernel
    // allocator; slot 0 holds the root (-1) entries
    private def slot(i: Int): Int = if (i < 0) 0 else i - start + 1
    private def adjacency(key: Dep => Int): Array[Vector[Dep]] = {
      val a = Array.fill(end - start + 1)(Vector.empty[Dep])
      deps.foreach { d =>
        val k = slot(key(d))
        if (k >= 0 && k < a.length) a(k) = a(k) :+ d
      }
      a
    }
    private lazy val outIdx: Array[Vector[Dep]] = adjacency(_.from)
    private lazy val inIdx: Array[Vector[Dep]] = adjacency(_.to)
    def out(i: Int): Vector[Dep] = {
      val k = slot(i)
      if (k >= 0 && k < outIdx.length) outIdx(k) else Vector.empty
    }
    def in(i: Int): Vector[Dep] = {
      val k = slot(i)
      if (k >= 0 && k < inIdx.length) inIdx(k) else Vector.empty
    }
    private lazy val chunkIdx: Array[Chunk] = {
      val a = new Array[Chunk](end - start)
      chunks.foreach(c => (c.start until c.end).foreach { k =>
        if (k >= start && k < end) a(k - start) = c
      })
      a
    }
    def chunkOf(tok: Int): Option[Chunk] =
      if (tok >= start && tok < end && chunkIdx(tok - start) != null)
        Some(chunkIdx(tok - start))
      else None
  }

  // ---------------------------------------------------------------- tokenize

  private def isWordChar(c: Char): Boolean =
    (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z') || (c >= '0' && c <= '9')

  /** Tokenize a text; returns (texts, wsFlags). Hand-rolled scanner over the
    * grammar `e.g.|i.e.|word(['-]word)*|\n|punct` — the regex version
    * allocated a Match object per token and dominated the kernel's
    * allocation profile. */
  def tokenize(text: String): (Vector[String], Vector[Boolean]) = {
    val n = text.length
    val toks = Vector.newBuilder[String]
    val ws = new ArrayBuffer[Int]() // end offsets; ws flag derived after
    var i = 0
    while (i < n) {
      val c = text.charAt(i)
      if (c == '\u2014' || c == '\u2013') {
        // em/en dashes punctuate like commas for parsing (the appositive
        // machinery keys on ','); sentence evidence renders the comma —
        // an accepted normalization, like the ASCII fold upstream
        toks += ","; ws += i + 1; i += 1
      } else if (c == '\n') {
        toks += "\n"; ws += i + 1; i += 1
      } else if (c == ' ' || c == '\t' || c == '\r' || Character.isWhitespace(c)) {
        i += 1
      } else if (isWordChar(c)) {
        // abbreviation lookahead: e.g. / i.e. (case-sensitive, matching the
        // previous regex grammar byte-for-byte)
        if ((c == 'e' || c == 'i') && i + 3 < n &&
          (text.regionMatches(i, "e.g.", 0, 4) || text.regionMatches(i, "i.e.", 0, 4))) {
          toks += text.substring(i, i + 4); ws += i + 4; i += 4
        } else {
          var j = i + 1
          var go = true
          while (go && j < n) {
            if (isWordChar(text.charAt(j))) j += 1
            else if ((text.charAt(j) == '\'' || text.charAt(j) == '-') &&
              j + 1 < n && isWordChar(text.charAt(j + 1))) j += 2
            else go = false
          }
          val w = text.substring(i, j)
          // split negation contractions ("won't" → "wo" + "n't", spaCy-style)
          // — otherwise the negation PART is invisible and polarity flips
          if (w.length > 3 && w.regionMatches(true, w.length - 3, "n't", 0, 3)) {
            toks += w.substring(0, w.length - 3); ws += j - 3
            toks += w.substring(w.length - 3); ws += j
          } else {
            toks += w; ws += j
          }
          i = j
        }
      } else {
        toks += text.substring(i, i + 1); ws += i + 1; i += 1
      }
    }
    val tv = toks.result()
    // whitespace flag: gap between this token's end and the next one's start
    var k = 0
    val flags = Vector.newBuilder[Boolean]
    while (k < tv.length) {
      val nextStart = if (k + 1 < tv.length) ws(k + 1) - tv(k + 1).length else n
      flags += ws(k) < nextStart
      k += 1
    }
    (tv, flags.result())
  }

  // -------------------------------------------------------------------- tag

  import Lexicon._

  // constant word sets hoisted out of per-token/per-sentence hot loops
  private val AccessVerbs = Set("have", "get", "gain", "request", "grant")

  // round-7 allocation pass: literal Sets hoisted out of per-token loops
  private val LightShelterNouns = Set("shelter", "refuge", "berth", "way", "home")
  private val SubjPronLemmas = Set("we", "you", "they", "i", "it")

  /** True modals — a following base form must be a verb (bare infinitive). */
  private val ModalAux = Set("may", "might", "can", "could", "will", "would",
    "shall", "should", "must")

  /** Matrix verbs whose OBJECT controls a following infinitive ("ask you
    * to provide"); everything else is subject-controlled ("use X to build"). */
  private val ObjectControlVerbs = Set("ask", "require", "prompt", "oblige",
    "deem", "enable", "allow", "permit", "authorize", "invite", "let")

  /** Comma-introduced adverbs that continue (or pad) a conjunct group. */
  private val ConjCueAdvs = Set("specifically", "namely", "particularly",
    "especially", "optionally", "i.e.", "e.g.", "typically", "usually",
    "generally")
  /** Nouns that name an attribute OF something — "the name of your mobile
    * carrier" — rather than user data in their own right. */
  private val AttributeHeads = Set("name")

  /** Nouns/pronouns that denote the data subject (the user) — "the name of
    * the user" IS person data; "the name of the carrier" is not. */
  private val UserNouns = Set("you", "user", "customer", "visitor",
    "consumer", "child", "individual", "member", "subscriber")

  /** "without your <consent-word>" marks the conditional-positive reading
    * of a determiner-negated collection statement. */
  private val ConsentWords = Set("consent", "permission", "authorization",
    "authorisation", "approval")

  private val Relativizers = Set("that", "which", "who")
  // hoisted hot-loop literals (parseSentence allocates per sentence — or,
  // for CollocationPairs/LinkWords, per token/dep — without these)
  private val GerundPreps = Set("before", "after", "while", "upon", "when",
    "without", "by")
  private val TemporalSconj = Set("before", "until", "unless", "once",
    "when", "after")
  private val TemporalClausePreps = Set("before", "after", "until", "once",
    "while")
  private val EvasionVerbs = Set("escape", "evade", "elude")
  private val SlipVerbs = Set("slip", "sneak", "slide")
  private val ToughAdjs = Set("easy", "hard", "simple", "tough", "difficult",
    "quick", "trivial")
  private val ProhibitLemmas = Set("prohibit", "prevent", "bar", "forbid",
    "ban")
  private val CeaseLemmas = Set("cease", "stop", "discontinue", "quit")
  private val LinkWords = Set("together", "along", "with", "alongside",
    "i.e.", "e.g.", "namely", "specifically", "particularly", "especially",
    "like", "such", "as")
  private val MotionResidenceVerbs = Set("land", "reach", "settle",
    "lodge", "tumble", "seep", "pour", "stay", "linger", "sit", "nestle",
    "lounge", "hunker", "loiter", "summer", "winter", "camp", "perch",
    "moonlight", "idle", "lurk", "doze", "slumber", "bed", "roost",
    "nest", "bunk", "hole", "reside", "hibernate", "marinate", "languish")
  private val CollocationPairs = Set(
    ("access", "to"), ("information", "about"), ("information", "on"),
    ("data", "about"), ("datum", "about"), ("detail", "about"))
  private val LimitedToFiller = Set("but", "not", "limited", "limit", "to", "without", "limitation")

  private def isCap(s: String): Boolean = s.nonEmpty && s.charAt(0).isUpper

  /** POS-tag a token sequence (context-sensitive lexicon tagger). */
  def tag(texts: Vector[String], ws: Vector[Boolean]): Vector[Tok] = {
    val n = texts.length
    val toks = new ArrayBuffer[Tok](n)
    var i = 0
    while (i < n) {
      val t = texts(i)
      val lw = Lexicon.lower(t)
      val lem = lemma(t)
      val pos =
        if (t == "\n") "SPACE"
        else if (!t.exists(_.isLetterOrDigit)) "PUNCT"
        else if (t.forall(_.isDigit)) "NUM"
        else if (negations.contains(lw)) "PART"
        else if (lw == "to") "TO" // disambiguated below
        else if (lw == "that" || lw == "which" || lw == "who") "REL" // below
        else if (determiners.contains(lw)) "DET"
        else if (pronouns.contains(lw)) "PRON"
        else if (auxiliaries.contains(lw)) "AUX"
        else if (coordConj.contains(lw)) "CCONJ"
        else if (adpositions.contains(lw) || lw == "including") "ADP"
        else if (subordConj.contains(lw)) "SCONJ"
        else if (verbLemmas.contains(lem)) "VERBC" // candidate, below
        else if (adjectives.contains(lw)) "ADJ"
        else if (lw.endsWith("ly") && lw.length > 3) "ADV"
        else if (adverbs.contains(lw)) "ADV"
        else if (lw == "e.g." || lw == "i.e.") "ADV"
        else if (isCap(t) && i > 0) "PROPN"
        else "NOUN"
      toks += Tok(i, t, lem, pos, "", ws.lift(i).getOrElse(false))
      i += 1
    }
    // second pass: contextual disambiguation — pos is a var, mutate in place
    // (the previous copy-per-retag tripled Tok allocations in the kernel)
    i = 0
    def at(j: Int): String = if (j >= 0 && j < n) toks(j).pos else ""
    while (i < n) {
      val t = toks(i)
      t.pos match {
        case "VERBC" =>
          // noun reading when preceded by a determiner/adjective/adposition-of
          val prev = at(i - 1)
          val nounish = prev == "DET" || prev == "ADJ" ||
            (prev == "ADP" && toks(i - 1).lemma == "of") ||
            (prev == "VERBC" || prev == "VERB") && toks(i - 1).lemma == "make" // "make use of"
          // floated quantifier before a participle ("are all squared
          // away") is not a nominal determiner — batch 16
          val floatQuant = prev == "DET" &&
            (toks(i - 1).lemma == "all" || toks(i - 1).lemma == "both") &&
            Lexicon.endsWithIgnoreCase(t.text, "ed")
          t.pos = if (nounish && !floatQuant && Lexicon.isLower(t.text)) "NOUN" else "VERB"
          if (i > 0 && toks(i - 1).lemma == "make" && t.lemma == "use")
            t.pos = "NOUN"
          // plural noun misread ("newsletters and promotional offers."): a
          // lowercase -s verb candidate squeezed between a nominal and a
          // boundary token is a noun
          if (t.pos == "VERB" && t.text.endsWith("s") && Lexicon.isLower(t.text) &&
            // verbs that never nominalize in policy prose keep their
            // predicate reading ("Your shipping address piggybacks on ...")
            t.lemma != "piggyback" && t.lemma != "hitchhike" &&
            (prev == "NOUN" || prev == "PROPN") &&
            // free-relative heads need their predicate ("What settles in
            // our ledger ... is ...")
            !(i > 0 && (toks(i - 1).lemma == "what" ||
              toks(i - 1).lemma == "whatever" || toks(i - 1).lemma == "whoever")) &&
            // figurative motion/residence verbs routinely take a locative
            // in/into-PP right after a noun subject ("the login lands in
            // our audit bin") and never nominalize in that shape (b19)
            !(MotionResidenceVerbs.contains(t.lemma) && i + 1 < n &&
              (toks(i + 1).lemma == "in" || toks(i + 1).lemma == "into")) &&
            // an embedded how-clause puts its verb clause-finally ("how
            // snugly their browsing trail nestles in our session vault") —
            // scan left within the clause for the "how" cue (batch 18)
            !{
              var j = i - 1
              var how = false
              while (j >= 0 && at(j) != "PUNCT" && !how) {
                how = toks(j).lemma == "how"
                j -= 1
              }
              how
            } &&
            // comparative-correlative clauses are OSV ("the more search
            // terms our index hoards.") — the clause-final verb keeps its
            // predicate reading when "the more/fewer/less" opens the clause
            !{
              var j = i - 1
              var corr = false
              while (j >= 1 && at(j) != "PUNCT" && !corr) {
                corr = (toks(j).lemma == "more" || toks(j).lemma == "fewer" ||
                  toks(j).lemma == "less") && toks(j - 1).lemma == "the"
                j -= 1
              }
              corr
            } &&
            (i + 1 >= n || at(i + 1) == "PUNCT" || at(i + 1) == "CCONJ" || at(i + 1) == "ADP"))
            t.pos = "NOUN"
          // "set"/"end" as a compound tail between a nominal and a
          // preposition/punctuation ("the backup set alongside ...", "the
          // data set,", "by week's end.") — lemma-specific: base-form verbs
          // generally DO sit in this shape under plural subjects
          // ("backups ... persist for")
          if (t.pos == "VERB" && (t.lemma == "set" || t.lemma == "end") &&
            t.text == t.lemma &&
            (prev == "NOUN" || prev == "PROPN") &&
            (i + 1 >= n || at(i + 1) == "ADP" || at(i + 1) == "PUNCT" ||
              at(i + 1) == "CCONJ"))
            t.pos = "NOUN"
          // store-noun compound tails in the same shape ("the customer
          // file.", "our crash buffer overflows" stays out via the
          // boundary requirement): a base-form STORE_NOUN lemma between a
          // nominal and a clause boundary is the compound's head noun,
          // not a predicate (batch 11 — same rationale as "set" above).
          // Free relatives AND bound relatives need their predicate ("What
          // our servers record, ...", "It is X that our servers log."), so
          // a wh-head or relativizer earlier in the clause keeps VERB.
          if (t.pos == "VERB" && t.text == t.lemma &&
            Lexicon.tokenMap("STORE_NOUN").contains(t.lemma) &&
            (prev == "NOUN" || prev == "PROPN") &&
            (i + 1 >= n || at(i + 1) == "ADP" || at(i + 1) == "PUNCT" ||
              at(i + 1) == "CCONJ") && {
              var j = i - 1
              var wh = false
              while (j >= 0 && at(j) != "PUNCT" && !wh) {
                val l = toks(j).lemma
                wh = l == "what" || l == "whatever" || l == "whoever" ||
                  l == "whichever" || l == "that" || l == "which" ||
                  l == "who" || l == "whom"
                j -= 1
              }
              !wh
            })
            t.pos = "NOUN"

          // a light-noun candidate right after a finite verb is that
          // verb's object, not a second predicate ("finds shelter in our
          // vault", "takes refuge") — batch 17
          if (t.pos == "VERB" &&
            LightShelterNouns.contains(t.lemma) &&
            (prev == "VERB") && Lexicon.isLower(t.text) && t.text == t.lemma)
            t.pos = "NOUN"

          // a STORE_NOUN verb candidate right before another verb
          // candidate after a nominal ("our coaching archive balloons
          // with ...") is the compound's head noun, the following
          // candidate the predicate (batch 15). Restricted to STORE_NOUN
          // lemmas: the general two-candidate shape is usually verb+object
          // ("requests access", "catch wind", "gets tucked").
          if (t.pos == "VERB" && at(i + 1) == "VERBC" &&
            Lexicon.tokenMap("STORE_NOUN").contains(t.lemma) &&
            (prev == "NOUN" || prev == "PROPN" || prev == "ADJ") &&
            Lexicon.isLower(t.text))
            t.pos = "NOUN"

          // a base-form verb candidate between a preposition and a noun is
          // an attributive modifier ("in aggregate heatmaps"); before a
          // preposition/punctuation it is the bare noun of a PP idiom
          // ("stays on file with ...", "on record,")
          if (t.pos == "VERB" && t.text == t.lemma && prev == "ADP" &&
            toks(i - 1).lemma != "to" &&
            (at(i + 1) == "NOUN" || at(i + 1) == "PROPN" ||
              at(i + 1) == "ADP" || at(i + 1) == "PUNCT" ||
              at(i + 1) == "CCONJ" || i + 1 >= n))
            t.pos = "NOUN"
          // a bare gerund after a preposition with no object of its own is
          // a noun ("except for billing,", "used for tracking.") — gerunds
          // governing an object stay verbs ("from sharing your email")
          if (t.pos == "VERB" && Lexicon.endsWithIgnoreCase(t.text, "ing") &&
            prev == "ADP" &&
            (i + 1 >= n || at(i + 1) == "PUNCT" || at(i + 1) == "CCONJ" ||
              at(i + 1) == "ADP"))
            t.pos = "NOUN"
          // a clause-initial attributive gerund before a noun heads an NP
          // ("Typing indicators", "Tracking technologies")
          if (t.pos == "VERB" && Lexicon.endsWithIgnoreCase(t.text, "ing") &&
            (i == 0 || at(i - 1) == "PUNCT") &&
            (at(i + 1) == "NOUN" || at(i + 1) == "PROPN"))
            t.pos = "NOUN"
          // pre-nominal past participle right after a verb is an adjective
          // inside the object NP ("share aggregated demographic
          // information"), not a second predicate
          if (t.pos == "VERB" && Lexicon.endsWithIgnoreCase(t.text, "ed") &&
            (prev == "VERB" || prev == "VERBC") &&
            (at(i + 1) == "NOUN" || at(i + 1) == "ADJ" || at(i + 1) == "PROPN" ||
              at(i + 1) == "VERBC"))
            t.pos = "ADJ"
          // a verb candidate directly before "of" heads a noun phrase
          // ("notes of the call are taken") — exempting 'consist'
          if (t.pos == "VERB" && t.lemma != "consist" && i + 1 < n &&
            at(i + 1) == "ADP" && toks(i + 1).lemma == "of")
            t.pos = "NOUN"
          // "have/get/gain/request access to X": access is the object noun;
          // an auxiliary-tagged access-verb before it is the real main verb
          if (i > 0 && t.lemma == "access" &&
            AccessVerbs.contains(toks(i - 1).lemma)) {
            if (at(i - 1) == "AUX") {
              t.pos = "NOUN"
              toks(i - 1).pos = "VERB"
            } else if (at(i - 1) == "VERB" || at(i - 1) == "VERBC") {
              t.pos = "NOUN"
            }
          }
        case "TO" =>
          // PART before a verb(ish) token, else ADP
          var j = i + 1
          while (j < n && (at(j) == "ADV" || at(j) == "PART")) j += 1
          val next = if (j < n) toks(j) else null
          val isPart = next != null &&
            (verbLemmas.contains(next.lemma) || next.pos == "VERBC" || next.pos == "VERB") &&
            Lexicon.isLower(next.text)
          t.pos = if (isPart) "PART" else "ADP"
        case "REL" =>
          // "that/which/who" as relativizer if a verb follows within 3 tokens
          // (possibly after a subject NP); SCONJ when introducing a clause.
          t.pos = "SCONJ"
        case "PRON" if (t.lemma == "this" || t.lemma == "that" || t.lemma == "these" || t.lemma == "those") =>
          // determiner reading before a nominal
          val nxt = at(i + 1)
          if (nxt == "NOUN" || nxt == "PROPN" || nxt == "ADJ" || nxt == "VERBC")
            t.pos = "DET"
        case "DET" if (t.lemma == "some" || t.lemma == "all" || t.lemma == "any") &&
          i + 1 < n && toks(i + 1).lemma == "of" =>
          // partitive pronoun: "some of your information" (heads its own NP,
          // resolved by the COREF_SOME_OF pattern)
          t.pos = "PRON"
        case "NOUN" if i > 0 && at(i - 1) == "AUX" &&
          ModalAux.contains(toks(i - 1).lemma) && Lexicon.isLower(t.text) &&
          t.text == t.lemma =>
          // a modal auxiliary requires a bare infinitive — a base-form
          // dictionary noun right after would/may/... is the verb
          // ("voicemails would age out of our vaults": 'age' is a DATA
          // unigram, but here it predicates)
          t.pos = "VERB"
        case "NOUN" if (t.lemma == "sooner" || t.lemma == "later") &&
          !(i > 0 && toks(i - 1).lemma == "no") =>
          // comparative time adverbs ("would leave our archive sooner") —
          // except the "no sooner" idiom, whose inversion parse keys on
          // the determiner reading
          t.pos = "ADV"
        case "NOUN" if (Lexicon.endsWithIgnoreCase(t.text, "ed") ||
          Lexicon.endsWithIgnoreCase(t.text, "en")) && t.text.length > 4 &&
          (at(i - 1) == "AUX" || (at(i - 1) == "ADV" && at(i - 2) == "AUX")) =>
          // "-ed" directly after an auxiliary is a past participle even when
          // the verb is outside the lexicons ("is created and stored"):
          // without this the unknown participle reads as a noun and the
          // passive clause loses its verb group
          t.pos = "VERB"
        case "NOUN" if Lexicon.endsWithIgnoreCase(t.text, "ed") && t.text.length >= 6 &&
          (at(i - 1) == "NOUN" || at(i - 1) == "PROPN") &&
          (at(i + 1) == "ADP" || at(i + 1) == "ADV") =>
          // reduced-relative participle between a nominal and a
          // preposition/adverb ("providers embedded in our pages", "the
          // companies listed below"): an unknown -ed word here is a verb,
          // not part of the NP — length >= 6 keeps -ed nouns (speed) out
          t.pos = "VERB"
        case "NOUN" if Lexicon.endsWithIgnoreCase(t.text, "ing") && t.text.length >= 6 &&
          (at(i - 1) == "NOUN" || at(i - 1) == "PROPN") &&
          (at(i + 1) == "ADP" || at(i + 1) == "DET") =>
          // present-participle reduced relative ("agents acting on our
          // behalf", "backups containing your order history")
          t.pos = "VERB"
        case "ADJ" if at(i - 1) == "DET" && at(i + 1) != "NOUN" &&
          at(i + 1) != "PROPN" && at(i + 1) != "ADJ" && at(i + 1) != "NUM" &&
          at(i + 1) != "VERBC" =>
          // substantive adjective heads its own NP ("we share the following
          // with...", "see the above") — nominal reading so the chunker
          // keeps it and verb patterns can capture it as an object
          t.pos = "NOUN"
        case "ADJ" if (Lexicon.endsWithIgnoreCase(t.text, "ed") ||
          Lexicon.endsWithIgnoreCase(t.text, "en")) && at(i - 1) == "AUX" &&
          (at(i + 1) == "ADP" || at(i + 1) == "TO") =>
          // participial adjectives after an auxiliary with a PP complement
          // are the passive verb ("sign-in events are written to an audit
          // trail"), not the attributive reading ("written consent")
          t.pos = "VERB"
        case "ADV" if t.lemma == "back" && at(i - 1) == "PRON" &&
          i + 1 < n && toks(i + 1).lemma == "up" =>
          // phrasal verb "back up" after a pronoun subject ("the photos
          // you back up")
          t.pos = "VERB"
        case "ADP" if t.lemma == "as" && i + 2 < n &&
          toks(i + 1).lemma == "well" && toks(i + 2).lemma == "as" =>
          // "as well as" coordinates like and/or — retag the triple CCONJ so
          // every conjunct walk passes through it
          t.pos = "CCONJ"; toks(i + 1).pos = "CCONJ"; toks(i + 2).pos = "CCONJ"
        case _ =>
      }
      i += 1
    }
    // final sweep: leftover VERBC → VERB
    toks.foreach { t => if (t.pos == "VERBC") t.pos = "VERB" }
    toks.toVector
  }

  // -------------------------------------------------------------------- ner

  private lazy val dataTrie = PhraseTrie(dataPhrases)
  private lazy val actorTrie = PhraseTrie(actorPhrases)
  private val actorProns = Set("we", "us", "i", "me", "you")

  /** Dictionary NER: longest lemma/text trie match over the DATA and ACTOR
    * phrase banks; pronoun first/second person → ACTOR; other nouns → NN.
    * Trie-based (see PhraseTrie) — no per-window allocation. */
  def nerTag(toks: Vector[Tok]): Vector[Tok] = {
    val n = toks.length
    val lemmas = new Array[String](n)
    val lowers = new Array[String](n)
    var k = 0
    while (k < n) { lemmas(k) = toks(k).lemma; lowers(k) = Lexicon.lower(toks(k).text); k += 1 }
    var i = 0
    while (i < n) {
      val dLen = dataTrie.longestMatch(lemmas, lowers, i, n)
      val aLen = actorTrie.longestMatch(lemmas, lowers, i, n)
      var (matched, label) =
        if (dLen >= aLen && dLen > 0) (dLen, "DATA")
        else if (aLen > 0) (aLen, "ACTOR")
        else (0, "")
      // "our servers log when you connect": a lemma bigram that matches a
      // dictionary phrase ("server log") across a plural noun + verb
      // candidate followed by a subordinator is a clause, not a mention
      if (matched == 2 &&
        Lexicon.endsWithIgnoreCase(toks(i).text, "s") && toks(i).lemma != Lexicon.lower(toks(i).text) &&
        verbLemmas.contains(toks(i + 1).lemma) &&
        (i + 2 >= toks.length || toks(i + 2).pos == "SCONJ" || toks(i + 2).pos == "PUNCT")) {
        // the plural head may still be an entity on its own ("our servers")
        if (aLen == 1) { matched = 1; label = "ACTOR" }
        else { matched = 0; label = "" }
      }
      if (matched > 0) {
        // a participle right after an auxiliary keeps its verb reading even
        // when its lemma is a dictionary entity ("your voice may be
        // recorded": 'record' is a DATA unigram, but this is the passive
        // verb, not a mention)
        val auxParticiple = matched == 1 && i > 0 &&
          Lexicon.endsWithIgnoreCase(toks(i).text, "ed") &&
          (toks(i - 1).pos == "AUX" ||
            // conjoined participle: "may be monitored or recorded"
            (toks(i - 1).pos == "CCONJ" && i > 1 && toks(i - 2).pos == "VERB"))
        // a dictionary word that is also a verb keeps its verb reading right
        // after a nominative pronoun ("We record your payment information"):
        // the pronoun needs a predicate, not a second mention
        val pronPredicate = matched == 1 &&
          (toks(i).pos == "VERB" || toks(i).pos == "VERBC") && i > 0 && {
            // an adverb may intervene ("it also banks billing records")
            val j = if (toks(i - 1).pos == "ADV" && i > 1) i - 2 else i - 1
            toks(j).pos == "PRON" &&
              SubjPronLemmas.contains(toks(j).lemma)
          }
        // a base-form verb candidate right after a modal/auxiliary is the
        // clause's verb even when its lemma is a dictionary entity ("we
        // will record your interests": 'record' is a DATA unigram)
        val auxPredicate = matched == 1 &&
          (toks(i).pos == "VERB" || toks(i).pos == "VERBC") && i > 0 &&
          toks(i - 1).pos == "AUX"
        // a verb-candidate unigram followed by a determiner/possessive is a
        // predicate taking an object ("couriers record your street
        // address") — no noun mention continues into a determiner
        val detPredicate = matched == 1 &&
          (toks(i).pos == "VERB" || toks(i).pos == "VERBC") &&
          i + 1 < n && toks(i + 1).pos == "DET" &&
          // a dict token directly after a SAME-class dict token is the
          // compound head, not a predicate ("health records the moment
          // you file" — 'records' continues the DATA compound); gerunds
          // are exempt ("employers sponsoring your account")
          !(i > 0 && toks(i - 1).ner == label &&
            !Lexicon.endsWithIgnoreCase(toks(i).text, "ing"))
        // inside a wh-free-relative ("What our servers record, ...") the
        // clause needs its predicate: a verb-candidate unigram whose left
        // context up to the 'what' is all nominal is that predicate
        val whPredicate = matched == 1 &&
          (toks(i).pos == "VERB" || toks(i).pos == "VERBC") && {
            var k = i - 1
            var seenWh = false
            var ok = true
            while (k >= 0 && ok && !seenWh) {
              val p = toks(k)
              if (p.lemma == "what") seenWh = true
              else if (p.pos == "DET" || p.pos == "NOUN" || p.pos == "PROPN" ||
                p.pos == "ADJ") k -= 1
              else ok = false
            }
            seenWh
          }
        if (auxParticiple || pronPredicate || auxPredicate || detPredicate ||
          whPredicate) i += 1
        else {
          var j = i
          while (j < i + matched) {
            // a dictionary-entity token is nominal even when its lemma is
            // also a verb ("contact information", "log data")
            val t = toks(j)
            if (t.pos == "VERB" || t.pos == "VERBC") t.pos = "NOUN"
            t.ner = label
            j += 1
          }
          i += matched
        }
      } else {
        val t = toks(i)
        t.ner =
          if (t.pos == "PRON" && actorProns.contains(lowers(i))) "ACTOR"
          else if (t.pos == "NOUN" || t.pos == "PROPN") "NN"
          else ""
        i += 1
      }
    }
    toks
  }

  // ------------------------------------------------------------- sentences

  /** Sentence boundaries: ./!/?/; tokens and blank-line SPACE tokens. */
  def sentenceSpans(toks: Vector[Tok]): Vector[(Int, Int)] = {
    val spans = Vector.newBuilder[(Int, Int)]
    var start = 0
    var i = 0
    val n = toks.length
    while (i < n) {
      val t = toks(i)
      val isBoundary = (t.pos == "PUNCT" && (t.text == "." || t.text == "!" || t.text == "?" || t.text == ";")) ||
        t.pos == "SPACE"
      if (isBoundary) {
        if (i > start) spans += ((start, i + (if (t.pos == "SPACE") 0 else 1)))
        start = i + 1
      }
      i += 1
    }
    if (start < n) spans += ((start, n))
    spans.result().filter { case (s, e) => (s until e).exists(k => toks(k).pos != "SPACE" && toks(k).pos != "PUNCT") }
  }

  // ------------------------------------------------------------------ chunk

  private val ChunkPos = Set("DET", "ADJ", "NOUN", "PROPN", "NUM")

  def chunk(toks: Vector[Tok], start: Int, end: Int): Vector[Chunk] = {
    val chunks = Vector.newBuilder[Chunk]
    var i = start
    while (i < end) {
      val t = toks(i)
      if (t.pos == "PRON") {
        chunks += Chunk(i, i + 1, i, t.ner)
        i += 1
      } else if (t.lemma == "example" && i > start && toks(i - 1).lemma == "for" &&
        ChunkPos(t.pos)) {
        // "for example" cue: the cue noun never absorbs the following NP
        chunks += Chunk(i, i + 1, i, t.ner)
        i += 1
      } else if (ChunkPos(t.pos) && !(t.pos == "DET" && t.lemma == "such" && i + 1 < end && toks(i + 1).lemma == "as")) {
        var j = i
        while (j < end && ChunkPos(toks(j).pos) &&
          !(toks(j).pos == "DET" && toks(j).lemma == "such" && j + 1 < end && toks(j + 1).lemma == "as") &&
          // a determiner right after a nominal starts a NEW noun phrase
          // ("for example your email address" is two chunks, not one)
          !(toks(j).pos == "DET" && j > i &&
            (toks(j - 1).pos == "NOUN" || toks(j - 1).pos == "PROPN" || toks(j - 1).pos == "NUM")))
          j += 1
        // extend through a multi-token dictionary entity that spans an ADP
        // ("date of birth"): consecutive tokens sharing the DATA/ACTOR label
        val runLabel = toks(j - 1).ner
        if (runLabel == "DATA" || runLabel == "ACTOR") {
          while (j < end && toks(j).ner == runLabel && toks(j).pos != "PUNCT") j += 1
        }
        // head = last nominal token in the run
        var h = j - 1
        while (h > i && toks(h).pos != "NOUN" && toks(h).pos != "PROPN" && toks(h).pos != "NUM") h -= 1
        if (toks(h).pos == "NOUN" || toks(h).pos == "PROPN" || toks(h).pos == "NUM") {
          // an untyped head with a DATA modifier right before it IS a data
          // mention ("interest profile", "usage report") — the dictionary
          // misses the head noun but the compound names user data
          if (toks(h).ner == "NN" && h > i && toks(h - 1).ner == "DATA" &&
            (toks(h - 1).pos == "NOUN" || toks(h - 1).pos == "ADJ"))
            toks(h).ner = "DATA"
          chunks += Chunk(i, j, h, toks(h).ner)
        }
        i = j
      } else i += 1
    }
    chunks.result()
  }

  // ------------------------------------------------------------------ parse

  private final case class VGroup(
      verb: Int, // index of the main verb token
      auxStart: Int, // leftmost index of its aux/neg/adv window
      neg: Boolean,
      passive: Boolean,
      toMarked: Boolean, // "to <verb>"
      toTok: Int) // index of the "to" particle, -1 if none

  /** Build the normalized per-sentence dependency graph. */
  def parseSentence(toks: Vector[Tok], start: Int, end: Int): Parse = {
    // a sentence with no finite verb restores a demoted verb candidate
    // ("Face-matching runs against the photos in your gallery"): the
    // plural-noun misreading only holds when another verb carries the
    // clause. A token INSIDE a dictionary mention is never the predicate
    // ("Face scans shelter in our entry vault" must revive "shelter", not
    // split the "face scans" mention at "scans" — batch 20), and base-form
    // candidates demoted by adjacency rules qualify too.
    if (!(start until end).exists(i => toks(i).pos == "VERB")) {
      def cand(i: Int): Boolean = {
        val t = toks(i)
        t.pos == "NOUN" && Lexicon.isLower(t.text) && verbLemmas.contains(t.lemma)
      }
      def clean(i: Int): Boolean =
        toks(i).ner != "DATA" && toks(i).ner != "ACTOR"
      val r = (start + 1 until end)
        .find(i => cand(i) && clean(i) && toks(i).text.endsWith("s"))
        .orElse((start + 1 until end)
          .find(i => cand(i) && clean(i) && toks(i).text == toks(i).lemma))
        // denominal mention-lemma verbs ("our nightly job couriers tax IDs
        // to ...") — but never a token CONTINUING a multi-token mention
        // ("face scans" must stay one mention and revive "shelter" instead)
        .orElse((start + 1 until end).find { i =>
          cand(i) && toks(i).text.endsWith("s") &&
            toks(i - 1).ner != toks(i).ner
        })
      r.foreach(i => toks(i).pos = "VERB")
    }
    // fronted counterfactual protector: "But for <NP>, ..." / "Were it
    // not for <NP>, ..." — the NP names what PREVENTED the counterfactual
    // (a cause), not a processed datum; clear its ner before chunking so
    // it neither forms a DATA chunk nor comma-chains into the main
    // clause's subject group (batch 14: "But for the chargeback probe,
    // gait signatures would have faded from our index")
    val protectorSpan: Option[(Int, Int)] = {
      val forAt =
        if (end - start > 3 && toks(start).lemma == "but" &&
          toks(start + 1).lemma == "for") start + 1
        else if (end - start > 5 && toks(start).lemma == "be" &&
          toks(start + 1).lemma == "it" && toks(start + 2).lemma == "not" &&
          toks(start + 3).lemma == "for") start + 3
        // "No matter how often you clear cookies," — the concessive
        // adjunct's NPs are conditions, not practices (batch 17)
        else if (end - start > 4 && toks(start).lemma == "no" &&
          toks(start + 1).lemma == "matter") start + 1
        // "However you sign in," — wh-ever concessive clause; plain
        // adverbial "However," keeps its comma right after (batch 19)
        else if (end - start > 3 && toks(start).lemma == "however" &&
          toks(start + 1).text != ",") start
        else -1
      if (forAt < 0) None
      else (forAt + 1 until end).find(k => toks(k).text == ",").map { c =>
        (forAt + 1 until c).foreach(k => toks(k).ner = "")
        (forAt + 1, c)
      }
    }
    // such-inversion result clause: "Such is our appetite for telemetry
    // THAT every crash dump is archived" — the "that" is a complementizer;
    // left as REL it builds a relative clause on the nearest noun and the
    // pattern matcher (root|ccomp only) never sees the verb (batch 19)
    if (end - start > 3 && toks(start).lemma == "such" &&
      toks(start + 1).pos == "AUX" && toks(start + 1).lemma == "be")
      (start + 2 until end).find(k => toks(k).pos == "REL" &&
        toks(k).lemma == "that").foreach(k => toks(k).pos = "SCONJ")
    val chunks = chunk(toks, start, end)
    val deps = new ListBuffer[Dep]
    val neg = scala.collection.mutable.Set[Int]()
    // determiner negation: "No audio recordings are made", "no personal
    // information is collected" — a chunk opened by "no" negates any
    // capture of its head. "No X ... without your consent" is the
    // conditional-positive idiom (X does happen, with consent), so the
    // determiner negation is lifted; verb-level negation ("we will never
    // share ... without your consent") is NOT — the reference keeps
    // negation at the verb root (collection_annotator.py:260).
    val consentConditional = {
      var found = false
      var k = start
      while (!found && k < end - 1) {
        if (toks(k).lemma == "without" &&
          (k + 1 until math.min(end, k + 5)).exists(j => ConsentWords.contains(toks(j).lemma)))
          found = true
        k += 1
      }
      found
    }
    chunks.foreach { c =>
      if (!consentConditional &&
        (c.start until c.end).exists(k => toks(k).pos == "DET" && toks(k).lemma == "no" &&
          // "no more X than ..." is a comparative bound, not negation
          !(k + 1 < c.end && toks(k + 1).lemma == "more" &&
            (c.end until math.min(end, c.end + 2)).exists(j => toks(j).lemma == "than"))))
        neg += c.head
    }
    val text = renderText(toks, start, end)

    // interrogative sentences are skipped entirely (reference
    // build_dependency_graph, collection_annotator.py:37-52,183-184):
    // trailing '?' or an auxiliary preceding the first subject
    // allocation pass 4: these run on EVERY sentence, so the scans are
    // primitive while-loops, not Range.find closures
    val lastReal = {
      var k = end - 1
      while (k >= start && toks(k).pos == "SPACE") k -= 1
      k // -1-equivalent: < start when the sentence is all SPACE
    }
    // an auxiliary before the first nominal = inverted (interrogative) order
    // — the reference's aux-before-subject test. Fronted adverbial clauses
    // ("When you create an account, we collect ...") put a nominal first,
    // so they pass; wh-questions without '?' fall through to the matcher,
    // which finds no object and emits nothing.
    val auxBeforeSubj = {
      var firstAux = -1
      var firstNom = -1
      var k = start
      while (k < end && (firstAux < 0 || firstNom < 0)) {
        val pz = toks(k).pos
        if (firstAux < 0 && pz == "AUX") firstAux = k
        if (firstNom < 0 && (pz == "PRON" || pz == "NOUN" || pz == "PROPN"))
          firstNom = k
        k += 1
      }
      firstAux >= 0 && (firstNom < 0 || firstAux < firstNom)
    }
    // a fronted aux-clause is not a question ("Should you participate in our
    // panel, we might ask ..."): a comma after the inverted aux followed by
    // a nominal-before-verb clause restores declarative order for the
    // matrix clause (the reference's test runs on the ROOT's aux/subject,
    // which this approximates without a parse)
    val frontedConditional = auxBeforeSubj && {
      (start until end).find(k => toks(k).pos == "AUX").exists { a =>
        (a until end).find(k => toks(k).text == ",").exists { c =>
          val nom = (c + 1 until end).find(k =>
            toks(k).pos == "PRON" || toks(k).pos == "NOUN" || toks(k).pos == "PROPN")
          val vb = (c + 1 until end).find(k =>
            toks(k).pos == "AUX" || toks(k).pos == "VERB" || toks(k).pos == "VERBC")
          (nom, vb) match {
            case (Some(nm), Some(v)) => nm < v
            case (Some(_), None) => true
            case _ => false
          }
        }
      }
    }
    // restrictive-adverb inversion is declarative, not interrogative
    // ("Scarcely have you tapped Pay when ...", "No sooner do you ...")
    val restrictiveInversion = auxBeforeSubj && {
      (start until end).find(k => toks(k).pos != "SPACE").exists { f =>
        val l = toks(f).lemma
        l == "scarcely" || l == "rarely" || l == "seldom" || l == "hardly" ||
          l == "never" || l == "barely" ||
          // "Not only does our till roll log ...", "Not for nothing does
          // ...", "Such is our appetite ... that", "Little does a guest
          // suspect ..." — all declarative inversions (batch 18)
          l == "not" || l == "such" || l == "little" ||
          (l == "no" && f + 1 < end && toks(f + 1).lemma == "sooner")
      }
    }
    if ((lastReal >= start && toks(lastReal).text == "?") ||
      (auxBeforeSubj && !frontedConditional && !restrictiveInversion))
      return Parse(start, end, toks, chunks, Vector.empty, Set.empty, text)

    // O(1) chunk-by-start lookup (allocation pass 4): the object-group
    // walker probes "is there a chunk starting at k" once per token of
    // every conjunction chain — a find() closure per probe was a steady
    // per-sentence allocator
    val chunkStartIdx: Array[Int] = {
      val a = Array.fill(end - start)(-1)
      var ci = 0
      while (ci < chunks.length) {
        val cs = chunks(ci).start - start
        if (cs >= 0 && cs < a.length) a(cs) = ci
        ci += 1
      }
      a
    }
    def chunkStartingAt(k: Int): Chunk = {
      if (k < start || k >= end) null
      else {
        val ix = chunkStartIdx(k - start)
        if (ix < 0) null else chunks(ix)
      }
    }
    def chunkAt(tok: Int): Option[Chunk] = chunks.find(c => c.start <= tok && tok < c.end)
    def chunkBefore(pos: Int): Option[Chunk] = {
      // reverse index scan, not filter().lastOption — the filter copied the
      // chunk Vector on every call (round-6 allocation pass)
      var q = chunks.length - 1
      while (q >= 0 && chunks(q).end > pos) q -= 1
      if (q >= 0) Some(chunks(q)) else None
    }

    // --- verb groups ---------------------------------------------------
    val vgs = new ArrayBuffer[VGroup]
    var i = start
    while (i < end) {
      if (toks(i).pos == "VERB") {
        var j = i - 1
        var negFlag = false
        var passive = false
        var toTok = -1
        var continue = true
        while (j >= start && continue) {
          val p = toks(j)
          if (p.pos == "AUX") {
            if (p.lemma == "be") passive = true
            j -= 1
          } else if (p.pos == "PART" && negations.contains(Lexicon.lower(p.text))) {
            negFlag = true; j -= 1
          } else if (p.pos == "PART" && p.lemma == "to") {
            toTok = j; j -= 1; continue = false
          } else if (p.pos == "ADV") j -= 1
          // floated quantifier between aux and participle ("are all
          // squared away") — batch 16
          else if (p.pos == "DET" && (p.lemma == "all" || p.lemma == "both")) j -= 1
          else if (p.text == "," && j - 2 >= start && toks(j - 1).pos == "ADV" &&
            toks(j - 2).text == ",") {
            // parenthetical adverb between aux and verb is transparent:
            // "automated filters do, however, scan them"
            j -= 3
          } else continue = false
        }
        // passive only if the verb looks like a past participle
        val vt = toks(i)
        val pastPart = Lexicon.lower(vt.text) != vt.lemma && !Lexicon.endsWithIgnoreCase(vt.text, "ing")
        passive = passive && pastPart
        vgs += VGroup(i, j + 1, negFlag, passive, toTok >= 0, toTok)
      }
      i += 1
    }

    // --- clause structure ----------------------------------------------
    // For each verb group: classify as root / conj-of-previous / xcomp /
    // ccomp / relcl, then attach subject.
    var prevMain = -1 // previous non-xcomp verb
    var lastVerb = -1
    val subjOf = scala.collection.mutable.Map[Int, List[Int]]() // verb -> subj chunk heads
    val passiveExtra = scala.collection.mutable.Set[Int]() // conj-inherited passives
    val objOf = scala.collection.mutable.Map[Int, List[Int]]()
    val conjWith = scala.collection.mutable.Map[Int, Int]() // conj verb -> leader

    def addDep(from: Int, to: Int, dep: String): Unit = deps += Dep(from, to, dep)

    def conjChunkHeads(c0: Chunk): List[Int] = {
      // collect heads of chunks linked by , and/or starting at c0
      val heads = ListBuffer(c0.head)
      var cur = c0
      var go = true
      while (go) {
        var k = cur.end
        var sawConj = false
        var sawCconj = false
        while (k < end && (toks(k).pos == "PUNCT" && toks(k).text == "," || toks(k).pos == "CCONJ")) {
          if (toks(k).pos == "CCONJ") sawCconj = true
          if (toks(k).pos == "CCONJ" || toks(k).text == ",") sawConj = true
          k += 1
        }
        // skip a comma-bounded parenthetical clause between conjuncts
        // ("credentials and, if you opt in, your contact list")
        if (sawConj && k < end && toks(k).pos == "SCONJ" && k > start &&
          toks(k - 1).text == ",") {
          var j = k + 1
          while (j < end && j - k < 8 && toks(j).text != ",") j += 1
          if (j < end && toks(j).text == ",") k = j + 1
        }
        // ", together with X" / ", along with X" coordinates like "and"
        if (!sawConj && k < end && k > start && toks(k - 1).text == "," &&
          (toks(k).lemma == "together" || toks(k).lemma == "along") &&
          k + 1 < end && toks(k + 1).lemma == "with") {
          sawConj = true
          k += 2
        }
        // ", specifically/namely/optionally X" appositive cues join the
        // group; a cue followed by its own comma is parenthetical filler
        if (k < end && k > start && toks(k - 1).text == "," &&
          ConjCueAdvs.contains(toks(k).lemma)) {
          sawConj = true
          k += 1
          if (k < end && toks(k).text == ",") k += 1
        }
        (Option(chunkStartingAt(k)): Option[Chunk]) match {
          case Some(nc) if sawConj =>
            // a bare comma (no and/or) followed by a chunk whose
            // comma/appositive chain leads to a predicate is a CLAUSE (or
            // subject-appositive) boundary, not a list — "To create a
            // profile, you must provide ..." and "..., our payment
            // processor, Stripe, receives ..." must not absorb the next
            // clause's subject into the object group
            // kind: 0 none, 1 verb, 2 aux; sawChunk: a subject chunk
            // intervened before the predicate (relcl shape)
            def predicateKind(c0: Chunk): (Int, Boolean) = {
              var q = c0.end
              var guard = 0
              var sawChunk = false
              while (q < end && guard < 8) {
                if (toks(q).text == ",") q += 1
                else chunkStartingAt(q) match {
                  case null =>
                    return (toks(q).pos match {
                      case "AUX" => 2
                      case "VERB" | "VERBC" =>
                        val tx = Lexicon.lower(toks(q).text)
                        if (!sawChunk && (tx.endsWith("ed") || tx.endsWith("ing"))) 0
                        else 1
                      case _ => 0
                    }, sawChunk)
                  case cc => sawChunk = true; q = cc.end
                }
                guard += 1
              }
              (0, sawChunk)
            }
            val (kind, viaChunk) = predicateKind(nc)
            // bare comma + any predicate = clause boundary; with a CCONJ,
            // an AUX-led chain ("..., and those images are retained") or a
            // DIRECT finite verb ("..., and its location tag stays...") is
            // one — but a verb reached through a subject chunk is a relcl
            // inside the list ("your name and the pages you visit")
            if ((!sawCconj && kind >= 1) || (sawCconj && kind == 2) ||
              (sawCconj && kind == 1 && !viaChunk)) go = false
            else { heads += nc.head; cur = nc }
          case _ => go = false
        }
      }
      heads.toList
    }

    for (vgIdx <- vgs.indices) {
      val vg = vgs(vgIdx)
      val v = vg.verb
      if (vg.neg) neg += v

      // relcl detection: [chunk X] (that|which|who)? [chunk S]? VERB
      // where X immediately precedes (modulo relativizer) the verb window.
      val beforeAux = vg.auxStart - 1
      var relclUpper = -1
      var relclSubj = -1
      chunkBefore(vg.auxStart) match {
        case Some(cS0) if cS0.end == vg.auxStart || cS0.end == beforeAux + 1 ||
          // "[subject chain], VERB": a comma directly before the verb
          // window ("your account data, including your purchase history,
          // would transfer") — the walk below resolves the chain head
          (cS0.end == beforeAux && toks(beforeAux).text == ",") ||
          // "[chain], whether successful or not, VERB": only closing
          // parenthetical filler (, / or / not / advs) before the window
          (cS0.end < vg.auxStart && (cS0.end until vg.auxStart).forall { k2 =>
            val t2 = toks(k2)
            (t2.pos == "PUNCT" && t2.text == ",") || t2.pos == "CCONJ" ||
              t2.pos == "PART" || t2.pos == "ADV"
          }) ||
          // "[upper] [subj] [relcl-verb] VERB": a bare relative directly
          // before the verb window ("A list of the friends you invite is
          // kept") — the matrix subject chain starts at the upper
          (cS0.end == beforeAux && toks(beforeAux).pos == "VERB" &&
            deps.exists(dd => dd.dep == "relcl" && dd.to == beforeAux)) =>
          // a comma-bounded PROPN appositive is transparent for relcl
          // detection ("the data that our payment processor, Stripe,
          // receives"): hop from the appositive back to the real subject
          val cS =
            if (cS0.end == beforeAux && toks(beforeAux).text == "," &&
              toks(cS0.head).pos == "PROPN" && cS0.start - 1 > start &&
              toks(cS0.start - 1).text == ",")
              chunkBefore(cS0.start - 1).filter(_.end == cS0.start - 1).getOrElse(cS0)
            else if (cS0.end == beforeAux && toks(beforeAux).pos == "VERB" &&
              deps.exists(dd => dd.dep == "relcl" && dd.to == beforeAux)) {
              val u = deps.collectFirst {
                case dd if dd.dep == "relcl" && dd.to == beforeAux => dd.from
              }.get
              chunks.find(ch => ch.start <= u && u < ch.end).getOrElse(cS0)
            } else cS0
          // is there another chunk or relativizer before cS?
          val gap = (cS.start - 1)
          // "so that / such that" opens a purpose clause, not a relative
          val purposeThat = gap - 1 >= start &&
            (toks(gap - 1).lemma == "so" || toks(gap - 1).lemma == "such")
          // "ask/acknowledge/agree that S V" is a complement clause, not a
          // relative — a verb right before "that" takes a ccomp
          val complementThat = gap - 1 >= start && toks(gap - 1).pos == "VERB"
          if (gap >= start && toks(gap).pos == "SCONJ" &&
            Relativizers.contains(toks(gap).lemma) && !purposeThat && !complementThat) {
            chunkBefore(gap).foreach { cX => relclUpper = cX.head; relclSubj = cS.head }
          } else if (!purposeThat && !complementThat) {
            chunkBefore(cS.start).foreach { cX =>
              // mid-sentence bare relatives need a nominal upper and a
              // pronominal subject ("the products you viewed") — a pronoun
              // upper would misread ccomp clauses ("inform you we collect")
              if (cX.end == cS.start && (vgIdx == 0 ||
                (toks(cS.head).pos == "PRON" &&
                  (toks(cX.head).pos == "NOUN" || toks(cX.head).pos == "PROPN")))) {
                relclUpper = cX.head; relclSubj = cS.head
              }
            }
          }
        case _ =>
      }
      if (relclUpper < 0) {
        // "[NP], which/who/that VERB ...": the relativizer itself is the
        // subject, resolved to its antecedent chunk (nearest NP across an
        // optional comma)
        val r = vg.auxStart - 1
        if (r >= start && toks(r).pos == "SCONJ" && Relativizers.contains(toks(r).lemma)) {
          val before = if (r - 1 >= start && toks(r - 1).text == ",") r - 1 else r
          chunkBefore(before).foreach { cX =>
            relclUpper = cX.head; relclSubj = cX.head
          }
        }
      }

      // is the previous verb's clause introduced by a subordinator? ("...,
      // and when you open them, feed into ...": 'open' leads no
      // coordination — the matrix clause resumes after the parenthetical)
      def subordinateLed(vgx: VGroup): Boolean = {
        var k = vgx.auxStart - 1
        var found = false
        var stop = false
        while (k >= start && !stop) {
          val t2 = toks(k)
          if (t2.pos == "SCONJ") { found = true; stop = true }
          else if (t2.text == "," || t2.pos == "CCONJ" || t2.pos == "VERB") stop = true
          else k -= 1
        }
        found
      }

      val isConj = lastVerb >= 0 && !vg.toMarked &&
        // coordinated verbs share voice: an ACTIVE relcl verb followed by a
        // comma and a PASSIVE matrix verb ("Page URLs you visit, ..., are
        // appended") is a clause boundary, not a verb chain
        (vgs(vgIdx - 1).passive == vg.passive ||
          // a bare -ed participle conjunct inherits the leader's voice
          // ("may be monitored or recorded")
          (Lexicon.endsWithIgnoreCase(toks(vg.verb).text, "ed") &&
            vg.auxStart == vg.verb)) && {
        // start the gap AFTER the previous verb's attached object chunks
        // ("set their own cookies and collect ..." is coordination even
        // though the leader has an object in between)
        val prevVerb = vgs(vgIdx - 1).verb
        val attachedEnd = objOf.getOrElse(prevVerb, Nil)
          .flatMap(h => chunks.find(c => c.start <= h && h < c.end)).map(_.end)
          .foldLeft(lastVerbEndBound(vgs, vgIdx, end))(math.max)
        val between = (attachedEnd until vg.auxStart)
          .filter(k => k >= 0 && k < end)
        // "A and B" or list coordination "A, B, and C" — a bare comma
        // between adjacent verbs counts (the closing CCONJ comes later);
        // a comma-separated clause with its own subject has non-conj tokens
        // in between, so it never matches
        between.nonEmpty &&
          between.forall(k => toks(k).pos == "CCONJ" || (toks(k).pos == "PUNCT" && toks(k).text == ",")) &&
          // a comma CLOSING a subordinate-led clause ends it — the matrix
          // resumes ("..., and when you open them, feed into ...");
          // comma-less coordination stays inside the clause ("that you
          // supply an email address and choose a password")
          !(between.exists(k => toks(k).text == ",") && subordinateLed(vgs(vgIdx - 1)))
      }

      if (vg.toMarked && lastVerb >= 0) {
        // xcomp: "... to improve ..." / "allow E to collect"
        // special-case "in order to": attach acl under order
        val inOrder = vg.toTok >= 2 &&
          toks(vg.toTok - 1).lemma == "order" && toks(vg.toTok - 2).lemma == "in"
        if (inOrder) {
          addDep(prevMain, vg.toTok - 2, "prep")
          addDep(vg.toTok - 2, vg.toTok - 1, "obj")
          addDep(vg.toTok - 1, v, "acl")
        } else {
          addDep(lastVerb, v, "xcomp")
        }
        addDep(v, vg.toTok, "aux")
        // control: object-control verbs (ask/allow/require...) pass their
        // OBJECT down as the infinitive's subject (reference handle_xcomp,
        // collection_annotator.py:113-124); purpose infinitives after
        // ordinary verbs are SUBJECT-controlled ("partners use your id to
        // build a profile" — the partners build it, not the id)
        if (ObjectControlVerbs.contains(toks(lastVerb).lemma) ||
          subjOf.get(lastVerb).forall(_.isEmpty))
          prevMainObjSubj(v, lastVerb, subjOf, objOf, addDep)
        else {
          val hs = subjOf(lastVerb)
          hs.foreach(h => addDep(v, h, "subj"))
          subjOf(v) = hs
        }
      } else if (relclUpper >= 0) {
        addDep(relclUpper, v, "relcl")
        addDep(v, relclSubj, "subj")
        subjOf(v) = List(relclSubj)
        addDep(-1, v, "root")
      } else if (isConj) {
        // coordinated verb: share subject with group leader — and inherit
        // passivity ("is created and stored": 'stored' has no aux of its
        // own but is passive through the group)
        addDep(-1, v, "root")
        if (vgs(vgIdx - 1).passive || passiveExtra.contains(vgs(vgIdx - 1).verb)) {
          val vt2 = toks(v)
          if (Lexicon.lower(vt2.text) != vt2.lemma && !Lexicon.endsWithIgnoreCase(vt2.text, "ing"))
            passiveExtra += v
        }
        conjWith(v) = vgs(vgIdx - 1).verb
        val lead = vgs(vgIdx - 1).verb
        subjOf.get(lead).foreach { hs =>
          hs.foreach(h => addDep(v, h, "subj"))
          subjOf(v) = hs
        }
        // negation chains across the WHOLE conj group ("never sell, rent,
        // or lease") — test the accumulated neg set, not just the previous
        // verb group's own flag, or the chain breaks after one hop
        if (neg.contains(vgs(vgIdx - 1).verb)) {
          // "but" resets negation (reference is_negative conj walk)
          val between = (vgs(vgIdx - 1).verb + 1 until vg.auxStart)
          if (!between.exists(k => toks(k).lemma == "but")) {
            if (!vg.neg && between.forall(k => toks(k).pos == "CCONJ" || toks(k).pos == "PUNCT")) neg += v
          }
        }
      } else {
        // main or ccomp verb
        val prevTok = vg.auxStart - 1
        val isCcomp = prevMain >= 0 && prevTok >= start &&
          ((prevTok until vg.auxStart).nonEmpty && toks(prevTok).pos == "SCONJ" && toks(prevTok).lemma == "that") ||
          (prevMain >= 0 && chunkBefore(vg.auxStart).exists(c => toks(prevTok).pos match {
            case _ => false
          }))
        if (isCcomp) addDep(prevMain, v, "ccomp") else addDep(-1, v, "root")
        // a matrix verb directly after a relative clause takes the relcl
        // HEAD as its subject: "[Information [we collect]] includes ..."
        val relclHead = deps.collectFirst {
          case Dep(upper, rv, "relcl")
            if vgIdx > 0 && vgs(vgIdx - 1).verb == rv && rv + 1 == vg.auxStart => upper
        }
        // coordinated relativized NPs share the role: "Both the query you
        // typed and the filters you applied are remembered" — earlier
        // uppers whose relcl verb is followed only by conj glue join in
        val relclGroup: List[Int] = relclHead match {
          case Some(h0) => (deps.collect {
            case Dep(u, rv2, "relcl") if rv2 < vg.auxStart && u != h0 &&
              chunks.find(_.start > rv2).exists(nc => nc.start < vg.auxStart &&
                (rv2 + 1 until nc.start).forall(k2 =>
                  toks(k2).pos == "CCONJ" ||
                    (toks(k2).pos == "PUNCT" && toks(k2).text == ","))) => u
          }.toList :+ h0).distinct
          case None => Nil
        }
        // temporal/privative gerund: "before collecting X", "without
        // sharing Y" — the gerund's subject is the matrix subject, and a
        // "without"-gerund is a negative statement
        val gerundPrep = prevTok >= start && toks(prevTok).pos == "ADP" &&
          Lexicon.endsWithIgnoreCase(toks(v).text, "ing") &&
          GerundPreps.contains(toks(prevTok).lemma)
        if (gerundPrep && prevMain >= 0 && subjOf.get(prevMain).exists(_.nonEmpty)) {
          val hs = subjOf(prevMain)
          hs.foreach(h => addDep(v, h, "subj"))
          subjOf(v) = hs
          if (toks(prevTok).lemma == "without") neg += v
        } else if (relclHead.isDefined) {
          // voice-aware: "[A list of the friends you invite] is kept" —
          // the relcl head is the PASSIVE matrix verb's promoted object
          if (vg.passive) {
            relclGroup.foreach(h => addDep(v, h, "obj"))
            objOf(v) = relclGroup
          } else {
            relclGroup.foreach(h => addDep(v, h, "subj"))
            subjOf(v) = relclGroup
          }
        } else
        // subject: nearest chunk ending at aux window start; when that chunk
        // is the object of a pre-verb of/about-PP, the subject is the chain
        // ROOT ("Audio recordings of support calls are retained" →
        // recordings, not calls)
        chunkBefore(vg.auxStart) match {
          case Some(c0) if c0.end >= vg.auxStart - 1 ||
            // only closing parenthetical filler intervenes ("[chain],
            // whether successful or not, are written ...")
            (c0.end until vg.auxStart).forall { k2 =>
              val t2 = toks(k2)
              (t2.pos == "PUNCT" && t2.text == ",") || t2.pos == "CCONJ" ||
                t2.pos == "PART" || t2.pos == "ADV" || t2.pos == "SCONJ" ||
                // comma-bounded bare participial parenthetical ("Your
                // marital status, once disclosed, sits ...") — batch 16
                (t2.pos == "VERB" && Lexicon.endsWithIgnoreCase(t2.text, "ed") &&
                  toks(c0.end).text == "," && vg.auxStart - 1 > c0.end &&
                  toks(vg.auxStart - 1).text == ",")
            } =>
            // ", <participle> from <NP>," before the verb: the nearest chunk
            // is inside a participial PP — the real subject is the
            // participle's own subject, resolved through up to three
            // prep-owner hops ("your coarse geolocation, derived from your
            // IP address, is collected"; "providers embedded in our pages,
            // like video players, may receive ...")
            def ownerSubj(h: Int, depth: Int): Option[List[Int]] =
              if (depth > 3) None
              else for {
                objDep <- deps.find(d => d.dep == "obj" && d.to == h && d.from != v)
                // a by-agent IS the semantic subject ("tools operated by
                // Hotjar capture ...") — never walk past it
                if toks(objDep.from).lemma != "by"
                prepDep <- deps.find(d => d.dep == "prep" && d.to == objDep.from && d.from != v)
                // a relcl's semantic owner is its UPPER, not its inner
                // subject ("devices you pair with the app report ..." —
                // the devices report, not you)
                s <- deps.find(d => d.dep == "relcl" && d.to == prepDep.from)
                  .map(d => List(d.from))
                  .orElse(subjOf.get(prepDep.from).filter(_.nonEmpty))
                  .orElse(ownerSubj(prepDep.from, depth + 1))
              } yield s
            // "[NP who VERB O] may VERB2": the nearest chunk is the relcl
            // verb's object — the matrix subject is the relcl's upper
            val relclObjSubj: Option[List[Int]] = for {
              objDep <- deps.find(d => d.dep == "obj" && d.to == c0.head && d.from != v)
              rc <- deps.find(d => d.dep == "relcl" && d.to == objDep.from)
            } yield List(rc.from)
            // a pronoun sitting right before the aux window IS the subject
            // ("..., and we keep server logs") — never re-route it through
            // a previous verb's spurious object attachment
            val participleSubj: Option[List[Int]] =
              if (toks(c0.head).pos == "PRON" && c0.end == vg.auxStart) None
              else relclObjSubj.orElse(ownerSubj(c0.head, 0))
            var c = c0
            var walkUp = participleSubj.isEmpty
            while (walkUp) {
              val gap = c.start - 1
              val gl = if (gap > start) toks(gap).lemma else ""
              if (c.start - 4 >= start && toks(c.start - 1).lemma == "with" &&
                (toks(c.start - 2).lemma == "along" || toks(c.start - 2).lemma == "together") &&
                toks(c.start - 3).text == "," && toks(c.start - 4).pos == "VERB" &&
                deps.exists(dd => dd.dep == "relcl" && dd.to == c.start - 4)) {
                // ", along with X," directly after a relcl verb: the
                // accompaniment rides with the relativized NP ("Page URLs
                // you visit, along with timestamps, are appended") — hop to
                // the relcl upper; the plain-NP accompaniment case keeps the
                // backward conj-group walk
                val u = deps.collectFirst {
                  case dd if dd.dep == "relcl" && dd.to == c.start - 4 => dd.from
                }.get
                chunks.find(ch => ch.start <= u && u < ch.end) match {
                  case Some(pc) if pc.head != c.head => c = pc
                  case _ => walkUp = false
                }
              } else if (c.start - 2 >= start &&
                (toks(c.start - 1).lemma == "never" || toks(c.start - 1).lemma == "not" ||
                  toks(c.start - 1).lemma == "nor") &&
                (toks(c.start - 2).text == "," ||
                  (c.start - 3 >= start && toks(c.start - 2).pos == "CCONJ" &&
                    toks(c.start - 3).text == ","))) {
                // ", never your exact birthday," / ", but not X," negative
                // appositive: the excluded NP is negated, and the clause's
                // real subject is the NP before the opening comma
                neg += c.head
                val openAt = if (toks(c.start - 2).text == ",") c.start - 2 else c.start - 3
                chunkBefore(openAt) match {
                  case Some(pc) if pc.head != c.head => c = pc
                  case _ => walkUp = false
                }
              } else if (gap > start && (gl == "of" || gl == "about" || gl == "in" ||
                gl == "on" || gl == "within" || gl == "to" || gl == "from" ||
                gl == "with")) {
                // NP-internal PP: the chain root owns the verb ("smart
                // speakers in your home may capture ...", "calls to
                // customer service may be recorded")
                chunkBefore(gap) match {
                  case Some(pc) if pc.end == gap => c = pc
                  case _ => walkUp = false
                }
              } else if (toks(c.head).pos == "PRON" && {
                // pronoun object inside a comma-bounded subordinate
                // parenthetical ("..., and when you open them, feed ..."):
                // the matrix subject is the NP before the parenthetical,
                // with a relcl subject resolved to its upper
                val sconjAt = (start until c.start).findLast(k2 =>
                  toks(k2).pos == "SCONJ" &&
                    deps.exists(dd => dd.dep == "obj" && dd.to == c.head &&
                      dd.from > k2 && dd.from < c.start + 3))
                sconjAt.exists { sj =>
                  val openComma = (start until sj).findLast(k2 => toks(k2).text == ",")
                  openComma.exists { oc =>
                    chunkBefore(oc) match {
                      case Some(pc0) =>
                        val pc =
                          if (deps.exists(dd => dd.dep == "relcl" &&
                            subjOf.get(dd.to).exists(_.contains(pc0.head))))
                            deps.collectFirst {
                              case dd if dd.dep == "relcl" &&
                                subjOf.get(dd.to).exists(_.contains(pc0.head)) =>
                                chunks.find(ch => ch.start <= dd.from && dd.from < ch.end)
                            }.flatten.getOrElse(pc0)
                          else pc0
                        if (pc.head != c.head) { c = pc; true } else false
                      case None => false
                    }
                  }
                }
              }) {
                // handled inside the guard (c reassigned)
              } else if (c.start - 3 >= start && toks(c.start - 1).pos == "ADP" &&
                toks(c.start - 2).pos == "ADJ" && toks(c.start - 3).text == ",") {
                // ", reachable at <NP>," appositive parenthetical — hop to
                // the NP before the opening comma
                chunkBefore(c.start - 3) match {
                  case Some(pc) if pc.head != c.head => c = pc
                  case _ => walkUp = false
                }
              } else if (gap > start && (gl == "exclude" || gl == "except")) {
                // pre-verb exceptive: "..., excluding message content, is
                // kept" — the excluded NP is NOT captured; the chain
                // continues at the NP before the exceptive
                neg += c.head
                val before = if (gap - 1 > start && toks(gap - 1).text == ",") gap - 1 else gap
                chunkBefore(before) match {
                  case Some(pc) => c = pc
                  case None => walkUp = false
                }
              } else if ((start until c.start).findLast(k2 =>
                toks(k2).pos == "SCONJ" && toks(k2).lemma == "whether" &&
                  k2 > start && toks(k2 - 1).text == ",").exists { w =>
                // ", whether successful or not," parenthetical: the matrix
                // subject is the NP before the opening comma
                chunkBefore(w - 1) match {
                  case Some(pc) if pc.head != c.head => c = pc; true
                  case _ => false
                }
              }) {
                // handled inside the guard (c reassigned)
              } else if (gap > start && gl == "include" &&
                gap - 1 > start && toks(gap - 1).text == ",") {
                // ", including X," appositive between the subject chain and
                // the verb ("A log of your purchases, including the time of
                // each order, is retained")
                chunkBefore(gap - 1) match {
                  case Some(pc) if pc.end == gap - 1 => c = pc
                  case _ => walkUp = false
                }
              } else walkUp = false
            }
            val heads0 = participleSubj.getOrElse(conjGroupEndingAt(chunks, toks, c, start))
            // a backward walk across a bare comma can absorb a FRONTED
            // clause's object ("To create a profile, you must provide..."
            // → {profile, you}): heads already attached as objects of an
            // earlier verb are not subjects/passive-objects of this one
            val filtered0 = heads0.filterNot(h =>
              objOf.exists { case (ov, hs) => ov != v && hs.contains(h) })
            // when everything filtered away but a pronoun anchors the
            // window ("..., it also banks billing records" — the backward
            // conj walk absorbed the previous clause's object), the
            // pronoun IS the subject (batch 18)
            val filtered =
              if (filtered0.isEmpty && toks(c0.head).pos == "PRON" &&
                heads0.contains(c0.head)) List(c0.head)
              else filtered0
            val heads = if (filtered.nonEmpty) filtered else {
              // the nearest NP is another verb's object — when that verb is
              // a participle with its own subject ("employers sponsoring
              // your account may view ..."), the participle's subject owns
              // this verb
              val viaParticiple = heads0.flatMap(h => objOf.collectFirst {
                case (ov, hs) if ov != v && hs.contains(h) &&
                  // only true participles ("employers sponsoring your
                  // account may view") — finite verbs like "lets us track"
                  // keep the nearest-NP reading
                  Lexicon.endsWithIgnoreCase(toks(ov).text, "ing") &&
                  subjOf.get(ov).exists(_.nonEmpty) => subjOf(ov)
              }.getOrElse(Nil)).distinct
              if (viaParticiple.nonEmpty) viaParticiple else heads0
            }
            if (vg.passive) {
              heads.foreach(h => addDep(v, h, "obj"))
              objOf(v) = heads
            } else {
              heads.foreach(h => addDep(v, h, "subj"))
              subjOf(v) = heads
              // "Neither X nor Y <verb> ...": the negation opens the
              // subject conj group, outside the verb's aux window
              val subjStart = chunks.filter(ch => heads.contains(ch.head))
                .map(_.start).minOption.getOrElse(c.start)
              // "Neither we nor anyone acting for us retains ...": scan the
              // whole pre-subject coordination for the fronted 'neither'
              var nk = subjStart - 1
              var neitherFound = false
              while (nk >= start && !neitherFound &&
                // participles inside the subject NP ("anyone acting for
                // us") are transparent; only a finite verb stops the scan
                (toks(nk).pos != "VERB" ||
                  Lexicon.endsWithIgnoreCase(toks(nk).text, "ing")) &&
                toks(nk).text != ";") {
                if (toks(nk).lemma == "neither") neitherFound = true
                nk -= 1
              }
              if (neitherFound) neg += v
            }
          case _ =>
        }
        prevMain = v
      }
      lastVerb = v

      // --- right-side attachments: objects, datives, PPs ----------------
      val regionEnd = if (vgIdx + 1 < vgs.length) vgs(vgIdx + 1).auxStart else end
      attachRight(toks, chunks, start, end, v, regionEnd, vg, deps, neg, subjOf, objOf, conjChunkHeads)
    }

    // --- rare-block trigger flags (round-6 allocation pass): one primitive
    // pass over the sentence; each gated block's own FIRST condition implies
    // its flag, so gating cannot change behavior — it only skips the
    // block's closure/Range/copy allocation on the large majority of
    // sentences that cannot match.
    var fComma = false; var fWh = false; var fThere = false
    var fReflex = false; var fInto = false; var fCorr = false
    var fTough = false; var fWhom = false; var fUnless = false
    var fLonger = false; var fProhib = false; var fCease = false
    var fTemporalPrep = false
    locally {
      var k = start
      while (k < end) {
        val t = toks(k)
        if (t.text == ",") fComma = true
        val l = t.lemma
        if (l == "what") fWh = true
        else if (l == "there") fThere = true
        else if (l == "themselves" || l == "itself") fReflex = true
        else if (l == "into" || l == "onto") fInto = true
        else if (l == "more" || l == "fewer" || l == "less") fCorr = true
        else if (ToughAdjs.contains(l)) fTough = true
        else if (l == "whom") fWhom = true
        else if (l == "unless") fUnless = true
        else if (l == "longer") fLonger = true
        else if (ProhibitLemmas.contains(l)) fProhib = true
        else if (CeaseLemmas.contains(l)) fCease = true
        else if (TemporalClausePreps.contains(l)) fTemporalPrep = true
        k += 1
      }
    }

    // --- verb-phrase ellipsis: ", and so do/does <NP>" repeats the nearest
    // preceding predicate with a new subject ("We collect your IP address,
    // and so do the content delivery networks" → the networks collect too)
    var eIdx = start
    while (eIdx < end - 3) {
      // ", and so do <NP>" / ", as do(es) <NP>" both repeat the nearest
      // preceding predicate with a new subject
      val soDo = toks(eIdx).pos == "CCONJ" && toks(eIdx + 1).lemma == "so" &&
        toks(eIdx + 2).lemma == "do"
      val asDo = toks(eIdx).lemma == "as" && toks(eIdx + 1).lemma == "do" &&
        eIdx > start && toks(eIdx - 1).text == ","
      if (soDo || asDo) {
        chunkAt(if (soDo) eIdx + 3 else eIdx + 2).foreach { c =>
          vgs.map(_.verb).filter(_ < eIdx).lastOption.foreach { v =>
            addDep(v, c.head, "subj")
            subjOf(v) = subjOf.getOrElse(v, Nil) :+ c.head
          }
        }
      }
      eIdx += 1
    }

    // --- conjunct-verb object sharing (reference conjunct flattening,
    // collection_annotator.py:67-90: children are copied across conj heads):
    // "We collect, use, and share your email address" gives every verb in
    // the chain the object of the member that has one -------------------
    if (conjWith.nonEmpty) {
      def leaderOf(v: Int): Int = conjWith.get(v).map(leaderOf).getOrElse(v)
      val groups = (conjWith.keys ++ conjWith.values).toVector.distinct
        .groupBy(leaderOf).values.filter(_.length > 1)
      groups.foreach { vs =>
        vs.find(objOf.get(_).exists(_.nonEmpty)).foreach { donor =>
          val hs = objOf(donor)
          vs.foreach { v =>
            if (!objOf.get(v).exists(_.nonEmpty)) {
              hs.foreach(h => addDep(v, h, "obj"))
              objOf(v) = hs
            }
          }
        }
      }
    }

    // --- fronted negative adverbial: "At no time do we sell ...", "Under
    // no circumstances will we share ..." — the det-no sits in a fronted
    // PP, so the determiner negation must transfer to the clause's verbs
    if (start + 1 < end && toks(start).pos == "ADP" &&
      toks(start + 1).pos == "DET" && toks(start + 1).lemma == "no") {
      vgs.foreach(vg => neg += vg.verb)
    }

    // --- negative-adverb inversion: "Never does X <verb>" (batch 14) —
    // the fronted adverb negates the MATRIX clause's verbs; a subordinate
    // clause after before/until/unless/once/when/after is presupposed,
    // not negated. ONLY "never" is a true negation here: "Seldom/Rarely
    // do we inspect X" asserts the practice still occurs (h610's
    // labeling convention), so those adverbs leave polarity alone.
    if (start + 1 < end && toks(start).lemma == "never" &&
      toks(start + 1).pos == "AUX" && toks(start + 1).lemma == "do") {
      val sconj = (start + 2 until end).find(k =>
        TemporalSconj.contains(toks(k).lemma)).getOrElse(end)
      // EXCEPT evasion-class verbs ("Never does a login slip past our
      // gate sentry", "... escape our audit trail"): negated evasion
      // asserts capture, so the polarity flip cancels and the positive
      // datum-subject reading is exactly right — registering the
      // negation here would emit a spurious NOT_ edge alongside it
      def evasion(v: Int): Boolean =
        EvasionVerbs.contains(toks(v).lemma) ||
          (SlipVerbs.contains(toks(v).lemma) &&
            v + 1 < end && toks(v + 1).lemma == "past")
      vgs.foreach(vg => if (vg.verb < sconj && !evasion(vg.verb)) neg += vg.verb)
    }

    // --- fronted-participle inversion: "Tucked into our billing crypt
    // are your card digits." — a clause-initial past participle with a
    // later stranded be-AUX is an inverted passive; the post-copular NP
    // (already attached as its object by the clause builder) is the
    // promoted theme (batch 24)
    if (toks(start).pos == "VERB" &&
      Lexicon.endsWithIgnoreCase(toks(start).text, "ed") &&
      subjOf.get(start).forall(_.isEmpty) &&
      (start + 1 until end).exists(k =>
        toks(k).pos == "AUX" && toks(k).lemma == "be"))
      passiveExtra += start

    // --- such-inversion result clause, dep side: the clause after "Such
    // is ... that" may still classify as a relative clause on the nearest
    // noun — re-root it and apply the passive promotion its verb missed
    // (batch 19)
    if (end - start > 3 && toks(start).lemma == "such" &&
      toks(start + 1).pos == "AUX" && toks(start + 1).lemma == "be") {
      deps.toVector.foreach { dg =>
        if (dg.dep == "relcl") {
          val v = dg.to
          deps -= dg
          if (!deps.exists(dd => dd.dep == "root" && dd.to == v))
            addDep(-1, v, "root")
          vgs.find(_.verb == v).filter(_.passive).foreach { _ =>
            if (!objOf.get(v).exists(_.nonEmpty))
              subjOf.get(v).filter(_.nonEmpty).foreach { ss =>
                deps.filterInPlace(dd => !(dd.from == v && dd.dep == "subj"))
                subjOf.remove(v)
                ss.foreach(h => addDep(v, h, "obj"))
                objOf(v) = ss
              }
          }
        }
      }
    }

    // --- counterfactual protector cleanup: its ner was cleared before
    // chunking, but comma coordination still chains the protector NP into
    // the main verb's subject group ("But for the chargeback probe, gait
    // signatures would have faded ..."), and mention-text normalization
    // would resolve the captured token to a datum — drop every dep that
    // touches the span
    protectorSpan.foreach { case (lo, hi) =>
      def inSpan(k: Int) = k >= lo && k < hi
      deps.filterInPlace(dd => !inSpan(dd.to) && !inSpan(dd.from))
      subjOf.keys.toVector.foreach(v =>
        subjOf.get(v).foreach(l => subjOf(v) = l.filterNot(inSpan)))
      objOf.keys.toVector.foreach(v =>
        objOf.get(v).foreach(l => objOf(v) = l.filterNot(inSpan)))
    }

    // --- temporal subordinate clause: "... end before our heatmap pockets
    // the scroll path" — the NP after before/after/until/once/while is the
    // SUBORDINATE verb's subject, not the matrix verb's prep object, when
    // a finite verb follows it directly; without the re-attach the
    // subordinate verb steals a subject from before the conjunction
    // (batch 14)
    if (fTemporalPrep) deps.toVector.foreach { pd =>
      if (pd.dep == "prep" &&
        TemporalClausePreps.contains(toks(pd.to).lemma)) {
        val prepTok = pd.to
        deps.find(d2 => d2.from == prepTok && d2.dep == "obj").foreach { od =>
          chunks.find(_.head == od.to).foreach { ch =>
            if (ch.end < end && toks(ch.end).pos == "VERB") {
              val v2 = ch.end
              deps -= od
              deps.filterInPlace(dd =>
                !(dd.from == v2 && dd.dep == "subj" && dd.to < prepTok))
              addDep(v2, od.to, "subj")
              subjOf(v2) = (subjOf.getOrElse(v2, Nil).filter(_ > prepTok) :+ od.to).distinct
            }
          }
        }
      }
    }

    // --- fronted additive PP: "In addition to X, S V O" — X joins the
    // main verb's objects (and must not leak into its subject group)
    locally {
      val addLen =
        if (end - start > 3 && toks(start).lemma == "in" &&
          toks(start + 1).lemma == "addition" && toks(start + 2).lemma == "to") 3
        else if (end - start > 1 && toks(start).lemma == "besides") 1
        else if (end - start > 2 && toks(start).lemma == "along" &&
          toks(start + 1).lemma == "with") 2
        else 0
      if (addLen > 0) chunks.find(_.start == start + addLen).foreach { fc =>
        if (fc.end < end && toks(fc.end).text == ",") {
          vgs.headOption.foreach { vg =>
            val v0 = vg.verb
            deps --= deps.filter(d => d.dep == "subj" && d.to == fc.head).toVector
            subjOf.keys.foreach(k => subjOf(k) = subjOf(k).filterNot(_ == fc.head))
            if (objOf.get(v0).exists(_.nonEmpty)) {
              addDep(v0, fc.head, "obj")
              objOf(v0) = objOf(v0) :+ fc.head
            }
          }
        }
      }
    }

    // --- it-cleft: "It is X(, not Y,) that S V ..." — the clefted NP is
    // the object of the cleft clause's verb ("It is your IP address ...
    // that our servers log")
    locally {
      val f = (start until end).find(k => toks(k).pos != "SPACE")
      val isCleft = f.exists(k => toks(k).lemma == "it" && k + 1 < end &&
        toks(k + 1).pos == "AUX" && toks(k + 1).lemma == "be")
      if (isCleft) {
        val focus = chunks.find(_.start > f.get + 1)
        val thatPos = focus.flatMap(fc => (fc.end until end).find(k =>
          toks(k).pos == "SCONJ" && toks(k).lemma == "that"))
        for (fc <- focus; tp <- thatPos) {
          vgs.find(vg => vg.verb > tp && subjOf.get(vg.verb).exists(_.nonEmpty) &&
            !objOf.get(vg.verb).exists(_.nonEmpty)).foreach { vg =>
            addDep(vg.verb, fc.head, "obj")
            objOf(vg.verb) = List(fc.head)
          }
        }
      }
    }

    // --- get-passive: "Your photos may get shared with our sponsors" —
    // the participle after 'get' is passive and 'get''s subject is its
    // promoted object. "wind up / end up V-ed" is the same raising shape
    // with a particle before the participle ("Refund histories wind up
    // pigeonholed in our claims cabinet" — batch 13).
    deps.toVector.foreach { dg =>
      val partAt =
        if (dg.dep != "subj" || dg.from < 0) -1
        else if (toks(dg.from).lemma == "get" && dg.from + 1 < end &&
          toks(dg.from + 1).pos == "VERB" &&
          Lexicon.endsWithIgnoreCase(toks(dg.from + 1).text, "ed")) dg.from + 1
        else if ((toks(dg.from).lemma == "wind" || toks(dg.from).lemma == "end") &&
          dg.from + 2 < end && toks(dg.from + 1).lemma == "up" &&
          toks(dg.from + 2).pos == "VERB" &&
          Lexicon.endsWithIgnoreCase(toks(dg.from + 2).text, "ed")) dg.from + 2
        else -1
      if (partAt >= 0) {
        val part = partAt
        // the participle's own subj capture is an artifact of the rewrite
        // — drop it so the get-passive looks exactly like the be-passive
        // ("gets tucked into the customer file" must not capture the
        // promoted object a second time as E1)
        deps.filterInPlace(dd => !(dd.from == part && dd.dep == "subj"))
        subjOf.remove(part)
        addDep(part, dg.to, "obj")
        objOf(part) = objOf.getOrElse(part, Nil) :+ dg.to
        passiveExtra += part
      }
    }

    // --- right-dislocation: "They end up in our vault, those scanned
    // receipts." — a they/these/those subject with a clause-final
    // comma-bounded NP takes the dislocated NP as its referent (batch 16)
    if (fComma) locally {
      chunks.lastOption.foreach { c =>
        val endsSentence = (c.end until end).forall(k => toks(k).pos == "PUNCT")
        val commaBefore = c.start > start && toks(c.start - 1).text == ","
        if (endsSentence && commaBefore) {
          vgs.foreach { vg =>
            val ss = subjOf.getOrElse(vg.verb, Nil)
            if (vg.verb < c.start && ss.nonEmpty && ss.forall(h =>
              toks(h).lemma == "they" || toks(h).lemma == "these" ||
                toks(h).lemma == "those")) {
              deps.filterInPlace(dd => !(dd.from == vg.verb && dd.dep == "subj"))
              addDep(vg.verb, c.head, "subj")
              subjOf(vg.verb) = List(c.head)
              // drop the mis-attachment of the dislocated NP as a prep obj
              deps.filterInPlace(dd =>
                !(dd.dep == "obj" && dd.to == c.head && dd.from != vg.verb))
            }
          }
        }
      }
    }

    // --- pseudo-partitive subject: "A stream of location pings pours
    // into our route trough" — a non-DATA subject head whose chunk ends
    // in an of-PP over a DATA chunk re-points at the DATA head (batch 18;
    // the reverse of the recordings-of-support-calls chain-root rule,
    // which keeps the upper when the upper IS the datum)
    deps.toVector.foreach { dg =>
      if (dg.dep == "subj" && toks(dg.to).ner != "DATA") {
        chunks.find(c => c.head == dg.to && c.end < end &&
          toks(c.end).lemma == "of").foreach { c =>
          chunks.find(_.start == c.end + 1)
            .filter(c2 => toks(c2.head).ner == "DATA").foreach { c2 =>
              deps -= dg
              addDep(dg.from, c2.head, "subj")
              subjOf(dg.from) = subjOf.getOrElse(dg.from, Nil)
                .map(h => if (h == dg.to) c2.head else h).distinct
            }
        }
      }
    }

    // --- presentational there-inversion: "There lurks, in our analytics
    // loft, a tally of your dwell times." — the expletive subject is
    // re-pointed at the postposed NP, resolved through a partitive
    // of-chain ("a tally OF your dwell times") — batch 17
    if (fThere) vgs.foreach { vg =>
      val ss = subjOf.getOrElse(vg.verb, Nil)
      if (ss.nonEmpty && ss.forall(h => toks(h).lemma == "there")) {
        chunks.find(c => c.start > vg.verb &&
          deps.exists(dd => dd.from == vg.verb && dd.dep == "obj" && dd.to == c.head))
          .foreach { c =>
            val head =
              if (c.end < end && toks(c.end).lemma == "of")
                chunks.find(_.start == c.end + 1)
                  .filter(c2 => toks(c2.head).ner == "DATA")
                  .map(_.head).getOrElse(c.head)
              else c.head
            deps.filterInPlace(dd => !(dd.from == vg.verb &&
              (dd.dep == "subj" || (dd.dep == "obj" && dd.to == c.head))))
            objOf(vg.verb) = objOf.getOrElse(vg.verb, Nil).filterNot(_ == c.head)
            addDep(vg.verb, head, "subj")
            subjOf(vg.verb) = List(head)
          }
      }
    }

    // --- middle-voice reflexive: "Call recordings file themselves in our
    // coaching drawer" — a reflexive object is the subject acting on
    // itself; rewrite to the passive shape (subject = promoted theme),
    // exactly like the get-passive above (batch 15)
    if (fReflex) deps.toVector.foreach { dg =>
      if (dg.dep == "obj" && dg.from >= 0 && toks(dg.from).pos == "VERB" &&
        (toks(dg.to).lemma == "themselves" || toks(dg.to).lemma == "itself") &&
        // "help themselves TO X" is acquisition, not middle voice — a
        // to-PP right after the reflexive keeps the idiom reading
        !(dg.to + 1 < end && toks(dg.to + 1).lemma == "to")) {
        val v = dg.from
        deps -= dg
        objOf(v) = objOf.getOrElse(v, Nil).filterNot(_ == dg.to)
        subjOf.get(v).filter(_.nonEmpty).foreach { ss =>
          deps.filterInPlace(dd => !(dd.from == v && dd.dep == "subj"))
          subjOf.remove(v)
          ss.foreach(h => addDep(v, h, "obj"))
          objOf(v) = (objOf.getOrElse(v, Nil) ++ ss).distinct
          passiveExtra += v
        }
      }
    }

    // --- locative inversion: "Into our tally book tumble the location
    // pings of every ride" — a fronted into/onto/in PP followed by a verb
    // takes the POST-verbal NP as its subject; a subject "stolen" from the
    // fronted PP's own NP (the dep builder attaches the nearest preceding
    // noun) is re-attached (batch 15)
    if (fInto) locally {
      val f = (start until end).find(k => toks(k).pos != "SPACE")
      // into/onto ONLY: a fronted plain-"in" PP ("In some cases, your data
      // is shared ...") is overwhelmingly a sentence adverbial, not an
      // inverted locative — and the agentless-passive guard below keeps
      // in-fronted passives on their passive reading (round-5 ADVICE high)
      if (f.exists(k => toks(k).pos == "ADP" &&
        (toks(k).lemma == "into" || toks(k).lemma == "onto"))) {
        // the PP's NP is the first chunk after the ADP (a determiner or
        // premodifying adverb may separate them: "Into our tally book")
        val ppChunk = chunks.find(_.start > f.get)
        vgs.find { vg =>
          // passives legitimately lack an agent subject — never rewire them
          val notPassive = !vg.passive && !passiveExtra.contains(vg.verb)
          // true inversion has NO NP chunk between the fronted PP and the
          // verb (the postposed subject follows the verb)
          val noNpBetween = !chunks.exists(c =>
            ppChunk.exists(pc => c.start >= pc.end) && c.end <= vg.verb)
          notPassive && noNpBetween &&
          (subjOf.get(vg.verb).forall(_.isEmpty) ||
            (ppChunk.exists(pc => subjOf(vg.verb).forall(h =>
              h >= pc.start && h < pc.end)) && vg.verb < end - 1))
        }.foreach { vg =>
          chunks.find(_.start > vg.verb).foreach { c =>
            // the post-verbal NP may already sit in the object slot
            deps.filterInPlace(dd => !(dd.from == vg.verb &&
              (dd.dep == "subj" || (dd.dep == "obj" && dd.to == c.head))))
            objOf(vg.verb) = objOf.getOrElse(vg.verb, Nil).filterNot(_ == c.head)
            addDep(vg.verb, c.head, "subj")
            subjOf(vg.verb) = List(c.head)
            // the fronted PP is the verb's own locative
            ppChunk.foreach { pc =>
              addDep(vg.verb, f.get, "prep")
              addDep(f.get, pc.head, "obj")
            }
          }
        }
      }
    }

    // --- comparative correlative, fronted object: ", the more search
    // terms our index hoards" — the clause after the comma is OSV; a
    // clause-final verb with a subject but no object takes the NP right
    // after "the more/fewer/less" as its object (batch 15)
    if (fCorr) locally {
      (start until end - 2).foreach { k =>
        if (toks(k).lemma == "the" &&
          (toks(k + 1).lemma == "more" || toks(k + 1).lemma == "fewer" ||
            toks(k + 1).lemma == "less")) {
          for {
            // the chunker may absorb "the more" into the fronted NP
            c1 <- chunks.find(c => (c.start == k || c.start == k + 2) &&
              c.end > k + 2)
            c2 <- chunks.find(_.start == c1.end)
            vg <- vgs.find(vg => vg.verb == c2.end &&
              subjOf.get(vg.verb).exists(_.nonEmpty) &&
              !objOf.get(vg.verb).exists(_.nonEmpty))
          } {
            addDep(vg.verb, c1.head, "obj")
            objOf(vg.verb) = List(c1.head)
          }
        }
      }
    }

    // --- reversed pseudo-cleft: "A snapshot of your contact list is what
    // our sync agent carries home" — the pre-copula NP is the wh-clause
    // verb's object (mirror of the what-first pseudo-cleft below); the NP
    // resolves through a partitive of-chain to its typed head (batch 15)
    if (fWh) locally {
      val f = (start until end).find(k => toks(k).pos != "SPACE")
      for {
        fc <- chunks.headOption if f.contains(fc.start)
        cop <- (fc.end until end).find(k => toks(k).pos == "AUX" && toks(k).lemma == "be")
        if cop + 1 < end && toks(cop + 1).lemma == "what"
        vg <- vgs.find(vg => vg.verb > cop + 1 &&
          subjOf.get(vg.verb).exists(_.nonEmpty))
      } {
        val objHead =
          if (toks(fc.head).ner == "DATA" || toks(fc.head).ner == "ACTOR") fc.head
          // partitive of-chain by adjacency — the pre-copula NP precedes
          // any verb, so attachRight never built its of-PP deps
          else if (fc.end < end && toks(fc.end).lemma == "of")
            chunks.find(_.start == fc.end + 1)
              .filter(c => toks(c.head).ner == "DATA" || toks(c.head).ner == "ACTOR")
              .map(_.head).getOrElse(fc.head)
          else fc.head
        addDep(vg.verb, objHead, "obj")
        objOf(vg.verb) = (objOf.getOrElse(vg.verb, Nil) :+ objHead).distinct
      }
    }

    // --- tough-movement: "Your salary band is easy for our pay desk to
    // look up in the payroll roll" — the matrix subject is the
    // infinitive's OBJECT; the for-NP is its subject (which the clause
    // builder already attaches) — batch 19
    if (fTough) locally {
      for {
        c1 <- chunks.headOption if c1.start == start
        cop <- (c1.end until end).find(k => toks(k).pos == "AUX" && toks(k).lemma == "be")
        adj <- (cop + 1 until math.min(end, cop + 3)).find(k =>
          ToughAdjs.contains(toks(k).lemma))
        forAt <- (adj + 1 until math.min(end, adj + 3)).find(k => toks(k).lemma == "for")
        toAt <- (forAt + 1 until end).find(k => toks(k).lemma == "to")
        vg <- vgs.find(v2 => v2.verb > toAt &&
          !objOf.get(v2.verb).exists(_.nonEmpty))
      } {
        addDep(vg.verb, c1.head, "obj")
        objOf(vg.verb) = List(c1.head)
      }
    }

    // --- VP ellipsis: "..., but your search terms are, for autocomplete"
    // — a stranded be-AUX inherits the nearest preceding passive verb,
    // whose promoted-object set gains the stranded subject
    (start until end).foreach { k =>
      if (toks(k).pos == "AUX" && toks(k).lemma == "be" &&
        (k + 1 >= end || toks(k + 1).pos == "PUNCT")) {
        for {
          c <- chunkBefore(k) if c.end == k
          pv <- vgs.filter(v2 => v2.verb < k &&
            (v2.passive || passiveExtra.contains(v2.verb))).lastOption
        } {
          addDep(pv.verb, c.head, "obj")
          objOf(pv.verb) = objOf.getOrElse(pv.verb, Nil) :+ c.head
        }
      }
    }

    // --- right-node raising: "We collect, and our partners receive, your
    // device identifier" — v1's captured "object" is really the next
    // conjunct's subject; it shares v2's (right-node) object instead. The
    // comma directly after v1 is the signature.
    if (fComma) deps.toVector.foreach { d1 =>
      if (d1.dep == "obj" && d1.from + 1 < end && toks(d1.from + 1).text == ",") {
        deps.find(d2 => d2.dep == "subj" && d2.to == d1.to &&
          d2.from > d1.from &&
          // the conjunct's subject must be EXACTLY the raised node — a
          // multi-subject verb absorbed other material, not RNR
          subjOf.get(d2.from).exists(_ == List(d1.to))).foreach { d2 =>
          val (v1, v2) = (d1.from, d2.from)
          deps.filterInPlace(dd => !(dd.from == v1 && dd.dep == "obj" && dd.to == d1.to))
          objOf(v1) = objOf.getOrElse(v1, Nil).filterNot(_ == d1.to)
          objOf.get(v2).foreach { o2 =>
            o2.foreach(h => addDep(v1, h, "obj"))
            objOf(v1) = objOf.getOrElse(v1, Nil) ++ o2
          }
        }
      }
    }

    // --- pied-piping relative: "[the vendors] to whom we disclose [DT]" —
    // the relcl upper is the preposition's object, completing the
    // share-with/to pattern shape
    (start + 1 until end - 2).foreach { k =>
      if (toks(k).lemma == "to" && (toks(k + 1).lemma == "whom" ||
        toks(k + 1).lemma == "which")) {
        for {
          up <- chunkBefore(k)
          vg2 <- vgs.find(_.verb > k + 1)
        } {
          addDep(vg2.verb, k, "prep")
          addDep(k, up.head, "obj")
        }
      }
    }

    // --- embedded interrogative complement: "note which pages load
    // slowly" — the wh-NP is the matrix verb's object
    vgs.foreach { vg =>
      val v = vg.verb
      if (v + 2 < end && (toks(v + 1).lemma == "which" || toks(v + 1).lemma == "what") &&
        !objOf.get(v).exists(_.nonEmpty)) {
        chunks.find(_.start == v + 2).foreach { c =>
          addDep(v, c.head, "obj")
          objOf(v) = List(c.head)
        }
      }
    }

    // --- right-node raising over a PP verb: "We ask for, and verify, the
    // identity document" — the dangling preposition takes the second
    // conjunct's object, and the conjunct inherits the first verb's subject
    if (fComma) (start until end - 2).foreach { v1 =>
      if (toks(v1).pos == "VERB" && toks(v1 + 1).pos == "ADP" &&
        toks(v1 + 2).text == "," && !deps.exists(d => d.from == v1 + 1)) {
        vgs.find(_.verb > v1 + 2).foreach { vg2 =>
          objOf.get(vg2.verb).foreach { o2 =>
            if (o2.nonEmpty) {
              addDep(v1, v1 + 1, "prep")
              o2.foreach(h => addDep(v1 + 1, h, "obj"))
              if (subjOf.get(vg2.verb).forall(_.isEmpty))
                subjOf.get(v1).foreach { s1 =>
                  s1.foreach(h => addDep(vg2.verb, h, "subj"))
                  subjOf(vg2.verb) = s1
                }
            }
          }
        }
      }
    }

    // --- pseudo-cleft: "What our servers record(, besides X,) is Y" — the
    // wh-free-relative's verb takes the post-copula predicate NP as its
    // object (the mirror image of the it-cleft above)
    if (fWh) locally {
      val f = (start until end).find(k => toks(k).pos != "SPACE")
      if (f.exists(k => toks(k).lemma == "what")) {
        vgs.find(vg => vg.verb > f.get && subjOf.get(vg.verb).exists(_.nonEmpty) &&
          !objOf.get(vg.verb).exists(_.nonEmpty)).foreach { vg =>
          val cop = (vg.verb + 1 until end).find(k =>
            toks(k).pos == "AUX" && toks(k).lemma == "be")
          // a participle after the copula is a passive predicate ("What
          // little location data we see IS ROUNDED ..."), not a cleft focus
          val clefted = cop.exists { cp =>
            (cp + 1 until end).find(k => toks(k).pos != "ADV")
              .exists(a => toks(a).pos != "VERB")
          }
          if (clefted) for (cp <- cop; fc <- chunks.find(_.start > cp)) {
            addDep(vg.verb, fc.head, "obj")
            objOf(vg.verb) = List(fc.head)
          }
        }
      }
    }

    // --- exemplifier with interposed parenthetical PP: "including, for
    // card payments, the last four digits of the card number" — the cue's
    // object is the first chunk after the closing comma (resolved through a
    // partitive of-chain to the typed head), and the cue preps off the
    // nearest preceding NP so the subsumption annotator sees the normal
    // upper -prep(include)-> cue -obj-> lower shape
    locally {
      (start until end).foreach { i =>
        val t = toks(i)
        if (t.pos == "ADP" && t.lemma == "include" &&
          !deps.exists(d => d.from == i) &&
          i + 1 < end && toks(i + 1).pos == "PUNCT" && toks(i + 1).text == ",") {
          val close = (i + 2 until end).find(k =>
            toks(k).pos == "PUNCT" && toks(k).text == ",")
          for (cl <- close; fc <- chunks.find(_.start > cl)) {
            val objHead =
              if (toks(fc.head).ner == "DATA" || toks(fc.head).ner == "ACTOR") fc.head
              else (for {
                pe <- deps.find(d2 => d2.from == fc.head && d2.dep == "prep" &&
                  toks(d2.to).lemma == "of")
                oe <- deps.find(d3 => d3.from == pe.to && d3.dep == "obj" &&
                  toks(d3.to).ner == "DATA")
              } yield oe.to).getOrElse(fc.head)
            chunks.filter(_.end <= i).lastOption.foreach { up =>
              addDep(up.head, i, "prep")
              addDep(i, objHead, "obj")
            }
          }
        }
      }
    }

    // --- relative-clause object gap: "voice recordings, which we
    // transcribe" / "the data we collect" — a relcl verb with a subject
    // but no object takes its upper as the object (the relativized slot)
    deps.toVector.foreach { d =>
      if (d.dep == "relcl" && subjOf.get(d.to).exists(_.nonEmpty) &&
        !objOf.get(d.to).exists(_.nonEmpty) &&
        !subjOf(d.to).contains(d.from) &&
        // only inside a clause with its own main verb — a bare relcl
        // fragment ("Information We Collect" as a heading) states no
        // practice of its own
        deps.exists(r => r.dep == "root" && r.to != d.to)) {
        addDep(d.to, d.from, "obj")
        objOf(d.to) = List(d.from)
      }
    }

    // --- "not ... unless you <verb>" is the conditional-positive idiom
    // (the practice happens, upon the user's direction/consent) — lift the
    // matrix negation; "unless required by law" and other non-user
    // conditions keep the negative reading
    if (fUnless) locally {
      val unlessYou = (start until end - 1).find { k =>
        toks(k).lemma == "unless" &&
          (k + 1 until math.min(end, k + 3)).exists(j =>
            toks(j).lemma == "you" || toks(j).lemma == "your")
      }
      unlessYou.foreach { u => neg.retain(_ > u) }
    }

    // --- discontinued practice: "no longer <verb>" negates its clause's
    // verb, and "no longer do so" (do-so ellipsis) also negates the
    // anaphoric antecedent ("We previously collected your precise
    // location, but we no longer do so")
    if (fLonger) locally {
      (start until end - 2).foreach { k =>
        if (toks(k).lemma == "no" && toks(k + 1).lemma == "longer") {
          vgs.find(_.verb > k + 1) match {
            case Some(vg) =>
              neg += vg.verb
              if (toks(vg.verb).lemma == "do" &&
                vg.verb + 1 < end && toks(vg.verb + 1).lemma == "so")
                vgs.filter(_.verb < k).map(_.verb).lastOption.foreach(neg += _)
            case None =>
              // aux-only "do so" never formed a verb group: negate the
              // ellipsis antecedent directly
              if (k + 2 < end && toks(k + 2).lemma == "do" &&
                k + 3 < end && toks(k + 3).lemma == "so")
                vgs.filter(_.verb < k).map(_.verb).lastOption.foreach(neg += _)
          }
        }
      }
    }

    // --- prohibition scope: "prohibited/prevented/barred from <gerund>"
    // negates the gerund's practice (a ban is not a disclosure)
    if (fProhib) locally {
      (start until end - 1).foreach { k =>
        if (ProhibitLemmas.contains(toks(k).lemma)) {
          // "prohibited FROM <gerund>"
          if (k + 2 < end && toks(k + 1).lemma == "from" &&
            Lexicon.endsWithIgnoreCase(toks(k + 2).text, "ing"))
            neg += k + 2
          // direct gerund object, no "from": "prohibits sharing X",
          // "we forbid collecting Y" — the banned practice is negated
          else if (Lexicon.endsWithIgnoreCase(toks(k + 1).text, "ing"))
            neg += k + 1
        }
      }
    }

    // --- cessation scope: "had ceased storing X" / "stopped collecting Y"
    // negates the ceased practice
    if (fCease) locally {
      (start until end - 1).foreach { k =>
        if (CeaseLemmas.contains(toks(k).lemma) && toks(k).pos == "VERB" &&
          toks(k + 1).pos == "VERB" &&
          Lexicon.endsWithIgnoreCase(toks(k + 1).text, "ing"))
          neg += k + 1
      }
    }

    // --- existential double negation: "There isn't a sign-up our roster
    // doesn't capture" — a negated existential pivot whose relative
    // clause is itself negated quantifies universally ("our roster
    // captures every sign-up"); cancel the relative clause's negation so
    // it reads positive (batch 13)
    if (fThere) locally {
      val f = (start until end).find(k => toks(k).pos != "SPACE")
      val existNeg = f.exists { k =>
        toks(k).lemma == "there" && k + 2 < end &&
          toks(k + 1).lemma == "be" && toks(k + 2).pos == "PART" &&
          negations.contains(Lexicon.lower(toks(k + 2).text))
      }
      if (existNeg) deps.toVector.foreach { dg =>
        if (dg.dep == "relcl" && dg.from > f.get && neg.contains(dg.to)) {
          neg -= dg.to
          neg -= dg.from
          // the existential frame has no main verb of its own, so the
          // object-gap rule above skipped this relcl (its heading-fragment
          // guard wants another root) — fill the relativized slot here
          if (subjOf.get(dg.to).exists(_.nonEmpty) &&
            !objOf.get(dg.to).exists(_.nonEmpty) &&
            !subjOf(dg.to).contains(dg.from)) {
            addDep(dg.to, dg.from, "obj")
            objOf(dg.to) = List(dg.from)
          }
        }
      }
    }

    // --- colon appositive: "<clause>: A, B and C" ----------------------
    colonAppos(toks, chunks, start, end, deps)

    // --- attribute-of-organization demotion: "the name of your mobile
    // carrier" is the carrier's name, not the user's person name — a DATA
    // chunk headed by an attribute noun whose of-PP object is a non-user
    // ACTOR is not a data mention (the reference's trained NER never labels
    // such spans DATA; our dictionary NER needs the structural check)
    val depsV = deps.toVector.distinct
    def attrDemote(c: Chunk): Boolean =
      c.ner == "DATA" && AttributeHeads.contains(toks(c.head).lemma) &&
        depsV.exists(d1 => d1.from == c.head && d1.dep == "prep" &&
          toks(d1.to).lemma == "of" &&
          depsV.exists(d2 => d2.from == d1.to && d2.dep == "obj" &&
            toks(d2.to).ner == "ACTOR" && !UserNouns.contains(toks(d2.to).lemma)))
    // copy the chunk Vector only when a demotion actually applies (rare)
    val chunksOut = if (!chunks.exists(attrDemote)) chunks else chunks.map { c =>
      val demote = attrDemote(c)
      if (demote) {
        // "ATTR" (not "NN") — NN is wildcard-compatible in subsumption /
        // type propagation, which would re-type the span DATA and emit the
        // false mention anyway; ATTR matches nothing
        (c.start until c.end).foreach { k =>
          if (toks(k).ner == "DATA") toks(k).ner = "ATTR"
        }
        c.copy(ner = "ATTR")
      } else c
    }

    Parse(start, end, toks, chunksOut, depsV, neg.toSet, text,
      vgs.iterator.filter(_.passive).map(_.verb).toSet ++ passiveExtra)
  }

  private def lastVerbEndBound(vgs: ArrayBuffer[VGroup], vgIdx: Int, end: Int): Int =
    if (vgIdx == 0) 0 else vgs(vgIdx - 1).verb + 1

  private def prevMainObjSubj(
      v: Int, parent: Int,
      subjOf: scala.collection.mutable.Map[Int, List[Int]],
      objOf: scala.collection.mutable.Map[Int, List[Int]],
      addDep: (Int, Int, String) => Unit): Unit = {
    objOf.get(parent) match {
      case Some(hs) if hs.nonEmpty =>
        hs.foreach(h => addDep(v, h, "subj"))
        subjOf(v) = hs
      case _ =>
    }
  }

  /** Heads of the conjunct group whose last chunk is `c` (walk left). */
  private def conjGroupEndingAt(
      chunks: Vector[Chunk], toks: Vector[Tok], c: Chunk, start: Int): List[Int] = {
    val heads = ListBuffer(c.head)
    var cur = c
    var go = true
    while (go) {
      val before = chunks.filter(_.end <= cur.start).lastOption
      before match {
        case Some(pc) =>
          val between = (pc.end until cur.start)
          // plain coordination, plus comma-introduced "together/along with"
          // quasi-coordination, appositive/exemplifier cues ("i.e.",
          // "namely", "specifically", "like", "such as") — for extraction
          // purposes the appositive names the same collected thing, so both
          // heads join the group
          val usedLink = between.exists(k => LinkWords.contains(toks(k).lemma))
          val conjOnly = between.nonEmpty && between.forall(k =>
            toks(k).pos == "CCONJ" || (toks(k).pos == "PUNCT" && toks(k).text == ",") ||
              LinkWords.contains(toks(k).lemma)) &&
            (!usedLink || between.exists(k => toks(k).text == ","))
          if (conjOnly) { heads.prepend(pc.head); cur = pc } else go = false
        case None => go = false
      }
    }
    heads.toList
  }

  /** Attach objects / datives / prepositional phrases to the right of verb
    * group `vg`, within [verb+1, regionEnd). Noun-attached preps (of / such
    * as / like / including) hang off the preceding chunk head instead. */
  private def attachRight(
      toks: Vector[Tok], chunks: Vector[Chunk], start: Int, end: Int,
      v: Int, regionEnd: Int, vg: VGroup,
      deps: ListBuffer[Dep], neg: scala.collection.mutable.Set[Int],
      subjOf: scala.collection.mutable.Map[Int, List[Int]],
      objOf: scala.collection.mutable.Map[Int, List[Int]],
      conjChunkHeads: Chunk => List[Int]): Unit = {

    def addDep(f: Int, t: Int, d: String): Unit = deps += Dep(f, t, d)

    var k = v + 1
    // "includes, but is not limited to, your name": the whole splice is
    // filler between the include-verb and its object list
    if (toks(v).lemma == "include" && k < regionEnd &&
      (toks(k).text == "," || LimitedToFiller.contains(Lexicon.lower(toks(k).text)))) {
      var j = k
      var sawLimit = false
      while (j < regionEnd && (toks(j).pos == "PUNCT" || toks(j).lemma == "be" ||
        LimitedToFiller.contains(Lexicon.lower(toks(j).text)))) {
        if (toks(j).lemma == "limit" || toks(j).lemma == "limitation") sawLimit = true
        j += 1
      }
      if (sawLimit) k = j
    }
    var bareChunks = 0
    var lastNounHead = -1
    // head of the nominal CHAIN the parser is inside: stays at the owning
    // noun while noun-attached PPs extend it ("information about your
    // device" keeps chainRoot=information), so a comma-separated
    // subsumption cue attaches high — ", including X" subsumes under the
    // NP the verb governs, not under the PP-internal noun it happens to
    // follow (spaCy's high attachment for comma-separated "including")
    var chainRoot = -1
    var lastBareEnd = -1
    var pendingNeg = false
    // "neither A nor B": the negation chains across every conjunct...
    var negChain = false
    // ...unless an exceptive ("nor, except for fraud screening, your IP
    // address") carves the NEXT conjunct back in as a positive
    var carveNext = false
    while (k < regionEnd) {
      val t = toks(k)
      if (t.text == ":") {
        // colon list: post-colon chunks are appositives (colonAppos), not
        // objects/datives of the verb
        k = regionEnd
      } else if (t.text == "," && {
        // ", <chunk> (and <chunk>)* <finite verb>" is the next clause's
        // subject chain + predicate, not material of this verb ("Where
        // required by law, we retain ..."; "..., crash dumps and memory
        // snapshots leave your device"); participles stay reduced relatives
        var q = k + 1
        var guard = 0
        var clause = false
        var done = chunks.find(_.start == q).isEmpty
        while (!done && guard < 8 && q < end) {
          chunks.find(_.start == q) match {
            case Some(cc) => q = cc.end
            case None =>
              val tq = toks(q)
              if (tq.pos == "CCONJ" || tq.text == ",") q += 1
              else {
                val tx = Lexicon.lower(tq.text)
                clause = tq.pos == "AUX" ||
                  ((tq.pos == "VERB" || tq.pos == "VERBC") &&
                    !tx.endsWith("ed") && !tx.endsWith("ing"))
                done = true
              }
          }
          guard += 1
        }
        clause
      }) {
        k = regionEnd
      } else if (t.pos == "PART" && negations.contains(Lexicon.lower(t.text))) {
        pendingNeg = true
        if (Lexicon.lower(t.text) == "neither") negChain = true
        k += 1
      } else if (t.pos == "SCONJ" && t.lemma == "than") {
        // comparative clause ("no more data than is necessary, ...") —
        // skip to the comma; the appositive exemplars after it still
        // belong to this verb
        val nc = (k + 1 until regionEnd).find(j => toks(j).text == ",")
        k = nc.map(_ + 1).getOrElse(regionEnd)
      } else if (t.pos == "SCONJ" && t.lemma != "whether") {
        // a subordinate clause boundary ("... log your IP address when you
        // connect") — nothing after it is this verb's material
        k = regionEnd
      } else if (t.pos == "ADP" || (t.pos == "SCONJ" && t.lemma == "whether")) {
        val p = k
        if (negChain && (t.lemma == "except" || t.lemma == "exclude" ||
          t.lemma == "save" || t.lemma == "barring")) carveNext = true
        // in a POSITIVE clause, "excluding X" states X is NOT captured
        // ("a record of each chat session, excluding message content, is
        // kept")
        else if (t.lemma == "exclude") pendingNeg = true
        // noun-prep collocations where the PP hangs off the noun, not the
        // verb ("access to X", "information about X")
        val collocation = lastNounHead >= 0 &&
          CollocationPairs.contains((toks(lastNounHead).lemma, t.lemma))
        val subsumCue = ((t.lemma == "as" && p > start && toks(p - 1).lemma == "such") ||
          t.lemma == "like" || t.lemma == "include") && lastNounHead >= 0
        val cueStart = if (t.lemma == "as") p - 1 else p
        val commaBefore = cueStart > start && toks(cueStart - 1).text == ","
        // comma-separated cue → attach to the chain root (high); tight cue
        // ("services like X") → nearest noun
        val subsumAnchor =
          if (subsumCue && commaBefore && chainRoot >= 0) chainRoot else lastNounHead
        // a bare "of" with no noun to its left ("would age out of our
        // vaults": verb + particle + of-PP) is the verb's own PP — without
        // the guard it attached to token -1 and the PP was lost. An "of"
        // directly after a verb particle is likewise the verb's own PP even
        // when an object intervenes ("fish your claim photos out of our
        // evidence locker") — batch 13.
        val particleBefore = t.lemma == "of" && p > start && {
          val pl = toks(p - 1).lemma
          pl == "out" || pl == "away" || pl == "off"
        }
        val nounAttach = (t.lemma == "of" && lastNounHead >= 0 &&
          !particleBefore) || collocation || subsumCue
        // "together/along with X" after the object (comma optional:
        // "radio back the delivery outcome together with your street
        // name") adds X as a further OBJECT of the verb
        val accompaniment = t.lemma == "with" && p >= start + 1 &&
          (toks(p - 1).lemma == "together" || toks(p - 1).lemma == "along")
        // skip "in order to" here (handled as purpose acl by clause pass)
        val isInOrder = t.lemma == "in" && p + 2 < end &&
          toks(p + 1).lemma == "order" && toks(p + 2).lemma == "to"
        if (isInOrder) { k = p + 3 }
        else {
          chunks.find(_.start == p + 1) match {
            case Some(c) =>
              // a carve-out exceptive PP is comma-bounded: its object never
              // extends across the closing comma into the carved conjunct
              var heads = if (carveNext) List(c.head) else conjChunkHeads(c)
              if (t.lemma == "by" && vg.passive) {
                // agent → subjects (reference handle_agent)
                heads.foreach { h => addDep(v, h, "subj"); if (pendingNeg) neg += h }
                subjOf(v) = heads
              } else if (accompaniment) {
                heads.foreach { h => addDep(v, h, "obj"); if (pendingNeg) neg += h }
                objOf(v) = objOf.getOrElse(v, Nil) ++ heads
              } else if (nounAttach && t.lemma == "of" && lastNounHead >= 0) {
                addDep(lastNounHead, p, "prep")
                heads.foreach(h => addDep(p, h, "obj"))
              } else if (subsumCue) {
                addDep(subsumAnchor, p, "prep")
                heads.foreach { h => addDep(p, h, "obj"); if (pendingNeg) neg += h }
              } else if (nounAttach) {
                addDep(lastNounHead, p, "prep")
                heads.foreach { h => addDep(p, h, "obj"); if (pendingNeg) neg += h }
              } else {
                addDep(v, p, "prep")
                if (pendingNeg) neg += p
                // a comma-opened parenthetical PP ("remains, on our
                // servers, a copy of...") closes at the next comma — its
                // object group must not absorb the material after it
                val parenPP = p - 1 >= start && toks(p - 1).text == ","
                val closing = (p + 1 until regionEnd).find(k2 => toks(k2).text == ",")
                if (parenPP && closing.isDefined) {
                  val hs = heads.filter(h =>
                    chunks.find(ch => ch.start <= h && h < ch.end)
                      .exists(_.end <= closing.get))
                  if (hs.nonEmpty) heads = hs
                }
                heads.foreach { h => addDep(p, h, "obj"); if (pendingNeg) neg += h }
                chainRoot = heads.last
              }
              lastNounHead = heads.last
              // jump past the conj group
              val lastChunk = chunks.filter(ch => heads.contains(ch.head)).map(_.end).max
              k = lastChunk
              pendingNeg = false
            case None =>
              // "including but not limited to X" → treat as include-prep
              if (t.lemma == "include") {
                val after = skipButNotLimitedTo(toks, p + 1, end)
                chunks.find(_.start == after) match {
                  case Some(c) =>
                    val heads = conjChunkHeads(c)
                    if (lastNounHead >= 0) {
                      addDep(subsumAnchor, p, "prep")
                      heads.foreach(h => addDep(p, h, "obj"))
                    }
                    k = chunks.filter(ch => heads.contains(ch.head)).map(_.end).max
                  case None => k += 1
                }
              } else k += 1
          }
        }
      } else {
        chunks.find(_.start == k) match {
          case Some(c) =>
            val heads = conjChunkHeads(c)
            bareChunks += 1
            // dative reading ("give us X") requires the second bare chunk to
            // be ADJACENT to the first — a gap (", e.g.", parentheticals)
            // means apposition/extension, not a dative
            val adjacentToPrev = lastBareEnd == c.start
            if (bareChunks == 1) {
              heads.foreach { h => addDep(v, h, "obj"); if (pendingNeg) neg += h }
              objOf(v) = heads
              if (!negChain) pendingNeg = false
            } else if (carveNext) {
              // exceptive carve-in: this conjunct IS collected
              heads.foreach(h => addDep(v, h, "obj"))
              objOf(v) = objOf.getOrElse(v, Nil) ++ heads
              carveNext = false
            } else if (c.start - 2 >= start &&
              (toks(c.start - 2).text == "," || toks(c.start - 2).text == "-") &&
              ConjCueAdvs.contains(toks(c.start - 1).lemma)) {
              // ", typically/namely A and B" / "- specifically A -"
              // appositive exemplars extend the verb's object set
              heads.foreach { h => addDep(v, h, "obj"); if (pendingNeg) neg += h }
              objOf(v) = objOf.getOrElse(v, Nil) ++ heads
            } else if (negChain) {
              // later conjunct of a neither-chain stays negated
              heads.foreach { h => addDep(v, h, "obj"); neg += h }
              objOf(v) = objOf.getOrElse(v, Nil) ++ heads
            } else if (bareChunks == 2 && adjacentToPrev &&
              objOf.get(v).exists(fh => fh.size == 1 &&
                (toks(fh.head).pos == "PRON" || toks(fh.head).ner == "ACTOR"))) {
              // dative re-reading ("give us X"): only when the first bare
              // group is a single pronoun/actor — a multi-chunk DATA group
              // followed by an adjacent pronoun is a reduced relative
              // ("the pages you request"), not a recipient
              objOf.get(v).foreach { firstHeads =>
                deps.filterInPlace(d => !(d.from == v && d.dep == "obj" && firstHeads.contains(d.to)))
                firstHeads.foreach(h => addDep(v, h, "dative"))
              }
              heads.foreach(h => addDep(v, h, "obj"))
              objOf(v) = heads
            }
            lastNounHead = heads.last
            chainRoot = heads.last
            k = chunks.filter(ch => heads.contains(ch.head)).map(_.end).max
            lastBareEnd = k
          case None => k += 1
        }
      }
    }
  }

  /** Skip "but not limited to" / "without limitation" fillers. */
  private def skipButNotLimitedTo(toks: Vector[Tok], from: Int, end: Int): Int = {
    var k = from
    while (k < end && (toks(k).pos == "PUNCT" ||
      LimitedToFiller.contains(Lexicon.lower(toks(k).text)))) k += 1
    k
  }

  /** "<clause ending in NP>: A, B, C" — each post-colon chunk head copies the
    * in-edges of the pre-colon NP head (reference handle_appos,
    * collection_annotator.py:115-121 — this is how list-item docs inherit
    * COLLECT edges). */
  private def colonAppos(
      toks: Vector[Tok], chunks: Vector[Chunk], start: Int, end: Int,
      deps: ListBuffer[Dep]): Unit = {
    val colonIdx = (start until end).find(k => toks(k).text == ":")
    colonIdx.foreach { ci =>
      // type-aware anchoring: DATA post-chunks take the role of the root
      // verb's OBJECT (not a trailing adverbial PP's noun — "collected at
      // signup: your date of birth"), ACTOR post-chunks take the role of
      // the nearest pre-colon ACTOR ("with the parties described below:
      // ..., with our email service provider")
      val rootObj = for {
        r <- deps.find(d => d.from == -1)
        o <- deps.find(d => d.from == r.to && d.dep == "obj" && d.to < ci)
      } yield o.to
      val nearest = chunks.filter(_.end <= ci).lastOption.map(_.head)
      val preActor = chunks.filter(c => c.end <= ci && toks(c.head).ner == "ACTOR")
        .lastOption.map(_.head)
      val preData = rootObj.orElse(nearest)
      val postChunks = chunks.filter(_.start > ci)
      postChunks.foreach { c =>
        val anchor = (if (toks(c.head).ner == "ACTOR") preActor.orElse(preData)
        else preData).getOrElse(-1)
        if (anchor >= 0) {
          deps.filter(d => d.to == anchor && d.from >= 0).toList
            .foreach(e => deps += Dep(e.from, c.head, e.dep))
          deps += Dep(anchor, c.head, "appos")
        }
      }
    }
  }

  /** Render token span back to text (loses nothing we need for evidence). */
  def renderText(toks: Vector[Tok], start: Int, end: Int): String = {
    val sb = new StringBuilder
    (start until end).foreach { k =>
      val t = toks(k)
      if (t.pos != "SPACE") {
        sb.append(t.text)
        if (t.ws && k + 1 < end) sb.append(' ')
      }
    }
    sb.toString.trim
  }

  /** Full per-text pipeline: tokens → tags → ner → sentences → parses. */
  def parse(texts: Vector[String], ws: Vector[Boolean]): Vector[Parse] = {
    val tagged = nerTag(tag(texts, ws))
    sentenceSpans(tagged).map { case (s, e) => parseSentence(tagged, s, e) }
  }
}
