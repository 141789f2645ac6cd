package graft.kg

import scala.collection.mutable

import graft.kg.Model._
import graft.nlp.RuleNlp
import graft.nlp.RuleNlp.{Chunk, Parse, Tok}
import graft.kg.Normalizer.Mention

/** The per-document KG-construction kernel: segments → context docs →
  * annotators (fixed order) → 9-step graph build → triples.
  *
  * Pure Scala, zero Spark dependencies — invoked from `mapGroups` by the
  * pipeline and directly by unit tests (the reference pipeline's
  * init_document → run_annotators → build_graph collapses into this one
  * function because every graph is per-document and tiny; SURVEY.md §7).
  *
  * Annotator order is semantic (run_annotators.py:28-37): Subsumption →
  * Coreference → Collection → Purpose → List → Subject. Collection's type
  * validation consumes SUBSUM/COREF edges; Purpose/Subject consume
  * COLLECT-family edges.
  */
object DocKernel {

  // constant word sets hoisted out of per-token/per-chunk hot loops
  private val SubsumCues = Set("especially", "particularly", "namely")
  private val QuantOfNouns = Set("some", "all", "any", "type", "kind",
    "variety", "category", "example")
  private val DataAnaphors = Set("it", "this", "that", "them")
  private val ActorAnaphors = Set("they", "these", "those")
  private val DemonstrativeDets = Set("this", "that", "such", "these",
    "those", "its", "their")
  private val GenericDataHeads = Set("data", "datum", "information",
    "detail", "number")
  private val PurposeNouns = Set("purpose", "reason", "use")
  private val ChildWords = Set("child", "minor", "kid", "teenager")

  /** One context-expanded document: token array (with ancestor headings
    * joined by blank lines, list parents by ":"), provenance per token, and
    * its parses. */
  final case class CtxDoc(
      segId: Int,
      toks: Vector[Tok],
      srcs: Vector[Option[Src]],
      parses: Vector[Parse])

  final case class DocState(
      url: String,
      segs: Vector[Segment],
      docs: Vector[CtxDoc]) {
    // token-relationship graph: insertion-ordered distinct (src, dst, rel)
    // + adjacency indexes (the annotators query in/out links per node on
    // hot paths; linear scans over the edge set were O(E) per lookup)
    val edges = mutable.LinkedHashSet[(Src, Src, String)]()
    private val outAdj = mutable.Map[Src, mutable.ArrayBuffer[(Src, Src, String)]]()
    private val inAdj = mutable.Map[Src, mutable.ArrayBuffer[(Src, Src, String)]]()
    val sentText = mutable.Map[Src, String]()
    val mentions = mutable.Map[Src, Mention]()
    val purposeText = mutable.Map[Src, String]()
    val subjects = mutable.Map[Src, String]()

    private def index(e: (Src, Src, String)): Unit = {
      outAdj.getOrElseUpdate(e._1, mutable.ArrayBuffer()) += e
      inAdj.getOrElseUpdate(e._2, mutable.ArrayBuffer()) += e
    }

    def link(d: CtxDoc, p: Parse, tok1: Int, tok2: Int, rel: String): Unit = {
      (d.srcs(tok1), d.srcs(tok2)) match {
        case (Some(s1), Some(s2)) =>
          val e = (s1, s2, rel)
          if (edges.add(e)) index(e)
          sentText.getOrElseUpdate(s1, p.text)
          sentText.getOrElseUpdate(s2, p.text)
          recordMention(d, p, tok1, s1)
          recordMention(d, p, tok2, s2)
        case _ =>
      }
    }

    def linkSrc(s1: Src, s2: Src, rel: String): Unit = {
      val e = (s1, s2, rel)
      if (edges.add(e)) index(e)
    }

    /** Synthetic first-party mention for agentless passives ("Your voice may
      * be recorded"): policy prose attributes actorless collection to the
      * policy's own operator. One shared node per document; normalizes to
      * "we" through the regular pronoun cascade. (Recall extension beyond
      * the reference, which drops agentless passives — no subj capture.) */
    val ImplicitWe: Src = Src(-1, 0)
    def implicitWeSrc(p: graft.nlp.RuleNlp.Parse): Src = {
      if (!mentions.contains(ImplicitWe))
        mentions(ImplicitWe) = Mention(
          Vector(graft.nlp.RuleNlp.Tok(0, "we", "we", "PRON", "ACTOR", false)), 0, "ACTOR")
      sentText.getOrElseUpdate(ImplicitWe, p.text)
      ImplicitWe
    }

    /** Synthetic data mention for an activity term (annotateActivityRelcl);
      * one shared node per (document, term) at Src(-2, termIdx). */
    def activitySrc(p: graft.nlp.RuleNlp.Parse, termIdx: Int): Src = {
      val s = Src(-2, termIdx)
      if (!mentions.contains(s)) {
        val words = ActivityTerms(termIdx).split(' ')
        mentions(s) = Mention(
          words.zipWithIndex.map { case (w, k) =>
            graft.nlp.RuleNlp.Tok(k, w, w, "NOUN", "DATA", k > 0)
          }.toVector, words.length - 1, "DATA")
      }
      sentText.getOrElseUpdate(s, p.text)
      s
    }

    def recordMention(d: CtxDoc, p: Parse, tok: Int, s: Src): Unit =
      if (!mentions.contains(s)) {
        p.chunkOf(tok) match {
          case Some(c) =>
            mentions(s) = Mention(d.toks.slice(c.start, c.end), tok - c.start, d.toks(tok).ner)
          case None =>
            mentions(s) = Mention(Vector(d.toks(tok)), 0, d.toks(tok).ner)
        }
      }

    def inEdges(s: Src): Iterator[(Src, Src, String)] =
      inAdj.get(s).map(_.iterator).getOrElse(Iterator.empty)
    def outEdges(s: Src): Iterator[(Src, Src, String)] =
      outAdj.get(s).map(_.iterator).getOrElse(Iterator.empty)
    def allLinks(s: Src): Iterator[(Src, Src, String)] =
      // in-edges first, then out — mirrors the reference's
      // chain(in_edge_view, out_edge_view) iteration (build_graph.py:147-151)
      inEdges(s) ++ outEdges(s).filter(e => e._2 != s) // self-loops once
  }

  // ------------------------------------------------------------ context docs

  /** Root-most and nearest segments of the ancestor chain (self included)
    * that a context doc keeps; the middle of a longer chain is dropped.
    * Real pages stay far below the sum (the longest chain over 20,000
    * corpus pages and every holdout batch is 5 segments), so only a
    * malformed page — e.g. an unclosed list nesting each item in the
    * previous one — is cut. Without the cut the tokens parsed per page
    * grow with depth². The root end is kept because a list's intro ("We
    * collect the following:") sits there and supplies the subject. */
  private[graft] val ContextHead = 4
  private[graft] val ContextTail = 16

  /** Assemble context docs (reference assemble_raw_doc, document.py:84-122 +
    * PolicyDocument.initialize 129-165): one doc per non-LISTITEM segment
    * holding its ancestor context, bounded to [[ContextHead]] +
    * [[ContextTail]] segments. */
  def buildDocs(segs: Vector[Segment]): Vector[CtxDoc] = {
    val byId = segs.map(s => s.segId -> s).toMap
    // ancestor segments are tokenized once per document, not once per
    // descendant context doc (headings repeat in every child's context)
    val tokCache = mutable.Map[Int, (Vector[String], Vector[Boolean])]()
    def tokensOf(s: Segment): (Vector[String], Vector[Boolean]) =
      tokCache.getOrElseUpdate(s.segId, RuleNlp.tokenize(s.text))
    segs.filter(s => s.segType != "LISTITEM" && s.text.nonEmpty).map { seg =>
      // context chain, root first: prepending keeps the walk linear
      var chain = List(seg)
      var cur = seg
      while (cur.parentId >= 0 && byId.contains(cur.parentId)) {
        cur = byId(cur.parentId)
        chain = cur :: chain
      }
      val ordered =
        if (chain.lengthCompare(ContextHead + ContextTail) <= 0) chain
        else chain.take(ContextHead) ++ chain.takeRight(ContextTail)
      val texts = mutable.ArrayBuffer[String]()
      val ws = mutable.ArrayBuffer[Boolean]()
      val srcs = mutable.ArrayBuffer[Option[Src]]()
      var prev: Option[Segment] = None
      ordered.foreach { s =>
        val (ts, wf) = tokensOf(s)
        if (ts.nonEmpty || s.segType == "LISTITEM") {
          if (prev.nonEmpty && texts.nonEmpty) {
            prev.get.segType match {
              case "HEADING" =>
                texts += "\n"; ws += false; srcs += None
                texts += "\n"; ws += false; srcs += None
              case "LISTITEM" =>
                // colon before a list item's content when last token is
                // alphanumeric (assemble_raw_doc, document.py:92-103)
                if (texts.last.nonEmpty && texts.last.forall(_.isLetterOrDigit)) {
                  texts += ":"; ws += true; srcs += None
                } else ws(ws.length - 1) = true
              case _ =>
                ws(ws.length - 1) = true
            }
          }
          var ti = 0
          while (ti < ts.length) {
            texts += ts(ti); ws += wf(ti); srcs += Some(Src(s.segId, ti))
            ti += 1
          }
          if (ts.nonEmpty || s.segType == "LISTITEM") prev = Some(s)
        }
      }
      val tv = texts.toVector
      val parses = RuleNlp.parse(tv, ws.toVector)
      val toks =
        if (parses.nonEmpty) parses.head.tokens
        else RuleNlp.nerTag(RuleNlp.tag(tv, ws.toVector))
      CtxDoc(seg.segId, toks, srcs.toVector, parses)
    }
  }

  // ------------------------------------------------------------- annotators

  /** Generic containers whose of-complement carries the real datatype
    * ("a copy of your passport", "records of the products you viewed"). */
  private val GenericContainers = Set("copy", "record", "backup", "category",
    "type", "kind", "example", "variety", "log", "history", "list", "version",
    "note", "recording", "replay")

  /** Verbs whose ACTIVE voice states a deletion right, not a practice. */
  private val DeletionVerbs = Set("delete", "erase", "remove", "purge")

  /** Second-person / data-subject providers — "you provide X" and "job
    * applicants submit their resume" both imply the first party receives. */
  private val UserSubjects = Set("you", "your", "user", "customer",
    "visitor", "consumer", "member", "subscriber", "applicant", "individual")

  /** Light temporal nouns that head when-connectives ("the moment you
    * file", "the instant you tap Pay"). */
  private val TemporalNouns = Set("moment", "minute", "second", "instant",
    "time", "day", "week", "month", "year")

  private def entCompatible(a: String, b: String): Boolean =
    a.isEmpty || b.isEmpty || a == "NN" || b == "NN" || a == b

  /** Our/the-determined subject chunk whose HEAD noun is not itself a
    * dictionary datum — its DATA ner came from a compound modifier
    * ("Our telemetry bus", "The session recorder"). The modifier names
    * what the device carries; the chunk is operator infrastructure, not a
    * datum mention (batch 12). */
  private def instrumentHead(d: CtxDoc, p: Parse, toks: List[Int]): Boolean =
    toks.nonEmpty && toks.forall { t =>
      val tk = d.toks(t)
      tk.ner == "DATA" && (tk.pos == "NOUN" || tk.pos == "PROPN") &&
        !Normalizer.dataCanonical.contains(tk.lemma) &&
        !Normalizer.dataCanonical.contains(tk.text.toLowerCase) &&
        p.chunkOf(t).exists { c =>
          (c.start until t).exists { j =>
            val l = p.tokens(j).lemma
            l == "our" || l == "the" || l == "this" || l == "these"
          }
        }
    }

  /** Surface phrases (all present in phrase_map.yml) minted as synthetic
    * mentions by the activity-relcl annotator; index = Src(-2, idx). */
  private val ActivityTerms = Vector(
    "browsing history", "purchase history", "usage information",
    "audio recording", "photo / video", "contact list",
    "interest / preference", "call log", "device fingerprint")

  private def activityTermOf(p: Parse, v: Int): Option[Int] =
    p.tokens(v).lemma match {
      case "visit" | "view" | "browse" =>
        // "pages you visit within the app" is app usage, not web browsing
        val appCtx = (v + 1 until math.min(p.end, v + 6)).exists { k =>
          val lm = p.tokens(k).lemma; lm == "app" || lm == "application"
        }
        Some(if (appCtx) 2 else 0)
      case "purchase" | "buy" => Some(1)
      case "use" => Some(2)
      // "the newsletters you open" = engagement tracking (open rate)
      case "open" => Some(0)
      // "the friends you invite" = the social graph (contact list)
      case "invite" => Some(5)
      // "the theme you prefer" / "the filters you applied" = preferences
      case "prefer" | "apply" => Some(6)
      // "the query you typed" = search activity
      case "type" => Some(0)
      // "what it hears" = captured audio
      case "hear" => Some(3)
      case _ => None
    }

  /** Activity relative clauses (recall extension beyond the reference — its
    * trained NER labels spans like "the pages you visit" DATA; the
    * dictionary NER needs the structural signal): "<NP> you
    * visit/view/browse/purchase/buy/use" names the user-activity datatype
    * implied by the verb, attached as a SUBSUM child of the NP so the
    * untyped head collapses into the activity term at graph build. */
  /** Plural activity nominals under a second-person possessive — "your
    * purchases", "your orders", "your searches" — name the activity
    * datatype directly. */
  private val ActivityNouns = Map("purchase" -> 1, "order" -> 1, "search" -> 0)

  private def annotateActivityRelcl(st: DocState): Unit = {
    st.docs.foreach { d =>
      d.parses.foreach { p =>
        // "your purchases" nominal activities (plus the generic-container
        // walk so "a log of your purchases" captures through the container)
        p.chunks.foreach { c =>
          val head = p.tokens(c.head)
          if (c.ner == "NN" && (c.start until c.head).exists(k => p.tokens(k).lemma == "your") &&
            head.text.toLowerCase.endsWith("s")) {
            ActivityNouns.get(head.lemma).foreach { ti =>
              // pre-verb subject chains have no of-deps yet — adjacency:
              // [container] of [c] ("a log of your purchases")
              val containerHead =
                if (c.start - 1 > p.start && p.tokens(c.start - 1).lemma == "of")
                  p.chunks.find(pc => pc.end == c.start - 1 &&
                    GenericContainers.contains(p.tokens(pc.head).lemma.toLowerCase))
                    .map(_.head)
                else None
              val syn = st.activitySrc(p, ti)
              (Some(c.head) ++ containerHead).foreach { up =>
                d.srcs(up).foreach { s1 =>
                  st.linkSrc(s1, syn, Subsum)
                  st.recordMention(d, p, up, s1)
                  st.sentText.getOrElseUpdate(s1, p.text)
                }
              }
            }
          }
        }
        // embedded interrogatives: "which pages load slowly" — the wh-NP
        // names browsing activity when its predicate is a page-activity verb
        p.chunks.foreach { c =>
          if (c.start > p.start &&
            (p.tokens(c.start - 1).lemma == "which" ||
              p.tokens(c.start - 1).lemma == "what") &&
            c.end < p.end && p.tokens(c.head).lemma == "page" &&
            PageActivityVerbs.contains(p.tokens(c.end).lemma)) {
            val syn = st.activitySrc(p, 0)
            d.srcs(c.head).foreach { s1 =>
              st.linkSrc(s1, syn, Subsum)
              st.recordMention(d, p, c.head, s1)
              st.sentText.getOrElseUpdate(s1, p.text)
            }
          }
        }
        p.deps.foreach { dep =>
          if (dep.dep == "relcl") {
            val upper = dep.from
            val v = dep.to
            val subjTok = p.out(v).collectFirst {
              case e if e.dep == "subj" &&
                (p.tokens(e.to).lemma == "you" || p.tokens(e.to).lemma == "user" ||
                  // "what it hears": device-subject capture verbs
                  p.tokens(e.to).lemma == "it") => e.to
            }
            subjTok.foreach { s =>
              // conj verbs sharing the relcl subject ("viewed and purchased")
              val verbs = v +: p.deps.collect {
                case d2 if d2.dep == "subj" && d2.to == s && d2.from != v &&
                  d2.from > v && (v + 1 until d2.from).forall { k =>
                    val t = p.tokens(k)
                    t.pos == "CCONJ" || t.pos == "PUNCT" || t.pos == "AUX" ||
                      t.pos == "ADV" || t.pos == "VERB" || t.pos == "PRON"
                  } => d2.from
              }
              // "usage information, such as the pages you visit": as an
              // exemplifier under an explicit DATA mention the activity NP
              // inherits the container's type — minting a separate term
              // would double-count the example as its own datatype
              val exemplified = p.deps.exists { o =>
                o.dep == "obj" && o.to == upper && {
                  val lm = p.tokens(o.from).lemma
                  (lm == "as" || lm == "like" || lm == "include") &&
                  p.deps.exists(o2 => o2.dep == "prep" && o2.to == o.from &&
                    p.tokens(o2.from).ner == "DATA")
                }
              }
              val terms =
                if (exemplified) Nil else verbs.flatMap(activityTermOf(p, _)).distinct
              // upload-class relcls: "each photo you back up" — the user
              // hands the upper datum to the operator
              val UploadVerbs = Set("upload", "back", "submit", "import")
              if (!exemplified && p.tokens(upper).ner == "DATA" &&
                verbs.exists(v2 => UploadVerbs.contains(p.tokens(v2).lemma))) {
                d.srcs(upper).foreach { us =>
                  st.linkSrc(st.implicitWeSrc(p), us, "COLLECT")
                  st.recordMention(d, p, upper, us)
                  st.sentText.getOrElseUpdate(us, p.text)
                }
              }
              if (terms.nonEmpty) {
                // "a record of the products you viewed": the generic
                // container above the of-PP subsumes the activity too, so
                // collection captures on the container reach the term
                val containerHead = (for {
                  ofObj <- p.deps.find(o => o.dep == "obj" && o.to == upper)
                  if p.tokens(ofObj.from).lemma == "of"
                  ownerPrep <- p.deps.find(o => o.dep == "prep" && o.to == ofObj.from)
                  if GenericContainers.contains(p.tokens(ownerPrep.from).lemma.toLowerCase)
                } yield ownerPrep.from).orElse {
                  // pre-verb subject chains have no of-deps yet —
                  // adjacency: "[A list] of [the friends you invite]"
                  p.chunkOf(upper).filter(uc => uc.start - 1 > p.start &&
                      p.tokens(uc.start - 1).lemma == "of")
                    .flatMap(uc => p.chunks.find(pc => pc.end == uc.start - 1 &&
                      GenericContainers.contains(p.tokens(pc.head).lemma.toLowerCase))
                      .map(_.head))
                }
                terms.foreach { ti =>
                  val syn = st.activitySrc(p, ti)
                  (Some(upper) ++ containerHead).foreach { up =>
                    d.srcs(up).foreach { s1 =>
                      st.linkSrc(s1, syn, Subsum)
                      st.recordMention(d, p, up, s1)
                      st.sentText.getOrElseUpdate(s1, p.text)
                    }
                  }
                }
              }
            }
          }
        }
      }
    }
  }

  /** Action nominal → edge type: "Our collection of X", "Disclosure of X
    * to E" state the practice as a noun phrase. */
  private val ActionNominals = Map(
    "collection" -> "COLLECT", "use" -> "USE", "processing" -> "USE",
    "storage" -> "STORE", "retention" -> "STORE", "disclosure" -> "SHARE",
    "sharing" -> "SHARE", "sale" -> "SELL", "transfer" -> "SHARE",
    // the lookup key is the chunk head's LEMMA: gerund nominals arrive
    // stripped ("sharing" → share, "processing" → process)
    "share" -> "SHARE", "process" -> "USE",
    // "the recording of support calls" (nominal gerund of record)
    "record" -> "STORE", "transcription" -> "USE",
    // "The taping of support calls continues year-round" (batch 20 —
    // nominalized gerund subject; the lookup key is the stripped lemma)
    "tape" -> "STORE")

  /** Nominalized practice statements (recall extension; the reference's
    * consent pattern covers only "you consent to the collection of DT"):
    * a clause-initial or our-possessed action nominal with an of-PP DATA
    * object discloses the practice — "Our collection of geolocation data
    * is limited ...", "Disclosure of your precise location to advertising
    * networks occurs only with your opt-in". Negated sentences are left
    * alone ("no sale of personal information occurs"). */
  private def annotateNominalizations(st: DocState): Unit = {
    st.docs.foreach { d =>
      d.parses.foreach { p =>
        if (p.neg.isEmpty) p.chunks.foreach { c =>
          val head = p.tokens(c.head)
          ActionNominals.get(head.lemma).foreach { action =>
            val possOk = (c.start until c.head).forall(k =>
              p.tokens(k).lemma != "their" && p.tokens(k).lemma != "its" &&
                p.tokens(k).lemma != "his" && p.tokens(k).lemma != "her")
            val ofChunk = Option(c.end).filter(e => e < p.end && p.tokens(e).lemma == "of")
              .flatMap(e => p.chunks.find(_.start == e + 1))
              // DATA directly, or reaching a DATA term through composition
              // SUBSUMs ("recording of support calls" → audio recording)
              .filter(ch => ch.ner == "DATA" ||
                validateType(st, d, p, List(ch.head), "DATA"))
            if (possOk) ofChunk.foreach { dtc =>
              val dtHeads = conjGroup(p, dtc).map(_.head)
                .filter(h => p.tokens(h).ner == "DATA" ||
                  validateType(st, d, p, List(h), "DATA"))
              // recipient: "<nominal> of DT to/with <ACTOR>"
              val recip = p.chunks.find(rc => rc.start == dtc.end + 1 &&
                dtc.end < p.end && (p.tokens(dtc.end).lemma == "to" ||
                  p.tokens(dtc.end).lemma == "with") &&
                p.tokens(rc.head).ner == "ACTOR")
              dtHeads.foreach { dt =>
                d.srcs(dt).foreach { dtSrc =>
                  val rel = if (action == "SHARE" || action == "SELL") Collect
                  else Patterns.actionMap((action, false)).head._3
                  st.linkSrc(st.implicitWeSrc(p), dtSrc, rel)
                  st.recordMention(d, p, dt, dtSrc)
                  st.sentText.getOrElseUpdate(dtSrc, p.text)
                  recip.foreach { rc =>
                    st.link(d, p, rc.head, dt,
                      if (action == "SELL") "BE_SOLD" else "BE_SHARED")
                  }
                }
              }
            }
          }
        }
      }
    }
  }

  /** Fronted exceptive carve-outs: "Aside from your gender, we do not
    * request any demographic information" — the excepted datatype IS
    * collected (the negative statement quantifies over everything else).
    * Triggers: aside from / apart from / except for / other than at the
    * clause start, a DATA chunk, a comma, and a negated main clause. */
  private def annotateExceptives(st: DocState): Unit = {
    st.docs.foreach { d =>
      d.parses.foreach { p =>
        val s = p.start
        val exLen =
          if (p.end - s > 2 && (p.tokens(s).lemma == "aside" || p.tokens(s).lemma == "apart") &&
            p.tokens(s + 1).lemma == "from") 2
          else if (p.end - s > 2 && p.tokens(s).lemma == "except" &&
            p.tokens(s + 1).lemma == "for") 2
          else if (p.end - s > 2 && p.tokens(s).lemma == "other" &&
            p.tokens(s + 1).lemma == "than") 2
          else 0
        if (exLen > 0 && p.neg.nonEmpty) {
          p.chunks.find(c => c.start == s + exLen && c.ner == "DATA").foreach { fc =>
            if (fc.end < p.end && p.tokens(fc.end).text == ",") {
              d.srcs(fc.head).foreach { src =>
                st.linkSrc(st.implicitWeSrc(p), src, Collect)
                st.recordMention(d, p, fc.head, src)
                st.sentText.getOrElseUpdate(src, p.text)
              }
            }
          }
        }
      }
    }
  }

  private val RetentionSignals = Set("survive", "retain", "keep", "store",
    "remain", "stay", "persist", "archive")

  /** "As for <DT>," topicalization with a retention-signal clause ("As for
    * your browsing history, only aggregate statistics survive our nightly
    * purge") — the topicalized datum is held by the operator. */
  private def annotateTopicalization(st: DocState): Unit = {
    st.docs.foreach { d =>
      d.parses.foreach { p =>
        val s = p.start
        if (p.end - s > 4 && p.tokens(s).lemma == "as" &&
          p.tokens(s + 1).lemma == "for" && p.neg.isEmpty) {
          p.chunks.find(c => c.start == s + 2 && c.ner == "DATA").foreach { fc =>
            if (fc.end < p.end && p.tokens(fc.end).text == "," &&
              (fc.end until p.end).exists(k =>
                RetentionSignals.contains(p.tokens(k).lemma))) {
              d.srcs(fc.head).foreach { src =>
                st.linkSrc(st.implicitWeSrc(p), src, "STORE")
                st.recordMention(d, p, fc.head, src)
                st.sentText.getOrElseUpdate(src, p.text)
              }
            }
          }
        }
      }
    }
  }

  /** Adjectival access predicates: "X is visible/accessible/available to
    * Y" — Y gets to see X. */
  private def annotateAccessPredicates(st: DocState): Unit = {
    st.docs.foreach { d =>
      d.parses.foreach { p =>
        (p.start until p.end - 2).foreach { k =>
          val t = p.tokens(k)
          if ((t.lemma == "visible" || t.lemma == "accessible" ||
            t.lemma == "available") && k > p.start &&
            (p.tokens(k - 1).pos == "AUX" || p.tokens(k - 1).lemma == "become") &&
            p.tokens(k + 1).lemma == "to" &&
            !p.neg.contains(k)) {
            p.chunks.find(c => c.start == k + 2 &&
              p.tokens(c.head).ner == "ACTOR").foreach { ac =>
              // subject: the clause's first DATA chunk (topicalized
              // subjects with parentheticals resist the local walk)
              p.chunks.find(c2 => c2.end < k &&
                p.tokens(c2.head).ner == "DATA").foreach { sc =>
                st.link(d, p, ac.head, sc.head, "USE")
              }
            }
          }
        }
      }
    }
  }

  /** Question-answer fragments ("What do we collect? In short, your device
    * identifier and your approximate location."): the interrogative is
    * skipped per reference semantics, but a verbless NP fragment right
    * after a what-do-we-collect question answers it (recall extension —
    * ubiquitous in FAQ-style policies). */
  private val QaNegAnswer = Set("no", "never", "none", "nothing")

  private def annotateQaFragments(st: DocState): Unit = {
    st.docs.foreach { d =>
      var prev: Option[Parse] = None
      d.parses.foreach { p =>
        // tight-loop flags (this runs for EVERY sentence of every context
        // doc; the closure/Range version was a measurable allocator)
        val prevIsCollectQ = prev match {
          case Some(q) =>
            var qm = false; var coll = false; var we = false
            var k = q.start
            while (k < q.end && !(qm && coll && we)) {
              val t = q.tokens(k)
              if (t.text == "?") qm = true
              if (!coll && Patterns.collectishLemmas.contains(t.lemma)) coll = true
              if (t.lemma == "we") we = true
              k += 1
            }
            qm && coll && we
          case None => false
        }
        var verbless = true
        var negAnswer = false
        var ki = p.start
        while (ki < p.end) {
          val t = p.tokens(ki)
          if (t.pos == "VERB") verbless = false
          if (QaNegAnswer.contains(t.lemma)) negAnswer = true
          ki += 1
        }
        if (prevIsCollectQ && verbless && !negAnswer) {
          p.chunks.filter(_.ner == "DATA").foreach { c =>
            d.srcs(c.head).foreach { dtSrc =>
              st.linkSrc(st.implicitWeSrc(p), dtSrc, Collect)
              st.recordMention(d, p, c.head, dtSrc)
              st.sentText.getOrElseUpdate(dtSrc, p.text)
            }
          }
        }
        // rhetorical self-FAQ: "Why do we need your email address? To send
        // receipts." — the QUESTION carries the datum; a purpose-fragment
        // (or verbless) non-negative answer affirms the practice
        if (prevIsCollectQ && !negAnswer &&
          (verbless || p.tokens(p.start).lemma == "to")) {
          prev.foreach { q =>
            q.chunks.filter(c => c.ner == "DATA" &&
              // not the wh-focus itself ("WHAT INFORMATION do we collect?")
              !(c.start until c.end).exists(k =>
                q.tokens(k).lemma == "what" || q.tokens(k).lemma == "which"))
              .foreach { c =>
                d.srcs(c.head).foreach { dtSrc =>
                  st.linkSrc(st.implicitWeSrc(q), dtSrc, Collect)
                  st.recordMention(d, q, c.head, dtSrc)
                  st.sentText.getOrElseUpdate(dtSrc, q.text)
                }
              }
          }
        }
        prev = Some(p)
      }
    }
  }

  /** Subsumption annotator (SURVEY.md U5; reference
    * subsumption_annotator.py patterns: such as / including / like /
    * include-verb / e.g. / for example / especially). */
  private def annotateSubsumption(st: DocState): Unit = {
    st.docs.foreach { d =>
      d.parses.foreach { p =>
        // prep-based: upper --prep(as|like|include)--> p --obj--> lower
        p.deps.foreach { dep =>
          if (dep.dep == "prep" && dep.from >= 0) {
            val pTok = p.tokens(dep.to)
            val upper = dep.from
            val upperTok = p.tokens(upper)
            val isSubsumPrep =
              (pTok.lemma == "as" && dep.to > 0 && p.tokens(dep.to - 1).lemma == "such") ||
                pTok.lemma == "like" || pTok.lemma == "include"
            if (isSubsumPrep && upperTok.pos != "PRON" &&
              (upperTok.pos == "NOUN" || upperTok.pos == "PROPN")) {
              p.out(dep.to).foreach { o =>
                if (o.dep == "obj") {
                  val lowerTok = p.tokens(o.to)
                  // PP-attachment repair: "information from public
                  // databases, such as your demographic information" hangs
                  // the exemplifier off the nearest noun (databases), but
                  // the example types the outer TYPED mention — when the
                  // syntactic upper is untyped and the lower is typed,
                  // re-root at the nearest preceding chunk of the lower's
                  // type (the reference's trained NER never types the
                  // intermediate PP noun, so its ent-level link lands on
                  // the typed span directly)
                  val upper2 =
                    if ((upperTok.ner == "NN" || upperTok.ner.isEmpty) &&
                      (lowerTok.ner == "DATA" || lowerTok.ner == "ACTOR"))
                      p.chunks.filter(c => c.end <= dep.from &&
                          c.ner == lowerTok.ner &&
                          p.tokens(c.head).pos != "PRON")
                        .lastOption.map(_.head).getOrElse(upper)
                    else if (upperTok.ner == "ACTOR" && lowerTok.ner != "ACTOR")
                      // "how you use the service, including the pages you
                      // view": the cue syntactically lands on the ACTOR
                      // ('service'), but it exemplifies the data mention
                      // heading the chain — re-root at the nearest
                      // preceding DATA chunk when one exists
                      p.chunks.filter(c => c.end <= dep.from &&
                          c.ner == "DATA" && p.tokens(c.head).pos != "PRON")
                        .lastOption.map(_.head).getOrElse(upper)
                    else upper
                  val upper2Tok = p.tokens(upper2)
                  if (lowerTok.pos != "PRON" && entCompatible(upper2Tok.ner, lowerTok.ner))
                    st.link(d, p, upper2, o.to, Subsum)
                }
              }
            }
            // "information about/regarding/concerning X" where X is a DATA
            // mention: the generic container IS X-typed information —
            // SUBSUM(container → X). Mirrors the reference's expanded
            // mention spans (its noun phrases extend rightward over PPs, so
            // its phrase regexes hit the inner datatype; G7 _expand_phrase).
            val isAboutPrep = pTok.lemma == "about" || pTok.lemma == "regarding" ||
              pTok.lemma == "concerning"
            // "a copy/record/backup/recording of X": the generic container
            // IS the inner datatype — same splice as the about-case
            val isContainerOf = pTok.lemma == "of" &&
              GenericContainers.contains(upperTok.lemma.toLowerCase)
            if (((isAboutPrep && upperTok.ner == "DATA") || isContainerOf) &&
              (upperTok.pos == "NOUN" || upperTok.pos == "PROPN")) {
              p.out(dep.to).foreach { o =>
                val ot = p.tokens(o.to)
                if (o.dep == "obj" && ((ot.ner == "DATA" && ot.pos != "PRON") ||
                  // "a hashed version of it": the container subsumes the
                  // data anaphor; coref contraction resolves it downstream
                  (isContainerOf && ot.pos == "PRON" &&
                    DataAnaphors.contains(ot.lemma))))
                  st.link(d, p, upper, o.to, Subsum)
              }
            }
          }
        }
        // copular restrictor: "X is limited to A and B" / "X consists of
        // A, B" — the restriction enumerates what X is → SUBSUM(X, A/B)
        p.deps.foreach { dep =>
          if ((dep.dep == "root" || dep.dep == "ccomp") &&
            (p.tokens(dep.to).lemma == "limit" || p.tokens(dep.to).lemma == "consist")) {
            val v = dep.to
            // the restricted node: subject, or the passive's promoted
            // object ("X is limited to A" / "we limit X to A")
            val subj = p.out(v).filter(e => e.dep == "subj" || e.dep == "obj")
              .map(_.to)
            val objs = for {
              pe <- p.out(v)
              if pe.dep == "prep" &&
                (p.tokens(pe.to).lemma == "to" || p.tokens(pe.to).lemma == "of")
              oe <- p.out(pe.to) if oe.dep == "obj"
            } yield oe.to
            for (s <- subj; o <- objs) {
              val (sT, oT) = (p.tokens(s), p.tokens(o))
              if (sT.pos != "PRON" && oT.pos != "PRON" && entCompatible(sT.ner, oT.ner))
                st.link(d, p, s, o, Subsum)
            }
          }
        }
        // adjacency container-of: "[A record] of [each chat session] is
        // kept" — pre-verb subject chains have no of-deps, so the
        // dep-based container path below misses them
        p.chunks.foreach { c =>
          if (GenericContainers.contains(p.tokens(c.head).lemma.toLowerCase) &&
            c.end < p.end && p.tokens(c.end).lemma == "of") {
            p.chunks.find(_.start == c.end + 1).foreach { dtc =>
              if (p.tokens(dtc.head).ner == "DATA" && p.tokens(dtc.head).pos != "PRON")
                st.link(d, p, c.head, dtc.head, Subsum)
            }
          }
        }
        // container participle: "backups containing your order history" —
        // the reduced relative's object is subsumed by its upper noun
        p.deps.foreach { dep =>
          if (dep.dep == "relcl" && dep.from >= 0 &&
            ContainerVerbs.contains(p.tokens(dep.to).lemma)) {
            p.out(dep.to).foreach { o =>
              if (o.dep == "obj" && p.tokens(o.to).pos != "PRON" &&
                entCompatible(p.tokens(dep.from).ner, p.tokens(o.to).ner))
                st.link(d, p, dep.from, o.to, Subsum)
            }
          }
        }
        // verb "include" — plus definition verb "mean" and container verbs
        // "contain"/"hold" ("backups containing your order history"):
        // subj X, obj Ys → SUBSUM(X, Y); the entCompatible guard keeps
        // ACTOR-subject "we hold your data" out (that is a STORE pattern)
        p.deps.foreach { dep =>
          if ((dep.dep == "root" || dep.dep == "ccomp") &&
            DefinitionVerbs.contains(p.tokens(dep.to).lemma)) {
            val v = dep.to
            val subj = p.out(v).filter(_.dep == "subj").map(_.to)
            val objs = p.out(v).filter(_.dep == "obj").map(_.to)
            for (s <- subj; o <- objs) {
              val (sT, oT) = (p.tokens(s), p.tokens(o))
              if (sT.pos != "PRON" && oT.pos != "PRON" && entCompatible(sT.ner, oT.ner))
                st.link(d, p, s, o, Subsum)
            }
          }
        }
        // textual: X (, e.g.|i.e.|for example|especially|particularly|namely ,) Y
        val cueAt = (i: Int) => {
          val t = p.tokens(i)
          t.lemma == "e.g." || t.lemma == "i.e." ||
          (t.lemma == "example" && i > p.start && p.tokens(i - 1).lemma == "for") ||
          SubsumCues.contains(t.lemma)
        }
        (p.start until p.end).foreach { i =>
          if (cueAt(i)) {
            val before = p.chunks.filter(_.end <= (if (p.tokens(i).lemma == "example") i - 1 else i)).lastOption
            val afterChunks = p.chunks.filter(_.start > i)
            (before, afterChunks.headOption) match {
              case (Some(b), Some(a)) =>
                val group = conjGroup(p, a)
                val bT = p.tokens(b.head)
                if (bT.pos != "PRON") group.foreach { c =>
                  val cT = p.tokens(c.head)
                  if (cT.pos != "PRON" && entCompatible(bT.ner, cT.ner))
                    st.link(d, p, b.head, c.head, Subsum)
                }
              case _ =>
            }
          }
        }
        // appos copies from colon lists also imply SUBSUM handled in parser
        p.deps.foreach { dep =>
          if (dep.dep == "appos" && dep.from >= 0) {
            val (uT, lT) = (p.tokens(dep.from), p.tokens(dep.to))
            if (uT.pos != "PRON" && lT.pos != "PRON" && entCompatible(uT.ner, lT.ner))
              st.link(d, p, dep.from, dep.to, Subsum)
          }
        }
        // SUBSUM_COLLECTIVELY (subsumption_annotator.py:293-312):
        // "<A>, <B> and <C> (collectively, 'X')" — the defined term X
        // subsumes every listed item
        (p.start until p.end).foreach { i =>
          val t = p.tokens(i)
          if ((t.lemma == "collectively" || t.lemma == "hereinafter") &&
            i > p.start && p.tokens(i - 1).text == "(") {
            val upper = p.chunks.find(_.start > i)
            val beforeParen = p.chunks.filter(_.end <= i - 1).lastOption
            (upper, beforeParen) match {
              case (Some(u), Some(b)) =>
                val uT = p.tokens(u.head)
                if (uT.pos != "PRON") {
                  // conj group ending at b, walked backwards
                  var lowers = List(b)
                  var go = true
                  while (go) {
                    val prev = p.chunks.filter(_.end <= lowers.head.start).lastOption
                    prev match {
                      case Some(pc) =>
                        val between = (pc.end until lowers.head.start)
                        val conjOnly = between.nonEmpty && between.forall(k =>
                          p.tokens(k).pos == "CCONJ" ||
                            (p.tokens(k).pos == "PUNCT" && p.tokens(k).text == ","))
                        if (conjOnly) { lowers = pc :: lowers } else go = false
                      case None => go = false
                    }
                  }
                  lowers.foreach { c =>
                    val cT = p.tokens(c.head)
                    if (cT.pos != "PRON" && entCompatible(uT.ner, cT.ner))
                      st.link(d, p, u.head, c.head, Subsum)
                  }
                }
              case _ =>
            }
          }
        }
        // COREF_SOME_OF (subsumption_annotator.py:310-336): "some / all /
        // types / categories of X" — the quantifier head corefers with X,
        // so coref contraction later folds it into the real term
        p.deps.foreach { dep =>
          if (dep.dep == "prep" && dep.from >= 0 && p.tokens(dep.to).lemma == "of" &&
            QuantOfNouns.contains(p.tokens(dep.from).lemma) &&
            (p.tokens(dep.from).pos == "NOUN" || p.tokens(dep.from).pos == "PRON")) {
            p.out(dep.to).foreach { o =>
              if (o.dep == "obj") st.link(d, p, dep.from, o.to, Coref)
            }
          }
        }
        // first-party copula appositive ("We are <Company>." — the reference
        // FIRST_PARTY patterns, subsumption_annotator.py:418-451): a verbless
        // be-sentence whose subject is we/I subsumes the named company, which
        // then classifies as first-party in the tuple eval
        if (!(p.start until p.end).exists(k => p.tokens(k).pos == "VERB") &&
          p.chunks.length >= 2) {
          val c0 = p.chunks(0)
          val h0 = p.tokens(c0.head)
          if (h0.pos == "PRON" && (h0.lemma == "we" || h0.lemma == "i")) {
            val after = (c0.end until p.end).find(k => p.tokens(k).pos != "SPACE")
            if (after.exists(k => p.tokens(k).pos == "AUX" && p.tokens(k).lemma == "be")) {
              val c1 = p.chunks(1)
              val h1 = p.tokens(c1.head)
              if (h1.pos == "PROPN" && c1.start > c0.end)
                st.link(d, p, c0.head, c1.head, Subsum)
            }
          }
        }
      }
    }
  }

  private def conjGroup(p: Parse, c0: Chunk): List[Chunk] = {
    val out = mutable.ListBuffer(c0)
    var cur = c0
    var go = true
    while (go) {
      var k = cur.end
      var saw = false
      while (k < p.end && (p.tokens(k).pos == "CCONJ" ||
        (p.tokens(k).pos == "PUNCT" && p.tokens(k).text == ","))) { saw = true; k += 1 }
      p.chunks.find(_.start == k) match {
        case Some(nc) if saw => out += nc; cur = nc
        case _ => go = false
      }
    }
    out.toList
  }

  /** Coreference annotator (SURVEY.md J4; reference
    * coreference_annotator.py:43-97): pronoun / this-NP mentions link to the
    * nearest preceding compatible noun phrase in the same or previous
    * sentence; first match wins. */
  private def annotateCoreference(st: DocState): Unit = {
    st.docs.foreach { d =>
      var prevChunks: Vector[(Parse, Chunk)] = Vector.empty
      // anaphors already resolved in this document: a pronoun inside the
      // one-sentence candidate window stands for its antecedent, so chains
      // like "email address ... It ... this information" resolve across
      // more than one sentence hop
      // token indices are doc-global (parses share the doc's token vector),
      // so the head index alone keys a mention
      val resolvedTo = scala.collection.mutable.HashMap.empty[Int, (Parse, Int)]
      def keyOf(cp: Parse, h: Int): Int = h
      // most recent coordination of >=2 DATA mentions, for "the former" /
      // "the latter" ordinal anaphors
      var lastCoord: Vector[(Parse, Int)] = Vector.empty
      d.parses.foreach { p =>
        val cur = p.chunks.map(c => (p, c))
        p.chunks.foreach { c =>
          val head = p.tokens(c.head)
          // ordinal anaphors: "the former" → first member, "the latter" →
          // last member of the nearest preceding DATA coordination
          if ((head.lemma == "former" || head.lemma == "latter") &&
            lastCoord.size >= 2) {
            val (cp, candHead) =
              if (head.lemma == "former") lastCoord.head else lastCoord.last
            st.link(d, p, c.head, candHead, Coref)
            resolvedTo(keyOf(p, c.head)) = (cp, candHead)
            d.srcs(candHead).foreach { s =>
              st.mentions -= s
              st.recordMention(d, cp, candHead, s)
              st.sentText(s) = cp.text
            }
          }
          val trigger: Option[String] =
            if (head.pos == "PRON" && DataAnaphors.contains(head.lemma)) Some("DATA")
            else if (head.pos == "PRON" && ActorAnaphors.contains(head.lemma)) Some("ACTOR")
            else if (c.start < c.head && DemonstrativeDets.contains(p.tokens(c.start).lemma) &&
              GenericDataHeads.contains(head.lemma)) Some("DATA")
            else None
          trigger.foreach { expected =>
            // document order, current sentence first — the reference chains
            // current_sentence_ents then last_sentence_ents front-to-back
            // (coreference_annotator.py:55,87), so the LEFTMOST compatible
            // NP wins, not the nearest preceding one
            val candidates =
              (cur.filter(_._2.end <= c.start) ++ prevChunks)
            candidates.iterator.map { case (cp, cand) =>
              val h = cp.tokens(cand.head)
              if (h.pos == "PRON")
                resolvedTo.get(keyOf(cp, cand.head))
                  .filter { case (ap, ah) => ap.tokens(ah).ner == expected }
              else if (h.ner == expected) Some((cp, cand.head))
              else None
            }.collectFirst { case Some(x) => x }.foreach { case (cp, candHead) =>
              // COREF: mention → main mention
              if (!(cp eq p) || candHead != c.head) {
                st.link(d, p, c.head, candHead, Coref)
                resolvedTo(keyOf(p, c.head)) = (cp, candHead)
                // the antecedent's mention/sentence come from its OWN parse —
                // link() above just stamped it with the anaphor's sentence,
                // so overwrite (evidence must cite the antecedent's sentence)
                d.srcs(candHead).foreach { s =>
                  st.mentions -= s
                  st.recordMention(d, cp, candHead, s)
                  st.sentText(s) = cp.text
                }
              }
            }
          }
        }
        val dataChunks = p.chunks.filter(ch =>
          p.tokens(ch.head).ner == "DATA" && p.tokens(ch.head).pos != "PRON")
        if (dataChunks.size >= 2) lastCoord = dataChunks.map(ch => (p, ch.head))
        prevChunks = cur
      }
    }
  }

  private val TaxonomyCueLemmas = Set("include", "e.g.", "i.e.", "such",
    "like", "especially", "particularly", "namely", "for")

  /** Data-typed nouns that act as COLLECTION INSTRUMENTS when they head a
    * subject ("These cookies collect X", "the SDK transmits Y"). */
  private val InstrumentNouns = Set("cookie", "pixel", "beacon", "sdk",
    "tag", "technology", "tracker", "script")

  /** CCPA-style taxonomy lines — "Identifiers: name; email address." and
    * "... are collected: Identifiers (IP address and device identifier);
    * Geolocation (approximate location); Biometrics (none)." A
    * clause-initial label followed by ':' or a bare '(' items list is a
    * category header: it subsumes its items, and the pre-colon container
    * NP ("the following categories") carries across the ';'-split verbless
    * label clauses so every label joins the collect flow. Canonical labels
    * ("Identifiers" → identifier) stay real mentions — the policy names
    * them as collected categories. Exemplifier parens ("(including ...)")
    * are NOT taxonomy; nothing fires for them. */
  private def annotateColonTaxonomy(st: DocState): Unit = {
    st.docs.foreach { d =>
      // the from-side of the most recent colon list ("categories" in
      // "... categories are collected: Label (...); Label (...)")
      var container: Option[(Parse, Int)] = None
      d.parses.zipWithIndex.foreach { case (p, pi) =>
        val verbless = !(p.start until p.end).exists(k =>
          p.tokens(k).pos == "VERB" || p.tokens(k).pos == "AUX")
        if (!verbless && !(p.start until p.end).exists(k => p.tokens(k).text == ":"))
          container = None
        p.chunks.foreach { c =>
          def prevNonSpace: Option[Int] = {
            var k = c.start - 1
            while (k >= p.start && p.tokens(k).pos == "SPACE") k -= 1
            if (k >= p.start) Some(k) else None
          }
          val prevT = prevNonSpace.map(k => p.tokens(k).text)
          val clauseStart = prevT.forall(t => t == ":" || t == ";")
          if (clauseStart && c.end < p.end) {
            val nxt = p.tokens(c.end).text
            val colonLabel = nxt == ":"
            val parenLabel = nxt == "(" && c.end + 1 < p.end &&
              !TaxonomyCueLemmas.contains(p.tokens(c.end + 1).lemma)
            if (colonLabel || parenLabel) {
              // items must live in the SAME SEGMENT as the label — a
              // trailing colon whose "items" come from child segments is a
              // (nested) list intro, which the list annotator owns
              // (reference semantics: link copy, no taxonomy subsumption)
              val labSeg = d.srcs(c.head).map(_.seg)
              def sameSeg(h: Int): Boolean = d.srcs(h).map(_.seg) == labSeg
              val items: Vector[(Parse, Int)] =
                if (colonLabel) {
                  val here = p.chunks.filter(ch => ch.start > c.end &&
                    p.tokens(ch.head).ner == "DATA" && sameSeg(ch.head))
                    .map(ch => (p, ch.head))
                  if (here.isEmpty) Vector.empty
                  else {
                    val later = d.parses.drop(pi + 1)
                      .takeWhile(p2 => !(p2.start until p2.end).exists(k =>
                        p2.tokens(k).pos == "VERB" || p2.tokens(k).pos == "AUX"))
                      .flatMap(p2 => p2.chunks.filter(ch =>
                        p2.tokens(ch.head).ner == "DATA" && sameSeg(ch.head))
                        .map(ch => (p2, ch.head)))
                    here ++ later
                  }
                } else {
                  val close = (c.end + 1 until p.end)
                    .find(k => p.tokens(k).text == ")").getOrElse(p.end)
                  p.chunks.filter(ch => ch.start > c.end && ch.end <= close &&
                    p.tokens(ch.head).ner == "DATA").map(ch => (p, ch.head))
                }
              val hasNone = parenLabel && {
                val close = (c.end + 1 until p.end)
                  .find(k => p.tokens(k).text == ")").getOrElse(p.end)
                (c.end + 1 until close).exists(k => p.tokens(k).lemma == "none")
              }
              if (items.nonEmpty || hasNone) {
                // pre-colon container carries to this and later labels
                if (prevT.contains(":"))
                  container = prevNonSpace.flatMap(k =>
                    p.chunks.filter(_.end <= k).lastOption.map(cc => (p, cc.head)))
                container.foreach { case (cp, ch) =>
                  if (ch != c.head) st.link(d, p, ch, c.head, Subsum)
                }
                items.foreach { case (ip, ih) =>
                  st.link(d, ip, c.head, ih, Subsum)
                }
              }
            }
          }
        }
      }
    }
  }

  private val RecordVerbs = Set("record", "transcribe", "tape")
  private val MediaObjNouns = Set("call", "conversation", "voicemail")

  /** Recorded-media composition (mirror of the activity-relcl mechanism):
    * record/transcribe acting on a call-class noun names the
    * audio-recording datatype — "Calls to customer service may be
    * recorded", "the recording and subsequent transcription of support
    * calls". The call NP gets a SUBSUM child pointing at the synthetic
    * audio-recording mention, so collection captured on the NP reaches the
    * canonical term and the untyped NP collapses at graph build. */
  private def annotateRecordedMedia(st: DocState): Unit = {
    st.docs.foreach { d =>
      d.parses.foreach { p =>
        def linkAudio(heads: Seq[Int]): Unit = {
          val syn = st.activitySrc(p, 3)
          for (up <- heads; s1 <- d.srcs(up)) {
            st.linkSrc(s1, syn, Subsum)
            st.recordMention(d, p, up, s1)
            st.sentText.getOrElseUpdate(s1, p.text)
          }
        }
        p.deps.foreach { dep =>
          if (dep.dep == "obj" && dep.from >= 0 &&
            p.tokens(dep.from).pos == "VERB" &&
            RecordVerbs.contains(p.tokens(dep.from).lemma) &&
            MediaObjNouns.contains(p.tokens(dep.to).lemma) &&
            p.tokens(dep.to).ner != "DATA")
            linkAudio(Seq(dep.to))
        }
        p.chunks.foreach { c =>
          val h = p.tokens(c.head)
          if ((h.lemma == "note" || h.lemma == "log") && h.pos == "NOUN" &&
            c.end < p.end && p.tokens(c.end).lemma == "of") {
            // "notes/log of the call" = the call record (call log)
            p.chunks.find(_.start == c.end + 1).foreach { oc =>
              if (MediaObjNouns.contains(p.tokens(oc.head).lemma)) {
                val syn = st.activitySrc(p, 7)
                for (up <- Seq(c.head, oc.head); s1 <- d.srcs(up)) {
                  st.linkSrc(s1, syn, Subsum)
                  st.recordMention(d, p, up, s1)
                  st.sentText.getOrElseUpdate(s1, p.text)
                }
              }
            }
          }
          if ((h.lemma == "record" || h.lemma == "transcription") &&
            h.pos == "NOUN" && c.end < p.end && p.tokens(c.end).lemma == "of") {
            p.chunks.find(_.start == c.end + 1).foreach { oc =>
              if (MediaObjNouns.contains(p.tokens(oc.head).lemma))
                linkAudio(Seq(c.head, oc.head))
              // "a recording of your screen" captures visual media
              else if (p.tokens(oc.head).lemma == "screen") {
                val syn = st.activitySrc(p, 4)
                for (up <- Seq(c.head, oc.head); s1 <- d.srcs(up)) {
                  st.linkSrc(s1, syn, Subsum)
                  st.recordMention(d, p, up, s1)
                  st.sentText.getOrElseUpdate(s1, p.text)
                }
              }
            }
          }
        }
        // photograph/film as capture verbs: the actor acquires photo/video
        // regardless of what is photographed ("couriers ... photographing
        // your door"); agentless/passive forms fall to the operator
        (p.start until p.end).foreach { v =>
          val vt = p.tokens(v)
          val captureTerm =
            if (vt.lemma == "photograph" || vt.lemma == "film") 4
            // fingerprint-the-browser: the acquired datum is the device
            // fingerprint, regardless of the object ("our servers
            // fingerprint your browser")
            else if (vt.lemma == "fingerprint") 8
            // taping a call/exchange captures an audio recording whatever
            // the recorded thing is called ("Support calls are taped",
            // "the exchange is taped" — batch 11)
            else if (vt.lemma == "tape") 3
            // a device overhearing captures audio whatever the overheard
            // thing is called ("Whatever the microphone overhears
            // languishes in our tuning vault" — batch 13)
            else if (vt.lemma == "overhear") 3
            else -1
          if (captureTerm >= 0 && vt.pos == "VERB" &&
            !p.neg.contains(v)) {
            val syn = st.activitySrc(p, captureTerm)
            val subjs = p.out(v).filter(_.dep == "subj").map(_.to)
              .filter(h2 => p.tokens(h2).ner == "ACTOR" && p.tokens(h2).lemma != "you")
            if (subjs.nonEmpty)
              subjs.foreach { s =>
                for (ss <- d.srcs(s)) {
                  st.linkSrc(ss, syn, Collect)
                  st.recordMention(d, p, s, ss)
                }
              }
            else st.linkSrc(st.implicitWeSrc(p), syn, Collect)
            st.sentText.getOrElseUpdate(syn, p.text)
          }
        }
      }
    }
  }

  /** Gapped coordination after a semicolon: "We collect your name; our
    * advertising partners, your email address." — a verbless second
    * conjunct of shape [ACTOR NP], [DATA NP...] inherits the previous
    * clause's root verb (the classic legalese ellipsis). */
  private def annotateGapping(st: DocState): Unit = {
    st.docs.foreach { d =>
      d.parses.sliding(2).foreach {
        case Vector(p1, p2) =>
          // to-marked infinitives are purpose material, not the clause's
          // finite verb ("; to verify identity, your passport.")
          def finiteVerbAt(k: Int): Boolean = {
            val t = p2.tokens(k)
            t.pos == "AUX" || (t.pos == "VERB" &&
              !(k > p2.start && p2.tokens(k - 1).lemma == "to"))
          }
          val verbless = !(p2.start until p2.end).exists(finiteVerbAt)
          val afterSemi = p1.end > p1.start && p1.tokens(p1.end - 1).text == ";"
          // "; so does your device model." — repeat p1's action with the
          // new chunk in the slot p1's subject occupied
          if (afterSemi && p2.end - p2.start >= 3 &&
            p2.tokens(p2.start).lemma == "so" &&
            p2.tokens(p2.start + 1).lemma == "do") {
            val roots = p1.deps.filter(dd => dd.dep == "root" &&
              p1.tokens(dd.to).pos == "VERB").map(_.to)
            for {
              rv <- roots.find(v2 => p1.out(v2).exists(_.dep == "subj"))
              action <- Patterns.lemmaAction.get(p1.tokens(rv).lemma)
              (_, _, rel) <- Patterns.actionMap((action, p1.neg.contains(rv)))
                .collectFirst { case e @ (0, 1, _) => e }
              c2 <- p2.chunks.headOption
            } {
              val t2 = p2.tokens(c2.head)
              if (t2.ner == "DATA") {
                // DT-subject action ("Diagnostics accompany ...") — the new
                // datum is captured the same way
                d.srcs(c2.head).foreach { s2 =>
                  st.linkSrc(st.implicitWeSrc(p2), s2, rel)
                  st.recordMention(d, p2, c2.head, s2)
                  st.sentText.getOrElseUpdate(s2, p2.text)
                }
              } else if (t2.ner == "ACTOR") {
                // actor-subject action ("We collect X; so do our partners")
                for {
                  o <- p1.out(rv).filter(_.dep == "obj").map(_.to)
                  if p1.tokens(o).ner == "DATA"
                } st.link(d, p2, c2.head, o, rel)
              }
            }
          }
          if (verbless && afterSemi && p2.chunks.nonEmpty) {
            // only objects ADJACENT to the infinitive count; a chunk
            // after a comma is the stranded gap NP, even if the conj walk
            // absorbed it as a second object
            def infObj(c2: graft.nlp.RuleNlp.Chunk): Boolean = p2.deps.exists(dd =>
              dd.dep == "obj" && dd.to == c2.head && dd.from >= 0 &&
                p2.tokens(dd.from).pos == "VERB" &&
                !(dd.from + 1 until c2.start).exists(k => p2.tokens(k).text == ","))
            val usable = p2.chunks.filterNot(infObj)
            val actors = usable.takeWhile(c => p2.tokens(c.head).ner == "ACTOR")
            val rest = usable.drop(actors.length)
            // the finite matrix verb: prefer a root WITH a subject ("To
            // verify age, we ask ..." has a subjectless infinitive root too)
            lazy val rootVerb = {
              val roots = p1.deps.filter(dd => dd.dep == "root" &&
                p1.tokens(dd.to).pos == "VERB").map(_.to)
              roots.find(v => p1.out(v).exists(_.dep == "subj"))
                .orElse(roots.headOption)
            }
            lazy val relOf = for {
              rv <- rootVerb
              action <- Patterns.lemmaAction.get(p1.tokens(rv).lemma)
              e <- Patterns.actionMap((action, p1.neg.contains(rv)))
                .collectFirst { case e @ (0, 1, _) => e }
            } yield e._3
            if (actors.nonEmpty && rest.nonEmpty &&
              rest.forall(c => p2.tokens(c.head).ner == "DATA")) {
              relOf.foreach { rel =>
                for (a <- actors; dt <- rest) st.link(d, p2, a.head, dt.head, rel)
              }
            } else if (actors.isEmpty && rest.nonEmpty &&
              rest.forall(c => p2.tokens(c.head).ner == "DATA")) {
              // subject AND verb gapped ("To verify age, we ask your date
              // of birth; to verify identity, your passport.") — inherit
              // both from the previous clause
              for {
                rel <- relOf
                rv <- rootVerb
                s <- p1.out(rv).filter(_.dep == "subj").map(_.to)
                dt <- rest
              } st.link(d, p2, s, dt.head, rel)
            }
          }
        case _ =>
      }
    }
  }

  /** Collection annotator (SURVEY.md U4; collection_annotator.py:339-397). */
  /** "solely/only/exclusively/entirely on your device" marks on-device
    * processing — the operator never receives the data (extends the
    * "stored locally" exclusion; requires the exclusivity adverb so
    * "apps installed on your device" stays a collectable mention). */
  private def onDeviceOnly(p: Parse): Boolean =
    (p.start until p.end - 3).exists { k =>
      val l = p.tokens(k).lemma
      (l == "solely" || l == "exclusively" || l == "entirely" || l == "only") &&
        p.tokens(k + 1).lemma == "on" &&
        (p.tokens(k + 2).lemma == "your" || p.tokens(k + 2).lemma == "the") &&
        p.tokens(k + 3).lemma == "device"
    }

  private val RetractVerbLemmas = Set("end", "cease", "stop", "discontinue")

  /** Intransitive-transmission verbs (annotateCollection): hoisted out of
    * the per-entry hot loop — the literal Set allocated per evaluation
    * (round-7 allocation pass; same fix family as allocation pass 3). */
  private val FlowVerbs = Set("stream", "flow", "transfer", "convey", "go", "hop")

  // round-7 allocation pass: more literal Sets hoisted out of per-dep /
  // per-token / per-candidate loops (allocated on every evaluation before)
  private val PageActivityVerbs = Set("load", "visit", "view", "render", "open")
  private val ContainerVerbs = Set("contain", "include", "hold")
  private val DefinitionVerbs = Set("include", "mean", "contain", "hold")
  private val StayVerbs = Set("go", "remain", "stay")
  private val PeriodNouns = Set("day", "week", "month", "year", "period",
    "time", "instance", "duration")
  private val DenyDets = Set("this", "that", "these", "those", "any", "such",
    "various", "certain")
  private val TrivialPurposeWords = Set("purpose", "reason", "use", "data", "datum",
    "information", "u", "period", "time",
    "some", "all", "any", "variety", "category", "example", "more", "such",
    "another", "other", "following", "follow", "below", "additional",
    "certain", "similar", "limited", "various", "further", "enough",
    "e.g.", "i.e.", "etc", "which", "that", "collectively", "hereinafter",
    "detailed")

  private def annotateCollection(st: DocState): Unit = {
    st.docs.foreach { d =>
      // discontinued practices: "<statement>; that practice ended in 2024."
      // retracts the preceding sentence's assertions
      val retractedIdx: Set[Int] = {
        var s = Set.empty[Int]
        var i1 = 0
        while (i1 + 1 < d.parses.length) {
          val p2 = d.parses(i1 + 1)
          var k = p2.start
          var hit = false
          while (!hit && k < p2.end - 1) {
            val t = p2.tokens(k)
            if ((t.lemma == "this" || t.lemma == "that") &&
              p2.tokens(k + 1).lemma == "practice") {
              var j = k + 2
              val jEnd = math.min(p2.end, k + 5)
              while (!hit && j < jEnd) {
                if (RetractVerbLemmas.contains(p2.tokens(j).lemma)) hit = true
                j += 1
              }
            }
            k += 1
          }
          if (hit) s += i1
          i1 += 1
        }
        s
      }
      // in-sentence retraction appositive: "<statement> — a practice since
      // discontinued." / ", a practice we have ended" retracts its own
      // sentence (same cue words as the cross-sentence form)
      def selfRetracted(p: RuleNlp.Parse): Boolean = {
        var k = p.start
        while (k < p.end - 1) {
          if (p.tokens(k).lemma == "practice") {
            var j = k + 1
            val jEnd = math.min(p.end, k + 5)
            while (j < jEnd) {
              val tj = p.tokens(j)
              if (RetractVerbLemmas.contains(tj.lemma) ||
                tj.lemma == "discontinued" || tj.lemma == "ended" ||
                graft.nlp.Lexicon.lower(tj.text) == "discontinued" ||
                graft.nlp.Lexicon.lower(tj.text) == "ended") return true
              j += 1
            }
          }
          k += 1
        }
        false
      }
      d.parses.zipWithIndex.foreach { case (p, pIdx) =>
        if (!onDeviceOnly(p) && !retractedIdx.contains(pIdx) && !selfRetracted(p)) Patterns.matchSentence(p).foreach { m =>
          // egress presupposition survives negation: "your data never
          // leaves our servers" asserts the data IS on our servers — the
          // leave-STORE_NOUN pattern's retention reading is
          // negation-transparent (the leave-your-device transmission
          // pattern keeps ordinary polarity)
          // "So too do ad partners receive X": the additive front
          // presupposes the anchor party — the operator — performs the
          // same practice (batch 24; h44/h213 presupposition family)
          val soToo = p.start + 1 < p.end && p.tokens(p.start).lemma == "so" &&
            p.tokens(p.start + 1).lemma == "too"
          val mNeg = m.neg && !(m.action == "STORE" && m.verb >= 0 &&
            (p.tokens(m.verb).lemma == "leave" ||
              // "never surrenders X" is retention, same as never-leaves
              p.tokens(m.verb).lemma == "surrender" ||
              p.tokens(m.verb).lemma == "relinquish"))
          val entries =
            // ACTIVE deletion ("you can ask us to erase X") is a rights
            // statement, no capture; the agentless PASSIVE ("your data is
            // deleted after 90 days") discloses prior storage
            if (m.verb >= 0 && DeletionVerbs.contains(p.tokens(m.verb).lemma) &&
              !p.passiveVerbs.contains(m.verb)) Nil
            else Patterns.actionMap((m.action, mNeg))
          // implicit first-party only when the match captured no VALID party
          // in any slot ("Your voice may be recorded") — a passive that
          // names one ("shared with analytics providers") keeps reference
          // semantics exactly, while a non-party capture ("reported to our
          // internal dashboard", "assigned by the operating system") still
          // reads as the operator acting
          val anyActor = entries.exists { case (ei, _, _) =>
            m.args.lift(ei).exists { a =>
              val real = a.filter(_ >= 0) // drop the implicit-WE sentinel
              real.nonEmpty && validateType(st, d, p, real, "ACTOR")
            }
          }
          // external-recipient destination: an into/onto/to-NP after the
          // verb naming a non-user ACTOR not possessed by "our" — data
          // deposited in a third party's store is shared with that party,
          // not retained by the operator ("pencilled into the courier's
          // roster"; batch 11). The possessor may be a genitive modifier
          // or the NP head itself ("to the acquiring bank").
          val destActor: Int = if (m.verb < 0) -1 else {
            var res = -1
            var i2 = m.verb + 1
            while (res < 0 && i2 < p.end) {
              val ti = p.tokens(i2)
              if (ti.pos == "ADP" && (ti.lemma == "to" || ti.lemma == "into" ||
                ti.lemma == "onto")) {
                var j = i2 + 1
                var sawOur = false
                var actor = -1
                var stop = false
                while (!stop && j < p.end) {
                  val tj = p.tokens(j)
                  if (tj.pos == "PUNCT" || tj.pos == "VERB" || tj.pos == "ADP" ||
                    tj.pos == "SCONJ" || tj.pos == "AUX") stop = true
                  else {
                    if (tj.lemma == "our") sawOur = true
                    if (tj.ner == "ACTOR" && (tj.pos == "NOUN" || tj.pos == "PROPN") &&
                      !UserSubjects.contains(tj.lemma.toLowerCase)) actor = j
                    j += 1
                  }
                }
                if (!sawOur && actor >= 0) res = actor
                i2 = j
              } else i2 += 1
            }
            res
          }
          // diversion particle right after the verb ("siphoned OFF to the
          // acquiring bank"): the datum is drawn away to the recipient —
          // no first-party retention reading (contrast plain transmission,
          // where the h213 convention keeps the sharer's tuple)
          val diversion = m.verb >= 0 && m.verb + 1 < p.end && {
            val l = p.tokens(m.verb + 1).lemma
            l == "off" || l == "away"
          }
          entries.foreach { case (eIdx, dtIdx, rel) =>
            val ents = m.args.lift(eIdx).getOrElse(Nil)
            val dts = m.args.lift(dtIdx).getOrElse(Nil)
            if (ents == List(Patterns.ImplicitWeArg)) {
              // pattern-designated implicit first party ("you consent to
              // the collection of DT")
              if (validateType(st, d, p, dts, "DATA")) {
                for (dt <- dts; dtSrc <- d.srcs(dt)) {
                  st.linkSrc(st.implicitWeSrc(p), dtSrc, rel)
                  st.recordMention(d, p, dt, dtSrc)
                  st.sentText.getOrElseUpdate(dtSrc, p.text)
                }
              }
            } else if (validateType(st, d, p, ents, "ACTOR") && validateType(st, d, p, dts, "DATA")) {
              for (e <- ents; dt <- dts) st.link(d, p, e, dt, rel)
              if (soToo && !mNeg) for (dt <- dts; dtSrc <- d.srcs(dt)) {
                st.linkSrc(st.implicitWeSrc(p), dtSrc, rel)
                st.recordMention(d, p, dt, dtSrc)
                st.sentText.getOrElseUpdate(dtSrc, p.text)
              }
            } else if (eIdx == 0 && (ents.isEmpty ||
              // a non-party subject capture ("Section 7 permits sharing it
              // with carriers") leaves the operator as the implied actor
              (!validateType(st, d, p, ents, "ACTOR") &&
                (!validateType(st, d, p, ents, "DATA") ||
                  // modifier-promoted DATA ner on an infrastructure head
                  // ("Our telemetry bus", "The session recorder") must not
                  // read as a datum subject — batch 12
                  instrumentHead(d, p, ents) ||
                  // an anaphoric subject "it" may coref-type as DATA, but
                  // as the AGENT of a practice verb it is the operator's
                  // system ("..., it also banks billing records") — b18
                  ents.forall(t2 => d.toks(t2).pos == "PRON" &&
                    d.toks(t2).lemma == "it")) &&
                !ents.exists(t => UserSubjects.contains(d.toks(t).lemma.toLowerCase)))) &&
              m.verb >= 0 &&
              // agentless passive — and, for SHARE/SELL, also the agented
              // passive with only a RECIPIENT named ("crash reports are
              // transmitted to our vendor"): the labeling convention keeps
              // a first-party tuple for the sharer, who evidently holds the
              // data (recall extension beyond the reference, which drops
              // the collect edge when no subject is captured)
              (!anyActor || m.action == "SHARE" || m.action == "SELL") &&
              (p.passiveVerbs.contains(m.verb) ||
                // subjectless share-gerund ("Section 7 permits sharing it
                // with mobile carriers"): the implied sharer is the
                // operator — same convention as the share-passive
                p.tokens(m.verb).text.toLowerCase.endsWith("ing") ||
                // intransitive transmission ("your account data would
                // transfer to the successor entity"): an EXTERNAL
                // destination implies first-party possession (h213
                // disclosure convention); an our-possessed destination is
                // our own processor — recipient side only (h207)
                // expletive-controlled infinitive ("It falls to our
                // auditors to inspect X"): the only captured subject is the
                // dummy 'it'
                (m.verb > p.start && p.tokens(m.verb - 1).lemma == "to" &&
                  ents.nonEmpty && ents.forall(t2 => d.toks(t2).lemma == "it")) ||
                (FlowVerbs.contains(p.tokens(m.verb).lemma) &&
                  m.args.lift(2).exists(r => r.nonEmpty && !r.exists(h =>
                    p.chunkOf(h).exists(c =>
                      (c.start until h).exists(k => p.tokens(k).lemma == "our"))))) ||
                // operator-side instrument subject acting on a datum ("Our
                // databank soaks up every search you run", "the card
                // reader beams each swipe to our ledger"): an our-possessed
                // or definite common-noun subject that is neither a party
                // nor a datum is first-party infrastructure — the operator
                // acts (metonymy; batch 11). your/their-possessed subjects
                // stay out, so "your browser sends ..." is unchanged.
                // bare anaphoric "it" as the subject of a practice verb
                // ("..., it also banks billing records") refers to the
                // operator's own system in policy prose — batch 18
                (ents.nonEmpty && ents.forall(t2 => d.toks(t2).lemma == "it" &&
                  d.toks(t2).pos == "PRON")) ||
                (ents.nonEmpty && ents.forall { t2 =>
                  val tk = d.toks(t2)
                  (tk.pos == "NOUN" || tk.pos == "PROPN") &&
                    p.chunkOf(t2).exists { c =>
                      // the determiner may sit just left of the chunk when
                      // an adverb/adjective premodifier broke it off ("Our
                      // nightly job")
                      var k = c.start - 1
                      while (k >= p.start && (p.tokens(k).pos == "ADV" ||
                        p.tokens(k).pos == "ADJ")) k -= 1
                      ((if (k >= p.start) k else c.start) until t2)
                        .exists { j =>
                          val l = p.tokens(j).lemma
                          (l == "our" || l == "the" || l == "this" ||
                            l == "these" || l == "each" || l == "every") &&
                            // a temporal light noun after the determiner
                            // marks a when-connective, not the subject's
                            // determiner ("... the moment adjusters file
                            // them" — 'adjusters' is no instrument)
                            !(j + 1 until t2).exists(j2 =>
                              TemporalNouns.contains(p.tokens(j2).lemma))
                        }
                    }
                })) &&
              // "stored locally" / "processed on your device" = on-device,
              // not operator collection
              !(m.verb + 1 < p.end && p.tokens(m.verb + 1).lemma == "locally") &&
              validateType(st, d, p, dts, "DATA")) {
              if (destActor >= 0 && !rel.startsWith("NOT_") &&
                (m.action == "STORE" || m.action == "COLLECT")) {
                // deposit into a third party's store → shared with that
                // party, not retained by the operator
                for (dt <- dts) st.link(d, p, destActor, dt, "BE_SHARED")
              } else if (!(m.action == "SHARE" && destActor >= 0 &&
                (diversion ||
                  // instrument-subject conduit ("the card reader relaying
                  // your card number to the processor", "The booking tool
                  // hands X off to border control"): the device is a
                  // carrier — only the recipient's tuple stands. Agentless
                  // passives (ents empty) keep the h213 first-party tuple.
                  ents.nonEmpty))) {
                // agentless passive → implicit first-party actor
                for (dt <- dts; dtSrc <- d.srcs(dt)) {
                  st.linkSrc(st.implicitWeSrc(p), dtSrc, rel)
                  st.recordMention(d, p, dt, dtSrc)
                  st.sentText.getOrElseUpdate(dtSrc, p.text)
                }
              }
            } else if (eIdx == 2 &&
              !validateType(st, d, p, ents, "ACTOR") && !rel.startsWith("NOT_") &&
              m.args.lift(0).exists(g => g.nonEmpty && (g.forall { t =>
                UserSubjects.contains(d.toks(t).lemma.toLowerCase)
              } ||
                // gerund/abstract subject stands for the user's action:
                // "Creating an account requires providing your date of
                // birth" — the provider is the account creator
                (!validateType(st, d, p, g, "DATA") && g.exists { t =>
                  d.toks(t).pos == "NOUN" &&
                    d.toks(t).text.toLowerCase.endsWith("ing")
                }))) && validateType(st, d, p, dts, "DATA")) {
              // "you provide/submit/give DT" (or any data-subject noun —
              // "applicants submit their resume") with no recipient: the
              // receiver is the first party
              for (dt <- dts; dtSrc <- d.srcs(dt)) {
                st.linkSrc(st.implicitWeSrc(p), dtSrc, rel)
                st.recordMention(d, p, dt, dtSrc)
                st.sentText.getOrElseUpdate(dtSrc, p.text)
              }
            } else if (eIdx == 0 && ents.nonEmpty && !rel.startsWith("NOT_") &&
              validateType(st, d, p, ents, "DATA") &&
              ents.forall(t => InstrumentNouns.contains(d.toks(t).lemma)) &&
              validateType(st, d, p, dts, "DATA")) {
              // instrument subject ("These cookies collect your browsing
              // history"): attribute the collection to the actor that
              // placed the instrument (an earlier clause's verb with the
              // same instrument as its object), else to the operator
              val instrLemmas = ents.map(t => d.toks(t).lemma).toSet
              val placer = d.parses.takeWhile(pp => !(pp eq p)).reverseIterator
                .flatMap { pp =>
                  pp.chunks.filter(ch => instrLemmas.contains(pp.tokens(ch.head).lemma))
                    .flatMap(ch => d.srcs(ch.head))
                    .flatMap(s => st.inEdges(s).collect {
                      case (from, _, r2) if r2 != Subsum && r2 != Coref => from
                    })
                }.toSeq.headOption
              for (dt <- dts; dtSrc <- d.srcs(dt)) {
                st.linkSrc(placer.getOrElse(st.implicitWeSrc(p)), dtSrc, rel)
                st.recordMention(d, p, dt, dtSrc)
                st.sentText.getOrElseUpdate(dtSrc, p.text)
              }
            }
          }
          // COLLECT-from with a DATA-typed source ("infer your coarse
          // geolocation from your IP address"): the from-phrase names a
          // datatype that is processed, not a party — emit USE on it
          if (m.action == "COLLECT" && !m.neg) {
            val e2 = m.args.lift(2).getOrElse(Nil)
            if (e2.nonEmpty && !validateType(st, d, p, e2, "ACTOR") &&
              validateType(st, d, p, e2, "DATA") &&
              // "from every session" / "from each visit": a distributively
              // quantified from-NP is the collection OCCASION, not a datum
              // the operator processes (batch 12)
              !e2.exists(t => p.chunkOf(t).exists(c =>
                (c.start until t).exists { j =>
                  val l = p.tokens(j).lemma
                  l == "every" || l == "each"
                }))) {
              val actors = m.args.lift(0).getOrElse(Nil)
              if (actors.nonEmpty && validateType(st, d, p, actors, "ACTOR")) {
                for (a <- actors; dt <- e2) st.link(d, p, a, dt, "USE")
              } else if ((actors.isEmpty && m.verb >= 0 &&
                p.passiveVerbs.contains(m.verb)) ||
                // "X derived from Y" where X is itself a datatype: the
                // implicit operator uses Y (infrastructure subjects with
                // modifier-promoted DATA ner are NOT derived artifacts)
                (actors.nonEmpty && validateType(st, d, p, actors, "DATA") &&
                  !instrumentHead(d, p, actors))) {
                for (dt <- e2; s <- d.srcs(dt)) {
                  st.linkSrc(st.implicitWeSrc(p), s, "USE")
                  st.recordMention(d, p, dt, s)
                  st.sentText.getOrElseUpdate(s, p.text)
                }
                // ... and the derived artifact X itself is data the
                // operator now holds ("your approximate location, inferred
                // from your IP address, helps us ...")
                if (actors.nonEmpty && validateType(st, d, p, actors, "DATA")) {
                  for (a <- actors; s <- d.srcs(a)) {
                    st.linkSrc(st.implicitWeSrc(p), s, "COLLECT")
                    st.recordMention(d, p, a, s)
                    st.sentText.getOrElseUpdate(s, p.text)
                  }
                }
              }
            }
          }
        }
      }
    }
  }

  /** OOV transmission/egress semantics (batch-10 closure): two general
    * shapes the pattern bank cannot anchor because the predicate is out of
    * vocabulary.
    *  1. agentless PASSIVE with an unknown verb and an our-possessed
    *     to/into destination ("the transaction amount is whisked off to
    *     our fraud desk") — the operator receives the subject datum;
    *  2. negative-universal subject + egress verb + our-possessed object
    *     ("Nothing you type in support chats escapes our audit trail") —
    *     the negated escape asserts capture: DATA mentions in the subject
    *     region are collected. */
  private def annotateOovTransmission(st: DocState): Unit = {
    val EgressLemmas = Set("escape", "evade", "elude", "dodge", "bypass")
    st.docs.foreach { d =>
      d.parses.foreach { p =>
        if (!onDeviceOnly(p)) {
          // shape 1: OOV passive with our-possessed destination
          p.passiveVerbs.foreach { v =>
            if (!graft.nlp.Lexicon.verbLemmas.contains(p.tokens(v).lemma)) {
              var ourDest = false
              var i = v + 1
              while (i < p.end && !ourDest) {
                val l = p.tokens(i).lemma
                if (l == "to" || l == "into" || l == "onto") {
                  var j = i + 1
                  val jEnd = math.min(p.end, i + 4)
                  // a definite STORE_NOUN-headed destination is the
                  // operator's own store unless possessed by another party
                  // ("inked into the member register" — batch 12; genitive
                  // third-party stores go through destActor instead)
                  var defDet = false
                  var storeNoun = false
                  var otherPoss = false
                  while (j < jEnd && !ourDest) {
                    val tj = p.tokens(j)
                    val lj = tj.lemma
                    if (lj == "our") ourDest = true
                    if (lj == "the" || lj == "this" || lj == "these") defDet = true
                    if (lj == "your" || lj == "their" || lj == "his" ||
                      lj == "her" || tj.text.toLowerCase.endsWith("'s") ||
                      tj.text.toLowerCase.endsWith("’s")) otherPoss = true
                    if (graft.nlp.Lexicon.tokenMap("STORE_NOUN").contains(lj))
                      storeNoun = true
                    j += 1
                  }
                  if (defDet && storeNoun && !otherPoss) ourDest = true
                } else if (l == "by" && p.tokens(i).pos == "ADP") {
                  // by-agent naming operator-side instrumentation ("is
                  // profiled by the store kiosks", "minuted by the fraud
                  // sentry"): an our-possessed or definite common-noun
                  // agent that names no party is the operator's machinery
                  // observing the subject datum (batch 11)
                  var j = i + 1
                  var det = false
                  var party = false
                  var stop = false
                  while (!stop && j < p.end) {
                    val tj = p.tokens(j)
                    if (tj.pos == "PUNCT" || tj.pos == "VERB" || tj.pos == "ADP" ||
                      tj.pos == "SCONJ" || tj.pos == "AUX") stop = true
                    else {
                      val lj = tj.lemma
                      if (lj == "our" || lj == "the" || lj == "this" ||
                        lj == "these") det = true
                      if (tj.ner == "ACTOR" || UserSubjects.contains(lj)) party = true
                      // DATA ner blocks the instrument reading only on a
                      // genuine datum HEAD — "by our gait profiler" carries
                      // DATA through the compound modifier alone, and the
                      // modifier token itself never decides (batch 17)
                      if (tj.ner == "DATA" && p.chunkOf(j).exists(_.head == j) &&
                        !instrumentHead(d, p, List(j)))
                        party = true
                      j += 1
                    }
                  }
                  if (det && !party) ourDest = true
                }
                i += 1
              }
              if (ourDest && !p.neg.contains(v)) {
                // subject via dep when present, else the nearest DATA chunk
                // before the verb group (passive subclauses may carry no
                // subj edge: "when the transaction amount is whisked ...")
                val viaDep = p.out(v).collect {
                  case e if e.dep == "subj" && p.tokens(e.to).ner == "DATA" => e.to
                }
                val subjHeads =
                  if (viaDep.nonEmpty) viaDep
                  else p.chunks.filter(c => c.end <= v &&
                    p.tokens(c.head).ner == "DATA" &&
                    p.tokens(c.head).pos != "PRON").takeRight(1).map(_.head)
                subjHeads.foreach { sh =>
                  for (s <- d.srcs(sh)) {
                    st.linkSrc(st.implicitWeSrc(p), s, Collect)
                    st.recordMention(d, p, sh, s)
                    st.sentText.getOrElseUpdate(s, p.text)
                  }
                }
              }
            }
          }
          // shape 4: recipient-subject passive ditransitive — "The tax
          // office is lobbed copies of flagged invoices" (batch 17): a
          // passive transfer verb whose promoted subject is an ACTOR and
          // whose retained object resolves to a datum (directly or through
          // a partitive of-chain) shares the datum with the actor; the
          // sharer side's implicit first-party row comes from the normal
          // share-passive convention
          p.passiveVerbs.foreach { v =>
            if (graft.nlp.Lexicon.tokenMap("VERB_PROVIDE_TO").contains(p.tokens(v).lemma)) {
              val objs = p.out(v).filter(_.dep == "obj").map(_.to)
              val actorHeads = objs.filter(h => p.tokens(h).ner == "ACTOR" &&
                !UserSubjects.contains(p.tokens(h).lemma))
              val dtHeads = objs.filterNot(actorHeads.contains).flatMap { h =>
                if (p.tokens(h).ner == "DATA") Some(h)
                else p.chunkOf(h).filter(c => c.end < p.end &&
                  p.tokens(c.end).lemma == "of").flatMap(c =>
                  p.chunks.find(_.start == c.end + 1)
                    .filter(c2 => p.tokens(c2.head).ner == "DATA").map(_.head))
              }
              if (!p.neg.contains(v))
                for (a <- actorHeads; dt <- dtHeads)
                  st.link(d, p, a, dt, "BE_SHARED")
            }
          }
          // shape 3: negative-morphology double negation — "not a single
          // failed login goes unlogged" (batch 15): a negative-universal
          // subject + go/remain/stay + un-V-ed participle asserts the
          // practice V positively; the relation comes from the inner
          // verb's class
          p.deps.foreach { dep =>
            if ((dep.dep == "root" || dep.dep == "ccomp") &&
              StayVerbs.contains(p.tokens(dep.to).lemma)) {
              val v = dep.to
              val unTok = (v + 1 until math.min(p.end, v + 3)).find { j =>
                val tx = graft.nlp.Lexicon.lower(p.tokens(j).text)
                tx.length > 5 && tx.startsWith("un") && tx.endsWith("ed")
              }
              unTok.foreach { u =>
                val inner = graft.nlp.Lexicon.lemma(
                  graft.nlp.Lexicon.lower(p.tokens(u).text).drop(2))
                val rel =
                  if (graft.nlp.Lexicon.tokenMap("VERB_STORE").contains(inner)) "STORE"
                  else if (graft.nlp.Lexicon.tokenMap("VERB_COLLECT_FROM").contains(inner)) Collect
                  else if (graft.nlp.Lexicon.tokenMap("VERB_USE").contains(inner)) "USE"
                  else null
                var negUniversal = false
                var k = p.start
                while (k < v && !negUniversal) {
                  val l = graft.nlp.Lexicon.lower(p.tokens(k).text)
                  if (l == "not" || l == "no" || l == "nothing" ||
                    l == "none" || l == "never") negUniversal = true
                  k += 1
                }
                if (rel != null && negUniversal && !p.neg.contains(v)) {
                  p.chunks.foreach { c =>
                    if (c.end <= v && p.tokens(c.head).ner == "DATA" &&
                      p.tokens(c.head).pos != "PRON")
                      for (s <- d.srcs(c.head)) {
                        st.linkSrc(st.implicitWeSrc(p), s, rel)
                        st.recordMention(d, p, c.head, s)
                        st.sentText.getOrElseUpdate(s, p.text)
                      }
                  }
                }
              }
            }
          }
          // shape 2: "Nothing ... escapes our X" (relcl included: "Rare is
          // the login that bypasses our gate log" — batch 18)
          p.deps.foreach { dep =>
            if ((dep.dep == "root" || dep.dep == "ccomp" || dep.dep == "relcl") &&
              EgressLemmas.contains(p.tokens(dep.to).lemma)) {
              val v = dep.to
              var negUniversal = false
              var k = p.start
              while (k < v && !negUniversal) {
                val l = graft.nlp.Lexicon.lower(p.tokens(k).text)
                if (l == "nothing" || l == "none" ||
                  // fronted negative-adverb inversion ("Never does an
                  // upload escape our audit trail" — batch 14; the
                  // inversion rule exempts evasion verbs from verb-level
                  // negation, so the cue is read here instead); bare "not"
                  // covers the negative minimizer ("Not a single voicemail
                  // dodges our retention sweep" — batch 16)
                  l == "never" || l == "rarely" || l == "seldom" ||
                  l == "not" ||
                  // adjective fronting: "Rare is the login that bypasses
                  // our gate log" (batch 18)
                  l == "rare" ||
                  (l == "no" && p.tokens(k).pos == "DET")) negUniversal = true
                k += 1
              }
              var ourObj = false
              k = v + 1
              while (k < p.end && !ourObj) {
                if (p.tokens(k).lemma == "our") ourObj = true
                k += 1
              }
              if (negUniversal && ourObj) p.chunks.foreach { c =>
                if (c.end <= v && p.tokens(c.head).ner == "DATA" &&
                  p.tokens(c.head).pos != "PRON")
                  for (s <- d.srcs(c.head)) {
                    st.linkSrc(st.implicitWeSrc(p), s, Collect)
                    st.recordMention(d, p, c.head, s)
                    st.sentText.getOrElseUpdate(s, p.text)
                  }
              }
            }
          }
        }
      }
    }
  }

  /** BFS type check through SUBSUM/COREF edges
    * (collection_annotator.py:354-375). */
  private def validateType(st: DocState, d: CtxDoc, p: Parse, toks: List[Int], target: String): Boolean = {
    if (toks.isEmpty) return false
    // quick local check by token ner first — the common case; the BFS
    // structures below are only allocated when the walk is actually needed
    if (toks.exists(t => d.toks(t).ner == target)) return true
    val srcs0 = toks.flatMap(t => d.srcs(t))
    val entOf = mutable.Map[Src, String]()
    toks.foreach(t => d.srcs(t).foreach(s => entOf(s) = d.toks(t).ner))
    val queue = mutable.Queue[Src](srcs0: _*)
    val visited = mutable.Set[Src](srcs0: _*)
    while (queue.nonEmpty) {
      val s = queue.dequeue()
      val ner = entOf.getOrElse(s, st.mentions.get(s).map(_.ner).getOrElse("NN"))
      if (ner == target) return true
      if (ner == "NN" || ner == "") {
        st.allLinks(s).foreach { case (a, b, rel) =>
          if (rel == Subsum || rel == Coref) {
            val other = if (a == s) b else a
            if (!visited.contains(other)) { visited += other; queue.enqueue(other) }
          }
        }
      }
    }
    false
  }

  /** Purpose annotator (SURVEY.md U6; purpose_annotator.py:75-207). */
  private def annotatePurpose(st: DocState): Unit = {
    // the reference's TRIVIAL_WORDS (utils.py:9-14) + the domain nouns the
    // purpose validator already ignored — a span of only these words is not
    // a purpose ("for example ...", "for this reason", ...)
    val trivial = TrivialPurposeWords
    st.docs.foreach { d =>
      // data types already on the receiving end of a COLLECT-family edge
      d.parses.foreach { p =>
        // tight loop: runs for every sentence of every context doc
        var collected: Set[Int] = Set.empty
        var ci = 0
        while (ci < p.chunks.length) {
          val c = p.chunks(ci)
          d.srcs(c.head).foreach { s =>
            if (st.inEdges(s).exists(e => CollectEdgeTypes(e._3)))
              collected += c.head
          }
          ci += 1
        }
        if (collected.nonEmpty && !p.text.endsWith(":")) {
          // candidates: (anchorVerb, purposeRoot)
          val cands = mutable.ListBuffer[(Int, Int)]()
          p.deps.foreach { dep =>
            dep.dep match {
              case "xcomp" if p.out(dep.to).exists(e => e.dep == "aux" && p.tokens(e.to).lemma == "to") =>
                cands += ((dep.from, dep.to))
              case "acl" => // in order to
                // anchor = the verb holding the "in" prep
                val orderTok = dep.from
                p.in(orderTok).foreach { oe =>
                  if (oe.dep == "obj") p.in(oe.from).foreach { ie =>
                    if (ie.dep == "prep" && ie.from >= 0 && p.tokens(ie.from).pos == "VERB")
                      cands += ((ie.from, ie.from match { case _ => oe.from })) // purpose root = "in"
                  }
                }
              case "prep" if dep.from >= 0 && p.tokens(dep.to).lemma == "for" &&
                p.tokens(dep.from).pos == "VERB" &&
                p.out(dep.to).exists(e => e.dep == "obj" &&
                  (p.tokens(e.to).pos == "NOUN" || p.tokens(e.to).pos == "PROPN")) =>
                cands += ((dep.from, dep.to))
              case _ =>
            }
          }
          cands.distinct.foreach { case (anchor, purposeRoot) =>
            val span = subtreeSpan(p, purposeRoot)
            val spanToks = (span._1 until span._2).filter(k => p.tokens(k).pos != "SPACE")
            if (purposeValid(p, purposeRoot, spanToks, trivial)) {
              val anchorSub = subtreeSet(p, anchor)
              val dtypes = collected.filter(t => anchorSub.contains(t) &&
                !(span._1 <= t && t < span._2))
              if (dtypes.nonEmpty) {
                val text = RuleNlp.renderText(p.tokens, span._1, span._2)
                dtypes.foreach { dt =>
                  st.link(d, p, dt, purposeRoot, Purpose)
                }
                d.srcs(purposeRoot).foreach(s => st.purposeText(s) = text)
              }
            }
          }
        }
      }
    }
  }

  private def subtreeSet(p: Parse, root: Int): Set[Int] = {
    val seen = mutable.Set(root)
    val q = mutable.Queue(root)
    while (q.nonEmpty) {
      val x = q.dequeue()
      p.out(x).foreach { e => if (!seen.contains(e.to)) { seen += e.to; q.enqueue(e.to) } }
    }
    // expand through chunk membership
    seen.toSet.flatMap { (t: Int) =>
      p.chunkOf(t).map(c => (c.start until c.end).toSet).getOrElse(Set(t))
    }
  }

  private def subtreeSpan(p: Parse, root: Int): (Int, Int) = {
    val s = subtreeSet(p, root)
    (root, (s + root).max + 1) // reference: left = purpose_root.i
  }

  private def purposeValid(p: Parse, root: Int, spanToks: Seq[Int], trivial: Set[String]): Boolean = {
    val rootTok = p.tokens(root)
    if (rootTok.lemma == "collect") return false
    // deny: for + time-period noun
    val period = PeriodNouns
    if (rootTok.lemma == "for" &&
      p.out(root).exists(e => period.contains(p.tokens(e.to).lemma))) return false
    // deny: this/that/such/nummod purpose|reason|use
    val denyDet = DenyDets
    val hasDenied = spanToks.exists { k =>
      val t = p.tokens(k)
      PurposeNouns.contains(t.lemma) && {
        p.chunkOf(k).exists(c => (c.start until c.end).exists(j =>
          denyDet.contains(p.tokens(j).lemma) || p.tokens(j).pos == "NUM"))
      }
    }
    if (hasDenied) return false
    // require at least one informative token
    spanToks.exists { k =>
      val t = p.tokens(k)
      t.pos != "PUNCT" && t.pos != "SPACE" &&
        !graft.nlp.Lexicon.stopWords.contains(t.text.toLowerCase) &&
        t.ner != "DATA" && t.ner != "ACTOR" &&
        !trivial.contains(t.lemma)
    }
  }

  /** List annotator (SURVEY.md J5; list_annotator.py:11-75). */
  private def annotateList(st: DocState): Unit = {
    val byParent = st.segs.groupBy(_.parentId)
    val docOf: Map[Int, CtxDoc] = st.docs.map(d => d.segId -> d).toMap
    st.segs.filter(_.segType != "LISTITEM").foreach { root =>
      val listitems = byParent.getOrElse(root.segId, Vector.empty).filter(_.segType == "LISTITEM")
      val itemChildren = listitems.flatMap { li =>
        byParent.getOrElse(li.segId, Vector.empty) match {
          case Vector(only) => Some(only)
          case _ => None
        }
      }
      if (itemChildren.nonEmpty) docOf.get(root.segId).foreach { ctxDoc =>
        val contextSrcs: Set[Src] = ctxDoc.srcs.flatten.toSet
        val linkToApply = mutable.LinkedHashMap[(Option[Src], Option[Src]), String]()

        // "following"/"below" cue → SUBSUM from its NP head
        ctxDoc.parses.foreach { p =>
          (p.start until p.end).foreach { k =>
            val t = p.tokens(k)
            if ((t.lemma == "follow" || t.lemma == "following" || t.lemma == "below") &&
              linkToApply.isEmpty) {
              // "the following information:" → SUBSUM from the NP head;
              // bare "the following:" (substantive) → SUBSUM from the cue
              // token itself — it normalizes to UNSPECIFIED, so the graph
              // build splices the parent's COLLECT/BE_SHARED edges through
              // to the items (eliminateIntermediate). An adverbial cue
              // outside any chunk ("the categories listed below") subsumes
              // from the nearest preceding NP instead.
              val cueChunk = p.chunkOf(k)
                .orElse(p.chunks.filter(_.end <= k).lastOption.map(c => c.copy(head = c.head)))
              cueChunk.foreach { c =>
                d2src(ctxDoc, c.head).foreach { hs =>
                  if (p.tokens(c.head).ner.nonEmpty || c.head == k ||
                    !p.chunkOf(k).isDefined) {
                    linkToApply((Some(hs), None)) = Subsum
                    st.recordMention(ctxDoc, p, c.head, hs)
                    st.sentText.getOrElseUpdate(hs, p.text)
                  }
                }
              }
            }
          }
        }

        // each item's root noun phrase + its existing links into the context
        val childTokens = mutable.ListBuffer[(Src, CtxDoc, Parse, Int)]()
        itemChildren.foreach { item =>
          docOf.get(item.segId).foreach { idoc =>
            // first chunk whose tokens belong to the item's own segment
            idoc.parses.foreach { p =>
              if (!childTokens.exists(_._2 == idoc)) {
                p.chunks.find(c => idoc.srcs(c.head).exists(_.seg == item.segId)).foreach { c =>
                  idoc.srcs(c.head).foreach { s =>
                    childTokens += ((s, idoc, p, c.head))
                    st.recordMention(idoc, p, c.head, s)
                    st.sentText.getOrElseUpdate(s, p.text)
                    st.inEdges(s).foreach { case (from, _, rel) =>
                      if (contextSrcs.contains(from)) linkToApply((Some(from), None)) = rel
                    }
                    st.outEdges(s).foreach { case (_, to, rel) =>
                      if (contextSrcs.contains(to)) linkToApply((None, Some(to))) = rel
                    }
                  }
                }
              }
            }
          }
        }

        // fallback: single-sentence nominal context subsumes items
        if (linkToApply.isEmpty) {
          ctxDoc.parses.lastOption.foreach { p =>
            val hasVerb = (p.start until p.end).exists(k => p.tokens(k).pos == "VERB")
            if (!hasVerb) p.chunks.headOption.foreach { c =>
              val h = p.tokens(c.head)
              if ((h.pos == "NOUN" || h.pos == "PROPN") && (h.ner == "DATA" || h.ner == "ACTOR")) {
                d2src(ctxDoc, c.head).foreach { hs =>
                  linkToApply((Some(hs), None)) = Subsum
                  st.recordMention(ctxDoc, p, c.head, hs)
                  st.sentText.getOrElseUpdate(hs, p.text)
                }
              }
            }
          }
        }

        childTokens.foreach { case (s, idoc, p, _) =>
          linkToApply.foreach { case ((from, to), rel) =>
            st.linkSrc(from.getOrElse(s), to.getOrElse(s), rel)
          }
        }
      }
    }
  }

  private def d2src(d: CtxDoc, tok: Int): Option[Src] = d.srcs(tok)

  /** Subject annotator (SURVEY.md U7): children-related sentences mark the
    * DATA side of their COLLECT edges with subject=children. */
  private def annotateSubject(st: DocState): Unit = {
    st.docs.foreach { d =>
      d.parses.foreach { p =>
        val childish = (p.start until p.end).exists { k =>
          ChildWords.contains(p.tokens(k).lemma)
        }
        if (childish) {
          p.chunks.foreach { c =>
            d.srcs(c.head).foreach { s =>
              if (st.inEdges(s).exists(e => CollectEdgeTypes(e._3)))
                st.subjects(s) = "children"
            }
          }
        }
      }
    }
  }

  // ----------------------------------------------------------------- build

  /** Segmentation + all annotators, exposing the token-relationship state
    * (consumed by the graph build and by the coref eval harness,
    * evals/coref/validate-coref.py). */
  def annotate(url: String, segs: Vector[Segment]): DocState = {
    val sorted = segs.sortBy(_.segId)
    val docs = buildDocs(sorted)
    val st = DocState(url, sorted, docs)
    annotateActivityRelcl(st)
    annotateRecordedMedia(st)
    annotateNominalizations(st)
    annotateExceptives(st)
    annotateQaFragments(st)
    annotateTopicalization(st)
    annotateAccessPredicates(st)
    annotateGapping(st)
    annotateColonTaxonomy(st)
    annotateSubsumption(st)
    annotateCoreference(st)
    annotateCollection(st)
    annotateOovTransmission(st)
    annotatePurpose(st)
    annotateList(st)
    annotateSubject(st)
    st
  }

  /** Full kernel: segments → triples (variant = "extended" keeps all edge
    * types; "original" collapses positives to COLLECT and drops negatives —
    * reference build_graph.py:86-95). */
  def process(url: String, segs: Vector[Segment], variant: String = "extended",
      deferPurposes: Boolean = false): Vector[Triple] =
    GraphBuilder.build(annotate(url, segs), variant, deferPurposes)
}
