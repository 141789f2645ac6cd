package graft.kg

import graft.nlp.{Lexicon, RuleNlp}
import graft.nlp.RuleNlp.Parse

/** Collection-statement pattern DSL (SURVEY.md U4).
  *
  * Keeps the reference's *file format* — `root` spec + `match` chains +
  * `transform` — as data (verb_patterns.yml DSL, collection_annotator.py:
  * 194-316) so the dictionary stays data, not code, but the matcher below is
  * an original implementation over our normalized dependency graphs.
  *
  * Chain syntax: `lemma|lemma:dep|dep@capture` items joined by `,`;
  * a leading `*NAME` expands a token_map lexicon; a leading `!` on a chain
  * marks it required; empty lemma or dep spec matches anything.
  */
object Patterns {

  final case class TokenMatcher(lemmas: Set[String], deps: Set[String]) {
    def matches(lemma: String, dep: String): Boolean =
      (deps.isEmpty || deps.contains(dep)) && (lemmas.isEmpty || lemmas.contains(lemma))
  }

  object TokenMatcher {
    def parse(rule: String, tokenMap: Map[String, Set[String]]): TokenMatcher = {
      val (lemmaSpec, depSpec) = rule.indexOf(':') match {
        case -1 => (rule, "")
        case ix => (rule.substring(0, ix), rule.substring(ix + 1))
      }
      val lemmas = lemmaSpec.split('|').filter(_.nonEmpty).flatMap { item =>
        if (item.startsWith("*")) tokenMap(item.drop(1)) else Set(item)
      }.toSet
      val deps = depSpec.split('|').filter(_.nonEmpty).toSet
      TokenMatcher(lemmas, deps)
    }
  }

  /** Captures are SLOT-INDEXED at compile time (capture name → dense int),
    * so the match-time DFS state is a couple of tiny arrays and a bitmask
    * instead of mutable Maps/Sets per candidate root — the matcher runs for
    * every (dep edge × root pattern) of every sentence and was a measurable
    * allocator in the collection annotator. */
  final case class Pattern(
      id: Int,
      root: TokenMatcher,
      chains: Vector[Vector[(TokenMatcher, Int)]], // capture slot, -1 = none
      required: Set[Int],
      transform: Vector[String],
      saveNames: Vector[String]) {
    /** reusable empty DFS state (never mutated — dfs copies on extend) */
    lazy val emptyProgress: Array[List[Int]] =
      Array.fill(chains.length)(List.empty[Int])
    lazy val requiredMask: Long = required.foldLeft(0L)((m, i) => m | (1L << i))
    lazy val action: String = transform.head
    /** per-arg fallback slot lists; -2 = the implicit-WE sentinel */
    lazy val argSlots: Vector[Array[Int]] = transform.tail.map(_.split('|').map {
      case "WE" => -2
      case nm => saveNames.indexOf(nm) // -1 if the name never captures
    })
  }

  /** Sentinel token index standing for the implicit first party in
    * transform specs (`WE`). */
  val ImplicitWeArg: Int = -2

  /** action, negated?, captured args (token indices per transform arg). */
  final case class Match(action: String, neg: Boolean, args: Vector[List[Int]],
      verb: Int = -1)

  def compile(specs: Seq[(String, Seq[String], Seq[String])]): Vector[Pattern] = {
    val tm = Lexicon.tokenMap
    specs.zipWithIndex.map { case ((root, chains, transform), id) =>
      val required = scala.collection.mutable.Set[Int]()
      val names = scala.collection.mutable.LinkedHashMap[String, Int]()
      val parsed = chains.zipWithIndex.map { case (raw, ci) =>
        val body = if (raw.startsWith("!")) { required += ci; raw.drop(1) } else raw
        body.split(',').toVector.map { item =>
          val (tokRule, save) = item.indexOf('@') match {
            case -1 => (item, -1)
            case ix => (item.substring(0, ix),
              names.getOrElseUpdate(item.substring(ix + 1), names.size))
          }
          (TokenMatcher.parse(tokRule, tm), save)
        }
      }.toVector
      Pattern(id, TokenMatcher.parse(root, tm), parsed, required.toSet,
        transform.toVector, names.keys.toVector)
    }.toVector
  }

  /** The pattern bank, loaded from the graft/verb_patterns.yml resource —
    * same grammar family as the reference's 22 patterns
    * (verb_patterns.yml:80-213), authored for our normalized graphs. */
  val bank: Vector[Pattern] = compile(
    graft.nlp.VerbPatternsYaml.patterns.map(p => (p.root, p.chains, p.transform)))

  /** Root-lemma index: pattern lookup is O(1) per dep edge instead of
    * scanning every pattern in the bank (hot path: called once per sentence). */
  private lazy val bankByRootLemma: java.util.HashMap[String, Vector[Pattern]] = {
    // java.util.HashMap: getOrDefault is allocation-free (scala Map.get
    // wraps every hit in Some, once per dep edge of every sentence)
    val m = new java.util.HashMap[String, Vector[Pattern]]()
    bank.flatMap(p => p.root.lemmas.map(_ -> p)).groupBy(_._1)
      .foreach { case (l, ps) => m.put(l, ps.map(_._2)) }
    m
  }
  private val noPatterns: Vector[Pattern] = Vector.empty

  /** DFS chain matching over one parsed sentence — semantics mirror the
    * reference matcher: every chain tried from every root candidate, captures
    * stop at a negated node, required chains must complete. */
  def matchSentence(p: Parse): Vector[Match] = {
    val out = Vector.newBuilder[Match]
    val lemmaOf: Int => String = i => p.tokens(i).lemma
    for (d <- p.deps; pat <- bankByRootLemma.getOrDefault(lemmaOf(d.to), noPatterns)) {
      // root candidates: any edge target whose (lemma, dep) matches
      if (pat.root.matches(lemmaOf(d.to), d.dep)) {
        val v = d.to
        // slot-indexed captures + required-chain bitmask: no Map/Set churn
        val named = new Array[List[Int]](pat.saveNames.length)
        var unmatchedRequired = pat.requiredMask

        def onSuccess(chainIdx: Int, progress: List[Int]): Unit = {
          val chain = pat.chains(chainIdx)
          var truncated = false
          var k = 0
          var prog = progress
          while (!truncated && k < chain.length && prog.nonEmpty) {
            val node = prog.head
            if (p.neg.contains(node)) truncated = true
            else {
              val s = chain(k)._2
              if (s >= 0)
                named(s) = (if (named(s) == null) Nil else named(s)) :+ node
            }
            prog = prog.tail
            k += 1
          }
          if (!truncated) unmatchedRequired &= ~(1L << chainIdx)
        }

        // progress: one List per chain, null = chain no longer extendable;
        // arrays are never mutated after being passed down (copy-on-extend)
        def dfs(node: Int, dep: String, progress: Array[List[Int]]): Unit = {
          var continued: Array[List[Int]] = null
          var ci = 0
          while (ci < progress.length) {
            val prog = progress(ci)
            if (prog != null) {
              val chain = pat.chains(ci)
              val tm = chain(prog.length)._1
              if (tm.matches(lemmaOf(node), dep)) {
                val np = prog :+ node
                if (np.length == chain.length) onSuccess(ci, np)
                else {
                  if (continued == null) continued = new Array[List[Int]](progress.length)
                  continued(ci) = np
                }
              }
            }
            ci += 1
          }
          if (continued != null) {
            p.out(node).foreach(e => dfs(e.to, e.dep, continued))
          }
        }

        p.out(v).foreach(e => dfs(e.to, e.dep, pat.emptyProgress))

        if (unmatchedRequired == 0L) {
          val args = pat.argSlots.map { spec =>
            var r: List[Int] = Nil
            var k = 0
            while (r.isEmpty && k < spec.length) {
              // -2 = the implicit first party (nominalization patterns
              // like "you consent to the collection of DT"); resolved by
              // the collection annotator via the synthetic we-mention
              val s = spec(k)
              r = if (s == -2) List(ImplicitWeArg)
              else if (s >= 0 && named(s) != null) named(s)
              else Nil
              k += 1
            }
            r
          }
          out += Match(pat.action, p.neg.contains(v), args, v)
        }
      }
    }
    out.result()
  }

  /** Collect-ish verb lemmas (pattern roots of COLLECT/STORE/USE actions) —
    * used by the question-answer fragment annotator. */
  val collectishLemmas: Set[String] =
    bank.filter(p => p.transform.headOption.exists(a =>
      a == "COLLECT" || a == "STORE" || a == "USE")).flatMap(_.root.lemmas).toSet

  /** ACTION_MAP (reference collection_annotator.py:322-339): action ×
    * negation → list of (entityArgIdx, dataArgIdx, edgeType). */
  /** Verb lemma → action class, for mechanisms that need a verb's action
    * outside a full pattern match (e.g. gapped coordination). */
  lazy val lemmaAction: Map[String, String] =
    (Set("accompany", "sync", "leave", "know", "learn").map(_ -> "COLLECT") ++
      Set("persist", "stay", "remain", "bear").map(_ -> "STORE") ++
      Set("stream", "flow", "convey", "go").map(_ -> "SHARE") ++
      graft.nlp.Lexicon.tokenMap("VERB_REQUIRE_TODO").map(_ -> "COLLECT") ++
      graft.nlp.Lexicon.tokenMap("VERB_SHARE_WITH").map(_ -> "SHARE") ++
      graft.nlp.Lexicon.tokenMap("VERB_SELL_TO").map(_ -> "SELL") ++
      graft.nlp.Lexicon.tokenMap("VERB_USE").map(_ -> "USE") ++
      graft.nlp.Lexicon.tokenMap("VERB_STORE").map(_ -> "STORE") ++
      graft.nlp.Lexicon.tokenMap("VERB_COLLECT_FROM").map(_ -> "COLLECT")).toMap

  val actionMap: Map[(String, Boolean), List[(Int, Int, String)]] = Map(
    ("COLLECT", false) -> List((0, 1, "COLLECT")),
    ("COLLECT", true) -> List((0, 1, "NOT_COLLECT")),
    ("SHARE", false) -> List((2, 1, "BE_SHARED"), (0, 1, "COLLECT")),
    ("SHARE", true) -> List((2, 1, "NOT_BE_SHARED")),
    ("SELL", false) -> List((2, 1, "BE_SOLD"), (0, 1, "COLLECT")),
    ("SELL", true) -> List((2, 1, "NOT_BE_SOLD")),
    ("USE", false) -> List((0, 1, "USE")),
    ("USE", true) -> List((0, 1, "NOT_USE")),
    ("STORE", false) -> List((0, 1, "STORE")),
    ("STORE", true) -> List((0, 1, "NOT_STORE")))
}
