package graft.kg

import scala.collection.mutable

import graft.kg.Model._
import graft.kg.DocKernel.DocState
import graft.kg.Normalizer.Mention

/** The 9-step per-document graph build (reference build_graph.py:48-489),
  * reimplemented over the kernel's token-relationship graph. Per-document
  * graphs are tiny (10²-10³ edges) so everything here is in-memory inside
  * one `mapGroups` group; determinism comes from insertion-ordered edge sets
  * and explicit sorts (SURVEY.md §4.1 ordering hazards).
  */
object GraphBuilder {

  // round-7 allocation pass: `Ordering[String].reverse` allocated a wrapper
  // ordering per normalized token in step 6 — hoisted (identical ordering)
  private val ReverseStringOrd: Ordering[String] = Ordering[String].reverse

  /** Small deterministic directed multigraph keyed by (u, v, rel), with
    * per-endpoint adjacency indexes — inE/outE were linear edge scans
    * allocating a Vector per call inside per-node loops (kernel allocation
    * hot spot). */
  final class MultiDigraph {
    val edges = mutable.LinkedHashSet[(Src, Src, String)]()
    val purposes = mutable.Map[(Src, Src, String), Set[(String, String)]]()
    private val outIdx = mutable.Map[Src, mutable.LinkedHashSet[(Src, Src, String)]]()
    private val inIdx = mutable.Map[Src, mutable.LinkedHashSet[(Src, Src, String)]]()
    def add(e: (Src, Src, String)): Unit = if (edges.add(e)) {
      outIdx.getOrElseUpdate(e._1, mutable.LinkedHashSet()) += e
      inIdx.getOrElseUpdate(e._2, mutable.LinkedHashSet()) += e
    }
    def removeEdge(e: (Src, Src, String)): Unit = if (edges.remove(e)) {
      purposes -= e
      outIdx.get(e._1).foreach(_ -= e)
      inIdx.get(e._2).foreach(_ -= e)
    }
    def contains(e: (Src, Src, String)): Boolean = edges.contains(e)
    def nodes: Set[Src] = edges.flatMap(e => Seq(e._1, e._2)).toSet
    def hasNode(n: Src): Boolean =
      outIdx.get(n).exists(_.nonEmpty) || inIdx.get(n).exists(_.nonEmpty)
    def inE(n: Src): Vector[(Src, Src, String)] =
      inIdx.get(n).map(_.toVector).getOrElse(Vector.empty)
    def outE(n: Src): Vector[(Src, Src, String)] =
      outIdx.get(n).map(_.toVector).getOrElse(Vector.empty)
    def remove(n: Src): Unit = {
      val dead = (inE(n) ++ outE(n)).distinct
      dead.foreach(removeEdge)
    }
  }

  /** Plain digraph with cycle-guarded insert (dag_add_edge,
    * build_graph.py:23-28), over token srcs (steps 3-6) and over
    * normalized terms (the final graph of steps 7-9). */
  final class Digraph[N <: AnyRef] {
    val adj = mutable.LinkedHashMap[N, mutable.LinkedHashSet[N]]()
    val radj = mutable.LinkedHashMap[N, mutable.LinkedHashSet[N]]()
    def nodes: Iterator[N] = (adj.keys ++ radj.keys).iterator.distinct
    def hasNode(n: N): Boolean = adj.contains(n) || radj.contains(n)
    def out(n: N): Seq[N] = adj.get(n).map(_.toSeq).getOrElse(Nil)
    def in(n: N): Seq[N] = radj.get(n).map(_.toSeq).getOrElse(Nil)
    def outDegree(n: N): Int = adj.get(n).map(_.size).getOrElse(0)
    def inDegree(n: N): Int = radj.get(n).map(_.size).getOrElse(0)
    def edgesSeq: Vector[(N, N)] =
      adj.iterator.flatMap { case (u, vs) => vs.map(u -> _) }.toVector
    def addRaw(u: N, v: N): Unit = {
      adj.getOrElseUpdate(u, mutable.LinkedHashSet()) += v
      radj.getOrElseUpdate(v, mutable.LinkedHashSet()) += u
    }
    // hasPath is called per edge (transitiveReduce), per edge PAIR
    // (reduceCollect) and per candidate final edge (steps 7+8):
    // version-stamped scratch structures replace a fresh Set+Queue per call
    // (kernel allocation hot spot, round-4 pass)
    private val seenStamp = mutable.AnyRefMap[N, Int]()
    private var stamp = 0
    private val pathQ = new java.util.ArrayDeque[N]()
    def hasPath(a: N, b: N): Boolean = {
      if (a == b) return true
      stamp += 1
      pathQ.clear()
      seenStamp(a) = stamp
      pathQ.add(a)
      while (!pathQ.isEmpty) {
        val x = pathQ.poll()
        val vs = adj.getOrElse(x, null)
        if (vs != null) {
          val it = vs.iterator
          while (it.hasNext) {
            val y = it.next()
            if (y == b) return true
            if (seenStamp.getOrElse(y, 0) != stamp) { seenStamp(y) = stamp; pathQ.add(y) }
          }
        }
      }
      false
    }
    /** add u→v unless u==v or v is an ancestor of u (would form a cycle). */
    def dagAdd(u: N, v: N): Boolean =
      if (u == v || (hasNode(u) && hasPath(v, u))) false
      else { addRaw(u, v); true }
    def removeEdge(u: N, v: N): Unit = {
      adj.get(u).foreach(_ -= v); radj.get(v).foreach(_ -= u)
    }
    def removeNode(n: N): Unit = {
      out(n).toVector.foreach(v => removeEdge(n, v))
      in(n).toVector.foreach(u => removeEdge(u, n))
      adj -= n; radj -= n
    }
    def topo: Vector[N] = {
      val indeg = mutable.Map[N, Int]().withDefaultValue(0)
      val all = nodes.toVector
      all.foreach(n => indeg(n) = inDegree(n))
      val q = mutable.Queue(all.filter(indeg(_) == 0): _*)
      val out0 = Vector.newBuilder[N]
      while (q.nonEmpty) {
        val x = q.dequeue(); out0 += x
        out(x).foreach { y => indeg(y) -= 1; if (indeg(y) == 0) q.enqueue(y) }
      }
      out0.result()
    }
  }

  /** `deferPurposes = true` tags every purpose phrase with the sentinel
    * `Model.RawPurposeLabel` instead of classifying inline; the corpus-level
    * batched scorer then labels distinct phrases once
    * (`KgPipeline.relabelPurposes`). The purpose-subset edge reduction (SO1)
    * compares (label, phrase) pair sets, which under the sentinel degrade to
    * phrase sets — identical to inline whenever the classifier is total
    * (every phrase gets ≥1 label; BatchScoringSpec pins this on the corpus),
    * and divergent only for phrases that classify to zero labels, which the
    * reference drops from purpose dicts before its reduction. */
  def build(st: DocState, variant: String, deferPurposes: Boolean = false): Vector[Triple] = {
    // Node discovery in edge-insertion order (deterministic: annotator order)
    val nodeOrder: Vector[Src] = {
      val seen = mutable.LinkedHashSet[Src]()
      st.edges.foreach { case (a, b, _) => seen += a; seen += b }
      seen.toVector
    }

    // ---- Step 1: NER-seeded token types -------------------------------
    val tokenType = mutable.LinkedHashMap[Src, String]()
    nodeOrder.foreach { s =>
      st.mentions.get(s).map(_.ner).filter(n => n == "DATA" || n == "ACTOR")
        .foreach(n => tokenType(s) = n)
    }
    def setdefault(s: Src, t: String): String = tokenType.getOrElseUpdate(s, t)

    // ---- Step 2: collect graph + purposes ------------------------------
    val gCollect = new MultiDigraph
    val dtypePurposeTexts = mutable.LinkedHashMap[Src, mutable.ListBuffer[String]]()
    st.edges.foreach { case (s1, s2, rel) =>
      if (CollectEdgeTypes(rel)) {
        if (setdefault(s1, "ACTOR") == "ACTOR" && setdefault(s2, "DATA") == "DATA") {
          variant match {
            case "extended" =>
              gCollect.add((s1, s2, rel))
              dtypePurposeTexts.getOrElseUpdate(s2, mutable.ListBuffer())
            case _ => // original / per_sentence / per_section: positives only
              if (!rel.startsWith("NOT_")) {
                gCollect.add((s1, s2, Collect))
                dtypePurposeTexts.getOrElseUpdate(s2, mutable.ListBuffer())
              }
          }
        }
      }
    }
    // purpose texts per collected data type, classified (distinct-first,
    // mirroring the batched classifier A7)
    dtypePurposeTexts.foreach { case (dt, buf) =>
      st.outEdges(dt).foreach { case (_, pSrc, rel) =>
        if (rel == Purpose) st.purposeText.get(pSrc).foreach(buf += _)
      }
    }
    val labelsOf: Map[String, Seq[String]] =
      if (deferPurposes)
        dtypePurposeTexts.values.flatten.toSeq.distinct
          .map(t => t -> Seq(Model.RawPurposeLabel)).toMap
      else
        dtypePurposeTexts.values.flatten.toSeq.distinct
          .map(t => t -> Normalizer.classifyPurpose(t)).toMap
    dtypePurposeTexts.foreach { case (dt, texts) =>
      val edgePurposes: Set[(String, String)] =
        texts.flatMap(t => labelsOf(t).map(_ -> t)).toSet
      gCollect.inE(dt).foreach(e => gCollect.purposes(e) = edgePurposes)
    }

    // ---- Step 3: subsum/coref BFS with type propagation ----------------
    val gSubsum = new Digraph[Src]
    val gCoref = new Digraph[Src]
    // seed without the two intermediate toSeq copies (same iteration order)
    val queue = mutable.Queue.empty[Src]
    val visited = mutable.Set.empty[Src]
    tokenType.keys.foreach { s => queue.enqueue(s); visited += s }
    while (queue.nonEmpty) {
      val s1 = queue.dequeue()
      val t = tokenType(s1)
      st.allLinks(s1).foreach { case (from, to, rel) =>
        if (rel == Subsum || rel == Coref) {
          val s2 = if (s1 == from) to else from
          if (setdefault(s2, t) == t) {
            if (!visited.contains(s2)) { visited += s2; queue.enqueue(s2) }
            if (rel == Subsum) gSubsum.dagAdd(from, to) else gCoref.dagAdd(from, to)
          }
        }
      }
    }

    // ---- Step 4: coref contraction (skipped in the per_sentence
    // PolicyLint simulation, build_graph.py:177-178). The absorbed src's
    // sentence must keep citing the edges it contributed to (the reference
    // merges token `ref` spans on contraction), so record it against the
    // surviving src for evidence assembly. -------------------------------
    val absorbedRefs = mutable.Map[Src, mutable.ListBuffer[Src]]()
    if (variant != "per_sentence") gCoref.topo.foreach { s1 =>
      gCoref.outDegree(s1) match {
        case 0 =>
        case 1 =>
          val s2 = gCoref.out(s1).head
          if (gCollect.hasNode(s1) || gSubsum.hasNode(s1)) {
            val buf = absorbedRefs.getOrElseUpdate(s2, mutable.ListBuffer())
            buf += s1
            absorbedRefs.get(s1).foreach(buf ++= _)
          }
          if (gCollect.hasNode(s1)) contractMulti(gCollect, s2, s1)
          if (gSubsum.hasNode(s1)) contractDag(gSubsum, s2, s1)
        case _ =>
          gCoref.out(s1).foreach(s2 => gSubsum.dagAdd(s1, s2))
      }
    }

    // ---- Step 5: transitive reduction + collect-edge reduction ----------
    transitiveReduce(gSubsum)
    reduceCollect(gCollect, gSubsum, tokenType)

    // ---- Step 6: phrase normalization ------------------------------------
    val termsOf = mutable.LinkedHashMap[Src, Vector[String]]()
    val nodeTypeOf = mutable.LinkedHashMap[String, String]()
    tokenType.toVector.foreach { case (src, tt) =>
      st.mentions.get(src) match {
        case None => termsOf(src) = Vector.empty
        case Some(m) =>
          var terms: Set[String] = Normalizer.normalize(m, tt)
          val hasSubsum = gSubsum.outDegree(src) > 0
          val beSubsumed = gSubsum.inDegree(src) > 0
          if (terms == Set("UNSPECIFIED") && !hasSubsum && !beSubsumed) {
            terms = Set(s"UNSPECIFIED_$tt")
          } else {
            terms -= "UNSPECIFIED"
            if (hasSubsum && terms.isEmpty)
              eliminateIntermediate(src, tt, gCollect, gSubsum)
          }
          variant match {
            case "extended" if tt == "DATA" =>
              // data-subject suffix (build_graph.py:355-366)
              st.subjects.get(src).foreach { subj =>
                terms = terms.map(t => s"$t @$subj")
              }
            case "per_sentence" =>
              // PolicyLint simulation: every mention is its own node
              terms = terms.map(t => s"$t (${src.seg}, ${src.tok})")
            case "per_section" =>
              // relations limited to one section (nearest heading ancestor)
              val sec = sectionOf(st, src.seg)
              terms = terms.map(t => s"$t ($sec, 0)")
            case _ =>
          }
          terms.foreach(t => nodeTypeOf(t) = tt)
          termsOf(src) = terms.toVector.sorted(ReverseStringOrd)
      }
    }
    def terms(s: Src): Vector[String] = termsOf.getOrElse(s, Vector.empty)

    // ---- Steps 7+8: merge into the final term graph ----------------------
    val finalEdges = mutable.LinkedHashMap[(String, String, String), (mutable.ListBuffer[Src], mutable.LinkedHashMap[String, mutable.ListBuffer[String]])]()
    val finalG = new Digraph[String] // cycle guard view
    def finalDagAdd(n1: String, n2: String, rel: String): Unit = {
      val key = (n1, n2, rel)
      if (!finalEdges.contains(key) && finalG.dagAdd(n1, n2))
        finalEdges(key) = (mutable.ListBuffer(), mutable.LinkedHashMap())
    }

    // Step 7: SUBSUM merge
    gSubsum.edgesSeq.foreach { case (s1, s2) =>
      val tt = tokenType.getOrElse(s1, "")
      for (n1 <- terms(s1); n2 <- terms(s2)) {
        val ok = nodeTypeOf.get(n1).contains(tt) && nodeTypeOf.get(n2).contains(tt)
        if (ok && n2 != "we") {
          finalDagAdd(n1, n2, Subsum)
          finalEdges.get((n1, n2, Subsum)).foreach { case (refs, _) => refs += s1 += s2 }
        }
      }
    }

    // Step 8: COLLECT merge
    gCollect.edges.foreach { case e @ (s1, s2, rel) =>
      val edgePurposes = gCollect.purposes.getOrElse(e, Set.empty).toVector.sorted
      for (n1 <- terms(s1); n2 <- terms(s2)) {
        if (nodeTypeOf.get(n1).contains("ACTOR") && nodeTypeOf.get(n2).contains("DATA")) {
          finalDagAdd(n1, n2, rel)
          finalEdges.get((n1, n2, rel)).foreach { case (refs, purp) =>
            refs += s1 += s2
            absorbedRefs.get(s1).foreach(refs ++= _)
            absorbedRefs.get(s2).foreach(refs ++= _)
            edgePurposes.foreach { case (label, text) =>
              purp.getOrElseUpdate(label, mutable.ListBuffer()) += text
            }
          }
        }
      }
    }

    // ---- Step 9 + trim: evidence text, drop SUBSUM islands ---------------
    val important = mutable.Set[String]()
    finalEdges.keys.foreach { case (n1, n2, rel) =>
      if (CollectEdgeTypes(rel)) { important += n1; important += n2 }
    }
    // descendants of important nodes stay (trim_graph, build_graph.py:492-513)
    val reach = mutable.Set[String]() ++= important
    val q2 = mutable.Queue(important.toSeq: _*)
    while (q2.nonEmpty) {
      val x = q2.dequeue()
      finalG.out(x).foreach { y =>
        if (!reach.contains(y)) { reach += y; q2.enqueue(y) }
      }
    }

    // round-7 allocation pass: the old chain per edge was
    // refs.distinct.filter(seg>=0).sorted.flatMap(sentText.get) — four
    // intermediate collections plus an Option per lookup. Filter into one
    // reused array, sort, and dedupe adjacent instead; the result (sorted
    // distinct real srcs in (seg, tok) order → their sentences) is
    // identical, because sorted-then-adjacent-dedupe equals
    // distinct-then-sorted for any multiset.
    var refArr = new Array[Src](16)
    val triples = Vector.newBuilder[Triple]
    finalEdges.foreach {
      case ((n1, n2, rel), (refs, purp)) if reach.contains(n1) && reach.contains(n2) =>
        // synthetic srcs (ImplicitWe seg=-1, activity terms seg=-2) are
        // shared per document, so their pinned first-use sentence can be
        // unrelated to this edge — every edge also has a real-src partner
        // carrying the right sentence, so synthetics contribute no evidence
        if (refs.length > refArr.length) refArr = new Array[Src](refs.length)
        var n = 0
        refs.foreach { s => if (s.seg >= 0) { refArr(n) = s; n += 1 } }
        java.util.Arrays.sort(refArr, 0, n, Src.ord)
        val tb = Vector.newBuilder[String]
        var prev: Src = null
        var i = 0
        while (i < n) {
          val s = refArr(i)
          if (s != prev) {
            val t = st.sentText.getOrElse(s, null)
            if (t != null) tb += t
          }
          prev = s
          i += 1
        }
        val kept = dedupBySubstring(tb.result())
        triples += Triple(st.url, n1, nodeTypeOf.getOrElse(n1, ""), rel, n2,
          nodeTypeOf.getOrElse(n2, ""), kept,
          purp.map { case (k, v) => k -> v.toVector.distinct }.toMap)
      case _ =>
    }
    val out = triples.result().sortBy(t => (t.subj, t.pred, t.obj))
    out
  }

  /** Nearest HEADING ancestor of a segment (build_graph.py:293-299). */
  private def sectionOf(st: DocState, segId: Int): Int = {
    val byId = st.segs.map(s => s.segId -> s).toMap
    var cur = byId.get(segId)
    while (cur.exists(s => s.segType != "HEADING")) {
      cur = cur.flatMap(s => byId.get(s.parentId))
    }
    cur.map(_.segId).getOrElse(0)
  }

  /** Longest-first substring dedup preserving original order
    * (build_graph.py:452-477). */
  def dedupBySubstring(texts: Vector[String]): Vector[String] = {
    if (texts.length <= 1) return texts // common case: one evidence sentence
    val d = texts.distinct
    if (d.length == 1) return d
    val kept = mutable.Set[String]()
    d.sortBy(-_.length).foreach { t =>
      if (!kept.exists(e => e.contains(t))) kept += t
    }
    d.filter(kept.contains)
  }

  /** Contract node v into u in a multigraph (graph_utils.py:115-142). */
  private def contractMulti(g: MultiDigraph, u: Src, v: Src): Unit = {
    val remap = (g.inE(v) ++ g.outE(v)).distinct
    remap.foreach { case e @ (a, b, rel) =>
      val w = if (a == v) u else a
      val x = if (b == v) u else b
      if (w != x && !g.contains((w, x, rel))) {
        g.add((w, x, rel))
        g.purposes.get(e).foreach(p => g.purposes((w, x, rel)) = p)
      }
    }
    g.remove(v)
  }

  /** DAG-preserving contraction (ensure_dag=True flavor). */
  private def contractDag(g: Digraph[Src], u: Src, v: Src): Unit = {
    g.removeEdge(u, v); g.removeEdge(v, u)
    if (g.hasNode(u) && g.hasNode(v) && (g.hasPath(u, v) || g.hasPath(v, u))) {
      g.removeNode(v)
    } else {
      g.in(v).toVector.foreach(w => if (w != u) g.addRaw(w, u))
      g.out(v).toVector.foreach(x => if (x != u) g.addRaw(u, x))
      g.removeNode(v)
    }
  }

  /** In-place transitive reduction of a DAG. */
  private def transitiveReduce(g: Digraph[Src]): Unit = {
    g.edgesSeq.foreach { case (u, v) =>
      g.removeEdge(u, v)
      if (!g.hasPath(u, v)) g.addRaw(u, v)
    }
  }

  /** Remove COLLECT edges made redundant by a SUBSUM path with a purpose
    * subset (build_graph.py:201-240 / SO1). */
  private def reduceCollect(gc: MultiDigraph, gs: Digraph[Src], tokenType: mutable.Map[Src, String]): Unit = {
    val toRemove = mutable.Set[(Src, Src, String)]()
    // round-7 allocation pass: node set built by direct iteration (the old
    // `nodes` helper allocated a Seq per edge) and the pair scan as while
    // loops (the for-comprehension allocated a closure chain per index) —
    // identical visit order: nodes ascending, then (i, j) row-major.
    val nodeSet = mutable.Set[Src]()
    gc.edges.foreach { e => nodeSet += e._1; nodeSet += e._2 }
    val nodeArr = nodeSet.toArray
    java.util.Arrays.sort(nodeArr, Src.ord)
    var ui = 0
    while (ui < nodeArr.length) {
      val u = nodeArr(ui)
      val (edges, otherIdx) = tokenType.getOrElse(u, "") match {
        case "DATA" => (gc.inE(u).sortBy(e => (e._1, e._3)), 0)
        case "ACTOR" => (gc.outE(u).sortBy(e => (e._2, e._3)), 1)
        case _ => (Vector.empty, 0)
      }
      var i = 0
      while (i < edges.length) {
        var j = 0
        while (j < edges.length) {
          if (i != j) {
            val e1 = edges(i); val e2 = edges(j)
            val v1 = if (otherIdx == 0) e1._1 else e1._2
            val v2 = if (otherIdx == 0) e2._1 else e2._2
            if (e1._3 == e2._3 && !toRemove.contains(e1) && v1 != v2 &&
              gs.hasNode(v1) && gs.hasNode(v2) && gs.hasPath(v1, v2)) {
              val p1 = gc.purposes.getOrElse(e1, Set.empty)
              val p2 = gc.purposes.getOrElse(e2, Set.empty)
              if (p2.subsetOf(p1)) toRemove += e2
            }
          }
          j += 1
        }
        i += 1
      }
      ui += 1
    }
    toRemove.foreach(gc.removeEdge)
  }

  /** Splice an un-normalizable subsuming node out of both graphs
    * (build_graph.py:436-460 _eliminate_intermediate_node). */
  private def eliminateIntermediate(src: Src, tt: String, gc: MultiDigraph, gs: Digraph[Src]): Unit = {
    if (gc.hasNode(src)) {
      if (tt == "DATA") {
        gc.inE(src).foreach { case e @ (u, _, rel) =>
          gs.out(src).foreach { v =>
            if (!gc.contains((u, v, rel))) {
              gc.add((u, v, rel))
              gc.purposes.get(e).foreach(p => gc.purposes((u, v, rel)) = p)
            }
          }
        }
      } else if (tt == "ACTOR") {
        gc.outE(src).foreach { case e @ (_, v0, rel) =>
          gs.out(src).foreach { u =>
            if (!gc.contains((u, v0, rel))) {
              gc.add((u, v0, rel))
              gc.purposes.get(e).foreach(p => gc.purposes((u, v0, rel)) = p)
            }
          }
        }
      }
      gc.remove(src)
    }
    gs.in(src).toVector.foreach { u =>
      gs.out(src).toVector.foreach(v => gs.dagAdd(u, v))
    }
    gs.removeNode(src)
  }
}
