package graft.kg

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

import graft.kg.Model._

/** The KGraph analysis/query surface (reference poligrapher/graph_utils.py
  * `KGraph` / `ExtKGraph`) over materialized triples.
  *
  * The reference loads one YAML graph per policy and walks it with networkx.
  * Here every per-document graph is tiny (SURVEY.md §7), so each query runs
  * one `groupByKey(url)` pass that computes reachability in memory and emits
  * plain rows — the per-document closure-at-materialize-time design (G8):
  * corpus-level questions then stay joins/aggregations for Catalyst.
  *
  * Graph orientation matches the reference loader (graph_utils.py:170-186):
  * COLLECT-family edges actor→data; DATA SUBSUM parent→child; ACTOR SUBSUM
  * is reversed to child→parent (SUBSUM_BY) — so `ancestors(datatype)`
  * reaches collectors, and members of a collecting actor category reach the
  * category's datatypes.
  */
object KgApi {

  /** In-memory per-document query graph (reference KGraph). All edges keyed
    * (u, v, pred) with evidence text + purpose labels; the positive graph
    * excludes NOT_* edges (graph_utils.py:186-199). */
  final class PolicyGraph(ts: Seq[Triple]) {
    val nodeType: mutable.LinkedHashMap[String, String] = mutable.LinkedHashMap()
    // positive multigraph: (u, v) -> edges (pred, texts, purposeLabels)
    val pos: mutable.LinkedHashMap[(String, String), Vector[(String, Seq[String], Seq[String])]] =
      mutable.LinkedHashMap()
    ts.foreach { t =>
      nodeType.getOrElseUpdate(t.subj, t.subjType)
      nodeType.getOrElseUpdate(t.obj, t.objType)
      val (u, v) =
        if (t.pred == Subsum && t.subjType == "ACTOR") (t.obj, t.subj) // SUBSUM_BY
        else (t.subj, t.obj)
      if (!t.pred.startsWith("NOT_"))
        pos((u, v)) = pos.getOrElse((u, v), Vector.empty) :+
          ((t.pred, t.text, t.purposes.keys.toVector.sorted))
    }
    val adj: Map[String, Vector[String]] =
      pos.keys.toVector.groupBy(_._1).map { case (u, vs) => u -> vs.map(_._2) }
    val radj: Map[String, Vector[String]] =
      pos.keys.toVector.groupBy(_._2).map { case (v, us) => v -> us.map(_._1) }

    def nodes: Vector[String] = nodeType.keys.toVector
    def dataNodes: Vector[String] = nodes.filter(nodeType(_) == "DATA")

    /** All nodes reachable from `n` along oriented positive edges. */
    def reachable(n: String): Set[String] = reach(n, adj)

    private def reach(from: String, next: Map[String, Vector[String]]): Set[String] = {
      val seen = mutable.Set(from)
      val q = mutable.Queue(from)
      while (q.nonEmpty) {
        next.getOrElse(q.dequeue(), Vector.empty).foreach { n =>
          if (!seen.contains(n)) { seen += n; q.enqueue(n) }
        }
      }
      seen.toSet - from
    }

    /** nx.ancestors/descendants filtered by the anchor's type
      * (graph_utils.py:238-268). */
    def ancestors(n: String): Set[String] = nodeType.get(n) match {
      case Some("DATA") => reach(n, radj).filter(nodeType.get(_).contains("DATA"))
      case Some("ACTOR") => reach(n, adj).filter(nodeType.get(_).contains("ACTOR"))
      case _ => Set.empty
    }
    def descendants(n: String): Set[String] = nodeType.get(n) match {
      case Some("DATA") => reach(n, adj).filter(nodeType.get(_).contains("DATA"))
      case Some("ACTOR") => reach(n, radj).filter(nodeType.get(_).contains("ACTOR"))
      case _ => Set.empty
    }

    /** ACTOR nodes with a path to the datatype (graph_utils.py:230-236). */
    def whoCollect(dt: String): Vector[String] =
      if (!nodeType.get(dt).contains("DATA")) Vector.empty
      else reach(dt, radj).filter(nodeType.get(_).contains("ACTOR")).toVector.sorted

    /** node1 subsumes node2 (graph_utils.py:270-295): path node1→node2 for
      * DATA, node2→node1 for ACTOR (SUBSUM_BY orientation). */
    def subsum(n1: String, n2: String): Boolean =
      (nodeType.get(n1), nodeType.get(n2)) match {
        case (Some(t1), Some(t2)) if t1 == t2 =>
          if (t1 == "DATA") n1 == n2 || reach(n1, adj).contains(n2)
          else n1 == n2 || reach(n2, adj).contains(n1)
        case _ => false
      }

    /** first-party entity nodes: "we" + its descendants
      * (export_poligraph_tuples.py:55-66). */
    def firstParty: Set[String] = Set("we") ++ descendants("we")

    /** Edges (u, v) lying on ANY shortest path src→dst in the positive
      * graph (the reference unions over nx.all_shortest_paths,
      * graph_utils.py:297-331). */
    def shortestPathEdges(src: String, dst: String): Vector[(String, String)] = {
      val dF = bfsDist(src, adj)
      if (!dF.contains(dst)) return Vector.empty
      val dR = bfsDist(dst, radj)
      val total = dF(dst)
      pos.keys.toVector.filter { case (u, v) =>
        dF.get(u).exists(du => dR.get(v).exists(dv => du + 1 + dv == total))
      }
    }

    private def bfsDist(from: String, next: Map[String, Vector[String]]): Map[String, Int] = {
      val dist = mutable.Map(from -> 0)
      val q = mutable.Queue(from)
      while (q.nonEmpty) {
        val x = q.dequeue()
        next.getOrElse(x, Vector.empty).foreach { n =>
          if (!dist.contains(n)) { dist(n) = dist(x) + 1; q.enqueue(n) }
        }
      }
      dist.toMap
    }

    /** Union of purpose labels on positive COLLECT-family edges along all
      * shortest paths entity→datatype (graph_utils.py:297-310). */
    def purposes(entity: String, dt: String): Vector[String] =
      shortestPathEdges(entity, dt).flatMap { uv =>
        pos(uv).collect { case (pred, _, labels) if PositiveEdgeTypes(pred) => labels }.flatten
      }.distinct.sorted

    /** Union of evidence texts on all shortest-path edges between the two
      * nodes; entity side first (graph_utils.py:312-331). */
    def getText(n1: String, n2: String): Vector[String] = {
      val (src, dst) =
        if (nodeType.get(n2).contains("ACTOR")) (n2, n1) else (n1, n2)
      shortestPathEdges(src, dst)
        .flatMap(uv => pos(uv).flatMap(_._2))
        .distinct.sorted
    }
  }

  /** Ontology-grafted graph (reference ExtKGraph, graph_utils.py:349-427):
    * raw ontology edges are added when the child is imprecise (a category)
    * or already present; `probe` plays the role of `attach_node` for the
    * query datatype. With `umbrella`, UNSPECIFIED_DATA subsumes every
    * datatype (accept_unspecific_data, :408-417). */
  final class ExtPolicyGraph(ts: Seq[Triple], probe: Set[String], umbrella: Boolean) {
    private val base = new PolicyGraph(ts)
    private val extAdjM = mutable.Map[String, Vector[String]]()
    private val typeOf = mutable.Map[String, String]() ++ base.nodeType

    private def addEdge(u: String, v: String, ut: String, vt: String): Unit = {
      // a node already in the doc graph keeps its type; mismatches drop the
      // ontology edge (reference try_add_node, graph_utils.py:357-363)
      if (typeOf.getOrElse(u, ut) != ut || typeOf.getOrElse(v, vt) != vt) return
      typeOf.getOrElseUpdate(u, ut)
      typeOf.getOrElseUpdate(v, vt)
      extAdjM(u) = extAdjM.getOrElse(u, Vector.empty) :+ v
    }

    locally {
      base.pos.keys.foreach { case (u, v) =>
        extAdjM(u) = extAdjM.getOrElse(u, Vector.empty) :+ v
      }
      val docNodes = base.nodeType.keySet ++ probe
      val dataCats = Ontology.dataEdges.map(_._1).toSet // imprecise = category
      Ontology.dataEdges.foreach { case (u, v) =>
        if (dataCats.contains(v) || docNodes.contains(v)) addEdge(u, v, "DATA", "DATA")
      }
      val entityCats = Ontology.entityEdges.map(_._1).toSet
      Ontology.entityEdges.foreach { case (cat, member) =>
        // entity subsumption is reversed: member → category (SUBSUM_BY)
        if (entityCats.contains(member) || docNodes.contains(member))
          addEdge(member, cat, "ACTOR", "ACTOR")
      }
      if (umbrella) {
        typeOf.getOrElseUpdate("UNSPECIFIED_DATA", "DATA")
        // umbrella targets are the policy's own datatypes plus the attached
        // probe — not ontology-only nodes (accept_unspecific_data iterates
        // self.datatypes, graph_utils.py:408-417)
        val targets = base.nodeType.collect { case (n, "DATA") => n }.toSet ++
          probe.filter(p => typeOf.getOrElse(p, "DATA") == "DATA")
        targets.foreach { n =>
          if (n != "UNSPECIFIED_DATA")
            extAdjM("UNSPECIFIED_DATA") = extAdjM.getOrElse("UNSPECIFIED_DATA", Vector.empty) :+ n
        }
      }
    }

    private val extRadj: Map[String, Vector[String]] =
      extAdjM.toVector.flatMap { case (u, vs) => vs.map(v => (v, u)) }
        .groupBy(_._1).map { case (v, us) => v -> us.map(_._2) }

    /** ACTOR doc-graph nodes with a path to `dt` in the grafted graph —
      * ExtKGraph.who_collect keeps the "already in the KGraph" limitation
      * for precise company names (graph_utils.py:429-436). */
    def whoCollect(dt: String): Vector[String] = {
      val seen = mutable.Set(dt)
      val q = mutable.Queue(dt)
      while (q.nonEmpty) {
        extRadj.getOrElse(q.dequeue(), Vector.empty).foreach { n =>
          if (!seen.contains(n)) { seen += n; q.enqueue(n) }
        }
      }
      (seen - dt).toVector
        .filter(n => base.nodeType.get(n).contains("ACTOR"))
        .sorted
    }
  }

  // ------------------------------------------------------- Spark query layer

  /** G8 closure-at-materialize-time: per-document transitive closure of the
    * positive oriented graph as plain rows — one row per (ancestor, node)
    * reachability pair, with node types attached. Computed ONCE when the
    * graph is materialized (a stage table in `runCheckpointed`); every
    * reachability query (who_collect / validate_* / the SQL surface) then
    * becomes a filter/join over these rows instead of a per-query kernel
    * re-run. Rows are unique per (url, anc, node) by construction. At 10^12
    * docs the closure is ~|nodes|·|reachable| per doc (tiny per-doc graphs),
    * i.e. linear in the corpus. */
  def closureRows(triples: Dataset[Triple]): DataFrame = {
    import triples.sparkSession.implicits._
    triples.groupByKey(_.url).flatMapGroups { (url, it) =>
      val g = new PolicyGraph(it.toVector)
      g.nodes.iterator.flatMap { n =>
        g.reachable(n).iterator.map(m =>
          (url, n, g.nodeType(n), m, g.nodeType(m)))
      }
    }.toDF("url", "anc", "anc_type", "node", "node_type")
  }

  /** KGraph.who_collect over materialized closure rows: a pure filter
    * (ACTOR ancestors of the DATA node). */
  def whoCollectFromClosure(closure: DataFrame, datatype: String): DataFrame =
    closure.filter(col("node") === datatype && col("node_type") === "DATA" &&
        col("anc_type") === "ACTOR")
      .select(col("url"), col("anc").as("actor"))
      .orderBy("url", "actor")

  /** KGraph.validate_collection over closure rows: datatypes from the probe
    * list somebody collects (graph_utils.py:333-339). */
  def validateCollectionFromClosure(closure: DataFrame, dts: Seq[String]): DataFrame =
    closure.filter(col("node").isin(dts: _*) && col("node_type") === "DATA" &&
        col("anc_type") === "ACTOR")
      .select(col("url"), col("node").as("datatype"))
      .distinct().orderBy("url", "datatype")

  /** KGraph.validate_sharing over closure rows: probe (entity, datatype)
    * pairs where the entity is among the datatype's collectors
    * (graph_utils.py:341-346). */
  def validateSharingFromClosure(closure: DataFrame,
      pairs: Seq[(String, String)]): DataFrame = {
    val keys = pairs.map { case (e, dt) => s"$e|$dt" }
    closure.filter(col("node_type") === "DATA" && col("anc_type") === "ACTOR" &&
        concat_ws("|", col("anc"), col("node")).isin(keys: _*))
      .select(col("url"), col("anc").as("entity"), col("node").as("datatype"))
      .orderBy("url", "entity", "datatype")
  }

  /** KGraph.who_collect as a corpus query: (url, actor) pairs. */
  def whoCollect(triples: Dataset[Triple], datatype: String): DataFrame = {
    import triples.sparkSession.implicits._
    triples.groupByKey(_.url).flatMapGroups { (url, it) =>
      new PolicyGraph(it.toVector).whoCollect(datatype).iterator.map((url, _))
    }.toDF("url", "actor").orderBy("url", "actor")
  }

  /** ExtKGraph who_collect with ontology grafting (+ optional UNSPECIFIED
    * umbrella): every (url, actor) that can collect `datatype`. */
  def extWhoCollect(triples: Dataset[Triple], datatype: String,
      umbrella: Boolean): DataFrame = {
    import triples.sparkSession.implicits._
    triples.groupByKey(_.url).flatMapGroups { (url, it) =>
      new ExtPolicyGraph(it.toVector, Set(datatype), umbrella)
        .whoCollect(datatype).iterator.map((url, _))
    }.toDF("url", "actor").orderBy("url", "actor")
  }

  /** KGraph.purposes over every (actor, datatype) pair connected in the
    * positive graph: exploded purpose labels along shortest paths. */
  def edgePurposes(triples: Dataset[Triple]): DataFrame = {
    import triples.sparkSession.implicits._
    triples.groupByKey(_.url).flatMapGroups { (url, it) =>
      val g = new PolicyGraph(it.toVector)
      for {
        dt <- g.dataNodes.sorted.iterator
        actor <- g.whoCollect(dt)
        p <- g.purposes(actor, dt)
      } yield (url, actor, dt, p)
    }.toDF("url", "actor", "datatype", "purpose")
      .orderBy("url", "actor", "datatype", "purpose")
  }

  /** KGraph.get_text over every connected (actor, datatype) pair: the
    * evidence sentences justifying the relation, sorted and joined. */
  def edgeTexts(triples: Dataset[Triple]): DataFrame = {
    import triples.sparkSession.implicits._
    triples.groupByKey(_.url).flatMapGroups { (url, it) =>
      val g = new PolicyGraph(it.toVector)
      for {
        dt <- g.dataNodes.sorted.iterator
        actor <- g.whoCollect(dt)
      } yield (url, actor, dt, g.getText(actor, dt).mkString(" || "))
    }.toDF("url", "actor", "datatype", "texts")
      .orderBy("url", "actor", "datatype")
  }

  /** Exported per-party collection tuples (export_poligraph_tuples.py:52-87):
    * who_collect over every datatype, each collector classified first-party
    * ("we" + descendants of we) or third-party. Deliberate divergence from
    * the reference export: the "you" node (the data subject, kept by pronoun
    * normalization for e.g. "you provide X" statements) is NOT a collecting
    * party — the reference would count it as 3rd-party, which no human
    * annotation does (holdout FP source). */
  def partyTuples(triples: Dataset[Triple]): DataFrame = {
    import triples.sparkSession.implicits._
    triples.groupByKey(_.url).flatMapGroups { (url, it) =>
      val g = new PolicyGraph(it.toVector)
      val fp = g.firstParty
      (for {
        dt <- g.dataNodes
        actor <- g.whoCollect(dt)
        // data subjects are not collecting parties: neither "you" nor the
        // user class ("Other users can see your profile picture" states
        // user-to-user visibility, not operator/third-party collection)
        if actor != "you" && actor != "user"
      } yield (url, if (fp(actor)) "we" else "3rd-party", dt)).distinct.iterator
    }.toDF("url", "party", "datatype")
  }

  /** Contradiction detection with the reference's narrowing semantics
    * (analyses/contradictions/get-poligraph-contradictions.py:12-84):
    * action match, purpose overlap, PolicyLint narrow-subsum exclusion, and
    * descendant-set overlap on both the data and the entity side. */
  def contradictions(triples: Dataset[Triple]): DataFrame = {
    import triples.sparkSession.implicits._
    triples.groupByKey(_.url).flatMapGroups { (url, it) =>
      val ts = it.toVector
      val g = new PolicyGraph(ts)
      def subsumConflict(pos: String, neg: String): Boolean =
        if (pos == neg) true
        else if (g.subsum(pos, neg)) false // PolicyLint narrow definition
        else {
          val negChildren = g.descendants(neg) + neg
          val posChildren = g.descendants(pos) + pos
          (negChildren & posChildren).nonEmpty
        }
      val posEdges = ts.filter(t => PositiveEdgeTypes(t.pred))
      val negs = ts.filter(t => t.pred.startsWith("NOT_"))
      (for {
        n <- negs
        p <- posEdges
        if p.pred == n.pred.stripPrefix("NOT_")
        negPurp = n.purposes.keySet
        if negPurp.isEmpty || (negPurp & p.purposes.keySet).nonEmpty
        if subsumConflict(p.obj, n.obj) && subsumConflict(p.subj, n.subj)
      } yield (url, p.subj, p.pred, p.obj, n.subj, n.pred, n.obj)).iterator
    }.toDF("url", "pos_subj", "pos_pred", "pos_obj", "neg_subj", "neg_pred", "neg_obj")
      .orderBy("url", "pos_subj", "pos_pred", "pos_obj", "neg_subj", "neg_pred", "neg_obj")
  }
}
