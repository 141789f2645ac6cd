package graft.kg

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.gen.CorpusGen

/** J7/J8/F7/G11: flow-to-policy consistency analysis (reference
  * flow_consistency_analysis.py:13-203).
  *
  * Observed data flows (app url, destination domain, datatype) are checked
  * against the app's knowledge graph: the destination resolves to an entity
  * through the registered-domain map (J8), the flow is consistent when the
  * policy discloses a COLLECT-family edge whose actor is that entity (or
  * `we` for first-party flows, or an entity-ontology ancestor) and whose
  * data type is the flow's datatype or a data-ontology / per-policy SUBSUM
  * ancestor of it (G9 ontology grafting). `classify` settles each url's
  * flows in one pass over that url's triples; there is no join.
  */
object FlowConsistency {

  final case class Flow(url: String, domain: String, datatype: String)

  /** Deterministic synthetic flows derived from the corpus truth: a mix of
    * consistent third-party flows, first-party flows through an ontology
    * category, unknown trackers, and undisclosed flows. */
  def flows(nDocs: Int, seed: Long = 42L): Seq[Flow] = {
    val domainOf = graft.nlp.Lexicon.entityInfo.map { case (c, (_, ds)) =>
      c -> Ontology.registeredDomain(ds.head)
    }
    val ontChildren = Ontology.dataClosure.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    CorpusGen.corpus(nDocs, seed).flatMap { gp =>
      val url = gp.page.url
      val i = url.replaceAll("[^0-9]", "").toInt
      val truths = gp.truth
      i % 6 match {
        case 0 =>
          // consistent third-party flow: first shared edge whose actor has a
          // known domain
          truths.find(t => t.pred == "BE_SHARED" && domainOf.contains(t.subj))
            .map(t => Flow(url, domainOf(t.subj), t.obj)).toSeq
        case 1 =>
          // first-party flow of an ontology child of a collected category
          truths.collectFirst {
            case t if t.pred == "COLLECT" && t.subj == "we" &&
              ontChildren.getOrElse(t.obj, Nil).nonEmpty =>
              Flow(url, Ontology.registeredDomain(Ontology.hostOf(url)),
                ontChildren(t.obj).min)
          }.toSeq
        case 2 =>
          // unknown tracker domain
          Seq(Flow(url, "trackers-r-us.example", "email address"))
        case 3 =>
          // undisclosed google flow of a never-mentioned datatype, via a
          // subdomain under a multi-label public suffix — exercises the PSL
          // reduction end to end ("metrics.google.co.uk" → "google.co.uk")
          Seq(Flow(url, "metrics.google.co.uk", "voiceprint"))
        case 4 =>
          // member of a sharing actor category: consistent only through the
          // per-policy ACTOR SUBSUM chain ("third parties, such as Stripe")
          truths.collectFirst {
            case t if t.pred == "SUBSUM" && t.subjType == "ACTOR" &&
              domainOf.contains(t.obj) &&
              truths.exists(x => x.pred == "BE_SHARED" && x.subj == t.subj) =>
              Flow(url, domainOf(t.obj),
                truths.find(x => x.pred == "BE_SHARED" && x.subj == t.subj).get.obj)
          }.toSeq
        case _ =>
          // first-party flow of a chain leaf: consistent only through the
          // TRANSITIVE per-policy data SUBSUM closure (depth-2 chains)
          truths.collectFirst {
            case t if t.pred == "SUBSUM" && t.subjType == "DATA" &&
              truths.exists(c => c.pred == "SUBSUM" && c.subjType == "DATA" &&
                c.obj == t.subj) =>
              Flow(url, Ontology.registeredDomain(Ontology.hostOf(url)), t.obj)
          }.toSeq
      }
    }
  }

  /** The COLLECT-family predicates a flow's disclosure may use. */
  private val CollectPreds: Set[String] = Set("COLLECT", "BE_SHARED", "BE_SOLD", "USE", "STORE")

  // child -> ancestors, registered domain -> entities: JVM-singleton maps
  private lazy val dataAnc = Ontology.dataClosure.groupMap(_._2)(_._1).view.mapValues(_.toSet).toMap
  private lazy val entAnc = Ontology.entityClosure.groupMap(_._2)(_._1).view.mapValues(_.toSet).toMap
  private lazy val domainEntities = Ontology.domainEntity.groupMap(_._1)(_._2)
  private val AppHost = "^https?://([^/]+)".r

  /** Spark-side classification: one url-keyed cogroup of the flows with
    * that url's COLLECT-family and SUBSUM triples; each url's flows are
    * classified in plain Scala against the ontology closures held as JVM
    * maps. The destination resolves to entities through its registered
    * domain (J8/F7), or to `we` when the app's host ends with it. A flow is
    * consistent when a disclosure's actor is the entity, one of its entity-
    * ontology ancestors or a per-policy ACTOR SUBSUM ancestor, and its data
    * type is the flow's datatype, a data-ontology ancestor or a per-policy
    * DATA SUBSUM ancestor (G9). Per-policy ancestors follow the reference's
    * transitive hypernym BFS (flow_consistency_analysis.py:118-203) and keep
    * a node only when the subjType of the edge that reached it matches.
    * One row per distinct (url, domain, datatype); verdicts: consistent |
    * inconsistent | unknown_entity. */
  def classify(spark: SparkSession, flowsDf: DataFrame, triples: DataFrame): DataFrame = {
    import spark.implicits._
    val policy = triples.filter(col("pred").isin((CollectPreds + "SUBSUM").toSeq: _*))
      .select("url", "subj", "pred", "obj", "subjType")
      .as[(String, String, String, String, String)].groupByKey(_._1)
    flowsDf.select("url", "domain", "datatype").as[(String, String, String)]
      .groupByKey(_._1)
      .cogroup(policy) { (url, flows, edges) =>
        // a null url matches no triples, as a null join key would not
        val es = if (url == null) Vector.empty else edges.toVector
        val disclosed = es.collect { case (_, s, p, o, _) if p != "SUBSUM" => (s, o) }
        // parent pointers: subj SUBSUM obj makes subj an ancestor of obj
        val up = es.filter(_._3 == "SUBSUM").groupMap(_._4)(e => (e._2, e._5))
        def policyAnc(node: String, tpe: String): Set[String] = {
          val seen = scala.collection.mutable.Set(node)
          val q = scala.collection.mutable.Queue(node)
          val out = Set.newBuilder[String]
          while (q.nonEmpty) up.getOrElse(q.dequeue(), Vector.empty).foreach { case (a, at) =>
            if (seen.add(a)) { q.enqueue(a); if (at == tpe && a != null) out += a }
          }
          out.result()
        }
        val app = Option(url).map(u => AppHost.findFirstMatchIn(u).fold("")(_.group(1)))
        flows.map(f => (f._2, f._3)).toVector.distinct.iterator.map { case (domain, dt) =>
          val reg = Ontology.registeredDomain(Option(domain).getOrElse(""))
          val entities = domainEntities.getOrElse(reg,
            if (app.exists(_.endsWith(reg))) Seq("we") else Nil)
          val verdict =
            if (entities.isEmpty) "unknown_entity"
            else {
              val dtCand = Option(dt).fold(Set.empty[String])(d =>
                policyAnc(d, "DATA") ++ dataAnc.getOrElse(d, Set.empty) + d)
              val entCand = entities.flatMap(e =>
                policyAnc(e, "ACTOR") ++ entAnc.getOrElse(e, Set.empty) + e).toSet
              if (disclosed.exists { case (a, d) => entCand(a) && dtCand(d) }) "consistent"
              else "inconsistent"
            }
          (url, domain, dt, verdict)
        }
      }.toDF("url", "domain", "datatype", "verdict")
  }

  /** Independent oracle-side classification over ground truth (plain Scala,
    * no Spark — a genuinely separate implementation for the DuckDB VALUES
    * oracle). */
  def classifyTruth(nDocs: Int, seed: Long = 42L): Seq[(String, String, String, String)] = {
    val byUrl = CorpusGen.corpus(nDocs, seed).map(gp => gp.page.url -> gp.truth).toMap
    val domains = Ontology.domainEntity.toMap
    flows(nDocs, seed).map { f =>
      val appDomain = Ontology.registeredDomain(Ontology.hostOf(f.url))
      val reg = Ontology.registeredDomain(f.domain)
      val entity = domains.get(reg)
        .orElse(if (reg == appDomain) Some("we") else None)
      val verdict = entity match {
        case None => "unknown_entity"
        case Some(e) =>
          val truths = byUrl.getOrElse(f.url, Vector.empty)
          // per-policy transitive SUBSUM ancestors (fixpoint — independent
          // of the engine's BFS)
          def policyAnc(node: String, tpe: String): Set[String] = {
            val up = truths.filter(t => t.pred == "SUBSUM" && t.subjType == tpe)
              .map(t => t.obj -> t.subj)
            var anc = Set.empty[String]
            var frontier = Set(node)
            var grown = true
            while (grown) {
              val next = up.collect { case (d, a) if frontier(d) && !anc(a) => a }.toSet
              grown = next.nonEmpty
              anc ++= next
              frontier = next
            }
            anc
          }
          val dtCand = Set(f.datatype) ++ dataAnc.getOrElse(f.datatype, Set.empty) ++
            policyAnc(f.datatype, "DATA")
          val entCand = Set(e) ++ entAnc.getOrElse(e, Set.empty) ++
            policyAnc(e, "ACTOR")
          val ok = truths.exists(t => CollectPreds(t.pred) &&
            entCand(t.subj) && dtCand(t.obj))
          if (ok) "consistent" else "inconsistent"
      }
      (f.url, f.domain, f.datatype, verdict)
    }
  }
}
