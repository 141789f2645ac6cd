package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.kg.{FlowConsistency, KgPipeline}
import graft.kg.FlowConsistency.Flow
import graft.kg.Model.Triple

/** Flow-to-policy consistency (J7/J8/G9): the Spark classification over
  * extracted triples against the plain-Scala classification over corpus
  * truth, plus hand-built policies for the per-policy SUBSUM rules. */
class FlowConsistencySpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  val Docs = 1200

  private def classify(flows: Seq[Flow],
      triples: org.apache.spark.sql.DataFrame): Seq[(String, String, String, String)] = {
    val s = spark
    import s.implicits._
    FlowConsistency.classify(spark, flows.toDF(), triples)
      .as[(String, String, String, String)].collect().toSeq.sorted
  }

  private def df(triples: Seq[Triple]) = {
    val s = spark
    import s.implicits._
    triples.toDS().toDF()
  }

  test("classify over the pipeline's triples equals the truth-side classification") {
    val flows = FlowConsistency.flows(Docs)
    // a url with no policy triples: a known entity and its own domain are
    // inconsistent, an unknown tracker stays unknown
    val orphan = "https://no-policy.example/privacy"
    val orphans = Seq(Flow(orphan, "www.google.com", "email address"),
      Flow(orphan, "no-policy.example", "email address"),
      Flow(orphan, "trackers-r-us.example", "email address"))
    val got = classify(flows ++ flows.take(40) ++ orphans ++ orphans.take(1),
      KgPipeline.run(spark, Docs).toDF())
    val want = (FlowConsistency.classifyTruth(Docs).distinct ++
      orphans.map(f => (f.url, f.domain, f.datatype)).zip(
        Seq("inconsistent", "inconsistent", "unknown_entity")).map { case ((u, d, t), v) =>
          (u, d, t, v)
        }).sorted
    assert(got.size == flows.distinct.size + orphans.size, "one row per distinct flow")
    assert(got == want)
    // the per-policy ACTOR SUBSUM (case 4) and 2-hop DATA SUBSUM (case 5)
    // flows are present and consistent only through those chains
    val flowCase = flows.map(f => f.url -> f.url.replaceAll("[^0-9]", "").toInt % 6).toMap
    Seq(4, 5).foreach { c =>
      val rows = got.filter(r => flowCase.get(r._1).contains(c))
      assert(rows.nonEmpty, s"no case-$c flow")
      assert(rows.forall(_._4 == "consistent"), s"case $c: $rows")
    }
  }

  test("a per-policy ancestor counts only when the edge that reached it has the flow side's type") {
    def t(url: String, subj: String, subjType: String, pred: String, obj: String, objType: String) =
      Triple(url, subj, subjType, pred, obj, objType, Vector.empty, Map.empty)
    val (a, b) = ("https://typed-a.example/privacy", "https://typed-b.example/privacy")
    val triples = Seq(
      // a DATA-typed SUBSUM edge onto the actor google: "records" is no
      // actor ancestor of google, so its disclosure does not cover google
      t(a, "records", "DATA", "SUBSUM", "google", "ACTOR"),
      t(a, "records", "DATA", "COLLECT", "email address", "DATA"),
      // 2-hop DATA chain reached through an ACTOR hop: "vendor data" is
      // reached by an ACTOR-typed edge, "account data" by a DATA-typed one
      t(b, "vendor data", "ACTOR", "SUBSUM", "voice sample", "DATA"),
      t(b, "account data", "DATA", "SUBSUM", "vendor data", "DATA"),
      t(b, "we", "ACTOR", "COLLECT", "account data", "DATA"),
      t(b, "we", "ACTOR", "COLLECT", "vendor data", "DATA"))
    val got = classify(Seq(Flow(a, "google.com", "email address"),
      Flow(b, "typed-b.example", "voice sample")), df(triples))
    assert(got == Seq(
      (a, "google.com", "email address", "inconsistent"),
      (b, "typed-b.example", "voice sample", "consistent")))
    // without the account data disclosure only the ACTOR-reached node remains
    assert(classify(Seq(Flow(b, "typed-b.example", "voice sample")),
      df(triples.dropRight(2) :+ triples.last)).map(_._4) == Seq("inconsistent"))
  }
}
