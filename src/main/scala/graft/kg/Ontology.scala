package graft.kg

/** Global ontologies (SURVEY.md §1.1 "Ontologies"): tiny in-repo analogues
  * of the reference's data ontology DAG (45 nodes,
  * extra-data/data_ontology_readable.graphml) and entity-category ontology
  * (graph_utils.py:15-73), expressed over this engine's canonical terms.
  * Transitive closure is precomputed once per JVM — the tables are tiny,
  * and flow consistency reads them as in-memory maps (G9/G11).
  */
object Ontology {

  /** (parent, child) — data-category DAG over canonical DATA terms. */
  val dataEdges: Seq[(String, String)] = Seq(
    "personal information" -> "personal identifier",
    "personal information" -> "contact information",
    "personal information" -> "person name",
    "personal information" -> "date of birth",
    "personal information" -> "age",
    "personal information" -> "gender",
    "personal information" -> "race / ethnicity",
    "personal information" -> "biometric information",
    "personal information" -> "health information",
    "personal identifier" -> "email address",
    "personal identifier" -> "phone number",
    "personal identifier" -> "postal address",
    "personal identifier" -> "ssn",
    "personal identifier" -> "government identifier",
    "personal identifier" -> "passport number",
    "personal identifier" -> "driver's license number",
    "contact information" -> "email address",
    "contact information" -> "phone number",
    "contact information" -> "postal address",
    "contact information" -> "contact list",
    "device information" -> "device identifier",
    "device information" -> "advertising identifier",
    "device information" -> "mac address",
    "device information" -> "crash / log data",
    "identifier" -> "device identifier",
    "identifier" -> "advertising identifier",
    "identifier" -> "ip address",
    "identifier" -> "cookie / pixel tag",
    "geolocation" -> "precise geolocation",
    "geolocation" -> "coarse geolocation",
    "internet activity" -> "browsing / search history",
    "internet activity" -> "usage information",
    "internet activity" -> "ip address",
    "financial information" -> "payment information",
    "financial information" -> "credit / debit card number",
    "financial information" -> "purchase history",
    "financial information" -> "income",
    "biometric information" -> "fingerprint",
    "biometric information" -> "voiceprint",
    "demographic information" -> "age",
    "demographic information" -> "gender",
    "demographic information" -> "race / ethnicity",
    "demographic information" -> "income")

  /** (category, member) — entity-category ontology over canonical ACTORs. */
  val entityEdges: Seq[(String, String)] = Seq(
    "advertiser" -> "google",
    "advertiser" -> "facebook",
    "analytic provider" -> "google",
    "analytic provider" -> "mixpanel",
    "analytic provider" -> "hotjar",
    "analytic provider" -> "flurry",
    "analytic provider" -> "adjust",
    "analytic provider" -> "appsflyer",
    "social media" -> "facebook",
    "social media" -> "twitter",
    "social media" -> "tiktok",
    "social media" -> "snapchat",
    "social media" -> "pinterest",
    "service provider" -> "stripe",
    "service provider" -> "paypal",
    "service provider" -> "salesforce",
    "service provider" -> "onesignal",
    "third party" -> "advertiser",
    "third party" -> "analytic provider",
    "third party" -> "social media",
    "third party" -> "service provider",
    "third party" -> "business partner",
    "third party" -> "data broker")

  private def closureOf(edges: Seq[(String, String)]): Seq[(String, String)] = {
    val adj = edges.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    def desc(n: String, seen: Set[String]): Set[String] = {
      adj.getOrElse(n, Nil).toSet.flatMap { (c: String) =>
        if (seen(c)) Set.empty[String] else desc(c, seen + c) + c
      }
    }
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
    nodes.flatMap(n => desc(n, Set(n)).map(n -> _)).distinct.sorted
  }

  /** (ancestor, descendant) transitive closure, excluding identity. */
  lazy val dataClosure: Seq[(String, String)] = closureOf(dataEdges)
  lazy val entityClosure: Seq[(String, String)] = closureOf(entityEdges)

  /** Registered-domain → canonical entity (J8/F7; an in-memory map standing
    * in for the public-suffix-list + entity_info join). */
  lazy val domainEntity: Seq[(String, String)] =
    graft.nlp.Lexicon.entityInfo.toSeq.flatMap { case (canon, (_, domains)) =>
      domains.map(d => registeredDomain(d) -> canon)
    }.distinct.sorted

  /** Multi-label public suffixes (trimmed public-suffix-list table, F7 —
    * resources/graft/public_suffix_trimmed.tsv). Single-label TLDs need no
    * entry; the common registries are 2-label, so the table holds 2-label
    * suffixes and `registeredDomain` returns suffix + one label. */
  lazy val multiLabelSuffixes: Set[String] = {
    val in = getClass.getResourceAsStream("/graft/public_suffix_trimmed.tsv")
    require(in != null, "missing public_suffix_trimmed.tsv")
    try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
      .map(_.trim).filterNot(l => l.isEmpty || l.startsWith("#")).toSet
    finally in.close()
  }

  /** PSL registered domain (reference uses tldextract,
    * flow_consistency_analysis.py:101-110): longest matching public suffix
    * plus one label — `bbc.co.uk` for `www.bbc.co.uk`. */
  def registeredDomain(host: String): String = {
    val labels = host.toLowerCase.split('.').filter(_.nonEmpty)
    if (labels.length <= 2) labels.mkString(".")
    else if (multiLabelSuffixes.contains(labels.takeRight(2).mkString(".")))
      labels.takeRight(math.min(3, labels.length)).mkString(".")
    else labels.takeRight(2).mkString(".")
  }

  def hostOf(url: String): String =
    url.replaceFirst("^[a-z]+://", "").takeWhile(c => c != '/' && c != ':')
}
