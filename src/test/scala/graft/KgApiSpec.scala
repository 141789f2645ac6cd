package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.kg.{DocKernel, KgApi}
import graft.text.HtmlSegmenter

/** Round-2 semantics: transitive reachability, first-party aliases,
  * contradiction narrowing, negative/case-sensitive phrase rules, and
  * non-HTML bullet repair — all through the real kernel + query graph. */
class KgApiSpec extends AnyFunSuite {

  private def graph(html: String): KgApi.PolicyGraph =
    new KgApi.PolicyGraph(DocKernel.process("t", HtmlSegmenter.segment("t", html)))

  test("who_collect walks depth-2 SUBSUM chains (transitive, G8)") {
    val g = graph("<p>We collect personal information, such as contact information. " +
      "Contact information includes your email address.</p>")
    assert(g.whoCollect("email address") == Vector("we"))
    assert(g.whoCollect("contact information") == Vector("we"))
    assert(g.ancestors("email address") ==
      Set("contact information", "personal information"))
    assert(g.descendants("personal information") ==
      Set("contact information", "email address"))
  }

  test("who_collect reaches members of a collecting actor category (SUBSUM_BY)") {
    val g = graph("<p>We may share usage data with third parties, such as Stripe.</p>")
    assert(g.whoCollect("usage information") == Vector("stripe", "third party", "we"))
    // descendants of an ACTOR = its members (reversed orientation)
    assert(g.descendants("third party") == Set("stripe"))
  }

  test("first-party set includes copula aliases (We are <Company>)") {
    val g = graph("<p>We are Google. Google may collect your email address. " +
      "We also collect your age.</p>")
    assert(g.firstParty == Set("we", "google"))
    assert(g.whoCollect("email address").contains("google"))
  }

  test("contradiction narrowing: descendant overlap fires, narrow subsum does not") {
    // positive on leaf + negative on category + in-doc SUBSUM → conflict
    val ts = DocKernel.process("t", HtmlSegmenter.segment("t",
      "<p>We collect your email address.</p>" +
        "<p>We do not collect personal information.</p>" +
        "<p>Personal information includes your email address.</p>"))
    val g = new KgApi.PolicyGraph(ts)
    assert(g.subsum("personal information", "email address"))
    assert(!g.subsum("email address", "personal information"))
    // reversed case: positive on category + negative on leaf → PolicyLint
    // narrow definition excludes it (pos subsumes neg)
    val ts2 = DocKernel.process("t", HtmlSegmenter.segment("t",
      "<p>We collect personal information.</p>" +
        "<p>We do not collect your email address.</p>" +
        "<p>Personal information includes your email address.</p>"))
    val g2 = new KgApi.PolicyGraph(ts2)
    assert(g2.subsum("personal information", "email address"))
  }

  test("purposes and get_text union over shortest paths") {
    val g = graph("<p>We use your email address for advertising purposes.</p>")
    assert(g.purposes("we", "email address") == Vector("advertising"))
    assert(g.getText("we", "email address") ==
      Vector("We use your email address for advertising purposes."))
    // entity-first argument order is normalized (get_text case 3)
    assert(g.getText("email address", "we") == g.getText("we", "email address"))
  }

  test("negative phrase rules block the positive canonical term") {
    val ts = DocKernel.process("t", HtmlSegmenter.segment("t",
      "<p>We do not collect non personal information.</p>"))
    assert(ts.map(t => (t.subj, t.pred, t.obj)).toSet ==
      Set(("we", "NOT_COLLECT", "UNSPECIFIED_DATA")))
    // hyphenated variant is blocked too (word-boundary containment)
    val ts2 = DocKernel.process("t", HtmlSegmenter.segment("t",
      "<p>We may share non-personal information with advertisers.</p>"))
    assert(!ts2.exists(_.obj == "personal information"))
  }

  test("case-sensitive (=) rules match exact case only") {
    val up = DocKernel.process("t", HtmlSegmenter.segment("t", "<p>We collect your UDID.</p>"))
    assert(up.exists(t => t.obj == "device identifier"))
    val low = DocKernel.process("t", HtmlSegmenter.segment("t", "<p>We collect your udid.</p>"))
    assert(!low.exists(t => t.obj == "device identifier"))
  }

  test("nested and sloppy (unclosed-li) lists keep item structure") {
    def collect(html: String) = DocKernel.process("t", HtmlSegmenter.segment("t", html))
      .filter(_.pred == "COLLECT").map(_.obj).toSet
    assert(collect("<p>We collect the following information:</p>" +
      "<ul><li>Email address</li><li>Device data:<ul><li>IP address</li></ul></li></ul>") ==
      Set("email address", "device information", "ip address"))
    assert(collect("<p>We collect the following information:</p>" +
      "<ul><li>Email address<li>Phone number</ul>") ==
      Set("email address", "phone number"))
  }

  test("non-HTML bullet lists repair into LISTITEM structure (4 families)") {
    def collect(items: String*): Set[String] = {
      val html = "<p>We collect the following information:</p>" +
        items.map(i => s"<p>$i</p>").mkString
      DocKernel.process("t", HtmlSegmenter.segment("t", html))
        .filter(_.pred == "COLLECT").map(_.obj).toSet
    }
    assert(collect("* Email address", "* Phone number") ==
      Set("email address", "phone number"))
    assert(collect("- Email address", "- Phone number") ==
      Set("email address", "phone number"))
    assert(collect("1. Email address", "2. Phone number") ==
      Set("email address", "phone number"))
    assert(collect("a. Email address", "b. Phone number") ==
      Set("email address", "phone number"))
    // numbering must cycle correctly: 1. then 3. breaks the run at one item,
    // so no list forms and the intro alone yields the UNSPECIFIED node
    assert(collect("1. Email address", "3. Phone number") == Set("UNSPECIFIED_DATA"))
    // a single bullet is not a list
    assert(collect("* Email address") == Set("UNSPECIFIED_DATA"))
  }

  test("alpha bullets: 2-item prose runs and 3-item lists both convert") {
    import graft.text.HtmlSegmenter
    val prose = "<p>Our cookie practices:</p>" +
      "<p>A cookie is a small file stored on your device.</p>" +
      "<p>B cookies from partners may also be set.</p>"
    val realList = "<p>We collect the following information:</p>" +
      "<p>a. Email address</p><p>b. Phone number</p><p>c. IP address</p>"
    // bug-compatible: 2-item alpha runs convert (reference behavior)
    assert(HtmlSegmenter.segment("t", prose).exists(_.segType == "LISTITEM"))
    assert(HtmlSegmenter.segment("t", realList)
      .count(_.segType == "LISTITEM") == 3, "3-item alpha list converts")
  }

  test("ExtKGraph umbrella: UNSPECIFIED_DATA collectors count for any datatype") {
    val ts = DocKernel.process("t", HtmlSegmenter.segment("t",
      "<p>Advertisers may collect the data.</p><p>We collect your age.</p>"))
    val ext = new KgApi.ExtPolicyGraph(ts, Set("age"), umbrella = true)
    assert(ext.whoCollect("age").contains("advertiser"))
    val noUmbrella = new KgApi.ExtPolicyGraph(ts, Set("age"), umbrella = false)
    assert(!noUmbrella.whoCollect("age").contains("advertiser"))
  }

  test("all five subsumption cue surfaces produce the same structure (U5)") {
    val want = Set(
      ("we", "COLLECT", "personal information"),
      ("personal information", "SUBSUM", "email address"),
      ("personal information", "SUBSUM", "age"))
    Seq(", such as", ", including", " like", ", e.g.", ", for example").foreach { cue =>
      val got = DocKernel.process("t", HtmlSegmenter.segment("t",
        s"<p>We collect personal information$cue your email address and your age.</p>"))
        .map(t => (t.subj, t.pred, t.obj)).toSet
      assert(got == want, s"cue '$cue' gave $got")
    }
  }

  test("negation contractions keep polarity (won't / don't / can't / ’)") {
    Seq("We won't share your email address with advertisers.",
      "We don't share your email address with advertisers.",
      "We can't share your email address with advertisers.",
      "We don’t share your email address with advertisers.").foreach { s =>
      val got = DocKernel.process("t", HtmlSegmenter.segment("t", s"<p>$s</p>"))
        .map(t => (t.subj, t.pred, t.obj)).toSet
      assert(got == Set(("advertiser", "NOT_BE_SHARED", "email address")), s)
    }
  }

  test("COREF_SOME_OF: quantifier-of phrases resolve to the real term") {
    def triples(s: String) = DocKernel.process("t", HtmlSegmenter.segment("t", s"<p>$s</p>"))
      .map(t => (t.subj, t.pred, t.obj)).toSet
    assert(triples("We collect two types of information: personal information and usage data.") ==
      Set(("we", "COLLECT", "personal information"), ("we", "COLLECT", "usage information")))
    assert(triples("We may share some of your personal information with advertisers.") ==
      Set(("advertiser", "BE_SHARED", "personal information"),
        ("we", "COLLECT", "personal information")))
  }

  test("'as well as' coordinates objects and recipients; fronted clauses pass") {
    def triples(s: String) = DocKernel.process("t", HtmlSegmenter.segment("t", s"<p>$s</p>"))
      .map(t => (t.subj, t.pred, t.obj)).toSet
    assert(triples("We collect your email address as well as your age.") ==
      Set(("we", "COLLECT", "email address"), ("we", "COLLECT", "age")))
    assert(triples("When you create an account, we collect your email address.") ==
      Set(("we", "COLLECT", "email address")))
    assert(triples("Do we collect your email address?").isEmpty)
  }

  test("comma-coordinated verb chains share the object") {
    val got = DocKernel.process("t", HtmlSegmenter.segment("t",
      "<p>We collect, use, and share your email address.</p>"))
      .map(t => (t.subj, t.pred, t.obj)).toSet
    assert(got == Set(("we", "COLLECT", "email address"), ("we", "USE", "email address")))
  }

  test("dative stays adjacent-only: 'give us X' vs parenthetical gaps") {
    val got = DocKernel.process("t", HtmlSegmenter.segment("t",
      "<p>You give us your email address.</p>"))
      .map(t => (t.subj, t.pred, t.obj)).toSet
    assert(got.contains(("we", "BE_SHARED", "email address")))
  }

  test("ExtKGraph ontology grafting: category collection reaches leaves") {
    val ts = DocKernel.process("t", HtmlSegmenter.segment("t",
      "<p>We collect contact information.</p>"))
    val ext = new KgApi.ExtPolicyGraph(ts, Set("phone number"), umbrella = false)
    assert(ext.whoCollect("phone number") == Vector("we"))
  }

  private def tupleSet(html: String): Set[(String, String, String)] =
    DocKernel.process("t", HtmlSegmenter.segment("t", html))
      .map(t => (t.subj, t.pred, t.obj)).toSet

  test("round-4 kernel mechanisms: predicate disambiguation of dictionary nouns") {
    // modal + dictionary-verb unigram ("record" is a DATA unigram)
    assert(tupleSet("<p>We will record your purchase history.</p>")
      .contains(("we", "STORE", "purchase history")))
    // nominal subject + determiner follows → predicate, not mention
    assert(tupleSet("<p>Analytics providers record your device model.</p>")
      .contains(("analytic provider", "STORE", "device information")))
    // wh-free-relative pseudo-cleft
    assert(tupleSet("<p>What our servers record is your browser type.</p>")
      .contains(("we", "STORE", "device information")))
    // pre-nominal participle after a verb stays inside the object NP
    assert(tupleSet("<p>We share aggregated demographic information with advertisers.</p>")
      .contains(("advertiser", "BE_SHARED", "demographic information")))
  }

  test("round-4 kernel mechanisms: ellipsis, anaphora, and taxonomy") {
    // gapped coordination after a semicolon
    val gap = tupleSet("<p>We collect your age; our business partners, your email address.</p>")
    assert(gap.contains(("we", "COLLECT", "age")))
    assert(gap.contains(("business partner", "COLLECT", "email address")))
    // former/latter ordinal anaphors
    val fl = tupleSet("<p>We request your phone number and your postal code. " +
      "The latter is shared with delivery couriers.</p>")
    assert(fl.contains(("we", "COLLECT", "phone number")))
    assert(fl.exists(t => t._2 == "BE_SHARED" && t._3 == "postal address"))
    // demonstrative-NP anaphor resolved through an already-resolved pronoun
    val chain = tupleSet("<p>We collect your IP address when you register. " +
      "It is stored securely. We share this information with our analytics provider.</p>")
    assert(chain.contains(("analytic provider", "BE_SHARED", "ip address")))
    // colon-taxonomy lines with semicolon item tails under a list-forward
    // intro (tables-as-text)
    val tax = tupleSet("<p>We collect the categories listed below.</p>" +
      "<p>Identifiers: device identifier; MAC address.</p>" +
      "<p>Health: heart rate.</p>")
    assert(tax.exists(t => t._3 == "device identifier"))
    assert(tax.exists(t => t._3 == "mac address"))
    assert(tax.exists(t => t._3 == "health information"))
    // paren taxonomy incl. (none) distractor
    val par = tupleSet("<p>The following categories are collected: " +
      "Geolocation (approximate location); Biometrics (none).</p>")
    // COLLECT reaches the concrete item through the label's SUBSUM (the
    // direct edge is reduced as redundant — G5)
    assert(par.contains(("we", "COLLECT", "geolocation")))
    assert(par.contains(("geolocation", "SUBSUM", "coarse geolocation")))
    assert(!par.exists(_._3.contains("biometric")))
  }

  test("round-4 kernel mechanisms: implicit parties and carve-outs") {
    // subjectless share-gerund under a non-party subject
    val ger = tupleSet("<p>Our policy permits sharing your email address with vendors.</p>")
    assert(ger.contains(("we", "COLLECT", "email address")))
    assert(ger.contains(("service provider", "BE_SHARED", "email address")))
    // gerund subject provides → first-party receipt
    assert(tupleSet("<p>Creating an account requires providing your date of birth.</p>")
      .exists(t => t._1 == "we" && t._3 == "date of birth"))
    // instrument subject attributes to its placer
    val instr = tupleSet("<p>Advertisers place cookies on our pages. " +
      "These cookies collect your device identifier.</p>")
    assert(instr.contains(("advertiser", "COLLECT", "device identifier")))
    // neither-nor chain negates every conjunct; an interposed exceptive
    // carves its conjunct back in
    val nn = tupleSet("<p>We log neither your religion nor your marital status.</p>")
      .filterNot(_._2.startsWith("NOT_"))
    assert(!nn.exists(t => t._3 == "religion" || t._3 == "marital status"))
    val carve = tupleSet("<p>We log neither your religion nor, except for billing, " +
      "your postal address.</p>").filterNot(_._2.startsWith("NOT_"))
    assert(carve.exists(t => t._3 == "postal address"))
    assert(!carve.exists(t => t._3 == "religion"))
    // definition verb: '"X" means Y including Z' subsumes — collecting the
    // defined term reaches the examples through the closure
    val defn = tupleSet("<p>\"Usage Data\" means information about how you " +
      "use the service, including the pages you view. " +
      "We collect Usage Data automatically.</p>")
    assert(defn.exists(t => t._3 == "usage information"))
    assert(defn.exists(t => t._3 == "browsing / search history"))
    // interposed parenthetical PP after 'including'
    val inc = tupleSet("<p>We retain records of the transactions you complete " +
      "(including, for card payments, the last four digits of the card number).</p>")
    assert(inc.exists(t => t._3 == "purchase history"))
    assert(inc.exists(t => t._3 == "credit / debit card number"))
  }

  test("round-4 kernel mechanisms: distractor families stay silent") {
    def positives(html: String) =
      tupleSet(html).filterNot(_._2.startsWith("NOT_"))
    // discontinued practice (no-longer + do-so ellipsis)
    assert(positives("<p>We formerly collected your browsing history, " +
      "but we no longer do so.</p>").isEmpty)
    // prohibition on partners
    assert(positives("<p>Our vendors are prohibited from collecting your " +
      "health information.</p>").isEmpty)
    // user-to-user visibility: the only collecting subject is the user
    // class, which KgApi.partyTuples / Holdout.predict exclude like "you"
    assert(positives("<p>Other members can see your profile picture.</p>")
      .forall(t => t._1 == "user" || t._2 == "SUBSUM"))
    // exclusively on-device processing
    assert(positives("<p>Your fingerprint is processed solely on your device.</p>")
      .isEmpty)
  }

  test("round-4 kernel mechanisms: retention and transmission idioms") {
    // as-do ellipsis repeats the predicate with a new subject
    val asDo = tupleSet("<p>We retain your phone number, as do our subsidiaries.</p>")
    assert(asDo.contains(("we", "STORE", "phone number")))
    assert(asDo.contains(("business partner", "STORE", "phone number")))
    // container of a data anaphor
    assert(tupleSet("<p>We collect your email address. We keep a hashed " +
      "version of it.</p>").exists(t => t._2 == "STORE" && t._3 == "email address"))
    // persist = retention; containing = container subsumption
    assert(tupleSet("<p>Backups containing your purchase history persist " +
      "for one year.</p>").exists(t => t._1 == "we" && t._3 == "purchase history"))
    // leaves-your-device transmission
    assert(tupleSet("<p>With telemetry enabled, crash dumps leave your device.</p>")
      .contains(("we", "COLLECT", "crash / log data")))
    // streams-to transmission names only the recipient side
    val stream = tupleSet("<p>Session logs stream to our analytics vendor.</p>")
    assert(stream.exists(t => t._2 == "BE_SHARED" && t._3 == "usage information"))
    // recorded-media composition: calls + record = audio recording
    assert(tupleSet("<p>Calls to our support line may be recorded.</p>")
      .exists(t => t._1 == "we" && t._3 == "audio recording"))
  }

  test("round-4 kernel mechanisms: batch-6 constructions (fresh variants)") {
    // right-node raising
    val rnr = tupleSet("<p>We collect, and our service providers receive, your postal code.</p>")
    assert(rnr.contains(("we", "COLLECT", "postal address")))
    assert(rnr.exists(t => t._1 == "service provider" && t._3 == "postal address"))
    // get-passive share
    assert(tupleSet("<p>Your voiceprint may get shared with insurers.</p>")
      .exists(t => t._2 == "BE_SHARED" && t._3 == "voiceprint"))
    // comparative bound is not negation; cue appositive extends objects
    assert(tupleSet("<p>We keep no more information than necessary, " +
      "typically your email address.</p>")
      .contains(("we", "STORE", "email address")))
    // light verb
    assert(tupleSet("<p>We take a scan of your driver's license.</p>")
      .exists(t => t._1 == "we" && t._3 == "driver's license number"))
    // practice retraction
    assert(!tupleSet("<p>We shared usage data with data brokers. " +
      "That practice ceased in 2020.</p>")
      .exists(t => !t._2.startsWith("NOT_") && t._2 != "SUBSUM"))
    // in-clause excluding negates the excluded NP only
    val excl = tupleSet("<p>A log of sign-ins, excluding your password, is retained.</p>")
      .filterNot(_._2.startsWith("NOT_"))
    assert(excl.exists(t => t._3 == "usage information"))
    assert(!excl.exists(t => t._3 == "account credential"))
    // copular restrictor
    val lim = tupleSet("<p>The data our hosting provider receives is limited to your zip code.</p>")
    assert(lim.exists(t => t._1 == "service provider" && t._3 == "postal address"))
    // gapped purpose-infinitive clause inherits subject and verb
    val gap2 = tupleSet("<p>To greet you, we request your first name; " +
      "to verify you, your passport.</p>")
    assert(gap2.exists(t => t._1 == "we" && t._3 == "person name"))
    assert(gap2.exists(t => t._1 == "we" && t._3 == "passport number"))
  }

  test("round-3 kernel mechanisms: negation scopes") {
    def positives(html: String) =
      tupleSet(html).filterNot(_._2.startsWith("NOT_"))
    // determiner "no"
    assert(positives("<p>No personal information is collected by us.</p>").isEmpty)
    // neither ... nor (NOT_COLLECT rows are correct output; no positives)
    val nn = tupleSet("<p>Neither we nor our affiliates collect your SSN.</p>")
    assert(nn.filterNot(_._2.startsWith("NOT_")).isEmpty)
    assert(nn.contains(("we", "NOT_COLLECT", "ssn")))
    // negation chains across the whole conj verb group
    assert(positives("<p>We never sell, rent, or lease your contact list to anyone.</p>").isEmpty)
    // "locally" suppresses the implicit first party
    assert(positives("<p>Your photos are stored locally.</p>").isEmpty)
  }

  test("round-3 kernel mechanisms: implicit first party") {
    // agentless passive
    assert(tupleSet("<p>Your precise geolocation is collected while the app runs.</p>")
      .contains(("we", "COLLECT", "precise geolocation")))
    // consent nominalization
    assert(tupleSet("<p>You consent to the collection of your health data.</p>")
      .contains(("we", "COLLECT", "health information")))
    // "you provide X" with no recipient
    assert(tupleSet("<p>You must provide your full name.</p>")
      .contains(("we", "BE_SHARED", "person name")))
  }

  test("round-3 kernel mechanisms: clause boundaries and participles") {
    // fronted infinitive object must not leak into the matrix clause
    val fronted = tupleSet("<p>To create a profile, you must provide your email address.</p>")
    assert(fronted.contains(("we", "BE_SHARED", "email address")))
    assert(!fronted.exists(_._1 == "profile"))
    // fronted aux-conditional is not a question
    assert(tupleSet("<p>Should you participate, we might ask about your income.</p>")
      .contains(("we", "COLLECT", "income")))
    // dictionary-entity participle keeps its verb reading
    assert(tupleSet("<p>Your voice may be recorded.</p>")
      .exists(t => t._1 == "we" && t._3 == "audio recording"))
    // unknown participle after aux still forms the passive verb group
    assert(tupleSet("<p>Your voiceprint is created and stored on our servers.</p>")
      .exists(t => t._1 == "we" && t._3 == "voiceprint"))
  }

  test("round-3 kernel mechanisms: containers, about-PPs, from-datatypes") {
    // generic container of-splice
    assert(tupleSet("<p>We retain a copy of your passport.</p>")
      .contains(("we", "STORE", "passport number")))
    // "information about X" subsumption
    assert(tupleSet("<p>We may collect certain information about your device, " +
      "including your IP address.</p>")
      .contains(("we", "COLLECT", "ip address")))
    // DATA-typed from-phrase emits USE
    val inferred = tupleSet("<p>We infer your coarse geolocation from your IP address.</p>")
    assert(inferred.contains(("we", "COLLECT", "coarse geolocation")))
    assert(inferred.contains(("we", "USE", "ip address")))
  }

  test("PSL registered domain handles multi-label suffixes (F7)") {
    import graft.kg.Ontology
    assert(Ontology.registeredDomain("www.bbc.co.uk") == "bbc.co.uk")
    assert(Ontology.registeredDomain("metrics.google.co.uk") == "google.co.uk")
    assert(Ontology.registeredDomain("a.b.example.com") == "example.com")
    assert(Ontology.registeredDomain("example.com") == "example.com")
    assert(Ontology.registeredDomain("sub.domain.com.au") == "domain.com.au")
    assert(Ontology.registeredDomain("localhost") == "localhost")
    // degenerate dot placement drops the empty labels
    assert(Seq("foo.com.", ".foo.com", "foo..com").map(Ontology.registeredDomain) ==
      Seq("foo.com", "foo.com", "foo.com"))
    assert(Ontology.registeredDomain("www.bbc.co.uk.") == "bbc.co.uk")
  }

  test("recursive-CTE who_collect equals the materialized closure (Catalyst fixpoint demo)") {
    // The production SQL surface reads the closure stage table; this pins
    // that a recursive CTE over raw triples computes the same answer. The
    // depth bound is the cycle guard (round-2 ADVICE): extracted triples
    // from noisy real text could contain a SUBSUM cycle, and UNION ALL
    // recursion without a visited set would otherwise never terminate.
    val spark = SparkTestSession.spark
    val triples = graft.kg.KgQueries.sharedTriples(spark)
    triples.toDF().createOrReplaceTempView("cte_triples")
    val cte = spark.sql("""
      WITH RECURSIVE pos_edges AS (
        SELECT DISTINCT url,
          CASE WHEN pred = 'SUBSUM' AND subjType = 'ACTOR' THEN obj ELSE subj END AS src,
          CASE WHEN pred = 'SUBSUM' AND subjType = 'ACTOR' THEN objType ELSE subjType END AS src_type,
          CASE WHEN pred = 'SUBSUM' AND subjType = 'ACTOR' THEN subj ELSE obj END AS dst
        FROM cte_triples WHERE pred NOT LIKE 'NOT!_%' ESCAPE '!'
      ),
      anc (url, node, node_type, depth) AS (
        SELECT url, src, src_type, 1 FROM pos_edges WHERE dst = 'email address'
        UNION ALL
        SELECT e.url, e.src, e.src_type, a.depth + 1
        FROM pos_edges e JOIN anc a ON e.url = a.url AND e.dst = a.node
        WHERE a.depth < 20
      )
      SELECT DISTINCT url, node AS actor FROM anc WHERE node_type = 'ACTOR'""")
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    val closure = KgApi.whoCollectFromClosure(
        graft.kg.KgQueries.sharedClosure(spark), "email address")
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(cte.nonEmpty)
    assert(cte == closure)
  }
}
