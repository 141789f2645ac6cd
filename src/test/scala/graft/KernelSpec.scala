package graft

import org.apache.xbean.asm9.ClassReader
import org.scalatest.funsuite.AnyFunSuite

import graft.gen.CorpusGen
import graft.kg.{DocKernel, GraphBuilder}
import graft.text.{HtmlSegmenter, TextClean}

/** Per-document kernel tests: the smoke page (FIXTURES.md §6), semantic
  * corner cases, and corpus-level P/R = 1.0 against construction truth. */
class KernelSpec extends AnyFunSuite {

  private def triples(html: String): Set[(String, String, String)] =
    DocKernel.process("t", HtmlSegmenter.segment("t", html))
      .map(t => (t.subj, t.pred, t.obj)).toSet

  /** Bytecode length of each method (`name + descriptor`), read from its
    * Code attribute: the walk starts past the constant pool
    * (`ClassReader.header`) and steps over interfaces, fields and methods. */
  private def codeSizes(cls: Class[_]): Map[String, Int] = {
    val in = cls.getResourceAsStream("/" + cls.getName.replace('.', '/') + ".class")
    val cr = try new ClassReader(in) finally in.close()
    val buf = new Array[Char](cr.getMaxStringLength)
    var off = cr.header + 6
    off += 2 + 2 * cr.readUnsignedShort(off) // interfaces
    val sizes = Map.newBuilder[String, Int]
    for (isMethod <- Seq(false, true)) {
      val n = cr.readUnsignedShort(off); off += 2
      for (_ <- 0 until n) {
        val name = cr.readUTF8(off + 2, buf) + cr.readUTF8(off + 4, buf)
        val attrs = cr.readUnsignedShort(off + 6); off += 8
        for (_ <- 0 until attrs) {
          // Code: name u2, length u4, max_stack u2, max_locals u2, code_length u4
          if (isMethod && cr.readUTF8(off, buf) == "Code") sizes += name -> cr.readInt(off + 10)
          off += 6 + cr.readInt(off + 2)
        }
      }
    }
    sizes.result()
  }

  test("smoke page emits the expected triples") {
    val got = triples(
      """<h1>Privacy Policy</h1>
        <p>We collect email addresses.</p>
        <p>We use the data for analytics purposes.</p>""")
    assert(got.contains(("we", "COLLECT", "email address")))
    assert(got.contains(("we", "USE", "UNSPECIFIED_DATA")))
  }

  test("negation → NOT_ edges; share → BE_SHARED + COLLECT") {
    val got = triples("<p>We do not sell personal information to third parties.</p>" +
      "<p>We may share your location with advertisers.</p>")
    assert(got == Set(
      ("third party", "NOT_BE_SOLD", "personal information"),
      ("advertiser", "BE_SHARED", "geolocation"),
      ("we", "COLLECT", "geolocation")))
  }

  test("subsumption via such-as; UNSPECIFIED category is eliminated in lists") {
    val got = triples("<p>We collect personal information, such as your email address and IP address.</p>")
    assert(got == Set(
      ("we", "COLLECT", "personal information"),
      ("personal information", "SUBSUM", "email address"),
      ("personal information", "SUBSUM", "ip address")))
    val list = triples(
      """<p>We collect the following information:</p>
         <ul><li>Email address</li><li>Phone number</li></ul>""")
    assert(list == Set(
      ("we", "COLLECT", "email address"),
      ("we", "COLLECT", "phone number")))
  }

  test("passive voice resolves the agent") {
    // the named recipient takes the BE_SHARED edge; the unnamed sharer is
    // the first party, which evidently holds the data (recall extension —
    // the reference drops the collect edge when no subject is captured)
    val got = triples("<p>Your browsing history may be shared with analytics providers.</p>")
    assert(got == Set(
      ("analytic provider", "BE_SHARED", "browsing / search history"),
      ("we", "COLLECT", "browsing / search history")))
  }

  test("purpose classification lands on the edge") {
    val ts = DocKernel.process("t", HtmlSegmenter.segment("t",
      "<p>We use your email address for advertising purposes.</p>"))
    val e = ts.find(t => t.pred == "USE").get
    assert(e.purposes.keySet == Set("advertising"))
  }

  test("interrogative sentences are skipped") {
    assert(triples("<p>Do we collect your email address?</p>").isEmpty)
  }

  test("subsumption output stays acyclic (dag guard)") {
    val got = DocKernel.process("t", HtmlSegmenter.segment("t",
      "<p>We collect personal information, such as contact information.</p>" +
        "<p>We collect contact information, such as personal information.</p>"))
    val sub = got.filter(_.pred == "SUBSUM").map(t => t.subj -> t.obj)
    // no 2-cycle survives
    assert(!sub.exists { case (a, b) => sub.contains((b, a)) })
  }

  test("corpus P/R is exactly 1.0 on 500 docs") {
    var tp = 0; var fp = 0; var fn = 0
    CorpusGen.corpus(500).foreach { gp =>
      if (gp.page.lang == "en") {
        val segs = HtmlSegmenter.segment(gp.page.url, new String(gp.page.html, "UTF-8"))
        val got = DocKernel.process(gp.page.url, segs).map(t => (t.subj, t.pred, t.obj)).toSet
        val want = gp.truth.map(t => (t.subj, t.pred, t.obj)).toSet
        tp += got.intersect(want).size; fp += (got -- want).size; fn += (want -- got).size
      }
    }
    assert(fp == 0, s"false positives: $fp")
    assert(fn == 0, s"false negatives: $fn")
    assert(tp > 1000)
  }

  test("round-3-close mechanisms hold on fresh variants") {
    // fronted negative inversion
    assert(triples("<p>Under no circumstances will we share your phone number with advertisers.</p>") ==
      Set(("advertiser", "NOT_BE_SHARED", "phone number")))
    // it-cleft
    assert(triples("<p>It is your device identifier that our servers log.</p>") ==
      Set(("we", "STORE", "device identifier")))
    // action nominalization
    assert(triples("<p>Our use of your email address is limited to receipts.</p>") ==
      Set(("we", "USE", "email address")))
    // fronted exceptive over a negated clause
    val ex = triples("<p>Except for your email address, we never collect contact information.</p>")
    assert(ex.contains(("we", "COLLECT", "email address")))
    assert(ex.contains(("we", "NOT_COLLECT", "contact information")))
    // temporal gerund takes the matrix subject
    assert(triples("<p>We obtain consent before collecting your geolocation.</p>") ==
      Set(("we", "COLLECT", "geolocation")))
    // without-gerund is negative
    assert(triples("<p>We operate the service without storing your precise location.</p>") ==
      Set(("we", "NOT_STORE", "precise geolocation")))
    // question-answer fragment
    assert(triples("<p>What information do we collect? Your age and your gender.</p>") ==
      Set(("we", "COLLECT", "age"), ("we", "COLLECT", "gender")))
    // passive deletion discloses prior storage; active erase-right does not
    assert(triples("<p>Your voice recordings are deleted after ninety days.</p>") ==
      Set(("we", "STORE", "voiceprint")))
    assert(triples("<p>You can ask us to erase your photos.</p>") == Set.empty)
    // xcomp-anchored use
    assert(triples("<p>The app requests permission to access your photos.</p>") ==
      Set(("we", "USE", "photo / video")))
    // fronted additive PP joins the object list
    val add = triples("<p>In addition to your email address, we collect your phone number.</p>")
    assert(add == Set(("we", "COLLECT", "email address"), ("we", "COLLECT", "phone number")))
  }

  test("generalizes to naturalistic, untemplated policy sentences") {
    // none of these shapes appear in the corpus generator. The comma-bound
    // "such as" exemplifier joins the subject group, so both the category
    // and the named member carry the collect edge (tuple-equivalent to the
    // reference's E1=category capture + SUBSUM closure)
    val g1 = triples("<p>Advertising partners, such as Google, may receive your browsing history.</p>")
    assert(g1 == Set(
      ("advertiser", "COLLECT", "browsing / search history"),
      ("google", "COLLECT", "browsing / search history")))

    val g2 = triples("<p>Information we collect includes your IP address, device identifiers, and cookies.</p>")
    assert(g2 == Set(
      ("we", "COLLECT", "ip address"),
      ("we", "COLLECT", "device identifier"),
      ("we", "COLLECT", "cookie / pixel tag")))

    val g3 = triples("<p>Personal data, including your name, email address, and phone number, may be transferred to our affiliates.</p>")
    assert(g3.contains(("business partner", "BE_SHARED", "email address")))
    assert(g3.contains(("business partner", "BE_SHARED", "person name")))
    assert(g3.contains(("business partner", "BE_SHARED", "phone number")))

    val g4 = triples("<p>We will never share your precise location with third parties without your consent.</p>")
    assert(g4 == Set(("third party", "NOT_BE_SHARED", "precise geolocation")))

    val g5 = triples("<p>Like many websites, we and our partners use cookies to collect usage data.</p>")
    assert(g5.contains(("we", "COLLECT", "usage information")))
    assert(g5.contains(("business partner", "COLLECT", "usage information")))
  }

  test("per_sentence / per_section variants keep triples but split nodes") {
    val html = "<h2>Data</h2><p>We collect your email address.</p>" +
      "<p>We collect your email address.</p><p>We do not sell cookies to advertisers.</p>"
    val segs = HtmlSegmenter.segment("v", html)
    val ext = DocKernel.process("v", segs, "extended")
    val ps = DocKernel.process("v", segs, "per_sentence")
    val pc = DocKernel.process("v", segs, "per_section")
    // per_sentence: the two identical statements stay separate nodes
    assert(ps.count(_.pred == "COLLECT") == 2)
    assert(ext.count(_.pred == "COLLECT") == 1)
    // negatives dropped in non-extended variants
    assert(ps.forall(!_.pred.startsWith("NOT_")))
    assert(ext.exists(_.pred == "NOT_BE_SOLD"))
    // stripping the node suffix recovers the extended terms
    val strip = (s: String) => s.replaceAll(" \\(\\d+, \\d+\\)$", "")
    assert(ps.map(t => (strip(t.subj), strip(t.obj))).toSet ==
      Set(("we", "email address")))
    assert(pc.nonEmpty)
  }

  test("substring dedup keeps longest, preserves order") {
    assert(GraphBuilder.dedupBySubstring(Vector("a b", "a b c", "x")) == Vector("a b c", "x"))
  }

  test("prohibit-class verbs negate a direct gerund object (no 'from')") {
    // round-4 ADVICE medium: these previously inverted into positives
    val got = triples("<p>Our policy prohibits sharing your email address with advertisers.</p>" +
      "<p>We forbid collecting your health records.</p>")
    assert(!got.exists(t => !t._2.startsWith("NOT_")),
      s"prohibited practices must not assert positives: $got")
    assert(got.contains(("advertiser", "NOT_BE_SHARED", "email address")))
    assert(got.contains(("we", "NOT_COLLECT", "health information")))
  }

  test("'selling' lemmatizes to sell — progressive sale statements match") {
    // round-4 ADVICE low: -ing de-doubling lacked the ll/ss guard
    val got = triples("<p>We are selling your purchase history to partners.</p>")
    assert(got.contains(("business partner", "BE_SOLD", "purchase history")))
  }

  test("single colon-category prose line after an intro is NOT a list") {
    // round-4 ADVICE low: one matching line used to convert to LISTITEM
    val segs = HtmlSegmenter.segment("t",
      "<p>We collect the following information:</p>" +
        "<p>Note: we may update this policy.</p>")
    assert(!segs.exists(_.segType == "LISTITEM"),
      s"prose line restructured into a one-item list: $segs")
  }

  test("round-5 kernel mechanisms: figurative ingress/retention/possession (fresh variants)") {
    // ingress verb class: datum-subject motion into the operator's store
    val ing = triples("<p>Your device identifier reaches our servers with each request.</p>")
    assert(ing.exists(t => t._1 == "we" && !t._2.startsWith("NOT_") && t._3 == "device identifier"), s"$ing")
    // retention class: linger/survive join stay/remain
    val ret = triples("<p>Crash logs linger in our archive for a year.</p>")
    assert(ret.exists(t => t._1 == "we" && t._3 == "crash / log data"), s"$ret")
    // possession presupposition: treat X as <adj>
    val tr = triples("<p>We treat your voiceprint as sensitive.</p>")
    assert(tr.exists(t => t._1 == "we" && t._3 == "voiceprint"), s"$tr")
    // find-its-way idiom
    val fw = triples("<p>Your email address finds its way into our database.</p>")
    assert(fw.exists(t => t._1 == "we" && t._3 == "email address"), s"$fw")
    // verbless-sentence -s restore + run-against
    val ra = triples("<p>Face-matching runs against your profile picture.</p>")
    assert(ra.exists(t => t._3 == "photo / video"), s"$ra")
    assert(ra.exists(t => t._3 == "biometric information"), s"$ra")
  }

  test("round-5 kernel mechanisms: parentheticals, ellipsis, accompaniment (fresh variants)") {
    // ", never NP," negative appositive: excluded NP silent, subject kept
    val na = triples("<p>Your gender, never your legal name, informs our recommendations.</p>")
    assert(na.exists(t => t._1 == "we" && !t._2.startsWith("NOT_") && t._3 == "gender"), s"$na")
    assert(!na.exists(t => !t._2.startsWith("NOT_") && t._3 == "person name"), s"$na")
    // aux + ", however," + verb stays one verb group
    val de = triples("<p>Our staff do, however, review your voice recordings.</p>")
    assert(de.exists(t => t._1 == "we" && t._3 == "voiceprint"), s"$de")
    // comma-free accompaniment joins the object group
    val ac = triples("<p>Couriers transmit the outcome together with your postal code.</p>")
    assert(ac.exists(t => t._3 == "postal address"), s"$ac")
    // in-sentence practice retraction stays silent
    val rt = triples("<p>We retained chat backups indefinitely - a practice since discontinued.</p>")
    assert(!rt.exists(t => !t._2.startsWith("NOT_")), s"$rt")
  }

  test("round-5 distractors: idiom verb classes stay silent without a store") {
    // ingress/egress verbs without the figurative-store shape assert nothing
    val ends = triples("<p>Your session ends in 30 minutes.</p>")
    assert(!ends.exists(t => !t._2.startsWith("NOT_")), s"$ends")
    val leave = triples("<p>You may leave our service at any time.</p>" +
      "<p>Cookies expire and leave your browser.</p>")
    assert(!leave.exists(t => !t._2.startsWith("NOT_")), s"$leave")
    // egress presupposition survives negation: never-leaves-OUR-store is
    // retention, never-leaves-YOUR-device stays a negative transmission
    val ours = triples("<p>Your purchase history never leaves our servers.</p>")
    assert(ours.exists(t => t._1 == "we" && !t._2.startsWith("NOT_") &&
      t._3 == "purchase history"), s"$ours")
    val device = triples("<p>Your fingerprint never leaves your device.</p>")
    assert(!device.exists(t => !t._2.startsWith("NOT_")), s"$device")
  }

  test("batch-13 kernel mechanisms (fresh variants)") {
    // wind/end-up-participle raising passive
    val wu = triples("<p>Your crash dumps wind up filed away in our diagnostics pool.</p>")
    assert(wu.exists(t => t._1 == "we" && !t._2.startsWith("NOT_") &&
      t._3 == "crash / log data"), s"$wu")
    // existential double negation quantifies universally
    val ex = triples("<p>There isn't a search query our audit log doesn't capture.</p>")
    assert(ex.exists(t => t._1 == "we" && !t._2.startsWith("NOT_") &&
      t._3 == "browsing / search history"), s"$ex")
    // device-subject capture free relative: overhearing captures audio
    val oh = triples("<p>Whatever the kiosk microphone overhears sits in our support vault.</p>")
    assert(oh.exists(t => t._1 == "we" && t._3 == "audio recording"), s"$oh")
    // third-party extraction from an operator store (fish-out-of, dip-into-for)
    val fi = triples("<p>Ad partners fish your browsing trail out of our clickstream lake.</p>")
    assert(fi.exists(t => t._1 == "advertiser" && t._3 == "browsing / search history"), s"$fi")
    val di = triples("<p>Ad networks dip into our bid stream for your device identifiers.</p>")
    assert(di.exists(t => t._1 == "advertiser" && t._3 == "device identifier"), s"$di")
  }

  test("batch-13 distractors stay silent") {
    // wind-up over a non-datum subject
    val wu = triples("<p>Your subscription winds up cancelled at month end.</p>")
    assert(!wu.exists(t => !t._2.startsWith("NOT_")), s"$wu")
    // existential double negation without a datum pivot
    val ex = triples("<p>There isn't a fee our plan doesn't cover.</p>")
    assert(!ex.exists(t => !t._2.startsWith("NOT_")), s"$ex")
    // negated overhearing asserts nothing
    val oh = triples("<p>The microphone never overhears your conversations.</p>")
    assert(!oh.exists(t => !t._2.startsWith("NOT_")), s"$oh")
    // dip without a store or datum PP
    val di = triples("<p>Our prices dip into the holiday season.</p>")
    assert(!di.exists(t => !t._2.startsWith("NOT_")), s"$di")
  }

  test("batch-14 kernel mechanisms (fresh variants)") {
    // figurative ingestion with an instrument subject
    val dv = triples("<p>Our churn model devours your dwell times.</p>")
    assert(dv.exists(t => t._1 == "we" && t._3 == "usage information"), s"$dv")
    // get-passive + particle ingestion
    val mo = triples("<p>Location pings get mopped up by our route planner.</p>")
    assert(mo.exists(t => t._1 == "we" && t._3 == "geolocation"), s"$mo")
    // conduit verbs (instrument subject: recipient row only)
    val fr = triples("<p>Our export job freights order histories to the tax office.</p>")
    assert(fr.exists(t => t._1 == "government" && t._2 == "BE_SHARED" &&
      t._3 == "purchase history"), s"$fr")
    // negated evasion asserts capture (never-inversion + slip-past)
    val sp = triples("<p>Never does a failed login slip past our audit sentry.</p>")
    assert(sp.exists(t => t._1 == "we" && !t._2.startsWith("NOT_") &&
      t._3 == "usage information"), s"$sp")
    val esc = triples("<p>Never does a search query escape our audit trail.</p>")
    assert(esc.exists(t => t._1 == "we" && !t._2.startsWith("NOT_") &&
      t._3 == "browsing / search history"), s"$esc")
    // but-for counterfactual: retention presupposed, the protector NP is
    // NOT a datum
    val bf = triples("<p>But for the income check, your postal code would have faded from our shipping rolls.</p>")
    assert(bf.exists(t => t._1 == "we" && t._3 == "postal address"), s"$bf")
    assert(!bf.exists(t => t._3 == "income"), s"protector NP read as datum: $bf")
    // temporal subordinate clause gets its own subject
    val bc = triples("<p>Rarely does a visit end before our tracker pockets the dwell time.</p>")
    assert(bc.exists(t => t._1 == "we" && !t._2.startsWith("NOT_") &&
      t._3 == "usage information"), s"$bc")
    // third-party extraction from operator stores (raid-for, make-off-with,
    // help-themselves — the reflexive lemma fix)
    val rd = triples("<p>Insurance partners raid our claims cabinet for your claim photos.</p>")
    assert(rd.exists(t => t._1 == "business partner" && t._3 == "photo / video"), s"$rd")
    val mw = triples("<p>Data brokers make off with location pings from our telemetry lake.</p>")
    assert(mw.exists(t => t._1 == "third party" && t._3 == "geolocation"), s"$mw")
    val ht = triples("<p>Ad partners help themselves to the loyalty tiers in our perks engine.</p>")
    assert(ht.exists(t => t._1 == "advertiser" && t._3 == "interest / preference"), s"$ht")
  }

  test("batch-14 polarity distractors") {
    // never-inversion is a TRUE negation on ordinary verbs
    val ns = triples("<p>Never do we sell your contact list.</p>")
    assert(!ns.exists(t => !t._2.startsWith("NOT_")), s"$ns")
    // seldom/rarely assert the practice still occurs (h610 convention)
    val sr = triples("<p>Seldom do we review your voice recordings.</p>")
    assert(sr.exists(t => t._1 == "we" && !t._2.startsWith("NOT_") &&
      t._3 == "voiceprint"), s"$sr")
    // make-X-with without an operator-store source stays silent
    val mk = triples("<p>We make recommendations with care.</p>")
    assert(!mk.exists(t => !t._2.startsWith("NOT_")), s"$mk")
  }

  test("batch-15 kernel mechanisms (fresh variants)") {
    // middle-voice reflexive rewrites to the passive shape
    val mr = triples("<p>Crash dumps archive themselves in our diagnostics pool.</p>")
    assert(mr.exists(t => t._1 == "we" && t._3 == "crash / log data"), s"$mr")
    // locative inversion: post-verbal NP is the subject
    val li = triples("<p>Into our booking ledger tumble the street names of every stop.</p>")
    assert(li.exists(t => t._1 == "we" && t._3 == "postal address"), s"$li")
    // comparative correlative: OSV clause, fronted object
    val cc = triples("<p>The more you shop, the more order totals our till book hoards.</p>")
    assert(cc.exists(t => t._1 == "we" && t._3 == "purchase history"), s"$cc")
    // reversed pseudo-cleft with partitive of-chain
    val pc = triples("<p>A copy of your voiceprint is what our enrollment desk carries home.</p>")
    assert(pc.exists(t => t._1 == "we" && t._3 == "voiceprint"), s"$pc")
    // negative-morphology double negation reads positive
    val un = triples("<p>Not a single chat thread goes unarchived on our side.</p>")
    assert(un.exists(t => t._1 == "we" && !t._2.startsWith("NOT_") &&
      t._3 == "phone number"), s"$un")
    // store-subject accumulation (swell/balloon + with-PP)
    val sw = triples("<p>Our consent ledger swells with birth dates each signup.</p>")
    assert(sw.exists(t => t._1 == "we" && t._3 == "date of birth"), s"$sw")
  }

  test("batch-15 distractors stay silent") {
    // middle reflexive over a non-datum subject
    val mr = triples("<p>The issue resolves itself over time.</p>")
    assert(!mr.exists(t => !t._2.startsWith("NOT_")), s"$mr")
    // un-participle whose inner verb is not a practice verb
    val un = triples("<p>No request goes unanswered by our support team.</p>")
    assert(!un.exists(t => !t._2.startsWith("NOT_")), s"$un")
    // help-themselves-to keeps the acquisition reading (not middle voice)
    val ht = triples("<p>Ad partners help themselves to the loyalty tiers in our perks engine.</p>")
    assert(ht.exists(t => t._1 == "advertiser" && t._3 == "interest / preference"), s"$ht")
  }

  test("batch-16 kernel mechanisms (fresh variants)") {
    // right-dislocation: the clause-final NP is the pronominal subject
    val rd = triples("<p>They linger in our archive, those support calls.</p>")
    assert(rd.exists(t => t._1 == "we" && t._3 == "audio recording"), s"$rd")
    // floated quantifier keeps the passive reading
    val fq = triples("<p>Your location pings are all filed away in our route book.</p>")
    assert(fq.exists(t => t._1 == "we" && t._3 == "geolocation"), s"$fq")
    // equative over a sheltered relcl gap
    val eq = triples("<p>Among the things our ledger shelters are your birth dates.</p>")
    assert(eq.exists(t => t._1 == "we" && t._3 == "date of birth"), s"$eq")
    // comma-bounded participial parenthetical is subject-transparent
    val pp = triples("<p>Your income details, once submitted, sit in our payroll vault.</p>")
    assert(pp.exists(t => t._1 == "we" && t._3 == "income"), s"$pp")
    // negative minimizer + dodge evasion reads positive
    val nm = triples("<p>Not a single checkout dodges our billing sweep.</p>")
    assert(nm.exists(t => t._1 == "we" && !t._2.startsWith("NOT_") &&
      t._3 == "purchase history"), s"$nm")
    // plunder / rifle-through extraction from operator stores
    val pl = triples("<p>Data resellers plunder our subscriber rolls for phone numbers.</p>")
    assert(pl.exists(t => t._1 == "third party" && t._3 == "phone number"), s"$pl")
    val rf = triples("<p>Insurers rifle through our claims cabinet for health records.</p>")
    assert(rf.exists(t => t._1 == "third party" && t._3 == "health information"), s"$rf")
  }

  test("batch-16 distractors stay silent") {
    // floated quantifier over a non-datum subject
    val fq = triples("<p>Our plans are all squared away for launch.</p>")
    assert(!fq.exists(t => !t._2.startsWith("NOT_")), s"$fq")
    // right-dislocation over a non-datum NP
    val rd = triples("<p>They arrive on time, those couriers.</p>")
    assert(!rd.exists(t => !t._2.startsWith("NOT_")), s"$rd")
  }

  test("batch-17 kernel mechanisms (fresh variants)") {
    // presentational there-inversion with a partitive of-chain subject
    val th = triples("<p>There sits, in our billing loft, a ledger of your card numbers.</p>")
    assert(th.exists(t => t._1 == "we" && t._3 == "credit / debit card number"), s"$th")
    // recipient-subject passive ditransitive carries BOTH rows
    val rs = triples("<p>The courier network is handed copies of home addresses each morning.</p>")
    assert(rs.exists(t => t._1 == "third party" && t._2 == "BE_SHARED" &&
      t._3 == "postal address"), s"$rs")
    assert(rs.exists(t => t._1 == "we" && t._3 == "postal address"), s"$rs")
    // no-matter fronted adjunct is a condition, not a practice
    val nm = triples("<p>No matter how you pay, the order total is chronicled in our sales folio.</p>")
    assert(nm.exists(t => t._1 == "we" && t._3 == "purchase history"), s"$nm")
    // find + light noun (shelter/refuge/berth) is ingress
    val fs = triples("<p>Your search terms find shelter in our query vault.</p>")
    assert(fs.exists(t => t._1 == "we" && t._3 == "browsing / search history"), s"$fs")
    // by-instrument agent whose DATA ner is modifier-promoted stays
    // operator machinery
    val bi = triples("<p>Location pings are netted by our route profiler at dusk.</p>")
    assert(bi.exists(t => t._1 == "we" && t._3 == "geolocation"), s"$bi")
    // negated surrender from an operator store is retention
    val sr = triples("<p>Our billing vault never surrenders your card numbers.</p>")
    assert(sr.exists(t => t._1 == "we" && !t._2.startsWith("NOT_") &&
      t._3 == "credit / debit card number"), s"$sr")
  }

  test("batch-17 distractors stay silent") {
    val nm = triples("<p>No matter the outcome, we respect your choices.</p>")
    assert(!nm.exists(t => !t._2.startsWith("NOT_")), s"$nm")
    // recipient-subject passive requires a transfer verb
    val rm = triples("<p>The tax office is reminded of deadlines each quarter.</p>")
    assert(!rm.exists(t => !t._2.startsWith("NOT_")), s"$rm")
  }

  test("batch-18 kernel mechanisms (fresh variants)") {
    // not-only-does inversion + anaphoric it-subject across the comma
    val no = triples("<p>Not only does our intake log capture dwell times, it also files failed sign-ins.</p>")
    assert(no.exists(t => t._1 == "we" && t._3 == "usage information"), s"$no")
    // pseudo-partitive subject resolves through the of-chain
    val pp = triples("<p>A parade of crash dumps pours into our diagnostics trough.</p>")
    assert(pp.exists(t => t._1 == "we" && t._3 == "crash / log data"), s"$pp")
    // embedded how-clause keeps its clause-final predicate
    val hc = triples("<p>Little does anyone suspect how quickly their search terms nestle in our query vault.</p>")
    assert(hc.exists(t => t._1 == "we" && t._3 == "browsing / search history"), s"$hc")
    // adjective fronting + relcl evasion reads positive
    val rb = triples("<p>Rare is the checkout that bypasses our billing sweep.</p>")
    assert(rb.exists(t => t._1 == "we" && !t._2.startsWith("NOT_") &&
      t._3 == "purchase history"), s"$rb")
    // -eed words are not past forms: "typing speed" canonicalizes
    val ts = triples("<p>Your typing speed is chronicled in our behavior folio.</p>")
    assert(ts.exists(t => t._1 == "we" && t._3 == "biometric information"), s"$ts")
  }

  test("batch-18 distractors stay silent") {
    val no = triples("<p>Not only do we value feedback, we read every note.</p>")
    assert(!no.exists(t => !t._2.startsWith("NOT_")), s"$no")
    val it = triples("<p>It rains on our parade.</p>")
    assert(!it.exists(t => !t._2.startsWith("NOT_")), s"$it")
  }

  test("batch-19 kernel mechanisms (fresh variants)") {
    // such-inversion result clause re-roots and keeps its passive
    val su = triples("<p>Such is our love of telemetry that every location ping is logged.</p>")
    assert(su.exists(t => t._1 == "we" && t._3 == "geolocation"), s"$su")
    // tough-movement: the matrix subject is the infinitive's object
    val tm = triples("<p>Your birth date is easy for our billing desk to look up in the signup roll.</p>")
    assert(tm.exists(t => t._1 == "we" && t._3 == "date of birth"), s"$tm")
    // wh-ever concessive neutralized; motion verbs survive the
    // plural-misread demotion before a locative in-PP
    val hw = triples("<p>However you browse, the search terms settle in our query lake.</p>")
    assert(hw.exists(t => t._1 == "we" && t._3 == "browsing / search history"), s"$hw")
    // fronted partitive numeral subject
    val pn = triples("<p>Of every ten voicemails, nine end up in our coaching drawer.</p>")
    assert(pn.exists(t => t._1 == "we" && t._3 == "audio recording"), s"$pn")
    // leave-DT-in-store is a deposit, not an egress
    val lv = triples("<p>Every caller leaves a voiceprint in our support ledger.</p>")
    assert(lv.exists(t => t._1 == "we" && t._3 == "voiceprint"), s"$lv")
  }

  test("batch-19 distractors stay silent") {
    val su = triples("<p>Such is life.</p>")
    assert(!su.exists(t => !t._2.startsWith("NOT_")), s"$su")
    // tough-movement over a non-practice infinitive
    val tm = triples("<p>Your account is easy for you to close.</p>")
    assert(!tm.exists(t => !t._2.startsWith("NOT_")), s"$tm")
  }

  test("every RuleNlp method stays small enough for the JIT to compile") {
    // HotSpot never compiles a method over 8,000 bytecode bytes
    // (-XX:+DontCompileHugeMethods, on by default): it stays interpreted
    val HugeMethodLimit = 8000
    val sizes = codeSizes(graft.nlp.RuleNlp.getClass)
    assert(sizes.keys.exists(_.startsWith("tag(")) && sizes.keys.exists(_.startsWith("parseSentence(")),
      s"method table not read: ${sizes.keys.toSeq.sorted.take(5)}")
    val huge = sizes.filter(_._2 > HugeMethodLimit)
    assert(huge.isEmpty, s"over $HugeMethodLimit bytes: $huge")
  }

  test("text cleanup invariants (S5 fixups)") {
    assert(TextClean.fixups("contact us by e-mail or E-mails") == "contact us by email or email")
    assert(TextClean.fixups("wi-fi and geo-location and your id") == "WiFi and geolocation and your ID")
    assert(TextClean.fixups("App(s) and device(s)") == "Apps and devices")
    assert(TextClean.clean("données personnelles") == "donnees personnelles")
    assert(TextClean.clean("个人信息") == "")
  }
}
