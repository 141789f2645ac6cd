package graft.text

import scala.collection.mutable.ArrayBuffer

import graft.kg.Model.Segment

/** HTML → segment-tree extraction (SURVEY.md S4; reference
  * poligrapher/document.py:384-580 works from an accessibility tree — we
  * segment the HTML directly with the same role triage).
  *
  * Produces HEADING / LISTITEM / TEXT segments with heading-stack parenting:
  *   - <h1>-<h6> push/pop a heading stack by level;
  *   - block containers (<p>, <div>, <td>, ...) emit TEXT segments;
  *   - <li> emits a LISTITEM node (no text) whose single TEXT child holds the
  *     item content, parented to the immediately preceding TEXT/HEADING
  *     segment (the list's introduction) — mirroring the reference's segment
  *     shape that the list annotator consumes (list_annotator.py:12-18);
  *   - <script>/<style>/<nav>/<header>/<footer>/... subtrees are dropped
  *     (reference IGNORED_ELEMENTS, document.py:283-381).
  *
  * Pure function per page: called from `mapPartitions`, never a driver loop.
  */
object HtmlSegmenter {

  private val Ignored = Set("script", "style", "nav", "header", "footer",
    "aside", "noscript", "button", "select", "option", "iframe", "svg",
    "form", "input", "img")
  private val HeadingRe = "h([1-6])".r
  private val Block = Set("p", "div", "td", "section", "article", "main",
    "blockquote", "dd", "dt", "figcaption", "caption", "pre")

  private sealed trait Tag
  private final case class Open(name: String) extends Tag
  private final case class Close(name: String) extends Tag
  private final case class Text(s: String) extends Tag

  /** Minimal HTML tokenizer: tags vs text, entity decoding for the common
    * five entities, comments skipped. Tolerates unclosed tags. */
  private def lex(html: String): Vector[Tag] = {
    val out = Vector.newBuilder[Tag]
    var i = 0
    val n = html.length
    val text = new StringBuilder
    def flush(): Unit = if (text.nonEmpty) { out += Text(text.toString); text.clear() }
    while (i < n) {
      val c = html.charAt(i)
      if (c == '<') {
        if (html.startsWith("<!--", i)) {
          val e = html.indexOf("-->", i); i = if (e < 0) n else e + 3
        } else {
          val e = html.indexOf('>', i)
          if (e < 0) { i = n }
          else {
            flush()
            val inner = html.substring(i + 1, e).trim
            if (inner.nonEmpty && inner.charAt(0) != '!') {
              val closing = inner.charAt(0) == '/'
              val body = if (closing) inner.substring(1) else inner
              val name = body.takeWhile(ch => ch.isLetterOrDigit).toLowerCase
              if (name.nonEmpty) out += (if (closing) Close(name) else Open(name))
            }
            i = e + 1
          }
        }
      } else {
        text.append(c); i += 1
      }
    }
    flush()
    out.result()
  }

  private def decodeEntities(s: String): String =
    s.replace("&amp;", "&").replace("&lt;", "<").replace("&gt;", ">")
      .replace("&quot;", "\"").replace("&#39;", "'").replace("&nbsp;", " ")

  def segment(url: String, html: String): Vector[Segment] = {
    val tags = lex(html)
    val segs = new ArrayBuffer[Segment]

    // heading stack: (level, segId); root context = -1
    var headingStack = List.empty[(Int, Int)]
    var lastBlockSeg = -1 // id of last emitted TEXT/HEADING segment (list intro)
    var ignoreDepth = 0
    // nested-list state: every open <ul>/<ol> remembers ITS intro segment
    // (all items of one list share it, matching the reference's a11y-tree
    // shape); every open <li> is a stack so a nested list's items parent to
    // the inner item's own text
    var listIntroStack = List.empty[(Int, Int)] // (intro segId, li depth at open)
    var liStack = List.empty[Int]
    val buf = new StringBuilder

    def headingParent: Int = headingStack.headOption.map(_._2).getOrElse(-1)
    def currentLi: Int = liStack.headOption.getOrElse(-1)

    def emit(segType: String, parentId: Int, text: String): Int = {
      val id = segs.length
      segs += Segment(url, id, segType, parentId, text)
      id
    }

    def flushText(): Unit = {
      val cleaned = TextClean.clean(decodeEntities(buf.toString))
      buf.clear()
      if (cleaned.nonEmpty) {
        if (currentLi >= 0) {
          // the item's own text can introduce a nested list
          lastBlockSeg = emit("TEXT", currentLi, cleaned)
        } else {
          lastBlockSeg = emit("TEXT", headingParent, cleaned)
        }
      }
    }

    tags.foreach {
      case Open(name) if Ignored(name) => ignoreDepth += 1
      case Close(name) if Ignored(name) => if (ignoreDepth > 0) ignoreDepth -= 1
      case _ if ignoreDepth > 0 => // swallow everything inside ignored subtrees
      case Open(HeadingRe(lvl)) =>
        flushText(); buf.clear()
      case Close(HeadingRe(lvl)) =>
        val level = lvl.toInt
        val cleaned = TextClean.clean(decodeEntities(buf.toString))
        buf.clear()
        if (cleaned.nonEmpty) {
          headingStack = headingStack.dropWhile(_._1 >= level)
          val id = emit("HEADING", headingParent, cleaned)
          headingStack = (level, id) :: headingStack
          lastBlockSeg = id
        }
      case Open("ul") | Open("ol") =>
        flushText()
        listIntroStack =
          ((if (lastBlockSeg >= 0) lastBlockSeg else headingParent), liStack.length) :: listIntroStack
      case Close("ul") | Close("ol") =>
        flushText()
        listIntroStack match {
          case (_, depth) :: rest =>
            // drop any unclosed <li> belonging to this list (sloppy HTML)
            liStack = liStack.drop(liStack.length - depth)
            listIntroStack = rest
          case Nil =>
        }
      case Open("li") =>
        flushText()
        val (introParent, baseDepth) = listIntroStack.headOption
          .getOrElse(((if (lastBlockSeg >= 0) lastBlockSeg else headingParent), liStack.length))
        // an unclosed sibling <li> implicitly closes at the next one
        if (liStack.length > baseDepth) liStack = liStack.drop(liStack.length - baseDepth)
        liStack = emit("LISTITEM", introParent, "") :: liStack
      case Close("li") =>
        flushText()
        if (liStack.nonEmpty) liStack = liStack.tail
      case Open(b) if Block(b) => flushText()
      case Close(b) if Block(b) => flushText()
      case Open("br") => buf.append(' ')
      case Open(_) | Close(_) => // inline tags: keep accumulating
      case Text(s) => buf.append(s)
    }
    flushText()
    fixNonHtmlLists(segs.toVector)
  }

  // --------------------------------------------------- non-HTML list repair

  /** One bullet template family (reference BulletMatcher,
    * poligrapher/document.py:583-608): `regex` recognizes/strips the bullet,
    * `expected(k)` is the exact prefix the k-th item must start with. */
  private final case class Bullet(regex: scala.util.matching.Regex,
    expected: Int => String)

  private val CharBullet = "^[*>#-]".r
  private val NumBullet = "^\\W*\\d+\\W".r
  private val LowerBullet = "^\\W*[a-z]\\W".r
  private val UpperBullet = "^\\W*[A-Z]\\W".r

  private def bulletOf(text: String): Option[Bullet] =
    CharBullet.findFirstIn(text).map(m => Bullet(CharBullet, _ => m))
      .orElse(NumBullet.findFirstIn(text).map { m =>
        // template cycles 1, 2, 3, ... (reference: m[0].replace("1", "{0}"),
        // so numbered lists must start at 1 — bug-compatible)
        Bullet(NumBullet, k => if (m.contains("1")) m.replace("1", (k + 1).toString) else m)
      })
      .orElse(LowerBullet.findFirstIn(text).map { m =>
        Bullet(LowerBullet, k => m.replace("a", ('a' + (k % 26)).toChar.toString))
      })
      .orElse(UpperBullet.findFirstIn(text).map { m =>
        Bullet(UpperBullet, k => m.replace("A", ('A' + (k % 26)).toChar.toString))
      })

  /** Turn runs (≥2) of text-bullet TEXT segments that follow a TEXT/HEADING
    * ending in ":" into LISTITEM segments each holding one TEXT child with
    * the bullet stripped — the same segment shape real HTML lists produce
    * (reference fix_non_html_lists, poligrapher/document.py:516-570). */
  private def fixNonHtmlLists(segs: Vector[Segment]): Vector[Segment] = {
    if (segs.length < 3) return segs
    val n = segs.length
    val outType = new ArrayBuffer[String](n)
    val outText = new ArrayBuffer[String](n)
    // parent ref: Left(oldSegId) remapped at the end; Right(newSegId) direct
    val outParent = new ArrayBuffer[Either[Int, Int]](n)
    val oldToNew = new scala.collection.mutable.HashMap[Int, Int]()

    def emitOld(s: Segment): Unit = {
      oldToNew(s.segId) = outType.length
      outType += s.segType; outText += s.text; outParent += Left(s.parentId)
    }

    // colon-category line ("Identifiers: name; email address.") — a
    // tables-as-text item under a list-forward intro ("... listed below.",
    // "... the following categories:")
    val colonLine = "^[A-Z][A-Za-z /-]{0,40}: .+".r
    def isColonItem(t: String): Boolean = colonLine.findFirstIn(t).isDefined
    def isListForwardIntro(t: String): Boolean =
      t.endsWith(":") || t.endsWith("below.") ||
        t.toLowerCase.contains("the following")

    var i = 0
    while (i < n) {
      val s = segs(i)
      val bullet =
        if (i >= 1 && s.segType == "TEXT" &&
          (segs(i - 1).segType == "TEXT" || segs(i - 1).segType == "HEADING") &&
          segs(i - 1).text.endsWith(":")) bulletOf(s.text)
        else None
      val colonItems =
        if (bullet.isEmpty && i >= 1 && s.segType == "TEXT" &&
          segs(i - 1).segType == "TEXT" && isListForwardIntro(segs(i - 1).text) &&
          isColonItem(s.text)) {
          var j = i
          while (j < n && segs(j).segType == "TEXT" &&
            segs(j).parentId == s.parentId && isColonItem(segs(j).text)) j += 1
          // require a RUN of >=2 colon-category lines, matching the bullet
          // families' convention — a single "Note: ..." prose line after a
          // list-forward intro is ordinary text, not a one-item list
          // (round-4 ADVICE)
          if (j - i >= 2) Some(j) else None
        } else None
      (bullet, colonItems) match {
        case (None, Some(j)) =>
          val introOld = segs(i - 1).segId
          (i until j).foreach { k =>
            val itemNew = outType.length
            outType += "LISTITEM"; outText += ""; outParent += Left(introOld)
            oldToNew(segs(k).segId) = outType.length
            outType += "TEXT"; outText += segs(k).text; outParent += Right(itemNew)
          }
          i = j
        case (Some(b), _) =>
          var j = i
          while (j < n && segs(j).segType == "TEXT" && segs(j).parentId == s.parentId &&
            segs(j).text.startsWith(b.expected(j - i))) j += 1
          // 2-item runs convert for alpha families too, as in the
          // reference: prose starting consecutive sentences with bare
          // capitals ("A cookie is... B...") reads as a list (bug-compatible)
          if (j - i >= 2) {
            val introOld = segs(i - 1).segId
            (i until j).foreach { k =>
              val itemNew = outType.length
              outType += "LISTITEM"; outText += ""; outParent += Left(introOld)
              oldToNew(segs(k).segId) = outType.length
              val trimmed = b.regex.replaceFirstIn(segs(k).text, "").trim
              outType += "TEXT"
              outText += (if (trimmed.nonEmpty) trimmed else segs(k).text)
              outParent += Right(itemNew)
            }
            i = j
          } else { emitOld(s); i += 1 }
        case _ => emitOld(s); i += 1
      }
    }
    if (outType.length == n) segs // nothing converted
    else {
      val url = segs.head.url
      (0 until outType.length).map { id =>
        val p = outParent(id) match {
          case Left(old) => if (old < 0) -1 else oldToNew.getOrElse(old, -1)
          case Right(nw) => nw
        }
        Segment(url, id, outType(id), p, outText(id))
      }.toVector
    }
  }
}
