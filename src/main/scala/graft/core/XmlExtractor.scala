package graft.core


import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import graft.core.rules.Rules
import graft.core.xml.{Dom, Elem, MiniPath}

/** XML extraction engine (JATS / TEI / Elsevier variants).
  *
  * Re-expresses StandardExtractorXML and subclasses
  * (adsft/extraction.py:381-1003) on a single from-scratch lenient parser:
  *
  *  1. entity conversion on the raw string (extraction.py:429)
  *  2. raw-string pre-fixes: unwrap the AGU/Wiley `<!-- body … endbody -->`
  *     comment, strip comments / CDATA / processing instructions
  *     (extraction.py:482-522). The reference's parser-cascade and
  *     body-tag-rename dance (extraction.py:524-559, 616-736) exist only to
  *     work around third-party parser quirks; with one robust recovering
  *     parser they are unnecessary — "success" remains defined as
  *     "some rule xpath matched" (extraction.py:633-649), and a document no
  *     rule matches yields empty fields (tests/test_extraction.py:400-434).
  *  3. namespace / prefix removal on tags and attributes
  *     (extraction.py:561-614), done during DOM construction
  *  4. kill-list removal preserving tail text (extraction.py:443-469, 729-731);
  *     removed `graphic` nodes additionally record a media event with their
  *     href so the output span sequence keeps media refs interleaved in
  *     document order (the graft's span model, FIXTURES.md conventions)
  *  5. acknowledgment relocation out of the body (extraction.py:733-735)
  *  6. rule-driven field extraction with extract-all-for-fulltext, sticky
  *     containment dedup, '\n' join for strings, first-non-empty for lists
  *     (extraction.py:738-968)
  */
object XmlExtractor {

  // --- raw string pre-fixes (extraction.py:482-522) -------------------------
  // Hand-written scanners rather than java.util.regex: inside a Spark JVM the
  // hundreds of live Pattern instances make the regex engine's per-character
  // CharPredicate lambda call sites megamorphic, which blocks inlining in the
  // match loop and measured ~10x slower than in an isolated JVM. indexOf-
  // driven linear scans are immune and exactly reproduce the reference
  // regexes' semantics (see each function's note).

  /** ASCII `\s` as java.util.regex defines it (no UNICODE_CHARACTER_CLASS). */
  @inline private def isReWs(c: Char): Boolean =
    c == ' ' || c == '\t' || c == '\n' || c == '\u000b' || c == '\f' || c == '\r'

  /** `<!--\s*body\s*([\s\S]*)\s*endbody\s*-->` replaced by `$1` (the AGU /
    * Wiley comment-wrapped body, issue 104): greedy group = from after the
    * first `<!--\s*body\s*` to the LAST `endbody\s*-->`.
    */
  private[core] def unwrapBodyComment(s: String): String = {
    var i = s.indexOf("<!--")
    while (i >= 0) {
      var j = i + 4
      while (j < s.length && isReWs(s.charAt(j))) j += 1
      if (s.regionMatches(j, "body", 0, 4)) {
        var k = j + 4
        while (k < s.length && isReWs(s.charAt(k))) k += 1
        val contentStart = k
        // last `endbody` whose trailing is `\s*-->`
        var e = s.lastIndexOf("endbody")
        while (e >= contentStart) {
          var m = e + 7
          while (m < s.length && isReWs(s.charAt(m))) m += 1
          if (s.regionMatches(m, "-->", 0, 3))
            return s.substring(0, i) + s.substring(contentStart, e) + s.substring(m + 3)
          e = s.lastIndexOf("endbody", e - 1)
        }
      }
      i = s.indexOf("<!--", i + 1)
    }
    s
  }

  /** non-greedy `open[\s\S]*?close` -> "" (unterminated opener kept, as the
    * regex would leave it unmatched).
    */
  private def removeDelimited(s: String, open: String, close: String): String = {
    var i = s.indexOf(open)
    if (i < 0) return s
    val sb = new java.lang.StringBuilder(s.length)
    var last = 0
    while (i >= 0) {
      val j = s.indexOf(close, i + open.length)
      if (j < 0) i = -1
      else {
        sb.append(s, last, i)
        last = j + close.length
        i = s.indexOf(open, last)
      }
    }
    sb.append(s, last, s.length)
    sb.toString
  }

  def removeSpecialElements(raw: String): String = {
    var s = raw
    s = unwrapBodyComment(s)
    s = removeDelimited(s, "<!--", "-->")
    s = removeDelimited(s, "<![CDATA[", "]]>")
    s = removeDelimited(s, "<?", "?>")
    s
  }

  // --- media-annotated tail-preserving removal -------------------------------

  /** A media event anchored inside a text slot. `seq` is document order. */
  private final case class MediaAnn(offset: Int, seq: Int, ref: String)

  private final class Surgeon(root: Elem) {
    // annotations keyed by identity of the elem owning the slot
    val textAnn = new java.util.IdentityHashMap[Elem, ArrayBuffer[MediaAnn]]()
    val tailAnn = new java.util.IdentityHashMap[Elem, ArrayBuffer[MediaAnn]]()
    var seq = 0
    val allMedia = ArrayBuffer.empty[(Int, String)] // (seq, ref)

    /** Remove every node of `killed` still attached under the root, as
      * `_remove_keeping_tail` (adsft/extraction.py:443-469) does one by one:
      * its tail merges into the previous surviving sibling's tail, or the
      * parent's text, carrying media annotations along, and a `graphic`
      * with an href records a media event at the junction point. `killed`
      * is in document order ([[MiniPath.eval]]), so one cursor per parent
      * walks its children once, and no later sibling has merged into a
      * node's tail yet when it goes. Merged slots grow in builders, and
      * each parent's children are compacted once at the end: linear time.
      */
    def removeKeepingTail(killed: Seq[Elem]): Unit = {
      final class Cursor(var next: Int, var prev: Elem)
      val cursors = new java.util.IdentityHashMap[Elem, Cursor]()
      val mergedText = new java.util.IdentityHashMap[Elem, java.lang.StringBuilder]()
      val mergedTail = new java.util.IdentityHashMap[Elem, java.lang.StringBuilder]()
      killed.foreach { node =>
        val parent = node.parent
        if (parent != null && node.attachedTo(root)) {
          var c = cursors.get(parent)
          if (c == null) { c = new Cursor(0, null); cursors.put(parent, c) }
          val cs = parent.children
          while (cs(c.next) ne node) { c.prev = cs(c.next); c.next += 1 }
          c.next += 1
          val prev = c.prev

          // target slot: the previous survivor's tail, else the parent's text
          val (owner, value, merged, anns) =
            if (prev != null) (prev, prev.tail, mergedTail, tailAnn) else (parent, parent.text, mergedText, textAnn)
          val sb = merged.get(owner)
          val base = if (sb != null) sb.length else if (value == null) 0 else value.length

          if (node.tag == "graphic") node.attr("href").filter(_.nonEmpty).foreach { ref =>
            anns.computeIfAbsent(owner, _ => ArrayBuffer.empty[MediaAnn]) += MediaAnn(base, seq, ref)
            allMedia += ((seq, ref))
            seq += 1
          }

          // the reference merges only a truthy tail (extraction.py:457)
          if (node.tail != null && node.tail.nonEmpty) {
            if (sb != null) sb.append(node.tail)
            else merged.put(owner, new java.lang.StringBuilder(if (value == null) "" else value).append(node.tail))
          }
          node.parent = null
        }
      }
      cursors.keySet.forEach(p => p.children.filterInPlace(_.parent eq p))
      mergedText.forEach((e, sb) => e.text = sb.toString)
      mergedTail.forEach((e, sb) => e.tail = sb.toString)
    }

    /** Move a node after its parent (`_append_tag_outside_parent`,
      * adsft/extraction.py:471-480). Annotations ride along (slot-keyed).
      */
    def appendOutsideParent(node: Elem): Unit = {
      val parent = node.parent
      if (parent != null && parent.parent != null) {
        parent.removeChild(node)
        parent.addNext(node)
      }
    }
  }

  // --- chunk/media text assembly ---------------------------------------------

  /** Raw joined text of one element plus media positions within it. */
  private final case class NodeText(raw: String, media: Vector[MediaAnn])

  private def pyStrip(s: String): String = {
    var a = 0
    var b = s.length
    while (a < b && CleanText.isPyWhitespace(s.charAt(a))) a += 1
    while (b > a && CleanText.isPyWhitespace(s.charAt(b - 1))) b -= 1
    s.substring(a, b)
  }

  /** itertext chunks of `e` with their media annotations, joined with single
    * spaces after stripping each chunk (extract_string semantics,
    * adsft/extraction.py:773-782). Media offsets are re-anchored into the
    * joined string. Chunks that are null but carry annotations still emit
    * their media events.
    */
  private def nodeText(e: Elem, surgeon: Surgeon): NodeText = {
    val chunks = ArrayBuffer.empty[(String, Seq[MediaAnn])] // raw slot value + anns
    def slot(owner: Elem, isTail: Boolean): Unit = {
      val v = if (isTail) owner.tail else owner.text
      val anns = (if (isTail) surgeon.tailAnn.get(owner) else surgeon.textAnn.get(owner))
      if (v != null || (anns != null && anns.nonEmpty))
        chunks += ((if (v == null) "" else v, if (anns == null) Seq.empty else anns.toSeq))
    }
    e.walk(slot(_, isTail = false), c => if (c ne e) slot(c, isTail = true))

    val sb = new java.lang.StringBuilder()
    val media = Vector.newBuilder[MediaAnn]
    var first = true
    chunks.foreach { case (raw, anns) =>
      if (!first) sb.append(' ')
      first = false
      val start = sb.length()
      // leading-whitespace trim shifts in-chunk offsets left
      var lead = 0
      while (lead < raw.length && CleanText.isPyWhitespace(raw.charAt(lead))) lead += 1
      val stripped = pyStrip(raw)
      sb.append(stripped)
      anns.foreach { a =>
        val pos = math.max(0, math.min(a.offset - lead, stripped.length))
        media += a.copy(offset = start + pos)
      }
    }
    NodeText(sb.toString, media.result().sortBy(a => (a.offset, a.seq)))
  }

  // --- field extraction -------------------------------------------------------

  final case class XmlResult(
      fulltext: String,
      spans: Vector[Span],
      acknowledgements: String,
      dataset: Vector[String],
      facility: Vector[String]
  )

  /** A parsed + pre-processed document (post kill-list and ack relocation) —
    * the analog of `parse_xml`'s result, usable library-level without the
    * pipeline (the reference demonstrates this layering in
    * scripts/extract_summary.py:27-48).
    */
  final class Prepared private[XmlExtractor] (val root: Elem,
      private[XmlExtractor] val surgeon: Surgeon) {

    /** extract_string (adsft/extraction.py:738-791): first matching node (or
      * all, for fulltext), itertext chunks stripped and space-joined, cleaned.
      */
    def extractString(xpath: String, translateFlag: Boolean = true,
        extractAll: Boolean = false): String = {
      val nodes = MiniPath.eval(root, MiniPath.compile(xpath))
      if (nodes.isEmpty) return CleanText.run("", translateFlag, normaliseFlag = true, trimFlag = true)
      val used = if (extractAll) nodes else nodes.take(1)
      val joined = used.map(n => nodeText(n, surgeon).raw).mkString(" ")
      CleanText.run(joined, translateFlag, normaliseFlag = true, trimFlag = true)
    }
  }

  /** Parse + pre-process one raw XML part (open_xml + parse_xml analog). */
  def prepare(rawXml: String): Prepared = {
    val converted = Entities.convert(rawXml)
    val pre = removeSpecialElements(converted)
    val root = Dom.parse(pre, htmlMode = false, stripPrefixes = true)
    val surgeon = new Surgeon(root)

    // kill list, single doc-order evaluation (extraction.py:729-731)
    surgeon.removeKeepingTail(MiniPath.eval(root, Rules.killList: _*))

    // acknowledgment relocation (always the xml rule set, extraction.py:733)
    MiniPath.eval(root, Rules.ackRelocate: _*).foreach { node =>
      if (node.attachedTo(root)) surgeon.appendOutsideParent(node)
    }
    new Prepared(root, surgeon)
  }

  /** Full extraction for one raw XML part. `translateFlag` mirrors the task
    * default translate=True (adsft/extraction.py:860).
    */
  def extract(rawXml: String, metaName: String, translateFlag: Boolean = true): XmlResult = {
    val prepared = prepare(rawXml)
    val root = prepared.root
    val surgeon = prepared.surgeon

    val rules = Rules.forMeta(metaName)
    def clean(s: String): String =
      CleanText.run(s, translateFlag = translateFlag, normaliseFlag = true, trimFlag = true)

    var fulltext = ""
    var ack = ""
    var dataset = Vector.empty[String]
    var facility = Vector.empty[String]
    val spanBuilder = Vector.newBuilder[Span]
    var spanOffset = 0
    val consumedSeqs = mutable.Set.empty[Int]

    rules.foreach { rule =>
      if (rule.isList) {
        // extract_list: first non-empty xpath's attr list (extraction.py:793-858, 965-966)
        val lists = rule.paths.iterator.map { path =>
          MiniPath.eval(root, path).flatMap { node =>
            val raw = node.attr(rule.attr).orElse {
              val i = rule.attr.indexOf(':')
              if (i > 0) node.attr(rule.attr.substring(i + 1)) else None
            }
            raw.map(clean).filter(v => v.nonEmpty && v != "None")
          }
        }.find(_.nonEmpty).getOrElse(Vector.empty)
        rule.name match {
          case "dataset"  => dataset = lists
          case "facility" => facility = lists
          case _          => ()
        }
      } else {
        val extractAll = rule.name == "fulltext"
        val accepted = ArrayBuffer.empty[(String, NodeText)] // (cleaned, raw+media)
        var unique = true // sticky flag, mirroring extraction.py:889-935
        rule.paths.foreach { path =>
          val nodes = MiniPath.eval(root, path)
          if (nodes.nonEmpty) {
            val used = if (extractAll) nodes else nodes.take(1)
            val parts = used.map(n => nodeText(n, surgeon))
            val joinedRaw = parts.map(_.raw).mkString(" ")
            // media offsets re-anchored into the multi-node join
            var off = 0
            val media = Vector.newBuilder[MediaAnn]
            parts.foreach { p =>
              p.media.foreach(a => media += a.copy(offset = a.offset + off))
              off += p.raw.length + 1
            }
            val cleaned = clean(joinedRaw)
            if (cleaned.nonEmpty) {
              accepted.foreach { case (c, _) => if (c.contains(cleaned)) unique = false }
              if (unique) accepted += ((cleaned, NodeText(joinedRaw, media.result())))
            }
          }
        }
        val joined = accepted.map(_._1).mkString("\n")
        if (rule.name == "fulltext") {
          fulltext = joined
          // build interleaved spans from accepted groups
          accepted.foreach { case (_, nt) =>
            val freshMedia = nt.media.filter(a => !consumedSeqs.contains(a.seq))
            freshMedia.foreach(a => consumedSeqs += a.seq)
            var last = 0
            freshMedia.foreach { a =>
              val segment = clean(nt.raw.substring(last, math.min(a.offset, nt.raw.length)))
              if (segment.nonEmpty) { spanBuilder += Span("text", segment, null, spanOffset); spanOffset += 1 }
              spanBuilder += Span("media", null, a.ref, spanOffset); spanOffset += 1
              last = math.min(a.offset, nt.raw.length)
            }
            val tailSeg = clean(nt.raw.substring(math.min(last, nt.raw.length)))
            if (tailSeg.nonEmpty) { spanBuilder += Span("text", tailSeg, null, spanOffset); spanOffset += 1 }
          }
        } else if (rule.name == "acknowledgements") ack = joined
      }
    }

    // media removed outside any accepted fulltext region -> trailing spans in doc order
    surgeon.allMedia.foreach { case (seq, ref) =>
      if (!consumedSeqs.contains(seq)) {
        spanBuilder += Span("media", null, ref, spanOffset); spanOffset += 1
      }
    }

    XmlResult(fulltext, spanBuilder.result(), ack, dataset, facility)
  }
}
