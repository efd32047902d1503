package graft.core

import scala.collection.mutable.ArrayBuffer

import graft.core.rules.Rules
import graft.core.xml.{Dom, Elem, MiniPath}

/** HTML extraction (reference: StandardExtractorHTML,
  * adsft/extraction.py:139-378; A&A 2003-2011 layout).
  *
  * Steps, mirrored exactly including the reference's observable quirks:
  *  1. entity conversion on the raw string (extraction.py:182)
  *  2. lenient HTML parse (lowercased tags/attrs, void elements)
  *  3. "remove anything before the introduction": find the first node matching
  *     the introduction xpaths, then remove that node's OWN children up to the
  *     node's index within its parent (extraction.py:267-276 — the golden
  *     outputs show pre-intro content retained and the heading's link text
  *     dropped, e.g. tests/test_full_range_of_formats.py:139; mirrored as-is)
  *  4. remove the References heading and its following sibling list
  *     (extraction.py:278-289); skipped entirely if either is missing
  *  5. splice external table files over their `<a href="...">` links
  *     (extraction.py:291-344): the first link is replaced by the PARENT of
  *     the companion file's first `<table>`, remaining links are removed
  *  6. emit space-joined stripped itertext, skipping whitespace-only chunks
  *     (extraction.py:364-368), cleaned with translate=False
  *     (extraction.py:241); `<img src>` refs become interleaved media spans
  */
object HtmlExtractor {

  final case class HtmlResult(fulltext: String, spans: Vector[Span])

  def parse(raw: String): Elem =
    Dom.parse(Entities.convert(raw), htmlMode = true, stripPrefixes = false)

  def extract(mainRaw: String, tables: Seq[(String, String)]): HtmlResult = {
    val root = parse(mainRaw)

    // 3. introduction removal (first matching xpath only, extraction.py:257-276)
    Rules.Html.introduction.iterator
      .map(MiniPath.eval(root, _))
      .find(_.nonEmpty)
      .map(_.head)
      .foreach { node =>
        if (node.parent != null) {
          val idx = node.indexInParent
          node.children.take(idx).toVector.foreach(node.removeChild)
        }
      }

    // 4. references removal (extraction.py:278-289)
    MiniPath.eval(root, Rules.Html.references).headOption.foreach { h2 =>
      val ul = h2.getNext
      if (ul != null && h2.parent != null) {
        ul.parent.removeChild(ul)
        h2.parent.removeChild(h2)
      }
    }

    // 5. external table splice (extraction.py:291-344; only companions whose
    //    name contains "table" are collated, extraction.py:229)
    tables.filter(_._1.contains("table")).foreach { case (name, tableRaw) =>
      val tableRoot = parse(tableRaw)
      val tableNode = MiniPath.eval(tableRoot, Rules.Html.table).headOption.map(_.parent)
      tableNode.foreach { tn =>
        val links = MiniPath.eval(root, Rules.Html.tableLinks(name))
        links.headOption.foreach { link =>
          val parent = link.parent
          if (parent != null) {
            val i = link.indexInParent
            parent.children(i) = tn
            tn.tail = link.tail
            tn.parent = parent
          }
          links.drop(1).foreach(l => if (l.parent != null) l.parent.removeChild(l))
        }
      }
    }

    // 6. text assembly with media events at <img src> positions
    val sb = new java.lang.StringBuilder()
    val media = ArrayBuffer.empty[(Int, String)]
    def emitChunk(t: String): Unit = {
      if (t != null && t.exists(c => !CleanText.isPyWhitespace(c))) {
        if (sb.length() > 0) sb.append(' ')
        var a = 0
        var b = t.length
        while (a < b && CleanText.isPyWhitespace(t.charAt(a))) a += 1
        while (b > a && CleanText.isPyWhitespace(t.charAt(b - 1))) b -= 1
        sb.append(t, a, b)
      }
    }
    root.walk({ e =>
      if (e.tag == "img") e.attr("src").filter(_.nonEmpty).foreach(s => media += ((sb.length(), s)))
      emitChunk(e.text)
    }, e => if (e ne root) emitChunk(e.tail))

    def clean(s: String): String =
      CleanText.run(s, translateFlag = false, normaliseFlag = true, trimFlag = true)

    val raw = sb.toString
    val fulltext = clean(raw)

    val spans = Vector.newBuilder[Span]
    var off = 0
    var last = 0
    media.foreach { case (pos, ref) =>
      val seg = clean(raw.substring(last, math.min(pos, raw.length)))
      if (seg.nonEmpty) { spans += Span("text", seg, null, off); off += 1 }
      spans += Span("media", null, ref, off); off += 1
      last = math.min(pos, raw.length)
    }
    val tailSeg = clean(raw.substring(math.min(last, raw.length)))
    if (tailSeg.nonEmpty) { spans += Span("text", tailSeg, null, off); off += 1 }

    HtmlResult(fulltext, spans.result())
  }
}
