package graft.core.xml

import scala.collection.mutable.ArrayBuffer

/** A small mutable DOM with the ElementTree text/tail model the reference's
  * node surgery depends on (lxml semantics: `elem.text` = text after the start
  * tag and before the first child; `child.tail` = text after the child's end
  * tag; see adsft/extraction.py:443-469 `_remove_keeping_tail`).
  *
  * Built from scratch for this engine; sized for one document per row (the
  * Spark unit of parallelism), so no streaming needed inside a row.
  */
final class Elem(var tag: String) {
  var attrs: Vector[(String, String)] = Vector.empty
  val children: ArrayBuffer[Elem] = ArrayBuffer.empty
  var text: String = null
  var tail: String = null
  var parent: Elem = null

  def attr(name: String): Option[String] = attrs.collectFirst { case (k, v) if k == name => v }

  def indexInParent: Int = {
    var i = 0
    val cs = parent.children
    while (i < cs.length && (cs(i) ne this)) i += 1
    i
  }

  def append(child: Elem): Unit = { child.parent = this; children += child }

  /** Detach `child` (lxml `parent.remove(child)`: the child's tail leaves the
    * tree with the child).
    */
  def removeChild(child: Elem): Unit = {
    val i = child.indexInParent
    if (i < children.length) { children.remove(i); child.parent = null }
  }

  /** Insert `node` as the sibling immediately after `this` (lxml `addnext`). */
  def addNext(node: Elem): Unit = {
    val i = indexInParent
    node.parent = parent
    parent.children.insert(i + 1, node)
  }

  def getNext: Elem = {
    if (parent == null) return null
    val i = indexInParent
    if (i + 1 < parent.children.length) parent.children(i + 1) else null
  }

  /** True if this elem is still attached under `root`. */
  def attachedTo(root: Elem): Boolean = {
    var e: Elem = this
    while (e != null) { if (e eq root) return true; e = e.parent }
    false
  }

  /** Walk the subtree in document order: `enter` on each element, self
    * first, and `leave` once that element's subtree is done. The open path
    * lives on an explicit stack, so no input depth can overflow the thread's
    * stack and the walk gives the same result on every thread.
    */
  def walk(enter: Elem => Unit, leave: Elem => Unit): Unit = {
    val open = ArrayBuffer(this)
    var next = new Array[Int](16) // per open element: index of its next child
    enter(this)
    while (open.nonEmpty) {
      val d = open.length - 1
      val e = open(d)
      if (next(d) < e.children.length) {
        val c = e.children(next(d))
        next(d) += 1
        enter(c)
        if (open.length == next.length) next = java.util.Arrays.copyOf(next, next.length * 2)
        next(open.length) = 0
        open += c
      } else {
        leave(e)
        open.remove(d)
      }
    }
  }

  /** Text chunks in document order (lxml `itertext`): text, then for each
    * child its itertext followed by its tail. Null slots are skipped.
    */
  def itertext: Vector[String] = {
    val out = Vector.newBuilder[String]
    walk(e => if (e.text != null) out += e.text, e => if ((e ne this) && e.tail != null) out += e.tail)
    out.result()
  }

  /** Concatenated string value (for xpath `contains(., s)`). */
  def textContent: String = itertext.mkString
}

object Dom {

  /** HTML void elements (never take children; used in html mode). */
  private val voidTags = Set("br", "img", "hr", "meta", "link", "input", "col",
    "area", "base", "embed", "param", "source", "track", "wbr")

  /** HTML implied end tags (HTML4 rules, as libxml2's HTML parser applies
    * them — the reference parses A&A HTML with lxml.html,
    * adsft/extraction.py:206): an open `<p>` closes when a block element
    * starts; list items / table cells close their own kind.
    */
  private val closesP = Set("p", "h1", "h2", "h3", "h4", "h5", "h6", "div",
    "ul", "ol", "dl", "table", "address", "blockquote", "pre", "hr", "form",
    "fieldset", "center")

  /** Strip a namespace prefix from a tag/attribute name: `ja:body` -> `body`
    * (reference `_remove_namespace_prefixes`, adsft/extraction.py:593-614, and
    * `_remove_namespaces` for expanded forms, 561-591).
    */
  @inline def stripPrefix(name: String): String = {
    val i = name.indexOf(':')
    if (i > 0) name.substring(i + 1) else name
  }

  /** The open elements of [[parse]], root at the bottom. `isOpen` keeps a
    * count of open elements per tag name: one count cell per name, shared by
    * every open element with that name, so a pop updates it without a
    * lookup. The counts start at the first `isOpen` (built once from the
    * stack), so a document whose end tags all close the top element never
    * hashes a tag name.
    */
  private final class OpenStack(root: Elem) {
    private var elems = new Array[Elem](16)
    private var cells = new Array[Array[Int]](16)
    private var depth = 0
    private var counts: java.util.HashMap[String, Array[Int]] = null
    elems(0) = root

    def top: Elem = elems(depth)
    def atRoot: Boolean = depth == 0

    def isOpen(tag: String): Boolean = {
      if (counts == null) {
        counts = new java.util.HashMap[String, Array[Int]]()
        var d = 1
        while (d <= depth) { cells(d) = count(elems(d).tag); d += 1 }
      }
      val c = counts.get(tag)
      c != null && c(0) > 0
    }

    private def count(tag: String): Array[Int] = {
      var c = counts.get(tag)
      if (c == null) { c = new Array[Int](1); counts.put(tag, c) }
      c(0) += 1
      c
    }

    def push(e: Elem): Unit = {
      depth += 1
      if (depth == elems.length) {
        elems = java.util.Arrays.copyOf(elems, depth * 2)
        cells = java.util.Arrays.copyOf(cells, depth * 2)
      }
      elems(depth) = e
      if (counts != null) cells(depth) = count(e.tag)
    }

    def pop(): Unit = {
      if (counts != null) cells(depth)(0) -= 1
      elems(depth) = null
      depth -= 1
    }
  }

  /** Build a tree from tokens. `htmlMode`: lowercase names, honor void tags.
    * `stripPrefixes`: drop namespace prefixes on tags and attrs (xml mode).
    * Lenient recovery: mismatched end tags close intervening open elements if
    * a matching ancestor is open, otherwise they are ignored; EOF closes all.
    * [[OpenStack]] answers "is a matching ancestor open" in O(1), so stray
    * end tags under a deep open path stay linear.
    */
  def parse(raw: String, htmlMode: Boolean, stripPrefixes: Boolean): Elem = {
    val root = new Elem("root")
    val open = new OpenStack(root)
    def popWhile(p: Elem => Boolean): Unit = while (!open.atRoot && p(open.top)) open.pop()

    def norm(n: String): String = {
      val a = if (stripPrefixes) stripPrefix(n) else n
      if (htmlMode) a.toLowerCase else a
    }

    def addText(t: String): Unit = {
      val e = open.top
      if (e.children.isEmpty) e.text = if (e.text == null) t else e.text + t
      else {
        val last = e.children.last
        last.tail = if (last.tail == null) t else last.tail + t
      }
    }

    Tokenizer.tokenize(raw).foreach {
      case TText(t) => if (t.nonEmpty) addText(t)
      case TStart(name0, attrs0, selfClose) =>
        val name = norm(name0)
        if (htmlMode) {
          // implied end tags
          if (closesP.contains(name)) popWhile(_.tag == "p")
          if (name == "li") popWhile(_.tag == "li")
          if (name == "tr") popWhile(e => e.tag == "td" || e.tag == "th" || e.tag == "tr")
          if (name == "td" || name == "th") popWhile(e => e.tag == "td" || e.tag == "th")
        }
        val e = new Elem(name)
        if (attrs0.nonEmpty) {
          val b = Vector.newBuilder[(String, String)]
          var seen = List.empty[String]
          attrs0.foreach { case (k0, v) =>
            val k = norm(k0)
            if (!seen.contains(k)) { seen = k :: seen; b += (k -> v) } // first wins
          }
          e.attrs = b.result()
        }
        open.top.append(e)
        val isVoid = htmlMode && voidTags.contains(name)
        if (!selfClose && !isVoid) open.push(e)
      case TEnd(name0) =>
        val name = norm(name0)
        if (!open.atRoot && open.top.tag == name) open.pop()
        else if (open.isOpen(name)) {
          popWhile(_.tag != name)
          open.pop()
        } // else: stray end tag, ignore
    }
    root
  }
}
