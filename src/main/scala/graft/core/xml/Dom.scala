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

  def getPrevious: Elem = {
    if (parent == null) return null
    val i = indexInParent
    if (i > 0) parent.children(i - 1) else null
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

  /** Build a tree from tokens. `htmlMode`: lowercase names, honor void tags.
    * `stripPrefixes`: drop namespace prefixes on tags and attrs (xml mode).
    * Lenient recovery: mismatched end tags close intervening open elements if
    * a matching ancestor is open, otherwise they are ignored; EOF closes all.
    */
  def parse(raw: String, htmlMode: Boolean, stripPrefixes: Boolean): Elem = {
    val root = new Elem("root")
    var stack = List(root)

    def norm(n: String): String = {
      val a = if (stripPrefixes) stripPrefix(n) else n
      if (htmlMode) a.toLowerCase else a
    }

    def addText(t: String): Unit = {
      val top = stack.head
      if (top.children.isEmpty) top.text = if (top.text == null) t else top.text + t
      else {
        val last = top.children.last
        last.tail = if (last.tail == null) t else last.tail + t
      }
    }

    Tokenizer.tokenize(raw).foreach {
      case TText(t) => if (t.nonEmpty) addText(t)
      case TStart(name0, attrs0, selfClose) =>
        val name = norm(name0)
        if (htmlMode) {
          // implied end tags
          if (closesP.contains(name))
            while ((stack.head ne root) && stack.head.tag == "p") stack = stack.tail
          if (name == "li")
            while ((stack.head ne root) && stack.head.tag == "li") stack = stack.tail
          if (name == "tr")
            while ((stack.head ne root) && Set("td", "th", "tr").contains(stack.head.tag)) stack = stack.tail
          if (name == "td" || name == "th")
            while ((stack.head ne root) && (stack.head.tag == "td" || stack.head.tag == "th")) stack = stack.tail
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
        stack.head.append(e)
        val isVoid = htmlMode && voidTags.contains(name)
        if (!selfClose && !isVoid) stack = e :: stack
      case TEnd(name0) =>
        val name = norm(name0)
        if (stack.exists(e => (e ne root) && e.tag == name)) {
          while (stack.head.tag != name && (stack.head ne root)) stack = stack.tail
          if (stack.head ne root) stack = stack.tail
        } // else: stray end tag, ignore
    }
    root
  }
}
