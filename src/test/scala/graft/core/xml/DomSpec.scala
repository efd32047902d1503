package graft.core.xml

import org.scalatest.funsuite.AnyFunSuite

import graft.core.{Dispatcher, Doc, Span}

/** `Dom.parse` recovery: a mismatched end tag closes the open elements down
  * to its nearest open namesake, an end tag with no open namesake is
  * ignored, and both stay linear in the number of tags. The XML kill list
  * removes its nodes keeping their tails, also in linear time.
  */
class DomSpec extends AnyFunSuite {

  private def xml(s: String) = Dom.parse(s, htmlMode = false, stripPrefixes = false)

  test("a mismatched end tag closes the intervening open elements") {
    val a = xml("<a><b><c>t</b>u</a>").children.head
    assert(a.tag == "a" && a.children.map(_.tag) == Seq("b"))
    val b = a.children.head
    assert(b.children.map(_.tag) == Seq("c"))
    assert(b.children.head.text == "t" && b.children.head.tail == null)
    assert(b.tail == "u") // `u` follows the closed `b`, inside `a`
  }

  test("an end tag with no open namesake is ignored") {
    val a = xml("<a>s</x>t<b>v</x></b>w</a>").children.head
    assert(a.text == "st")
    assert(a.children.map(_.tag) == Seq("b"))
    assert(a.children.head.text == "v" && a.children.head.tail == "w")
  }

  test("open counts stay exact: nested namesakes, a surplus end tag, HTML implied ends") {
    val root = xml("<d><d>x</d>y</d></d>z")
    val outer = root.children.head
    assert(root.children.map(_.tag) == Seq("d") && outer.children.map(_.tag) == Seq("d"))
    assert(outer.children.head.tail == "y" && outer.tail == "z")
    // <div> implicitly closes the open <p>, so the later </p> has no open
    // namesake and is ignored
    val html = Dom.parse("<p>a<div>b</div></p>c", htmlMode = true, stripPrefixes = false)
    assert(html.children.map(_.tag) == Seq("p", "div"))
    assert(html.children(1).text == "b" && html.children(1).tail == "c")
    // the counts start at the first mismatched end tag (</x>, with a and b
    // open) and stay exact through later pushes and pops
    val a = xml("<a><b></x><c>q</b>r</b>s</a>t").children.head
    assert(a.children.map(_.tag) == Seq("b") && a.tail == "t")
    val b = a.children.head
    assert(b.children.map(_.tag) == Seq("c") && b.children.head.text == "q" && b.tail == "rs")
  }

  test("20k unclosed <p> plus 20k stray </x> in a JATS body extract in under 2 s") {
    def jats(n: Int) = Doc("D1", "xml", "ADS", "/s/D1.xml", Vector(Span("raw",
      "<article><body>" + "<p>w " * n + "</x>" * n + "</body></article>", null, 0)), null, null)
    assert(Dispatcher.extract(jats(100)).isRight) // warm the kernel's classes
    val t0 = System.nanoTime()
    val got = Dispatcher.extract(jats(20000))
    val sec = (System.nanoTime() - t0) / 1e9
    assert(got.isRight)
    assert(sec < 2.0, f"took $sec%.2f s")
  }

  private def jatsBody(body: String) = Doc("D1", "xml", "ADS", "/s/D1.xml",
    Vector(Span("raw", "<article><body>" + body + "</body></article>", null, 0)), null, null)

  test("killed nodes leave their tails to the previous survivor or the parent, media events in place") {
    val got = Dispatcher.extract(jatsBody("<p>a<inline-formula>f</inline-formula>b" +
      "<graphic href=\"g1.gif\"/>c<i>x</i>d<graphic href=\"g2.gif\"/>e" +
      "<table><graphic href=\"g3\"/>t</table>z</p>")).toOption.get
    assert(got.fulltext == "abc x dez")
    assert(got.spans == Vector(Span("text", "ab", null, 0), Span("media", null, "g1.gif", 1),
      Span("text", "c x d", null, 2), Span("media", null, "g2.gif", 3), Span("text", "ez", null, 4)))
  }

  test("80k killed <inline-formula> siblings in one <p> extract in under 2 s") {
    def doc(n: Int) = jatsBody("<p>a" + "<inline-formula>f</inline-formula> w" * n + "</p>")
    assert(Dispatcher.extract(doc(100)).map(_.fulltext) == Right("a" + " w" * 100))
    val t0 = System.nanoTime()
    val got = Dispatcher.extract(doc(80000))
    val sec = (System.nanoTime() - t0) / 1e9
    assert(got.map(_.fulltext.length) == Right(160001))
    assert(sec < 2.0, f"took $sec%.2f s")
  }
}
