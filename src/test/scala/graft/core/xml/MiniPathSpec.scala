package graft.core.xml

import org.scalatest.funsuite.AnyFunSuite

/** The xpath subset the rule tables use, over hand-written trees. */
class MiniPathSpec extends AnyFunSuite {

  private def tree(xml: String): Elem = Dom.parse(xml, htmlMode = false, stripPrefixes = true)

  private def ids(root: Elem, xpaths: String*): Vector[String] =
    MiniPath.eval(root, xpaths.map(MiniPath.compile): _*).map(_.attr("id").getOrElse("?"))

  test("a union of nested matches comes back in document order, each node once") {
    val root = tree(
      """<r><a id="1"><b id="2"><a id="3"/></b></a><b id="4"><x id="5"/></b></r>""")
    assert(ids(root, "//b", "//a") == Vector("1", "2", "3", "4"))
    assert(ids(root, "//a", "//*[@id=\"1\"]", "//a") == Vector("1", "3"))
  }

  test("the evaluation root is excluded") {
    val root = tree("""<a id="1"><a id="2"/></a>""")
    assert(ids(root, "//root").isEmpty)
    val outer = root.children.head
    assert(ids(outer, "//a") == Vector("2"))
  }

  test("//a//b//c matches ancestors bottom-up, greedily, skipping other tags") {
    val root = tree(
      """<x><a><y><b><z><c id="1"/></z></b></y></a>""" +
        """<b><c id="2"/></b><a><c id="3"/></a>""" +
        """<b><a><c id="4"/></a></b><a><b><a><b><c id="5"/></b></a></b></a></x>""")
    assert(ids(root, "//a//b//c") == Vector("1", "5"))
  }

  test("not(@type=\"x\" or @type=\"y\") keeps every other node, untyped included") {
    val root = tree(
      """<r><s id="1" type="x"/><s id="2" type="y"/><s id="3" type="z"/><s id="4"/></r>""")
    assert(ids(root, "//s[not(@type=\"x\" or @type=\"y\")]") == Vector("3", "4"))
    assert(ids(root, "//s[@type=\"x\" or @type=\"z\"]") == Vector("1", "3"))
  }

  test("contains(., s) reads the whole string value; contains(@href, s) one attribute") {
    val root = tree(
      """<r><h2 id="1">Refs</h2><h2 id="2">1. <b>Intro</b>duction</h2>""" +
        """<a id="3" href="x/table_1.html"/><a id="4" href="fig.png"/><a id="5"/></r>""")
    assert(ids(root, "//h2[contains(.,\"Introduction\")]") == Vector("2"))
    assert(ids(root, "//a[contains(@href, \"table_\")]") == Vector("3"))
  }

  test("local-name() matches the tag with its namespace prefix removed") {
    val root = tree("""<r><ce:acknowledgment id="1"/><ack id="2"/></r>""")
    assert(ids(root, "//*[local-name()=\"acknowledgment\"]") == Vector("1"))
  }
}
