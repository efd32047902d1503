package graft.core

import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite

class HtmlExtractorSpec extends AnyFunSuite {

  private val unitStub = "/root/reference/tests/test_unit/stub_data"
  private val intStub = "/root/reference/tests/test_integration/stub_data"

  private def load(path: String): String = {
    assume(Files.exists(Paths.get(path)), s"reference stub not present: $path")
    Encoding.decode(Files.readAllBytes(Paths.get(path)))
  }

  test("A&A HTML with external table spliced (test_extraction.py:792-812)") {
    val main = load(s"$unitStub/test.html")
    val table = load(s"$unitStub/test_table.html")
    val r = HtmlExtractor.extract(main, Seq("test_table.html" -> table))
    assert(r.fulltext.contains("ONLY IN TABLE"), r.fulltext)
    assert(r.fulltext.contains("TITLE"))
  }

  test("single-file HTML golden (test_full_range_of_formats.py:139)") {
    val main = load(s"$intStub/full_test.html")
    val r = HtmlExtractor.extract(main, Seq.empty)
    assert(r.fulltext ==
      "No Title AA 999, 999-999 (1999) DOI: 99.9999/9999-9999:99999999 TITLE AUTHOR " +
        "AFFILIATION Received 99 MONTH 1999 / Accepted 99 MONTH 1999 Abstract ABSTRACT " +
        "Key words: KEYWORD INTRODUCTION SECTION Table 1: TABLE TABLE (1) COPYRIGHT")
  }

  test("a companion file name is data: table]1.html splices exactly like table_1.html") {
    def main(name: String) =
      s"""<html><body><p>BEFORE</p><p>See <a href="$name">Table 1</a> AFTER</p></body></html>"""
    val table = "<html><body><div><table><tr><td>ONLY IN TABLE</td></tr></table></div></body></html>"
    val plain = HtmlExtractor.extract(main("table_1.html"), Seq("table_1.html" -> table))
    assert(plain.fulltext == "BEFORE See ONLY IN TABLE AFTER")
    assert(HtmlExtractor.extract(main("table]1.html"), Seq("table]1.html" -> table)) == plain)
  }

  test("img src becomes an interleaved media span") {
    val main = load(s"$intStub/full_test.html")
    val r = HtmlExtractor.extract(main, Seq.empty)
    val medias = r.spans.filter(_.kind == "media").map(_.media_ref)
    assert(medias == Vector("img.gif"))
    val joined = r.spans.filter(_.kind == "text").map(_.text).mkString(" ")
    assert(joined == r.fulltext)
  }
}

class PdfExtractorSpec extends AnyFunSuite {

  test("reading order reconstruction: two columns, scrambled input") {
    // Layout: page 1, left column x=100, right column x=1400
    // reading order: L1 L2 L3 then R1 R2
    val spans = Vector(
      Span("run", "R2 right-bottom", "1:1400:300", 0),
      Span("run", "L2 left-middle", "1:100:200", 1),
      Span("run", "R1 right-top", "1:1400:100", 2),
      Span("run", "L1 left-top", "1:100:100", 3),
      Span("run", "L3 left-bottom", "1:100:300", 4)
    )
    val r = PdfExtractor.extract(spans)
    assert(r.fulltext ==
      "L1 left-top L2 left-middle L3 left-bottom R1 right-top R2 right-bottom")
  }

  test("single column sorted by y then x; pages in order") {
    val spans = Vector(
      Span("run", "B", "2:100:100", 0),
      Span("run", "A2", "1:500:100", 1),
      Span("run", "A1", "1:100:100", 2)
    )
    assert(PdfExtractor.extract(spans).fulltext == "A1 A2 B")
  }

  test("image run becomes a media span at its reading-order position") {
    val spans = Vector(
      Span("run", "before", "1:100:100", 0),
      Span("image", null, "1:100:200:fig1.png", 1),
      Span("run", "after", "1:100:300", 2)
    )
    val r = PdfExtractor.extract(spans)
    assert(r.spans.map(_.kind) == Vector("text", "media", "text"))
    assert(r.spans(1).media_ref == "fig1.png")
    assert(r.fulltext == "before after")
  }

  test("pdftotext golden equivalent: cleaned prose (test_full_range_of_formats.py:141)") {
    val spans = Vector(
      Span("run", "Introduction", "1:100:100", 0),
      Span("run", "THIS IS AN INTERESTING TITLE", "1:100:200", 1)
    )
    assert(PdfExtractor.extract(spans).fulltext == "Introduction THIS IS AN INTERESTING TITLE")
  }

  test("NFKC accent normalisation applies (PDFExtractTest.java:42-46)") {
    // e + combining acute -> e-acute
    val spans = Vector(Span("run", "café", "1:100:100", 0))
    assert(PdfExtractor.extract(spans).fulltext == "café")
  }
}

class DispatcherSpec extends AnyFunSuite {

  private def ts = java.sql.Timestamp.valueOf("2020-01-01 00:00:00")

  test("txt/ocr passthrough cleaning (test_full_range_of_formats.py:135-136)") {
    val raw = "Introduction\n\nTHIS IS AN INTERESTING TITLE\n"
    val doc = Doc("b1", "txt", "ADS", "/x/y/b1.txt", Vector(Span("raw", raw, null, 0)), null, ts)
    val r = Dispatcher.extract(doc).toOption.get
    assert(r.fulltext == "Introduction THIS IS AN INTERESTING TITLE")
    assert(r.spans == Vector(Span("text", "Introduction THIS IS AN INTERESTING TITLE", null, 0)))
  }

  test("multi-part source: results concatenated per doc (test_extraction.py:109-124)") {
    val doc = Doc("b2", "txt", "ADS", "/x/y/a.txt,/x/y/b.txt",
      Vector(Span("raw", "Entry 1 of part one", null, 0),
             Span("raw", "Entry 1 of part two", null, 1)),
      null, ts)
    val r = Dispatcher.extract(doc).toOption.get
    assert("Entry 1".r.findAllIn(r.fulltext).size == 2)
    assert(r.fulltext == "Entry 1 of part one Entry 1 of part two")
    assert(r.spans.map(_.offset) == Vector(0, 1))
  }

  test("unsupported format is an error result, not an exception (extraction.py:1207)") {
    val doc = Doc("b3", "docx", "ADS", "/x/y/b3.docx", Vector(Span("raw", "x", null, 0)), null, ts)
    assert(Dispatcher.extract(doc).isLeft)
  }

  test("documents nested 10^5 deep extract the same on a 256 KiB and an 8 MiB thread stack") {
    val n = 100000
    def doc(fmt: String, raw: String) = Doc("d", fmt, "ADS", "/x/d", Vector(Span("raw", raw, null, 0)), null, ts)
    val deep = Seq(
      doc("xml", "<article><body>" + "<sec><p>a</p>" * n + "deep" + "</sec>" * n + "</body></article>"),
      doc("html", "<html><body>" + "<div>x " * n + "deep" + "</div>" * n + "</body></html>"),
      doc("xml", "<article><body>" + "<p>t " * n + "</body></article>")) // unclosed <p>
    def onStack(bytes: Long, d: Doc): Either[String, Extracted] = {
      var out: Either[String, Extracted] = null
      val t = new Thread(null, () => out = Dispatcher.extract(d), "extract-stack", bytes)
      t.start(); t.join()
      out
    }
    deep.foreach { d =>
      val small = onStack(256L * 1024, d)
      assert(small.isRight, small)
      assert(small.toOption.get.fulltext.length > n)
      assert(onStack(8L * 1024 * 1024, d) == small)
    }
  }

  test("Elsevier provider routes xml to the Elsevier rule set (extraction.py:1227-1230)") {
    val raw = "<doc xmlns:ja=\"x\"><ja:body><p>ELS BODY</p></ja:body></doc>"
    val doc = Doc("b4", "xml", "Elsevier", "/x/y/b4.xml", Vector(Span("raw", raw, null, 0)), null, ts)
    val r = Dispatcher.extract(doc).toOption.get
    assert(r.fulltext == "ELS BODY")
  }
}
