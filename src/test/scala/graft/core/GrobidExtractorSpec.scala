package graft.core

import org.scalatest.funsuite.AnyFunSuite

/** E12 Grobid extractor semantics (reference GrobidPDFExtractor,
  * adsft/extraction.py:1133-1173) with an injected transport, golden-checked
  * against a hand-written multi-line Grobid TEI response in the shape of the
  * reference's stub (`test.astro-ph-0002105.tei.xml`).
  */
class GrobidExtractorSpec extends AnyFunSuite {

  private val teiStub = {
    val in = getClass.getResourceAsStream("/grobid/astro-ph-0002105.tei.xml")
    try new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8) finally in.close()
  }

  private def ok(body: String): GrobidExtractor.Transport =
    (_, _, _) => HttpExtractor.Response(200, body)

  test("200 response: the TEI XML string IS the fulltext, cleaned (no TEI parse)") {
    val got = GrobidExtractor.extract(Array[Byte](1, 2, 3), Some("http://grobid.local"), ok(teiStub))
    // reference stores the XML verbatim through the cleaner: tags survive,
    // whitespace runs collapse (trimwords), no translate
    assert(got == CleanText.run(teiStub, translateFlag = false,
      normaliseFlag = true, trimFlag = true))
    assert(got.contains("<TEI xmlns=\"http://www.tei-c.org/ns/1.0\">"))
    assert(got.contains("The NASA Astrophysics Data System: Architecture"))
    assert(!got.contains("\n")) // trimwords collapsed line structure
  }

  test("non-200 / transport error / no service: empty fulltext, never a failure") {
    val payload = Array[Byte](9)
    assert(GrobidExtractor.extract(payload, Some("http://x"),
      (_, _, _) => HttpExtractor.Response(503, "busy")) == "")
    assert(GrobidExtractor.extract(payload, Some("http://x"),
      (_, _, _) => throw new java.io.IOException("timeout")) == "")
    assert(GrobidExtractor.extract(payload, None, ok(teiStub)) == "")
  }

  test("transport receives the service url, the 'input' field name, and the raw payload bytes") {
    var seen: (String, String, Seq[Byte]) = null
    val spy: GrobidExtractor.Transport = (url, field, bytes) => {
      seen = (url, field, bytes.toSeq)
      HttpExtractor.Response(200, "<TEI/>")
    }
    val payload = Array[Byte](37, 80, 68, 70, -1, 0, 7) // binary incl. high/zero bytes
    GrobidExtractor.extract(payload, Some("http://grobid:8070/api/processFulltextDocument"), spy)
    assert(seen._1 == "http://grobid:8070/api/processFulltextDocument")
    assert(seen._2 == "input")
    assert(seen._3 == payload.toSeq)
  }

  test("dispatcher: pdf-grobid routes through the configured service; payload bytes round-trip") {
    val raw = new String(Array[Byte](37, 80, 68, 70, -119, 0, 7),
      java.nio.charset.StandardCharsets.ISO_8859_1)
    val doc = Doc("B1", "pdf-grobid", "ADS", "/s/B1.pdf",
      Vector(Span("raw", raw, null, 0)), null, null)
    var posted: Seq[Byte] = null
    val cfg = Dispatcher.GrobidConfig(Some("http://grobid.local"),
      (_, _, bytes) => { posted = bytes.toSeq; HttpExtractor.Response(200, teiStub) })
    val got = Dispatcher.extract(doc, HttpExtractor.defaultTransport, Some(cfg))
    assert(posted == raw.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1).toSeq)
    val ex = got.toOption.get
    assert(ex.fulltext == CleanText.run(teiStub, translateFlag = false,
      normaliseFlag = true, trimFlag = true))
    assert(ex.spans.map(_.kind) == Vector("text"))

    // service failure -> EMPTY fulltext row, not an error (reference
    // never-fail contract, extraction.py:1146-1167)
    val down = Dispatcher.GrobidConfig(Some("http://grobid.local"),
      (_, _, _) => HttpExtractor.Response(500, "err"))
    val gotDown = Dispatcher.extract(doc, HttpExtractor.defaultTransport, Some(down))
    assert(gotDown == Right(Extracted(Vector.empty, "", "", Vector.empty, Vector.empty)))

    // no config (the reference's own default): error side-channel
    assert(Dispatcher.extract(doc).isLeft)
  }
}
