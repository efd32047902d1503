package graft.core

import org.scalatest.funsuite.AnyFunSuite

/** HTTP source semantics vs the reference (adsft/extraction.py:1004-1107,
  * reference tests test_extraction.py:975-1085 via HTTPretty — same
  * injected-transport idea, no network).
  */
class HttpExtractorSpec extends AnyFunSuite {

  private def ok(body: String): HttpExtractor.Transport =
    (_, _) => HttpExtractor.Response(200, body)

  test("200 response body runs through the full cleaning kernel") {
    val r = HttpExtractor.extract("http://host/doc", ok("AB   text  " + "x" * 150))
    assert(r == Right("AB text"))
  }

  test("non-200 is an error, not content (extraction.py:1052-1055)") {
    val r = HttpExtractor.extract("http://host/doc", (_, _) => HttpExtractor.Response(404, "nope"))
    assert(r == Left("Status code not 200: 404"))
  }

  test("transport exceptions become errors (error side-channel, never throws)") {
    val r = HttpExtractor.extract("http://host/doc", (_, _) => throw new RuntimeException("refused"))
    assert(r.isLeft && r.swap.toOption.get.contains("refused"))
  }

  test("request headers: ADSClient UA always; If-Modified-Since only with a prior timestamp") {
    assert(HttpExtractor.requestHeaders(None) ==
      Map("User-Agent" -> "ADSClient", "Accept" -> "text/plain"))
    val ts = java.time.Instant.parse("2026-01-01T00:00:00Z")
    val h = HttpExtractor.requestHeaders(Some(ts))
    // RFC 7231 IMF-fixdate: 2-digit day, literal GMT (not "Z")
    assert(h("If-Modified-Since") == "Thu, 01 Jan 2026 00:00:00 GMT")
    assert(h("User-Agent") == "ADSClient")
  }

  test("dispatcher: http doc without payload spans fetches via the transport") {
    var seen: (String, Map[String, String]) = null
    val transport: HttpExtractor.Transport = (url, headers) => {
      seen = (url, headers)
      HttpExtractor.Response(200, "served  body")
    }
    val doc = Doc("h1", "http", "p", "http://host/a.txt", Vector.empty, "", null)
    val r = Dispatcher.extract(doc, transport)
    assert(r.map(_.fulltext) == Right("served body"))
    assert(seen._1 == "http://host/a.txt")
    assert(seen._2("User-Agent") == "ADSClient")
  }

  private val urlOnly = Doc("h3", "http", "p", "http://host/a.txt", Vector.empty, "", null)

  test("dispatcher: a transport interrupt is rethrown with the interrupt flag set, not an error row") {
    val transport: HttpExtractor.Transport = (_, _) => throw new InterruptedException("task killed")
    assertThrows[InterruptedException](Dispatcher.extract(urlOnly, transport))
    assert(Thread.interrupted()) // also clears the flag for the tests that follow
  }

  test("dispatcher: a fatal JVM error from the transport is rethrown, not an error row") {
    val transport: HttpExtractor.Transport = (_, _) => throw new OutOfMemoryError("heap")
    assertThrows[OutOfMemoryError](Dispatcher.extract(urlOnly, transport))
  }

  test("dispatcher: a transport IOException is still an error row") {
    val transport: HttpExtractor.Transport = (_, _) => throw new java.io.IOException("reset")
    val r = Dispatcher.extract(urlOnly, transport)
    assert(r == Left("http transport error: IOException: reset"))
  }

  test("a server that accepts and never answers is a transport error within the timeout") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    val release = new java.util.concurrent.CountDownLatch(1)
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress(java.net.InetAddress.getLoopbackAddress, 0), 0)
    server.createContext("/", _ => release.await()) // read the request, never respond
    server.start()
    try {
      val url = s"http://127.0.0.1:${server.getAddress.getPort}/doc"
      val t0 = System.nanoTime()
      // the deadline turns a hang into a failure instead of a stuck suite
      val r = Await.result(Future(HttpExtractor.extract(url,
        HttpExtractor.transport(java.time.Duration.ofMillis(300)))), 30.seconds)
      val sec = (System.nanoTime() - t0) / 1e9
      assert(r.isLeft && r.swap.toOption.get.startsWith("http transport error: HttpTimeoutException"), r)
      assert(sec < 10.0, f"took $sec%.2f s")
    } finally { release.countDown(); server.stop(0) }
  }

  test("dispatcher: pre-fetched http doc (payload spans) cleans like txt, no fetch") {
    val transport: HttpExtractor.Transport =
      (_, _) => throw new AssertionError("must not fetch")
    val doc = Doc("h2", "http", "p", "http://host/a.txt",
      Vector(Span("raw", "already  here", null, 0)), "", null)
    assert(Dispatcher.extract(doc, transport).map(_.fulltext) == Right("already here"))
  }
}
