package graft.core

import scala.util.control.NonFatal

/** HTTP source extractor (reference StandardExtractorHTTP,
  * adsft/extraction.py:1004-1107 — "no use case" in production per its own
  * docstring, but implemented and tested there; same here).
  *
  * Semantics mirrored:
  *  - GET `ft_source` with `User-Agent: ADSClient`, `Accept: text/plain`
  *    (extraction.py:1029-1030)
  *  - optional `If-Modified-Since` from the previous extraction timestamp
  *    (extraction.py:1032-1037; NOTE the reference reads a
  *    `PREVIOUS_TIME_STAMP` key its own TODO admits "cannot be found ...
  *    silently failing forever", so in practice it never sent the header —
  *    we implement the intended behavior behind an Option)
  *  - any non-200 status is an error (extraction.py:1052-1055); the Spark
  *    stage turns it into an error-channel row, not a task failure
  *  - the body goes through the same text-cleaning kernel as txt/ocr
  *    (translate=True, decode=True, normalise, trim — extraction.py:1098-1103)
  *
  * The transport is injectable so the extractor is unit-testable without a
  * network (the reference tests use HTTPretty the same way,
  * extraction.py tests :975-1085); [[defaultTransport]] uses the JDK client.
  */
object HttpExtractor {

  final case class Response(status: Int, body: String)

  /** (url, headers) => response */
  type Transport = (String, Map[String, String]) => Response

  def requestHeaders(previousTimestamp: Option[java.time.Instant]): Map[String, String] = {
    val base = Map("User-Agent" -> "ADSClient", "Accept" -> "text/plain")
    previousTimestamp match {
      case Some(ts) =>
        // RFC 7231 IMF-fixdate: 2-digit day and a LITERAL "GMT" zone. A "zzz"
        // pattern at ZoneOffset.UTC renders "Z", which compliant servers
        // ignore as malformed — the conditional GET would silently never
        // take effect (the exact failure mode this header exists to fix).
        val fmt = java.time.format.DateTimeFormatter
          .ofPattern("EEE, dd MMM yyyy HH:mm:ss 'GMT'", java.util.Locale.US)
          .withZone(java.time.ZoneOffset.UTC)
        base + ("If-Modified-Since" -> fmt.format(ts))
      case None => base
    }
  }

  /** Fetch + clean. Left = transport/status error (error side-channel). */
  def extract(url: String, transport: Transport,
      previousTimestamp: Option[java.time.Instant] = None): Either[String, String] = {
    val resp =
      try transport(url, requestHeaders(previousTimestamp))
      catch {
        case ie: InterruptedException =>
          Thread.currentThread().interrupt(); throw ie
        case NonFatal(e) =>
          return Left(s"http transport error: ${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("")}")
      }
    if (resp.status != 200) Left(s"Status code not 200: ${resp.status}")
    else Right(CleanText.run(Option(resp.body).getOrElse(""),
      translateFlag = true, normaliseFlag = true, trimFlag = true))
  }

  /** Real network transport (JDK HttpClient): what [[Dispatcher.extract]]
    * and so the Spark extract stage use for a payload-less http doc. It
    * times out like Grobid ([[GrobidExtractor.TimeoutMs]]), so a silent
    * server cannot hold a task forever.
    */
  lazy val defaultTransport: Transport = transport(java.time.Duration.ofMillis(GrobidExtractor.TimeoutMs))

  /** A JDK-client transport whose connect and request each give up after
    * `timeout`, a transport error.
    */
  private[core] def transport(timeout: java.time.Duration): Transport = {
    // one shared client, created on FIRST request: merely referencing the
    // transport (every Dispatcher.extract call does) spawns no selector thread
    lazy val client = java.net.http.HttpClient.newBuilder().connectTimeout(timeout).build()
    (url, headers) => {
      val builder = java.net.http.HttpRequest.newBuilder(java.net.URI.create(url)).timeout(timeout)
      headers.foreach { case (k, v) => builder.header(k, v) }
      val resp = client.send(builder.GET().build(),
        java.net.http.HttpResponse.BodyHandlers.ofString())
      Response(resp.statusCode(), resp.body())
    }
  }
}
