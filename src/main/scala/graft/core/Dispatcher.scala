package graft.core

import scala.util.control.NonFatal

/** Format dispatch + per-document driver — the Scala re-expression of
  * EXTRACTOR_FACTORY and `extract_content`
  * (adsft/extraction.py:1177-1269, checker routing extraction.py:1227-1230).
  *
  * Semantics mirrored:
  *  - accepted-format whitelist (extraction.py:1207); anything else is an
  *    error result (routed to the error side-output by the Spark stage
  *    instead of failing the job)
  *  - `(format=xml, provider=Elsevier)` dispatches to the Elsevier rule set
  *  - a document may carry several source parts (multiple `raw` spans — the
  *    comma-joined multi-file case, adsft/utils.py:286-312); parts are
  *    extracted independently and merged: string fields joined with a single
  *    space, list fields concatenated (extraction.py:1248-1256), span
  *    sequences concatenated with offsets renumbered
  *  - txt/ocr/http passthrough cleaning with translate=True, decode=True
  *    (extraction.py:66-136)
  *  - on PDF extraction failure, one degraded retry with image runs dropped
  *    (mirrors the pdftotext-timeout -> ghostscript-vector-strip fallback,
  *    scripts/extract_pdf_with_pdftotext.sh:13-53)
  */
object Dispatcher {

  val AcceptedFormats: Set[String] =
    Set("xml", "teixml", "html", "txt", "ocr", "http", "pdf", "pdf-grobid")

  /** Grobid dispatch configuration: the service endpoint (the reference's
    * GROBID_SERVICE, config.py:8 — None there by default, None here too)
    * plus an injectable transport.
    */
  final case class GrobidConfig(
      service: Option[String],
      transport: GrobidExtractor.Transport = GrobidExtractor.defaultTransport)

  def extract(doc: Doc): Either[String, Extracted] =
    extract(doc, HttpExtractor.defaultTransport)

  def extract(doc: Doc, transport: HttpExtractor.Transport): Either[String, Extracted] =
    extract(doc, transport, None)

  /** Variant with an injectable HTTP transport (unit tests; servers behind
    * auth). Only consulted for `http`-format docs that carry NO payload
    * spans — a pre-fetched http doc (spans present) is cleaned like txt,
    * mirroring that the reference's HTTP extractor inherits the basic-text
    * parse path (extraction.py:1004-1012).
    *
    * `grobid`: pdf-grobid docs dispatch to [[GrobidExtractor]] when a config
    * is supplied (reference semantics: service failures yield EMPTY fulltext,
    * never an error). With no config — the reference's own default,
    * config.py:8 — the row goes to the error side-channel instead, which is
    * the one deliberate deviation: a pipeline that routes docs to a queue
    * nobody serves should say so rather than silently emit empty documents.
    */
  def extract(doc: Doc, transport: HttpExtractor.Transport,
      grobid: Option[GrobidConfig]): Either[String, Extracted] = {
    val fmt = if (doc.format == null) "" else doc.format.toLowerCase
    if (!AcceptedFormats.contains(fmt))
      return Left(s"unsupported file format: ${doc.format}")
    try {
      fmt match {
        case "http" if rawParts(doc).isEmpty =>
          HttpExtractor.extract(doc.source_path, transport).map { cleaned =>
            val spans = if (cleaned.nonEmpty) Vector(Span("text", cleaned, null, 0)) else Vector.empty[Span]
            Extracted(spans, cleaned, "", Vector.empty, Vector.empty)
          }
        case "txt" | "ocr" | "http" => Right(extractText(doc))
        case "pdf"                  => Right(extractPdf(doc))
        case "pdf-grobid" =>
          grobid match {
            case Some(cfg) =>
              // payload bytes round-trip through the raw span as ISO-8859-1
              // (byte-preserving); one POST per part, parts merged like any
              // other multi-part doc
              val parts = rawParts(doc).map { raw =>
                val ft = GrobidExtractor.extract(
                  raw.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1),
                  cfg.service, cfg.transport)
                val spans =
                  if (ft.nonEmpty) Vector(Span("text", ft, null, 0))
                  else Vector.empty[Span]
                Extracted(spans, ft, "", Vector.empty, Vector.empty)
              }
              Right(merge(parts))
            case None =>
              Left("pdf-grobid requires an external Grobid service (disabled; reference config.py:8)")
          }
        case "html"                 => Right(extractHtml(doc))
        case "xml" | "teixml" =>
          val meta =
            if (fmt == "teixml") "teixml"
            else if (doc.provider == "Elsevier") "xmlelsevier"
            else "xml"
          Right(extractXml(doc, meta))
      }
    } catch {
      // fatal JVM errors and task kills are not data: an error row would be
      // retried by runCommitted forever
      case ie: InterruptedException =>
        Thread.currentThread().interrupt(); throw ie
      case NonFatal(e) =>
        Left(s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("")}")
    }
  }

  private def rawParts(doc: Doc): Seq[String] =
    doc.spans.filter(_.kind == "raw").sortBy(_.offset).map(s => Option(s.text).getOrElse(""))

  private def merge(parts: Seq[Extracted]): Extracted = {
    if (parts.isEmpty) return Extracted.empty
    parts.reduce { (a, b) =>
      val spans = a.spans ++ b.spans
      Extracted(
        spans.zipWithIndex.map { case (s, i) => s.copy(offset = i) },
        mergeStr(a.fulltext, b.fulltext),
        mergeStr(a.acknowledgements, b.acknowledgements),
        a.dataset ++ b.dataset,
        a.facility ++ b.facility
      )
    }
  }

  /** `dict_item[item] += ' ' + parsed_content[item]` (extraction.py:1252) —
    * note the reference concatenates unconditionally once the key exists, so
    * empty parts still contribute the joining space; we only join when the
    * left side exists (a key appears on first part extraction).
    */
  private def mergeStr(a: String, b: String): String =
    if (a == null || a.isEmpty) b else if (b == null) a else a + " " + b

  private def extractText(doc: Doc): Extracted = {
    val parts = rawParts(doc).map { raw =>
      val cleaned = CleanText.run(raw, translateFlag = true, normaliseFlag = true, trimFlag = true)
      val spans = if (cleaned.nonEmpty) Vector(Span("text", cleaned, null, 0)) else Vector.empty[Span]
      Extracted(spans, cleaned, "", Vector.empty, Vector.empty)
    }
    merge(parts)
  }

  private def extractXml(doc: Doc, meta: String): Extracted = {
    val parts = rawParts(doc).map { raw =>
      val r = XmlExtractor.extract(raw, meta)
      Extracted(r.spans, r.fulltext, r.acknowledgements, r.dataset, r.facility)
    }
    merge(parts)
  }

  private def extractHtml(doc: Doc): Extracted = {
    val tables = doc.spans.filter(_.kind == "table").sortBy(_.offset)
      .map(s => (Option(s.media_ref).getOrElse(""), Option(s.text).getOrElse("")))
    val parts = rawParts(doc).map { raw =>
      val r = HtmlExtractor.extract(raw, tables)
      Extracted(r.spans, r.fulltext, "", Vector.empty, Vector.empty)
    }
    merge(parts)
  }

  private def extractPdf(doc: Doc): Extracted = {
    val result =
      try PdfExtractor.extract(doc.spans)
      catch {
        case NonFatal(_) =>
          // degraded retry: drop image runs (gs -dFILTERVECTOR analog)
          PdfExtractor.extract(doc.spans.filter(_.kind == "run"))
      }
    Extracted(result.spans, result.fulltext, "", Vector.empty, Vector.empty)
  }
}
