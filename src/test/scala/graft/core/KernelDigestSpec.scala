package graft.core

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

import org.scalatest.funsuite.AnyFunSuite

import graft.gen.Synth

/** Output gate for kernel refactors: one SHA-256 over `Dispatcher.extract`
  * of a seeded Synth sample, compared with a checked-in digest. It pins the
  * current behaviour, right or wrong, so it complements the fixture goldens
  * rather than replacing them. A new digest is an output change; record why
  * in CHANGES.md.
  *
  * The sample covers every format code (`id % 10`) 300 times, ten mega-docs
  * (text x100, one per code) and a vocabulary with markup tokens (`<p>`,
  * `</x>`, `<b>`, `&amp;`), so the XML and HTML parsers see unclosed and
  * stray tags, and the text paths see entities and non-ASCII letters.
  */
class KernelDigestSpec extends AnyFunSuite {

  private val Expected = "1a81dd36e3bc082d7f1a9f17b847db0f7beb6db11db74f2d7903e2eca1eb104c"

  private val vocab = Array("the", "fast", "key", "order", "sort", "table", "scan", "merge",
    "naïve", "α-decay", "Ångström", "x2", "(see", "Fig.", "1)", "a,b;", "<p>", "</x>", "<b>",
    "</b>", "&amp;", "--", "R&D")

  private def text(rnd: scala.util.Random): String =
    Array.fill(8 + rnd.nextInt(60))(vocab(rnd.nextInt(vocab.length))).mkString(" ")

  private def sample: Iterator[Doc] = {
    val rnd = new scala.util.Random(20261019L)
    val plain = (0L until 3000L).iterator.map(id => Synth.doc(id, text(rnd), s"SRC$id"))
    val mega = (3000L until 3010L).iterator.map(id => Synth.doc(id, (text(rnd) + " ") * 100, s"SRC$id"))
    plain ++ mega
  }

  private def digest(docs: Iterator[Doc]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    def put(s: String): Unit =
      if (s == null) md.update(Array[Byte](-1, -1, -1, -1))
      else {
        val b = s.getBytes(UTF_8)
        md.update(java.nio.ByteBuffer.allocate(4).putInt(b.length).array())
        md.update(b)
      }
    docs.foreach { d =>
      put(d.doc_id)
      Dispatcher.extract(d) match {
        case Left(msg) => put("L"); put(msg)
        case Right(x) =>
          put("R")
          x.spans.foreach { s => put(s.kind); put(s.text); put(s.media_ref); put(s.offset.toString) }
          put(x.fulltext); put(x.acknowledgements)
          x.dataset.foreach(put); put("|"); x.facility.foreach(put)
      }
    }
    md.digest().map(b => f"${b & 0xff}%02x").mkString
  }

  test("Dispatcher.extract over the seeded Synth sample matches the checked-in digest") {
    val got = digest(sample)
    assert(got == Expected, s"kernel output digest changed: $got")
  }
}
