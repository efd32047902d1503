package graft.core.rules

import graft.core.xml.MiniPath
import graft.core.xml.MiniPath.{ContainsAttr, Path, Pred, Step}

/** Declarative field-extraction rule tables — the Scala re-expression of the
  * reference's META_CONTENT (adsft/rules.py:4-101). Order matters: results of
  * successive xpaths are appended (with containment dedup) and string fields
  * are '\n'-joined (adsft/extraction.py:885-966, rules.py:1-3 comment).
  * `xpaths` keeps the reference's strings; `paths` is them compiled, once.
  */
final case class FieldRule(
    name: String,
    xpaths: Vector[String],
    isList: Boolean,
    attr: String = "xlink:href"
) {
  val paths: Vector[Path] = xpaths.map(MiniPath.compile)
}

object Rules {

  /** JATS/NLM-style publisher XML (rules.py:5-36). */
  val xml: Vector[FieldRule] = Vector(
    FieldRule("fulltext", Vector(
      "//body",
      "//section[@type=\"body\"]",
      "//journalarticle-body",
      "//bdy",
      "//app-group",
      "//section[not(@type=\"acknowledgments\" or @type=\"dataAccess\" or @type=\"dataAvailability\" or @type=\"superSection\")]"
    ), isList = false),
    FieldRule("acknowledgements", Vector(
      "//ack",
      "//section[@type=\"acknowledgments\"]",
      "//subsection[@type=\"acknowledgement\" or @type=\"acknowledgment\"]"
    ), isList = false),
    FieldRule("dataset", Vector("//named-content[@content-type=\"dataset\"]"), isList = true),
    FieldRule("facility", Vector("//named-content[@content-type=\"facility\"]"), isList = true)
  )

  /** Grobid TEI output (rules.py:37-50). */
  val teixml: Vector[FieldRule] = Vector(
    FieldRule("fulltext", Vector("//body"), isList = false),
    FieldRule("acknowledgements", Vector("//div[@type=\"acknowledgement\"]"), isList = false)
  )

  /** Elsevier ja:/ce: XML (rules.py:51-76). */
  val xmlelsevier: Vector[FieldRule] = Vector(
    FieldRule("fulltext", Vector("//body", "//raw-text", "//appendices"), isList = false),
    FieldRule("acknowledgements", Vector(
      "//acknowledgment",
      "//ack",
      "//section[@type=\"acknowledgments\"]",
      "//subsection[@type=\"acknowledgement\" or @type=\"acknowledgment\"]",
      "//*[local-name()=\"acknowledgment\"]"
    ), isList = false),
    FieldRule("dataset", Vector("//named-content[@content-type=\"dataset\"]"), isList = true)
  )

  def forMeta(metaName: String): Vector[FieldRule] = metaName match {
    case "xml"         => xml
    case "teixml"      => teixml
    case "xmlelsevier" => xmlelsevier
    case other         => throw new IllegalArgumentException(s"unknown meta name: $other")
  }

  /** Elements whose subtrees are dropped (tail text preserved) before field
    * extraction (adsft/extraction.py:729-731). The processing-instruction
    * entry of the reference list is handled by the raw-string pre-pass.
    */
  val killList: Vector[Path] = Vector(
    "//table", "//graphic", "//disp-formula", "//inline-formula",
    "//formula", "//tex-math", "//bibliography"
  ).map(MiniPath.compile)

  /** Acknowledgment-bearing nodes are moved out of their parent before
    * extraction so body text excludes them (adsft/extraction.py:733-735 —
    * note the reference always uses the *xml* table's ack xpaths here, for
    * every format; mirrored exactly).
    */
  val ackRelocate: Vector[Path] =
    xml.find(_.name == "acknowledgements").get.paths

  /** HTML extraction xpaths (rules.py:77-95). */
  object Html {
    val introduction: Vector[Path] = Vector(
      "//h2[contains(.,\"ntroduction\")]",
      "//h3[contains(.,\"ntroduction\")]",
      "//p[contains(.,\"Abstract\")]"
    ).map(MiniPath.compile)
    val references: Path = MiniPath.compile("//h2[contains(.,\"References\")]")
    val table: Path = MiniPath.compile("//table")

    /** `//a[contains(@href, "<tableName>")]`, built directly: a companion's
      * file name is data, so no character in it can change the query.
      */
    def tableLinks(tableName: String): Path =
      Path(Vector(Step("a", Some(Pred(Vector(ContainsAttr("href", tableName)), negated = false)))))
  }
}
