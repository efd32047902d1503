package graft.spark

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The checker stage — the reference's check-if-extract worker
  * (adsft/checker.py:123-281) as declarative column expressions over a
  * left-outer join with the previous-snapshot table.
  *
  * Plan shape at scale: one shuffle (the state join, sort-merge on doc_id;
  * Catalyst broadcasts automatically when the snapshot side is small). All
  * CASE logic is whole-stage-codegen'd column expressions; no UDFs.
  */
object Checker {

  /** The 7 reasons that trigger (re-)extraction (checker.py:215-217). */
  val NeedsUpdate: Seq[String] = Seq(
    "MISSING_FULL_TEXT", "DIFFERING_FULL_TEXT", "STALE_CONTENT", "STALE_META",
    "NOT_EXTRACTED_BEFORE", "FORCE_TO_EXTRACT", "FORCE_TO_SEND")

  /** file_format derivation: lowercased extension of the source path, or
    * `http` for URLs (checker.py:260-263). Used when the input table does
    * not carry an explicit format column.
    */
  def deriveFormat(sourcePath: Column): Column =
    when(sourcePath.contains("http://") || sourcePath.contains("https://"), "http")
      .otherwise(lower(regexp_extract(sourcePath, "\\.([^./]+)$", 1)))

  /** Classify every input row. `input` must have columns
    * (doc_id, format, provider, source_path, spans, update_flag, src_mtime);
    * `prev` has (doc_id, prev_ft_source, meta_mtime, fulltext_mtime,
    * prev_malformed). Adds `update_reason` and `route`; keeps all input
    * columns. Rows NOT needing update carry a null/IGNORE reason — use
    * [[filterNeedsUpdate]] to keep the to-extract set.
    */
  def classify(input: DataFrame, prev: DataFrame): DataFrame = {
    val joined = input.alias("i").join(
      prev.alias("p"),
      col("i.doc_id") === col("p.doc_id"),
      "left_outer")

    // meta_needs_update (checker.py:123-192), evaluated in the reference's order
    val metaUpdate =
      when(col("p.prev_malformed"), "STALE_META")
        .when(col("p.prev_ft_source").isNull, "MISSING_FULL_TEXT")
        .when(col("p.prev_ft_source") =!= col("i.source_path"), "DIFFERING_FULL_TEXT")
        .when(col("i.src_mtime") > col("p.meta_mtime"), "STALE_CONTENT")
        .when(col("p.meta_mtime") > col("p.fulltext_mtime"), "STALE_CONTENT")
        .otherwise(lit(null).cast("string"))

    // check_if_extract precedence (checker.py:222-237)
    val update0 =
      when(col("i.update_flag") === "FORCE_TO_EXTRACT", "FORCE_TO_EXTRACT")
        .when(col("i.update_flag") === "FORCE_TO_SEND", "FORCE_TO_SEND")
        .when(col("p.doc_id").isNull, "NOT_EXTRACTED_BEFORE")
        .otherwise(metaUpdate)

    // zero-byte / missing-source overrides run AFTER the above (checker.py:239-248);
    // a doc is zero-byte unless some span has a non-empty text, and `exists`
    // stops at the first one
    val hasText = exists(col("i.spans"), s => coalesce(s.getField("text"), lit("")) =!= "")
    val update =
      when(col("i.spans").isNull, "IGNORE_NON_EXISTENT_FT_SOURCE")
        .when(!hasText, "IGNORE_ZERO_BYTE_FT_SOURCE")
        .otherwise(update0)

    // PDF routing to its own queue (checker.py:266-277)
    val route = when(lower(col("i.format")) === "pdf", "PDF").otherwise("Standard")
    joined.select(
      input.columns.map(c => col(s"i.$c")) :+
        update.as("update_reason") :+ route.as("route"): _*)
  }

  /** Keep only rows whose reason is in the NEEDS_UPDATE set (checker.py:252). */
  def filterNeedsUpdate(classified: DataFrame): DataFrame =
    classified.filter(col("update_reason").isin(NeedsUpdate: _*))
}
