package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.GraftColumnBridge.collectTopK
import org.apache.spark.sql.functions._

/** Text-analysis operators for training-data curation: language ID, quality
  * scoring, token counting, fingerprinting. All pure column expressions
  * (whole-stage codegen; no UDFs) so they survive a 100x scale-up as a
  * single scan with map-side work only.
  */
object TextAnalysis {

  /** tiny per-language stopword gazetteers (deterministic n-gram heuristic) */
  val stopwords: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "of", "and", "to", "a", "in", "is", "that", "it", "for"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ein", "mit", "auf", "zu"),
    "es" -> Seq("el", "la", "los", "las", "es", "un", "una", "por", "para", "que"),
    "fr" -> Seq("le", "la", "les", "est", "un", "une", "et", "dans", "pour", "que"),
    "zh" -> Seq("de", "shi", "bu", "le", "zai", "ren", "you", "wo", "ta", "zhe")
  )

  /** THE corpus tokenizer — the single whitespace-split contract shared by
    * every token-level operator in `graft.ops` (token counts, packing,
    * block materialization, n-gram dedup) AND mirrored by the DuckDB
    * oracle. The whitespace class is explicit (` \t\n\x0B\f\r`, exactly
    * Java's ASCII `\s`) rather than `\s` because Java and RE2 disagree on
    * `\s` (RE2 omits U+000B) — with the explicit class both engines split
    * identically on every input, not just inputs that avoid vertical tabs.
    * Evaluated by the native one-pass byte-scan kernel
    * ([[graft.spark.TextFunctions.wordsArray]] — byte-identical to the
    * interpreted `filter(split(text, WhitespaceRe), len > 0)` it replaced,
    * but codegen'd and immune to the inferred-Generate-filter cloning that
    * re-ran the regex per consumer). Change the class in lockstep with
    * `SparkEntry.WORDS` (and the kernel) or Spark-vs-oracle tokenization
    * silently skews.
    */
  def words(textCol: Column): Column =
    graft.spark.TextFunctions.wordsOf(textCol)

  /** The [[words]] whitespace class as a Java regex pattern — the ONE
    * spelling shared by the Column splitter above and the typed kernels
    * ([[ngramRepetition]]) so the split contract cannot fork per call
    * site. Same lockstep rule as [[words]] vs `SparkEntry.WORDS`.
    */
  val WhitespaceRe = "[ \\t\\n\\x0B\\f\\r]+"

  /** The BPE-ish token pattern (letter runs | digit runs | single other
    * non-whitespace char) shared by [[tokenCounts]] and [[langTokenBudget]]
    * and mirrored by the q21/q83 oracles — one definition, same lockstep
    * rule as [[words]].
    */
  val BpeTokenRe = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \\t\\n\\x0B\\f\\r]"

  private def countIn(ws: Column, list: Seq[String]): Column =
    size(filter(ws, w => w.isInCollection(list)))

  /** argmax of stopword overlap; ties broken by declaration order
    * (en, de, es, fr, zh). Adds `lang_pred` and per-language hit counts.
    */
  def langId(docs: DataFrame, textCol: String = "text"): DataFrame = {
    // `_ws` staged once (then dropped below): inlining `words` into each
    // per-language hit column re-ran the interpreted split once per
    // language per row (HOFs get no codegen subexpression elimination)
    val withScores = stopwords.foldLeft(
        docs.withColumn("_ws", words(col(textCol)))) { case (df, (lang, list)) =>
      df.withColumn(s"hits_$lang", countIn(col("_ws"), list))
    }.drop("_ws")
    // argmax with declaration-order tie-break, expressed as nested CASE
    val maxHits = stopwords.map(t => col(s"hits_${t._1}")).reduce((a, b) => greatest(a, b))
    val pred = stopwords.map(_._1).reverse.foldLeft(lit("und")) { (acc, lang) =>
      when(col(s"hits_$lang") === maxHits && maxHits > 0, lang).otherwise(acc)
    }
    withScores.withColumn("lang_pred", pred)
  }

  /** Integer-valued quality features (integers so a cross-engine oracle can
    * hash-compare exactly): token count, character count, long-token count,
    * stopword hits, and a bucketed quality class.
    */
  def quality(docs: DataFrame, textCol: String = "text"): DataFrame = {
    // `_ws` staged once, and the bucket CASE reads the already-computed
    // feature COLUMNS: the previous form re-embedded the full `words`
    // split in every feature and twice more in the bucket (~6 interpreted
    // splits per row)
    docs
      .withColumn("_ws", words(col(textCol)))
      .withColumn("n_tokens", size(col("_ws")))
      .withColumn("n_chars_obs", length(col(textCol)))
      .withColumn("long_tokens", size(filter(col("_ws"), w => length(w) >= 15)))
      .withColumn("stop_hits", countIn(col("_ws"), stopwords.head._2))
      .withColumn("quality_bucket",
        when(col("n_tokens") < 16, "short")
          .when(col("stop_hits") * 10 >= col("n_tokens"), "fluent")
          .otherwise("list-like"))
      .drop("_ws")
  }

  /** Whitespace tokens + a BPE-ish regex token count (letters / digits /
    * single punctuation, the usual pre-tokenizer shape).
    */
  def tokenCounts(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs
      .withColumn("ws_tokens", size(words(col(textCol))))
      .withColumn("bpe_tokens",
        size(regexp_extract_all(col(textCol), lit(BpeTokenRe), lit(0))))

  /** Corpus-wide adjacent-token pair counts — the first decision a BPE
    * tokenizer trainer makes ("which pair merges first?") and the shape
    * every subsequent merge iteration repeats: count occurrences of each
    * adjacent ([[BpeTokenRe]]) token pair and return the top `k` by
    * (count desc, pair asc — a total order, so the cut is deterministic).
    * Tokens never contain whitespace, so the space-joined pair string is
    * unambiguous. Docs with < 2 tokens (or NULL text) contribute nothing.
    *
    * Scale shape: codegen'd tokenize + pair projection on the scan, one
    * explode, ONE groupBy(pair) with map-side partial aggregation (the
    * shuffle carries distinct pairs per task, not occurrences), then
    * TakeOrdered(k) — no global sort, no window. This is exactly the
    * counting job real BPE trainers distribute.
    */
  def bpePairStats(docs: DataFrame, k: Int = 32, textCol: String = "text"): DataFrame = {
    require(k > 0, "k must be positive")
    // materialize the token array ONCE per row (the Dedup.shingled pattern):
    // inlining the regexp into the transform() lambda would re-tokenize the
    // whole document per pair index — higher-order lambdas are outside
    // subexpression elimination, so that inlining is quadratic per doc
    val toks = col("_toks")
    val idxs = when(size(toks) >= 2, sequence(lit(1), size(toks) - 1))
      .otherwise(lit(Array.empty[Int]))
    val pairs = transform(idxs,
      i => concat(element_at(toks, i), lit(" "), element_at(toks, i + 1)))
    docs
      .withColumn("_toks", regexp_extract_all(col(textCol), lit(BpeTokenRe), lit(0)))
      .select(explode(pairs).as("pair"))
      .groupBy("pair").agg(count(lit(1)).as("n_occurrences"))
      .orderBy(col("n_occurrences").desc, col("pair"))
      .limit(k)
  }

  /** Term-frequency spectrum ("frequency of frequencies"): for each
    * occurrence count c, how many distinct [[words]] terms occur exactly c
    * times corpus-wide. The input to Good-Turing smoothing and the
    * standard corpus-health fingerprint (a healthy natural-language corpus
    * is Zipfian: n_terms(1) dominates; boilerplate-heavy or
    * template-generated corpora bend the curve).
    *
    * Scale shape: two cascaded map-side-combined aggregations — term
    * counts (shuffle carries distinct terms per task, not occurrences),
    * then the count-of-counts over the tiny occurrence domain. No window,
    * no join.
    */
  def termFrequencySpectrum(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs.select(explode(words(col(textCol))).as("term"))
      .groupBy("term").agg(count(lit(1)).as("occurrences"))
      .groupBy("occurrences").agg(count(lit(1)).as("n_terms"))

  /** BPE tokenizer training on the word-frequency table — the shape real
    * distributed trainers use: ONE corpus pass reduces the stream to
    * (word, count) rows, the top `maxWords` words by (count desc, word
    * asc) become the bounded in-memory model, and the merge loop runs on
    * that table (cost O(nMerges × Σ|word|), corpus never re-scanned).
    * Words start as single-character symbol sequences; each round counts
    * adjacent symbol pairs weighted by word count (overlapping
    * occurrences counted, the Sennrich convention), merges the most
    * frequent pair everywhere (greedy left-to-right, non-overlapping),
    * and records it. Ties break by (pair_count desc, lhs asc, rhs asc) —
    * a total order, so training is deterministic.
    *
    * Output: one row per merge, `(rank, lhs, rhs, pair_count)`, rank
    * 1-based in merge order. Stops early (fewer rows) when no pair occurs
    * anymore. The `maxWords` cap bounds driver memory like
    * [[unigramSurprisal]]'s vocabulary and `ivfAnn`'s codebook — the cut
    * is deterministic and the dropped tail is the lowest-count words.
    */
  def bpeTrain(docs: DataFrame, nMerges: Int, maxWords: Int = 65536,
      textCol: String = "text"): DataFrame = {
    require(nMerges > 0 && maxWords > 0, "need nMerges > 0 and maxWords > 0")
    val spark = docs.sparkSession
    import spark.implicits._
    val wordTable = docs.select(explode(words(col(textCol))).as("term"))
      .groupBy("term").agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("term"))
      .limit(maxWords)
      .as[(String, Long)].collect() // bounded by maxWords BY CONSTRUCTION
    var syms: Array[Array[String]] =
      wordTable.map(_._1.map(_.toString).toArray)
    val counts = wordTable.map(_._2)
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    var r = 1
    var done = false
    while (r <= nMerges && !done) {
      val pairCounts = new java.util.HashMap[(String, String), Long]
      var w = 0
      while (w < syms.length) {
        val s = syms(w)
        var i = 0
        while (i < s.length - 1) {
          pairCounts.merge((s(i), s(i + 1)), counts(w), (a, b) => a + b)
          i += 1
        }
        w += 1
      }
      if (pairCounts.isEmpty) done = true
      else {
        var best: (String, String) = null
        var bestC = 0L
        pairCounts.forEach { (p, c) =>
          if (c > bestC || (c == bestC &&
              (p._1 < best._1 || (p._1 == best._1 && p._2 < best._2)))) {
            best = p; bestC = c
          }
        }
        merges += ((r, best._1, best._2, bestC))
        // greedy left-to-right non-overlapping replacement in every word
        syms = syms.map { s =>
          if (s.length < 2) s
          else {
            val out = scala.collection.mutable.ArrayBuffer.empty[String]
            var i = 0
            while (i < s.length) {
              if (i < s.length - 1 && s(i) == best._1 && s(i + 1) == best._2) {
                out += s(i) + s(i + 1); i += 2
              } else { out += s(i); i += 1 }
            }
            out.toArray
          }
        }
        r += 1
      }
    }
    merges.toSeq.toDF("rank", "lhs", "rhs", "pair_count")
  }

  /** Document fingerprint: minimum md5 over word 5-gram shingles (a
    * winnowing-style content fingerprint robust to reordering of far-apart
    * sections); md5(text) when the doc has < 5 words.
    */
  def fingerprint(docs: DataFrame, textCol: String = "text", n: Int = 5): DataFrame = {
    // one-pass kernel shingling ([[graft.spark.TextFunctions.wordShingles]])
    // staged as a real column: the previous transform-over-sequence form
    // re-ran the interpreted `words` split at every lambda reference
    // (~250 regex splits per row; 54 s noop-sink for a 500k-doc corpus vs
    // ~2 s now). min(md5) is invariant under the kernel's distinctness —
    // duplicate shingles cannot change a minimum — and `size > 0` is
    // exactly the old `size(words) >= n` (shingles exist iff n words do).
    val sh = graft.spark.TextFunctions.wordShingles(col(textCol), n)
    docs.withColumn("_sh", sh)
      .withColumn("fingerprint",
        when(size(col("_sh")) > 0, array_min(transform(col("_sh"), s => md5(s))))
          .otherwise(md5(col(textCol))))
      .drop("_sh")
  }

  /** PII patterns kept to constructs whose match semantics agree between
    * Java regex (Spark) and RE2 (DuckDB/oracle): character classes, bounded
    * repetition, no lookaround, no backtracking-sensitive alternation.
    */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val Ipv4Re = "[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}"
  val PhoneRe = "\\+[0-9]{1,2} [0-9]{3} [0-9]{4}"
  /** full (8-group) IPv6 form; `\b` is an ASCII word boundary in both
    * Java regex and RE2, and hex groups are word characters in both
    */
  val Ipv6Re = "\\b[0-9A-Fa-f]{1,4}(?::[0-9A-Fa-f]{1,4}){7}\\b"
  /** payment-card candidate: a 13-16 digit run NOT embedded in a longer
    * run (`\b` on both ends — neither engine matches inside a 20-digit
    * run). Candidates are counted only when they pass the Luhn checksum,
    * computed as a post-filter COLUMN EXPRESSION (not regex — checksums
    * are beyond a regular language); redaction stays conservative and
    * masks every card-shaped run.
    */
  val CardRe = "\\b[0-9]{13,16}\\b"

  /** Luhn checksum validity of a digit-string column: from the right,
    * double every second digit (subtracting 9 when it overflows), sum,
    * valid iff % 10 == 0. Pure nested higher-order column expression.
    */
  def luhnValid(c: Column): Column = {
    val n = length(c)
    val total = aggregate(sequence(lit(1), n), lit(0), { (acc, i) =>
      val d = c.substr(n - i + 1, lit(1)).cast("int")
      val v = when(i % 2 === 0, when(d * 2 > 9, d * 2 - 9).otherwise(d * 2)).otherwise(d)
      acc + v
    })
    total % 10 === 0
  }

  /** PII scrubbing for training-data curation: counts and redacts emails,
    * IPv4/IPv6 addresses, +CC NNN NNNN phone numbers, and Luhn-valid
    * payment-card numbers. Pure column expressions (single scan, codegen,
    * no shuffle). Redaction order is email -> ipv6 -> ipv4 -> phone ->
    * card so a pattern never matches inside an earlier placeholder;
    * counts are taken on the ORIGINAL text. `n_cards` counts only
    * Luhn-VALID candidates ([[luhnValid]] post-filter); redaction masks
    * every card-shaped digit run (conservative scrubbing).
    */
  def piiScrub(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val t = col(textCol)
    docs
      .withColumn("n_emails", size(regexp_extract_all(t, lit(EmailRe), lit(0))))
      .withColumn("n_ipv4", size(regexp_extract_all(t, lit(Ipv4Re), lit(0))))
      .withColumn("n_ipv6", size(regexp_extract_all(t, lit(Ipv6Re), lit(0))))
      .withColumn("n_phones", size(regexp_extract_all(t, lit(PhoneRe), lit(0))))
      .withColumn("n_cards",
        size(filter(regexp_extract_all(t, lit(CardRe), lit(0)), c => luhnValid(c))))
      .withColumn("text_scrubbed", scrubPii(t))
  }

  /** The redaction chain shared by [[piiScrub]] (whole documents) and
    * [[graft.ops.Multimodal.scrubSpans]] (interleaved text spans) —
    * replacement order matters (IPv6 before IPv4: an IPv6 group sequence
    * must not be eaten group-wise by the IPv4 pattern). Card redaction is
    * deliberately unconditional (counting is Luhn-gated, scrubbing is
    * conservative), mirroring the oracle's chain exactly.
    */
  private[ops] def scrubPii(t: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(
          regexp_replace(
            regexp_replace(t, EmailRe, "<EMAIL>"),
            Ipv6Re, "<IPV6>"),
          Ipv4Re, "<IP>"),
        PhoneRe, "<PHONE>"),
      CardRe, "<CARD>")

  /** Total PII hit count of [[scrubPii]]'s five classes (cards Luhn-gated,
    * like [[piiScrub]]'s n_cards).
    */
  private[ops] def piiCount(t: Column): Column =
    size(regexp_extract_all(t, lit(EmailRe), lit(0))) +
      size(regexp_extract_all(t, lit(Ipv4Re), lit(0))) +
      size(regexp_extract_all(t, lit(Ipv6Re), lit(0))) +
      size(regexp_extract_all(t, lit(PhoneRe), lit(0))) +
      size(filter(regexp_extract_all(t, lit(CardRe), lit(0)), c => luhnValid(c)))

  /** C4-style document filters (Raffel et al. 2020 §2.2's heuristics,
    * restated over a single-line corpus): integer-valued features — word
    * count, purely-alphabetic word count and its per-mille-free x100
    * fraction, brace count, ellipsis count, boilerplate marker — and an
    * ORDERED filter flag (first failing rule wins, so the flag is a total
    * function of the features and an oracle can replay the CASE exactly).
    * Pure column expressions: one scan, whole-stage codegen, no shuffle —
    * the per-doc cost is O(len) regardless of corpus size, so the plan is
    * a map-only pass at any scale.
    */
  def qualityFilters(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val t = col(textCol)
    // `_ws` staged once and the derived fraction reading the feature
    // COLUMNS (interpreted HOFs get no codegen subexpression elimination;
    // the single-projection form re-split the text ~4x per row)
    val alphaFrac = when(col("n_words") > 0,
      floor(col("n_alpha_words") * lit(100) / col("n_words"))).otherwise(lit(0L))
    // counted by length difference after replace — exact in both engines
    val nBraces = length(t) - length(regexp_replace(t, "\\{", ""))
    val nEllipsis = (length(t) - length(regexp_replace(t, "\\.\\.\\.", ""))) / 3
    val hasLorem = when(t.contains("lorem ipsum"), 1).otherwise(0)
    docs
      .withColumn("_ws", words(t))
      .withColumn("n_words", size(col("_ws")))
      // full-match alphabetic test: anchored char-class regex agrees between
      // Java regex and RE2 (no lookaround, no backtracking sensitivity)
      .withColumn("n_alpha_words",
        size(filter(col("_ws"), w => w.rlike("^[A-Za-z]+$"))))
      .withColumn("alpha_frac_x100", alphaFrac.cast("long"))
      .drop("_ws")
      .withColumn("n_braces", nBraces)
      .withColumn("n_ellipsis", nEllipsis.cast("int"))
      .withColumn("has_lorem", hasLorem)
      .withColumn("c4_flag",
        when(col("n_words") < 20, "too-short")
          .when(col("has_lorem") === 1 || col("n_braces") > 0, "boilerplate")
          .when(col("n_ellipsis") > 0, "ellipsis")
          .when(col("alpha_frac_x100") < 80, "low-alpha")
          .otherwise("keep"))
  }

  /** Corpus-level document frequency: top-`k` terms by the number of
    * DISTINCT documents containing them (the inverted-index statistic
    * behind idf weighting and stopword discovery). One shuffle with
    * map-side partial aggregation (explode of per-doc DISTINCT words keeps
    * the exploded cardinality at O(doc vocabulary), not O(doc length));
    * the global top-k is a TakeOrdered over the aggregated term counts —
    * only k rows reach the driver, never the vocabulary. Ties broken by
    * term so the top-k SET is deterministic and oracle-comparable.
    */
  def topTerms(docs: DataFrame, textCol: String = "text", k: Int = 20): DataFrame =
    docs
      .select(explode(array_distinct(words(col(textCol)))).as("term"))
      .groupBy("term").agg(count(lit(1)).as("doc_freq"))
      .orderBy(col("doc_freq").desc, col("term"))
      .limit(k)

  /** Gopher-style repetition / structure statistics. The corpus text is a
    * single line, so structure is IMPOSED deterministically: the word
    * stream is cut into fixed `lineWords`-word lines (the same derivation
    * an oracle can replay), then duplicate-line and short-line fractions
    * plus mean word length feed a quality flag. All integer-valued so a
    * cross-engine hash compare is exact.
    */
  def repetitionStats(docs: DataFrame, textCol: String = "text",
      lineWords: Int = 4): DataFrame = {
    // `_ws`/`_lines` staged as REAL columns (then dropped): interpreted
    // higher-order functions get no codegen subexpression elimination, so
    // the previous single-projection form re-evaluated the whole
    // lines-transform — with the `words` split inlined — at every one of
    // its five references (23 s noop-sink for a 500k-doc corpus vs ~2 s
    // now). CollapseProject keeps multi-referenced non-trivial aliases
    // materialized, so each array is built once per row.
    val nw = size(col("_ws"))
    val nLines = floor((nw + lit(lineWords - 1)) / lit(lineWords)).cast("int")
    val nDup = size(col("_lines")) - size(array_distinct(col("_lines")))
    val nShort = size(filter(col("_lines"), l => length(l) < 18))
    val meanLenX100 = when(nw > 0,
      floor(aggregate(col("_ws"), lit(0L), (acc, w) => acc + length(w)) * lit(100) / nw))
      .otherwise(lit(0L)).cast("long")
    docs
      .withColumn("_ws", words(col(textCol)))
      .withColumn("_lines", when(nw > 0,
        transform(sequence(lit(1), nLines),
          i => concat_ws(" ", slice(col("_ws"), (i - 1) * lineWords + 1, lit(lineWords)))))
        .otherwise(array().cast("array<string>")))
      .withColumn("n_lines", size(col("_lines")))
      .withColumn("n_dup_lines", nDup)
      .withColumn("n_short_lines", nShort)
      .withColumn("mean_word_len_x100", meanLenX100)
      .withColumn("gopher_flag",
        when(col("n_lines") > 0 && nDup * 20 >= col("n_lines"), "dup-heavy")
          .when(col("n_lines") > 0 && nShort * 2 >= col("n_lines"), "short-line")
          .otherwise("ok"))
      .drop("_ws", "_lines")
  }

  /** Word n-gram repetition statistics — the n-gram half of the Gopher
    * repetition rules ([[repetitionStats]] covers the line half): for each
    * requested n, the document's total/distinct n-gram counts, the number
    * of n-gram occurrences belonging to DUPLICATED n-grams (count > 1,
    * first occurrence included — Gopher's "fraction of characters in
    * duplicate n-grams" numerator family), and the most frequent n-gram's
    * occurrence count and character length (its "fraction of characters in
    * the top n-gram" signal is `top_occurrences * top_ngram_chars /
    * total_chars`, left to the caller as a ratio of the emitted integers
    * so a cross-engine hash compare stays exact — no floats here). Both
    * char counts are CODEPOINTS, matching [[quality]]'s `n_chars_obs`
    * (Spark `length()`) and the DuckDB `length()` oracle mirror, not
    * UTF-16 code units.
    *
    * Scale shape: ONE typed map, zero shuffle — per-doc n-gram counting is
    * local to the doc, so the kernel is a per-row HashMap bounded by the
    * doc's own length (the same O(doc) bound every extractor kernel
    * carries), not an explode + corpus-wide groupBy on (doc, ngram). The
    * whitespace split is done once per doc; counting is one pass over the
    * split words per requested n.
    *
    * Tie-break for the top n-gram: highest count, then lexicographically
    * smallest n-gram (Java code-unit order; agrees with DuckDB's byte
    * order on ASCII corpora). Docs shorter than n words emit the row with
    * all-zero counts — every input doc appears exactly |ns| times.
    */
  def ngramRepetition(docs: DataFrame, ns: Seq[Int] = Seq(2, 3),
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    require(ns.nonEmpty && ns.forall(_ >= 1), "need n-gram sizes >= 1")
    val spark = docs.sparkSession
    import spark.implicits._
    val nsArr = ns.toArray
    docs.select(col(idCol).cast("long"), col(textCol)).as[(Long, String)]
      .flatMap { case (id, text) =>
        val chars = if (text == null) 0 else text.codePointCount(0, text.length)
        val ws =
          if (text == null) Array.empty[String]
          else text.split(WhitespaceRe).filter(_.nonEmpty)
        nsArr.iterator.map { n =>
          if (ws.length < n) (id, n, chars, 0, 0, 0, 0, 0)
          else {
            val total = ws.length - n + 1
            val counts = new java.util.HashMap[String, Int](total * 2)
            val sb = new java.lang.StringBuilder
            var i = 0
            while (i < total) {
              sb.setLength(0)
              var j = 0
              while (j < n) {
                if (j > 0) sb.append(' ')
                sb.append(ws(i + j))
                j += 1
              }
              counts.merge(sb.toString, 1, (a, b) => a + b)
              i += 1
            }
            var dupOcc = 0
            var topC = 0
            var topG: String = null
            val it = counts.entrySet().iterator()
            while (it.hasNext) {
              val e = it.next()
              val c: Int = e.getValue
              if (c > 1) dupOcc += c
              if (c > topC || (c == topC && e.getKey.compareTo(topG) < 0)) {
                topC = c; topG = e.getKey
              }
            }
            (id, n, chars, total, counts.size, dupOcc, topC,
              topG.codePointCount(0, topG.length))
          }
        }
      }.toDF(idCol, "n", "total_chars", "total_ngrams", "distinct_ngrams",
        "dup_occurrences", "top_occurrences", "top_ngram_chars")
  }

  /** Quality-threshold yield curve — the planning table behind every
    * filter-threshold decision ("where do we cut?"): for each distinct
    * value of an integer quality score, how many documents carry exactly
    * that score and how many documents / how much weight (tokens, bytes)
    * SURVIVE a `score <= threshold` cut at that value. One row per
    * distinct score: (score, n_docs, weight, cum_docs, cum_weight), with
    * the cumulative columns summed over all scores <= this one — lower
    * scores are better here ([[unigramSurprisal]] semantics; flip the
    * score's sign for a higher-is-better metric).
    *
    * Scale shape: one two-phase groupBy(score) with map-side partial
    * aggregation reduces the corpus to |distinct scores| rows; ONLY that
    * reduced table flows through the cumulative window, whose single-task
    * ordering is over the score DOMAIN (a few hundred quantized values),
    * never the corpus — the same bounded-window argument as the other
    * dashboard aggregations.
    *
    * Rows with a NULL score are EXCLUDED: an unscoreable document survives
    * no `score <= threshold` cut, so folding it into the cumulative counts
    * (where Spark's NULLS-FIRST ordering would put it) would inflate every
    * row. Callers wanting NULLs counted should coalesce them to a sentinel
    * score first.
    */
  def yieldCurve(df: DataFrame, scoreCol: String, weightCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val per = df.filter(col(scoreCol).isNotNull)
      .groupBy(col(scoreCol).cast("long").as("score"))
      .agg(count(lit(1)).as("n_docs"), sum(col(weightCol)).cast("long").as("weight"))
    val w = Window.orderBy(col("score"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    per
      .withColumn("cum_docs", sum("n_docs").over(w))
      .withColumn("cum_weight", sum("weight").over(w))
  }

  /** Vocabulary coverage — the out-of-vocabulary quality signal of
    * CCNet-style curation restated float-free: the corpus's own top
    * `vocabSize` terms by document frequency (ties broken by term, so the
    * vocabulary SET is deterministic) stand in for a tokenizer vocabulary,
    * and each document is scored by how many of its token occurrences fall
    * outside it. A high `n_oov / n_tokens` doc is vocabulary-atypical —
    * gibberish, another language, or boilerplate IDs — exactly what an LM
    * perplexity filter flags, but with integer counts a cross-engine
    * oracle can hash-compare (a real log-prob sum ties on libm ULPs).
    *
    * Scale shape: document frequency is one explode of per-doc DISTINCT
    * terms + one aggregation (map-side combine); the vocabulary is a
    * TakeOrdered of `vocabSize` rows — only the vocabulary reaches the
    * driver, never the term table; OOV counting is a BROADCAST anti-join
    * (the vocab is driver-bounded by construction) over one more token
    * explode, then a per-doc count with partial aggregation. Two scans of
    * the text column, no sort-merge join, no window.
    *
    * Output: every input doc as (doc_id, n_tokens, n_oov).
    */
  def vocabCoverage(docs: DataFrame, vocabSize: Int = 64,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val ws = words(col(textCol))
    val vocab = docs
      .select(explode(array_distinct(ws)).as("term"))
      .groupBy("term").agg(count(lit(1)).as("df"))
      .orderBy(col("df").desc, col("term")).limit(vocabSize)
      .select("term")
    val oov = docs.select(col(idCol).as("doc_id"), explode(ws).as("term"))
      .join(broadcast(vocab), Seq("term"), "left_anti")
      .groupBy("doc_id").agg(count(lit(1)).as("n_oov"))
    docs.select(col(idCol).as("doc_id"), size(ws).as("n_tokens"))
      .join(oov, Seq("doc_id"), "left")
      .withColumn("n_oov", coalesce(col("n_oov"), lit(0L)))
  }

  /** EXACT corpus length percentiles (nearest-rank definition) — the
    * profiling pass that sizes every downstream length filter and packing
    * budget. `percentile_approx` answers this with a sketch whose output
    * depends on merge order; at curation time the cutoffs feed
    * deterministic filters, so they must be reproducible. This computes
    * them exactly: percentile p is the smallest length whose cumulative
    * doc count reaches `ceil(p% of N)` (stated integer-exact as
    * `cum * 100 >= total * p`).
    *
    * Scale shape: the only corpus-sized work is ONE map-side-combined
    * groupBy on the token count (output cardinality = distinct lengths,
    * bounded by the longest document, not the corpus). The cumulative and
    * total windows then run over that HISTOGRAM — a single task over at
    * most max-doc-length tiny rows, which is the correct place to give up
    * parallelism (the alternative, a global sort of the corpus, is the
    * thing this avoids). Percentile extraction is a literal-array explode
    * + min aggregation in the same plan.
    *
    * Output: (percentile, n_tokens), one row per requested percentile.
    */
  def lengthPercentiles(docs: DataFrame, percentiles: Seq[Int] = Seq(50, 90, 99),
      textCol: String = "text"): DataFrame = {
    require(percentiles.nonEmpty && percentiles.forall(p => p >= 1 && p <= 100),
      "percentiles must be in [1, 100]")
    val ws = words(col(textCol))
    val hist = docs.select(size(ws).as("n_tokens"))
      .groupBy("n_tokens").agg(count(lit(1)).as("cnt"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy("n_tokens")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val all = org.apache.spark.sql.expressions.Window
      .partitionBy()
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.unboundedFollowing)
    hist
      .select(col("n_tokens"), sum("cnt").over(w).as("cum"),
        sum("cnt").over(all).as("total"))
      .select(col("n_tokens"), col("cum"), col("total"),
        explode(lit(percentiles.toArray)).as("percentile"))
      .filter(col("cum") * 100 >= col("total") * col("percentile"))
      .groupBy("percentile").agg(min("n_tokens").as("n_tokens"))
  }

  /** Corpus datacard — the one-row release summary every dataset ships
    * with: document/token/char totals, language and source cardinalities,
    * empty-doc count, token-length extremes. All integers (exact
    * cross-engine compare); percentile detail lives in
    * [[lengthPercentiles]], per-language composition in the domain/lang
    * histogram ops — this is the headline row.
    *
    * Scale shape: ONE full-scan aggregation with map-side partials; the
    * two count-distincts ride the same pass via Spark's expand (3x the
    * map-side rows of one scan, still a single shuffle of partial
    * buffers). Output is exactly one row.
    */
  def corpusCard(docs: DataFrame, textCol: String = "text",
      langCol: String = "lang", sourceCol: String = "source"): DataFrame = {
    val ws = words(col(textCol))
    docs.agg(
      count(lit(1)).as("n_docs"),
      sum(size(ws)).as("n_tokens"),
      sum(length(col(textCol))).as("n_chars"),
      countDistinct(col(langCol)).as("n_langs"),
      countDistinct(col(sourceCol)).as("n_sources"),
      sum(when(size(ws) === 0, 1L).otherwise(0L)).as("n_empty_docs"),
      max(size(ws)).as("max_doc_tokens"),
      min(size(ws)).as("min_doc_tokens"))
  }

  /** Per-language token budget — the input table a mixture planner reads:
    * for each language, document count, character volume, whitespace-token
    * volume, and BPE-ish token volume (the [[tokenCounts]] regex). Integer
    * sums only — the budgeting ratios (chars/token, fertility) divide out
    * downstream, because IEEE quotients can't be hash-gated cross-engine.
    * Feed the result into [[graft.ops.Sampling.mixtureSample]] /
    * [[graft.ops.Sampling.upsampleEpochs]] to hit a per-language token
    * (not document) target.
    *
    * Scale shape: one scan + ONE groupBy(lang) with map-side partial
    * aggregation — language cardinality is dashboard-sized, so the shuffle
    * moves one row per language per map task. No window, no join.
    *
    * NULL-text rows are EXCLUDED (the [[graft.ops.WebOps.sourceDupStats]]
    * policy): a failed extraction is not a document; counting it in
    * `n_docs` against zero token volume would skew every tokens-per-doc
    * ratio a planner derives.
    */
  def langTokenBudget(docs: DataFrame, textCol: String = "text",
      langCol: String = "lang"): DataFrame = {
    val t = col(textCol)
    docs
      .filter(t.isNotNull)
      .groupBy(col(langCol).as("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(length(t)).as("n_chars"),
        sum(size(words(t))).as("n_ws_tokens"),
        sum(size(regexp_extract_all(t, lit(BpeTokenRe), lit(0))))
          .as("n_bpe_tokens"))
  }

  /** Corpus snapshot diff — the dataset-versioning audit between two
    * releases: per document id, whether the new snapshot `added`,
    * `removed`, `changed`, or kept it `unchanged` (content compared by
    * md5 of the text, null-safe, so a null-text row equals a null-text
    * row but differs from any real text). This is what a datacard's
    * "changes since v1" section and an incremental re-train decision are
    * computed from — and it composes: feed `changed`+`added` ids to the
    * extraction pipeline to re-process exactly the delta.
    *
    * Scale shape: ONE full-outer sort-merge join keyed on the unique doc
    * id (no skew possible) over two hash-projected scans; the status is a
    * codegen'd CASE on presence markers + null-safe hash equality. No
    * window, no driver state, no second pass.
    *
    * Output: (doc_id, status), one row per id present in either snapshot.
    */
  def corpusDiff(oldDf: DataFrame, newDf: DataFrame,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val o = oldDf.select(col(idCol).as("doc_id"),
      md5(col(textCol)).as("_ho"), lit(1).as("_po"))
    val n = newDf.select(col(idCol).as("doc_id"),
      md5(col(textCol)).as("_hn"), lit(1).as("_pn"))
    o.join(n, Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        when(col("_po").isNull, lit("added"))
          .when(col("_pn").isNull, lit("removed"))
          .when(col("_ho") <=> col("_hn"), lit("unchanged"))
          .otherwise(lit("changed")).as("status"))
  }

  /** Term-distribution drift between two corpus snapshots: the `k` terms
    * whose DOCUMENT frequency moved most between the old and new corpus —
    * the release-gate companion to [[corpusDiff]] (that one says WHICH
    * docs changed; this one says what the change did to the vocabulary —
    * a spam injection, a crawler source flip, or a dedup pass each leave a
    * distinct signature in the df deltas). Document frequency (distinct
    * per doc), not term frequency: one pathological doc repeating a word a
    * million times cannot dominate the drift report (no id column needed:
    * array_distinct within each row IS the per-document distinct).
    * Integer counts only.
    *
    * Scale shape: two independent df aggregations (distinct-per-doc
    * explode, then groupBy(term) with map-side partials — [[topTerms]]'s
    * shape), ONE full-outer sort-merge join on the term, and a
    * TakeOrderedAndProject for the top-k (abs delta desc, term asc —
    * deterministic total order) — k rows per partition, never a global
    * sort.
    *
    * Output: (term, df_old, df_new, delta), k rows.
    */
  def termDrift(oldDf: DataFrame, newDf: DataFrame, k: Int = 20,
      textCol: String = "text"): DataFrame = {
    require(k > 0, "k must be positive")
    def df(d: DataFrame, out: String) = d
      .select(explode(array_distinct(words(col(textCol)))).as("term"))
      .groupBy("term").agg(count(lit(1)).as(out))
    df(oldDf, "df_old").join(df(newDf, "df_new"), Seq("term"), "full_outer")
      .select(col("term"),
        coalesce(col("df_old"), lit(0L)).as("df_old"),
        coalesce(col("df_new"), lit(0L)).as("df_new"))
      .withColumn("delta", col("df_new") - col("df_old"))
      .orderBy(abs(col("delta")).desc, col("term"))
      .limit(k)
  }

  /** Sentence splitting — the pre-tokenization segmentation pass: text is
    * cut at runs of terminal punctuation followed by whitespace
    * (`[.!?]+[ \t\n\x0B\f\r]+` — the whitespace class is explicit rather
    * than `\s` because Java's `\s` matches U+000B and RE2's does not; with
    * the spelled-out class the split agrees between the two engines on
    * EVERY input, so an oracle replays it exactly); a trailing sentence
    * keeps its final punctuation (no whitespace follows it to split on),
    * and empty/whitespace-only pieces are dropped — an empty document
    * emits no rows.
    *
    * Scale shape: one codegen'd projection (split + filter) + one
    * posexplode — map-only, zero shuffle, output cardinality = sentence
    * count, produced streaming-fashion.
    *
    * Output: (doc_id, sent_id, sentence, n_words).
    */
  def splitSentences(docs: DataFrame, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    val sents = filter(split(col(textCol), "[.!?]+[ \\t\\n\\x0B\\f\\r]+"),
      s => length(s) > 0)
    docs
      .select(col(idCol).as("doc_id"), posexplode(sents).as(Seq("sent_id", "sentence")))
      .withColumn("n_words", size(words(col("sentence"))))
  }

  /** Characteristic terms per document — a FLOAT-FREE tf-idf: each
    * document's terms ranked by (term frequency DESC, corpus document
    * frequency ASC, term ASC), top `k` kept. The lexicographic integer
    * ranking captures the tf-idf ordering intent ("frequent here, rare
    * elsewhere") while staying exactly reproducible cross-engine — a real
    * tf*ln(N/df) double would tie-break on ULPs that differ between libm
    * implementations, which no hash-gated oracle can tolerate.
    *
    * Scale shape: one explode feeds a per-(doc, term) count (shuffle on the
    * pair key, map-side combine); document frequency CASCADES off that
    * aggregate (`groupBy(term)` over one-row-per-(doc,term) — no second
    * scan, no distinct); the df join is a sort-merge on the term key (a hot
    * term is AQE-splittable); the final per-doc top-k runs through a
    * bounded `collectTopK`, so no task ever sorts a whole document's
    * term list — partial aggregation caps every buffer at k entries.
    *
    * Output: (doc_id, rank, term, tf, df), rank 1..k. A NULL id fails the
    * query instead of pooling every id-less document into one.
    */
  def distinctiveTerms(docs: DataFrame, k: Int = 3, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    val id = col(idCol).cast("long")
    val tf = docs
      .select(when(id.isNull, raise_error(lit(s"distinctiveTerms: NULL $idCol"))).otherwise(id)
          .as("doc_id"),
        explode(words(col(textCol))).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val docFreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    tf.join(docFreq, "term")
      .groupBy("doc_id")
      .agg(collectTopK(struct((-col("tf")).as("neg_tf"), col("df"), col("term")), k)
        .as("top"))
      .select(col("doc_id"), posexplode(col("top")))
      .select(col("doc_id"), (col("pos") + 1).as("rank"), col("col.term").as("term"),
        (-col("col.neg_tf")).as("tf"), col("col.df").as("df"))
  }

  /** floor(log2(n)) for n >= 1 as exact bit-length arithmetic (no IEEE log
    * anywhere, so a cross-engine oracle can replay it via `len(bin(n)) - 1`).
    */
  private def floorLog2(n: Long): Int = {
    require(n >= 1, s"floorLog2 undefined for $n")
    63 - java.lang.Long.numberOfLeadingZeros(n)
  }

  /** CCNet-style unigram-LM quality score in exact integer arithmetic.
    *
    * Trains a unigram model over the corpus itself (token counts), keeps the
    * top `vocabSize` tokens (count desc, token asc — a total order, so the
    * vocabulary SET is deterministic), and scores each document by the sum of
    * quantized token surprisals S(w) = floorLog2(totalTokens) -
    * floorLog2(count(w)); out-of-vocabulary tokens get the worst case
    * floorLog2(totalTokens) (an implicit count of 1). floorLog2 is
    * bit-length arithmetic on exact integer counts, so scores hash-compare
    * across engines — the usual IEEE-log perplexity is order-of-summation
    * dependent and cannot be oracle-gated. Output: per doc, `n_tokens`,
    * `surprisal_sum`, the mean x100 (`surprisal_c100`, integer division) and
    * a 3-way `ppl_bucket` relative to the model's max surprisal (fluent =
    * mean <= half of max; rare = mean > three quarters of max).
    *
    * Scale: training is ONE groupBy(token) count with map-side partial
    * aggregation over a persisted token-count table (two driver-bounded
    * actions on it: a vocabSize-row TakeOrdered and a single-row sum);
    * scoring is a BROADCAST hash join of the vocabSize-row model against
    * the exploded token stream (a map literal would make each lookup a
    * linear scan of the map — GetMapValue has no hash index), one
    * groupBy(doc_id) with map-side partials, and one doc_id join back to
    * carry zero-token documents. At 100 TB the model stays driver/broadcast
    * bounded at vocabSize rows and the only wide ops key on doc_id.
    * Reference analog: corpus-statistics counters over extracted fulltext
    * (adsft/extraction.py checker/metrics pass); the quantized-surprisal
    * formulation is the CCNet quality-filter idea made oracle-exact.
    */
  def unigramSurprisal(docs: DataFrame, vocabSize: Int = 4096,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    require(vocabSize > 0, "vocabSize must be positive")
    val spark = docs.sparkSession
    import spark.implicits._
    val ws = words(col(textCol))
    val counts = docs.select(explode(ws).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("cnt"))
      .persist()
    try {
      val totalTokens = counts.agg(sum("cnt")).first() match {
        case r if r.isNullAt(0) =>
          throw new IllegalArgumentException("unigramSurprisal: empty corpus")
        case r => r.getLong(0)
      }
      val maxS = floorLog2(totalTokens).toLong
      val vocab = counts.orderBy(col("cnt").desc, col("tok"))
        .limit(vocabSize).collect()
        .map(r => r.getString(0) -> (maxS - floorLog2(r.getLong(1))))
      val model = broadcast(vocab.toSeq.toDF("tok", "s"))
      val scores = docs.select(col(idCol), explode(ws).as("tok"))
        .join(model, Seq("tok"), "left")
        .groupBy(idCol).agg(
          count(lit(1)).as("n_tokens"),
          sum(coalesce(col("s"), lit(maxS))).as("surprisal_sum"))
      docs.join(scores, Seq(idCol), "left")
        .withColumn("n_tokens", coalesce(col("n_tokens"), lit(0L)))
        .withColumn("surprisal_sum", coalesce(col("surprisal_sum"), lit(0L)))
        .withColumn("surprisal_c100",
          when(col("n_tokens") > 0, expr("surprisal_sum * 100 div n_tokens"))
            .otherwise(lit(0L)))
        .withColumn("ppl_bucket",
          when(col("n_tokens") === 0, "empty")
            .when(col("surprisal_c100") * 2 <= maxS * 100, "fluent")
            .when(col("surprisal_c100") * 4 <= maxS * 300, "mid")
            .otherwise("rare"))
    } finally counts.unpersist()
  }

  /** BPE tokenizer APPLICATION — the encode half of [[bpeTrain]]: apply an
    * ordered merge list to every document and report the resulting token
    * counts. Each [[words]] token starts as its codepoint sequence; merges
    * apply in rank order, each as ONE greedy left-to-right non-overlapping
    * pass (the Sennrich apply convention, matching [[bpeTrain]]'s replace
    * step). Output per doc: `n_words` (whitespace tokens), `n_sym_chars`
    * (total codepoints across words — the symbol count before any merge),
    * `n_bpe_tokens` (total symbols after all merges). All integers so the
    * cross-engine compare is hash-exact; the fertility ratio
    * `n_bpe_tokens / n_words` is left to the caller. NULL-text docs emit
    * the all-zero row (the [[ngramRepetition]] convention).
    *
    * Oracle note: for merges with `lhs != rhs`, occurrences of the pair in
    * a symbol string are pairwise disjoint, so greedy application is
    * confluent and equals the fixpoint of string `replace` over a
    * delimiter-guarded rendering — which is how the ANSI oracle replays
    * this kernel (two replace passes reach the fixpoint: pass one can only
    * miss an occurrence that immediately follows a replaced one, and all
    * such misses are isolated afterwards). `lhs == rhs` merges are legal
    * here but not oracle-replayable that way.
    *
    * Scale shape: ONE typed map, zero shuffle — per-doc cost is
    * O(|merges| x doc length) with no state beyond the current word's
    * symbol buffer. The merge list is a tiny broadcast-by-closure literal
    * (real vocabularies are ~10-100k merges: still driver-trivial).
    */
  def bpeEncode(docs: DataFrame, merges: Seq[(String, String)],
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    require(merges.nonEmpty, "need at least one merge")
    require(merges.forall { case (a, b) => a.nonEmpty && b.nonEmpty },
      "merge sides must be non-empty")
    val spark = docs.sparkSession
    import spark.implicits._
    val mergeArr = merges.toArray
    docs.select(col(idCol).cast("long"), col(textCol)).as[(Long, String)]
      .map { case (id, text) =>
        val ws =
          if (text == null) Array.empty[String]
          else text.split(WhitespaceRe).filter(_.nonEmpty)
        var symChars = 0L
        var bpeTokens = 0L
        var w = 0
        while (w < ws.length) {
          var syms = toCodepoints(ws(w))
          symChars += syms.length
          var m = 0
          while (m < mergeArr.length) {
            val (a, b) = mergeArr(m)
            if (syms.length >= 2) {
              val out = new scala.collection.mutable.ArrayBuffer[String](syms.length)
              var i = 0
              while (i < syms.length) {
                if (i < syms.length - 1 && syms(i) == a && syms(i + 1) == b) {
                  out += a + b; i += 2
                } else { out += syms(i); i += 1 }
              }
              syms = out.toArray
            }
            m += 1
          }
          bpeTokens += syms.length
          w += 1
        }
        (id, ws.length.toLong, symChars, bpeTokens)
      }
      .toDF(idCol, "n_words", "n_sym_chars", "n_bpe_tokens")
  }

  /** per-codepoint split (NOT UTF-16 units), matching the oracle's
    * character indexing on supplementary-plane input
    */
  private def toCodepoints(w: String): Array[String] = {
    val out = new scala.collection.mutable.ArrayBuffer[String](w.length)
    var i = 0
    while (i < w.length) {
      val cp = w.codePointAt(i)
      out += new String(Character.toChars(cp))
      i += Character.charCount(cp)
    }
    out.toArray
  }

  /** Tokenizer fertility by language — the standard multilingual-tokenizer
    * health table (BPE tokens per whitespace word, per predicted
    * language): composes [[langId]] with [[bpeEncode]] and rolls up. A
    * high-fertility language is being over-fragmented by the merge list —
    * the signal that drives vocabulary rebalancing. Integer sums only
    * (`n_bpe_tokens / n_words` is the fertility); docs with zero words
    * still count in `n_docs` under their (necessarily 'und') language.
    *
    * Scale shape: the encode kernel is map-only; langId is pure column
    * expressions on the scan; the two meet in ONE equi-join on the unique
    * doc id (no skew possible) followed by ONE groupBy(lang) with
    * map-side partials — the shuffle after the join carries one row per
    * language per task.
    */
  def bpeFertility(docs: DataFrame, merges: Seq[(String, String)],
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val enc = bpeEncode(docs, merges, textCol, idCol)
    val langs = langId(docs, textCol)
      .select(col(idCol).cast("long").as(idCol), col("lang_pred"))
    langs.join(enc, Seq(idCol))
      .groupBy("lang_pred")
      .agg(
        count(lit(1)).as("n_docs"),
        sum("n_words").as("n_words"),
        sum("n_bpe_tokens").as("n_bpe_tokens"))
  }

  /** Quantized unigram model for [[dsirWeights]]: the top-`vocabSize`
    * tokens (count desc, token asc — a total order) mapped to surprisal
    * S(w) = floorLog2(totalTokens) - floorLog2(count(w)), plus the
    * out-of-vocabulary default floorLog2(totalTokens). Identical
    * construction to [[unigramSurprisal]]'s model, factored so two
    * corpora can be modeled without forking the rule.
    */
  private def unigramModel(docs: DataFrame, vocabSize: Int,
      textCol: String): (Map[String, Long], Long) = {
    val counts = docs.select(explode(words(col(textCol))).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("cnt"))
      .persist()
    try {
      val total = counts.agg(sum("cnt")).first() match {
        case r if r.isNullAt(0) =>
          throw new IllegalArgumentException("unigramModel: empty corpus")
        case r => r.getLong(0)
      }
      val maxS = floorLog2(total).toLong
      val vocab = counts.orderBy(col("cnt").desc, col("tok"))
        .limit(vocabSize).collect()
        .map(r => r.getString(0) -> (maxS - floorLog2(r.getLong(1))))
        .toMap
      (vocab, maxS)
    } finally counts.unpersist()
  }

  /** DSIR-style importance weighting for data selection (the
    * hashed-n-gram importance-resampling recipe of Xie et al. 2023,
    * "Data Selection for Language Models via Importance Resampling",
    * restricted to unigrams): score every SOURCE document by how much
    * more likely its tokens are under a TARGET corpus' unigram model
    * than under the source's own,
    *
    *   logw(d) = sum_tok ( S_source(tok) - S_target(tok) ),
    *
    * in the same quantized integer log-space as [[unigramSurprisal]]
    * (floorLog2 bit-length arithmetic, no IEEE log anywhere) so the
    * score replays bit-exactly in a cross-engine oracle. Positive logw =
    * the document "looks more like the target" (cheaper to encode under
    * the target model than under its own corpus model).
    *
    * Selection avoids both floats and a corpus-wide sort: `selected` is
    * the multiplicative threshold `logw_sum * 100 >= minC100 * n_tokens`
    * (mean per-token logw >= minC100/100). Spelled as a product, not an
    * integer division, because logw_sum can be NEGATIVE and the two
    * engines' integer divisions disagree on negatives (Spark `div`
    * truncates toward zero, DuckDB `//` floors) — multiplication is
    * sign-exact in both. Empty documents are never selected.
    *
    * Scale shape: two bounded vocabulary models (TakeOrdered(vocabSize)
    * driver collects — the [[unigramSurprisal]]/ivfAnn bounded-model
    * pattern), merged into ONE broadcast tok -> (s_src, s_tgt) table;
    * scoring is one explode + one broadcast join + one
    * map-side-combined groupBy(doc_id). The source corpus is scanned
    * twice (model pass, score pass), the target once, and nothing is
    * globally sorted. Reference analog: the checker's quality routing
    * (adsft/checker.py decides WHAT to process; this decides what to
    * TRAIN on).
    */
  def dsirWeights(source: DataFrame, target: DataFrame,
      vocabSize: Int = 4096, minC100: Long = 0L,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    require(vocabSize > 0, "vocabSize must be positive")
    val spark = source.sparkSession
    import spark.implicits._
    val (srcVocab, srcMax) = unigramModel(source, vocabSize, textCol)
    val (tgtVocab, tgtMax) = unigramModel(target, vocabSize, textCol)
    // one broadcast table over the union of both vocabularies; misses on
    // either side fall back to that side's OOV surprisal at join time
    val model = broadcast(
      (srcVocab.keySet ++ tgtVocab.keySet).toSeq.sorted
        .map(t => (t, srcVocab.getOrElse(t, srcMax), tgtVocab.getOrElse(t, tgtMax)))
        .toDF("tok", "s_src", "s_tgt"))
    val scored = source
      .select(col(idCol), explode(words(col(textCol))).as("tok"))
      .join(model, Seq("tok"), "left")
      .groupBy(idCol).agg(
        count(lit(1)).as("n_tokens"),
        sum(coalesce(col("s_src"), lit(srcMax)) -
          coalesce(col("s_tgt"), lit(tgtMax))).as("logw_sum"))
    source.join(scored, Seq(idCol), "left")
      .withColumn("n_tokens", coalesce(col("n_tokens"), lit(0L)))
      .withColumn("logw_sum", coalesce(col("logw_sum"), lit(0L)))
      .withColumn("selected",
        col("n_tokens") > 0 &&
          col("logw_sum") * 100 >= lit(minC100) * col("n_tokens"))
  }
}
