package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Repetition-based document quality metrics — the "duplicated n-gram"
  * family of filters from the Gopher data-quality rules (Rae et al.
  * 2021, "Scaling Language Models: Methods, Analysis & Insights from
  * Training Gopher", table A1: fraction of characters in the most
  * frequent n-gram / in duplicated n-grams): machine-generated and
  * template text repeats itself, and the repeat share separates it from
  * prose far more cheaply than any model-based scorer. Emitted per doc:
  *
  *   - `n_grams`     — total n-token shingles,
  *   - `n_distinct`  — distinct shingles,
  *   - `top_count`   — occurrences of the most frequent shingle,
  *   - `top_share`   — top_count / n_grams (the "most frequent n-gram"
  *                     rule's statistic),
  *   - `dup_frac`    — 1 − n_distinct / n_grams (the "duplicated
  *                     n-grams" rule's statistic).
  *
  * Scale shape: ZERO shuffles. Every statistic is a function of one
  * document alone, and each document is one row — so the whole operator
  * is a per-row fold: sort the doc's shingle array, then a single
  * `aggregate` (higher-order collection expression, no UDF) computes
  * run-lengths over the sorted array — distinct count and max
  * multiplicity in one O(g log g) pass per row. A groupBy-(doc, gram)
  * rendition would shuffle the corpus once for statistics that never
  * cross document boundaries; this stays inside the scan's
  * whole-stage-codegen pipeline and parallelizes per input split.
  *
  * Docs with no shingles (NULL or shorter than n tokens) are dropped —
  * the ratios are undefined there, and the downstream action is always
  * a threshold filter on docs that HAVE text.
  */
object Quality {

  /** The Gopher DOCUMENT filters (Rae et al. 2021 table A1, the
    * non-repetition rules; [[repetitionStats]] covers the n-gram
    * family): per doc, the published quality statistics and a composite
    * `keep` decision —
    *
    *   - word count in [minWords, 100k] (paper: 50..100k),
    *   - mean word length in [3, 10] characters,
    *   - symbol-to-word ratio ('#' chars + non-overlapping "..."
    *     occurrences, over words) ≤ 0.1,
    *   - ≤ 90% of lines starting with a bullet ("- ", "* ", "• "),
    *   - ≤ 30% of lines ending with an ellipsis ("..."),
    *   - ≥ 80% of words containing an alphabetic character,
    *   - ≥ minStopWords distinct members of the paper's stop set
    *     {the, be, to, of, and, that, have, with} present.
    *
    * Scale shape: ZERO shuffles, like [[repetitionStats]] — every rule
    * is a per-row fold over the word/line arrays (higher-order
    * collection expressions, no UDF), fused into the scan's
    * whole-stage-codegen pipeline. Decisions compare IEEE doubles
    * computed with mirrored operation order (integer tallies divided
    * once), so a cross-engine oracle reproduces every boundary case
    * bit-for-bit; the emitted ratio columns are rounded to 6 digits for
    * display only — `keep` is decided on the unrounded values.
    *
    * NULL texts are dropped (no rules are defined on them; the
    * downstream action is a threshold filter over docs that have text).
    */
  def gopherRules(docs: DataFrame, idCol: String, textCol: String,
                  minWords: Long = 50L,
                  minStopWords: Int = 2): DataFrame = {
    val maxWords = 100000L
    require(minWords >= 1 && maxWords >= minWords,
      s"bad word-count bounds: [$minWords, $maxWords]")
    val t = col(textCol)
    val ws = split(t, " ")
    val nWords = size(ws).cast("long")
    val sumLen = aggregate(ws, lit(0L), (a, w) => a + length(w).cast("long"))
    val nHash = (length(t) - length(replace(t, lit("#"), lit(""))))
      .cast("long")
    val nEllipsis = ((length(t) - length(replace(t, lit("..."), lit("")))) / 3)
      .cast("long")
    val lines = split(t, "\n")
    val nLines = size(lines).cast("long")
    val nBullet = size(filter(lines, l =>
      startswith(l, lit("- ")) || startswith(l, lit("* ")) ||
        startswith(l, lit("• ")))).cast("long")
    val nEllLines = size(filter(lines, l => endswith(l, lit("..."))))
      .cast("long")
    val nAlpha = size(filter(ws, w => w.rlike("[A-Za-z]"))).cast("long")
    val stops = array(Seq("the", "be", "to", "of", "and", "that", "have",
      "with").map(lit): _*)
    val nStop = size(filter(stops, s => array_contains(ws, s))).cast("long")
    val meanLen = sumLen.cast("double") / nWords
    val symRatio = (nHash + nEllipsis).cast("double") / nWords
    val bulletShare = nBullet.cast("double") / nLines
    val ellShare = nEllLines.cast("double") / nLines
    val alphaShare = nAlpha.cast("double") / nWords
    val keep = nWords >= minWords && nWords <= maxWords &&
      meanLen >= 3.0 && meanLen <= 10.0 &&
      symRatio <= 0.1 &&
      bulletShare <= 0.9 &&
      ellShare <= 0.3 &&
      alphaShare >= 0.8 &&
      nStop >= minStopWords
    docs.where(t.isNotNull)
      .select(col(idCol).as("doc_id"), nWords.as("n_words"),
        round(meanLen, 6).as("mean_word_len"),
        round(symRatio, 6).as("symbol_ratio"),
        round(bulletShare, 6).as("bullet_share"),
        round(ellShare, 6).as("ellipsis_share"),
        round(alphaShare, 6).as("alpha_share"),
        nStop.as("n_stopwords"),
        when(keep, 1).otherwise(0).as("keep"))
  }

  def repetitionStats(docs: DataFrame, idCol: String, textCol: String,
                      n: Int = 2): DataFrame = {
    require(n >= 1, s"shingle width must be >= 1: $n")
    val grams = array_sort(Decontam.shingles(col(textCol), n))
    // run-length fold over the sorted shingles: (prev, run, best, nd)
    val folded = aggregate(
      grams,
      struct(lit(null).cast("string").as("prev"), lit(0L).as("run"),
        lit(0L).as("best"), lit(0L).as("nd")),
      (acc, x) => {
        val run = when(x <=> acc("prev"), acc("run") + 1L).otherwise(lit(1L))
        struct(x.as("prev"), run.as("run"),
          greatest(acc("best"), run).as("best"),
          when(x <=> acc("prev"), acc("nd")).otherwise(acc("nd") + 1L)
            .as("nd"))
      })
    docs
      .select(col(idCol).as("doc_id"), size(grams).cast("long").as("n_grams"),
        folded.as("f"))
      .where(col("n_grams") > 0)
      .select(col("doc_id"), col("n_grams"),
        col("f.nd").as("n_distinct"), col("f.best").as("top_count"),
        round(col("f.best").cast("double") / col("n_grams"), 6)
          .as("top_share"),
        round(lit(1.0) - col("f.nd").cast("double") / col("n_grams"), 6)
          .as("dup_frac"))
  }
}
