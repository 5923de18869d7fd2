package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** BPE encoding (Sennrich et al. 2016, "Neural Machine Translation of
  * Rare Words with Subword Units") — the tokenizer step a pretraining
  * pipeline runs between curation and packing: segment every document
  * with a merge table (feeding q69's sequence packing, whose unit is
  * the token).
  *
  * Semantics (pinned by BpeSpec):
  *  - a word is split to code points plus a terminal [[Marker]] symbol
  *    (so decode = concat + strip marker is well-defined);
  *  - encoding greedily merges the LOWEST-RANK pair present until none
  *    applies — the standard subword-nmt / HF-tokenizers rule; a merge
  *    applies leftmost-first.
  *
  * Scale shape: [[encodeDocs]] broadcasts the rank table and segments
  * in a typed map (pure JVM kernel, corpus never shuffles) — one pass
  * at any scale, streaming-compatible.
  *
  * Empty words (consecutive spaces) are skipped everywhere — they
  * carry no subwords; NULL texts encode to zero words (q13 convention).
  */
object Bpe {

  /** End-of-word symbol (Sennrich's `</w>`): merges may absorb it, so
    * word-final subwords are distinct from word-internal ones.
    */
  val Marker = "</w>"

  /** Code-point symbols + terminal marker. */
  def baseSymbols(word: String): Array[String] = {
    val cps = word.codePoints().toArray
    val out = new Array[String](cps.length + 1)
    var i = 0
    while (i < cps.length) {
      out(i) = new String(Character.toChars(cps(i))); i += 1
    }
    out(cps.length) = Marker
    out
  }

  /** Merge every leftmost-first non-overlapping (a, b) adjacency. */
  private[pipeline] def mergePair(syms: Array[String], a: String,
                                  b: String): Array[String] = {
    val out = Array.newBuilder[String]
    var i = 0
    while (i < syms.length) {
      if (i + 1 < syms.length && syms(i) == a && syms(i + 1) == b) {
        out += a + b; i += 2
      } else { out += syms(i); i += 1 }
    }
    out.result()
  }

  /** Encode one word under a rank table: greedily merge the
    * lowest-rank adjacent pair present until none applies.
    */
  def encode(word: String, ranks: Map[(String, String), Int])
      : Array[String] = {
    var syms = baseSymbols(word)
    var done = syms.length < 2
    while (!done) {
      var bestRank = Int.MaxValue
      var bestA: String = null
      var bestB: String = null
      var i = 0
      while (i < syms.length - 1) {
        ranks.get((syms(i), syms(i + 1))) match {
          case Some(r) if r < bestRank =>
            bestRank = r; bestA = syms(i); bestB = syms(i + 1)
          case _ => ()
        }
        i += 1
      }
      if (bestA == null) done = true
      else {
        syms = mergePair(syms, bestA, bestB)
        done = syms.length < 2
      }
    }
    syms
  }

  private def rankTable(merges: Seq[(String, String)])
      : Map[(String, String), Int] =
    merges.zipWithIndex.toMap

  /** Segment documents under a merge table: `(doc_id, n_words,
    * n_tokens)` — word and subword-token tallies per doc. Broadcast
    * ranks + typed map; the corpus never shuffles (the aggregate-free
    * projection shape).
    */
  def encodeDocs(docs: DataFrame, idCol: String, textCol: String,
                 merges: Seq[(String, String)]): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val bRanks = spark.sparkContext.broadcast(rankTable(merges))
    docs.select(col(idCol).cast("long").as("doc_id"),
      col(textCol).cast("string").as("text"))
      .as[(Long, String)]
      .flatMap { case (id, text) =>
        if (text == null) None
        else {
          val words = text.split(" ", -1).filter(_.nonEmpty)
          if (words.isEmpty) None // no subwords to tally (q13 convention)
          else {
            var toks = 0L
            words.foreach(w => toks += encode(w, bRanks.value).length)
            Some((id, words.length.toLong, toks))
          }
        }
      }
      .toDF("doc_id", "n_words", "n_tokens")
  }
}
