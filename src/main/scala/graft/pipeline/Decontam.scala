package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Benchmark decontamination — the overlap check every serious
  * pretraining corpus runs before training: flag corpus documents that
  * share any n-token shingle with a held-out evaluation/benchmark set,
  * so test data can be dropped (or quarantined) from the training mix.
  * The n-gram-overlap rule is the published GPT-3 appendix-C method
  * (Brown et al. 2020, "Language Models are Few-Shot Learners", §4 +
  * appendix C: 13-gram collision against the train set); `n` is a
  * parameter because tokenizer granularity differs per corpus.
  *
  * Scale shape: the EVAL side is benchmark-sized by contract (thousands
  * of documents — it is the thing humans wrote by hand), so its distinct
  * shingle set broadcasts; a fail-fast guards the contract the same way
  * `CompactDict.MaxBroadcastEntries` guards dictionary broadcasts. The
  * CORPUS side never shuffles text: shingles are generated inside the
  * scan stage (the codegen'd `ner_shingles` kernel, no UDF) and die in
  * the same stage at the broadcast-hash-join probe; only
  * `(doc_id, n_grams)` longs plus the matched-shingle rows — a
  * benchmark-bounded trickle — reach the aggregation exchange. A 100-TB
  * corpus therefore pays one scan and shuffles kilobytes.
  *
  * The join key is the shingle STRING, not a hash: the broadcast side
  * is small either way, and string equality makes the match EXACT (a
  * 64-bit-hash key would admit false contamination at one-in-2^64 —
  * cheap insurance when the output is "delete these training docs").
  *
  * NULL/short texts produce no shingles and cannot match (same
  * convention as the q13 token counts).
  */
object Decontam {

  /** Broadcast budget for the eval shingle set. ~2M 20-byte shingles
    * ≈ 40 MB serialized — the upper end of a comfortable broadcast.
    * Above this, the eval set is not "benchmark-sized" and the caller
    * should shard it rather than silently degrading to a shuffle join.
    */
  val MaxEvalShingles: Long = 2000000L

  /** All n-token shingles of a space-tokenized text column (empty array
    * when the text has fewer than n tokens or is NULL). Backed by the
    * native codegen expression [[graft.functions.NerShingles]] — the
    * `transform(sequence, slice+array_join)` composition it replaced
    * evaluated interpreted and re-ran `split` per element (O(tokens ×
    * chars) per doc; the round-6 bench caught it across every
    * shingle-heavy query).
    */
  def shingles(text: Column, n: Int): Column =
    graft.functions.ShingleFunctions.ner_shingles(text, n)

  /** Pure-JVM rendition of [[shingles]] — the same
    * [[graft.functions.ShingleKernel.windows]] loop (`split(" ", -1)`
    * tokenization incl. empty trailing tokens, space re-join), pinned
    * bit-parity with the column in DecontamSpec so the Dsir/Classifier
    * featurizers and the column operators can never disagree on
    * membership. Empty for NULL/short texts.
    */
  def shinglesOf(text: String, n: Int): Iterator[String] =
    graft.functions.ShingleKernel.windows(text, n).iterator

  /** Contaminated corpus documents: every doc sharing at least one
    * n-token shingle with `evalSet`, with overlap tallies —
    * `(doc_id, n_grams, n_hits, share)` where `n_hits` counts the doc's
    * shingle OCCURRENCES that appear anywhere in the eval set and
    * `share = n_hits / n_grams` rounded to 6 digits. Clean documents are
    * not emitted (the production action is a semi-join DROP of these
    * ids; emitting the whole corpus as zeros would be an O(corpus)
    * result).
    */
  def contaminated(corpus: DataFrame, evalSet: DataFrame,
                   idCol: String, textCol: String, evalTextCol: String,
                   n: Int,
                   maxEvalShingles: Long = MaxEvalShingles): DataFrame = {
    require(n >= 1, s"shingle width must be >= 1: $n")
    val evalGrams = evalSet
      .select(explode(shingles(col(evalTextCol), n)).as("gram"))
      .distinct()
    // the guard job runs over the EVAL set only (benchmark-sized);
    // the corpus scan below starts after the contract is proven
    val nEval = evalGrams.count()
    require(nEval <= maxEvalShingles,
      s"eval set has $nEval distinct $n-gram shingles, above the " +
        s"broadcast budget of $maxEvalShingles (Decontam.MaxEvalShingles) " +
        "— shard the eval set and union the results instead of " +
        "degrading to a corpus-wide shuffle join")
    val docGrams = corpus.select(col(idCol).as("doc_id"),
      shingles(col(textCol), n).as("grams"))
      .where(size(col("grams")) > 0)
      .select(col("doc_id"), size(col("grams")).cast("long").as("n_grams"),
        explode(col("grams")).as("gram"))
    docGrams
      .join(broadcast(evalGrams), "gram")
      .groupBy("doc_id", "n_grams")
      .agg(count(lit(1)).as("n_hits"))
      .withColumn("share",
        round(col("n_hits").cast("double") / col("n_grams"), 6))
  }
}
