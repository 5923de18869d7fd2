package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Distributed bigram language model with STUPID BACKOFF scoring
  * (Brants et al. 2007, "Large Language Models in Machine
  * Translation" §4 — the backoff score designed FOR MapReduce-scale
  * count tables: no discounting, no normalization pass) and the
  * perplexity-based quality filter built on it (Wenzek et al. 2020,
  * CCNet §3.3: rank documents by LM perplexity, keep the head of the
  * distribution; LLaMA's quality recipe cites the same filter).
  * Completes the quality family: rule-based (q68/q73), trained
  * discriminative (q75), and now generative-LM scoring (q77).
  *
  * Score of one position: `S(w2|w1) = c(w1 w2) / c(w1)` when the
  * bigram was seen, else `α · c(w2) / N` (α = 0.4, the paper's
  * constant), with unseen `w2` floored at count 1 (one virtual
  * occurrence — keeps the score finite and the formula total). A
  * document's `logp` is the mean `ln S` over its bigram positions and
  * `ppl = exp(−logp)`.
  *
  * Scale shape:
  *  - TRAINING ([[train]]) is two partial-agg count passes (unigrams,
  *    bigrams) + one 1-row total. Grams collapse map-side before the
  *    exchange, so shuffled volume ∝ DISTINCT grams per partition, not
  *    corpus positions. The model is corpus-vocabulary-sized — a
  *    TABLE, not a broadcast; that is the honest shape of an LM at
  *    100 TB and exactly what stupid backoff was published for.
  *  - SCORING ([[scoreDocs]]) joins each doc's bigram positions
  *    against the count tables. The default keys every join on
  *    `xxhash64` of the gram (8-byte shuffle keys, the q52
  *    convention; a 1-in-2^64 collision merges two counts — it
  *    perturbs one score, never correctness of the pipeline action),
  *    with `hashedKeys = false` as the text-keyed rendition the q77
  *    oracle replays exactly (the q51/q52 pairing). Count tables can
  *    be persisted bucketed on the key (q50's machinery) so repeated
  *    scoring jobs shuffle only the corpus side.
  *
  * NULL texts and docs with < 2 tokens have no bigram positions and
  * are dropped (q13/q74 convention). Tokenization is the `split(" ")`
  * convention shared with the whole text family (empty tokens from
  * runs of spaces are ordinary words to the LM — both engines agree).
  */
object Ngram {

  /** A trained bigram LM: unigram counts `(w, c1)`, bigram counts
    * `(w1, w2, c2)`, and the corpus token total. The frames are
    * lazily-derived plans over the training corpus — persist or write
    * them (bucketed) when scoring repeatedly.
    */
  final case class Lm(unigrams: DataFrame, bigrams: DataFrame,
                      nTokens: Long)

  /** The stupid-backoff factor α. */
  private val Alpha = 0.4

  private def words(text: Column): Column = split(text, " ")

  /** Adjacent-pair rows of a tokenized doc WITHOUT retaining the token
    * array per exploded row: `posexplode + element_at(toks, i+1)` keeps
    * the whole array alive in every output row (O(tokens²) copies per
    * doc — the round-6 bench caught it on q77); zipping two slices is
    * one O(tokens) projection, then a plain explode of 2-field structs.
    */
  private def bigramRows(df: DataFrame, textCol: String,
                         keep: Seq[Column]): DataFrame = {
    val ws = words(col(textCol))
    df.where(col(textCol).isNotNull)
      .select(keep :+ slice(ws, lit(1), size(ws) - 1).as("_a")
        :+ slice(ws, lit(2), size(ws) - 1).as("_b"): _*)
      .select(keep :+ explode(arrays_zip(col("_a"), col("_b"))).as("_p"): _*)
      .select(keep :+ col("_p._a").as("w1") :+ col("_p._b").as("w2"): _*)
  }

  /** Fit the count tables: two grouped counts + one total. */
  def train(docs: DataFrame, textCol: String): Lm = {
    val t = docs.where(col(textCol).isNotNull)
    val ws = words(col(textCol))
    val uni = t.select(explode(ws).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c1"))
    val bi = bigramRows(t, textCol, Seq.empty)
      .groupBy("w1", "w2").agg(count(lit(1)).as("c2"))
    // sum over zero rows is NULL — fail loudly, not with an NPE, when
    // the training frame has no non-null texts
    val nRow = t.select(sum(size(ws)).as("n")).head()
    require(!nRow.isNullAt(0),
      "Ngram.train: training corpus has no non-null texts")
    Lm(uni, bi, nRow.getLong(0))
  }

  /** Persist a trained LM: the two count tables as parquet plus a
    * meta file with the token total, written LAST (atomic rename) so a
    * half-written model directory is unloadable rather than silently
    * short. Production trains the LM once over the reference corpus
    * and scores everywhere — the same contract as
    * `Classifier.save/load`, with plain integer counts (bit-exactness
    * concerns don't arise).
    */
  def saveLm(lm: Lm, dir: String): Unit = {
    val spark = lm.unigrams.sparkSession
    val conf = spark.sessionState.newHadoopConf()
    // re-saving over an existing model: drop the OLD meta before
    // touching the tables, so a crash mid-rewrite leaves an unloadable
    // directory instead of old-meta-over-new-tables (which loadLm
    // would happily pair into a silently wrong model)
    val meta = new org.apache.hadoop.fs.Path(s"$dir/_lm_meta.json")
    val fs = meta.getFileSystem(conf)
    if (fs.exists(meta)) fs.delete(meta, false)
    lm.unigrams.write.mode("overwrite").parquet(s"$dir/unigrams")
    lm.bigrams.write.mode("overwrite").parquet(s"$dir/bigrams")
    graft.io.Json.write(s"$dir/_lm_meta.json", graft.io.Json.obj(
      "format" -> "graft-bigram-lm", "version" -> 1,
      "n_tokens" -> lm.nTokens), conf)
  }

  /** Load a model written by [[saveLm]] — loud on a missing/foreign
    * meta file (count tables without their total are not a model).
    */
  def loadLm(spark: org.apache.spark.sql.SparkSession, dir: String): Lm = {
    val meta = graft.io.Json.read(s"$dir/_lm_meta.json",
      spark.sessionState.newHadoopConf())
    require(meta.isDefined,
      s"$dir is not a graft LM directory (no _lm_meta.json — " +
        "half-written save or wrong path)")
    require(meta.get.has("format", "graft-bigram-lm"),
      s"$dir/_lm_meta.json is not a graft bigram-LM meta file")
    Lm(spark.read.parquet(s"$dir/unigrams"),
      spark.read.parquet(s"$dir/bigrams"), meta.get("n_tokens").long)
  }

  /** Perplexity-score documents under a trained [[Lm]]:
    * `(doc_id, n_bigrams, logp, ppl)`, logp/ppl rounded to 6 digits
    * (float sums over a doc's positions — the q64 convention).
    *
    * @param hashedKeys join the count tables on `xxhash64(gram)`
    *                   (8-byte shuffle keys, the scale default) instead
    *                   of gram text; row-parity with the text-keyed
    *                   rendition is suite-gated, and q77 oracles the
    *                   text-keyed path
    */
  def scoreDocs(docs: DataFrame, idCol: String, textCol: String, lm: Lm,
                hashedKeys: Boolean = true): DataFrame = {
    require(lm.nTokens > 0, "empty language model")
    // join keys: either the gram text itself or its xxhash64 — BOTH
    // sides derive the key the same way, so the variants differ only
    // in what the exchanges carry
    def uk(c: Column): Column = if (hashedKeys) xxhash64(c) else c
    def bk(a: Column, b: Column): Column =
      // text mode keys on the (w1, w2) STRUCT — collision-free by
      // construction (a separator-concat key would conflate bigrams
      // when a token itself contains the separator; raw web text can
      // contain any control char)
      if (hashedKeys) xxhash64(a, b) else struct(a.as("w1"), b.as("w2"))
    val uni = lm.unigrams.select(uk(col("w")).as("_uk"), col("c1"))
    val bi = lm.bigrams
      .select(bk(col("w1"), col("w2")).as("_bk"), col("c2"))
    // the gram STRINGS die here, inside the scan stage: only the join
    // keys (8-byte hashes in the default mode) and doc_id reach the
    // join exchanges
    val keyed = bigramRows(docs, textCol, Seq(col(idCol).as("doc_id")))
      .select(col("doc_id"),
        bk(col("w1"), col("w2")).as("_k_bi"),
        uk(col("w1")).as("_k_ctx"),
        uk(col("w2")).as("_k_next"))
    val scored = keyed
      .join(bi, col("_k_bi") === col("_bk"), "left")
      .join(uni.withColumnRenamed("c1", "_c_ctx")
          .withColumnRenamed("_uk", "_uk1"),
        col("_k_ctx") === col("_uk1"), "left")
      .join(uni.withColumnRenamed("c1", "_c_next")
          .withColumnRenamed("_uk", "_uk2"),
        col("_k_next") === col("_uk2"), "left")
      .select(col("doc_id"),
        when(col("c2").isNotNull && col("_c_ctx").isNotNull,
          col("c2").cast("double") / col("_c_ctx"))
          .otherwise(lit(Alpha) *
            coalesce(col("_c_next"), lit(1L)).cast("double") / lm.nTokens)
          .as("s"))
    scored.groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"), avg(log(col("s"))).as("lp"))
      .select(col("doc_id"), col("n_bigrams"),
        round(col("lp"), 6).as("logp"),
        round(exp(-col("lp")), 6).as("ppl"))
  }
}
