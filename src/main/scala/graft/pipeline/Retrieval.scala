package graft.pipeline

import org.apache.spark.sql.{DataFrame, functions => F}
import org.apache.spark.sql.functions._

/** Lexical retrieval over a document corpus — the BM25 ranking the
  * dedup/ANN family's embedding search complements: given a bag of
  * query terms, score every matching document with Okapi BM25 (the
  * Robertson–Spärck Jones formulation with the Lucene-style
  * `ln(1 + (N - df + 0.5)/(df + 0.5))` non-negative idf) and return
  * the top k.
  *
  * Scale shape (the interesting part):
  *  - The corpus-wide stats (N, avgdl) are ONE single-row aggregate,
  *    broadcast — never a shuffle of the corpus.
  *  - Term frequencies are computed by explode + IMMEDIATE filter on
  *    the query-term set: tokens that are not query terms die inside
  *    the same whole-stage-codegen pipeline as the Generate; nothing
  *    but (doc, query-term) hits — a few rows per matching doc —
  *    ever reaches an exchange. The shuffled volume is proportional
  *    to the number of query-term OCCURRENCES, not corpus size.
  *  - df-per-term is |queryTerms| rows, joined back by broadcast.
  *  - The final top-k is `orderBy.limit(k)` — Spark's TakeOrdered
  *    keeps k rows per partition then k at the driver; no global sort
  *    materializes.
  *
  * Scoring arithmetic is pure double with an explicit operation order
  * (see [[graft.queries.RelationalQueries.q64_bm25_topk]] — the DuckDB
  * oracle mirrors the same order and casts its literals to DOUBLE so
  * decimal pre-rounding can't skew an ulp), and the returned score is
  * rounded to 6 digits with (score desc, doc_id asc) ordering on the
  * ROUNDED value, the q20 convention that keeps cross-engine top-k
  * boundaries deterministic.
  *
  * Only documents containing at least one query term are scored (BM25
  * of a no-hit document is 0; emitting the whole corpus as zeros would
  * be an O(corpus) result for every query). NULL texts tokenize to
  * NULL and drop out of both the explode and the avgdl average, the
  * same convention as the q13 token counts.
  */
object Retrieval {

  def bm25TopK(docs: DataFrame, idCol: String, textCol: String,
               queryTerms: Seq[String], k: Int): DataFrame = {
    val k1 = 1.2
    val b = 0.75
    require(queryTerms.nonEmpty, "bm25TopK needs at least one query term")
    require(k >= 1, s"bm25TopK k must be >= 1: $k")
    val terms = queryTerms.distinct
    val base = docs.select(col(idCol).as("doc_id"),
      split(col(textCol), " ").as("toks"))
      .withColumn("dl", size(col("toks")))
    // N and avgdl in one 1-row pass; avg skips NULL-text docs, count
    // includes them (both engines agree on that convention)
    val stats = base.agg(count(lit(1)).as("n_docs"), avg(col("dl")).as("avgdl"))
    val tf = base
      .select(col("doc_id"), col("dl"), explode(col("toks")).as("tok"))
      .where(col("tok").isin(terms: _*))
      .groupBy("doc_id", "dl", "tok").agg(count(lit(1)).as("tf"))
    val dft = tf.groupBy("tok").agg(count(lit(1)).as("df"))
    tf.join(broadcast(dft), "tok")
      .crossJoin(broadcast(stats))
      .withColumn("idf",
        log((col("n_docs") - col("df") + 0.5) / (col("df") + 0.5) + 1.0))
      .withColumn("contrib",
        col("idf") * (col("tf") * lit(k1 + 1)) /
          (col("tf") + lit(k1) *
            (lit(1.0) - lit(b) + lit(b) * col("dl") / col("avgdl"))))
      .groupBy("doc_id").agg(round(sum(col("contrib")), 6).as("score"))
      .orderBy(col("score").desc, col("doc_id").asc)
      .limit(k)
  }

  /** Reciprocal-rank fusion (Cormack, Clarke & Büttcher, SIGIR 2009) —
    * the standard way to combine the lexical (BM25) and embedding (ANN)
    * rankings this library produces into one hybrid retrieval result:
    * `rrf(d) = Σ_lists 1 / (k0 + rank_list(d))`, parameter-free beyond
    * `k0` (60 in the paper) and famously robust to score-scale
    * mismatch because it only reads RANKS.
    *
    * Inputs are (doc_id, rank) frames with rank ≥ 1 — top-k outputs,
    * bounded by contract (fusing unbounded rankings is meaningless:
    * RRF weight at rank 10⁶ is noise). The fold over a document's
    * per-list terms is order-pinned (sort desc, then left fold), so the
    * fused score is deterministic for ANY number of lists — a plain
    * `sum` would re-associate FP addition differently across shuffles
    * for ≥ 3 lists. One union + one groupBy on the id — nothing here
    * can be a scale problem when the inputs honor the bounded contract.
    */
  def rrfFuse(rankings: Seq[DataFrame], k0: Int = 60,
              topK: Int = 0): DataFrame = {
    require(rankings.nonEmpty, "rrfFuse needs at least one ranking")
    require(k0 >= 1, s"rrfFuse k0 must be >= 1: $k0")
    val terms = rankings.map(_.select(col("doc_id"),
      (lit(1.0) / (lit(k0).cast("double") + col("rank").cast("double")))
        .as("term")))
    val fused = terms.reduce(_ unionByName _)
      .groupBy("doc_id")
      .agg(
        F.aggregate(sort_array(collect_list(col("term")), asc = false),
          lit(0.0d), (acc, x) => acc + x).as("raw"),
        count(lit(1)).as("n_lists"))
      .select(col("doc_id"), round(col("raw"), 10).as("rrf"),
        col("n_lists"))
    if (topK > 0) fused.orderBy(col("rrf").desc, col("doc_id").asc)
      .limit(topK)
    else fused
  }
}
