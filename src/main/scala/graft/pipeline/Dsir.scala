package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** DSIR — Data Selection via Importance Resampling (Xie et al. 2023,
  * "Data Selection for Language Models via Importance Resampling"):
  * select raw-corpus documents that look like a small TARGET corpus
  * (the curated/high-quality distribution) by importance weighting in
  * a hashed n-gram feature space. Per the paper: featurize each doc as
  * hashed unigram+bigram counts, fit two bag-of-words categorical
  * distributions — `p` on the target corpus, `q` on the raw corpus —
  * and weight each raw doc by `log w = Σ_grams (log p_b − log q_b)`,
  * then resample by weight (Gumbel-top-k) to the training budget. The
  * model-free complement to a trained quality classifier: no labels,
  * just "more like THIS corpus".
  *
  * Feature hashing is the first 2 hex chars of `md5(gram)` — 256
  * buckets keyed by a string BOTH engines derive identically (the q65
  * md5 convention), so the whole weight computation is cross-engine
  * oracleable (q74). The paper uses 10k buckets; the bucket count only
  * trades estimator variance, not the operator's shape, and 256 keeps
  * the oracle's join exact while the smoothed estimator stays sound.
  *
  * Scale shape:
  *  - Fitting `p`/`q` ([[logRatios]]) is one pass per corpus that
  *    collapses to ≤ 256 rows at a partial agg — the shuffle carries
  *    (2-char bucket, long) pairs, never text. The target corpus is
  *    curated-sample-sized by construction (it is the thing humans
  *    vetted); the raw pass is the only corpus-wide scan.
  *  - Scoring ([[importanceWeights]]) is ZERO-shuffle: the 256-slot
  *    log-ratio table rides as a broadcast array and each doc's weight
  *    is one scan-side typed-kernel pass (reused digest, left-fold in
  *    gram order — the q40 pattern; a Catalyst higher-order fold would
  *    evaluate its lambda INTERPRETED and was measured 50x slower).
  *    Scoring 100 TB is one pass that writes (doc_id, log_w).
  *  - Resampling ([[resampleGumbel]]) adds deterministic Gumbel noise
  *    derived from `md5(id:seed)` (no RNG state — stable under
  *    retries/resume, the `Sampling.stratifiedHashSample` convention)
  *    and takes the top k via TakeOrdered: k rows per partition, k at
  *    the driver, no global sort.
  *
  * NULL texts have no grams and are dropped (the q13/q68 convention);
  * a non-NULL text always has ≥ 1 unigram, so only NULLs drop.
  */
object Dsir {

  /** Hash-feature bucket count: 2 hex chars of md5. Fixed — the bucket
    * id doubles as the cross-engine join key, and the scoring literal
    * is sized by it.
    */
  val NumBuckets: Int = 256

  /** Unigram + bigram features of a space-tokenized text (the paper's
    * featurization), as one array column; empty for NULL.
    */
  def grams(text: Column): Column =
    concat(Decontam.shingles(text, 1), Decontam.shingles(text, 2))

  private def bucketOf(gram: Column): Column = substring(md5(gram), 1, 2)

  /** Per-bucket gram counts of one corpus: `(bucket, cnt)`, present
    * buckets only — one scan collapsing at a partial agg to ≤ 256 rows.
    */
  def bucketCounts(docs: DataFrame, textCol: String): DataFrame =
    docs.select(explode(grams(col(textCol))).as("gram"))
      .groupBy(bucketOf(col("gram")).as("bucket"))
      .agg(count(lit(1)).as("cnt"))

  /** The fitted importance model: all 256 buckets with their target /
    * raw counts and the Laplace-smoothed log-likelihood ratio
    * `lr = ln((t_cnt+1)/(t_tot+256)) − ln((r_cnt+1)/(r_tot+256))`.
    * Add-one smoothing keeps every bucket finite, so unseen grams in
    * scored docs are defined (they score the prior ratio). The bucket
    * domain is generated, not observed — buckets absent from both
    * corpora still get a row, because scoring may meet them.
    */
  def logRatios(target: DataFrame, raw: DataFrame,
                textCol: String): DataFrame = {
    val spark = target.sparkSession
    import spark.implicits._
    // ONE pass per corpus: each collapses to <= 256 (bucket, long)
    // rows at the partial agg and collects those. The smoothing / lr
    // arithmetic then runs driver-side over the fixed bucket domain
    // and the result returns as a LOCAL relation — a lazily-returned
    // plan would re-run both corpus passes for every downstream
    // consumer (the totals, the ratio collect, the scorer), which the
    // first cut did and the bench caught (q74 was the slowest query
    // on the board).
    def counts(docs: DataFrame): Map[String, Long] =
      bucketCounts(docs, textCol).as[(String, Long)].collect().toMap
    val tc = counts(target)
    val rc = counts(raw)
    val tTot = tc.values.sum
    val rTot = rc.values.sum
    val rows = (0 until NumBuckets).map { b =>
      val key = f"$b%02x"
      val t = tc.getOrElse(key, 0L)
      val r = rc.getOrElse(key, 0L)
      // same double op order as the q74 oracle's SQL
      val lr = math.log((t + 1L).toDouble / (tTot + NumBuckets)) -
        math.log((r + 1L).toDouble / (rTot + NumBuckets))
      (key, t, r, lr)
    }
    rows.toDF("bucket", "t_cnt", "r_cnt", "lr")
  }

  /** Collect a [[logRatios]] frame to the 256-slot lookup array
    * (index = bucket hex value). Bounded by construction; the require
    * catches a caller passing something that is not a ratio table.
    */
  private[pipeline] def ratioArray(ratios: DataFrame): Array[Double] = {
    val rows = ratios.select("bucket", "lr").collect()
    require(rows.length == NumBuckets,
      s"expected a $NumBuckets-row logRatios table, got ${rows.length} rows")
    val arr = new Array[Double](NumBuckets)
    rows.foreach { r =>
      arr(Integer.parseInt(r.getString(0), 16)) = r.getDouble(1)
    }
    arr
  }

  /** The first two md5 bytes of `g` as a 16-bit prefix, under a REUSED
    * digest. Dsir's bucket is the high byte (the oracle's
    * `substring(md5(gram), 1, 2)`, pinned in DsirSpec);
    * [[Classifier.bucketOf]] takes it mod `nBuckets`.
    */
  private[pipeline] def md5Prefix16(md: java.security.MessageDigest,
                                    g: String): Int = {
    md.reset()
    val d = md.digest(g.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    ((d(0) & 0xff) << 8) | (d(1) & 0xff)
  }

  /** Spark's `round(x, 6)` (BigDecimal HALF_UP), for kernel-side
    * outputs that must hash-match the oracle's rounded columns.
    */
  private[pipeline] def round6(x: Double): Double =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** The hashed-gram fold of both scorers: per document with a gram,
    * `(id, n_grams, Σ weight(md5Prefix16(gram)))` summed in gram order
    * (unigrams then bigrams), one scan-side typed pass with one digest
    * per partition. A Catalyst `aggregate` fold evaluates its lambda
    * INTERPRETED and made q74 the slowest query (14 s at sf0.1).
    * `weights` runs once per partition and returns the caller's lookup.
    */
  private[pipeline] def gramSums(docs: DataFrame, idCol: String,
                                 textCol: String)(
      weights: () => Int => Double): Dataset[(Long, Long, Double)] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs
      .select(col(idCol).cast("long").as("_id"),
        col(textCol).cast("string").as("_t"))
      .as[(Long, String)]
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        val weightOf = weights()
        it.flatMap { case (id, t) =>
          var n = 0L
          var w = 0.0
          (Decontam.shinglesOf(t, 1) ++ Decontam.shinglesOf(t, 2))
            .foreach { g => w += weightOf(md5Prefix16(md, g)); n += 1 }
          if (n == 0L) None else Some((id, n, w))
        }
      }
  }

  /** Unrounded per-doc (n_grams, log_w): [[gramSums]] over the
    * broadcast 256-slot ratio array.
    */
  private def scoreKernel(docs: DataFrame, idCol: String, textCol: String,
                          arr: Array[Double]): Dataset[(Long, Long, Double)] = {
    val bArr = docs.sparkSession.sparkContext.broadcast(arr)
    gramSums(docs, idCol, textCol) { () =>
      val a = bArr.value
      p => a(p >>> 8)
    }
  }

  /** Per-document log importance weights under a fitted [[logRatios]]
    * model: `(doc_id, n_grams, log_w)`, log_w rounded to 6 digits (the
    * q64 convention — the sum is float, both engines agree except
    * within ~1e-9 of a rounding boundary). Zero-shuffle: one scan-side
    * kernel pass per row.
    */
  def importanceWeights(docs: DataFrame, idCol: String, textCol: String,
                        ratios: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    scoreKernel(docs, idCol, textCol, ratioArray(ratios))
      .map { case (id, n, w) => (id, n, round6(w)) }
      .toDF("doc_id", "n_grams", "log_w")
  }

  /** Gumbel-top-k importance resampling (the paper's sampling-without-
    * replacement rule): keep the k docs maximizing `log_w + g_i` where
    * `g_i = −ln(−ln u_i)` is Gumbel noise derived DETERMINISTICALLY
    * from `md5(id:seed)` — `u_i = (hash32 + 0.5) / 2^32 ∈ (0,1)`, so
    * the sample is a pure function of (corpus, ratios, seed): stable
    * under retries, resumable writes, and re-runs (the q65 sampler's
    * contract), and seed rotation redraws the noise. Returns
    * `(doc_id, n_grams, log_w, key)` with key = the noised score,
    * both rounded; ordering and the k-boundary are decided on the
    * ROUNDED key with doc_id tie-break (the q20 convention — a
    * cross-engine replay must agree on the boundary, q78).
    * TakeOrdered — no global sort.
    */
  def resampleGumbel(docs: DataFrame, idCol: String, textCol: String,
                     ratios: DataFrame, k: Int, seed: Long): DataFrame = {
    require(k >= 1, s"resample budget must be >= 1: $k")
    val spark = docs.sparkSession
    import spark.implicits._
    // one md5 per ROW (codegen) — unlike the per-gram weight kernel,
    // the noise derivation was never a hot path
    val u = (conv(substring(md5(concat(col("doc_id").cast("string"),
      lit(":"), lit(seed.toString))), 1, 8), 16, 10).cast("double") +
      lit(0.5)) / lit(4294967296.0)
    val gumbel = -log(-log(u))
    scoreKernel(docs, idCol, textCol, ratioArray(ratios))
      .toDF("doc_id", "n_grams", "w")
      .withColumn("k0", round(col("w") + gumbel, 6))
      .orderBy(col("k0").desc, col("doc_id").asc)
      .limit(k)
      .select(col("doc_id"), col("n_grams"),
        round(col("w"), 6).as("log_w"), col("k0").as("key"))
  }
}
