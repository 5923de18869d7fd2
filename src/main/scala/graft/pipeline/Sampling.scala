package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Deterministic stratified sampling — the mixture-building operator a
  * training-data pipeline runs last: "keep 30% of lang=en, 100% of
  * lang=de, 5% of everything else", reproducibly, with no RNG state.
  *
  * The decision rule is a pure function of (id, seed): a row is kept
  * iff the first 8 hex chars of `md5(id || ':' || seed)` compare below
  * the stratum's threshold, where the threshold is the 8-char
  * zero-padded hex of `floor(fraction * 16^8)`. Fixed-length lowercase
  * hex compares exactly like the number it encodes, so the rule is a
  * STRING comparison both engines implement bit-identically — no float
  * thresholds, no platform RNG, no numeric hex conversion to disagree
  * on (q65 oracles it row-for-row in DuckDB).
  *
  * Why it scales: the filter is scan-side map work (md5 of an 8-byte
  * id — whole-stage codegen, no UDF), the per-stratum thresholds join
  * in as a broadcast of |strata| rows, and there is NO shuffle at all:
  * sampling 100 TB is one pass that writes the survivors. Determinism
  * also means the sample is STABLE under retries, resumable writes,
  * and re-runs on moved partitions — the properties `TableIO`'s
  * resume story needs from its inputs. Changing the seed rotates the
  * kept set; fraction 0 drops the stratum ("00000000" — no key sorts
  * below it), 1.0 keeps all of it (sentinel "g": every hex char sorts
  * below 'g', so every key passes — a 9-char "100000000" would NOT
  * work, lexicographic order compares the first characters, not
  * lengths).
  *
  * Unknown strata (no entry in `fractions`) fall back to
  * `defaultFraction` (default 0 — drop unmapped strata loudly rather
  * than leak them into a curated mixture at full weight).
  */
object Sampling {

  private[graft] def thresholdHex(fraction: Double): String = {
    require(fraction >= 0.0 && fraction <= 1.0,
      s"sampling fraction must be in [0, 1]: $fraction")
    if (fraction == 1.0) "g"
    else f"${math.floor(fraction * 4294967296.0).toLong}%08x"
  }

  /** Temperature-scaled mixture fractions — the standard multilingual /
    * multi-domain rebalancing rule (Conneau et al. 2020 XLM-R §3.1 /
    * Xue et al. 2021 mT5 §3.2): sample stratum i with probability
    * `p_i ∝ c_i^alpha`, so low-resource strata are upsampled relative
    * to their natural share (alpha = 1 keeps the natural mixture,
    * alpha → 0 approaches uniform; both papers use 0.3/0.7-ish).
    * Output per stratum: `(stratum, n_docs, weight, fraction)` where
    * `weight = c_i^alpha / Σ c_j^alpha` and
    * `fraction = min(1, targetRows·weight / c_i)` is the per-stratum
    * keep rate that realizes the mixture under a total row budget —
    * ready to feed [[stratifiedHashSample]]. Strata whose natural count
    * can't meet their boosted share saturate at 1.0 (kept whole), so
    * the realized total is `Σ min(c_i, targetRows·weight)` — the
    * single-shot rule the papers use, not an iterative redistribution.
    *
    * Scale shape: one partial-agg count per stratum (the only corpus
    * pass), then arithmetic over |strata| rows against a broadcast
    * 1-row normalizer. `weight`/`fraction` are rounded to 6 digits;
    * the normalizer is a float sum over strata, so engines summing in
    * different orders can differ in the last ulp — visible only if a
    * value sits within ~1e-10 relative of a rounding boundary (the
    * q63/q67 rounded-double convention).
    */
  def temperatureFractions(docs: DataFrame, strataCol: String,
                           alpha: Double, targetRows: Long): DataFrame = {
    require(alpha > 0.0 && alpha <= 1.0, s"alpha must be in (0, 1]: $alpha")
    require(targetRows > 0, s"targetRows must be positive: $targetRows")
    // NULL strata can't be part of a mixture: excluding them HERE keeps
    // their weight from diluting the real strata ([[stratifiedHashSample]]
    // drops the rows anyway, per its default-0 convention)
    val counts = docs.where(col(strataCol).isNotNull)
      .groupBy(col(strataCol).cast("string").as("stratum"))
      .agg(count(lit(1)).as("n_docs"))
    val z = counts.agg(sum(pow(col("n_docs"), alpha)).as("z"))
    counts.crossJoin(broadcast(z))
      .select(col("stratum"), col("n_docs"),
        round(pow(col("n_docs"), alpha) / col("z"), 6).as("weight"),
        round(least(lit(1.0),
          lit(targetRows.toDouble) * (pow(col("n_docs"), alpha) / col("z"))
            / col("n_docs")), 6).as("fraction"))
  }

  def stratifiedHashSample(docs: DataFrame, idCol: String,
                           strataCol: String,
                           fractions: Map[String, Double], seed: Long,
                           defaultFraction: Double = 0.0): DataFrame = {
    require(fractions.nonEmpty, "stratifiedHashSample needs >= 1 stratum")
    val spark = docs.sparkSession
    import spark.implicits._
    val thresholds = fractions.toSeq
      .map { case (s, f) => (s, thresholdHex(f)) }
      .toDF("_stratum", "_th")
    val defTh = thresholdHex(defaultFraction)
    docs
      .join(broadcast(thresholds),
        docs(strataCol) <=> col("_stratum"), "left")
      .where(substring(
          md5(concat(col(idCol).cast("string"), lit(":"), lit(seed.toString))),
          1, 8) < coalesce(col("_th"), lit(defTh)))
      .drop("_stratum", "_th")
  }
}
