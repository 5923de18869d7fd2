package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Document-quality classifier — the model-based filter the big
  * pretraining pipelines run after the rule-based passes: a logistic
  * regression over hashed bag-of-words features, scoring each
  * document's probability of being "high quality" (GPT-3 trains an LR
  * quality classifier against a curated positive set, Brown et al.
  * 2020 appendix A; LLaMA uses a fastText-style linear classifier the
  * same way, Touvron et al. 2023 §2). The labeled complement to
  * [[Dsir]]'s label-free importance weighting — both share the hashed
  * unigram+bigram featurization and the zero-shuffle scoring fold.
  * This object scores with a given model and persists it ([[save]] /
  * [[load]], the file `curate quality=<model.json>` reads); it does not
  * train.
  *
  * Features: [[Dsir.grams]] hashed to `nBuckets` slots via the md5 hex
  * prefix (`hash16 % nBuckets`, nBuckets ≤ 65536), doc vector =
  * L1-normalized bucket counts (so score is length-invariant), plus a
  * bias. Deliberately the hashing trick, not a vocabulary: no
  * dictionary to build, bounded model size, graceful collisions — the
  * published fastText recipe.
  *
  * Scale shape: SCORING ([[scoreDocs]]) is ZERO-shuffle: weights ride
  * as a broadcast and each doc's logit is one scan-side typed-kernel
  * pass (reused digest — the q40/q74 pattern; a Catalyst higher-order
  * fold evaluates interpreted and measured ~50x slower). Scoring 100 TB
  * is one pass that writes (doc_id, score).
  *
  * The scoring kernel is cross-engine oracleable at nBuckets = 256
  * with a fixed weight vector (q75) — the degenerate-rendition
  * convention (q56/q59/q72): the oracle exercises the SAME fold /
  * normalize / sigmoid code path any model runs.
  *
  * NULL texts have no grams and are dropped (the q13/q74 convention).
  */
object Classifier {

  /** Hashing-trick ceiling: the bucket id is the first 4 hex chars of
    * md5 (16 bits), so more than 65536 buckets cannot be addressed.
    */
  val MaxBuckets: Int = 65536

  final case class FilterModel(nBuckets: Int, weights: Array[Double],
                               bias: Double) {
    require(weights.length == nBuckets,
      s"weight vector length ${weights.length} != nBuckets $nBuckets")

    /** Content fingerprint (md5 over the IEEE bit patterns — the
      * centroid-persistence convention: decimal rendering could
      * collide distinct last-ulp weights): identifies THIS model in
      * checkpoint lineage, so a curation checkpoint filtered by one
      * model refuses to restore into a run using another.
      */
    def fingerprint: String = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val bb = java.nio.ByteBuffer.allocate(8)
      def put(d: Double): Unit = {
        bb.clear(); bb.putLong(java.lang.Double.doubleToLongBits(d))
        md.update(bb.array())
      }
      put(nBuckets.toDouble); put(bias); weights.foreach(put)
      md.digest().map("%02x".format(_)).mkString
    }
  }

  private def requireBuckets(nBuckets: Int): Unit =
    require(nBuckets >= 2 && nBuckets <= MaxBuckets,
      s"nBuckets must be in [2, $MaxBuckets]: $nBuckets")

  /** JVM-side bucket id — bit-parity with the column-side derivation
    * `conv(substring(md5(g), 1, 4), 16, 10) % nBuckets` that the q75
    * oracle replays, pinned in ClassifierSpec (the
    * `Decontam.shinglesOf` convention: the oracle and any ingest-time
    * filter can never disagree with this kernel): the shared
    * [[Dsir.md5Prefix16]] mod `nBuckets`.
    */
  def bucketOf(gram: String, nBuckets: Int): Int =
    Dsir.md5Prefix16(java.security.MessageDigest.getInstance("MD5"), gram) %
      nBuckets

  /** Score documents under a model: `(doc_id, n_grams, score)`, score
    * = σ(bias + (Σ_grams w[bucket]) / n) rounded to 6 digits (one
    * division AFTER the sum, mirrored by the q75 oracle; the q64/q74
    * float-rounding convention). Zero-shuffle: one scan-side
    * typed-kernel pass — the Catalyst higher-order fold this replaced
    * evaluated its lambda interpreted (CodegenFallback) and was the
    * 2nd-slowest query on the bench board; the kernel is the q40/q74
    * pattern and [[bucketOf]]'s bit-parity gate covers it.
    */
  def scoreDocs(docs: DataFrame, idCol: String, textCol: String,
                model: FilterModel): DataFrame = {
    requireBuckets(model.nBuckets)
    val spark = docs.sparkSession
    import spark.implicits._
    val bModel = spark.sparkContext.broadcast(model)
    val bias = model.bias
    Dsir.gramSums(docs, idCol, textCol) { () =>
      val m = bModel.value
      p => m.weights(p % m.nBuckets)
    }.map { case (id, n, sumW) =>
      (id, n, Dsir.round6(1.0 / (1.0 + math.exp(-(bias + sumW / n)))))
    }.toDF("doc_id", "n_grams", "score")
  }

  /** Persist a trained filter model — the production pipeline trains
    * once and scores everywhere, and the scorer MUST hold the exact
    * weights (the [[FilterModel.fingerprint]] is over bit patterns, and
    * the checkpoint-lineage guard compares it): doubles are serialized
    * as IEEE-754 bit patterns (hex), not decimal, and the write is
    * atomic (temp + rename) through the Hadoop FS API.
    */
  def save(spark: org.apache.spark.sql.SparkSession, model: FilterModel,
           path: String): Unit = {
    def bits(d: Double) =
      java.lang.Long.toHexString(java.lang.Double.doubleToLongBits(d))
    graft.io.Json.write(path, graft.io.Json.obj(
      "format" -> "graft-quality-lr", "version" -> 1,
      "n_buckets" -> model.nBuckets, "bias_bits" -> bits(model.bias),
      "weight_bits" -> model.weights.map(bits)),
      spark.sessionState.newHadoopConf())
  }

  /** Load a model written by [[save]] — bit-exact, loud on wrong
    * format or a truncated weight vector (a silently short vector
    * would mis-score every doc, not error).
    */
  def load(spark: org.apache.spark.sql.SparkSession,
           path: String): FilterModel = {
    val m = graft.io.Json.read(path, spark.sessionState.newHadoopConf())
      .getOrElse(throw new java.io.FileNotFoundException(path))
    require(m.has("format", "graft-quality-lr"),
      s"$path is not a graft quality-filter model file")
    val nBuckets = m("n_buckets").int
    def bits(v: graft.io.Json.Value) = java.lang.Double.longBitsToDouble(
      scala.util.Try(java.lang.Long.parseUnsignedLong(v.str, 16))
        .getOrElse(v.refuse("is not a hex IEEE-754 bit pattern")))
    val bias = bits(m("bias_bits"))
    val weights = m("weight_bits").elems.map(bits).toArray
    require(weights.length == nBuckets,
      s"$path: corrupt model — header says $nBuckets weights, body has " +
        s"${weights.length}")
    FilterModel(nBuckets, weights, bias)
  }
}
