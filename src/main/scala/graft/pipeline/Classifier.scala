package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Trained document-quality classifier — the model-based filter the
  * big pretraining pipelines run after the rule-based passes: a
  * logistic regression over hashed bag-of-words features, scoring each
  * document's probability of being "high quality" (GPT-3 trains an LR
  * quality classifier against a curated positive set, Brown et al.
  * 2020 appendix A; LLaMA uses a fastText-style linear classifier the
  * same way, Touvron et al. 2023 §2). The labeled complement to
  * [[Dsir]]'s label-free importance weighting — both share the hashed
  * unigram+bigram featurization and the zero-shuffle scoring fold.
  *
  * Features: [[Dsir.grams]] hashed to `nBuckets` slots via the md5 hex
  * prefix (`hash16 % nBuckets`, nBuckets ≤ 65536), doc vector =
  * L1-normalized bucket counts (so score is length-invariant), plus a
  * bias. Deliberately the hashing trick, not a vocabulary: no
  * dictionary to build, bounded model size, graceful collisions — the
  * published fastText recipe.
  *
  * Scale shape:
  *  - TRAINING ([[trainFilter]]) is distributed full-batch gradient
  *    descent, the `Train.trainDistributed` pattern: documents are
  *    encoded ONCE to all-int sparse form and cached; each epoch
  *    broadcasts the (nBuckets+1)-sized weights, computes per-doc
  *    `(σ(w·x) − y)·x` contributions in `mapPartitions`-style
  *    accumulation, and `treeAggregate`s one dense model-sized array
  *    to the driver for the step. Nothing corpus-sized ever reaches
  *    the driver; epoch cost is one scan of the cached encodings.
  *    Full-batch gradients are order-free up to float summation, so
  *    no seeded shuffling is needed and runs are deterministic.
  *  - SCORING ([[scoreDocs]]) is ZERO-shuffle: weights ride as a
  *    broadcast and each doc's logit is one scan-side typed-kernel
  *    pass (reused digest — the q40/q74 pattern; a Catalyst
  *    higher-order fold evaluates interpreted and measured ~50x
  *    slower). Scoring 100 TB is one pass that writes (doc_id, score).
  *
  * The scoring kernel is cross-engine oracleable at nBuckets = 256
  * with a fixed weight vector (q75) — the degenerate-rendition
  * convention (q56/q59/q72): the oracle exercises the SAME fold /
  * normalize / sigmoid code path the trained model runs.
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
    * filter can never disagree with this kernel).
    */
  def bucketOf(gram: String, nBuckets: Int): Int = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(gram.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    (((d(0) & 0xff) << 8) | (d(1) & 0xff)) % nBuckets
  }

  /** JVM bucket under a REUSED digest (the hot-loop form of
    * [[bucketOf]] — one MessageDigest per partition, not per gram).
    */
  private def bucketWith(md: java.security.MessageDigest, g: String,
                         nBuckets: Int): Int = {
    md.reset()
    val d = md.digest(g.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    (((d(0) & 0xff) << 8) | (d(1) & 0xff)) % nBuckets
  }

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
    docs
      .select(col(idCol).cast("long").as("_id"),
        col(textCol).cast("string").as("_t"))
      .as[(Long, String)]
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        val m = bModel.value
        it.flatMap { case (id, t) =>
          var n = 0L
          var sumW = 0.0
          (Decontam.shinglesOf(t, 1) ++ Decontam.shinglesOf(t, 2))
            .foreach { g =>
              sumW += m.weights(bucketWith(md, g, m.nBuckets)); n += 1
            }
          if (n == 0L) None
          else {
            val s = 1.0 / (1.0 + math.exp(-(m.bias + sumW / n)))
            Some((id, n, Dsir.round6(s)))
          }
        }
      }
      .toDF("doc_id", "n_grams", "score")
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
    val body = model.weights.map(d =>
      java.lang.Long.toHexString(java.lang.Double.doubleToLongBits(d)))
      .mkString("[\"", "\",\"", "\"]")
    val bias =
      java.lang.Long.toHexString(java.lang.Double.doubleToLongBits(model.bias))
    val json = s"""{"format":"graft-quality-lr","version":1,""" +
      s""""n_buckets":${model.nBuckets},"bias_bits":"$bias",""" +
      s""""weight_bits":$body}"""
    graft.io.TableIO.atomicWrite(path, json,
      spark.sessionState.newHadoopConf())
  }

  /** Load a model written by [[save]] — bit-exact, loud on wrong
    * format or a truncated weight vector (a silently short vector
    * would mis-score every doc, not error).
    */
  def load(spark: org.apache.spark.sql.SparkSession,
           path: String): FilterModel = {
    val conf = spark.sessionState.newHadoopConf()
    val p = new org.apache.hadoop.fs.Path(path)
    val in = p.getFileSystem(conf).open(p)
    val json = try new String(in.readAllBytes(),
      java.nio.charset.StandardCharsets.UTF_8) finally in.close()
    require(json.contains("\"format\":\"graft-quality-lr\""),
      s"$path is not a graft quality-filter model file")
    val nBuckets = """"n_buckets":(\d+)""".r.findFirstMatchIn(json)
      .map(_.group(1).toInt)
      .getOrElse(throw new IllegalArgumentException(
        s"$path: model header missing n_buckets"))
    val bias = """"bias_bits":"([0-9a-f]+)"""".r.findFirstMatchIn(json)
      .map(m => java.lang.Double.longBitsToDouble(
        java.lang.Long.parseUnsignedLong(m.group(1), 16)))
      .getOrElse(throw new IllegalArgumentException(
        s"$path: model header missing bias_bits"))
    val weights = """"weight_bits":\["([0-9a-f",]+)"\]""".r
      .findFirstMatchIn(json)
      .map(_.group(1).split("\",\"")
        .map(h => java.lang.Double.longBitsToDouble(
          java.lang.Long.parseUnsignedLong(h, 16))))
      .getOrElse(throw new IllegalArgumentException(
        s"$path: model weight_bits missing"))
    require(weights.length == nBuckets,
      s"$path: corrupt model — header says $nBuckets weights, body has " +
        s"${weights.length}")
    FilterModel(nBuckets, weights, bias)
  }

  /** One encoded training doc: label + per-gram bucket ids (occurrence
    * list, not a count map — the gradient walks it once) — all ints,
    * the cached unit of the epoch scans.
    */
  final case class EncDoc(y: Double, buckets: Array[Int])

  /** Encode labeled docs to all-int form through the SAME JVM bucket
    * kernel the specs pin against the oracle derivation. Docs with no grams
    * carry no gradient and are dropped here.
    */
  def encode(labeled: DataFrame, textCol: String, labelCol: String,
             nBuckets: Int): Dataset[EncDoc] = {
    requireBuckets(nBuckets)
    val spark = labeled.sparkSession
    import spark.implicits._
    labeled
      .select(col(labelCol).cast("double").as("y"), col(textCol).as("t"))
      .as[(Double, String)]
      .mapPartitions { it =>
        // one digest per partition (the scoreDocs hot-loop shape), not
        // one MessageDigest.getInstance per gram
        val md = java.security.MessageDigest.getInstance("MD5")
        it.flatMap { case (y, t) =>
          val gs = (Decontam.shinglesOf(t, 1) ++ Decontam.shinglesOf(t, 2))
            .map(bucketWith(md, _, nBuckets)).toArray
          if (gs.isEmpty) None else Some(EncDoc(y, gs))
        }
      }
  }

  /** Per-doc gradient contribution, shared between the distributed
    * epoch and the spec's sequential driver fold: with x = normalized
    * counts, z = bias + Σ w[b]/n, g = σ(z) − y, emit g/n per
    * occurrence into `acc` (indices 0..nBuckets-1) and g into the bias
    * slot (index nBuckets).
    */
  private[pipeline] def accumulate(doc: EncDoc, w: Array[Double],
                                   bias: Double,
                                   acc: Array[Double]): Unit = {
    val n = doc.buckets.length.toDouble
    var z = 0.0
    var i = 0
    while (i < doc.buckets.length) { z += w(doc.buckets(i)); i += 1 }
    z = bias + z / n
    val g = 1.0 / (1.0 + math.exp(-z)) - doc.y
    val gn = g / n
    i = 0
    while (i < doc.buckets.length) { acc(doc.buckets(i)) += gn; i += 1 }
    acc(w.length) += g
  }

  /** One full-batch gradient under broadcast weights — dense
    * per-partition accumulation, `treeAggregate`d. Exposed for the
    * parity gate in ClassifierSpec (must equal a sequential
    * [[accumulate]] fold up to float summation order).
    */
  private[pipeline] def distributedGradient(enc: Dataset[EncDoc],
                                            w: Array[Double],
                                            bias: Double): Array[Double] = {
    val spark = enc.sparkSession
    val bw = spark.sparkContext.broadcast(w)
    val n = w.length
    try {
      enc.rdd.treeAggregate(new Array[Double](n + 1))(
        seqOp = (acc, d) => { accumulate(d, bw.value, bias, acc); acc },
        combOp = (a, b) => {
          var i = 0
          while (i <= n) { a(i) += b(i); i += 1 }
          a
        },
        depth = 2)
    } finally bw.destroy()
  }

  /** Train the quality filter: distributed full-batch gradient descent
    * with L2 regularization. `labeled` carries a 0/1 label column
    * (1 = high quality). Deterministic: full-batch gradients are
    * order-free up to float summation, the encoding is a pure function
    * of the text, and the step schedule is fixed.
    */
  def trainFilter(labeled: DataFrame, textCol: String, labelCol: String,
                  nBuckets: Int = 4096, epochs: Int = 60,
                  learnRate: Double = 2.0, l2: Double = 1e-4,
                  log: String => Unit = _ => ()): FilterModel = {
    requireBuckets(nBuckets)
    require(epochs >= 1, s"epochs must be >= 1: $epochs")
    val enc = encode(labeled, textCol, labelCol, nBuckets)
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val nDocs = enc.count()
      require(nDocs > 0, "no labeled docs with grams to train on")
      log(s"[quality-lr] buckets=$nBuckets docs=$nDocs epochs=$epochs")
      val w = new Array[Double](nBuckets)
      var bias = 0.0
      for (epoch <- 1 to epochs) {
        val grad = distributedGradient(enc, w, bias)
        var i = 0
        while (i < nBuckets) {
          w(i) -= learnRate * (grad(i) / nDocs + l2 * w(i)); i += 1
        }
        bias -= learnRate * grad(nBuckets) / nDocs
        if (epoch % 10 == 0) log(f"[quality-lr] epoch $epoch%3d done")
      }
      FilterModel(nBuckets, w, bias)
    } finally enc.unpersist()
  }
}
