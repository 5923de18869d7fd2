package graft.pipeline

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Gates on the stupid-backoff bigram LM ([[Ngram]], Brants et al.
  * 2007): exact closed-form scores on a hand fixture (both the seen-
  * bigram and both backoff branches), hashed-key scoring row-parity
  * with the text-keyed oracle rendition on real data, and the scale
  * gate — in hashed mode no scoring exchange carries a string.
  */
class NgramSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  val dir = "/root/testdata/sf0.01"
  def available: Boolean =
    new java.io.File(s"$dir/documents.parquet").exists()

  test("closed-form scores: seen bigram, unseen bigram, OOV word") {
    assume(available)
    import spark.implicits._
    // train corpus: "a b" x3, "b c" x1 -> N = 8 tokens
    // uni: a=3, b=4, c=1; bi: (a,b)=3, (b,c)=1
    val train = Seq("a b", "a b", "a b", "b c").zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val lm = Ngram.train(train, "text")
    assert(lm.nTokens == 8L)
    // scored docs: seen bigram (a,b): s = 3/3 = 1
    //              unseen bigram (c,a): s = 0.4 * c1(a)/N = 0.4*3/8 = 0.15
    //              OOV next word (a,z): s = 0.4 * 1/N = 0.05
    val docs = Seq((100L, "a b"), (101L, "c a"), (102L, "a z"))
      .toDF("doc_id", "text")
    for (hashed <- Seq(true, false)) {
      val got = Ngram.scoreDocs(docs, "doc_id", "text", lm,
        hashedKeys = hashed)
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2),
          r.getDouble(3))).toMap
      assert(got(100L)._1 == 1L && got(100L)._2 == 0.0 &&
        got(100L)._3 == 1.0, s"seen bigram (hashed=$hashed): ${got(100L)}")
      val lp101 = math.log(0.4 * 3.0 / 8)
      assert(math.abs(got(101L)._2 - BigDecimal(lp101).setScale(6,
        BigDecimal.RoundingMode.HALF_UP).toDouble) < 1e-9,
        s"backoff branch (hashed=$hashed): ${got(101L)}")
      val lp102 = math.log(0.4 * 1.0 / 8)
      assert(math.abs(got(102L)._2 - BigDecimal(lp102).setScale(6,
        BigDecimal.RoundingMode.HALF_UP).toDouble) < 1e-9,
        s"OOV floor (hashed=$hashed): ${got(102L)}")
    }
  }

  test("single-token and NULL docs are dropped; training skips NULLs") {
    import spark.implicits._
    val docs = Seq((0L, Option("a b")), (1L, Option("solo")),
      (2L, Option.empty[String])).toDF("doc_id", "text")
    val lm = Ngram.train(docs, "text")
    assert(lm.nTokens == 3L)
    val got = Ngram.scoreDocs(docs, "doc_id", "text", lm)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(got == Set(0L), s"expected only the 2-token doc: $got")
  }

  test("hashed-key scoring is row-identical to the text-keyed rendition") {
    assume(available)
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val lm = Ngram.train(docs.where(col("doc_id") % 3 =!= 0), "text")
    def rows(hashed: Boolean) =
      Ngram.scoreDocs(docs, "doc_id", "text", lm, hashedKeys = hashed)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
          r.getDouble(3))).toSet
    val text = rows(false)
    val hash = rows(true)
    assert(text.nonEmpty)
    assert(hash == text,
      s"hashed diverged: extra=${hash.diff(text).take(3)} " +
        s"missing=${text.diff(hash).take(3)}")
  }

  test("saveLm/loadLm roundtrip scores identically; foreign dirs fail loudly") {
    assume(available)
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .limit(100)
    val lm = Ngram.train(docs, "text")
    val base = java.nio.file.Files.createTempDirectory("graft_lm").toString
    Ngram.saveLm(lm, s"$base/lm")
    val back = Ngram.loadLm(spark, s"$base/lm")
    assert(back.nTokens == lm.nTokens)
    def rows(m: Ngram.Lm) =
      Ngram.scoreDocs(docs, "doc_id", "text", m).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
          r.getDouble(3))).toSet
    assert(rows(back) == rows(lm))
    val ex = intercept[IllegalArgumentException](
      Ngram.loadLm(spark, s"$base/nowhere"))
    assert(ex.getMessage.contains("not a graft LM directory"))
    // a truncated meta file and a count that is a string or overflows a
    // Long name the file
    val meta = s"$base/lm/_lm_meta.json"
    Seq("""{"format":"graft-bigram-lm","vers""",
        """{"format":"graft-bigram-lm","version":1,"n_tokens":"12"}""",
        """{"format":"graft-bigram-lm","version":1,"n_tokens":99999999999999999999}""").foreach { bad =>
      graft.io.TableIO.atomicWrite(meta, bad)
      val e = intercept[IllegalArgumentException](Ngram.loadLm(spark, s"$base/lm"))
      assert(e.getMessage.contains(meta), s"$bad: ${e.getMessage}")
    }
    // re-save over the same dir (exercises the drop-old-meta-first
    // crash-window ordering): the loaded model must be the NEW one
    val docs2 = spark.read.parquet(s"$dir/documents.parquet")
      .where(col("doc_id") % 2 === 0).limit(80)
    val lm2 = Ngram.train(docs2, "text")
    Ngram.saveLm(lm2, s"$base/lm")
    val back2 = Ngram.loadLm(spark, s"$base/lm")
    assert(back2.nTokens == lm2.nTokens && back2.nTokens != lm.nTokens)
    assert(rows(back2) != rows(lm), "re-save must replace the model")
  }

  test("hashed-mode scoring shuffles no strings once the LM is materialized") {
    assume(available)
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val lm0 = Ngram.train(docs.where(col("doc_id") % 3 =!= 0), "text")
    // TRAINING legitimately shuffles distinct-gram strings once (the
    // model IS a string-keyed table); the scale claim is about SCORING
    // against a materialized model, so pin the count tables the way a
    // production job persists/buckets them before repeated scoring
    val lm = Ngram.Lm(lm0.unigrams.cache(), lm0.bigrams.cache(), lm0.nTokens)
    lm.unigrams.count(); lm.bigrams.count()
    val df = Ngram.scoreDocs(docs, "doc_id", "text", lm)
    try {
      df.write.format("noop").mode("overwrite").save()
      // assert while the cache is live: queryExecution plans lazily,
      // and an unpersist-first ordering would re-plan WITHOUT the
      // cache and re-derive training inside the asserted plan
      import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
      import org.apache.spark.sql.types.StringType
      val stringShuffles = graft.plans.PlanInspector
        .allNodes(df.queryExecution.executedPlan)
        .collect { case s: ShuffleExchangeExec => s }
        .filter(_.output.exists(_.dataType == StringType))
      assert(stringShuffles.isEmpty,
        s"scoring exchanges must carry only hashed keys:\n" +
          stringShuffles.map(_.output.mkString(", ")).mkString("\n"))
    } finally { lm.unigrams.unpersist(); lm.bigrams.unpersist() }
  }
}
