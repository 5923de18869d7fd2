package graft.pipeline

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Gates on the quality classifier's scorer ([[Classifier]]):
  *  - the JVM bucket kernel must be BIT-PARITY with the column
  *    expression the q75 oracle replays,
  *  - scoring must be a zero-shuffle scan-side fold, and must equal a
  *    driver recompute through the JVM kernel,
  *  - a saved model must load back bit-exact.
  */
class ClassifierSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  val dir = "/root/testdata/sf0.01"
  def available: Boolean =
    new java.io.File(s"$dir/documents.parquet").exists()

  private def gramsOf(t: String): Seq[String] =
    (Decontam.shinglesOf(t, 1) ++ Decontam.shinglesOf(t, 2)).toSeq

  test("JVM bucket kernel is bit-parity with the column expression") {
    assume(available)
    import spark.implicits._
    val grams = spark.read.parquet(s"$dir/documents.parquet")
      .where(col("text").isNotNull).limit(50)
      .select(explode(Dsir.grams(col("text"))).as("g"))
    for (nb <- Seq(256, 4096, 65536)) {
      val fromExpr = grams
        .select(col("g"),
          conv(substring(md5(col("g")), 1, 4), 16, 10).cast("int") % nb)
        .as[(String, Int)].collect()
      fromExpr.foreach { case (g, b) =>
        assert(Classifier.bucketOf(g, nb) == b,
          s"bucket kernel diverged on '$g' at nBuckets=$nb")
      }
    }
  }

  test("scoreDocs runs unchanged on a stream, row-identical to batch") {
    // the scorer is a stateless select + mapPartitions, so the SAME
    // operator is the ingest-time quality filter — no streaming twin
    // to keep in sync (the decontamStream/dedupStream family needed
    // one only because they hold state or a broadcast set)
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val model = Classifier.FilterModel(256,
      Array.tabulate(256)(b => (2.0 * b - 255.0) / 512.0), bias = 0.0)
    val rows = Seq((1L, "the quick essay discusses history"),
      (2L, "BUY cheap pills click WIN FREE"), (3L, null: String))
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String)]
    val out = Classifier.scoreDocs(
      input.toDS().toDF("doc_id", "text"), "doc_id", "text", model)
    val q = out.writeStream.format("memory").queryName("qscore_t")
      .outputMode("append").start()
    try {
      input.addData(rows: _*)
      q.processAllAvailable()
      val got = spark.sql("SELECT * FROM qscore_t").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val want = Classifier.scoreDocs(
        rows.toDF("doc_id", "text"), "doc_id", "text", model)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .toSet
      assert(want.map(_._1) == Set(1L, 2L), "fixture: NULL text drops")
      assert(got == want, s"stream $got != batch $want")
    } finally q.stop()
  }

  test("model save/load roundtrip is bit-exact; corrupt files fail loudly") {
    val rnd = new scala.util.Random(3)
    val m = Classifier.FilterModel(64,
      Array.fill(64)(rnd.nextGaussian()), bias = 0.123456789)
    val dir = java.nio.file.Files.createTempDirectory("graft_qlr")
    val path = s"$dir/model.json"
    Classifier.save(spark, m, path)
    val back = Classifier.load(spark, path)
    assert(back.nBuckets == m.nBuckets)
    assert(back.bias == m.bias && back.weights.sameElements(m.weights),
      "roundtrip must be bit-exact")
    assert(back.fingerprint == m.fingerprint)
    val bad = s"$dir/junk.json"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(bad),
      """{"format":"something-else"}""")
    val ex = intercept[IllegalArgumentException](Classifier.load(spark, bad))
    assert(ex.getMessage.contains("not a graft quality-filter model"))
    // truncated, not JSON, a mistyped field, a bit pattern wider than
    // 64 bits and a missing field: each names the file
    val head = """{"format":"graft-quality-lr","version":1,"""
    Seq(head + """"n_buckets":1,"bias_bits":"0","weight_bits":["3ff""",
        "format=graft-quality-lr",
        head + """"n_buckets":"1","bias_bits":"0","weight_bits":["0"]}""",
        head + """"n_buckets":1,"bias_bits":"xyz","weight_bits":["0"]}""",
        head + """"n_buckets":1,"bias_bits":"1ffffffffffffffff","weight_bits":["0"]}""",
        head + """"n_buckets":1,"weight_bits":["0"]}""").foreach { text =>
      java.nio.file.Files.writeString(java.nio.file.Paths.get(bad), text)
      val e = intercept[IllegalArgumentException](Classifier.load(spark, bad))
      assert(e.getMessage.contains(bad), s"$text: ${e.getMessage}")
    }
  }

  test("scoring equals a driver recompute and runs shuffle-free") {
    assume(available)
    val rnd = new scala.util.Random(11)
    val model = Classifier.FilterModel(256,
      Array.fill(256)(rnd.nextGaussian()), bias = -0.2)
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val df = Classifier.scoreDocs(docs, "doc_id", "text", model)
    df.write.format("noop").mode("overwrite").save()
    val shuffles = graft.plans.PlanInspector
      .allNodes(df.queryExecution.executedPlan)
      .count(_.getClass.getSimpleName.contains("ShuffleExchange"))
    assert(shuffles == 0,
      s"scoreDocs must not shuffle, found $shuffles:\n" +
        df.queryExecution.executedPlan)
    val got = df.collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    docs.where(col("text").isNotNull).select("doc_id", "text").collect()
      .foreach { r =>
        val gs = gramsOf(r.getString(1))
        val z = model.bias +
          gs.foldLeft(0.0)((a, g) => a + model.weights(
            Classifier.bucketOf(g, 256))) / gs.length
        val want = 1.0 / (1.0 + math.exp(-z))
        val (n, s) = got(r.getLong(0))
        assert(n == gs.length)
        assert(math.abs(s - want) < 1e-6,
          s"doc ${r.getLong(0)}: got $s, want $want")
      }
  }
}
