package graft.pipeline

import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** Gates on the decontamination kernels (q67): the pure-JVM shingle
  * kernel that Dsir and Classifier featurize with must agree bit for
  * bit with the column expression, and an over-budget eval set must
  * fail before the corpus is scanned.
  */
class DecontamSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  test("shinglesOf kernel is bit-parity with the shingles column expression") {
    import spark.implicits._
    // adversarial tokenizations: empties, lead/trail and double spaces,
    // too-short text, NULL
    Seq("a b c", "", " lead", "trail ", "a  b", "one", null).foreach { t =>
      val viaCol = Seq(Tuple1(t)).toDF("t")
        .select(Decontam.shingles(col("t"), 2).as("g"))
        .head.getSeq[String](0)
      assert(Decontam.shinglesOf(t, 2).toSeq == viaCol,
        s"shingle kernel diverges on ${Option(t).map("'" + _ + "'")}")
    }
    // the value itself, not only the two kernels' agreement
    val g = Seq(Tuple1("a b c")).toDF("t")
      .select(graft.functions.ShingleFunctions.ner_shingles(col("t"), 2))
      .head.getSeq[String](0)
    assert(g == Seq("a b", "b c"))
  }

  test("an over-budget eval set fails fast and names the budget") {
    import spark.implicits._
    val corpus = Seq((1L, "a b c d")).toDF("doc_id", "text")
    val evalSet = Seq("a b c d").toDF("text")
    val ex = intercept[IllegalArgumentException] {
      Decontam.contaminated(corpus, evalSet, "doc_id", "text", "text", 2,
        maxEvalShingles = 2L)
    }
    assert(ex.getMessage.contains("3 distinct 2-gram shingles"), ex.getMessage)
    assert(ex.getMessage.contains("Decontam.MaxEvalShingles"), ex.getMessage)
    assert(ex.getMessage.contains("shard the eval set"), ex.getMessage)
  }
}
