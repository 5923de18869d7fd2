package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Pins the text-dedup operators that shingle through the native
  * `ner_shingles` kernel ([[TextDedup.shingleHashes]] and the three
  * span operators) row for row against the interpreted
  * `transform(sequence(...), slice ...)` compositions they replaced,
  * kept here as the oracle (as LinkParitySpec keeps the old linker).
  */
class ShingleSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  // NULL, empty, short, exactly k = 3 tokens, lead/trail/double spaces,
  // non-ASCII tokens, texts over n = 20 tokens with a shared span, and
  // exact duplicates so the span operators see cross-document repeats
  private val long1 = (1 to 25).map(i => s"w$i").mkString(" ")
  private val long2 = (3 to 24).map(i => s"w$i").mkString(" ") + " tail"
  private val texts: Seq[String] = Seq(null, null, "", "", "one", "a b",
    "a b c", "a b c", " a b c", "a b c ", "a  b c d", "  ", "naïve café 東京",
    "naïve café 東京 ß", "über straße über straße", long1, long2, long1)

  private def docs: DataFrame = {
    import spark.implicits._
    texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
  }

  // ---- the replaced compositions -----------------------------------
  private def oracleShingleHashes(d: DataFrame, k: Int): DataFrame = {
    val arr = s"transform(sequence(0, greatest(size(ws) - $k, 0)), " +
      s"i -> concat_ws(' ', slice(ws, i + 1, $k)))"
    d.select(col("doc_id"), split(col("text"), " ").as("ws"))
      .select(col("doc_id"),
        explode(expr(s"transform($arr, g -> xxhash64(g))")).as("gh"))
      .distinct()
  }

  private def oracleSpanGrams(d: DataFrame, n: Int): DataFrame =
    d.select(col("doc_id"), split(col("text"), " ").as("ws"))
      .where(size(col("ws")) >= n)
      .select(col("doc_id"), explode(expr(
        s"transform(sequence(1, size(ws) - ${n - 1}), " +
          s"i -> concat_ws(' ', slice(ws, i, $n)))")).as("gram"))

  private def oracleDuplicatedSpans(d: DataFrame, n: Int): DataFrame =
    oracleSpanGrams(d, n).groupBy("gram")
      .agg(countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_occ"))
      .where(col("n_docs") > 1)

  private def oracleDuplicatedSpanHashes(d: DataFrame, n: Int): DataFrame =
    oracleSpanGrams(d, n).groupBy(xxhash64(col("gram")).as("gram_hash"))
      .agg(min(col("gram")).as("exemplar"),
        countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_occ"))
      .where(col("n_docs") > 1)

  private def oracleBoilerplateShare(d: DataFrame, n: Int): DataFrame = {
    val gramCounts = oracleSpanGrams(d, n)
      .select(col("doc_id"), xxhash64(col("gram")).as("gh"))
      .groupBy("doc_id", "gh").agg(count(lit(1)).as("c"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("gh")
    gramCounts
      .withColumn("nd", count(lit(1)).over(w))
      .groupBy("doc_id")
      .agg(sum(col("c")).as("n_spans"),
        coalesce(sum(when(col("nd") > 1, col("c"))), lit(0L))
          .as("n_dup_spans"))
      .withColumn("dup_share",
        round(col("n_dup_spans").cast("double") / col("n_spans"), 6))
  }

  private def assertSameRows(got: DataFrame, want: DataFrame,
                             what: String): Unit = {
    def rows(df: DataFrame) = df.collect().map(_.toString).sorted.toSeq
    val (g, w) = (rows(got), rows(want))
    assert(got.columns.toSeq == want.columns.toSeq, what)
    assert(g == w, s"$what: extra ${g.diff(w).take(5)} missing " +
      s"${w.diff(g).take(5)}")
  }

  test("shingleHashes equals the sequence/slice composition row for row") {
    for (k <- Seq(1, 2, 3, 4)) {
      val want = oracleShingleHashes(docs, k)
      assertSameRows(TextDedup.shingleHashes(docs, "doc_id", "text", k),
        want, s"shingleHashes k=$k")
      assert(want.where(col("doc_id") < 2).count() == 2,
        "the oracle gives each NULL text one shingle")
    }
  }

  test("short-document rule: under k tokens is one shingle, the text itself; NULL is \"\"") {
    import spark.implicits._
    val d = Seq((1L, "a b"), (2L, null), (3L, "x y z")).toDF("doc_id", "text")
    val got = TextDedup.shingleHashes(d, "doc_id", "text", 3)
      .as[(Long, Long)].collect().toSet
    val hash = Seq("a b", "", "x y z").toDF("s")
      .select(xxhash64(col("s"))).as[Long].collect()
    assert(got == Set(1L -> hash(0), 2L -> hash(1), 3L -> hash(2)))
    // so NULL and empty texts are exact near-duplicates of each other
    val nulls = Seq((1L, null), (2L, ""), (3L, null), (4L, "p q r s"))
      .toDF("doc_id", "text")
    val clusters = TextDedup.dupClusters(nulls, "doc_id", "text")
      .as[(Long, Long, Int)].collect().map(r => r._1 -> r._2).toMap
    assert(clusters == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L))
  }

  test("duplicatedSpans, duplicatedSpanHashes and boilerplateShare equal the composition row for row") {
    for (n <- Seq(1, 2, 3, 20)) {
      assertSameRows(TextDedup.duplicatedSpans(docs, "doc_id", "text", n),
        oracleDuplicatedSpans(docs, n), s"duplicatedSpans n=$n")
      assertSameRows(
        TextDedup.duplicatedSpanHashes(docs, "doc_id", "text", n),
        oracleDuplicatedSpanHashes(docs, n), s"duplicatedSpanHashes n=$n")
      assertSameRows(TextDedup.boilerplateShare(docs, "doc_id", "text", n),
        oracleBoilerplateShare(docs, n), s"boilerplateShare n=$n")
    }
    // not vacuous at n = 20: the long texts share spans
    assert(TextDedup.duplicatedSpans(docs, "doc_id", "text", 20).count() > 0)
  }
}
