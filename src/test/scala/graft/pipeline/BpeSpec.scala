package graft.pipeline

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Gates on BPE encoding ([[Bpe]], Sennrich et al. 2016): encode
  * consistency with the segmentation training reaches, decode
  * roundtrip, and the chained-replace equivalence the q76 oracle relies
  * on.
  */
class BpeSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  val dir = "/root/testdata/sf0.01"
  def available: Boolean =
    new java.io.File(s"$dir/documents.parquet").exists()

  test("encode with learned ranks reproduces the training segmentation") {
    val words = Seq(("low", 5L), ("lower", 2L), ("newest", 6L),
      ("widest", 3L), ("lowest", 4L))
    // the merge table BPE training learns on this fixture (Sennrich's
    // worked example plus "lowest"), in learned order
    val merges = Seq(("e", "s"), ("es", "t"), ("est", "</w>"), ("l", "o"),
      ("lo", "w"), ("e", "w"), ("ew", "est</w>"), ("n", "ewest</w>"))
    val ranks = merges.zipWithIndex.toMap
    // replay training merges on the fixture to get the final states
    var seqs = words.map { case (w, c) => (w, Bpe.baseSymbols(w), c) }
    merges.foreach { case (a, b) =>
      seqs = seqs.map { case (w, s, c) => (w, Bpe.mergePair(s, a, b), c) }
    }
    seqs.foreach { case (w, want, _) =>
      val got = Bpe.encode(w, ranks)
      assert(got.sameElements(want),
        s"'$w': encode ${got.toSeq} != training state ${want.toSeq}")
    }
  }

  test("decode roundtrip: concat(encode(w)) strips back to w") {
    assume(available)
    import spark.implicits._
    val words = spark.read.parquet(s"$dir/documents.parquet")
      .select(explode(split(col("text"), " ")).as("w"))
      .where(col("w") =!= "").distinct().as[String].collect()
    assert(words.nonEmpty)
    // the first 30 merges BPE training learns on this corpus
    val merges = Seq(("e", "r"), ("e", "</w>"), ("n", "</w>"),
      ("er", "</w>"), ("o", "w"), ("ow", "</w>"), ("o", "r"), ("s", "t"),
      ("h", "</w>"), ("a", "t"), ("l", "u"), ("i", "n"), ("a", "</w>"),
      ("g", "</w>"), ("y", "</w>"), ("a", "r"), ("p", "ar"), ("t", "</w>"),
      ("i", "n</w>"), ("j", "o"), ("jo", "in</w>"), ("a", "s"),
      ("as", "h</w>"), ("h", "ash</w>"), ("r", "ow</w>"), ("at", "c"),
      ("atc", "h</w>"), ("b", "atch</w>"), ("a", "n</w>"), ("c", "an</w>"))
    val ranks = merges.zipWithIndex.toMap
    words.foreach { w =>
      val dec = Bpe.encode(w, ranks).mkString("")
      assert(dec == w + Bpe.Marker, s"roundtrip broke on '$w': $dec")
    }
  }

  test("q76's chained-replace oracle semantics equal the greedy kernel") {
    assume(available)
    import spark.implicits._
    val merges = Seq(("t", "h"), ("a", "n"), ("th", "e"), ("an", "d"))
    val ranks = merges.zipWithIndex.toMap
    val sep = '\u0001'
    def viaReplace(w: String): Int = {
      var s = w.codePoints().toArray
        .map(cp => new String(Character.toChars(cp)))
        .mkString(sep.toString) + sep + Bpe.Marker
      merges.foreach { case (a, b) => s = s.replace(s"$a$sep$b", a + b) }
      s.split(sep).length
    }
    val words = spark.read.parquet(s"$dir/documents.parquet")
      .select(explode(split(col("text"), " ")).as("w"))
      .where(col("w") =!= "").distinct().as[String].collect()
    assert(words.nonEmpty)
    words.foreach { w =>
      assert(Bpe.encode(w, ranks).length == viaReplace(w),
        s"replace-chain diverged from greedy kernel on '$w'")
    }
  }

  test("encodeDocs tallies match a driver recompute") {
    assume(available)
    val merges = Seq(("t", "h"), ("a", "n"), ("th", "e"), ("an", "d"))
    val ranks = merges.zipWithIndex.toMap
    val docs = spark.read.parquet(s"$dir/documents.parquet").limit(80)
    val got = Bpe.encodeDocs(docs, "doc_id", "text", merges)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val want = docs.select("doc_id", "text").collect().flatMap { r =>
      Option(r.getString(1)).flatMap { t =>
        val ws = t.split(" ", -1).filter(_.nonEmpty)
        if (ws.isEmpty) None
        else Some(r.getLong(0) ->
          (ws.length.toLong, ws.map(Bpe.encode(_, ranks).length.toLong).sum))
      }
    }.toMap
    assert(got == want)
  }
}
