package graft.pipeline

import graft.queries.VecOps
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Gates for the product-quantization family ([[Ann.pqTrain]] /
  * [[Ann.pqEncode]] / [[Ann.pqNeighbors]]):
  * driver-recompute encode parity, a dyadic-lossless rendition where
  * ADC search must equal brute-force L2 EXACTLY, recall on a clustered
  * fixture, and the probe-budget / geometry fail-fasts.
  */
class PqSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def vecDf(vs: Seq[(Long, Array[Float])]): DataFrame = {
    import spark.implicits._
    vs.toDF("vec_id", "embedding")
  }

  /** Dyadic fixture: 200 vectors, dim 8, every element from
    * {0, 0.25, 0.5, 0.75} — all squared distances are exactly
    * representable, so any summation order agrees bit-for-bit.
    */
  private def dyadicFixture(): Seq[(Long, Array[Float])] = {
    val rnd = new scala.util.Random(3)
    val grid = Array(0.0f, 0.25f, 0.5f, 0.75f)
    (0L until 200L).map(i => (i, Array.fill(8)(grid(rnd.nextInt(4)))))
  }

  /** Clustered fixture: 20 centers on a ±1 grid, 50 vectors each,
    * gaussian noise 0.1 — the regime learned embeddings live in.
    */
  private def clusteredFixture(): Seq[(Long, Array[Float])] = {
    val rnd = new scala.util.Random(5)
    val dim = 64
    val centers = Array.fill(20)(Array.fill(dim)(
      if (rnd.nextBoolean()) 1.0f else -1.0f))
    (0L until 1000L).map { i =>
      val c = centers((i % 20).toInt)
      (i, c.map(x => x + 0.1f * rnd.nextGaussian().toFloat))
    }
  }

  private def sqDist(a: Array[Float], b: Array[Float]): Double = {
    var d = 0.0; var i = 0
    while (i < math.min(a.length, b.length)) {
      val diff = a(i) - b(i); d += diff * diff; i += 1
    }
    d
  }

  test("pqEncode equals a per-subspace driver recompute; deterministic") {
    val data = clusteredFixture()
    val df = vecDf(data)
    val model = Ann.pqTrain(df, "vec_id", "embedding", m = 8, k = 16,
      sampleN = 512)
    assert(model.m == 8 && model.k == 16 && model.dSub == 8)
    val got = Ann.pqEncode(df, "vec_id", "embedding", model).collect()
      .map(r => r.getLong(0) -> r.getSeq[Int](1).toArray).toMap
    val byId = data.toMap
    got.foreach { case (id, code) =>
      val v = byId(id)
      val want = (0 until model.m).map { sub =>
        VecOps.nearestCell(model.codebooks(sub),
          v.slice(sub * model.dSub, (sub + 1) * model.dSub))
      }
      assert(code.toSeq == want, s"vec $id encoded ${code.toSeq}, want $want")
    }
    // retrain from the same frame: bit-identical model (seeded sample,
    // seeded kmeans++)
    val model2 = Ann.pqTrain(df, "vec_id", "embedding", m = 8, k = 16,
      sampleN = 512)
    assert(model.codebooks.flatten.flatten.map(java.lang.Float.floatToIntBits)
      .toSeq == model2.codebooks.flatten.flatten
      .map(java.lang.Float.floatToIntBits).toSeq)
  }

  test("dyadic-lossless rendition: ADC search equals brute-force L2 exactly") {
    // m = dim (1-dim subspaces), k = 4 >= distinct values per dim: the
    // codebooks converge to exactly the grid values, encoding is
    // lossless, and ADC distance IS the true squared L2 — all dyadic,
    // so equality is exact, not approximate.
    val data = dyadicFixture()
    val df = vecDf(data)
    val model = Ann.pqTrain(df, "vec_id", "embedding", m = 8, k = 4,
      sampleN = 1024)
    // lossless: every codebook entry reconstructs its members exactly
    val codes = Ann.pqEncode(df, "vec_id", "embedding", model).collect()
      .map(r => r.getLong(0) -> r.getSeq[Int](1).toArray).toMap
    val byId = data.toMap
    codes.foreach { case (id, code) =>
      val rec = (0 until model.m).flatMap(sub =>
        model.codebooks(sub)(code(sub)))
      assert(rec == byId(id).toSeq, s"vec $id not losslessly encoded")
    }
    val got = Ann.pqNeighbors(df, "vec_id", "embedding", model,
      probePred = col("vec_id") < 10, k = 3).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val want = (0L until 10L).flatMap { qid =>
      val q = byId(qid)
      data.filter(_._1 != qid)
        .map { case (id, v) => (id, sqDist(q, v)) }
        .sortBy { case (id, d) => (d, id) }.take(3).zipWithIndex
        .map { case ((id, _), r) => (qid, r + 1, id) }
    }.toSet
    assert(got == want)
  }

  test("clustered: ADC shortlist recall@50 >= 0.9 and top-3 cluster purity >= 0.9") {
    // PQ's contract is SHORTLIST recovery (Jégou et al. evaluate
    // recall@R, R >> k): members of one tight cluster share a code, so
    // their ADC distances TIE and top-3-vs-top-3 is meaningless by
    // design — the production pattern is ADC shortlist → exact re-rank.
    val data = clusteredFixture()
    val df = vecDf(data)
    val model = Ann.pqTrain(df, "vec_id", "embedding", m = 8, k = 16,
      sampleN = 512)
    val byId = data.toMap
    // recall@50: the exact top-3 must sit inside the 50-candidate
    // ADC shortlist (the re-rank set)
    val shortlist = Ann.pqNeighbors(df, "vec_id", "embedding", model,
      probePred = col("vec_id") < 20, k = 50).collect()
      .map(r => (r.getLong(0), r.getLong(2)))
      .groupBy(_._1).map { case (q, xs) => q -> xs.map(_._2).toSet }
    val hits = (0L until 20L).map { qid =>
      val q = byId(qid)
      val exact = data.filter(_._1 != qid)
        .map { case (id, v) => (id, sqDist(q, v)) }
        .sortBy { case (id, d) => (d, id) }.take(3).map(_._1).toSet
      (shortlist.getOrElse(qid, Set.empty) & exact).size.toDouble / exact.size
    }
    val recallAt50 = hits.sum / hits.size
    assert(recallAt50 >= 0.9, s"PQ ADC recall@50 $recallAt50 < 0.9")
    // top-3 cluster purity: whatever the ties resolve to must still be
    // the probe's semantic neighborhood (fixture cluster = id % 20)
    val top3 = Ann.pqNeighbors(df, "vec_id", "embedding", model,
      probePred = col("vec_id") < 20, k = 3).collect()
      .map(r => (r.getLong(0), r.getLong(2)))
    val pure = top3.count { case (q, id) => id % 20 == q % 20 }
    val purity = pure.toDouble / top3.length
    assert(purity >= 0.9, s"PQ ADC top-3 cluster purity $purity < 0.9")
  }

  test("fail-fasts: probe budget, geometry, k range") {
    val data = dyadicFixture()
    val df = vecDf(data)
    val model = Ann.pqTrain(df, "vec_id", "embedding", m = 8, k = 4)
    intercept[IllegalArgumentException] { // all 200 vectors as probes, 1-byte budget
      Ann.pqNeighbors(df, "vec_id", "embedding", model,
        probePred = lit(true), k = 3, maxProbeBytes = 1L)
    }
    intercept[IllegalArgumentException] { // 8 dims not divisible into 3
      Ann.pqTrain(df, "vec_id", "embedding", m = 3, k = 4)
    }
    intercept[IllegalArgumentException] { // k > 256 breaks byte-packing
      Ann.pqTrain(df, "vec_id", "embedding", m = 8, k = 300)
    }
  }
}
