package graft.queries

import graft.pipeline.SparkTestSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Quality gates on the ANN scale paths (q46/q49) against the driver's
  * sf0.001 embeddings table: the coarse quantizer must produce balanced
  * cells, the in-cell search must recover most of the brute-force
  * neighbors, and results must be deterministic across invocations.
  */
class AnnSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  val dir = "/root/testdata/sf0.001"
  def available: Boolean = new java.io.File(s"$dir/embeddings.parquet").exists()

  private def vectors(): Array[(Long, Array[Float])] = {
    import spark.implicits._
    spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])].collect()
  }

  private def cosine(a: Array[Float], b: Array[Float]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < math.min(a.length, b.length)) {
      dot += a(i).toDouble * b(i); na += a(i).toDouble * a(i)
      nb += b(i).toDouble * b(i); i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** Brute-force top-k neighbor ids per probe (the oracle). */
  /** Brute-force near-dup oracle of q44/q59/q60: every doc pair whose
    * 3-word shingle sets (a text under 3 words: the text itself) have
    * Jaccard >= 1/2, as (min id, max id).
    */
  private def bruteForcePairs(
      docs: Array[(Long, String)]): Set[(Long, Long)] = {
    def shingles(t: String): Set[String] = {
      val ws = t.split(" ")
      (0 to math.max(ws.length - 3, 0)).map(i =>
        ws.slice(i, i + 3).mkString(" ")).toSet
    }
    val sh = docs.map { case (id, t) => id -> shingles(t) }
    (for {
      i <- sh.indices.iterator
      j <- (i + 1) until sh.length
      (id1, s1) = sh(i); (id2, s2) = sh(j)
      inter = (s1 & s2).size
      if inter * 2 >= s1.size + s2.size - inter // J >= 0.5
    } yield (math.min(id1, id2), math.max(id1, id2))).toSet
  }

  private def bruteTopK(vs: Array[(Long, Array[Float])], k: Int)
      : Map[Long, Set[Long]] = {
    val probes = vs.filter(_._1 < 20)
    probes.map { case (qid, q) =>
      qid -> vs.filter(_._1 != qid)
        .map { case (id, v) => (id, cosine(q, v)) }
        .sortBy { case (id, c) => (-c, id) }.take(k).map(_._1).toSet
    }.toMap
  }

  test("int8 quantization: exact error bound, cosine recall preserved, dequant parity") {
    assume(available)
    val vecsDf = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val qdf = graft.pipeline.Ann.quantizeInt8(vecsDf, "vec_id", "embedding")
    val rows = qdf.collect().map(r =>
      (r.getLong(0), r.getFloat(1), r.getSeq[Byte](2).toArray))
    val orig = vectors().toMap
    assert(rows.length == orig.size, "quantization dropped vectors")
    // the |x - q*scale| <= scale/2 bound is EXACT (round() guarantees
    // it); the epsilon only covers the float cast of the stored scale
    rows.foreach { case (id, sc, qa) =>
      val x = orig(id)
      assert(qa.length == x.length, s"vec $id: dim ${qa.length} != ${x.length}")
      var i = 0
      while (i < x.length) {
        assert(math.abs(x(i) - qa(i) * sc.toDouble) <= sc / 2.0 + 1e-6,
          s"vec $id pos $i: ${x(i)} vs ${qa(i)} * $sc")
        assert(qa(i) >= -127 && qa(i) <= 127, s"vec $id pos $i: ${qa(i)}")
        i += 1
      }
    }
    // symmetric scaling cancels in cosine: search straight over the raw
    // int8 arrays and compare neighbors to the float32 baseline
    val truth = bruteTopK(vectors(), 3)
    val qmap = rows.map { case (id, _, qa) => id -> qa }.toMap
    def qcos(a: Array[Byte], b: Array[Byte]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < math.min(a.length, b.length)) {
        dot += a(i).toDouble * b(i); na += a(i).toDouble * a(i)
        nb += b(i).toDouble * b(i); i += 1
      }
      if (na == 0 || nb == 0) 0.0 else dot / (math.sqrt(na) * math.sqrt(nb))
    }
    val ids = qmap.keys.toArray.sorted
    val recalls = truth.toSeq.map { case (qid, want) =>
      val got = ids.filter(_ != qid).map(id => (id, qcos(qmap(qid), qmap(id))))
        .sortBy { case (id, c) => (-c, id) }.take(3).map(_._1).toSet
      (want & got).size.toDouble / want.size
    }
    val meanRecall = recalls.sum / recalls.size
    info(f"int8-search recall@3 vs float32 = $meanRecall%.3f")
    assert(meanRecall >= 0.9,
      f"int8 quantization destroyed neighbor structure: $meanRecall%.3f")
  }

  test("IVF quantizer: k-means cells are populated and balanced") {
    assume(available)
    val vs = vectors()
    val vecsDf = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val cent = graft.pipeline.Ann.ivfCentroids(vecsDf, "vec_id", "embedding",
      nCells = 8)
    assert(cent.length == 8)
    val sizes = vs.groupBy { case (_, v) =>
      VecOps.nearestCell(cent, v) }.map(_._2.length)
    assert(sizes.size == 8, s"empty cells: only ${sizes.size} populated")
    val mean = vs.length.toDouble / 8
    assert(sizes.max <= 2 * mean,
      s"skewed cells: max=${sizes.max} vs mean=$mean")
  }

  test("IVF ANN recall@3 vs brute force on the probe set") {
    assume(available)
    val brute = bruteTopK(vectors(), 3)
    val got = PipelineQueries.q49_ann_ivf(spark, dir)
      .collect()
      .groupBy(_.getAs[Long]("q_id"))
      .map { case (q, rows) => q -> rows.map(_.getAs[Long]("vec_id")).toSet }
    val hits = brute.toSeq.map { case (q, want) =>
      got.getOrElse(q, Set.empty).intersect(want).size }.sum
    val recall = hits.toDouble / brute.map(_._2.size).sum
    info(f"IVF recall@3 = $recall%.3f")
    // kmeans++ seeding (round 3) lifted this from 0.65; gate at 0.8
    assert(recall >= 0.8, f"IVF recall@3 $recall%.3f below 0.8")
  }

  test("LSH ANN recall@3 vs brute force on the probe set") {
    assume(available)
    val brute = bruteTopK(vectors(), 3)
    val got = PipelineQueries.q46_ann_lsh(spark, dir)
      .collect()
      .groupBy(_.getAs[Long]("q_id"))
      .map { case (q, rows) => q -> rows.map(_.getAs[Long]("vec_id")).toSet }
    val hits = brute.toSeq.map { case (q, want) =>
      got.getOrElse(q, Set.empty).intersect(want).size }.sum
    val recall = hits.toDouble / brute.map(_._2.size).sum
    info(f"LSH recall@3 = $recall%.3f")
    assert(recall >= 0.8, f"LSH recall@3 $recall%.3f below 0.8")
  }

  test("q44 banded self-join reuses the signature exchange (one upstream pass)") {
    assume(new java.io.File(s"$dir/documents.parquet").exists())
    val df = PipelineQueries.q44_minhash_pairs(spark, dir)
    df.collect() // AQE: reuse only visible in the final executed plan
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("ReusedExchange") || plan.contains("ReusedQueryStage"),
      s"signature pipeline not reused — upstream would run once per join side:\n$plan")
  }

  test("q44 minhash-LSH: exact precision, high recall vs brute-force Jaccard") {
    // gate on the CORRECTNESS-run scale (sf0.01), per VERDICT r2 #5
    val qDir = "/root/testdata/sf0.01"
    assume(new java.io.File(s"$qDir/documents.parquet").exists())
    import spark.implicits._
    // brute-force oracle: all pairs with shingle-Jaccard >= 0.5
    val docs = spark.read.parquet(s"$qDir/documents.parquet")
      .select(col("doc_id"), col("text")).as[(Long, String)].collect()
    val truePairs = bruteForcePairs(docs)
    val got = PipelineQueries.q44_minhash_pairs(spark, qDir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // the exact-Jaccard verify step makes precision 1.0 by construction
    assert(got.subsetOf(truePairs), s"false positives: ${got -- truePairs}")
    // banded LSH recall on the near-dup population
    val recall = if (truePairs.isEmpty) 1.0
                 else got.size.toDouble / truePairs.size
    info(f"q44 recall vs brute force = $recall%.3f (${got.size}/${truePairs.size})")
    assert(truePairs.nonEmpty, "gate is vacuous: no true near-dup pairs at this SF")
    assert(recall >= 0.9, f"LSH banding missed too many true pairs: $recall%.3f")
  }

  test("q59 degenerate banding (numHashes=0) EQUALS brute-force Jaccard pairs") {
    // q44's recall gate tolerates banding misses; the q59 rendition must
    // not miss ANYTHING — the all-collide bucket makes the candidate set
    // exhaustive, so set equality (not subset) is the contract that makes
    // it SQL-oracleable
    val qDir = "/root/testdata/sf0.01"
    assume(new java.io.File(s"$qDir/documents.parquet").exists())
    import spark.implicits._
    val docs = spark.read.parquet(s"$qDir/documents.parquet")
      .where(col("doc_id") < 300)
      .select(col("doc_id"), col("text")).as[(Long, String)].collect()
    val truePairs = bruteForcePairs(docs)
    val got = RelationalQueries.q59_minhash_pairs_exact(spark, qDir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == truePairs,
      s"degenerate path diverged: missing=${truePairs -- got} extra=${got -- truePairs}")
  }

  test("q60 dup clusters: degenerate path equals the brute-force closure; production banding refines it") {
    val qDir = "/root/testdata/sf0.01"
    assume(new java.io.File(s"$qDir/documents.parquet").exists())
    import spark.implicits._
    val docs = spark.read.parquet(s"$qDir/documents.parquet")
      .where(col("doc_id") < 300)
      .select(col("doc_id"), col("text")).as[(Long, String)].collect()
    val truePairs = bruteForcePairs(docs)
    // independent transitive closure: driver union-find, min-id label
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x; while (parent.getOrElse(r, r) != r) r = parent(r); r
    }
    truePairs.foreach { case (a, b) =>
      parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
      val ra = find(a); val rb = find(b)
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }
    val members = parent.keys.toSeq.groupBy(find)
      .flatMap { case (_, ms) => val m = ms.min; ms.map(_ -> m) }
    val trueCluster = docs.map { case (id, _) =>
      id -> members.getOrElse(id, id) }.toMap
    val nToks = docs.map { case (id, t) => id -> t.split(" ", -1).length }.toMap
    val trueCanon = trueCluster.groupBy(_._2).map { case (c, ms) =>
      c -> ms.keys.maxBy(id => (nToks(id), -id)) }
    val got = RelationalQueries.q60_dup_clusters(spark, qDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(got.length == docs.length, "one row per input doc")
    got.foreach { case (id, cl, canon) =>
      assert(cl == trueCluster(id), s"doc $id: cluster $cl != ${trueCluster(id)}")
      val expCanon = if (trueCanon(trueCluster(id)) == id) 1 else 0
      assert(canon == expCanon, s"doc $id: is_canonical $canon != $expCanon")
    }
    assert(trueCluster.values.toSet.size < docs.length,
      "gate is vacuous: no multi-doc cluster at this SF")
    // production banding: found pairs are exact-verified (precision 1),
    // so every production cluster must sit INSIDE one true cluster —
    // banding can only split clusters (missed pairs), never merge
    // unrelated docs
    val prod = graft.pipeline.TextDedup.dupClusters(
        spark.read.parquet(s"$qDir/documents.parquet").where(col("doc_id") < 300),
        "doc_id", "text", numHashes = 16, bands = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    prod.groupBy(_._2).values.foreach { ms =>
      val tc = ms.map { case (id, _) => trueCluster(id) }.toSet
      assert(tc.size == 1,
        s"banded cluster mixes true clusters $tc: ${ms.map(_._1).toSeq}")
    }
    val trueDup = trueCluster.filter { case (id, c) => c != id ||
      trueCluster.values.count(_ == c) > 1 }.keySet
    val prodCluster = prod.toMap
    val prodDup = prodCluster.filter { case (id, c) => c != id ||
      prodCluster.values.count(_ == c) > 1 }.keySet
    val recall = if (trueDup.isEmpty) 1.0
                 else (trueDup & prodDup).size.toDouble / trueDup.size
    info(f"banded cluster-membership recall = $recall%.3f")
    assert(recall >= 0.9, f"banding lost too much cluster membership: $recall%.3f")
    // the driver union-find shortcut and the distributed CC fixpoint
    // must be indistinguishable: force the distributed branch
    // (collectThreshold = -1) and pin row-set equality
    val in = spark.read.parquet(s"$qDir/documents.parquet")
      .where(col("doc_id") < 300)
    def run(th: Int) = graft.pipeline.TextDedup.dupClusters(
        in, "doc_id", "text", k = 3, numHashes = 16, bands = 4,
        collectThreshold = th)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val viaDriver = run(Int.MaxValue)
    val viaCc = run(-1)
    assert(viaDriver == viaCc,
      s"driver vs distributed CC disagree: ${viaDriver.diff(viaCc).take(5)}" +
        s" / ${viaCc.diff(viaDriver).take(5)}")
  }

  test("q64 BM25 top-k matches a driver-side brute-force recompute") {
    val qDir = "/root/testdata/sf0.01"
    assume(new java.io.File(s"$qDir/documents.parquet").exists())
    import spark.implicits._
    val docs = spark.read.parquet(s"$qDir/documents.parquet")
      .select(col("doc_id"), col("text")).as[(Long, String)].collect()
    val terms = Seq("hash", "join", "scan")
    val (k1, b) = (1.2, 0.75)
    // split(" ", -1) keeps trailing empties, matching Spark's split
    val toks = docs.map { case (id, t) =>
      id -> Option(t).map(_.split(" ", -1)) }.toMap
    val dls = toks.collect { case (id, Some(a)) => id -> a.length }
    val n = docs.length
    val avgdl = dls.map(_._2.toDouble).sum / dls.size
    val tf = toks.collect { case (id, Some(a)) =>
      id -> terms.map(t => t -> a.count(_ == t)).filter(_._2 > 0).toMap
    }.filter(_._2.nonEmpty)
    val df = terms.map(t => t -> tf.count(_._2.contains(t))).toMap
    val scored = tf.map { case (id, m) =>
      val dl = dls.toMap.apply(id)
      id -> m.map { case (t, f) =>
        val idf = math.log((n - df(t) + 0.5) / (df(t) + 0.5) + 1.0)
        idf * (f * (k1 + 1)) / (f + k1 * (1.0 - b + b * dl / avgdl))
      }.sum
    }.map { case (id, s) =>
      id -> BigDecimal.valueOf(s)
        .setScale(6, scala.math.BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val want = scored.toSeq.sortBy { case (id, s) => (-s, id) }.take(25)
    val got = RelationalQueries.q64_bm25_topk(spark, qDir)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(got.length == want.length, s"${got.length} rows != ${want.length}")
    got.zip(want).foreach { case ((gi, gs), (wi, ws)) =>
      assert(gi == wi, s"rank order diverged at doc $gi vs $wi")
      assert(math.abs(gs - ws) <= 1e-9, s"doc $gi: score $gs != $ws")
    }
  }

  test("q65 stratified sampling: deterministic, monotone, binomially sane") {
    val qDir = "/root/testdata/sf0.01"
    assume(new java.io.File(s"$qDir/documents.parquet").exists())
    import graft.pipeline.Sampling
    assert(Sampling.thresholdHex(0.0) == "00000000")
    assert(Sampling.thresholdHex(0.5) == "80000000")
    assert(Sampling.thresholdHex(1.0) == "g")
    val docs = spark.read.parquet(s"$qDir/documents.parquet")
    def ids(fr: Map[String, Double], seed: Long, dflt: Double = 0.0) =
      Sampling.stratifiedHashSample(docs, "doc_id", "lang", fr, seed, dflt)
        .select("doc_id").collect().map(_.getLong(0)).toSet
    val a = ids(Map("en" -> 0.5, "de" -> 1.0), 7L, 0.25)
    assert(a == ids(Map("en" -> 0.5, "de" -> 1.0), 7L, 0.25),
      "sampling is not deterministic across invocations")
    assert(a != ids(Map("en" -> 0.5, "de" -> 1.0), 8L, 0.25),
      "changing the seed did not rotate the sample")
    val byLang = docs.select("doc_id", "lang").collect()
      .map(r => r.getLong(0) -> r.getString(1))
    val deAll = byLang.filter(_._2 == "de").map(_._1).toSet
    assert((deAll -- a).isEmpty, "fraction 1.0 must keep the whole stratum")
    val enAll = byLang.filter(_._2 == "en").map(_._1).toSet
    val enKept = (a & enAll).size.toDouble / enAll.size
    assert(enKept > 0.3 && enKept < 0.7,
      f"en keep rate $enKept%.3f far from 0.5 (n=${enAll.size})")
    // unmapped strata fall to defaultFraction; 0 drops them entirely
    val strict = ids(Map("en" -> 0.5), 7L)
    assert(strict.subsetOf(enAll), "defaultFraction=0 leaked unmapped strata")
    // same seed, larger fraction => superset (thresholds are monotone in
    // the fraction, so mixtures can be grown without resampling)
    val small = ids(Map("en" -> 0.3), 7L)
    val big = ids(Map("en" -> 0.6), 7L)
    assert(small.subsetOf(big), "sample is not monotone in the fraction")
  }

  test("q66 PII scrub: exact redactions, idempotent, clean text untouched") {
    import spark.implicits._
    val fixture = Seq(
      (1L, "write to Jane.Doe+spam@sub.example.co.uk today"),
      (2L, "server at 192.168.0.1 and 8.8.8.8 rebooted"),
      (3L, "call +49 170 1234567 or 555-123-4567 now"),
      (4L, "plain prose with the number 42 and v1.2 only"),
      (5L, null.asInstanceOf[String]),
      (6L, "mixed: a@b.io on 10.0.0.7 dial +1 222 333 4444"))
      .toDF("doc_id", "text")
    val out = graft.pipeline.Scrub.redactPii(fixture, "text")
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getBoolean(2)))
      .toMap
    assert(out(1L) == (("write to <EMAIL> today", true)))
    assert(out(2L) == (("server at <IP> and <IP> rebooted", true)))
    assert(out(3L) == (("call <PHONE> or <PHONE> now", true)))
    assert(out(4L) == (("plain prose with the number 42 and v1.2 only", false)))
    assert(out(5L)._1 == null && !out(5L)._2)
    assert(out(6L) == (("mixed: <EMAIL> on <IP> dial <PHONE>", true)))
    // idempotence: scrubbing scrubbed text changes nothing
    val twice = graft.pipeline.Scrub.redactPii(
        graft.pipeline.Scrub.redactPii(fixture, "text"), "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    out.foreach { case (id, (t, _)) => assert(twice(id) == t, s"doc $id") }
  }

  test("q67 decontamination matches a driver-side shingle-set recompute") {
    val qDir = "/root/testdata/sf0.01"
    assume(new java.io.File(s"$qDir/documents.parquet").exists())
    import spark.implicits._
    val canary = " held out eval canary phrase"
    val docs = spark.read.parquet(s"$qDir/documents.parquet")
      .select(col("doc_id"), col("text")).as[(Long, String)].collect()
      .filter(_._2 != null)
    def gramsOf(t: String, n: Int): Seq[String] = {
      val toks = t.split(" ", -1)
      if (toks.length < n) Seq.empty
      else (0 to toks.length - n).map(i => toks.slice(i, i + n).mkString(" "))
    }
    val evalGrams = docs.filter(_._1 % 50 == 0)
      .flatMap(d => gramsOf(d._2 + canary, 5)).toSet
    val want = docs.filter(_._1 % 50 != 0).flatMap { case (id, t0) =>
      val t = if (id % 7 == 3) t0 + canary else t0
      val gs = gramsOf(t, 5)
      val hits = gs.count(evalGrams.contains)
      if (hits > 0) Some((id, gs.length.toLong, hits.toLong)) else None
    }.toSet
    val got = RelationalQueries.q67_decontam(spark, qDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == want,
      s"decontam mismatch: extra=${got.diff(want).take(5)} " +
        s"missing=${want.diff(got).take(5)}")
    // every planted doc in the corpus side must be flagged
    val planted = docs.map(_._1)
      .filter(id => id % 50 != 0 && id % 7 == 3).toSet
    assert(planted.subsetOf(got.map(_._1)),
      s"planted canary docs not all flagged: " +
        s"${planted.diff(got.map(_._1)).take(5)}")
  }

  test("q68 repetition fold equals a per-doc hash-map recompute") {
    val qDir = "/root/testdata/sf0.01"
    assume(new java.io.File(s"$qDir/documents.parquet").exists())
    import spark.implicits._
    val docs = spark.read.parquet(s"$qDir/documents.parquet")
      .select(col("doc_id"), col("text")).as[(Long, String)].collect()
    val want = docs.filter(_._2 != null).flatMap { case (id, t) =>
      val toks = t.split(" ", -1)
      if (toks.length < 2) None
      else {
        val gs = (0 until toks.length - 1)
          .map(i => toks(i) + " " + toks(i + 1))
        val counts = gs.groupBy(identity).map(_._2.size)
        Some((id, gs.size.toLong, counts.size.toLong, counts.max.toLong))
      }
    }.map { case (id, a, b, c) => id -> ((a, b, c)) }.toMap
    val got = RelationalQueries.q68_repetition(spark, qDir).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got == want, s"repetition stats diverge: " +
      s"${got.toSet.diff(want.toSet).take(3)} vs " +
      s"${want.toSet.diff(got.toSet).take(3)}")
    // the ratio columns derive from the tallies with fixed rounding
    val row = RelationalQueries.q68_repetition(spark, qDir)
      .where(col("doc_id") === got.keys.min).head()
    val (ng, nd, tc) = got(got.keys.min)
    assert(row.getDouble(4) == BigDecimal.valueOf(tc.toDouble / ng)
      .setScale(6, scala.math.BigDecimal.RoundingMode.HALF_UP).toDouble)
    assert(row.getDouble(5) == BigDecimal.valueOf(1.0 - nd.toDouble / ng)
      .setScale(6, scala.math.BigDecimal.RoundingMode.HALF_UP).toDouble)
  }

  test("q69 packing: bucket-count invariance and exact driver cumsum parity") {
    val qDir = "/root/testdata/sf0.01"
    assume(new java.io.File(s"$qDir/documents.parquet").exists())
    import graft.pipeline.Pack
    import spark.implicits._
    val in = spark.read.parquet(s"$qDir/documents.parquet")
      .select(col("doc_id"),
        when(col("text").isNotNull, size(split(col("text"), " ")))
          .otherwise(lit(0)).as("n_toks"))
    def run(buckets: Int) =
      Pack.packChunks(in, "doc_id", "n_toks", 128L, buckets = buckets)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .toSet
    // the two-pass prefix-sum's only failure mode is an offset error at
    // a bucket boundary — so the output must be IDENTICAL for 1 bucket
    // (pure sequential), a prime bucket count, and the default
    val base = run(1)
    assert(base == run(7), "bucket count 7 changed the packing")
    assert(base == run(0), "default bucket count changed the packing")
    // exact parity with a driver-side sequential cumsum
    val rows = in.as[(Long, Int)].collect().sortBy(_._1)
    var cum = 0L
    val want = rows.flatMap { case (id, n) =>
      val start = cum; cum += n
      if (n <= 0) Seq.empty
      else (start / 128 to (cum - 1) / 128).map { c =>
        (id, c, math.max(start, c * 128), math.min(cum - 1, (c + 1) * 128 - 1))
      }
    }.toSet
    assert(base == want,
      s"packing mismatch: extra=${base.diff(want).take(5)} " +
        s"missing=${want.diff(base).take(5)}")
    // chunk occupancy must reconstruct: every chunk except the last is
    // exactly full, token spans tile with no gaps or overlaps
    val byChunk = base.groupBy(_._2)
    val lastChunk = byChunk.keys.max
    byChunk.foreach { case (c, spans) =>
      val tokens = spans.toSeq.map(s => s._4 - s._3 + 1).sum
      if (c < lastChunk)
        assert(tokens == 128L, s"chunk $c holds $tokens tokens, want 128")
      else assert(tokens <= 128L, s"last chunk overfull: $tokens")
    }
  }

  test("q45 simhash groups match a driver-side brute-force recompute") {
    val qDir = "/root/testdata/sf0.01"
    assume(new java.io.File(s"$qDir/documents.parquet").exists())
    import spark.implicits._
    val docs = spark.read.parquet(s"$qDir/documents.parquet")
      .select(col("doc_id"), col("text")).as[(Long, String)].collect()
    // shared primitive only: the engine's xxhash64 per DISTINCT token;
    // the bit-vote aggregation and the grouping are re-derived on the
    // driver, independently of the DataFrame pipeline under test
    val vocab = docs.flatMap(_._2.split(" ", -1)).distinct.toSeq
    val hashOf = vocab.toDF("tok")
      .select(col("tok"), xxhash64(col("tok")).as("h"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    def fingerprint(text: String): Long = {
      val votes = new Array[Long](32)
      text.split(" ", -1).foreach { t =>
        val h = hashOf(t)
        var b = 0
        while (b < 32) {
          votes(b) += (if (((h >> b) & 1L) == 1L) 1 else -1); b += 1
        }
      }
      (0 until 32).map(b => if (votes(b) > 0) 1L << b else 0L).sum
    }
    val want = docs.map { case (id, t) => (fingerprint(t), id) }
      .groupBy(_._1).filter(_._2.length > 1)
      .map { case (fp, members) =>
        val ids = members.map(_._2).sorted
        // roster capped at the 16 smallest ids (counts stay exact)
        (fp, ids.length.toLong, ids.head, ids.last, ids.take(16).mkString(","))
      }.toSet
    val got = PipelineQueries.q45_simhash(spark, qDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getString(4))).toSet
    assert(want.nonEmpty, "gate is vacuous: no simhash collisions at this SF")
    assert(got == want,
      s"simhash groups diverge from brute force: extra=${got -- want} missing=${want -- got}")
  }

  test("simhash roster is capped at rosterCap while counts stay exact") {
    import spark.implicits._
    // 40 identical docs (one fingerprint group, size >> cap) + 2 other dups
    val docs = ((0L until 40L).map(i => (i, "common boilerplate header text")) ++
      Seq((100L, "unique payload alpha beta"), (101L, "unique payload alpha beta")))
      .toDF("doc_id", "text")
    val got = graft.pipeline.TextDedup
      .simhashGroups(docs, "doc_id", "text", bits = 32, rosterCap = 5)
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getString(4))).toSet
    assert(got == Set(
      (40L, 0L, 39L, "0,1,2,3,4"),
      (2L, 100L, 101L, "100,101")),
      s"got $got")
    // capping must not add an exchange: simhash agg (doc_id) + one
    // shuffle shared by the rank window and the fingerprint groupBy
    val df = graft.pipeline.TextDedup
      .simhashGroups(docs, "doc_id", "text", bits = 32, rosterCap = 5)
    df.collect()
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    val shuffles = graft.plans.PlanInspector
      .allNodes(df.queryExecution.executedPlan)
      .count(_.isInstanceOf[ShuffleExchangeLike])
    assert(shuffles <= 2, s"roster cap added an exchange: $shuffles shuffles")
  }

  test("q50 bucketed join plans without a join-side shuffle") {
    assume(new java.io.File(s"$dir/lineitem.parquet").exists())
    val (lt, ot) = RelationalQueries.ensureBucketedTables(spark, dir)
    // join only (the groupBy after it legitimately shuffles its tiny agg)
    val joined = spark.table(lt).hint("merge")
      .join(spark.table(ot), col("l_orderkey") === col("o_orderkey"))
    joined.collect()
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("SortMergeJoin"), s"expected SMJ:\n$plan")
    assert(!plan.contains("Exchange"),
      s"bucketed join must not shuffle either side:\n$plan")
    // result parity with the unbucketed join
    val viaBuckets = RelationalQueries.q50_bucketed_join(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    val plain = spark.read.parquet(s"$dir/lineitem.parquet")
      .join(spark.read.parquet(s"$dir/orders.parquet"),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"),
        sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    assert(viaBuckets == plain)
  }

  test("IVF results are deterministic across invocations") {
    assume(available)
    def runOnce() = PipelineQueries.q49_ann_ivf(spark, dir).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(runOnce() == runOnce())
  }

  /** The ANN probe join must be a plan-guaranteed broadcast: the probe
    * side comes out of a typed flatMap whose size Catalyst cannot
    * estimate, so without the explicit hint the static plan shuffles the
    * corpus side — full embedding vectors, ×nTables replicas for LSH —
    * on the bucket keys (VERDICT r3 #1). Gate: BroadcastHashJoin
    * present, no SortMergeJoin anywhere, and no shuffle exchange whose
    * rows carry an embedding vector (scoring happens before every
    * exchange, so shuffles are scalar-only).
    */
  private def assertVectorShuffleFree(df: org.apache.spark.sql.DataFrame,
                                      name: String): Unit = {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec}
    df.collect() // AQE: gate the FINAL executed plan, not the static one
    val nodes = graft.plans.PlanInspector.allNodes(df.queryExecution.executedPlan)
    assert(nodes.exists(_.isInstanceOf[BroadcastHashJoinExec]),
      s"$name: probe join is not a BroadcastHashJoin:\n${df.queryExecution.executedPlan}")
    assert(!nodes.exists(_.isInstanceOf[SortMergeJoinExec]),
      s"$name: plan contains a SortMergeJoin — the corpus side is being " +
        s"shuffled:\n${df.queryExecution.executedPlan}")
    val vectorShuffles = nodes.collect {
      case s: ShuffleExchangeLike
          if s.output.exists(a => a.name == "embedding" || a.name == "q_emb") => s
    }
    assert(vectorShuffles.isEmpty,
      s"$name: ${vectorShuffles.size} shuffle(s) carry embedding vectors " +
        s"(must be scalar-only):\n${vectorShuffles.mkString("\n")}")
    // the probe (broadcast build) side must cost a FILTERED scan, not a
    // corpus pass: its vec_id predicate has to reach the parquet reader
    val planStr = df.queryExecution.executedPlan.toString
    assert("PushedFilters: \\[[^\\]]*LessThan\\(vec_id,20\\)".r
      .findFirstIn(planStr).isDefined,
      s"$name: probe predicate not pushed to the parquet scan:\n$planStr")
    // hashing/assignment are codegen expressions — no typed-map object
    // round-trip anywhere in the executed plan
    assert(!planStr.contains("DeserializeToObject"),
      s"$name: plan crosses the object boundary (typed map on the hot " +
        s"path):\n$planStr")
  }

  test("q46 LSH probe join is a guaranteed broadcast; shuffles are vector-free") {
    assume(available)
    assertVectorShuffleFree(PipelineQueries.q46_ann_lsh(spark, dir), "q46")
  }

  test("q49 IVF probe join is a guaranteed broadcast; shuffles are vector-free") {
    assume(available)
    assertVectorShuffleFree(PipelineQueries.q49_ann_ivf(spark, dir), "q49")
  }

  test("IVF recall@3 holds across quantizer seeds (min-over-seeds gate)") {
    assume(available)
    val brute = bruteTopK(vectors(), 3)
    // deterministic seed list — the 0.8 claim must not hinge on one
    // lucky kmeans++ draw (VERDICT r3 #5); this corpus is uniform-random
    // 64-dim, the worst case for any partitioning index
    val seeds = Seq(4321L, 7L, 99L)
    val recalls = seeds.map { seed =>
      val vecsDf = spark.read.parquet(s"$dir/embeddings.parquet")
      val cents = graft.pipeline.Ann.ivfCentroids(vecsDf, "vec_id",
        "embedding", nCells = 32, seed = seed)
      val got = graft.pipeline.Ann.ivfSearch(vecsDf, "vec_id", "embedding",
          col("vec_id") < 20, k = 3, cents = cents, nProbe = 16)
        .collect().groupBy(_.getAs[Long]("q_id"))
        .map { case (q, rows) => q -> rows.map(_.getAs[Long]("vec_id")).toSet }
      val hits = brute.toSeq.map { case (q, want) =>
        got.getOrElse(q, Set.empty).intersect(want).size }.sum
      seed -> hits.toDouble / brute.map(_._2.size).sum
    }
    info(recalls.map { case (s, r) => f"seed=$s recall=$r%.3f" }.mkString(", "))
    val worst = recalls.minBy(_._2)
    assert(worst._2 >= 0.8,
      f"IVF recall@3 ${worst._2}%.3f below 0.8 at seed ${worst._1}")
  }

  /** Deterministic clustered corpus: 20 well-separated gaussian centers,
    * 50 points each with small isotropic noise — the REALISTIC regime for
    * learned embeddings (the parquet testdata is uniform-random, the
    * worst case for any partitioning index; VERDICT r3 #7 asks for
    * evidence on data the indexes are actually built for).
    */
  private def clusteredVecs(): Seq[(Long, Array[Float])] = {
    val rnd = new scala.util.Random(42)
    val centers = Array.fill(20, 64)(rnd.nextGaussian().toFloat)
    (0L until 1000L).map { id =>
      val c = centers((id % 20).toInt)
      id -> c.map(x => x + 0.1f * rnd.nextGaussian().toFloat)
    }
  }

  test("q72 semDedup degenerate (one fixed centroid) equals a driver recompute") {
    assume(available)
    val vs = vectors()
    val ones = Array.fill(64)(1.0f)
    def r6(x: Double) = BigDecimal.valueOf(x)
      .setScale(6, scala.math.BigDecimal.RoundingMode.HALF_UP).toDouble
    // driver truth: rounded-cosine membership, min-label closure, keep
    // the member least similar to the centroid (raw cosine, id ties)
    val pairs = for {
      i <- vs.indices; j <- (i + 1) until vs.length
      if r6(cosine(vs(i)._2, vs(j)._2)) >= 0.4
    } yield (vs(i)._1, vs(j)._1)
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x; while (parent.getOrElse(r, r) != r) r = parent(r); r
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }
    val label = vs.map(_._1).map { id =>
      val members = vs.map(_._1).filter(x => find(x) == find(id))
      id -> members.min
    }.toMap
    val ccos = vs.map { case (id, v) => id -> cosine(v, ones) }.toMap
    val keepOf = vs.map(_._1).groupBy(label)
      .map { case (c, ms) => c -> ms.minBy(id => (ccos(id), id)) }
    val want = vs.map { case (id, _) =>
      (id, 0, r6(ccos(id)), label(id), if (keepOf(label(id)) == id) 1 else 0)
    }.toSet
    val df = spark.read.parquet(s"$dir/embeddings.parquet")
    val got = graft.pipeline.Ann.semDedup(df, "vec_id", "embedding",
        tau = 0.4, centroids = Some(Array(ones)), maxCellSize = 1000000)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2),
        r.getLong(3), r.getInt(4))).toSet
    assert(got == want,
      s"semDedup diverged: extra=${got.diff(want).take(3)} " +
        s"missing=${want.diff(got).take(3)}")
    assert(want.exists(_._5 == 0), "fixture has no drops — vacuous")
  }

  test("semDedup kmeans path: one keeper per cluster, in-cell, recall on clustered data") {
    import spark.implicits._
    val vs = clusteredVecs()
    val df = vs.toDF("vec_id", "embedding")
    // nCells BELOW the fixture's 20 natural clusters: a coarser
    // quantizer merges natural clusters into cells rather than
    // splitting them, which is the alignment regime SemDeDup wants
    // (at 32 cells the splits cost ~20 points of pair recall — the
    // documented cross-cell approximation, not a bug)
    val rows = graft.pipeline.Ann.semDedup(
      df, "vec_id", "embedding", tau = 0.95, nCells = 16).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getDouble(2),
        r.getLong(3), r.getInt(4)))
    assert(rows.length == vs.length, s"${rows.length} rows != ${vs.length}")
    // exactly one keeper per cluster; keeper minimizes (centroid_cos, id)
    // up to the output rounding; members of a cluster share one cell
    rows.groupBy(_._4).foreach { case (c, ms) =>
      assert(ms.count(_._5 == 1) == 1, s"cluster $c keeper count != 1")
      assert(ms.map(_._2).distinct.length == 1, s"cluster $c spans cells")
      val keeper = ms.find(_._5 == 1).get
      assert(ms.forall(m => keeper._3 <= m._3 + 1e-6),
        s"cluster $c keeper is not least-centroid-similar")
    }
    // tight 20-cluster fixture: semantic dedup must collapse most of it
    val kept = rows.count(_._5 == 1)
    assert(kept < 200, s"$kept keepers of ${vs.length} — dedup vacuous")
    // recall: brute-force duplicate pairs must land in one cluster,
    // up to the quantizer's cross-cell miss rate (the documented
    // SemDeDup approximation)
    val labelOf = rows.map(r => r._1 -> r._4).toMap
    val arr = vs.toArray
    var dup = 0; var together = 0
    for (i <- arr.indices; j <- (i + 1) until arr.length) {
      if (cosine(arr(i)._2, arr(j)._2) >= 0.96) {
        dup += 1
        if (labelOf(arr(i)._1) == labelOf(arr(j)._1)) together += 1
      }
    }
    assert(dup > 1000, s"fixture degenerate: only $dup brute-force pairs")
    val recall = together.toDouble / dup
    info(f"semDedup pair recall on clustered fixture: $recall%.3f ($dup pairs)")
    assert(recall >= 0.9, f"semDedup recall $recall%.3f < 0.9")
    // determinism across invocations (seeded quantizer)
    val again = graft.pipeline.Ann.semDedup(
      df, "vec_id", "embedding", tau = 0.95, nCells = 16).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getDouble(2),
        r.getLong(3), r.getInt(4)))
    assert(rows.toSet == again.toSet, "semDedup is not deterministic")
  }

  test("q53 cosine pairs: exact precision vs brute force; q21 parity on its id range") {
    assume(available)
    val vs = vectors()
    // driver-side brute-force truth at the q53 threshold
    val cosOf = vs.map { case (id, v) => id -> v }.toMap
    def allPairs(th: Double): Set[(Long, Long)] = (for {
      i <- vs.indices.iterator
      j <- (i + 1) until vs.length
      (a, va) = vs(i); (b, vb) = vs(j)
      if cosine(va, vb) >= th - 1e-9
    } yield (math.min(a, b), math.max(a, b))).toSet
    val truth = allPairs(0.4)
    val got = PipelineQueries.q53_cosine_pairs(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // precision is exact by construction (cosine verify on candidates)
    got.foreach { case (a, b, c) =>
      val bc = cosine(cosOf(a), cosOf(b))
      assert(math.abs(bc - c) < 1e-5, s"pair ($a,$b) cos $c vs brute $bc")
      assert(truth.contains((a, b)), s"false positive pair ($a,$b) cos=$c")
    }
    assert(got.nonEmpty, "q53 surface is vacuous: no pairs found")
    info(s"q53: ${got.length} pairs of ${truth.size} brute-force true pairs")
  }

  test("clustered embeddings: near-dup pairs recall >= 0.95, precision exact") {
    import spark.implicits._
    val vs = clusteredVecs()
    val df = vs.toDF("vec_id", "embedding")
    // same-cluster points sit at cos ~0.98; cross-cluster ~0 — the
    // brute-force truth at 0.9 is exactly the within-cluster pair set
    val truth = (for {
      i <- vs.indices.iterator
      j <- (i + 1) until vs.length
      (a, va) = vs(i); (b, vb) = vs(j)
      if cosine(va, vb) >= 0.9
    } yield (math.min(a, b), math.max(a, b))).toSet
    val got = graft.pipeline.Ann
      .lshCosinePairs(df, "vec_id", "embedding", minCos = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(truth.nonEmpty, "gate is vacuous: no true near-dup pairs")
    assert(got.subsetOf(truth), s"false positives: ${(got -- truth).take(5)}")
    val recall = got.size.toDouble / truth.size
    info(f"clustered near-dup pair recall = $recall%.3f (${got.size}/${truth.size})")
    assert(recall >= 0.95, f"near-dup pair recall $recall%.3f < 0.95")
  }

  test("q53 candidate self-join reuses the hashing exchange; no vector shuffle") {
    assume(available)
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    val df = PipelineQueries.q53_cosine_pairs(spark, dir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("ReusedExchange") || plan.contains("ReusedQueryStage"),
      s"hashing pipeline not reused — upstream would run once per join side:\n$plan")
    // candidate generation must shuffle scalars only; the verify joins
    // move each embedding once, keyed by id — never by bucket
    val offenders = graft.plans.PlanInspector
      .allNodes(df.queryExecution.executedPlan)
      .collect {
        case s: ShuffleExchangeLike
            if s.output.exists(a => a.name == "embedding" || a.name == "e1" ||
              a.name == "e2") && !s.outputPartitioning.toString.contains("d1") &&
              !s.outputPartitioning.toString.contains("d2") &&
              !s.outputPartitioning.toString.contains("vec_id") => s
      }
    assert(offenders.isEmpty,
      s"q53: embedding shuffled on a non-id key:\n${offenders.mkString("\n")}")
  }

  test("degenerate buckets are dropped by maxBucketSize; normal pairs survive") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val base = Array.fill(64)(rnd.nextGaussian().toFloat)
    val other = Array.fill(64)(rnd.nextGaussian().toFloat)
    // 30 identical vectors (a mass-dup cluster: every table's bucket
    // holds all 30) + one genuine near-dup pair elsewhere
    val vs = (0L until 30L).map(id => (id, base.clone)) ++
      Seq((100L, other.clone),
        (101L, other.map(x => x + 1e-4f)))
    val df = vs.toDF("vec_id", "embedding")
    val capped = graft.pipeline.Ann
      .lshCosinePairs(df, "vec_id", "embedding", minCos = 0.9,
        maxBucketSize = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped == Set((100L, 101L)),
      s"cap must drop only the mass-dup cluster's pairs: $capped")
    val uncapped = graft.pipeline.Ann
      .lshCosinePairs(df, "vec_id", "embedding", minCos = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(uncapped.size == 30 * 29 / 2 + 1,
      s"default cap must keep all ${30 * 29 / 2 + 1} pairs: ${uncapped.size}")
  }

  test("NULL-embedding rows are excluded from every ANN path without error") {
    import spark.implicits._
    val rnd = new scala.util.Random(13)
    val good = (0L until 40L).map(id =>
      (id, Array.fill(64)(rnd.nextGaussian().toFloat)))
    // the null row comes FIRST: resolveDim's width probe must skip it
    // rather than NPE on size(NULL) of the first scanned row
    val df = Seq(999L).toDF("vec_id")
      .select(col("vec_id"),
        lit(null).cast("array<float>").as("embedding"))
      .union(good.toDF("vec_id", "embedding"))
    def ids(out: org.apache.spark.sql.DataFrame, c: String): Set[Long] =
      out.select(c).collect().map(_.getLong(0)).toSet
    val lsh = graft.pipeline.Ann.lshNeighbors(df, "vec_id", "embedding",
      probePred = col("vec_id") < 5)
    assert(!ids(lsh, "vec_id").contains(999L) && ids(lsh, "q_id").nonEmpty)
    val ivf = graft.pipeline.Ann.ivfNeighbors(df, "vec_id", "embedding",
      probePred = col("vec_id") < 5, nCells = 4, nProbe = 2)
    assert(!ids(ivf, "vec_id").contains(999L) && ids(ivf, "q_id").nonEmpty)
    val pairs = graft.pipeline.Ann.lshCosinePairs(df, "vec_id", "embedding",
      minCos = -1.0)
    assert(!ids(pairs, "d1").contains(999L) && !ids(pairs, "d2").contains(999L))
    assert(ids(pairs, "d1").nonEmpty)
  }

  test("an oversized probe set fails fast before any broadcast") {
    import spark.implicits._
    val vs = (0L until 50L).map(id =>
      (id, Array.fill(64)(id.toFloat)))
    val df = vs.toDF("vec_id", "embedding")
    val ex = intercept[IllegalArgumentException] {
      graft.pipeline.Ann.lshNeighbors(df, "vec_id", "embedding",
        probePred = lit(true), maxProbeBytes = 1024L)
    }
    assert(ex.getMessage.contains("probe-broadcast budget"), ex.getMessage)
  }

  test("clustered embeddings: LSH and IVF recall@3 >= 0.95") {
    import spark.implicits._
    val vs = clusteredVecs()
    val df = vs.toDF("vec_id", "embedding")
    val brute = {
      val arr = vs.toArray
      val probes = arr.filter(_._1 < 20)
      probes.map { case (qid, q) =>
        qid -> arr.filter(_._1 != qid)
          .map { case (id, v) => (id, cosine(q, v)) }
          .sortBy { case (id, c) => (-c, id) }.take(3).map(_._1).toSet
      }.toMap
    }
    def recallOf(got: org.apache.spark.sql.DataFrame): Double = {
      val byQ = got.collect().groupBy(_.getAs[Long]("q_id"))
        .map { case (q, rows) => q -> rows.map(_.getAs[Long]("vec_id")).toSet }
      brute.toSeq.map { case (q, want) =>
        byQ.getOrElse(q, Set.empty).intersect(want).size }.sum.toDouble /
        brute.map(_._2.size).sum
    }
    val lsh = recallOf(graft.pipeline.Ann.lshNeighbors(df, "vec_id", "embedding",
      probePred = col("vec_id") < 20, k = 3, nBits = 4, nTables = 12))
    val ivf = recallOf(graft.pipeline.Ann.ivfNeighbors(df, "vec_id", "embedding",
      probePred = col("vec_id") < 20, k = 3, nCells = 32, nProbe = 16))
    info(f"clustered recall@3: LSH=$lsh%.3f IVF=$ivf%.3f")
    assert(lsh >= 0.95, f"LSH recall on clustered data $lsh%.3f < 0.95")
    assert(ivf >= 0.95, f"IVF recall on clustered data $ivf%.3f < 0.95")

    // AUTO geometry (the production default — VERDICT r4 #7): √1000 ≈
    // 32 cells, nProbe max(4, 32/8) = 4, a 12.5% probe fraction. The
    // rule must hold recall ≥ 0.9 on clustered data WITHOUT the caller
    // picking magic numbers — this is the gate behind encoding it as
    // the default instead of documentation.
    assert(graft.pipeline.Ann.ivfAutoGeometry(1000L) == ((32, 4)),
      s"auto rule drifted: ${graft.pipeline.Ann.ivfAutoGeometry(1000L)}")
    val auto = recallOf(graft.pipeline.Ann.ivfNeighbors(df, "vec_id",
      "embedding", probePred = col("vec_id") < 20, k = 3))
    info(f"clustered recall@3 with auto IVF geometry (32 cells/4 probes) = $auto%.3f")
    assert(auto >= 0.9,
      f"auto-geometry IVF recall $auto%.3f < 0.9 at 12.5%% probe fraction")
  }

  test("groupedPercentiles guard: high-cardinality groups route to t-digest") {
    import spark.implicits._
    // a value column where EVERY row is distinct — the exact
    // percentile's per-group buffer would grow with the row count; the
    // guard must route this to approx_percentile without being told
    val rnd = new scala.util.Random(17)
    val df = (1 to 20000).map(i =>
      (s"g${i % 3}", rnd.nextDouble() * 1e9)).toDF("grp", "value")
    val guarded = RelationalQueries.groupedPercentiles(
      df, "grp", "value", Seq(0.5, 0.95), maxDistinctPerGroup = 1000)
    assert(guarded.queryExecution.analyzed.toString
      .contains("approx_percentile"),
      "guard did not engage: plan still uses the exact percentile\n" +
        guarded.queryExecution.analyzed)
    // the routed result must stay inside approx_percentile's documented
    // rank contract (n/accuracy positions, +1 for sample-vs-interpolate)
    val got = guarded.collect()
      .map(r => r.getString(0) -> ((r.getDouble(1), r.getDouble(2)))).toMap
    val byGrp = df.collect().map(r => (r.getString(0), r.getDouble(1)))
      .groupBy(_._1).map { case (g, rs) => g -> rs.map(_._2).sorted }
    got.foreach { case (g, (p50, p95)) =>
      val vals = byGrp(g); val n = vals.length
      Seq((0.5, p50), (0.95, p95)).foreach { case (q, v) =>
        val target = q * (n - 1)
        val rLo = vals.count(_ < v)
        // the operator ROUNDS the returned sample to 6 digits, which on
        // 1e9-scale all-distinct values lands it BETWEEN data points:
        // count(<= v) - 1 < rLo then, and the value's effective rank is
        // rLo itself
        val rHi = math.max(vals.count(_ <= v) - 1, rLo)
        val tol = n.toDouble / 10000 + 1
        assert(rHi >= target - tol && rLo <= target + tol,
          s"$g p$q: $v rank [$rLo,$rHi] vs target $target ± $tol")
      }
    }
    // and a metric-like column keeps the EXACT path (q57's oracle
    // depends on it)
    val small = (1 to 5000).map(i => (s"g${i % 3}", (i % 40).toDouble))
      .toDF("grp", "value")
    val exact = RelationalQueries.groupedPercentiles(
      small, "grp", "value", Seq(0.5), maxDistinctPerGroup = 1000)
    assert(!exact.queryExecution.analyzed.toString
      .contains("approx_percentile"),
      "guard misfired: a 40-distinct-value column routed to t-digest")
  }

  test("groupedPercentiles and semDedup survive empty input") {
    import spark.implicits._
    // the HLL probe's max over ZERO groups is NULL — the guard must
    // route to the exact path and return the empty frame, not NPE out
    // of getLong (review regression)
    val empty = Seq.empty[(String, Double)].toDF("grp", "value")
    val out = RelationalQueries.groupedPercentiles(
      empty, "grp", "value", Seq(0.5))
    assert(out.collect().isEmpty, "empty input must yield empty output")
    assert(out.columns.toSeq == Seq("grp", "p50", "n"), out.columns.toSeq)
    // semDedup with zero non-null embeddings: no geometry to derive —
    // the contract is the empty frame in the operator's 5-column shape
    // (Curate's semantic stage must survive a survivor set with no
    // embedding rows)
    val noVecs = Seq.empty[(Long, Array[Float])].toDF("vec_id", "embedding")
    val sem = graft.pipeline.Ann.semDedup(
      noVecs, "vec_id", "embedding", tau = 0.9)
    assert(sem.collect().isEmpty, "no vectors must yield no rows")
    assert(sem.columns.toSeq ==
      Seq("vec_id", "cell", "centroid_cos", "cluster_id", "is_kept"),
      sem.columns.toSeq)
    // all-NULL embeddings are the same empty case, not a crash
    val nulls = Seq((1L, null: Array[Float]), (2L, null: Array[Float]))
      .toDF("vec_id", "embedding")
    assert(graft.pipeline.Ann.semDedup(nulls, "vec_id", "embedding",
      tau = 0.9).collect().isEmpty, "all-null embeddings must yield no rows")
  }

  test("q73 gopher rules: every rule fires on its planted case") {
    import spark.implicits._
    val good = ("the quick brown fox jumps over the lazy dog near " +
      "a calm river bank today").trim // 15 words, has 'the'
    val fixture = Seq(
      (1L, good),                                         // keeps
      (2L, "tiny doc"),                                   // word count
      (3L, "- " + good),                                  // bullet line
      (4L, good + " wait..."),                            // ellipsis line
      (5L, good + " ## ... ## ... ## ..."),               // symbol ratio
      (6L, good + " 11 22 33 44 55 66 77 88 99 100 111"), // alpha share
      (7L, "quick brown fox jumps over lazy dog near " +
        "calm river bank today again now here"),          // no stop words
      (8L, null.asInstanceOf[String]),                    // dropped
      (9L, "the " + Seq.fill(11)("extraordinarily").mkString(" "))
        // mean word length (and ONLY that: 12 words, has 'the', alpha 1)
    ).toDF("doc_id", "text")
    val out = graft.pipeline.Quality.gopherRules(fixture, "doc_id", "text",
        minWords = 10L, minStopWords = 1)
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(!out.contains(8L), "NULL text must be dropped")
    def keep(id: Long) = out(id).getInt(out(id).fieldIndex("keep"))
    assert(keep(1L) == 1, s"good doc dropped: ${out(1L)}")
    assert(keep(2L) == 0, "word-count rule missed the tiny doc")
    assert(keep(3L) == 0, "bullet rule missed")
    assert(keep(4L) == 0, "ellipsis rule missed")
    assert(keep(5L) == 0, "symbol rule missed")
    assert(keep(6L) == 0, "alpha-share rule missed")
    assert(keep(7L) == 0, "stop-word rule missed")
    assert(keep(9L) == 0, "mean-word-length rule missed")
    // spot-check the statistics behind two of the decisions
    val r5 = out(5L)
    assert(r5.getLong(r5.fieldIndex("n_words")) == 21L)
    // 6 '#' chars + 3 "..." occurrences over 21 words
    assert(math.abs(r5.getDouble(r5.fieldIndex("symbol_ratio")) -
      BigDecimal(9.0 / 21).setScale(6,
        scala.math.BigDecimal.RoundingMode.HALF_UP).toDouble) < 1e-12)
    val r6 = out(6L)
    assert(math.abs(r6.getDouble(r6.fieldIndex("alpha_share")) -
      BigDecimal(15.0 / 26).setScale(6,
        scala.math.BigDecimal.RoundingMode.HALF_UP).toDouble) < 1e-12)
    // of the stop set only 'the' appears in the good doc
    assert(out(1L).getLong(out(1L).fieldIndex("n_stopwords")) == 1L)
  }

  test("q70 line dedup rewrite: closed-form fixture pins every edge") {
    import spark.implicits._
    // B is duplicated corpus-wide (docs 1, 2, 3 — and twice inside doc 3);
    // F is doc-2/doc-4 boilerplate; U* lines are unique; doc 5 is NULL;
    // doc 6 is ALL duplicate lines and must rebuild to the empty string
    val fixture = Seq(
      (1L, "U1\nB\nU2"),
      (2L, "F\nB"),
      (3L, "B\nU3\nB"),
      (4L, "U4\nF"),
      (5L, null.asInstanceOf[String]),
      (6L, "B\nF"))
      .toDF("doc_id", "text")
    val out = graft.pipeline.TextDedup.dedupLines(fixture, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        ((if (r.isNullAt(1)) null else r.getString(1)), r.getLong(2))).toMap
    // winners: B -> (1, pos 1); F -> (2, pos 0)
    assert(out(1L) == (("U1\nB\nU2", 0L)), s"doc 1: ${out(1L)}")
    assert(out(2L) == (("F", 1L)), s"doc 2: ${out(2L)}")
    assert(out(3L) == (("U3", 2L)),
      s"doc 3 (within-doc dup must also drop): ${out(3L)}")
    assert(out(4L) == (("U4", 1L)), s"doc 4: ${out(4L)}")
    assert(out(5L)._1 == null && out(5L)._2 == 0L,
      s"NULL text must pass through: ${out(5L)}")
    assert(out(6L) == (("", 2L)),
      s"all-duplicate doc must rebuild to '': ${out(6L)}")
    // idempotence: a deduped corpus has no cross-doc duplicate lines
    // left, except lines that became EQUAL only after the rewrite —
    // none exist in this fixture
    val again = graft.pipeline.TextDedup.dedupLines(
      graft.pipeline.TextDedup.dedupLines(fixture, "doc_id", "text"),
      "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) null else r.getString(1))).toMap
    out.foreach { case (id, (t, _)) =>
      assert(again(id) == t, s"doc $id not idempotent") }
  }

  test("q70 at corpus scale matches a driver-side recompute") {
    val qDir = "/root/testdata/sf0.01"
    assume(new java.io.File(s"$qDir/documents.parquet").exists())
    import spark.implicits._
    val header = "shared header boilerplate line"
    val footer = "repeated footer boilerplate line"
    val docs = spark.read.parquet(s"$qDir/documents.parquet")
      .select(col("doc_id"), col("text")).as[(Long, String)].collect()
    // the q70 fixture, recomputed in plain Scala
    val base = docs.map { case (id, t0) =>
      if (t0 == null) (id, null)
      else {
        val toks = t0.split(" ", -1)
        val body = toks.grouped(8).map(_.mkString(" ")).mkString("\n")
        val h = if (id % 7 == 2) header + "\n" else ""
        val f = if (id % 5 == 0) "\n" + footer else ""
        (id, h + body + f)
      }
    }
    val lines = base.filter(_._2 != null).flatMap { case (id, t) =>
      t.split("\n", -1).zipWithIndex.map { case (l, p) => (l, id, p) }
    }
    val byLine = lines.groupBy(_._1)
    val want = base.map { case (id, t) =>
      if (t == null) (id, null, 0L)
      else {
        val ls = t.split("\n", -1).zipWithIndex
        val kept = ls.filter { case (l, p) =>
          val occ = byLine(l)
          occ.length == 1 || occ.minBy(o => (o._2, o._3)) == ((l, id, p))
        }
        (id, kept.map(_._1).mkString("\n"), (ls.length - kept.length).toLong)
      }
    }.toSet
    val got = RelationalQueries.q70_dedup_lines(spark, qDir)
      .collect().map(r => (r.getLong(0),
        if (r.isNullAt(1)) null else r.getString(1), r.getLong(2))).toSet
    assert(got == want,
      s"line dedup mismatch: extra=${got.diff(want).take(3)} " +
        s"missing=${want.diff(got).take(3)}")
    // the planted boilerplate must have been dropped somewhere: every
    // footer doc except the winner lost at least the footer line
    val dropped = got.filter(_._3 > 0).map(_._1)
    val footerDocs = base.collect {
      case (id, t) if t != null && id % 5 == 0 => id }
    assert(footerDocs.count(dropped.contains) >= footerDocs.length - 1,
      "planted footer boilerplate not deduplicated")
  }

  test("q71 temperature mixture: closed-form weights, saturation, composed sample") {
    import spark.implicits._
    import graft.pipeline.Sampling
    // two non-null strata so the normalizer is a 2-term sum (IEEE
    // addition is commutative, so the driver recompute can't diverge
    // on summation order); nulls must carry no weight
    val docs = ((1L to 320L).map(i => (i, "en")) ++
      (321L to 330L).map(i => (i, "de")) ++
      (331L to 335L).map(i => (i, null: String))).toDF("doc_id", "lang")
    val fr = Sampling.temperatureFractions(docs, "lang", 0.5, 100L)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getDouble(2), r.getDouble(3)))).toMap
    assert(fr.keySet == Set("en", "de"), s"null stratum leaked: ${fr.keySet}")
    def r6(x: Double) = BigDecimal.valueOf(x)
      .setScale(6, scala.math.BigDecimal.RoundingMode.HALF_UP).toDouble
    val z = math.pow(320, 0.5) + math.pow(10, 0.5)
    assert(fr("en") == ((320L, r6(math.pow(320, 0.5) / z),
      r6(100.0 * (math.pow(320, 0.5) / z) / 320))), s"en: ${fr("en")}")
    // de's boosted share exceeds its count: fraction saturates at 1.0
    assert(fr("de") == ((10L, r6(math.pow(10, 0.5) / z), 1.0)),
      s"de must saturate: ${fr("de")}")
    // composed sampler: whole saturated stratum kept, en near its
    // fraction, nulls dropped, deterministic
    def sample() = Sampling.stratifiedHashSample(docs, "doc_id", "lang",
        fr.map { case (k, v) => k -> v._3 }, seed = 7L)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val kept = sample()
    assert((321L to 330L).forall(kept), "saturated stratum not kept whole")
    assert((331L to 335L).forall(id => !kept(id)), "null-stratum rows leaked")
    val enKept = kept.count(_ <= 320L).toDouble / 320.0
    val enFrac = fr("en")._3
    assert(math.abs(enKept - enFrac) < 0.15,
      f"en keep rate $enKept%.3f far from fraction $enFrac%.3f")
    assert(kept == sample(), "the composed sample is not deterministic")
  }

  test("approx_percentile (the 100-TB path) tracks exact percentile") {
    assume(available)
    // q57's exact `percentile` buffers distinct values per group — the
    // right call for metric-like doubles; for unbounded-cardinality
    // groups the scale path is approx_percentile (t-digest, fixed
    // memory). Gate: the documented contract is a RANK error — the
    // returned value's rank must sit within n/accuracy positions of
    // the target rank (+1 position of slack: the sketch returns an
    // actual observed sample where exact interpolates, so on a sparse
    // tail a sub-position value band would fail spuriously even for a
    // rank-perfect answer). Checked in rank space against the real
    // per-group value multiset, not assumed.
    val events = spark.read.parquet(s"$dir/events.parquet")
    val approxByType = events.groupBy(col("event_type")).agg(
      org.apache.spark.sql.functions
        .expr("approx_percentile(value, 0.95D, 10000)").as("approx"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(approxByType.nonEmpty)
    val valsByType = events.select(col("event_type"), col("value"))
      .collect().groupBy(_.getString(0))
      .map { case (t, rs) => t -> rs.map(_.getDouble(1)).sorted }
    approxByType.foreach { case (et, approx) =>
      val vals = valsByType(et)
      val n = vals.length
      val target = 0.95 * (n - 1) // 0-indexed target rank
      // the approx value's feasible rank interval under ties
      val rLo = vals.count(_ < approx)
      val rHi = vals.count(_ <= approx) - 1
      val tol = n.toDouble / 10000 + 1
      val ok = rHi >= target - tol && rLo <= target + tol
      assert(ok,
        s"$et: approx p95 $approx has rank in [$rLo, $rHi], target " +
          s"$target ± $tol over $n values — outside the documented " +
          "n/accuracy rank-error contract")
    }
  }

  test("rrfFuse: closed-form fusion, disjoint lists, order-pinned >2-list fold") {
    import spark.implicits._
    // list A ranks docs 1,2,3; list B ranks 2,3,4 — hand-computed RRF
    val a = Seq((1L, 1), (2L, 2), (3L, 3)).toDF("doc_id", "rank")
    val b = Seq((2L, 1), (3L, 2), (4L, 3)).toDF("doc_id", "rank")
    val got = graft.pipeline.Retrieval.rrfFuse(Seq(a, b), k0 = 60)
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getLong(2)))
      .toMap
    def t(r: Int) = 1.0 / (60.0 + r)
    // Spark's round() is BigDecimal HALF_UP — mirror it exactly
    def rd(x: Double) = BigDecimal(x)
      .setScale(10, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got(1L)._2 == 1 && got(4L)._2 == 1)
    assert(got(2L)._2 == 2 && got(3L)._2 == 2)
    assert(got(1L)._1 == rd(t(1)))
    assert(got(4L)._1 == rd(t(3)))
    assert(got(2L)._1 == rd(t(2) + t(1)))
    assert(got(3L)._1 == rd(t(3) + t(2)))
    // symmetric ranks tie exactly — the doc_id tie-break decides topK
    val sym1 = Seq((7L, 1), (8L, 5)).toDF("doc_id", "rank")
    val sym2 = Seq((8L, 1), (7L, 5)).toDF("doc_id", "rank")
    val top = graft.pipeline.Retrieval.rrfFuse(Seq(sym1, sym2), k0 = 60,
      topK = 1).collect()
    assert(top.length == 1 && top(0).getLong(0) == 7L)
    // 3+ lists: the fold is order-pinned (sorted desc), so the fused
    // score is identical no matter how the union lands in partitions
    val c = Seq((2L, 7), (9L, 1)).toDF("doc_id", "rank")
    val f1 = graft.pipeline.Retrieval.rrfFuse(Seq(a, b, c), k0 = 60)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val f2 = graft.pipeline.Retrieval.rrfFuse(
        Seq(c.repartition(7), b.repartition(3), a), k0 = 60)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(f1 == f2, "fused scores depend on list/partition order")
    assert(f1(2L) == rd({ val ts = Seq(t(2), t(1), t(7)).sorted.reverse
      ts.foldLeft(0.0)(_ + _) }))
    intercept[IllegalArgumentException] {
      graft.pipeline.Retrieval.rrfFuse(Seq.empty)
    }
  }
}
