package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Semantic gates for the graph-analytics operators ([[Graph]]):
  * closed-form fixtures for degrees/triangles/2-hop/components, a
  * brute-force parity sweep on a seeded random graph, and PageRank
  * pinned against a driver recompute (including dangling-node
  * redistribution and the dyadic bit-exactness the q82 oracle relies
  * on). Every op runs on both of its paths: the driver path
  * ([[LocalGraph]]) at its default collect threshold, the distributed
  * one forced by a negative threshold; a boundary test pins where the
  * threshold switches and a schema test that both paths agree on it.
  */
class GraphSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def edgeDf(es: Seq[(Long, Long)]): DataFrame = {
    import spark.implicits._
    es.toDF("src", "dst")
  }

  /** PageRank's default collect threshold (driver path here) and a
    * negative one (distributed path).
    */
  private val thresholds = Seq(Graph.pageRankCollectThreshold, -1)

  private def onDriver(ranks: DataFrame): Boolean =
    ranks.queryExecution.optimizedPlan
      .isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation]

  // K4 on {1,2,3,4} plus a pendant path 4-5-6, with noise the canonical
  // closure must absorb: duplicates, reversed duplicates, a self-loop.
  private val fixture = Seq[(Long, Long)](
    (1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
    (4L, 5L), (5L, 6L),
    (2L, 1L), (3L, 1L), (1L, 2L), (5L, 5L))

  /** Each op's default collect threshold (driver path here) and a
    * negative one (distributed path).
    */
  private def both(default: Int) = Seq(default, -1)

  test("degrees: canonical closure (dedupe, reverse, self-loop) + counts") {
    for (t <- both(Graph.degreesCollectThreshold)) {
      val df = Graph.degrees(edgeDf(fixture), t)
      assert(onDriver(df) == (t >= 0), s"threshold $t took the wrong path")
      val got = df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == Map(1L -> 3, 2L -> 3, 3L -> 3, 4L -> 4, 5L -> 2, 6L -> 1))
    }
  }

  test("triangles: K4 gives every member 3; pendant path members absent") {
    for (t <- both(Graph.trianglesCollectThreshold)) {
      val df = Graph.triangles(edgeDf(fixture), t)
      assert(onDriver(df) == (t >= 0), s"threshold $t took the wrong path")
      val got = df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == Map(1L -> 3, 2L -> 3, 3L -> 3, 4L -> 3))
    }
  }

  test("triangles: star graph has none (degree orientation handles the hub)") {
    val star = (1L to 40L).map(i => (0L, i))
    for (t <- both(Graph.trianglesCollectThreshold))
      assert(Graph.triangles(edgeDf(star), t).collect().isEmpty)
  }

  test("triangles: brute-force parity on a seeded random graph") {
    val rnd = new scala.util.Random(7)
    val n = 60
    val es = for {
      a <- 0 until n; b <- (a + 1) until n
      if rnd.nextDouble() < 0.08
    } yield (a.toLong, b.toLong)
    val adj = es.toSet
    def has(a: Long, b: Long) = adj.contains((math.min(a, b), math.max(a, b)))
    val expected = scala.collection.mutable.Map.empty[Long, Long]
    for (a <- 0 until n; b <- (a + 1) until n; c <- (b + 1) until n)
      if (has(a, b) && has(a, c) && has(b, c)) {
        expected(a) = expected.getOrElse(a.toLong, 0L) + 1
        expected(b) = expected.getOrElse(b.toLong, 0L) + 1
        expected(c) = expected.getOrElse(c.toLong, 0L) + 1
      }
    for (t <- both(Graph.trianglesCollectThreshold)) {
      val got = Graph.triangles(edgeDf(es), t).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == expected.toMap, s"threshold $t")
    }
  }

  test("twoHopCounts: path graph exact; clique members have no distance-2 peers") {
    // path 1-2-3-4-5: exactly-2 sets {3},{4},{1,5},{2},{3}
    val path = Seq[(Long, Long)]((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L))
    // K4 alone: everything adjacent, nothing at distance exactly 2
    val k4 = Seq[(Long, Long)]((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L),
      (2L, 4L), (3L, 4L))
    for (t <- both(Graph.twoHopCollectThreshold)) {
      val df = Graph.twoHopCounts(edgeDf(path), t)
      assert(onDriver(df) == (t >= 0), s"threshold $t took the wrong path")
      val got = df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == Map(1L -> 1, 2L -> 1, 3L -> 2, 4L -> 1, 5L -> 1))
      assert(Graph.twoHopCounts(edgeDf(k4), t).collect().isEmpty)
    }
  }

  test("degrees, triangles, twoHopCounts: both paths agree on a seeded hub-skewed multigraph") {
    val rnd = new scala.util.Random(23)
    // a noisy multigraph: hub-biased ends, duplicates, reversals, loops
    val es = (1 to 400).map { _ =>
      val a = (math.pow(rnd.nextDouble(), 3) * 80).toLong
      (a, rnd.nextInt(80).toLong)
    }
    def counts(df: DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(counts(Graph.twoHopCounts(edgeDf(es))) ==
      counts(Graph.twoHopCounts(edgeDf(es), -1)))
    assert(counts(Graph.degrees(edgeDf(es))) ==
      counts(Graph.degrees(edgeDf(es), -1)))
    assert(counts(Graph.triangles(edgeDf(es))) ==
      counts(Graph.triangles(edgeDf(es), -1)))
  }

  test("components: min label on both paths; strings by UTF-8 byte order") {
    import spark.implicits._
    // the NULL-ended edges are dropped on both paths: no NULL node, no merge
    val es = Seq[(Option[Long], Option[Long])]((Some(5L), Some(3L)),
      (Some(3L), Some(9L)), (Some(7L), Some(8L)), (Some(4L), Some(4L)),
      (Some(9L), Some(5L)), (Some(8L), None), (None, Some(3L)), (None, None))
      .toDF("src", "dst")
    val want = Map(3L -> 3L, 5L -> 3L, 9L -> 3L, 7L -> 7L, 8L -> 7L, 4L -> 4L)
    // U+FF21 sorts before U+1F600 in UTF-8 bytes (Spark's `min`), after
    // it in UTF-16 units (String.compareTo)
    val (fw, emoji) = ("\uFF21", new String(Character.toChars(0x1F600)))
    val strs = Seq((emoji, fw), ("b", "a"), ("c", "b"), ("d", null),
      (null, "a")).toDF("src", "dst")
    val wantStr = Map(emoji -> fw, fw -> fw, "a" -> "a", "b" -> "a", "c" -> "a")
    for (t <- both(Graph.componentsCollectThreshold)) {
      val df = Graph.components(es, t)
      assert(onDriver(df) == (t >= 0), s"threshold $t took the wrong path")
      assert(df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap == want)
      val ds = Graph.components(strs, t)
      assert(onDriver(ds) == (t >= 0), s"threshold $t took the wrong path")
      assert(ds.collect().map(r => r.getString(0) -> r.getString(1)).toMap ==
        wantStr, s"threshold $t")
    }
  }

  test("degrees, triangles, twoHopCounts, components: exactly collectThreshold edges run on the driver, one more does not") {
    // K4 plus a pendant: 7 edges, every op has output
    val es = Seq[(Long, Long)]((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L),
      (2L, 4L), (3L, 4L), (4L, 5L))
    val ops = Seq[(String, Int => DataFrame)](
      "degrees" -> (Graph.degrees(edgeDf(es), _)),
      "triangles" -> (Graph.triangles(edgeDf(es), _)),
      "twoHopCounts" -> (Graph.twoHopCounts(edgeDf(es), _)),
      "components" -> (Graph.components(edgeDf(es), _)))
    for ((name, op) <- ops) {
      assert(onDriver(op(es.size)), name)
      assert(!onDriver(op(es.size - 1)), name)
      assert(op(es.size).collect().toSet == op(es.size - 1).collect().toSet, name)
    }
    // NULL ends are not edges: they neither count nor become nodes
    import spark.implicits._
    val withNulls = (es.map { case (u, v) => (Option(u), Option(v)) } ++
      Seq((None, Some(1L)), (Some(2L), None))).toDF("src", "dst")
    val deg = Graph.degrees(withNulls, es.size)
    assert(onDriver(deg))
    assert(deg.count() == 5)
  }

  test("degrees, triangles, twoHopCounts: both paths give the same schema, int inputs included") {
    import spark.implicits._
    val es = Seq((1, 2), (1, 3), (2, 3), (3, 4))
    val ints = es.toDF("src", "dst")
    val mixed = es.map { case (a, b) => (a, b.toLong) }.toDF("src", "dst")
    val ops = Seq[(DataFrame, Int) => DataFrame](
      Graph.degrees, Graph.triangles, Graph.twoHopCounts)
    for (op <- ops; df <- Seq(ints, mixed)) {
      val (local, dist) = (op(df, Int.MaxValue), op(df, -1))
      assert(onDriver(local))
      assert(local.schema == dist.schema)
      assert(local.collect().toSet == dist.collect().toSet)
    }
    assert(Graph.degrees(ints).schema("node").dataType ==
      org.apache.spark.sql.types.IntegerType)
  }

  /** Driver recompute of [[Graph.pageRank]]'s documented semantics. */
  private def pageRankLocal(es: Seq[(Long, Long)], iters: Int, d: Double)
      : Map[Long, Double] = {
    val nodes = (es.map(_._1) ++ es.map(_._2)).distinct.sorted
    val outDeg = es.groupBy(_._1).map { case (k, v) => k -> v.size.toLong }
    val byDst = es.groupBy(_._2)
    var r = nodes.map(_ -> 1.0).toMap
    for (_ <- 1 to iters) {
      val dmass = nodes.filter(nd => !outDeg.contains(nd)).map(r).sum
      r = nodes.map { v =>
        val in = byDst.getOrElse(v, Seq.empty)
          .map { case (u, _) => r(u) / outDeg(u) }.sum
        v -> ((1.0 - d) + d * (in + dmass / nodes.size))
      }.toMap
    }
    r
  }

  test("pageRank: driver-recompute parity incl. dangling nodes, mass conserved") {
    val rnd = new scala.util.Random(11)
    // 40 nodes, ~3 out-edges each; nodes 35..39 dangling (no out-edges)
    val es = for {
      u <- 0L until 35L; _ <- 0 until 3
      v = rnd.nextInt(40).toLong if v != u
    } yield (u, v)
    val want = pageRankLocal(es, 10, 0.85)
    for (t <- thresholds) {
      val ranks = Graph.pageRank(edgeDf(es), iters = 10, damping = 0.85,
        collectThreshold = t)
      assert(onDriver(ranks) == (t >= 0), s"threshold $t took the wrong path")
      val got = ranks.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      assert(got.keySet == want.keySet)
      got.foreach { case (nd, pr) =>
        assert(math.abs(pr - want(nd)) < 1e-9,
          s"threshold $t, node $nd: $pr vs ${want(nd)}")
      }
      // unnormalized formulation with dangling redistribution: sum == |V|
      assert(math.abs(got.values.sum - want.size) < 1e-6)
    }
  }

  test("pageRank: dyadic inputs (pow-2 out-degrees, damping 1/2) are bit-exact") {
    // every node has out-degree exactly 2 -> all arithmetic is exact
    val n = 64L
    val es = (0L until n).flatMap(u => Seq((u, (u * 7 + 3) % n),
      (u, (u * 13 + 5) % n))).distinct
    assert(es.groupBy(_._1).values.forall(g =>
      g.size == 1 || g.size == 2)) // powers of two
    val want = pageRankLocal(es, 4, 0.5)
    for (t <- thresholds) {
      val got = Graph.pageRank(edgeDf(es), iters = 4, damping = 0.5,
          collectThreshold = t)
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      assert(got.keySet == want.keySet)
      got.foreach { case (nd, pr) =>
        assert(pr == want(nd),
          s"threshold $t, node $nd not bit-exact: $pr vs ${want(nd)}")
      }
    }
  }

  test("pageRank: exactly collectThreshold edges run on the driver, one more does not") {
    val es = (0L until 12L).map(u => (u, (u * 5 + 1) % 12))
    assert(onDriver(Graph.pageRank(edgeDf(es), iters = 3, damping = 0.85,
      collectThreshold = es.size)))
    assert(!onDriver(Graph.pageRank(edgeDf(es), iters = 3, damping = 0.85,
      collectThreshold = es.size - 1)))
    // NULL ends are not edges: they neither count nor become nodes
    import spark.implicits._
    val withNulls = (es.map { case (u, v) => (Option(u), Option(v)) } ++
      Seq((None, Some(1L)), (Some(2L), None))).toDF("src", "dst")
    val ranks = Graph.pageRank(withNulls, iters = 3, damping = 0.85,
      collectThreshold = es.size)
    assert(onDriver(ranks))
    assert(ranks.count() == 12)
    Graph.releaseAllRanks(spark, blocking = true)
  }

  test("pageRank: the driver path is bitwise independent of edge order and partitioning") {
    import spark.implicits._
    val rnd = new scala.util.Random(17)
    val es = for {
      u <- 0L until 50L; _ <- 0 until 4
      v = rnd.nextInt(60).toLong if v != u
    } yield (u, v)
    def ranks(df: DataFrame): Map[Long, Long] = {
      val r = Graph.pageRank(df, iters = 12, damping = 0.85)
      assert(onDriver(r))
      r.collect().map(row => row.getLong(0) ->
        java.lang.Double.doubleToRawLongBits(row.getDouble(1))).toMap
    }
    val one = ranks(es.toDF("src", "dst").repartition(1))
    val eight = ranks(new scala.util.Random(5).shuffle(es)
      .toDF("src", "dst").repartition(8))
    assert(one.size == (es.map(_._1) ++ es.map(_._2)).distinct.size)
    assert(one == eight)
  }

  test("coOccurrence: closed-form lift/PMI, input dedup, minPairCount prune") {
    import spark.implicits._
    // c1:{a,b,c}, c2:{a,b}, c3:{a}; (c1,a) duplicated — must not count
    // twice. N=3, c_a=3, c_b=2, c_c=1; pairs (a,b):2, (a,c):1, (b,c):1.
    val rows = Seq(("c1", "a"), ("c1", "a"), ("c1", "b"), ("c1", "c"),
      ("c2", "a"), ("c2", "b"), ("c3", "a")).toDF("ctx", "item")
    val got = Graph.coOccurrence(rows, "ctx", "item")
      .collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getDouble(3), r.getDouble(4))).toMap
    assert(got.keySet == Set(("a", "b"), ("a", "c"), ("b", "c")))
    // Spark's `log` evaluates StrictMath.log
    assert(got(("a", "b")) == ((2L, 2.0 * 3 / (3 * 2),
      StrictMath.log(2.0 * 3 / (3 * 2)))))
    assert(got(("a", "c")) == ((1L, 1.0 * 3 / (3 * 1),
      StrictMath.log(1.0 * 3 / (3 * 1)))))
    assert(got(("b", "c")) == ((1L, 1.0 * 3 / (2 * 1),
      StrictMath.log(1.0 * 3 / (2 * 1)))))
    // the prune drops singleton pairs before marginals attach
    val pruned = Graph.coOccurrence(rows, "ctx", "item", minPairCount = 2)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(pruned == Set(("a", "b")))
  }

  test("coOccurrence: driver recompute parity on a seeded random fixture") {
    import spark.implicits._
    val rnd = new scala.util.Random(13)
    val rows = (1 to 400).map(_ =>
      (s"c${rnd.nextInt(40)}", s"i${rnd.nextInt(25)}"))
    val got = Graph.coOccurrence(rows.toDF("ctx", "item"), "ctx", "item",
        maxPerCtx = 8)
      .collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getDouble(3))).toMap
    // driver mirror of the contract: first 8 sorted distinct items per
    // context, counts and pairs from the same capped view, lift in the
    // same multiply-then-divide order (bit-equal doubles)
    val sets = rows.distinct.groupBy(_._1).view
      .mapValues(_.map(_._2).distinct.sorted.take(8)).toMap
    val n = sets.size
    val cx = sets.values.flatten.groupBy(identity).view.mapValues(_.size)
      .toMap
    val want = sets.values.toSeq
      .flatMap(items => for { a <- items; b <- items if a < b } yield (a, b))
      .groupBy(identity).view.mapValues(_.size).toMap
      .map { case ((a, b), c) =>
        (a, b) -> (c.toLong,
          c.toDouble * n / (cx(a).toDouble * cx(b).toDouble)) }
    assert(got == want)
  }

  test("coOccurrence: the cap bounds a hub context AND keeps marginals consistent") {
    import spark.implicits._
    // cap c1 to its first 2 sorted items {a,b}: c is dropped from the
    // capped membership entirely, so c_a=3, c_b=2 and ONLY (a,b) pairs
    val rows = Seq(("c1", "a"), ("c1", "b"), ("c1", "c"),
      ("c2", "a"), ("c2", "b"), ("c3", "a")).toDF("ctx", "item")
    val got = Graph.coOccurrence(rows, "ctx", "item", maxPerCtx = 2)
      .collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getDouble(3))).toMap
    assert(got.keySet == Set(("a", "b")))
    assert(got(("a", "b")) == ((2L, 2.0 * 3 / (3 * 2))))
    intercept[IllegalArgumentException] {
      Graph.coOccurrence(rows, "ctx", "item", maxPerCtx = 1)
    }
  }

  /** [[Graph.coOccurrence]] on its driver path (default budgets) and
    * its forced distributed path: the same schema and bit-equal rows.
    * Returns the number of rows.
    */
  private def coOccurrenceParity(rows: DataFrame, cap: Int,
                                 minPairCount: Long): Int = {
    def run(t: Int) = Graph.coOccurrence(rows, "ctx", "item", cap,
      minPairCount, t, Graph.coOccurrencePairThreshold)
    val (local, dist) = (run(Graph.coOccurrenceCollectThreshold), run(-1))
    assert(onDriver(local) && !onDriver(dist))
    assert(local.schema == dist.schema)
    def bits(df: DataFrame) = df.collect().map(r => (r.get(0), r.get(1),
      r.getLong(2), java.lang.Double.doubleToRawLongBits(r.getDouble(3)),
      java.lang.Double.doubleToRawLongBits(r.getDouble(4)))).toSet
    val got = bits(local)
    assert(got == bits(dist), s"cap $cap, minPairCount $minPairCount")
    got.size
  }

  test("coOccurrence: both paths agree bit for bit on string, int and long items") {
    import spark.implicits._
    val rnd = new scala.util.Random(29)
    // U+FF61 sorts before U+1F600 in UTF-8 bytes (Spark's order), after
    // it in UTF-16 units (String.compareTo); the pool mixes both in
    val odd = Seq("\uFF61", new String(Character.toChars(0x1F600)),
      "\u00e9", "Z", "a")
    def str(i: Int) = if (i < odd.size) odd(i) else s"i$i"
    // 60 contexts over 40 items, hub-biased items; duplicates by chance
    // and 20 exact repeats; NULL ctx and NULL item rows; one hub context
    // ("c0" / 0) holding every item, above each cap
    val base = (1 to 500).map(_ => (rnd.nextInt(60),
      (math.pow(rnd.nextDouble(), 2) * 40).toInt))
    val draws = base ++ base.take(20) ++ (0 until 40).map(i => (0, i))
    val strs = (draws.map { case (c, i) => (Option(s"c$c"), Option(str(i))) } ++
      Seq((None, Some("a")), (Some("c1"), None), (None, None)))
      .toDF("ctx", "item")
    val ints = (draws.map { case (c, i) => (Option(c), Option(i - 20)) } ++
      Seq((None, Some(1)), (Some(1), None))).toDF("ctx", "item")
    val longs = (draws.map { case (c, i) =>
        (Option(c.toLong << 33), Option((i - 20).toLong * 3000000000L)) } ++
      Seq((None, Some(1L)), (Some(1L), None))).toDF("ctx", "item")
    for (rows <- Seq(strs, ints, longs); cap <- Seq(8, 64);
         minPairCount <- Seq(1L, 2L, 3L))
      assert(coOccurrenceParity(rows, cap, minPairCount) > 0)
  }

  test("coOccurrence: exactly the row and pair budgets run on the driver, one more does not") {
    import spark.implicits._
    // 7 non-NULL rows (one a duplicate) in sets {a,b,c} and {a,b}: 4 pairs
    val rows = Seq[(String, String)](("c1", "a"), ("c1", "b"), ("c1", "c"),
      ("c1", "c"), ("c2", "a"), ("c2", "b"), ("c3", "a"), (null, "a"),
      ("c3", null)).toDF("ctx", "item")
    def run(t: Int, p: Long) = Graph.coOccurrence(rows, "ctx", "item", 64, 1, t, p)
    val want = run(-1, 0).collect().toSet
    assert(want.size == 3)
    for ((t, p, driver) <- Seq((7, 4L, true), (6, 4L, false), (7, 3L, false))) {
      val df = run(t, p)
      assert(onDriver(df) == driver, s"budgets ($t, $p)")
      assert(df.collect().toSet == want, s"budgets ($t, $p)")
    }
  }

  test("releaseAllRanks frees pageRank's checkpoint pins") {
    val sc = spark.sparkContext
    val before = sc.getRDDStorageInfo.map(_.id).toSet
    // only the distributed path holds a checkpoint
    val r1 = Graph.pageRank(edgeDf(Seq((1L, 2L), (2L, 3L), (3L, 1L))),
      iters = 3, damping = 0.85, collectThreshold = -1)
    r1.count()
    val r2 = Graph.pageRank(edgeDf(Seq((1L, 2L), (2L, 1L))), iters = 2,
      damping = 0.85, collectThreshold = -1)
    r2.count()
    val pinned = sc.getRDDStorageInfo.map(_.id).toSet -- before
    assert(pinned.nonEmpty, "pageRank's result should be checkpoint-pinned")
    // the session sweep covers frames the caller lost track of (the
    // bench-teardown path)
    Graph.releaseAllRanks(spark, blocking = true)
    assert((sc.getRDDStorageInfo.map(_.id).toSet & pinned).isEmpty,
      "releaseAllRanks left checkpoint pins behind")
  }

  test("pageRank: guards reject empty graphs and bad parameters") {
    intercept[IllegalArgumentException] {
      Graph.pageRank(edgeDf(Seq((1L, 2L))), iters = 0)
    }
    intercept[IllegalArgumentException] {
      Graph.pageRank(edgeDf(Seq((1L, 2L))), iters = 5, damping = 1.5)
    }
    for (t <- thresholds) intercept[IllegalArgumentException] {
      Graph.pageRank(edgeDf(Seq.empty[(Long, Long)]), iters = 1,
        damping = 0.85, collectThreshold = t)
    }
  }
}
