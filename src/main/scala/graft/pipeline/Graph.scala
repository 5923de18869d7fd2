package graft.pipeline

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** Graph analytics over the materialized knowledge graph.
  *
  * The flagship pipeline ([[KgPipeline]]) EMITS a graph — (subj, pred,
  * obj) triples — and a KG-construction engine that cannot then query
  * that graph (degree profiles for hub detection, triangles for
  * alias-cluster sanity, k-hop neighborhoods for context harvesting,
  * PageRank for entity salience) stops one step short of useful. These
  * operators take a generic edge DataFrame (two long node columns,
  * `src` and `dst`), so
  * they run over KG triples (`subj`/`obj` keyed by dictionary-encoded
  * ids) and over any relational edge derivation alike.
  *
  * Two paths per op, one decision. [[degrees]], [[triangles]],
  * [[twoHopCounts]], [[components]] and [[pageRank]] each have an edge
  * budget, measured per op (e.g. [[trianglesCollectThreshold]]). One
  * action, `limit(budget + 1)` over the non-NULL edges
  * ([[KgPipeline.collectAtMost]]), both decides and collects:
  *   - at or below the threshold the op runs on the driver over one
  *     [[LocalGraph]] (dense ids, CSR adjacency, primitive arrays) and
  *     returns a local relation with the distributed path's schema.
  *     At benchmark size (tens to hundreds of edges) this replaces
  *     every shuffle and per-iteration job with one collect: "To
  *     Partition, or Not to Partition" (skip the distributed machinery
  *     when the build side fits);
  *   - above it the distributed path runs unchanged, after that action
  *     has evaluated the input once more. Specs and `GraphCrossover`
  *     pass their own budget through a package-private overload (a
  *     negative one forces the distributed path); [[pageRank]] keeps its
  *     `collectThreshold` argument.
  * The driver path never does more work than the distributed one
  * shuffles (see each op), so an edge budget alone bounds its time;
  * its memory is the collected rows plus a few int arrays per edge.
  *
  * Scale shape of the distributed paths:
  *   - nodes/edges only ever shuffle as LONG keys (no string rides an
  *     exchange — encode entity uris to ids first, the q52 convention);
  *   - every aggregation is partial-agg friendly (map-side combine);
  *   - the only joins are long-keyed equi-joins; nothing is all-pairs.
  *
  * Methods: triangle enumeration is degree-ordered on both paths
  * (Suri & Vassilvitskii, WWW 2011 / Cohen, CiSE 2009) — orienting each
  * edge from its lower-(degree, id) endpoint bounds oriented out-degree
  * by O(sqrt(m)), so wedge volume is O(m^1.5) worst case instead of
  * sum(deg^2) — the difference between a star graph costing O(m) and
  * costing O(m^2). PageRank is Page et al. (1999) in the classic
  * unnormalized Spark formulation (init 1.0, `(1-d) + d*in`), with
  * dangling mass redistributed uniformly; the driver path sums
  * in-contributions in sorted source order so the ranks do not depend
  * on partitioning, and the distributed loop is one join + groupBy
  * per iteration with lineage truncation via [[Lineage.chk]] (40
  * iterations would otherwise nest 40 plans).
  */
object Graph {

  private def canon(edges: DataFrame): DataFrame = {
    val (src, dst) = (col("src"), col("dst"))
    edges
      .where(src.isNotNull && dst.isNotNull && src =!= dst)
      .select(least(src, dst).as("a"), greatest(src, dst).as("b"))
      .distinct()
  }

  /** The non-NULL `(src, dst)` pairs cast to long: what every driver
    * path collects, and what its budget counts.
    */
  private def longPairs(edges: DataFrame): DataFrame =
    edges
      .select(col("src").cast("long").as("s"), col("dst").cast("long").as("t"))
      .where(col("s").isNotNull && col("t").isNotNull)

  /** A per-node count on whichever path fits: one
    * [[KgPipeline.collectAtMost]] of [[longPairs]] decides. At most
    * `collectThreshold` edges: `count` runs on the collected
    * [[LocalGraph]] and its nonzero entries become a local relation
    * with exactly `distributed`'s schema (names, types, nullability;
    * ids convert back to an `int` node column). Above it, or for a node
    * column that is neither `bigint` nor `int`, `distributed` runs as
    * it is; it is only analyzed before that.
    */
  private def perNode(edges: DataFrame, collectThreshold: Int,
                      distributed: DataFrame)(count: LocalGraph => Array[Long])
      : DataFrame = {
    import org.apache.spark.sql.types._
    val schema = distributed.schema
    val toNode: Option[Long => Any] = schema.head.dataType match {
      case LongType => Some(identity)
      case IntegerType => Some(_.toInt)
      case _ => None
    }
    toNode.flatMap(conv =>
      KgPipeline.collectAtMost(longPairs(edges), collectThreshold).map { rows =>
        val g = LocalGraph.fromRows(rows)
        val c = count(g)
        val out = new java.util.ArrayList[Row]()
        for (i <- 0 until g.n if c(i) > 0) out.add(Row(conv(g.ids(i)), c(i)))
        edges.sparkSession.createDataFrame(out, schema)
      }).getOrElse(distributed)
  }

  /** Undirected degree per node: distinct-neighbor count over the
    * de-duplicated, self-loop-free undirected closure of `edges`.
    *
    * Two paths, decided as [[pageRank]] decides: at most
    * [[degreesCollectThreshold]] edges count on the driver
    * ([[LocalGraph.degrees]]) into a local relation; above it, two
    * shuffles (edge distinct, count), both keyed on longs.
    */
  def degrees(edges: DataFrame): DataFrame =
    degrees(edges, degreesCollectThreshold)

  /** [[degrees]] with its budget given; a negative one forces the
    * distributed path.
    */
  private[pipeline] def degrees(edges: DataFrame,
                                collectThreshold: Int): DataFrame =
    perNode(edges, collectThreshold, degreesDistributed(edges))(_.degrees)

  private def degreesDistributed(edges: DataFrame): DataFrame =
    canon(edges)
      .select(explode(array(col("a"), col("b"))).as("node"))
      .groupBy("node")
      .agg(count(lit(1)).as("degree"))

  /** Per-node triangle participation counts (nodes in ≥ 1 triangle).
    *
    * Degree-ordered enumeration on both paths: orient every undirected
    * edge from its lower endpoint under the total order (degree asc, id
    * asc). Each triangle {u < v < w} in that order is then generated
    * exactly once, as the wedge (u→v, u→w) closed by the oriented edge
    * v→w. At most [[trianglesCollectThreshold]] edges run on the
    * driver ([[LocalGraph.triangles]], a marker array over u's
    * out-neighbors); above it the distributed joins run: the
    * orientation join attaches degrees (node-sized frame, long-keyed),
    * the wedge self-join is keyed on the wedge apex, the closing join
    * on the (v, w) pair, all fixed-width.
    */
  def triangles(edges: DataFrame): DataFrame =
    triangles(edges, trianglesCollectThreshold)

  /** [[triangles]] with its budget given; a negative one forces the
    * distributed path.
    */
  private[pipeline] def triangles(edges: DataFrame,
                                  collectThreshold: Int): DataFrame =
    perNode(edges, collectThreshold, trianglesDistributed(edges))(_.triangles)

  private def trianglesDistributed(edges: DataFrame): DataFrame = {
    val und = canon(edges)
    val deg = und.select(explode(array(col("a"), col("b"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("degree"))

    // Orient low → high under (degree, id); carry hi's (degree, id) rank
    // so the wedge join can order v < w without re-joining degrees.
    val withDeg = und
      .join(deg.select(col("node").as("a"), col("degree").as("da")), "a")
      .join(deg.select(col("node").as("b"), col("degree").as("db")), "b")
    val aIsLo = col("da") < col("db") ||
      (col("da") === col("db") && col("a") < col("b"))
    val oriented = withDeg.select(
      when(aIsLo, col("a")).otherwise(col("b")).as("lo"),
      when(aIsLo, col("b")).otherwise(col("a")).as("hi"),
      when(aIsLo, struct(col("db").as("d"), col("b").as("i")))
        .otherwise(struct(col("da").as("d"), col("a").as("i"))).as("hiRank"))

    val w1 = oriented.select(col("lo").as("u"), col("hi").as("v"),
      col("hiRank").as("vR"))
    val w2 = oriented.select(col("lo").as("u"), col("hi").as("w"),
      col("hiRank").as("wR"))
    val wedges = w1.join(w2, Seq("u"))
      .where(col("vR.d") < col("wR.d") ||
        (col("vR.d") === col("wR.d") && col("vR.i") < col("wR.i")))
      .select(col("u"), col("v"), col("w"))

    val closing = oriented.select(col("lo").as("v"), col("hi").as("w"))
    wedges.join(closing, Seq("v", "w"))
      .select(explode(array(col("u"), col("v"), col("w"))).as("node"))
      .groupBy("node")
      .agg(count(lit(1)).as("n_triangles"))
  }

  /** Count of nodes at undirected distance EXACTLY 2 per node (the
    * co-occurrence neighborhood: reachable through a shared neighbor,
    * not adjacent, not self). At most [[twoHopCollectThreshold]] edges
    * count on the driver ([[LocalGraph.twoHop]], per-node stamp arrays,
    * no pair set). Above it, adjacency expands once (m → 2m directed
    * rows), the mid-join is keyed on the shared neighbor, and the
    * exactly-2 discipline is one long-keyed anti-join back against
    * adjacency; at web scale the distinct on (node, peer) is the
    * dominant exchange, fixed-width, two longs.
    */
  def twoHopCounts(edges: DataFrame): DataFrame =
    twoHopCounts(edges, twoHopCollectThreshold)

  /** [[twoHopCounts]] with its budget given; a negative one forces the
    * distributed path.
    */
  private[pipeline] def twoHopCounts(edges: DataFrame,
                                     collectThreshold: Int): DataFrame =
    perNode(edges, collectThreshold, twoHopDistributed(edges))(_.twoHop)

  private def twoHopDistributed(edges: DataFrame): DataFrame = {
    val und = canon(edges)
    val adj = und.select(col("a").as("x"), col("b").as("y"))
      .unionByName(und.select(col("b").as("x"), col("a").as("y")))
    val nn = adj.select(col("x"), col("y").as("mid"))
      .join(adj.select(col("x").as("mid2"), col("y").as("peer")),
        col("mid") === col("mid2"))
      .where(col("x") =!= col("peer"))
      .select(col("x"), col("peer"))
      .distinct()
    nn.join(adj.select(col("x").as("ax"), col("y").as("ay")),
        col("x") === col("ax") && col("peer") === col("ay"), "left_anti")
      .groupBy(col("x").as("node"))
      .agg(count(lit(1)).as("n_2hop"))
      .select(col("node"), col("n_2hop"))
  }

  /** Min-label connected components `(node, comp)` of an undirected
    * edge set `(src, dst)`: comp is the least node of the component
    * (byte order for strings, as Spark's `min`). Edges with a NULL end
    * are dropped first, on both paths. At most
    * [[componentsCollectThreshold]] edges whose ends are both `bigint`
    * or both `string` are labelled on the driver
    * ([[LocalGraph.components]]; strings through
    * [[LocalGraph.ofNames]]) into a local relation of non-null longs,
    * or of strings. Anything else runs
    * [[KgPipeline.connectedComponents]], the checkpointed fixpoint.
    * Above the budget the input is evaluated up to three times (the
    * limit-collect, then both sides of the fixpoint's undirected
    * union); a caller with a costly derivation persists it first, as
    * [[TextDedup.componentLabels]] does. Both paths have consumed the
    * input on return (the local relation, or the fixpoint's eager
    * checkpoints), so such a cache can be released then.
    */
  def components(edges: DataFrame): DataFrame =
    components(edges, componentsCollectThreshold)

  /** [[components]] with its budget given; a negative one forces the
    * fixpoint.
    */
  private[pipeline] def components(edges: DataFrame,
                                   collectThreshold: Int): DataFrame = {
    import org.apache.spark.sql.types.{LongType, StringType}
    val spark = edges.sparkSession
    import spark.implicits._
    val pairs = edges.select("src", "dst")
      .where(col("src").isNotNull && col("dst").isNotNull)
    val local = pairs.schema.map(_.dataType) match {
      case Seq(StringType, StringType) =>
        KgPipeline.collectAtMost(pairs, collectThreshold).map { rows =>
          val (g, names) = LocalGraph.ofNames(rows.map(_.getString(0)),
            rows.map(_.getString(1)))
          val c = g.components
          names.indices.map(i => (names(i), names(c(i)))).toDF("node", "comp")
        }
      case Seq(LongType, LongType) =>
        KgPipeline.collectAtMost(pairs, collectThreshold).map { rows =>
          val g = LocalGraph.fromRows(rows)
          val c = g.components
          g.ids.indices.map(i => (g.ids(i), g.ids(c(i)))).toDF("node", "comp")
        }
      case _ => None
    }
    local.getOrElse(KgPipeline.connectedComponents(pairs))
  }

  /** PageRank over a DIRECTED multigraph (callers dedupe if they mean a
    * simple graph). Unnormalized classic formulation: rank init 1.0,
    * `r'(v) = (1-d) + d * (sum_in r(u)/out(u) + danglingMass / |V|)`
    * so ranks sum to |V| at every iteration. Dangling mass (nodes with
    * no out-edges) is redistributed uniformly — dropping it instead
    * deflates every rank and the fixpoint stops meaning anything.
    *
    * Two paths, chosen the way [[KgPipeline.canonFromEdges]] chooses:
    * one action, `limit(collectThreshold + 1)` over the non-null
    * `(src, dst)` pairs cast to long, both decides the path and
    * collects the edges. At or below `collectThreshold` edges the
    * iterations run on the driver ([[LocalGraph.pageRank]]) and the result
    * is a local relation; above it the distributed loop runs
    * ([[pageRankDistributed]]), after that action has evaluated the
    * input once. A negative threshold forces the distributed path. At
    * benchmark size (tens to hundreds of nodes) the distributed loop's
    * per-iteration jobs cost seconds the arithmetic never needed.
    *
    * Both paths return `(node: bigint, pr: double)`. The driver path
    * sums each node's in-contributions in ascending source-id order, so
    * its ranks are bit-identical whatever the collect order, partition
    * count or `local[N]`. The distributed path's sums follow the plan's
    * partitioning. All arithmetic is order-independent WHEN the inputs
    * make it exact (see q82: power-of-two out-degrees + dyadic damping
    * give bit-identical ranks in any engine and on either path);
    * otherwise the two paths agree to rounding (GraphSpec pins both
    * against a driver recompute).
    */
  def pageRank(edges: DataFrame, iters: Int, damping: Double = 0.85,
               collectThreshold: Int = pageRankCollectThreshold)
      : DataFrame = {
    require(iters >= 1 && iters <= 200, s"iters out of range: $iters")
    require(damping >= 0.0 && damping <= 1.0, s"damping out of range: $damping")
    val pairs = longPairs(edges)
    KgPipeline.collectAtMost(pairs, collectThreshold) match {
      case Some(rows) =>
        val g = LocalGraph.fromRows(rows)
        require(g.n > 0, "pageRank on an empty graph")
        val pr = g.pageRank(iters, damping)
        val spark = edges.sparkSession
        import spark.implicits._
        g.ids.indices.map(i => (g.ids(i), pr(i))).toDF("node", "pr")
      case None => pageRankDistributed(pairs, iters, damping)
    }
  }

  /** The largest edge count [[pageRank]] collects and iterates on the
    * driver. Set from `GraphCrossover` (test sources; then named
    * `PageRankCrossover`): seeded random
    * graphs of 25k to 2M edges, average out-degree 8, 8 iterations,
    * `local[4]` on a 4-core host, 3 interleaved repetitions per size
    * (records in `BENCH/graph-small/threshold/`).
    *   - The driver path was faster at every size, by at least 2x:
    *     median 1.94 s against 5.78 s at 1M edges, 4.80 s against
    *     11.93 s at 2M. Wall time sets no bound up to 2M edges here.
    *   - Driver memory does: the calling thread allocates about 0.4 KB
    *     per edge on that path (406 MB at 1M edges, 807 MB at 2M).
    *   - Above the threshold, the limit-collect that finds the graph
    *     too big costs threshold + 1 fetched rows and one more
    *     evaluation of the input: at 1.5M and 2M edges the call took
    *     10.44 and 13.10 s against 8.69 and 11.93 s for the distributed
    *     loop alone (+20%, +10%); at a 100,000 threshold it added 0.56 s
    *     at 2M edges (10.60 against 10.04 s).
    * One million keeps the driver's allocation under half a gigabyte
    * and the pass above it at 10-20% of a distributed call, while
    * graphs of 100k to 1M edges run 3-10x faster than on the loop.
    */
  val pageRankCollectThreshold: Int = 1000000

  // The four budgets below come from one `GraphCrossover` run per size
  // range (records in `BENCH/graph-kernel/crossover/`): seeded random
  // graphs of 164 to 1M edges (average out-degree 8; triangles and
  // twoHop also on a hub-skewed graph), `local[4]` with 4 shuffle
  // partitions on a 4-core host, each op's paths interleaved, 5
  // repetitions per size up to 10k edges and 3 above. The rule is
  // PageRank's: the largest measured size at which the driver path is
  // not slower and the calling thread allocates under half a gigabyte
  // (the collected rows dominate: 0.44-0.46 KB per edge for long ids,
  // 0.62 KB for the 12-character string ids of `components`). None of
  // the driver paths does more work than its distributed path shuffles,
  // so an edge count bounds its time as well as its memory.

  /** The largest edge count [[degrees]] collects and counts on the
    * driver. Degrees' distributed path is two partial-agg shuffles,
    * which cost about what the collect does: from 164 to 9,964 edges
    * the paths' medians were within 0.03 s of each other (driver
    * 0.16-0.20 s, distributed 0.17-0.19 s), and from 25k edges up the
    * distributed path was faster (0.23 against 0.28 s at 25k, 0.98
    * against 2.08 s at 1M). Ten thousand is the largest measured size
    * inside that tie; below it the driver path saves the shuffles' jobs
    * (q79: 4 jobs a call to 2).
    */
  val degreesCollectThreshold: Int = 10000

  /** The largest edge count [[triangles]] collects and counts on the
    * driver. The driver path was faster at every measured size, on
    * both graphs: 0.18-0.21 s against 0.47-0.53 s up to 10k edges, 2.14
    * against 6.00 s at 1M (uniform) and 1.84 against 5.78 s at 1M
    * (hub-skewed), allocating 443 MB there.
    */
  val trianglesCollectThreshold: Int = 1000000

  /** The largest edge count [[twoHopCounts]] collects and counts on
    * the driver. The driver path was faster at every measured size,
    * most on the hub-skewed graph, where the distributed mid-join's
    * wedge volume grows with the squared hub degrees: 0.98 against
    * 23.4 s at 400k edges and 2.76 against 70.1 s at 1M (uniform: 2.68
    * against 32.3 s), allocating 462 MB at 1M.
    */
  val twoHopCollectThreshold: Int = 1000000

  /** The largest edge count [[components]] (and so `dupClusters` and
    * `semDedup`) collects and labels on the driver; it replaces the
    * 100,000 those paths borrowed unmeasured. Measured on string ids,
    * the heavier case: the driver path was 5-11x faster at every size
    * (0.40 against 4.58 s at 100k edges, 1.47 against 9.07 s at 400k,
    * 3.85 against 20.86 s at 1M), but allocated 621 MB at 1M against
    * 248 MB at 400k. Above the budget the limit-collect pass added 3%
    * at 1M (with a 100,000 budget: 21.46 against 20.86 s) on the
    * harness's cheap input; the dedup closures persist their costlier
    * pairs first ([[TextDedup.componentLabels]]), so that pass and the
    * fixpoint read them from the cache. The canonicalizer has its own
    * budget, [[KgPipeline.ccCollectThreshold]].
    */
  val componentsCollectThreshold: Int = 400000

  /** [[pageRank]] above the collect threshold, over the non-null long
    * pairs `(s, t)`. Per iteration: one long-keyed join (ranks ⋈ edges
    * on src), one partial-agg groupBy(dst), one broadcast 1-row
    * dangling aggregate; lineage truncated each round ([[Lineage.chk]])
    * and the superseded frame released, so iteration count never
    * inflates the plan or pins unbounded storage. The result is backed
    * by a checkpoint, tracked for [[releaseAllRanks]].
    */
  private def pageRankDistributed(pairs: DataFrame, iters: Int,
                                  damping: Double): DataFrame = {
    // The edge frame is read by nodes, outDeg, and EVERY iteration's
    // contribs join — uncached, each of those re-executes the caller's
    // whole edge derivation (for the co-mention graph: the per-file
    // explode + distinct, 10× for 8 iterations). Edge-sized, two longs:
    // the standard iterative-graph working set (GraphX caches the same).
    // HASH-PARTITIONED ON THE JOIN KEY before caching (r7, guide §2.4 /
    // GraphX's partitionBy convention): the per-iteration contribs join
    // then reuses the cache's partitioning instead of re-exchanging the
    // edge set every round — one upfront edge shuffle buys `iters`
    // avoided ones (measured: q82 3.45 -> 2.92 s at sf0.1; the outDeg
    // aggregate reuses the same partitioning for free).
    val e = pairs
      .repartition(col("s"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nodes = e.select(col("s").as("node"))
      .unionByName(e.select(col("t").as("node"))).distinct()
    val outDeg = e.groupBy(col("s").as("node"))
      .agg(count(lit(1)).as("out_deg"))
    // node, out_deg (0 for dangling) — the loop's static side; cache it,
    // it is node-sized and read twice per iteration.
    val base = nodes.join(outDeg, Seq("node"), "left")
      .select(col("node"), coalesce(col("out_deg"), lit(0L)).as("out_deg"))
      .cache()
    val nNodes = base.count() // materializes the cache; |V| for dangling share
    require(nNodes > 0, "pageRank on an empty graph")

    // rank init rides on `base` directly (cached above): checkpointing
    // the constant-1.0 frame cost a job the first iteration superseded.
    // This loop checkpoints EVERY round. Round 7 measured the two
    // alternatives (truncate every 3rd round with the interim rounds
    // nested, and the same with them lazily cached) on q83 at sf0.1,
    // when every graph took this loop: both REGRESSED ~2x (8.3 s ->
    // 18.8/19.7 s) — the merged adaptive plans re-derive the dangling
    // branch per nested round and AQE re-plans every stage of the
    // widened plan, costing more than the saved per-round action
    // (OPTIMIZATION_r07.md §q83). Graphs at or below the collect
    // threshold no longer reach this loop, so that evidence speaks only
    // for graphs above it; re-measure there before changing the cadence.
    var ranks: DataFrame =
      base.select(col("node"), col("out_deg"), lit(1.0).as("pr"))
    var lastChk: Option[DataFrame] = None
    for (_ <- 1 to iters) {
      val dangling = ranks.where(col("out_deg") === 0)
        .agg(coalesce(sum(col("pr")), lit(0.0)).as("dmass"))
      val contribs = ranks.where(col("out_deg") > 0)
        .join(e, col("node") === col("s"))
        .select(col("t").as("node"), (col("pr") / col("out_deg")).as("c"))
        .groupBy("node")
        .agg(sum(col("c")).as("in_sum"))
      val next = base
        .join(contribs, Seq("node"), "left")
        .crossJoin(broadcast(dangling))
        .select(col("node"), col("out_deg"),
          (lit(1.0 - damping) + lit(damping) *
            (coalesce(col("in_sum"), lit(0.0)) +
              col("dmass") / lit(nNodes.toDouble))).as("pr"))
      val chkd = Lineage.chk(next)
      lastChk.foreach(Lineage.release(_))
      lastChk = Some(chkd)
      ranks = chkd
    }
    val out = ranks.select(col("node"), col("pr"))
    base.unpersist() // `ranks` is checkpointed (materialized), base is dead
    e.unpersist()
    track(out)
  }

  /** Co-occurrence association over (context, item) rows — the
    * "related entities" enrichment a KG serves next to salience (q83):
    * for every item pair sharing a context (entities co-mentioned in a
    * file, products in an order), the pair count and its LIFT
    * `P(x,y) / (P(x)·P(y)) = c_xy·N / (c_x·c_y)` plus PMI (= ln lift).
    * Lift/PMI normalize away item popularity — raw pair counts only
    * ever surface the globally-frequent items.
    *
    * Per-context item sets are DEDUPED, sorted, and capped at
    * `maxPerCtx` (the q83 co-mention cap): a pathological hub context
    * would otherwise mint C(n,2) pairs — the quadratic blowup every
    * production co-occurrence job guards first. Counts and pairs both
    * come from the SAME capped view, so the probabilities stay
    * consistent under the cap. `minPairCount` prunes the long noise
    * tail BEFORE the join that attaches marginals.
    *
    * Scale shape: one distinct + one groupBy(ctx) window/aggregate
    * pass, then ONE half-matrix explode (x <= y, bounded by
    * maxPerCtx·(maxPerCtx+1)/2 per context) whose diagonal carries the
    * per-item marginals — pair counts and marginals come out of a
    * single (x, y)-keyed aggregation, reused by its three readers via
    * the exchange (the q44 convention); the context count reads the
    * pre-window distinct exchange; marginals attach via two item-keyed
    * joins after the minPairCount prune, and N is a broadcast 1-row
    * aggregate. Lift is EXACT in doubles (integer counts < 2^53, one
    * IEEE division) and therefore cross-engine hashable; PMI's `ln`
    * may differ in the last ulp across libm implementations — rank by
    * either (they are monotone in each other), hash only lift.
    */
  def coOccurrence(rows: DataFrame, ctxCol: String, itemCol: String,
                   maxPerCtx: Int = 64, minPairCount: Long = 1): DataFrame = {
    require(maxPerCtx >= 2, s"maxPerCtx must be >= 2: $maxPerCtx")
    require(minPairCount >= 1, s"minPairCount must be >= 1: $minPairCount")
    val sets = cappedSets(rows, ctxCol, itemCol, maxPerCtx)
    // Round 6 fed `sets` to THREE consumers (context count, per-item
    // marginals, pair explosion), re-running the capped-set window per
    // consumer — and a lazy cache of `sets` measured WORSE (columnar
    // encode/decode of the array column cost more than the window it
    // saved). Instead (r7, guide §1.2 "don't compute things twice"):
    //  - ONE explode pass emits the x <= y half-matrix; its DIAGONAL
    //    (x, x) appears once per capped set containing x, so marginal
    //    counts ride the SAME groupBy that counts pairs — no second
    //    explode, and the (x, y) exchange below the three readers of
    //    `grid` is computed once (ReuseExchange, the q44 convention);
    //  - the context count moves BELOW the window: the cap never drops
    //    a context (only items within one), so counting distinct ctx
    //    over the pre-window distinct frame is the same number, read
    //    off the exchange the window pass already shuffles.
    val nCtx = rows.select(col(ctxCol).as("ctx"), col(itemCol).as("item"))
      .where(col("ctx").isNotNull && col("item").isNotNull)
      .distinct()
      .agg(countDistinct(col("ctx")).as("n_ctx"))
    val grid = sets
      .select(explode(col("items")).as("x"), col("items"))
      .select(col("x"), explode(col("items")).as("y"))
      .where(col("x") <= col("y"))
      .groupBy("x", "y").agg(count(lit(1)).as("pair_count"))
    val cx = grid.where(col("x") === col("y"))
      .select(col("x").as("item"), col("pair_count").as("c"))
    val pairCounts = grid.where(col("x") < col("y"))
      .where(col("pair_count") >= minPairCount)
    pairCounts
      .join(cx.select(col("item").as("x"), col("c").as("cx")), Seq("x"))
      .join(cx.select(col("item").as("y"), col("c").as("cy")), Seq("y"))
      .crossJoin(broadcast(nCtx))
      .select(col("x"), col("y"), col("pair_count"),
        (col("pair_count").cast("double") * col("n_ctx").cast("double") /
          (col("cx").cast("double") * col("cy").cast("double"))).as("lift"))
      .withColumn("pmi", log(col("lift")))
  }

  /** The capped per-context item-set convention shared by
    * [[coOccurrence]] and q83's co-mention graph: the first `cap`
    * DISTINCT items per context in item order, as a sorted array
    * column `(ctx, items)`. The cap is applied BEFORE any per-context
    * collection: a slice-after-collect_set would buffer a hub
    * context's ENTIRE item set in the aggregation buffer (unbounded
    * OOM at 100-TB scale) just to throw most of it away — the
    * row_number window's sort spills, an agg buffer cannot. The window
    * and the groupBy share one ctx exchange.
    */
  private[graft] def cappedSets(rows: DataFrame, ctxCol: String,
                                itemCol: String, cap: Int): DataFrame =
    rows.select(col(ctxCol).as("ctx"), col(itemCol).as("item"))
      .where(col("ctx").isNotNull && col("item").isNotNull)
      .distinct()
      .withColumn("rn",
        org.apache.spark.sql.functions.row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy("ctx").orderBy("item")))
      .where(col("rn") <= cap)
      .groupBy("ctx")
      .agg(sort_array(collect_list(col("item"))).as("items"))

  /** Rank frames whose backing checkpoint is not yet released, per
    * session. The output of [[pageRank]]'s distributed path is backed
    * by a checkpoint — reliable-checkpoint FILES when a checkpoint dir
    * is configured, pinned localCheckpoint blocks otherwise — that
    * Spark never reclaims on its own, so without a public release every
    * such call leaks one node-sized block set for the life of the
    * session. The driver path's local relation holds no checkpoint and
    * is not tracked. Weak session keys: a stopped, dereferenced session
    * drops its entries.
    */
  // WEAK refs to the backing RDD, not the DataFrame: the RDD is the
  // correct liveness identity — a derived frame (`pageRank(...)
  // .orderBy(...)`, the q83 shape) keeps the checkpointed RDD strongly
  // reachable through its plan even after the raw result OBJECT is
  // GC'd, so an RDD-weak registry can never reclaim files a live
  // consumer still reads (a frame-weak one could — GC timing would
  // nondeterministically break re-collection). When the RDD itself is
  // unreachable, NO frame can read it: its durable checkpoint
  // directory (which Spark never deletes unless cleanCheckpoints is
  // set) is reclaimed by the next sweep, held STRONGLY as a path
  // string; its local blocks are ContextCleaner's job. All filesystem
  // deletions run OUTSIDE the registry lock — a hung remote delete
  // must not stall every other thread's pageRank.
  private final case class TrackedRanks(
      ref: java.lang.ref.WeakReference[org.apache.spark.rdd.RDD[_]],
      checkpointFile: Option[String])

  private val outstandingRanks =
    new java.util.WeakHashMap[org.apache.spark.sql.SparkSession,
      scala.collection.mutable.ArrayBuffer[TrackedRanks]]

  private def rddsOf(df: DataFrame): Seq[org.apache.spark.rdd.RDD[_]] =
    df.queryExecution.logical.collect {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd
    }

  /** Remove entries whose RDD was GC'd; returns their durable
    * checkpoint paths for the CALLER to delete after releasing the
    * lock. Caller holds the registry lock.
    */
  private def drainDead(
      buf: scala.collection.mutable.ArrayBuffer[TrackedRanks])
      : Seq[String] = {
    val dead = scala.collection.mutable.ArrayBuffer.empty[String]
    buf.filterInPlace { t =>
      if (t.ref.get ne null) true
      else { t.checkpointFile.foreach(dead += _); false }
    }
    dead.toSeq
  }

  private def track(df: DataFrame): DataFrame = {
    val entries = rddsOf(df).map(r => TrackedRanks(
      new java.lang.ref.WeakReference[org.apache.spark.rdd.RDD[_]](r),
      r.getCheckpointFile))
    val deadFiles = outstandingRanks.synchronized {
      val buf = Option(outstandingRanks.get(df.sparkSession)).getOrElse {
        val b = scala.collection.mutable.ArrayBuffer.empty[TrackedRanks]
        outstandingRanks.put(df.sparkSession, b)
        b
      }
      val d = drainDead(buf)
      buf ++= entries
      d
    }
    deadFiles.foreach(f =>
      Lineage.dropCheckpointFiles(df.sparkSession, Some(f)))
    df
  }

  /** Release every outstanding [[pageRank]] checkpoint of this session —
    * bench-trial / session teardown (the [[graft.queries.PipelineQueries]]
    * `releaseAll` convention). RDDs already GC'd have their durable
    * checkpoint files reclaimed here too.
    */
  def releaseAllRanks(spark: org.apache.spark.sql.SparkSession,
                      blocking: Boolean = false): Unit = {
    val entries = outstandingRanks.synchronized {
      val buf = Option(outstandingRanks.get(spark))
      val out = buf.toSeq.flatMap(_.toSeq)
      buf.foreach(_.clear())
      out
    }
    entries.foreach { t =>
      (Option(t.ref.get), t.checkpointFile) match {
        case (_, some @ Some(_)) => Lineage.dropCheckpointFiles(spark, some)
        case (Some(rdd), None) => Lineage.quietUnpersist(rdd, blocking)
        case (None, None) => () // GC'd local checkpoint: ContextCleaner's
      }
    }
  }
}
