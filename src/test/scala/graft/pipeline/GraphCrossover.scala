package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Wall time of each [[LocalGraph]]-backed op of [[Graph]] on each of
  * its paths, over seeded random graphs of the given edge counts. It is
  * the measurement behind the ops' collect thresholds
  * ([[Graph.pageRankCollectThreshold]], [[Graph.degreesCollectThreshold]],
  * [[Graph.trianglesCollectThreshold]], [[Graph.twoHopCollectThreshold]],
  * [[Graph.componentsCollectThreshold]],
  * [[KgPipeline.ccCollectThreshold]], [[Graph.coOccurrenceCollectThreshold]],
  * [[Graph.coOccurrencePairThreshold]] and
  * [[KgPipeline.tripleCollectThreshold]]), not a test.
  *
  * Each graph is an uncached derivation with a shuffle (`range` → two
  * hashed endpoints → `distinct`, average out-degree 8), so a path that
  * evaluates its input twice pays for it. `uniform` draws both ends
  * uniformly; `hub` (triangles and twoHop only, whose work grows with
  * the squared degrees) draws the target as `n * u^2`, so node density
  * falls as 1/sqrt(id) and the lowest ids are hubs. `components` runs
  * on the ids zero-padded to strings, as q25 and the canonicalizer
  * label strings. `canon` times [[KgPipeline.canonFromEdges]] against
  * [[KgPipeline.ccCollectThreshold]] on its own `alias` graph: entity
  * ids `ent:<12 digits>` with about four alias edges each; three in
  * four go to an `alias:<12 digits>` drawn from as many aliases as
  * edges (one source, or an ambiguous few), one in four to the alias
  * its entity shares with its canonical twin, so that alias bridges
  * and each component holds two entities. The KB (`entity_id`,
  * `canonical`) is a local relation, as the pipeline's is.
  * `cooccurrence` times [[Graph.coOccurrence]] (minPairCount 1, so
  * every pair is output) over `(ctx, item)` rows of about `m` rows, the
  * string keys `ctx:<9 digits>` and `item:<9 digits>` of the file and
  * entity columns q83 and q90 read: `uniform` spreads them over m/8
  * contexts and m/4 items (8 items a context on average; sf0.001's
  * 994 (file, entity) rows over 60 files hold 16), `hub` moves a
  * quarter of the rows into 16 hub contexts of m/64 rows each, far
  * above the cap. Each runs at caps 32
  * and 64 (graph names `uniform-c32` …), and its record adds the capped
  * pair volume the driver path checks. `triples` times the three
  * triple-set consumers against [[KgPipeline.tripleCollectThreshold]]
  * (graph names `audit`, `ntriples` and `match`, the q91 pattern) over
  * about `m` rows `(subj, pred, obj, src_repo, src_path)` shaped like
  * the pipeline's: seven in eight are mentions `m:<9 digits>` of m/8
  * entities `e:<9 digits>`, one in eight types an entity with one of
  * four types (so some entities carry several, some rows repeat), and
  * the provenance columns hold 1,000 repos and m/16 paths. Per op,
  * graph, size and repetition the modes run interleaved:
  *   - `driver`: threshold above the edge count (collect + LocalGraph,
  *     or LocalSets with no pair limit);
  *   - `distributed`: threshold −1 (the distributed path alone);
  *   - `default` (sizes above the op's default threshold only): the
  *     limit-collect that finds the graph too big, then the distributed
  *     path.
  * An untimed warm-up runs both paths of every op and graph first.
  * Each call's result is reduced to a checksum on the driver, so both
  * paths finish the same work and can be compared. One JSON line per call: op,
  * graph, edges, mode, wall seconds, the bytes the calling thread
  * allocated (the driver path's working set is allocated there) and
  * the checksum. PageRank runs 8 iterations at damping 0.85.
  *
  * Run (the session is `local[4]` with 4 shuffle partitions and AQE,
  * as the benchmark's):
  * {{{
  * SPARK_DRIVER_MEM=3g sbt "Test/runMain graft.pipeline.GraphCrossover degrees,triangles,twoHop,components,canon 25000,100000,400000 3"
  * }}}
  */
object GraphCrossover {
  private val ops: Map[String, (DataFrame, Int) => DataFrame] = Map(
    "pageRank" -> ((e, t) => Graph.pageRank(e, iters = 8, damping = 0.85,
      collectThreshold = t).select(col("pr").as("c"))),
    "degrees" -> ((e, t) => Graph.degrees(e, t).select(col("degree").as("c"))),
    "triangles" -> ((e, t) =>
      Graph.triangles(e, t).select(col("n_triangles").as("c"))),
    "twoHop" -> ((e, t) => Graph.twoHopCounts(e, t).select(col("n_2hop").as("c"))),
    "components" -> ((e, t) => Graph.components(
      e.select(lpad(col("src").cast("string"), 12, "0").as("src"),
        lpad(col("dst").cast("string"), 12, "0").as("dst")), t)
      .select(pmod(xxhash64(col("node"), col("comp")), lit(1000003L))
        .cast("double").as("c"))))

  private val defaults = Map(
    "pageRank" -> Graph.pageRankCollectThreshold,
    "degrees" -> Graph.degreesCollectThreshold,
    "triangles" -> Graph.trianglesCollectThreshold,
    "twoHop" -> Graph.twoHopCollectThreshold,
    "components" -> Graph.componentsCollectThreshold,
    "canon" -> KgPipeline.ccCollectThreshold,
    "cooccurrence" -> Graph.coOccurrenceCollectThreshold,
    "triples" -> KgPipeline.tripleCollectThreshold)

  /** Triple rows of about `m` rows (see the object doc). */
  private def tripleRows(spark: SparkSession, m: Int): DataFrame = {
    val ent = format_string("e:%09d",
      pmod(xxhash64(col("id"), lit(1)), lit(math.max(m / 8, 1).toLong)))
    val isType = pmod(col("id"), lit(8)) === 0
    spark.range(m.toLong).select(
      when(isType, ent).otherwise(format_string("m:%09d", col("id"))).as("subj"),
      when(isType, lit("hasType")).otherwise(lit("hasEntity")).as("pred"),
      when(isType, element_at(array(lit("person"), lit("org"), lit("place"),
        lit("tool")), (pmod(xxhash64(col("id"), lit(2)), lit(4)) + 1).cast("int")))
        .otherwise(ent).as("obj"),
      format_string("repo:%06d", pmod(col("id"), lit(1000))).as("src_repo"),
      format_string("path:%09d", (col("id") / 16).cast("long")).as("src_path"))
  }

  /** One triple-set consumer `kind` at budget `t`, reduced to a checksum. */
  private def tripleChecksum(rows: DataFrame, kind: String, t: Int): Double = {
    def sumOf(df: DataFrame) = df.agg(coalesce(sum(pmod(xxhash64(
      df.columns.map(col).toIndexedSeq: _*), lit(1000003L)).cast("double")),
      lit(0.0))).head().getDouble(0)
    kind match {
      case "audit" => KgPipeline.kgAudit(rows.sparkSession, rows, t)
        .collect().map(_.getLong(1).toDouble).sum
      case "ntriples" => sumOf(KgPipeline.ntriples(rows, t))
      case "match" => sumOf(KgPipeline.matchPattern(rows,
        Seq(("?m", "hasEntity", "?e"), ("?e", "hasType", "?t")), t))
    }
  }

  /** `(ctx, item)` rows of about `m` rows; `kind` is `uniform` or `hub`. */
  private def ctxItems(spark: SparkSession, kind: String, m: Int): DataFrame = {
    val uniform = pmod(xxhash64(col("id"), lit(2)), lit(math.max(m / 8, 1).toLong))
    val ctx = kind match {
      case "uniform" => uniform
      case "hub" => when(pmod(xxhash64(col("id"), lit(1)), lit(4)) === 0,
        lit(1000000000L) + pmod(xxhash64(col("id"), lit(4)), lit(16L)))
        .otherwise(uniform)
    }
    spark.range(m.toLong).select(format_string("ctx:%09d", ctx).as("ctx"),
      format_string("item:%09d",
        pmod(xxhash64(col("id"), lit(3)), lit(math.max(m / 4, 1).toLong))).as("item"))
  }

  /** The capped pair volume sum over contexts of C(min(|set|, cap), 2). */
  private def pairVolume(rows: DataFrame, cap: Int): Long =
    Graph.cappedSets(rows, "ctx", "item", cap)
      .select(size(col("items")).cast("long").as("k"))
      .agg(coalesce(sum(col("k") * (col("k") - 1) / 2), lit(0L)))
      .head().getAs[Number](0).longValue

  /** `alias` edges `(src, dst)` of about `m` rows and their KB. */
  private def aliasGraph(spark: SparkSession, m: Int)
      : (DataFrame, DataFrame) = {
    import spark.implicits._
    val nEnt = math.max(m / 4, 2)
    val ent = pmod(xxhash64(col("id"), lit(1)), lit(nEnt.toLong))
    val edges = spark.range(m.toLong).select(
      format_string("ent:%012d", ent).as("src"),
      when(pmod(xxhash64(col("id"), lit(3)), lit(4)) === 0,
        format_string("alias:c%012d", floor(ent / 2)))
        .otherwise(format_string("alias:%012d",
          pmod(xxhash64(col("id"), lit(2)), lit(m.toLong))))
        .as("dst")).distinct()
    val kb = (0 until nEnt).map(i => (f"ent:$i%012d", f"c${i / 2}%012d"))
      .toDF("entity_id", "canonical")
    (edges, kb)
  }

  /** One [[KgPipeline.canonFromEdges]] call at budget `t`, reduced to a
    * checksum; the distributed map's checkpoint is released after.
    */
  private def canonChecksum(edges: DataFrame, kb: DataFrame, t: Int): Double = {
    val spark = edges.sparkSession
    val canon = KgPipeline.canonFromEdges(spark, edges, kb, t)
    try canon.agg(coalesce(sum(pmod(xxhash64(col("entity_id"),
      col("canon_id")), lit(1000003L)).cast("double")), lit(0.0)))
      .head().getDouble(0)
    finally KgPipeline.releaseCanon(spark, canon, blocking = true)
  }

  def main(args: Array[String]): Unit = {
    val names = args(0).split(",").map(_.trim).toSeq
    val sizes = args(1).split(",").map(_.trim.toInt).toSeq
    val reps = if (args.length > 2) args(2).toInt else 3
    require(names.forall(defaults.contains),
      s"ops are ${defaults.keys.mkString(",")}")
    val spark = SparkSession.builder()
      .master("local[4]")
      .appName("graph-crossover")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val threads = java.lang.management.ManagementFactory.getThreadMXBean
      .asInstanceOf[com.sun.management.ThreadMXBean]
    val self = Thread.currentThread.getId
    def graph(kind: String, m: Int) = {
      val n = math.max(m / 8, 2).toLong
      val dst = kind match {
        case "uniform" => pmod(xxhash64(col("id"), lit(2)), lit(n))
        case "hub" => floor(pow(pmod(xxhash64(col("id"), lit(2)),
          lit(1000000007L)) / lit(1000000007.0), 2) * lit(n)).cast("long")
      }
      spark.range(m.toLong).select(
        pmod(xxhash64(col("id"), lit(1)), lit(n)).as("src"),
        dst.as("dst")).distinct()
    }
    def kinds(name: String): Seq[String] = name match {
      case "triangles" | "twoHop" => Seq("uniform", "hub")
      case "canon" => Seq("alias")
      case "triples" => Seq("audit", "ntriples", "match")
      case "cooccurrence" =>
        for (g <- Seq("uniform", "hub"); c <- Seq(32, 64)) yield s"$g-c$c"
      case _ => Seq("uniform")
    }
    def checksum(df: DataFrame): Double =
      df.agg(coalesce(sum(col("c")), lit(0.0))).head().getDouble(0)
    // one call of op `name` on a graph of about `m` edges, at budget t
    def call(name: String, kind: String, m: Int): (DataFrame, Int => Double) =
      if (name == "cooccurrence") {
        val Array(shape, c) = kind.split("-c")
        val rows = ctxItems(spark, shape, m)
        (rows, t => checksum(Graph.coOccurrence(rows, "ctx", "item", c.toInt, 1,
          t, if (t == Int.MaxValue) Long.MaxValue else Graph.coOccurrencePairThreshold)
          .select(pmod(xxhash64(col("x"), col("y"), col("pair_count"),
            col("lift")), lit(1000003L)).cast("double").as("c"))))
      } else if (name == "triples") {
        val rows = tripleRows(spark, m)
        (rows, tripleChecksum(rows, kind, _))
      } else if (name == "canon") {
        val (edges, kb) = aliasGraph(spark, m)
        (edges, canonChecksum(edges, kb, _))
      } else {
        val edges = graph(kind, m)
        (edges, t => checksum(ops(name)(edges, t)))
      }
    try {
      // untimed warm-up of both paths of every op (JIT, codegen)
      for (name <- names; kind <- kinds(name); t <- Seq(Int.MaxValue, -1))
        call(name, kind, 1000)._2(t)
      Graph.releaseAllRanks(spark, blocking = true)
      for (name <- names; kind <- kinds(name); m <- sizes) {
        val (edges, run) = call(name, kind, m)
        val actual = edges.count()
        val pairs = if (name == "cooccurrence")
          s""""pairs": ${pairVolume(edges, kind.split("-c")(1).toInt)}, """ else ""
        val modes = Seq("driver" -> Int.MaxValue, "distributed" -> -1) ++
          (if (actual > defaults(name)) Seq("default" -> defaults(name)) else Nil)
        for (rep <- 1 to reps; (mode, t) <-
               if (rep % 2 == 1) modes else modes.reverse) {
          val a0 = threads.getThreadAllocatedBytes(self)
          val t0 = System.nanoTime()
          val sum = run(t)
          val wall = (System.nanoTime() - t0) / 1e9
          val alloc = threads.getThreadAllocatedBytes(self) - a0
          Graph.releaseAllRanks(spark, blocking = true)
          println(f"""{"op": "$name", "graph": "$kind", "edges": $actual, $pairs""" +
            f""""rep": $rep, "mode": "$mode", "wall_s": $wall%.3f, """ +
            f""""alloc_mb": ${alloc / 1048576.0}%.1f, "checksum": $sum%.3f}""")
        }
      }
    } finally spark.stop()
  }
}
