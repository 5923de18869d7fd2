package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Wall time of each [[LocalGraph]]-backed op of [[Graph]] on each of
  * its paths, over seeded random graphs of the given edge counts. It is
  * the measurement behind the ops' collect thresholds
  * ([[Graph.pageRankCollectThreshold]], [[Graph.degreesCollectThreshold]],
  * [[Graph.trianglesCollectThreshold]], [[Graph.twoHopCollectThreshold]],
  * [[Graph.componentsCollectThreshold]],
  * [[KgPipeline.ccCollectThreshold]]), not a test.
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
  * `canonical`) is a local relation, as the pipeline's is. Per op,
  * graph, size and repetition the modes run interleaved:
  *   - `driver`: threshold above the edge count (collect + LocalGraph);
  *   - `distributed`: threshold −1 (the distributed path alone);
  *   - `default` (sizes above the op's default threshold only): the
  *     limit-collect that finds the graph too big, then the distributed
  *     path.
  * An untimed warm-up runs both paths of every op first. Each call's
  * result is reduced to a checksum on the driver, so both paths finish
  * the same work and can be compared. One JSON line per call: op,
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
    "canon" -> KgPipeline.ccCollectThreshold)

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
    def checksum(df: DataFrame): Double =
      df.agg(coalesce(sum(col("c")), lit(0.0))).head().getDouble(0)
    // one call of op `name` on a graph of about `m` edges, at budget t
    def call(name: String, kind: String, m: Int): (DataFrame, Int => Double) =
      if (name == "canon") {
        val (edges, kb) = aliasGraph(spark, m)
        (edges, canonChecksum(edges, kb, _))
      } else {
        val edges = graph(kind, m)
        (edges, t => checksum(ops(name)(edges, t)))
      }
    try {
      // untimed warm-up of both paths of every op (JIT, codegen)
      for (name <- names; t <- Seq(Int.MaxValue, -1))
        call(name, "uniform", 1000)._2(t)
      Graph.releaseAllRanks(spark, blocking = true)
      for (name <- names;
           kind <- name match {
             case "triangles" | "twoHop" => Seq("uniform", "hub")
             case "canon" => Seq("alias")
             case _ => Seq("uniform")
           };
           m <- sizes) {
        val (edges, run) = call(name, kind, m)
        val actual = edges.count()
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
          println(f"""{"op": "$name", "graph": "$kind", "edges": $actual, """ +
            f""""rep": $rep, "mode": "$mode", "wall_s": $wall%.3f, """ +
            f""""alloc_mb": ${alloc / 1048576.0}%.1f, "checksum": $sum%.3f}""")
        }
      }
    } finally spark.stop()
  }
}
