package graft.pipeline

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Wall time of [[Graph.pageRank]] on each of its paths, over seeded
  * random directed graphs of the given edge counts. It is the
  * measurement behind [[Graph.pageRankCollectThreshold]], not a test.
  *
  * Each graph is an uncached derivation with a shuffle (`range` →
  * two hashed endpoints → `distinct`, average out-degree 8), so a path
  * that evaluates its input twice pays for it. Per size and repetition
  * the modes run interleaved, 8 iterations at damping 0.85:
  *   - `driver`: threshold above the edge count (collect + driver loop);
  *   - `distributed`: threshold −1 (the distributed loop alone);
  *   - `default` (sizes above the default threshold only): the
  *     limit-collect that finds the graph too big, then the
  *     distributed loop.
  * An untimed warm-up runs both paths first. Each call's ranks are
  * summed on the driver, so both paths finish the same work. One JSON
  * line per call: size, mode, wall seconds and the bytes the calling
  * thread allocated (the driver path's working set is allocated
  * there).
  *
  * Run (the session is `local[4]` with 4 shuffle partitions and AQE,
  * as the benchmark's):
  * {{{
  * SPARK_DRIVER_MEM=3g sbt "Test/runMain graft.pipeline.PageRankCrossover 25000,100000,400000 3"
  * }}}
  */
object PageRankCrossover {
  def main(args: Array[String]): Unit = {
    val sizes = args(0).split(",").map(_.trim.toInt).toSeq
    val reps = if (args.length > 1) args(1).toInt else 3
    val spark = SparkSession.builder()
      .master("local[4]")
      .appName("pagerank-crossover")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val threads = java.lang.management.ManagementFactory.getThreadMXBean
      .asInstanceOf[com.sun.management.ThreadMXBean]
    val self = Thread.currentThread.getId
    val default = Graph.pageRankCollectThreshold
    def graph(m: Int) = {
      val n = math.max(m / 8, 2).toLong
      spark.range(m.toLong).select(
        pmod(xxhash64(col("id"), lit(1)), lit(n)).as("src"),
        pmod(xxhash64(col("id"), lit(2)), lit(n)).as("dst")).distinct()
    }
    try {
      // untimed warm-up of both paths (JIT, codegen)
      for (t <- Seq(Int.MaxValue, -1))
        Graph.pageRank(graph(1000), iters = 8, collectThreshold = t).count()
      Graph.releaseAllRanks(spark, blocking = true)
      for (m <- sizes) {
        val edges = graph(m)
        val actual = edges.count()
        val modes = Seq("driver" -> Int.MaxValue, "distributed" -> -1) ++
          (if (actual > default) Seq("default" -> default) else Nil)
        for (rep <- 1 to reps; (mode, t) <-
               if (rep % 2 == 1) modes else modes.reverse) {
          val a0 = threads.getThreadAllocatedBytes(self)
          val t0 = System.nanoTime()
          val mass = Graph.pageRank(edges, iters = 8, damping = 0.85,
            collectThreshold = t).agg(sum(col("pr"))).head().getDouble(0)
          val wall = (System.nanoTime() - t0) / 1e9
          val alloc = threads.getThreadAllocatedBytes(self) - a0
          Graph.releaseAllRanks(spark, blocking = true)
          println(f"""{"edges": $actual, "rep": $rep, "mode": "$mode", """ +
            f""""wall_s": $wall%.3f, "alloc_mb": ${alloc / 1048576.0}%.1f, """ +
            f""""mass": $mass%.3f}""")
        }
      }
    } finally spark.stop()
  }
}
