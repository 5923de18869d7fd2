package perfbench

import graft.SparkEntry
import graft.queries.{PipelineQueries, RelationalQueries}
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

/** `surface`: passes over every `SparkEntry.queries` entry, in an order
  * permuted by the seed, on the sf0.001 tables in `data/`.
  */
object Surface {
  type Fp = (Long, Long, Long)

  /** The groups of the KG and graph consumers, which untraced runs time. */
  val KgGroups = Set("kg", "graph")

  /** The query's group: q01–q30 and q50 relational; q79–q82 graph;
    * q40–q43, q83 and q87–q91 kg; the rest (q44–q78, q84–q86) curate.
    */
  def group(q: String): String = {
    val n = q.drop(1).takeWhile(_.isDigit).toInt
    if (n <= 30 || n == 50) "relational"
    else if (n >= 79 && n <= 82) "graph"
    else if ((n >= 40 && n <= 43) || n == 83 || n >= 87) "kg"
    else "curate"
  }

  /** Run `df` to a noop sink, folding the output into its fingerprint
    * (rows, XOR and sum of row hashes) on the way, in the same job.
    */
  def runQuery(df: DataFrame): Fp = {
    val h = xxhash64(df.columns.map(c => col(s"`$c`")).toIndexedSeq: _*)
    val obs = Observation()
    df.observe(obs, count(lit(1)).as("n"),
      coalesce(bit_xor(h), lit(0L)).as("x"),
      coalesce(sum(pmod(h, lit(1L << 20))), lit(0L)).as("s"))
      .write.format("noop").mode("overwrite").save()
    val m = obs.get
    (m("n").asInstanceOf[Long], m("x").asInstanceOf[Long],
      m("s").asInstanceOf[Long])
  }

  /** One pass in `order`; returns seconds per query and fingerprints.
    * The KG queries share the KG pipeline that `PipelineQueries`
    * memoizes per session; the warm-up pass builds it, so timed passes
    * measure the consumers alone, whatever the order (`build` measures
    * the pipeline itself).
    */
  def pass(h: Harness, spark: SparkSession, dir: String, order: Seq[String])
      : (Map[String, Double], Map[String, Fp]) = {
    val qs = SparkEntry.queries
    val res = h.layer("pass") {
      order.map { q =>
        val r = h.layer(s"q.${group(q)}") {
          h.timed(scala.util.Try(runQuery(qs(q)(spark, dir))))
        }
        q -> r
      }
    }
    res.foreach { case (q, (t, s)) =>
      h.sample(s"query.$q", s)
      t.failed.foreach(e => h.check(ok = false, s"$q threw: $e"))
    }
    (res.map { case (q, (_, s)) => q -> s }.toMap,
      res.collect { case (q, (t, _)) if t.isSuccess => q -> t.get }.toMap)
  }

  def render(fp: Fp): String = s"${fp._1} ${fp._2} ${fp._3}"

  /** Every query's output must equal its committed reference
    * (`reference/surface.txt`); a missing reference fails too.
    */
  private def checkFingerprints(h: Harness, fps: Map[String, Fp]): Boolean = {
    val want = Reference.read(h.bench, "surface")
    fps.foreach { case (q, fp) => h.output(s"surface.$q", render(fp)) }
    val changed = fps.keys.toSeq.sorted.filter(q => !want.get(q).contains(render(fps(q))))
    h.check(changed.isEmpty, "query outputs differ from (or have no) " +
      s"reference fingerprint: ${changed.mkString(", ")}")
  }

  /** The tables: the sf0.001 test data, copied into the benchmark. At
    * this scale `PipelineQueries` builds a 60-file KG.
    */
  def tables(h: Harness): String =
    java.nio.file.Paths.get(h.bench, "data", "sf0.001").toAbsolutePath.toString

  /** The reference fingerprint of every query: one pass, sorted order. */
  def references(h: Harness): Seq[(String, String)] = {
    val spark = h.spark(h.nproc)
    val dir = tables(h)
    RelationalQueries.ensureBucketedTables(spark, dir)
    PipelineQueries.ensureMediaPayloads(spark, dir)
    val (_, fps) = pass(h, spark, dir, SparkEntry.queries.keys.toSeq.sorted)
    h.check(fps.size == SparkEntry.queries.size, "a query threw")
    fps.toSeq.sorted.map { case (q, fp) => q -> render(fp) }
  }

  def run(h: Harness): Unit = {
    val dir = tables(h)
    val (kg, rest) = SparkEntry.queries.keys.toSeq.sorted
      .partition(q => KgGroups(group(q)))
    val rnd = new scala.util.Random(h.seed)
    def kgPass(kind: String): Unit = {
      val spark = h.spark(h.nproc)
      val (secs, fps) =
        if (kind == "traced") h.tracedOp(pass(h, spark, dir, rnd.shuffle(kg)))
        else pass(h, spark, dir, rnd.shuffle(kg))
      h.sample(s"${kind}_s", secs.values.sum)
      h.op(checkFingerprints(h, fps) && fps.size == kg.size)
    }
    // the warm-up pass (JIT, class loading, codegen) is part of set-up
    Setup.measure(h) { spark =>
      if (h.traced) {
        RelationalQueries.ensureBucketedTables(spark, dir)
        PipelineQueries.ensureMediaPayloads(spark, dir)
      }
      kgPass("warmup")
    }
    val spark = h.spark(h.nproc)
    if (!h.traced) {
      val t0 = System.nanoTime()
      var i = 0
      while (i < 1 || ((System.nanoTime() - t0) / 1e9 < h.seconds && i < 10)) {
        kgPass("op")
        i += 1
      }
    } else {
      // traced and untraced passes; then one traced pass over the
      // remaining (relational and curation) queries, for their groups
      Seq("traced", "untraced").foreach(kgPass)
      val (_, fps) = h.tracedOp(pass(h, spark, dir, rnd.shuffle(rest)))
      h.op(checkFingerprints(h, fps) && fps.size == rest.size)
      val l = h.ledger.get
      val kgPasses = h.samples("traced_s").length
      Report.QueryGroups.foreach { g =>
        val n = if (KgGroups(g)) kgPasses else 1
        val t = l.task(s"q.$g")
        Report.put(h, s"q.$g.wall_s", l.wallSeconds(s"q.$g") / n)
        Report.put(h, s"q.$g.task_s", t.taskNs / 1e9 / n)
        Report.put(h, s"q.$g.shuffle_write_bytes", t.shuffleWrite.toDouble / n)
        Report.put(h, s"q.$g.jobs", t.jobs.toDouble / n)
      }
      Report.trace(h, l, "pass")
      Report.put(h, "kg_query_s", Harness.median(h.samples("untraced_s").toSeq))
      Report.put(h, "surface_total_s", Report.QueryGroups.map(g =>
        h.metrics(s"q.$g.wall_s")._1).sum)
    }
  }
}
