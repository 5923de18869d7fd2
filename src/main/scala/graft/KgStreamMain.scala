package graft

import graft.pipeline.KgPipeline
import graft.io.TableIO
import graft.streaming.StreamingKg
import org.apache.spark.sql.streaming.Trigger

/** Continuous KG maintenance entry — [[KgDeltaMain]]'s streaming
  * sibling: watch a directory for parquet files of changed repo rows
  * (the crawler/CDC drop zone) and merge each micro-batch into the
  * committed triples table under the persisted canonicalization state
  * ([[graft.streaming.StreamingKg.maintainTriples]]).
  *
  * Usage: KgStreamMain <outDir> <incomingDir> [once|continuous] [cpus]
  *   <outDir>       a directory KgMain previously wrote; the canonical
  *                  state must exist (run KgDeltaMain once to bootstrap)
  *   <incomingDir>  parquet drop zone with the RepoFile schema
  *                  (repo, path, commit, lang, content)
  *   once           process everything available, then exit (default —
  *                  the cron-shaped deployment; `continuous` runs until
  *                  killed, resuming from the stream checkpoint)
  */
object KgStreamMain {

  def main(args: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    require(args.length >= 2,
      "usage: KgStreamMain <outDir> <incomingDir> [once|continuous] [cpus]")
    val outDir = args(0)
    val incomingDir = args(1)
    // strict: a typo ("continous") or a misplaced cpus value silently
    // selecting once-mode would leave the intended always-on
    // maintenance job simply not running
    args.lift(2).foreach(m => require(m == "once" || m == "continuous",
      s"mode must be 'once' or 'continuous', got '$m'"))
    val once = !args.lift(2).contains("continuous")
    val cpus = args.lift(3).orElse(sys.env.get("SPARK_GRAFT_CPUS")).getOrElse("8")
    val spark = KgMain.session(cpus)
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    val triplesDir = s"$outDir/triples"
    require(TableIO.readCommits(triplesDir, 16,
        spark.sessionState.newHadoopConf()).nonEmpty,
      s"$triplesDir holds no committed buckets — run KgMain first")
    require(graft.pipeline.CanonState
        .loadEdges(spark, s"$outDir/canon_state").isDefined,
      s"$outDir/canon_state is uninitialized — run KgDeltaMain once to " +
        "bootstrap the canonical evidence from the committed table")

    val files = spark.readStream
      .schema("repo string, path string, commit string, lang string, " +
        "content string")
      .parquet(incomingDir)
      .as[KgPipeline.RepoFile]
    val q = StreamingKg.maintainTriples(files, triplesDir, 16, KgMain.model,
      s"$outDir/canon_state", s"$outDir/stream_ckpt",
      trigger = if (once) Some(Trigger.AvailableNow()) else None)
    q.awaitTermination()
    val totRows = TableIO.readCommits(triplesDir, 16,
      spark.sessionState.newHadoopConf()).map(_.rows).sum
    println(graft.io.Json.render(graft.io.Json.obj(
      "mode" -> (if (once) "once" else "continuous"), "table_rows" -> totRows)))
    spark.stop()
  }
}
