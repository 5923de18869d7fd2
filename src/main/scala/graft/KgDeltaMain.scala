package graft

import graft.pipeline.{CanonState, KgPipeline}
import graft.io.TableIO
import org.apache.spark.sql.functions._

/** Incremental KG maintenance entry — the day-2 counterpart of
  * [[KgMain]]: against a triples table [[KgMain]] built, merge a DELTA
  * of changed files under the PERSISTED canonicalization state
  * ([[graft.pipeline.CanonState]]), reconciling any canon-id drift in
  * place, and print a metrics line. Bootstraps the state from the
  * committed table's corpus on first use (the onboarding path: one full
  * canonicalization, evidence persisted from then on).
  *
  * Usage: KgDeltaMain <outDir> <lo> <hi> [deltaSeed] [cpus]
  *   <outDir>     a directory KgMain previously wrote (snapshot + triples)
  *   <lo>,<hi>    the file-id range [lo, hi) whose content changes
  *   [deltaSeed]  content seed for the changed files (default 43)
  *
  * Demonstrated invariant (PipelineSpec pins it): after any sequence of
  * these merges the committed table equals a full [[KgPipeline.run]]
  * over the union of every batch's files — no periodic full rebuild.
  */
object KgDeltaMain {

  def main(args: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    require(args.length >= 3, "usage: KgDeltaMain <outDir> <lo> <hi> [deltaSeed] [cpus]")
    val outDir = args(0)
    val lo = args(1).toLong
    val hi = args(2).toLong
    require(lo >= 0 && hi > lo, s"bad delta range [$lo, $hi)")
    val deltaSeed = args.lift(3).map(_.toLong).getOrElse(43L)
    val cpus = args.lift(4).orElse(sys.env.get("SPARK_GRAFT_CPUS")).getOrElse("8")
    val spark = KgMain.session(cpus)
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    val t0 = System.nanoTime()

    val triplesDir = s"$outDir/triples"
    val stateDir = s"$outDir/canon_state"
    require(TableIO.readCommits(triplesDir, 16,
        spark.sessionState.newHadoopConf()).nonEmpty,
      s"$triplesDir holds no committed buckets — run KgMain first")

    // First use on a table built before canonical state existed:
    // bootstrap the evidence set from the COMMITTED corpus (one full
    // linking pass — the cost a from-scratch rebuild pays every time).
    val bootstrapped = CanonState.loadEdges(spark, stateDir).isEmpty
    if (bootstrapped) {
      val snap = spark.read.parquet(s"$outDir/snapshot/data")
        .select("repo", "path", "commit", "lang", "content")
        .as[KgPipeline.RepoFile]
      val kb = KgPipeline.kbAliasDf(spark, graft.core.Synth.knowledgeBase)
      val ments = KgPipeline.detectMentions(spark, snap, KgMain.model)
      val linked = KgPipeline.linkMentions(spark, ments, kb)
      val cd = KgPipeline.canonicalizeWithState(spark, linked, kb, stateDir)
      CanonState.save(spark, stateDir, cd.edges, cd.canon)
      cd.edges.unpersist()
      KgPipeline.releaseCanon(spark, cd.canon)
    }

    // the delta: same identities (repo/path from the base seed), new
    // content + commit — exactly what a crawler hands a maintenance
    // job; generated distributed with per-row seeding like synthInput
    val delta = spark.range(lo, hi).map { i =>
      val id = graft.core.Synth.repoRow(i, 8, seed = 42L)
      val alt = graft.core.Synth.repoRow(i, 8, seed = deltaSeed)
      KgPipeline.RepoFile(id.repo, id.path, "e" * 40, id.lang, alt.content)
    }

    val (deltaRep, reconRep) = KgPipeline.mergeDeltaCanonical(spark,
      triplesDir, 16, delta, KgMain.model, stateDir)
    val secs = (System.nanoTime() - t0) / 1e9
    val totRows = TableIO.readCommits(triplesDir, 16,
      spark.sessionState.newHadoopConf()).map(_.rows).sum
    println(graft.io.Json.render(graft.io.Json.obj("delta_files" -> (hi - lo),
      "bootstrapped" -> bootstrapped,
      "delta_buckets" -> deltaRep.affectedBuckets.length,
      "delta_upserts" -> deltaRep.nUpserts,
      "reconciled_buckets" -> reconRep.affectedBuckets.length,
      "table_rows" -> totRows, "sec" -> graft.io.Json.fixed(secs, 2))))
    spark.stop()
  }
}
