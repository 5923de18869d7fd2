package perfbench

import graft.KgMain
import graft.io.TableIO
import graft.pipeline.KgPipeline
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.storage.StorageLevel

/** `build`: a fresh KG build from a seeded repo-table snapshot, as
  * `KgMain` runs it (`KgPipeline.run` → `TableIO.writeResumable`).
  */
object Build {
  val Files = 2000L
  val Buckets = 16
  val BucketCols = Seq("src_repo", "src_path")

  /** The seed picks one of `Variants` corpora (`Synth.repoRow` seed
    * 0 until 16), so every run's output is checked against the
    * committed reference of its corpus (`reference/build.txt`).
    */
  val Variants = 16
  def corpusSeed(seed: Long): Long = Math.floorMod(seed, Variants.toLong)

  final case class Output(triples: Long, commits: Seq[TableIO.BucketCommit]) {
    /** Digest of the per-bucket manifest counters (rows, checksum). */
    def digest: String = {
      val md = java.security.MessageDigest.getInstance("SHA-256")
      commits.sortBy(_.bucket).foreach(c =>
        md.update(s"${c.bucket}:${c.rows}:${c.checksum};".getBytes("UTF-8")))
      md.digest().take(8).map(b => f"$b%02x").mkString
    }
    def render: String = s"$triples $digest"
  }

  def snapshotDir(h: Harness): String = s"${h.work}/snapshot"

  def lineage(h: Harness): Map[String, String] =
    Map("snapshot" -> s"synth-$Files-seed${corpusSeed(h.seed)}",
      "model" -> "sgd-seed42")

  /** Write the input snapshot of corpus `seed` (set-up, untimed). */
  def writeSnapshot(h: Harness, spark: SparkSession, seed: Long): Unit = {
    h.deleteTree(snapshotDir(h))
    TableIO.writeSnapshot(
      KgPipeline.synthInput(spark, Files, seed = seed,
        partitions = h.nproc * 2).toDF(),
      snapshotDir(h), s"synth-$Files-seed$seed")
  }

  def readSnapshot(h: Harness, spark: SparkSession): Dataset[KgPipeline.RepoFile] = {
    import spark.implicits._
    spark.read.parquet(s"${snapshotDir(h)}/data")
      .select("repo", "path", "commit", "lang", "content")
      .as[KgPipeline.RepoFile]
  }

  /** One untraced build into `out`: the fused plan, exactly as KgMain. */
  def fused(h: Harness, spark: SparkSession, out: String): (Output, Double) = {
    val (r, secs) = h.timed {
      val r = KgPipeline.run(spark, readSnapshot(h, spark), KgMain.model)
      TableIO.writeResumable(r.triples, out, Buckets, BucketCols, lineage(h))
      r
    }
    KgPipeline.release(spark, r, blocking = true)
    (committed(spark, out), secs)
  }

  def committed(spark: SparkSession, out: String): Output = {
    val cs = TableIO.readCommits(out, Buckets, spark.sessionState.newHadoopConf())
    Output(cs.map(_.rows).sum, cs)
  }

  /** One traced build into `out`: the same public calls, each layer's
    * output materialized at its boundary inside its span, then the
    * layer's data-quality counters (outside the op's wall).
    */
  def traced(h: Harness, spark: SparkSession, out: String): (Output, Double) = {
    val lvl = StorageLevel.MEMORY_AND_DISK
    val (frames, secs) = h.timed(h.layer("op") {
      val kb = KgPipeline.kbAliasDf(spark, graft.core.Synth.knowledgeBase)
      val ments = h.layer("ner") {
        val m = KgPipeline.detectMentions(spark, readSnapshot(h, spark),
          KgMain.model).persist(lvl)
        h.sample("ner.records_out", m.count().toDouble); m
      }
      val linked = h.layer("link") {
        val d = KgPipeline.linkMentions(spark, ments, kb).persist(lvl)
        h.sample("link.records_out", d.count().toDouble); d
      }
      val canon = h.layer("canon") {
        val c = KgPipeline.canonicalize(spark, linked, kb).cache()
        h.sample("canon.records_out", c.count().toDouble); c
      }
      val trip = h.layer("triples") {
        val t = KgPipeline.triples(linked, canon).persist(lvl)
        h.sample("triples.records_out", t.count().toDouble); t
      }
      h.layer("write") {
        TableIO.writeResumable(trip, out, Buckets, BucketCols, lineage(h))
      }
      (kb, ments, linked, canon, trip)
    })
    val (kb, ments, linked, canon, trip) = frames
    val o = committed(spark, out)
    h.sample("write.records_out", o.triples.toDouble)
    Counters.ner(h, ments)
    Counters.link(h, linked, kb)
    Counters.canon(h, linked, kb, canon)
    Counters.triples(h, linked, trip)
    Counters.write(h, out, o.commits)
    Seq[DataFrame](trip, linked, ments.toDF()).foreach(_.unpersist(true))
    KgPipeline.releaseCanon(spark, canon, blocking = true)
    (o, secs)
  }

  /** After the last op: manifest audit and the KG semantic audit. */
  def audit(h: Harness, spark: SparkSession, out: String): Unit = {
    val bad = TableIO.verifyCommits(spark, out, Buckets)
    h.op(h.check(bad.isEmpty, s"verifyCommits: buckets $bad disagree"))
    val a = KgPipeline.kgAudit(spark, TableIO.readCommitted(spark, out, Buckets))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val defects = Seq("dangling_entities", "orphan_typed_entities",
      "duplicate_triples", "null_key_triples")
    h.op(h.check(defects.forall(k => a.get(k).contains(0L)),
      s"kgAudit defects: ${defects.map(k => k -> a.get(k)).mkString(", ")}"))
  }

  def run(h: Harness): Unit = {
    val nproc = h.nproc
    // the warm-up leg (JIT, class loading, codegen) is part of set-up
    Setup.measure(h) { spark =>
      writeSnapshot(h, spark, corpusSeed(h.seed))
      fused(h, spark, s"${h.work}/warmup")
    }
    h.deleteTree(s"${h.work}/warmup")
    val corpus = s"seed${corpusSeed(h.seed)}"
    val want = Reference.read(h.bench, "build").get(corpus)
    var triples = 0L
    def leg(kind: String, cpus: Int): Unit = {
      val out = s"${h.work}/out-$kind"
      h.deleteTree(out)
      val spark = h.spark(cpus)
      val (o, s) =
        if (kind == "traced") h.tracedOp(traced(h, spark, out))
        else fused(h, spark, out)
      h.sample(s"${kind}_s", s)
      h.output(s"build.$corpus.$kind", o.render)
      h.op(h.check(want.contains(o.render), s"$kind leg at " +
        s"local[$cpus]: output '${o.render}' (triples, manifest digest) " +
        s"differs from the $corpus reference '${want.getOrElse("(none)")}'"))
      triples = o.triples
    }
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    var i = 0
    if (h.traced) {
      // traced, untraced and 1-thread legs interleave, alternating
      // which width goes first (one session switch per cycle); traced
      // minus untraced is the tracing overhead
      while (i < 1 || (elapsed < h.seconds && i < 10)) {
        val cycle = Seq(("traced", nproc), ("untraced", nproc), ("leg_1t", 1))
        (if (i % 2 == 0) cycle else cycle.reverse).foreach {
          case (kind, cpus) => leg(kind, cpus) }
        i += 1
      }
      audit(h, h.spark(nproc), s"${h.work}/out-traced")
      Delta.phase(h, h.spark(nproc), s"${h.work}/out-untraced")
      val l = h.ledger.get
      val n = h.samples("traced_s").length
      Seq("ner", "link", "canon", "triples", "write")
        .foreach(Report.sparkLayer(h, l, _, n))
      Seq("ner.mentions_per_file_p99", "link.nil_rate",
        "link.cand_per_mention", "canon.edges", "canon.max_component",
        "triples.type_dedup_ratio", "write.bytes_on_disk", "write.files",
        "write.bucket_skew").foreach(Report.counter(h, _))
      Report.trace(h, l, "op")
      val tps = triples / Harness.median(h.samples("untraced_s").toSeq)
      val tps1 = triples / Harness.median(h.samples("leg_1t_s").toSeq)
      val eff = tps / (nproc * tps1)
      h.op(h.check(eff <= 1.0, f"impossible scaling_eff $eff%.3f > 1.0"))
      Report.put(h, "triples_per_s", tps)
      Report.put(h, "triples_per_s_1t", tps1)
      Report.put(h, "scaling_eff", eff)
    } else {
      while (i < 2 || (elapsed < h.seconds && i < 30)) {
        leg("op", nproc)
        i += 1
      }
      audit(h, h.spark(nproc), s"${h.work}/out-op")
    }
  }

  /** The reference output of every corpus: one fresh build each. */
  def references(h: Harness): Seq[(String, String)] = {
    val spark = h.spark(h.nproc)
    (0L until Variants).map { seed =>
      writeSnapshot(h, spark, seed)
      val out = s"${h.work}/out-reference"
      h.deleteTree(out)
      val (o, _) = fused(h, spark, out)
      audit(h, spark, out)
      System.err.println(s"perfbench: build corpus seed$seed: ${o.render}")
      s"seed$seed" -> o.render
    }
  }
}
