package perfbench

import graft.KgMain
import graft.core.Synth
import graft.io.TableIO
import graft.pipeline.{CanonState, KgPipeline}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Incremental maintenance, as `KgDeltaMain` runs it: seeded batches of
  * changed files, each ~1% of a table `build` wrote, merged by
  * `KgPipeline.mergeDeltaCanonical` under the persisted
  * canonicalization state. Runs in the traced `build` run, after its
  * legs, on the table of its last untraced leg.
  */
object Delta {
  val BatchFiles = (Build.Files / 100).toInt
  private val TripleCols = Seq("subj", "pred", "obj", "src_repo", "src_path",
    "src_commit")

  private def baseFile(h: Harness, i: Long): KgPipeline.RepoFile = {
    val r = Synth.repoRow(i, 8, seed = Build.corpusSeed(h.seed))
    KgPipeline.RepoFile(r.repo, r.path, r.commit, r.lang, r.content)
  }

  /** Batch `b`'s version of file `i`: same identity, new content and
    * commit (the `KgDeltaMain` shape).
    */
  private def changedFile(h: Harness, i: Long, b: Int): KgPipeline.RepoFile = {
    val id = Synth.repoRow(i, 8, seed = Build.corpusSeed(h.seed))
    val alt = Synth.repoRow(i, 8, seed = h.seed * 7919L + 1000L + b)
    KgPipeline.RepoFile(id.repo, id.path, "e" * 40, id.lang, alt.content)
  }

  /** A committed table and its state; batch `b` changes the files
    * `order(b*BatchFiles until (b+1)*BatchFiles)`.
    */
  final class Table(h: Harness, val dir: String) {
    val state = s"${h.work}/canon_state"
    val order: IndexedSeq[Long] =
      new scala.util.Random(h.seed).shuffle((0L until Build.Files).toVector)
    var batches = 0
    def batch(b: Int): Seq[KgPipeline.RepoFile] =
      order.slice(b * BatchFiles, (b + 1) * BatchFiles).map(changedFile(h, _, b))
    /** The file set after every batch so far. */
    def finalFiles: Seq[KgPipeline.RepoFile] = {
      val latest = (0 until batches).flatMap(b =>
        order.slice(b * BatchFiles, (b + 1) * BatchFiles).map(_ -> b)).toMap
      (0L until Build.Files).map(i =>
        latest.get(i).fold(baseFile(h, i))(changedFile(h, i, _)))
    }
  }

  /** Bootstrap the canonicalization state from the table's snapshot,
    * as `KgDeltaMain` does on first use.
    */
  def bootstrap(h: Harness, spark: SparkSession, t: Table): Unit = {
    val kb = KgPipeline.kbAliasDf(spark, Synth.knowledgeBase)
    val linked = KgPipeline.linkMentions(spark,
      KgPipeline.detectMentions(spark, Build.readSnapshot(h, spark), KgMain.model), kb)
    val cd = KgPipeline.canonicalizeWithState(spark, linked, kb, t.state)
    CanonState.save(spark, t.state, cd.edges, cd.canon)
    cd.edges.unpersist()
    KgPipeline.releaseCanon(spark, cd.canon)
  }

  private def ds(spark: SparkSession, files: Seq[KgPipeline.RepoFile]) =
    spark.createDataset(files)(org.apache.spark.sql.Encoders.product[KgPipeline.RepoFile])

  /** One untraced batch: the fused maintenance call. */
  def fused(h: Harness, spark: SparkSession, t: Table): Double = {
    val changed = ds(spark, t.batch(t.batches))
    val (_, s) = h.timed(KgPipeline.mergeDeltaCanonical(spark, t.dir, Build.Buckets,
      changed, KgMain.model, t.state))
    t.batches += 1
    s
  }

  /** One traced batch: `mergeDeltaCanonical`'s public steps, in its
    * order, each layer's output materialized at its boundary.
    */
  def traced(h: Harness, spark: SparkSession, t: Table): Double = {
    val lvl = StorageLevel.MEMORY_AND_DISK
    val changed = ds(spark, t.batch(t.batches))
    val (frames, secs) = h.timed(h.layer("delta") {
      val kb = KgPipeline.kbAliasDf(spark, Synth.knowledgeBase)
      val ments = h.layer("delta.ner") {
        val m = KgPipeline.detectMentions(spark, changed, KgMain.model).persist(lvl)
        m.count(); m
      }
      val linked = h.layer("delta.link") {
        val d = KgPipeline.linkMentions(spark, ments, kb).persist(lvl)
        d.count(); d
      }
      val cd = h.layer("delta.canon") {
        val c = KgPipeline.canonicalizeWithState(spark, linked, kb, t.state)
        c.canon.count(); c
      }
      val trip = h.layer("delta.triples") {
        val x = KgPipeline.triples(linked, cd.canon).persist(lvl)
        x.count(); x
      }
      val merged = h.layer("merge") {
        TableIO.mergeBuckets(spark, t.dir, Build.Buckets, Build.BucketCols, Build.BucketCols,
          upserts = trip, deleteKeys = Some(vacated(changed, trip)))
      }
      val rec = h.layer("reconcile") {
        if (cd.remap.isEmpty) Seq.empty[Int]
        else KgPipeline.reconcileCanon(spark, t.dir, Build.Buckets, cd.remap)
          .affectedBuckets
      }
      h.layer("canon_state")(CanonState.save(spark, t.state, cd.edges, cd.canon))
      (ments, linked, cd, trip, merged, rec)
    })
    val (ments, linked, cd, trip, merged, rec) = frames
    t.batches += 1
    h.sample("merge.records_out", merged.rowsAfter.toDouble)
    h.sample("merge.write_amp", merged.rowsAfter.toDouble / (merged.nUpserts max 1L))
    h.sample("merge.buckets", merged.affectedBuckets.length.toDouble)
    h.sample("reconcile.buckets", rec.length.toDouble)
    h.sample("canon_state.bytes", h.diskUsage(t.state, ".parquet")._1.toDouble)
    Seq[DataFrame](trip, linked, ments.toDF(), cd.remap, cd.edges)
      .foreach(_.unpersist(true))
    KgPipeline.releaseCanon(spark, cd.canon, blocking = true)
    secs
  }

  /** Keys of changed files whose new content yields no triples: their
    * old triples must be deleted (what `mergeDeltaCanonical` does).
    */
  private def vacated(changed: Dataset[KgPipeline.RepoFile],
                      trip: DataFrame): DataFrame =
    changed.toDF().select(col("repo").as("src_repo"), col("path").as("src_path"))
      .distinct()
      .join(trip.select("src_repo", "src_path").distinct(), Build.BucketCols, "left_anti")

  /** The merged table equals a from-scratch build of the final files. */
  def verify(h: Harness, spark: SparkSession, t: Table): Unit = {
    val bad = TableIO.verifyCommits(spark, t.dir, Build.Buckets)
    h.op(h.check(bad.isEmpty, s"verifyCommits: buckets $bad disagree"))
    val r = KgPipeline.run(spark, ds(spark, t.finalFiles), KgMain.model)
    val want = r.triples.select(TripleCols.map(col): _*).distinct()
    val got = TableIO.readCommitted(spark, t.dir, Build.Buckets)
      .select(TripleCols.map(col): _*).distinct()
    val (w, g) = (want.count(), got.count())
    val onlyWant = want.except(got).count()
    val onlyGot = got.except(want).count()
    KgPipeline.release(spark, r, blocking = true)
    h.op(h.check(onlyWant == 0 && onlyGot == 0,
      s"merged table ($g rows) differs from a from-scratch build of the " +
        s"final files ($w rows): $onlyGot only merged, $onlyWant only rebuilt"))
  }

  /** The maintenance phase of the traced `build` run: bootstrap, a
    * warm-up batch, a traced and an untraced batch, and the
    * from-scratch comparison.
    */
  def phase(h: Harness, spark: SparkSession, dir: String): Unit = {
    val l = h.ledger.get
    val t = new Table(h, dir)
    bootstrap(h, spark, t)
    fused(h, spark, t)
    Seq(true, false).foreach { tr =>
      if (tr) h.sample("delta_traced_s", h.tracedOp(traced(h, spark, t)))
      else h.sample("delta_untraced_s", fused(h, spark, t))
      h.op(ok = true)
    }
    verify(h, spark, t)
    val n = h.samples("delta_traced_s").length
    Report.sparkLayer(h, l, "merge", n)
    Seq("delta.ner", "delta.link", "delta.canon", "delta.triples", "reconcile",
      "canon_state").foreach(x => Report.put(h, s"$x.wall_s", l.wallSeconds(x) / n))
    Report.put(h, "reconcile.task_s", l.task("reconcile").taskNs / 1e9 / n)
    Seq("merge.write_amp", "merge.buckets", "reconcile.buckets",
      "canon_state.bytes").foreach(Report.counter(h, _))
    Report.put(h, "delta_batch_s",
      Harness.median(h.samples("delta_untraced_s").toSeq))
  }
}
