package graft.pipeline

import graft.io.{Json, TableIO}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The end-to-end curation recipe a 100-TB training-data pipeline runs
  * FIRST, composed from the library's own operators (each individually
  * oracled or gated on its own):
  *
  *   0. PII scrub (optional) — [[Scrub.redactCol]] applied scan-side
  *                             before any dedup (`redactPii = true`),
  *                             so texts identical AFTER redaction
  *                             collapse together; touched-doc tally in
  *                             the report costs no extra scan
  *   1. exact dedup          — content-hash groupBy, keep the min-id
  *                             exemplar per identical text (q16's shape)
  *   2. boilerplate drop     — substring-level dedup at document
  *                             granularity: drop docs whose share of
  *                             duplicated 20-token spans reaches 0.8
  *                             ([[TextDedup.boilerplateShare]],
  *                             the doc-level action of q51/q52)
  *   2c. quality classifier (optional) — trained model-based filter:
  *                             drop docs scoring under 0.5
  *                             ([[Classifier.scoreDocs]], q75's kernel);
  *                             zero-shuffle scan-side scoring, BEFORE
  *                             the expensive near-dup stages so they
  *                             pair fewer docs; checkpoint id 8, model
  *                             fingerprint in the lineage
  *   2d. LM perplexity filter (optional) — the CCNet-style generative
  *                             complement: drop docs whose stupid-
  *                             backoff bigram perplexity exceeds 1e6
  *                             ([[Ngram.scoreDocs]], q77's
  *                             operator); docs with no bigram positions
  *                             (single-token) carry no evidence and
  *                             pass, like no-vector docs in stage 4;
  *                             checkpoint id 9
  *   3. MinHash near-dup     — banded MinHash-LSH pairs at Jaccard ≥ 0.5
  *                             ([[TextDedup.minhashPairs]], q44), greedy
  *                             exemplar-keep (drop the max-id side)
  *   4. embedding near-dup   — sign-LSH cosine pairs over the embedding
  *                             column ([[Ann.lshCosinePairs]], q53),
  *                             same greedy policy; `semanticKeep = true`
  *                             switches to SemDeDup ([[Ann.semDedup]],
  *                             q72): kmeans cells, transitive groups,
  *                             keep the least-centroid-similar member
  *   5. hot-key detection    — CMS heavy hitters over the write key
  *                             ([[Sketches.heavyHitters]], q54) at a
  *                             1/16 share; the report's `salts` is only
  *                             an estimate of the hot-key fan-out,
  *                             derived from them
  *   6. resumable write      — [[TableIO.writeResumable]] into 16
  *                             buckets (adaptive rebalance, which splits
  *                             a hot bucket by itself, + the
  *                             manifest/resume contract)
  *
  * NULL-text rows are set aside BEFORE stage 1 and counted in the
  * report: `md5(NULL)` is NULL, so the exact-dedup groupBy would
  * otherwise collapse every NULL-text doc into one group and silently
  * drop all but one as "identical" even though NULL texts are not equal
  * to each other (ADVICE r5). They are junk to a text-curation pipeline
  * either way — excluded from the output, visible in `nNullText`.
  *
  * Greedy exemplar-keep (steps 3–4) drops every document that is the
  * LARGER id of any near-dup pair. On a chain a–b, b–c this also drops
  * c even though (a, c) may not be near-dups — deliberately the
  * conservative direction for training data: it can only remove extra
  * near-boilerplate, never let a duplicate through, and it needs no
  * connected-components pass over the pair graph. Mass-duplicate
  * CLUSTERS never reach pair enumeration at all: identical texts
  * collapse in step 1 and degenerate LSH buckets are capped inside the
  * pair operators themselves.
  *
  * `clusterKeep = true` switches step 3 to the principled alternative,
  * [[TextDedup.dupClusters]]: near-dup pairs are closed into clusters
  * (connected components) and the BEST exemplar of each cluster — most
  * tokens, min-id tie-break — is kept, instead of whichever chain
  * member happened never to be a pair's larger id. Costs the CC
  * fixpoint over dup-involved docs; keeps at most as many docs as
  * greedy (gated in CurateSpec) and picks them by content, not id
  * order. The stage-checkpoint lineage records the policy, so a
  * checkpoint written under one policy refuses to restore into a run
  * using the other.
  *
  * Stage boundaries at real scale: with `stageDir` set, each stage's
  * surviving id-set is committed via [[TableIO.writeResumable]] as it
  * completes, and a re-run SKIPS every stage whose checkpoint is fully
  * committed — restoring its survivor frame as `input ⋉ ids` (one scan
  * of the input + a small id table) instead of re-executing the dedup
  * chain. A failure in stage 4 of a 100-TB run therefore re-runs stage
  * 4, not stages 1–3. The checkpoint lineage carries the input row
  * count, so resuming against a DIFFERENT-sized input fails fast
  * (same-size different content is the caller's contract to keep, the
  * same trust writeResumable itself places in its caller). Without
  * `stageDir` the recipe is single-shot: only the final write resumes.
  *
  * Within one run, the composition holds a ROLLING persist: each
  * stage's survivor frame is cached until the next stage's count has
  * materialized, then released — so every source scan and dedup shuffle
  * executes once, instead of stage N's count re-running stages 1..N-1
  * (quadratic full scans at 100 TB). At most two stage frames are
  * pinned at a time (MEMORY_AND_DISK — spills rather than OOMs when
  * executors are tight).
  */
object Curate {

  /** Buckets for the per-stage id-set checkpoints: the id tables are
    * narrow (one column), so they need write parallelism, not many
    * buckets.
    */
  val StageBuckets = 8

  /** Stage 2 drops docs whose duplicated-span share is at least this. */
  private val MaxDupSpanShare = 0.8
  /** Stage 2's span width in tokens. */
  private val SpanN = 20
  /** Stage 5: a key is hot when it holds ≥ 1/HotDenom of the rows. */
  private val HotDenom = 16L
  /** Buckets of the written table. */
  private val OutBuckets = 16
  /** Stage 2c drops docs scoring under this. */
  val MinQualityScore = 0.5
  /** Stage 2d drops docs whose perplexity exceeds this. */
  val MaxPpl = 1e6

  /** One curation run's accounting: row counts after each stage (the
    * numbers a data-quality report is built from), the NULL-text rows
    * set aside before stage 1, the detected hot keys (key rendered as
    * string, exact count), `salts` (only an estimate of the hot-key
    * fan-out: the writer's rebalance sizes itself), the rows
    * the write committed this run, and which stages were restored from
    * a `stageDir` checkpoint instead of computed.
    */
  final case class Report(nInput: Long, nNullText: Long, nRedacted: Long,
                          nAfterExact: Long, nAfterBoilerplate: Long,
                          nAfterQuality: Long, nAfterLmPpl: Long,
                          nAfterMinhash: Long, nAfterEmbedding: Long,
                          hotKeys: Seq[(String, Long)], salts: Int,
                          nWritten: Long, resumedStages: Seq[Int]) {
    /** The report line. `n_after_decontam`, `n_after_repetition` and
      * `n_after_mixture` name stages the recipe no longer has; they
      * stay in the format, carrying the previous stage's count, so
      * readers of earlier reports keep working.
      */
    def json: String = Json.render(Json.obj("n_input" -> nInput,
      "n_null_text" -> nNullText, "n_redacted" -> nRedacted,
      "n_after_exact" -> nAfterExact, "n_after_decontam" -> nAfterExact,
      "n_after_boilerplate" -> nAfterBoilerplate,
      "n_after_repetition" -> nAfterBoilerplate,
      "n_after_quality" -> nAfterQuality, "n_after_lm_ppl" -> nAfterLmPpl,
      "n_after_minhash" -> nAfterMinhash,
      "n_after_embedding" -> nAfterEmbedding,
      "n_after_mixture" -> nAfterEmbedding,
      "hot_keys" -> hotKeys.map { case (k, n) => Json.obj("key" -> k, "n" -> n) },
      "salts" -> salts, "n_written" -> nWritten,
      "resumed_stages" -> resumedStages))
  }

  /** Where [[run]] persists its report beside the table manifests. */
  def reportPath(outDir: String): String = s"$outDir/_curate_report.json"

  /** Run the full recipe over `docs` (and optionally `embeddings`,
    * joined on `docs(idCol) == embeddings(embIdCol)`), writing the
    * surviving rows — every original doc column — as a salted resumable
    * table under `outDir`, bucketed by `hotKeyCol`. The run's [[Report]]
    * is returned AND persisted at [[reportPath]] (atomic rename) — the
    * data-quality record a production run must keep outlives the
    * driver; on a resume re-run the file records that run (nWritten=0).
    *
    * @param minCos          embedding near-dup threshold (step 4)
    * @param stageDir        when set, per-stage survivor id-sets are
    *                        committed here and completed stages are
    *                        skipped on re-run (see scaladoc)
    * @param redactPii       scrub emails/IPs/phones from `textCol`
    *                        before stage 1 (stage 0 above); recorded in
    *                        the checkpoint lineage
    * @param lm              when set, the LM perplexity filter
    *                        ([[Ngram.scoreDocs]]) drops docs with
    *                        `ppl > MaxPpl` right after the classifier
    *                        stage (checkpoint id 9); train the LM on a
    *                        clean reference corpus and persist it with
    *                        [[Ngram.saveLm]]
    * @param qualityModel    when set, the trained quality classifier
    *                        ([[Classifier.scoreDocs]]) drops docs
    *                        scoring under `MinQualityScore` right
    *                        before the near-dup stages (checkpoint id
    *                        8); the model's weight fingerprint rides
    *                        the checkpoint lineage
    */
  def run(spark: SparkSession, docs: DataFrame, idCol: String,
          textCol: String, embeddings: Option[DataFrame],
          embIdCol: String, embCol: String, outDir: String,
          hotKeyCol: String, minCos: Double = 0.95,
          stageDir: Option[String] = None,
          clusterKeep: Boolean = false,
          semanticKeep: Boolean = false,
          redactPii: Boolean = false,
          qualityModel: Option[Classifier.FilterModel] = None,
          lm: Option[Ngram.Lm] = None): Report = {
    // one job: total rows + non-null texts (count(col) skips NULLs);
    // with the scrub enabled, the SAME pass also tallies how many docs
    // the redaction touches — no extra scan for the audit number
    val firstAggs = Seq(count(lit(1)), count(col(textCol))) ++
      (if (redactPii)
         Seq(sum(when(Scrub.redactCol(col(textCol)) =!= col(textCol), 1L)
           .otherwise(0L)))
       else Nil)
    val firstRow = docs.agg(firstAggs.head, firstAggs.tail: _*).head()
    val nInput = firstRow.getLong(0)
    val nNullText = nInput - firstRow.getLong(1)
    val nRedacted =
      if (redactPii && !firstRow.isNullAt(2)) firstRow.getLong(2) else 0L
    // stage 0 (optional): PII scrub BEFORE any dedup, so texts that are
    // identical after redaction collapse together in stage 1 — the
    // order a training pipeline wants (a scrubbed near-dup is still a
    // near-dup). Scan-side rewrite, no extra job: it fuses into stage
    // 1's scan.
    val input0 =
      if (nNullText == 0L) docs else docs.where(col(textCol).isNotNull)
    val input =
      if (redactPii) input0.withColumn(textCol, Scrub.redactCol(col(textCol)))
      else input0

    // rolling persist (see scaladoc): pin this stage's survivors, force
    // them with the stage count, and only then release the PREVIOUS
    // stage's pin — every downstream consumer (the next stage's filter
    // derivation AND its anti-join left side) reads the cache instead
    // of re-running the chain
    // every frame currently pinned — the outer finally releases
    // whatever is left, so a stage that THROWS (wrong embedding column,
    // a failed count) cannot strand its predecessors' pins for the
    // session's lifetime
    val pinned = scala.collection.mutable.ListBuffer.empty[DataFrame]
    def pinAndCount(df: DataFrame, prev: Option[DataFrame]): Long = {
      if (df.storageLevel == org.apache.spark.storage.StorageLevel.NONE) {
        df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        pinned += df
      }
      val n = df.count()
      // `prev` can BE `df` (no embedding table -> stage 4 is stage 3):
      // releasing it would drop the pin the final consumers rely on
      prev.filter(_ ne df).foreach { p =>
        p.unpersist()
        pinned.filterInPlace(_ ne p)
      }
      n
    }

    // stage checkpointing (see scaladoc): restore-or-compute one
    // stage's survivor frame. A fully-committed checkpoint restores as
    // input ⋉ ids; anything less (absent, or half-written by a crash)
    // recomputes — writeResumable then commits only the missing buckets.
    val resumed = scala.collection.mutable.ListBuffer.empty[Int]
    // Optional stages appear in the lineage ONLY when they are ON: a
    // checkpoint of scrubbed survivors must not restore into an
    // unscrubbed run (or vice versa — the id-sets differ; mismatch on
    // key presence), but a checkpoint written BEFORE an optional stage
    // existed stays restorable into a run that leaves it off (an
    // always-present "off" entry would invalidate every committed
    // checkpoint each time the recipe grows a knob). One-time cost of
    // adopting this scheme: checkpoints written by the earlier
    // always-present-entry code fail the guard LOUDLY and must be
    // recomputed once.
    val stageLineage = Map("recipe" -> "curate-stage",
      "n_input" -> nInput.toString,
      "minhash_policy" -> (if (clusterKeep) "cluster" else "greedy"),
      "embedding_policy" -> (if (semanticKeep) "semantic" else "greedy"),
      // the boilerplate thresholds are fixed; their entry stays so
      // that checkpoints written with it keep restoring
      "boilerplate" -> s"share=$MaxDupSpanShare,n=$SpanN") ++
      embeddings.map(_ => "neardup" -> s"min_cos=$minCos") ++
      (if (redactPii) Map("scrub" -> "on") else Map.empty) ++
      // the fingerprint covers the WEIGHTS: a checkpoint filtered by
      // one model must not restore into a run scoring with another
      qualityModel
        .map(m => "quality" -> s"min=$MinQualityScore,model=${m.fingerprint}") ++
      // the LM is a corpus-sized count table — the lineage carries its
      // parameters + token total, not a content hash
      lm.map(l => "lm" -> s"max_ppl=$MaxPpl,n_tokens=${l.nTokens}")
    def stage(i: Int, compute: => DataFrame,
              prev: Option[DataFrame]): (DataFrame, Long) = {
      val ckpt = stageDir.map(d => s"$d/stage$i")
      ckpt match {
        case Some(d)
            if TableIO.committedBuckets(d, StageBuckets).size == StageBuckets =>
          // the restore side needs the same lineage guard the write side
          // has: a checkpoint recorded for a different input must fail
          // fast, not silently restore foreign survivor ids
          (0 until StageBuckets).foreach { k =>
            val existing = TableIO.readLineage(d, k)
            require(existing == stageLineage,
              s"stage $i checkpoint lineage mismatch on bucket $k: " +
                s"committed=$existing, this run=$stageLineage — the " +
                s"checkpoint under $d was written for a different input; " +
                "point stageDir elsewhere or delete the stale checkpoint")
          }
          resumed += i
          val total = TableIO.readCommits(d, StageBuckets).map(_.rows).sum
          // readCommitted refuses an all-empty table (no schema to
          // invent) — an empty survivor set restores as an empty filter
          val restored =
            if (total == 0L) input.where(lit(false))
            else input.join(
              TableIO.readCommitted(spark, d, StageBuckets).select(idCol),
              Seq(idCol), "left_semi")
          (restored, pinAndCount(restored, prev))
        case _ =>
          val df = compute
          val n = pinAndCount(df, prev)
          ckpt.foreach { d =>
            TableIO.writeResumable(df.select(idCol), d, StageBuckets,
              Seq(idCol), lineage = stageLineage)
          }
          (df, n)
      }
    }

    try {
      // 1. exact dedup: min-id exemplar per 128-bit content hash (md5 —
      // an 8-byte hash collides at billions of docs; q16's convention).
      // The groupBy ships (hash, id) pairs with map-side combine; the
      // semi join restores the full doc row for exemplars only.
      val (afterExact, nAfterExact) = stage(1, {
        val keepExact = input
          .groupBy(md5(col(textCol)).as("h"))
          .agg(min(col(idCol)).as(idCol)).select(idCol)
        input.join(keepExact, Seq(idCol), "left_semi")
      }, None)

      // 2. boilerplate: doc-level substring-dedup action
      val (afterBoiler, nAfterBoiler) = stage(2, {
        val boiler =
          TextDedup.boilerplateShare(afterExact, idCol, textCol, SpanN)
            .where(col("dup_share") >= MaxDupSpanShare)
            .select(col("doc_id").as(idCol))
        afterExact.join(boiler, Seq(idCol), "left_anti")
      }, Some(afterExact))

      // 2c (checkpoint id 8, optional): trained quality-classifier
      // filter — zero-shuffle scoring (q75's kernel), threshold drop
      // BEFORE the near-dup stages so they pair fewer docs
      val (afterQual, nAfterQual) = qualityModel match {
        case Some(m) =>
          stage(8, {
            val keep = Classifier.scoreDocs(afterBoiler, idCol, textCol, m)
              .where(col("score") >= MinQualityScore)
              .select(col("doc_id").as(idCol))
            afterBoiler.join(keep, Seq(idCol), "left_semi")
          }, Some(afterBoiler))
        case None => (afterBoiler, nAfterBoiler)
      }

      // 2d (checkpoint id 9, optional): LM perplexity ceiling — drop
      // docs the reference-corpus LM finds unlikely (high ppl); docs
      // with no bigram positions are absent from the score frame and
      // pass (no evidence)
      val (afterLm, nAfterLm) = lm match {
        case Some(model) =>
          stage(9, {
            val tooPerplexed = Ngram
              .scoreDocs(afterQual, idCol, textCol, model)
              .where(col("ppl") > MaxPpl)
              .select(col("doc_id").as(idCol))
            afterQual.join(tooPerplexed, Seq(idCol), "left_anti")
          }, Some(afterQual))
        case None => (afterQual, nAfterQual)
      }

      // 3. MinHash near-dup pairs -> greedy exemplar-keep, or (with
      // clusterKeep) CC dup clusters -> canonical-exemplar keep
      val (afterMinhash, nAfterMinhash) = stage(3, {
        if (clusterKeep) {
          val keep = TextDedup.dupClusters(afterLm, idCol, textCol)
            .where(col("is_canonical") === 1)
            .select(col("doc_id").as(idCol))
          afterLm.join(keep, Seq(idCol), "left_semi")
        } else {
          val mhDrop = TextDedup.minhashPairs(afterLm, idCol, textCol)
            .select(col("d2").as(idCol)).distinct()
          afterLm.join(mhDrop, Seq(idCol), "left_anti")
        }
      }, Some(afterLm))

      // 4. embedding near-dup (when an embedding table exists): restrict
      // vectors to the SURVIVORS first — pairs among already-dropped
      // docs are wasted candidate work. Policy: greedy drop-d2 over
      // sign-LSH pairs (default), or (semanticKeep) SemDeDup — kmeans
      // cells, transitive groups, keep the least-centroid-similar
      // member (Ann.semDedup, q72)
      // final pin serves three consumers: the count, the hot-key scan,
      // and the salted write
      val (afterEmb, nAfterEmbedding) = stage(4, {
        embeddings match {
          case Some(emb) =>
            val vecs = emb
              .select(col(embIdCol).as(idCol), col(embCol).as("embedding"))
              .join(afterMinhash.select(idCol), Seq(idCol), "left_semi")
            if (semanticKeep) {
              val keep = Ann.semDedup(vecs, idCol, "embedding", minCos)
                .where(col("is_kept") === 1)
                .select(col("vec_id").as(idCol))
              // docs WITHOUT an embedding row have no semantic evidence
              // and are kept, same as the greedy path (they can't
              // appear in any pair there either)
              val noVec = afterMinhash
                .join(vecs.select(idCol), Seq(idCol), "left_anti")
                .select(col(idCol))
              afterMinhash.join(keep.union(noVec), Seq(idCol), "left_semi")
            } else {
              val drop = Ann.lshCosinePairs(vecs, idCol, "embedding", minCos)
                .select(col("d2").as(idCol)).distinct()
              afterMinhash.join(drop, Seq(idCol), "left_anti")
            }
          case None => afterMinhash
        }
      }, Some(afterMinhash))

      // 5. hot keys over the WRITE key. The reported salt count
      // estimates how many tasks the hottest key's rows need so that no
      // task holds more than ~1/parallelism of the data; the writer's
      // adaptive rebalance splits a hot bucket without it.
      val hot = Sketches.heavyHitters(afterEmb, hotKeyCol, HotDenom)
        .collect()
        .map(r => (String.valueOf(r.get(0)), r.getLong(1)))
        .sortBy(-_._2).toSeq
      val par = spark.sparkContext.defaultParallelism
      val maxShare =
        if (hot.isEmpty || nAfterEmbedding == 0) 0.0
        else hot.head._2.toDouble / nAfterEmbedding
      val salts = math.min(64, math.max(8, math.ceil(maxShare * par).toInt))

      // 6. resumable write, bucketed by the hot-key column
      val commits = TableIO.writeResumable(afterEmb, outDir, OutBuckets,
        Seq(hotKeyCol), lineage = Map("recipe" -> "curate"))
      val report = Report(nInput, nNullText, nRedacted, nAfterExact,
        nAfterBoiler, nAfterQual, nAfterLm, nAfterMinhash, nAfterEmbedding,
        hot, salts, commits.map(_.rows).sum, resumed.toSeq)
      // the report outlives the driver, beside the manifests it explains
      TableIO.atomicWrite(reportPath(outDir), report.json,
        spark.sessionState.newHadoopConf())
      report
    } finally pinned.foreach(_.unpersist())
  }
}
