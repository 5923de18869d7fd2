package graft.pipeline

import graft.io.TableIO
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Integration gate on the end-to-end curation recipe (Curate.run —
  * VERDICT r4 #6): the individually-gated operators must COMPOSE —
  * monotone survivor counts, independent parity on the exact stage,
  * brute-force parity on the hot-key stage, and a committed table that
  * reads back with exactly the surviving rows.
  */
class CurateSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  val dir = "/root/testdata/sf0.001"
  def available: Boolean =
    new java.io.File(s"$dir/documents.parquet").exists() &&
      new java.io.File(s"$dir/embeddings.parquet").exists()

  test("curate recipe: stage counts, exact-stage parity, committed output") {
    assume(available)
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val emb = Some(spark.read.parquet(s"$dir/embeddings.parquet"))
    val out = java.nio.file.Files.createTempDirectory("graft_curate")
      .toString + "/curated"
    // minCos 0.4: the uniform-random testdata holds ~66 true pairs at
    // this threshold (the q53 setting); the production default 0.95
    // would leave stage 4 vacuous on this fixture
    val pinsBefore = spark.sparkContext.getRDDStorageInfo.map(_.id).toSet
    val r = Curate.run(spark, docs, "doc_id", "text", emb, "vec_id",
      "embedding", out, hotKeyCol = "source", minCos = 0.4)
    // the rolling persist must release every stage pin it took — a
    // leaked pin per run would accumulate across a long-lived session.
    // unpersist is async; poll briefly before declaring a leak.
    def leakedNow = spark.sparkContext.getRDDStorageInfo.map(_.id).toSet --
      pinsBefore
    val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
    while (leakedNow.nonEmpty && System.nanoTime() < deadline)
      Thread.sleep(200)
    assert(leakedNow.isEmpty, s"curate leaked storage pins: $leakedNow")

    assert(r.nInput == docs.count())
    assert(r.nInput >= r.nAfterExact &&
      r.nAfterExact >= r.nAfterBoilerplate &&
      r.nAfterBoilerplate >= r.nAfterMinhash &&
      r.nAfterMinhash >= r.nAfterEmbedding,
      s"survivor counts must be monotone: $r")

    // stage 1 parity, independently recomputed: exact dedup keeps one
    // doc per distinct text
    val nDistinctTexts = docs.select(md5(col("text"))).distinct().count()
    assert(r.nAfterExact == nDistinctTexts,
      s"exact stage kept ${r.nAfterExact}, distinct texts $nDistinctTexts")

    // stage 4 must have acted on this fixture (see minCos note above)
    assert(r.nAfterEmbedding < r.nAfterMinhash,
      "embedding near-dup stage was vacuous at minCos 0.4")

    // the committed table reads back with exactly the survivors, ids
    // unique (dedup output, by definition)
    assert(r.nWritten == r.nAfterEmbedding, s"written ${r.nWritten}")
    val back = TableIO.readCommitted(spark, out, buckets = 16)
    assert(back.count() == r.nAfterEmbedding)
    assert(back.select("doc_id").distinct().count() == r.nAfterEmbedding,
      "curated table contains duplicate doc ids")

    // hot-key stage parity: brute-force groupBy-having over the same
    // survivors at the same 1/16 share threshold
    val want = back.groupBy(col("source")).agg(count(lit(1)).as("n"))
      .where(col("n") * 16 >= lit(r.nAfterEmbedding))
      .collect().map(row => (row.getString(0), row.getLong(1))).toSet
    assert(r.hotKeys.toSet == want,
      s"hot keys ${r.hotKeys} != brute force $want")
    assert(r.salts >= 8, s"salt fan-out must respect the floor: ${r.salts}")

    // the report serializes to one well-formed JSON line for the CLI
    assert(r.json.startsWith("{") && r.json.endsWith("}") &&
      r.json.contains("\"n_written\":"), r.json)
    // the testdata has no NULL texts and no stageDir was passed
    assert(r.nNullText == 0 && r.resumedStages.isEmpty, r.json)
    // the report is persisted beside the manifests, byte-equal to the
    // returned one (the durable data-quality record)
    def reportOnDisk = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(Curate.reportPath(out))), "UTF-8")
    assert(reportOnDisk == r.json, "persisted report differs from returned")

    // a SECOND run over the same outDir is a resume no-op: every bucket
    // is committed, nothing rewrites (the writeResumable contract holds
    // through the recipe)
    val r2 = Curate.run(spark, docs, "doc_id", "text", emb, "vec_id",
      "embedding", out, hotKeyCol = "source", minCos = 0.4)
    assert(r2.nWritten == 0, s"resume rewrote ${r2.nWritten} rows")
    assert(r2.nAfterEmbedding == r.nAfterEmbedding, "recipe is not deterministic")
    // the persisted report records THIS run (nWritten=0), not the first
    assert(reportOnDisk == r2.json, "resume run must refresh the report")
  }

  test("curate stage checkpoints: completed stages skip on re-run") {
    assume(available)
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val emb = Some(spark.read.parquet(s"$dir/embeddings.parquet"))
    val base = java.nio.file.Files.createTempDirectory("graft_curate_ck")
      .toString
    val sd = s"$base/stages"
    def runTo(out: String) = Curate.run(spark, docs, "doc_id", "text",
      emb, "vec_id", "embedding", out, hotKeyCol = "source", minCos = 0.4,
      stageDir = Some(sd))
    val r1 = runTo(s"$base/out1")
    assert(r1.resumedStages.isEmpty, s"first run resumed: ${r1.resumedStages}")
    val rows1 = TableIO.readCommitted(spark, s"$base/out1", 16)
      .collect().map(_.toString).sorted.toSeq

    // all four checkpoints committed -> a re-run to a FRESH output
    // skips every dedup stage and writes byte-identical rows
    val r2 = runTo(s"$base/out2")
    assert(r2.resumedStages == Seq(1, 2, 3, 4), s"${r2.resumedStages}")
    assert((r2.nAfterExact, r2.nAfterBoilerplate, r2.nAfterMinhash,
      r2.nAfterEmbedding) == ((r1.nAfterExact, r1.nAfterBoilerplate,
      r1.nAfterMinhash, r1.nAfterEmbedding)), s"$r2 vs $r1")
    val rows2 = TableIO.readCommitted(spark, s"$base/out2", 16)
      .collect().map(_.toString).sorted.toSeq
    assert(rows2 == rows1, "resumed-stage run wrote different rows")

    // kill-after-stage-3 simulation: stage 4's checkpoint gone, 1-3
    // intact -> re-run restores 1-3 from disk and recomputes only 4
    val s4 = java.nio.file.Paths.get(sd, "stage4")
    org.apache.commons.io.FileUtils.deleteDirectory(s4.toFile)
    val r3 = runTo(s"$base/out3")
    assert(r3.resumedStages == Seq(1, 2, 3), s"${r3.resumedStages}")
    assert(r3.nAfterEmbedding == r1.nAfterEmbedding, s"$r3 vs $r1")
    val rows3 = TableIO.readCommitted(spark, s"$base/out3", 16)
      .collect().map(_.toString).sorted.toSeq
    assert(rows3 == rows1, "stage-4 recompute wrote different rows")

    // a DIFFERENT-sized input against the same stageDir fails fast on
    // the checkpoint lineage instead of silently restoring foreign ids
    val ex = intercept[IllegalArgumentException] {
      Curate.run(spark, docs.limit(100), "doc_id", "text", emb, "vec_id",
        "embedding", s"$base/out4", hotKeyCol = "source", minCos = 0.4,
        stageDir = Some(sd))
    }
    assert(ex.getMessage.contains("lineage"), ex.getMessage)
  }

  test("curate clusterKeep: stage 3 keeps exactly each cluster's canonical doc") {
    assume(available)
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val base = java.nio.file.Files.createTempDirectory("graft_curate_cl")
      .toString
    // no embeddings: stage 4 is stage 3, so the written table IS the
    // cluster-keep survivor set
    val rCluster = Curate.run(spark, docs, "doc_id", "text", None,
      "vec_id", "embedding", s"$base/cl", hotKeyCol = "source",
      clusterKeep = true)
    val rGreedy = Curate.run(spark, docs, "doc_id", "text", None,
      "vec_id", "embedding", s"$base/gr", hotKeyCol = "source")
    // cluster-keep retains ONE doc per connected cluster; greedy keeps
    // every doc that is never a pair's larger id — at least one per
    // cluster, possibly more (a star a–c, b–c keeps both a and b)
    assert(rCluster.nAfterMinhash <= rGreedy.nAfterMinhash,
      s"cluster ${rCluster.nAfterMinhash} > greedy ${rGreedy.nAfterMinhash}")
    // wiring parity: the written survivors equal an independent
    // stage-1/2 recompute followed by dupClusters' canonical picks
    val keepExact = docs.groupBy(md5(col("text")).as("h"))
      .agg(min(col("doc_id")).as("doc_id")).select("doc_id")
    val afterExact = docs.join(keepExact, Seq("doc_id"), "left_semi")
    val boiler = TextDedup.boilerplateShare(afterExact, "doc_id", "text", 20)
      .where(col("dup_share") >= 0.8).select("doc_id")
    val afterBoiler = afterExact.join(boiler, Seq("doc_id"), "left_anti")
    val wantKeep = TextDedup.dupClusters(afterBoiler, "doc_id", "text")
      .where(col("is_canonical") === 1)
      .collect().map(_.getLong(0)).toSet
    val got = TableIO.readCommitted(spark, s"$base/cl", 16)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(got == wantKeep,
      s"missing=${wantKeep -- got} extra=${got -- wantKeep}")
    assert(wantKeep.size < afterBoiler.count(),
      "gate is vacuous: no near-dup cluster collapsed at this SF")
  }

  test("curate semanticKeep: stage 4 keeps exactly SemDeDup's keepers; lineage guards the policy") {
    assume(available)
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val emb = Some(spark.read.parquet(s"$dir/embeddings.parquet"))
    val base = java.nio.file.Files.createTempDirectory("graft_curate_sem")
      .toString
    val out = s"$base/out"
    val r = Curate.run(spark, docs, "doc_id", "text", emb, "vec_id",
      "embedding", out, hotKeyCol = "source", minCos = 0.4,
      stageDir = Some(s"$base/stages"), semanticKeep = true)
    assert(r.nAfterEmbedding < r.nAfterMinhash,
      "semantic stage was vacuous at minCos 0.4 (see q53 fixture note)")
    // wiring parity: stage 4's checkpoint must equal an INDEPENDENT
    // Ann.semDedup over stage 3's committed survivors (plus the docs
    // that have no embedding row — no semantic evidence keeps them)
    val stage3 = TableIO.readCommitted(spark, s"$base/stages/stage3",
      Curate.StageBuckets).select("doc_id")
    val vecs = emb.get
      .select(col("vec_id").as("doc_id"), col("embedding"))
      .join(stage3, Seq("doc_id"), "left_semi")
    val keepers = Ann.semDedup(vecs, "doc_id", "embedding", 0.4)
      .where(col("is_kept") === 1)
      .collect().map(_.getLong(0)).toSet
    val noVec = stage3
      .join(vecs.select("doc_id"), Seq("doc_id"), "left_anti")
      .collect().map(_.getLong(0)).toSet
    val want = keepers ++ noVec
    val got = TableIO.readCommitted(spark, out, 16)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(got == want, s"missing=${(want -- got).take(5)} " +
      s"extra=${(got -- want).take(5)}")
    // a checkpoint written under the semantic policy must refuse to
    // restore into a greedy run
    val ex = intercept[IllegalArgumentException] {
      Curate.run(spark, docs, "doc_id", "text", emb, "vec_id",
        "embedding", out, hotKeyCol = "source", minCos = 0.4,
        stageDir = Some(s"$base/stages"), semanticKeep = false)
    }
    assert(ex.getMessage.contains("lineage"),
      s"wrong failure: ${ex.getMessage.take(120)}")
  }

  test("curate quality stage: parity with independent scoreDocs, fingerprint-guarded") {
    assume(new java.io.File(s"$dir/documents.parquet").exists())
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val base = java.nio.file.Files.createTempDirectory("graft_curate_q")
      .toString
    val out = s"$base/out"
    // the q75 fixed weights: symmetric around zero, so scores straddle
    // the 0.5 threshold and the stage genuinely acts on this corpus
    val model = Classifier.FilterModel(256,
      Array.tabulate(256)(b => (2.0 * b - 255.0) / 512.0), bias = 0.0)
    val r = Curate.run(spark, docs, "doc_id", "text", None, "vec_id",
      "embedding", out, hotKeyCol = "source",
      stageDir = Some(s"$base/stages"),
      qualityModel = Some(model))
    assert(r.nAfterQuality < r.nAfterBoilerplate,
      s"quality stage was vacuous: $r")
    assert(r.nWritten == r.nAfterEmbedding)
    // stage-8 checkpoint must equal an INDEPENDENT scoreDocs threshold
    // over stage 2's committed survivors (stage 8's input is stage 2's
    // output)
    val stage2 = TableIO.readCommitted(spark, s"$base/stages/stage2",
      Curate.StageBuckets).select("doc_id")
    val pre = docs.join(stage2, Seq("doc_id"), "left_semi")
    val want = Classifier.scoreDocs(pre, "doc_id", "text", model)
      .where(col("score") >= Curate.MinQualityScore)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val got = TableIO.readCommitted(spark, s"$base/stages/stage8",
      Curate.StageBuckets).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(got == want, s"missing=${(want -- got).take(5)} " +
      s"extra=${(got -- want).take(5)}")
    // a checkpoint filtered by one model must refuse a different model
    // (the fingerprint covers the weights/bias, not just the threshold)
    val ex = intercept[IllegalArgumentException] {
      Curate.run(spark, docs, "doc_id", "text", None, "vec_id",
        "embedding", out, hotKeyCol = "source",
        stageDir = Some(s"$base/stages"),
        qualityModel = Some(model.copy(bias = 0.1)))
    }
    assert(ex.getMessage.contains("lineage"),
      s"wrong failure: ${ex.getMessage.take(120)}")
  }

  test("curate LM-perplexity stage: parity with independent scoreDocs, lineage-guarded") {
    assume(new java.io.File(s"$dir/documents.parquet").exists())
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val base = java.nio.file.Files.createTempDirectory("graft_curate_lm")
      .toString
    // LM trained on a 4% slice, so the rest of the corpus is full of
    // bigrams it never saw (the corpus vocabulary is tiny: a third of
    // it would see nearly every bigram). Its token total is scaled up
    // 1e11-fold, as if the counts came from a far larger reference
    // corpus: unseen-bigram positions score α·c(w2)/N, which lifts
    // about two fifths of the docs over the stage's fixed ceiling
    val ceiling = Curate.MaxPpl
    val small = Ngram.train(docs.where(col("doc_id") % 25 === 0), "text")
    val lm = small.copy(nTokens = small.nTokens * 100000000000L)
    val r = Curate.run(spark, docs, "doc_id", "text", None, "vec_id",
      "embedding", s"$base/out", hotKeyCol = "source",
      stageDir = Some(s"$base/stages"), lm = Some(lm))
    assert(r.nAfterLmPpl < r.nAfterQuality, s"LM stage was vacuous: $r")
    // stage-9 checkpoint == independent threshold over stage 2's
    // committed survivors (classifier off -> stage 9's input is
    // stage 2's output); no-bigram docs pass by contract
    val stage2 = TableIO.readCommitted(spark, s"$base/stages/stage2",
      Curate.StageBuckets).select("doc_id")
    val pre = docs.join(stage2, Seq("doc_id"), "left_semi")
    val dropped = Ngram.scoreDocs(pre, "doc_id", "text", lm)
      .where(col("ppl") > ceiling)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val want = pre.select("doc_id").collect().map(_.getLong(0)).toSet -- dropped
    val got = TableIO.readCommitted(spark, s"$base/stages/stage9",
      Curate.StageBuckets).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(got == want, s"missing=${(want -- got).take(5)} " +
      s"extra=${(got -- want).take(5)}")
    // a checkpoint filtered under one LM refuses another
    val ex = intercept[IllegalArgumentException] {
      Curate.run(spark, docs, "doc_id", "text", None, "vec_id",
        "embedding", s"$base/out", hotKeyCol = "source",
        stageDir = Some(s"$base/stages"),
        lm = Some(lm.copy(nTokens = lm.nTokens * 2)))
    }
    assert(ex.getMessage.contains("lineage"),
      s"wrong failure: ${ex.getMessage.take(120)}")
  }

  test("curate sets NULL-text docs aside instead of deduping them") {
    import spark.implicits._
    val toks = (i: Int) => (i until i + 25).map(j => s"w$j").mkString(" ")
    val df = Seq(
      (1L, toks(0), "a"), (2L, toks(0), "a"), // exact dups
      (3L, toks(100), "b"),
      (4L, null.asInstanceOf[String], "a"),   // NULL texts: md5(NULL) is
      (5L, null.asInstanceOf[String], "b")    // NULL — must not collapse
    ).toDF("doc_id", "text", "source")
    val out = java.nio.file.Files.createTempDirectory("graft_curate_null")
      .toString + "/t"
    val r = Curate.run(spark, df, "doc_id", "text", None, "vec_id",
      "embedding", out, hotKeyCol = "source")
    assert(r.nInput == 5 && r.nNullText == 2, r.json)
    // 2 distinct non-null texts survive; the NULL rows are excluded,
    // not silently collapsed into one "duplicate" group
    assert(r.nAfterExact == 2 && r.nWritten == 2, r.json)
    val back = TableIO.readCommitted(spark, out, 16)
    assert(back.where(col("text").isNull).count() == 0)
    assert(back.select("doc_id").collect().map(_.getLong(0)).toSet ==
      Set(1L, 3L))
  }

  test("curate redact stage: scrubbed output, tally, lineage guard") {
    import spark.implicits._
    val toks = (i: Int) => (i until i + 25).map(j => s"w$j").mkString(" ")
    val df = Seq(
      // 1 and 2 differ ONLY in their PII: scrubbing must collapse them
      // into one exact-dup group
      (1L, toks(0) + " mail a@b.io now", "a"),
      (2L, toks(0) + " mail c@d.io now", "a"),
      (3L, toks(100) + " from 10.0.0.1 port", "b"),
      (4L, toks(200), "b") // clean
    ).toDF("doc_id", "text", "source")
    val base = java.nio.file.Files.createTempDirectory("graft_curate_pii")
      .toString
    val r = Curate.run(spark, df, "doc_id", "text", None, "vec_id",
      "embedding", s"$base/t", hotKeyCol = "source",
      stageDir = Some(s"$base/stages"), redactPii = true)
    assert(r.nRedacted == 3, r.json)
    // docs 1+2 became identical after the scrub -> 3 exact survivors
    assert(r.nAfterExact == 3 && r.nWritten == 3, r.json)
    val back = TableIO.readCommitted(spark, s"$base/t", 16)
      .select("doc_id", "text").collect()
      .map(row => row.getLong(0) -> row.getString(1)).toMap
    assert(back.keySet == Set(1L, 3L, 4L))
    assert(back(1L).endsWith(" mail <EMAIL> now"), back(1L))
    assert(back(3L).contains(" from <IP> port"), back(3L))
    assert(back(4L) == toks(200))
    // a checkpoint written by a scrubbed run must refuse to restore
    // into an unscrubbed one — the survivor id-sets differ
    val e = intercept[IllegalArgumentException] {
      Curate.run(spark, df, "doc_id", "text", None, "vec_id",
        "embedding", s"$base/t2", hotKeyCol = "source",
        stageDir = Some(s"$base/stages"), redactPii = false)
    }
    assert(e.getMessage.contains("lineage mismatch"), e.getMessage)
  }

  test("boilerplate share: template docs flagged, unique docs at zero") {
    import spark.implicits._
    val template = (1 to 30).map(i => s"tok$i").mkString(" ")
    val df = Seq(
      (1L, template), // pure boilerplate: identical 30-token template
      (2L, template),
      (3L, (100 to 140).map(i => s"uniq$i").mkString(" ")) // all-unique
    ).toDF("doc_id", "text")
    val got = TextDedup.boilerplateShare(df, "doc_id", "text", n = 20)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    // 30 tokens -> 11 spans of 20, all duplicated across docs 1 and 2
    assert(got(1L) == ((11L, 11L, 1.0)), s"doc 1: ${got(1L)}")
    assert(got(2L) == ((11L, 11L, 1.0)), s"doc 2: ${got(2L)}")
    val (s3, d3, share3) = got(3L)
    assert(s3 == 22L && d3 == 0L && share3 == 0.0, s"doc 3: ${got(3L)}")
  }
}
