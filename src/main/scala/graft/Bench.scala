package graft

import org.apache.spark.sql.SparkSession
import graft.pipeline.KgPipeline
import java.nio.file.{Files, Paths}

/** Benchmark main (driver contract): times every `SparkEntry.queries`
  * entry on SPARK_GRAFT_SF_DIR at local[SPARK_GRAFT_CPUS], runs the
  * flagship KG pipeline at two parallelism levels (N and 4N threads —
  * the sandbox substitute for N vs 4N executors, BASELINE.md protocol),
  * prints ONE JSON line, and writes BENCH/LAST_RUN.md (BENCH/BASELINE.md
  * only when SPARK_GRAFT_WRITE_BASELINE=1 — smoke runs must never
  * clobber the committed baseline).
  */
object Bench {

  /** Timing action: a noop-sink write consumes EVERY output column, so
    * projections, windows, and hash computations stay in the timed plan.
    * Round 2 timed `.count()`, which let ColumnPruning drop unevaluated
    * projections — q12's sha256, q09's window, the regex/quality
    * expressions — and those queries timed a pruned scan instead of the
    * computation they exist to benchmark.
    */
  private def force(df: org.apache.spark.sql.DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  private def newSession(cpus: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"graft-bench-$cpus")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Flagship pipeline throughput at a given thread count: synth ->
    * detect -> link -> canonicalize -> triples -> noop write + count
    * (forces the full DAG including the final triple projection).
    * Returns (triples, seconds).
    */
  private def kgRun(cpus: Int, nFiles: Long): (Long, Double) = {
    val spark = newSession(cpus)
    val t0 = System.nanoTime()
    val files = KgPipeline.synthInput(spark, nFiles, partitions = cpus * 2)
    val triples = KgPipeline.run(spark, files, KgMain.model).triples
    // count AND a noop write of the full rows in one cached pass: count
    // alone would let the final triple-string projection be pruned
    triples.cache()
    force(triples)
    val n = triples.count()
    triples.unpersist()
    val secs = (System.nanoTime() - t0) / 1e9
    spark.stop()
    (n, secs)
  }

  def main(args: Array[String]): Unit = {
    // metric lines are machine-parsed JSON: a de_DE-style default locale
    // would render %.3f with decimal COMMAS and corrupt them
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8").toInt
    // sized so the timed region dominates fixed per-run costs (driver
    // jobs, scheduling, KB broadcast): after the round-2 depth-0 linker
    // change each file yields ~half the triples, so the sf0.1 default
    // grew from 100k to 250k files to keep the serial share < ~5%
    val kgFiles = sys.env.get("SPARK_GRAFT_KG_FILES").map(_.toLong)
      .getOrElse(if (sfDir.contains("sf0.1")) 250000L else 2000L)

    // force model training BEFORE any timing (shared by both levels)
    KgMain.model

    // ---- query surface timings at local[cpus] ----
    val skipQueries = sys.env.contains("SPARK_GRAFT_SKIP_QUERIES")
    // (best-of-per-query results, total per trial) — the per-trial
    // totals are the measured variance band the committed baseline
    // carries (this host swings memory-heavy runs up to 4x; a
    // single-trial surface total is uninterpretable against it)
    val (results, trialTotals) =
      if (skipQueries) (Seq.empty[(String, Double)], Seq.empty[Double])
      else {
        val spark = newSession(cpus)
        // untimed warmup: session/JIT/codegen startup otherwise lands
        // entirely on the alphabetically-first query (r1 verdict: q01 at
        // 4.3s was really warmup); run the first query once untimed.
        // Also pre-build q50's bucketed tables — that is ingest-time
        // setup, and timing it would make q50 measure write throughput
        // instead of the shuffle-free join it exists to benchmark.
        SparkEntry.queries.toSeq.sortBy(_._1).headOption.foreach {
          case (_, fn) =>
            try force(fn(spark, sfDir)) catch { case _: Throwable => () }
        }
        // a FAILED bucketed-table build must abort the bench: swallowing
        // it would let the timed q50 silently rebuild the tables inside
        // its measurement window (ingest time masquerading as join time)
        graft.queries.RelationalQueries.ensureBucketedTables(spark, sfDir)
        // likewise pre-materialize the q47/q48 media payloads: payload
        // SYNTHESIS (incl. ImageIO.write) is ingest-time work — timing
        // it would make "media decode" measure ~2x the codec cost a
        // production decode pipeline pays
        graft.queries.PipelineQueries.ensureMediaPayloads(spark, sfDir)
        // interleaved best-of-k over the whole surface (VERDICT r4 #4):
        // per query keep the fastest trial; per trial keep the total as
        // the variance evidence. The memoized q40-q43 pipeline is
        // RELEASED between trials — without that, trial 2's q40 would
        // time a cache read instead of the NER compute it is named for.
        // default 3 = the protocol the committed baseline was measured
        // under; a weaker default would make faithful reruns read as
        // regressions on this 4x-swing host
        val qTrials = sys.env.getOrElse("SPARK_GRAFT_QUERY_TRIALS", "3").toInt
        require(qTrials >= 1,
          s"SPARK_GRAFT_QUERY_TRIALS=$qTrials: at least one trial is " +
            "needed — zero would report every query as failed with a " +
            "0.000 total instead of measuring anything")
        // optional name-prefix filter (comma-separated) for measuring a
        // new query subset under the committed protocol — the q78
        // footnote-row convention; the driver never sets it, so full
        // rounds always time the whole surface
        val only = sys.env.get("SPARK_GRAFT_ONLY")
          .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSeq)
        val names = SparkEntry.queries.toSeq.sortBy(_._1)
          .filter { case (n, _) =>
            only.forall(_.exists(p => n.startsWith(p))) }
        // an empty or typo'd filter (SPARK_GRAFT_ONLY="" / "q38" for
        // q83) would otherwise time zero queries and report a run that
        // measured nothing — same failure the qTrials guard catches
        require(names.nonEmpty,
          s"SPARK_GRAFT_ONLY=${only.map(_.mkString(",")).getOrElse("")} " +
            "matches no query names — nothing to measure (check the " +
            "prefixes against SparkEntry.queries)")
        val perTrial: Seq[Seq[(String, Double)]] = (1 to qTrials).map { t =>
          if (t > 1) {
            graft.queries.PipelineQueries.releaseAll(spark)
            // pageRank (q82/q83) checkpoints its result; drop the
            // previous trial's blocks so trials don't accumulate pins
            graft.pipeline.Graph.releaseAllRanks(spark)
          }
          names.map { case (name, fn) =>
            val t0 = System.nanoTime()
            val ok = try { force(fn(spark, sfDir)); true }
                     catch { case _: Throwable => false }
            val secs = (System.nanoTime() - t0) / 1e9
            name -> (if (ok) secs else -1.0)
          }
        }
        val best = names.map(_._1).zipWithIndex.map { case (name, i) =>
          val ts = perTrial.map(_(i)._2).filter(_ >= 0)
          name -> (if (ts.isEmpty) -1.0 else ts.min)
        }
        // per-trial totals over queries that succeeded in EVERY trial —
        // a query that failed in one trial only would otherwise make
        // the totals compare unequal query sets and corrupt the
        // published variance band
        val okAll = names.indices.filter(i => perTrial.forall(_(i)._2 >= 0))
        val totals = perTrial.map(tr => okAll.map(i => tr(i)._2).sum)
        // teardown: drop the memoized q40–q43 pipeline pins before the
        // session goes away (stop() would reclaim the blocks anyway, but
        // the cache map entry keyed on this session must not outlive it)
        graft.queries.PipelineQueries.releaseAll(spark)
        graft.pipeline.Graph.releaseAllRanks(spark)
        spark.stop()
        (best, totals)
      }

    // ---- scaling protocol: N vs 4N threads, same input ----
    // N defaults to 2 (levels 2 and 8 on a 32-core box): both levels
    // then run with physical-core headroom, so the measurement captures
    // the ENGINE's scaling rather than the host's frequency/bandwidth
    // ceiling (measured here: even pure register arithmetic only scales
    // 0.82x from 8->32 threads on this multi-tenant host).
    // Untimed warmup first: JIT + codegen costs are JVM-global and would
    // otherwise land entirely on whichever level runs first. Trials are
    // interleaved (N,4N,N,4N,...) and the best of each level is kept —
    // co-tenant noise can swing a single run several-fold (measured).
    val small = {
      val want = sys.env.getOrElse("SPARK_GRAFT_SCALE_N", "2").toInt
      if (want * 4 <= cpus) want else math.max(1, cpus / 4)
    }
    // never oversubscribe the allotment: on a tiny allotment (cpus < 4)
    // the big level is capped at cpus and efficiency uses the ACTUAL
    // thread ratio, not an assumed 4x
    val big = math.min(small * 4, math.max(cpus, small))
    val ratio = big.toDouble / small
    val trials = sys.env.getOrElse("SPARK_GRAFT_TRIALS", "3").toInt
    kgRun(small, math.max(200L, kgFiles / 10))
    val runs = (1 to trials).map { _ =>
      (kgRun(small, kgFiles), kgRun(big, kgFiles))
    }
    val (nT1, sec1) = runs.map(_._1).minBy(_._2)
    val (nT2, sec2) = runs.map(_._2).minBy(_._2)
    val tput1 = nT1 / sec1
    val tput2 = nT2 / sec2
    val eff = if (ratio > 1.0) tput2 / (ratio * tput1) else 1.0
    // absolute throughput with the full allotment (not part of the
    // scaling-efficiency pair)
    val (nTF, secF) = kgRun(cpus, kgFiles)
    val tputF = nTF / secF

    val qs = results.map { case (k, v) => f""""$k":$v%.3f""" }.mkString("{", ",", "}")
    val total = results.map(_._2).filter(_ >= 0).sum
    // a broken query must not silently IMPROVE the headline total
    val nFailed = results.count(_._2 < 0)
    val sfEsc = sfDir.replace("\\", "\\\\").replace("\"", "\\\"")
    val scalingMeasured = ratio > 1.0
    val trialsJson = trialTotals.map(t => f"$t%.3f").mkString("[", ",", "]")
    val json =
      f"""{"metric":"total_query_sec","value":$total%.3f,"unit":"sec","queries":$qs,"query_trial_totals":$trialsJson,"queries_failed":$nFailed,"sf":"$sfEsc","kg_files":$kgFiles,"kg_triples":$nT2,"kg_sec_n":$sec1%.2f,"kg_sec_4n":$sec2%.2f,"triples_per_sec_n":$tput1%.1f,"triples_per_sec_4n":$tput2%.1f,"scaling_n":$small,"scaling_4n":$big,"scaling_ratio":$ratio%.1f,"scaling_measured":$scalingMeasured,"scaling_efficiency":$eff%.3f,"triples_per_sec_full":$tputF%.1f,"full_threads":$cpus,"scaling_evidence":"BENCH/SCALING.md"}"""
    println(json)
    if (nFailed > 0)
      System.err.println(s"[bench] WARNING: $nFailed quer${if (nFailed == 1) "y" else "ies"} FAILED — total_query_sec covers only the ${results.length - nFailed} that ran")

    // ---- BENCH/BASELINE.md ----
    val md = new StringBuilder
    md ++= "# BENCH baseline (measured)\n\n"
    md ++= s"Input: synthesized repo table, $kgFiles files, seed 42; query surface on `$sfDir`.\n\n"
    md ++= "## Flagship KG pipeline scaling (N vs 4N threads, same input)\n\n"
    md ++= s"Best of $trials interleaved trials per level (multi-tenant host noise; "
    md ++= "N=2 keeps both levels under the host's own frequency/bandwidth ceiling).\n\n"
    md ++= "| level | threads | triples | sec | triples/sec |\n|---|---|---|---|---|\n"
    md ++= f"| N | $small | $nT1 | $sec1%.2f | $tput1%.1f |\n"
    md ++= f"| 4N | $big | $nT2 | $sec2%.2f | $tput2%.1f |\n"
    md ++= f"| full | $cpus | $nTF | $secF%.2f | $tputF%.1f |\n\n"
    if (scalingMeasured)
      md ++= f"**Scaling efficiency** = tput(4N) / ($ratio%.1f × tput(N)) = **$eff%.3f** (target ≥ 0.8)\n\n"
    else
      md ++= "**Scaling efficiency: NOT MEASURED** — the cpu allotment " +
        "collapsed the scaling pair to a single level; do not read the " +
        "reported 1.0 as a result.\n\n"
    if (nFailed > 0)
      md ++= s"**WARNING: $nFailed queries failed** (recorded as -1.000 below); the total covers only the queries that ran.\n\n"
    md ++= "Why 8→full-width can regress on this host: see `BENCH/SCALING.md` "
    md ++= "(per-stage task-time evidence at 8 vs 32 threads).\n\n"
    md ++= "## Per-query seconds (local[" + cpus + "], after untimed warmup)\n\n"
    if (trialTotals.length > 1 && trialTotals.min > 0) {
      val lo = trialTotals.min; val hi = trialTotals.max
      val band = (hi - lo) / lo * 100
      md ++= f"Best-of-${trialTotals.length} interleaved trials per query; "
      md ++= "per-trial surface totals: "
      md ++= trialTotals.map(t => f"$t%.1f s").mkString(", ")
      md ++= f" — measured host variance band ±$band%.0f%% across trials. "
      md ++= "Judge a later run against the BEST-OF total plus this band, "
      md ++= "not against any single trial.\n\n"
    }
    md ++= "Timed action is a noop-sink write (every output column evaluated); "
    md ++= "baselines measured before round 3 used `.count()`, which let the "
    md ++= "optimizer prune unevaluated projections, and are not comparable "
    md ++= "for projection-only queries.\n\n| query | sec |\n|---|---|\n"
    results.foreach { case (k, v) => md ++= f"| $k | $v%.3f |\n" }
    Files.createDirectories(Paths.get("BENCH"))
    // LAST_RUN.md always; BASELINE.md only on explicit request — a smoke
    // or partial run must never clobber the committed baseline
    Files.write(Paths.get("BENCH/LAST_RUN.md"), md.toString.getBytes("UTF-8"))
    if (sys.env.get("SPARK_GRAFT_WRITE_BASELINE").contains("1"))
      Files.write(Paths.get("BENCH/BASELINE.md"), md.toString.getBytes("UTF-8"))
  }
}
