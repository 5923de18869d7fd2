package graft.io

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileContext, Options, Path => HPath}

/** Iceberg-style table contract on plain parquet + JSON manifests.
  *
  * The sandbox has no Iceberg runtime jar (SURVEY.md §1.4), so the
  * north-rule requirements — per-partition commit files, checkpoint
  * resume, lineage + counter metrics, snapshot row invariant — are
  * implemented directly: each bucket's commit is a temp-file +
  * atomic-rename JSON manifest carrying row counts and an
  * order-independent content checksum. Swappable for real Iceberg behind
  * these same entry points.
  *
  * All manifest IO goes through the Hadoop FileSystem API, so `dir` may
  * be a local path, `hdfs://`, or `s3a://` — the same resolution the
  * parquet data path gets from Spark. (Atomic rename is genuinely atomic
  * on HDFS and local filesystems; object stores degrade to
  * copy-and-delete, the standard Hadoop caveat.)
  */
object TableIO {

  /** Bump when the on-disk data layout changes incompatibly. Version 2 =
    * hive-partitioned `$dir/data/_bucket=<k>` (round 2+; version 1 was
    * `$dir/bucket=<k>`). Resuming a table written under a different
    * layout is refused — old buckets' data would sit at paths the new
    * code never reads, silently splitting the table across two layouts.
    */
  val LayoutVersion = 2

  /** Default Hadoop configuration for manifest IO when the caller passes
    * none: the ACTIVE session's hadoop conf — which carries its
    * `spark.hadoop.*` settings (s3a credentials, endpoints) — not a bare
    * `new Configuration()` that silently drops them and resolves remote
    * paths differently from the data write (ADVICE r3).
    */
  private def defaultConf(): Configuration =
    // getActiveSession is THREAD-LOCAL: a call from a thread that never
    // activated the session (driver-side Future, user pool) must still
    // find the session conf via the process-wide default, or s3a
    // credentials silently vanish on exactly one thread
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .map(_.sessionState.newHadoopConf())
      .getOrElse(new Configuration())

  // ------------------------------------------------------------------
  // Input snapshot with sha256 invariant column
  // ------------------------------------------------------------------

  /** Write the input table with a `content_sha256` snapshot column
    * (BASELINE.json north_star per-row invariant) + table manifest.
    * The row count is observed during the write job itself — the
    * output is never re-read.
    */
  def writeSnapshot(df: DataFrame, dir: String, snapshotId: String): Unit = {
    val obs = Observation()
    val withSha = df.withColumn("content_sha256", sha2(col("content"), 256))
      .observe(obs, count(lit(1)).as("rows"))
    withSha.write.mode("overwrite").parquet(s"$dir/data")
    val rows = obs.get("rows").asInstanceOf[Long]
    val manifest =
      s"""{"snapshot_id":${jstr(snapshotId)},"rows":$rows,"format":"parquet","invariant":"content_sha256"}"""
    atomicWrite(s"$dir/_snapshot.json", manifest,
      df.sparkSession.sessionState.newHadoopConf())
  }

  /** Re-verify the per-row invariant: rows whose current sha256(content)
    * differs from the snapshot column. Must return 0.
    */
  def verifySnapshot(spark: SparkSession, dir: String): Long =
    spark.read.parquet(s"$dir/data")
      .where(sha2(col("content"), 256) =!= col("content_sha256"))
      .count()

  // ------------------------------------------------------------------
  // Resumable bucketed output (checkpoint per partition)
  // ------------------------------------------------------------------

  final case class BucketCommit(bucket: Int, rows: Long, checksum: Long)

  private def commitPath(dir: String, k: Int) = s"$dir/_commits/bucket-$k.json"

  /** One listStatus of `_commits` instead of a per-bucket exists() —
    * on an object store each exists() is a sequential HEAD round-trip.
    */
  def committedBuckets(dir: String, buckets: Int,
                       conf: Configuration = defaultConf()): Set[Int] = {
    val p = new HPath(s"$dir/_commits")
    val fs = p.getFileSystem(conf)
    if (!fs.exists(p)) return Set.empty
    val Name = "bucket-(\\d+)\\.json".r
    val found = fs.listStatus(p).iterator.flatMap(_.getPath.getName match {
      case Name(k) => Some(k.toInt)
      case _ => None
    }).toSet
    // a manifest numbered past the requested range is PROOF the table
    // was written under a different bucket count — silently ignoring it
    // would resume a mod-N table as mod-M and mix two partitionings
    require(found.forall(_ < buckets),
      s"table at $dir has commit manifests up to bucket ${found.max} but " +
        s"this run requested buckets=$buckets — refusing to mix two " +
        "bucket layouts in one table")
    found
  }

  /** Write `df` bucketed by `pmod(hash(bucketCols), buckets)`, committing
    * each bucket atomically (write data → manifest via temp+rename).
    * Buckets with an existing commit manifest are skipped — re-running
    * after a crash resumes exactly where it stopped, and counters are
    * never double-counted (they live in the per-bucket manifest). A
    * resume against manifests recorded under a DIFFERENT lineage — or a
    * different on-disk layout version — fails fast: silently mixing two
    * inputs (or two layouts) in one table is the worst failure mode a
    * resumable writer can have.
    *
    * The data write, its observed counters and their footer cross-check
    * are [[writeBuckets]], shared with [[mergeBuckets]]. Manifests are
    * published only after every bucket of this run has passed the
    * cross-check.
    *
    * Returns the commits performed in this invocation.
    */
  def writeResumable(df: DataFrame, dir: String, buckets: Int,
                     bucketCols: Seq[String],
                     lineage: Map[String, String] = Map.empty): Seq[BucketCommit] = {
    require(buckets >= 1 && buckets <= 512,
      s"buckets=$buckets out of [1, 512]: per-row manifest-counter cost is " +
        "linear in the bucket count (see writeBuckets) — use fewer, larger buckets")
    val conf = df.sparkSession.sessionState.newHadoopConf()
    hMkdirs(s"$dir/_commits", conf)
    val done = committedBuckets(dir, buckets, conf)
    // resume safety: every existing manifest must carry this lineage and
    // this data layout version
    done.toSeq.sorted.foreach { k =>
      val layout = readLayout(dir, k, conf)
      require(layout == LayoutVersion,
        s"resume layout mismatch on bucket $k: committed layout=$layout, " +
          s"this build writes layout=$LayoutVersion — refusing to split " +
          s"one table across two on-disk layouts ($dir)")
      // the manifest records the bucket count it was written under: a
      // mod-16 table resumed as mod-32 would re-write every row whose
      // 32-bucket assignment differs, ~doubling the table silently
      val committedTotal = readBucketsTotal(dir, k, conf)
      require(committedTotal == buckets,
        s"resume bucket-count mismatch on bucket $k: committed under " +
          s"buckets=$committedTotal, this run requests buckets=$buckets ($dir)")
      val existing = readLineage(dir, k, conf)
      require(existing == lineage,
        s"resume lineage mismatch on bucket $k: committed=$existing, " +
          s"this run=$lineage — refusing to mix inputs in one table ($dir)")
    }
    val todo = (0 until buckets).filterNot(done)
    if (todo.isEmpty) return Seq.empty
    // Prune already-committed buckets BEFORE any compute, then write every
    // missing bucket in ONE job with dynamic overwrite, so committed
    // partitions on disk are never touched. (Round 1 filtered + rewrote
    // per bucket, re-running the whole upstream DAG `buckets` times — a
    // 100-TB scale-killer flagged in VERDICT r1.)
    val bucketed = df.withColumn("_bucket",
        pmod(hash(bucketCols.map(col): _*), lit(buckets)))
      .where(col("_bucket").isin(todo: _*))
    // A bucket that received ZERO rows gets no directory from the
    // dynamic partitionBy write, but its counter reads 0 and it still
    // commits (rows=0) — otherwise resume would recompute the whole
    // input forever chasing a bucket that can never appear.
    writeBuckets(bucketed, dir, todo, bucketCols.head).map { c =>
      atomicWrite(commitPath(dir, c.bucket), manifestJson(c, buckets, lineage),
        conf)
      c
    }
  }

  /** One bucket manifest: counters, layout, bucket count and lineage. */
  private def manifestJson(c: BucketCommit, buckets: Int,
                           lineage: Map[String, String]): String = {
    val lineageJson = lineage.toSeq.sortBy(_._1).map { case (k, v) =>
      s"${jstr(k)}:${jstr(v)}" }.mkString(",")
    s"""{"bucket":${c.bucket},"rows":${c.rows},"checksum":${c.checksum},"layout":$LayoutVersion,"buckets":$buckets,"lineage":{$lineageJson}}"""
  }

  /** The bucketed write behind both table writers: `df` (data columns
    * plus `_bucket`, holding only buckets in `todo`) is written under
    * `root/data` as hive partitions `_bucket=<k>` in ONE job, and the
    * per-bucket (rows, checksum) of what was written comes back without
    * re-reading the output. [[writeResumable]] passes the table dir and
    * publishes the result as manifests; [[mergeBuckets]] passes its
    * staging dir and stages them.
    *
    * Sizing: rows are rebalanced on `_bucket` with Spark's adaptive
    * REBALANCE, so AQE sizes the write from the map-output sizes it
    * measures. Small output coalesces into a few tasks (about one file
    * per bucket, since a bucket hashes to one shuffle partition), large
    * output keeps the full shuffle parallelism, and
    * `optimizeSkewsInRebalancePartitions` splits a Zipf-hot bucket over
    * several tasks. The checksum is an XOR fold, so it is independent of
    * how a bucket is split into files.
    *
    * Counters: (row count, XOR of xxhash64 over the data columns in
    * written order) per bucket, collected by `Dataset.observe` DURING
    * the write job — the written output is never re-read (round 2
    * re-read each bucket's parquet sequentially to build its manifest;
    * at 100 TB that doubles output IO and serializes `buckets` driver
    * jobs — VERDICT r2 #1). `verifyCommits` keeps the read-back as an
    * opt-in audit. The observe evaluates 2×|todo| conditional
    * aggregates per row: O(1)-cheap at table-layout bucket counts (≤ low
    * hundreds, like Iceberg partition specs) but it would degrade
    * codegen at thousands, so `writeResumable` bounds `buckets`.
    *
    * Retry safety: observed metrics are accumulator-backed, and Spark
    * only guarantees exactly-once accumulator application for actions —
    * a resubmitted shuffle-map stage (FetchFailed on a lost executor)
    * re-applies its partitions' updates, inflating the count and
    * XOR-cancelling those partitions out of the checksum. Double-apply
    * strictly INCREASES the observed count, so it is detectable: each
    * bucket's observed rows are cross-checked against the written
    * parquet FOOTER row counts (metadata-only, no data read) by
    * [[crossCheck]], with a [[RetryWitness]] on this write's job group
    * deciding between recompute and fail-fast.
    *
    * Returns the cross-checked counters of every bucket in `todo`.
    */
  private def writeBuckets(df: DataFrame, root: String, todo: Seq[Int],
                           sortCol: String): Seq[BucketCommit] = {
    val spark = df.sparkSession
    val conf = spark.sessionState.newHadoopConf()
    val rowHash = xxhash64(df.columns.filterNot(_ == "_bucket").map(col): _*)
    val obs = Observation()
    val metricCols = todo.flatMap { k =>
      val inBucket = col("_bucket") === k
      Seq(count(when(inBucket, 1)).as(s"rows_$k"),
        // XOR-fold over xxhash64(data columns): order-independent,
        // overflow-free, and identical to what a read-back computes (the
        // parquet files carry exactly the data columns, in this order)
        coalesce(bit_xor(when(inBucket, rowHash)), lit(0L)).as(s"sum_$k"))
    }
    // Stage-retry witness for the cross-check: observed > footer is
    // BENIGN (double-applied accumulators, files correct) only if some
    // stage actually re-executed during this write; with no retry seen,
    // the same arithmetic means files are MISSING.
    val groupTag = s"graft-write-${java.util.UUID.randomUUID()}"
    val retries = new RetryWitness(groupTag)
    val sc = spark.sparkContext
    // setJobGroup is thread-local: it tags exactly the jobs this thread
    // launches below, which is what scopes the witness; the caller's own
    // group is restored afterwards
    val groupProps = Seq("spark.jobGroup.id", "spark.job.description",
      "spark.job.interruptOnCancel")
    val callerGroup = groupProps.map(p => p -> sc.getLocalProperty(p))
    sc.addSparkListener(retries)
    sc.setJobGroup(groupTag, s"graft bucketed write to $root",
      interruptOnCancel = false)
    try {
      df.observe(obs, metricCols.head, metricCols.tail: _*)
        .hint("rebalance", col("_bucket"))
        .sortWithinPartitions(col("_bucket"), col(sortCol))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("_bucket")
        .parquet(s"$root/data")
      val metrics = obs.get
      // consulted only on the rare mismatch path; the listener bus is
      // async, so POLL for the retry event instead of a single fixed
      // sleep — on a loaded driver (large jobs are exactly when retries
      // happen) a late-delivered stage-retry event after a fixed 2s
      // window would make crossCheck fail fast on a benign accumulator
      // double-apply. Returns as soon as a retry is seen; only the
      // (retry truly absent → fail fast, which is safe) direction pays
      // the full bound.
      lazy val sawRetry = {
        val deadline = System.nanoTime() + 15L * 1000 * 1000 * 1000
        while (!retries.seen && System.nanoTime() < deadline)
          Thread.sleep(200)
        retries.seen
      }
      todo.map { k =>
        metrics.get(s"rows_$k") match {
          case Some(rows: Long) =>
            val observed = BucketCommit(k, rows,
              metrics(s"sum_$k").asInstanceOf[Long])
            crossCheck(spark, root, observed, conf, stageRetried = sawRetry)
          case _ =>
            // AQE drops a map stage that materialized EMPTY from the
            // final plan, and the metrics observed inside it go with it:
            // no metrics means no row reached the write. Files here are
            // then not this job's output, and with no counters they
            // cannot be told from a partial write — refuse, never bless
            // or delete them.
            val footer = footerRows(s"$root/data/_bucket=$k", conf)
            if (footer > 0) throw new IllegalStateException(
              s"bucket $k: the write observed no rows but $root/data/" +
                s"_bucket=$k holds $footer — refusing to commit counters " +
                "that cannot be cross-checked")
            BucketCommit(k, 0L, 0L)
        }
      }
    } finally {
      callerGroup.foreach { case (p, v) => sc.setLocalProperty(p, v) }
      sc.removeSparkListener(retries)
    }
  }

  /** Records whether any stage or task of THIS WRITE's job group
    * re-executed — the witness that distinguishes benign accumulator
    * double-apply from genuine file loss in [[crossCheck]].
    *
    * Scoped to a job-group tag: a SparkContext-global witness would let
    * a FetchFailed retry in a CONCURRENT unrelated job mask this write's
    * partial file loss as benign. Watches both stage re-submission
    * (attempt > 0) and task-level duplicate success (speculative or
    * zombie attempts, `Resubmitted` task ends) — accumulator double-
    * apply does not require a whole-stage retry. The listener methods
    * delegate to plain testable transitions.
    */
  private[graft] final class RetryWitness(groupId: String)
      extends org.apache.spark.scheduler.SparkListener {
    private val stages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    @volatile var seen: Boolean = false

    private[graft] def jobStarted(group: String, stageIds: Seq[Int]): Unit =
      if (group == groupId) stageIds.foreach(stages.add(_))
    private[graft] def stageAttempt(stageId: Int, attempt: Int): Unit =
      if (attempt > 0 && stages.contains(stageId)) seen = true
    private[graft] def taskAttempt(stageId: Int, attempt: Int,
                                   resubmitted: Boolean): Unit =
      if ((attempt > 0 || resubmitted) && stages.contains(stageId)) seen = true

    override def onJobStart(
        j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
      jobStarted(Option(j.properties)
        .map(_.getProperty("spark.jobGroup.id")).orNull, j.stageIds)
    override def onStageSubmitted(
        s: org.apache.spark.scheduler.SparkListenerStageSubmitted): Unit =
      stageAttempt(s.stageInfo.stageId, s.stageInfo.attemptNumber())
    override def onTaskEnd(
        e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
      taskAttempt(e.stageId, e.taskInfo.attemptNumber,
        e.reason == org.apache.spark.Resubmitted)
  }

  /** Retry-safety cross-check for one bucket's observed counters against
    * the parquet FOOTER row counts under `dir/data/_bucket=<k>` — ground
    * truth for what this job WROTE (metadata-only, no data read). `dir`
    * is the write root of [[writeBuckets]]: the table, or a merge's
    * staging dir. Package-private so the rare
    * branches — the ones that only run during a production incident —
    * are directly testable (VERDICT r3 #3). Mismatch outcomes:
    *  - observed == 0 but footer > 0: this job wrote NOTHING for the
    *    bucket (dynamic overwrite leaves untouched partitions alone), so
    *    the files are STALE leftovers of an earlier uncommitted attempt
    *    — blessing them into a manifest would mix inputs. Delete them
    *    and commit the truthful zero.
    *  - observed > 0 but footer == 0: the write claimed rows for this
    *    bucket yet no files exist — data LOSS, not a counter glitch.
    *    Committing rows=0 would mark the bucket permanently done and
    *    silently drop its rows on every resume (ADVICE r3) — fail fast.
    *  - observed < footer, both > 0: double-apply can only INFLATE the
    *    observed side, so a footer excess means EXTRA rows on disk
    *    (e.g. leftovers of a crashed attempt) — fail fast even if a
    *    retry was seen; recomputing would bless a mixed directory.
    *  - observed > footer, both data present AND `stageRetried`: a
    *    re-executed stage double-applied metric updates — the files are
    *    right, recompute the counters from them.
    *  - observed > footer with NO stage retry this run: the arithmetic
    *    of double-apply cannot explain it (nothing re-executed), so
    *    files that the job wrote are MISSING — e.g. a part file lost on
    *    the store between task commit and manifest publish. Recomputing
    *    would bless the surviving partial files as truth and silently
    *    drop the rest on every resume — fail fast instead. The
    *    `stageRetried` witness is what discriminates this from the
    *    benign case above; both look identical in counts alone.
    */
  private[graft] def crossCheck(spark: SparkSession, dir: String,
                                observed: BucketCommit,
                                conf: Configuration,
                                stageRetried: => Boolean): BucketCommit = {
    val k = observed.bucket
    val bucketPath = s"$dir/data/_bucket=$k"
    val footer = footerRows(bucketPath, conf)
    if (footer == observed.rows) observed
    else if (observed.rows == 0 && footer > 0) {
      System.err.println(s"[TableIO] bucket $k received no rows this " +
        s"run but its directory holds $footer stale rows from an " +
        "uncommitted earlier attempt — deleting them")
      val p = new HPath(bucketPath)
      p.getFileSystem(conf).delete(p, true)
      BucketCommit(k, 0L, 0L)
    } else if (observed.rows > 0 && footer == 0) {
      throw new IllegalStateException(
        s"bucket $k observed ${observed.rows} rows during the write but " +
          s"its directory ($bucketPath) holds no data — the write " +
          "reported success without producing files; refusing to commit " +
          "an empty manifest that would silently lose these rows on " +
          "every resume")
    } else if (observed.rows < footer) {
      // Double-apply can only INFLATE observed (a re-executed stage adds
      // its accumulator updates again, never subtracts) — so footer >
      // observed with both sides holding data means EXTRA rows on disk
      // (e.g. leftovers of a crashed attempt mixed into the directory),
      // a state recomputeBucket would bless into the manifest. Fail fast
      // regardless of the retry witness.
      throw new IllegalStateException(
        s"bucket $k observed ${observed.rows} rows during the write but " +
          s"its files hold $footer — extra/stale rows on disk at " +
          s"$bucketPath (double-apply can only inflate the observed " +
          "side, so a retry cannot explain this); refusing to commit a " +
          "manifest over a mixed directory")
    } else if (stageRetried) {
      System.err.println(s"[TableIO] observed rows for bucket $k " +
        s"(${observed.rows}) > parquet footers ($footer) and a stage " +
        "re-executed this run — double-applied metrics; recomputing " +
        "counters from written data")
      recomputeBucket(spark, dir, k)
    } else {
      throw new IllegalStateException(
        s"bucket $k observed ${observed.rows} rows but its files hold " +
          s"only $footer, and no stage re-executed this run — written " +
          s"files are missing from $bucketPath; refusing to commit a " +
          "partial manifest that would silently lose the difference on " +
          "every resume")
    }
  }

  /** Sum of parquet footer row counts for one bucket directory —
    * metadata-only (a footer is a few KB), exact regardless of task or
    * stage retries. 0 for a missing directory (zero-row bucket).
    */
  private def footerRows(path: String, conf: Configuration): Long = {
    val p = new HPath(path)
    val fs = p.getFileSystem(conf)
    if (!fs.exists(p)) return 0L
    fs.listStatus(p).iterator
      .filter(_.getPath.getName.endsWith(".parquet"))
      .map { f =>
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(f, conf))
        try r.getRecordCount finally r.close()
      }.sum
  }

  /** Ground-truth (rows, checksum) for one bucket from its written data —
    * the rare-path fallback when the observed metrics fail the footer
    * cross-check, and the core of the `verifyCommits` audit.
    */
  private def recomputeBucket(spark: SparkSession, dir: String,
                              k: Int): BucketCommit =
    recomputePath(spark, s"$dir/data/_bucket=$k", k)

  /** (rows, checksum) of an arbitrary parquet directory under the
    * manifest's hash convention — shared by the cross-check fallback,
    * the audit, and compaction's pre-swap verification.
    */
  private def recomputePath(spark: SparkSession, path: String,
                            k: Int): BucketCommit = {
    val conf = spark.sessionState.newHadoopConf()
    if (!hExists(path, conf)) BucketCommit(k, 0L, 0L)
    else {
      val written = spark.read.parquet(path)
      val agg = written
        .select(xxhash64(written.columns.map(col): _*).as("h"))
        .agg(count(lit(1)).as("rows"),
             coalesce(bit_xor(col("h")), lit(0L)).as("checksum"))
        .collect()(0)
      BucketCommit(k, agg.getLong(0), agg.getLong(1))
    }
  }

  /** Compact one COMMITTED bucket's parquet files down to
    * `targetFiles` — the small-file maintenance a long-lived resumable
    * table needs: the rebalanced write splits a skewed bucket over
    * several tasks (one file each), a merge rewrites a bucket as
    * whatever files its own rebalance produced, and a resume- or
    * merge-heavy history multiplies that, so scan throughput decays with
    * file count over time.
    *
    * Verified, not trusted: the manifest's XOR-fold checksum is
    * file-split-INDEPENDENT by construction (that invariance was chosen
    * for exactly this), so the rewritten bucket must reproduce the
    * exact committed (rows, checksum) BEFORE any original byte is
    * touched — a rewrite that drops or mutates a row cannot swap in.
    * The manifest itself is untouched: compaction changes layout, never
    * content.
    *
    * Crash ordering: write tmp → verify tmp → rename original to
    * `.precompact-k` → rename tmp into place → delete backup. A crash
    * between the renames leaves the bucket directory missing with the
    * backup present: the next `compactBucket` call repairs it first,
    * and `readCommitted` in the window fails LOUDLY (manifest rows > 0,
    * directory missing) rather than serving a short table.
    *
    * SINGLE-MAINTENANCE-PROCESS contract (ADVICE r5): the crash repair
    * and the two-rename swap assume one compactor per bucket at a time —
    * two concurrent calls could each treat the other's live backup as
    * stale and destroy it. A best-effort lock file under `_compact_tmp`
    * enforces this: a second concurrent call fails fast instead of
    * interleaving. The lock is advisory (created with overwrite=false,
    * deleted in a finally); a crash between create and finally leaves a
    * stale lock that blocks maintenance until it is deleted by hand —
    * the failure message names the path. Readers are never blocked:
    * the lock only serializes maintenance, not reads or writes.
    *
    * Returns the number of data files after compaction.
    */
  def compactBucket(spark: SparkSession, dir: String, buckets: Int,
                    k: Int, targetFiles: Int = 1): Int = {
    require(targetFiles >= 1, s"targetFiles must be >= 1: $targetFiles")
    val conf = spark.sessionState.newHadoopConf()
    val bucketPath = new HPath(s"$dir/data/_bucket=$k")
    // backup lives INSIDE data/ but dot-hidden: only ever touched by
    // Hadoop-FS ops, and partition discovery skips hidden dirs so a raw
    // reader never sees duplicate rows mid-swap. The rewrite tmp lives
    // OUTSIDE data/ entirely — Spark must read it back for the pre-swap
    // verification, and file sources filter dot-prefixed paths (the
    // "All paths were ignored" warning class), so it needs a visible
    // name in a namespace no table reader ever scans.
    val backup = new HPath(s"$dir/data/.precompact-$k")
    val tmp = new HPath(s"$dir/_compact_tmp/bucket-$k")
    val fs = bucketPath.getFileSystem(conf)
    // maintenance lock (see scaladoc): taken BEFORE the crash repair so
    // two concurrent maintainers cannot each "repair" the other's
    // in-flight swap. Shared with mergeBuckets — compaction and merge
    // must serialize against each other too.
    withMaintenanceLock(fs, dir, k) {
      compactLocked(spark, dir, buckets, k, targetFiles, conf,
        bucketPath, backup, tmp, fs)
    }
  }

  /** The per-bucket MAINTENANCE lock shared by [[compactBucket]] and
    * [[mergeBuckets]]: create(overwrite=false) is the atomic
    * test-and-set on HDFS/local FS. Advisory — a crash between create
    * and the finally leaves a stale lock that blocks maintenance until
    * deleted by hand (the message names the path); readers and
    * resumable writers are never blocked.
    */
  private def withMaintenanceLock[T](fs: org.apache.hadoop.fs.FileSystem,
                                     dir: String, k: Int)(body: => T): T = {
    val lock = new HPath(s"$dir/_compact_tmp/bucket-$k.lock")
    fs.mkdirs(lock.getParent)
    val lockOut =
      try fs.create(lock, false)
      catch {
        case _: org.apache.hadoop.fs.FileAlreadyExistsException =>
          throw new IllegalStateException(
            s"bucket $k of $dir is already under maintenance (lock file " +
              s"$lock exists) — compaction/merge is single-process per " +
              "bucket; if no maintainer is running, a crashed one left " +
              "the lock: delete it by hand and re-run (the crash repair " +
              "will restore any interrupted swap)")
      }
    lockOut.close()
    try body
    finally fs.delete(lock, false)
  }

  /** Repair a crashed COMPACTION swap — BOTH crash windows (compaction
    * never changes content, so the discriminator is presence alone):
    *  - bucket dir missing, backup present: crash BETWEEN the swap
    *    renames — the backup is the live data; restore it.
    *  - bucket dir present AND backup present: crash AFTER the swap but
    *    before the backup delete — the bucket dir is already the
    *    compacted copy; reclaim the stale backup (leaving it would make
    *    a later rename move the live dir INTO it).
    * Called by [[compactBucket]] on entry and by [[mergeBuckets]]
    * before it reads a bucket's committed data (a merge that read a
    * bucket whose live dir sat in a crashed compaction's backup would
    * silently merge against an empty bucket). Must run under the
    * bucket's maintenance lock.
    */
  private def repairCompactionCrash(fs: org.apache.hadoop.fs.FileSystem,
                                    dir: String, k: Int): Unit = {
    val bucketPath = new HPath(s"$dir/data/_bucket=$k")
    val backup = new HPath(s"$dir/data/.precompact-$k")
    if (!fs.exists(bucketPath) && fs.exists(backup)) {
      System.err.println(s"[TableIO] bucket $k: restoring interrupted " +
        s"compaction backup $backup")
      require(fs.rename(backup, bucketPath),
        s"could not restore $backup to $bucketPath")
    } else if (fs.exists(bucketPath) && fs.exists(backup)) {
      System.err.println(s"[TableIO] bucket $k: reclaiming stale " +
        s"compaction backup $backup (swap had completed)")
      fs.delete(backup, true)
    }
  }

  private def compactLocked(spark: SparkSession, dir: String, buckets: Int,
                            k: Int, targetFiles: Int, conf: Configuration,
                            bucketPath: HPath, backup: HPath, tmp: HPath,
                            fs: org.apache.hadoop.fs.FileSystem): Int = {
    repairCompactionCrash(fs, dir, k)
    val committed = readCommits(dir, buckets, conf).find(_.bucket == k)
      .getOrElse(throw new IllegalStateException(
        s"bucket $k of $dir has no commit manifest — compaction only " +
          "operates on committed buckets (resume owns uncommitted state)"))
    require(readLayout(dir, k, conf) == LayoutVersion,
      s"bucket $k committed under a different layout — refusing to compact")
    if (committed.rows == 0L) return 0 // zero-row bucket: no directory
    // a rows>0 manifest whose directory or files are GONE is data loss
    // — fail loudly (the module contract), never report maintenance
    // success over a short table
    require(fs.exists(bucketPath),
      s"bucket $k commits ${committed.rows} rows but its directory " +
        s"$bucketPath is missing — data loss, not a compaction target")
    // early exit: an already-compact bucket must cost a metadata listing,
    // not a full rewrite — scheduled maintenance over a mostly-compact
    // table would otherwise re-read and re-write the whole table per
    // cycle for zero layout change
    val existing = fs.listStatus(bucketPath)
      .count(_.getPath.getName.endsWith(".parquet"))
    require(existing > 0,
      s"bucket $k commits ${committed.rows} rows but its directory " +
        s"holds no parquet files — data loss, not an already-compact " +
        "bucket")
    if (existing <= targetFiles) return existing
    if (fs.exists(tmp)) fs.delete(tmp, true)
    spark.read.parquet(bucketPath.toString)
      .repartition(targetFiles)
      .write.mode("overwrite").parquet(tmp.toString)
    val rewritten = recomputePath(spark, tmp.toString, k)
    if (rewritten.rows != committed.rows ||
        rewritten.checksum != committed.checksum) {
      fs.delete(tmp, true)
      throw new IllegalStateException(
        s"bucket $k compaction produced (rows=${rewritten.rows}, " +
          s"checksum=${rewritten.checksum}) but the manifest committed " +
          s"(rows=${committed.rows}, checksum=${committed.checksum}) — " +
          "refusing to swap a rewrite that is not content-identical; " +
          "original files untouched")
    }
    require(fs.rename(bucketPath, backup),
      s"could not move $bucketPath aside for swap")
    require(fs.rename(tmp, bucketPath),
      s"could not move compacted files into place — original preserved " +
        s"at $backup; the next compactBucket call will restore it")
    fs.delete(backup, true)
    fs.listStatus(bucketPath)
      .count(_.getPath.getName.endsWith(".parquet"))
  }

  // ------------------------------------------------------------------
  // MERGE — copy-on-write upsert/delete at bucket granularity
  // ------------------------------------------------------------------

  final case class MergeReport(affectedBuckets: Seq[Int], rowsBefore: Long,
                               rowsAfter: Long, nUpserts: Long,
                               nDeleteKeys: Long, nDeletedExisting: Long,
                               commits: Seq[BucketCommit])

  /** MERGE INTO for a committed resumable table — the maintenance
    * operation a LIVING knowledge graph needs (entities re-canonicalize,
    * files change at new commits, retractions arrive): apply a bounded
    * delta of upserts and deletes by key, rewriting ONLY the buckets an
    * affected key routes to; every untouched bucket's files and manifest
    * are left byte-identical.
    *
    * Semantics (Iceberg MERGE INTO with an explicit key):
    *  - an upsert row REPLACES every committed row sharing its key
    *    (then inserts itself — one upsert can replace several rows if
    *    the key is not unique in the table; the usual contract is a
    *    unique key);
    *  - a key in `deleteKeys` removes every committed row with that key;
    *  - a key both upserted and deleted is AMBIGUOUS → fail fast;
    *  - `keyCols` must contain every `bucketCols` column — a row's
    *    bucket is `pmod(hash(bucketCols), buckets)` (the writeResumable
    *    routing), so a key that does not pin the bucket columns cannot
    *    be routed to the one bucket it lives in.
    *
    * Scale shape: cost is proportional to the AFFECTED buckets' data
    * plus the delta — the merge plan reads `dir/data` with a partition
    * filter on the affected `_bucket` values (static pruning), anti-joins
    * the delta keys (delta-bounded build side), and writes the merged
    * buckets in ONE job through [[writeBuckets]], whose observed counters
    * become the new manifests — the job count does not grow with the
    * number of affected buckets. The anti-join keys may be strings
    * (entity ids); the volume is affected-buckets-only, never the table.
    *
    * Crash safety, per bucket and under the shared maintenance lock
    * (same lock as [[compactBucket]] — merge and compaction serialize):
    * stage (tmp data + staged manifest, both outside `data/`) → rename
    * live aside to a dot-hidden `.premerge-k` → rename tmp into place →
    * atomically install the staged manifest → delete backup + staged.
    * Unlike compaction the CONTENT changes, so the repair discriminator
    * is the staged manifest: backup present + committed manifest ==
    * staged ⇒ the swap completed (roll forward: reclaim backup); any
    * other backup-present state rolls BACK (restore the old bucket,
    * discard staged state) and the merge simply re-runs. `readCommitted`
    * inside the between-renames window fails loudly (manifest rows > 0,
    * directory missing) — the existing contract.
    *
    * New manifests carry the bucket's ORIGINAL lineage: merge changes
    * content (rows/checksum), never provenance — resume and readCommitted
    * lineage guards keep working across merges.
    */
  def mergeBuckets(spark: SparkSession, dir: String, buckets: Int,
                   bucketCols: Seq[String], keyCols: Seq[String],
                   upserts: DataFrame,
                   deleteKeys: Option[DataFrame] = None): MergeReport = {
    require(keyCols.nonEmpty, "mergeBuckets needs at least one key column")
    require(bucketCols.forall(keyCols.contains),
      s"keyCols $keyCols must contain every bucket column $bucketCols — " +
        "the bucket of a row is derived from the bucket columns")
    val conf = spark.sessionState.newHadoopConf()
    val fs = new HPath(dir).getFileSystem(conf)
    require(hExists(s"$dir/_commits", conf),
      s"$dir is not a committed resumable table (no _commits)")
    // canonical data-column order = the table's parquet order; the
    // checksum convention hashes columns in this order. A committed
    // table can hold ZERO visible bucket dirs (every row deleted by a
    // prior merge — a state mergeBuckets itself produces — or the only
    // data-bearing bucket parked in a .premerge backup by a crash this
    // call repairs below): a raw parquet read would then fail schema
    // inference and brick a valid table, so fall back to the upserts'
    // own schema as canonical (they are contract-bound to carry the
    // full table schema; a type mismatch against repaired data still
    // fails loudly at the union).
    require(hExists(s"$dir/data", conf),
      s"$dir has no data directory — merge needs a written table")
    val anyVisible = (0 until buckets)
      .exists(k => hExists(s"$dir/data/_bucket=$k", conf))
    val tableSchema =
      if (anyVisible) spark.read.parquet(s"$dir/data").schema
      else org.apache.spark.sql.types.StructType(
        upserts.schema.fields.filterNot(_.name == "_bucket"))
    val dataCols = tableSchema.fields.map(_.name).filterNot(_ == "_bucket")
    keyCols.foreach(kc => require(dataCols.contains(kc),
      s"key column $kc is not a table column (${dataCols.mkString(",")})"))
    // upserts must carry the full table schema, same types
    dataCols.foreach { c =>
      val want = tableSchema(c).dataType
      val got = upserts.schema.fields.find(_.name == c).map(_.dataType)
      require(got.contains(want),
        s"upserts column $c: expected $want, got ${got.orNull}")
    }
    val bExpr = pmod(hash(bucketCols.map(col): _*), lit(buckets))
    // The delta frames are evaluated by several bounded jobs below
    // (ambiguity check, counts, bucket image, deleted-existing count,
    // and the merged write itself) — persist them once so the caller's
    // plan (often a join + wide distinct, e.g. the KG triple build on
    // every streaming micro-batch) runs once per merge, not per job.
    // Delta-bounded by contract, so the footprint is small.
    val up = upserts.select(dataCols.map(col): _*)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val del = deleteKeys.map(_.select(keyCols.map(col): _*)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    try {
    // ambiguity fail-fast: a key cannot be both upserted and deleted
    del.foreach { d =>
      val both = up.select(keyCols.map(col): _*).join(d, keyCols, "semi")
        .limit(1).count()
      require(both == 0L,
        "mergeBuckets: at least one key appears in BOTH upserts and " +
          "deleteKeys — ambiguous; split the delta")
    }
    val nUpserts = up.count()
    val nDeleteKeys = del.map(_.count()).getOrElse(0L)
    // affected buckets: the delta's bucket image (≤ buckets, collected)
    val affected = {
      val ub = up.select(bExpr.as("_bucket"))
      val db = del.map(_.select(bExpr.as("_bucket"))).getOrElse(ub.limit(0))
      ub.unionByName(db).distinct().collect().map(_.getInt(0)).sorted.toSeq
    }
    if (affected.isEmpty)
      return MergeReport(Seq.empty, 0L, 0L, nUpserts, nDeleteKeys, 0L,
        Seq.empty)
    // validate the affected manifests BEFORE touching anything
    val commits = readCommits(dir, buckets, conf).map(c => c.bucket -> c).toMap
    affected.foreach { k =>
      require(commits.contains(k),
        s"bucket $k has no commit manifest — merge only operates on " +
          "committed tables (finish or resume the write first)")
      require(readLayout(dir, k, conf) == LayoutVersion,
        s"bucket $k committed under a different layout — refusing to merge")
      require(readBucketsTotal(dir, k, conf) == buckets,
        s"bucket $k committed under a different bucket count — refusing " +
          "to merge")
    }
    // MERGES SERIALIZE TABLE-WIDE: the staging area ($dir/_merge_tmp/
    // data + manifests) is one per table, so two concurrent merges —
    // even on disjoint buckets — would clobber each other's staged
    // data (one's pre-write cleanup deletes the other's freshly
    // written tmp, which then recomputes as a rows=0 bucket and
    // silently destroys it). The table lock rules that out before any
    // per-bucket work; per-bucket locks below still serialize merge
    // against COMPACTION, which is genuinely per-bucket.
    fs.mkdirs(new HPath(s"$dir/_merge_tmp"))
    val tableLock = new HPath(s"$dir/_merge_tmp/_merge.lock")
    val tableOut =
      try fs.create(tableLock, false)
      catch {
        case _: org.apache.hadoop.fs.FileAlreadyExistsException =>
          throw new IllegalStateException(
            s"$dir is already under merge maintenance (lock file " +
              s"$tableLock exists) — merges are single-process per " +
              "table (they share one staging area); if nothing is " +
              "running, delete the stale lock and re-run")
      }
    tableOut.close()
    try mergeAllLocked(spark, dir, buckets, affected, commits, dataCols.toSeq,
      bucketCols, keyCols, up, del, bExpr, nUpserts, nDeleteKeys, conf, fs)
    finally fs.delete(tableLock, false)
    } finally {
      up.unpersist()
      del.foreach(_.unpersist())
    }
  }

  private def mergeAllLocked(spark: SparkSession, dir: String, buckets: Int,
                             affected: Seq[Int],
                             commits: Map[Int, BucketCommit],
                             dataCols: Seq[String], bucketCols: Seq[String],
                             keyCols: Seq[String],
                             up: DataFrame, del: Option[DataFrame],
                             bExpr: org.apache.spark.sql.Column,
                             nUpserts: Long, nDeleteKeys: Long,
                             conf: Configuration,
                             fs: org.apache.hadoop.fs.FileSystem)
      : MergeReport = {
    // take every affected bucket's maintenance lock for the whole merge
    // (sorted order), repair crashed swaps FIRST — a bucket whose live
    // dir sits in a crashed backup would otherwise read as empty
    val locks = affected.map(k => new HPath(s"$dir/_compact_tmp/bucket-$k.lock"))
    fs.mkdirs(new HPath(s"$dir/_compact_tmp"))
    val acquired = scala.collection.mutable.ArrayBuffer.empty[HPath]
    try {
      locks.zip(affected).foreach { case (lock, k) =>
        val out =
          try fs.create(lock, false)
          catch {
            case _: org.apache.hadoop.fs.FileAlreadyExistsException =>
              throw new IllegalStateException(
                s"bucket $k of $dir is already under maintenance (lock " +
                  s"file $lock exists) — merge is single-process per " +
                  "bucket; if nothing is running, delete the stale lock " +
                  "and re-run")
          }
        out.close()
        acquired += lock
      }
      affected.foreach { k =>
        repairCompactionCrash(fs, dir, k)
        repairMergeCrash(fs, dir, k, conf)
      }
      mergeLocked(spark, dir, buckets, affected, commits, dataCols.toSeq,
        bucketCols, keyCols, up, del, bExpr, nUpserts, nDeleteKeys, conf, fs)
    } finally acquired.foreach(l => fs.delete(l, false))
  }

  /** Repair a crashed MERGE swap for bucket `k` (under the lock). The
    * staged manifest is the primary discriminator: if the committed
    * manifest already equals it, the swap (usually) completed — roll
    * forward (reclaim backup + staged). Otherwise roll back: discard
    * any half-installed new data, restore the backup, discard staged
    * state; the merge that crashed simply re-runs.
    *
    * Manifest equality alone is NOT sufficient for a content-no-op
    * merge (an at-least-once replay of an already-applied delta — the
    * StreamingKg contract): its staged manifest is byte-identical to
    * the committed one (same rows, order-independent checksum,
    * preserved lineage), so a crash BETWEEN the two renames would
    * read as "completed" and the roll-forward would delete the backup
    * — the only copy of the bucket. Tie-break with the live dir: a
    * rows>0 swap is complete only once the merged data was renamed
    * in; live missing means the crash sat between the renames — roll
    * back. (rows=0 staged manifests need no tie-break: a backup only
    * exists if the OLD bucket had data, and then the old manifest —
    * rows>0 — cannot equal the rows=0 staged one until installed.)
    */
  private def repairMergeCrash(fs: org.apache.hadoop.fs.FileSystem,
                               dir: String, k: Int,
                               conf: Configuration): Unit = {
    val live = new HPath(s"$dir/data/_bucket=$k")
    val backup = new HPath(s"$dir/data/.premerge-$k")
    val staged = s"$dir/_merge_tmp/manifest-$k.json"
    if (fs.exists(backup)) {
      val stagedTxt = hRead(staged, conf)
      val installed = hRead(commitPath(dir, k), conf)
      val stagedRows = stagedTxt.flatMap(t =>
        """"rows"\s*:\s*(\d+)""".r.findFirstMatchIn(t).map(_.group(1).toLong))
      val swapDone = stagedTxt.isDefined && installed == stagedTxt &&
        (stagedRows.contains(0L) || fs.exists(live))
      if (swapDone) {
        System.err.println(s"[TableIO] bucket $k: merge swap had " +
          s"completed — reclaiming backup $backup")
        fs.delete(backup, true)
        fs.delete(new HPath(staged), false)
      } else {
        System.err.println(s"[TableIO] bucket $k: rolling back " +
          s"interrupted merge — restoring $backup")
        if (fs.exists(live)) fs.delete(live, true)
        require(fs.rename(backup, live),
          s"could not restore $backup to $live")
        if (stagedTxt.isDefined) fs.delete(new HPath(staged), false)
      }
    } else {
      val stagedTxt = hRead(staged, conf)
      if (stagedTxt.isDefined) {
        // Staged manifest without a backup: USUALLY a crash before the
        // swap began (staged state is dead weight this run overwrites
        // anyway) — but a bucket whose committed state is EMPTY never
        // gets a backup (rows=0 manifests have no live dir, so the
        // rename-aside is skipped), so a crash AFTER the tmp→live
        // rename and BEFORE the manifest install lands here too, with
        // the crashed merge's UNCOMMITTED rows sitting live under a
        // rows=0 manifest. Left in place, a later merge's raw read of
        // dir/data would resurrect those phantom rows as committed
        // data. Discriminate with the committed manifest: equal to
        // staged ⇒ the swap fully completed (just reclaim staged);
        // rows=0 committed + live dir present ⇒ that dir can only be
        // the crashed merge's output — roll it back.
        val installed = hRead(commitPath(dir, k), conf)
        val committedRows = installed.flatMap(t =>
          """"rows"\s*:\s*(\d+)""".r.findFirstMatchIn(t).map(_.group(1).toLong))
        if (installed != stagedTxt && committedRows.contains(0L) &&
            fs.exists(live)) {
          System.err.println(s"[TableIO] bucket $k: rolling back " +
            "interrupted merge into a previously-empty bucket — " +
            s"deleting uncommitted $live")
          fs.delete(live, true)
        }
        fs.delete(new HPath(staged), false)
      }
    }
  }

  private def mergeLocked(spark: SparkSession, dir: String, buckets: Int,
                          affected: Seq[Int], commits: Map[Int, BucketCommit],
                          dataCols: Seq[String], bucketCols: Seq[String],
                          keyCols: Seq[String],
                          up: DataFrame, del: Option[DataFrame],
                          bExpr: org.apache.spark.sql.Column,
                          nUpserts: Long, nDeleteKeys: Long,
                          conf: Configuration,
                          fs: org.apache.hadoop.fs.FileSystem): MergeReport = {
    val rowsBefore = affected.map(commits(_).rows).sum
    // a rows>0 manifest whose directory is gone is data loss — the
    // module contract says fail loudly, never merge over a short table
    affected.foreach { k =>
      if (commits(k).rows > 0L)
        require(fs.exists(new HPath(s"$dir/data/_bucket=$k")),
          s"bucket $k commits ${commits(k).rows} rows but its directory " +
            "is missing — data loss, not a merge target")
    }
    // all affected buckets empty (rows=0 manifests, no dirs — the
    // require above vouched) → nothing old to read, and a raw read of
    // a dir-less data/ would fail schema inference
    val old =
      if (affected.exists(k =>
          fs.exists(new HPath(s"$dir/data/_bucket=$k"))))
        spark.read.parquet(s"$dir/data")
          .where(col("_bucket").isin(affected.map(Int.box): _*))
      else up.withColumn("_bucket", lit(0).cast("int")).limit(0)
    val touchedKeys = {
      val upK = up.select(keyCols.map(col): _*)
      del.map(d => upK.unionByName(d)).getOrElse(upK).distinct()
    }
    val nDeletedExisting = del match {
      case Some(d) => old.join(d, keyCols, "semi").count()
      case None => 0L
    }
    val merged = old.select(dataCols.map(col) :+ col("_bucket"): _*)
      .join(touchedKeys, keyCols, "left_anti")
      .unionByName(up.withColumn("_bucket", bExpr))
    val staging = s"$dir/_merge_tmp"
    val tmpData = s"$staging/data"
    if (hExists(tmpData, conf)) fs.delete(new HPath(tmpData), true)
    // the merged buckets' counters come from the write itself, cross-
    // checked against the staged footers before any swap begins
    val staged = writeBuckets(merged, staging, affected, bucketCols.head)
    // stage + swap per bucket; staged manifests carry the bucket's
    // ORIGINAL lineage (merge changes content, never provenance)
    val newCommits = staged.map { c =>
      val k = c.bucket
      val manifest = manifestJson(c, buckets, readLineage(dir, k, conf))
      val stagedPath = s"$staging/manifest-$k.json"
      atomicWrite(stagedPath, manifest, conf)
      val live = new HPath(s"$dir/data/_bucket=$k")
      val backup = new HPath(s"$dir/data/.premerge-$k")
      val tmpBucket = new HPath(s"$tmpData/_bucket=$k")
      if (fs.exists(live))
        require(fs.rename(live, backup),
          s"could not move $live aside for the merge swap")
      if (fs.exists(tmpBucket)) // a bucket merged to zero rows has no dir
        require(fs.rename(tmpBucket, live),
          s"could not move merged bucket $k into place — original " +
            s"preserved at $backup; re-running the merge repairs it")
      atomicWrite(commitPath(dir, k), manifest, conf)
      if (fs.exists(backup)) fs.delete(backup, true)
      fs.delete(new HPath(stagedPath), false)
      c
    }
    fs.delete(new HPath(tmpData), true)
    MergeReport(affected, rowsBefore, newCommits.map(_.rows).sum,
      nUpserts, nDeleteKeys, nDeletedExisting, newCommits)
  }

  /** Committed-snapshot read — the consumer-side half of the resumable
    * contract. A crashed writer leaves bucket directories whose manifest
    * never committed; a raw `spark.read.parquet(dir/data)` between the
    * crash and the next resume (which cleans them) would serve that
    * UNCOMMITTED data to readers. This reads only buckets with a commit
    * manifest, under the same layout/range validation as resume —
    * snapshot isolation in the Iceberg sense, on plain parquet.
    * Zero-row buckets have a manifest but no directory and contribute
    * nothing. Fails loudly when NO committed data exists — an empty
    * frame would need a schema this layer cannot invent, and silently
    * returning one would mask a wrong `dir`.
    */
  def readCommitted(spark: SparkSession, dir: String,
                    buckets: Int): DataFrame = {
    val conf = spark.sessionState.newHadoopConf()
    val done = committedBuckets(dir, buckets, conf)
    require(done.nonEmpty,
      s"no committed buckets under $dir — nothing to read (wrong dir, or " +
        "the table's first write has not committed yet)")
    done.toSeq.sorted.foreach { k =>
      val layout = readLayout(dir, k, conf)
      require(layout == LayoutVersion,
        s"read layout mismatch on bucket $k: committed layout=$layout, " +
          s"this build reads layout=$LayoutVersion ($dir)")
    }
    // a manifest knows its row count: a rows>0 bucket whose directory is
    // gone is DATA LOSS after commit, not a zero-row bucket — silently
    // filtering it would serve a short table and report success
    val commits = readCommits(dir, buckets, conf)
    val lost = commits.filter(c =>
      c.rows > 0 && !hExists(s"$dir/data/_bucket=${c.bucket}", conf))
    require(lost.isEmpty,
      s"committed buckets ${lost.map(_.bucket).mkString(",")} under $dir " +
        s"hold ${lost.map(_.rows).sum} rows per their manifests but their " +
        "data directories are missing — refusing to serve a silently " +
        "short table")
    val paths = commits.filter(_.rows > 0)
      .map(c => s"$dir/data/_bucket=${c.bucket}")
    require(paths.nonEmpty,
      s"all ${done.size} committed buckets under $dir are empty — the " +
        "table holds zero rows, and an empty frame would need a schema " +
        "this layer cannot invent")
    // basePath keeps the hive `_bucket` partition column in the schema
    spark.read.option("basePath", s"$dir/data").parquet(paths: _*)
  }

  /** Opt-in audit: re-read each committed bucket's parquet and recompute
    * (rows, checksum); returns buckets whose recomputation DISAGREES with
    * the manifest (empty = table verified). This is the round-2 manifest
    * construction demoted to a verification tool — run it when you
    * suspect corruption, not on every write.
    */
  def verifyCommits(spark: SparkSession, dir: String,
                    buckets: Int): Seq[Int] = {
    val conf = spark.sessionState.newHadoopConf()
    readCommits(dir, buckets, conf).flatMap { c =>
      // an old-layout table keeps its data at paths this audit never
      // reads — report the layout mismatch, not phantom corruption
      val layout = readLayout(dir, c.bucket, conf)
      require(layout == LayoutVersion,
        s"verify layout mismatch on bucket ${c.bucket}: committed " +
          s"layout=$layout, this build reads layout=$LayoutVersion ($dir)")
      val truth = recomputeBucket(spark, dir, c.bucket)
      if (truth.rows == c.rows && truth.checksum == c.checksum) None
      else Some(c.bucket)
    }
  }

  /** Parse the lineage map back out of a bucket manifest. The object
    * body is matched structurally — quoted strings may contain braces,
    * and the capture stops at the first UNQUOTED close brace — so a
    * field appended after `lineage`, or a `{` inside a snapshot id,
    * cannot pollute the parsed map (a greedy `(.*)}` did both).
    */
  def readLineage(dir: String, bucket: Int,
                  conf: Configuration = defaultConf()): Map[String, String] = {
    val txt = hRead(commitPath(dir, bucket), conf).getOrElse(return Map.empty)
    val body = "\"lineage\":\\{((?:[^{}\"]|\"(?:[^\"\\\\]|\\\\.)*\")*)\\}".r
      .findFirstMatchIn(txt).map(_.group(1)).getOrElse("")
    "\"((?:[^\"\\\\]|\\\\.)*)\"\\s*:\\s*\"((?:[^\"\\\\]|\\\\.)*)\"".r
      .findAllMatchIn(body)
      .map(m => junescape(m.group(1)) -> junescape(m.group(2))).toMap
  }

  /** The total bucket count a manifest was committed under; manifests
    * predating the field report -1 (always a mismatch — resuming them
    * under ANY count is unverifiable).
    */
  def readBucketsTotal(dir: String, bucket: Int,
                       conf: Configuration = defaultConf()): Int =
    hRead(commitPath(dir, bucket), conf)
      .flatMap("\"buckets\":(\\d+)".r.findFirstMatchIn(_))
      .map(_.group(1).toInt).getOrElse(-1)

  /** The data layout version a bucket manifest was written under;
    * manifests predating the field (round 1) are layout 1.
    */
  def readLayout(dir: String, bucket: Int,
                 conf: Configuration = defaultConf()): Int =
    hRead(commitPath(dir, bucket), conf)
      .flatMap("\"layout\":(\\d+)".r.findFirstMatchIn(_))
      .map(_.group(1).toInt).getOrElse(1)

  /** Minimal JSON string escape/unescape for manifest fields — a quote
    * or backslash in a snapshot id must not corrupt the manifest.
    */
  private[graft] def jstr(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** `context` names the input being unescaped ("manifest", the DSv2
    * `paths` option, …) so a malformed escape is reported against the
    * thing the caller actually passed, not a misleading fixed label.
    */
  private[graft] def junescape(s: String, context: String = "manifest"): String = {
    val b = new StringBuilder
    var i = 0
    while (i < s.length) {
      if (s.charAt(i) == '\\' && i + 1 < s.length) {
        s.charAt(i + 1) match {
          case 'n' => b += '\n'; i += 2
          case 'r' => b += '\r'; i += 2
          case 't' => b += '\t'; i += 2
          case 'u' =>
            // a truncated \uXX at end-of-string must fail as a named
            // input error, not a raw StringIndexOutOfBoundsException
            require(i + 6 <= s.length,
              s"malformed $context: truncated unicode escape in ${s.take(80)}")
            b += Integer.parseInt(s.substring(i + 2, i + 6), 16).toChar
            i += 6
          case c => b += c; i += 2
        }
      } else { b += s.charAt(i); i += 1 }
    }
    b.result()
  }

  /** Read back all committed bucket manifests (lineage + counters). */
  def readCommits(dir: String, buckets: Int,
                  conf: Configuration = defaultConf()): Seq[BucketCommit] =
    (0 until buckets).flatMap { k =>
      hRead(commitPath(dir, k), conf).map { txt =>
        val rows = "\"rows\":(\\d+)".r.findFirstMatchIn(txt).map(_.group(1).toLong)
        val sum = "\"checksum\":(-?\\d+)".r.findFirstMatchIn(txt).map(_.group(1).toLong)
        BucketCommit(k, rows.getOrElse(0L), sum.getOrElse(0L))
      }
    }

  // ------------------------------------------------------------------
  // Hadoop-FS manifest primitives (work on file://, hdfs://, s3a://)
  // ------------------------------------------------------------------

  private def hExists(path: String, conf: Configuration): Boolean = {
    val p = new HPath(path)
    p.getFileSystem(conf).exists(p)
  }

  private def hMkdirs(path: String, conf: Configuration): Unit = {
    val p = new HPath(path)
    p.getFileSystem(conf).mkdirs(p)
  }

  private def hRead(path: String, conf: Configuration): Option[String] = {
    val p = new HPath(path)
    val fs = p.getFileSystem(conf)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try Some(new String(org.apache.hadoop.io.IOUtils.readFullyToByteArray(in), "UTF-8"))
      finally in.close()
    }
  }

  /** Temp-file + atomic-rename commit (provably-once manifest publish,
    * SURVEY.md §7.4.5) through the Hadoop FS API — round 2 used
    * java.nio, which silently misbehaved on any non-local `dir`
    * (ADVICE r2).
    */
  private[graft] def atomicWrite(path: String, content: String,
                                 conf: Configuration = defaultConf()): Unit = {
    val fs = new HPath(path).getFileSystem(conf)
    val dst = fs.makeQualified(new HPath(path))
    val tmp = fs.makeQualified(new HPath(path + ".tmp"))
    fs.mkdirs(dst.getParent)
    val out = fs.create(tmp, true)
    try out.write(content.getBytes("UTF-8")) finally out.close()
    // FileSystem.rename publishes into an absent destination; it refuses
    // an existing one, which FileContext.rename(OVERWRITE) replaces
    // atomically. The local FileContext forks a `stat` process per
    // rename, so it is kept for replacement and as the fallback.
    if (fs.exists(dst) || !fs.rename(tmp, dst))
      FileContext.getFileContext(dst.toUri, conf)
        .rename(tmp, dst, Options.Rename.OVERWRITE)
  }
}
