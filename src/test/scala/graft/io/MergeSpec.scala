package graft.io

import graft.pipeline.SparkTestSession
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Gates for [[TableIO.mergeBuckets]] — the copy-on-write MERGE a
  * living KG table needs: exact upsert/delete semantics vs a driver
  * recompute, untouched buckets byte-identical, the audit green after a
  * merge, ambiguity/validation fail-fasts, both crash-window repairs,
  * zero-row bucket handling, and lineage preservation across merges.
  */
class MergeSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  val Buckets = 8

  private def baseRows(n: Int): Seq[(Long, String, Long)] =
    (0L until n).map(i => (i, s"tag-old-$i", i * 10))

  private def df(rows: Seq[(Long, String, Long)]): DataFrame = {
    import spark.implicits._
    rows.toDF("k", "tag", "v")
  }

  private def freshTable(rows: Seq[(Long, String, Long)],
                         lineage: Map[String, String] = Map.empty): String = {
    val dir = java.nio.file.Files.createTempDirectory("merge").toString
    TableIO.writeResumable(df(rows), dir, Buckets, Seq("k"), lineage)
    dir
  }

  /** The bucket a key routes to, via the writer's own expression —
    * computed once for the whole test key range (one job, not one per
    * lookup).
    */
  private lazy val bucketOf: Map[Long, Int] = {
    import spark.implicits._
    (0L until 1000L).toDF("k")
      .select(col("k"), pmod(hash(col("k")), lit(Buckets)).as("b"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
  }

  private def readBack(dir: String): Set[(Long, String, Long)] =
    TableIO.readCommitted(spark, dir, Buckets)
      .select(col("k"), col("tag"), col("v")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet

  private def bucketListing(dir: String, k: Int): Seq[(String, Long)] = {
    val d = new java.io.File(s"$dir/data/_bucket=$k")
    if (!d.exists()) Seq.empty
    else d.listFiles().filter(_.getName.endsWith(".parquet"))
      .map(f => (f.getName, f.length())).sorted.toSeq
  }

  test("merge semantics: replace / insert / delete, untouched buckets byte-identical") {
    val base = baseRows(200)
    val dir = freshTable(base)
    val upserts = Seq((5L, "tag-new-5", 555L), (10L, "tag-new-10", 101L),
      (300L, "tag-new-300", 3L))
    val deletes = Seq(7L, 11L, 999L) // 999 doesn't exist: silent no-op, counted 0
    val affectedBuckets = (upserts.map(_._1) ++ deletes).map(bucketOf).toSet
    val untouched = (0 until Buckets).filterNot(affectedBuckets)
    assume(untouched.nonEmpty) // the fixture must leave something untouched
    val before = untouched.map(k => k -> bucketListing(dir, k)).toMap
    import spark.implicits._
    val report = TableIO.mergeBuckets(spark, dir, Buckets,
      Seq("k"), Seq("k"), df(upserts),
      Some(deletes.toDF("k")))
    assert(report.affectedBuckets.toSet == affectedBuckets)
    assert(report.nUpserts == 3 && report.nDeleteKeys == 3)
    assert(report.nDeletedExisting == 2) // 999 was never there
    val want = base.filterNot(r => Set(5L, 7L, 10L, 11L)(r._1)).toSet ++
      upserts.toSet
    assert(readBack(dir) == want)
    assert(report.rowsAfter == report.rowsBefore - 4 + 3)
    // untouched buckets: same files, same sizes
    untouched.foreach(k => assert(bucketListing(dir, k) == before(k),
      s"bucket $k was rewritten by a merge that never touched it"))
    // manifests audit clean after the merge
    assert(TableIO.verifyCommits(spark, dir, Buckets).isEmpty)
    // a second identical-content merge of the same upserts is idempotent
    TableIO.mergeBuckets(spark, dir, Buckets, Seq("k"), Seq("k"),
      df(upserts), None)
    assert(readBack(dir) == want)
  }

  test("merge job count does not grow with the number of affected buckets") {
    val base = baseRows(200)
    // keys 0..199 over 8 buckets: every bucket is non-empty, so both
    // merges read old data through the same plan
    val byBucket = base.map(_._1).groupBy(bucketOf)
    assume(byBucket.size == Buckets)
    val oneBucket = byBucket.values.head.take(4)
    val fourBuckets = byBucket.values.take(4).map(_.head).toSeq
    val sc = spark.sparkContext
    // task and job events reach listeners asynchronously
    def drain(): Unit = {
      val bus = classOf[org.apache.spark.SparkContext]
        .getMethod("listenerBus").invoke(sc)
      bus.getClass.getMethod("waitUntilEmpty", classOf[Long])
        .invoke(bus, java.lang.Long.valueOf(60000L))
    }
    def mergeJobs(keys: Seq[Long]): (Int, TableIO.MergeReport) = {
      val dir = freshTable(base)
      val upserts = df(keys.map(k => (k, s"tag-new-$k", -k)))
      val jobs = new java.util.concurrent.atomic.AtomicInteger()
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          jobs.incrementAndGet()
      }
      drain()
      sc.addSparkListener(listener)
      val report =
        try {
          val r = TableIO.mergeBuckets(spark, dir, Buckets, Seq("k"),
            Seq("k"), upserts, None)
          drain()
          r
        } finally sc.removeSparkListener(listener)
      assert(TableIO.verifyCommits(spark, dir, Buckets).isEmpty)
      (jobs.get, report)
    }
    val (jobs1, r1) = mergeJobs(oneBucket)
    val (jobs4, r4) = mergeJobs(fourBuckets)
    assert(r1.affectedBuckets.length == 1 && r4.affectedBuckets.length == 4)
    // the staged manifests come from the merge write's own counters; a
    // read-back of each affected bucket would add jobs per bucket
    assert(jobs4 == jobs1,
      s"a 4-bucket merge launched $jobs4 jobs, a 1-bucket merge $jobs1")
  }

  test("fail-fasts: ambiguous key, bad key/bucket columns, uncommitted table") {
    import spark.implicits._
    val dir = freshTable(baseRows(50))
    intercept[IllegalArgumentException] { // key both upserted and deleted
      TableIO.mergeBuckets(spark, dir, Buckets, Seq("k"), Seq("k"),
        df(Seq((5L, "x", 1L))), Some(Seq(5L).toDF("k")))
    }
    intercept[IllegalArgumentException] { // keyCols must contain bucketCols
      TableIO.mergeBuckets(spark, dir, Buckets, Seq("k"), Seq("tag"),
        df(Seq((5L, "x", 1L))), None)
    }
    intercept[IllegalArgumentException] { // wrong upsert schema (missing col)
      TableIO.mergeBuckets(spark, dir, Buckets, Seq("k"), Seq("k"),
        Seq((5L, "x")).toDF("k", "tag"), None)
    }
    intercept[IllegalArgumentException] { // not a resumable table
      val empty = java.nio.file.Files.createTempDirectory("nontable").toString
      TableIO.mergeBuckets(spark, dir = empty, Buckets, Seq("k"), Seq("k"),
        df(Seq((5L, "x", 1L))), None)
    }
  }

  test("crash between swap renames: rolled back, merge re-runs to the right state") {
    val base = baseRows(100)
    val dir = freshTable(base)
    val key = 5L
    val k = bucketOf(key)
    // simulate the worst window: live dir renamed aside, a staged
    // manifest from the dead merge left behind, live missing
    val live = new java.io.File(s"$dir/data/_bucket=$k")
    val backup = new java.io.File(s"$dir/data/.premerge-$k")
    assert(live.exists())
    assert(live.renameTo(backup))
    new java.io.File(s"$dir/_merge_tmp").mkdirs()
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$dir/_merge_tmp/manifest-$k.json"),
      s"""{"bucket":$k,"rows":1,"checksum":42,"layout":2,"buckets":$Buckets,"lineage":{}}"""
        .getBytes("UTF-8"))
    // a reader in the crash window fails LOUDLY, not short
    intercept[Exception] {
      TableIO.readCommitted(spark, dir, Buckets).count()
    }
    // the next merge repairs (roll back) and then applies its delta
    val report = TableIO.mergeBuckets(spark, dir, Buckets, Seq("k"),
      Seq("k"), df(Seq((key, "tag-new", 1L))), None)
    assert(report.affectedBuckets.contains(k))
    assert(!backup.exists())
    assert(!new java.io.File(s"$dir/_merge_tmp/manifest-$k.json").exists())
    val want = base.filterNot(_._1 == key).toSet + ((key, "tag-new", 1L))
    assert(readBack(dir) == want)
    assert(TableIO.verifyCommits(spark, dir, Buckets).isEmpty)
  }

  test("crash after manifest install: rolled forward (backup reclaimed)") {
    val base = baseRows(100)
    val dir = freshTable(base)
    val k = 3
    // simulate: swap + manifest install done, backup + staged not cleaned
    val live = java.nio.file.Paths.get(s"$dir/data/_bucket=$k")
    val backup = java.nio.file.Paths.get(s"$dir/data/.premerge-$k")
    assume(java.nio.file.Files.exists(live))
    // backup = a copy of live (content identical stands in for "old")
    java.nio.file.Files.createDirectory(backup)
    java.nio.file.Files.list(live).forEach { f =>
      java.nio.file.Files.copy(f, backup.resolve(f.getFileName.toString))
    }
    new java.io.File(s"$dir/_merge_tmp").mkdirs()
    val installed = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$dir/_commits/bucket-$k.json")), "UTF-8")
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$dir/_merge_tmp/manifest-$k.json"),
      installed.getBytes("UTF-8")) // staged == installed → swap completed
    // any merge touching the bucket rolls forward (reclaims the backup)
    // without disturbing the live data
    val someKeyInK = (0L until 100L).find(bucketOf(_) == k).get
    val report = TableIO.mergeBuckets(spark, dir, Buckets, Seq("k"),
      Seq("k"), df(Seq((someKeyInK, "tag-fwd", 9L))), None)
    assert(report.affectedBuckets.contains(k))
    assert(!java.nio.file.Files.exists(backup))
    val want = base.filterNot(_._1 == someKeyInK).toSet +
      ((someKeyInK, "tag-fwd", 9L))
    assert(readBack(dir) == want)
  }

  test("no-op replay crash between renames rolls BACK (manifest equality alone must not reclaim the backup)") {
    val base = baseRows(100)
    val dir = freshTable(base)
    val key = 7L
    val k = bucketOf(key)
    // simulate an at-least-once REPLAY of an already-applied merge
    // crashing between the two renames: live parked in the backup, and
    // the staged manifest BYTE-IDENTICAL to the committed one (a
    // content-no-op merge re-stages exactly what is installed). The old
    // discriminator (installed == staged ⇒ roll forward) would delete
    // the backup — the only copy of the bucket.
    val live = new java.io.File(s"$dir/data/_bucket=$k")
    val backup = new java.io.File(s"$dir/data/.premerge-$k")
    assert(live.exists())
    assert(live.renameTo(backup))
    new java.io.File(s"$dir/_merge_tmp").mkdirs()
    val installed = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$dir/_commits/bucket-$k.json")), "UTF-8")
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$dir/_merge_tmp/manifest-$k.json"),
      installed.getBytes("UTF-8"))
    // the next merge must restore the backup, then apply its delta —
    // nothing lost
    val report = TableIO.mergeBuckets(spark, dir, Buckets, Seq("k"),
      Seq("k"), df(Seq((key, "tag-replay", 1L))), None)
    assert(report.affectedBuckets.contains(k))
    assert(!backup.exists())
    val want = base.filterNot(_._1 == key).toSet + ((key, "tag-replay", 1L))
    assert(readBack(dir) == want)
    assert(TableIO.verifyCommits(spark, dir, Buckets).isEmpty)
  }

  test("crash after tmp→live rename into a previously-EMPTY bucket: uncommitted rows rolled back, never resurrected") {
    // all base keys routed to ONE bucket leave the rest committed-empty
    // (rows=0 manifest, no dir — writeResumable's contract)
    val k0 = bucketOf(0L)
    val base = (0L until 1000L).filter(bucketOf(_) == k0).take(20)
      .map(i => (i, s"tag-old-$i", i * 10))
    val dir = freshTable(base)
    val kEmpty = (0 until Buckets).find(_ != k0).get
    val keyNew = (0L until 1000L).find(bucketOf(_) == kEmpty).get
    val live = new java.io.File(s"$dir/data/_bucket=$kEmpty")
    assert(!live.exists(), "fixture bucket must start empty")
    // simulate the crash window an empty-origin merge leaves: tmp data
    // renamed into place (live dir holds the dead merge's UNCOMMITTED
    // rows), staged manifest present, committed manifest still rows=0,
    // and NO backup (live never existed, so no rename-aside happened)
    val tmp = java.nio.file.Files.createTempDirectory("phantom").toString
    df(Seq((keyNew, "tag-phantom", 1L))).coalesce(1)
      .write.mode("overwrite").parquet(tmp)
    assert(new java.io.File(tmp).renameTo(live))
    new java.io.File(s"$dir/_merge_tmp").mkdirs()
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$dir/_merge_tmp/manifest-$kEmpty.json"),
      s"""{"bucket":$kEmpty,"rows":1,"checksum":42,"layout":2,"buckets":$Buckets,"lineage":{}}"""
        .getBytes("UTF-8"))
    // the next merge must DISCARD the phantom rows (they never
    // committed), then apply its own delta — the pre-fix repair kept
    // the live dir, and the merge read "tag-phantom" as committed old
    // data and silently committed it
    val report = TableIO.mergeBuckets(spark, dir, Buckets, Seq("k"),
      Seq("k"), df(Seq((keyNew, "tag-new", 2L))), None)
    assert(report.affectedBuckets.contains(kEmpty))
    assert(!new java.io.File(s"$dir/_merge_tmp/manifest-$kEmpty.json").exists())
    val got = readBack(dir)
    assert(!got.exists(_._2 == "tag-phantom"),
      "a crashed merge's uncommitted rows were resurrected as committed data")
    assert(got == base.toSet + ((keyNew, "tag-new", 2L)))
    assert(TableIO.verifyCommits(spark, dir, Buckets).isEmpty)
  }

  test("merges serialize on the table lock (shared staging area)") {
    val dir = freshTable(baseRows(40))
    new java.io.File(s"$dir/_merge_tmp").mkdirs()
    val lock = new java.io.File(s"$dir/_merge_tmp/_merge.lock")
    assert(lock.createNewFile())
    val ex = intercept[IllegalStateException] {
      TableIO.mergeBuckets(spark, dir, Buckets, Seq("k"), Seq("k"),
        df(Seq((1L, "tag-x", 1L))), None)
    }
    assert(ex.getMessage.contains("single-process per table"),
      ex.getMessage)
    assert(lock.delete())
    // lock released → merge proceeds, and releases its own lock after
    TableIO.mergeBuckets(spark, dir, Buckets, Seq("k"), Seq("k"),
      df(Seq((1L, "tag-x", 1L))), None)
    assert(!lock.exists(), "merge leaked its table lock")
  }

  test("a table merged down to zero rows accepts a later merge") {
    import spark.implicits._
    val base = baseRows(30)
    val dir = freshTable(base)
    // merge 1: delete EVERY row — all bucket dirs vanish (committed
    // rows=0 buckets), and a raw parquet read of data/ can no longer
    // infer a schema
    TableIO.mergeBuckets(spark, dir, Buckets, Seq("k"), Seq("k"),
      df(Seq.empty[(Long, String, Long)]),
      Some(base.map(_._1).toDF("k")))
    assert(TableIO.readCommits(dir, Buckets,
      spark.sessionState.newHadoopConf()).map(_.rows).sum == 0L)
    // merge 2: the table must accept new rows (schema from the upserts)
    val report = TableIO.mergeBuckets(spark, dir, Buckets, Seq("k"),
      Seq("k"), df(Seq((3L, "tag-back", 33L))), None)
    assert(report.rowsAfter == 1L)
    assert(readBack(dir) == Set((3L, "tag-back", 33L)))
    assert(TableIO.verifyCommits(spark, dir, Buckets).isEmpty)
  }

  test("deleting every row of a bucket leaves a committed rows=0 bucket") {
    val base = baseRows(120)
    val dir = freshTable(base)
    val k = 2
    import spark.implicits._
    val keysInK = base.map(_._1).filter(bucketOf(_) == k)
    assume(keysInK.nonEmpty)
    val report = TableIO.mergeBuckets(spark, dir, Buckets, Seq("k"),
      Seq("k"), df(Seq.empty[(Long, String, Long)]),
      Some(keysInK.toDF("k")))
    assert(report.commits.find(_.bucket == k).get.rows == 0L)
    assert(!new java.io.File(s"$dir/data/_bucket=$k").exists())
    val want = base.filterNot(r => keysInK.contains(r._1)).toSet
    assert(readBack(dir) == want)
    assert(TableIO.verifyCommits(spark, dir, Buckets).isEmpty)
  }

  test("lineage preserved across merges; resume stays a committed no-op") {
    val lineage = Map("snapshot" -> "s-42", "source" -> "unit")
    val base = baseRows(80)
    val dir = freshTable(base, lineage)
    TableIO.mergeBuckets(spark, dir, Buckets, Seq("k"), Seq("k"),
      df(Seq((1L, "tag-m", 7L))), None)
    (0 until Buckets).foreach { k =>
      assert(TableIO.readLineage(dir, k) == lineage,
        s"bucket $k lineage changed across the merge")
    }
    // resume under the original lineage: everything is committed → no-op
    val resumed = TableIO.writeResumable(df(base), dir, Buckets,
      Seq("k"), lineage)
    assert(resumed.isEmpty)
  }
}
