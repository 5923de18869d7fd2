package graft.io

import graft.pipeline.SparkTestSession
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Gates for [[TableIO.mergeBuckets]] — the copy-on-write MERGE a
  * living KG table needs: exact upsert/delete semantics vs a driver
  * recompute, untouched buckets byte-identical, the audit green after a
  * merge, ambiguity/validation fail-fasts, both crash states of the
  * publish, the bucket lock, zero-row bucket handling, and lineage
  * preservation across merges.
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

  /** Every file of bucket `k`, data and manifest: relative path, size. */
  private def bucketListing(dir: String, k: Int): Seq[(String, Long)] = {
    val root = java.nio.file.Paths.get(dir)
    val files = Seq(root.resolve(s"data/_bucket=$k"),
      root.resolve(s"_commits/bucket-$k.json"))
      .filter(java.nio.file.Files.exists(_))
      .flatMap(p => java.nio.file.Files.walk(p).toArray.toSeq)
      .map(_.asInstanceOf[java.nio.file.Path])
      .filter(java.nio.file.Files.isRegularFile(_))
    files.map(f => (root.relativize(f).toString, java.nio.file.Files.size(f)))
      .sorted
  }

  /** The version directories of bucket `k` on disk. */
  private def versions(dir: String, k: Int): Set[String] =
    Option(new java.io.File(s"$dir/data/_bucket=$k").list())
      .fold(Set.empty[String])(_.toSet)

  /** The version directory bucket `k`'s manifest names. */
  private def named(dir: String, k: Int): String =
    "_v=" + TableIO.readManifest(dir, k,
      spark.sessionState.newHadoopConf()).get.data

  private def copyDir(src: String, dst: String): Unit = {
    val (s, d) = (java.nio.file.Paths.get(src), java.nio.file.Paths.get(dst))
    java.nio.file.Files.walk(s).forEach(p =>
      java.nio.file.Files.copy(p, d.resolve(s.relativize(p).toString)))
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
    // untouched buckets: same data files and manifests, same sizes
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
    // the manifests come from the merge write's own counters; a
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

  test("crash states of mergeBuckets: published rows only; next call reaps") {
    val base = baseRows(100)
    val dir = freshTable(base)
    val (kPub, kCrash) = (bucketOf(5L), bucketOf(6L))
    assume(kPub != kCrash)
    // (b) a merge published its manifest and crashed before reaping:
    // its superseded version is still on disk beside the published one
    val superseded = named(dir, kPub)
    val saved = java.nio.file.Files.createTempDirectory("superseded")
      .resolve("v")
    copyDir(s"$dir/data/_bucket=$kPub/$superseded", saved.toString)
    TableIO.mergeBuckets(spark, dir, Buckets, Seq("k"), Seq("k"),
      df(Seq((5L, "tag-new", 1L))), None)
    copyDir(saved.toString, s"$dir/data/_bucket=$kPub/$superseded")
    assert(versions(dir, kPub) == Set(named(dir, kPub), superseded))
    // (a) a merge wrote its version and crashed before publishing it
    df(Seq((6L, "tag-phantom", 2L))).coalesce(1)
      .write.parquet(s"$dir/data/_bucket=$kCrash/_v=crashed")
    assert(versions(dir, kCrash) == Set(named(dir, kCrash), "_v=crashed"))
    // readers and the audit see exactly the published rows
    val want = base.filterNot(_._1 == 5L).toSet + ((5L, "tag-new", 1L))
    assert(TableIO.readCommitted(spark, dir, Buckets).count() == want.size)
    assert(readBack(dir) == want)
    assert(TableIO.verifyCommits(spark, dir, Buckets).isEmpty)
    // the next merge on both buckets merges the published rows and
    // leaves only the versions it names
    val next = Seq((5L, "tag-next", 3L), (6L, "tag-next", 4L))
    TableIO.mergeBuckets(spark, dir, Buckets, Seq("k"), Seq("k"), df(next),
      None)
    Seq(kPub, kCrash).foreach(k =>
      assert(versions(dir, k) == Set(named(dir, k)), s"bucket $k"))
    assert(readBack(dir) == want.filterNot(r => r._1 == 5L || r._1 == 6L) ++
      next)
    assert(TableIO.verifyCommits(spark, dir, Buckets).isEmpty)
  }

  test("a second merge on an overlapping bucket fails fast on the bucket lock") {
    val base = baseRows(40)
    val dir = freshTable(base)
    val (kBusy, kFree) = (bucketOf(1L), bucketOf(2L))
    assume(kBusy != kFree)
    // a merge in flight on kBusy holds that bucket's lock
    val locks = new java.io.File(s"$dir/_locks")
    val busy = new java.io.File(locks, s"bucket-$kBusy.lock")
    locks.mkdirs()
    assert(busy.createNewFile())
    // merges on disjoint buckets do not wait for each other
    TableIO.mergeBuckets(spark, dir, Buckets, Seq("k"), Seq("k"),
      df(Seq((2L, "tag-free", 2L))), None)
    val ex = intercept[IllegalStateException] {
      TableIO.mergeBuckets(spark, dir, Buckets, Seq("k"), Seq("k"),
        df(Seq((1L, "tag-x", 1L), (2L, "tag-x", 1L))), None)
    }
    assert(ex.getMessage.contains("lock"), ex.getMessage)
    // the refused merge changed nothing and released what it took
    assert(locks.list().toSeq == Seq(busy.getName))
    val want = base.filterNot(_._1 == 2L).toSet + ((2L, "tag-free", 2L))
    assert(readBack(dir) == want)
    assert(busy.delete())
    TableIO.mergeBuckets(spark, dir, Buckets, Seq("k"), Seq("k"),
      df(Seq((1L, "tag-x", 1L), (2L, "tag-x", 1L))), None)
    assert(locks.list().isEmpty, "merge leaked a bucket lock")
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

  // A layout-3 manifest exactly as the hand-written writer before the
  // JSON codec wrote it: the lineage value holds a quote, a backslash,
  // braces, a newline, a tab, U+0001 and a non-ASCII letter.
  private val parentSnapshot = "s\"q\\b{x}\nl\tt\u0001é"
  private val parentManifest =
    """{"bucket":2,"rows":17,"checksum":-4242424242,"layout":3,"buckets":8,""" +
      """"data":"3d1f5a2e-9c4b-4e1a-8f27-0b6c2d9e7a13","lineage":""" +
      """{"snapshot":"s\"q\\b{x}\nl\tt""" + "\\u0001é" +
      """","source":"unit"}}"""

  /** Publish `text` as bucket `k`'s manifest and read it back. */
  private def manifestOf(text: String, k: Int): TableIO.Manifest = {
    val dir = java.nio.file.Files.createTempDirectory("manifest").toString
    TableIO.atomicWrite(s"$dir/_commits/bucket-$k.json", text)
    TableIO.readManifest(dir, k, spark.sessionState.newHadoopConf()).get
  }

  test("manifests written before the JSON codec load to the same values; the writer reproduces them") {
    val want = TableIO.Manifest(TableIO.BucketCommit(2, 17L, -4242424242L), 3, 8,
      "3d1f5a2e-9c4b-4e1a-8f27-0b6c2d9e7a13",
      Map("snapshot" -> parentSnapshot, "source" -> "unit"))
    assert(manifestOf(parentManifest, 2) == want)
    assert(Json.render(want.json) == parentManifest)
    // layout 1 had no layout, buckets or data field
    assert(manifestOf("""{"bucket":1,"rows":5,"checksum":-9,"lineage":{"snapshot":"old"}}""", 1) ==
      TableIO.Manifest(TableIO.BucketCommit(1, 5L, -9L), 1, -1, "", Map("snapshot" -> "old")))
    // the old escaper wrote \u0008, \u000c and \u001f where Jackson writes
    // \b, \f and \u001F: such values round-trip, their bytes differ
    val controls = want.copy(lineage = Map("snapshot" -> "a\bb\fc\u001fd\u000b"))
    assert(manifestOf(Json.render(controls.json), 2) == controls)
  }

  test("resume over manifests written before the JSON codec is a committed no-op") {
    val lineage = Map("snapshot" -> parentSnapshot, "source" -> "unit")
    val base = baseRows(60)
    val dir = freshTable(base, lineage)
    val conf = spark.sessionState.newHadoopConf()
    // the old writer's template and escaper, applied to each manifest
    def old(v: String) = "\"" + v.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    (0 until Buckets).foreach { k =>
      val m = TableIO.readManifest(dir, k, conf).get
      val lin = m.lineage.toSeq.sorted.map { case (a, b) => s"${old(a)}:${old(b)}" }
      TableIO.atomicWrite(s"$dir/_commits/bucket-$k.json",
        s"""{"bucket":$k,"rows":${m.commit.rows},"checksum":${m.commit.checksum},""" +
          s""""layout":3,"buckets":$Buckets,"data":${old(m.data)},""" +
          s""""lineage":{${lin.mkString(",")}}}""", conf)
    }
    val before = (0 until Buckets).map(bucketListing(dir, _))
    assert(TableIO.writeResumable(df(base), dir, Buckets, Seq("k"), lineage).isEmpty)
    assert((0 until Buckets).map(bucketListing(dir, _)) == before)
    assert(readBack(dir) == base.toSet)
  }
}
