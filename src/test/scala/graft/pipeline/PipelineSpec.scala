package graft.pipeline

import graft.core._
import graft.{NerfModel, KgMain}
import graft.io.TableIO
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

object SparkTestSession {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  /** `body`'s result and the number of Spark jobs it launched. */
  def jobsOf[A](body: => A): (A, Int) = {
    val sc = spark.sparkContext
    // job events reach listeners asynchronously
    def drain(): Unit = {
      val bus = classOf[org.apache.spark.SparkContext]
        .getMethod("listenerBus").invoke(sc)
      bus.getClass.getMethod("waitUntilEmpty", classOf[Long])
        .invoke(bus, java.lang.Long.valueOf(60000L))
    }
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    drain()
    sc.addSparkListener(listener)
    try {
      val a = body
      drain()
      (a, jobs.get)
    } finally sc.removeSparkListener(listener)
  }
}

class PipelineSpec extends AnyFunSuite with BeforeAndAfterAll {
  import SparkTestSession.jobsOf
  lazy val spark = SparkTestSession.spark
  lazy val model = KgMain.model

  /** The version directory bucket `k`'s manifest names. */
  private def livePath(dir: String, k: Int): String =
    TableIO.versionPath(dir, k, TableIO.readManifest(dir, k,
      spark.sessionState.newHadoopConf()).get.data)

  /** The version directories of bucket `k` on disk. */
  private def versions(dir: String, k: Int): Set[String] =
    Option(new java.io.File(s"$dir/data/_bucket=$k").list())
      .fold(Set.empty[String])(_.toSet)

  private def copyDir(src: String, dst: String): Unit = {
    val (s, d) = (java.nio.file.Paths.get(src), java.nio.file.Paths.get(dst))
    java.nio.file.Files.walk(s).forEach(p =>
      java.nio.file.Files.copy(p, d.resolve(s.relativize(p).toString)))
  }

  test("detectMentions finds entities in synthesized files, partition-independent") {
    import spark.implicits._
    val files1 = KgPipeline.synthInput(spark, 50, partitions = 1)
    val files4 = KgPipeline.synthInput(spark, 50, partitions = 4)
    val m1 = KgPipeline.detectMentions(spark, files1, model)
      .collect().sortBy(m => (m.repo, m.path, m.sentIdx, m.begin, m.end, m.depth))
    val m4 = KgPipeline.detectMentions(spark, files4, model)
      .collect().sortBy(m => (m.repo, m.path, m.sentIdx, m.begin, m.end, m.depth))
    assert(m1.nonEmpty, "no mentions detected")
    assert(m1.toSeq == m4.toSeq, "mention set depends on partitioning")
  }

  test("mentions match per-sentence golden decodings (P/R = 1 vs core ner)") {
    import spark.implicits._
    val files = KgPipeline.synthInput(spark, 30, partitions = 2)
    val got = KgPipeline.detectMentions(spark, files, model).collect()
    // oracle: run the same model sequentially on the driver
    val expected = files.collect().flatMap { f =>
      KgPipeline.sentencesOf(f.lang, f.content).zipWithIndex.flatMap {
        case (s, si) =>
          val (toks, spans) = model.mentions(s)
          spans.map(sp => (f.repo, f.path, si, sp.begin, sp.end, sp.depth, sp.neType))
      }
    }.toSet
    val gotSet = got.map(m => (m.repo, m.path, m.sentIdx, m.begin, m.end, m.depth, m.neType)).toSet
    assert(gotSet == expected)
  }

  test("linking resolves exact-surface mentions to the right KB entity") {
    import spark.implicits._
    val files = KgPipeline.synthInput(spark, 40, partitions = 2)
    val ments = KgPipeline.detectMentions(spark, files, model)
    val kb = KgPipeline.kbAliasDf(spark, Synth.knowledgeBase)
    val linked = KgPipeline.linkMentions(spark, ments, kb)
    val rows = linked.collect()
    assert(rows.nonEmpty)
    // every persName mention whose surface is exactly a vocabulary
    // "Forename Surname" pair must link to per:Forename_Surname
    val fore = Synth.forenames.map(_.toLowerCase).toSet
    val sur = Synth.surnames.map(_.toLowerCase).toSet
    val persons = rows.filter { r =>
      r.getAs[String]("neType") == "persName" &&
        (r.getAs[String]("surface_norm").split(" ") match {
          case Array(f, s) => fore(f) && sur(s)
          case _ => false
        })
    }
    assert(persons.nonEmpty)
    persons.foreach { r =>
      val surf = r.getAs[String]("surface_norm").split(" ")
        .map(_.capitalize).mkString("_")
      assert(r.getAs[String]("entity_id") == s"per:$surf",
        s"${r.getAs[String]("surface_norm")} -> ${r.getAs[String]("entity_id")}")
    }
  }

  test("link merges duplicate input rows; a path at two commits is two sites") {
    import spark.implicits._
    def multiset(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toSeq.mkString("\u0001")).toSeq.sorted
    val files = KgPipeline.synthInput(spark, 20, partitions = 2)
    val once = KgPipeline.run(spark, files, model)
    val twice = KgPipeline.run(spark, files.union(files), model)
    try {
      val linked = multiset(once.linked)
      assert(linked.nonEmpty)
      assert(multiset(twice.linked) == linked,
        "a duplicated input row must link to the same rows as one copy")
      assert(multiset(twice.triples) == multiset(once.triples),
        "a duplicated input row must not duplicate any triple")
    } finally {
      KgPipeline.release(spark, once); KgPipeline.release(spark, twice)
    }
    // the same repo/path at a second commit is a distinct provenance
    // site: every hasEntity row appears once per commit
    val f = files.collect().find { f =>
      KgPipeline.sentencesOf(f.lang, f.content)
        .exists(s => model.mentions(s)._2.nonEmpty)
    }.get
    val other = "c" * 40
    def hasEntity(r: KgPipeline.Result) = r.triples
      .where(col("pred") === "hasEntity")
      .select("subj", "obj", "src_repo", "src_path", "src_commit")
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2),
        r.getString(3), r.getString(4))).toSeq
    val one = KgPipeline.run(spark, Seq(f).toDS(), model)
    val two = KgPipeline.run(spark, Seq(f, f.copy(commit = other)).toDS(),
      model)
    try {
      val base = hasEntity(one)
      assert(base.nonEmpty)
      val bySite = hasEntity(two).groupBy(t => (t._1, t._2, t._3, t._4))
      assert(bySite.keySet == base.map(t => (t._1, t._2, t._3, t._4)).toSet)
      bySite.foreach { case (k, rows) =>
        assert(rows.map(_._5).sorted == Seq(f.commit, other).sorted,
          s"$k: expected one row per commit, differing only in src_commit: $rows")
      }
    } finally {
      KgPipeline.release(spark, one); KgPipeline.release(spark, two)
    }
  }

  test("connected components: min-label over a known graph") {
    import spark.implicits._
    val edges = Seq(("a", "b"), ("b", "c"), ("x", "y"), ("p", "p"))
      .toDF("src", "dst")
    val comps = KgPipeline.connectedComponents(edges)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(comps("a") == "a" && comps("b") == "a" && comps("c") == "a")
    assert(comps("x") == "x" && comps("y") == "x")
    assert(comps("p") == "p")
  }

  test("canonicalization merges shared-alias entities; triples materialize") {
    import spark.implicits._
    val files = KgPipeline.synthInput(spark, 60, partitions = 2)
    val result = KgPipeline.run(spark, files, model)
    val t = result.triples.collect()
    assert(t.nonEmpty)
    val preds = t.map(_.getAs[String]("pred")).toSet
    assert(preds == Set("hasEntity", "hasType"))
    // every hasEntity object has at least one hasType triple
    val canonIds = t.filter(_.getAs[String]("pred") == "hasEntity")
      .map(_.getAs[String]("obj")).toSet
    val typed = t.filter(_.getAs[String]("pred") == "hasType")
      .map(_.getAs[String]("subj")).toSet
    assert(canonIds.subsetOf(typed))
    // the pipeline's own output audits CLEAN on every defect metric —
    // the publish gate a production run holds its table to
    val audit = KgPipeline.kgAudit(spark, result.triples)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(audit("dangling_entities") == 0L, audit.toString)
    assert(audit("orphan_typed_entities") == 0L, audit.toString)
    assert(audit("duplicate_triples") == 0L, audit.toString)
    assert(audit("null_key_triples") == 0L, audit.toString)
    assert(audit("triples_total") == t.length.toLong)
    assert(audit("entities_referenced") == canonIds.size.toLong)
    assert(audit("entities_typed") == typed.size.toLong)
  }

  test("matchPattern: BGP joins, repeated-var equality, cross product, guards") {
    import spark.implicits._
    val trip = Seq[(String, String, String)](
      ("m:1", "hasEntity", "e:a"),
      ("m:2", "hasEntity", "e:a"),
      ("m:3", "hasEntity", "e:b"),
      ("e:a", "hasType", "person"),
      ("e:a", "hasType", "person"), // duplicate row: distinct-bindings case
      ("e:b", "hasType", "org"),
      ("e:x", "hasEntity", "e:x"), // self-reference for the repeated-var case
      (null, "hasEntity", "e:a")   // null-key row: must match NO pattern
    ).toDF("subj", "pred", "obj")
    def rows(df: org.apache.spark.sql.DataFrame): Set[Seq[String]] =
      df.collect().map(_.toSeq.map(_.asInstanceOf[String])).toSet
    // two-pattern join on ?e with a bound object
    val persons = KgPipeline.matchPattern(trip,
      Seq(("?m", "hasEntity", "?e"), ("?e", "hasType", "person")))
    assert(persons.columns.toSeq == Seq("e", "m"))
    assert(rows(persons) == Set(Seq("e:a", "m:1"), Seq("e:a", "m:2")))
    // unbound type variable rides along
    val typed = KgPipeline.matchPattern(trip,
      Seq(("?m", "hasEntity", "?e"), ("?e", "hasType", "?t")))
    assert(rows(typed) == Set(
      Seq("e:a", "m:1", "person"), Seq("e:a", "m:2", "person"),
      Seq("e:b", "m:3", "org")))
    // a variable repeated WITHIN a pattern is an equality filter
    val selfRef = KgPipeline.matchPattern(trip,
      Seq(("?x", "hasEntity", "?x")))
    assert(rows(selfRef) == Set(Seq("e:x")))
    // disconnected patterns compose as a cross product (legal SPARQL)
    val cross = KgPipeline.matchPattern(trip,
      Seq(("?e", "hasType", "person"), ("?f", "hasType", "org")))
    assert(rows(cross) == Set(Seq("e:a", "e:b")))
    // DISTINCT bindings: the duplicated (e:a, hasType, person) row
    // must yield ONE binding row, not two (count, not set — a set
    // comparison would mask a missing distinct)
    val justT = KgPipeline.matchPattern(trip,
      Seq(("e:a", "hasType", "?t")))
    assert(justT.count() == 1L && rows(justT) == Set(Seq("person")))
    // the null-subj mention row binds nothing — not in single-pattern
    // results (no phantom NULL binding) and not via joins
    val allMents = KgPipeline.matchPattern(trip,
      Seq(("?m", "hasEntity", "?e")))
    assert(!allMents.collect().exists(_.anyNull))
    assert(allMents.count() == 4L) // m:1, m:2, m:3, e:x — not the null row
    intercept[IllegalArgumentException] { // fully-ground pattern
      KgPipeline.matchPattern(trip, Seq(("m:1", "hasEntity", "e:a")))
    }
    intercept[IllegalArgumentException] { // bare '?'
      KgPipeline.matchPattern(trip, Seq(("?", "hasEntity", "?e")))
    }
    intercept[IllegalArgumentException] { // empty pattern list
      KgPipeline.matchPattern(trip, Seq.empty)
    }
  }

  test("matchPattern: joins reorder most-selective-first, results unchanged") {
    import spark.implicits._
    // deliberately WORST-ordered: the unbound scan first, the 2-bound
    // pattern last — the engine must start from the 2-bound pattern,
    // then stay connected (?e), and only then take the rest
    val worst = Seq(
      ("?m", "?p", "?e"),            // 0 bound
      ("?m", "hasEntity", "?e"),     // 1 bound
      ("?e", "hasType", "person"))   // 2 bound
    assert(KgPipeline.orderPatterns(worst) == Seq(
      ("?e", "hasType", "person"),
      ("?m", "hasEntity", "?e"),
      ("?m", "?p", "?e")))
    // after the (disconnected) most-bound start, connectivity keeps
    // the ?e chain together — the cross product opens once, not twice
    val grouped = Seq(
      ("?m", "hasEntity", "?e"),     // 1 bound
      ("?f", "hasType", "org"),      // 2 bound, disconnected from ?e/?m
      ("?e", "hasType", "?t"))       // 1 bound, connected via ?e
    assert(KgPipeline.orderPatterns(grouped) == Seq(
      ("?f", "hasType", "org"),      // most bound overall starts
      ("?m", "hasEntity", "?e"),     // then caller order among 1-bound
      ("?e", "hasType", "?t")))
    // ties break on caller order — deterministic plans
    val tied = Seq(("?a", "hasType", "?b"), ("?b", "hasType", "?c"))
    assert(KgPipeline.orderPatterns(tied) == tied)
    // end-to-end: worst-ordered call returns the same columns and the
    // same binding set as the caller-ordered round-6 evaluation
    val trip = Seq[(String, String, String)](
      ("m:1", "hasEntity", "e:a"), ("m:2", "hasEntity", "e:b"),
      ("e:a", "hasType", "person"), ("e:b", "hasType", "org")
    ).toDF("subj", "pred", "obj")
    val bad = KgPipeline.matchPattern(trip,
      Seq(("?m", "?p", "?e"), ("?e", "hasType", "person")))
    assert(bad.columns.toSeq == Seq("e", "m", "p"))
    assert(bad.collect().map(_.toSeq).toSet ==
      Set(Seq("e:a", "m:1", "hasEntity")))
  }

  test("ntriples: RDF escaping, distinct-set semantics, loud control-char refusal") {
    import spark.implicits._
    val trip = Seq(
      ("m:a", "hasEntity", "e:1"),
      ("m:a", "hasEntity", "e:1"), // duplicate row collapses (RDF = set)
      ("we ird%id", "hasEntity", "e<2>"), // IRI percent-encoding
      ("e:1", "hasType", "per\"son\\x\nend") // literal escapes
    ).toDF("subj", "pred", "obj")
    val lines = KgPipeline.ntriples(trip).collect().map(_.getString(0)).toSet
    assert(lines == Set(
      "<urn:graft:m:a> <urn:graft:pred:hasEntity> <urn:graft:e:1> .",
      "<urn:graft:we%20ird%25id> <urn:graft:pred:hasEntity> " +
        "<urn:graft:e%3C2%3E> .",
      "<urn:graft:e:1> <urn:graft:pred:hasType> " +
        "\"per\\\"son\\\\x\\nend\" ."))
    // a raw C0 control char has no N-Triples representation: refuse,
    // never emit a line no RDF parser will accept
    val ex = intercept[Exception] {
      KgPipeline.ntriples(
        Seq(("a\u0001b", "hasType", "t")).toDF("subj", "pred", "obj"))
        .collect()
    }
    assert(ex.getMessage != null)
    // NULL components refuse the same way — concat would otherwise
    // null the line and the text writer would emit a silent blank
    intercept[Exception] {
      KgPipeline.ntriples(
        Seq[(String, String, String)](("m:z", "hasEntity", null))
          .toDF("subj", "pred", "obj"))
        .collect()
    }
  }

  test("ntriples: seeded property roundtrip — every escaped line parses back to its triple") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    // every escapable special, plus multi-byte unicode that must pass
    // through untouched
    val alphabet = ("abcXYZ09:._-" + "%<>\"{}|^`\\ \n\r\t" + "łü€").toVector
    def randId() = (0 to rnd.nextInt(12))
      .map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString
    val trips = (1 to 300).map { i =>
      (randId(), if (i % 2 == 0) "hasEntity" else "hasType", randId())
    }.distinct
    val lines = KgPipeline.ntriples(trips.toDF("subj", "pred", "obj"))
      .collect().map(_.getString(0))
    assert(lines.length == trips.size)
    def unIri(s: String): String =
      "%([0-9A-F]{2})".r.replaceAllIn(s, m => scala.util.matching.Regex
        .quoteReplacement(Integer.parseInt(m.group(1), 16).toChar.toString))
    def unLit(s: String): String = {
      val b = new StringBuilder; var i = 0
      while (i < s.length) {
        if (s(i) == '\\' && i + 1 < s.length) {
          s(i + 1) match {
            case 'n' => b += '\n'
            case 'r' => b += '\r'
            case 't' => b += '\t'
            case c => b += c
          }
          i += 2
        } else { b += s(i); i += 1 }
      }
      b.toString
    }
    // escaped IRIs contain no '>'/space and literals no raw quote or
    // newline, so this grammar-faithful regex is unambiguous
    val Line =
      """^<urn:graft:([^>]*)> <urn:graft:pred:([^>]*)> (?:<urn:graft:([^>]*)>|"(.*)") \.$""".r
    val parsed = lines.map {
      case Line(s, p, o, l) =>
        (unIri(s), unIri(p), if (o != null) unIri(o) else unLit(l))
      case other => fail(s"unparseable N-Triples line: $other")
    }.toSet
    assert(parsed == trips.toSet)
  }

  test("kgAudit: every metric exact on a frame with planted defects") {
    import spark.implicits._
    val trip = Seq(
      // e:1 referenced + typed; e:2 referenced, NEVER typed (dangling);
      // e:3 typed twice (multi-typed) but never referenced (orphan);
      // one exact duplicate mention row (m:a appears twice); one
      // NULL-obj mention — counted as malformed, EXCLUDED from the id
      // sets (it must not read as a dangling reference to NULL)
      ("m:a", "hasEntity", "e:1"),
      ("m:a", "hasEntity", "e:1"),
      ("m:b", "hasEntity", "e:2"),
      ("m:z", "hasEntity", null),
      ("e:1", "hasType", "person"),
      ("e:3", "hasType", "person"),
      ("e:3", "hasType", "org")
    ).toDF("subj", "pred", "obj")
    val got = KgPipeline.kgAudit(spark, trip)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == Map(
      "triples_total" -> 7L,
      "mention_triples" -> 4L,       // raw pred count incl. the null row
      "type_triples" -> 3L,
      "entities_referenced" -> 2L,
      "entities_typed" -> 2L,
      "dangling_entities" -> 1L,   // e:2 — NOT the null obj
      "orphan_typed_entities" -> 1L, // e:3
      "multi_typed_entities" -> 1L,  // e:3
      "duplicate_triples" -> 1L,     // the repeated m:a row
      "null_key_triples" -> 1L))     // m:z
  }

  /** Triples with every defect class kgAudit counts, a NULL in each
    * key column, exact duplicates, `"｡"` and `"😀"` ids (U+FF61 sorts
    * before U+1F600 in UTF-8 bytes, Spark's order, after it in UTF-16
    * units) and two provenance columns.
    */
  private def defectTriples(): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    val (fw, emoji) = ("e:\uFF61", "e:" + new String(Character.toChars(0x1F600)))
    Seq[(String, String, String, String, Long)](
      ("m:1", "hasEntity", "e:a", "r1", 1L),
      ("m:1", "hasEntity", "e:a", "r1", 1L),   // exact duplicate
      ("m:1", "hasEntity", "e:a", "r2", 1L),   // same triple, other source
      ("m:2", "hasEntity", "e:b", "r1", 2L),   // e:b dangling
      ("m:3", "hasEntity", fw, "r1", 3L),
      ("m:4", "hasEntity", emoji, "r1", 4L),
      ("e:a", "hasType", "person", "r1", 5L),
      ("e:a", "hasType", "org", "r1", 5L),     // e:a multi-typed
      ("e:a", "hasType", "org", "r1", 5L),
      (fw, "hasType", "person", "r1", 6L),
      (emoji, "hasType", "org", "r2", 6L),
      ("x:1", "hasType", "person", "r1", 7L),  // orphan
      ("e:x", "hasEntity", "e:x", "r1", 8L),   // self reference
      ("m:7", "related", "m:1", "r3", 9L),
      (null, "hasEntity", "e:a", "r1", 10L),
      ("m:5", null, "e:a", "r1", 11L),
      ("m:6", "hasEntity", null, "r1", 12L),
      ("e:c", "hasType", null, "r1", 13L)
    ).toDF("subj", "pred", "obj", "src_repo", "src_line")
  }

  private def isLocal(df: org.apache.spark.sql.DataFrame): Boolean =
    df.queryExecution.optimizedPlan
      .isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation]

  private def sortedRows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toSeq.mkString("\u0000")).sorted.toSeq

  test("kgAudit: the driver path returns the distributed path's rows and schema") {
    val budget = KgPipeline.tripleCollectThreshold
    val trip = defectTriples()
    for (df <- Seq(trip, trip.drop("src_repo", "src_line"))) {
      val (local, jobs) = jobsOf(KgPipeline.kgAudit(spark, df, budget))
      assert(jobs == 0, s"the driver path over a local relation launched $jobs jobs")
      val dist = KgPipeline.kgAudit(spark, df, -1)
      assert(local.schema == dist.schema)
      assert(local.collect().toSeq == dist.collect().toSeq)
    }
    val got = KgPipeline.kgAudit(spark, trip, budget).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == Map("triples_total" -> 18L, "mention_triples" -> 9L,
      "type_triples" -> 7L, "entities_referenced" -> 5L,
      "entities_typed" -> 4L, "dangling_entities" -> 2L,
      "orphan_typed_entities" -> 1L, "multi_typed_entities" -> 1L,
      "duplicate_triples" -> 2L, "null_key_triples" -> 4L))
    // a double column groups as Spark groups doubles, not as Row equality
    // compares them: the distributed path runs
    val dbl = trip.withColumn("w", lit(0.5))
    val (viaSpark, jobs) = jobsOf(KgPipeline.kgAudit(spark, dbl, budget))
    assert(jobs > 0)
    assert(viaSpark.collect().toSeq == KgPipeline.kgAudit(spark, dbl, -1).collect().toSeq)
    // one row over the budget runs the distributed path
    val (over, overJobs) = jobsOf(KgPipeline.kgAudit(spark, trip, 17))
    assert(overJobs > 0)
    assert(over.collect().toSeq == KgPipeline.kgAudit(spark, trip, -1).collect().toSeq)
  }

  test("ntriples: the driver path returns the distributed path's rows and schema") {
    import spark.implicits._
    val budget = KgPipeline.tripleCollectThreshold
    val trip = defectTriples().na.drop(Seq("subj", "pred", "obj"))
      .union(Seq(("we ird%id", "hasType", "per\"son", "r9", 0L))
        .toDF("subj", "pred", "obj", "src_repo", "src_line"))
    val local = KgPipeline.ntriples(trip, budget)
    val dist = KgPipeline.ntriples(trip, -1)
    assert(isLocal(local) && !isLocal(dist))
    assert(local.schema == dist.schema)
    assert(sortedRows(local) == sortedRows(dist))
    assert(local.count() == 12L)
    // the refusals fire on both paths
    val bad = Seq(Seq[(String, String, String)](("m:z", "hasEntity", null)),
      Seq(("a\u0001b", "hasType", "t")))
    for (rows <- bad; t <- Seq(budget, -1))
      intercept[Exception] {
        KgPipeline.ntriples(rows.toDF("subj", "pred", "obj"), t).collect()
      }
  }

  test("matchPattern: the driver path returns the distributed path's rows and schema") {
    val budget = KgPipeline.tripleCollectThreshold
    val trip = defectTriples()
    val bgps = Seq(
      Seq(("?m", "hasEntity", "?e"), ("?e", "hasType", "?t")),  // q91
      Seq(("?x", "hasEntity", "?x")),                           // repeated var
      Seq(("?e", "hasType", "person"), ("?f", "hasType", "org")), // cross product
      Seq(("?m", "?p", "?e"), ("?e", "hasType", "person")),
      Seq(("?m", "hasEntity", "?e"), ("?f", "hasType", "org"), ("?e", "?q", "?t")),
      Seq(("?s", "?p", "?o")),
      Seq(("e:a", "hasType", "?t")),
      Seq(("?m", "hasEntity", "e:nowhere"), ("?m", "?p", "?o")))
    for (bgp <- bgps) {
      val local = KgPipeline.matchPattern(trip, bgp, budget)
      val dist = KgPipeline.matchPattern(trip, bgp, -1)
      assert(isLocal(local), bgp)
      assert(local.schema == dist.schema, bgp)
      assert(local.columns.toSeq == KgPipeline.matchPattern(trip, bgp).columns.toSeq)
      assert(sortedRows(local) == sortedRows(dist), bgp)
      assert(local.count() == local.distinct().count(), bgp)
    }
    // 18 rows fit a budget of 20, but the cross product of the 11
    // distinct non-NULL triples with themselves does not: the
    // distributed plan runs
    val cross = Seq(("?a", "?p", "?b"), ("?c", "?q", "?d"))
    val over = KgPipeline.matchPattern(trip, cross, 20)
    assert(!isLocal(over))
    assert(sortedRows(over) == sortedRows(KgPipeline.matchPattern(trip, cross, -1)))
    assert(over.count() == 11L * 11L)
  }

  test("canonicalize: distributed CC path agrees with driver union-find") {
    import spark.implicits._
    val files = KgPipeline.synthInput(spark, 40, partitions = 2)
    val ments = KgPipeline.detectMentions(spark, files, model)
    val kb = KgPipeline.kbAliasDf(spark, Synth.knowledgeBase)
    val linked = KgPipeline.linkMentions(spark, ments, kb).cache()
    val viaDriver = KgPipeline.canonicalize(spark, linked, kb)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    // collectThreshold = 0 forces the iterative DataFrame CC path
    val viaDist = KgPipeline.canonicalize(spark, linked, kb, collectThreshold = 0)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    linked.unpersist()
    assert(viaDriver.nonEmpty)
    assert(viaDist == viaDriver, "distributed CC must match union-find")
  }

  test("canonicalize: ambiguous 2-entity alias does not bridge distinct canonicals") {
    import spark.implicits._
    // two genuinely distinct people share the bare alias "smith";
    // orgdup-style duplicates share canonical "Acme Corp"
    val kbAliases = Seq(
      ("john smith", "per:John_Smith", "persName", "John Smith"),
      ("smith", "per:John_Smith", "persName", "John Smith"),
      ("jane smith", "per:Jane_Smith", "persName", "Jane Smith"),
      ("smith", "per:Jane_Smith", "persName", "Jane Smith"),
      ("acme corp", "org:Acme_Corp", "orgName", "Acme Corp"),
      ("acmecorp", "org:Acme_Corp", "orgName", "Acme Corp"),
      ("acmecorp", "orgdup:Acme_Corp", "orgName", "Acme Corp"))
      .toDF("alias_norm", "entity_id", "entity_type", "canonical")
    val linked = Seq.empty[(String, String)].toDF("entity_id", "surface_norm")
    val canon = KgPipeline.canonicalize(spark, linked, kbAliases)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    // duplicate-source orgs (same canonical) merge
    assert(canon.get("orgdup:Acme_Corp") == Some("org:Acme_Corp"))
    // the two Smiths (distinct canonicals) must NOT merge through "smith"
    assert(canon.getOrElse("per:John_Smith", "per:John_Smith") == "per:John_Smith")
    assert(canon.getOrElse("per:Jane_Smith", "per:Jane_Smith") == "per:Jane_Smith")
  }

  test("snapshot write + sha256 invariant holds; resumable write resumes") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_io_test").toString
    val files = KgPipeline.synthInput(spark, 30, partitions = 2)
    TableIO.writeSnapshot(files.toDF(), s"$dir/snap", "test-snap")
    assert(TableIO.verifySnapshot(spark, s"$dir/snap") == 0)

    val result = KgPipeline.run(spark, files, model)
    val triples = result.triples
    val lin = Map("snapshot" -> "test-snap")

    // write only buckets 0-1, simulate crash, then resume
    val all = TableIO.writeResumable(triples, s"$dir/t1", 4,
      Seq("src_repo", "src_path"), lineage = lin)
    assert(all.map(_.bucket).toSet == Set(0, 1, 2, 3))
    // delete two commit markers to simulate partial failure
    java.nio.file.Files.delete(java.nio.file.Paths.get(s"$dir/t1/_commits/bucket-2.json"))
    java.nio.file.Files.delete(java.nio.file.Paths.get(s"$dir/t1/_commits/bucket-3.json"))
    val resumed = TableIO.writeResumable(triples, s"$dir/t1", 4,
      Seq("src_repo", "src_path"), lineage = lin)
    assert(resumed.map(_.bucket).toSet == Set(2, 3), "resume must only redo missing buckets")
    // resume under a DIFFERENT lineage must refuse, not mix inputs
    java.nio.file.Files.delete(java.nio.file.Paths.get(s"$dir/t1/_commits/bucket-3.json"))
    val ex = intercept[IllegalArgumentException] {
      TableIO.writeResumable(triples, s"$dir/t1", 4,
        Seq("src_repo", "src_path"), lineage = Map("snapshot" -> "OTHER"))
    }
    assert(ex.getMessage.contains("lineage mismatch"))
    // restore the correct-lineage commit for the assertions below
    TableIO.writeResumable(triples, s"$dir/t1", 4,
      Seq("src_repo", "src_path"), lineage = lin)
    // checksums of redone buckets match the originals (deterministic recompute)
    val orig = all.filter(c => c.bucket >= 2).map(c => c.bucket -> c.checksum).toMap
    resumed.foreach(c => assert(c.checksum == orig(c.bucket)))
    // total rows over commits == triple count
    val committed = TableIO.readCommits(s"$dir/t1", 4).map(_.rows).sum
    assert(committed == result.triples.count())
  }

  test("resumable write commits empty buckets (no resume wedge)") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_io_empty").toString
    // 3 rows into 64 buckets: most buckets get zero rows and no
    // partition directory — they must still commit rows=0
    val df = Seq(("r1", "a"), ("r2", "b"), ("r3", "c"))
      .toDF("src_repo", "src_path")
    val commits = TableIO.writeResumable(df, s"$dir/t", 64, Seq("src_repo"))
    assert(commits.length == 64, "every bucket must commit")
    assert(commits.map(_.rows).sum == 3)
    assert(commits.count(_.rows == 0) >= 60)
    // resume after full success is a no-op (nothing recomputed)
    val again = TableIO.writeResumable(df, s"$dir/t", 64, Seq("src_repo"))
    assert(again.isEmpty, "fully-committed table must resume to nothing")
  }

  test("manifest counters come from the write job itself — output never re-read") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_io_obs").toString
    val df = (1 to 500).map(i => (s"repo$i", s"path$i", s"body $i"))
      .toDF("src_repo", "src_path", "content")
    @volatile var jobs = 0
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs += 1
    }
    spark.sparkContext.addSparkListener(listener)
    val commits = try {
      val c = TableIO.writeResumable(df, s"$dir/t", 16, Seq("src_repo"))
      Thread.sleep(1000) // listener bus is async; let job-start events drain
      c
    } finally spark.sparkContext.removeSparkListener(listener)
    // round 2 re-read every written bucket to build its manifest: with 16
    // buckets that is >16 extra jobs after the write. The observe-based
    // manifest adds ZERO jobs — only the write itself runs (AQE may split
    // it into a couple of stage-jobs, hence <= 4, not == 1).
    assert(jobs <= 4, s"manifest publish launched extra jobs ($jobs) — " +
      "output is being re-read")
    assert(commits.map(_.rows).sum == 500)
    // the observed counters must agree with a ground-truth re-read
    assert(TableIO.verifyCommits(spark, s"$dir/t", 16).isEmpty,
      "observed manifest counters disagree with the written data")
  }

  test("a small write is sized to the data: one parquet file per non-empty bucket") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_io_files").toString
    // ~10 KB: far under one adaptive partition, so the rebalance must not
    // fan a bucket out over several tasks
    val df = (1 to 300).map(i => (s"repo${i % 11}", s"path$i", s"body $i"))
      .toDF("src_repo", "src_path", "content")
    val commits = TableIO.writeResumable(df, s"$dir/t", 4, Seq("src_repo"))
    assert(commits.map(_.rows).sum == 300)
    commits.foreach { c =>
      val d = new java.io.File(livePath(s"$dir/t", c.bucket))
      val files =
        if (d.exists()) d.listFiles().count(_.getName.endsWith(".parquet"))
        else 0
      assert(files == (if (c.rows > 0) 1 else 0),
        s"bucket ${c.bucket} (${c.rows} rows) was written as $files files")
    }
    assert(TableIO.verifyCommits(spark, s"$dir/t", 4).isEmpty)
  }

  test("one build and its committed write stay within the Spark job budget") {
    // fixed per-job cost dominates a build at benchmark size, so the
    // job count of KgPipeline.run + writeResumable is gated; the budget
    // may only tighten
    val budget = 8
    val dir = java.nio.file.Files.createTempDirectory("graft_io_jobs").toString
    val files = KgPipeline.synthInput(spark, 40, partitions = 2)
    val (r, jobs) = jobsOf {
      val r = KgPipeline.run(spark, files, model)
      TableIO.writeResumable(r.triples, s"$dir/t", 16,
        Seq("src_repo", "src_path"))
      r
    }
    KgPipeline.release(spark, r, blocking = true)
    assert(TableIO.verifyCommits(spark, s"$dir/t", 16).isEmpty)
    assert(jobs <= budget,
      s"one build launched $jobs Spark jobs, budget $budget")
  }

  test("fileEntities broadcasts a driver-built canon map without running a job") {
    val files = KgPipeline.synthInput(spark, 40, partitions = 2)
    val r = KgPipeline.run(spark, files, model)
    val (plan, jobs) = jobsOf {
      graft.queries.PipelineQueries.fileEntities(r)
        .queryExecution.executedPlan.toString
    }
    KgPipeline.release(spark, r, blocking = true)
    assert(jobs == 0, s"building fileEntities launched $jobs jobs")
    assert(plan.contains("BroadcastHashJoin"), plan)
  }

  // One warmed call plus the collect of its result. The KG-group
  // queries read the memoized pipeline (`PipelineQueries` sizes it from
  // the directory name: 60 files at sf0.001), so a warm-up call builds
  // it first, as the benchmark's warm-up pass does, and only the query
  // is counted. The budgets may only tighten. q83, q88 and q90 collect
  // their (context, item) rows once and finish on the driver; before
  // that a call launched 12 (q83), 11 (q88) and 16 (q90) jobs. q87, q89
  // and q91 build their triple set from one `events` collect and finish
  // on the driver (the parquet schema read and that collect); before
  // that a call launched 14, 6 and 7. The others are pinned at the
  // counts measured when the budgets were set.
  for ((key, budget) <- Seq("q40_ner_mentions" -> 2, "q41_linked" -> 2,
         "q42_canonical" -> 3, "q43_triples" -> 3, "q90_related_entities" -> 4,
         "q82_pagerank_dyadic" -> 5, "q87_kg_audit" -> 2,
         "q88_comention_lift" -> 2, "q89_ntriples" -> 2,
         "q91_pattern_query" -> 2))
    test(s"one warmed $key call and the collect of its result stay within the Spark job budget") {
      val dir = "perfbench/data/sf0.001"
      val query = graft.SparkEntry.queries(key)
      query(spark, dir).collect()
      val (rows, jobs) = jobsOf(query(spark, dir).collect())
      assert(rows.nonEmpty)
      assert(jobs <= budget, s"one $key call launched $jobs Spark jobs, budget $budget")
    }

  test("one q83 call and the collect of its result stay within the Spark job budget") {
    import graft.queries.PipelineQueries
    // fixed per-job cost dominates q83 at benchmark size: with every
    // graph on the distributed PageRank loop a call launched 69 jobs
    // here, 12 with the graph on the driver but its edges derived in
    // Spark; the budget may only tighten
    val budget = 3
    // q83 synthesizes its KG; the directory name only sizes it (sf0.001:
    // 60 files). A warm-up call builds and caches the memoized pipeline,
    // as the benchmark's warm-up pass does, so only the query is counted.
    val dir = "sf0.001"
    PipelineQueries.q83_entity_rank(spark, dir).collect()
    val (rows, jobs) = jobsOf {
      PipelineQueries.q83_entity_rank(spark, dir).collect()
    }
    PipelineQueries.release(spark, dir, blocking = true)
    PipelineQueries.release(spark, "perfbench/data/sf0.001", blocking = true)
    assert(rows.length == 50)
    assert(jobs <= budget, s"one q83 call launched $jobs Spark jobs, budget $budget")
  }

  test("q83: the driver path returns the distributed derivation's rows and schema") {
    import graft.queries.PipelineQueries.entityRank
    import spark.implicits._
    // U+FF61 sorts before U+1F600 in UTF-8 bytes (Spark's order), after
    // it in UTF-16 units (String.compareTo)
    val (fw, emoji) = ("\uFF61", new String(Character.toChars(0x1F600)))
    val rnd = new scala.util.Random(31)
    // three hub files of 40 entities each from a pool of 60 (over the
    // cap of 32), 40 files holding one disjoint pair each (their 80
    // entities tie on salience, below the hub entities that rank above
    // it), one file with an entity no other file shares, a NULL entity,
    // and aliases the canon map folds together
    val hubs = for (f <- 0 until 3; e <- rnd.shuffle((0 until 60).toList).take(40))
      yield (s"hub$f", s"h$e")
    val pairs = for (p <- 0 until 40; side <- Seq("a", "b"))
      yield (s"pair$p", (if (p % 2 == 0) fw else emoji) +
        s"p$p$side")
    val rows = (hubs ++ pairs ++ hubs.take(5) ++ Seq(("lone", "z1"),
        ("hub0", "alias:h1"), ("pair1", "alias:h2"), ("pair2", null)))
      .map { case (file, ent) => ("r", file, "c1", ent) }
      .toDF("repo", "path", "commit", "entity_id")
    val canon = Seq(("alias:h1", "h1"), ("alias:h2", "h2"))
      .toDF("entity_id", "canon_id")
    val r = KgPipeline.Result(spark.emptyDataset[KgPipeline.MentionRow], rows,
      canon, spark.emptyDataFrame)
    val local = entityRank(r, Graph.coOccurrenceCollectThreshold,
      Graph.coOccurrencePairThreshold)
    val dist = entityRank(r, -1, Graph.coOccurrencePairThreshold)
    assert(isLocal(local) && !isLocal(dist))
    assert(local.schema == dist.schema)
    val want = dist.collect().toSeq
    assert(local.collect().toSeq == want)
    assert(want.size == 50)
    // the 50th row cuts through the tie: some tied rows are out
    val last = want.last.getDouble(1)
    assert(want.count(_.getDouble(1) == last) > 1)
    assert(want.count(_.getDouble(1) == last) < 80)
    // the pair budget sends an over-volume graph to the distributed path
    val over = entityRank(r, Graph.coOccurrenceCollectThreshold, 10)
    assert(!isLocal(over))
    assert(over.collect().toSeq == want)
    Graph.releaseAllRanks(spark, blocking = true)
  }

  // One call plus the collect of its result, on the sf0.001 tables (the
  // benchmark's copy). Each graph has 159 to 6,000 edges, so per-job
  // fixed cost is the whole query: before these graphs went to the
  // driver kernel (LocalGraph), a call launched 4 jobs here for q79, 12
  // for q80, 10 for q81 and 165 for q25. What is left is each query's
  // parquet schema reads, q80/q81's broadcast node count and the
  // limit-collect; q80/q81 read `part` once (6 jobs when they read it
  // twice). The budgets may only tighten.
  for ((key, budget) <- Seq("q79_graph_degree" -> 2, "q80_triangles" -> 5,
         "q81_two_hop" -> 5, "q25_connected_components" -> 3))
    test(s"one $key call and the collect of its result stay within the Spark job budget") {
      val dir = "perfbench/data/sf0.001"
      val query = graft.SparkEntry.queries(key)
      val (rows, jobs) = jobsOf(query(spark, dir).collect())
      assert(rows.nonEmpty)
      assert(jobs <= budget, s"one $key call launched $jobs Spark jobs, budget $budget")
    }

  test("manifest publish leaves no temp file, fresh or overwriting") {
    val dir = java.nio.file.Files.createTempDirectory("graft_io_publish").toFile
    val p = s"$dir/sub/_manifest.json"
    def leftovers = dir.toPath.resolve("sub").toFile.list().toSeq
      .filter(_.contains(".tmp"))
    TableIO.atomicWrite(p, "v1")
    assert(leftovers.isEmpty, leftovers)
    TableIO.atomicWrite(p, "v2")
    assert(leftovers.isEmpty, leftovers)
    assert(new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(p)), "UTF-8") == "v2")
  }

  test("resume refuses a bucket-count mismatch (no mixed partitionings)") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_io_nbuckets").toString
    val df = Seq(("r1", "a"), ("r2", "b"), ("r3", "c")).toDF("src_repo", "src_path")
    TableIO.writeResumable(df, s"$dir/t", 4, Seq("src_repo"))
    // same dir, different bucket count: every manifest records buckets=4
    val ex = intercept[IllegalArgumentException] {
      TableIO.writeResumable(df, s"$dir/t", 8, Seq("src_repo"))
    }
    assert(ex.getMessage.contains("bucket"), ex.getMessage)
    // and shrinking below committed manifest ids is caught by the range guard
    val ex2 = intercept[IllegalArgumentException] {
      TableIO.writeResumable(df, s"$dir/t", 2, Seq("src_repo"))
    }
    assert(ex2.getMessage.contains("bucket"), ex2.getMessage)
  }

  test("crash states of writeResumable: published rows only; next call reaps") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_io_crash").toString
    val df = (1 to 200).map(i => (s"repo$i", s"path$i")).toDF("src_repo", "src_path")
    val all = TableIO.writeResumable(df, s"$dir/t", 4, Seq("src_repo"))
    val Seq(victim, other) = all.filter(_.rows > 0).map(_.bucket).take(2)
    // (a) a write crashed before publishing bucket `victim`: its version
    // is on disk, no manifest names it
    val Seq(unpublished) = versions(s"$dir/t", victim).toSeq
    val saved = java.nio.file.Files.createTempDirectory("superseded")
      .resolve("v").toString
    copyDir(s"$dir/t/data/_bucket=$victim/$unpublished", saved)
    java.nio.file.Files.delete(
      java.nio.file.Paths.get(s"$dir/t/_commits/bucket-$victim.json"))
    // ... and an earlier crashed attempt left a version in bucket `other`
    df.limit(3).write.parquet(s"$dir/t/data/_bucket=$other/_v=crashed")
    val published = all.filter(_.bucket != victim).map(_.rows).sum
    assert(TableIO.readCommitted(spark, s"$dir/t", 4).count() == published)
    assert(TableIO.verifyCommits(spark, s"$dir/t", 4).isEmpty)
    // the next write commits `victim` as a new version and reaps both
    val redone = TableIO.writeResumable(df, s"$dir/t", 4, Seq("src_repo"))
    assert(redone.map(_.bucket) == Seq(victim))
    assert(redone.head == all.find(_.bucket == victim).get)
    Seq(victim, other).foreach(k => assert(
      versions(s"$dir/t", k) == Set(new java.io.File(livePath(s"$dir/t", k)).getName),
      s"bucket $k"))
    // (b) the write published and crashed before reaping: the version
    // it superseded is back beside the published one
    copyDir(saved, s"$dir/t/data/_bucket=$victim/$unpublished")
    assert(versions(s"$dir/t", victim).size == 2)
    assert(TableIO.readCommitted(spark, s"$dir/t", 4).count() ==
      all.map(_.rows).sum)
    assert(TableIO.verifyCommits(spark, s"$dir/t", 4).isEmpty)
    // the next write has nothing to commit, and still reaps
    assert(TableIO.writeResumable(df, s"$dir/t", 4, Seq("src_repo")).isEmpty)
    assert(versions(s"$dir/t", victim) ==
      Set(new java.io.File(livePath(s"$dir/t", victim)).getName))
  }

  test("reliable fixpoint checkpoints are cleaned after convergence (no leak)") {
    import spark.implicits._
    val sc = spark.sparkContext
    assume(sc.getCheckpointDir.isEmpty)
    sc.setCheckpointDir(
      java.nio.file.Files.createTempDirectory("graft_ck").toString)
    try {
      // a 3-chain needs several propagation rounds — each round used to
      // leak one checkpoint dir (cleanCheckpoints defaults to false)
      val edges = Seq(("a", "b"), ("b", "c"), ("d", "e")).toDF("src", "dst")
      val comps = KgPipeline.connectedComponents(edges)
      assert(comps.count() == 5)
      val ckDir = new java.io.File(new java.net.URI(
        sc.getCheckpointDir.get).getPath)
      val rdds = ckDir.listFiles().filter(_.getName.startsWith("rdd-"))
      assert(rdds.length == 1,
        s"leaked checkpoints beyond the returned frame's own: " +
          rdds.map(_.getName).mkString(","))
    } finally sc.setCheckpointDir(null)
  }

  test("readCommitted serves only committed buckets (no dirty reads)") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_io_read").toString
    val df = (1 to 200).map(i => (s"repo$i", s"path$i")).toDF("src_repo", "src_path")
    val commits = TableIO.writeResumable(df, s"$dir/t", 4, Seq("src_repo"))
    // simulate a crashed later run: bucket data present, manifest missing
    val victim = commits.filter(_.rows > 0).last.bucket
    java.nio.file.Files.delete(
      java.nio.file.Paths.get(s"$dir/t/_commits/bucket-$victim.json"))
    val committedRows = commits.filter(_.bucket != victim).map(_.rows).sum
    val snap = TableIO.readCommitted(spark, s"$dir/t", 4)
    assert(snap.count() == committedRows,
      "committed read must exclude the uncommitted bucket")
    assert(snap.columns.contains("_bucket"), "partition column must survive")
    // the raw path DOES see the dirty data — that is the hazard
    assert(spark.read.parquet(s"$dir/t/data").count() ==
      commits.map(_.rows).sum)
    // an empty/nonexistent table fails loudly, not with an empty frame
    val ex = intercept[IllegalArgumentException] {
      TableIO.readCommitted(spark, s"$dir/nothing", 4)
    }
    assert(ex.getMessage.contains("no committed buckets"), ex.getMessage)
    // a COMMITTED bucket (manifest rows>0) whose data directory was lost
    // after commit is data loss — the snapshot read must refuse, not
    // silently serve a short table
    val lost = commits.filter(c => c.rows > 0 && c.bucket != victim).head
    val lostPath = new org.apache.hadoop.fs.Path(
      s"$dir/t/data/_bucket=${lost.bucket}")
    lostPath.getFileSystem(spark.sessionState.newHadoopConf())
      .delete(lostPath, true)
    val ex2 = intercept[IllegalArgumentException] {
      TableIO.readCommitted(spark, s"$dir/t", 4)
    }
    assert(ex2.getMessage.contains("missing"), ex2.getMessage)
  }

  test("readCommitted fails loudly on a manifest missing its row count") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_io_field").toString
    val df = (1 to 200).map(i => (s"repo$i", s"path$i")).toDF("src_repo", "src_path")
    val commits = TableIO.writeResumable(df, s"$dir/t", 4, Seq("src_repo"))
    val k = commits.find(_.rows > 0).get.bucket
    // a manifest without "rows" must not read as an empty bucket: that
    // would serve a silently short table
    val p = s"$dir/t/_commits/bucket-$k.json"
    val json = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(p)), "UTF-8")
    val stripped = json.replaceFirst("\"rows\":\\d+,", "")
    assert(stripped != json)
    TableIO.atomicWrite(p, stripped)
    val ex = intercept[IllegalArgumentException] {
      TableIO.readCommitted(spark, s"$dir/t", 4).count()
    }
    assert(ex.getMessage.contains(p) && ex.getMessage.contains("rows"),
      ex.getMessage)
    // a truncated manifest, or one with a mistyped counter, names itself too
    Seq(json.take(json.length / 2),
        json.replaceFirst("\"rows\":\\d+", "\"rows\":\"7\"")).foreach { bad =>
      TableIO.atomicWrite(p, bad)
      val e = intercept[IllegalArgumentException](
        TableIO.readCommitted(spark, s"$dir/t", 4))
      assert(e.getMessage.contains(p) && e.getMessage.contains("corrupt"),
        e.getMessage)
    }
  }

  test("retry witness: scoped to its job group, sees stage and task retries") {
    val w = new TableIO.RetryWitness("mine")
    w.jobStarted("other", Seq(1, 2))
    w.stageAttempt(1, 1) // a CONCURRENT job's retry must not count
    assert(!w.seen, "foreign job group leaked into the witness")
    w.jobStarted("mine", Seq(5, 6))
    w.stageAttempt(7, 1) // unknown stage
    assert(!w.seen)
    w.stageAttempt(5, 0) // first attempt is not a retry
    assert(!w.seen)
    w.taskAttempt(6, 1, resubmitted = false) // speculative duplicate task
    assert(w.seen, "task-level duplicate success must count as a retry")
    val w2 = new TableIO.RetryWitness("g")
    w2.jobStarted("g", Seq(3))
    w2.taskAttempt(3, 0, resubmitted = true) // Resubmitted task end
    assert(w2.seen)
    val w3 = new TableIO.RetryWitness("g")
    w3.jobStarted("g", Seq(4))
    w3.stageAttempt(4, 1) // whole-stage re-execution
    assert(w3.seen)
  }

  test("cross-check recomputes counters when a stage retry double-applied metrics") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_io_retry").toString
    val df = (1 to 200).map(i => (s"repo$i", s"path$i")).toDF("src_repo", "src_path")
    val commits = TableIO.writeResumable(df, s"$dir/t", 4, Seq("src_repo"))
    val truth = commits.find(_.rows > 0).get
    // simulate the FetchFailed double-apply: a re-executed shuffle-map
    // stage re-applies its partitions' accumulator updates, inflating the
    // observed row count and XOR-cancelling those partitions out of the
    // checksum — the written files themselves are correct
    val inflated = TableIO.BucketCommit(truth.bucket, truth.rows + 5,
      truth.checksum ^ 0x5eedL)
    val checked = TableIO.crossCheck(spark, livePath(s"$dir/t", truth.bucket), inflated,
      spark.sessionState.newHadoopConf(), stageRetried = true)
    assert(checked == truth,
      s"recompute must restore footer-derived truth: got $checked want $truth")
    // the SAME mismatch with no stage retry this run is unexplainable by
    // double-apply: files the job wrote are missing — must fail fast,
    // not bless the surviving partial data (partial-loss hole)
    val ex = intercept[IllegalStateException] {
      TableIO.crossCheck(spark, livePath(s"$dir/t", truth.bucket), inflated,
        spark.sessionState.newHadoopConf(), stageRetried = false)
    }
    assert(ex.getMessage.contains("missing"), ex.getMessage)
  }

  test("bucket compaction: content-identical swap, refusal on mismatch") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_io_compact").toString
    val df = (1 to 400).map(i => (s"repo${i % 7}", s"path$i"))
      .toDF("src_repo", "src_path")
    // the rebalanced write gives a small bucket one file; cap the rows
    // per file for this write so its buckets come out split into several
    // files — compaction's reason to exist
    val maxRecords = "spark.sql.files.maxRecordsPerFile"
    val prevMaxRecords = spark.conf.getOption(maxRecords)
    spark.conf.set(maxRecords, "20")
    try TableIO.writeResumable(df, s"$dir/t", 4, Seq("src_repo"))
    finally prevMaxRecords match {
      case Some(v) => spark.conf.set(maxRecords, v)
      case None => spark.conf.unset(maxRecords)
    }
    val before = TableIO.readCommitted(spark, s"$dir/t", 4)
      .collect().map(_.toString).sorted.toSeq
    // pick a bucket that actually has several files
    val conf = spark.sessionState.newHadoopConf()
    val k = (0 until 4).find { b =>
      val p = new org.apache.hadoop.fs.Path(livePath(s"$dir/t", b))
      val fs = p.getFileSystem(conf)
      fs.exists(p) &&
        fs.listStatus(p).count(_.getPath.getName.endsWith(".parquet")) > 1
    }.getOrElse(fail("fixture produced no multi-file bucket"))
    // refusal FIRST, while the bucket still has multiple files (the
    // early exit would otherwise skip verification entirely): a
    // rewrite that cannot reproduce the manifest's checksum is never
    // published — the committed version stays untouched. Rewrite through the same Hadoop-FS
    // path the writer uses — a raw nio write would orphan
    // LocalFileSystem's .crc sidecar.
    val commitFile = s"$dir/t/_commits/bucket-$k.json"
    val json = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(commitFile)), "UTF-8")
    val tampered = json.replaceFirst("\"checksum\":-?\\d+",
      "\"checksum\":123456789")
    assert(tampered != json, "tamper fixture failed to change checksum")
    TableIO.atomicWrite(commitFile, tampered, conf)
    val ex = intercept[IllegalStateException] {
      TableIO.compactBucket(spark, s"$dir/t", 4, k)
    }
    assert(ex.getMessage.contains("content-identical"), ex.getMessage)
    // originals untouched by the refused compaction
    assert(TableIO.readCommitted(spark, s"$dir/t", 4).count() ==
      before.length.toLong)
    TableIO.atomicWrite(commitFile, json, conf) // restore the manifest

    val nAfter = TableIO.compactBucket(spark, s"$dir/t", 4, k)
    assert(nAfter == 1, s"expected 1 file after compaction, got $nAfter")
    // content identical through the committed-snapshot read; the audit
    // agrees with the untouched manifest
    val after = TableIO.readCommitted(spark, s"$dir/t", 4)
      .collect().map(_.toString).sorted.toSeq
    assert(after == before, "compaction changed table content")
    assert(TableIO.verifyCommits(spark, s"$dir/t", 4).isEmpty,
      "audit disagrees with manifest after compaction")
    // a second compaction early-exits (already 1 file) — cheap
    // scheduled maintenance, not a fresh rewrite
    assert(TableIO.compactBucket(spark, s"$dir/t", 4, k) == 1)
  }

  test("crash states of compactBucket: published rows only; next call reaps") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_io_crash").toString
    val df = (1 to 200).map(i => (s"repo${i % 5}", s"path$i"))
      .toDF("src_repo", "src_path")
    val maxRecords = "spark.sql.files.maxRecordsPerFile"
    val prevMaxRecords = spark.conf.getOption(maxRecords)
    spark.conf.set(maxRecords, "20")
    try TableIO.writeResumable(df, s"$dir/t", 4, Seq("src_repo"))
    finally prevMaxRecords match {
      case Some(v) => spark.conf.set(maxRecords, v)
      case None => spark.conf.unset(maxRecords)
    }
    val k = (0 until 4).find(b => Option(new java.io.File(livePath(s"$dir/t", b))
      .list()).exists(_.count(_.endsWith(".parquet")) > 1))
      .getOrElse(fail("fixture produced no multi-file bucket"))
    val before = TableIO.readCommitted(spark, s"$dir/t", 4)
      .collect().map(_.toString).sorted.toSeq
    def named = new java.io.File(livePath(s"$dir/t", k)).getName
    // (a) a compaction wrote its rewrite and crashed before publishing it
    df.limit(7).write.parquet(s"$dir/t/data/_bucket=$k/_v=crashed")
    val superseded = named
    assert(versions(s"$dir/t", k) == Set(superseded, "_v=crashed"))
    def check(): Unit = {
      assert(TableIO.readCommitted(spark, s"$dir/t", 4)
        .collect().map(_.toString).sorted.toSeq == before)
      assert(TableIO.verifyCommits(spark, s"$dir/t", 4).isEmpty)
    }
    check()
    val saved = java.nio.file.Files.createTempDirectory("superseded")
      .resolve("v").toString
    copyDir(s"$dir/t/data/_bucket=$k/$superseded", saved)
    // the next compaction reaps the unpublished rewrite, then compacts
    assert(TableIO.compactBucket(spark, s"$dir/t", 4, k) == 1)
    assert(versions(s"$dir/t", k) == Set(named))
    check()
    // (b) the compaction published and crashed before reaping: the
    // version it superseded is back beside the published one
    copyDir(saved, s"$dir/t/data/_bucket=$k/$superseded")
    assert(versions(s"$dir/t", k) == Set(named, superseded))
    check()
    // the next compaction has nothing to rewrite, and still reaps
    assert(TableIO.compactBucket(spark, s"$dir/t", 4, k) == 1)
    assert(versions(s"$dir/t", k) == Set(named))
    check()
  }

  test("bucket compaction is single-process per bucket (lock file)") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_io_lock").toString
    val df = (1 to 100).map(i => (s"repo${i % 3}", s"path$i"))
      .toDF("src_repo", "src_path")
    TableIO.writeResumable(df, s"$dir/t", 4, Seq("src_repo"))
    val conf = spark.sessionState.newHadoopConf()
    val k = (0 until 4).find { b =>
      val p = new org.apache.hadoop.fs.Path(s"$dir/t/data/_bucket=$b")
      p.getFileSystem(conf).exists(p)
    }.get
    // a concurrent compactor's lock blocks a second call FAST, before
    // it could reap the in-flight compactor's unpublished version
    val lock = new org.apache.hadoop.fs.Path(
      s"$dir/t/_locks/bucket-$k.lock")
    val fs = lock.getFileSystem(conf)
    fs.mkdirs(lock.getParent)
    fs.create(lock, false).close()
    val ex = intercept[IllegalStateException] {
      TableIO.compactBucket(spark, s"$dir/t", 4, k)
    }
    assert(ex.getMessage.contains("lock"), ex.getMessage)
    // the lock released (here: the stale-lock manual remedy the message
    // names), compaction proceeds and releases its own lock after
    fs.delete(lock, false)
    assert(TableIO.compactBucket(spark, s"$dir/t", 4, k) == 1)
    assert(!fs.exists(lock), "compaction must release its lock")
  }

  test("pipeline cache release unpersists every pinned frame") {
    import graft.queries.PipelineQueries
    val dir = "/root/testdata/sf0.001"
    val sc = spark.sparkContext
    // a previous suite may have memoized this (session, dir) already —
    // clear it so the storage delta below measures THIS build
    PipelineQueries.release(spark, dir, blocking = true)
    val before = sc.getRDDStorageInfo.map(_.id).toSet
    // q43 materializes the whole cached chain: triples -> linked + canon
    PipelineQueries.all("q43_triples")(spark, dir).collect()
    val pinned = sc.getRDDStorageInfo.map(_.id).toSet -- before
    assert(pinned.nonEmpty, "gate is vacuous: the pipeline pinned nothing")
    PipelineQueries.release(spark, dir, blocking = true)
    val leaked = sc.getRDDStorageInfo.map(_.id).toSet & pinned
    assert(leaked.isEmpty,
      s"release left ${leaked.size} storage pin(s) behind: $leaked — a " +
        "long-lived session iterating over dirs would accumulate these " +
        "without bound")
    // idempotent: releasing an absent entry is a no-op
    PipelineQueries.release(spark, dir, blocking = true)
  }

  test("cross-check fails fast on extra rows on disk even after a retry") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_io_extra").toString
    val df = (1 to 200).map(i => (s"repo$i", s"path$i")).toDF("src_repo", "src_path")
    val commits = TableIO.writeResumable(df, s"$dir/t", 4, Seq("src_repo"))
    val truth = commits.find(_.rows > 0).get
    // observed < footer: double-apply can only INFLATE the observed side,
    // so a footer excess means extra/stale rows on disk (e.g. a crashed
    // attempt's leftovers mixed in) — recomputing would bless the mixed
    // directory into the manifest; must fail fast even with the retry
    // witness set (ADVICE r4)
    val deflated = TableIO.BucketCommit(truth.bucket, truth.rows - 3,
      truth.checksum ^ 0xbadL)
    val ex = intercept[IllegalStateException] {
      TableIO.crossCheck(spark, livePath(s"$dir/t", truth.bucket), deflated,
        spark.sessionState.newHadoopConf(), stageRetried = true)
    }
    assert(ex.getMessage.contains("extra/stale"), ex.getMessage)
  }

  test("cross-check fails fast when observed rows have no files on disk") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_io_loss").toString
    val df = (1 to 50).map(i => (s"repo$i", s"path$i")).toDF("src_repo", "src_path")
    val commits = TableIO.writeResumable(df, s"$dir/t", 4, Seq("src_repo"))
    val victim = commits.find(_.rows > 0).get
    // wipe the bucket's data: write "succeeded" per the metrics but the
    // files are gone — committing rows=0 would mark it done and silently
    // lose the rows on every resume (ADVICE r3)
    val live = livePath(s"$dir/t", victim.bucket)
    val p = new org.apache.hadoop.fs.Path(live)
    p.getFileSystem(spark.sessionState.newHadoopConf()).delete(p, true)
    val ex = intercept[IllegalStateException] {
      // total loss fails fast regardless of whether a retry was seen
      TableIO.crossCheck(spark, live, victim,
        spark.sessionState.newHadoopConf(), stageRetried = true)
    }
    assert(ex.getMessage.contains("no data"), ex.getMessage)
  }

  test("cross-check refuses rows on disk that the write did not observe") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_io_unobserved").toString
    val df = (1 to 50).map(i => (s"repo$i", s"path$i")).toDF("src_repo", "src_path")
    val commits = TableIO.writeResumable(df, s"$dir/t", 4, Seq("src_repo"))
    val victim = commits.find(_.rows > 0).get
    // a version directory holds only its own job's files: rows there
    // that the job observed none of are never committed as zero
    val ex = intercept[IllegalStateException] {
      TableIO.crossCheck(spark, livePath(s"$dir/t", victim.bucket),
        TableIO.BucketCommit(victim.bucket, 0L, 0L),
        spark.sessionState.newHadoopConf(), stageRetried = true)
    }
    assert(ex.getMessage.contains("extra/stale"), ex.getMessage)
    assert(TableIO.verifyCommits(spark, s"$dir/t", 4).isEmpty,
      "a refused cross-check must leave the committed bucket intact")
  }

  test("resume refuses a layout-version mismatch (no split-layout tables)") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_io_layout").toString
    val df = Seq(("r1", "a"), ("r2", "b")).toDF("src_repo", "src_path")
    TableIO.writeResumable(df, s"$dir/t", 4, Seq("src_repo"))
    // simulate a bucket committed by the round-1 layout (no layout field);
    // rewrite through the same Hadoop-FS path the writer uses (a raw nio
    // write would orphan LocalFileSystem's .crc sidecar)
    val p = s"$dir/t/_commits/bucket-1.json"
    val v1 = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(p)), "UTF-8")
      .replace(s""","layout":${TableIO.LayoutVersion}""", "")
    TableIO.atomicWrite(p, v1)
    assert(TableIO.readManifest(s"$dir/t", 1,
      spark.sessionState.newHadoopConf()).get.layout == 1)
    val ex = intercept[IllegalArgumentException] {
      TableIO.writeResumable(df, s"$dir/t", 4, Seq("src_repo"))
    }
    assert(ex.getMessage.contains("layout mismatch"))
  }

  test("metadata files written before the JSON codec load to the same values; the writers reproduce them") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_parent_files").toString
    val conf = spark.sessionState.newHadoopConf()
    def text(p: String) = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(p)), "UTF-8")
    // each literal is the file the hand-written writers produced for the
    // same input; the old readers returned the values asserted below
    TableIO.writeSnapshot(Seq(("a", "x"), ("b", "y")).toDF("content", "id"),
      s"$dir/snap", "snap-\"7\"\\z")
    assert(text(s"$dir/snap/_snapshot.json") ==
      """{"snapshot_id":"snap-\"7\"\\z","rows":2,"format":"parquet","invariant":"content_sha256"}""")
    CanonState.save(spark, s"$dir/state",
      Seq(("e:a", "acme"), ("e:b", "acme")).toDF("src", "dst"),
      Seq(("e:a", "e:a"), ("e:b", "e:a")).toDF("entity_id", "canon_id"))
    val current = """{"version":1,"edges_rows":2,"edges_xor":-5070453797332414831,"canon_rows":2,"canon_xor":7486548793539871167}"""
    assert(text(s"$dir/state/_current") == current)
    TableIO.atomicWrite(s"$dir/state/_current", current, conf)
    assert(CanonState.readMeta(spark, s"$dir/state") == Some(CanonState.Meta(
      1L, 2L, -5070453797332414831L, 2L, 7486548793539871167L)))
    Ngram.saveLm(Ngram.Lm(Seq(("a", 2L)).toDF("w", "n"),
      Seq(("a", "b", 1L)).toDF("w1", "w2", "n"), 1234L), s"$dir/lm")
    val lmMeta = """{"format":"graft-bigram-lm","version":1,"n_tokens":1234}"""
    assert(text(s"$dir/lm/_lm_meta.json") == lmMeta)
    TableIO.atomicWrite(s"$dir/lm/_lm_meta.json", lmMeta, conf)
    assert(Ngram.loadLm(spark, s"$dir/lm").nTokens == 1234L)
    val quality = Classifier.FilterModel(4,
      Array(0.5, -1.25, 1e-300, Double.MinPositiveValue), -0.0)
    val qualityText = """{"format":"graft-quality-lr","version":1,"n_buckets":4,"bias_bits":"8000000000000000","weight_bits":["3fe0000000000000","bff4000000000000","1a56e1fc2f8f359","1"]}"""
    Classifier.save(spark, quality, s"$dir/q.json")
    assert(text(s"$dir/q.json") == qualityText)
    TableIO.atomicWrite(s"$dir/q.json", qualityText, conf)
    assert(Classifier.load(spark, s"$dir/q.json").fingerprint == quality.fingerprint)
    val report = Curate.Report(10, 1, 2, 9, 8, 7, 6, 5, 4,
      Seq("src\"\\\né" -> 3L, "plain" -> 2L), 8, 4, Seq(1, 3))
    assert(report.json == """{"n_input":10,"n_null_text":1,"n_redacted":2,"n_after_exact":9,"n_after_decontam":9,"n_after_boilerplate":8,"n_after_repetition":8,"n_after_quality":7,"n_after_lm_ppl":6,"n_after_minhash":5,"n_after_embedding":4,"n_after_mixture":4,"hot_keys":[{"key":"src\"\\\né","n":3},{"key":"plain","n":2}],"salts":8,"n_written":4,"resumed_stages":[1,3]}""")
    // a small NER model covering every schema block kind and escapes in
    // dictionary keys, labels and observation values
    val schema = Features.SchemaConf(
      orthC = Some(List(0)), lowPrefixesC = Some((List(0), List(2, 3))),
      lemmaC = Some((List(-1, 0), 3)), shapeC = Some(List(-1, 0)),
      shapePairC = Some(List(0)),
      dictC = Some((List(0), List(CompactDict.fromMap(Map(
        "Kéra" -> List("persName", "x\"y"), "Acme" -> List("orgName")))))),
      intTrigsC = Some((List(-1), CompactDict.fromMap(Map("coach" -> List("persName"))))))
    val crf = Crf.Model(Array("O", "B-persName", "I-persName"),
      Array(Map("Kéra" -> 0, "acme\\x" -> 1), Map("Xx" -> 2)),
      breeze.linalg.DenseVector(0.5, -1.0E-5, 2.0),
      new breeze.linalg.DenseMatrix(3, 3,
        Array(0.1, 0.2, 0.3, -0.4, 0.5, 0.6, 0.7, 0.8, 1.0E10)),
      Array(Array(1), Array(0, 2), Array(1, 2)),
      Array(Array(0.25), Array(-3.0, 1.5E-7), Array(4.0, -0.0)))
    val nerfText = """{"schema":{"orth":[0],"splitOrth":null,"lowPrefixes":{"range":[0],"ns":[2,3]},"lowSuffixes":null,"lemma":{"range":[-1,0],"n":3},"shape":[-1,0],"packed":null,"shapePair":[0],"packedPair":null,"dicts":{"range":[0],"dicts":[{"Acme":["orgName"],"Kéra":["persName","x\"y"]}]},"intTrigs":{"range":[-1],"dict":{"coach":["persName"]}},"extTrigs":null},"labels":["O","B-persName","I-persName"],"sing":[0.5,-1.0E-5,2.0],"trans":[0.1,0.2,0.3,-0.4,0.5,0.6,0.7,0.8,1.0E10],"obs":[{"Kéra":0,"acme\\x":1},{"Xx":2}],"obsLabels":[[1],[0,2],[1,2]],"obsWeights":[[0.25],[-3.0,1.5E-7],[4.0,-0.0]]}"""
    val nerfPath = java.nio.file.Paths.get(s"$dir/nerf.json")
    NerfModel.save(NerfModel(schema, crf), nerfPath)
    assert(text(s"$dir/nerf.json") == nerfText)
    java.nio.file.Files.write(nerfPath, nerfText.getBytes("UTF-8"))
    val back = NerfModel.load(nerfPath)
    assert(back.schema == schema)
    assert(back.crf.labels.toSeq == crf.labels.toSeq && back.crf.obsIds.toSeq == crf.obsIds.toSeq)
    assert(back.crf.sing == crf.sing && back.crf.trans == crf.trans)
    assert(back.crf.obsLabels.map(_.toSeq).toSeq == crf.obsLabels.map(_.toSeq).toSeq)
    // -0.0 == 0.0, so compare bit patterns
    assert(back.crf.obsWeights.map(_.map(java.lang.Double.doubleToLongBits).toSeq).toSeq ==
      crf.obsWeights.map(_.map(java.lang.Double.doubleToLongBits).toSeq).toSeq)
  }

  test("golden gate: triple-set P/R vs committed golden = 1.0") {
    import spark.implicits._
    val files = KgPipeline.synthInput(spark, 25, partitions = 2)
    val got = KgPipeline.run(spark, files, model).triples
      .select("subj", "pred", "obj").distinct()
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    val goldenPath = "src/test/resources/golden/triples_25.tsv"
    val p = java.nio.file.Paths.get(goldenPath)
    if (!java.nio.file.Files.exists(p)) {
      // first run pins the golden (committed to git thereafter)
      java.nio.file.Files.createDirectories(p.getParent)
      val lines = got.toSeq.sorted.map { case (s, pr, o) => s"$s\t$pr\t$o" }
      java.nio.file.Files.write(p, lines.mkString("\n").getBytes("UTF-8"))
      info(s"golden pinned: ${got.size} triples")
    } else {
      val want = scala.io.Source.fromFile(goldenPath)("UTF-8").getLines()
        .map { l => val a = l.split('\t'); (a(0), a(1), a(2)) }.toSet
      val tp = got.intersect(want).size.toDouble
      val precision = tp / got.size
      val recall = tp / want.size
      assert(precision >= 0.95 && recall >= 0.95,
        s"P=$precision R=$recall vs golden (need >= 0.95); got=${got.size} want=${want.size}")
      assert(got == want, "expect exact match against our own golden")
    }
  }

  // ---- incremental canonicalization (CanonState) ----

  /** Bootstrap for incremental maintenance: a full run over `files`
    * writes the table, and the canonical state is initialized from the
    * same linked evidence (the canonical-state onboarding path).
    */
  private def bootstrapCanonical(files: Seq[KgPipeline.RepoFile], dir: String,
                                 buckets: Int, stateDir: String): Unit = {
    import spark.implicits._
    val r0 = KgPipeline.run(spark, spark.createDataset(files), model)
    TableIO.writeResumable(r0.triples, dir, buckets,
      Seq("src_repo", "src_path"))
    val kb = KgPipeline.kbAliasDf(spark, Synth.knowledgeBase)
    val cd0 = KgPipeline.canonicalizeWithState(spark, r0.linked, kb, stateDir)
    CanonState.save(spark, stateDir, cd0.edges, cd0.canon)
    KgPipeline.releaseCanon(spark, cd0.canon); cd0.edges.unpersist()
    KgPipeline.release(spark, r0)
  }

  private def linkedOf(pairs: (String, String)*) = {
    import spark.implicits._
    pairs.toSeq.toDF("entity_id", "surface_norm")
  }

  private def canonMap(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => r.getString(0) -> r.getString(1)).toMap

  test("canonicalizeWithState: incremental == full over all batches; remap captures the merge") {
    val kb = KgPipeline.kbAliasDf(spark, Seq(
      Synth.KbEntity("org:a", "orgName", "Acme Corp", Vector("acme corp")),
      Synth.KbEntity("orgdup:a", "orgName", "Acme Corp", Vector("acmecorp")),
      Synth.KbEntity("org:z", "orgName", "Zeta Ltd", Vector("zeta ltd"))))
    val stateDir = java.nio.file.Files.createTempDirectory("canonstate")
      .toString + "/state"
    // batch 1: only org:a observed — no bridge between the duplicates
    val b1 = linkedOf("org:a" -> "acme corp")
    val cd1 = KgPipeline.canonicalizeWithState(spark, b1, kb, stateDir)
    assert(cd1.remap.isEmpty, "first batch has nothing to remap against")
    val m1 = canonMap(cd1.canon)
    assert(m1("org:a") == "org:a" && m1("orgdup:a") == "orgdup:a",
      s"duplicates must stay separate before shared evidence: $m1")
    assert(CanonState.save(spark, stateDir, cd1.edges, cd1.canon) == 1L)
    KgPipeline.releaseCanon(spark, cd1.canon); cd1.edges.unpersist()
    // batch 2: a NEW surface observed for BOTH duplicates (same
    // canonical, no nil) — bridges them; org:z stays apart
    val b2 = linkedOf("org:a" -> "acme co", "orgdup:a" -> "acme co")
    val cd2 = KgPipeline.canonicalizeWithState(spark, b2, kb, stateDir)
    val m2 = canonMap(cd2.canon)
    assert(m2("org:a") == "org:a" && m2("orgdup:a") == "org:a" &&
      m2("org:z") == "org:z", s"expected the duplicates to merge: $m2")
    val remap = canonMap(cd2.remap.select("old_id", "new_id"))
    assert(remap == Map("orgdup:a" -> "org:a"),
      s"remap must carry exactly the drifted id: $remap")
    // exactness: equals a full canonicalization over BOTH batches
    val full = KgPipeline.canonicalize(spark, b1.unionByName(b2), kb)
    assert(m2 == canonMap(full), "incremental diverges from full")
    KgPipeline.releaseCanon(spark, full)
    assert(CanonState.save(spark, stateDir, cd2.edges, cd2.canon) == 2L)
    KgPipeline.releaseCanon(spark, cd2.canon); cd2.edges.unpersist()
    cd2.remap.unpersist()
    // state round-trip: what load returns is what the next batch unions
    val edges = CanonState.loadEdges(spark, stateDir).get
    // 3 KB alias edges + 2 new observed edges (batch 1's observation
    // duplicates org:a's own KB alias and collapses in the distinct)
    assert(edges.count() == 5,
      "expected 5 distinct evidence edges; got " +
        edges.collect().mkString(", "))
  }

  test("CanonState.save retains the superseded version for one generation") {
    val kb = KgPipeline.kbAliasDf(spark, Seq(
      Synth.KbEntity("org:a", "orgName", "Acme Corp", Vector("acme corp"))))
    val stateDir = java.nio.file.Files.createTempDirectory("canonretain")
      .toString + "/state"
    def saveBatch(surface: String): Long = {
      val cd = KgPipeline.canonicalizeWithState(spark,
        linkedOf("org:a" -> surface), kb, stateDir)
      val v = CanonState.save(spark, stateDir, cd.edges, cd.canon)
      KgPipeline.releaseCanon(spark, cd.canon)
      cd.edges.unpersist(); cd.remap.unpersist()
      v
    }
    assert(saveBatch("acme corp") == 1L)
    // a frame loaded at v1 and consumed only AFTER the next save — the
    // one-generation retention contract: deleting v1 the moment v2's
    // pointer lands would yank the files out from under this frame
    val v1Edges = CanonState.loadEdges(spark, stateDir).get
    assert(saveBatch("acme co") == 2L)
    assert(new java.io.File(s"$stateDir/v1").exists(),
      "superseded version reaped too early — a loaded frame would die")
    assert(v1Edges.count() >= 1L, "the v1 frame must still be consumable")
    assert(saveBatch("acme inc") == 3L)
    assert(!new java.io.File(s"$stateDir/v1").exists(),
      "versions older than the superseded one must be reaped")
    assert(new java.io.File(s"$stateDir/v2").exists())
    assert(CanonState.loadEdges(spark, stateDir).get.count() >= 1L)
  }

  test("CanonState load fails LOUD on corrupt or tampered state") {
    val kb = KgPipeline.kbAliasDf(spark, Seq(
      Synth.KbEntity("org:a", "orgName", "Acme Corp", Vector("acme corp"))))
    val stateDir = java.nio.file.Files.createTempDirectory("canoncorrupt")
      .toString + "/state"
    val cd = KgPipeline.canonicalizeWithState(spark,
      linkedOf("org:a" -> "acme corp"), kb, stateDir)
    CanonState.save(spark, stateDir, cd.edges, cd.canon)
    KgPipeline.releaseCanon(spark, cd.canon); cd.edges.unpersist()
    // tamper: flip the recorded edge checksum — data that no longer
    // matches its meta (a truncated/concurrent write) must refuse to
    // load; a silently smaller evidence set would silently fork
    // canonical ids
    val conf = spark.sessionState.newHadoopConf()
    val cur = new org.apache.hadoop.fs.Path(s"$stateDir/_current")
    val in = cur.getFileSystem(conf).open(cur)
    val txt = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
              finally in.close()
    val xor = """"edges_xor":(-?\d+)""".r.findFirstMatchIn(txt).get.group(1)
    graft.io.TableIO.atomicWrite(s"$stateDir/_current",
      txt.replace(s""""edges_xor":$xor""",
        s""""edges_xor":${xor.toLong + 1}"""), conf)
    val ex = intercept[IllegalArgumentException] {
      CanonState.loadEdges(spark, stateDir).get.count()
    }
    assert(ex.getMessage.contains("integrity"), ex.getMessage)
    // a garbled _current pointer is equally loud
    graft.io.TableIO.atomicWrite(s"$stateDir/_current",
      """{"version":1,"edges_rows":"not-a-number"}""", conf)
    val ex2 = intercept[IllegalArgumentException] {
      CanonState.loadEdges(spark, stateDir)
    }
    assert(ex2.getMessage.contains("corrupt"), ex2.getMessage)
    // truncated, not JSON, a mistyped, overflowing or missing field:
    // each is a corrupt _current that names itself
    Seq("""{"version":1,"edges_rows":2""", "version=1", "[1,2]",
        """{"version":99999999999999999999,"edges_rows":2,"edges_xor":0,"canon_rows":2,"canon_xor":0}""",
        """{"version":"1","edges_rows":2,"edges_xor":0,"canon_rows":2,"canon_xor":0}""",
        """{"version":1,"edges_rows":2,"edges_xor":0,"canon_rows":2}""").foreach { bad =>
      graft.io.TableIO.atomicWrite(s"$stateDir/_current", bad, conf)
      val e = intercept[IllegalArgumentException](CanonState.loadEdges(spark, stateDir))
      assert(e.getMessage.contains(s"$stateDir/_current") &&
        e.getMessage.contains("corrupt"), s"$bad: ${e.getMessage}")
    }
  }

  test("canonicalizeWithState fails LOUD on a canonical split") {
    val kb = KgPipeline.kbAliasDf(spark, Seq(
      Synth.KbEntity("org:a", "orgName", "Acme Corp", Vector("acme corp")),
      Synth.KbEntity("orgdup:a", "orgName", "Acme Corp", Vector("acmecorp")),
      Synth.KbEntity("org:o", "orgName", "Other Org", Vector("other org"))))
    val stateDir = java.nio.file.Files.createTempDirectory("canonsplit")
      .toString + "/state"
    // batch 1 bridges the duplicates through a shared surface
    val b1 = linkedOf("org:a" -> "acme co", "orgdup:a" -> "acme co")
    val cd1 = KgPipeline.canonicalizeWithState(spark, b1, kb, stateDir)
    assert(canonMap(cd1.canon)("orgdup:a") == "org:a")
    CanonState.save(spark, stateDir, cd1.edges, cd1.canon)
    KgPipeline.releaseCanon(spark, cd1.canon); cd1.edges.unpersist()
    // batch 2 attaches a THIRD entity (different canonical) to the
    // bridging surface — ambiguity guard severs the bridge, the old
    // component splits, and in-place reconcile is impossible
    val b2 = linkedOf("org:o" -> "acme co")
    val pinsBefore = spark.sparkContext.getRDDStorageInfo.map(_.id).toSet
    val ex = intercept[IllegalStateException] {
      KgPipeline.canonicalizeWithState(spark, b2, kb, stateDir)
    }
    assert(ex.getMessage.contains("SPLIT"), ex.getMessage)
    // the refusal is an expected, recoverable failure a long-lived
    // caller (StreamingKg) hits repeatedly — it must not pin the merged
    // edge set or the canon checkpoint. unpersist is async; poll.
    def leakedNow = spark.sparkContext.getRDDStorageInfo.map(_.id).toSet --
      pinsBefore
    val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
    while (leakedNow.nonEmpty && System.nanoTime() < deadline)
      Thread.sleep(200)
    assert(leakedNow.isEmpty,
      s"split abort leaked storage pins: $leakedNow")
  }

  test("reconcileCanon rewrites only drifted files' buckets; merged type triples collapse") {
    import spark.implicits._
    val buckets = 8
    val dir = java.nio.file.Files.createTempDirectory("reconcile")
      .toString + "/triples"
    val rows = Seq(
      // f1 carries drifted ids: a mention of the duplicate org + both
      // duplicates' type rows (which must collapse after the remap)
      ("r1/f1#0:0-2", "hasEntity", "orgdup:a", "r1", "f1", "c1"),
      ("orgdup:a", "hasType", "orgName", "r1", "f1", "c1"),
      ("org:a", "hasType", "orgName", "r1", "f1", "c1"),
      // f2 references only stable ids — its bucket must not be touched
      ("r1/f2#0:0-2", "hasEntity", "org:z", "r1", "f2", "c1"),
      ("org:z", "hasType", "orgName", "r1", "f2", "c1"))
      .toDF("subj", "pred", "obj", "src_repo", "src_path", "src_commit")
    TableIO.writeResumable(rows, dir, buckets, Seq("src_repo", "src_path"))
    val bucketOf = rows.select(col("src_path"),
      pmod(hash(col("src_repo"), col("src_path")), lit(buckets)).as("b"))
      .distinct().collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    assume(bucketOf("f1") != bucketOf("f2"),
      "fixture needs the two files in different buckets")
    val remap = Seq(("orgdup:a", "org:a")).toDF("old_id", "new_id")
    val report = KgPipeline.reconcileCanon(spark, dir, buckets, remap)
    assert(report.affectedBuckets == Seq(bucketOf("f1")),
      s"only f1's bucket may be rewritten: ${report.affectedBuckets}")
    val got = TableIO.readCommitted(spark, dir, buckets)
      .select("subj", "pred", "obj", "src_repo", "src_path", "src_commit")
      .collect().map(_.toSeq).toSet
    val want = Set(
      Seq("r1/f1#0:0-2", "hasEntity", "org:a", "r1", "f1", "c1"),
      Seq("org:a", "hasType", "orgName", "r1", "f1", "c1"),
      Seq("r1/f2#0:0-2", "hasEntity", "org:z", "r1", "f2", "c1"),
      Seq("org:z", "hasType", "orgName", "r1", "f2", "c1"))
    assert(got == want, s"reconciled table wrong: $got")
    assert(TableIO.verifyCommits(spark, dir, buckets).isEmpty)
    // idempotent: a second reconcile with the same remap is a no-op
    val again = KgPipeline.reconcileCanon(spark, dir, buckets, remap)
    assert(again.affectedBuckets.isEmpty,
      s"re-running the same remap must find nothing: $again")
  }

  test("mergeDeltaCanonical: two deltas with persisted state == full re-run; replay idempotent") {
    import spark.implicits._
    val buckets = 8
    val base0 = java.nio.file.Files.createTempDirectory("kgcanon").toString
    val dir = base0 + "/triples"
    val stateDir = base0 + "/canon_state"
    val n = 40L
    def ident(i: Long) = Synth.repoRow(i, 8, seed = 42L)
    def fileOf(r: Synth.RepoRow) =
      KgPipeline.RepoFile(r.repo, r.path, r.commit, r.lang, r.content)
    val base = (0L until n).map(i => fileOf(ident(i)))
    bootstrapCanonical(base, dir, buckets, stateDir)
    // delta 1: files 5..9 change content; delta 2: files 30..34 change
    def altFiles(lo: Long, hi: Long, seed: Long) = (lo until hi).map { i =>
      val id = ident(i)
      val alt = Synth.repoRow(i, 8, seed = seed)
      KgPipeline.RepoFile(id.repo, id.path, "e" * 40, id.lang, alt.content)
    }
    val d1 = altFiles(5, 10, 43L); val d2 = altFiles(30, 35, 44L)
    KgPipeline.mergeDeltaCanonical(spark, dir, buckets,
      spark.createDataset(d1), model, stateDir)
    KgPipeline.mergeDeltaCanonical(spark, dir, buckets,
      spark.createDataset(d2), model, stateDir)
    // replay delta 2 (crash-recovery path): must be byte-idempotent
    KgPipeline.mergeDeltaCanonical(spark, dir, buckets,
      spark.createDataset(d2), model, stateDir)
    // delta 3: files 0..2 emptied — their triples retract through the
    // vacated-file path, alias EVIDENCE stays (CanonState is append-only
    // by design); on this corpus linking is deterministic so the
    // retained evidence changes no canonical decision and table parity
    // holds
    val emptied = (0L until 3L).map(i => fileOf(ident(i)).copy(content = ""))
    KgPipeline.mergeDeltaCanonical(spark, dir, buckets,
      spark.createDataset(emptied), model, stateDir)
    val corpus = base.slice(3, 5) ++ d1 ++ base.slice(10, 30) ++ d2 ++
      base.slice(35, 40)
    val rf = KgPipeline.run(spark, spark.createDataset(corpus), model)
    val cols = Seq("subj", "pred", "obj", "src_repo", "src_path",
      "src_commit")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select(cols.map(col): _*)
        .collect().map(r => cols.indices.map(r.getString).mkString(""))
        .toSet
    val want = rows(rf.triples)
    KgPipeline.release(spark, rf)
    val got = rows(TableIO.readCommitted(spark, dir, buckets))
    assert(got == want,
      s"canonical merge diverges from full re-run: got=${got.size} " +
        s"want=${want.size}, onlyGot=${(got -- want).take(3)}, " +
        s"onlyWant=${(want -- got).take(3)}")
    assert(TableIO.verifyCommits(spark, dir, buckets).isEmpty)
    // state advanced once per merge call (bootstrap + 4 merges)
    val conf = spark.sessionState.newHadoopConf()
    val cur = new org.apache.hadoop.fs.Path(stateDir + "/_current")
    val in = cur.getFileSystem(conf).open(cur)
    val txt = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
              finally in.close()
    assert(txt.contains("\"version\":5"), txt)
  }

  test("mergeDeltaCanonical retracts a file whose new content has no mentions") {
    import spark.implicits._
    val buckets = 8
    val base0 = java.nio.file.Files.createTempDirectory("kgvacate").toString
    val dir = base0 + "/triples"
    val stateDir = base0 + "/canon_state"
    def ident(i: Long) = Synth.repoRow(i, 8, seed = 42L)
    val base = (0L until 20L).map { i =>
      val r = ident(i)
      KgPipeline.RepoFile(r.repo, r.path, r.commit, r.lang, r.content)
    }
    bootstrapCanonical(base, dir, buckets, stateDir)
    // the edit empties the file — zero sentences under every lang's
    // segmentation, so the new content yields ZERO triples; without the
    // vacated-key delete the file's stale triples would survive
    val id5 = ident(5L)
    val gutted = KgPipeline.RepoFile(id5.repo, id5.path, "e" * 40,
      id5.lang, "")
    val (report, reconcile) = KgPipeline.mergeDeltaCanonical(spark, dir,
      buckets, spark.createDataset(Seq(gutted)), model, stateDir)
    assert(report.nDeleteKeys == 1 && report.nDeletedExisting > 0,
      s"expected the vacated file's stale triples to be deleted: $report")
    assert(reconcile.affectedBuckets.isEmpty,
      s"a retraction adds no alias evidence, so nothing drifts: $reconcile")
    val left = TableIO.readCommitted(spark, dir, buckets)
      .where(col("src_repo") === id5.repo && col("src_path") === id5.path)
      .count()
    assert(left == 0, s"stale triples survived the vacating edit: $left")
    assert(TableIO.verifyCommits(spark, dir, buckets).isEmpty)
  }
}
