package graft.pipeline

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The TextDedup/Ann modules are a library surface: they must work over
  * arbitrary column names and inputs, not just the driver testdata.
  */
class LibrarySurfaceSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  test("SparkEntry contract: every oracle key names a query; counts hold") {
    val queries = graft.SparkEntry.queries.keySet
    val oracles = graft.SparkEntry.oracleSql.keySet
    // an oracle whose key matches no query silently drops out of the
    // driver's correctness board — nothing else catches the typo
    assert(oracles.subsetOf(queries),
      s"oracle keys without a query: ${oracles -- queries}")
    assert(queries.size >= 54, s"query surface shrank: ${queries.size}")
    assert(oracles.size >= 43, s"oracled surface shrank: ${oracles.size}")
  }

  test("JSON goes through graft.io.Json: no hand-written JSON reader or escaper in src/main") {
    import scala.jdk.CollectionConverters._
    // the benchmark harness files are kept byte-identical; both print
    // their JSON lines by hand
    val exempt = Set("Bench.scala", "Verify.scala")
    // the parser and escapers the codec replaced, a regex literal that
    // spells a JSON key and its colon (`"rows":(\d+)`, `"k"\s*:`), and a
    // contains check over quoted JSON text
    val banned =
      """\b(MiniJson|jstr|junescape)\b|"(\\{1,2}s\*)?:\s*"?(\(|\\)|\.contains\("\\"""".r
    val hits = java.nio.file.Files.walk(java.nio.file.Paths.get("src/main/scala"))
      .iterator.asScala
      .filter(p => p.toString.endsWith(".scala") &&
        !exempt(p.getFileName.toString))
      .flatMap(p => java.nio.file.Files.readAllLines(p).asScala.zipWithIndex
        .collect { case (line, i) if banned.findFirstIn(line).isDefined =>
          s"$p:${i + 1}: ${line.trim}" })
      .toList
    assert(hits.isEmpty, hits.mkString("\n"))
  }

  test("two-path ops decide through LocalPath: no createDataFrame or budgeted collect elsewhere in src/main") {
    import scala.jdk.CollectionConverters._
    // kg-query's display cap: it prints at most 10,000 bindings and says
    // when there were more; it picks no path
    val exempt = Set("Cli.scala" -> "10001")
    val limit = """\.limit\(""".r
    val thenCollect = """\s*\.collect\(\)""".r
    val hits = java.nio.file.Files.walk(java.nio.file.Paths.get("src/main/scala"))
      .iterator.asScala
      .filter(p => p.toString.endsWith(".scala") &&
        p.getFileName.toString != "LocalPath.scala")
      .flatMap { p =>
        val text = new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
        def at(offset: Int) = s"$p:${text.take(offset).count(_ == '\n') + 1}"
        val emits = """createDataFrame\(""".r.findAllMatchIn(text)
          .map(m => s"${at(m.start)}: createDataFrame")
        // a `.limit(n).collect()` is a budgeted collect unless n is a
        // one-digit literal (a probe for the first rows)
        val collects = limit.findAllMatchIn(text).flatMap { m =>
          var (depth, i) = (1, m.end)
          while (depth > 0 && i < text.length) {
            if (text(i) == '(') depth += 1 else if (text(i) == ')') depth -= 1
            i += 1
          }
          val arg = text.substring(m.end, i - 1).trim
          val collected =
            thenCollect.findPrefixOf(text.subSequence(i, text.length)).isDefined
          if (!collected || arg.matches("\\d") ||
              exempt(p.getFileName.toString -> arg)) None
          else Some(s"${at(m.start)}: limit($arg).collect()")
        }
        emits ++ collects
      }
      .toList
    assert(hits.isEmpty, hits.mkString("\n"))
  }

  test("TextDedup.minhashPairs finds planted near-duplicates, custom columns") {
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog again and again today"
    val near = base.replace("today", "tomorrow") // high Jaccard
    val far = "completely different content with no overlap at all whatsoever here now"
    val df = Seq((10L, base), (20L, near), (30L, far))
      .toDF("my_id", "my_text")
    val pairs = TextDedup.minhashPairs(df, "my_id", "my_text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((10L, 20L)), s"got $pairs")
  }

  test("duplicatedSpanHashes matches duplicatedSpans gram-for-gram") {
    import spark.implicits._
    val boiler = (1 to 25).map(i => s"w$i").mkString(" ") // shared 25-token block
    val df = Seq(
      (1L, s"intro one $boiler tail alpha"),
      (2L, s"different opening here $boiler closing"),
      (3L, "no shared content in this document at all " +
        (1 to 20).map(i => s"u$i").mkString(" ")))
      .toDF("d", "t")
    val byText = TextDedup.duplicatedSpans(df, "d", "t", n = 20)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val byHash = TextDedup.duplicatedSpanHashes(df, "d", "t", n = 20)
      .collect().map(r => r.getString(1) -> (r.getLong(2), r.getLong(3))).toMap
    assert(byText.nonEmpty, "planted boilerplate must produce duplicated spans")
    // identical gram set with identical counts; exemplar == the gram
    // itself (every hash group here holds exactly one distinct gram)
    assert(byHash == byText)
  }

  test("TextDedup.simhash: identical docs collide, different docs don't") {
    import spark.implicits._
    val df = Seq((1L, "alpha beta gamma"), (2L, "alpha beta gamma"),
      (3L, "zeta eta theta iota kappa")).toDF("id", "body")
    val fp = TextDedup.simhash(df, "id", "body")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fp(1L) == fp(2L))
    assert(fp(1L) != fp(3L))
    val groups = TextDedup.simhashGroups(df, "id", "body").collect()
    assert(groups.length == 1 && groups(0).getAs[String]("docs_csv") == "1,2")
  }

  test("Ann.lshNeighbors / ivfNeighbors rank a planted near-identical vector first") {
    import spark.implicits._
    val rnd = new scala.util.Random(99)
    val dim = 64
    def vec() = Array.fill(dim)(rnd.nextGaussian().toFloat)
    val base = vec()
    val near = base.clone(); near(0) = near(0) + 0.01f
    val rows = (0L, base) +: (1L, near) +:
      (2L until 120L).map(i => (i, vec()))
    val df = rows.toDF("eid", "emb")
    val lsh = Ann.lshNeighbors(df, "eid", "emb", probePred = col("eid") === 0)
      .collect().sortBy(_.getAs[Int]("rank"))
    assert(lsh.head.getAs[Long]("vec_id") == 1L,
      s"LSH should rank the planted near-dup first: ${lsh.toSeq}")
    val ivf = Ann.ivfNeighbors(df, "eid", "emb", probePred = col("eid") === 0,
      nCells = 4)
      .collect().sortBy(_.getAs[Int]("rank"))
    assert(ivf.head.getAs[Long]("vec_id") == 1L,
      s"IVF should rank the planted near-dup first: ${ivf.toSeq}")
  }
}
