package graft

import org.scalatest.funsuite.AnyFunSuite

/** Argument parsing and output escaping of the kg-* CLI verbs. */
class CliSpec extends AnyFunSuite {

  test("tsvCell escapes separators and backslashes; NULL is \\N") {
    assert(Cli.tsvCell("plain/path.scala") == "plain/path.scala")
    assert(Cli.tsvCell("a\tb") == "a\\tb")
    assert(Cli.tsvCell("a\nb\r") == "a\\nb\\r")
    assert(Cli.tsvCell("C:\\dir") == "C:\\\\dir")
    // an escaped backslash before a 't' must not read back as a tab
    assert(Cli.tsvCell("\\t") == "\\\\t")
    assert(Cli.tsvCell(null) == "\\N")
    // the literal two-character string \N stays distinguishable from NULL
    assert(Cli.tsvCell("\\N") == "\\\\N")
    assert(Cli.tsvCell(42L) == "42")
    // no escaped cell ever holds a raw separator
    Seq("x\ty\nz", "\r\n", "\t\t").foreach { v =>
      assert(!Cli.tsvCell(v).exists(c => c == '\t' || c == '\n' || c == '\r'))
    }
  }

  test("kg-export's JSON line parses back to an out path holding a quote and a newline") {
    val out = "/tmp/odd \"dir\"\nnext\\"
    val line = Cli.exportLine(42L, out)
    assert(!line.contains('\n'), line)
    val doc = graft.io.Json.parse(line, "kg-export line")
    assert(doc.fields.map(_._1) == Seq("ntriples_written", "out"))
    assert(doc("ntriples_written").long == 42L && doc("out").str == out)
  }

  test("parseBuckets accepts only integers >= 1") {
    assert(Cli.parseBuckets("16") == Some(16))
    assert(Cli.parseBuckets("1") == Some(1))
    Seq("0", "-4", "abc", "1.5", "", " 8", "99999999999").foreach { s =>
      assert(Cli.parseBuckets(s).isEmpty, s"'$s' must be rejected")
    }
  }

  /** Run `main` in a fresh JVM with this JVM's `--add-opens` flags (a
    * Spark session needs them on JDK 17): (exit code, stdout, stderr).
    */
  private def runMain(main: String, args: String*): (Int, String, String) = {
    val javaBin = s"${System.getProperty("java.home")}/bin/java"
    val cp = System.getProperty("java.class.path")
    val opens = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.toArray.map(_.toString)
      .filter(_.startsWith("--add-opens")).toSeq
    // stderr to a file: a Spark run's log would fill the pipe while
    // this thread blocks on stdout
    val errFile = java.io.File.createTempFile("clispec", ".err")
    try {
      val p = new ProcessBuilder(
          (Seq(javaBin, "-Xmx1g") ++ opens ++ Seq("-cp", cp, main) ++ args): _*)
        .redirectError(errFile)
        .start()
      val out = new String(p.getInputStream.readAllBytes(), "UTF-8")
      val code = p.waitFor()
      (code, out, new String(java.nio.file.Files.readAllBytes(errFile.toPath), "UTF-8"))
    } finally errFile.delete()
  }

  /** Run `graft.Cli` in a fresh JVM: (exit code, stderr). */
  private def runCli(args: String*): (Int, String) = {
    val (code, _, err) = runMain("graft.Cli", args: _*)
    (code, err)
  }

  test("a bad bucket count is a usage error with exit 2") {
    val dir = java.nio.file.Files.createTempDirectory("clibuckets").toString
    Seq(Seq("kg-audit", dir, "0"), Seq("kg-export", dir, s"$dir/out", "x"),
        Seq("kg-query", dir, "?s ?p ?o", "buckets=-1")).foreach { args =>
      val (code, err) = runCli(args: _*)
      assert(code == 2, s"$args: exit $code, stderr: $err")
      assert(err.contains("bucket count must be an integer >= 1"),
        s"$args: stderr: $err")
    }
  }

  test("a kg-query pattern without exactly three terms is a usage error with exit 2") {
    val dir = java.nio.file.Files.createTempDirectory("clipattern").toString
    Seq("?s hasType", "?s hasType persName extra", "  ").foreach { pat =>
      val (code, err) = runCli("kg-query", dir, "?m hasEntity ?e", pat)
      assert(code == 2, s"'$pat': exit $code, stderr: $err")
      assert(err.startsWith("usage: kg-query:") &&
        err.contains("exactly 3 whitespace-separated terms"),
        s"'$pat': stderr: $err")
      assert(!err.contains("Exception"), s"'$pat': stderr: $err")
    }
  }

  test("curate on sf0.001: report keys in order; disabled stages pass counts through") {
    val out = java.nio.file.Files.createTempDirectory("clicurate").toString
    val (code, stdout, err) = runMain("graft.Cli", "curate", "/root/testdata/sf0.001", s"$out/t")
    assert(code == 0, s"exit $code, stderr: ${err.takeRight(2000)}")
    val json = stdout.linesIterator.filter(_.startsWith("{")).toSeq.last
    val report = graft.io.Json.parse(json, "curate report line")
    assert(report.fields.map(_._1) == Seq("n_input", "n_null_text", "n_redacted",
      "n_after_exact", "n_after_decontam", "n_after_boilerplate",
      "n_after_repetition", "n_after_quality", "n_after_lm_ppl",
      "n_after_minhash", "n_after_embedding", "n_after_mixture",
      "hot_keys", "salts", "n_written", "resumed_stages"), json)
    def n(k: String): Long = report(k).long
    assert(n("n_after_decontam") == n("n_after_exact"), json)
    assert(n("n_after_repetition") == n("n_after_boilerplate"), json)
    assert(n("n_after_mixture") == n("n_after_embedding"), json)
    assert(n("n_written") == n("n_after_mixture"), json)
  }

  test("Verify with other than 2 or 3 arguments is a usage error with exit 2") {
    Seq(Seq.empty[String], Seq("only-one"), Seq("a", "b", "c", "d")).foreach { args =>
      val (code, _, err) = runMain("graft.Verify", args: _*)
      assert(code == 2, s"$args: exit $code, stderr: $err")
      assert(err.startsWith("usage: graft.Verify"), s"$args: stderr: $err")
      assert(!err.contains("Exception"), s"$args: stderr: $err")
    }
  }
}
