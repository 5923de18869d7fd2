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

  test("parseBuckets accepts only integers >= 1") {
    assert(Cli.parseBuckets("16") == Some(16))
    assert(Cli.parseBuckets("1") == Some(1))
    Seq("0", "-4", "abc", "1.5", "", " 8", "99999999999").foreach { s =>
      assert(Cli.parseBuckets(s).isEmpty, s"'$s' must be rejected")
    }
  }

  /** Run `graft.Cli` in a fresh JVM: (exit code, stderr). */
  private def runCli(args: String*): (Int, String) = {
    val javaBin = s"${System.getProperty("java.home")}/bin/java"
    val cp = System.getProperty("java.class.path")
    val p = new ProcessBuilder((Seq(javaBin, "-cp", cp, "graft.Cli") ++ args): _*)
      .redirectOutput(ProcessBuilder.Redirect.DISCARD)
      .start()
    val err = new String(p.getErrorStream.readAllBytes(), "UTF-8")
    (p.waitFor(), err)
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
}
