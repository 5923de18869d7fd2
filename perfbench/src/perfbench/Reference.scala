package perfbench

import java.nio.file.{Files, Paths}

/** The committed reference outputs that every run's outputs must equal,
  * one `key value…` line each:
  *
  *  - `reference/build.txt`: per build corpus, the committed triple
  *    count and a digest of the per-bucket manifest counters;
  *  - `reference/surface.txt`: per query, the output fingerprint (rows,
  *    XOR and sum of row hashes) on `data/sf0.001`.
  *
  * `python3 perfbench/run.py --write-references` runs this object's
  * `main`, which rewrites both files from the current program. A change
  * that alters the outputs on purpose commits the rewritten files.
  */
object Reference {
  private def path(bench: String, name: String) =
    Paths.get(bench, "reference", s"$name.txt")

  /** Key → the rest of its line; empty when the file is missing. */
  def read(bench: String, name: String): Map[String, String] = {
    val p = path(bench, name)
    if (!Files.exists(p)) Map.empty
    else {
      val src = scala.io.Source.fromFile(p.toFile, "UTF-8")
      try src.getLines().map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
        .map(l => l.takeWhile(_ != ' ') -> l.dropWhile(_ != ' ').trim).toMap
      finally src.close()
    }
  }

  private def write(bench: String, name: String, header: String,
                    rows: Seq[(String, String)]): Unit = {
    Files.createDirectories(path(bench, name).getParent)
    Files.write(path(bench, name), (s"# $header\n" +
      rows.map { case (k, v) => s"$k $v\n" }.mkString).getBytes("UTF-8"))
  }

  /** perfbench.Reference --work DIR --bench DIR: rebuild every build
    * corpus and run every query once; write the files only if every
    * check passed.
    */
  def main(argv: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val h = new Harness("reference", 0L, 0, false, a("work"), a("bench"),
      "", "")
    val ok = try {
      val build = Build.references(h)
      val surface = Surface.references(h)
      if (h.failures.isEmpty) {
        write(h.bench, "build", s"build corpus: triples, manifest digest " +
          s"(${Build.Files} files, ${Build.Buckets} buckets)", build)
        write(h.bench, "surface", "query: rows, XOR of row hashes, " +
          "sum of row hashes mod 2^20", surface)
      }
      h.failures.isEmpty
    } finally h.stop()
    sys.exit(if (ok) 0 else 1)
  }
}
