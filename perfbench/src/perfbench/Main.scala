package perfbench

/** Benchmark entry point (launched by perfbench/run.py):
  *
  *   perfbench.Main --workload build|surface --seed N --seconds S
  *     --trace 0|1 --work DIR --bench DIR --records DIR --revision REV
  *     --heap SIZE
  *
  * Prints one result object as the last line of standard output and
  * writes the run's full record (arguments, environment, raw samples,
  * spans, checks) to `<records>/<workload>-seed<N>-trace<T>-<time>.json`.
  * Exits 1 when any correctness check failed.
  */
object Main {

  def main(argv: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def arg(k: String): String =
      a.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val h = new Harness(arg("workload"), arg("seed").toLong,
      arg("seconds").toInt, arg("trace") == "1", arg("work"),
      arg("bench"), arg("revision"), arg("heap"))
    val error = try {
      h.workload match {
        case "build" => Build.run(h)
        case "surface" => Surface.run(h)
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      }
      None
    } catch {
      case t: Throwable =>
        t.printStackTrace()
        h.check(ok = false, s"run aborted: $t")
        h.op(ok = false)
        Some(t)
    }
    val sparkVersion = org.apache.spark.SPARK_VERSION
    h.stop()
    val metrics =
      if (h.traced) Report.perLayer(h)
      else EndToEnd.metrics(h)
    val correct = h.failures.isEmpty && error.isEmpty
    val res = Json.obj(
      "correct" -> Json.raw(correct.toString),
      "attempted" -> Json.raw(math.max(h.attempted, 1).toString),
      "failed" -> Json.raw(math.max(h.failedOps, if (correct) 0 else 1).toString),
      "metrics" -> Json.obj(metrics.map { case (n, v, u) =>
        n -> Json.obj("value" -> Json.num(v), "unit" -> Json.str(u))
      }: _*))
    val record = Json.obj(
      "workload" -> Json.str(h.workload),
      "seed" -> Json.raw(h.seed.toString),
      "seconds" -> Json.raw(h.seconds.toString),
      "trace" -> Json.raw(if (h.traced) "1" else "0"),
      "nproc" -> Json.raw(h.nproc.toString),
      "revision" -> Json.str(h.revision),
      "jvm_heap" -> Json.str(h.heap),
      "java_version" -> Json.str(System.getProperty("java.version")),
      "spark_version" -> Json.str(sparkVersion),
      "checks_failed" -> Json.arr(h.failures.map(Json.str).toSeq),
      "outputs" -> Json.obj(h.outputs.toSeq.map { case (k, v) =>
        k -> Json.str(v) }: _*),
      "samples" -> Json.obj(h.samples.toSeq.map { case (k, vs) =>
        k -> Json.arr(vs.map(Json.num).toSeq)
      }: _*),
      "spans" -> Json.arr(h.ledger.fold(Seq.empty[String])(_.allSpans.map(s =>
        Json.obj("id" -> Json.raw(s.id.toString), "name" -> Json.str(s.name),
          "parent" -> Json.raw(s.parent.toString),
          "start_ns" -> Json.raw(s.startNs.toString),
          "end_ns" -> Json.raw(s.endNs.toString))))),
      "result" -> res)
    val recDir = java.nio.file.Paths.get(arg("records"))
    java.nio.file.Files.createDirectories(recDir)
    java.nio.file.Files.write(recDir.resolve(
      s"${h.workload}-seed${h.seed}-trace${if (h.traced) 1 else 0}-" +
        s"${System.currentTimeMillis()}.json"),
      (record + "\n").getBytes("UTF-8"))
    println(res)
    System.out.flush()
    sys.exit(if (correct) 0 else 1)
  }
}

/** Minimal JSON rendering for the result line and the run record. */
object Json {
  def raw(s: String): String = s
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")
  def obj(kv: (String, String)*): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
