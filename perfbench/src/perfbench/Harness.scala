package perfbench

import org.apache.spark.sql.SparkSession

import scala.collection.mutable

/** One benchmark run's shared state: arguments, the Spark session of
  * the current width, the optional ledger, raw samples and the checks.
  */
final class Harness(val workload: String, val seed: Long,
                    val seconds: Int, val traced: Boolean,
                    val work: String, val bench: String,
                    val revision: String, val heap: String) {
  val nproc: Int = Runtime.getRuntime.availableProcessors()
  val ledger: Option[Ledger] = if (traced) Some(new Ledger) else None

  /** Raw per-operation samples by series name, in run order. */
  val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  /** Per-layer metrics of a traced run, with units. */
  val metrics = mutable.Map.empty[String, (Double, String)]
  val failures = mutable.ArrayBuffer.empty[String]
  /** Outputs that the checks compared, by name (kept in the record). */
  val outputs = mutable.LinkedHashMap.empty[String, String]
  var attempted = 0
  var failedOps = 0

  private var current: Option[(Int, SparkSession)] = None

  /** The session at `local[cpus]`, replacing a session of another width
    * (one SparkContext per JVM). Partition counts follow the width, as
    * in `KgMain.session`.
    */
  def spark(cpus: Int): SparkSession = current match {
    case Some((c, s)) if c == cpus => s
    case other =>
      other.foreach { case (_, s) => ledger.foreach(_.detach()); s.stop() }
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      val s = SparkSession.builder()
        .master(s"local[$cpus]")
        .appName(s"perfbench-$workload")
        .config("spark.sql.shuffle.partitions", cpus.toString)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.warehouse.dir", s"$work/warehouse")
        .getOrCreate()
      s.sparkContext.setLogLevel("WARN")
      ledger.foreach(_.attach(s.sparkContext))
      current = Some((cpus, s))
      s
  }

  def stop(): Unit = {
    current.foreach { case (_, s) => ledger.foreach(_.detach()); s.stop() }
    current = None
  }

  private var tracing = false

  /** Run `f` with spans on (a traced run's traced operation). */
  def tracedOp[A](f: => A): A = {
    tracing = ledger.isDefined
    try f finally tracing = false
  }

  /** `f` as a ledger span inside [[tracedOp]]; plain `f` otherwise. */
  def layer[A](name: String)(f: => A): A = ledger match {
    case Some(l) if tracing => l.layer(name)(f)
    case _ => f
  }

  def output(name: String, v: String): Unit = outputs(name) = v

  def sample(series: String, v: Double): Unit =
    samples.getOrElseUpdate(series, mutable.ArrayBuffer.empty) += v

  /** A correctness check: a false `ok` fails the run. */
  def check(ok: Boolean, what: => String): Boolean = {
    if (!ok) {
      failures += what
      System.err.println(s"perfbench: CHECK FAILED: $what")
    }
    ok
  }

  /** Count one operation; `ok` false (a failed check) counts it failed. */
  def op(ok: Boolean): Unit = {
    attempted += 1
    if (!ok) failedOps += 1
  }

  /** Wall seconds of `f`, rejecting a non-positive reading. */
  def timed[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = f
    val s = (System.nanoTime() - t0) / 1e9
    check(s > 0, s"non-positive duration $s s")
    (a, s)
  }

  def deleteTree(path: String): Unit = {
    val p = java.nio.file.Paths.get(path)
    if (java.nio.file.Files.exists(p)) {
      val st = java.nio.file.Files.walk(p)
      try st.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(x => java.nio.file.Files.delete(x))
      finally st.close()
    }
  }

  /** Bytes and regular-file count under `path` (hidden files excluded). */
  def diskUsage(path: String, suffix: String = ""): (Long, Long) = {
    val p = java.nio.file.Paths.get(path)
    if (!java.nio.file.Files.exists(p)) return (0L, 0L)
    val st = java.nio.file.Files.walk(p)
    try {
      var bytes = 0L
      var files = 0L
      st.forEach { x =>
        val n = x.getFileName.toString
        if (java.nio.file.Files.isRegularFile(x) && !n.startsWith(".") &&
            !n.startsWith("_") && n.endsWith(suffix)) {
          bytes += java.nio.file.Files.size(x); files += 1
        }
      }
      (bytes, files)
    } finally st.close()
  }
}

object Harness {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.length

  /** Peak resident set of this JVM (`VmHWM`), MB. */
  def rssPeakMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") =>
        l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(0.0)
    finally src.close()
  }
}
