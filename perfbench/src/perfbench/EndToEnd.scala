package perfbench

/** The end-to-end metrics of an untraced run. Every workload reports
  * each of them, measured on its own operation.
  */
object EndToEnd {
  def metrics(h: Harness): Seq[(String, Double, String)] = Seq(
    ("op_s", Harness.median(h.samples("op_s").toSeq), "s"),
    ("setup_s", h.samples("setup_s").head, "s"),
    ("rss_peak_mb", Harness.rssPeakMb(), "MB"))
}
