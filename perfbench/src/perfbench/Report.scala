package perfbench

/** The per-layer metric catalogue and its computation from the ledger.
  * A traced run prints every metric of the catalogue; a layer the
  * workload does not run reads 0.
  */
object Report {
  val SparkLayers = Seq("ner", "link", "canon", "triples", "write", "merge")
  val QueryGroups = Seq("relational", "curate", "graph", "kg")

  /** (name, unit) of every per-layer metric, in print order. */
  val PerLayer: Seq[(String, String)] =
    SparkLayers.flatMap(l => Seq(
      (s"$l.wall_s", "s"), (s"$l.task_s", "s"),
      (s"$l.cpu_s", "s"), (s"$l.gc_s", "s"),
      (s"$l.shuffle_read_bytes", "bytes"),
      (s"$l.shuffle_write_bytes", "bytes"),
      (s"$l.spill_bytes", "bytes"),
      (s"$l.records_out", "count"),
      (s"$l.jobs", "count"))) ++
    Seq(("kernel.tokenize_us", "us"),
      ("kernel.features_us", "us"),
      ("kernel.viterbi_us", "us"),
      ("kernel.decode_us", "us"),
      ("kernel.sentences", "count"),
      ("kernel.tokens", "count"),
      ("ner.mentions_per_file_p99", "count"),
      ("link.nil_rate", "ratio"),
      ("link.cand_per_mention", "count"),
      ("canon.edges", "count"),
      ("canon.max_component", "count"),
      ("triples.type_dedup_ratio", "ratio"),
      ("write.bytes_on_disk", "bytes"),
      ("write.files", "count"),
      ("write.bucket_skew", "ratio"),
      ("delta.ner.wall_s", "s"),
      ("delta.link.wall_s", "s"),
      ("delta.canon.wall_s", "s"),
      ("delta.triples.wall_s", "s"),
      ("merge.write_amp", "ratio"),
      ("merge.buckets", "count"),
      ("reconcile.wall_s", "s"),
      ("reconcile.task_s", "s"),
      ("reconcile.buckets", "count"),
      ("canon_state.wall_s", "s"),
      ("canon_state.bytes", "bytes")) ++
    QueryGroups.flatMap(g => Seq(
      (s"q.$g.wall_s", "s"), (s"q.$g.task_s", "s"),
      (s"q.$g.shuffle_write_bytes", "bytes"),
      (s"q.$g.jobs", "count"))) ++
    Seq(("triples_per_s", "triples/s"),
      ("triples_per_s_1t", "triples/s"),
      ("scaling_eff", "ratio"),
      ("delta_batch_s", "s"),
      ("surface_total_s", "s"),
      ("kg_query_s", "s"),
      ("trace.wall_s", "s"),
      ("trace.overhead_s", "s"),
      ("trace.unattributed_s", "s"))

  private val units = PerLayer.toMap

  def put(h: Harness, name: String, v: Double): Unit =
    h.metrics(name) = (v, units(name))

  /** Mean of a counter's samples (one per traced op). */
  def counter(h: Harness, name: String): Unit =
    put(h, name, Harness.mean(h.samples.get(name).fold(Seq.empty[Double])(_.toSeq)))

  /** The common set of one Spark layer, per traced op. */
  def sparkLayer(h: Harness, l: Ledger, layer: String, ops: Int): Unit = {
    val t = l.task(layer)
    put(h, s"$layer.wall_s", l.wallSeconds(layer) / ops)
    put(h, s"$layer.task_s", t.taskNs / 1e9 / ops)
    put(h, s"$layer.cpu_s", t.cpuNs / 1e9 / ops)
    put(h, s"$layer.gc_s", t.gcNs / 1e9 / ops)
    put(h, s"$layer.shuffle_read_bytes", t.shuffleRead.toDouble / ops)
    put(h, s"$layer.shuffle_write_bytes", t.shuffleWrite.toDouble / ops)
    put(h, s"$layer.spill_bytes", t.spill.toDouble / ops)
    counter(h, s"$layer.records_out")
    put(h, s"$layer.jobs", t.jobs.toDouble / ops)
  }

  /** Wall of the `root` spans, the part of it no layer covers, and the
    * tracing overhead (median traced op minus median untraced op).
    * Rejects a non-positive span and a span whose self time is negative
    * or exceeds its root's wall; self times then add up to the walls.
    */
  def trace(h: Harness, l: Ledger, root: String): Unit = {
    val spans = l.allSpans
    val byId = spans.map(s => s.id -> s).toMap
    def rootOf(s: Ledger.Span): Ledger.Span =
      if (s.parent < 0) s else rootOf(byId(s.parent))
    val childNs = spans.groupBy(_.parent).view.mapValues(_.map(_.durNs).sum).toMap
    spans.foreach { s =>
      val self = s.durNs - childNs.getOrElse(s.id, 0L)
      h.check(s.durNs > 0, s"span ${s.name} has non-positive duration ${s.durNs} ns")
      h.check(self >= 0 && self <= rootOf(s).durNs,
        s"span ${s.name} self time $self ns outside its root's wall " +
          s"${rootOf(s).durNs} ns")
    }
    val roots = spans.count(_.name == root)
    put(h, "trace.wall_s", l.wallSeconds(root) / roots)
    put(h, "trace.unattributed_s", l.selfSeconds.getOrElse(root, 0.0) / roots)
    put(h, "trace.overhead_s",
      Harness.median(h.samples("traced_s").toSeq) -
        Harness.median(h.samples("untraced_s").toSeq))
  }

  /** The per-layer metrics in catalogue order, 0 where not measured. */
  def perLayer(h: Harness): Seq[(String, Double, String)] =
    PerLayer.map { case (n, u) => (n, h.metrics.get(n).fold(0.0)(_._1), u) }
}
