package perfbench

import graft.NerfModel
import graft.core._

/** The NER kernel (`graft.core`), driver-side and single-threaded, on a
  * seeded sample of held-out synthetic sentences.
  *
  * Every run checks span precision and recall against the sample's gold
  * forests (`CompareStats.compare`); a traced run also times the four
  * per-sentence phases one at a time: `Tokenizer.tokenize`,
  * `Features.schematize`, `Crf.Model.viterbi`, `Iob.decodeForest`.
  */
object Kernel {
  val Sentences = 2000
  val MinPR = 0.95
  private val Reps = 5

  /** Gold sentences from a stream other than the model's training
    * stream (`KgMain.model` trains on `Synth.corpus(400, seed = 42)`).
    */
  def heldOut(seed: Long): Vector[List[NeTree]] = {
    val s = seed * 1000003L + 17L
    Synth.corpus(Sentences, if (s == 42L) 43L else s)
  }

  def run(h: Harness, model: NerfModel): Unit = {
    val gold = heldOut(h.seed)
    val text = gold.map(_.flatMap(_.leaves).mkString(" "))
    val stats = CompareStats.compare(gold.zip(text.map(model.ner)))(
      CompareStats.AllKey)
    h.op(h.check(stats.precision >= MinPR && stats.recall >= MinPR,
      f"kernel span P/R ${stats.precision}%.4f/${stats.recall}%.4f below $MinPR"))
    if (h.traced) phases(h, model, text)
  }

  private def phases(h: Harness, model: NerfModel,
                     text: Vector[String]): Unit = {
    val parsed = model.crf.parsedLabels
    text.foreach(model.ner) // JIT warm-up of all four phases
    /** Median over reps of one phase's time, µs per sentence. */
    def perSentence[A](f: => A): (A, Double) = {
      var out: A = f
      val ts = (1 to Reps).map { _ =>
        val t0 = System.nanoTime()
        out = f
        (System.nanoTime() - t0) / 1e3 / text.length
      }
      (out, Harness.median(ts))
    }
    val (toks, tokUs) = perSentence(text.map(Tokenizer.tokenize))
    val (obs, featUs) = perSentence(
      toks.map(t => Features.schematize(model.schema, t)))
    val (paths, vitUs) = perSentence(obs.map(o => model.crf.viterbi(o)))
    val (_, decUs) = perSentence(toks.zip(paths).map { case (t, p) =>
      Iob.decodeForest(t.zip(p.map(parsed)))
    })
    Report.put(h, "kernel.tokenize_us", tokUs)
    Report.put(h, "kernel.features_us", featUs)
    Report.put(h, "kernel.viterbi_us", vitUs)
    Report.put(h, "kernel.decode_us", decUs)
    Report.put(h, "kernel.sentences", text.length.toDouble)
    Report.put(h, "kernel.tokens", toks.map(_.length).sum.toDouble)
  }
}
