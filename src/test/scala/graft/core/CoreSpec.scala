package graft.core

import org.scalatest.funsuite.AnyFunSuite

class TokenizerSpec extends AnyFunSuite {
  import Tokenizer._

  test("whitespace split") {
    assert(tokenize("ala ma  kota") == Vector("ala", "ma", "kota"))
  }
  test("punctuation split off edges, one char per token") {
    assert(tokenize("Hello, world!") == Vector("Hello", ",", "world", "!"))
    assert(tokenize("(quoted).") == Vector("(", "quoted", ")", "."))
  }
  test("internal punctuation preserved") {
    assert(tokenize("rock-and-roll isn't split") ==
      Vector("rock-and-roll", "isn't", "split"))
  }
  test("URIs protected from punctuation splitting") {
    assert(tokenize("see http://x.org/a,b. now") ==
      Vector("see", "http://x.org/a,b.", "now"))
  }
  test("essence counts non-space chars") {
    assert(essence("a b  c") == 3)
  }
}

class EnamexSpec extends AnyFunSuite {
  import Forest._

  test("roundtrip flat sentence") {
    val line = "ala ma kota ."
    assert(renderEnamex(parseEnamex(line)) == line)
  }
  test("nested tags parse to nested nodes") {
    val line = "trener <persName><persName.forename>Mirko</persName.forename> " +
      "<persName.surname>Jozica</persName.surname></persName> odszedl ."
    val f = parseEnamex(line)
    assert(f.length == 4)
    val per = f(1).asInstanceOf[NeNode]
    assert(per.neType == "persName")
    assert(per.children.map(_.asInstanceOf[NeNode].neType) ==
      List("persName.forename", "persName.surname"))
    assert(renderEnamex(f) == line)
  }
  test("escapes roundtrip") {
    val f = List(NeLeaf("a<b"), NeLeaf("c d"), NeLeaf("e\\f"))
    assert(parseEnamex(renderEnamex(f)) == f)
  }
  test("real reference corpus lines parse and roundtrip") {
    val src = scala.io.Source.fromFile("/root/reference/example/train.nes")("UTF-8")
    val lines = try src.getLines().take(200).toVector finally src.close()
    lines.foreach { l =>
      val f = parseEnamex(l)
      assert(f.nonEmpty)
      assert(parseEnamex(renderEnamex(f)) == f, s"roundtrip failed: $l")
    }
  }
}

class SpanSpec extends AnyFunSuite {
  import Forest._

  val nested = parseEnamex(
    "x <a><b>p q</b> <c>r</c></a> y <d>z</d>")

  test("toSpans flattens with depth") {
    val (toks, spans) = toSpans(nested)
    assert(toks == Vector("x", "p", "q", "r", "y", "z"))
    assert(spans.toSet == Set(
      Span("b", 1, 3, 1), Span("c", 3, 4, 1), Span("a", 1, 4, 0),
      Span("d", 5, 6, 0)))
  }
  test("fromSpans inverts toSpans") {
    val (toks, spans) = toSpans(nested)
    assert(fromSpans(toks, spans) == nested)
  }
  test("charSpans ignore whitespace and count NE nodes only") {
    val f = parseEnamex("ab <t>cd ef</t>")
    assert(charSpans(f) == Set(("t", 2, 6)))
  }
}

class SyncSpec extends AnyFunSuite {
  import Forest._

  test("sync replaces leaves with intersecting new tokens") {
    // old: one leaf "U.S." inside tag; new tokenization splits it
    val f = parseEnamex("in <t>U.S.</t> now")
    val newToks = Vector("in", "U", ".", "S", ".", "now")
    val synced = sync(f, newToks)
    assert(renderEnamex(synced) == "in <t>U . S .</t> now")
  }
  test("sync with identical tokenization is identity") {
    val f = parseEnamex("a <t>b c</t> d")
    assert(sync(f, Vector("a", "b", "c", "d")) == f)
  }
  test("sync merges tokens spanning old boundaries") {
    // old tokens "a" "b" both intersect new token "ab"
    val f = parseEnamex("<t>a b</t> c")
    val synced = sync(f, Vector("ab", "c"))
    assert(renderEnamex(synced) == "<t>ab</t> c")
  }
  test("reTokenize splits punctuation into the tag") {
    val f = parseEnamex("ok <t>Acme, Inc.</t> done")
    val out = reTokenize(f)
    assert(renderEnamex(out) == "ok <t>Acme , Inc .</t> done")
  }
}

class IobSpec extends AnyFunSuite {
  import Iob._

  val forest = Forest.parseEnamex(
    "w1 <a><b>t1 t2</b> <c>t3</c></a> w2")

  test("encode produces outermost-first stacks") {
    val enc = encodeForest(forest)
    assert(enc.map(_._1) == Vector("w1", "t1", "t2", "t3", "w2"))
    assert(enc.map(p => renderLabel(p._2)) == Vector(
      "O", "B-a;B-b", "I-a;I-b", "I-a;B-c", "O"))
  }
  test("decode inverts encode") {
    assert(decodeForest(encodeForest(forest)) == forest)
  }
  test("decode repairs I-without-B") {
    val tagged = Seq(
      ("x", parseLabel("I-a")), ("y", parseLabel("I-a")), ("z", parseLabel("O")))
    assert(Forest.renderEnamex(decodeForest(tagged)) == "<a>x y</a> z")
  }
  test("adjacent same-type entities stay separate on B") {
    val tagged = Seq(("x", parseLabel("B-a")), ("y", parseLabel("B-a")))
    assert(Forest.renderEnamex(decodeForest(tagged)) == "<a>x</a> <a>y</a>")
  }
  test("label parse/render roundtrip") {
    val ls = Seq("O", "B-a", "B-a;I-b.c", "I-x;B-y;I-z")
    ls.foreach(l => assert(renderLabel(parseLabel(l)) == l))
  }
  test("roundtrip on reference corpus") {
    val src = scala.io.Source.fromFile("/root/reference/example/train.nes")("UTF-8")
    val lines = try src.getLines().take(300).toVector finally src.close()
    lines.foreach { l =>
      val f = Forest.parseEnamex(l)
      assert(decodeForest(encodeForest(f)) == f, s"IOB roundtrip failed: $l")
    }
  }
}

class FeaturesSpec extends AnyFunSuite {
  import Features._

  test("shape and pack") {
    assert(shape("McKay-3") == "XxXxxod")
    assert(pack(shape("AAbb99..")) == "Xxdo")
  }
  test("prefix/suffix with negative lengths") {
    assert(prefix(2, "dogs") == "do")
    assert(prefix(-1, "dogs") == "dog")
    assert(prefix(0, "dogs") == "")
    assert(prefix(5, "dogs") == null)
    assert(prefix(-5, "dogs") == null)
    assert(suffix(2, "dogs") == "gs")
    assert(suffix(-1, "dogs") == "ogs")
  }
  test("splitOrth emits lowercased and original-if-upper") {
    val conf = SchemaConf(splitOrthC = Some(List(0)))
    val obs = schematize(conf, Vector("Abc"))
    assert(obs(0).render.toSet == Set("0~abc", "1~Abc"))
    val obs2 = schematize(conf, Vector("abc"))
    assert(obs2(0).render.toSet == Set("0~abc"))
  }
  test("out-of-range positions are silent but keep site ids stable") {
    val conf = SchemaConf(splitOrthC = Some(List(-1, 0)))
    val obs = schematize(conf, Vector("Abc", "def"))
    // position 0: site0=low(-1) none, site1=low(0), site2=up(-1) none, site3=up(0)
    assert(obs(0).render.toSet == Set("1~abc", "3~Abc"))
    assert(obs(1).render.toSet == Set("0~abc", "1~def", "2~Abc"))
  }
  test("lemma block emits affixes for deltas [0,-1..-n]") {
    val conf = SchemaConf(lemmaC = Some((List(0), 1)))
    val obs = schematize(conf, Vector("ab"))
    // deltas [0,-1]: prefixes ""(0), "a"(-1); suffixes ""(0), "b"(-1) —
    // delta 0 is the empty affix per the monad-ox relative-length
    // convention pinned in Features.prefix
    assert(obs(0).render.toSet == Set("0~", "1~a", "2~", "3~b"))
  }
  test("dict block emits all labels under one site") {
    val dict = CompactDict.fromMap(Map("Paris" -> List("city", "person")))
    val conf = SchemaConf(dictC = Some((List(0), List(dict))))
    val obs = schematize(conf, Vector("Paris"))
    assert(obs(0).render.toSet == Set("0~city", "0~person"))
  }
  test("block order fixes inter-block site ids") {
    val conf = SchemaConf(
      splitOrthC = Some(List(0)), shapeC = Some(List(0)))
    val obs = schematize(conf, Vector("Ab"))
    assert(obs(0).render.toSet == Set("0~ab", "1~Ab", "2~Xx"))
  }
  test("shape pair links current and previous") {
    val conf = SchemaConf(shapePairC = Some(List(0)))
    val obs = schematize(conf, Vector("Ab", "cd"))
    assert(obs(0).render.isEmpty) // no previous token
    assert(obs(1).render.toSet == Set("0~xx-Xx"))
  }
  test("reused Ox never aliases results across reset rounds") {
    // schematize reuses one Ox across positions (r7); result() must hand
    // out arrays a later round can never mutate. Rounds sweep sizes
    // 1..40 across the builder's 32 sizeHint, crossing the
    // exact-capacity boundary where ArrayBuilder.ofInt.result()
    // relinquishes (not copies) its backing array.
    val ox = new Features.Ox
    val outs = (0 until 100).map { round =>
      ox.reset()
      (0 to round % 40).foreach(i => ox.save(s"v${round}_$i"))
      ox.result()
    }
    outs.zipWithIndex.foreach { case (p, round) =>
      assert(p.sites.toSeq == (0 to round % 40),
        s"sites aliased at round $round")
      assert(p.values.toSeq == (0 to round % 40).map(i => s"v${round}_$i"),
        s"values aliased at round $round")
    }
  }
}

class CrfSpec extends AnyFunSuite {

  /** One-position observation set: all values at site 0. */
  private def po(vs: String*): Features.PosObs =
    new Features.PosObs(Array.fill(vs.length)(0), vs.toArray)

  /** Hand-built model: 2 labels, obs "hot"->label1, trans favors staying. */
  private def tinyModel: Crf.Model = {
    import breeze.linalg.{DenseMatrix, DenseVector}
    Crf.Model(
      labels = Array("O", "B-x"),
      obsIds = Array(Map("hot" -> 0)),
      sing = DenseVector(1.0, 0.0),
      trans = DenseMatrix((1.0, 0.0), (0.0, -1.0)),
      obsLabels = Array(Array(1)),
      obsWeights = Array(Array(3.0)))
  }

  test("viterbi picks obs-favored label") {
    val m = tinyModel
    val sent = Array(po("cold"), po("hot"), po("cold"))
    assert(m.tag(sent).toSeq == Seq("O", "B-x", "O"))
  }
  test("viterbi transition weight can override weak obs") {
    import breeze.linalg.{DenseMatrix, DenseVector}
    // strong stay-transitions; one weak obs for label 1 at pos 1
    val m = Crf.Model(
      labels = Array("O", "B-x"),
      obsIds = Array(Map("h" -> 0)),
      sing = DenseVector(5.0, 0.0),
      trans = DenseMatrix((5.0, 0.0), (0.0, 5.0)),
      obsLabels = Array(Array(1)),
      obsWeights = Array(Array(0.5)))
    val sent = Array(po("h"), po("h"), po("h"))
    // starting at O (sing 5) and staying beats switching for 0.5 gains
    assert(m.tag(sent).toSeq == Seq("O", "O", "O"))
  }
  test("unknown observations are dropped") {
    val m = tinyModel
    assert(m.tag(Array(po("unknown"))).toSeq == Seq("O"))
  }
  test("forward-backward marginals sum to 1 per position") {
    val m = tinyModel
    val os = m.obsScores(Array(po("hot"), po("cold"), po("hot")))
    val (a, b, logZ) = Crf.forwardBackward(m, os)
    for (k <- os.indices) {
      val s = (0 until m.numLabels).map(y => math.exp(a(k)(y) + b(k)(y) - logZ)).sum
      assert(math.abs(s - 1.0) < 1e-9, s"pos $k sums to $s")
    }
  }
  test("viterbi score >= random path scores") {
    val m = tinyModel
    val sent = Array(po("hot"), po("cold"), po("hot"), po("cold"))
    val os = m.obsScores(sent)
    def score(path: Seq[Int]): Double = {
      var s = m.sing(path.head) + os(0)(path.head)
      for (k <- 1 until path.length)
        s += m.trans(path(k - 1), path(k)) + os(k)(path(k))
      s
    }
    val best = score(m.viterbi(sent).toSeq)
    val rnd = new scala.util.Random(7)
    for (_ <- 1 to 50) {
      val p = Seq.fill(sent.length)(rnd.nextInt(2))
      assert(score(p) <= best + 1e-9)
    }
  }
}

class SgdSpec extends AnyFunSuite {

  private def toTrainSent(conf: Features.SchemaConf)(f: List[NeTree]): Sgd.TrainSent = {
    val enc = Iob.encodeForest(f)
    val toks = enc.map(_._1)
    Sgd.TrainSent(
      Features.schematize(conf, toks),
      enc.map(p => Iob.renderLabel(p._2)).toArray)
  }

  test("training learns the synthetic grammar (token accuracy > 0.97)") {
    val conf = Features.SchemaConf.default(
      neDicts = List(Synth.neDictionary),
      intDict = Some(Synth.intTriggerDict),
      extDict = Some(Synth.extTriggerDict))
    val train = Synth.corpus(150, seed = 1).map(toTrainSent(conf))
    val eval = Synth.corpus(40, seed = 2).map(toTrainSent(conf))
    val model = Sgd.train(train, Sgd.Config(iterNum = 8, seed = 42))
    var ok = 0L; var tot = 0L
    eval.foreach { s =>
      val pred = model.tag(s.obs)
      pred.zip(s.labels).foreach { case (p, g) => if (p == g) ok += 1; tot += 1 }
    }
    val acc = ok.toDouble / tot
    assert(acc > 0.97, s"accuracy $acc")
  }

  test("training is deterministic") {
    val conf = Features.SchemaConf.default(neDicts = List(Synth.neDictionary))
    val train = Synth.corpus(40, seed = 3).map(toTrainSent(conf))
    val m1 = Sgd.train(train, Sgd.Config(iterNum = 3, seed = 9))
    val m2 = Sgd.train(train, Sgd.Config(iterNum = 3, seed = 9))
    assert(m1.sing == m2.sing)
    assert(m1.trans == m2.trans)
    assert(m1.obsWeights.flatten.toSeq == m2.obsWeights.flatten.toSeq)
  }
}

/** Edge cases surfaced by the round-2 core review. */
class CoreEdgeSpec extends org.scalatest.funsuite.AnyFunSuite {

  test("parseEnamex rejects a stray top-level close tag instead of truncating") {
    val ex = intercept[IllegalArgumentException] {
      Forest.parseEnamex("Acme </persName> won")
    }
    assert(ex.getMessage.contains("unmatched close tag"))
  }

  test("childless NE nodes: charSpans is zero-width, to/fromSpans round-trips") {
    val f = Forest.parseEnamex("x <a></a> y <b></b>")
    assert(Forest.charSpans(f) == Set(("a", 1, 1), ("b", 2, 2)))
    val (toks, spans) = Forest.toSpans(f)
    assert(toks == Vector("x", "y"))
    assert(Forest.fromSpans(toks, spans) == f)
    // trailing zero-width at the end-of-sentence boundary
    val g = Forest.parseEnamex("x <a></a>")
    val (t2, s2) = Forest.toSpans(g)
    assert(Forest.fromSpans(t2, s2) == g)
  }

  test("renderLabel rejects an NE type containing the atom separator") {
    val ex = intercept[IllegalArgumentException] {
      Iob.renderLabel(List(Iob.Atom(begin = true, ne = "a;b")))
    }
    assert(ex.getMessage.contains("';'"))
  }

  test("forwardBackward returns cleanly for the empty sentence") {
    val m = Crf.Model(Array("O"), Array(Map.empty[String, Int]),
      breeze.linalg.DenseVector(0.0),
      breeze.linalg.DenseMatrix.zeros[Double](1, 1),
      Array(Array.empty[Int]), Array(Array.empty[Double]))
    val (a, b, z) = Crf.forwardBackward(m, Array.empty)
    assert(a.isEmpty && b.isEmpty && z == 0.0)
  }
}
