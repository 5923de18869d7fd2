package graft.pipeline

import graft.core._
import graft.KgMain
import org.scalatest.funsuite.AnyFunSuite

class DictBuildSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def tmpFile(name: String, lines: Seq[String]): String = {
    val p = java.nio.file.Files.createTempDirectory("dict").resolve(name)
    java.nio.file.Files.write(p, lines.mkString("\n").getBytes("UTF-8"))
    p.toString
  }

  test("PoliMorf reader filters common-noun categories") {
    val f = tmpFile("polimorf.tsv", Seq(
      "Warszawa\tWarszawa\tsubst\tmiasto",
      "kot\tkot\tsubst\tpospolita",
      "Wisła\tWisła\tsubst\trzeka"))
    val d = DictBuild.readPoliMorf(spark, f).collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(d == Set(("Warszawa", "miasto"), ("Wisła", "rzeka")))
  }

  test("NELexicon reader splits on the first semicolon") {
    val f = tmpFile("nel.txt", Seq("persName;Jan Kowalski", "orgName;PKO"))
    val d = DictBuild.readNELexicon(spark, f).collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(d == Set(("Jan Kowalski", "persName"), ("PKO", "orgName")))
  }

  test("PNET reader splits internal/external triggers") {
    val f = tmpFile("pnet.tsv", Seq(
      "prezes\tprezes\tsubst\tint\tpersName\tprezes X",
      "firma\tfirma\tsubst\text\torgName\tfirma Y"))
    val int = DictBuild.readPNET(spark, f, "int").collect()
    val ext = DictBuild.readPNET(spark, f, "ext").collect()
    assert(int.map(_.getString(0)).toSeq == Seq("prezes"))
    assert(ext.map(_.getString(1)).toSeq == Seq("orgName"))
  }

  test("PNEG LMF XML reader: LexicalEntry/Lemma/WordForm/Sense") {
    val lmf = tmpFile("pneg.xml", Seq(
      """<LexicalResource><Lexicon>""",
      """<LexicalEntry id="e1">""",
      """  <feat att="partOfSpeech" val="noun"/>""",
      """  <Lemma><feat att="writtenForm" val="Warszawa"/></Lemma>""",
      """  <WordForm><feat att="writtenForm" val="Warszawie"/></WordForm>""",
      """  <WordForm><feat att="writtenForm" val="Warszaw&amp;y"/></WordForm>""",
      """  <Sense><feat att="externalReference" val="placeName.settlement"/></Sense>""",
      """</LexicalEntry>""",
      """<LexicalEntry id="e2">""",
      """  <Lemma><feat att="writtenForm" val="PKO"/></Lemma>""",
      """  <Sense><feat att="label" val="orgName"/></Sense>""",
      """  <feat att="label" val="orgName"/>""",
      """</LexicalEntry>""",
      """<LexicalEntry id="e3-no-sense">""",
      """  <Lemma><feat att="writtenForm" val="orphan"/></Lemma>""",
      """</LexicalEntry>""",
      """</Lexicon></LexicalResource>"""))
    val d = DictBuild.readPNEGXml(spark, lmf).collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(d == Set(
      ("Warszawa", "placeName.settlement"),
      ("Warszawie", "placeName.settlement"),
      ("Warszaw&y", "placeName.settlement"),
      ("PKO", "orgName")))
    // Sense externalReference wins; label is the fallback
    val viaLabel = DictBuild.parseLmfEntry(
      """<LexicalEntry><Lemma><feat att="writtenForm" val="X"/></Lemma>
        |<Sense><feat att="externalReference" val="persName"/>
        |<feat att="label" val="WRONG"/></Sense></LexicalEntry>""".stripMargin)
    assert(viaLabel == Vector(("X", "persName")))
  }

  test("Prolexbase + PNEG readers; atomic filter; build/merge/diff") {
    val plx = tmpFile("plx.tsv", Seq("Paris\tParis\tN\tcity", "New York\tNY\tN\tcity"))
    val png = tmpFile("png.tsv", Seq("Paris\tpersName"))
    val d1 = DictBuild.atomic(DictBuild.readProlexbase(spark, plx))
    val d2 = DictBuild.readPNEG(spark, png)
    assert(d1.count() == 1) // multi-word "New York" dropped
    val merged = DictBuild.toBroadcastMap(DictBuild.merge(Seq(d1, d2)))
    assert(merged("Paris") == List("city", "persName"))
    val diffed = DictBuild.toBroadcastMap(DictBuild.diff(Seq(d1, d2)))
    assert(diffed("Paris") == List("0:city", "1:persName"))
  }
}

class XcesSpec extends AnyFunSuite {
  val doc =
    """<chunkList><chunk type="p"><chunk type="s">
      |<tok><orth>coach</orth><lex><base>coach</base></lex></tok>
      |<tok><orth>Kira</orth></tok>
      |<tok><orth>Novak</orth></tok>
      |<ns/><tok><orth>.</orth></tok>
      |</chunk></chunk></chunkList>""".stripMargin

  test("parse extracts tokens and ns markers") {
    val sents = Xces.parse(doc)
    assert(sents.length == 1)
    assert(sents(0).toks.map(_.orth) == Vector("coach", "Kira", "Novak", "."))
    assert(sents(0).toks.map(_.noSpaceBefore) == Vector(false, false, false, true))
  }

  test("restoreText honors ns") {
    assert(Xces.restoreText(Xces.parse(doc)(0)) == "coach Kira Novak.")
  }

  test("annotate wraps recognized entities in group tags") {
    val out = Xces.annotate(doc, KgMain.model.ner)
    assert(out.contains("<group type=\"NE\" subtype=\"persName\">"))
    assert(out.contains("<group type=\"NE\" subtype=\"persName.forename\">" +
      "<tok><orth>Kira</orth></tok></group>"))
    assert(out.contains("<ns/><tok><orth>.</orth></tok>"))
    // group tags balance
    assert("<group".r.findAllIn(out).size == "</group>".r.findAllIn(out).size)
  }

  test("orth-less <tok> counts as one empty token; parser and splicer agree") {
    // the reference treats a token without <orth> as the empty word
    // (/root/reference/src/NLP/Nerf/XCES.hs:233-234); the splicer's token
    // positions must match the parser's or groups land on wrong tokens
    val body = """<tok id="a"><lex><base>x</base></lex></tok>""" +
      """<tok id="b"><orth>Kira</orth></tok><tok id="c"><orth>Novak</orth></tok>"""
    val sent = Xces.parseBody(body)
    assert(sent.toks.map(_.orth) == Vector("", "Kira", "Novak"))
    // span over token indices 1..3 (Kira Novak) splices around b and c only
    val out = Xces.spliceGroups(body, Seq(Span("persName", 1, 3, 0)))
    assert(out ==
      """<tok id="a"><lex><base>x</base></lex></tok>""" +
      """<group type="NE" subtype="persName"><tok id="b"><orth>Kira</orth></tok>""" +
      """<tok id="c"><orth>Novak</orth></tok></group>""")
  }

  test("zero-width spans splice as adjacent empty groups, well-formed XML") {
    // Forest.toSpans emits begin==end spans for childless NE nodes; round
    // 2 closed them one token EARLY (</group> before the <group>),
    // producing malformed XML (ADVICE r2)
    val body = """<tok id="a"><orth>X</orth></tok><tok id="b"><orth>Y</orth></tok>"""
    val out = Xces.spliceGroups(body,
      Seq(Span("e", 1, 1, 0), Span("wide", 0, 2, 0)))
    assert(out ==
      """<group type="NE" subtype="wide"><tok id="a"><orth>X</orth></tok>""" +
      """<group type="NE" subtype="e"></group>""" +
      """<tok id="b"><orth>Y</orth></tok></group>""")
    // zero-width at index 0 and past the last token (boundary anchors)
    val out2 = Xces.spliceGroups(body, Seq(Span("s", 0, 0, 0), Span("t", 2, 2, 0)))
    assert(out2 ==
      """<group type="NE" subtype="s"></group><tok id="a"><orth>X</orth></tok>""" +
      """<tok id="b"><orth>Y</orth></tok><group type="NE" subtype="t"></group>""")
    // balance always holds
    Seq(out, out2).foreach(o =>
      assert("<group".r.findAllIn(o).size == "</group>".r.findAllIn(o).size))
  }

  test("zero-width LAST child splices inside its parent's closing tag") {
    // NeNode("per", [NeLeaf, NeNode("org", Nil)]) → spans per=[0,1)@0,
    // org=[1,1)@1: the childless org is per's last child and must nest
    // INSIDE per's close, not after it (round-3 review finding)
    val body = """<tok id="a"><orth>X</orth></tok>"""
    val out = Xces.spliceGroups(body,
      Seq(Span("per", 0, 1, 0), Span("org", 1, 1, 1)))
    assert(out ==
      """<group type="NE" subtype="per"><tok id="a"><orth>X</orth></tok>""" +
      """<group type="NE" subtype="org"></group></group>""")
    // sibling AFTER the parent (same boundary, depth 0) stays outside
    val out2 = Xces.spliceGroups(body,
      Seq(Span("per", 0, 1, 0), Span("org", 1, 1, 0)))
    assert(out2 ==
      """<group type="NE" subtype="per"><tok id="a"><orth>X</orth></tok>""" +
      """</group><group type="NE" subtype="org"></group>""")
    // token-less body still emits the empty groups instead of dropping them
    assert(Xces.spliceGroups("<ns/>", Seq(Span("e", 0, 0, 0))) ==
      """<group type="NE" subtype="e"></group><ns/>""")
  }

  test("self-closing <tok/> is one empty token, not merged into the next") {
    val body = """<tok id="a"/><tok id="b"><orth>X</orth></tok><ns/><tok id="c"><orth>Y</orth></tok>"""
    val sent = Xces.parseBody(body)
    assert(sent.toks.map(_.orth) == Vector("", "X", "Y"))
    assert(sent.toks.map(_.noSpaceBefore) == Vector(false, false, true))
    // splice positions stay aligned
    val out = Xces.spliceGroups(body, Seq(Span("t", 1, 2, 0)))
    assert(out ==
      """<tok id="a"/><group type="NE" subtype="t"><tok id="b"><orth>X</orth></tok></group><ns/><tok id="c"><orth>Y</orth></tok>""")
  }

  test("annotate preserves non-token markup byte-identically") {
    // attributes, <lex> analyses, processing markup, comments, whitespace
    val rich =
      """<?xml version="1.0"?><!-- corpus header -->
        |<chunkList xmlns="http://example">
        |<chunk type="p" id="p1"><chunk type="s" id="s1">
        |<tok id="t1"><orth>coach</orth><lex disamb="1"><base>coach</base><ctag>subst</ctag></lex></tok>
        |<freestanding attr="kept"/>
        |<tok id="t2"><orth>Kira</orth></tok>
        |<tok id="t3"><orth>Novak</orth></tok>
        |<ns/><tok id="t4"><orth>.</orth></tok>
        |</chunk></chunk>
        |<chunk type="p"><trailing/></chunk>
        |</chunkList>""".stripMargin
    val out = Xces.annotate(rich, KgMain.model.ner)
    // removing the inserted group tags restores the original exactly
    val stripped = out
      .replaceAll("<group type=\"NE\" subtype=\"[^\"]*\">", "")
      .replace("</group>", "")
    assert(stripped == rich, "non-group bytes must round-trip")
    // annotations actually landed, with token internals intact
    assert(out.contains("<group type=\"NE\" subtype=\"persName\">"))
    assert(out.contains("""<tok id="t2"><orth>Kira</orth></tok>"""))
    assert(out.contains("""<lex disamb="1"><base>coach</base><ctag>subst</ctag></lex>"""))
    assert(out.contains("""<freestanding attr="kept"/>"""))
  }
}

class TrainSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  test("distributed train reproduces the driver-trained model decodings") {
    import spark.implicits._
    val lines = Synth.corpusLines(120, seed = 5)
    val ds = spark.createDataset(lines)
    val m = Train.train(spark, ds, cfg = Sgd.Config(iterNum = 5, seed = 3))
    // same training driver-side
    val m2 = graft.NerfModel.trainOnForests(
      lines.map(l => Forest.reTokenize(Forest.parseEnamex(l))),
      Sgd.Config(iterNum = 5, seed = 3))
    val eval = Synth.corpusLines(30, seed = 6)
      .map(l => Forest.parseEnamex(l).flatMap(_.leaves).mkString(" "))
    eval.foreach { s =>
      assert(Forest.renderEnamex(m.ner(s)) == Forest.renderEnamex(m2.ner(s)))
    }
  }

  test("distributed batch gradient equals the sequential kernel fold") {
    import spark.implicits._
    val ds = spark.createDataset(Synth.corpusLines(60, seed = 11))
    val flat = Train.flatten(spark, ds, graft.NerfModel.defaultSchema)
    val codec = Train.buildCodec(spark, flat)
    val k = codec.kernel
    // many partitions -> many partial arrays, so the combOp tree (the
    // part the sequential fold does NOT exercise) actually runs
    val enc = Train.encode(spark, flat, codec).repartition(8)
    // nonzero weights so the expected-counts (forward-backward) side of
    // the kernel contributes, not just integer observed counts
    val rnd = new scala.util.Random(7)
    val w = Array.fill(k.F)(rnd.nextGaussian() * 0.1)
    val dist = Train.distributedGradient(spark, enc, k, w)
    val local = new Array[Double](k.F)
    enc.collect().foreach(s =>
      k.accumulate(s.obs, s.labels, w, (fid, v) => local(fid) += v))
    assert(local.exists(math.abs(_) > 1e-6), "gate is vacuous: zero gradient")
    var i = 0
    while (i < k.F) {
      val tol = 1e-9 * math.max(1.0, math.abs(local(i)))
      assert(math.abs(dist(i) - local(i)) <= tol,
        s"feature $i: dist=${dist(i)} local=${local(i)}")
      i += 1
    }
  }

  test("distributed training converges to usable decodings") {
    import spark.implicits._
    val lines = Synth.corpusLines(150, seed = 21)
    val ds = spark.createDataset(lines)
    // batch GD moves ~one minibatch step per epoch (see trainDistributed
    // scaladoc), so it gets more epochs than the local trainer would need
    val model = Train.trainDistributed(spark, ds,
      cfg = Sgd.Config(iterNum = 40))
    var tp = 0L; var fp = 0L; var fn = 0L
    lines.foreach { l =>
      val gold = Forest.reTokenize(Forest.parseEnamex(l))
      val pred = model.ner(gold.flatMap(_.leaves).mkString(" "))
      val g = Forest.charSpans(gold); val p = Forest.charSpans(pred)
      tp += g.intersect(p).size; fp += p.diff(g).size; fn += g.diff(p).size
    }
    val prec = tp.toDouble / math.max(1, tp + fp)
    val rec = tp.toDouble / math.max(1, tp + fn)
    assert(prec > 0.85 && rec > 0.85,
      f"distributed-trained model too weak: P=$prec%.3f R=$rec%.3f")
  }

  test("corpus-scale training: train fails fast, trainDistributed completes") {
    import spark.implicits._
    // one seeded sentence per index — synthesized ON the executors, so
    // the corpus never exists in one place (the point of the test)
    val n = Train.MaxTrainSentences + 1
    val lines = spark.range(n).map(i => Synth.corpusLines(1, seed = i).head)
    val ex = intercept[IllegalArgumentException] {
      Train.train(spark, lines, cfg = Sgd.Config(iterNum = 1))
    }
    assert(ex.getMessage.contains("driver-collect budget"), ex.getMessage)
    // the same corpus trains distributed: >500k sentences through codec
    // build, encode, and one full gradient epoch, driver holding only
    // model-sized state
    val model = Train.trainDistributed(spark, lines,
      cfg = Sgd.Config(iterNum = 1))
    assert(model.crf.numLabels > 1)
    // one epoch of batch GD is not a converged model, but it must DECODE
    val out = model.ner("Kira Novak")
    assert(Forest.renderEnamex(out).contains("Kira"))
  }

  test("train refuses an over-budget corpus before collecting it") {
    import spark.implicits._
    val ds = spark.createDataset(Synth.corpusLines(25, seed = 5))
    val ex = intercept[IllegalArgumentException] {
      Train.train(spark, ds, cfg = Sgd.Config(iterNum = 1, seed = 3),
        maxSentences = 10)
    }
    assert(ex.getMessage.contains("driver-collect budget"), ex.getMessage)
    assert(ex.getMessage.contains("trainDistributed"), ex.getMessage)
  }

  test("cross-validation yields high P/R on every fold") {
    import spark.implicits._
    val ds = spark.createDataset(Synth.corpusLines(150, seed = 9))
    val dir = java.nio.file.Files.createTempDirectory("cv_models").toString
    val stats = Train.crossValidate(spark, ds, k = 3,
      cfg = Sgd.Config(iterNum = 5, seed = 4), modelDir = Some(dir))
    assert(stats.length == 3)
    stats.foreach { case (fold, s) =>
      assert(s.precision > 0.9 && s.recall > 0.9, s"fold $fold: $s")
    }
    // per-fold models persisted and loadable (reference app/Main.hs:262-266)
    (0 until 3).foreach { fold =>
      val m = graft.NerfModel.load(java.nio.file.Paths.get(dir, s"fold-$fold.json"))
      assert(m.ner("coach Kira Novak").nonEmpty)
    }
  }

  test("compareJob matches core CompareStats") {
    import spark.implicits._
    val refs = Synth.corpusLines(40, seed = 11)
    val preds = refs.map { l => // corrupt every 4th sentence's annotations
      Forest.parseEnamex(l)
    }.zipWithIndex.map { case (f, i) =>
      if (i % 4 == 0) Forest.renderEnamex(f.map {
        case NeNode(_, kids) => NeNode("WRONG", kids)
        case leaf => leaf
      }) else Forest.renderEnamex(f)
    }
    val pairs = spark.createDataset(refs.zip(preds))
    val got = Train.compareJob(spark, pairs)
    val want = CompareStats.compare(
      refs.map(Forest.parseEnamex).zip(preds.map(Forest.parseEnamex)))
    assert(got == want)
  }
}

class ModelSerSpec extends AnyFunSuite {
  test("model save/load roundtrips schema and decodings") {
    val dir = java.nio.file.Files.createTempDirectory("model")
    val p = dir.resolve("m.json")
    val m = KgMain.model
    graft.NerfModel.save(m, p)
    val m2 = graft.NerfModel.load(p)
    assert(m2.schema == m.schema)
    assert(m2.crf.labels.toSeq == m.crf.labels.toSeq)
    val eval = Synth.corpusLines(25, seed = 13)
      .map(l => Forest.parseEnamex(l).flatMap(_.leaves).mkString(" "))
    eval.foreach { s =>
      assert(Forest.renderEnamex(m2.ner(s)) == Forest.renderEnamex(m.ner(s)))
    }
    // a truncated file, a top-level array, a missing or mistyped field,
    // and text that is not JSON each fail naming the file
    Seq("""{"labels":["O"""", "[1,2]", """{"sing":[0.5]}""",
        """{"labels":"O","sing":[0.5],"trans":[0.1],"obs":[],"obsLabels":[],"obsWeights":[]}""",
        """{"labels":["O"],"sing":["0.5"],"trans":[0.1],"obs":[],"obsLabels":[],"obsWeights":[]}""",
        "labels: O").foreach { bad =>
      java.nio.file.Files.write(p, bad.getBytes("UTF-8"))
      val e = intercept[IllegalArgumentException](graft.NerfModel.load(p))
      assert(e.getMessage.contains(p.toString), s"$bad: ${e.getMessage}")
    }
  }
}

class DictIoSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("dict save/load roundtrip and stats") {
    val pairs = Seq(("Paris", "city"), ("Paris", "person"), ("Rome", "city"))
      .toDF("form", "label")
    val dict = DictBuild.build(pairs)
    val dir = java.nio.file.Files.createTempDirectory("dictio").toString
    DictBuild.saveDict(dict, s"$dir/d")
    val back = DictBuild.loadDict(spark, s"$dir/d")
    assert(DictBuild.toBroadcastMap(back) == DictBuild.toBroadcastMap(dict))
    val st = DictBuild.stats(dict).collect()(0)
    assert(st.getLong(0) == 2L && st.getLong(1) == 3L && st.getLong(2) == 2L)
  }

  test("oversized dict fails fast at build, pointing at the join path") {
    val pairs = (1 to 10).iterator.map(i => s"form$i" -> List("l"))
    val ex = intercept[IllegalArgumentException] {
      graft.core.CompactDict.fromPairs(pairs, maxEntries = 5)
    }
    assert(ex.getMessage.contains("broadcast budget"))
    assert(ex.getMessage.contains("lookupJoin"))
  }

  test("lookupJoin matches the broadcast CompactDict path form-for-form") {
    val dictDf = DictBuild.build(Seq(
      ("Paris", "city"), ("Paris", "person"), ("Rome", "city"))
      .toDF("form", "label"))
    val cd = graft.core.CompactDict.fromMap(DictBuild.toBroadcastMap(dictDf))
    val toks = Seq((1L, 0, "Paris"), (1L, 1, "visited"), (1L, 2, "Rome"),
      (2L, 0, "Nowhere")).toDF("sent_id", "pos", "orth")
    val joined = DictBuild.lookupJoin(toks, "orth", dictDf)
      .collect()
      .map(r => (r.getAs[Long]("sent_id"), r.getAs[Int]("pos")) ->
        r.getAs[Seq[String]]("dict_labels").toList).toMap
    assert(joined.size == 4, "left join must keep every token")
    val broadcastSide = Seq((1L, 0, "Paris"), (1L, 1, "visited"),
      (1L, 2, "Rome"), (2L, 0, "Nowhere"))
      .map { case (s, p, o) => (s, p) -> cd.getOrElse(o, Nil) }.toMap
    assert(joined == broadcastSide,
      "join path and broadcast path must produce identical dict features")
  }
}
