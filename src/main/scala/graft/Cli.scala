package graft

import graft.core._
import graft.io.Json
import java.nio.file.{Files, Paths, Path}
import scala.jdk.CollectionConverters._

/** Command-line modes mirroring the reference executable's Train / NER /
  * Compare / Ox surface (/root/reference/app/Main.hs:59-184,226-328),
  * driver-independent (pure core; the Spark pipeline has its own mains).
  *
  * Usage:
  *   train <out-model.json> [nSents] [seed]   train on the synthetic corpus
  *   train-file <in.nes> <out-model.json>     train on an ENAMEX file
  *   train-dist <in.nes> <out-model.json> [epochs]  corpus-scale training:
  *                                            distributed batch gradient
  *                                            (no driver-collect budget)
  *   ner <model.json> < raw.txt               one sentence per line -> ENAMEX
  *   ox < raw.txt                             dump extracted observations
  *   compare <ref.nes> <cmp.nes>              per-type TP/FP/FN + P/R/F
  *   synth <out.nes> [nSents] [seed]          write a synthetic ENAMEX corpus
  *   serve <model.json> <port>                TCP NER server (T1, model resident)
  *   client <host> <port> < raw.txt           one request per line (T2)
  *   cv <in.nes> <k> [modelDir]               k-fold cross-validation (X1)
  *   curate <sfDir> <outDir> [minCos] [greedy|cluster] [redact] [semantic]
  *          [quality=<model.json>] [lm=<lmDir>]
  *                                            curation recipe: dedup chain ->
  *                                            hot keys -> salted write (JSON report);
  *                                            "semantic" = SemDeDup embedding stage,
  *                                            "quality=" = trained-filter stage
  *                                            (a Classifier.save model file,
  *                                            README "On-disk metadata files";
  *                                            no verb writes it),
  *                                            "lm=" = perplexity ceiling stage
  *                                            (Ngram.saveLm directory)
  */
object Cli {

  /** UTF-8 regardless of platform default (JVM may default to ASCII).
    * Malformed bytes decode to U+FFFD instead of killing the stream
    * mid-pipe — a CLI filter must process the rest of its input.
    */
  private def stdinLines: Iterator[String] = {
    val lenient = scala.io.Codec(java.nio.charset.StandardCharsets.UTF_8)
      .onMalformedInput(java.nio.charset.CodingErrorAction.REPLACE)
      .onUnmappableCharacter(java.nio.charset.CodingErrorAction.REPLACE)
    scala.io.Source.fromInputStream(System.in)(lenient).getLines()
  }
  private val utf8Out = new java.io.PrintStream(System.out, true, "UTF-8")

  /** The local SparkSession every Spark-backed CLI mode uses:
    * parallelism AND shuffle partitions from SPARK_GRAFT_CPUS (default
    * 8 — 200 shuffle partitions on a laptop-sized run is pure task
    * overhead), UI off, WARN logs so the mode's one-line JSON output
    * stays findable.
    */
  private def localSession(appName: String): org.apache.spark.sql.SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val b = org.apache.spark.sql.SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(appName)
      .config("spark.ui.enabled", "false")
    // Size shuffles from the THREAD count, not Spark's 200 default
    // (pure task overhead at laptop scale) — but an EXPLICIT
    // -Dspark.sql.shuffle.partitions always wins (builder .config()
    // would silently clobber it otherwise). 'N,M' (local[N,maxFailures])
    // contributes its N; '*' falls back to the machine width local[*]
    // resolves to.
    if (!sys.props.contains("spark.sql.shuffle.partitions")) {
      val digits = cpus.takeWhile(_.isDigit)
      val n = if (digits.nonEmpty) digits.toInt
              else Runtime.getRuntime.availableProcessors
      b.config("spark.sql.shuffle.partitions", n.toString)
    }
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Bucket count of a committed table from a CLI argument: an integer
    * >= 1, else None (0 buckets would read as "nothing committed").
    */
  private[graft] def parseBuckets(s: String): Option[Int] =
    s.toIntOption.filter(_ >= 1)

  /** [[parseBuckets]] for a kg-* verb's optional argument (default 16);
    * a bad value is a usage error: message on stderr, exit 2.
    */
  private def bucketsArg(verb: String, arg: Option[String]): Int =
    arg.fold(16) { a =>
      parseBuckets(a).getOrElse {
        System.err.println(s"usage: $verb: the bucket count must be an " +
          s"integer >= 1, got '$a'")
        sys.exit(2)
      }
    }

  /** One kg-query TSV cell in the PostgreSQL text-COPY convention: NULL
    * is `\N`, and backslash, tab, newline and carriage return are
    * written as `\\`, `\t`, `\n` and `\r`, so a binding is always one
    * line with one cell per variable, whatever its values hold.
    */
  private[graft] def tsvCell(v: Any): String =
    if (v == null) "\\N"
    else {
      val s = v.toString
      val b = new StringBuilder(s.length)
      s.foreach {
        case '\\' => b ++= "\\\\"
        case '\t' => b ++= "\\t"
        case '\n' => b ++= "\\n"
        case '\r' => b ++= "\\r"
        case c => b += c
      }
      b.result()
    }

  /** kg-export's JSON line. `out` is user input, and a quote or a
    * newline is legal in a POSIX path: the codec escapes both, so the
    * line stays one JSON line that scripted consumers can parse.
    */
  private[graft] def exportLine(n: Long, out: String): String =
    Json.render(Json.obj("ntriples_written" -> n, "out" -> out))

  def main(args: Array[String]): Unit = {
    // stable number formatting in compare/cv tables and JSON regardless
    // of platform locale (a comma decimal separator breaks consumers)
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    run(args)
  }

  private def run(args: Array[String]): Unit = args.toList match {
    case "train" :: out :: rest =>
      val n = rest.headOption.map(_.toInt).getOrElse(500)
      val seed = rest.drop(1).headOption.map(_.toLong).getOrElse(42L)
      val model = NerfModel.trainOnForests(Synth.corpus(n, seed),
        log = s => System.err.println(s))
      NerfModel.save(model, Paths.get(out))
      System.err.println(s"[cli] model written to $out")
    case "train-file" :: in :: out :: rest if rest.length <= 1 =>
      def readForests(p: String) =
        Files.readAllLines(Paths.get(p)).asScala.toVector
          .filter(_.nonEmpty).map(l => Forest.reTokenize(Forest.parseEnamex(l)))
      val forests = readForests(in)
      val evalSents = rest.headOption.map { evalPath =>
        val schema = NerfModel.defaultSchema
        readForests(evalPath).map { f =>
          val enc = Iob.encodeForest(f)
          Sgd.TrainSent(Features.schematize(schema, enc.map(_._1)),
            enc.map(p => Iob.renderLabel(p._2)).toArray)
        }
      }
      val model = NerfModel.trainOnForests(forests,
        log = s => System.err.println(s), eval = evalSents)
      NerfModel.save(model, Paths.get(out))
      System.err.println(s"[cli] model written to $out")
    case "train-dist" :: in :: out :: rest if rest.length <= 1 =>
      // corpus-scale path: the ENAMEX corpus never reaches the driver —
      // flatten/codec/gradient all run distributed (Train.trainDistributed)
      val spark = localSession("graft-train-dist")
      val cfg = rest.headOption.map(e => Sgd.Config(iterNum = e.toInt))
        .getOrElse(Sgd.Config())
      val model = graft.pipeline.Train.trainDistributed(
        spark, spark.read.textFile(in), cfg = cfg,
        log = s => System.err.println(s))
      NerfModel.save(model, Paths.get(out))
      System.err.println(s"[cli] model written to $out")
      spark.stop()
    case "ner" :: modelPath :: Nil =>
      val model = NerfModel.load(Paths.get(modelPath))
      stdinLines.foreach { line =>
        utf8Out.println(Forest.renderEnamex(model.ner(line)))
      }
    case "ner-xces" :: modelPath :: Nil =>
      // the reference's `ner -f xces` mode (/root/reference/app/Main.hs:281-283)
      val model = NerfModel.load(Paths.get(modelPath))
      val xml = stdinLines.mkString("\n")
      utf8Out.println(Xces.annotate(xml, model.ner))
    case "ox" :: Nil =>
      val conf = NerfModel.defaultSchema
      stdinLines.foreach { line =>
        val toks = Tokenizer.tokenize(line)
        val obs = Features.schematize(conf, toks)
        toks.zip(obs).foreach { case (t, o) =>
          utf8Out.println(s"$t\t${o.render.mkString(" ")}")
        }
        utf8Out.println()
      }
    case "compare" :: refPath :: cmpPath :: Nil =>
      def readForests(p: String) =
        Files.readAllLines(Paths.get(p)).asScala.toVector
          .filter(_.nonEmpty).map(Forest.parseEnamex)
      val refs = readForests(refPath)
      val cmps = readForests(cmpPath)
      require(refs.length == cmps.length,
        s"sentence count mismatch: ${refs.length} vs ${cmps.length}")
      val stats = CompareStats.compare(refs.zip(cmps))
      val keys = (stats.keySet - CompareStats.AllKey).toList.sorted :+ CompareStats.AllKey
      keys.foreach { k =>
        val s = stats(k)
        utf8Out.println(f"$k%-34s tp=${s.tp}%5d fp=${s.fp}%5d fn=${s.fn}%5d " +
          f"P=${s.precision}%.4f R=${s.recall}%.4f F=${s.f1}%.4f")
      }
    case "cv" :: in :: kStr :: rest if rest.length <= 1 =>
      // reference `nerf cv` (/root/reference/app/Main.hs:74-85,251-271):
      // partition the corpus, train per fold, report + optionally save
      val spark = localSession("graft-cv")
      import spark.implicits._
      val lines = spark.read.textFile(in)
      val stats = graft.pipeline.Train.crossValidate(
        spark, lines, kStr.toInt, modelDir = rest.headOption)
      stats.foreach { case (fold, s) =>
        println(f"fold $fold%2d  tp=${s.tp}%5d fp=${s.fp}%5d fn=${s.fn}%5d " +
          f"P=${s.precision}%.4f R=${s.recall}%.4f F=${s.f1}%.4f")
      }
      spark.stop()
    case "serve" :: modelPath :: portStr :: Nil =>
      // reference `nerf server` (/root/reference/app/Main.hs:286-292):
      // load once, listen forever
      System.err.print("Loading model...")
      val model = NerfModel.load(Paths.get(modelPath))
      System.err.println(" done")
      val sock = graft.server.NerfServer.serve(model, portStr.toInt)
      System.err.println(s"Listening on port ${sock.getLocalPort}")
      Thread.currentThread().join() // serve until killed
    case "client" :: host :: portStr :: Nil =>
      // reference `nerf client` text mode (/root/reference/app/Main.hs:294-300)
      stdinLines.foreach { line =>
        utf8Out.println(graft.server.NerfServer.request(host, portStr.toInt, line))
      }
    case "curate" :: sfDir :: outDir :: rest if rest.length <= 6 =>
      // End-to-end curation recipe over a documents(+embeddings) table:
      // exact dedup -> boilerplate drop -> MinHash near-dup -> embedding
      // near-dup -> hot-key detection -> salted resumable write. One
      // JSON report line on stdout; see graft.pipeline.Curate.
      val spark = localSession("graft-curate")
      val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      // existence via the Hadoop FS API, NOT java.nio: sfDir may be any
      // scheme Spark can read (hdfs://, s3a://) — a local-only check
      // would silently skip the embedding stage on every remote table
      val embPath = new org.apache.hadoop.fs.Path(s"$sfDir/embeddings.parquet")
      val emb =
        if (embPath.getFileSystem(spark.sessionState.newHadoopConf())
              .exists(embPath))
          Some(spark.read.parquet(embPath.toString))
        else {
          System.err.println(s"[curate] no embeddings table under $sfDir " +
            "— skipping the embedding near-dup stage")
          None
        }
      // optional flags anywhere in the tail: "redact" = PII scrub as
      // stage 0, "semantic" = SemDeDup as the stage-4 embedding policy
      val redact = rest.contains("redact")
      val semantic = rest.contains("semantic")
      // "quality=<path>": load a persisted Classifier model and run the
      // trained-filter stage (checkpoint id 8) at Curate.MinQualityScore
      val qualityModel = rest.find(_.startsWith("quality="))
        .map(f => graft.pipeline.Classifier.load(spark,
          f.stripPrefix("quality=")))
      // "lm=<dir>": load a persisted bigram LM and run the perplexity
      // ceiling (checkpoint id 9) at Curate.MaxPpl
      val lmModel = rest.find(_.startsWith("lm="))
        .map(f => graft.pipeline.Ngram.loadLm(spark, f.stripPrefix("lm=")))
      val rest2 = rest.filterNot(f => f == "redact" || f == "semantic" ||
        f.startsWith("quality=") || f.startsWith("lm="))
      require(rest2.length <= 2, s"unrecognized curate args: $rest2")
      // [minCos] and [greedy|cluster] are INDEPENDENT optionals (the
      // usage string's contract): tell them apart by shape, so
      // `curate in out cluster` picks the policy instead of dying in
      // toDouble with an unhelpful NumberFormatException
      val (cosArgs, policyArgs) =
        rest2.partition(a => scala.util.Try(a.toDouble).isSuccess)
      require(cosArgs.length <= 1 && policyArgs.length <= 1,
        s"unrecognized curate args: $rest2 (expected [minCos] [greedy|cluster])")
      val minCos = cosArgs.headOption.map(_.toDouble).getOrElse(0.95)
      // optional policy: "cluster" switches stage 3 from greedy drop-d2
      // to CC dup-clusters with canonical-exemplar keep
      val policy = policyArgs.headOption.getOrElse("greedy")
      require(policy == "greedy" || policy == "cluster",
        s"unknown near-dup policy '$policy' (greedy|cluster)")
      // stage checkpoints under the output dir: a crashed CLI run
      // resumes at the failed stage, not from scratch
      val report = graft.pipeline.Curate.run(spark, docs, "doc_id", "text",
        emb, "vec_id", "embedding", outDir, hotKeyCol = "source",
        minCos = minCos, stageDir = Some(s"$outDir/_stages"),
        clusterKeep = policy == "cluster", semanticKeep = semantic,
        redactPii = redact, qualityModel = qualityModel, lm = lmModel)
      utf8Out.println(report.json)
      spark.stop()
    case "kg-audit" :: tableDir :: rest if rest.length <= 1 =>
      // Semantic integrity audit of a committed triples table (the
      // KgMain layout) — KgPipeline.kgAudit's ten metrics as one JSON
      // line on stdout. Exit 3 when any defect metric (dangling /
      // orphan / duplicate / null-key) is nonzero: the publish gate,
      // scriptable.
      val buckets = bucketsArg("kg-audit", rest.headOption)
      val spark = localSession("graft-kg-audit")
      val t = graft.io.TableIO.readCommitted(spark, tableDir, buckets)
      val audit = graft.pipeline.KgPipeline.kgAudit(spark, t)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val order = Seq("triples_total", "mention_triples", "type_triples",
        "entities_referenced", "entities_typed", "dangling_entities",
        "orphan_typed_entities", "multi_typed_entities",
        "duplicate_triples", "null_key_triples")
      utf8Out.println(Json.render(Json.obj(order.map(m => m -> audit(m)): _*)))
      val defects = audit("dangling_entities") +
        audit("orphan_typed_entities") + audit("duplicate_triples") +
        audit("null_key_triples")
      spark.stop()
      if (defects > 0) sys.exit(3)

    case "kg-export" :: tableDir :: outDir :: rest if rest.length <= 1 =>
      // W3C N-Triples export of a committed triples table
      // (KgPipeline.ntriples): outDir gets .text part files a standard
      // RDF toolchain can load. One JSON line: distinct triples written.
      val buckets = bucketsArg("kg-export", rest.headOption)
      val spark = localSession("graft-kg-export")
      val t = graft.io.TableIO.readCommitted(spark, tableDir, buckets)
      val lines = graft.pipeline.KgPipeline.ntriples(t)
      lines.write.mode("overwrite").text(outDir)
      utf8Out.println(exportLine(spark.read.text(outDir).count(), outDir))
      spark.stop()

    case "kg-query" :: tableDir :: rest if rest.nonEmpty =>
      // SPARQL-style BGP over a committed triples table
      // (KgPipeline.matchPattern): each remaining arg is one pattern,
      // three whitespace-separated terms, '?'-prefixed = variable.
      // Buckets via "buckets=<n>" anywhere in the tail (default 16).
      // Output: a header line of variable names, then TSV binding rows
      // (cells escaped by tsvCell, NULL as \N).
      //   graft kg-query out/triples "?m hasEntity ?e" "?e hasType persName"
      val buckets = bucketsArg("kg-query",
        rest.find(_.startsWith("buckets=")).map(_.stripPrefix("buckets=")))
      val patterns = rest.filterNot(_.startsWith("buckets=")).map { a =>
        a.trim.split("\\s+") match {
          case Array(s, p, o) => (s, p, o)
          case other =>
            System.err.println(s"usage: kg-query: pattern '$a' must have " +
              s"exactly 3 whitespace-separated terms, got ${other.length}")
            sys.exit(2)
        }
      }
      val spark = localSession("graft-kg-query")
      val t = graft.io.TableIO.readCommitted(spark, tableDir, buckets)
      val bindings = graft.pipeline.KgPipeline.matchPattern(t, patterns)
      utf8Out.println(bindings.columns.map(tsvCell).mkString("\t"))
      // bounded output by contract: an interactive query surface must
      // not stream a corpus-sized result to a terminal — cap and say so
      val rows = bindings.limit(10001).collect()
      rows.take(10000).foreach(r =>
        utf8Out.println(r.toSeq.map(tsvCell).mkString("\t")))
      if (rows.length > 10000)
        System.err.println("[kg-query] output capped at 10000 binding " +
          "rows — refine the pattern or use the library API")
      spark.stop()

    case "synth" :: out :: rest =>
      val n = rest.headOption.map(_.toInt).getOrElse(500)
      val seed = rest.drop(1).headOption.map(_.toLong).getOrElse(42L)
      Files.write(Paths.get(out),
        Synth.corpusLines(n, seed).mkString("\n").getBytes("UTF-8"))
      System.err.println(s"[cli] $n sentences written to $out")
    case _ =>
      System.err.println(
        "usage: train|train-file|train-dist|ner|ner-xces|ox|compare|synth|cv|serve|client|curate|kg-audit|kg-export|kg-query ... (see scaladoc)")
      sys.exit(2)
  }
}

/** A trained model bundle: schema config + CRF weights, JSON-serialized —
  * the Spark jobs broadcast this (reference's binary `Nerf` model,
  * /root/reference/src/NLP/Nerf.hs:35-41, re-expressed as JSON).
  */
final case class NerfModel(schema: Features.SchemaConf, crf: Crf.Model)
    extends Serializable {

  /** End-to-end NER on a raw sentence: tokenize -> features -> Viterbi ->
    * IOB-decode (/root/reference/src/NLP/Nerf.hs:94-99).
    */
  def ner(sentence: String): List[NeTree] = {
    val toks = Tokenizer.tokenize(sentence)
    if (toks.isEmpty) Nil
    else {
      val obs = Features.schematize(schema, toks)
      val parsed = crf.parsedLabels
      val labels = crf.viterbi(obs).map(parsed)
      Iob.decodeForest(toks.zip(labels))
    }
  }

  /** Mentions as flat spans (token indices) for the Spark pipeline. */
  def mentions(sentence: String): (Vector[String], Vector[Span]) = {
    val forest = ner(sentence)
    Forest.toSpans(forest)
  }
}

object NerfModel {

  def defaultSchema: Features.SchemaConf = Features.SchemaConf.default(
    neDicts = List(Synth.neDictionary),
    intDict = Some(Synth.intTriggerDict),
    extDict = Some(Synth.extTriggerDict))

  def trainOnForests(forests: Seq[List[NeTree]],
                     cfg: Sgd.Config = Sgd.Config(),
                     schema: Features.SchemaConf = defaultSchema,
                     log: String => Unit = _ => (),
                     eval: Option[Seq[Sgd.TrainSent]] = None): NerfModel = {
    val sents = forests.map { f =>
      val enc = Iob.encodeForest(f)
      Sgd.TrainSent(
        Features.schematize(schema, enc.map(_._1)),
        enc.map(p => Iob.renderLabel(p._2)).toArray)
    }
    NerfModel(schema, Sgd.train(sents, cfg, log, eval))
  }

  // ---- the model file: the schema first, so the file describes itself
  //      like the reference's binary Nerf model, then the CRF weights ----

  private def schemaJson(c: Features.SchemaConf) = {
    // entries iterate in key order (sorted)
    def dict(d: CompactDict) = Json.obj(d.entries.toSeq: _*)
    def ranged(r: List[Int], k: String, v: Any) = Json.obj("range" -> r, k -> v)
    Json.obj("orth" -> c.orthC, "splitOrth" -> c.splitOrthC,
      "lowPrefixes" -> c.lowPrefixesC.map { case (r, ns) => ranged(r, "ns", ns) },
      "lowSuffixes" -> c.lowSuffixesC.map { case (r, ns) => ranged(r, "ns", ns) },
      "lemma" -> c.lemmaC.map { case (r, n) => ranged(r, "n", n) },
      "shape" -> c.shapeC, "packed" -> c.packedC,
      "shapePair" -> c.shapePairC, "packedPair" -> c.packedPairC,
      "dicts" -> c.dictC.map { case (r, ds) => ranged(r, "dicts", ds.map(dict)) },
      "intTrigs" -> c.intTrigsC.map { case (r, d) => ranged(r, "dict", dict(d)) },
      "extTrigs" -> c.extTrigsC.map { case (r, d) => ranged(r, "dict", dict(d)) })
  }

  private def ints(v: Json.Value): List[Int] = v.elems.map(_.int).toList
  private def doubles(v: Json.Value): Array[Double] = v.elems.map(_.double).toArray

  private def parseSchema(o: Json.Value): Features.SchemaConf = {
    def dict(v: Json.Value) = CompactDict.fromPairs(v.fields.iterator.map {
      case (k, labels) => k -> labels.elems.map(_.str).toList })
    def ranged[A](name: String)(f: Json.Value => A): Option[(List[Int], A)] =
      o.opt(name).map(m => (ints(m("range")), f(m)))
    Features.SchemaConf(
      orthC = o.opt("orth").map(ints),
      splitOrthC = o.opt("splitOrth").map(ints),
      lowPrefixesC = ranged("lowPrefixes")(m => ints(m("ns"))),
      lowSuffixesC = ranged("lowSuffixes")(m => ints(m("ns"))),
      lemmaC = ranged("lemma")(_("n").int),
      shapeC = o.opt("shape").map(ints),
      packedC = o.opt("packed").map(ints),
      shapePairC = o.opt("shapePair").map(ints),
      packedPairC = o.opt("packedPair").map(ints),
      dictC = ranged("dicts")(_("dicts").elems.map(dict).toList),
      intTrigsC = ranged("intTrigs")(m => dict(m("dict"))),
      extTrigsC = ranged("extTrigs")(m => dict(m("dict"))))
  }

  def save(m: NerfModel, path: Path): Unit = {
    // diverged training (pathological gain, degenerate corpus) can leave
    // NaN/Infinity weights; bare NaN tokens are not JSON and would make
    // every future load fail cryptically — refuse at save time instead
    require(m.crf.sing.toArray.forall(java.lang.Double.isFinite) &&
            m.crf.trans.data.forall(java.lang.Double.isFinite) &&
            m.crf.obsWeights.forall(_.forall(java.lang.Double.isFinite)),
      "model has non-finite weights (NaN/Infinity) — training diverged; " +
        "refusing to serialize an unloadable model")
    val doc = Json.obj("schema" -> schemaJson(m.schema),
      "labels" -> m.crf.labels, "sing" -> m.crf.sing.toArray,
      "trans" -> m.crf.trans.data,
      // per site: { value: obsId, ... } in id order
      "obs" -> m.crf.obsIds.map(site => Json.obj(site.toSeq.sortBy(_._2): _*)),
      "obsLabels" -> m.crf.obsLabels, "obsWeights" -> m.crf.obsWeights)
    Files.createDirectories(path.toAbsolutePath.getParent)
    Files.write(path, Json.render(doc).getBytes("UTF-8"))
  }

  /** Load a model file written by [[save]]; a file that is truncated, is
    * not JSON, or has a missing or mistyped field fails naming `path`.
    */
  def load(path: Path): NerfModel = {
    val o = Json.parse(new String(Files.readAllBytes(path), "UTF-8"),
      s"NER model file $path")
    val labels = o("labels").elems.map(_.str).toArray
    val sing = doubles(o("sing"))
    val trans = doubles(o("trans"))
    val l = labels.length
    if (sing.length != l || trans.length != l * l) o.refuse(s"has $l " +
      s"labels but ${sing.length} initial and ${trans.length} transition weights")
    val obs = o("obs")
    require(obs.node.isArray,
      s"$path uses the pre-(siteId,value) model format; retrain with `graft.Cli train`")
    val obsIds = obs.elems.map(_.fields.map { case (k, id) => k -> id.int }.toMap).toArray
    NerfModel(o.opt("schema").fold(defaultSchema)(parseSchema), // pre-schema files
      Crf.Model(labels, obsIds, breeze.linalg.DenseVector(sing),
        new breeze.linalg.DenseMatrix(l, l, trans),
        o("obsLabels").elems.map(ints(_).toArray).toArray,
        o("obsWeights").elems.map(doubles).toArray))
  }
}
