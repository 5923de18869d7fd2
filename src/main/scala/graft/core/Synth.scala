package graft.core

import scala.util.Random

/** Deterministic synthetic data: ENAMEX training corpus, gazetteer
  * dictionaries, an entity knowledge base for linking, and repo-table
  * content rows `(repo, path, commit, lang, content)`.
  *
  * Shapes follow the reference's example corpus
  * (/root/reference/example/train.nes: 1,000 sentences, nested NE tags to
  * depth 3, dotted type hierarchy) and BASELINE.json's `input_hint`.
  * Everything is seeded (default 42) — no external data, reproducible
  * across runs and parallelism levels (BASELINE.md bench protocol).
  */
object Synth {

  val forenames = Vector("Adam", "Bela", "Cyra", "Doran", "Elia", "Fenn",
    "Gwen", "Hale", "Iris", "Joss", "Kira", "Liam", "Mara", "Nils", "Otto",
    "Pia", "Quin", "Rhea", "Sten", "Tara", "Ugo", "Vera", "Wim", "Xena",
    "Yann", "Zola")
  val surnames = Vector("Abram", "Barkov", "Calder", "Dray", "Ekberg",
    "Farrow", "Grady", "Holm", "Ivers", "Jarvi", "Kessler", "Lindt",
    "Marsh", "Novak", "Orsi", "Pratt", "Quist", "Rourke", "Sandor",
    "Thorne", "Ullman", "Voss", "Wicks", "Yates", "Zeman", "Falk",
    "Greer", "Hart", "Ines", "Joris")
  val orgWords1 = Vector("Alpha", "Borei", "Cobalt", "Delta", "Ember",
    "Flux", "Gamma", "Helix", "Ion", "Jade", "Krypton", "Lumen", "Mint",
    "Nova", "Onyx")
  val orgWords2 = Vector("Systems", "Labs", "Group", "Works", "Partners",
    "Industries", "Analytics", "Networks")
  val countries = Vector("Atlantis", "Borduria", "Carpania", "Dalmatia",
    "Elbonia", "Freedonia", "Grandia", "Hesperia", "Illyria", "Jotunia",
    "Krakozhia", "Latveria")
  val cities = Vector("Portvale", "Quayside", "Rivermoor", "Stonegate",
    "Thornbury", "Umberton", "Vailport", "Westmere", "Yarrowfield",
    "Zephyrton", "Ashford", "Briarton")
  val filler = Vector("the", "a", "report", "meeting", "today", "new",
    "old", "plan", "market", "season", "match", "game", "press", "team",
    "deal", "talks", "visit", "summit", "project", "review", "budget",
    "league", "council", "signed", "announced", "opened", "won", "lost",
    "said", "met", "visited", "during", "after", "before", "between",
    "about", "against", "with", "without", "near", "results", "figures")
  val personTriggers = Vector("coach", "president", "minister", "director",
    "professor", "captain")
  val orgTriggers = Vector("company", "firm", "startup", "club")
  val placeTriggers = Vector("in", "from", "near", "to")

  /** Canonical KB entity: id, type, canonical name, aliases. */
  final case class KbEntity(id: String, neType: String, canonical: String,
                            aliases: Vector[String])

  /** Build the knowledge base the linker resolves against. Covers the
    * full cross-product the grammar can generate. Persons get a
    * surname-only alias (deliberately ambiguous — the canonicalizer's
    * alias-uniqueness rule must not merge through it); orgs get a
    * squashed alias (e.g. "AlphaSystems"). Every other org also exists as
    * a second-source duplicate entry (`orgdup:`) sharing the squashed
    * alias — the canonicalization stage must merge those (SURVEY.md §2.9).
    */
  def knowledgeBase: Vector[KbEntity] = {
    val persons = for {
      f <- forenames
      s <- surnames
    } yield KbEntity(s"per:${f}_$s", "persName", s"$f $s", Vector(s"$f $s", s))
    val orgs = for {
      w1 <- orgWords1
      w2 <- orgWords2
    } yield KbEntity(s"org:${w1}_$w2", "orgName", s"$w1 $w2",
      Vector(s"$w1 $w2", s"$w1$w2", w1))
    val orgDups = orgs.zipWithIndex.collect { case (o, i) if i % 2 == 0 =>
      KbEntity(s"orgdup:${o.canonical.replace(' ', '_')}", "orgName",
        o.canonical, Vector(o.canonical.replace(" ", "")))
    }
    val ctys = countries.map(c =>
      KbEntity(s"cty:$c", "placeName.country", c, Vector(c)))
    val cits = cities.map(c =>
      KbEntity(s"cit:$c", "placeName.settlement", c, Vector(c)))
    persons ++ orgs ++ orgDups ++ ctys ++ cits
  }

  /** Gazetteer dictionaries for the dictB feature blocks: surface form ->
    * NE labels (single-word forms only, like the reference's `atomic`
    * filter, /root/reference/src/NLP/Nerf/Dict.hs:25-26).
    */
  def neDictionary: Map[String, List[String]] = {
    val b = scala.collection.mutable.Map.empty[String, Set[String]]
    def add(k: String, v: String): Unit = b(k) = b.getOrElse(k, Set.empty) + v
    forenames.foreach(add(_, "persName.forename"))
    surnames.foreach(add(_, "persName.surname"))
    orgWords1.foreach(add(_, "orgName"))
    orgWords2.foreach(add(_, "orgName"))
    countries.foreach(add(_, "placeName.country"))
    cities.foreach(add(_, "placeName.settlement"))
    b.iterator.map { case (k, v) => k -> v.toList.sorted }.toMap
  }

  def intTriggerDict: Map[String, List[String]] =
    orgWords2.map(w => w -> List("orgName")).toMap

  // orgTriggers are DELIBERATELY absent: they act as the untriggered
  // control group — the model must learn org contexts from shape/dict
  // features alone, which keeps the trigger blocks from dominating every
  // entity class in the synthetic evaluation. (Changing this retrains
  // every model and re-pins all golden decodings.)
  def extTriggerDict: Map[String, List[String]] =
    (personTriggers.map(w => w -> List("persName")) ++
      placeTriggers.map(w => w -> List("placeName"))).toMap

  // ---------------- sentence grammar ----------------

  private def person(r: Random): NeTree = {
    val f = forenames(r.nextInt(forenames.length))
    val s = surnames(r.nextInt(surnames.length))
    NeNode("persName", List(
      NeNode("persName.forename", List(NeLeaf(f))),
      NeNode("persName.surname", List(NeLeaf(s)))))
  }

  private def org(r: Random): NeTree = {
    val w1 = orgWords1(r.nextInt(orgWords1.length))
    val w2 = orgWords2(r.nextInt(orgWords2.length))
    NeNode("orgName", List(NeLeaf(w1), NeLeaf(w2)))
  }

  private def country(r: Random): NeTree =
    NeNode("placeName.country", List(NeLeaf(countries(r.nextInt(countries.length)))))

  private def city(r: Random): NeTree =
    NeNode("placeName.settlement", List(NeLeaf(cities(r.nextInt(cities.length)))))

  /** Depth-3 nesting: a geogName wrapping a settlement (mirrors the
    * reference corpus's nested placeName patterns).
    */
  private def nestedPlace(r: Random): NeTree =
    NeNode("geogName", List(city(r), NeLeaf("valley")))

  private def fillerRun(r: Random, lo: Int, hi: Int): List[NeTree] = {
    val n = lo + r.nextInt(hi - lo + 1)
    List.fill(n)(NeLeaf(filler(r.nextInt(filler.length))))
  }

  /** One annotated sentence as an NE forest. */
  def sentence(r: Random): List[NeTree] = {
    val kind = r.nextInt(10)
    val body: List[NeTree] = kind match {
      case 0 | 1 =>
        fillerRun(r, 1, 3) ::: List(NeLeaf(personTriggers(r.nextInt(personTriggers.length))),
          person(r)) ::: fillerRun(r, 1, 4)
      case 2 =>
        fillerRun(r, 1, 3) ::: List(NeLeaf(orgTriggers(r.nextInt(orgTriggers.length))),
          org(r)) ::: fillerRun(r, 1, 3)
      case 3 =>
        fillerRun(r, 2, 4) ::: List(NeLeaf("in"), country(r)) ::: fillerRun(r, 0, 3)
      case 4 =>
        fillerRun(r, 2, 4) ::: List(NeLeaf("near"), city(r)) ::: fillerRun(r, 0, 2)
      case 5 =>
        List(person(r), NeLeaf("visited")) ::: List(nestedPlace(r)) ::: fillerRun(r, 0, 3)
      case 6 =>
        fillerRun(r, 1, 2) ::: List(NeLeaf(personTriggers(r.nextInt(personTriggers.length))),
          person(r), NeLeaf("of"), org(r)) ::: fillerRun(r, 0, 2)
      case 7 =>
        fillerRun(r, 3, 7) // no entities
      case 8 =>
        fillerRun(r, 2, 5) // no entities
      case _ =>
        List(org(r), NeLeaf("signed")) ::: fillerRun(r, 1, 3) :::
          List(NeLeaf("in"), city(r))
    }
    body :+ NeLeaf(".")
  }

  /** Deterministic ENAMEX corpus of `n` sentences. */
  def corpus(n: Int, seed: Long = 42L): Vector[List[NeTree]] = {
    val r = new Random(seed)
    Vector.fill(n)(sentence(r))
  }

  def corpusLines(n: Int, seed: Long = 42L): Vector[String] =
    corpus(n, seed).map(Forest.renderEnamex)

  // ---------------- repo-table content ----------------

  final case class RepoRow(repo: String, path: String, commit: String,
                           lang: String, content: String)

  val langs = Vector("scala", "java", "py", "md", "txt", "go")

  private def hex40(s: String): String =
    Digests.hex(java.security.MessageDigest.getInstance("SHA-1")
      .digest(s.getBytes("UTF-8")))

  // harmonic weights cached per nRepos — recomputing the vector once per
  // generated ROW was pure waste on the table-generation path
  private val zipfCache =
    scala.collection.concurrent.TrieMap.empty[Int, (Array[Double], Double)]

  /** Zipf-skewed repo choice: repo k gets weight 1/(k+1). */
  private def zipfRepo(r: Random, nRepos: Int): Int = {
    val (h, total) = zipfCache.getOrElseUpdate(nRepos, {
      val w = Array.tabulate(nRepos)(k => 1.0 / (k + 1))
      (w, w.sum)
    })
    var x = r.nextDouble() * total
    var k = 0
    while (k < nRepos - 1 && x > h(k)) { x -= h(k); k += 1 }
    k
  }

  /** One row of the flagship input table, deterministic per (i, seed) —
    * per-row seeding so the table can be generated *distributed* (Spark
    * `range(n).map(repoRow)`) with results independent of partitioning.
    * Each file's content embeds `sentsPerFile` grammar sentences as code
    * comments, interleaved with code-ish filler lines.
    */
  def repoRow(i: Long, sentsPerFile: Int = 8, nRepos: Int = 50,
              seed: Long = 42L): RepoRow = {
    val r = new Random(seed * 1000003L + i * 7919L)
    val repoIdx = zipfRepo(r, nRepos)
    val repo = f"org/repo$repoIdx%03d"
    val lang = langs(r.nextInt(langs.length))
    val path = f"src/pkg${r.nextInt(20)}%02d/file$i%06d.$lang"
    val commit = hex40(s"$repo/$path@$seed")
    val lines = (0 until sentsPerFile).flatMap { j =>
      val forest = sentence(r)
      val plain = forest.flatMap(_.leaves).mkString(" ")
      List(s"// $plain", s"val x$j = ${r.nextInt(1000)}")
    }
    RepoRow(repo, path, commit, lang, lines.mkString("\n"))
  }
}
