package graft.core

import scala.collection.mutable.ArrayBuffer

/** Observation-schema feature extraction.
  *
  * Re-implements the reference's 12 config-driven schema blocks
  * (/root/reference/src/NLP/Nerf/Schema.hs:105-212,248-362) plus the Ox
  * index bookkeeping of the public `monad-ox` package: each `save` site
  * gets a deterministic index; observation identity = (index, value), so
  * two identical texts emitted by different blocks are distinct features
  * (/root/reference/src/NLP/Nerf/Types.hs:23).
  *
  * Our frozen conventions (SURVEY.md §7.4 pinning; documented because
  * the dep sources are not vendored):
  *  - the hierarchical `[Int]` Ox path is flattened to one scalar
  *    `siteId` = the ordinal of the save call within the per-position
  *    schema program. Every save site executes exactly once per position
  *    (disabled/out-of-range saves still consume their ordinal), so the
  *    numbering is stable and (siteId, value) pairs are unique within a
  *    position — the reference's per-position set-dedup
  *    (`S.fromList`, Schema.hs:359) is then a no-op and is omitted.
  *  - `saves` (multi-value dictionary hits) emits all values under one
  *    siteId.
  *  - shape alphabet: upper→'X', lower→'x', digit→'d', other→'o'
  *    (Schema.hs:156-161).
  *  - prefix/suffix of negative length n takes `len+n` chars;
  *    out-of-range lengths yield no observation (Schema.hs:144-153 uses
  *    `[0,-1..-n]`).
  *
  * Hot-path note: this runs once per token of a 100 TB corpus. The
  * representation is two parallel arrays per position (site ids +
  * value strings, the latter usually sharing the token's backing
  * storage) — no per-observation boxing, hashing, or string
  * concatenation (measured: the dominant memory-bandwidth cost at high
  * executor thread counts).
  */
object Features {

  /** Observations at one sentence position: parallel arrays, index i
    * pairing sites(i) with values(i).
    */
  final class PosObs(val sites: Array[Int], val values: Array[String])
      extends Serializable {
    def size: Int = sites.length
    def render: List[String] =
      sites.indices.map(i => s"${sites(i)}~${values(i)}").toList
    override def equals(o: Any): Boolean = o match {
      case p: PosObs =>
        java.util.Arrays.equals(sites, p.sites) &&
          java.util.Arrays.equals(values.asInstanceOf[Array[AnyRef]],
            p.values.asInstanceOf[Array[AnyRef]])
      case _ => false
    }
    override def hashCode: Int =
      java.util.Arrays.hashCode(sites) * 31 +
        java.util.Arrays.hashCode(values.asInstanceOf[Array[AnyRef]])
  }

  // ---------------- Ox emulation ----------------

  final class Ox {
    // primitive-backed builder: ArrayBuffer[Int] would box every site id
    // on the once-per-token hot path (erased Array[AnyRef] storage)
    private val siteBuf = new scala.collection.mutable.ArrayBuilder.ofInt
    private val valueBuf = new ArrayBuffer[String](32)
    private var site = 0
    siteBuf.sizeHint(32)

    def save(v: String): Unit = { // null = no observation, slot consumed
      if (v != null) { siteBuf += site; valueBuf += v }
      site += 1
    }

    def saves(vs: Iterable[String]): Unit = {
      vs.foreach { x => siteBuf += site; valueBuf += x }
      site += 1
    }

    def result(): PosObs = new PosObs(siteBuf.result(), valueBuf.toArray)

    /** Reuse across positions (r7): [[result]] always hands out fresh
      * arrays (ofInt.result either copies or relinquishes its backing
      * array, zeroing capacity; ArrayBuffer.toArray copies), so
      * clearing the builders is safe and saves two buffer allocations
      * plus growth churn per position of the 100-TB hot loop.
      */
    def reset(): Unit = { siteBuf.clear(); valueBuf.clear(); site = 0 }
  }

  // ---------------- basic accessors ----------------

  /** Per-sentence precomputed derivations. The schema blocks consult the
    * same token's lowercase/shape/pack many times per position (the
    * default schema: ~5 lowercases and ~8 shape builds per position if
    * recomputed inline) — on the once-per-token-of-100TB hot path that
    * is pure allocation waste, so each derivation is materialized ONCE
    * per sentence and the blocks index it. `null` arrays = derivation
    * not needed by the active config.
    *
    * Locale.ROOT lowercase: features must be identical on every executor
    * JVM regardless of default locale (tr_TR lowercases I to dotless ı,
    * silently desynchronizing tag-time features from the trained model).
    */
  private final class Pre(toks: Array[String], lows: Array[String],
                          shapes: Array[String], packs: Array[String],
                          lowCps: Array[Int]) {
    private val n = toks.length
    @inline def orth(i: Int): String = if (i >= 0 && i < n) toks(i) else null
    @inline def low(i: Int): String = if (i >= 0 && i < n) lows(i) else null
    @inline def shapeAt(i: Int): String = if (i >= 0 && i < n) shapes(i) else null
    @inline def packAt(i: Int): String = if (i >= 0 && i < n) packs(i) else null
    /** Code-point count of low(i); only valid where low(i) != null. */
    @inline def lowCp(i: Int): Int = lowCps(i)
  }

  /** Affix helper: non-negative n = take n CODE POINTS; negative n =
    * take len+n; out of range -> null. Counting code points (not UTF-16
    * units) matters twice over: the reference's Haskell Char is a code
    * point, and a lone surrogate produced by a unit-offset cut would be
    * mangled to '?' by the model writer's UTF-8 encode — tag-time
    * features would then silently miss the saved weights on any
    * astral-character token (emoji are routine in web text).
    */
  def prefix(n: Int, w: String): String =
    prefixCp(n, w, w.codePointCount(0, w.length))

  def suffix(n: Int, w: String): String =
    suffixCp(n, w, w.codePointCount(0, w.length))

  /** [[prefix]] with the code-point count supplied by the caller — the
    * schema blocks take ~19 affix cuts per token, and recounting code
    * points per cut was the dominant schematize cost (r7). When the
    * count equals the UTF-16 length the token holds no surrogate pair,
    * so the cut index needs no `offsetByCodePoints` walk either.
    */
  private[core] def prefixCp(n: Int, w: String, cps: Int): String = {
    val m = if (n >= 0) n else cps + n
    if (m < 0 || m > cps) null
    else if (cps == w.length) w.substring(0, m)
    else w.substring(0, w.offsetByCodePoints(0, m))
  }

  private[core] def suffixCp(n: Int, w: String, cps: Int): String = {
    val m = if (n >= 0) n else cps + n
    if (m < 0 || m > cps) null
    else if (cps == w.length) w.substring(w.length - m)
    else w.substring(w.offsetByCodePoints(0, cps - m))
  }

  /** Character shape (Schema.hs:156-161), per CODE POINT like the
    * reference's Data.Char predicates — an astral uppercase (U+1D400)
    * is one 'X', not two 'o's.
    */
  def shape(w: String): String = {
    val b = new java.lang.StringBuilder(w.length)
    var i = 0
    while (i < w.length) {
      val cp = w.codePointAt(i)
      b.append(
        if (Character.isUpperCase(cp)) 'X'
        else if (Character.isLowerCase(cp)) 'x'
        else if (Character.isDigit(cp)) 'd' else 'o')
      i += Character.charCount(cp)
    }
    b.toString
  }

  /** Run-length-collapsed shape (Schema.hs:164-170). */
  def pack(s: String): String = {
    val b = new java.lang.StringBuilder(s.length)
    var last: Char = 0
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c != last) { b.append(c); last = c }
      i += 1
    }
    b.toString
  }

  // ---------------- schema configuration ----------------

  /** One block's config: the relative-position range + block argument
    * (Schema.hs:215-219 `Body { range, args }`). `None` = block disabled.
    */
  final case class SchemaConf(
      orthC: Option[List[Int]] = None,
      splitOrthC: Option[List[Int]] = None,
      lowPrefixesC: Option[(List[Int], List[Int])] = None, // (range, lengths)
      lowSuffixesC: Option[(List[Int], List[Int])] = None,
      lemmaC: Option[(List[Int], Int)] = None,
      shapeC: Option[List[Int]] = None,
      packedC: Option[List[Int]] = None,
      shapePairC: Option[List[Int]] = None,
      packedPairC: Option[List[Int]] = None,
      dictC: Option[(List[Int], List[CompactDict])] = None,
      intTrigsC: Option[(List[Int], CompactDict)] = None,
      extTrigsC: Option[(List[Int], CompactDict)] = None)

  object SchemaConf {
    /** Default configuration (Schema.hs:304-322). Dictionaries are
      * compiled to [[CompactDict]] (broadcast-compact, SURVEY.md §4).
      */
    def default(
        neDicts: List[Map[String, List[String]]] = Nil,
        intDict: Option[Map[String, List[String]]] = None,
        extDict: Option[Map[String, List[String]]] = None): SchemaConf =
      SchemaConf(
        orthC = None,
        splitOrthC = Some(List(-1, 0)),
        lowPrefixesC = None,
        lowSuffixesC = Some((List(0), List(2, 3, 4))),
        lemmaC = Some((List(-1, 0), 3)),
        shapeC = Some(List(-1, 0)),
        packedC = Some(List(-1, 0)),
        shapePairC = Some(List(0)),
        packedPairC = Some(List(0)),
        dictC = if (neDicts.isEmpty) None
                else Some((List(-1, 0), neDicts.map(CompactDict.fromMap(_)))),
        intTrigsC = intDict.map(d => (List(0), CompactDict.fromMap(d))),
        extTrigsC = extDict.map(d => (List(-1), CompactDict.fromMap(d))))
  }

  // ---------------- blocks ----------------
  // Each mirrors the reference's save-call order exactly so that site
  // ids are stable (fromBlock: absolute positions = range.map(_ + k),
  // Schema.hs:99-102). Ranges arrive as pre-flattened Int arrays and
  // the position offset `k` is added inline (r7): the previous
  // per-position `range.map(_ + k)` allocated ~10 small lists per
  // token of the 100-TB hot loop.

  private def orthB(ox: Ox, pre: Pre, ks: Array[Int], k: Int): Unit = {
    var j = 0
    while (j < ks.length) { ox.save(pre.orth(ks(j) + k)); j += 1 }
  }

  private def splitOrthB(ox: Ox, pre: Pre, ks: Array[Int], k: Int): Unit = {
    var j = 0
    while (j < ks.length) { ox.save(pre.low(ks(j) + k)); j += 1 }
    j = 0
    while (j < ks.length) {
      val w = pre.orth(ks(j) + k)
      ox.save(if (w != null && hasUpper(w)) w else null)
      j += 1
    }
  }

  @inline private def hasUpper(w: String): Boolean = {
    var i = 0
    while (i < w.length) {
      val cp = w.codePointAt(i) // code point: astral uppercase counts
      if (Character.isUpperCase(cp)) return true
      i += Character.charCount(cp)
    }
    false
  }

  private def lowPrefixesB(ox: Ox, pre: Pre, ks: Array[Int], ns: Array[Int],
                           k: Int): Unit = {
    var j = 0
    while (j < ks.length) {
      val i = ks(j) + k
      val w = pre.low(i)
      var m = 0
      while (m < ns.length) {
        ox.save(if (w == null) null else prefixCp(ns(m), w, pre.lowCp(i)))
        m += 1
      }
      j += 1
    }
  }

  private def lowSuffixesB(ox: Ox, pre: Pre, ks: Array[Int], ns: Array[Int],
                           k: Int): Unit = {
    var j = 0
    while (j < ks.length) {
      val i = ks(j) + k
      val w = pre.low(i)
      var m = 0
      while (m < ns.length) {
        ox.save(if (w == null) null else suffixCp(ns(m), w, pre.lowCp(i)))
        m += 1
      }
      j += 1
    }
  }

  private def lemmaB(ox: Ox, pre: Pre, ks: Array[Int], n: Int, k: Int): Unit = {
    var j = 0
    while (j < ks.length) {
      val i = ks(j) + k
      val w = pre.low(i)
      val cps = if (w == null) 0 else pre.lowCp(i)
      // deltas [0, -1 .. -n] (Schema.hs:152); the reference nests these
      // under an Ox.group — flattened here, identity preserved by the
      // sequential site numbering
      var d = 0
      while (d >= -n) { ox.save(if (w == null) null else prefixCp(d, w, cps)); d -= 1 }
      d = 0
      while (d >= -n) { ox.save(if (w == null) null else suffixCp(d, w, cps)); d -= 1 }
      j += 1
    }
  }

  private def shapeB(ox: Ox, pre: Pre, ks: Array[Int], k: Int): Unit = {
    var j = 0
    while (j < ks.length) { ox.save(pre.shapeAt(ks(j) + k)); j += 1 }
  }

  private def packedB(ox: Ox, pre: Pre, ks: Array[Int], k: Int): Unit = {
    var j = 0
    while (j < ks.length) { ox.save(pre.packAt(ks(j) + k)); j += 1 }
  }

  private def shapePairB(ox: Ox, pre: Pre, ks: Array[Int], k: Int): Unit = {
    var j = 0
    while (j < ks.length) {
      val i = ks(j) + k
      val a = pre.shapeAt(i); val b = pre.shapeAt(i - 1)
      ox.save(if (a == null || b == null) null else a + "-" + b)
      j += 1
    }
  }

  private def packedPairB(ox: Ox, pre: Pre, ks: Array[Int], k: Int): Unit = {
    var j = 0
    while (j < ks.length) {
      val i = ks(j) + k
      val a = pre.packAt(i); val b = pre.packAt(i - 1)
      ox.save(if (a == null || b == null) null else a + "-" + b)
      j += 1
    }
  }

  private val noHits: List[String] = Nil

  private def dictB(ox: Ox, pre: Pre, ks: Array[Int],
                    dict: CompactDict, k: Int): Unit = {
    var j = 0
    while (j < ks.length) {
      val w = pre.orth(ks(j) + k)
      val hits = if (w == null) noHits else dict.getOrElse(w, noHits)
      ox.saves(hits) // dict lists are pre-sorted (S.toList, Schema.hs:206-212)
      j += 1
    }
  }

  // ---------------- schematize ----------------

  /** Extract per-position observations for a sentence
    * (Schema.hs:341-362: blocks composed in fixed order; one reused Ox,
    * reset per position — identical output to a fresh Ox per position,
    * [[Ox.result]] always copies out).
    */
  def schematize(conf: SchemaConf, tokens: IndexedSeq[String]): Array[PosObs] = {
    val n = tokens.length
    // monomorphic array view of the sentence (r7): the blocks read each
    // token many times per position, and a Vector's trie walk (plus the
    // megamorphic IndexedSeq.apply call site) taxes every read of the
    // 100-TB hot loop; one up-front copy makes them plain array loads
    val toks = new Array[String](n)
    var ti = 0
    while (ti < n) { toks(ti) = tokens(ti); ti += 1 }
    // per-sentence derivations, computed once and only if the config
    // uses them (see Pre)
    val needLow = conf.splitOrthC.isDefined || conf.lowPrefixesC.isDefined ||
      conf.lowSuffixesC.isDefined || conf.lemmaC.isDefined
    val needShape = conf.shapeC.isDefined || conf.packedC.isDefined ||
      conf.shapePairC.isDefined || conf.packedPairC.isDefined
    val needPack = conf.packedC.isDefined || conf.packedPairC.isDefined
    val lows = if (needLow)
      Array.tabulate(n)(i => toks(i).toLowerCase(java.util.Locale.ROOT))
      else null
    // code-point count per lowercased token, counted ONCE — the affix
    // blocks cut each token ~19 times and recounting per cut dominated
    val lowCps = if (needLow)
      Array.tabulate(n)(i => lows(i).codePointCount(0, lows(i).length))
      else null
    val shapes = if (needShape) Array.tabulate(n)(i => shape(toks(i))) else null
    val packs = if (needPack) Array.tabulate(n)(i => pack(shapes(i))) else null
    val pre = new Pre(toks, lows, shapes, packs, lowCps)
    // ranges flattened to Int arrays once per sentence; block order and
    // save-call order are exactly the round-6 sequence
    def arr(r: List[Int]): Array[Int] = r.toArray
    val orthR = conf.orthC.map(arr).orNull
    val splitR = conf.splitOrthC.map(arr).orNull
    val lowPreR = conf.lowPrefixesC.map(p => (arr(p._1), arr(p._2))).orNull
    val lowSufR = conf.lowSuffixesC.map(p => (arr(p._1), arr(p._2))).orNull
    val lemmaR = conf.lemmaC.map(p => (arr(p._1), p._2)).orNull
    val shapeR = conf.shapeC.map(arr).orNull
    val packedR = conf.packedC.map(arr).orNull
    val shapePairR = conf.shapePairC.map(arr).orNull
    val packedPairR = conf.packedPairC.map(arr).orNull
    val dictR = conf.dictC.map(p => (arr(p._1), p._2.toArray)).orNull
    val intTrigR = conf.intTrigsC.map(p => (arr(p._1), p._2)).orNull
    val extTrigR = conf.extTrigsC.map(p => (arr(p._1), p._2)).orNull
    val out = new Array[PosObs](n)
    val ox = new Ox
    var k = 0
    while (k < n) {
      ox.reset()
      if (orthR != null) orthB(ox, pre, orthR, k)
      if (splitR != null) splitOrthB(ox, pre, splitR, k)
      if (lowPreR != null) lowPrefixesB(ox, pre, lowPreR._1, lowPreR._2, k)
      if (lowSufR != null) lowSuffixesB(ox, pre, lowSufR._1, lowSufR._2, k)
      if (lemmaR != null) lemmaB(ox, pre, lemmaR._1, lemmaR._2, k)
      if (shapeR != null) shapeB(ox, pre, shapeR, k)
      if (packedR != null) packedB(ox, pre, packedR, k)
      if (shapePairR != null) shapePairB(ox, pre, shapePairR, k)
      if (packedPairR != null) packedPairB(ox, pre, packedPairR, k)
      if (dictR != null) {
        var d = 0
        while (d < dictR._2.length) {
          dictB(ox, pre, dictR._1, dictR._2(d), k); d += 1
        }
      }
      if (intTrigR != null) dictB(ox, pre, intTrigR._1, intTrigR._2, k)
      if (extTrigR != null) dictB(ox, pre, extTrigR._1, extTrigR._2, k)
      out(k) = ox.result()
      k += 1
    }
    out
  }
}
