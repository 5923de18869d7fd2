package graft.pipeline

import graft.core._
import graft.NerfModel
import org.apache.spark.sql.{DataFrame, Dataset, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** The flagship knowledge-graph construction pipeline (BASELINE.json
  * north_rule): CRF mention detection as a typed Dataset map with the
  * model broadcast to executors, entity linking against a broadcast
  * alias index with a similarity scorer, canonicalization via
  * connected components over alias edges, and (subj, pred, obj) triple
  * materialization.
  *
  * Scale notes (designed for 1000-executor / 100 TB inputs, tested on
  * local[32]):
  *  - NER is a shuffle-free narrow stage: tokenize → features → Viterbi →
  *    IOB-decode fused in one `flatMap` closure over the broadcast model,
  *    mirroring the reference's function-composition pipeline
  *    (/root/reference/src/NLP/Nerf.hs:94-99) — SURVEY.md §4.3.
  *  - the KB/alias table is tiny vs the corpus → a broadcast block-key
  *    index: each mention's argmax runs inside its own partition, so
  *    candidate generation never shuffles the big side.
  *  - the wide operations are the link stage's mention-sized distinct
  *    (duplicate input rows), the distinct alias edge set (orders of
  *    magnitude smaller than the corpus; canonicalized on the driver
  *    up to `ccCollectThreshold` edges, by the CC fixpoint above it),
  *    and the type-triple dedup (map-side partial distinct collapses
  *    per-file repeats before the exchange — see `triples`).
  *  - popular-repo skew is defused by the committed write itself:
  *    `TableIO.writeBuckets` AQE-rebalances rows on `_bucket`, which
  *    splits a hot bucket over several tasks.
  */
object KgPipeline {

  final case class RepoFile(repo: String, path: String, commit: String,
                            lang: String, content: String)

  final case class MentionRow(repo: String, path: String, commit: String,
                              sentIdx: Int, begin: Int, end: Int, depth: Int,
                              neType: String, surface: String,
                              context: String)

  // ------------------------------------------------------------------
  // Sentence extraction
  // ------------------------------------------------------------------

  private val commentPrefixes = List("// ", "# ", "-- ", "* ")

  /** Pull NER-able sentences out of a source file's content: comment
    * lines with their marker stripped; whole lines for prose files.
    */
  def sentencesOf(lang: String, content: String): Vector[String] = {
    val lines = content.split('\n').toVector
    if (lang == "md" || lang == "txt") lines.filter(_.trim.nonEmpty)
    else lines.flatMap { l =>
      val t = l.trim
      commentPrefixes.collectFirst {
        case p if t.startsWith(p) => t.substring(p.length)
      }
    }
  }

  // ------------------------------------------------------------------
  // Stage 1: mention detection (narrow, model broadcast)
  // ------------------------------------------------------------------

  def detectMentions(spark: SparkSession, files: Dataset[RepoFile],
                     model: NerfModel): Dataset[MentionRow] = {
    import spark.implicits._
    val bModel = spark.sparkContext.broadcast(model)
    files.flatMap { f =>
      val m = bModel.value
      sentencesOf(f.lang, f.content).zipWithIndex.flatMap { case (sent, si) =>
        val (toks, spans) = m.mentions(sent)
        spans.map { sp =>
          MentionRow(f.repo, f.path, f.commit, si, sp.begin, sp.end, sp.depth,
            sp.neType, toks.slice(sp.begin, sp.end).mkString(" "),
            toks.mkString(" "))
        }
      }
    }
  }

  // ------------------------------------------------------------------
  // Stage 2: entity linking (broadcast dict join + scorer, SURVEY §2.9)
  // ------------------------------------------------------------------

  /** KB alias table: (alias_norm, entity_id, entity_type, canonical). */
  def kbAliasDf(spark: SparkSession, kb: Seq[Synth.KbEntity]): DataFrame = {
    import spark.implicits._
    kb.flatMap(e => e.aliases.map(a => (a.toLowerCase, e.id, e.neType, e.canonical)))
      .toDF("alias_norm", "entity_id", "entity_type", "canonical")
  }

  /** %-escape the id/provenance separator characters ('%' first, then
    * '#') so component boundaries in composed ids stay unambiguous for
    * any input string. Injective, and the identity on strings without
    * '%'/'#' — ids over ordinary repo/path/commit values are unchanged.
    */
  private def sepEscaped(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    regexp_replace(regexp_replace(c, "%", "%25"), "#", "%23")

  /** Link mentions to KB entities. Candidate generation blocks on the
    * first alias token — the standard Spark entity-resolution blocking
    * pattern (cf. SparkER, EDBT 2019; PAPERS.md) — and each candidate
    * within edit distance 4 scores
    *   score = 8·exact + (4 − levenshtein) + 3·typeMatch + contextOverlap
    * The best `(score, entity_id)` wins, ids compared in UTF-8 byte
    * order. A mention with no candidate within distance 4 still
    * surfaces: as a NIL entity clustered by surface (`nil:<surface>`,
    * the standard NIL-clustering convention) with a NULL score.
    *
    * The KB is collected once into a block-key index and broadcast, so
    * every candidate of a mention is already in the mention's own
    * partition: one `mapPartitions` pass emits one row per mention, and
    * the corpus side never shuffles for candidate generation. The only
    * exchange is the mention-sized `distinct()` that merges duplicate
    * input rows.
    */
  def linkMentions(spark: SparkSession, mentions: Dataset[MentionRow],
                   kbAliases: DataFrame): DataFrame = {
    // Only OUTERMOST mentions (depth 0) are linked — nested sub-spans
    // (forename inside a person) are structural NER output, not graph
    // entities; linking them would mint a nil: entity per bare
    // forename. mention_id includes the commit: the same path at two
    // commits is two distinct provenance sites.
    val m = mentions.toDF()
      .where(col("depth") === 0)
      // the id components are %-escaped before joining on '#': a '#'
      // inside a real-world path would otherwise let two DIFFERENT
      // mentions collide into one id and the duplicate merge would
      // silently drop one of them
      .withColumn("mention_id",
        concat_ws("#", sepEscaped(col("repo")), sepEscaped(col("path")),
          sepEscaped(col("commit")),
          col("sentIdx"), col("begin"), col("end"), col("depth")))
      .withColumn("surface_norm", lower(col("surface")))
      .withColumn("block_key", split(col("surface_norm"), " ").getItem(0))
      // context narrowed to capitalized tokens (the only ones that can
      // match a canonical name). "Capitalized" is the UNICODE test
      // (first char differs from its lowercase), not an ASCII 'A'..'Z'
      // range — "Łukasz" and "Örebro" must survive as disambiguating
      // context
      .withColumn("ctx_toks",
        transform(filter(split(col("context"), " "),
          t => t.substr(1, 1) =!= lower(t.substr(1, 1))),
          t => lower(t)))
      .withColumn("ne_root", substring_index(col("neType"), ".", 1))
      .select(LinkInCols.map(col): _*)

    val index = spark.sparkContext.broadcast(aliasIndex(kbAliases))
    m.mapPartitions { rows =>
      val idx = index.value
      rows.map(linkOne(idx, _))
    }(Encoders.row(LinkedSchema))
      .distinct()
  }

  /** The per-mention columns [[linkOne]] reads, in order. */
  private val LinkInCols = Seq("mention_id", "repo", "path", "commit",
    "sentIdx", "begin", "end", "depth", "neType", "surface_norm",
    "block_key", "ctx_toks", "ne_root")

  /** The `linked` schema: [[linkMentions]]' contract with canon,
    * triples and the query surface.
    */
  private val LinkedSchema = StructType(Seq(
    StructField("mention_id", StringType, nullable = false),
    StructField("score", IntegerType),
    StructField("repo", StringType), StructField("path", StringType),
    StructField("commit", StringType), StructField("sentIdx", IntegerType),
    StructField("begin", IntegerType), StructField("end", IntegerType),
    StructField("depth", IntegerType), StructField("neType", StringType),
    StructField("surface_norm", StringType),
    StructField("entity_id", StringType)))

  /** One KB alias as a link candidate; `canonToks` holds the distinct
    * tokens of the lowercased canonical name.
    */
  private final case class LinkCand(alias: UTF8String, entityId: String,
                                    idBytes: UTF8String, entityType: String,
                                    typeRoot: String, canonToks: Array[String])

  /** Block key (first alias token) → candidates. The per-alias columns
    * use the same Column expressions as the mention side; over the KB's
    * local relation they fold into the plan, so this collect runs no
    * job. Rows with a NULL alias or entity id never link.
    */
  private def aliasIndex(kbAliases: DataFrame): Map[String, Array[LinkCand]] =
    kbAliases
      .where(col("alias_norm").isNotNull && col("entity_id").isNotNull)
      .select(split(col("alias_norm"), " ").getItem(0), col("alias_norm"),
        col("entity_id"), col("entity_type"),
        substring_index(col("entity_type"), ".", 1),
        split(lower(col("canonical")), " "))
      .collect()
      .groupBy(_.getString(0))
      .map { case (key, rows) =>
        key -> rows.map { r =>
          val toks = Option(r.getSeq[String](5)).fold(Array.empty[String])(
            _.distinct.toArray)
          LinkCand(UTF8String.fromString(r.getString(1)), r.getString(2),
            UTF8String.fromString(r.getString(2)), r.getString(3),
            r.getString(4), toks)
        }
      }

  /** Argmax over one mention's candidates; one output row. Valid
    * candidates (bounded Levenshtein within 4) always outscore the
    * invalid ones, so the winner is the best valid `(score, entity_id)`.
    */
  private def linkOne(idx: Map[String, Array[LinkCand]], r: Row): Row = {
    val neType = r.getString(8)
    val surface = r.getString(9)
    val neRoot = r.getString(12)
    val cands =
      if (surface == null || r.isNullAt(10)) Array.empty[LinkCand]
      else idx.getOrElse(r.getString(10), Array.empty[LinkCand])
    val surf = UTF8String.fromString(surface)
    val ctx = if (r.isNullAt(11)) Seq.empty[String] else r.getSeq[String](11)
    var best: LinkCand = null
    var bestScore = 0
    cands.foreach { c =>
      // the kernel of Spark's 3-arg `levenshtein`: a length-difference
      // reject plus a banded DP, -1 beyond the threshold
      val lev = surf.levenshteinDistance(c.alias, 4)
      if (lev >= 0) {
        val typeMatch =
          (neType != null && neType == c.entityType) ||
            (neRoot != null && neRoot == c.typeRoot)
        // context disambiguation against the *canonical* name, not just
        // the matched alias: a surname-only mention in a sentence that
        // spells the full name scores highest for the right entity
        val score = (if (lev == 0) 8 else 0) + (4 - lev) +
          (if (typeMatch) 3 else 0) + c.canonToks.count(ctx.contains)
        if (best == null || score > bestScore ||
            (score == bestScore && c.idBytes.binaryCompare(best.idBytes) > 0)) {
          best = c; bestScore = score
        }
      }
    }
    val entityId =
      if (best != null) best.entityId
      else if (surface == null) null
      else "nil:" + surface
    Row(r.get(0), if (best == null) null else Integer.valueOf(bestScore),
      r.get(1), r.get(2), r.get(3), r.get(4), r.get(5), r.get(6), r.get(7),
      neType, surface, entityId)
  }

  // ------------------------------------------------------------------
  // Stage 3: canonicalization — connected components over alias edges
  // (iterated DataFrame self-joins to a fixpoint; no RDD/GraphX, per
  //  input_hint — SURVEY.md §2.9)
  // ------------------------------------------------------------------

  /** Round budget of [[connectedComponents]]. */
  private val CcMaxRounds = 20

  /** Minimum-label propagation (hash-to-min) over an undirected edge
    * set. Returns (node, component) where component = min node id in the
    * component. Edge sets here are alias clusters: tiny diameter, so the
    * fixpoint converges in a handful of rounds (at most [[CcMaxRounds]]);
    * each round's lineage is truncated via [[Lineage.chk]].
    */
  def connectedComponents(edges: DataFrame): DataFrame = {
    val spark = edges.sparkSession
    // undirected, distinct edge set (the only wide dep on the full input)
    val und = Lineage.chk(edges.select(col("src"), col("dst"))
      .union(edges.select(col("dst").as("src"), col("src").as("dst")))
      .distinct())

    var labels = Lineage.chk(und.select(col("src").as("node")).distinct()
      .withColumn("comp", col("node")))

    var iter = 0
    var converged = false
    try {
      while (iter < CcMaxRounds && !converged) {
        // (loop body below; non-convergence fails LOUD after the loop —
        // silently returning split components would corrupt canonical ids)
        val viaNeighbor = und
          .join(labels.withColumnRenamed("node", "dst")
                      .withColumnRenamed("comp", "ncomp"), Seq("dst"))
          .groupBy(col("src").as("node"))
          .agg(min(col("ncomp")).as("ncomp"))
        val next = Lineage.chk(labels.join(viaNeighbor, Seq("node"), "left")
          .select(col("node"),
            least(col("comp"), coalesce(col("ncomp"), col("comp"))).as("comp")))
        val changed = next.as("n").join(labels.as("o"), Seq("node"))
          .where(col("n.comp") =!= col("o.comp")).limit(1).count()
        // `next` is eagerly materialized by Lineage.chk and `changed`
        // has been computed, so the superseded round's checkpoint files
        // are now garbage — drop them here instead of leaking one
        // directory per round into durable storage (ADVICE r3)
        Lineage.dropCheckpointFiles(spark, Lineage.checkpointFileOf(labels))
        labels = next
        converged = changed == 0
        iter += 1
      }
    } finally Lineage.dropCheckpointFiles(spark, Lineage.checkpointFileOf(und))
    if (!converged) throw new IllegalStateException(
      s"connectedComponents did not converge in $CcMaxRounds rounds — " +
        "component diameter exceeds the iteration budget (min-label " +
        "propagation needs ~diameter rounds)")
    labels
  }

  /** Build alias edges from linked mentions + the KB itself, run CC, and
    * return (entity_id, canon_id).
    *
    * Ambiguity guard: an alias string shared by *multiple* entities (a
    * bare surname, a one-word org prefix) must not act as a merge bridge.
    * An alias may create edges when it points to exactly one entity, or
    * to exactly two KB entities that share the same canonical name (the
    * duplicate-source case — e.g. the same org ingested from two feeds).
    * Two genuinely distinct entities that happen to share a surface (two
    * people named "J Smith", or an entity plus a `nil:` cluster) never
    * bridge.
    */
  def canonicalize(spark: SparkSession, linked: DataFrame,
                   kbAliases: DataFrame): DataFrame =
    canonicalize(spark, linked, kbAliases, ccCollectThreshold)

  /** [[canonicalize]] at a given edge budget (< 0: distributed). */
  private[pipeline] def canonicalize(spark: SparkSession, linked: DataFrame,
                                     kbAliases: DataFrame,
                                     collectThreshold: Int): DataFrame =
    canonFromEdges(spark, aliasEdges(linked, kbAliases), kbAliases,
      collectThreshold)

  /** The distinct alias-edge evidence set a `linked` frame contributes:
    * KB-internal (entity ↔ each KB alias) plus observed
    * (entity ↔ linked surface). Bounded by the alias VOCABULARY, not
    * the corpus — repeat mentions collapse in the map-side partial
    * distinct. This pre-bridgeability set is what [[CanonState]]
    * persists: bridgeability must be re-decided over the UNION (a
    * previously unambiguous alias can become ambiguous when later
    * batches attach a second entity to it), so filtering before
    * persisting would bake stale decisions into the state.
    */
  def aliasEdges(linked: DataFrame, kbAliases: DataFrame): DataFrame = {
    val kbEdges = kbAliases.select(
      col("entity_id").as("src"),
      concat(lit("alias:"), col("alias_norm")).as("dst"))
    val obsEdges = linked.select(
      col("entity_id").as("src"),
      concat(lit("alias:"), col("surface_norm")).as("dst"))
    kbEdges.union(obsEdges).distinct()
  }

  /** Canonical map from a distinct alias-edge set: bridgeability filter,
    * connected components, min-entity representative. See
    * [[canonicalize]] for the ambiguity-guard semantics.
    *
    * The edge set is bounded by the alias vocabulary (KB-scale), not by
    * the corpus: [[LocalPath.decide]] picks [[canonOnDriver]] or
    * [[canonDistributed]] against `collectThreshold`.
    */
  private[pipeline] def canonFromEdges(spark: SparkSession,
                                       allEdges0: DataFrame,
                                       kbAliases: DataFrame,
                                       collectThreshold: Int): DataFrame =
    LocalPath.decide(allEdges0.select("src", "dst"), collectThreshold,
      StructType(Seq(StructField("entity_id", StringType),
        StructField("canon_id", StringType))))(rows =>
      Some(canonOnDriver(rows, kbAliases)))(
      canonDistributed(spark, allEdges0, kbAliases))

  /** [[canonFromEdges]] on the driver: the bridgeability counts of
    * [[canonDistributed]], then [[LocalGraph.components]] over the
    * bridging edges. Names get dense ids in UTF-8 byte order
    * ([[LocalSets.rank]], Spark's `min` on strings), so the first entity
    * met in a component is its min entity id; the counts run over the
    * edges packed `dst << 32 | src`, sorted and deduplicated.
    */
  private def canonOnDriver(rows: Array[Row], kbAliases: DataFrame)
      : Seq[Row] = {
    // a projection of the KB's local relation: no job
    val kb = kbAliases.select("entity_id", "canonical").collect()
      .filter(!_.isNullAt(0))
    val edges = rows.filter(r => !r.isNullAt(0) && !r.isNullAt(1))
    // aliases a NULL source names too: it counts as a source with no KB row
    val nilNamed = rows.filter(r => r.isNullAt(0) && !r.isNullAt(1))
      .map(_.get(1)).toSet
    val e = edges.length
    val (id, byId) = LocalSets.rank(
      edges.map(_.get(0)) ++ edges.map(_.get(1)) ++ kb.map(_.get(0)), StringType)
    val n = byId.length
    // per name: its one canonical, `mixed` for a NULL one or several,
    // null without a KB row
    val (canon, mixed) = (new Array[Any](n), new AnyRef)
    for (i <- kb.indices) {
      val (v, c) = (id(2 * e + i), kb(i).getString(1))
      canon(v) = if (c == null || canon(v) != null && canon(v) != c) mixed else c
    }
    val keys = new Array[Long](e)
    for (i <- 0 until e) keys(i) = id(e + i).toLong << 32 | id(i)
    java.util.Arrays.sort(keys)
    var m = 0
    for (i <- 0 until e if m == 0 || keys(i) != keys(m - 1)) {
      keys(m) = keys(i); m += 1
    }
    def dst(k: Long) = (k >>> 32).toInt
    def src(k: Long) = k.toInt
    // an alias bridges when one entity names it, or two KB entities with
    // the same canonical and no NULL source
    val bridges = new Array[Boolean](n)
    var i = 0
    while (i < m) {
      var j = i + 1
      while (j < m && dst(keys(j)) == dst(keys(i))) j += 1
      val (a, b) = (canon(src(keys(i))), canon(src(keys(j - 1))))
      bridges(dst(keys(i))) = j - i == 1 || (j - i == 2 && a != null &&
        a != mixed && a == b && !nilNamed(byId(dst(keys(i)))))
      i = j
    }
    val kept = keys.take(m).filter(k => bridges(dst(k)))
    val comp = LocalGraph.dense(n, kept.map(src), kept.map(dst)).components
    val used = new Array[Boolean](n)
    kept.foreach { k => used(src(k)) = true; used(dst(k)) = true }
    val canonOfComp = new Array[Any](n)
    for (v <- 0 until n if used(v) &&
           !byId(v).asInstanceOf[String].startsWith("alias:")) yield {
      if (canonOfComp(comp(v)) == null) canonOfComp(comp(v)) = byId(v)
      Row(byId(v), canonOfComp(comp(v)))
    }
  }

  /** [[canonFromEdges]] above the collect threshold: a distributed
    * bridgeability aggregate, the connected-components fixpoint and a
    * checkpointed representative map.
    */
  private def canonDistributed(spark: SparkSession, allEdges0: DataFrame,
                               kbAliases: DataFrame): DataFrame = {
    // consumed twice (ambiguity stats + the bridgeable join). persist()
    // returns the SAME Dataset, so blindly unpersisting at the end
    // would also drop a cache the CALLER owns (canonicalizeWithState
    // persists the merged edge set for CanonState.save to reuse) —
    // only manage the cache here when the caller didn't.
    val callerCached =
      allEdges0.storageLevel != org.apache.spark.storage.StorageLevel.NONE
    val allEdges =
      if (callerCached) allEdges0
      else allEdges0
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // Per-alias ambiguity stats, with each source joined (broadcast,
    // KB-sized) to its canonical name; nil:* sources have no canonical.
    val srcCanon = kbAliases.select(col("entity_id").as("src"),
      col("canonical")).distinct()
    val bridgeable = allEdges
      .join(broadcast(srcCanon), Seq("src"), "left")
      .groupBy("dst")
      .agg(countDistinct(col("src")).as("n"),
           countDistinct(col("canonical")).as("n_canon"),
           count(when(col("canonical").isNull, 1)).as("n_nil"))
      .where(col("n") === 1 ||
        (col("n") === 2 && col("n_nil") === 0 && col("n_canon") === 1))
      .select("dst")
    val comps = connectedComponents(
      allEdges.join(bridgeable, Seq("dst")).select("src", "dst"))

    // canonical representative: the min *entity* id in the component
    val entities = comps.where(!col("node").startsWith("alias:"))
    val out0 = broadcast(entities.groupBy("comp").agg(min(col("node")).as("canon_id")))
      .join(entities, Seq("comp"))
      .select(col("node").as("entity_id"), col("canon_id"))
    // chk is eager, so once `pinned` exists the CC labels' checkpoint
    // (out0's only upstream checkpoint) is garbage. `pinned`'s own
    // checkpoint is caller-owned: it backs the returned frame for the
    // rest of the run and is reclaimed with the checkpoint dir (or by
    // spark.cleaner.referenceTracking.cleanCheckpoints=true).
    val pinned = Lineage.chk(out0)
    Lineage.dropCheckpointFiles(spark, Lineage.checkpointFileOf(comps))
    if (!callerCached) allEdges.unpersist()
    pinned
  }

  /** At most this many distinct alias edges are canonicalized on the
    * driver; above it, the distributed fixpoint runs. Set from
    * `GraphCrossover canon` (test sources; records in
    * `BENCH/graph-kernel/crossover/crossover-canon-25k-1m.jsonl`):
    * [[canonFromEdges]] on seeded alias graphs of 22.7k to 907k edges
    * (string ids, about four alias edges per entity, pairs of entities
    * merged by a shared alias), `local[4]` with 4 shuffle partitions
    * on a 4-core host, 3 interleaved repetitions per size.
    *   - The driver path was 3-12x faster at every size: median 0.43
    *     against 5.33 s at 22.7k edges, 3.13 against 13.95 s at 199k,
    *     4.18 against 16.79 s at 363k, 12.44 against 37.83 s at 907k.
    *   - It allocated 2.0-2.2 KB per edge on the calling thread (420 MB
    *     at 199k edges, 709 MB at 363k); 1.3 KB on dense ids (266 and
    *     453 MB; `BENCH/local-path/`).
    *   - Above the budget the limit-collect pass (then at 100,000) cost
    *     +12% at 199k edges (15.62 against 13.95 s), none at 363k and
    *     +7% at 907k (40.47 against 37.83 s).
    * PageRank's rule (the largest measured size at which the driver
    * path is not slower and allocates under half a gigabyte) gives
    * 200,000.
    */
  val ccCollectThreshold: Int = 200000

  // ------------------------------------------------------------------
  // Stage 4: triple materialization (O5)
  // ------------------------------------------------------------------

  /** (subj, pred, obj) + provenance:
    *   (repo/path#sent:span, hasEntity, canonId)
    *   (canonId, hasType, neType)
    */
  def triples(linked: DataFrame, canon: DataFrame): DataFrame = {
    // canon is KB-sized -> broadcast; the corpus-sized `linked` side
    // never shuffles for this join
    val withCanon = linked.join(broadcast(canon), Seq("entity_id"), "left")
      .withColumn("canon_id", coalesce(col("canon_id"), col("entity_id")))
    val mentionTriples = withCanon.select(
      // '#' in repo/path is %-escaped so the span suffix after '#' is
      // unambiguous; '/' is left alone (subjects are opaque provenance
      // ids — "org/repo/dir/file" reads naturally and is never parsed
      // back component-wise)
      concat(sepEscaped(col("repo")), lit("/"), sepEscaped(col("path")),
        lit("#"),
        col("sentIdx"), lit(":"), col("begin"), lit("-"), col("end")).as("subj"),
      lit("hasEntity").as("pred"),
      col("canon_id").as("obj"),
      col("repo").as("src_repo"), col("path").as("src_path"),
      col("commit").as("src_commit"))
    val typeTriples = withCanon.select(
      col("canon_id").as("subj"),
      lit("hasType").as("pred"),
      col("neType").as("obj"),
      col("repo").as("src_repo"), col("path").as("src_path"),
      col("commit").as("src_commit"))
      // a wide op, deliberately: repeat mentions of one entity in one
      // file all emit the identical type-triple row, so the map-side
      // partial dedup collapses them before the exchange (mentions of a
      // file are co-partitioned) — shuffle volume ≈ distinct
      // (entity, type, file) rows, typically 5–10x smaller than the
      // mention count, and the write downstream shrinks by the same
      // factor. Dropping provenance here would shrink it further but
      // change the output contract.
      .distinct()
    mentionTriples.unionByName(typeTriples)
  }

  // NOTE: skew handling for the triple write lives inside
  // TableIO.writeResumable (an AQE rebalance on _bucket, which splits a
  // hot bucket); a standalone pre-shuffle here was removed — the
  // writer's own exchange discarded it, doubling the biggest shuffle.

  /** KG integrity audit — the QA pass a construction pipeline runs over
    * its OWN output before publishing a table (and the first thing a
    * consumer runs over a table it didn't build). Ten metrics over any
    * frame carrying (`subj`, `pred`, `obj`) in the [[triples]]
    * convention (`hasEntity` mention→canon-id, `hasType`
    * canon-id→type):
    *
    *   - `triples_total` / `mention_triples` / `type_triples` — volume;
    *   - `entities_referenced` / `entities_typed` — vocabulary sizes;
    *   - `dangling_entities` — canon ids referenced by a mention but
    *     never typed (broken by partial rebuilds / bad retractions; a
    *     correct [[run]] emits ZERO, which PipelineSpec gates);
    *   - `orphan_typed_entities` — typed but never referenced (stale
    *     type rows a retraction should have removed);
    *   - `multi_typed_entities` — canon ids carrying >1 distinct type
    *     (alias-bridge damage: two real-world entities merged);
    *   - `duplicate_triples` — exact duplicate ROWS over every column
    *     of the given frame (idempotence violations in the writer);
    *   - `null_key_triples` — rows with a NULL subj/pred/obj. Counted
    *     explicitly AND excluded from every id set: a NULL id is
    *     malformed, and leaving it in would also make the set metrics
    *     engine-dependent (SQL `NOT IN` drops NULL probes, a Spark
    *     anti-join keeps them).
    *
    * EAGER: metrics are computed here and returned as a 10-row local
    * frame. Two paths over the whole frame ([[LocalPath.decide]])
    * against [[tripleCollectThreshold]].
    *   - Within it, when `subj`, `pred` and `obj` are strings and every
    *     column's type groups in Spark as `Row` equality compares
    *     ([[LocalTriples.groupsLikeRow]]), [[LocalTriples.audit]]
    *     computes all ten metrics in one pass over the collected rows.
    *   - Otherwise two scans of the table (guide §1.2 "don't compute
    *     things you throw away", §2.3 "aggregate before you shuffle"):
    *     1. one full-row `groupBy(*).count` pass — the exchange carries
    *        exactly what `distinct()` carried (the duplicate metric IS a
    *        full-width dedup), and the volume metrics (total / mention /
    *        type / null-key counts) ride the SAME pass as weighted
    *        conditional sums over the deduped rows;
    *     2. one pruned scan deriving both id sets, collapsed per id into
    *        (referenced?, n-distinct-types) flags by a single partial-agg
    *        friendly aggregation — the five id-set metrics (referenced /
    *        typed / dangling / orphan / multi-typed) are then ONE final
    *        aggregate over the flags, with no persist and no anti-join.
    * Both paths apply the same id-set filter and null-key exclusion.
    */
  def kgAudit(spark: SparkSession, triples: DataFrame): DataFrame =
    kgAudit(spark, triples, tripleCollectThreshold)

  /** [[kgAudit]] with its row budget given ([[LocalPath.decide]]). */
  private[graft] def kgAudit(spark: SparkSession, triples: DataFrame,
                             collectThreshold: Int): DataFrame = {
    val fields = triples.schema
    def metrics(v: Array[Long]) = AuditMetrics.zip(v).map(Row.fromTuple)
    def distributed = LocalPath.emit(spark, AuditSchema,
      metrics(auditDistributed(triples)))
    if (!LocalTriples.hasStringKeys(triples) ||
        !fields.forall(f => LocalTriples.groupsLikeRow(f.dataType))) distributed
    else LocalPath.decide(triples, collectThreshold, AuditSchema)(rows =>
      Some(metrics(LocalTriples.audit(rows, fields.fieldIndex("subj"),
        fields.fieldIndex("pred"), fields.fieldIndex("obj")))))(distributed)
  }

  private val AuditMetrics = Seq("triples_total", "mention_triples",
    "type_triples", "entities_referenced", "entities_typed",
    "dangling_entities", "orphan_typed_entities", "multi_typed_entities",
    "duplicate_triples", "null_key_triples")

  private val AuditSchema = StructType(Seq(StructField("metric", StringType),
    StructField("value", LongType, nullable = false)))

  /** [[kgAudit]]'s ten metric values, in its order, from two Spark scans. */
  private def auditDistributed(triples: DataFrame): Array[Long] = {
    val nullKey = col("subj").isNull || col("pred").isNull ||
      col("obj").isNull
    // pass 1: full-width dedup + volume metrics in one aggregation.
    // groupBy over every column shuffles the distinct rows (what the
    // duplicate metric means); each group's multiplicity `n` weights
    // the conditional sums so totals equal the raw-row counts.
    val allCols = triples.columns.map(col).toSeq
    val r1 = triples
      .groupBy(allCols: _*)
      .agg(count(lit(1)).as("n"))
      .agg(
        coalesce(sum(col("n")), lit(0L)).as("total"),
        count(lit(1)).as("n_distinct"),
        coalesce(sum(when(col("pred") === "hasEntity", col("n"))), lit(0L))
          .as("mentions"),
        coalesce(sum(when(col("pred") === "hasType", col("n"))), lit(0L))
          .as("types"),
        coalesce(sum(when(nullKey, col("n"))), lit(0L)).as("nullkeys"))
      .collect()(0)
    // pass 2: both id sets from ONE pruned scan (hasEntity contributes
    // its object, hasType its subject + type), folded per id into
    // (referenced?, distinct-type count) and aggregated once. The
    // countDistinct's internal dedup replaces round 6's explicit
    // distinct() over (pred, id, tp).
    val r2 = triples
      .where((col("pred") === "hasEntity" || col("pred") === "hasType") &&
        !nullKey)
      .select(col("pred"),
        when(col("pred") === "hasEntity", col("obj"))
          .otherwise(col("subj")).as("id"),
        when(col("pred") === "hasType", col("obj")).as("tp"))
      .groupBy("id")
      .agg(
        max(when(col("pred") === "hasEntity", 1).otherwise(0)).as("refd"),
        countDistinct(col("tp")).as("n_types"))
      .agg(
        coalesce(sum(col("refd")), lit(0L)).as("referenced"),
        count(when(col("n_types") > 0, 1)).as("typed"),
        count(when(col("refd") === 1 && col("n_types") === 0, 1))
          .as("dangling"),
        count(when(col("refd") === 0 && col("n_types") > 0, 1))
          .as("orphan"),
        count(when(col("n_types") > 1, 1)).as("multi"))
      .collect()(0)
    Array(r1.getLong(0), r1.getLong(2), r1.getLong(3), r2.getLong(0),
      r2.getLong(1), r2.getLong(2), r2.getLong(3), r2.getLong(4),
      r1.getLong(0) - r1.getLong(1), r1.getLong(4))
  }

  /** Greedy most-selective-first pattern order (package-visible for the
    * spec): start from the most-bound pattern, then repeatedly take
    * the most-bound pattern CONNECTED to the variables bound so far,
    * falling back to the most-bound disconnected pattern (a cross
    * product) only when no connected pattern remains. Ties break on
    * caller order, so the plan is deterministic.
    */
  private[graft] def orderPatterns(patterns: Seq[(String, String, String)])
      : Seq[(String, String, String)] = {
    def isVar(t: String) = t.startsWith("?")
    def vars(p: (String, String, String)): Set[String] =
      Seq(p._1, p._2, p._3).filter(isVar).toSet
    def bound(p: (String, String, String)): Int =
      Seq(p._1, p._2, p._3).count(t => !isVar(t))
    val remaining = scala.collection.mutable.ArrayBuffer(
      patterns.zipWithIndex: _*)
    val out = scala.collection.mutable.ArrayBuffer
      .empty[(String, String, String)]
    var boundVars = Set.empty[String]
    while (remaining.nonEmpty) {
      val connected = remaining.filter { case (p, _) =>
        (vars(p) & boundVars).nonEmpty }
      val pool = if (out.nonEmpty && connected.nonEmpty) connected
                 else remaining
      val pick = pool.minBy { case (p, i) => (-bound(p), i) }
      remaining -= pick
      out += pick._1
      boundVars ++= vars(pick._1)
    }
    out.toSeq
  }

  /** The output column order the CALLER's pattern sequence implies (the
    * round-6 contract), shared by both [[matchPattern]] paths: replay the
    * original reduce's accumulation exactly — each pattern contributes
    * its variables name-sorted, and a using-columns join puts the shared
    * columns first, then the accumulator's others, then the new frame's
    * others.
    */
  private def bindingColumns(patterns: Seq[(String, String, String)])
      : Seq[String] =
    patterns
      .map { case (s, p, o) =>
        Seq(s, p, o).filter(_.startsWith("?")).map(_.stripPrefix("?"))
          .distinct.sorted }
      .reduce { (accCols, nextCols) =>
        val shared = accCols.intersect(nextCols)
        if (shared.nonEmpty)
          shared ++ accCols.diff(shared) ++ nextCols.diff(shared)
        else accCols ++ nextCols
      }

  /** Evaluate a basic graph pattern (the SPARQL-BGP shape) over a
    * triple frame — the consumer-side QUERY layer a KG-construction
    * engine stops one step short of useful without. Each pattern is a
    * (subj, pred, obj) template: a term starting with `?` is a
    * variable, anything else a bound literal. Returns the DISTINCT
    * variable bindings, one column per variable (name without the
    * `?`), evaluated as: per-pattern filtered scans of the triple
    * table, then hash joins on shared variables.
    *
    * Semantics notes:
    *   - a variable repeated WITHIN one pattern (`(?x, p, ?x)`) adds an
    *     equality filter on that pattern's scan;
    *   - patterns sharing no variable with what precedes them compose
    *     as a cross product (legal SPARQL);
    *   - set semantics: bindings are DISTINCT (the cross-engine
    *     hashable contract; SPARQL's default bag semantics would make
    *     the result depend on join multiplicities);
    *   - a variable never binds NULL: null-key triples (the kgAudit
    *     defect class) match no pattern, in single- and multi-pattern
    *     queries alike.
    *
    * Join ORDER is chosen by the engine (r7, VERDICT r6 #5), not by
    * the pattern order the caller wrote: patterns are joined
    * most-selective-first, estimating selectivity from bound-position
    * counts (2 bound terms ≪ 1 ≪ 0 — the standard BGP static
    * heuristic), and a pattern sharing a variable with the bound-so-far
    * set is always preferred over opening a cross product. Inner joins
    * plus the final DISTINCT make the binding SET independent of join
    * order, and the output columns are projected back into the order
    * the caller's pattern sequence implies — results are byte-identical
    * to the round-6 caller-order evaluation ([[orderPatterns]] is
    * unit-pinned; q91 is oracle-pinned).
    *
    * Two paths over the `(subj, pred, obj)` rows ([[LocalPath.decide]])
    * against [[tripleCollectThreshold]].
    *   - Within it, for string columns, [[LocalTriples.bindings]]
    *     evaluates the patterns on the driver in the same join order,
    *     with the distributed plan's schema. If a join's bindings would
    *     pass the same budget (a cross product can), it declines and the
    *     distributed plan runs.
    *   - Otherwise each pattern is a column-pruned, filter-pushed scan
    *     of the same table (bound positions reach the parquet reader),
    *     and the joins hash-partition on the shared variable columns
    *     (canon-id strings — short by construction).
    */
  def matchPattern(triples: DataFrame,
                   patterns: Seq[(String, String, String)]): DataFrame =
    matchPattern(triples, patterns, tripleCollectThreshold)

  /** [[matchPattern]] with its row budget given ([[LocalPath.decide]]). */
  private[graft] def matchPattern(triples: DataFrame,
                                  patterns: Seq[(String, String, String)],
                                  collectThreshold: Int): DataFrame = {
    require(patterns.nonEmpty, "matchPattern needs at least one pattern")
    def isVar(t: String) = t.startsWith("?")
    patterns.foreach { case (s, p, o) =>
      require(Seq(s, p, o).exists(isVar),
        s"pattern ($s, $p, $o) binds no variable — a fully-ground " +
          "pattern is a containment CHECK, not a query; use a filter")
      Seq(s, p, o).filter(isVar).foreach(v =>
        require(v.length > 1, s"pattern ($s, $p, $o): bare '?' variable"))
    }
    def frame(pat: (String, String, String)): DataFrame = {
      val terms = Seq("subj" -> pat._1, "pred" -> pat._2, "obj" -> pat._3)
      var df = triples.select(col("subj"), col("pred"), col("obj"))
      terms.foreach { case (c, t) =>
        // a variable never binds NULL (SPARQL has no null term, and a
        // null binding would surface in single-pattern results yet
        // silently vanish through any join on that variable —
        // inconsistent semantics over exactly the null-key rows
        // kgAudit counts); a bound position's equality drops NULLs on
        // its own
        if (!isVar(t)) df = df.where(col(c) === t)
        else df = df.where(col(c).isNotNull)
      }
      val byVar = terms.filter(t => isVar(t._2)).groupBy(_._2).toSeq
        .sortBy(_._1)
      // same variable twice in one pattern = an intra-pattern equality
      byVar.foreach { case (_, occ) =>
        occ.map(_._1).sliding(2).foreach {
          case Seq(a, b) => df = df.where(col(a) === col(b))
          case _ => ()
        }
      }
      df.select(byVar.map { case (v, occ) =>
        col(occ.head._1).as(v.stripPrefix("?")) }: _*)
    }
    val columns = bindingColumns(patterns)
    val ordered = orderPatterns(patterns)
    val distributed = ordered.map(frame).reduce { (acc, next) =>
      val shared = acc.columns.intersect(next.columns).toSeq
      if (shared.nonEmpty) acc.join(next, shared)
      else acc.crossJoin(next)
    }.select(columns.map(col): _*).distinct()
    if (!LocalTriples.hasStringKeys(triples)) distributed
    else LocalPath.decide(triples.select(col("subj"), col("pred"), col("obj")),
      collectThreshold, distributed.schema)(
      LocalTriples.bindings(_, ordered, columns, collectThreshold))(distributed)
  }

  /** Percent-encode the characters an IRI cannot carry (RFC 3987 via
    * the N-Triples grammar's IRIREF exclusions): '%' FIRST so the
    * escapes themselves are never re-escaped, then space, `<>"{}|^`,
    * backtick, backslash, and the three nameable control chars. A
    * remaining C0 control character has no representation — refuse
    * loudly rather than emit a line no RDF parser will accept. All
    * static `replace` calls: whole-stage codegen, no lambda.
    */
  private def ntIriEscaped(c: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column = {
    val esc = Seq(
      "%" -> "%25", " " -> "%20", "<" -> "%3C", ">" -> "%3E",
      "\"" -> "%22", "{" -> "%7B", "}" -> "%7D", "|" -> "%7C",
      "^" -> "%5E", "`" -> "%60", "\\" -> "%5C",
      "\n" -> "%0A", "\r" -> "%0D", "\t" -> "%09")
      .foldLeft(c) { case (acc, (from, to)) =>
        replace(acc, lit(from), lit(to)) }
    // NULL must refuse like the control chars do — concat would
    // otherwise null the whole line and the text writer would emit a
    // silent blank line (data loss an exporter must never hide)
    when(c.isNull,
      raise_error(lit("ntriples: NULL id component — run kgAudit; " +
        "null-key triples cannot be serialized")))
      .when(esc.rlike("[\\x00-\\x1f]"),
        raise_error(concat(
          lit("ntriples: unencodable control character in id: "), esc)))
      .otherwise(esc)
  }

  /** N-Triples STRING_LITERAL_QUOTE escaping: backslash FIRST (the
    * other escapes introduce backslashes), then quote, LF, CR, tab.
    * Remaining raw control characters are invalid in the grammar —
    * loud refusal, same contract as [[ntIriEscaped]].
    */
  private def ntLiteralEscaped(c: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column = {
    val esc = Seq(
      "\\" -> "\\\\", "\"" -> "\\\"", "\n" -> "\\n",
      "\r" -> "\\r", "\t" -> "\\t")
      .foldLeft(c) { case (acc, (from, to)) =>
        replace(acc, lit(from), lit(to)) }
    when(c.isNull,
      raise_error(lit("ntriples: NULL literal — run kgAudit; " +
        "null-key triples cannot be serialized")))
      .when(esc.rlike("[\\x00-\\x1f]"),
        raise_error(concat(
          lit("ntriples: unencodable control character in literal: "), esc)))
      .otherwise(esc)
  }

  /** W3C N-Triples (RDF 1.1) serialization of the LOGICAL triple set —
    * the standards-interoperable export next to the parquet sink (O5):
    * one `line` per distinct (subj, pred, obj), subjects and entity
    * objects as `<urn:graft:…>` IRIs, `hasType` objects as string
    * literals. An RDF graph is a SET, so provenance columns are
    * dropped and rows deduped — the one wide op, and it is what the
    * format means; write with `.text(dir)` for spec-compliant `.nt`
    * part files. Escaping is total for everything UTF-8 can carry
    * except raw C0 controls, which fail loudly (tested); the common
    * case (ids over ordinary repo/path/commit values) escapes to
    * itself.
    *
    * The dedup has two paths ([[LocalPath.decide]]): within
    * [[tripleCollectThreshold]] string `(subj, pred, obj)` rows it runs
    * on the driver, otherwise Spark's `distinct()` runs. The same
    * escaping projection follows either path.
    */
  def ntriples(triples: DataFrame): DataFrame =
    ntriples(triples, tripleCollectThreshold)

  /** [[ntriples]] with its row budget given ([[LocalPath.decide]]). */
  private[graft] def ntriples(triples: DataFrame,
                              collectThreshold: Int): DataFrame = {
    val spo = triples.select(col("subj"), col("pred"), col("obj"))
    val set =
      if (!LocalTriples.hasStringKeys(triples)) spo.distinct()
      else LocalPath.decide(spo, collectThreshold, spo.schema)(rows =>
        Some(rows.distinct))(spo.distinct())
    set.select(concat(
        lit("<urn:graft:"), ntIriEscaped(col("subj")), lit("> "),
        lit("<urn:graft:pred:"), ntIriEscaped(col("pred")), lit("> "),
        when(col("pred") === "hasType",
          concat(lit("\""), ntLiteralEscaped(col("obj")), lit("\"")))
          .otherwise(
            concat(lit("<urn:graft:"), ntIriEscaped(col("obj")), lit(">"))),
        lit(" .")).as("line"))
  }

  /** The most rows [[kgAudit]], [[ntriples]] and [[matchPattern]] collect
    * and evaluate on the driver ([[LocalPath.decide]]; and the most
    * bindings a driver-side [[matchPattern]] join may build); q87, q89
    * and q91 build their
    * triple set on the driver within the same budget. Set from
    * `GraphCrossover triples` (test sources; records in
    * `BENCH/triple-set/crossover/`, three runs): seeded string triples
    * of 1k to 1M rows with two provenance columns, `local[4]` with 4
    * shuffle partitions on a 4-core host, medians of 3-7 interleaved
    * repetitions, driver against distributed:
    *   - the audit was faster at every size (0.09-0.15 against 0.40-0.65
    *     s up to 30k rows, 2.64 against 3.08 s at 1M), allocating 230 MB
    *     at 300k and 726 MB at 1M;
    *   - the q91 match was faster up to 20k (0.23 against 0.26 s), tied
    *     at 30k and slower from 100k (0.74 against 0.54 s);
    *   - the export was faster or tied up to 10k (0.26-0.28 against
    *     0.25-0.32 s in three runs) and slower from 15k in every run
    *     (0.31 against 0.23 s at 15k, 15.6 against 4.3 s and 3.1 GB at
    *     1M). It allocates 3-5 KB a line on the calling thread: the
    *     collected rows, their way back into a local relation, the
    *     escaping projection evaluated over it and the consumer's job
    *     shipping the lines to its tasks (not profiled apart).
    * PageRank's rule (the largest measured size at which every op's
    * driver path is not slower and allocates under half a gigabyte)
    * gives 10,000.
    */
  val tripleCollectThreshold: Int = 10000

  // ------------------------------------------------------------------
  // End-to-end
  // ------------------------------------------------------------------

  final case class Result(mentions: Dataset[MentionRow], linked: DataFrame,
                          canon: DataFrame, triples: DataFrame)

  /** Free everything a [[run]] Result pins: the persisted `linked`, the
    * cached `canon` AND, when the distributed fixpoint produced it, its
    * backing checkpoint — local blocks when the fixpoint fell back to
    * `localCheckpoint` (no checkpoint dir), the reliable checkpoint's
    * files otherwise (Spark never reclaims those itself unless
    * `cleanCheckpoints` is set). After release the Result's
    * frames are dead: a localCheckpoint truncates lineage, so they are
    * not recomputable — release means "done with this result".
    */
  def release(spark: SparkSession, r: Result,
              blocking: Boolean = false): Unit = {
    r.triples.unpersist(blocking)
    r.linked.unpersist(blocking)
    releaseCanon(spark, r.canon, blocking)
  }

  def run(spark: SparkSession, files: Dataset[RepoFile],
          model: NerfModel): Result = {
    val ments = detectMentions(spark, files, model)
    val kb = kbAliasDf(spark, Synth.knowledgeBase)
    // linked feeds BOTH canonicalization and triple materialization —
    // persist it or the whole NER+link DAG runs twice (spills to disk
    // if executors are tight; at cluster scale this is the natural
    // stage boundary to checkpoint)
    val linked = linkMentions(spark, ments, kb)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // canon is already materialized, as a local relation or a
    // checkpoint: caching it would only add a job
    val canon = canonicalize(spark, linked, kb)
    Result(ments, linked, canon, triples(linked, canon))
  }

  /** Changed files whose NEW content yields ZERO triples (an edit that
    * removed every entity mention, or emptied the file) contribute no
    * upsert keys — without an explicit delete their STALE triples would
    * survive the merge. Returns those vacated keys (the anti-join keeps
    * them disjoint from the upsert keys, as mergeBuckets' ambiguity
    * fail-fast requires; delta-sized frames throughout).
    */
  private def vacatedFiles(changed: Dataset[RepoFile],
                           trip: DataFrame): DataFrame =
    changed.toDF()
      .select(col("repo").as("src_repo"), col("path").as("src_path"))
      .distinct()
      .join(trip.select("src_repo", "src_path").distinct(),
        Seq("src_repo", "src_path"), "left_anti")

  // ------------------------------------------------------------------
  // Incremental canonicalization (persisted evidence -> exact parity)
  // ------------------------------------------------------------------

  /** Incremental canonicalization output: the canonical map over ALL
    * evidence ever ingested, the canon-id remap the table must be
    * reconciled with (`old_id -> new_id`, empty on the first batch or
    * when nothing drifted), and the merged edge set to persist once the
    * table is consistent.
    */
  final case class CanonDelta(canon: DataFrame, remap: DataFrame,
                              edges: DataFrame)

  /** Canonicalize a DELTA's linked mentions against persisted evidence
    * ([[CanonState]]): union the delta's alias edges with the stored
    * set, re-decide bridgeability and components over the union. Exact
    * by construction — distinct edge-set union is associative, so the
    * result equals a full canonicalization over every batch ever
    * ingested, at KB-scale cost (the edge set never grows with the
    * corpus, only with the alias vocabulary).
    *
    * Fails LOUD on a canonical SPLIT (entities sharing an old canon id
    * diverging under new evidence — an alias crossing the ambiguity
    * threshold can sever a bridge): written triples carry only the
    * canon id, not the originating entity, so a split cannot be
    * reconciled from the table alone; re-materialize triples for the
    * affected files (the periodic-full-rebuild path). Splits need an
    * evidence RETRACTION or an ambiguity flip — merges, the common
    * case as a corpus grows, reconcile exactly via [[reconcileCanon]].
    *
    * The caller persists `edges`+`canon` via [[CanonState.save]] only
    * AFTER the table is reconciled ([[mergeDeltaCanonical]] ordering):
    * a crash mid-maintenance then re-runs from the OLD state, and every
    * step is idempotent (edge union, keyed upsert, remap join).
    */
  def canonicalizeWithState(spark: SparkSession, linked: DataFrame,
                            kbAliases: DataFrame,
                            stateDir: String): CanonDelta =
    canonicalizeWithState(spark, linked, kbAliases, stateDir,
      ccCollectThreshold)

  /** [[canonicalizeWithState]] at a given edge budget. */
  private[pipeline] def canonicalizeWithState(spark: SparkSession,
                                              linked: DataFrame,
                                              kbAliases: DataFrame,
                                              stateDir: String,
                                              collectThreshold: Int)
      : CanonDelta = {
    val deltaEdges = aliasEdges(linked, kbAliases)
    val merged = CanonState.loadEdges(spark, stateDir) match {
      case Some(prior) => prior.unionByName(deltaEdges).distinct()
      case None => deltaEdges
    }
    // consumed by canonFromEdges AND persisted by the caller afterwards;
    // on ANY abort below (the split refusal is an expected, recoverable
    // failure whose full-rebuild recovery runs in the same session) the
    // persisted edges and the canon checkpoint are released before the
    // throw — a long-lived caller (StreamingKg) must not accumulate
    // pinned blocks or durable checkpoint files per refused batch
    val edges = merged
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val canon =
      try canonFromEdges(spark, edges, kbAliases, collectThreshold)
      catch { case t: Throwable => edges.unpersist(); throw t }
    val remap = try { CanonState.loadCanon(spark, stateDir) match {
      case Some(oldCanon) =>
        val j = oldCanon.select(col("entity_id"),
            col("canon_id").as("old_id"))
          .join(canon.select(col("entity_id"),
            col("canon_id").as("new_id")), Seq("entity_id"))
        val drift = j.where(col("old_id") =!= col("new_id"))
          .select("old_id", "new_id").distinct()
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        // split detection must see UNCHANGED members too: a cluster
        // where one entity keeps old_id as its canon while another
        // moves away is a split even though only one row drifts.
        // (guarded: a transient failure of the detection job itself
        // must not leave the just-persisted drift frame pinned)
        val split =
          try j.groupBy("old_id")
            .agg(countDistinct(col("new_id")).as("n"))
            .where(col("n") > 1).limit(3).collect()
          catch { case t: Throwable => drift.unpersist(); throw t }
        if (split.nonEmpty) {
          drift.unpersist()
          throw new IllegalStateException(
            "canonical SPLIT under new evidence (old canon ids " +
              split.map(_.getString(0)).mkString(", ") +
              " now map to multiple representatives) — written triples " +
              "cannot be reconciled in place; re-materialize triples " +
              "for the affected files (full rebuild path)")
        }
        drift
      case None =>
        import spark.implicits._
        Seq.empty[(String, String)].toDF("old_id", "new_id")
    } } catch { case t: Throwable =>
      edges.unpersist()
      releaseCanon(spark, canon)
      throw t
    }
    CanonDelta(canon, remap, edges)
  }

  /** Rewrite a committed triples table under a canon-id remap
    * (`old_id -> new_id`, a function — [[canonicalizeWithState]]
    * refuses splits). One read of the table, two broadcast hash joins
    * (the remap is KB-scale) to find drifted rows, then a keyed upsert
    * that rewrites ONLY the buckets of affected files; everything else
    * stays byte-identical. `hasType` rows re-dedupe within the upsert —
    * two entities merging can collapse their type triples into one row,
    * matching what a full re-run emits.
    */
  def reconcileCanon(spark: SparkSession, triplesDir: String, buckets: Int,
                     remap: DataFrame): graft.io.TableIO.MergeReport = {
    val t = graft.io.TableIO.readCommitted(spark, triplesDir, buckets)
    val objMap = remap.select(col("old_id").as("obj"),
      col("new_id").as("obj_new"))
    val subjMap = remap.select(col("old_id").as("subj"),
      col("new_id").as("subj_new"))
    val mapped = t
      .join(broadcast(objMap), Seq("obj"), "left")
      .join(broadcast(subjMap), Seq("subj"), "left")
      .withColumn("obj2", when(col("pred") === "hasEntity",
        coalesce(col("obj_new"), col("obj"))).otherwise(col("obj")))
      .withColumn("subj2", when(col("pred") === "hasType",
        coalesce(col("subj_new"), col("subj"))).otherwise(col("subj")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val affectedFiles = mapped
        .where(col("obj2") =!= col("obj") || col("subj2") =!= col("subj"))
        .select("src_repo", "src_path").distinct()
      val upserts = mapped
        .join(affectedFiles, Seq("src_repo", "src_path"), "left_semi")
        .select(col("subj2").as("subj"), col("pred"), col("obj2").as("obj"),
          col("src_repo"), col("src_path"), col("src_commit"))
        .distinct()
      graft.io.TableIO.mergeBuckets(spark, triplesDir, buckets,
        bucketCols = Seq("src_repo", "src_path"),
        keyCols = Seq("src_repo", "src_path"),
        upserts = upserts)
    } finally mapped.unpersist()
  }

  /** Incremental KG maintenance with persisted canonicalization
    * ([[CanonState]]) — merge a DELTA of repository files into a
    * committed triples table ([[graft.KgMain]]'s layout: buckets on
    * (src_repo, src_path)). Changed files REPLACE every triple they
    * previously contributed (file-level upsert — each triple row is
    * owned by its provenance file), a changed file with no triples left
    * retracts its old ones, and NER cost is ∝ delta, not corpus;
    * [[graft.io.TableIO.mergeBuckets]] rewrites exactly the buckets the
    * touched files route to. The delta's triples are materialized under
    * the GLOBAL canonical map (all evidence ever ingested, not just this
    * batch's), and previously-written triples whose canon ids drifted
    * are reconciled in place — the committed table always equals a full
    * pipeline re-run over the union of every batch's files (a
    * retraction removes triples but not alias evidence; see
    * [[CanonState]]).
    *
    * Crash ordering: delta merge, then reconcile, then state save —
    * each idempotent, so re-running after a crash at any boundary
    * converges to the same table and state.
    *
    * Returns (delta merge report, reconcile report): `reconcile` is
    * a no-op report when nothing drifted.
    */
  def mergeDeltaCanonical(spark: SparkSession, triplesDir: String,
                          buckets: Int, changed: Dataset[RepoFile],
                          model: NerfModel, stateDir: String)
      : (graft.io.TableIO.MergeReport, graft.io.TableIO.MergeReport) = {
    val ments = detectMentions(spark, changed, model)
    val kb = kbAliasDf(spark, Synth.knowledgeBase)
    val linked = linkMentions(spark, ments, kb)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // canonicalizeWithState releases its own frames if it aborts (e.g.
    // the split refusal), so only `linked` needs guarding around it
    try {
      val cd = canonicalizeWithState(spark, linked, kb, stateDir)
      try {
        val trip = triples(linked, cd.canon)
        val deltaReport = graft.io.TableIO.mergeBuckets(spark, triplesDir,
          buckets, bucketCols = Seq("src_repo", "src_path"),
          keyCols = Seq("src_repo", "src_path"),
          upserts = trip,
          deleteKeys = Some(vacatedFiles(changed, trip)))
        val hasDrift = !cd.remap.isEmpty
        val reconcileReport =
          if (hasDrift) reconcileCanon(spark, triplesDir, buckets, cd.remap)
          else graft.io.TableIO.MergeReport(Seq.empty, 0L, 0L, 0L, 0L, 0L,
            Seq.empty)
        CanonState.save(spark, stateDir, cd.edges, cd.canon)
        (deltaReport, reconcileReport)
      } finally {
        cd.remap.unpersist()
        cd.edges.unpersist()
        releaseCanon(spark, cd.canon)
      }
    } finally linked.unpersist()
  }

  /** Free a canonical map returned by [[canonFromEdges]]: cache blocks
    * plus, for a distributed-path map, the backing checkpoint (a
    * driver-path map is a local relation) — [[Lineage.release]].
    */
  def releaseCanon(spark: SparkSession, canon: DataFrame,
                   blocking: Boolean = false): Unit =
    Lineage.release(canon, blocking)

  /** Synthesize the flagship input table as a Dataset, generated
    * *distributed* with per-row seeding (partitioning-independent;
    * BASELINE.md bench protocol step 1). No driver-side materialization —
    * the same code path scales to arbitrary row counts.
    */
  def synthInput(spark: SparkSession, nFiles: Long,
                 seed: Long = 42L, partitions: Int = 0): Dataset[RepoFile] = {
    import spark.implicits._
    val base = if (partitions > 0) spark.range(0L, nFiles, 1L, partitions)
               else spark.range(nFiles)
    base.map { i =>
      val r = Synth.repoRow(i, seed = seed)
      RepoFile(r.repo, r.path, r.commit, r.lang, r.content)
    }
  }
}
