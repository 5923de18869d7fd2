package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text near-duplicate detection as a reusable library surface — the
  * operators a 100 TB training-data pipeline runs ahead of training.
  * The driver-contract queries (q44/q45) are thin instantiations of
  * these with fixed parameters.
  *
  * Scale shapes:
  *  - MinHash+LSH (Broder's resemblance sketches, banded per
  *    Leskovec/Rajaraman/Ullman ch. 3): per-doc agg (partial-agg
  *    friendly) → banded signatures exploded to (band, bucket) rows →
  *    ONE self-join (ReuseExchange computes the signature pipeline
  *    once) → exact verify on candidates only. No all-pairs product
  *    anywhere.
  *  - SimHash (Charikar): one agg per doc; collisions grouped by
  *    fingerprint.
  *  - duplicated spans (the substring-level exact dedup of Lee et al.,
  *    "Deduplicating Training Data Makes Language Models Better"):
  *    group n-token spans, keep cross-document repeats.
  */
object TextDedup {

  /** Distinct k-word shingle HASHES: (id, gh) with gh = xxhash64(text),
    * so the distinct, the signature agg, and the candidate verify-join
    * all shuffle 8-byte longs — at 100 TB a string-keyed variant moves
    * an order of magnitude more shuffle bytes for identical results
    * (a 64-bit collision between two distinct shingles of one document
    * pair is the only divergence, ~2^-64 per pair). The shingles come
    * from the native `ner_shingles` kernel ([[Decontam.shingles]]) and
    * are hashed after the explode, so the hash is codegen'd and stays
    * in the scan stage.
    *
    * Short-document rule: a text with fewer than k tokens is one
    * shingle, the text itself. A NULL text counts as `""` and so is
    * one shingle `""` (the rule of the `sequence`/`slice` composition
    * this replaced, pinned in ShingleSpec).
    */
  def shingleHashes(docs: DataFrame, idCol: String, textCol: String,
                    k: Int = 3): DataFrame = {
    val t = coalesce(col(textCol), lit(""))
    docs.select(col(idCol).as("doc_id"), t.as("t"),
        Decontam.shingles(t, k).as("sh"))
      .select(col("doc_id"), explode(
        when(size(col("sh")) === 0, array(col("t"))).otherwise(col("sh")))
        .as("g"))
      .select(col("doc_id"), xxhash64(col("g")).as("gh"))
      .distinct()
  }

  /** MinHash signatures banded to (doc_id, band, bk) rows; `numHashes`
    * seeded xxhash64 min-hashes split into `bands` bands. Input is the
    * hashed-shingle shape of [[shingleHashes]]: (doc_id, gh long).
    */
  def minhashBands(shingleDf: DataFrame, numHashes: Int = 16,
                   bands: Int = 4): DataFrame = {
    require(numHashes % bands == 0, "numHashes must divide into bands")
    if (numHashes == 0) {
      // DEGENERATE all-collide bucket (the q56 convention, here for
      // MinHash): every doc lands in band 0 / bucket 0, so the
      // downstream candidate self-join enumerates ALL pairs and the
      // exact-Jaccard verify alone decides — brute force through the
      // SAME code path, which is what makes minhashPairs SQL-oracleable
      // at small N (q59). Candidate volume is quadratic: keep the input
      // id-bounded. The production path is any numHashes > 0.
      return shingleDf.select(col("doc_id")).distinct()
        .select(col("doc_id"), lit(0).as("band"), lit(0L).as("bk"))
    }
    val rows = numHashes / bands
    val sig = shingleDf.select(col("doc_id") +:
        (0 until numHashes).map(i => xxhash64(col("gh"), lit(i)).as(s"h$i")): _*)
      .groupBy("doc_id")
      .agg(min(col("h0")).as("m0"),
        (1 until numHashes).map(i => min(col(s"h$i")).as(s"m$i")): _*)
    sig.select(col("doc_id"), explode(array(
        (0 until bands).map { b =>
          struct(lit(b).as("band"),
            xxhash64((b * rows until (b + 1) * rows).map(i => col(s"m$i")): _*)
              .as("bk"))
        }: _*)).as("bb"))
      .select(col("doc_id"), col("bb.band").as("band"), col("bb.bk").as("bk"))
  }

  /** Near-duplicate pairs: banded-LSH candidate generation + exact
    * shingle-Jaccard >= 1/2 verification of candidates only. Output
    * (d1, d2, shared) with d1 < d2. Every shuffle in the pipeline —
    * shingle distinct, signature agg, verify-join — carries 8-byte
    * xxhash64 shingle keys, never shingle text (VERDICT r2 #2).
    */
  def minhashPairs(docs: DataFrame, idCol: String, textCol: String,
                   k: Int = 3, numHashes: Int = 16,
                   bands: Int = 4): DataFrame = {
    val toks = shingleHashes(docs, idCol, textCol, k)
    val banded = minhashBands(toks, numHashes, bands)
    val candPairs = banded.select(col("doc_id").as("d1"), col("band"), col("bk"))
      .join(banded.select(col("doc_id").as("d2"), col("band"), col("bk")),
        Seq("band", "bk"))
      .where(col("d1") < col("d2"))
      .select("d1", "d2").distinct()
    val sizes = toks.groupBy("doc_id").agg(count(lit(1)).as("sz"))
    val shared = candPairs
      .join(toks.withColumnRenamed("doc_id", "d1").withColumnRenamed("gh", "g1"), "d1")
      .join(toks.withColumnRenamed("doc_id", "d2").withColumnRenamed("gh", "g2")
        .withColumnRenamed("g2", "g1"), Seq("d2", "g1"))
      .groupBy("d1", "d2").agg(count(lit(1)).as("shared"))
    shared
      .join(sizes.withColumnRenamed("doc_id", "d1").withColumnRenamed("sz", "sz1"), "d1")
      .join(sizes.withColumnRenamed("doc_id", "d2").withColumnRenamed("sz", "sz2"), "d2")
      .where(col("shared") * 2 >= (col("sz1") + col("sz2") - col("shared")))
      .select(col("d1"), col("d2"), col("shared"))
  }

  /** Every n-token span of every document: (doc_id, gram) — the shared
    * generator of the three span operators below, so tokenization and
    * the short-doc rule (NULL or fewer than n tokens: no spans) can
    * never drift between them.
    */
  private def spanGrams(docs: DataFrame, idCol: String, textCol: String,
                        n: Int): DataFrame =
    docs.select(col(idCol).as("doc_id"),
      explode(Decontam.shingles(col(textCol), n)).as("gram"))

  /** Oracle rendition of substring-level exact dedup: every `n`-token
    * span occurring in more than one document, grouped by its TEXT —
    * portable and DuckDB-checkable (q51's shape), but the final shuffle
    * carries `n` words of text per span. **The default entry point for
    * curation pipelines is [[duplicatedSpanHashes]]**, which computes
    * the same counts over fixed-width hashed keys; use this variant only
    * where full span text (not one exemplar) must survive, or for
    * cross-engine verification.
    */
  def duplicatedSpans(docs: DataFrame, idCol: String, textCol: String,
                      n: Int = 20): DataFrame =
    spanGrams(docs, idCol, textCol, n)
      .groupBy("gram")
      .agg(countDistinct(col("doc_id")).as("n_docs"),
           count(lit(1)).as("n_occ"))
      .where(col("n_docs") > 1)

  /** Substring-level exact dedup of Lee et al. — the DEFAULT entry
    * point (q52; [[duplicatedSpans]] is the text-keyed oracle
    * rendition): spans grouped by `xxhash64(gram)` — the final shuffle
    * carries a fixed-width 8-byte key per span instead of `n` words of
    * text — with ONE exemplar
    * string kept per hash via `min(gram)` so the output stays
    * human-actionable. The exemplar min() is partial-agg friendly:
    * map-side combine reduces each partition to one candidate string
    * per distinct hash before the exchange, so text volume on the wire
    * is bounded by distinct-grams-per-partition, not span occurrences.
    * Same counts as [[duplicatedSpans]] up to 64-bit hash collisions
    * (~2^-64 per gram pair; a collision merges two gram groups).
    * Output: (gram_hash, exemplar, n_docs, n_occ).
    */
  def duplicatedSpanHashes(docs: DataFrame, idCol: String, textCol: String,
                           n: Int = 20): DataFrame =
    spanGrams(docs, idCol, textCol, n)
      .groupBy(xxhash64(col("gram")).as("gram_hash"))
      .agg(min(col("gram")).as("exemplar"),
           countDistinct(col("doc_id")).as("n_docs"),
           count(lit(1)).as("n_occ"))
      .where(col("n_docs") > 1)

  /** Per-document share of its `n`-token spans that also occur in OTHER
    * documents — the document-level action for substring dedup: where
    * [[duplicatedSpanHashes]] reports the duplicated spans themselves,
    * a curation pipeline needs to know which DOCUMENTS are mostly
    * boilerplate (templates, mirrored pages) and drop those above a
    * share threshold. Output: (doc_id, n_spans, n_dup_spans, dup_share
    * rounded to 6 digits); documents shorter than `n` tokens have no
    * spans and no row (they cannot be span-level boilerplate).
    *
    * Scale shape: ONE tokenize/explode pass (the dominant cost — the
    * exploded span stream is corpus×spans sized), immediately collapsed
    * to distinct (doc_id, gram-hash) pairs with an occurrence count by
    * a partial-agg groupBy; everything after operates on that COMPACT
    * frame — a count window over the 8-byte hash marks duplicated
    * spans, a final doc-keyed groupBy tallies. No shuffle carries span
    * text, and no branch re-runs the explode. The gram generator is
    * shared with both duplicated-span renditions (one tokenization, one
    * short-doc guard).
    */
  def boilerplateShare(docs: DataFrame, idCol: String, textCol: String,
                       n: Int = 20): DataFrame = {
    // distinct (doc, span-hash) pairs + per-doc occurrence count, from
    // a single explode
    val gramCounts = spanGrams(docs, idCol, textCol, n)
      .select(col("doc_id"), xxhash64(col("gram")).as("gh"))
      .groupBy("doc_id", "gh").agg(count(lit(1)).as("c"))
    // a span is duplicated when it appears in >1 documents = >1 rows of
    // the compact frame share its hash
    val w = org.apache.spark.sql.expressions.Window.partitionBy("gh")
    gramCounts
      .withColumn("nd", count(lit(1)).over(w))
      .groupBy("doc_id")
      .agg(sum(col("c")).as("n_spans"),
        coalesce(sum(when(col("nd") > 1, col("c"))), lit(0L))
          .as("n_dup_spans"))
      .withColumn("dup_share",
        round(col("n_dup_spans").cast("double") / col("n_spans"), 6))
  }

  /** Component labels (node, comp = min member id) for a dup-pair edge
    * list — the shared closure step of [[dupClusters]] and
    * [[graft.pipeline.Ann.semDedup]]: [[Graph.components]] over the
    * pairs, persisted for the call. Both callers' pairs are costly
    * derivations (MinHash banding, or the candidate join and exact
    * verify) that the driver path reads once and the fixpoint path up
    * to three times; the cache makes that once in either case, and is
    * released on return, when both paths have consumed it.
    */
  private[pipeline] def componentLabels(pairs: DataFrame,
                                        collectThreshold: Int): DataFrame = {
    val edges = pairs
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try Graph.components(edges, collectThreshold)
    finally edges.unpersist()
  }

  /** Near-duplicate CLUSTERS with a canonical pick — the transitive
    * closure of [[minhashPairs]] plus the keep-decision a curation
    * pipeline acts on. Where Curate's greedy pass drops `d2` of each
    * pair independently (order-dependent at the margins), this operator
    * groups mutually-near documents into one cluster and keeps exactly
    * one canonical representative per cluster: the member with the MOST
    * whitespace tokens (the best exemplar of a template family), ties
    * broken by min doc_id. Output: (doc_id, cluster_id, is_canonical
    * 0/1) for EVERY input document; singletons are their own cluster
    * and trivially canonical. cluster_id = min doc_id in the cluster
    * (the same min-label convention as the KG canonicalizer).
    *
    * Scale shape: pair generation is the banded-LSH pipeline (no
    * all-pairs product); the closure ([[componentLabels]], i.e.
    * [[Graph.components]]) runs over ONLY the documents that appear in
    * some pair — dup-involved docs, not the corpus. A pair set of at
    * most [[Graph.componentsCollectThreshold]] edges is labelled on the
    * driver, skipping the fixpoint's per-round jobs; a corpus whose dup
    * graph is genuinely large takes the iterative, checkpointed CC.
    * The canonical pick is a partial-agg `max(struct(n_toks, -doc_id))`
    * per cluster — deliberately NOT a row_number window: a 10M-doc
    * boilerplate cluster would land one window partition on one task,
    * while the struct-max combines map-side. NULL texts tokenize to
    * n_toks = 0 and shingle as `""` ([[shingleHashes]]), so they
    * cluster with each other and with empty texts.
    */
  def dupClusters(docs: DataFrame, idCol: String, textCol: String,
                  k: Int = 3, numHashes: Int = 16, bands: Int = 4): DataFrame =
    dupClusters(docs, idCol, textCol, k, numHashes, bands,
      Graph.componentsCollectThreshold)

  /** [[dupClusters]] at a given closure edge budget (< 0: distributed). */
  private[graft] def dupClusters(docs: DataFrame, idCol: String,
                                 textCol: String, k: Int, numHashes: Int,
                                 bands: Int,
                                 collectThreshold: Int): DataFrame = {
    val labels = componentLabels(
      minhashPairs(docs, idCol, textCol, k, numHashes, bands)
        .select(col("d1").as("src"), col("d2").as("dst")),
      collectThreshold)
      .withColumnRenamed("node", "doc_id")
    val assigned = docs.select(col(idCol).as("doc_id"),
        coalesce(size(split(col(textCol), " ")), lit(0)).as("n_toks"))
      .join(labels, Seq("doc_id"), "left")
      .withColumn("cluster_id", coalesce(col("comp"), col("doc_id")))
    val canon = assigned.groupBy("cluster_id")
      .agg(max(struct(col("n_toks"), (-col("doc_id")).as("neg_id"))).as("m"))
      .select(col("cluster_id"), (-col("m.neg_id")).as("canonical_id"))
    assigned.join(canon, Seq("cluster_id"))
      .select(col("doc_id"), col("cluster_id"),
        when(col("doc_id") === col("canonical_id"), 1).otherwise(0)
          .as("is_canonical"))
  }

  /** Per-document SimHash fingerprint over whitespace tokens:
    * (doc_id, simhash).
    */
  def simhash(docs: DataFrame, idCol: String, textCol: String,
              bits: Int = 32): DataFrame = {
    require(bits >= 1 && bits <= 64,
      s"simhash bits must be in [1, 64] (1L << b wraps past 63): $bits")
    val toks = docs.select(col(idCol).as("doc_id"),
      explode(split(col(textCol), " ")).as("tok"))
    val withBits = toks.withColumn("h", xxhash64(col("tok")))
    val bitCols = (0 until bits).map { b =>
      sum(when(shiftright(col("h"), b).bitwiseAND(1) === 1, 1).otherwise(-1))
        .as(s"b$b")
    }
    val sums = withBits.groupBy("doc_id").agg(bitCols.head, bitCols.tail: _*)
    sums.select(col("doc_id"),
      (0 until bits).map(b =>
        when(col(s"b$b") > 0, lit(1L) * lit(1L << b)).otherwise(lit(0L)))
        .reduce(_ + _).as("simhash"))
  }

  /** SimHash collision groups (near/exact dup clusters), scalars only:
    * (simhash, n_docs, min_doc, max_doc, docs_csv) — where `docs_csv` is
    * a roster of the group's `rosterCap` SMALLEST doc ids, not the full
    * membership. A boilerplate cluster of 10M near-identical documents
    * is routine at 100 TB; an uncapped `collect_list` would materialize
    * one multi-hundred-MB aggregation buffer on a single executor
    * (VERDICT r3 #4). The cap is enforced BEFORE the collect — a
    * `row_number` window ranks members per fingerprint, and only ranks
    * ≤ `rosterCap` enter the list — so the aggregation buffer itself is
    * bounded, not just the output string. The window and the groupBy
    * share the `simhash` hash-partitioning, so capping adds no extra
    * exchange; full-membership counts survive as `n_docs`/`min_doc`/
    * `max_doc`, which aggregate without any buffer.
    */
  def simhashGroups(docs: DataFrame, idCol: String, textCol: String,
                    bits: Int = 32, rosterCap: Int = 16): DataFrame = {
    require(rosterCap >= 1, s"rosterCap must be >= 1: $rosterCap")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("simhash").orderBy("doc_id")
    simhash(docs, idCol, textCol, bits)
      .withColumn("rn", row_number().over(w))
      .groupBy("simhash").agg(count(lit(1)).as("n_docs"),
        min(col("doc_id")).as("min_doc"), max(col("doc_id")).as("max_doc"),
        concat_ws(",", sort_array(collect_list(
          when(col("rn") <= rosterCap, col("doc_id"))))).as("docs_csv"))
      .where(col("n_docs") > 1)
  }

  /** Line-level corpus dedup WITH REWRITE — the C4 cleaning rule
    * (Raffel et al. 2020, "Exploring the Limits of Transfer Learning",
    * §2.2: "we discarded all but one of any three-sentence span
    * occurring more than once in the data set", here at line
    * granularity): for every line duplicated anywhere in the corpus,
    * keep ONLY its first occurrence (min (doc_id, position)) and remove
    * every other occurrence from its document, reassembling the
    * remaining lines in order. Unlike the doc-level dedups above, this
    * REWRITES surviving documents — the standard treatment for shared
    * boilerplate (headers, footers, license blocks) that doc-level
    * dedup cannot touch.
    *
    * Output: (doc_id, text, n_dropped) over the WHOLE corpus — a
    * rewrite is a map-shaped operator, its result is the cleaned
    * corpus. NULL texts pass through unchanged with n_dropped 0.
    *
    * Scale shape — document text NEVER rides an exchange:
    *  1. lines are generated and hashed (xxhash64) inside the scan
    *     stage; the ownership groupBy shuffles (hash, doc_id, pos)
    *     longs only;
    *  2. non-winner occurrences of duplicated lines — a DUP-BOUNDED
    *     set, like [[duplicatedSpanHashes]]'s output — come back as
    *     per-doc drop-position arrays;
    *  3. the rebuild joins those arrays to the original docs on doc_id
    *     (AQE broadcasts the dup-bounded side at any realistic dup
    *     rate) and re-splits/filters/joins the text in the FINAL
    *     project, above every exchange.
    * Same 8-byte-key trade as [[duplicatedSpanHashes]]: one xxhash64
    * collision between two distinct lines (~2^-64 per pair) could drop
    * a non-duplicate line; at "delete boilerplate" stakes that is the
    * documented price of never shuffling corpus bytes.
    */
  def dedupLines(docs: DataFrame, idCol: String,
                 textCol: String): DataFrame = {
    val q = java.util.regex.Pattern.quote("\n")
    val lines = docs
      .where(col(textCol).isNotNull)
      .select(col(idCol).as("doc_id"),
        posexplode(split(col(textCol), q)).as(Seq("pos", "line")))
      .select(col("doc_id"), col("pos"), xxhash64(col("line")).as("lh"))
    val dupOwners = lines.groupBy("lh")
      .agg(count(lit(1)).as("cnt"),
        min(struct(col("doc_id"), col("pos"))).as("owner"))
      .where(col("cnt") >= 2)
      .select(col("lh"), col("owner"))
    val drops = lines
      .join(dupOwners, "lh")
      .where(struct(col("doc_id"), col("pos")) =!= col("owner"))
      .groupBy("doc_id")
      .agg(collect_set(col("pos")).as("drop_pos"),
        count(lit(1)).as("n_dropped"))
    docs
      .join(drops, docs(idCol) === drops("doc_id"), "left")
      .select(docs(idCol).as("doc_id"),
        when(drops("drop_pos").isNull, docs(textCol))
          .otherwise(array_join(
            filter(split(docs(textCol), q),
              (_, i) => !array_contains(drops("drop_pos"), i)),
            "\n"))
          .as("text"),
        coalesce(drops("n_dropped"), lit(0L)).as("n_dropped"))
  }
}
