package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession, Column}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Oracle-checked relational renditions of the reference's operators
  * (SURVEY.md §2) plus the large-scale training-data-pipeline operators,
  * over the driver's TPC-H-ish tables (TESTDATA.md). Every query here has
  * a DuckDB-equivalent SQL string in `oracle` with matching column names
  * and engine-portable value types (counts, exact decimal sums cast to
  * double at the end, strings — no raw float aggregation).
  *
  * Scale discipline: filters/projections sit directly on the parquet
  * scan (pushdown), joins against small tables are `broadcast`, windows
  * partition by high-cardinality keys, aggregations are partial-agg
  * friendly (no collect-driven logic anywhere).
  */
object RelationalQueries {

  private def t(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** Exact money arithmetic for cross-engine parity: sum in decimal,
    * surface as double.
    */
  private def dsum(c: Column): Column =
    sum(c.cast("decimal(18,2)")).cast("double")

  // =================================================================
  // §2.2/2.5 sources, filters, dict aggregation
  // =================================================================

  /** A1+S4 dict build: group forms, collect label sets (PoliMorf
    * category-filter rendition: /root/reference/src/NLP/Nerf/Dict.hs:43-51,
    * Dict/Base.hs:63-71).
    */
  def q01_dict_build(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "part")
      .where(col("p_type") =!= "ECONOMY")
      .groupBy(col("p_name").as("form"))
      .agg(
        concat_ws(",", sort_array(collect_set(col("p_brand")))).as("labels"),
        countDistinct(col("p_brand")).as("n_labels"))

  val q01_sql: String =
    """SELECT p_name AS form,
      |       string_agg(DISTINCT p_brand, ',' ORDER BY p_brand) AS labels,
      |       count(DISTINCT p_brand) AS n_labels
      |FROM part WHERE p_type <> 'ECONOMY' GROUP BY p_name""".stripMargin

  /** A2 dict merge: n-way union with per-key set union
    * (/root/reference/src/NLP/Nerf/Dict/Base.hs:86-97).
    */
  def q02_dict_merge(s: SparkSession, dir: String): DataFrame = {
    val d1 = t(s, dir, "part").select(col("p_name").as("form"),
      col("p_brand").as("label"))
    val d2 = t(s, dir, "supplier").select(col("s_name").as("form"),
      lit("SUPPLIER").as("label"))
    d1.unionByName(d2)
      .groupBy("form")
      .agg(concat_ws(",", sort_array(collect_set(col("label")))).as("labels"))
  }

  val q02_sql: String =
    """SELECT form, string_agg(DISTINCT label, ',' ORDER BY label) AS labels
      |FROM (SELECT p_name AS form, p_brand AS label FROM part
      |      UNION ALL
      |      SELECT s_name AS form, 'SUPPLIER' AS label FROM supplier)
      |GROUP BY form""".stripMargin

  /** A3 dict diff: disambiguate sources by ordinal label prefix
    * (/root/reference/src/NLP/Nerf/Dict/Base.hs:101-116).
    */
  def q03_dict_diff(s: SparkSession, dir: String): DataFrame = {
    val d1 = t(s, dir, "part").select(col("p_name").as("form"),
      concat(lit("0:"), col("p_brand")).as("label"))
    val d2 = t(s, dir, "part").where(col("p_size") > 25)
      .select(col("p_name").as("form"), concat(lit("1:"), col("p_brand")).as("label"))
    d1.unionByName(d2).groupBy("form")
      .agg(countDistinct(col("label")).as("n_labels"))
  }

  val q03_sql: String =
    """SELECT form, count(DISTINCT label) AS n_labels
      |FROM (SELECT p_name AS form, '0:' || p_brand AS label FROM part
      |      UNION ALL
      |      SELECT p_name AS form, '1:' || p_brand AS label FROM part WHERE p_size > 25)
      |GROUP BY form""".stripMargin

  // =================================================================
  // §2.3 joins / alignment
  // =================================================================

  /** J4/F10 broadcast dict-lookup join — the candidate-generation hash
    * join (/root/reference/src/NLP/Nerf/Schema.hs:206-212).
    */
  def q04_broadcast_join(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .join(broadcast(t(s, dir, "part")),
        col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_type"))
      .agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("sum_qty"))

  val q04_sql: String =
    """SELECT p_type,
      |       count(*) AS n,
      |       CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
      |FROM lineitem JOIN part ON l_partkey = p_partkey
      |GROUP BY p_type""".stripMargin

  /** J2 sync rendition: equi+range interval join — lineitems shipped
    * within 30 days of their order date
    * (/root/reference/src/NLP/Nerf/Tokenize.hs:96-185).
    */
  def q05_range_join(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
      .where(col("l_shipdate") >= col("o_orderdate") &&
             col("l_shipdate") <= col("o_orderdate") + expr("INTERVAL 30 DAYS"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"))

  val q05_sql: String =
    """SELECT o_orderpriority, count(*) AS n
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |WHERE l_shipdate >= o_orderdate
      |  AND l_shipdate <= o_orderdate + INTERVAL 30 DAY
      |GROUP BY o_orderpriority""".stripMargin

  /** J5 positional zip rendition: adjacent-line pairs within an order
    * (lag window), counting same-returnflag neighbors
    * (/root/reference/src/NLP/Nerf/Compare.hs:59-66).
    */
  def q06_pos_zip(s: SparkSession, dir: String): DataFrame = {
    // total order: l_linenumber alone is duplicated within orders
    val w = Window.partitionBy("l_orderkey")
      .orderBy("l_linenumber", "l_partkey", "l_suppkey")
    t(s, dir, "lineitem")
      .withColumn("prev_flag", lag(col("l_returnflag"), 1).over(w))
      .where(col("prev_flag").isNotNull)
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n_pairs"),
        count(when(col("prev_flag") === col("l_returnflag"), 1)).as("n_same"))
  }

  val q06_sql: String =
    """SELECT l_returnflag, count(*) AS n_pairs,
      |       count(CASE WHEN prev_flag = l_returnflag THEN 1 END) AS n_same
      |FROM (SELECT l_returnflag,
      |             lag(l_returnflag) OVER (PARTITION BY l_orderkey
      |                                     ORDER BY l_linenumber, l_partkey,
      |                                              l_suppkey) AS prev_flag
      |      FROM lineitem)
      |WHERE prev_flag IS NOT NULL
      |GROUP BY l_returnflag""".stripMargin

  // =================================================================
  // §2.5 set compare / stats
  // =================================================================

  /** A5 TP/FP/FN set compare
    * (/root/reference/src/NLP/Nerf/Compare.hs:69-86).
    */
  def q07_tpfpfn(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .select(
        (col("o_orderstatus") === "O").as("p"),
        (col("o_totalprice") > 150000.0).as("r"))
      .agg(
        count(when(col("p") && col("r"), 1)).as("tp"),
        count(when(col("p") && !col("r"), 1)).as("fp"),
        count(when(!col("p") && col("r"), 1)).as("fn"))

  val q07_sql: String =
    """SELECT count(CASE WHEN p AND r THEN 1 END) AS tp,
      |       count(CASE WHEN p AND NOT r THEN 1 END) AS fp,
      |       count(CASE WHEN NOT p AND r THEN 1 END) AS fn
      |FROM (SELECT o_orderstatus = 'O' AS p, o_totalprice > 150000.0 AS r
      |      FROM orders)""".stripMargin

  /** A5 via set semantics (INTERSECT/EXCEPT oracle). Computed as ONE
    * distributed plan — a left join + conditional counts — instead of
    * two count() actions assembled on the driver: one pass over each
    * input, no collect, both counts partial-aggregate map-side.
    */
  def q26_set_ops(s: SparkSession, dir: String): DataFrame = {
    val withOrders = t(s, dir, "orders").select(col("o_custkey").as("k")).distinct()
    val rich = t(s, dir, "customer").where(col("c_acctbal") > 5000)
      .select(col("c_custkey").as("k")).distinct()
    withOrders
      .join(rich.withColumn("in_rich", lit(1)), Seq("k"), "left")
      .agg(count(col("in_rich")).as("n_intersect"),
           count(when(col("in_rich").isNull, 1)).as("n_except"))
  }

  val q26_sql: String =
    """SELECT (SELECT count(*) FROM
      |          (SELECT DISTINCT o_custkey AS k FROM orders
      |           INTERSECT
      |           SELECT c_custkey AS k FROM customer WHERE c_acctbal > 5000))
      |         AS n_intersect,
      |       (SELECT count(*) FROM
      |          (SELECT DISTINCT o_custkey AS k FROM orders
      |           EXCEPT
      |           SELECT c_custkey AS k FROM customer WHERE c_acctbal > 5000))
      |         AS n_except""".stripMargin

  /** A6 rollup with grand total (/root/reference/app/Main.hs:320-321). */
  def q08_rollup(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n"), dsum(col("l_extendedprice")).as("sum_price"))
      .select(
        coalesce(col("l_returnflag"), lit("<all>")).as("l_returnflag"),
        coalesce(col("l_linestatus"), lit("<all>")).as("l_linestatus"),
        col("n"), col("sum_price"))

  val q08_sql: String =
    """SELECT coalesce(l_returnflag, '<all>') AS l_returnflag,
      |       coalesce(l_linestatus, '<all>') AS l_linestatus,
      |       count(*) AS n,
      |       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
      |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)""".stripMargin

  /** A5+A6 combined: per-type compare stats + grand total over a
    * synthetic predicted/actual rule.
    */
  def q29_compare_rollup(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .select(col("l_linestatus").as("ne_type"),
        (col("l_discount") > 0.05).as("p"),
        (col("l_returnflag") === "R").as("r"))
      .rollup(col("ne_type"))
      .agg(
        count(when(col("p") && col("r"), 1)).as("tp"),
        count(when(col("p") && !col("r"), 1)).as("fp"),
        count(when(!col("p") && col("r"), 1)).as("fn"))
      .select(coalesce(col("ne_type"), lit("<all>")).as("ne_type"),
        col("tp"), col("fp"), col("fn"))

  val q29_sql: String =
    """SELECT coalesce(ne_type, '<all>') AS ne_type,
      |       count(CASE WHEN p AND r THEN 1 END) AS tp,
      |       count(CASE WHEN p AND NOT r THEN 1 END) AS fp,
      |       count(CASE WHEN NOT p AND r THEN 1 END) AS fn
      |FROM (SELECT l_linestatus AS ne_type, l_discount > 0.05 AS p,
      |             l_returnflag = 'R' AS r FROM lineitem)
      |GROUP BY ROLLUP (ne_type)""".stripMargin

  // =================================================================
  // §2.5 A4 windows; §2.9 top-k candidates
  // =================================================================

  /** A4 cumulative char offsets
    * (/root/reference/src/NLP/Nerf/Compare.hs:89-98).
    */
  def q09_char_offsets(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("lang").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    t(s, dir, "documents")
      .select(col("doc_id"), col("lang"),
        sum(col("n_chars")).over(w).cast("long").as("cum_chars"))
  }

  // DuckDB's sum(BIGINT) is HUGEINT — cast both engines to BIGINT so the
  // driver's value hash agrees (round-1 q09 hash_match failure).
  val q09_sql: String =
    """SELECT doc_id, lang,
      |       CAST(sum(n_chars) OVER (PARTITION BY lang ORDER BY doc_id
      |                               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_chars
      |FROM documents""".stripMargin

  /** Linker top-k candidates per mention rendition: top-3 parts per
    * brand by (retailprice, partkey) via row_number (SURVEY.md §2.9).
    */
  def q10_topk(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("p_brand")
      .orderBy(col("p_retailprice").desc, col("p_partkey").asc)
    t(s, dir, "part")
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= 3)
      .select(col("p_brand"), col("rank"), col("p_partkey"))
  }

  val q10_sql: String =
    """SELECT p_brand, rank, p_partkey FROM (
      |  SELECT p_brand, p_partkey,
      |         row_number() OVER (PARTITION BY p_brand
      |                            ORDER BY p_retailprice DESC, p_partkey ASC) AS rank
      |  FROM part) WHERE rank <= 3""".stripMargin

  /** F8 lag rendition + event-time sessionization: gaps > 30 min. */
  def q14_session_gaps(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts")
    t(s, dir, "events")
      .withColumn("prev_ms", lag(unix_millis(col("ts").cast("timestamp")), 1).over(w))
      .where(col("prev_ms").isNotNull &&
        unix_millis(col("ts").cast("timestamp")) - col("prev_ms") > 1800000L)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_session_starts"))
  }

  val q14_sql: String =
    """SELECT event_type, count(*) AS n_session_starts
      |FROM (SELECT event_type, epoch_ms(ts) AS ms,
      |             lag(epoch_ms(ts)) OVER (PARTITION BY user_id ORDER BY ts) AS prev_ms
      |      FROM events)
      |WHERE prev_ms IS NOT NULL AND ms - prev_ms > 1800000
      |GROUP BY event_type""".stripMargin

  /** As-of join: for each error event, the latest signup of the same
    * user at-or-before it (composable from window ops; DuckDB oracle via
    * correlated subquery).
    */
  def q27_asof_join(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    val errors = ev.where(col("event_type") === "error")
      .select(col("event_id"), col("user_id"), unix_millis(col("ts").cast("timestamp")).as("ms"))
    val signups = ev.where(col("event_type") === "signup")
      .select(col("user_id").as("s_user_id"), unix_millis(col("ts").cast("timestamp")).as("s_ms"))
    // the at-or-before predicate belongs in the JOIN condition: an error
    // with no prior signup must still surface (NULL), as in the oracle
    errors.join(signups,
        col("user_id") === col("s_user_id") && col("s_ms") <= col("ms"),
        "left_outer")
      .groupBy(col("event_id"))
      .agg(max(col("s_ms")).as("asof_signup_ms"))
  }

  val q27_sql: String =
    """SELECT e.event_id,
      |       (SELECT max(epoch_ms(s.ts)) FROM events s
      |        WHERE s.event_type = 'signup' AND s.user_id = e.user_id
      |          AND s.ts <= e.ts) AS asof_signup_ms
      |FROM events e WHERE e.event_type = 'error'""".stripMargin

  // =================================================================
  // text analysis / fingerprinting / dedup (training-data ops)
  // =================================================================

  /** Per-row invariant: sha256 (north_star). */
  def q12_sha256(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents").where(col("doc_id") < 50)
      .select(col("doc_id"), sha2(col("text"), 256).as("text_sha256"))

  val q12_sql: String =
    """SELECT doc_id, sha256(text) AS text_sha256
      |FROM documents WHERE doc_id < 50""".stripMargin

  /** J1 tokenize rendition: whitespace token counts. */
  def q13_token_counts(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("doc_id"), size(split(col("text"), " ")).as("n_tokens"))

  val q13_sql: String =
    "SELECT doc_id, len(string_split(text, ' ')) AS n_tokens FROM documents"

  /** BPE-ish regex token counting. */
  def q24_regex_tokens(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents").where(col("doc_id") < 100)
      .select(col("doc_id"),
        regexp_count(col("text"), lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]")).as("n_bpeish"))

  val q24_sql: String =
    """SELECT doc_id,
      |       len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]')) AS n_bpeish
      |FROM documents WHERE doc_id < 100""".stripMargin

  /** Document fingerprint: md5 over whitespace-normalized text. */
  def q15_fingerprint(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents").where(col("doc_id") < 50)
      .select(col("doc_id"),
        md5(regexp_replace(lower(col("text")), " ", "")).as("fingerprint"))

  val q15_sql: String =
    """SELECT doc_id, md5(replace(lower(text), ' ', '')) AS fingerprint
      |FROM documents WHERE doc_id < 50""".stripMargin

  /** Exact dedup: hash-groupBy over normalized text. */
  def q16_dedup_exact(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .groupBy(md5(col("text")).as("h"))
      .agg(count(lit(1)).as("c"))
      .agg(count(lit(1)).as("n_distinct_texts"),
        count(when(col("c") > 1, 1)).as("n_dup_groups"),
        coalesce(sum(when(col("c") > 1, col("c"))), lit(0)).cast("long").as("n_dup_docs"))

  val q16_sql: String =
    """SELECT count(*) AS n_distinct_texts,
      |       count(CASE WHEN c > 1 THEN 1 END) AS n_dup_groups,
      |       CAST(coalesce(sum(CASE WHEN c > 1 THEN c END), 0) AS BIGINT) AS n_dup_docs
      |FROM (SELECT md5(text) AS h, count(*) AS c FROM documents GROUP BY md5(text))""".stripMargin

  /** N-gram (distinct-token) Jaccard near-dup pairs, integer-exact
    * threshold test (5·shared >= 4·union ⇔ J >= 0.8); bounded doc range
    * keeps the pair join small at any SF (the MinHash variant q44 is the
    * unbounded scale path).
    */
  def q17_jaccard_pairs(s: SparkSession, dir: String): DataFrame = {
    val toks = t(s, dir, "documents").where(col("doc_id") < 60)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .distinct()
    val sizes = toks.groupBy("doc_id").agg(count(lit(1)).as("sz"))
    val a = toks.as("a"); val b = toks.as("b")
    val shared = a.join(b, col("a.tok") === col("b.tok") &&
        col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
      .agg(count(lit(1)).as("shared"))
    shared
      .join(sizes.withColumnRenamed("doc_id", "d1").withColumnRenamed("sz", "sz1"), "d1")
      .join(sizes.withColumnRenamed("doc_id", "d2").withColumnRenamed("sz", "sz2"), "d2")
      .where(col("shared") * 5 >= (col("sz1") + col("sz2") - col("shared")) * 4)
      .select(col("d1"), col("d2"), col("shared"), col("sz1"), col("sz2"))
  }

  val q17_sql: String =
    """WITH toks AS (SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS tok
      |              FROM documents WHERE doc_id < 60),
      |     sizes AS (SELECT doc_id, count(*) AS sz FROM toks GROUP BY doc_id),
      |     shared AS (SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS shared
      |                FROM toks a JOIN toks b
      |                  ON a.tok = b.tok AND a.doc_id < b.doc_id
      |                GROUP BY a.doc_id, b.doc_id)
      |SELECT d1, d2, shared, s1.sz AS sz1, s2.sz AS sz2
      |FROM shared JOIN sizes s1 ON s1.doc_id = d1
      |            JOIN sizes s2 ON s2.doc_id = d2
      |WHERE shared * 5 >= (s1.sz + s2.sz - shared) * 4""".stripMargin

  /** Language-ID by marker-token heuristic (deterministic n-gram-ish
    * rule, identical in both engines).
    */
  def q22_langid(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("doc_id"),
        when(col("text").contains(" the "), "en")
          .when(col("text").contains(" der "), "de")
          .when(col("text").contains(" le "), "fr")
          .otherwise("und").as("lang_guess"))
      .groupBy("lang_guess").agg(count(lit(1)).as("n"))

  val q22_sql: String =
    """SELECT CASE WHEN text LIKE '% the %' THEN 'en'
      |            WHEN text LIKE '% der %' THEN 'de'
      |            WHEN text LIKE '% le %' THEN 'fr'
      |            ELSE 'und' END AS lang_guess, count(*) AS n
      |FROM documents GROUP BY 1""".stripMargin

  /** Quality scoring: token count, stopword hits, mean word length —
    * integer-exact.
    */
  def q23_quality(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents").where(col("doc_id") < 100)
      .select(col("doc_id"),
        size(split(col("text"), " ")).as("n_words"),
        size(filter(split(col("text"), " "),
          w => w === "the" || w === "a" || w === "of")).as("stopword_hits"),
        length(regexp_replace(col("text"), " ", "")).as("n_nonspace_chars"))

  val q23_sql: String =
    """SELECT doc_id,
      |       len(string_split(text, ' ')) AS n_words,
      |       len(list_filter(string_split(text, ' '),
      |                       w -> w = 'the' OR w = 'a' OR w = 'of')) AS stopword_hits,
      |       length(replace(text, ' ', '')) AS n_nonspace_chars
      |FROM documents WHERE doc_id < 100""".stripMargin

  // =================================================================
  // embeddings: brute-force cosine top-k (ANN baseline)
  // =================================================================

  /** Brute-force cosine top-10 neighbors of vec_id 0; float-free output
    * (rank + id), ordering stabilized by rounding + id tie-break. Scoring
    * is the native codegen `ner_cosine` expression (one fused loop, no
    * interpreted lambda — graft.functions.VecExpr); VecExprSpec pins it
    * bit-identical to the SQL-lambda formulation.
    */
  def q20_cosine_topk(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val q = emb.where(col("vec_id") === 0)
      .select(col("embedding").as("qv"))
    emb.where(col("vec_id") =!= 0).crossJoin(broadcast(q))
      .withColumn("cos", round(
        graft.functions.VecFunctions.ner_cosine(col("embedding"), col("qv")), 6))
      .orderBy(col("cos").desc, col("vec_id").asc)
      .limit(10)
      .select(col("vec_id"), col("cos"))
  }

  val q20_sql: String =
    """SELECT e.vec_id,
      |       round(list_dot_product(e.embedding::DOUBLE[], q.embedding::DOUBLE[]) /
      |             (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])) *
      |              sqrt(list_dot_product(q.embedding::DOUBLE[], q.embedding::DOUBLE[]))), 6) AS cos
      |FROM embeddings e, (SELECT embedding FROM embeddings WHERE vec_id = 0) q
      |WHERE e.vec_id <> 0
      |ORDER BY cos DESC, e.vec_id ASC LIMIT 10""".stripMargin

  /** Embedding-cosine near-duplicate pairs: brute-force all-pairs with
    * an exact threshold on the rounded cosine, bounded to a fixed id
    * range so the O(n²) baseline stays O(1) in SF. At corpus scale the
    * LSH (q46) / IVF (q49) buckets replace the cross join; this is the
    * correctness baseline for them.
    */
  def q21_cosine_dups(s: SparkSession, dir: String): DataFrame = {
    val a = t(s, dir, "embeddings").where(col("vec_id") < 500)
      .select(col("vec_id").as("a_id"), col("embedding").as("a_emb"))
    val b = t(s, dir, "embeddings").where(col("vec_id") < 500)
      .select(col("vec_id").as("b_id"), col("embedding").as("b_emb"))
    a.join(b, col("a_id") < col("b_id"))
      .withColumn("cos", round(
        graft.functions.VecFunctions.ner_cosine(col("a_emb"), col("b_emb")), 6))
      .where(col("cos") >= 0.5)
      .select(col("a_id"), col("b_id"), col("cos"))
  }

  val q21_sql: String =
    """SELECT a.vec_id AS a_id, b.vec_id AS b_id,
      |       round(list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) /
      |             (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[])) *
      |              sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]))), 6) AS cos
      |FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
      |WHERE a.vec_id < 500 AND b.vec_id < 500
      |  AND round(list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) /
      |            (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[])) *
      |             sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]))), 6) >= 0.5""".stripMargin

  // =================================================================
  // connected components (canonicalization oracle)
  // =================================================================

  /** CC over a small deterministic bipartite graph (orders<->parts),
    * oracled by a DuckDB recursive CTE — validates the min-label
    * components used by canonicalization (§2.9), through
    * [[graft.pipeline.Graph.components]]: this 159-edge graph is
    * labelled on the driver, a graph above its budget by the iterative
    * DataFrame fixpoint.
    */
  def q25_connected_components(s: SparkSession, dir: String): DataFrame = {
    val edges = t(s, dir, "lineitem")
      .where(col("l_orderkey") < 40)
      .select(col("l_orderkey").cast("long").as("src"),
        (col("l_partkey") + 1000000L).cast("long").as("dst"))
      .distinct()
    // CC propagates min over STRING labels (entity ids in the KG path);
    // zero-pad so lexicographic min == numeric min, then un-pad.
    val strEdges = edges.select(
      lpad(col("src").cast("string"), 12, "0").as("src"),
      lpad(col("dst").cast("string"), 12, "0").as("dst"))
    graft.pipeline.Graph.components(strEdges)
      .select(col("node").cast("long").as("node"),
        col("comp").cast("long").as("comp"))
  }
  val q25_sql: String =
    """WITH RECURSIVE
      |  edges AS (SELECT DISTINCT l_orderkey AS src, l_partkey + 1000000 AS dst
      |            FROM lineitem WHERE l_orderkey < 40),
      |  und AS (SELECT src, dst FROM edges UNION SELECT dst, src FROM edges),
      |  reach(node, comp) AS (
      |    SELECT src, src FROM und
      |    UNION
      |    SELECT u.src, r.comp FROM und u JOIN reach r ON u.dst = r.node),
      |  mincomp AS (SELECT node, min(comp) AS comp FROM reach GROUP BY node)
      |SELECT CAST(node AS BIGINT) AS node, CAST(comp AS BIGINT) AS comp
      |FROM mincomp""".stripMargin

  // =================================================================
  // salted repartition invariance
  // =================================================================

  /** Row-count invariance under salted repartition (north_rule skew
    * handling; the repartition is on the Spark side only — the oracle
    * checks the count survives).
    */
  def q28_salted_count(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .repartition(col("l_orderkey"), pmod(hash(col("l_partkey")), lit(16)))
      .agg(count(lit(1)).as("n_rows"))

  val q28_sql: String = "SELECT count(*) AS n_rows FROM lineitem"

  /** Multimodal metadata surface: opaque payload treated as bytes +
    * typed metadata extraction (byte length; decode itself is the
    * stubbed Spark-only q47).
    */
  def q30_media_meta(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events").where(col("event_id") < 100)
      .select(col("event_id"),
        octet_length(col("props")).as("payload_bytes"),
        get_json_object(col("props"), "$.k").cast("int").as("meta_k"))

  val q30_sql: String =
    """SELECT event_id, strlen(props) AS payload_bytes,
      |       CAST(json_extract_string(props, '$.k') AS INT) AS meta_k
      |FROM events WHERE event_id < 100""".stripMargin

  // =================================================================
  // bucketed co-located join (shuffle elimination at the storage layer)
  // =================================================================

  // session-scoped memoized builds — tag injectivity, weak session
  // keys, per-JVM temp root, and dead-session sweeping all live in
  // SessionScopedBuilds (shared with the q47/q48 media payloads)
  private val bucketedTables =
    new SessionScopedBuilds[(String, String)]("graft_bucketed")

  /** Materialize lineitem/orders as BUCKETED tables on the join key (8
    * buckets, sorted within) — the lakehouse pattern that makes the
    * fact-to-fact join below shuffle-free. Done once per (session, dir);
    * production tables would be maintained bucketed at ingest.
    */
  def ensureBucketedTables(s: SparkSession, dir: String): (String, String) =
    bucketedTables.getOrBuild(s, dir) { tag =>
      val lt = s"graft_lineitem_b$tag"
      val ot = s"graft_orders_b$tag"
      val base = bucketedTables.base
      try {
        t(s, dir, "lineitem").select("l_orderkey", "l_quantity")
          .write.mode("overwrite").format("parquet")
          .bucketBy(8, "l_orderkey").sortBy("l_orderkey")
          .option("path", s"$base/$lt").saveAsTable(lt)
        t(s, dir, "orders").select("o_orderkey", "o_orderpriority")
          .write.mode("overwrite").format("parquet")
          .bucketBy(8, "o_orderkey").sortBy("o_orderkey")
          .option("path", s"$base/$ot").saveAsTable(ot)
      } catch { case e: Throwable =>
        // half-built pair: drop whatever registered so a retry (or the
        // catalog) never sees an orphaned or partial table
        try s.sql(s"DROP TABLE IF EXISTS $lt") catch { case _: Throwable => () }
        try s.sql(s"DROP TABLE IF EXISTS $ot") catch { case _: Throwable => () }
        throw e
      }
      ((lt, ot), Seq(s"$base/$lt", s"$base/$ot"))
    }

  /** Fact-to-fact join WITHOUT a shuffle: both sides pre-bucketed on the
    * join key (same bucket count), so the sort-merge join reads
    * co-located buckets directly — at 100 TB this turns the biggest
    * shuffle in the workload into a metadata no-op. Plan gated by
    * AnnSpec-style test: no Exchange under the join.
    */
  def q50_bucketed_join(s: SparkSession, dir: String): DataFrame = {
    val (lt, ot) = ensureBucketedTables(s, dir)
    s.table(lt).hint("merge")
      .join(s.table(ot), col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("sum_qty"))
  }

  val q50_sql: String =
    """SELECT o_orderpriority, count(*) AS n,
      |       CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |GROUP BY o_orderpriority""".stripMargin

  /** Exact substring-level dedup: 20-token spans duplicated across
    * documents (boilerplate detection — see
    * graft.pipeline.TextDedup.duplicatedSpans).
    */
  def q51_substring_dups(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.TextDedup.duplicatedSpans(
      t(s, dir, "documents"), "doc_id", "text", n = 20)

  /** One oracle template for both duplicated-span renditions (q51/q52):
    * only the projected name of the gram differs, so the tokenization
    * and short-doc guard cannot drift between the two oracles.
    */
  private def substringDupsSql(gramAs: String): String =
    s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
       |grams AS (
       |  SELECT doc_id, array_to_string(ws[i:i+19], ' ') AS gram
       |  FROM toks, LATERAL (SELECT unnest(range(1, greatest(len(ws) - 19, 0) + 1)) AS i)
       |)
       |SELECT gram AS $gramAs, count(DISTINCT doc_id) AS n_docs, count(*) AS n_occ
       |FROM grams GROUP BY gram HAVING count(DISTINCT doc_id) > 1""".stripMargin

  val q51_sql: String = substringDupsSql("gram")

  /** The 100-TB rendition of q51: same duplicated-span semantics, but the
    * final shuffle groups 8-byte xxhash64(gram) keys, carrying ONE
    * exemplar string per hash via a partial-agg min() (see
    * graft.pipeline.TextDedup.duplicatedSpanHashes). The hash column is
    * dropped from the output so DuckDB can oracle the result: each hash
    * group holds exactly one distinct gram (w.h.p.), so (exemplar,
    * n_docs, n_occ) must equal q51's rows under a rename.
    */
  def q52_substring_dups_hashed(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.TextDedup.duplicatedSpanHashes(
      t(s, dir, "documents"), "doc_id", "text", n = 20)
      .select(col("exemplar"), col("n_docs"), col("n_occ"))

  val q52_sql: String = substringDupsSql("exemplar")

  /** Sketch-based heavy hitters: event users holding ≥ 1/125 of all
    * traffic — the hot-key detection a skew-salting pipeline runs before
    * choosing salt factors. A Count-Min Sketch prunes candidates and an
    * exact count verifies them; CMS error is one-sided, so the output
    * EQUALS the brute-force groupBy-having answer deterministically and
    * the plain-SQL oracle holds even with a sketch in the pipeline (see
    * graft.pipeline.Sketches.heavyHitters for the scale argument).
    */
  def q54_heavy_hitters(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.Sketches.heavyHitters(
      t(s, dir, "events"), "user_id", minShareDenom = 125)

  val q54_sql: String =
    """SELECT user_id, count(*) AS n FROM events
      |WHERE user_id IS NOT NULL GROUP BY user_id
      |HAVING count(*) * 125 >= (SELECT count(*) FROM events)""".stripMargin

  /** Document-level boilerplate share — the doc-granularity action of
    * substring dedup (graft.pipeline.TextDedup.boilerplateShare, step 2
    * of the `curate` recipe): per document, how many of its 20-token
    * spans occur in other documents too. The oracle projection keeps the
    * INTEGER tallies only; the derived `dup_share` ratio stays out of
    * the cross-engine hash compare (two engines rounding a double
    * quotient can disagree in the last ulp) and is pinned in-suite
    * instead.
    */
  def q55_boilerplate(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.TextDedup.boilerplateShare(
      t(s, dir, "documents"), "doc_id", "text", n = 20)
      .select(col("doc_id"), col("n_spans"), col("n_dup_spans"))

  val q55_sql: String =
    """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      |grams AS (
      |  SELECT doc_id, array_to_string(ws[i:i+19], ' ') AS gram
      |  FROM toks, LATERAL (SELECT unnest(range(1, greatest(len(ws) - 19, 0) + 1)) AS i)
      |),
      |dup AS (SELECT gram FROM grams GROUP BY gram HAVING count(DISTINCT doc_id) > 1)
      |SELECT doc_id, count(*) AS n_spans,
      |       count(CASE WHEN gram IN (SELECT gram FROM dup) THEN 1 END) AS n_dup_spans
      |FROM grams GROUP BY doc_id""".stripMargin

  /** Small-N oracled rendition of the q53 LSH-pair path (VERDICT r4
    * #8): with `nBits = 0` the sign-LSH degenerates to a single
    * all-colliding bucket, so the SAME code path — bucket self-join,
    * candidate dedup, exact `ner_cosine` verify — enumerates exactly
    * the brute-force pair set, and the result gains a cross-engine SQL
    * check (q53 itself cannot be oracled: its recall is < 1 by
    * design). The id bound keeps the quadratic candidate set
    * fixture-sized — this rendition exists for verification, q53 is
    * the scale path. The raw-cosine prefilter is loosened half an ulp
    * below the rounded threshold so the final ROUNDED filter (the q21
    * convention both engines share) decides membership.
    */
  def q56_cosine_pairs_exact(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.Ann.lshCosinePairs(
      t(s, dir, "embeddings").where(col("vec_id") < 300),
      "vec_id", "embedding", minCos = 0.4 - 1e-6,
      nBits = 0, nTables = 1, maxBucketSize = 1000000)
      .where(col("cos") >= 0.4)

  val q56_sql: String =
    """SELECT a.vec_id AS d1, b.vec_id AS d2,
      |       round(list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) /
      |             (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[])) *
      |              sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]))), 6) AS cos
      |FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
      |WHERE a.vec_id < 300 AND b.vec_id < 300
      |  AND round(list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) /
      |            (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[])) *
      |             sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]))), 6) >= 0.4""".stripMargin

  /** Small-N oracled rendition of the q44 MinHash path (VERDICT r5 #8,
    * the q56 convention): with `numHashes = 0` the banding degenerates
    * to a single all-colliding bucket, so the SAME code path — banded
    * candidate self-join, hashed-shingle exact-Jaccard verify —
    * enumerates exactly the brute-force pair set and gains a
    * cross-engine SQL check (q44 itself cannot be oracled: banded-LSH
    * recall is < 1 by design). The id bound keeps the quadratic
    * candidate set fixture-sized; q44 is the scale path. Shared counts
    * match the text-shingle oracle up to 64-bit xxhash collisions
    * (~2^-64 per gram pair).
    */
  def q59_minhash_pairs_exact(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.TextDedup.minhashPairs(
      t(s, dir, "documents").where(col("doc_id") < 300),
      "doc_id", "text", numHashes = 0, bands = 1)

  val q59_sql: String =
    """WITH ws AS (SELECT doc_id, string_split(text, ' ') AS w
      |            FROM documents WHERE doc_id < 300),
      |toks AS (SELECT DISTINCT doc_id,
      |           array_to_string(list_slice(w, i + 1, i + 3), ' ') AS tok
      |         FROM ws, UNNEST(range(0, greatest(len(w) - 3, 0) + 1)) AS t(i)),
      |sizes AS (SELECT doc_id, count(*) AS sz FROM toks GROUP BY doc_id),
      |shared AS (SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS shared
      |           FROM toks a JOIN toks b
      |             ON a.tok = b.tok AND a.doc_id < b.doc_id
      |           GROUP BY 1, 2)
      |SELECT d1, d2, shared FROM shared
      |JOIN sizes s1 ON s1.doc_id = d1
      |JOIN sizes s2 ON s2.doc_id = d2
      |WHERE shared * 2 >= (s1.sz + s2.sz - shared)""".stripMargin

  /** Near-dup clustering with canonical pick, oracled through the
    * degenerate exact path (q59's convention): `numHashes = 0` makes
    * the candidate set exhaustive, so the clusters are the exact
    * transitive closure of Jaccard-≥½ pairs, and DuckDB reproduces
    * them with the q59 pair CTE + the q25 recursive-CTE connected
    * components + a window canonical pick. The production entry is
    * [[graft.pipeline.TextDedup.dupClusters]] with real banding
    * (recall-gated in QueriesSpec); is_canonical is 0/1 int so the
    * cross-engine hash never depends on boolean formatting.
    */
  def q60_dup_clusters(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.TextDedup.dupClusters(
      t(s, dir, "documents").where(col("doc_id") < 300),
      "doc_id", "text", numHashes = 0, bands = 1)

  val q60_sql: String =
    """WITH RECURSIVE
      |ws AS (SELECT doc_id, string_split(text, ' ') AS w
      |       FROM documents WHERE doc_id < 300),
      |toks AS (SELECT DISTINCT doc_id,
      |           array_to_string(list_slice(w, i + 1, i + 3), ' ') AS tok
      |         FROM ws, UNNEST(range(0, greatest(len(w) - 3, 0) + 1)) AS t(i)),
      |sizes AS (SELECT doc_id, count(*) AS sz FROM toks GROUP BY doc_id),
      |shared AS (SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS shared
      |           FROM toks a JOIN toks b
      |             ON a.tok = b.tok AND a.doc_id < b.doc_id
      |           GROUP BY 1, 2),
      |pairs AS (SELECT d1, d2 FROM shared
      |          JOIN sizes s1 ON s1.doc_id = d1
      |          JOIN sizes s2 ON s2.doc_id = d2
      |          WHERE shared * 2 >= (s1.sz + s2.sz - shared)),
      |und AS (SELECT d1 AS src, d2 AS dst FROM pairs
      |        UNION SELECT d2, d1 FROM pairs),
      |reach(node, comp) AS (
      |  SELECT src, src FROM und
      |  UNION
      |  SELECT u.src, r.comp FROM und u JOIN reach r ON u.dst = r.node),
      |labels AS (SELECT node, min(comp) AS comp FROM reach GROUP BY node),
      |assigned AS (SELECT d.doc_id,
      |               CAST(coalesce(l.comp, d.doc_id) AS BIGINT) AS cluster_id,
      |               len(d.w) AS n_toks
      |             FROM ws d LEFT JOIN labels l ON l.node = d.doc_id),
      |canon AS (SELECT cluster_id, doc_id AS canonical_id FROM (
      |            SELECT cluster_id, doc_id,
      |              row_number() OVER (PARTITION BY cluster_id
      |                ORDER BY n_toks DESC, doc_id) AS rn
      |            FROM assigned) WHERE rn = 1)
      |SELECT a.doc_id, a.cluster_id,
      |       CAST(CASE WHEN a.doc_id = c.canonical_id THEN 1 ELSE 0 END AS INT)
      |         AS is_canonical
      |FROM assigned a JOIN canon c USING (cluster_id)""".stripMargin

  /** Pivoted per-user event-type counts — the wide-table report shape,
    * as ONE conditional aggregation (`count(when(type = x))` per known
    * value): a single partial-agg pass whose one exchange carries
    * (user_id, 5 longs) — no string ever shuffles.
    *
    * Deliberately NOT `RelationalGroupedDataset.pivot`: for a FIXED
    * value set Spark plans pivot as two chained aggregates — a
    * (group, pivotValue) pre-aggregate whose exchange carries the pivot
    * STRING, then a pivotfirst re-aggregate with a second exchange
    * (plan-gated equivalence in PlanHygieneSpec pins both renditions
    * row-equal and the conditional form at half the exchanges). The
    * `.pivot` API earns its extra shuffle only when the value set is
    * large or unknown — and then values should STILL be passed
    * explicitly, because a values-less pivot first runs an eager
    * distinct job over the full input and makes the output schema
    * data-dependent, which no downstream contract can pin.
    */
  def q61_event_pivot(s: SparkSession, dir: String): DataFrame = {
    val types = Seq("click", "error", "purchase", "signup", "view")
    val cells = types.map(tp =>
      count(when(col("event_type") === tp, 1)).as(tp))
    t(s, dir, "events")
      .where(col("user_id").isNotNull && col("user_id") < 100)
      .groupBy("user_id")
      .agg(cells.head, cells.tail: _*)
  }

  val q61_sql: String =
    """SELECT user_id,
      |  count(*) FILTER (event_type = 'click')    AS click,
      |  count(*) FILTER (event_type = 'error')    AS error,
      |  count(*) FILTER (event_type = 'purchase') AS purchase,
      |  count(*) FILTER (event_type = 'signup')   AS signup,
      |  count(*) FILTER (event_type = 'view')     AS view
      |FROM events WHERE user_id IS NOT NULL AND user_id < 100
      |GROUP BY user_id""".stripMargin

  /** CUBE over (lang, source) on documents — all four grouping-set
    * combinations in ONE pass (Spark expands the cube in the aggregate,
    * partial-agg friendly: each input row contributes to 4 buffer
    * entries map-side, and only the compact buffers shuffle — vs 4
    * separate scans for 4 GROUP BYs). `grouping_id` disambiguates a
    * real NULL group value from a cube subtotal row; both engines emit
    * the same bitmask (first cube column = most significant bit).
    */
  def q62_doc_cube(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .cube(col("lang"), col("source"))
      // grouping_id() must be computed IN the aggregate, while the
      // grouping-set metadata still exists; a post-agg select rejects it
      .agg(grouping_id().cast("int").as("gid"),
        count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))

  val q62_sql: String =
    """SELECT lang, source, CAST(GROUPING(lang, source) AS INT) AS gid,
      |       count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars
      |FROM documents GROUP BY CUBE (lang, source)""".stripMargin

  /** Int8 embedding quantization ([[graft.pipeline.Ann.quantizeInt8]]),
    * oracled element-by-element: the quantized vectors are exploded to
    * (vec_id, pos, qv, scale) scalar rows (the driver protocol hashes
    * scalars, not arrays) and DuckDB recomputes the same symmetric
    * per-vector rule. Both engines divide in DOUBLE and round
    * half-away-from-zero (Spark's HALF_UP on doubles = DuckDB's round),
    * and the output scale is rounded through float32 to 6 digits so the
    * hash never depends on float formatting. Id-bounded; the production
    * entry is the un-exploded array form.
    */
  def q63_quantize_int8(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.Ann.quantizeInt8(
        t(s, dir, "embeddings").where(col("vec_id") < 20),
        "vec_id", "embedding")
      .select(col("vec_id"),
        round(col("scale").cast("double"), 6).as("scale_r"),
        posexplode(col("q")))
      .select(col("vec_id"), col("scale_r"),
        col("pos").cast("int").as("pos"), col("col").as("qv"))

  val q63_sql: String =
    """WITH s AS (
      |  SELECT vec_id, embedding,
      |         list_max(list_transform(embedding,
      |           x -> abs(CAST(x AS DOUBLE)))) / 127.0 AS sc
      |  FROM embeddings WHERE vec_id < 20)
      |SELECT vec_id,
      |       round(CAST(CAST(sc AS FLOAT) AS DOUBLE), 6) AS scale_r,
      |       CAST(i - 1 AS INT) AS pos,
      |       CAST(CASE WHEN sc = 0 THEN 0
      |                 ELSE round(CAST(embedding[i] AS DOUBLE) / sc)
      |            END AS TINYINT) AS qv
      |FROM s, UNNEST(range(1, len(embedding) + 1)) AS t(i)""".stripMargin

  /** BM25 top-k lexical retrieval ([[graft.pipeline.Retrieval.bm25TopK]])
    * over the documents table for a fixed 3-term query. The DuckDB
    * oracle mirrors the scoring arithmetic OPERATION BY OPERATION with
    * every literal cast to DOUBLE (DuckDB parses bare `1.2` as DECIMAL
    * and decimal pre-arithmetic rounds differently than double), so
    * both engines walk the same float path; the 6-digit round plus
    * (score desc, doc_id asc) ordering on the rounded value keeps the
    * top-k boundary deterministic (q20 convention).
    */
  def q64_bm25_topk(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.Retrieval.bm25TopK(
      t(s, dir, "documents"), "doc_id", "text",
      Seq("hash", "join", "scan"), k = 25)

  val q64_sql: String =
    """WITH b AS (SELECT doc_id, len(string_split(text, ' ')) AS dl,
      |                  string_split(text, ' ') AS toks FROM documents),
      |st AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM b),
      |tf AS (SELECT doc_id, dl, tok, count(*) AS tf
      |       FROM (SELECT doc_id, dl, unnest(toks) AS tok FROM b)
      |       WHERE tok IN ('hash', 'join', 'scan') GROUP BY 1, 2, 3),
      |dft AS (SELECT tok, count(*) AS df FROM tf GROUP BY 1),
      |sc AS (SELECT tf.doc_id,
      |              sum(ln((CAST(st.n_docs - dft.df AS DOUBLE) + 0.5) /
      |                     (CAST(dft.df AS DOUBLE) + 0.5) + 1.0) *
      |                  (CAST(tf.tf AS DOUBLE) * (CAST(1.2 AS DOUBLE) + 1)) /
      |                  (CAST(tf.tf AS DOUBLE) + CAST(1.2 AS DOUBLE) *
      |                   (CAST(1.0 AS DOUBLE) - 0.75 +
      |                    0.75 * CAST(tf.dl AS DOUBLE) / st.avgdl))) AS s
      |       FROM tf JOIN dft USING (tok), st GROUP BY 1)
      |SELECT doc_id, round(s, 6) AS score FROM sc
      |ORDER BY score DESC, doc_id ASC LIMIT 25""".stripMargin

  /** Deterministic stratified mixture sampling
    * ([[graft.pipeline.Sampling.stratifiedHashSample]]): keep 100% of
    * de, 50% of en, 25% of every other language, decided per row by a
    * fixed-length hex-string comparison on `md5(doc_id || ':' || seed)`
    * — a rule both engines execute bit-identically (lowercase hex of
    * md5 is pinned in both; 8-char hex compares like the uint32 it
    * encodes), so the sampled ROW SET is oracled exactly, not just its
    * size.
    */
  def q65_stratified_sample(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.Sampling.stratifiedHashSample(
        t(s, dir, "documents"), "doc_id", "lang",
        Map("de" -> 1.0, "en" -> 0.5), seed = 7L, defaultFraction = 0.25)
      .select(col("doc_id"), col("lang"), col("source"))

  val q65_sql: String =
    """SELECT doc_id, lang, source FROM documents
      |WHERE substring(md5(CAST(doc_id AS VARCHAR) || ':' || '7'), 1, 8) <
      |      CASE lang WHEN 'de' THEN 'g'
      |                WHEN 'en' THEN '80000000'
      |                ELSE '40000000' END""".stripMargin

  /** PII redaction ([[graft.pipeline.Scrub.redactPii]]). The corpus is
    * synthetic prose with no real identifiers, so odd doc_ids get a
    * deterministic email + phone + IPv4 suffix APPENDED IDENTICALLY in
    * both engines before the scrub (the q47/q48 synthesized-payload
    * convention); even doc_ids keep their raw text and pin the
    * had_pii=false branch. The redaction itself — the thing under
    * test — is the same three-pattern rewrite on both sides, using
    * only the regex subset where Java's engine and RE2 agree.
    */
  def q66_redact_pii(s: SparkSession, dir: String): DataFrame = {
    val aug = t(s, dir, "documents")
      .withColumn("text", when(col("doc_id") % 2 === 1,
        concat(col("text"), lit(" reach user"),
          col("doc_id").cast("string"),
          lit("@mail.example.org or call +1 555 00"),
          col("doc_id").cast("string"),
          lit(" or ping 10.0."), (col("doc_id") % 256).cast("string"),
          lit(".7")))
        .otherwise(col("text")))
    graft.pipeline.Scrub.redactPii(aug, "text")
      .select(col("doc_id"), col("text"), col("had_pii"))
  }

  val q66_sql: String =
    """WITH aug AS (
      |  SELECT doc_id,
      |         CASE WHEN doc_id % 2 = 1 THEN
      |           text || ' reach user' || CAST(doc_id AS VARCHAR) ||
      |           '@mail.example.org or call +1 555 00' ||
      |           CAST(doc_id AS VARCHAR) || ' or ping 10.0.' ||
      |           CAST(doc_id % 256 AS VARCHAR) || '.7'
      |         ELSE text END AS t
      |  FROM documents),
      |red AS (
      |  SELECT doc_id, t,
      |         regexp_replace(regexp_replace(regexp_replace(t,
      |           '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
      |           '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
      |           '\+?\d[\d -]{7,}\d', '<PHONE>', 'g') AS text
      |  FROM aug)
      |SELECT doc_id, text,
      |       CASE WHEN t IS NULL THEN FALSE ELSE text <> t END AS had_pii
      |FROM red""".stripMargin

  /** Benchmark decontamination ([[graft.pipeline.Decontam.contaminated]]):
    * 5-token shingle overlap between the training corpus and a held-out
    * eval set. The synthetic corpus has little organic overlap (one doc
    * at sf0.01), so contamination is PLANTED deterministically in both
    * engines (the q66 synthesized-payload convention): docs with
    * `doc_id % 7 = 3` get a fixed 5-word canary appended, the eval set
    * (`doc_id % 50 = 0`) gets the same canary — so every planted doc
    * matches on exactly the canary shingle, on top of whatever organic
    * boilerplate overlap exists. Exact string-equality matching, so the
    * oracle is row-and-value exact.
    */
  def q67_decontam(s: SparkSession, dir: String): DataFrame = {
    val docs0 = t(s, dir, "documents")
    val canary = " held out eval canary phrase"
    val aug = docs0.withColumn("text",
      when(col("doc_id") % 7 === 3, concat(col("text"), lit(canary)))
        .otherwise(col("text")))
    val evalSet = docs0.where(col("doc_id") % 50 === 0)
      .withColumn("text", concat(col("text"), lit(canary)))
    graft.pipeline.Decontam.contaminated(
      aug.where(col("doc_id") % 50 =!= 0), evalSet,
      "doc_id", "text", "text", n = 5)
  }

  val q67_sql: String =
    """WITH ev AS (
      |  SELECT DISTINCT array_to_string(toks[i:i+4], ' ') AS gram
      |  FROM (SELECT string_split(text || ' held out eval canary phrase',
      |                            ' ') AS toks
      |        FROM documents WHERE doc_id % 50 = 0 AND text IS NOT NULL),
      |       UNNEST(range(1, len(toks) - 3)) AS t(i)),
      |cg AS (
      |  SELECT doc_id, len(toks) - 4 AS n_grams,
      |         array_to_string(toks[i:i+4], ' ') AS gram
      |  FROM (SELECT doc_id,
      |               string_split(CASE WHEN doc_id % 7 = 3
      |                 THEN text || ' held out eval canary phrase'
      |                 ELSE text END, ' ') AS toks
      |        FROM documents WHERE doc_id % 50 <> 0 AND text IS NOT NULL),
      |       UNNEST(range(1, len(toks) - 3)) AS t(i))
      |SELECT doc_id, CAST(n_grams AS BIGINT) AS n_grams,
      |       count(*) AS n_hits,
      |       round(count(*) / CAST(n_grams AS DOUBLE), 6) AS share
      |FROM cg JOIN ev USING (gram) GROUP BY doc_id, n_grams""".stripMargin

  /** Gopher-style repetition metrics
    * ([[graft.pipeline.Quality.repetitionStats]]) over 2-token shingles:
    * distinct/top-shingle tallies per doc plus the two filter ratios.
    * The Spark side is a zero-shuffle per-row fold; the oracle computes
    * the same numbers the relational way (unnest + two GROUP BYs) —
    * same results, deliberately different mechanics, so the fold's
    * run-length logic is cross-checked rather than mirrored.
    */
  def q68_repetition(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.Quality.repetitionStats(
      t(s, dir, "documents"), "doc_id", "text", n = 2)

  val q68_sql: String =
    """WITH g AS (
      |  SELECT doc_id, len(toks) - 1 AS n_grams,
      |         toks[i] || ' ' || toks[i+1] AS gram
      |  FROM (SELECT doc_id, string_split(text, ' ') AS toks
      |        FROM documents WHERE text IS NOT NULL),
      |       UNNEST(range(1, len(toks))) AS t(i)
      |  WHERE len(toks) >= 2),
      |pg AS (SELECT doc_id, n_grams, gram, count(*) AS c
      |       FROM g GROUP BY 1, 2, 3)
      |SELECT doc_id, CAST(n_grams AS BIGINT) AS n_grams,
      |       count(*) AS n_distinct, max(c) AS top_count,
      |       round(max(c) / CAST(n_grams AS DOUBLE), 6) AS top_share,
      |       round(1 - count(*) / CAST(n_grams AS DOUBLE), 6) AS dup_frac
      |FROM pg GROUP BY doc_id, n_grams""".stripMargin

  /** Sequence packing ([[graft.pipeline.Pack.packChunks]]): concatenate
    * docs in id order, cut into 128-token context windows, emit each
    * doc's chunk span(s). The oracle IS the naive global-window cumsum
    * (fine for DuckDB single-node); the Spark side is the bucketed
    * two-pass prefix-sum whose output must be identical — which is
    * exactly the property worth oracling, since the distributed
    * rendition's only failure mode is getting an offset wrong at a
    * bucket boundary.
    */
  def q69_pack_chunks(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.Pack.packChunks(
      t(s, dir, "documents").select(col("doc_id"),
        when(col("text").isNotNull, size(split(col("text"), " ")))
          .otherwise(lit(0)).as("n_toks")),
      "doc_id", "n_toks", chunkTokens = 128L)

  val q69_sql: String =
    """WITH d AS (SELECT doc_id,
      |             CASE WHEN text IS NULL THEN 0
      |                  ELSE len(string_split(text, ' ')) END AS n
      |           FROM documents),
      |c AS (SELECT doc_id, n,
      |        sum(n) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS cum
      |      FROM d),
      |x AS (SELECT doc_id, cum - n AS s, cum - 1 AS e FROM c WHERE n > 0)
      |SELECT doc_id, CAST(i AS BIGINT) AS chunk_id,
      |       CAST(greatest(s, i * 128) AS BIGINT) AS tok_start,
      |       CAST(least(e, (i + 1) * 128 - 1) AS BIGINT) AS tok_end
      |FROM x, UNNEST(range(CAST(s // 128 AS BIGINT),
      |                     CAST(e // 128 + 1 AS BIGINT))) AS t(i)""".stripMargin

  /** Line-level corpus dedup with rewrite
    * ([[graft.pipeline.TextDedup.dedupLines]]) — the C4 §2.2 cleaning
    * rule: all but the first occurrence of any line duplicated anywhere
    * in the corpus are removed from their documents, which are then
    * reassembled. The single-line synthetic texts are deterministically
    * re-lined in BOTH engines (8-token lines, the q66/q67
    * planted-payload convention), and boilerplate is planted so the
    * rule has real work: docs with `doc_id % 7 = 2` get a shared header
    * line PREPENDED (exercises position-0 ownership), docs with
    * `doc_id % 5 = 0` a shared footer APPENDED; whatever short-tail
    * chunks organically collide dedup too, identically in both engines.
    */
  def q70_dedup_lines(s: SparkSession, dir: String): DataFrame = {
    val header = "shared header boilerplate line"
    val footer = "repeated footer boilerplate line"
    val nLines = expr("cast((size(ws) + 7) div 8 as int)")
    val body = array_join(
      transform(sequence(lit(0), nLines - 1),
        i => array_join(slice(col("ws"), i * lit(8) + lit(1), lit(8)), " ")),
      "\n")
    val aug = t(s, dir, "documents")
      .select(col("doc_id"), col("text"),
        split(col("text"), " ").as("ws"))
      .select(col("doc_id"),
        when(col("text").isNull, lit(null).cast("string"))
          .otherwise(concat(
            when(col("doc_id") % 7 === 2, lit(header + "\n")).otherwise(lit("")),
            body,
            when(col("doc_id") % 5 === 0, lit("\n" + footer)).otherwise(lit(""))))
          .as("text"))
    graft.pipeline.TextDedup.dedupLines(aug, "doc_id", "text")
  }

  val q70_sql: String =
    """WITH tok AS (SELECT doc_id, string_split(text, ' ') AS toks
      |             FROM documents WHERE text IS NOT NULL),
      |chunk AS (
      |  SELECT doc_id,
      |         string_agg(array_to_string(toks[(i*8+1):(i*8+8)], ' '),
      |                    chr(10) ORDER BY i) AS body
      |  FROM tok, UNNEST(range(0, (len(toks) + 7) // 8)) AS t(i)
      |  GROUP BY doc_id),
      |base AS (
      |  SELECT d.doc_id,
      |    CASE WHEN d.text IS NULL THEN NULL ELSE
      |      (CASE WHEN d.doc_id % 7 = 2
      |            THEN 'shared header boilerplate line' || chr(10)
      |            ELSE '' END)
      |      || c.body
      |      || (CASE WHEN d.doc_id % 5 = 0
      |               THEN chr(10) || 'repeated footer boilerplate line'
      |               ELSE '' END)
      |    END AS text
      |  FROM documents d LEFT JOIN chunk c USING (doc_id)),
      |lines AS (
      |  SELECT doc_id, CAST(t.i - 1 AS BIGINT) AS pos, ls[t.i] AS line
      |  FROM (SELECT doc_id, string_split(text, chr(10)) AS ls
      |        FROM base WHERE text IS NOT NULL),
      |       UNNEST(range(1, len(ls) + 1)) AS t(i)),
      |marked AS (
      |  SELECT doc_id, pos, line,
      |         count(*) OVER (PARTITION BY line) AS cnt,
      |         row_number() OVER (PARTITION BY line
      |                            ORDER BY doc_id, pos) AS rn
      |  FROM lines),
      |rebuilt AS (
      |  SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS text
      |  FROM marked WHERE cnt = 1 OR rn = 1 GROUP BY doc_id),
      |drops AS (
      |  SELECT doc_id, count(*) AS n_dropped
      |  FROM marked WHERE cnt >= 2 AND rn > 1 GROUP BY doc_id)
      |SELECT b.doc_id,
      |       CASE WHEN b.text IS NULL THEN NULL
      |            ELSE coalesce(r.text, '') END AS text,
      |       coalesce(d.n_dropped, 0) AS n_dropped
      |FROM base b
      |LEFT JOIN rebuilt r USING (doc_id)
      |LEFT JOIN drops d USING (doc_id)""".stripMargin

  /** Temperature-scaled mixture fractions
    * ([[graft.pipeline.Sampling.temperatureFractions]]): the XLM-R/mT5
    * `p_i ∝ c_i^alpha` rebalancing over the documents table's `source`
    * column, alpha 0.7, a 200-row budget. Both engines compute
    * `round(power(n, 0.7) / z, 6)` with identical operation order (the
    * q63/q64 double-mirroring convention); `z` is a float sum over
    * |strata| terms, boundary-collision risk negligible.
    */
  def q71_temperature_mixture(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.Sampling.temperatureFractions(
      t(s, dir, "documents"), "source", alpha = 0.7, targetRows = 200L)

  val q71_sql: String =
    """WITH c AS (SELECT source AS stratum, count(*) AS n_docs
      |           FROM documents WHERE source IS NOT NULL GROUP BY source),
      |z AS (SELECT sum(power(n_docs, 0.7)) AS z FROM c)
      |SELECT stratum, n_docs,
      |       round(power(n_docs, 0.7) / z, 6) AS weight,
      |       round(least(1.0,
      |             200.0 * (power(n_docs, 0.7) / z) / n_docs), 6)
      |         AS fraction
      |FROM c, z""".stripMargin

  /** Oracled degenerate rendition of SemDeDup
    * ([[graft.pipeline.Ann.semDedup]], the q56/q59 convention): a
    * single FIXED all-ones centroid collapses the quantizer to one
    * cell, so the SAME code path — scan-side assignment + centroid
    * cosine, bucketed candidate join, rounded-cosine membership,
    * transitive grouping, least-centroid-similar keep — enumerates the
    * brute-force semantic-dedup decision, which DuckDB replays exactly
    * (double dot products, recursive-CTE closure, window keep-pick).
    * The id bound keeps the one-cell candidate set fixture-sized; the
    * kmeans path is the scale rendition, gated in AnnSpec.
    */
  def q72_semdedup(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.Ann.semDedup(
      t(s, dir, "embeddings").where(col("vec_id") < 300),
      "vec_id", "embedding", tau = 0.4,
      centroids = Some(Array(Array.fill(64)(1.0f))),
      maxCellSize = 1000000)

  val q72_sql: String =
    """WITH RECURSIVE
      |e AS (SELECT vec_id, embedding::DOUBLE[] AS v
      |      FROM embeddings WHERE vec_id < 300 AND embedding IS NOT NULL),
      |m AS (SELECT vec_id,
      |        list_dot_product(v, list_transform(v, x -> 1.0)) /
      |        (sqrt(list_dot_product(v, v)) *
      |         sqrt(list_dot_product(list_transform(v, x -> 1.0),
      |                               list_transform(v, x -> 1.0)))) AS ccos
      |      FROM e),
      |pairs AS (SELECT a.vec_id AS d1, b.vec_id AS d2
      |          FROM e a JOIN e b ON a.vec_id < b.vec_id
      |          WHERE round(list_dot_product(a.v, b.v) /
      |                (sqrt(list_dot_product(a.v, a.v)) *
      |                 sqrt(list_dot_product(b.v, b.v))), 6) >= 0.4),
      |und AS (SELECT d1 AS src, d2 AS dst FROM pairs
      |        UNION SELECT d2, d1 FROM pairs),
      |reach(node, comp) AS (
      |  SELECT src, src FROM und
      |  UNION
      |  SELECT u.src, r.comp FROM und u JOIN reach r ON u.dst = r.node),
      |labels AS (SELECT node, min(comp) AS comp FROM reach GROUP BY node),
      |assigned AS (SELECT m.vec_id,
      |               CAST(coalesce(l.comp, m.vec_id) AS BIGINT) AS cluster_id,
      |               m.ccos
      |             FROM m LEFT JOIN labels l ON l.node = m.vec_id),
      |keepers AS (SELECT cluster_id, vec_id AS keep_id FROM (
      |              SELECT cluster_id, vec_id,
      |                row_number() OVER (PARTITION BY cluster_id
      |                                   ORDER BY ccos, vec_id) AS rn
      |              FROM assigned) WHERE rn = 1)
      |SELECT a.vec_id, CAST(0 AS INT) AS cell,
      |       round(a.ccos, 6) AS centroid_cos, a.cluster_id,
      |       CAST(CASE WHEN a.vec_id = k.keep_id THEN 1 ELSE 0 END AS INT)
      |         AS is_kept
      |FROM assigned a JOIN keepers k USING (cluster_id)""".stripMargin

  /** Gopher document-quality rules ([[graft.pipeline.Quality
    * .gopherRules]], Rae et al. 2021 table A1): word-count bounds, mean
    * word length, symbol ratio, bullet/ellipsis line shares, alphabetic
    * share, stop-word presence, and the composite keep decision. Each
    * rule is given a deterministic firing subpopulation (q66/q67
    * planted-payload convention, mutually exclusive CASE chain in both
    * engines): %23=10 → two-word doc (word count), %11=4 → bullet
    * prefix, %13=6 → ellipsis ending, %17=8 → hash/ellipsis symbols,
    * %19=9 → a 30-word numeric tail (alpha share); the stop-word rule
    * fires organically on docs lacking "the". Decisions are mirrored
    * IEEE doubles over integer tallies — boundary-exact cross-engine.
    */
  def q73_gopher_quality(s: SparkSession, dir: String): DataFrame = {
    val nums = "11 22 33 44 55 66 77 88 99 100 111 222 333 444 555 666 " +
      "777 888 999 1010 1111 1212 1313 1414 1515 1616 1717 1818 1919 2020"
    val aug = t(s, dir, "documents").select(col("doc_id"),
      when(col("text").isNull, lit(null).cast("string"))
        .when(col("doc_id") % 23 === 10, lit("tiny doc"))
        .when(col("doc_id") % 11 === 4, concat(lit("- "), col("text")))
        .when(col("doc_id") % 13 === 6, concat(col("text"), lit(" wait...")))
        .when(col("doc_id") % 17 === 8,
          concat(col("text"), lit(" ##### ...... ####")))
        .when(col("doc_id") % 19 === 9, concat(col("text"), lit(" " + nums)))
        .otherwise(col("text")).as("text"))
    graft.pipeline.Quality.gopherRules(aug, "doc_id", "text",
      minWords = 10L, minStopWords = 1)
  }

  val q73_sql: String =
    """WITH aug AS (
      |  SELECT doc_id,
      |    CASE WHEN text IS NULL THEN NULL
      |         WHEN doc_id % 23 = 10 THEN 'tiny doc'
      |         WHEN doc_id % 11 = 4 THEN '- ' || text
      |         WHEN doc_id % 13 = 6 THEN text || ' wait...'
      |         WHEN doc_id % 17 = 8 THEN text || ' ##### ...... ####'
      |         WHEN doc_id % 19 = 9 THEN text ||
      |           ' 11 22 33 44 55 66 77 88 99 100 111 222 333 444 555' ||
      |           ' 666 777 888 999 1010 1111 1212 1313 1414 1515 1616' ||
      |           ' 1717 1818 1919 2020'
      |         ELSE text END AS text
      |  FROM documents),
      |s AS (
      |  SELECT doc_id, text, string_split(text, ' ') AS ws,
      |         string_split(text, chr(10)) AS ls
      |  FROM aug WHERE text IS NOT NULL),
      |m AS (
      |  SELECT doc_id,
      |    CAST(len(ws) AS BIGINT) AS n_words,
      |    CAST(list_sum(list_transform(ws, w -> len(w))) AS DOUBLE)
      |      AS sum_len,
      |    CAST(len(text) - len(replace(text, '#', '')) AS BIGINT) AS n_hash,
      |    CAST((len(text) - len(replace(text, '...', ''))) // 3 AS BIGINT)
      |      AS n_ell,
      |    CAST(len(ls) AS BIGINT) AS n_lines,
      |    CAST(len(list_filter(ls, l -> starts_with(l, '- ')
      |      OR starts_with(l, '* ') OR starts_with(l, '• '))) AS BIGINT)
      |      AS n_bullet,
      |    CAST(len(list_filter(ls, l -> ends_with(l, '...'))) AS BIGINT)
      |      AS n_ell_lines,
      |    CAST(len(list_filter(ws, w -> regexp_matches(w, '[A-Za-z]')))
      |      AS BIGINT) AS n_alpha,
      |    CAST(len(list_filter(['the','be','to','of','and','that','have',
      |      'with'], sw -> list_contains(ws, sw))) AS BIGINT) AS n_stop
      |  FROM s)
      |SELECT doc_id, n_words,
      |  round(sum_len / n_words, 6) AS mean_word_len,
      |  round(CAST(n_hash + n_ell AS DOUBLE) / n_words, 6) AS symbol_ratio,
      |  round(CAST(n_bullet AS DOUBLE) / n_lines, 6) AS bullet_share,
      |  round(CAST(n_ell_lines AS DOUBLE) / n_lines, 6) AS ellipsis_share,
      |  round(CAST(n_alpha AS DOUBLE) / n_words, 6) AS alpha_share,
      |  n_stop AS n_stopwords,
      |  CAST(CASE WHEN n_words >= 10 AND n_words <= 100000
      |    AND sum_len / n_words >= 3.0 AND sum_len / n_words <= 10.0
      |    AND CAST(n_hash + n_ell AS DOUBLE) / n_words <= 0.1
      |    AND CAST(n_bullet AS DOUBLE) / n_lines <= 0.9
      |    AND CAST(n_ell_lines AS DOUBLE) / n_lines <= 0.3
      |    AND CAST(n_alpha AS DOUBLE) / n_words >= 0.8
      |    AND n_stop >= 1 THEN 1 ELSE 0 END AS INT) AS keep
      |FROM m""".stripMargin

  /** Grouped percentiles with a CARDINALITY GUARD — the latency/size-
    * distribution report every pipeline dashboard needs, safe by
    * default at any scale.
    *
    * Spark's exact `percentile` aggregate buffers a count-map of
    * DISTINCT values per group (not all rows), so its memory is bounded
    * by per-group value cardinality — fine for metric-like doubles, an
    * executor-OOM on unbounded-cardinality columns (raw timestamps,
    * request ids). Rather than trusting the caller to know which case
    * they have, this probes `approx_count_distinct` per group first
    * (HyperLogLog — FIXED memory per group, one extra cheap aggregate
    * over the same scan) and routes:
    *   - max per-group distinct ≤ `maxDistinctPerGroup` → exact
    *     `percentile` (linear interpolation on sorted values)
    *   - above → `approx_percentile` (t-digest, fixed memory), whose
    *     documented contract is rank error ≤ n/`accuracy` — gated in
    *     rank space in QueriesSpec.
    * The default threshold (2M distinct doubles ≈ 32 MB of aggregation
    * buffer per group) keeps the worst single-group buffer far inside
    * executor memory at any row count; the HLL probe's ±5% standard
    * error is absorbed by that threshold's safety margin.
    *
    * Column names are `p<percentile·100>` with '.' → '_' (p50, p99_9),
    * plus the group count `n`.
    */
  def groupedPercentiles(df: DataFrame, groupCol: String, valueCol: String,
                         percentiles: Seq[Double] = Seq(0.5, 0.95, 0.99),
                         maxDistinctPerGroup: Long = 2000000L,
                         accuracy: Int = 10000): DataFrame = {
    require(percentiles.nonEmpty &&
      percentiles.forall(p => p >= 0.0 && p <= 1.0),
      s"percentiles must be in [0, 1]: $percentiles")
    // max over ZERO groups is NULL (empty input): route to the exact
    // path, whose groupBy returns the empty frame the old unguarded
    // operator did — not an NPE out of getLong
    val maxRow = df.groupBy(col(groupCol))
      .agg(approx_count_distinct(col(valueCol)).as("nd"))
      .agg(max(col("nd"))).head()
    val maxDistinct = if (maxRow.isNullAt(0)) 0L else maxRow.getLong(0)
    val exact = maxDistinct <= maxDistinctPerGroup
    val aggs = percentiles.map { p =>
      val label = "p" + BigDecimal(p * 100).underlying
        .stripTrailingZeros.toPlainString.replace(".", "_")
      val agg =
        if (exact) s"percentile(`$valueCol`, ${p}D)"
        else s"approx_percentile(`$valueCol`, ${p}D, $accuracy)"
      round(expr(agg), 6).as(label)
    } :+ count(lit(1)).as("n")
    df.groupBy(col(groupCol)).agg(aggs.head, aggs.tail: _*)
  }

  /** Grouped percentiles of the event value distribution through the
    * guarded operator above. The events value column is metric-like
    * (small distinct set per group), so the guard routes to EXACT
    * percentile — which both engines define as linear interpolation on
    * the sorted values, so the oracle holds to 6 digits. The t-digest
    * route is exercised by a high-cardinality fixture in QueriesSpec.
    */
  def q57_value_percentiles(s: SparkSession, dir: String): DataFrame =
    groupedPercentiles(t(s, dir, "events"), "event_type", "value")

  val q57_sql: String =
    """SELECT event_type,
      |       CAST(round(quantile_cont(value, 0.5), 6) AS DOUBLE) AS p50,
      |       CAST(round(quantile_cont(value, 0.95), 6) AS DOUBLE) AS p95,
      |       CAST(round(quantile_cont(value, 0.99), 6) AS DOUBLE) AS p99,
      |       count(*) AS n
      |FROM events GROUP BY event_type""".stripMargin

  /** Full sessionization — q14 counts session STARTS; this materializes
    * the sessions themselves: per user, events more than 30 min apart
    * start a new session. Delegates to [[graft.pipeline.Sessionize]]'s
    * single-pass form (one user_id exchange shared by both windows,
    * plan-gated); its scaladoc states the intrinsic hot-user window-
    * partition skew bound.
    * Deterministic tie-break on event_id for equal timestamps (a
    * nondeterministic window order would flake the cross-engine hash).
    */
  def q58_sessionize(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.Sessionize.sessions(
      t(s, dir, "events")
        .select(col("user_id"), col("event_id"),
          unix_millis(col("ts").cast("timestamp")).as("ms")),
      "user_id", "ms", "event_id", gapMs = 1800000L)

  val q58_sql: String =
    """WITH e AS (SELECT user_id, event_id, epoch_ms(ts) AS ms FROM events),
      |m AS (SELECT user_id, event_id, ms,
      |        CASE WHEN lag(ms) OVER w IS NULL OR ms - lag(ms) OVER w > 1800000
      |             THEN 1 ELSE 0 END AS new_sess
      |      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ms, event_id)),
      |s AS (SELECT user_id, ms,
      |        CAST(SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ms, event_id
      |                                 ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
      |      FROM m)
      |SELECT user_id, session_id, count(*) AS n_events,
      |       min(ms) AS sess_start_ms
      |FROM s GROUP BY user_id, session_id""".stripMargin

  /** DSIR importance weights ([[graft.pipeline.Dsir]], Xie et al.
    * 2023): fit the hashed-unigram+bigram log-likelihood-ratio model
    * with target = the English docs and raw = the whole corpus, then
    * score every doc. The 256 md5-prefix buckets are string keys both
    * engines derive identically (q65 convention); the per-doc weight is
    * a float sum rounded to 6 digits — Spark folds per gram occurrence,
    * DuckDB sums cnt·lr per bucket, a grouping difference of ~1e-14
    * absolute against a 1e-6 rounding grid (the q64 convention).
    */
  def q74_dsir_weights(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val ratios = graft.pipeline.Dsir.logRatios(
      docs.where(col("lang") === "en"), docs, "text")
    graft.pipeline.Dsir.importanceWeights(docs, "doc_id", "text", ratios)
  }

  val q74_sql: String =
    """WITH tok AS (SELECT doc_id, lang, string_split(text, ' ') AS ws
      |             FROM documents WHERE text IS NOT NULL),
      |g AS (SELECT doc_id, lang, substring(md5(t.gram), 1, 2) AS bucket
      |      FROM tok, UNNEST(list_concat(ws,
      |        list_transform(range(1, len(ws)), i -> ws[i] || ' ' || ws[i+1])))
      |        AS t(gram)),
      |dom AS (SELECT printf('%02x', i) AS bucket FROM range(0, 256) t(i)),
      |tc AS (SELECT bucket, count(*) AS t_cnt FROM g WHERE lang = 'en'
      |       GROUP BY 1),
      |rc AS (SELECT bucket, count(*) AS r_cnt FROM g GROUP BY 1),
      |j AS (SELECT d.bucket, coalesce(t_cnt, 0) AS t_cnt,
      |             coalesce(r_cnt, 0) AS r_cnt
      |      FROM dom d LEFT JOIN tc USING (bucket)
      |                 LEFT JOIN rc USING (bucket)),
      |tot AS (SELECT sum(t_cnt) AS t_tot, sum(r_cnt) AS r_tot FROM j),
      |lr AS (SELECT bucket,
      |         ln(CAST(t_cnt + 1 AS DOUBLE) / (t_tot + 256)) -
      |         ln(CAST(r_cnt + 1 AS DOUBLE) / (r_tot + 256)) AS lr
      |       FROM j, tot),
      |per AS (SELECT doc_id, bucket, count(*) AS cnt FROM g GROUP BY 1, 2),
      |n AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams
      |      FROM g GROUP BY 1)
      |SELECT n.doc_id, n.n_grams, round(sum(per.cnt * lr.lr), 6) AS log_w
      |FROM per JOIN lr USING (bucket) JOIN n USING (doc_id)
      |GROUP BY n.doc_id, n.n_grams""".stripMargin

  /** Quality-classifier scoring ([[graft.pipeline.Classifier
    * .scoreDocs]]) under a FIXED 256-bucket weight vector
    * `w_b = (2b − 255)/512` (exactly representable doubles, so both
    * engines hold identical weights) — the degenerate rendition
    * (q56/q59/q72 convention) that oracles the same fold / L1-normalize
    * / sigmoid code path a trained model runs. The bucket id
    * `hash16 % 256` is the md5 SECOND byte, which DuckDB reads directly
    * as hex chars 3..4.
    */
  def q75_quality_score(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.Classifier.scoreDocs(
      t(s, dir, "documents"), "doc_id", "text",
      graft.pipeline.Classifier.FilterModel(256,
        Array.tabulate(256)(b => (2.0 * b - 255.0) / 512.0), bias = 0.0))

  val q75_sql: String =
    """WITH tok AS (SELECT doc_id, string_split(text, ' ') AS ws
      |             FROM documents WHERE text IS NOT NULL),
      |g AS (SELECT doc_id, substring(md5(t.gram), 3, 2) AS bucket
      |      FROM tok, UNNEST(list_concat(ws,
      |        list_transform(range(1, len(ws)), i -> ws[i] || ' ' || ws[i+1])))
      |        AS t(gram)),
      |wt AS (SELECT printf('%02x', i) AS bucket,
      |              CAST(2 * i - 255 AS DOUBLE) / 512 AS w
      |       FROM range(0, 256) t(i)),
      |per AS (SELECT doc_id, bucket, count(*) AS cnt FROM g GROUP BY 1, 2),
      |n AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams
      |      FROM g GROUP BY 1)
      |SELECT n.doc_id, n.n_grams,
      |       round(1.0 / (1.0 + exp(-(0.0 + sum(per.cnt * wt.w) / n.n_grams))),
      |             6) AS score
      |FROM per JOIN wt USING (bucket) JOIN n USING (doc_id)
      |GROUP BY n.doc_id, n.n_grams""".stripMargin

  /** BPE segmentation tallies ([[graft.pipeline.Bpe.encodeDocs]])
    * under a FIXED hierarchical merge table — the oracled rendition of
    * the tokenizer (q56/q59/q75 convention): the Spark side runs the
    * real greedy lowest-rank encode kernel; DuckDB replays the merges
    * as chained `replace` over chr(1)-joined code points, which is
    * equivalent for THIS merge set because it is hierarchical (each
    * merge's parts are chars or earlier outputs, so later merges can
    * never create an earlier pair), its outputs are distinct, and no
    * output's suffix/prefix can fake a separator-adjacent match
    * (checked exhaustively in BpeSpec's replace-parity gate). Learned
    * merge tables are exercised by the train gates, not this oracle.
    */
  def q76_bpe_encode(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.Bpe.encodeDocs(t(s, dir, "documents"), "doc_id", "text",
      Seq(("t", "h"), ("a", "n"), ("th", "e"), ("an", "d")))

  val q76_sql: String =
    """WITH w AS (
      |  SELECT doc_id, t.word
      |  FROM (SELECT doc_id, string_split(text, ' ') AS ws
      |        FROM documents WHERE text IS NOT NULL),
      |       UNNEST(ws) AS t(word)
      |  WHERE t.word <> ''),
      |enc AS (
      |  SELECT doc_id,
      |    len(string_split(
      |      replace(replace(replace(replace(
      |        array_to_string(string_split(word, ''), chr(1))
      |          || chr(1) || '</w>',
      |        't' || chr(1) || 'h', 'th'),
      |        'a' || chr(1) || 'n', 'an'),
      |        'th' || chr(1) || 'e', 'the'),
      |        'an' || chr(1) || 'd', 'and'),
      |      chr(1))) AS n_toks
      |  FROM w)
      |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
      |       CAST(sum(n_toks) AS BIGINT) AS n_tokens
      |FROM enc GROUP BY doc_id""".stripMargin

  /** Stupid-backoff bigram-LM perplexity scoring
    * ([[graft.pipeline.Ngram]], Brants et al. 2007 / the CCNet §3.3
    * quality filter): the LM is trained on the doc_id % 3 != 0 split
    * and scores ALL docs, so the held-out third genuinely exercises
    * the backoff and OOV-floor branches. Text-keyed rendition
    * (`hashedKeys = false`, the q51/q52 pairing — the hashed default
    * is row-parity-gated in NgramSpec); the oracle joins on the
    * (w1, w2) pair — the same collision-free key the Spark side
    * structs on — and mirrors the exact CASE/division order.
    */
  def q77_lm_perplexity(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val lm = graft.pipeline.Ngram.train(
      docs.where(col("doc_id") % 3 =!= 0), "text")
    graft.pipeline.Ngram.scoreDocs(docs, "doc_id", "text", lm,
      hashedKeys = false)
  }

  val q77_sql: String =
    """WITH tr AS (SELECT string_split(text, ' ') AS ws FROM documents
      |            WHERE text IS NOT NULL AND doc_id % 3 <> 0),
      |n AS (SELECT sum(len(ws)) AS n FROM tr),
      |uni AS (SELECT w, count(*) AS c1 FROM tr, UNNEST(ws) AS t(w)
      |        GROUP BY w),
      |bi AS (SELECT ws[i] AS w1, ws[i+1] AS w2, count(*) AS c2
      |       FROM tr, UNNEST(range(1, len(ws))) AS t(i) GROUP BY 1, 2),
      |tok AS (SELECT doc_id, string_split(text, ' ') AS ws
      |        FROM documents WHERE text IS NOT NULL),
      |pairs AS (SELECT doc_id, ws[i] AS w1, ws[i+1] AS w2
      |          FROM tok, UNNEST(range(1, len(ws))) AS t(i)),
      |sc AS (SELECT p.doc_id,
      |         CASE WHEN b.c2 IS NOT NULL AND cu.c1 IS NOT NULL
      |              THEN CAST(b.c2 AS DOUBLE) / cu.c1
      |              ELSE (0.4 * CAST(coalesce(nu.c1, 1) AS DOUBLE))
      |                   / (SELECT n FROM n)
      |         END AS s
      |       FROM pairs p
      |       LEFT JOIN bi b ON p.w1 = b.w1 AND p.w2 = b.w2
      |       LEFT JOIN uni cu ON p.w1 = cu.w
      |       LEFT JOIN uni nu ON p.w2 = nu.w)
      |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
      |       round(avg(ln(s)), 6) AS logp,
      |       round(exp(-avg(ln(s))), 6) AS ppl
      |FROM sc GROUP BY doc_id""".stripMargin

  /** DSIR Gumbel-top-k resampling ([[graft.pipeline.Dsir
    * .resampleGumbel]]) over the q74 model: deterministic noise
    * `g = −ln(−ln((hex32(md5(id:seed)) + 0.5)/2^32))` that DuckDB
    * derives identically (hex cast both engines share), k-boundary on
    * the ROUNDED key with doc_id tie-break (q20 convention) — the
    * selection step of DSIR, cross-engine checked end to end.
    */
  def q78_dsir_resample(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val ratios = graft.pipeline.Dsir.logRatios(
      docs.where(col("lang") === "en"), docs, "text")
    graft.pipeline.Dsir.resampleGumbel(docs, "doc_id", "text", ratios,
      k = 100, seed = 7L)
  }

  val q78_sql: String =
    """WITH tok AS (SELECT doc_id, lang, string_split(text, ' ') AS ws
      |             FROM documents WHERE text IS NOT NULL),
      |g AS (SELECT doc_id, lang, substring(md5(t.gram), 1, 2) AS bucket
      |      FROM tok, UNNEST(list_concat(ws,
      |        list_transform(range(1, len(ws)), i -> ws[i] || ' ' || ws[i+1])))
      |        AS t(gram)),
      |dom AS (SELECT printf('%02x', i) AS bucket FROM range(0, 256) t(i)),
      |tc AS (SELECT bucket, count(*) AS t_cnt FROM g WHERE lang = 'en'
      |       GROUP BY 1),
      |rc AS (SELECT bucket, count(*) AS r_cnt FROM g GROUP BY 1),
      |j AS (SELECT d.bucket, coalesce(t_cnt, 0) AS t_cnt,
      |             coalesce(r_cnt, 0) AS r_cnt
      |      FROM dom d LEFT JOIN tc USING (bucket)
      |                 LEFT JOIN rc USING (bucket)),
      |tot AS (SELECT sum(t_cnt) AS t_tot, sum(r_cnt) AS r_tot FROM j),
      |lr AS (SELECT bucket,
      |         ln(CAST(t_cnt + 1 AS DOUBLE) / (t_tot + 256)) -
      |         ln(CAST(r_cnt + 1 AS DOUBLE) / (r_tot + 256)) AS lr
      |       FROM j, tot),
      |per AS (SELECT doc_id, bucket, count(*) AS cnt FROM g GROUP BY 1, 2),
      |n AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams
      |      FROM g GROUP BY 1),
      |w AS (SELECT n.doc_id, n.n_grams, sum(per.cnt * lr.lr) AS w
      |      FROM per JOIN lr USING (bucket) JOIN n USING (doc_id)
      |      GROUP BY n.doc_id, n.n_grams),
      |keyed AS (SELECT doc_id, n_grams, round(w, 6) AS log_w,
      |            round(w + (-ln(-ln(
      |              (('0x' || substring(md5(doc_id || ':7'), 1, 8))::BIGINT
      |               + 0.5) / 4294967296.0))), 6) AS key
      |          FROM w)
      |SELECT doc_id, n_grams, log_w, key FROM keyed
      |ORDER BY key DESC, doc_id LIMIT 100""".stripMargin

  // =================================================================
  // Graph analytics over the materialized KG (§2.9 extension): the
  // flagship EMITS a graph; these query it. Library: pipeline.Graph.
  // =================================================================

  /** Deterministic sparse test graph over the part-key domain (the
    * q66/q67 planted-payload convention): two modular generators
    * u→(7u+3)%N, u→(13u+5)%N for pseudo-random volume plus planted
    * 3-cliques {u, u+1, u+2} at every u ≡ 0 (mod 97) so triangle-family
    * queries always have guaranteed structure to find. Node domain is
    * 0..N−1 (partkeys are 0-based contiguous); both generators are
    * bijections (gcd(7,N)=gcd(13,N)=1 for the testdata Ns), so
    * in-degree stays bounded — no hub skew by construction.
    */
  private def syntheticGraph(s: SparkSession, dir: String,
                             planted: Boolean): DataFrame = {
    val un = t(s, dir, "part").select(col("p_partkey").as("u"))
      .crossJoin(broadcast(t(s, dir, "part").agg(count(lit(1)).as("n"))))
    val g1 = un.select(col("u"), ((col("u") * 7 + 3) % col("n")).as("v"))
    val g2 = un.select(col("u"), ((col("u") * 13 + 5) % col("n")).as("v"))
    val gen = g1.unionByName(g2)
    if (!planted) gen
    else {
      val c = un.where(col("u") % 97 === 0 && col("u") + 2 <= col("n") - 1)
      gen
        .unionByName(c.select(col("u"), (col("u") + 1).as("v")))
        .unionByName(c.select(col("u"), (col("u") + 2).as("v")))
        .unionByName(c.select((col("u") + 1).as("u"), (col("u") + 2).as("v")))
    }
  }

  /** Shared SQL rendition of [[syntheticGraph]] + its canonical
    * undirected closure (mirrors [[Graph.canon]]: self-loop-free,
    * deduped, least/greatest-oriented).
    */
  private val graphEdgesSql: String =
    """nn AS (SELECT count(*) AS n FROM part),
      |gen AS (
      |  SELECT p_partkey AS u, (p_partkey*7+3) % (SELECT n FROM nn) AS v FROM part
      |  UNION ALL
      |  SELECT p_partkey, (p_partkey*13+5) % (SELECT n FROM nn) FROM part
      |  UNION ALL
      |  SELECT p_partkey, p_partkey+1 FROM part
      |    WHERE p_partkey % 97 = 0 AND p_partkey+2 <= (SELECT n FROM nn)-1
      |  UNION ALL
      |  SELECT p_partkey, p_partkey+2 FROM part
      |    WHERE p_partkey % 97 = 0 AND p_partkey+2 <= (SELECT n FROM nn)-1
      |  UNION ALL
      |  SELECT p_partkey+1, p_partkey+2 FROM part
      |    WHERE p_partkey % 97 = 0 AND p_partkey+2 <= (SELECT n FROM nn)-1
      |),
      |e AS (SELECT DISTINCT least(u,v) AS a, greatest(u,v) AS b
      |      FROM gen WHERE u <> v)""".stripMargin

  /** Degree profile of the REAL bipartite part–supplier graph (edge =
    * "this supplier shipped this part" from lineitem) — the hub-
    * detection pass a KG runs before choosing salt fan-outs. Supplier
    * nodes are offset into a disjoint id space (the standard trick for
    * typed nodes in one long domain). Two long-keyed shuffles.
    */
  def q79_graph_degree(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.Graph.degrees(
      t(s, dir, "lineitem").select(col("l_partkey").as("src"),
        (col("l_suppkey") + lit(10000000L)).as("dst")))

  val q79_sql: String =
    """WITH e AS (SELECT DISTINCT l_partkey AS a, l_suppkey + 10000000 AS b
      |           FROM lineitem),
      |m AS (SELECT a AS node FROM e UNION ALL SELECT b FROM e)
      |SELECT node, count(*) AS degree FROM m GROUP BY node""".stripMargin

  /** Per-node triangle participation over the synthetic sparse graph —
    * degree-ordered wedge enumeration (Suri & Vassilvitskii, WWW 2011)
    * through [[graft.pipeline.Graph.triangles]]; the oracle is the
    * naive id-ordered 3-way self-join (same count by symmetry — the
    * orientation only changes WHICH join generates a triangle, never
    * whether it is found), so this is a cross-check, not a mirror.
    */
  def q80_triangles(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.Graph.triangles(
      syntheticGraph(s, dir, planted = true)
        .select(col("u").as("src"), col("v").as("dst")))

  val q80_sql: String =
    s"""WITH $graphEdgesSql,
      |tri AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z
      |        FROM e e1 JOIN e e2 ON e1.a = e2.a AND e1.b < e2.b
      |        JOIN e e3 ON e3.a = e1.b AND e3.b = e2.b),
      |m AS (SELECT x AS node FROM tri UNION ALL SELECT y FROM tri
      |      UNION ALL SELECT z FROM tri)
      |SELECT node, count(*) AS n_triangles FROM m GROUP BY node""".stripMargin

  /** Exactly-distance-2 neighborhood sizes over the synthetic graph
    * (context harvesting: "entities two links away"). Long-keyed
    * mid-join + one anti-join — see [[graft.pipeline.Graph.twoHopCounts]].
    */
  def q81_two_hop(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.Graph.twoHopCounts(
      syntheticGraph(s, dir, planted = true)
        .select(col("u").as("src"), col("v").as("dst")))

  val q81_sql: String =
    s"""WITH $graphEdgesSql,
      |adj AS (SELECT a AS x, b AS y FROM e UNION ALL SELECT b, a FROM e),
      |nn2 AS (SELECT DISTINCT l.x AS x, r.y AS peer
      |        FROM adj l JOIN adj r ON l.y = r.x WHERE l.x <> r.y),
      |ex AS (SELECT x, peer FROM nn2
      |       WHERE NOT EXISTS (SELECT 1 FROM adj
      |                         WHERE adj.x = nn2.x AND adj.y = nn2.peer))
      |SELECT x AS node, count(*) AS n_2hop FROM ex GROUP BY x""".stripMargin

  /** PageRank, cross-engine EXACT — the dyadic rendition (the
    * q56/q59/q72 degenerate-rendition convention, adapted to floating
    * point): on the generator-only graph every node's out-degree is 1
    * or 2 (a power of two), damping is 1/2, and ranks start at 1.0, so
    * every intermediate value is a dyadic rational with denominator
    * ≤ 2^8 after 4 iterations and magnitude « 2^53 — all FP arithmetic
    * is EXACT, hence order-independent, hence bit-identical across
    * engines in any summation order. Runs through the REAL
    * [[graft.pipeline.Graph.pageRank]] loop (dangling redistribution
    * and all — the dangling term is exactly 0.0 here); GraphSpec pins
    * the general (0.85, dangling-node) path against a driver recompute.
    */
  def q82_pagerank_dyadic(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.Graph.pageRank(
      syntheticGraph(s, dir, planted = false)
        .select(col("u").as("src"), col("v").as("dst")).distinct(),
      iters = 4, damping = 0.5)

  val q82_sql: String = {
    // one unrolled iteration: r_{k+1} = 0.5 + 0.5 * sum_in r_k(u)/od(u)
    def iter(k: Int): String =
      s"""r$k AS (SELECT b.node,
        |  0.5 + 0.5 * coalesce(s.insum, CAST(0.0 AS DOUBLE)) AS pr
        |  FROM base b LEFT JOIN (
        |    SELECT de.v AS node, sum(r.pr / od.od) AS insum
        |    FROM de JOIN od ON de.u = od.u JOIN r${k - 1} r ON r.node = de.u
        |    GROUP BY de.v) s ON b.node = s.node)""".stripMargin
    s"""WITH nn AS (SELECT count(*) AS n FROM part),
      |gen AS (
      |  SELECT p_partkey AS u, (p_partkey*7+3) % (SELECT n FROM nn) AS v FROM part
      |  UNION ALL
      |  SELECT p_partkey, (p_partkey*13+5) % (SELECT n FROM nn) FROM part),
      |de AS (SELECT DISTINCT u, v FROM gen),
      |od AS (SELECT u, count(*) AS od FROM de GROUP BY u),
      |base AS (SELECT p_partkey AS node FROM part),
      |r0 AS (SELECT node, CAST(1.0 AS DOUBLE) AS pr FROM base),
      |${iter(1)},
      |${iter(2)},
      |${iter(3)},
      |${iter(4)}
      |SELECT node, pr FROM r4""".stripMargin
  }

  /** Product-quantization encode, cross-engine EXACT through the REAL
    * [[graft.pipeline.Ann.pqEncode]] path (the q56/q59/q72/q75
    * fixed-model convention): 4 subspaces × 16 dims over the 64-dim
    * embeddings, each with a FIXED k=2 codebook (c0 = 0⃗, c1 = 0.5 in
    * the subspace's first dim). The DuckDB oracle mirrors the
    * `ner_nearest_cell` kernel OPERATION BY OPERATION — float subtract,
    * float square, double accumulation in index order (SQL `+` is
    * left-associative, matching the kernel's running sum), strict `<`
    * first-wins tie-break — so both engines compute bit-identical
    * distances and the argmin can never flip on a last-ulp boundary.
    */
  def q84_pq_encode(s: SparkSession, dir: String): DataFrame = {
    val model = graft.pipeline.Ann.PqModel(16,
      Array.tabulate(4)(_ => Array(
        Array.fill(16)(0.0f),
        Array.tabulate(16)(i => if (i == 0) 0.5f else 0.0f))))
    graft.pipeline.Ann.pqEncode(t(s, dir, "embeddings"),
        "vec_id", "embedding", model)
      .select(col("vec_id"), posexplode(col("code")))
      .toDF("vec_id", "sub", "code")
  }

  val q84_sql: String = {
    // squared distance to a centroid that is `cFirst` at the subspace's
    // first dim and 0 elsewhere — 16 index-ordered float-square terms,
    // double-accumulated left to right (the kernel's exact walk)
    def dist(sub: Int, cFirst: String): String =
      (0 until 16).map { i =>
        val j = sub * 16 + i + 1
        val c = if (i == 0) cFirst else "CAST(0.0 AS FLOAT)"
        s"CAST((($c - embedding[$j]) * ($c - embedding[$j])) AS DOUBLE)"
      }.mkString("(", " + ", ")")
    (0 until 4).map { sub =>
      val d0 = dist(sub, "CAST(0.0 AS FLOAT)")
      val d1 = dist(sub, "CAST(0.5 AS FLOAT)")
      s"""SELECT vec_id, $sub AS sub,
        |  CASE WHEN $d1 < $d0 THEN 1 ELSE 0 END AS code
        |FROM embeddings""".stripMargin
    }.mkString("\nUNION ALL\n")
  }

  /** Hybrid retrieval: reciprocal-rank fusion of the BM25 lexical
    * top-25 (q64's scoring) with the embedding-cosine top-25 (q20's
    * scoring, vec_id 0 as the query vector) through
    * [[graft.pipeline.Retrieval.rrfFuse]]. Cross-engine exact: ranks
    * are integers over deterministic (rounded-score, id) orderings,
    * each RRF term `1/(60+rank)` is one correctly-rounded IEEE
    * division, and a document's two terms sum commutatively — both
    * engines produce bit-identical doubles. The windows ranking the two
    * lists run over ≤ 25 rows each (top-k bounded by contract).
    */
  /** `row_number()` over (score desc, doc_id asc) for a TINY frame
    * (≤ 25 rows by top-k contract) as a broadcast self-join count —
    * rank = 1 + how many rows sort strictly before it. Semantically
    * identical to the unpartitioned window (doc_id breaks ties), but
    * an empty-partition WindowExec WARNs "No Partition Defined" on
    * every plan init (the optimizer folds a constant partition key
    * right back to empty), flooding bench/verify tails with the r5
    * WARN-noise class for a single-partition pass that is the INTENT
    * here; on ≤ k rows the O(k²) broadcast join is free and the
    * warning is structurally impossible.
    */
  private def tinyRank(df: DataFrame, score: Column): DataFrame = {
    val x = df.select(col("doc_id"), score.as("s"))
    val y = x.select(col("doc_id").as("y_id"), col("s").as("y_s"))
    x.join(broadcast(y),
        col("y_s") > col("s") ||
          (col("y_s") === col("s") && col("y_id") < col("doc_id")), "left")
      .groupBy("doc_id")
      .agg((count(col("y_id")) + 1).cast("int").as("rank"))
  }

  def q86_rrf_fusion(s: SparkSession, dir: String): DataFrame = {
    val bm = graft.pipeline.Retrieval.bm25TopK(
      t(s, dir, "documents"), "doc_id", "text",
      Seq("hash", "join", "scan"), k = 25)
    val bmRanked = tinyRank(bm, col("score"))
    val e = t(s, dir, "embeddings")
    val q = e.where(col("vec_id") === 0).select(col("embedding").as("qv"))
    val cos = e.where(col("vec_id") =!= 0).crossJoin(broadcast(q))
      .withColumn("cos", round(graft.functions.VecFunctions.ner_cosine(
        col("embedding"), col("qv")), 6))
      .orderBy(col("cos").desc, col("vec_id").asc).limit(25)
      .select(col("vec_id").as("doc_id"), col("cos"))
    val cosRanked = tinyRank(cos, col("cos"))
    graft.pipeline.Retrieval.rrfFuse(Seq(bmRanked, cosRanked),
      k0 = 60, topK = 20)
  }

  val q86_sql: String =
    """WITH b AS (SELECT doc_id, len(string_split(text, ' ')) AS dl,
      |                  string_split(text, ' ') AS toks FROM documents),
      |st AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM b),
      |tf AS (SELECT doc_id, dl, tok, count(*) AS tf
      |       FROM (SELECT doc_id, dl, unnest(toks) AS tok FROM b)
      |       WHERE tok IN ('hash', 'join', 'scan') GROUP BY 1, 2, 3),
      |dft AS (SELECT tok, count(*) AS df FROM tf GROUP BY 1),
      |sc AS (SELECT tf.doc_id,
      |              sum(ln((CAST(st.n_docs - dft.df AS DOUBLE) + 0.5) /
      |                     (CAST(dft.df AS DOUBLE) + 0.5) + 1.0) *
      |                  (CAST(tf.tf AS DOUBLE) * (CAST(1.2 AS DOUBLE) + 1)) /
      |                  (CAST(tf.tf AS DOUBLE) + CAST(1.2 AS DOUBLE) *
      |                   (CAST(1.0 AS DOUBLE) - 0.75 +
      |                    0.75 * CAST(tf.dl AS DOUBLE) / st.avgdl))) AS s
      |       FROM tf JOIN dft USING (tok), st GROUP BY 1),
      |bmtop AS (SELECT doc_id, round(s, 6) AS score FROM sc
      |          ORDER BY score DESC, doc_id ASC LIMIT 25),
      |bm AS (SELECT doc_id,
      |         row_number() OVER (ORDER BY score DESC, doc_id ASC) AS r
      |       FROM bmtop),
      |cstop AS (SELECT e.vec_id AS doc_id,
      |            round(list_dot_product(e.embedding::DOUBLE[], q.embedding::DOUBLE[]) /
      |                  (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])) *
      |                   sqrt(list_dot_product(q.embedding::DOUBLE[], q.embedding::DOUBLE[]))), 6) AS cos
      |          FROM embeddings e,
      |               (SELECT embedding FROM embeddings WHERE vec_id = 0) q
      |          WHERE e.vec_id <> 0
      |          ORDER BY cos DESC, doc_id ASC LIMIT 25),
      |cr AS (SELECT doc_id,
      |         row_number() OVER (ORDER BY cos DESC, doc_id ASC) AS r
      |       FROM cstop),
      |u AS (SELECT doc_id,
      |        CAST(1.0 AS DOUBLE) / (CAST(60 AS DOUBLE) + CAST(r AS DOUBLE)) AS term
      |      FROM bm
      |      UNION ALL
      |      SELECT doc_id,
      |        CAST(1.0 AS DOUBLE) / (CAST(60 AS DOUBLE) + CAST(r AS DOUBLE))
      |      FROM cr),
      |f AS (SELECT doc_id, round(sum(term), 10) AS rrf,
      |             count(*) AS n_lists
      |      FROM u GROUP BY doc_id)
      |SELECT doc_id, rrf, n_lists FROM f
      |ORDER BY rrf DESC, doc_id ASC LIMIT 20""".stripMargin

  /** KG integrity audit ([[graft.pipeline.KgPipeline.kgAudit]]) over a
    * synthetic triple set derived deterministically from `events`, with
    * every defect class PLANTED so the audit has something to find:
    * uids ≥ 10 are referenced but never typed (dangling), `x:` ids are
    * typed but never referenced (orphans), uids < 3 carry two types
    * (multi-typed), and every 500th event's mention row is emitted
    * twice (exact duplicates). The flagship pipeline's own output is
    * separately gated CLEAN on all three defect metrics in
    * PipelineSpec — this query cross-checks the audit arithmetic
    * itself against DuckDB.
    */
  /** The q87/q89 shared synthetic triple set (see [[q87_kg_audit]] for
    * the planted-defect design); [[syntheticTripCte]] is its SQL
    * mirror, ending in a `trip` CTE.
    */
  private def syntheticTriples(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
      .select(col("event_id"), (col("user_id") % 50).as("uid"))
    def ment(e: DataFrame) = e.select(
      concat(lit("m:"), col("event_id")).as("subj"),
      lit("hasEntity").as("pred"),
      concat(lit("e:"), col("uid")).as("obj"))
    val typed = ev.where(col("uid") < 10)
      .select(concat(lit("e:"), col("uid")).as("subj"),
        lit("hasType").as("pred"), lit("person").as("obj")).distinct()
    val typed2 = ev.where(col("uid") < 3)
      .select(concat(lit("e:"), col("uid")).as("subj"),
        lit("hasType").as("pred"), lit("org").as("obj")).distinct()
    val orphan = ev.where(col("uid") < 5)
      .select(concat(lit("x:"), col("uid")).as("subj"),
        lit("hasType").as("pred"), lit("person").as("obj")).distinct()
    ment(ev)
      .unionByName(ment(ev.where(col("event_id") % 500 === 0)))
      .unionByName(typed).unionByName(typed2).unionByName(orphan)
  }

  private val syntheticTripCte: String =
    """ev AS (SELECT event_id, user_id % 50 AS uid FROM events),
      |ment AS (SELECT concat('m:', event_id) AS subj, 'hasEntity' AS pred,
      |                concat('e:', uid) AS obj FROM ev),
      |dup AS (SELECT concat('m:', event_id), 'hasEntity', concat('e:', uid)
      |        FROM ev WHERE event_id % 500 = 0),
      |typed AS (SELECT DISTINCT concat('e:', uid) AS subj, 'hasType' AS pred,
      |                 'person' AS obj FROM ev WHERE uid < 10),
      |typed2 AS (SELECT DISTINCT concat('e:', uid), 'hasType', 'org'
      |           FROM ev WHERE uid < 3),
      |orph AS (SELECT DISTINCT concat('x:', uid), 'hasType', 'person'
      |         FROM ev WHERE uid < 5),
      |trip AS (SELECT * FROM ment UNION ALL SELECT * FROM dup
      |         UNION ALL SELECT * FROM typed UNION ALL SELECT * FROM typed2
      |         UNION ALL SELECT * FROM orph)""".stripMargin

  def q87_kg_audit(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.KgPipeline.kgAudit(s, syntheticTriples(s, dir))

  val q87_sql: String =
    s"""WITH $syntheticTripCte,
      |refd AS (SELECT DISTINCT obj AS id FROM trip WHERE pred = 'hasEntity'),
      |tpairs AS (SELECT DISTINCT subj AS id, obj AS tp FROM trip
      |           WHERE pred = 'hasType'),
      |tids AS (SELECT DISTINCT id FROM tpairs)
      |SELECT 'triples_total' AS metric, count(*) AS value FROM trip
      |UNION ALL SELECT 'mention_triples', count(*) FROM trip
      |  WHERE pred = 'hasEntity'
      |UNION ALL SELECT 'type_triples', count(*) FROM trip
      |  WHERE pred = 'hasType'
      |UNION ALL SELECT 'entities_referenced', count(*) FROM refd
      |UNION ALL SELECT 'entities_typed', count(*) FROM tids
      |UNION ALL SELECT 'dangling_entities', count(*) FROM refd
      |  WHERE id NOT IN (SELECT id FROM tids)
      |UNION ALL SELECT 'orphan_typed_entities', count(*) FROM tids
      |  WHERE id NOT IN (SELECT id FROM refd)
      |UNION ALL SELECT 'multi_typed_entities', count(*) FROM
      |  (SELECT id FROM tpairs GROUP BY id HAVING count(*) > 1)
      |UNION ALL SELECT 'duplicate_triples',
      |  (SELECT count(*) FROM trip) -
      |  (SELECT count(*) FROM (SELECT DISTINCT * FROM trip))
      |UNION ALL SELECT 'null_key_triples', count(*) FROM trip
      |  WHERE subj IS NULL OR pred IS NULL OR obj IS NULL""".stripMargin

  /** Co-occurrence lift over the order→part bipartite data
    * ([[graft.pipeline.Graph.coOccurrence]]): parts bought together,
    * normalized for part popularity — the "related entities" table a
    * KG serves next to q83's salience ranking. The cap (64) is vacuous
    * on TPC-H-ish orders (≤ 7 lines), so the capped operator equals
    * the uncapped SQL mirror; the hashable column is LIFT (exact
    * integer-count arithmetic + one IEEE division — bit-identical
    * cross-engine), with `pmi = ln(lift)` deliberately excluded (libm
    * last-ulp drift; GraphSpec pins it instead).
    */
  def q88_comention_lift(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.Graph.coOccurrence(
      t(s, dir, "lineitem")
        .select(col("l_orderkey").as("ctx"), col("l_partkey").as("item")),
      "ctx", "item", maxPerCtx = 64, minPairCount = 2)
      .select(col("x"), col("y"), col("pair_count"), col("lift"))

  val q88_sql: String =
    """WITH di AS (SELECT DISTINCT l_orderkey AS ctx, l_partkey AS item
      |            FROM lineitem),
      |n AS (SELECT count(DISTINCT ctx) AS n_ctx FROM di),
      |cx AS (SELECT item, count(*) AS c FROM di GROUP BY item),
      |cxy AS (SELECT a.item AS x, b.item AS y, count(*) AS pair_count
      |        FROM di a JOIN di b ON a.ctx = b.ctx AND a.item < b.item
      |        GROUP BY 1, 2 HAVING count(*) >= 2)
      |SELECT cxy.x, cxy.y, cxy.pair_count,
      |       CAST(cxy.pair_count AS DOUBLE) *
      |       CAST((SELECT n_ctx FROM n) AS DOUBLE) /
      |       (CAST(c1.c AS DOUBLE) * CAST(c2.c AS DOUBLE)) AS lift
      |FROM cxy JOIN cx c1 ON cxy.x = c1.item
      |         JOIN cx c2 ON cxy.y = c2.item""".stripMargin

  /** N-Triples export ([[graft.pipeline.KgPipeline.ntriples]]) of the
    * q87 synthetic triple set: distinct-set semantics (the planted
    * duplicate rows collapse), IRIs for subjects/entity objects,
    * string literals for types. The synthetic ids are `[a-z0-9:.]` so
    * escaping is the identity and the SQL mirror is plain concat —
    * the escaping branches themselves (percent-encoding, literal
    * backslash escapes, loud control-char refusal) are pinned by
    * PipelineSpec, the q51/q52 "oracle the friendly rendition, spec
    * the hard branches" convention.
    */
  def q89_ntriples(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.KgPipeline.ntriples(syntheticTriples(s, dir))

  val q89_sql: String =
    s"""WITH $syntheticTripCte
      |SELECT concat('<urn:graft:', subj, '> <urn:graft:pred:', pred,
      |              '> ',
      |              CASE WHEN pred = 'hasType'
      |                   THEN concat('"', obj, '"')
      |                   ELSE concat('<urn:graft:', obj, '>') END,
      |              ' .') AS line
      |FROM (SELECT DISTINCT * FROM trip)""".stripMargin

  /** Basic-graph-pattern query ([[graft.pipeline.KgPipeline.matchPattern]])
    * over the q87 synthetic triple set: "every mention, its entity, and
    * that entity's type" — a two-pattern BGP joining on the entity
    * variable with an unbound type position. Exercises var↔var hash
    * joins, bound-predicate pushdown, and the distinct-bindings
    * contract; the DuckDB mirror is the equivalent self-join.
    */
  def q91_pattern_query(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.KgPipeline.matchPattern(syntheticTriples(s, dir),
      Seq(("?m", "hasEntity", "?e"), ("?e", "hasType", "?t")))

  val q91_sql: String =
    s"""WITH $syntheticTripCte
      |SELECT DISTINCT a.obj AS e, a.subj AS m, b.obj AS t
      |FROM trip a JOIN trip b ON b.subj = a.obj
      |WHERE a.pred = 'hasEntity' AND b.pred = 'hasType'""".stripMargin

  /** All oracle-checked queries: name -> (builder, duckdb sql). */
  val all: Map[String, ((SparkSession, String) => DataFrame, String)] = Map(
    "q01_dict_build" -> ((q01_dict_build _, q01_sql)),
    "q02_dict_merge" -> ((q02_dict_merge _, q02_sql)),
    "q03_dict_diff" -> ((q03_dict_diff _, q03_sql)),
    "q04_broadcast_join" -> ((q04_broadcast_join _, q04_sql)),
    "q05_range_join" -> ((q05_range_join _, q05_sql)),
    "q06_pos_zip" -> ((q06_pos_zip _, q06_sql)),
    "q07_tpfpfn" -> ((q07_tpfpfn _, q07_sql)),
    "q08_rollup" -> ((q08_rollup _, q08_sql)),
    "q09_char_offsets" -> ((q09_char_offsets _, q09_sql)),
    "q10_topk" -> ((q10_topk _, q10_sql)),
    "q12_sha256" -> ((q12_sha256 _, q12_sql)),
    "q13_token_counts" -> ((q13_token_counts _, q13_sql)),
    "q14_session_gaps" -> ((q14_session_gaps _, q14_sql)),
    "q15_fingerprint" -> ((q15_fingerprint _, q15_sql)),
    "q16_dedup_exact" -> ((q16_dedup_exact _, q16_sql)),
    "q17_jaccard_pairs" -> ((q17_jaccard_pairs _, q17_sql)),
    "q20_cosine_topk" -> ((q20_cosine_topk _, q20_sql)),
    "q21_cosine_dups" -> ((q21_cosine_dups _, q21_sql)),
    "q22_langid" -> ((q22_langid _, q22_sql)),
    "q23_quality" -> ((q23_quality _, q23_sql)),
    "q24_regex_tokens" -> ((q24_regex_tokens _, q24_sql)),
    "q25_connected_components" -> ((q25_connected_components _, q25_sql)),
    "q26_set_ops" -> ((q26_set_ops _, q26_sql)),
    "q27_asof_join" -> ((q27_asof_join _, q27_sql)),
    "q28_salted_count" -> ((q28_salted_count _, q28_sql)),
    "q29_compare_rollup" -> ((q29_compare_rollup _, q29_sql)),
    "q30_media_meta" -> ((q30_media_meta _, q30_sql)),
    "q50_bucketed_join" -> ((q50_bucketed_join _, q50_sql)),
    "q51_substring_dups" -> ((q51_substring_dups _, q51_sql)),
    "q52_substring_dups_hashed" -> ((q52_substring_dups_hashed _, q52_sql)),
    "q54_heavy_hitters" -> ((q54_heavy_hitters _, q54_sql)),
    "q55_boilerplate" -> ((q55_boilerplate _, q55_sql)),
    "q56_cosine_pairs_exact" -> ((q56_cosine_pairs_exact _, q56_sql)),
    "q57_value_percentiles" -> ((q57_value_percentiles _, q57_sql)),
    "q58_sessionize" -> ((q58_sessionize _, q58_sql)),
    "q59_minhash_pairs_exact" -> ((q59_minhash_pairs_exact _, q59_sql)),
    "q60_dup_clusters" -> ((q60_dup_clusters _, q60_sql)),
    "q61_event_pivot" -> ((q61_event_pivot _, q61_sql)),
    "q62_doc_cube" -> ((q62_doc_cube _, q62_sql)),
    "q63_quantize_int8" -> ((q63_quantize_int8 _, q63_sql)),
    "q64_bm25_topk" -> ((q64_bm25_topk _, q64_sql)),
    "q65_stratified_sample" -> ((q65_stratified_sample _, q65_sql)),
    "q66_redact_pii" -> ((q66_redact_pii _, q66_sql)),
    "q67_decontam" -> ((q67_decontam _, q67_sql)),
    "q68_repetition" -> ((q68_repetition _, q68_sql)),
    "q69_pack_chunks" -> ((q69_pack_chunks _, q69_sql)),
    "q70_dedup_lines" -> ((q70_dedup_lines _, q70_sql)),
    "q71_temperature_mixture" -> ((q71_temperature_mixture _, q71_sql)),
    "q72_semdedup" -> ((q72_semdedup _, q72_sql)),
    "q73_gopher_quality" -> ((q73_gopher_quality _, q73_sql)),
    "q74_dsir_weights" -> ((q74_dsir_weights _, q74_sql)),
    "q75_quality_score" -> ((q75_quality_score _, q75_sql)),
    "q76_bpe_encode" -> ((q76_bpe_encode _, q76_sql)),
    "q77_lm_perplexity" -> ((q77_lm_perplexity _, q77_sql)),
    "q78_dsir_resample" -> ((q78_dsir_resample _, q78_sql)),
    "q79_graph_degree" -> ((q79_graph_degree _, q79_sql)),
    "q80_triangles" -> ((q80_triangles _, q80_sql)),
    "q81_two_hop" -> ((q81_two_hop _, q81_sql)),
    "q82_pagerank_dyadic" -> ((q82_pagerank_dyadic _, q82_sql)),
    "q84_pq_encode" -> ((q84_pq_encode _, q84_sql)),
    "q86_rrf_fusion" -> ((q86_rrf_fusion _, q86_sql)),
    "q87_kg_audit" -> ((q87_kg_audit _, q87_sql)),
    "q88_comention_lift" -> ((q88_comention_lift _, q88_sql)),
    "q89_ntriples" -> ((q89_ntriples _, q89_sql)),
    "q91_pattern_query" -> ((q91_pattern_query _, q91_sql)))
}
