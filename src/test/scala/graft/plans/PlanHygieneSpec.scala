package graft.plans

import graft.KgMain
import graft.core.Synth
import graft.pipeline.{KgPipeline, SparkTestSession}
import graft.queries.{PipelineQueries, RelationalQueries}
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

/** Shared physical-plan traversal for plan gates: descends into AQE
  * wrappers and materialized/reused query stages, which
  * `TreeNode.children` alone does not traverse.
  */
object PlanInspector {
  import org.apache.spark.sql.execution.{ReusedSubqueryExec, SparkPlan}
  import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}

  def allNodes(p: SparkPlan): Seq[SparkPlan] = {
    val next = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case r: ReusedSubqueryExec => Seq(r.child)
      case other => other.children
    }
    p +: next.flatMap(allNodes)
  }
}

/** Plan-hygiene gates, in-suite (VERDICT r3 #2): parquet filter
  * pushdown, column pruning and broadcast joins for the key queries, so
  * a regression that shuffles the linker's corpus side or un-prunes a
  * scan fails the tests instead of shipping green. Plus the q44 shuffle-key
  * type gate (the r2 text-keyed-shuffle regression is structurally
  * unrepeatable).
  */
class PlanHygieneSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  val dir = "/root/testdata/sf0.01"
  def available: Boolean = new java.io.File(s"$dir/lineitem.parquet").exists()

  private def planString(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  private def assertPushed(name: String, p: String): Unit =
    assert("PushedFilters: \\[[^\\]]*\\]".r.findAllIn(p)
      .exists(s => s.length > "PushedFilters: []".length),
      s"$name: expected a non-empty PushedFilters on the parquet scan:\n$p")

  private def assertBhj(name: String, p: String, atLeast: Int): Unit = {
    val bhj = p.linesIterator.count(_.contains("BroadcastHashJoin"))
    assert(bhj >= atLeast,
      s"$name: expected >=$atLeast BroadcastHashJoin, found $bhj:\n$p")
  }

  /** Every parquet scan in the plan must read at most `maxCols` columns
    * — a scan reading more than the query projects means pruning broke.
    */
  private def assertPruned(name: String, p: String, maxCols: Int): Unit = {
    val widths = "ReadSchema: struct<([^>]*)>".r.findAllMatchIn(p)
      .map(_.group(1).count(_ == ':')).toList
    assert(widths.nonEmpty, s"$name: no ReadSchema found in plan:\n$p")
    assert(widths.forall(_ <= maxCols),
      s"$name: a scan reads ${widths.max} columns, want <=$maxCols (pruning):\n$p")
  }

  test("q01 dict build: filter pushed to the scan, <=3 columns read") {
    assume(available)
    val p = planString(RelationalQueries.q01_dict_build(spark, dir))
    assertPushed("q01", p)
    assertPruned("q01", p, 3)
  }

  test("q04 dict lookup: broadcast hash join, <=2 columns read per scan") {
    assume(available)
    val p = planString(RelationalQueries.q04_broadcast_join(spark, dir))
    assertBhj("q04", p, 1)
    assertPruned("q04", p, 2)
  }

  test("q05 range join: interval side broadcasts") {
    assume(available)
    val p = planString(RelationalQueries.q05_range_join(spark, dir))
    assertBhj("q05", p, 1)
  }

  test("q12 sha256 invariant: filter pushed, <=2 columns read") {
    assume(available)
    val p = planString(RelationalQueries.q12_sha256(spark, dir))
    assertPushed("q12", p)
    assertPruned("q12", p, 2)
  }

  test("q10 topk: <=3 columns read") {
    assume(available)
    val p = planString(RelationalQueries.q10_topk(spark, dir))
    assertPruned("q10", p, 3)
  }

  test("kg linker: the duplicate merge is the only exchange; no sort aggregate") {
    import org.apache.spark.sql.execution.aggregate.SortAggregateExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    val files = KgPipeline.synthInput(spark, 50, partitions = 2)
    val ments = KgPipeline.detectMentions(spark, files, KgMain.model)
    val kb = KgPipeline.kbAliasDf(spark, Synth.knowledgeBase)
    val df = KgPipeline.linkMentions(spark, ments, kb)
    df.collect() // gate the FINAL adaptive plan
    val nodes = PlanInspector.allNodes(df.queryExecution.executedPlan)
    // candidates are generated inside each mention's partition: the
    // corpus side never shuffles for them, and the one exchange is the
    // mention-sized distinct
    val shuffles = nodes.collect { case s: ShuffleExchangeLike => s }
    assert(shuffles.size == 1,
      s"kg_link: ${shuffles.size} shuffles, want 1:\n${df.queryExecution.executedPlan}")
    val sortAggs = nodes.collect { case s: SortAggregateExec => s }
    assert(sortAggs.isEmpty,
      s"kg_link: sort aggregate in the plan:\n${df.queryExecution.executedPlan}")
  }

  test("q44 minhash: no shuffle carries a string-typed column") {
    assume(new java.io.File(s"$dir/documents.parquet").exists())
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.types.StringType
    val df = PipelineQueries.q44_minhash_pairs(spark, dir)
    df.collect() // gate the FINAL adaptive plan
    val offenders = PlanInspector.allNodes(df.queryExecution.executedPlan)
      .collect {
        case s: ShuffleExchangeLike
            if s.output.exists(_.dataType == StringType) => s
      }
    assert(offenders.isEmpty,
      s"q44: ${offenders.size} shuffle(s) carry string columns — every " +
        s"shuffle key must be a fixed-width hash (VERDICT r2 #2):\n" +
        offenders.mkString("\n"))
  }

  test("q88 co-occurrence: the ctx aggregate is computed once (exchange reused) and N broadcasts") {
    assume(available)
    val df = RelationalQueries.q88_comention_lift(spark, dir)
    df.collect() // gate the FINAL adaptive plan
    val p = planString(df)
    // the per-context item-set aggregate feeds THREE consumers (N,
    // marginals, pairs); without ReuseExchange the scan + distinct +
    // ctx shuffle would run three times
    assert(p.contains("ReusedExchange") || p.contains("ReusedQueryStage"),
      s"q88: the shared ctx aggregate is not reused across its " +
        s"consumers:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"q88: the 1-row N attach must broadcast, not go cartesian:\n$p")
  }

  test("q64 bm25: token arrays never shuffle; df and stats join broadcast") {
    assume(new java.io.File(s"$dir/documents.parquet").exists())
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.types.ArrayType
    val df = graft.queries.RelationalQueries.q64_bm25_topk(spark, dir)
    df.collect() // gate the FINAL adaptive plan
    val nodes = PlanInspector.allNodes(df.queryExecution.executedPlan)
    // the scale contract: the exploded token stream is filtered to the
    // query-term set INSIDE the scan stage, so no exchange ever carries
    // the token array (shuffled volume ∝ query-term occurrences, not
    // corpus bytes)
    val arrayShuffles = nodes.collect {
      case s: ShuffleExchangeLike
          if s.output.exists(_.dataType.isInstanceOf[ArrayType]) => s
    }
    assert(arrayShuffles.isEmpty,
      s"q64: ${arrayShuffles.size} shuffle(s) carry the token array:\n" +
        arrayShuffles.mkString("\n"))
    // df-per-term and the 1-row stats frame must come in as broadcasts
    val bcasts = nodes.filter(n =>
      n.getClass.getSimpleName.startsWith("BroadcastHashJoin") ||
        n.getClass.getSimpleName.startsWith("BroadcastNestedLoopJoin"))
    assert(bcasts.size >= 2,
      s"q64: expected the df join AND the stats join as broadcasts, " +
        s"found ${bcasts.size}")
    val smj = nodes.filter(_.getClass.getSimpleName.startsWith("SortMergeJoin"))
    assert(smj.isEmpty, s"q64: sort-merge join crept in:\n${smj.mkString("\n")}")
  }

  test("q58 sessionize: both windows share one exchange (≤ 2 shuffles)") {
    assume(new java.io.File(s"$dir/events.parquet").exists())
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    val df = graft.queries.RelationalQueries.q58_sessionize(spark, dir)
    df.collect()
    val shuffles = PlanInspector.allNodes(df.queryExecution.executedPlan)
      .collect { case s: ShuffleExchangeLike => s }
    // one user_id exchange feeding BOTH windows (lag + running sum share
    // partitioning and ordering) + the final per-session aggregate; a
    // drifted window spec would add an exchange-and-sort per window
    assert(shuffles.size <= 2,
      s"q58: ${shuffles.size} shuffles — the windows no longer share " +
        s"one exchange:\n${df.queryExecution.executedPlan}")
  }

  test("q61 pivot / q62 cube: one aggregate pass, one shuffle, no extra scan") {
    assume(new java.io.File(s"$dir/events.parquet").exists())
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.types.StringType
    for ((name, df) <- Seq(
        "q61" -> graft.queries.RelationalQueries.q61_event_pivot(spark, dir),
        "q62" -> graft.queries.RelationalQueries.q62_doc_cube(spark, dir))) {
      df.collect()
      val plan = df.queryExecution.executedPlan
      val shuffles = PlanInspector.allNodes(plan)
        .collect { case s: ShuffleExchangeLike => s }
      assert(shuffles.size <= 1,
        s"$name: ${shuffles.size} shuffles — the grouping no longer " +
          s"aggregates in one exchange:\n$plan")
      val scans = PlanInspector.allNodes(plan).count(
        _.getClass.getSimpleName.contains("FileSourceScan"))
      assert(scans == 1, s"$name: $scans source scans (want 1):\n$plan")
      assert(!shuffles.exists(_.output.exists(_.dataType == StringType))
          || name == "q62", // the cube's lang/source group keys ARE strings
        s"$name: a shuffle carries a string column:\n$plan")
    }
    // the conditional-agg rendition is row-equal to the .pivot API form
    // (which Spark plans as TWO chained aggregates, the first exchange
    // carrying the pivot string — the documented reason q61 doesn't use
    // it for a fixed value set)
    import org.apache.spark.sql.functions.{col, count, lit}
    val types = Seq("click", "error", "purchase", "signup", "view")
    val viaPivot = spark.read.parquet(s"$dir/events.parquet")
      .where(col("user_id").isNotNull && col("user_id") < 100)
      .groupBy("user_id").pivot("event_type", types).agg(count(lit(1)))
      .na.fill(0L, types)
      .collect().map(_.toSeq).toSet
    val viaCond = graft.queries.RelationalQueries.q61_event_pivot(spark, dir)
      .collect().map(_.toSeq).toSet
    assert(viaCond == viaPivot, "conditional-agg and .pivot renditions diverge")
  }

  test("q67 decontam: corpus shingles die at a BHJ; only the eval distinct shuffles strings") {
    assume(new java.io.File(s"$dir/documents.parquet").exists())
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.types.StringType
    val df = RelationalQueries.q67_decontam(spark, dir)
    df.collect() // gate the FINAL adaptive plan
    val nodes = PlanInspector.allNodes(df.queryExecution.executedPlan)
    val bhj = nodes.filter(
      _.getClass.getSimpleName.startsWith("BroadcastHashJoin"))
    assert(bhj.nonEmpty, "q67: the eval-shingle join must be a broadcast")
    val smj = nodes.filter(
      _.getClass.getSimpleName.startsWith("SortMergeJoin"))
    assert(smj.isEmpty, s"q67: sort-merge join crept in:\n${smj.mkString("\n")}")
    // the scale contract: corpus shingle strings are generated and
    // probed inside the scan stage; the ONLY string-carrying exchange
    // allowed is the (benchmark-sized) eval-side distinct
    val strShuffles = nodes.collect {
      case s: ShuffleExchangeLike
          if s.output.exists(_.dataType == StringType) => s
    }
    assert(strShuffles.size <= 1,
      s"q67: ${strShuffles.size} string shuffles — corpus text reached " +
        s"an exchange:\n${strShuffles.mkString("\n")}")
  }

  test("q68 repetition: ZERO shuffles — a pure per-row fold") {
    assume(new java.io.File(s"$dir/documents.parquet").exists())
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    val df = RelationalQueries.q68_repetition(spark, dir)
    df.collect()
    val shuffles = PlanInspector.allNodes(df.queryExecution.executedPlan)
      .collect { case s: ShuffleExchangeLike => s }
    assert(shuffles.isEmpty,
      s"q68: per-doc statistics must not shuffle, found " +
        s"${shuffles.size}:\n${df.queryExecution.executedPlan}")
  }

  test("q70 line dedup: document text never rides an exchange; rebuild join broadcasts") {
    assume(new java.io.File(s"$dir/documents.parquet").exists())
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.types.StringType
    val df = RelationalQueries.q70_dedup_lines(spark, dir)
    df.collect() // gate the FINAL adaptive plan
    val nodes = PlanInspector.allNodes(df.queryExecution.executedPlan)
    // the scale contract: lines die in the scan stage as xxhash64 longs,
    // the drop-set comes back as per-doc position arrays, and the
    // rewrite happens in the final project — so NO exchange anywhere
    // carries a string column
    val strShuffles = nodes.collect {
      case s: ShuffleExchangeLike
          if s.output.exists(_.dataType == StringType) => s
    }
    assert(strShuffles.isEmpty,
      s"q70: corpus text reached an exchange:\n${strShuffles.mkString("\n")}")
    // the rebuild join's drop-set side is dup-bounded: AQE must end it
    // as a broadcast, not a corpus-wide sort-merge
    val smj = nodes.filter(
      _.getClass.getSimpleName.startsWith("SortMergeJoin"))
    assert(smj.isEmpty,
      s"q70: sort-merge join crept in:\n${smj.mkString("\n")}")
  }

  test("q72 semDedup: vectors shuffle only keyed by id; closure and keep-pick move scalars") {
    assume(new java.io.File(s"$dir/embeddings.parquet").exists())
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.types.{ArrayType, FloatType}
    val df = RelationalQueries.q72_semdedup(spark, dir)
    df.collect() // gate the FINAL adaptive plan
    val nodes = PlanInspector.allNodes(df.queryExecution.executedPlan)
    // the q53 convention: an embedding may move once per candidate,
    // keyed by id (the verify attach) — never on a bucket/cell key, and
    // never through the labels join or the keepers aggregate
    val offenders = nodes.collect {
      case s: ShuffleExchangeLike
          if s.output.exists(_.dataType match {
            case ArrayType(FloatType, _) => true
            case _ => false
          }) && !s.outputPartitioning.toString.contains("d1") &&
            !s.outputPartitioning.toString.contains("d2") &&
            !s.outputPartitioning.toString.contains("vec_id") => s
    }
    assert(offenders.isEmpty,
      s"q72: a vector shuffled on a non-id key:\n${offenders.mkString("\n")}")
  }

  test("q69 packing: one corpus shuffle, no single-partition exchange or window") {
    assume(new java.io.File(s"$dir/documents.parquet").exists())
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.catalyst.plans.physical.SinglePartition
    val df = RelationalQueries.q69_pack_chunks(spark, dir)
    df.collect()
    val nodes = PlanInspector.allNodes(df.queryExecution.executedPlan)
    val shuffles = nodes.collect { case s: ShuffleExchangeLike => s }
    // the whole point of the bucketed two-pass: the running sum is a
    // partitionBy(bucket) window (ONE hash exchange), never the naive
    // global-order window that plans a single-task sort of the corpus
    assert(shuffles.size <= 1,
      s"q69: ${shuffles.size} shuffles in the output plan, want <=1:\n" +
        df.queryExecution.executedPlan)
    val single = shuffles.filter(_.outputPartitioning == SinglePartition)
    assert(single.isEmpty,
      s"q69: a single-partition exchange crept in — the global window " +
        s"is back:\n${df.queryExecution.executedPlan}")
  }

  test("AQE splits a Zipf-skewed join partition at runtime (skew=true)") {
    // The engine's skew story has two layers: PRE-planned salting where
    // the hot keys are known (q28, the salted write, heavyHitters), and
    // AQE's runtime skew-join split as the safety net for skew nobody
    // predicted. This gates the second layer END-TO-END: a join whose
    // build input is extreme-Zipf must come out of AQE with the
    // SortMergeJoin marked isSkewJoin — proof the session config keeps
    // the net active, not just enabled-by-default on paper.
    import org.apache.spark.sql.execution.joins.SortMergeJoinExec
    import org.apache.spark.sql.functions._
    val conf = spark.conf
    val keys = Seq(
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.autoBroadcastJoinThreshold")
    val saved = keys.map(k => k -> scala.util.Try(conf.get(k)).toOption)
    try {
      // shrink the thresholds so the fixture's ~10 MB hot partition
      // counts as skewed at test scale; disable broadcast so the join
      // actually shuffles (the skew path under test)
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "1")
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "64KB")
      conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64KB")
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      import spark.implicits._
      // 150k rows on ONE key + a spread tail — the hot-repo shape
      val fact = spark.range(0, 151000).select(
        when(col("id") < 150000, 0L).otherwise(col("id") % 1000).as("k"),
        concat(lit("payload-"), col("id")).as("payload"))
      val dim = spark.range(0, 1000).select(col("id").as("k"),
        col("id").as("v"))
      val agg = fact.join(dim, "k")
        .agg(sum(length(col("payload"))).as("bytes"))
      agg.collect()
      val skewed = PlanInspector.allNodes(agg.queryExecution.executedPlan)
        .collect { case s: SortMergeJoinExec if s.isSkewJoin => s }
      assert(skewed.nonEmpty,
        "AQE did not mark the skewed join — the runtime skew net is " +
          s"inactive:\n${agg.queryExecution.executedPlan}")
    } finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }

  test("q55 boilerplate: no shuffle carries span text; one explode pass") {
    assume(new java.io.File(s"$dir/documents.parquet").exists())
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.types.StringType
    val df = graft.queries.RelationalQueries.q55_boilerplate(spark, dir)
    df.collect() // gate the FINAL adaptive plan
    val nodes = PlanInspector.allNodes(df.queryExecution.executedPlan)
    // span text must be hashed AT THE SCAN side: the exploded span
    // stream is corpus×spans sized and a text-keyed exchange there is
    // the r2 scale-killer class
    val offenders = nodes.collect {
      case s: ShuffleExchangeLike
          if s.output.exists(_.dataType == StringType) => s
    }
    assert(offenders.isEmpty,
      s"q55: ${offenders.size} shuffle(s) carry string columns:\n" +
        offenders.mkString("\n"))
    // the single-explode contract (review r5): the tokenize/explode is
    // the dominant cost and must not re-run per aggregation branch
    val explodes = nodes.count(_.getClass.getSimpleName == "GenerateExec")
    assert(explodes == 1,
      s"q55: expected exactly 1 explode pass, found $explodes:\n" +
        s"${df.queryExecution.executedPlan}")
  }

  test("q80 triangles: long-keyed equi-joins only — no cartesian, no string shuffle") {
    assume(available)
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.types.StringType
    // q80's edges through the distributed path: at this size the
    // default budget counts them on the driver, whose local relation has
    // no join to gate
    val df = graft.pipeline.Graph.triangles(
      RelationalQueries.syntheticGraph(spark, dir, planted = true)
        .select(org.apache.spark.sql.functions.col("u").as("src"),
          org.apache.spark.sql.functions.col("v").as("dst")), -1)
    df.collect() // gate the FINAL adaptive plan
    val nodes = PlanInspector.allNodes(df.queryExecution.executedPlan)
    assert(nodes.exists(_.getClass.getSimpleName.endsWith("JoinExec")),
      s"q80: the gated plan has no join:\n${df.queryExecution.executedPlan}")
    // the wedge join is the O(m^1.5) step — it must stay an equi-join
    // on node ids; a cartesian here is the all-pairs scale-killer
    val cartesian = nodes.filter(
      _.getClass.getSimpleName.startsWith("CartesianProduct"))
    assert(cartesian.isEmpty,
      s"q80: cartesian product in the triangle plan:\n${cartesian.mkString("\n")}")
    // the only nested-loop joins allowed are the 1-row count-aggregate
    // crossJoins the edge derivation uses (the established convention):
    // structurally, one join side is exactly one long column (the count)
    val bnlj = nodes.filter(
      _.getClass.getSimpleName.startsWith("BroadcastNestedLoopJoin"))
    import org.apache.spark.sql.types.LongType
    bnlj.foreach { j =>
      val oneRowSide = j.children.exists(c =>
        c.output.size == 1 && c.output.head.dataType == LongType)
      assert(oneRowSide,
        s"q80: nested-loop join whose build side is not a 1-row count " +
          s"aggregate:\n$j")
    }
    val strShuffles = nodes.collect {
      case s: ShuffleExchangeLike
          if s.output.exists(_.dataType == StringType) => s
    }
    assert(strShuffles.isEmpty,
      s"q80: ${strShuffles.size} shuffle(s) carry strings — graph ops " +
        s"move long node ids only:\n${strShuffles.mkString("\n")}")
  }

  test("q85 pq search: no embedding or code array rides an exchange; probes broadcast") {
    assume(new java.io.File(s"$dir/embeddings.parquet").exists())
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.types.ArrayType
    val df = PipelineQueries.q85_pq_search(spark, dir)
    df.collect() // gate the FINAL adaptive plan
    val nodes = PlanInspector.allNodes(df.queryExecution.executedPlan)
    // the compressed-domain contract: vectors die at the scan (encode),
    // codes die at the ADC projection — the only exchange (the per-probe
    // top-k window) carries (q_id, vec_id, adist) scalars
    val arrayShuffles = nodes.collect {
      case s: ShuffleExchangeLike
          if s.output.exists(_.dataType.isInstanceOf[ArrayType]) => s
    }
    assert(arrayShuffles.isEmpty,
      s"q85: ${arrayShuffles.size} shuffle(s) carry arrays (embedding or " +
        s"PQ code) — ADC must reduce to scalars before any exchange:\n" +
        arrayShuffles.mkString("\n"))
    // the probe side (with its LUTs) comes in as a broadcast by contract
    val bcast = nodes.filter(n =>
      n.getClass.getSimpleName.startsWith("BroadcastNestedLoopJoin") ||
        n.getClass.getSimpleName.startsWith("BroadcastHashJoin"))
    assert(bcast.nonEmpty, s"q85: probe join is not a broadcast:\n" +
      s"${df.queryExecution.executedPlan}")
  }
}
