package graft.pipeline

import graft.KgMain
import graft.core.Synth
import graft.pipeline.KgPipeline.MentionRow
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The join + `groupBy` linker that [[KgPipeline.linkMentions]]
  * replaced, kept as the parity oracle: a broadcast left join of every
  * mention to its block's KB aliases, the score as Column expressions
  * per candidate pair, and the per-mention argmax as a `max_by`
  * aggregate.
  */
object JoinGroupByLinker {
  private def sepEscaped(c: org.apache.spark.sql.Column) =
    regexp_replace(regexp_replace(c, "%", "%25"), "#", "%23")

  def link(mentions: Dataset[MentionRow], kbAliases: DataFrame): DataFrame = {
    val m = mentions.toDF()
      .where(col("depth") === 0)
      .withColumn("mention_id",
        concat_ws("#", sepEscaped(col("repo")), sepEscaped(col("path")),
          sepEscaped(col("commit")),
          col("sentIdx"), col("begin"), col("end"), col("depth")))
      .withColumn("surface_norm", lower(col("surface")))
      .withColumn("block_key", split(col("surface_norm"), " ").getItem(0))
      .withColumn("ctx_toks",
        transform(filter(split(col("context"), " "),
          t => t.substr(1, 1) =!= lower(t.substr(1, 1))),
          t => lower(t)))
      .withColumn("ne_root", substring_index(col("neType"), ".", 1))
      .drop("context")
    val kb = kbAliases
      .withColumn("block_key", split(col("alias_norm"), " ").getItem(0))
      .withColumn("canon_toks", split(lower(col("canonical")), " "))
      .withColumn("type_root", substring_index(col("entity_type"), ".", 1))
    val scored = m
      .join(broadcast(kb), Seq("block_key"), "left_outer")
      .withColumn("lev",
        when(col("alias_norm").isNotNull,
          levenshtein(col("surface_norm"), col("alias_norm"), 4)))
      .withColumn("valid", col("lev").isNotNull && col("lev") >= 0)
      .withColumn("type_match",
        when(!col("valid"), 0)
          .when(col("neType") === col("entity_type"), 1)
          .when(col("ne_root") === col("type_root"), 1)
          .otherwise(0))
      .withColumn("ctx_overlap",
        when(!col("valid"), 0).otherwise(
          size(array_intersect(col("ctx_toks"), col("canon_toks")))))
      .withColumn("score",
        when(!col("valid"), lit(-1000)).otherwise(
          when(col("lev") === 0, lit(8)).otherwise(lit(0)) +
            (lit(4) - col("lev")) + col("type_match") * lit(3) +
            col("ctx_overlap")))
    scored.groupBy("mention_id")
      .agg(
        max_by(when(col("valid"), col("entity_id")),
          struct(col("score"), col("entity_id"))).as("best_entity"),
        max(when(col("valid"), col("score"))).as("score"),
        first(col("repo")).as("repo"), first(col("path")).as("path"),
        first(col("commit")).as("commit"), first(col("sentIdx")).as("sentIdx"),
        first(col("begin")).as("begin"), first(col("end")).as("end"),
        first(col("depth")).as("depth"), first(col("neType")).as("neType"),
        first(col("surface_norm")).as("surface_norm"))
      .withColumn("entity_id",
        coalesce(col("best_entity"),
          concat(lit("nil:"), col("surface_norm"))))
      .drop("best_entity")
  }
}

/** Parity of the in-partition linker and the driver canonicalization
  * with the distributed renditions they replace, on synthetic input and
  * on hand-built hostile rows.
  */
class LinkParitySpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark

  private def multiset(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.map(String.valueOf).mkString("\u0001")).toSeq.sorted

  private def assertParity(ments: Dataset[MentionRow], kb: DataFrame): Seq[String] = {
    val got = KgPipeline.linkMentions(spark, ments, kb)
    val want = JoinGroupByLinker.link(ments, kb)
    assert(got.schema == want.schema)
    val rows = multiset(got)
    assert(rows == multiset(want))
    rows
  }

  test("linker == join + groupBy oracle on synthetic input") {
    val files = KgPipeline.synthInput(spark, 150, partitions = 3)
    val ments = KgPipeline.detectMentions(spark, files, KgMain.model).cache()
    try {
      val rows = assertParity(ments,
        KgPipeline.kbAliasDf(spark, Synth.knowledgeBase))
      assert(rows.size > 100)
      assert(rows.exists(_.contains("nil:")) && rows.exists(_.contains("per:")))
    } finally ments.unpersist()
  }

  test("linker == join + groupBy oracle on hostile rows") {
    import spark.implicits._
    // U+FF21 sorts above U+D83D in UTF-16 but below U+1F600 in UTF-8:
    // a tie between these ids is decided by byte order
    val wide = "org:Ａcme"
    val emoji = "org:😀cme"
    val kb = Seq(
      ("nowak", "per:Lukasz_Nowak", "persName", "Łukasz Nowak"),
      ("nowak", "per:Anna_Nowak", "persName", "Anna Nowak"),
      ("örebro", "loc:Orebro", "placeName", "Örebro"),
      ("acme", wide, "orgName", "Acme"),
      ("acme", emoji, "orgName", "Acme"),
      ("acme", "org:Acme", "orgName", "Acme"),
      ("acme", "org:Acme", "orgName", "Acme"), // duplicate alias row
      ("acme industrial holdings", "org:Acme_Industrial", "orgName",
        "Acme Industrial Holdings"),
      ("far", "org:Far", "orgName", "Far"))
      .toDF("alias_norm", "entity_id", "entity_type", "canonical")
    def m(repo: String, path: String, sent: Int, begin: Int, depth: Int,
          neType: String, surface: String, context: String) =
      MentionRow(repo, path, "a" * 40, sent, begin, begin + 1, depth, neType,
        surface, context)
    val rows = Seq(
      // capitalized non-ASCII context decides between two "nowak"s
      m("r", "a.md", 0, 1, 0, "persName", "Nowak", "Łukasz Nowak met Zofia"),
      m("r", "a.md", 1, 0, 0, "persName", "Nowak", "Nowak left Örebro"),
      // exact alias, sub-type matches on the type root
      m("r", "a.md", 2, 3, 0, "placeName.settlement", "Örebro",
        "in the town of Örebro"),
      // three-way score tie: the largest id in byte order wins
      m("r", "b.md", 0, 0, 0, "orgName", "ACME", "ACME shipped"),
      m("r", "b.md", 1, 0, 0, "persName", "Acmee", "Acmee said"),
      // no candidate in the block
      m("r", "b.md", 2, 0, 0, "orgName", "Zyzzyx", "Zyzzyx again"),
      // lowercase surfaces, no capitalized context
      m("r", "b.md", 3, 0, 0, "orgName", "acme", "acme industrial"),
      m("r", "b.md", 3, 2, 0, "orgName", "far", "far far away"),
      // a block whose only alias is beyond distance 4
      m("r", "b.md", 4, 0, 0, "orgName", "Far away from home", "x"),
      // separators in repo and path must not merge distinct mentions
      m("o#r%g", "x#y%23.md", 0, 0, 0, "orgName", "Acme", "Acme"),
      m("o%23r%25g", "x%23y%2523.md", 0, 0, 0, "orgName", "Acme", "Acme"),
      m("o", "r#x#y%23.md", 0, 0, 0, "orgName", "Acme", "Acme"),
      // nested sub-spans are not linked
      m("r", "c.md", 0, 0, 1, "persName", "Nowak", "Nowak"),
      m("r", "c.md", 0, 1, 2, "orgName", "Acme", "Acme"))
    // every input row twice: duplicates merge
    val ments = (rows ++ rows).toDS()
    val got = assertParity(ments, kb)
    assert(got.size == rows.count(_.depth == 0))
    val linked = KgPipeline.linkMentions(spark, ments, kb)
      .select("sentIdx", "path", "entity_id", "score").collect()
      .map(r => (r.getInt(0), r.getString(1)) -> (r.getString(2), r.get(3)))
      .toMap
    assert(linked((0, "a.md"))._1 == "per:Lukasz_Nowak")
    assert(linked((2, "a.md")) == ("loc:Orebro", 16))
    assert(linked((4, "b.md")) == ("nil:far away from home", null))
    assert(linked((0, "b.md"))._1 == emoji)
    assert(linked((2, "b.md")) == ("nil:zyzzyx", null))
  }

  test("driver canon == distributed canon when alias bridges chain entities") {
    import spark.implicits._
    // four duplicate-source entities (one canonical name) chained by
    // shared aliases a-b, b-c, c-d; the UTF-8-least id represents them
    val ids = Seq("org:😀", "org:Ａ", "qrg:acme", "qrgdup:acme")
    val kb = (Seq(("acme one", ids(0), ids(1)), ("acme two", ids(1), ids(2)),
        ("acme three", ids(2), ids(3)))
      .flatMap { case (alias, a, b) =>
        Seq((alias, a, "orgName", "Acme"), (alias, b, "orgName", "Acme")) } ++
      Seq(("acme", ids(2), "orgName", "Acme"),
        ("smith", "per:John_Smith", "persName", "John Smith"),
        ("smith", "per:Jane_Smith", "persName", "Jane Smith")))
      .toDF("alias_norm", "entity_id", "entity_type", "canonical")
    // observed: a nil cluster sharing "smith" must not bridge the Smiths
    val linked = Seq(("per:John_Smith", "john smith"),
        ("nil:smith", "smith"), (ids(3), "acme three"))
      .toDF("entity_id", "surface_norm")
    def canon(threshold: Int) = {
      val c = KgPipeline.canonicalize(spark, linked, kb, threshold)
      try c.collect().map(r => r.getString(0) -> r.getString(1)).toMap
      finally KgPipeline.releaseCanon(spark, c, blocking = true)
    }
    // under the threshold the map comes back as a local relation:
    // nothing to checkpoint, nothing distributed left to run
    val local = KgPipeline.canonicalize(spark, linked, kb)
    assert(local.queryExecution.optimizedPlan.isInstanceOf[
      org.apache.spark.sql.catalyst.plans.logical.LocalRelation],
      local.queryExecution.optimizedPlan)
    val viaDriver = canon(KgPipeline.ccCollectThreshold)
    assert(viaDriver == canon(0))
    assert(viaDriver == canon(-1))
    ids.foreach(id => assert(viaDriver(id) == "org:Ａ", id))
    assert(viaDriver("per:John_Smith") == "per:John_Smith")
    assert(!viaDriver.contains("per:Jane_Smith") &&
      !viaDriver.contains("nil:smith"))
  }
}
