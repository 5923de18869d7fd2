package graft.queries

import graft.pipeline.{KgPipeline, SparkTestSession}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The q87/q89/q91 triple set built on the driver against the Spark
  * composition it replaced, kept here verbatim as the oracle.
  */
class SyntheticTriplesSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  /** The composition `RelationalQueries.syntheticTriples` ran before its
    * driver path, over an `events` frame.
    */
  private def oracle(events: DataFrame): DataFrame = {
    val ev = events
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

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.mkString("\u0000")).sorted.toSeq

  private def assertParity(dir: String): Unit = {
    val want = oracle(spark.read.parquet(s"$dir/events.parquet"))
    val local = RelationalQueries.syntheticTriples(spark, dir,
      KgPipeline.tripleCollectThreshold)
    val composed = RelationalQueries.syntheticTriples(spark, dir, -1)
    assert(local.queryExecution.optimizedPlan.isInstanceOf[
      org.apache.spark.sql.catalyst.plans.logical.LocalRelation])
    for (df <- Seq(local, composed)) {
      assert(df.schema == want.schema)
      assert(rows(df) == rows(want))
    }
  }

  for (sf <- Seq("sf0.001", "sf0.01"))
    test(s"the driver-built triple set equals the composition on the $sf events") {
      val dir = s"/root/testdata/$sf"
      assume(new java.io.File(s"$dir/events.parquet").exists())
      assertParity(dir)
    }

  test("the driver-built triple set equals the composition with NULL and negative ids") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_trip").toString
    Seq[(Option[Long], Option[Long])](
      (Some(0L), Some(3L)), (Some(500L), Some(3L)), (Some(-500L), Some(-7L)),
      (Some(1000L), None), (None, Some(2L)), (None, None), (Some(-3L), Some(-51L)),
      (Some(7L), Some(149L)), (Some(8L), Some(-100L)), (Some(1500L), Some(53L)),
      (Some(Long.MinValue), Some(Long.MinValue)), (Some(9L), Some(2L)))
      .toDF("event_id", "user_id")
      .write.parquet(s"$dir/events.parquet")
    assertParity(dir)
  }
}
