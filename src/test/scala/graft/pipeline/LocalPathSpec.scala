package graft.pipeline

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

class LocalPathSpec extends AnyFunSuite {
  import SparkTestSession.jobsOf
  lazy val spark = SparkTestSession.spark

  // `s` is nullable here though the input's is not: the emit must carry
  // the given schema, not the collected one
  private val schema = StructType(Seq(
    StructField("n", LongType, nullable = false),
    StructField("s", StringType, nullable = true)))

  /** `n` rows `(id, "<id>")` from a Spark plan that takes a job to collect. */
  private def rows(n: Int): DataFrame =
    spark.range(n).selectExpr("id AS n", "CAST(id AS STRING) AS s")

  private def isLocal(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan.isInstanceOf[LocalRelation]

  private def values(df: DataFrame): Seq[(Long, String)] =
    df.collect().map(r => (r.getLong(0), r.getString(1))).toSeq.sortBy(_._1)

  test("exactly `budget` rows take the driver path, `budget + 1` do not") {
    val budget = 5
    var built = 0
    def distributed(n: Int) = { built += 1; rows(n) }
    val at = LocalPath.decide(rows(budget), budget, schema)(r =>
      Some(r.toSeq))(distributed(budget))
    assert(isLocal(at) && built == 0, "the driver path built the distributed plan")
    assert(values(at) == (0L until budget).map(i => (i, i.toString)))
    val over = LocalPath.decide(rows(budget + 1), budget, schema)(_ =>
      fail("the kernel ran over budget"))(distributed(budget + 1))
    assert(!isLocal(over) && built == 1)
    assert(values(over) == (0L to budget).map(i => (i, i.toString)))
  }

  test("a negative budget runs the distributed path without a job") {
    val dist = rows(3)
    val (out, jobs) = jobsOf(LocalPath.decide(rows(3), -1, schema)(_ =>
      fail("the kernel ran"))(dist))
    assert(jobs == 0, s"a negative budget launched $jobs jobs")
    assert(out eq dist)
  }

  test("a kernel that declines falls through to the distributed path") {
    val dist = rows(3).where("n > 0")
    var seen = 0
    val out = LocalPath.decide(rows(3), 10, schema) { r =>
      seen = r.length
      None
    }(dist)
    assert(seen == 3 && (out eq dist))
  }

  test("the emit has the given schema, nullability included, and takes internal values") {
    val out = LocalPath.decide(rows(2), 10, schema)(r => Some(r.toSeq))(rows(2))
    assert(rows(2).schema("s").nullable == false)
    assert(out.schema == schema)
    // a value already in Spark's internal form passes as it is
    val utf8 = LocalPath.emit(spark, schema, Seq(Row(7L,
      org.apache.spark.unsafe.types.UTF8String.fromString("é✓")), Row(8L, null)))
    assert(utf8.schema == schema)
    assert(utf8.collect().toSeq == Seq(Row(7L, "é✓"), Row(8L, null)))
  }

  test("an input that is already a local relation costs no job") {
    import spark.implicits._
    val local = Seq((1L, "a"), (2L, "b")).toDF("n", "s")
    val (out, jobs) = jobsOf(LocalPath.decide(local, 10, schema)(r =>
      Some(r.toSeq))(fail("the distributed path was built")))
    assert(jobs == 0, s"collecting a local relation launched $jobs jobs")
    assert(isLocal(out) && values(out) == Seq((1L, "a"), (2L, "b")))
  }
}
