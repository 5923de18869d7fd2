package graft.functions

import graft.pipeline.SparkTestSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class VecExprSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  val dir = "/root/testdata/sf0.001"
  def available: Boolean = new java.io.File(s"$dir/embeddings.parquet").exists()

  /** The SQL-lambda formulation ner_cosine replaces. */
  private def lambdaCos(a: String, b: String) = {
    val dot = expr(
      s"aggregate(zip_with($a, $b, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)")
    val nrm = (c: String) => expr(
      s"sqrt(aggregate($c, CAST(0.0 AS DOUBLE), (acc, v) -> acc + CAST(v AS DOUBLE) * CAST(v AS DOUBLE)))")
    dot / (nrm(a) * nrm(b))
  }

  test("ner_cosine is bit-identical to the SQL-lambda formulation") {
    assume(available)
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val q = emb.where(col("vec_id") === 0).select(col("embedding").as("qv"))
    val both = emb.crossJoin(broadcast(q))
      .select(col("vec_id"),
        VecFunctions.ner_cosine(col("embedding"), col("qv")).as("native"),
        lambdaCos("embedding", "qv").as("viaLambda"))
      .collect()
    assert(both.length > 100)
    both.foreach { r =>
      // exact doubles: same accumulation order, same casts
      assert(java.lang.Double.compare(r.getDouble(1), r.getDouble(2)) == 0,
        s"vec ${r.getLong(0)}: ${r.getDouble(1)} != ${r.getDouble(2)}")
    }
  }

  test("ner_cosine is null-safe") {
    import spark.implicits._
    val df = Seq(
      (1L, Array(1f, 0f), Array(1f, 0f)),
      (2L, Array(0f, 2f), Array(0f, 1f)),
      (3L, Array(3f, 4f), Array(4f, 3f))
    ).toDF("id", "a", "b")
    val cos = df.select(col("id"), VecFunctions.ner_cosine(col("a"), col("b")))
      .orderBy("id").collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(cos(0)._2 == 1.0)
    assert(math.abs(cos(1)._2 - 1.0) < 1e-12)
    assert(math.abs(cos(2)._2 - 24.0 / 25.0) < 1e-12)
    // nulls propagate
    val withNull = df.select(
      VecFunctions.ner_cosine(lit(null).cast("array<float>"), col("b")).as("c"))
      .collect()
    assert(withNull.forall(_.isNullAt(0)))
    // a null ELEMENT null-poisons too (lambda parity) — reading the slot
    // as 0.0 would produce a defined-but-wrong similarity
    val nullElem = spark.range(1).select(VecFunctions.ner_cosine(
        expr("array(CAST(NULL AS FLOAT), CAST(1.0 AS FLOAT))"),
        expr("array(CAST(1.0 AS FLOAT), CAST(1.0 AS FLOAT))")))
      .collect()(0)
    assert(nullElem.isNullAt(0), "null element must yield SQL NULL")
  }

  test("ner_cosine participates in whole-stage codegen") {
    assume(available)
    // exchange-free plan (scan + project) so the WholeStageCodegen span
    // is visible without executing through AQE re-planning
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val df = emb.select(
      VecFunctions.ner_cosine(col("embedding"), col("embedding")).as("c"))
    // `*(n)` is the WholeStageCodegen marker in the compact plan string
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("*(1) Project [ner_cosine"),
      s"projection not inside a codegen span:\n$plan")
    // and the generated code actually runs (no codegen fallback):
    assert(df.where(abs(col("c") - 1.0) < 1e-9).count() == emb.count())
  }
}
