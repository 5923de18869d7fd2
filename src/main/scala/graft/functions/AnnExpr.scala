package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native codegen kernels for the ANN hot path (sign-LSH bucketing and
  * IVF cell assignment over `array<float>` embeddings).
  *
  * Round 3/early-4 ran these as typed `flatMap`/`map` — every corpus row
  * crossed the object boundary (DeserializeToObject → Scala tuple →
  * SerializeFromObject) just to compute a handful of dot products. As
  * Catalyst expressions the whole candidate-generation stage stays
  * inside WholeStageCodegen reading Tungsten buffers directly, the same
  * move `ner_cosine` (VecExpr.scala) made for scoring. The
  * model constants (hyperplanes / centroids) ride along via codegen
  * reference objects, not literals — a 32×64 centroid matrix as literal
  * trees would blow up codegen.
  *
  * Null elements inside an embedding are read as 0.0 (a DEFINED bucket /
  * cell rather than a silently dropped document — a generator over a
  * null array emits no rows, which would make a malformed row vanish
  * from the index without trace). The typed path these replace could not
  * encounter element nulls at all (primitive-array encoder), so the
  * choice is new surface, pinned in AnnExprSpec.
  */
object AnnKernels {

  /** Per-table sign bucket of `v` under `planes` (tables × bits × dim);
    * identical math to `Ann.SignLsh.buckets` (pinned equal in
    * AnnExprSpec).
    */
  def signBuckets(planes: Array[Array[Array[Double]]], v: ArrayData): ArrayData = {
    val out = new Array[Long](planes.length)
    val vn = v.numElements()
    var t = 0
    while (t < planes.length) {
      val tbl = planes(t)
      var bucket = 0L
      var b = 0
      while (b < tbl.length) {
        val pl = tbl(b)
        var dot = 0.0
        var i = 0
        val n = math.min(pl.length, vn)
        while (i < n) {
          if (!v.isNullAt(i)) dot += pl(i) * v.getFloat(i)
          i += 1
        }
        if (dot > 0) bucket |= (1L << b)
        b += 1
      }
      out(t) = bucket
      t += 1
    }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
      .fromPrimitiveArray(out)
  }

  /** Squared L2 distance from centroid `cv` to `v` over their common
    * prefix, NULL elements read as 0.0 — the one distance loop of
    * [[nearestCell]] and [[topCells]].
    */
  private def sqDist(cv: Array[Float], v: ArrayData): Double = {
    var d = 0.0
    var i = 0
    val n = math.min(cv.length, v.numElements())
    while (i < n) {
      val x = if (v.isNullAt(i)) 0.0f else v.getFloat(i)
      val diff = cv(i) - x
      d += diff * diff
      i += 1
    }
    d
  }

  /** Squared-L2 nearest centroid, deterministic first-wins tie-break —
    * identical to `VecOps.nearestCell` (pinned equal in AnnExprSpec).
    */
  def nearestCell(cents: Array[Array[Float]], v: ArrayData): Int = {
    var best = 0
    var bestD = Double.MaxValue
    var c = 0
    while (c < cents.length) {
      val d = sqDist(cents(c), v)
      if (d < bestD) { bestD = d; best = c }
      c += 1
    }
    best
  }

  /** Indices of the `n` nearest centroids, ascending distance with
    * deterministic index tie-break — identical ordering to
    * `VecOps.topCells` (full sort by (dist, idx), then prefix).
    */
  def topCells(cents: Array[Array[Float]], n: Int, v: ArrayData): ArrayData = {
    val ds = new Array[(Double, Int)](cents.length)
    var c = 0
    while (c < cents.length) {
      ds(c) = (sqDist(cents(c), v), c)
      c += 1
    }
    val sorted = ds.sortBy(identity)
    val k = math.min(n, sorted.length)
    val out = new Array[Int](k)
    var j = 0
    while (j < k) { out(j) = sorted(j)._2; j += 1 }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
      .fromPrimitiveArray(out)
  }
}

/** Shared shape for the three embedding-consuming expressions: one
  * `array<float>` child, a broadcast-sized model constant embedded as a
  * codegen reference object.
  */
trait AnnVecExpression extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects array<float>, got ${other.simpleString}")
  }
}

/** `array<long>`: one sign bucket per LSH table. */
case class NerSignBuckets(child: Expression,
                          planes: Array[Array[Array[Double]]])
    extends AnnVecExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override protected def nullSafeEval(v: Any): Any =
    AnnKernels.signBuckets(planes, v.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("planes", planes, "double[][][]")
    defineCodeGen(ctx, ev, v =>
      s"graft.functions.AnnKernels.signBuckets($ref, $v)")
  }
  override protected def withNewChildInternal(c: Expression): NerSignBuckets =
    copy(child = c)
  override def prettyName: String = "ner_sign_buckets"
}

/** `int`: index of the nearest IVF centroid. */
case class NerNearestCell(child: Expression, cents: Array[Array[Float]])
    extends AnnVecExpression {
  override def dataType: DataType = IntegerType
  override protected def nullSafeEval(v: Any): Any =
    AnnKernels.nearestCell(cents, v.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("cents", cents, "float[][]")
    defineCodeGen(ctx, ev, v =>
      s"graft.functions.AnnKernels.nearestCell($ref, $v)")
  }
  override protected def withNewChildInternal(c: Expression): NerNearestCell =
    copy(child = c)
  override def prettyName: String = "ner_nearest_cell"
}

/** `array<int>`: the `nProbe` nearest IVF cells, ascending distance. */
case class NerTopCells(child: Expression, cents: Array[Array[Float]],
                       nProbe: Int)
    extends AnnVecExpression {
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override protected def nullSafeEval(v: Any): Any =
    AnnKernels.topCells(cents, nProbe, v.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("cents", cents, "float[][]")
    defineCodeGen(ctx, ev, v =>
      s"graft.functions.AnnKernels.topCells($ref, $nProbe, $v)")
  }
  override protected def withNewChildInternal(c: Expression): NerTopCells =
    copy(child = c)
  override def prettyName: String = "ner_top_cells"
}

/** Column-API builders. These are NOT registered for SQL use: each is
  * parameterized by a model object (hyperplane / centroid matrices)
  * that has no SQL literal form — they exist for the Ann pipeline's
  * internal plans.
  */
object AnnFunctions {
  import org.apache.spark.sql.graft.Bridge

  def ner_sign_buckets(emb: Column, planes: Array[Array[Array[Double]]]): Column =
    Bridge.column(NerSignBuckets(Bridge.expression(emb), planes))

  def ner_nearest_cell(emb: Column, cents: Array[Array[Float]]): Column =
    Bridge.column(NerNearestCell(Bridge.expression(emb), cents))

  def ner_top_cells(emb: Column, cents: Array[Array[Float]], nProbe: Int): Column =
    Bridge.column(NerTopCells(Bridge.expression(emb), cents, nProbe))
}
