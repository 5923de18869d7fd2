package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native n-token shingle generation: `ner_shingles(text, n)` — all
  * n-token windows of the space-split text, space-rejoined; the
  * workhorse under substring dedup (q51/q52/q55), decontamination
  * (q67), repetition stats (q68), and the hashed-n-gram featurizers
  * (q74/q75).
  *
  * Why a native expression and not the `transform(sequence(...),
  * slice+array_join)` composition it replaces: Catalyst higher-order
  * functions evaluate their lambda INTERPRETED (CodegenFallback), and
  * in interpreted mode each `slice(split(text), ...)` re-evaluates the
  * `split` child PER ELEMENT — O(tokens × chars) per document. The
  * round-6 bench caught it: shingle-heavy queries dominated the board
  * (q67 6.7 s, q68 5.2 s, q74 14 s at sf0.1). This expression is one
  * O(chars) kernel call that participates in whole-stage codegen.
  *
  * Semantics are BIT-PARITY with [[graft.pipeline.Decontam.shinglesOf]]
  * (split on " " keeping empty tokens, fewer than n tokens → empty
  * array, windows joined with " ") and with the old column composition:
  * NULL text yields an EMPTY ARRAY, not NULL — `size(...) > 0` filters
  * must keep behaving identically. Pinned in DecontamSpec.
  */
object ShingleKernel {
  def shingles(s: UTF8String, n: Int): ArrayData = {
    if (s == null) return new GenericArrayData(Array.empty[Any])
    val toks = s.toString.split(" ", -1)
    if (toks.length < n) new GenericArrayData(Array.empty[Any])
    else {
      val out = new Array[Any](toks.length - n + 1)
      var i = 0
      while (i <= toks.length - n) {
        if (n == 1) out(i) = UTF8String.fromString(toks(i))
        else {
          val sb = new java.lang.StringBuilder
          var j = 0
          while (j < n) {
            if (j > 0) sb.append(' ')
            sb.append(toks(i + j))
            j += 1
          }
          out(i) = UTF8String.fromString(sb.toString)
        }
        i += 1
      }
      new GenericArrayData(out)
    }
  }
}

case class NerShingles(child: Expression, n: Int) extends UnaryExpression {
  require(n >= 1, s"shingle width must be >= 1: $n")

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  // NULL text yields an empty array (the contract every consumer's
  // `size(...) > 0` filter was written against), so the result itself
  // is never null
  override def nullable: Boolean = false

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects string, got ${child.dataType.simpleString}")

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any =
    ShingleKernel.shingles(child.eval(input).asInstanceOf[UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode = {
    val childGen = child.genCode(ctx)
    val kernel = "graft.functions.ShingleKernel"
    ev.copy(
      code = code"""
        ${childGen.code}
        org.apache.spark.sql.catalyst.util.ArrayData ${ev.value} =
          $kernel.shingles(${childGen.isNull} ? null : ${childGen.value}, $n);
      """,
      isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(c: Expression): NerShingles =
    copy(child = c)
  override def prettyName: String = "ner_shingles"
}

object ShingleFunctions {
  import org.apache.spark.sql.graft.Bridge

  def ner_shingles(text: Column, n: Int): Column =
    Bridge.column(NerShingles(Bridge.expression(text), n))
}
