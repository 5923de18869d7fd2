package graft.pipeline

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types.StructType

/** The one place an operator with two paths picks one: its driver
  * kernel ([[LocalGraph]], [[LocalSets]], [[LocalTriples]]) over the
  * collected input when that fits its measured budget, its distributed
  * plan otherwise ("To Partition, or Not to Partition", PAPERS.md).
  */
private[graft] object LocalPath {

  /** `kernel`'s rows over `input`'s collected rows when `input` has at
    * most `budget` rows, else `distributed`. A negative budget answers
    * `distributed` without a job; otherwise one `limit(budget + 1)`
    * collect both decides and collects (no job over a local relation).
    * The kernel may still decline with None, when its own measure of the
    * work (a pair volume, a binding count) is over budget. Its rows come
    * back through [[emit]] with `schema`. `distributed` is by name, so an
    * eager distributed path (a checkpointed fixpoint) never runs when
    * the driver path wins.
    */
  def decide(input: DataFrame, budget: Int, schema: StructType)
            (kernel: Array[Row] => Option[collection.Seq[Row]])
            (distributed: => DataFrame): DataFrame = {
    val local =
      if (budget < 0) None
      else Some(input.limit(math.min(budget, Int.MaxValue - 1) + 1).collect())
        .filter(_.length <= budget).flatMap(kernel)
    local.fold(distributed)(emit(input.sparkSession, schema, _))
  }

  /** `rows` as a local relation of `schema` (names, types and
    * nullability as given). Each value is converted to Spark's internal
    * form once; a value already in that form (a `UTF8String`) passes as
    * it is.
    */
  def emit(spark: SparkSession, schema: StructType,
           rows: collection.Seq[Row]): DataFrame = {
    val toInternal = CatalystTypeConverters.createToCatalystConverter(schema)
    val data = rows.iterator.map(toInternal(_).asInstanceOf[InternalRow]).toArray
    Bridge.ofRows(spark, LocalRelation(DataTypeUtils.toAttributes(schema),
      collection.immutable.ArraySeq.unsafeWrapArray(data)))
  }
}
