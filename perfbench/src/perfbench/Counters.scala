package perfbench

import graft.io.TableIO
import graft.pipeline.KgPipeline
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Data-quality and waste counters, measured in a traced run from each
  * layer's materialized input and output, after the op's wall closed.
  * Each call adds one sample per counter.
  */
object Counters {

  def ner(h: Harness, ments: Dataset[KgPipeline.MentionRow]): Unit = {
    val p99 = ments.groupBy("repo", "path", "commit").count()
      .agg(expr("percentile(`count`, 0.99)")).head()
    h.sample("ner.mentions_per_file_p99",
      if (p99.isNullAt(0)) 0.0 else p99.getDouble(0))
  }

  /** NIL rate, and candidates per linked mention: the KB aliases that
    * share the mention's blocking key (first token), as `linkMentions`
    * blocks them.
    */
  def link(h: Harness, linked: DataFrame, kb: DataFrame): Unit = {
    val perKey = kb.groupBy(split(col("alias_norm"), " ").getItem(0)
      .as("block_key")).agg(count(lit(1)).as("cands"))
    val r = linked
      .select(split(col("surface_norm"), " ").getItem(0).as("block_key"),
        col("entity_id"))
      .join(broadcast(perKey), Seq("block_key"), "left")
      .agg(count(lit(1)),
        count(when(col("entity_id").startsWith("nil:"), 1)),
        coalesce(sum(col("cands")), lit(0L))).head()
    val n = r.getLong(0).toDouble max 1.0
    h.sample("link.nil_rate", r.getLong(1) / n)
    h.sample("link.cand_per_mention", r.getLong(2) / n)
  }

  def canon(h: Harness, linked: DataFrame, kb: DataFrame,
            canon: DataFrame): Unit = {
    h.sample("canon.edges", KgPipeline.aliasEdges(linked, kb).count().toDouble)
    val r = canon.groupBy("canon_id").count()
      .agg(coalesce(max(col("count")), lit(0L))).head()
    h.sample("canon.max_component", r.getLong(0).toDouble)
  }

  /** Type-triple rows kept by the dedup ÷ rows before it (one per
    * linked mention).
    */
  def triples(h: Harness, linked: DataFrame, trip: DataFrame): Unit = {
    val typed = trip.where(col("pred") === "hasType").count().toDouble
    h.sample("triples.type_dedup_ratio", typed / (linked.count().toDouble max 1.0))
  }

  def write(h: Harness, out: String, commits: Seq[TableIO.BucketCommit]): Unit = {
    val (bytes, files) = h.diskUsage(s"$out/data", ".parquet")
    h.sample("write.bytes_on_disk", bytes.toDouble)
    h.sample("write.files", files.toDouble)
    val rows = commits.map(_.rows.toDouble)
    h.sample("write.bucket_skew", rows.max / (Harness.mean(rows) max 1.0))
  }
}
