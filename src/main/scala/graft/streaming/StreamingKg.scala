package graft.streaming

import graft.NerfModel
import graft.pipeline.KgPipeline
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming KG maintenance — the flagship pipeline as a continuous
  * ingest: a stream of changed repo files (a crawler/CDC feed) is
  * merged micro-batch by micro-batch into the committed triples table
  * through [[KgPipeline.mergeDeltaCanonical]], under the PERSISTED
  * canonicalization state ([[graft.pipeline.CanonState]]). After every
  * processed batch the table equals a full batch pipeline run over all
  * files ever ingested — the same invariant the batch maintenance path
  * pins (PipelineSpec), now held continuously.
  *
  * Why `foreachBatch` and not a stateful streaming operator: the
  * pipeline's state is DURABLE and SHARED — the bucketed triples table
  * and the canonical evidence set live on storage, where batch
  * maintenance ([[graft.KgDeltaMain]]), compaction, and readers see
  * them — not per-key executor state that dies with the query. What
  * streaming contributes is the trigger loop and resume bookkeeping;
  * the merge itself must be the SAME audited, idempotent commit
  * machinery the batch path runs, or batch and streaming maintenance
  * would race each other with different semantics.
  *
  * Delivery semantics: `foreachBatch` is at-least-once (a crashed
  * micro-batch replays after restart from `checkpointDir`). Every
  * layer of the merge is idempotent — keyed bucket upserts, distinct
  * edge-set union, remap join (the replay test in PipelineSpec pins a
  * full re-merge byte-identical) — so the composition is effectively
  * exactly-once on table content.
  *
  * Single-maintainer contract: one maintenance writer per table at a
  * time. Micro-batches of one query serialize by construction. A second
  * maintenance job — streaming or batch — against the same `triplesDir`
  * fails fast when its merge reaches a bucket this one holds (TableIO's
  * per-bucket locks), but the canonicalization state has one writer and
  * no lock, so do not run one concurrently at all.
  */
object StreamingKg {

  /** Start the maintenance query over a streaming Dataset of changed
    * files. The table and (on first batch) the canonicalization state
    * must already exist — bootstrap with [[graft.KgMain]] +
    * [[graft.KgDeltaMain]] or [[KgPipeline.canonicalizeWithState]];
    * requiring that here would force a job on every query start.
    *
    * A canonical SPLIT under new evidence aborts the query loudly
    * (the [[KgPipeline.canonicalizeWithState]] contract): the table
    * cannot be reconciled in place, so the operator must stop rather
    * than keep committing against a stale canonical map.
    */
  def maintainTriples(files: Dataset[KgPipeline.RepoFile],
                      triplesDir: String, buckets: Int, model: NerfModel,
                      stateDir: String, checkpointDir: String,
                      trigger: Option[org.apache.spark.sql.streaming.Trigger] = None)
      : StreamingQuery = {
    val w0 = files.writeStream
      .option("checkpointLocation", checkpointDir)
    trigger.fold(w0)(w0.trigger)
      .foreachBatch { (batch: Dataset[KgPipeline.RepoFile], _: Long) =>
        // an empty trigger (no new data) must not pay a full
        // canonicalization pass + state version bump
        if (!batch.isEmpty) {
          KgPipeline.mergeDeltaCanonical(batch.sparkSession, triplesDir,
            buckets, batch, model, stateDir)
          ()
        }
      }
      .start()
  }
}
