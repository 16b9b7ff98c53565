package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.Erasure

/** Streaming erasure sink — the GDPR right-to-be-forgotten path on a
  * LIVE serving table, without stopping the stream that feeds it
  * (round-9 verdict task #4). Deletion requests arrive as a stream of
  * subject keys; each micro-batch applies
  * [[Erasure.erasePartitionScopedAtomic]] against the serving tree and
  * appends the per-subject audit rows to the ledger, so a request
  * received in batch N provably erases rows admitted by any earlier
  * batch — and the serving table stays queryable throughout, because
  * the atomic manifest commit means a concurrent reader sees the
  * pre-erasure or post-erasure snapshot, never a mix.
  *
  * Delivery semantics: `foreachBatch` is at-least-once on failure, and
  * erasure is idempotent BY CONSTRUCTION (re-erasing an already-erased
  * key deletes zero rows) — the [[StreamingUpsert]] argument. A
  * redelivered batch produces a second ledger row for its keys with
  * `n_rows_erased = 0`, which is the honest audit record of a retried
  * request, not a defect.
  *
  * Scale shape per batch: one thin key+partition projection of the
  * serving table against the broadcast request batch, then a rewrite
  * of only the partitions that held the subjects' rows — request-sized
  * work against an arbitrarily large table.
  */
object StreamingErasure {

  /** Start the erasure loop: each micro-batch of `requests` (subject
    * key rows) erases from the `partCol`-partitioned table at
    * `servingRoot`, with audit rows appended to `ledgerPath`. Batch ids
    * stamp the ledger as `erase-<epoch>`. */
  def run(requests: DataFrame, servingRoot: String, checkpointDir: String,
          partCol: String, keys: Seq[String],
          ledgerPath: String): StreamingQuery =
    requests.writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, epoch: Long) =>
        if (!batch.isEmpty)
          Erasure.erasePartitionScopedAtomic(batch.sparkSession, servingRoot,
            Seq(partCol), batch, keys, batchId = s"erase-$epoch",
            ledgerPath = Some(ledgerPath))
      }
      .start()
}
