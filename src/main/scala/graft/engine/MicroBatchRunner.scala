package graft.engine

import org.apache.spark.sql.DataFrame

/** Deterministic micro-batch driver: applies (epoch, batch) pairs in order.
  * The table's epoch ledger is the only record of progress — a restarted
  * driver simply replays its batches, and `applyBatch` skips each epoch
  * already committed before any Spark job runs. So any epoch missing from
  * the ledger is applied, whatever higher epochs landed before it.
  *
  * Mirrors the reference's replay loop over sorted snapshot folders with
  * commit-every-N (/root/reference/ingestion.py:114-127,
  * /root/reference/etl/fact_changed.py:851-875) — except batches here are
  * LSN ranges and the commit is an icelite snapshot.
  */
class MicroBatchRunner(val engine: CdcEngine) {

  def run(batches: Seq[(Long, DataFrame)]): Seq[CommitResult] =
    batches.map { case (epoch, df) => engine.applyBatch(epoch, df) }
}
