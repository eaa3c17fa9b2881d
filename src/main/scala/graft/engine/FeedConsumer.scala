package graft.engine

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.icelite.ChainStepper

/** Downstream consumer of a table's logical change feed — the analog of the
  * reference's warehouse loader tailing the ETL's upserts
  * (/root/reference/etl/fact_changed.py:821-875): pulls `changesSince(last
  * synced snapshot)` from a SOURCE engine and applies it to a MIRROR table
  * through the same MERGE path, so any icelite table can be replicated by
  * feed alone.
  *
  * Correctness contract (spec-verified, COW and MOR, including late
  * batches): after every `sync()` the mirror's VISIBLE state — keys,
  * payload values, op, ts, content sha — equals the source's. The feed
  * emits one merged-state row per changed key, so each sync is applied as
  * one event per key stamped with a per-sync LSN = the source snapshot id:
  * strictly increasing across syncs, which makes re-delivered rows
  * overwrite (never tie with) the previous sync's cells. Source per-COLUMN
  * lsn provenance is intentionally not replicated — the feed is a state
  * stream, not the original event stream — which is why the stamp must be
  * the sync ordinal, not the row's original `_lsn` (a late source batch can
  * CHANGE a value without raising the row's visible `_lsn`; re-stamping by
  * `_lsn` would tie with the previous sync's cell and lose the update).
  *
  * Exactly-once and resume: the applied epoch IS the source snapshot id,
  * and snapshot ids only grow along a chain, so the mirror's highest
  * committed epoch is the last synced snapshot — the mirror's own ledger
  * is the checkpoint, and a crashed/re-run sync re-applies idempotently.
  */
class FeedConsumer(val source: CdcEngine, val mirror: CdcEngine) {

  // steps syncBacklog through the source chain, walking each snapshot once
  private val stepper = new ChainStepper

  /** Manifest reads spent walking the source chain to enumerate a backlog
    * (observability: asserts the drain's walk is O(backlog) total, not
    * O(backlog²/step) from re-walking the remainder on every step). */
  private[graft] def backlogWalkReads: Long = stepper.walkReads

  def lastSynced: Long = mirror.table.lastEpoch

  /** Pull the feed up to the source's current snapshot and apply it.
    * Returns the number of changed rows applied (0 = already in sync). */
  def sync(): Long = syncTo(source.table.currentSnapshotId)

  /** Drain a backlog in BOUNDED steps: each step syncs a window of at most
    * `maxSnapshotsPerStep` source snapshots and commits it to the mirror
    * before the next, so a crash mid-backlog resumes from the last
    * completed step instead of re-diffing everything — the pacing knob a
    * consumer weeks behind a 10^10-event table needs. Each step's diff is
    * still snapshot-exact; smaller steps trade extra merge passes for
    * bounded per-step work and earlier durable progress. An expired
    * `lastSynced` makes the FIRST step a conservative full redelivery
    * (same rule as `changesSince`), after which stepping is incremental.
    * The backlog chain is walked once (a [[ChainStepper]]; re-extended
    * only by the suffix a source head advancing mid-drain adds), so
    * enumerating an N-snapshot backlog costs O(N) manifest reads total
    * regardless of step size. Returns total rows applied. */
  def syncBacklog(maxSnapshotsPerStep: Int): Long = {
    require(maxSnapshotsPerStep >= 1, "step must be at least one snapshot")
    var total = 0L
    var done = false
    while (!done) {
      val upTo = source.table.currentSnapshotId
      val since = lastSynced
      done = upTo < 0 || upTo == since
      if (!done) {
        val stepEnd = stepper.next(source.table, since, upTo, maxSnapshotsPerStep)
        total += syncTo(stepEnd)
        done = stepEnd == upTo
      }
    }
    total
  }

  private def syncTo(upTo: Long): Long = {
    val since = lastSynced
    if (upTo < 0 || upTo == since) return 0L
    // window pinned to the snapshot observed above: a source commit landing
    // between the read and the apply cannot leak into this sync (it is
    // delivered, completely, by the next one)
    mirror.applyBatch(upTo, FeedConsumer.windowBatch(source, mirror, since, upTo)).events
  }
}

object FeedConsumer {

  /** The change batch that replays the source feed window `(since, upTo]`
    * onto `mirror`: one event per changed key (the mirror's key columns,
    * then the payload), stamped `commit_lsn = upTo`, `seq = 0` — the
    * per-sync stamp the class doc explains. Shared with [[CatalogMirror]],
    * so both consumers turn a window into a batch by one rule. */
  private[engine] def windowBatch(source: CdcEngine, mirror: CdcEngine,
      since: Long, upTo: Long): DataFrame = {
    val feed = source.changesSince(since, toSnapshotId = upTo)
    val keys = mirror.table.meta.keyCols
    val envelope = Set("_op", "_lsn", "_seq", "_ts", "content_sha256")
    val payload = feed.columns.filterNot(c => envelope.contains(c) || keys.contains(c))
    feed.select(keys.map(col) ++ payload.map(col) ++ Seq(
      col("_op").as("op"),
      lit(upTo).as("commit_lsn"),
      lit(0).as("seq"),
      col("_ts").as("ts")): _*)
  }
}
