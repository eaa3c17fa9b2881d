package graft.engine

import java.nio.file.Files

import graft.icelite.{Icelite, IceliteCatalog}

/** Catalog-level downstream consumer: mirrors an entire TABLE SET behind an
  * [[graft.icelite.IceliteCatalog]], driven by its transaction-aligned
  * `changeWindows`. The multi-table generalization of [[FeedConsumer]] —
  * and the proof-by-consumer that the window API means what it claims: a
  * mirror stepping version boundaries can NEVER observe (or expose) half a
  * source transaction across tables.
  *
  * Reference analog: a downstream warehouse replicating the reference's
  * Postgres schema sees dims and facts move together because Postgres
  * transactions are atomic (`/root/reference/ingestion.py:43-56`); a
  * lake-catalog consumer gets the same guarantee from catalog-version
  * pins, and this class is that consumer.
  *
  * Mechanics per sync step `(from, to]` (both SOURCE catalog versions):
  *   - `changeWindows(from, to)` yields each table's snapshot window; each
  *     table's value-level diff (`changesSince`) becomes one change batch,
  *     stamped exactly like FeedConsumer's (per-sync LSN = the source
  *     TABLE's window-end snapshot id — strictly increasing across syncs,
  *     so redelivery overwrites, never ties);
  *   - every table's batch is applied in ONE [[AtomicTxn]] transaction on
  *     the MIRROR catalog with txn id = the source version, so the
  *     mirror's own version chain records exactly which source versions it
  *     holds, and each mirror version IS a consistent source version.
  *
  * Exactly-once composes catalog-wide with no new machinery: the source
  * version is the transaction id, so a crashed/re-run sync replays as an
  * AtomicTxn no-op, and the mirror catalog's own txn ledger is the durable
  * record of progress (same discipline as FeedConsumer's snapshot-id
  * epochs). The checkpoint file adds what no ledger holds: the DDL-only
  * windows, which commit no mirror transaction.
  *
  * A table enrolled in the source AFTER `from` arrives with window
  * `(-1, snap]` — a bootstrap full delivery (the caller registers its
  * mirror engine through `ensureMirror`). A source `from` version expired
  * past retention falls back to the same conservative full redelivery
  * rule `changesSince` applies to expired table snapshots.
  */
class CatalogMirror(
    val sourceCat: IceliteCatalog,
    sources: Map[String, CdcEngine],
    val mirrorCat: IceliteCatalog,
    mkMirror: String => CdcEngine) {

  private val ckpt = mirrorCat.root.resolve("mirror-checkpoint.txt")
  private val mirrors = scala.collection.mutable.Map.empty[String, CdcEngine]

  private def ensureMirror(name: String): CdcEngine =
    mirrors.getOrElseUpdate(name, {
      val e = mkMirror(name)
      if (!mirrorCat.refs().contains(name))
        mirrorCat.registerTable(name, e.table.root.toString)
      e
    })

  /** Highest source catalog version this mirror holds: the mirror
    * catalog's own txn ledger (txn ids ARE source versions), or the
    * checkpoint when a later DDL-only window committed nothing. */
  def lastSynced: Long = {
    val fromFile =
      if (Files.exists(ckpt)) Files.readString(ckpt).trim.toLong else 0L
    val fromLedger = {
      val t = mirrorCat.committedTxns()
      if (t.isEmpty) 0L else t.max
    }
    math.max(fromFile, fromLedger)
  }

  /** Sync one source version boundary (the finest txn-aligned step).
    * Returns Some(source version synced), or None when already at head. */
  def syncStep(): Option[Long] = {
    val from = lastSynced
    if (sourceCat.version <= from) None else Some(syncTo(from + 1))
  }

  /** Drain to the source head, one version boundary at a time — after
    * EVERY step the mirror equals a source catalog version exactly.
    * Returns the number of versions applied. */
  def syncAll(): Long = {
    var n = 0L
    while (syncStep().isDefined) n += 1
    n
  }

  /** Jump sync `(lastSynced, head]` as ONE mirror transaction — coarser
    * (intermediate source versions are skipped) but still lands exactly on
    * a source version. The pacing choice a consumer far behind makes. */
  def sync(): Long = {
    val from = lastSynced
    val to = sourceCat.version
    if (to <= from) 0L else { syncTo(to); to - from }
  }

  private def syncTo(toVersion: Long): Long = {
    val from = lastSynced
    val windows = sourceCat.changeWindows(from, toVersion)
    val writes = windows.toSeq.sortBy(_._1).flatMap { case (name, (fromSnap, toSnap)) =>
      val src = sources.getOrElse(name,
        throw new IllegalArgumentException(s"no source engine for table '$name'"))
      val mirror = ensureMirror(name)
      if (toSnap < 0 || toSnap == fromSnap) None
      else Some((name, mirror, FeedConsumer.windowBatch(src, mirror, fromSnap, toSnap)))
    }
    if (writes.nonEmpty)
      AtomicTxn.commit(mirrorCat, toVersion, writes)
    // a DDL-only or empty window still advances the checkpoint: nothing to
    // apply, and replaying it later would no-op anyway
    Icelite.write(ckpt, toVersion.toString)
    toVersion
  }
}
