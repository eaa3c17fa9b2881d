package graft.engine

import org.apache.spark.sql.DataFrame

import graft.icelite.{CatalogConflictException, Icelite, IceliteCatalog}

/** Multi-table transaction coordinator: applies one epoch's change batches
  * to SEVERAL icelite tables with all-or-nothing visibility through an
  * [[graft.icelite.IceliteCatalog]].
  *
  * This is the lake-side replacement for the reference's Postgres
  * transaction spanning dim and fact upserts
  * (`/root/reference/ingestion.py:43-56`): stage every table's MERGE as an
  * invisible WAP snapshot, then flip ONE catalog pointer. See the protocol
  * scaladoc on [[graft.icelite.IceliteCatalog]].
  *
  * Failure containment, by crash window:
  *   - before the catalog commit: no table pointer and no catalog version
  *     moved — nothing is visible anywhere; the orphaned staged snapshots
  *     are invisible by construction and swept by [[recover]];
  *   - after the catalog commit, before/among the publishes: catalog
  *     readers already see the full transaction (staged snapshots are
  *     readable by id); [[recover]] finishes the pointer fast-forwards —
  *     publish is pure completion work, idempotent per table.
  *
  * Exactly-once: the epoch is the catalog txn id. Redelivery finds it on
  * the version chain, drops the redundant re-staged snapshots, completes
  * any pending publishes, and returns the original version — regardless of
  * whether the first attempt died before or after its publishes.
  *
  * Concurrency: in-JVM coordinators on the same catalog serialize on a
  * per-catalog lock held across stage -> commit -> publish (cheap, and it
  * makes staging safe between co-resident coordinators: a stage computed
  * against a table head that a concurrently-won transaction has committed
  * but NOT YET published would pass the version CAS and then fail its own
  * publish — after its catalog commit, which exactly-once forbids
  * retrying). ACROSS processes the lock is invisible and the version CAS
  * is the real serialization: the catalog version FILE is created
  * exclusively (`IceliteCatalog.commitVersion`'s hard-link CAS), so two
  * processes that both read HEAD v and both staged cannot both commit
  * v+1 — the loser's commitTxn raises, it drops its stale stages, first
  * completes the winner's pending publishes (publishPending at the loop
  * head), and retries from the winner's state. The stale-stage publish
  * hazard the in-JVM lock prevents is closed cross-process by reading
  * `expected` BEFORE publishPending: a foreign txn that commits after that
  * read, even one committed but not yet published when we stage, bumps the
  * version, so our CAS fails and the retry's publishPending completes it
  * instead of our stage superseding its rows.
  * Proven across forked JVMs by CrossProcessSpec's coordinator race.
  *
  * Scale: coordinator work is O(tables) driver-side bookkeeping; all data
  * movement stays inside each table's staged MERGE (the engine's normal
  * partitioned path). Tables enrolled in a catalog must be written through
  * it — an out-of-band writer advancing a member table's pointer makes the
  * pending publish conflict, exactly as Iceberg tables owned by a catalog
  * must not be committed past it.
  */
object AtomicTxn {

  /** Atomically apply `epoch`'s batches: `writes` maps catalog table name
    * -> (engine, batch). Returns the catalog version that committed the
    * transaction (fresh or replayed). */
  def commit(catalog: IceliteCatalog, epoch: Long,
      writes: Seq[(String, CdcEngine, DataFrame)],
      maxRetries: Int = 5): Long = Icelite.lockFor(catalog.root).synchronized {
    require(writes.nonEmpty, "empty transaction")
    require(writes.map(_._1).distinct.size == writes.size,
      s"duplicate table names in transaction: ${writes.map(_._1).mkString(", ")}")
    val engines = writes.map { case (n, e, _) => n -> e }.toMap

    var attempt = 0
    while (true) {
      // read before publishPending: every foreign commit it has not seen
      // then fails our CAS, and the retry completes it first
      val expected = catalog.version
      // ALWAYS complete a predecessor's pending publishes before staging:
      // a committed-but-unpublished txn left by a crash would otherwise be
      // silently fast-forwarded past (the new stage merges against the
      // lagging head and its publish supersedes the orphan)
      publishPending(catalog, engines)
      // replayed transaction: nothing further to do
      catalog.versionOfTxn(epoch) match {
        case Some(v) => return v
        case None => ()
      }
      // 1. STAGE each table's merge (invisible; readable by id) — tracked
      // incrementally, so EVERY failure path below (a later table's stage
      // throwing, a commitTxn require, not just the CAS conflict) drops
      // exactly what this attempt staged instead of leaking invisible
      // orphans until an opt-in recover(sweepOrphans = true)
      val staged = scala.collection.mutable.LinkedHashMap.empty[String, Long]
      // set once commitTxn returns: from then on the catalog may pin the
      // stages, so no failure may drop them — completion belongs to
      // publishPending (next commit) or recover
      var pastCommit = false
      try {
        writes.foreach { case (name, engine, batch) =>
          staged(name) = engine.stageBatch(epoch, batch).snapshotId
        }
        // 2. the ATOMIC point: one catalog version names every staged id
        val committed = catalog.commitTxn(epoch, staged.toMap, expected)
        pastCommit = true
        // a FOREIGN committer may have applied this txn between our replay
        // check and the commit (commitTxn then no-ops, returning the
        // foreign version): our stages are redundant, the foreign
        // publishes may be pending — do not publish unpinned snapshots
        val oursWon = committed.txnId == epoch && staged.forall {
          case (n, sid) => committed.tables.get(n).exists(_.snapshotId == sid)
        }
        if (!oursWon) {
          dropStale(engines, staged.toMap)
          publishPending(catalog, engines)
          return committed.version
        }
        // 3. completion: fast-forward each table pointer
        staged.foreach { case (name, sid) => engines(name).publishStaged(sid) }
        return committed.version
      } catch {
        case _: CatalogConflictException if !pastCommit =>
          // lost the CAS race: our staged merges are stale — drop and redo
          dropStale(engines, staged.toMap)
          attempt += 1
          if (attempt > maxRetries)
            throw new CatalogConflictException(
              s"txn $epoch lost the catalog race $attempt times; giving up")
        case scala.util.control.NonFatal(e) if !pastCommit =>
          // terminal failure before the commit point: same cleanup, then
          // rethrow — the attempt's stages must not sit invisible awaiting
          // a manual sweep
          dropStale(engines, staged.toMap)
          throw e
      }
    }
    -1L // unreachable
  }

  /** Finish a crashed transaction: publish every catalog-pinned snapshot
    * whose table pointer lags. With `sweepOrphans = true`, additionally
    * drop staged snapshots no retained catalog version references (a
    * committer that died before its catalog commit). The sweep is OPT-IN
    * because the staged registry cannot distinguish a crash orphan from a
    * live single-table write-audit-publish stage mid-audit on a member
    * table — only sweep when no out-of-band WAP runs on member tables.
    * Idempotent; the publish-only default is safe to run at every
    * coordinator start. Returns (published, dropped) counts. */
  def recover(catalog: IceliteCatalog,
      engines: Map[String, CdcEngine],
      sweepOrphans: Boolean = false): (Int, Int) =
    Icelite.lockFor(catalog.root).synchronized {
      val published = publishPending(catalog, engines)
      var dropped = 0
      if (sweepOrphans) {
        // every snapshot id a retained catalog version pins, per table
        val everPinned: Map[String, Set[Long]] = catalog.history
          .flatMap(_.tables.toSeq).groupBy(_._1)
          .map { case (n, refs) => n -> refs.map(_._2.snapshotId).toSet }
        engines.foreach { case (name, engine) =>
          val keep = everPinned.getOrElse(name, Set.empty)
          engine.table.stagedSnapshotIds.filterNot(keep.contains)
            // a marker can be spurious — left on a CHAIN snapshot by a
            // cross-process same-id manifest collision (see Icelite.commit's
            // exclusive-create loop); published ancestors are never orphans
            .filterNot(engine.table.isAncestor)
            .foreach { sid => engine.dropStaged(sid); dropped += 1 }
        }
      }
      (published, dropped)
    }

  private def publishPending(catalog: IceliteCatalog,
      engines: Map[String, CdcEngine]): Int = {
    var n = 0
    catalog.refs().foreach { case (name, ref) =>
      engines.get(name).foreach { engine =>
        // the staged registry is the authoritative pending set: an id a
        // catalog version pins but the table no longer resolves (published
        // long ago, then retention-expired off the chain) must be SKIPPED,
        // not "re-published" — recover stays a no-op on a healthy catalog
        if (ref.snapshotId >= 0 &&
            engine.table.stagedSnapshotIds.contains(ref.snapshotId)) {
          engine.publishStaged(ref.snapshotId); n += 1
        }
      }
    }
    n
  }

  private def dropStale(engines: Map[String, CdcEngine],
      staged: Map[String, Long]): Unit =
    staged.foreach { case (name, sid) =>
      // a replayed epoch returns the PUBLISHED snapshot from stageBatch;
      // only drop snapshots that are genuinely still unpublished
      if (engines(name).table.stagedSnapshotIds.contains(sid))
        engines(name).dropStaged(sid)
    }
}
