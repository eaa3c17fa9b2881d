package graft.icelite

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.json4s.jackson.Serialization

/** A versioned multi-table CATALOG: the missing piece that makes commits
  * spanning SEVERAL icelite tables atomic.
  *
  * The reference never has this problem — it ingests dims and facts inside
  * one Postgres transaction (`/root/reference/ingestion.py:43-56`:
  * `conn.autocommit = False`, a single `conn.commit()` after all upserts),
  * so a reader can never observe the station dim updated but the fact table
  * not. A lake-table engine loses that for free-of-charge atomicity the
  * moment state is split across tables, each with its own snapshot pointer.
  * This catalog restores it with the standard two-layer design (Iceberg's
  * REST catalog / Project Nessie): per-table snapshots stay exactly what
  * they are, and one EXTRA versioned pointer — the catalog version — names
  * a consistent set of per-table snapshot ids. Readers that resolve tables
  * through a catalog version get cross-table snapshot isolation; moving the
  * catalog HEAD is the single atomic commit point.
  *
  * Layout (all under the catalog root, same write discipline as a table:
  * immutable version files + one atomically-renamed pointer):
  * {{{
  *   <root>/cat-<v>.json   # immutable: tables map + txn id at version v
  *   <root>/HEAD           # current version (write-temp + ATOMIC_MOVE)
  *   <root>/ledger.json    # expiry re-root + carried txn ids (see CatalogLedger)
  * }}}
  *
  * The multi-table transaction protocol (driven by
  * [[graft.engine.AtomicTxn]]) is write-audit-publish run catalog-wide:
  *
  *   1. STAGE the epoch's merge on every table (`CdcEngine.stageBatch` —
  *      snapshot manifests exist, readable by id, no table pointer moves);
  *   2. COMMIT one new catalog version naming every staged id — THE atomic
  *      point: a crash before leaves all tables untouched, a crash after
  *      leaves a catalog whose pinned ids are all readable;
  *   3. PUBLISH each table's pointer (fast-forward to the staged id) — pure
  *      completion work, idempotent, finished by [[graft.engine.AtomicTxn
  *      .recover]] if the committer died mid-step.
  *
  * Exactly-once composes across tables: the txn id (the batch epoch) is
  * recorded in the version chain, so redelivering a committed transaction
  * is a catalog-level no-op even when each table would also individually
  * no-op. Concurrency is optimistic CAS on the catalog version
  * (`expectedVersion`), mirroring `Icelite.commit`'s expectedParentId.
  *
  * Scale: a catalog version file is O(tables), not O(data) or O(snapshots);
  * the txn-id ancestry walk is cached per version id. On a real deployment
  * this whole object is a row-versioned service (Iceberg REST/Nessie);
  * the file layout here is the same stand-in `version-hint.text` is for
  * the per-table pointer.
  */
case class CatalogTableRef(root: String, snapshotId: Long)

case class CatalogVersion(
    version: Long,
    parentVersion: Long,
    tables: Map[String, CatalogTableRef],
    // the transaction (batch epoch) this version committed; -1 = DDL
    txnId: Long,
    commitMillis: Long)

/** Expiry side-ledger (`ledger.json`): version files stay IMMUTABLE (other
  * instances' caches never go stale), so an expiry re-root is recorded
  * beside them — the oldest retained version (walks stop there instead of
  * following its still-written parent pointer into deleted files) plus the
  * txn ids expired beneath it, which keeps the exactly-once ledger intact
  * (the carry rule table epochs use across expireSnapshots re-roots). */
case class CatalogLedger(rootVersion: Long, carriedTxns: List[Long])

class CatalogConflictException(msg: String) extends RuntimeException(msg)

class IceliteCatalog(val root: Path) {
  import Icelite.fmts

  private val lock = Icelite.lockFor(root)
  private def headFile: Path = root.resolve("HEAD")
  private def versionFile(v: Long): Path = root.resolve(s"cat-$v.json")

  /** Current catalog version; 0 = the implicit empty catalog. Version
    * files are created EXCLUSIVELY and HEAD is only a hint written after
    * them, so a committer crash (or a racing read) can leave HEAD lagging
    * by one: heal by probing forward — versions are dense integers, so one
    * existence miss ends the probe. Healing rewrites the hint so the probe
    * stays O(1) amortized — best-effort, so a reader that cannot write
    * (read-only mount, reduced permissions) still gets the right answer. */
  def version: Long = lock.synchronized {
    var v = if (Files.exists(headFile)) Files.readString(headFile).trim.toLong else 0L
    var healed = false
    while (Files.exists(versionFile(v + 1))) { v += 1; healed = true }
    if (healed)
      try writeHeadHint(v)
      catch { case scala.util.control.NonFatal(_) => }
    v
  }

  /** Write the HEAD hint (a cache of the newest version, never the truth). */
  protected def writeHeadHint(version: Long): Unit =
    Icelite.write(headFile, version.toString)

  private val versionCache =
    new java.util.concurrent.ConcurrentHashMap[Long, CatalogVersion]()

  def versionState(v: Long): CatalogVersion = {
    if (v == 0L) return CatalogVersion(0L, -1L, Map.empty, -1L, 0L)
    versionCache.computeIfAbsent(v, _ =>
      Serialization.read[CatalogVersion](Files.readString(versionFile(v))))
  }

  private def ledgerFile: Path = root.resolve("ledger.json")

  /** Expiry re-root state — re-read per walk (tiny file) so concurrent
    * instances observe another instance's expiry immediately. */
  def ledger: CatalogLedger =
    if (Files.exists(ledgerFile))
      Serialization.read[CatalogLedger](Files.readString(ledgerFile))
    else CatalogLedger(0L, Nil)

  /** The consistent table set at a catalog version (default: HEAD). */
  def refs(atVersion: Long = -1L): Map[String, CatalogTableRef] =
    versionState(if (atVersion < 0) version else atVersion).tables

  // txnId -> version index, filled incrementally from HEAD down to the
  // last version already indexed — lookups stay O(new versions), not
  // O(chain), over a long-lived catalog
  private val txnIndex = new java.util.concurrent.ConcurrentHashMap[Long, Long]()
  @volatile private var indexedTo: Long = 0L

  private def ensureIndexed(): CatalogLedger = lock.synchronized {
    val led = ledger
    val floor = math.max(led.rootVersion, 1L)
    var v = version
    val top = v
    while (v >= floor && v > indexedTo) {
      val s = versionState(v)
      if (s.txnId >= 0) txnIndex.put(s.txnId, v)
      v = s.parentVersion
    }
    led.carriedTxns.foreach(t => txnIndex.putIfAbsent(t, led.rootVersion))
    indexedTo = math.max(indexedTo, top)
    led
  }

  /** Txn ids committed on the ancestry of `v` (exactly-once ledger; walks
    * stop at the expiry re-root, whose swept txn ids ride the ledger). */
  def committedTxns(atVersion: Long = -1L): Set[Long] = {
    if (atVersion < 0) {
      ensureIndexed()
      return txnIndex.keySet.asScala.map(_.toLong).toSet
    }
    val led = ledger
    val floor = math.max(led.rootVersion, 1L)
    var v = atVersion
    val acc = Set.newBuilder[Long]
    while (v >= floor) {
      val s = versionState(v)
      if (s.txnId >= 0) acc += s.txnId
      v = s.parentVersion
    }
    acc ++= led.carriedTxns
    acc.result()
  }

  /** The version that applied `txnId`, if any (idempotent-replay answer).
    * A txn expired off the chain answers with the re-root version — its
    * own version file is gone, but replay must still no-op. */
  def versionOfTxn(txnId: Long): Option[Long] = lock.synchronized {
    val led = ensureIndexed()
    Option(txnIndex.get(txnId)).map { v =>
      // clamp entries that predate a (possibly foreign) expiry re-root
      if (led.rootVersion > 0 && v < led.rootVersion) led.rootVersion else v
    }
  }

  /** THE cross-process atomic point: the version file itself is created
    * exclusively (hard-link CAS, [[Icelite.writeNew]]), so two processes
    * that both passed the optimistic `expectedVersion` check against the
    * same HEAD cannot both commit version v+1 — the loser raises
    * [[CatalogConflictException]] and its coordinator re-stages against
    * the winner's state ([[graft.engine.AtomicTxn]]'s retry loop). HEAD
    * is a hint written after the fact; `version` heals a lag. */
  private def commitVersion(next: CatalogVersion): CatalogVersion = {
    if (!Icelite.writeNew(versionFile(next.version), Serialization.writePretty(next)))
      throw new CatalogConflictException(
        s"catalog version ${next.version} was committed by a concurrent " +
          "process; re-read and retry")
    writeHeadHint(next.version)
    next
  }

  /** DDL: enroll a table (captures its CURRENT snapshot id as the pinned
    * ref, so an existing table joins the catalog without a rewrite). */
  def registerTable(name: String, tableRoot: String): CatalogVersion =
    lock.synchronized {
      val cur = versionState(version)
      require(!cur.tables.contains(name), s"table '$name' already in catalog")
      val t = IceliteTable.load(tableRoot)
      commitVersion(CatalogVersion(
        version + 1, version,
        cur.tables + (name -> CatalogTableRef(tableRoot, t.currentSnapshotId)),
        -1L, System.currentTimeMillis()))
    }

  /** DDL: remove a table from the catalog (the table itself is untouched —
    * Iceberg's DROP TABLE without PURGE). Refuses while the table's pinned
    * snapshot is still awaiting its publish fast-forward: dropping then
    * would strand a COMMITTED transaction — `AtomicTxn.publishPending` only
    * scans enrolled tables, so the pointer would never receive it, and once
    * the pinning versions expire a `recover(sweepOrphans = true)` could
    * delete the staged snapshot a catalog version had committed. Run
    * `AtomicTxn.recover` (or publish) first. */
  def dropTable(name: String): CatalogVersion = lock.synchronized {
    val cur = versionState(version)
    require(cur.tables.contains(name), s"no table '$name' in catalog")
    val ref = cur.tables(name)
    if (ref.snapshotId >= 0 && IceliteTable.exists(ref.root)) {
      val pendingPublish =
        IceliteTable.load(ref.root).stagedSnapshotIds.contains(ref.snapshotId)
      require(!pendingPublish,
        s"table '$name' has a committed-but-unpublished snapshot " +
          s"${ref.snapshotId}; run AtomicTxn.recover (publish) before dropping")
    }
    commitVersion(CatalogVersion(
      version + 1, version, cur.tables - name, -1L, System.currentTimeMillis()))
  }

  /** THE atomic commit point of a multi-table transaction: move the tables
    * named in `updates` to their staged snapshot ids in one new version.
    *
    *   - exactly-once: if `txnId` is already on the version chain the call
    *     is a no-op returning the version that applied it;
    *   - optimistic concurrency: `expectedVersion` (-2 = skip) must equal
    *     HEAD or the commit raises [[CatalogConflictException]] — the
    *     caller re-stages against the advanced table heads and retries;
    *   - every updated table must be enrolled.
    */
  def commitTxn(txnId: Long, updates: Map[String, Long],
      expectedVersion: Long = -2L): CatalogVersion = lock.synchronized {
    require(txnId >= 0, s"txnId must be >= 0, got $txnId")
    versionOfTxn(txnId).foreach(v => return versionState(v))
    val head = version
    if (expectedVersion != -2L && expectedVersion != head)
      throw new CatalogConflictException(
        s"catalog advanced to version $head past the writer's view $expectedVersion")
    val cur = versionState(head)
    val missing = updates.keySet -- cur.tables.keySet
    require(missing.isEmpty, s"tables not in catalog: ${missing.mkString(", ")}")
    val next = cur.tables ++ updates.map { case (n, sid) =>
      n -> cur.tables(n).copy(snapshotId = sid)
    }
    commitVersion(CatalogVersion(
      head + 1, head, next, txnId, System.currentTimeMillis()))
  }

  /** Version history down to the expiry re-root, newest first
    * (catalog-level `snapshots` inspection). */
  def history: List[CatalogVersion] = lock.synchronized {
    val floor = math.max(ledger.rootVersion, 1L)
    var v = version
    val acc = List.newBuilder[CatalogVersion]
    while (v >= floor) { val s = versionState(v); acc += s; v = s.parentVersion }
    acc.result()
  }

  /** The version history as a DataFrame, one row per (version, table) pin
    * — the catalog-level sibling of the engine's inspection tables
    * (`engine.inspect.snapshots`): driver-built from the retained version
    * files, O(versions × tables), never data-scale. `txn_id` is -1 on DDL
    * versions; a row per version survives even for the empty catalog's
    * DDL-only prefix (no pins yet -> no rows for that version). */
  def historyDf(spark: org.apache.spark.sql.SparkSession)
      : org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    history.flatMap(s => s.tables.toSeq.map { case (name, ref) =>
      (s.version, s.parentVersion, s.txnId, s.commitMillis, name,
        ref.snapshotId, ref.root)
    }).toDF("version", "parent_version", "txn_id", "commit_millis",
      "table_name", "snapshot_id", "table_root")
  }

  /** TRANSACTION-ALIGNED cross-table change windows: for every table in
    * `toVersion` (default HEAD), the `(fromSnapshotId, toSnapshotId)`
    * window a consumer drains with `engine.changesSince(from, to)` to see
    * exactly the transactions in `(fromVersion, toVersion]` — never half a
    * transaction, because both bounds are catalog pins. A table enrolled
    * after `fromVersion` gets `from = -1` (bootstrap). This is the
    * multi-table analog of the single table's incremental (from, to] scan:
    * consumers that mirror a table SET stay txn-consistent batch by batch. */
  def changeWindows(fromVersion: Long,
      toVersion: Long = -1L): Map[String, (Long, Long)] = {
    val to = versionState(if (toVersion < 0) version else toVersion).tables
    val from = versionState(fromVersion).tables
    to.map { case (name, ref) =>
      name -> (from.get(name).map(_.snapshotId).getOrElse(-1L), ref.snapshotId)
    }
  }

  /** Trim catalog history to the newest `keepLast` versions, deleting the
    * older cat-N.json files (the catalog-level analog of a table's
    * expireSnapshots). Version files stay immutable: the re-root is
    * recorded in the side ledger FIRST (new root version + the expired
    * txn ids, so the exactly-once ledger survives), files deleted second
    * — a crash between the steps loses nothing. The version counter keeps
    * advancing; expired versions simply stop being resolvable.
    * RETENTION INTERPLAY: a catalog version only time-travels while every
    * table snapshot it pins is still retained, so keep each member
    * table's `retainSnapshots` at least as deep as the txn count covered
    * by `keepLast` — mirroring Iceberg's rule that catalog-level GC must
    * be coordinated with snapshot expiry. Returns the expired ids. */
  def expireVersions(keepLast: Int): Seq[Long] = lock.synchronized {
    require(keepLast >= 1, "must keep at least the head version")
    val hist = history // newest first, already floored at any prior root
    val doomed = hist.drop(keepLast)
    if (doomed.isEmpty) return Nil
    val led = ledger
    val newRoot = hist(keepLast - 1).version
    val carried = (led.carriedTxns ++ doomed.map(_.txnId).filter(_ >= 0)).distinct
    Icelite.write(ledgerFile,
      Serialization.writePretty(CatalogLedger(newRoot, carried)))
    doomed.foreach { s =>
      Files.deleteIfExists(versionFile(s.version))
      versionCache.remove(s.version)
    }
    doomed.map(_.version)
  }
}

object IceliteCatalog {
  def create(root: String): IceliteCatalog = {
    val p = Paths.get(root)
    Files.createDirectories(p)
    new IceliteCatalog(p)
  }
  def load(root: String): IceliteCatalog = {
    val p = Paths.get(root)
    require(Files.exists(p), s"no catalog at $root")
    new IceliteCatalog(p)
  }
}
