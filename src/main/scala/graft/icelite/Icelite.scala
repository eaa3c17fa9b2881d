package graft.icelite

import java.nio.file.{Files, LinkOption, Path, Paths, StandardCopyOption, StandardOpenOption}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.types.{DataType, StructType}
import org.json4s._
import org.json4s.jackson.JsonMethods
import org.json4s.jackson.Serialization

/** icelite — a minimal, self-contained table format implementing Iceberg's
  * *semantics* on a plain filesystem (no Iceberg jar exists in this sandbox;
  * see SURVEY.md §7.1):
  *
  *   - immutable parquet data files, listed by a per-snapshot manifest
  *     (bucket -> file list); files never mutated, only added;
  *   - atomic snapshot commits via write-temp + ATOMIC_MOVE rename of a single
  *     pointer file (`metadata/version-hint.text`) — readers always see a
  *     complete snapshot or the previous one — with each pointer TRANSITION
  *     serialized cross-process by an exclusive per-parent claim file
  *     (losers raise CommitConflictException and re-merge; see lockFor and
  *     advancePointer);
  *   - schema evolution: every snapshot pins a schema id; schemas are
  *     append-only (`metadata/schema-N.json`); ADD COLUMN and widening
  *     (int->long, float->double) are legal evolutions;
  *   - idempotent commits keyed by batch epoch: re-committing an epoch that is
  *     already in the snapshot chain is a no-op (the analog of the reference's
  *     `INSERT ... ON CONFLICT DO UPDATE` re-run safety,
  *     /root/reference/etl/fact_changed.py:821-843, README.md:253-258);
  *   - per-partition lineage carried on each snapshot:
  *     (bucket, lsnMin, lsnMax, rows) — source offset range -> snapshot id.
  *
  * Layout:
  * {{{
  *   <root>/
  *     metadata/version-hint.text      # current snapshot id (atomic pointer)
  *     metadata/table.json             # static: key cols, bucket count
  *     metadata/schema-<sid>.json      # Spark StructType json, append-only
  *     metadata/snap-<id>.json         # snapshot manifest (see Snapshot)
  *     data/b=<bucket>/snap-<id>/part-*.parquet
  * }}}
  *
  * Scale notes: commit work is O(affected buckets), never O(rows) — and so
  * is the commit's METADATA write: manifests are delta-only (the touched
  * buckets' post-commit lists; see Snapshot.bucketDelta), with the full
  * mapping resolved by a cached parent walk and re-materialized into one
  * full manifest only at expireSnapshots re-roots. A sparse micro-batch
  * therefore writes a few KB of metadata regardless of table size, where a
  * full per-snapshot map would be tens of MB at 2^16 buckets.
  * Orphan data files (crash between data write and pointer rename) are
  * harmless: only manifest-listed files are ever read; a GC can sweep them.
  */
object Icelite {
  implicit val fmts: Formats = DefaultFormats

  /** Commit serialization is two-layered. Within one JVM, every
    * IceliteTable over the same root shares one lock, so co-resident writer
    * instances' read-pointer -> write-pointer sections never interleave
    * (cheap, no filesystem round-trips on the contended path). ACROSS
    * processes, the lock is invisible — there the pointer move itself is a
    * real CAS: each main-pointer transition must first win an atomic
    * exclusive create of a per-parent CLAIM file
    * (`metadata/claims/p<parentId>`, see [[IceliteTable]] advancePointer),
    * so of any number of OS processes committing against the same parent
    * snapshot exactly one advances and the rest raise
    * [[Icelite.CommitConflictException]] and re-merge against the fresh
    * head — the Iceberg optimistic-commit loop, with the filesystem's
    * link(2) exclusivity standing in for the catalog service's CAS
    * endpoint. Proven across forked JVMs by CrossProcessSpec. */
  private val rootLocks = new java.util.concurrent.ConcurrentHashMap[String, Object]()
  def lockFor(root: java.nio.file.Path): Object =
    rootLocks.computeIfAbsent(root.toAbsolutePath.normalize.toString, _ => new Object)

  /** Per-bucket lineage record: source offset (LSN) range applied to this
    * bucket by the commit that produced this snapshot. */
  case class BucketLineage(bucket: Int, lsnMin: Long, lsnMax: Long, events: Long, rows: Long)

  /** One data file in the manifest, with its writer schema id and the
    * file-level statistics harvested (for free) from the parquet footer at
    * commit time: row count and the min/max of the last-writer LSN column.
    * LSN stats give file skipping for offset-range scans — most valuable on
    * merge-on-read delta files, each of which covers one batch's tight LSN
    * range. Key min/max stats are deliberately NOT kept: buckets partition
    * by key HASH, so every file sees a near-uniform sample of the key domain
    * and key-range stats would never prune anything. The hash-appropriate
    * key stat is `keyFp`: a small key-fingerprint bitmap (the manifest-level
    * analog of Iceberg's Puffin bloom blobs), set on merge-on-read DELTA
    * files only — a delta holds exactly one batch's keys, so a point lookup
    * can skip every delta that provably misses the key before any file is
    * opened. Absent (`None`) means "may contain anything — always read":
    * copy-on-write rewrites and compaction outputs hold full bucket state,
    * where a batch-key fingerprint would be a false-negative-prone
    * under-approximation.
    *
    * The final-state rule ([[TableMeta.finalState]]) decides, per bucket,
    * whether a reader may take its files as written or must LWW-merge
    * them. Every file is key-unique (each is written from one LWW
    * reduction), so a bucket is FINAL when it has one file, or when every
    * file is `merged`: merged files of one bucket are also key-disjoint.
    * A copy-on-write table counts as merged throughout (every commit
    * rewrites whole buckets, including manifests written before `merged`
    * existed). Any other bucket (a merge-on-read delta pile, or a base plus
    * deltas) assembles a row from cells across its files, so it is
    * LWW-merged, and payload-stats pruning of its files is unsound: a
    * matching key's other columns may carry forward from a skipped file.
    * The rule holds for any subset of a bucket's files too, so a reader
    * that pruned files first (by key fingerprint or LSN range) applies it
    * to the files it kept. */
  case class DataFile(
      path: String, // relative to table root
      schemaId: Int,
      rows: Long,
      minLsn: Long = Long.MinValue,
      maxLsn: Long = Long.MaxValue,
      keyFp: Option[String] = None,
      // true = this file holds MERGED final state, key-DISJOINT from every
      // other merged file of its bucket (copy-on-write rewrites,
      // compaction/rebucket outputs, including a compaction split into
      // several sorted files by maxFileRows); see the final-state rule
      // above. false (and the default for manifests written before this
      // field existed) = a delta.
      merged: Boolean = false,
      // Rows VISIBLE to readers (rows minus retained tombstones), harvested
      // from the same footer pass as `rows` when every row group's op-column
      // statistics decide it (no tombstones in range, or all-tombstone
      // groups). -1 = undecidable (a row group interleaves deletes with live
      // rows) or a manifest written before this field existed. Lets
      // metadata-only aggregates (count/min/max — Iceberg's
      // SupportsPushDownAggregates analog) answer without touching data:
      // sound on merged files only, like colStats.
      liveRows: Long = -1L,
      // Per-column [min, max] bounds for the engine's configured stats
      // columns (Iceberg's lower_bounds/upper_bounds analog), harvested
      // from the same parquet-footer pass as the LSN stats and kept only
      // on merged files (see above). Canonical string encodings — see
      // graft.engine.StatsSkip. An EMPTY list means "column entirely null
      // in this file" (no values — any value predicate can skip it); an
      // absent key or None (old manifests / unharvestable footer) means
      // "unknown — never skip".
      colStats: Option[Map[String, List[String]]] = None)

  case class Snapshot(
      snapshotId: Long,
      parentId: Long, // -1 for first
      batchEpoch: Long, // idempotency key; -1 for non-batch commits
      schemaId: Int,
      // DELTA manifest: bucket -> that bucket's COMPLETE post-commit file
      // list, for ONLY the buckets this commit touched. The full mapping is
      // the parent-walk overlay (IceliteTable.bucketFilesOf) terminated by a
      // `full = true` snapshot. Serializing only touched buckets makes the
      // per-commit metadata write O(changed buckets), not O(table files) —
      // the icelite equivalent of Iceberg's shared manifest files + manifest
      // list (unchanged manifests are reused by reference, only the list
      // grows per commit). At 2^16 buckets a full map is tens of MB per
      // micro-batch; a sparse batch's delta is a few KB.
      bucketDelta: Map[String, List[DataFile]],
      // true = bucketDelta IS the complete mapping (first commit, or an
      // expireSnapshots re-root, which absorbs its expired ancestry into
      // one full manifest — the amortized O(table) write per expiry that
      // keeps every per-batch write O(changed buckets))
      full: Boolean = false,
      lineage: List[BucketLineage],
      totalRows: Long,
      commitMillis: Long,
      // epochs of snapshots expired beneath this one (chain re-root keeps
      // exactly-once bookkeeping intact after expireSnapshots)
      carriedEpochs: List[Long] = Nil,
      // max applied source LSN of the expired prefix (re-rooted chains must
      // not understate the high watermark — a change-feed consumer would be
      // re-sent data it has already seen)
      carriedWatermark: Long = -1L,
      // >= 0 marks a RESTORE commit: this snapshot re-lists the file set of
      // ancestor `restoreOf` (rollbackTo). Incremental readers must know —
      // a restore changes visible VALUES while adding no files, so the
      // merge-on-read "changed keys appear in added files" refinement does
      // not hold across it, and keys inserted in the rolled-back window
      // vanish without tombstone cells (changesSince synthesizes them)
      restoreOf: Long = -1L,
      // the table's EFFECTIVE bucket count as of this snapshot (bucket
      // evolution, Iceberg partition-evolution analog): set by a rebucket
      // commit and PROPAGATED to every descendant; -1 = inherit the
      // creation-time TableMeta.buckets (legacy manifests). Layout flips
      // atomically with the pointer — no second metadata file to race.
      buckets: Int = -1,
      // true = this commit CHANGED the bucket layout (rebucketTo). Persisted
      // so the commit kind survives a chain re-root: once expireSnapshots
      // makes a rebucket commit the root, its parent — and with it any
      // adjacency-derived classification — is gone. false on legacy
      // manifests (readers fall back to parent adjacency there).
      rebucket: Boolean = false,
      // true = this commit PURGED tombstone rows (tombstone GC at
      // compaction). Like a restore, a purge makes keys vanish from the
      // cell-level state without any added file carrying them, so change
      // feeds over windows containing one must synthesize deletes for
      // vanished keys and suspend the added-files key refinement.
      purge: Boolean = false)

  /** `mergeOnRead` = the table's write discipline: false = copy-on-write
    * (each commit rewrites affected buckets, reads are plain scans), true =
    * merge-on-read (commits append per-batch delta files, reads apply the
    * LWW cell merge; compaction folds deltas back). A read-time property of
    * the table, not of one engine instance, so it lives in table metadata. */
  case class TableMeta(keyCols: List[String], buckets: Int, mergeOnRead: Boolean = false) {

    /** The final-state rule (see [[DataFile]]): may one bucket's `files`
      * be read as written, with no LWW merge? */
    def finalState(files: Seq[DataFile]): Boolean =
      !mergeOnRead || files.lengthCompare(1) <= 0 || files.forall(_.merged)
  }

  /** What one walk of the chain window (since, to] tells an incremental
    * reader (see [[IceliteTable.window]]):
    *   - `reachesSince` — `since` is an ancestor of (or equal to) `to`;
    *   - `crossesRebucket` — the bucket count changes somewhere in the walked
    *     span (the window plus `since` itself when reached, else the whole
    *     chain down to the root);
    *   - `touched` — buckets the window's lineage wrote; None when that set
    *     cannot be proven complete (`since` expired or not an ancestor, a
    *     bootstrap walk over a root carrying expired history, or a layout
    *     crossing that puts the ids in two hash regimes);
    *   - `removesKeys` — the window holds a restore or a tombstone purge,
    *     which remove keys without any added file carrying them. */
  case class ChainWindow(since: Long, to: Long, reachesSince: Boolean,
      crossesRebucket: Boolean, touched: Option[Set[Int]], removesKeys: Boolean)

  /** Optimistic-concurrency conflict: the table moved past the snapshot the
    * writer prepared against. The writer must re-read, re-prepare (for
    * append-mode delta commits simply re-issue; for replace commits re-merge
    * against the new state) and retry — the Iceberg commit loop. */
  class CommitConflictException(msg: String) extends RuntimeException(msg)

  /** Encode key fingerprints as a base64 bitmap of `bits` bits (bit
    * `fp mod bits` set per fingerprint) — a single-hash bloom filter. The
    * false-positive rate is ≈ distinctKeys/bits; writers should store the
    * bitmap only while that stays useful (the engine caps at 25%). 4096 bits
    * = 512 bytes = ~684 base64 chars per touched bucket per commit — noise
    * next to the file list the manifest already re-serializes. */
  def fpBitmap(fps: Iterable[Int], bits: Int): String = {
    val arr = new Array[Byte](bits / 8)
    fps.foreach { f =>
      val i = ((f % bits) + bits) % bits
      arr(i >> 3) = (arr(i >> 3) | (1 << (i & 7))).toByte
    }
    java.util.Base64.getEncoder.encodeToString(arr)
  }

  /** Bitmap membership: false = the file PROVABLY does not contain any key
    * with this fingerprint (no false negatives); true = may contain. `fp`
    * is reduced modulo the bitmap's OWN width, so a key's unreduced hash
    * tests bitmaps written at any width. */
  def fpMayContain(b64: String, fp: Long): Boolean = {
    val arr = java.util.Base64.getDecoder.decode(b64)
    val bits = arr.length * 8
    val i = (((fp % bits) + bits) % bits).toInt
    (arr(i >> 3) & (1 << (i & 7))) != 0
  }

  /** Atomically replace `p` with content `s`: write a uniquely named temp
    * sibling, then rename it over `p`, so concurrent writers never share a
    * temp file and readers see either the old or the new content. */
  private[graft] def write(p: Path, s: String): Unit = {
    Files.createDirectories(p.getParent)
    val tmp = p.resolveSibling(p.getFileName.toString + ".tmp" + System.nanoTime())
    Files.writeString(tmp, s, StandardOpenOption.CREATE_NEW)
    Files.move(tmp, p, StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
  }

  /** Atomically create `p` with content `s` IFF it does not exist — the
    * cross-PROCESS compare-and-swap primitive the commit protocol builds
    * on. `Files.move` without REPLACE_EXISTING is NOT exclusive on POSIX
    * (Java maps ATOMIC_MOVE to rename(2), which silently replaces), and a
    * bare createFile-then-write would expose a torn window where the file
    * exists empty. link(2) gives both: write the full content to a temp
    * file, then hard-link it to the final name — link fails with EEXIST
    * atomically, and a successful link publishes the complete content in
    * one metadata operation. Returns false when `p` already existed (the
    * caller lost the race). */
  private[icelite] def writeNew(p: Path, s: String): Boolean = {
    Files.createDirectories(p.getParent)
    val tmp = p.resolveSibling(p.getFileName.toString + ".new" + System.nanoTime())
    Files.writeString(tmp, s, StandardOpenOption.CREATE_NEW)
    try { Files.createLink(p, tmp); true }
    catch {
      case _: java.nio.file.FileAlreadyExistsException => false
      // a filesystem without hard links (unlikely here) would surface as
      // UnsupportedOperationException — fall back to best-effort exclusive
      // move (single-process safe, cross-process window accepted)
      case _: UnsupportedOperationException =>
        if (Files.exists(p)) false
        else { Files.move(tmp, p, StandardCopyOption.ATOMIC_MOVE); return true }
    }
    finally Files.deleteIfExists(tmp)
  }

  /** Recursively delete a directory (DROP TABLE PURGE, staged-commit and
    * view-version sweeps, work dirs). A symlink is deleted as a link, never
    * followed: purging a table must not reach files outside it. */
  def deleteTree(p: Path): Unit = {
    if (Files.isDirectory(p, LinkOption.NOFOLLOW_LINKS)) {
      val s = Files.list(p)
      try s.forEach(deleteTree(_)) finally s.close()
    }
    Files.deleteIfExists(p)
  }
}

/** One icelite table at `root`: its pointer, manifests, refs and commits.
  *
  * The snapshot chain is a parent-pointer list of `snap-N.json` manifests,
  * and [[walk]] is the one place that follows it: every ancestry, epoch,
  * lineage, layout, ref and garbage question is a fold over a walk from
  * some head toward the root. A walk parses one manifest per step, lazily,
  * and stops before a given id without reading it, so a question about
  * the window (since, to] reads the window's manifests and nothing below.
  * [[window]] answers all of an incremental reader's questions from one
  * walk; [[ChainStepper]] steps a consumer through a backlog walking each
  * snapshot once. [[manifestReads]] counts the parses. */
class IceliteTable private (val root: Path) {
  import Icelite._

  // all mutating/metadata-consistent sections serialize on the PER-ROOT
  // lock (shared across instances in this JVM), not per-instance `this`
  private val rootLock: Object = Icelite.lockFor(root)

  private val metaDir = root.resolve("metadata")
  private val pointer = metaDir.resolve("version-hint.text")
  private def claimsDir = metaDir.resolve("claims")

  /** Move the main pointer `parentId -> childId` with CROSS-PROCESS
    * atomicity. The invariant: the main chain never revisits a snapshot id
    * (rollback commits a NEW snapshot), so each parent id has exactly one
    * legal successor ever — a transition is claimed by atomically creating
    * `claims/p<parentId>` (content: the child id). Winning the claim grants
    * the exclusive right to move the pointer off `parentId`: any other
    * process's transition from the same parent must create the same claim
    * file and fails its exclusive create. Losers COMPLETE a winner that
    * died between claim and pointer move (write the claimed child id —
    * idempotent, all writers write the same value), then raise
    * [[Icelite.CommitConflictException]] so the caller re-merges against
    * the advanced head. A claim whose content equals our own child id means
    * this same transition is being completed twice (e.g. two coordinators
    * both finishing a staged publish) — proceed, the pointer write is
    * idempotent. Claim files for expired snapshots are swept by
    * [[expireSnapshots]]; a pathologically stale writer re-creating a swept
    * claim is caught by the pointer re-check below (its parent can no
    * longer be the current snapshot). */
  private def advancePointer(parentId: Long, childId: Long): Unit = {
    val claim = claimsDir.resolve(s"p$parentId")
    if (Icelite.writeNew(claim, childId.toString)) {
      write(pointer, childId.toString)
    } else {
      val theirs = Files.readString(claim).trim.toLong
      // both completions write only while the pointer still sits on the
      // parent: a late duplicate must not move it back past later commits
      // (the check-to-write window stays open cross-process)
      if (currentSnapshotId == parentId) write(pointer, theirs.toString)
      if (theirs == childId) return
      throw new CommitConflictException(
        s"concurrent committer won the transition from snapshot $parentId " +
          s"(to $theirs); re-read and retry")
    }
  }

  def meta: TableMeta =
    Serialization.read[TableMeta](Files.readString(metaDir.resolve("table.json")))

  /** The bucket count in force AT snapshot `s` (bucket evolution): the
    * propagated per-snapshot count, falling back to the creation-time
    * TableMeta for legacy chains. */
  def effectiveBuckets(s: Snapshot): Int =
    if (s.buckets > 0) s.buckets else meta.buckets

  /** The bucket count current readers and writers must use. Derived from
    * the CURRENT SNAPSHOT, not table.json — a rebucket flips layout
    * atomically with the pointer; table.json is only refreshed as a hint
    * afterwards (see [[updateBucketsHint]]). */
  def currentBuckets: Int =
    currentSnapshot.map(effectiveBuckets).getOrElse(meta.buckets)

  /** Does the chain segment (since, to] span a bucket-count change? When it
    * does, bucket ids from the two sides live in different hash regimes and
    * NO bucket-level pruning computed in one regime may be applied to reads
    * in the other. `since < 0` checks the whole chain up to `to`. */
  def windowCrossesRebucket(sinceSnapshotId: Long, toSnapshotId: Long): Boolean =
    window(sinceSnapshotId, toSnapshotId).crossesRebucket

  /** Resolve the window (since, to] with ONE walk from `to` down to `since`
    * (or the root when `since` is not an ancestor): ancestry, layout
    * crossing, lineage-touched buckets, carried root history and
    * restore/purge presence, all from the same manifests (see
    * [[Icelite.ChainWindow]]). Reads the window's manifests plus `since`'s
    * own when the layout check needs it. */
  def window(sinceSnapshotId: Long, toSnapshotId: Long): ChainWindow = {
    val metaBuckets = meta.buckets
    def eff(s: Snapshot) = if (s.buckets > 0) s.buckets else metaBuckets
    // one pass, keeping only bucket ids: a bootstrap window can span the
    // whole chain
    val w = walk(toSnapshotId, _ == sinceSnapshotId)
    var layouts = Set.empty[Int]
    var touched = Set.empty[Int]
    var removesKeys = false
    var oldest: Option[Snapshot] = None
    w.foreach { s =>
      layouts += eff(s)
      touched ++= s.lineage.map(_.bucket)
      removesKeys ||= s.restoreOf >= 0 || s.purge
      oldest = Some(s)
    }
    val reaches = sinceSnapshotId >= 0 && w.end() == sinceSnapshotId
    if (reaches && oldest.nonEmpty) layouts += eff(snapshot(sinceSnapshotId))
    val crosses = layouts.size > 1
    // a walk that ran to the root proves nothing about buckets written only
    // by commits expired beneath it
    val rootCarries = !reaches &&
      oldest.exists(s => s.carriedEpochs.nonEmpty || s.carriedWatermark >= 0)
    val provable = reaches || (sinceSnapshotId < 0 && !rootCarries)
    ChainWindow(sinceSnapshotId, toSnapshotId, reaches, crosses,
      if (crosses || !provable) None else Some(touched), removesKeys)
  }

  /** Rewrite the creation bucket count — legal ONLY while the chain is
    * empty. Once any snapshot exists, table.json's count is the meaning of
    * legacy manifests' `buckets = -1` and must stay frozen; layout changes
    * ride on snapshots (commit `rebucketTo`), atomic with the pointer. */
  def updateBucketsHint(n: Int): Unit = {
    require(currentSnapshotId < 0,
      "cannot rewrite the creation bucket count of a non-empty table; " +
        "commit with rebucketTo instead")
    val m = meta
    Icelite.write(metaDir.resolve("table.json"),
      Serialization.write(m.copy(buckets = n)))
  }

  /** Current snapshot id, or -1 if the table is empty (no commit yet). */
  def currentSnapshotId: Long =
    if (Files.exists(pointer)) Files.readString(pointer).trim.toLong else -1L

  /** Manifest parses performed by this instance — an observability counter
    * (exposed so tests can assert metadata-read complexity, e.g. that a
    * backlog drain is O(backlog), not O(backlog²)). */
  @volatile var manifestReads: Long = 0L

  def snapshot(id: Long): Snapshot = {
    manifestReads += 1
    Serialization.read[Snapshot](Files.readString(metaDir.resolve(s"snap-$id.json")))
  }

  /** The chain walk: snapshots from `fromId` toward the root, newest first,
    * one [[snapshot]] parse per step, lazily. It stops BEFORE the first id
    * `stop` accepts (that manifest is never read) or past the root. Once
    * drained, [[Walk.end]] is the id it stopped before, so ancestry comes
    * from the same walk that collected the snapshots. */
  def walk(fromId: Long, stop: Long => Boolean = _ => false): Walk = new Walk(fromId, stop, null)

  /** [[walk]] from an already-parsed snapshot, which it yields first
    * without reading it again. */
  def walkFrom(s: Snapshot, stop: Long => Boolean = _ => false): Walk =
    new Walk(s.snapshotId, stop, s)

  final class Walk private[IceliteTable] (private var id: Long, stop: Long => Boolean,
      private var seed: Snapshot) extends Iterator[Snapshot] {
    def hasNext: Boolean = id >= 0 && !stop(id)
    def next(): Snapshot = {
      val s = if (seed != null) seed else snapshot(id)
      seed = null
      id = s.parentId
      s
    }

    /** Drain the walk; the id it stopped before (negative past the root). */
    def end(): Long = { while (hasNext) next(); id }
  }

  /** Is `id`'s manifest still on disk? A ref (tag/branch head) can outlive
    * its manifest when another instance drops the ref and vacuums between a
    * reader's ref listing and its manifest walk — read-only consumers guard
    * with this instead of racing into NoSuchFileException. */
  def hasSnapshot(id: Long): Boolean =
    Files.exists(metaDir.resolve(s"snap-$id.json"))

  def currentSnapshot: Option[Snapshot] = {
    val id = currentSnapshotId
    if (id < 0) None else Some(snapshot(id))
  }

  def schema(sid: Int): StructType =
    DataType.fromJson(Files.readString(metaDir.resolve(s"schema-$sid.json"))).asInstanceOf[StructType]

  def currentSchema: Option[StructType] = currentSnapshot.map(s => schema(s.schemaId))

  // Cumulative committed-epoch set per ref ("main" or a branch name; no
  // branch may be called "main"), cached with the head it was read at.
  // Without the cache every commit re-walked the whole chain (one JSON read
  // per prior snapshot, per batch = O(batches^2) driver I/O over a long
  // replay). The cache is extended INCREMENTALLY: walk down from the head
  // only until the cached head (or the root) is met. Safe because snapshots
  // are immutable — the one in-place rewrite (expireSnapshots' re-root)
  // preserves the cumulative epoch set by construction (expired epochs
  // move into carriedEpochs); a head that does not descend from the cached
  // one walks to the root and replaces the entry.
  private var epochCache: Map[String, (Long, Set[Long])] = Map.empty

  private def epochsAt(ref: String, head: Long): Set[Long] = rootLock.synchronized {
    if (head < 0) return Set.empty
    val (cachedHead, cached) = epochCache.getOrElse(ref, (-2L, Set.empty[Long]))
    if (head == cachedHead) return cached
    val w = walk(head, _ == cachedHead)
    val fresh = w.flatMap(s => s.carriedEpochs ++ Some(s.batchEpoch).filter(_ >= 0)).toSet
    val all = if (w.end() == cachedHead) cached ++ fresh else fresh
    epochCache += ref -> (head, all)
    all
  }

  /** All epochs in the current snapshot chain (root -> current). Amortized
    * O(new snapshots since last call), driver-side. */
  def committedEpochs: Set[Long] = epochsAt("main", currentSnapshotId)

  /** Highest committed epoch, or -1. The resume point of a consumer whose
    * epochs only grow (FeedConsumer's source snapshot ids). */
  def lastEpoch: Long = {
    val e = committedEpochs
    if (e.isEmpty) -1L else e.max
  }

  // ---- Named refs (Iceberg TAGS) ------------------------------------------
  // metadata/tags.json: {name -> snapshotId}, written with the same
  // write-temp + ATOMIC_MOVE discipline as the pointer. A tag pins a
  // snapshot for time travel past retention: expireSnapshots re-materializes
  // a tagged snapshot's manifest self-contained instead of deleting it, and
  // vacuum treats tag-referenced data files as live. Dropping the tag
  // releases both (the next expire/vacuum reclaims).

  private def tagsFile: Path = metaDir.resolve("tags.json")

  /** All named refs: tag name -> snapshot id. */
  def tags: Map[String, Long] =
    if (!Files.exists(tagsFile)) Map.empty
    else JsonMethods.parse(Files.readString(tagsFile)) match {
      case JObject(fs) => fs.map { case (k, v) => k -> v.extract[Long] }.toMap
      case _ => Map.empty
    }

  private def writeTags(t: Map[String, Long]): Unit =
    write(tagsFile, Serialization.writePretty(t))

  /** Create or move a tag. Default target: the current snapshot. The target
    * must be a committed ancestor (tagging a staged or orphaned manifest
    * would pin an id the chain never references) OR an already-tagged
    * retained snapshot (re-tagging under a second name stays legal after
    * the original was expired out of the chain). Returns the tagged id. */
  def tag(name: String, snapshotId: Long = -1L): Long = rootLock.synchronized {
    require(name.nonEmpty && name.forall(c => c.isLetterOrDigit || c == '-' || c == '_'),
      s"invalid tag name '$name'")
    val id = if (snapshotId >= 0) snapshotId else currentSnapshotId
    require(id >= 0, "cannot tag an empty table")
    require(isAncestor(id) || tags.valuesIterator.contains(id),
      s"tag target $id is neither an ancestor of the current snapshot nor already tagged")
    writeTags(tags + (name -> id))
    id
  }

  /** Remove a tag; returns whether it existed. The pinned snapshot (if out
    * of the chain) becomes reclaimable by the next vacuum. */
  def dropTag(name: String): Boolean = rootLock.synchronized {
    val t = tags
    if (!t.contains(name)) false
    else { writeTags(t - name); true }
  }

  /** Resolve a tag to its snapshot (manifest retained even past expiry). */
  def snapshotForTag(name: String): Snapshot = {
    val t = tags
    require(t.contains(name), s"no such tag '$name'")
    snapshot(t(name))
  }

  // ------------------------------------------------------------- branches
  // metadata/branches.json: {name -> head snapshot id}. A branch is a
  // WRITABLE named ref (Iceberg branch / git-style): commits with
  // `toBranch` advance the branch head instead of the main pointer, so an
  // ingest lane can accumulate several audited micro-batches in complete
  // isolation — readers of main, change feeds, mirrors and views see
  // nothing until `fastForward` publishes the whole lane atomically (one
  // pointer write). Snapshot ids are allocated from the same sequence as
  // main (maxSeenId), snapshots are ordinary immutable manifests, and the
  // branch chain shares its prefix with main below the fork point — the
  // delta-manifest parent walk works unchanged from any head. Maintenance
  // honors branches the way it honors tags: expireSnapshots pins each
  // branch's deepest expired ancestor (re-materialized self-contained,
  // epochs/watermark carried) and vacuum treats every branch chain's files
  // as live. Branch lanes are meant to be short (an audit window, not a
  // second table); rebucket and staged commits stay main-only.

  private def branchesFile: Path = metaDir.resolve("branches.json")

  /** All branches: name -> head snapshot id. */
  def branches: Map[String, Long] =
    if (!Files.exists(branchesFile)) Map.empty
    else JsonMethods.parse(Files.readString(branchesFile)) match {
      case JObject(fs) => fs.map { case (k, v) => k -> v.extract[Long] }.toMap
      case _ => Map.empty
    }

  private def writeBranches(b: Map[String, Long]): Unit =
    write(branchesFile, Serialization.writePretty(b))

  /** Create a branch at `snapshotId` (default: the current snapshot). The
    * fork point must be reachable from an existing ref — main's chain or
    * another branch — so a branch can never pin an orphaned manifest. */
  def createBranch(name: String, snapshotId: Long = -1L): Long = rootLock.synchronized {
    require(name.nonEmpty && name.forall(c => c.isLetterOrDigit || c == '-' || c == '_'),
      s"invalid branch name '$name'")
    require(name != "main", "'main' is the table pointer itself")
    val b = branches
    require(!b.contains(name), s"branch '$name' already exists")
    val id = if (snapshotId >= 0) snapshotId else currentSnapshotId
    require(id >= 0, "cannot branch an empty table")
    require(isAncestor(id) || b.valuesIterator.exists(h => isAncestorFrom(id, h)),
      s"branch fork point $id is not reachable from any ref")
    writeBranches(b + (name -> id))
    id
  }

  /** Head snapshot id of a branch. */
  def branchHead(name: String): Long = {
    val b = branches
    require(b.contains(name), s"no such branch '$name'")
    b(name)
  }

  /** Delete a branch ref; its unpublished snapshots' data files become
    * reclaimable by the next vacuum (manifests stay until then — they are
    * not chain-referenced, so they are inert). Returns whether it existed. */
  def dropBranch(name: String): Boolean = rootLock.synchronized {
    val b = branches
    if (!b.contains(name)) false
    else { writeBranches(b - name); true }
  }

  /** Publish a branch: fast-forward the main pointer to the branch head.
    * Legal only when main has not moved since the fork (the branch head
    * must descend from the current snapshot) — otherwise the branch is
    * stale relative to main and publishing would drop main's commits, so
    * a [[Icelite.CommitConflictException]] is raised; the writer re-forks
    * from the new head and replays its lane (its epochs re-apply
    * idempotently). The branch ref is dropped on success: its history IS
    * main's history now. */
  def fastForward(name: String): Snapshot = rootLock.synchronized {
    val head = branchHead(name)
    val cur = currentSnapshotId
    if (head == cur) { writeBranches(branches - name); return snapshot(head) }
    if (cur >= 0 && !isAncestorFrom(cur, head))
      throw new CommitConflictException(
        s"main advanced to snapshot $cur past branch '$name''s fork; " +
          "re-fork from the new head and replay the lane")
    advancePointer(cur, head)
    writeBranches(branches - name)
    snapshot(head)
  }

  /** Chain from `headId` back to its root (root first), mirroring
    * [[snapshotChain]] for an arbitrary ref head. */
  def chainFrom(headId: Long): List[Snapshot] = walk(headId).toList.reverse

  /** All epochs committed on `name`'s chain (fork ancestry included). */
  def branchEpochs(name: String): Set[Long] = epochsAt(name, branchHead(name))

  def snapshotChain: List[Snapshot] = chainFrom(currentSnapshotId)

  // Resolved full bucket -> file-list maps, LRU-cached per snapshot id.
  // Manifests are delta-only (see Snapshot.bucketDelta); resolution walks
  // parents until a cached / full snapshot, then overlays back up
  // (iterative — a 10^5-long chain must not recurse), and caches only the
  // snapshot asked for: caching every level a cold walk passes let a walk
  // of 8 or more levels evict its own endpoints. Sequential access keeps
  // the parent in cache, so steady-state commits and reads resolve in
  // O(delta); a cold open of a long keep-all chain pays one O(chain) walk,
  // same as the committed-epoch cache's first fill. Overlay shares
  // unchanged List instances structurally, so the cached maps cost
  // O(distinct lists), not O(entries x levels).
  private val resolveCache =
    new java.util.LinkedHashMap[Long, Map[String, List[DataFile]]](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[Long, Map[String, List[DataFile]]]): Boolean = size > 8
    }

  /** The COMPLETE bucket -> data-file mapping visible at snapshot `s`. */
  def bucketFilesOf(s: Snapshot): Map[String, List[DataFile]] = rootLock.synchronized {
    val hit = resolveCache.get(s.snapshotId)
    if (hit != null) return hit
    // walk until a cached ancestor (never read) or a full manifest
    val w = walkFrom(s, resolveCache.containsKey)
    var stack = List(w.next()) // deepest unresolved snapshot first
    while (!stack.head.full && w.hasNext) stack = w.next() :: stack
    var acc =
      if (stack.head.full || w.end() < 0) Map.empty[String, List[DataFile]]
      else resolveCache.get(w.end())
    for (sn <- stack) acc = acc ++ sn.bucketDelta
    resolveCache.put(s.snapshotId, acc)
    acc
  }

  /** ONE bucket's file list at snapshot `s` — walks only until the bucket's
    * most recent delta (or a full manifest), no full-map materialization.
    * The point-lookup fast path: driver-side metadata, O(segment) reads. */
  def bucketListOf(s: Snapshot, bucket: Int): List[DataFile] = {
    val key = bucket.toString
    walkFrom(s).collectFirst {
      case sn if sn.full || sn.bucketDelta.contains(key) => sn.bucketDelta.getOrElse(key, Nil)
    }.getOrElse(Nil)
  }

  /** Absolute data file paths of the current snapshot, optionally restricted
    * to a set of buckets (manifest-level partition pruning: the file list is
    * computed from metadata BEFORE any Spark plan is built). */
  def currentFiles(buckets: Option[Set[Int]] = None): Seq[String] =
    currentSnapshot.toSeq.flatMap(bucketLists(_, buckets).flatten)
      .map(f => root.resolve(f.path).toString)

  /** (files, schemaId) groups for the current snapshot restricted to buckets.
    * `lsnRange` additionally SKIPS files whose footer-derived [minLsn,
    * maxLsn] does not overlap the requested range (file-level stats
    * pruning, the manifest analog of the reference's as-of index). */
  def currentFileGroups(buckets: Option[Set[Int]] = None,
      lsnRange: Option[(Long, Long)] = None): Map[Int, Seq[String]] =
    currentSnapshot.fold(Map.empty[Int, Seq[String]])(s =>
      fileGroups(bucketLists(s, buckets).flatten.filter(f => lsnRange.forall {
        case (lo, hi) => f.maxLsn >= lo && f.minLsn <= hi
      })))

  /** Time travel: file groups of ANY snapshot in the chain (Iceberg's
    * `VERSION AS OF`). Snapshots are immutable, so reading an old id is
    * always consistent regardless of later commits. */
  def fileGroupsAt(snapshotId: Long, buckets: Option[Set[Int]] = None): Map[Int, Seq[String]] =
    fileGroups(bucketLists(snapshot(snapshotId), buckets).flatten)

  /** Files grouped by writer schema id, as absolute paths: readers scan
    * each writer schema once, so widened columns can be up-cast. */
  def fileGroups(files: Iterable[DataFile]): Map[Int, Seq[String]] =
    files.toSeq.groupBy(_.schemaId)
      .map { case (sid, fs) => sid -> fs.map(f => root.resolve(f.path).toString) }

  /** `s`'s file list of each bucket in `buckets` (None = every bucket). */
  def bucketLists(s: Snapshot, buckets: Option[Set[Int]]): Iterable[List[DataFile]] =
    bucketFilesOf(s).collect { case (b, fs) if buckets.forall(_.contains(b.toInt)) => fs }

  /** [[filesAddedSince]], grouped by writer schema ([[fileGroups]]). */
  def fileGroupsAddedSince(sinceSnapshotId: Long,
      buckets: Option[Set[Int]] = None,
      toSnapshotId: Long = -1L): Option[Map[Int, Seq[String]]] =
    filesAddedSince(sinceSnapshotId, buckets, toSnapshotId).map(fileGroups)

  /** Manifest DIFF: data files in the current snapshot but not in
    * `sinceSnapshotId` (by path — files are immutable, so path identity is
    * content identity). This is the file set an
    * incremental reader must scan: on merge-on-read tables it is exactly the
    * delta files of the intervening batches (I/O proportional to CHANGE
    * volume, not table size); on copy-on-write it is the rewritten buckets.
    * Returns None when `since` was expired out of the chain (caller must
    * fall back to a full read). */
  def filesAddedSince(sinceSnapshotId: Long, buckets: Option[Set[Int]],
      toSnapshotId: Long): Option[Seq[DataFile]] = {
    // validate by ANCESTRY (walking parent pointers), not manifest-file
    // existence: a crash-orphaned manifest — written but never
    // pointer-committed — exists on disk yet is not an ancestor, and a
    // diff against it would yield a wrong incremental set. The window end
    // `to` (default: current) must itself be in the chain, and `since`
    // must be an ancestor of `to`.
    val toId = if (toSnapshotId >= 0) toSnapshotId else currentSnapshotId
    if (toId < 0) Some(Nil)
    else if (!isAncestor(toId) ||
      sinceSnapshotId >= 0 && !isAncestorFrom(sinceSnapshotId, toId)) None
    else Some(filesAdded(
      if (sinceSnapshotId < 0) None else Some(snapshot(sinceSnapshotId)),
      snapshot(toId), buckets))
  }

  /** The diff behind [[filesAddedSince]], for a caller that already proved
    * `since` (None: none) an ancestor of `to` — e.g. by a [[window]].
    * Reads only the two endpoints' resolved file sets. */
  def filesAdded(since: Option[Snapshot], to: Snapshot,
      buckets: Option[Set[Int]]): Seq[DataFile] = {
    val oldPaths: Set[String] =
      since.fold(Set.empty[String])(bucketFilesOf(_).valuesIterator.flatten.map(_.path).toSet)
    bucketLists(to, buckets).flatten.filterNot(f => oldPaths.contains(f.path)).toSeq
  }

  /** Is `id` an ancestor of (or equal to) the current snapshot? */
  def isAncestor(id: Long): Boolean = isAncestorFrom(id, currentSnapshotId)

  /** Is `id` an ancestor of (or equal to) `from`? */
  def isAncestorFrom(id: Long, from: Long): Boolean =
    id >= 0 && walk(from, _ == id).end() == id

  /** RESTORE (Delta `RESTORE TABLE ... TO VERSION`, Iceberg
    * rollback-as-new-commit): commit a NEW snapshot whose visible file set
    * equals ancestor `snapshotId` — metadata-only (no data rewritten, no
    * files added), instant at any table size, and history-preserving: the
    * rolled-back snapshots stay in the chain for time travel and keep their
    * data files referenced until expired+vacuumed. Moving the POINTER back
    * instead would orphan snapshot ids the next commit reuses.
    *
    * Exactly-once interaction: the rolled-back batches' epochs remain
    * committed (their snapshots are still ancestors), so re-delivering the
    * SAME bad batch stays a no-op — a correction must arrive as a NEW epoch
    * (with its own LSNs; the discarded cells no longer compete in LWW).
    *
    * Every bucket whose file list differs from the current snapshot gets a
    * synthetic lineage row (lsn range -1, 0 events): a restore CHANGES those
    * buckets' visible values, and incremental readers prove their bucket
    * pruning complete from lineage. `restoreOf` marks the snapshot so
    * change feeds drop the merge-on-read added-file key refinement and
    * synthesize tombstones for keys the restore removed. */
  def rollbackTo(snapshotId: Long): Snapshot = rootLock.synchronized {
    require(snapshotId >= 0 && isAncestor(snapshotId),
      s"rollback target $snapshotId is not an ancestor of the current snapshot")
    val cur = currentSnapshot.get
    if (snapshotId == cur.snapshotId) return cur
    val target = snapshot(snapshotId)
    val curFiles = bucketFilesOf(cur)
    val targetFiles = bucketFilesOf(target)
    if (effectiveBuckets(target) != effectiveBuckets(cur)) {
      // the rollback window contains a rebucket: the restored file set lives
      // in the TARGET's bucket layout, so the restore must also restore the
      // layout (rebucketTo stamps the count and forces a full manifest —
      // a delta would leave untouched current-layout buckets leaking
      // through the parent walk into a foreign hash regime)
      return commit(
        batchEpoch = -1L,
        schemaId = target.schemaId,
        newBucketFiles = targetFiles.map { case (b, fs) => b.toInt -> fs },
        lineage = targetFiles.keySet.toList.map(_.toInt).sorted.map(b =>
          BucketLineage(b, lsnMin = -1L, lsnMax = -1L, events = 0L, rows = 0L)),
        rowDelta = target.totalRows - cur.totalRows,
        expectedParentId = cur.snapshotId,
        restoreOf = snapshotId,
        rebucketTo = effectiveBuckets(target))
    }
    val changed = (curFiles.keySet ++ targetFiles.keySet).filter { b =>
      curFiles.getOrElse(b, Nil).map(_.path) !=
        targetFiles.getOrElse(b, Nil).map(_.path)
    }
    commit(
      batchEpoch = -1L,
      schemaId = target.schemaId,
      newBucketFiles = changed.map(b =>
        b.toInt -> targetFiles.getOrElse(b, Nil)).toMap,
      lineage = changed.toList.sorted.map(b =>
        BucketLineage(b.toInt, lsnMin = -1L, lsnMax = -1L, events = 0L, rows = 0L)),
      rowDelta = target.totalRows - cur.totalRows,
      expectedParentId = cur.snapshotId,
      restoreOf = snapshotId)
  }

  /** Iceberg `expire_snapshots(older_than => TIMESTAMP)`: expire every
    * chain snapshot committed strictly before `cutoffMillis`, always
    * keeping at least the current snapshot. Same re-root / tag-and-branch
    * pinning / carried-bookkeeping machinery as the count-based form —
    * commit times are monotone along the chain, so an age cutoff is a
    * chain-suffix keep. */
  def expireOlderThan(cutoffMillis: Long): Seq[Long] = rootLock.synchronized {
    val chain = snapshotChain
    if (chain.isEmpty) return Seq.empty
    val keepFrom = chain.indexWhere(_.commitMillis >= cutoffMillis) match {
      case -1 => chain.size - 1 // everything is old: keep only the current
      case i => i
    }
    if (keepFrom == 0) return Seq.empty
    expireSnapshots(chain.size - keepFrom)
  }

  /** Expire history: truncate the snapshot chain to the most recent
    * `keepLast` snapshots (Iceberg's expire_snapshots). The oldest kept
    * snapshot is re-rooted (parentId -1); expired snapshot manifests are
    * deleted, after which `vacuum()` reclaims any data files only they
    * referenced. Epochs recorded by expired snapshots stay visible through
    * the kept chain ONLY if re-listed — so expiration keeps the epoch set of
    * the expired prefix on the new root to preserve exactly-once semantics.
    * Returns the ids of expired snapshots. */
  def expireSnapshots(keepLast: Int): Seq[Long] = rootLock.synchronized {
    require(keepLast >= 1, "must keep at least the current snapshot")
    val chain = snapshotChain
    if (chain.size <= keepLast) return Seq.empty
    val (expired, kept) = chain.splitAt(chain.size - keepLast)
    // BOTH the expired snapshots' own epochs AND the epochs they were
    // already carrying: after the first expiry the old ROOT holds the
    // accumulated carried set, and the next expiry evicts that root — a
    // `batchEpoch`-only carry silently dropped the whole accumulated
    // ledger there, so an epoch two retention-windows old re-APPLIED on
    // re-delivery (double data). Caught by a 500-epoch streaming-sink
    // ledger assert after ~12 expiry cycles; pinned by the repeated-expiry
    // re-delivery test in IceliteSpec.
    val epochsToCarry = expired.flatMap(_.carriedEpochs) ++
      expired.map(_.batchEpoch).filter(_ >= 0)
    // the expired prefix's high watermark must survive the re-root: without
    // it a chain re-rooted onto a lineage-free snapshot (e.g. a compaction)
    // reports watermark -1 and a change-feed consumer gets the whole table
    // re-delivered
    val watermarkToCarry = (expired.map(_.carriedWatermark) ++
      expired.flatMap(_.lineage.map(_.lsnMax))).foldLeft(-1L)(math.max)
    // resolve BEFORE deleting ancestors (the walk needs their manifests):
    // the re-root absorbs its expired ancestry into one full manifest —
    // the amortized O(table)-once metadata write that keeps every ordinary
    // commit's manifest O(changed buckets)
    val newRoot = kept.head.copy(parentId = -1L,
      bucketDelta = bucketFilesOf(kept.head), full = true,
      carriedEpochs = (kept.head.carriedEpochs ++ epochsToCarry).distinct.sorted,
      carriedWatermark = math.max(kept.head.carriedWatermark, watermarkToCarry))
    write(metaDir.resolve(s"snap-${newRoot.snapshotId}.json"), Serialization.writePretty(newRoot))
    // TAGGED snapshots in the expired prefix stay readable: re-materialize
    // each one self-contained (full manifest, no parent) BEFORE any expired
    // ancestor manifest is deleted — the resolution walk needs them — and
    // keep its manifest on disk. It leaves the chain (time travel by tag,
    // not ancestry); its data files stay vacuum-protected via the tag.
    // BRANCH chains cross the expired prefix at their fork: pin each
    // branch's highest expired ancestor the same way, so the branch's
    // parent walk terminates at a full manifest instead of a deleted one.
    // The pinned rewrite carries its expired ancestry's epochs/watermark —
    // a branch lane must keep detecting duplicates of batches committed
    // below its (now absorbed) fork history.
    val expiredIds = expired.map(_.snapshotId).toSet
    val branchPins: Set[Long] = branches.values
      .map(head => walk(head, expiredIds.contains).end())
      .filter(_ >= 0).toSet
    val pinned = tags.values.toSet ++ branchPins
    expired.zipWithIndex.filter { case (s, _) => pinned.contains(s.snapshotId) }
      .foreach { case (s, i) =>
        val below = expired.take(i)
        val selfContained = s.copy(parentId = -1L,
          bucketDelta = bucketFilesOf(s), full = true,
          carriedEpochs = (s.carriedEpochs ++ below.flatMap(_.carriedEpochs) ++
            below.map(_.batchEpoch).filter(_ >= 0)).distinct.sorted,
          carriedWatermark = (below.map(_.carriedWatermark) ++
            below.flatMap(_.lineage.map(_.lsnMax)))
            .foldLeft(s.carriedWatermark)(math.max))
        write(metaDir.resolve(s"snap-${s.snapshotId}.json"),
          Serialization.writePretty(selfContained))
      }
    expired.filterNot(s => pinned.contains(s.snapshotId))
      .foreach(s => Files.deleteIfExists(metaDir.resolve(s"snap-${s.snapshotId}.json")))
    // claim files key pointer transitions by parent id; an expired snapshot
    // can never again be anyone's commit parent, so its claim is garbage.
    // Safe against the stale-writer hazard: a writer re-creating a swept
    // claim finds the pointer far past its parent and conflicts (see
    // advancePointer).
    expired.foreach(s => Files.deleteIfExists(claimsDir.resolve(s"p${s.snapshotId}")))
    expired.map(_.snapshotId)
  }

  /** Garbage-collect data files not referenced by ANY snapshot in the current
    * chain — orphans from crashes between data write and pointer commit,
    * from aborted writers, or files only expired snapshots referenced.
    * Returns the deleted table-relative paths.
    *
    * Concurrency contract: `vacuum` is synchronized against `commit` on this
    * table instance, and `graceMillis` (Iceberg remove_orphan_files'
    * `older_than`) excludes recently-written files — an in-flight writer's
    * data files, written but not yet committed, are NOT orphans and must
    * survive. Run vacuum with a grace period comfortably above the longest
    * batch write time; same-process serialization alone only covers writers
    * sharing this instance (the sandbox is single-writer; a multi-writer
    * deployment keys this off the catalog's commit timestamps). STAGED
    * snapshots (write-audit-publish) are not chain-referenced, so a vacuum
    * racing an audit could reclaim their data files — keep the grace period
    * above the audit window, or publish/drop before vacuuming. */
  def vacuum(graceMillis: Long = 0L, asOfMillis: Long = -1L): Seq[String] = rootLock.synchronized {
    val (orphans, deadManifests) =
      garbageScan(vacuumCutoff(graceMillis, asOfMillis))
    orphans.foreach(rel => Files.deleteIfExists(root.resolve(rel)))
    // sweep now-empty directories bottom-up
    val dataDir = root.resolve("data")
    if (Files.exists(dataDir)) {
      val dirStream = Files.walk(dataDir)
      try dirStream.iterator().asScala.toList.reverse
        .filter(p => Files.isDirectory(p) && p != dataDir)
        .foreach { d =>
          val ls = Files.list(d)
          val empty = try !ls.iterator().hasNext finally ls.close()
          if (empty) Files.deleteIfExists(d)
        }
      finally dirStream.close()
    }
    deadManifests.foreach(rel => Files.deleteIfExists(root.resolve(rel)))
    orphans ++ deadManifests
  }

  /** What [[vacuum]] with the same grace WOULD reclaim, without touching
    * anything — Iceberg's `remove_orphan_files(dry_run)` contract. Pairs of
    * (relative path, kind) where kind is `"data"` for unreferenced data
    * files and `"manifest"` for dead off-chain snapshot manifests.
    *
    * For an audit-then-delete flow with a NONZERO grace, pass the same
    * `asOfMillis` to both calls: each call otherwise anchors the grace
    * window at its own invocation instant, so a file written just inside
    * the grace at audit time could age past it by delete time and be
    * reclaimed without ever appearing in the audited report. */
  def vacuumDryRun(graceMillis: Long = 0L, asOfMillis: Long = -1L): Seq[(String, String)] =
    rootLock.synchronized {
      val (orphans, deadManifests) =
        garbageScan(vacuumCutoff(graceMillis, asOfMillis))
      orphans.map((_, "data")) ++ deadManifests.map((_, "manifest"))
    }

  /** Grace anchored at `asOfMillis` when given (>= 0), else at now. */
  private def vacuumCutoff(graceMillis: Long, asOfMillis: Long): Long =
    (if (asOfMillis >= 0) asOfMillis else System.currentTimeMillis()) - graceMillis

  /** Garbage candidates at `cutoff` (mtime <= cutoff): data files referenced
    * by no retained snapshot/tag/branch, and off-chain manifests no ref
    * needs. Shared by [[vacuum]] (which deletes) and [[vacuumDryRun]]
    * (which reports) so the two can never disagree about the live set.
    *
    * union of raw DELTAS across the chain == union of every chain
    * snapshot's resolved file set: each delta list IS the bucket's visible
    * list at the snapshot that wrote it (still in the chain), and every
    * resolution only selects from delta lists — no resolution needed here.
    * Tag-pinned snapshots keep their files live even off-chain: an
    * on-chain tag's delta is covered by the chain union already, and an
    * off-chain (expired) tag was re-materialized FULL at expiry, so its
    * raw bucketDelta IS its complete file set. */
  private def garbageScan(cutoff: Long): (List[String], List[String]) = {
    // ONE walk per ref: main's chain, then each branch down to the first
    // snapshot an earlier walk already covered (its fork) — branch lanes
    // keep their own unpublished commits live, the shared prefix is main's
    val liveIds = scala.collection.mutable.Set.empty[Long]
    val referenced = scala.collection.mutable.Set.empty[String]
    (currentSnapshotId :: branches.values.toList.filter(hasSnapshot)).foreach { head =>
      walk(head, liveIds.contains).foreach { s =>
        liveIds += s.snapshotId
        referenced ++= s.bucketDelta.valuesIterator.flatten.map(_.path)
      }
    }
    tags.values.toSet.filterNot(liveIds.contains).filter(hasSnapshot)
      .foreach(id => referenced ++= snapshot(id).bucketDelta.valuesIterator.flatten.map(_.path))
    liveIds ++= tags.values
    val dataDir = root.resolve("data")
    if (!Files.exists(dataDir)) return (Nil, Nil)
    val stream = Files.walk(dataDir)
    val orphans =
      try stream.iterator().asScala
        .filter(p => Files.isRegularFile(p) &&
          Files.getLastModifiedTime(p).toMillis <= cutoff)
        .map(relativize)
        .filterNot(referenced.contains)
        .toList
      finally stream.close()
    // Off-chain manifest GC: snap-N.json files pinned at expiry for tags or
    // branch forks, or left by dropped staged snapshots, are not
    // chain-referenced — once the last tag/branch that needed one is gone
    // it is pure metadata garbage and would otherwise accumulate forever.
    // Live = main chain + tag pins + every branch chain. The grace cutoff
    // protects freshly-STAGED (WAP) manifests awaiting audit, same contract
    // as their data files above.
    val metaStream = Files.list(metaDir)
    val deadManifests =
      try metaStream.iterator().asScala
        .filter { p =>
          val n = p.getFileName.toString
          n.startsWith("snap-") && n.endsWith(".json") &&
            n.stripPrefix("snap-").stripSuffix(".json").toLongOption
              .exists(!liveIds.contains(_)) &&
            Files.getLastModifiedTime(p).toMillis <= cutoff
        }
        .map(relativize).toList
      finally metaStream.close()
    (orphans, deadManifests)
  }

  // Highest snapshot id ever seen by this instance (>= any manifest on
  // disk at first use). Commits allocate max(parentId, maxSeenId) + 1, so a
  // STAGED snapshot (manifest written, pointer untouched) can never be
  // clobbered by a later chain commit reusing its id. On a plain chain this
  // degenerates to the classic parentId + 1. Lazy first fill is one
  // directory listing; afterwards allocation is O(1).
  private var maxSeenId: Long = -2L
  private def allocSnapshotId(parentId: Long): Long = {
    if (maxSeenId == -2L) {
      val stream = Files.list(metaDir)
      maxSeenId =
        try stream.iterator().asScala.flatMap { p =>
          val n = p.getFileName.toString
          if (n.startsWith("snap-") && n.endsWith(".json"))
            n.stripPrefix("snap-").stripSuffix(".json").toLongOption
          else None
        }.foldLeft(-1L)(math.max)
        finally stream.close()
    }
    maxSeenId = math.max(maxSeenId, parentId) + 1
    // another INSTANCE (same JVM or another process) may have allocated ids
    // this instance's cache has never seen (a staged WAP snapshot moves no
    // pointer, so parentId doesn't reveal it either; a branch lane's head
    // is only in branches.json). Probe past every id whose manifest already
    // exists; the manifest write itself is EXCLUSIVE (writeNew), so a
    // same-id race that slips past this probe is caught there and re-probes
    // — an id is never clobbered, in any interleaving, in any process.
    // Crash debris (a manifest written by a writer that died before its
    // pointer move, never adopted by a claim completion) permanently skips
    // its id — one leaked integer, swept with the manifest by vacuum.
    while (Files.exists(metaDir.resolve(s"snap-$maxSeenId.json"))) maxSeenId += 1
    maxSeenId
  }

  /** On-disk registry of live staged (WAP) snapshot ids — the one snapshot
    * class reachable from NO ref, which id allocation in any instance must
    * still never clobber. One MARKER FILE per id (`metadata/staged/<id>`),
    * not a single list file: register/deregister are then per-id creates
    * and deletes with no read-modify-write, so concurrent stagers in
    * DIFFERENT processes can never lose each other's registrations (a
    * shared JSON list would drop whichever write lands first). Registered
    * before the staged manifest is written (a crash in between leaks one
    * skipped id, never a clobber); deregistered at publish/drop. A legacy
    * `staged.json` (pre-marker layout) is read as part of the set and
    * drained on deregistration. */
  private def stagedFile: Path = metaDir.resolve("staged.json")
  private def stagedDir: Path = metaDir.resolve("staged")

  /** Registered staged (unpublished) snapshot ids — the WAP in-flight set.
    * Public so a catalog-level recovery sweep ([[graft.engine.AtomicTxn
    * .recover]]) can drop stages orphaned by a committer crash. */
  def stagedSnapshotIds: Set[Long] = rootLock.synchronized(stagedIds)

  private def stagedIds: Set[Long] = {
    val legacy =
      if (Files.exists(stagedFile))
        Serialization.read[List[Long]](Files.readString(stagedFile)).toSet
      else Set.empty[Long]
    val markers =
      if (!Files.exists(stagedDir)) Set.empty[Long]
      else {
        val s = Files.list(stagedDir)
        try s.iterator().asScala
          .flatMap(_.getFileName.toString.toLongOption).toSet
        finally s.close()
      }
    legacy ++ markers
  }

  private def registerStaged(id: Long): Unit = {
    Files.createDirectories(stagedDir)
    try Files.createFile(stagedDir.resolve(id.toString))
    catch { case _: java.nio.file.FileAlreadyExistsException => () }
  }

  private def deregisterStaged(id: Long): Unit = {
    Files.deleteIfExists(stagedDir.resolve(id.toString))
    if (Files.exists(stagedFile)) {
      val rest = Serialization.read[List[Long]](
        Files.readString(stagedFile)).filterNot(_ == id)
      if (rest.isEmpty) Files.deleteIfExists(stagedFile)
      else write(stagedFile, Serialization.writePretty(rest.sorted))
    }
  }

  /** Register a (possibly evolved) schema; returns its id. Reuses the current
    * id if the schema is unchanged. Append-only, like Iceberg's schema list. */
  def ensureSchema(s: StructType): Int = rootLock.synchronized {
    currentSnapshot match {
      case Some(snap) if schema(snap.schemaId).json == s.json => snap.schemaId
      case _ =>
        // reuse any previously registered identical schema
        var i = 0
        while (Files.exists(metaDir.resolve(s"schema-$i.json"))) {
          if (schema(i).json == s.json) return i
          i += 1
        }
        write(metaDir.resolve(s"schema-$i.json"), s.json)
        i
    }
  }

  /** Atomically commit a new snapshot. `append = false` (copy-on-write)
    * REPLACES `newBucketFiles`' buckets; `append = true` (merge-on-read
    * deltas) APPENDS the new files to each bucket's existing list. Every
    * untouched bucket inherits the parent's file list by reference. Returns
    * the committed snapshot (or, if `batchEpoch` was already applied, the
    * chain snapshot that applied it — falling back to the current snapshot
    * when the applying snapshot was expired and survives only through
    * `carriedEpochs`: idempotent re-delivery stays a no-op across
    * expiration).
    *
    * Multi-writer optimistic protocol, real across OS processes: the
    * manifest file is created exclusively (same-id allocations by foreign
    * processes re-probe instead of clobbering), the pointer is re-read
    * immediately before the move, and the move itself must win the
    * per-parent claim CAS (see [[advancePointer]]) — of any set of
    * processes committing against one parent snapshot, exactly one
    * advances; the rest raise [[Icelite.CommitConflictException]] and the
    * engine re-merges against the fresh head. `expectedParentId` remains
    * the EARLY conflict check (fail before writing a stale manifest); the
    * claim is the authoritative late one. Proven across forked JVMs by
    * CrossProcessSpec; on a real deployment the claim maps onto the
    * object-store/catalog-service CAS, which is exactly the Iceberg
    * catalog contract.
    */
  def commit(
      batchEpoch: Long,
      schemaId: Int,
      newBucketFiles: Map[Int, List[DataFile]],
      lineage: List[BucketLineage],
      rowDelta: Long,
      append: Boolean = false,
      // multi-writer optimistic concurrency: the snapshot id the writer
      // prepared its files against (-2 = single-writer mode, use current).
      // A mismatch raises CommitConflictException; the writer re-reads and
      // retries (its data files stay on disk, covered by the vacuum grace).
      expectedParentId: Long = -2L,
      restoreOf: Long = -1L,
      // write-audit-publish: true writes the snapshot manifest WITHOUT
      // moving the pointer — the snapshot exists, is readable by id
      // (fileGroupsAt / stateAt), but is invisible to every chain reader
      // until publish(). Iceberg's staged/WAP snapshot.
      stage: Boolean = false,
      // > 0 marks a BUCKET-EVOLUTION commit: `newBucketFiles` is the whole
      // table rewritten under this bucket count (the manifest is forced
      // full — old-layout bucket ids must not leak through the parent
      // walk) and every descendant inherits the new count.
      rebucketTo: Int = -1,
      // Some(name): commit onto that branch's head and advance the branch
      // ref instead of the main pointer (see the branches section).
      // Exactly-once is scoped per ref chain — after fastForward the lane's
      // epochs are main's epochs, so replaying the lane stays a no-op.
      toBranch: Option[String] = None,
      // true marks a tombstone-GC commit (see Snapshot.purge)
      purge: Boolean = false): Snapshot = rootLock.synchronized {
    require(toBranch.isEmpty || (!stage && rebucketTo < 0),
      "staged and rebucket commits are main-only")
    val parent = toBranch match {
      case Some(n) => Some(snapshot(branchHead(n)))
      case None => currentSnapshot
    }
    val epochsSeen = toBranch.map(branchEpochs).getOrElse(committedEpochs)
    if (batchEpoch >= 0 && epochsSeen.contains(batchEpoch)) {
      // already applied — exactly-once via idempotent no-op
      return parent.flatMap(walkFrom(_).find(_.batchEpoch == batchEpoch))
        .orElse(parent).get
    }
    val parentId = parent.map(_.snapshotId).getOrElse(-1L)
    if (expectedParentId != -2L && expectedParentId != parentId)
      throw new CommitConflictException(
        s"table advanced to snapshot $parentId past the writer's view $expectedParentId")
    var id = allocSnapshotId(parentId)
    // staged ids register BEFORE their manifest exists: the registry is
    // what stops another instance's allocator from clobbering the file
    if (stage) registerStaged(id)
    // DELTA manifest: serialize only the touched buckets (each with its
    // complete post-commit list — append mode folds the parent's list in);
    // untouched buckets are inherited by the parent walk at read time
    val parentFiles = parent.map(bucketFilesOf).getOrElse(Map.empty)
    val delta = newBucketFiles.map { case (k, v) =>
      val key = k.toString
      key -> (if (append) parentFiles.getOrElse(key, Nil) ++ v else v)
    }
    val snap0 = Snapshot(
      snapshotId = id, parentId = parentId, batchEpoch = batchEpoch,
      schemaId = schemaId,
      bucketDelta = if (rebucketTo > 0) newBucketFiles.map { case (k, v) => k.toString -> v }
        else delta,
      full = parent.isEmpty || rebucketTo > 0,
      lineage = lineage, totalRows = parent.map(_.totalRows).getOrElse(0L) + rowDelta,
      commitMillis = System.currentTimeMillis(),
      carriedWatermark = parent.map(_.carriedWatermark).getOrElse(-1L),
      restoreOf = restoreOf,
      // every snapshot carries its explicit layout from the first commit on
      // (-1 appears only in legacy manifests, where it means the CREATION
      // count — which is why table.json's bucket count must never be
      // rewritten once a chain exists)
      buckets = if (rebucketTo > 0) rebucketTo
        else parent.map(_.buckets).getOrElse(meta.buckets),
      rebucket = rebucketTo > 0,
      purge = purge)
    // EXCLUSIVE manifest create: a foreign process's allocator can hand out
    // the same id concurrently; losing the create means re-allocating the
    // next id, never overwriting. A marker registered for a collided staged
    // id is deliberately NOT removed — it may be the foreign writer's live
    // registration (a spurious marker on a chain snapshot is inert).
    var snap = snap0
    while (!Icelite.writeNew(metaDir.resolve(s"snap-$id.json"),
        Serialization.writePretty(snap))) {
      maxSeenId = math.max(maxSeenId, id)
      id = allocSnapshotId(parentId)
      if (stage) registerStaged(id)
      snap = snap0.copy(snapshotId = id)
    }
    if (stage) return snap // manifest on disk, pointer untouched: invisible
    toBranch match {
      case Some(n) =>
        if (branchHead(n) != parentId)
          throw new IllegalStateException(
            s"concurrent commit detected on branch '$n': expected head $parentId, " +
              s"found ${branchHead(n)}")
        writeBranches(branches + (n -> id))
      case None =>
        // a CROSS-PROCESS winner may have advanced the pointer since the
        // parent read (the in-JVM lock cannot see it) — surface it as the
        // optimistic conflict it is, the engine's retry loop re-merges
        if (currentSnapshotId != parentId)
          throw new CommitConflictException(
            s"table advanced past parent $parentId to $currentSnapshotId " +
              "during the merge; re-read and retry")
        advancePointer(parentId, id)
    }
    snap
  }

  /** Publish a staged snapshot (write-audit-publish step 3): atomically move
    * the pointer to a snapshot previously committed with `stage = true`,
    * after the audit passed. Exactly-once and optimistic-concurrency rules
    * are re-checked AT PUBLISH TIME, because the table may have moved while
    * the audit ran:
    *   - if the staged snapshot's epoch was committed meanwhile (duplicate
    *     delivery raced the audit), publish is an idempotent no-op returning
    *     the snapshot that applied it;
    *   - if the chain advanced past the staged snapshot's parent, publishing
    *     would silently DROP the intervening commits, so it raises
    *     [[Icelite.CommitConflictException]] — the writer re-stages against
    *     the new head (its merge is stale, not just its pointer) and
    *     re-audits. */
  def publish(stagedId: Long): Snapshot = rootLock.synchronized {
    val snapPath = metaDir.resolve(s"snap-$stagedId.json")
    require(Files.exists(snapPath), s"no staged snapshot $stagedId")
    val staged = snapshot(stagedId)
    if (staged.batchEpoch >= 0 && committedEpochs.contains(staged.batchEpoch))
      return walk(currentSnapshotId).find(_.batchEpoch == staged.batchEpoch)
        .orElse(currentSnapshot).get
    if (isAncestor(stagedId)) {
      // already published — possibly by another process that died between
      // its pointer move and its registry cleanup: finish the cleanup here
      // so the marker cannot linger forever
      deregisterStaged(stagedId)
      return staged
    }
    if (staged.parentId != currentSnapshotId)
      throw new CommitConflictException(
        s"table advanced to snapshot $currentSnapshotId past staged $stagedId's " +
          s"parent ${staged.parentId}; re-stage and re-audit")
    advancePointer(staged.parentId, stagedId)
    deregisterStaged(stagedId) // now an ordinary main ancestor
    staged
  }

  /** Discard a staged snapshot that failed its audit: delete its manifest
    * and every data file it added that no chain snapshot references (on a
    * staged snapshot none are, but the chain check keeps this safe to call
    * on anything unpublished). Refuses to touch published snapshots. */
  def dropStaged(stagedId: Long): Seq[String] = rootLock.synchronized {
    require(!isAncestor(stagedId), s"snapshot $stagedId is published; use rollbackTo")
    val snapPath = metaDir.resolve(s"snap-$stagedId.json")
    if (!Files.exists(snapPath)) return Seq.empty
    val staged = snapshot(stagedId)
    val referenced: Set[String] =
      snapshotChain.flatMap(_.bucketDelta.valuesIterator.flatten.map(_.path)).toSet
    val doomed = staged.bucketDelta.valuesIterator.flatten.map(_.path)
      .filterNot(referenced.contains).toList.distinct
    doomed.foreach(rel => Files.deleteIfExists(root.resolve(rel)))
    // each commit writes into an exclusive directory under data/ — once a
    // staged commit's files are gone, sweep the dir itself so writer
    // sidecars (_SUCCESS, .crc) don't linger until the next vacuum
    val writeDirs = doomed.map(rel => Paths.get(rel).getName(1).toString).toSet
    writeDirs.foreach { d =>
      val hasLive = referenced.exists(p => Paths.get(p).getName(1).toString == d)
      if (!hasLive) deleteTree(root.resolve("data").resolve(d))
    }
    Files.deleteIfExists(snapPath)
    deregisterStaged(stagedId)
    doomed
  }

  def relativize(abs: Path): String = root.relativize(abs).toString
}

object IceliteTable {
  import Icelite._

  def create(root: String, keyCols: Seq[String], buckets: Int,
      mergeOnRead: Boolean = false): IceliteTable = {
    val r = Paths.get(root)
    val metaDir = r.resolve("metadata")
    Files.createDirectories(metaDir)
    Icelite.write(metaDir.resolve("table.json"),
      Serialization.write(TableMeta(keyCols.toList, buckets, mergeOnRead)))
    new IceliteTable(r)
  }

  def load(root: String): IceliteTable = {
    val r = Paths.get(root)
    require(Files.exists(r.resolve("metadata").resolve("table.json")),
      s"not an icelite table: $root")
    new IceliteTable(r)
  }

  def exists(root: String): Boolean =
    Files.exists(Paths.get(root).resolve("metadata").resolve("table.json"))

  def createOrLoad(root: String, keyCols: Seq[String], buckets: Int,
      mergeOnRead: Boolean = false): IceliteTable =
    if (exists(root)) load(root) else create(root, keyCols, buckets, mergeOnRead)
}

/** Steps a consumer through the chain above its floor in windows of at
  * most `k` snapshots, walking each snapshot once: the first call walks
  * (floor, head], a later call walks only the suffix a moved head added
  * (down to the head walked last), so enumerating an N-snapshot backlog
  * costs N manifest parses at any step size, where re-walking the
  * remainder per step costs O(N²/k). If `floor` is not on the chain
  * (expired) the backlog is the whole retained chain, as for the feed's
  * conservative redelivery; a walk that misses the head walked last, or a
  * cached backlog whose oldest id was expired meanwhile, starts over from
  * the retained chain. Holds only ids: the caller passes the table it
  * reads. Shared by `FeedConsumer.syncBacklog` and the `icelite-feed`
  * source's `maxSnapshotsPerTrigger`. */
final class ChainStepper {
  // chain ids above the last floor, oldest first, up to walkedHead
  private var ids = Vector.empty[Long]
  private var walkedHead = -1L

  /** Manifests parsed by this stepper's walks (observability: a drain's
    * walk is O(backlog) total). */
  @volatile private[graft] var walkReads = 0L

  /** The end of the next window above `floor` toward `head`: the `k`-th
    * chain snapshot above `floor`, or `head` when fewer lie between. */
  def next(table: IceliteTable, floor: Long, head: Long, k: Int): Long = synchronized {
    def walkDown(stop: Long => Boolean): (Vector[Long], Long) = {
      val w = table.walk(head, stop)
      val fresh = w.map(_.snapshotId).toVector.reverse
      walkReads += fresh.size
      (fresh, w.end())
    }
    if (head != walkedHead) {
      val (fresh, end) = walkDown(id => id == walkedHead || id == floor)
      ids = if (end == walkedHead) ids ++ fresh else fresh
      walkedHead = head
    }
    ids = ids.drop(ids.indexOf(floor) + 1)
    // expiry deletes a chain prefix: if the oldest cached id is gone the
    // cache may hold more expired ids — walk (floor, head] again
    if (ids.headOption.exists(id => !table.hasSnapshot(id))) ids = walkDown(_ == floor)._1
    ids.take(k).lastOption.getOrElse(head)
  }
}
