package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.types._
import graft.icelite.{Icelite, IceliteTable}
import graft.engine.SchemaEvolve

class IceliteSpec extends AnyFunSuite {

  def mkTable(): IceliteTable =
    IceliteTable.create(SparkTestBase.tmpDir("ice") + "/t", Seq("repo", "path"), 8)

  val schemaA = StructType(Seq(StructField("x", LongType)))

  /** manifest entry shorthand: stats-free DataFile for protocol tests */
  def f(path: String, sid: Int = 0): Icelite.DataFile = Icelite.DataFile(path, sid, 1)

  test("empty table, create/load, pointer starts absent") {
    val t = mkTable()
    assert(t.currentSnapshotId === -1L)
    assert(t.currentSnapshot.isEmpty)
    assert(t.currentFiles() === Seq.empty)
    val t2 = IceliteTable.load(t.root.toString)
    assert(t2.meta.buckets === 8)
    assert(t2.meta.keyCols === List("repo", "path"))
  }

  test("commit chain, bucket inheritance, manifest pruning") {
    val t = mkTable()
    val sid = t.ensureSchema(schemaA)
    t.commit(0, sid, Map(1 -> List(f("f1.parquet")), 2 -> List(f("f2.parquet"))),
      List(Icelite.BucketLineage(1, 0, 10, 5, 5)), 5)
    t.commit(1, sid, Map(2 -> List(f("f2b.parquet"))), Nil, 3)
    val s = t.currentSnapshot.get
    assert(s.snapshotId === 1)
    assert(s.parentId === 0)
    // bucket 1 inherited, bucket 2 replaced
    assert(t.bucketFilesOf(s)("1").map(_.path) === List("f1.parquet"))
    assert(t.bucketFilesOf(s)("2").map(_.path) === List("f2b.parquet"))
    // manifest-level pruning returns only requested buckets
    assert(t.currentFiles(Some(Set(1))).map(_.split('/').last) === Seq("f1.parquet"))
    assert(t.committedEpochs === Set(0L, 1L))
    assert(t.lastEpoch === 1L)
  }

  test("epoch idempotency: re-commit of a seen epoch is a no-op") {
    val t = mkTable()
    val sid = t.ensureSchema(schemaA)
    val s1 = t.commit(5, sid, Map(0 -> List(f("a.parquet"))), Nil, 1)
    val s2 = t.commit(5, sid, Map(0 -> List(f("b.parquet"))), Nil, 1)
    assert(s2.snapshotId === s1.snapshotId)
    assert(t.bucketFilesOf(t.currentSnapshot.get)("0").map(_.path) === List("a.parquet"))
  }

  test("crash between manifest write and pointer move: next commit recovers") {
    val t = mkTable()
    val sid = t.ensureSchema(schemaA)
    t.commit(0, sid, Map(0 -> List(f("a.parquet"))), Nil, 1)
    // simulate a writer that died after writing snap-1.json but BEFORE the
    // pointer rename: the orphan manifest must be invisible and recoverable
    val orphan = t.root.resolve("metadata").resolve("snap-1.json")
    java.nio.file.Files.writeString(orphan, """{"snapshotId":1,"parentId":0,
      "batchEpoch":99,"schemaId":0,"bucketDelta":{},
      "lineage":[],"totalRows":0,"commitMillis":0}""")
    assert(t.currentSnapshotId === 0) // pointer untouched -> old state visible
    assert(!t.committedEpochs.contains(99L)) // orphan epoch not committed
    // manifest creation is EXCLUSIVE (cross-process id allocation): the next
    // commit must never clobber the debris — it skips to the next free id,
    // the orphan stays an invisible non-ancestor until vacuum sweeps it
    val s = t.commit(1, sid, Map(0 -> List(f("b.parquet"))), Nil, 1)
    assert(s.snapshotId === 2 && s.batchEpoch === 1)
    assert(java.nio.file.Files.exists(orphan)) // untouched, not overwritten
    assert(!t.isAncestor(1L))
    assert(t.bucketFilesOf(t.currentSnapshot.get)("0").map(_.path) === List("b.parquet"))
    assert(t.committedEpochs === Set(0L, 1L))
    // vacuum (no grace) reclaims the dead manifest (data/ must exist for
    // the sweep to run — this metadata-only fixture never wrote data files)
    java.nio.file.Files.createDirectories(t.root.resolve("data"))
    assert(t.vacuum().contains("metadata/snap-1.json"))
  }

  test("incremental diff refuses a crash-orphaned (non-ancestor) since-snapshot") {
    val t = mkTable()
    val sid = t.ensureSchema(schemaA)
    t.commit(0, sid, Map(0 -> List(f("a.parquet"))), Nil, 1)
    // snap-5.json exists on disk but was never pointer-committed: it is NOT
    // an ancestor of current, so a manifest diff against it would be wrong
    java.nio.file.Files.writeString(
      t.root.resolve("metadata").resolve("snap-5.json"),
      """{"snapshotId":5,"parentId":0,"batchEpoch":99,"schemaId":0,
         "bucketDelta":{"0":[{"path":"ghost.parquet","schemaId":0,"rows":1}]},
         "lineage":[],"totalRows":0,"commitMillis":0}""")
    assert(t.fileGroupsAddedSince(5L).isEmpty,
      "file-existence validation accepted a non-ancestor snapshot")
    // a real ancestor still diffs fine
    t.commit(1, sid, Map(1 -> List(f("b.parquet"))), Nil, 1)
    val diff = t.fileGroupsAddedSince(0L)
    assert(diff.nonEmpty && diff.get.values.flatten.toSeq.exists(_.endsWith("b.parquet")))
  }

  test("schema registry is append-only and deduplicating") {
    val t = mkTable()
    val a = t.ensureSchema(schemaA)
    val wide = StructType(Seq(StructField("x", LongType), StructField("y", StringType)))
    t.commit(0, a, Map(0 -> List(f("a.parquet"))), Nil, 1)
    val b = t.ensureSchema(wide)
    assert(b !== a)
    t.commit(1, b, Map(0 -> List(f("b.parquet"))), Nil, 0)
    assert(t.ensureSchema(schemaA) === a) // identical schema reused
    assert(t.schema(a) === schemaA)
    assert(t.schema(b) === wide)
    assert(t.currentSnapshot.get.schemaId === b)
  }

  test("append-mode commit extends bucket file lists (merge-on-read deltas)") {
    val t = mkTable()
    val sid = t.ensureSchema(schemaA)
    t.commit(0, sid, Map(0 -> List(f("d0.parquet"))), Nil, 1, append = true)
    t.commit(1, sid, Map(0 -> List(f("d1.parquet")), 1 -> List(f("e0.parquet"))),
      Nil, 1, append = true)
    val s = t.currentSnapshot.get
    assert(t.bucketFilesOf(s)("0").map(_.path) === List("d0.parquet", "d1.parquet"))
    assert(t.bucketFilesOf(s)("1").map(_.path) === List("e0.parquet"))
    // a replace-commit (compaction) folds the list back
    t.commit(-1L, sid, Map(0 -> List(f("c0.parquet"))), Nil, 0)
    assert(t.bucketFilesOf(t.currentSnapshot.get)("0").map(_.path) === List("c0.parquet"))
  }

  test("expireOlderThan keeps the suffix committed at/after the cutoff, carrying epochs") {
    val t = mkTable()
    val sid = t.ensureSchema(schemaA)
    t.commit(0, sid, Map(1 -> List(f("a.parquet"))), Nil, 1); Thread.sleep(5)
    t.commit(1, sid, Map(1 -> List(f("b.parquet"))), Nil, 1); Thread.sleep(5)
    t.commit(2, sid, Map(1 -> List(f("c.parquet"))), Nil, 1)
    val Seq(m0, m1, m2) = t.snapshotChain.map(_.commitMillis)
    assert(m0 < m1 && m1 < m2)
    assert(t.expireOlderThan(m0) === Seq.empty) // nothing strictly older
    assert(t.expireOlderThan(m1) === Seq(0L)) // only the root predates m1
    assert(t.snapshotChain.map(_.snapshotId) === List(1L, 2L))
    assert(t.committedEpochs === Set(0L, 1L, 2L)) // carried by the re-root
    assert(t.expireOlderThan(m2 + 1) === Seq(1L)) // all old: keep current only
    assert(t.snapshotChain.map(_.snapshotId) === List(2L))
    assert(t.committedEpochs === Set(0L, 1L, 2L))
  }

  test("re-delivery of an epoch surviving only via carriedEpochs no-ops (post-expire)") {
    val t = mkTable()
    val sid = t.ensureSchema(schemaA)
    (0 to 3).foreach(e => t.commit(e, sid, Map(0 -> List(f(s"f$e.parquet"))), Nil, 1))
    t.expireSnapshots(keepLast = 1)
    assert(t.snapshotChain.size === 1)
    // epochs 0..2 survive only in carriedEpochs — re-delivering one must be
    // a clean no-op returning the current snapshot, not a NoSuchElement crash
    val s = t.commit(1, sid, Map(0 -> List(f("dup.parquet"))), Nil, 1)
    assert(s.snapshotId === t.currentSnapshotId)
    assert(t.bucketFilesOf(t.currentSnapshot.get)("0").map(_.path) === List("f3.parquet"))
  }

  test("carried epochs survive REPEATED expiry re-roots (the accumulated " +
      "ledger rides every eviction of a carrying root)") {
    // regression: the re-root used to carry only the expired snapshots' OWN
    // batchEpochs — once the first expiry's root (holding the accumulated
    // carriedEpochs) was itself expired, the whole earlier ledger vanished
    // and an ancient re-delivery re-APPLIED (double data). Surfaced by
    // a 500-epoch streaming-sink ledger assert after ~12 expiry cycles.
    val t = mkTable()
    val sid = t.ensureSchema(schemaA)
    var next = 0L
    def commitBatch(): Unit = {
      t.commit(next, sid, Map(0 -> List(f(s"e$next.parquet"))), Nil, 1)
      next += 1
    }
    (1 to 5).foreach { cycle =>
      (1 to 4).foreach(_ => commitBatch())
      t.expireSnapshots(keepLast = 2)
      // the FULL ledger must survive every re-root, not just one
      assert(t.committedEpochs === (0L until next).toSet,
        s"cycle $cycle lost epochs: ${(0L until next).toSet -- t.committedEpochs}")
    }
    // an epoch many retention windows old must still no-op on re-delivery
    val head = t.currentSnapshotId
    val s2 = t.commit(0, sid, Map(0 -> List(f("ancient-dup.parquet"))), Nil, 1)
    assert(s2.snapshotId === head && t.currentSnapshotId === head,
      "re-delivering an epoch from many expiry cycles ago must not re-apply")
  }

  test("manifest lsn stats: file groups prune by range; stat-free files never skipped") {
    val t = mkTable()
    val sid = t.ensureSchema(schemaA)
    t.commit(0, sid, Map(
      0 -> List(Icelite.DataFile("a.parquet", sid, 10, 0, 99),
        Icelite.DataFile("b.parquet", sid, 10, 100, 199),
        f("nostats.parquet"))), Nil, 30)
    def files(lo: Long, hi: Long) =
      t.currentFileGroups(None, Some((lo, hi))).values.flatten.map(_.split('/').last).toSet
    assert(files(0, 50) === Set("a.parquet", "nostats.parquet"))
    assert(files(150, 160) === Set("b.parquet", "nostats.parquet"))
    assert(files(500, 600) === Set("nostats.parquet"))
    assert(files(99, 100) === Set("a.parquet", "b.parquet", "nostats.parquet"))
  }

  test("multi-writer optimistic commit: stale view conflicts, retry succeeds") {
    val dir = SparkTestBase.tmpDir("ice") + "/t"
    val a = IceliteTable.create(dir, Seq("repo", "path"), 8)
    val b = IceliteTable.load(dir) // second writer, independent instance
    val sid = a.ensureSchema(schemaA)
    // both writers prepare against the empty table (parent -1)
    val viewA = a.currentSnapshotId
    val viewB = b.currentSnapshotId
    a.commit(0, sid, Map(0 -> List(f("a0.parquet"))), Nil, 1,
      append = true, expectedParentId = viewA)
    // writer B's view is stale -> optimistic conflict, NOT a silent overwrite
    val e = intercept[Icelite.CommitConflictException](
      b.commit(1, sid, Map(1 -> List(f("b0.parquet"))), Nil, 1,
        append = true, expectedParentId = viewB))
    assert(e.getMessage.contains("advanced"))
    // retry loop: re-read, re-issue (append-mode deltas need no re-prepare)
    b.commit(1, sid, Map(1 -> List(f("b0.parquet"))), Nil, 1,
      append = true, expectedParentId = b.currentSnapshotId)
    // both writers' work is in the final table
    val s = b.currentSnapshot.get
    assert(b.bucketFilesOf(s)("0").map(_.path) === List("a0.parquet"))
    assert(b.bucketFilesOf(s)("1").map(_.path) === List("b0.parquet"))
    assert(b.committedEpochs === Set(0L, 1L))
  }

  test("a late duplicate completion of a claimed transition cannot move the pointer back") {
    val t = mkTable()
    val sid = t.ensureSchema(schemaA)
    val s0 = t.commit(0, sid, Map(0 -> List(f("a.parquet"))), Nil, 1)
    val s1 = t.commit(1, sid, Map(0 -> List(f("b.parquet"))), Nil, 1) // claims s0 -> s1
    val s2 = t.commit(2, sid, Map(0 -> List(f("c.parquet"))), Nil, 1)
    // a second publisher of s0 -> s1 that passed its freshness check before
    // s2 landed (another process, so no shared lock) completes it late
    val advance = classOf[IceliteTable].getDeclaredMethod("advancePointer",
      classOf[Long], classOf[Long])
    advance.setAccessible(true)
    advance.invoke(t, Long.box(s0.snapshotId), Long.box(s1.snapshotId))
    assert(t.currentSnapshotId === s2.snapshotId, "the pointer regressed to a superseded snapshot")
  }

  test("vacuum grace period protects recently-written uncommitted files") {
    val t = mkTable()
    t.ensureSchema(schemaA)
    // an in-flight writer's file: written, not yet committed
    val inflight = t.root.resolve("data").resolve("pending").resolve("part-0.parquet")
    java.nio.file.Files.createDirectories(inflight.getParent)
    java.nio.file.Files.writeString(inflight, "data")
    assert(t.vacuum(graceMillis = 60000).isEmpty, "fresh file must survive grace")
    assert(java.nio.file.Files.exists(inflight))
    assert(t.vacuum(graceMillis = 0).nonEmpty) // past the grace: collected
    assert(!java.nio.file.Files.exists(inflight))
  }

  test("deleteTree deletes a symlink inside the tree, not the files it points to") {
    import java.nio.file.Files
    val dir = java.nio.file.Paths.get(SparkTestBase.tmpDir("deltree"))
    val outside = Files.createDirectories(dir.resolve("outside"))
    val kept = Files.writeString(outside.resolve("keep.txt"), "keep")
    val tree = Files.createDirectories(dir.resolve("tree").resolve("data"))
    Files.writeString(tree.resolve("part-0.parquet"), "x")
    Files.createSymbolicLink(tree.resolve("link"), outside)
    Icelite.deleteTree(dir.resolve("tree"))
    assert(!Files.exists(dir.resolve("tree")))
    assert(Files.exists(kept), "deleteTree followed a symlink out of the tree")
  }

  test("per-file schema ids group reads by writer schema") {
    val t = mkTable()
    val a = t.ensureSchema(schemaA)
    t.commit(0, a, Map(0 -> List(f("a.parquet", a)), 1 -> List(f("b.parquet", a))), Nil, 2)
    val wide = StructType(Seq(StructField("x", LongType), StructField("y", StringType)))
    val b = t.ensureSchema(wide)
    t.commit(1, b, Map(1 -> List(f("c.parquet", b))), Nil, 0)
    val groups = t.currentFileGroups(None)
    assert(groups(a).map(_.split('/').last) === Seq("a.parquet"))
    assert(groups(b).map(_.split('/').last) === Seq("c.parquet"))
  }
}

class SchemaEvolveSpec extends AnyFunSuite {
  val base = StructType(Seq(
    StructField("commit", StringType), StructField("size", IntegerType)))

  test("identical schema is unchanged") {
    assert(SchemaEvolve.reconcile(base, base).fieldNames.toSeq === Seq("commit", "size"))
  }

  test("add column appends") {
    val b = StructType(base.fields :+ StructField("branch", StringType))
    val r = SchemaEvolve.reconcile(base, b)
    assert(r.fieldNames.toSeq === Seq("commit", "size", "branch"))
  }

  test("widening int->long and float->double; narrow batch readable") {
    val b = StructType(Seq(StructField("size", LongType)))
    val r = SchemaEvolve.reconcile(base, b)
    assert(r("size").dataType === LongType)
    // table already wide, batch narrow -> stays wide
    val r2 = SchemaEvolve.reconcile(r, StructType(Seq(StructField("size", IntegerType))))
    assert(r2("size").dataType === LongType)
    assert(SchemaEvolve.widen(FloatType, DoubleType) === Some(DoubleType))
    assert(SchemaEvolve.widen(ByteType, ShortType) === Some(ShortType))
  }

  test("incompatible change rejected") {
    val b = StructType(Seq(StructField("size", StringType)))
    assertThrows[IllegalArgumentException](SchemaEvolve.reconcile(base, b))
    assert(SchemaEvolve.widen(IntegerType, DoubleType) === None)
  }
}
