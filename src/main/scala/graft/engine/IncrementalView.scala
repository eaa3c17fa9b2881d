package graft.engine

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.icelite.Icelite
import graft.model.ChangeEvent

/** Incrementally maintained materialized aggregate over an icelite table —
  * the "derived warehouse rollup" the reference keeps as a full-recompute
  * summary query (/root/reference/sql_queries/task1.sql): here each refresh
  * costs O(changed keys + groups), not O(state).
  *
  * Maintenance math (classic self-maintainable aggregates — count/sum, and
  * avg as sum/count downstream): per refresh window (since, upTo],
  *
  *   additions   = changesSince(since, upTo) minus tombstone rows
  *   retractions = stateAt(since) restricted to the CHANGED keys
  *   view'       = view  ⊎  Σ(additions) − Σ(retractions)   (per group)
  *
  * `changesSince` hands us exactly the keys whose merged value differs
  * (snapshot diff, so late low-LSN batches are included) and `stateAt`
  * excludes tombstones, which makes every case fall out: delete = retract
  * only, revival = add only, value change = retract + add, a no-op cell
  * touch = retract + add of identical contributions (net zero). The
  * pre-image read is pruned to the buckets the window's lineage touched
  * (manifest metadata) and then key-semi-joined, so its cost tracks the
  * change set, not the table. The group-level merge is a null-safe
  * full-outer join against the previous view — O(groups), and groups are
  * small relative to rows by the nature of an aggregate.
  *
  * min/max (`extremes`) are NOT self-maintainable under retraction (a
  * retracted maximum needs the runner-up), so they are maintained with the
  * classic hybrid: an addition that beats the stored extreme updates it in
  * place (pure delta math), and ONLY a group whose retraction ties-or-beats
  * its stored extreme — i.e. the extreme itself may have left — is
  * recomputed exactly, from the window-end state restricted to those
  * groups. The recompute set is usually empty (how often is the current
  * maximum the row that changed?), but when it fires it reads the source
  * filtered by group, and grouping is orthogonal to key-bucketing — a
  * group-filtered scan, not a pruned one. That is the honest cost of
  * min/max over a retracting stream on ANY engine (Materialize/DBSP keep
  * per-group heaps for the same reason); bound it by choosing group
  * columns the source is clustered by, or accept the occasional scan.
  *
  * Measures are Column expressions over a state row (e.g.
  * `octet_length(col("content"))`), fixed at view definition; they must
  * resolve against the window-START schema too, so define measures over
  * columns that existed when the view was created (schema evolution adds
  * columns later; a measure over one of those starts a new view).
  *
  * Durability: each refresh writes `v{upTo}` then atomically moves the
  * checkpoint pointer — the Icelite pointer-commit protocol in miniature. A
  * crash between the two leaves an orphan directory that the deterministic
  * re-run (same pinned snapshot window) simply overwrites. If `since` has
  * been expired off the chain, the refresh falls back to a full recompute
  * (the same conservative call `changesSince` makes for feeds).
  */
class IncrementalView(
    val engine: CdcEngine,
    val root: Path,
    groupCols: Seq[String],
    measures: Seq[(String, Column)],
    // min/max measures (see class doc for the maintenance strategy). Like
    // `measures`, expressions are null-normalized to 0 so both maintenance
    // paths and the full-recompute oracle agree by construction.
    extremes: Seq[IncrementalView.Extreme] = Nil) {

  private val spark = engine.spark
  private val keyCols = ChangeEvent.keyCols
  private val ckpt = root.resolve("view-checkpoint.txt")
  Files.createDirectories(root)

  def lastRefreshed: Long =
    if (Files.exists(ckpt)) Files.readString(ckpt).trim.toLong else -1L

  /** The full-recompute form of the view definition — also the oracle the
    * spec holds every incremental refresh to. */
  def aggregate(state: DataFrame): DataFrame =
    project(state).groupBy(groupCols.map(col): _*)
      .agg(count(lit(1)).as("n_rows"),
        (measures.map { case (n, _) => sum(col(n)).as(n) } ++
          extremes.map(e => e.agg(col(e.name)).as(e.name))): _*)

  // measures are null-normalized to 0: the group-merge identifies "no
  // contribution" with 0, so SUM must never see a null — this also makes
  // aggregate() (the full-recompute/oracle path) agree by construction
  private def project(state: DataFrame): DataFrame =
    state.select(groupCols.map(col) ++
      measures.map { case (n, e) => coalesce(e, lit(0)).as(n) } ++
      extremes.map(e => coalesce(e.expr, lit(0)).as(e.name)): _*)

  /** Materialized view as of the last refresh. */
  def view(): DataFrame = {
    val at = lastRefreshed
    require(at >= 0, "view has no materialized version yet — call refresh()")
    spark.read.parquet(root.resolve(s"v$at").toString)
  }

  /** Advance the view to the source's current snapshot. Returns the number
    * of groups whose row changed (0 = already in sync). */
  def refresh(): Long = {
    val upTo = engine.table.currentSnapshotId
    if (upTo < 0) return 0L
    val since = lastRefreshed
    if (upTo == since) return 0L
    // one walk of (since, upTo] proves the window incremental and prunes
    // both the feed and the pre-image read
    val window = Option.when(since >= 0)(engine.table.window(since, upTo))
      .filter(_.reachesSince)
    val (next, changedGroups) = window match {
      case None =>
        val full = aggregate(engine.stateAt(upTo))
        (full, -1L) // count after write, below
      case Some(w) =>
        val feed = engine.changesIn(w, None, explicitTo = true)
        val changedKeys = feed.select(keyCols.map(col): _*).distinct()
        val preImage = engine.stateAt(since, w.touched)
          .join(changedKeys, keyCols, "left_semi")
        val add = project(feed.filter(col("_op") =!= lit("D")))
          .withColumn("__sign", lit(1L))
        val ret = project(preImage).withColumn("__sign", lit(-1L))
        // extremes ride the same delta aggregation: the window's best
        // addition and best retraction per group, separately
        val extAggs = extremes.flatMap { e =>
          Seq(e.agg(when(col("__sign") === 1, col(e.name))).as(s"__add_${e.name}"),
            e.agg(when(col("__sign") === -1, col(e.name))).as(s"__ret_${e.name}"))
        }
        val dAgg = add.unionByName(ret)
          .groupBy(groupCols.map(col): _*)
          .agg(sum(col("__sign")).as("n_rows"),
            (measures.map { case (n, _) =>
              sum(col("__sign") * col(n)).as(n) } ++ extAggs): _*)
          .localCheckpoint() // small (touched groups); pins the delta
        val prev = view()
        val cond = groupCols.map(g => col(s"v.$g") <=> col(s"d.$g")).reduce(_ && _)
        // in-place extreme update (additions can only improve it)...
        val extCols = extremes.map { e =>
          val stored = col(s"v.${e.name}"); val addE = col(s"d.__add_${e.name}")
          (if (e.isMax) greatest(stored, addE) else least(stored, addE)).as(e.name)
        }
        // ...but a retraction that TIES-OR-BEATS the stored extreme means
        // the extreme itself may have left: exact recompute for that group
        val recomputeFlag = extremes.map { e =>
          val stored = col(s"v.${e.name}"); val retE = col(s"d.__ret_${e.name}")
          retE.isNotNull && (stored.isNull ||
            (if (e.isMax) retE >= stored else retE <= stored))
        }.foldLeft(lit(false))(_ || _)
        val mergedAll = prev.as("v").join(dAgg.as("d"), cond, "full_outer")
          .select((groupCols.map(g => coalesce(col(s"v.$g"), col(s"d.$g")).as(g)) ++
            ("n_rows" +: measures.map(_._1)).map { n =>
              (coalesce(col(s"v.$n"), lit(0)) + coalesce(col(s"d.$n"), lit(0))).as(n)
            } ++ extCols) :+ recomputeFlag.as("__recompute"): _*)
        val merged =
          if (extremes.isEmpty) mergedAll.drop("__recompute").filter(col("n_rows") > 0)
          else {
            val ok = mergedAll.filter(!col("__recompute")).drop("__recompute")
            val bad = mergedAll.filter(col("__recompute"))
              .select(groupCols.map(col): _*).localCheckpoint()
            val st = engine.stateAt(upTo)
            val jc = groupCols.map(g => st(g) <=> bad(g)).reduce(_ && _)
            val recomputed = aggregate(st.join(bad, jc, "left_semi"))
            ok.unionByName(recomputed).filter(col("n_rows") > 0)
          }
        (merged, dAgg.count())
      }
    val dir = root.resolve(s"v$upTo")
    next.write.options(LocalWrite.options).mode("overwrite").parquet(dir.toString)
    Icelite.write(ckpt, upTo.toString)
    prune(keep = Set(upTo, since))
    if (changedGroups >= 0) changedGroups
    else spark.read.parquet(dir.toString).count()
  }

  /** Drop materialized versions other than the surviving window ends —
    * bounds disk like the table's own snapshot retention. */
  private def prune(keep: Set[Long]): Unit = {
    val live = keep.filter(_ >= 0).map(id => s"v$id")
    val listing = Files.list(root)
    try listing.forEach { p =>
      val n = p.getFileName.toString
      if (n.startsWith("v") && !live.contains(n) && Files.isDirectory(p))
        Icelite.deleteTree(p)
    } finally listing.close()
  }
}

object IncrementalView {
  /** A min/max measure. `isMax = true` → max, else min. */
  case class Extreme(name: String, expr: Column, isMax: Boolean) {
    private[engine] def agg(c: Column): Column = if (isMax) max(c) else min(c)
  }
}
