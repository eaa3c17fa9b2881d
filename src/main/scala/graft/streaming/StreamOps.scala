package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}

/** Streaming analytics over the CDC event stream (SURVEY §2.9 beyond the
  * sink path): event-time tumbling windows with a watermark, and custom
  * keyed state via mapGroupsWithState. The MERGE sink itself deliberately
  * keeps its state in the icelite table (no state store, no watermark);
  * these operators cover the aggregation-side streaming surface. */
object StreamOps {

  /** Tumbling event-time counts per (window, op) with a watermark bounding
    * state: late events beyond `lateness` are dropped, closed windows are
    * evicted from the state store. Works on any ChangeEvent-shaped stream. */
  def windowedOpCounts(events: DataFrame, window_ : String = "1 minute",
      lateness: String = "2 minutes"): DataFrame =
    events
      .withWatermark("ts", lateness)
      .groupBy(window(col("ts"), window_).getField("start").as("w_start"), col("op"))
      .agg(count(lit(1)).as("n"), approx_count_distinct("repo").as("n_repos"))

  /** Streaming DEDUPLICATION with bounded state: drop re-deliveries of the
    * same (commit_lsn, seq) event within the watermark horizon —
    * `dropDuplicatesWithinWatermark` evicts dedup state once the watermark
    * passes an event's time, so state is O(events per horizon), not
    * O(stream). The at-least-once upstream can re-send an event any time
    * inside `lateness`; beyond it the sink's idempotent ACI merge (which
    * needs no state at all) still absorbs the duplicate — the two layers
    * compose, this one just saves the redundant work. */
  def dedupWithinWatermark(events: DataFrame, lateness: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", lateness)
      .dropDuplicatesWithinWatermark("commit_lsn", "seq")

  /** Event-time SESSION windows (gap-based, the streaming twin of the batch
    * sessionization in q39): per (repo, session) event counts where a
    * session closes after `gap` of event-time silence; the watermark both
    * bounds state and decides when a session is final. */
  def sessionCounts(events: DataFrame, gap: String = "30 minutes",
      lateness: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", lateness)
      // the session_window expression must BE the grouping column — wrapping
      // it (e.g. .getField) hides it from the analyzer rule that merges
      // adjacent sessions, silently degrading to per-event "sessions"
      .groupBy(session_window(col("ts"), gap).as("sw"), col("repo"))
      .agg(count(lit(1)).as("n"), max(col("commit_lsn")).as("max_lsn"))
      .select(col("sw.start").as("s_start"), col("repo"), col("n"), col("max_lsn"))

  /** Stream-STREAM interval join — the remaining §2.9 join class (windowed
    * aggregation, dedup, sessions and keyed state are covered above; this
    * is two unbounded sides joined on key + event-time proximity). Each
    * change event is enriched with the marks (deploys/annotations/...) for
    * the same repo whose event time falls in the `horizon` BEFORE the
    * event. Both inputs carry watermarks and the join condition bounds the
    * event-time distance in BOTH directions, which is what lets the state
    * store evict: a buffered mark older than `watermark - horizon` can
    * never match a future event, so state is O(events per horizon), not
    * O(stream). Without the two-sided time bound Spark (correctly) rejects
    * the append-mode query as requiring unbounded state.
    *
    * `marks` must carry (m_repo, m_ts, mark) so the join keys never clash
    * with the event schema. Inner join: events without a mark in horizon
    * are dropped (a left-outer variant additionally delays unmatched rows
    * to the watermark; same plan shape). */
  def enrichWithinInterval(events: DataFrame, marks: DataFrame,
      horizon: String = "10 minutes", lateness: String = "2 minutes"): DataFrame =
    events.withWatermark("ts", lateness)
      .join(marks.withWatermark("m_ts", lateness),
        col("repo") === col("m_repo") &&
          col("m_ts") <= col("ts") &&
          col("m_ts") >= col("ts") - expr(s"INTERVAL $horizon"))
      .drop("m_repo")

  case class RepoStats(repo: String, events: Long, lastLsn: Long)

  /** Custom keyed streaming state: running per-repo event count + high-water
    * LSN via mapGroupsWithState (the KeyValueGroupedDataset state API).
    * Emits the updated stats for every repo seen in the micro-batch. */
  def repoStats(events: Dataset[graft.model.ChangeEvent]): Dataset[RepoStats] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.repo)
      .mapGroupsWithState[RepoStats, RepoStats](GroupStateTimeout.NoTimeout) {
        (repo, batch, state: GroupState[RepoStats]) =>
          val prev = state.getOption.getOrElse(RepoStats(repo, 0L, -1L))
          var n = prev.events
          var hi = prev.lastLsn
          batch.foreach { e => n += 1; if (e.commit_lsn > hi) hi = e.commit_lsn }
          val next = RepoStats(repo, n, hi)
          state.update(next)
          next
      }
  }
}
