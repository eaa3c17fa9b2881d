package graft.model

import org.apache.spark.sql.types._

/** The CDC change-event envelope + payload.
  *
  * Shape per the engine contract (BASELINE.json input_hint): a binlog/WAL-style
  * stream of source-code repository content changes, keyed by (repo, path),
  * totally ordered per key by (commit_lsn, seq). `seq` disambiguates events
  * that share a commit_lsn (the reference's snapshot-key ties were
  * nondeterministic — see /root/reference/spark_etl/spark_batched.py:629-654
  * vs sql_queries/task3.sql which adds a movement_key tiebreaker; we fix that
  * with an explicit total order).
  *
  * Semantics (reference: /root/reference/etl/fact_changed.py:339-356,476-477):
  *   - op = "I" insert, "U" upsert/update, "D" delete (tombstone).
  *   - A null payload column on an update means "unchanged — carry forward",
  *     mirroring the reference's 3-valued cancellation logic (absent `cs`
  *     attribute = keep previous value).
  *   - Deletes are revocable: a later event (higher lsn) with op I/U revives
  *     the key, like the reference's revoked cancellations.
  */
case class ChangeEvent(
    repo: String,
    path: String,
    commit: String,
    lang: String,
    content: String,
    op: String,
    commit_lsn: Long,
    seq: Int,
    ts: java.sql.Timestamp)

object ChangeEvent {
  /** Envelope columns every incoming batch must carry. All other columns are
    * payload and participate in per-column LWW merge + schema evolution. */
  val envelopeCols: Seq[String] = Seq("repo", "path", "op", "commit_lsn", "seq", "ts")
  val keyCols: Seq[String] = Seq("repo", "path")

  /** Columns named `__src_*` are source metadata (a binlog record's
    * partition and offset): never payload, kept on quarantined rows. */
  val SourcePrefix = "__src_"
  /** The source record's text on rows whose record did not parse (null
    * otherwise); the engine quarantines such rows as `unparseable`. */
  val RawCol: String = SourcePrefix + "raw"

  val schema: StructType = StructType(Seq(
    StructField("repo", StringType, nullable = false),
    StructField("path", StringType, nullable = false),
    StructField("commit", StringType, nullable = true),
    StructField("lang", StringType, nullable = true),
    StructField("content", StringType, nullable = true),
    StructField("op", StringType, nullable = false),
    StructField("commit_lsn", LongType, nullable = false),
    StructField("seq", IntegerType, nullable = false),
    StructField("ts", TimestampType, nullable = true)
  ))
}
