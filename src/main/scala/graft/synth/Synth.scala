package graft.synth

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Deterministic, fully distributed synthetic change-event generator.
  *
  * Every field is a pure function of (seed, event id) via xxhash64 column
  * expressions — no RNG state, no wall clock (replay/resume-safe), no
  * driver-side materialization: `spark.range(n)` scales to 10^10 ids across
  * executors. This is the generator used by tests and by the bench replay.
  *
  * Skew: `hotPct` percent of events hit repo-0 (the "hot repo"), the rest
  * spread uniformly over `repos` — a step-Zipf that reproduces the hot-key
  * problem the north rule requires the engine to handle.
  *
  * Nulls: a slice of update events carries null `lang`/`content`/`commit`
  * (field unchanged -> carry forward), exercising per-column LWW.
  * Ops: ~5% deletes, ~10% explicit inserts, rest updates.
  * Duplicates: `dupPct` percent of ids are emitted twice (same lsn/seq —
  * exact redelivery), on top of whole-batch redelivery tests.
  */
object Synth {

  /** Per-repo rollup of a change batch, shaped as change events for a
    * table keyed (repo): the dim-table side of a dim+fact multi-table
    * transaction (CatalogSpec, CdcDemo, q86). One row per repo:
    * `commit_lsn` = the batch's max LSN for the repo (so LWW across
    * epochs keeps the latest rollup), `content` = the batch's row count. */
  def repoRollup(batch: DataFrame): DataFrame =
    batch.groupBy("repo").agg(
      max("commit_lsn").as("commit_lsn"), count(lit(1)).as("n"), max("ts").as("ts"))
      .selectExpr("repo", "'rollup' AS path", "commit_lsn", "0 AS seq", "ts",
        "'U' AS op", "CAST(NULL AS STRING) AS lang", "CAST(n AS STRING) AS content")

  def events(
      spark: SparkSession,
      n: Long,
      seed: Long = 42L,
      repos: Int = 100,
      pathsPerRepo: Int = 1000,
      hotPct: Int = 30,
      dupPct: Int = 0,
      parts: Int = 0): DataFrame = {
    val base0 = if (parts > 0) spark.range(0L, n, 1L, parts) else spark.range(n)
    // optional exact-duplicate rows (same id -> same lsn/seq/fields)
    val base =
      if (dupPct > 0)
        base0.unionAll(base0.filter(pmod(xxhash64(lit(seed), col("id"), lit("dup")), lit(100)) < lit(dupPct)))
      else base0
    def h(tag: String) = xxhash64(lit(seed), col("id"), lit(tag))
    val repoId = when(pmod(h("hot"), lit(100)) < lit(hotPct), lit(0))
      .otherwise(pmod(h("repo"), lit(repos)))
    val fileId = pmod(h("path"), lit(pathsPerRepo))
    val ext = element_at(array(lit("scala"), lit("py"), lit("rs"), lit("go"), lit("md")),
      (pmod(h("ext"), lit(5)) + 1).cast(IntegerType))
    val opRoll = pmod(h("op"), lit(100))
    val op = when(opRoll < lit(5), lit("D"))
      .when(opRoll < lit(15), lit("I")).otherwise(lit("U"))
    val nullRoll = pmod(h("null"), lit(100))
    val commitStr = concat(lit("c"), lpad(pmod(h("commit"), lit(999999999999L)).cast(StringType), 12, "0"))
    val content = concat(lit("content:"), col("repo"), lit(":"), col("path"),
      lit("@"), col("commit_lsn"), lit(":"), abs(h("body")))
    base
      .withColumn("repo", concat(lit("repo-"), repoId))
      .withColumn("path", concat(lit("src/dir"), pmod(h("dir"), lit(20)),
        lit("/file"), fileId, lit("."), ext))
      .withColumn("commit_lsn", col("id"))
      .withColumn("seq", pmod(h("seq"), lit(1000)).cast(IntegerType))
      .withColumn("op", op)
      .withColumn("ts", timestamp_seconds(lit(1700000000L) + col("id")))
      // payload with carry-forward nulls: on updates, ~30% omit content, ~30% omit lang
      .withColumn("commit", when(nullRoll < lit(10) && op === "U", lit(null).cast(StringType)).otherwise(commitStr))
      .withColumn("lang", when(nullRoll.between(10, 39) && op === "U", lit(null).cast(StringType)).otherwise(ext))
      .withColumn("content", when(nullRoll.between(40, 69) && op === "U", lit(null).cast(StringType)).otherwise(content))
      .select("repo", "path", "commit", "lang", "content", "op", "commit_lsn", "seq", "ts")
  }

  /** Split an event DataFrame into `k` micro-batches. `shuffleDelivery=true`
    * assigns events to batches by hash instead of lsn range, so batches
    * arrive out of commit order (late data across batches).
    *
    * PERFORMANCE TRAP (tests only — do not use on a bench hot path): each
    * returned frame embeds per-batch LITERALS into the fused
    * whole-stage-codegen source, so replaying many of them recompiles every
    * stage per batch — a serial driver cost (~seconds/batch) that caps
    * scaling. Benches must deliver batches as separate parquet DIRECTORIES
    * (`events/__batch=N`, identical plan per batch → janino cache hit), as
    * Bench and cdcbench do. */
  def batches(df: DataFrame, k: Int, n: Long, seed: Long = 42L,
      shuffleDelivery: Boolean = false): Seq[DataFrame] = {
    if (k <= 1) Seq(df)
    else if (shuffleDelivery)
      (0 until k).map(i => df.filter(pmod(xxhash64(lit(seed), col("commit_lsn"), lit("batch")), lit(k)) === lit(i)))
    else {
      val per = (n + k - 1) / k
      (0 until k).map(i => df.filter(col("commit_lsn") >= lit(i * per) && col("commit_lsn") < lit((i + 1) * per)))
    }
  }
}
