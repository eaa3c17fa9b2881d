package cdcbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.engine.CdcEngine

/** One benchmark run: `--workload <name> --seed <n> --seconds <s> --trace
  * <0|1> --work <dir> --out <raw.json> --spans <trace.jsonl>`. Writes the
  * raw measurements as one JSON object to `--out`; cdcbench/run.py turns
  * them into the reported metrics and compares the state with a DuckDB
  * fold of the generated events. Everything the run writes lives under
  * `--work`, which run.py deletes afterwards.
  *
  * Every workload runs the same frame: draw its lookup keys and measure the
  * host control, set up its inputs five times (the median is `setup_s`),
  * warm up on a throwaway table with every kind of batch, then run identical
  * passes of its fixed work into fresh tables until `--seconds` have
  * passed, and read the last table. The checks that need the expected
  * state (computed in DuckDB) are made by run.py. A traced run records
  * spans and Spark task metrics throughout, for the per-layer figures. */
object Main {
  final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean,
      work: Path, out: Path, spans: Path)

  def main(args: Array[String]): Unit = {
    val kv = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val o = Opts(kv("workload"), kv("seed").toLong, kv("seconds").toInt,
      kv("trace") == "1", Paths.get(kv("work")), Paths.get(kv("out")), Paths.get(kv("spans")))
    val c = new Ctx(o)
    try {
      o.workload match {
        case "replay-cow" => ReplayCow.run(c)
        case "binlog-sink-mor" => BinlogSinkMor.run(c)
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      }
      c.finish()
    } finally c.stop()
  }
}

/** Shared state of one run: the session, the tracer, the raw result. */
final class Ctx(val o: Main.Opts) {
  val nproc: Int = Runtime.getRuntime.availableProcessors
  /** Spark's task slots: all cores but one, which stays free for the
    * driver thread (planning, commit and maintenance run there, on each
    * batch's critical path), the in-process binlog server and the JVM's own
    * threads. With a slot per core those compete with the tasks, and the
    * figures then follow the host's scheduler more than the program. */
  val cores: Int = math.max(1, nproc - 1)
  val tracer = new Tracer(o.trace, s"${o.workload}-seed${o.seed}-${System.currentTimeMillis}")
  val raw = mutable.LinkedHashMap.empty[String, Any]
  private val checks = mutable.ArrayBuffer.empty[Map[String, Any]]
  private val t0 = System.nanoTime()
  private val marks = mutable.LinkedHashMap.empty[String, Double]
  private var lastMark = 0.0
  var spark: SparkSession = session(cores)
  mark("session")

  def session(n: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$n]")
      .appName("cdcbench")
      .withExtensions(new graft.sql.IceliteSqlExtensions)
      .config("spark.sql.shuffle.partitions", n.toString)
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "2000000")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", o.work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", o.work.resolve("warehouse").toString)
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    tracer.attach(s)
    s
  }

  /** Replace the session by one with `n` cores (the local[1] scaling pass). */
  def restart(n: Int): Unit = {
    tracer.detach(spark)
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    spark = session(n)
  }

  def elapsedS: Double = (System.nanoTime() - t0) / 1e9

  /** Note that the run's phase `name` ended now (its wall time goes to
    * the raw result, for finding where a run's time goes). */
  def mark(name: String): Unit = {
    val now = elapsedS
    marks(name) = now - lastMark
    lastMark = now
  }

  def check(name: String, ok: Boolean, detail: => String = ""): Unit = {
    checks += Map("name" -> name, "ok" -> ok, "detail" -> (if (ok) "" else detail))
    if (!ok) System.err.println(s"[cdcbench] CHECK FAILED $name: $detail")
  }

  def dir(name: String): String = o.work.resolve(name).toString

  def processCpuS: Double =
    ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9

  /** Passes run until `--seconds` have been spent on them, at least one. */
  def passes(body: Int => Unit): Unit = {
    val start = System.nanoTime()
    var i = 0
    while (i < 1 || (System.nanoTime() - start) / 1e9 < o.seconds) {
      tracer.reset(spark)
      body(i)
      i += 1
    }
  }

  /** Host-ceiling control: a fixed pure-CPU busy loop on 1 and on `nproc`
    * threads (no Spark). `host.ceiling` is the parallel efficiency the
    * machine gives at this moment, `host.busy_1x` the single-thread time. */
  def hostControl(): Unit = {
    import graft.tools.ScalingBench.calibrate
    val units = 4 * nproc
    calibrate(nproc, units = units) // JIT
    val c1 = calibrate(1, units = units)
    val cn = calibrate(nproc, units = units)
    raw("host") = Map("ceiling" -> (c1 / cn) / nproc, "busy_1x" -> c1, "cores" -> cores)
  }

  private var liveHeap = 0.0

  /** Heap in use right after a full collection: the run's live set at this
    * point. The largest value seen is reported (`live_heap_mb`); unlike
    * RSS it does not depend on when the collector last ran. */
  def sampleLiveHeap(): Unit = {
    System.gc()
    val used = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    liveHeap = math.max(liveHeap, used)
  }

  def peakRssMb: Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(-1.0)

  def finish(): Unit = {
    raw("checks") = checks.toList
    raw("peak_rss_mb") = peakRssMb
    raw("live_heap_mb") = liveHeap
    raw("spans") = tracer.spanCount
    raw("run_s") = elapsedS
    raw("phase_s") = marks
    tracer.writeSpans(o.spans)
    Files.writeString(o.out, Json(raw))
  }

  def stop(): Unit = {
    try spark.stop() catch { case _: Exception => () }
  }
}

/** Reads of a finished table, timed, with what the checks need from them.
  * The expected state is not computed here: run.py folds the same generated
  * events in DuckDB (latest event per key decides visibility, each payload
  * column keeps its latest non-null value) and compares it with the state
  * each run dumps. */
object Reads {
  /** (row count, content hash) of a state read. */
  def digest(state: DataFrame): (Long, String) = {
    val r = state.agg(count(lit(1)),
      sum(xxhash64(concat_ws("|", col("repo"), col("path"), col("content")))
        .cast("decimal(38,0)"))).collect()(0)
    (r.getLong(0), Option(r.getDecimal(1)).map(_.toString).getOrElse("0"))
  }

  /** Full state read: count + content hash of `currentState`, timed. */
  def scan(c: Ctx, engine: CdcEngine): (Double, (Long, String)) = {
    val t0 = System.nanoTime()
    val d = c.tracer.call(c.spark, "read.scan")(digest(engine.currentState()))
    ((System.nanoTime() - t0) / 1e9, d)
  }

  /** The keys of `n` events at seeded positions of `ev` (so hot and cold
    * repos, live and deleted keys, appear as the generator made them). */
  def sampleKeys(ev: DataFrame, nEvents: Long, n: Int, seed: Long): Seq[(String, String)] = {
    val rnd = new scala.util.Random(seed * 31 + 7)
    val ids = Seq.fill(n * 2)(math.floorMod(rnd.nextLong(), nEvents)).distinct
    ev.filter(col("commit_lsn").isin(ids: _*)).select("repo", "path").distinct()
      .orderBy("repo", "path").limit(n).collect().toSeq
      .map(r => (r.getString(0), r.getString(1)))
  }

  /** Closed-loop point lookups (one client): latency and what each read. */
  def lookups(c: Ctx, engine: CdcEngine, keys: Seq[(String, String)]): Seq[Map[String, Any]] =
    keys.map { case (repo, path) =>
      val t0 = System.nanoTime()
      val rows = c.tracer.call(c.spark, "read.lookup")(
        engine.pointLookup(repo, path).select("commit", "lang", "content").collect())
      Map("ms" -> (System.nanoTime() - t0) / 1e6, "repo" -> repo, "path" -> path,
        "rows" -> rows.length, "commit" -> rows.headOption.map(_.getString(0)),
        "lang" -> rows.headOption.map(_.getString(1)),
        "content" -> rows.headOption.map(_.getString(2)))
    }

  /** The table through the SQL surface as `ice.bench`: the state scan and
    * a per-language aggregate, timed; the scan must match `engineDigest`. */
  def sql(c: Ctx, engine: CdcEngine, engineDigest: (Long, String)): Map[String, Any] = {
    graft.sql.IceliteSql.register(c.spark, "bench", engine)
    val t0 = System.nanoTime()
    val d = c.tracer.call(c.spark, "sql.scan")(c.spark.sql(
      "SELECT count(*), sum(CAST(xxhash64(concat_ws('|', repo, path, content)) " +
        "AS DECIMAL(38,0))) FROM ice.bench").collect()(0))
    val t1 = System.nanoTime()
    val agg = c.tracer.call(c.spark, "sql.agg")(c.spark.sql(
      "SELECT lang, count(*) AS n_keys, count(DISTINCT repo) AS n_repos " +
        "FROM ice.bench GROUP BY lang").collect())
    val t2 = System.nanoTime()
    graft.sql.IceliteSql.unregister(c.spark, "bench")
    val got = (d.getLong(0), Option(d.getDecimal(1)).map(_.toString).getOrElse("0"))
    c.check("SQL scan of ice.bench equals the engine's state read", got == engineDigest,
      s"got $got want $engineDigest")
    Map("scan_s" -> (t1 - t0) / 1e9, "agg_s" -> (t2 - t1) / 1e9,
      "agg" -> agg.toSeq.map(r => Map("lang" -> Option(r.getString(0)),
        "n_keys" -> r.getLong(1), "n_repos" -> r.getLong(2))))
  }

  val WarmLookups = 4
  val WarmScans = 2
  /** Untimed scans of the read table before the timed reads, beside the
    * pass's own check read: the first scans of a freshly written table run
    * up to ~40% slower and are still speeding up. */
  val SettleScans = 1
  /** Timed state scans of the read table, spread over its lookups. */
  val Scans = 6

  /** Warm the read paths on a warm-up table, then delete it (with its
    * stream checkpoint, when it has one). */
  def warm(c: Ctx, engine: CdcEngine, keys: Seq[(String, String)]): Unit = {
    lookups(c, engine, keys.take(WarmLookups))
    (1 to WarmScans).foreach(_ => scan(c, engine))
    Ingest.delete(engine.table.root.getParent.toString)
  }

  /** The timed reads of a finished table, by one client in a closed loop:
    * after the settling scans, the lookups in order with a state scan after
    * every `keys.size / Scans` of them, so that both kinds are sampled over
    * the whole read phase and a short slow spell of the host moves few of
    * either. Returns the lookups and the scan times. */
  def timed(c: Ctx, engine: CdcEngine, keys: Seq[(String, String)])
      : (Seq[Map[String, Any]], Seq[Double]) = {
    (1 to SettleScans).foreach(_ => scan(c, engine))
    val rounds = (0 until Scans).map { i =>
      val ls = lookups(c, engine, keys.slice(i * keys.size / Scans, (i + 1) * keys.size / Scans))
      (ls, scan(c, engine)._1)
    }
    (rounds.flatMap(_._1), rounds.map(_._2))
  }

  /** Write the visible state for run.py's comparison with the fold. */
  def dump(engine: CdcEngine, path: String): Unit =
    engine.currentState().select("repo", "path", "commit", "lang", "content")
      .coalesce(1).write.parquet(path)
}

/** What both ingest workloads share. */
object Ingest {
  /** Input set-ups per run; the first is the generator's JIT-cold one, so
    * the median lies among the warm ones. */
  val Setups = 5

  /** Run ingest passes until `--seconds` are spent; `pass(i)` ingests into a
    * fresh table and returns its engine and raw figures. Each pass is timed
    * (wall and process CPU) and its state read; the last pass's table gets
    * the lookups, the SQL reads and the state dump, then every table is
    * deleted. */
  def passes(c: Ctx, keys: Seq[(String, String)])(
      pass: Int => (CdcEngine, Map[String, Any])): Unit = {
    val out = mutable.ArrayBuffer.empty[Map[String, Any]]
    var last: CdcEngine = null
    var first: (Long, String) = null
    c.passes { i =>
      if (last != null) delete(last.table.root.getParent.toString)
      val trace0 = c.tracer.settledCostNs(c.spark)
      val cpu0 = c.processCpuS
      val t0 = System.nanoTime()
      val (engine, figures) = c.tracer.span("pass")(pass(i))
      val passS = (System.nanoTime() - t0) / 1e9
      val cpuS = c.processCpuS - cpu0
      val traceS = (c.tracer.settledCostNs(c.spark) - trace0) / 1e9
      val (scanS, digest) = Reads.scan(c, engine)
      if (first == null) first = digest
      else c.check(s"pass $i: state equals the first pass's", digest == first,
        s"got $digest want $first")
      c.sampleLiveHeap()
      out += figures ++ Map("pass_s" -> passS, "cpu_s" -> cpuS, "trace_s" -> traceS,
        "scan_s" -> scanS,
        "digest" -> Seq(digest._1, digest._2),
        "groups" -> c.tracer.groupTotals(c.spark).map { case (g, t) => g -> t.toMap },
        "progress" -> c.tracer.progressRows(c.spark))
      last = engine
    }
    c.raw("passes") = out.toList
    c.mark("passes")
    // state_scan_s comes from these reads only, not from each pass's check
    // read right after its ingest
    val (looks, scans) = Reads.timed(c, last, keys)
    c.raw("lookups") = looks
    c.raw("scan_s") = scans
    c.sampleLiveHeap()
    c.mark("reads-timed")
    c.raw("sql") = Reads.sql(c, last, first)
    c.raw("table") = tableStats(c, last, keys)
    Reads.dump(last, c.dir("state"))
    c.raw("state_dir") = c.dir("state")
    delete(last.table.root.getParent.toString)
    c.mark("reads")
  }

  /** Live-table figures: bytes and files of the current snapshot, the
    * snapshot chain, files a point lookup opens, and the journal lines. */
  def tableStats(c: Ctx, engine: CdcEngine, keys: Seq[(String, String)]): Map[String, Any] = {
    val files = engine.inspect.files().select("bucket", "size_bytes").collect()
    val perLookup = keys.map { case (r, p) => engine.prunedFilesForKey(r, p).size.toDouble }
    Map(
      "bytes" -> files.map(r => if (r.isNullAt(1)) 0L else r.getLong(1)).sum,
      "files" -> files.length,
      "buckets" -> engine.table.currentBuckets,
      "snapshots" -> engine.table.snapshotChain.size,
      "files_per_lookup" -> (if (perLookup.isEmpty) 0.0 else perLookup.sum / perLookup.size))
  }

  def journal(engine: CdcEngine): Seq[String] = {
    val m = engine.inspect.metrics
    if (m.columns.isEmpty) Nil else m.toJSON.collect().toSeq
  }

  def delete(p: String): Unit = {
    val root = Paths.get(p)
    if (Files.exists(root)) {
      val s = Files.walk(root)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.deleteIfExists(f))
      finally s.close()
    }
  }

  def dirBytes(p: String): Long = {
    val s = Files.walk(Paths.get(p))
    try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
    finally s.close()
  }
}
