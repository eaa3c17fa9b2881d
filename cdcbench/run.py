#!/usr/bin/env python3
"""CDC engine benchmark: one workload, one seed, one checked result.

    python3 cdcbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. On first use it builds the program's
sources together with the benchmark driver (cdcbench/build.sbt, offline);
later runs reuse the build while the sources are unchanged. Each run starts
one fresh JVM, which sets up the workload's inputs from the seed, measures
for about --seconds, and checks every output against an independent
expectation. This script then computes the metrics, compares the final state
with a DuckDB fold of the generated events, deletes everything the run
wrote, and prints the result as one JSON object on the last line of
standard output.

--trace 0 reports the end-to-end metrics, --trace 1 the per-layer ones
(see BENCHMARK.json); both print a readable table above the JSON line.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import benchlib as bl  # noqa: E402

WORKLOADS = ("replay-cow", "binlog-sink-mor")
PROGRAM_SOURCES = os.path.join(ROOT, "src", "main")
JVM_HEAP = "3g"
ADD_OPENS = [
    f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
        "java.net", "java.nio", "java.util", "java.util.concurrent",
        "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
        "sun.security.action", "sun.util.calendar")]

E2E_UNITS = {
    "setup_s": "s", "events_per_s": "events/s", "step_p50_ms": "ms",
    "cpu_s_per_mevent": "cpu-s/Mevent", "state_scan_s": "s", "lookup_p50_ms": "ms",
    "table_bytes_per_event": "B/event", "live_heap_mb": "MB",
}
LAYER_UNITS = {
    "binlog.fetch_decode_s": "s", "binlog.records_served_per_event": "ratio",
    "sink.overhead_ms": "ms", "sink.trigger_ms": "ms",
    "engine.lineage_ms": "ms", "engine.merge_write_ms": "ms",
    "engine.manifest_ms": "ms", "engine.merge_write_share": "ratio",
    "engine.maint_share": "ratio",
    "engine.exec_cpu_s": "s", "engine.gc_s": "s", "engine.shuffle_mb": "MB",
    "engine.output_mb": "MB", "engine.jobs_per_step": "count",
    "engine.tasks_per_step": "count", "engine.core_util": "ratio",
    "engine.write_amp": "ratio", "icelite.commit_ms": "ms",
    "icelite.snapshots": "count", "icelite.files_per_bucket": "count",
    "icelite.files_per_lookup": "count", "sql.scan_s": "s", "sql.agg_s": "s",
    "host.ceiling": "ratio",
    "host.busy_1x": "s", "trace.overhead_pct": "%", "trace.spans": "count",
}


def fail(msg, code=1):
    print(f"cdcbench: {msg}", file=sys.stderr)
    sys.exit(code)


# ------------------------------------------------------------------ build

def source_files():
    roots = [PROGRAM_SOURCES, os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    return sorted(files)


def tree_hash(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile once per source state; returns (classpath, built_now)."""
    target = os.path.join(HERE, "target")
    stamp_file = os.path.join(target, "cdcbench.stamp")
    cp_file = os.path.join(target, "cdcbench.classpath")
    stamp = tree_hash(source_files())
    if os.path.exists(stamp_file) and os.path.exists(cp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as c:
                    return c.read().strip(), False
    sbt = shutil.which("sbt") or "/opt/sbt/bin/sbt"
    opts = ["-Dsbt.offline=true", "-Dsbt.override.build.repos=true",
            f"-Dsbt.global.base={os.path.join(target, 'sbt-global')}",
            "-Dsbt.server.forcestart=false"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts.append(f"-Dsbt.repository.config={repos}")
    env = dict(os.environ, COURSIER_MODE="offline")
    os.makedirs(target, exist_ok=True)
    log_path = os.path.join(target, "build.log")
    with open(log_path, "w") as log:
        r = subprocess.run([sbt, "-batch", *opts, "-J-Xmx2g", "compile",
                            "export Runtime/fullClasspath"],
                           cwd=HERE, env=env, stdout=subprocess.PIPE,
                           stderr=log, text=True, timeout=840)
        log.write(r.stdout)
    cp = [l.strip() for l in r.stdout.splitlines()
          if "scala-2.13/classes" in l and not l.startswith("[")]
    if r.returncode != 0 or not cp:
        with open(log_path) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        fail("build failed")
    with open(cp_file, "w") as f:
        f.write(cp[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp[-1], True


def cpu_ticks():
    """(stolen, total) CPU ticks of the machine so far, from /proc/stat;
    None where the kernel does not report them."""
    try:
        with open("/proc/stat") as f:
            t = [int(x) for x in f.readline().split()[1:]]
    except (OSError, ValueError):
        return None
    return (t[7], sum(t[:8])) if len(t) >= 8 else None


def steal_pct(before, after):
    """Share of the machine's CPU time the hypervisor gave to others while
    the run ran: the plainest sign of a busy host window."""
    if not before or not after or after[1] == before[1]:
        return float("nan")
    return 100.0 * (after[0] - before[0]) / (after[1] - before[1])


def program_id():
    """The git commit when the checkout has one, else a hash of the
    program's sources (a checkout without .git)."""
    try:
        r = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                           capture_output=True, text=True, timeout=10)
        if r.returncode == 0:
            return r.stdout.strip()
    except OSError:
        pass
    files = [os.path.join(d, n) for d, _, ns in os.walk(PROGRAM_SOURCES)
             for n in ns]
    return "src-sha256:" + tree_hash(sorted(files))[:16]


# ------------------------------------------------------------------ run

def run_jvm(cp, args, work, deadline):
    """Run the driver; returns the raw result dict. Kills the JVM at the
    deadline and always waits for it."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    out = os.path.join(work, "raw.json")
    # the last run's span trace per workload (overwritten, so the
    # directory does not grow over a series of runs)
    spans = os.path.join(ROOT, ".bench_out", f"trace-{args.workload}.jsonl")
    os.makedirs(os.path.dirname(spans), exist_ok=True)
    # the run must own its scratch space: no inherited Spark locations.
    # A Python executable Spark cannot find stops it from starting Python
    # workers to discover Python data sources (the program has none).
    env = {k: v for k, v in os.environ.items()
           if not k.startswith(("SPARK_", "PYSPARK_"))}
    env["PYSPARK_PYTHON"] = "cdcbench-no-python"
    cmd = ["java", f"-Xmx{JVM_HEAP}", *ADD_OPENS,
           f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC", "-cp", cp, "cdcbench.Main",
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--work", work, "--out", out, "--spans", spans]
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=log,
                                stderr=subprocess.STDOUT,
                                start_new_session=True)
        try:
            code = proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            code = None
        finally:
            # the JVM's whole process group: nothing it started outlives it
            try:
                os.killpg(proc.pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
            proc.wait()
    if code != 0 or not os.path.exists(out):
        with open(log_path) as f:
            tail = [l for l in f.readlines() if " INFO " not in l][-40:]
        sys.stderr.write("".join(tail))
        fail("driver timed out" if code is None else f"driver exited {code}")
    with open(out) as f:
        return json.load(f)


def state_checks(raw, con):
    """The final state, the lookups and the SQL aggregate against the fold
    of the generated events, computed in DuckDB."""
    import pandas as pd
    cols = "repo, path, commit, lang, content, op, commit_lsn, seq"
    if "events_glob" in raw:
        ev = f"SELECT {cols} FROM read_parquet('{raw['events_glob']}')"
    else:
        ev = (f"SELECT {cols} FROM read_json('{raw['events_json']}', "
              "format = 'newline_delimited', columns = {'repo': 'VARCHAR', "
              "'path': 'VARCHAR', 'commit': 'VARCHAR', 'lang': 'VARCHAR', "
              "'content': 'VARCHAR', 'op': 'VARCHAR', 'commit_lsn': 'BIGINT', "
              "'seq': 'INTEGER'})")
    fold = bl.fold_sql(ev)
    out = []
    for i, p in enumerate(raw["passes"]):
        n = bl.phase_totals(bl.parse_journal(p["journal"]))["events"]
        out.append((f"pass {i}: every event applied once (journal)",
                    None if n == p["events"] else f"applied {n} of {p['events']}"))
    out.append(("final state equals the latest-per-key fold",
                bl.frames_match(pd.read_parquet(raw["state_dir"]),
                                con.execute(fold).fetchdf())))
    want = {(r, p): (m, g, c) for r, p, m, g, c in con.execute(fold).fetchall()}
    for lk in raw["lookups"]:
        exp = want.get((lk["repo"], lk["path"]))
        got = (lk["commit"], lk["lang"], lk["content"]) if lk["rows"] == 1 else None
        ok = lk["rows"] <= 1 and got == exp
        out.append((f"lookup {lk['repo']}/{lk['path']}",
                    None if ok else f"got {got} want {exp}"))
    agg = con.execute("SELECT lang, count(*) AS n_keys, count(DISTINCT repo) "
                      f"AS n_repos FROM ({fold}) GROUP BY lang").fetchdf()
    out.append(("SQL aggregate over ice.bench equals the fold's",
                bl.frames_match(pd.DataFrame(raw["sql"]["agg"]), agg)))
    return out


def checks_of(raw):
    """Every verdict of the run: the driver's own checks, then the ones
    made here against DuckDB."""
    import duckdb
    checks = [(c["name"], None if c["ok"] else c["detail"] or "failed")
              for c in raw["checks"]]
    con = duckdb.connect()
    try:
        con.execute("SET threads TO 2")
        checks += state_checks(raw, con)
    finally:
        con.close()
    return checks


# ------------------------------------------------------------------ metrics

def steps_ms(passes):
    return [s["ms"] for p in passes for s in p["steps"]]


def end_to_end(raw):
    passes = raw["passes"]
    return {
        "setup_s": bl.median(raw["setup_s"]),
        "events_per_s": bl.median([p["events"] / p["pass_s"] for p in passes]),
        "step_p50_ms": bl.median(steps_ms(passes)),
        "cpu_s_per_mevent": bl.median(
            [p["cpu_s"] / p["events"] * 1e6 for p in passes]),
        "state_scan_s": bl.median(raw["scan_s"]),
        "lookup_p50_ms": bl.median([lk["ms"] for lk in raw["lookups"]]),
        "table_bytes_per_event": raw["table"]["bytes"] / passes[-1]["events"],
        "live_heap_mb": raw["live_heap_mb"],
    }


def engine_group(w, p):
    """Task totals of a pass's ingest jobs: the benchmark's group around
    each runner call, or the streaming query's run id."""
    return p["groups"].get("engine.apply" if w == "replay-cow" else p["run_id"], {})


def sink_rows(w, p):
    """Per batch: (front-door overhead ms, trigger ms beyond the batch).
    replay-cow has no stream: its front door is the runner call beyond the
    journal's millis, its trigger the source resolution. binlog-sink-mor
    pairs each batch's progress, as the benchmark's StreamingQueryListener
    saw it, with the journal line of the same epoch."""
    if w == "replay-cow":
        return [(s["call_ms"] - s["journal_ms"], s["source_ms"])
                for s in p["steps"]]
    by_epoch = {r["epoch"]: r for r in bl.parse_journal(p["journal"])}
    return [(s["add_batch_ms"] - by_epoch[s["batch"]]["millis"],
             s["trigger_ms"] - s["add_batch_ms"])
            for s in p["progress"]
            if s["run_id"] == p["run_id"] and s["batch"] in by_epoch]


def per_layer(w, raw):
    passes = raw["passes"]
    probe = raw["binlog_probe"]
    cores = raw["host"]["cores"]
    journal = [r for p in passes for r in bl.parse_journal(p["journal"])]
    tot = bl.phase_totals(journal)

    def jmean(k):
        return tot[k] / len(journal)

    groups = [engine_group(w, p) for p in passes]
    n_steps = [len(p["steps"]) for p in passes]
    sink = [r for p in passes for r in sink_rows(w, p)]
    if w == "binlog-sink-mor":
        served = bl.median([p["served"] / p["events"] for p in passes])
    else:
        served = probe["served"] / probe["events"]
    table = raw["table"]
    return {
        "binlog.fetch_decode_s": bl.median(probe["fetch_decode_s"]),
        "binlog.records_served_per_event": served,
        "sink.overhead_ms": bl.median([r[0] for r in sink]),
        "sink.trigger_ms": bl.median([r[1] for r in sink]),
        "engine.lineage_ms": jmean("lineageMs"),
        "engine.merge_write_ms": jmean("mergeWriteMs"),
        "engine.manifest_ms": jmean("manifestMs"),
        # shares of the batches' end-to-end wall time (runner call or
        # trigger): what the workload's cost is made of
        "engine.merge_write_share": tot["mergeWriteMs"] / sum(steps_ms(passes)),
        # of the engine's own time: copy-on-write replay has no maintenance
        "engine.maint_share": tot["maintMs"] / tot["millis"],
        "engine.exec_cpu_s": bl.median([g["cpu_s"] for g in groups]),
        "engine.gc_s": bl.median([g["gc_s"] for g in groups]),
        "engine.shuffle_mb": bl.median([g["shuffle_mb"] for g in groups]),
        "engine.output_mb": bl.median([g["output_mb"] for g in groups]),
        "engine.jobs_per_step": bl.median(
            [g["jobs"] / n for g, n in zip(groups, n_steps)]),
        "engine.tasks_per_step": bl.median(
            [g["tasks"] / n for g, n in zip(groups, n_steps)]),
        "engine.core_util": bl.median(
            [g["cpu_s"] / (p["pass_s"] * cores) for g, p in zip(groups, passes)]),
        "engine.write_amp": bl.median(
            [g["output_mb"] * 1e6 / raw["source_bytes"] for g in groups]),
        "icelite.commit_ms": jmean("commitMs"),
        "icelite.snapshots": table["snapshots"],
        "icelite.files_per_bucket": table["files"] / table["buckets"],
        "icelite.files_per_lookup": table["files_per_lookup"],
        "sql.scan_s": raw["sql"]["scan_s"],
        "sql.agg_s": raw["sql"]["agg_s"],
        "host.ceiling": raw["host"]["ceiling"],
        "host.busy_1x": raw["host"]["busy_1x"],
        # time inside the tracing callbacks while the passes ran, as a share
        # of pass wall time; the callbacks run on the listener-bus thread,
        # so this is what tracing takes from the machine, not added latency
        "trace.overhead_pct": 100.0 * sum(p["trace_s"] for p in passes)
        / sum(p["pass_s"] for p in passes),
        "trace.spans": raw["spans"],
    }


# ------------------------------------------------------------------ report

def report_lines(w, raw, args, metrics):
    """The readable table printed above the JSON line."""
    lines = []
    units = LAYER_UNITS if args.trace else E2E_UNITS
    for k, v in metrics.items():
        lines.append(f"  {k:34s} {v:14.4f} {units[k]}")
    passes = raw["passes"]
    steps = steps_ms(passes)
    p, v = bl.tail(steps)
    tail = (f"p{p * 100:g} {v:.1f} ms" if p > 0.5
            else f"not supported by {len(steps)} steps")
    look = [lk["ms"] for lk in raw["lookups"]]
    p, v = bl.tail(look)
    ltail = (f"p{p * 100:g} {v:.1f} ms" if p > 0.5
             else f"not supported by {len(look)} lookups")
    lines.append(f"  (passes {len(passes)}; step tail {tail}; lookup tail {ltail})")
    if args.trace:
        journal = [r for p in passes for r in bl.parse_journal(p["journal"])]
        tot = bl.phase_totals(journal)
        for k in bl.JOURNAL_PHASES:
            vals = [r.get(k, 0) for r in journal]
            lines.append(f"  journal.{k:24s} p50 {bl.median(vals):10.1f} ms"
                         f"   sum {tot[k]:10d} ms")
        # where a batch's wall time goes: journal phases, and what lies
        # outside the engine (source, runner or sink front door, trigger)
        wall = sum(steps)
        parts = [(k, tot[k]) for k in bl.JOURNAL_PHASES]
        parts.append(("outside the engine", wall - tot["millis"]))
        lines.append("  batch wall shares: " + ", ".join(
            f"{k} {100.0 * v / wall:.1f}%" for k, v in parts)
            + f"; {wall / len(steps):.0f} ms per batch of "
            f"{tot['events'] / len(journal):.0f} events, "
            f"{wall / tot['events'] * 1e3:.1f} us per event")
        eps = bl.median([p["events"] / p["pass_s"] for p in passes])
        lines.append(f"  traced events_per_s {eps:.1f} (compare the untraced "
                     "run of the same seed)")
        if "scaling" in raw:
            lines += scaling_lines(raw["scaling"])
    return lines


def scaling_lines(sc):
    """Each layer's CPU per event at one task slot and at the run's slots,
    and the efficiency of going from one to all (DS2-style; never gates)."""
    wide, one = sc["wide"], sc["one"]
    out = []
    for lvl in (one, wide):
        ev = lvl["events"]
        g = lvl["groups"]
        layer = {k: v.get("cpu_s", 0.0) for k, v in g.items()}
        parts = ", ".join(f"{k} {v / ev * 1e6:.2f}" for k, v in sorted(layer.items()))
        out.append(f"  scale local[{lvl['cores']}]: wall {lvl['wall_s']:.3f} s, "
                   f"process cpu {lvl['process_cpu_s'] / ev * 1e6:.2f} us/event; "
                   f"exec cpu us/event by layer: {parts}")
    eff = (one["wall_s"] / wide["wall_s"]) / wide["cores"]
    out.append(f"  scale efficiency 1 -> {wide['cores']} cores: {eff:.3f}")
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if args.workload not in WORKLOADS:
        fail(f"unknown workload {args.workload}; one of {', '.join(WORKLOADS)}", 2)
    if not os.path.isdir(os.path.join(PROGRAM_SOURCES, "scala", "graft")):
        fail(f"program sources not found under {PROGRAM_SOURCES}; "
             "run from the root of a full checkout", 2)

    started = time.time()
    cp, built = build()
    if built:
        print(f"cdcbench: built in {time.time() - started:.1f} s", file=sys.stderr)
    # a run that had to build gets the long first-run allowance
    deadline = started + (870 if built else 170)
    free_before = shutil.disk_usage(ROOT).free
    ticks_before = cpu_ticks()
    work = os.path.join(ROOT, ".bench_work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        raw = run_jvm(cp, args, work, deadline - 15)
        # keep the raw measurements next to the span trace, for diagnosis
        shutil.copy(os.path.join(work, "raw.json"), os.path.join(
            ROOT, ".bench_out", f"raw-{args.workload}.json"))
        checks = checks_of(raw)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        parent = os.path.dirname(work)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)
    checks.append(("work directory removed",
                   None if not os.path.exists(work) else "left behind"))
    free_delta_mb = (shutil.disk_usage(ROOT).free - free_before) / 1e6
    steal = steal_pct(ticks_before, cpu_ticks())

    w = args.workload
    metrics = per_layer(w, raw) if args.trace else end_to_end(raw)
    units = LAYER_UNITS if args.trace else E2E_UNITS
    failed = [(n, r) for n, r in checks if r is not None]
    host = raw["host"]
    print(f"cdcbench workload={w} seed={args.seed} trace={args.trace} "
          f"head={program_id()} nproc={os.cpu_count()} "
          f"host.ceiling={host['ceiling']:.4f} host.busy_1x={host['busy_1x']:.4f} "
          f"steal_pct={steal:.1f} "
          f"run_s={time.time() - started:.1f} disk_free_delta_mb={free_delta_mb:.1f} "
          f"peak_rss_mb={raw['peak_rss_mb']:.0f}")
    print("phases: " + ", ".join(f"{k} {v:.1f}s" for k, v in raw["phase_s"].items())
          + "; setups " + ", ".join(f"{v:.2f}" for v in raw["setup_s"]))
    print(f"checks: {len(checks) - len(failed)}/{len(checks)} passed")
    for n, r in failed:
        print(f"  FAILED {n}: {r}")
    for line in report_lines(w, raw, args, metrics):
        print(line)
    print(json.dumps({
        "correct": not failed,
        "attempted": len(checks),
        "failed": len(failed),
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))


if __name__ == "__main__":
    main()
