"""Pure helpers of the CDC benchmark: percentiles, the change-journal
parser, run-to-run spread, and the DuckDB-oracle canonicalisation.

Kept free of Spark and of process handling so that test_benchlib.py can
check every rule on small hand-made inputs.
"""
import json
import statistics

# Tail percentiles considered, highest first.
TAIL_CANDIDATES = (0.999, 0.99, 0.95, 0.9, 0.75)
# A percentile is reported only when at least this many samples lie beyond
# it; with fewer, its value is decided by a handful of outliers.
MIN_BEYOND = 10


def percentile(values, p):
    """Linear-interpolated percentile (the numpy default) of `values`,
    `p` in [0, 1]."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    pos = p * (len(xs) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail_quantile(n):
    """Highest tail percentile that `n` samples support: the first of
    TAIL_CANDIDATES with at least MIN_BEYOND samples beyond it. Below
    2 * MIN_BEYOND samples no tail is supported and the median is used."""
    for p in TAIL_CANDIDATES:
        # rounded: 100 * (1 - 0.9) is 9.999999999999998 in floating point
        if round(n * (1.0 - p), 9) >= MIN_BEYOND:
            return p
    return 0.5


def tail(values):
    """(percentile used, value) for the tail of `values`."""
    p = tail_quantile(len(values))
    return p, percentile(values, p)


def median(values):
    return percentile(values, 0.5)


def spread(values):
    """Inter-quartile distance as a share of the median, computed the way
    the acceptance check does (statistics.quantiles, n=4)."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2


JOURNAL_PHASES = ("lineageMs", "mergeWriteMs", "manifestMs", "commitMs",
                  "maintMs")


def parse_journal(lines):
    """Parse the engine's per-commit journal (metrics.jsonl; one JSON object
    per commit, as `engine.inspect.metrics` reads it). Returns one record
    per epoch — the first line of an epoch, since a replayed epoch appends
    nothing and maintenance rides the same line — ordered by epoch. Blank
    lines are skipped; a malformed line raises ValueError."""
    seen = {}
    for i, raw in enumerate(lines):
        raw = raw.strip()
        if not raw:
            continue
        try:
            rec = json.loads(raw)
        except json.JSONDecodeError as e:
            raise ValueError(f"journal line {i + 1}: {e}") from None
        if "epoch" not in rec or "millis" not in rec:
            raise ValueError(f"journal line {i + 1}: no epoch/millis")
        seen.setdefault(rec["epoch"], rec)
    return [seen[e] for e in sorted(seen)]


def phase_totals(records):
    """Sum of each journal phase (ms) and of `millis`, `events`, over
    records; a phase absent from a record (a no-op epoch) counts 0."""
    out = {k: 0 for k in JOURNAL_PHASES + ("millis", "events")}
    for r in records:
        for k in out:
            out[k] += r.get(k, 0)
    return out


def fold_sql(events_sql):
    """DuckDB SQL for the state a change stream must leave: per key, the
    latest event by (commit_lsn, seq) decides visibility (a delete hides the
    key) and each payload column keeps its latest non-null value. Columns
    repo, path, commit, lang, content. Shares no code with the engine."""
    def last(col):
        return f"""{col}_last AS (
  SELECT repo, path, {col} FROM (
    SELECT repo, path, {col}, row_number() OVER (
      PARTITION BY repo, path ORDER BY commit_lsn DESC, seq DESC) AS rn
    FROM ev WHERE {col} IS NOT NULL) WHERE rn = 1)"""
    return f"""WITH ev AS ({events_sql}),
latest AS (
  SELECT repo, path, op FROM (
    SELECT repo, path, op, row_number() OVER (
      PARTITION BY repo, path ORDER BY commit_lsn DESC, seq DESC) AS rn
    FROM ev) WHERE rn = 1),
{last("commit")},
{last("lang")},
{last("content")}
SELECT l.repo, l.path, m.commit, g.lang, c.content
FROM latest l
LEFT JOIN commit_last m ON m.repo = l.repo AND m.path = l.path
LEFT JOIN lang_last g ON g.repo = l.repo AND g.path = l.path
LEFT JOIN content_last c ON c.repo = l.repo AND c.path = l.path
WHERE l.op <> 'D'"""


def canon(df):
    """compare.py's canonical form: columns sorted by name, rows sorted by
    every column (stable), index reset."""
    df = df.reindex(sorted(df.columns), axis=1)
    df = df.sort_values(by=list(df.columns), kind="mergesort",
                        na_position="last")
    return df.reset_index(drop=True)


def frames_match(got, exp):
    """Compare two result frames by compare.py's rules: after canon, equal
    column names, equal row count, floats equal exactly (NaN == NaN),
    everything else equal as strings. Returns None on a match, else a
    one-line reason."""
    import numpy as np
    got, exp = canon(got), canon(exp)
    if list(got.columns) != list(exp.columns):
        return f"columns {list(got.columns)} vs {list(exp.columns)}"
    if len(got) != len(exp):
        return f"rows {len(got)} vs {len(exp)}"
    for c in got.columns:
        g, e = got[c], exp[c]
        if np.issubdtype(g.dtype, np.floating) or \
                np.issubdtype(e.dtype, np.floating):
            ga = g.astype(float).to_numpy()
            ea = e.astype(float).to_numpy()
            same = (np.isnan(ga) & np.isnan(ea)) | (ga == ea)
        else:
            same = g.astype(str).to_numpy() == e.astype(str).to_numpy()
        if not same.all():
            return f"col {c}: {int((~same).sum())} values differ"
    return None
