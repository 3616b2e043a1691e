"""Output check and latency accounting for the streaming workloads.

The expected sink contents are computed by DuckDB straight from the wire
files the engine read, in the shapes of the `q_win_tumble` and
`q_win_slide_topn` oracle SQL, and limited to windows that the final
watermark closed. Nothing here shares code with the engine.
"""
import csv
import os

import duckdb

# media_jdbc: 30 s tumbling count per (appid, type); a window is emitted
# once the watermark (max event time, delay 0) reaches its end.
MEDIA_SQL = r"""
WITH w AS (
  SELECT appid, event_type, log_time,
         CAST(regexp_extract(filename, 'f(\d+)\.json$', 1) AS INTEGER) AS file
  FROM read_json('{glob}', format = 'newline_delimited', filename = true,
       columns = {{appid: 'VARCHAR', event_type: 'INTEGER', "timestamp": 'BIGINT',
                  log_time: 'BIGINT'}}))
SELECT CAST(floor(log_time / 30000) AS BIGINT) * 30000 + 30000 AS end_ms,
       appid, event_type AS type, count(*) AS cnt, max(file) AS last_file
FROM w GROUP BY 1, 2, 3
HAVING end_ms <= (SELECT max(log_time) FROM w)
"""

# hot_items: 1 h window sliding by 5 min over pv rows, top 3 items per
# window end (count desc, item asc); a window fires once the watermark
# (max pv event time) passes its end.
HOT_SQL = r"""
WITH w AS (
  SELECT item, behavior, ts,
         CAST(regexp_extract(filename, 'f(\d+)\.csv$', 1) AS INTEGER) AS file
  FROM read_csv('{glob}', header = false, filename = true,
       columns = {{usr: 'BIGINT', item: 'BIGINT', cat: 'BIGINT', behavior: 'VARCHAR',
                  ts: 'BIGINT'}})),
pv AS (SELECT * FROM w WHERE behavior = 'pv'),
panes AS (
  SELECT (CAST(floor(ts / 300) AS BIGINT) - g) * 300 + 3600 AS win_end, item, file
  FROM pv CROSS JOIN (SELECT unnest(range(0, 12)) AS g) gs),
counts AS (SELECT win_end, item, count(*) AS cnt FROM panes GROUP BY 1, 2),
last AS (SELECT win_end, max(file) AS last_file FROM panes GROUP BY 1),
ranked AS (
  SELECT win_end, item, cnt,
         row_number() OVER (PARTITION BY win_end ORDER BY cnt DESC, item ASC) AS rnk
  FROM counts)
SELECT win_end * 1000 AS end_ms, rnk, item, cnt, last_file
FROM ranked JOIN last USING (win_end)
WHERE rnk <= 3 AND win_end * 1000 < (SELECT max(ts) * 1000 FROM pv)
"""


def expected_rows(workload, in_dir):
    """{result key: (value, last contributing file)} from DuckDB."""
    con = duckdb.connect()
    con.execute("SET threads = 1")
    if workload == "media_jdbc":
        rows = con.sql(MEDIA_SQL.format(glob=os.path.join(in_dir, "*.json"))).fetchall()
        return {(e, a, t): (c, f) for e, a, t, c, f in rows}
    rows = con.sql(HOT_SQL.format(glob=os.path.join(in_dir, "*.csv"))).fetchall()
    return {(e, r): ((i, c), f) for e, r, i, c, f in rows}


def sink_rows(workload, path):
    """[(result key, value, batch id)] from the engine's sink dump."""
    out = []
    with open(path) as fh:
        for r in csv.reader(fh):
            if workload == "media_jdbc":
                out.append(((int(r[0]), r[1], int(r[2])), int(r[3]), int(r[4])))
            else:
                out.append(((int(r[0]), int(r[1])), (int(r[2]), int(r[3])), int(r[4])))
    return out


def score(expected, actual):
    """(attempted, failed) over result rows. A unit is an expected row or
    an extra one; a missing, extra, duplicated or wrong row fails once."""
    failed = 0
    seen = set()
    for key, value, _batch in actual:
        if key in seen or key not in expected or expected[key][0] != value:
            failed += 1
        seen.add(key)
    missing = len(expected.keys() - seen)
    extra = len(seen - expected.keys())
    return len(expected) + extra, failed + missing


def latencies(expected, actual, due_ms, commit_ms):
    """Latency of each sink row whose last contributing event sits in an
    open-loop file: the batch's commit time minus that file's due time.
    `due_ms` holds only the open-loop files."""
    out = []
    for key, _value, batch in actual:
        if key in expected and expected[key][1] in due_ms:
            out.append(commit_ms[batch] - due_ms[expected[key][1]])
    return out


def percentile(xs, q):
    """q-th percentile by linear interpolation between closest ranks."""
    s = sorted(xs)
    pos = (len(s) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def supported(q, n):
    """A percentile is reported only with at least ten samples beyond it."""
    return n * (100.0 - q) / 100.0 >= 10


def read_timings(out_dir):
    """Open-loop due times per file, and commit time per batch id."""
    due = {}
    with open(os.path.join(out_dir, "files.csv")) as fh:
        for r in csv.DictReader(fh):
            if r["phase"] == "open":
                due[int(r["file"])] = float(r["due_ms"])
    commits = {}
    with open(os.path.join(out_dir, "commits.csv")) as fh:
        for r in csv.DictReader(fh):
            commits[int(r["batch_id"])] = float(r["end_ms"])
    return due, commits
