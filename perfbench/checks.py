"""Correctness checks of the benchmark's outputs, each against an oracle
the program under test does not share:

- window_stream: emitted windows plus the state still held must equal a
  DuckDB replay of the processed files under the per-batch two-value
  watermark (late filter = watermark of the data through batch b-2, the
  pattern of the library's w15 oracle).
- index_state: the transformWithState operator's final per-key state
  must equal the bounded in-memory replay of the same operator.
- drain_rows, curation_batch: each query row's output must match the
  library's DuckDB oracle SQL, compared by the repository's own
  scripts/check.py (run unmodified); earlier timed passes over the same
  input must reproduce the checked pass row for row.

Every check returns a list of (name, ok, detail).
"""
import os
import re
import subprocess
import sys

import duckdb


def _con():
    con = duckdb.connect()
    con.execute("SET threads = 2")
    return con


def _diff(con, oracle_sql, got_sql):
    """Row-multiset difference both ways (exact compare)."""
    q = f"""WITH o AS ({oracle_sql}), g AS ({got_sql})
    SELECT (SELECT count(*) FROM (SELECT * FROM o EXCEPT ALL SELECT * FROM g)),
           (SELECT count(*) FROM (SELECT * FROM g EXCEPT ALL SELECT * FROM o)),
           (SELECT count(*) FROM o), (SELECT count(*) FROM g)"""
    missing, extra, n_o, n_g = con.execute(q).fetchone()
    ok = missing == 0 and extra == 0 and n_o > 0
    return ok, f"oracle {n_o} rows, got {n_g}, missing {missing}, extra {extra}"


def window_replay_sql(stage, n_files, window_s, lateness_s):
    files = [os.path.join(stage, f"b{i:04d}.parquet") for i in range(n_files)]
    w, lat = window_s * 1000, lateness_s * 1000
    return f"""
    WITH raw AS (
      SELECT *, CAST(regexp_extract(filename, 'b([0-9]+)\\.parquet$', 1) AS INTEGER) AS b
      FROM read_parquet({files!r}, filename = true)),
    ev AS (SELECT b, user_id, value, epoch_us(ts) // 1000 AS ts_ms FROM raw),
    wm AS (
      SELECT b, max(mx) OVER (ORDER BY b
          ROWS BETWEEN UNBOUNDED PRECEDING AND 2 PRECEDING) - {lat} AS late_wm_ms
      FROM (SELECT b, max(ts_ms) AS mx FROM ev GROUP BY b)),
    acc AS (
      SELECT ev.*, wm.late_wm_ms, (ts_ms // {w} + 1) * {w} AS wend_ms
      FROM ev JOIN wm USING (b))
    SELECT (wend_ms - {w}) * 1000 AS ws_us, user_id, count(*) AS n,
      CAST(sum(CAST(floor(value * 1000000) AS BIGINT)) AS BIGINT) AS s
    FROM acc WHERE late_wm_ms IS NULL OR wend_ms > late_wm_ms
    GROUP BY 1, 2"""


def _csv(d, cols):
    """The rows a foreachBatch sink wrote as headerless CSV of BIGINTs."""
    spec = ", ".join(f"'{c.strip()}': 'BIGINT'" for c in cols.split(","))
    return (f"read_csv('{d}/batch-*.csv', header = false, columns = {{{spec}}}, "
            f"union_by_name = false)")


def window_replay(c, window_s, lateness_s):
    got = f"""
      SELECT ws_us, user_id, n, s FROM {_csv(c["emitted"], "ws_us, user_id, n, s")}
      UNION ALL
      SELECT epoch_us(window_start), user_id, n, sum_value_micros
      FROM read_parquet('{c["held"]}/*.parquet')"""
    ok, detail = _diff(_con(), window_replay_sql(c["stage"], int(c["files"]),
                                                 window_s, lateness_s), got)
    return [("window_replay", ok, detail)]


def index_compare(c):
    cols = "key, ctr, item, x1"
    ok, detail = _diff(_con(),
                       f"SELECT {cols} FROM read_parquet('{c['local']}/*.parquet')",
                       f"SELECT {cols} FROM {_csv(c['tws'], cols)}")
    return [("index_compare", ok, detail)]


def oracle_rows(root, c):
    """Run scripts/check.py on one pass's outputs; one result per row."""
    script = os.path.join(root, "scripts", "check.py")
    rows = c["rows"]
    if not os.path.exists(script):
        return [(r, False, "scripts/check.py not found") for r in rows]
    try:
        r = subprocess.run([sys.executable, script, c["data"], c["out"]] + rows,
                           stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                           text=True, timeout=120)
    except subprocess.TimeoutExpired:
        return [(row, False, "scripts/check.py timed out") for row in rows]
    seen = {}
    for line in r.stdout.splitlines():
        m = re.match(r"(PASS|FAIL) ([A-Za-z0-9_]+)", line)
        if m and m.group(2) in rows:
            seen[m.group(2)] = (m.group(1) == "PASS", line.strip())
    return [(row, *seen.get(row, (False, "no verdict from check.py"))) for row in rows]


def same_rows(c):
    """A pass's outputs equal the oracle-checked pass's, row for row."""
    out = []
    for row in c["rows"]:
        try:
            ok, detail = _diff(_con(),
                               f"SELECT * FROM read_parquet('{c['ref']}/{row}/*.parquet')",
                               f"SELECT * FROM read_parquet('{c['out']}/{row}/*.parquet')")
        except duckdb.Error as e:
            ok, detail = False, str(e).splitlines()[0]
        out.append((row, ok, "same as the checked pass: " + detail))
    return out


def run_check(root, c, params):
    kind = c["kind"]
    if kind == "window_replay":
        return window_replay(c, int(params["window_s"]), int(params["lateness_s"]))
    if kind == "index_compare":
        return index_compare(c)
    if kind == "oracle_rows":
        return oracle_rows(root, c)
    if kind == "same_rows":
        return same_rows(c)
    return [(kind, False, "unknown check kind")]
