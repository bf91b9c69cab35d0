"""DuckDB oracle compare for face results.

The comparison is the repository's correctness gate itself: the type
aliases, value normalisation, column order, oracle lint and row matching
are imported from scripts/check.py, so the two cannot drift. Only the
per-face loop that returns a reason instead of printing is here.
"""
import json
import sys
from pathlib import Path

import duckdb

sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "scripts"))
from check import TABLES, frame_rows, lint_oracle  # noqa: E402


def check(data_dir, results_dir):
    """{face: None if its result matches the oracle, else the reason}."""
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    con.execute("SET enable_progress_bar = false")
    for t in TABLES:
        p = Path(data_dir) / f"{t}.parquet"
        if p.exists():
            src = f"{p}/*.parquet" if p.is_dir() else str(p)
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{src}'")
    oracle = json.loads((Path(results_dir) / "oracle_sql.json").read_text())
    out = {}
    for name, sql in sorted(oracle.items()):
        res = Path(results_dir) / name
        if not res.exists():
            out[name] = "no result written"
            continue
        lint = [m for m in lint_oracle(con, name, sql) if "LINT-FAIL" in m or "LINT-ERR" in m]
        if lint:
            out[name] = lint[0][:300]
            continue
        try:
            got_rel, want_rel = con.sql(f"SELECT * FROM '{res}/*.parquet'"), con.sql(sql)
            got = frame_rows(got_rel.columns, got_rel.types, got_rel.fetchall())
            want = frame_rows(want_rel.columns, want_rel.types, want_rel.fetchall())
        except Exception as e:  # noqa: BLE001 - any oracle error fails the face
            out[name] = f"oracle error: {e}"[:300]
            continue
        if got[0] != want[0]:
            out[name] = f"columns differ: {got[0]} vs {want[0]}"
        elif got[1] != want[1]:
            out[name] = f"column types differ: {got[1]} vs {want[1]}"
        elif got[2] != want[2] and sorted(got[2]) != sorted(want[2]):
            out[name] = f"values differ ({len(got[2])} vs {len(want[2])} rows)"
        else:
            out[name] = None
    return out
