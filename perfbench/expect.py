"""Expected outputs from the engine's DuckDB oracle SQL, and the check
every pass's outputs go through.

The comparison is the engine's own correctness contract: same column
names, same row count, and the same rows in any order, compared
exactly (both sides round computed floats identically)."""

from __future__ import annotations

import math
import os


def _cell(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if v == 0.0:
            return 0.0  # -0.0 and 0.0 are one value
    return v


def normalize(cols, rows) -> tuple[list, list]:
    """Columns sorted by name, rows re-ordered to match and sorted."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(_cell(r[i]) for i in order) for r in rows]
    out.sort(key=lambda t: tuple((x is None, str(x)) for x in t))
    return [cols[i] for i in order], out


def expected(oracle_sqls: dict[str, str], keys, sf_dir: str | None) -> dict:
    """``{key: (columns, rows)}`` normalized, one DuckDB connection with a
    view per table file present under ``sf_dir``."""
    import duckdb
    from landsat_tair_data_pipeline_spark.sources.tables import TABLES

    con = duckdb.connect()
    try:
        for t in TABLES:
            path = os.path.join(sf_dir or "", f"{t}.parquet")
            if sf_dir and os.path.exists(path):
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
        out = {}
        for key in keys:
            cur = con.execute(oracle_sqls[key])
            cols = [d[0] for d in cur.description]
            out[key] = normalize(cols, cur.fetchall())
        return out
    finally:
        con.close()


def mismatch(exp: tuple[list, list], cols, rows) -> str | None:
    """None when ``(cols, rows)`` equals the expectation, else why not."""
    got_cols, got_rows = normalize(list(cols), [tuple(r) for r in rows])
    want_cols, want_rows = exp
    if got_cols != want_cols:
        return f"columns {got_cols} != {want_cols}"
    if len(got_rows) != len(want_rows):
        return f"{len(got_rows)} rows != {len(want_rows)}"
    for i, (a, b) in enumerate(zip(got_rows, want_rows)):
        if a != b:
            return f"row {i}: {a} != {b}"
    return None
