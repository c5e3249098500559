"""Recomputes a fixed column subset of one `ta_batch` operation in DuckDB
and compares it with what graft wrote. The SQL mirrors the oracle SQL of
graft's per-indicator queries: windows over (series_id ORDER BY ts), the
rolling kinds gated on a full window, division by zero as NULL."""
import math
import os

W10 = "(PARTITION BY series_id ORDER BY ts ROWS BETWEEN 9 PRECEDING AND CURRENT ROW)"
W = "(PARTITION BY series_id ORDER BY ts)"

REFERENCE = {
    "sma_10": f"CASE WHEN count(close) OVER {W10} >= 10 THEN avg(close) OVER {W10} END",
    "mom_10": f"close - lag(close, 10) OVER {W}",
    "roc_10": f"100e0 * (close / nullif(lag(close, 10) OVER {W}, 0) - 1e0)",
    "log_return_1": f"CASE WHEN close / nullif(lag(close, 1) OVER {W}, 0) > 0 "
                    f"THEN ln(close / nullif(lag(close, 1) OVER {W}, 0)) END",
    "percent_return_1": f"close / nullif(lag(close, 1) OVER {W}, 0) - 1e0",
    "stdev_10": f"CASE WHEN count(close) OVER {W10} >= 10 THEN stddev_samp(close) OVER {W10} END",
    "midpoint_10": f"CASE WHEN count(close) OVER {W10} >= 10 "
                   f"THEN (max(close) OVER {W10} + min(close) OVER {W10}) / 2e0 END",
}


def _num(v):
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return None
    return float(v)


def close(got, want, rel=1e-9, abs_=1e-9):
    got, want = _num(got), _num(want)
    if got is None or want is None:
        return got is None and want is None
    return abs(got - want) <= max(abs_, rel * abs(want))


def check(input_dir, output_dir, columns):
    """Returns (ok, detail)."""
    import duckdb

    missing = [c for c in columns if c not in REFERENCE]
    if missing:
        return False, f"no reference SQL for {missing}"
    ref = ", ".join(f"{REFERENCE[c]} AS {c}" for c in columns)
    inp = os.path.join(input_dir, "*.parquet")
    out = os.path.join(output_dir, "*.parquet")
    sql = (
        f"WITH r AS (SELECT series_id, ts, {ref} FROM read_parquet('{inp}')) "
        f"SELECT r.series_id, r.ts, o.series_id IS NOT NULL AS present, "
        + ", ".join(f"r.{c}, o.{c}" for c in columns)
        + f" FROM r FULL OUTER JOIN read_parquet('{out}') o ON r.series_id = o.series_id AND r.ts = o.ts"
    )
    con = duckdb.connect()
    con.execute("SET threads TO 1")
    rows = con.execute(sql).fetchall()
    bad, first = 0, ""
    for row in rows:
        if row[0] is None or not row[2]:
            bad += 1
            first = first or f"row only on one side: {row[:2]}"
            continue
        for i, c in enumerate(columns):
            want, got = row[3 + 2 * i], row[4 + 2 * i]
            if not close(got, want):
                bad += 1
                first = first or f"{c} at {row[0]}/{row[1]}: graft={got} duckdb={want}"
    cells = len(rows) * len(columns)
    return bad == 0 and cells > 0, f"rows={len(rows)} cells={cells} mismatched={bad} {first}".strip()
