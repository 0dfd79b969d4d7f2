"""Correctness gates: engine outputs against independent DuckDB oracles.

Every comparison canonicalises both sides the same way (columns by name,
rows sorted, timestamps as microsecond strings, floats rounded to 9 digits)
and returns ``None`` when they match or a one-line reason when they do not.
"""

from __future__ import annotations

import glob
import os

import duckdb
import pandas as pd

# the tables the registry leaves and their oracles refer to by name
REGISTRY_TABLES = ("customer", "part", "orders", "lineitem", "events",
                   "documents", "embeddings")


def canon(df: pd.DataFrame, floats: set[str]) -> pd.DataFrame:
    """Columns by name, rows sorted by the exact columns first and the
    ``floats`` last, so that a float differing in its last rounded digit
    (see FLOAT_TOLERANCE) cannot reorder the rows."""
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if c in floats:
            df[c] = df[c].astype("float64").round(9)
        elif pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = df[c].astype("datetime64[us]").astype(str)
        elif df[c].dtype == object:
            df[c] = df[c].where(pd.notna(df[c]), None)
    keys = [c for c in df.columns if c not in floats] + sorted(floats)
    return df.sort_values(keys).reset_index(drop=True)


# Rounded float outputs may differ by one unit in their last decimal between
# the engines: Spark's round() rounds the binary double half-up (a mean of
# exactly 62.14775 is stored as 62.147749999999995 and rounds to 62.1477),
# DuckDB's rounds the decimal value (62.1478). Leaves round to 4 or more
# decimals, so a float column may differ by at most 1e-4; every other
# column must match exactly.
FLOAT_TOLERANCE = 1e-4 + 1e-12


def mismatch(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    """``None`` if the frames hold the same rows, else why they differ."""
    if sorted(got.columns) != sorted(want.columns):
        return f"columns {sorted(got.columns)} != {sorted(want.columns)}"
    if len(got) != len(want):
        return f"rows {len(got)} != {len(want)}"
    floats = {c for c in got.columns
              if pd.api.types.is_float_dtype(got[c])
              or pd.api.types.is_float_dtype(want[c])}
    got, want = canon(got, floats), canon(want, floats)
    exact = [c for c in got.columns if c not in floats]
    try:
        pd.testing.assert_frame_equal(got[exact], want[exact],
                                      check_dtype=False, check_exact=True)
        if floats:
            cols = sorted(floats)
            pd.testing.assert_frame_equal(got[cols], want[cols],
                                          check_dtype=False, check_exact=False,
                                          rtol=0, atol=FLOAT_TOLERANCE)
    except AssertionError as e:
        return str(e).splitlines()[0]
    return None


def not_in(got: pd.DataFrame, want: pd.DataFrame) -> int:
    """How many rows of ``got`` are not rows of ``want`` (floats compared
    within FLOAT_TOLERANCE), for leaves whose output may omit oracle rows."""
    floats = [c for c in want.columns
              if pd.api.types.is_float_dtype(want[c])
              or pd.api.types.is_float_dtype(got[c])]
    keys = [c for c in want.columns if c not in floats]
    m = got.merge(want.drop_duplicates(keys), on=keys, how="left",
                  suffixes=("", "_want"), indicator=True)
    bad = m["_merge"] != "both"
    for c in floats:
        bad |= (m[c] - m[f"{c}_want"]).abs() > FLOAT_TOLERANCE
    return int(bad.sum())


def _log_list(log_dir: str) -> str:
    files = sorted(glob.glob(os.path.join(log_dir, "tranche-*", "*.parquet")))
    if not files:
        raise FileNotFoundError(f"no change-log parquet under {log_dir}")
    return ", ".join("'" + f.replace("'", "''") + "'" for f in files)


def normalized_final_state(log_dir: str) -> pd.DataFrame:
    """Final table state of an encoded log replayed with NFC normalisation
    and whitespace collapse: last writer wins per (conv_id, turn_idx) by
    (ts, offset, partition), deletes drop the key, and the winner's text is
    normalised in SQL. Shares no code with the engine."""
    con = duckdb.connect()
    try:
        con.execute("CREATE VIEW log AS SELECT * FROM read_parquet("
                    f"[{_log_list(log_dir)}], union_by_name=true)")
        have = {r[1] for r in con.execute("PRAGMA table_info('log')").fetchall()}
        evolved = [c for c in ("tool_version", "latency_ms") if c in have]
        extra = "".join(f", {c}" for c in evolved)
        return con.execute(f"""
            WITH ranked AS (
              SELECT *, row_number() OVER (PARTITION BY conv_id, turn_idx
                        ORDER BY ts DESC, "offset" DESC, partition DESC) rn
              FROM log)
            SELECT conv_id, turn_idx, role,
                   CASE WHEN text IS NULL THEN NULL
                        WHEN trim(text) = '' THEN ''
                        ELSE nfc_normalize(
                               regexp_replace(trim(text), '\\s+', ' ', 'g'))
                   END AS text,
                   tool, ts{extra}
            FROM ranked WHERE rn = 1 AND op <> 'D'
            ORDER BY conv_id, turn_idx
        """).df()
    finally:
        con.close()


def registry_oracle(tables_dir: str, sql: str) -> pd.DataFrame:
    """Run a registry entry's oracle SQL over the tables in ``tables_dir``."""
    con = duckdb.connect()
    try:
        for t in REGISTRY_TABLES:
            path = os.path.join(tables_dir, f"{t}.parquet").replace("'", "''")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
        return con.execute(sql).df()
    finally:
        con.close()
