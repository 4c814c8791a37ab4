"""DuckDB oracle for the ch_sql mix, with scripts/selfcheck.py's
normalisation: same column names, same row count, rows sorted by their
string form, floats equal within 1e-9 relative."""
import glob
import math
import os

import duckdb


def connect(data_dir):
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    for p in sorted(glob.glob(os.path.join(data_dir, "*.parquet"))):
        name = os.path.basename(p)[:-8]
        src = os.path.join(p, "*.parquet") if os.path.isdir(p) else p
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{src}')")
    return con


def expected(data_dir, oracle_sql):
    """{query: DataFrame or Exception} for every oracle query."""
    con = connect(data_dir)
    out = {}
    for name, sql in sorted(oracle_sql.items()):
        try:
            out[name] = con.execute(sql).fetchdf()
        except Exception as e:  # a broken oracle is reported, not skipped
            out[name] = e
    con.close()
    return out


def _sortable(df):
    if len(df) == 0:
        return df
    key = df.astype(str).apply(lambda r: "\x01".join(r), axis=1)
    return df.iloc[key.sort_values().index].reset_index(drop=True)


def compare(got, want):
    """None when `got` (engine result) matches `want` (DuckDB), else a
    one-line reason."""
    if isinstance(want, Exception):
        return f"oracle error: {want}"
    gcols, wcols = sorted(got.columns), sorted(want.columns)
    if gcols != wcols:
        return f"schema: engine={gcols} duckdb={wcols}"
    if len(got) != len(want):
        return f"rows: engine={len(got)} duckdb={len(want)}"
    gs, ws = _sortable(got[gcols]), _sortable(want[wcols])
    for c in gcols:
        for i, (a, b) in enumerate(zip(gs[c].tolist(), ws[c].tolist())):
            if a is None and b is None:
                continue
            if isinstance(a, float) and isinstance(b, float):
                if math.isnan(a) and math.isnan(b):
                    continue
                if a != b and abs(a - b) > 1e-9 * max(1, abs(a), abs(b)):
                    return f"col {c} row {i}: {a!r} != {b!r}"
            elif str(a) != str(b):
                return f"col {c} row {i}: {a!r} != {b!r}"
    return None


def check_results(results_dir, want):
    """{query: reason} for every query whose engine result (parquet under
    results_dir/<query>) does not match DuckDB."""
    con = duckdb.connect()
    bad = {}
    for name, w in sorted(want.items()):
        path = os.path.join(results_dir, name)
        if not glob.glob(os.path.join(path, "*.parquet")):
            bad[name] = "no engine result"
            continue
        got = con.execute(f"SELECT * FROM read_parquet('{path}/*.parquet')").fetchdf()
        reason = compare(got, w)
        if reason:
            bad[name] = reason
    con.close()
    return bad
