"""DuckDB oracle compare for the query_mix workload. Each Spark result is
compared with its `SparkEntry.oracleSql` answer after the canonical
normalisation of tools/check_oracle.py (columns by name, rows by every
column, integer widths and dates unified), then by dtype and by exact
value, and finally by a hash of the normalised frame."""

import hashlib
import json
import pathlib
import re
import sys

import duckdb
import pandas as pd

sys.path.insert(0, str(pathlib.Path(__file__).resolve().parent.parent / "tools"))
from check_oracle import TABLES, normalize  # noqa: E402


def frame_hash(df):
    """Hash of a normalised frame: column names, dtypes and every value."""
    h = hashlib.sha256()
    h.update(json.dumps([[c, str(df[c].dtype)] for c in df.columns]).encode())
    try:
        values = pd.util.hash_pandas_object(df, index=False)
    except TypeError:  # unhashable cells such as arrays hash by their text
        values = pd.util.hash_pandas_object(df.astype(str), index=False)
    h.update(values.values.tobytes())
    return h.hexdigest()


def compare(got, exp):
    """None when `got` equals `exp` under the canonical normalisation,
    else the first difference."""
    g, e = normalize(got), normalize(exp)
    if list(g.columns) != list(e.columns):
        return f"columns {list(g.columns)} != {list(e.columns)}"
    if len(g) != len(e):
        return f"rows {len(g)} != {len(e)}"
    bad = [(c, str(g[c].dtype), str(e[c].dtype)) for c in g.columns
           if str(g[c].dtype) != str(e[c].dtype)]
    if bad:
        return f"dtype mismatch {bad}"
    for c in g.columns:
        try:
            eq = (g[c] == e[c]) | (g[c].isna() & e[c].isna())
        except (TypeError, ValueError):
            eq = g[c].astype(str) == e[c].astype(str)
        if not eq.all():
            i = int((~eq).idxmax())
            return f"col {c} row {i}: spark={g[c].iloc[i]!r} oracle={e[c].iloc[i]!r}"
    if frame_hash(g) != frame_hash(e):
        return "hash mismatch"
    return None


def materialized(sql):
    """The same query with every CTE materialised. Some oracles unroll an
    iteration as a chain of CTEs that each reference earlier ones several
    times; inlined, their cost grows exponentially with the chain."""
    return re.sub(r"(\b\w+\s+AS)\s*\((?=\s*SELECT)", r"\1 MATERIALIZED (", sql,
                  flags=re.IGNORECASE)


def check(tables_dir, results_dir):
    """Query name -> None (equal) or the reason it is not."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{tables_dir}/{t}.parquet'")
    oracle = json.loads((results_dir / "oracle_sql.json").read_text())
    out = {}
    for name, sql in oracle.items():
        try:
            out[name] = compare(pd.read_parquet(results_dir / name), con.sql(materialized(sql)).df())
        except Exception as ex:  # a failed read or oracle query fails the check
            out[name] = f"{type(ex).__name__}: {ex}"
    return out
