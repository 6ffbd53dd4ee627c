"""DuckDB oracle gate: each checked row's `SparkEntry.oracleSql` text runs in
DuckDB over the generated parquet tables, and every Spark result written
for that row must equal it exactly (columns sorted by name, rows sorted by
all columns, values compared bit for bit)."""
import glob
import os

import duckdb
import pandas as pd

TABLES = ["documents", "embeddings"]


def _normalize(df):
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if str(df[c].dtype).startswith("datetime64"):
            df[c] = df[c].astype("datetime64[us]")
        if df[c].dtype == object:
            df[c] = df[c].apply(lambda v: tuple(v.tolist()) if hasattr(v, "tolist") else v)
    return df.sort_values(by=list(df.columns), ignore_index=True)


def _diff(e, a):
    if list(e.columns) != list(a.columns):
        return f"columns {list(a.columns)} vs oracle {list(e.columns)}"
    if e.shape != a.shape:
        return f"shape {a.shape} vs oracle {e.shape}"
    for c in e.columns:
        if not e[c].equals(a[c]):
            bad = e[c] != a[c]
            return (f"column {c} differs in {int(bad.sum())} rows, e.g. "
                    f"{a[c][bad].head(2).tolist()} vs oracle {e[c][bad].head(2).tolist()}")
    return None


def check(inputs_dir, oracle_sql, outputs, threads, temp_dir):
    """Returns {row: [(result_dir, problem or None)]}."""
    con = duckdb.connect(config={"threads": threads, "memory_limit": "2GB",
                                 "temp_directory": temp_dir})
    for t in TABLES:
        path = os.path.join(inputs_dir, f"{t}.parquet")
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
    verdicts = {}
    for name, dirs in outputs.items():
        try:
            expected = _normalize(con.execute(oracle_sql[name]).df())
        except Exception as ex:  # an oracle that cannot run fails every result
            verdicts[name] = [(d, f"oracle failed: {type(ex).__name__}: {ex}") for d in dirs]
            continue
        verdicts[name] = []
        for d in dirs:
            files = sorted(glob.glob(os.path.join(d, "*.parquet")))
            if not files:
                verdicts[name].append((d, "no result files"))
                continue
            actual = _normalize(pd.concat([pd.read_parquet(f) for f in files]))
            verdicts[name].append((d, _diff(expected, actual)))
    con.close()
    return verdicts
