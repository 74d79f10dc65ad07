"""Compare query results against DuckDB running each query's oracle SQL.

The rules are the suite's own (tools/check_oracle.py): same column names,
same row count, same dtypes, and equal values once columns are sorted by
name and rows by every column.
"""
import json
from pathlib import Path

import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)]
    return df.sort_values(by=list(df.columns), ignore_index=True)


def compare(data_dir: Path, results_dir: Path, oracle_file: Path) -> dict:
    """Query name -> None if its result matches the oracle, else the reason.
    `oracle_file` holds each query's oracle SQL as a JSON object."""
    oracle = json.loads(oracle_file.read_text())
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{data_dir / (t + '.parquet')}')")
    out = {}
    for qdir in sorted(p for p in results_dir.iterdir() if p.is_dir()):
        name = qdir.name
        if name not in oracle:
            out[name] = "no oracle SQL"
            continue
        got = duckdb.connect().execute(
            f"SELECT * FROM read_parquet('{qdir}/*.parquet')").df()
        try:
            want = con.execute(oracle[name]).df()
        except Exception as e:  # noqa: BLE001
            out[name] = f"oracle SQL error: {e}"
            continue
        g, w = _normalize(got), _normalize(want)
        if list(g.columns) != list(w.columns):
            out[name] = f"columns {list(g.columns)} != {list(w.columns)}"
        elif len(g) != len(w):
            out[name] = f"rows {len(g)} != {len(w)}"
        elif [str(t) for t in g.dtypes] != [str(t) for t in w.dtypes]:
            out[name] = f"dtypes {list(g.dtypes)} != {list(w.dtypes)}"
        else:
            try:
                pd.testing.assert_frame_equal(g, w, check_dtype=False,
                                              check_exact=True)
                out[name] = None
            except AssertionError as e:
                out[name] = "values differ: " + str(e).splitlines()[-1]
    return out
