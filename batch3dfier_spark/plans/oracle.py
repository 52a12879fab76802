"""The oracle contract's one comparison: a DuckDB connection over a
test-data scale and a strict Spark-vs-DuckDB frame compare.  Used by
the pytest contract (tests/test_oracle_contract.py) and by
tools/check_oracle.py."""

from __future__ import annotations

import duckdb
import pandas as pd

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def connect(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """An in-memory DuckDB connection with one view per table of
    `sf_dir`."""
    con = duckdb.connect()
    for t in TABLES:
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def compare(got: pd.DataFrame, exp: pd.DataFrame) -> list[str]:
    """Problems between a Spark result and its oracle, [] when equal:
    row count, sorted column names, order-insensitive values (NaN/None
    equal to each other) and dtype."""
    problems = []
    if len(got) != len(exp):
        problems.append(f"rows: spark={len(got)} oracle={len(exp)}")
    gcols, ecols = sorted(got.columns), sorted(exp.columns)
    if gcols != ecols:
        problems.append(f"cols: spark={gcols} oracle={ecols}")
    if problems:
        return problems
    g = got[gcols].sort_values(gcols).reset_index(drop=True)
    e = exp[gcols].sort_values(gcols).reset_index(drop=True)
    for c in gcols:
        gv, ev = g[c], e[c]
        try:
            eq = (gv.values == ev.values) | (gv.isna().values & ev.isna().values)
        except Exception:
            eq = gv.astype(str).values == ev.astype(str).values
        if not eq.all():
            bad = (~eq).nonzero()[0][:3]
            problems.append(
                f"col {c}: {int((~eq).sum())} mismatches, e.g. "
                + "; ".join(f"spark={gv.iloc[i]!r} oracle={ev.iloc[i]!r}" for i in bad)
            )
        if str(gv.dtype) != str(ev.dtype):
            problems.append(f"col {c}: dtype spark={gv.dtype} oracle={ev.dtype}")
    return problems
