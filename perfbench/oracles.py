"""DuckDB oracles for the inventory, and the comparison with the engine.

The inventory's tables are fixed for a checkout, so each oracle statement
(static and data-dependent, as the harness writes them) runs once in DuckDB
over the same parquet tables and its rows are kept. Every run then compares
the engine's rows, written to `<out>/<name>/*.parquet`, with those: equal
after sorting by every column, or the query counts as failed.
"""
import json
import os

import duckdb
import pandas as pd

TABLES = ["orders", "lineitem", "events", "documents", "embeddings",
          "customer", "nation", "region", "part", "supplier"]


def _canonical(df):
    cols = sorted(df.columns)
    df = df[cols]
    return df.sort_values(by=cols, kind="mergesort").reset_index(drop=True)


def _connect(sf_dir, threads):
    con = duckdb.connect()
    con.execute(f"SET threads TO {threads}")
    con.execute("SET enable_progress_bar = false")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def expected_rows(sf_dir, oracle_json, out_dir, threads):
    """Run every oracle statement once; keep its rows as a pickled frame."""
    with open(oracle_json) as f:
        oracles = json.load(f)
    os.makedirs(out_dir, exist_ok=True)
    con = _connect(sf_dir, threads)
    for name, sql in sorted(oracles.items()):
        con.sql(sql).df().to_pickle(os.path.join(out_dir, f"{name}.pkl"))
    con.close()


def compare_expected(out_dir, expected_dir, sabotage=False):
    """Return {query name: None if the engine's rows equal the oracle's,
    else a one-line reason}. With `sabotage`, the first oracle's rows lose
    one row, so a correct engine must fail that query."""
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    con.execute("SET enable_progress_bar = false")
    verdicts = {}
    pickles = sorted(f for f in os.listdir(expected_dir) if f.endswith(".pkl"))
    for i, pkl in enumerate(pickles):
        name = pkl[:-4]
        got_dir = os.path.join(out_dir, name)
        try:
            want = pd.read_pickle(os.path.join(expected_dir, pkl))
            if sabotage and i == 0:
                want = want.iloc[1:] if len(want) else want
            if not os.path.isdir(got_dir):
                raise AssertionError("engine wrote no output")
            want = _canonical(want)
            got = _canonical(con.sql(f"SELECT * FROM '{got_dir}/*.parquet'").df())
            if list(want.columns) != list(got.columns):
                raise AssertionError(f"columns {list(got.columns)} != {list(want.columns)}")
            if len(want) != len(got):
                raise AssertionError(f"{len(got)} rows != {len(want)}")
            if not want.equals(got):
                raise AssertionError("values differ")
            verdicts[name] = None
        except Exception as e:  # every mismatch is a failure
            first = str(e).splitlines()[0][:160] if str(e) else ""
            verdicts[name] = f"{type(e).__name__}: {first}"
    con.close()
    return verdicts
