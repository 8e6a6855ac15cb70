"""Local replica of the driver's correctness gate: run every
``queries()`` entry on Spark and its ``oracle_sql()`` on DuckDB at a
given sf dir, compare row count, column names, and an order-insensitive
value comparison (columns sorted by name, rows sorted by all columns).

Usage: python tools/check_oracle.py [sf_dir] [query ...]
       python tools/check_oracle.py --json OUT.json [sf_dir] [query ...]

--json additionally writes a per-query snapshot artifact
({name: {match, rows, secs}}) so a round can end with a committed
correctness record timestamped after the last code change.
"""

from __future__ import annotations

import sys
import time

import duckdb
import pandas as pd

sys.path.insert(0, ".")

import __spark_entry__ as entrymod  # noqa: E402
from dedup_spark.session import get_spark  # noqa: E402

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


def norm(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
        elif str(df[c].dtype).startswith(("int", "uint", "Int")):
            df[c] = df[c].astype("int64")
        elif str(df[c].dtype).startswith("float"):
            df[c] = df[c].astype("float64")
        elif str(df[c].dtype) == "bool":
            df[c] = df[c].astype(bool)
    return df.sort_values(list(df.columns)).reset_index(drop=True)


def oracle_connection(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """DuckDB connection with one view per table of ``sf_dir``."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )
    return con


def compare_query(spark, con, sf_dir: str, name: str, fn, oracle: str | None) -> dict:
    """Run query ``fn`` on Spark and its ``oracle`` SQL on DuckDB and
    compare them.

    Returns ``{"match", "rows", "secs", "msg"}``: ``match`` is None for a
    query without an oracle (rows only), ``msg`` the one-line verdict."""
    t0 = time.time()
    try:
        sdf = fn(spark, sf_dir).toPandas()
    except Exception as e:  # noqa: BLE001
        return {"match": False, "err": str(e)[:300],
                "msg": f"FAIL  {name}: spark error: {e}"}
    el = time.time() - t0
    rec = {"rows": len(sdf), "secs": round(el, 1)}
    if oracle is None:
        return {"match": None, **rec,
                "msg": f"ok    {name}: rows-only ({len(sdf)} rows, {el:.1f}s)"}
    s, o = norm(sdf), norm(con.execute(oracle).df())
    if list(s.columns) != list(o.columns):
        msg = f"FAIL  {name}: columns {list(s.columns)} vs {list(o.columns)}"
    elif len(s) != len(o):
        msg = f"FAIL  {name}: rows {len(s)} vs {len(o)}"
    elif not s.equals(o):
        neq = (s != o).any(axis=1)
        msg = (f"FAIL  {name}: {int(neq.sum())}/{len(s)} rows differ\n"
               f"{pd.concat([s[neq].head(3), o[neq].head(3)])}")
    else:
        return {"match": True, **rec,
                "msg": f"ok    {name}: MATCH ({len(s)} rows, {el:.1f}s)"}
    return {"match": False, **rec, "msg": msg}


def main() -> int:
    argv = sys.argv[1:]
    json_out = None
    if argv and argv[0] == "--json":
        json_out = argv[1]
        argv = argv[2:]
    sf_dir = argv[0] if argv else "/root/testdata/sf0.01"
    only = set(argv[1:])
    spark = get_spark("oracle_check", cores=8)
    con = oracle_connection(sf_dir)
    oracles = entrymod.oracle_sql()
    failed = []
    record: dict[str, dict] = {}
    for name, fn in entrymod.queries().items():
        if only and name not in only:
            continue
        rec = compare_query(spark, con, sf_dir, name, fn, oracles.get(name))
        print(rec.pop("msg"))
        if rec["match"] is False:
            failed.append(name)
        record[name] = rec
    print("failed:", failed or "none")
    if json_out:
        import json as _json

        with open(json_out, "w") as f:
            _json.dump(
                {"sf_dir": sf_dir, "checked": len(record),
                 "failed": failed, "queries": record},
                f, indent=1,
            )
    return 1 if failed else 0


if __name__ == "__main__":
    raise SystemExit(main())
