#!/usr/bin/env python
"""Local replica of the driver's correctness gate: run every
__spark_entry__.queries() entry on Spark AND its oracle_sql() on DuckDB
at sf0.01, compare row count, schema (column names sorted), and a
dtype-sensitive value hash (the round-1 failures were int64-vs-float64
materialization differences, so the hash must see dtypes).

Usage: python scripts/check_correctness.py [--sf-dir /root/testdata/sf0.01]
                                           [--only q1,q2]
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

TABLES = ("region nation customer supplier part orders lineitem "
          "events documents embeddings").split()


def canon(df):
    """Canonical pandas frame: columns sorted by name, rows sorted by all
    columns, floats rounded to 6 significant-ish decimals."""
    import numpy as np
    import pandas as pd

    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        # the driver's hash is insensitive to integer/float WIDTH (round-1
        # evidence: spark int32 vs duckdb int64 passed; int64 vs float64
        # failed) — normalize widths, keep the int/float class distinction
        if df[c].dtype.kind == "i":
            df[c] = df[c].astype("int64")
        elif df[c].dtype.kind == "u":
            df[c] = df[c].astype("uint64")
        elif df[c].dtype.kind == "f":
            df[c] = df[c].astype("float64")
        if df[c].dtype == object:
            df[c] = df[c].map(
                lambda v: json.dumps(v, sort_keys=True, default=str)
                if isinstance(v, (list, dict, np.ndarray)) else v)
    if len(df):
        df = df.sort_values(list(df.columns), kind="mergesort")
    return df.reset_index(drop=True)


def value_hash(df):
    import numpy as np

    h = hashlib.sha256()
    for c in df.columns:
        col = df[c]
        h.update(c.encode())
        h.update(str(col.dtype).encode())
        if col.dtype.kind == "f":
            vals = ["%.6g" % v if v == v else "nan" for v in col]
        else:
            vals = [str(v) for v in col]
        h.update("\x1f".join(vals).encode())
    return h.hexdigest()[:16]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    ap.add_argument("--only", default=None)
    args = ap.parse_args()

    import duckdb

    import __spark_entry__ as entry
    from cpg_spark.session import build_session

    spark = build_session()
    print(f"local[{spark.sparkContext.defaultParallelism}]")
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(args.sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")

    qs = entry.queries()
    oracles = entry.oracle_sql()
    only = set(args.only.split(",")) if args.only else None
    results, n_fail = {}, 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        row = {"rows_match": None, "schema_match": None, "hash_match": None,
               "spark_rows": None, "oracle_rows": None, "err": None}
        try:
            sdf = fn(spark, args.sf_dir).toPandas()
            row["spark_rows"] = len(sdf)
            if name in oracles:
                odf = con.execute(oracles[name]).fetchdf()
                row["oracle_rows"] = len(odf)
                s, o = canon(sdf), canon(odf)
                row["rows_match"] = len(s) == len(o)
                row["schema_match"] = list(s.columns) == list(o.columns)
                hs, ho = value_hash(s), value_hash(o)
                row["hash_match"] = hs == ho
                if not row["hash_match"] and row["rows_match"] \
                        and row["schema_match"]:
                    # locate the first differing column for the report
                    for c in s.columns:
                        if str(s[c].dtype) != str(o[c].dtype):
                            row["err"] = (f"dtype {c}: spark={s[c].dtype} "
                                          f"oracle={o[c].dtype}")
                            break
                        if not s[c].equals(o[c]):
                            row["err"] = f"values differ in column {c}"
                            break
            else:
                row["err"] = "no_oracle"
        except Exception as e:  # noqa: BLE001 — report, don't abort the gate
            row["err"] = f"{type(e).__name__}: {e}"[:300]
        ok = (row["hash_match"] is True and row["spark_rows"] > 0) or (
            row["err"] == "no_oracle" and (row["spark_rows"] or 0) > 0)
        if not ok:
            n_fail += 1
        mark = "ok " if ok else "FAIL"
        print(f"{mark} {name:32s} spark={row['spark_rows']} "
              f"oracle={row['oracle_rows']} hash={row['hash_match']} "
              f"({time.time()-t0:.1f}s) {row['err'] or ''}")
        results[name] = row
    out = os.path.join(REPO, "CORRECTNESS_local.json")
    if only and os.path.exists(out):
        # partial run: merge into the existing evidence instead of
        # truncating the other queries' rows
        with open(out) as f:
            merged = json.load(f)
        merged.update(results)
        results = merged
    with open(out, "w") as f:
        json.dump(results, f, indent=1)
    print(f"\n{len(results) - n_fail}/{len(results)} ok -> {out}")
    spark.stop()
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
