"""Local replica of the driver's correctness gate: run every
driver_queries entry on Spark AND its DuckDB oracle, compare row count,
column names, and order-insensitive values.

Prints one ``md5 <key> <digest>`` line per key: the md5 of the key's
normalized Spark rows, so two checkouts give identical output exactly
when ``grep ^md5`` of their runs do not ``diff``.

Usage: python tools/check_contract.py [sf_dir] [query ...]
"""

from __future__ import annotations

import hashlib
import os
import sys
import traceback
from pathlib import Path

import duckdb

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def norm_cell(v):
    import datetime
    import math

    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return f"{v:.9g}"
    if isinstance(v, datetime.datetime):
        return v.isoformat()
    if isinstance(v, list):
        return "[" + ",".join(norm_cell(x) for x in v) + "]"
    return str(v)


def normalize(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        vals = list(r)
        out.append(tuple(norm_cell(vals[i]) for i in order))
    return sorted(out)


def rows_md5(rows) -> str:
    return hashlib.md5(repr(rows).encode("utf-8")).hexdigest()


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    if not os.path.isdir(sf_dir):
        sys.exit(__doc__.strip() + f"\n\nnot a directory: {sf_dir}")
    only = set(sys.argv[2:])

    from pdf_parser_spark import driver_queries as dq
    from pdf_parser_spark.session import get_spark

    # no console progress bars: they would split the md5 lines
    spark = get_spark(
        master="local[8]",
        shuffle_partitions=8,
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )

    n_pass = n_fail = 0
    for name, (fn, sql) in dq.QUERIES.items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, sf_dir)
            s_cols = [c.lower() for c in sdf.columns]
            s_rows = [tuple(r) for r in sdf.collect()]
            ns = normalize(s_rows, s_cols)
            print(f"md5 {name} {rows_md5(ns)}")
            if sql is None:
                print(f"  {name}: rows-only ({len(s_rows)} rows) OK")
                n_pass += 1
                continue
            res = con.execute(sql)
            d_cols = [c[0].lower() for c in res.description]
            d_rows = res.fetchall()
            ok = True
            if sorted(s_cols) != sorted(d_cols):
                print(f"FAIL {name}: cols spark={s_cols} duck={d_cols}")
                ok = False
            elif len(s_rows) != len(d_rows):
                print(
                    f"FAIL {name}: rowcount spark={len(s_rows)} "
                    f"duck={len(d_rows)}"
                )
                ok = False
            else:
                nd = normalize(d_rows, d_cols)
                if ns != nd:
                    diffs = [
                        (a, b) for a, b in zip(ns, nd) if a != b
                    ][:3]
                    print(f"FAIL {name}: value mismatch, e.g. {diffs}")
                    ok = False
            if ok:
                print(f"  {name}: OK ({len(s_rows)} rows)")
                n_pass += 1
            else:
                n_fail += 1
        except Exception as e:
            print(f"ERROR {name}: {e}")
            traceback.print_exc(limit=3)
            n_fail += 1
    print(f"\n{n_pass} pass, {n_fail} fail")
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
