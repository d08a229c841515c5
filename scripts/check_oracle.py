"""Driver-compare rehearsal: run every ``queries()`` entry on Spark and
its ``oracle_sql()`` twin on DuckDB, compare row count / schema /
order-insensitive values, print a pass-fail table.

Usage: python scripts/check_oracle.py [sf_dir] [query ...] [--json PATH]

``--json PATH`` also writes the report in the driver's shape,
``{query: {rows_match, schema_match, hash_match, spark_rows,
oracle_rows, err}}``, one entry per query checked.
"""

from __future__ import annotations

import argparse
import json
import sys
import time

sys.path.insert(0, ".")

import duckdb

import __spark_entry__ as entrymod
from pdf_parser_spark.session import get_spark

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def norm_cell(v):
    if isinstance(v, float):
        return repr(v)
    if isinstance(v, bool):
        return f"bool:{v}"
    return repr(v)


def norm_rows(cols, rows):
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(norm_cell(r[i]) for i in idx) for r in rows)


def check(spark, con, sf_dir, fn, sql) -> dict:
    """One query's report entry. ``err`` names what failed; the three
    ``*_match`` fields are all true only on a pass."""
    rec = {
        "rows_match": False,
        "schema_match": False,
        "hash_match": False,
        "spark_rows": None,
        "oracle_rows": None,
        "err": None,
    }
    try:
        sdf = fn(spark, sf_dir)
        scols = sdf.columns
        srows = [tuple(r) for r in sdf.collect()]
        rec["spark_rows"] = len(srows)
    except Exception as e:  # noqa: BLE001
        rec["err"] = f"SPARK ERROR {type(e).__name__}: {str(e)[:300]}"
        return rec
    if sql is None:
        rec["err"] = "no oracle_sql() entry"
        return rec
    try:
        res = con.execute(sql)
        ocols = [d[0] for d in res.description]
        orows = res.fetchall()
        rec["oracle_rows"] = len(orows)
    except Exception as e:  # noqa: BLE001
        rec["err"] = f"DUCKDB ERROR {type(e).__name__}: {str(e)[:300]}"
        return rec
    msgs = []
    rec["schema_match"] = sorted(scols) == sorted(ocols)
    if not rec["schema_match"]:
        msgs.append(f"schema spark={sorted(scols)} oracle={sorted(ocols)}")
    rec["rows_match"] = len(srows) == len(orows)
    if not rec["rows_match"]:
        msgs.append(f"rowcount spark={len(srows)} oracle={len(orows)}")
    if not msgs:
        a = norm_rows(scols, srows)
        b = norm_rows(ocols, orows)
        rec["hash_match"] = a == b
        if a != b:
            diff = [(x, y) for x, y in zip(a, b) if x != y][:3]
            sa, sb = set(a), set(b)
            only_a = list(sa - sb)[:2]
            only_b = list(sb - sa)[:2]
            msgs.append(f"values differ: first_pairdiff={diff} only_spark={only_a} only_oracle={only_b}")
    rec["err"] = " | ".join(msgs) or None
    return rec


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("sf_dir", nargs="?", default="/root/testdata/sf0.001")
    ap.add_argument("queries", nargs="*", help="only these queries (default: all)")
    ap.add_argument("--json", metavar="PATH", help="also write the driver-shaped report here")
    args = ap.parse_args()
    spark = get_spark("oracle-check")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{args.sf_dir}/{t}.parquet'")

    sqls = entrymod.oracle_sql()
    report = {}
    for name, fn in entrymod.queries().items():
        if args.queries and name not in args.queries:
            continue
        t0 = time.time()
        rec = report[name] = check(spark, con, args.sf_dir, fn, sqls.get(name))
        if rec["err"]:
            print(f"FAIL {name}: {rec['err']}")
        else:
            print(f"pass {name}: {rec['spark_rows']} rows ({time.time()-t0:.1f}s)")
    n_fail = sum(1 for rec in report.values() if rec["err"])
    print(f"\n{len(report) - n_fail} pass, {n_fail} fail")
    if args.json:
        with open(args.json, "w") as f:
            json.dump(report, f, indent=2)
            f.write("\n")
        print(f"wrote {args.json}")
    spark.stop()
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main())
