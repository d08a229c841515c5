"""spark-submit entrypoint (north rule: ``spark-submit --py-files``).

Package and launch:

    python scripts/make_pyfiles.py               # → dist/pdf_parser_spark.zip
    spark-submit --py-files dist/pdf_parser_spark.zip \\
        pdf_parser_spark/job.py \\
        --input  s3://.../pages/         # Iceberg table or parquet dir \\
        --output s3://.../extracted/ \\
        --run-id nightly-2026-08-16 \\
        --buckets 4096                   # commit granularity \\
        --mode first_valid               # or: legacy

The session comes from ``session.get_spark``. On a real cluster the
master and shuffle partitions come from spark-submit conf; ``get_spark``
only *adds* app-level conf (AQE, Arrow batch size, LAST_WIN).
``--local N`` runs on ``local[N]`` with N shuffle partitions instead.
``--bench`` prints a one-line docs/sec JSON after the run.
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--input", required=True, help="pages table path (parquet/Iceberg)")
    p.add_argument("--output", required=True, help="output root (extracted/ + audit/)")
    p.add_argument("--run-id", default="run")
    p.add_argument("--mode", default="first_valid", choices=["first_valid", "legacy"])
    p.add_argument("--buckets", type=int, default=64, help="commit granularity")
    p.add_argument("--local", type=int, default=None, help="local[N] master (bench/dev)")
    p.add_argument(
        "--decrypt-password",
        default="",
        help="password for standard-security-handler PDFs (tried as user, "
        "then owner; round-5). Implies nothing without --decrypt.",
    )
    p.add_argument(
        "--decrypt",
        action="store_true",
        help="open standard-security-handler PDFs (RC4/AESV2/AESV3, empty "
        "or --decrypt-password) instead of emitting typed 'encrypted' rows",
    )
    p.add_argument("--bench", action="store_true", help="print docs/sec JSON line")
    args = p.parse_args(argv)

    from pdf_parser_spark.audit import run_extraction_with_audit
    from pdf_parser_spark.session import get_spark

    spark = get_spark(
        "pdf-parser-spark-job",
        master=f"local[{args.local}]" if args.local else None,
        shuffle_partitions=args.local,
    )

    t0 = time.time()
    pages = spark.read.parquet(args.input)
    result = run_extraction_with_audit(
        spark,
        pages,
        out_dir=args.output,
        run_id=args.run_id,
        n_buckets=args.buckets,
        mode=args.mode,
        decrypt=args.decrypt,
        password=args.decrypt_password.encode("utf-8"),
    )
    docs = result["metrics"]["docs"]
    wall = time.time() - t0
    if args.bench:
        print(
            json.dumps(
                {
                    "metric": "extraction_docs_per_sec",
                    "value": round(docs / wall, 1) if wall else 0.0,
                    "unit": "docs/sec",
                    "wall_sec": round(wall, 2),
                    "docs": docs,
                    "result": {k: v for k, v in result.items() if k != "metrics"},
                }
            )
        )
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
