"""Driver-contract rehearsal: entry() smoke + a fast subset of the
queries()/oracle_sql() DuckDB comparison at sf0.001 (the full sweep is
scripts/check_oracle.py; this keeps the gate logic under pytest)."""

from __future__ import annotations

import os
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod

SF_DIR = "/root/testdata/sf0.001"
TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()

# cheap-but-representative slice of the full registry (one per family)
SUBSET = [
    "whitetext_record",
    "field_formatters",
    "ladder_range_join",
    "bonus_interval_join",
    "macrs_lookup_join",
    "lineitem_agg",
    "window_cumsum",
    "year_grid",
    "dedup_exact",
    "token_counts",
    "multimodal_meta",
]

pytestmark = pytest.mark.skipif(
    not os.path.isdir(SF_DIR), reason="driver testdata not present"
)


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    return con


def _norm(cols, rows):
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(repr(r[i]) for i in idx) for r in rows)


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    # north-star gate: byte-identical extracted text on every parsed doc
    parsed = [r for r in rows if r["doc_type"] == "pdf" and r["n_pages"] > 0]
    assert parsed, "no parsed documents"
    bad = [r["url"] for r in parsed if not r["text_byte_identical"]]
    assert not bad, f"non-identical extractions: {bad[:5]}"


def test_registry_shape():
    qs = entrymod.queries()
    sqls = entrymod.oracle_sql()
    assert len(qs) >= 30
    # every oracle key must have a query
    assert set(sqls) <= set(qs)
    # approximate ANN ops are the only rows-only entries
    assert set(qs) - set(sqls) == set()  # every query is oracle-checked


@pytest.mark.parametrize("name", SUBSET)
def test_query_matches_oracle(spark, duck, name):
    fn = entrymod.queries()[name]
    sql = entrymod.oracle_sql()[name]
    sdf = fn(spark, SF_DIR)
    srows = [tuple(r) for r in sdf.collect()]
    res = duck.execute(sql)
    ocols = [d[0] for d in res.description]
    orows = res.fetchall()
    assert sorted(sdf.columns) == sorted(ocols)
    assert len(srows) == len(orows)
    assert _norm(sdf.columns, srows) == _norm(ocols, orows)


def _imported_modules(path, module: str, is_pkg: bool) -> set:
    """Every dotted module name the file imports (parents included),
    relative imports resolved against ``module``."""
    import ast
    import importlib.util

    with open(path, encoding="utf-8") as fh:
        tree = ast.parse(fh.read(), path)
    package = module if is_pkg else module.rpartition(".")[0]
    out = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            names = [a.name for a in node.names]
        elif isinstance(node, ast.ImportFrom):
            base = importlib.util.resolve_name("." * node.level + (node.module or ""), package)
            names = [base] + [f"{base}.{a.name}" for a in node.names]
        else:
            continue
        for name in names:
            parts = name.split(".")
            out.update(".".join(parts[: i + 1]) for i in range(len(parts)))
    return out


def test_every_package_module_has_an_importer():
    """A package module nothing imports is a second path no query,
    workload or script reaches. Every ``pdf_parser_spark`` module but
    the ``job`` entrypoint must be imported by another package module,
    ``__spark_entry__.py``, ``perfbench/`` or ``scripts/``."""
    from pathlib import Path

    root = Path(__file__).resolve().parents[1]

    def dotted(path):
        parts = path.relative_to(root).with_suffix("").parts
        return ".".join(parts[:-1] if parts[-1] == "__init__" else parts)

    modules = {dotted(p): p for p in (root / "pdf_parser_spark").rglob("*.py")}
    importers = dict(modules, __spark_entry__=root / "__spark_entry__.py")
    importers.update({dotted(p): p for d in ("perfbench", "scripts") for p in (root / d).glob("*.py")})
    imported = set()
    for name, path in importers.items():
        imported |= _imported_modules(path, name, path.name == "__init__.py") - {name}
    orphans = sorted(set(modules) - imported - {"pdf_parser_spark", "pdf_parser_spark.job"})
    assert not orphans, f"package modules without an importer: {orphans}"
