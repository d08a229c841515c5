"""Driver-contract rehearsal: entry() smoke + a fast subset of the
queries()/oracle_sql() DuckDB comparison at sf0.001 (the full sweep is
scripts/check_oracle.py; this keeps the gate logic under pytest)."""

from __future__ import annotations

import ast
import importlib.util
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


def _public_names(tree) -> set:
    """The public top-level defs, classes and assignment targets."""
    names = set()
    for node in tree.body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            names.add(node.name)
        elif isinstance(node, (ast.Assign, ast.AnnAssign)):
            targets = node.targets if isinstance(node, ast.Assign) else [node.target]
            names.update(n.id for t in targets for n in ast.walk(t) if isinstance(n, ast.Name))
    return {n for n in names if not n.startswith("_")}


def _references(tree, module: str, is_pkg: bool, modules: set):
    """What one file reaches: the dotted module names it imports
    (parents included), the ``(module, name)`` pairs it reads and the
    names it re-exports. Relative imports resolve against ``module``;
    ``modules`` are the package's own module names.

    A file reads ``M.name`` by ``from M import name`` or through an
    attribute chain on a bound module (``M.name``, ``alias.name``,
    ``a.b.name``); a module also reads its own names wherever they load
    outside their own top-level def or class. In an ``__init__.py``,
    ``from .m import name`` re-exports rather than reads: it maps
    ``(module, name)`` to ``(m, name)``, so a read through the package
    reaches the defining module."""
    package = module if is_pkg else module.rpartition(".")[0]
    imported, reads, reexports, bound = set(), set(), {}, {}
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            names = [a.name for a in node.names]
            for a in node.names:
                local = a.asname or a.name.split(".")[0]
                bound[local] = a.name if a.asname else local
        elif isinstance(node, ast.ImportFrom):
            base = importlib.util.resolve_name("." * node.level + (node.module or ""), package)
            names = [base] + [f"{base}.{a.name}" for a in node.names]
            for a in node.names:
                if f"{base}.{a.name}" in modules:
                    bound[a.asname or a.name] = f"{base}.{a.name}"
                elif is_pkg:
                    reexports[(module, a.name)] = (base, a.name)
                else:
                    reads.add((base, a.name))
        else:
            continue
        for name in names:
            parts = name.split(".")
            imported.update(".".join(parts[: i + 1]) for i in range(len(parts)))
    own = _public_names(tree)

    def visit(node, owner):
        if isinstance(node, ast.Attribute):
            chain, base = [], node
            while isinstance(base, ast.Attribute):
                chain.insert(0, base.attr)
                base = base.value
            if isinstance(base, ast.Name) and base.id in bound:
                parts = bound[base.id].split(".") + chain
                for i in range(len(parts) - 1, 0, -1):
                    if ".".join(parts[:i]) in modules:
                        reads.add((".".join(parts[:i]), parts[i]))
                        break
        elif isinstance(node, ast.Name) and isinstance(node.ctx, ast.Load):
            if node.id in own and node.id != owner:
                reads.add((module, node.id))
        for child in ast.iter_child_nodes(node):
            visit(child, owner)

    for top in tree.body:
        visit(top, getattr(top, "name", None))
    return imported, reads, reexports


# Public names no package code, entrypoint, workload or script reads,
# each kept for the reason given.
READER_EXEMPT = {
    "pdf_parser_spark.pricing.load_ladder_tables": (
        "SURVEY S4: the driver-side scan of the reference's Excel ladder "
        "workbook, checked against that workbook in test_xlsx_source.py"
    ),
    "pdf_parser_spark.pricing.ladder_dim_from_table": (
        "SURVEY S4: broadcasts a scanned ladder table as a Spark dim, "
        "checked in test_xlsx_source.py"
    ),
    "pdf_parser_spark.synth.pages.write_pages_parquet": (
        "the fixture writer of the test-data generator: writes a seeded "
        "pages table to parquet for the job and audit tests"
    ),
}


def test_every_package_name_has_a_reader():
    """A package module nothing imports, or a public name nothing reads,
    is a second path no query, workload or script reaches. Every
    ``pdf_parser_spark`` module but the ``job`` entrypoint must be
    imported, and every public top-level def, class or assignment must
    be read, by its own module, another package module,
    ``__spark_entry__.py``, ``perfbench/`` or ``scripts/``. A re-export
    in an ``__init__.py`` is not a read. READER_EXEMPT holds the names
    kept without a reader, each with its reason."""
    from pathlib import Path

    root = Path(__file__).resolve().parents[1]

    def dotted(path):
        parts = path.relative_to(root).with_suffix("").parts
        return ".".join(parts[:-1] if parts[-1] == "__init__" else parts)

    modules = {dotted(p): p for p in (root / "pdf_parser_spark").rglob("*.py")}
    readers = dict(modules, __spark_entry__=root / "__spark_entry__.py")
    readers.update({dotted(p): p for d in ("perfbench", "scripts") for p in (root / d).glob("*.py")})
    trees = {name: ast.parse(path.read_text(encoding="utf-8"), str(path)) for name, path in readers.items()}
    imported, reads, reexports = set(), set(), {}
    for name, path in readers.items():
        i, r, x = _references(trees[name], name, path.name == "__init__.py", set(modules))
        imported |= i - {name}
        reads |= r
        reexports.update(x)
    orphans = sorted(set(modules) - imported - {"pdf_parser_spark", "pdf_parser_spark.job"})
    assert not orphans, f"package modules without an importer: {orphans}"

    def defining(key):
        while key in reexports:
            key = reexports[key]
        return key

    reached = {".".join(defining(key)) for key in reads}
    public = {f"{m}.{n}" for m in modules for n in _public_names(trees[m])}
    unread = public - reached
    missing = sorted(unread - set(READER_EXEMPT))
    assert not missing, f"package names without a reader: {missing}"
    stale = sorted(set(READER_EXEMPT) - unread)
    assert not stale, f"exempt names that are gone or now have a reader: {stale}"


def test_every_map_in_pandas_stage_goes_through_map_documents():
    """One per-document stage: ``extract.map_documents`` holds the only
    ``mapInPandas`` call and the only ``for … in batches`` loop of the
    package and ``__spark_entry__.py``; every stage, production or
    fixture, passes it a per-row function."""
    from pathlib import Path

    root = Path(__file__).resolve().parents[1]
    loops, calls = [], []
    for path in [root / "__spark_entry__.py", *sorted((root / "pdf_parser_spark").rglob("*.py"))]:
        where = str(path.relative_to(root))
        for node in ast.walk(ast.parse(path.read_text(encoding="utf-8"), where)):
            if isinstance(node, (ast.For, ast.comprehension)) and isinstance(node.iter, ast.Name) \
                    and node.iter.id == "batches":
                loops.append(f"{where}:{node.iter.lineno}")
            if isinstance(node, ast.Attribute) and node.attr == "mapInPandas":
                calls.append(f"{where}:{node.lineno}")
    assert len(loops) == 1 and loops[0].startswith("pdf_parser_spark/extract.py:"), loops
    assert len(calls) == 1 and calls[0].startswith("pdf_parser_spark/extract.py:"), calls


def test_fixture_stage_fails_the_run(spark, tmp_path):
    """The fixture form of map_documents catches nothing: an oracle
    fixture whose input breaks its invariant (``_oracle_bytes``: empty
    text) fails the collect instead of becoming a row."""
    from pdf_parser_spark.queries_data import q_png_roundtrip

    spark.createDataFrame([(1, "abc"), (2, "")], "doc_id long, text string").write.parquet(
        str(tmp_path / "documents.parquet")
    )
    with pytest.raises(Exception, match="empty text unsupported by roundtrip oracle"):
        q_png_roundtrip(spark, str(tmp_path)).collect()
