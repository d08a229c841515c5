import importlib.util
import os
import sys
import types

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# The reference snapshot (PAPER.md) whose Python engines and workbook the
# parity tests run as oracles. It is a read-only mount outside the repo:
# where it is absent, the tests that need it skip and name the missing
# path, and every other test still runs.
REFERENCE = "/root/reference"

_reference_modules = {}


def reference_path(rel):
    """The path of ``rel`` under REFERENCE; skips the calling test when
    that path is absent."""
    path = os.path.join(REFERENCE, rel)
    if not os.path.exists(path):
        pytest.skip(f"reference snapshot path absent: {path}")
    return path


def load_reference(rel, name, stubs=()):
    """Execute the reference module REFERENCE/rel as ``name``, once per
    session.

    ``stubs`` are modules standing in for packages the reference imports
    but this environment lacks; each is in ``sys.modules`` only while the
    module executes. A dotted ``name`` makes the module a member of a
    package rooted at its own directory, so its relative imports resolve;
    that package is transient too."""
    if name in _reference_modules:
        return _reference_modules[name]
    path = reference_path(rel)
    transient = list(stubs)
    if "." in name:
        pkg = types.ModuleType(name.rpartition(".")[0])
        pkg.__path__ = [os.path.dirname(path)]
        transient.append(pkg)
    saved = {m.__name__: sys.modules.get(m.__name__) for m in transient}
    sys.modules.update({m.__name__: m for m in transient})
    try:
        spec = importlib.util.spec_from_file_location(name, path)
        mod = importlib.util.module_from_spec(spec)
        sys.modules[name] = mod
        spec.loader.exec_module(mod)
    finally:
        for n, prev in saved.items():
            if prev is None:
                sys.modules.pop(n, None)
            else:
                sys.modules[n] = prev
    _reference_modules[name] = mod
    return mod


def reference_engine():
    """engine/quote_calc.py. It imports openpyxl for its workbook
    constructor, which no test takes (it binds ``load_workbook`` at import
    and never looks it up again), so a stub stands in for the package."""
    openpyxl = types.ModuleType("openpyxl")
    openpyxl.load_workbook = None
    return load_reference("engine/quote_calc.py", "ref_engine_quote", stubs=[openpyxl])


@pytest.fixture(scope="session")
def spark():
    from pdf_parser_spark.session import get_spark

    s = get_spark("pdf-parser-spark-tests", master="local[4]", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def pages_parquet(tmp_path_factory):
    """A 240-row synthesized pages table (all variants incl. corrupt)."""
    from pdf_parser_spark.synth.pages import write_pages_parquet

    path = str(tmp_path_factory.mktemp("pages") / "pages.parquet")
    write_pages_parquet(path, 240)
    return path


def _jobs_of(spark, fn):
    """(fn(), number of Spark jobs fn ran) via a fresh job group."""
    import uuid

    sc = spark.sparkContext
    group = f"jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))
