"""Smoke tests of the benchmark itself, at tiny input sizes.

    python3 -m pytest perfbench -q

Each workload must pass its ground-truth check on the current code,
and a tampered golden value, a missing committed bucket or a split
planted family must count as failures.
"""

from __future__ import annotations

import json
import os
import shutil
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import run  # noqa: E402
from layers import PER_LAYER, traced_pass  # noqa: E402
from tracing import Tracer  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

TINY = {"crawl_mix": 40, "html_dedup": 30, "audited_quotes": 24}


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    run.pin_environment(str(tmp_path_factory.mktemp("spark")))
    s = run.start_session(run.cores())
    yield s
    s.stop()


@pytest.fixture(scope="module")
def inputs(tmp_path_factory):
    root = tmp_path_factory.mktemp("inputs")
    return {name: w.generate(0, str(root / name), TINY[name]) for name, w in WORKLOADS.items()}


@pytest.mark.parametrize("seed", [-1, 2**64 + 3])
@pytest.mark.parametrize("name", sorted(WORKLOADS))
def test_any_integer_seed_generates(tmp_path, name, seed):
    inp = WORKLOADS[name].generate(seed, str(tmp_path), TINY[name])
    assert inp.docs == len(inp.truth) == TINY[name]


@pytest.mark.parametrize("name", sorted(WORKLOADS))
def test_workload_matches_ground_truth(spark, inputs, tmp_path, name):
    w, inp = WORKLOADS[name], inputs[name]
    assert w.check(inp, w.run_pass(spark, inp, str(tmp_path), run.cores())) == []


@pytest.mark.parametrize("name", sorted(WORKLOADS))
def test_tampered_golden_value_fails(spark, inputs, tmp_path, name):
    w, inp = WORKLOADS[name], inputs[name]
    out = w.run_pass(spark, inp, str(tmp_path), run.cores())
    url = next(u for u, t in inp.truth.items() if t["text"])
    inp.truth[url] = {**inp.truth[url], "text": inp.truth[url]["text"] + "x"}
    try:
        assert any(url in f for f in w.check(inp, out))
    finally:
        inp.truth[url] = {**inp.truth[url], "text": inp.truth[url]["text"][:-1]}


def test_missing_bucket_fails(spark, inputs, tmp_path):
    w, inp = WORKLOADS["audited_quotes"], inputs["audited_quotes"]
    commits = w.commit(spark, inp, str(tmp_path))
    extracted = tmp_path / "extracted"
    bucket = sorted(p for p in os.listdir(extracted) if p.startswith("bucket="))[0]
    shutil.rmtree(extracted / bucket)
    failures = w.check(inp, w.run_pass(spark, inp, str(tmp_path), run.cores(), commits=commits))
    assert failures and all("committed text missing" in f for f in failures)


def test_planted_families_are_counted(spark, inputs, tmp_path):
    w, inp = WORKLOADS["html_dedup"], inputs["html_dedup"]
    out = w.run_pass(spark, inp, str(tmp_path), run.cores())
    # split a non-canonical member off into a cluster of its own
    member = next(u for u, (_, keep) in out["cluster"].items() if not keep)
    out["cluster"][member] = (member, True)
    failures = w.check(inp, out)
    assert any("not in its source's cluster" in f for f in failures)
    assert any("planted families" in f for f in failures)


@pytest.mark.parametrize("name", sorted(WORKLOADS))
def test_traced_pass_reports_every_layer(spark, inputs, tmp_path, name):
    w, inp = WORKLOADS[name], inputs[name]
    T = Tracer()
    m = traced_pass(spark, w, inp, str(tmp_path), run.cores(), T)
    spark.catalog.clearCache()
    assert {s["name"] for s in T.spans} >= {"pass", "extract.stage", "extract.parse_only"}
    assert all(s["end"] >= s["start"] for s in T.spans)
    # layers the workload bypasses are left out here and read 0 in a run
    assert set(m) <= {n for n, _, _ in PER_LAYER}
    assert m["extract.rows_out"] == inp.docs
    assert m["extract.parse_only_s"] > 0 and m["spark.partition_skew"] >= 1


def test_self_time_excludes_children():
    T = Tracer()
    with T.span("parent"):
        with T.span("child"):
            pass
    parent, child = T.spans
    selfs = T.self_times()
    assert selfs[child["id"]] == pytest.approx(child["end"] - child["start"])
    assert selfs[parent["id"]] == pytest.approx(
        (parent["end"] - parent["start"]) - (child["end"] - child["start"])
    )


def test_benchmark_json_matches_the_code():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [(m["name"], m["unit"], m["better"]) for m in spec["per_layer"]] == PER_LAYER
    assert {w["name"] for w in spec["workloads"]} <= set(WORKLOADS)
    assert {m["name"] for m in spec["end_to_end"]} == {"docs_per_s", "setup_s", "peak_rss_mb"}


def test_run_reports_end_to_end_metrics(spark, tmp_path):
    """The whole run (set-up, measured passes) at a tiny size.
    Runs last: it stops and restarts the module's session."""
    rec = run.run("crawl_mix", 0, 0.0, False, str(tmp_path), size=TINY["crawl_mix"])
    assert rec["failed"] == 0 and rec["attempted"] == TINY["crawl_mix"]
    assert set(rec["metrics"]) == {"docs_per_s", "setup_s", "peak_rss_mb"}
    assert all(v["value"] > 0 for v in rec["metrics"].values())
