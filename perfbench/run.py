"""Extraction benchmark: one workload, one seed, one process.

    python3 perfbench/run.py --workload html_dedup --seed 0 --seconds 10 --trace 0

Generates the workload's input from the seed, starts Spark at
``local[nproc]`` through the package's session factory, and runs
closed-loop passes (one at a time) for ``--seconds``. The outputs of the
warm-up pass and of every measured pass are checked against the
generator's ground truth. The last line of standard output is one JSON
object:

- ``--trace 0``: the end-to-end metrics ``docs_per_s`` (input documents
  over the median pass), ``setup_s`` (the Spark session start, the input
  generation and the warm-up pass) and ``peak_rss_mb`` (whole process
  tree, sampled from /proc while the passes run);
- ``--trace 1``: the per-layer metrics of one traced pass (see
  ``layers.py``); the spans go to ``perfbench/.work/traces/``.

``failed`` / ``attempted`` count documents whose output failed a
ground-truth check; their ratio is printed as ``failed_ratio``. Every run
appends a record with its input digest to ``perfbench/.work/runs.jsonl``
(see ``compare.py``).
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
from typing import List, Optional, Tuple

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")

sys.path.insert(0, ROOT)

# importing the workloads imports the package: a checkout without it
# fails here, before anything is started
from workloads import WORKLOADS, Inputs  # noqa: E402
from tracing import PeakRss, Tracer, tree_rss_kib  # noqa: E402
from pin import canary_digest  # noqa: E402


def cores() -> int:
    return len(os.sched_getaffinity(0))


def pin_environment(run_dir: str) -> None:
    """Spark and Python scratch space inside ``run_dir``, the package on
    the Python workers' path, a fixed 1 GiB driver heap, no UI or
    progress bar, no JVM perf-data files (they go to /tmp), quiet logs."""
    conf, tmp = os.path.join(run_dir, "conf"), os.path.join(run_dir, "tmp")
    os.makedirs(conf, exist_ok=True)
    os.makedirs(tmp, exist_ok=True)
    with open(os.path.join(conf, "spark-defaults.conf"), "w") as f:
        f.write(
            # a fixed, pre-touched heap: under the package's 8 GiB default
            # the JVM's resident size follows the garbage collector's heap
            # sizing, and peak_rss_mb read 3.9-5.9 GB across seeds of one
            # workload
            f'spark.driver.extraJavaOptions -Xms1g -XX:+AlwaysPreTouch -XX:-UsePerfData "-Djava.io.tmpdir={tmp}"\n'
            f"spark.sql.warehouse.dir {os.path.join(run_dir, 'warehouse')}\n"
            "spark.ui.enabled false\n"
            "spark.ui.showConsoleProgress false\n"
        )
    with open(os.path.join(conf, "log4j2.properties"), "w") as f:
        f.write(
            "rootLogger.level = error\n"
            "rootLogger.appenderRef.stderr.ref = console\n"
            "appender.console.type = Console\n"
            "appender.console.name = console\n"
            "appender.console.target = SYSTEM_ERR\n"
            "appender.console.layout.type = PatternLayout\n"
            "appender.console.layout.pattern = %d{HH:mm:ss} %p %c{1}: %m%n\n"
        )
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
    os.environ["SPARK_CONF_DIR"] = conf
    # spark-submit's launcher JVM, which reads no spark-defaults.conf
    launcher = os.environ.get("SPARK_LAUNCHER_OPTS")
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData" + (" " + launcher if launcher else "")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ["SPARK_DRIVER_MEMORY"] = "1g"
    os.environ["TMPDIR"] = tmp


def start_session(n: int):
    from pdf_parser_spark.session import get_spark

    return get_spark("perfbench", master=f"local[{n}]", shuffle_partitions=max(n, 8))


def check_pinned(w) -> str:
    """The canary input must hash to its pinned digest: the generators
    live in the package, so a change there would otherwise change the
    benchmark's inputs unseen."""
    digest = canary_digest(w, os.path.join(WORK, f"canary-{os.getpid()}"))
    with open(os.path.join(HERE, "pinned_inputs.json")) as f:
        want = json.load(f).get(w.name)
    if digest != want:
        raise SystemExit(
            f"{w.name}: canary input digest {digest} != pinned {want}; the input "
            "generators changed, so runs are not comparable with earlier ones "
            "(update perfbench/pinned_inputs.json in a benchmark-only change)"
        )
    return digest


def run(name: str, seed: int, seconds: float, trace: bool, run_dir: str,
        size: Optional[int] = None) -> dict:
    """One benchmark run; returns the result record (see module doc).

    The set-up starts the Spark session, generates the input and makes
    a warm-up pass. Every pass collects its outputs, which are checked
    against ground truth outside the pass's time."""
    from py4j.protocol import Py4JJavaError
    from pyspark.errors import PySparkException

    w, n = WORKLOADS[name], cores()
    pin_environment(run_dir)
    spark = None
    setup_s: Optional[float] = None
    failures: List[str] = []
    metrics: dict = {}
    pass_s: List[float] = []
    inp: Optional[Inputs] = None
    input_dir = os.path.join(run_dir, "input")
    try:
        t0 = time.perf_counter()
        spark = start_session(n)
        inp = w.generate(seed, input_dir, size)
        out = w.run_pass(spark, inp, os.path.join(run_dir, "warmup"), n)
        setup_s = time.perf_counter() - t0
        failures = w.check(inp, out)
        if trace:
            metrics = traced(spark, w, inp, run_dir, n, seed)
        else:
            metrics, pass_s = measured(spark, w, inp, run_dir, n, seconds, failures)
            metrics["setup_s"] = (setup_s, "s")
    except (Py4JJavaError, PySparkException) as e:
        # a failed Spark job loses every row of its pass
        failures = [f"spark job failed: {type(e).__name__}: {str(e)[:300]}"]
        failed = docs = inp.docs if inp else size or w.size
    else:
        docs, failed = inp.docs, min(len(failures), inp.docs)
    finally:
        if spark is not None:
            spark.stop()
    return {
        "workload": name, "seed": seed, "trace": int(trace), "cores": n,
        "docs": docs, "input_digest": inp.digest if inp else None,
        "setup_s": setup_s, "pass_s": pass_s,
        "attempted": docs,
        "failed": failed,
        "failures": failures[:20],
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


def settle(spark) -> None:
    """Start a pass from an empty cache and collected heaps, so earlier
    passes' garbage is not collected inside it."""
    spark.catalog.clearCache()
    gc.collect()
    spark.sparkContext._jvm.System.gc()


def measured(spark, w, inp: Inputs, run_dir: str, n: int, seconds: float,
             failures: List[str]) -> Tuple[dict, List[float]]:
    """Closed loop: one pass at a time until ``seconds`` have passed.
    Adds each pass's ground-truth failures, not yet listed, to
    ``failures``."""
    passes: List[float] = []
    with PeakRss() as mem:
        t_start = time.perf_counter()
        while not passes or time.perf_counter() - t_start < seconds:
            settle(spark)
            passdir = os.path.join(run_dir, f"pass-{len(passes)}")
            t = time.perf_counter()
            out = w.run_pass(spark, inp, passdir, n)
            passes.append(time.perf_counter() - t)
            failures += [f for f in w.check(inp, out) if f not in failures]
            shutil.rmtree(passdir, ignore_errors=True)
    return {
        "docs_per_s": (inp.docs / statistics.median(passes), "docs/s"),
        "peak_rss_mb": (mem.peak_mb, "MB"),
    }, passes


def traced(spark, w, inp: Inputs, run_dir: str, n: int, seed: int) -> dict:
    """An untraced pass, then the traced pass. ``trace.overhead_s`` is
    their wall-time difference: mostly the traced pass's extra work (it
    runs extraction three times and materializes every layer's input),
    not the cost of recording spans."""
    from layers import PER_LAYER, stage_stats, traced_pass

    settle(spark)
    group = f"untraced-{seed}"
    spark.sparkContext.setJobGroup(group, "untraced reference pass")
    t = time.perf_counter()
    w.run_pass(spark, inp, os.path.join(run_dir, "untraced"), n)
    untraced_s = time.perf_counter() - t
    spark.sparkContext.setJobGroup("traced", "traced pass")
    stats = stage_stats(spark, group)
    settle(spark)
    T = Tracer()
    m = traced_pass(spark, w, inp, os.path.join(run_dir, "traced"), n, T)
    m.update(stats)
    m["trace.overhead_s"] = T.duration("pass") - untraced_s
    m["trace.spans"] = len(T.spans)
    T.dump(
        os.path.join(WORK, "traces", f"{w.name}-seed{seed}.json"),
        {"workload": w.name, "seed": seed, "input_digest": inp.digest,
         "untraced_pass_s": untraced_s},
    )
    return {name: (m.get(name, 0), unit) for name, unit, _ in PER_LAYER}


def stop_processes() -> None:
    """End the JVM that PySpark launched (it exits when its stdin
    closes) and wait until it and every other process this one started,
    Python workers included, has ended."""
    from pyspark import SparkContext

    started = set(tree_rss_kib(os.getpid())) - {os.getpid()}
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()
        try:
            gateway.proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            gateway.proc.kill()
            gateway.proc.wait()
        SparkContext._gateway = SparkContext._jvm = None
    deadline = time.monotonic() + 60
    while time.monotonic() < deadline and any(_alive(pid) for pid in started):
        time.sleep(0.1)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def main(argv: Optional[List[str]] = None) -> int:
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    os.makedirs(WORK, exist_ok=True)
    pinned = check_pinned(WORKLOADS[args.workload])
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    try:
        rec = run(args.workload, args.seed, args.seconds, bool(args.trace), run_dir)
    finally:
        stop_processes()
        shutil.rmtree(run_dir, ignore_errors=True)
    rec["pinned_digest"] = pinned
    with open(os.path.join(WORK, "runs.jsonl"), "a") as f:
        f.write(json.dumps(rec) + "\n")

    ratio = rec["failed"] / rec["attempted"]
    print(f"workload={rec['workload']} seed={rec['seed']} docs={rec['docs']} "
          f"cores={rec['cores']} input_digest={rec['input_digest']}")
    for line in rec["failures"]:
        print(f"FAILED {line}")
    shown = [f"failed_ratio {ratio:.6f}"] + [
        f"{k} {v['value']:.6g} {v['unit']}" for k, v in rec["metrics"].items()
    ]
    print(" | ".join(shown))
    print(json.dumps({
        "correct": rec["failed"] == 0,
        "attempted": rec["attempted"],
        "failed": rec["failed"],
        "metrics": rec["metrics"],
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
