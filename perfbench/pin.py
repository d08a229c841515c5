"""Rewrite ``pinned_inputs.json``: the digest of each workload's canary input.

    python3 perfbench/pin.py

The canary is seed 0 at the workload's ``canary`` size: the generators
are index-keyed, so it is the first documents of seed 0's full input.
Every run checks it before anything else; each run also records its own
input's digest, which ``compare.py`` matches per seed.

Run it only in a change that alters the benchmark's inputs on purpose;
runs made before and after such a change are not comparable.
"""

from __future__ import annotations

import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

from workloads import WORKLOADS  # noqa: E402


def canary_digest(w, scratch: str) -> str:
    try:
        return w.generate(0, scratch, w.canary).digest
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


def main() -> int:
    scratch = os.path.join(HERE, ".work", f"pin-{os.getpid()}")
    pins = {name: canary_digest(w, os.path.join(scratch, name)) for name, w in WORKLOADS.items()}
    with open(os.path.join(HERE, "pinned_inputs.json"), "w") as f:
        json.dump(pins, f, indent=2)
        f.write("\n")
    print(json.dumps(pins))
    return 0


if __name__ == "__main__":
    sys.exit(main())
