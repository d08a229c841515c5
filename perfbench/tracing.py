"""Spans recorded around calls into the package's layers, plus a
process-tree memory sampler.

Spans live in memory and are written out once, when the run ends. A
span's self time is its duration minus the part of it that its child
spans cover.
"""

from __future__ import annotations

import json
import os
import threading
import time
from contextlib import contextmanager
from typing import Dict, Iterator, List, Optional


class Tracer:
    def __init__(self) -> None:
        self.spans: List[dict] = []
        self._open: List[int] = []
        self.pass_id = 0

    @contextmanager
    def span(self, name: str) -> Iterator[dict]:
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._open[-1] if self._open else None,
            "pass": self.pass_id,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._open.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._open.pop()

    def duration(self, name: str) -> float:
        """Summed duration of the closed spans called ``name``."""
        return sum(s["end"] - s["start"] for s in self.spans if s["name"] == name and s["end"])

    def self_times(self) -> Dict[int, float]:
        children: Dict[int, List[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append(s)
        out = {}
        for s in self.spans:
            covered, reach = 0.0, s["start"]
            for c in sorted(children.get(s["id"], []), key=lambda c: c["start"]):
                lo, hi = max(c["start"], reach), min(c["end"], s["end"])
                if hi > lo:
                    covered += hi - lo
                    reach = hi
            out[s["id"]] = s["end"] - s["start"] - covered
        return out

    def dump(self, path: str, extra: dict) -> None:
        selfs = self.self_times()
        t0 = min((s["start"] for s in self.spans), default=0.0)
        spans = [
            {
                **s,
                "start": s["start"] - t0,
                "end": s["end"] - t0,
                "self_s": selfs[s["id"]],
            }
            for s in self.spans
        ]
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({**extra, "spans": spans}, f, indent=1)


def tree_rss_kib(root: int) -> Dict[int, int]:
    """VmRSS of ``root`` and of every descendant, by pid, from /proc."""
    parent: Dict[int, int] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                # the command name may hold spaces: ppid follows its ')'
                parent[int(entry)] = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
    tree, frontier = {root}, [root]
    while frontier:
        p = frontier.pop()
        for pid, pp in parent.items():
            if pp == p and pid not in tree:
                tree.add(pid)
                frontier.append(pid)
    rss = {}
    for pid in tree:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmRSS:"):
                        rss[pid] = int(line.split()[1])
                        break
        except OSError:
            continue
    return rss


class PeakRss:
    """Samples the resident memory of this process tree (driver JVM and
    Python workers included) every ``interval`` seconds while open."""

    def __init__(self, interval: float = 0.25) -> None:
        self.interval = interval
        self.peak_kib = 0
        self._seen: set = set()
        self._stop = threading.Event()
        self._thread: Optional[threading.Thread] = None

    def _sample(self) -> None:
        # a process counts from its second sample on: a child forked to
        # exec a command shares its parent's pages and would count them
        # twice for the moment it lives
        rss = tree_rss_kib(os.getpid())
        lasting = sum(kib for pid, kib in rss.items() if pid in self._seen)
        self.peak_kib = max(self.peak_kib, lasting)
        self._seen = set(rss)

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            self._sample()

    def __enter__(self) -> "PeakRss":
        self._sample()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self._sample()

    @property
    def peak_mb(self) -> float:
        return self.peak_kib / 1024.0
