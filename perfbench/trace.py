"""Spans, job counts, byte counts and host-noise stamps.

A span is recorded around each call into a layer's public function,
from the benchmark's own code: name, start, end, parent span and op id.
Spans live in memory and are written as one JSON file when the run
ends. Each span also carries the Spark job group it ran under, so job
counts are read back from the status tracker per span. With tracing
off, ``span`` does nothing at all.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager

_GROUP = "perfbench-span-"


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._op = 0
        self.t0 = time.perf_counter()

    def next_op(self) -> int:
        self._op += 1
        return self._op

    @contextmanager
    def span(self, name: str, op: int | None = None):
        """Yield the span record (or None when tracing is off); callers
        may add counts to ``rec["counts"]``."""
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": parent["id"] if parent else None,
            "op": op if op is not None else (parent["op"] if parent else None),
            "counts": {},
        }
        self.spans.append(rec)
        self._stack.append(rec)
        sc = self.spark.sparkContext
        sc.setJobGroup(_GROUP + str(rec["id"]), name)
        rec["start"] = time.perf_counter() - self.t0
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter() - self.t0
            self._stack.pop()
            if parent is not None:
                sc.setJobGroup(_GROUP + str(parent["id"]), parent["name"])
            else:
                sc.setLocalProperty("spark.jobGroup.id", None)

    def finish(self) -> None:
        """Fill in durations, self times and job counts. Job starts reach
        the status store through an asynchronous listener bus, so this
        runs once at the end of the run rather than after every span."""
        if not self.enabled:
            return
        time.sleep(1.0)
        tracker = self.spark.sparkContext.statusTracker()
        children: dict[int, list[dict]] = {}
        for s in self.spans:
            s["dur"] = s["end"] - s["start"]
            s["own_jobs"] = len(tracker.getJobIdsForGroup(_GROUP + str(s["id"])))
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append(s)
        # children always end before their parent, so a reverse pass
        # sees every child's total before the parent's
        for s in reversed(self.spans):
            kids = children.get(s["id"], [])
            s["self"] = s["dur"] - sum(k["dur"] for k in kids)
            s["jobs"] = s["own_jobs"] + sum(k["jobs"] for k in kids)

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def self_times(self) -> dict[str, float]:
        out: dict[str, float] = {}
        for s in self.spans:
            out[s["name"]] = out.get(s["name"], 0.0) + s["self"]
        return {k: round(v, 6) for k, v in sorted(out.items())}

    def write(self, path: str, meta: dict) -> None:
        with open(path + ".tmp", "w") as f:
            json.dump({"meta": meta, "self_s": self.self_times(), "spans": self.spans}, f)
        os.replace(path + ".tmp", path)


# --- bytes on disk --------------------------------------------------------


def _data_files(root: str):
    """Data files under ``root``; Hadoop's hidden checksum and marker
    files (``.x.crc``, ``_SUCCESS``) are not index bytes."""
    for d, _dirs, files in os.walk(root):
        for f in files:
            if not f.startswith((".", "_")):
                yield os.path.join(d, f)


def dir_bytes(root: str) -> int:
    return sum(os.path.getsize(p) for p in _data_files(root))


def dir_files(root: str) -> int:
    return sum(1 for _ in _data_files(root))


def snapshot(root: str) -> dict[str, tuple[int, int]]:
    out = {}
    for p in _data_files(root):
        st = os.stat(p)
        out[p] = (st.st_size, st.st_mtime_ns)
    return out


def bytes_written(before: dict[str, tuple[int, int]], root: str) -> int:
    """Bytes of data files under ``root`` that are new or rewritten
    since ``before`` was taken."""
    after = snapshot(root)
    return sum(sz for p, (sz, mt) in after.items() if before.get(p) != (sz, mt))


# --- host noise -------------------------------------------------------------


def _cpu_jiffies() -> tuple[int, int]:
    """(total, steal) jiffies from the aggregate cpu line of /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return sum(vals), vals[7]


class HostNoise:
    """Hypervisor steal %, 1-minute load average and usable cores over a
    run, so stolen windows can be told apart in the results."""

    def __init__(self):
        self.jiffies = _cpu_jiffies()
        self.load_start = os.getloadavg()[0]

    def stamp(self) -> dict:
        tot, st = _cpu_jiffies()
        d_tot = max(1, tot - self.jiffies[0])
        return {
            "steal_pct": round(100.0 * (st - self.jiffies[1]) / d_tot, 2),
            "loadavg_1m_start": self.load_start,
            "loadavg_1m_end": os.getloadavg()[0],
            "nproc": len(os.sched_getaffinity(0)),
        }
