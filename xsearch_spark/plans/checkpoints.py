"""B8: resumable builds — per-stage, per-partition checkpoint manifests
(SURVEY.md §2.3 B8; BASELINE.json:14 "resumable from checkpoint with
per-partition lineage + metrics").

Reference parity: xsearch's durability comes from disk-queue offsets +
flushed segments (component-level [R]); the Spark equivalent is a
manifest per stage recording the input fingerprint, per-partition row
counts/bytes, and wall time. A re-run skips completed stages whose
fingerprint matches, and the segment stage resumes at partition
granularity (only missing seg_groups are rebuilt, via a per-write
dynamic partition overwrite).

Manifests are written atomically (``sources.io.write_json``) as JSON
under ``<root>/manifests/``, beside the build's ``PROGRESS.jsonl``
event log.
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import dataclass, field

from xsearch_spark.sources.io import write_json


@dataclass
class StageManifest:
    stage: str
    input_fingerprint: str
    status: str = "pending"  # pending | done
    wall_ms: float = 0.0
    rows_out: int = 0
    partitions: dict[str, dict] = field(default_factory=dict)  # key -> {rows, ...}
    completed_at: float | None = None


def manifest_path(root: str, stage: str) -> str:
    return os.path.join(root, "manifests", f"{stage}.json")


def load_manifest(root: str, stage: str) -> StageManifest | None:
    p = manifest_path(root, stage)
    if not os.path.exists(p):
        return None
    with open(p) as f:
        d = json.load(f)
    return StageManifest(**d)


def save_manifest(root: str, m: StageManifest) -> None:
    p = manifest_path(root, m.stage)
    os.makedirs(os.path.dirname(p), exist_ok=True)
    write_json(p, m.__dict__, indent=1, sort_keys=True)


def stage_done(root: str, stage: str, fingerprint: str) -> StageManifest | None:
    """Return the manifest iff the stage completed for this exact input."""
    m = load_manifest(root, stage)
    if m and m.status == "done" and m.input_fingerprint == fingerprint:
        return m
    return None


class StageTimer:
    def __enter__(self):
        self.t0 = time.monotonic()
        return self

    def __exit__(self, *exc):
        self.wall_ms = (time.monotonic() - self.t0) * 1000.0
        return False


def progress_event(root: str, event: dict) -> None:
    """Append a metrics event to ``<root>/manifests/PROGRESS.jsonl``
    (throughput lineage that lives with the index, whatever the process
    cwd)."""
    try:
        d = os.path.join(root, "manifests")
        os.makedirs(d, exist_ok=True)
        with open(os.path.join(d, "PROGRESS.jsonl"), "a") as f:
            f.write(json.dumps({"ts": time.time(), **event}) + "\n")
    except OSError:
        pass
