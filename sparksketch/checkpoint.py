"""Checkpoint / resume / metrics for sketch builds.

The reference persists per-shard WAL files and rebuilds from them
(/root/reference/src/filter.rs:347-371, 490-524).  In Spark the immutable
source table *is* the replayable log, so checkpointing only needs the
*derived* per-partition sketch state plus lineage: partition id, build
fingerprint (config + geometry + input id), and row count.  A killed build
re-run with the same fingerprint replays completed partitions from their
blobs without consuming their input splits (north_rule: "resumable from
checkpoint with per-partition lineage + metrics").  Each meta records its
blob's length and digest, and a partition replays only if the blob still
matches them and the build's geometry — see ``bloom._write_checkpoint``
for the task-side write order and ``bloom.completed_partitions`` for the
check.
"""

from __future__ import annotations

import json
import os
import time

from sparksketch.bloom import BloomFilterState


def save_state(state: BloomFilterState, path: str) -> int:
    blob = state.to_bytes()
    os.makedirs(os.path.dirname(os.path.abspath(path)), exist_ok=True)
    tmp = path + ".tmp"
    with open(tmp, "wb") as f:
        f.write(blob)
    os.replace(tmp, path)
    return len(blob)


def load_state(path: str) -> BloomFilterState:
    with open(path, "rb") as f:
        return BloomFilterState.from_bytes(f.read())


def checkpoint_metas(checkpoint_dir: str) -> list[dict]:
    if not os.path.isdir(checkpoint_dir):
        return []
    out = []
    for name in sorted(os.listdir(checkpoint_dir)):
        if name.endswith(".meta.json"):
            try:
                with open(os.path.join(checkpoint_dir, name)) as f:
                    out.append(json.load(f))
            except (OSError, json.JSONDecodeError):
                continue
    return out


def clear_checkpoint(checkpoint_dir: str) -> None:
    if not os.path.isdir(checkpoint_dir):
        return
    for name in os.listdir(checkpoint_dir):
        if name.endswith((".bin", ".meta.json", ".tmp")):
            os.remove(os.path.join(checkpoint_dir, name))


def write_metrics(path: str, metrics: dict) -> None:
    os.makedirs(os.path.dirname(os.path.abspath(path)), exist_ok=True)
    with open(path, "w") as f:
        json.dump({**metrics, "written_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime())}, f, indent=2)
