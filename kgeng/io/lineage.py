"""Snapshot + lineage resume protocol.

The reference checkpoints its stages as pickle files and re-runs
stages manually (``Kuzu/kuzu_build_graph_csv.py:674-731``). Here every
pipeline stage commits one lineage record — stage name, input
fingerprint, output fingerprint, row count, metrics — after all of its
outputs are on disk; a re-run consults the log and skips any stage
whose input fingerprint already committed AND whose outputs still hold
what that commit wrote, resuming from the last snapshot without
recomputation (BASELINE.json north_star).

One tiny JSON file per commit under ``<out>/_lineage/``, written
atomically via rename: like a Delta Lake log entry, one commit names
every file its stage wrote. A stage whose output dir was since
rewritten (another input built into the same dir, a crashed later
run) no longer matches its commit and runs again.
"""

from __future__ import annotations

import hashlib
import json
import os
import time


def fingerprint_paths(*paths: str, extra: str = "") -> str:
    """Deterministic fingerprint of a stage's inputs: root-relative
    path + size + nanosecond mtime of every underlying file (parquet
    dirs walk their part files).

    Root-relative paths (not basenames) mean a part file moved between
    partition subdirectories changes the digest, and ``st_mtime_ns``
    (not whole seconds) means a same-size rewrite within one second
    does too — either would otherwise let the resume protocol silently
    skip recomputation on changed input."""
    h = hashlib.sha256()
    h.update(extra.encode())
    for p in sorted(paths):
        h.update(p.encode())
        if os.path.isdir(p):
            for root, _dirs, files in sorted(os.walk(p)):
                rel_root = os.path.relpath(root, p)
                for f in sorted(files):
                    if f.startswith((".", "_")):
                        continue
                    st = os.stat(os.path.join(root, f))
                    rel = os.path.join(rel_root, f)
                    h.update(f"{rel}:{st.st_size}:{st.st_mtime_ns}".encode())
        elif os.path.exists(p):
            st = os.stat(p)
            h.update(f"{st.st_size}:{st.st_mtime_ns}".encode())
    return h.hexdigest()[:16]


class LineageLog:
    def __init__(self, out_dir: str):
        self.dir = os.path.join(out_dir, "_lineage")
        os.makedirs(self.dir, exist_ok=True)

    def _path(self, stage: str, fingerprint: str) -> str:
        return os.path.join(self.dir, f"{stage}-{fingerprint}.json")

    def committed(self, stage: str, fingerprint: str, outputs: list[str]) -> dict | None:
        """The commit of ``stage`` for input ``fingerprint``, if its
        ``outputs`` still fingerprint as they did when it was made. A
        commit without an output fingerprint never matches."""
        p = self._path(stage, fingerprint)
        if not os.path.exists(p):
            return None
        with open(p, encoding="utf-8") as fh:
            rec = json.load(fh)
        if rec.get("output_fingerprint") != fingerprint_paths(*outputs):
            return None
        return rec

    def commit(
        self,
        stage: str,
        fingerprint: str,
        row_count: int,
        *,
        outputs: list[str],
        metrics: dict | None = None,
    ) -> dict:
        """Commit a stage whose ``outputs`` are already on disk."""
        rec = {
            "stage": stage,
            "input_fingerprint": fingerprint,
            "output_fingerprint": fingerprint_paths(*outputs),
            "row_count": row_count,
            "metrics": metrics or {},
            "committed_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
        }
        tmp = self._path(stage, fingerprint) + ".tmp"
        with open(tmp, "w", encoding="utf-8") as fh:
            json.dump(rec, fh, indent=1)
        os.replace(tmp, self._path(stage, fingerprint))
        return rec
