"""Durable superstep checkpointing with a JSON manifest.

North-rule requirement: iterative loops must be resumable from checkpoint
with per-partition lineage and convergence metrics. The reference has no
counterpart (all MPI state is process memory); this is engine-level work —
Catalyst has no fixpoint operator (SURVEY.md §4.3).

Layout under ``checkpoint_dir``:
    <name>/manifest.json             — list of superstep records
    <name>/step_<iteration>/         — parquet snapshot of the state DF

Each manifest record carries the iteration number and per-partition row
counts (the partition lineage of the snapshot). The newest record, the one
a resumed run reads, also carries every superstep's convergence metrics so
far; older records drop theirs, so the manifest grows O(k), not O(k^2).
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession


class SuperstepCheckpointer:
    def __init__(self, checkpoint_dir: str | None, name: str):
        self.enabled = checkpoint_dir is not None
        self.base = os.path.join(checkpoint_dir, name) if self.enabled else None

    def _manifest_path(self) -> str:
        return os.path.join(self.base, "manifest.json")

    def step_path(self, iteration: int) -> str:
        return os.path.join(self.base, f"step_{iteration:06d}")

    def _read_manifest(self) -> list[dict]:
        try:
            with open(self._manifest_path()) as f:
                return json.load(f)
        except (OSError, ValueError):
            return []

    def save(
        self,
        iteration: int,
        metrics: list[dict],
        partitions: list[dict],
        converged: bool = False,
    ) -> None:
        """Record in the manifest the snapshot the caller wrote to
        ``step_path(iteration)``. ``partitions`` is its per-partition
        lineage, ``{"partition", "rows"}`` per non-empty partition, counted
        by the caller over the state it wrote."""
        if not self.enabled:
            return
        path = self.step_path(iteration)
        manifest = self._read_manifest()
        manifest = [m for m in manifest if m["iteration"] != iteration]
        manifest.append(
            {
                "iteration": iteration,
                "path": path,
                "converged": converged,
                "metrics": metrics,
                "partitions": partitions,
            }
        )
        manifest.sort(key=lambda m: m["iteration"])
        for m in manifest[:-1]:
            m.pop("metrics", None)
        os.makedirs(self.base, exist_ok=True)
        tmp = self._manifest_path() + ".tmp"
        with open(tmp, "w") as f:
            json.dump(manifest, f, indent=1)
        os.replace(tmp, self._manifest_path())

    def load_latest(
        self, spark: SparkSession
    ) -> tuple[DataFrame, int, list[dict], bool] | None:
        """Return (state DF, iteration, metrics, converged) of the newest
        snapshot."""
        if not self.enabled:
            return None
        manifest = self._read_manifest()
        if not manifest:
            return None
        last = manifest[-1]
        df = spark.read.parquet(last["path"])
        return (
            df,
            last["iteration"],
            list(last["metrics"]),
            bool(last.get("converged", False)),
        )
