"""The superstep driver for iterative fixpoint loops over keyed state.

Catalyst has no fixpoint operator (SURVEY.md §4.3), so PageRank's
DataFrame tier, connected components and label propagation each need a
driver-side loop; ``SuperstepState.run`` is that loop, once. An operator
supplies only its superstep math; the driver owns resume, the step
counter, persisting and timing each superstep's one fused action, the
metrics record, the stop rule, lineage truncation and unpersisting.

The state is persisted, not ``localCheckpoint``-ed: ``persist`` keeps it
hash-partitioned on its key, so the join against the edge table
(partitioned on the same key) is zero-shuffle, while a localCheckpoint-ed
frame is a bare RDD scan that every join re-Exchanges.

Lineage is truncated every ``truncate_interval`` supersteps by a parquet
round-trip (with a checkpoint directory, the durable snapshot).

Plan-doubling hazard: a loop whose step references the previous state
twice (say a gather join plus an update join against the same frame)
DOUBLES its un-truncated logical plan every superstep, so Catalyst
analysis is O(2^k) between truncations. The keyed loops here reference
the state once: their edge tables carry one self-row ``(v, v)`` per
vertex, so the single gather join also brings each vertex's old values
into its own group and one aggregation yields the whole next state. Their
logical plan grows by a constant number of nodes per superstep
(tests/test_plan_shape.py pins it).

Why the interval is still 5: a second growth source remains that is not
in the logical plan. Measured on shuffle-SpMV PageRank, 20k edges, 2k
vertices, local[4] on a 4-core host, 20 supersteps: interval 5 took
13.9 s, 8 took 15.8 s, 10 took 27.5 s (the former two-join form at
interval 5: 25.1 s). Without truncation the superstep's fused action
takes 0.5-0.75 s up to superstep 6, then 0.8, 1.5, 3.0, 4.1 s at
supersteps 7-10, while its task count stays constant and each of its
jobs gains one skipped stage per superstep: the cost is in scheduling,
not in tasks. It comes with adaptive query execution (4 jobs per
action): with ``spark.sql.adaptive.enabled=false`` (1 job) the action
stays at 0.2-0.3 s from superstep 3 through 11.

Unpersist pitfall: ``DataFrame.unpersist`` only drops the cache entry of
the receiver's own plan. On a projection of the persisted frame
(``persisted.select(...)``) it silently does nothing and the cached frame
stays pinned for the session, so the driver keeps a handle on the frame
it actually persisted and unpersists that one, a superstep late.
"""

from __future__ import annotations

import shutil
import tempfile
import time
from typing import Callable

from pyspark.sql import Column, DataFrame, Row, SparkSession
from pyspark.storagelevel import StorageLevel

from .checkpoint import SuperstepCheckpointer


class SuperstepState:
    def __init__(
        self,
        num_partitions: int,
        key: str,
        checkpointer: SuperstepCheckpointer | None = None,
        truncate_interval: int = 5,
    ):
        self.num_partitions = num_partitions
        self.key = key
        self.ckpt = checkpointer
        self.interval = truncate_interval
        self._scratch = None
        self._prev_scratch_path = None
        self.df: DataFrame | None = None
        # the frame actually persisted for the current state (``df`` may be
        # a projection of it)
        self._persisted: DataFrame | None = None

    def run(
        self,
        init: Callable[[], DataFrame],
        step: Callable[[DataFrame], tuple[DataFrame, list[Column]]],
        observe: Callable[[int, Row], tuple[dict, bool]],
        max_iter: int,
        resume: bool = False,
    ) -> tuple[DataFrame, int, bool, list[dict]]:
        """Run supersteps until ``observe`` reports convergence or
        ``max_iter`` supersteps have run in total (resumed ones included).

        ``init()`` builds the starting state (not called when a snapshot
        is resumed). ``step(state)`` returns the next frame, still
        carrying the previous values, and the aggregate columns of the
        superstep's one fused action; ``observe(iteration, row)`` turns
        that action's row into (metrics record, converged). The next
        state is the frame projected onto the state's columns. Returns
        (state, supersteps, converged, metrics)."""
        steps, metrics, converged = 0, [], False
        snap = None
        if resume and self.ckpt is not None:
            snap = self.ckpt.load_latest(SparkSession.active())
        if snap is not None:
            start, steps, metrics, converged = snap
            if converged:
                return start, steps, True, metrics
        else:
            start = init()
        self.df = self._persisted = start.repartition(
            self.num_partitions, self.key
        ).persist(StorageLevel.MEMORY_AND_DISK)
        while steps < max_iter and not converged:
            t0 = time.monotonic()
            nxt, aggs = step(self.df)
            nxt = nxt.persist(StorageLevel.MEMORY_AND_DISK)
            steps += 1
            # the ONE action of the superstep; it also materializes ``nxt``
            record, converged = observe(steps, nxt.agg(*aggs).first())
            record["wall_ms"] = (time.monotonic() - t0) * 1000.0
            metrics.append(record)
            self.advance(nxt, steps, metrics, converged)
        return self.df, steps, converged, metrics

    def advance(
        self,
        new_df: DataFrame,
        iteration: int,
        metrics: list[dict],
        converged: bool,
    ) -> DataFrame:
        """Install ``new_df`` (persisted and just materialized by the
        superstep's action; it may still carry the previous values) as the
        state, projected onto the state's columns. Truncate lineage every
        ``interval`` supersteps and at convergence, then unpersist the
        frame persisted for the previous state."""
        prev = self._persisted
        self._persisted = new_df
        self.df = new_df.select(*self.df.columns)
        durable = self.ckpt is not None and self.ckpt.enabled
        if converged or iteration % self.interval == 0:
            spark = new_df.sparkSession
            if durable:
                self.ckpt.save(
                    self.df, iteration, metrics, converged=converged
                )
                path = self.ckpt.step_path(iteration)
            else:
                if self._scratch is None:
                    self._scratch = tempfile.mkdtemp(prefix="superstep_")
                path = f"{self._scratch}/step_{iteration:06d}"
                self.df.write.mode("overwrite").parquet(path)
            new_df.unpersist()
            self.df = self._persisted = (
                spark.read.parquet(path)
                .repartition(self.num_partitions, self.key)
                .persist(StorageLevel.MEMORY_AND_DISK)
            )
            self.df.count()
            # prune the previous scratch snapshot; keep the live one, which
            # the returned state's cache may refill from
            if self._prev_scratch_path is not None:
                shutil.rmtree(self._prev_scratch_path, ignore_errors=True)
            if not durable:
                self._prev_scratch_path = path
        if prev is not None:
            prev.unpersist()
        return self.df
