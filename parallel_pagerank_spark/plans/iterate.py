"""The two loop drivers: ``SuperstepState`` for fixpoint loops over keyed
state, ``Frontier`` for the loops whose state is a frontier, a shrinking
set or a fixed-round iterate.

Catalyst has no fixpoint operator (SURVEY.md §4.3), so PageRank's
DataFrame tier, connected components and label propagation each need a
driver-side loop; ``SuperstepState.run`` is that loop, once. An operator
supplies only its superstep math; the driver owns resume, the step
counter, checkpointing and timing each superstep's one fused action, the
metrics record, the stop rule, lineage truncation and releasing the
superseded state.

Every state is a lazy local checkpoint: the starting (or resumed) state
and each superstep's next frame become ``localCheckpoint(eager=False)``.
The checkpoint plans the frame at once and caches its partitions on the
executors when they are first computed; the superstep's one fused action
computes them, and Spark then cuts the RDD's lineage. Each superstep so
starts from a plan of constant size (tests/test_plan_shape.py pins the
join count) with no extra job, and the previous state is released right
after, by unpersisting the RDD under its ``LogicalRDD``. Releasing logs
one Spark WARN (the blocks "cannot be recomputed after unpersisting");
the driver never reads a released state again.

The checkpointed scan keeps the output partitioning of the plan it
replaced (hash on the state's key), so the next superstep's join against
the edge table, partitioned on the same key, adds no exchange: each
superstep frame has exactly one live exchange, its gather aggregation.
That partitioning is taken from the executed plan as it stands (Spark
4.1.2, ``LogicalRDD.fromDataset``), so it names the executed plan's key
attribute: it goes stale when the optimizer drops an ``id AS id`` alias,
or when the join re-instances a checkpoint whose columns an edge table
shares (an edge table built from the same vertices), and the join then
re-shuffles the state. A superstep frame's key is a fresh ``dst AS id``;
the starting state is renamed across its repartition to get one.

Trade-off: local-checkpoint blocks live only on the executors, so losing
an executor fails the job instead of recomputing the lost state. A run
that needs fault tolerance sets a checkpoint directory; it then also
writes the state as a durable parquet snapshot every ``interval``
supersteps and at convergence, and records it, with the rows per
partition counted in one action over the in-memory state, in the
checkpoint manifest a resumed run starts from. Without one, the loop
writes no files.

Plan-doubling hazard: a loop whose step references the previous state
twice (say a gather join plus an update join against the same frame)
DOUBLES its un-truncated logical plan every superstep, so Catalyst
analysis is O(2^k) between truncations. The keyed loops here reference
the state once: their edge tables carry one self-row ``(v, v)`` per
vertex, so the single gather join also brings each vertex's old values
into its own group and one aggregation yields the whole next state.

Adaptive query execution is off for every query the loop plans and runs
(``session.adaptive_off``; the caller's setting is restored when ``run``
returns or raises): with AQE on, each fused action ran as 4 Spark jobs
instead of 1. The operators persist the edge tables the loop reads inside
the same scope: on a 20k-edge graph that took PageRank's from 6 jobs to 2
and CC/LPA's from 5 to 1.

Frontier loops
--------------
BFS, large-star/small-star, shortest paths, SCC (label races, peel,
topological levels), k-core, k-truss, Katz, HITS, MIS, matching,
colouring, walks and neighbourhood sketches keep a frontier, a shrinking
set or a fixed-round iterate, often several frames a round, on
``Frontier``. The operator keeps its step math and record keys; the
driver owns each frame's eager ``localCheckpoint`` and the one action
that reads it back (its row count, or the operator's ``probe``), the step
counter and the stop rule (``max_iter`` rounds, or a record that says
``done``: an empty frontier, no change), the metrics record with its
``wall_ms``, and releasing every checkpoint a later one replaced. Most
of these steps read the previous state two or more times (the
plan-doubling hazard above), hence a checkpoint per frame.

A frame put ``into`` a slot replaces the slot's frame, which is released
at the end of the round (its replacement is materialized and the round's
other reads of it are done), or at once outside a round; a frame a
lazily persisted one (``cache``) replaces waits one more round, for the
next round's action to compute its replacement. Never release a frame
the result still reads: BFS's settled union, the walk rows, SSSP's
distance chain and SCC's settled parts read every round's checkpoint, so
those take no slot; MIS, matching and colouring release their winners
and their last active set in ``consolidate``, once the union of the
winners is checkpointed.

Adaptive execution keeps the caller's setting: turning it off cut every
frontier operator's jobs (BFS 66 to 28, SCC 238 to 78 on 1,500 vertices)
but slowed k-truss, SSSP and large-star/small-star (2.8 to 4.2, 4.3 to
5.5, 2.6 to 4.4 s, single runs); a per-operator scope waits for an
interleaved A/B on a frontier workload.
"""

from __future__ import annotations

import time
from operator import methodcaller
from typing import Any, Callable, Iterator

from pyspark.sql import Column, DataFrame, Row, SparkSession, functions as F
from pyspark.storagelevel import StorageLevel

from ..session import adaptive_off
from .checkpoint import SuperstepCheckpointer


class SuperstepState:
    def __init__(
        self,
        num_partitions: int,
        key: str,
        checkpointer: SuperstepCheckpointer | None = None,
        checkpoint_interval: int = 5,
    ):
        self.num_partitions = num_partitions
        self.key = key
        self.ckpt = checkpointer
        # paces the durable snapshots only; lineage is cut every superstep
        self.interval = checkpoint_interval
        self.df: DataFrame | None = None
        # the local checkpoint behind the current state (``df`` may be a
        # projection of it)
        self._checkpointed: DataFrame | None = None

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
        spark = SparkSession.active()
        with adaptive_off(spark):
            steps, metrics, converged = 0, [], False
            snap = None
            if resume and self.ckpt is not None:
                snap = self.ckpt.load_latest(spark)
            if snap is not None:
                start, steps, metrics, converged = snap
                if converged:
                    return start, steps, True, metrics
            else:
                start = init()
            # renamed across the repartition, so that the checkpoint's
            # partitioning names its own key attribute (module docstring)
            cols = start.columns
            self.df = self._checkpointed = (
                start.toDF(*[f"_{c}" for c in cols])
                .repartition(self.num_partitions, f"_{self.key}")
                .toDF(*cols)
                .localCheckpoint(eager=False)
            )
            while steps < max_iter and not converged:
                t0 = time.monotonic()
                nxt, aggs = step(self.df)
                nxt = nxt.localCheckpoint(eager=False)
                steps += 1
                # the ONE action of the superstep; it also materializes
                # ``nxt``
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
        """Install ``new_df`` (the local checkpoint the superstep's action
        just materialized; it may still carry the previous values) as the
        state, projected onto the state's columns, and release the previous
        state's blocks. A durable run also snapshots the state every
        ``interval`` supersteps and at convergence."""
        prev = self._checkpointed
        self._checkpointed = new_df
        self.df = new_df.select(*self.df.columns)
        durable = self.ckpt is not None and self.ckpt.enabled
        if durable and (converged or iteration % self.interval == 0):
            self.df.write.mode("overwrite").parquet(
                self.ckpt.step_path(iteration)
            )
            counts = (
                self.df.groupBy(F.spark_partition_id().alias("partition"))
                .count()
                .collect()
            )
            partitions = [
                {"partition": p, "rows": n} for p, n in sorted(counts)
            ]
            self.ckpt.save(iteration, metrics, partitions, converged=converged)
        release_checkpoint(prev)
        return self.df


def release_checkpoint(df: DataFrame) -> None:
    """Drop a local checkpoint's blocks, which ``DataFrame.unpersist``
    does not reach: they belong to the RDD under its ``LogicalRDD``."""
    df._jdf.queryExecution().analyzed().rdd().unpersist(False)


class Frontier:
    """The frontier-loop driver (module docstring)."""

    def __init__(self, max_iter: int, key: str = "superstep"):
        self.max_iter = max_iter
        self.key = key  # the step's name in each metrics record
        self.steps = 0
        self.converged = False
        self.metrics: list[dict] = []
        self._slots: dict[str, DataFrame] = {}
        self._pinned: list[DataFrame] = []
        self._pending: list[tuple[DataFrame, int]] = []  # (frame, due round)
        self._in_round = False
        self._t0 = time.monotonic()

    def checkpoint(
        self,
        df: DataFrame,
        into: str | None = None,
        probe: Callable[[DataFrame], Any] | None = methodcaller("count"),
    ) -> tuple[DataFrame, Any]:
        """Eager local checkpoint of ``df`` and ``probe`` of it (``None``:
        no action). Without ``into`` it is released only by
        ``consolidate``. Returns (checkpoint, probe result)."""
        ckpt = df.localCheckpoint(eager=True)
        value = probe(ckpt) if probe is not None else None
        if into is None:
            self._pinned.append(ckpt)
        else:
            self._hold(into, ckpt, self.steps)
        return ckpt, value

    def cache(self, df: DataFrame, into: str) -> DataFrame:
        """Persist ``df`` lazily in slot ``into``."""
        df = df.persist(StorageLevel.MEMORY_AND_DISK)
        self._hold(into, df, self.steps + 1)
        return df

    def consolidate(self, df: DataFrame) -> DataFrame:
        """Checkpoint ``df``, the loop's result and a union over its
        slot-less checkpoints, and release every other frame it holds."""
        pinned, self._pinned = self._pinned, []
        out, _ = self.checkpoint(df, probe=None)
        for frame in pinned:
            release_checkpoint(frame)
        self.close()
        return out

    def rounds(self) -> Iterator[int]:
        """Yield 1, 2, ... until ``max_iter`` rounds have run or a record
        said ``done``; release the frames due after each round."""
        while self.steps < self.max_iter and not self.converged:
            self.steps += 1
            self._t0 = time.monotonic()
            self._in_round = True
            yield self.steps
            self._in_round = False
            self._flush(self.steps)

    def record(self, done: bool = False, **fields) -> None:
        """Append the round's record (round 0: the starting frames) with
        its ``wall_ms``; ``done`` ends the loop converged."""
        fields["wall_ms"] = (time.monotonic() - self._t0) * 1000.0
        self.metrics.append({self.key: self.steps, **fields})
        self.converged = done

    def close(self) -> None:
        """Release every frame the slots hold, once the caller has
        materialized what read them."""
        self._pending += [(f, self.steps) for f in self._slots.values()]
        self._slots.clear()
        self._flush(self.steps + 1)

    def _hold(self, slot: str, df: DataFrame, due: int) -> None:
        prev = self._slots.get(slot)
        self._slots[slot] = df
        if prev is not None:
            self._pending.append((prev, due))
            if not self._in_round:
                self._flush(self.steps)

    def _flush(self, step: int) -> None:
        for frame, due in self._pending:
            if due <= step and frame.is_cached:
                frame.unpersist()
            elif due <= step:
                release_checkpoint(frame)
        self._pending = [(f, d) for f, d in self._pending if d > step]
