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
round-trip (with a checkpoint directory, the durable snapshot). The one
action that reads the snapshot back also counts its rows per partition,
the lineage the checkpoint manifest records. Without a checkpoint
directory the snapshot goes to a ``superstep_*`` scratch directory in the
temp dir; each truncation prunes the one before, and the directory itself
is removed when the interpreter exits, since the returned state's cache
may refill from the live snapshot until then.

Plan-doubling hazard: a loop whose step references the previous state
twice (say a gather join plus an update join against the same frame)
DOUBLES its un-truncated logical plan every superstep, so Catalyst
analysis is O(2^k) between truncations. The keyed loops here reference
the state once: their edge tables carry one self-row ``(v, v)`` per
vertex, so the single gather join also brings each vertex's old values
into its own group and one aggregation yields the whole next state. Their
logical plan grows by a constant number of nodes per superstep
(tests/test_plan_shape.py pins it).

Adaptive query execution is off for every query the loop plans and runs
(``session.adaptive_off``; the caller's setting is restored when ``run``
returns or raises). With AQE on, the cached plan of each persisted superstep
frame is an ``AdaptiveSparkPlanExec``; once it has run, its explain
string prints both its final and its initial plan, and both contain the
scan of the previous superstep's cached frame, whose plan prints both of
its own. The explain string of a query over the state so doubles every
superstep between truncations, and Spark builds it at each adaptive plan
update of every query (``AdaptiveSparkPlanExec.onUpdatePlan`` calls
``QueryExecution.explainString``); AQE also split each fused action into
4 jobs. Measured on shuffle-SpMV PageRank, 20k edges, 2k vertices,
local[4] on a 4-core host, without truncation: the state's plan string
grew from 28 thousand characters at superstep 1 to 99 million at 12, and
the superstep from about 1 s up to superstep 6 to 1.6, 2.2, 3.0, 5.8,
9.6 and 18.5 s at supersteps 7-12. At interval 25 a 4 GB driver heap ran
out of memory inside that string before the first truncation
(scripts/superstep_flatness.py, BENCH/superstep_flatness.log). With AQE
off the cached plans are plain physical plans printed once each (12
thousand to 282 thousand characters over the same 12 supersteps), each
superstep takes 0.5-0.9 s from superstep 2 on, and its fused action is
one Spark job. That job still gains one skipped stage per superstep
(the scheduler walks the whole RDD lineage), at no measured cost. No
narrower setting removes the doubling:
``spark.sql.optimizer.canChangeCachedPlanOutputPartitioning=false`` and
``spark.sql.exchange.reuse=false`` left it as it was. The operators
persist the edge tables the loop reads inside the same scope: on the same
graph that took PageRank's from 6 jobs to 2 and CC/LPA's from 5 to 1.

Why the interval is still 5: the logical plan still grows by a constant
per superstep, the nesting of cached plans with it, and every query plans
the whole chain. In one 100-superstep run of the same PageRank without
truncation, supersteps took 0.6-1.0 s up to superstep 50 and 1.1-1.9 s
from superstep 70 on, and the caller's first query over the returned
state (planned with AQE on) overflowed the JVM stack in
``SparkPlanInfo.fromSparkPlan``, which recurses through all 100 nested
cached plans. The 100 supersteps took 45.4 s at interval 5 and 54.9 s at
interval 25, one run each on a noisy host: too little to move the
interval.

Unpersist pitfall: ``DataFrame.unpersist`` only drops the cache entry of
the receiver's own plan. On a projection of the persisted frame
(``persisted.select(...)``) it silently does nothing and the cached frame
stays pinned for the session, so the driver keeps a handle on the frame
it actually persisted and unpersists that one, a superstep late.
"""

from __future__ import annotations

import atexit
import shutil
import tempfile
import time
from typing import Callable

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
            self.df = self._persisted = start.repartition(
                self.num_partitions, self.key
            ).persist(StorageLevel.MEMORY_AND_DISK)
            while steps < max_iter and not converged:
                t0 = time.monotonic()
                nxt, aggs = step(self.df)
                nxt = nxt.persist(StorageLevel.MEMORY_AND_DISK)
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
        """Install ``new_df`` (persisted and just materialized by the
        superstep's action; it may still carry the previous values) as the
        state, projected onto the state's columns. Truncate lineage every
        ``interval`` supersteps and at convergence, then unpersist the
        frame persisted for the previous state."""
        prev = self._persisted
        self._persisted = new_df
        self.df = new_df.select(*self.df.columns)
        if converged or iteration % self.interval == 0:
            spark = new_df.sparkSession
            durable = self.ckpt is not None and self.ckpt.enabled
            if durable:
                path = self.ckpt.step_path(iteration)
            else:
                if self._scratch is None:
                    self._scratch = tempfile.mkdtemp(prefix="superstep_")
                    # the returned state's cache may refill from the live
                    # snapshot for as long as the session runs
                    atexit.register(
                        shutil.rmtree, self._scratch, ignore_errors=True
                    )
                path = f"{self._scratch}/step_{iteration:06d}"
            self.df.write.mode("overwrite").parquet(path)
            new_df.unpersist()
            self.df = self._persisted = (
                spark.read.parquet(path)
                .repartition(self.num_partitions, self.key)
                .persist(StorageLevel.MEMORY_AND_DISK)
            )
            # the one action that materializes the re-read state also
            # counts its rows per partition, the lineage a durable snapshot
            # records
            counts = (
                self.df.groupBy(F.spark_partition_id().alias("partition"))
                .count()
                .collect()
            )
            if durable:
                partitions = [
                    {"partition": p, "rows": n} for p, n in sorted(counts)
                ]
                self.ckpt.save(
                    iteration, metrics, partitions, converged=converged
                )
            # prune the previous scratch snapshot; keep the live one, which
            # the returned state's cache may refill from
            if self._prev_scratch_path is not None:
                shutil.rmtree(self._prev_scratch_path, ignore_errors=True)
            if not durable:
                self._prev_scratch_path = path
        if prev is not None:
            prev.unpersist()
        return self.df
