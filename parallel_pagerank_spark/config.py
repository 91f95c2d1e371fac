"""Engine configuration.

The reference exposes its parameters as raw CLI globals
(/root/reference/pagerank_mpi/pagerank_mpi.c:380-395: <file> <N> <threshold> <d>);
here they are an explicit dataclass. Defaults follow the north rule
(tol=1e-6 L1, d=0.85) rather than the reference CLI default of 1e-4
(benchmark/benchmark.py:17,170).
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class PageRankConfig:
    """Parameters of the power-iteration loop.

    damping / tol mirror `d` / `threshold` in pagerank_mpi.c:27-30; the stop
    rule is L1 < tol checked after each update (pagerank_mpi.c:220-226).
    """

    damping: float = 0.85
    tol: float = 1e-6
    max_iter: int = 200
    # resumable-superstep machinery (north rule; no reference counterpart —
    # the MPI code keeps all state in process memory): with checkpoint_dir
    # set, a durable snapshot every checkpoint_interval supersteps and at
    # convergence; the interval paces nothing else
    checkpoint_interval: int = 5
    checkpoint_dir: str | None = None
    # physical tuning (the partition count is the session's
    # spark.sql.shuffle.partitions, see session.py)
    salt_buckets: int = 0  # >0 → salt high-degree sources in the SpMV agg
    # SpMV strategy: "auto" broadcasts the rank vector into the gather join
    # when N <= broadcast_threshold (zero shuffles per superstep; the rank
    # table must fit in driver/executor memory), else shuffle-joins
    # ("shuffle" = always scale-safe path, "broadcast" = force)
    spmv_mode: str = "auto"
    broadcast_threshold: int = 20_000_000
    # vertex bound of the numpy tier (operators/pagerank_fast.py): dense-id
    # graphs under the default max_id+1 vertex rule, with no teleport,
    # weights, warm start, checkpointing or salting, run there when
    # N <= fast_path_threshold and E <= 10^7 (the edge bound every
    # vectorized operator shares); below that size the DataFrame loop's
    # per-superstep scheduling overhead dominates actual compute.
    # 0 disables the routing.
    fast_path_threshold: int = 2_000_000


@dataclass(frozen=True)
class EngineConfig:
    """Session-level physical knobs (SURVEY.md §4.3)."""

    shuffle_partitions: int = 32
    max_partition_bytes: str = "128m"
    adaptive: bool = True
    arrow: bool = True
