"""Per-superstep wall time of PageRank's DataFrame tier over a long run.

    python scripts/superstep_flatness.py <supersteps>

Runs shuffle-SpMV PageRank (``spmv_mode="shuffle"``, ``tol=0``, so it never
converges and runs exactly ``<supersteps>`` supersteps) on the graph of the
benchmark's ``superstep_dist`` workload: 20,000 synthetic edges over an
explicit table of 2,000 vertices, seed 1 (``synthetic_scaling_edges``).
No checkpoint directory is set, so every state is a local checkpoint and
no snapshot is written. Prints one line per superstep with its ``wall_ms``
as ``SuperstepState.run`` records it (building the step and its one fused
action; releasing the previous state is not included), the sum of the
supersteps, the wall time of the whole call (edge-table preparation
included), and then the time of the caller's first query over the result,
a count.

Runs at ``local[nproc]`` with nproc shuffle partitions; set
``SPARK_DRIVER_MEM`` for the driver heap. Imports the engine from the
checkout the script sits in.
"""

from __future__ import annotations

import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

EDGES, VERTICES, SEED = 20_000, 2_000, 1


def main(argv: list[str]) -> int:
    if len(argv) != 1:
        print(__doc__.strip().splitlines()[2], file=sys.stderr)
        return 2
    supersteps = int(argv[0])
    if supersteps < 1:
        print("supersteps must be >= 1", file=sys.stderr)
        return 2

    from parallel_pagerank_spark import EngineConfig, PageRankConfig, get_spark
    from parallel_pagerank_spark.operators.pagerank import pagerank
    from parallel_pagerank_spark.sources.generators import (
        synthetic_scaling_edges,
    )

    nproc = os.cpu_count() or 1
    spark = get_spark(
        app_name="superstep-flatness",
        master=f"local[{nproc}]",
        config=EngineConfig(shuffle_partitions=nproc),
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    try:
        edges = synthetic_scaling_edges(spark, EDGES, VERTICES, seed=SEED).cache()
        vertices = spark.range(VERTICES).cache()
        edges.count()
        vertices.count()
        cfg = PageRankConfig(spmv_mode="shuffle", tol=0.0, max_iter=supersteps)
        t0 = time.monotonic()
        res = pagerank(edges, vertices=vertices, config=cfg)
        call_s = time.monotonic() - t0
        print(f"supersteps={supersteps}")
        for rec in res.metrics:
            print(f"superstep {rec['iteration']:4d} wall_ms {rec['wall_ms']:9.1f}")
        steps_s = sum(rec["wall_ms"] for rec in res.metrics) / 1000.0
        print(f"sum of supersteps {steps_s:.1f} s; whole call {call_s:.1f} s",
              flush=True)
        # the caller's first query over the returned state
        t0 = time.monotonic()
        res.ranks.count()
        print(f"counting the result {time.monotonic() - t0:.1f} s")
    finally:
        spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
