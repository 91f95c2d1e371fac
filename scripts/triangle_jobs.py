"""Spark jobs, wall time and shuffle writes of ``triangle_count`` per call.

    python scripts/triangle_jobs.py [seed]

Builds the triangle input of the benchmark's ``events_routed`` workload for
``seed`` (default 1): the window-2 co-occurrence edges of 100,000 synthetic
transcript events over 1,500 users (``perfbench/workloads.py``), cached and
counted before any timing. Then, for both ``method``s and with the
session's ``spark.sql.adaptive.enabled`` set to true and to false, calls
``triangle_count`` ``1 + WARM`` times in a row and prints one line per call:
the Spark jobs it ran, its wall time and the shuffle bytes its stages wrote
(counted through a job group, ``sc.statusTracker()`` and the status store),
then per configuration the first call's time and the median of the warm
calls. The session's own setting is restored after each configuration;
"first" is the first call of that configuration in the process, so the
very first line also pays for JVM warm-up.

Runs at ``local[nproc]`` with nproc shuffle partitions, as the benchmark
does; set ``SPARK_DRIVER_MEM`` for the driver heap. Imports the engine from
the checkout the script sits in.
"""

from __future__ import annotations

import os
import statistics
import sys
import time
import uuid
from pathlib import Path

from py4j.protocol import Py4JJavaError

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))
sys.path.insert(0, str(ROOT / "perfbench"))

WARM = 3
AQE = "spark.sql.adaptive.enabled"


def _call_stats(sc, store, group: str) -> tuple[int, int]:
    """(jobs, shuffle-write bytes of the stages that ran) of a job group."""
    jobs = list(sc.statusTracker().getJobIdsForGroup(group))
    written = 0
    for jid in jobs:
        stages = store.job(jid).stageIds()
        for i in range(stages.size()):
            try:
                sd = store.lastStageAttempt(stages.apply(i))
            except Py4JJavaError:  # stage never attempted
                continue
            if sd.status().toString() != "SKIPPED":
                written += int(sd.shuffleWriteBytes())
    return len(jobs), written


def main(argv: list[str]) -> int:
    if len(argv) > 1:
        print(__doc__.strip().splitlines()[2], file=sys.stderr)
        return 2
    seed = int(argv[0]) if argv else 1

    from parallel_pagerank_spark import EngineConfig, get_spark
    from parallel_pagerank_spark.operators.triangles import triangle_count
    from parallel_pagerank_spark.sources.events import cooccurrence_edges
    from workloads import SCALES, synthetic_events

    nproc = os.cpu_count() or 1
    spark = get_spark(
        app_name="triangle-jobs",
        master=f"local[{nproc}]",
        config=EngineConfig(shuffle_partitions=nproc),
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    try:
        size = SCALES["full"]
        events = synthetic_events(spark, size["events"], size["users"], seed)
        co = cooccurrence_edges(events, 2).cache()
        print(f"seed={seed} co-occurrence edges={co.count()} "
              f"local[{nproc}] partitions={nproc}")
        prior = spark.conf.get(AQE)
        for method in ("degree_oriented", "ordered"):
            for aqe in ("true", "false"):
                spark.conf.set(AQE, aqe)
                walls = []
                for call in range(1 + WARM):
                    group = f"triangles-{uuid.uuid4().hex}"
                    sc.setJobGroup(group, "triangle_count")
                    t0 = time.monotonic()
                    n = triangle_count(co, method)
                    walls.append(time.monotonic() - t0)
                    sc._jsc.clearJobGroup()
                    jobs, written = _call_stats(sc, store, group)
                    print(f"{method:15s} aqe={aqe:5s} call {call} "
                          f"triangles={n} jobs={jobs} "
                          f"wall_s={walls[-1]:.2f} "
                          f"shuffle_write_mb={written / 1e6:.2f}", flush=True)
                print(f"{method:15s} aqe={aqe:5s} first_s={walls[0]:.2f} "
                      f"warm_median_s={statistics.median(walls[1:]):.2f}")
                spark.conf.set(AQE, prior)
    finally:
        spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
