"""Interleaved A/B of the routed ``pagerank(edges)`` between two checkouts.

Each measurement is a fresh child process that imports the engine from one
checkout, caches the edge table, and times one routed ``pagerank()`` call
plus an Arrow collect of its ranks, inside a job group so the Spark job
count is exact. Ranks are saved per run and compared across the pair.

    # uniform random graph, ids 0..n-1 (max id present), parquet
    python scripts/pagerank_window_ab.py gen OUT.parquet --n 2000000 --e 8000000
    # pairs of runs, order alternating, appended to LOG
    python scripts/pagerank_window_ab.py ab PARENT_DIR CHANGE_DIR LOG \\
        --edges A.parquet B.parquet --pairs 3 --max-iter 10
    # the events_routed benchmark input (perfbench/workloads.py) instead
    python scripts/pagerank_window_ab.py ab PARENT_DIR CHANGE_DIR LOG \\
        --events-seed 1 --pairs 3

Set SPARK_DRIVER_MEM for the heap; children run at ``local[4]``.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import subprocess
import sys
import tempfile
import time

import numpy as np


def gen(out: str, n: int, e: int, seed: int) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    src = rng.integers(0, n, e, dtype=np.int64)
    dst = rng.integers(0, n, e, dtype=np.int64)
    dst[-1] = n - 1
    pq.write_table(pa.table({"src": src, "dst": dst}), out)


def child(repo: str, edges: str | None, events_seed: int | None,
          max_iter: int, ranks_out: str) -> None:
    sys.path[:0] = [repo, os.path.join(repo, "perfbench")]
    from parallel_pagerank_spark import EngineConfig, PageRankConfig, get_spark
    from parallel_pagerank_spark.operators.pagerank import pagerank

    # the events input runs with the benchmark's one partition per core
    engine = None if events_seed is None else EngineConfig(shuffle_partitions=4)
    spark = get_spark(master="local[4]", config=engine, extra_conf={
        "spark.ui.showConsoleProgress": "false"})
    spark.sparkContext.setLogLevel("ERROR")
    if events_seed is None:
        df = spark.read.parquet(edges).cache()
        df.count()
        cfg = PageRankConfig(max_iter=max_iter, tol=0.0)
    else:
        import workloads

        inp = workloads.EventsRouted().build(
            spark, events_seed, "full",
            lambda name: contextlib.nullcontext())
        df, cfg = inp.edges, PageRankConfig()
    sc = spark.sparkContext
    sc.setJobGroup("ab", "routed pagerank")
    t0 = time.perf_counter()
    res = pagerank(df, config=cfg)
    pdf = res.ranks.toPandas()
    wall = time.perf_counter() - t0
    jobs = len(sc.statusTracker().getJobIdsForGroup("ab"))
    pdf = pdf.sort_values("id")
    np.save(ranks_out, np.stack([pdf["id"].to_numpy(np.float64),
                                 pdf["rank"].to_numpy()]))
    print(json.dumps({"mode": res.mode, "iterations": res.iterations,
                      "wall_s": round(wall, 3), "jobs": jobs}))
    spark.stop()


def ab(args) -> None:
    inputs = ([("events_seed", args.events_seed)] if args.events_seed is not None
              else [("edges", p) for p in args.edges])
    sides = {"parent": args.parent, "change": args.change}
    tmp = tempfile.mkdtemp(prefix="pr_window_")
    with open(args.log, "a") as log:
        for kind, value in inputs:
            label = (os.path.basename(value) if kind == "edges"
                     else f"events_routed_seed{value}")
            for pair in range(1, args.pairs + 1):
                order = ["parent", "change"] if pair % 2 else ["change", "parent"]
                ranks = {}
                for side in order:
                    ranks[side] = os.path.join(tmp, f"{side}.npy")
                    cmd = [sys.executable, os.path.abspath(__file__), "child",
                           sides[side], "--max-iter", str(args.max_iter),
                           "--ranks-out", ranks[side],
                           f"--{kind.replace('_', '-')}", str(value)]
                    out = subprocess.run(cmd, capture_output=True, text=True,
                                         check=True).stdout.strip().splitlines()[-1]
                    line = f"{label} pair {pair} {side} {out}"
                    print(line, flush=True)
                    log.write(line + "\n")
                a, b = (np.load(ranks[s]) for s in ("parent", "change"))
                same_ids = a.shape == b.shape and np.array_equal(a[0], b[0])
                diff = float(np.abs(a[1] - b[1]).max()) if same_ids else float("nan")
                line = (f"{label} pair {pair} ranks "
                        f"same_ids={same_ids} max_abs_diff={diff:.3g}")
                print(line, flush=True)
                log.write(line + "\n")
                log.flush()


def main() -> None:
    p = argparse.ArgumentParser()
    sub = p.add_subparsers(dest="cmd", required=True)
    g = sub.add_parser("gen")
    g.add_argument("out")
    g.add_argument("--n", type=int, required=True)
    g.add_argument("--e", type=int, required=True)
    g.add_argument("--seed", type=int, default=1)
    c = sub.add_parser("child")
    c.add_argument("repo")
    c.add_argument("--edges")
    c.add_argument("--events-seed", type=int)
    c.add_argument("--max-iter", type=int, default=10)
    c.add_argument("--ranks-out", required=True)
    a = sub.add_parser("ab")
    a.add_argument("parent")
    a.add_argument("change")
    a.add_argument("log")
    a.add_argument("--edges", nargs="*", default=[])
    a.add_argument("--events-seed", type=int)
    a.add_argument("--pairs", type=int, default=3)
    a.add_argument("--max-iter", type=int, default=10)
    args = p.parse_args()
    if args.cmd == "gen":
        gen(args.out, args.n, args.e, args.seed)
    elif args.cmd == "child":
        child(args.repo, args.edges, args.events_seed, args.max_iter,
              args.ranks_out)
    else:
        ab(args)


if __name__ == "__main__":
    main()
