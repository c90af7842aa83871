#!/usr/bin/env python
"""Multi-executor scaling probe (VERDICT r5 #2): run the scoring segment on
local-cluster[N_EXEC, CORES, MEM] — separate executor JVMs with separate
heaps and shuffle dirs, the closest executor-scaling analogue a single box
can express — at identical input, and report per-level throughput +
efficiency + the pair-count invariant.

Not part of the frozen bench contract; cited in OPTIMIZATION_r06.md.

  SPARK_GRAFT_SF_DIR   data dir (default /root/testdata/sf0.1)
  MINIMEL_SCALE_LEVELS comma list of "execs x cores" (default "2x4,8x4")
  MINIMEL_SCALE_REPS   reps per level (default 2, best-of)
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import bench as B  # frozen segment definitions — reuse, do not redefine
from minimel_spark.session import get_spark


def main():
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    levels = [
        tuple(int(v) for v in lv.split("x"))
        for lv in os.environ.get("MINIMEL_SCALE_LEVELS", "2x4,8x4").split(",")
    ]
    reps = int(os.environ.get("MINIMEL_SCALE_REPS", "2"))
    out = {}
    for n_exec, cores in levels:
        master = f"local-cluster[{n_exec},{cores},{4096}]"
        spark = get_spark(
            "bench-scale-cluster",
            master=master,
            shuffle_partitions=max(2 * n_exec * cores, 8),
            extra_conf={
                "spark.executor.memory": "3g",
                # local-cluster executors are separate JVMs: their Python
                # workers do not inherit the driver's sys.path, so the repo
                # must be importable via the executor environment
                "spark.executorEnv.PYTHONPATH": os.path.dirname(
                    os.path.abspath(__file__)
                ),
            },
        )
        spark.sparkContext.setLogLevel("ERROR")
        records, counts, pars, n_pars, n_rec, _ = B.build_records(spark, sf_dir)
        best, n_pairs = None, 0
        for _ in range(reps):
            scored, n_pairs, sec = B.score_segment(spark, records, counts)
            scored.unpersist()
            best = sec if best is None else min(best, sec)
        out[f"{n_exec}x{cores}"] = {
            "sec": round(best, 2),
            "pairs_per_sec": round(n_pairs / best, 1),
            "n_pairs": n_pairs,
            "total_cores": n_exec * cores,
        }
        records.unpersist()
        counts.unpersist()
        pars.unpersist()
        spark.stop()
        time.sleep(3)
    keys = list(out)
    if len(keys) >= 2:
        lo, hi = out[keys[0]], out[keys[-1]]
        ratio = hi["total_cores"] / lo["total_cores"]
        out["efficiency"] = round(
            hi["pairs_per_sec"] / lo["pairs_per_sec"] / ratio, 3
        )
        out["identical_pair_counts"] = all(
            out[k]["n_pairs"] == lo["n_pairs"] for k in keys
        )
    print(json.dumps(out))


if __name__ == "__main__":
    main()
