"""Per-query isolation bench (guide §1.4): noop-sink timing of named
queries() entries at an arbitrary SF dir, plus .explain("formatted") dumps.

Usage:
    python scripts/query_bench.py [--sf DIR] [--trials N] [--explain-dir DIR] name...

Each trial unpersists the RDDs its query left persisted, so the next trial
of an identical plan cannot read them (CLAUDE.md rule 31). Separate from
bench.py on purpose: bench.py is the frozen headline contract, this is
the tool for looking at one query at a time. The last line is one JSON
record with the whole window's host steal.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entry  # noqa: E402
from bench import SF_DIR, _stat_snap, window_steal  # noqa: E402
from perfbench.harness import free_new_rdds, materialize, persistent_rdds  # noqa: E402
from titanlib_spark.session import get_spark  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="+")
    ap.add_argument("--sf", default=SF_DIR)  # bench.py's: $SPARK_GRAFT_SF_DIR or sf0.1
    ap.add_argument("--trials", type=int, default=2)
    ap.add_argument("--explain-dir", default=None)
    args = ap.parse_args()

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = get_spark(
        "titanlib_spark_query_bench",
        master=f"local[{cpus}]",
        shuffle_partitions=max(8, cpus),
    )
    sc = spark.sparkContext
    qs = entry.queries()

    snap0 = _stat_snap()
    results = {}
    for name in args.names:
        if args.explain_dir:
            os.makedirs(args.explain_dir, exist_ok=True)
            plan = qs[name](spark, args.sf)._jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
            )
            with open(os.path.join(args.explain_dir, f"{name}.txt"), "w") as f:
                f.write(plan)
        trials = []
        for _ in range(args.trials):
            before = set(persistent_rdds(sc))
            sc.setJobDescription(f"query_bench:{name}")
            t0 = time.time()
            materialize(qs[name](spark, args.sf))
            trials.append(round(time.time() - t0, 3))
            free_new_rdds(sc, before)
        results[name] = {"trials": trials, "min": min(trials)}
        print(json.dumps({name: results[name]}), flush=True)
    contention = window_steal(snap0, _stat_snap())
    print(json.dumps({"sf": args.sf, "cpus": cpus, **contention, "results": results}))
    spark.stop()


if __name__ == "__main__":
    main()
