"""Spatial-family scale bench: buddy / buddy_event / isolation / sct
throughput at 1e5 and 1e6 stations (reference configs, constant density).

The reference's own benchmark (reference tests/benchmark.py:21-53) draws
uniform stations and its --scaling flag grows the AREA with N (rand()*s
coords), keeping density constant — we mirror that: n stations in a
sqrt(n/1e4)-degree box, so per-row neighborhood work stays fixed and the
measurement is engine throughput, not quadratic blow-up.

Reference single-core baselines (BASELINE.md):
  buddy_check        1e4 obs / 0.64 s  = 15.6 k obs/s
  buddy_event_check  1e4 obs / 0.64 s  = 15.6 k obs/s
  isolation_check    1e4 obs / 0.57 s  = 17.5 k obs/s
  sct                1e3 obs / 2.94 s  = 340 obs/s (1e3-density box)

Usage: python scripts/spatial_bench.py [--sizes 100000,1000000] [--cpus 32]
Appends a results block to BENCH_SCALING.md and prints one JSON line; each
op and size reports its flagged row count and an order-free (id, flags)
digest, so two runs flagged the same rows iff both match.
"""

from __future__ import annotations

import argparse
import datetime
import json
import os
import time

import numpy as np

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
import sys

sys.path.insert(0, REPO)


def make_spark(cpus: int):
    from pyspark.sql import SparkSession

    return (
        SparkSession.builder.master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(max(cpus * 2, 8)))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_HEAP", "48g"))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false")
        .appName("spatial_bench")
        .getOrCreate()
    )


def stations(spark, n: int, density_ref_n: float = 1e4):
    """n stations, constant reference density (1e4 per 1-degree box)."""
    rng = np.random.default_rng(1000)
    s = float(np.sqrt(n / density_ref_n))
    import pandas as pd

    pdf = pd.DataFrame(
        {
            "id": np.arange(n, dtype=np.int64),
            "lat": rng.random(n) * s,
            "lon": rng.random(n) * s,
            "elev": rng.random(n),
            "value": rng.random(n) * 3,
        }
    )
    return spark.createDataFrame(pdf).repartition(64).localCheckpoint(eager=True)


def _drop_dead_blocks(spark):
    """Unpersist every cached/checkpointed RDD and let the JVM reclaim:
    dead frames pinned in storage memory squeeze execution memory and
    push the big partial aggregations into spill (measured 47s -> 175s+
    for buddy_check at 1e6 when previous ops' blocks linger)."""
    import gc

    gc.collect()
    it = spark.sparkContext._jsc.sc().getPersistentRDDs().iterator()
    while it.hasNext():
        it.next()._2().unpersist(True)


def ref_stations(spark, n: int, kind: str, seed: int = 1000):
    """Station fields mirroring the reference's own informal timing tests
    (tests/sct_resistant_test.py:50+ N=5000 w/ 30% gross errors,
    tests/sct_dual_test.py:11-50 N=100000 w/ 1% flips), area grown with n
    so per-circle density matches the reference test at any size."""
    import pandas as pd

    rng = np.random.default_rng(seed)
    ref_n = 100000.0 if kind == "dual" else 5000.0
    scale = float(np.sqrt(n / ref_n))
    lat_span, lon_span = 15.0 * scale, 25.0 * scale
    lats = 55.0 + rng.random(n) * lat_span
    lons = 5.0 + rng.random(n) * lon_span
    elevs = rng.random(n) * 2500.0
    cols = {
        "id": np.arange(n, dtype=np.int64),
        "lat": lats, "lon": lons, "elev": elevs,
    }
    if kind == "dual":
        values = np.where(lons >= 5.0 + lon_span * 0.5, 0.0, 10.0)
        idx = rng.integers(0, n - 1, size=int(np.ceil(n * 0.01)))
        values[idx] = 10.0 - values[idx]
        cols["value"] = values
    else:
        values = 30.0 - 0.0065 * elevs
        idx = rng.integers(0, n - 1, size=int(np.ceil(n * 0.3)))
        values[idx] = rng.random(idx.size) * 100.0 - 50.0
        cols.update(
            value=values,
            mina=values - 20.0, maxa=values + 20.0,
            minv=values - 1.0, maxv=values + 1.0,
        )
    pdf = pd.DataFrame(cols)
    return spark.createDataFrame(pdf).repartition(64).localCheckpoint(eager=True)


def flag_digest(out) -> tuple[int, str]:
    """(flagged rows, order-free digest of their (id, flags)) in one job:
    two runs flagged the same rows iff both match (up to a 64-bit hash
    collision)."""
    from pyspark.sql import functions as F

    r = (
        out.where(F.col("flags") != 0)
        .agg(F.count(F.lit(1)).alias("n"),
             F.bit_xor(F.xxhash64("id", "flags")).alias("h"))
        .first()
    )
    return r["n"], f"{(r['h'] or 0) & (2**64 - 1):016x}"


def timed(spark, df_factory, fn) -> tuple[float, tuple[int, str]]:
    """Best-of-2 steady state: the first run pays one-time JVM JIT/codegen
    that a long-lived cluster amortizes (same policy as bench.py); storage
    is cleaned between runs so measurements don't poison each other.
    Returns (best wall, the last run's `flag_digest` of fn's output)."""
    best = float("inf")
    for _ in range(2):
        df = df_factory()
        t0 = time.time()
        flagged = flag_digest(fn(df))
        best = min(best, time.time() - t0)
        _drop_dead_blocks(df.sparkSession)
    return best, flagged


def run_ops(spark, n: int, ops: list[str]) -> dict[str, tuple]:
    """op -> (best wall, (flagged rows, flag digest), rows timed)."""
    from titanlib_spark.operators.buddy_check import buddy_check
    from titanlib_spark.operators.buddy_event_check import buddy_event_check
    from titanlib_spark.operators.isolation_check import isolation_check
    from titanlib_spark.operators.sct import sct

    mk = lambda: stations(spark, n)
    res = {}
    if "isolation" in ops:
        # reference tests/benchmark.py:39
        res["isolation_check"] = (*timed(
            spark, mk,
            lambda df: isolation_check(df, num_min=15, radius=3000.0),
        ), n)
    if "buddy" in ops:
        # reference tests/benchmark.py:33-35
        res["buddy_check"] = (*timed(
            spark, mk,
            lambda df: buddy_check(
                df, radius=10000.0, num_min=10, threshold=0.3,
                max_elev_diff=100.0, elev_gradient=0.0, min_std=1.0,
                num_iterations=1,
            ),
        ), n)
    if "buddy_event" in ops:
        # reference tests/benchmark.py:36-38
        res["buddy_event_check"] = (*timed(
            spark, mk,
            lambda df: buddy_event_check(
                df, radius=10000.0, num_min=10, event_threshold=0.2,
                threshold=0.1, max_elev_diff=100.0, num_iterations=1,
            ),
        ), n)
    if "sct_resistant" in ops:
        # reference tests/sct_resistant_test.py:50+ (N=5000 config,
        # constant-density scaled; Theil-Sen background, per-row bands)
        from titanlib_spark.operators import sct_resistant

        res["sct_resistant"] = (*timed(
            spark, lambda: ref_stations(spark, n, "resistant"),
            lambda df: sct_resistant(
                df, background_elab_type="vertical_profile_theil_sen",
                num_min_outer=3, num_max_outer=50, inner_radius=30000.0,
                outer_radius=50000.0, num_iterations=100, num_min_prof=10,
                min_elev_diff=500.0, min_horizontal_scale=500.0,
                max_horizontal_scale=10000.0, kth_closest=3,
                vertical_scale=600.0, value_mina="mina", value_maxa="maxa",
                value_minv="minv", value_maxv="maxv", eps2=0.5,
                tpos=3.0, tneg=3.0, basic=False,
            ),
        ), n)
    if "sct_dual" in ops:
        # reference tests/sct_dual_test.py:11-50 (N=100000 config)
        from titanlib_spark.operators import sct_dual

        res["sct_dual"] = (*timed(
            spark, lambda: ref_stations(spark, n, "dual"),
            lambda df: sct_dual(
                df, event_threshold=0.1, condition="Gt",
                test_threshold=0.5, outer_radius=50000.0,
                inner_radius=30000.0, num_min_outer=3, num_max_outer=50,
                num_iterations=100, min_horizontal_scale=500.0,
                max_horizontal_scale=10000.0, kth_closest=3,
                vertical_scale=600.0,
            ),
        ), n)
    if "sct" in ops:
        # reference tests/benchmark.py:40-53 (1e3-per-degree-box density)
        res["sct"] = (
            *timed(
                spark, lambda: stations(spark, n // 10, density_ref_n=1e3),
                lambda df: sct(
                    df, num_min=10, num_max=50, inner_radius=5000.0,
                    outer_radius=50000.0, num_iterations=1, num_min_prof=50,
                    min_elev_diff=100.0, min_horizontal_scale=10000.0,
                    vertical_scale=200.0, pos=4.0, neg=4.0, eps2=0.5,
                ),
            ),
            n // 10,
        )
    return res


REF_OBS_PER_SEC = {
    "isolation_check": 17.5e3,
    "buddy_check": 15.6e3,
    "buddy_event_check": 15.6e3,
    "sct": 340.0,
    # the reference publishes no numbers for these (its tests print
    # wall time at run time and the binary doesn't build here) — rows/s
    # is reported without a vs_ref ratio
    "sct_resistant": None,
    "sct_dual": None,
}


def steal_pct(seconds: float = 3.0) -> float:
    """Hypervisor steal fraction over a short window (from /proc/stat).

    This box sits on shared infrastructure: steal spikes of 10-30% have
    been observed, inflating shuffle-heavy wall times 4-5x (stragglers
    serialize barriers). Any number taken at >2% steal is not an engine
    measurement — the harness refuses to print one without a warning."""
    import time as _t

    def snap():
        with open("/proc/stat") as f:
            parts = f.readline().split()
        vals = [int(x) for x in parts[1:]]
        return sum(vals), vals[7]  # total, steal

    t0, s0 = snap()
    _t.sleep(seconds)
    t1, s1 = snap()
    return 100.0 * (s1 - s0) / max(t1 - t0, 1)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sizes", default="100000,1000000")
    ap.add_argument("--cpus", type=int, default=int(os.environ.get("SPARK_GRAFT_CPUS", "32")))
    ap.add_argument("--ops", default="isolation,buddy,buddy_event,sct")
    ap.add_argument("--no-md", action="store_true")
    args = ap.parse_args()

    st = steal_pct()
    if st > 2.0:
        print(
            f"WARNING: hypervisor steal {st:.1f}% — wall times will be "
            "inflated by external contention; re-run in a quiet window",
            file=sys.stderr,
        )

    spark = make_spark(args.cpus)
    ops = args.ops.split(",")
    results = {}
    for n in [int(x) for x in args.sizes.split(",")]:
        r = run_ops(spark, n, ops)
        out = {}
        for op, v in r.items():
            sec, (n_flagged, digest), rows = v
            ref = REF_OBS_PER_SEC[op]
            out[op] = {
                "sec": round(sec, 2),
                "rows": rows,
                "flagged": n_flagged,
                "flag_digest": digest,
                "rows_per_sec": round(rows / sec, 1),
                "vs_ref_1core": round((rows / sec) / ref, 2) if ref else None,
            }
        results[str(n)] = out
    spark.stop()

    line = {
        "metric": "spatial_rows_per_sec",
        "cpus": args.cpus,
        "steal_pct": round(st, 1),
        "results": results,
    }
    print(json.dumps(line))

    if not args.no_md:
        stamp = datetime.datetime.now().strftime("%Y-%m-%d %H:%M")
        rows_md = []
        for n, out in results.items():
            for op, d in out.items():
                rows_md.append(
                    f"| {op} | {int(n):,} | {d['rows']:,} | {d['sec']}s "
                    f"| {d['rows_per_sec']:,.0f} | {d['vs_ref_1core']}x "
                    f"| {d['flagged']:,} | `{d['flag_digest']}` |"
                )
        block = (
            f"\n## Spatial-family scale bench ({stamp}, local[{args.cpus}])\n\n"
            "Reference configs (tests/benchmark.py), constant density. "
            "`vs ref` = our rows/s over the reference's published\n"
            "single-core rows/s (15.6k buddy / 17.5k isolation / 340 sct).\n\n"
            "| op | n stations | rows timed | wall | rows/s | vs ref 1-core "
            "| flagged | flag digest |\n"
            "|---|---|---|---|---|---|---|---|\n" + "\n".join(rows_md) + "\n"
        )
        with open(os.path.join(REPO, "BENCH_SCALING.md"), "a") as f:
            f.write(block)


if __name__ == "__main__":
    main()
