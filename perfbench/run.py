"""Closed-loop benchmark of titanlib_spark, one workload per JVM.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. The workload's inputs are generated from the
seed; after set-up and the workload's warm-up iterations the loop runs
iterations for `--seconds`, checking each one's output outside its timed
window. The timings come from the iterations during which the hypervisor
stole the least CPU time from this machine. The last stdout line is one
JSON object {correct, attempted, failed, metrics}: the end-to-end metrics
of BENCHMARK.json with --trace 0, its per-layer metrics with --trace 1. The
line before it stamps the run (steal and iowait, every iteration's wall and
steal, which iterations were timed). A traced run alternates traced and
untraced iterations so it can report its own tracing overhead, then probes
single layers directly and writes every span to
.perfbench/spans/<workload>-<seed>.json.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time
import traceback
from statistics import median

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench")
HEAP = "2g"  # fits a 15 GiB host shared with other processes
CALM_STEAL_PCT = 2.0  # steal (% of all CPU time) up to which an iteration is undisturbed


def _args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _box_fit_env(run_dir: str, cpus: int) -> None:
    """Environment the JVM and its Python workers inherit: core count and
    heap through the package's own knobs, the repo on the workers' path,
    and every scratch location inside the checkout."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    old_pp = os.environ.get("PYTHONPATH")
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_DRIVER_MEMORY=HEAP,
        PYTHONPATH=ROOT + (os.pathsep + old_pp if old_pp else ""),
        PYSPARK_PYTHON=sys.executable,
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=os.path.join(run_dir, "local"),
        JAVA_TOOL_OPTIONS=f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
    )


def _stop_jvm(spark) -> None:
    """Stop Spark, close the gateway, and wait for the JVM and every
    process it started (the Python worker daemon and its workers) to
    exit."""
    from pyspark import SparkContext

    from perfbench.harness import process_tree, wait_gone

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    started = process_tree(proc.pid)[1:] if proc is not None else []
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    wait_gone(started)
    SparkContext._gateway = None
    SparkContext._jvm = None


class Record:
    def __init__(self, k: int, warmup: bool, traced: bool) -> None:
        self.k, self.warmup, self.traced = k, warmup, traced
        self.ok = False
        self.wall = None
        self.steal = None  # % of host CPU time stolen during the timed window
        self.layers: dict[str, float] = {}
        self.cover = None  # top-level spans / wall


def _run_iteration(wl, k, warmup, traced, tracer, status, sc) -> Record:
    from perfbench.harness import free_new_rdds, persistent_rdds, stat_snap, window_contention

    rec = Record(k, warmup, traced)
    before = set(persistent_rdds(sc))
    try:
        wl.prepare(k)
        mark = status.mark() if traced else None
        tracer.active = traced
        try:
            with tracer.span("iteration", k=k) as root:
                snap0 = stat_snap()
                t0 = time.time()
                wl.iterate(k)
                t1 = time.time()
                snap1 = stat_snap()
        finally:
            tracer.active = False
        rec.wall = t1 - t0
        rec.steal = window_contention(snap0, snap1)["steal_pct"]
        if traced:  # before the check's own Spark jobs
            rec.layers.update(status.since(mark, t0, t1))
        wl.check(k)
        if traced:
            rec.layers.update(wl.counts(k))
            spans = tracer.descendants(root["id"])
            rec.layers["spark.checkpoints"] = float(sum(s.get("checkpoints", 0) for s in spans))
            for s in spans:
                key = s["name"] + "_s"
                rec.layers[key] = rec.layers.get(key, 0.0) + s["end"] - s["start"]
            top = sum(s["end"] - s["start"] for s in tracer.children(root["id"]))
            rec.cover = top / rec.wall
            root["spark"] = {k_: v for k_, v in rec.layers.items() if k_.startswith("spark.")}
        rec.ok = True
    except Exception:
        traceback.print_exc(file=sys.stderr)
    finally:
        free_new_rdds(sc, before)
    return rec


def main(argv=None) -> int:
    args = _args(argv)
    sys.path.insert(0, ROOT)
    try:
        import titanlib_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: titanlib_spark is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2
    from perfbench import harness as H
    from perfbench.workloads import WORKLOADS

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    run_dir = os.path.join(WORK, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    cpus = len(os.sched_getaffinity(0))
    _box_fit_env(run_dir, cpus)
    snap0 = H.stat_snap()
    tracer = H.Tracer()

    t_setup = time.time()
    from titanlib_spark.session import get_spark

    t_session = time.time()
    spark = get_spark(
        "perfbench",
        extra_conf={
            "spark.local.dir": os.path.join(run_dir, "local"),
            "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
            # a pinned, pre-touched heap: JVM RSS no longer depends on how
            # far GC let the heap grow, so peak RSS repeats run to run
            "spark.driver.extraJavaOptions": f"-Xms{HEAP} -XX:+AlwaysPreTouch",
        },
    )
    get_spark_s = time.time() - t_session
    sc = spark.sparkContext
    sampler = H.RssSampler(sc._gateway.proc.pid).start()
    status = H.StatusStore(spark) if args.trace else None
    wl = WORKLOADS[args.workload](spark, args.seed, os.path.join(run_dir, "data"), tracer)
    if args.trace:
        H.install_checkpoint_counter(tracer)
        wl.install_traced()
    records: list[Record] = []
    probes: dict[str, float] = {}
    probe_failed = 0
    try:
        t_inputs = time.time()
        wl.setup()
        t_warm = time.time()
        for k in range(wl.warmup):
            records.append(_run_iteration(wl, k, True, False, tracer, status, sc))
        setup_s = time.time() - t_setup
        setup_parts = {
            "session_s": get_spark_s,
            "inputs_s": t_warm - t_inputs,
            "warmup_s": t_setup + setup_s - t_warm,
        }

        # closed loop: the next iteration starts only when the previous
        # one was checked; stop when half of another would overrun
        deadline = time.time() + args.seconds
        k, last = wl.warmup, 0.0
        min_iters = 2 if args.trace else 1
        while k - wl.warmup < min_iters or time.time() + last / 2 < deadline:
            traced = bool(args.trace) and (k - wl.warmup) % 2 == 1
            t_it = time.time()
            records.append(_run_iteration(wl, k, False, traced, tracer, status, sc))
            last = time.time() - t_it
            k += 1
        if args.trace:
            tracer.active = True
            try:
                with tracer.span("probes"):
                    probes = wl.probes()
            except Exception:
                traceback.print_exc(file=sys.stderr)
                probe_failed = 1
            finally:
                tracer.active = False
    finally:
        wl.close()
        sampler.stop()
        _stop_jvm(spark)
    contention = H.window_contention(snap0, H.stat_snap())

    measured = [r for r in records if not r.warmup and r.ok]
    control = [r for r in measured if not r.traced]
    traced = [r for r in measured if r.traced]
    # a traced run's probe phase counts as one more unit of work
    attempted = len(records) + (1 if args.trace else 0)
    failed = sum(not r.ok for r in records) + probe_failed
    values: dict[str, float] = {}
    walls, kept_k = [], None
    if args.trace:
        names = [m["name"] for m in spec["per_layer"]]
        for name in names:
            samples = [r.layers[name] for r in traced if name in r.layers]
            values[name] = median(samples) if samples else probes.get(name, 0.0)
        if traced and control:
            base = median([r.wall for r in control])
            values["trace.overhead_frac"] = median([r.wall for r in traced]) / base - 1.0
            values["trace.top_span_cover"] = (
                median([r.cover * r.wall for r in traced]) / base
            )
        values["session.get_spark_s"] = get_spark_s
        values["failed_frac"] = failed / attempted
        values["host.steal_pct"] = contention["steal_pct"]
        values["host.iowait_pct"] = contention["iowait_pct"]
        metrics = spec["per_layer"]
        spans_dir = os.path.join(WORK, "spans")
        os.makedirs(spans_dir, exist_ok=True)
        spans_file = os.path.join(spans_dir, f"{args.workload}-{args.seed}.json")
        spans_rel = os.path.relpath(spans_file, ROOT)
        selfs = H.self_times(tracer.spans)
        for s in tracer.spans:
            s["self_s"] = selfs[s["id"]]
        with open(spans_file, "w") as f:
            json.dump({"workload": args.workload, "seed": args.seed, "spans": tracer.spans}, f)
    else:
        metrics = spec["end_to_end"]
        # an iteration's wall rises with the CPU time the hypervisor steals
        # from this machine (at 14-17% steal a pass took nearly twice as long
        # as at 1%): the timings come from the iterations the host disturbed
        # least (see README.md)
        calm = H.least_disturbed([r.steal for r in control], CALM_STEAL_PCT)
        kept = [control[i] for i in calm]
        walls = [r.wall for r in kept]
        if walls:
            values["iter_wall_s"] = median(walls)
            values["iter_wall_tail_s"], tail_pct = H.tail(walls)
            values["rows_per_s"] = wl.rows / values["iter_wall_s"]
        values["setup_s"] = setup_s
        values["peak_rss_mb"] = sampler.peak_mb
        spans_rel = None
        kept_k = [r.k for r in kept]
    shutil.rmtree(run_dir, ignore_errors=True)

    print(json.dumps({
        "stamp": {
            "workload": args.workload, "seed": args.seed, "trace": args.trace,
            "cpus": cpus, "heap": HEAP, "rows_per_iteration": wl.rows,
            "warmup_iterations": wl.warmup, "measured_iterations": len(control),
            "iteration_walls_s": [r.wall for r in records],
            "iteration_steal_pct": [r.steal for r in records],
            "timed_iterations": kept_k,
            "traced_iterations": len(traced), **setup_parts,
            "tail_percentile": tail_pct if walls else None,
            "steal_pct": contention["steal_pct"], "iowait_pct": contention["iowait_pct"],
            "steal_clean": contention["steal_pct"] <= CALM_STEAL_PCT, "spans_file": spans_rel,
        }
    }))
    correct = failed == 0 and bool(measured) and all(m["name"] in values for m in metrics)
    print(json.dumps({
        "correct": correct,
        "attempted": attempted,
        "failed": failed,
        "metrics": {
            m["name"]: {"value": values.get(m["name"], 0.0), "unit": m["unit"]} for m in metrics
        },
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
