"""Driver-side budget of the iterative checks and the session defaults.

A checkpoint or a fixpoint count is taken only where its result can change
the loop's control flow (flags.iterate_flags): one iteration takes
neither, the last permitted round stays lazy, and early stop still
returns the flags the eager per-round loop returned. The perplexity
outlier stage runs on the same loop. The SCT family's three-phase driver
takes one lazy checkpoint per pass and one count per phase-1 pass.
"""

from __future__ import annotations

import itertools

import pytest
from pyspark.errors import ArithmeticException
from pyspark.sql import functions as F
from pyspark.sql.classic.dataframe import DataFrame

from test_sct_resistant import MEMBER_KW, SPIKE_KW, _grid_df
from titanlib_spark.flags import BAD, GOOD
from titanlib_spark.operators import buddy_check, fgt_spatial, sct, sct_dual, sct_resistant
from titanlib_spark.webtext.perplexity import perplexity_outlier_check

# the reference's 10-station Cartesian line (tests/buddy_check_test.py)
BUDDY_VALUES = [0, 0, 0, 0, 0, 0, 0, 0, 0.1, 1]
BUDDY_KW = dict(
    radius=10000.0,
    num_min=1,
    threshold=1.0,
    max_elev_diff=200.0,
    elev_gradient=-0.0065,
    min_std=0.01,
    coord_type="cartesian",
)


# the reference's 3-station SCT case (tests/sct_test.py:52-60)
SCT_KW = dict(
    num_min=3,
    num_max=10,
    inner_radius=10000.0,
    outer_radius=10000.0,
    num_iterations=1,
    num_min_prof=0,
    min_elev_diff=100.0,
    min_horizontal_scale=10000.0,
    vertical_scale=200.0,
    pos=2.0,
    neg=2.0,
    eps2=0.5,
)


def line_points(spark, values):
    n = len(values)
    rows = [(i, 0.0, 100.0 * i / (n - 1), 0.0, float(v)) for i, v in enumerate(values)]
    return spark.createDataFrame(
        rows, "id long, lat double, lon double, elev double, value double"
    )


def flags_of(df):
    return [r.flags for r in df.select("id", "flags").orderBy("id").collect()]


def _record_calls(monkeypatch, *names):
    """The names of the given DataFrame methods, one entry per call."""
    calls = []
    for name in names:
        orig = getattr(DataFrame, name)

        def recorded(self, *args, _name=name, _orig=orig, **kwargs):
            calls.append(_name)
            return _orig(self, *args, **kwargs)

        monkeypatch.setattr(DataFrame, name, recorded)
    return calls


@pytest.fixture
def count_calls(monkeypatch):
    return _record_calls(monkeypatch, "count")


def _persistent_rdd_ids(spark) -> set[int]:
    return {int(k) for k in spark.sparkContext._jsc.getPersistentRDDs().keySet()}


def _golden_sct_frame(spark):
    lons = [10.0, 10.01, 10.02]
    rows = [(i, 60.0, lons[i], 0.0, v) for i, v in enumerate([0.0, 1.0, 100.0])]
    return spark.createDataFrame(
        rows, "id long, lat double, lon double, elev double, value double"
    )


def test_sct_single_iteration_takes_no_checkpoint_or_count(spark, count_calls):
    df = _golden_sct_frame(spark)
    before = _persistent_rdd_ids(spark)
    out = sct(df, **SCT_KW)
    flags = {r.id: r.flags for r in out.collect()}
    assert flags == {0: 0, 1: 0, 2: 1}
    assert count_calls == []
    # no new persistent RDD; the JVM keeps that registry with weak values,
    # so an earlier test's unreferenced checkpoint may drop out meanwhile
    assert _persistent_rdd_ids(spark) <= before


def test_buddy_two_iterations_counts_twice(spark, count_calls):
    out = buddy_check(line_points(spark, BUDDY_VALUES), num_iterations=2, **BUDDY_KW)
    assert len(count_calls) == 2  # pre-loop total + between the two rounds
    assert flags_of(out) == [0] * 8 + [1, 1]


@pytest.mark.parametrize(
    "values, want, n_counts",
    [
        # round 3 still runs (lazily): no early stop within 3 rounds
        (BUDDY_VALUES, [0] * 8 + [1, 1], 3),
        # round 2 flags nothing new: early stop before round 3
        ([0] * 9 + [1], [0] * 9 + [1], 3),
    ],
)
def test_buddy_three_iterations_early_stop(spark, count_calls, values, want, n_counts):
    out = buddy_check(line_points(spark, values), num_iterations=3, **BUDDY_KW)
    assert flags_of(out) == want
    assert len(count_calls) == n_counts


def test_sct_three_iterations_early_stop(spark, count_calls):
    kw = dict(SCT_KW, num_iterations=3)
    rows = {r.id: r for r in sct(_golden_sct_frame(spark), **kw).collect()}
    assert {i: r.flags for i, r in rows.items()} == {0: 0, 1: 0, 2: 1}
    # round 2 sees two unflagged points (< num_min): nothing new, stop;
    # its verdicts (no neighborhood evaluated) are what is returned
    assert all(r.prob_gross_error is None for r in rows.values())
    assert len(count_calls) == 3


_JOB_GROUPS = itertools.count()


def _job_count(spark, fn):
    """(fn(), number of Spark jobs fn started), from the status tracker.
    Each call gets a fresh group name: one made from ``id(fn)`` can repeat
    once fn is freed, and then also counts an earlier call's jobs."""
    sc = spark.sparkContext
    group = f"job-count-{next(_JOB_GROUPS)}"
    sc.setJobGroup(group, group)
    try:
        result = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return result, len(sc.statusTracker().getJobIdsForGroup(group))


def test_sct_kernel_is_one_python_map_per_partition(spark):
    # one Arrow map call per partition of halo rows, no per-cell group
    # call; the halo exchange stays the only shuffle in front of it, so the
    # job count is the per-cell applyInPandas plan's (4)
    out = sct(_golden_sct_frame(spark), **SCT_KW)
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert "FlatMapGroupsInPandas" not in plan
    assert plan.count("MapInPandas") == 1
    flags, jobs = _job_count(spark, lambda: {r.id: r.flags for r in out.collect()})
    assert flags == {0: 0, 1: 0, 2: 1}
    assert jobs == 4


@pytest.mark.parametrize(
    "op, n_jobs, n_bad",
    [
        pytest.param(sct_resistant, 22, 8, id="sct_resistant"),
        pytest.param(fgt_spatial, 22, 8, id="fgt_spatial"),
        pytest.param(sct_dual, 22, 6, id="sct_dual"),
    ],
)
def test_sct_family_reads_each_phase1_delta_once(spark, monkeypatch, op, n_jobs, n_bad):
    df, planted = _grid_df(spark)
    df = df.cache()
    df.count()
    calls = _record_calls(
        monkeypatch, "count", "first", "isEmpty", "localCheckpoint", "mapInPandas"
    )
    kw = dict(SPIKE_KW, num_iterations=10, **MEMBER_KW[op.__name__])
    flags, jobs = _job_count(
        spark, lambda: {r.id: r.flags for r in op(df, **kw).collect()}
    )
    df.unpersist()
    bad = {i for i, f in flags.items() if f == BAD}
    assert len(bad) == n_bad and bad <= planted
    assert all(f == GOOD for i, f in flags.items() if i not in bad)
    # two phase-1 passes (the second throws nothing out), then phases 2
    # and 3: one Python map and one lazy checkpoint per pass plus the
    # pool's checkpoint, one count per phase-1 pass and no first() or
    # isEmpty() (31/31/29 jobs before)
    assert sorted(calls) == ["count"] * 2 + ["localCheckpoint"] * 5 + ["mapInPandas"] * 4
    assert jobs == n_jobs


# one host, twelve ordinary scores and one far outlier: round 1 flags the
# outlier, round 2 flags nothing new
PPL_SCORES = [1.0 + 0.1 * k for k in range(12)] + [50.0]
PPL_KW = dict(group_col="host", threshold=6.0, num_min=3, id_col="id")


def ppl_frame(spark):
    return spark.createDataFrame(
        [(i, "a.example", s) for i, s in enumerate(PPL_SCORES)],
        "id long, host string, ppl double",
    )


def test_ppl_single_iteration_takes_no_checkpoint_or_count(spark, count_calls):
    before = _persistent_rdd_ids(spark)
    out = perplexity_outlier_check(ppl_frame(spark), num_iterations=1, **PPL_KW)
    assert flags_of(out) == [0] * 12 + [1]
    assert count_calls == []
    # no new persistent RDD; the JVM keeps that registry with weak values,
    # so an earlier test's unreferenced checkpoint may drop out meanwhile
    assert _persistent_rdd_ids(spark) <= before


def test_ppl_early_stop_counts_once_per_round(spark, count_calls):
    out = perplexity_outlier_check(ppl_frame(spark), num_iterations=5, **PPL_KW)
    flags = flags_of(out)
    # pre-loop total + one count after each of the two rounds run
    assert len(count_calls) == 3
    # the eager loop: one materialized round at a time until nothing moves
    df = ppl_frame(spark)
    eager = None
    while True:
        df = spark.createDataFrame(
            perplexity_outlier_check(df, num_iterations=1, **PPL_KW).collect(),
            "id long, host string, ppl double, flags int",
        )
        if flags_of(df) == eager:
            break
        eager = flags_of(df)
    assert flags == eager == [0] * 12 + [1]


def test_ppl_host_stats_join_broadcasts_over_a_checkpoint(spark):
    # round 2 reads round 1's checkpoint, which has no size estimate, so
    # the initial plan sort-merges on the host; AQE reads the host stats'
    # real size off their shuffle and broadcasts them, so no hint is given
    out = perplexity_outlier_check(ppl_frame(spark), num_iterations=2, **PPL_KW)
    assert [r.flags for r in sorted(out.collect())] == [0] * 12 + [1]
    plan = out._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert "isFinalPlan=true" in final
    assert "SortMergeJoin" not in final and "ShuffledHashJoin" not in final
    assert final.count("BroadcastHashJoin") == 2  # host stats + delta


def test_session_debugging_off_and_ansi_errors_keep_their_class(spark):
    from pyspark.errors.utils import is_debugging_enabled

    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"
    assert not is_debugging_enabled()
    with pytest.raises(ArithmeticException) as exc:
        spark.range(1).select((F.col("id") + 1) / F.col("id")).collect()
    assert exc.value.getCondition() == "DIVIDE_BY_ZERO"
