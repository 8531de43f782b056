"""Differential property test of the perplexity outlier stage: Spark's
`perplexity_outlier_check` against a numpy round-synchronous twin, over
hypothesis-random hosts, scores, pre-existing flags and parameters.

The twin re-derives the stage from its definition, not from the plan:
each round reads one flags snapshot, takes every GOOD scored row's host
statistics (median, IQR, count) or, for a NULL host or a host with fewer
than `num_min` GOOD scored rows, the global ones, flags every row whose
robust z = (ppl - median) / (IQR + IQR/sqrt(n)) exceeds the threshold
(IQR 0 falls back to a 0.25 floor; a score at or under `valid_max`
vouches for its row), and stops early when a round flags nothing new.

Quantiles follow Spark's exact `percentile`: position (n - 1) * p, and
between two distinct neighbours a, b the blend (hi - pos) * a +
(pos - lo) * b. np.quantile's lerp (rule 25's two branches) differs in the
last bit on 2-4-element groups, so it is not used here.
"""

from __future__ import annotations

import math

import numpy as np
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from titanlib_spark.webtext.perplexity import perplexity_outlier_check


def spark_percentile(values: np.ndarray, p: float) -> float:
    """Spark's exact `percentile` (Percentile.getPercentile) on one group."""
    v = np.sort(values)
    pos = (len(v) - 1) * p
    lo, hi = math.floor(pos), math.ceil(pos)
    if lo == hi or v[lo] == v[hi]:
        return float(v[lo])
    return (hi - pos) * float(v[lo]) + (pos - lo) * float(v[hi])


def _stats(values: np.ndarray) -> tuple[float, float, int]:
    iqr = spark_percentile(values, 0.75) - spark_percentile(values, 0.25)
    return spark_percentile(values, 0.5), iqr, len(values)


def ppl_outlier_model(host, ppl, flags, *, threshold, num_min,
                      num_iterations, valid_max):
    """Round-synchronous twin of the outlier stage; `ppl` is NaN where the
    score is NULL, `host` holds None for a NULL host."""
    host = np.asarray(host, dtype=object)
    flags = np.asarray(flags).copy()
    scored = ~np.isnan(ppl)
    for _ in range(num_iterations):
        good = (flags == 0) & scored
        if not good.any():
            break
        glob = _stats(ppl[good])
        new = flags.copy()
        for i in np.flatnonzero(good):
            peers = good & (host == host[i]) if host[i] is not None else None
            if peers is not None and peers.sum() >= num_min:
                mu, iqr, n = _stats(ppl[peers])
            else:
                mu, iqr, n = glob
            denom = iqr + iqr / math.sqrt(float(n))
            z = (ppl[i] - mu) / (denom if denom > 1e-9 else 0.25)
            if z > threshold and (valid_max is None or ppl[i] > valid_max):
                new[i] = 1
        if (new != flags).sum() == 0:
            break
        flags = new
    return flags


HOSTS = [None, "a.example", "b.example", "c.example"]
# a coarse grid makes ties (and IQR 0) common; free floats cover the rest
score = st.one_of(
    st.none(),
    st.sampled_from([0.5 * k for k in range(9)]),
    st.floats(0.0, 12.0, allow_nan=False),
)
row = st.tuples(st.sampled_from(HOSTS), score, st.sampled_from([0, 0, 0, 1]))


def _check(spark, rows, threshold, num_min, iters, valid_max):
    expected = ppl_outlier_model(
        [r[0] for r in rows],
        np.array([np.nan if r[1] is None else r[1] for r in rows], dtype=float),
        np.array([r[2] for r in rows]),
        threshold=threshold, num_min=num_min, num_iterations=iters,
        valid_max=valid_max,
    )
    df = spark.createDataFrame(
        [(i, h, None if s is None else float(s), f)
         for i, (h, s, f) in enumerate(rows)],
        "id long, host string, ppl double, flags int",
    )
    out = perplexity_outlier_check(
        df, group_col="host", threshold=threshold, num_min=num_min,
        num_iterations=iters, valid_max=valid_max, id_col="id",
    )
    got = {r["id"]: r["flags"] for r in out.select("id", "flags").collect()}
    assert [got[i] for i in range(len(rows))] == list(expected)


A, B = "a.example", "b.example"


@settings(
    max_examples=20,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture,
                           HealthCheck.too_slow],
)
@given(
    rows=st.lists(row, min_size=1, max_size=30),
    threshold=st.floats(0.5, 4.0),
    num_min=st.integers(1, 6),
    iters=st.integers(1, 4),
    valid_max=st.sampled_from([None, 3.0]),
)
# ties on the quantile positions, with a nonzero IQR
@example(rows=[(A, float(v), 0) for v in (1, 1, 2, 2, 2, 3, 3, 9)],
         threshold=1.0, num_min=3, iters=2, valid_max=None)
# IQR 0: every peer scores the same, so the 0.25 floor sets the scale
@example(rows=[(A, 1.5, 0)] * 5 + [(A, 1.75, 0), (A, 1.6, 0)],
         threshold=0.5, num_min=2, iters=3, valid_max=None)
# NULL hosts and NULL scores read the global background / are never flagged
@example(rows=[(None, 1.0, 0), (None, 1.5, 0), (None, 8.0, 0), (None, None, 0),
               (A, 1.0, 0), (A, 2.0, 0), (A, 3.0, 0)],
         threshold=1.0, num_min=2, iters=2, valid_max=None)
# thin host under num_min: judged against the global background
@example(rows=[(A, 1.0 + 0.1 * k, 0) for k in range(8)] + [(B, 6.0, 0)],
         threshold=2.0, num_min=3, iters=2, valid_max=None)
# every row of host B already flagged: B has no stats, A's row still tested
@example(rows=[(B, 1.0, 1), (B, 9.0, 1), (B, 2.0, 1),
               (A, 1.0, 0), (A, 1.2, 0), (A, 1.1, 0), (A, 7.0, 0)],
         threshold=1.0, num_min=2, iters=2, valid_max=None)
# valid_max band: a far score at or under 3.0 vouches for its row
@example(rows=[(A, 0.5, 0)] * 4 + [(A, 0.6, 0), (A, 3.0, 0), (A, 3.5, 0)],
         threshold=1.0, num_min=2, iters=2, valid_max=3.0)
# num_iterations cap: each round's removals expose a new outlier
@example(rows=[(A, float(v), 0) for v in (0, 0, 1, 2, 4, 8, 12)],
         threshold=1.0, num_min=1, iters=2, valid_max=None)
def test_ppl_outlier_matches_round_synchronous_twin(spark, rows, threshold,
                                                    num_min, iters, valid_max):
    _check(spark, rows, threshold, num_min, iters, valid_max)


def test_twin_percentile_matches_spark_on_small_groups(spark):
    """The twin's quantiles are Spark's bits on 2-4-element groups (where
    np.quantile's lerp branches would drift by an ulp)."""
    rng = np.random.default_rng(3)
    groups = {g: rng.uniform(0.0, 10.0, size=2 + g % 3) for g in range(60)}
    df = spark.createDataFrame(
        [(g, float(x)) for g, vals in groups.items() for x in vals],
        "g int, x double",
    )
    ps = [0.25, 0.5, 0.75]
    res = df.groupBy("g").agg(
        *[F.percentile("x", F.lit(p)).alias(f"p{i}") for i, p in enumerate(ps)]
    ).collect()
    for r in res:
        assert [r[f"p{i}"] for i in range(3)] == [
            spark_percentile(groups[r.g], p) for p in ps
        ]
