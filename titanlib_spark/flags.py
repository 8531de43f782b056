"""QC flag vocabulary and merge semantics.

Flag codes follow the reference's vocabulary (reference
include/titanlib.h:132, src/sct_resistant.cpp:120-125):

* 0    — good
* 1    — bad
* 11   — isolated inside inner radius (untestable, accept_isolated=false)
* 12   — isolated inside outer radius (untestable)
* 100  — matrix-inversion / numeric failure in the SCT family
* -999 — not (yet) checked

Merge is an OR-semilattice: flags accumulate monotonically and a check can
never un-flag a row (reference src/dataset.cpp:189-192 — `merge` only
touches rows whose current flag is 0).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

GOOD = 0
BAD = 1
ISOLATED_INNER = 11
ISOLATED_OUTER = 12
FAILED_INVERSION = 100
UNCHECKED = -999

FLAG_COL = "flags"


def merge_flags(old: Column, new: Column) -> Column:
    """Monotone flag merge: rows already flagged keep their flag."""
    return F.when(old == GOOD, new).otherwise(old)


def apply_check_flags(
    df: DataFrame,
    check_flag: Column,
    flag_col: str = FLAG_COL,
) -> DataFrame:
    """Fold a per-check flag column into the running `flags` column.

    `check_flag` is evaluated for every row but only takes effect on rows
    currently GOOD (scenario-1 merge, reference src/dataset.cpp:206-220).
    """
    if flag_col not in df.columns:
        df = df.withColumn(flag_col, F.lit(GOOD))
    return df.withColumn(flag_col, merge_flags(F.col(flag_col), check_flag))


def ensure_flags(df: DataFrame, flag_col: str = FLAG_COL) -> DataFrame:
    if flag_col not in df.columns:
        df = df.withColumn(flag_col, F.lit(GOOD))
    return df


def iterate_flags(
    df: DataFrame,
    one_round: Callable[[DataFrame], DataFrame],
    num_iterations: int,
    flag_col: str = FLAG_COL,
) -> DataFrame:
    """Driver-side fixpoint loop of the iterative checks: apply
    `one_round` (flags snapshot in, flags out) up to `num_iterations`
    times, stopping early when a round flags nothing new (reference
    src/buddy_check.cpp:161-176, src/sct.cpp:294-299).

    A checkpoint (flags snapshot) and a count (fixpoint test) are taken
    only BETWEEN rounds, where their result can change control flow: a
    single iteration takes neither, and the last permitted round returns
    its plan lazily (rules 26 and 32). The checkpoints are lazy, so the
    count that follows materializes each one in the same job."""
    n = int(num_iterations)
    if n > 1:
        df = df.localCheckpoint(eager=False)
        prev_bad = df.where(F.col(flag_col) != GOOD).count()
    for i in range(n):
        new_df = one_round(df)
        if i == n - 1:
            return new_df
        new_df = new_df.localCheckpoint(eager=False)
        n_bad = new_df.where(F.col(flag_col) != GOOD).count()
        df.unpersist()  # rule 17: dead checkpoint blocks squeeze exec memory
        df = new_df
        if n_bad == prev_bad:
            break
        prev_bad = n_bad
    return df
