"""Margin audit for the 3-point SCT oracles (sct_general /
sct_resistant_general / sct_dual_general).

Cross-engine noise on the triplet chains is ~1e-8 (1-ulp SIMD-vs-libm trig
amplified through acos near 1 and the OI algebra). The oracles stay green
iff every DECISION the chain makes sits further than that from its
boundary:

* threshold comparisons (pog vs pos/neg, z vs tpos/tneg, z vs tdual),
* sign branches (cvres vs 0, va-yb vs 0, sigma vs 0, crs vs own/0.45),
* the round(x, 4) grid (value must not sit ~1e-8 from a half-step).

Run at sf0.01 (the driver's correctness scale); pass SF dirs as args:
python scripts/sct_triplet_margins.py SF_DIR [SF_DIR ...]
Exits nonzero if any margin is below MIN_MARGIN.
"""

from __future__ import annotations

import os
import sys

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entry  # noqa: E402

MIN_MARGIN = 1e-6
TABLES = ("customer",)


def _register(con, sf_dir):
    for t in TABLES:
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )


def _halfgrid_margin(expr: str) -> str:
    """Distance of expr*1e4 from the nearest rounding half-step."""
    return f"abs(abs({expr} * 10000.0 - floor({expr} * 10000.0) - 0.5))"


def main() -> int:
    sql = entry.oracle_sql()
    failures = []
    for sf_dir in sys.argv[1:] or ["/root/testdata/sf0.01"]:
        con = duckdb.connect()
        _register(con, sf_dir)

        # sct_general: strip the final SELECT, audit the verdict CTE
        body = sql["sct_general"].split("SELECT ka AS c_custkey")[0]
        q = body + f"""
SELECT min(least(
  abs(pog_a - pos_a), abs(pog_a - neg_a),
  abs(pog_b - pos_b), abs(pog_b - neg_b),
  abs(pog_c - pos_c), abs(pog_c - neg_c),
  abs(cvres_a), abs(cvres_b), abs(cvres_c),
  {_halfgrid_margin('pog_a')}, {_halfgrid_margin('pog_b')},
  {_halfgrid_margin('pog_c')}
)) FROM verdict
"""
        m = con.execute(q).fetchone()[0]
        print(f"{sf_dir} sct_general min margin: {m:.3e}")
        if m < MIN_MARGIN:
            failures.append(("sct_general", sf_dir, m))

        body = sql["sct_resistant_general"].split("SELECT ka AS c_custkey")[0]
        q = body + f"""
SELECT min(least(
  coalesce(abs(z_a - thr), 1.0),
  CASE WHEN sigma != 0 THEN abs(sigma) ELSE 1.0 END,
  coalesce({_halfgrid_margin('z_a')}, 1.0)
)) FROM fin
"""
        m = con.execute(q).fetchone()[0]
        print(f"{sf_dir} sct_resistant_general min margin: {m:.3e}")
        if m < MIN_MARGIN:
            failures.append(("sct_resistant_general", sf_dir, m))

        body = sql["sct_dual_general"].split("SELECT ka AS c_custkey")[0]
        q = body + """
SELECT min(least(
  abs(crs - own), abs(crs - 0.45), abs(own - 0.45),
  abs(crs * ln(crs / own) - tdual_a)
)) FROM idiv WHERE n1 NOT IN (0, 3)
"""
        m = con.execute(q).fetchone()[0]
        print(f"{sf_dir} sct_dual_general min margin: {m:.3e}")
        if m < MIN_MARGIN:
            failures.append(("sct_dual_general", sf_dir, m))

    if failures:
        print("MARGIN FAILURES:", failures)
        return 1
    print("all margins clear of cross-engine noise")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
