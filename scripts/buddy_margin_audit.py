"""Rule-23 margin audit for the buddy_check oracle.

buddy_check computes buddy mean/variance from per-key moments (count,
avg, var_pop per (lat, lon) key) shifted on each pair by the query key's
pivot, its mean value: S1 = sum n_k (mean_k - pivot), S2 = sum n_k (var_k +
(mean_k - pivot)^2), var = S2/n - (S1/n)^2, |value - mean| = |(value -
pivot) - S1/n|. The DuckDB oracle uses avg/var_pop over pair rows. Both
are reassociations of the same sums (Spark's partial aggregation order is
already nondeterministic). The shifted form leaves var a relative error
of about n * 1.1e-16 * (d/std)^2, d = buddy mean - pivot: for a one-row
key d/std is the row's own z-score (a large one is far from any
threshold), and on a multi-row key it stays under 1e-6 while d/std is
below ~1e4 at n ~ 100 buddies. This script computes, per row, the
distance of every decision quantity from its boundary and prints the
minima; it exits 1 when one is below MIN_MARGIN = 1e-6 (the rule-23
cross-engine floor).

Boundaries audited (harness params: num_min=5, threshold=2.0, min_std=0.1):
* |value - mean| / std_adj  vs  threshold   (the flag comparison)
* sqrt(var + var/n)         vs  min_std     (the greatest() branch)
* n                         vs  num_min     (integer — exact, skipped)

Run: python scripts/buddy_margin_audit.py [SF_DIR ...]
(default: the sf0.001 and sf0.01 correctness scales, DEFAULT_SF_DIRS)
"""

import os
import sys

import duckdb

RADIUS = 2500.0
NUM_MIN = 5
THRESHOLD = 2.0
MIN_STD = 0.1

Q = """
WITH geo AS (
  SELECT c_custkey AS id,
         50.0 + (c_custkey % 40) * 0.01 AS lat,
         10.0 + (CAST(floor(c_custkey / 40.0) AS BIGINT) % 40) * 0.01 AS lon,
         c_acctbal / 100.0 AS value
  FROM read_parquet('{dir}/customer.parquet')
),
pts AS (
  SELECT *,
         cos(radians(lat)) * cos(radians(lon)) * 6370000.0 AS x,
         cos(radians(lat)) * sin(radians(lon)) * 6370000.0 AS y,
         sin(radians(lat)) * 6370000.0 AS z
  FROM geo
),
pairs AS (
  SELECT a.id AS id, b.value AS n_value
  FROM pts a JOIN pts b
    ON a.id <> b.id
   AND (a.x-b.x)*(a.x-b.x) + (a.y-b.y)*(a.y-b.y) + (a.z-b.z)*(a.z-b.z)
       <= {r} * {r}
   AND NOT (a.x = b.x AND a.y = b.y AND a.z = b.z)
),
stats AS (
  SELECT id, count(*) AS n, avg(n_value) AS mean, var_pop(n_value) AS var
  FROM pairs GROUP BY id
),
m AS (
  SELECT g.id, s.n,
         abs(g.value - s.mean) AS dev,
         greatest(sqrt(s.var + s.var / s.n), {min_std}) AS std_adj,
         sqrt(s.var + s.var / s.n) AS raw_std
  FROM geo g JOIN stats s ON g.id = s.id
  WHERE s.n >= {num_min}
)
SELECT
  min(abs(dev / std_adj - {thr}))                          AS min_flag_margin,
  min(abs(raw_std - {min_std}))                            AS min_std_margin,
  count(*) AS n_rows
FROM m
"""

MIN_MARGIN = 1e-6
DEFAULT_SF_DIRS = [os.path.expanduser(f"~/testdata/{sf}") for sf in ("sf0.001", "sf0.01")]


def main() -> int:
    failures = []
    for d in sys.argv[1:] or DEFAULT_SF_DIRS:
        flag_m, std_m, n = duckdb.connect().execute(
            Q.format(dir=d, r=RADIUS, num_min=NUM_MIN, thr=THRESHOLD, min_std=MIN_STD)
        ).fetchone()
        print(f"{d}: min |dev/std - thr| = {flag_m:.3e}  "
              f"min |std - min_std| = {std_m:.3e}  rows = {n}")
        failures += [(d, m) for m in (flag_m, std_m) if m < MIN_MARGIN]
    if failures:
        print("MARGIN FAILURES:", failures)
        return 1
    print("all margins clear of cross-engine noise")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
