"""Driver contract for the spark-graft builder (PySpark target).

`queries()` exposes one entry per implemented operator family from
SURVEY.md §2 (QC checks, spatial joins, backgrounds, webtext pipeline,
dedup/similarity/text-stats training-data ops), each runnable at any
sf_dir. `oracle_sql()` gives the DuckDB-equivalent ANSI SQL; the few
genuinely non-SQL-expressible ops (SCT linear algebra, minhash/simhash —
xxhash64 has no DuckDB twin, ordered recurrences) are rows-only.

Numeric-parity rules used throughout (so value hashes match):
* flags/ids/ranks (ints) preferred over raw doubles;
* unavoidable doubles are round()ed on BOTH sides;
* both engines evaluate the same IEEE expression tree (same literal
  breakpoints, same fold order for array sums), so int-derived doubles
  are bit-identical.
"""

from __future__ import annotations

import math
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from titanlib_spark.operators import (
    background,
    buddy_check,
    buddy_event_check,
    dem_check,
    duplicate_check_exact,
    external_check,
    fgt,
    isolation_check,
    lag_reduction_filter,
    metadata_check,
    range_check,
    range_check_climatology,
    sct,
    sct_dual,
)
from titanlib_spark.textops import (
    bpe_ish_token_count,
    cosine_topk,
    lsh_bucketed_topk,
    minhash_lsh_dedup,
    minhash_signatures,
    ngram_jaccard_pairs,
    simhash,
    token_count,
)
from titanlib_spark.webtext import heuristics as H
from titanlib_spark.webtext.lexicon import LANGS, STOPWORDS
from titanlib_spark.webtext.pipeline import QualityFilterConfig, run_quality_pipeline
from titanlib_spark.webtext.scrub import scrub_text

DEFAULT_SF = "/root/testdata/sf0.001"


def _t(
    spark: SparkSession, sf_dir: str, name: str, spread: bool | None = None
) -> DataFrame:
    """Table loader. Small-sf parquet ships as one file -> ONE scan
    partition, which serializes every per-row expression onto a single
    core — ruinous for `documents`, whose queries run interpreted-HOF
    text expressions per row (quality-feature stage 1.35s -> 0.74s
    spread, same-window A/B). Only documents is spread by default: the
    other tables' queries shuffle immediately (aggs/joins) or fan out
    through multi-branch plans where an extra Exchange per branch costs
    more than the map side saves (embeddings A/B: near-dups 1.7s raw vs
    2.5-3.0s spread). `spread` overrides per query: pass False for
    documents queries whose FIRST operation is itself a shuffle with only
    trivial map-side work (dup_exact's md5+window: the spread exchange is
    pure overhead, 0.26s -> 0.62s measured r02->r04). Production scans
    split on their own; see titanlib_spark.session.spread_small_input."""
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if spread is None:
        spread = name == "documents"
    if spread:
        from titanlib_spark.session import spread_small_input

        df = spread_small_input(df)
    return df


# ---------------------------------------------------------------------------
# synthetic geo overlay on customer (shared by all spatial QC queries)
# ---------------------------------------------------------------------------

def _customer_geo(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    return c.select(
        F.col("c_custkey").alias("id"),
        (F.lit(50.0) + (F.col("c_custkey") % 40) * F.lit(0.01)).alias("lat"),
        (
            F.lit(10.0)
            + (F.floor(F.col("c_custkey") / F.lit(40.0)) % 40) * F.lit(0.01)
        ).alias("lon"),
        (F.col("c_acctbal") / F.lit(100.0)).alias("value"),
        (F.col("c_custkey") % 500).cast("double").alias("elev"),
        F.col("c_nationkey"),
    )


_GEO_SQL = """
geo AS (
  SELECT c_custkey AS id,
         50.0 + (c_custkey % 40) * 0.01 AS lat,
         10.0 + (CAST(floor(c_custkey / 40.0) AS BIGINT) % 40) * 0.01 AS lon,
         c_acctbal / 100.0 AS value,
         CAST(c_custkey % 500 AS DOUBLE) AS elev,
         c_nationkey
  FROM customer
),
pts AS (
  SELECT *,
         cos(radians(lat)) * cos(radians(lon)) * 6370000.0 AS x,
         cos(radians(lat)) * sin(radians(lon)) * 6370000.0 AS y,
         sin(radians(lat)) * 6370000.0 AS z
  FROM geo
)
"""

# SQL twin of _sct_pairs_geo (same integer arithmetic, same literal sums).
_SCT_PAIRS_SQL = """
idx AS (
  SELECT c_custkey, row_number() OVER (ORDER BY c_custkey) - 1 AS i
  FROM customer
),
st AS (
  SELECT c_custkey, i, i // 2 AS p, i % 2 AS m, (i // 2) % 10 AS cse,
         -30.0 + ((i // 2) % 40) * 1.5
           + (i % 2) * (CASE WHEN (i // 2) % 10 = 3 THEN 0.0
                             WHEN (i // 2) % 10 = 7 THEN 0.25
                             ELSE 0.02 END) AS lat,
         -100.0 + ((i // 2) // 40) * 2.0
           + (i % 2) * (CASE WHEN (i // 2) % 10 = 3 THEN 0.7 ELSE 0.0 END) AS lon,
         ((i // 2) * 37 % 97) * 1.5 + (i % 2) * ((i // 2) * 53 % 140) AS elev,
         (CAST(c_custkey AS BIGINT) * c_custkey * 2654435761 + 12345)
           % 1000000 % 1000 / CAST(50.0 AS DOUBLE) AS value,
         1.0 + (i % 4) * 0.25 AS pos_t,
         1.1 + (i % 3) * 0.3 AS neg_t,
         2.0 + (i % 3) * 1.0 AS tpos_t,
         2.5 + (i % 2) * 1.5 AS tneg_t,
         0.5 + (i % 5) * 1.5 AS tdual_t
  FROM idx WHERE i < 400
),
pr AS (
  SELECT t.*, o.value AS v_o, o.lat AS lat_o, o.lon AS lon_o, o.elev AS elev_o
  FROM st t JOIN st o ON o.p = t.p AND o.m = 1 - t.m
)"""

# SQL twin of _sct_triplets_geo: same integer arithmetic, same literal
# sums, widened to one row per triplet (members a/b/c by m).
_SCT_TRIPLETS_SQL = """
idx3 AS (
  SELECT c_custkey, row_number() OVER (ORDER BY c_custkey) - 1 AS i
  FROM customer
),
st3 AS (
  SELECT c_custkey, i, i // 3 AS t, i % 3 AS m,
         -30.0 + ((i // 3) % 40) * 1.5
           + (CASE WHEN i % 3 = 1 THEN 0.01 + ((i // 3) % 5) * 0.005
                   WHEN i % 3 = 2 THEN 0.03 + ((i // 3) % 7) * 0.007
                   ELSE 0.0 END) AS lat,
         -100.0 + ((i // 3) // 40) * 2.0 AS lon,
         ((i // 3) * 37 % 97) * 1.5 + (i % 3) * (30.0 + ((i // 3) % 4) * 15.0) AS elev,
         (CAST(c_custkey AS BIGINT) * c_custkey * 2654435761 + 12345)
           % 1000000 % 1000 / CAST(50.0 AS DOUBLE)
           + (CASE WHEN i % 3 = 0 AND (i // 3) % 4 = 1 THEN 12.0 ELSE 0.0 END) AS value,
         1.0 + (i % 4) * 0.25 AS pos_t,
         1.1 + (i % 3) * 0.3 AS neg_t,
         0.3 + (i % 3) * 0.35 AS tpos_t,
         0.4 + (i % 2) * 0.45 AS tneg_t,
         0.5 + (i % 5) * 1.5 AS tdual_t
  FROM idx3 WHERE i < 450
),
tw AS (
  SELECT a.t,
         a.c_custkey AS ka, b.c_custkey AS kb, c.c_custkey AS kc,
         a.lat AS lat_a, b.lat AS lat_b, c.lat AS lat_c, a.lon AS lon,
         a.elev AS ea, b.elev AS eb, c.elev AS ec,
         a.value AS va, b.value AS vb, c.value AS vc,
         a.pos_t AS pos_a, b.pos_t AS pos_b, c.pos_t AS pos_c,
         a.neg_t AS neg_a, b.neg_t AS neg_b, c.neg_t AS neg_c,
         a.tpos_t AS tpos_a, a.tneg_t AS tneg_a, a.tdual_t AS tdual_a
  FROM st3 a JOIN st3 b ON b.t = a.t AND b.m = 1
             JOIN st3 c ON c.t = a.t AND c.m = 2
  WHERE a.m = 0
)"""


def _gc3(lat1: str, lat2: str) -> str:
    """Great-circle distance twin of operators/sct._geodetic_dist_matrix
    (shared lon within a triplet, so the lon term is cos(0) = 1 exactly on
    both engines; clip + acos + radius mirror the numpy expression)."""
    return (
        f"acos(least(1.0, greatest(-1.0,"
        f" cos(radians({lat1})) * cos(radians({lat2}))"
        f" * cos(radians(lon) - radians(lon))"
        f" + sin(radians({lat1})) * sin(radians({lat2}))))) * 6378137.0"
    )


def _pairs_sql(radius: float) -> str:
    r2 = float(radius) * float(radius)
    return f"""
pairs AS (
  SELECT a.id AS id, b.id AS nid, b.value AS n_value
  FROM pts a JOIN pts b
    ON ((a.x-b.x)*(a.x-b.x) + (a.y-b.y)*(a.y-b.y) + (a.z-b.z)*(a.z-b.z)) <= {r2}
   AND ((a.x-b.x)*(a.x-b.x) + (a.y-b.y)*(a.y-b.y) + (a.z-b.z)*(a.z-b.z)) > 0
)
"""


# ---------------------------------------------------------------------------
# query implementations
# ---------------------------------------------------------------------------

def q_tpch_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


def q_orders_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total_price"),
        )
    )


def q_events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")
    return (
        e.groupBy(
            F.date_trunc("hour", F.col("ts")).alias("hour"),
            F.col("event_type"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
    )


def q_range_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    out = range_check(li, 5.0, 45.0, value_col="l_quantity")
    return out.select(
        "l_orderkey", "l_linenumber", F.col("flags").alias("qc_flag")
    )


def q_metadata_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    geo = _customer_geo(spark, sf_dir)
    holed = geo.withColumn(
        "lat", F.when(F.col("id") % 97 == 0, None).otherwise(F.col("lat"))
    ).withColumn(
        "lon", F.when(F.col("id") % 89 == 0, None).otherwise(F.col("lon"))
    )
    out = metadata_check(holed, ["lat", "lon"])
    return out.select(F.col("id").alias("c_custkey"), F.col("flags").alias("qc_flag"))


def q_isolation_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    geo = _customer_geo(spark, sf_dir)
    out = isolation_check(geo, num_min=10, radius=2500.0)
    return out.select(F.col("id").alias("c_custkey"), F.col("flags").alias("qc_flag"))


def q_buddy_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    geo = _customer_geo(spark, sf_dir)
    out = buddy_check(
        geo,
        radius=2500.0,
        num_min=5,
        threshold=2.0,
        max_elev_diff=-1.0,
        min_std=0.1,
        num_iterations=1,
    )
    return out.select(F.col("id").alias("c_custkey"), F.col("flags").alias("qc_flag"))


def q_buddy_event_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    geo = _customer_geo(spark, sf_dir)
    out = buddy_event_check(
        geo,
        radius=2500.0,
        num_min=5,
        event_threshold=5.0,
        threshold=0.15,
        max_elev_diff=-1.0,
        num_iterations=1,
    )
    return out.select(F.col("id").alias("c_custkey"), F.col("flags").alias("qc_flag"))


def q_fgt(spark: SparkSession, sf_dir: str) -> DataFrame:
    geo = _customer_geo(spark, sf_dir)
    with_bg = background(geo, "mean", ["c_nationkey"], value_col="value")
    out = fgt(
        with_bg,
        group_cols=["c_nationkey"],
        tpos=4.0,
        tneg=4.0,
        basic=False,
        num_iterations=1,
    )
    return out.select(F.col("id").alias("c_custkey"), F.col("flags").alias("qc_flag"))


def q_background_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    geo = _customer_geo(spark, sf_dir)
    return geo.groupBy("c_nationkey").agg(
        F.round(F.avg("value"), 6).alias("bg_mean"),
        F.round(F.expr("percentile(value, 0.5)"), 6).alias("bg_median"),
        F.count(F.lit(1)).alias("n_obs"),
    )


def q_background_theil_sen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen background (reference src/background.cpp:175-228) with an
    exact DuckDB twin. Oracle-parity construction: non-flat group sizes
    are 7 or 3 (both the pairwise-slope count 21/3 and the residual count
    are ODD, so every median is an exact element pick — no interpolation
    branch, rule 25; the flat group takes the mean before any median
    regardless of its size); elevations are integers with >=30x margin vs
    min_elev_diff so the use_basic gate can never flip on a ulp; the flat
    group's values are all equal so its mean is order-independent.
    Branches covered: flat-elev -> mean; small group (n=3 < num_min_prof)
    -> fixed slope -0.0065; full Theil-Sen median-of-pairwise-slopes."""
    c = _t(spark, sf_dir, "customer").where(
        (F.col("c_custkey") <= 140)
        # shrink group 1 to n=3: the use_basic (n < num_min_prof) branch
        & ~((F.col("c_custkey") % 20 == 1) & (F.col("c_custkey") > 60))
    )
    grp = F.col("c_custkey") % 20
    pts = c.select(
        F.col("c_custkey").alias("id"),
        grp.alias("grp"),
        F.when(grp == 0, F.lit(100.0))
        .otherwise((F.col("c_custkey") % 500).cast("double"))
        .alias("elev"),
        F.when(grp == 0, F.lit(42.5))
        .otherwise(F.col("c_acctbal") / F.lit(100.0))
        .alias("value"),
    )
    out = background(
        pts, "theil_sen", ["grp"], value_col="value", elev_col="elev",
        num_min_prof=5, min_elev_diff=3.0,
    )
    return out.select("id", "bg")


def q_background_vp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vertical-profile background (reference src/background.cpp:59-173)
    over 2-point groups chosen so every branch has a CLOSED FORM the SQL
    twin replays exactly (the SCT-oracle trick):

    * elevations are +/-h (sum exactly 0) and values sit exactly on the
      line v = 50 - 0.0065*z, so the Nelder-Mead start (mean_t, -0.0065)
      is already the global optimum: its rms is ~1e-15 < the 1e-6
      objective floor, while every other simplex vertex the search can
      visit before the 1e-2 size stop keeps rms >= ~4e-3 — the best
      vertex never moves, and the fit returns mean_t - 0.0065*z exactly;
    * 2-point means are a single IEEE addition (commutative), so
      (v1+v2)/2 is bit-identical across engines regardless of row order;
    * flat groups (equal elevs) return the mean; small-spread groups
      (z95-z05 < min_elev_diff, margin >= 2x) return the constant
      basic profile (gamma = 0) = mean_t."""
    c = _t(spark, sf_dir, "customer").where(
        # custkey 0 exists in the testdata; start at 1 so every group
        # has exactly its two designed members (and Spark cast-trunc
        # vs DuckDB floor division never sees a negative numerator)
        (F.col("c_custkey") >= 1) & (F.col("c_custkey") <= 80)
    )
    grp = ((F.col("c_custkey") - 1) / 2).cast("long")
    sign = F.when(F.col("c_custkey") % 2 == 1, F.lit(1.0)).otherwise(F.lit(-1.0))
    elev = (
        F.when(grp % 4 == 3, F.lit(150.0))  # flat: mean branch
        .when(grp % 4 == 2, sign * F.lit(20.0))  # spread 36 < 100: basic
        .otherwise(sign * (F.lit(150.0) + grp.cast("double")))  # NM branch
    )
    pts = c.select(
        F.col("c_custkey").alias("id"),
        grp.alias("grp"),
        elev.alias("elev"),
        (F.lit(50.0) - F.lit(0.0065) * elev).alias("value"),
    )
    out = background(
        pts, "vertical_profile", ["grp"], value_col="value", elev_col="elev",
        num_min_prof=5, min_elev_diff=100.0,
    )
    return out.select("id", "bg")


def q_dem_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = _t(spark, sf_dir, "supplier")
    df = s.select(
        "s_suppkey",
        (F.col("s_suppkey") % 100).cast("double").alias("elev"),
        ((F.col("s_suppkey") * 7) % 100).cast("double").alias("dem"),
    )
    out = dem_check(df, max_elev_diff=30.0)
    return out.select("s_suppkey", F.col("flags").alias("qc_flag"))


def q_external_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    df = o.select(
        "o_orderkey",
        F.when(F.col("o_totalprice") > 300000.0, 1).otherwise(0).alias("flags"),
        F.when(F.col("o_orderstatus") == "F", 1).otherwise(0).alias("ext"),
    )
    out = external_check(df, ext_flag_col="ext")
    return out.select("o_orderkey", F.col("flags").alias("qc_flag"))


def q_dup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    # spread=False: md5 is trivial map-side work and the window shuffles
    # immediately — the spread exchange alone regressed this 2.3x (r04)
    d = _t(spark, sf_dir, "documents", spread=False).withColumn(
        "_h", F.md5(F.col("text"))
    )
    out = duplicate_check_exact(d, key_cols=["_h"], order_cols=["doc_id"])
    return out.select("doc_id", F.col("flags").alias("qc_flag"))


def q_wt_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        token_count("text").alias("n_tokens"),
        bpe_ish_token_count("text").alias("n_bpe_tokens"),
    )


def q_wt_quality_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same features/arithmetic as r05, with the token arrays HOISTED into
    a first projection (the with_quality_features pattern): the raw
    heuristic calls evaluated clean_tokens (split + per-token regex) four
    times and tokens three times per row — HOF expressions get no CSE
    (CLAUDE.md rule 1), and CollapseProject keeps a multiply-referenced
    expensive alias materialized. A second layer hoists the derived
    mean_word_length/n_words scalars reused by qc_flag. Every feature
    reads the same arrays and folds the same ints, so the rounded doubles
    are bit-identical to the unhoisted form (int/int divisions, rule 10)."""
    d = _t(spark, sf_dir, "documents")
    toks, ct = F.col("_toks"), F.col("_ct")
    total_len = F.aggregate(ct, F.lit(0), lambda acc, t: acc + F.length(t))
    alpha = F.size(F.filter(toks, lambda t: t.rlike("[a-zA-Z]")))
    hoisted = d.select(
        "doc_id",
        "text",
        H.tokens("text").alias("_toks"),
        H.clean_tokens("text").alias("_ct"),
    ).select(
        "doc_id",
        "text",
        F.col("_ct").alias("_ct"),
        F.size(toks).alias("_nw"),
        F.when(F.size(ct) > 0, total_len.cast("double") / F.size(ct)).alias(
            "_mwl"
        ),
        F.when(F.size(toks) > 0, alpha.cast("double") / F.size(toks)).alias(
            "_awr"
        ),
    )
    nw, mwl = F.col("_nw"), F.col("_mwl")
    return hoisted.select(
        "doc_id",
        F.round(
            H.stopword_ratio("text", F.lit("en"), ct=F.col("_ct")), 6
        ).alias("stopword_ratio"),
        F.round(F.col("_awr"), 6).alias("alpha_word_ratio"),
        F.round(mwl, 6).alias("mean_word_length"),
        F.round(H.dup_line_frac("text"), 6).alias("dup_line_frac"),
        F.when(
            (nw < 30) | (nw > 10000) | (mwl < 2.5) | (mwl > 12.0), 1
        )
        .otherwise(0)
        .alias("qc_flag"),
    )


def q_wt_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    return d.select("doc_id", scrub_text("text").alias("scrubbed"))


def q_wt_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    norm = F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " ")
    return d.select("doc_id", F.md5(norm).alias("fp"))


def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(d, id_col="doc_id", text_col="text", n=3, threshold=0.2)
    return pairs.select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))


def _doc_media(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic media overlay on `documents`: the text bytes act as an
    opaque payload; metadata derives from doc_id (multimodal columns are
    binary + typed metadata, textops/multimodal.py design rules)."""
    d = _t(spark, sf_dir, "documents")
    return d.select(
        F.col("doc_id").alias("media_id"),
        F.lit("image").alias("media_type"),
        F.col("text").cast("binary").alias("payload"),
        (F.lit(16) + F.col("doc_id") % 48).cast("int").alias("width"),
        (F.lit(16) + (F.col("doc_id") * 7) % 48).cast("int").alias("height"),
        (F.lit(1.0) + (F.col("doc_id") % 9).cast("double")).alias("duration_s"),
    )


def q_multimodal_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The JVM-side multimodal plumbing (resize spec + frame sampling) —
    pure Catalyst, fully value-oracled. The decode kernel itself is the
    documented deployment stub (see q_multimodal_features)."""
    from titanlib_spark.textops.multimodal import frame_sample, resize_spec

    m = _doc_media(spark, sf_dir)
    sized = resize_spec(m, max_side=32)
    frames = frame_sample(sized, every_s=2.0)
    return frames.select(
        "media_id", "target_width", "target_height",
        F.round("frame_ts", 3).alias("frame_ts"),
    )


def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mapInPandas decode->pool over the opaque payload. The decode stub
    is an arithmetic pixel field (multimodal._decode_image_kernel), so the
    DuckDB oracle replays the decode AND the band-mean pooling exactly —
    the full batch/schema/pruning path is value-checked, and swapping in a
    real codec touches only the kernel."""
    from titanlib_spark.textops.multimodal import image_features

    m = _doc_media(spark, sf_dir)
    # fixtures are synthetic text-bytes payloads: opt into the fake decode
    # explicitly (the production default hard-errors on undecodable
    # payloads) and surface the decode_ok flag the policy emits
    out = image_features(m, out_dim=8, on_undecodable="fake")
    f = F.col("feature")
    return out.select(
        "media_id",
        F.size(f).alias("feature_dim"),
        F.round(F.element_at(f, 1).cast("double"), 3).alias("f0"),
        F.round(F.element_at(f, 8).cast("double"), 3).alias("f7"),
        F.col("decode_ok").cast("int").alias("decode_ok"),
    ).orderBy("media_id")


def q_ngram_jaccard_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB dedup composition: exact n-gram Jaccard verified ONLY on
    MinHash-LSH candidate pairs (md5 hash mode -> full DuckDB value
    oracle over signatures, bands, candidates and the exact verify)."""
    from titanlib_spark.textops.dedup import ngram_jaccard_pairs_lsh

    d = _t(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs_lsh(
        d, id_col="doc_id", text_col="text", n=3, threshold=0.2, hash_fn="md5"
    )
    return pairs.select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))


_QUERY_VEC = [round(math.sin(i + 1), 4) for i in range(64)]


def q_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "embeddings").withColumn(
        "emb_d", F.col("embedding").cast("array<double>")
    )
    top = cosine_topk(e, _QUERY_VEC, k=10, vec_col="emb_d", id_col="vec_id")
    w = Window.orderBy(F.col("cosine_sim").desc(), F.col("vec_id").asc())
    return top.select("vec_id", F.row_number().over(w).alias("rank"))


def q_ann_topk_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate variant (rows-only: bucket membership is model-defined)."""
    e = _t(spark, sf_dir, "embeddings").withColumn(
        "emb_d", F.col("embedding").cast("array<double>")
    )
    top = lsh_bucketed_topk(
        e, _QUERY_VEC, k=10, vec_col="emb_d", id_col="vec_id", n_planes=8
    )
    w = Window.orderBy(F.col("cosine_sim").desc(), F.col("vec_id").asc())
    return top.select("vec_id", F.row_number().over(w).alias("rank"))


def q_ann_topk_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF top-k (data-dependent ANN scale path): spherical-k-means coarse
    quantizer trained on the lowest-vec_id sample, nprobe=4 of 16 cells
    scanned, exact cosine rerank inside. Fully value-oracled: the DuckDB
    oracle re-derives the identical centroids from the same parquet bytes
    (shared numpy kmeans_core), replays the strict-fold argmax assignment
    via list_inner_product, and probes the same cells (shared
    ivf_probe_cells helper)."""
    from titanlib_spark.textops import ivf_topk

    e = _t(spark, sf_dir, "embeddings").withColumn(
        "emb_d", F.col("embedding").cast("array<double>")
    )
    top = ivf_topk(
        e, _QUERY_VEC, k=10, nprobe=4, n_centroids=16, sample=10_000,
        iters=10, seed=7, vec_col="emb_d", id_col="vec_id",
    )
    w = Window.orderBy(F.col("cosine_sim").desc(), F.col("vec_id").asc())
    return top.select("vec_id", F.row_number().over(w).alias("rank"))


def q_embedding_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed plan (the 100 TB shape): hyperplane-signature equi-join,
    no O(n^2) cross product, at a REALISTIC near-dup threshold (0.95) where
    the 16-plane/16-table gate passes ~0.4% of random pairs while recalling
    ~99.4% of cos-0.97 clone pairs (1-(1-0.92^16)^16), instead of the ~83%
    of ALL pairs a loose 4-plane/0.4 config passed. The raw
    testdata has no pairs above cos 0.6, so deterministic near-dup clones
    are planted (every 10th vector, first component nudged by +0.25 ->
    cos ~0.999 to its original); the oracle replays the identical clone
    construction and signature math fold-for-fold. The 0.4-threshold
    exact entry (`embedding_near_dups_exact`) remains the small-sf recall
    verifier."""
    from titanlib_spark.textops import embedding_near_dup_pairs

    e = _t(spark, sf_dir, "embeddings").withColumn(
        "emb_d", F.col("embedding").cast("array<double>")
    )
    clones = e.where(F.col("vec_id") % 10 == 0).select(
        (F.col("vec_id") + F.lit(10_000_000)).alias("vec_id"),
        F.concat(
            F.array(F.element_at("emb_d", 1) + F.lit(0.25)),
            F.slice("emb_d", 2, 63),
        ).alias("emb_d"),
    )
    corpus = e.select("vec_id", "emb_d").unionByName(clones)
    pairs = embedding_near_dup_pairs(
        corpus, threshold=0.95, vec_col="emb_d", n_planes=16, dim=64, n_tables=16
    )
    return pairs.select("id_a", "id_b")


def q_embedding_near_dups_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact O(n^2) verifier — the recall baseline for the LSH entry; run
    at sf <= 0.01 only."""
    from titanlib_spark.textops import embedding_near_dup_pairs

    e = _t(spark, sf_dir, "embeddings").withColumn(
        "emb_d", F.col("embedding").cast("array<double>")
    )
    pairs = embedding_near_dup_pairs(e, threshold=0.4, vec_col="emb_d")
    return pairs.select("id_a", "id_b")


def q_minhash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    kept = minhash_lsh_dedup(
        d, id_col="doc_id", text_col="text", threshold=0.7, num_hashes=64,
        bands=16, hash_fn="md5",
    )
    return kept.select("doc_id").orderBy("doc_id")


def q_minhash_sigs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full 64-slot MinHash signatures, value-hash-checked against DuckDB
    (md5-derived permutation hashes — identical integer math both sides)."""
    d = _t(spark, sf_dir, "documents")
    sigs = minhash_signatures(d, num_hashes=64, shingle_size=5, hash_fn="md5")
    return sigs.select(
        "doc_id", F.coalesce(F.col("minhash")[0], F.lit(-1)).alias("m0"),
        F.coalesce(F.col("minhash")[31], F.lit(-1)).alias("m31"),
        F.coalesce(F.col("minhash")[63], F.lit(-1)).alias("m63"),
        F.coalesce(
            F.aggregate(F.col("minhash"), F.lit(0).cast("long"), lambda a, v: a + v),
            F.lit(-1),
        ).alias("sig_sum"),
    )


def q_dup_passages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring (copied-passage) dedup via robust winnowing
    (textops/dedup.py winnowed_fingerprints — the MOSS scheme): pairs
    sharing >= 1 selected fingerprint of 8-token windows, k=4 selection
    runs, md5-60bit hashes so the whole chain (windows -> hashes ->
    rightmost-min winnowing -> shared-fingerprint pairs) has a DuckDB
    value twin."""
    from titanlib_spark.textops.dedup import duplicate_passage_pairs

    d = _t(spark, sf_dir, "documents")
    pairs = duplicate_passage_pairs(
        d, id_col="doc_id", text_col="text", w=8, k=4, min_shared=1,
        hash_fn="md5",
    )
    return pairs.select("id_a", "id_b", "n_shared")


def q_streaming_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch replay of the streaming cross-batch NEAR-dup stage
    (streaming/near_dedup.py): documents split into 3 pseudo micro-batches
    (batch_id = doc_id % 3); a doc is a near-dup candidate iff any of its
    MinHash-LSH band buckets is also held by a doc with a smaller
    (batch, id) — the state-store claim order. Same md5 signature math as
    minhash_sigs, so the full composition is value-oracled; the streaming
    path itself is asserted equal to this replay in
    tests/test_streaming.py."""
    from titanlib_spark.streaming.near_dedup import near_dup_marks_batch

    d = _t(spark, sf_dir, "documents").withColumn(
        "batch_id", (F.col("doc_id") % 3).cast("long")
    )
    out = near_dup_marks_batch(d, "batch_id", "doc_id", "text")
    return out.select(
        "doc_id", "batch_id", F.col("near_dup").cast("int").alias("near_dup")
    )


def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from titanlib_spark.textops.dedup import simhash_table

    d = _t(spark, sf_dir, "documents")
    return simhash_table(d, bits=60, hash_fn="md5").select(
        "doc_id", F.col("simhash").alias("simhash60")
    )


def q_lag_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")
    df = e.select(
        "event_id",
        "user_id",
        F.col("ts").cast("timestamp").cast("double").alias("time"),
        F.col("value"),
    )
    out = lag_reduction_filter(
        df, a=0.5, b=0.5, k1=0.25, k2=0.25, n=2, key_cols=["user_id"], time_col="time"
    )
    return out.select("event_id", F.round("filtered", 6).alias("filtered"))


def _sct_pairs_geo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Isolated station PAIRS for the SCT-family value oracles.

    For a 2-point neighborhood the OI algebra (S = [[c,r],[r,c]], c=1+eps2)
    inverts in closed form, so DuckDB can reproduce the full sct /
    sct_resistant / sct_dual verdict chain exactly. Pairs sit on a
    1.5 deg x 2 deg grid (>=138 km apart, far beyond outer_radius=50 km);
    within a pair the second member is

      * 0.02 deg lat away (2.2 km, deep inner) for the normal case,
      * 0.25 deg lat away (27.8 km: outer but NOT inner -> isolated-inner)
        when pair_idx % 10 == 7,
      * 0.7 deg lon away (>=60 km: beyond outer -> isolated-outer)
        when pair_idx % 10 == 3.

    `obs` marks only the even member as testable so the reference's
    worst-offender-per-circle rule (a tie between the two symmetric
    residuals) never depends on intra-group row order. All values derive
    from c_custkey by exact integer arithmetic; lat/lon/elev sums are
    exact-decimal so both engines see bit-identical doubles."""
    c = _t(spark, sf_dir, "customer").select("c_custkey")
    w = Window.orderBy("c_custkey")
    b = c.withColumn("i", F.row_number().over(w) - 1).where(F.col("i") < 400)
    i = F.col("i")
    p = F.expr("i div 2")
    m = i % 2
    cse = p % 10
    dlat = (
        F.when(cse == 3, F.lit(0.0)).when(cse == 7, F.lit(0.25)).otherwise(F.lit(0.02))
    )
    dlon = F.when(cse == 3, F.lit(0.7)).otherwise(F.lit(0.0))
    # quadratic in custkey so within-pair value diffs vary pair to pair
    # (an affine hash gives constant consecutive-key differences)
    h = (
        F.col("c_custkey").cast("bigint") * F.col("c_custkey") * 2654435761
        + 12345
    ) % 1000000
    return b.select(
        F.col("c_custkey").cast("bigint").alias("id"),
        i.alias("i"),
        m.alias("m"),
        cse.alias("cse"),
        (F.lit(-30.0) + (p % 40) * F.lit(1.5) + m * dlat).alias("lat"),
        (F.lit(-100.0) + F.expr("(i div 2) div 40") * F.lit(2.0) + m * dlon).alias("lon"),
        (((p * 37) % 97) * F.lit(1.5) + m * ((p * 53) % 140)).alias("elev"),
        (((h % 1000000) % 1000) / F.lit(50.0)).alias("value"),
        (F.lit(1) - m).alias("obs"),
        (F.lit(1.0) + (i % 4) * F.lit(0.25)).alias("pos_t"),
        (F.lit(1.1) + (i % 3) * F.lit(0.3)).alias("neg_t"),
        (F.lit(2.0) + (i % 3) * F.lit(1.0)).alias("tpos_t"),
        (F.lit(2.5) + (i % 2) * F.lit(1.5)).alias("tneg_t"),
        (F.lit(0.5) + (i % 5) * F.lit(1.5)).alias("tdual_t"),
    )


def _sct_triplets_geo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Isolated station TRIPLETS for the dense-path SCT value oracles.

    The 2-point pair oracles (see _sct_pairs_geo) verify the full verdict
    chain but the OI algebra degenerates: S is [[c,r],[r,c]]. A 3-point
    neighborhood exercises the GENERAL path — 3x3 inversion (DuckDB: the
    adjugate in closed form), interpolated-quantile Dh over multiple
    distances, robust stats (median/IQR) over a multi-element chi vector,
    median background over >2 values, 2-vs-1 event-class splits — while
    every step stays SQL-expressible.

    Geometry: triplets on the same isolated 1.5 x 2 deg grid; members are
    collinear on one meridian at lat offsets 0 / (0.01 + 0.005*(t%5)) /
    (0.03 + 0.007*(t%7)) — 35 distinct geometry combinations, all members
    within 8 km (deep inside inner_radius=20 km), triplets >= 111 km
    apart (far beyond outer_radius=50 km). Elevation steps 30..75 m keep
    the elev spread under min_elev_diff so the vertical-profile entry
    reduces to the mean. Every 4th triplet's first member gets a +12
    value bump (planted gross error) so both verdict branches populate.

    `obs` marks only member 0 testable: for the worst-offender operators
    (sct_resistant / sct_dual) this pins the single test row, making the
    three-phase flow collapse to one closed-form verdict per triplet
    (phase 3 re-tests reproduce the identical z). The plain sct flags all
    exceeders in one sweep, so all three members carry verdicts there."""
    c = _t(spark, sf_dir, "customer").select("c_custkey")
    w = Window.orderBy("c_custkey")
    b = c.withColumn("i", F.row_number().over(w) - 1).where(F.col("i") < 450)
    i = F.col("i")
    t = F.expr("i div 3")
    m = i % 3
    dlat1 = F.lit(0.01) + (t % 5) * F.lit(0.005)
    dlat2 = F.lit(0.03) + (t % 7) * F.lit(0.007)
    off = F.when(m == 1, dlat1).when(m == 2, dlat2).otherwise(F.lit(0.0))
    h = (
        F.col("c_custkey").cast("bigint") * F.col("c_custkey") * 2654435761
        + 12345
    ) % 1000000
    bump = F.when((m == 0) & (t % 4 == 1), F.lit(12.0)).otherwise(F.lit(0.0))
    return b.select(
        F.col("c_custkey").cast("bigint").alias("id"),
        i.alias("i"),
        m.alias("m"),
        (F.lit(-30.0) + (t % 40) * F.lit(1.5) + off).alias("lat"),
        (F.lit(-100.0) + F.expr("(i div 3) div 40") * F.lit(2.0)).alias("lon"),
        ((t * 37 % 97) * F.lit(1.5) + m * (F.lit(30.0) + (t % 4) * F.lit(15.0))).alias("elev"),
        ((h % 1000) / F.lit(50.0) + bump).alias("value"),
        F.when(m == 0, F.lit(1)).otherwise(F.lit(0)).alias("obs"),
        (F.lit(1.0) + (i % 4) * F.lit(0.25)).alias("pos_t"),
        (F.lit(1.1) + (i % 3) * F.lit(0.3)).alias("neg_t"),
        # non-basic z over a 3-element chi vector is bounded ~1.27 (the
        # outlier inflates its own IQR), so these sit inside that range
        (F.lit(0.3) + (i % 3) * F.lit(0.35)).alias("tpos_t"),
        (F.lit(0.4) + (i % 2) * F.lit(0.45)).alias("tneg_t"),
        (F.lit(0.5) + (i % 5) * F.lit(1.5)).alias("tdual_t"),
    )


def q_sct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCT on isolated pairs: full OI chain (mean background, Gaussian S,
    inversion, cvres/ares/sig2o/pog, per-row pos/neg thresholds) with a
    closed-form DuckDB twin. Reference src/sct.cpp:120-306."""
    geo = _sct_pairs_geo(spark, sf_dir)
    out = sct(
        geo,
        num_min=2,
        num_max=10,
        inner_radius=20000.0,
        outer_radius=50000.0,
        num_iterations=1,
        min_horizontal_scale=10000.0,
        vertical_scale=200.0,
        pos="pos_t",
        neg="neg_t",
        eps2=0.5,
    )
    pog = F.col("prob_gross_error")
    return out.select(
        F.col("id").alias("c_custkey"),
        F.col("flags").alias("qc_flag"),
        F.round(F.when(F.isnan(pog), F.lit(None)).otherwise(pog), 4).alias("pog"),
    )


def q_sct_general(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCT on 3-point neighborhoods — the general (non-degenerate) OI
    path with a closed-form DuckDB twin: 3x3 adjugate inversion,
    interpolated 10th-percentile Dh over per-row distance vectors,
    vertical-profile entry (flat spread -> mean), per-row pos/neg, all
    three members flagged in one sweep. Reference src/sct.cpp:120-306.
    (Denser n>3 circles are covered by tests/test_sct_golden.py — an n x n
    LAPACK inversion has no bit-stable SQL twin.)"""
    geo = _sct_triplets_geo(spark, sf_dir)
    out = sct(
        geo,
        num_min=3,
        num_max=10,
        inner_radius=20000.0,
        outer_radius=50000.0,
        num_iterations=1,
        num_min_prof=0,  # vertical-profile entry; flat spread -> mean
        min_elev_diff=200.0,
        min_horizontal_scale=1000.0,
        vertical_scale=200.0,
        pos="pos_t",
        neg="neg_t",
        eps2=0.5,
    )
    pog = F.col("prob_gross_error")
    return out.select(
        F.col("id").alias("c_custkey"),
        F.col("flags").alias("qc_flag"),
        F.round(F.when(F.isnan(pog), F.lit(None)).otherwise(pog), 4).alias("pog"),
    )


def q_sct_dual(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCT-dual on isolated pairs: event split, per-class 1x1 inversions,
    cross-class information content z = cross*ln(cross/own), w_idiv_min
    gate, isolated-outer flag 12 — all with a closed-form DuckDB twin.
    Reference src/sct_dual.cpp:25-1014."""
    geo = _sct_pairs_geo(spark, sf_dir)
    out = sct_dual(
        geo,
        event_threshold=5.0,
        condition="Gt",
        test_threshold="tdual_t",
        outer_radius=50000.0,
        num_min_outer=2,
        num_max_outer=10,
        num_iterations=10,
        min_horizontal_scale=250.0,
        max_horizontal_scale=100000.0,
        kth_closest=10,
        vertical_scale=200.0,
        accept_isolated=False,
        obs_to_check="obs",
    )
    return out.select(F.col("id").alias("c_custkey"), F.col("flags").alias("qc_flag"))


def q_sct_dual_general(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCT-dual on 3-point neighborhoods — the general event-split path
    with a closed-form DuckDB twin: 2-vs-1 class partitions (2x2 + 1x1
    per-class inversions), kth-closest Dh, information-content z with the
    w_idiv gate, single-class shortcut; obs pins the test row so the
    worst-offender sweep is order-free. Reference src/sct_dual.cpp:25-1014."""
    geo = _sct_triplets_geo(spark, sf_dir)
    out = sct_dual(
        geo,
        event_threshold=5.0,
        condition="Gt",
        test_threshold="tdual_t",
        outer_radius=50000.0,
        num_min_outer=3,
        num_max_outer=10,
        num_iterations=10,
        min_horizontal_scale=250.0,
        max_horizontal_scale=100000.0,
        kth_closest=2,
        vertical_scale=200.0,
        accept_isolated=False,
        obs_to_check="obs",
    )
    return out.select(F.col("id").alias("c_custkey"), F.col("flags").alias("qc_flag"))


def q_knn_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5-NN per customer within 5 km: avg neighbor value (the kNN join,
    reference src/kdtree.cpp:105-126). Ranking uses metre-rounded distance
    so cross-engine 1-ulp trig noise can't flip tie orderings."""
    from titanlib_spark.functions.geo import neighbor_pairs

    geo = _customer_geo(spark, sf_dir)
    pairs = neighbor_pairs(geo, 5000.0, payload_cols=("value",))
    w = Window.partitionBy("id").orderBy(
        F.round(F.col("dist"), 0).asc(), F.col("n_id").asc()
    )
    top = pairs.withColumn("_rnk", F.row_number().over(w)).where(F.col("_rnk") <= 5)
    return (
        top.groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("n_neighbors"),
            F.round(F.avg("n_value"), 6).alias("avg_neighbor_value"),
        )
        .select(F.col("id").alias("c_custkey"), "n_neighbors", "avg_neighbor_value")
    )


def q_audio_wav_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PCM-WAV decode value oracle: payloads are REAL RIFF/WAVE bytes
    synthesized deterministically from media_id (16-bit mono, sample
    s_t = ((id*31 + 7t) % 200) - 100, n = 64 + id%50 frames, rate
    8000 + (id%4)*4000), decoded by the actual audio_features RIFF
    parser; the DuckDB twin recomputes rate/frames/rms/zcr in closed
    form from the same sample formula — so the byte-level decode path is
    value-checked end-to-end. Integer-valued samples keep every sum
    exact in float64 (magnitudes << 2^53), so sqrt(avg(s^2)) and the
    sign-change mean are bit-identical across engines with no rounding."""
    import pandas as pd
    from pyspark.sql import types as T

    from titanlib_spark.textops.multimodal import audio_features

    def gen(batches):
        import struct

        for pdf in batches:
            payloads = []
            for mid in pdf["media_id"]:
                mid = int(mid)
                n = 64 + mid % 50
                rate = 8000 + (mid % 4) * 4000
                samples = [((mid * 31 + t * 7) % 200) - 100 for t in range(n)]
                data = struct.pack(f"<{n}h", *samples)
                payloads.append(
                    b"RIFF" + struct.pack("<I", 36 + len(data)) + b"WAVE"
                    + b"fmt " + struct.pack("<IHHIIHH", 16, 1, 1, rate, rate * 2, 2, 16)
                    + b"data" + struct.pack("<I", len(data)) + data
                )
            out = pdf.copy()
            out["payload"] = payloads
            yield out

    base = spark.range(0, 200, numPartitions=8).select(
        F.col("id").alias("media_id")
    )
    media = base.mapInPandas(
        gen,
        schema=T.StructType(
            [
                T.StructField("media_id", T.LongType()),
                T.StructField("payload", T.BinaryType()),
            ]
        ),
    )
    return audio_features(media).select(
        "media_id", "decoded_rate", "n_frames", "rms", "zero_cross_rate"
    )


def q_png_decode_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PNG decode value oracle: grayscale pixels from a deterministic
    formula p(r,c) = (id*13 + 31r + 7c) % 256 are encoded into REAL PNG
    bytes (8-bit, scanline filters CYCLING 0..4 so every unfilter branch
    runs), decoded by the actual zlib+unfilter decoder through
    image_features, and the DuckDB twin recomputes the 4 horizontal band
    means from the same formula (np.array_split row banding replayed with
    the same quotient/remainder split). Integer pixel sums are exact in
    float64; the float32 feature narrowing is mirrored with
    (x::REAL)::DOUBLE (same trick as multimodal_features)."""
    import pandas as pd
    from pyspark.sql import types as T

    from titanlib_spark.textops.multimodal import image_features

    def gen(batches):
        import struct
        import zlib

        def paeth(a, b, cc):
            p = a + b - cc
            pa, pb, pc = abs(p - a), abs(p - b), abs(p - cc)
            return a if (pa <= pb and pa <= pc) else (b if pb <= pc else cc)

        def png_bytes(mid):
            w = 8 + mid % 24
            h = 8 + (mid * 5) % 24
            raw = bytearray()
            prev = [0] * w
            for r in range(h):
                ft = r % 5
                cur = [(mid * 13 + r * 31 + c * 7) % 256 for c in range(w)]
                left = lambda c: cur[c - 1] if c else 0
                uleft = lambda c: prev[c - 1] if c else 0
                if ft == 0:
                    enc = cur
                elif ft == 1:
                    enc = [(cur[c] - left(c)) % 256 for c in range(w)]
                elif ft == 2:
                    enc = [(cur[c] - prev[c]) % 256 for c in range(w)]
                elif ft == 3:
                    enc = [
                        (cur[c] - (left(c) + prev[c]) // 2) % 256
                        for c in range(w)
                    ]
                else:
                    enc = [
                        (cur[c] - paeth(left(c), prev[c], uleft(c))) % 256
                        for c in range(w)
                    ]
                raw.append(ft)
                raw += bytes(enc)
                prev = cur

            def chunk(cid, body):
                return (
                    len(body).to_bytes(4, "big") + cid + body
                    + zlib.crc32(cid + body).to_bytes(4, "big")
                )

            ihdr = struct.pack(">IIBBBBB", w, h, 8, 0, 0, 0, 0)
            return (
                b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
                + chunk(b"IDAT", zlib.compress(bytes(raw)))
                + chunk(b"IEND", b""), w, h,
            )

        for pdf in batches:
            rows = []
            for mid in pdf["media_id"]:
                payload, w, h = png_bytes(int(mid))
                rows.append(
                    {"media_id": int(mid), "payload": payload,
                     "width": w, "height": h}
                )
            yield pd.DataFrame(rows)

    base = spark.range(0, 150, numPartitions=8).select(
        F.col("id").alias("media_id")
    )
    media = base.mapInPandas(
        gen,
        schema=T.StructType(
            [
                T.StructField("media_id", T.LongType()),
                T.StructField("payload", T.BinaryType()),
                T.StructField("width", T.IntegerType()),
                T.StructField("height", T.IntegerType()),
            ]
        ),
    )
    feats = image_features(media, out_dim=4)
    return feats.select(
        "media_id", "width", "height",
        *[
            F.round(F.element_at("feature", i + 1).cast("double"), 3).alias(f"f{i}")
            for i in range(4)
        ],
        F.col("decode_ok").cast("int").alias("decode_ok"),
    )


def q_jpeg_decode_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Baseline-JPEG decode value oracle: images are grids of FLAT 8x8
    blocks with v(bi,bj) = (id*17 + 31*bi + 7*bj) % 256 — a flat block's
    DCT is a single integer DC coefficient, so with an all-ones quant
    table the Huffman -> dequantize -> IDCT chain reconstructs v EXACTLY
    (proved bit-exact in tests/test_jpeg.py). The Spark side encodes real
    SOI/DQT/SOF0/DHT/SOS streams (canonical all-8-bit Huffman codes, byte
    stuffing) and decodes them through image_features; the DuckDB twin
    recomputes the band means from the block-value formula."""
    import pandas as pd
    from pyspark.sql import types as T

    from titanlib_spark.textops.multimodal import image_features

    def gen(batches):
        def category(v):
            return abs(int(v)).bit_length()

        def jpeg_bytes(mid):
            h = 16
            w = 24 + (mid % 3) * 8
            # canonical all-8-bit tables over the used symbols
            dc_syms = list(range(12))
            ac_syms = [0x00]
            dc_codes = {s: (i, 8) for i, s in enumerate(dc_syms)}
            ac_codes = {s: (i, 8) for i, s in enumerate(ac_syms)}
            bits = []

            def put(value, nbits):
                for i in range(nbits - 1, -1, -1):
                    bits.append((value >> i) & 1)

            pred = 0
            for by in range(h // 8):
                for bx in range(w // 8):
                    v = (mid * 17 + 31 * by + 7 * bx) % 256
                    dc = 8 * (v - 128)
                    diff = dc - pred
                    pred = dc
                    s = category(diff)
                    put(*dc_codes[s])
                    if s:
                        put(diff if diff >= 0 else diff + (1 << s) - 1, s)
                    put(*ac_codes[0x00])  # EOB: flat block has no AC
            while len(bits) % 8:
                bits.append(1)
            data = bytearray()
            for i in range(0, len(bits), 8):
                b = 0
                for j in range(8):
                    b = (b << 1) | bits[i + j]
                data.append(b)
                if b == 0xFF:
                    data.append(0x00)

            def seg(marker, body):
                return bytes([0xFF, marker]) + (len(body) + 2).to_bytes(2, "big") + body

            counts8 = lambda n: bytes([0] * 7 + [n] + [0] * 8)
            out = bytearray(b"\xff\xd8")
            out += seg(0xDB, bytes([0x00]) + bytes([1] * 64))
            out += seg(0xC0, bytes([8]) + h.to_bytes(2, "big")
                       + w.to_bytes(2, "big") + bytes([1, 1, 0x11, 0]))
            out += seg(0xC4, bytes([0x00]) + counts8(len(dc_syms)) + bytes(dc_syms))
            out += seg(0xC4, bytes([0x10]) + counts8(len(ac_syms)) + bytes(ac_syms))
            out += seg(0xDA, bytes([1, 1, 0x00, 0, 63, 0]))
            out += bytes(data) + b"\xff\xd9"
            return bytes(out), w, h

        for pdf in batches:
            rows = []
            for mid in pdf["media_id"]:
                payload, w, h = jpeg_bytes(int(mid))
                rows.append(
                    {"media_id": int(mid), "payload": payload,
                     "width": w, "height": h}
                )
            yield pd.DataFrame(rows)

    base = spark.range(0, 120, numPartitions=8).select(
        F.col("id").alias("media_id")
    )
    media = base.mapInPandas(
        gen,
        schema=T.StructType(
            [
                T.StructField("media_id", T.LongType()),
                T.StructField("payload", T.BinaryType()),
                T.StructField("width", T.IntegerType()),
                T.StructField("height", T.IntegerType()),
            ]
        ),
    )
    feats = image_features(media, out_dim=4)
    return feats.select(
        "media_id", "width", "height",
        *[
            F.round(F.element_at("feature", i + 1).cast("double"), 3).alias(f"f{i}")
            for i in range(4)
        ],
        F.col("decode_ok").cast("int").alias("decode_ok"),
    )


def q_knn_always_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """10-NN per customer with ALWAYS-K semantics (reference R-tree kNN,
    src/kdtree.cpp:105-126): the 1.5 km base radius leaves most grid
    points with < 10 in-radius neighbors, so the radius-escalation
    fallback (knn_pairs_always_k) genuinely exercises 1-2 doubling
    rounds. The DuckDB twin is the UNBOUNDED pairwise kNN — exactly the
    semantics escalation must converge to. Metre-rounded rank ordering
    per rule 10."""
    from titanlib_spark.functions.geo import knn_pairs_always_k

    geo = _customer_geo(spark, sf_dir)
    top = knn_pairs_always_k(
        geo, 10, 1500.0, payload_cols=("value",), rank_round=0
    )
    return (
        top.groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("n_neighbors"),
            F.round(F.avg("n_value"), 6).alias("avg_neighbor_value"),
        )
        .select(F.col("id").alias("c_custkey"), "n_neighbors", "avg_neighbor_value")
    )


def q_dup_spatial(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference-parity greedy spatial dedup (first-wins in id order,
    src/duplicate_check.cpp:24-49); the DuckDB oracle replays the exact
    greedy scan with a recursive CTE over the same chord metric."""
    from titanlib_spark.operators import duplicate_check_spatial

    geo = _customer_geo(spark, sf_dir)
    out = duplicate_check_spatial(geo, radius=800.0)
    return out.select(F.col("id").alias("c_custkey"), F.col("flags").alias("qc_flag"))


def q_interpolate_to_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    from titanlib_spark.functions.geo import interpolate_to_points

    geo = _customer_geo(spark, sf_dir)
    grid = _t(spark, sf_dir, "nation").select(
        (F.lit(40.0) + F.col("n_nationkey") * F.lit(0.5)).alias("lat"),
        (F.lit(5.0) + F.col("n_nationkey") * F.lit(0.7)).alias("lon"),
        F.col("n_nationkey").cast("double").alias("grid_value"),
    )
    out = interpolate_to_points(geo, grid)
    return out.select(
        F.col("id").alias("c_custkey"),
        F.col("interpolated").cast("int").alias("nearest_grid"),
    )


def q_sct_resistant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCT-resistant on isolated pairs: three-phase state machine, mean
    background, closed-form 2x2 OI, chi = sqrt((yo-ya)(yo-yav)), basic-mode
    z, per-row tpos/tneg, isolated flags 11/12 (accept_isolated=False) —
    all with a DuckDB twin. Reference src/sct_resistant.cpp:26-1062."""
    from titanlib_spark.operators import sct_resistant

    geo = _sct_pairs_geo(spark, sf_dir)
    out = sct_resistant(
        geo,
        background_elab_type="mean_outer_circle",
        num_min_outer=2,
        num_max_outer=10,
        inner_radius=20000.0,
        outer_radius=50000.0,
        num_iterations=10,
        min_horizontal_scale=250.0,
        max_horizontal_scale=100000.0,
        kth_closest=2,
        vertical_scale=200.0,
        eps2=0.5,
        tpos="tpos_t",
        tneg="tneg_t",
        basic=True,
        accept_isolated=False,
        obs_to_check="obs",
    )
    sc = F.col("score")
    return out.select(
        F.col("id").alias("c_custkey"),
        F.col("flags").alias("qc_flag"),
        F.round(F.when(F.isnan(sc), F.lit(None)).otherwise(sc), 4).alias("score"),
    )


def q_fgt_spatial(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Radius-circle FGT (reference src/fgt.cpp:29-715) on isolated pairs:
    per-circle mean background, chi = |yo - yb| / sigma_b, worst-offender
    rule, isolation flags 11/12 — sct_resistant's state machine without
    the OI, so the DuckDB twin is pure arithmetic (no trig noise at all:
    chi is exact decimal math)."""
    from titanlib_spark.operators import fgt_spatial

    geo = _sct_pairs_geo(spark, sf_dir)
    out = fgt_spatial(
        geo,
        background_elab_type="mean_outer_circle",
        num_min_outer=2,
        num_max_outer=10,
        inner_radius=20000.0,
        outer_radius=50000.0,
        num_iterations=10,
        tpos="tpos_t",
        tneg="tneg_t",
        basic=True,
        accept_isolated=False,
        obs_to_check="obs",
    )
    sc = F.col("score")
    return out.select(
        F.col("id").alias("c_custkey"),
        F.col("flags").alias("qc_flag"),
        F.round(F.when(F.isnan(sc), F.lit(None)).otherwise(sc), 4).alias("score"),
    )


def q_sct_resistant_general(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCT-resistant on 3-point neighborhoods — the general NON-basic
    path with a closed-form DuckDB twin: median background over 3,
    kth-closest Dh, 3x3 adjugate OI, robust stats (median + interpolated
    IQR) over the 3-element chi vector, z = (chi-mu)/(sigma+sigma/sqrt(n)),
    per-row tpos/tneg; obs pins the single test row (the worst-offender
    sweep and phase-3 re-test then reproduce one closed-form verdict).
    Reference src/sct_resistant.cpp:26-1062. (Denser circles: seeded-error
    tests in tests/test_sct_resistant.py.)"""
    from titanlib_spark.operators import sct_resistant

    geo = _sct_triplets_geo(spark, sf_dir)
    out = sct_resistant(
        geo,
        background_elab_type="median_outer_circle",
        num_min_outer=3,
        num_max_outer=10,
        inner_radius=20000.0,
        outer_radius=50000.0,
        num_iterations=10,
        min_horizontal_scale=250.0,
        max_horizontal_scale=100000.0,
        kth_closest=2,
        vertical_scale=200.0,
        eps2=0.5,
        tpos="tpos_t",
        tneg="tneg_t",
        basic=False,
        accept_isolated=False,
        obs_to_check="obs",
    )
    sc = F.col("score")
    return out.select(
        F.col("id").alias("c_custkey"),
        F.col("flags").alias("qc_flag"),
        F.round(F.when(F.isnan(sc), F.lit(None)).otherwise(sc), 4).alias("score"),
    )


def q_windowed_keep_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The streaming windowed-aggregation operator run in BATCH mode —
    withWatermark is a no-op on a batch frame, so this is the exact same
    code path (window + keep-rule aggregation) the stream executes per
    trigger, replayed over the documents table and value-checked against
    a DuckDB epoch-bucketed GROUP BY. Docs are spread 600 s apart so the
    1-hour windows hold ~6 docs each."""
    from titanlib_spark.streaming import windowed_keep_rates

    d = _t(spark, sf_dir, "documents")
    pages = d.select(
        F.concat(
            F.lit("https://"), F.col("source"), F.lit(".example/doc/"),
            F.col("doc_id"),
        ).alias("url"),
        F.timestamp_seconds(F.col("doc_id") * 600).alias("warc_ts"),
        F.col("text"),
    )
    out = windowed_keep_rates(
        pages, watermark="2 hours", window_len="1 hour", min_words=30
    )
    return out.select(
        F.col("window_start").cast("long").alias("w_start_s"),
        "n_pages",
        "n_keep",
    )


def q_running_host_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The custom stateful streaming operator (applyInPandasWithState
    per-host running counts, streaming/pipeline.py:242) driven FOR REAL:
    the documents table is staged as two parquet files, consumed as two
    micro-batches (maxFilesPerTrigger=1 + availableNow), and the operator
    must carry each host's totals across the batch boundary through the
    state store. The final emission per host (running counts are
    monotone, so max == last) must equal a plain GROUP BY over the whole
    table — which is exactly the DuckDB oracle."""
    import os
    import tempfile

    from titanlib_spark.streaming import running_host_quality

    d = _t(spark, sf_dir, "documents")
    pages = d.select(
        "doc_id",
        F.concat(
            F.lit("https://"), F.col("source"), F.lit(".example/doc/"),
            F.col("doc_id"),
        ).alias("url"),
        F.col("text"),
    )
    root = tempfile.mkdtemp(prefix="rhq_replay_")
    src = os.path.join(root, "in")
    # two files -> two micro-batches: totals MUST flow through the state
    # store, not within-batch aggregation. Parity split so the oracle can
    # name each half with plain SQL.
    pages.where(F.col("doc_id") % 2 == 0).drop("doc_id").coalesce(1).write.mode(
        "append").parquet(src)
    pages.where(F.col("doc_id") % 2 == 1).drop("doc_id").coalesce(1).write.mode(
        "append").parquet(src)

    stream = (
        spark.readStream.schema("url string, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    out = running_host_quality(stream, min_words=30)
    qname = "rhq_" + os.path.basename(root).rsplit("_", 1)[-1]
    q = (
        out.writeStream.format("memory")
        .queryName(qname)
        .option("checkpointLocation", os.path.join(root, "ckpt"))
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    emissions = spark.table(qname)
    return (
        emissions.groupBy("host")
        .agg(
            F.max("n_pages").alias("n_pages"),
            F.max("n_keep").alias("n_keep"),
            # the state really accumulated: >1 emission per host proves the
            # second batch re-emitted grown totals (hosts span both halves)
            F.count(F.lit(1)).alias("n_emissions"),
        )
        .orderBy("host")
    )


def q_range_check_climatology(spark: SparkSession, sf_dir: str) -> DataFrame:
    geo = _customer_geo(spark, sf_dir)
    out = range_check_climatology(
        geo, pos=20.0, neg=-60.0, unixtime=1721606400, value_col="value"
    )
    return out.select(F.col("id").alias("c_custkey"), F.col("flags").alias("qc_flag"))


def q_wt_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    pages = d.select(
        "doc_id",
        F.concat(F.lit("https://"), F.col("source"), F.lit(".example/doc/"), F.col("doc_id")).alias("url"),
        F.timestamp_seconds(F.col("doc_id")).alias("warc_ts"),
        F.col("text"),
        F.col("lang"),
    )
    cfg = QualityFilterConfig(
        min_words=30,
        min_stopword_ratio=0.0,
        min_lang_score=0.0,
        allowed_langs=tuple(LANGS) + ("und",),
        run_ppl_stage=False,
        extract_missing_text=False,
    )
    out = run_quality_pipeline(pages, cfg)
    return out.select(
        "doc_id",
        F.col("flags").alias("qc_flag"),
        F.col("keep").cast("int").alias("keep"),
    )


# ---------------------------------------------------------------------------
# oracle SQL (DuckDB dialect; same table views, same column aliases)
# ---------------------------------------------------------------------------

def _stops_sql(lang: str) -> str:
    return "[" + ", ".join(f"'{w}'" for w in STOPWORDS[lang]) + "]"


_CLEAN_TOKS = (
    "list_filter(list_transform(regexp_split_to_array(lower(trim(text)), '\\s+'),"
    " t -> regexp_replace(t, '[^a-z]', '', 'g')), t -> t != '')"
)
_RAW_TOKS = "regexp_split_to_array(trim(text), '\\s+')"
_N_WORDS = f"CASE WHEN trim(text) = '' THEN 0 ELSE len({_RAW_TOKS}) END"


def _piecewise_sql(lat_expr: str, xs: list[float], ys: list[float]) -> str:
    """SQL twin of operators.range_check._piecewise (find_between semantics:
    first knot with lat > xs[i] wins; exhausted scan -> NULL, which like the
    reference's NaN never triggers a flag)."""
    whens = []
    for i in range(1, len(xs)):
        x1, x2 = float(xs[i - 1]), float(xs[i])
        y1, y2 = float(ys[i - 1]), float(ys[i])
        seg = f"({y1!r} + (({x1!r} - {lat_expr}) / {x1 - x2!r}) * {y2 - y1!r})"
        whens.append(f"WHEN {lat_expr} > {x2!r} THEN {seg}")
    return "CASE " + " ".join(whens) + " ELSE NULL END"


def _oracle_sql() -> dict[str, str]:
    radius_pairs = _pairs_sql(2500.0)
    stops_en = _stops_sql("en")

    sql: dict[str, str] = {}

    sql["tpch_q1"] = """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2) AS sum_qty,
       round(sum(l_extendedprice), 2) AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
       round(avg(l_quantity), 4) AS avg_qty,
       round(avg(l_discount), 4) AS avg_disc,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""

    sql["orders_by_nation"] = """
SELECT n_name, count(*) AS n_orders, round(sum(o_totalprice), 2) AS total_price
FROM orders JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
GROUP BY n_name
"""

    sql["events_hourly"] = """
SELECT date_trunc('hour', ts) AS hour, event_type,
       count(*) AS n_events, round(sum(value), 2) AS sum_value
FROM events GROUP BY 1, 2
"""

    sql["range_check"] = """
SELECT l_orderkey, l_linenumber,
       CASE WHEN l_quantity IS NULL OR isnan(l_quantity)
                 OR l_quantity < 5.0 OR l_quantity > 45.0
            THEN 1 ELSE 0 END AS qc_flag
FROM lineitem
"""

    sql["metadata_check"] = """
SELECT c_custkey,
       CASE WHEN c_custkey % 97 = 0 OR c_custkey % 89 = 0 THEN 1 ELSE 0 END AS qc_flag
FROM customer
"""

    sql["isolation_check"] = f"""
WITH {_GEO_SQL}, {radius_pairs},
counts AS (SELECT id, count(*) AS n FROM pairs GROUP BY id)
SELECT g.id AS c_custkey,
       CASE WHEN coalesce(c.n, 0) < 10 THEN 1 ELSE 0 END AS qc_flag
FROM geo g LEFT JOIN counts c ON g.id = c.id
"""

    sql["buddy_check"] = f"""
WITH {_GEO_SQL}, {radius_pairs},
stats AS (
  SELECT id, count(*) AS n, avg(n_value) AS mean, var_pop(n_value) AS var
  FROM pairs GROUP BY id
)
SELECT g.id AS c_custkey,
       CASE WHEN s.n IS NOT NULL AND s.n >= 5
                 AND abs(g.value - s.mean)
                     / greatest(sqrt(s.var + s.var / s.n), 0.1) > 2.0
            THEN 1 ELSE 0 END AS qc_flag
FROM geo g LEFT JOIN stats s ON g.id = s.id
"""

    sql["buddy_event_check"] = f"""
WITH {_GEO_SQL}, {radius_pairs},
stats AS (
  SELECT id, count(*) AS n,
         sum(CASE WHEN n_value < 5.0 THEN 1 ELSE 0 END) AS n_event
  FROM pairs GROUP BY id
)
SELECT g.id AS c_custkey,
       CASE WHEN s.n IS NOT NULL AND s.n >= 5 AND (
                 (g.value < 5.0 AND s.n_event * 1.0 / s.n <= 0.15)
              OR (g.value >= 5.0 AND 1.0 - s.n_event * 1.0 / s.n <= 0.15))
            THEN 1 ELSE 0 END AS qc_flag
FROM geo g LEFT JOIN stats s ON g.id = s.id
"""

    sql["fgt"] = f"""
WITH {_GEO_SQL},
bg AS (SELECT c_nationkey, avg(value) AS bg FROM geo GROUP BY c_nationkey),
scored AS (
  SELECT g.id, g.c_nationkey, g.value, b.bg, abs(g.value - b.bg) AS chi
  FROM geo g JOIN bg b USING (c_nationkey)
),
stats AS (
  SELECT c_nationkey,
         quantile_cont(chi, 0.5) AS mu,
         quantile_cont(chi, 0.75) - quantile_cont(chi, 0.25) AS sigma,
         count(*) AS n_stat
  FROM scored GROUP BY c_nationkey
),
ranked AS (
  SELECT s.id, s.c_nationkey,
         (s.chi - t.mu) / (t.sigma + t.sigma / sqrt(t.n_stat)) AS z,
         t.sigma, t.mu,
         row_number() OVER (
           PARTITION BY s.c_nationkey
           ORDER BY (s.chi - t.mu) / (t.sigma + t.sigma / sqrt(t.n_stat)) DESC,
                    s.id ASC
         ) AS rnk
  FROM scored s JOIN stats t USING (c_nationkey)
)
SELECT id AS c_custkey,
       CASE WHEN sigma > 0 AND rnk = 1 AND z > 4.0 THEN 1 ELSE 0 END AS qc_flag
FROM ranked
"""

    from titanlib_spark.operators.range_check import (
        _MEAN_LATS,
        _MEAN_TEMPS,
        _VAR_AMPS,
        _VAR_LATS,
    )

    mt_sql = _piecewise_sql("lat", _MEAN_LATS, _MEAN_TEMPS)
    sv_sql = _piecewise_sql("lat", _VAR_LATS, _VAR_AMPS)
    # unixtime 1721606400 = 2024-07-22 -> July -> seasonal factor 1.0
    sql["range_check_climatology"] = f"""
WITH {_GEO_SQL},
clim AS (
  SELECT id, value, ({mt_sql}) + (({sv_sql}) / 2.0) * 1.0 AS t
  FROM geo
)
SELECT id AS c_custkey,
       CASE WHEN value < (t + -60.0) OR value > (t + 20.0) THEN 1 ELSE 0 END
         AS qc_flag
FROM clim
"""

    sql["background_by_nation"] = f"""
WITH {_GEO_SQL}
SELECT c_nationkey,
       round(avg(value), 6) AS bg_mean,
       round(quantile_cont(value, 0.5), 6) AS bg_median,
       count(*) AS n_obs
FROM geo GROUP BY c_nationkey
"""

    # Theil-Sen background: group sizes 7 / 3 keep every median an exact
    # element pick (odd pairwise-slope and residual counts); flat group
    # short-circuits to its (all-equal) mean; the n=3 group takes the
    # use_basic fixed slope -0.0065. Spread gates have >=30x margin by
    # construction, so the SQL twin encodes the branch per group directly.
    sql["background_theil_sen"] = """
WITH pts AS (
  SELECT c_custkey AS id,
         c_custkey % 20 AS grp,
         CASE WHEN c_custkey % 20 = 0 THEN 100.0
              ELSE CAST(c_custkey % 500 AS DOUBLE) END AS elev,
         CASE WHEN c_custkey % 20 = 0 THEN 42.5
              ELSE c_acctbal / 100.0 END AS value
  FROM customer
  WHERE c_custkey <= 140 AND NOT (c_custkey % 20 = 1 AND c_custkey > 60)
),
gate AS (
  SELECT grp, count(*) AS n, min(elev) AS emin, max(elev) AS emax,
         avg(value) AS vmean
  FROM pts GROUP BY grp
),
slopes AS (
  SELECT a.grp,
         CASE WHEN abs(a.elev - b.elev) < 1 THEN 0.0
              ELSE (a.value - b.value) / (a.elev - b.elev) END AS slope
  FROM pts a JOIN pts b ON a.grp = b.grp AND a.id < b.id
),
m AS (
  SELECT g.grp, g.emin, g.emax, g.vmean,
         CASE WHEN g.n < 5 THEN -0.0065 ELSE s.med END AS m_med
  FROM gate g LEFT JOIN (
    SELECT grp, quantile_cont(slope, 0.5) AS med FROM slopes GROUP BY grp
  ) s USING (grp)
),
q AS (
  SELECT p.grp, m.m_med, m.emin, m.emax, m.vmean,
         quantile_cont(p.value - m.m_med * p.elev, 0.5) AS q_med
  FROM pts p JOIN m USING (grp)
  GROUP BY p.grp, m.m_med, m.emin, m.emax, m.vmean
)
SELECT p.id,
       CASE WHEN q.emin = q.emax THEN q.vmean
            ELSE q.q_med + q.m_med * p.elev END AS bg
FROM pts p JOIN q USING (grp)
ORDER BY id
"""

    # vertical-profile background: 2-point closed-form groups (see
    # q_background_vp) — the Nelder-Mead optimum IS the start point, so
    # the fitted profile is exactly mean_t - 0.0065*z; 2-point means are
    # one commutative IEEE add, bit-identical across engines.
    sql["background_vp"] = """
WITH base AS (
  SELECT c_custkey AS id,
         (c_custkey - 1) // 2 AS grp,
         CASE WHEN c_custkey % 2 = 1 THEN 1.0 ELSE -1.0 END AS sgn
  FROM customer WHERE c_custkey >= 1 AND c_custkey <= 80
),
pts AS (
  SELECT id, grp,
         CASE WHEN grp % 4 = 3 THEN 150.0
              WHEN grp % 4 = 2 THEN sgn * 20.0
              ELSE sgn * (150.0 + CAST(grp AS DOUBLE)) END AS elev
  FROM base
),
pv AS (SELECT id, grp, elev, 50.0 - 0.0065 * elev AS value FROM pts),
g AS (SELECT grp, avg(value) AS mu FROM pv GROUP BY grp)
SELECT p.id,
       CASE WHEN p.grp % 4 IN (3, 2) THEN g.mu
            ELSE g.mu - 0.0065 * p.elev END AS bg
FROM pv p JOIN g USING (grp)
ORDER BY id
"""

    # WAV decode twin: recompute rate/frames/rms/zcr in closed form from
    # the sample formula the Spark side packs into real RIFF bytes
    sql["audio_wav_features"] = """
WITH ids AS (SELECT unnest(range(0, 200)) AS media_id),
samp AS (
  SELECT i.media_id, t.t,
         CAST(((i.media_id * 31 + t.t * 7) % 200) - 100 AS DOUBLE) AS s
  FROM ids i, LATERAL (
    SELECT unnest(range(0, 64 + i.media_id % 50)) AS t
  ) t
),
zc AS (
  SELECT media_id, t, s,
         lag(s) OVER (PARTITION BY media_id ORDER BY t) AS prev
  FROM samp
)
SELECT media_id,
       CAST(8000 + (media_id % 4) * 4000 AS INTEGER) AS decoded_rate,
       CAST(64 + media_id % 50 AS BIGINT) AS n_frames,
       sqrt(avg(s * s)) AS rms,
       avg(CASE WHEN prev IS NULL THEN NULL
                WHEN (s < 0) != (prev < 0) THEN 1.0 ELSE 0.0 END)
         AS zero_cross_rate
FROM zc GROUP BY media_id
ORDER BY media_id
"""

    # PNG decode twin: recompute the 4 band means from the pixel formula
    # the Spark side encodes into real PNG bytes (filters 0..4 cycling);
    # band j(r) replays np.array_split's quotient/remainder row split
    sql["png_decode_features"] = """
WITH ids AS (
  SELECT media_id, 8 + media_id % 24 AS w, 8 + (media_id * 5) % 24 AS h
  FROM (SELECT unnest(range(0, 150)) AS media_id)
),
px AS (
  SELECT i.media_id, i.w, i.h, i.h // 4 AS q, i.h % 4 AS rem, r.r,
         (i.media_id * 13 + 31 * r.r + 7 * c.c) % 256 AS px
  FROM ids i, generate_series(0, 31) r(r), generate_series(0, 31) c(c)
  WHERE r.r < i.h AND c.c < i.w
),
banded AS (
  SELECT media_id, w, h,
         CASE WHEN r < rem * (q + 1) THEN r // (q + 1)
              ELSE rem + (r - rem * (q + 1)) // q END AS j,
         px
  FROM px
),
bands AS (
  SELECT media_id, w, h, j,
         (sum(px)::DOUBLE / count(*)) / 255.0 AS m
  FROM banded GROUP BY media_id, w, h, j
)
SELECT media_id, CAST(w AS INTEGER) AS width, CAST(h AS INTEGER) AS height,
       round((max(CASE WHEN j = 0 THEN m END)::REAL)::DOUBLE, 3) AS f0,
       round((max(CASE WHEN j = 1 THEN m END)::REAL)::DOUBLE, 3) AS f1,
       round((max(CASE WHEN j = 2 THEN m END)::REAL)::DOUBLE, 3) AS f2,
       round((max(CASE WHEN j = 3 THEN m END)::REAL)::DOUBLE, 3) AS f3,
       1 AS decode_ok
FROM bands GROUP BY media_id, w, h
ORDER BY media_id
"""

    # JPEG decode twin: flat 8x8 blocks reconstruct exactly, so the band
    # means come straight from the block-value formula; 16 rows / 4 bands
    # = 4 rows per band (rows 0-7 block-row 0, 8-15 block-row 1)
    sql["jpeg_decode_features"] = """
WITH ids AS (
  SELECT media_id, 24 + (media_id % 3) * 8 AS w, 16 AS h
  FROM (SELECT unnest(range(0, 120)) AS media_id)
),
px AS (
  SELECT i.media_id, i.w, i.h, r.r,
         (i.media_id * 17 + 31 * (r.r // 8) + 7 * (c.c // 8)) % 256 AS px
  FROM ids i, generate_series(0, 15) r(r), generate_series(0, 39) c(c)
  WHERE c.c < i.w
),
bands AS (
  SELECT media_id, w, h, r // 4 AS j,
         (sum(px)::DOUBLE / count(*)) / 255.0 AS m
  FROM px GROUP BY media_id, w, h, r // 4
)
SELECT media_id, CAST(w AS INTEGER) AS width, CAST(h AS INTEGER) AS height,
       round((max(CASE WHEN j = 0 THEN m END)::REAL)::DOUBLE, 3) AS f0,
       round((max(CASE WHEN j = 1 THEN m END)::REAL)::DOUBLE, 3) AS f1,
       round((max(CASE WHEN j = 2 THEN m END)::REAL)::DOUBLE, 3) AS f2,
       round((max(CASE WHEN j = 3 THEN m END)::REAL)::DOUBLE, 3) AS f3,
       1 AS decode_ok
FROM bands GROUP BY media_id, w, h
ORDER BY media_id
"""

    # always-k kNN: the oracle is the UNBOUNDED pairwise ranking — the
    # semantics the radius-escalation loop must converge to exactly
    sql["knn_always_k"] = f"""
WITH {_GEO_SQL},
allp AS (
  SELECT a.id, b.id AS nid, b.value AS n_value,
         sqrt((a.x-b.x)*(a.x-b.x) + (a.y-b.y)*(a.y-b.y)
              + (a.z-b.z)*(a.z-b.z)) AS dist
  FROM pts a JOIN pts b ON a.id <> b.id
),
ranked AS (
  SELECT id, n_value,
         row_number() OVER (
           PARTITION BY id ORDER BY round(dist, 0) ASC, nid ASC
         ) AS rnk
  FROM allp WHERE dist > 0
)
SELECT id AS c_custkey, count(*) AS n_neighbors,
       round(avg(n_value), 6) AS avg_neighbor_value
FROM ranked WHERE rnk <= 10
GROUP BY id
"""

    knn_pairs_sql = _pairs_sql(5000.0)
    sql["knn_avg"] = f"""
WITH {_GEO_SQL}, {knn_pairs_sql},
ranked AS (
  SELECT p.id, p.n_value,
         row_number() OVER (
           PARTITION BY p.id
           ORDER BY round(sqrt((a.x-b.x)*(a.x-b.x) + (a.y-b.y)*(a.y-b.y)
                               + (a.z-b.z)*(a.z-b.z)), 0) ASC, p.nid ASC
         ) AS rnk
  FROM pairs p
  JOIN pts a ON a.id = p.id
  JOIN pts b ON b.id = p.nid
)
SELECT id AS c_custkey, count(*) AS n_neighbors,
       round(avg(n_value), 6) AS avg_neighbor_value
FROM ranked WHERE rnk <= 5
GROUP BY id
"""

    sql["multimodal_plan"] = """
WITH base AS (
  SELECT doc_id AS media_id,
         (16 + doc_id % 48)::INT AS w,
         (16 + (doc_id * 7) % 48)::INT AS h,
         1.0 + (doc_id % 9) AS duration
  FROM documents
),
sized AS (
  SELECT media_id, w, h, duration,
         CAST(ceil(w * least(32.0 / greatest(w, h), 1.0)) AS BIGINT) AS target_width,
         CAST(ceil(h * least(32.0 / greatest(w, h), 1.0)) AS BIGINT) AS target_height,
         greatest(CAST(floor(duration / 2.0) AS INT), 1) AS n_frames
  FROM base
)
SELECT media_id, target_width, target_height,
       round(i * 2.0, 3) AS frame_ts
FROM sized, (SELECT unnest(range(0, 1000)) AS i) idx
WHERE i < n_frames
"""

    # greedy first-wins spatial dedup: sequential scan in id order, a row
    # is a duplicate iff within `radius` (chord metric) of an already-KEPT
    # row — replayed exactly with a recursive CTE carrying the kept set
    sql["dup_spatial"] = f"""
WITH RECURSIVE {_GEO_SQL.strip().rstrip()},
seq AS (
  SELECT id, x, y, z, row_number() OVER (ORDER BY id) AS rn FROM pts
),
scan AS (
  SELECT 0::BIGINT AS rn,
         []::DOUBLE[] AS kx, []::DOUBLE[] AS ky, []::DOUBLE[] AS kz,
         []::BIGINT[] AS kept_ids
  UNION ALL
  SELECT p.rn,
         CASE WHEN len(list_filter(range(1, len(s.kx) + 1),
                i -> (s.kx[i]-p.x)*(s.kx[i]-p.x) + (s.ky[i]-p.y)*(s.ky[i]-p.y)
                     + (s.kz[i]-p.z)*(s.kz[i]-p.z) <= 640000.0)) > 0
              THEN s.kx ELSE list_append(s.kx, p.x) END,
         CASE WHEN len(list_filter(range(1, len(s.kx) + 1),
                i -> (s.kx[i]-p.x)*(s.kx[i]-p.x) + (s.ky[i]-p.y)*(s.ky[i]-p.y)
                     + (s.kz[i]-p.z)*(s.kz[i]-p.z) <= 640000.0)) > 0
              THEN s.ky ELSE list_append(s.ky, p.y) END,
         CASE WHEN len(list_filter(range(1, len(s.kx) + 1),
                i -> (s.kx[i]-p.x)*(s.kx[i]-p.x) + (s.ky[i]-p.y)*(s.ky[i]-p.y)
                     + (s.kz[i]-p.z)*(s.kz[i]-p.z) <= 640000.0)) > 0
              THEN s.kz ELSE list_append(s.kz, p.z) END,
         CASE WHEN len(list_filter(range(1, len(s.kx) + 1),
                i -> (s.kx[i]-p.x)*(s.kx[i]-p.x) + (s.ky[i]-p.y)*(s.ky[i]-p.y)
                     + (s.kz[i]-p.z)*(s.kz[i]-p.z) <= 640000.0)) > 0
              THEN s.kept_ids ELSE list_append(s.kept_ids, p.id) END
  FROM scan s JOIN seq p ON p.rn = s.rn + 1
),
final AS (SELECT kept_ids FROM scan ORDER BY rn DESC LIMIT 1)
SELECT g.id AS c_custkey,
       CASE WHEN list_contains(f.kept_ids, g.id) THEN 0 ELSE 1 END AS qc_flag
FROM geo g, final f
"""

    sql["interpolate_to_points"] = f"""
WITH {_GEO_SQL},
grid AS (
  SELECT 40.0 + n_nationkey * 0.5 AS glat,
         5.0 + n_nationkey * 0.7 AS glon,
         CAST(n_nationkey AS DOUBLE) AS gv
  FROM nation
),
gpts AS (
  SELECT gv,
         cos(radians(glat)) * cos(radians(glon)) * 6370000.0 AS gx,
         cos(radians(glat)) * sin(radians(glon)) * 6370000.0 AS gy,
         sin(radians(glat)) * 6370000.0 AS gz
  FROM grid
),
ranked AS (
  SELECT p.id, g.gv,
         row_number() OVER (
           PARTITION BY p.id
           ORDER BY (p.x-g.gx)*(p.x-g.gx) + (p.y-g.gy)*(p.y-g.gy)
                    + (p.z-g.gz)*(p.z-g.gz) ASC, g.gv ASC
         ) AS rn
  FROM pts p CROSS JOIN gpts g
)
SELECT id AS c_custkey, CAST(gv AS INTEGER) AS nearest_grid
FROM ranked WHERE rn = 1
"""

    sql["dem_check"] = """
SELECT s_suppkey,
       CASE WHEN abs(CAST(s_suppkey % 100 AS DOUBLE)
                     - CAST((s_suppkey * 7) % 100 AS DOUBLE)) > 30.0
            THEN 1 ELSE 0 END AS qc_flag
FROM supplier
"""

    sql["external_check"] = """
SELECT o_orderkey,
       CASE WHEN o_totalprice > 300000.0 THEN 1
            WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS qc_flag
FROM orders
"""

    sql["dup_exact"] = """
SELECT doc_id,
       CASE WHEN row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) > 1
            THEN 1 ELSE 0 END AS qc_flag
FROM documents
"""

    sql["wt_token_counts"] = f"""
SELECT doc_id,
       {_N_WORDS} AS n_tokens,
       len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]+'))
         AS n_bpe_tokens
FROM documents
"""

    sql["wt_quality_features"] = f"""
WITH feat AS (
  SELECT doc_id,
         {_N_WORDS} AS n_words,
         {_CLEAN_TOKS} AS ct,
         {_RAW_TOKS} AS toks,
         str_split(text, chr(10)) AS lines
  FROM documents
),
der AS (
  SELECT doc_id, n_words,
         CASE WHEN len(ct) > 0 THEN
           len(list_filter(ct, t -> list_contains({stops_en}, t))) * 1.0 / len(ct)
         END AS stop_ratio,
         CASE WHEN len(toks) > 0 THEN
           len(list_filter(toks, t -> regexp_matches(t, '[a-zA-Z]'))) * 1.0 / len(toks)
         END AS alpha_ratio,
         CASE WHEN len(ct) > 0 THEN
           CAST(list_aggregate(list_transform(ct, t -> length(t)), 'sum') AS DOUBLE)
             / len(ct)
         END AS mwl,
         CASE WHEN len(lines) > 0 THEN
           1.0 - len(list_distinct(lines)) * 1.0 / len(lines)
         END AS dlf
  FROM feat
)
SELECT doc_id,
       round(stop_ratio, 6) AS stopword_ratio,
       round(alpha_ratio, 6) AS alpha_word_ratio,
       round(mwl, 6) AS mean_word_length,
       round(dlf, 6) AS dup_line_frac,
       CASE WHEN n_words < 30 OR n_words > 10000
                 OR mwl < 2.5 OR mwl > 12.0 THEN 1 ELSE 0 END AS qc_flag
FROM der
"""

    sql["wt_scrub"] = """
SELECT doc_id,
  regexp_replace(
    regexp_replace(
      regexp_replace(
        regexp_replace(text,
          '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
        '\\b(?:\\d{1,3}\\.){3}\\d{1,3}\\b', '[IP]', 'g'),
      '\\b\\d{3}[-.]\\d{3}[-.]\\d{4}\\b', '[PHONE]', 'g'),
    '\\b(?:frak|gorram|smeg|felgercarb|dren)\\b', '[TOX]', 'gi') AS scrubbed
FROM documents
"""

    sql["wt_fingerprint"] = """
SELECT doc_id, md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp
FROM documents
"""

    sql["ngram_jaccard"] = """
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS t
  FROM documents
),
grams AS (
  SELECT doc_id,
         list_distinct(list_transform(
           range(1, greatest(len(t) - 2, 0) + 1),
           i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS g
  FROM toks
),
ex AS (SELECT doc_id, len(g) AS sz, unnest(g) AS gram FROM grams),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.sz AS sz_a, b.sz AS sz_b,
         count(*) AS c
  FROM ex a JOIN ex b ON a.gram = b.gram AND a.doc_id < b.doc_id
  GROUP BY 1, 2, 3, 4
)
SELECT id_a, id_b, round(c * 1.0 / (sz_a + sz_b - c), 6) AS jaccard
FROM inter
WHERE c * 1.0 / (sz_a + sz_b - c) >= 0.2
"""

    qv = "[" + ", ".join(str(x) for x in _QUERY_VEC) + "]::DOUBLE[]"
    sql["ann_topk"] = f"""
WITH q AS (SELECT {qv} AS qv),
scored AS (
  SELECT vec_id,
         list_reduce(list_transform(range(1, 65),
             i -> (embedding::DOUBLE[])[i] * qv[i]), (a, b) -> a + b)
         / (sqrt(list_reduce(list_transform(range(1, 65),
             i -> (embedding::DOUBLE[])[i] * (embedding::DOUBLE[])[i]), (a, b) -> a + b))
            * sqrt(list_reduce(list_transform(range(1, 65),
             i -> qv[i] * qv[i]), (a, b) -> a + b))) AS cos
  FROM embeddings, q
)
SELECT vec_id, rank FROM (
  SELECT vec_id, row_number() OVER (ORDER BY cos DESC, vec_id ASC) AS rank
  FROM scored
) WHERE rank <= 10
"""

    # identical left-fold dot products on both sides (list_reduce == the
    # Spark aggregate fold), so threshold membership is bit-stable
    def _dot(x, y):
        return (
            f"list_reduce(list_transform(range(1, 65), i -> {x}[i] * {y}[i]),"
            " (acc, v) -> acc + v)"
        )

    ea, eb = "(a.embedding::DOUBLE[])", "(b.embedding::DOUBLE[])"
    cos_ab = (
        f"{_dot(ea, eb)} / (sqrt({_dot(ea, ea)}) * sqrt({_dot(eb, eb)}))"
    )
    sql["embedding_near_dups_exact"] = f"""
SELECT a.vec_id AS id_a, b.vec_id AS id_b
FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
WHERE {cos_ab} >= 0.4
"""

    # hyperplane signature: same seeded planes as textops.similarity
    # (np.random.default_rng(7)), same left-fold dot -> bit-identical buckets
    import numpy as np

    planes = np.random.default_rng(7).standard_normal((8, 64))

    def _plane_lit(p) -> str:
        return "([" + ", ".join(repr(float(x)) for x in p) + "]::DOUBLE[])"

    def _sig_sql(v: str) -> str:
        terms = [
            f"(CASE WHEN {_dot(v, _plane_lit(planes[p]))} > 0"
            f" THEN {1 << p} ELSE 0 END)"
            for p in range(8)
        ]
        return " + ".join(terms)

    # banded multi-table LSH: 16 tables of 16 planes, seeds 7..22 (mirrors
    # embedding_near_dup_pairs(n_planes=16, n_tables=16)); a pair is a
    # candidate if it collides in ANY table. The corpus is the raw table
    # plus the SAME planted clones as the Spark side (vec_id % 10 == 0,
    # first component + 0.25) — exact binary constant, identical union.
    # list_inner_product accumulates left-to-right like the fold —
    # verified bit-identical on every testdata row — and runs ~10x faster
    # than the interpreted list_reduce lambda
    def _ip(x: str, y: str) -> str:
        return f"list_inner_product({x}, {y})"

    def _sig_sql_planes(v: str, pl) -> str:
        return " + ".join(
            f"(CASE WHEN {_ip(v, _plane_lit(pl[p]))} > 0 THEN {1 << p} ELSE 0 END)"
            for p in range(len(pl))
        )

    table_sigs = [
        _sig_sql_planes(
            "v", np.random.default_rng(7 + t).standard_normal((16, 64))
        )
        for t in range(16)
    ]
    sig_cols = ",\n         ".join(
        f"{s} AS sig{t}" for t, s in enumerate(table_sigs)
    )
    any_collision = " OR ".join(f"a.sig{t} = b.sig{t}" for t in range(16))
    sql["embedding_near_dups"] = f"""
WITH base AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
),
corpus AS (
  SELECT vec_id, v FROM base
  UNION ALL
  SELECT vec_id + 10000000 AS vec_id,
         list_concat([v[1] + 0.25], v[2:64]) AS v
  FROM base WHERE vec_id % 10 = 0
),
sigs AS (
  SELECT vec_id, v,
         {sig_cols}
  FROM corpus
)
SELECT a.vec_id AS id_a, b.vec_id AS id_b
FROM sigs a JOIN sigs b ON a.vec_id < b.vec_id
WHERE ({any_collision})
  AND {_ip("(a.v)", "(b.v)")}
      / (sqrt({_ip("(a.v)", "(a.v)")}) * sqrt({_ip("(b.v)", "(b.v)")})) >= 0.95
"""

    _qv_np = np.asarray(_QUERY_VEC, dtype=float)
    qbits = int(sum((1 << p) for p in range(8) if planes[p] @ _qv_np > 0))
    probes = sorted({qbits} | {qbits ^ (1 << p) for p in range(8)})
    sql["ann_topk_lsh"] = f"""
WITH q AS (SELECT {qv} AS qv),
sigs AS (
  SELECT vec_id, embedding::DOUBLE[] AS v, {_sig_sql("(embedding::DOUBLE[])")} AS sig
  FROM embeddings
),
scored AS (
  SELECT vec_id,
         {_dot("v", "qv")} / (sqrt({_dot("v", "v")}) * sqrt({_dot("qv", "qv")})) AS cos
  FROM sigs, q
  WHERE sig IN ({", ".join(str(x) for x in probes)})
)
SELECT vec_id, rank FROM (
  SELECT vec_id, row_number() OVER (ORDER BY cos DESC, vec_id ASC) AS rank
  FROM scored
) WHERE rank <= 10
"""

    # IVF top-k: the coarse quantizer is a deterministic function of the
    # lowest-vec_id sample, so the oracle builder re-derives the SAME
    # centroids from the same parquet bytes (DuckDB fetch -> the shared
    # numpy kmeans_core) and inlines them as literals; per-row assignment
    # is a strict-fold argmax (CLAUDE.md rule 21: the UDF's per-dimension
    # accumulation is bit-identical to list_inner_product), ties to the
    # lowest cell on both sides (np.argmax first-max == list_position
    # first occurrence). Probe cells come from the one shared
    # ivf_probe_cells helper. Correctness runs at sf0.01 (TESTDATA.md), so
    # the sample is read from that table.
    try:
        import duckdb

        from titanlib_spark.textops import ivf_probe_cells, kmeans_core

        _ivf_rows = duckdb.sql(
            "SELECT embedding FROM "
            "read_parquet('/root/testdata/sf0.01/embeddings.parquet') "
            "WHERE embedding IS NOT NULL ORDER BY vec_id LIMIT 10000"
        ).fetchall()
        _C = kmeans_core(
            np.asarray([r[0] for r in _ivf_rows], dtype=float),
            n_centroids=16, iters=10, seed=7,
        )
        _ivf_probes = ivf_probe_cells(_C, _QUERY_VEC, nprobe=4)
        _cent_lits = [
            "[" + ", ".join(repr(float(x)) for x in _C[c]) + "]::DOUBLE[]"
            for c in range(len(_C))
        ]
        _scores = "[" + ", ".join(
            _ip("unit", cl) for cl in _cent_lits
        ) + "]"
        sql["ann_topk_ivf"] = f"""
WITH q AS (SELECT {qv} AS qv),
base AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
  WHERE embedding IS NOT NULL
    AND {_ip("(embedding::DOUBLE[])", "(embedding::DOUBLE[])")} > 0
),
un AS (
  SELECT vec_id, v,
         list_transform(v, x -> x / sqrt({_ip("v", "v")})) AS unit
  FROM base
),
cells AS (
  SELECT vec_id, v,
         list_position({_scores}, list_aggregate({_scores}, 'max')) - 1 AS cell
  FROM un
),
scored AS (
  SELECT vec_id,
         {_dot("v", "qv")} / (sqrt({_dot("v", "v")}) * sqrt({_dot("qv", "qv")})) AS cos
  FROM cells, q
  WHERE cell IN ({", ".join(str(c) for c in _ivf_probes)})
)
SELECT vec_id, rank FROM (
  SELECT vec_id, row_number() OVER (ORDER BY cos DESC, vec_id ASC) AS rank
  FROM scored
) WHERE rank <= 10
"""
    except Exception:
        pass  # sample unavailable -> ann_topk_ivf degrades to rows-only

    # --- md5-mode minhash / simhash: identical integer math both engines --
    from titanlib_spark.textops.dedup import MERSENNE31, _minhash_coeffs

    av, bv = _minhash_coeffs(64)
    P = MERSENNE31
    _shingles = (
        "CASE WHEN len(lower(text)) >= 5 THEN "
        "list_distinct(list_transform(range(1, len(lower(text)) - 3), "
        "i -> substring(lower(text), i, 5))) "
        "ELSE []::VARCHAR[] END"
    )
    _h60 = "('0x' || substring(md5(_s), 1, 15))::BIGINT"
    _mins = ",\n         ".join(
        f"min(({av[i]} * h + {bv[i]}) % {P}) AS m{i}" for i in range(64)
    )
    _sig_list = "[" + ", ".join(f"m{i}" for i in range(64)) + "]"
    _minhash_base = f"""
sh AS (SELECT doc_id, {_shingles} AS g FROM documents),
ex AS (SELECT doc_id, unnest(g) AS _s FROM sh),
hx AS (SELECT doc_id, {_h60} % {P} AS h FROM ex),
votes AS (
  SELECT doc_id,
         {_mins}
  FROM hx GROUP BY doc_id
),
sigs AS (SELECT doc_id, {_sig_list} AS sig FROM votes)
"""
    _sum64 = " + ".join(f"m{i}" for i in range(64))
    sql["minhash_sigs"] = f"""
WITH {_minhash_base.strip()}
SELECT d.doc_id,
       coalesce(v.m0, -1) AS m0,
       coalesce(v.m31, -1) AS m31,
       coalesce(v.m63, -1) AS m63,
       coalesce({" + ".join(f"v.m{i}" for i in range(64))}, -1) AS sig_sum
FROM documents d LEFT JOIN votes v USING (doc_id)
"""

    # full LSH dedup pipeline: bands of 4 slots, bucket key = the slice
    # string, per-bucket cap 1000, jaccard estimate >= 0.7, losers dropped
    sql["minhash_dedup"] = f"""
WITH {_minhash_base.strip()},
banded AS (
  SELECT doc_id, b AS band,
         array_to_string(sig[b*4+1 : b*4+4], ',') AS bucket
  FROM sigs, (SELECT unnest(range(0, 16)) AS b)
),
ok_buckets AS (
  SELECT band, bucket FROM banded GROUP BY band, bucket
  HAVING count(*) <= 1000
),
cands AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM banded a
  JOIN ok_buckets o ON a.band = o.band AND a.bucket = o.bucket
  JOIN banded b ON a.band = b.band AND a.bucket = b.bucket
              AND a.doc_id < b.doc_id
),
verified AS (
  SELECT id_a, id_b
  FROM cands
  JOIN sigs sa ON sa.doc_id = id_a
  JOIN sigs sb ON sb.doc_id = id_b
  WHERE len(list_filter(range(1, 65), i -> sa.sig[i] = sb.sig[i])) / 64.0 >= 0.7
),
losers AS (SELECT DISTINCT id_b AS doc_id FROM verified)
SELECT doc_id FROM documents
WHERE doc_id NOT IN (SELECT doc_id FROM losers)
ORDER BY doc_id
"""

    # winnowed passage dedup: 8-token windows -> 60-bit md5 hashes ->
    # rightmost-min selection over k=4 frames (full frames only) ->
    # distinct per-doc fingerprints -> bucket-capped shared-fp pairs
    sql["dup_passages"] = """
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS tk
  FROM documents
),
wins AS (
  SELECT doc_id,
         unnest(range(0, greatest(len(tk) - 7, 0))) AS pos,
         tk FROM toks
),
h AS (
  SELECT doc_id, pos,
         ('0x' || substring(md5(array_to_string(tk[pos+1 : pos+8], ' ')),
                            1, 15))::BIGINT AS h
  FROM wins
),
frames AS (
  SELECT s.doc_id, s.pos AS start, m.h,
         row_number() OVER (PARTITION BY s.doc_id, s.pos
                            ORDER BY m.h ASC, m.pos DESC) AS rn,
         count(*) OVER (PARTITION BY s.doc_id, s.pos) AS cnt
  FROM h s JOIN h m ON m.doc_id = s.doc_id
                   AND m.pos BETWEEN s.pos AND s.pos + 3
),
sel AS (SELECT DISTINCT doc_id, h FROM frames WHERE rn = 1 AND cnt = 4),
ok AS (SELECT h FROM sel GROUP BY h HAVING count(*) <= 1000)
SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_shared
FROM sel a JOIN ok USING (h)
JOIN sel b ON a.h = b.h AND a.doc_id < b.doc_id
GROUP BY a.doc_id, b.doc_id
HAVING count(*) >= 1
ORDER BY id_a, id_b
"""

    # streaming near-dup batch replay: same sigs CTE, band buckets, then
    # first-claim order on (batch, id) packed into one comparable key
    sql["streaming_near_dups"] = f"""
WITH {_minhash_base.strip()},
bd AS (
  SELECT doc_id, doc_id % 3 AS batch_id, b AS band,
         array_to_string(sig[b*4+1 : b*4+4], ',') AS bucket
  FROM sigs, (SELECT unnest(range(0, 16)) AS b)
),
firsts AS (
  SELECT band, bucket, min(batch_id * (1::BIGINT << 40) + doc_id) AS first_key  -- doc_id < 2^40
  FROM bd GROUP BY band, bucket
),
hits AS (
  SELECT bd.doc_id,
         max(CASE WHEN bd.batch_id * (1::BIGINT << 40) + bd.doc_id > f.first_key
                  THEN 1 ELSE 0 END) AS near_dup
  FROM bd JOIN firsts f ON bd.band = f.band AND bd.bucket = f.bucket
  GROUP BY bd.doc_id
)
SELECT d.doc_id, d.doc_id % 3 AS batch_id,
       coalesce(h.near_dup, 0) AS near_dup
FROM documents d LEFT JOIN hits h USING (doc_id)
ORDER BY doc_id
"""

    _tok_h = (
        "('0x' || substring(md5(unnest(regexp_split_to_array("
        "lower(trim(text)), '\\s+'))), 1, 15))::BIGINT"
    )
    _bitvotes = ",\n         ".join(
        f"sum(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS b{b}"
        for b in range(60)
    )
    _fp = " + ".join(
        f"(CASE WHEN b{b} > 0 THEN {1 << b}::BIGINT ELSE 0 END)" for b in range(60)
    )
    sql["simhash"] = f"""
WITH ex AS (SELECT doc_id, {_tok_h} AS h FROM documents),
votes AS (
  SELECT doc_id,
         {_bitvotes}
  FROM ex GROUP BY doc_id
),
fp AS (SELECT doc_id, {_fp} AS simhash60 FROM votes)
SELECT d.doc_id, coalesce(fp.simhash60, 0) AS simhash60
FROM documents d LEFT JOIN fp USING (doc_id)
"""

    # Multimodal decode->pool: the stub kernel is an arithmetic pixel
    # field, so the oracle replays pixel = (seed + 31r + 7c + 13ch) % 256
    # and the band means (integer sums exact in float64 -> bit-identical
    # before the float32 narrowing both engines apply via ::REAL).
    sql["multimodal_features"] = """
WITH med AS (
  SELECT doc_id AS media_id,
         strlen(text) AS plen,
         16 + doc_id % 48 AS w,
         16 + (doc_id * 7) % 48 AS h
  FROM documents
),
sm AS (
  SELECT media_id, w, h, h // 8 AS q, h % 8 AS rem,
         (plen * 2654435761 + w * 97 + h * 31) % 2147483647 AS seed
  FROM med
),
px AS (
  SELECT media_id, q, rem,
         CASE WHEN r.r < rem * (q + 1) THEN r.r // (q + 1)
              ELSE rem + (r.r - rem * (q + 1)) // q END AS j,
         (seed + 31 * r.r + 7 * c.c + 13 * ch.ch) % 256 AS px
  FROM sm,
       generate_series(0, 62) r(r),
       generate_series(0, 62) c(c),
       generate_series(0, 2) ch(ch)
  WHERE r.r < h AND c.c < w
),
bands AS (
  SELECT media_id, j, (sum(px)::DOUBLE / count(*)) / 255.0 AS m
  FROM px GROUP BY media_id, j
)
SELECT b.media_id, 8 AS feature_dim,
       round((max(CASE WHEN j = 0 THEN m END)::REAL)::DOUBLE, 3) AS f0,
       round((max(CASE WHEN j = 7 THEN m END)::REAL)::DOUBLE, 3) AS f7,
       max(CASE WHEN sm.seed IS NULL THEN NULL ELSE 0 END) AS decode_ok
FROM bands b JOIN sm ON b.media_id = sm.media_id
GROUP BY b.media_id
ORDER BY b.media_id
"""

    # LSH-gated exact n-gram jaccard (the 100 TB composition benched as a
    # headline query): minhash over the SAME word trigrams -> 16 bands of 4
    # -> capped buckets -> candidate pairs -> exact jaccard on candidates.
    sql["ngram_jaccard_lsh"] = f"""
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS t
  FROM documents
),
grams AS (
  SELECT doc_id,
         list_distinct(list_transform(
           range(1, greatest(len(t) - 2, 0) + 1),
           i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS g
  FROM toks
),
exg AS (SELECT doc_id, unnest(g) AS _s FROM grams),
hx AS (SELECT doc_id, {_h60} % {P} AS h FROM exg),
votes AS (
  SELECT doc_id,
         {_mins}
  FROM hx GROUP BY doc_id
),
sigs AS (SELECT doc_id, {_sig_list} AS sig FROM votes),
banded AS (
  SELECT doc_id, b AS band,
         array_to_string(sig[b*4+1 : b*4+4], ',') AS bucket
  FROM sigs, (SELECT unnest(range(0, 16)) AS b)
),
ok_buckets AS (
  SELECT band, bucket FROM banded GROUP BY band, bucket
  HAVING count(*) <= 1000
),
cands AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM banded a
  JOIN ok_buckets o ON a.band = o.band AND a.bucket = o.bucket
  JOIN banded b ON a.band = b.band AND a.bucket = b.bucket
              AND a.doc_id < b.doc_id
),
sizes AS (SELECT doc_id, len(g) AS sz FROM grams),
inter AS (
  SELECT c.id_a, c.id_b, count(*) AS c
  FROM cands c
  JOIN exg a ON a.doc_id = c.id_a
  JOIN exg b ON b.doc_id = c.id_b AND b._s = a._s
  GROUP BY 1, 2
)
SELECT i.id_a, i.id_b,
       round(i.c * 1.0 / (sa.sz + sb.sz - i.c), 6) AS jaccard
FROM inter i
JOIN sizes sa ON sa.doc_id = i.id_a
JOIN sizes sb ON sb.doc_id = i.id_b
WHERE i.c * 1.0 / (sa.sz + sb.sz - i.c) >= 0.2
"""

    # --- SCT family: isolated-pair closed-form OI (see _sct_pairs_geo) ----
    # For a 2-station neighborhood S = [[c, r], [r, c]] (c = 1 + eps2) the
    # inverse is [[c, -r], [-r, c]] / (c^2 - r^2), so every step of the
    # reference chain (innovation, analysis/cv residuals, sig2o, pog, chi,
    # information content) is plain arithmetic. Dh clamps make D/Dh == 1
    # exactly wherever acos precision would matter; remaining engine noise
    # is ~1e-10 against decision margins >= 1e-3 and round(x, 4) outputs.
    # Lag-reduction filter: first-order recurrence, n=2 sub-steps unrolled
    # (a=b=0.5, k1=k2=0.25 -> 1/(a*k1+b*k2)=4.0, (k1+k2)=0.5, k1*k2=0.0625,
    # dt=0.5, dt/2=0.25 — all exact binary, so the recursive CTE mirrors
    # titanlib_spark/operators/lag_filter.py:_lag_filter_np op-for-op and
    # the doubles are bit-identical across engines).
    sql["lag_filter"] = """
WITH RECURSIVE d AS (
  SELECT user_id, event_id,
         row_number() OVER (PARTITION BY user_id ORDER BY epoch(ts)) AS rn,
         epoch(ts) AS t, value AS v
  FROM events
),
rec AS (
  SELECT user_id, event_id, rn, t, v, v AS curr FROM d WHERE rn = 1
  UNION ALL
  SELECT user_id, event_id, rn, t, v,
         curr1 + 0.25 * (4.0 * (base + 0.0625 * (fib - curr1))
                       + 4.0 * (base + 0.0625 * ((f0 + 1.5 * g) - curr1))) AS curr
  FROM (
    SELECT *, curr0 + 0.25 * (4.0 * (base + 0.0625 * (fia - curr0))
                            + 4.0 * (base + 0.0625 * (fib - curr0))) AS curr1
    FROM (
      SELECT n.user_id, n.event_id, n.rn, n.t, n.v,
             r.v AS f0, (n.v - r.v) AS g,
             0.5 * ((n.v - r.v) / (n.t - r.t)) AS base,
             (r.v + 0.5 * (n.v - r.v)) AS fia,
             (r.v + 1.0 * (n.v - r.v)) AS fib,
             r.curr AS curr0
      FROM rec r JOIN d n ON n.user_id = r.user_id AND n.rn = r.rn + 1
    ) s1
  ) s2
)
SELECT event_id, round(curr, 6) AS filtered FROM rec
"""

    sql["sct"] = f"""
WITH {_SCT_PAIRS_SQL},
pgeo AS (
  SELECT *,
    abs(elev - elev_o) AS dz,
    value - (value + v_o) / 2.0 AS d1,
    v_o - (value + v_o) / 2.0 AS d2,
    acos(least(1.0, greatest(-1.0,
      cos(radians(lat)) * cos(radians(lat_o)) * cos(radians(lon) - radians(lon_o))
      + sin(radians(lat)) * sin(radians(lat_o))))) * 6378137.0 AS dist
  FROM pr
),
k AS (
  SELECT *,
    exp(-0.5 * ((dist / greatest(dist, 10000.0)) * (dist / greatest(dist, 10000.0)))
        - 0.5 * ((dz / 200.0) * (dz / 200.0))) AS rr
  FROM pgeo
),
oi AS (
  SELECT *,
    (1.5 * d1 - rr * d2) / (2.25 - rr * rr) AS sd1,
    (1.5 * d2 - rr * d1) / (2.25 - rr * rr) AS sd2
  FROM k
),
res AS (
  SELECT *,
    (sd1 + rr * sd2) - d1 AS ares1,
    (sd2 + rr * sd1) - d2 AS ares2,
    -((2.25 - rr * rr) / 1.5) * sd1 AS cvres1
  FROM oi
),
pg AS (
  SELECT *,
    (cvres1 * ares1)
      / greatest((d1 * (-ares1) + d2 * (-ares2)) / 2.0, 0.01) AS pogv
  FROM res
)
SELECT c_custkey,
       CASE WHEN cse = 3 THEN 0
            WHEN cvres1 < 0 AND pogv > pos_t THEN 1
            WHEN cvres1 >= 0 AND pogv > neg_t THEN 1
            ELSE 0 END AS qc_flag,
       CASE WHEN cse = 3 THEN NULL ELSE round(pogv, 4) END AS pog
FROM pg
"""

    sql["sct_resistant"] = f"""
WITH {_SCT_PAIRS_SQL},
pgeo AS (
  SELECT *,
    abs(elev - elev_o) AS dz,
    value - (value + v_o) / 2.0 AS d1,
    v_o - (value + v_o) / 2.0 AS d2
  FROM pr
),
k AS (
  SELECT *, exp(-0.5 - 0.5 * ((dz / 200.0) * (dz / 200.0))) AS rr FROM pgeo
),
oi AS (
  SELECT *,
    (1.5 * d1 - rr * d2) / (2.25 - rr * rr) AS sd1,
    (1.5 * d2 - rr * d1) / (2.25 - rr * rr) AS sd2
  FROM k
),
ch AS (
  SELECT *,
    sqrt(greatest(
      (value - ((value + v_o) / 2.0 + (sd1 + rr * sd2)))
      * (value - (value - sd1 * ((2.25 - rr * rr) / 1.5))), 0.0)) AS chi
  FROM oi
),
fin AS (
  SELECT *,
    chi > (CASE WHEN d1 >= 0 THEN tpos_t ELSE tneg_t END) AS bad
  FROM ch
)
SELECT c_custkey,
       CASE WHEN m = 1 THEN 0
            WHEN cse = 3 THEN 12
            WHEN cse = 7 THEN 11
            WHEN bad THEN 1
            ELSE 0 END AS qc_flag,
       CASE WHEN m = 0 AND cse != 3 AND cse != 7 AND bad
            THEN round(chi, 4) ELSE NULL END AS score
FROM fin
"""

    # fgt_spatial on the same isolated pairs: chi = |yo - mean| with
    # sigma_b = 1, basic mode (z = chi) — exact decimal arithmetic on both
    # engines, no trig in the verdict chain at all.
    sql["fgt_spatial"] = f"""
WITH {_SCT_PAIRS_SQL},
ch AS (
  SELECT *,
    value - (value + v_o) / 2.0 AS d1,
    abs(value - (value + v_o) / 2.0) AS chi
  FROM pr
),
fin AS (
  SELECT *,
    chi > (CASE WHEN d1 >= 0 THEN tpos_t ELSE tneg_t END) AS bad
  FROM ch
)
SELECT c_custkey,
       CASE WHEN m = 1 THEN 0
            WHEN cse = 3 THEN 12
            WHEN cse = 7 THEN 11
            WHEN bad THEN 1
            ELSE 0 END AS qc_flag,
       CASE WHEN m = 0 AND cse != 3 AND cse != 7 AND bad
            THEN round(chi, 4) ELSE NULL END AS score
FROM fin
"""

    sql["sct_dual"] = f"""
WITH {_SCT_PAIRS_SQL},
pgeo AS (SELECT *, abs(elev - elev_o) AS dz FROM pr),
k AS (
  SELECT *,
    exp(-0.5 - 0.5 * ((dz / 200.0) * (dz / 200.0))) / 1.1 AS cross_i
  FROM pgeo
)
SELECT c_custkey,
       CASE WHEN m = 1 THEN 0
            WHEN cse = 3 THEN 12
            WHEN (value > 5.0) = (v_o > 5.0) THEN 0
            WHEN cross_i >= 0.45 AND cross_i * ln(cross_i / 0.001) > tdual_t THEN 1
            ELSE 0 END AS qc_flag
FROM k
"""

    # --- SCT family, 3-point neighborhoods (see _sct_triplets_geo) --------
    # The 3x3 OI inverts in closed form via the adjugate; medians/IQRs over
    # 3 elements are exact/one-lerp expressions; the great-circle distances
    # replay the numpy formula (engine trig differs by ~1 ulp -> ~1e-8 on
    # pog/z, against >= 1e-3 decision margins and round(x, 4) outputs;
    # margins verified by scripts/sct_triplet_margins.py).
    _tg3 = f"""
tg AS (
  SELECT *,
    {_gc3("lat_a", "lat_b")} AS dab,
    {_gc3("lat_a", "lat_c")} AS dac,
    {_gc3("lat_b", "lat_c")} AS dbc,
    abs(ea - eb) AS dzab, abs(ea - ec) AS dzac, abs(eb - ec) AS dzbc
  FROM tw
)"""

    def _adj3(c: str) -> str:
        """det + 3x3 adjugate inverse entries for symmetric S with constant
        diagonal `c` and off-diagonals rab/rac/rbc (columns in scope)."""
        return f"""
    {c} * ({c} * {c} - rbc * rbc) - rab * (rab * {c} - rbc * rac)
      + rac * (rab * rbc - {c} * rac) AS det,
    ({c} * {c} - rbc * rbc) AS n_aa,
    (rac * rbc - rab * {c}) AS n_ab,
    (rab * rbc - {c} * rac) AS n_ac,
    ({c} * {c} - rac * rac) AS n_bb,
    (rab * rac - {c} * rbc) AS n_bc,
    ({c} * {c} - rab * rab) AS n_cc"""

    sql["sct_general"] = f"""
WITH {_SCT_TRIPLETS_SQL},
{_tg3},
dh AS (
  SELECT *,
    least(dab, dac) + (greatest(dab, dac) - least(dab, dac)) * 0.1 AS q_a,
    least(dab, dbc) + (greatest(dab, dbc) - least(dab, dbc)) * 0.1 AS q_b,
    least(dac, dbc) + (greatest(dac, dbc) - least(dac, dbc)) * 0.1 AS q_c
  FROM tg
),
sm AS (
  SELECT *,
    greatest(((q_a + q_b) + q_c) / 3.0, 1000.0) AS dhm,
    ((va + vb) + vc) / 3.0 AS yb
  FROM dh
),
cov AS (
  SELECT *,
    exp(-0.5 * ((dab / dhm) * (dab / dhm)) - 0.5 * ((dzab / 200.0) * (dzab / 200.0))) AS rab,
    exp(-0.5 * ((dac / dhm) * (dac / dhm)) - 0.5 * ((dzac / 200.0) * (dzac / 200.0))) AS rac,
    exp(-0.5 * ((dbc / dhm) * (dbc / dhm)) - 0.5 * ((dzbc / 200.0) * (dzbc / 200.0))) AS rbc,
    va - ((va + vb) + vc) / 3.0 AS da,
    vb - ((va + vb) + vc) / 3.0 AS db,
    vc - ((va + vb) + vc) / 3.0 AS dc
  FROM sm
),
inv AS (
  SELECT *, {_adj3("1.5")}
  FROM cov
),
sd AS (
  SELECT *,
    (n_aa / det) * da + (n_ab / det) * db + (n_ac / det) * dc AS sda,
    (n_ab / det) * da + (n_bb / det) * db + (n_bc / det) * dc AS sdb,
    (n_ac / det) * da + (n_bc / det) * db + (n_cc / det) * dc AS sdc
  FROM inv
),
res AS (
  SELECT *,
    (sda + rab * sdb + rac * sdc) - da AS ares_a,
    (rab * sda + sdb + rbc * sdc) - db AS ares_b,
    (rac * sda + rbc * sdb + sdc) - dc AS ares_c,
    -(1.0 / (n_aa / det)) * sda AS cvres_a,
    -(1.0 / (n_bb / det)) * sdb AS cvres_b,
    -(1.0 / (n_cc / det)) * sdc AS cvres_c
  FROM sd
),
pg AS (
  SELECT *,
    greatest(((da * (-ares_a) + db * (-ares_b)) + dc * (-ares_c)) / 3.0, 0.01) AS sig2o
  FROM res
),
verdict AS (
  SELECT *,
    cvres_a * ares_a / sig2o AS pog_a,
    cvres_b * ares_b / sig2o AS pog_b,
    cvres_c * ares_c / sig2o AS pog_c
  FROM pg
)
SELECT ka AS c_custkey,
       CASE WHEN cvres_a < 0 AND pog_a > pos_a THEN 1
            WHEN cvres_a >= 0 AND pog_a > neg_a THEN 1 ELSE 0 END AS qc_flag,
       round(pog_a, 4) AS pog
FROM verdict
UNION ALL
SELECT kb, CASE WHEN cvres_b < 0 AND pog_b > pos_b THEN 1
                WHEN cvres_b >= 0 AND pog_b > neg_b THEN 1 ELSE 0 END,
       round(pog_b, 4)
FROM verdict
UNION ALL
SELECT kc, CASE WHEN cvres_c < 0 AND pog_c > pos_c THEN 1
                WHEN cvres_c >= 0 AND pog_c > neg_c THEN 1 ELSE 0 END,
       round(pog_c, 4)
FROM verdict
"""

    # median of three without arithmetic (exact, order-free)
    def _med3(x: str, y: str, z: str) -> str:
        return f"greatest(least({x}, {y}), least(greatest({x}, {y}), {z}))"

    sql["sct_resistant_general"] = f"""
WITH {_SCT_TRIPLETS_SQL},
{_tg3},
dh AS (
  SELECT *,
    least(greatest(((least(dab, dac) + least(dab, dbc)) + least(dac, dbc)) / 3.0,
                   250.0), 100000.0) AS dhm,
    {_med3("va", "vb", "vc")} AS yb
  FROM tg
),
cov AS (
  SELECT *,
    exp(-0.5 * ((dab / dhm) * (dab / dhm)) - 0.5 * ((dzab / 200.0) * (dzab / 200.0))) AS rab,
    exp(-0.5 * ((dac / dhm) * (dac / dhm)) - 0.5 * ((dzac / 200.0) * (dzac / 200.0))) AS rac,
    exp(-0.5 * ((dbc / dhm) * (dbc / dhm)) - 0.5 * ((dzbc / 200.0) * (dzbc / 200.0))) AS rbc,
    va - yb AS da, vb - yb AS db, vc - yb AS dc
  FROM dh
),
inv AS (
  SELECT *, {_adj3("1.5")}
  FROM cov
),
sd AS (
  SELECT *,
    (n_aa / det) * da + (n_ab / det) * db + (n_ac / det) * dc AS sda,
    (n_ab / det) * da + (n_bb / det) * db + (n_bc / det) * dc AS sdb,
    (n_ac / det) * da + (n_bc / det) * db + (n_cc / det) * dc AS sdc
  FROM inv
),
an AS (
  SELECT *,
    yb + (sda + rab * sdb + rac * sdc) AS ya_a,
    yb + (rab * sda + sdb + rbc * sdc) AS ya_b,
    yb + (rac * sda + rbc * sdb + sdc) AS ya_c,
    va - sda / (n_aa / det) AS yav_a,
    vb - sdb / (n_bb / det) AS yav_b,
    vc - sdc / (n_cc / det) AS yav_c
  FROM sd
),
ch AS (
  SELECT *,
    sqrt(greatest((va - ya_a) * (va - yav_a), 0.0)) AS ch_a,
    sqrt(greatest((vb - ya_b) * (vb - yav_b), 0.0)) AS ch_b,
    sqrt(greatest((vc - ya_c) * (vc - yav_c), 0.0)) AS ch_c
  FROM an
),
rob AS (
  SELECT *,
    least(ch_a, ch_b, ch_c) AS s0,
    {_med3("ch_a", "ch_b", "ch_c")} AS s1,
    greatest(ch_a, ch_b, ch_c) AS s2
  FROM ch
),
zed AS (
  SELECT *,
    (s2 - (s2 - s1) * 0.5) - (s1 - (s1 - s0) * 0.5) AS sigma,
    CASE WHEN (va - yb) >= 0 THEN tpos_a ELSE tneg_a END AS thr
  FROM rob
),
fin AS (
  SELECT *,
    CASE WHEN sigma > 0
         THEN (ch_a - s1) / (sigma + sigma / sqrt(3.0)) END AS z_a
  FROM zed
)
SELECT ka AS c_custkey,
       CASE WHEN z_a IS NOT NULL AND z_a > thr THEN 1 ELSE 0 END AS qc_flag,
       CASE WHEN z_a IS NOT NULL AND z_a > thr THEN round(z_a, 4) END AS score
FROM fin
UNION ALL
SELECT kb, 0, NULL FROM fin
UNION ALL
SELECT kc, 0, NULL FROM fin
"""

    sql["sct_dual_general"] = f"""
WITH {_SCT_TRIPLETS_SQL},
{_tg3},
dh AS (
  SELECT *,
    least(greatest(((least(dab, dac) + least(dab, dbc)) + least(dac, dbc)) / 3.0,
                   250.0), 100000.0) AS dhm,
    CASE WHEN va > 5.0 THEN 1 ELSE 0 END AS wa,
    CASE WHEN vb > 5.0 THEN 1 ELSE 0 END AS wb,
    CASE WHEN vc > 5.0 THEN 1 ELSE 0 END AS wc
  FROM tg
),
cov AS (
  SELECT *,
    exp(-0.5 * ((dab / dhm) * (dab / dhm)) - 0.5 * ((dzab / 200.0) * (dzab / 200.0))) AS rab,
    exp(-0.5 * ((dac / dhm) * (dac / dhm)) - 0.5 * ((dzac / 200.0) * (dzac / 200.0))) AS rac,
    exp(-0.5 * ((dbc / dhm) * (dbc / dhm)) - 0.5 * ((dzbc / 200.0) * (dzbc / 200.0))) AS rbc,
    wa + wb + wc AS n1
  FROM dh
),
idiv AS (
  SELECT *,
    CASE
      WHEN wa != wb AND wa != wc THEN 0.001
      WHEN wa = wb AND wa != wc THEN
        CASE WHEN 1.0 - ((1.1 - rab) / (1.1 * 1.1 - rab * rab))
                     / (1.1 / (1.1 * 1.1 - rab * rab)) > 0
             THEN 1.0 - ((1.1 - rab) / (1.1 * 1.1 - rab * rab))
                      / (1.1 / (1.1 * 1.1 - rab * rab))
             ELSE 0.001 END
      ELSE
        CASE WHEN 1.0 - ((1.1 - rac) / (1.1 * 1.1 - rac * rac))
                     / (1.1 / (1.1 * 1.1 - rac * rac)) > 0
             THEN 1.0 - ((1.1 - rac) / (1.1 * 1.1 - rac * rac))
                      / (1.1 / (1.1 * 1.1 - rac * rac))
             ELSE 0.001 END
    END AS own,
    CASE
      WHEN wa != wb AND wa != wc THEN
        rab * ((1.1 - rbc) / (1.1 * 1.1 - rbc * rbc))
        + rac * ((1.1 - rbc) / (1.1 * 1.1 - rbc * rbc))
      WHEN wa = wb AND wa != wc THEN rac * (1.0 / 1.1)
      ELSE rab * (1.0 / 1.1)
    END AS crs
  FROM cov
)
SELECT ka AS c_custkey,
       CASE WHEN n1 = 0 OR n1 = 3 THEN 0
            WHEN (own >= 0.45 OR crs >= 0.45) AND crs > own
                 AND crs * ln(crs / own) > tdual_a THEN 1
            ELSE 0 END AS qc_flag
FROM idiv
UNION ALL
SELECT kb, 0 FROM idiv
UNION ALL
SELECT kc, 0 FROM idiv
"""

    # --- the flagship webtext pipeline over `documents` -------------------
    lang_scores = []
    for lg in LANGS:
        lang_scores.append(
            f"CASE WHEN len(lid_toks) > 0 THEN "
            f"len(list_filter(lid_toks, t -> list_contains({_stops_sql(lg)}, t)))"
            f" * 1.0 / len(lid_toks) ELSE 0.0 END AS s_{lg}"
        )
    argmax = """
CASE WHEN best < 0.08 THEN 'und'
     WHEN s_en >= s_de AND s_en >= s_fr AND s_en >= s_es THEN 'en'
     WHEN s_de >= s_fr AND s_de >= s_es THEN 'de'
     WHEN s_fr >= s_es THEN 'fr'
     ELSE 'es' END
"""
    stops_case = (
        "CASE pred_lang "
        + " ".join(f"WHEN '{lg}' THEN {_stops_sql(lg)}" for lg in LANGS)
        + f" ELSE {_stops_sql('en')} END"
    )
    # batch replay of the streaming windowed keep-rate aggregation:
    # 1-hour event-time buckets over docs spaced 600 s apart
    sql["windowed_keep_rates"] = r"""
SELECT (CAST(doc_id AS BIGINT) * 600 // 3600) * 3600 AS w_start_s,
       count(*) AS n_pages,
       CAST(sum(CASE WHEN text IS NOT NULL
                      AND len(regexp_split_to_array(trim(text), '\s+')) >= 30
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_keep
FROM documents
GROUP BY 1
"""

    # final state of the running per-host streaming aggregate == a plain
    # GROUP BY over the whole table; n_emissions counts the parity halves
    # (= micro-batches) each host appeared in
    sql["running_host_quality"] = r"""
SELECT source || '.example' AS host,
       count(*) AS n_pages,
       CAST(sum(CASE WHEN text IS NOT NULL
                      AND len(regexp_split_to_array(trim(text), '\s+')) >= 30
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_keep,
       CAST(count(DISTINCT doc_id % 2) AS BIGINT) AS n_emissions
FROM documents
GROUP BY 1
ORDER BY host
"""

    sql["wt_pipeline"] = f"""
WITH base AS (
  SELECT doc_id, text,
         'https://' || source || '.example/doc/' || doc_id AS url,
         to_timestamp(doc_id) AS warc_ts,
         length(trim(text)) = 0 OR text IS NULL AS is_empty,
         regexp_split_to_array(lower(trim(text)), '\\s+') AS lid_toks,
         {_RAW_TOKS} AS toks,
         {_CLEAN_TOKS} AS ct,
         {_N_WORDS} AS n_words
  FROM documents
),
lid AS (
  SELECT *, {", ".join(lang_scores)}
  FROM base
),
lid2 AS (
  SELECT *, greatest(s_en, s_de, s_fr, s_es) AS best FROM lid
),
lid3 AS (
  SELECT *, {argmax} AS pred_lang FROM lid2
),
feat AS (
  SELECT *,
    CASE WHEN len(ct) > 0 THEN
      CAST(list_aggregate(list_transform(ct, t -> length(t)), 'sum') AS DOUBLE) / len(ct)
    END AS mwl,
    CASE WHEN n_words > 0 THEN
      ((length(text) - length(replace(text, '#', '')))
       + (length(text) - length(replace(text, '...', ''))) / 3) * 1.0 / n_words
    END AS symbol_ratio,
    CASE WHEN len(ct) > 0 THEN
      len(list_filter(ct, t -> list_contains({stops_case}, t))) * 1.0 / len(ct)
    END AS stop_ratio,
    CASE WHEN len(toks) > 0 THEN
      len(list_filter(toks, t -> regexp_matches(t, '[a-zA-Z]'))) * 1.0 / len(toks)
    END AS alpha_ratio,
    CASE WHEN len(str_split(text, chr(10))) > 0 THEN
      1.0 - len(list_distinct(str_split(text, chr(10)))) * 1.0
            / len(str_split(text, chr(10)))
    END AS dup_line,
    CASE WHEN len(str_split(text, chr(10) || chr(10))) > 0 THEN
      1.0 - len(list_distinct(str_split(text, chr(10) || chr(10)))) * 1.0
            / len(str_split(text, chr(10) || chr(10)))
    END AS dup_para,
    row_number() OVER (
      PARTITION BY CASE WHEN length(trim(text)) = 0 OR text IS NULL
                        THEN '_nohash_' || url ELSE md5(text) END
      ORDER BY warc_ts ASC, url ASC) > 1 AS is_dup
  FROM lid3
)
SELECT doc_id,
  CASE WHEN is_empty
         OR (NOT is_empty AND coalesce(n_words < 30, FALSE))
         OR (NOT is_empty AND coalesce(n_words > 100000, FALSE))
         OR (NOT is_empty AND coalesce(mwl < 2.5 OR mwl > 12.0, FALSE))
         OR (NOT is_empty AND coalesce(symbol_ratio > 0.25, FALSE))
         OR (NOT is_empty AND coalesce(stop_ratio < 0.0, FALSE))
         OR (NOT is_empty AND coalesce(alpha_ratio < 0.70, FALSE))
         OR (NOT is_empty AND coalesce(dup_line > 0.30, FALSE))
         OR (NOT is_empty AND coalesce(dup_para > 0.30, FALSE))
         OR (NOT is_empty AND (pred_lang NOT IN ('en','de','fr','es','und')
                               OR best < 0.0))
         OR is_dup
       THEN 1 ELSE 0 END AS qc_flag,
  CASE WHEN is_empty
         OR (NOT is_empty AND coalesce(n_words < 30, FALSE))
         OR (NOT is_empty AND coalesce(n_words > 100000, FALSE))
         OR (NOT is_empty AND coalesce(mwl < 2.5 OR mwl > 12.0, FALSE))
         OR (NOT is_empty AND coalesce(symbol_ratio > 0.25, FALSE))
         OR (NOT is_empty AND coalesce(stop_ratio < 0.0, FALSE))
         OR (NOT is_empty AND coalesce(alpha_ratio < 0.70, FALSE))
         OR (NOT is_empty AND coalesce(dup_line > 0.30, FALSE))
         OR (NOT is_empty AND coalesce(dup_para > 0.30, FALSE))
         OR (NOT is_empty AND (pred_lang NOT IN ('en','de','fr','es','und')
                               OR best < 0.0))
         OR is_dup
       THEN 0 ELSE 1 END AS keep
FROM feat
"""

    return sql


# ---------------------------------------------------------------------------
# driver contract
# ---------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return q_tpch_q1(spark, DEFAULT_SF)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "tpch_q1": q_tpch_q1,
        "orders_by_nation": q_orders_by_nation,
        "events_hourly": q_events_hourly,
        "range_check": q_range_check,
        "range_check_climatology": q_range_check_climatology,
        "metadata_check": q_metadata_check,
        "isolation_check": q_isolation_check,
        "buddy_check": q_buddy_check,
        "buddy_event_check": q_buddy_event_check,
        "fgt": q_fgt,
        "background_by_nation": q_background_by_nation,
        "background_theil_sen": q_background_theil_sen,
        "background_vp": q_background_vp,
        "dem_check": q_dem_check,
        "external_check": q_external_check,
        "dup_exact": q_dup_exact,
        "wt_token_counts": q_wt_token_counts,
        "wt_quality_features": q_wt_quality_features,
        "wt_scrub": q_wt_scrub,
        "wt_fingerprint": q_wt_fingerprint,
        "wt_pipeline": q_wt_pipeline,
        "windowed_keep_rates": q_windowed_keep_rates,
        "running_host_quality": q_running_host_quality,
        "fgt_spatial": q_fgt_spatial,
        "ngram_jaccard": q_ngram_jaccard,
        "ngram_jaccard_lsh": q_ngram_jaccard_lsh,
        "ann_topk": q_ann_topk,
        "ann_topk_lsh": q_ann_topk_lsh,
        "ann_topk_ivf": q_ann_topk_ivf,
        "embedding_near_dups": q_embedding_near_dups,
        "embedding_near_dups_exact": q_embedding_near_dups_exact,
        "minhash_dedup": q_minhash_dedup,
        "minhash_sigs": q_minhash_sigs,
        "streaming_near_dups": q_streaming_near_dups,
        "dup_passages": q_dup_passages,
        "simhash": q_simhash,
        "lag_filter": q_lag_filter,
        "sct": q_sct,
        "sct_dual": q_sct_dual,
        "sct_resistant": q_sct_resistant,
        "sct_general": q_sct_general,
        "sct_dual_general": q_sct_dual_general,
        "sct_resistant_general": q_sct_resistant_general,
        "dup_spatial": q_dup_spatial,
        "multimodal_plan": q_multimodal_plan,
        "multimodal_features": q_multimodal_features,
        "interpolate_to_points": q_interpolate_to_points,
        "knn_avg": q_knn_avg,
        "knn_always_k": q_knn_always_k,
        "audio_wav_features": q_audio_wav_features,
        "png_decode_features": q_png_decode_features,
        "jpeg_decode_features": q_jpeg_decode_features,
    }


def oracle_sql() -> dict[str, str]:
    return _oracle_sql()
