"""Webtext pipeline tests — F1 gate, scrub byte-parity, stage goldens.

Mirrors the reference's test strategy (SURVEY.md §5): exact expected
vectors on tiny handcrafted inputs + seeded-error recovery on a generated
corpus with known labels (reference tests/sct_dual_test.py:20-31 pattern).
"""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from titanlib_spark.webtext.extract import extract_text_py
from titanlib_spark.webtext.generate import generate_pages, generate_rows, render_html
from titanlib_spark.webtext.langid import classify_batch
from titanlib_spark.webtext.pipeline import QualityFilterConfig, run_quality_pipeline
from titanlib_spark.webtext.scrub import reference_scrub


# --- pure-python units (no spark) -------------------------------------------

def test_extract_roundtrip_byte_identical():
    for text in ["hello world", "a & b < c > d", "p1\n\np2\n\np3", "", "  "]:
        html = render_html(text, "t")
        assert extract_text_py(html) == text


def test_extract_invalid_bytes_null():
    assert extract_text_py(b"\xff\xfe\x00\x80bad") is None
    assert extract_text_py(None) is None


def test_reference_scrub():
    s = "mail bob.smith@foo.org or 555-123-4567 at 10.0.0.1 you smeg head"
    out = reference_scrub(s)
    assert out == "mail [EMAIL] or [PHONE] at [IP] you [TOX] head"
    # deterministic / idempotent on clean text
    assert reference_scrub("plain text.") == "plain text."


def test_langid_batch():
    texts = pd.Series(
        [
            "the cat and the dog are in the house with a ball",
            "der hund und die katze sind nicht in dem haus",
            "le chat est dans la maison avec le chien pour vous",
            "xqzt blorp fnark glemp vorx",
            "",
            None,
        ]
    )
    out = classify_batch(texts)
    assert list(out["lang"][:3]) == ["en", "de", "fr"]
    assert out["lang"][3] == "und"
    assert out["lang"][4] == "und"


def test_generator_deterministic():
    a = list(generate_rows(range(0, 50), seed=42))
    b = list(generate_rows(range(0, 50), seed=42))
    assert a == b
    c = list(generate_rows([3], seed=43))
    assert c[0]["text"] != a[3]["text"]


def test_generator_duplicates_copy_base():
    rows = {r["url"]: r for r in generate_rows(range(0, 100), seed=42)}
    by_i = list(generate_rows(range(0, 100), seed=42))
    assert by_i[98]["text"] == by_i[0]["text"]
    assert by_i[99]["text"] == by_i[0]["text"]
    assert by_i[98]["url"] != by_i[0]["url"]


# --- spark end-to-end ---------------------------------------------------------

N = 3000


@pytest.fixture(scope="module")
def qc_result(spark):
    pages = generate_pages(spark, N, seed=42)
    return run_quality_pipeline(pages, QualityFilterConfig()).cache()


def test_pipeline_f1_gate(qc_result):
    """north_rule: keep/drop F1 >= 0.99 vs reference labels."""
    cm = (
        qc_result.groupBy("expected_keep", "keep").count().collect()
    )
    tp = sum(r["count"] for r in cm if r["expected_keep"] and r["keep"])
    fp = sum(r["count"] for r in cm if not r["expected_keep"] and r["keep"])
    fn = sum(r["count"] for r in cm if r["expected_keep"] and not r["keep"])
    f1 = 2 * tp / (2 * tp + fp + fn)
    assert f1 >= 0.99, f"F1={f1} (tp={tp} fp={fp} fn={fn})"


def test_scrub_byte_identical_per_url(qc_result):
    """north_rule: byte-identical (scrubbed) text per url vs the reference
    rule, checked via sha2 on both sides."""
    mismatches = (
        qc_result.where(
            F.sha2(F.col("scrubbed_text"), 256)
            != F.sha2(F.col("expected_scrubbed_text"), 256)
        ).count()
    )
    assert mismatches == 0


def test_expected_reasons_subset(qc_result):
    """Docs dropped for a planted defect must list that rule among reasons
    (other rules may also fire; flags are an OR-semilattice)."""
    planted = qc_result.where(
        F.col("expected_reason").isNotNull() & (F.col("expected_reason") != "duplicate")
    )
    missing = planted.where(
        ~F.array_contains(F.col("reasons"), F.col("expected_reason"))
    ).count()
    assert missing == 0


def test_duplicates_dropped_first_wins(qc_result):
    dups = qc_result.where(F.col("expected_reason") == "duplicate")
    assert dups.where(F.col("keep")).count() == 0
    # the base docs (same text, earliest warc_ts) must be kept
    bases = qc_result.where(
        (F.col("url").rlike("/doc/\\d*00$")) & F.col("expected_keep")
    )
    assert bases.where(~F.col("keep")).count() == 0


def test_langid_accuracy(qc_result):
    labeled = qc_result.where(F.col("expected_keep"))
    wrong = labeled.where(F.col("pred_lang") != F.col("lang")).count()
    total = labeled.count()
    assert wrong / total < 0.01, f"{wrong}/{total} langid errors on clean docs"


def test_flags_vocabulary(qc_result):
    codes = {r["flags"] for r in qc_result.select("flags").distinct().collect()}
    assert codes <= {0, 1, 11, 12, 100}


def test_extract_matches_text_column(spark):
    """html -> text extraction reproduces the text column byte-for-byte."""
    pages = generate_pages(spark, 500, seed=42)
    from titanlib_spark.webtext.extract import extract_text

    bad = pages.where(
        F.coalesce(extract_text("html"), F.lit("<null>"))
        != F.coalesce(F.col("text"), F.lit("<null>"))
    ).count()
    assert bad == 0


def test_checkpoint_resume(spark, tmp_path):
    from titanlib_spark.webtext.checkpoint import completed_parts, run_partitioned

    out = str(tmp_path / "qc_out")
    pages = generate_pages(spark, 600, seed=42)
    cfg = QualityFilterConfig(run_ppl_stage=False)
    s1 = run_partitioned(spark, pages, out, n_parts=8, cfg=cfg)
    assert s1["parts_completed"] == 8
    assert s1["n_docs"] == 600
    assert completed_parts(spark, out) == set(range(8))
    progress = spark.read.parquet(f"{out}/_progress")
    assert dict(progress.dtypes) == {
        "part_id": "int", "n_docs": "bigint", "n_keep": "bigint",
        "n_drop": "bigint", "n_scrubbed": "bigint", "run_id": "string",
        "config_json": "string", "completed_ts": "timestamp", "wall_s": "double",
    }
    assert progress.where(F.col("run_id") == s1["run_id"]).count() == 8
    assert progress.agg(F.sum("n_docs")).first()[0] == 600
    # second run: everything already done -> no work
    s2 = run_partitioned(spark, pages, out, n_parts=8, cfg=cfg)
    assert s2["parts_skipped"] == 8
    assert s2["n_docs"] == 0
    # output is complete and salted
    written = spark.read.parquet(f"{out}/pages_qc")
    assert written.count() == 600
    assert written.select("part_id").distinct().count() == 8


def test_submit_entrypoint(spark, tmp_path):
    """The spark-submit entrypoint drives the full resumable run from a
    command line (main() attaches to the active session — the same code
    path spark-submit executes on a cluster)."""
    import sys

    sys.path.insert(0, "scripts")
    try:
        from submit_pipeline import main, parse_args
    finally:
        sys.path.pop(0)

    out = str(tmp_path / "qc_sub")
    argv = ["--generate", "200", "--output", out, "--n-parts", "4", "--no-ppl"]
    a = parse_args(argv)
    assert a.generate == 200 and not a.input
    s1 = main(argv)
    assert s1["parts_completed"] == 4 and s1["n_docs"] == 200
    s2 = main(argv)  # rerun resumes: nothing left to do
    assert s2["parts_skipped"] == 4 and s2["n_docs"] == 0
    written = spark.read.parquet(f"{out}/pages_qc")
    assert written.count() == 200
    assert set(written.columns) >= {"url", "keep", "reasons", "scrubbed_text"}


def test_recrawl_same_url_keeps_first_no_fanout(spark):
    """Recrawls: duplicates sharing the KEEPER'S url (same url, later
    warc_ts, same content — the common case). The first occurrence must
    stay kept, later copies flagged duplicate, and the dup join-back must
    not fan out rows (regression: a url-keyed join flagged the keeper and
    multiplied rows when several dups shared one url)."""
    import datetime

    base = [r for r in generate_rows(range(0, 40), seed=42)
            if r["expected_keep"] and r["expected_reason"] is None]
    assert len(base) >= 5
    rows = []
    for r in base:
        rows.append({k: r[k] for k in ("url", "warc_ts", "html", "text", "lang")})
    # three recrawls of base[0]: SAME url, same content, later timestamps
    for k in (1, 2, 3):
        rc = dict(rows[0])
        rc["warc_ts"] = rows[0]["warc_ts"] + datetime.timedelta(days=k)
        rows.append(rc)
    pdf = pd.DataFrame(rows)
    df = spark.createDataFrame(pdf)
    out = run_quality_pipeline(df, QualityFilterConfig()).cache()
    try:
        assert out.count() == len(rows)  # no join fan-out
        u0 = rows[0]["url"]
        same_url = out.where(F.col("url") == u0).orderBy("warc_ts").collect()
        assert len(same_url) == 4
        assert same_url[0]["keep"], "first occurrence (keeper) was dropped"
        for later in same_url[1:]:
            assert not later["keep"]
            assert "duplicate" in later["reasons"]
        # distinct-url clean docs unaffected
        others = out.where(F.col("url") != u0)
        assert others.where(~F.col("keep")).count() == 0
    finally:
        out.unpersist()


def test_ppl_outlier_null_hosts_do_not_corrupt_global(spark):
    """Regression (round-5 advice): with NULL hosts present, rollup emits a
    NULL-host *detail* group alongside the grand-total row; keying the
    global background on `group_col IS NULL` could blend fields across the
    two (e.g. the NULL-host median with the grand-total count). The global
    row must be selected by grouping()==1. Construction: true global
    median 2.0 / IQR 6.0 makes ppl=17 a z=2.14 outlier at threshold 2, but
    a blend that takes the NULL-host median (8.0) would read z=1.29 and
    miss it."""
    from titanlib_spark.flags import BAD, GOOD
    from titanlib_spark.webtext.perplexity import perplexity_outlier_check

    rows = (
        [(f"http://big.example/{i}", "big.example", 2.0) for i in range(20)]
        + [(f"null-{i}", None, 8.0) for i in range(15)]
        + [("http://thin.example/0", "thin.example", 17.0)]
    )
    df = spark.createDataFrame(rows, "url string, host string, ppl double")
    out = perplexity_outlier_check(
        df, group_col="host", threshold=2.0, num_min=5, id_col="url"
    ).collect()
    flags = {r["url"]: r["flags"] for r in out}
    assert flags["http://thin.example/0"] == BAD
    assert all(
        v == GOOD for k, v in flags.items() if k != "http://thin.example/0"
    ), "non-outlier rows (incl. NULL-host docs) must stay GOOD"
