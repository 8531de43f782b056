"""The four closed-loop workloads: one client, next iteration only after the
previous one returned and was checked.

Each workload builds its inputs from the seed in `setup`, runs one timed
unit of work in `iterate` (the harness times exactly that call), checks
the outputs of that iteration in `check` (outside the timed window), and
in a traced run adds exact counts per iteration (`counts`) and direct
layer probes (`probes`). Spans wrap the benchmark's own calls into the
package; nothing inside the package is changed.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import time
from statistics import median

import numpy as np
import pandas as pd

from perfbench.harness import materialize

PAGE_COLS = ["url", "warc_ts", "html", "text", "lang"]
PROBE_REPS = 2


class OutputMismatch(Exception):
    """An iteration produced output that fails the workload's check."""


def _timed(fn) -> float:
    t0 = time.time()
    fn()
    return time.time() - t0


class Workload:
    name = ""
    rows = 0  # input rows one iteration processes
    # untimed iterations that end set-up: iterations keep getting faster
    # for four to six iterations while the JIT compiles the driver's and
    # the tasks' code (a webtext_bulk pass 5.5 s down to 4 s, a station_qc
    # chain 8.5 s down to 7 s); a second warm-up iteration takes the
    # steepest part out of the timed ones
    warmup = 2

    def __init__(self, spark, seed: int, data_dir: str, tracer) -> None:
        self.spark = spark
        self.seed = seed
        self.data_dir = data_dir
        self.tracer = tracer

    def setup(self) -> None:
        raise NotImplementedError

    def prepare(self, k: int) -> None:
        """Untimed client-side work before iteration k."""

    def iterate(self, k: int) -> None:
        raise NotImplementedError

    def check(self, k: int) -> None:
        raise NotImplementedError

    def counts(self, k: int) -> dict[str, float]:
        return {}

    def probes(self) -> dict[str, float]:
        return {}

    def install_traced(self) -> None:
        """Wrap package entry points whose work the iteration cannot
        observe from outside; wrappers record only while tracing."""

    def close(self) -> None:
        pass

    def _probe(self, metric: str, fn) -> float:
        """Median wall of PROBE_REPS calls, each under its own span, with
        the persistent RDDs a call leaves behind freed before the next."""
        from perfbench.harness import free_new_rdds, persistent_rdds

        sc = self.spark.sparkContext
        walls = []
        for _ in range(PROBE_REPS):
            before = set(persistent_rdds(sc))
            with self.tracer.span(metric[: -len("_s")] if metric.endswith("_s") else metric):
                walls.append(_timed(fn))
            free_new_rdds(sc, before)
        return median(walls)


# ------------------------------------------------------------------ webtext


def _webtext_probes(wl: Workload, pages, cfg, n_docs: int) -> dict[str, float]:
    """Direct calls into each webtext layer on the workload's own pages:
    the fused analyzer and the scrub oracle single-core on a pandas batch,
    and each Spark-side stage materialized on its own."""
    from pyspark.sql import functions as F

    from titanlib_spark.flags import ensure_flags
    from titanlib_spark.webtext.dedup import is_duplicate
    from titanlib_spark.webtext.features import analyze_batch, with_fused_features
    from titanlib_spark.webtext.perplexity import perplexity_outlier_check
    from titanlib_spark.webtext.pipeline import host_of, run_quality_pipeline
    from titanlib_spark.webtext.scrub import reference_scrub

    out: dict[str, float] = {}
    batch = pages.select("text", "html").limit(n_docs).toPandas()
    n = len(batch)
    out["webtext.features.analyze_batch_us_per_doc"] = 1e6 / n * wl._probe(
        "webtext.features.analyze_batch", lambda: analyze_batch(batch["text"], batch["html"])
    )
    texts = batch["text"].tolist()
    out["webtext.scrub.reference_scrub_us_per_doc"] = 1e6 / n * wl._probe(
        "webtext.scrub.reference_scrub", lambda: [reference_scrub(t) for t in texts]
    )
    out["webtext.features.with_fused_features_s"] = wl._probe(
        "webtext.features.with_fused_features_s",
        lambda: materialize(with_fused_features(pages, text_col="text", html_col="html")),
    )
    # stage inputs as the pipeline shapes them, checkpointed outside timing
    prep = ensure_flags(
        with_fused_features(
            pages.withColumn("host", host_of("url")), text_col="text", html_col="html"
        )
        .drop("text", "html")
        .withColumn("_row_id", F.monotonically_increasing_id())
    ).localCheckpoint(eager=True)
    out["webtext.dedup.is_duplicate_s"] = wl._probe(
        "webtext.dedup.is_duplicate_s",
        lambda: materialize(
            is_duplicate(
                prep.select("_row_id", "url", "content_hash", "warc_ts"),
                hash_col="content_hash",
            )
        ),
    )
    out["webtext.perplexity.perplexity_outlier_check_s"] = wl._probe(
        "webtext.perplexity.perplexity_outlier_check_s",
        lambda: materialize(
            perplexity_outlier_check(
                prep,
                group_col="host",
                threshold=cfg.ppl_threshold,
                num_min=cfg.ppl_num_min,
                num_iterations=cfg.ppl_iterations,
                valid_max=cfg.ppl_valid_max,
                id_col="_row_id",
            )
        ),
    )
    prep.unpersist(True)
    out["webtext.pipeline.run_quality_pipeline_s"] = wl._probe(
        "webtext.pipeline.run_quality_pipeline_s",
        lambda: materialize(
            run_quality_pipeline(pages, cfg).select(
                "url", "flags", "keep", "reasons", "scrubbed_text"
            )
        ),
    )
    return out


class WebtextBulk(Workload):
    """Generated pages through the resumable partitioned runner, each
    iteration into a fresh output directory."""

    name = "webtext_bulk"
    rows = 3000
    F1_MIN = 0.99

    def setup(self) -> None:
        from pyspark.sql import functions as F

        from titanlib_spark.webtext.generate import generate_pages

        full = generate_pages(self.spark, self.rows, seed=self.seed).cache()
        # labels stay on the driver; the runner sees the production shape
        self.labels = full.select(
            "url", "expected_keep", F.md5("expected_scrubbed_text").alias("exp_md5")
        ).toPandas()
        self.pages = full.select(*PAGE_COLS)

    def _out(self, k: int) -> str:
        return os.path.join(self.data_dir, f"bulk-{k}")

    def iterate(self, k: int) -> None:
        from titanlib_spark.webtext.checkpoint import run_partitioned

        with self.tracer.span("webtext.checkpoint.run_partitioned"):
            self.summary = run_partitioned(self.spark, self.pages, self._out(k))

    def check(self, k: int) -> None:
        from pyspark.sql import functions as F

        out = self._out(k)
        try:
            s = self.summary
            if s["parts_skipped"] != 0 or s["n_docs"] != self.rows:
                raise OutputMismatch(
                    f"run summary: parts_skipped={s['parts_skipped']} n_docs={s['n_docs']}"
                )
            got = (
                self.spark.read.parquet(f"{out}/pages_qc")
                .select("url", "keep", F.md5("scrubbed_text").alias("got_md5"))
                .toPandas()
            )
        finally:
            shutil.rmtree(out, ignore_errors=True)
        m = self.labels.merge(got, on="url", how="inner")
        if len(got) != self.rows or len(m) != self.rows:
            raise OutputMismatch(f"{len(got)} output rows, {len(m)} match input urls")
        keep, exp = m["keep"].astype(bool), m["expected_keep"].astype(bool)
        tp = int((keep & exp).sum())
        f1 = 2 * tp / max(1, 2 * tp + int((keep & ~exp).sum()) + int((~keep & exp).sum()))
        if f1 < self.F1_MIN:
            raise OutputMismatch(f"keep F1 {f1:.4f} < {self.F1_MIN}")
        bad = int((m["got_md5"].fillna("") != m["exp_md5"].fillna("")).sum())
        if bad:
            raise OutputMismatch(f"{bad} urls differ from the reference scrub")

    def probes(self) -> dict[str, float]:
        from titanlib_spark.webtext.pipeline import QualityFilterConfig

        out = _webtext_probes(self, self.pages, QualityFilterConfig(), 1000)
        out.update(_probe_loop(self, WebtextStream))
        return out


def _probe_loop(parent: Workload, cls, steps: int = 3) -> dict[str, float]:
    """Run another workload's iterations inside a traced run's probe
    phase: set it up, run one warm-up iteration and `steps - 1` checked
    ones, each freeing what it persisted. Span times and counts are
    medians over the checked iterations; the workload's own probes follow.
    A failed check raises, which fails the probe phase."""
    from perfbench.harness import free_new_rdds, persistent_rdds

    wl = cls(parent.spark, parent.seed, os.path.join(parent.data_dir, cls.name), parent.tracer)
    wl.install_traced()
    sc = parent.spark.sparkContext
    wl.setup()
    try:
        samples = []
        for k in range(steps):
            before = set(persistent_rdds(sc))
            wl.prepare(k)
            with parent.tracer.span(f"{cls.name}.iteration") as root:
                wl.iterate(k)
            wl.check(k)
            if k:
                vals = wl.counts(k)
                for sp in parent.tracer.descendants(root["id"]):
                    key = sp["name"] + "_s"
                    vals[key] = vals.get(key, 0.0) + sp["end"] - sp["start"]
                samples.append(vals)
            free_new_rdds(sc, before)
        out = {key: median([v[key] for v in samples]) for key in samples[0]}
        out.update(wl.probes())
        return out
    finally:
        wl.close()


class WebtextStream(Workload):
    """One long-running streaming query; each step lands one page file
    (fresh pages plus a few re-landed earlier pages) and waits until the
    query has committed it. Runs as a probe in webtext_bulk's traced run
    (see README.md for why it is not a workload of its own)."""

    name = "webtext_stream"
    step_docs = 1000
    relanded = 40
    rows = step_docs + relanded
    n_hosts = 200

    def setup(self) -> None:
        from titanlib_spark.streaming.pipeline import stream_quality_pipeline

        for d in ("landing", "staging", "out", "ckpt"):
            os.makedirs(os.path.join(self.data_dir, d), exist_ok=True)
        self.landing = os.path.join(self.data_dir, "landing")
        self.out = os.path.join(self.data_dir, "out")
        self.seen: set[str] = set()  # content keys landed so far
        self.last_batch = -1
        self.query = stream_quality_pipeline(
            self.spark,
            self.landing,
            self.out,
            os.path.join(self.data_dir, "ckpt"),
            available_now=False,
        )

    def _rows(self, ids, url_suffix: str = "") -> list[dict]:
        from titanlib_spark.webtext.generate import generate_rows

        rows = []
        for r in generate_rows(ids, seed=self.seed, n_hosts=self.n_hosts):
            rows.append({c: r[c] for c in PAGE_COLS})
            rows[-1]["url"] += url_suffix
        return rows

    def prepare(self, k: int) -> None:
        import pyarrow as pa
        import pyarrow.parquet as pq

        rows = self._rows(range(k * self.step_docs, (k + 1) * self.step_docs))
        self.relanded_urls: set[str] = set()
        if k > 0:
            # earlier pages with text: generator ids i % 100 in (96, 97)
            # carry empty or blank text, which has no content key
            rng = np.random.default_rng([self.seed, k])
            earlier = np.arange(k * self.step_docs)
            earlier = earlier[~np.isin(earlier % 100, (96, 97))]
            old = rng.choice(earlier, size=self.relanded, replace=False)
            again = self._rows(sorted(int(i) for i in old), url_suffix=f"?relanded={k}")
            rows += again
            self.relanded_urls = {r["url"] for r in again}
        # the query keys cross-batch dedup on md5 of non-blank text: a row
        # is a cross-batch duplicate iff its key landed in an earlier step
        keys = {
            r["url"]: hashlib.md5(r["text"].encode("utf-8")).hexdigest()
            for r in rows
            if r["text"] is not None and r["text"].strip()
        }
        self.expected = {u for u, h in keys.items() if h in self.seen}
        self.seen.update(keys.values())
        table = pa.Table.from_pylist(
            rows,
            schema=pa.schema(
                [
                    ("url", pa.string()),
                    ("warc_ts", pa.timestamp("us", tz="UTC")),
                    ("html", pa.binary()),
                    ("text", pa.string()),
                    ("lang", pa.string()),
                ]
            ),
        )
        self.staged = os.path.join(self.data_dir, "staging", f"step-{k:05d}.parquet")
        pq.write_table(table, self.staged)

    def iterate(self, k: int) -> None:
        with self.tracer.span("streaming.step"):
            # a rename makes the whole file appear to the source at once
            os.rename(self.staged, os.path.join(self.landing, os.path.basename(self.staged)))
            self.query.processAllAvailable()

    def _new_progress(self) -> list:
        new = [
            p
            for p in self.query.recentProgress
            if p.batchId > self.last_batch and p.numInputRows > 0
        ]
        if new:
            self.last_batch = max(p.batchId for p in new)
        return new

    def check(self, k: int) -> None:
        from pyspark.sql import functions as F

        if self.query.exception() is not None:
            raise OutputMismatch(f"query failed: {self.query.exception()}")
        self.progress = self._new_progress()
        if sum(p.numInputRows for p in self.progress) != self.step_docs + len(
            self.relanded_urls
        ):
            raise OutputMismatch("micro-batches did not consume exactly the landed rows")
        got = (
            self.spark.read.parquet(
                *[f"{self.out}/batch_id={p.batchId}" for p in self.progress]
            )
            .where(F.array_contains("reasons", "cross_batch_duplicate"))
            .select("url")
            .toPandas()["url"]
        )
        flagged = set(got)
        if flagged != self.expected or flagged != self.relanded_urls:
            raise OutputMismatch(
                f"cross_batch_duplicate on {len(flagged)} rows, expected "
                f"{len(self.relanded_urls)} re-landed; unexpected "
                f"{sorted(flagged - self.relanded_urls)[:3]}, missing "
                f"{sorted(self.relanded_urls - flagged)[:3]}"
            )

    def counts(self, k: int) -> dict[str, float]:
        dur = lambda key: sum(p.durationMs.get(key, 0) for p in self.progress) / 1e3
        return {
            "streaming.add_batch_s": dur("addBatch"),
            "streaming.query_planning_s": dur("queryPlanning"),
            "streaming.wal_commit_s": dur("walCommit"),
            "streaming.state_rows_total": float(
                sum(op.numRowsTotal for op in self.progress[-1].stateOperators)
            ),
        }

    def close(self) -> None:
        self.query.stop()


# ---------------------------------------------------------------- station QC


class StationQC(Workload):
    """Stations at unique random positions with constant density and
    planted bad rows, through QCDataset in the reference's recommended
    order. Each check's output is checkpointed before the next check, so
    each check's span holds its own Spark work."""

    name = "station_qc"
    rows = 1500
    km2_per_station = 4.0
    ISO_RADIUS, BUDDY_RADIUS = 6000.0, 10000.0
    RECALL_MIN = 0.95
    CHECKS = ("metadata_check", "range_check", "isolation_check", "buddy_check", "sct")

    def setup(self) -> None:
        rng = np.random.default_rng(self.seed)
        n = self.rows
        side_km = np.sqrt(n * self.km2_per_station)
        lat0, lon0 = 60.0, 10.0
        lat = lat0 + rng.random(n) * side_km / 111.2
        lon = lon0 + rng.random(n) * side_km / (111.2 * np.cos(np.radians(lat0 + 0.5)))
        elev = rng.random(n) * 800.0
        value = (
            5.0 * np.sin(np.radians(lon) * 40.0)
            - 0.0065 * elev
            + rng.normal(0.0, 0.3, n)
        )
        order = rng.permutation(n)
        n_ge, n_meta, n_range, n_iso = n // 100, n // 500, n // 500, n // 1000
        ge, meta, rng_bad, iso = np.split(
            order[: n_ge + n_meta + n_range + n_iso],
            np.cumsum([n_ge, n_meta, n_range]),
        )
        value[ge] += rng.choice([-1.0, 1.0], n_ge) * rng.uniform(6.0, 12.0, n_ge)
        elev[meta] = np.nan
        value[rng_bad] = 999.0
        lat[iso] += 3.0  # far outside the network: no neighbors
        self.planted = set(int(i) for i in np.concatenate([ge, meta, rng_bad, iso]))
        pdf = pd.DataFrame(
            {"id": np.arange(n, dtype=np.int64), "lat": lat, "lon": lon,
             "elev": elev, "value": value}
        )
        cores = self.spark.sparkContext.defaultParallelism
        self.stations = (
            self.spark.createDataFrame(pdf).repartition(cores).localCheckpoint(eager=True)
        )
        self.ref_hash = None

    def _chain(self):
        from titanlib_spark.operators import (
            buddy_check,
            isolation_check,
            metadata_check,
            range_check,
            sct,
        )

        return [
            ("metadata_check", lambda df: metadata_check(df, ["lat", "lon", "elev"])),
            ("range_check", lambda df: range_check(df, vmin=-50.0, vmax=50.0)),
            ("isolation_check",
             lambda df: isolation_check(df, num_min=5, radius=self.ISO_RADIUS)),
            ("buddy_check",
             lambda df: buddy_check(
                 df, radius=self.BUDDY_RADIUS, num_min=5, threshold=2.5,
                 elev_gradient=-0.0065, min_std=1.0, num_iterations=2)),
            ("sct",
             lambda df: sct(
                 df, num_min=5, num_max=20, inner_radius=10000.0,
                 outer_radius=20000.0, num_iterations=1, num_min_prof=20,
                 min_elev_diff=100.0, min_horizontal_scale=10000.0,
                 vertical_scale=200.0, pos=4.0, neg=4.0, eps2=0.5)),
        ]

    def iterate(self, k: int) -> None:
        from pyspark.sql import functions as F

        from titanlib_spark.pipeline import QCDataset

        ds = QCDataset(self.stations, id_col="id")
        self.stage_frames = []
        for name, check in self._chain():
            with self.tracer.span(f"operators.{name}"):
                ds = ds.apply(name, check)
                ds.df = ds.df.localCheckpoint(eager=True)
            self.stage_frames.append(ds.df)
        with self.tracer.span("collect_flags"):
            self.flagged = (
                ds.df.where(F.col("flags") != 0).select("id", "flags").toPandas()
            )

    def check(self, k: int) -> None:
        fl = self.flagged.sort_values("id")
        digest = hashlib.md5(
            fl["id"].to_numpy(np.int64).tobytes() + fl["flags"].to_numpy(np.int64).tobytes()
        ).hexdigest()
        if self.ref_hash is None:
            self.ref_hash = digest
        elif digest != self.ref_hash:
            raise OutputMismatch("flag vector differs from the first iteration's")
        recall = len(self.planted & set(fl["id"].tolist())) / len(self.planted)
        if recall < self.RECALL_MIN:
            raise OutputMismatch(f"planted-error recall {recall:.3f} < {self.RECALL_MIN}")

    def counts(self, k: int) -> dict[str, float]:
        from pyspark.sql import functions as F

        out, prev = {}, 0
        for name, df in zip(self.CHECKS, self.stage_frames):
            n_bad = df.where(F.col("flags") != 0).count()
            out[f"operators.flagged.{name}"] = float(n_bad - prev)
            prev = n_bad
        return out

    def probes(self) -> dict[str, float]:
        from titanlib_spark.functions.geo import undirected_neighbor_pairs

        und, _, _ = undirected_neighbor_pairs(self.stations, radius=self.BUDDY_RADIUS)
        out = {"functions.geo.undirected_neighbor_pairs_s": self._probe(
            "functions.geo.undirected_neighbor_pairs_s", und.count)}
        out["functions.geo.pairs"] = float(und.count())
        out.update(_probe_loop(self, NearDedup))
        return out


# ---------------------------------------------------------------- near dedup


class NearDedup(Workload):
    """Generated clean documents plus planted near-duplicate clones (one
    word dropped), through both MinHash-LSH paths: char-shingle dedup and
    word-3-gram Jaccard pairs, each with md5 signatures. Runs as a probe in
    station_qc's traced run (see README.md)."""

    name = "near_dedup"
    base_pages = 1400
    CLONE_OFFSET = 1_000_000_000
    RECALL_MIN = 0.95

    def setup(self) -> None:
        from pyspark.sql import functions as F

        from titanlib_spark.webtext.generate import generate_pages

        gen = generate_pages(self.spark, self.base_pages, seed=self.seed)
        # keep-labelled pages only: no generator byte-copies, no empty docs
        base = gen.where("expected_keep").select(
            F.regexp_extract("url", r"/doc/(\d+)$", 1).cast("long").alias("doc_id"),
            "text",
        ).localCheckpoint(eager=True)
        words = F.split("text", " ")
        clones = (
            base.where(F.pmod(F.xxhash64("doc_id", F.lit(self.seed)), F.lit(10)) == 0)
            .withColumn("_k", F.pmod(F.xxhash64("doc_id", F.lit(self.seed + 1)), F.size(words)))
            .select(
                (F.col("doc_id") + F.lit(self.CLONE_OFFSET)).alias("doc_id"),
                F.concat_ws(" ", F.filter(words, lambda w, i: i != F.col("_k"))).alias("text"),
            )
        )
        cores = self.spark.sparkContext.defaultParallelism
        self.docs = base.unionByName(clones).repartition(cores).localCheckpoint(eager=True)
        ids = self.docs.select("doc_id").toPandas()["doc_id"]
        self.rows = len(ids)
        self.all_ids = set(ids.tolist())
        self.clones = {i for i in self.all_ids if i >= self.CLONE_OFFSET}
        self.ref_hash = None

    def iterate(self, k: int) -> None:
        from titanlib_spark.textops.dedup import minhash_lsh_dedup, ngram_jaccard_pairs_lsh

        with self.tracer.span("textops.dedup.minhash_lsh_dedup"):
            kept = minhash_lsh_dedup(
                self.docs, id_col="doc_id", text_col="text", hash_fn="md5"
            )
            self.kept = set(kept.select("doc_id").toPandas()["doc_id"].tolist())
        with self.tracer.span("textops.dedup.ngram_jaccard_pairs_lsh"):
            pairs = ngram_jaccard_pairs_lsh(
                self.docs, id_col="doc_id", text_col="text", n=3, hash_fn="md5"
            )
            self.pairs = set(
                map(tuple, pairs.select("id_a", "id_b").toPandas().to_numpy().tolist())
            )

    def check(self, k: int) -> None:
        dropped = self.all_ids - self.kept
        digest = hashlib.md5(
            repr((sorted(dropped), sorted(self.pairs))).encode()
        ).hexdigest()
        if self.ref_hash is None:
            self.ref_hash = digest
        elif digest != self.ref_hash:
            raise OutputMismatch("dedup output differs from the first iteration's")
        n = len(self.clones)
        r_minhash = len(self.clones & dropped) / n
        r_ngram = sum((c - self.CLONE_OFFSET, c) in self.pairs for c in self.clones) / n
        if min(r_minhash, r_ngram) < self.RECALL_MIN:
            raise OutputMismatch(
                f"clone recall minhash {r_minhash:.3f} ngram {r_ngram:.3f} < {self.RECALL_MIN}"
            )

    def install_traced(self) -> None:
        # the candidate list only exists inside the dedup calls: count it
        # where it is built (an extra count job, inside traced iterations
        # only, so it shows in the tracing overhead)
        import titanlib_spark.textops.dedup as dedup

        inner, tracer = dedup.minhash_lsh_candidates, self.tracer

        def traced_candidates(*args, **kwargs):
            with tracer.span("textops.dedup.minhash_lsh_candidates") as sp:
                cands = inner(*args, **kwargs)
            if sp is not None and kwargs.get("materialize"):
                sp["rows"] = cands.count()
            return cands

        dedup.minhash_lsh_candidates = traced_candidates

    def counts(self, k: int) -> dict[str, float]:
        spans = self.tracer.spans
        ngram = [s for s in spans if s["name"] == "textops.dedup.ngram_jaccard_pairs_lsh"][-1]
        cands = sum(
            s.get("rows", 0) for s in spans
            if s["parent"] == ngram["id"] and s["name"] == "textops.dedup.minhash_lsh_candidates"
        )
        verified = len(self.pairs)
        return {
            "textops.dedup.candidate_pairs": float(cands),
            "textops.dedup.verified_pairs": float(verified),
            "textops.dedup.verify_yield": verified / cands if cands else 0.0,
        }

    def probes(self) -> dict[str, float]:
        from titanlib_spark.textops.dedup import minhash_signatures

        return {
            "textops.dedup.minhash_signatures_s": self._probe(
                "textops.dedup.minhash_signatures_s",
                lambda: materialize(
                    minhash_signatures(
                        self.docs, "text", id_col="doc_id", hash_fn="md5",
                        signatures_only=True,
                    )
                ),
            )
        }


WORKLOADS = {w.name: w for w in (WebtextBulk, StationQC)}
