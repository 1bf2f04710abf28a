"""Per-layer metrics for ``--trace 1`` runs.

Every span here is taken in the benchmark's own files, around a call into
one layer's public functions; no program code is instrumented. The crawl
layers are measured on the workload's world and final crawl state, the
query layer per query, and the ``spark.*`` counts come from the Spark
event log of the traced unit (the profiled crawl or the traced query
pass), selected by job submission time.

Each traced run reports every per-layer metric: a crawl workload also
times one pass of the query set over seeded tables, and the query
workload also traces a small crawl, so the same names exist in every run.
"""

from __future__ import annotations

import glob
import os
import time

from perfbench import reduce as R
from perfbench import run as B

FETCH_SAMPLE = 128  # pages validated by the fetch probe
IMAGING_SAMPLE = 48  # images the pure-Python kernels are timed on
# small crawl traced by the query workload
CROSS_CRAWL = dict(
    n_urls=200, hosts=8, fanout=8, n_seeds=16, budget_scale=1, epochs=2,
    validate=False,
)
PHASES = ("admit", "fetch_validate", "resolve", "frontier_build", "writes")


def per_layer_units() -> dict[str, str]:
    u = {f"frontier.{p}_s": "s" for p in PHASES}
    u.update({
        "frontier.outside_epochs_s": "s",
        "frontier.epochs": "count",
        "frontier.closure_ratio": "ratio",
        "frontier.dedup_ratio": "ratio",
        "frontier.resume_s": "s",
        "politeness.admit_s": "s",
        "politeness.robots_s": "s",
        "politeness.admit_ratio": "ratio",
        "politeness.disallowed_ratio": "ratio",
        "fetch.validate_s": "s",
        "fetch.decode_ms": "ms",
        "fetch.valid_ratio": "ratio",
        "imaging.decode_jpeg_us": "us",
        "imaging.decode_png_us": "us",
        "imaging.phash_us": "us",
        "imaging.psnr_us": "us",
        "imaging.features64_us": "us",
        "imaging.ref_pixels_us": "us",
        "extract.hrefs_s": "s",
        "extract.hrefs_per_page": "count",
        "urls.frontier_rows_s": "s",
        "bloom.prefilter_s": "s",
        "bloom.fold_s": "s",
        "bloom.build_s": "s",
        "bloom.bytes": "bytes",
        "bloom.maybe_seen_ratio": "ratio",
        "bloom.false_positive_ratio": "ratio",
        "cuckoo.prefilter_s": "s",
        "cuckoo.build_s": "s",
        "cuckoo.delete_s": "s",
        "cuckoo.false_positive_ratio": "ratio",
    })
    u.update({f"queries.{q}_s": "s" for q in B.QUERIES})
    u.update({"queries.build_s": "s", "queries.exec_s": "s"})
    u.update({
        "spark.jobs": "count",
        "spark.tasks": "count",
        "spark.shuffle_write_bytes": "bytes",
        "spark.spill_bytes": "bytes",
        "spark.gc_s": "s",
        "spark.executor_cpu_s": "s",
        "trace.overhead_s": "s",
    })
    return u


def _timed(fn):
    t0 = time.perf_counter()
    out = fn()
    return time.perf_counter() - t0, out


def _materialized(df):
    df = df.persist()
    df.count()
    return df


def _now_ms() -> float:
    return time.time() * 1000.0


# ---------------------------------------------------------------------------
# Crawl layers
# ---------------------------------------------------------------------------
def trace_crawl(spark, w: dict, world: str, state: str, untraced_wall: float | None):
    """Profiled crawl (``frontier.*``), then probes of politeness, fetch,
    imaging, extract, urls, bloom and cuckoo on its world and state."""
    out: dict = {}
    t_from = _now_ms()
    wall, markers = B.timed_crawl(spark, w, world, state, profile=True)
    out["_window_ms"] = (t_from, _now_ms())
    for p in PHASES:
        out[f"frontier.{p}_s"] = sum(m["phases"][p] for m in markers)
    in_epochs = sum(m["duration_s"] for m in markers)
    out["frontier.outside_epochs_s"] = wall - in_epochs
    out["frontier.epochs"] = len(markers)
    out["frontier.closure_ratio"] = (
        sum(out[f"frontier.{p}_s"] for p in PHASES) + wall - in_epochs
    ) / wall
    if untraced_wall is not None:
        out["trace.overhead_s"] = wall - untraced_wall
    out.update(_frontier_dedup(spark, state, markers))
    out.update(_probe_layers(spark, w, world, state, markers))
    return out


def _frontier_dedup(spark, state: str, markers) -> dict:
    """Lineage ``rows_deduped`` ÷ next-frontier rows before the seen
    filter (= rows_deduped + the marker's ``frontier_next``)."""
    from pyspark.sql import functions as F

    lin = spark.read.parquet(os.path.join(state, "lineage"))
    deduped = {
        r["epoch"]: r["d"]
        for r in lin.groupBy("epoch").agg(F.first("rows_deduped").alias("d")).collect()
    }
    d = sum(deduped[m["epoch"]] for m in markers)
    before = d + sum(m["frontier_next"] for m in markers)
    return {"frontier.dedup_ratio": d / before if before else 0.0}


def _probe_layers(spark, w: dict, world: str, state: str, markers) -> dict:
    from pyspark.sql import functions as F

    from whakoom_webscrapper_spark.operators import bloom as BL
    from whakoom_webscrapper_spark.operators import cuckoo as CK
    from whakoom_webscrapper_spark.operators import extract, politeness
    from whakoom_webscrapper_spark.plans import frontier as FP

    out: dict = {}
    cfg = B.crawl_config(w, world, state)
    last = markers[-1]["epoch"]
    robots = _materialized(spark.read.parquet(os.path.join(world, "robots")))
    pages = _materialized(spark.read.parquet(os.path.join(state, "pages"))
                          .select("url", "page_id", "image_id"))
    n_pages = pages.count()

    # politeness: admission over the saved next frontier
    eligible = _materialized(
        spark.read.parquet(os.path.join(state, "frontier", f"epoch={last + 1}"))
        .filter(F.col("eligible_epoch") <= last + 1))
    n_eligible = eligible.count()
    dt, n_admitted = _timed(lambda: politeness.admit_per_host(
        eligible, robots, cfg.n_salts, cfg.default_budget)[0].count())
    out["politeness.admit_s"] = dt
    out["politeness.admit_ratio"] = n_admitted / n_eligible if n_eligible else 0.0

    # extract: out-link discovery from the fetched pages' html
    html = _materialized(
        pages.join(spark.read.parquet(os.path.join(world, "linkgraph"))
                   .select("url", "html"), "url"))
    hrefs = html.select(F.explode(extract.extracted_hrefs(F.col("html"))).alias("url")).persist()
    dt, n_hrefs = _timed(hrefs.count)
    out["extract.hrefs_s"] = dt
    out["extract.hrefs_per_page"] = n_hrefs / n_pages

    # urls: frontier rows of the discovered URLs; politeness: robots split
    discovered = _materialized(hrefs.dropDuplicates(["url"]))
    rows = FP.make_frontier_rows(discovered, cfg, last + 1, last + 1).persist()
    out["urls.frontier_rows_s"], _ = _timed(rows.count)

    def robots_split():
        allowed, disallowed = politeness.apply_robots(rows, robots)
        return allowed.count(), disallowed.count()

    dt, (n_allowed, n_disallowed) = _timed(robots_split)
    out["politeness.robots_s"] = dt
    out["politeness.disallowed_ratio"] = n_disallowed / max(n_allowed + n_disallowed, 1)

    # seen filters over the crawl's seen set; candidates = discovered rows
    seen = _materialized(FP.read_seen(spark, cfg).select("url_hash", "epoch"))
    keys = seen.select("url_hash")
    last_keys = _materialized(seen.filter(F.col("epoch") == last).select("url_hash"))
    sizing = (cfg.bloom_capacity, cfg.bloom_fpr, cfg.bloom_shards)

    bloom_t = BL.ShardedBloom.sized_for(*sizing)
    out["bloom.build_s"], bloom = _timed(lambda: BL.build_bloom(keys, "url_hash", bloom_t))
    out["bloom.fold_s"], _ = _timed(
        lambda: BL.add_keys_distributed(bloom, last_keys, "url_hash"))
    out["bloom.bytes"] = sum(len(s.to_bytes()) for s in bloom.shards)
    n_new, n_maybe, _ = _probe_prefilter(spark, "bloom", BL.prefilter_maybe_seen,
                                          bloom, rows, keys, out)
    out["bloom.maybe_seen_ratio"] = n_maybe / max(n_new + n_maybe, 1)

    cuckoo_t = CK.ShardedCuckoo.sized_for(*sizing)
    out["cuckoo.build_s"], cuckoo = _timed(
        lambda: CK.build_cuckoo(keys, "url_hash", cuckoo_t))
    _probe_prefilter(spark, "cuckoo", CK.prefilter_maybe_seen, cuckoo, rows, keys, out)
    out["cuckoo.delete_s"], _ = _timed(
        lambda: CK.delete_keys_distributed(cuckoo, last_keys, "url_hash"))

    out.update(_probe_fetch(spark, world, pages))
    for df in (robots, pages, eligible, html, hrefs, discovered, rows, seen, last_keys):
        df.unpersist()
    return out


def _probe_prefilter(spark, name: str, prefilter, filt, rows, keys, out: dict):
    """Time the prefilter split of ``rows``; its false-positive ratio is
    maybe-seen rows that survive the exact anti-join ÷ maybe-seen rows."""
    def split():
        new, maybe = prefilter(rows, "url_hash", filt, spark)
        return new.count(), maybe.count(), maybe

    out[f"{name}.prefilter_s"], (n_new, n_maybe, maybe) = _timed(split)
    survivors = maybe.join(keys, "url_hash", "left_anti").count()
    out[f"{name}.false_positive_ratio"] = survivors / n_maybe if n_maybe else 0.0
    return n_new, n_maybe, survivors


def _probe_fetch(spark, world: str, pages) -> dict:
    """``validate_images`` on a fixed page sample, then the pure-Python
    kernels it runs per row, on the same bytes."""
    from whakoom_webscrapper_spark import datagen, imaging
    from whakoom_webscrapper_spark.operators import fetch

    images = spark.read.parquet(os.path.join(world, "images")).select(
        "image_id", "bytes", "fmt", "phash", "caption")
    sample = _materialized(
        pages.select("page_id", "image_id").orderBy("page_id").limit(FETCH_SAMPLE)
        .join(images, "image_id"))
    cols = ["decode_ms", "phash_match", "pixel_ok", "caption_match"]
    dt, rows = _timed(lambda: fetch.validate_images(sample).select(*cols).collect())
    out = {
        "fetch.validate_s": dt,
        "fetch.decode_ms": sum(r["decode_ms"] for r in rows) / len(rows),
        "fetch.valid_ratio": sum(
            bool(r["phash_match"] and r["pixel_ok"] and r["caption_match"]) for r in rows
        ) / len(rows),
    }
    local = sample.orderBy("page_id").limit(IMAGING_SAMPLE).select(
        "page_id", "bytes", "fmt").collect()
    sample.unpersist()
    spans: dict[str, list[float]] = {k: [] for k in (
        "decode_jpeg", "decode_png", "phash", "psnr", "features64", "ref_pixels")}
    for r in local:
        dt, px = _timed(lambda: imaging.decode_image(bytes(r["bytes"]), r["fmt"]))
        spans["decode_jpeg" if r["fmt"] == "jpeg" else "decode_png"].append(dt)
        spans["phash"].append(_timed(lambda: imaging.phash64(px))[0])
        dt, ref = _timed(lambda: datagen.pixels_of(int(r["page_id"])))
        spans["ref_pixels"].append(dt)
        spans["psnr"].append(_timed(lambda: imaging.psnr(px, ref))[0])
        spans["features64"].append(
            _timed(lambda: imaging.features64(px, fetch.FEATURE_MIX_ITERS))[0])
    for k, v in spans.items():
        out[f"imaging.{k}_us"] = 1e6 * sum(v) / len(v) if v else 0.0
    return out


def trace_crawl_cross(spark, work: str, seed: int) -> dict:
    """The crawl layers for a run whose workload does not crawl: a small
    frontier-style crawl, traced the same way."""
    world = os.path.join(work, "xworld")
    state = os.path.join(work, "xstate")
    B.build_world(spark, world, CROSS_CRAWL, seed)
    out = trace_crawl(spark, CROSS_CRAWL, world, state, None)
    out.pop("_window_ms")
    out["frontier.resume_s"], _ = B.timed_resume(spark, CROSS_CRAWL, world, state)
    return out


# ---------------------------------------------------------------------------
# Query layer
# ---------------------------------------------------------------------------
def trace_queries(spark, tdir: str, order: list[str], untraced_total: float | None):
    """One pass: time inside the registry call (plan building, eager
    checkpoints and collects) apart from the consuming action."""
    import bench

    from whakoom_webscrapper_spark import queries as Q

    out: dict = {}
    build = execute = 0.0
    t_from = _now_ms()
    for name in order:
        t0 = time.perf_counter()
        df = Q.SPARK_QUERIES[name](spark, tdir)
        t1 = time.perf_counter()
        bench.exhaust(df)
        t2 = time.perf_counter()
        build += t1 - t0
        execute += t2 - t1
        out[f"queries.{name}_s"] = t2 - t0
    out["_window_ms"] = (t_from, _now_ms())
    out["queries.build_s"] = build
    out["queries.exec_s"] = execute
    if untraced_total is not None:
        out["trace.overhead_s"] = build + execute - untraced_total
    return out


def trace_queries_cross(spark, work: str, seed: int) -> dict:
    """The query layer for a run whose workload is a crawl."""
    from perfbench import tables

    tdir = os.path.join(work, "xtables")
    tables.write(tdir, seed)
    out = trace_queries(spark, tdir, B.query_order(seed, 0), None)
    out.pop("_window_ms")
    return out


def spark_metrics(eventlog_dir: str, window_ms) -> dict:
    lines = []
    for path in sorted(glob.glob(os.path.join(eventlog_dir, "*"))):
        with open(path) as f:
            lines.extend(f)
    reduced = R.reduce_event_log(lines, *window_ms)
    return {f"spark.{k}": v for k, v in reduced.items()}
